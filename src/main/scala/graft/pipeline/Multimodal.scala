package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus feature extraction staged for batch execution.
  *
  * EVERY DECODE HERE IS REAL, with zero extra dependencies:
  * [[decodeImageMeta]] parses actual PNG/JPEG/GIF/BMP headers with the
  * JDK's `javax.imageio`; [[decodeAudioMeta]] walks real RIFF/WAVE
  * chunks; [[imageLumaGrid]]/[[imageEmbedding]] decode the FULL raster
  * and compute a pHash-shaped luminance-grid embedding. Each runs as a
  * mapPartitions batch stage ([[withImageMeta]], [[withAudioMeta]],
  * [[withImageEmbedding]]) — the Scala analog of a `mapInPandas` decode
  * UDF.
  */
object Multimodal {

  /** Canonical blob schema: content + typed metadata. */
  val blobSchema: StructType = StructType(Seq(
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true))),
      nullable = false)))

  /** Wrap a source column into a blob struct. `format` is the CLAIMED
    * container format (from the source system); width/height start null —
    * unknown until [[withImageMeta]] decodes the actual bytes.
    */
  def asBlob(content: Column, format: String): Column = {
    val bytes = content.cast(BinaryType)
    struct(
      bytes.as("content"),
      struct(
        lit(format).as("format"),
        length(bytes).cast(LongType).as("n_bytes"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height")).as("meta"))
  }

  // ------------------------------------------- shared decode fast path

  /** Thread-cached ImageIO readers keyed by sniffed container format.
    * The registry path (`ImageIO.read` / `getImageReaders`) scans the
    * provider registry AND instantiates a fresh reader — with its
    * decode buffers — per call; on the video fingerprint hot path
    * (millions of tiny MJPEG frames per corpus pass) that constant
    * cost plus its allocation churn measured ~1.6-2× of the whole
    * decode under 32 concurrent tasks. Readers are NOT thread-safe, so
    * the cache is per thread (executor task threads are pooled and
    * reused, so each reader amortizes over every image the thread ever
    * decodes). A reader that throws is disposed and evicted — decoder
    * state after a failed decode is not trustworthy for reuse.
    */
  private val readerCache = ThreadLocal.withInitial(
    () => new java.util.HashMap[String, javax.imageio.ImageReader]())

  /** Container sniff by magic bytes for the four formats this module
    * documents (png/jpeg/gif/bmp) — exactly the containers the JDK
    * registry would route these bytes to, so the cached-reader path
    * decodes byte-identically to the registry path. Anything else
    * (including too-short buffers) returns null and takes the registry
    * fallback.
    */
  private def sniffFormat(bytes: Array[Byte], off: Int, len: Int): String = {
    if (len >= 2 && (bytes(off) & 0xff) == 0xff &&
      (bytes(off + 1) & 0xff) == 0xd8) "jpeg"
    else if (len >= 8 && (bytes(off) & 0xff) == 0x89 &&
      bytes(off + 1) == 'P' && bytes(off + 2) == 'N' &&
      bytes(off + 3) == 'G') "png"
    else if (len >= 2 && bytes(off) == 'B' && bytes(off + 1) == 'M') "bmp"
    else if (len >= 6 && bytes(off) == 'G' && bytes(off + 1) == 'I' &&
      bytes(off + 2) == 'F' && bytes(off + 3) == '8') "gif"
    else null
  }

  /** The cached reader for a sniffed format (instantiated once per
    * thread per format via the same SPI the registry path uses). None
    * when no reader is installed — the caller falls back to the
    * registry path.
    */
  private def cachedReader(fmt: String)
      : Option[javax.imageio.ImageReader] = {
    val cache = readerCache.get()
    val hit = cache.get(fmt)
    if (hit != null) Some(hit)
    else {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
      if (!it.hasNext) None
      else { val r = it.next(); cache.put(fmt, r); Some(r) }
    }
  }

  private def evictReader(fmt: String,
      r: javax.imageio.ImageReader): Unit = {
    readerCache.get().remove(fmt)
    try r.dispose() catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Full-raster decode of `bytes[off, off+len)` through the cached
    * reader when the container sniffs as png/jpeg/gif/bmp, the plain
    * registry path otherwise — the shared front end of
    * [[imageLumaGrid]] and [[imageLumaSum]]. Returns null for bytes no
    * reader can decode; decode EXCEPTIONS propagate (callers' quarantine
    * catch turns them into None, exactly as the registry path did).
    */
  private def readImage(bytes: Array[Byte], off: Int,
      len: Int): java.awt.image.BufferedImage = {
    val fmt = sniffFormat(bytes, off, len)
    val fallback = () => javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes, off, len)))
    if (fmt == null) fallback()
    else cachedReader(fmt) match {
      case None => fallback()
      case Some(r) =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes, off, len))
        try r.setInput(iis, true, true)
        catch { case e: Throwable => iis.close(); evictReader(fmt, r); throw e }
        try r.read(0)
        catch { case e: Throwable => evictReader(fmt, r); throw e }
        finally iis.close()
    }
  }

  /** REAL image header decode via the JDK's ImageIO: sniffs the container
    * (png/jpeg/gif/bmp), reads width/height from the header WITHOUT
    * decoding the raster — the right cost profile for a metadata pass
    * over 100 TB of blobs. Returns None for bytes no installed reader
    * recognizes (corrupt, truncated, or non-image). The four documented
    * containers take the cached-reader fast path (same SPI, same
    * header parse — identical results); anything else pays the registry
    * scan it always did.
    */
  def decodeImageMeta(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    if (bytes == null || bytes.isEmpty) return None
    val sniffed = sniffFormat(bytes, 0, bytes.length)
    val cached = if (sniffed == null) None else cachedReader(sniffed)
    cached match {
      case Some(r) =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          r.setInput(iis, true, true)
          // Locale.ROOT: under a Turkish default locale "GIF" lowercases
          // to a dotless-i "gıf", breaking format equality checks
          Some((r.getFormatName.toLowerCase(java.util.Locale.ROOT),
            r.getWidth(0), r.getHeight(0)))
        } catch {
          case scala.util.control.NonFatal(_) =>
            evictReader(sniffed, r); None
        } finally iis.close()
      case None =>
        // explicit memory-cache stream: ImageIO.createImageInputStream
        // defaults to a DISK-backed cache file per image — a silent
        // temp-file write per blob, ruinous at scale for bytes already
        // in memory
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              r.setInput(iis, true, true)
              Some((r.getFormatName.toLowerCase(java.util.Locale.ROOT),
                r.getWidth(0), r.getHeight(0)))
            } catch {
              // ImageIO readers throw unchecked exceptions on crafted
              // headers (IllegalArgument, IndexOutOfBounds) — the
              // contract is "quarantine downstream, never fail the
              // batch", so any non-fatal decode failure is a None
              case scala.util.control.NonFatal(_) => None
            } finally r.dispose()
          }
        } finally iis.close()
    }
  }

  /** Decode stage: fills each blob's meta (format, width, height) from
    * the REAL bytes via [[decodeImageMeta]], one mapPartitions pass
    * (batch-UDF shape). Undecodable blobs keep their claimed format and
    * null dimensions — route them to a quarantine sink downstream rather
    * than failing the batch.
    */
  def withImageMeta(df: DataFrame, blobCol: String): DataFrame = {
    val blobIdx = df.schema.fieldIndex(blobCol)
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val blob = r.getStruct(blobIdx)
        val out =
          if (blob == null) blob
          else {
            val content = if (blob.isNullAt(0)) null
              else blob.getAs[Array[Byte]](0)
            val meta = blob.getStruct(1)
            decodeImageMeta(content) match {
              case Some((fmt, w, h)) =>
                Row(content, Row(fmt, meta.getLong(1), w, h))
              case None => blob
            }
          }
        Row.fromSeq(r.toSeq.updated(blobIdx, out))
      }
    }(enc)
  }

  // ------------------------------------------------------------- audio

  /** Audio blob schema: content + typed audio metadata (the audio analog
    * of [[blobSchema]]).
    */
  val audioBlobSchema: StructType = StructType(Seq(
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("bits_per_sample", IntegerType, nullable = true),
      StructField("n_frames", LongType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))),
      nullable = false)))

  /** Wrap a source column into an audio blob struct (metadata unknown
    * until [[withAudioMeta]] parses the actual bytes).
    */
  def asAudioBlob(content: Column, format: String): Column = {
    val bytes = content.cast(BinaryType)
    struct(
      bytes.as("content"),
      struct(
        lit(format).as("format"),
        length(bytes).cast(LongType).as("n_bytes"),
        lit(null).cast(IntegerType).as("sample_rate"),
        lit(null).cast(IntegerType).as("channels"),
        lit(null).cast(IntegerType).as("bits_per_sample"),
        lit(null).cast(LongType).as("n_frames"),
        lit(null).cast(LongType).as("duration_ms")).as("meta"))
  }

  /** REAL audio header decode: a zero-dependency RIFF/WAVE parse (chunk
    * walk → `fmt ` + `data`) recovering sample rate, channels, bit
    * depth, frame count and duration WITHOUT touching the sample data —
    * the audio analog of [[decodeImageMeta]]'s header-only cost profile.
    * Returns None for anything that is not a well-formed PCM WAV
    * (corrupt, truncated, non-RIFF) — quarantine downstream, never fail
    * the batch.
    */
  def decodeAudioMeta(bytes: Array[Byte])
      : Option[(String, Int, Int, Int, Long, Long)] =
    try {
      var rate = 0; var channels = 0; var bits = 0; var blockAlign = 0
      var dataSize = -1L
      val wav = walkRiff(bytes) { (id, off, size) =>
        if (id == "fmt " && size >= 16) {
          channels = le16(bytes, off + 10)
          rate = le32(bytes, off + 12).toInt
          blockAlign = le16(bytes, off + 20)
          bits = le16(bytes, off + 22)
        } else if (id == "data") dataSize = size
        rate == 0 || dataSize < 0
      }
      if (!wav || rate <= 0 || blockAlign <= 0 || dataSize < 0) None
      else {
        val frames = dataSize / blockAlign
        Some(("wav", rate, channels, bits, frames,
          frames * 1000L / rate))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    le16(b, o).toLong | (le16(b, o + 2).toLong << 16)
  private def tag4(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** The RIFF/WAVE chunk walk shared by [[decodeAudioMeta]] and
    * [[audioFingerprint64]]: false unless `bytes` is a RIFF/WAVE of at
    * least a canonical header's 44 bytes; otherwise calls
    * `visit(id, off, size)` per chunk (`off` = the chunk header) while
    * `visit` returns true.
    */
  private def walkRiff(bytes: Array[Byte])(
      visit: (String, Int, Long) => Boolean): Boolean = {
    if (bytes == null || bytes.length < 44 || tag4(bytes, 0) != "RIFF" ||
        tag4(bytes, 8) != "WAVE") return false
    var off = 12
    var walking = true
    while (walking && off + 8 <= bytes.length) {
      val size = le32(bytes, off + 4)
      walking = visit(tag4(bytes, off), off, size)
      // advance in LONG space: `size` is u32, so an Int advance can be
      // zero or negative (size 0xFFFFFFF8 → `8 + size.toInt` = 0 = no
      // progress) and the walk would spin forever on crafted bytes —
      // the contract is "quarantine, never fail (or hang) the batch".
      // A chunk whose body runs past the buffer is the last chunk by
      // construction (truncated or lying header): stop walking; the
      // fields parsed so far still decide Some/None.
      val adv = 8L + size + (size & 1L) // chunks are 2-aligned
      if (off + adv > bytes.length) walking = false
      else off += adv.toInt
    }
    true
  }

  /** Decode stage for audio blobs: fills meta from the REAL bytes via
    * [[decodeAudioMeta]] in one mapPartitions pass. Undecodable blobs
    * keep their claimed format and null fields.
    */
  def withAudioMeta(df: DataFrame, blobCol: String): DataFrame = {
    val blobIdx = df.schema.fieldIndex(blobCol)
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val blob = r.getStruct(blobIdx)
        val out =
          if (blob == null) blob
          else {
            val content = if (blob.isNullAt(0)) null
              else blob.getAs[Array[Byte]](0)
            val meta = blob.getStruct(1)
            decodeAudioMeta(content) match {
              case Some((fmt, rate, ch, bits, frames, ms)) =>
                Row(content, Row(fmt, meta.getLong(1), rate, ch, bits,
                  frames, ms))
              case None => blob
            }
          }
        Row.fromSeq(r.toSeq.updated(blobIdx, out))
      }
    }(enc)
  }

  /** Deterministic in-memory WAV fixture: a real PCM RIFF/WAVE byte
    * stream (seeded sample data) — how specs and the driver query plant
    * decodable audio without fixture files; the decode proves itself by
    * recovering the planted rate/channels/frames.
    */
  def encodeWav(sampleRate: Int, channels: Int, bitsPerSample: Int,
      nFrames: Int, seed: Long): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val dataSize = nFrames * blockAlign
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort)
      .putShort(bitsPerSample.toShort)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < dataSize) {
      out.put(scala.util.hashing.byteswap64(seed * 131 + i).toByte)
      i += 1
    }
    out.array()
  }

  /** Deterministic constant-window WAV fixture: 16-bit mono PCM where
    * every sample of time-window `w` (of 64) holds `amps(w)` — planted
    * so [[audioFingerprint64]]'s window energies are EXACTLY
    * `framesPerWindow * amps(w)` and an arithmetic oracle replays every
    * bit. The audio analog of [[encodeCellImage]].
    */
  def encodeWindowWav(framesPerWindow: Int, amps: Array[Int],
      sampleRate: Int = 8000): Array[Byte] = {
    require(amps.length == 64, "one amplitude per window")
    val n = framesPerWindow * 64
    val dataSize = n * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < n) {
      out.putShort(amps(i / framesPerWindow).toShort)
      i += 1
    }
    out.array()
  }

  /** Deterministic in-memory image fixture: a real `w`×`h` PNG/JPEG/BMP
    * encoded with the JDK (pixels seeded from `seed`). This is how specs
    * and the driver query plant decodable bytes without fixture files —
    * the decode path then proves itself by recovering the planted
    * dimensions.
    */
  def encodeImage(w: Int, h: Int, seed: Long, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (scala.util.hashing.byteswap64(seed * 31 + y * w + x)
            & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    writeImageBytes(img, format)
  }

  /** Encode a BufferedImage to bytes through a MEMORY-cached output
    * stream: the plain-OutputStream `ImageIO.write` overload otherwise
    * buffers through a FileCacheImageOutputStream — one temp file per
    * encoded image (same tmpdir coupling as the decode side).
    */
  private def writeImageBytes(img: java.awt.image.BufferedImage,
      format: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try javax.imageio.ImageIO.write(img, format, ios)
    finally ios.close() // flushes the cache into baos
    baos.toByteArray
  }

  /** REAL perceptual image embedding, zero extra dependencies: full
    * ImageIO raster decode → per-cell integer-luma average over a
    * `gridW`×`gridH` grid. This is the pHash family's front half
    * (luminance downsample): near-identical images (re-encodes, small
    * edits) land near each other in cosine space, so the output plugs
    * straight into [[Dedup.embeddingPairs]] / [[Similarity]] top-k.
    *
    * Luma is integer BT.601 — `(299·R + 587·G + 114·B) / 1000` — whose
    * weights sum to exactly 1000, so a gray pixel (R=G=B=L) lumas to
    * EXACTLY `L` and a constant-luma cell averages to EXACTLY its
    * planted value: the property the `multimodal_embedding` oracle query
    * checks arithmetically. Cell pixel ranges are the integer split
    * `[c·w/grid, (c+1)·w/grid)` widened to at least one pixel, so images
    * smaller than the grid replicate pixels rather than divide by zero.
    * Returns None for undecodable bytes (quarantine contract, like the
    * metadata decodes).
    */
  def imageLumaGrid(bytes: Array[Byte], gridW: Int, gridH: Int)
      : Option[Array[Int]] = {
    require(gridW > 0 && gridH > 0, "grid dims must be positive")
    if (bytes == null || bytes.isEmpty) return None
    try {
      // memory-cached stream + thread-cached reader ([[readImage]]):
      // the plain-InputStream ImageIO.read overload wraps its input in
      // a FileCacheImageInputStream by default — a temp file CREATED
      // AND DELETED PER IMAGE on the decode hot path, which couples
      // decode throughput to tmpdir writeback pressure (measured 3×
      // swings on a loaded disk); executors decoding millions of blobs
      // must stay off the filesystem entirely
      val img = readImage(bytes, 0, bytes.length)
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      // one bulk getRGB per cell: identical ARGB conversion to a
      // per-pixel loop, without W*H ColorModel calls on the decode hot
      // path; the buffer is allocated once and reused across cells so
      // the bulk read adds no per-image garbage beyond one cell
      var buf: Array[Int] = null
      Some(Array.tabulate(gridH * gridW) { c =>
        val cx = c % gridW; val cy = c / gridW
        val x0 = cx * w / gridW
        val x1 = math.min(w, math.max(x0 + 1, (cx + 1) * w / gridW))
        val y0 = cy * h / gridH
        val y1 = math.min(h, math.max(y0 + 1, (cy + 1) * h / gridH))
        val cw = x1 - x0
        val n = cw * (y1 - y0)
        if (buf == null || buf.length < n) buf = new Array[Int](n)
        img.getRGB(x0, y0, cw, y1 - y0, buf, 0, cw)
        var sum = 0L
        var i = 0
        while (i < n) {
          val rgb = buf(i)
          sum += (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
            + 114 * (rgb & 0xff)) / 1000
          i += 1
        }
        ((sum + n / 2) / n).toInt // rounded mean; exact on constant cells
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[imageLumaGrid]] normalized to `[0, 1]` floats — the embedding
    * vector consumed by the dedup/ANN operators.
    */
  def imageEmbedding(bytes: Array[Byte], gridW: Int, gridH: Int)
      : Option[Array[Float]] =
    imageLumaGrid(bytes, gridW, gridH).map(_.map(l => l / 255.0f))

  /** Embedding extraction over blob rows via mapPartitions — the
    * batch-UDF shape: one iterator pass per partition, output schema =
    * input + `embedding array<float>` (null when the bytes don't decode
    * — quarantine downstream, never fail the batch).
    */
  def withImageEmbedding(df: DataFrame, blobCol: String,
      gridW: Int, gridH: Int): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("embedding", ArrayType(FloatType, containsNull = false)))
    val blobIdx = df.schema.fieldIndex(blobCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val blob = r.getStruct(blobIdx)
        val content = if (blob == null || blob.isNullAt(0)) null
          else blob.getAs[Array[Byte]](0)
        val emb = imageEmbedding(content, gridW, gridH)
          .map(_.toSeq).orNull
        Row.fromSeq(r.toSeq :+ emb)
      }
    }(enc)
  }

  /** 64-bit perceptual IMAGE fingerprint: the 8×8 luminance grid with
    * bit `c` set iff cell `c`'s luma exceeds the image's mean luma —
    * the aHash shape of the published perceptual-hash family. The
    * threshold rule is INTEGER (`luma * 64 > total`): no float mean, so
    * an arithmetic oracle can replay every bit exactly. Because the
    * grid averages over the full raster, the fingerprint is invariant
    * to lossless re-encoding, container changes, and resizing (cell
    * boundaries land on the same image fractions), and it moves only a
    * few bits under small local edits — which is what lets the SimHash
    * block machinery ([[graft.pipeline.Dedup.fingerprintCandidatePairs]])
    * band it for near-dup candidate generation at corpus scale.
    */
  def imageFingerprint64(bytes: Array[Byte]): Option[Long] =
    imageLumaGrid(bytes, 8, 8).map { lumas =>
      var total = 0L
      var i = 0
      while (i < 64) { total += lumas(i); i += 1 }
      var fp = 0L
      i = 0
      while (i < 64) {
        if (lumas(i).toLong * 64 > total) fp |= (1L << i)
        i += 1
      }
      fp
    }

  // --------------------------------------------- wide (256-bit) images

  /** 256-bit WIDE perceptual IMAGE fingerprint: the 16×16 luminance
    * grid with bit `c` set iff cell `c`'s luma exceeds the image's mean
    * (`luma * 256 > total` — the same integer rule as
    * [[imageFingerprint64]], so an arithmetic oracle replays every
    * bit), packed little-endian into 4 longs (bit `c` → word `c/64`,
    * position `c%64`). This is the SCALE tier of the image family: at
    * 16×16-bit bands the per-band bucket space is 2^16, so banding
    * stays selective past the ~10⁶-image point where the 64-bit
    * family's 2^8 buckets saturate and candidates grow ~n²/2048
    * (measured 41.7× wall on 10× data at sf1). Same invariances
    * (re-encode, resize, container) — the grid still averages over
    * full-raster fractions.
    */
  def imageFingerprintWide(bytes: Array[Byte]): Option[Array[Long]] =
    imageLumaGrid(bytes, 16, 16).map { lumas =>
      var total = 0L
      var i = 0
      while (i < 256) { total += lumas(i); i += 1 }
      val fp = new Array[Long](4)
      i = 0
      while (i < 256) {
        if (lumas(i).toLong * 256 > total) fp(i / 64) |= (1L << (i % 64))
        i += 1
      }
      fp
    }

  /** 64-bit perceptual AUDIO fingerprint: the time-domain analog of
    * [[imageFingerprint64]] — 64 equal time windows over the decoded
    * 16-bit PCM stream, bit `w` set iff window `w`'s mean absolute
    * amplitude exceeds the clip's mean (energy envelope aHash). The
    * rule is pure integer cross-multiplication
    * (`energy_w * nFrames > total * frames_w`, BigInt compare — exact
    * at any clip length), so an arithmetic oracle replays every bit.
    * Invariances, all EXACT under the integer rule: volume scaling
    * that scales samples exactly (both sides of the comparison scale
    * together), container rewrites, and uniform resampling that
    * preserves window time-fractions; local edits move only their
    * windows' bits — which lets the SimHash block machinery band it.
    * Returns None for non-PCM/non-16-bit/shorter-than-64-frame clips
    * (too short to carry an envelope).
    */
  def audioFingerprint64(bytes: Array[Byte]): Option[Long] =
    try {
      var fmt = 0; var channels = 0; var bits = 0; var blockAlign = 0
      var dataOff = -1; var dataSize = -1L
      val wav = walkRiff(bytes) { (id, off, size) =>
        if (id == "fmt " && size >= 16) {
          fmt = le16(bytes, off + 8)
          channels = le16(bytes, off + 10)
          blockAlign = le16(bytes, off + 20)
          bits = le16(bytes, off + 22)
        } else if (id == "data") { dataOff = off + 8; dataSize = size }
        fmt == 0 || dataOff < 0
      }
      if (!wav || fmt != 1 || bits != 16 || channels <= 0 ||
        blockAlign <= 0 || dataOff < 0) return None
      val usable = math.min(dataSize, (bytes.length - dataOff).toLong)
      val n = (usable / blockAlign).toInt
      if (n < 64) return None
      // a frame's energy is its summed absolute 16-bit samples
      Some(envelopeBitsPacked(n, 64) { i =>
        val base = dataOff + i * blockAlign
        var e = 0L
        var c = 0
        while (c < channels) {
          e += math.abs(le16(bytes, base + 2 * c).toShort.toInt)
          c += 1
        }
        e
      }(0))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic constant-cell image fixture: a `gridW`×`gridH` grid
    * of `cellPx`×`cellPx` gray cells, cell `c` at luma `lumas(c)` —
    * planted so [[imageLumaGrid]] at the same grid recovers EXACTLY
    * `lumas` (lossless containers: png/bmp). The oracle-side analog of
    * [[encodeImage]] for the embedding query.
    */
  def encodeCellImage(gridW: Int, gridH: Int, cellPx: Int,
      lumas: Array[Int], format: String): Array[Byte] = {
    require(lumas.length == gridW * gridH, "one luma per cell")
    val img = new java.awt.image.BufferedImage(gridW * cellPx,
      gridH * cellPx, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < gridH * cellPx) {
      var x = 0
      while (x < gridW * cellPx) {
        val l = lumas((y / cellPx) * gridW + x / cellPx) & 0xff
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    writeImageBytes(img, format)
  }

  /** Repartition blobs so each task processes roughly `bytesPerTask` of
    * content — the knob that keeps decode batches memory-bounded at scale.
    *
    * The total is read from Catalyst plan statistics (for a parquet scan:
    * file footer/size metadata) — DRIVER-SIDE ONLY, no job runs. Blob
    * content dominates row size in a media table, so the whole-row
    * estimate is the right magnitude. Pass `exact = true` to pay one
    * aggregate scan of `meta.n_bytes` when the table mixes blobs with
    * wide non-blob columns and the estimate would oversize tasks.
    */
  def repartitionByBytes(df: DataFrame, blobCol: String,
      bytesPerTask: Long, exact: Boolean = false): DataFrame = {
    val total: Long =
      if (exact)
        df.select(sum(col(blobCol).getField("meta")
          .getField("n_bytes"))).head().getLong(0)
      else df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong
    val parts = math.max(1L, math.min(200000L, total / bytesPerTask)).toInt
    df.repartition(parts)
  }

  /** Deterministic frame-sample positions for a "video" blob: `n` offsets
    * evenly spaced in the content (the Spark-side plumbing of a
    * frame-sampling stage over an opaque blob; prefer
    * [[frameSampleIndices]] once [[withVideoMeta]] has recovered the real
    * frame count).
    */
  def framePositions(blob: Column, n: Int): Column =
    transform(sequence(lit(0), lit(n - 1)),
      i => (blob.getField("meta").getField("n_bytes") * i / n)
        .cast(LongType))

  // ------------------------------------------------------------- video

  /** Video blob schema: content + typed video metadata (the video analog
    * of [[audioBlobSchema]]).
    */
  val videoBlobSchema: StructType = StructType(Seq(
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("timescale", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("n_frames", LongType, nullable = true))),
      nullable = false)))

  /** Wrap a source column into a video blob struct (metadata unknown
    * until [[withVideoMeta]] parses the actual bytes).
    */
  def asVideoBlob(content: Column, format: String): Column = {
    val bytes = content.cast(BinaryType)
    struct(
      bytes.as("content"),
      struct(
        lit(format).as("format"),
        length(bytes).cast(LongType).as("n_bytes"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(IntegerType).as("timescale"),
        lit(null).cast(LongType).as("duration_ms"),
        lit(null).cast(LongType).as("n_frames")).as("meta"))
  }

  /** REAL video header decode: a zero-dependency ISO-BMFF (MP4/MOV) box
    * walk recovering the major brand, movie timescale + duration
    * (`moov/mvhd`), the first video track's pixel dimensions
    * (`trak/tkhd`, 16.16 fixed point) and its sample count
    * (`trak/mdia/minf/stbl/stsz`) WITHOUT touching sample data — the
    * video analog of [[decodeAudioMeta]]'s header-only cost profile.
    * Box sizes are u32 (or u64 `largesize`) handled in Long space with a
    * strict-progress guard, same as the WAV chunk walk: crafted sizes
    * stop the walk, they never spin it. Returns None for anything that
    * is not a parsable BMFF container with an `mvhd` (quarantine
    * downstream, never fail the batch).
    */
  def decodeVideoMeta(bytes: Array[Byte])
      : Option[(String, Int, Int, Int, Long, Long)] = {
    if (bytes == null || bytes.length < 16) return None
    var brand: String = null
    var timescale = 0L; var duration = -1L
    var w = 0; var h = 0; var frames = -1L
    // per-trak state: dims and sample count bind only if the SAME trak
    // supplied both (the first trak with nonzero pixel dims wins)
    var trakW = 0; var trakH = 0; var trakFrames = -1L
    try {
      def visit(depth: Int)(id: String, body: Long, end: Long): Boolean = {
        id match {
          case "ftyp" if end - body >= 4 => brand = tag4(bytes, body.toInt)
          case "mvhd" if end - body >= 4 =>
            val v = bytes(body.toInt) & 0xff
            if (v == 1 && end - body >= 32) {
              timescale = be32(bytes, body + 20)
              duration = be64(bytes, body + 24)
            } else if (v == 0 && end - body >= 20) {
              timescale = be32(bytes, body + 12)
              duration = be32(bytes, body + 16)
            }
          case "tkhd" if end - body >= 4 =>
            val v = bytes(body.toInt) & 0xff
            // width/height: 16.16 fixed point at the end of the box
            // (after fullbox + times/ids + layer block + matrix)
            val wOff = if (v == 1) body + 88 else body + 76
            if (wOff + 8 <= end) {
              trakW = (be32(bytes, wOff) >> 16).toInt
              trakH = (be32(bytes, wOff + 4) >> 16).toInt
            }
          case "stsz" if end - body >= 12 =>
            trakFrames = be32(bytes, body + 8)
          case "trak" =>
            trakW = 0; trakH = 0; trakFrames = -1L
            walkBoxes(bytes, body, end, depth + 1)(visit(depth + 1))
            if (w == 0 && trakW > 0 && trakH > 0) {
              w = trakW; h = trakH; frames = trakFrames
            }
          case "moov" | "mdia" | "minf" | "stbl" =>
            walkBoxes(bytes, body, end, depth + 1)(visit(depth + 1))
          case _ => () // skip unknown/leaf boxes (mdat, free, hdlr, …)
        }
        true
      }
      walkBoxes(bytes, 0L, bytes.length.toLong, 0)(visit(0))
      // numeric sanity is part of the quarantine contract: a u32
      // timescale above Int.MaxValue would wrap negative on the .toInt,
      // and a near-2^64 duration would overflow the *1000 — both are
      // corrupt/crafted headers and must yield None, not well-typed
      // garbage metadata
      if (brand == null || timescale <= 0 || timescale > Int.MaxValue ||
          duration < 0 || duration > Long.MaxValue / 1000L) None
      else Some((brand.trim, w, h, timescale.toInt,
        duration * 1000L / timescale, frames))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def be16(b: Array[Byte], o: Long): Int =
    ((b(o.toInt) & 0xff) << 8) | (b(o.toInt + 1) & 0xff)
  private def be32(b: Array[Byte], o: Long): Long =
    (be16(b, o).toLong << 16) | be16(b, o + 2)
  private def be64(b: Array[Byte], o: Long): Long =
    (be32(b, o) << 32) | be32(b, o + 4)

  /** The strict-progress ISO-BMFF box walk shared by
    * [[decodeVideoMeta]], [[findMdat]] and [[readStszSizes]]: calls
    * `visit(id, body, end)` per box of `[start, limit)` (`body` = the
    * payload offset, `end` = the box end) while `visit` returns true;
    * `visit` recurses into a container by walking `[body, end)` at
    * `depth + 1`, and levels past depth 6 are not walked. Box sizes
    * are u32 (or u64 `largesize`) in Long space, size 0 runs to
    * `limit`; a box whose header does not fit its own size, or that
    * runs past `limit`, stops the level — crafted sizes stop the walk,
    * they never spin it.
    */
  private def walkBoxes(bytes: Array[Byte], start: Long, limit: Long,
      depth: Int)(visit: (String, Long, Long) => Boolean): Unit = {
    if (depth > 6) return
    var off = start
    var walking = true
    while (walking && off + 8 <= limit) {
      var size = be32(bytes, off)
      var hdr = 8L
      if (size == 1L) { // 64-bit largesize
        if (off + 16 > limit) return
        size = be64(bytes, off + 8); hdr = 16L
      } else if (size == 0L) size = limit - off // box runs to limit
      if (size < hdr || size > limit - off) return
      walking = visit(tag4(bytes, (off + 4).toInt), off + hdr, off + size)
      off += size
    }
  }

  /** Decode stage for video blobs: fills meta from the REAL bytes via
    * [[decodeVideoMeta]] in one mapPartitions pass. Undecodable blobs
    * keep their claimed format and null fields.
    */
  def withVideoMeta(df: DataFrame, blobCol: String): DataFrame = {
    val blobIdx = df.schema.fieldIndex(blobCol)
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val blob = r.getStruct(blobIdx)
        val out =
          if (blob == null) blob
          else {
            val content = if (blob.isNullAt(0)) null
              else blob.getAs[Array[Byte]](0)
            val meta = blob.getStruct(1)
            decodeVideoMeta(content) match {
              case Some((fmt, w, h, ts, ms, frames)) =>
                Row(content, Row(fmt, meta.getLong(1),
                  if (w > 0) w else null, if (h > 0) h else null,
                  ts, ms, if (frames >= 0) frames else null))
              case None => blob
            }
          }
        Row.fromSeq(r.toSeq.updated(blobIdx, out))
      }
    }(enc)
  }

  /** Deterministic frame-sample indices from DECODED metadata: `n` frame
    * numbers evenly spaced in `[0, n_frames)` — the real frame-sampling
    * plan stage ([[framePositions]]' byte-offset heuristic replaced by
    * the actual sample count [[withVideoMeta]] recovered). Null
    * `n_frames` (undecodable blob) yields null — quarantine downstream.
    */
  def frameSampleIndices(blob: Column, n: Int): Column = {
    val frames = blob.getField("meta").getField("n_frames")
    when(frames.isNotNull,
      transform(sequence(lit(0), lit(n - 1)),
        i => (frames * i / n).cast(LongType)))
  }

  /** Deterministic in-memory MP4 fixture: a real ISO-BMFF byte stream —
    * ftyp + a `free` box (walk must skip it) + moov{mvhd,
    * trak{tkhd, mdia{mdhd, minf{stbl{stsz}}}}} + a tiny mdat — with the
    * planted timescale/duration/dims/frame-count [[decodeVideoMeta]]
    * must recover exactly. The video analog of [[encodeWav]].
    */
  def encodeMp4(timescale: Int, durationTicks: Long, width: Int,
      height: Int, nFrames: Int, brand: String = "isom",
      mdatPayload: Array[Byte] = Array.emptyByteArray,
      sampleSizes: Array[Int] = Array.empty): Array[Byte] = {
    require(brand.length == 4, "brand is a 4cc")
    require(sampleSizes.isEmpty || sampleSizes.length == nFrames,
      "sampleSizes must be empty or one entry per frame")
    // a real per-sample size table (stsz sample_size=0 + table) makes
    // the mdat sliceable into frames — the MJPEG-in-MP4 layout the
    // decoded-fingerprint path reads
    val ex = 4 * sampleSizes.length
    val mdatLen = if (mdatPayload.isEmpty) 16 else 8 + mdatPayload.length
    val out = java.nio.ByteBuffer
      .allocate(16 + 8 + 292 + ex + mdatLen) // BE default
    def box(size: Int, id: String): Unit =
      { out.putInt(size); out.put(id.getBytes("US-ASCII")); () }
    def full(size: Int, id: String, version: Int): Unit =
      { box(size, id); out.putInt(version << 24); () }
    box(16, "ftyp"); out.put(brand.getBytes("US-ASCII")).putInt(0)
    box(8, "free")
    box(292 + ex, "moov")
    full(108, "mvhd", 0)
    out.putInt(0).putInt(0) // ctime, mtime
      .putInt(timescale).putInt(durationTicks.toInt)
      .putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate, vol
      .putLong(0) // reserved
    Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
      .foreach(out.putInt) // identity matrix
    (1 to 6).foreach(_ => out.putInt(0)) // pre_defined
    out.putInt(2) // next_track_ID
    box(176 + ex, "trak")
    full(92, "tkhd", 0)
    out.putInt(0).putInt(0).putInt(1).putInt(0) // times, track_ID, rsvd
      .putInt(durationTicks.toInt).putLong(0) // duration, reserved
      .putShort(0).putShort(0).putShort(0).putShort(0) // layer..rsvd
    Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
      .foreach(out.putInt)
    out.putInt(width << 16).putInt(height << 16) // 16.16 fixed point
    box(76 + ex, "mdia")
    full(32, "mdhd", 0)
    out.putInt(0).putInt(0).putInt(timescale).putInt(durationTicks.toInt)
      .putShort(0x55c4.toShort).putShort(0) // 'und' language, pre_defined
    box(36 + ex, "minf")
    box(28 + ex, "stbl")
    full(20 + ex, "stsz", 0)
    out.putInt(0).putInt(nFrames) // sample_size=0 (varied), sample_count
    sampleSizes.foreach(out.putInt) // per-sample sizes (MJPEG slicing)
    if (mdatPayload.isEmpty) { box(16, "mdat"); out.putLong(0L) }
    else { box(8 + mdatPayload.length, "mdat"); out.put(mdatPayload) }
    out.array()
  }

  // ------------------------------------------- video near-duplicates

  /** Top-level `mdat` payload location `(offset, length)` — the
    * [[walkBoxes]] box walk, top level only (sample data never nests).
    */
  private def findMdat(bytes: Array[Byte]): Option[(Int, Int)] = {
    var found: Option[(Int, Int)] = None
    try {
      walkBoxes(bytes, 0L, bytes.length.toLong, 0) { (id, body, end) =>
        if (id == "mdat") found = Some((body.toInt, (end - body).toInt))
        found.isEmpty
      }
      found
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The `stsz` per-sample size table of the first trak that carries
    * one — the frame slicing a REAL MJPEG-in-MP4 decode needs. Uniform
    * `sample_size != 0` expands to a constant table; a header-only
    * `stsz` (count but no table, `sample_size == 0`) yields None — the
    * mdat is then NOT sliceable and the fingerprint falls back to
    * segment byte-sums. The [[walkBoxes]] box walk.
    */
  def readStszSizes(bytes: Array[Byte]): Option[Array[Int]] = {
    if (bytes == null || bytes.length < 16) return None
    var found: Option[Array[Int]] = None
    try {
      def visit(depth: Int)(id: String, body: Long, end: Long): Boolean = {
        id match {
          case "stsz" if end - body >= 12 =>
            val sampleSize = be32(bytes, body + 4)
            val count = be32(bytes, body + 8)
            if (count > 0 && count <= Int.MaxValue) {
              if (sampleSize > 0 && sampleSize <= Int.MaxValue &&
                  count <= (1L << 24))
                found = Some(Array.fill(count.toInt)(sampleSize.toInt))
              else if (sampleSize == 0 && end - body >= 12 + 4 * count)
                found = Some(Array.tabulate(count.toInt)(i =>
                  be32(bytes, body + 12 + 4L * i).toInt))
            }
          case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
            walkBoxes(bytes, body, end, depth + 1)(visit(depth + 1))
          case _ => ()
        }
        found.isEmpty
      }
      walkBoxes(bytes, 0L, bytes.length.toLong, 0)(visit(0))
      found.filter(_.forall(_ >= 0))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Total integer luma over every pixel of a decodable image — the
    * per-frame energy of the decoded video fingerprint. A single-band
    * (grayscale) decode reads the RASTER directly: its sample IS the
    * JPEG Y channel, so a uniform-gray w×h frame sums to EXACTLY
    * `g·w·h` (the property the video oracle replays arithmetically) and
    * energy stays LINEAR in the planted gray — `getRGB` would bend it
    * through the nonlinear gray→sRGB colorspace map, breaking the
    * envelope's halved-amplitude invariance. Color decodes take the
    * BT.601 integer rule over `getRGB` ([[imageLumaGrid]]'s).
    */
  def imageLumaSum(bytes: Array[Byte]): Option[Long] =
    imageLumaSum(bytes, 0, if (bytes == null) 0 else bytes.length)

  /** [[imageLumaSum]] over the byte range `[off, off+len)` — the
    * video-frame hot path decodes `stsz`-sliced frames in place instead
    * of copying each frame out of the `mdat` first.
    */
  private[pipeline] def imageLumaSum(bytes: Array[Byte], off: Int,
      len: Int): Option[Long] = {
    if (bytes == null || len <= 0) return None
    try {
      val img = readImage(bytes, off, len)
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      val buf = new Array[Int](w)
      var sum = 0L
      var y = 0
      val raster = img.getRaster
      val gray = raster.getNumBands == 1
      while (y < h) {
        if (gray) {
          raster.getSamples(0, y, w, 1, 0, buf)
          var x = 0
          while (x < w) { sum += buf(x) & 0xff; x += 1 }
        } else {
          img.getRGB(0, y, w, 1, buf, 0, w)
          var x = 0
          while (x < w) {
            val rgb = buf(x)
            sum += (299 * ((rgb >> 16) & 0xff) +
              587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
            x += 1
          }
        }
        y += 1
      }
      Some(sum)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Uniform-gray JPEG frame at an explicit quality — the MJPEG test
    * pattern (a uniform block is DC-only, so ImageIO decodes it back to
    * EXACTLY `g` at any quality — probed across all 256 grays). Cached
    * per (g, quality, dims): fixtures concatenate cached byte arrays
    * instead of re-encoding per frame.
    */
  private val grayFrameCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Float, Int, Int),
      Array[Byte]]()
  def grayFrameJpeg(g: Int, quality: Float = 1.0f, w: Int = 8,
      h: Int = 8): Array[Byte] = {
    require(g >= 0 && g <= 255, s"gray $g out of [0,255]")
    grayFrameCache.computeIfAbsent((g, quality, w, h), { _ =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { r.setSample(x, y, 0, g); x += 1 }
        y += 1
      }
      val wr = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpeg").next()
      val baos = new java.io.ByteArrayOutputStream()
      val ios =
        new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
      try {
        wr.setOutput(ios)
        val p = wr.getDefaultWriteParam
        p.setCompressionMode(
          javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(quality)
        wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
      } finally { ios.close(); wr.dispose() }
      baos.toByteArray
    })
  }

  /** Per-frame DECODED luma energies when the container is sliceable
    * and every frame is a decodable image: the `stsz` table must cover
    * the frame count and tile the `mdat` exactly. Any failure → None
    * (the byte-sum fallback takes over), never a partial mix of real
    * and fallback energies.
    */
  private def decodedFrameEnergies(bytes: Array[Byte], nFrames: Int,
      mOff: Int, mLen: Int): Option[Array[Long]] =
    readStszSizes(bytes)
      .filter(s => s.length == nFrames && s.map(_.toLong).sum == mLen)
      .flatMap { sizes =>
        val out = new Array[Long](nFrames)
        var off = mOff
        var f = 0
        var ok = true
        while (ok && f < nFrames) {
          // in-place frame decode (no per-frame copyOfRange; the stsz
          // filter above already proved the slices tile the mdat)
          imageLumaSum(bytes, off, sizes(f)) match {
            case Some(e) => out(f) = e
            case None => ok = false
          }
          off += sizes(f)
          f += 1
        }
        if (ok) Some(out) else None
      }

  /** 64-bit video fingerprint — [[audioFingerprint64]]'s relative
    * energy-envelope rule over FRAME energies. The container plumbing
    * is real (`mdat` via the BMFF box walk, frame count from `stsz`),
    * and the per-frame FEATURE is now REAL where the container permits:
    * when `stsz` carries a per-sample size table that tiles the `mdat`
    * and every sample decodes as an image (MJPEG-in-MP4 — the one
    * codec the JDK can decode), frame energy is the DECODED integer
    * luma sum, so a re-encode (same frames, different bytes — e.g. a
    * different JPEG quality) fingerprints identically. For opaque
    * codecs the documented fallback remains the segment byte-sum over
    * `[f·len/n, (f+1)·len/n)` — remux/exact-copy detection only.
    * 64 cells over the frame sequence; bit `c` set where the cell's
    * energy exceeds its frame-count share of the total, so the
    * fingerprint is invariant to remuxing that doubles frames and
    * halves amplitude. Needs >= 64 frames and a payload of >= 1
    * byte/frame; anything undecodable yields None (quarantine
    * downstream, never fail the batch).
    */
  def videoFingerprint64(bytes: Array[Byte]): Option[Long] =
    videoFrameEnergies(bytes).filter(_.length >= 64)
      .map(e => envelopeBitsPacked(e.length, 64)(e(_))(0))

  /** Per-frame energies of a decodable clip (DECODED luma sums where
    * the container slices, segment byte-sums otherwise) — the shared
    * front half of the 64-bit and WIDE video fingerprints.
    */
  private def videoFrameEnergies(bytes: Array[Byte])
      : Option[Array[Long]] = {
    if (bytes == null) return None
    val nFrames = decodeVideoMeta(bytes) match {
      case Some((_, _, _, _, _, n)) if n >= 1 && n <= Int.MaxValue =>
        n.toInt
      case _ => return None
    }
    findMdat(bytes).flatMap { case (mOff, mLen) =>
      if (mLen < nFrames) None
      else Some(decodedFrameEnergies(bytes, nFrames, mOff, mLen)
        .getOrElse {
          val e = new Array[Long](nFrames)
          var f = 0
          while (f < nFrames) {
            val s = mOff + (f.toLong * mLen / nFrames).toInt
            val en = mOff + ((f + 1).toLong * mLen / nFrames).toInt
            var i = s
            var acc = 0L
            while (i < en) { acc += (bytes(i) & 0xff); i += 1 }
            e(f) = acc
            f += 1
          }
          e
        })
    }
  }

  /** Fold the energies of `n` frames into `cells` relative-energy bits
    * (cell `c` covers frames `[c·n/cells, (c+1)·n/cells)`; bit `c` is
    * set where the cell's energy exceeds its frame-count share of the
    * total — exact BigInt cross-multiplication), packed little-endian
    * into longs. The shared back half of the audio and both video
    * fingerprints. `frameEnergy` is read once per frame, so a caller
    * can compute energies on the fly instead of allocating them.
    */
  private def envelopeBitsPacked(n: Int, cells: Int)(
      frameEnergy: Int => Long): Array[Long] = {
    def start(c: Int): Int = (c.toLong * n / cells).toInt
    val cellE = new Array[Long](cells)
    var total = 0L
    var c = 0
    while (c < cells) {
      var i = start(c)
      val e = start(c + 1)
      while (i < e) { cellE(c) += frameEnergy(i); i += 1 }
      total += cellE(c)
      c += 1
    }
    val fp = new Array[Long]((cells + 63) / 64)
    c = 0
    while (c < cells) {
      if (BigInt(cellE(c)) * n > BigInt(total) * (start(c + 1) - start(c)))
        fp(c / 64) |= (1L << (c % 64))
      c += 1
    }
    fp
  }

  /** 256-bit WIDE video fingerprint — [[videoFingerprint64]]'s
    * relative-envelope rule at 256 cells over the frame sequence, the
    * video member of the wide perceptual tier ([[imageFingerprintWide]]
    * holds the scale rationale: 16-bit bands keep the candidate join
    * selective past the 64-bit family's saturation point). Needs >= 256
    * frames (a cell must hold at least one frame); same remux/re-encode
    * invariances — the cells still cover fixed frame-sequence
    * fractions.
    */
  def videoFingerprintWide(bytes: Array[Byte]): Option[Array[Long]] =
    videoFrameEnergies(bytes).filter(_.length >= 256)
      .map(e => envelopeBitsPacked(e.length, 256)(e(_)))

  // ------------------------------------------ fingerprint near-duplicates

  /** A perceptual fingerprint the near-dup path bands: its `name`
    * (recorded in a persisted index's params), its width in 64-bit
    * `words` (1, stored as `sh bigint`, or 4, stored as
    * `sh array<bigint>`) and its byte `kernel` (None = undecodable, the
    * row drops — quarantine is ingest's job). The five kernels of this
    * module are the values of the companion.
    */
  final case class Fingerprint(name: String, words: Int,
      kernel: Array[Byte] => Option[Array[Long]]) {
    require(words == 1 || words == 4, "words must be 1 or 4")
    /** The default banding point of the width: 8 bands + 1-bit probing
      * at 64 bits, 16 bands without probing at 256 — both guarantee
      * every pair within Hamming 15.
      */
    private[Multimodal] def defaultBlocks: Int = if (words == 1) 8 else 16
    private[Multimodal] def defaultProbeBits: Int = if (words == 1) 1 else 0
  }

  object Fingerprint {
    val image64 = Fingerprint("image64", 1,
      b => imageFingerprint64(b).map(Array(_)))
    val imageWide = Fingerprint("imageWide", 4, imageFingerprintWide)
    val audio64 = Fingerprint("audio64", 1,
      b => audioFingerprint64(b).map(Array(_)))
    val video64 = Fingerprint("video64", 1,
      b => videoFingerprint64(b).map(Array(_)))
    val videoWide = Fingerprint("videoWide", 4, videoFingerprintWide)
  }

  /** `(id, sh)` fingerprint frame over blob rows — the banding input
    * shape (`sh bigint` at width 1, `array<bigint>` at width 4). Rows
    * whose bytes don't decode are DROPPED here (an undecodable blob can
    * match nothing; quarantine is the ingest stage's job).
    */
  def fingerprints(df: DataFrame, idCol: String, blobCol: String,
      fp: Fingerprint): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val blobIdx = df.schema.fieldIndex(blobCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val kernel = fp.kernel
    def fps(r: Row): Option[Array[Long]] = {
      val blob = r.getStruct(blobIdx)
      kernel(if (blob == null || blob.isNullAt(0)) null
        else blob.getAs[Array[Byte]](0))
    }
    if (fp.words == 1)
      df.mapPartitions(_.flatMap(r =>
        fps(r).map(w => (r.getLong(idIdx), w(0))))).toDF("id", "sh")
    else
      df.mapPartitions(_.flatMap(r =>
        fps(r).map(w => (r.getLong(idIdx), w.toSeq)))).toDF("id", "sh")
  }

  /** The one place a width picks its DedupCore core: the all-pairs
    * block join over `(id, sh)`, or (`incremental`) the batch-sized
    * probe over `(id, sh, new)`.
    */
  private def bandedPairs(words: Int, incremental: Boolean,
      sh: DataFrame, blocks: Int, maxHamming: Int, maxBucketSize: Int,
      probeBits: Int, scope: CacheScope): DataFrame = {
    val sc = CacheScope.resolve(scope, sh.sparkSession)
    (words, incremental) match {
      case (1, false) => Dedup.fingerprintCandidatePairs(sh, blocks,
        maxHamming, maxBucketSize, probeBits, sc)
      case (1, true) => Dedup.fingerprintIncrementalCandidates(sh,
        blocks, maxHamming, maxBucketSize, probeBits, sc)
      case (_, false) => Dedup.fingerprintCandidatePairsWide(sh, words,
        blocks, maxHamming, maxBucketSize, probeBits, sc)
      case (_, true) => Dedup.fingerprintIncrementalCandidatesWide(sh,
        words, blocks, maxHamming, maxBucketSize, probeBits, sc)
    }
  }

  /** The radius guard of every near-dup entry point: a `maxHamming`
    * past the banding point's pigeonhole radius would return silently
    * incomplete pairs.
    */
  private def requireRadius(maxHamming: Int, blocks: Int,
      probeBits: Int, stored: Boolean): Unit =
    require(maxHamming <= Dedup.guaranteedRadius(blocks, probeBits),
      s"maxHamming $maxHamming exceeds the guaranteed radius " +
        s"${Dedup.guaranteedRadius(blocks, probeBits)} " +
        s"of blocks=$blocks/probeBits=$probeBits" +
        (if (stored) " (the index's stored point) — rebuild with more " +
          "probing or lower the threshold"
         else " — pairs past it would be silently incomplete; raise " +
          "blocks/probeBits or lower the threshold"))

  /** Re-encode / resize / remux-robust near-duplicate pairs:
    * [[fingerprints]] banded through the SimHash block join —
    * `(id_a, id_b, hamming)` for every pair within `maxHamming`. The
    * banding point defaults to the width's (blocks=8/probeBits=1 at 64
    * bits, 16/0 at 256 — both carry the pigeonhole guarantee to
    * Hamming 15, so `maxHamming` ≤ 15 keeps the output complete by
    * derivation); a `maxHamming` past the point's radius is refused.
    * The bucket cap defaults OFF (unconditional recall — media corpora
    * concentrate on flat fingerprints like all-zero bits; pass a cap
    * explicitly when that skew dominates a corpus).
    */
  def dedupPairs(blobs: DataFrame, idCol: String, blobCol: String,
      fp: Fingerprint, maxHamming: Int = 8, blocks: Option[Int] = None,
      probeBits: Option[Int] = None, maxBucketSize: Int = Int.MaxValue,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val b = blocks.getOrElse(fp.defaultBlocks)
    val p = probeBits.getOrElse(fp.defaultProbeBits)
    requireRadius(maxHamming, b, p, stored = false)
    bandedPairs(fp.words, incremental = false,
      fingerprints(blobs, idCol, blobCol, fp), b, maxHamming,
      maxBucketSize, p, scope)
  }

  /** Persist a fingerprint index: the corpus's fingerprints (8 or 32
    * bytes per blob) as parquet plus a params sidecar holding the
    * banding point (blocks/probeBits), the width (`words`) and the
    * fingerprint's `name` — the other dedup families' index discipline.
    * The DECODE runs once at build; every later batch probe scans
    * fingerprints only.
    */
  def writeIndex(blobs: DataFrame, idCol: String, blobCol: String,
      fp: Fingerprint, path: String, blocks: Option[Int] = None,
      probeBits: Option[Int] = None): Unit = {
    val b = blocks.getOrElse(fp.defaultBlocks)
    val p = probeBits.getOrElse(fp.defaultProbeBits)
    Dedup.requireWide(fp.words, b, p)
    fingerprints(blobs, idCol, blobCol, fp)
      .write.mode("overwrite").parquet(s"$path/fingerprints")
    SidecarIO.writeParams(blobs.sparkSession, s"$path/params",
      "words" -> fp.words, "blocks" -> b, "probeBits" -> p,
      "fingerprint" -> fp.name)
  }

  /** Fixed per-index state of a fingerprint probe: the fingerprint, the
    * stored banding point and the tombstone-reduced corpus fingerprint
    * frame. A serving stream loads this ONCE, at its first batch
    * ([[graft.streaming.StreamOps.probeStream]]), instead of paying the
    * params read + index frame setup per micro-batch; fold/rebuild the
    * index → reload.
    */
  final case class LoadedFpIndex(fp: Fingerprint, blocks: Int,
    probeBits: Int, corpus: DataFrame)

  /** Load a [[writeIndex]] index for probing with `fp`, in one Spark job
    * (the params row; the fingerprint schema comes from a parquet
    * footer). An index of another width or of another fingerprint is
    * refused: its pairs would be a late analysis error or meaningless.
    * Params without `words` (older indexes) are width 1; the name is
    * checked only where one was recorded.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      fp: Fingerprint): LoadedFpIndex = {
    val params = SidecarIO.readParams(spark, s"$path/params")
    val words = SidecarIO.param[Long](params, "words").fold(1)(_.toInt)
    val stored = SidecarIO.param[String](params, "fingerprint")
    require(words == fp.words && stored.forall(_ == fp.name),
      s"index at $path holds $words-word${stored.fold("")(" " + _)} " +
        s"fingerprints; the handle asks for ${fp.words}-word ${fp.name}")
    LoadedFpIndex(fp, params.getAs[Long]("blocks").toInt,
      params.getAs[Long]("probeBits").toInt,
      Dedup.dropTombstoned(spark, path,
        SidecarIO.readWithFallback(spark, s"$path/fingerprints"), "id"))
  }

  /** Incremental near-dup pairs of a NEW batch of blobs against a loaded
    * index — batch decodes + fingerprints, the corpus side is the
    * fingerprint scan, multi-probe expansion on the BATCH side only
    * (cost scales with |batch|). Emits `(id_a, id_b, hamming <=
    * maxHamming)`, batch id first for batch-vs-corpus, `a < b`
    * batch-internal; `maxHamming` past the stored point's guaranteed
    * radius is refused (silently incomplete pairs otherwise).
    */
  def dedupPairsFromLoaded(ix: LoadedFpIndex, batch: DataFrame,
      idCol: String, blobCol: String, maxHamming: Int = 8,
      maxBucketSize: Int = Int.MaxValue,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val batchFp = fingerprints(batch, idCol, blobCol, ix.fp)
    requireRadius(maxHamming, ix.blocks, ix.probeBits, stored = true)
    val sh = Dedup.spread(batchFp).withColumn("new", lit(true))
      .union(ix.corpus.withColumn("new", lit(false)))
    bandedPairs(ix.fp.words, incremental = true, sh, ix.blocks,
      maxHamming, maxBucketSize, ix.probeBits, scope)
  }

  /** Fixture mdat payload whose per-frame byte-sums are EXACTLY
    * `amps` — `amps(f)` written as ⌊amp/255⌋ 0xFF bytes plus the
    * remainder, zero-padded to a fixed `segLen` (so the fingerprint's
    * stubbed byte-sum feature recovers the planted envelope, the video
    * analog of [[encodeWindowWav]]'s planted window amplitudes).
    */
  def encodeFramePayload(amps: Array[Int], segLen: Int): Array[Byte] = {
    val out = new Array[Byte](amps.length * segLen)
    var f = 0
    while (f < amps.length) {
      val amp = amps(f)
      require(amp >= 0 && amp <= 255 * (segLen - 1),
        s"amp $amp unencodable in segLen $segLen")
      var rest = amp
      var i = f * segLen
      while (rest >= 255) { out(i) = 0xff.toByte; rest -= 255; i += 1 }
      out(i) = rest.toByte
      f += 1
    }
    out
  }
}
