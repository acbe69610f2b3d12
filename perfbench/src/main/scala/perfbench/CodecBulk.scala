package perfbench

import graft.functions.AvroBinary
import graft.ops.{Compiled, FlattenOps, Validate, XFlatten}
import graft.schema.{Avro, AvroSchema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** codec_bulk: Person rows (the reference benchmark's schema) through
  * the six codec operations, one schema pair reused for every row.
  *
  * Execution-bound: it loads the generated code of graft.ops and
  * graft.functions and leaves schema compile near zero. Each operation
  * has its own fixed row count so that each takes about a second on 4
  * cores; the cheapest (validate) takes at least one. Rows are
  * generated by Spark from `spark.range`, so a `scan` baseline over the
  * same input form measures generation plus the checksum, and each
  * operation's net time is its time minus that baseline.
  *
  * Every timed execution aggregates its output to an order-free
  * checksum over all output columns. After the loop, flatten, roundtrip
  * and decode checksums are compared with those of the expected output
  * built from plain Spark expressions, never from graft; validate must
  * flag exactly the planted rows; encode and xflatten must give one
  * checksum on every pass, and the encoder's payloads must decode with
  * Apache Avro's reader to the generated rows.
  */
final class CodecBulk(run: Run) extends Workload {
  import CodecBulk._
  private val spark = run.spark
  private val rnd = new scala.util.Random(run.seed)

  // seeded evolution: where the defaulted field goes, which long is
  // promoted to what, and the reader's order of the enum symbols
  private val addedName = Seq("Country", "Team", "Nickname")(rnd.nextInt(3))
  private val addedDefault = s"none-${rnd.nextInt(1000)}"
  private val addedAt = rnd.nextInt(PersonFields.size + 1)
  private val promoted = Seq("Age" +: StatFields: _*)(rnd.nextInt(8))
  private val promotedTo = Seq("float", "double")(rnd.nextInt(2))
  private val readerSymbols = rnd.shuffle(Seq("FEMALE", "MALE", "UNKNOWN_SEX"))

  private val writerJson = personJson(None, Seq("FEMALE", "MALE"), None)
  private val readerJson = personJson(Some(promoted -> promotedTo),
    readerSymbols, Some(addedAt))

  private var writer: AvroSchema = _
  private var reader: AvroSchema = _
  private var compiled: Compiled = _
  private var readerIdentity: Compiled = _
  private var payloads: DataFrame = _
  private val expected = scala.collection.mutable.Map.empty[String, Sums]
  /** Distinct checksums each operation produced over the run. */
  private val outputs = scala.collection.mutable.Map.empty[String,
    scala.collection.mutable.Set[Sums]]
  private var avroBytesPerRow = 0.0
  private val planNodes = scala.collection.mutable.ArrayBuffer.empty[Int]

  private def personJson(promote: Option[(String, String)], symbols: Seq[String],
      addAt: Option[Int]): String = {
    def t(name: String) = promote.collect { case (`name`, to) => to }
      .getOrElse("long")
    val stats = StatFields.map(f => s"""{"name":"$f","type":"${t(f)}"}""")
    val fields = Vector(
      """{"name":"FirstName","type":"string"}""",
      """{"name":"LastName","type":"string"}""",
      """{"name":"Occupation","type":"string"}""",
      """{"name":"Title","type":"string"}""",
      s"""{"name":"Age","type":"${t("Age")}"}""",
      s"""{"name":"Sex","type":{"type":"enum","name":"Sex","symbols":[${
        symbols.map(s => "\"" + s + "\"").mkString(",")}]}}""",
      s"""{"name":"Stats","type":{"type":"record","name":"Stats","fields":[${
        stats.mkString(",")}]}}""",
      """{"name":"Journal","type":{"type":"array","items":"string"}}""")
    val all = addAt.fold(fields)(i => fields.patch(i, Seq(
      s"""{"name":"$addedName","type":"string","default":"$addedDefault"}"""), 0))
    s"""{"name":"Person","type":"record","fields":[${all.mkString(",")}]}"""
  }

  /** Seeded Person rows; `planted` adds the validate-only invalid rows
    * and keeps `id`.
    */
  private def persons(n: Long, planted: Boolean): DataFrame = {
    def h(salt: Int): Column = xxhash64(col("id"), lit(run.seed), lit(salt))
    val sexOk = when(pmod(h(5), lit(2)) === 0, "FEMALE").otherwise("MALE")
    val cols = Seq(
      concat(lit("First"), pmod(h(1), lit(100000)).cast("string")).as("FirstName"),
      concat(lit("Last"), pmod(h(2), lit(100000)).cast("string")).as("LastName"),
      element_at(array(Occupations.map(lit): _*),
        (pmod(h(3), lit(Occupations.size)) + 1).cast("int")).as("Occupation"),
      element_at(array(Titles.map(lit): _*),
        (pmod(h(4), lit(Titles.size)) + 1).cast("int")).as("Title"),
      (pmod(h(6), lit(80L)) + 18L).as("Age"),
      sexOk.as("Sex"),
      struct(StatFields.zipWithIndex.map { case (f, i) =>
        pmod(h(10 + i), lit(100L)).as(f) }: _*).as("Stats"),
      slice(array(JournalLines.map(lit): _*), lit(1),
        pmod(h(7), lit(JournalLines.size + 1)).cast("int")).as("Journal"))
    val df = spark.range(n).select(col("id") +: cols: _*)
    if (!planted) df.drop("id")
    else {
      val p = pmod(h(99), lit(InvalidEvery))
      df.withColumn("Sex", when(p === 0, lit("NOT_A_SYMBOL")).otherwise(col("Sex")))
        .withColumn("LastName", when(p === 1, lit(null).cast("string"))
          .otherwise(col("LastName")))
        .withColumn("_planted", p < 2)
    }
  }

  /** Plain-Spark reader-shaped columns of a writer-shaped frame. */
  private def readerObjectCols(df: DataFrame, flat: Boolean): Seq[Column] = {
    def promote(name: String, c: Column) =
      if (name == promoted) c.cast(promotedTo) else c
    val stats = StatFields.map(f => promote(f, df("Stats")(f)))
    val sex =
      if (!flat) df("Sex")
      else readerSymbols.zipWithIndex.foldLeft(lit(null).cast("int")) {
        case (acc, (s, i)) => when(df("Sex") === s, lit(i)).otherwise(acc) }
    val base = Vector[Column](df("FirstName"), df("LastName"), df("Occupation"),
      df("Title"), promote("Age", df("Age")), sex) ++
      (if (flat) stats else Vector(struct(stats: _*))) :+ df("Journal")
    // the added field sits before the field at index `addedAt`
    val before = if (addedAt <= 6) addedAt else addedAt + (if (flat) 6 else 0)
    base.patch(before, Seq(lit(addedDefault)), 0)
  }

  /** (rows, xor of row hashes, sum of their low 32 bits): an
    * order-free multiset checksum that cannot overflow.
    */
  private def checksum(df: DataFrame, cols: Seq[Column]): DataFrame =
    hashAgg(df, xxhash64(cols: _*), lit(true))

  private def hashAgg(df: DataFrame, h: Column, keep: Column): DataFrame =
    df.agg(sum(when(keep, 1L).otherwise(0L)),
      bit_xor(when(keep, h).otherwise(0L)),
      sum(when(keep, h.bitwiseAND(lit(0xffffffffL))).otherwise(0L)))

  private def sums(r: org.apache.spark.sql.Row): Sums = {
    def long(i: Int) = if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue
    Sums(long(0), long(1), long(2))
  }

  def setup(): Unit = {
    writer = run.tracer.span("schema.parse")(Avro.create(writerJson))
    reader = run.tracer.span("schema.parse")(Avro.create(readerJson))
    compiled = FlattenOps.compile(writer, reader).fold(sys.error, identity)
    readerIdentity = FlattenOps.compile(reader).fold(sys.error, identity)
    if (payloads != null) payloads.unpersist(blocking = true)
    val src = persons(Rows("avro_decode"), planted = false)
    payloads = src.select(AvroBinary.toAvroBinary(
      struct(src.columns.map(col).toIndexedSeq: _*), writer).as("bin")).cache()
    avroBytesPerRow = payloads.agg(avg(length(col("bin")))).collect().head.getDouble(0)
    // warm every operation's code path on a small input
    ops(WarmRows).foreach { case (_, _, body) => body().collect() }
  }

  /** Checksums of the expected outputs, from plain Spark expressions. */
  private def expectedSums(): Unit =
    Seq("flatten", "roundtrip", "avro_decode").foreach { op =>
      val df = persons(Rows(op), planted = false)
      expected(op) = sums(checksum(df, readerObjectCols(df, flat = op == "flatten"))
        .collect().head)
    }

  /** (kind, rows, body returning the checksummed output frame). */
  private def ops(scale: Long): Seq[(String, Long, () => DataFrame)] = {
    def n(op: String) = math.min(scale, Rows(op))
    def obj(op: String) = persons(n(op), planted = false)
    def bin = if (scale >= Rows("avro_decode")) payloads
      else payloads.limit(scale.toInt)
    def traced(layer: String)(build: => DataFrame)(
        sum: DataFrame => DataFrame): () => DataFrame = () => {
      val out = sum(run.tracer.span(s"$layer.build")(build))
      run.tracer.span(s"$layer.plan")(out.queryExecution.executedPlan)
      out
    }
    Seq(
      ("scan_validate", n("validate"), () => {
        hashAgg(persons(n("validate"), planted = true), xxhash64(col("id")),
          col("_planted"))
      }),
      ("validate", n("validate"), traced("ops")(
        Validate(writer, persons(n("validate"), planted = true)))(
        v => hashAgg(v, xxhash64(col("id")), !col("_valid")))),
      ("scan", n("flatten"), () => {
        val df = obj("flatten"); checksum(df, df.columns.map(col).toIndexedSeq) }),
      ("flatten", n("flatten"), traced("ops")(
        compiled.flatten(obj("flatten")))(f => checksum(f, f.columns.map(col).toIndexedSeq))),
      ("roundtrip", n("roundtrip"), traced("ops")(
        readerIdentity.unflatten(compiled.flatten(obj("roundtrip"))))(
        f => checksum(f, f.columns.map(col).toIndexedSeq))),
      ("xflatten", n("xflatten"), traced("ops")(
        XFlatten(compiled, obj("xflatten")))(f => checksum(f, Seq(col("ops"))))),
      ("avro_encode", n("avro_encode"), traced("functions") {
        val df = obj("avro_encode")
        df.select(AvroBinary.toAvroBinary(
          struct(df.columns.map(col).toIndexedSeq: _*), writer).as("bin"))
      }(f => checksum(f, Seq(col("bin"))))),
      ("scan_bin", n("avro_decode"), () => checksum(bin, Seq(col("bin")))),
      ("avro_decode", n("avro_decode"), traced("functions")(
        bin.select(AvroBinary.fromAvroBinary(col("bin"), writer, reader).as("r"))
          .select("r.*"))(f => checksum(f, f.columns.map(col).toIndexedSeq))))
  }

  def measure(deadlineNs: Long): Unit = {
    var pass = 0
    var planted: Sums = null
    while (pass < MinPasses || System.nanoTime() < deadlineNs) {
      // the scan baselines and the planted-row count repeat exactly, so
      // they run on the first pass only
      ops(Long.MaxValue).filter(o => pass == 0 || layerOf(o._1) != "scan")
        .foreach { case (kind, rows, body) =>
        run.request(kind, pass.toString, traceable = layerOf(kind) != "scan") {
          val out = body()
          val r = run.tracer.span(s"${layerOf(kind)}.exec")(out.collect().head)
          if (layerOf(kind) != "scan") run.countPlanNodes(out, planNodes)
          sums(r)
        }.foreach { got =>
          kind match {
            case "scan_validate" =>
              planted = got
              run.check(got.rows > 0, "no planted invalid rows")
            case "validate" =>
              run.check(got == planted, s"validate flagged $got, planted $planted")
            case "xflatten" =>
              outputs.getOrElseUpdate(kind, scala.collection.mutable.Set.empty) += got
              run.check(got.rows == rows, s"xflatten counted ${got.rows} rows")
            case "flatten" | "roundtrip" | "avro_decode" | "avro_encode" =>
              outputs.getOrElseUpdate(kind, scala.collection.mutable.Set.empty) += got
              run.check(got.rows == rows, s"$kind counted ${got.rows} rows, not $rows")
            case _ =>
              run.check(got.rows == rows, s"$kind counted ${got.rows} rows, not $rows")
          }
        }
      }
      pass += 1
    }
  }

  override def finish(): Unit = {
    expectedSums()
    expected.foreach { case (op, want) =>
      run.check(outputs(op) == Set(want), s"$op checksums ${outputs(op)} != $want")
    }
    Seq("xflatten", "avro_encode").foreach { op =>
      run.check(outputs(op).size == 1, s"$op output changed between runs: ${outputs(op)}")
    }
    // the set-up payloads, which encode is checked against, decode with
    // Apache Avro's own reader to the generated rows
    val js = new org.apache.avro.Schema.Parser().parse(writerJson)
    val reader = new org.apache.avro.generic.GenericDatumReader[
      org.apache.avro.generic.GenericRecord](js)
    val src = persons(200, planted = false).collect()
    val bins = payloads.limit(200).collect().map(_.getAs[Array[Byte]](0))
    src.zip(bins).foreach { case (row, b) =>
      val rec = reader.read(null,
        org.apache.avro.io.DecoderFactory.get().binaryDecoder(b, null))
      val stats = rec.get("Stats").asInstanceOf[org.apache.avro.generic.GenericRecord]
      val got = Seq(rec.get("FirstName").toString, rec.get("Age").toString,
        rec.get("Sex").toString, stats.get("Luck").toString,
        rec.get("Journal").asInstanceOf[java.util.List[_]].size.toString)
      val want = Seq(row.getString(0), row.getLong(4).toString, row.getString(5),
        row.getStruct(6).getLong(6).toString, row.getSeq[String](7).size.toString)
      run.check(got == want,
        s"avro payload decodes to $got, generated $want")
    }
    payloads.unpersist(blocking = true)
  }

  private def layerOf(kind: String): String = kind match {
    case "avro_encode" | "avro_decode" => "functions"
    case k if k.startsWith("scan") => "scan"
    case _ => "ops"
  }

  private def median(kind: String) = Stats.median(run.times(kind))
  private def rate(op: String) = Rows(op) / median(op)
  /** Operation time minus the scan baseline scaled to its rows. */
  private def net(op: String): Double = op match {
    case "validate" => median(op) - median("scan_validate")
    case "avro_decode" => median(op) - median("scan_bin")
    case _ => median(op) - median("scan") * Rows(op) / Rows("flatten")
  }

  def endToEnd: (Double, Double) = {
    val passMs = run.times("validate").indices.map(i =>
      Ops.map(op => run.times(op)(i)).sum * 1000)
    (Stats.geomean(Ops.map(rate)), Stats.median(passMs))
  }

  def figures: Seq[(String, Double, String, Int)] =
    Ops.map(op => (s"${op}_mrows_s", rate(op) / 1e6, "Mrows/s", run.times(op).size)) ++
      Seq(("xflatten_over_flatten_per_row",
        (median("xflatten") / Rows("xflatten")) / (median("flatten") / Rows("flatten")),
        "ratio", run.times("xflatten").size))

  def perLayer: Map[String, Double] =
    run.exprLayers(planNodes.toSeq) ++
      Map("functions.avro_bytes_per_row" -> avroBytesPerRow) ++
      Seq("validate", "flatten", "roundtrip", "xflatten").map(op =>
        s"ops.${op}_net_s" -> net(op)) ++
      Seq("avro_encode", "avro_decode").map(op =>
        s"functions.${op}_net_s" -> net(op))

  def facts: Seq[(String, String)] = Seq(
    "seed" -> run.seed.toString,
    "rows" -> Ops.map(op => s"$op=${Rows(op)}").mkString(" "),
    "invalid_share" -> s"${2.0 / InvalidEvery} (unknown enum symbol + null LastName)",
    "evolution" -> (s"added $addedName default at field $addedAt; " +
      s"$promoted long->$promotedTo; Sex symbols ${readerSymbols.mkString("/")}"),
    "cores" -> Runtime.getRuntime.availableProcessors.toString)
}

object CodecBulk {
  final case class Sums(rows: Long, xor: Long, low32: Long)
  val StatFields = Seq("Strength", "Perception", "Endurance", "Charisma",
    "Intelligence", "Agility", "Luck")
  val PersonFields = Seq("FirstName", "LastName", "Occupation", "Title", "Age",
    "Sex", "Stats", "Journal")
  val Occupations = Seq("Engineer", "Teacher", "Nurse", "Pilot", "Farmer")
  val Titles = Seq("Dr", "Mr", "Ms", "Prof")
  val JournalLines = Seq("entry one", "entry two", "entry three",
    "entry four", "entry five", "entry six")
  val Ops = Seq("validate", "flatten", "roundtrip", "xflatten", "avro_encode",
    "avro_decode")
  /** Rows per operation: about a second each on 4 cores. */
  val Rows: Map[String, Long] = Map("validate" -> 3200000L, "flatten" -> 1100000L,
    "roundtrip" -> 850000L, "xflatten" -> 125000L, "avro_encode" -> 560000L,
    "avro_decode" -> 850000L)
  val WarmRows = 5000L
  val MinPasses = 3
  val InvalidEvery = 1000L
}
