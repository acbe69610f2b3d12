package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.util.Try

/** Crash-safe overwrite for the small persisted sidecars (bloom words,
  * count-min cells, bottom-k samples, …): `mode("overwrite")` on the
  * live path deletes the ONLY copy before the new write commits, so a
  * crash in between loses the accumulated sidecar irrecoverably. Here
  * the new generation is written to a TMP sibling first, the live dir
  * is renamed aside as `_prev`, tmp renamed live, `_prev` dropped —
  * every crash window leaves at least one complete generation on disk,
  * and [[readWithFallback]] serves `_prev` if the live dir is missing
  * (the one window where a crash interrupts the swap).
  */
object SidecarIO {

  /** Replace the parquet dir at `dest` with `rows` (already collected —
    * sidecars are bounded by construction) without ever holding zero
    * complete generations on disk.
    */
  def atomicOverwrite(spark: SparkSession, rows: java.util.List[Row],
      schema: StructType, dest: String): Unit = {
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest + "_tmp")
    val prev = new Path(dest + "_prev")
    fs.delete(tmp, true)
    spark.createDataFrame(rows, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(prev, true)
    if (fs.exists(destPath)) { fs.rename(destPath, prev); () }
    if (!fs.rename(tmp, destPath))
      sys.error(s"sidecar swap failed: could not rename $tmp to $dest")
    fs.delete(prev, true)
    ()
  }

  /** [[atomicOverwrite]] for a DataFrame too big to collect (e.g. a
    * vocabulary-sized table): the tmp write MATERIALIZES the plan in
    * full while the live dir is still intact, so a plan that reads the
    * path it replaces cannot race itself, and the swap then proceeds
    * as above. With `partitionCols` the new generation keeps a
    * `partitionBy` directory layout (one exchange on the partition
    * keys, no driver coalesce) — the sharded-sidecar fold path, where
    * each shard must land in its own directory and the table can be
    * tens of GB.
    */
  def atomicOverwriteDf(df: DataFrame, dest: String,
      files: Int = 1, partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest + "_tmp")
    val prev = new Path(dest + "_prev")
    fs.delete(tmp, true)
    val shaped =
      if (partitionCols.nonEmpty)
        df.repartition(partitionCols.map(org.apache.spark.sql.functions
          .col): _*)
      else df.coalesce(files)
    val writer = shaped.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(tmp.toString)
    fs.delete(prev, true)
    if (fs.exists(destPath)) { fs.rename(destPath, prev); () }
    if (!fs.rename(tmp, destPath))
      sys.error(s"sidecar swap failed: could not rename $tmp to $dest")
    fs.delete(prev, true)
    ()
  }

  /** Run `body` (typically a `spark.read.parquet` whose file listing
    * happens eagerly) with DRIVER-SIDE file listing for partitioned
    * index layouts: these are a few hundred partition directories with
    * a couple of files each, and Spark launches a distributed listing
    * JOB past `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (default 32) paths — task scheduling that costs several times the
    * listing itself on such layouts (measured on the 256-dir exact
    * index at sf0.1: 0.73 s vs 0.27 s per read+count). The threshold is
    * restored afterwards, so genuinely huge layouts (object-store
    * tables with thousands of partitions) keep Spark's default
    * behavior outside these bounded index reads. Scale knob:
    * `spark.graft.driverListingThreshold` (paths; default 1024, set 0
    * to keep Spark's default everywhere).
    */
  def withDriverListing[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val target = spark.conf.getOption("spark.graft.driverListingThreshold")
      .flatMap(_.toIntOption).getOrElse(1024)
    val prev = spark.conf.getOption(key).flatMap(_.toIntOption)
      .getOrElse(32)
    if (target <= prev) body
    else {
      spark.conf.set(key, target.toString)
      try body finally spark.conf.set(key, prev.toString)
    }
  }

  /** Read the parquet sidecar `dest`, falling back to the `_prev`
    * generation if a crashed swap left the live dir missing.
    *
    * The read runs no schema-inference job: Spark infers a parquet
    * schema by reading footers in a distributed job, but every
    * Spark-written data file already carries the row schema in its
    * footer (key `org.apache.spark.sql.parquet.row.metadata`), so one
    * footer read on the driver resolves it. Partition columns
    * (`batch=<id>` directories) are still discovered from the paths
    * exactly as an inferred read discovers them. A directory with no
    * data file (or a file without Spark's key) falls back to inference.
    *
    * Pass `schema` for sidecars whose live dir can legitimately hold
    * ZERO data files (a partitionBy write of an empty frame — e.g. a
    * sharded bloom seeded from an empty key set — commits only
    * `_SUCCESS`): inference has nothing to read there and throws, while
    * an explicit schema reads the empty generation as the empty frame
    * it is.
    */
  def readWithFallback(spark: SparkSession, dest: String,
      schema: Option[StructType] = None): DataFrame = {
    val dir = liveOrPrev(spark, dest)
    val conf = spark.sparkContext.hadoopConfiguration
    schema.orElse(footerSchema(dir, conf))
      .fold(spark.read)(s => spark.read.schema(s))
      .parquet(dir.toString)
  }

  /** `dest`, or its `_prev` generation when a crashed swap left only
    * that one on disk (a missing dir with no `_prev` stays `dest`, so
    * the read fails naming the path the caller asked for).
    */
  private def liveOrPrev(spark: SparkSession, dest: String): Path = {
    val destPath = new Path(dest)
    val prev = new Path(dest + "_prev")
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(destPath) && fs.exists(prev)) prev else destPath
  }

  /** The Spark row schema stored in the footer of the first data file
    * under `dir` (recursing into partition directories), if any.
    */
  private def footerSchema(dir: Path,
      conf: org.apache.hadoop.conf.Configuration): Option[StructType] = {
    val fs = dir.getFileSystem(conf)
    // the names Spark's file index skips: `.crc`, `_SUCCESS`, `_tmp`…
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !n.startsWith(".") && !(n.startsWith("_") && !n.contains('='))
    }
    // listStatus, not listFiles: the located statuses listFiles builds
    // load each file's permissions, which a local filesystem does by
    // forking a process per file
    def firstFile(d: Path): Option[FileStatus] = {
      val (dirs, files) = fs.listStatus(d).filter(visible)
        .partition(_.isDirectory)
      files.headOption.orElse(
        dirs.iterator.flatMap(st => firstFile(st.getPath)).nextOption())
    }
    if (!fs.exists(dir)) None
    else firstFile(dir).flatMap { st =>
      // the footer alone, without row-group metadata; a full
      // ParquetFileReader costs an order of magnitude more to open
      val file = HadoopInputFile.fromStatus(st, conf)
      val in = file.newStream()
      val footer = try ParquetFileReader.readFooter(file,
          ParquetReadOptions.builder()
            .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS)
            .build(), in)
        finally in.close()
      Option(footer.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap(j => Try(DataType.fromJson(j).asInstanceOf[StructType])
          .toOption)
    }
  }
}
