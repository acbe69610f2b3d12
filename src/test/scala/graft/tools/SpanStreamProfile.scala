package graft.tools

import graft.Queries
import graft.pipeline.SpanDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Where does span_stream_documents' time go? The bench floor moved
  * 5.8 → 7.8 → 9.0 s across r14→r16 with zero span-path code change —
  * this driver splits one evaluation into its phases (fixture probe,
  * stream construction, per-micro-batch drain, read-back) and prints
  * each micro-batch's wall time plus the streaming progress metrics,
  * so the floor's owner is named instead of guessed.
  */
object SpanStreamProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .appName("span-stream-profile")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def timed[T](l: String)(b: => T): T = {
      val t0 = System.nanoTime(); val r = b
      println(f"[profile] $l: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    val idxPath = timed("span index fixture (once)") {
      Queries.spanIndexFor(spark, dir)
    }
    val inDir = timed("stream input fixture (once)") {
      Queries.streamInputFor(spark, dir, "spanbatch", 3) {
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(lit("bq"), col("doc_id"), lit(" "), col("text"))
              .as("text"))
      }
    }
    // the timed body, evaluated 3 times like bench runs
    for (run <- 1 to 3) {
      val t0 = System.nanoTime()
      val outDir = Queries.freshSidecarPath("spanprof_out")
      val ck = Queries.freshSidecarPath("spanprof_ck")
      val stream = spark.readStream
        .schema(spark.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      var batchTimes = List.empty[Double]
      val writer = graft.streaming.StreamOps.probeStream(stream,
          SpanDedup.loadSpanIndex(_, idxPath)) { (ix, batch, scope) =>
        SpanDedup.duplicateSpansFromLoaded(ix, batch, "doc_id", "text",
          scope)
      } { (res, bid) =>
          val b0 = System.nanoTime()
          res.write.mode("append").parquet(outDir)
          batchTimes ::= (System.nanoTime() - b0) / 1e9
        }
      val q = writer.option("checkpointLocation", ck).start()
      val tStart = (System.nanoTime() - t0) / 1e9
      q.processAllAvailable()
      val tDrain = (System.nanoTime() - t0) / 1e9 - tStart
      q.stop()
      val nRead = spark.read.parquet(outDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[profile] run $run: total $total%.2f s " +
        f"(construct+start $tStart%.2f, drain $tDrain%.2f, " +
        f"readback ${total - tStart - tDrain}%.2f), rows $nRead")
      println("[profile]   per-batch sink writes: " +
        batchTimes.reverse.map(t => f"$t%.2f").mkString(", "))
      graft.pipeline.CacheScope.releaseSession(spark)
    }
    spark.stop()
  }
}
