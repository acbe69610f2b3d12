package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Error routing at scale (SURVEY §3.3): instead of the reference's
  * fail-on-first-error per record, validated rows carry `_valid`/`_error`
  * (see [[graft.ops.Validate]]) and bad rows are ROUTED, not thrown — a
  * 100 TB job must not die on row 73 billion.
  *
  * The one-pass shape: `partitionBy("_valid")` on write splits good and
  * quarantined rows into separate directories in a SINGLE scan of the
  * input — no double-filter double-read, no shuffle (partitionBy at write
  * is a per-task fan-out, not an exchange). The quarantine side keeps the
  * `_error` column for triage; the good side drops the bookkeeping.
  */
object Quarantine {

  /** Lazy split: (good rows without bookkeeping, quarantined with _error).
    * Two scans if both are consumed — prefer [[writePartitioned]] for
    * sinks; use this when only one side continues in the pipeline.
    */
  def split(validated: DataFrame): (DataFrame, DataFrame) = (
    validated.filter(col("_valid")).drop("_valid", "_error"),
    validated.filter(!col("_valid")).drop("_valid"))

  /** One-scan partitioned write: `basePath/_valid=true/` holds good rows,
    * `basePath/_valid=false/` the quarantine (with `_error`).
    */
  def writePartitioned(validated: DataFrame, basePath: String): Unit =
    validated.write.mode("overwrite").partitionBy("_valid")
      .parquet(basePath)

  def goodPath(basePath: String): String = s"$basePath/_valid=true"
  def quarantinePath(basePath: String): String = s"$basePath/_valid=false"

  /** Streaming variant — same single-pass partitioned routing on a
    * `writeStream` (validate upstream: the batch validation Columns
    * apply to a stream frame unchanged).
    */
  def writeStreamPartitioned(validated: DataFrame, basePath: String,
      checkpointDir: String): StreamingQuery =
    validated.writeStream.format("parquet")
      .option("path", basePath)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("_valid")
      .start()
}
