package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Embedding-cosine near-duplicate detection: random-hyperplane LSH
  * buckets over dense vectors, exact cosine verification, incremental
  * probes, and the persisted embedding index.
  */
private[pipeline] trait EmbeddingDedupOps extends Serializable { this: Dedup.type =>

  /** Near-duplicate embedding pairs by cosine ≥ threshold, bucketed by
    * random-hyperplane LSH. Signature and cosine run as JVM kernels
    * ([[Similarity.hyperplaneBucketsDf]] / Similarity.cosineJ) — the
    * Catalyst-lambda forms interpret per element, ~10× slower on this
    * hot path. Candidates are deduped BEFORE the cosine verify so each
    * pair is scored once regardless of how many tables it collides in.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, nBits: Int = 12,
      tables: Int = 4, scope: CacheScope = CacheScope.session): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sc = CacheScope.resolve(scope, spark)
    val withBuckets = sc.persist( // used by both join sides
      Similarity.hyperplaneBucketsDf(df, idCol, vecCol, dim, nBits, tables))
    val l = withBuckets.select(col("t"), col("bucket"),
      col("id").as("id_a"), col("v").as("v_a"))
    val r = withBuckets.select(col("t"), col("bucket"),
      col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("t", "bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "v_a", "id_b", "v_b").distinct()
      // codegen'd native cosine — no typed-map boundary in the verify
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorExpressions.cosineC(col("v_a"), col("v_b"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Incremental (batch-vs-corpus) variant of [[embeddingPairs]],
    * completing the family symmetry with [[minhashPairsIncremental]] and
    * [[simhashPairsIncremental]]: corpus-internal pairs are excluded,
    * batch-internal pairs appear once (`id_a < id_b`), batch-vs-corpus
    * pairs carry the batch id first. The hyperplane seeds are fixed per
    * table, so batch and corpus signatures land in comparable buckets
    * without re-indexing the corpus; every bucket join keeps the batch on
    * one side, so candidate cost scales with |batch|, and `maxBucketSize`
    * drops degenerate buckets (the same guard as the text indexes).
    */
  def embeddingPairsIncremental(batch: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int, threshold: Double = 0.95,
      nBits: Int = 12, tables: Int = 4,
      maxBucketSize: Int = 1000,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, batch.sparkSession)
    val all0 =
      Similarity.hyperplaneBucketsDf(batch, idCol, vecCol,
        dim, nBits, tables).withColumn("new", lit(true))
      .union(Similarity.hyperplaneBucketsDf(corpus, idCol, vecCol,
        dim, nBits, tables).withColumn("new", lit(false)))
    embeddingIncrementalCore(all0, threshold, maxBucketSize, sc)
  }

  /** Persist a hyperplane-LSH embedding index: the corpus's per-table
    * bucket rows (with vectors) as parquet plus a params sidecar. The
    * hyperplane seeds are fixed per table, so a later batch signed with
    * the same (dim, nBits, tables) lands in comparable buckets — those
    * three are the index identity.
    */
  def writeEmbeddingIndex(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, dim: Int, nBits: Int = 12, tables: Int = 4): Unit = {
    Similarity.hyperplaneBucketsDf(corpus, idCol, vecCol, dim, nBits,
        tables)
      .write.mode("overwrite").parquet(s"$path/buckets")
    SidecarIO.writeParams(corpus.sparkSession, s"$path/params",
      "dim" -> dim, "nBits" -> nBits, "tables" -> tables)
  }

  /** Incremental embedding near-dup pairs of a NEW batch against a
    * PERSISTED corpus index ([[writeEmbeddingIndex]]) — identical output
    * contract to [[embeddingPairsIncremental]], corpus side read from
    * the index scan (no corpus re-signing per batch).
    */
  def embeddingPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, maxBucketSize: Int = 1000,
      scope: CacheScope = CacheScope.session): DataFrame = {
    val sc = CacheScope.resolve(scope, spark)
    val p = SidecarIO.readParams(spark, s"$path/params")
    val all0 = Similarity.hyperplaneBucketsDf(batch, idCol, vecCol,
        p.getAs[Long]("dim").toInt, p.getAs[Long]("nBits").toInt,
        p.getAs[Long]("tables").toInt).withColumn("new", lit(true))
      .union(dropTombstoned(spark, path,
          spark.read.parquet(s"$path/buckets"), "id")
        .withColumn("new", lit(false)))
    embeddingIncrementalCore(all0, threshold, maxBucketSize, sc)
  }

  /** Shared incremental embedding core over (t, bucket, id, v, new)
    * bucket rows — kernel pass or index scan on the corpus side.
    */
  private[pipeline] def embeddingIncrementalCore(all0: DataFrame, threshold: Double,
      maxBucketSize: Int, sc: CacheScope): DataFrame = {
    val cached = sc.persist(all0)
    val oversized = cached.groupBy("t", "bucket").count()
      .filter(col("count") > maxBucketSize).select("t", "bucket")
    val all = cached
      .join(broadcast(oversized), Seq("t", "bucket"), "left_anti")
    val l = all.filter(col("new")).select(col("t"), col("bucket"),
      col("id").as("id_a"), col("v").as("v_a"))
    val r = all.select(col("t"), col("bucket"), col("id").as("id_b"),
      col("v").as("v_b"), col("new").as("new_b"))
    l.join(r, Seq("t", "bucket"))
      // batch-internal pairs once (a < b); batch-vs-corpus always
      .filter((col("new_b") && col("id_a") < col("id_b")) ||
        (!col("new_b") && col("id_a") =!= col("id_b")))
      .select("id_a", "v_a", "id_b", "v_b").distinct()
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorExpressions.cosineC(col("v_a"), col("v_b"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // -------------------------------------------------------------------
  // semantic dedup (k-means-cell partitioned)
}
