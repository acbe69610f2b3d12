package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The cache-lifecycle contract: operator intermediates are persisted
  * into a caller-releasable scope, and releasing actually unpersists —
  * the round-7 leak (11 persist sites, zero unpersist, caches pinned for
  * the application lifetime) cannot recur silently.
  */
class CacheScopeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")

  test("withScope: intermediates cached during the action, released after") {
    var captured: CacheScope = null
    val n = CacheScope.withScope { scope =>
      captured = scope
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        threshold = 0.7, scope = scope)
      val c = pairs.count() // terminal action inside the scope
      // both intermediates (bounded buckets + shingle sets) tracked and
      // actually cached while the scope is open
      assert(scope.trackedCount == 2)
      assert(scope.tracked.forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK))
      c
    }
    assert(n >= 0)
    // closed: nothing tracked, every frame unpersisted
    assert(captured.trackedCount == 0)
  }

  test("close unpersists the tracked frames (storage level drops to NONE)") {
    val scope = new CacheScope
    val pairs = Dedup.simhashJaccardPairs(docs, "doc_id", "text",
      threshold = 0.8, scope = scope)
    pairs.count()
    val frames = scope.tracked
    assert(frames.nonEmpty)
    assert(frames.forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK))
    scope.close()
    assert(frames.forall(_.storageLevel == StorageLevel.NONE),
      "close() must unpersist every tracked dataset")
    // idempotent
    scope.close()
    assert(scope.trackedCount == 0)
  }

  test("close frees the blocks of a scope-tracked checkpoint") {
    import org.apache.spark.storage.RDDBlockId
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val scope = new CacheScope
    val cp = scope.checkpoint(docs.select("doc_id"))
    val n = cp.count()
    assert(n == docs.count())
    val rdds = scope.trackedCheckpoints
    assert(rdds.size == 1 && scope.trackedCount == 1)
    val blocks = rdds.flatMap(r => r.partitions.indices.map(RDDBlockId(r.id, _)))
    val master = org.apache.spark.SparkEnv.get.blockManager.master
    assert(blocks.nonEmpty && blocks.forall(master.contains),
      "the checkpoint's blocks are stored while the scope is open")
    assert(cp.count() == n) // read from the checkpoint, not recomputed
    scope.close()
    assert(scope.trackedCount == 0)
    assert(rdds.forall(r =>
      !spark.sparkContext.getPersistentRDDs.contains(r.id)))
    eventually(timeout(30.seconds)) {
      assert(!blocks.exists(master.contains), "close() must free the blocks")
    }
    // a released checkpoint is its only copy: the frame is gone with it
    intercept[Exception](cp.count())
  }

  test("default (no scope passed) lands in the session scope; releaseSession drains it") {
    // NOTE: the session scope is shared — other suites running in the
    // same JVM may add to it concurrently, so assertions are >= / ==0 on
    // the frames THIS test captured, not on global cache emptiness.
    val before = CacheScope.forSession(spark)
    val baseline = before.trackedCount
    Dedup.embeddingPairs(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      "vec_id", "embedding", dim = 64, threshold = 0.999).count()
    val scope = CacheScope.forSession(spark)
    assert(scope eq before, "one shared scope per session")
    assert(scope.trackedCount >= baseline + 1)
    val mine = scope.tracked
    CacheScope.releaseSession(spark)
    assert(mine.forall(_.storageLevel == StorageLevel.NONE))
    // a fresh scope takes over after release
    assert(CacheScope.forSession(spark).trackedCount == 0)
  }

  test("every dedup operator routes its persists through the scope") {
    // each call below must leave ZERO frames in the session scope when
    // given an explicit scope — i.e. no operator still calls .persist()
    // directly (the leak shape this round fixed)
    val session = CacheScope.forSession(spark)
    val base = session.trackedCount
    val corpus = docs.filter($"doc_id" < 100)
    val batch = corpus.select(($"doc_id" + 90000).as("doc_id"), $"text")
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ebatch = embs.filter($"vec_id" < 10)
      .select(($"vec_id" + 90000).as("vec_id"), $"embedding")
    CacheScope.withScope { s =>
      Dedup.minhashPairs(corpus, "doc_id", "text", scope = s).count()
      Dedup.minhashPairsIncremental(batch, corpus, "doc_id", "text",
        scope = s).count()
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        maxDocFreq = 50, scope = s).count()
      Dedup.simhashCandidatePairs(corpus, "doc_id", "text",
        scope = s).count()
      Dedup.simhashJaccardPairs(corpus, "doc_id", "text", scope = s).count()
      Dedup.simhashPairsIncremental(batch, corpus, "doc_id", "text",
        scope = s).count()
      Dedup.embeddingPairs(embs, "vec_id", "embedding", dim = 64,
        scope = s).count()
      Dedup.embeddingPairsIncremental(ebatch, embs, "vec_id", "embedding",
        dim = 64, scope = s).count()
      // the 11 round-7 leak sites all routed; 12 tracked frames because
      // simhashCandidatePairs' site is exercised twice (standalone + via
      // simhashJaccardPairs); +3 since the skew-guard persists the
      // exploded exact frame whenever the bucket cap is REAL (the three
      // real-cap fingerprint candidate runs above: standalone simhash,
      // via simhashJaccardPairs, and the incremental core); -1 since
      // minhashPairsIncremental's batch buckets and batch shingle sets
      // are one checkpointed kernel frame
      assert(s.trackedCount == 14,
        s"expected 14 scoped persists and checkpoints, got ${s.trackedCount}")
    }
    assert(session.trackedCount == base,
      "explicit-scope calls must not touch the session scope")
  }

  test("simhash prefilter defaults derive from the candidate guarantee") {
    // guaranteedRadius: blocks-1 exact, 2*blocks-1 with 1-bit multi-probe
    assert(Dedup.guaranteedRadius(4, 0) == 3)
    assert(Dedup.guaranteedRadius(4, 1) == 7)
    assert(Dedup.guaranteedRadius(8, 1) == 15)
    assert(Dedup.guaranteedRadius(16, 0) == 15)
    // the default path (no prefilter passed) must equal the explicit
    // bound — i.e. the filter is never wider than what candidate
    // generation guarantees (round-7 defect: defaults blocks=4/pf=16/
    // probe=0 filtered at 16 with a guarantee of only 3)
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dflt = pairSet(Dedup.simhashJaccardPairs(docs, "doc_id", "text"))
    val explicitBound = pairSet(Dedup.simhashJaccardPairs(docs, "doc_id",
      "text", prefilterHamming = Dedup.guaranteedRadius(4, 1)))
    assert(dflt == explicitBound)
    CacheScope.releaseSession(spark)
  }
}
