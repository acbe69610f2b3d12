package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Queries.releaseFixtures` frees every planted blob fixture the
  * session built, the wide image and wide video ones included.
  */
class QueriesFixturesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("releaseFixtures leaves no wide fixture cached") {
    val dir = java.nio.file.Files.createTempDirectory("fixtures").toString
    (0L until 31L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val wide = Seq(Queries.dedupGridBlobsWideFor(spark, dir),
      Queries.dedupVideoBlobsWideFor(spark, dir))
    val built = sc.getPersistentRDDs.keySet -- before
    assert(wide.forall(_.storageLevel.useMemory))
    assert(built.size == wide.size, s"persisted RDDs $built")
    Queries.releaseFixtures(spark)
    assert(wide.forall(_.storageLevel.useMemory == false),
      "a wide fixture is still cached")
    assert((sc.getPersistentRDDs.keySet & built).isEmpty,
      "a wide fixture's blocks are still persisted")
  }
}
