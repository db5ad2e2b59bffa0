package graft

/** [[Seams.release]] frees the block storage a seamed query leaves. */
class SeamsSpec extends SparkTestBase {

  test("release frees the storage a seamed query's action materialized") {
    // Compare RDD ids, not sizes: other suites share this context and
    // may hold their own cached RDDs.
    def held = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    Seams.release()
    val before = held
    SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir).count()
    assert((held -- before).nonEmpty, "the seamed query held no blocks")
    Seams.release()
    assert((held -- before).isEmpty, "release left seam blocks resident")
  }
}
