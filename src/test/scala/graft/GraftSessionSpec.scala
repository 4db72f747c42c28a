package graft

import org.apache.spark.storage.StorageLevel

/** The per-query release and the query selection every main shares. */
class GraftSessionSpec extends SparkSpecBase {

  test("reset drops cached frames and localCheckpoint RDD blocks") {
    def persisted = spark.sparkContext.getPersistentRDDs
    val cached = spark.range(100).selectExpr("id * 2 AS v").cache()
    cached.count()
    assert(cached.storageLevel != StorageLevel.NONE)
    val beforeCheckpoint = persisted.size
    // localCheckpoint persists an RDD that catalog.clearCache never sees
    val checkpointed = spark.range(100).localCheckpoint()
    assert(checkpointed.count() == 100 && persisted.size > beforeCheckpoint)
    GraftSession.reset(spark)
    assert(cached.storageLevel == StorageLevel.NONE)
    assert(persisted.isEmpty, s"left persisted: ${persisted.values.mkString(", ")}")
  }

  test("selected: every query sorted by name, or exactly the named ones") {
    val names = GraftSession.selected(None).map(_._1)
    assert(names == SparkEntry.queries.keys.toSeq.sorted)
    assert(GraftSession.selected(Some("w1_topk_sort,q1_pricing_summary")).map(_._1) ==
      Seq("q1_pricing_summary", "w1_topk_sort"))
  }

  test("selected rejects unknown query names and lists them") {
    val e = intercept[IllegalArgumentException] {
      GraftSession.selected(Some("q1_pricing_summary,q1_pricing_sumary,no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query, q1_pricing_sumary"), e.getMessage)
  }
}
