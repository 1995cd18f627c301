package graft.queries

import graft.SparkSpec

/** Session-end eviction of every process-global memo map (round-9 advice:
  * `sampleCache`/`fpCache` — and the trained-artifact caches — were
  * unbounded path-keyed maps that outlived their session). The suites share
  * one SparkContext, so the spec populates the caches through real queries,
  * then delivers the application-end event to the hooked listener directly
  * (the same object Spark's bus would invoke) and asserts every registered
  * map is empty afterwards.
  */
class SessionCachesSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  test("application end clears every registered path-keyed cache") {
    val s = spark
    // populate: ANN index sample + dataset fingerprints, BPE merge table,
    // LR fit weights (each the memoized artifact of a real query family)
    graft.SparkEntry.queries("ann_ivf_topk")(s, Sf).collect()
    graft.SparkEntry.queries("text_bpe_train")(s, Sf).collect()
    graft.SparkEntry.queries("quality_lr_train")(s, Sf).collect()
    assert(VectorOps.pathCacheSize > 0, "ANN sample/fp caches not populated")
    assert(LlmText.trainedCacheSize > 0, "trained-artifact caches not populated")
    assert(SessionCaches.isHooked(s), "cache-populating query did not hook the session")

    SessionCaches.fireSessionEnd(s)

    assert(VectorOps.pathCacheSize == 0, "sampleCache/fpCache survived session end")
    assert(LlmText.trainedCacheSize == 0, "bpeMergeCache/lrFitCache survived session end")
    assert(!SessionCaches.isHooked(s), "listener hook not released on session end")
  }

  test("application end unpersists and drops the WDI pipeline tables") {
    import graft.wdi.{WdiFixture, WdiPipelines}
    import org.apache.spark.storage.StorageLevel
    val s = spark
    val dir = WdiFixture.write()
    val moments = WdiPipelines.moments(s, dir, WdiPipelines.quad)
    val before = moments.collect()
    assert(WdiPipelines.cacheSize >= 2, "front half + moments not cached")
    assert(moments.storageLevel != StorageLevel.NONE, "moments table not persisted")
    assert(WdiPipelines.cycles(s, dir, WdiPipelines.quad).storageLevel == StorageLevel.NONE,
      "cycles are persisted")
    assert(SessionCaches.isHooked(s), "WDI pipeline cache did not hook the session")

    SessionCaches.fireSessionEnd(s)

    assert(WdiPipelines.cacheSize == 0, "WDI pipeline cache survived session end")
    assert(moments.storageLevel == StorageLevel.NONE, "moments table still persisted")
    // a later call rebuilds the same table
    assert(WdiPipelines.moments(s, dir, WdiPipelines.quad).collect().toSeq == before.toSeq)
    SessionCaches.fireSessionEnd(s)
  }
}
