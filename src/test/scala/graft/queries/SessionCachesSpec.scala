package graft.queries

import graft.{Memo, SparkSpec}

/** Session-end eviction of every memo entry (round-9 advice: the sample,
  * fingerprint and trained-artifact memos were unbounded path-keyed maps
  * that outlived their session). The suites share one SparkContext, so the
  * spec populates [[Memo]] through real queries on a session of its own,
  * then delivers the application-end event to that session's listener
  * directly (the same object Spark's bus would invoke) and asserts the
  * session's entries are gone afterwards.
  */
class SessionCachesSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  test("application end clears every registered path-keyed cache") {
    val s = spark.newSession()
    val before = Memo.size
    // by name: each query also memoizes the footer schemas of the tables it
    // reads, which would make a bare size count pass on its own
    val named = Seq("index_sample", "bpe_merges", "lr_fit").map(n => n -> Memo.size(n)).toMap
    // populate: ANN index sample + index artifacts, then the BPE merge
    // table and LR fit weights (each the memoized artifact of a real query)
    graft.SparkEntry.queries("ann_ivf_topk")(s, Sf).collect()
    assert(Memo.size("index_sample") > named("index_sample"), "ANN sample/index entries not memoized")
    graft.SparkEntry.queries("text_bpe_train")(s, Sf).collect()
    graft.SparkEntry.queries("quality_lr_train")(s, Sf).collect()
    assert(Memo.size("bpe_merges") > named("bpe_merges") && Memo.size("lr_fit") > named("lr_fit"),
      "trained-artifact entries not memoized")
    assert(Memo.isHooked(s), "cache-populating query did not hook the session")

    Memo.fireSessionEnd(s)

    assert(Memo.size == before, "the session's entries survived session end")
    assert(!Memo.isHooked(s), "listener hook not released on session end")
  }

  test("application end unpersists and drops the WDI pipeline tables") {
    import graft.wdi.{WdiFixture, WdiPipelines}
    import org.apache.spark.storage.StorageLevel
    val s = spark.newSession()
    val dir = WdiFixture.write()
    val before = Memo.size
    val fusedBefore = Memo.size("wdi_moments_all")
    val rowsBefore = Memo.size("wdi_rows")
    val rows = WdiPipelines.moments(s, dir, WdiPipelines.quad).collect()
    // every variant's moments and outputs are views of the one set of
    // driver-local rows, collected from the one fused table
    WdiPipelines.variants.foreach { v =>
      WdiPipelines.moments(s, dir, v).collect()
      WdiPipelines.outputs(s, dir, v).values.foreach(_.collect())
    }
    val fused = WdiPipelines.momentsAll(s, dir)
    assert(Memo.size == before + 3, "front half, fused moments and rows not cached once each")
    assert(Memo.size("wdi_moments_all") == fusedBefore + 1, "fused moments not cached once")
    assert(Memo.size("wdi_rows") == rowsBefore + 1, "driver-local rows not built once")
    assert(fused.storageLevel != StorageLevel.NONE, "fused moments table not persisted")
    assert(WdiPipelines.cycles(s, dir, WdiPipelines.quad).storageLevel == StorageLevel.NONE,
      "cycles are persisted")
    assert(Memo.isHooked(s), "WDI pipeline cache did not hook the session")

    Memo.fireSessionEnd(s)

    assert(Memo.size == before, "WDI pipeline tables survived session end")
    assert(Memo.size("wdi_moments_all") == fusedBefore, "fused moments entry survived session end")
    assert(Memo.size("wdi_rows") == rowsBefore, "driver-local rows survived session end")
    assert(fused.storageLevel == StorageLevel.NONE, "fused moments table still persisted")
    assert(!Memo.isHooked(s), "listener hook not released on session end")
    // a later call rebuilds the same table
    assert(WdiPipelines.moments(s, dir, WdiPipelines.quad).collect().toSeq == rows.toSeq)
    Memo.fireSessionEnd(s)
  }
}
