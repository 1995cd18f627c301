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

  test("constructing the stream entries again memoizes no further footer schema") {
    val tmp = java.nio.file.Files.createTempDirectory("session_caches_spec_store")
    sys.props("graft.index.dir") = tmp.toString
    val s = spark.newSession()
    try {
      val entries = graft.SparkEntry.queries.filter(_._1.startsWith("stream_")).values
      entries.foreach(_(s, Sf))
      val schemas = Memo.size("parquet_schema")
      entries.foreach(_(s, Sf))
      // a staged dir's schema is its frames' own: no entry under a dir the
      // drain has deleted
      assert(Memo.size("parquet_schema") == schemas,
        s"a second construction memoized ${Memo.size("parquet_schema") - schemas} schemas")
    } finally {
      Memo.fireSessionEnd(s)
      sys.props.remove("graft.index.dir")
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("application end unpersists and drops the WDI pipeline tables") {
    import graft.wdi.{WdiFixture, WdiPipelines}
    val s = spark.newSession()
    val dir = WdiFixture.write()
    def persisted = s.sparkContext.getPersistentRDDs.keySet.toSet
    val idle = persisted
    val before = Memo.size
    val rowsBefore = Memo.size("wdi_rows")
    def pass(): Unit = WdiPipelines.variants.foreach { v =>
      WdiPipelines.moments(s, dir, v).collect()
      WdiPipelines.outputs(s, dir, v).values.foreach(_.collect())
    }
    val rows = WdiPipelines.moments(s, dir, WdiPipelines.quad).collect()
    // every variant's moments and outputs are views of the one set of
    // driver-local rows, built once per (session, extracts): a second pass
    // runs no job
    pass()
    assert(jobsOf(pass()) == 0, "a second pass over the same extracts ran a job")
    assert(Memo.size == before + 1, "the pass memoized more than its driver-local rows")
    assert(Memo.size("wdi_rows") == rowsBefore + 1, "driver-local rows not built once")
    // and nothing of the pipeline stays persisted once the rows exist
    assert(persisted == idle, s"a WDI pass left RDDs persisted: ${persisted -- idle}")
    assert(Memo.isHooked(s), "WDI pipeline cache did not hook the session")

    Memo.fireSessionEnd(s)

    assert(Memo.size == before, "WDI pipeline tables survived session end")
    assert(Memo.size("wdi_rows") == rowsBefore, "driver-local rows survived session end")
    assert(!Memo.isHooked(s), "listener hook not released on session end")
    // a later call rebuilds the same rows
    assert(WdiPipelines.moments(s, dir, WdiPipelines.quad).collect().toSeq == rows.toSeq)
    Memo.fireSessionEnd(s)
  }
}
