package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** MaxScore-pruned BM25 must be EXACTLY the full-join ranking — same rows,
  * same scores, same rank order — at both registered cutoffs (topN=3 for
  * sim_bm25_topk, topN=20 for the RRF fusions). The pruning is a sound
  * bound, not an approximation: any divergence here is a bug in the θ /
  * essential-term logic, not an accepted trade-off. */
class Bm25MaxScoreSpec extends SparkSpec {

  private def tfOf(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))

  private def assertEqualRankings(d: String, topN: Int): Unit = {
    val s = spark
    val tf = tfOf(s, d)
    // bm25MaxScore directly, NOT the bm25RankedOf dispatcher: the
    // vocabulary statistic routes testdata (31-word synthetic vocab) to
    // the brute plan, and this spec exists to pin the PRUNED plan equal
    // on both vocabulary shapes
    val pruned = LlmText.bm25MaxScore(s, d, tf, topN, wgtKey = None)
      .collect().map(_.toSeq).toSet
    val brute = LlmText.bm25RankedBrute(s, d, tf, topN)
      .collect().map(_.toSeq).toSet
    assert(pruned.nonEmpty, s"empty BM25 ranking at $d topN=$topN")
    val onlyP = pruned -- brute
    val onlyB = brute -- pruned
    assert(onlyP.isEmpty && onlyB.isEmpty,
      s"MaxScore diverged from brute at $d topN=$topN: " +
        s"pruned-only=${onlyP.take(5)} brute-only=${onlyB.take(5)}")
  }

  test("MaxScore == brute at sf0.001, topN=3 and topN=20") {
    assertEqualRankings("/root/testdata/sf0.001", 3)
    assertEqualRankings("/root/testdata/sf0.001", 20)
  }

  test("MaxScore == brute at sf0.01, topN=3 and topN=20") {
    assertEqualRankings("/root/testdata/sf0.01", 3)
    assertEqualRankings("/root/testdata/sf0.01", 20)
  }

  test("impact metadata persists beside the weights and is reused, not rebuilt") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_msmeta")
    sys.props("graft.index.dir") = tmp.toString
    try {
      val d = "/root/testdata/sf0.001"
      val s = spark.newSession()
      val first = LlmText.bm25MaxScore(s, d, tfOf(s, d), topN = 3,
        wgtKey = Some(StoreKey("spec:msw", Seq(s"$d/documents.parquet")))).collect().map(_.toSeq).toSet
      assert(first.nonEmpty)
      val vdir = new java.io.File(tmp.toString).listFiles().head
      val metas = vdir.listFiles().map(_.getName)
        .filter(_.startsWith("spec_msw_maxscore_")).sorted.toSeq
      // ub + head3 + tmap, each its own durable artifact beside the weights
      assert(metas.exists(_.startsWith("spec_msw_maxscore_ub")) &&
        metas.exists(_.startsWith("spec_msw_maxscore_head3")) &&
        metas.exists(_.startsWith("spec_msw_maxscore_tmap")),
        s"missing impact-metadata artifacts: $metas")
      val mtimes = vdir.listFiles()
        .filter(_.getName.startsWith("spec_msw_maxscore_"))
        .map(f => f.getName -> f.lastModified).toMap
      // fresh session: same ranking off the STORED metadata, no rewrite
      val s2 = spark.newSession()
      val again = LlmText.bm25MaxScore(s2, d, tfOf(s2, d), topN = 3,
        wgtKey = Some(StoreKey("spec:msw", Seq(s"$d/documents.parquet")))).collect().map(_.toSeq).toSet
      assert(again == first, "stored-metadata ranking diverged")
      vdir.listFiles().filter(_.getName.startsWith("spec_msw_maxscore_"))
        .foreach(f => assert(f.lastModified == mtimes(f.getName),
          s"${f.getName} was rebuilt by the reuse path"))
    } finally {
      sys.props.remove("graft.index.dir")
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
    }
  }

  // The adversarial vocabulary: testdata's synthetic ~31-word vocab makes
  // every query match every doc (worst case for candidate COUNT, trivial
  // for term skew); the Zipf fixture's 50k-term vocabulary is the realistic
  // shape where essential-term classification does real work. Gitignored
  // fixture — regenerate with graft.tools.ZipfFixture; cancels if absent.
  test("MaxScore == brute on the 40k-doc Zipf fixture, topN=3") {
    assume(new java.io.File("fixtures/zipf1big/documents.parquet").exists(),
      "fixtures/zipf1big not generated")
    assertEqualRankings("fixtures/zipf1big", 3)
  }
}
