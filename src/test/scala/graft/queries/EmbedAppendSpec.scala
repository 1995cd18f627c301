package graft.queries

import graft.SparkSpec

/** The driver corpus has NO cosine-0.9 near-duplicates (max pairwise
  * cosine ~0.51), so the registered dedup_embed_cosine/_append entries
  * agree trivially on empty outputs. This spec feeds the append path a
  * synthetic frame WITH near-duplicates placed across the base/delta
  * split and pins the real contract: append == full rebuild, non-empty,
  * covering base-base (stored), base-delta and delta-delta (discovered)
  * pair classes. */
class EmbedAppendSpec extends SparkSpec {

  test("append equals the full rebuild on a corpus with real near-dups") {
    val s = spark
    import s.implicits._
    val dim = 16
    val rnd = new scala.util.Random(11)
    def vec(): Array[Double] = Array.fill(dim)(rnd.nextGaussian())
    def jitter(v: Array[Double]): Array[Double] =
      v.map(_ + rnd.nextGaussian() * 0.01) // cosine ~0.999
    // ids: % 5 == 4 -> delta slice
    // base-base dup: 0 ~ 1; base-delta dup: 2 ~ 4; delta-delta dup: 9 ~ 14
    val v0 = vec(); val v2 = vec(); val v9 = vec()
    val rows = Seq(
      0L -> v0, 1L -> jitter(v0),
      2L -> v2, 4L -> jitter(v2),
      9L -> v9, 14L -> jitter(v9)) ++
      (20L to 40L).map(i => i -> vec())
    val emb = rows.toDF("vec_id", "e")

    val sigs = // full-corpus rebuild through the same banded generator
      VectorOps.embedCosineDedup(s, emb, threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val append = VectorOps
      .embedCosineAppendOf(s, emb, threshold = 0.9, storeKey = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(sigs == Set((0L, 1L), (2L, 4L), (9L, 14L)),
      s"rebuild did not find the three planted near-dup pairs: $sigs")
    assert(append == sigs,
      s"append path diverged from the rebuild: $append vs $sigs")

    // the WIDE signature tier (lshBitsFor's >32k-vector derivation) must
    // find the same near-identical pairs — a ~0.999-cosine pair hits a
    // 16-bit table with p ~ 0.8, missing all 24 tables w.p. < 1e-16 —
    // and its append must equal its rebuild under the same width
    val wide = VectorOps.embedCosineDedup(s, emb, threshold = 0.9,
        kBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wideAppend = VectorOps.embedCosineAppendOf(s, emb, threshold = 0.9,
        storeKey = None, kBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide == sigs, s"16-bit rebuild lost planted pairs: $wide")
    assert(wideAppend == wide, "16-bit append diverged from its rebuild")
  }

  test("lshBitsFor derives 8 bits for small corpora, 16 at the 400k fixture") {
    assert(VectorOps.lshBitsFor("/root/testdata/sf0.01") == 8,
      "oracle-checked testdata must stay in the exhaustive 8-bit regime")
    // gitignored fixtures — regenerate with graft.tools.ZipfFixture;
    // cancel (not fail) on a fresh clone, like Bm25MaxScoreSpec
    assume(new java.io.File("fixtures/zipf1xl/embeddings.parquet").exists(),
      "fixtures/zipf1xl not generated")
    assert(VectorOps.lshBitsFor("fixtures/zipf1big") == 8,
      "the 40k fixture (12k vectors) stays at 8 bits")
    assert(VectorOps.lshBitsFor("fixtures/zipf1xl") == 16,
      "the 400k fixture (120k clustered vectors) must take the wide tier")
  }
}
