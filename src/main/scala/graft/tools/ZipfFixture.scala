package graft.tools

/** Deterministic REALISTIC-VOCABULARY supplemental bench fixture.
  *
  * The driver's synthetic documents table draws from a 31-word vocabulary,
  * which makes every retrieval/dedup bench a DENSE floor: every query term
  * matches every document, every shingle posting list spans the corpus, and
  * the append paths measure as rebuild-plus-bookkeeping because every
  * group/bucket is delta-touched (the honest caveat in the substring
  * scaladocs). Real crawls are the opposite regime — Zipf-distributed
  * ~50k-token vocabularies where posting lists are short, band buckets are
  * sparse, and an incremental ingest touches a small fraction of the
  * corpus. This main generates that regime, deterministically, so the
  * engine's incremental-scale claims can be MEASURED instead of argued:
  *
  *   - documents.parquet: 8 000 docs, 30-200 tokens each, vocabulary of
  *     50 000 words with Zipf(1.07) frequencies (the classic word-frequency
  *     law), with planted duplicate structure exercising every dedup
  *     family — exact dups (id % 23 == 1 copies id-1), near-dups
  *     (id % 29 == 2 copies id-2 with ~1% of tokens replaced: >= 0.9
  *     shingle jaccard), containment (id % 31 == 3 is a contiguous ~60%
  *     excerpt of id-3: containment 1.0), and substring dups
  *     (id % 37 == 4 splices a 60-token span of id-4 into its own text).
  *     The remaining ~85% are independent draws — the sparse majority.
  *   - embeddings.parquet: 3 000 vectors, 64-dim, 16 latent clusters
  *     (matching the IVF codebook size the entries train), with planted
  *     near-dups (vec_id % 19 == 1 is a 1% perturbation of vec_id-1:
  *     cosine ~0.999) so the embedding dedup families have work.
  *
  * Same schemas as the driver's testdata (documents: doc_id, text, lang,
  * source, n_chars; embeddings: vec_id, embedding float[], label int32),
  * so every registered entry runs unchanged with SPARK_GRAFT_SF_DIR
  * pointed at the output dir. Seeded per-row (not per-run), so the corpus
  * is bit-stable across invocations and machines.
  *
  * The DELTA FRACTION is a property of the dataset: every append entry
  * splits on `id % 5 == 4`, so the share of ids in residue 4 IS the
  * ingest-batch size. With dense ids that is a 20% uniformly-spread
  * delta — a stress shape that touches every group. `deltaPct = 1`
  * instead assigns ids so only ~1% of rows land in residue 4 (the
  * daily-crawl shape: today's ingest is a small fraction of the
  * corpus), leaving every entry, oracle and SymDiff proof unchanged —
  * the data decides what is "new".
  *
  * Usage: java -cp ... graft.tools.ZipfFixture [outDir] [deltaPct] [nDocs] [nVecs]
  * (defaults: fixtures/zipf, 20 — gitignored; the GENERATOR is the
  * committed artifact).
  */
object ZipfFixture {
  val NDocs = 8000 // default; CLI-overridable for scale runs
  val Vocab = 50000
  val NVecs = 3000
  val Dim = 64
  val Clusters = 16

  /** Zipf(s) cumulative mass over ranks 1..V, for binary-search sampling. */
  private def zipfCdf(v: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](v)
    var acc = 0.0
    var r = 1
    while (r <= v) { acc += 1.0 / math.pow(r, s); cdf(r - 1) = acc; r += 1 }
    cdf
  }

  private def draw(cdf: Array[Double], rng: java.util.Random): Int = {
    val u = rng.nextDouble() * cdf(cdf.length - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    val idx = if (i >= 0) i else -i - 1
    math.min(idx, cdf.length - 1)
  }

  /** Per-doc deterministic RNG: structure depends on ids, never on
    * generation order or machine. */
  private def rngOf(kind: Long, id: Long) =
    new java.util.Random(0x5EED5EEDL * (kind * 1000003L + id) + 12345L)

  private[tools] def docTokens(cdf: Array[Double], id: Long): Array[String] = {
    val rng = rngOf(1, id)
    val n = 30 + rng.nextInt(171)
    Array.fill(n)("w" + (draw(cdf, rng) + 1))
  }

  /** The full corpus, one pass in id order (dup rules reference earlier
    * ids only). Exposed for the spec. */
  private[tools] def documents(cdf: Array[Double],
      nDocs: Int = NDocs): IndexedSeq[(Long, String)] = {
    val texts = new scala.collection.mutable.ArrayBuffer[Array[String]](nDocs)
    (0 until nDocs).foreach { i =>
      val id = i.toLong
      val own = docTokens(cdf, id)
      val toks: Array[String] =
        if (id % 23 == 1 && id >= 23) texts((id - 1).toInt) // exact dup
        else if (id % 29 == 2 && id >= 29) { // near-dup: ~1% tokens replaced
          val rng = rngOf(2, id)
          val base = texts((id - 2).toInt).clone()
          val k = math.max(1, base.length / 100)
          (0 until k).foreach { _ =>
            base(rng.nextInt(base.length)) = "w" + (draw(cdf, rng) + 1)
          }
          base
        } else if (id % 31 == 3 && id >= 31) { // containment: ~60% excerpt
          val rng = rngOf(3, id)
          val donor = texts((id - 3).toInt)
          val len = math.max(10, (donor.length * 6) / 10)
          val start = rng.nextInt(math.max(1, donor.length - len + 1))
          donor.slice(start, start + len)
        } else if (id % 37 == 4 && id >= 37) { // substring dup: 60-tok span
          val rng = rngOf(4, id)
          val donor = texts((id - 4).toInt)
          val span =
            if (donor.length <= 60) donor
            else {
              val st = rng.nextInt(donor.length - 60 + 1)
              donor.slice(st, st + 60)
            }
          val cut = own.length / 2
          own.take(cut) ++ span ++ own.drop(cut)
        } else own
      texts += toks
    }
    (0 until nDocs).map(i => i.toLong -> texts(i).mkString(" "))
  }

  private[tools] def embedding(id: Long,
      centers: Array[Array[Double]]): Array[Float] = {
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    if (id % 19 == 1 && id >= 19) { // near-dup of id-1: cosine ~0.999
      val prev = embedding(id - 1, centers).map(_.toDouble)
      val rng = rngOf(6, id)
      unit(prev.map(x => x + 0.01 * rng.nextGaussian()))
    } else {
      val rng = rngOf(5, id)
      val c = centers((id % Clusters).toInt)
      // noise 0.7: same-cluster cosine lands ~0.6-0.75 — clustered but
      // NOT above the 0.9 near-dup line (0.25 noise put every
      // cluster-mate past 0.9: 280k "near-dup" pairs — a dense floor of
      // its own). Only the planted %19 perturbations cross 0.9.
      unit(c.map(x => x + 0.7 * rng.nextGaussian()))
    }
  }

  /** Index -> id under the requested residue-4 share. deltaPct == 20:
    * dense ids (idx). deltaPct == 1: every 100th index becomes a
    * residue-4 id (5j + 4), the rest pack densely into residues 0-3
    * (5·(k div 4) + k mod 4) — unique, deterministic, order-preserving
    * within each class. */
  private[tools] def idOf(idx: Long, deltaPct: Int): Long =
    if (deltaPct == 20) idx
    else {
      require(deltaPct == 1, s"deltaPct must be 20 or 1, got $deltaPct")
      if (idx % 100 == 99) { val j = idx / 100; 5 * j + 4 }
      else {
        val k = idx - idx / 100 // rank among non-delta indices
        5 * (k / 4) + (k % 4)
      }
    }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/zipf")
    val deltaPct = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val nDocs = args.drop(2).headOption.map(_.toInt).getOrElse(NDocs)
    val nVecs = args.drop(3).headOption.map(_.toInt).getOrElse(NVecs)
    val spark = graft.GraftSession()
    import spark.implicits._

    val cdf = zipfCdf(Vocab, 1.07)
    val langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "de")
    // corpus content is keyed by INDEX (texts, dup structure, rngs), ids
    // by the delta layout — the 1% variant is the same corpus renumbered
    val docs = documents(cdf, nDocs).map { case (idx, text) =>
      (idOf(idx, deltaPct), text, langs((idx % langs.length).toInt),
        s"src${idx % 20}", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val crng = new java.util.Random(424242L)
    val centers = Array.fill(Clusters, Dim)(crng.nextGaussian())
    val vecs = (0 until nVecs).map { i =>
      val idx = i.toLong
      (idOf(idx, deltaPct), embedding(idx, centers), (idx % Clusters).toInt)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"ZIPF_FIXTURE docs=$nDocs vocab=$Vocab vecs=$nVecs" +
      s" deltaPct=$deltaPct out=$out")
    spark.stop()
  }
}
