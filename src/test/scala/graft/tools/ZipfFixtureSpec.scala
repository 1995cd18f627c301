package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The Zipf fixture GENERATOR is the committed artifact (the data is
  * gitignored), so its determinism and its planted structure are the
  * contract this spec pins — a silent drift here would invalidate every
  * append-vs-rebuild number in ROUNDLOG without failing anything else.
  * Pure-function tests, no Spark session. */
class ZipfFixtureSpec extends AnyFunSuite {

  private val cdf = {
    // same construction as the generator, small vocab for speed is NOT
    // used — the real 50k cdf is cheap to build
    val m = ZipfFixture.Vocab
    val a = new Array[Double](m)
    var acc = 0.0
    var r = 1
    while (r <= m) { acc += 1.0 / math.pow(r, 1.07); a(r - 1) = acc; r += 1 }
    a
  }

  test("generation is bit-stable: same index -> same tokens, twice") {
    val a = ZipfFixture.docTokens(cdf, 4242L)
    val b = ZipfFixture.docTokens(cdf, 4242L)
    assert(a.toSeq == b.toSeq)
    assert(a.length >= 30 && a.length <= 200)
  }

  test("planted duplicate structure holds on a small corpus") {
    val docs = ZipfFixture.documents(cdf, nDocs = 400).map(_._2)
    def sh(s: String): Set[String] = {
      val w = s.split(" ")
      if (w.length < 3) Set(s)
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    // exact dup: idx % 23 == 1
    assert(docs(24) == docs(23))
    // near-dup: idx % 29 == 2 -> shingle jaccard >= 0.9 with idx-2
    val (a, b) = (sh(docs(31)), sh(docs(29)))
    assert((a & b).size.toDouble / (a | b).size >= 0.9)
    // containment: idx % 31 == 3 -> C(excerpt, donor) == 1.0
    val (c, dn) = (sh(docs(34)), sh(docs(31)))
    assert((c & dn).size == c.size)
    // substring dup: idx % 37 == 4 -> a 60-token span of idx-4 appears
    val span = {
      val w37 = docs(37).split(" ")
      // the splice sits at the host's midpoint cut
      w37.sliding(60).exists(s => docs(41).contains(s.mkString(" "))) ||
        w37.length <= 60 && docs(41).contains(docs(37))
    }
    assert(span, "60-token donor span not found in the substring-dup host")
  }

  test("embedding near-dups cross 0.9, cluster-mates stay below it") {
    val crng = new java.util.Random(424242L)
    val centers = Array.fill(ZipfFixture.Clusters, ZipfFixture.Dim)(crng.nextGaussian())
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val dot = x.zip(y).map { case (a, b) => a.toDouble * b }.sum
      val nx = math.sqrt(x.map(a => a.toDouble * a).sum)
      val ny = math.sqrt(y.map(a => a.toDouble * a).sum)
      dot / (nx * ny)
    }
    val e20 = ZipfFixture.embedding(20L, centers) // % 19 == 1: near-dup of 19
    val e19 = ZipfFixture.embedding(19L, centers)
    assert(cos(e20, e19) > 0.99)
    // same cluster (0 and 16 share idx % 16), not planted: below the line
    val e0 = ZipfFixture.embedding(0L, centers)
    val e16 = ZipfFixture.embedding(16L, centers)
    assert(cos(e0, e16) < 0.9)
  }

  test("idOf is injective and hits the requested residue-4 share") {
    val n = 10000L
    val dense = (0L until n).map(i => ZipfFixture.idOf(i, 20))
    assert(dense == (0L until n))
    val sparse = (0L until n).map(i => ZipfFixture.idOf(i, 1))
    assert(sparse.distinct.size == n, "1%-delta id mapping collided")
    val deltaShare = sparse.count(_ % 5 == 4).toDouble / n
    assert(math.abs(deltaShare - 0.01) < 0.001, s"delta share $deltaShare")
  }
}
