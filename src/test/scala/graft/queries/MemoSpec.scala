package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, reverse, sum}
import graft.{Memo, SparkSpec}
import graft.wdi.{WdiFixture, WdiPipelines}

/** [[Memo]]'s validity contract: an input rewritten in place — same path,
  * new name|size|mtime fingerprint — supersedes every entry declared on it,
  * within one session, and a frame build that reads an undeclared file
  * throws. Each case rewrites a private copy of the sf0.001 tables (or of
  * the WDI fixture) against a throwaway index store, and moves the
  * rewritten file's mtime so the fingerprint changes even when the size
  * does not.
  */
class MemoSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  /** A writable copy of the documents and embeddings tables, a throwaway
    * index store, and a session of its own, evicted afterwards. `cold()`
    * evicts the session and returns a fresh one over a second, empty
    * store: a run there computes everything from the current files. */
  private def withCopy[A](f: (SparkSession, String, () => SparkSession) => A): A = {
    val dir = Files.createTempDirectory("graft_memo_spec")
    val stores = Seq("graft_memo_store", "graft_memo_cold").map(Files.createTempDirectory(_))
    Seq("documents.parquet", "embeddings.parquet").foreach { t =>
      Files.copy(Paths.get(Sf, t), dir.resolve(t))
      dir.resolve(t).toFile.setWritable(true)
    }
    sys.props("graft.index.dir") = stores.head.toString
    val s = spark.newSession()
    val s2 = spark.newSession()
    def cold(): SparkSession = {
      Memo.fireSessionEnd(s)
      sys.props("graft.index.dir") = stores.last.toString
      s2
    }
    try f(s, dir.toString, () => cold())
    finally {
      Seq(s, s2).foreach(Memo.fireSessionEnd)
      sys.props.remove("graft.index.dir")
      (dir +: stores).foreach(p => new scala.reflect.io.Directory(p.toFile).deleteRecursively())
    }
  }

  /** Replace `target` in place with `df` written as one parquet file, with
    * an mtime past the old one. */
  private def rewrite(df: DataFrame, target: Path): Unit = {
    val mtime = target.toFile.lastModified
    val stage = Files.createTempDirectory("graft_memo_stage").resolve("out")
    df.coalesce(1).write.parquet(stage.toString)
    val part = Files.list(stage).iterator.asScala.find(_.toString.endsWith(".parquet")).get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    new scala.reflect.io.Directory(stage.getParent.toFile).deleteRecursively()
    target.toFile.setLastModified(mtime + 10000L)
  }

  private def rows(s: SparkSession, entry: String, d: String): Seq[Row] =
    graft.SparkEntry.queries(entry)(s, d).collect().toSeq

  test("(a, e) a WDI extract rewritten in place rebuilds the outputs and supersedes the old tables") {
    val s = spark.newSession()
    val dir = WdiFixture.write()
    def byCountry(): Seq[Row] =
      WdiPipelines.outputs(s, dir, WdiPipelines.quad)("sd_by_country_logquad")
        .orderBy("Country Code").collect().toSeq
    try {
      val idle = s.sparkContext.getPersistentRDDs.keySet
      val before = byCountry()
      assert(before.exists(_.getString(0) == "MEX"))
      val entries = Memo.size
      // the pass leaves no table persisted: its rows are driver-local
      assert(s.sparkContext.getPersistentRDDs.keySet == idle, "a WDI pass left a table persisted")

      // drop MEX from the LA extract, in place
      val la = Paths.get(dir, "GDP_LA_WDI.csv")
      val mtime = la.toFile.lastModified
      val lines = Files.readAllLines(la).asScala.filterNot(_.contains(",MEX,"))
      Files.write(la, lines.asJava)
      la.toFile.setLastModified(mtime + 10000L)

      // (a) the new rows, not the memoized ones
      assert(byCountry() == before.filterNot(_.getString(0) == "MEX"))
      // (e) the rebuilt rows took the superseded entry's place instead of
      // adding one, and the rebuild left no table persisted either
      val now = s.sparkContext.getPersistentRDDs.keySet
      assert(now == idle, s"the rebuild left tables persisted: ${now -- idle}")
      assert(Memo.size == entries, s"memo grew on a rewrite: $entries -> ${Memo.size}")
    } finally Memo.fireSessionEnd(s)
  }

  test("(b) regenerated embeddings under unchanged documents recompute the swap pairs") {
    withCopy { (s, d, cold) =>
      val warm = rows(s, "sim_rrf_swap_overlap", d)
      val emb = s.read.parquet(s"$d/embeddings.parquet").orderBy("vec_id").collect()
      val swapped = emb.zip(emb.reverse).map { case (r, o) => Row(r.get(0), o.get(1), r.get(2)) }
      rewrite(s.createDataFrame(swapped.toSeq.asJava, emb.head.schema),
        Paths.get(d, "embeddings.parquet"))
      val after = rows(s, "sim_rrf_swap_overlap", d)
      val fresh = rows(cold(), "sim_rrf_swap_overlap", d)
      assert(fresh != warm, "the regenerated embeddings do not move the swap overlap")
      assert(after == fresh, "swap pairs served from the old embeddings")
    }
  }

  test("(c) a rewritten documents table retrains the BPE merges") {
    withCopy { (s, d, cold) =>
      val warm = rows(s, "text_bpe_train", d)
      val docs = s.read.parquet(s"$d/documents.parquet")
      rewrite(docs.withColumn("text", reverse(col("text"))).localCheckpoint(),
        Paths.get(d, "documents.parquet"))
      val after = rows(s, "text_bpe_train", d)
      val fresh = rows(cold(), "text_bpe_train", d)
      assert(fresh != warm, "reversed text trains the same merges")
      assert(after == fresh, "BPE merges served from the old documents")
    }
  }

  test("(d) a frame build that reads an undeclared file throws before the store write") {
    withCopy { (s, d, _) =>
      val docs = Seq(s"$d/documents.parquet")
      val undeclared = intercept[IllegalStateException] {
        Memo.frame(s, "memo_spec_undeclared", docs)(s.read.parquet(s"$d/embeddings.parquet"))
      }
      assert(undeclared.getMessage.contains("embeddings.parquet"), undeclared.getMessage)
      intercept[IllegalStateException] {
        VectorOps.shared(s, "memo_spec_undeclared", docs)(s.read.parquet(s"$d/embeddings.parquet"))
      }
      val vroot = new java.io.File(sys.props("graft.index.dir"), s"v${VectorOps.IndexFormatVersion}")
      // dot-prefixed entries are the publish protocol's lock files
      val published = Option(vroot.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      assert(published.isEmpty, s"an undeclared build reached the index store: $published")
      // the declared read builds
      assert(Memo.frame(s, "memo_spec_declared", docs)(s.read.parquet(docs.head)).count() == 500)
    }
  }

  test("(f) rewritten documents under unchanged embeddings rebuild the stored minhash pairs") {
    withCopy { (s, d, cold) =>
      val warm = rows(s, "dedup_minhash_lsh", d)
      Memo.fireSessionEnd(s)
      val docs = s.read.parquet(s"$d/documents.parquet")
      rewrite(docs.filter(col("doc_id") % 2 === 0).localCheckpoint(),
        Paths.get(d, "documents.parquet"))
      // a second session over the same index store: the pair graph must be
      // keyed on the documents it reads, not on the unchanged embeddings
      val s2 = spark.newSession()
      val after = try rows(s2, "dedup_minhash_lsh", d) finally Memo.fireSessionEnd(s2)
      val fresh = rows(cold(), "dedup_minhash_lsh", d)
      assert(fresh != warm, "the rewritten documents do not move the pair graph")
      assert(after == fresh, "the store served the pairs of the old documents")
    }
  }

  test("(g) a file rewritten inside a partitioned dataset changes its fingerprint") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft_memo_nested")
    try {
      import s.implicits._
      val ds = dir.resolve("x.parquet")
      Seq((1L, 1), (2L, 2)).toDF("id", "k").write.partitionBy("k").parquet(ds.toString)
      var builds = 0
      def total(): Long = Memo.value(s, "memo_spec_nested", Seq(ds.toString)) {
        builds += 1
        s.read.parquet(ds.toString).agg(sum("id")).head().getLong(0)
      }
      assert(total() == 3L && builds == 1)
      val before = Memo.fp(ds.toString)
      val part = ds.resolve("k=1")
      val file = Files.list(part).iterator.asScala.find(_.toString.endsWith(".parquet")).get
      // the checksum sidecar would no longer match the rewritten file
      Files.deleteIfExists(part.resolve(s".${file.getFileName}.crc"))
      rewrite(Seq(10L).toDF("id"), file)
      assert(Memo.fp(ds.toString) != before, "a nested rewrite left the fingerprint unchanged")
      assert(total() == 12L && builds == 2, "the memo served the old partition")
    } finally {
      Memo.fireSessionEnd(s)
      new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
  }

  test("no fingerprint typed into a key in src/main") {
    // the store derives keys from declared inputs (StoreKey); only the memo
    // and the store's key and liveness code read fingerprints
    val call = """\bMemo\.fp\(""".r
    val owners = Set("Memo.scala", "StoreKey.scala")
    val inString = """\$\{[^}]*Fp[^}]*\}|\$[A-Za-z_]\w*Fp\b""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offenders = files.flatMap { p =>
      val src = Files.readString(p)
      val calls = if (owners(p.getFileName.toString)) Nil else call.findAllIn(src).toList
      (calls ++ inString.findAllIn(src)).map(m => s"$p: $m")
    }
    assert(offenders.isEmpty, s"fingerprints outside the key rule: ${offenders.mkString(", ")}")
  }

  test("no memo map in src/main outside Memo.scala") {
    val memo = """concurrent\.TrieMap|SessionCaches""".r
    // per-key build monitors: locks, not memos
    val locks = """private val storeLocks\s*=\s*scala\.collection\.concurrent\.TrieMap""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offenders = files.filterNot(_.getFileName.toString == "Memo.scala").filter { p =>
      memo.findFirstIn(locks.replaceAllIn(Files.readString(p), "")).isDefined
    }
    assert(offenders.isEmpty, s"memo maps outside graft.Memo: ${offenders.mkString(", ")}")
  }
}
