package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** A durable-key prefix shared by one family's artifacts, and the input files
  * those artifacts are built from (their memo inputs). */
private[graft] final case class StoreKey(key: String, inputs: Seq[String])

/** Similarity search + near-dedup over embeddings and documents.
  *
  * Scale shapes:
  *  - brute-force cosine top-k: broadcast the (small) query set, scan the big
  *    side once — the exact baseline, linear in corpus size;
  *  - LSH (random hyperplane) top-k: shuffle on bucket id, compare within
  *    buckets only — the approximate scale path;
  *  - MinHash-LSH near-dup: banded signature group-join (never all-pairs),
  *    then exact jaccard verification on the candidates.
  */
object VectorOps {

  /** Sequential-fold dot product of two array<double> columns: the native
    * whole-stage-codegen expression [[graft.functions.VecDot]], bit-identical
    * (IEEE order and null semantics) to the HOF form
    * aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)
    * it replaced — HOFs are CodegenFallback, costing a zipped-array
    * allocation plus interpreted lambdas per candidate pair. Same
    * left-to-right summation order as the DuckDB oracle's list_sum. */
  private def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Bounded index-build sample (4096 vectors, ~2 MB) of `emb`, shared by
    * the IVF and PQ codebook trainings: one driver-side sample job per
    * dataset instead of one per registered query (topk and its recall gate
    * used to re-run it). `tag` names which frame of the dataset `emb` is. */
  private def indexSample(s: SparkSession, emb: DataFrame, tag: String,
      inputs: Seq[String]): Array[Array[Double]] =
    Memo.value(s, "index_sample", inputs, memoName(tag, inputs))(
      sampleOf(Memo.declared(inputs)(emb)))
  private def sampleOf(emb: DataFrame): Array[Array[Double]] =
    emb.orderBy("vec_id").limit(4096).select("e").collect().map(_.getSeq[Double](0).toArray)

  /** Durable layer under the in-memory share: at 100 TB an ANN index is a
    * TABLE, not a session cache — codes / inverted file / baseline are
    * written to parquet once per (dataset, params, format-version) and any
    * later session (or a second job) reads them back instead of re-encoding
    * the corpus. Rebuild-on-missing; the format version in the path
    * invalidates old layouts when the index schema changes. Disabled via
    * SPARK_GRAFT_NO_INDEX_STORE=1 (tests that mutate build logic). */
  private[queries] val IndexFormatVersion = 1

  /** The source file of every embeddings-derived artifact, and its
    * fingerprint as the durable keys embed it: a regenerated dataset at the
    * SAME path (the driver rewrites testdata per round) can never hit a
    * stale durable index. Recomputed per call — a directory listing. */
  private[graft] def embIn(d: String): String = s"$d/embeddings.parquet"
  private[graft] def dataFp(d: String): String = Memo.fp(embIn(d))
  /** Same over documents.parquet — keys the text-derived artifacts. */
  private[queries] def docsIn(d: String): String = s"$d/documents.parquet"
  private[queries] def docsFp(d: String): String = Memo.fp(docsIn(d))
  /** The `dir:fingerprint` prefix of `d`'s embeddings-derived durable keys,
    * and of its text-derived ones (plus `suffix`). */
  private[queries] def embKey(d: String): StoreKey =
    StoreKey(s"$d:${dataFp(d)}", Seq(embIn(d)))
  private[queries] def docsKey(d: String, suffix: String = ""): StoreKey =
    StoreKey(s"$d:${docsFp(d)}$suffix", Seq(docsIn(d)))

  /** Per-key JVM-local build monitors, lazily striped by artifact path.
    * In-process builders of ONE key must serialize here because JVM file
    * locks are per-process — overlapping same-process acquisition of the
    * key's [[java.nio.channels.FileLock]] would throw — but builders of
    * DIFFERENT keys proceed concurrently. The r14 design used one global
    * monitor, so while one thread waited out a PEER PROCESS's build of key
    * A (StorePublish blocks holding the monitor), every other thread in
    * this JVM was locked out of ALL keys, including cheap REUSE reads of
    * already-published artifacts (r14 VERDICT, what's-wrong #2: cross-key
    * head-of-line blocking). Cross-process correctness never leaned on
    * this monitor — that is StorePublish's per-key file-lock protocol.
    * Monitors are never evicted: one Object per distinct artifact path
    * touched in a JVM lifetime is bounded by the registry size. */
  private val storeLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def storeLockFor(path: String): Object =
    storeLocks.getOrElseUpdate(path, new Object)
  /** Serializes concurrent vacuums in this JVM. Vacuum's safety against
    * live BUILDERS (this JVM or a peer) is the key-lock liveness probe
    * ([[StorePublish.keyLockHeld]], which reports same-process holders via
    * the overlap exception), not a shared monitor with the build path. */
  private val vacuumLock = new Object

  /** Store-event counters for the bench's per-entry adjudication: durableAt
    * bumps one on every BUILD/REUSE decision, and Bench snapshots the pair
    * around each construct/run window so bench_full.json can say whether an
    * outlier's timing window contained index-store work at all (r13's
    * sim_rrf_topk read 3-4x its components with both existing flags empty —
    * the bench could not name its own biggest line). Monotonic JVM-lifetime
    * counters; consumers diff snapshots. */
  private[graft] val storeBuildCount = new java.util.concurrent.atomic.AtomicLong
  private[graft] val storeReuseCount = new java.util.concurrent.atomic.AtomicLong

  private[queries] def durable(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    Memo.storeRoot match {
      case None => build
      case Some(root) => durableAt(s, root, key)(build)
    }

  /** [[durable]] with a PARTITIONED on-disk layout and NO session persist:
    * the artifact is written `partitionBy(partCols)` (hash-bucket columns
    * the caller computes), so a later probe that filters on those columns
    * PRUNES to the touched partition directories instead of scanning the
    * whole stored artifact — the canonical-substring append's r13 `weak`
    * was exactly one un-pruned scan of a 3.8M-row stored occurrence index
    * per 1% ingest. Deliberately NOT routed through [[shared]]'s persist():
    * a `.persist()` on top of the parquet read would turn the probe into an
    * InMemoryTableScan and the disk-level partition pruning would never
    * happen. Reads back with the partition columns (directory-encoded). */
  private[queries] def durablePartitioned(s: SparkSession, key: String,
      partCols: Seq[String])(build: => DataFrame): DataFrame =
    Memo.storeRoot match {
      case None => build
      case Some(root) => durableAt(s, root, key, partCols)(build)
    }

  /** Root-parameterized store write/read — the body of [[durable]], also
    * used directly by the vacuum gate entry against its own throwaway
    * root (so the gate certifies the verb without touching the session's
    * real store and independent of SPARK_GRAFT_NO_INDEX_STORE). */
  private[queries] def durableAt(s: SparkSession, root: String, key: String,
      partCols: Seq[String] = Nil)(
      build: => DataFrame): DataFrame = {
        val safe = key.replaceAll("[^A-Za-z0-9._-]", "_")
        // short digest disambiguates keys that sanitize to the same name
        val digest = java.lang.Long.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(key).toLong & 0xffffffffL)
        val name = s"${safe}_$digest"
        val vroot = new java.io.File(s"$root/v$IndexFormatVersion")
        val path = s"${vroot.getPath}/$name"
        // Per-KEY JVM-local monitor (serializes this process's builders of
        // this artifact only) + the cross-PROCESS protocol in StorePublish:
        // build into a keyed temp sibling, publish by atomic rename,
        // builders of one key serialize on an OS file lock. A concurrent
        // Spark app can only ever observe "absent" or "complete" — never a
        // half-written artifact — and two apps racing on one key build it
        // exactly once between them. Builders of different keys in this
        // JVM overlap freely (IndexStoreSpec pins it).
        storeLockFor(path).synchronized {
          val built = StorePublish.buildOnce(vroot, name) { tmp =>
            if (partCols.isEmpty) build.write.mode("overwrite").parquet(tmp.getPath)
            else
              // one exchange on the bucket columns before the partitioned
              // write: without it every task writes a file per bucket it
              // holds (tasks x buckets small files); with it each bucket
              // lands wholly inside one task's output
              build.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
                .write.partitionBy(partCols: _*).mode("overwrite").parquet(tmp.getPath)
            // key manifest for vacuumStore: records WHICH (dataset, fp)
            // this artifact was keyed to, since the sanitized dir name is
            // not reliably parseable back. Underscore prefix = invisible
            // to the parquet reader, like _SUCCESS. `parts` are the key's
            // ':'-separated components recorded AT BUILD TIME — every call
            // site embeds the dataset dir and its fingerprint as whole
            // components, so vacuum's liveness test is exact component
            // equality, never substring containment (a liveDir
            // '/data/sf0.1' must not match a key for '/data/sf0.12', and
            // an 8-hex fingerprint must not match inside another
            // component). Written INSIDE the temp dir, pre-publish: the
            // data, its committer marker, and the vacuum manifest become
            // visible in one rename, so the data-committed-manifest-pending
            // window a concurrent vacuum had to tolerate no longer exists
            // for new artifacts (vacuum stays conservative for legacy ones).
            try java.nio.file.Files.writeString(
              java.nio.file.Paths.get(tmp.getPath, "_graft_key.json"),
              s"""{"key": ${graft.Json.str(key)}, "parts": ${
                key.split(':').toSeq.map(graft.Json.str).mkString("[", ", ", "]")}}""")
            catch { case scala.util.control.NonFatal(_) => () }
          }
          if (built) {
            storeBuildCount.incrementAndGet()
            System.err.println(s"[graft] ann index store: BUILD $path")
          } else {
            // the driver-visible evidence that a fresh session reuses the
            // on-disk index instead of re-encoding the corpus
            storeReuseCount.incrementAndGet()
            System.err.println(s"[graft] ann index store: REUSE $path")
          }
        }
        // the footer schema once per session (a bare read infers it with a
        // Spark job on every call); partition columns come with it
        s.read.schema(Tables.parquetSchema(s, path)).parquet(path)
    }

  /** Store GC — the eviction verb of the durable artifact store. Artifacts
    * accumulate one dir per (dataset path, fingerprint, params); every
    * regeneration of a dataset (the driver rewrites testdata per round; a
    * production warehouse re-ingests) strands the previous fingerprint's
    * index files forever. Vacuum drops every artifact whose key manifest
    * names a dataset that is NOT live anymore — either the path is not in
    * `liveDirs` or its recorded fingerprint no longer matches the CURRENT
    * content fingerprint of any key-bearing file in that dataset (the same
    * name|size|mtime fingerprint the keys embed, recomputed fresh).
    * Conservative by construction: artifacts without a manifest (written
    * by older builds, or non-dataset test keys) are left untouched and
    * reported, never deleted. Returns one
    * (artifact, action) row per store entry: kept | dropped | kept_no_meta.
    */
  private[graft] def vacuumStore(liveDirs: Seq[String]): Seq[(String, String)] =
    Memo.storeRoot match {
      case None => Seq.empty
      case Some(root) => vacuumAt(root, liveDirs)
    }

  /** Root-parameterized vacuum — the body of [[vacuumStore]]; the gate
    * entry runs it against its own throwaway root. */
  private[queries] def vacuumAt(root: String,
      liveDirs: Seq[String]): Seq[(String, String)] = {
        val vdir = new java.io.File(s"$root/v$IndexFormatVersion")
        val all = Option(vdir.listFiles()).getOrElse(Array.empty)
        // published artifacts only — dot-prefixed entries are the publish
        // protocol's own files (in-flight temp dirs, key lock files) and
        // are handled separately below, never by the liveness rules
        val arts = all.filter(f => f.isDirectory && !f.getName.startsWith("."))
          .sortBy(_.getName)
        // a temp dir is garbage iff its builder is dead; the key lock is
        // the live-builder signal (held for the whole build, released by
        // the OS on process death). Probe errs toward "held" → spared.
        val tmps = all.filter(f => f.isDirectory && f.getName.startsWith(".tmp_"))
          .sortBy(_.getName)
        // fresh fingerprints of every child a key can embed (embeddings,
        // documents — plus the rest of the dir for future key shapes).
        // Children are files OR directories: Spark-written datasets are
        // parquet DIRECTORIES (the production shape; Memo.fp handles both),
        // and filtering to plain files left liveTags empty for exactly
        // that layout — every artifact keyed to a live Spark-written
        // dataset failed the fingerprint match and was deleted.
        val liveTags: Map[String, Set[String]] = liveDirs.map { d =>
          val children = Option(new java.io.File(d).listFiles())
            .getOrElse(Array.empty)
          d -> children.map(f => Memo.fp(f.getPath)).toSet
        }.toMap
        vacuumLock.synchronized {
          val tmpReport = tmps.toSeq.map { t =>
            StorePublish.tmpOwner(t.getName) match {
              case Some(owner) if !StorePublish.keyLockHeld(vdir, owner) =>
                StorePublish.deleteRecursively(t)
                t.getName -> "dropped_stale_tmp"
              case _ => t.getName -> "kept_building"
            }
          }
          tmpReport ++ arts.toSeq.map { art =>
            val metaPath = java.nio.file.Paths.get(s"${art.getPath}/_graft_key.json")
            if (!java.nio.file.Files.exists(metaPath)) art.getName -> "kept_no_meta"
            else {
              // exact-match liveness: the build-time `parts` components
              // (manifests from before the field carried it fall back to
              // re-splitting the stored key — same grammar) must contain
              // the live dataset DIR and one of its CURRENT fingerprints
              // as whole components. Substring containment is wrong in
              // both directions: path-prefix collisions ('/data/sf0.1'
              // inside a '/data/sf0.12' key) and a fingerprint's 8 hex
              // chars appearing inside an unrelated component.
              val fields = org.json4s.jackson.JsonMethods
                .parse(java.nio.file.Files.readString(metaPath)) match {
                case org.json4s.JObject(fs) => fs.toMap
                case _ => Map.empty[String, org.json4s.JValue]
              }
              val parts: Set[String] = fields.get("parts") match {
                case Some(org.json4s.JArray(vs)) =>
                  vs.collect { case org.json4s.JString(v) => v }.toSet
                case _ => fields.get("key") match {
                  case Some(org.json4s.JString(k)) => k.split(':').toSet
                  case _ => Set.empty
                }
              }
              val live = liveDirs.exists(d =>
                parts.contains(d) && liveTags(d).exists(parts.contains))
              if (live) art.getName -> "kept"
              else {
                new scala.reflect.io.Directory(art).deleteRecursively()
                art.getName -> "dropped"
              }
            }
          }
        }
    }

  /** An ANN index artifact (the encoded corpus: PQ codes, the IVF inverted
    * file, the brute-force baseline a gate compares against), read from the
    * durable store — built there once per key across sessions — and
    * persisted once per session, so a topk query and its recall gate share
    * one encoding of the corpus. The per-query SCORING scans stay un-cached
    * so bench times keep measuring real query execution. `inputs` are the
    * files `build` reads; the build is checked against them before its
    * store write. */
  private[queries] def shared(s: SparkSession, key: String, inputs: Seq[String])(
      build: => DataFrame): DataFrame =
    Memo.frame(s, memoName(key, inputs), inputs)(
      durable(s, key)(Memo.declared(inputs)(build)))

  /** Session-scoped persist WITHOUT the durable layer: for frames that are
    * recomputed per session by CONTRACT (the BM25 append entry's
    * re-weighted corpus statistics — a store write would hide exactly the
    * re-weight work the entry measures across fresh-JVM runs) but are
    * consumed by several subplans of one query family, where plain
    * laziness would recompute the build once per exchange. */
  private[queries] def sharedLocal(s: SparkSession, key: String, inputs: Seq[String])(
      build: => DataFrame): DataFrame =
    Memo.frame(s, key, inputs)(build)

  /** `key` with each ':'-component that is an input's current fingerprint
    * masked: durable keys embed their inputs' fingerprints as whole
    * components (the store outlives the session), but the memo tracks the
    * fingerprint itself, so a regenerated input supersedes its entry
    * instead of adding one. */
  private def memoName(key: String, inputs: Seq[String]): String = {
    val fps = inputs.map(Memo.fp).toSet
    key.split(":", -1).map(c => if (fps(c)) "*" else c).mkString(":")
  }

  /** Driver-green certificate for the store's GC verb — the fourth index
    * lifecycle verb made driver-visible (create = ann_index_store_gate,
    * append = ann_ivf_append_topk, delete = ann_ivf_delete_topk, vacuum =
    * here; it was spec-only before). Against a THROWAWAY root (never the
    * session's real store), build four artifacts spanning the contract's
    * cases — live-keyed (current dataset dir + current fingerprint),
    * stale-fingerprint, gone-dataset, and manifest-less — run the vacuum,
    * and certify: exactly the live artifact kept, exactly the stale+gone
    * pair dropped (and gone from disk), the manifest-less one spared
    * conservatively, and the survivor still readable with NO rebuild.
    * Store work happens at plan-build (the gate convention: Bench times
    * execution only); the emitted row is data-independent, so the oracle
    * states it as constants and any GC regression — deleting a live
    * artifact, sparing a stale one, touching unmanifested dirs — flips a
    * count or the boolean and fails the driver hash. */
  private[queries] def indexVacuumGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_vacgate").toString
    try {
      val fp = dataFp(d)
      def art(key: String): Unit =
        durableAt(s, root, key)(s.range(1).toDF("id")).count()
      art(s"vacgate_live:$d:$fp")
      art(s"vacgate_stale:$d:00000000")
      art(s"vacgate_gone:/graft/no/such/ds:$fp")
      art(s"vacgate_nometa:$d:$fp")
      val vdir = new java.io.File(s"$root/v$IndexFormatVersion")
      vdir.listFiles().filter(_.getName.startsWith("vacgate_nometa")).foreach {
        a => java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(a.getPath, "_graft_key.json"))
      }
      val report = vacuumAt(root, Seq(d))
      def n(action: String): Long = report.count(_._2 == action).toLong
      val droppedGone = !vdir.listFiles().exists(a =>
        a.getName.startsWith("vacgate_stale") || a.getName.startsWith("vacgate_gone"))
      val survivorOk = // reads back from parquet; the thunk must NOT run
        durableAt(s, root, s"vacgate_live:$d:$fp")(
          sys.error("vacuum gate: live artifact was rebuilt")).count() == 1
      val ok = report.size == 4 && droppedGone && survivorOk &&
        report.toMap.get(vdir.listFiles()
          .find(_.getName.startsWith("vacgate_nometa")).map(_.getName)
          .getOrElse("")).contains("kept_no_meta")
      Seq((n("kept"), n("dropped"), n("kept_no_meta"), ok))
        .toDF("n_kept", "n_dropped", "n_no_meta", "vacuum_ok")
    } finally new scala.reflect.io.Directory(new java.io.File(root))
      .deleteRecursively()
  }

  /** Distinct word 3-gram shingles; whole text when shorter than 3 tokens. */
  private[queries] def shingles3(text: String): Array[String] = {
    val toks = text.split(" ", -1) // keep trailing empties: Spark/DuckDB split semantics
    if (toks.length < 3) Array(text)
    else (0 to toks.length - 3)
      .map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").distinct.toArray
  }

  /** Column form of [[shingles3]], matching the DuckDB oracle expression.
    * `toks` must be a materialized `split(text, " ")` column named in the
    * plan (NOT re-derived inside the lambda: Catalyst re-evaluates lambda
    * subexpressions per element, turning the shingle pass O(n_tokens ×
    * n_chars) — measured as the dominant cost of the shingle queries). */
  private[queries] def shingleCol(text: Column, toksName: String): Column = {
    val toks = col(toksName)
    when(size(toks) < 3, array(text)).otherwise(
      array_distinct(expr(
        s"""transform(sequence(1, size($toksName) - 2),
           |  i -> concat_ws(' ', element_at($toksName, i),
           |                      element_at($toksName, i + 1),
           |                      element_at($toksName, i + 2)))""".stripMargin)))
  }

  /** Deterministic random hyperplanes for sign-LSH (seeded, code not data). */
  private[queries] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.fill(nPlanes, dim)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** Random-projection (JL) dimensionality reduction: y = (R·e) / √kOut
    * with R a seeded ±1 matrix — the achlioptas-style transform a 100 TB
    * embedding pipeline runs BEFORE indexing (a 4× narrower vector cuts
    * every downstream shuffle, index artifact, and scan by the same
    * factor, with distance distortion bounded by the JL lemma). The
    * matrix is code-not-data (the same `hyperplanes` draw the LSH family
    * uses, row-major from java.util.Random(seed)), so the whole transform
    * is exactly replayable in SQL: per output dim, the same left-to-right
    * dot fold, scaled by the exactly-representable 1/√16 = 0.25. One
    * narrow map pass over the corpus — no shuffle, no driver data. */
  private[queries] def projectedEmb(s: SparkSession, d: String,
      kOut: Int, seed: Long): DataFrame =
    projectVecs(s, embOf(s, d).repartition(col("vec_id")), kOut, seed)

  /** The JL map pass over an arbitrary (id, vec) frame — shared by the
    * stored-embedding projection above and the clustered recall gate's
    * derived corpus. Strict left-to-right accumulation per output dim,
    * the fold order the SQL oracle replays. */
  private[queries] def projectVecs(s: SparkSession, vecs: DataFrame,
      kOut: Int, seed: Long): DataFrame = {
    import s.implicits._
    val planes = hyperplanes(kOut, dim = 64, seed)
    val scale = 1.0 / math.sqrt(kOut.toDouble) // kOut=16 → exactly 0.25
    vecs.as[(Long, Array[Double])].map { case (id, e) =>
        val y = new Array[Double](kOut)
        var j = 0
        while (j < kOut) {
          val p = planes(j)
          var acc = 0.0
          var i = 0
          while (i < e.length) { acc += e(i) * p(i); i += 1 }
          y(j) = acc * scale
          j += 1
        }
        (id, y)
      }.toDF("vec_id", "y")
  }

  /** Clustered-vector JL recall gate — the projection family's near-dup-
    * preservation certificate the driver corpus could not host: its
    * embeddings are isotropic (full-dimension 3-NN label accuracy sits at
    * the chance floor), so a recall gate on them would pin a coin flip
    * (the honesty note at `proj_distortion_gate`). This entry DERIVES a
    * clustered corpus from the stored embeddings with integer-exact
    * mixing weights, so both engines reconstruct it bit-identically:
    *
    *   anchor(c) = e(min vec_id with vec_id % 16 = c)
    *   v(id)     = anchor(basis % 16) + 0.5·e(basis)          basis = id,
    *   except planted ids (id % 19 == 1, partner id-1 present):
    *   v(id)     = v(id-1) + 0.0625·e(id)                     basis = id-1
    *
    * giving ~0.9997-cosine planted pairs inside ~0.8-cosine clusters over
    * ~0-cosine cross-cluster mass. The gate ranks every planted query's
    * top-1 neighbor in BOTH the full derived space (construction sanity)
    * and the kOut=16 PROJECTED space, and counts partners recalled. A
    * broken projection (wrong matrix rows, scale, or transform) collapses
    * projected top-1 to chance and fails the gate; an intact one passes
    * with slack, because a linear map sends the planted pair's tiny
    * difference vector to a tiny difference vector while the ~0.2 cosine
    * margin to the nearest cluster mate dwarfs JL distortion at kOut=16.
    * Every scored cosine is the same left-to-right fold on both engines
    * (derived vectors, projection, dot, norm), so the emitted counts are
    * deterministic — booleans + integer counts only, no FP hash surface. */
  private[queries] def projClusterRecallGate(s: SparkSession, d: String,
      kOut: Int, seed: Long): DataFrame = {
    val e = embOf(s, d)
    val anchors = e.withColumn("c", pmod(col("vec_id"), lit(16)))
      .groupBy("c").agg(min("vec_id").as("aid"))
      .join(e.select(col("vec_id").as("aid"), col("e").as("ae")), Seq("aid"))
      .select(col("c"), col("ae"))
    val withBasis = e.select(col("vec_id"),
        when(col("vec_id") % 19 === 1, col("vec_id") - 1)
          .otherwise(col("vec_id")).as("basis_id"))
      .join(e.select(col("vec_id").as("basis_id"), col("e").as("be")),
        Seq("basis_id"))
    val derived = withBasis
      .withColumn("c", pmod(col("basis_id"), lit(16)))
      .join(broadcast(anchors), Seq("c"))
      .join(e.select(col("vec_id"), col("e").as("oe")), Seq("vec_id"))
      .withColumn("v0", expr("zip_with(ae, be, (a, b) -> a + 0.5 * b)"))
      .withColumn("v", when(col("vec_id") % 19 === 1,
        expr("zip_with(v0, oe, (a, b) -> a + 0.0625 * b)"))
        .otherwise(col("v0")))
      .select(col("vec_id"), col("v"))
      .localCheckpoint(false) // feeds both spaces + the pair count
    val projected = projectVecs(s, derived, kOut, seed)
      .select(col("vec_id"), col("y").as("v"))
    // partner-recall top-1 in a given space: planted ids query, everyone
    // competes, argmax cosine with id tie-break
    def top1(vecs: DataFrame): DataFrame = {
      val en = vecs.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      val q = broadcast(en.filter(col("vec_id") % 19 === 1)
        .select(col("vec_id").as("qid"), col("v").as("qe"),
          col("nrm").as("qn")))
      val scored = en.join(q, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          (dot(col("qe"), col("v")) / (col("qn") * col("nrm"))).as("cs"))
      val w = Window.partitionBy("qid").orderBy(col("cs").desc, col("nid"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qid"), col("nid"))
    }
    // one tagged union + one aggregation — no single-row cross join (the
    // PlanQualitySpec cartesian net stays empty)
    val tagged = derived.filter(col("vec_id") % 19 === 1)
        .select(lit("pair").as("t"))
      .unionByName(top1(derived).filter(col("nid") === col("qid") - 1)
        .select(lit("full").as("t")))
      .unionByName(top1(projected).filter(col("nid") === col("qid") - 1)
        .select(lit("proj").as("t")))
    tagged.agg(
        sum(when(col("t") === "pair", 1L).otherwise(0L)).as("np"),
        sum(when(col("t") === "full", 1L).otherwise(0L)).as("nf"),
        sum(when(col("t") === "proj", 1L).otherwise(0L)).as("nj"))
      .select(col("np").cast("long").as("n_pairs"),
        col("nf").cast("long").as("full_top1_recall"),
        col("nj").cast("long").as("proj_top1_recall"),
        (col("nf") === col("np")).as("full_all_recalled"),
        // 0.95 floor in integer arithmetic: recalled/19 >= 0.95 * n/19
        (col("nj") * 20 >= col("np") * 19).as("proj_recall_ge_95"))
  }

  /** Brute-force cosine top-k in the PROJECTED space — the quality half of
    * the dim-reduction story: rank with 4× narrower vectors, then gate the
    * ranking against the full-dimension truth (proj_recall_gate). */
  private[queries] def projectedTopK(s: SparkSession, d: String,
      kOut: Int, seed: Long, topK: Int): DataFrame = {
    val proj = projectedEmb(s, d, kOut, seed)
      .select(col("vec_id"), col("y").as("e"))
    bruteForceTopK(proj, topK)
  }

  /** embeddings as (vec_id, e: array<double>). Registers the graft native
    * functions (vec_dot) so downstream plans resolve without requiring the
    * session to have been built with GraftExtensions. */
  private def embOf(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
  }

  /** (vec_id, e, nrm): norms precomputed once per vector so every pair
    * scoring downstream is one dot-product pass, not dot + two norms.
    * sqrt(dot(e,e)) is the identical expression the inline cosine would
    * evaluate — values, and hence oracle hashes, are bit-identical. */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nrm", sqrt(dot(col("e"), col("e"))))

  /** Exact brute-force cosine top-k: broadcast the (small) query sample,
    * scan the corpus once. Linear in corpus size — the exact baseline.
    * `qmod` picks the standing query schedule (`vec_id % qmod == 0`); a
    * multiple of the default 50 selects a SUB-schedule with identical
    * per-query rows (rankings are per-query independent), and because the
    * predicate sits directly on the embeddings input it reaches the scan
    * as a DataFilter — the sampled swap certificate's exact side is
    * sampled-queries x corpus BY PLAN, not post-filtered after the full
    * quadratic work (PlanQualitySpec pins the pushdown). */
  private[queries] def bruteForceTopK(emb: DataFrame, topK: Int,
      qmod: Long = 50): DataFrame = {
    val en = withNorm(emb)
    val q = broadcast(en.filter(col("vec_id") % qmod === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn")))
    val scored = en.join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("c"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"),
        round(col("c"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** The exact top-1 baseline every ANN recall gate compares against, as a
    * stored artifact shared by the gates. */
  private def storedTop1(s: SparkSession, d: String): DataFrame =
    shared(s, s"bf_top1:$d:${dataFp(d)}", Seq(embIn(d)))(bruteForceTopK(embOf(s, d), 1))

  /** RRF fusion of the cosine and BM25 top-20s, UNORDERED (see the
    * registry comment at `sim_rrf_topk`); the ordered entry and the swap
    * consumers wrap it. */
  private def rrfFused(s: SparkSession, d: String,
      qmod: Long = 50): DataFrame = {
    val cosR = bruteForceTopK(embOf(s, d), topK = 20, qmod = qmod)
      .select(col("qid"), col("nid"), col("rnk").as("ra"))
    val lexR = LlmText.bm25Ranked(s, d, topN = 20, qmod = qmod)
      .select(col("qid"), col("nid"), col("rnk").as("rb"))
    val fused = cosR.join(lexR, Seq("qid", "nid"), "full")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("ra").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rb").cast("double")), lit(0.0)))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("nid"))
    fused.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk").cast("long").as("rnk"), col("nid"),
        round(col("rrf"), 6).as("rrf"))
  }

  private def rrfTopK(s: SparkSession, d: String,
      qmod: Long = 50): DataFrame =
    rrfFused(s, d, qmod).orderBy("qid", "rnk")

  /** RRF with the IVF index as the dense side, UNORDERED (see the
    * registry comment at `sim_rrf_ann_topk`). */
  private def rrfAnnFused(s: SparkSession, d: String,
      qmod: Long = 50): DataFrame = {
    val annR = annIvfTopK(s, d, k = 16, nProbe = 4, topK = 20, qmod = qmod)
      .select(col("qid"), col("nid"), col("rnk").as("ra"))
    val lexR = LlmText.bm25Ranked(s, d, topN = 20, qmod = qmod)
      .select(col("qid"), col("nid"), col("rnk").as("rb"))
    val fused = annR.join(lexR, Seq("qid", "nid"), "full")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("ra").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rb").cast("double")), lit(0.0)))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("nid"))
    fused.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk").cast("long").as("rnk"), col("nid"),
        round(col("rrf"), 6).as("rrf"))
  }

  private def rrfAnnTopK(s: SparkSession, d: String,
      qmod: Long = 50): DataFrame =
    rrfAnnFused(s, d, qmod).orderBy("qid", "rnk")

  /** The nDCG rank-discount table 1/log2(rnk+1) for rnk 1..10, QUANTIZED
    * to 6dp HALF_UP and rendered as one CASE text of DECIMAL literals —
    * shared VERBATIM by the Spark expression and the DuckDB oracle, so no
    * libm log ever enters the hash (the dq_drift pow(x,2) lesson). Real
    * eval harnesses precompute exactly this table. */
  private[queries] val NdcgWeightCase: String = {
    val ws = (1 to 10).map { r =>
      val w = BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      s"WHEN $r THEN CAST(${w.bigDecimal.toPlainString} AS DECIMAL(7,6))"
    }
    s"CASE rnk ${ws.mkString(" ")} END"
  }
  /** Ideal DCG@10 for the 3-graded truth (grades 3/2/1 at ranks 1/2/3),
    * from the SAME quantized table: 3·w1 + 2·w2 + 1·w3 — a shared exact
    * decimal literal. */
  private[queries] val NdcgIdeal: String = {
    def w(r: Int) = BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    (w(1) * 3 + w(2) * 2 + w(3)).bigDecimal.toPlainString
  }

  /** Per-query top-3 overlap between the exact-dense and IVF-dense RRF
    * fusions — the swap's END metric, shared by the report entry
    * (`sim_rrf_swap_overlap`) and its pinned floor (`sim_rrf_swap_gate`). */
  private def rrfSwapOverlapOf(s: SparkSession, d: String): DataFrame = {
    // r17 (guide §2.4 shared exchanges / VERDICT r16 item 3): the report
    // entry and its pinned-floor gate run the SAME two four-stage fusion
    // pipelines, and within one entry the exact side is referenced twice
    // (overlap join + query-universe distinct) — Catalyst shares nothing
    // across references or entries. The (qid, nid) pair sets are
    // session-persisted under the sharedLocal convention, so the two
    // pipelines materialize once per session and every other reference is
    // an in-memory scan. Both fusions read documents AND embeddings, and
    // both are declared inputs. The persisted frames are thin top-3 pair
    // sets (a 2-column PROJECTION of the fused ranking, deliberately not
    // any registered entry's output — sim_rrf_topk / sim_rrf_ann_topk still
    // compute their full ordered rankings from scratch). The sampled swap
    // certificate (qmod=500) keeps its own unshared path.
    val ins = Seq(docsIn(d), embIn(d))
    val ex = sharedLocal(s, s"swap_pairs_exact:$d", ins)(
      rrfFused(s, d).select(col("qid"), col("nid")))
    val an = sharedLocal(s, s"swap_pairs_ann:$d", ins)(
      rrfAnnFused(s, d).select(col("qid"), col("nid")))
    val common = ex.join(an, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("cnt"))
    ex.select("qid").distinct()
      .join(common, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("cnt"), lit(0L)).as("n_common"))
  }

  /** [[rrfSwapOverlapOf]] restricted to the deterministic 1-in-`every`
    * query subsample (`qid % every == 0`, a sub-schedule of the standing
    * `% 50` query set). The sampled form is the certificate that SCALES:
    * the full exact-dense fusion is (queries x corpus)-quadratic — it
    * aborted on disk at the 400k fixture, which is honest evidence FOR
    * the IVF swap but leaves the overlap floor unpinned exactly where the
    * swap matters — while a few hundred sampled queries keep the exact
    * side linear in the corpus and certify the same end metric. The
    * sample predicate is threaded INTO both pipelines as their query
    * schedule (`qmod = every`), not applied above the fusion: a filter
    * over the fused frame lands on `coalesce(qid, qid)` of the FullOuter
    * USING join, which Catalyst cannot push, leaving the exact side
    * quadratic (the r15 CONFIRMED plan bug — verified by `.explain`).
    * With the schedule at the inputs the `% every` predicate reaches the
    * embeddings/documents scans as a DataFilter (PlanQualitySpec pins
    * it), and per-query independence makes the rows value-identical to
    * the post-filtered form, so the oracle is unchanged. */
  private def rrfSwapOverlapSampledOf(s: SparkSession, d: String,
      every: Long): DataFrame = {
    val ex = rrfTopK(s, d, qmod = every)
      .select(col("qid"), col("nid"))
    val an = rrfAnnTopK(s, d, qmod = every)
      .select(col("qid"), col("nid"))
    val common = ex.join(an, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("cnt"))
    ex.select("qid").distinct()
      .join(common, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("cnt"), lit(0L)).as("n_common"))
  }

  /** The sampled swap gate's one-row aggregate — shared by the registry
    * entry (testdata SFs, oracle-checked) and the fixture certificate run
    * (graft.tools.ShowEntry on the 400k corpus, recorded in ROUNDLOG). */
  private[graft] def rrfSwapSampledGate(s: SparkSession, d: String,
      every: Long = 500): DataFrame =
    rrfSwapOverlapSampledOf(s, d, every).agg(
      count(lit(1)).cast("long").as("n_queries"),
      sum("n_common").cast("long").as("n_common_total"),
      (lit(3) * sum("n_common") >= lit(5) * count(lit(1))).as("overlap_ok"))

  /** Exact filtered top-k: like [[bruteForceTopK]] but each query only
    * competes within its own label class. The label equality is an equi key,
    * so Catalyst plans a broadcast HASH join (the unfiltered baseline needs
    * a nested loop) — the filter makes the exact path cheaper, not dearer.
    * Shared exact baseline for `sim_filtered_topk` and the filtered-IVF
    * recall gate. */
  private[queries] def filteredExactTopK(s: SparkSession, d: String, topK: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val en = withNorm(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        col("label")))
    val q = broadcast(en.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("nrm").as("qn"), col("label").as("ql")))
    val scored = en.join(q,
        col("label") === col("ql") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("c"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"),
        round(col("c"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** One-row recall certificate: fraction of query points whose exact top-1
    * neighbor appears in the approximate top-k, gated at `floor`. The DuckDB
    * oracle states the expected outcome from the data alone (`n_queries` =
    * size of the query sample, `recall_ok` = true), so a recall regression in
    * the approximate path flips the boolean and fails the driver's hash
    * compare — converting the test-only recall pin into a driver-green row. */
  private def recallGate(exact: DataFrame, approx: DataFrame, floor: Double): DataFrame = {
    val top1 = exact.filter(col("rnk") === 1).select(col("qid"), col("nid").as("top1"))
    val perQuery = top1.join(approx.select(col("qid"), col("nid")), Seq("qid"), "left")
      .groupBy("qid")
      .agg(max(when(col("nid") === col("top1"), 1).otherwise(0)).as("hit"))
    perQuery.agg(
      count(lit(1)).cast("long").as("n_queries"),
      (sum("hit").cast("double") / count(lit(1)) >= floor).as("recall_ok"))
  }

  /** Multi-table sign-LSH signatures: one (id, table, bucket) row per table. */
  private def lshSignatures(
      spark: SparkSession,
      emb: DataFrame,
      kBits: Int,
      nTables: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    val planes = hyperplanes(kBits * nTables, dim = 64, seed)
    emb.repartition(col("vec_id")) // parallelize the CPU-bound signature pass
      .as[(Long, Array[Double])].flatMap { case (id, e) =>
      (0 until nTables).map { tbl =>
        var b = 0
        var p = 0
        while (p < kBits) {
          var acc = 0.0
          val pl = planes(tbl * kBits + p)
          var i = 0
          while (i < e.length && i < pl.length) { acc += e(i) * pl(i); i += 1 }
          if (acc > 0) b |= (1 << p)
          p += 1
        }
        (id, tbl, b)
      }
    }.toDF("vec_id", "tbl", "bucket")
  }

  /** Approximate sign-LSH top-k over the `vec_id % 50 == 0` query sample:
    * candidates from bucket collisions in any of 24 tables, exact cosine +
    * rank on candidates only. */
  private[queries] def annLshTopK(s: SparkSession, emb: DataFrame,
      d: String): DataFrame = {
    // The signature table is the LSH index artifact: computed once per
    // dataset, shared between topk and its recall gate.
    val sigs = shared(s, s"lsh_sigs:$d:${dataFp(d)}", Seq(embIn(d)))(
      lshSignatures(s, emb, kBits = 5, nTables = 24, seed = 42L))
    // Same query set as the brute-force baseline; LSH prunes the corpus
    // side to bucket collisions instead of scanning all n per query.
    val qSigs = sigs.filter(col("vec_id") % 50 === 0)
    val cand = qSigs.as("x").join(sigs.as("y"), Seq("tbl", "bucket"))
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("qid"), col("y.vec_id").as("nid"))
      .distinct()
    val en = withNorm(emb)
    val q = en.select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val n = en.select(col("vec_id").as("nid"), col("e"), col("nrm"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    cand.join(q, "qid").join(n, "nid")
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"),
        round(col("c"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** 64-bit Charikar SimHash of whitespace tokens (one pass per document). */
  private def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    text.split(' ').foreach { tok =>
      val h = Hashing.hash64(tok)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Per-document SimHash signatures: one (doc_id, simhash) row per doc. */
  private[queries] def simhashDocSigs(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .repartition(col("doc_id")) // parallelize the CPU-bound signature pass
      .as[(Long, String)]
      .map { case (id, text) => (id, simhash64(text)) }
      .toDF("doc_id", "simhash")
  }

  /** Blocked hamming<=3 pairs: 4x16-bit segment-equality grouping (lossless
    * by pigeonhole — hamming<=3 leaves at least one of 4 segments intact). */
  private[queries] def simhashBlockedPairs(sigs: DataFrame): DataFrame = {
    val segs = sigs.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("seg_id"))
      .withColumn("seg_val", expr("shiftrightunsigned(simhash, seg_id * 16) & 65535"))
    segs.as("x").join(segs.as("y"),
        col("x.seg_id") === col("y.seg_id") && col("x.seg_val") === col("y.seg_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** IVF top-k: k-means codebook + inverted-file probe.
    * `emb` must have columns (vec_id: long, e: array<double>); queries are
    * the `vec_id % 50 == 0` sample, like the brute-force baseline. */
  /** Serving handle on the durable IVF index: (inverted-file artifact,
    * trained centers). Codebook from a bounded driver-side sample (like any
    * large-scale IVF build: the codebook is k tiny vectors, trained on a
    * sample, then broadcast for distributed assignment — the full corpus
    * never leaves executors); the inverted file (cell assignment per
    * vector) is the index artifact, encoded once per (dataset, k) and
    * shared by the batch topk, its recall gate, the delete path AND the
    * streaming serving drain — which is what makes "serve" a read of the
    * store, not a rebuild. EAGER BY DESIGN: runs the ~2 MB sample job (the
    * ANN index-build phase); Bench constructs outside its timed region. */
  private[graft] def ivfIndexHandle(s: SparkSession, d: String,
      k: Int): (DataFrame, Array[Array[Double]]) = {
    val emb = embOf(s, d)
    val sample = indexSample(s, emb, d, Seq(embIn(d)))
    val centers = lloyd(sample, k, iters = 10)
    val inverted = shared(s, s"ivf_inverted:$d:${dataFp(d)}:$k", Seq(embIn(d)))(
      withNorm(emb).withColumn("cell", ivfAssignUdf(centers)(col("e")))
        .select(col("vec_id"), col("cell"), col("e"), col("nrm")))
    (inverted, centers)
  }

  /** Nearest-centroid cell of a vector — the encode half of the IVF
    * contract, shared by every inverted-file build. */
  private def ivfAssignUdf(centers: Array[Array[Double]]): UserDefinedFunction =
    udf((e: Seq[Double]) => nearestCells(centers, e.toArray, 1).head)

  /** nProbe-nearest-centroid prober over a trained codebook — the query
    * half of the IVF contract, usable from batch plans and stream drains. */
  private[graft] def ivfProbeUdf(centers: Array[Array[Double]],
      nProbe: Int): UserDefinedFunction =
    udf((qe: Seq[Double]) => nearestCells(centers, qe.toArray, nProbe))

  private[queries] def annIvfTopK(s: SparkSession, d: String,
      k: Int, nProbe: Int, topK: Int, qmod: Long = 50): DataFrame = {
    val (inverted, centers) = ivfIndexHandle(s, d, k)
    ivfQueryTopK(inverted, centers, nProbe, topK, qmod)
  }

  /** Recall-vs-nProbe TRADEOFF CURVE — the tuning measurement a 100 TB IVF
    * operator actually works with. `ann_ivf_recall_gate` pins one operating
    * point; this emits one row per nProbe value (recall@topK of the exact
    * top-1 neighbor, as exact integer hit counts plus their IEEE-exact
    * ratio), so a cell-balance or assignment regression shows up as a
    * CURVE SHIFT in the driver compare rather than a single-point flicker.
    * All four probings share ONE inverted-file artifact and ONE stored
    * brute-force baseline; the exact-oracle replay recomputes the same
    * curve from the trained codebook in SQL, so every (n_probe, n_hits)
    * cell is hash-checked — this is a measurement entry, not a floor
    * certificate. Monotone by construction (cell sets are nested in
    * nProbe), which the oracle implicitly verifies cell-by-cell. */
  private[queries] def ivfNProbeSweep(s: SparkSession, d: String,
      k: Int, nProbes: Seq[Int], topK: Int): DataFrame = {
    val (inverted, centers) = ivfIndexHandle(s, d, k)
    val top1 = storedTop1(s, d)
      .filter(col("rnk") === 1).select(col("qid"), col("nid").as("top1"))
    nProbes.map { np =>
      val perQuery = top1
        .join(ivfQueryTopK(inverted, centers, np, topK)
          .select(col("qid"), col("nid")), Seq("qid"), "left")
        .groupBy("qid")
        .agg(max(when(col("nid") === col("top1"), 1).otherwise(0)).as("hit"))
      perQuery.agg(
        lit(np).cast("long").as("n_probe"),
        count(lit(1)).cast("long").as("n_queries"),
        sum("hit").cast("long").as("n_hits"),
        // exact-int division: correctly rounded identically on both engines
        (sum("hit").cast("double") / count(lit(1))).as("recall"))
    }.reduce(_.unionByName(_)).orderBy("n_probe")
  }

  /** The IVF query path shared by the one-shot and append-maintained
    * indexes: probe each query's nProbe nearest cells, exact cosine inside
    * probed cells only, rank. `inverted` must have (vec_id, cell, e, nrm). */
  private def ivfQueryTopK(inverted: DataFrame, centers: Array[Array[Double]],
      nProbe: Int, topK: Int, qmod: Long = 50): DataFrame = {
    val queries = inverted.filter(col("vec_id") % qmod === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
      .withColumn("cell", explode(ivfProbeUdf(centers, nProbe)(col("qe"))))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    queries.join(
        inverted.select(col("vec_id").as("nid"), col("cell"), col("e"), col("nrm")),
        Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"), round(col("c"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** Incremental IVF index maintenance — the APPEND path of a production
    * vector store. The codebook trains on the BASE corpus only (vec_id %
    * 5 != 4); the delta batch (vec_id % 5 == 4) is encoded with that SAME
    * stale codebook into its own inverted-file artifact and unioned at
    * query time — retraining would re-encode the whole corpus, appends
    * must not. Query semantics are identical to ann_ivf_topk over
    * base ∪ delta; the oracle rebuilds the stale-codebook index in SQL
    * (training sample restricted to the base slice), so the entire append
    * lifecycle — stale cells for new data included — is hash-checked. */
  private[queries] def annIvfAppendTopK(s: SparkSession, d: String,
      k: Int, nProbe: Int, topK: Int): DataFrame = {
    val emb = embOf(s, d)
    val base = emb.filter(col("vec_id") % 5 =!= 4)
    val delta = emb.filter(col("vec_id") % 5 === 4)
    val sample = indexSample(s, base, s"$d#ivfbase", Seq(embIn(d)))
    val centers = lloyd(sample, k, iters = 10)
    def encode(part: DataFrame, name: String): DataFrame =
      shared(s, s"ivf_append_$name:$d:${dataFp(d)}:$k", Seq(embIn(d)))(
        withNorm(part).withColumn("cell", ivfAssignUdf(centers)(col("e")))
          .select(col("vec_id"), col("cell"), col("e"), col("nrm")))
    val inverted = encode(base, "base").unionByName(encode(delta, "delta"))
    ivfQueryTopK(inverted, centers, nProbe, topK)
  }

  /** Delete path of the durable IVF store — the third verb of the index
    * lifecycle (create = ann_index_store_gate, append = ann_ivf_append_topk,
    * delete = here). Deletions are TOMBSTONES: a durable (vec_id) artifact
    * written next to the inverted file, anti-joined at query time — the
    * codebook stays as trained before the deletions (re-training would
    * re-encode the corpus; a vector store tombstones instead and re-trains
    * only on drift). When the tombstone ratio passes `compactAt`, the
    * inverted file is COMPACTED: rewritten without tombstoned rows as its
    * own durable artifact, after which queries scan the compacted file
    * with no anti-join at all. Both regimes return identical results —
    * exactly an index over the live vectors under the original codebook —
    * so compaction is purely a storage/scan-cost event, which is what
    * makes it safe to trigger from a ratio. The two ratio counts are
    * bounded index-maintenance aggregates at plan-build time (the same
    * class as the codebook sample; Bench times execution only).
    * Queries are drawn from the live index, so deleted vectors neither
    * answer nor ask. Oracle: AnnOracleSql.ivfTopK with liveWhere — the
    * full trained pipeline minus tombstoned ids, hash-checked. */
  private[queries] def annIvfDeleteTopK(s: SparkSession, d: String,
      k: Int, nProbe: Int, topK: Int): DataFrame = {
    // the SAME inverted-file artifact ann_ivf_topk maintains — delete is a
    // maintenance verb on the existing store, not a parallel index
    val (inverted, centers) = ivfIndexHandle(s, d, k)
    val live = ivfLive(s, inverted, col("vec_id") % 7 === 3,
      key = StoreKey(s"$d:${dataFp(d)}:$k", Seq(embIn(d))), compactAt = 0.1)
    ivfQueryTopK(live, centers, nProbe, topK)
  }

  /** Tombstone/compaction core, factored for the spec: returns the LIVE
    * view of `inverted` under `deleted`, compacting the durable store when
    * the tombstone ratio exceeds `compactAt`. The delete predicate and the
    * threshold are FOLDED INTO the artifact keys (as the predicate's SQL
    * text): two callers sharing a dataset key but deleting under different
    * predicates — or compacting at different ratios — must never reuse each
    * other's tombstone/compacted files. The compact-or-not DECISION is
    * memoized per full key alongside the artifacts, so repeat calls (a
    * median-of-3 bench, a topk + its gate) don't re-run the two ratio
    * count() jobs once the verdict is known. */
  private[queries] def ivfLive(s: SparkSession, inverted: DataFrame,
      deleted: Column, key: StoreKey, compactAt: Double): DataFrame = {
    // Column#toString is the expression's stable SQL-ish rendering —
    // deterministic for the literal predicates the callers pass; `durable`
    // sanitizes + digests it into the on-disk path
    val fullKey = s"${key.key}:del=${deleted.toString()}:at=$compactAt"
    val ins = key.inputs
    val tombs = shared(s, s"ivf_tombstones:$fullKey", ins)(
      inverted.filter(deleted).select(col("vec_id")))
    val compact = Memo.value(s, "ivf_compact", ins, memoName(fullKey, ins)) {
      val nTomb = tombs.count()
      val nAll = inverted.count()
      nAll > 0 && nTomb.toDouble / nAll > compactAt
    }
    if (compact)
      shared(s, s"ivf_inverted_compact:$fullKey", ins)(
        inverted.join(tombs, Seq("vec_id"), "left_anti"))
    else
      inverted.join(tombs, Seq("vec_id"), "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup at the
    * cluster scope: train the SAME deterministic coarse quantizer the IVF
    * index uses, assign every vector to its nearest centroid, and run the
    * duplicate scan WITHIN each cell only. A vector is dropped iff another
    * vector of its cell precedes it in (sim-to-centroid ASC, vec_id ASC)
    * order and has cosine >= tau with it — the released implementation's
    * greedy pass over the per-cluster similarity matrix, which keeps the
    * member of each duplicate group FARTHEST from the centroid (the
    * paper's keep rule: retain the least prototypical example).
    *
    * Scale shape: this is the method's published trade — pair comparisons
    * are confined to cells (k grows with the corpus so cell sizes stay
    * bounded; the paper runs 50k clusters on 600M embeddings), the
    * codebook is a bounded broadcast artifact, and only (vec_id, cell)
    * verdict rows leave the pair join. Unlike dedup_embed_cosine's
    * LSH-pair DISCOVERY output, this emits the per-document END verdict
    * (keep/drop) a curation pipeline consumes directly.
    *
    * EXACT oracle: [[AnnOracleSql.semDedup]] replays Lloyd, the cell
    * assignment, the centroid similarity and the greedy predecessor rule
    * in SQL; every compared float is the shared ordered fold, so the
    * keep column hash-matches bit-for-bit. */
  private[queries] def semDedup(s: SparkSession, d: String, k: Int,
      tau: Double): DataFrame =
    semDedupOf(s, embOf(s, d), k, tau, storeKey = Some(embKey(d)))

  /** Core of SemDeDup over an arbitrary (vec_id, e) frame; `storeKey =
    * None` skips the sample cache and the durable cell artifact (spec use —
    * the registered entry always persists its assignment). */
  private[graft] def semDedupOf(s: SparkSession, emb: DataFrame, k: Int,
      tau: Double, storeKey: Option[StoreKey]): DataFrame = {
    val sample = storeKey match {
      case Some(key) => indexSample(s, emb, key.key, key.inputs)
      case None => sampleOf(emb)
    }
    val centers = lloyd(sample, k, iters = 10)
    // (vec_id, cell, simc, e, nrm): the cell/centroid-sim assignment is the
    // same class of durable index artifact as the IVF inverted file
    val en0 = semAssign(emb, centers)
    val en = storeKey match {
      case Some(key) => shared(s, s"semdedup_cells:${key.key}:$k", key.inputs)(en0)
      case None      => en0
    }
    semVerdict(en, tau).orderBy("vec_id")
  }

  /** Cell/centroid-similarity assignment of `emb` against `centers` —
    * shared by the one-shot and append SemDeDup forms so verdicts under
    * the same codebook are bit-identical. */
  private def semAssign(emb: DataFrame,
      centers: Array[Array[Double]]): DataFrame = {
    // centroid norms via the same left-to-right fold as nrm() in SQL
    val cnrm = centers.map { c =>
      var a = 0.0; var j = 0
      while (j < c.length) { a += c(j) * c(j); j += 1 }
      math.sqrt(a)
    }
    val assignU = udf((e: Seq[Double]) => {
      val cell = nearestCells(centers, e.toArray, 1).head
      var dt = 0.0; var nm = 0.0; var j = 0
      while (j < e.length) {
        dt += e(j) * centers(cell)(j); nm += e(j) * e(j); j += 1
      }
      (cell.toLong, dt / (math.sqrt(nm) * cnrm(cell)))
    })
    withNorm(emb).withColumn("a", assignU(col("e")))
      .select(col("vec_id"), col("a._1").as("cell"), col("a._2").as("simc"),
        col("e"), col("nrm"))
  }

  /** The greedy per-cell SemDeDup verdict over an assignment frame: drop a
    * vector iff a same-cell predecessor in (simc ASC, id ASC) order is
    * within cosine `tau`. Verdicts are cell-local, which is what makes the
    * append path's touched-cell recomputation exact. */
  private def semVerdict(en: DataFrame, tau: Double): DataFrame = {
    val left = en.select(col("vec_id").as("ida"), col("cell"),
      col("simc").as("sa"), col("e").as("ea"), col("nrm").as("na"))
    val right = en.select(col("vec_id").as("idb"), col("cell"),
      col("simc").as("sb"), col("e").as("eb"), col("nrm").as("nb"))
    val dropped = left.join(right, Seq("cell"))
      .filter(col("ida") =!= col("idb") &&
        (col("sb") < col("sa") ||
          (col("sb") === col("sa") && col("idb") < col("ida"))))
      .filter(dot(col("ea"), col("eb")) / (col("na") * col("nb")) >= tau)
      .select(col("ida").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    en.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        round(col("simc"), 6).as("sim_centroid"),
        col("dropped").isNull.as("keep"))
  }

  /** Incremental SemDeDup — the append verb for the semantic-dedup verdict,
    * completing the family's daily-crawl story (MinHash, embedding-LSH,
    * substring and IVF all have one). Same stale-codebook contract as
    * [[annIvfAppendTopK]]: centers are trained on the BASE slice only and
    * never retrained on ingest (ann_retrain_gate is the drift monitor that
    * decides when they should be). Because verdicts are CELL-LOCAL, a delta
    * batch only dirties the cells it lands in: the durable base artifacts
    * (cell assignment + per-cell verdict) are reused VERBATIM for untouched
    * cells, and only touched cells re-run the greedy scan over their
    * base ∪ delta members — per-ingest cost O(delta + touched-cell mass),
    * not O(corpus). Note the delta can flip a base vector's verdict (a new
    * less-prototypical member becomes the group's survivor), which is why
    * touched cells recompute rather than merge — and the result is
    * hash-equal to the one-shot scan under the same base-trained codebook,
    * which is exactly what [[AnnOracleSql.semDedup]] with a base-restricted
    * training sample checks. */
  private[graft] def semDedupAppendOf(s: SparkSession, emb: DataFrame,
      k: Int, tau: Double, storeKey: Option[StoreKey]): DataFrame = {
    def keep(name: String)(build: => DataFrame): DataFrame = storeKey match {
      case Some(kk) => shared(s, s"$name:${kk.key}:$k:$tau", kk.inputs)(build)
      case None     => build
    }
    val isDelta = col("vec_id") % 5 === 4
    val base = emb.filter(!isDelta)
    val sample = storeKey match {
      case Some(kk) => indexSample(s, base, s"${kk.key}#semddbase", kk.inputs)
      case None     => sampleOf(base)
    }
    val centers = lloyd(sample, k, iters = 10)
    val baseCells = keep("semdd_cells_base")(semAssign(base, centers))
    val baseVerdict = keep("semdd_verdict_base")(semVerdict(baseCells, tau))
    val deltaCells = semAssign(emb.filter(isDelta), centers)
    val touched = deltaCells.select("cell").distinct()
    // untouched cells ship their stored verdict rows unchanged; touched
    // cells re-scan base ∪ delta members (both joins key on the small
    // touched-cell set — ≤ k rows — so Catalyst broadcasts it)
    val untouched = baseVerdict.join(touched, Seq("cell"), "left_anti")
    val recomputed = semVerdict(
      baseCells.unionByName(deltaCells).join(touched, Seq("cell"), "left_semi"),
      tau)
    untouched.unionByName(recomputed).orderBy("vec_id")
  }

  /** Filtered IVF top-k: the metadata predicate composed with cell pruning.
    * The inverted file carries the filter attribute (label) alongside the
    * cell id — the standard way vector stores serve filtered ANN without
    * post-filtering away the whole shortlist. Candidate generation joins on
    * BOTH (cell, label) as equi keys, so a query scans only the slice of
    * each probed cell that already satisfies its predicate; at 100 TB that
    * is nProbe/k of the corpus further cut by label selectivity, and the
    * join stays a plain hash join on a composite key. */
  private[queries] def annIvfFilteredTopK(s: SparkSession, d: String,
      k: Int, nProbe: Int, topK: Int): DataFrame = {
    val sample = indexSample(s, embOf(s, d), d, Seq(embIn(d)))
    val centers = lloyd(sample, k, iters = 10)
    val embL = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        col("label"))
    // label-carrying inverted file: its own durable artifact (same cells as
    // the unfiltered index, plus the filterable attribute per entry)
    val inverted = shared(s, s"ivf_inverted_flt:$d:${dataFp(d)}:$k", Seq(embIn(d)))(
      withNorm(embL).withColumn("cell", ivfAssignUdf(centers)(col("e")))
        .select(col("vec_id"), col("label"), col("cell"), col("e"), col("nrm")))
    val queries = inverted.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("nrm").as("qn"), col("label").as("ql"))
      .withColumn("qcell", explode(ivfProbeUdf(centers, nProbe)(col("qe"))))
    val corpus = inverted.select(col("vec_id").as("nid"), col("label").as("nl"),
      col("cell").as("ncell"), col("e"), col("nrm"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    queries.join(corpus,
        col("qcell") === col("ncell") && col("ql") === col("nl"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"),
        round(col("c"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** The 16 deterministic anchor ids: an arithmetic progression over vec_id
    * (7, 38, ..., 472 — every corpus SF has them), so both engines name the
    * same 16 corpus vectors with zero training. */
  private val AnchorIds: Seq[Long] = (0 until 16).map(i => 7L + 31L * i)

  /** Retrain decision line for ann_retrain_gate: anchor-cell TV distance
    * past this schedules a codebook retrain. */
  private val RetrainTvThreshold = 0.05

  /** Anchor-cell population drift between the base slice (vec_id % 5 != 4)
    * and the delta, over the r=1 cell assignment — one row (tv, chi2, tb,
    * td), dq_drift's quantized rational arithmetic (see dq_drift_embed).
    * Shared by the drift monitor and the retrain gate. */
  private def anchorCellDrift(ranked: DataFrame): DataFrame = {
    val Q = 1073741824.0 // 2^30
    val cells = ranked.filter(col("r") === 1)
      .select(col("aid").as("key"), (col("vec_id") % 5 === 4).as("is_delta"))
    val cc = cells.groupBy("key").agg(
      count(when(!col("is_delta"), 1)).as("cb"),
      count(when(col("is_delta"), 1)).as("cd"))
    val ct = cells.agg(
      count(when(!col("is_delta"), 1)).as("tb"),
      count(when(col("is_delta"), 1)).as("td"))
    cc.crossJoin(ct) // one-row totals broadcast
      .withColumn("pb", (col("cb") + 1).cast("double") / (col("tb") + 16))
      .withColumn("pd", (col("cd") + 1).cast("double") / (col("td") + 16))
      .agg(
        round(sum(floor(abs(col("pb") - col("pd")) * Q)
          .cast("decimal(38,0)")).cast("double") / Q / 2.0, 6).as("tv"),
        round(sum(floor((col("pd") - col("pb")) * (col("pd") - col("pb"))
          / col("pb") * Q)
          .cast("decimal(38,0)")).cast("double") / Q, 6).as("chi2"),
        max(col("tb")).as("tb"), max(col("td")).as("td"))
  }

  /** The shared anchor-index build: (en, ranked) where `en` is the normed
    * corpus and `ranked` carries, per vector, its 16 anchor cosines as THIN
    * (vec_id, aid, ac, r) rows ranked best-first. r=1 is the vector's cell;
    * r<=nProbe is a query's probe set. Used by the filtered ANN, the
    * cluster report, and cluster-balanced sampling. */
  private def anchorRanked(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val en = withNorm(Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        col("label")))
    val anchors = broadcast(en.filter(col("vec_id").isin(AnchorIds: _*))
      .select(expr("(vec_id - 7) div 31").as("aid"),
        col("e").as("ae"), col("nrm").as("an")))
    // thin ranking rows: per vector its 16 anchor cosines, ids + score
    // only. Routed through the shared/durable artifact store like every
    // other index artifact: three registry entries (filtered ANN, cluster
    // report, balanced sample) consume this assignment, and inside the ANN
    // entry the frame is referenced twice (cells + probes) — without the
    // store each consumer would re-run the |corpus|x16 assignment pass.
    val ranked = shared(s, s"anchor_ranked:$d:${dataFp(d)}", Seq(embIn(d)))(
      en.crossJoin(anchors)
        .select(col("vec_id"),
          col("aid"), (dot(col("e"), col("ae")) / (col("nrm") * col("an"))).as("ac"))
        .withColumn("r", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("ac").desc, col("aid")))))
    (en, ranked)
  }

  /** Filtered ANN over a DETERMINISTIC data-anchored inverted file — the
    * fully-oracled member of the filtered-ANN family. The 16 coarse cells
    * are anchored on corpus vectors picked by a pure id rule ([[AnchorIds]]
    * — "random data points as centers", the classic IVF seeding); every
    * vector belongs to its argmax-cosine anchor, and a query probes its 8
    * nearest anchors composed with the label equi-key. Anchors are DATA
    * (not a trained codebook) and every cosine is computed with
    * [[graft.functions.VecDot]], whose left-to-right IEEE summation is
    * bit-identical to DuckDB's list_sum — so cells, probe sets and the
    * final top-k are all reproducible in SQL and the driver hash-checks the
    * ENTIRE approximate pipeline, where the k-means IVF variant can only
    * offer a recall floor. (Sign-LSH cells were tried first and measured
    * 20-30% recall at this data's ~70° neighbor angles; data-adapted
    * anchors at the same 8/16 probe budget measure 60% at sf0.01 — between
    * untrained hashing and the trained IVF's 90%, with full oracle coverage
    * neither of those can offer.)
    *
    * Scale shape: anchors broadcast (16 rows); assignment/probing rank the
    * THIN (vec_id, aid, score) triples — 16 rows per vector, three columns,
    * never the embedding — and vectors re-join by vec_id afterwards;
    * candidate generation is an equi-join on (cell, label). */
  private[queries] def annAnchorFilteredTopK(s: SparkSession, d: String,
      topK: Int): DataFrame = {
    val (en, ranked) = anchorRanked(s, d)
    val corpus = en.join(ranked.filter(col("r") === 1)
        .select(col("vec_id"), col("aid").as("ncell")), "vec_id")
      .select(col("vec_id").as("nid"), col("label").as("nl"), col("ncell"),
        col("e"), col("nrm"))
    val queries = en.filter(col("vec_id") % 50 === 0)
      .join(ranked.filter(col("r") <= 8)
        .select(col("vec_id"), col("aid").as("qcell")), "vec_id")
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        col("label").as("ql"), col("qcell"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    queries.join(corpus,
        col("qcell") === col("ncell") && col("ql") === col("nl"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"),
        round(col("c"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** Product-quantization ADC top-k — the memory-compression scale path.
    *
    * The 64-dim vector splits into `m` subvectors; each subspace trains its
    * own `k`-centroid codebook on the SAME bounded driver sample as the IVF
    * build (EAGER BY DESIGN: the sample job is the index-build phase). A
    * corpus vector is then stored as m small codes + its true norm — at
    * m=8, k=16 that is 8 nibbles + 1 float against 512 bytes of raw floats,
    * the ~50x memory story that lets a 100 TB corpus's index live in RAM.
    *
    * Queries never read corpus vectors for scoring: each query precomputes
    * its per-subspace dot-product table tab[j][c] = <q_j, centroid_{j,c}>
    * (m*k doubles, broadcast), and the approximate inner product is the
    * codegen'd higher-order fold sum_j tab[j][codes[j]] over the codes
    * column only. The PQ shortlist (topK*10) is then re-ranked with exact
    * cosine — the standard ADC + refine pipeline, so output rows carry
    * TRUE cosines and only the shortlist membership is approximate. */
  private[queries] def annPqTopK(s: SparkSession, emb: DataFrame, d: String,
      m: Int, k: Int, topK: Int): DataFrame = {
    val dim = 64
    val sub = dim / m
    val sample = indexSample(s, emb, d, Seq(embIn(d)))
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      lloyd(sample.map(v => v.slice(j * sub, (j + 1) * sub)), k, iters = 10)
    }
    val assignU = udf((e: Seq[Double]) => {
      val arr = e.toArray
      Array.tabulate(m) { j =>
        nearestCells(books(j), arr.slice(j * sub, (j + 1) * sub), 1).head
      }
    })
    val tabU = udf((qe: Seq[Double]) => {
      val arr = qe.toArray
      Array.tabulate(m) { j =>
        Array.tabulate(k) { c =>
          var acc = 0.0
          var i = 0
          while (i < sub) { acc += arr(j * sub + i) * books(j)(c)(i); i += 1 }
          acc
        }
      }
    })
    val en = withNorm(emb)
    // The PQ code table is the index artifact: the corpus is encoded once
    // per (dataset, m, k) and shared between topk and its recall gate.
    val codes = shared(s, s"pq_codes:$d:${dataFp(d)}:$m:$k", Seq(embIn(d)))(
      en.withColumn("codes", assignU(col("e")))
        .select(col("vec_id").as("nid"), col("codes"), col("nrm")))
    val q = broadcast(en.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
      .withColumn("tab", tabU(col("qe"))))
    // native codegen lookup-sum (graft.functions.PqAdc): the HOF fold form
    // is CodegenFallback and runs interpreted once per (query, vector)
    // pair — the whole ADC scan's inner loop (measured ~2x on the scan)
    val adcScore = call_function("pq_adc", col("tab"), col("codes"))
    val wPq = Window.partitionBy("qid").orderBy(col("adc").desc, col("nid"))
    val shortlist = codes.join(q, col("nid") =!= col("qid"))
      .withColumn("adc", adcScore / (col("qn") * col("nrm")))
      .withColumn("prnk", row_number().over(wPq))
      .filter(col("prnk") <= topK * 10)
      .select("qid", "nid")
    // exact re-rank of the shortlist only
    val n = en.select(col("vec_id").as("nid"), col("e"), col("nrm"))
    val q2 = en.select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    shortlist.join(q2, "qid").join(n, "nid")
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"),
        round(col("c"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** Scalar-quantization (SQ8) top-k — the compression vector stores reach
    * for before PQ (one byte per dimension, ~8× over float64 here, no
    * codebook training): per-DIMENSION corpus [min, max], each component
    * stored as floor((x-min)/range·255) clamped to [0,255], queries scored
    * asymmetrically (exact query vector against the dequantized corpus —
    * standard SQ ADC with the +0.5 mid-bin reconstruction), shortlist
    * (topK·10) re-ranked with exact cosine so output rows carry TRUE
    * cosines, like annPqTopK. EXACT oracle: min/max are order-free, the
    * encode/decode arithmetic is transcribed op-for-op, and the ADC fold
    * runs in dimension order on both engines — the whole approximate
    * pipeline hash-matches. The 64-row bounds collect is a bounded index
    * artifact (the same class as the 4096-row training sample). */
  private[queries] def annSqTopK(s: SparkSession, emb: DataFrame, d: String,
      topK: Int): DataFrame = {
    val en = withNorm(emb)
    // per-dimension [min, max] corpus bounds — the SQ "codebook": 64
    // bounded rows per dataset, memoized like the training sample
    val mm = Memo.value(s, "sq_bounds", Seq(embIn(d)), d) {
      en.select(posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy("pos").agg(min("v").as("mn"), max("v").as("mx"))
        .orderBy("pos").collect()
        .map(r => (r.getAs[Double]("mn"), r.getAs[Double]("mx")))
    }
    val mn = mm.map(_._1); val mx = mm.map(_._2)
    val encodeU = udf((e: Seq[Double]) => {
      val out = new Array[Long](e.length); var j = 0
      while (j < e.length) {
        val r = mx(j) - mn(j)
        out(j) = if (r == 0.0) 0L
          else math.min(255L, math.max(0L,
            math.floor((e(j) - mn(j)) / r * 255.0).toLong))
        j += 1
      }
      out
    })
    // r17 (guide expressions/codegen — the annPqTopK lesson applied to SQ):
    // the asymmetric score ran as an interpreted Scala UDF once per
    // (query, corpus-vector) pair — the whole SQ scan's inner loop, with
    // Seq boxing per call. The SQ ADC decomposes into the SAME per-(dim,
    // code) table-lookup-sum as PQ: dt = sum_j qe_j·dec(j,c_j) and
    // nd = sum_j dec(j,c_j)², so two 64x256 per-QUERY tables (built once
    // per query on the broadcast side) turn the per-pair work into two
    // native codegen pq_adc sums. Identical arithmetic in identical j
    // order — dec, the products, and the accumulation sequence are the
    // expressions the UDF evaluated — so scores are bit-identical (oracle
    // hash green).
    val sqTabsU = udf((qe: Seq[Double]) => {
      val dim = mn.length
      val t1 = Array.ofDim[Double](dim, 256)
      val t2 = Array.ofDim[Double](dim, 256)
      var j = 0
      while (j < dim) {
        var c = 0
        while (c < 256) {
          val dec = mn(j) + (c + 0.5) * (mx(j) - mn(j)) / 255.0
          t1(j)(c) = qe(j) * dec
          t2(j)(c) = dec * dec
          c += 1
        }
        j += 1
      }
      (t1.map(_.toSeq).toSeq, t2.map(_.toSeq).toSeq)
    })
    // the byte-code table is the durable index artifact, like pq_codes
    val codes = shared(s, s"sq_codes:$d:${dataFp(d)}", Seq(embIn(d)))(
      en.withColumn("codes", encodeU(col("e")))
        .select(col("vec_id").as("nid"), col("codes")))
    val q = broadcast(en.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("nrm").as("qn"),
        sqTabsU(col("e")).as("tabs")))
    val wSq = Window.partitionBy("qid").orderBy(col("sq").desc, col("nid"))
    // stored codes are array<long> (artifact schema unchanged); pq_adc
    // indexes with array<int> — the 0..255 cast is exact
    val shortlist = codes
      .withColumn("ci", col("codes").cast("array<int>"))
      .join(q, col("nid") =!= col("qid"))
      .withColumn("sq",
        (call_function("pq_adc", expr("tabs._1"), col("ci")) /
          sqrt(call_function("pq_adc", expr("tabs._2"), col("ci")))) / col("qn"))
      .withColumn("prnk", row_number().over(wSq))
      .filter(col("prnk") <= topK * 10)
      .select("qid", "nid")
    val n = en.select(col("vec_id").as("nid"), col("e"), col("nrm"))
    val q2 = en.select(col("vec_id").as("qid"), col("e").as("qe"),
      col("nrm").as("qn"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    shortlist.join(q2, "qid").join(n, "nid")
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"),
        round(col("c"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** Composed IVF+PQ top-k — the full 100 TB ANN index shape: IVF prunes
    * (only nProbe/kc of the corpus is scored per query) AND PQ compresses
    * (scored rows carry m nibble codes + a norm, never raw vectors).
    *
    * The PQ codebooks are trained on RESIDUALS (v - coarse centroid), the
    * classic IVFADC construction: residuals are far smaller in magnitude
    * than raw vectors, so the same k centroids per subspace quantize them
    * with much less error. The approximate inner product decomposes as
    *   <q, v> ~ <q, c_cell> + sum_j tab[j][codes[j]]
    * where tab[j][cc] = <q_j, book_{j,cc}> depends only on the query (books
    * are global, broadcast once) and <q, c_cell> is one scalar per probed
    * (query, cell) pair, computed while probing. Candidate scoring is an
    * EQUI-join on cell id — unlike the flat-PQ scan there is no
    * broadcast-nested-loop anywhere; the shortlist (topK*10) is re-ranked
    * with exact cosine so output rows carry TRUE cosines. */
  private[queries] def annIvfPqTopK(s: SparkSession, emb: DataFrame, d: String,
      kc: Int, nProbe: Int, m: Int, k: Int, topK: Int): DataFrame = {
    val dim = 64
    val sub = dim / m
    val sample = indexSample(s, emb, d, Seq(embIn(d)))
    val centers = lloyd(sample, kc, iters = 10)
    val resSample = sample.map { v =>
      val c = centers(nearestCells(centers, v, 1).head)
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      lloyd(resSample.map(_.slice(j * sub, (j + 1) * sub)), k, iters = 10)
    }
    // corpus side: cell assignment + residual nibble codes, one UDF pass
    val encodeU = udf((e: Seq[Double]) => {
      val v = e.toArray
      val cell = nearestCells(centers, v, 1).head
      val c = centers(cell)
      val r = Array.tabulate(dim)(i => v(i) - c(i))
      (cell, Array.tabulate(m) { j =>
        nearestCells(books(j), r.slice(j * sub, (j + 1) * sub), 1).head
      })
    })
    // query side: nProbe (cell, <q, c_cell>) pairs + the per-query ADC table
    val probeU = udf((qe: Seq[Double]) => {
      val q = qe.toArray
      nearestCells(centers, q, nProbe).map { cell =>
        val c = centers(cell)
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += q(i) * c(i); i += 1 }
        (cell, acc)
      }
    })
    val tabU = udf((qe: Seq[Double]) => {
      val q = qe.toArray
      Array.tabulate(m) { j =>
        Array.tabulate(k) { c =>
          var acc = 0.0
          var i = 0
          while (i < sub) { acc += q(j * sub + i) * books(j)(c)(i); i += 1 }
          acc
        }
      }
    })
    val en = withNorm(emb)
    // cell + residual codes per vector: the IVFADC index artifact, encoded
    // once per (dataset, params) and shared between topk and its recall gate
    val codes = shared(s, s"ivfpq_codes:$d:${dataFp(d)}:$kc:$m:$k", Seq(embIn(d)))(
      en.withColumn("enc", encodeU(col("e")))
        .select(col("vec_id").as("nid"), col("enc._1").as("cell"),
          col("enc._2").as("codes"), col("nrm")))
    val q = broadcast(en.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
      .withColumn("tab", tabU(col("qe")))
      .withColumn("pc", explode(probeU(col("qe"))))
      .select(col("qid"), col("qn"), col("tab"),
        col("pc._1").as("cell"), col("pc._2").as("qc")))
    val wPq = Window.partitionBy("qid").orderBy(col("adc").desc, col("nid"))
    val shortlist = codes.join(q, "cell")
      .filter(col("qid") =!= col("nid"))
      .withColumn("adc",
        (col("qc") + call_function("pq_adc", col("tab"), col("codes")))
          / (col("qn") * col("nrm")))
      .withColumn("prnk", row_number().over(wPq))
      .filter(col("prnk") <= topK * 10)
      .select("qid", "nid")
    // exact re-rank of the shortlist only
    val n = en.select(col("vec_id").as("nid"), col("e"), col("nrm"))
    val q2 = en.select(col("vec_id").as("qid"), col("e").as("qe"),
      col("nrm").as("qn"))
    val w = Window.partitionBy("qid").orderBy(col("c").desc, col("nid"))
    shortlist.join(q2, "qid").join(n, "nid")
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"),
        round(col("c"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** Deterministic Lloyd's k-means over an in-memory sample. */
  private def lloyd(sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dim = sample.head.length
    val step = math.max(1, sample.length / k)
    var centers = Array.tabulate(k)(i => sample((i * step) % sample.length).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearestCells(centers, v, 1).head
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) centers(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centers
  }

  private def nearestCells(centers: Array[Array[Double]], v: Array[Double],
      n: Int): Seq[Int] =
    centers.zipWithIndex.map { case (c, i) =>
      var dist = 0.0
      var j = 0
      while (j < v.length && j < c.length) {
        val dd = v(j) - c(j); dist += dd * dd; j += 1
      }
      (dist, i)
    }.sortBy(_._1).take(n).map(_._2).toSeq

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al.) — O(log n) rounds regardless of graph diameter,
    * where min-label propagation needs diameter-many passes. `pairs` must
    * have two long id columns (id_a, id_b); returns (id, rep) with rep =
    * the component's minimum id, for every id incident to an edge.
    * Per-round lineage cut by localCheckpoint; convergence detected by an
    * order-free (count, hash-sum) edge-set signature (one bounded 1-row
    * collect per round). `maxRounds` is a backstop, not the convergence
    * mechanism — StarCcScaleSpec pins convergence under it on a 20k-node
    * path graph that diameter-bounded propagation could never finish
    * (log2(20k) ~ 14.3 contraction rounds + 1 detection round, hence a
    * backstop comfortably above ~16, far below diameter 20 000). */
  private[queries] def starComponents(pairs: DataFrame,
      maxRounds: Int = 24): DataFrame = {
    var e = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct().localCheckpoint(false)
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var last = (-1L, 0L)
    var round = 0
    var done = false
    var prevE = e
    while (!done && round < maxRounds) {
      prevE = e
      val mins = e.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // large-star: {v, m(u)} for strictly larger neighbors v of u
      val ls = canon(e.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("x"), col("m").as("y")))
      val e1 = ls.select(col("u").as("x"), col("v").as("y"))
      val und1 = e1.select(col("x").as("u"), col("y").as("v"))
        .union(e1.select(col("y").as("u"), col("x").as("v")))
        .localCheckpoint(false)
      val mins2 = und1.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // small-star: {v, m(u)} for v <= u, plus {u, m(u)}
      val ss = canon(und1.join(mins2, "u")
        .filter(col("v") < col("u"))
        .select(col("v").as("x"), col("m").as("y"))
        .union(mins2.select(col("u").as("x"), col("m").as("y"))))
      e = ss.select(col("u"), col("v"))
        .union(ss.select(col("v").as("u"), col("u").as("v")))
        .localCheckpoint(false)
      val now = sig(ss)
      done = now == last
      last = now
      round += 1
    }
    // Round-9 advice: the (count, hash-sum) signature alone could be
    // fooled two ways, and either yields wrong components with no error in
    // a bench-only (oracle-less) run. Close both:
    //  - maxRounds exhaustion: the signatures never matched, so there is
    //    no convergence verdict at all — refuse loudly;
    //  - signature collision: the match is probabilistic, so certify the
    //    normal exit with ONE exact set-equality job (exceptAll both ways
    //    between the last two rounds' edge sets — both are already
    //    localCheckpointed, so this reads materialized blocks).
    if (!done) throw new IllegalStateException(
      s"starComponents did not converge in $maxRounds rounds — " +
        "raise maxRounds (components would NOT be valid)")
    val unequal = e.exceptAll(prevE).limit(1).count() +
      prevE.exceptAll(e).limit(1).count()
    if (unequal > 0) throw new IllegalStateException(
      "starComponents signature collision: consecutive rounds hashed " +
        "equal but differ — components would NOT be valid")
    e.groupBy("u").agg(min("v").as("mn"))
      .select(col("u").as("id"), least(col("u"), col("mn")).as("rep"))
  }

  /** Banded near-duplicate pairs with exact-cosine verification.
    * `emb` must have columns (vec_id: long, e: array<double>). */
  /** Sign-LSH bit width for the embedding near-dup family, derived from
    * the corpus's on-disk size (file metadata, no Spark job — the
    * occBucketCount discipline applied to the vector side). The r14 fixed
    * kBits=8 capped the bucket count at 256 per table regardless of
    * corpus size, and on a CLUSTERED corpus that is quadratic: the 400k
    * fixture's 16 clusters put ~6k base vectors per cluster at cosine
    * 0.6-0.75 (p_bit ~0.71), so 8-bit buckets collide cluster-mates at
    * ~0.07/table — ~1.5e9 raw candidate pairs, the named cause of the
    * ">35 min base prep" r14 staged out (round 15 counted 1.65e9).
    * 16 bits cuts the cluster-mate collision rate to p^16 ~ 0.004 (~15x
    * fewer candidates) while keeping >=0.9-cosine TRUE pairs effectively
    * exhaustive: a 0.9-cos pair has p_bit = 1 - acos(0.9)/pi ~ 0.857,
    * per-table hit 0.857^16 ~ 0.084, and across 24 OR-tables miss
    * probability (1-0.084)^24 ~ 0.12 worst-case AT the threshold —
    * while the near-identical pairs real dedup targets (>=0.99 cosine;
    * the fixture's planted dups sit at ~0.999, p_bit ~ 0.986) keep miss
    * < 1e-16. Small corpora stay at 8 bits: the oracle-checked testdata
    * SFs keep their exhaustive-recall regime and their hashes. The
    * width is embedded in every signature/pair artifact name, so stored
    * layouts and probes agree by construction. */
  private[graft] def lshBitsFor(d: String): Int = {
    val bytes = probeBytesOrWarn(s"$d/embeddings.parquet", "lshBitsFor")
    // ~260 stored bytes per 64-dim float row: 8 bits through ~32k
    // vectors, 16 beyond — the next corpus decade re-derives, the same
    // way a production index re-tiers its banding with corpus growth
    if (bytes / 260L < 32768L) 8 else 16
  }

  /** On-disk byte size of a dataset file/dir for the index-tier
    * derivations (occBucketCount, lshBitsFor) — java.io metadata only, no
    * Spark job at plan-construction time. A missing or empty target is a
    * wrong path or a non-local filesystem, NOT a small corpus: warn
    * loudly instead of silently handing back the floor tier (the callers
    * embed the derived constant in artifact names, so layout and probe
    * stay self-consistent either way — the warning is the operator's cue
    * to route the probe through the storage layer for that deployment). */
  private[graft] def probeBytesOrWarn(path: String, who: String): Long = {
    val f = new java.io.File(path)
    val bytes =
      if (f.isFile) f.length
      else Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.isFile).map(_.length).sum
    if (bytes == 0L) System.err.println(
      s"[graft] $who: size probe of $path found no bytes — missing path " +
        "or non-local filesystem; using the FLOOR tier, verify the layout")
    bytes
  }

  private[queries] def embedCosineDedup(
      s: SparkSession, emb: DataFrame, threshold: Double,
      kBits: Int = 8): DataFrame = {
    val sigs = lshSignatures(s, emb, kBits = kBits, nTables = 24, seed = 7L)
    val cand = sigs.as("x").join(sigs.as("y"), Seq("tbl", "bucket"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    cosineVerify(emb, cand, threshold).orderBy("id_a", "id_b")
  }

  /** Exact cosine >= threshold verification over candidate pairs — shared
    * by the full rebuild and the append path, so both emit bit-equal
    * (id_a, id_b, cos) for the same pair.
    * Norms precomputed once per vector: per-pair work drops from three
    * array passes (dot + both norms) to one dot. sqrt(dot(e,e)) is the
    * same expression an inline cosine would evaluate, so values (and the
    * oracle hash) are bit-identical. */
  private def cosineVerify(emb: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    val en = withNorm(emb)
    val ea = en.select(col("vec_id").as("id_a"), col("e").as("ea"),
      col("nrm").as("na"))
    val eb = en.select(col("vec_id").as("id_b"), col("e").as("eb"),
      col("nrm").as("nb"))
    cand.join(ea, "id_a").join(eb, "id_b")
      .withColumn("c", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("c") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cos"))
  }

  /** Incremental embedding near-dup — dedup_minhash_append's argument
    * applied to the vector side: a sign-LSH signature depends only on its
    * own vector (hyperplanes are fixed by the seed), so the base slice
    * (vec_id % 5 != 4) keeps its durable signature and verified-pair
    * artifacts while a delta batch signs only itself and bucket-joins
    * against base ∪ delta. Coverage is exhaustive for the same reason as
    * the MinHash form (both-base pairs stored, any delta-touching pair
    * collides in the delta bucket join), and the union is disjoint — the
    * result is hash-equal to embedCosineDedup over the whole corpus, and
    * the all-pairs cosine oracle checks it directly. */
  private[queries] def embedCosineAppend(s: SparkSession, d: String,
      threshold: Double): DataFrame =
    embedCosineAppendOf(s, embOf(s, d), threshold,
      storeKey = Some(embKey(d)), kBits = oracleLshBits(d))

  /** [[lshBitsFor]] with the oracle-soundness guard for the registered
    * embed-dedup entries: they are pinned to the EXACT all-pairs cosine
    * oracle, which the 8-bit tier honors by exhaustive recall — at 16
    * bits an AT-THRESHOLD 0.9-cos pair is missed with ~12% probability,
    * so a DuckDB-compared dataset that silently crossed the byte-size
    * tier boundary would fail its oracle hash NONDETERMINISTICALLY
    * (ADVICE r15; latent while testdata embeddings top out ~0.8 MB).
    * Driver-compared dirs (the testdata SFs) must therefore stay 8-bit;
    * a fixture/production corpus takes whatever the size derives. */
  private def oracleLshBits(d: String): Int = {
    val bits = lshBitsFor(d)
    require(!d.contains("/testdata/") || bits == 8,
      s"embed dedup: oracle-checked dataset $d derived the $bits-bit LSH " +
        "tier — the exact all-pairs oracle is only sound in the 8-bit " +
        "exhaustive regime; re-tier the oracle before widening")
    bits
  }

  /** Core of the append path over an arbitrary (vec_id, e) frame;
    * `storeKey = None` skips the durable artifact store (spec use —
    * the registered entry always persists its base artifacts). The
    * signature width is part of every artifact name: stored layout and
    * probe agree by construction, and a corpus grown past a width tier
    * keys fresh artifacts instead of misreading old ones. */
  private[queries] def embedCosineAppendOf(s: SparkSession, emb: DataFrame,
      threshold: Double, storeKey: Option[StoreKey],
      kBits: Int = 8): DataFrame = {
    def keep(name: String)(build: => DataFrame): DataFrame = storeKey match {
      case Some(k) => shared(s, s"${name}_k$kBits:${k.key}", k.inputs)(build)
      case None    => build
    }
    val isDelta = col("vec_id") % 5 === 4
    val baseSigs = keep("lsh_dedup_sigs_base")(
      lshSignatures(s, emb.filter(!isDelta), kBits = kBits, nTables = 24,
        seed = 7L))
    val basePairs = keep("embed_pairs_base")(
      cosineVerify(emb,
        baseSigs.as("x").join(baseSigs.as("y"), Seq("tbl", "bucket"))
          .filter(col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
          .distinct(),
        threshold))
    val deltaSigs = lshSignatures(s, emb.filter(isDelta), kBits = kBits,
      nTables = 24, seed = 7L)
    val deltaCand = baseSigs.unionByName(deltaSigs).as("x")
      .join(deltaSigs.as("y"), Seq("tbl", "bucket"))
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(least(col("x.vec_id"), col("y.vec_id")).as("id_a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("id_b"))
      .distinct()
    basePairs.unionByName(cosineVerify(emb, deltaCand, threshold))
  }

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- exact ANN baseline: brute-force cosine top-3 for sampled queries ----
    "sim_cosine_topk" -> ((s, d) => bruteForceTopK(embOf(s, d), topK = 3)),

    // ---- filtered vector search: top-k under a metadata predicate ----
    // The production-standard "search within a filter" shape (vector DBs
    // call it filtered/metadata ANN): each query retrieves its top-3 among
    // corpus vectors sharing its label only. The label equality is an EQUI
    // key, so the broadcast query sample hash-joins on label and the
    // non-equi self-exclusion is a residual — per-query scoring work drops
    // from |corpus| to |label class|, and Catalyst picks a hash join where
    // the unfiltered baseline needs a nested loop. The IVF-composed variant
    // (`ann_ivf_filtered_topk`) prunes by cell AND label together.
    "sim_filtered_topk" -> ((s, d) => filteredExactTopK(s, d, topK = 3)),

    // ---- approximate ANN: multi-table sign-LSH, compare within buckets ----
    // Standard OR-amplification: L tables of k hyperplane sign bits each; a
    // pair is a candidate if it collides in ANY table (recall ~1-(1-p^k)^L).
    // The signature table carries only (id, table, bucket) — candidate
    // generation shuffles ids, never embeddings. EXACT oracle: the seeded
    // java.util.Random hyperplane draw is a 48-bit LCG that
    // AnnOracleSql.lshTopK replays as a recursive CTE, so buckets,
    // candidates and the final top-k all hash-match; recall vs brute force
    // additionally driver-checked by ann_lsh_recall_gate and pinned in
    // VectorOpsSpec.
    "ann_lsh_topk" -> ((s, d) => annLshTopK(s, embOf(s, d), d)),

    // ---- driver-green recall gate for ann_lsh_topk ----
    // Exact top-1 (brute force, in-Spark) joined against the approximate
    // top-3; emits (n_queries, recall_ok). Oracle knows both values from the
    // data alone, so the hash compare certifies recall >= 0.6 every round.
    "ann_lsh_recall_gate" -> ((s, d) => {
      val emb = embOf(s, d)
      recallGate(storedTop1(s, d),
        annLshTopK(s, emb, d), floor = 0.6)
    }),

    // ---- MinHash-LSH near-dup: 3-gram shingles, 64 hashes, 16 bands x 4 ----
    // Shingling (word 3-grams) is the standard near-verbatim-dedup feature:
    // order-sensitive and discriminative even over a tiny vocabulary, where
    // bag-of-words jaccard saturates (this corpus: 31-word vocab, average
    // token-set jaccard 0.63 — banding token sets degenerates to all-pairs).
    // Miss probability at jaccard 0.9 is (1 - 0.9^4)^16 ~ 4e-8 — still
    // negligible at half the signature CPU and band rows of the earlier
    // 128x32 config — so banded candidates + exact shingle-jaccard verify
    // reproduce the oracle's all-pairs scan without materializing all
    // pairs. Signatures are one tight pass per document; only
    // (doc_id, band, sig) rows shuffle.
    "dedup_minhash_lsh" -> ((s, d) => minhashPairs(s, d).orderBy("id_a", "id_b")),

    // ---- incremental near-dup: delta-only signing vs the stored base ----
    "dedup_minhash_append" -> ((s, d) =>
      minhashPairsAppend(s, d).orderBy("id_a", "id_b")),

    // ---- near-dup cluster resolution: connected components over the
    //      MinHash pair graph, keep the minimum doc_id as representative ----
    // Distributed min-label propagation, built as EIGHT lazily-chained
    // iterations (join edges -> min per node): each round propagates the
    // component minimum one hop, so components of diameter <= 8 converge —
    // near-dup clusters are near-cliques (every pair passes the jaccard
    // verify), so real diameters are 1-2; the recursive-CTE oracle computes
    // the TRUE fixpoint, so an under-converged component would fail the
    // hash compare rather than pass silently. Only (id, label) rows
    // shuffle; no collect, no driver-side loop state beyond plan building.
    "dedup_resolve" -> ((s, d) => {
      // Iterative lineage MUST be cut each round: the next round references
      // the previous labels twice (join + union), so an untruncated chain
      // re-derives the MinHash subplan 2^rounds times (measured: 194 s at
      // sf0.1 vs sub-second truncated). localCheckpoint (the standard
      // Pregel/GraphX per-iteration materialization) truncates the plan
      // without registering the exponentially-nested trees with the cache
      // manager, whose plan canonicalization chokes on them. EAGER BY
      // DESIGN like the IVF codebook: under AQE the checkpointed stages
      // materialize during construction (graph iteration is inherently
      // stage-by-stage); Bench times execution only. Checkpointed frames
      // are (id, label) rows only.
      val pairs = minhashPairs(s, d).select("id_a", "id_b")
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .localCheckpoint(false)
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id"))
      (1 to 8).foreach { _ =>
        labels = edges.join(labels, edges("dst") === labels("id"))
          .select(col("src").as("id"), col("lbl"))
          .union(labels.select("id", "lbl"))
          .groupBy("id").agg(min("lbl").as("lbl"))
          .localCheckpoint(false)
      }
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))
        .orderBy("doc_id")
    }),

    // ---- hybrid retrieval: vector cosine + lexical jaccard, one rank ----
    // The RAG-stack retrieval shape: semantic similarity (embedding
    // cosine) and lexical overlap (3-gram jaccard) fused as
    // 0.5·cos + 0.5·jac, top-3 per query over the doc_id = vec_id slice
    // that carries both signals. Both components are EXACT (codegen
    // vec_dot for the dot, integer intersect/union sizes for jaccard), so
    // the combined score — and hence the ranking — is bit-identical to
    // the oracle with no recall floor needed. Scale shape: broadcast the
    // query sample; either component's ANN/banded index can replace its
    // exact scan without changing the fusion.
    "sim_hybrid_topk" -> ((s, d) => {
      val en = withNorm(embOf(s, d))
      val side = en.join(shingleSets(s, d),
        col("vec_id") === col("doc_id")).drop("doc_id")
      val q = broadcast(side.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("e").as("qe"),
          col("nrm").as("qn"), col("w").as("qw")))
      val scored = side.join(q, col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          ((dot(col("qe"), col("e")) / (col("qn") * col("nrm"))) * 0.5 +
            (size(array_intersect(col("qw"), col("w"))).cast("double") /
              size(array_union(col("qw"), col("w")))) * 0.5).as("sc"))
      val w = Window.partitionBy("qid").orderBy(col("sc").desc, col("nid"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"),
          round(col("sc"), 6).as("score"))
        .orderBy("qid", "rnk")
    }),

    // ---- hybrid retrieval, rank-fusion form: RRF over cosine + BM25 ----
    // Reciprocal Rank Fusion (Cormack et al. SIGIR'09, k=60) — the fusion
    // production RAG stacks actually deploy (Elasticsearch/OpenSearch
    // hybrid search), complementing sim_hybrid_topk's score-weighted
    // form: ranks, not scores, so neither signal needs calibration. Each
    // side contributes 1/(60+rank) for its top-20; candidates surfacing
    // in only one list keep that single term (the standard union
    // semantics). Exactness: both input rankings are already
    // deterministic (exact cosine; BM25 ranked on its rounded score),
    // ranks are integers, and the two-term fused sum is the identical
    // IEEE expression on both engines — so the fused ranking hash-matches
    // with no recall floor. Scale shape: the fusion itself joins two
    // thin top-N-per-query lists on (qid, nid) — negligible next to the
    // input rankings, and either side swaps to its ANN/inverted index
    // without touching the fusion.
    "sim_rrf_topk" -> ((s, d) => rrfTopK(s, d)),

    // ---- RRF with the INDEX as the dense side: the swap, proven ----
    // sim_rrf_topk's scale claim is "either side swaps to its index
    // without touching the fusion" — this entry IS that swap: the IVF
    // index's top-20 (cell-pruned, ~nProbe/k of the corpus scored per
    // query) replaces the exact scan, the fusion arithmetic is identical,
    // and the whole composition still hash-matches an exact oracle (the
    // trained-IVF CTE chain fused with the BM25 chain in SQL).
    "sim_rrf_ann_topk" -> ((s, d) => rrfAnnTopK(s, d)),

    // ---- the index swap's END-metric: per-query top-3 overlap ----
    // What the swap actually costs where it matters — the final fused
    // ranking: per query, how many of the exact-dense fusion's top-3 the
    // IVF-dense fusion also returns. Both pipelines are exactly oracled
    // individually; this entry composes them in ONE query on both engines
    // (the oracle chains the bm25, exact-cosine and trained-IVF CTE
    // blocks and fuses twice), so the overlap column is an exact,
    // hash-checked measurement — not a floor certificate.
    "sim_rrf_swap_overlap" -> ((s, d) => rrfSwapOverlapOf(s, d).orderBy("qid")),

    // ---- the swap measurement promoted to a PINNED FLOOR ----
    // sim_rrf_swap_overlap reports; this entry GATES: mean per-query top-3
    // overlap between the exact-dense and IVF-dense fusions must hold
    // >= 5/3 (the r11 measurements are 2.3 / 2.0 / 2.81 across the SFs —
    // the weakest mean sits EXACTLY on 2.0, so a floor of 2 had zero
    // margin: one query losing one overlap unit under benign IVF
    // tie-shuffle would flip overlap_ok and fail the driver hash. 5/3
    // keeps a one-overlap-per-three-queries cushion below the weakest
    // measurement while still failing on a real quality regression).
    // Checked in pure integer arithmetic (3·sum >= 5·count — no FP
    // boundary), so an IVF quality regression FAILS the driver hash
    // instead of drifting through the report. Same pattern as the
    // ann_*_recall_gates. Timing note: this entry and
    // sim_rrf_swap_overlap share the two persisted pair sets of
    // rrfSwapOverlapOf, so whichever of the two runs second in a session
    // times cache reuse, by design, not the fusion pipelines.
    "sim_rrf_swap_gate" -> ((s, d) =>
      rrfSwapOverlapOf(s, d).agg(
        count(lit(1)).cast("long").as("n_queries"),
        sum("n_common").cast("long").as("n_common_total"),
        (lit(3) * sum("n_common") >= lit(5) * count(lit(1))).as("overlap_ok"))),

    // ---- the swap floor AT SCALE: the sampled-truth certificate ----
    // Same end metric and floor as sim_rrf_swap_gate, but the exact-dense
    // baseline runs only the 1-in-500 query subsample — the form whose
    // exact side stays LINEAR in the corpus, so the same entry that the
    // oracle checks at the testdata SFs also runs on the 400k fixture
    // where the full exact fusion aborts on disk (that abort is the
    // swap's motivation; this row is its quality certificate).
    "sim_rrf_swap_sampled_gate" -> ((s, d) => rrfSwapSampledGate(s, d)),

    // ---- retrieval through the SQL front door ----
    // sql_front_door_curation's contract extended to the retrieval stack:
    // the fused RRF ranking and the exact semantic top-3 register as temp
    // views, and ONE shared report text (per fused rank, how many results
    // pure semantic search would also have returned — the lexical-lift
    // readout of a hybrid stack) executes verbatim on both engines. The
    // Spark plan under the report is the fusion's own.
    "sql_front_door_retrieval" -> ((s, d) => {
      rrfTopK(s, d).createOrReplaceTempView("rrf_topk")
      bruteForceTopK(embOf(s, d), topK = 3)
        .createOrReplaceTempView("cos_topk")
      s.sql(SqlRetrievalReport)
    }),

    // ---- the dedup family through the SQL front door ----
    // The third front-door surface (after relational + curation +
    // retrieval): the three dedup methods' verdict frames — minhash pair
    // graph, asymmetric containment pairs, SemDeDup per-doc verdicts —
    // register as temp views, and ONE shared report text (per-method
    // duplicate-mass attribution: links found, distinct docs flagged,
    // corpus size — the readout a curation owner compares methods with)
    // executes verbatim on both engines. All-integer columns, no FP
    // boundary; the Spark plans under the views are the underlying
    // entries' own (banded join / prefix-filtered join / cell-local scan).
    "sql_front_door_dedup" -> ((s, d) => {
      minhashPairs(s, d).createOrReplaceTempView("minhash_pairs")
      containmentOf(s, Tables.documents(s, d))
        .createOrReplaceTempView("containment_pairs")
      // the SCALED SemDeDup (k=64, the paper's k ~ sqrt(n) regime) is what
      // the front door composes — k=16 stays registered only as the
      // oracle-continuity row (SCALE.md calls it the scale-wrong point)
      semDedup(s, d, k = 64, tau = 0.45)
        .createOrReplaceTempView("semdedup_verdicts")
      Tables.documents(s, d).createOrReplaceTempView("documents")
      s.sql(SqlDedupReport)
    }),

    // ---- retrieval EVALUATION: MRR + nDCG@10 of the index vs exact ----
    // The metrics a retrieval stack is actually judged by, as a
    // first-class operator: ground truth = the exact-cosine top-3 per
    // query (graded 3/2/1), system = the trained IVF index's top-10;
    // per query, MRR (reciprocal rank of the first relevant hit) and
    // nDCG@10. Exactness: the rank-discount table is a 6dp-quantized
    // shared DECIMAL literal (no libm log in the hash), the DCG sum is
    // an order-free decimal aggregate, and MRR/nDCG divide exact values
    // once before the 6dp round. Scale shape: the truth and system
    // lists are thin per-query top-k tables joined by (qid, nid); the
    // expensive inputs are the entries' own plans (brute-force truth is
    // the eval-time cost every offline eval pays; the system side swaps
    // with the index being evaluated).
    "sim_eval_rank_metrics" -> ((s, d) => {
      val truth = bruteForceTopK(embOf(s, d), topK = 3)
        .select(col("qid"), col("nid"),
          (lit(4) - col("rnk")).cast("int").as("grade"))
      val ann = annIvfTopK(s, d, k = 16, nProbe = 4, topK = 10)
        .select(col("qid"), col("rnk"), col("nid"))
      val zeroD = lit(BigDecimal("0.000000")).cast("decimal(13,6)")
      val perQ = ann.join(truth, Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(
          min(when(col("grade").isNotNull, col("rnk"))).as("first_rel"),
          sum(when(col("grade").isNotNull,
            (col("grade") * expr(NdcgWeightCase)).cast("decimal(13,6)"))
            .otherwise(zeroD)).as("dcg_d"))
      perQ.select(col("qid"),
          coalesce(round(lit(1.0) / col("first_rel"), 6), lit(0.0)).as("mrr"),
          col("dcg_d").cast("double").as("dcg"),
          round(col("dcg_d").cast("double") / lit(NdcgIdeal.toDouble), 6)
            .as("ndcg"))
        .orderBy("qid")
    }),

    // ---- MMR diversification: relevance minus redundancy, greedy top-3 --
    // Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98) — the
    // standard rerank that keeps a result list from being three copies of
    // the same passage: pick argmax rel, then twice argmax of
    // 0.5·rel − 0.5·max-sim-to-already-selected over the cosine top-20.
    // The greedy rounds are UNROLLED (three argmax windows), like
    // graph_pagerank's unrolled iterations. Exactness: rel and the
    // candidate-pair sims are the shared exact folds rounded to 6dp
    // BEFORE scoring, the MMR combination is two exact literal products,
    // and every argmax breaks ties on nid — so selection is bit-identical
    // on both engines. Scale shape: per query the rerank touches only its
    // 20-candidate slice (20×20 pair sims), joined by id — the expensive
    // part is the input ranking, which swaps to the ANN index unchanged.
    "sim_mmr_topk" -> ((s, d) => {
      val en = withNorm(embOf(s, d))
      val cand = bruteForceTopK(embOf(s, d), topK = 20)
        .select(col("qid"), col("nid"), col("cos").as("rel"))
      val ea = en.select(col("vec_id").as("nid"), col("e").as("ea"),
        col("nrm").as("nna"))
      val eb = en.select(col("vec_id").as("nb"), col("e").as("eb"),
        col("nrm").as("nnb"))
      val ps = cand.select(col("qid"), col("nid"))
        .join(cand.select(col("qid"), col("nid").as("nb")), "qid")
        .filter(col("nid") =!= col("nb"))
        .join(ea, "nid").join(eb, "nb")
        .select(col("qid"), col("nid"), col("nb"),
          round(dot(col("ea"), col("eb")) / (col("nna") * col("nnb")), 6)
            .as("sim"))
      def argmax(df: DataFrame, score: Column): DataFrame = {
        val w = Window.partitionBy("qid").orderBy(score.desc, col("nid"))
        df.withColumn("sc", score).withColumn("r", row_number().over(w))
          .filter(col("r") === 1)
      }
      val s1 = argmax(cand, col("rel"))
        .select(col("qid"), col("nid").as("sel1"), col("sc").as("sc1"))
      val p1 = ps.select(col("qid"), col("nid"), col("nb").as("sel1"),
        col("sim").as("sim1"))
      val c2 = cand.join(s1, "qid").filter(col("nid") =!= col("sel1"))
        .join(p1, Seq("qid", "nid", "sel1"))
      val s2 = argmax(c2, lit(0.5) * col("rel") - lit(0.5) * col("sim1"))
        .select(col("qid"), col("nid").as("sel2"), col("sc").as("sc2"))
      val p2 = ps.select(col("qid"), col("nid"), col("nb").as("sel2"),
        col("sim").as("sim2"))
      val c3 = c2.join(s2, "qid").filter(col("nid") =!= col("sel2"))
        .join(p2, Seq("qid", "nid", "sel2"))
      val s3 = argmax(c3,
          lit(0.5) * col("rel") - lit(0.5) * greatest(col("sim1"), col("sim2")))
        .select(col("qid"), col("nid").as("sel3"), col("sc").as("sc3"))
      // NO final round: the scores are exact combinations of already-6dp
      // inputs, bit-identical on both engines — rounding again would land
      // 0.5·(a−b) on a 7th-decimal half and flip between Spark's
      // decimal-string HALF_UP and DuckDB's binary rounding (observed at
      // sf0.1: 0.1253935 → 0.125394 vs 0.125393)
      s1.select(col("qid"), lit(1L).as("rnk"), col("sel1").as("nid"),
          col("sc1").as("mmr"))
        .unionByName(s2.select(col("qid"), lit(2L).as("rnk"),
          col("sel2").as("nid"), col("sc2").as("mmr")))
        .unionByName(s3.select(col("qid"), lit(3L).as("rnk"),
          col("sel3").as("nid"), col("sc3").as("mmr")))
        .orderBy("qid", "rnk")
    }),

    // ---- hard-negative mining: lexically close, semantically far ----
    // The contrastive-training data op (DPR/ANCE-style): for each query,
    // candidates that BM25 ranks high (top-20, lexically confusable) but
    // whose embedding cosine is BELOW 0.5 (semantically unrelated) — the
    // negatives that actually teach a retriever, unlike random ones. Top-3
    // per query by BM25 score (hardest first). Exactness: the BM25 ranking
    // is deterministic on its rounded score, the cosine is the shared
    // exact fold, and the 0.5 gate compares bit-identical values on both
    // engines. Scale shape: the candidate set is a thin top-20-per-query
    // list; embeddings join back by id (two equi joins), so the mining
    // pass never scans query × corpus — the BM25 index bounds it.
    "sim_hard_negatives" -> ((s, d) => {
      val en = withNorm(embOf(s, d))
      val qe = en.select(col("vec_id").as("qid"), col("e").as("eq"),
        col("nrm").as("nq"))
      val ne = en.select(col("vec_id").as("nid"), col("e").as("en"),
        col("nrm").as("nn"))
      val cand = LlmText.bm25Ranked(s, d, topN = 20)
        .join(qe, "qid").join(ne, "nid")
        .withColumn("c", dot(col("eq"), col("en")) / (col("nq") * col("nn")))
        .filter(col("c") < 0.5)
      val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
      cand.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("rk").cast("long").as("rnk"), col("nid"),
          col("score"), round(col("c"), 6).as("cos"))
        .orderBy("qid", "rnk")
    }),

    // ---- connected components via alternating large-star/small-star ----
    // The O(log n)-round CC algorithm (Kiveris et al., "Connected
    // Components in MapReduce and Beyond") over the same near-dup graph:
    // label propagation (dedup_resolve) needs diameter-many rounds — a
    // 1000-link duplication chain needs 1000 passes — where star
    // contraction squares progress each round. Large-star hangs every
    // strictly-larger neighbor off the neighborhood minimum; small-star
    // re-hangs the smaller ones; at the fixpoint every component is a
    // star rooted at its minimum id. Each round is two grouped minima +
    // two equi-joins on (id, id) pairs; per-round lineage cut by
    // localCheckpoint (the Pregel materialization — see dedup_resolve);
    // convergence detected by an order-free (count, xor-hash) signature,
    // one bounded 1-row collect per round. Same output and oracle as
    // dedup_resolve: the recursive-CTE TRUE fixpoint, so a wrong
    // contraction would hash-mismatch.
    "dedup_resolve_star" -> ((s, d) => {
      val pairs = minhashPairs(s, d).select("id_a", "id_b")
      starComponents(pairs)
        .withColumnRenamed("id", "doc_id")
        .withColumnRenamed("rep", "cluster_rep")
        .orderBy("doc_id")
    }),

    // ---- the dedup pipeline's END PRODUCT: the surviving corpus ----
    // discovery (banded pairs) -> resolution (star CC) -> MATERIALIZED
    // keep/drop verdict per document: a doc survives iff it is its
    // component's minimum id (singletons trivially survive). This is the
    // table a training pipeline actually consumes — everything upstream
    // is bookkeeping. One broadcast of the (small) component map onto a
    // single corpus scan; at 100 TB the component table is
    // |near-dup docs| rows (<< corpus) and still broadcastable, or the
    // join keys on doc_id either way.
    "dedup_canonical" -> ((s, d) => {
      val comp = starComponents(minhashPairs(s, d).select("id_a", "id_b"))
        .withColumnRenamed("id", "doc_id")
      // no broadcast HINT: Catalyst broadcasts the (small) component map
      // below the auto threshold and falls back to a doc_id-keyed shuffle
      // join when a 100 TB corpus's dup population outgrows it — forcing
      // the broadcast would turn that case into a driver OOM
      Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("rep"), col("doc_id")).as("rep_id"),
          (coalesce(col("rep"), col("doc_id")) === col("doc_id")).as("kept"),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    // ---- leakage audit: near-dup pairs must not cross the hold-out line --
    // The eval-integrity check every serious pipeline runs (GPT-3's
    // appendix C problem): a near-dup pair with one member in train and
    // one in val/test leaks the answer key, because the hash split keys
    // on exact text and near-dups hash apart. The gate counts near-dup
    // pairs crossing sample_split's boundary BEFORE canonical dedup
    // (n_cross_raw — the leakage you'd ship without dedup) and AFTER
    // (n_cross_kept — provably 0, since each component keeps exactly one
    // member). Certificate shape like the recall gates: the oracle derives
    // both counts from the data alone, so the hash compare re-proves
    // "dedup before split" does its job every round. Scale shape: the
    // shared pair-graph artifact + two thin (doc_id, label) maps joined
    // by id — no new corpus pass.
    "split_leakage_gate" -> ((s, d) => {
      val pairs = minhashPairs(s, d).select("id_a", "id_b")
      val h = substring(md5(col("text")), 1, 2)
      val splits = Tables.documents(s, d).select(col("doc_id"),
        when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
          .as("split"))
      val comp = starComponents(pairs).withColumnRenamed("id", "doc_id")
      val kept = Tables.documents(s, d).select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (coalesce(col("rep"), col("doc_id")) === col("doc_id")).as("kept"))
      val sa = splits.select(col("doc_id").as("id_a"), col("split").as("spa"))
      val sb = splits.select(col("doc_id").as("id_b"), col("split").as("spb"))
      val ka = kept.select(col("doc_id").as("id_a"), col("kept").as("keep_a"))
      val kb = kept.select(col("doc_id").as("id_b"), col("kept").as("keep_b"))
      pairs.join(sa, "id_a").join(sb, "id_b").join(ka, "id_a").join(kb, "id_b")
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("spa") =!= col("spb"), 1)).as("n_cross_raw"),
          count(when(col("spa") =!= col("spb") &&
            col("keep_a") && col("keep_b"), 1)).as("n_cross_kept"))
        .select(col("n_pairs"), col("n_cross_raw"), col("n_cross_kept"),
          (col("n_cross_kept") === 0).as("leak_free"))
    }),

    // ---- graph centrality: PageRank over the near-dup graph ----
    // Ranks documents by duplicate-graph centrality (which docs sit at the
    // middle of big copy clusters — the triage order for a dedup report).
    // Five SYNCHRONOUS PageRank iterations (damping 0.85) over the same
    // undirected MinHash pair graph dedup_resolve uses: each round is one
    // equi-join (edge src -> rank) plus a dst-keyed partial-agg'd sum —
    // only (id, deg, rank) rows shuffle, plan lineage cut per round via
    // localCheckpoint exactly like dedup_resolve (eager by design). The
    // oracle unrolls the identical five rounds as chained CTEs, so a
    // missed iteration, wrong damping, or asynchronous update order fails
    // the hash. Constants are written 0.15/0.85 on BOTH sides (not 1-d in
    // one and a literal in the other — different doubles).
    "graph_pagerank" -> ((s, d) => {
      val pairs = minhashPairs(s, d).select("id_a", "id_b")
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .localCheckpoint(false)
      val nodes = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("id"), col("deg"))
        .localCheckpoint(false)
      var rank = nodes.withColumn("r", lit(1.0))
      (1 to 5).foreach { _ =>
        val contrib = edges
          .join(rank.withColumnRenamed("id", "src_id"),
            col("src") === col("src_id"))
          .select(col("dst"), (col("r") / col("deg")).as("c"))
          .groupBy("dst").agg(sum("c").as("csum"))
        rank = nodes
          .join(contrib, nodes("id") === contrib("dst"), "left")
          .select(col("id"), col("deg"),
            (lit(0.15) + lit(0.85) * coalesce(col("csum"), lit(0.0))).as("r"))
          .localCheckpoint(false)
      }
      rank.select(col("id").as("doc_id"), round(col("r"), 6).as("rank"))
        .orderBy("doc_id")
    }),

    // ---- dedup reporting: cluster-size histogram over resolved components ----
    // The stage after resolution in a dedup pipeline: how many duplicate
    // clusters exist at each size (what a curation report shows before
    // deciding the keep policy). Two tiny aggregations over the resolve
    // output — rep cardinality, then size histogram; the oracle reruns its
    // recursive-CTE fixpoint and aggregates the same way.
    "dedup_cluster_stats" -> ((s, d) =>
      queries("dedup_resolve")(s, d)
        .groupBy("cluster_rep").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).cast("long").as("n_clusters"))
        .orderBy("cluster_size")),

    // ---- graph analytics: triangle counts over the near-dup graph ----
    // Triangles measure how CLIQUE-LIKE each dup cluster is — the dedup
    // auditor's signal that a component is one tight copy-family rather
    // than a chain of borderline pairs bridged by threshold noise. The
    // id-ordered edge list (id_a < id_b from minhashPairs) enumerates each
    // triangle exactly once via the standard two-join wedge-close: e1(a,b)
    // ⋈ e2(b,c) makes wedges, e3(a,c) closes them. All three legs are
    // EQUI-joins on node ids. At 100 TB the classic refinement is to
    // orient edges low-degree → high-degree instead of by id (bounds wedge
    // fan-out by sqrt(|E|) under skew); near-dup graphs are small sparse
    // clusters (the hot-bucket cap upstream bounds any one component), so
    // id orientation keeps the oracle trivially identical. Per-node counts
    // emit for participating nodes only.
    "graph_triangles" -> ((s, d) => {
      val e = minhashPairs(s, d).select("id_a", "id_b").localCheckpoint(false)
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.id_b") === col("e2.id_a"))
        .join(e.as("e3"), col("e3.id_a") === col("e1.id_a") &&
          col("e3.id_b") === col("e2.id_b"))
        .select(col("e1.id_a").as("a"), col("e1.id_b").as("b"),
          col("e2.id_b").as("c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy("doc_id")
    })
  )

  /** MinHash-LSH near-duplicate pairs (see the `dedup_minhash_lsh` entry
    * comment for parameter rationale): banded signature self-join for
    * candidates, exact shingle-jaccard >= 0.9 verification.
    *
    * The pair graph IS the near-dup index: four consumers (the pair listing,
    * connected-components resolve, the cluster histogram, PageRank triage)
    * used to each re-shingle and re-sign the whole corpus. Routed through
    * the same shared/durable artifact store as the ANN indexes — built once
    * per (dataset, content fingerprint), persisted in-session, parquet-backed
    * across sessions; staleness is keyed out by dataFp and correctness stays
    * driver-checked every round (the stored pairs feed dedup_minhash_lsh,
    * whose all-pairs oracle would fail the hash on any store corruption). */
  private[queries] def minhashPairs(s: SparkSession, d: String): DataFrame =
    shared(s, s"minhash_pairs:$d:${dataFp(d)}", Seq(docsIn(d)))(minhashPairsBuild(s, d))

  /** (doc_id, band_id, sig) MinHash band rows over word-3-gram shingles:
    * nBands bands of rowsPerBand minhashes each, from nBands*rowsPerBand
    * base hash functions (seed 42). One tight signature pass per document;
    * only the thin band rows ever shuffle. Shared by dedup_minhash_lsh
    * (16 bands x 4 rows — tuned for the 0.9 near-dup threshold) and the
    * fuzzy-contamination screen (32 x 2 — band collision p = j², so at its
    * looser 0.8 threshold the per-pair miss probability stays (1-0.64)^32
    * ≈ 6e-15 and banded candidates still reproduce the all-pairs oracle). */
  private[queries] def minhashBandRows(s: SparkSession, d: String,
      nBands: Int, rowsPerBand: Int): DataFrame =
    minhashBandRowsOf(s, Tables.documents(s, d), nBands, rowsPerBand)

  /** Band rows over an arbitrary (doc_id, text) slice — the append path
    * signs ONLY its delta slice through this. A document's signature
    * depends on nothing but its own shingles, so slice-computed rows are
    * bit-identical to the same rows from a full-corpus pass. */
  private[graft] def minhashBandRowsOf(s: SparkSession, docs: DataFrame,
      nBands: Int, rowsPerBand: Int): DataFrame = {
    val spark = s
    import spark.implicits._
    val nHash = nBands * rowsPerBand
    val seeds = Hashing.seeds(nHash, seed = 42L)
    docs
      .select(col("doc_id"), col("text"))
      .repartition(col("doc_id")) // parallelize the CPU-bound signature pass
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val mins = Array.fill(nHash)(Long.MaxValue)
        shingles3(text).foreach { sh =>
          val h = Hashing.hash64(sh)
          var k = 0
          while (k < nHash) {
            val v = Hashing.mix(h ^ seeds(k))
            if (v < mins(k)) mins(k) = v
            k += 1
          }
        }
        (0 until nBands).map { b =>
          var acc = 1125899906842597L
          var j = 0
          while (j < rowsPerBand) { acc = acc * 31 + mins(b * rowsPerBand + j); j += 1 }
          (id, b, acc)
        }
      }.toDF("doc_id", "band_id", "sig")
  }

  /** Documents as (doc_id, w: array<string>) distinct word-3-gram shingle
    * sets — the exact-verification feature both MinHash consumers share. */
  private[queries] def shingleSets(s: SparkSession, d: String): DataFrame =
    shingleSetsOf(Tables.documents(s, d))

  /** [[shingleSets]] over an arbitrary (doc_id, text) slice — the append
    * path computes features for its DELTA alone through this; a doc's
    * shingle set depends only on its own text, so slice-computed rows are
    * bit-identical to a full-corpus pass. */
  private def shingleSetsOf(docs: DataFrame): DataFrame =
    // widened: shingling is the dedup family's per-row-heavy pass and,
    // over the single-row-group testdata files, it fused into 1-task scan
    // stages (r16 stage profile: three sequential ~0.5 s single-task
    // shingle stages inside one entry). No-op when the input is already
    // at least core-count partitions; filters still push past the
    // round-robin exchange to the scan.
    Tables.widened(docs.sparkSession, docs)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), shingleCol(col("text"), "toks").as("w"))

  /** Banded self-join candidate pairs (id_a < id_b) over band rows. */
  private def bandSelfCandidates(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()

  /** Exact shingle-jaccard >= 0.9 verification over candidate pairs —
    * identical arithmetic whichever candidate generator produced them, so
    * full-rebuild and append paths emit bit-equal (id_a, id_b, jac). */
  private[graft] def jaccardVerify(s: SparkSession, d: String,
      cand: DataFrame): DataFrame =
    jaccardVerifyOn(shingleSets(s, d), cand)

  /** [[jaccardVerify]] against an explicit feature table: the append path
    * passes stored-base ∪ fresh-delta sets so the verify stage READS the
    * base features instead of re-shingling the corpus per ingest. */
  private def jaccardVerifyOn(sets: DataFrame, cand: DataFrame): DataFrame = {
    val wa = sets.select(col("doc_id").as("id_a"), col("w").as("wa"))
    val wb = sets.select(col("doc_id").as("id_b"), col("w").as("wb"))
    cand.join(wa, "id_a").join(wb, "id_b")
      .withColumn("jac",
        size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(array_union(col("wa"), col("wb"))))
      .filter(col("jac") >= 0.9)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
  }

  private def minhashPairsBuild(s: SparkSession, d: String): DataFrame =
    jaccardVerify(s, d,
      bandSelfCandidates(minhashBandRows(s, d, nBands = 16, rowsPerBand = 4)))

  /** Incremental MinHash-LSH dedup — the APPEND path of a near-dup
    * pipeline (the daily-crawl shape item the full rebuild cannot serve):
    * the BASE corpus (doc_id % 5 != 4) keeps its durable band-row and
    * verified-pair-graph artifacts untouched; the delta slice (doc_id % 5
    * == 4) is signed ALONE and band-joined against base ∪ delta band rows,
    * so per-ingest discovery work is O(delta · collision rate), never a
    * corpus-wide re-sign/re-self-join. Because a MinHash signature depends
    * only on its own document, candidate generation and exact verification
    * are pointwise-identical to the full rebuild's — base∪delta coverage
    * is exhaustive (both-base pairs live in the stored graph, any pair
    * touching the delta collides in the delta band join) and the union is
    * disjoint, so the result is hash-equal to dedup_minhash_lsh over the
    * whole corpus. That full rebuild IS the oracle. Mirrors
    * ann_ivf_append_topk's stale-codebook append for the dedup family. */
  private[queries] def minhashPairsAppend(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isDelta = col("doc_id") % 5 === 4
    val baseBands = shared(s, s"minhash_bands_base:$d:${docsFp(d)}", Seq(docsIn(d)))(
      minhashBandRowsOf(s, docs.filter(!isDelta), nBands = 16, rowsPerBand = 4))
    val basePairs = shared(s, s"minhash_pairs_base:$d:${docsFp(d)}", Seq(docsIn(d)))(
      jaccardVerify(s, d, bandSelfCandidates(baseBands)))
    // the verification FEATURE table is durable too (the containment
    // family's design): an ingest reads the base's shingle sets and
    // computes features for its delta alone — without this, the verify
    // stage re-shingled the WHOLE corpus per ingest, an O(corpus) pass
    // hiding inside an O(delta) operation
    val baseSets = shared(s, s"minhash_sets_base:$d:${docsFp(d)}", Seq(docsIn(d)))(
      shingleSetsOf(docs.filter(!isDelta)))
    val allSets = baseSets.unionByName(shingleSetsOf(docs.filter(isDelta)))
    val deltaBands =
      minhashBandRowsOf(s, docs.filter(isDelta), nBands = 16, rowsPerBand = 4)
    val deltaCand = baseBands.unionByName(deltaBands).as("x")
      .join(deltaBands.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"))
      .distinct()
    basePairs.unionByName(jaccardVerifyOn(allSets, deltaCand))
  }

  /** (doc_id, w): sorted hashed 3-gram shingle sets — the containment
    * family's set representation (long compares beat string compares in
    * the merge-intersect; injective modulo ~2^-64 collisions). */
  private def shingleHashSets(docs: DataFrame): DataFrame =
    Tables.widened(docs.sparkSession, docs) // see shingleSetsOf
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        array_sort(array_distinct(transform(shingleCol(col("text"), "toks"),
          x => xxhash64(x)))).as("w"))

  /** Asymmetric containment prefix rows (t = 0.9): each doc's first
    * n − ⌈0.9n⌉ + 1 tokens under the (df, tok) order. `dfTbl` may be a
    * FROZEN snapshot (the append path): tokens missing from it rank as
    * df = 0 — any fixed total order keeps the filter lossless. */
  private def containPrefix(t: DataFrame, dfTbl: DataFrame): DataFrame = {
    val rnW = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
    t.select(col("doc_id"), size(col("w")).as("n"), explode(col("w")).as("tok"))
      .join(dfTbl, Seq("tok"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rn", row_number().over(rnW))
      .filter(col("rn") <= expr("n - (9 * n + 9) div 10 + 1"))
      .select(col("doc_id"), col("tok"))
  }

  /** Exact integer containment verification over candidate (id_a, id_b)
    * pairs — shared by the full and append paths so both emit bit-equal
    * rows for the same pair. */
  private def containVerify(t: DataFrame, cand: DataFrame): DataFrame = {
    val wa = t.select(col("doc_id").as("id_a"), col("w").as("wa"))
    val wb = t.select(col("doc_id").as("id_b"), col("w").as("wb"))
    cand.join(wa, "id_a").join(wb, "id_b")
      .filter(size(col("wb")) * 10 >= size(col("wa")) * 9)
      .withColumn("inter", expr("sorted_intersect_size(wa, wb)"))
      .filter(col("inter") * 10 >= size(col("wa")) * 9)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / size(col("wa")), 6).as("cont"))
  }

  /** Full asymmetric-containment scan over an arbitrary documents frame
    * (doc_id, text). */
  private[queries] def containmentOf(s: SparkSession,
      docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val t = shingleHashSets(docs)
    val dfTbl = t.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val pref = containPrefix(t, dfTbl)
    val post = t.select(col("doc_id").as("id_b"), explode(col("w")).as("tok"))
    val cand = pref.as("x").join(post,
        col("x.tok") === post("tok") && col("x.doc_id") =!= col("id_b"))
      .select(col("x.doc_id").as("id_a"), col("id_b"))
      .distinct()
    containVerify(t, cand)
  }

  /** Append path of the containment scan (see the registry comment at
    * `dedup_containment_append`); `storeKey = None` skips the durable
    * artifacts (spec use). */
  private[queries] def containmentAppendOf(s: SparkSession, docs: DataFrame,
      storeKey: Option[StoreKey]): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    def keep(name: String)(build: => DataFrame): DataFrame = storeKey match {
      case Some(kk) => shared(s, s"$name:${kk.key}", kk.inputs)(build)
      case None     => build
    }
    val isDelta = col("doc_id") % 5 === 4
    val tBase = keep("contain_sets_base")(shingleHashSets(docs.filter(!isDelta)))
    val dfBase = keep("contain_df_base")(
      tBase.select(explode(col("w")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df")))
    val prefBase = keep("contain_pref_base")(containPrefix(tBase, dfBase))
    // postings re-derive from the stored sets (one cheap explode) —
    // storing them would duplicate the sets at shingle granularity
    val postBase = tBase.select(col("doc_id").as("id_b"),
      explode(col("w")).as("tok"))
    val basePairs = keep("contain_pairs_base")(
      containVerify(tBase,
        prefBase.as("x").join(postBase,
            col("x.tok") === postBase("tok") &&
              col("x.doc_id") =!= col("id_b"))
          .select(col("x.doc_id").as("id_a"), col("id_b")).distinct()))
    val tDelta = shingleHashSets(docs.filter(isDelta))
    val tAll = tBase.unionByName(tDelta)
    val postDelta = tDelta.select(col("doc_id").as("id_b"),
      explode(col("w")).as("tok"))
    val postAll = postBase.unionByName(postDelta)
    val prefDelta = containPrefix(tDelta, dfBase)
    val cand = prefDelta.as("x").join(postAll,
        col("x.tok") === postAll("tok") && col("x.doc_id") =!= col("id_b"))
      .select(col("x.doc_id").as("id_a"), col("id_b"))
      .unionByName(prefBase.as("y").join(postDelta,
          col("y.tok") === postDelta("tok") &&
            col("y.doc_id") =!= col("id_b"))
        .select(col("y.doc_id").as("id_a"), col("id_b")))
      .distinct()
    basePairs.unionByName(containVerify(tAll, cand))
  }

  private val moreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- n-gram jaccard near-dup: prefix-filter (AllPairs) set-similarity
    //      join over word 3-gram shingle sets ----
    // The third discovery-scale candidate strategy next to MinHash banding
    // and SimHash blocking: order each doc's hashed shingle set by a global
    // total order, emit only the first |A| - ceil(t|A|) + 1 tokens (the
    // "prefix"); two sets with jaccard >= t MUST share a prefix token
    // (Bayardo et al., WWW 2007, "Scaling Up All Pairs Similarity Search"),
    // so the token-equality join over prefixes is a lossless candidate
    // generator. The order used is ASCENDING GLOBAL DOCUMENT FREQUENCY —
    // the paper's key trick: prefixes then hold each doc's rarest shingles,
    // so prefix-token posting lists (and hence candidate pairs) stay tiny
    // even on dense corpora (hash order on this 31-word-vocabulary corpus
    // produced ~8x more candidates). df is one shuffle agg on the token;
    // per-doc ordering is a window over the high-cardinality doc_id. Exact
    // jaccard (codegen merge-intersect) runs on candidates only.
    "dedup_ngram_jaccard" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val t = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          array_sort(array_distinct(transform(shingleCol(col("text"), "toks"),
            x => xxhash64(x)))).as("w"))
      val dfTbl = t.select(explode(col("w")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      // exact integer prefix length for t = 0.8 = 4/5: n - ceil(4n/5) + 1
      val rnW = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
      val pref = t.select(col("doc_id"), size(col("w")).as("n"),
          explode(col("w")).as("tok"))
        .join(dfTbl, "tok")
        .withColumn("rn", row_number().over(rnW))
        .filter(col("rn") <= expr("n - (4 * n + 4) div 5 + 1"))
        .select(col("doc_id"), col("tok"))
      val cand = pref.as("x").join(pref.as("y"),
          col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
      val wa = t.select(col("doc_id").as("id_a"), col("w").as("wa"))
      val wb = t.select(col("doc_id").as("id_b"), col("w").as("wb"))
      cand.join(wa, "id_a").join(wb, "id_b")
        .filter(size(col("wa")) * 5 >= size(col("wb")) * 4 &&
          size(col("wb")) * 5 >= size(col("wa")) * 4) // size filter: t|A|<=|B|<=|A|/t
        .withColumn("inter", expr("sorted_intersect_size(wa, wb)"))
        .withColumn("jac", col("inter").cast("double") /
          (size(col("wa")) + size(col("wb")) - col("inter")))
        .filter(col("jac") >= 0.8)
        .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
        .orderBy("id_a", "id_b")
    }),

    // ---- asymmetric containment: the small-doc-inside-big-doc case ----
    // C(A,B) = |A∩B| / |A| >= 0.9 over the same 3-gram shingle sets — the
    // quote/excerpt/boilerplate-wrapper duplication Jaccard structurally
    // misses when sizes differ (|A∩B|/|A∪B| dilutes with |B|). Lossless
    // prefix filter, asymmetric form (Chaudhuri et al. ICDE'06 SSJoin;
    // same df-ascending order as dedup_ngram_jaccard): if B misses ALL of
    // A's first |A| - ceil(t|A|) + 1 tokens, the overlap can't reach
    // t·|A| — so only the CONTAINED side emits a prefix, joined against
    // the full posting list of the container side (rare-first ordering
    // keeps those postings tiny). Verification and the threshold are pure
    // integer arithmetic (inter*10 >= |A|*9) — no FP boundary to flip.
    "dedup_containment" -> ((s, d) =>
      containmentOf(s, Tables.documents(s, d)).orderBy("id_a", "id_b")),

    // ---- incremental containment: frozen-df prefixes, delta-only explode --
    // The append verb for the asymmetric family. The df-ascending prefix
    // ORDER is only a performance heuristic — the filter is lossless under
    // ANY fixed total token order — so the base's df table is FROZEN as a
    // durable artifact (the stale-statistics analog of the IVF append's
    // stale codebook; tokens unseen in base rank as df = 0, i.e. rarest
    // — exactly right). Base shingle sets, prefixes and verified
    // base-base pairs are durable and reused verbatim (a pair's
    // containment depends only on its two members — final forever); a
    // delta ingest explodes only itself: delta prefixes probe
    // base ∪ delta postings (delta-contained case), stored base prefixes
    // probe delta postings alone (base-contained-in-delta case). Coverage
    // is exhaustive by the same case split, and since verification
    // recomputes exact containment on candidates, the result is
    // hash-equal to the full rebuild — which IS the oracle.
    "dedup_containment_append" -> ((s, d) => containmentAppendOf(s,
      Tables.documents(s, d), storeKey = Some(docsKey(d)))
      .orderBy("id_a", "id_b")),

    // ---- IVF ANN: coarse k-means quantizer, probe nearest cells ----
    // The cluster-index scale path: train a small codebook, assign every
    // vector to its nearest centroid (the inverted file), then answer each
    // query by exact cosine over only the nProbe nearest cells (~nProbe/k
    // of the corpus scanned). EXACT oracle: AnnOracleSql rebuilds the
    // deterministic Lloyd training + probing in SQL; recall vs brute force
    // additionally pinned in VectorOpsSpec.
    "ann_ivf_topk" -> ((s, d) =>
      annIvfTopK(s, d, k = 16, nProbe = 4, topK = 3)),

    // ---- driver-green recall gate for ann_ivf_topk (floor 0.5) ----
    "ann_ivf_recall_gate" -> ((s, d) =>
      recallGate(storedTop1(s, d),
        annIvfTopK(s, d, k = 16, nProbe = 4, topK = 3), floor = 0.5)),

    // ---- random-projection (JL) dim reduction: 64 → 16, exactly oracled --
    // The transform a 100 TB embedding pipeline runs BEFORE indexing: 4×
    // narrower vectors cut every downstream shuffle/index/scan by the
    // same factor. Seeded ±1 matrix (code, not data) → the whole map
    // pass replays in SQL via the LCG. Thin (vec_id, dim_idx, y) output:
    // raw doubles, bit-identical by shared fold order.
    "emb_random_projection" -> ((s, d) =>
      projectedEmb(s, d, kOut = 16, seed = 7L)
        .select(col("vec_id"), posexplode(col("y")).as(Seq("dim_idx", "yv")))
        .select(col("vec_id"), col("dim_idx").cast("long").as("dim_idx"),
          col("yv").as("y"))
        .orderBy("vec_id", "dim_idx")),

    // ---- ranking IN the projected space: the reduce-then-rank pipeline --
    "sim_projected_topk" -> ((s, d) =>
      projectedTopK(s, d, kOut = 16, seed = 7L, topK = 3)),

    // ---- the projection's QUALITY certificate: JL distortion bounds ----
    // What a 64→16 ±1 projection honestly guarantees is bounded NORM/
    // DISTANCE distortion (E[‖y‖²] = ‖e‖² exactly; per-vector ratio is a
    // χ²₁₆/16 — measured [0.13, 2.44] across the SFs, mean 0.99-1.02).
    // It does NOT preserve top-1 ranks on this corpus — measured recall@3
    // of the exact top-1 ≈ 0.075, and deliberately so: the synthetic
    // embeddings are isotropic noise (even FULL-dimension 3-NN label
    // accuracy measures at the 1/10 chance floor), so there is no rank
    // structure to preserve and a recall gate here would pin a
    // coin-flip. The gate certifies the real JL claim with wide-slack
    // bounds (ratio ∈ [1/16, 4]: χ² tail mass ~1e-7 per vector; mean ∈
    // [0.9, 1.1]): booleans + integer count only, no FP hash boundary.
    "proj_distortion_gate" -> ((s, d) => {
      val pe = projectedEmb(s, d, kOut = 16, seed = 7L)
      val ratio = pe.join(embOf(s, d), "vec_id")
        .select((dot(col("y"), col("y")) / dot(col("e"), col("e"))).as("r"))
      ratio.agg(
        count(lit(1)).cast("long").as("n_vectors"),
        (max(when(col("r") >= 0.0625 && col("r") <= 4.0, 0).otherwise(1)) === 0)
          .as("all_within_4x"),
        (sum("r") / count(lit(1)) >= 0.9 &&
          sum("r") / count(lit(1)) <= 1.1).as("mean_within_10pct"))
    }),

    // ---- the projection's RECALL certificate on a clustered corpus ----
    // The distortion gate certifies norms; THIS certifies what a pipeline
    // actually buys the projection for — near-duplicate structure
    // survives 64 -> 16. Driver embeddings are isotropic, so the entry
    // derives a clustered corpus from them with integer-exact mixing
    // (bit-identical on both engines) and gates planted-partner top-1
    // recall in the projected space. See projClusterRecallGate.
    "proj_cluster_recall_gate" -> ((s, d) =>
      projClusterRecallGate(s, d, kOut = 16, seed = 7L)),

    // ---- the recall-vs-nProbe TRADEOFF CURVE, exactly oracled ----
    // The gate pins one operating point; a 100 TB operator TUNES nProbe.
    // One row per swept value (shared index + stored baseline), every
    // (n_probe, n_hits) cell hash-checked against the trained-codebook
    // replay — a cell-balance regression shows as a curve shift, not a
    // single-point flicker.
    "ann_ivf_nprobe_sweep" -> ((s, d) =>
      ivfNProbeSweep(s, d, k = 16, nProbes = Seq(1, 2, 4, 8), topK = 3)),

    // ---- incremental IVF: append a delta batch WITHOUT retraining ----
    // The index-maintenance lifecycle: codebook trained on the base slice
    // only, the appended delta encoded with the same stale codebook as its
    // own artifact, union at query time. EXACT oracle (sample restricted
    // to the base slice in SQL) — the whole append path is hash-checked.
    "ann_ivf_append_topk" -> ((s, d) =>
      annIvfAppendTopK(s, d, k = 16, nProbe = 4, topK = 3)),

    // ---- IVF delete/compaction: tombstones on the durable store ----
    // Completes create/append/delete on the vector store: vec_id % 7 == 3
    // is tombstoned (ratio ~14% > the 10% compaction threshold, so the
    // registered entry exercises the compaction path itself); results are
    // hash-equal to querying the live vectors under the original codebook
    // (AnnOracleSql liveWhere replay). IndexStoreSpec pins the threshold
    // behavior on both sides and the equality of the two regimes.
    "ann_ivf_delete_topk" -> ((s, d) =>
      annIvfDeleteTopK(s, d, k = 16, nProbe = 4, topK = 3)),

    // ---- ONLINE serving against the durable IVF store: 14th drain ----
    // The LAST verb of the index lifecycle (create/append/delete/retrain/
    // SERVE): a query-vector stream answered per micro-batch from the
    // stored inverted file — read, never rebuilt (same artifact key as
    // ann_ivf_topk; IndexStoreSpec pins no-rewrite). Must hash-match the
    // batch ann_ivf_topk oracle: serve == batch over the same query set.
    // See EventStreams.drainAnnTopK for the per-batch plan.
    "stream_ann_topk" -> ((s, d) =>
      graft.streaming.EventStreams.drainAnnTopK(s, d, k = 16, nProbe = 4,
        topK = 3)),

    // ---- filtered IVF ANN: cell pruning composed with the label filter ----
    // Approximate counterpart of sim_filtered_topk: the inverted file
    // carries the label, candidates come from an equi-join on (cell,
    // label). EXACT oracle: AnnOracleSql rebuilds the trained index in SQL;
    // the recall gate below additionally floors quality vs the exact
    // filtered baseline.
    // nProbe 8 (vs 4 unfiltered): under a selective filter the nearest
    // QUALIFYING neighbor is farther than the nearest overall, so filtered
    // search widens the probe set — the standard filtered-ANN remedy.
    "ann_ivf_filtered_topk" -> ((s, d) =>
      annIvfFilteredTopK(s, d, k = 16, nProbe = 8, topK = 3)),

    // ---- driver-green recall gate for ann_ivf_filtered_topk (floor 0.5) ----
    "ann_ivf_filtered_recall_gate" -> ((s, d) =>
      recallGate(
        shared(s, s"bf_filt_top1:$d:${dataFp(d)}", Seq(embIn(d)))(filteredExactTopK(s, d, 1)),
        annIvfFilteredTopK(s, d, k = 16, nProbe = 8, topK = 3), floor = 0.5)),

    // ---- filtered ANN, deterministic anchored quantizer: EXACT oracle ----
    // Same filtered-ANN shape as ann_ivf_filtered_topk but the coarse cells
    // anchor on 16 id-selected corpus vectors instead of a trained
    // codebook, so the DuckDB oracle rebuilds the index in SQL and the
    // driver hash-checks the ENTIRE approximate pipeline — cells, probing,
    // candidate sets, scores — not just a recall floor.
    "ann_anchor_filtered_topk" -> ((s, d) => annAnchorFilteredTopK(s, d, topK = 3)),

    // ---- semantic cluster report over the anchored cells ----
    // The corpus-topology report a curation pipeline reads before choosing
    // sampling weights: per anchor cell, how many vectors landed there and
    // how tight the cluster is (mean cosine to its anchor). Reuses the
    // deterministic anchor index, so the whole report — assignment included
    // — hash-matches an exact SQL oracle. One thin (vec_id, aid, ac) pass +
    // one 16-group agg; the embedding column is never shuffled.
    "embed_cluster_stats" -> ((s, d) => {
      val (_, ranked) = anchorRanked(s, d)
      ranked.filter(col("r") === 1)
        .groupBy(col("aid").as("cell"))
        .agg(count(lit(1)).as("n"), round(avg(col("ac")), 6).as("avg_cos"))
        .orderBy("cell")
    }),

    // ---- drift-triggered retrain decision for the IVF store ----
    // The fourth index-maintenance verb, closing the loop the delete
    // path's docs point at ("re-train on drift"): the same anchor-cell
    // population drift dq_drift_embed reports, compared against a
    // retrain threshold — appends encode with the stale codebook
    // (ann_ivf_append_topk) UNTIL the delta's cell distribution has
    // moved enough that stale cells misroute probes, at which point the
    // store schedules a retrain. Threshold check is on the QUANTIZED
    // tv value (exact rational on both engines), so the boolean cannot
    // sit on an FP boundary. Oracle replays drift + threshold; the
    // decision itself is hash-checked, not just the score.
    "ann_retrain_gate" -> ((s, d) => {
      val (_, ranked) = anchorRanked(s, d)
      anchorCellDrift(ranked)
        .select(col("tv").as("cluster_tv_dist"),
          (col("tv") > RetrainTvThreshold).as("retrain"),
          col("tb").cast("long").as("n_base"),
          col("td").cast("long").as("n_delta"))
    }),

    // ---- embedding drift monitor: the vector-side dq_drift ----
    // The monitor an embedding pipeline pairs with dedup_embed_append:
    // between the base slice (vec_id % 5 != 4) and today's delta, report
    // (a) the squared L2 shift of the mean vector and (b) the population
    // drift across the 16 deterministic anchor cells (TV distance +
    // chi-square, smoothed) — distributional change the scalar dq_drift
    // cannot see. Same hash discipline as dq_drift: pure rational
    // arithmetic, every per-dim / per-cell term quantized to 2^-30 and
    // summed as exact integers so the reduction is order-free on both
    // engines (per-dim element sums stay < 2^53 at gate scale; a 100 TB
    // run would widen the quantized accumulator, not the algorithm).
    // Scale shape: one explode to thin (dim, x) rows -> 64-group agg;
    // cell assignment reuses the stored anchor ranking; cluster drift is
    // a 16-group agg + one-row totals broadcast. Bounded aggs only.
    "dq_drift_embed" -> ((s, d) => {
      val (en, ranked) = anchorRanked(s, d)
      val isDelta = col("vec_id") % 5 === 4
      val Q = 1073741824.0 // 2^30
      val el = en
        .select(col("vec_id"), posexplode(col("e")).as(Seq("dim", "x")))
        .withColumn("is_delta", isDelta)
      val dims = el.groupBy("dim").agg(
        sum(when(!col("is_delta"), floor(col("x") * Q)
          .cast("decimal(38,0)"))).as("sb"),
        count(when(!col("is_delta"), 1)).as("nb"),
        sum(when(col("is_delta"), floor(col("x") * Q)
          .cast("decimal(38,0)"))).as("sd"),
        count(when(col("is_delta"), 1)).as("nd"))
      val shiftRow = dims
        .withColumn("mb", col("sb").cast("double") / Q / col("nb"))
        .withColumn("md", col("sd").cast("double") / Q / col("nd"))
        .agg(
          round(sum(floor((col("mb") - col("md")) * (col("mb") - col("md")) * Q)
            .cast("decimal(38,0)")).cast("double") / Q, 6).as("value"),
          max(col("nb")).as("n_base"), max(col("nd")).as("n_delta"))
        .select(lit("mean_shift_l2sq").as("metric"), col("value"),
          col("n_base").cast("long").as("n_base"),
          col("n_delta").cast("long").as("n_delta"))
      val cl = anchorCellDrift(ranked)
      shiftRow
        .unionByName(cl.select(lit("cluster_chi2").as("metric"),
          col("chi2").as("value"), col("tb").cast("long").as("n_base"),
          col("td").cast("long").as("n_delta")))
        .unionByName(cl.select(lit("cluster_tv_dist").as("metric"),
          col("tv").as("value"), col("tb").cast("long").as("n_base"),
          col("td").cast("long").as("n_delta")))
        .orderBy("metric")
    }),

    // ---- cluster-balanced sampling: per-cell cap, deterministic draw ----
    // The SemDeDup/DataComp-style balancing step: cap every semantic
    // cluster at 30 docs so giant topics can't dominate the mixture, with
    // the survivors chosen by the deterministic multiplicative vec_id hash
    // (reproducible under any partitioning, exactly recomputable by the
    // oracle). The cap window partitions by cell — state bounded by cell
    // population — over rows that carry only (vec_id, cell, hash).
    "sample_cluster_balanced" -> ((s, d) => {
      val (_, ranked) = anchorRanked(s, d)
      val h = (col("vec_id") % 16777216L) * 2654435761L % 16777216L
      val w = Window.partitionBy("cell").orderBy(col("h"), col("vec_id"))
      ranked.filter(col("r") === 1)
        .select(col("vec_id"), col("aid").as("cell"), h.as("h"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 30)
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),

    // ---- PQ-ADC ANN: product-quantized codes + asymmetric distance ----
    // The memory-compression scale path (codes + norm instead of raw
    // vectors at query time); exact re-rank of the PQ shortlist. EXACT
    // oracle: AnnOracleSql rebuilds the per-subspace codebooks, codes and
    // ADC tables in SQL; the recall gate below additionally floors recall
    // and AnnPqSpec pins it in sbt test.
    "ann_pq_topk" -> ((s, d) =>
      annPqTopK(s, embOf(s, d), d, m = 16, k = 16, topK = 3)),

    "ann_pq_recall_gate" -> ((s, d) => {
      val emb = embOf(s, d)
      recallGate(storedTop1(s, d),
        annPqTopK(s, emb, d, m = 16, k = 16, topK = 3), floor = 0.5)
    }),

    // ---- scalar quantization (SQ8): byte-per-dimension compression ----
    // The no-training quantizer vector stores default to before PQ; exact
    // oracle replays min/max bounds, encode/decode and the ADC fold
    // op-for-op; recall vs brute force additionally gated below.
    "ann_sq_topk" -> ((s, d) => annSqTopK(s, embOf(s, d), d, topK = 3)),
    "ann_sq_recall_gate" -> ((s, d) => {
      val emb = embOf(s, d)
      recallGate(storedTop1(s, d),
        annSqTopK(s, emb, d, topK = 3), floor = 0.5)
    }),

    // ---- k-NN majority-vote label classification over embeddings ----
    // The embedding-quality eval of a training pipeline: classify each
    // query vector by the majority label of its exact top-3 neighbors and
    // report (true, predicted, correct) per query. Reuses the brute-force
    // top-k (hash-exact vs the oracle already); the vote is two tiny aggs
    // over topK rows per query. Ties break (votes DESC, label ASC) on both
    // sides, so the prediction is deterministic.
    "sim_knn_classify" -> ((s, d) => {
      val emb = embOf(s, d)
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("lbl"))
      val nbrs = bruteForceTopK(emb, 3)
      val votes = nbrs
        .join(broadcast(labels.withColumnRenamed("vec_id", "nid")), "nid")
        .groupBy(col("qid"), col("lbl"))
        .agg(count(lit(1)).as("votes"))
      val wv = Window.partitionBy("qid")
        .orderBy(col("votes").desc, col("lbl"))
      val pred = votes.withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 1)
        .select(col("qid"), col("lbl").as("pred_label"))
      pred
        .join(broadcast(labels
          .select(col("vec_id").as("qid"), col("lbl").as("true_label"))), "qid")
        .select(col("qid"), col("true_label"), col("pred_label"),
          (col("true_label") === col("pred_label")).as("correct"))
        .orderBy("qid")
    }),

    // ---- composed IVF+PQ ANN: coarse pruning + residual-code compression ----
    // The production index shape at 100 TB: IVF restricts each query to
    // nProbe/kc of the corpus, PQ residual codes make every scored row a few
    // bytes, and candidate scoring is an equi-join on cell id. EXACT oracle:
    // AnnOracleSql rebuilds BOTH trained codebook layers (coarse + residual)
    // in SQL; the recall gate below stays as the quality floor and
    // AnnIvfPqSpec pins it in sbt test.
    "ann_ivfpq_topk" -> ((s, d) =>
      annIvfPqTopK(s, embOf(s, d), d,
        kc = 16, nProbe = 4, m = 16, k = 16, topK = 3)),

    "ann_ivfpq_recall_gate" -> ((s, d) => {
      val emb = embOf(s, d)
      recallGate(storedTop1(s, d),
        annIvfPqTopK(s, emb, d,
          kc = 16, nProbe = 4, m = 16, k = 16, topK = 3), floor = 0.5)
    }),

    // ---- driver-green durability gate for the ANN index store ----
    // The brute-force top-1 baseline is an index artifact like any other:
    // it round-trips through the durable parquet store (rebuild-on-missing,
    // keyed by dataset fingerprint + params + format version). The gate
    // joins the STORED artifact (read back from parquet) against an
    // independent FRESH computation row-by-row; any loss of fidelity in the
    // store — truncated write, stale fingerprint hit, schema drift across
    // format versions — produces a mismatched or unmatched row and flips
    // store_ok. The oracle predicts the certificate from the data alone
    // (n_queries = query-sample size, store_ok = true).
    // ---- driver-green gate for the store's GC verb (vacuum) ----
    "index_vacuum_gate" -> ((s, d) => indexVacuumGate(s, d)),

    "ann_index_store_gate" -> ((s, d) => {
      val emb = embOf(s, d)
      val stored = storedTop1(s, d)
        .select(col("qid"), col("rnk"), col("nid").as("s_nid"), col("cos").as("s_cos"))
      val fresh = bruteForceTopK(emb, 1)
        .select(col("qid"), col("rnk"), col("nid").as("f_nid"), col("cos").as("f_cos"))
      stored.join(fresh, Seq("qid", "rnk"), "full_outer")
        .withColumn("ok", coalesce(
          col("s_nid") === col("f_nid") && col("s_cos") === col("f_cos"),
          lit(false)))
        .agg(
          count(lit(1)).cast("long").as("n_queries"),
          coalesce(min(col("ok")), lit(true)).as("store_ok"))
    }),

    // ---- embedding-cosine near-dup: sign-LSH banding + exact verify ----
    // k=8 bits x L=24 tables: a pair at cosine 0.9 (theta 25.8deg) collides
    // per-table with p=(1-theta/180)^8~0.29, so the miss probability is
    // (1-p)^24 ~ 3e-4 (tighter pairs miss far less; exact duplicates never);
    // 256 buckets/table keeps per-bucket populations — and hence candidate
    // pairs — 4x sparser than k=6 at the same L. Only (id, table, bucket)
    // rows shuffle during candidate generation; the exact cosine filter on
    // candidates reproduces the all-pairs oracle.
    "dedup_embed_cosine" -> ((s, d) =>
      embedCosineDedup(s, embOf(s, d), threshold = 0.9,
        kBits = oracleLshBits(d))),

    // ---- SemDeDup: cluster-scoped semantic dedup, per-doc keep verdict ----
    // Abbas et al. 2023 — k-means cells bound the pair space, the greedy
    // (sim-to-centroid ASC, id ASC) predecessor rule keeps the least
    // prototypical member of each duplicate group. Exactly oracled via the
    // Lloyd replay (AnnOracleSql.semDedup). See semDedup for the scale
    // contract (k grows with the corpus; cells stay bounded).
    "dedup_semdedup" -> ((s, d) => semDedup(s, d, k = 16, tau = 0.45)),

    // ---- SemDeDup at the SCALE-RIGHT cluster count ----
    // dedup_semdedup pins k=16 for oracle continuity, but 16 cells is the
    // scale-WRONG configuration: any ingest touches every cell, so the
    // append path's touched-cell locality buys nothing (measured 0.89
    // append/rebuild ratio at k=16 vs 0.40 at k=512 on the 40k-doc Zipf
    // fixture — TimeSemDedup, ROUNDLOG r12). The paper's regime grows k
    // with the corpus so cell sizes stay bounded (50k clusters on 600M
    // embeddings); this entry registers that regime at the k≈2.5·√n rule's
    // value for the sf0.01 contract corpus (n=500 → k=64; the same rule
    // gives the probe's k=512 at 40k docs). Same Lloyd-replay oracle,
    // parameterized at 64 — a cell-balance or assignment regression at
    // production-shaped k now fails the driver hash, not just a probe.
    "dedup_semdedup_scaled" -> ((s, d) => semDedup(s, d, k = 64, tau = 0.45)),

    // ---- incremental SemDeDup: delta-only assignment, touched-cell rescan --
    // The append verb for the semantic verdict: base cell assignment and
    // per-cell verdicts are durable REUSEd artifacts; a delta ingest
    // assigns only itself under the stale base codebook and recomputes
    // only the cells it touches. Hash-equal to the one-shot scan under the
    // same base-trained codebook (the oracle restricts Lloyd's sample to
    // the base slice and verdicts the whole corpus).
    "dedup_semdedup_append" -> ((s, d) => semDedupAppendOf(s, embOf(s, d),
      k = 16, tau = 0.45, storeKey = Some(embKey(d)))),

    // ---- the append verb AT the scale-right k ----
    // dedup_semdedup_append's touched-cell locality only pays off when k
    // scales with the corpus (at k=16 every ingest touches every cell);
    // this entry exercises the append machinery at dedup_semdedup_scaled's
    // k=64, where a delta batch leaves most cells untouched and their
    // stored verdicts ship verbatim. Same exact oracle, Lloyd sample
    // restricted to the base slice.
    "dedup_semdedup_scaled_append" -> ((s, d) => semDedupAppendOf(s,
      embOf(s, d), k = 64, tau = 0.45, storeKey = Some(embKey(d)))),

    // ---- incremental embedding near-dup: delta-only signing vs base ----
    "dedup_embed_append" -> ((s, d) =>
      embedCosineAppend(s, d, threshold = 0.9).orderBy("id_a", "id_b")),

    // ---- SimHash near-dup: 64-bit signature, 4x16-bit segment blocking ----
    // Hamming <= 3 guarantees at least one of the 4 segments is equal, so
    // segment-equality grouping finds every qualifying pair without an
    // all-pairs scan. Signature built in one pass per document (token
    // occurrences weighted, like the classic Charikar construction). No SQL
    // oracle (hash family lives in code); driver-checked by
    // dedup_simhash_exact_gate and pinned in VectorOpsSpec.
    "dedup_simhash" -> ((s, d) =>
      simhashBlockedPairs(simhashDocSigs(s, d)).orderBy("id_a", "id_b")),

    // ---- driver-green exactness gate for dedup_simhash ----
    // Segment blocking is lossless at hamming<=3 by pigeonhole, so the
    // blocked pair set must EQUAL an independent all-pairs scan over the
    // 8-byte signatures. The all-pairs join is test-scale verification only
    // (it is the shape the blocked path exists to avoid at 100 TB); the
    // oracle states the only acceptable outcome — zero set difference —
    // plus n_docs as a data-dependent anchor.
    "dedup_simhash_exact_gate" -> ((s, d) => {
      val sigs = simhashDocSigs(s, d)
      val blocked = simhashBlockedPairs(sigs)
        .select("id_a", "id_b").withColumn("in_b", lit(1))
      val exact = sigs.as("x")
        .join(broadcast(sigs.as("y")), col("x.doc_id") < col("y.doc_id"))
        .filter(expr("bit_count(x.simhash ^ y.simhash)") <= 3)
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .withColumn("in_e", lit(1))
      val diff = blocked.join(exact, Seq("id_a", "id_b"), "full_outer")
        .agg(
          coalesce(sum(when(col("in_e").isNull, 1).otherwise(0)), lit(0))
            .cast("long").as("n_only_blocked"),
          coalesce(sum(when(col("in_b").isNull, 1).otherwise(0)), lit(0))
            .cast("long").as("n_only_exact"))
        .withColumn("sets_equal",
          col("n_only_blocked") === 0 && col("n_only_exact") === 0)
      val nDocs = sigs.agg(count(lit(1)).cast("long").as("n_docs"))
        .withColumn("k", lit(1))
      diff.withColumn("k", lit(1)).join(broadcast(nDocs), "k")
        .select("n_docs", "n_only_blocked", "n_only_exact", "sets_equal")
    })
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ moreQueries

  /** CTE chain of the RRF oracle (BM25 top-20 `bmr`, cosine top-20
    * `cosr`, union-semantics fusion `fused`) and its final select —
    * split so the SQL front door can bind the fused frame as a view. */
  private lazy val RrfOracleCtes: String =
    s"""${LlmText.bm25OracleCtes(topN = 20)},
      |ce AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |cq AS MATERIALIZED (
      |  SELECT vec_id AS qid, emb AS qe FROM ce WHERE vec_id % 50 = 0),
      |cp AS MATERIALIZED (
      |  SELECT cq.qid, ce.vec_id AS nid,
      |    list_sum(list_transform(list_zip(cq.qe, ce.emb), s -> s[1]*s[2])) /
      |      (sqrt(list_sum(list_transform(cq.qe, x -> x*x))) *
      |       sqrt(list_sum(list_transform(ce.emb, x -> x*x)))) AS c
      |  FROM cq JOIN ce ON ce.vec_id != cq.qid),
      |cosr AS MATERIALIZED (
      |  SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid
      |  FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid
      |          ORDER BY c DESC, nid) AS rnk FROM cp)
      |  WHERE rnk <= 20),
      |fused AS MATERIALIZED (
      |  SELECT coalesce(a.qid, b.qid) AS qid, coalesce(a.nid, b.nid) AS nid,
      |    coalesce(1.0 / (60.0 + CAST(a.rnk AS DOUBLE)), 0.0) +
      |    coalesce(1.0 / (60.0 + CAST(b.rnk AS DOUBLE)), 0.0) AS rrf
      |  FROM cosr a FULL JOIN bmr b ON a.qid = b.qid AND a.nid = b.nid)"""
      .stripMargin

  private val RrfOracleSelect: String =
    """SELECT qid, CAST(rk AS BIGINT) AS rnk, nid, round(rrf, 6) AS rrf
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid
      |        ORDER BY rrf DESC, nid) AS rk FROM fused)
      |WHERE rk <= 3""".stripMargin

  /** The shared front-door report: per fused rank, how many results the
    * pure semantic top-3 would also have returned — the lexical-lift
    * readout of a hybrid stack. Dialect intersection only. */
  private[queries] val SqlRetrievalReport: String =
    """SELECT r.rnk, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN c.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_in_cos_top3
      |FROM rrf_topk r LEFT JOIN cos_topk c
      |  ON c.qid = r.qid AND c.nid = r.nid
      |GROUP BY r.rnk ORDER BY r.rnk""".stripMargin

  /** The shared dedup front-door report: per method, links found, distinct
    * docs flagged (the id_b / dropped side — the duplicate MASS a resolve
    * pass would remove), and the corpus size for context. Dialect
    * intersection only; all columns integer so the hash compare has no FP
    * boundary. */
  private[queries] val SqlDedupReport: String =
    """SELECT method, CAST(count(*) AS BIGINT) AS n_links,
      |  CAST(count(DISTINCT flagged) AS BIGINT) AS n_docs_flagged,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_corpus
      |FROM (
      |  SELECT 'containment' AS method, id_b AS flagged FROM containment_pairs
      |  UNION ALL SELECT 'minhash', id_b FROM minhash_pairs
      |  UNION ALL SELECT 'semdedup', vec_id FROM semdedup_verdicts
      |    WHERE NOT keep)
      |GROUP BY method ORDER BY method""".stripMargin

  /** Directed all-pairs containment ≥ 0.9 (quadratic — sf0.01-gate only),
    * shared by the full scan and its append path (whose contract is
    * hash-equality to the full rebuild). */
  private val ContainmentOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
      |         ELSE list_distinct(list_transform(
      |            range(1, len(string_split(text, ' ')) - 1),
      |            i -> string_split(text, ' ')[i] || ' ' ||
      |                 string_split(text, ' ')[i + 1] || ' ' ||
      |                 string_split(text, ' ')[i + 2]))
      |    END AS w
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(len(list_intersect(a.w, b.w))::DOUBLE / len(a.w), 6) AS cont
      |FROM t a JOIN t b ON a.doc_id != b.doc_id
      |WHERE len(list_intersect(a.w, b.w)) * 10 >= len(a.w) * 9
      |ORDER BY id_a, id_b""".stripMargin

  /** The recursive-CTE true connected-components fixpoint, shared by the
    * label-propagation and star-contraction implementations. */
  private[queries] val CcFixpointOracle: String =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
      |         ELSE list_distinct(list_transform(
      |            range(1, len(string_split(text, ' ')) - 1),
      |            i -> string_split(text, ' ')[i] || ' ' ||
      |                 string_split(text, ' ')[i + 1] || ' ' ||
      |                 string_split(text, ' ')[i + 2]))
      |    END AS w
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(a.w || b.w)) >= 0.9),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(id, lbl) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst)
      |SELECT id AS doc_id, min(lbl) AS cluster_rep
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // Trained-index ANN oracles: the full k-means IVF / PQ / IVFPQ pipelines
    // are rebuilt in DuckDB SQL — deterministic sample, Lloyd iterations
    // with order-defined summation, probing, ADC, re-rank — so the driver
    // hash-checks the ENTIRE approximate answer, not just a recall floor.
    // See AnnOracleSql for why this is bit-exact.
    "ann_lsh_topk" ->
      AnnOracleSql.lshTopK(kBits = 5, nTables = 24, seed = 42L, topK = 3),
    // SimHash pairs: the JVM token hash (two murmur3_32 passes) is replayed
    // in SQL as a recursive CTE over the distinct token set, then the
    // Charikar bit-vote and an all-pairs hamming<=3 scan — the blocked
    // Spark path equals all-pairs by pigeonhole (pinned by the gate below).
    "dedup_simhash" -> HashOracleSql.simhashPairs(maxHamming = 3),
    "ann_ivf_topk" ->
      AnnOracleSql.ivfTopK(k = 16, nProbe = 4, topK = 3, filtered = false),
    "ann_ivf_nprobe_sweep" ->
      AnnOracleSql.ivfRecallCurve(k = 16, nProbes = Seq(1, 2, 4, 8), topK = 3),
    "emb_random_projection" -> AnnOracleSql.randomProjection(kOut = 16, seed = 7L),
    "sim_projected_topk" -> AnnOracleSql.projectedTopK(kOut = 16, seed = 7L, topK = 3),
    "proj_cluster_recall_gate" ->
      AnnOracleSql.projClusterRecallGate(kOut = 16, seed = 7L),
    // JL certificate: expected outcome determined by the data (vector
    // count) + the bounded-distortion contract holding (both booleans)
    "proj_distortion_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors, true AS all_within_4x,
        |  true AS mean_within_10pct FROM embeddings""".stripMargin,
    // vacuum-verb certificate: the artifact population is constructed by
    // the entry itself (1 live / 2 collectible / 1 unmanifested), so the
    // expected report is data-independent constants; any GC regression
    // flips a count or the boolean on the Spark side
    "index_vacuum_gate" ->
      """SELECT CAST(1 AS BIGINT) AS n_kept, CAST(2 AS BIGINT) AS n_dropped,
        |  CAST(1 AS BIGINT) AS n_no_meta, true AS vacuum_ok""".stripMargin,
    "ann_ivf_append_topk" ->
      AnnOracleSql.ivfTopK(k = 16, nProbe = 4, topK = 3, filtered = false,
        sampleWhere = "vec_id % 5 != 4"),
    "ann_ivf_delete_topk" ->
      AnnOracleSql.ivfTopK(k = 16, nProbe = 4, topK = 3, filtered = false,
        liveWhere = "e.vec_id % 7 != 3"),
    // streaming serve == batch query over the same stored index: the SAME
    // trained-IVF oracle as ann_ivf_topk
    "stream_ann_topk" ->
      AnnOracleSql.ivfTopK(k = 16, nProbe = 4, topK = 3, filtered = false),
    "ann_ivf_filtered_topk" ->
      AnnOracleSql.ivfTopK(k = 16, nProbe = 8, topK = 3, filtered = true),
    "ann_pq_topk" -> AnnOracleSql.pqTopK(m = 16, k = 16, topK = 3),
    "ann_ivfpq_topk" ->
      AnnOracleSql.ivfPqTopK(kc = 16, nProbe = 4, m = 16, k = 16, topK = 3),
    // Gate oracles: the expected certificate is fully determined by the data
    // (query-sample size / doc count) plus the contract that the gate holds
    // (recall_ok / sets_equal = true). A quality regression flips the
    // boolean on the Spark side and fails the hash compare.
    "ann_lsh_recall_gate" ->
      """SELECT count(*) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    "ann_ivf_recall_gate" ->
      """SELECT count(*) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    // n_queries counts only queries with >=1 same-label neighbor: a query
    // alone in its label class has no exact top-1, so the gate's per-query
    // join drops it on both engines.
    "ann_ivf_filtered_recall_gate" ->
      """SELECT count(*) AS n_queries, true AS recall_ok
        |FROM embeddings q WHERE q.vec_id % 50 = 0
        |  AND EXISTS (SELECT 1 FROM embeddings e
        |              WHERE e.label = q.label AND e.vec_id != q.vec_id)""".stripMargin,
    "ann_pq_recall_gate" ->
      """SELECT count(*) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    "ann_sq_topk" -> AnnOracleSql.sqTopK(topK = 3),
    "ann_sq_recall_gate" ->
      """SELECT count(*) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    "ann_ivfpq_recall_gate" ->
      """SELECT count(*) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    "ann_index_store_gate" ->
      """SELECT count(*) AS n_queries, true AS store_ok
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    "dedup_simhash_exact_gate" ->
      """SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  0::BIGINT AS n_only_blocked, 0::BIGINT AS n_only_exact,
        |  true AS sets_equal""".stripMargin,
    "sim_rrf_topk" ->
      s"""WITH $RrfOracleCtes
        |$RrfOracleSelect ORDER BY qid, rnk""".stripMargin,
    "sim_rrf_ann_topk" -> AnnOracleSql.rrfAnnTopK(k = 16, nProbe = 4),
    "sim_rrf_swap_overlap" -> AnnOracleSql.rrfSwapOverlap(k = 16, nProbe = 4),
    "sim_rrf_swap_gate" -> AnnOracleSql.rrfSwapGate(k = 16, nProbe = 4),
    "sim_rrf_swap_sampled_gate" ->
      AnnOracleSql.rrfSwapGateSampled(k = 16, nProbe = 4, every = 500),
    "sim_eval_rank_metrics" ->
      AnnOracleSql.evalRankMetrics(k = 16, nProbe = 4),
    // retrieval through the SQL front door: the fused ranking and the
    // exact top-3 bound as views + ONE shared report text on both engines
    "sql_front_door_retrieval" ->
      s"""WITH $RrfOracleCtes,
        |rrf_topk AS MATERIALIZED ($RrfOracleSelect),
        |cos_topk AS MATERIALIZED (
        |  SELECT qid, rnk, nid FROM (
        |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |      ORDER BY c DESC, nid) AS rnk FROM cp)
        |  WHERE rnk <= 3)
        |$SqlRetrievalReport""".stripMargin,
    // dedup through the SQL front door: the three method oracles bound as
    // views (nested WITH, scoped per view) + the SAME report text
    "sql_front_door_dedup" ->
      s"""WITH minhash_pairs AS MATERIALIZED ($AllPairsJaccardOracle),
        |containment_pairs AS MATERIALIZED ($ContainmentOracle),
        |semdedup_verdicts AS MATERIALIZED (
        |${AnnOracleSql.semDedup(k = 64, tau = "0.45")})
        |$SqlDedupReport""".stripMargin,
    "sim_mmr_topk" ->
      """WITH ce AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cq AS MATERIALIZED (
        |  SELECT vec_id AS qid, emb AS qe FROM ce WHERE vec_id % 50 = 0),
        |cp AS MATERIALIZED (
        |  SELECT cq.qid, ce.vec_id AS nid,
        |    list_sum(list_transform(list_zip(cq.qe, ce.emb), s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(cq.qe, x -> x*x))) *
        |       sqrt(list_sum(list_transform(ce.emb, x -> x*x)))) AS c
        |  FROM cq JOIN ce ON ce.vec_id != cq.qid),
        |cnd AS MATERIALIZED (
        |  SELECT qid, nid, round(c, 6) AS rel
        |  FROM (SELECT qid, nid, c, row_number() OVER (PARTITION BY qid
        |          ORDER BY c DESC, nid) AS rnk FROM cp)
        |  WHERE rnk <= 20),
        |ps AS MATERIALIZED (
        |  SELECT x.qid, x.nid, y.nid AS nb,
        |    round(list_sum(list_transform(list_zip(a.emb, b.emb),
        |            s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(a.emb, x -> x*x))) *
        |       sqrt(list_sum(list_transform(b.emb, x -> x*x)))), 6) AS sim
        |  FROM cnd x JOIN cnd y ON x.qid = y.qid AND x.nid != y.nid
        |    JOIN ce a ON a.vec_id = x.nid
        |    JOIN ce b ON b.vec_id = y.nid),
        |s1 AS MATERIALIZED (
        |  SELECT qid, nid AS sel1, rel AS sc1
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |          ORDER BY rel DESC, nid) AS r FROM cnd) WHERE r = 1),
        |r2 AS MATERIALIZED (
        |  SELECT c.qid, c.nid, c.rel, p.sim AS sim1,
        |    0.5 * c.rel - 0.5 * p.sim AS sc
        |  FROM cnd c JOIN s1 ON s1.qid = c.qid AND c.nid != s1.sel1
        |    JOIN ps p ON p.qid = c.qid AND p.nid = c.nid AND p.nb = s1.sel1),
        |s2 AS MATERIALIZED (
        |  SELECT qid, nid AS sel2, sc AS sc2
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |          ORDER BY sc DESC, nid) AS r FROM r2) WHERE r = 1),
        |r3 AS MATERIALIZED (
        |  SELECT c.qid, c.nid,
        |    0.5 * c.rel - 0.5 * GREATEST(c.sim1, p.sim) AS sc
        |  FROM r2 c JOIN s2 ON s2.qid = c.qid AND c.nid != s2.sel2
        |    JOIN ps p ON p.qid = c.qid AND p.nid = c.nid AND p.nb = s2.sel2),
        |s3 AS MATERIALIZED (
        |  SELECT qid, nid AS sel3, sc AS sc3
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |          ORDER BY sc DESC, nid) AS r FROM r3) WHERE r = 1)
        |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, sc AS mmr
        |FROM (
        |  SELECT qid, 1 AS rnk, sel1 AS nid, sc1 AS sc FROM s1
        |  UNION ALL SELECT qid, 2, sel2, sc2 FROM s2
        |  UNION ALL SELECT qid, 3, sel3, sc3 FROM s3)
        |ORDER BY qid, rnk""".stripMargin,
    "sim_hard_negatives" ->
      s"""WITH ${LlmText.bm25OracleCtes(topN = 20)},
        |ce AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cand AS MATERIALIZED (
        |  SELECT bmr.qid, bmr.nid, bmr.score,
        |    list_sum(list_transform(list_zip(a.emb, b.emb), s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(a.emb, x -> x*x))) *
        |       sqrt(list_sum(list_transform(b.emb, x -> x*x)))) AS c
        |  FROM bmr JOIN ce a ON a.vec_id = bmr.qid
        |    JOIN ce b ON b.vec_id = bmr.nid)
        |SELECT qid, CAST(rk AS BIGINT) AS rnk, nid, score, round(c, 6) AS cos
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY score DESC, nid) AS rk
        |      FROM cand WHERE c < 0.5)
        |WHERE rk <= 3 ORDER BY qid, rnk""".stripMargin,
    "sim_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id % 50 = 0),
        |p AS (
        |  SELECT q.qid, e.vec_id AS nid,
        |    list_sum(list_transform(list_zip(q.qe, e.emb), s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(q.qe, x -> x*x))) *
        |       sqrt(list_sum(list_transform(e.emb, x -> x*x)))) AS c
        |  FROM q JOIN e ON e.vec_id != q.qid)
        |SELECT qid, rnk, nid, round(c, 6) AS cos
        |FROM (SELECT qid, nid, c,
        |        row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk
        |      FROM p)
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "sim_filtered_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
        |           FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qe, label AS ql FROM e
        |      WHERE vec_id % 50 = 0),
        |p AS (
        |  SELECT q.qid, e.vec_id AS nid,
        |    list_sum(list_transform(list_zip(q.qe, e.emb), s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(q.qe, x -> x*x))) *
        |       sqrt(list_sum(list_transform(e.emb, x -> x*x)))) AS c
        |  FROM q JOIN e ON e.label = q.ql AND e.vec_id != q.qid)
        |SELECT qid, rnk, nid, round(c, 6) AS cos
        |FROM (SELECT qid, nid, c,
        |        row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk
        |      FROM p)
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    // The anchored-quantizer filtered ANN is fully reconstructible in SQL:
    // anchors are corpus rows named by a pure id rule, and every cosine
    // uses list_sum's left-to-right order (bit-identical to VecDot), so
    // cells, probe sets and the final top-k all hash-match.
    "ann_anchor_filtered_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
        |           FROM embeddings),
        |a AS (SELECT (vec_id - 7) // 31 AS aid, emb AS ae FROM e
        |      WHERE vec_id IN (7, 38, 69, 100, 131, 162, 193, 224, 255, 286,
        |                       317, 348, 379, 410, 441, 472)),
        |rk AS (
        |  SELECT e.vec_id, a.aid,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_sum(list_transform(list_zip(e.emb, a.ae), s -> s[1]*s[2])) /
        |        (sqrt(list_sum(list_transform(e.emb, x -> x*x))) *
        |         sqrt(list_sum(list_transform(a.ae, x -> x*x)))) DESC,
        |      a.aid) AS r
        |  FROM e, a),
        |ec AS (SELECT e.*, c.aid AS cell
        |       FROM e JOIN (SELECT vec_id, aid FROM rk WHERE r = 1) c
        |       USING (vec_id)),
        |q AS (SELECT p.qid, e.emb AS qe, e.label AS ql, p.pc
        |      FROM (SELECT vec_id AS qid, aid AS pc FROM rk
        |            WHERE r <= 8 AND vec_id % 50 = 0) p
        |      JOIN e ON e.vec_id = p.qid),
        |p AS (
        |  SELECT q.qid, ec.vec_id AS nid,
        |    list_sum(list_transform(list_zip(q.qe, ec.emb), s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(q.qe, x -> x*x))) *
        |       sqrt(list_sum(list_transform(ec.emb, x -> x*x)))) AS c
        |  FROM q JOIN ec ON ec.label = q.ql AND ec.cell = q.pc
        |    AND ec.vec_id != q.qid)
        |SELECT qid, rnk, nid, round(c, 6) AS cos
        |FROM (SELECT qid, nid, c,
        |        row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk
        |      FROM p)
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "sim_hybrid_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        |t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
        |         ELSE list_distinct(list_transform(
        |            range(1, len(string_split(text, ' ')) - 1),
        |            i -> string_split(text, ' ')[i] || ' ' ||
        |                 string_split(text, ' ')[i + 1] || ' ' ||
        |                 string_split(text, ' ')[i + 2]))
        |    END AS w
        |  FROM documents),
        |s AS (SELECT e.vec_id, e.emb, t.w FROM e JOIN t ON t.doc_id = e.vec_id),
        |q AS (SELECT vec_id AS qid, emb AS qe, w AS qw FROM s
        |      WHERE vec_id % 50 = 0),
        |p AS (
        |  SELECT q.qid, s.vec_id AS nid,
        |    (list_sum(list_transform(list_zip(q.qe, s.emb), z -> z[1]*z[2])) /
        |      (sqrt(list_sum(list_transform(q.qe, x -> x*x))) *
        |       sqrt(list_sum(list_transform(s.emb, x -> x*x))))) * 0.5 +
        |    (len(list_intersect(q.qw, s.w))::DOUBLE /
        |      len(list_distinct(q.qw || s.w))) * 0.5 AS sc
        |  FROM q JOIN s ON s.vec_id != q.qid)
        |SELECT qid, rnk, nid, round(sc, 6) AS score
        |FROM (SELECT qid, nid, sc,
        |        row_number() OVER (PARTITION BY qid ORDER BY sc DESC, nid)
        |          AS rnk
        |      FROM p)
        |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "sim_knn_classify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
        |           FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS qe, label AS tl FROM e
        |      WHERE vec_id % 50 = 0),
        |p AS (
        |  SELECT q.qid, q.tl, e.label AS nl,
        |    list_sum(list_transform(list_zip(q.qe, e.emb), s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(q.qe, x -> x*x))) *
        |       sqrt(list_sum(list_transform(e.emb, x -> x*x)))) AS c,
        |    e.vec_id AS nid
        |  FROM q JOIN e ON e.vec_id != q.qid),
        |top3 AS (
        |  SELECT qid, tl, nl FROM (
        |    SELECT qid, tl, nl,
        |      row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk
        |    FROM p) WHERE rnk <= 3),
        |v AS (SELECT qid, tl, nl, count(*) AS votes FROM top3
        |      GROUP BY qid, tl, nl)
        |SELECT qid, CAST(tl AS BIGINT) AS true_label,
        |  CAST(nl AS BIGINT) AS pred_label, tl = nl AS correct
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY qid ORDER BY votes DESC, nl) AS rn FROM v)
        |WHERE rn = 1 ORDER BY qid""".stripMargin,
    "dedup_embed_cosine" -> AllPairsCosineOracle,
    "dedup_semdedup" -> AnnOracleSql.semDedup(k = 16, tau = "0.45"),
    // the scale-right cluster count (k ≈ 2.5·√n): same Lloyd replay at k=64
    "dedup_semdedup_scaled" -> AnnOracleSql.semDedup(k = 64, tau = "0.45"),
    "dedup_semdedup_scaled_append" -> AnnOracleSql.semDedup(k = 64,
      tau = "0.45", sampleWhere = "vec_id % 5 != 4"),
    // append path: same verdict semantics, Lloyd sample base-restricted
    "dedup_semdedup_append" -> AnnOracleSql.semDedup(k = 16, tau = "0.45",
      sampleWhere = "vec_id % 5 != 4"),
    // append path must equal the full rebuild over the whole corpus
    "dedup_embed_append" -> AllPairsCosineOracle,
    "dedup_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
        |         ELSE list_distinct(list_transform(
        |            range(1, len(string_split(text, ' ')) - 1),
        |            i -> string_split(text, ' ')[i] || ' ' ||
        |                 string_split(text, ' ')[i + 1] || ' ' ||
        |                 string_split(text, ' ')[i + 2]))
        |    END AS w
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(a.w || b.w)), 6) AS jac
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(a.w || b.w)) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    // directed all-pairs containment (quadratic — sf0.01-gate only, like
    // the other all-pairs oracles); the integer threshold keeps the gate
    // FP-free on both engines. The append path's contract is hash-equality
    // to the full rebuild, so it shares this oracle verbatim.
    "dedup_containment_append" -> ContainmentOracle,
    "dedup_containment" -> ContainmentOracle,
    // true connected-components fixpoint via recursive CTE over the same
    // all-pairs >= 0.9 jaccard graph — an under-converged Spark label
    // propagation (or a wrong star contraction) would hash-mismatch
    "dedup_resolve" -> CcFixpointOracle,
    "dedup_resolve_star" -> CcFixpointOracle,
    // keep/drop verdict: true-fixpoint components left-joined onto the
    // full corpus; kept iff the doc is its own component minimum
    "dedup_canonical" ->
      s"""WITH comp AS MATERIALIZED (
        |${CcFixpointOracle.linesIterator.map("  " + _).mkString("\n")}
        |)
        |SELECT d.doc_id,
        |  coalesce(c.cluster_rep, d.doc_id) AS rep_id,
        |  coalesce(c.cluster_rep, d.doc_id) = d.doc_id AS kept,
        |  d.n_chars
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // leakage audit: all-pairs >= 0.9 graph + the md5 split rule + the
    // fixpoint components — both counts derived from the data alone
    "split_leakage_gate" ->
      s"""WITH comp AS MATERIALIZED (
        |${CcFixpointOracle.linesIterator.map("  " + _).mkString("\n")}
        |),
        |tt AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
        |         ELSE list_distinct(list_transform(
        |            range(1, len(string_split(text, ' ')) - 1),
        |            i -> string_split(text, ' ')[i] || ' ' ||
        |                 string_split(text, ' ')[i + 1] || ' ' ||
        |                 string_split(text, ' ')[i + 2]))
        |    END AS w
        |  FROM documents),
        |prs AS MATERIALIZED (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM tt a JOIN tt b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.w, b.w))::DOUBLE
        |          / len(list_distinct(a.w || b.w)) >= 0.9),
        |sp AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5(text), 1, 2) < 'cc' THEN 'train'
        |         WHEN substring(md5(text), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |kp AS MATERIALIZED (
        |  SELECT d.doc_id,
        |    coalesce(c.cluster_rep, d.doc_id) = d.doc_id AS kept
        |  FROM documents d LEFT JOIN comp c USING (doc_id))
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(*) FILTER (sa.split != sb.split) AS BIGINT)
        |    AS n_cross_raw,
        |  CAST(count(*) FILTER (sa.split != sb.split AND ka.kept AND kb.kept)
        |    AS BIGINT) AS n_cross_kept,
        |  count(*) FILTER (sa.split != sb.split AND ka.kept AND kb.kept) = 0
        |    AS leak_free
        |FROM prs JOIN sp sa ON sa.doc_id = prs.id_a
        |  JOIN sp sb ON sb.doc_id = prs.id_b
        |  JOIN kp ka ON ka.doc_id = prs.id_a
        |  JOIN kp kb ON kb.doc_id = prs.id_b""".stripMargin,
    "graph_pagerank" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
        |         ELSE list_distinct(list_transform(
        |            range(1, len(string_split(text, ' ')) - 1),
        |            i -> string_split(text, ' ')[i] || ' ' ||
        |                 string_split(text, ' ')[i + 1] || ' ' ||
        |                 string_split(text, ' ')[i + 2]))
        |    END AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(a.w || b.w)) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT id, deg, 1.0 AS r FROM deg),
        |r1 AS (
        |  SELECT d.id, d.deg, 0.15 + 0.85 * coalesce(sum(p.r / p.deg), 0) AS r
        |  FROM deg d LEFT JOIN edges e ON e.dst = d.id
        |  LEFT JOIN r0 p ON p.id = e.src GROUP BY d.id, d.deg),
        |r2 AS (
        |  SELECT d.id, d.deg, 0.15 + 0.85 * coalesce(sum(p.r / p.deg), 0) AS r
        |  FROM deg d LEFT JOIN edges e ON e.dst = d.id
        |  LEFT JOIN r1 p ON p.id = e.src GROUP BY d.id, d.deg),
        |r3 AS (
        |  SELECT d.id, d.deg, 0.15 + 0.85 * coalesce(sum(p.r / p.deg), 0) AS r
        |  FROM deg d LEFT JOIN edges e ON e.dst = d.id
        |  LEFT JOIN r2 p ON p.id = e.src GROUP BY d.id, d.deg),
        |r4 AS (
        |  SELECT d.id, d.deg, 0.15 + 0.85 * coalesce(sum(p.r / p.deg), 0) AS r
        |  FROM deg d LEFT JOIN edges e ON e.dst = d.id
        |  LEFT JOIN r3 p ON p.id = e.src GROUP BY d.id, d.deg),
        |r5 AS (
        |  SELECT d.id, d.deg, 0.15 + 0.85 * coalesce(sum(p.r / p.deg), 0) AS r
        |  FROM deg d LEFT JOIN edges e ON e.dst = d.id
        |  LEFT JOIN r4 p ON p.id = e.src GROUP BY d.id, d.deg)
        |SELECT id AS doc_id, round(r, 6) AS rank FROM r5 ORDER BY doc_id""".stripMargin,
    "dedup_cluster_stats" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
        |         ELSE list_distinct(list_transform(
        |            range(1, len(string_split(text, ' ')) - 1),
        |            i -> string_split(text, ' ')[i] || ' ' ||
        |                 string_split(text, ' ')[i + 1] || ' ' ||
        |                 string_split(text, ' ')[i + 2]))
        |    END AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(a.w || b.w)) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst),
        |clusters AS (
        |  SELECT id, min(lbl) AS rep FROM reach GROUP BY id),
        |sizes AS (
        |  SELECT rep, count(*) AS cluster_size FROM clusters GROUP BY rep)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // same all-pairs jaccard >= 0.9 pair CTE as dedup_minhash_lsh, plus the
    // ordered two-join wedge-close — each triangle counted once per corner
    "graph_triangles" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
        |         ELSE list_distinct(list_transform(
        |            range(1, len(string_split(text, ' ')) - 1),
        |            i -> string_split(text, ' ')[i] || ' ' ||
        |                 string_split(text, ' ')[i + 1] || ' ' ||
        |                 string_split(text, ' ')[i + 2]))
        |    END AS w
        |  FROM documents),
        |e AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.w, b.w))::DOUBLE
        |        / len(list_distinct(a.w || b.w)) >= 0.9),
        |tri AS (
        |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.id_b = e2.id_a
        |  JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
        |SELECT doc_id, count(*) AS n_triangles
        |FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the anchored-cell report and balanced sample rebuild the same
    // deterministic assignment CTE as ann_anchor_filtered_topk
    "embed_cluster_stats" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        |a AS (SELECT (vec_id - 7) // 31 AS aid, emb AS ae FROM e
        |      WHERE vec_id IN (7, 38, 69, 100, 131, 162, 193, 224, 255, 286,
        |                       317, 348, 379, 410, 441, 472)),
        |sc AS (
        |  SELECT e.vec_id, a.aid,
        |    list_sum(list_transform(list_zip(e.emb, a.ae), s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(e.emb, x -> x*x))) *
        |       sqrt(list_sum(list_transform(a.ae, x -> x*x)))) AS ac
        |  FROM e, a),
        |rk AS (SELECT vec_id, aid, ac,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY ac DESC, aid) AS r
        |       FROM sc)
        |SELECT aid AS cell, count(*) AS n, round(avg(ac), 6) AS avg_cos
        |FROM rk WHERE r = 1 GROUP BY aid ORDER BY cell""".stripMargin,
    // the retrain gate replays the drift oracle's cluster half and applies
    // the threshold to the same quantized tv, so the DECISION hash-checks
    "ann_retrain_gate" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        |a AS (SELECT (vec_id - 7) // 31 AS aid, emb AS ae FROM e
        |      WHERE vec_id IN (7, 38, 69, 100, 131, 162, 193, 224, 255, 286,
        |                       317, 348, 379, 410, 441, 472)),
        |sc AS (
        |  SELECT e.vec_id, a.aid,
        |    list_sum(list_transform(list_zip(e.emb, a.ae), s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(e.emb, x -> x*x))) *
        |       sqrt(list_sum(list_transform(a.ae, x -> x*x)))) AS ac
        |  FROM e, a),
        |rk AS (SELECT vec_id, aid,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY ac DESC, aid) AS r
        |       FROM sc),
        |cells AS (SELECT aid AS key, vec_id % 5 = 4 AS is_delta
        |          FROM rk WHERE r = 1),
        |cl AS (
        |  SELECT
        |    round(CAST(sum(CAST(floor(abs(pb - pd) * 1073741824.0)
        |        AS HUGEINT)) AS DOUBLE) / 1073741824.0 / 2.0, 6) AS tv,
        |    CAST(max(tb) AS BIGINT) AS n_base,
        |    CAST(max(td) AS BIGINT) AS n_delta
        |  FROM (
        |    SELECT c.cb, c.cd, t.tb, t.td,
        |      CAST(c.cb + 1 AS DOUBLE) / (t.tb + 16) AS pb,
        |      CAST(c.cd + 1 AS DOUBLE) / (t.td + 16) AS pd
        |    FROM (SELECT key, count(*) FILTER (WHERE NOT is_delta) AS cb,
        |                 count(*) FILTER (WHERE is_delta) AS cd
        |          FROM cells GROUP BY key) c,
        |         (SELECT count(*) FILTER (WHERE NOT is_delta) AS tb,
        |                 count(*) FILTER (WHERE is_delta) AS td
        |          FROM cells) t))
        |SELECT tv AS cluster_tv_dist, tv > 0.05 AS retrain,
        |  n_base, n_delta
        |FROM cl""".stripMargin,
    // the vector-side drift monitor replays the same anchor-assignment CTE
    // plus dq_drift's quantized rational-arithmetic idiom (floor(term *
    // 2^30) summed as HUGEINT, so the reduction is order-free)
    "dq_drift_embed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        |el AS (SELECT vec_id, generate_subscripts(emb, 1) - 1 AS dim,
        |         unnest(emb) AS x, vec_id % 5 = 4 AS is_delta
        |       FROM e),
        |dims AS (
        |  SELECT dim,
        |    sum(CAST(floor(x * 1073741824.0) AS HUGEINT))
        |      FILTER (WHERE NOT is_delta) AS sb,
        |    count(*) FILTER (WHERE NOT is_delta) AS nb,
        |    sum(CAST(floor(x * 1073741824.0) AS HUGEINT))
        |      FILTER (WHERE is_delta) AS sd,
        |    count(*) FILTER (WHERE is_delta) AS nd
        |  FROM el GROUP BY dim),
        |ms AS (
        |  SELECT round(CAST(sum(CAST(floor(
        |      (CAST(sb AS DOUBLE) / 1073741824.0 / nb
        |        - CAST(sd AS DOUBLE) / 1073741824.0 / nd)
        |      * (CAST(sb AS DOUBLE) / 1073741824.0 / nb
        |        - CAST(sd AS DOUBLE) / 1073741824.0 / nd)
        |      * 1073741824.0) AS HUGEINT)) AS DOUBLE) / 1073741824.0, 6)
        |      AS value,
        |    CAST(max(nb) AS BIGINT) AS n_base,
        |    CAST(max(nd) AS BIGINT) AS n_delta
        |  FROM dims),
        |a AS (SELECT (vec_id - 7) // 31 AS aid, emb AS ae FROM e
        |      WHERE vec_id IN (7, 38, 69, 100, 131, 162, 193, 224, 255, 286,
        |                       317, 348, 379, 410, 441, 472)),
        |sc AS (
        |  SELECT e.vec_id, a.aid,
        |    list_sum(list_transform(list_zip(e.emb, a.ae), s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(e.emb, x -> x*x))) *
        |       sqrt(list_sum(list_transform(a.ae, x -> x*x)))) AS ac
        |  FROM e, a),
        |rk AS (SELECT vec_id, aid,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY ac DESC, aid) AS r
        |       FROM sc),
        |cells AS (SELECT aid AS key, vec_id % 5 = 4 AS is_delta
        |          FROM rk WHERE r = 1),
        |cl AS (
        |  SELECT
        |    round(CAST(sum(CAST(floor(abs(pb - pd) * 1073741824.0)
        |        AS HUGEINT)) AS DOUBLE) / 1073741824.0 / 2.0, 6) AS tv,
        |    round(CAST(sum(CAST(floor((pd - pb) * (pd - pb) / pb
        |        * 1073741824.0) AS HUGEINT)) AS DOUBLE) / 1073741824.0, 6)
        |      AS chi2,
        |    CAST(max(tb) AS BIGINT) AS n_base,
        |    CAST(max(td) AS BIGINT) AS n_delta
        |  FROM (
        |    SELECT c.cb, c.cd, t.tb, t.td,
        |      CAST(c.cb + 1 AS DOUBLE) / (t.tb + 16) AS pb,
        |      CAST(c.cd + 1 AS DOUBLE) / (t.td + 16) AS pd
        |    FROM (SELECT key, count(*) FILTER (WHERE NOT is_delta) AS cb,
        |                 count(*) FILTER (WHERE is_delta) AS cd
        |          FROM cells GROUP BY key) c,
        |         (SELECT count(*) FILTER (WHERE NOT is_delta) AS tb,
        |                 count(*) FILTER (WHERE is_delta) AS td
        |          FROM cells) t))
        |SELECT 'cluster_chi2' AS metric, chi2 AS value, n_base, n_delta
        |FROM cl
        |UNION ALL
        |SELECT 'cluster_tv_dist', tv, n_base, n_delta FROM cl
        |UNION ALL
        |SELECT 'mean_shift_l2sq', value, n_base, n_delta FROM ms
        |ORDER BY metric""".stripMargin,
    "sample_cluster_balanced" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        |a AS (SELECT (vec_id - 7) // 31 AS aid, emb AS ae FROM e
        |      WHERE vec_id IN (7, 38, 69, 100, 131, 162, 193, 224, 255, 286,
        |                       317, 348, 379, 410, 441, 472)),
        |sc AS (
        |  SELECT e.vec_id, a.aid,
        |    list_sum(list_transform(list_zip(e.emb, a.ae), s -> s[1]*s[2])) /
        |      (sqrt(list_sum(list_transform(e.emb, x -> x*x))) *
        |       sqrt(list_sum(list_transform(a.ae, x -> x*x)))) AS ac
        |  FROM e, a),
        |rk AS (SELECT vec_id, aid,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY ac DESC, aid) AS r
        |       FROM sc),
        |cells AS (SELECT vec_id, aid AS cell FROM rk WHERE r = 1),
        |k AS (SELECT vec_id, cell,
        |        row_number() OVER (PARTITION BY cell
        |          ORDER BY (vec_id % 16777216) * 2654435761 % 16777216,
        |                   vec_id) AS rk2
        |      FROM cells)
        |SELECT vec_id, cell FROM k WHERE rk2 <= 30 ORDER BY vec_id""".stripMargin,
    "dedup_minhash_lsh" -> AllPairsJaccardOracle,
    // the append path must equal the full rebuild over base ∪ delta —
    // which is the whole corpus, i.e. the SAME all-pairs oracle
    "dedup_minhash_append" -> AllPairsJaccardOracle
  )

  /** All-pairs shingle-jaccard >= 0.9 ground truth: the oracle for both the
    * full MinHash rebuild and the incremental append path (whose contract
    * is exact equality with the rebuild). */
  /** All-pairs exact-cosine ground truth: oracle for both the banded
    * embedding dedup and its append path (contract: equality with the
    * full rebuild). */
  private lazy val AllPairsCosineOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_sum(list_transform(list_zip(a.emb, b.emb), s -> s[1]*s[2])) /
      |    (sqrt(list_sum(list_transform(a.emb, x -> x*x))) *
      |     sqrt(list_sum(list_transform(b.emb, x -> x*x)))), 6) AS cos
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(list_zip(a.emb, b.emb), s -> s[1]*s[2])) /
      |    (sqrt(list_sum(list_transform(a.emb, x -> x*x))) *
      |     sqrt(list_sum(list_transform(b.emb, x -> x*x)))) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  // lazy: referenced by the `oracles` map literal above its definition;
  // package-visible so the streaming drain's oracle is literally the same
  private[queries] lazy val AllPairsJaccardOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
      |         ELSE list_distinct(list_transform(
      |            range(1, len(string_split(text, ' ')) - 1),
      |            i -> string_split(text, ' ')[i] || ' ' ||
      |                 string_split(text, ' ')[i + 1] || ' ' ||
      |                 string_split(text, ' ')[i + 2]))
      |    END AS w
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(a.w || b.w)), 6) AS jac
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(a.w || b.w)) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin
}
