package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-tooling main (test tree, like [[SymDiff]]): COMPOSITIONAL sf0.1
  * evidence for the entries whose DuckDB oracles are quadratic (all-pairs /
  * CC-fixpoint) and therefore sf0.01-gate-only. Their *claims* are
  * compositions of entries that ARE sf0.1-green, so each check here
  * re-derives the entry's output from OTHER registered entries (or an
  * independent brute-force/driver-side reference) and asserts exact
  * equality (exceptAll both ways == 0) at any SF.
  *
  * Usage: sbt "Test/runMain graft.ComposeCheck <sfDir> [checkName ...]"
  * (no names = run all). Prints one COMPOSE line per check.
  */
object ComposeCheck {

  private def q(name: String)(implicit s: SparkSession, d: String): DataFrame =
    SparkEntry.queries(name)(s, d)

  private def assertSame(name: String, entry: DataFrame, expected: DataFrame): Unit = {
    val ab = entry.exceptAll(expected).count()
    val ba = expected.exceptAll(entry).count()
    val n = entry.count()
    println(s"COMPOSE $name: entry-expected=$ab expected-entry=$ba rows=$n")
    assert(ab == 0 && ba == 0, s"$name: composition diverged a-b=$ab b-a=$ba")
  }

  /** HALF_UP 6dp — the same rounding Spark's round() applies. */
  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  val checks: Map[String, (SparkSession, String) => Unit] = Map(
    // dedup_canonical == canonical-of(dedup_resolve): the per-doc keep
    // table derives from the resolve entry's component map alone.
    "canonical_from_resolve" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      val resolve = q("dedup_resolve")
      val expected = Tables.documents(s, d).select("doc_id", "n_chars")
        .join(resolve, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("rep_id"),
          (coalesce(col("cluster_rep"), col("doc_id")) === col("doc_id"))
            .as("kept"),
          col("n_chars"))
      assertSame("canonical_from_resolve", q("dedup_canonical"), expected)
    },

    // dedup_cluster_stats == histogram-of(dedup_resolve).
    "cluster_stats_from_resolve" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      val expected = q("dedup_resolve")
        .groupBy("cluster_rep").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).cast("long").as("n_clusters"))
      assertSame("cluster_stats_from_resolve", q("dedup_cluster_stats"), expected)
    },

    // split_leakage_gate == the same certificate derived from the pair
    // listing, the split entry and the canonical keep table.
    "leakage_from_parts" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      val pairs = q("dedup_minhash_lsh").select("id_a", "id_b")
      val splits = q("sample_split").select("doc_id", "split")
      val kept = q("dedup_canonical").select("doc_id", "kept")
      val expected = pairs
        .join(splits.select(col("doc_id").as("id_a"), col("split").as("spa")), "id_a")
        .join(splits.select(col("doc_id").as("id_b"), col("split").as("spb")), "id_b")
        .join(kept.select(col("doc_id").as("id_a"), col("kept").as("keep_a")), "id_a")
        .join(kept.select(col("doc_id").as("id_b"), col("kept").as("keep_b")), "id_b")
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("spa") =!= col("spb"), 1)).as("n_cross_raw"),
          count(when(col("spa") =!= col("spb") &&
            col("keep_a") && col("keep_b"), 1)).as("n_cross_kept"))
        .select(col("n_pairs"), col("n_cross_raw"), col("n_cross_kept"),
          (col("n_cross_kept") === 0).as("leak_free"))
      assertSame("leakage_from_parts", q("split_leakage_gate"), expected)
    },

    // curation_e2e == its stages chained: lang from text_langid, quality
    // from text_c4_filter, exact-first from dedup_exact's keep_id map,
    // near-dup survival from dedup_canonical; the md5 hold-out is the
    // one-line hash rule itself.
    "curation_from_stages" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      val lid = q("text_langid").select("doc_id", "lang_id")
      val c4 = q("text_c4_filter")
        .select(col("doc_id"), col("verdict").as("c4_verdict"))
      val keepId = q("dedup_exact")
        .select(col("text_md5"), col("keep_id"))
      val digests = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
      val ef = digests.join(keepId, "text_md5")
        .select(col("doc_id"),
          (col("doc_id") === col("keep_id")).as("exact_first"),
          (substring(col("text_md5"), 1, 2) < "e0").as("sampled"))
      val nk = q("dedup_canonical")
        .select(col("doc_id"), col("kept").as("near_kept"))
      val expected = lid.join(c4, "doc_id").join(ef, "doc_id").join(nk, "doc_id")
        .select(col("doc_id"), col("lang_id"), col("c4_verdict"),
          col("exact_first"), col("near_kept"), col("sampled"))
        .withColumn("final_keep",
          col("lang_id") =!= "und" && col("c4_verdict") === "keep" &&
            col("exact_first") && col("near_kept") && col("sampled"))
      assertSame("curation_from_stages", q("curation_e2e"), expected)
    },

    // train_manifest == manifest-of(dedup_canonical ∧ train-split): the
    // doc set composes from the two entries, and pos/bin_id re-derive via
    // ONE plain window (the independent reference for the entry's
    // range-exchange rank + sharded two-phase prefix sum).
    "manifest_from_stages" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      val kept = q("dedup_canonical").filter(col("kept")).select("doc_id")
      val train = q("sample_split").filter(col("split") === "train")
        .select("doc_id")
      val docsN = Tables.documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val sel = kept.join(train, "doc_id").join(docsN, "doc_id")
        .withColumn("h",
          (col("doc_id") % 16777216L) * 2654435761L % 16777216L)
      val w = Window.orderBy("h", "doc_id")
      val expected = sel
        .withColumn("pos", row_number().over(w).cast("long"))
        .withColumn("cum", sum("n_tokens").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"), col("pos"), col("n_tokens"),
          floor((col("cum") - 1) / 2048L).cast("long").as("bin_id"))
      assertSame("manifest_from_stages", q("train_manifest"), expected)
    },

    // sql_front_door_curation == the same report computed with DataFrame
    // aggregates over curation_e2e (SQL text vs DSL, one plan family).
    "front_door_curation_agg" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      val v = q("curation_e2e")
      val expected = v.groupBy("lang_id", "c4_verdict")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("final_keep"), 1).otherwise(0)).cast("long").as("n_kept"),
          sum(when(col("exact_first"), 0).otherwise(1)).cast("long")
            .as("n_exact_dups"),
          sum(when(col("near_kept"), 0).otherwise(1)).cast("long")
            .as("n_near_dups"))
      assertSame("front_door_curation_agg", q("sql_front_door_curation"), expected)
    },

    // dedup_ngram_jaccard == UNFILTERED all-pairs brute force (broadcast
    // corpus, every id_a < id_b compared): proves the df-ordered prefix
    // filter is lossless at this SF, with no DuckDB in the loop.
    "ngram_bruteforce" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      // the family's shared shingle convention, restated independently:
      // distinct word-3-grams, whole text when < 3 tokens, xxhash64'd
      val shingles = when(size(col("toks")) < 3, array(col("text")))
        .otherwise(array_distinct(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> concat_ws(' ', element_at(toks, i),
            |                      element_at(toks, i + 1),
            |                      element_at(toks, i + 2)))""".stripMargin)))
      val t = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          array_sort(array_distinct(transform(shingles,
            x => xxhash64(x)))).as("w"))
        .as[(Long, Array[Long])]
      val all = t.collect().sortBy(_._1)
      val bc = s.sparkContext.broadcast(all)
      val expected = t.mapPartitions { it =>
        val corpus = bc.value
        it.flatMap { case (ia, wa) =>
          corpus.iterator.filter(_._1 > ia).flatMap { case (ib, wb) =>
            val inter = sortedIntersect(wa, wb)
            val jac = inter.toDouble / (wa.length + wb.length - inter)
            if (jac >= 0.8) Some((ia, ib, r6(jac))) else None
          }
        }
      }.toDF("id_a", "id_b", "jac")
      assertSame("ngram_bruteforce", q("dedup_ngram_jaccard"), expected)
    },

    // dedup_blocked_jaccard == brute force under the SAME block rule
    // (bucket equality is the entry's documented semantics), with no
    // per-bucket loop, cap, or size prefilter in the reference.
    "blocked_bruteforce" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      import s.implicits._
      val t = Tables.documents(s, d)
        .select(col("doc_id"), (col("n_chars") / 100).cast("long").as("bkt"),
          array_sort(array_distinct(transform(split(col("text"), " "),
            x => xxhash64(x)))).as("w"))
        .as[(Long, Long, Array[Long])]
      val all = t.collect().sortBy(_._1)
      val bc = s.sparkContext.broadcast(all)
      val expected = t.mapPartitions { it =>
        val corpus = bc.value
        it.flatMap { case (ia, ba, wa) =>
          corpus.iterator
            .filter(o => o._1 > ia && o._2 == ba)
            .flatMap { case (ib, _, wb) =>
              val inter = sortedIntersect(wa, wb)
              val jac = inter.toDouble / (wa.length + wb.length - inter)
              if (jac >= 0.8) Some((ia, ib, r6(jac))) else None
            }
        }
      }.toDF("id_a", "id_b", "jac")
      assertSame("blocked_bruteforce", q("dedup_blocked_jaccard"), expected)
    },

    // dedup_containment == DIRECTED all-pairs brute force (no prefix
    // filter, no size filter in the reference — containment >= 0.9
    // implies nothing about |B|, so the reference enumerates every
    // ordered pair): proves the asymmetric SSJoin prefix filter lossless
    // at this SF with no DuckDB in the loop.
    "containment_bruteforce" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      import s.implicits._
      val shingles = when(size(col("toks")) < 3, array(col("text")))
        .otherwise(array_distinct(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> concat_ws(' ', element_at(toks, i),
            |                      element_at(toks, i + 1),
            |                      element_at(toks, i + 2)))""".stripMargin)))
      val t = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          array_sort(array_distinct(transform(shingles,
            x => xxhash64(x)))).as("w"))
        .as[(Long, Array[Long])]
      val all = t.collect().sortBy(_._1)
      val bc = s.sparkContext.broadcast(all)
      val expected = t.mapPartitions { it =>
        val corpus = bc.value
        it.flatMap { case (ia, wa) =>
          corpus.iterator.filter(_._1 != ia).flatMap { case (ib, wb) =>
            val inter = sortedIntersect(wa, wb)
            if (inter * 10 >= wa.length * 9)
              Some((ia, ib, r6(inter.toDouble / wa.length)))
            else None
          }
        }
      }.toDF("id_a", "id_b", "cont")
      assertSame("containment_bruteforce", q("dedup_containment"), expected)
    },

    // sql_front_door_dedup == the same report computed with DataFrame
    // aggregates over the three verdict frames (SQL text vs DSL).
    "front_door_dedup_agg" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      val links = q("dedup_containment")
        .select(lit("containment").as("method"), col("id_b").as("flagged"))
        .unionByName(q("dedup_minhash_lsh")
          .select(lit("minhash").as("method"), col("id_b").as("flagged")))
        .unionByName(q("dedup_semdedup").filter(!col("keep"))
          .select(lit("semdedup").as("method"), col("vec_id").as("flagged")))
      val nCorpus = Tables.documents(s, d).count()
      val expected = links.groupBy("method")
        .agg(count(lit(1)).cast("long").as("n_links"),
          countDistinct("flagged").cast("long").as("n_docs_flagged"))
        .withColumn("n_corpus", lit(nCorpus))
      assertSame("front_door_dedup_agg", q("sql_front_door_dedup"), expected)
    },

    // stream_minhash_dedup_ttl == the batch pair listing restricted to
    // SAME-ERA pairs (the TTL contract as one filter over the
    // sf0.1-proven dedup_minhash_lsh output).
    "minhash_ttl_from_lsh" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      val expected = q("dedup_minhash_lsh")
        .filter((col("id_a") % 4 <= 1) === (col("id_b") % 4 <= 1))
      assertSame("minhash_ttl_from_lsh", q("stream_minhash_dedup_ttl"), expected)
    },

    // graph_triangles == a pure-driver triangle count over the (small)
    // collected pair graph — an independent algorithm (adjacency-set
    // intersection) on an independently-green input listing.
    "triangles_driver" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      import s.implicits._
      val edges = q("dedup_minhash_lsh").select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
        .withDefaultValue(Set.empty)
      edges.foreach { case (a, b) =>
        adj(a) = adj(a) + b; adj(b) = adj(b) + a
      }
      val triCount = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (a, b) =>
        (adj(a) intersect adj(b)).foreach { c =>
          // count each triangle once per EDGE scan; each triangle has 3
          // edges, so every node in it is hit via exactly 1 of its 2
          // incident edges per scan => /1: enumerate via a<b and c>b to
          // count each triangle once
          if (c > b) {
            triCount(a) += 1; triCount(b) += 1; triCount(c) += 1
          }
        }
      }
      val expected = triCount.toSeq.sortBy(_._1).toDF("doc_id", "n_triangles")
      assertSame("triangles_driver", q("graph_triangles"), expected)
    },

    // graph_pagerank == a pure-driver recompute of the same 5 synchronous
    // rounds over the collected graph. FP caveat: Spark's per-dst
    // contribution sums are tiny (cluster-bounded fan-in) and compare
    // equal after the shared 6dp rounding; tolerance stays 0 by comparing
    // the ROUNDED values exactly like the oracle does.
    "pagerank_driver" -> { (s, d) =>
      implicit val (is, id) = (s, d)
      val pairs = q("dedup_minhash_lsh").select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toDouble }
      var rank: Map[Long, Double] = deg.map { case (k, _) => k -> 1.0 }
      (1 to 5).foreach { _ =>
        val contrib = scala.collection.mutable.Map.empty[Long, Double]
          .withDefaultValue(0.0)
        // ascending (src, dst) fold order: deterministic reference sums
        edges.sortBy(identity).foreach { case (src, dst) =>
          contrib(dst) += rank(src) / deg(src)
        }
        rank = deg.map { case (k, _) => k -> (0.15 + 0.85 * contrib(k)) }
      }
      val entry = q("graph_pagerank").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(entry.keySet == rank.keySet,
        s"pagerank node sets differ: ${entry.keySet.size} vs ${rank.keySet.size}")
      val maxDiff = rank.map { case (k, v) => math.abs(r6(v) - entry(k)) }.max
      println(s"COMPOSE pagerank_driver: nodes=${rank.size} maxDiff=$maxDiff")
      // one 6dp rounding step of slack for FP sum-order at the boundary
      assert(maxDiff <= 1.000001e-6, s"pagerank diverged: maxDiff=$maxDiff")
    }
  )

  private def sortedIntersect(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val d = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq else checks.keys.toSeq.sorted
    names.foreach { n => checks(n)(spark, d) }
    println(s"COMPOSE_ALL_OK ${names.size} checks at $d")
  }
}
