package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Training-data-pipeline text operators over the `documents` table.
  *
  * Scale shapes: per-row expression work (whole-stage codegen) plus
  * hash-grouped shuffles; packing is a sharded two-phase prefix sum; near-dup
  * joins are blocked/banded with a per-bucket cardinality guard, never
  * unbounded all-pairs. The all-pairs forms only appear in DuckDB oracle SQL
  * (small SF) as ground truth for the banded Spark implementations. Known
  * residual: dedup_blocked_jaccard is quadratic WITHIN a length bucket by
  * design (verification-scale semantics) — the pair loop runs locally per
  * bucket (pairs never shuffle), and the guard turns a hot bucket into an
  * explicit error instead of a silent O(m^2) stage; discovery-scale
  * near-dup belongs to the MinHash/SimHash paths.
  */
object LlmText {

  /** BPE merge-loop training — the sequential half of tokenizer training,
    * shaped the way production trainers scale: ONE corpus-wide pass builds
    * the word-frequency table (Zipf-bounded vocabulary, not the corpus),
    * then every merge round runs against that table only. Rounds are
    * inherently sequential (round i+1's pair counts depend on round i's
    * fusion), so each round is one vocab-sized distributed aggregation whose
    * single argmax row is collected — 5 one-row collects, the same bounded
    * driver-side training pattern as the IVF/PQ codebooks (EAGER BY DESIGN:
    * training runs at construction; Bench times query execution only).
    *
    * Symbol sequences are encoded as separator-anchored (U+001F) strings (every symbol
    * wrapped SEP·sym·SEP), which makes "apply merge (l, r)" a plain
    * left-to-right non-overlapping `replace(s, ⟨l⟩⟨r⟩, ⟨lr⟩)` — exactly the
    * greedy BPE merge scan: anchoring rules out mid-symbol matches, and
    * textual overlap of the pattern with itself is only possible
    * full-symbol-aligned (l = r runs), where non-overlapping left-to-right
    * replacement fuses alternate pairs just like the scan. Both engines'
    * `replace` share these semantics, so the DuckDB oracle replays the
    * identical training loop as chained CTEs. */
  private val BpeSep = "\u001f" // absent from the corpus alphabet

  /** Trained merge table per (dataset, rounds): training runs once per
    * session and is shared by the train-table entry and the tokenizer that
    * applies the merges. */
  private def bpeMerges(s: SparkSession, d: String,
      rounds: Int): Seq[(Int, String, String, Long)] =
    Memo.value(s, "bpe_merges", Seq(VectorOps.docsIn(d)), rounds) {
    val SEP = BpeSep
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("s", regexp_replace(col("w"), "(.)", s"$SEP$$1$SEP"))
      .persist()
    try {
      var cur = words.select(col("cnt"), col("s"))
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      for (it <- 1 to rounds) {
        val best = cur
          .withColumn("syms", split(trim(col("s"), SEP), SEP + SEP))
          .filter(size(col("syms")) >= 2)
          .select(col("cnt"), explode(expr(
            """transform(sequence(1, size(syms) - 1),
              |  j -> struct(element_at(syms, j) AS lhs,
              |              element_at(syms, j + 1) AS rhs))""".stripMargin))
            .as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("cnt")).as("pcnt"))
          .orderBy(col("pcnt").desc, col("lhs"), col("rhs"))
          .limit(1).head()
        val (l, r) = (best.getString(0), best.getString(1))
        merges += ((it, l, r, best.getLong(2)))
        cur = cur.withColumn("s", call_function("replace", col("s"),
          lit(SEP + l + SEP + SEP + r + SEP), lit(SEP + l + r + SEP)))
      }
      merges.result()
    } finally { words.unpersist(false); () }
  }

  private[queries] def bpeTrainMerges(s: SparkSession, d: String,
      rounds: Int): DataFrame = {
    val spark = s
    import spark.implicits._
    bpeMerges(s, d, rounds).toDF("it", "lhs", "rhs", "pcnt")
      .select(col("it").cast("int").as("it"), col("lhs"), col("rhs"),
        col("pcnt"))
      .orderBy("it")
  }

  /** Tokenize the corpus with the TRAINED merges — the apply half of the
    * tokenizer lifecycle. Post-merge token counts are computed once per
    * DISTINCT word (the same anchored replace chain the trainer used, then
    * a symbol count) and broadcast back onto one exploded corpus pass: the
    * corpus is touched once, and only (doc_id, word) rows shuffle before
    * the per-doc sum. */
  private[queries] def bpeTokenizeTrained(s: SparkSession, d: String,
      rounds: Int): DataFrame = {
    val SEP = BpeSep
    val merges = bpeMerges(s, d, rounds)
    val wrapped = regexp_replace(col("w"), "(.)", s"$SEP$$1$SEP")
    val merged = merges.foldLeft[Column](wrapped) { case (c, (_, l, r, _)) =>
      call_function("replace", c,
        lit(SEP + l + SEP + SEP + r + SEP), lit(SEP + l + r + SEP))
    }
    val wordTokens = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct() // vocabulary-bounded
      .select(col("w"),
        size(split(trim(merged, SEP), SEP + SEP)).cast("long").as("toks"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(wordTokens), "w")
      .groupBy("doc_id")
      .agg(sum(col("toks")).as("bpe5_tokens"))
      .orderBy("doc_id")
  }

  /** Chained-CTE DuckDB replay of [[bpeMerges]] (same word table, same pair
    * weighting, same (pcnt DESC, lhs, rhs) argmax, same anchored replace),
    * generated for `rounds` iterations. The word string `w` rides along so
    * the tokenize oracle can map each corpus word to its post-merge symbol
    * sequence w${rounds + 1}. */
  private def bpeTrainCtes(rounds: Int): Seq[String] = {
    val sep = "chr(31)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""w1 AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt,
        |    regexp_replace(w, '(.)', $sep || '\\1' || $sep, 'g') AS s
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0 GROUP BY w)""".stripMargin)
    for (i <- 1 to rounds) {
      ctes += s"""p$i AS MATERIALIZED (
        |  SELECT pr[1] AS lhs, pr[2] AS rhs, CAST(sum(cnt) AS BIGINT) AS pcnt
        |  FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
        |            j -> [syms[j], syms[j + 1]])) AS pr
        |        FROM (SELECT cnt,
        |                string_split(trim(s, $sep), $sep || $sep) AS syms
        |              FROM w$i)
        |        WHERE len(syms) >= 2)
        |  GROUP BY pr[1], pr[2])""".stripMargin
      ctes += s"""b$i AS MATERIALIZED (
        |  SELECT CAST($i AS INTEGER) AS it, lhs, rhs, pcnt FROM p$i
        |  ORDER BY pcnt DESC, lhs, rhs LIMIT 1)""".stripMargin
      ctes += s"""w${i + 1} AS MATERIALIZED (
        |  SELECT w, cnt, replace(s,
        |      (SELECT $sep || lhs || $sep || $sep || rhs || $sep FROM b$i),
        |      (SELECT $sep || lhs || rhs || $sep FROM b$i)) AS s
        |  FROM w$i)""".stripMargin
    }
    ctes.toSeq
  }

  private def bpeTrainOracle(rounds: Int): String =
    "WITH " + bpeTrainCtes(rounds).mkString(",\n") + "\n" +
      (1 to rounds).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ") +
      " ORDER BY it"

  /** Tokenize oracle: replay the training, then map every corpus word to
    * its post-merge symbol count and sum per document. */
  private def bpeTokenizeOracle(rounds: Int): String = {
    val sep = "chr(31)"
    "WITH " + bpeTrainCtes(rounds).mkString(",\n") + "\n" +
      s"""SELECT d.doc_id,
        |  CAST(sum(len(string_split(trim(wm.s, $sep), $sep || $sep)))
        |       AS BIGINT) AS bpe5_tokens
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |      FROM documents) d
        |JOIN w${rounds + 1} wm USING (w)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  private val StopWords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  private[queries] def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")
  private def stopList = inList(StopWords)

  /** Distributed full-batch logistic-regression training — quality-
    * classifier DISTILLATION as a first-class pipeline operator, with a
    * BIT-EXACT SQL oracle. Target: imitate the rule-based C4 keep/drop
    * verdict (text_c4_filter) from five text-statistic features (bias,
    * en-stopword ratio, alpha ratio, avg token length / 10, capped token
    * count / 64) — the standard move of distilling an expensive heuristic
    * filter into a fast model. Training accuracy climbs 0.22 → ~0.91 over
    * the 12 passes (majority class is 0.78), so the curve itself proves
    * learning, and every number on it is hash-checked. Two deliberate design choices
    * make the whole training loop deterministic and engine-portable:
    *
    *  - the link is the RATIONAL fast sigmoid p = 0.5 + z/(2(1+|z|))
    *    (monotone, (0,1), p=0.5 iff z=0) — only +,-,*,/,abs, every one
    *    IEEE-defined, so both engines produce identical doubles where a
    *    libm exp() could differ in the last ulp;
    *  - per-row gradient contributions are floor-quantized at 2^22
    *    (scaling by a power of two is exact — an exponent bump, never a
    *    rounding) and summed as INTEGERS, so the cross-partition sum is
    *    exact and summation-order-free: any partitioning, any engine,
    *    same gradient. Sums ride as decimal(38,0)/HUGEINT — no overflow
    *    at any corpus size.
    *
    * Each iteration is ONE corpus-wide partial-agg'd aggregation (5
    * gradient sums + accuracy + count) whose single result row the driver
    * folds into the next weight vector — full-batch GD's natural shape;
    * at 100 TB you run the same loop on a sample or switch to mini-batch,
    * the per-pass plan is unchanged. Output: per iteration, the
    * POST-update weights plus that pass's pre-update training accuracy. */
  /** Feature frame shared by training and scoring; `withId` adds doc_id
    * for the per-document inference output. */
  private def lrFeatures(s: SparkSession, d: String,
      withId: Boolean): DataFrame = {
    val base = Tables.documents(s, d)
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tok", size(col("w")))
      .withColumn("mean_len",
        (col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok"))
    val cols = Seq(
      when(col("n_tok") < 30, 0.0).when(col("n_tok") > 2000, 0.0)
        .when(col("mean_len") < 2.0, 0.0).when(col("mean_len") > 12.0, 0.0)
        .otherwise(1.0).as("y"),
      lit(1.0).as("x0"),
      (size(expr(s"filter(w, x -> x IN $stopList)")).cast("double") /
        size(col("w"))).as("x1"),
      (length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double") /
        length(col("text"))).as("x2"),
      ((aggregate(transform(col("w"), t => length(t)), lit(0),
        (acc, x) => acc + x).cast("double") / size(col("w"))) / 10.0).as("x3"),
      (least(col("n_tok"), lit(512)).cast("double") / 64.0).as("x4"))
    base.select((if (withId) col("doc_id") +: cols else cols): _*)
  }

  private def lrZ(w: Array[Double]): Column =
    lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3") + lit(w(4)) * col("x4")

  /** Fit results per (dataset, iters, lr): training runs once per session
    * and is shared by the train-curve entry and the scorer. */
  private def lrFit(s: SparkSession, d: String, iters: Int,
      lr: Double): Seq[(Int, Double, Double, Double, Double, Double, Long, Long)] =
    Memo.value(s, "lr_fit", Seq(VectorOps.docsIn(d)), iters, lr) {
      val Q = 4194304.0 // 2^22
      val feats = lrFeatures(s, d, withId = false).persist()
      try {
        val w = Array.fill(5)(0.0)
        val out = Seq.newBuilder[(Int, Double, Double, Double, Double, Double, Long, Long)]
        for (it <- 1 to iters) {
          val z = lrZ(w)
          val p = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
          val withP = feats.withColumn("z", z).withColumn("p", p)
          def g(j: Int) =
            sum(floor(col(s"x$j") * (col("p") - col("y")) * Q)
              .cast("decimal(38,0)")).as(s"g$j")
          val row = withP.agg(g(0), g(1), g(2), g(3), g(4),
            sum(when((col("z") > 0) === (col("y") > 0.5), 1L).otherwise(0L))
              .as("correct"),
            count(lit(1)).as("n")).head()
          val n = row.getLong(6)
          for (j <- 0 until 5)
            w(j) = w(j) - lr * ((row.getDecimal(j).doubleValue() / Q) / n.toDouble)
          out += ((it, w(0), w(1), w(2), w(3), w(4), row.getLong(5), n))
        }
        out.result()
      } finally { feats.unpersist(false); () }
    }

  private[queries] def lrTrain(s: SparkSession, d: String, iters: Int,
      lr: Double): DataFrame = {
    val spark = s
    import spark.implicits._
    lrFit(s, d, iters, lr).toDF("it", "w0", "w1", "w2", "w3", "w4", "correct", "n")
      .select(col("it").cast("int").as("it"), col("w0"), col("w1"),
        col("w2"), col("w3"), col("w4"), col("correct"), col("n"))
      .orderBy("it")
  }

  /** Score the corpus with the FINAL trained weights — the inference half:
    * one pure per-row pass (the model is five doubles, effectively free to
    * broadcast), emitting the margin, the model verdict, the rule verdict
    * it distilled, and their agreement per document. */
  private[queries] def lrScore(s: SparkSession, d: String, iters: Int,
      lr: Double): DataFrame = {
    val fitted = lrFit(s, d, iters, lr).last
    val w = Array(fitted._2, fitted._3, fitted._4, fitted._5, fitted._6)
    lrFeatures(s, d, withId = true)
      .withColumn("z", lrZ(w))
      .select(col("doc_id"), round(col("z"), 6).as("score"),
        (col("z") > 0).as("keep_pred"), (col("y") > 0.5).as("keep_rule"),
        ((col("z") > 0) === (col("y") > 0.5)).as("agree"))
      .orderBy("doc_id")
  }

  /** Chained-CTE replay of [[lrTrain]]: identical features, identical
    * rational sigmoid, identical quantized-integer gradient sums,
    * identical update expression — weights propagate through one CTE pair
    * per iteration. */
  private def lrTrainOracle(iters: Int, lr: Double): String =
    "WITH " + lrCtes(iters, lr).mkString(",\n") + "\n" +
      (1 to iters).map(i =>
        s"""SELECT CAST($i AS INTEGER) AS it, w.w0, w.w1, w.w2, w.w3, w.w4,
          |  CAST(g.correct AS BIGINT) AS correct, CAST(g.n AS BIGINT) AS n
          |FROM wt$i w, gr$i g""".stripMargin).mkString("\nUNION ALL\n") +
      "\nORDER BY it"

  /** Training replay + per-doc scoring as a CTE chain ending in `scored`
    * = (doc_id, score, keep_pred, keep_rule, agree) — shared by the score
    * and calibration oracles (same dot order as lrZ). */
  private def lrScoredCtes(iters: Int, lr: Double): Seq[String] =
    lrCtes(iters, lr) ++ Seq(
      s"""ftd AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN n_tok < 30 THEN 0.0 WHEN n_tok > 2000 THEN 0.0
        |         WHEN (n_chars - (n_tok - 1))::DOUBLE / n_tok < 2.0 THEN 0.0
        |         WHEN (n_chars - (n_tok - 1))::DOUBLE / n_tok > 12.0 THEN 0.0
        |         ELSE 1.0 END AS y,
        |    1.0 AS x0,
        |    len(list_filter(w, x -> x IN $stopList))::DOUBLE / len(w) AS x1,
        |    len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(text) AS x2,
        |    (list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w))
        |      / 10.0 AS x3,
        |    LEAST(n_tok, 512)::DOUBLE / 64.0 AS x4
        |  FROM (SELECT doc_id, n_chars, text, string_split(text, ' ') AS w,
        |          len(string_split(text, ' ')) AS n_tok
        |        FROM documents))""".stripMargin,
      s"""scored AS MATERIALIZED (
        |  SELECT doc_id, round(z, 6) AS score, z > 0 AS keep_pred,
        |    y > 0.5 AS keep_rule, (z > 0) = (y > 0.5) AS agree
        |  FROM (SELECT f.doc_id, f.y,
        |          w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4 AS z
        |        FROM ftd f, wt$iters w))""".stripMargin)

  /** Scoring oracle: replay training to wt$iters, then score each document
    * (same dot order as lrZ) and compare against the rule verdict. */
  private def lrScoreOracle(iters: Int, lr: Double): String =
    "WITH " + lrScoredCtes(iters, lr).mkString(",\n") + "\n" +
      """SELECT doc_id, score, keep_pred, keep_rule, agree
        |FROM scored ORDER BY doc_id""".stripMargin

  /** Calibration oracle: integer margin bins over the scored table, each
    * bin's mean via the quantized order-free sum (dq_drift's discipline). */
  private def lrCalibrationOracle(iters: Int, lr: Double): String =
    "WITH " + lrScoredCtes(iters, lr).mkString(",\n") + "\n" +
      """SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (keep_rule) AS BIGINT) AS n_rule_pos,
        |  round(count(*) FILTER (keep_rule)::DOUBLE / count(*), 6)
        |    AS frac_rule_pos,
        |  round((sum(CAST(floor(score * 1048576.0) AS BIGINT))::DOUBLE
        |           / count(*)) / 1048576.0, 6) AS mean_score
        |FROM (SELECT *,
        |        LEAST(GREATEST(CAST(floor(score) AS BIGINT), -4), 4) AS bin
        |      FROM scored)
        |GROUP BY bin ORDER BY bin""".stripMargin

  private def lrCtes(iters: Int, lr: Double): Seq[String] = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""ft AS MATERIALIZED (
        |  SELECT CASE WHEN n_tok < 30 THEN 0.0 WHEN n_tok > 2000 THEN 0.0
        |         WHEN (n_chars - (n_tok - 1))::DOUBLE / n_tok < 2.0 THEN 0.0
        |         WHEN (n_chars - (n_tok - 1))::DOUBLE / n_tok > 12.0 THEN 0.0
        |         ELSE 1.0 END AS y,
        |    1.0 AS x0,
        |    len(list_filter(w, x -> x IN $stopList))::DOUBLE / len(w) AS x1,
        |    len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        |      / length(text) AS x2,
        |    (list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w))
        |      / 10.0 AS x3,
        |    LEAST(n_tok, 512)::DOUBLE / 64.0 AS x4
        |  FROM (SELECT n_chars, text, string_split(text, ' ') AS w,
        |          len(string_split(text, ' ')) AS n_tok
        |        FROM documents))""".stripMargin,
      """wt0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
        |  0.0 AS w4)""".stripMargin)
    for (i <- 1 to iters) {
      val gs = (0 to 4).map(j =>
        s"sum(CAST(floor(x$j * (p - y) * 4194304.0) AS BIGINT)) AS g$j")
        .mkString(",\n    ")
      ctes += s"""gr$i AS MATERIALIZED (
        |  SELECT $gs,
        |    sum(CASE WHEN (z > 0) = (y > 0.5) THEN 1 ELSE 0 END) AS correct,
        |    count(*) AS n
        |  FROM (SELECT f2.*, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p
        |        FROM (SELECT ft.*,
        |                w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4 AS z
        |              FROM ft, wt${i - 1} w) f2))""".stripMargin
      val ws = (0 to 4).map(j =>
        s"w.w$j - $lr * ((CAST(g.g$j AS DOUBLE) / 4194304.0) " +
          s"/ CAST(g.n AS DOUBLE)) AS w$j").mkString(",\n    ")
      ctes += s"""wt$i AS (
        |  SELECT $ws
        |  FROM wt${i - 1} w, gr$i g)""".stripMargin
    }
    ctes.toSeq
  }

  /** Distinctive function words per language for the langid heuristic. */
  private[queries] val LangStops: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "on", "for", "with", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "los", "y", "es", "no", "para", "una", "del", "por", "como"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "dans", "une", "du"))

  /** Greedy sequence packing as a distributed two-phase prefix sum.
    *
    * Semantics are EXACTLY a per-lang running token sum in doc_id order
    * (bin_id = floor((cum-1)/budget)) — the same result a single
    * `Window.partitionBy("lang")` would give, but that shape funnels each
    * language's entire corpus through one reducer. Instead:
    *
    *  1. range-shard on doc_id (`shard = doc_id / shardSize`) — order-
    *     preserving, so (shard, doc_id) sorts identically to doc_id;
    *  2. local running sums per (lang, shard) window — parallel across
    *     n_lang x n_shards partitions;
    *  3. per-(lang, shard) token totals (one tiny row per shard) rolled
    *     into per-lang EXCLUSIVE prefix offsets — a window over the small
    *     shard-summary frame, not the data;
    *  4. broadcast the offsets back; global cum = shard offset + local cum.
    *
    * `shardSize` bounds rows per window partition (pick ~1M at 100 TB so
    * the offsets frame stays thousands of rows; 1024 here so small SFs
    * exercise multiple shards per language).
    */
  private[queries] def packSequences(docs: DataFrame, budget: Long, shardSize: Long,
      tokenCounter: org.apache.spark.sql.Column =
        size(split(col("text"), " ")).cast("long")): DataFrame = {
    // Cost note: the shard-totals aggregate and the local window are two
    // consumers of `t`, so Catalyst evaluates tokenCounter once per phase
    // (twice total) — measured immaterial at bench scale (the scan
    // dominates), and an explicit shared exchange did NOT get reused when
    // tried. If the counter ever dominates at cluster scale, persist the
    // narrow (doc_id, lang, shard, n_tokens) projection between phases.
    val t = docs
      .withColumn("n_tokens", tokenCounter)
      .withColumn("shard", floor(col("doc_id") / shardSize))
    val localW = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offW = Window.partitionBy("lang").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy("lang", "shard")
      .agg(sum("n_tokens").as("shard_tokens"))
      .withColumn("offset", coalesce(sum("shard_tokens").over(offW), lit(0L)))
      .select("lang", "shard", "offset")
    t.withColumn("local_cum", sum("n_tokens").over(localW))
      .join(broadcast(offsets), Seq("lang", "shard"))
      .withColumn("cum_tokens", col("offset") + col("local_cum"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor((col("cum_tokens") - 1) / budget).cast("long").as("bin_id"))
  }

  /** Blocked token-set jaccard with an enforced per-bucket cardinality cap.
    *
    * Token sets are 64-bit-hashed once per doc (long compares beat string
    * compares in the intersect; injective modulo ~2^-64 collisions, so the
    * jaccard values are the oracle's), and a size-ratio prefilter discards
    * pairs that cannot reach 0.8 before the merge-intersect runs.
    *
    * The within-bucket self-join is quadratic BY DESIGN — this operator is
    * candidate verification, not discovery. The guard makes that scoping
    * enforceable: per-bucket doc counts ride a broadcast join, and any
    * bucket over `maxBucketDocs` fails the job (in-plan `assert_true`, so
    * the check needs no eager driver-side action) with a message pointing
    * at the MinHash/SimHash discovery paths. */
  private[queries] def blockedJaccard(s: SparkSession, docs: DataFrame,
      maxBucketDocs: Long): DataFrame = {
    import s.implicits._
    val t = docs.select(
      col("doc_id"), (col("n_chars") / 100).cast("long").as("bkt"),
      array_sort(array_distinct(transform(split(col("text"), " "),
        x => xxhash64(x)))).as("w"))
      .as[(Long, Long, Array[Long])]
    // ONE thin exchange keyed by bucket (each doc's sorted hash set ships
    // once); the pair space never shuffles. The earlier bucket self-join
    // materialized every within-bucket pair WITH both token arrays through
    // the exchange (~pairs x 2 x |w| x 8 bytes — the measured 6 s at sf0.1
    // was that shuffle, not the intersects). The per-bucket loop below runs
    // the same size-ratio prefilter + sorted merge-intersect locally, under
    // the same cardinality guard, and emits only qualifying pairs.
    t.groupByKey(_._2)
      .flatMapGroups { (bkt: Long, it: Iterator[(Long, Long, Array[Long])]) =>
        // Cap BEFORE buffering: take(cap+1) bounds what a pathologically hot
        // bucket can allocate on one executor to cap+1 token arrays — the
        // guard must fire before the bucket is materialized, not after.
        // (ds.length == cap+1 alone proves overflow; touching `it` again
        // after take() would be undefined per the Iterator contract.)
        val ds = it.take(maxBucketDocs.toInt + 1).toArray.sortBy(_._1)
        if (ds.length > maxBucketDocs)
          throw new IllegalStateException(
            s"dedup_blocked_jaccard: length bucket $bkt holds more than" +
              s" $maxBucketDocs docs (cap); quadratic verification is not" +
              " meant for buckets this hot — use dedup_minhash_lsh or" +
              " dedup_simhash for discovery-scale near-dup")
        val out = Seq.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < ds.length) {
          val (ia, _, wa) = ds(i)
          var j = i + 1
          while (j < ds.length) {
            val (ib, _, wb) = ds(j)
            val sa = wa.length
            val sb = wb.length
            if (sa * 5 >= sb * 4 && sb * 5 >= sa * 4) {
              val inter = sortedIntersectSize(wa, wb)
              val jac = inter.toDouble / (sa + sb - inter)
              if (jac >= 0.8)
                out += ((ia, ib,
                  BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                    .toDouble))
            }
            j += 1
          }
          i += 1
        }
        out.result().iterator
      }
      .toDF("id_a", "id_b", "jac")
  }

  /** Merge intersect of two sorted long arrays — the kernel-side twin of the
    * `sorted_intersect_size` codegen expression. */
  private def sortedIntersectSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** Word 3-grams over a materialized `toks` column (a split(text) INSIDE
    * the transform lambda is re-evaluated per element — O(n^2) per doc).
    * try_element_at: under-3-token docs index past the array end, which
    * ANSI mode (Spark 4 default) turns into a job-killing error with plain
    * element_at; try_element_at yields NULL, which concat_ws skips —
    * exactly DuckDB's [i] + concat_ws semantics. */
  private[queries] val repetitionGrams: org.apache.spark.sql.Column = expr(
    """transform(sequence(1, greatest(size(toks) - 2, 1)),
      |  i -> concat_ws(' ', try_element_at(toks, i),
      |                      try_element_at(toks, i + 1),
      |                      try_element_at(toks, i + 2)))""".stripMargin)

  /** PII patterns, restricted to the Java-regex ∩ RE2 common dialect so
    * Spark and the DuckDB oracle apply literally identical expressions. */
  private[queries] val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val PiiPhone = "\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ]?[0-9]{0,4}"
  private[queries] val PiiIpv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Redact emails / phone numbers / IPv4 addresses and count occurrences
    * (PII-density filtering). Per-row regexp chain, codegen'd, no shuffle. */
  private[queries] def piiScrub(docs: DataFrame): DataFrame =
    // Column-API regexp_count, NOT expr(): interpolating a pattern into a
    // SQL string literal re-processes backslash escapes ('\+' -> '+',
    // '\.' -> '.'), silently diverging from the replace patterns and the
    // DuckDB oracle (whose standard strings keep backslashes raw).
    docs.select(col("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        PiiEmail, "<EMAIL>"), PiiPhone, "<PHONE>"), PiiIpv4, "<IP>")
        .as("scrubbed"),
      regexp_count(col("text"), lit(PiiEmail)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PiiPhone)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(PiiIpv4)).cast("long").as("n_ips"))

  /** Corpus-level boilerplate scoring: the fraction of each document's word
    * 8-grams that also appear in at least `minDocs` OTHER-or-same distinct
    * documents (the C4/RefinedWeb shared-line cleaning shape, adapted to
    * single-line docs).
    *
    * Grams are hashed positionally: explode gram START POSITIONS and
    * xxhash64 the 8-word tuple per row (multi-arg form; words contain no
    * spaces, so the tuple hash groups exactly like a space-joined gram
    * string). Deliberately NOT a per-doc transform(...) building a gram
    * array: explode(arrayExpr) lets InferFiltersFromGenerate (when enabled)
    * push a size(arrayExpr) > 0 filter below the projection, where the
    * inlined lambda re-evaluates split(text) per element — measured 33 s at
    * sf0.1 vs ~1 s for this positional shape, which stays in one
    * whole-stage-codegen pass per scan. */
  private[queries] def boilerplate(docs: DataFrame, minDocs: Long = 2L): DataFrame = {
    val t = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks"),
        greatest(size(col("toks")) - 7, lit(0)).cast("long").as("n_grams"))
    val e = t.filter(col("n_grams") > 0)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1, size(toks) - 7)")).as("i"))
      .select(col("doc_id"),
        xxhash64((0 to 7).map(j => expr(s"element_at(toks, i + $j)")): _*).as("gh"))
    // ONE gram-explode pass. The former shape referenced `e` on both sides
    // of a self-join (boiler-gram set, then gram⋈set) and Spark recomputes
    // a subtree per reference — the whole tokenize+hash explode ran twice
    // and every raw gram occurrence shuffled into the join. Instead:
    // partial-agg occurrences to distinct (gh, doc_id) rows (map-side
    // combine kills within-doc repeats), count docs per gram with a window
    // over those AGGREGATED rows, filter, and sum per doc. Window partition
    // size is bounded by the doc-frequency of a gram — the corpus-wide
    // worst case (a gram present in every doc) would concentrate one
    // (gh,doc) row per doc; a production 100 TB run caps that with a
    // sampled stop-gram list, which this operator's contract doesn't need.
    val g1 = e.groupBy("gh", "doc_id").agg(count(lit(1)).as("c"))
    val nb = g1
      .withColumn("ndocs", count(lit(1)).over(Window.partitionBy("gh")))
      .filter(col("ndocs") >= minDocs)
      .groupBy("doc_id").agg(sum("c").cast("long").as("n_boiler"))
    t.select(col("doc_id"), col("n_grams"))
      .join(nb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_boiler"), lit(0L)).cast("double") /
            col("n_grams"), 6)).as("boiler_ratio"))
      .orderBy("doc_id")
  }

  /** Substring-granularity exact dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): every
    * OVERLAPPING w-token span (stride 1 — vs dedup_lines' ALIGNED stride-w
    * spans) is keyed globally; a span that already occurred anywhere
    * earlier in the corpus (order = (doc_id, pos), within-document repeats
    * included) marks its w token positions duplicated, and each document
    * is reassembled from its uncovered tokens. This is the published
    * standard for training-corpus dedup, and it catches the case aligned
    * spans are structurally blind to: the same passage repeated at a ±k
    * token offset never lands on the same stride-w boundary (pinned in
    * DedupSubstringSpec).
    *
    * Scale shape: one generator pass per doc (n-w+1 span rows), ONE
    * shuffle keyed on span content (at 100 TB the key would be a 128-bit
    * span hash to fix row width — same note as dedup_lines), a
    * first-occurrence row_number per span (high-cardinality partition
    * key), then ONE doc_id re-agg collecting each doc's duplicate
    * positions (bounded by its token count). Coverage size = union of
    * [p, p+w-1] intervals over the SORTED position list — per-row
    * arithmetic via a fold over consecutive gaps — and reassembly is a
    * per-row indexed filter. Docs shorter than w contribute no spans
    * (document-level dedup of tiny docs is dedup_exact's job). */
  private[queries] def substringDedup(docs: DataFrame, w: Int): DataFrame = {
    val base = tokenized(docs)
    val spans = spanRows(base, w)
    val firstSeen = Window.partitionBy("span").orderBy("doc_id", "pos")
    val dupRows = spans
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos"))
    assembleSubstringOutput(base, dupRows, w)
  }

  /** First-occurrence duplicate rows over PACKED span keys: the w-token
    * span at (doc, p) keys on its w dictionary codes packed into longs —
    * injective at the vocabulary bit width, so the rn > 1 row set equals
    * the span-string window's exactly while the explode emits longs
    * instead of w-token strings. Used by the CANONICAL composition only,
    * where the codedDocs stage is already paid for by the SA half and
    * packing is a net win (1.5 s vs 2.1 s exclusive at sf0.1); measured a
    * net LOSS for standalone substringDedup (1.76 s vs 1.16 s — the
    * coding join + re-agg costs more than the string window it saves),
    * which therefore keeps the direct string form. The APPEND path also
    * keeps string spans in its durable index, because packed codes are
    * relative to THIS corpus's dictionary and a later ingest's
    * vocabulary drift would silently re-key the stored artifact. */
  private def packedDupRows(coded: DataFrame, bits: Int, w: Int): DataFrame = {
    val s = coded.sparkSession
    import s.implicits._
    val perLong = 63 / bits
    val nk = (w + perLong - 1) / perLong
    val spans = coded.as[(Long, Seq[Long], Seq[Int])]
      .mapPartitions { it =>
        it.flatMap { case (id, codesSeq, _) =>
          val codes = codesSeq.toArray
          val m = codes.length
          (0 to m - w).iterator.map { p =>
            val key = new Array[Long](nk)
            var j = 0
            while (j < w) {
              key(j / perLong) = (key(j / perLong) << bits) | codes(p + j)
              j += 1
            }
            (id, p, key.toSeq)
          }
        }
      }.toDF("doc_id", "pos", "span")
    val firstSeen = Window.partitionBy("span").orderBy("doc_id", "pos")
    spans
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos"))
  }

  /** (doc_id, tk, n) — the tokenized frame every substring consumer shares. */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n", size(col("tk")))

  /** Overlapping stride-1 w-token span occurrences: (doc_id, pos, span). */
  private def spanRows(base: DataFrame, w: Int): DataFrame =
    base.filter(col("n") >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, n - $w), i -> array_join(slice(tk, i + 1, $w), ' '))"))
        .as(Seq("pos", "span")))

  /** Shared back half of the fixed-w substring dedup: given the (doc_id,
    * pos) DUPLICATE occurrence rows from ANY candidate generator (full
    * rebuild's global row_number, the append path's base-index merge),
    * fold them into interval coverage and per-doc reassembly. Bit-equal
    * output for equal dup-row sets, which is what makes the append path's
    * hash-equality claim a statement about its dup ROWS only. */
  private def assembleSubstringOutput(base: DataFrame, dupRows: DataFrame,
      w: Int): DataFrame = {
    val dups = dupRows
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("pos"))).as("ps"),
        count(lit(1)).as("n_dup_spans"))
    withMergedCoverage(
      base.join(dups, Seq("doc_id"), "left")
        .withColumn("ps", coalesce(col("ps"), expr("cast(array() as array<int>)")))
        .withColumn("ivs", expr(
          s"transform(ps, p -> named_struct('s', p, 'e', p + ${w - 1}))")))
      .select(col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        greatest(col("n") - lit(w - 1), lit(0)).cast("long").as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        col("n_dup_tokens"),
        md5(array_join(col("kept"), " ")).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** Interval-union coverage + gap reassembly over a SORTED-by-start `ivs`
    * array<struct<s,e>> column — shared by the fixed-w path (every
    * interval w wide) and the canonical variable-length path. Merges
    * adjacent/overlapping intervals into disjoint `mg` ranges so coverage
    * size and reassembly are O(n + intervals) per doc — a naive per-token
    * membership test is O(n · intervals), quadratic on a
    * heavily-duplicated document. Adds `n_dup_tokens` (union size) and
    * `kept` (the gap segments of `tk` around the merged intervals). */
  private def withMergedCoverage(df: DataFrame): DataFrame =
    df
      .withColumn("mg",
        when(size(col("ivs")) === 0,
          expr("cast(array() as array<struct<s:int,e:int>>)"))
          .otherwise(expr(
            """aggregate(slice(ivs, 2, size(ivs) - 1),
              |  array(ivs[0]),
              |  (acc, x) -> CASE
              |    WHEN x.s <= element_at(acc, -1).e + 1 THEN
              |      concat(slice(acc, 1, size(acc) - 1),
              |        array(named_struct('s', element_at(acc, -1).s,
              |          'e', greatest(element_at(acc, -1).e, x.e))))
              |    ELSE concat(acc, array(x)) END)""".stripMargin)))
      .withColumn("n_dup_tokens",
        expr("aggregate(mg, 0L, (a, x) -> a + (x.e - x.s + 1))"))
      // kept text = the gap segments around the merged intervals
      .withColumn("kept",
        when(size(col("mg")) === 0, col("tk")).otherwise(expr(
          """flatten(concat(
            |  array(slice(tk, 1, mg[0].s)),
            |  transform(
            |    CASE WHEN size(mg) < 2 THEN cast(array() as array<int>)
            |         ELSE sequence(1, size(mg) - 1) END,
            |    i -> slice(tk, element_at(mg, i).e + 2,
            |               element_at(mg, i + 1).s - element_at(mg, i).e - 1)),
            |  array(slice(tk, element_at(mg, -1).e + 2,
            |              n - element_at(mg, -1).e - 1))))""".stripMargin)))

  /** The Lee et al. END PRODUCT: excise VARIABLE-LENGTH repeats >= l of
    * any length, not fixed-w fragments. Composition of the two existing
    * halves, each doing what it is exact at:
    *
    *   - the fixed-l first-occurrence pass supplies WHICH starts to
    *     excise (an l-window that occurred earlier in (doc_id, pos)
    *     order — first occurrences stay);
    *   - the SA/LCP profile supplies HOW FAR each excision extends:
    *     lcp_max(pos) is the exact maximal repeat length at that start
    *     (capped at `cap`, the published SA truncation trade — repeats
    *     longer than cap are excised as a chain of dup starts whose
    *     capped intervals overlap into one merged range).
    *
    * Every fixed-l dup start has lcp_max >= l by construction (its
    * l-window recurs), so the two halves agree on the start set and the
    * inner join is lossless. The interval [pos, pos + lcp_max - 1] can
    * out-reach the fragments' union when the repeat partner appears
    * LATER in corpus order (the trailing tokens' own l-windows are
    * first occurrences there — fixed-w keeps them, canonical excises
    * the full repeat); the pinned spec case exercises exactly that and
    * DedupSubstringSpec brute-forces the composed semantics end to end.
    * Scale shape: the union of the two halves' own documented shapes
    * plus one (doc_id, pos)-keyed equi-join — nothing new shuffles. */
  private[queries] def substringDedupCanonical(docs: DataFrame, l: Int,
      cap: Int): DataFrame = {
    val base = tokenized(docs)
    val (coded0, bits) = codedDocs(docs)
    // both halves consume the coded corpus; a LAZY localCheckpoint
    // materializes the coding join + re-agg once at first use instead of
    // once per plan branch (thin (doc_id, codes, lens) rows)
    val coded = coded0.localCheckpoint(false)
    val dupStarts = packedDupRows(coded, bits, l)
    val iv = dupStarts.join(saLcpPerPosFrom(coded, bits, cap),
      Seq("doc_id", "pos"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + col("lcp_max") - 1).cast("int").as("e"))
    assembleCanonicalOutput(base, iv).orderBy("doc_id")
  }

  /** Back half of the canonical excision, shared by the full rebuild and
    * the append path: variable-length (doc_id, s, e) excision intervals
    * folded into per-doc coverage and reassembly. Unordered — callers
    * order (the append path unions these rows with stored output rows
    * first). */
  private def assembleCanonicalOutput(base: DataFrame,
      ivRows: DataFrame): DataFrame = {
    val perDoc = ivRows
      .select(col("doc_id"),
        struct(col("s").cast("int").as("s"), col("e").cast("int").as("e"))
          .as("iv"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("iv"))).as("ivs"),
        count(lit(1)).as("n_excised"))
    withMergedCoverage(
      base.join(perDoc, Seq("doc_id"), "left")
        .withColumn("ivs", coalesce(col("ivs"),
          expr("cast(array() as array<struct<s:int,e:int>>)"))))
      .select(col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        coalesce(col("n_excised"), lit(0L)).as("n_excised"),
        col("n_dup_tokens"),
        md5(array_join(col("kept"), " ")).as("kept_md5"))
  }

  /** Incremental fixed-w substring dedup — the append path the full
    * rebuild cannot serve (the last dedup family still paying full-corpus
    * cost per ingest, per the round-10 audit). The BASE slice (doc_id % 5
    * != 4) explodes once and persists TWO durable artifacts in the shared
    * store (same REUSE discipline as the MinHash base signatures):
    *
    *   - the FIRST-OCCURRENCE SPAN INDEX: one (span, first doc_id, first
    *     pos) row per distinct base span — at 100 TB the key would be a
    *     128-bit span hash to fix row width (same note as the full
    *     rebuild); raw spans here keep the artifact oracle-transparent;
    *   - the within-base DUPLICATE rows (doc_id, pos), final forever:
    *     appending documents can only ADD duplicates, and a base
    *     occurrence's within-base predecessor survives any append.
    *
    * A delta ingest explodes ONLY delta docs. One ranked merge answers
    * both remaining questions exactly: union the delta span occurrences
    * with the base-index firsts OF SPANS THE DELTA TOUCHES (left-semi on
    * span — an untouched base span cannot change rank), rank by the same
    * global (doc_id, pos) order, and every rn > 1 row IS a new duplicate
    * occurrence: a delta row outranked by the base first or an earlier
    * delta row, or a PROMOTED base first outranked by an interleaved
    * delta occurrence (delta doc_ids interleave with base here — harder
    * than the monotonic-id crawl case, and handled by the same merge).
    * Stored dups ∪ merge dups is a disjoint, exhaustive replay of the
    * full rebuild's rn > 1 set, so the assembled output is hash-equal to
    * [[substringDedup]] over base ∪ delta — which is exactly the oracle
    * this entry registers. Per-ingest cost: O(delta · w) span rows + a
    * keyed semi-join/lookup against the span index, never a base
    * re-explosion; reassembly scans the corpus text once (a scan, not a
    * shuffle — emitting only delta + changed docs is the production
    * variant, full output keeps the hash-equality contract testable). */
  private[queries] def substringDedupAppend(s: SparkSession, docs: DataFrame,
      w: Int, storeKey: Option[StoreKey]): DataFrame = {
    val (baseDups, newDups) = substringAppendDups(s, docs, w, storeKey)
    assembleSubstringOutput(tokenized(docs), baseDups.unionByName(newDups), w)
  }

  /** The incremental dup-row core shared by the hash-equal append entry and
    * the delta-output production variant: (stored base dups, new dups from
    * the delta merge). See [[substringDedupAppend]]'s doc for the exactness
    * argument — stored ∪ new is a disjoint, exhaustive replay of the full
    * rebuild's rn > 1 set. */
  private def substringAppendDups(s: SparkSession, docs: DataFrame,
      w: Int, storeKey: Option[StoreKey]): (DataFrame, DataFrame) = {
    def keep(name: String)(build: => DataFrame): DataFrame = storeKey match {
      case Some(k) => VectorOps.shared(s, s"$name:${k.key}", k.inputs)(build)
      case None    => build
    }
    val isDelta = col("doc_id") % 5 === 4
    val baseSpans = spanRows(tokenized(docs.filter(!isDelta)), w)
    val firstSeen = Window.partitionBy("span").orderBy("doc_id", "pos")
    val spanIndex = keep("substr_span_index_base")(
      baseSpans
        .groupBy("span")
        .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
        .select(col("span"), col("f.doc_id").as("doc_id"),
          col("f.pos").as("pos")))
    val baseDups = keep("substr_dups_base")(
      baseSpans.withColumn("rn", row_number().over(firstSeen))
        .filter(col("rn") > 1).select(col("doc_id"), col("pos")))
    val deltaSpans = spanRows(tokenized(docs.filter(isDelta)), w)
    val touchedFirsts = spanIndex
      .join(deltaSpans.select("span").distinct(), Seq("span"), "left_semi")
    val merged = deltaSpans.unionByName(touchedFirsts)
    val newDups = merged
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos"))
    (baseDups, newDups)
  }

  /** Production-shaped append OUTPUT: verdict rows for the delta docs plus
    * only the base docs the ingest actually CHANGED, instead of re-emitting
    * the whole corpus. [[substringDedupAppend]] keeps full output so its
    * oracle is literally the rebuild (hash-equality as the correctness
    * contract); at 100 TB that contract's output clause is the wrong shape —
    * a daily ingest must write O(delta), not O(corpus). The only base docs
    * an ingest can change are those gaining a NEW duplicate position (a
    * stored base first outranked by an interleaved delta occurrence), i.e.
    * exactly the base doc_ids appearing in the merge's rn > 1 rows — an
    * untouched base doc's dup set, and hence its reassembly, is bitwise
    * final in the store. Output = assemble(delta docs ∪ changed base docs)
    * over (stored ∪ new) dup rows; per-ingest cost O(delta · w) span rows +
    * the span-keyed index lookups + a reassembly scan of ONLY the affected
    * docs' text. Oracle: the full rebuild restricted in SQL to the same
    * affected set (delta ∪ doc_ids of full-dups \ base-only-dups) — exact,
    * because new dups ≡ full \ base (the append entry's proven identity). */
  private[queries] def substringDedupAppendDelta(s: SparkSession,
      docs: DataFrame, w: Int, storeKey: Option[StoreKey]): DataFrame = {
    val (baseDups, newDups0) = substringAppendDups(s, docs, w, storeKey)
    // feeds the affected-doc set AND the dup union: cut the lineage so the
    // delta merge's window runs once (the canonical append's pattern)
    val newDups = newDups0.localCheckpoint(false)
    val isDelta = col("doc_id") % 5 === 4
    val affected = docs.filter(isDelta).select("doc_id")
      .unionByName(newDups.select("doc_id")).distinct()
    // semi-join the RAW docs before tokenizing: a left-semi hash join
    // evaluates its left side fully, so tokenize-below-join would run the
    // split over the whole corpus — an O(corpus) pass inside the O(delta)
    // output path (the same class the canonical append's tail-doc
    // restriction fixed in r12)
    assembleSubstringOutput(
      tokenized(docs.join(affected, Seq("doc_id"), "left_semi")),
      baseDups.unionByName(newDups).join(affected, Seq("doc_id"), "left_semi"),
      w)
  }

  /** Canonical excision intervals computed WITHIN window groups — the
    * kernel that makes the canonical path INCREMENTAL. For any duplicated
    * start p, every suffix achieving its maximal repeat length shares
    * >= l tokens with p's suffix, hence shares p's l-window — so the
    * global SA's lcp_max at dup starts is exactly the max LCP among
    * co-occurrences of the SAME window (and since suffixes with a common
    * prefix form a contiguous block of the global suffix order, sorting
    * each group by its post-window TAILS and taking neighbor LCPs is the
    * classical SA neighbor-max property applied per group). Input `occ`
    * is (doc_id, pos, span_h) occurrence rows — span_h = xxhash64 of the
    * span TEXT, the slim fixed-width key the stored index carries; the
    * span text itself is RE-DERIVED here by slicing the doc's tokens at
    * (pos, l), so grouping stays exact-by-text and the index never
    * stores a 60-char string per occurrence. Hash collisions therefore
    * cannot merge groups (two colliding spans re-derive to different
    * text and group apart); a collision's only cost is pulling one
    * extra group into the recompute. Tails slice from the same token
    * arrays. Emits one (span_h, doc_id, s, e) interval per NON-FIRST
    * occurrence (rn > 1 in global (doc_id, pos) order within the text
    * group), e = s + l + max(neighbor tail LCP) - 1 — auto-clamped to
    * the cap because tails are cap-l tokens at most. Group-sized
    * windows: partition skew = duplication hotness, the same documented
    * hazard as the fixed-w first-occurrence window. */
  private def canonGroupIvs(occ: DataFrame, allDocs: DataFrame, l: Int,
      cap: Int): DataFrame = {
    // tokenize ONLY docs that hold an occurrence in scope: the append
    // path passes the full corpus as `allDocs` but a touched-group-only
    // `occ`, and slicing tails must not re-tokenize every untouched doc
    // (an O(corpus) pass inside an O(touched) recompute — measured 1.4x
    // rebuild cost at a 1% delta before this restriction). The semi-join
    // is on doc_id, so the inner tail join's row set is unchanged.
    val t = tokenized(allDocs
        .join(occ.select("doc_id").distinct(), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("tk"))
    val withTail = occ.join(t, "doc_id")
      .select(col("span_h"),
        expr(s"array_join(slice(tk, pos + 1, $l), ' ')").as("span"),
        col("doc_id"), col("pos"),
        expr(s"slice(tk, pos + 1 + $l, ${cap - l})").as("tail"))
    val rnW = Window.partitionBy("span").orderBy("doc_id", "pos")
    val tailW = Window.partitionBy("span")
      .orderBy(col("tail"), col("doc_id"), col("pos"))
    def lcp(oc: String): Column = expr(
      s"""CASE WHEN $oc IS NULL THEN 0 ELSE
         |  CASE WHEN array_position(
         |      zip_with(slice(tail, 1, least(size(tail), size($oc))),
         |               slice($oc, 1, least(size(tail), size($oc))),
         |               (x, y) -> x = y), false) = 0
         |    THEN least(size(tail), size($oc))
         |    ELSE CAST(array_position(
         |      zip_with(slice(tail, 1, least(size(tail), size($oc))),
         |               slice($oc, 1, least(size(tail), size($oc))),
         |               (x, y) -> x = y), false) AS INT) - 1 END END"""
        .stripMargin)
    withTail
      .withColumn("rn", row_number().over(rnW))
      .withColumn("tp", lag(col("tail"), 1).over(tailW))
      .withColumn("tn", lead(col("tail"), 1).over(tailW))
      .filter(col("rn") > 1)
      .withColumn("replen", lit(l) + greatest(lcp("tp"), lcp("tn")))
      .select(col("span_h"), col("doc_id"), col("pos").cast("int").as("s"),
        (col("pos") + col("replen") - 1).cast("int").as("e"))
  }

  /** Incremental canonical excision — [[substringDedupCanonical]]'s
    * append path, completing the substring family's incremental story.
    * Three durable base artifacts: the base l-window OCCURRENCE index —
    * slim fixed-width (span_h, doc_id, pos) rows PARTITIONED into
    * span-hash bucket directories, so an ingest's probe prunes to the
    * touched buckets instead of scanning the whole index (the r13
    * `weak`); the base canonical INTERVALS keyed by the same span hash;
    * and the base OUTPUT rows. A delta ingest explodes only delta docs;
    * the groups its spans touch are recomputed over base ∪ delta
    * membership (a span_h-keyed semi-join against the pruned buckets
    * pulls the base occurrences, span text and tails re-slice from ONLY
    * the affected docs' text), while every untouched group's intervals —
    * and every unaffected doc's finished output row — are reused
    * verbatim from the store. Exactness: an untouched group's
    * membership, ranks, and tails are identical in the base-only and
    * full runs; a touched group is recomputed exactly (grouping is by
    * RE-DERIVED span text, so hash collisions cannot merge groups — see
    * [[canonGroupIvs]]); and a base start's repeat length can only
    * change via a suffix sharing >= l tokens, which by the window-share
    * argument lives in a touched group. Hash-equal to the full canonical
    * rebuild — which is the registered oracle.
    *
    * Honest bench caveat: on the 1%-ingest zipf1big fixture the 43k
    * distinct delta spans hit all 64 bucket directories, so the ratio
    * win there comes from the slim fixed-width scan (no 60-char span
    * strings, no persist materialization), not dir pruning; the pruning
    * shows when the ingest's span set is small relative to the bucket
    * count (spec-pinned), which is exactly the 100 TB regime — and the
    * bucket count now really does grow with the corpus
    * ([[occBucketCount]]: derived from the base corpus's byte size,
    * embedded in the artifact name) while a daily ingest's key count
    * does not. DedupSubstringSpec's grown-interval case is the
    * semantics that must survive. */
  private[queries] def substringDedupCanonicalAppend(s: SparkSession,
      docs: DataFrame, l: Int, cap: Int,
      storeKey: Option[StoreKey], deltaOnly: Boolean = false,
      nBkt: Int = 64): DataFrame = {
    def keep(name: String)(build: => DataFrame): DataFrame = storeKey match {
      case Some(k) => VectorOps.shared(s, s"$name:${k.key}", k.inputs)(build)
      case None    => build
    }
    // The occurrence index goes through the PARTITIONED durable layer and
    // is deliberately NOT session-persisted: a persist() would turn the
    // probe into an InMemoryTableScan and the partition-dir pruning below
    // could never reach the parquet scan (the r13 `weak`: one un-pruned
    // scan of the whole stored index per ingest).
    def keepOcc(name: String)(build: => DataFrame): DataFrame = storeKey match {
      case Some(k) =>
        VectorOps.durablePartitioned(s, s"$name:${k.key}", Seq("span_bkt"))(build)
      case None => build
    }
    val isDelta = col("doc_id") % 5 === 4
    val baseDocs = docs.filter(!isDelta)
    // Slim fixed-width occurrence index: (span_h, doc_id, pos) + the
    // span-hash bucket as a partition directory. The span TEXT is never
    // stored — canonGroupIvs re-derives it from (doc_id, pos) when a
    // group is recomputed, so all probe/anti-join keying below runs on
    // the 8-byte hash. Exactness does not lean on hash injectivity:
    // both the semi-join (which groups to recompute) and the anti-join
    // (which stored intervals to retire) use span_h CONSISTENTLY, so a
    // colliding group is retired-and-recomputed as a unit, and the
    // recompute groups by re-derived text — a collision costs extra
    // recompute, never a merged group or a dropped interval. (This is
    // the "at 100 TB the span key becomes a fixed-width hash" note made
    // real, with the collision argument that makes it exact.)
    def slim(occ: DataFrame): DataFrame = occ
      .select(xxhash64(col("span")).as("span_h"), col("doc_id"), col("pos"))
    // nBkt is part of the artifact NAME: the stored directory layout and
    // every later probe agree on the modulus by construction, and a
    // corpus regrown to a size that derives a different count keys a
    // fresh artifact instead of misreading the old layout
    val baseOcc = keepOcc(s"substr_canon_occh_base_b$nBkt")(
      slim(spanRows(tokenized(baseDocs), l))
        .withColumn("span_bkt", pmod(col("span_h"), lit(nBkt)).cast("int")))
    val baseIv = keep("substr_canon_ivh_base")(
      canonGroupIvs(baseOcc.drop("span_bkt"), baseDocs, l, cap))
    val baseOut = keep("substr_canon_out_base")(
      assembleCanonicalOutput(tokenized(baseDocs),
        baseIv.select("doc_id", "s", "e")))
    // delta side: same slim shape; localCheckpoint because it feeds the
    // touched-key set, the bucket probe, and the occurrence union
    val deltaOcc = slim(spanRows(tokenized(docs.filter(isDelta)), l))
      .localCheckpoint(false)
    val touched = deltaOcc.select("span_h").distinct()
    // Partition-dir pruning: the buckets the ingest touches, as literals
    // for the scan's partition filter. Bounded driver read (<= nBkt ints,
    // same class as the IVF codebook samples). A small ingest touches few
    // buckets and the probe reads only those directories; a saturating
    // ingest (the 1%-of-40k fixture touches all 64) degrades to the full
    // scan it previously always paid.
    val touchedBkts: Seq[Int] = touched
      .select(pmod(col("span_h"), lit(nBkt)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val prunedOcc =
      if (baseOcc.columns.contains("span_bkt"))
        baseOcc.filter(col("span_bkt")
          .isin(touchedBkts.map(Integer.valueOf): _*)).drop("span_bkt")
      else baseOcc
    // localCheckpoint: occTouched feeds THREE consumers (the tail-doc
    // restriction, the group recompute, and the affected-doc set) — each
    // would otherwise re-run the base-occurrence probe (the dedup_resolve
    // lineage-cut pattern; lazy, so construction stays cheap)
    val occTouched = prunedOcc.join(touched, Seq("span_h"), "left_semi")
      .unionByName(deltaOcc).localCheckpoint(false)
    val newIvs = canonGroupIvs(occTouched, docs, l, cap)
    val keptIvs = baseIv.join(touched, Seq("span_h"), "left_anti")
    val allIvs = keptIvs.select("doc_id", "s", "e")
      .unionByName(newIvs.select("doc_id", "s", "e"))
    // affected = any doc holding a touched-group occurrence (its interval
    // set may gain members or grow) plus every delta doc (needs an output
    // row even without spans); everyone else's stored row is final
    val affected = occTouched.select("doc_id")
      .unionByName(docs.filter(isDelta).select("doc_id")).distinct()
    // raw docs are semi-joined BEFORE tokenizing (a semi hash join
    // evaluates its left fully; tokenize-below-join would split() the
    // whole corpus inside the delta path)
    val outAffected = assembleCanonicalOutput(
      tokenized(docs.join(affected, Seq("doc_id"), "left_semi")),
      allIvs.join(affected, Seq("doc_id"), "left_semi"))
    if (deltaOnly) outAffected.orderBy("doc_id")
    else {
      val outKept = baseOut.join(affected, Seq("doc_id"), "left_anti")
      outAffected.unionByName(outKept).orderBy("doc_id")
    }
  }

  /** Production-shaped canonical append OUTPUT — the variable-length twin
    * of [[substringDedupAppendDelta]]: rows for the delta docs plus only
    * the docs holding a delta-touched window-group occurrence (the only
    * docs whose interval set can change — the append path's own
    * exactness argument), instead of re-emitting the whole corpus. On
    * the 40k-doc Zipf fixture a 1% ingest touches 0.2% of the base
    * window groups, 0.2% of base occurrences, and 1.3% of docs — so
    * this variant writes ~1% of the full-output rows. The r13 cost
    * caveat (one un-pruned scan of the fat 3.8M-row occurrence index
    * per ingest) is closed by the slim span-hash-bucketed index — see
    * [[substringDedupCanonicalAppend]]. Oracle: the canonical rebuild
    * restricted in SQL to the same affected set. */
  private[queries] def substringDedupCanonicalAppendDelta(s: SparkSession,
      docs: DataFrame, l: Int, cap: Int,
      storeKey: Option[StoreKey], nBkt: Int = 64): DataFrame =
    substringDedupCanonicalAppend(s, docs, l, cap, storeKey,
      deltaOnly = true, nBkt = nBkt)

  /** Bucket-directory count for the canonical-substring occurrence index,
    * derived from the BASE corpus's on-disk size so partition-dir pruning
    * keeps scaling: a fixed count caps the probe's pruning ratio at that
    * constant regardless of corpus size (r14's hard-coded 64 meant every
    * touched bucket read corpus/64 forever), while a daily ingest's span
    * count does not grow with the corpus — so buckets must. One bucket per
    * ~256 KiB of stored document bytes, rounded up to a power of two,
    * floored at 64 (the 40k-fixture scale, keeping that measurement
    * comparable) and capped at 4096 (directory-count sanity; past that a
    * real deployment re-tiers the layout, not the constant). Derived from
    * file metadata — no Spark job at plan-construction time — and embedded
    * in the artifact name by the caller, so an append agrees with the
    * stored layout by construction. */
  private[graft] def occBucketCount(d: String): Int = {
    // A missing or empty probe target is NOT a small corpus — it is a
    // wrong path or a non-local filesystem (where java.io metadata reads
    // nothing), and silently returning the floor tier would reinstate the
    // fixed-constant layout this derivation exists to fix. Warn loudly;
    // the floor is still returned because every caller embeds the count
    // in the artifact name, so a mis-probed layout stays self-consistent.
    val bytes = VectorOps.probeBytesOrWarn(s"$d/documents.parquet",
      "occBucketCount")
    val want = bytes / 262144L
    var p = 64
    while (p < want && p < 4096) p <<= 1
    p
  }

  /** Suffix-array-style VARIABLE-LENGTH repeat detection — the other half
    * of the Lee et al. toolkit next to [[substringDedup]]'s fixed-w spans:
    * per token position, the length of the longest prefix that occurs
    * anywhere else in the corpus (capped at `cap` tokens).
    *
    * The classical suffix-array property does the heavy lifting: in
    * lexicographic suffix order, a suffix's maximal common prefix with
    * ANY other suffix is achieved by one of its two NEIGHBORS, so one
    * distributed sort of (truncated) suffixes + an LCP against each
    * adjacent pair answers every position at once — no pairwise search.
    * Truncating suffixes to `cap` tokens bounds row width (the exact
    * trade a 100 TB SA build makes: LCPs beyond the cap are reported as
    * cap, and any duplication threshold <= cap is still answered
    * EXACTLY). The sort is Ranking.globalRank's range-exchange sort (no
    * single-task window); neighbors pair by an equi-join on rank; the
    * LCP is per-row HOF arithmetic. Space-joined suffix strings order
    * identically to token-wise lexicographic order (single-space joins,
    * space < every token character — the FIXTURES corpus contract), and
    * binary string collation matches between engines. */
  /** Per-position maximal-repeat profile: (doc_id, pos, lcp_max) where
    * lcp_max is the longest prefix the (cap-truncated) suffix at pos
    * shares with ANY other suffix in the corpus — the suffix-array
    * neighbor-LCP computation, factored out so both the repeat-profile
    * entry and the canonical excision can consume it.
    *
    * PACKED-KEY SORT: the round-10 shape carried a cap-token STRING per
    * suffix through the range exchange and its localCheckpoint. Instead,
    * tokens are coded by their DENSE RANK in the corpus vocabulary (a
    * distributed globalRank over the distinct-token dictionary — no
    * driver-side vocab, so an open-vocabulary 100 TB corpus needs no
    * special case) and each suffix's cap codes pack big-endian into
    * ceil(cap/⌊63/bits⌋) longs. Code order = token string order (dense
    * rank of a binary-sorted dictionary), every key slot holds the same
    * code count for every row, and the top bit is never set — so the
    * fixed-width array<long> ORDER IS the suffix string order exactly
    * (token-wise comparison is the true SA order; it does not even need
    * the space-below-tokens corpus contract the string form leaned on),
    * and the per-position output — hence the entry hash — is unchanged.
    * The neighbor LCP is read straight off the packed codes (first
    * differing slot, then code-by-code within it, clamped to both
    * suffix lengths), so the suffix TEXT never shuffles at all: the
    * exchanged row is (doc_id, pos, len, ~2-7 longs). Two bounded
    * driver scalars (vocab size, for the bit width) are the only
    * non-distributed reads. */
  /** The corpus coded by vocabulary dense rank: (doc_id, codes, lens)
    * where codes(i) is token i's 1-based rank in the binary-sorted
    * distinct-token dictionary and lens(i) its char length, plus the bit
    * width needed to pack a code. The dictionary rank is a distributed
    * globalRank (no driver-side vocab, so an open-vocabulary 100 TB
    * corpus needs no special case); its two bounded driver scalars
    * (vocab size → bit width) are the only non-distributed reads.
    * Shared by the suffix sort and the Gopher gram gates — both replace
    * string keys with injective packed codes. */
  private def codedDocs(docs: DataFrame): (DataFrame, Int) = {
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("i", "t")))
    val dict = Ranking.globalRank(toks.select("t").distinct(),
      Seq(col("t")), partitions = 32, rankCol = "code")
    val vocabSize = dict.count() // bounded: vocabulary cardinality
    var bits = 1
    while ((1L << bits) <= vocabSize) bits += 1
    // the dict side is EXPLICITLY broadcast — it comes out of globalRank
    // as an RDD-backed frame with no stats, and without the hint Catalyst
    // sort-merge-joins the whole token stream against it (measured).
    // Vocabulary-bounded like the stop lists; an open-vocabulary corpus
    // past broadcast size would drop the hint and take the keyed shuffle.
    // The re-agg carries thin (doc_id, i, code, len) rows
    val coded = toks.join(broadcast(dict), "t")
      .groupBy("doc_id")
      .agg(
        expr("transform(array_sort(collect_list(struct(i, code)))," +
          " x -> x.code)").as("codes"),
        expr("transform(array_sort(collect_list(named_struct('i', i," +
          " 'tl', length(t)))), x -> x.tl)").as("lens"))
    (coded, bits)
  }

  private[queries] def saLcpPerPos(docs: DataFrame, cap: Int): DataFrame = {
    val (coded, bits) = codedDocs(docs)
    saLcpPerPosFrom(coded, bits, cap)
  }

  /** [[saLcpPerPos]] over a precomputed [[codedDocs]] frame, so composed
    * consumers (the canonical excision) code the corpus once. */
  private def saLcpPerPosFrom(coded: DataFrame, bits: Int,
      cap: Int): DataFrame = {
    val s = coded.sparkSession
    import s.implicits._
    val perLong = 63 / bits
    val nk = (cap + perLong - 1) / perLong
    val suff = coded.as[(Long, Seq[Long], Seq[Int])]
      .mapPartitions { it =>
        it.flatMap { case (id, codesSeq, _) =>
          val codes = codesSeq.toArray
          val n = codes.length
          (0 until n).iterator.map { p =>
            val keys = new Array[Long](nk)
            var j = 0
            while (j < cap) {
              val c = if (p + j < n) codes(p + j) else 0L // pad < every code
              keys(j / perLong) = (keys(j / perLong) << bits) | c
              j += 1
            }
            (id, p, math.min(cap, n - p), keys.toSeq)
          }
        }
      }.toDF("doc_id", "pos", "len", "pk")
    // ADJACENT-PAIR LCP without a rank join: the neighbor property only
    // needs every CONSECUTIVE pair of the total order, and after the range
    // exchange + in-partition sort those pairs are (a) adjacent rows
    // within each partition — one sliding pass, no join, no zipWithIndex
    // count job — plus (b) the ≤ partitions-1 cross-boundary pairs, whose
    // first/last rows are a bounded driver collect (the within/cross split
    // moves with sampling, their UNION is always exactly the n-1
    // consecutive pairs, so the output cannot depend on boundaries). The
    // localCheckpoint pins the sorted partitions so the boundary pass and
    // the sliding pass share one sort; round 10's shape paid the sort
    // TWICE through zipWithIndex and then shuffled the full payload twice
    // more through the a⋈b rank join.
    val lcpOf = packedLcp(bits, perLong, cap, nk)
    // r17 (guide §5): SERIALIZED storage for the checkpoint blocks. The
    // default deserialized MEMORY_AND_DISK level held every suffix row as
    // a Java tuple of boxed Seq[Long] keys — the 400k-doc rebuild OOM'd
    // once at Xmx40g and sat at the memory edge (r16 sweep); serialized
    // blocks are a fraction of the object-graph footprint and spill to
    // disk as bytes. localCheckpoint keeps a pre-set storage level
    // (transformed to include disk), so the persist below IS the
    // checkpoint's level. Values unaffected — storage level only.
    val sortedRdd = suff
      .repartitionByRange(32, col("pk"), col("doc_id"), col("pos"))
      .sortWithinPartitions(col("pk"), col("doc_id"), col("pos"))
      .as[(Long, Int, Int, Seq[Long])]
      .rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      .localCheckpoint()
    val ends = sortedRdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next()
        var last = first
        while (it.hasNext) last = it.next()
        Iterator((pid, first, last))
      }
    }.collect().sortBy(_._1) // bounded: 2 rows per partition
    val boundary = ends.toSeq.sliding(2).collect {
      case Seq((_, _, lastA), (_, firstB, _)) =>
        val l = lcpOf(lastA._4, firstB._4, lastA._3, firstB._3)
        Seq((lastA._1, lastA._2, l), (firstB._1, firstB._2, l))
    }.flatten.toSeq
    val adjacent = sortedRdd.mapPartitions { it =>
      var prev: (Long, Int, Int, Seq[Long]) = null
      it.flatMap { cur =>
        val out =
          if (prev == null) Iterator.empty
          else {
            val l = lcpOf(prev._4, cur._4, prev._3, cur._3)
            Iterator((prev._1, prev._2, l), (cur._1, cur._2, l))
          }
        prev = cur
        out
      }
    }
    adjacent.toDF("doc_id", "pos", "lcp")
      .unionByName(boundary.toDF("doc_id", "pos", "lcp"))
      .groupBy("doc_id", "pos").agg(max(col("lcp")).as("lcp_max"))
  }

  /** Neighbor LCP straight off the packed suffix keys: first differing
    * slot, then code-by-code within it, clamped to both suffix lengths.
    * Pure function of the packing geometry — shared by the executor-side
    * sliding pass and the driver-side boundary pairs. */
  private def packedLcp(bits: Int, perLong: Int, cap: Int,
      nk: Int): (Seq[Long], Seq[Long], Int, Int) => Int = {
    val mask = (1L << bits) - 1
    (ka: Seq[Long], kb: Seq[Long], la: Int, lb: Int) => {
      var l = 0
      var slot = 0
      var done = false
      while (slot < nk && !done) {
        val cnt = math.min(perLong, cap - slot * perLong)
        val x = ka(slot)
        val y = kb(slot)
        if (x == y) l += cnt
        else {
          var j = 0
          while (j < cnt && !done) {
            val sh = bits * (cnt - 1 - j)
            if (((x >>> sh) & mask) == ((y >>> sh) & mask)) { l += 1; j += 1 }
            else done = true
          }
          done = true
        }
        slot += 1
      }
      math.min(l, math.min(la, lb))
    }
  }

  private[queries] def substringSaLcp(docs: DataFrame, cap: Int,
      dupLen: Int): DataFrame = {
    val base = tokenized(docs)
    val perPos = saLcpPerPos(docs, cap)
    base.select(col("doc_id"), col("n"))
      .join(perPos.groupBy("doc_id")
        .agg(count(when(col("lcp_max") >= dupLen, 1)).as("n_dup_pos"),
          max(col("lcp_max")).as("max_repeat")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_positions"),
        coalesce(col("max_repeat"), lit(0)).cast("long").as("max_repeat_len"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Lee et al. substring dedup: overlapping spans, any offset ----
    "dedup_substring" -> ((s, d) =>
      substringDedup(Tables.documents(s, d), w = 10)),

    // ---- incremental substring dedup: delta spans vs the stored index ----
    "dedup_substring_append" -> ((s, d) =>
      substringDedupAppend(s, Tables.documents(s, d), w = 10,
        storeKey = Some(VectorOps.docsKey(d, ":w10")))),

    // ---- the append's production OUTPUT shape: delta + changed docs only --
    // (same base store as dedup_substring_append — the entries share the
    // span index and base-dup artifacts; only the output clause differs)
    "dedup_substring_append_delta" -> ((s, d) =>
      substringDedupAppendDelta(s, Tables.documents(s, d), w = 10,
        storeKey = Some(VectorOps.docsKey(d, ":w10")))),

    // ---- canonical variable-length excision: the Lee et al. end product ----
    "dedup_substring_canonical" -> ((s, d) =>
      substringDedupCanonical(Tables.documents(s, d), l = 10, cap = 20)),

    // ---- incremental canonical: delta groups only, rest from the store ----
    "dedup_substring_canonical_append" -> ((s, d) =>
      substringDedupCanonicalAppend(s, Tables.documents(s, d), l = 10,
        cap = 20, storeKey = Some(VectorOps.docsKey(d, ":l10c20")),
        nBkt = occBucketCount(d))),

    // ---- the canonical append's production OUTPUT: affected docs only ----
    "dedup_substring_canonical_append_delta" -> ((s, d) =>
      substringDedupCanonicalAppendDelta(s, Tables.documents(s, d), l = 10,
        cap = 20, storeKey = Some(VectorOps.docsKey(d, ":l10c20")),
        nBkt = occBucketCount(d))),

    // ---- suffix-sort + LCP: variable-length repeat profile ----
    "dedup_substring_sa" -> ((s, d) =>
      substringSaLcp(Tables.documents(s, d), cap = 20, dupLen = 10)),

    // ---- exact dedup: hash-groupBy on content digest ----
    "dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keep_id"))
        .orderBy("text_md5")),

    // ---- token-set fingerprint dedup: catches word-reordered copies ----
    "dedup_tokenset" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(concat_ws(" ",
          array_sort(array_distinct(split(col("text"), " "))))).as("fp"))
        .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keep_id"))
        .orderBy("fp")),

    // ---- blocked token-set jaccard similarity join (same length-bucket
    //      only; n-gram/shingle jaccard is the minhash query's verify step;
    //      guarded against hot buckets — see blockedJaccard) ----
    "dedup_blocked_jaccard" -> ((s, d) =>
      // widened input: the token-set + bucketing pass ran single-task over
      // the one-row-group testdata scan (see Tables.widened)
      blockedJaccard(s, Tables.widened(s, Tables.documents(s, d)),
          maxBucketDocs = 4096L)
        .orderBy("id_a", "id_b")),

    // ---- C4-style global line-level dedup ----
    // Documents are split into consecutive 10-token spans ("lines" — the
    // synthetic corpus has no newlines, so fixed spans stand in for C4's
    // newline-delimited lines); each distinct span survives only at its
    // globally-first occurrence (ordered by doc_id, then position), and
    // every document is reassembled from its surviving spans. This is the
    // dedup C4/RefinedWeb run BELOW document granularity — boilerplate
    // repeated across pages is removed even when the documents differ.
    // Scale shape: one generator pass per doc, then ONE shuffle keyed on
    // the span text (rows are <=10 tokens each, so the exchange is
    // O(corpus), same as any global dedup), a row_number window per span,
    // and a doc_id re-agg to reassemble. At 100 TB the window key would be
    // md5(line) to fix row width; kept text is emitted as md5 here so the
    // compare stays row-sized either way.
    "dedup_lines" -> ((s, d) => {
      val lines = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .withColumn("n", size(col("tk")))
        .filter(col("n") >= 1) // sequence(0, -1) would step backward
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, (n - 1) div 10)," +
            " i -> array_join(slice(tk, i * 10 + 1, 10), ' '))"))
          .as(Seq("line_id", "line")))
      val firstSeen = Window.partitionBy("line").orderBy("doc_id", "line_id")
      lines.withColumn("rn", row_number().over(firstSeen))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_lines"),
          count(when(col("rn") === 1, 1)).as("n_kept"),
          md5(array_join(transform(array_sort(collect_list(
            when(col("rn") === 1, struct(col("line_id"), col("line"))))),
            x => x.getField("line")), " ")).as("kept_md5"))
        .orderBy("doc_id")
    }),

    // ---- quality scoring: length / stopword / alpha ratios ----
    // (r17: widening measured a regression at this corpus size — the
    // per-row scoring is too cheap to amortize the added exchange; left
    // fused into the scan)
    "text_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"),
          size(array_distinct(col("w"))).cast("long").as("n_types"),
          (aggregate(transform(col("w"), t => length(t)), lit(0), (acc, x) => acc + x)
            .cast("double") / size(col("w"))).as("avg_token_len"),
          (size(expr(s"filter(w, x -> x IN $stopList)")).cast("double") /
            size(col("w"))).as("stop_ratio"),
          (length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double") /
            length(col("text"))).as("alpha_ratio"))
        .orderBy("doc_id")),

    // ---- token counting: whitespace + BPE-ish regex segmentation ----
    "text_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          expr("regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')").cast("long").as("re_tokens"))
        .orderBy("doc_id")),

    // ---- BPE training: the actual merge LOOP, 5 rounds ----
    // text_bpe_pairs is iteration 0; this entry runs the real trainer:
    // per round, count adjacent symbol pairs weighted by word frequency,
    // fuse the argmax pair in every word, repeat. Output = the learned
    // merge table (round, lhs, rhs, count) — the artifact a tokenizer
    // ships. See bpeTrainMerges for the scale shape and the greedy-merge
    // equivalence argument the oracle relies on.
    "text_bpe_train" -> ((s, d) => bpeTrainMerges(s, d, rounds = 5)),

    // ---- BPE tokenize with the TRAINED merges: the apply half ----
    // Per-distinct-word post-merge symbol counts broadcast onto one
    // exploded corpus pass; oracle replays training then joins the
    // post-merge word table. See bpeTokenizeTrained.
    "text_bpe_tokenize5" -> ((s, d) => bpeTokenizeTrained(s, d, rounds = 5)),

    // ---- quality-classifier TRAINING: full-batch logistic regression ----
    // Distills the rule-based C4 keep/drop verdict into a trainable
    // classifier over text-statistic features; 12 GD passes, bit-exact
    // SQL oracle (rational sigmoid + quantized-integer gradient sums).
    // See lrTrain for the determinism argument.
    "quality_lr_train" -> ((s, d) => lrTrain(s, d, iters = 12, lr = 8.0)),

    // ---- quality-classifier INFERENCE with the trained weights ----
    // The apply half: per-document margin + model verdict vs the rule
    // verdict it distilled. One per-row pass; the model is five doubles.
    "quality_lr_score" -> ((s, d) => lrScore(s, d, iters = 12, lr = 8.0)),

    // ---- calibration report for the distilled quality model ----
    // The eval a model-based filter ships with: integer margin bins over
    // the scored corpus, per-bin population, rule-positive rate (is a
    // high margin actually high quality by the rule it distilled?) and
    // mean margin. Bins cut the ROUNDED score (engine-identical) with
    // integer floor/clamp; the per-bin mean rides dq_drift's quantized
    // order-free integer sum, so every emitted number is exact on both
    // engines. One per-row pass over the scored frame + one tiny agg.
    "quality_lr_calibration" -> ((s, d) => {
      val sc = lrScore(s, d, iters = 12, lr = 8.0)
      sc.withColumn("bin",
          least(greatest(floor(col("score")), lit(-4L)), lit(4L)))
        .withColumn("q", floor(col("score") * lit(1048576.0)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          count(when(col("keep_rule"), 1)).as("n_rule_pos"),
          sum("q").as("qsum"))
        .select(col("bin"), col("n"), col("n_rule_pos"),
          round(col("n_rule_pos").cast("double") / col("n"), 6)
            .as("frac_rule_pos"),
          round((col("qsum").cast("double") / col("n")) / lit(1048576.0), 6)
            .as("mean_score"))
        .orderBy("bin")
    }),

    // ---- BPE training, merge iteration 0: corpus pair counts ----
    // The distributed half of tokenizer training: count adjacent character
    // pairs across every word in the corpus and surface the top merge
    // candidates (the pair a BPE trainer would fuse first). One generator
    // pass per document, a partial-agg'd groupBy on the pair (at most a few
    // thousand distinct pairs, so the final exchange is tiny no matter the
    // corpus size), deterministic (cnt DESC, pair ASC) top-50.
    "text_bpe_pairs" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(50)),

    // ---- repetition scoring: duplicate word-3-gram fraction ----
    // The standard boilerplate/spam signal (high for templated or looping
    // text): 1 - distinct/total over the document's word 3-grams. Pure
    // per-row expression work, codegen'd, no shuffle.
    "text_repetition" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("g", repetitionGrams)
        .withColumn("n_grams", size(col("g")).cast("long"))
        .withColumn("n_distinct", size(array_distinct(col("g"))).cast("long"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6)
            .as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // ---- Gopher repetition gates: the published filter battery ----
    // Rae et al. 2021 (Gopher / MassiveText, table A1): a document is
    // removed when too much of it sits in repeated n-grams — top-{2,3,4}-
    // gram character fraction over {0.20, 0.18, 0.16}, duplicate-{5,6}-
    // gram character fraction over {0.15, 0.14}. Scores here are the
    // occurrence-weighted char fractions (count x gram chars / n_chars;
    // overlaps counted per occurrence — simpler than the paper's
    // overlap-deduped char sets, documented as such, and monotone in the
    // same repetition signal). ONE gram explode covers all five n's
    // (grams tagged by n), one (doc, n, gram) count agg, one conditional
    // pivot back to a row per doc; the keep flag is INTEGER arithmetic
    // (chars * k <= n_chars * j) so no FP boundary can drift between
    // engines. Docs shorter than n simply contribute no n-grams (score
    // 0 — nothing to repeat).
    "text_gopher_gates" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val docs = Tables.documents(s, d)
      // grams as PACKED CODES, not strings: the n-gram at (doc, p) keys on
      // its n dictionary codes packed into longs — injective (bit width
      // covers the vocabulary), so counts equal string grouping exactly
      // while neither building nor shuffling a single gram string (the
      // string form measured 4.0 s at sf0.1, all of it in array_join
      // construction; this shape runs integer shifts). Gram char length
      // rides along (sum of token lens + n-1 separators), constant per
      // key by injectivity.
      val (coded, bits) = codedDocs(docs)
      val perLong = 63 / bits
      val nkMax = (6 + perLong - 1) / perLong
      val grams = coded.as[(Long, Seq[Long], Seq[Int])]
        .mapPartitions { it =>
          it.flatMap { case (id, codesSeq, lensSeq) =>
            val codes = codesSeq.toArray
            val lens = lensSeq.toArray
            val m = codes.length
            (2 to 6).iterator.filter(m >= _).flatMap { n =>
              (0 to m - n).iterator.map { p =>
                val key = new Array[Long](nkMax)
                var j = 0
                var gl = n - 1
                while (j < n) {
                  key(j / perLong) = (key(j / perLong) << bits) | codes(p + j)
                  gl += lens(p + j)
                  j += 1
                }
                (id, n, key.toSeq, gl)
              }
            }
          }
        }.toDF("doc_id", "n", "key", "gl")
      val counts = grams.groupBy("doc_id", "n", "key")
        .agg(count(lit(1)).as("c"), max(col("gl")).as("gl"))
      val perN = counts.groupBy("doc_id", "n")
        .agg(max(col("c") * col("gl")).as("top_chars"),
          sum(when(col("c") >= 2, col("c") * col("gl"))
            .otherwise(0L)).as("dup_chars"))
      val wide = perN.groupBy("doc_id")
        .agg(
          max(when(col("n") === 2, col("top_chars"))).as("t2"),
          max(when(col("n") === 3, col("top_chars"))).as("t3"),
          max(when(col("n") === 4, col("top_chars"))).as("t4"),
          max(when(col("n") === 5, col("dup_chars"))).as("d5"),
          max(when(col("n") === 6, col("dup_chars"))).as("d6"))
      docs.select(col("doc_id"), col("n_chars"))
        .join(wide, Seq("doc_id"), "left")
        .na.fill(0L, Seq("t2", "t3", "t4", "d5", "d6"))
        .select(col("doc_id"),
          round(col("t2").cast("double") / col("n_chars"), 6).as("top2_frac"),
          round(col("t3").cast("double") / col("n_chars"), 6).as("top3_frac"),
          round(col("t4").cast("double") / col("n_chars"), 6).as("top4_frac"),
          round(col("d5").cast("double") / col("n_chars"), 6).as("dup5_frac"),
          round(col("d6").cast("double") / col("n_chars"), 6).as("dup6_frac"),
          (col("t2") * 5 <= col("n_chars") &&
            col("t3") * 50 <= col("n_chars") * 9 &&
            col("t4") * 25 <= col("n_chars") * 4 &&
            col("d5") * 20 <= col("n_chars") * 3 &&
            col("d6") * 50 <= col("n_chars") * 7).as("gopher_keep"))
        .orderBy("doc_id")
    }),

    // ---- document fingerprinting: content digest + min rolling 8-gram hash ----
    // One O(n) Rabin-Karp pass per document (native codegen expression,
    // graft.functions.MinRollingHash) instead of one md5 per character;
    // the oracle mirrors the same polynomial as a nested SQL expression.
    "text_fingerprint" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(col("text")).as("content_md5"),
          expr("min_rolling_hash(text)").as("min_shingle_hash"))
        .orderBy("doc_id")
    }),

    // ---- PII scrubbing: regex redaction of emails / phones / IPv4 ----
    // The standard pre-training redaction pass: per-row regexp_replace
    // chain (whole-stage codegen, no shuffle). Patterns stay inside the
    // Java-regex ∩ RE2 common dialect so the DuckDB oracle applies the
    // LITERAL same expressions; counts let curation filter on PII density.
    // r17: widened (guide §2.5) — the six-regex scrub pass is the cost
    "text_pii_scrub" -> ((s, d) =>
      piiScrub(Tables.widened(s, Tables.documents(s, d))).orderBy("doc_id")),

    // ---- sessionization: 30-min-gap sessions per user (events table) ----
    "events_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = lit(30L * 60 * 1000000)
      Tables.events(s, d)
        .withColumn("prev_us", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            col("ts") - col("prev_us") > gapUs, 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"),
          sum(col("new_session")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long").as("session_id"))
        .orderBy("event_id")
    }),

    // ---- as-of join: each click joined to the most recent preceding
    //      purchase of the same user ----
    // The canonical time-series join, composed Spark-first instead of via a
    // custom physical operator: tag purchase rows, one window pass ordered
    // by event time with last(_, ignoreNulls) carrying the latest purchase
    // forward, then keep the click rows. ONE shuffle on the high-cardinality
    // user_id and O(1) running state per row — the same cost profile a
    // dedicated as-of merge join would have. Oracle: DuckDB's native
    // ASOF LEFT JOIN (semantics coincide; (user_id, ts) is collision-free
    // in this data and the window orders (ts, event_id) deterministically).
    "events_asof" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("p_id", when(col("event_type") === "purchase", col("event_id")))
        .withColumn("p_val", when(col("event_type") === "purchase", col("value")))
        .withColumn("asof_event_id", last(col("p_id"), ignoreNulls = true).over(w))
        .withColumn("asof_value", last(col("p_val"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          col("asof_event_id"), col("asof_value"))
        .orderBy("event_id")
    }),

    // ---- attribution: first/last-touch click per purchase (7-day lookback) ----
    // The marketing-attribution shape: every purchase credits the user's
    // FIRST click (first-touch) and LAST click (last-touch) within the
    // preceding 7 days, via min/max over a RANGE frame keyed on the
    // microsecond timestamp — one shuffle on the high-cardinality user_id,
    // O(1) running state, no self-join and no per-user explode.
    "events_attribution" -> ((s, d) => {
      val dayUs = 86400000000L
      val w = Window.partitionBy("user_id").orderBy("ts")
        .rangeBetween(-7L * dayUs, 0L)
      Tables.events(s, d)
        .withColumn("c_ts", when(col("event_type") === "click", col("ts")))
        .withColumn("first_click_ts", min(col("c_ts")).over(w))
        .withColumn("last_click_ts", max(col("c_ts")).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("first_click_ts"), col("last_click_ts"))
        .orderBy("event_id")
    }),

    // ---- multi-touch time-decay attribution (7-day lookback, τ = 2 d) ----
    // The fractional-credit companion to first/last-touch: every click in
    // the purchase's 7-day lookback earns weight e^((c_ts−p_ts)/τ) and the
    // purchase's value splits proportionally. Pair generation is a user_id
    // EQUI-join band-filtered on the time gap (per-user pairs only — the
    // same bounded shape as the as-of/funnel oracles, never an unkeyed
    // range join), and normalization is one whole-partition window sum on
    // the high-cardinality purchase_id. Exponent spans [-3.5, 0] — no
    // overflow; round(6) absorbs cross-engine exp/summation ulps.
    "events_attribution_decay" -> ((s, d) => {
      val dayUs = 86400000000L
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"), col("value"))
      val wNorm = Window.partitionBy("purchase_id")
      buys.join(clicks, Seq("user_id"))
        .filter(col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - lit(7L * dayUs))
        .withColumn("wt",
          exp((col("c_ts") - col("p_ts")).cast("double") / lit(172800000000.0)))
        .withColumn("credit",
          round(col("value") * col("wt") / sum(col("wt")).over(wNorm), 6))
        .select(col("purchase_id"), col("click_id"), col("user_id"),
          round(col("wt"), 6).as("wt"), col("credit"))
        .orderBy("purchase_id", "click_id")
    }),

    // ---- funnel analysis: click -> purchase conversion within 1 h ----
    // The event-sequence companion to events_asof, looking FORWARD: each
    // click is matched to the user's earliest at-or-after purchase via a
    // (currentRow, unboundedFollowing) min frame — one shuffle on the
    // high-cardinality user_id, O(1) running state per row, no self-join
    // and no per-user explode. Output is the per-user funnel summary.
    "events_funnel" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val hourUs = lit(3600L * 1000000)
      Tables.events(s, d)
        .withColumn("p_ts", when(col("event_type") === "purchase", col("ts")))
        .withColumn("next_p_ts", min(col("p_ts")).over(w))
        .filter(col("event_type") === "click")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(col("next_p_ts").isNotNull &&
            col("next_p_ts") - col("ts") <= hourUs, 1L).otherwise(0L))
            .as("n_converted"))
        .orderBy("user_id")
    }),

    // ---- rolling 7-day active users (WAU) ----
    // Exact rolling DISTINCT cannot ride a window frame (distinct doesn't
    // decompose); the scale shape is contribution-explode: each distinct
    // (user, day) appears in the 7 trailing windows it's active for, then
    // one count-distinct per window day. Shuffle is 7x the DISTINCT
    // (user, day) pairs — activity-bounded, not event-bounded; the
    // sketch alternative (x7's HLL union) trades exactness for a 1x
    // shuffle of mergeable sketches.
    "events_wau" -> ((s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), expr("ts div 86400000000").as("day"))
        .distinct()
      ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("w_day"))
        .groupBy("w_day")
        .agg(countDistinct(col("user_id")).as("wau"))
        .orderBy("w_day")
    }),

    // ---- built-in session_window aggregation (batch) ----
    // Spark's native gap-session operator, pinned against the same
    // gaps-and-islands SQL the custom sessionizers are checked with.
    // Boundary semantics: an event exactly `gap` after its predecessor
    // starts a NEW session (session windows are [ts, ts+gap) and merge
    // only on overlap), so the oracle's island break is `diff >= gap`,
    // unlike events_sessionize's legacy `>` convention.
    "events_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("tts", timestamp_micros(col("ts")))
        .groupBy(col("user_id"), session_window(col("tts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("start_us"), max(col("ts")).as("end_us"))
        .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
        .orderBy("user_id", "start_us")),

    // ---- three-step ordered funnel (view -> click -> purchase) ----
    // Stage k's anchor is the earliest stage-(k-1)-consistent event, so the
    // path must be ORDERED, not just present: three chained min-over-user
    // windows on one user_id exchange (Catalyst reuses the partitioning),
    // then a single global summary row. No self-joins, no per-user explode.
    "events_funnel3" -> ((s, d) => {
      val wu = Window.partitionBy("user_id")
      Tables.events(s, d)
        .withColumn("v1",
          min(when(col("event_type") === "view", col("ts"))).over(wu))
        .withColumn("c1",
          min(when(col("event_type") === "click" && col("ts") >= col("v1"),
            col("ts"))).over(wu))
        .withColumn("p1",
          min(when(col("event_type") === "purchase" && col("ts") >= col("c1"),
            col("ts"))).over(wu))
        .agg(
          countDistinct(when(col("v1").isNotNull, col("user_id"))).as("n_viewed"),
          countDistinct(when(col("c1").isNotNull, col("user_id"))).as("n_clicked"),
          countDistinct(when(col("p1").isNotNull, col("user_id"))).as("n_purchased"))
    }),

    // ---- streaming drain: file-stream windowed counts, driver-checked ----
    // Runs the Structured Streaming module's watermarked tumbling-window
    // aggregation over a REAL file stream of events.parquet (AvailableNow
    // drain into a memory sink — eager by design, see
    // EventStreams.drainWindowedCounts) and returns the final table; the
    // oracle is the equivalent batch GROUP BY. Incremental == batch is the
    // exactly-once claim, made hash-checkable.
    "stream_windowed_counts" -> ((s, d) =>
      graft.streaming.EventStreams.drainWindowedCounts(s, d)),

    // ---- streaming drain: stateful sessionization, driver-checked ----
    // The flatMapGroupsWithState sessionizer (event-time timeouts, append
    // mode) drained over a real file stream with watermark-advancing
    // sentinel batches — see EventStreams.drainSessions. Incremental
    // stateful output must hash-match the batch gaps-and-islands oracle.
    "stream_sessionize" -> ((s, d) =>
      graft.streaming.EventStreams.drainSessions(s, d)),

    // ---- streaming drain: ingest dedup, driver-checked ----
    // dropDuplicatesWithinWatermark over a file stream that replays the
    // whole events file twice; the deduped aggregate must equal one copy
    // (the batch oracle). See EventStreams.drainDedup for the horizon
    // reasoning.
    "stream_dedup" -> ((s, d) =>
      graft.streaming.EventStreams.drainDedup(s, d)),

    // ---- streaming drain: ONLINE sequence packing, driver-checked ----
    // The per-language running-token fold as ONE long of keyed state —
    // online, the batch op's one-reducer-per-language hazard dissolves.
    // Must hash-match the batch pack_sequences oracle exactly.
    "stream_pack_sequences" -> ((s, d) =>
      graft.streaming.EventStreams.drainPackSequences(s, d, budget = 2048L)),

    // ---- streaming drain: MinHash near-dup candidates, driver-checked ----
    // Banded signatures per arriving doc + a stateful (band, sig)-bucket
    // membership drain emit candidate pairs online; batch-side exact
    // verification must reproduce the all-pairs jaccard oracle. The
    // streaming half of dedup_minhash_append. See drainMinhashDedup.
    "stream_minhash_dedup" -> ((s, d) =>
      graft.streaming.EventStreams.drainMinhashDedup(s, d)),

    // ---- streaming drain: minhash dedup with event-time TTL state ----
    // The PRODUCTION variant of stream_minhash_dedup: (band, sig) buckets
    // age out once the watermark passes their last activity + 2 days, so
    // state is bounded by the ACTIVE horizon, not the corpus (the bound
    // itself is proven in StreamStateTtlSpec). Correctness row: under the
    // two-era staging schedule the drained pair set equals the all-pairs
    // jaccard oracle RESTRICTED TO SAME-ERA PAIRS — the TTL trade as a
    // hash check. See EventStreams.drainMinhashDedupTtl.
    "stream_minhash_dedup_ttl" -> ((s, d) =>
      graft.streaming.EventStreams.drainMinhashDedupTtl(s, d)),

    // ---- ONLINE BM25 serving against the durable term-weight index ----
    // The lexical twin of stream_ann_topk (16th drain): query-term rows
    // answered per micro-batch from the STORED (doc_id, w, wbm) index —
    // read, never rebuilt (same artifact key as sim_bm25_topk) — via a
    // posting-list probe + a per-query slot fold replicating the batch
    // score bit-for-bit. serve == batch, the same oracle. Both retrieval
    // sides of the hybrid stack now have a proven serving path.
    "stream_bm25_topk" -> ((s, d) =>
      graft.streaming.EventStreams.drainBm25TopK(s, d, topN = 3)),

    // ---- ONLINE hybrid retrieval: the full fused query path (18th) ----
    // The serving capstone: one query stream carrying both
    // representations, answered from BOTH durable indexes (IVF inverted
    // file + BM25 weight table) and fused per query with the exact batch
    // RRF arithmetic — must hash-match sim_rrf_ann_topk's own oracle
    // (the trained-IVF + BM25 fused CTE chain). See
    // EventStreams.drainRrfTopK for the uneven-query-set handling.
    "stream_rrf_topk" -> ((s, d) =>
      graft.streaming.EventStreams.drainRrfTopK(s, d, k = 16, nProbe = 4)),

    // ---- streaming drain: first-occurrence dedup with event-time TTL ----
    // The PRODUCTION variant of the digest-keyed exact dedup: a digest
    // unseen for 2 days of event time is forgotten and its next arrival
    // is KEPT again (re-crawl policy). Under the same two-era schedule,
    // "kept" = first occurrence within (digest, era) — one row_number in
    // the oracle. See EventStreams.drainDedupTtl.
    "stream_dedup_ttl" -> ((s, d) =>
      graft.streaming.EventStreams.drainDedupTtl(s, d)),

    // ---- streaming drain: stream-stream interval join, driver-checked ----
    // Watermarked click→purchase attribution join across two file streams;
    // every qualifying pair must match the batch self-join oracle.
    "stream_interval_join" -> ((s, d) =>
      graft.streaming.EventStreams.drainIntervalJoin(s, d)),

    // ---- streaming drain: LEFT-OUTER interval join, driver-checked ----
    // The outer variant exercises state EVICTION: an unmatched click is
    // held until no purchase can still match, then emitted null-extended —
    // watermark-advancing sentinel batches flush every held row before the
    // stream ends. Must hash-match the batch LEFT JOIN oracle.
    "stream_interval_join_outer" -> ((s, d) =>
      graft.streaming.EventStreams.drainIntervalJoinOuter(s, d)),

    // ---- streaming drain: stream-static enrichment join, driver-checked --
    // Stateless per-micro-batch broadcast join against the static customer
    // dimension; the drained aggregate must equal the batch join oracle.
    "stream_static_join" -> ((s, d) =>
      graft.streaming.EventStreams.drainStreamStaticJoin(s, d)),

    // ---- streaming drain: state recovery across a QUERY RESTART ----
    // Two separately-started queries share one checkpoint: the first
    // drains the early half and stops; the second recovers the agg state
    // + source progress from the checkpoint and absorbs the late half.
    // Final table == batch aggregate: exactly-once recovery.
    // See EventStreams.drainCheckpointRecovery.
    "stream_checkpoint_recovery" -> ((s, d) =>
      graft.streaming.EventStreams.drainCheckpointRecovery(s, d)),

    // ---- streaming drain: CDC latest-state materialized view ----
    // Complete-mode max_by aggregation per user: the "current state of
    // the world" table a CDC pipeline maintains. Split at the event-time
    // midpoint so batch 2 must overwrite batch 1's winners. Oracle: the
    // batch argmax. See EventStreams.drainLatestState.
    "stream_latest_state" -> ((s, d) =>
      graft.streaming.EventStreams.drainLatestState(s, d)),

    // ---- streaming drain: stateful per-key EWMA, driver-checked ----
    // The sequential recurrence as an O(1)-state incremental operator
    // (flatMapGroupsWithState), drained over a file stream split at the
    // event-time midpoint so the state must carry across micro-batches.
    // Must hash-match the SAME oracle as the batch ts_ewma kernel —
    // incremental == batch, bit-for-bit. See EventStreams.drainEwma.
    "stream_ewma" -> ((s, d) =>
      graft.streaming.EventStreams.drainEwma(s, d)),

    // ---- streaming drain: EWMA over a DISORDERED source ----
    // Same recurrence, but with a watermark-delayed per-key reorder buffer
    // in front of the fold, drained over a staging that deliberately
    // withholds a day of odd-id rows into the SECOND micro-batch. Closes
    // ewmaStream's ordered-source caveat: incremental == batch on
    // out-of-order input (bounded by the watermark delay), proven by
    // hash-matching the SAME batch ts_ewma oracle.
    // See EventStreams.drainEwmaReordered.
    "stream_ewma_reorder" -> ((s, d) =>
      graft.streaming.EventStreams.drainEwmaReordered(s, d)),

    // ---- cohort retention: users active k days after first seen ----
    // The product-analytics staple. first_seen is a per-user min (hash agg
    // on the high-cardinality key), joined back on user_id (the same
    // shuffle partitioning AQE reuses), then distinct users per
    // (cohort_day, day_offset) — all hash aggregations, no window, no
    // self-join. day = ts div 86400e6 (epoch days; data is all post-1970).
    "events_retention" -> ((s, d) => {
      val dayUs = 86400L * 1000000
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr(s"ts div $dayUs").as("day")) // integer div

      val firstSeen = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(firstSeen, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // ---- language ID: per-language stopword-hit scoring ----
    // Deterministic n-gram-free heuristic: count hits against small
    // distinctive function-word lists, argmax with a fixed tie-break order,
    // 'und' (undetermined) when nothing matches. Real corpora would swap in
    // char-n-gram profiles; the operator shape (per-row scoring over a
    // tokenized column, fully codegen'd) is the deliverable.
    "text_langid" -> ((s, d) => {
      def score(words: Seq[String]) =
        size(expr(s"filter(split(text, ' '), x -> x IN ${inList(words)})"))
      val sDe = score(LangStops("de"))
      val sEn = score(LangStops("en"))
      val sEs = score(LangStops("es"))
      val sFr = score(LangStops("fr"))
      val g = greatest(sDe, sEn, sEs, sFr)
      // r17: widened (guide §2.5) — four stop-list filters per row
      Tables.widened(s, Tables.documents(s, d))
        .select(col("doc_id"), col("lang").as("meta_lang"),
          when(g === 0, "und")
            .when(sDe === g, "de").when(sEn === g, "en")
            .when(sEs === g, "es").otherwise("fr").as("lang_id"),
          g.cast("long").as("hits"))
        .orderBy("doc_id")
    }),

    // ---- deterministic hash sampling: reproducible corpus subsets ----
    // Content-hash bucketing (md5 leading byte) instead of RNG sampling:
    // the same document always lands in the same split, independent of
    // partitioning, cluster size, or run order — the property training-data
    // pipelines need for stable held-out sets.
    "sample_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(substring(md5(col("text")), 1, 2) < "1a") // hex-lex == numeric
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    // ---- stratified top-n: per-language quota selection ----
    "strat_topn" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("rk").cast("long").as("rk"))
        .orderBy("lang", "rk")
    }),

    // ---- domain-mixture temperature sampling: the Pile/ROOTS recipe ----
    // Per-source sampling rates from temperature-flattened mixture weights
    // w_s ∝ n_s^0.7 (T<1 upweights small domains relative to proportional
    // sampling), targeting half the corpus: rate_s = min(1, 0.5·N·w_s/n_s).
    // Selection is a DETERMINISTIC per-doc uniform draw — the multiplicative
    // hash ((doc_id % 2^24)·2654435761) % 2^24 is a bijection on the low 24
    // bits (odd multiplier), so sequential ids spread exactly uniformly and
    // the same doc is always kept or dropped regardless of partitioning,
    // cluster size, or run order. All integer arithmetic is exact on both
    // engines; the only doubles are the per-source rates (few, ulp-safe).
    // Scale shape: one tiny per-source agg → one-row weight total broadcast
    // → broadcast rate join onto the corpus scan. One pass over the data.
    "sample_mixture" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("source")
        .agg(count(lit(1)).cast("double").as("n_s"))
      val totals = counts.agg(
        sum(pow(col("n_s"), 0.7)).as("w_sum"), sum(col("n_s")).as("n_tot"))
      val rates = counts.crossJoin(broadcast(totals))
        .withColumn("rate", least(lit(1.0),
          lit(0.5) * col("n_tot") * pow(col("n_s"), 0.7) / col("w_sum") / col("n_s")))
        .select("source", "rate")
      val u = (col("doc_id") % 16777216L) * 2654435761L % 16777216L /
        lit(16777216.0)
      docs.join(broadcast(rates), "source")
        .filter(u < col("rate"))
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- the mixture TABLE itself: what each source contributes ----
    // Every training run documents its mixture (The Pile's table 1, ROOTS'
    // appendix): per source, the raw population, the temperature-flattened
    // keep rate, and what the deterministic draw actually yields in docs
    // AND tokens. Same rates and same draw as sample_mixture (so the two
    // entries can never disagree); one per-source agg + one corpus pass.
    "mixture_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      val counts = docs.groupBy("source")
        .agg(count(lit(1)).cast("double").as("n_s"))
      val totals = counts.agg(
        sum(pow(col("n_s"), 0.7)).as("w_sum"), sum(col("n_s")).as("n_tot"))
      val rates = counts.crossJoin(broadcast(totals))
        .withColumn("rate", least(lit(1.0),
          lit(0.5) * col("n_tot") * pow(col("n_s"), 0.7) / col("w_sum") / col("n_s")))
        .select("source", "rate")
      val u = (col("doc_id") % 16777216L) * 2654435761L % 16777216L /
        lit(16777216.0)
      docs.join(broadcast(rates), "source")
        .withColumn("kept", u < col("rate"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          count(when(col("kept"), 1)).as("n_kept"),
          sum(when(col("kept"), col("n_tok")).otherwise(lit(0L)))
            .as("kept_tokens"),
          round(max(col("rate")), 6).as("rate"))
        .orderBy("source")
    }),

    // ---- deterministic global training-order shuffle ----
    // Training pipelines need the corpus in a reproducible pseudo-random
    // order (same epoch order on every rerun, resumable mid-epoch). The
    // shuffle key is the same bijective multiplicative hash as
    // sample_mixture — exact integer arithmetic, identical on both engines —
    // and the global position comes from Ranking.globalRank (range exchange
    // + per-partition offsets), NOT a single-partition row_number window:
    // at 100 TB the assignment is a distributed sort, never one reducer.
    "corpus_shuffle" -> ((s, d) => {
      val h = (col("doc_id") % 16777216L) * 2654435761L % 16777216L
      Ranking.globalRank(
          Tables.documents(s, d).select(col("doc_id"), h.as("h")),
          Seq(col("h"), col("doc_id")), partitions = 32, rankCol = "pos")
        .select("doc_id", "pos")
        .orderBy("doc_id")
    }),

    // ---- sequence packing: greedy context-window assignment ----
    // Documents stream in doc_id order; a running token total assigns each
    // to a training context ("bin") of budget 2048 tokens. Distributed
    // two-phase prefix sum (see packSequences) — identical semantics to a
    // single per-lang running sum, without its one-reducer-per-language skew.
    "pack_sequences" -> ((s, d) =>
      packSequences(Tables.documents(s, d), budget = 2048L, shardSize = 1024L)
        .orderBy("doc_id")),

    // ---- sequence packing budgeted on the BPE subword tokenizer ----
    // Same sharded prefix-sum shape, but bins on what a training pipeline
    // actually bins by: learned-subword token counts (bpe_token_count),
    // not whitespace words.
    "pack_sequences_bpe" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      packSequences(Tables.documents(s, d), budget = 2048L, shardSize = 1024L,
        tokenCounter = expr("bpe_token_count(text)"))
        .orderBy("doc_id")
    }),

    // ---- subword token counting: BPE-trained vocab, longest-match ----
    // The vocabulary is trained (classic BPE) at class-init from an
    // embedded seed corpus; segmentation is greedy longest-match, which is
    // exactly expressible in the DuckDB oracle as regexp_extract_all over
    // the vocab ordered longest-first — a real hash-checked oracle for a
    // learned tokenizer. See graft.functions.BpeVocab.
    "text_bpe_count" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("bpe_token_count(text)").as("bpe_tokens"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"))
        .orderBy("doc_id")
    }),

    // ---- corpus-level boilerplate detection: shared word-8-gram scrub ----
    // The C4/RefinedWeb cleaning shape adapted to single-line documents:
    // an 8-gram appearing in >= 2 DISTINCT docs marks duplicated/templated
    // content; each doc reports how much of it is such boilerplate. Scale
    // shape: grams leave the scan as 64-bit hashes (thin shuffle rows),
    // the boilerplate set is a hash groupBy with partial aggregation, and
    // the tag-back is an equi-join on the hash — nothing all-pairs, no
    // driver-side state. (Grams are hashed only as join keys; the output
    // carries counts, so xxhash64 collisions are the usual ~2^-64 caveat.)
    // r17: widening this input was measured and REVERTED (0.86 -> 1.30 s
    // isolated): the (gh, doc_id) partial agg loses map-side combining
    // when the doc rows are spread, and the extra exchange ships the text
    "text_boilerplate" -> ((s, d) => boilerplate(Tables.documents(s, d))),

    // ---- TF-IDF: per-doc top-5 distinctive terms ----
    // The inverted-index statistic behind retrieval and keyword curation.
    // idf uses the division form (n_docs + 1) / (df + 1) — IEEE division is
    // deterministic across engines, unlike ln() whose last-ulp rounding may
    // differ, so the oracle hash-compares exactly. Scale shape: one explode
    // into thin (doc_id, word) rows, two hash aggregations (tf keyed by the
    // high-cardinality (doc, word); df keyed by word with map-side partial
    // agg), df joined back broadcast (vocabulary-sized), and the per-doc
    // top-5 rides row_number <= 5 which Spark pushes to a per-partition
    // WindowGroupLimit before the doc_id shuffle.
    "text_tfidf_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val e = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      val tf = e.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfq = e.select("doc_id", "word").distinct()
        .groupBy("word").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("word"))
      tf.join(broadcast(dfq), "word")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          col("tf").cast("double") * (col("n_docs") + 1) / (col("df") + 1))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("word"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"), col("rk").cast("long").as("rk"))
        .orderBy("doc_id", "rk")
    }),

    // ---- BM25 retrieval: per-query lexical top-3, the inverted-index rank ----
    // Okapi BM25 (k1=1.2, b=0.75, Lucene's ln(1 + (N-df+0.5)/(df+0.5)) idf
    // floor) — the lexical half of every RAG stack and the usual sparse
    // partner to sim_cosine_topk; queries are the first 8 distinct tokens
    // of every 50th document. Scale shape: this IS the inverted-index
    // probe — the tiny query term set broadcasts onto the (doc, term) tf
    // postings so only postings of query terms survive, df/idf is a
    // vocabulary-sized broadcast, doc length joins by doc_id (keyed
    // shuffle at corpus scale, deliberately unhinted), and the per-query
    // top-3 rides a WindowGroupLimit. Bit-exactness: the per-(query, doc)
    // score is a term-ordered fold (array_sort + aggregate here,
    // list_sum(list(... ORDER BY w)) in the oracle), every scalar op is
    // transcribed in identical order, and the ranking sorts the ROUNDED
    // score with an id tie-break so a last-ulp ln() wobble cannot flip
    // ranks.
    "sim_bm25_topk" -> ((s, d) => bm25Ranked(s, d, topN = 3).orderBy("qid", "rnk")),

    // ---- incremental BM25: re-weight stored postings, never re-tokenize --
    // The append verb for the LEXICAL index, completing the family
    // (IVF/SQ/minhash/embed/substring/containment/semdedup all have one).
    // Raw postings (doc_id, term, tf) are per-document — the base slice's
    // table is a durable REUSEd artifact, a delta ingest tokenizes only
    // itself — and every corpus statistic BM25 needs (df, doc length, N,
    // total tokens) is an ADDITIVE aggregate of the postings, so exact
    // global stats after the ingest cost one pass over the posting table.
    // Weights are then recomputed from stored tf ("re-weight, don't
    // re-tokenize" — the Lucene segment-merge insight), which makes the
    // result HASH-EQUAL to the full rebuild, unlike a stale-stats serve.
    // Shares sim_bm25_topk's oracle verbatim.
    "sim_bm25_append_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isDelta = col("doc_id") % 5 === 4
      def postings(part: DataFrame): DataFrame = part
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val tfBase = VectorOps.shared(s,
        s"bm25_postings_base:$d:${VectorOps.docsFp(d)}", Seq(VectorOps.docsIn(d)))(
        postings(docs.filter(!isDelta)))
      val tf = tfBase.unionByName(postings(docs.filter(isDelta)))
      bm25RankedOf(s, d, tf, topN = 3, wgtKey = None, tfTag = "append")
        .orderBy("qid", "rnk")
    }),

    // ---- BM25 maintenance decomposed from serving (the r14 `weak`) ----
    // What an ingest PAYS is (1) tokenize the delta into a postings
    // segment — O(delta), the expensive pass at 100 TB — and (2) refresh
    // the weight index from stored postings — an O(n) re-aggregation,
    // the honest cost of exact global stats (idf and avgdl move on every
    // ingest), still far cheaper than a corpus re-tokenize. Each phase is
    // its own oracle-backed entry so the append-vs-rebuild bench times
    // MAINTENANCE with no query serving fused in: the r14 pair fused a
    // corpus-sized 9,900-query exact ranking into both sides, which
    // drowned the maintenance signal (ratio 0.785 post-MaxScore) and made
    // the 400k point unmeasurable. Serving stays its own measurement
    // (sim_bm25_topk / sim_bm25_append_topk).
    "bm25_maintain_postings" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        .orderBy("doc_id", "w")),

    "bm25_maintain_postings_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isDelta = col("doc_id") % 5 === 4
      def postings(part: DataFrame): DataFrame = part
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // construction-time certificate: the base segment is REUSEd from
      // the store, never re-tokenized (store counters prove it in the
      // bench); the measured output is the DELTA segment alone — exactly
      // the file an ingest appends to the postings artifact
      VectorOps.shared(s, s"bm25_postings_base:$d:${VectorOps.docsFp(d)}",
        Seq(VectorOps.docsIn(d)))(
        postings(docs.filter(!isDelta)))
      postings(docs.filter(isDelta)).orderBy("doc_id", "w")
    }),

    "bm25_maintain_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isDelta = col("doc_id") % 5 === 4
      def postings(part: DataFrame): DataFrame = part
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // Store-counter note (r15 Watch item): in a bench SESSION this
      // share reads cr=0, not because the store is bypassed but because
      // `shared`'s session memo (graft.Memo) absorbs the lookup —
      // bm25_maintain_postings_delta runs earlier in the same session and
      // warms the entry, so durableAt (where the
      // BUILD/REUSE counters live) is never re-entered. The cross-JVM
      // REUSE the entry's contract cares about registers where it is
      // measured: the append bench's fresh-JVM TimeEntry runs, whose
      // store_events show cr >= 1 on this entry (APPEND_r16).
      val tfBase = VectorOps.shared(s,
        s"bm25_postings_base:$d:${VectorOps.docsFp(d)}", Seq(VectorOps.docsIn(d)))(
        postings(docs.filter(!isDelta)))
      val tf = tfBase.unionByName(postings(docs.filter(isDelta)))
      bm25WeightsOf(s, tf, wgtKey = None)
        .withColumn("wbm", round(col("wbm"), 6))
        .orderBy("doc_id", "w")
    }),

    // ---- multimodal plumbing: opaque binary column + typed metadata ----
    // Decode itself is stubbed (no codec libs in env); the Spark-side schema,
    // binary handling, and deterministic metadata extraction are real.
    "mm_binary_meta" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          (col("n_chars") % 640).as("fake_width"),
          ((col("n_chars") * 7) % 480).as("fake_height"),
          ascii(substring(col("text"), 1, 1)).as("first_byte"))
        .orderBy("doc_id"))
  )

  /** Okapi BM25 per-query top-N (k1=1.2, b=0.75, Lucene's
    * ln(1 + (N-df+0.5)/(df+0.5)) idf floor); queries are the first 8
    * distinct tokens of every 50th document. Shared by `sim_bm25_topk`
    * (N=3) and the RRF fusion (`sim_rrf_topk`, N=20), so the lexical
    * ranking both consume is one definition. Bit-exactness: the
    * per-(query, doc) score is a term-ordered fold (array_sort +
    * aggregate here, list_sum(list(... ORDER BY w)) in the oracle),
    * every scalar op is transcribed in identical order, and ranking
    * sorts the ROUNDED score with an id tie-break so a last-ulp ln()
    * wobble cannot flip ranks. */
  private[queries] def bm25Ranked(s: SparkSession, d: String,
      topN: Int, qmod: Long = 50): DataFrame = {
    val docs = Tables.documents(s, d)
    // The raw POSTINGS (doc_id, w, tf) are themselves a durable artifact,
    // not just the derived weight table: at 100 TB the tokenize pass is
    // the expensive build, and a weights refresh (corpus stats change on
    // every ingest) must be a re-aggregation of stored postings, never a
    // corpus re-tokenize. Every one-shot consumer (this ranking, both RRF
    // fusions, the front door) REUSEs the postings the way the append
    // entry already reuses its base slice.
    val tf = VectorOps.shared(s, s"bm25_postings:$d:${VectorOps.docsFp(d)}",
      Seq(VectorOps.docsIn(d)))(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf")))
    bm25RankedOf(s, d, tf, topN,
      wgtKey = Some(bm25WeightsKey(d)), qmod = qmod)
  }

  /** BM25 ranking over an arbitrary raw-postings frame (doc_id, w, tf) —
    * shared by the one-shot path and the append path (which unions stored
    * base postings with a delta-only tokenize). Every corpus statistic
    * BM25 needs (df, dl, N, total tokens) is an ADDITIVE aggregate of the
    * postings, so deriving them here costs one pass over the posting
    * table, never a corpus re-tokenize. Dispatches between the two
    * value-identical plans below on the vocabulary statistic.
    *
    * The MaxScore plan (Turtle & Flood's query evaluation, the
    * strategy behind Lucene's impacts): EXACT top-N without scoring the
    * full match set. The full-join baseline scores every (query, doc) pair
    * sharing >=1 term, and with a Zipf vocabulary and a query set drawn
    * from the corpus that is QUADRATIC — measured 110M scored rows on the
    * 40k-doc fixture and 10.9B at 400k docs (the head terms' posting lists
    * x the queries containing them). MaxScore prunes with a sound bound:
    *  1. per-term metadata off the weight index — ub(w) = max wbm (the
    *     term's score upper bound) and a topN "impact head" per term (its
    *     highest-weight postings) — one keyed pass, query-independent;
    *     this is exactly the block-max metadata an impact-ordered index
    *     persists at scale, and on the store-backed path it IS persisted
    *     (durable `<wgtKey>:maxscore_{ub,headN,tmap}` artifacts, REUSEd
    *     across fresh JVMs like the weight index itself);
    *  2. seed θ_q: score the query's impact-head docs exactly; the
    *     topN-th seed score is a LOWER bound on the true topN-th score
    *     (seeds are a subset of all candidates);
    *  3. essential terms: sort the query's terms by ub descending and
    *     keep suffix sums; a doc whose matches all lie in a suffix with
    *     sum(ub) < θ_q has score <= that sum < θ_q, so only docs matching
    *     an "essential" term (suffix sum >= θ_q) can reach the top N.
    *     High-df head terms have LOW idf => low ub => non-essential, so
    *     the huge posting lists are exactly the ones never joined.
    *  4. score the candidate set with the same slot fold and rank.
    * Exactness: every true top-N doc has score >= true-topN-th >= θ_q and
    * score <= its own suffix bound, so its best matched term is essential
    * — no qualifying doc is pruned, ties included. The margin is
    * ROUNDING-AWARE: the ranking sorts round(score, 6) with a doc_id
    * tie-break, so a doc with raw score strictly below θ_q could still
    * TIE the topN-th after rounding and win on id — pruning therefore
    * keeps any suffix whose bound reaches θ_q - 1.1e-6 (one 6dp ulp plus
    * double-sum noise); below that, round(raw) is strictly smaller than
    * the topN-th's rounded score and no tie is possible. A query with
    * fewer than topN seed candidates gets θ = -inf (null) and degrades to
    * the unpruned candidate set. The brute path is kept as
    * [[bm25RankedBrute]] and pinned equal by Bm25MaxScoreSpec. */
  /** Vocabulary-size statistic, memoized per (session, dataset, postings
    * identity) — the one scalar a cost-based path choice needs. `tfTag`
    * names WHICH postings frame the statistic was computed from:
    * bm25RankedOf accepts an arbitrary raw-postings frame, so a key on
    * the dataset alone would silently reuse a statistic computed from a
    * different frame for the same dataset (today's two callers pass
    * value-identical full-corpus postings; the key no longer leans on
    * that). */
  private def vocabSize(s: SparkSession, d: String, tf: DataFrame,
      tfTag: String): Long =
    Memo.value(s, "bm25_vocab_size", Seq(VectorOps.docsIn(d)), d, tfTag)(
      tf.select(countDistinct(col("w"))).head().getLong(0))

  /** Below this vocabulary size the ranking takes the single-join brute
    * plan: every query matches essentially every document, θ cannot
    * separate anything, and MaxScore's seed/θ/essential phases are ~7
    * extra exchanges of pure overhead (the driver corpus's ~31-word
    * synthetic vocabulary is the degenerate case — measured +2-3 s per
    * entry at sf0.1 for zero pruning). At a realistic vocabulary the same
    * phases bought a 51x candidate-generation reduction (212M vs 10.9B
    * scored rows at the 400k-doc Zipf fixture). The statistic-driven
    * choice is exactly what a cost-based optimizer does with table stats;
    * both plans are value-identical (Bm25MaxScoreSpec pins it on both
    * vocabulary shapes). */
  private val MaxScoreMinVocab = 1024L

  private[queries] def bm25RankedOf(s: SparkSession, d: String, tf: DataFrame,
      topN: Int, wgtKey: Option[StoreKey],
      tfTag: String = "full", qmod: Long = 50): DataFrame =
    if (vocabSize(s, d, tf, tfTag) < MaxScoreMinVocab)
      bm25RankedBrute(s, d, tf, topN, wgtKey, qmod)
    else bm25MaxScore(s, d, tf, topN, wgtKey, tfTag, qmod)

  private[queries] def bm25MaxScore(s: SparkSession, d: String, tf: DataFrame,
      topN: Int, wgtKey: Option[StoreKey],
      tfTag: String = "full", qmod: Long = 50): DataFrame = {
    val docs = Tables.documents(s, d)
    // MaxScore consumes the weight index from FIVE subplans (term map, ub,
    // impact head, candidate scan, plus the weigh itself); without a
    // session share the store-less append path would recompute the weigh
    // once per exchange. Session-scoped persist only — never durable: a
    // store write would hide the re-weight work the append entry measures
    // across fresh-JVM runs. The session key folds in `tfTag` (the
    // caller's postings identity) — a future caller passing a filtered tf
    // for the same dataset must not reuse weights computed from another
    // frame.
    val wgt = wgtKey match {
      case Some(_) => bm25WeightsOf(s, tf, wgtKey)
      case None => VectorOps.sharedLocal(s, s"bm25_weights_session:$d:$tfTag",
        Seq(VectorOps.docsIn(d)))(bm25WeightsOf(s, tf, wgtKey = None))
    }
    // The impact metadata — per-term score upper bounds, the per-term
    // topN impact heads, and the per-doc (term -> weight) maps — is a
    // query-independent derivative of the weight index: exactly what an
    // impact-ordered index PERSISTS at scale (Lucene's impacts live in
    // the index, not the query). On the store-backed path it is keyed
    // beside the weights (`<wgtKey>:maxscore_*`) and REUSEd across
    // fresh JVMs; on the store-less append path it stays session-local
    // by the same contract as the weights above.
    def keepMeta(suffix: String)(b: => DataFrame): DataFrame = wgtKey match {
      case Some(k) => VectorOps.shared(s, s"${k.key}:$suffix", k.inputs)(b)
      case None => VectorOps.sharedLocal(s, s"bm25_session_$suffix:$d:$tfTag",
        Seq(VectorOps.docsIn(d)))(b)
    }
    val q = bm25QueryTerms(docs, qmod)
    // Candidate scoring is ONE row per (query, candidate-doc): each doc
    // carries its (term -> weight) map, each query its (slot -> term) map
    // (broadcast), and the slot fold becomes 8 map lookups summed
    // left-to-right — the identical arithmetic to bm25Fold's slot sums
    // (each slot holds at most one strictly-positive contribution; a miss
    // is +0.0), but a 200M-candidate pass at the 400k fixture never
    // re-explodes candidates x query-terms and never re-aggregates.
    // try_element_at, not element_at: ANSI mode (Spark 4 default) throws
    // on a missing map key, and queries with <8 distinct leading tokens
    // leave empty slots by design.
    val wgtMap = keepMeta("maxscore_tmap")(wgt.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("w"), col("wbm")))).as("tm")))
    val qMap = q.groupBy("qid")
      .agg(map_from_entries(collect_list(struct(col("qi"), col("w")))).as("qm"))
    val rawExpr = (0 until 8).map(i =>
      coalesce(try_element_at(col("tm"), try_element_at(col("qm"), lit(i))),
        lit(0.0))).reduce(_ + _)
    def scoreCands(cand: DataFrame): DataFrame =
      cand.join(broadcast(qMap), "qid").join(wgtMap, "doc_id")
        .select(col("qid"), col("doc_id"), rawExpr.as("raw"))
    val ub = keepMeta("maxscore_ub")(wgt.groupBy("w").agg(max("wbm").as("ub")))
    val hw = Window.partitionBy("w").orderBy(col("wbm").desc, col("doc_id"))
    // the head is topN-dependent (its own key per registered cutoff)
    val head = keepMeta(s"maxscore_head$topN")(
      wgt.withColumn("hrnk", row_number().over(hw))
        .filter(col("hrnk") <= topN).select("w", "doc_id"))
    val seeds = head.join(broadcast(q.select("qid", "w")), "w")
      .filter(col("doc_id") =!= col("qid"))
      .select("qid", "doc_id").distinct()
    val thW = Window.partitionBy("qid").orderBy(col("raw").desc, col("doc_id"))
    val theta = scoreCands(seeds)
      .withColumn("trnk", row_number().over(thW))
      .filter(col("trnk") === topN)
      .select(col("qid"), col("raw").as("theta"))
    val sufW = Window.partitionBy("qid").orderBy(col("ub").desc, col("w"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val essential = ub.join(broadcast(q.select("qid", "w")), "w")
      .join(broadcast(theta), Seq("qid"), "left")
      .withColumn("suf", sum("ub").over(sufW))
      .filter(col("theta").isNull || col("suf") >= col("theta") - lit(1.1e-6))
      .select("qid", "w")
    val cands = wgt.select("w", "doc_id").join(broadcast(essential), "w")
      .filter(col("doc_id") =!= col("qid"))
      .select("qid", "doc_id")
      .unionByName(seeds) // belt-and-braces: θ's own evidence set stays in
      .distinct()
    val win = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    scoreCands(cands)
      .withColumn("score", round(col("raw"), 6))
      .withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= topN)
      .select(col("qid"), col("rnk").cast("long").as("rnk"),
        col("doc_id").as("nid"), col("score"))
  }

  /** The full (unpruned) ranking for the tiny-vocabulary regime, where
    * every query matches essentially every document and nothing can prune
    * — [[bm25RankedOf]] picks per the vocabulary statistic, and
    * Bm25MaxScoreSpec pins this and the MaxScore plan value-identical.
    *
    * r16 reshape (guide §2.3/2.4): the weight index is repartitioned by
    * doc_id BEFORE the broadcast term join, so the (qid, doc_id) score
    * fold — whose grouping keys CONTAIN doc_id — aggregates in the same
    * stage with no exchange of the exploded match rows (the old plan
    * shuffled the 800k partial-agg groups, 27 MB at sf0.1, through a
    * single-task stage: the stored weight artifact reads back as ONE
    * parquet partition and everything fused onto one core). After the
    * fold, the rank window's group-limit prunes to topN-per-query
    * locally, so only ~topN·queries·partitions thin rows reach the
    * window exchange. One small exchange in (155k weight rows), one
    * thin exchange out — vs 27 MB through one core. The fold arithmetic
    * is untouched (each slot holds at most one strictly-positive
    * contribution, so partial-sum order cannot matter), and at
    * production scale the repartition is the same few-percent-of-input
    * exchange (weights, not matches) with AQE sizing the partition
    * count. */
  private[queries] def bm25RankedBrute(s: SparkSession, d: String,
      tf: DataFrame, topN: Int, wgtKey: Option[StoreKey] = None,
      qmod: Long = 50): DataFrame = {
    // EXPLICIT partition count: the weight rows are tiny but each fans out
    // to every query containing its term (~40x at sf0.1), so bytes wildly
    // under-state the compute and AQE's byte-based coalescing folds the
    // exchange back to one partition (measured: the whole fold ran on 1 of
    // 32 cores). A user-numbered repartition is exempt from AQE
    // coalescing; the count follows the session's core count and never
    // shrinks an already-wide plan.
    val wgt0 = bm25WeightsOf(s, tf, wgtKey)
    // Cost-based: the fold volume scales with the query count (~corpus /
    // qmod). At the standing schedule (qmod <= 50) the exchange-free fold
    // over doc_id-partitioned weights wins big; for sparse schedules
    // (the 1-in-500 sampled swap certificate) the match volume is tiny
    // and the fixed repartition+32-task overhead measurably LOSES
    // (sim_rrf_swap_sampled_gate 1.2 -> 2.1 s) — keep the narrow plan.
    // r17 (ADVICE): the never-shrink probe runs ONLY on store-backed
    // weights (a parquet scan — `.rdd` there is plan-time, no job) and
    // only inside the branch that uses it; on the store-less path
    // (wgtKey=None, a multi-stage plan under AQE) `.rdd` eagerly ran the
    // weight shuffle stages at construction time, and the session floor
    // is the honest count there.
    val wgt =
      if (qmod <= 50) {
        val floor = s.sparkContext.defaultParallelism
        val nPart =
          if (wgtKey.isDefined) math.max(floor, wgt0.rdd.getNumPartitions)
          else floor
        wgt0.repartition(nPart, col("doc_id"))
      } else wgt0
    val q = bm25QueryTerms(Tables.documents(s, d), qmod)
    val slots = (0 until 8).map(i =>
      sum(when(col("qi") === i, col("wbm"))).as(s"s$i"))
    val win = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    wgt.join(broadcast(q), "w")
      .filter(col("doc_id") =!= col("qid"))
      .select("qid", "doc_id", "qi", "wbm")
      .groupBy("qid", "doc_id")
      .agg(slots.head, slots.tail: _*)
      .withColumn("raw", (0 until 8).map(i => coalesce(col(s"s$i"), lit(0.0)))
        .reduce(_ + _))
      .select("qid", "doc_id", "raw")
      .withColumn("score", round(col("raw"), 6))
      .withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= topN)
      .select(col("qid"), col("rnk").cast("long").as("rnk"),
        col("doc_id").as("nid"), col("score"))
  }

  /** The durable BM25 term-weight index over a raw-postings frame: the
    * BM25 term weight is QUERY-INDEPENDENT — idf(w) · tfterm(doc, w) — so
    * it's computed once per (doc, term) posting and PERSISTED as a durable
    * artifact keyed by the data fingerprint, exactly like the IVF inverted
    * file: this (doc_id, w, wbm) table IS the inverted index a real BM25
    * engine stores, and every consumer (sim_bm25_topk, both RRF fusions,
    * the hard-negative miner, the front door, the ONLINE serving drain)
    * REUSEs it instead of re-tokenizing the corpus. dl/df/stats all derive
    * from tf, so the tokenize explode is shuffled ONCE and every
    * downstream aggregate rides the reused exchange. */
  private def bm25WeightsOf(s: SparkSession, tf: DataFrame,
      wgtKey: Option[StoreKey]): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_tok"))
    def weigh: DataFrame =
      tf.join(broadcast(dfq), "w")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("idf", log(lit(1.0) +
          (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))))
        .withColumn("wbm",
          col("idf") * (col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") /
                (col("n_tok").cast("double") / col("n_docs").cast("double"))))))
        .select(col("doc_id"), col("w"), col("wbm"))
    wgtKey match {
      case Some(k) => VectorOps.shared(s, k.key, k.inputs)(weigh)
      case None    => weigh
    }
  }

  /** Key of the durable weight index over the standard postings of `d`. */
  private def bm25WeightsKey(d: String): StoreKey =
    StoreKey(s"bm25_weights:$d:${VectorOps.docsFp(d)}", Seq(VectorOps.docsIn(d)))

  /** The durable weight index for the STANDARD postings of `d` — the
    * serving handle the online drain reads (same artifact key as the
    * batch entry, so serving is a read of the store, never a rebuild). */
  private[graft] def bm25Weights(s: SparkSession, d: String): DataFrame = {
    // same durable postings artifact as bm25Ranked: serving reads the
    // store, never re-tokenizes
    val tf = VectorOps.shared(s, s"bm25_postings:$d:${VectorOps.docsFp(d)}",
      Seq(VectorOps.docsIn(d)))(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf")))
    bm25WeightsOf(s, tf,
      wgtKey = Some(bm25WeightsKey(d)))
  }

  /** The standing query-term table (qid, w, qi): each query doc's <= 8
    * DISTINCT leading terms, indexed in term order — the slot index the
    * order-free score fold (and the oracle's ordered list_sum) keys on.
    * `qmod` is the query schedule (`doc_id % qmod == 0`); the predicate
    * sits directly on the documents input so it reaches the scan — the
    * sampled swap certificate threads `% 500` here instead of filtering
    * above the fusion (where it cannot push). */
  private[graft] def bm25QueryTerms(docs: DataFrame,
      qmod: Long = 50): DataFrame = {
    val qw = Window.partitionBy("qid").orderBy("w")
    docs.filter(col("doc_id") % qmod === 0)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 8))).as("w"))
      .withColumn("qi", row_number().over(qw) - 1)
  }

  /** The BM25 CTE block of the oracle, parameterized by the rank cutoff —
    * shared verbatim by sim_bm25_topk's oracle and the RRF fusion's. Ends
    * with `bmr` = (qid, rnk, nid, score). */
  private[queries] def bm25OracleCtes(topN: Int): String =
    s"""tok AS MATERIALIZED (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS MATERIALIZED (
      |  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
      |dl AS MATERIALIZED (
      |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      |dfq AS MATERIALIZED (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |st AS MATERIALIZED (
      |  SELECT count(*) AS n_docs, sum(dl) AS n_tok FROM dl),
      |bq AS MATERIALIZED (
      |  SELECT doc_id AS qid,
      |    unnest(list_distinct(string_split(text, ' ')[1:8])) AS w
      |  FROM documents WHERE doc_id % 50 = 0),
      |c AS MATERIALIZED (
      |  SELECT bq.qid, tf.doc_id AS nid, tf.w,
      |    ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
      |        / (CAST(dfq.df AS DOUBLE) + 0.5))
      |      * (CAST(tf.tf AS DOUBLE) * 2.2)
      |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
      |          (CAST(dl.dl AS DOUBLE) /
      |            (CAST(st.n_tok AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))
      |      AS contrib
      |  FROM tf JOIN bq ON bq.w = tf.w AND tf.doc_id != bq.qid
      |    JOIN dfq ON dfq.w = tf.w
      |    JOIN dl ON dl.doc_id = tf.doc_id
      |    CROSS JOIN st),
      |sc AS MATERIALIZED (
      |  SELECT qid, nid, round(list_sum(list(contrib ORDER BY w)), 6) AS score
      |  FROM c GROUP BY qid, nid),
      |bmr AS MATERIALIZED (
      |  SELECT qid, CAST(rk AS BIGINT) AS rnk, nid, score
      |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
      |          ORDER BY score DESC, nid) AS rk FROM sc)
      |  WHERE rk <= $topN)""".stripMargin

  /** Full-rebuild replay of the fixed-w substring dedup, shared by
    * `dedup_substring` and `dedup_substring_append` (whose contract is
    * hash-equality to the rebuild over base ∪ delta). */
  private val substringOracleSql =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |spans AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(range(greatest(n - 9, 0))) AS pos,
      |    unnest(list_transform(range(greatest(n - 9, 0)),
      |      i -> array_to_string(tk[i + 1 : i + 10], ' '))) AS span
      |  FROM t),
      |rk AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      |  FROM spans),
      |dups AS MATERIALIZED (SELECT doc_id, pos FROM rk WHERE rn > 1),
      |cov AS MATERIALIZED (
      |  SELECT doc_id, list(pos ORDER BY pos) AS ps,
      |    count(*) AS n_dup
      |  FROM dups GROUP BY doc_id),
      |toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(range(n)) AS j, unnest(tk) AS tok FROM t),
      |ka AS MATERIALIZED (
      |  SELECT tt.doc_id,
      |    md5(coalesce(string_agg(tt.tok, ' ' ORDER BY tt.j), ''))
      |      AS kept_md5
      |  FROM toks tt
      |  WHERE NOT EXISTS (SELECT 1 FROM dups u
      |    WHERE u.doc_id = tt.doc_id
      |      AND u.pos <= tt.j AND tt.j <= u.pos + 9)
      |  GROUP BY tt.doc_id)
      |SELECT t.doc_id,
      |  CAST(t.n AS BIGINT) AS n_tokens,
      |  CAST(greatest(t.n - 9, 0) AS BIGINT) AS n_spans,
      |  CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_spans,
      |  CAST(coalesce(list_sum(list_transform(range(len(c.ps)),
      |      k -> least(10, coalesce(c.ps[k + 2] - c.ps[k + 1], 10)))), 0)
      |    AS BIGINT) AS n_dup_tokens,
      |  coalesce(k.kept_md5, md5('')) AS kept_md5
      |FROM t
      |LEFT JOIN cov c USING (doc_id)
      |LEFT JOIN ka k USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Delta-output replay for `dedup_substring_append_delta`: the full
    * rebuild's per-doc rows RESTRICTED to the docs an ingest can change —
    * the delta slice plus every base doc owning a dup row of the full
    * rebuild that the base-only rebuild lacks (new dups ≡ full \ base is
    * the append path's proven identity, so this set equals the Spark
    * side's merge-derived one). All columns integer/md5 — no FP boundary. */
  private val substringDeltaOracleSql =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |spans AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(range(greatest(n - 9, 0))) AS pos,
      |    unnest(list_transform(range(greatest(n - 9, 0)),
      |      i -> array_to_string(tk[i + 1 : i + 10], ' '))) AS span
      |  FROM t),
      |rk AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      |  FROM spans),
      |dups AS MATERIALIZED (SELECT doc_id, pos FROM rk WHERE rn > 1),
      |brk AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      |  FROM spans WHERE doc_id % 5 != 4),
      |bdups AS MATERIALIZED (SELECT doc_id, pos FROM brk WHERE rn > 1),
      |ndups AS MATERIALIZED (
      |  SELECT doc_id, pos FROM dups EXCEPT SELECT doc_id, pos FROM bdups),
      |aff AS MATERIALIZED (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id FROM t WHERE doc_id % 5 = 4
      |    UNION ALL SELECT doc_id FROM ndups)),
      |cov AS MATERIALIZED (
      |  SELECT doc_id, list(pos ORDER BY pos) AS ps,
      |    count(*) AS n_dup
      |  FROM dups GROUP BY doc_id),
      |toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(range(n)) AS j, unnest(tk) AS tok FROM t),
      |ka AS MATERIALIZED (
      |  SELECT tt.doc_id,
      |    md5(coalesce(string_agg(tt.tok, ' ' ORDER BY tt.j), ''))
      |      AS kept_md5
      |  FROM toks tt
      |  WHERE NOT EXISTS (SELECT 1 FROM dups u
      |    WHERE u.doc_id = tt.doc_id
      |      AND u.pos <= tt.j AND tt.j <= u.pos + 9)
      |  GROUP BY tt.doc_id)
      |SELECT t.doc_id,
      |  CAST(t.n AS BIGINT) AS n_tokens,
      |  CAST(greatest(t.n - 9, 0) AS BIGINT) AS n_spans,
      |  CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_spans,
      |  CAST(coalesce(list_sum(list_transform(range(len(c.ps)),
      |      k -> least(10, coalesce(c.ps[k + 2] - c.ps[k + 1], 10)))), 0)
      |    AS BIGINT) AS n_dup_tokens,
      |  coalesce(k.kept_md5, md5('')) AS kept_md5
      |FROM t
      |JOIN aff USING (doc_id)
      |LEFT JOIN cov c USING (doc_id)
      |LEFT JOIN ka k USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Composed canonical-excision replay, shared by dedup_substring_canonical
    * and its append path (whose contract is hash-equality to the rebuild). */
  private val canonicalOracleSql =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents),
      |spans AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(range(greatest(n - 9, 0))) AS pos,
      |    unnest(list_transform(range(greatest(n - 9, 0)),
      |      i -> array_to_string(tk[i + 1 : i + 10], ' '))) AS span
      |  FROM t),
      |rk AS MATERIALIZED (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      |  FROM spans),
      |dups AS MATERIALIZED (SELECT doc_id, pos FROM rk WHERE rn > 1),
      |suff AS MATERIALIZED (
      |  SELECT doc_id, n,
      |    unnest(range(n)) AS pos,
      |    unnest(list_transform(range(n), i -> tk[i + 1 : i + 20])) AS stk
      |  FROM t),
      |s2 AS MATERIALIZED (
      |  SELECT doc_id, pos, stk,
      |    row_number() OVER (
      |      ORDER BY array_to_string(stk, ' '), doc_id, pos) AS r
      |  FROM suff),
      |pair AS MATERIALIZED (
      |  SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb,
      |    least(len(a.stk), len(b.stk)) AS m,
      |    list_position(list_transform(
      |      range(least(len(a.stk), len(b.stk))),
      |      i -> a.stk[i + 1] = b.stk[i + 1]), false) AS p
      |  FROM s2 a JOIN s2 b ON b.r = a.r + 1),
      |lc AS MATERIALIZED (
      |  SELECT da, pa, db, pb,
      |    CASE WHEN p IS NULL OR p = 0 THEN m ELSE p - 1 END AS lcp
      |  FROM pair),
      |pp AS MATERIALIZED (
      |  SELECT doc_id, pos, max(lcp) AS lcp_max FROM (
      |    SELECT da AS doc_id, pa AS pos, lcp FROM lc
      |    UNION ALL SELECT db AS doc_id, pb AS pos, lcp FROM lc)
      |  GROUP BY doc_id, pos),
      |iv AS MATERIALIZED (
      |  SELECT d.doc_id, d.pos AS s, d.pos + pp.lcp_max - 1 AS e
      |  FROM dups d JOIN pp ON pp.doc_id = d.doc_id AND pp.pos = d.pos),
      |nx AS MATERIALIZED (
      |  SELECT doc_id, count(*) AS n_excised FROM iv GROUP BY doc_id),
      |toks AS MATERIALIZED (
      |  SELECT doc_id, unnest(range(n)) AS j, unnest(tk) AS tok FROM t),
      |ka AS MATERIALIZED (
      |  SELECT tt.doc_id, count(*) AS n_kept,
      |    md5(coalesce(string_agg(tt.tok, ' ' ORDER BY tt.j), ''))
      |      AS kept_md5
      |  FROM toks tt
      |  WHERE NOT EXISTS (SELECT 1 FROM iv u
      |    WHERE u.doc_id = tt.doc_id AND u.s <= tt.j AND tt.j <= u.e)
      |  GROUP BY tt.doc_id)
      |SELECT t.doc_id,
      |  CAST(t.n AS BIGINT) AS n_tokens,
      |  CAST(coalesce(nx.n_excised, 0) AS BIGINT) AS n_excised,
      |  CAST(t.n - coalesce(ka.n_kept, 0) AS BIGINT) AS n_dup_tokens,
      |  coalesce(ka.kept_md5, md5('')) AS kept_md5
      |FROM t
      |LEFT JOIN nx USING (doc_id)
      |LEFT JOIN ka USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Delta-output replay for `dedup_substring_canonical_append_delta`:
    * the canonical rebuild RESTRICTED to the docs an ingest can change —
    * delta docs plus docs holding an occurrence of a delta-touched
    * l-window group (the append path's exactness argument: an interval
    * can only change via a suffix sharing >= l tokens, which lives in a
    * touched group). `aff` mirrors the Spark side's merge-derived set
    * exactly: spans-of-delta covers delta docs with spans; the explicit
    * delta union covers short delta docs with none. */
  private val canonicalDeltaOracleSql = {
    val restricted = canonicalOracleSql.replace(
      "FROM t\n|LEFT JOIN nx USING (doc_id)".stripMargin,
      "FROM t\nJOIN aff USING (doc_id)\nLEFT JOIN nx USING (doc_id)")
    restricted.replace(
      "toks AS MATERIALIZED (",
      """aff AS MATERIALIZED (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id FROM t WHERE doc_id % 5 = 4
        |    UNION ALL
        |    SELECT s.doc_id FROM spans s WHERE s.span IN
        |      (SELECT DISTINCT span FROM spans WHERE doc_id % 5 = 4))),
        |toks AS MATERIALIZED (""".stripMargin)
  }

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, count(*) AS dup_count, min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text) ORDER BY text_md5""".stripMargin,
    "dedup_tokenset" ->
      """SELECT md5(list_aggregate(list_sort(list_distinct(string_split(text, ' '))),
        |                          'string_agg', ' ')) AS fp,
        |       count(*) AS dup_count, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "dedup_blocked_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(n_chars // 100 AS BIGINT) AS bkt,
        |         list_distinct(string_split(text, ' ')) AS w
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(a.w || b.w)), 6) AS jac
        |FROM t a JOIN t b ON a.bkt = b.bkt AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(a.w || b.w)) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_lines" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |l AS (
        |  SELECT doc_id,
        |    unnest(range((len(tk) + 9) // 10)) AS line_id,
        |    unnest(list_transform(range((len(tk) + 9) // 10),
        |      i -> array_to_string(tk[i * 10 + 1 : i * 10 + 10], ' '))) AS line
        |  FROM t),
        |w AS (
        |  SELECT doc_id, line_id, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_id) AS rn
        |  FROM l)
        |SELECT doc_id,
        |  count(*) AS n_lines,
        |  count(*) FILTER (WHERE rn = 1) AS n_kept,
        |  md5(coalesce(
        |    string_agg(line, ' ' ORDER BY line_id) FILTER (WHERE rn = 1),
        |    '')) AS kept_md5
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // suffix sort as ONE window row_number (single node), the same
    // truncated-suffix keys, the same neighbor-LCP flags
    "dedup_substring_sa" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |suff AS MATERIALIZED (
        |  SELECT doc_id, n,
        |    unnest(range(n)) AS pos,
        |    unnest(list_transform(range(n), i -> tk[i + 1 : i + 20])) AS stk
        |  FROM t),
        |s2 AS MATERIALIZED (
        |  SELECT doc_id, pos, stk,
        |    row_number() OVER (
        |      ORDER BY array_to_string(stk, ' '), doc_id, pos) AS r
        |  FROM suff),
        |pair AS MATERIALIZED (
        |  SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb,
        |    least(len(a.stk), len(b.stk)) AS m,
        |    list_position(list_transform(
        |      range(least(len(a.stk), len(b.stk))),
        |      i -> a.stk[i + 1] = b.stk[i + 1]), false) AS p
        |  FROM s2 a JOIN s2 b ON b.r = a.r + 1),
        |lc AS MATERIALIZED (
        |  -- list_position returns 0 (this build) or NULL for "absent"
        |  SELECT da, pa, db, pb,
        |    CASE WHEN p IS NULL OR p = 0 THEN m ELSE p - 1 END AS lcp
        |  FROM pair),
        |pp AS MATERIALIZED (
        |  SELECT doc_id, pos, max(lcp) AS lcp_max FROM (
        |    SELECT da AS doc_id, pa AS pos, lcp FROM lc
        |    UNION ALL SELECT db AS doc_id, pb AS pos, lcp FROM lc)
        |  GROUP BY doc_id, pos),
        |ag AS MATERIALIZED (
        |  SELECT doc_id,
        |    count(*) FILTER (WHERE lcp_max >= 10) AS n_dup_pos,
        |    max(lcp_max) AS max_repeat
        |  FROM pp GROUP BY doc_id)
        |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
        |  CAST(coalesce(ag.n_dup_pos, 0) AS BIGINT) AS n_dup_positions,
        |  CAST(coalesce(ag.max_repeat, 0) AS BIGINT) AS max_repeat_len
        |FROM t LEFT JOIN ag USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // overlapping-span first-occurrence replay: same span generator, same
    // (doc_id, pos) global order, coverage via EXISTS over the duplicate
    // starts, interval-union size via the same consecutive-gap fold
    "dedup_substring" -> substringOracleSql,
    // the append path's CONTRACT is hash-equality to the full rebuild over
    // base ∪ delta — the rebuild replay IS its oracle (same convention as
    // dedup_minhash_append / dedup_embed_append)
    "dedup_substring_append" -> substringOracleSql,
    // production output shape: the rebuild restricted to delta ∪ changed
    "dedup_substring_append_delta" -> substringDeltaOracleSql,
    // composed replay: the fixed-10 first-occurrence dup starts (rk/dups,
    // as in dedup_substring) joined to the SA neighbor-LCP per-position
    // profile (suff/s2/pair/lc/pp, as in dedup_substring_sa) become
    // variable-length [s, e] excision intervals; coverage and kept text
    // fall out of one NOT EXISTS over the intervals, and n_dup_tokens is
    // n - n_kept (the union size, computed without replaying the fold)
    "dedup_substring_canonical" -> canonicalOracleSql,
    // append contract = hash-equality to the canonical rebuild (the same
    // convention as every other *_append entry)
    "dedup_substring_canonical_append" -> canonicalOracleSql,
    // production output shape: the canonical rebuild restricted to the
    // delta ∪ touched-group docs
    "dedup_substring_canonical_append_delta" -> canonicalDeltaOracleSql,
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
         |SELECT doc_id,
         |  len(w) AS n_tokens,
         |  len(list_distinct(w)) AS n_types,
         |  list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w) AS avg_token_len,
         |  len(list_filter(w, x -> x IN $stopList))::DOUBLE / len(w) AS stop_ratio,
         |  len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / len(text) AS alpha_ratio
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_bpe_train" -> bpeTrainOracle(rounds = 5),
    "text_bpe_tokenize5" -> bpeTokenizeOracle(rounds = 5),
    "quality_lr_train" -> lrTrainOracle(iters = 12, lr = 8.0),
    "quality_lr_score" -> lrScoreOracle(iters = 12, lr = 8.0),
    "quality_lr_calibration" -> lrCalibrationOracle(iters = 12, lr = 8.0),
    "text_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, length(w)),
        |                                   i -> substring(w, i, 2))) AS pair
        |      FROM w WHERE length(w) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,
    "text_fingerprint" -> {
      // Same polynomial as MinRollingHash: B=257, M=1e9+7, 8-codepoint
      // windows, reduced into [0, M) at every step so values are identical.
      def u(off: Int) =
        if (off == 0) "unicode(substring(text, i, 1))::BIGINT"
        else s"unicode(substring(text, i + $off, 1))::BIGINT"
      val poly8 = (1 until 8).foldLeft(u(0)) { (acc, j) =>
        s"(($acc) * 257 + ${u(j)}) % 1000000007"
      }
      s"""SELECT doc_id, md5(text) AS content_md5,
         |  CASE WHEN len(text) = 0 THEN 0
         |    WHEN len(text) >= 8
         |    THEN list_aggregate(list_transform(range(1, len(text) - 7 + 1),
         |                                       i -> $poly8), 'min')
         |    ELSE list_reduce(list_transform(range(1, len(text) + 1),
         |                                    i -> ${u(0)}),
         |                     (acc, x) -> (acc * 257 + x) % 1000000007)
         |  END AS min_shingle_hash
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "text_pii_scrub" ->
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$PiiEmail', '<EMAIL>', 'g'),
         |    '$PiiPhone', '<PHONE>', 'g'),
         |    '$PiiIpv4', '<IP>', 'g') AS scrubbed,
         |  len(regexp_extract_all(text, '$PiiEmail')) AS n_emails,
         |  len(regexp_extract_all(text, '$PiiPhone')) AS n_phones,
         |  len(regexp_extract_all(text, '$PiiIpv4')) AS n_ips
         |FROM documents ORDER BY doc_id""".stripMargin,
    "events_sessionize" ->
      """WITH w AS (
        |  SELECT event_id, user_id, ts,
        |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM w)
        |SELECT event_id, user_id,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM f ORDER BY event_id""".stripMargin,
    "events_attribution" ->
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    min(CASE WHEN event_type = 'click' THEN us END) OVER (
        |      PARTITION BY user_id ORDER BY us
        |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |      AS first_click_ts,
        |    max(CASE WHEN event_type = 'click' THEN us END) OVER (
        |      PARTITION BY user_id ORDER BY us
        |      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |      AS last_click_ts
        |  FROM t)
        |SELECT event_id, user_id, us AS ts, first_click_ts, last_click_ts
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "events_attribution_decay" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us,
        |         value
        |  FROM events WHERE event_type = 'purchase'),
        |pr AS (
        |  SELECT p.purchase_id, c.click_id, p.user_id,
        |    exp((c.c_us - p.p_us) / 172800000000.0) AS wt, p.value
        |  FROM p JOIN c ON p.user_id = c.user_id
        |   AND c.c_us <= p.p_us AND c.c_us >= p.p_us - 604800000000)
        |SELECT purchase_id, click_id, user_id, round(wt, 6) AS wt,
        |  round(value * wt / sum(wt) OVER (PARTITION BY purchase_id), 6)
        |    AS credit
        |FROM pr ORDER BY purchase_id, click_id""".stripMargin,
    "events_asof" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS asof_event_id, user_id, ts, value AS asof_value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, p.asof_event_id, p.asof_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,
    "stream_windowed_counts" ->
      """SELECT date_trunc('day', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms, value FROM events),
        |w AS (SELECT *, lag(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS prev
        |      FROM e),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR tms - prev > 1800000
        |                 THEN 1 ELSE 0 END AS ns FROM w),
        |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tms, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
        |SELECT user_id, make_timestamp(min(tms) * 1000) AS session_start,
        |       make_timestamp(max(tms) * 1000) AS session_end,
        |       count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the streaming drain must reproduce the batch all-pairs ground truth
    "stream_minhash_dedup" -> VectorOps.AllPairsJaccardOracle,
    // TTL drain: the all-pairs ground truth restricted to SAME-ERA pairs
    // (era = staging side of the two-era schedule, a pure doc_id rule) —
    // cross-era buckets age out at the second sentinel batch by
    // construction, so the era predicate IS the TTL contract in SQL
    "stream_minhash_dedup_ttl" ->
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
        |  AND (a.doc_id % 4 <= 1) = (b.doc_id % 4 <= 1)
        |WHERE len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(a.w || b.w)) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // TTL drain: kept = first (day, doc_id)-ordered occurrence of the
    // digest WITHIN ITS ERA (the horizon re-keep as one row_number)
    "stream_dedup_ttl" ->
      """WITH d AS (
        |  SELECT doc_id, md5(text) AS dg,
        |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 0 WHEN 1 THEN 1
        |         WHEN 2 THEN 10 ELSE 11 END AS day,
        |    (doc_id % 4 <= 1) AS era_a
        |  FROM documents)
        |SELECT doc_id,
        |  (row_number() OVER (PARTITION BY dg, era_a ORDER BY day, doc_id) = 1)
        |    AS kept
        |FROM d ORDER BY doc_id""".stripMargin,
    // identical to the batch ts_ewma oracle: incremental == batch
    "stream_ewma" ->
      """WITH o AS (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events WHERE value IS NOT NULL),
        |l AS (
        |  SELECT user_id, list(value ORDER BY rn) AS xs,
        |         list(event_id ORDER BY rn) AS ids
        |  FROM o GROUP BY user_id)
        |SELECT unnest(ids) AS event_id,
        |  unnest(list_transform(range(1, len(xs) + 1),
        |    i -> round(list_reduce(xs[1:i],
        |                           (acc, x) -> 0.2 * x + 0.8 * acc), 6)))
        |    AS ewma
        |FROM l ORDER BY event_id""".stripMargin,
    "stream_checkpoint_recovery" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_latest_state" ->
      """SELECT user_id, event_id AS last_event_id,
        |  round(value, 6) AS last_value, event_type AS last_type, n_updates
        |FROM (SELECT *,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS n_updates
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // identical oracle again: the reorder buffer must converge to the same
    // fold as the ordered drain despite the scrambled second micro-batch
    "stream_ewma_reorder" ->
      """WITH o AS (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events WHERE value IS NOT NULL),
        |l AS (
        |  SELECT user_id, list(value ORDER BY rn) AS xs,
        |         list(event_id ORDER BY rn) AS ids
        |  FROM o GROUP BY user_id)
        |SELECT unnest(ids) AS event_id,
        |  unnest(list_transform(range(1, len(xs) + 1),
        |    i -> round(list_reduce(xs[1:i],
        |                           (acc, x) -> 0.2 * x + 0.8 * acc), 6)))
        |    AS ewma
        |FROM l ORDER BY event_id""".stripMargin,
    "stream_interval_join" ->
      """SELECT c.user_id, c.event_id AS left_id, epoch_us(c.ts) AS left_us,
        |       p.event_id AS right_id, epoch_us(p.ts) AS right_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 15 MINUTE
        |ORDER BY left_id, right_id""".stripMargin,
    "stream_interval_join_outer" ->
      """SELECT c.user_id, c.event_id AS left_id, epoch_us(c.ts) AS left_us,
        |       p.event_id AS right_id, epoch_us(p.ts) AS right_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 15 MINUTE
        |ORDER BY left_id, right_id""".stripMargin,
    "stream_static_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,
    "events_retention" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |fs AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT fs.cohort_day, ev.day - fs.cohort_day AS day_offset,
        |       count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN fs ON ev.user_id = fs.user_id
        |GROUP BY fs.cohort_day, ev.day - fs.cohort_day
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "events_wau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |c AS (SELECT user_id, day + o AS w_day
        |      FROM ud, unnest(range(0, 7)) AS t(o))
        |SELECT w_day, count(DISTINCT user_id) AS wau
        |FROM c GROUP BY w_day ORDER BY w_day""".stripMargin,
    "events_session_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |w AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
        |      FROM e),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR tus - prev >= 1800000000
        |                 THEN 1 ELSE 0 END AS ns FROM w),
        |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
        |SELECT user_id, min(tus) AS start_us, max(tus) AS end_us,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,
    "events_funnel3" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS v1, ts, event_type
        |  FROM events),
        |g AS (
        |  SELECT user_id, v1,
        |    min(CASE WHEN event_type = 'click' AND ts >= v1 THEN ts END)
        |      OVER (PARTITION BY user_id) AS c1, ts, event_type
        |  FROM f),
        |h AS (
        |  SELECT user_id, v1, c1,
        |    min(CASE WHEN event_type = 'purchase' AND ts >= c1 THEN ts END)
        |      OVER (PARTITION BY user_id) AS p1
        |  FROM g)
        |SELECT
        |  count(DISTINCT CASE WHEN v1 IS NOT NULL THEN user_id END) AS n_viewed,
        |  count(DISTINCT CASE WHEN c1 IS NOT NULL THEN user_id END) AS n_clicked,
        |  count(DISTINCT CASE WHEN p1 IS NOT NULL THEN user_id END) AS n_purchased
        |FROM h""".stripMargin,
    "events_funnel" ->
      """WITH w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_p_ts
        |  FROM events)
        |SELECT user_id, count(*) AS n_clicks,
        |  CAST(sum(CASE WHEN next_p_ts IS NOT NULL
        |                 AND epoch_us(next_p_ts) - epoch_us(ts) <= 3600000000
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM w WHERE event_type = 'click'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "text_langid" -> {
      def sc(l: String) =
        s"len(list_filter(string_split(text, ' '), x -> x IN ${inList(LangStops(l))}))"
      s"""WITH t AS (
         |  SELECT doc_id, lang AS meta_lang,
         |    ${sc("de")} AS s_de, ${sc("en")} AS s_en,
         |    ${sc("es")} AS s_es, ${sc("fr")} AS s_fr
         |  FROM documents)
         |SELECT doc_id, meta_lang,
         |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
         |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         |       ELSE 'fr' END AS lang_id,
         |  greatest(s_de, s_en, s_es, s_fr) AS hits
         |FROM t ORDER BY doc_id""".stripMargin
    },
    "sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substring(md5(text), 1, 2) < '1a' 
        |ORDER BY doc_id""".stripMargin,
    "strat_topn" ->
      """SELECT doc_id, lang, n_chars, rk FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,
    "sample_mixture" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n_s
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(pow(n_s, 0.7)) AS w_sum, sum(n_s) AS n_tot FROM c),
        |r AS (
        |  SELECT source,
        |    least(1.0, 0.5 * n_tot * pow(n_s, 0.7) / w_sum / n_s) AS rate
        |  FROM c, t)
        |SELECT d.doc_id, d.source, d.lang, d.n_chars
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE ((d.doc_id % 16777216) * 2654435761) % 16777216 / 16777216.0
        |      < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    "mixture_report" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n_s
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(pow(n_s, 0.7)) AS w_sum, sum(n_s) AS n_tot FROM c),
        |r AS (
        |  SELECT source,
        |    least(1.0, 0.5 * n_tot * pow(n_s, 0.7) / w_sum / n_s) AS rate
        |  FROM c, t),
        |dd AS (
        |  SELECT d.source,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
        |    ((d.doc_id % 16777216) * 2654435761) % 16777216 / 16777216.0
        |      < r.rate AS kept,
        |    r.rate
        |  FROM documents d JOIN r ON d.source = r.source)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS kept_tokens,
        |  round(max(rate), 6) AS rate
        |FROM dd GROUP BY source ORDER BY source""".stripMargin,
    "corpus_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ((doc_id % 16777216) * 2654435761) % 16777216 AS hh
        |  FROM documents)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY hh, doc_id) AS pos
        |FROM h ORDER BY doc_id""".stripMargin,
    // the stream drain's contract is exact equality with the batch fold
    "stream_pack_sequences" -> PackSequencesOracle,
    "pack_sequences" -> PackSequencesOracle,
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
        |    i -> concat_ws(' ', string_split(text, ' ')[i],
        |                        string_split(text, ' ')[i + 1],
        |                        string_split(text, ' ')[i + 2])) AS g
        |  FROM documents)
        |SELECT doc_id, len(g) AS n_grams, len(list_distinct(g)) AS n_distinct,
        |  round(1.0 - len(list_distinct(g))::DOUBLE / len(g), 6) AS rep_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    // the Gopher gate battery: parallel zipped unnests (n tag + gram) over
    // one flattened per-n gram list, the same count/pivot chain, and the
    // keep flag as INTEGER inequalities so no FP boundary can drift
    "text_gopher_gates" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS tk,
        |    len(string_split(text, ' ')) AS m
        |  FROM documents),
        |g AS MATERIALIZED (
        |  SELECT doc_id, n_chars,
        |    unnest(flatten(list_transform(
        |      list_filter([2, 3, 4, 5, 6], nn -> m >= nn),
        |      nn -> list_transform(range(1, m - nn + 2), i -> nn)))) AS n,
        |    unnest(flatten(list_transform(
        |      list_filter([2, 3, 4, 5, 6], nn -> m >= nn),
        |      nn -> list_transform(range(1, m - nn + 2),
        |        i -> array_to_string(tk[i : i + nn - 1], ' '))))) AS gram
        |  FROM t),
        |counts AS MATERIALIZED (
        |  SELECT doc_id, n_chars, n, gram, count(*) AS c
        |  FROM g GROUP BY doc_id, n_chars, n, gram),
        |pern AS MATERIALIZED (
        |  SELECT doc_id, n_chars, n,
        |    max(c * length(gram)) AS top_chars,
        |    sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END)
        |      AS dup_chars
        |  FROM counts GROUP BY doc_id, n_chars, n),
        |wide AS MATERIALIZED (
        |  SELECT doc_id, n_chars,
        |    coalesce(max(CASE WHEN n = 2 THEN top_chars END), 0) AS t2,
        |    coalesce(max(CASE WHEN n = 3 THEN top_chars END), 0) AS t3,
        |    coalesce(max(CASE WHEN n = 4 THEN top_chars END), 0) AS t4,
        |    coalesce(max(CASE WHEN n = 5 THEN dup_chars END), 0) AS d5,
        |    coalesce(max(CASE WHEN n = 6 THEN dup_chars END), 0) AS d6
        |  FROM pern GROUP BY doc_id, n_chars)
        |SELECT t.doc_id,
        |  round(CAST(coalesce(w.t2, 0) AS DOUBLE) / t.n_chars, 6)
        |    AS top2_frac,
        |  round(CAST(coalesce(w.t3, 0) AS DOUBLE) / t.n_chars, 6)
        |    AS top3_frac,
        |  round(CAST(coalesce(w.t4, 0) AS DOUBLE) / t.n_chars, 6)
        |    AS top4_frac,
        |  round(CAST(coalesce(w.d5, 0) AS DOUBLE) / t.n_chars, 6)
        |    AS dup5_frac,
        |  round(CAST(coalesce(w.d6, 0) AS DOUBLE) / t.n_chars, 6)
        |    AS dup6_frac,
        |  (coalesce(w.t2, 0) * 5 <= t.n_chars
        |   AND coalesce(w.t3, 0) * 50 <= t.n_chars * 9
        |   AND coalesce(w.t4, 0) * 25 <= t.n_chars * 4
        |   AND coalesce(w.d5, 0) * 20 <= t.n_chars * 3
        |   AND coalesce(w.d6, 0) * 50 <= t.n_chars * 7) AS gopher_keep
        |FROM t
        |LEFT JOIN wide w USING (doc_id, n_chars)
        |ORDER BY t.doc_id""".stripMargin,
    "text_bpe_count" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '${graft.functions.BpeVocab.oracleRegex}')) AS bpe_tokens,
         |  len(string_split(text, ' ')) AS ws_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "pack_sequences_bpe" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    len(regexp_extract_all(text, '${graft.functions.BpeVocab.oracleRegex}')) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, lang, n_tokens,
         |  CAST((cum_tokens - 1) // 2048 AS BIGINT) AS bin_id
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |gl AS (SELECT doc_id,
        |         CASE WHEN len(w) >= 8 THEN list_transform(range(1, len(w) - 7 + 1),
        |           i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
        |                               w[i+4], w[i+5], w[i+6], w[i+7]))
        |         ELSE [] END AS gs
        |       FROM t),
        |e AS (SELECT doc_id, unnest(gs) AS gram FROM gl),
        |boiler AS (SELECT gram FROM e GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |nb AS (SELECT e.doc_id, count(*) AS n_boiler
        |       FROM e JOIN boiler USING (gram) GROUP BY e.doc_id)
        |SELECT gl.doc_id, len(gs) AS n_grams,
        |  coalesce(nb.n_boiler, 0) AS n_boiler,
        |  CASE WHEN len(gs) = 0 THEN 0.0
        |       ELSE round(coalesce(nb.n_boiler, 0)::DOUBLE / len(gs), 6)
        |  END AS boiler_ratio
        |FROM gl LEFT JOIN nb USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_tfidf_topk" ->
      """WITH e AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM e GROUP BY doc_id, word),
        |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM e GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |             tf.tf::DOUBLE * (n.n_docs + 1) / (df.df + 1) AS tfidf
        |           FROM tf JOIN df ON tf.word = df.word CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, word) AS rk FROM scored)
        |SELECT doc_id, word, tf, df, round(tfidf, 6) AS tfidf, rk
        |FROM r WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,
    "sim_bm25_topk" ->
      s"""WITH ${bm25OracleCtes(topN = 3)}
        |SELECT qid, rnk, nid, score FROM bmr ORDER BY qid, rnk""".stripMargin,
    // append contract: hash-equal to the full rebuild — same oracle
    "sim_bm25_append_topk" ->
      s"""WITH ${bm25OracleCtes(topN = 3)}
        |SELECT qid, rnk, nid, score FROM bmr ORDER BY qid, rnk""".stripMargin,
    // maintenance phase 1: the postings segment(s) an ingest tokenizes
    "bm25_maintain_postings" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        |FROM tok GROUP BY doc_id, w ORDER BY doc_id, w""".stripMargin,
    "bm25_maintain_postings_delta" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id % 5 = 4)
        |SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        |FROM tok GROUP BY doc_id, w ORDER BY doc_id, w""".stripMargin,
    // maintenance phase 2: the refreshed weight index over base ∪ delta
    // (identical arithmetic to the ranking oracles' contrib expression)
    "bm25_maintain_weights" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
        |dl AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |dfq AS MATERIALIZED (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |st AS MATERIALIZED (
        |  SELECT count(*) AS n_docs, sum(dl) AS n_tok FROM dl)
        |SELECT tf.doc_id, tf.w,
        |  round(ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
        |      / (CAST(dfq.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * 2.2)
        |    / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        (CAST(dl.dl AS DOUBLE) /
        |          (CAST(st.n_tok AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))), 6)
        |    AS wbm
        |FROM tf JOIN dfq ON dfq.w = tf.w JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN st
        |ORDER BY tf.doc_id, tf.w""".stripMargin,
    // streaming serve == batch query over the same stored index
    "stream_bm25_topk" ->
      s"""WITH ${bm25OracleCtes(topN = 3)}
        |SELECT qid, rnk, nid, score FROM bmr ORDER BY qid, rnk""".stripMargin,
    // the ONLINE hybrid path == the batch fusion over the same two
    // stored indexes: sim_rrf_ann_topk's exact oracle, verbatim
    "stream_rrf_topk" ->
      graft.queries.AnnOracleSql.rrfAnnTopK(k = 16, nProbe = 4),
    "mm_binary_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  n_chars % 640 AS fake_width,
        |  (n_chars * 7) % 480 AS fake_height,
        |  ascii(substring(text, 1, 1)) AS first_byte
        |FROM documents ORDER BY doc_id""".stripMargin
  )

  // shared by the batch fold and its streaming drain (exact equality)
  private lazy val PackSequencesOracle: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, lang, n_tokens,
      |  CAST((cum_tokens - 1) // 2048 AS BIGINT) AS bin_id
      |FROM c ORDER BY doc_id""".stripMargin

}
