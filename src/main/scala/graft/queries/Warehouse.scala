package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Warehouse-grade operator families beyond the reference's surface:
  * JSON / regex / bitwise scalar families, regression + conditional
  * aggregates, an SCD-2 validity-interval build, an interval-overlap
  * (range x range) join, per-key linear interpolation, and canonical
  * keep-first dedup. Oracle-parity conventions follow [[Relational]]:
  * identical aliases both sides, ORDER BY a unique key, int-ish outputs
  * on BIGINT, float outputs rounded.
  *
  * Scale notes (100 TB):
  *  - The scalar families (F5-F7) are per-row codegen'd expressions — no
  *    shuffle, no UDFs; JSON parsing uses Spark's native JsonPath
  *    evaluator inside whole-stage codegen.
  *  - `u5_scd2` is two ordered windows over one user_id exchange — the
  *    standard change-data-capture interval build; no self-join.
  *  - `j9_interval_overlap` buckets both interval sets at bucket width =
  *    interval span, so every interval lands in <=2 buckets and every
  *    true overlap shares >=1 bucket: the shuffle is O(2|A| + 2|B|) keyed
  *    by (user, bucket), never the quadratic pair space. The exact
  *    overlap predicate runs only within buckets; `distinct` collapses
  *    the <=4 duplicate candidates per pair.
  *  - `ts_interpolate` is one ordered window pass per key (four
  *    IGNORE-NULLS frame scans fused by Catalyst into one WindowExec).
  *  - `dedup_keep_first` is the canonical keep-lowest-id dedup: hash
  *    exchange on digest, per-partition top-1 via WindowGroupLimit.
  */
object Warehouse {

  private val halfHourUs = 1800000000L // 30 min in epoch micros

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- F5: JSON function family (parse, extract, construct) ----
    // props is a JSON object column; construction is restricted to
    // int/string fields where Spark's to_json and DuckDB's to_json emit
    // byte-identical text.
    // sort-first, project-after (see Relational f1): the JSON parse/emit
    // pass runs once on every core instead of twice on one
    "f5_json_fns" -> ((s, d) =>
      Tables.events(s, d).orderBy("event_id")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          to_json(struct(col("event_id").as("id"), col("event_type").as("t")))
            .as("js"),
          get_json_object(
            to_json(struct(col("event_type").as("t"))), "$.t").as("t_rt"))),

    // ---- F11: Variant — Spark 4's binary semi-structured path ----
    // parse_json materializes props as VariantType (parsed once, typed
    // access after — the scale replacement for repeated get_json_object
    // string re-parsing) and variant_get extracts typed fields; a
    // round-trip through to_json proves the value survives intact. The
    // oracle reads the same fields with DuckDB's native JSON operators.
    // sort-first, project-after (see Relational f1): three parse_json
    // calls per row run once on every core instead of twice on one
    "f11_variant" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("props").isNotNull)
        .orderBy("event_id")
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"),
          expr("variant_get(parse_json(props), '$.missing', 'long')")
            .as("k_missing"),
          expr("to_json(parse_json(props))").as("js_rt"))),

    // ---- F6: bitwise function family ----
    "f6_bitwise_fns" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          col("o_orderkey").bitwiseAND(lit(255L)).as("b_and"),
          col("o_orderkey").bitwiseOR(lit(4096L)).as("b_or"),
          col("o_orderkey").bitwiseXOR(lit(1023L)).as("b_xor"),
          shiftleft(col("o_orderkey"), 3).as("b_shl"),
          shiftright(col("o_orderkey"), 2).as("b_shr"),
          bit_count(col("o_orderkey")).cast("long").as("b_pop"))
        .orderBy("o_orderkey")),

    // ---- F7: regex function family ----
    // Patterns restricted to the Java-regex / RE2 common subset (char
    // classes, anchors, +) so both engines match identically; Spark's
    // regexp_replace is global by default = DuckDB's 'g' flag.
    "f7_regex_fns" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          regexp_extract(col("p_brand"), "[0-9]+", 0).as("brand_num"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"),
          col("p_name").rlike("^[a-m]").as("starts_am"),
          size(regexp_extract_all(col("p_type"), lit("[A-Z]+"), lit(0)))
            .cast("long").as("n_upper_runs"),
          size(split(col("p_name"), " ")).cast("long").as("n_fields"))
        .orderBy("p_partkey")),

    // ---- A14: linear-regression aggregate family ----
    // Both engines compute slope/intercept/r2 from the same co-moment
    // definitions; rounded to absorb float-path ulp divergence.
    "a14_regression_aggs" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
            .as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
            .as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
            .as("r2"))
        .orderBy("l_returnflag")),

    // ---- A15: conditional / boolean aggregate family ----
    // count_if / bool_and / bool_or + a filtered sum routed through
    // DECIMAL so partial-aggregation order can't flip a bit. The decimal
    // sum is emitted cast-to-double UNROUNDED (like tpch_q11): decimal →
    // double is bit-identical on both engines, while round() on the double
    // differs (Spark HALF_UP on decimal vs binary multiply-round) at
    // tie-adjacent values.
    "a15_cond_aggs" -> ((s, d) =>
      Tables.events(s, d).groupBy("event_type")
        .agg(
          count_if(col("value") > 50.0).as("n_hi"),
          bool_and(col("value") >= 0.0).as("all_true"),
          bool_or(col("value") > 99.9).as("any_top"),
          sum(when(col("value") > 50.0, col("value"))
            .cast("decimal(18,6)")).cast("double").as("sum_hi"))
        .orderBy("event_type")),

    // ---- U5: SCD-2 validity intervals from a change stream ----
    // Keep only rows where the tracked attribute changes, then each kept
    // row opens an interval [ts, next-change ts); the current version's
    // valid_to is null. Two ordered windows over one user_id exchange.
    "u5_scd2" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val changed = Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      changed.select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"),
          row_number().over(w).cast("long").as("version"))
        .orderBy("user_id", "version")
    }),

    // ---- J9: interval-overlap (range x range) join ----
    // 30-min purchase windows vs 30-min error windows per user: emit
    // overlapping pairs. Bucket width = interval span => each interval
    // explodes to <=2 buckets and any true overlap shares a bucket.
    "j9_interval_overlap" -> ((s, d) => {
      def intervals(tpe: String, idAs: String, sAs: String, eAs: String) =
        Tables.events(s, d).filter(col("event_type") === tpe)
          .select(col("event_id").as(idAs), col("user_id"),
            col("ts").as(sAs), (col("ts") + halfHourUs).as(eAs))
      def bucketed(df: DataFrame, sc: String, ec: String) =
        df.withColumn("bucket", explode(array_distinct(array(
          floor(col(sc) / halfHourUs), floor(col(ec) / halfHourUs)))))
      val a = bucketed(intervals("purchase", "a_id", "a_s", "a_e"), "a_s", "a_e")
      val b = bucketed(intervals("error", "b_id", "b_s", "b_e"), "b_s", "b_e")
      a.join(b, Seq("user_id", "bucket"))
        .where(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
        .select("a_id", "b_id", "user_id").distinct()
        .orderBy("a_id", "b_id")
    }),

    // ---- J10: VARIABLE-length interval-overlap join, max-span bucketing ----
    // The j9 generalization for heterogeneous spans (meeting rooms, ad
    // flights, maintenance windows — real intervals are never one width):
    // purchase windows run 15-60 min and error windows 10-30 min, each
    // span a deterministic function of the row. Bucket width = the MAX
    // span across both sets (60 min), and every interval replicates to
    // ALL buckets it touches — sequence(s div B, e div B), i.e.
    // span/bucket + 1 rows, ≤ 2 here. Because each interval covers a
    // CONTIGUOUS bucket range, two time-overlapping intervals always share
    // at least one bucket (their bucket ranges intersect), so the
    // (user_id, bucket) equi-join + residual overlap predicate is lossless
    // at any span mix — the property fixed-width j9 only has when every
    // span equals the bucket. Shuffle volume stays O(Σ span/B + n): thin
    // (id, user, s, e, bucket) rows, never a pair blow-up; a skewed long
    // interval costs its own replication only. distinct() collapses pairs
    // that share 2 buckets, exactly as in j9.
    "j10_interval_varlen" -> ((s, d) => {
      val bucketUs = 3600000000L // 60 min — the max span in either set
      def intervals(tpe: String, spanUs: Column, idAs: String, sAs: String,
          eAs: String) =
        Tables.events(s, d).filter(col("event_type") === tpe)
          .select(col("event_id").as(idAs), col("user_id"),
            col("ts").as(sAs), (col("ts") + spanUs).as(eAs))
      def bucketed(df: DataFrame, sc: String, ec: String) =
        df.withColumn("bucket", explode(sequence(
          expr(s"$sc div $bucketUs"), expr(s"$ec div $bucketUs"))))
      val spanA = (lit(1L) + col("event_id") % 4) * lit(900000000L) // 15-60 min
      val spanB = (lit(1L) + col("user_id") % 3) * lit(600000000L) // 10-30 min
      val a = bucketed(intervals("purchase", spanA, "a_id", "a_s", "a_e"), "a_s", "a_e")
      val b = bucketed(intervals("error", spanB, "b_id", "b_s", "b_e"), "b_s", "b_e")
      a.join(b, Seq("user_id", "bucket"))
        .where(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
        .select("a_id", "b_id", "user_id").distinct()
        .orderBy("a_id", "b_id")
    }),

    // ---- per-key linear interpolation of missing values ----
    // Null values take prev + (next-prev) * (t-pt)/(nt-pt) on the ts
    // axis; a trailing gap forward-fills, a leading gap stays null. One
    // ordered window per key — no self-joins, no mapGroups.
    "ts_interpolate" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val wNext = w.rowsBetween(1, Window.unboundedFollowing)
      val pv = last(col("value"), ignoreNulls = true).over(wPrev)
      val pt = last(when(col("value").isNotNull, col("ts")), ignoreNulls = true)
        .over(wPrev)
      val nv = first(col("value"), ignoreNulls = true).over(wNext)
      val nt = first(when(col("value").isNotNull, col("ts")), ignoreNulls = true)
        .over(wNext)
      val interp = when(col("value").isNotNull, col("value"))
        .when(pv.isNotNull && nv.isNotNull,
          pv + (nv - pv) * ((col("ts") - pt).cast("double")
            / (nt - pt).cast("double")))
        .when(pv.isNotNull, pv)
        .otherwise(lit(null).cast("double"))
      Tables.events(s, d)
        .select(col("event_id"), round(interp, 6).as("value_interp"))
        .orderBy("event_id")
    }),

    // ---- canonical keep-first dedup (lowest id wins per digest) ----
    "dedup_keep_first" -> ((s, d) => {
      val wd = Window.partitionBy("digest").orderBy("doc_id")
      Tables.documents(s, d)
        .withColumn("digest", md5(col("text")))
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1)
        .select("doc_id", "digest")
        .orderBy("doc_id")
    }),

    // ---- F10: ANSI-safe try_* function family ----
    // Spark 4 runs ANSI mode by default, where bad casts and overflows
    // kill jobs; the try_* forms return null instead — the semantics a
    // 100 TB ingest pipeline wants for dirty data. DuckDB's natural
    // semantics (NULL division-by-zero, TRY_CAST, out-of-range list
    // index) line up exactly, so the family is hash-checkable.
    // sort-first, project-after (see Relational f1): the try_* battery
    // runs once on every core instead of twice on one
    "f10_try_fns" -> ((s, d) =>
      Tables.events(s, d).orderBy("event_id").select(
          col("event_id"),
          expr("try_divide(value, 0.0)").as("div0"),
          expr("try_divide(value, 2.0)").as("half"),
          expr("try_cast(event_type AS INT)").cast("long").as("bad_cast"),
          expr("try_cast(cast(user_id AS STRING) AS INT)").cast("long").as("rt_cast"),
          expr("try_element_at(split(event_type, '_'), 5)").as("oob"),
          expr("try_add(user_id, 1)").cast("long").as("inc"))),

    // ---- incremental aggregate maintenance (partials merge exactly) ----
    // The materialized-view refresh shape: a "yesterday" aggregate (events
    // before the cutoff) is MERGED with a delta batch's aggregate instead
    // of recomputing from raw facts. count/decimal-sum partials are
    // associative, so the merge is a groupBy over two tiny aggregate rows
    // per key — the oracle recomputes from scratch and must hash-match,
    // which is precisely the "incremental == full" refresh guarantee. The
    // avg is derived AFTER the merge from (sum, count), never averaged
    // across partials.
    "u6_incremental_agg" -> ((s, d) => {
      val cutoffUs = 1200L * 86400000000L // day 1200 — mid-range of the data
      val ev = Tables.events(s, d).select(col("event_type"), col("ts"), col("value"))
      def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("val_sum"))
      val base = agg(ev.filter(col("ts") < cutoffUs))
      val delta = agg(ev.filter(col("ts") >= cutoffUs))
      base.unionByName(delta)
        .groupBy("event_type")
        .agg(sum(col("n")).as("n"), sum(col("val_sum")).as("vs"))
        .select(col("event_type"), col("n"),
          col("vs").cast("double").as("val_sum"),
          (col("vs").cast("double") / col("n")).as("val_avg"))
        .orderBy("event_type")
    }),

    // ---- U7: incremental JOIN-view maintenance ----
    // u6 pins that plain aggregates refresh from deltas; this pins the
    // join-bearing case — the materialized view `revenue by order status`
    // over lineitem ⋈ orders. The delta path joins ONLY the new fact rows
    // (shipdate >= cutoff) to the dimension, aggregates them, and merges
    // with the base partials by re-summing; the oracle computes the view
    // directly from all raw rows, so the hash certifies delta-maintained
    // == full recompute (join distributes over the union of fact batches,
    // DECIMAL partials merge associatively). At 100 TB this is the
    // nightly-refresh pattern: touch only the new partition, never
    // re-join history.
    "u7_incremental_join" -> ((s, d) => {
      val cutoff = java.sql.Date.valueOf("1996-01-01")
      val dim = Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
      def part(df: DataFrame) = df
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).as("rev"))
      val li = Tables.lineitem(s, d)
      part(li.filter(col("l_shipdate") < cutoff))
        .unionByName(part(li.filter(col("l_shipdate") >= cutoff)))
        .groupBy("o_orderstatus")
        .agg(sum(col("n")).as("n"),
          sum(col("rev")).cast("double").as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // ---- U8: rollup-tree maintenance (day -> 30-day period re-agg) ----
    // The hierarchical form of u6: period totals are re-aggregated from
    // the daily materialization's partials, never from raw events; the
    // oracle aggregates raw rows straight to periods. Hash equality pins
    // that count/DECIMAL-sum partials merge associatively ACROSS rollup
    // levels — the invariant a lakehouse aggregation tree (day -> month
    // -> year) refresh depends on.
    "u8_rollup_tree" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(expr("ts div 86400000000").as("day"), col("value"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("vs"))
      daily.groupBy(expr("day div 30").as("period"))
        .agg(sum(col("n")).as("n"), sum(col("vs")).cast("double").as("val_sum"))
        .orderBy("period")
    }),

    // ---- A16: Welch's two-sample t-test (A/B experiment readout) ----
    // The unequal-variance t statistic and Welch–Satterthwaite df between
    // the click and view value populations — the analytics op an
    // experimentation pipeline runs per metric. Everything derives from
    // two (n, mean, var_samp) group aggregates (one partial-agg'd pass);
    // the two one-row branches broadcast-join. round(6) absorbs
    // summation-order ulps in the variance, as in a3/a5.
    "a16_welch_ttest" -> ((s, d) => {
      val g = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view") &&
          col("value").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          avg("value").as("m"), var_samp("value").as("v"))
      val x = g.filter(col("event_type") === "click")
        .select(col("n").as("nx"), col("m").as("mx"), col("v").as("vx"))
      val y = g.filter(col("event_type") === "view")
        .select(col("n").as("ny"), col("m").as("my"), col("v").as("vy"))
      val sex = col("vx") / col("nx")
      val sey = col("vy") / col("ny")
      x.crossJoin(broadcast(y))
        .select(
          col("nx").cast("long").as("nx"), col("ny").cast("long").as("ny"),
          round(col("mx"), 6).as("mean_x"), round(col("my"), 6).as("mean_y"),
          round((col("mx") - col("my")) / sqrt(sex + sey), 6).as("t_stat"),
          round(pow(sex + sey, 2) /
            (pow(sex, 2) / (col("nx") - 1) + pow(sey, 2) / (col("ny") - 1)),
            6).as("df"))
    }),

    // ---- concentration report: exact Gini + top-decile share ----
    // The inequality diagnostics behind "whales" dashboards: per event
    // type, the Gini coefficient of per-user revenue (rank formulation
    // G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n over ascending ranks) and the
    // revenue share of the top decile of users. All sums ride DECIMAL so
    // rank-weighted totals are exact; the final divisions are the only
    // doubles and are written identically on both sides.
    //
    // SCALE SHAPE: the exact Gini needs EVERY per-user rank, so a
    // Window.partitionBy(event_type) rank would sort each type's entire
    // user population in ONE task (event_type has ~5 values — the ranked
    // row count grows with users, and no group-limit can save a sum that
    // needs all ranks). Instead rank globally via Ranking.globalRank's
    // range-exchange + per-partition-offset sort on (event_type, r,
    // user_id) — a fully distributed sort — and recover the per-type rank
    // by subtracting each type's first global rank (a ~5-row broadcast).
    "events_gini" -> ((s, d) => {
      val rev = Tables.events(s, d).filter(col("value").isNotNull)
        .groupBy("event_type", "user_id")
        .agg(sum(col("value").cast("decimal(18,6)")).as("r"))
      val ranked = Ranking.globalRank(rev,
        Seq(col("event_type"), col("r"), col("user_id")), partitions = 32,
        rankCol = "g")
      val offs = ranked.groupBy("event_type")
        .agg(min(col("g")).as("g0"), count(lit(1)).as("n_w"))
      val rk = ranked.join(broadcast(offs), "event_type")
        .withColumn("i", col("g") - col("g0") + lit(1L))
      rk.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("r")).cast("double").as("s0"),
          sum(col("r") * col("i")).cast("double").as("s1"),
          sum(when(col("i") > col("n_w") - (col("n_w") / 10).cast("long"),
            col("r"))).cast("double").as("top_r"))
        .select(col("event_type"), col("n"),
          round(lit(2.0) * col("s1") / (col("n").cast("double") * col("s0"))
            - (col("n").cast("double") + 1.0) / col("n").cast("double"), 6)
            .as("gini"),
          round(col("top_r") / col("s0"), 6).as("top_decile_share"))
        .orderBy("event_type")
    }),

    // ---- seasonality profile: day-of-week volume + chi-square ----
    // The traffic-shape diagnostic: per event type, the 7-day-of-week
    // count profile plus the chi-square statistic against a uniform
    // profile (big chi2 = strongly weekly-patterned type). dow is pure
    // integer epoch-day arithmetic ((day + 4) % 7: 1970-01-01 was a
    // Thursday), so no calendar-locale parity risk; two bounded hash aggs.
    "events_seasonality" -> ((s, d) => {
      val dayUs = 86400L * 1000000L
      val prof = Tables.events(s, d)
        .select(col("event_type"),
          ((expr(s"ts div $dayUs") + 4) % 7).as("dow"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"))
      val tot = prof.groupBy("event_type").agg(sum("n").as("n_type"))
      prof.join(broadcast(tot), "event_type")
        .withColumn("expected", col("n_type").cast("double") / 7.0)
        .groupBy("event_type")
        .agg(max(col("n_type")).as("n_type"),
          round(sum(pow(col("n").cast("double") - col("expected"), 2) /
            col("expected")), 6).as("chi2"),
          (max(col("n") * 10 + col("dow")) % 10).as("peak_dow"))
        .orderBy("event_type")
    }),

    // ---- O7: snapshot diff (changelog between two table states) ----
    // The audit op behind incremental publishing: compare per-user
    // aggregate state at the event-time midpoint (snapshot A) vs now
    // (snapshot B) and classify each key as added / changed / same —
    // exactly what an Iceberg-style changelog reader materializes. One
    // full-outer join of two partial-agg'd snapshots on the key; decimal
    // sums make 'changed' exact, not ulp-dependent.
    "o7_snapshot_diff" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val mid = {
        val b = ev.agg(min(col("ts")), max(col("ts"))).head()
        b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      }
      def snap(df: DataFrame) = df.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("vs"))
      val a = snap(ev.filter(col("ts") < mid))
        .select(col("user_id"), col("n").as("n_a"), col("vs").as("vs_a"))
      val b = snap(ev)
        .select(col("user_id"), col("n").as("n_b"), col("vs").as("vs_b"))
      a.join(b, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          when(col("n_a").isNull, "added")
            .when(col("n_a") =!= col("n_b") || col("vs_a") =!= col("vs_b"),
              "changed")
            .otherwise("same").as("status"),
          coalesce(col("n_a"), lit(0L)).as("n_a"), col("n_b"),
          coalesce(col("vs_a").cast("double"), lit(0.0)).as("v_a"),
          col("vs_b").cast("double").as("v_b"))
        .orderBy("user_id")
    }),

    // ---- A19: equi-width histogram per group ----
    // The distribution report behind every profiling dashboard: 50-wide
    // value bins per event type with explicit bounds, empty bins absent.
    // floor(value / 50) is deterministic on both engines; one hash agg on
    // a bounded (type, bin) key space.
    "a19_histogram" -> ((s, d) =>
      Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"),
          floor(col("value") / 50.0).cast("long").as("bin"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bin"),
          (col("bin") * 50.0).as("lo"), ((col("bin") + 1) * 50.0).as("hi"),
          col("n"))
        .orderBy("event_type", "bin")),

    // ---- A20: custom typed Aggregator (Welford online variance) ----
    // The org.apache.spark.sql.expressions.Aggregator extension point —
    // a numerically-stable single-pass variance whose (n, mean, M2) state
    // merges associatively across partitions (Chan et al.), registered
    // via functions.udaf and planned as a normal two-phase hash
    // aggregate. round(6) absorbs merge-order ulps exactly as the
    // built-in var_samp oracle pairing (a3) does; the POINT is the
    // user-defined aggregate surface, checked against DuckDB's var_samp.
    "a20_welford_agg" -> ((s, d) =>
      Tables.events(s, d).filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(WelfordVar.udafCol(col("value")), 6).as("var_w"))
        .orderBy("event_type")),

    // ---- market-basket association: support / confidence / lift ----
    // The classic co-occurrence analysis (baskets = users, items = event
    // types): for every ordered item pair, support, confidence and lift.
    // Scale shape: baskets reduce to DISTINCT (user, type) rows first
    // (bounded by users x |type vocabulary|, never raw events), the pair
    // space is a self-equi-join on the basket key, and the per-item
    // totals broadcast back onto the tiny pair frame. Ratios divide
    // exact integers, so round(6) is pure presentation.
    "events_basket_lift" -> ((s, d) => {
      val items = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val nUsers = items.select("user_id").distinct()
        .agg(count(lit(1)).as("n_users"))
      val itemN = items.groupBy("event_type")
        .agg(count(lit(1)).as("n_item"))
      val pairs = items.as("a")
        .join(items.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("item_a"),
          col("b.event_type").as("item_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(itemN.select(col("event_type").as("item_a"),
          col("n_item").as("n_a"))), "item_a")
        .join(broadcast(itemN.select(col("event_type").as("item_b"),
          col("n_item").as("n_b"))), "item_b")
        .crossJoin(broadcast(nUsers))
        .select(col("item_a"), col("item_b"), col("n_ab"),
          round(col("n_ab").cast("double") / col("n_users"), 6).as("support"),
          round(col("n_ab").cast("double") / col("n_a"), 6).as("confidence"),
          round((col("n_ab") * col("n_users")).cast("double") /
            (col("n_a") * col("n_b")), 6).as("lift"))
        .orderBy("item_a", "item_b")
    }),

    // ---- U10: point-in-time lookup against SCD-2 versions ----
    // The feature-store correctness primitive: for each fact (purchase),
    // the dimension version that was valid AT the fact's event time —
    // never a later one (label leakage) and never an earlier one once
    // superseded. Versions are the u5_scd2 intervals (same two windows);
    // same-instant version ties keep the highest version (the state after
    // all of that instant's changes). The lookup is AsOfJoin's tagged
    // union + one window pass — one user_id exchange, no row
    // amplification — against DuckDB's native ASOF LEFT JOIN.
    "u10_pit_lookup" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val changed = Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
      val versions = changed.select(col("user_id"),
        col("event_type").as("state_type"), col("ts").as("valid_from"),
        row_number().over(w).cast("long").as("version"))
      val wTie = Window.partitionBy("user_id", "valid_from")
        .orderBy(col("version").desc)
      val dim = versions.withColumn("rn", row_number().over(wTie))
        .filter(col("rn") === 1).drop("rn")
      val facts = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOfJoin.asOfLeft(facts, dim, Seq("user_id"), "ts", "valid_from",
          Seq("state_type", "version"))
        .select(col("event_id"), col("user_id"),
          col("asof_state_type").as("state_type"),
          col("asof_version").as("version"),
          col("asof_valid_from").as("valid_from_us"))
        .orderBy("event_id")
    }),

    // ---- DQ1: dataset profiler (Deequ-style) ----
    // The profiling report a warehouse computes before trusting a feed:
    // per column — nulls, exact distinct count, min/max (as strings so one
    // long-format schema fits every type). Shape: one PRUNED single-column
    // scan + two-phase agg per profiled column, results unioned — NOT one
    // multi-distinct aggregate, whose Expand multiplies every row by
    // (columns+1) and shuffles the whole inflated input (measured 8.7 s vs
    // 2 s at sf0.1). Per-column, the exchange carries only partial
    // (distinct-value) rows, and each scan reads exactly one column.
    "dq_profile" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate")
      cols.map { c =>
        li.select(col(c))
          .agg(lit(c).as("column"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).cast("string").as("min_s"),
            max(col(c)).cast("string").as("max_s"))
          .select("column", "n_null", "n_distinct", "min_s", "max_s")
      }.reduce(_.unionByName(_)).orderBy("column")
    }),

    // ---- DQ2: constraint validation (dbt-test / Deequ checks) ----
    // The contract gate a pipeline runs per batch: PK uniqueness
    // ((l_orderkey, l_linenumber)), FK referential integrity
    // (orders.o_custkey ⊆ customer.c_custkey — anti-join count), domain
    // membership (l_returnflag ∈ {A,N,R}), and range sanity
    // (0 <= l_discount <= 0.1). Each check is a thin aggregate; the FK
    // anti-join broadcasts the key side. Output: one row per check with
    // its violation count and pass flag — all-zero on a clean feed, and
    // any regression flips a flag and the hash.
    "dq_constraints" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val pkDup = li.groupBy("l_orderkey", "l_linenumber")
        .count().filter(col("count") > 1)
        .agg(coalesce(sum(col("count") - 1), lit(0L)).as("v"))
        .select(lit("pk_unique_lineitem").as("chk"), col("v"))
      val fkOrphan = Tables.orders(s, d).select(col("o_custkey"))
        .join(broadcast(Tables.customer(s, d).select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("v"))
        .select(lit("fk_orders_customer").as("chk"), col("v"))
      val domain = li
        .agg(sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
          .otherwise(0L)).as("v"))
        .select(lit("domain_returnflag").as("chk"), col("v"))
      val range = li
        .agg(sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("v"))
        .select(lit("range_discount").as("chk"), col("v"))
      pkDup.unionByName(fkOrphan).unionByName(domain).unionByName(range)
        .select(col("chk"), col("v").as("violations"),
          (col("v") === 0).as("ok"))
        .orderBy("chk")
    }),

    // ---- distribution drift between corpus snapshots ----
    // The monitor a crawl pipeline runs between ingests: compare the
    // base slice (doc_id % 5 != 4 — "yesterday's corpus") against the
    // delta slice ("today's batch") per feature and report total
    // variation distance + a chi-square-style statistic. Metrics are
    // PURE RATIONAL arithmetic on smoothed frequencies (no ln — a PSI
    // would drag libm ulp differences into the hash), so both engines
    // compute identical doubles. Numeric features bucket on the BASE
    // slice's bounds (integer-exact width math, deltas clamped into
    // [0,9]); categoricals compare over the union of observed values
    // with +1 smoothing. Scale shape: two bounded aggs per feature
    // (bucket/category cardinality, never rows) + a one-row bounds
    // broadcast for the numeric bucketing.
    "dq_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isDelta = col("doc_id") % 5 === 4
      def drift(feature: String, keyed: DataFrame, k: Int): DataFrame = {
        val counts = keyed.groupBy("key")
          .agg(count(when(!col("is_delta"), 1)).as("nb"),
            count(when(col("is_delta"), 1)).as("nd"))
        val tot = keyed.agg(
          count(when(!col("is_delta"), 1)).as("tb"),
          count(when(col("is_delta"), 1)).as("td"))
        // per-bucket terms are identical doubles on both engines (pure
        // rational arithmetic); quantize each term to 2^-30 and sum the
        // integers so the REDUCTION is order-free too (the quality_lr
        // trick) — a plain double sum would hash-depend on agg order
        val Q = 1073741824.0 // 2^30
        counts.crossJoin(tot)
          .withColumn("pb",
            (col("nb") + 1).cast("double") / (col("tb") + k))
          .withColumn("pd",
            (col("nd") + 1).cast("double") / (col("td") + k))
          .agg(
            round(sum(floor(abs(col("pb") - col("pd")) * Q)
              .cast("decimal(38,0)")).cast("double") / Q / 2.0, 6)
              .as("tv_dist"),
            round(sum(floor((col("pd") - col("pb")) * (col("pd") - col("pb"))
              / col("pb") * Q)
              .cast("decimal(38,0)")).cast("double") / Q, 6).as("chi2"),
            max(col("tb")).as("n_base"), max(col("td")).as("n_delta"))
          .select(lit(feature).as("feature"), col("tv_dist"), col("chi2"),
            col("n_base"), col("n_delta"))
      }
      val bounds = docs.filter(!isDelta)
        .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      val numeric = docs.crossJoin(bounds)
        .select(greatest(lit(0L), least(lit(9L),
          expr("(n_chars - lo) * 10 div (hi - lo + 1)"))).as("key"),
          isDelta.as("is_delta"))
      def cat(c: String) =
        docs.select(col(c).as("key"), isDelta.as("is_delta"))
      drift("n_chars", numeric, 10)
        .unionByName(drift("lang", cat("lang"), 5))
        .unionByName(drift("source", cat("source"), 20))
        .orderBy("feature")
    }),

    // ---- U9: CUBE aggregation over (status, priority) ----
    // All four grouping combinations in ONE pass (Catalyst expands the
    // cube and partial-aggs each combination before the exchange — no
    // 4x re-scan), with grouping_id distinguishing the cube-introduced
    // nulls from data nulls. Decimal sums keep totals exact across the
    // expanded groups; first grouping column = most significant gid bit
    // on both engines (verified: Spark grouping_id ≡ DuckDB GROUPING).
    "u9_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
        .orderBy(col("gid"), col("status"), col("priority"))),

    // ---- A18: exact percentiles (cont + disc) per event type ----
    // percentile_cont's linear interpolation and percentile_disc's
    // first-at-or-above-p pick, WITHIN GROUP per event_type. Exact
    // percentile buffers each group's values — the verification-scale
    // semantics; at 100 TB the scale path is the sketch the x3 quantile
    // gate pins (approx_percentile / t-digest), with this entry as its
    // exactness reference. round(6) absorbs interpolation-expression ulps
    // between engines, as in a16.
    "a18_percentiles" -> ((s, d) => {
      Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), col("value"))
        .createOrReplaceTempView("graft_a18_ev")
      s.sql("""SELECT event_type,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS p50,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 6) AS p90,
        |  round(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 6) AS p99,
        |  round(percentile_disc(0.5) WITHIN GROUP (ORDER BY value), 6) AS p50_disc
        |FROM graft_a18_ev GROUP BY event_type ORDER BY event_type"""
        .stripMargin)
    }),

    // ---- Z-order (Morton) multi-dimensional layout clustering ----
    // The data-layout pass behind "OPTIMIZE ZORDER BY (a, b)": map each row
    // to a 3-bit-per-dimension grid coordinate via exact octile cut points
    // (one distributed percentile agg, broadcast back — at 100 TB swap in
    // approx_percentile; the grid is the layout, not the answer), then
    // interleave bits into a 6-bit Morton cell. Writing files in cell order
    // bounds BOTH dimensions per file, so min/max file stats prune scans
    // filtered on either column. The interleave is pure integer div/mod
    // (no shift-builtin parity risk between engines). Per-cell output =
    // the file-stats table a lakehouse keeps: row count + per-cell min/max
    // of both raw columns. No global-sort window anywhere: percentile agg,
    // broadcast, per-row math, one groupBy.
    "layout_zorder" -> ((s, d) =>
      zorderCells(s, d)
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          min("x").as("x_cell"), min("y").as("y_cell"),
          min("o_custkey").as("ck_min"), max("o_custkey").as("ck_max"),
          min("o_totalprice").as("tp_min"), max("o_totalprice").as("tp_max"))
        .orderBy("cell")),

    // ---- Z-order locality certificate ----
    // Proves the interleave actually clusters the SECOND dimension: group
    // the 64 cells into 8 consecutive Morton blocks (cell div 8 — what 8
    // equal-size files would contain when written in cell order) and
    // measure each block's y-extent, vs blocking the same cells by x alone
    // (a single-column sort layout). Morton blocks bound y tightly (low
    // y-bits vary inside a block); x-sorted blocks span all of y. All
    // integer arithmetic — the certificate is exact on both engines.
    "layout_zorder_gate" -> ((s, d) => {
      val cells = zorderCells(s, d).select("cell", "x", "y").distinct()
      val z = cells.groupBy(expr("cell div 8").as("zb"))
        .agg((max("y") - min("y")).as("span"))
        .agg(avg("span").as("avg_yspan_z"))
      val xs = cells.groupBy("x")
        .agg((max("y") - min("y")).as("span"))
        .agg(avg("span").as("avg_yspan_x"))
      z.crossJoin(broadcast(xs))
        .select(round(col("avg_yspan_z"), 6).as("avg_yspan_z"),
          round(col("avg_yspan_x"), 6).as("avg_yspan_x"),
          (col("avg_yspan_z") < col("avg_yspan_x")).as("locality_ok"))
    })
  )

  /** Shared prep for the layout queries: orders rows tagged with octile
    * grid coordinates (x from o_custkey, y from o_totalprice) and their
    * 6-bit Morton cell. */
  private def zorderCells(s: SparkSession, d: String): DataFrame = {
    val fr = typedLit((1 to 7).map(_ / 8.0))
    val cuts = Tables.orders(s, d).agg(
      percentile(col("o_custkey"), fr).as("cx"),
      percentile(col("o_totalprice"), fr).as("cy"))
    Tables.orders(s, d).crossJoin(broadcast(cuts))
      .withColumn("x",
        size(filter(col("cx"), c => c <= col("o_custkey"))).cast("long"))
      .withColumn("y",
        size(filter(col("cy"), c => c <= col("o_totalprice"))).cast("long"))
      .withColumn("cell", expr(
        "(x % 2) + ((x div 2) % 2) * 4 + ((x div 4) % 2) * 16" +
          " + (y % 2) * 2 + ((y div 2) % 2) * 8 + ((y div 4) % 2) * 32"))
  }

  /** Shared oracle CTE prep mirroring [[zorderCells]]. */
  private val zorderCellsSql: String =
    """WITH cuts AS (
      |  SELECT quantile_cont(o_custkey, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cx,
      |         quantile_cont(o_totalprice, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cy
      |  FROM orders),
      |pt AS (
      |  SELECT o_custkey, o_totalprice,
      |    len(list_filter(cx, c -> c <= o_custkey)) AS x,
      |    len(list_filter(cy, c -> c <= o_totalprice)) AS y
      |  FROM orders, cuts),
      |cellpt AS (
      |  SELECT *,
      |    (x % 2) + ((x // 2) % 2) * 4 + ((x // 4) % 2) * 16
      |      + (y % 2) * 2 + ((y // 2) % 2) * 8 + ((y // 4) % 2) * 32 AS cell
      |  FROM pt)""".stripMargin

  val oracles: Map[String, String] = Map(
    "a16_welch_ttest" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |         avg(value) AS m, var_samp(value) AS v
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |  GROUP BY event_type),
        |x AS (SELECT n AS nx, m AS mx, v AS vx FROM g WHERE event_type = 'click'),
        |y AS (SELECT n AS ny, m AS my, v AS vy FROM g WHERE event_type = 'view')
        |SELECT CAST(nx AS BIGINT) AS nx, CAST(ny AS BIGINT) AS ny,
        |  round(mx, 6) AS mean_x, round(my, 6) AS mean_y,
        |  round((mx - my) / sqrt(vx / nx + vy / ny), 6) AS t_stat,
        |  round(pow(vx / nx + vy / ny, 2) /
        |        (pow(vx / nx, 2) / (nx - 1) + pow(vy / ny, 2) / (ny - 1)), 6)
        |    AS df
        |FROM x, y""".stripMargin,
    "layout_zorder" -> (zorderCellsSql +
      """
        |SELECT cell, count(*) AS n,
        |  min(x) AS x_cell, min(y) AS y_cell,
        |  min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
        |  min(o_totalprice) AS tp_min, max(o_totalprice) AS tp_max
        |FROM cellpt GROUP BY cell ORDER BY cell""".stripMargin),
    "layout_zorder_gate" -> (zorderCellsSql +
      """,
        |cells AS (SELECT DISTINCT cell, x, y FROM cellpt),
        |z AS (
        |  SELECT avg(span) AS avg_yspan_z FROM (
        |    SELECT cell // 8 AS zb, max(y) - min(y) AS span
        |    FROM cells GROUP BY 1)),
        |xs AS (
        |  SELECT avg(span) AS avg_yspan_x FROM (
        |    SELECT x, max(y) - min(y) AS span FROM cells GROUP BY 1))
        |SELECT round(avg_yspan_z, 6) AS avg_yspan_z,
        |  round(avg_yspan_x, 6) AS avg_yspan_x,
        |  avg_yspan_z < avg_yspan_x AS locality_ok
        |FROM z, xs""".stripMargin),
    "f11_variant" ->
      """SELECT event_id,
        |  json_extract(props, '$.k')::BIGINT AS k,
        |  json_extract(props, '$.missing')::BIGINT AS k_missing,
        |  CAST(json_object('k', json_extract(props, '$.k')::BIGINT) AS VARCHAR)
        |    AS js_rt
        |FROM events WHERE props IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "f5_json_fns" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  to_json(struct_pack(id := event_id, t := event_type)) AS js,
        |  json_extract_string(to_json(struct_pack(t := event_type)), '$.t') AS t_rt
        |FROM events ORDER BY event_id""".stripMargin,
    "f6_bitwise_fns" ->
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS b_and,
        |  o_orderkey | 4096 AS b_or,
        |  xor(o_orderkey, 1023) AS b_xor,
        |  o_orderkey << 3 AS b_shl,
        |  o_orderkey >> 2 AS b_shr,
        |  CAST(bit_count(o_orderkey) AS BIGINT) AS b_pop
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "f7_regex_fns" ->
      """SELECT p_partkey,
        |  regexp_extract(p_brand, '[0-9]+') AS brand_num,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
        |  regexp_matches(p_name, '^[a-m]') AS starts_am,
        |  CAST(len(regexp_extract_all(p_type, '[A-Z]+')) AS BIGINT) AS n_upper_runs,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_fields
        |FROM part ORDER BY p_partkey""".stripMargin,
    "a14_regression_aggs" ->
      """SELECT l_returnflag,
        |  regr_count(l_extendedprice, l_quantity) AS n,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a15_cond_aggs" ->
      """SELECT event_type,
        |  CAST(count_if(value > 50.0) AS BIGINT) AS n_hi,
        |  bool_and(value >= 0.0) AS all_true,
        |  bool_or(value > 99.9) AS any_top,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE value > 50.0)
        |       AS DOUBLE) AS sum_hi
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "u5_scd2" ->
      """WITH o AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pt
        |  FROM events),
        |c AS (SELECT user_id, event_type, us, event_id FROM o
        |      WHERE pt IS NULL OR pt <> event_type)
        |SELECT user_id, event_type, us AS valid_from,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS version
        |FROM c ORDER BY user_id, version""".stripMargin,
    "j9_interval_overlap" ->
      """WITH a AS (SELECT event_id AS a_id, user_id, epoch_us(ts) AS a_s,
        |                  epoch_us(ts) + 1800000000 AS a_e
        |           FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT event_id AS b_id, user_id, epoch_us(ts) AS b_s,
        |             epoch_us(ts) + 1800000000 AS b_e
        |      FROM events WHERE event_type = 'error')
        |SELECT a_id, b_id, user_id
        |FROM a JOIN b USING (user_id)
        |WHERE a_s <= b_e AND b_s <= a_e
        |ORDER BY a_id, b_id""".stripMargin,
    // heterogeneous spans: the oracle is the plain inequality join over the
    // same per-row span formulas — bucketing must not change the pair set
    "j10_interval_varlen" ->
      """WITH a AS (SELECT event_id AS a_id, user_id, epoch_us(ts) AS a_s,
        |                  epoch_us(ts) + (1 + event_id % 4) * 900000000 AS a_e
        |           FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT event_id AS b_id, user_id, epoch_us(ts) AS b_s,
        |             epoch_us(ts) + (1 + user_id % 3) * 600000000 AS b_e
        |      FROM events WHERE event_type = 'error')
        |SELECT a_id, b_id, user_id
        |FROM a JOIN b USING (user_id)
        |WHERE a_s <= b_e AND b_s <= a_e
        |ORDER BY a_id, b_id""".stripMargin,
    "ts_interpolate" ->
      """WITH t AS (
        |  SELECT event_id, value, epoch_us(ts) AS us,
        |    last_value(value IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |    last_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
        |    first_value(value IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN value IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
        |  FROM events)
        |SELECT event_id,
        |  round(CASE WHEN value IS NOT NULL THEN value
        |        WHEN pv IS NOT NULL AND nv IS NOT NULL
        |          THEN pv + (nv - pv) * (CAST(us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |        WHEN pv IS NOT NULL THEN pv
        |        ELSE NULL END, 6) AS value_interp
        |FROM t ORDER BY event_id""".stripMargin,
    "dedup_keep_first" ->
      """SELECT doc_id, digest FROM (
        |  SELECT doc_id, md5(text) AS digest,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "f10_try_fns" ->
      """SELECT event_id,
        |  value / 0.0 AS div0,
        |  value / 2.0 AS half,
        |  CAST(TRY_CAST(event_type AS INTEGER) AS BIGINT) AS bad_cast,
        |  CAST(TRY_CAST(CAST(user_id AS VARCHAR) AS INTEGER) AS BIGINT) AS rt_cast,
        |  (string_split(event_type, '_'))[5] AS oob,
        |  user_id + 1 AS inc
        |FROM events ORDER BY event_id""".stripMargin,
    // full recompute from raw facts — the incremental merge must equal it
    "u6_incremental_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS val_avg
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "u7_incremental_join" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |               AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "u8_rollup_tree" ->
      """SELECT (epoch_us(ts) // 86400000000) // 30 AS period,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY period ORDER BY period""".stripMargin,
    "events_gini" ->
      """WITH rev AS (
        |  SELECT event_type, user_id,
        |    sum(CAST(value AS DECIMAL(18,6))) AS r
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type, user_id),
        |rk AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY r, user_id)
        |      AS i,
        |    count(*) OVER (PARTITION BY event_type) AS n_w
        |  FROM rev),
        |g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(r) AS DOUBLE) AS s0,
        |    CAST(sum(r * i) AS DOUBLE) AS s1,
        |    CAST(sum(CASE WHEN i > n_w - (n_w // 10) THEN r END) AS DOUBLE)
        |      AS top_r
        |  FROM rk GROUP BY event_type)
        |SELECT event_type, n,
        |  round(2.0 * s1 / (CAST(n AS DOUBLE) * s0)
        |        - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini,
        |  round(top_r / s0, 6) AS top_decile_share
        |FROM g ORDER BY event_type""".stripMargin,
    "events_seasonality" ->
      """WITH prof AS (
        |  SELECT event_type,
        |    ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type, dow),
        |tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type
        |        FROM prof GROUP BY event_type)
        |SELECT p.event_type,
        |  CAST(max(t.n_type) AS BIGINT) AS n_type,
        |  round(sum(pow(CAST(p.n AS DOUBLE) - CAST(t.n_type AS DOUBLE) / 7.0, 2)
        |            / (CAST(t.n_type AS DOUBLE) / 7.0)), 6) AS chi2,
        |  CAST(max(p.n * 10 + p.dow) % 10 AS BIGINT) AS peak_dow
        |FROM prof p JOIN tot t USING (event_type)
        |GROUP BY p.event_type ORDER BY p.event_type""".stripMargin,
    "o7_snapshot_diff" ->
      """WITH bounds AS (
        |  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
        |  FROM events),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_a,
        |        sum(CAST(value AS DECIMAL(18,6))) AS vs_a
        |      FROM events, bounds
        |      WHERE epoch_us(ts) < mn + (mx - mn) // 2 GROUP BY user_id),
        |b AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_b,
        |        sum(CAST(value AS DECIMAL(18,6))) AS vs_b
        |      FROM events GROUP BY user_id)
        |SELECT b.user_id,
        |  CASE WHEN a.user_id IS NULL THEN 'added'
        |       WHEN a.n_a != b.n_b OR a.vs_a != b.vs_b THEN 'changed'
        |       ELSE 'same' END AS status,
        |  coalesce(a.n_a, 0) AS n_a, b.n_b,
        |  CAST(coalesce(a.vs_a, 0) AS DOUBLE) AS v_a,
        |  CAST(b.vs_b AS DOUBLE) AS v_b
        |FROM b LEFT JOIN a USING (user_id)
        |ORDER BY b.user_id""".stripMargin,
    "a19_histogram" ->
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |  floor(value / 50.0) * 50.0 AS lo,
        |  (floor(value / 50.0) + 1) * 50.0 AS hi,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type, bin, lo, hi
        |ORDER BY event_type, bin""".stripMargin,
    "a20_welford_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(var_samp(value), 6) AS var_w
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_basket_lift" ->
      """WITH it AS (SELECT DISTINCT user_id, event_type FROM events),
        |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM it),
        |itn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_item
        |        FROM it GROUP BY event_type),
        |p AS (
        |  SELECT a.event_type AS item_a, b.event_type AS item_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM it a JOIN it b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY item_a, item_b)
        |SELECT p.item_a, p.item_b, p.n_ab,
        |  round(p.n_ab::DOUBLE / nu.n_users, 6) AS support,
        |  round(p.n_ab::DOUBLE / na.n_item, 6) AS confidence,
        |  round((p.n_ab * nu.n_users)::DOUBLE / (na.n_item * nb.n_item), 6)
        |    AS lift
        |FROM p
        |JOIN itn na ON na.event_type = p.item_a
        |JOIN itn nb ON nb.event_type = p.item_b, nu
        |ORDER BY item_a, item_b""".stripMargin,
    "u10_pit_lookup" ->
      """WITH w AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type AS state_type, tus AS valid_from,
        |    row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |      AS version
        |  FROM w WHERE prev IS NULL OR prev != event_type),
        |dim AS (
        |  SELECT * FROM ch
        |  QUALIFY row_number() OVER (PARTITION BY user_id, valid_from
        |    ORDER BY version DESC) = 1),
        |f AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events
        |      WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, d.state_type,
        |  CAST(d.version AS BIGINT) AS version, d.valid_from AS valid_from_us
        |FROM f ASOF LEFT JOIN dim d
        |  ON f.user_id = d.user_id AND f.tus >= d.valid_from
        |ORDER BY event_id""".stripMargin,
    // same rational frequencies + 2^30-quantized order-free sums
    "dq_drift" -> {
      def block(feature: String, src: String, k: Int) =
        s"""SELECT '$feature' AS feature,
           |  round(CAST(sum(CAST(floor(abs(pb - pd) * 1073741824.0)
           |      AS HUGEINT)) AS DOUBLE) / 1073741824.0 / 2.0, 6)
           |    AS tv_dist,
           |  round(CAST(sum(CAST(floor((pd - pb) * (pd - pb) / pb * 1073741824.0)
           |      AS HUGEINT)) AS DOUBLE) / 1073741824.0, 6) AS chi2,
           |  CAST(max(tb) AS BIGINT) AS n_base,
           |  CAST(max(td) AS BIGINT) AS n_delta
           |FROM (
           |  SELECT c.nb, c.nd, t.tb, t.td,
           |    CAST(c.nb + 1 AS DOUBLE) / (t.tb + $k) AS pb,
           |    CAST(c.nd + 1 AS DOUBLE) / (t.td + $k) AS pd
           |  FROM (SELECT key, count(*) FILTER (WHERE NOT is_delta) AS nb,
           |               count(*) FILTER (WHERE is_delta) AS nd
           |        FROM $src GROUP BY key) c,
           |       (SELECT count(*) FILTER (WHERE NOT is_delta) AS tb,
           |               count(*) FILTER (WHERE is_delta) AS td
           |        FROM $src) t)""".stripMargin
      s"""WITH d0 AS MATERIALIZED (
         |  SELECT doc_id, n_chars, lang, source,
         |    doc_id % 5 = 4 AS is_delta
         |  FROM documents),
         |bounds AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi
         |           FROM d0 WHERE NOT is_delta),
         |num AS (SELECT greatest(0, least(9,
         |          (n_chars - lo) * 10 // (hi - lo + 1))) AS key, is_delta
         |        FROM d0, bounds),
         |lng AS (SELECT lang AS key, is_delta FROM d0),
         |src AS (SELECT source AS key, is_delta FROM d0)
         |${block("n_chars", "num", 10)}
         |UNION ALL
         |${block("lang", "lng", 5)}
         |UNION ALL
         |${block("source", "src", 20)}
         |ORDER BY feature""".stripMargin
    },
    "dq_profile" -> {
      val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate")
      val rows = cols.map { c =>
        s"""SELECT '$c' AS "column",
          |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_null,
          |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
          |  CAST(min($c) AS VARCHAR) AS min_s,
          |  CAST(max($c) AS VARCHAR) AS max_s
          |FROM lineitem""".stripMargin
      }
      rows.mkString("\nUNION ALL\n") + "\nORDER BY \"column\""
    },
    "dq_constraints" ->
      """SELECT 'domain_returnflag' AS chk,
        |  CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1
        |           ELSE 0 END) AS BIGINT) AS violations,
        |  sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1
        |      ELSE 0 END) = 0 AS ok
        |FROM lineitem
        |UNION ALL
        |SELECT 'fk_orders_customer',
        |  CAST(count(*) AS BIGINT),
        |  count(*) = 0
        |FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'pk_unique_lineitem',
        |  CAST(coalesce(sum(c - 1), 0) AS BIGINT),
        |  coalesce(sum(c - 1), 0) = 0
        |FROM (SELECT count(*) AS c FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
        |UNION ALL
        |SELECT 'range_discount',
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1
        |           ELSE 0 END) AS BIGINT),
        |  sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1
        |      ELSE 0 END) = 0
        |FROM lineitem
        |ORDER BY chk""".stripMargin,
    "u9_cube" ->
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  o_orderstatus AS status, o_orderpriority AS priority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,
    "a18_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99,
        |  round(quantile_disc(value, 0.5), 6) AS p50_disc
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
