package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import DecimalSums._

/** Multidimensional-OLAP depth beyond the reference's flat groupBys:
  * rollup/cube/grouping-sets lattices, window-frame statistics, a banded
  * (bucketized) range join, TPC-H-style headline star joins, and accuracy
  * certificates for Spark's sketch aggregates (HLL++, t-digest-style
  * percentile). Every entry follows the oracle-parity conventions of
  * [[Relational]]: identical aliases both sides, ORDER BY a unique key, and
  * double sums routed through DECIMAL so partial-aggregation order can't
  * flip a bit. The testdata is 2-decimal money / 2-decimal rates, so
  * per-row products have <=4 (x1 rate) or <=6 (x2 rates) true decimal
  * places and the DECIMAL casts below are exact, not rounding.
  *
  * Scale notes (100 TB): rollup/cube/grouping-sets expand each input row
  * once per grouping set AFTER partial aggregation (Spark's Expand sits
  * under the shuffle), so the shuffle carries group rows, not data rows.
  * The banded range join shuffles each fact row once keyed by its time
  * bucket, never materializing the quadratic pair space a nested-loop
  * inequality join would. The sketch gates aggregate to a single row via
  * partial combiners — no driver-side collection anywhere.
  */
object Olap {

  /** Whole days since epoch of a (UTC, midnight-aligned) timestamp column. */
  private def epochDay(ts: Column): Column =
    floor(unix_timestamp(ts) / 86400L).cast("long")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A10: rollup lattice (subtotals + grand total in one pass) ----
    // Expand happens below the partial agg: at 100 TB the shuffle carries
    // 3 grouping-set group rows per (flag,status), not 3x the fact table.
    "a10_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))),

    // ---- A11: cube lattice over two independent dimensions ----
    "a11_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("revenue"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))),

    // ---- A12: explicit grouping sets ((flag),(status),()) ----
    "a12_grouping_sets" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("sum_price"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))),

    // ---- W5: distribution window functions (ntile / percent_rank /
    // cume_dist) over a per-status partition with a total order ----
    // SCALE SHAPE: o_orderstatus has 3 values, so the naive
    // Window.partitionBy(o_orderstatus) would sort a third of ALL orders
    // in one task. Every distribution function over a total order is pure
    // arithmetic on (per-partition row number rn, partition size n):
    // percent_rank = (rn-1)/(n-1), cume_dist = rn/n (no ties — the order
    // includes the key), ntile = the first n%b buckets take one extra row.
    // So rank once with Ranking.globalRank's range-exchange sort and
    // recover rn per status from a 3-row broadcast of first-rank offsets —
    // the events_gini decomposition applied to the whole W5 family.
    "w5_window_stats" -> ((s, d) => {
      val ranked = Ranking.globalRank(
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        Seq(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey")),
        partitions = 32, rankCol = "g")
      val offs = ranked.groupBy("o_orderstatus")
        .agg(min(col("g")).as("g0"), count(lit(1)).as("n"))
      ranked.join(broadcast(offs), "o_orderstatus")
        .withColumn("rn", col("g") - col("g0") + lit(1L))
        .select(
          col("o_orderkey"),
          when(col("rn") <= expr("(n % 4) * (n div 4 + 1)"),
            expr("(rn - 1) div (n div 4 + 1) + 1"))
            .otherwise(expr(
              "n % 4 + (rn - 1 - (n % 4) * (n div 4 + 1)) div (n div 4) + 1"))
            .cast("long").as("quartile"),
          when(col("n") === 1, lit(0.0))
            .otherwise((col("rn") - 1).cast("double") / (col("n") - 1))
            .as("pr"),
          (col("rn").cast("double") / col("n")).as("cd"))
        .orderBy("o_orderkey")
    }),

    // ---- W6: sliding-frame moving average (ROWS BETWEEN 2 PRECEDING) ----
    // avg is computed as exact-decimal frame sum / frame count so both
    // engines divide identical operands (a float frame-sum would depend on
    // Spark's incremental frame evaluation order).
    "w6_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
      Tables.orders(s, d).select(
          col("o_orderkey"),
          (sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
            / count(lit(1)).over(w)).as("mov_avg"))
        .orderBy("o_orderkey")
    }),

    // ---- W7: RANGE window frame (7-day rolling sum keyed by value, not
    // row position). Peers (duplicate days) are included in each other's
    // frames — the semantic difference from a ROWS frame, identical in
    // both engines; the decimal sum keeps peer-order irrelevant. ----
    "w7_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("day").rangeBetween(-6, 0)
      Tables.events(s, d)
        .select(col("user_id"), expr("ts div 86400000000").as("day"),
          col("value"), col("event_id"))
        .select(col("user_id"), col("day"), col("event_id"),
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
            .as("win_sum"))
        .orderBy("event_id")
    }),

    // ---- W9: moving median (robust rolling smoother) over a 7-row frame --
    // percentile as a WINDOW aggregate: Spark evaluates the exact
    // interpolating percentile per frame and DuckDB's windowed
    // quantile_cont matches (the a13 pairing, framed). The median resists
    // the outlier spikes a moving average smears — the robust variant of
    // w6. Same total (ts, event_id) per-user order as w8; round(6)
    // absorbs interpolation ulps.
    "w9_moving_median" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          round(percentile(col("value"), lit(0.5)).over(w), 6).as("mov_med"))
        .orderBy("event_id")
    }),

    // ---- F13: calendar arithmetic over order dates ----
    // The date/time function surface (absent from the reference — bare
    // integer years only): component extraction, month truncation,
    // end-of-month, month arithmetic with end-clamping, and day diffs
    // from an epoch anchor. Timestamps compare as epoch micros so the
    // check pins instants, not rendering. Pure per-row codegen.
    "f13_datetime_fns" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          unix_micros(date_trunc("month", col("o_orderdate"))).as("month_us"),
          unix_micros(last_day(col("o_orderdate"))
            .cast("timestamp")).as("eom_us"),
          unix_micros(add_months(col("o_orderdate"), 1)
            .cast("timestamp")).as("next_mo_us"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .as("days_since"))
        .orderBy("o_orderkey")),

    // ---- W10: the ranking-function family over one window ----
    // row_number / rank / dense_rank / percent_rank / cume_dist / ntile
    // per order within its status partition. The tie-sensitive functions
    // (rank, dense_rank, percent_rank, cume_dist) rank by o_orderdate
    // alone — day-granular, so ties are REAL and the gap/no-gap/fraction
    // semantics are actually exercised; the position-sensitive ones
    // (row_number, ntile) use the (o_orderdate, o_orderkey) total order,
    // since ties would make their split nondeterministic. percent_rank
    // and cume_dist are exact divisions of counts — identical doubles on
    // both engines.
    // SCALE SHAPE (same decomposition as w5): every member of the rank
    // family is arithmetic on per-partition positions, so one distributed
    // range-exchange sort replaces the 3-value-partition window sort.
    // rank = first peer position (min rn over the (status, date) peer
    // group), cume_dist = last peer position / n, dense_rank = the peer
    // GROUP's own rank (a second globalRank over the one-row-per-peer-
    // group frame), ntile/row_number from rn directly. The peer-group agg
    // keys on (status, date) — high cardinality — and the peer table
    // (statuses x dates, calendar-bounded) broadcasts back onto the fact.
    "w10_rank_family" -> ((s, d) => {
      val ranked = Ranking.globalRank(
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderstatus", "o_orderdate"),
        Seq(col("o_orderstatus"), col("o_orderdate"), col("o_orderkey")),
        partitions = 32, rankCol = "g")
      val offs = ranked.groupBy("o_orderstatus")
        .agg(min(col("g")).as("g0"), count(lit(1)).as("n"))
      val rn = ranked.join(broadcast(offs), "o_orderstatus")
        .withColumn("rn", col("g") - col("g0") + lit(1L))
      val peers = rn.groupBy("o_orderstatus", "o_orderdate")
        .agg(min(col("rn")).as("first_pos"), max(col("rn")).as("last_pos"))
      val peersRanked = Ranking.globalRank(peers,
        Seq(col("o_orderstatus"), col("o_orderdate")),
        partitions = 32, rankCol = "pg")
      val poffs = peersRanked.groupBy("o_orderstatus")
        .agg(min(col("pg")).as("pg0"))
      val peerIdx = peersRanked.join(broadcast(poffs), "o_orderstatus")
        .withColumn("drnk", col("pg") - col("pg0") + lit(1L))
        .select("o_orderstatus", "o_orderdate", "first_pos", "last_pos", "drnk")
      rn.join(broadcast(peerIdx), Seq("o_orderstatus", "o_orderdate"))
        .select(col("o_orderkey"),
          col("rn"),
          col("first_pos").as("rnk"),
          col("drnk"),
          round(when(col("n") === 1, lit(0.0))
            .otherwise((col("first_pos") - 1).cast("double") / (col("n") - 1)),
            6).as("prnk"),
          round(col("last_pos").cast("double") / col("n"), 6).as("cd"),
          when(col("rn") <= expr("(n % 4) * (n div 4 + 1)"),
            expr("(rn - 1) div (n div 4 + 1) + 1"))
            .otherwise(expr(
              "n % 4 + (rn - 1 - (n % 4) * (n div 4 + 1)) div (n div 4) + 1"))
            .cast("long").as("quartile"))
        .orderBy("o_orderkey")
    }),

    // ---- daily anomaly flags: z-score of per-type event volume ----
    // The data-quality monitor every ingest pipeline runs: aggregate
    // events to (event_type, day) counts, score each day against its
    // type's own mean/sd, flag |z| > 2. Two thin aggregations — the daily
    // rollup partial-aggregates on a bounded key space (types x days),
    // and the per-type moments are a window over that ALREADY-AGGREGATED
    // frame (partition size = days per type, never raw events). The
    // z-score and flag are per-row arithmetic; round(6) absorbs
    // stddev-path ulps as in a3. sd is NULL for a single-day type on both
    // engines (flag false via null comparison semantics -> coalesce).
    "events_anomaly" -> ((s, d) => {
      // Spark `div` truncates toward zero; DuckDB's `//` on BIGINT operands
      // ALSO truncates toward zero (verified on duckdb 1.0.0:
      // SELECT (-7)//2 → -3, not the -4 floor division would give), so the
      // day-bucketing pairing here — and the identical pairing in
      // events_retention / ts_resample_ffill — is equivalent for ANY epoch
      // sign, not just the post-1970 data the driver generates.
      val daily = Tables.events(s, d)
        .select(col("event_type"), expr("ts div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type")
      daily.select(col("event_type"), col("day"), col("n"),
          avg(col("n")).over(w).as("mu"),
          stddev_samp(col("n")).over(w).as("sd"))
        // sd > 0 guard on BOTH engines: with sd = 0 (all days equal) the
        // IEEE division yields NaN, and NaN > 2 is false in Spark but TRUE
        // in DuckDB (NaN sorts last there) — an ungated flag would diverge
        // exactly when the data is perfectly regular
        .select(col("event_type"), col("day"), col("n"),
          when(col("sd") > 0,
            round((col("n") - col("mu")) / col("sd"), 6)).as("z"),
          coalesce(col("sd") > 0 &&
            abs((col("n") - col("mu")) / col("sd")) > 2, lit(false))
            .as("is_anomaly"))
        .orderBy("event_type", "day")
    }),

    // ---- O5: keyset pagination — the 100 TB page-walk ----
    // o4_limit_offset documents that deep offsets degrade linearly; this is
    // the production alternative it points to, as a checked entry: resume
    // from the last seen key with a pushed-down range predicate + ordered
    // take. The filter reaches the parquet scan (PushedFilters) and the
    // take is TakeOrderedAndProject — page cost is O(page), independent of
    // how deep into the table the cursor is. The cursor value is a
    // deterministic literal (a key every SF has) so both engines page from the
    // same position.
    "o5_keyset_page" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") > 1000L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
        .limit(20)),

    // ---- O6: composite-cursor keyset pagination ----
    // The real-world page walk sorts by a non-unique column with a unique
    // tie-break — (o_orderdate, o_orderkey) — so the cursor is a ROW VALUE
    // (d0, k0) and "after the cursor" is the row-value comparison
    // (o_orderdate, o_orderkey) > (d0, k0). Spark and parquet have no
    // row-value predicate, so it is rewritten as the standard disjunction
    //   o_orderdate > d0 OR (o_orderdate = d0 AND o_orderkey > k0)
    // whose every leaf is a pushable comparison: the scan receives
    // Or(GreaterThan(date), And(EqualTo(date), GreaterThan(key))) as a
    // PushedFilter (row groups entirely before the cursor date never
    // decompress) and the page is one TakeOrderedAndProject on the same
    // (date, key) order — O(page) whatever the cursor depth, like o5.
    // PlanQualitySpec pins both plan properties.
    "o6_keyset_multi" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      // cursor literal cast to the COLUMN's loaded dtype (TIMESTAMP_NTZ in
      // current testdata): a TZ-typed literal would make Spark coerce the
      // column side instead, and a cast above the scan kills the pushdown
      // this entry exists to demonstrate. The epoch-micros projection casts
      // NTZ→TZ under the session's pinned UTC — the normalizeTsMicros
      // convention, matching the oracle's epoch_us.
      val d0 = lit("1998-01-01 00:00:00").cast(orders.schema("o_orderdate").dataType)
      orders
        .filter(col("o_orderdate") > d0 ||
          (col("o_orderdate") === d0 && col("o_orderkey") > 1000L))
        .select(col("o_orderkey"), col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"),
          col("o_totalprice"))
        .orderBy("o_date_us", "o_orderkey")
        .limit(20)
    }),

    // ---- event-type transition matrix (order-1 Markov over journeys) ----
    // The journey-analytics aggregate behind events_paths: per user, order
    // events by time and count (previous type -> type) transitions, then
    // normalize per source type. One user_id exchange for the lag window
    // (the same partitioning every per-user operator reuses), then a hash
    // agg on the tiny (prev, cur) key space; the normalizer is a window
    // over that ALREADY-AGGREGATED matrix, not the event stream. First
    // events (no predecessor) drop on both engines via lag's null.
    "events_markov" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
      trans.select(col("prev_type"), col("event_type"), col("n"),
          round(col("n") / sum(col("n")).over(Window.partitionBy("prev_type")), 6)
            .as("p"))
        .orderBy("prev_type", "event_type")
    }),

    // ---- W8: value window functions (first/last/nth/lead) over an
    // explicit full-partition frame and a total per-user order ----
    "w8_value_windows" -> ((s, d) => {
      val ord = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val full = ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d).select(
          col("event_id"), col("user_id"),
          first(col("event_type")).over(full).as("first_type"),
          last(col("event_type")).over(full).as("last_type"),
          nth_value(col("event_type"), 2).over(full).as("second_type"),
          lead(col("event_id"), 1, -1L).over(ord).as("next_id"))
        .orderBy("event_id")
    }),

    // ---- J5: banded range join (time-bucket equi-join, not nested-loop) --
    // Each lineitem is keyed by its 7-day bucket once; each (sampled) order
    // is replicated to the <=2 buckets its window overlaps. The shuffle is
    // O(facts + 2*probes) and the exact predicate runs only within a
    // bucket — the shape that survives 100 TB where a BroadcastNestedLoop
    // inequality join is quadratic.
    "j5_range_join" -> ((s, d) => {
      val band = 7L // days
      val probes = Tables.orders(s, d)
        .where(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"), epochDay(col("o_orderdate")).as("oday"))
        .withColumn("bucket",
          explode(array_distinct(array(
            floor(col("oday") / band), floor((col("oday") + band - 1) / band)))))
      val facts = Tables.lineitem(s, d)
        .select(epochDay(col("l_shipdate")).as("lday"))
        .withColumn("bucket", floor(col("lday") / band))
      probes.join(facts, Seq("bucket"))
        .where(col("lday") >= col("oday") && col("lday") < col("oday") + band)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_li"))
        .orderBy("o_orderkey")
    }),

    // ---- J6: the SAME band join written naively (raw inequality
    // condition) — graft.plans.BandedRangeJoinRule (injected via
    // spark.sql.extensions) rewrites it into the bucket equi-join of J5
    // automatically. Without the rule this plans a BroadcastNestedLoopJoin;
    // PlanQualitySpec pins the rewrite. ----
    "j6_range_join_auto" -> ((s, d) => {
      val probes = Tables.orders(s, d)
        .where(col("o_orderkey") % 50 === 25)
        .select(col("o_orderkey"), epochDay(col("o_orderdate")).as("oday"))
      val facts = Tables.lineitem(s, d)
        .select(epochDay(col("l_shipdate")).as("lday"))
      facts.join(probes,
          col("lday") >= col("oday") && col("lday") < col("oday") + lit(7L))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_li"))
        .orderBy("o_orderkey")
    }),

    // ---- TPC-H Q1 shape: scan-heavy multi-aggregate with derived
    // per-row expressions, the canonical columnar-engine headline ----
    "tpch_q1" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum4(disc).as("sum_disc_price"),
          dsum6(disc * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          (sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            / count(lit(1))).as("avg_qty"),
          (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- TPC-H Q3 shape: segment dimension filter -> star join ->
    // top-k revenue (dimension broadcast, fact-fact shuffle join) ----
    "tpch_q3" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val cutoff = lit("1998-03-15").cast("timestamp")
      val ord = Tables.orders(s, d).where(col("o_orderdate") < cutoff)
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey")
      Tables.lineitem(s, d).where(col("l_shipdate") > cutoff)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ---- TPC-H Q5 shape: region -> nation -> {customer, supplier}
    // co-nationality join, revenue per nation ----
    "tpch_q5" -> ((s, d) => {
      val nations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = Tables.customer(s, d)
        .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val supp = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy("n_name")
    }),

    // ---- X2: HLL++ accuracy certificate (approx_count_distinct) ----
    // The sketch itself isn't oracle-reproducible; the certificate is: the
    // exact distinct count (oracle-checkable) plus a boolean that the
    // sketch landed within 5% of it. rsd=0.02 (not the 0.05 gate) because
    // Spark's HLL++ has no sparse-mode exact path — at the sf0.001
    // cardinality (~1.5k) the 0.05-rsd sketch's bias-corrected estimate
    // measured >5% off, while 0.02 holds the 5% gate at every SF.
    // r17 (guide §2.3): DEDUP FIRST, sketch the distinct set. Planned as
    // countDistinct(k) + approx_count_distinct(k) in one agg, Spark keeps a
    // partial HLL state PER GROUP KEY — the exchange carried 411 columns
    // (410 HLL register longs) for every distinct l_orderkey, ~150k x 3 KB
    // at sf0.1 (plans/r17/x2_hll_gate_before.txt node (3)). Split as
    // distinct-then-aggregate, the exchange carries bare keys and exactly
    // ONE HLL buffer per partition crosses the final exchange. Values are
    // identical: count(*) over the distinct set IS countDistinct, and
    // HLL++ registers are duplicate-insensitive (register = max over the
    // hashed value set), so the estimate is bit-identical. Input widened
    // (§2.5) so the dedup build also runs on every core. NULL keys are
    // dropped on the scan: distinct() keeps a NULL group that count(*)
    // would count, while the oracle's count(DISTINCT) skips NULLs.
    "x2_hll_gate" -> ((s, d) =>
      Tables.widened(s, Tables.lineitem(s, d).select("l_orderkey")
          .filter(col("l_orderkey").isNotNull))
        .distinct()
        .agg(
          count(lit(1)).as("n_exact"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("n_approx"))
        .select(col("n_exact"),
          (abs(col("n_approx") - col("n_exact"))
            <= col("n_exact") * 0.05).as("ok"))),

    // ---- X7: HLL sketch MERGEABILITY certificate ----
    // The warehouse rollup property: per-day DataSketches HLL sketches of
    // user_id, unioned across days, must estimate the global distinct
    // count within 5% of exact. This is what lets a 100 TB pipeline keep
    // one small sketch per (day, dim) partition and answer "distincts over
    // any date range" by union — no re-scan. The exact side is the
    // oracle-checkable certificate.
    "x7_hll_union_gate" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(expr("ts div 86400000000").as("day"), col("user_id"))
      val est = ev.groupBy("day")
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("n_approx"))
      ev.agg(countDistinct(col("user_id")).as("n_exact"))
        .crossJoin(broadcast(est))
        .select(col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) <= col("n_exact") * 0.05)
            .as("ok"))
    }),

    // ---- X8: join-key skew report (the salt-or-not diagnostic) ----
    // Per-key frequency profile of a join/agg key — the numbers an
    // engineer (or an adaptive planner) reads before choosing between a
    // plain shuffle, a broadcast, or the x4-style salted join: total rows,
    // distinct keys, the heaviest key's row count and share, max/avg skew
    // ratio, and the exact p99 of rows-per-key. One hash groupBy on the
    // key, then one tiny aggregate over the per-key counts.
    "x8_skew_report" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("c"))
        .agg(
          sum("c").as("n_rows"),
          count(lit(1)).as("n_keys"),
          max("c").as("max_per_key"),
          round(avg("c"), 6).as("avg_per_key"),
          round(max(col("c")).cast("double") /
            (sum(col("c")).cast("double") / count(lit(1))), 6).as("skew_ratio"),
          round(max(col("c")).cast("double") / sum(col("c")), 6).as("top1_share"),
          round(percentile(col("c"), lit(0.99)), 6).as("p99_per_key"))),

    // ---- A17: bootstrap-style confidence interval (deterministic) ----
    // The scale recipe for "mean with error bars" over data too big to
    // resample classically: 32 half-rate subsample replicas, each defined
    // by a pure content-hash membership test (the sample_hash trick keyed
    // by (event_id, replica) — identical md5 hex threshold on both
    // engines, so every replica is reproducible under any partitioning),
    // then the replica-mean spread gives the 2.5/97.5-percentile band.
    // One scan exploded x32 into thin (replica, value) rows, one 32-group
    // aggregate, one final percentile over 32 numbers.
    "a17_bootstrap_ci" -> ((s, d) => {
      // r17 (guide §2.5): widened — the x32 replica explode and its per-row
      // md5 membership hash ran fused into the one-row-group scan's single
      // task (6M+ md5 calls on one core); spread first, the resample pass
      // runs on every core and the 32-group partial agg keeps the exchange
      // tiny. No-op gate at any realistic input size (Tables.widened).
      val reps = Tables.widened(s, Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(col("event_id"), col("value")))
        .select(col("event_id"), col("value"),
          explode(sequence(lit(0), lit(31))).as("rep"))
        .filter(substring(md5(concat(col("event_id").cast("string"),
          lit(":"), col("rep").cast("string"))), 1, 2) < "80")
        .groupBy("rep").agg(avg("value").as("m"))
      reps.agg(
        count(lit(1)).as("n_replicas"),
        round(avg("m"), 6).as("mean_of_means"),
        round(percentile(col("m"), lit(0.025)), 6).as("ci_lo"),
        round(percentile(col("m"), lit(0.975)), 6).as("ci_hi"))
    }),

    // ---- X3: approximate-percentile accuracy certificate ----
    // approx_percentile with accuracy 10000 must land within 0.5% of the
    // exact median (computed distributed, via Spark's exact percentile).
    "x3_quantile_gate" -> ((s, d) =>
      Tables.orders(s, d).agg(
          count(lit(1)).as("n"),
          (abs(expr("approx_percentile(o_totalprice, 0.5, 10000)")
              - expr("percentile(o_totalprice, 0.5)"))
            <= expr("percentile(o_totalprice, 0.5)") * 0.005).as("ok"))),

    // ---- X5: count-min sketch built from relational ops, with gate ----
    // Spark exposes count_min_sketch only as an opaque binary (queryable
    // driver-side), so the sketch is built distributively instead: d=4
    // hash rows x w=256 buckets as a (j, bucket) hash aggregate — 4 thin
    // rows per event in, d*w cells out, one shuffle. Point queries join
    // each key's (j, bucket) coordinates to the cells and take min over j.
    // The certificate pins both CMS guarantees: est >= exact (never
    // underestimates) and est <= exact + ceil(4N/w) (the eps*N overcount
    // bound); the oracle predicts (key, n_exact, true) from data alone.
    "x5_countmin_gate" -> ((s, d) => {
      val W = 256L
      val D = 4
      val js = explode(array((0 until D).map(lit(_)): _*)).as("j")
      val ev = Tables.events(s, d).select(col("event_type"))
      val cells = ev.select(col("event_type"), js)
        .withColumn("bucket", pmod(xxhash64(col("event_type"), col("j")), lit(W)))
        .groupBy("j", "bucket").agg(count(lit(1)).as("c"))
      val exact = ev.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      val est = exact.select(col("event_type"), col("n_exact"), js)
        .withColumn("bucket", pmod(xxhash64(col("event_type"), col("j")), lit(W)))
        .join(cells, Seq("j", "bucket"))
        .groupBy("event_type", "n_exact").agg(min(col("c")).as("cm_est"))
      val n = ev.agg(count(lit(1)).as("n_total"))
      est.crossJoin(broadcast(n))
        .select(col("event_type"), col("n_exact"),
          (col("cm_est") >= col("n_exact") &&
            col("cm_est") <= col("n_exact") + ceil(col("n_total") * 4 / W)).as("ok"))
        .orderBy("event_type")
    }),

    // ---- resample to a regular grid + forward fill ----
    // The time-series regularization operator (kdb `fills`, Pandas
    // `resample().ffill()`): per user, a daily grid spanning first..last
    // observation, each grid point carrying the latest at-or-before value.
    // Three key-partitioned exchanges, no row amplification beyond the
    // grid itself (bounded by span-days per key): (1) per-(user, day)
    // argmax via row_number (WindowGroupLimit pushes rn=1 to per-partition
    // top-1), (2) span agg + sequence/explode builds the grid, (3) the
    // forward fill is one ordered window per user — the same
    // last(ignoreNulls) as-of shape as AsOfJoin, zero self-joins.
    "ts_resample_ffill" -> ((s, d) => {
      val e = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("user_id"), expr("ts div 86400000000").as("day"),
          col("value"), col("ts"), col("event_id"))
      val wDay = Window.partitionBy("user_id", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      val daily = e.withColumn("rn", row_number().over(wDay))
        .filter(col("rn") === 1).select("user_id", "day", "value")
      val grid = e.groupBy("user_id")
        .agg(min("day").as("lo"), max("day").as("hi"))
        .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
      val wFf = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .withColumn("value_ff", round(last(col("value"), ignoreNulls = true).over(wFf), 6))
        .select("user_id", "day", "value_ff")
        .orderBy("user_id", "day")
    }),
  )

  val oracles: Map[String, String] = Map(
    "ts_resample_ffill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts)//86400000000 AS day, value, ts, event_id
        |           FROM events WHERE value IS NOT NULL),
        |d AS (SELECT user_id, day, value FROM (
        |  SELECT user_id, day, value,
        |         row_number() OVER (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e) t WHERE rn = 1),
        |s AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM e GROUP BY user_id),
        |g AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM s)
        |SELECT g.user_id, g.day,
        |  round(last_value(d.value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_ff
        |FROM g LEFT JOIN d ON g.user_id = d.user_id AND g.day = d.day
        |ORDER BY g.user_id, g.day""".stripMargin,
    "o5_keyset_page" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey > 1000
        |ORDER BY o_orderkey LIMIT 20""".stripMargin,
    "o6_keyset_multi" ->
      """SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS o_date_us,
        |       o_totalprice
        |FROM orders
        |WHERE o_orderdate > TIMESTAMP '1998-01-01 00:00:00'
        |   OR (o_orderdate = TIMESTAMP '1998-01-01 00:00:00'
        |       AND o_orderkey > 1000)
        |ORDER BY o_date_us, o_orderkey LIMIT 20""".stripMargin,
    "events_markov" ->
      """WITH t AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (
        |  SELECT prev_type, event_type, count(*) AS n
        |  FROM t WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type)
        |SELECT prev_type, event_type, n,
        |  round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS p
        |FROM c ORDER BY prev_type, event_type""".stripMargin,
    "events_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         count(*) AS n
        |  FROM events GROUP BY event_type, day),
        |m AS (
        |  SELECT event_type, day, n,
        |    avg(n) OVER (PARTITION BY event_type) AS mu,
        |    stddev_samp(n) OVER (PARTITION BY event_type) AS sd
        |  FROM daily)
        |SELECT event_type, day, n,
        |  CASE WHEN sd > 0 THEN round((n - mu) / sd, 6) END AS z,
        |  coalesce(sd > 0 AND abs((n - mu) / sd) > 2, false) AS is_anomaly
        |FROM m ORDER BY event_type, day""".stripMargin,
    "a10_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "a11_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,
    "a12_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "w5_window_stats" ->
      """SELECT o_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "w6_moving_avg" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / (count(*) OVER w) AS mov_avg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "w7_range_frame" ->
      """SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts) // 86400000000
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS win_sum
        |FROM events ORDER BY event_id""".stripMargin,
    "f13_datetime_fns" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  epoch_us(date_trunc('month', o_orderdate)) AS month_us,
        |  epoch_us(last_day(o_orderdate)::TIMESTAMP) AS eom_us,
        |  epoch_us((o_orderdate + INTERVAL 1 MONTH)::TIMESTAMP) AS next_mo_us,
        |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate::DATE)
        |       AS INTEGER) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "w10_rank_family" ->
      """SELECT o_orderkey,
        |  CAST(row_number() OVER tot AS BIGINT) AS rn,
        |  CAST(rank() OVER tie AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER tie AS BIGINT) AS drnk,
        |  round(percent_rank() OVER tie, 6) AS prnk,
        |  round(cume_dist() OVER tie, 6) AS cd,
        |  CAST(ntile(4) OVER tot AS BIGINT) AS quartile
        |FROM orders
        |WINDOW tie AS (PARTITION BY o_orderstatus ORDER BY o_orderdate),
        |  tot AS (PARTITION BY o_orderstatus
        |          ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "w9_moving_median" ->
      """SELECT event_id, user_id,
        |  round(quantile_cont(value, 0.5) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS mov_med
        |FROM events ORDER BY event_id""".stripMargin,
    "w8_value_windows" ->
      """SELECT event_id, user_id,
        |  first_value(event_type) OVER wfull AS first_type,
        |  last_value(event_type) OVER wfull AS last_type,
        |  nth_value(event_type, 2) OVER wfull AS second_type,
        |  lead(event_id, 1, -1) OVER ord AS next_id
        |FROM events
        |WINDOW ord AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  wfull AS (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "j5_range_join" ->
      """SELECT o_orderkey, count(*) AS n_li
        |FROM orders JOIN lineitem
        |  ON l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate + INTERVAL 7 DAY
        |WHERE o_orderkey % 50 = 0
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "j6_range_join_auto" ->
      """SELECT o_orderkey, count(*) AS n_li
        |FROM orders JOIN lineitem
        |  ON l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate + INTERVAL 7 DAY
        |WHERE o_orderkey % 50 = 25
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "tpch_q3" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "x2_hll_gate" ->
      """SELECT count(DISTINCT l_orderkey) AS n_exact, true AS ok
        |FROM lineitem""".stripMargin,
    "x3_quantile_gate" ->
      "SELECT count(*) AS n, true AS ok FROM orders",
    "x7_hll_union_gate" ->
      """SELECT count(DISTINCT user_id) AS n_exact, true AS ok
        |FROM events""".stripMargin,
    "x5_countmin_gate" ->
      """SELECT event_type, count(*) AS n_exact, true AS ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x8_skew_report" ->
      """WITH k AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |  count(*) AS n_keys,
        |  CAST(max(c) AS BIGINT) AS max_per_key,
        |  round(avg(c), 6) AS avg_per_key,
        |  round(max(c)::DOUBLE / (sum(c)::DOUBLE / count(*)), 6) AS skew_ratio,
        |  round(max(c)::DOUBLE / sum(c), 6) AS top1_share,
        |  round(quantile_cont(c, 0.99), 6) AS p99_per_key
        |FROM k""".stripMargin,
    "a17_bootstrap_ci" ->
      """WITH r AS (
        |  SELECT unnest(range(32)) AS rep, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |kept AS (
        |  SELECT rep, value FROM r
        |  WHERE substring(md5(event_id::VARCHAR || ':' || rep::VARCHAR), 1, 2)
        |        < '80'),
        |m AS (SELECT rep, avg(value) AS m FROM kept GROUP BY rep)
        |SELECT count(*) AS n_replicas,
        |  round(avg(m), 6) AS mean_of_means,
        |  round(quantile_cont(m, 0.025), 6) AS ci_lo,
        |  round(quantile_cont(m, 0.975), 6) AS ci_hi
        |FROM m""".stripMargin,
  )
}
