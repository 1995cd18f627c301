package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import DecimalSums._

/** The rest of the TPC-H suite — all 22 query shapes — over the driver's
  * star schema (TESTDATA.md tables). There is no partsupp table, so
  * Q2/Q9/Q16/Q21 are re-expressed through the lineitem part-supplier bridge
  * (each entry notes its adaptation); Q11 and Q20 — partsupp inventory
  * queries — keep their defining shapes (group-agg vs a scalar-subquery
  * global threshold; semi-join driven by a correlated half-sum) with
  * lineitem revenue/quantity standing in for the missing
  * availqty/supplycost. Predicates on columns the synthetic schema lacks
  * (l_commitdate, l_shipmode, p_container, c_phone) are adapted to
  * equivalent shapes on the columns that exist.
  *
  * Conventions match [[Olap]]: money/rate sums go through DECIMAL so the
  * result is independent of partial-aggregation order, derived ratios divide
  * the SAME double operands in the SAME textual shape on both sides, int-
  * typed derivations are cast to long wherever DuckDB would produce BIGINT,
  * and every multi-row result ORDERs BY a unique key.
  *
  * Scale notes (100 TB): all dimension joins (part 2k rows, nation, region,
  * supplier, the single-row scalar aggregates of Q17/Q22) are explicit
  * `broadcast(...)`; fact-fact joins (orders x lineitem) shuffle on the join
  * key only after pushed-down scan filters; Q17's per-part average is a
  * partial-agg'd groupBy on l_partkey (no window over the fact table); Q18's
  * HAVING filter runs on the aggregated (orderkey, sum) rows, not raw facts.
  */
object TpchMore {

  private def rev: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Q4 shape: EXISTS semi-join -> priority counts. Adapted: no
    // l_commitdate/l_receiptdate, so "late" = shipped >60 days after the
    // order date. The semi-join keeps the equi key (orderkey) so Catalyst
    // plans a hash semi-join with the range predicate as a post-filter. ----
    "tpch_q4" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      ord.join(li,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // ---- Q6: single-table forecast-revenue — the pushdown showcase. All
    // three predicates reach the parquet scan (PushedFilters), the scan
    // reads 4 columns, and the whole plan is one WholeStageCodegen over a
    // partial+final agg. ----
    "tpch_q6" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(dsum4(col("l_extendedprice") * col("l_discount")).as("revenue"))),

    // ---- Q7: volume shipping between two nations, both directions,
    // by year. Nation dim broadcast twice under different aliases. ----
    "tpch_q7" -> ((s, d) => {
      val n1 = Tables.nation(s, d).select(
        col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d).select(
        col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(dsum4(rev).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // ---- Q8: national market share within a region's market for one part
    // type. share = NATION_1's decimal-exact volume / total volume, both
    // cast to double before the one double division (same shape both
    // sides). ----
    "tpch_q8" -> ((s, d) => {
      val euNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val suppNation = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val stdParts = Tables.part(s, d).where(col("p_type") === "STANDARD")
        .select("p_partkey")
      Tables.lineitem(s, d)
        .join(broadcast(stdParts), col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(euNations), col("c_nationkey") === col("cn_key"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          dsum4(when(col("supp_nation") === "NATION_1", rev).otherwise(lit(0.0)))
            .as("nation_vol"),
          dsum4(rev).as("total_vol"))
        .select(col("o_year"),
          (col("nation_vol") / col("total_vol")).as("mkt_share"))
        .orderBy("o_year")
    }),

    // ---- Q10: returned-item revenue per customer, top 20. The fact-side
    // returnflag filter is pushed to the scan; nation is broadcast; the
    // top-k is a TakeOrderedAndProject (no global sort materialized). ----
    "tpch_q10" -> ((s, d) => {
      val li = Tables.lineitem(s, d).where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum4(rev).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // ---- Q13: customer distribution by order count (incl. zero-order
    // customers via LEFT join; the "special categories" comment filter is
    // adapted to excluding 1-URGENT orders). Two aggs: per-customer count,
    // then histogram of counts. ----
    "tpch_q13" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .where(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      Tables.customer(s, d).select("c_custkey")
        .join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // ---- Q14: promo revenue share in one month. 100.0 * (promo/total),
    // identical operand shapes both sides. part is a broadcast dim. ----
    "tpch_q14" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1998-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          dsum4(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
            .as("promo_rev"),
          dsum4(rev).as("total_rev"))
        .select((lit(100.0) * (col("promo_rev") / col("total_rev")))
          .as("promo_share"))),

    // ---- Q17: small-quantity-order revenue for one brand. The per-part
    // average is a groupBy on l_partkey (partial-agg'd, one shuffle keyed
    // by partkey) joined back — NOT a window over the fact table. avg is
    // exact: quantities are integer-valued doubles, so sum/count is order-
    // independent. ----
    "tpch_q17" -> ((s, d) => {
      val brandParts = Tables.part(s, d).where(col("p_brand") === "Brand#13")
        .select("p_partkey")
      val li = Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice")
      // The per-part average is only consumed for the filtered brand's
      // parts (p_partkey determines p_brand), so the aggregate input is
      // semi-join-reduced to those parts FIRST — Catalyst can't infer
      // this through the aggregate, and at 100 TB it shrinks the agg's
      // scan-out ~|brand|/|parts| (~3% here) with identical results.
      val avgQty = li
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy("l_partkey")
        .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      li.join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
        .join(avgQty, Seq("l_partkey"))
        .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    }),

    // ---- Q18: large-volume orders — HAVING on the aggregated rows, then
    // join back to orders+customer. The heavy agg happens before any join;
    // only qualifying orderkeys (~1%) reach the join. ----
    "tpch_q18" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .where(col("sum_qty") > 250)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
          "o_totalprice", "sum_qty")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // ---- Q19 shape: disjunctive brand/size/quantity predicate over the
    // part-lineitem equi-join. Adapted: p_container/l_shipmode don't
    // exist, so the three disjuncts range over p_size and l_quantity. The
    // partkey equi-join stays a hash join; the OR-of-ANDs is a post-join
    // filter (and the p_brand IN superset is pushed to the part scan). ----
    "tpch_q19" -> ((s, d) => {
      val p = Tables.part(s, d)
        .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#4"))
        .select("p_partkey", "p_brand", "p_size")
      Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(dsum4(rev).as("revenue"))
    }),

    // ---- Q2 shape: min-cost supplier per part. Adapted: no partsupp, so
    // lineitem is the part-supplier bridge and "cost" is the observed unit
    // price. The per-part minimum is a groupBy+join-back (argmin without a
    // fact-table window); min is over identically-computed doubles so the
    // equality join-back is exact. ----
    "tpch_q2" -> ((s, d) => {
      val euSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).where(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val p15 = Tables.part(s, d).where(col("p_size") === 15)
        .select("p_partkey", "p_brand")
      val offers = Tables.lineitem(s, d)
        .join(broadcast(p15), col("l_partkey") === col("p_partkey"))
        .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_brand"), col("s_suppkey"),
          col("s_name"), col("s_acctbal"), col("n_name"),
          (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      val minCost = offers.groupBy("p_partkey")
        .agg(min(col("unit_price")).as("min_price"))
      offers.join(minCost, Seq("p_partkey"))
        .where(col("unit_price") === col("min_price"))
        .select(col("p_partkey"), col("p_brand"), col("s_suppkey"),
          col("s_name"), col("n_name"), round(col("min_price"), 6).as("unit_price"))
        .distinct()
        .orderBy(col("p_partkey"), col("s_suppkey"))
        .limit(100)
    }),

    // ---- Q9 shape: profit by supplier nation and year. Adapted: no
    // partsupp supplycost, so cost = 0.5 * p_retailprice * quantity. ----
    "tpch_q9" -> ((s, d) => {
      val redParts = Tables.part(s, d).where(col("p_name").contains("red"))
        .select("p_partkey", "p_retailprice")
      val suppNation = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      Tables.lineitem(s, d)
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum((rev - lit(0.5) * col("p_retailprice") * col("l_quantity"))
          .cast("decimal(24,6)")).cast("double").as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // ---- Q12 shape: conditional priority counts by ship-lag bucket.
    // Adapted: no l_shipmode/commitdate — the derived dimension is the
    // order-to-ship lag bucket. ----
    "tpch_q12" -> ((s, d) =>
      Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        .join(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("lag_days", datediff(col("l_shipdate"), col("o_orderdate")))
        .withColumn("bucket",
          when(col("lag_days") <= 30, "fast")
            .when(col("lag_days") <= 60, "medium").otherwise("slow"))
        .groupBy("bucket")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("bucket")),

    // ---- Q16 shape: supplier diversity per part attribute. Adapted:
    // lineitem bridges part-supplier; the complaints exclusion becomes
    // negative-balance suppliers. count(DISTINCT) after a distinct
    // projection keeps the shuffle on (brand, type, size, suppkey). ----
    "tpch_q16" -> ((s, d) => {
      val parts = Tables.part(s, d)
        .where(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val okSupp = Tables.supplier(s, d).where(col("s_acctbal") >= 0)
        .select("s_suppkey")
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(okSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("p_brand"), col("p_type"), col("p_size"), col("l_suppkey"))
        .distinct()
        .groupBy("p_brand", "p_type", "p_size")
        .agg(count(lit(1)).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // ---- Q11 shape: important stock above a global scalar threshold.
    // Adapted: no partsupp, so a part's "stock value" is the revenue booked
    // by the target nations' suppliers (lineitem bridges part-supplier).
    // The defining shape survives: per-part aggregate HAVING > scalar
    // subquery (a global aggregate x constant), with the scalar computed
    // from the SAME per-part aggregate (one fact scan) and broadcast as a
    // one-row join. The threshold is 1.5x the mean part value — scale-free,
    // where the original's 0.0001/SF fraction would pin a row count to one
    // scale factor. The mean goes through a DECIMAL re-cast so both engines
    // derive bit-identical doubles regardless of partial-agg order. ----
    "tpch_q11" -> ((s, d) => {
      val natSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .where(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select("s_suppkey")
      val byPart = Tables.lineitem(s, d)
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"),
          "left_semi")
        .groupBy("l_partkey")
        .agg(dsum4(rev).as("value"))
      val thresh = byPart.agg(
        (sum(col("value").cast("decimal(22,4)")).cast("double")
          / count(lit(1)) * lit(1.5)).as("cut"))
      // No final rounding: value is a DECIMAL(22,4) sum cast to double, so
      // both engines hold the identical bits; round(_, 2) would reintroduce
      // the half-cent HALF_UP-vs-binary discrepancy on x.475 values.
      byPart.crossJoin(broadcast(thresh))
        .where(col("value") > col("cut"))
        .select(col("l_partkey"), col("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // ---- Q15 shape: top supplier(s) by quarterly revenue. The revenue
    // "view" is one partial-agg'd groupBy over the date-filtered fact; the
    // MAX scalar subquery broadcasts one row back against the same
    // aggregate (fact scanned once); equality on the decimal-exact revenue
    // keeps tied suppliers, like the original's view self-reference. ----
    "tpch_q15" -> ((s, d) => {
      val revenue = Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(dsum4(rev).as("total_revenue"))
      val mx = revenue.agg(max(col("total_revenue")).as("mx"))
      revenue.crossJoin(broadcast(mx))
        .where(col("total_revenue") === col("mx"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // ---- Q20 shape: suppliers with excess recent shipments. Adapted: no
    // partsupp/availqty, so the correlated half-sum threshold becomes
    // "1997 shipments of a red part exceed half that (supplier, part)'s
    // all-time shipments". The original's correlated scalar subquery folds
    // into ONE conditional aggregate per (suppkey, partkey) — the fact
    // table is scanned once, only aggregated rows reach the threshold
    // filter, and the qualifying suppkeys drive a semi-join against the
    // supplier dimension. l_quantity is integer-valued, so the half-sum
    // compare is exact under any partial-aggregation order. ----
    "tpch_q20" -> ((s, d) => {
      val redParts = Tables.part(s, d).where(col("p_name").like("%red%"))
        .select("p_partkey")
      val excess = Tables.lineitem(s, d)
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
          sum(when(year(col("l_shipdate")) === 1997, col("l_quantity"))
            .otherwise(0.0)).as("q97"),
          sum(col("l_quantity")).as("qa"))
        .where(col("q97") > lit(0.5) * col("qa"))
        .select("l_suppkey").distinct()
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).where(col("n_name").isin(
          "NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5"))),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .join(broadcast(excess), col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }),

    // ---- Q21 shape: the sole late shipper on multi-supplier orders.
    // Adapted: "late" = shipped >60 days after the order date. The classic
    // double EXISTS / NOT EXISTS is restated as per-order supplier
    // statistics over the AGGREGATED (order, supplier) pairs: one
    // lineitem×orders join, one pair aggregation with map-side combine,
    // then a window on orderkey (partitions bounded by suppliers-per-order)
    // — the previous two-branch form referenced the join subtree twice and
    // Spark executed the fact-fact shuffle join twice. ----
    "tpch_q21" -> ((s, d) => {
      val pairAgg = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          1L).otherwise(0L)).as("late"))
      val wOrd = Window.partitionBy("l_orderkey")
      pairAgg
        .withColumn("n_supp", count(lit(1)).over(wOrd))
        .withColumn("n_late_supp", sum(col("late")).over(wOrd))
        .where(col("late") === 1L && col("n_supp") >= 2 &&
          col("n_late_supp") === 1)
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // ---- Q22 shape: wealthy inactive customers. Adapted: no c_phone, so
    // the cohort is per-mktsegment; the scalar average is decimal-exact
    // (2-decimal balances) and broadcast; inactivity is an anti-join on
    // orders. ----
    "tpch_q22" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val avgBal = cust.where(col("c_acctbal") > 0.0)
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      cust
        .crossJoin(broadcast(avgBal))
        .where(col("c_acctbal") > col("avg_bal"))
        .join(Tables.orders(s, d).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_mktsegment")
    }),
  )

  val oracles: Map[String, String] = Map(
    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "tpch_q6" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(22,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "tpch_q8" ->
      """WITH vols AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(sum(CAST(CASE WHEN sn.n_name = 'NATION_1'
        |          THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |        AS DECIMAL(22,4))) AS DOUBLE) AS nation_vol,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |        AS DECIMAL(22,4))) AS DOUBLE) AS total_vol
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
        |  GROUP BY o_year)
        |SELECT o_year, nation_vol / total_vol AS mkt_share
        |FROM vols ORDER BY o_year""".stripMargin,
    "tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-10-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "tpch_q14" ->
      """SELECT 100.0 * (
        |    CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
        |        THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |      AS DECIMAL(22,4))) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(22,4))) AS DOUBLE)) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1998-03-01'
        |  AND l_shipdate < TIMESTAMP '1998-04-01'""".stripMargin,
    "tpch_q17" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN (SELECT l_partkey AS ap, sum(l_quantity) / count(*) AS avg_qty
        |      FROM lineitem GROUP BY l_partkey) a ON a.ap = l_partkey
        |WHERE p_brand = 'Brand#13' AND l_quantity < 0.2 * avg_qty""".stripMargin,
    "tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM (SELECT l_orderkey,
        |        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey) b
        |JOIN orders ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE sum_qty > 250
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "tpch_q19" ->
      """SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "tpch_q2" ->
      """WITH eu AS (
        |  SELECT s_suppkey, s_name, n_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |offers AS (
        |  SELECT p_partkey, p_brand, s_suppkey, s_name, n_name,
        |         l_extendedprice / l_quantity AS unit_price
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN eu ON l_suppkey = s_suppkey
        |  WHERE p_size = 15),
        |m AS (SELECT p_partkey AS mp, min(unit_price) AS min_price
        |      FROM offers GROUP BY p_partkey)
        |SELECT DISTINCT p_partkey, p_brand, s_suppkey, s_name, n_name,
        |  round(min_price, 6) AS unit_price
        |FROM offers JOIN m ON p_partkey = mp AND unit_price = min_price
        |ORDER BY p_partkey, s_suppkey LIMIT 100""".stripMargin,
    "tpch_q9" ->
      """SELECT n_name AS nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |        - 0.5 * p_retailprice * l_quantity AS DECIMAL(24,6)))
        |    AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,
    "tpch_q12" ->
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'fast'
        |            WHEN date_diff('day', o_orderdate, l_shipdate) <= 60 THEN 'medium'
        |            ELSE 'slow' END AS bucket,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND EXISTS (SELECT 1 FROM supplier
        |              WHERE s_suppkey = l_suppkey AND s_acctbal >= 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "tpch_q11" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4)))
        |      AS DOUBLE) AS value
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier WHERE s_nationkey IN (
        |      SELECT n_nationkey FROM nation
        |      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')))
        |  GROUP BY l_partkey)
        |SELECT l_partkey, value FROM v
        |WHERE value > (SELECT CAST(sum(CAST(value AS DECIMAL(22,4))) AS DOUBLE)
        |                 / count(*) * 1.5 FROM v)
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4)))
        |      AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "tpch_q20" ->
      """WITH pq AS (
        |  SELECT l_suppkey,
        |    sum(CASE WHEN year(l_shipdate) = 1997 THEN l_quantity ELSE 0 END)
        |      AS q97,
        |    sum(l_quantity) AS qa
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE '%red%')
        |  GROUP BY l_suppkey, l_partkey)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM pq WHERE q97 > 0.5 * qa)
        |  AND s_nationkey IN (
        |    SELECT n_nationkey FROM nation
        |    WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3',
        |                     'NATION_4', 'NATION_5'))
        |ORDER BY s_suppkey""".stripMargin,
    "tpch_q21" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |po AS (
        |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
        |  FROM li GROUP BY l_orderkey),
        |ll AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late)
        |SELECT s_name, count(*) AS numwait
        |FROM ll
        |JOIN po USING (l_orderkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE n_supp >= 2 AND n_late_supp = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "tpch_q22" ->
      """WITH a AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |           / count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, a
        |WHERE c_acctbal > a.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
  )
}
