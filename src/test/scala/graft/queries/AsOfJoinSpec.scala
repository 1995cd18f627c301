package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private val quotes = Seq(
    // (key, t, px, note) — note is nullable to prove payload-struct atomicity
    ("A", 10L, 1.0, Some("a10")),
    ("A", 20L, 2.0, None),
    ("A", 30L, 3.0, Some("a30")),
    ("B", 15L, 9.0, Some("b15"))
  ).toDF("key", "t", "px", "note")

  private val trades = Seq(
    ("A", 5L, 100L),  // before any quote -> null match
    ("A", 20L, 101L), // equal-time -> inclusive, matches t=20
    ("A", 25L, 102L), // between -> t=20
    ("A", 99L, 103L), // after all -> t=30
    ("B", 15L, 104L), // equal-time on other key
    ("C", 50L, 105L)  // key with no quotes at all
  ).toDF("key", "t", "trade_id")

  private lazy val joined = AsOfJoin
    .asOfLeft(trades, quotes, Seq("key"), "t", "t", Seq("px", "note"), prefix = "q_")
    .select("trade_id", "q_t", "q_px", "q_note")
    .collect().map(r => r.getLong(0) ->
      (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap

  test("matches latest at-or-before quote, inclusive boundary, null when none") {
    assert(joined(100L) === ((None, None, None)))
    assert(joined(101L) === ((Some(20L), Some(2.0), None)))
    assert(joined(102L) === ((Some(20L), Some(2.0), None)))
    assert(joined(103L) === ((Some(30L), Some(3.0), Some("a30"))))
    assert(joined(104L) === ((Some(15L), Some(9.0), Some("b15"))))
    assert(joined(105L) === ((None, None, None)))
  }

  test("payload fields come from the same matched row even when nullable") {
    // trade 101/102 match the t=20 quote whose note is null: a per-column
    // last(ignoreNulls) would have leaked note="a10" from t=10.
    assert(joined(101L)._3 === None)
    assert(joined(102L)._3 === None)
  }

  test("agrees with the quadratic argmax encoding on random data") {
    val n = 500
    val r = spark.range(n).select(
      (pmod(xxhash64(col("id")), lit(7))).as("key"),
      pmod(xxhash64(col("id"), lit(1)), lit(100)).as("t"),
      col("id"))
    val right = r.groupBy("key", "t").agg(max(col("id")).as("rid"))
    val left = spark.range(n, n + 300).select(
      pmod(xxhash64(col("id")), lit(9)).as("key"),
      pmod(xxhash64(col("id"), lit(2)), lit(100)).as("t"),
      col("id").as("lid"))

    val fast = AsOfJoin.asOfLeft(left, right, Seq("key"), "t", "t", Seq("rid"))
      .select(col("lid"), col("asof_t"), col("asof_rid"))

    val slowW = Window.partitionBy("lid").orderBy(col("rt").desc)
    val slow = left.join(
        right.select(col("key").as("rkey"), col("t").as("rt"), col("rid")),
        col("key") === col("rkey") && col("rt") <= col("t"), "left")
      .withColumn("rk", row_number().over(slowW))
      .filter(col("rk") === 1)
      .select(col("lid"), col("rt").as("asof_t"), col("rid").as("asof_rid"))

    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }
}
