package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.types._

/** [[LocalSortFold]] against Spark's own sort: every query sorts a
  * `LocalRelation` (which the fold plans on the driver) and the same rows
  * behind `repartition(3)` (which it cannot touch), over keys with NULL,
  * NaN, ±Inf, -0.0 next to 0.0, empty and non-ASCII strings, in every
  * direction × null placement, on one and several columns, and over an
  * empty relation. The folded query must run no job and plan as a bare
  * `LocalTableScanExec`. Where the sort key has no ties both answers must be
  * equal row for row; with ties, equal as multisets and both sorted by an
  * independent comparator written here.
  */
class LocalSortFoldSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i", IntegerType), StructField("d", DoubleType), StructField("s", StringType)))

  private val ints: Seq[Any] = Seq(null, Int.MinValue, -1, 0, 1, 2, Int.MaxValue)
  private val doubles: Seq[Any] = Seq(null, Double.NaN, Double.NegativeInfinity, -1.5, -0.0, 0.0,
    Double.MinPositiveValue, 1.5, Double.PositiveInfinity)
  private val strings: Seq[Any] = Seq(null, "", "a", "ab", "B", "b", "ä", "z")

  /** 120 rows drawn with replacement, so every key column has ties. */
  private val rows: Seq[Row] = {
    val rng = new java.util.SplittableRandom(20261019L)
    def pick(xs: Seq[Any]) = xs(rng.nextInt(xs.size))
    (0 until 120).map(n => Row(n.toLong, pick(ints), pick(doubles), pick(strings)))
  }

  private def local(rs: Seq[Row]): DataFrame = spark.createDataFrame(rs.asJava, schema)

  /** A key: its column, its reference comparison of two non-null values,
    * direction and null placement. */
  private case class Key(name: String, asc: Boolean, nullsFirst: Boolean) {
    def column: Column = (asc, nullsFirst) match {
      case (true, true) => col(name).asc_nulls_first
      case (true, false) => col(name).asc_nulls_last
      case (false, true) => col(name).desc_nulls_first
      case (false, false) => col(name).desc_nulls_last
    }
    def compare(a: Row, b: Row): Int = {
      val i = a.fieldIndex(name)
      (a.isNullAt(i), b.isNullAt(i)) match {
        case (true, true) => 0
        case (true, false) => if (nullsFirst) -1 else 1
        case (false, true) => if (nullsFirst) 1 else -1
        case _ =>
          val c = (a.get(i), b.get(i)) match {
            case (x: Long, y: Long) => java.lang.Long.compare(x, y)
            case (x: Int, y: Int) => Integer.compare(x, y)
            // NaN above +Inf, -0.0 equal to 0.0
            case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
            // binary UTF-8 order
            case (x: String, y: String) =>
              java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))
            case (x, y) => fail(s"no reference order for $x, $y")
          }
          if (asc) c else -c
      }
    }
  }

  private val placements = for (asc <- Seq(true, false); nf <- Seq(true, false)) yield (asc, nf)
  private def keys(name: String): Seq[Key] = placements.map { case (a, nf) => Key(name, a, nf) }

  private def compareBy(ks: Seq[Key])(a: Row, b: Row): Int =
    ks.iterator.map(_.compare(a, b)).find(_ != 0).getOrElse(0)

  /** A cell-exact rendering: -0.0 and 0.0 differ, NaNs are one value. */
  private def render(r: Row): String = r.toSeq.map {
    case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
    case null => "N"
    case x => s"$x"
  }.mkString("|")

  /** Sorts `df` by `ks` folded and unfolded and compares the answers. */
  private def check(df: DataFrame, ks: Seq[Key]): Unit = {
    val what = ks.mkString(", ")
    val folded = df.orderBy(ks.map(_.column): _*)
    val spread = df.repartition(3).orderBy(ks.map(_.column): _*)
    val plan = folded.queryExecution.executedPlan
    assert(plan.isInstanceOf[LocalTableScanExec], s"not folded by $what:\n$plan")
    var got = Seq.empty[Row]
    val jobs = jobsOf { got = folded.collect().toSeq }
    assert(jobs == 0, s"the folded sort by $what ran $jobs jobs")
    val want = spread.collect().toSeq
    // (Spark itself empties a sort over no rows)
    assert(want.isEmpty || !spread.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
      s"the unfolded copy was folded by $what")
    val cmp = compareBy(ks) _
    Seq("folded" -> got, "spark" -> want).foreach { case (side, rs) =>
      rs.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
        assert(cmp(a, b) <= 0, s"$side rows out of order by $what: $a before $b")
      }
    }
    assert(got.map(render).sorted == want.map(render).sorted, s"rows differ by $what")
    val ties = want.sliding(2).exists { case Seq(a, b) => cmp(a, b) == 0; case _ => false }
    if (!ties) assert(got.map(render) == want.map(render), s"order differs by $what")
  }

  test("one key of each type, every direction and null placement, with ties") {
    for (c <- Seq("i", "d", "s"); k <- keys(c)) check(local(rows), Seq(k))
  }

  test("one key of each type with a unique tiebreak: equal row for row") {
    for (c <- Seq("i", "d", "s"); k <- keys(c); id <- keys("id").take(2))
      check(local(rows), Seq(k, id))
  }

  test("several keys in mixed directions") {
    for (kd <- keys("d"); ks <- keys("s"); ki <- keys("i").take(2))
      check(local(rows), Seq(kd, ks, ki))
  }

  test("a computed key, an empty relation, and rows with no ties at all") {
    val df = local(rows)
    val byLength = df.orderBy(length(col("s")).desc_nulls_last, col("id"))
    assert(byLength.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
    assert(byLength.collect().toSeq ==
      df.repartition(3).orderBy(length(col("s")).desc_nulls_last, col("id")).collect().toSeq)
    keys("d").foreach(k => check(local(Nil), Seq(k)))
    // every double above but -0.0, which ties with 0.0
    val distinct = Seq(null, Double.NaN, Double.NegativeInfinity, -1.5, 0.0,
      Double.MinPositiveValue, 1.5, Double.PositiveInfinity).zipWithIndex
      .map { case (d, n) => Row(n.toLong, n, d, s"$n") }
    keys("d").foreach(k => check(local(distinct), Seq(k)))
  }
}
