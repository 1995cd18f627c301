package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Order-insensitive fingerprint of a result: the row count and the sum
  * (mod 2^64) of a 64-bit digest per row. Each row is encoded cell by cell
  * in column-name order with a type-tagged canonical form that `checks.py`
  * reproduces from DuckDB's Python values, so an entry's fingerprint can be
  * compared with its oracle's. Numbers compare the way the oracle compare
  * does: integers exactly, floating and decimal values by their double. */
object RowHash {
  private def dbl(d: Double): String =
    if (d.isNaN) "dNaN"
    else if (d == 0.0) "d0"
    else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  def cell(v: Any): String = v match {
    case null => "N"
    case b: java.lang.Boolean => "b" + b
    case n: java.lang.Long => "i" + n
    case n: java.lang.Integer => "i" + n
    case n: java.lang.Short => "i" + n
    case n: java.lang.Byte => "i" + n
    case d: java.lang.Double => dbl(d)
    case f: java.lang.Float => dbl(f.toDouble)
    case m: java.math.BigDecimal => dbl(m.doubleValue)
    case m: scala.math.BigDecimal => dbl(m.toDouble)
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t" + java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, t)
    case t: java.time.LocalDateTime =>
      "t" + java.time.temporal.ChronoUnit.MICROS.between(
        java.time.LocalDateTime.of(1970, 1, 1, 0, 0), t)
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case o => "o" + o
  }

  /** Column positions in name order (ties keep their position). */
  def nameOrder(cols: Array[String]): Array[Int] = cols.indices.sortBy(cols(_)).toArray

  def rowDigest(md: MessageDigest, r: Row, order: Array[Int]): Long = {
    val s = order.map(i => cell(r.get(i))).mkString("\u0001")
    val d = md.digest(s.getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Materialise every row of `df` (a fresh plan each call, like a noop
    * write) and return (rows, fingerprint). */
  def materialise(spark: SparkSession, df: DataFrame): (Long, Long) = {
    val sc = spark.sparkContext
    val rows = sc.longAccumulator("perfbench.rows")
    val sum = sc.longAccumulator("perfbench.hash")
    val cols = df.columns
    val order = nameOrder(cols)
    df.toDF(cols.toIndexedSeq: _*).foreachPartition { (it: Iterator[Row]) =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowDigest(md, r, order) }
      rows.add(n)
      sum.add(h)
    }
    (rows.value, sum.value)
  }
}
