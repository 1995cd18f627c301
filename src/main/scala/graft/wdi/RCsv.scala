package graft.wdi

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** CSV sink with R `readr::write_csv` numeric formatting (S2,
  * detrendandstat_quad.R:214-216): shortest round-trip digits, fixed vs
  * scientific chosen by exponent range (fixed for 1e-3 <= |v| < 1e15 —
  * the boundary the golden files pin, e.g. `-0.0010895572142160998`
  * fixed vs `-6.060884346639502e-4` sci),
  * unpadded exponent, integers without a trailing `.0`, nulls as `NA`.
  * [[write]] is a driver-side sink for small result tables: one collect and
  * no write job. A WDI output is a sorted view of driver-local rows
  * ([[WdiPipelines]]), so its collect runs no Spark job either.
  */
object RCsv {

  def formatDouble(d: Double): String = {
    if (java.lang.Double.isNaN(d)) return "NA"
    if (d == Double.PositiveInfinity) return "Inf"
    if (d == Double.NegativeInfinity) return "-Inf"
    if (d == 0.0) return "0"
    val neg = d < 0
    val (digits, exp10) = Grisu2.digits(math.abs(d))
    // fixed for 1e-3 <= |v| < 1e15, scientific outside — the boundary the
    // goldens pin: -0.0010895572142160998 fixed, -6.060884346639502e-4 sci.
    val body =
      if (exp10 >= -3 && exp10 < 15) fixedRepr(digits, exp10)
      else sciRepr(digits, exp10)
    if (neg) "-" + body else body
  }

  private def fixedRepr(digits: String, exp10: Int): String =
    if (exp10 >= digits.length - 1)
      digits + "0" * (exp10 - digits.length + 1)
    else if (exp10 >= 0)
      digits.substring(0, exp10 + 1) + "." + digits.substring(exp10 + 1)
    else
      "0." + "0" * (-exp10 - 1) + digits

  private def sciRepr(digits: String, exp10: Int): String = {
    val mant =
      if (digits.length == 1) digits
      else digits.substring(0, 1) + "." + digits.substring(1)
    val es = if (exp10 < 0) s"-${-exp10}" else s"+$exp10"
    s"${mant}e$es"
  }

  /** Spark's CSV writer options the sink reproduces: a header line, nulls
    * and empty strings as empty cells, default quoting and escaping. */
  private def csvOptions =
    new CSVOptions(Map("header" -> "true", "emptyValue" -> ""), false, "UTC")

  /** Write `df` as ONE header CSV file at `path` (like `write_csv`): the rows
    * are collected and laid out on the driver by Spark's own CSV line
    * generator, double columns formatted by [[formatDouble]] (null → `NA`),
    * string columns as they are; any other column type is rejected. The
    * bytes are those of Spark's CSV writer with the same options. The row
    * volume of these sinks is per-country statistics, never the raw data.
    * The file is written next to `path` under a temporary name and renamed
    * over it atomically, so a reader never sees a partial file. */
  def write(df: DataFrame, path: String): Unit = {
    val cells: Array[Row => Any] = df.schema.fields.zipWithIndex.map {
      case (f, i) => f.dataType match {
        case DoubleType => (r: Row) =>
          UTF8String.fromString(if (r.isNullAt(i)) "NA" else formatDouble(r.getDouble(i)))
        case StringType => (r: Row) => UTF8String.fromString(r.getString(i))
        case t => throw new IllegalArgumentException(
          s"RCsv.write: column `${f.name}` is ${t.simpleString}; only double and string are formatted")
      }
    }
    val rows = df.collect()
    val target = Paths.get(path).toAbsolutePath
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    try {
      val out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8, StandardOpenOption.CREATE_NEW)
      try {
        val gen = new UnivocityGenerator(
          StructType(df.schema.fields.map(_.copy(dataType = StringType))), out, csvOptions)
        gen.writeHeaders()
        rows.foreach(r => gen.write(new GenericInternalRow(cells.map(_(r)))))
        gen.close()
      } finally out.close()
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }
}
