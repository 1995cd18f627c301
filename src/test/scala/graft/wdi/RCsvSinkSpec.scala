package graft.wdi

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._

/** Differential spec of the driver-side sink: [[RCsv.write]] must write the
  * bytes Spark's CSV writer writes with the options the sink has always
  * used (`header`, `emptyValue ""`, doubles through [[RCsv.formatDouble]],
  * null → `NA`). The Spark-writer path lives only here, as the oracle.
  */
class RCsvSinkSpec extends SparkSpec {

  /** The previous sink: a one-file Spark CSV write, renamed into place. */
  private def sparkWriter(df: DataFrame, path: String): Unit = {
    val fmt = udf((d: java.lang.Double) => if (d == null) "NA" else RCsv.formatDouble(d))
    val cols = df.schema.fields.map { f =>
      if (f.dataType == DoubleType) fmt(col(s"`${f.name}`")).as(f.name) else col(s"`${f.name}`")
    }
    val tmp = Files.createTempDirectory("rcsv-oracle").toString
    df.select(cols.toIndexedSeq: _*).coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("header", true)
      .option("emptyValue", "")
      .csv(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .getOrElse(sys.error(s"no part file in $tmp"))
    Files.move(part.toPath, Paths.get(path))
  }

  private val strings: Seq[String] = Seq(
    "plain", "a,b", "say \"hi\"", "\"", "\"\"", "back\\slash", "\\\"", "ends\\",
    "cr\rhere", "lf\nhere", "crlf\r\nhere", "\n", "  lead", "trail  ", " both ",
    "\ttab", " ", "", null, "Côte d’Ivoire", "São Tomé", "東京", "emoji 😀",
    "#hash", "semi;colon", "x,\"y\",\\z")

  private val doubles: Seq[java.lang.Double] = Seq(
    null, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
    1e-4, 1e15, 1e15 - 1, 0.001, -6.060884346639502e-4, 123.456, 5.0, -1.5e-7,
    Double.MinPositiveValue, Double.MaxValue)

  private val schema = StructType(Seq(
    StructField("Country Code", StringType), StructField("x", DoubleType),
    StructField("odd, \"name\"", StringType), StructField("y", DoubleType)))

  private def frame(n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      Row(strings(i % strings.size), doubles(i % doubles.size),
        strings((i * 7 + 3) % strings.size), doubles((i * 5 + 1) % doubles.size))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def bytes(p: String) = Files.readAllBytes(Paths.get(p))
  private def tmpDir(): Path = Files.createTempDirectory("rcsv-sink")

  test("the driver sink writes Spark's CSV bytes on awkward strings and doubles") {
    val dir = tmpDir()
    Seq(0, 1, strings.size * doubles.size).foreach { n =>
      val df = frame(n)
      sparkWriter(df, s"$dir/want$n.csv")
      RCsv.write(df, s"$dir/got$n.csv")
      val (got, want) = (bytes(s"$dir/got$n.csv"), bytes(s"$dir/want$n.csv"))
      assert(got.sameElements(want),
        s"n=$n\n--- got\n${new String(got, "UTF-8")}\n--- want\n${new String(want, "UTF-8")}")
    }
  }

  test("the sink rejects a column type it does not format, leaving nothing behind") {
    val dir = tmpDir()
    val df = spark.range(3).toDF("id")
    val e = intercept[IllegalArgumentException](RCsv.write(df, s"$dir/out.csv"))
    assert(e.getMessage.contains("id") && e.getMessage.contains("bigint"))
    assert(Files.list(dir).count() == 0)
  }

  test("the sink overwrites an existing file and leaves no temporary file") {
    val dir = tmpDir().resolve("nested")
    val path = s"$dir/out.csv"
    RCsv.write(frame(40), path)
    RCsv.write(frame(3), path)
    val want = s"$dir/want.csv"
    sparkWriter(frame(3), want)
    assert(bytes(path).sameElements(bytes(want)))
    val names = Files.list(dir).toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet
    assert(names == Set("out.csv", "want.csv"), names)
  }
}
