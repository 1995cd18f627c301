package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The memoized footer schema behind every `Tables` read: it is the schema a
  * bare `read.parquet` infers, it follows the confs that change inference
  * and a file rewritten in place, and once memoized it makes constructing
  * the 22 `tpch_*` entries run no Spark job at all (a bare read runs one
  * footer job per read: 71 per construction).
  */
class TablesSchemaSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"
  private val NtzConf = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** Write `df` as the single file `<dir>/<name>.parquet`, replacing it. */
  private def writeTable(dir: Path, name: String, df: DataFrame): Unit = {
    val stage = Files.createTempDirectory(dir, "stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val listing = Files.list(stage)
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    new scala.reflect.io.Directory(stage.toFile).deleteRecursively()
  }

  private def withDir(prefix: String)(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  /** Write `<dir>/<name>.parquet` with a zone-less timestamp[us] column and
    * no Spark schema in its footer, as the driver's testdata generator does
    * (Spark infers a file it wrote itself from the schema stored with it,
    * whatever the inference confs say). */
  private def writeZonelessTs(dir: Path, name: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required int64 ts (TIMESTAMP(MICROS,false)); }")
    val conf = new Configuration()
    val out = HadoopOutputFile.fromPath(new HPath(dir.resolve(s"$name.parquet").toString), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try (0L until 3L).foreach(i => w.write(rows.newGroup().append("id", i).append("ts", i)))
    finally w.close()
  }

  test("a zone-less timestamp follows inferTimestampNTZ within one session") {
    val s = spark.newSession()
    withDir("graft_schema_ntz") { dir =>
      writeZonelessTs(dir, "t")
      def tsType = Tables.table(s, dir.toString, "t").schema("ts").dataType
      s.conf.set(NtzConf, "true")
      assert(tsType == TimestampNTZType)
      s.conf.set(NtzConf, "false")
      assert(tsType == TimestampType, "schema inferred under the old conf value was served")
      s.conf.set(NtzConf, "true")
      assert(tsType == TimestampNTZType)
    }
    Memo.fireSessionEnd(s)
  }

  test("a file rewritten in place with one more column shows that column") {
    val s = spark.newSession()
    withDir("graft_schema_rewrite") { dir =>
      writeTable(dir, "t", spark.range(3).select(col("id")))
      assert(Tables.table(s, dir.toString, "t").columns.toSeq == Seq("id"))
      writeTable(dir, "t", spark.range(3).select(col("id"), lit("x").as("tag")))
      val t = Tables.table(s, dir.toString, "t")
      assert(t.columns.toSeq == Seq("id", "tag"), "stale footer schema served")
      assert(t.where(col("tag") === "x").count() == 3)
    }
    Memo.fireSessionEnd(s)
  }

  test("Tables.table reads every sf0.001 table with the schema read.parquet infers") {
    val names = new java.io.File(Sf).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(names.contains("events") && names.contains("lineitem"), names)
    names.foreach { n =>
      assert(Tables.table(spark, Sf, n).schema == spark.read.parquet(s"$Sf/$n.parquet").schema, n)
    }
  }

  test("the 22 tpch entries construct with one footer job per file, then with none") {
    val s = spark.newSession()
    val names = SparkEntry.queries.keys.filter(_.startsWith("tpch_")).toSeq.sorted
    assert(names.size == 22)
    def construct(): Unit = names.foreach(n => SparkEntry.queries(n)(s, Sf))
    val first = jobsOf(construct())
    val second = jobsOf(construct())
    assert(first <= 7, s"first construction ran $first jobs over 7 files")
    assert(second == 0, s"second construction ran $second jobs")
    Memo.fireSessionEnd(s)
  }

  test("Tables.widened rejects an input with an exchange, at plan time") {
    val grouped = Tables.lineitem(spark, Sf).groupBy("l_orderkey").count()
    var err: IllegalArgumentException = null
    val jobs = jobsOf { err = intercept[IllegalArgumentException](Tables.widened(spark, grouped)) }
    assert(err.getMessage.contains("Exchange"), err.getMessage)
    assert(jobs == 0, s"the precondition check ran $jobs jobs")
  }

  test("Tables.widened takes the filtered slices the minhash append path unions") {
    val docs = Tables.documents(spark, Sf)
    val isDelta = col("doc_id") % 5 === 4
    val n = docs.count()
    assert(Tables.widened(spark, docs.filter(!isDelta)).count() +
      Tables.widened(spark, docs.filter(isDelta)).count() == n)
    // builds the base and delta shingle sets from such slices, then unions them
    SparkEntry.queries("dedup_minhash_append")(spark, Sf)
  }
}
