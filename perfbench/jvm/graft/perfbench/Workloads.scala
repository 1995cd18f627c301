package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.wdi.{RCsv, WdiPipelines}

/** One timed operation of a pass: a registry entry or one WDI output. */
final case class QueryRun(name: String, seconds: Double, rows: Long, hash: Long, error: String)

/** Collects the operations of one pass; each runs inside its own span, and
  * the span id is handed to Spark so traced jobs hang under it. */
final class PassRecorder(spark: SparkSession, spans: Spans) {
  val queries = scala.collection.mutable.ArrayBuffer[QueryRun]()
  var buildSeconds = 0.0

  def query(name: String)(body: => (Long, Long)): Unit = spans(name) {
    spark.sparkContext.setLocalProperty(LayerListener.SpanProperty, spans.current.toString)
    val t0 = System.nanoTime()
    val run =
      try {
        val (rows, hash) = body
        QueryRun(name, (System.nanoTime() - t0) / 1e9, rows, hash, null)
      } catch {
        case e: Throwable =>
          QueryRun(name, (System.nanoTime() - t0) / 1e9, -1, 0,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
    queries += run
  }

  def build[T](body: => T): T = spans("build") {
    val t0 = System.nanoTime()
    try body finally buildSeconds += (System.nanoTime() - t0) / 1e9
  }
}

trait Workload {
  /** The set-up's warm-up: JIT and session paths, sharing no plan with a pass. */
  def warmUp(spark: SparkSession): Unit
  /** Construct the workload's DataFrames (timed as `build_s`); called
    * `constructions` times, the last construction is the one the passes use. */
  def construct(spark: SparkSession, rec: PassRecorder): Unit
  /** How many constructions a run makes. The first is JIT-cold and only
    * warms up; `build_s` is the median of the others. */
  def constructions: Int
  /** Untimed per-pass preparation (e.g. the pass's own input copy). */
  def prepare(p: Int): Unit
  def pass(spark: SparkSession, p: Int, rec: PassRecorder): Unit
  /** A warm pass's usual length on the reference host (4 shared cores):
    * the run times `round(seconds / nominalPassSeconds)` passes, at least one. */
  def nominalPassSeconds: Double
  /** Extra fields for the result file (oracle SQL, expected layout). */
  def describe: Map[String, Any]
}

object Workload {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rangeWarmUp(spark: SparkSession): Unit =
    noop(spark.range(1000000).selectExpr("sum(id)"))
}

/** Registry entries over a parquet directory, constructed before the
  * passes; a pass materialises each entry once, in name order. */
final class RegistryWorkload(prefix: String, dir: String) extends Workload {
  val names: Seq[String] = SparkEntry.queries.keys.filter(_.startsWith(prefix)).toSeq.sorted
  private var built: Seq[(String, Either[String, DataFrame])] = Nil

  def warmUp(spark: SparkSession): Unit = {
    Workload.rangeWarmUp(spark)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_linestatus").count().orderBy("l_linestatus")
      .write.format("noop").mode("overwrite").save()
  }

  def construct(spark: SparkSession, rec: PassRecorder): Unit = rec.build {
    built = names.map { n =>
      n -> (try Right(SparkEntry.queries(n)(spark, dir))
      catch { case e: Throwable => Left(Option(e.getMessage).getOrElse(e.toString).take(300)) })
    }
  }

  def constructions: Int = 2

  def prepare(p: Int): Unit = ()

  def nominalPassSeconds: Double = 7.5

  def pass(spark: SparkSession, p: Int, rec: PassRecorder): Unit =
    built.foreach { case (n, df) =>
      rec.query(n) {
        df match {
          case Right(d) => RowHash.materialise(spark, d)
          case Left(err) => throw new IllegalStateException(s"construction failed: $err")
        }
      }
    }

  def describe: Map[String, Any] =
    Map("oracle_sql" -> names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap)
}

/** The paper's job: all four detrend variants' seven outputs, written as R
  * CSVs the way `WdiMain` writes them. Each pass reads its own copy of the
  * extracts, so the pipeline's per-directory cycle cache never serves a
  * timed pass from an earlier one. */
final class WdiWorkload(inputDir: String, work: String) extends Workload {
  private def passIn(p: Int) = s"$work/wdi_in/p$p"
  private def passOut(p: Int) = s"$work/wdi_out/p$p"

  def warmUp(spark: SparkSession): Unit = {
    Workload.rangeWarmUp(spark)
    spark.read.option("header", true).csv(s"$inputDir/${WdiGen.FileNames.head}")
      .groupBy("Series Code").count().orderBy("Series Code")
      .write.format("noop").mode("overwrite").save()
  }

  private var constructed = 0

  def constructions: Int = 5

  /** The four variants' outputs over an input copy of their own, so no
    * construction finds the cycle cache filled by another. Nothing runs:
    * the cycle tables are persisted lazily, and a pass constructs its own. */
  def construct(spark: SparkSession, rec: PassRecorder): Unit = {
    constructed += 1
    val dir = s"$work/wdi_in/build$constructed"
    WdiWorkload.copy(inputDir, dir)
    rec.build(WdiPipelines.variants.foreach(v => WdiPipelines.outputs(spark, dir, v)))
  }

  def prepare(p: Int): Unit = WdiWorkload.copy(inputDir, passIn(p))

  def nominalPassSeconds: Double = 15.0

  def pass(spark: SparkSession, p: Int, rec: PassRecorder): Unit =
    WdiPipelines.variants.foreach { v =>
      val outs = rec.build(WdiPipelines.outputs(spark, passIn(p), v))
      outs.toSeq.sortBy(_._1).foreach { case (stem, df) =>
        val path = s"${passOut(p)}/$stem.csv"
        rec.query(stem) {
          RCsv.write(WdiWorkload.ordered(stem, df), path)
          (-1L, 0L)
        }
      }
    }

  def describe: Map[String, Any] = Map("outputs_dir" -> s"$work/wdi_out")
}

object WdiWorkload {
  /** `WdiMain`'s output order: per-country files by code, regional by region. */
  def ordered(stem: String, df: DataFrame): DataFrame =
    if (stem.contains("by_country")) df.orderBy(col("Country Code")) else df.orderBy(col("Region"))

  /** Copy the three extracts into `to` (a fresh input path). */
  def copy(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    WdiGen.FileNames.foreach { f =>
      Files.copy(Paths.get(s"$from/$f"), Paths.get(s"$to/$f"), StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
