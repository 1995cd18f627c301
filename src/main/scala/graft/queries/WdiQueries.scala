package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.wdi.{Regions, WdiEtl, WdiPipelines, WdiSchemas, WdiStats}

/** Driver-checkable WDI queries.
  *
  * `wdi_front_half` re-derives the shared relational front half in pure
  * DuckDB SQL (independent reimplementation — strongest relational check).
  * The 28 `wdi_*` golden queries compare each pipeline output against the
  * reference's own committed CSV, both sides rounded to 6 decimals to absorb
  * R-vs-JVM ulp differences.
  */
object WdiQueries {

  private val RefDir = "/root/reference"

  /** (kind key, golden stem, per-country?, stat column names) */
  private def kinds(v: WdiPipelines.Variant): Seq[(String, String, Boolean, Seq[String])] = {
    val sd = v.sdNames.map(_._2)
    Seq(
      ("sd_country", s"sd_by_country_${v.goldenSuffix}", true,
        sd ++ WdiStats.ratioCols),
      ("sd_region", s"sd_by_region_${v.goldenSuffix}", false,
        sd.flatMap(c => Seq(s"${c}_mean", s"${c}_sd"))),
      ("sd_ratio_region", s"sd_ratio_by_region_${v.goldenSuffix}", false,
        WdiStats.ratioCols.flatMap(c => Seq(s"${c}_mean", s"${c}_sd"))),
      ("corr_country", s"corr_by_country_${v.goldenSuffix}", true, WdiStats.corrCols),
      ("corr_region", s"corr_by_region_${v.goldenSuffix}", false,
        WdiStats.corrCols.flatMap(c => Seq(s"${c}_mean", s"${c}_sd"))),
      ("acf_country", s"acf_by_country_${v.goldenSuffix}", true, WdiStats.acfCols),
      ("acf_region", s"acf_by_region_${v.goldenSuffix}", false,
        WdiStats.acfCols.flatMap(c => Seq(s"${c}_mean", s"${c}_sd"))))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val golden = for {
      v <- WdiPipelines.variants
      (kind, stem, perCountry, stats) <- kinds(v)
    } yield s"wdi_${kind}_${v.key}" -> { (s: SparkSession, _: String) =>
      val out = WdiPipelines.outputs(s, RefDir, v)(stem)
      val keys =
        if (perCountry)
          Seq(col("Country Code").as("country_code"), col("Region").as("region"))
        else Seq(col("Region").as("region"))
      val cols = keys ++ stats.map(c => round(col(c), 6).as(c))
      out.select(cols: _*).orderBy(if (perCountry) "country_code" else "region")
    }
    (golden :+ ("wdi_front_half" -> { (s: SparkSession, _: String) =>
      WdiEtl.frontHalf(s, RefDir)
        .select(
          (Seq(col("Country Code").as("country_code"), col("Year").as("year")) ++
            Seq("Y", "Cper", "Iper", "Xper", "Mper", "C", "I", "X", "M", "TB")
              .map(col) :+ col("Region").as("region")): _*)
        .orderBy("country_code", "year")
    })).toMap
  }

  val oracles: Map[String, String] = {
    val golden = for {
      v <- WdiPipelines.variants
      (kind, stem, perCountry, stats) <- kinds(v)
    } yield {
      val keySel =
        if (perCountry) """"Country Code" AS country_code, Region AS region"""
        else "Region AS region"
      val statSel = stats.map(c => s"round($c, 6) AS $c").mkString(", ")
      val ord = if (perCountry) "country_code" else "region"
      s"wdi_${kind}_${v.key}" ->
        s"""SELECT $keySel, $statSel
           |FROM read_csv('$RefDir/$stem.csv', header=true)
           |ORDER BY $ord""".stripMargin
    }
    (golden :+ ("wdi_front_half" -> frontHalfSql)).toMap
  }

  /** Independent DuckDB reimplementation of WdiEtl.frontHalf.
    *
    * The reference detects runs with a lag/cumsum over the full year grid
    * (null cells present); DuckDB's UNPIVOT drops null cells, so maximal
    * consecutive runs are found with the equivalent gaps-and-islands
    * year − row_number() trick (exact on the integer year grid).
    */
  private def frontHalfSql: String = {
    val years = WdiSchemas.yearCols
    val yearList = years.map(y => s""""$y"""").mkString(", ")
    val yearTypes = years.map(y => s"'$y': 'DOUBLE'").mkString("{", ", ", "}")
    val caseExpr = WdiSchemas.seriesToVariable
      .map { case (code, v) => s"WHEN '$code' THEN '$v'" }
      .mkString("""CASE "Series Code" """, " ", " END")
    def scan(f: String) =
      s"""SELECT "Country Code" AS cc, $caseExpr AS var, $yearList
         |  FROM read_csv('$RefDir/$f', header=true, types=$yearTypes)""".stripMargin
    val regionValues = Regions.iso3ToRegion.toSeq.sorted
      .map { case (c, r) => s"('$c', '$r')" }.mkString(", ")
    s"""WITH raw AS (
       |${scan("GDP_SSA_WDI.csv")}
       |  UNION ALL
       |${scan("GDP_ASIA_WDI.csv")}
       |  UNION ALL
       |${scan("GDP_LA_WDI.csv")}
       |),
       |longf AS (
       |  SELECT cc, var, CAST(year AS INT) AS year, value
       |  FROM (UNPIVOT raw ON $yearList INTO NAME year VALUE value)
       |),
       |valid AS (
       |  SELECT cc, var, year, value,
       |         year - row_number() OVER (PARTITION BY cc, var ORDER BY year) AS island
       |  FROM longf
       |  WHERE var IS NOT NULL AND value > 0
       |),
       |runs AS (
       |  SELECT cc, var, year, value,
       |         count(*) OVER (PARTITION BY cc, var, island) AS run_length
       |  FROM valid
       |),
       |cleaned AS (SELECT cc, var, year, value FROM runs WHERE run_length >= 30),
       |complete5 AS (
       |  SELECT cc FROM (SELECT DISTINCT cc, var FROM cleaned)
       |  GROUP BY cc HAVING count(*) = 5
       |),
       |wide AS (
       |  SELECT cc, year,
       |    max(CASE WHEN var = 'Y' THEN value END) AS Y,
       |    max(CASE WHEN var = 'Cper' THEN value END) AS Cper,
       |    max(CASE WHEN var = 'Iper' THEN value END) AS Iper,
       |    max(CASE WHEN var = 'Xper' THEN value END) AS Xper,
       |    max(CASE WHEN var = 'Mper' THEN value END) AS Mper
       |  FROM cleaned WHERE cc IN (SELECT cc FROM complete5)
       |  GROUP BY cc, year
       |),
       |derived AS (
       |  SELECT cc AS country_code, year, Y, Cper, Iper, Xper, Mper,
       |    Y * Cper / 100 AS C, Y * Iper / 100 AS I,
       |    Y * Xper / 100 AS X, Y * Mper / 100 AS M,
       |    (Y * Xper / 100 - Y * Mper / 100) / Y AS TB
       |  FROM wide
       |)
       |SELECT d.*, r.region
       |FROM derived d LEFT JOIN (VALUES $regionValues) r(code, region)
       |  ON d.country_code = r.code
       |ORDER BY country_code, year""".stripMargin
  }
}
