package graft.perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import graft.wdi.{Regions, WdiSchemas}

/** Seeded synthetic WDI extracts in the wide-by-year layout
  * ([[WdiSchemas.wideSchema]]): three CSVs (SSA, ASIA, LA), five series per
  * country, 60 year columns, empty cell = missing.
  *
  * The first 62 country codes are the region table's own, so the region
  * aggregates have real groups; the rest are synthetic codes without a
  * region. Planted defects exercise the cleaning rules, keyed on the
  * country's index k:
  *  - k % 7 == 1: Y missing for the first 25 years (a 35-year run survives);
  *  - k % 11 == 2: Iper is 0 in year 30 (runs of 30 and 29; the 29 drops);
  *  - k % 13 == 3: Mper missing every 20th year (runs of 19: country drops);
  *  - k % 17 == 4: no Xper series at all (country drops);
  *  - k % 19 == 5: Cper negative in years 10-39 (runs of 10 and 20: drops);
  *  - k % 23 == 6: an extra series with an unknown code (filtered out).
  * Every fifth country name carries a comma, so the CSV quoting is used. */
object WdiGen {
  val FileNames: Seq[String] = Seq("GDP_SSA_WDI.csv", "GDP_ASIA_WDI.csv", "GDP_LA_WDI.csv")
  private val seriesNames = Map(
    "NE.EXP.GNFS.ZS" -> "Exports of goods and services (% of GDP)",
    "NY.GDP.PCAP.KN" -> "GDP per capita (constant LCU)",
    "NE.GDI.TOTL.ZS" -> "Gross capital formation (% of GDP)",
    "NE.CON.PRVT.ZS" -> "Households and NPISHs final consumption expenditure (% of GDP)",
    "NE.IMP.GNFS.ZS" -> "Imports of goods and services (% of GDP)")

  def codes(n: Int): Seq[String] = {
    val real = Regions.iso3ToRegion.keys.toSeq.sorted.take(n)
    real ++ (0 until n - real.size).map(i => f"S$i%04d")
  }

  private def fileOf(code: String, k: Int): Int = Regions.iso3ToRegion.get(code) match {
    case Some(Regions.SSA) => 0
    case Some(Regions.EAP) => 1
    case Some(Regions.LAC) => 2
    case _ => k % 3
  }

  private def quote(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  /** An AR(1) path of `n` steps with persistence `phi` and shock sd `sigma`. */
  private def ar1(rng: SplittableRandom, n: Int, phi: Double, sigma: Double): Array[Double] = {
    val out = new Array[Double](n)
    var x = 0.0
    var i = 0
    while (i < n) { x = phi * x + sigma * gauss(rng); out(i) = x; i += 1 }
    out
  }

  private def gauss(rng: SplittableRandom): Double = {
    val u1 = 1.0 - rng.nextDouble()
    val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Writes the three CSVs and `regions.tsv` (code, region or empty) under
    * `dir`; returns the number of CSV data rows written. */
  def generate(dir: String, seed: Long, nCountries: Int): Long = {
    Files.createDirectories(Paths.get(dir))
    val years = WdiSchemas.yearCols.size
    val writers = FileNames.map(f => new BufferedWriter(new FileWriter(s"$dir/$f"), 1 << 20))
    val header = WdiSchemas.wideSchema.fieldNames.map(quote).mkString(",")
    writers.foreach { w => w.write(header); w.write('\n') }
    val regions = new StringBuilder
    var rows = 0L
    codes(nCountries).zipWithIndex.foreach { case (code, k) =>
      val rng = new SplittableRandom(seed * 1000003L + k)
      regions ++= s"$code\t${Regions.iso3ToRegion.getOrElse(code, "")}\n"
      val name = if (k % 5 == 0) s"Country $code, Rep." else s"Country $code"
      val t = Array.tabulate(years)(_.toDouble)
      val level = 6.0 + 6.0 * rng.nextDouble()
      val growth = 0.005 + 0.035 * rng.nextDouble()
      val curve = (rng.nextDouble() - 0.5) * 4e-4
      val yc = ar1(rng, years, 0.6, 0.03)
      def share(mean: Double, spread: Double, sigma: Double): Array[Double] = {
        val m = mean + spread * rng.nextDouble()
        ar1(rng, years, 0.7, sigma).map(v => math.max(0.5, m + v))
      }
      val series = scala.collection.mutable.LinkedHashMap[String, Array[Double]](
        "NY.GDP.PCAP.KN" -> t.map(i => math.exp(level + growth * i + curve * i * i + yc(i.toInt))),
        "NE.CON.PRVT.ZS" -> share(55, 15, 1.5),
        "NE.GDI.TOTL.ZS" -> share(18, 10, 1.5),
        "NE.EXP.GNFS.ZS" -> share(25, 20, 2.0),
        "NE.IMP.GNFS.ZS" -> share(28, 20, 2.0))
      val nan = Double.NaN
      if (k % 7 == 1) (0 until 25).foreach(series("NY.GDP.PCAP.KN")(_) = nan)
      if (k % 11 == 2) series("NE.GDI.TOTL.ZS")(30) = 0.0
      if (k % 13 == 3) Seq(19, 39, 59).foreach(series("NE.IMP.GNFS.ZS")(_) = nan)
      if (k % 17 == 4) series.remove("NE.EXP.GNFS.ZS")
      if (k % 19 == 5) (10 until 40).foreach(i => series("NE.CON.PRVT.ZS")(i) *= -1)
      if (k % 23 == 6) series("NY.GDP.MKTP.CD") = t.map(i => 1e9 + i)
      val w = writers(fileOf(code, k))
      series.foreach { case (sc, vs) =>
        w.write(quote(name)); w.write(','); w.write(code); w.write(',')
        w.write(quote(seriesNames.getOrElse(sc, "GDP (current US$)"))); w.write(',')
        w.write(sc)
        vs.foreach { v => w.write(','); if (!v.isNaN) w.write(java.lang.Double.toString(v)) }
        w.write('\n')
        rows += 1
      }
    }
    writers.foreach(_.close())
    Files.writeString(Paths.get(s"$dir/regions.tsv"), regions.toString)
    rows
  }
}
