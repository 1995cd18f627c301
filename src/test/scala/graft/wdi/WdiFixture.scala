package graft.wdi

import java.nio.file.Files

/** Small synthetic WDI extracts in the reference's wide-by-year layout
  * ([[WdiSchemas.wideSchema]]): three CSVs, five series per country, 60
  * year columns, empty cell = missing. Seeded, so every call writes the same
  * bytes. Besides ordinary countries in all three regions it plants the
  * edges the pipeline's gates and moments must agree on:
  *  - `ZAF`: Y valid only in the last [[WdiSchemas.MinDetrendObs]] years, so
  *    its Y kernel fits exactly that many points;
  *  - `KOR`: exports share == imports share every year, so TB is exactly 0
  *    (a constant series: sd 0, correlations NaN);
  *  - `ZZA`, `ZZB`: codes outside the region table (null Region);
  *  - `NGA`: no Mper series at all; `GHA`: Iper's longest valid run is one
  *    year short of [[WdiSchemas.MinConsecutiveRun]] — both miss exactly one
  *    variable after cleaning and must drop;
  *  - one country name with a comma and a quote (CSV quoting on read).
  */
object WdiFixture {
  val Dropped: Set[String] = Set("NGA", "GHA")

  private val files = Seq(
    "GDP_SSA_WDI.csv" -> Seq("KEN", "SEN", "BWA", "ZAF", "NGA", "GHA"),
    "GDP_ASIA_WDI.csv" -> Seq("THA", "IDN", "KOR", "ZZA"),
    "GDP_LA_WDI.csv" -> Seq("BRA", "CHL", "MEX", "ZZB"))

  val countries: Seq[String] = files.flatMap(_._2)

  private def quote(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  /** Writes the three extracts into a fresh temporary directory; returns it. */
  def write(): String = {
    val dir = Files.createTempDirectory("wdi-fixture")
    val years = WdiSchemas.yearCols.size
    files.foreach { case (file, codes) =>
      val sb = new StringBuilder
      sb ++= WdiSchemas.wideSchema.fieldNames.map(quote).mkString(",") += '\n'
      codes.foreach { code =>
        val rng = new java.util.SplittableRandom(code.hashCode.toLong)
        def noise(sd: Double) = Array.fill(years)((rng.nextDouble() - 0.5) * 2 * sd)
        val yNoise = noise(0.04)
        val y = Array.tabulate(years)(t =>
          math.exp(7 + rng.nextDouble() + 0.02 * t + 1e-4 * t * t + yNoise(t)))
        def share(mean: Double) = noise(3).map(mean + _)
        val series = scala.collection.mutable.LinkedHashMap(
          "NY.GDP.PCAP.KN" -> y, "NE.CON.PRVT.ZS" -> share(60),
          "NE.GDI.TOTL.ZS" -> share(20), "NE.EXP.GNFS.ZS" -> share(30),
          "NE.IMP.GNFS.ZS" -> share(28))
        val missing = Double.NaN
        code match {
          case "ZAF" => (0 until years - WdiSchemas.MinDetrendObs).foreach(y(_) = missing)
          case "KOR" =>
            series("NE.EXP.GNFS.ZS") = Array.fill(years)(25.0)
            series("NE.IMP.GNFS.ZS") = Array.fill(years)(25.0)
          case "NGA" => series.remove("NE.IMP.GNFS.ZS")
          case "GHA" =>
            val run = WdiSchemas.MinConsecutiveRun - 1
            series("NE.GDI.TOTL.ZS") = Array.tabulate(years)(t =>
              if (t % (run + 1) == run) -1.0 else 20.0 + t % 7)
          case _ =>
        }
        val name = if (code == "KEN") "Kenya, \"Republic\"" else s"Country $code"
        series.foreach { case (sc, vs) =>
          sb ++= Seq(quote(name), code, quote(s"Series $sc"), sc).mkString(",")
          vs.foreach { v => sb += ','; if (!v.isNaN) sb ++= java.lang.Double.toString(v) }
          sb += '\n'
        }
      }
      Files.writeString(dir.resolve(file), sb.toString)
    }
    dir.toString
  }
}
