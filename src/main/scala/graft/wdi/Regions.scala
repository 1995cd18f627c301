package graft.wdi

/** Embedded iso3c → World Bank region dimension.
  *
  * Replaces the reference's `countrycode(origin="iso3c",
  * destination="region")` lookup (detrendandstat_quad.R:127-130). The
  * countrycode package's mapping is data, not code; we embed the subset
  * covering every country code present in the three committed inputs
  * (62 codes) so the lookup is total.
  */
object Regions {
  val EAP = "East Asia & Pacific"
  val LAC = "Latin America & Caribbean"
  val SSA = "Sub-Saharan Africa"

  val iso3ToRegion: Map[String, String] = {
    val eap = Seq("HKG", "IDN", "KOR", "MYS", "PHL", "SGP", "THA")
    val lac = Seq("ARG", "BRA", "CHL", "COL", "MEX", "PER", "VEN")
    val ssa = Seq(
      // surviving 31
      "BDI", "BEN", "BFA", "BWA", "CAF", "CIV", "CMR", "COG", "COM", "GAB",
      "GHA", "GIN", "GMB", "GNB", "KEN", "MDG", "MLI", "MRT", "MUS", "NAM",
      "NER", "RWA", "SDN", "SEN", "SYC", "TCD", "TGO", "TZA", "UGA", "ZAF",
      "ZWE",
      // non-surviving input codes (all Sub-Saharan Africa)
      "AGO", "CPV", "COD", "ERI", "ETH", "GNQ", "LBR", "LSO", "MOZ", "MWI",
      "NGA", "SLE", "SOM", "SSD", "STP", "SWZ", "ZMB"
    )
    (eap.map(_ -> EAP) ++ lac.map(_ -> LAC) ++ ssa.map(_ -> SSA)).toMap
  }
}
