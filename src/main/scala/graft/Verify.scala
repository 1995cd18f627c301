package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)         => (s, o, None)
      case Array(s, o, filter) => (s, o, Some(filter.split(',').toSet))
    }
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // A filter name that matches no registered query is silently a no-op
    // (the run "succeeds" while verifying nothing) — make it loud.
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: filter names not in the registry: ${unknown.toSeq.sorted.mkString(",")}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    def q(s: String): String = Json.str(s)
    // A filtered run must not clobber a full run's oracle map in a shared
    // outDir, but it must still refresh its own subset's entries (a stale
    // oracle for a just-changed query would compare fresh parquet against
    // old SQL): read-modify-write the merge instead of skipping the write.
    val oraclePath = Paths.get(s"$outDir/oracle_sql.json")
    val fresh = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
    val merged =
      if (only.isEmpty) fresh // full run: fresh map is authoritative
      else {
        // A corrupt/truncated existing map (e.g. a previously killed run)
        // must degrade to writing the fresh subset, not crash after all the
        // query parquet has already been written.
        val existing: Map[String, String] =
          if (Files.exists(oraclePath))
            scala.util.Try {
              org.json4s.jackson.JsonMethods.parse(Files.readString(oraclePath)) match {
                case org.json4s.JObject(fields) =>
                  fields.collect { case (k, org.json4s.JString(v)) => k -> v }.toMap
                case _ => Map.empty[String, String]
              }
            }.getOrElse(Map.empty)
          else Map.empty
        existing ++ fresh
      }
    Files.writeString(
      oraclePath,
      merged.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // Revision stamp: a sidecar fingerprint of the FULL current registry's
    // oracle map. A full run stamps clean; a filtered run whose outDir was
    // last written by a DIFFERENT registry revision stamps "mixed" and warns
    // loudly — the merged map pairs this run's fresh subset with entries
    // (and parquet) from an older revision, so only a full run may be
    // trusted as a round result. The driver ignores the sidecar; it exists
    // so a stale-merge can never silently masquerade as a clean full run.
    val rev = {
      val sig = SparkEntry.oracleSql.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString("|")
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(sig).toLong & 0xffffffffL)
    }
    val revPath = Paths.get(s"$outDir/oracle_rev.json")
    val priorRev: Option[String] =
      if (Files.exists(revPath))
        scala.util.Try {
          org.json4s.jackson.JsonMethods.parse(Files.readString(revPath)) match {
            case org.json4s.JObject(fields) =>
              fields.collectFirst { case ("revision", org.json4s.JString(v)) => v }
            case _ => None
          }
        }.toOption.flatten
      else None
    val stamp =
      if (only.isEmpty) rev // full run: authoritative
      else priorRev match {
        case Some(p) if p == rev => rev // same registry: merge is consistent
        case _ =>
          System.err.println(
            s"[verify] WARNING: filtered run merged into an outDir written by" +
              s" registry revision ${priorRev.getOrElse("<unknown>")} !=" +
              s" current $rev — non-filtered entries are STALE; run a full" +
              " Verify before trusting this outDir")
          s"mixed:${priorRev.getOrElse("unknown")}->$rev"
      }
    Files.writeString(revPath,
      s"""{"revision": ${q(stamp)}, "filtered": ${only.nonEmpty}}""")
    spark.stop()
  }
}
