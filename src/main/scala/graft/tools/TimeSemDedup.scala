package graft.tools

import org.apache.spark.sql.functions._

/** One-measurement probe for SemDeDup's k-scaling — companion evidence to
  * the append-vs-rebuild table (ROUNDLOG round 12).
  *
  * The registered `dedup_semdedup_append` pins k = 16 (the oracle replays
  * that codebook), and with only 16 cells ANY ingest of more than a few
  * vectors touches every cell — the append's touched-cell rescan then
  * recomputes the whole corpus and the measured ratio reads ~0.9. That is
  * a PARAMETER artifact, not an architecture property: the paper's regime
  * grows k with the corpus (50k clusters on 600M embeddings) precisely so
  * an ingest touches k_delta << k cells. This probe runs the same two
  * cores ([[graft.queries.VectorOps.semDedupOf]] / `semDedupAppendOf`) at
  * a caller-chosen k, one timed materialization per JVM (the TimeEntry
  * discipline): rebuild with storeKey = None (full compute), append
  * against a pre-warmed SPARK_GRAFT_INDEX_DIR store (delta-only work).
  *
  * Usage: java -cp ... graft.tools.TimeSemDedup <dir> <rebuild|append> <k>
  */
object TimeSemDedup {
  def main(args: Array[String]): Unit = {
    val Array(d, which, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = graft.GraftSession()
    spark.range(1000000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val df = which match {
      case "rebuild" =>
        graft.queries.VectorOps.semDedupOf(spark, emb, k, tau = 0.45,
          storeKey = None)
      case "append" =>
        // the store key embeds the dataset fingerprint, matching the
        // registered entries' keying convention: a fixture regenerated
        // between the untimed prep run and the timed run must MISS the
        // warm store (and read as a rebuild), never silently reuse
        // artifacts built from the old corpus as a wrong measurement
        graft.queries.VectorOps.semDedupAppendOf(spark, emb, k, tau = 0.45,
          storeKey = Some(graft.queries.StoreKey(
            s"probe:$d:${graft.queries.VectorOps.dataFp(d)}:$k",
            Seq(graft.queries.VectorOps.embIn(d)))))
    }
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(f"TIME_SEMDEDUP $which k=$k $sec%.3f")
  }
}
