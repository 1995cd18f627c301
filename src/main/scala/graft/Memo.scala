package graft

import java.nio.file.Paths
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one memo of the program: every driver-side artifact a query family
  * computes once per session (index-build samples, trained BPE merges and LR
  * weights, footer schemas, encoding checks) and every frame it persists for
  * its consumers (ANN index artifacts, the WDI front half and moments).
  *
  * An entry's identity is (session, name, params, declared input paths).
  * Beside the value it stores the inputs' fingerprint — the name|size|mtime
  * listing of [[fp]] — recomputed on EVERY lookup and never memoized: a
  * lookup whose fingerprint differs unpersists the superseded entry and
  * rebuilds it, so a dataset regenerated at the same path is never served
  * stale, and entries are bounded by distinct identities, not by how often
  * the data is regenerated. A frame build that scans a file neither under a
  * declared input nor under the index-store root throws, naming the file:
  * an undeclared input is exactly the read a fingerprint cannot see.
  *
  * Entries never outlive their session: one application-end listener per
  * session evicts its entries and unpersists its frames, then detaches
  * itself (a second listener per cache-populating call, or a strong map
  * reference to a stopped session, would leak in a long-lived driver). */
object Memo {
  private final case class Id(s: SparkSession, name: String, params: Seq[Any], inputs: Seq[String])
  private final case class Entry(fp: String, value: Any)

  private val entries = scala.collection.concurrent.TrieMap.empty[Id, Entry]
  private val hooked = scala.collection.concurrent.TrieMap.empty[SparkSession, SparkListener]

  /** `build`'s value, computed once per identity while the inputs' fingerprint holds. */
  def value[T](s: SparkSession, name: String, inputs: Seq[String], params: Any*)(build: => T): T = {
    val id = Id(s, name, params, inputs.map(local))
    hook(s)
    val fp = id.inputs.map(Memo.fp).mkString("|")
    entries.get(id) match {
      case Some(e) if e.fp == fp => e.value.asInstanceOf[T]
      case stale =>
        // unpersist BEFORE the rebuild: the cache matches plans by the paths
        // they read, so a live superseded frame would serve the new build
        stale.foreach(e => if (entries.remove(id, e)) release(e.value))
        val v = build
        entries.put(id, Entry(fp, v))
        v
    }
  }

  /** [[value]] for a frame: checked against its declared inputs, then persisted. */
  def frame(s: SparkSession, name: String, inputs: Seq[String], params: Any*)(
      build: => DataFrame): DataFrame =
    value(s, name, inputs, params: _*)(declared(inputs)(build).persist())

  /** `df`, after checking that every file it scans lies under one of `inputs`
    * or under the index-store root. Call it before writing a build anywhere,
    * so an undeclared read fails before it is stored. */
  def declared(inputs: Seq[String])(df: DataFrame): DataFrame = {
    val allowed = (inputs ++ storeRoot).map(p => Paths.get(local(p)))
    leaves(df.queryExecution.analyzed).map(p => Paths.get(local(p)))
      .find(p => !allowed.exists(p.startsWith))
      .foreach(p =>
        throw new IllegalStateException(s"memo build reads $p, which is not a declared input"))
    df
  }

  private def leaves(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries { case l: LogicalRelation => l.relation }.flatMap {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }

  /** Content fingerprint of a parquet file or directory: names, sizes and
    * mtimes of its files, hashed to hex. The durable index keys embed it. */
  def fp(path: String): String = {
    val root = new java.io.File(local(path))
    // testdata ships single-file parquet; a real dataset is a directory
    val files =
      if (root.isFile) Array(root)
      else Option(root.listFiles()).getOrElse(Array.empty).filter(_.isFile).sortBy(_.getName)
    val sig = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sig).toLong & 0xffffffffL)
  }

  /** Root of the durable index store, or None when it is switched off. */
  def storeRoot: Option[String] =
    if (sys.env.get("SPARK_GRAFT_NO_INDEX_STORE").contains("1")) None
    else Some(sys.props.get("graft.index.dir") // test override
      .orElse(sys.env.get("SPARK_GRAFT_INDEX_DIR"))
      .getOrElse("spark-warehouse/graft_ann_index"))

  /** Local absolute form of a path or `file:` URI. */
  private def local(p: String): String =
    Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath).toAbsolutePath.normalize.toString

  private def release(v: Any): Unit = v match {
    case df: org.apache.spark.sql.Dataset[_] =>
      try df.unpersist(blocking = false)
      catch { case NonFatal(_) => () } // context already torn down
    case _ => ()
  }

  private def hook(s: SparkSession): Unit =
    hooked.getOrElseUpdate(s, {
      lazy val l: SparkListener = new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          entries.keys.filter(_.s eq s).foreach(id => entries.remove(id).foreach(e => release(e.value)))
          hooked.remove(s)
          try s.sparkContext.removeSparkListener(l)
          catch { case NonFatal(_) => () } // context already torn down
        }
      }
      s.sparkContext.addSparkListener(l)
      l
    })

  /** Whether `s` has a live application-end listener (test seam). */
  private[graft] def isHooked(s: SparkSession): Boolean = hooked.contains(s)

  /** Live entries across all sessions (test seam). */
  private[graft] def size: Int = entries.size

  /** Live entries named `name` across all sessions (test seam). */
  private[graft] def size(name: String): Int = entries.keys.count(_.name == name)

  /** Deliver the application-end event to `s`'s listener directly — the test
    * seam: suites share one SparkContext, so a spec cannot stop the real
    * application to watch eviction happen. */
  private[graft] def fireSessionEnd(s: SparkSession): Unit =
    hooked.get(s).foreach(_.onApplicationEnd(SparkListenerApplicationEnd(0L)))
}
