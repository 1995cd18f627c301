package graft.ts

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Applies a per-group series kernel as a distributed Spark operator.
  *
  * Shape: `groupByKey(group key).flatMapGroups` — one shuffle on the group
  * key, then each group's rows are sorted by the order column in-task and the
  * kernel runs on plain arrays (the reference's per-country column vector,
  * detrendandstat_quad.R:146-168). Appends one output column per spec,
  * preserving all input columns, so downstream aggregation reuses the same
  * group-hash partitioning.
  *
  * Scale notes: parallelism = number of groups (countries / users / series
  * ids), each group must fit in task memory (bounded: <= a few thousand
  * points/series). Skewed giant groups would need windowed chunking — not a
  * semantics the reference has — so the buffer is GUARDED: a group longer
  * than `maxGroupRows` fails the task with a pointed message instead of
  * silently OOMing an executor at scale (same stance as blockedJaccard's
  * bucket cap). The cap fires BEFORE the group is materialized.
  */
object GroupKernels {

  /** Default per-group row cap: ~2M rows × ~150 B/Row ≈ 300 MB buffered —
    * loud failure well before a billion-row series kills an executor, and
    * four orders of magnitude above any legitimate per-series length here
    * (reference series are <= 60 points; events/user is O(100)). */
  val DefaultMaxGroupRows: Int = 2 * 1000 * 1000

  /** [[withKernels]] with one kernel for every spec.
    * @param specs (inputCol, outputCol) pairs, each run through `kernel`
    */
  def withKernel(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      specs: Seq[(String, String)],
      kernel: (Array[Double], Array[Double]) => Array[Double],
      maxGroupRows: Int = DefaultMaxGroupRows): DataFrame =
    withKernels(df, keyCols, orderCol,
      specs.map { case (in, out) => (in, out, kernel) }, maxGroupRows)

  /** Several kernels in one pass: one shuffle and one in-task sort per group
    * serve every spec, so series that share a group key (one country's Y, C,
    * I and TB under three detrends) cost one `groupByKey`, not one each.
    * @param specs (inputCol, outputCol, kernel) triples; each kernel is
    *   (t, y) => out, length-preserving, NaN = missing
    * @param maxGroupRows guard: a group exceeding this fails the job
    */
  def withKernels(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      specs: Seq[(String, String, (Array[Double], Array[Double]) => Array[Double])],
      maxGroupRows: Int = DefaultMaxGroupRows): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(
      inSchema.fields ++ specs.map { case (_, o, _) => StructField(o, DoubleType) })
    val keyIdx = keyCols.map(inSchema.fieldIndex).toArray
    val ordIdx = inSchema.fieldIndex(orderCol)
    val kernels = specs.map { case (in, _, k) => (inSchema.fieldIndex(in), k) }.toArray
    implicit val rowEnc = Encoders.row(outSchema)

    df.groupByKey { r: Row =>
        keyIdx.map(i => String.valueOf(r.get(i))).mkString("\u001f")
      }(Encoders.STRING)
      .flatMapGroups { (key: String, it: Iterator[Row]) =>
        // take(cap+1) bounds the buffer BEFORE materializing the group;
        // length == cap+1 alone proves overflow (the iterator must not be
        // touched again after take()).
        val buf = it.take(maxGroupRows + 1).toArray
        if (buf.length > maxGroupRows)
          throw new IllegalStateException(
            s"GroupKernels: group '$key' exceeds $maxGroupRows rows; a series" +
              " kernel buffers its whole group in one task — re-key the series" +
              " (e.g. chunk by time range) or use a windowed/streaming form" +
              " for series this long")
        val rows = buf.sortBy(numAt(_, ordIdx))
        val t = rows.map(numAt(_, ordIdx))
        val outs = kernels.map { case (ci, kernel) =>
          val y = rows.map(numAt(_, ci))
          kernel(t, y)
        }
        rows.iterator.zipWithIndex.map { case (r, i) =>
          val extra = outs.map { o =>
            val v = o(i)
            if (java.lang.Double.isNaN(v)) null else java.lang.Double.valueOf(v)
          }
          Row.fromSeq(r.toSeq ++ extra)
        }
      }
  }

  /** Null-safe numeric read: null (or non-numeric) becomes NaN. */
  private def numAt(r: Row, i: Int): Double =
    if (r.isNullAt(i)) Double.NaN
    else r.get(i) match {
      case n: java.lang.Number => n.doubleValue()
      case ts: java.sql.Timestamp => ts.getTime.toDouble
      case other => throw new IllegalArgumentException(
        s"non-numeric order/value column at $i: ${other.getClass}")
    }
}
