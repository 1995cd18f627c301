package graft.ts

import graft.SparkSpec
import org.apache.spark.SparkException
import org.apache.spark.sql.functions.col

/** The group-size guard: a series kernel buffers its whole group in one
  * task, so a group longer than maxGroupRows must fail LOUDLY (pointed
  * IllegalStateException) instead of silently OOMing an executor. And
  * several kernels run in one pass give what each gives on its own.
  */
object GroupKernelsSpec {
  // standalone so the closure doesn't capture the (non-serializable) suite
  val identityKernel: (Array[Double], Array[Double]) => Array[Double] =
    (_, y) => y
  val quadKernel: (Array[Double], Array[Double]) => Array[Double] =
    Kernels.quadResiduals(_, _, 3)
  val hpKernel: (Array[Double], Array[Double]) => Array[Double] =
    (_, y) => Kernels.hpCycle(y, 100.0, 3)
}

class GroupKernelsSpec extends SparkSpec {
  import GroupKernelsSpec.identityKernel

  test("withKernel passes groups under the cap and preserves values") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 1.0, 10.0), ("a", 2.0, 20.0), ("b", 1.0, 5.0))
      .toDF("k", "t", "v")
    val out = GroupKernels
      .withKernel(df, Seq("k"), "t", Seq("v" -> "o"), identityKernel,
        maxGroupRows = 2)
      .select("k", "t", "o").as[(String, Double, Double)].collect().sorted
    assert(out.toSeq == Seq(("a", 1.0, 10.0), ("a", 2.0, 20.0), ("b", 1.0, 5.0)))
  }

  test("withKernel fails loudly when a group exceeds maxGroupRows") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(i => ("hot", i.toDouble, i.toDouble)).toDF("k", "t", "v")
    val e = intercept[SparkException] {
      GroupKernels
        .withKernel(df, Seq("k"), "t", Seq("v" -> "o"), identityKernel,
          maxGroupRows = 4)
        .collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("exceeds 4 rows"))
  }

  test("withKernels gives each spec the values its own withKernel call gives") {
    import GroupKernelsSpec.{hpKernel, quadKernel}
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    // unsorted years, a missing value, and a group too short for either kernel
    val rows = for (k <- Seq("a", "b", "c"); t <- rng.shuffle((1 to (if (k == "c") 2 else 25)).toList))
      yield (k, t.toDouble, if (k == "a" && t == 7) None else Some(rng.nextGaussian()),
        rng.nextGaussian())
    val df = rows.toDF("k", "t", "v", "w").repartition(3)
    val specs = Seq(("v", "v_quad", quadKernel), ("v", "v_hp", hpKernel),
      ("w", "w_quad", quadKernel), ("w", "w_id", identityKernel))
    def bits(d: org.apache.spark.sql.DataFrame, out: String) =
      d.select(col("k"), col("t"), col(out)).collect()
        .map(r => (r.getString(0), r.getDouble(1),
          Option(r.get(2)).map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]))))
        .sortBy(r => (r._1, r._2)).toSeq
    val fused = GroupKernels.withKernels(df, Seq("k"), "t", specs)
    assert(fused.columns.toSeq == df.columns.toSeq ++ specs.map(_._2))
    specs.foreach { case (in, out, k) =>
      val alone = GroupKernels.withKernel(df, Seq("k"), "t", Seq(in -> out), k)
      assert(bits(fused, out) == bits(alone, out), out)
    }
    assert(bits(fused, "v_quad").exists(_._3.isEmpty), "short group must emit nulls")
  }

  test("withKernels fails loudly when a group exceeds maxGroupRows") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(i => ("hot", i.toDouble, i.toDouble)).toDF("k", "t", "v")
    val e = intercept[SparkException] {
      GroupKernels
        .withKernels(df, Seq("k"), "t",
          Seq(("v", "o", identityKernel), ("v", "q", GroupKernelsSpec.quadKernel)),
          maxGroupRows = 4)
        .collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("exceeds 4 rows"))
  }
}
