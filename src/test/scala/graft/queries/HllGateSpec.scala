package graft.queries

import java.nio.file.Files

import graft.SparkSpec

/** `x2_hll_gate` against its oracle's NULL rule: the oracle's
  * `count(DISTINCT l_orderkey)` skips NULL keys, so the entry's exact
  * count must skip them too. */
class HllGateSpec extends SparkSpec {
  import spark.implicits._

  test("x2_hll_gate's exact count skips a NULL l_orderkey, like count(DISTINCT)") {
    val dir = Files.createTempDirectory("hll_gate_spec")
    try {
      Seq(Some(1L), Some(1L), Some(2L), None, Some(3L), Some(3L)).toDF("l_orderkey")
        .coalesce(1).write.parquet(dir.resolve("lineitem.parquet").toString)
      val r = Olap.queries("x2_hll_gate")(spark, dir.toString).collect()
      assert(r.length == 1)
      assert(r.head.getAs[Long]("n_exact") == 3L, "three distinct non-NULL keys")
      assert(r.head.getAs[Boolean]("ok"))
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }
}
