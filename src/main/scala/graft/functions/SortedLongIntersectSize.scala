package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `sorted_intersect_size(a, b)`: intersection cardinality of two SORTED,
  * DISTINCT array<bigint> columns via a single merge pass.
  *
  * A native codegen Expression (prompt preference (b)): unlike
  * `array_intersect`, it allocates nothing per row and stays inside
  * whole-stage codegen — the hot path of the quadratic jaccard verify
  * (|A∩B| with |A∪B| = |A|+|B|-|A∩B|), ~4x faster than
  * array_intersect+array_union on the blocked-jaccard workload.
  */
case class SortedLongIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0
    var j = 0
    var c = 0
    val n1 = x.numElements()
    val n2 = y.numElements()
    while (i < n1 && j < n2) {
      if (x.isNullAt(i)) i += 1 // null elements never match
      else if (y.isNullAt(j)) j += 1
      else {
        val xv = x.getLong(i)
        val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |int n1$c = $a.numElements(), n2$c = $b.numElements();
         |while ($i < n1$c && $j < n2$c) {
         |  if ($a.isNullAt($i)) { $i++; }
         |  else if ($b.isNullAt($j)) { $j++; }
         |  else {
         |    long $xv = $a.getLong($i);
         |    long $yv = $b.getLong($j);
         |    if ($xv == $yv) { $c++; $i++; $j++; }
         |    else if ($xv < $yv) $i++;
         |    else $j++;
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Registration: per-session (for the driver-contract queries) and via
  * SparkSessionExtensions (`spark.sql.extensions=graft.functions.GraftExtensions`)
  * for library users. */
object GraftFunctions {
  val info = new ExpressionInfo(
    classOf[SortedLongIntersectSize].getName, "sorted_intersect_size")
  val mrhInfo = new ExpressionInfo(
    classOf[MinRollingHash].getName, "min_rolling_hash")
  val bpeInfo = new ExpressionInfo(
    classOf[BpeTokenCount].getName, "bpe_token_count")
  val vecDotInfo = new ExpressionInfo(
    classOf[VecDot].getName, "vec_dot")
  val bloomInfo = new ExpressionInfo(
    classOf[BloomMightContain].getName, "bloom_might_contain")
  val pqAdcInfo = new ExpressionInfo(
    classOf[PqAdc].getName, "pq_adc")
  val corrInfo = new ExpressionInfo(
    classOf[NullSafeCorr].getName, "null_safe_corr")

  def builder(args: Seq[Expression]): Expression =
    SortedLongIntersectSize(args(0), args(1))
  def mrhBuilder(args: Seq[Expression]): Expression =
    MinRollingHash(args(0))
  def bpeBuilder(args: Seq[Expression]): Expression =
    BpeTokenCount(args(0))
  def vecDotBuilder(args: Seq[Expression]): Expression =
    VecDot(args(0), args(1))
  def bloomBuilder(args: Seq[Expression]): Expression =
    BloomMightContain(args(0), args(1))
  def pqAdcBuilder(args: Seq[Expression]): Expression =
    PqAdc(args(0), args(1))
  def corrBuilder(args: Seq[Expression]): Expression =
    NullSafeCorr(args(0), args(1))

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_size", builder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "min_rolling_hash", mrhBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_token_count", bpeBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", vecDotBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_might_contain", bloomBuilder, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_adc", pqAdcBuilder, "scala_udf")
    registerCorr(spark)
  }

  /** Registers `null_safe_corr` alone, once per session. */
  def registerCorr(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("null_safe_corr")))
      registry.createOrReplaceTempFunction("null_safe_corr", corrBuilder, "scala_udf")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier("sorted_intersect_size"), GraftFunctions.info,
        GraftFunctions.builder))
    ext.injectFunction(
      (FunctionIdentifier("min_rolling_hash"), GraftFunctions.mrhInfo,
        GraftFunctions.mrhBuilder))
    ext.injectFunction(
      (FunctionIdentifier("bpe_token_count"), GraftFunctions.bpeInfo,
        GraftFunctions.bpeBuilder))
    ext.injectFunction(
      (FunctionIdentifier("vec_dot"), GraftFunctions.vecDotInfo,
        GraftFunctions.vecDotBuilder))
    ext.injectFunction(
      (FunctionIdentifier("bloom_might_contain"), GraftFunctions.bloomInfo,
        GraftFunctions.bloomBuilder))
    ext.injectFunction(
      (FunctionIdentifier("pq_adc"), GraftFunctions.pqAdcInfo,
        GraftFunctions.pqAdcBuilder))
    ext.injectFunction(
      (FunctionIdentifier("null_safe_corr"), GraftFunctions.corrInfo,
        GraftFunctions.corrBuilder))
    // Custom optimizer rule: band inequality joins -> bucket equi-joins
    // (see graft.plans.BandedRangeJoinRule for scope and proof sketch).
    ext.injectOptimizerRule(_ => graft.plans.BandedRangeJoinRule)
    // The WDI outputs: each row marker becomes the driver-local rows at its
    // first optimization, and a global sort over local rows is planned on
    // the driver (see graft.wdi.WdiRowsRule and graft.plans.LocalSortFold).
    ext.injectOptimizerRule(_ => graft.wdi.WdiRowsRule)
    ext.injectPlannerStrategy(_ => graft.plans.LocalSortFold)
  }
}
