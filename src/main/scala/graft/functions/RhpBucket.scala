package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native codegen'd random-hyperplane LSH bucket id — the hot-path form
  * of [[Vec.rhpBucket]] (same md5-parity hyperplanes via [[Vec.rhpSign]],
  * so bucket assignments are identical; spec-asserted). All `bits`
  * projections run in one fused loop over the vector: dim×bits
  * multiply-adds per row with no per-bit array traversals.
  */
case class RhpBucket(child: Expression, bits: Int, dim: Int, seedBase: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_rhp_bucket expects array<float>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rhp_bucket"

  /** bits × dim hyperplane matrix, flattened row-major; built once per
    * plan, shipped to executors with the expression. */
  @transient private lazy val weights: Array[Double] =
    Array.tabulate(bits * dim)(i => Vec.rhpSign(seedBase + i / dim, i % dim))

  def bucketOf(v: ArrayData): Long = {
    val n = math.min(dim, v.numElements())
    var bucket = 0L
    var j = 0
    while (j < bits) {
      var proj = 0.0
      var i = 0
      val base = j * dim
      while (i < n) { proj += v.getFloat(i) * weights(base + i); i += 1 }
      if (proj > 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  override def nullSafeEval(input: Any): Any =
    bucketOf(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rhpExpr", this, classOf[RhpBucket].getName)
    defineCodeGen(ctx, ev, c => s"$self.bucketOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): RhpBucket =
    copy(child = newChild)
}

object RhpBucket {

  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_rhp_bucket")

  def apply(spark: SparkSession, v: Column, bits: Int, dim: Int,
            seedBase: Int): Column = {
    register(spark)
    call_function("graft_rhp_bucket", v, lit(bits), lit(dim), lit(seedBase))
  }
}
