package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSession

/** Native codegen'd cosine similarity over two vector columns — the
  * hot-path replacement for the portable zip_with/aggregate form
  * ([[Vec.cosine]]): one fused loop per row (dot and both norms in a
  * single pass over the array bytes), no intermediate zipped array
  * allocation, whole-stage-codegen friendly. Each side may be
  * `array<float>` or `array<double>` independently (double sides appear
  * when one input is a computed centroid, e.g. e03's k-means cells).
  *
  * Numeric contract: accumulates in doubles in index order — bit-identical
  * to the portable form and to the DuckDB oracle mirror. A zero-norm side
  * yields NULL (matching non-ANSI Divide semantics of the portable form).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  private def vectorSide(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (vectorSide(left.dataType) && vectorSide(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects array<float|double> sides, got " +
        s"(${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = isFloat(left); val rf = isFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else dot / den
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi"); val den = ctx.freshName("den")
      val getX = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $getX;
         |  double $yi = $getY;
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($den == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dot / $den; }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Programmatic registration: `SELECT graft_cosine(a.v, b.v)` /
    * `call_function("graft_cosine", ...)`. Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_cosine")

  /** Column-API entry (registers on the session, then resolves by name —
    * Column-from-Expression constructors are private[sql] in Spark 4). */
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_cosine", a, b)
  }
}
