package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Foldable-literal argument extraction for registered function builders
  * (SQL users may write `10` (int) or a bigint literal). A bigint outside
  * the Int range is rejected at analysis, never wrapped. */
private[graft] object ExprArgs {
  def int(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long if l.isValidInt => l.toInt
    case s: Short => s.toInt
    case b: Byte => b.toInt
    case other => throw new IllegalArgumentException(
      s"expected an integer literal in the Int range, got $other")
  }
}

/** Single-pass distinct-k-shingle builder invoked from generated code.
  * Semantics match the portable Column form exactly: whitespace split
  * (Spark's split keeps trailing empties: limit -1), k-token windows
  * joined by single spaces, first-occurrence-order dedup. */
object ShingleUtil {
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val toks = text.toString.split("\\s+", -1)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = UTF8String.fromString(it.next()); n += 1 }
    new GenericArrayData(out)
  }

  /** NON-distinct k-gram list in sequence order — the repetition-metric
    * sibling of [[shingles]] (which dedups): every window is kept, so
    * duplicate-gram fractions can be computed from occurrence counts. */
  def ngrams(text: UTF8String, k: Int): ArrayData = {
    val toks = text.toString.split("\\s+", -1)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - k + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native codegen'd shingle expression — the hot-path replacement for the
  * portable higher-order form ([[Text.shingles]]): higher-order lambdas
  * are interpreted per element, this is one tight loop per row inside
  * whole-stage codegen. Output set is identical to the portable form
  * (spec-asserted). */
case class GraftShingles(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_shingles expects string, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any =
    ShingleUtil.shingles(input.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleUtil.shingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): GraftShingles =
    copy(child = newChild)
}

object GraftShingles {

  /** Registers `graft_shingles(text, k)`; k must be a foldable int. */
  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_shingles")

  /** Column-API entry. */
  def apply(spark: SparkSession, text: Column, k: Int = 3): Column = {
    register(spark)
    call_function("graft_shingles", text, org.apache.spark.sql.functions.lit(k))
  }
}

/** Native codegen'd NON-distinct k-gram expression (sequence order, every
  * window kept) — feeds occurrence-count repetition metrics where
  * [[GraftShingles]]' set semantics would erase the signal. */
case class GraftNgrams(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_ngrams expects string, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  override def nullSafeEval(input: Any): Any =
    ShingleUtil.ngrams(input.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleUtil.ngrams($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): GraftNgrams =
    copy(child = newChild)
}

object GraftNgrams {

  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_ngrams")

  /** Column-API entry. */
  def apply(spark: SparkSession, text: Column, k: Int): Column = {
    register(spark)
    call_function("graft_ngrams", text, org.apache.spark.sql.functions.lit(k))
  }
}

/** Per-row k-gram occurrence statistics invoked from generated code:
  * (n, top, distinct) = window count, max occurrence count of any one
  * gram, distinct gram count — the whole input of the repetition /
  * quality metrics, computed in ONE local hash pass over the row's own
  * text. Counting is identical to exploding [[ShingleUtil.ngrams]] and
  * aggregating by (doc, gram): same tokenizer (split "\\s+" limit -1),
  * same windows, same join-by-space keys. */
object GramStatsUtil {
  def stats(text: UTF8String, k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = text.toString.split("\\s+", -1)
    if (toks.length < k)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L, 0L))
    val n = toks.length - k + 1
    val counts = new java.util.HashMap[String, Integer](n * 2)
    val sb = new java.lang.StringBuilder(64)
    var top = 0
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val key = sb.toString
      val c = counts.merge(key, 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, top.toLong, counts.size.toLong))
  }
}

/** Native per-row gram statistics — turns the repetition/quality
  * aggregations (t06/t07) into SHUFFLE-FREE projections: per-doc stats
  * depend only on the doc's own text, so the explode → two-level
  * HashAggregate shape (which shuffles every gram of the corpus) does
  * work the row can do locally. Counting semantics are identical to the
  * aggregate form (spec-asserted); at 100 TB this is the difference
  * between a map-only pass and shuffling ~the corpus' token volume. */
case class GramStats(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_gram_stats expects string, got $t")
  }
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("top", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("distinct", org.apache.spark.sql.types.LongType, nullable = false)))
  override def prettyName: String = "graft_gram_stats"

  override def nullSafeEval(input: Any): Any =
    GramStatsUtil.stats(input.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramStatsUtil.stats($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): GramStats =
    copy(child = newChild)
}

object GramStats {

  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_gram_stats")

  /** Column-API entry. */
  def apply(spark: SparkSession, text: Column, k: Int): Column = {
    register(spark)
    call_function("graft_gram_stats", text, org.apache.spark.sql.functions.lit(k))
  }
}
