package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass MinHash signature invoked from generated code. Bit-equal
  * to the portable form ([[Text.minhashSig]], spec-asserted):
  * per shingle ONE md5 of "0:"+s, first 15 hex digits as a 60-bit
  * non-negative long, reduced mod 2^30; per permutation j the affine
  * rehash (hb·A(j)+B(j)) mod 2^30 with a running min. The portable form
  * evaluates md5/conv INTERPRETED per array element inside `transform`
  * (the higher-order-lambda hot-path trap) — this is one tight loop per
  * row with a reused MessageDigest. */
object MinhashSigUtil {
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def sig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val n = shingles.numElements()
    val a = new Array[Long](numHashes)
    val b = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) {
      a(j) = Text.minhashA(j); b(j) = Text.minhashB(j); j += 1
    }
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val md = digests.get()
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      md.reset()
      md.update('0'.toByte)
      md.update(':'.toByte)
      md.update(s.getBytes)
      val d = md.digest()
      // First 15 hex digits of the md5 = bytes 0..6 (14 nibbles) plus
      // the HIGH nibble of byte 7 — a 60-bit non-negative value,
      // exactly conv(substring(hex, 1, 15), 16, 10).
      var h = 0L
      var k = 0
      while (k < 7) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
      h = (h << 4) | ((d(7) & 0xffL) >>> 4)
      val hb = h % Text.MinhashMod // h >= 0, so % == pmod
      j = 0
      while (j < numHashes) {
        val v = (hb * a(j) + b(j)) % Text.MinhashMod
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    // Empty input: the portable array_min over an empty transform yields
    // null per element; callers filter size(sh) > 0 first, but match the
    // shape by emitting nulls rather than Long.MaxValue.
    if (n == 0) new GenericArrayData(Array.fill[Any](numHashes)(null))
    else new GenericArrayData(mins.map(Long.box(_): Any))
  }
}

/** Native codegen'd MinHash signature over a shingle array — the
  * streaming s05 hot-path replacement for [[Text.minhashSig]] (whose
  * md5 sits inside an interpreted higher-order lambda). */
case class MinhashSig(child: Expression, numHashes: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinhashSigUtil.sig(input.asInstanceOf[ArrayData], numHashes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashSigUtil.sig($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {

  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_minhash_sig")

  /** Column-API entry. */
  def apply(spark: SparkSession, sh: Column, numHashes: Int): Column = {
    register(spark)
    call_function("graft_minhash_sig", sh,
      org.apache.spark.sql.functions.lit(numHashes))
  }
}
