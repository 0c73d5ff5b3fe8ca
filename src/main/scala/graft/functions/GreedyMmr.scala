package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Greedy maximal-marginal-relevance selection over a BOUNDED candidate
  * pool (e12's per-query kernel): given the pool's relevance scores and
  * its pairwise similarities — both exact integer micros — pick k
  * candidates one at a time, each step maximizing
  * `mmr = rel − max_{s ∈ selected} sim(c, s)` (λ = 1/2 scaled by 2 so
  * the arithmetic stays integral), ties to the lowest id; the first
  * pick is the plain relevance argmax (empty selected set) with
  * `mmr = rel`. Deterministic on any engine: integer compares only, a
  * total (mmr DESC, id ASC) order at every step — which is what lets
  * the unrolled-CTE oracle mirror the selection exactly.
  *
  * Inputs (order-insensitive — the caller sorts only for shuffle
  * determinism): `cands` array<struct<c_id bigint, relm bigint>>,
  * `sims` array<struct<a bigint, b bigint, simm bigint>> covering every
  * unordered pool pair once (a < b). Output: the selected candidates in
  * SELECTION ORDER as array<struct<c_id, rel_micros, mmr_micros>>,
  * length min(k, pool size). Work is O(pool² ) per row with pool ≤ 30 —
  * a plan-time constant; the expression never sees corpus-sized data
  * (interpreted eval is fine off the hot path, the CosineSimilarity
  * codegen rule applies to per-candidate work, not per-query work). */
case class GreedyMmr(left: Expression, right: Expression, k: Int)
  extends BinaryExpression with CodegenFallback {

  private def isLongStruct(t: DataType, n: Int): Boolean = t match {
    case ArrayType(StructType(fs), _) =>
      fs.length == n && fs.forall(_.dataType == LongType)
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongStruct(left.dataType, 2) && isLongStruct(right.dataType, 3))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_mmr expects (array<struct<bigint,bigint>>, " +
        s"array<struct<bigint,bigint,bigint>>), got " +
        s"(${left.dataType}, ${right.dataType})")

  private val elemType = StructType(Seq(
    StructField("c_id", LongType), StructField("rel_micros", LongType),
    StructField("mmr_micros", LongType)))
  override def dataType: DataType = ArrayType(elemType, containsNull = false)
  override def prettyName: String = "graft_mmr"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cArr = a.asInstanceOf[ArrayData]
    val sArr = b.asInstanceOf[ArrayData]
    val n = cArr.numElements()
    val ids = new Array[Long](n)
    val rel = new Array[Long](n)
    val pos = new java.util.HashMap[java.lang.Long, Integer](n * 2)
    var i = 0
    while (i < n) {
      val r = cArr.getStruct(i, 2)
      ids(i) = r.getLong(0); rel(i) = r.getLong(1)
      pos.put(ids(i), i)
      i += 1
    }
    // Dense pairwise matrix (pool ≤ 30 → ≤ 900 longs); missing pairs
    // (impossible for pool members by construction) poison loudly.
    val Missing = Long.MinValue
    val sim = Array.fill(n * n)(Missing)
    i = 0
    while (i < sArr.numElements()) {
      val r = sArr.getStruct(i, 3)
      val pa = pos.get(r.getLong(0)); val pb = pos.get(r.getLong(1))
      if (pa != null && pb != null) {
        sim(pa * n + pb) = r.getLong(2); sim(pb * n + pa) = r.getLong(2)
      }
      i += 1
    }
    val taken = new Array[Boolean](n)
    val out = new Array[Any](math.min(k, n))
    var step = 0
    while (step < out.length) {
      var best = -1
      var bestScore = Long.MinValue
      var c = 0
      while (c < n) {
        if (!taken(c)) {
          var score = rel(c)
          if (step > 0) {
            var mx = Long.MinValue
            var s = 0
            while (s < n) {
              if (taken(s)) {
                val v = sim(c * n + s)
                require(v != Missing,
                  s"graft_mmr: missing pairwise sim for pool ids " +
                    s"${ids(c)}, ${ids(s)}")
                if (v > mx) mx = v
              }
              s += 1
            }
            score = rel(c) - mx
          }
          if (best < 0 || score > bestScore ||
            (score == bestScore && ids(c) < ids(best))) {
            best = c; bestScore = score
          }
        }
        c += 1
      }
      taken(best) = true
      out(step) = InternalRow(ids(best), rel(best), bestScore)
      step += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GreedyMmr =
    copy(left = newLeft, right = newRight)
}

object GreedyMmr {

  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_mmr")

  /** Column-API entry: `graft_mmr(cands, sims, k)`. */
  def apply(spark: SparkSession, cands: Column, sims: Column, k: Int): Column = {
    register(spark)
    call_function("graft_mmr", cands, sims, lit(k))
  }
}
