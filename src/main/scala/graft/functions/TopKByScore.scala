package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Bounded top-k buffer: a binary MIN-heap over (score ASC, id DESC),
  * so the heap ROOT is always the worst retained pair. A losing
  * candidate costs ONE root comparison; a winning one O(log k). The
  * round-12 linear-scan buffer paid O(k) per candidate once full —
  * invisible at the old k = 30, but the calibrated ANN depths
  * (n/20 = 10,000 at sf10) put the reduce-side merge at O(n·k) per
  * query, which dominated e05/e06's sf10 cost.
  *
  * The retained SET is order-insensitive: (score, id) is a total order
  * (ties fully broken by id), so the k best pairs are unique regardless
  * of arrival order, and the heap round-trips serialization verbatim
  * (array order IS the heap). */
final class TopKBuf(val k: Int) {
  var scores: Array[Double] = new Array[Double](math.min(k, 16).max(1))
  var ids: Array[Long] = new Array[Long](scores.length)
  var size: Int = 0

  /** a strictly worse than b under (score DESC, id ASC) ranking. */
  @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
    sa < sb || (sa == sb && ia > ib)

  private def grow(): Unit = {
    val n = math.min(k, scores.length * 2)
    scores = java.util.Arrays.copyOf(scores, n)
    ids = java.util.Arrays.copyOf(ids, n)
  }

  private def siftUp(from: Int): Unit = {
    var i = from
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worse(scores(i), ids(i), scores(p), ids(p))) {
        val ts = scores(i); val ti = ids(i)
        scores(i) = scores(p); ids(i) = ids(p)
        scores(p) = ts; ids(p) = ti
        i = p
      } else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var m = i
      if (l < size && worse(scores(l), ids(l), scores(m), ids(m))) m = l
      if (r < size && worse(scores(r), ids(r), scores(m), ids(m))) m = r
      if (m == i) return
      val ts = scores(i); val ti = ids(i)
      scores(i) = scores(m); ids(i) = ids(m)
      scores(m) = ts; ids(m) = ti
      i = m
    }
  }

  def add(s: Double, id: Long): Unit = {
    if (size < k) {
      if (size == scores.length) grow()
      scores(size) = s; ids(size) = id; size += 1
      siftUp(size - 1)
    } else if (worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      siftDown()
    }
  }

  /** Pairs sorted (score DESC, id ASC) — the output contract. */
  def sortedPairs(): Array[(Double, Long)] = {
    val out = new Array[(Double, Long)](size)
    var i = 0
    while (i < size) { out(i) = (scores(i), ids(i)); i += 1 }
    java.util.Arrays.sort(out, new java.util.Comparator[(Double, Long)] {
      override def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    })
    out
  }
}

/** Bounded top-k aggregate: keeps the k best (score DESC, id ASC) pairs
  * per group in a fixed-size heap buffer that partial-aggregates —
  * map-side combine ships at most k rows per group per partition, where
  * the row_number-window form must shuffle EVERY candidate row and sort
  * each group. This is the scale-correct per-query top-k for kNN/ANN.
  *
  * Input: struct(score: double, id: bigint). Output: array of the same
  * struct, sorted (score DESC, id ASC) — identical row set and order to
  * `row_number() over (order by score desc, id) <= k`.
  */
case class TopKByScore(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] {

  private val elemType = StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(a, b))
      if a.dataType == DoubleType && b.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_topk expects struct<double, bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(elemType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1))
        buf.add(row.getDouble(0), row.getLong(1))
    }
    buf
  }

  override def merge(buf: TopKBuf, other: TopKBuf): TopKBuf = {
    var i = 0
    while (i < other.size) { buf.add(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKBuf): Any =
    new GenericArrayData(buf.sortedPairs().map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeDouble(buf.scores(i)); out.writeLong(buf.ids(i)); i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKBuf(k)
    // array order IS the heap: restoring verbatim preserves the
    // invariant, no re-heapify needed — but going through add() keeps
    // the code one-path and n ≤ k makes it O(n log n) at worst.
    var i = 0
    while (i < n) { buf.add(in.readDouble(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(child = newChildren.head)
}

object TopKByScore {

  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_topk")

  /** Column-API entry: `graft_topk(struct(score, id), k)`. */
  def apply(spark: SparkSession, scoreAndId: Column, k: Int): Column = {
    register(spark)
    call_function("graft_topk", scoreAndId, lit(k))
  }
}
