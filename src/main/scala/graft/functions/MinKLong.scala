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

/** Bounded k-minimum-values aggregate: keeps the k smallest bigints per
  * group in a fixed-size max-heap that partial-aggregates — map-side
  * combine ships at most k values per group per partition, where the
  * row_number-window form must shuffle EVERY value and sort each group.
  * This is the scale-correct spine of a KMV distinct-count sketch
  * (x03): the sketch state is O(k) everywhere, never a sort of the
  * vocabulary.
  *
  * The full-precision long twin of [[TopKByScore]] — hash60 values
  * reach 2^60, above double's 53-bit integer range, so "TopKByScore
  * over the negated hash" would silently collapse distinct hashes.
  *
  * Output: array<bigint> of the k minima sorted ascending — identical
  * row set and order to `row_number() over (order by h) <= k`.
  * Input values are assumed distinct per group (x03 feeds a
  * DISTINCT-ed vocabulary); duplicates would occupy multiple slots,
  * exactly as they would occupy multiple row_number ranks.
  */
case class MinKLong(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinKLong.Heap] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_mink expects bigint, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_mink"

  override def createAggregationBuffer(): MinKLong.Heap = new MinKLong.Heap(k)

  override def update(buf: MinKLong.Heap, input: InternalRow): MinKLong.Heap = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: MinKLong.Heap, other: MinKLong.Heap): MinKLong.Heap = {
    buf.absorb(other)
    buf
  }

  override def eval(buf: MinKLong.Heap): Any =
    new GenericArrayData(buf.sortedAscending)

  override def serialize(buf: MinKLong.Heap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) { out.writeLong(buf.values(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MinKLong.Heap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new MinKLong.Heap(k)
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinKLong =
    copy(child = newChildren.head)
}

object MinKLong {

  /** Fixed-capacity binary max-heap over primitive longs: root is the
    * LARGEST retained value, so replacing it when a smaller value
    * arrives keeps exactly the k minima in O(log k) per update with
    * zero boxing. */
  final class Heap(k: Int) {
    val values = new Array[Long](k)
    var size = 0

    def add(v: Long): Unit = {
      if (size < k) {
        // sift up
        values(size) = v
        var i = size
        size += 1
        while (i > 0 && values((i - 1) / 2) < values(i)) {
          val p = (i - 1) / 2
          val t = values(p); values(p) = values(i); values(i) = t
          i = p
        }
      } else if (v < values(0)) {
        // replace the current max, sift down
        values(0) = v
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val r = 2 * i + 2
          var m = i
          if (l < size && values(l) > values(m)) m = l
          if (r < size && values(r) > values(m)) m = r
          if (m == i) done = true
          else {
            val t = values(m); values(m) = values(i); values(i) = t
            i = m
          }
        }
      }
    }

    def absorb(other: Heap): Unit = {
      var i = 0
      while (i < other.size) { add(other.values(i)); i += 1 }
    }

    def sortedAscending: Array[Long] = {
      val out = java.util.Arrays.copyOf(values, size)
      java.util.Arrays.sort(out)
      out
    }
  }

  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_mink")

  /** Column-API entry: `graft_mink(value, k)`. */
  def apply(spark: SparkSession, value: Column, k: Int): Column = {
    register(spark)
    call_function("graft_mink", value, lit(k))
  }
}
