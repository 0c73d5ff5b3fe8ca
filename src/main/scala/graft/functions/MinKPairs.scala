package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Bounded min-k PAIR aggregate: keeps the k smallest (key ASC, id ASC)
  * (bigint, bigint) pairs per group in a fixed-size buffer that
  * partial-aggregates — the keyed sibling of [[MinKLong]] (which keeps
  * bare values) and [[TopKByScore]] (double scores, DESC). Map-side
  * combine ships at most k pairs per group per partition, where the
  * row_number-window form must shuffle every row and sort each group —
  * the difference between a per-stratum quota sample that survives a
  * hot stratum at 100 TB and one that pins a task.
  *
  * Input: struct(key: bigint, id: bigint). Output: array of the same
  * struct, sorted (key ASC, id ASC) — identical row set and order to
  * `row_number() over (order by key, id) <= k`.
  */
case class MinKPairs(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Long, Long)]] {

  private val elemType = StructType(Seq(
    StructField("key", LongType), StructField("id", LongType)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(a, b))
      if a.dataType == LongType && b.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_mink_pairs expects struct<bigint, bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(elemType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_mink_pairs"

  override def createAggregationBuffer(): ArrayBuffer[(Long, Long)] =
    new ArrayBuffer[(Long, Long)](k + 1)

  /** (key ASC, id ASC): a beats b if smaller key, or equal key, smaller id. */
  private def beats(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  private def add(buf: ArrayBuffer[(Long, Long)], e: (Long, Long)): Unit = {
    if (buf.length < k) {
      buf += e
    } else {
      var worst = 0
      var i = 1
      while (i < buf.length) { if (beats(buf(worst), buf(i))) worst = i; i += 1 }
      if (beats(e, buf(worst))) buf(worst) = e
    }
  }

  override def update(buf: ArrayBuffer[(Long, Long)], input: InternalRow):
      ArrayBuffer[(Long, Long)] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1))
        add(buf, (row.getLong(0), row.getLong(1)))
    }
    buf
  }

  override def merge(buf: ArrayBuffer[(Long, Long)],
      other: ArrayBuffer[(Long, Long)]): ArrayBuffer[(Long, Long)] = {
    other.foreach(add(buf, _))
    buf
  }

  override def eval(buf: ArrayBuffer[(Long, Long)]): Any = {
    val sorted = buf.sortWith(beats)
    new GenericArrayData(sorted.map { case (h, i) =>
      InternalRow(h, i)
    }.toArray[Any])
  }

  override def serialize(buf: ArrayBuffer[(Long, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (h, i) => out.writeLong(h); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new ArrayBuffer[(Long, Long)](n)
    var i = 0
    while (i < n) { buf += ((in.readLong(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinKPairs =
    copy(child = newChildren.head)
}

object MinKPairs {

  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_mink_pairs")

  /** Column-API entry: `graft_mink_pairs(struct(key, id), k)`. */
  def apply(spark: SparkSession, keyAndId: Column, k: Int): Column = {
    register(spark)
    call_function("graft_mink_pairs", keyAndId, lit(k))
  }
}
