package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one bounded "keep the k best" buffer: the k SMALLEST entries under
  * (key ASC, tie ASC), where the tie is a long or (with `termTie`) a
  * `UTF8String` in binary order, and each entry carries `width` ≤ 2 long
  * payload slots. A binary max-heap over primitive arrays that grow
  * lazily up to k: the root is the worst retained entry, so a losing
  * candidate costs one root comparison and a winning one O(log k); `add`
  * boxes nothing. (key, tie) is a total order, so the retained set does
  * not depend on arrival order, and any split of the input into heaps
  * that are then merged retains the same set. Every ranking reduces to
  * ASC through its key encoding (see [[KBest]]). */
final class BoundedHeap(val k: Int, val width: Int, termTie: Boolean) {
  require(k >= 1 && width >= 0 && width <= 2, s"k=$k width=$width")

  private var keys = new Array[Long](math.min(k, 16))
  private var ties = new Array[Long](keys.length)
  private var terms: Array[UTF8String] =
    if (termTie) new Array[UTF8String](keys.length) else null
  private var pay = new Array[Long](keys.length * width)
  private var n = 0

  def size: Int = n
  def key(i: Int): Long = keys(i)
  def tie(i: Int): Long = ties(i)
  def term(i: Int): UTF8String = terms(i)
  def payload(i: Int, j: Int): Long = pay(i * width + j)

  /** Offers a long-tied entry. */
  def add(key: Long, tie: Long, p0: Long = 0L, p1: Long = 0L): Unit =
    offer(key, tie, null, p0, p1)

  /** Offers a term-tied entry; `term` must be owned by the caller (cloned
    * off any reused row). */
  def add(key: Long, term: UTF8String, p0: Long, p1: Long): Unit =
    offer(key, 0L, term, p0, p1)

  private def offer(key: Long, tie: Long, term: UTF8String, p0: Long, p1: Long): Unit =
    if (n < k) {
      if (n == keys.length) grow()
      put(n, key, tie, term, p0, p1)
      n += 1
      siftUp(n - 1)
    } else {
      val c = java.lang.Long.compare(keys(0), key)
      val beatsRoot = c > 0 || (c == 0 &&
        (if (terms == null) ties(0) > tie else terms(0).compareTo(term) > 0))
      if (beatsRoot) { put(0, key, tie, term, p0, p1); siftDown(0, n) }
    }

  /** Offers every entry of `other`, a heap of the same shape. */
  def addAll(other: BoundedHeap): Unit = {
    var i = 0
    while (i < other.n) {
      offer(other.keys(i), other.ties(i), if (terms == null) null else other.terms(i),
        other.slot(i, 0), other.slot(i, 1))
      i += 1
    }
  }

  /** A copy holding the same entries in ascending order; this heap is
    * left as it is (a window frame keeps updating after an eval). */
  def ascending(): BoundedHeap = {
    val c = new BoundedHeap(k, width, termTie)
    c.keys = java.util.Arrays.copyOf(keys, n)
    c.ties = java.util.Arrays.copyOf(ties, n)
    if (terms != null) c.terms = java.util.Arrays.copyOf(terms, n)
    c.pay = java.util.Arrays.copyOf(pay, n * width)
    c.n = n
    var end = n
    while (end > 1) { end -= 1; c.swap(0, end); c.siftDown(0, end) }
    c
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(n)
    var i = 0
    while (i < n) {
      out.writeLong(keys(i))
      if (terms == null) out.writeLong(ties(i))
      else { val b = terms(i).getBytes; out.writeInt(b.length); out.write(b) }
      var j = 0
      while (j < width) { out.writeLong(payload(i, j)); j += 1 }
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  /** Offers every entry of `bytes`, written by [[serialize]] of a heap of
    * the same shape. */
  def addSerialized(bytes: Array[Byte]): BoundedHeap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    var i = in.readInt()
    while (i > 0) {
      val key = in.readLong()
      if (terms == null) {
        val tie = in.readLong()
        offer(key, tie, null, readSlot(in, 0), readSlot(in, 1))
      } else {
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        offer(key, 0L, UTF8String.fromBytes(b), readSlot(in, 0), readSlot(in, 1))
      }
      i -= 1
    }
    this
  }

  @inline private def slot(i: Int, j: Int): Long = if (j < width) payload(i, j) else 0L
  @inline private def readSlot(in: DataInputStream, j: Int): Long =
    if (j < width) in.readLong() else 0L

  private def grow(): Unit = {
    val c = math.min(k.toLong, keys.length * 2L).toInt
    keys = java.util.Arrays.copyOf(keys, c)
    ties = java.util.Arrays.copyOf(ties, c)
    if (terms != null) terms = java.util.Arrays.copyOf(terms, c)
    pay = java.util.Arrays.copyOf(pay, c * width)
  }

  private def put(i: Int, key: Long, tie: Long, term: UTF8String, p0: Long, p1: Long): Unit = {
    keys(i) = key
    ties(i) = tie
    if (terms != null) terms(i) = term
    if (width > 0) pay(i * width) = p0
    if (width > 1) pay(i * width + 1) = p1
  }

  /** Entry a ranks strictly after entry b under (key, tie). */
  @inline private def after(a: Int, b: Int): Boolean = {
    val c = java.lang.Long.compare(keys(a), keys(b))
    c > 0 || (c == 0 &&
      (if (terms == null) ties(a) > ties(b) else terms(a).compareTo(terms(b)) > 0))
  }

  private def swap(a: Int, b: Int): Unit = {
    val key = keys(a); keys(a) = keys(b); keys(b) = key
    val tie = ties(a); ties(a) = ties(b); ties(b) = tie
    if (terms != null) { val t = terms(a); terms(a) = terms(b); terms(b) = t }
    var j = 0
    while (j < width) {
      val x = a * width + j; val y = b * width + j
      val p = pay(x); pay(x) = pay(y); pay(y) = p
      j += 1
    }
  }

  private def siftUp(from: Int): Unit = {
    var i = from
    while (i > 0 && after(i, (i - 1) >> 1)) { swap(i, (i - 1) >> 1); i = (i - 1) >> 1 }
  }

  /** Restores the heap below `from` among the first `end` entries. */
  private def siftDown(from: Int, end: Int): Unit = {
    var i = from
    while (true) {
      val l = 2 * i + 1
      var m = i
      if (l < end && after(l, m)) m = l
      if (l + 1 < end && after(l + 1, m)) m = l + 1
      if (m == i) return
      swap(i, m)
      i = m
    }
  }
}

/** The one bounded k-best aggregate: keeps the k best input rows per
  * group in a [[BoundedHeap]] that partial-aggregates — map-side combine
  * ships at most k entries per group per partition, where the
  * row_number-window form must shuffle every row and sort each group.
  * The output array is sorted best first, row-identical to
  * `row_number() over (order by <ranking>) <= k`. `ranking` is one of
  * the five SQL names below; it supplies the input type, how one input
  * row becomes a heap entry, and the output element. Null inputs and
  * inputs with a null field are skipped. */
case class KBest(
    ranking: KBest.Ranking,
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedHeap] {

  // k is an argument from outside the program: reject it before any
  // buffer exists rather than fail per row
  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1) TypeCheckResult.TypeCheckFailure(s"${ranking.name} needs k >= 1, got $k")
    else if (!KBest.fits(child.dataType, ranking.input))
      TypeCheckResult.TypeCheckFailure(
        s"${ranking.name} expects ${ranking.input.simpleString}, got ${child.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(ranking.elemType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = ranking.name
  // plans print `<name>(child, k, offsets)`, as before the five names
  // shared this class: the ranking is already the name
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, k, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): BoundedHeap =
    new BoundedHeap(k, ranking.width, ranking.termTie)

  override def update(buf: BoundedHeap, input: InternalRow): BoundedHeap = {
    val v = child.eval(input)
    if (v != null) ranking.read(v, buf)
    buf
  }

  override def merge(buf: BoundedHeap, other: BoundedHeap): BoundedHeap = {
    buf.addAll(other)
    buf
  }

  override def eval(buf: BoundedHeap): Any = {
    val s = buf.ascending()
    new GenericArrayData(Array.tabulate[Any](s.size)(ranking.out(s, _)))
  }

  override def serialize(buf: BoundedHeap): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): BoundedHeap =
    createAggregationBuffer().addSerialized(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KBest =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KBest =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KBest =
    copy(child = newChildren.head)
}

object KBest {

  /** One SQL name over the heap: its input type (struct field names are
    * free), its key encoding, and its output element. */
  abstract class Ranking(val name: String, val input: DataType, val elemType: DataType,
                         val width: Int = 0, val termTie: Boolean = false)
    extends Serializable {

    /** Adds the non-null input value `v` to `h`. */
    def read(v: Any, h: BoundedHeap): Unit

    /** Output element for entry `i` of `h`. */
    def out(h: BoundedHeap, i: Int): Any

    /** Column-API entry: `name(input, k)`. */
    def apply(spark: SparkSession, input: Column, k: Int): Column = {
      Natives.register(spark, name)
      call_function(name, input, lit(k))
    }
  }

  private def fits(t: DataType, want: DataType): Boolean = (t, want) match {
    case (StructType(a), StructType(b)) => a.map(_.dataType).sameElements(b.map(_.dataType))
    case _ => t == want
  }

  private[functions] def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Key of a double ranked DESC: the order-preserving long of its
    * canonical value (−0.0 as 0.0, one NaN, above +Inf — Spark's SQL
    * double ordering), complemented. */
  private[functions] def descDoubleKey(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    ~(b ^ ((b >> 63) & Long.MaxValue))
  }

  /** The first `n` fields of `r` are all set. */
  private[functions] def fieldsSet(r: InternalRow, n: Int): Boolean = {
    var i = 0
    while (i < n) { if (r.isNullAt(i)) return false; i += 1 }
    true
  }
}

/** `struct(score: double, id: bigint)` ranked (score DESC, id ASC);
  * out `struct(score, id)`. The raw score bits ride as a payload, so
  * the output score is bit-identical to the input. */
object TopKByScore extends KBest.Ranking("graft_topk",
    KBest.struct("score" -> DoubleType, "id" -> LongType),
    KBest.struct("score" -> DoubleType, "id" -> LongType), width = 1) {
  def read(v: Any, h: BoundedHeap): Unit = {
    val r = v.asInstanceOf[InternalRow]
    if (KBest.fieldsSet(r, 2)) {
      val s = r.getDouble(0)
      h.add(KBest.descDoubleKey(s), r.getLong(1), java.lang.Double.doubleToRawLongBits(s))
    }
  }
  def out(h: BoundedHeap, i: Int): Any =
    InternalRow(java.lang.Double.longBitsToDouble(h.payload(i, 0)), h.tie(i))
}

/** `struct(score: bigint, id: bigint)` ranked (score DESC, id ASC) —
  * integer-exact at any magnitude, where a double score is exact only
  * below 2^53 (e09's summed micro-scores); out `struct(score, id)`.
  * The key `~score` reverses the order and cannot overflow. */
object TopKByLongScore extends KBest.Ranking("graft_topk_long",
    KBest.struct("score" -> LongType, "id" -> LongType),
    KBest.struct("score" -> LongType, "id" -> LongType)) {
  def read(v: Any, h: BoundedHeap): Unit = {
    val r = v.asInstanceOf[InternalRow]
    if (KBest.fieldsSet(r, 2)) h.add(~r.getLong(0), r.getLong(1))
  }
  def out(h: BoundedHeap, i: Int): Any = InternalRow(~h.key(i), h.tie(i))
}

/** t11's keywords: `struct(score: bigint, term: string, tf: bigint,
  * df: bigint)` ranked (score DESC, term ASC in UTF8 binary order,
  * DuckDB's default collation for the ASCII token space); out
  * `struct(term, score, tf, df)`. Terms are distinct per document
  * (postings rows are per-(doc, term)), so the order is total. */
object TopKTerms extends KBest.Ranking("graft_topk_terms",
    KBest.struct("score" -> LongType, "term" -> StringType, "tf" -> LongType, "df" -> LongType),
    KBest.struct("term" -> StringType, "score" -> LongType, "tf" -> LongType, "df" -> LongType),
    width = 2, termTie = true) {
  def read(v: Any, h: BoundedHeap): Unit = {
    val r = v.asInstanceOf[InternalRow]
    // clone: the aggregation iterator reuses the input row's buffer
    if (KBest.fieldsSet(r, 4))
      h.add(~r.getLong(0), r.getUTF8String(1).clone(), r.getLong(2), r.getLong(3))
  }
  def out(h: BoundedHeap, i: Int): Any =
    InternalRow(h.term(i), ~h.key(i), h.payload(i, 0), h.payload(i, 1))
}

/** x03's KMV sketch: the k smallest bigints, ascending. hash60 values
  * reach 2^60, past double's 53-bit integer range, so the key is the
  * value itself. Equal values occupy one slot each, as they would one
  * row_number rank each. */
object MinKLong extends KBest.Ranking("graft_mink", LongType, LongType) {
  def read(v: Any, h: BoundedHeap): Unit = h.add(v.asInstanceOf[Long], 0L)
  def out(h: BoundedHeap, i: Int): Any = h.key(i)
}

/** x04's quota sample and x14's quantile sketch: `struct(key: bigint,
  * id: bigint)` ranked (key ASC, id ASC); out `struct(key, id)`. */
object MinKPairs extends KBest.Ranking("graft_mink_pairs",
    KBest.struct("key" -> LongType, "id" -> LongType),
    KBest.struct("key" -> LongType, "id" -> LongType)) {
  def read(v: Any, h: BoundedHeap): Unit = {
    val r = v.asInstanceOf[InternalRow]
    if (KBest.fieldsSet(r, 2)) h.add(r.getLong(0), r.getLong(1))
  }
  def out(h: BoundedHeap, i: Int): Any = InternalRow(h.key(i), h.tie(i))
}
