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
import org.apache.spark.unsafe.types.UTF8String

/** Long-scored sibling of [[TopKBuf]] — the INTEGER-exact ranking buffer.
  *
  * [[TopKByScore]]'s double scores are exact only below 2^53; the
  * retrieval family's summed micro-scores are exact BIGINTs by design
  * (e09's cleared-denominator BM25 — per-(q,doc) sums can pass 2^53 at
  * ~10^8-doc corpora, where a double-keyed heap would silently wobble
  * near-tie ranks). Keeping the score a long end-to-end makes the
  * ranking provably exact at ANY scale, not just under a magnitude
  * bound. Same O(log k) min-heap discipline (root = worst retained),
  * same order-insensitive retained set ((score, id) is a total order).
  */
final class TopKLongBuf(val k: Int) {
  var scores: Array[Long] = new Array[Long](math.min(k, 16).max(1))
  var ids: Array[Long] = new Array[Long](scores.length)
  var size: Int = 0

  /** a strictly worse than b under (score DESC, id ASC) ranking. */
  @inline private def worse(sa: Long, ia: Long, sb: Long, ib: Long): Boolean =
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

  def add(s: Long, id: Long): Unit = {
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
  def sortedPairs(): Array[(Long, Long)] = {
    val out = new Array[(Long, Long)](size)
    var i = 0
    while (i < size) { out(i) = (scores(i), ids(i)); i += 1 }
    java.util.Arrays.sort(out, new java.util.Comparator[(Long, Long)] {
      override def compare(a: (Long, Long), b: (Long, Long)): Int = {
        val c = java.lang.Long.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    })
    out
  }
}

/** Bounded top-k with an EXACT BIGINT score: keeps the k best
  * (score DESC, id ASC) pairs per group — [[TopKByScore]]'s map-side-
  * partial shape with the integer-exact ordering the retrieval micros
  * demand. Input: struct(score: bigint, id: bigint). Output: array of
  * the same struct, sorted (score DESC, id ASC). */
case class TopKByLongScore(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKLongBuf] {

  private val elemType = StructType(Seq(
    StructField("score", LongType), StructField("id", LongType)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(a, b))
      if a.dataType == LongType && b.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_topk_long expects struct<bigint, bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(elemType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_topk_long"

  override def createAggregationBuffer(): TopKLongBuf = new TopKLongBuf(k)

  override def update(buf: TopKLongBuf, input: InternalRow): TopKLongBuf = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1))
        buf.add(row.getLong(0), row.getLong(1))
    }
    buf
  }

  override def merge(buf: TopKLongBuf, other: TopKLongBuf): TopKLongBuf = {
    var i = 0
    while (i < other.size) { buf.add(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKLongBuf): Any =
    new GenericArrayData(buf.sortedPairs().map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])

  override def serialize(buf: TopKLongBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeLong(buf.scores(i)); out.writeLong(buf.ids(i)); i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKLongBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKLongBuf(k)
    var i = 0
    while (i < n) { buf.add(in.readLong(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByLongScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByLongScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByLongScore =
    copy(child = newChildren.head)
}

object TopKByLongScore {

  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_topk_long")

  /** Column-API entry: `graft_topk_long(struct(score, id), k)`. */
  def apply(spark: SparkSession, scoreAndId: Column, k: Int): Column = {
    register(spark)
    call_function("graft_topk_long", scoreAndId, lit(k))
  }
}

/** Bounded per-group top-k TERM buffer for t11's keyword extraction:
  * keeps the k best (score DESC, term ASC — UTF8 binary, DuckDB's
  * default collation for the ASCII token space) rows of
  * struct(score: bigint, term: string, tf: bigint, df: bigint).
  *
  * Replaces the collect_list → sort_array → slice shape, whose buffer
  * held EVERY distinct term of a document per aggregation row —
  * bounded by doc length (inherent for text that fits a row) but
  * unbounded in k; a pathological doc paid its full distinct-term set
  * in aggregation memory for a k=5 answer. Here the buffer is O(k)
  * and partial-aggregates map-side like [[TopKByScore]]. The retained
  * set is order-insensitive: (score, term) is a total order (terms are
  * distinct per document by construction — postings rows are
  * per-(doc, term)). Output: array of struct(term, score, tf, df)
  * sorted (score DESC, term ASC) — row-identical to the sort_array
  * form's first k entries. */
final class TopKTermsBuf(val k: Int) {
  var scores: Array[Long] = new Array[Long](math.min(k, 16).max(1))
  var terms: Array[UTF8String] = new Array[UTF8String](scores.length)
  var tfs: Array[Long] = new Array[Long](scores.length)
  var dfs: Array[Long] = new Array[Long](scores.length)
  var size: Int = 0

  /** a strictly worse than b under (score DESC, term ASC) ranking. */
  @inline private def worse(sa: Long, ta: UTF8String, sb: Long, tb: UTF8String): Boolean =
    sa < sb || (sa == sb && ta.compareTo(tb) > 0)

  private def grow(): Unit = {
    val n = math.min(k, scores.length * 2)
    scores = java.util.Arrays.copyOf(scores, n)
    terms = java.util.Arrays.copyOf(terms, n)
    tfs = java.util.Arrays.copyOf(tfs, n)
    dfs = java.util.Arrays.copyOf(dfs, n)
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    val t = terms(i); terms(i) = terms(j); terms(j) = t
    val a = tfs(i); tfs(i) = tfs(j); tfs(j) = a
    val b = dfs(i); dfs(i) = dfs(j); dfs(j) = b
  }

  private def siftUp(from: Int): Unit = {
    var i = from
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worse(scores(i), terms(i), scores(p), terms(p))) { swap(i, p); i = p }
      else return
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var m = i
      if (l < size && worse(scores(l), terms(l), scores(m), terms(m))) m = l
      if (r < size && worse(scores(r), terms(r), scores(m), terms(m))) m = r
      if (m == i) return
      swap(i, m)
      i = m
    }
  }

  /** `term` must be OWNED by the caller (cloned off any reused row). */
  def add(s: Long, term: UTF8String, tf: Long, df: Long): Unit = {
    if (size < k) {
      if (size == scores.length) grow()
      scores(size) = s; terms(size) = term; tfs(size) = tf; dfs(size) = df
      size += 1
      siftUp(size - 1)
    } else if (worse(scores(0), terms(0), s, term)) {
      scores(0) = s; terms(0) = term; tfs(0) = tf; dfs(0) = df
      siftDown()
    }
  }

  /** Indices sorted (score DESC, term ASC) — the output contract. */
  def sortedIdx(): Array[Integer] = {
    val idx = Array.tabulate[Integer](size)(i => i)
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c = java.lang.Long.compare(scores(b), scores(a))
        if (c != 0) c else terms(a).compareTo(terms(b))
      }
    })
    idx
  }
}

/** See [[TopKTermsBuf]]. Input: struct(score: bigint, term: string,
  * tf: bigint, df: bigint); output: array<struct<term, score, tf, df>>
  * sorted (score DESC, term ASC), at most k elements. */
case class TopKTerms(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKTermsBuf] {

  private val elemType = StructType(Seq(
    StructField("term", StringType), StructField("score", LongType),
    StructField("tf", LongType), StructField("df", LongType)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(a, b, c, d))
      if a.dataType == LongType && b.dataType == StringType &&
        c.dataType == LongType && d.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_topk_terms expects struct<bigint, string, bigint, bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(elemType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_topk_terms"

  override def createAggregationBuffer(): TopKTermsBuf = new TopKTermsBuf(k)

  override def update(buf: TopKTermsBuf, input: InternalRow): TopKTermsBuf = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2) &&
        !row.isNullAt(3))
        // clone: the input row's backing buffer is reused by the
        // aggregation iterator, so a retained UTF8String must own its
        // bytes.
        buf.add(row.getLong(0), row.getUTF8String(1).clone(),
          row.getLong(2), row.getLong(3))
    }
    buf
  }

  override def merge(buf: TopKTermsBuf, other: TopKTermsBuf): TopKTermsBuf = {
    var i = 0
    while (i < other.size) {
      buf.add(other.scores(i), other.terms(i), other.tfs(i), other.dfs(i))
      i += 1
    }
    buf
  }

  override def eval(buf: TopKTermsBuf): Any =
    new GenericArrayData(buf.sortedIdx().map { i =>
      InternalRow(buf.terms(i), buf.scores(i), buf.tfs(i), buf.dfs(i))
    }.toArray[Any])

  override def serialize(buf: TopKTermsBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeLong(buf.scores(i))
      val tb = buf.terms(i).getBytes
      out.writeInt(tb.length); out.write(tb)
      out.writeLong(buf.tfs(i)); out.writeLong(buf.dfs(i))
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKTermsBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKTermsBuf(k)
    var i = 0
    while (i < n) {
      val s = in.readLong()
      val tb = new Array[Byte](in.readInt()); in.readFully(tb)
      buf.add(s, UTF8String.fromBytes(tb), in.readLong(), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKTerms =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKTerms =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKTerms =
    copy(child = newChildren.head)
}

object TopKTerms {

  def register(spark: SparkSession): Unit =
    Natives.register(spark, "graft_topk_terms")

  /** Column-API entry: `graft_topk_terms(struct(score, term, tf, df), k)`. */
  def apply(spark: SparkSession, scoreTermTfDf: Column, k: Int): Column = {
    register(spark)
    call_function("graft_topk_terms", scoreTermTfDf, lit(k))
  }
}
