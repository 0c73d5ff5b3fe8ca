package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._

/** The one bounded heap, under each ranking's key encoding, against a
  * brute-force sort reference: the retained set must be the unique k
  * best for any insertion order, including ties, duplicate-score runs,
  * and under-full buffers. Deterministic pseudo-random orders (fixed LCG
  * — no Random seed ambiguity). */
class TopKBufSpec extends AnyFunSuite {

  /** `rows` through `r`'s encoding into one heap, read back best first. */
  private def viaHeap(r: KBest.Ranking, k: Int, rows: Seq[Any]): Seq[Any] = {
    val h = new BoundedHeap(k, r.width, r.termTie)
    rows.foreach(r.read(_, h))
    val a = h.ascending()
    (0 until a.size).map(r.out(a, _))
  }

  private def ref(pairs: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    pairs.sortBy { case (s, i) => (-s, i) }.take(k)

  private def viaBuf(pairs: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    viaHeap(TopKByScore, k, pairs.map { case (s, i) => InternalRow(s, i) })
      .map { case o: InternalRow => (o.getDouble(0), o.getLong(1)) }

  test("heap top-k equals sort-based reference across orders, ties, and sizes") {
    var lcg = 12345L
    def next(): Long = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; lcg }
    for (k <- Seq(1, 3, 10, 100); n <- Seq(0, 1, k - 1, k, k + 1, 5 * k)) {
      val pairs = (0 until math.max(n, 0)).map { j =>
        // coarse score grid forces plenty of exact ties -> id tiebreak
        ((math.floorMod(next(), 7L)).toDouble / 2.0, math.floorMod(next(), 1000L))
      }
      assert(viaBuf(pairs, k) == ref(pairs, k), s"k=$k n=$n")
    }
  }

  test("insertion order cannot change the retained set") {
    val pairs = (0 until 500).map(j => ((j % 9).toDouble, (j * 31 % 500).toLong))
    val k = 37
    val asc = viaBuf(pairs.sortBy(p => (p._1, p._2)), k)
    val desc = viaBuf(pairs.sortBy(p => (-p._1, -p._2)), k)
    val mixed = viaBuf(pairs, k)
    assert(asc == desc && desc == mixed && mixed == ref(pairs, k))
  }

  // ------------------------------------------------------- long-scored

  private def refL(pairs: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] =
    pairs.sortBy { case (s, i) => (-s, i) }.take(k)

  private def viaLongBuf(pairs: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] =
    viaHeap(TopKByLongScore, k, pairs.map { case (s, i) => InternalRow(s, i) })
      .map { case o: InternalRow => (o.getLong(0), o.getLong(1)) }

  test("long-scored heap equals sort reference, incl. values past 2^53") {
    var lcg = 777L
    def next(): Long = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; lcg }
    for (k <- Seq(1, 5, 40); n <- Seq(0, k, 4 * k)) {
      // big base puts scores past 2^53 where doubles could not tell
      // adjacent values apart — the exact-ranking case this buffer is for
      val base = (1L << 53) + 10
      val pairs = (0 until n).map { _ =>
        (base + math.floorMod(next(), 5L), math.floorMod(next(), 300L))
      }
      assert(viaLongBuf(pairs, k) == refL(pairs, k), s"k=$k n=$n")
      assert(viaLongBuf(pairs.sortBy(p => (p._1, p._2)), k) ==
        viaLongBuf(pairs.sortBy(p => (-p._1, -p._2)), k), s"order k=$k n=$n")
    }
  }

  test("adjacent >2^53 longs that collapse in double stay distinct here") {
    val a = (1L << 53) + 1 // rounds DOWN to exactly 2^53 in double
    val b = 1L << 53
    assert(a.toDouble == b.toDouble) // the failure mode being retired
    assert(viaLongBuf(Seq((a, 2L), (b, 1L)), 1) == Seq((a, 2L)))
    assert(viaLongBuf(Seq((b, 1L), (a, 2L)), 1) == Seq((a, 2L)))
  }

  // ------------------------------------------------------------- terms

  private def refT(rows: Seq[(Long, String, Long, Long)], k: Int) =
    rows.sortBy { case (s, t, _, _) => (-s, t) }.take(k)
      .map { case (s, t, a, b) => (t, s, a, b) }

  private def viaTermsBuf(rows: Seq[(Long, String, Long, Long)], k: Int) =
    viaHeap(TopKTerms, k, rows.map { case (s, t, a, b) =>
      InternalRow(s, UTF8String.fromString(t), a, b)
    }).map { case o: InternalRow =>
      (o.getUTF8String(0).toString, o.getLong(1), o.getLong(2), o.getLong(3))
    }

  test("terms heap: (score DESC, term ASC) retained set is order-independent") {
    var lcg = 4242L
    def next(): Long = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; lcg }
    for (k <- Seq(1, 5, 16); n <- Seq(0, k - 1, k, 6 * k)) {
      val rows = (0 until math.max(n, 0)).map { j =>
        // coarse scores force score ties -> term ASC tie-break;
        // distinct terms per group (the postings invariant)
        (math.floorMod(next(), 4L), f"tok $j%04d w", j.toLong, math.floorMod(next(), 9L))
      }
      assert(viaTermsBuf(rows, k) == refT(rows, k), s"k=$k n=$n")
      assert(viaTermsBuf(rows.reverse, k) == viaTermsBuf(rows, k), s"rev k=$k n=$n")
    }
  }

  // --------------------------------------------------- min-k rankings

  test("min-k values equal the ascending sort reference, duplicates included") {
    var lcg = 99L
    def next(): Long = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; lcg }
    for (k <- Seq(1, 4, 30); n <- Seq(0, 1, k - 1, k, k + 1, 5 * k)) {
      // full-range longs (hash60 reaches 2^60), half of them drawn from
      // a small set so duplicates occupy several slots
      val vs = (0 until math.max(n, 0)).map { _ =>
        if (next() < 0) math.floorMod(next(), 5L) else next()
      } ++ (if (n > 3) Seq(Long.MinValue, Long.MaxValue) else Nil)
      assert(viaHeap(MinKLong, k, vs) == vs.sorted.take(k), s"k=$k n=$n")
      assert(viaHeap(MinKLong, k, vs.reverse) == vs.sorted.take(k), s"rev k=$k n=$n")
    }
  }

  test("min-k pairs equal the (key ASC, id ASC) sort reference") {
    var lcg = 31337L
    def next(): Long = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; lcg }
    def viaPairs(ps: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] =
      viaHeap(MinKPairs, k, ps.map { case (a, b) => InternalRow(a, b) })
        .map { case o: InternalRow => (o.getLong(0), o.getLong(1)) }
    for (k <- Seq(1, 6, 25); n <- Seq(0, k - 1, k, 7 * k)) {
      // coarse keys force key ties -> id tie-break
      val ps = (0 until math.max(n, 0)).map { _ =>
        (math.floorMod(next(), 6L) - 3L, math.floorMod(next(), 200L))
      }
      assert(viaPairs(ps, k) == ps.sorted.take(k), s"k=$k n=$n")
      assert(viaPairs(ps.sortBy(p => (-p._1, -p._2)), k) == ps.sorted.take(k), s"order k=$k n=$n")
    }
  }

  // ------------------------------------------ split / serialize / merge

  test("p serialized partial heaps merge to the single heap, all five encodings") {
    var lcg = 2024L
    def next(): Long = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; lcg }
    def pick[T](xs: Seq[T]): T = xs(math.floorMod(next(), xs.length.toLong).toInt)
    val doubles = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -2.5, 1e300)
    val longs = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L, 1L << 53, (1L << 53) + 1)
    // ids and terms are distinct where a payload rides with the entry, so
    // (key, tie) alone decides which payload survives
    val inputs: Seq[(KBest.Ranking, Int => Any)] = Seq(
      TopKByScore -> (j => InternalRow(pick(doubles), j.toLong)),
      TopKByLongScore -> (j => InternalRow(pick(longs), math.floorMod(next(), 50L))),
      TopKTerms -> (j => InternalRow(pick(longs), UTF8String.fromString(s"t${j % 97}_$j"),
        next(), j.toLong)),
      MinKLong -> (_ => pick(longs)),
      MinKPairs -> (_ => InternalRow(pick(longs), math.floorMod(next(), 50L))))
    def elems(a: Any): Seq[Any] = a.asInstanceOf[ArrayData].array.toSeq
    for ((r, gen) <- inputs; k <- Seq(1, 4, 50); p <- Seq(1, 2, 5)) {
      val agg = KBest(r, BoundReference(0, r.input, nullable = true), k)
      // one null input in ten: skipped by update
      val rows = (0 until 200).map(j => if (j % 10 == 3) null else gen(j))
      val single = agg.createAggregationBuffer()
      rows.foreach(x => agg.update(single, InternalRow(x)))
      val parts = Seq.fill(p)(agg.createAggregationBuffer())
      rows.foreach(x => agg.update(parts(math.floorMod(next(), p.toLong).toInt), InternalRow(x)))
      val merged = agg.createAggregationBuffer()
      parts.foreach(b => agg.merge(merged, agg.deserialize(agg.serialize(b))))
      val want = elems(agg.eval(single))
      assert(want.size == math.min(k, 180), s"${r.name} k=$k")
      assert(elems(agg.eval(merged)) == want, s"${r.name} k=$k p=$p")
    }
  }
}
