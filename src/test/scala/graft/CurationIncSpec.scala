package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup}

/** Incremental curation == from-scratch, including the one genuinely
  * non-monotone case: a batch that mints NEW benchmark docs can
  * contaminate previously-clean corpus docs, and removing such a doc
  * can SPLIT a near-dup component. The synthetic corpus below forces
  * exactly that (plus a batch doc joining an untouched component, batch
  * drops, and an untouched component that must NOT appear in the
  * delta), and every claim is a frame-equality against the from-scratch
  * [[Curation.curationDecideDocs]] on the combined corpus — no
  * structural shortcut stands in for the real output.
  *
  * Corpus geometry (token indexes into one per-seed vocabulary):
  *  - B(2) = t0..t119; A(1) = t0..t59 ++ t80..t109; C(3) = t60..t119 ++
  *    t20..t49. J(A,B)=J(B,C)=86/120≈0.717 ≥ 0.5, J(A,C)=56/120≈0.467
  *    < 0.5, so {A,B,C} chains through B. The batch's BENCH doc (100)
  *    is t53..t60 — an 8-token run of B spanning the U/V boundary that
  *    neither A nor C contains (A stops at t59+Z, C starts at t60+Z'),
  *    so B alone flips to contaminated and the chain must split.
  *  - Batch doc N(20) = t60..t119 ++ t20..t44 is a prefix of C (J≈0.94;
  *    J(N,B)≈0.64 but B leaves the clean graph; J(N,A)≈0.39). It pairs
  *    with C, a SURVIVOR of that split: C must enter the merge CC as its
  *    own id, not lifted to its old label (A's id 1), or N would pull
  *    A's piece and C's together again.
  *  - D(4)⊃E(6) (J≈0.95) is a second component; batch doc G(5) is a
  *    prefix of D (J≈0.9) and must join it (the untouched-incident
  *    relabel path).
  *  - J(7)/K(8) (J≈0.95) is a component nothing touches — it must NOT
  *    appear in the delta.
  *  - H(10) is repetition junk (low_quality drop); I(15) is isolated
  *    clean.
  * Band collisions at J≈0.72 are probabilistic in the minhash draw, so
  * the vocabulary seed is SEARCHED deterministically until the banded
  * pair set is exactly the intended one — the spec then proves the
  * merge on that fixed corpus. */
class CurationIncSpec extends SparkSpecBase {

  private def txt(seed: Int, idx: Seq[Int]): String =
    idx.map(i => s"w${seed}x$i").mkString(" ")

  private def docsOf(seed: Int, rows: Seq[(Long, Seq[Int])],
                     extra: Seq[(Long, String)] = Nil): DataFrame = {
    import spark.implicits._
    (rows.map { case (id, idx) => (id, txt(seed, idx)) } ++ extra)
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        length(col("text")).cast("bigint").as("n_chars"))
  }

  private def baseRows(seed: Int): Seq[(Long, Seq[Int])] = Seq(
    1L -> ((0 to 59) ++ (80 to 109)),
    2L -> (0 to 119),
    3L -> ((60 to 119) ++ (20 to 49)),
    4L -> (200 to 279),
    6L -> (200 to 275),
    7L -> (300 to 379),
    8L -> (300 to 375))

  private def batchRows(seed: Int): Seq[(Long, Seq[Int])] = Seq(
    5L -> (200 to 271),
    100L -> (53 to 60),
    20L -> ((60 to 119) ++ (20 to 44)),
    15L -> (400 to 459))

  private def batchDocs(seed: Int): DataFrame =
    docsOf(seed, batchRows(seed),
      extra = Seq(10L -> Seq.fill(40)("the").mkString(" ")))

  /** First vocabulary seed whose minhash draw bands exactly the intended
    * pair set (deterministic: the loop always lands on the same seed). */
  private lazy val seed: Int = (0 until 60).find { s =>
    val all = docsOf(s, baseRows(s) ++ batchRows(s))
    val got = Dedup.minhashLshPairs(spark, Dedup.shingledDocs(spark, all))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val chain = Set((1L, 2L), (2L, 3L), (4L, 6L), (7L, 8L), (4L, 5L), (3L, 20L))
    chain.subsetOf(got) && !got.contains((1L, 3L)) &&
      got.forall { case (a, b) =>
        chain((a, b)) || Set((5L, 6L), (2L, 20L))((a, b)) }
  }.getOrElse(fail("no vocabulary seed bands the intended pair structure"))

  private lazy val base = docsOf(seed, baseRows(seed))
  private lazy val all = base.unionByName(batchDocs(seed))
  private lazy val st = Curation.curationState(spark, base)
  private lazy val full = Curation.mergeCuration(spark, st, batchDocs(seed)).cache()
  private lazy val delta = Curation.curationDelta(spark, st, batchDocs(seed)).cache()
  private lazy val scratch = Curation.curationDecideDocs(spark, all).cache()

  private val cols = Seq("doc_id", "stage", "group_id", "group_size",
    "keeper_id", "split", "keep")

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("synthetic: merge from state equals from-scratch on the combined corpus") {
    assert(rowsOf(full) == rowsOf(scratch))
  }

  test("synthetic: the new benchmark doc splits B's component") {
    val byId = full.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getString(1) == "contaminated",
      "B must flip clean -> contaminated via the batch's bench grams")
    assert(byId(100L).getString(1) == "benchmark")
    assert(byId(1L).getLong(2) != byId(3L).getLong(2),
      "A and C must land in DIFFERENT components once B is removed")
    assert(byId(1L).getString(1) == "kept" && byId(3L).getString(1) == "kept")
    assert(byId(5L).getLong(2) == byId(4L).getLong(2) &&
      byId(6L).getLong(2) == byId(4L).getLong(2),
      "G must join D/E's component through the band probe")
    assert(byId(10L).getString(1) == "low_quality")
  }

  test("synthetic: a batch doc pairing with a split survivor joins that piece only") {
    val byId = full.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(20L).getString(1) == "kept" || byId(20L).getString(1) == "duplicate")
    assert(byId(20L).getLong(2) == byId(3L).getLong(2) && byId(3L).getLong(3) == 2L,
      "N must join C's piece of the split component")
    assert(byId(1L).getLong(3) == 1L,
      "A's piece must stay alone: C enters the merge CC raw, not as label 1")
    assert(rowsOf(full.filter(col("doc_id").isin(1L, 3L, 20L))) ==
      rowsOf(scratch.filter(col("doc_id").isin(1L, 3L, 20L))))
  }

  test("synthetic: upserting the delta reproduces the full merge; untouched stays out") {
    val deltaIds = delta.select("doc_id")
    val upsert = st.decisions.join(deltaIds, Seq("doc_id"), "left_anti")
      .unionByName(delta.select(cols.map(col): _*))
    assert(rowsOf(upsert) == rowsOf(full))
    val ids = delta.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(7L) && !ids.contains(8L),
      "the untouched J/K component must not be re-emitted by the delta")
    assert(Set(1L, 2L, 3L, 4L, 5L, 6L, 10L, 15L, 100L).subsetOf(ids))
  }

  test("sf0.001: persisted-state merge and delta-upsert equal the gated x08") {
    val dir = tempDir("cur-state").toString
    Curation.writeCurationState(spark, sf001, dir)
    val merged = Curation.mergeCurationFromState(spark, sf001, dir)
    val fromScratch = Curation.x08CurationDecide(spark, sf001)
    assert(rowsOf(merged) == rowsOf(fromScratch))
    val d = Curation.curationDeltaFromState(spark, sf001, dir)
    val dec = spark.read.parquet(s"$dir/decisions")
    val upsert = dec.join(d.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(d.select(cols.map(col): _*))
    assert(rowsOf(upsert) == rowsOf(fromScratch))
  }
}
