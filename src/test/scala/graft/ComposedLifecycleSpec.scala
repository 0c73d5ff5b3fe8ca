package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Incremental
import graft.operators.Incremental.GroupLifecycleState

/** The composed state lifecycle (d17): append → delete → append through
  * ONE carried dup-group state must equal from-scratch on the composed
  * survivor set. The oracle gate re-proves this on real data every run;
  * these fixtures pin the interaction cases a per-direction gate cannot
  * see — a component SPLIT by a delete then RE-BRIDGED by an append
  * (with the keeper changing twice), and a deleted id RE-INGESTED with
  * different text (its old shingles/bands must be gone, or it re-pairs
  * with its old neighbours). */
class ComposedLifecycleSpec extends SparkSpecBase {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def labelsOf(st: GroupLifecycleState): Map[Long, Long] =
    st.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def append(st: GroupLifecycleState, batch: DataFrame): GroupLifecycleState =
    Incremental.appendGroupLifecycle(spark, st,
      batch.select(col("doc_id").as("id")),
      operators.Dedup.shingledDocs(spark, batch))

  private def delete(st: GroupLifecycleState, ids: Long*): GroupLifecycleState =
    Incremental.deleteGroupLifecycle(spark, st, ids.toDF("id"))

  test("split by delete, re-bridged by append: keeper changes twice") {
    // Base: chain 10 ~ 11 ~ 12 (11's text spans both sides; 10 ≁ 12) —
    // one component, keeper 10. Delete 11 → split {10}, {12}. Append 9
    // carrying the bridging text under a NEW id → re-bridged
    // {9, 10, 12} with the new min 9 as keeper (the relabel's
    // pull-down case through a composed path). Token family chosen so
    // the J≈0.6 edges deterministically collide in a band (md5-fixed;
    // a different family can legitimately miss at this similarity).
    def w(i: Int) = s"w1x$i"
    val bridgeText = (1 to 18).map(w).mkString(" ")
    val base = docsDf(
      10L -> (1 to 12).map(w).mkString(" "),
      11L -> bridgeText,
      12L -> (7 to 18).map(w).mkString(" "),
      20L -> "k1 k2 k3 k4 k5")   // bystander component
    val st0 = Incremental.groupLifecycleOf(spark, base)
    assert(labelsOf(st0) == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L),
      "fixture premise: base chain must resolve to one component")
    val st1 = delete(st0, 11L)
    assert(labelsOf(st1) == Map(10L -> 10L, 12L -> 12L, 20L -> 20L))
    val st2 = append(st1, docsDf(9L -> bridgeText))
    assert(labelsOf(st2) == Map(9L -> 9L, 10L -> 9L, 12L -> 9L, 20L -> 20L))
    // Composed == from-scratch on the survivor docs.
    val scratch = Incremental.groupLifecycleOf(spark, base.filter(col("doc_id") =!= 11L)
      .unionByName(docsDf(9L -> bridgeText)))
    assert(labelsOf(st2) == labelsOf(scratch))
  }

  test("re-ingest after delete with DIFFERENT text: old shingles/bands must be gone") {
    // 21's first life pairs it with 20; its second life (same id, new
    // text) pairs it with 22. Stale state (bands or shingles surviving
    // the delete) would ALSO pair the re-ingested 21 with 20 and merge
    // everything into one component — exactly the composition bug the
    // per-direction gates cannot catch.
    val base = docsDf(
      20L -> "m n o p q",
      21L -> "m n o p q r",      // first life: near-dup of 20
      22L -> "z1 z2 z3 z4 z5")
    val st0 = Incremental.groupLifecycleOf(spark, base)
    assert(labelsOf(st0) == Map(20L -> 20L, 21L -> 20L, 22L -> 22L),
      "fixture premise: first life must pair 21 with 20")
    val st1 = delete(st0, 21L)
    val reborn = docsDf(21L -> "z1 z2 z3 z4 z5 z6") // second life: near-dup of 22
    val st2 = append(st1, reborn)
    assert(labelsOf(st2) == Map(20L -> 20L, 21L -> 21L, 22L -> 21L))
    val scratch = Incremental.groupLifecycleOf(spark,
      base.filter(col("doc_id") =!= 21L).unionByName(reborn))
    assert(labelsOf(st2) == labelsOf(scratch))
    // The state frames themselves must carry no trace of the first life.
    assert(st2.shingles.filter(col("doc_id") === 21L).count() == 1)
    assert(st2.pairs.filter(col("id_a") === 20L || col("id_b") === 20L).count() == 0)
  }

  test("delete kills a keeper the second append would have elected differently") {
    // Base {1, 2, 3} clique, keeper 1. Delete 1 → keeper 2. Append 0
    // (near-dup of 2) → keeper 0. Three different keepers across the
    // three states, each the survivor-min — the re-election chain.
    def v(i: Int) = s"v0q$i"
    val cliqueText = (1 to 5).map(v).mkString(" ")
    val base = docsDf(
      1L -> cliqueText, 2L -> cliqueText, 3L -> cliqueText)
    val st0 = Incremental.groupLifecycleOf(spark, base)
    assert(labelsOf(st0) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val st1 = delete(st0, 1L)
    assert(labelsOf(st1) == Map(2L -> 2L, 3L -> 2L))
    val st2 = append(st1, docsDf(0L -> (1 to 6).map(v).mkString(" ")))
    assert(labelsOf(st2) == Map(0L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("composed == from-scratch on the survivor corpus (real data)") {
    val d = sf001
    val survivors = Tables.documents(spark, d)
      .filter(!(col("doc_id") % Incremental.DeleteMod === Incremental.DeleteRes &&
        col("doc_id") % Incremental.ComposedReingestMod =!= 0))
      .select(col("doc_id"), col("text"))
    val scratch = labelsOf(Incremental.groupLifecycleOf(spark, survivors))
    val composed = Incremental.composedLifecycleLabels(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(composed == scratch && composed.nonEmpty)
  }

  test("persisted-path steps == in-query composition (real data)") {
    val d = sf001
    val root = tempDir("graft-composed").toString
    val dirs = Incremental.runComposedLifecyclePersisted(spark, d, root)
    val persisted = spark.read.parquet(s"${dirs.last}/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inQuery = Incremental.composedLifecycleLabels(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(persisted == inQuery && persisted.nonEmpty)
  }
}
