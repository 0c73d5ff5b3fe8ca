package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Incremental, Similarity}

/** Incremental ingestion == from-scratch, asserted at the operator level
  * (the d09/e06 oracle gate re-proves it end-to-end every run). */
class IncrementalSpec extends SparkSpecBase {
  import spark.implicits._

  // Shingle sets engineered so the LSH bands PROVABLY fire (verified
  // against the md5 band math, not hoped-for): j(bridge,a)=j(bridge,c)
  // =0.5 with a band collision on both sides, while j(a,c)=0 with no
  // collision — so a new doc carrying a∪c bridges two old components
  // through the real candidate path, not through a test shortcut.
  private val shA = Seq("alpha 190069 tok", "alpha 128781 tok",
    "alpha 693560 tok", "alpha 470627 tok", "alpha 350811 tok",
    "alpha 251130 tok", "alpha 207554 tok", "alpha 998152 tok",
    "alpha 513294 tok")
  private val shC = Seq("gamma 658702 tok", "gamma 518032 tok",
    "gamma 191862 tok", "gamma 503077 tok", "gamma 309825 tok",
    "gamma 480595 tok", "gamma 929929 tok", "gamma 277380 tok",
    "gamma 205644 tok")

  test("ingestDupGroups: batch bridges two old components and equals from-scratch CC") {
    val oldSh = Seq(
      (10L, shA), (11L, shA),          // component {10,11}, lbl 10
      (20L, shC), (21L, shC)           // component {20,21}, lbl 20
    ).toDF("doc_id", "sh")
    val oldIds = oldSh.select(col("doc_id").as("id"))
    val oldBands = Dedup.minhashBands(oldSh)
    // The persisted base state: CC over base pairs only.
    val basePairs = Dedup.verifyJaccard(
      oldBands.toDF("id_a", "band", "bsig")
        .join(oldBands.toDF("id_b", "band2", "bsig2"),
          col("band") === col("band2") && col("bsig") === col("bsig2") &&
            col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct(), oldSh, 0.5)
      .select("id_a", "id_b")
    val oldLabels = Dedup.connectedComponents(oldIds, basePairs)
    assert(oldLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))

    // The batch: an exact dup of component A with a SMALLER id than any
    // old doc (the merged label must become it), a bridge doc carrying
    // a∪c (connects components A and C), and an unrelated isolated doc.
    val newSh = Seq(
      (3L, shA),                        // exact dup of 10/11, new min id
      (5L, shA ++ shC),                 // the bridge
      (99L, Seq("zeta 1 q", "zeta 2 q", "zeta 3 q"))
    ).toDF("doc_id", "sh")
    val newIds = newSh.select(col("doc_id").as("id"))

    val inc = Incremental
      .ingestDupGroups(spark, oldLabels, oldBands, oldSh, newIds, newSh)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // From-scratch over the COMBINED corpus with the same machinery.
    val allSh = oldSh.unionByName(newSh)
    val allBands = Dedup.minhashBands(allSh)
    val allPairs = Dedup.verifyJaccard(
      allBands.toDF("id_a", "band", "bsig")
        .join(allBands.toDF("id_b", "band2", "bsig2"),
          col("band") === col("band2") && col("bsig") === col("bsig2") &&
            col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct(), allSh, 0.5)
      .select("id_a", "id_b")
    val scratch = Dedup
      .connectedComponents(oldIds.unionByName(newIds), allPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(inc == scratch)
    // …and the interesting structure actually happened:
    assert(inc(99L) == 99L, "isolated new doc keeps its own label")
    assert(inc(10L) == 3L && inc(20L) == 3L,
      s"bridge + new-min-id should relabel BOTH old components to 3: $inc")
    assert(inc(5L) == 3L && inc(21L) == 3L && inc(11L) == 3L)
  }

  test("appendToIndex with frozen quantizers equals indexing the combined corpus") {
    val e = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"))
    val isNew = pmod(col("vec_id"), lit(Incremental.IngestMod)) === 0
    val base = e.filter(!isNew)
    val batch = e.filter(isNew)
    val centroids = Similarity.kmeansCentroids(spark, base)
    val codebooks = Similarity.pqCodebooks(spark, base)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Double](2).toVector)).toSet
    val appended = rows(Incremental.appendToIndex(spark,
      Similarity.e05IndexFrom(spark, base, centroids, codebooks),
      centroids, codebooks, batch))
    val oneShot = rows(Similarity.e05IndexFrom(spark, e, centroids, codebooks))
    assert(appended == oneShot)
    assert(appended.nonEmpty &&
      appended.map(_._2).intersect(Set(0L, 5L, 10L)).size == 3,
      "batch vectors present in the appended index")
  }

  test("ingest precondition: gated mod-split base labels and batch ids are value-disjoint") {
    // The merge graph mixes old-label vertices and batch doc ids in one
    // value space (Incremental scaladoc precondition): old labels are
    // component-min BASE doc ids (≢ 0 mod IngestMod) and batch ids are
    // ≡ 0 — assert the disjointness the relabel maps rely on, so a
    // future change to the split or the label convention fails loudly
    // here instead of silently mislabeling.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf001).select(col("doc_id"))
    val isNew = pmod(col("doc_id"), lit(Incremental.IngestMod)) === 0
    val baseIds = docs.filter(!isNew).collect().map(_.getLong(0)).toSet
    val batchIds = docs.filter(isNew).collect().map(_.getLong(0)).toSet
    assert(batchIds.nonEmpty && baseIds.nonEmpty)
    assert((baseIds & batchIds).isEmpty)
    // labels of the base CC are base doc ids — the min-label convention
    val pairs = operators.Dedup.d03MinhashLsh(spark, sf001)
      .filter(!(col("id_a") % Incremental.IngestMod === 0) &&
        !(col("id_b") % Incremental.IngestMod === 0))
      .select("id_a", "id_b")
    val verts = docs.filter(!isNew).select(col("doc_id").as("id"))
    val lbls = operators.Dedup.connectedComponents(verts, pairs)
      .collect().map(_.getLong(1)).toSet
    assert(lbls.subsetOf(baseIds), "old labels must live in the base id space")
    assert((lbls & batchIds).isEmpty, "label values must not collide with batch ids")
  }

  test("d09 catalog output equals d06 on the same corpus (incremental == from-scratch)") {
    val d09 = Queries.production("d09_incremental_groups")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    val d06 = Queries.production("d06_dup_groups")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(d09 == d06 && d09.nonEmpty)
  }

  test("mergeFromState over persisted group state equals the in-query d09") {
    val dir = tempDir("graft-inc-groups").toString
    Incremental.writeGroupState(spark, sf001, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    val viaDisk = rows(Incremental.mergeFromState(spark, sf001, dir))
    val inQuery = rows(Queries.production("d09_incremental_groups")(spark, sf001))
    assert(viaDisk == inQuery && viaDisk.nonEmpty)
  }

  test("delta upsert over persisted labels reproduces the full merge labelling") {
    val dir = tempDir("graft-inc-delta").toString
    Incremental.writeGroupState(spark, sf001, dir)
    val delta = Incremental.mergeDeltaFromState(spark, sf001, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val old = spark.read.parquet(s"$dir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val upserted = old ++ delta // overwrite-by-id, the production apply
    val full = Incremental.mergeFromState(spark, sf001, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(upserted == full && delta.nonEmpty)
    // the delta must be strictly smaller than the corpus labelling —
    // otherwise it is not a delta
    assert(delta.size < full.size)
  }

  test("writeGroupState persists the lifecycle set: a delete over it equals from-scratch") {
    val dir = tempDir("graft-inc-lifecycle").toString
    Incremental.writeGroupState(spark, sf001, dir)
    val docs = Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    val isBase = pmod(col("doc_id"), lit(Incremental.IngestMod)) =!= 0
    val isDeleted = col("doc_id") % Incremental.DeleteMod === Incremental.DeleteRes
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val st = Incremental.readGroupLifecycle(spark, dir)
    val got = labels(Incremental.deleteGroupLifecycle(spark, st,
      docs.filter(isDeleted).select(col("doc_id").as("id"))).labels)
    val scratch = labels(Incremental.groupLifecycleOf(spark,
      docs.filter(isBase && !isDeleted)).labels)
    assert(got == scratch && got.nonEmpty)
    // The takedown reaches a deleted doc that the persisted pair graph
    // connects, so the delete re-runs CC on a touched component.
    assert(st.pairs.filter(col("id_a") % Incremental.DeleteMod === Incremental.DeleteRes ||
      col("id_b") % Incremental.DeleteMod === Incremental.DeleteRes).count() > 0)
  }

  test("appendFromState over persisted index state equals the in-query e06") {
    val dir = tempDir("graft-inc-ann").toString
    Incremental.writeIndexState(spark, sf001, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rnk").collect().toSeq
    val viaDisk = rows(Incremental.appendFromState(spark, sf001, dir))
    val inQuery = rows(Queries.production("e06_index_append")(spark, sf001))
    assert(viaDisk == inQuery && viaDisk.nonEmpty)
  }
}
