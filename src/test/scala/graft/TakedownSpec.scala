package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Incremental, Retrieval, Similarity}
import graft.Tables

/** Deletion/takedown propagation == from-scratch on corpus-minus-deleted,
  * pinned at the operator level on engineered fixtures (keeper death,
  * component split, df-cap re-cross, touched-cell-only index rewrite) and
  * at the state level on real data — the d16/e14/e15 oracle gates re-prove
  * the end-to-end equality on every run. */
class TakedownSpec extends SparkSpecBase {
  import spark.implicits._

  private def pred(c: org.apache.spark.sql.Column) =
    c % Incremental.DeleteMod === Incremental.DeleteRes

  test("deleteFromGroups: keeper death, bridge split, untouched passthrough, isolated survivor") {
    val labels = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L,     // clique {1,2,3}; 1 (the keeper) dies
      10L -> 10L, 11L -> 10L, 12L -> 10L, // chain 10-11-12; bridge 11 dies → SPLIT
      20L -> 20L, 21L -> 20L,            // untouched component
      30L -> 30L,                        // deleted singleton
      40L -> 40L, 41L -> 40L,            // fully deleted component
      50L -> 50L, 51L -> 50L             // 51 dies → 50 left edge-isolated
    ).toDF("id", "lbl")
    val pairs = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
      (10L, 11L, 10L), (11L, 12L, 10L),
      (20L, 21L, 20L), (40L, 41L, 40L), (50L, 51L, 50L)
    ).toDF("id_a", "id_b", "lbl")
    val deleted = Seq(1L, 11L, 30L, 40L, 41L, 51L).toDF("id")
    val got = Incremental.deleteFromGroups(spark, labels, pairs, deleted)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      2L -> 2L, 3L -> 2L,          // keeper re-elected to the new min
      10L -> 10L, 12L -> 12L,      // split: each side its own component
      20L -> 20L, 21L -> 20L,      // untouched label survives verbatim
      50L -> 50L))                 // isolated survivor coalesces to itself
  }

  test("d16 == from-scratch d06 machinery on the remaining corpus (real data)") {
    val d = sf001
    val remaining = Tables.documents(spark, d).filter(!pred(col("doc_id")))
    val pairs = Dedup.minhashLshPairs(spark, Dedup.shingledDocs(spark, remaining))
      .select(col("id_a"), col("id_b"))
    val labels = Dedup.connectedComponents(
      remaining.select(col("doc_id").as("id")), pairs)
    val sizes = labels.groupBy(col("lbl").as("cid")).agg(count(lit(1)).as("group_size"))
    val scratch = labels.join(sizes, col("lbl") === col("cid"))
      .select(col("id").as("doc_id"), col("lbl").as("canonical_id"),
        col("group_size"), (col("id") === col("lbl")).as("is_keeper"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val got = Incremental.d16DeleteGroups(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == scratch && got.nonEmpty)
  }

  test("deleteGroupsFromState (persisted path) == in-query d16") {
    val d = sf001
    val dir = tempDir("graft-del-groups").toString
    Incremental.writeDeleteGroupState(spark, d, dir)
    val deleted = Tables.documents(spark, d).filter(pred(col("doc_id")))
      .select(col("doc_id").as("id"))
    val fromState = Incremental.deleteGroupsFromState(spark, dir, deleted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val inQuery = Incremental.d16DeleteGroups(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(fromState == inQuery)
  }

  test("postings delete: a capped term re-crosses UNDER the df cap and re-enters queries") {
    // 40 docs. The needle bigram "needle point" lives in docs 0..4
    // (df = 5; 5 * 10 > 40 → OVER the cap pre-delete, so query doc 0 —
    // whose ONLY term it is — retrieves nothing). Deleting docs
    // {3, 4, 35, 36, 37} gives N = 35, df = 3; 3 * 10 <= 35 → the term
    // drops back UNDER the cap and docs 1, 2 must re-enter doc 0's
    // results. Filler docs carry doc-unique bigrams (df = 1).
    val docs = (0L to 39L).map { i =>
      if (i <= 4) (i, s"needle point")
      else (i, s"f${i}a f${i}b f${i}c")
    }.toDF("doc_id", "text")
    val full = Retrieval.bm25TopK(spark, docs)
    assert(full.filter(col("q_id") === 0).count() == 0,
      "pre-delete the needle term must be capped out")
    val deleted = docs.filter(col("doc_id").isin(3L, 4L, 35L, 36L, 37L))
    val got = Retrieval.postingsDeleteTopK(spark, docs, deleted)
    assert(got.filter(col("q_id") === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "post-delete the re-crossed term must retrieve the surviving needle docs")
    // And the global equality: delete-propagated == from-scratch on the
    // remaining corpus.
    val remaining = docs.join(deleted.select("doc_id"), Seq("doc_id"), "left_anti")
    val scratch = Retrieval.bm25TopK(spark, remaining)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(got) == rows(scratch))
  }

  test("deletePostingsFromState (persisted path) == in-query e14 (real data)") {
    val d = sf001
    val dir = tempDir("graft-del-post").toString
    Retrieval.writeDeletePostingsState(spark, d, dir)
    val deletedIds = Tables.documents(spark, d)
      .filter(pred(col("doc_id"))).select("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(Retrieval.deletePostingsFromState(spark, dir, deletedIds))
      == rows(Retrieval.e14PostingsDelete(spark, d)))
  }

  test("curation delete: quality keeper re-election on a fixture (not min-id)") {
    import graft.operators.Curation
    // One 3-member clean component; the QUALITY-best member (id 30,
    // quality 0.9) is deleted — the new keeper must be id 20 (quality
    // 0.8), NOT the min id 10 (quality 0.1): the policy under test is
    // assembleDecisions' max_by, surviving the takedown path.
    val decisions = Seq(
      (10L, "kept", 10L, 3L, 10L, "train", true),
      (20L, "duplicate", 10L, 3L, 10L, "none", false),
      (30L, "duplicate", 10L, 3L, 10L, "none", false),
      (99L, "low_quality", -1L, 0L, -1L, "none", false)
    ).toDF("doc_id", "stage", "group_id", "group_size", "keeper_id", "split", "keep")
    // Hand-set qualities make 30 the standing... the persisted frame
    // above says keeper 10 only because this fixture starts mid-life;
    // what matters is the RE-ELECTION after 30 joins the takedown.
    val pairs = Seq((10L, 20L, 10L), (20L, 30L, 10L), (10L, 30L, 10L))
      .toDF("id_a", "id_b", "lbl")
    val quality = Seq((10L, 0.1), (20L, 0.8), (30L, 0.9)).toDF("doc_id", "quality")
    val splits = Seq((10L, "train"), (20L, "val"), (30L, "test")).toDF("doc_id", "split")
    val got = Curation.deleteCuration(spark, decisions, pairs, quality, splits,
        Seq(30L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(4), r.getString(5))).toMap
    assert(got(20L) == (("kept", 20L, "val")), s"got $got")
    assert(got(10L) == (("duplicate", 20L, "none")))
    assert(got(99L)._1 == "low_quality")
    assert(!got.contains(30L))
  }

  test("deleteCurationFromState (persisted path) == in-query x18 (real data)") {
    import graft.operators.Curation
    val d = sf001
    val dir = tempDir("graft-del-cur").toString
    Curation.writeCurationStateAll(spark, d, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getBoolean(6))).toSet
    assert(rows(Curation.deleteCurationFromState(spark, d, dir))
      == rows(Curation.x18CurationDelete(spark, d)))
  }

  test("takedown slice never contains a benchmark row (the registry-immutability exemption)") {
    import graft.operators.{Curation, Dedup}
    import graft.functions.Text
    val marked = Tables.documents(spark, sf001)
      .select(col("doc_id"),
        (pmod(Text.hash60(col("doc_id").cast("string"), Dedup.DecontamSeed),
          lit(Dedup.DecontamBenchMod)) === 0).as("is_bench"))
    val slice = Curation.deleteSlice(Tables.documents(spark, sf001))
    assert(slice.join(marked.filter(col("is_bench")), "doc_id").count() == 0)
    assert(slice.count() > 0)
  }

  test("index delete: touched-cell-only rewrite, remaining-corpus equality, query parity") {
    val d = sf001
    val dir = tempDir("graft-del-idx").toString
    Incremental.writeFullIndexState(spark, d, dir)
    def cellFiles(): Map[String, Map[String, Long]] = {
      val root = new java.io.File(s"$dir/index")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(c => c.getName ->
          c.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => f.getName -> f.length()).toMap).toMap
    }
    val before = cellFiles()
    val e = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val deletedIds = e.filter(pred(col("vec_id"))).select(col("vec_id"))
    val touched = Incremental.deleteFromIndexState(spark, dir, deletedIds)
    assert(touched.nonEmpty, "the 10% slice must touch at least one cell")
    val after = cellFiles()
    val untouchedCells = before.keySet.filterNot(c =>
      touched.contains(c.stripPrefix("cell=").toInt))
    assert(untouchedCells.forall(c => before(c) == after(c)),
      "untouched cell partitions must keep their exact files")
    // Surviving rows == index built from the remaining corpus under the
    // same frozen quantizers (per-vector encode ⇒ filter == re-encode).
    val remaining = e.filter(!pred(col("vec_id")))
    val scratch = Similarity.e05IndexFrom(spark, remaining,
      Similarity.corpusCentroids(spark, d), Similarity.corpusCodebooks(spark, d))
      .select(col("cell").cast("int"), col("c_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val kept = spark.read.parquet(s"$dir/index")
      .select(col("cell").cast("int"), col("c_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(kept == scratch)
    // Query parity: the persisted post-delete index answers exactly as
    // the in-query gated e15.
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(Incremental.queryDeletedIndexState(spark, d, dir, c => !pred(c)))
      == rows(Incremental.e15IndexDelete(spark, d)))
  }
}
