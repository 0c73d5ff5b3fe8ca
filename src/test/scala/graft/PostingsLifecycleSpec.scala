package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Incremental, Retrieval}

/** The composed lexical-index lifecycle (e16): segmented postings +
  * tombstone liveness must equal one-shot indexing of the survivor set
  * after append → delete → append — and compaction must change files,
  * never frames. The oracle gate re-proves the end-to-end equality on
  * real data every run; these fixtures pin the mechanism cases. */
class PostingsLifecycleSpec extends SparkSpecBase {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def rowsOf(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  test("df cap crosses BOTH directions across the composed history") {
    // 30 base docs all share "stop word ..." (bigram "stop word" df=30;
    // 30*10 > 30+… always over the cap while everything holds it).
    // Build: base has 30 docs with the common bigram plus doc 0's
    // needle; delete 25 of the common docs → df falls, N falls — the
    // term's cap status must re-derive per query, and a later append
    // re-adds docs carrying it, pushing it back over. Equality with
    // one-shot indexing of the live set IS the assertion (the same
    // appendTail recomputes everything), pinned here at both ends of
    // the history.
    val common = (1L to 30L).map(i => i -> "stop word plus chaff token")
    val needleDoc = 0L -> "needle point only here"
    val base = docsDf((needleDoc +: common): _*)
    val st0 = Retrieval.postingsLifecycleOf(spark, base)
    // Delete docs 6..30 → "stop word" df = 5 of N = 6: 5*10 > 6 — still
    // over. Then append 100 distinct docs WITHOUT the bigram → N = 106,
    // df = 5: 50 <= 106 — the term drops UNDER the cap purely through
    // the second APPEND (N grew) — the composition-only direction
    // (e11 pins append-crossing-over, e14 pins delete-crossing-under;
    // only a composed history crosses via unrelated growth).
    val st1 = Retrieval.deletePostingsLifecycle(spark,
      Retrieval.appendPostingsLifecycle(spark, st0,
        docsDf(200L -> "stop word also here once")),
      (6L to 30L).toDF("doc_id").unionByName(Seq(200L).toDF("doc_id")))
    val filler = (300L until 400L).map(i => i -> s"filler$i one two")
    val st2 = Retrieval.appendPostingsLifecycle(spark, st1, docsDf(filler: _*))
    val live = docsDf((needleDoc +: common.filter(_._1 <= 5L)) ++ filler: _*)
    assert(rowsOf(Retrieval.queryPostingsLifecycle(spark, st2)) ==
      rowsOf(Retrieval.bm25TopK(spark, live)))
    // Premise check: the crossing really happens (df*10 vs N at each end).
    assert(30 * 10 > 31 && 5 * 10 <= 106)
  }

  test("re-ingest after delete with DIFFERENT text: old rows stay dead") {
    // Doc 100 queries (id % 100 == 0). Its first life says "alpha beta
    // gamma"; after delete + re-ingest it says "delta epsilon zeta".
    // If the first life's postings resurrected, the query terms and
    // the tf of doc 100 would both change — equality with one-shot
    // indexing of the second-life corpus catches either.
    val others = docsDf(
      1L -> "alpha beta gamma shared",
      2L -> "delta epsilon zeta shared",
      3L -> "delta epsilon zeta other")
    val st0 = Retrieval.postingsLifecycleOf(spark,
      others.unionByName(docsDf(100L -> "alpha beta gamma query")))
    val st1 = Retrieval.deletePostingsLifecycle(spark, st0, Seq(100L).toDF("doc_id"))
    val reborn = docsDf(100L -> "delta epsilon zeta query")
    val st2 = Retrieval.appendPostingsLifecycle(spark, st1, reborn)
    assert(rowsOf(Retrieval.queryPostingsLifecycle(spark, st2)) ==
      rowsOf(Retrieval.bm25TopK(spark, others.unionByName(reborn))))
    // And the live row count proves the old segment rows are dead.
    assert(st2.doclens.count() == 5 && st2.postings
      .join(st2.tombs.select("doc_id"), Seq("doc_id"), "left_semi")
      .filter(col("seg") === 0 && col("doc_id") === 100L).count() > 0)
  }

  test("e16 == one-shot bm25 on the composed survivor corpus (real data)") {
    val d = sf001
    val survivors = Tables.documents(spark, d)
      .filter(!(col("doc_id") % Incremental.DeleteMod === Incremental.DeleteRes &&
        col("doc_id") % Incremental.ComposedReingestMod =!= 0))
      .select(col("doc_id"), col("text"))
    assert(rowsOf(Retrieval.e16PostingsLifecycle(spark, d)) ==
      rowsOf(Retrieval.bm25TopK(spark, survivors)))
  }

  test("persisted segmented state == in-memory composition, and compaction changes files not frames") {
    val d = sf001
    val dir = tempDir("graft-postlc").toString
    val (base, batch1, delIds, batch2) = Incremental.composedDocSlices(spark, d)
    Retrieval.writePostingsLifecycleState(spark,
      Retrieval.postingsLifecycleOf(spark, base), dir)
    Retrieval.appendPostingsLifecycleState(spark, dir, batch1)
    Retrieval.deletePostingsLifecycleState(spark, dir, delIds)
    Retrieval.appendPostingsLifecycleState(spark, dir, batch2)
    val preCompact = rowsOf(Retrieval.queryPostingsLifecycleState(spark, dir))
    assert(preCompact == rowsOf(Retrieval.e16PostingsLifecycle(spark, d)))
    // Dead rows exist pre-compaction (the deleted-not-reingested slice).
    val deadBefore = spark.read.parquet(s"$dir/postings").count()
    val filesBefore = Retrieval.partFileCount(spark, s"$dir/postings")
    Retrieval.compactPostingsLifecycle(spark, dir)
    val filesAfter = Retrieval.partFileCount(spark, s"$dir/postings")
    assert(rowsOf(Retrieval.queryPostingsLifecycleState(spark, dir)) == preCompact)
    assert(spark.read.parquet(s"$dir/postings").count() < deadBefore,
      "compaction must drop the dead rows")
    assert(spark.read.parquet(s"$dir/tombs").count() == 0)
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
    // And the compacted state still accepts the NEXT lifecycle ops.
    Retrieval.deletePostingsLifecycleState(spark, dir,
      Tables.documents(spark, d).filter(col("doc_id") % 100 === 50).select("doc_id"))
    val after = Tables.documents(spark, d)
      .filter(!(col("doc_id") % Incremental.DeleteMod === Incremental.DeleteRes &&
        col("doc_id") % Incremental.ComposedReingestMod =!= 0) &&
        col("doc_id") % 100 =!= 50)
      .select(col("doc_id"), col("text"))
    assert(rowsOf(Retrieval.queryPostingsLifecycleState(spark, dir)) ==
      rowsOf(Retrieval.bm25TopK(spark, after)))
  }

  test("index compaction: appended cell files fold, frames unchanged") {
    val d = sf001
    val dir = tempDir("graft-idxlc").toString
    // Base index over 60% of vectors, then three small appends + a
    // delete — the fragmenting cycle.
    val e = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    Incremental.writeIndexState(spark, d, dir, mod = 5)
    for (r <- Seq(0, 1, 2))
      Incremental.appendToIndexState(spark, dir,
        e.filter(col("vec_id") % 5 === 0 && col("vec_id") % 3 === r))
    Incremental.deleteFromIndexState(spark, dir,
      e.filter(col("vec_id") % 10 === 3).select(col("vec_id")))
    def indexRows: Set[(Int, Long, Seq[Double])] =
      spark.read.parquet(s"$dir/index").collect()
        .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("c_id"),
          r.getAs[Seq[Double]]("recon"))).toSet
    val before = indexRows
    val filesBefore = Retrieval.partFileCount(spark, s"$dir/index")
    val report = Incremental.compactIndexState(spark, dir)
    val filesAfter = Retrieval.partFileCount(spark, s"$dir/index")
    assert(indexRows == before, "compaction must not change index rows")
    assert(filesAfter < filesBefore,
      s"index compaction must shrink files ($filesBefore -> $filesAfter)")
    assert(report.nonEmpty && report.values.forall { case (b, a) => a <= b })
  }
}
