package graft

import org.apache.spark.sql.functions._
import graft.operators.{Incremental, Retrieval, Similarity}

/** e17: the composed dense-index lifecycle. The oracle gate hash-proves
  * in-query append→delete→append == from-scratch-on-survivors every
  * run; this spec pins the PERSISTED path — two append-mode cell-file
  * publishes, one touched-cell-only delete rewrite, and a compaction —
  * producing query results identical to the in-query plan, on real
  * data. */
class ComposedIndexSpec extends SparkSpecBase {

  test("persisted append/delete/append + compaction == in-query e17 (real data)") {
    val d = sf001
    val dir = tempDir("graft-e17").toString
    val e = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val b1 = pmod(col("vec_id"), lit(Incremental.IngestMod)) === 0
    val b2n = pmod(col("vec_id"), lit(Incremental.IngestMod)) ===
      Incremental.ComposedBatch2Res
    val delP = col("vec_id") % Incremental.DeleteMod === Incremental.DeleteRes
    val base = e.filter(!b1 && !b2n)
    Incremental.writeIndexStateOf(spark, base,
      Similarity.kmeansCentroids(spark, base),
      Similarity.pqCodebooks(spark, base), dir)
    Incremental.appendToIndexState(spark, dir, e.filter(b1))
    val touched = Incremental.deleteFromIndexState(spark, dir,
      e.filter(delP).select(col("vec_id")))
    assert(touched.nonEmpty, "the takedown slice must touch cells")
    Incremental.appendToIndexState(spark, dir, e.filter(b2n ||
      (delP && col("vec_id") % Incremental.ComposedReingestMod === 0)))
    val filesBefore = Retrieval.partFileCount(spark, s"$dir/index")
    val report = Incremental.compactIndexState(spark, dir)
    assert(report.nonEmpty &&
      Retrieval.partFileCount(spark, s"$dir/index") <= filesBefore)
    val shortlist = Similarity.calibratedPqShortlist(spark, d)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    val persisted = rows(Incremental.queryDeletedIndexState(spark, d, dir,
      c => Incremental.composedSurvivor(c), shortlist))
    val inQuery = rows(Incremental.e17IndexLifecycle(spark, d, shortlist))
    assert(persisted == inQuery && persisted.nonEmpty)
  }
}
