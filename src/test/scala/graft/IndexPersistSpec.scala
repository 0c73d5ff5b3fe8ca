package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** The e05 deployment shape: the IVF×PQ index is a parquet table
  * partitioned by cell, built once and probed with partition pruning —
  * a query reads probe/cells of the files on disk, not the corpus. */
class IndexPersistSpec extends SparkSpecBase {

  test("e05 index round-trips partitioned by cell; probe filter prunes partitions") {
    val dir = tempDir("graft-e05-index").toString
    val e = Tables.embeddings(spark, sf001).select(col("vec_id"), col("embedding"))
    val centroids = Similarity.kmeansCentroids(spark, e)
    Similarity.e05Index(spark, e, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)

    // Querying THROUGH the persisted index equals the in-query catalog
    // entry row-for-row — the index is deterministic given the centroids.
    val persisted = spark.read.parquet(dir)
      .select(col("cell"), col("c_id"), col("recon"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rnk").collect().toSeq
    val viaDisk = rows(Similarity.e05FromIndex(spark, e, centroids, persisted))
    val inQuery = rows(Queries.production("e05_ivfpq")(spark, sf001))
    assert(viaDisk == inQuery)
    assert(viaDisk.nonEmpty)

    // A probe-shaped filter must reach the scan as PARTITION pruning:
    // only the probed cells' directories are read, not all of them.
    val nCells = spark.read.parquet(dir).select("cell").distinct().count()
    assert(nCells > 3, s"fixture needs >3 populated cells, got $nCells")
    val probedScan = spark.read.parquet(dir).filter(col("cell").isin(0, 1, 2))
    probedScan.collect()
    val scan = probedScan.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    val allFiles = scan.relation.location.inputFiles.length
    val readFiles = scan.metrics("numFiles").value
    assert(readFiles < allFiles,
      s"probe read $readFiles of $allFiles files — no partition pruning")
    assert(scan.metadata("PartitionFilters").contains("cell"),
      s"cell filter not pushed to partitions: ${scan.metadata("PartitionFilters")}")
  }

  test("e13's production posture: MMR over a PERSISTED index equals the " +
    "cataloged in-query plan") {
    // The cataloged e13 rebuilds the e05 index in-query (gated-rebuild
    // convention); a deployment persists the index once and pays only
    // probe + ADC + the MMR tail per query batch. Both must agree
    // row-for-row — the index is deterministic given the quantizers.
    val dir = tempDir("graft-e13-index").toString
    val e = Tables.embeddings(spark, sf001).select(col("vec_id"), col("embedding"))
    val centroids = Similarity.corpusCentroids(spark, sf001)
    Similarity.e05IndexFrom(spark, e, centroids,
        Similarity.corpusCodebooks(spark, sf001))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val persisted = spark.read.parquet(dir)
      .select(col("cell"), col("c_id"), col("recon"))
    val pool = Similarity.e05FromIndex(spark, e, centroids, persisted,
      depth = Similarity.MmrPool)
    val viaDisk = Similarity.mmrOverPool(spark, e, pool)
      .orderBy("q_id", "rnk").collect().toSeq
    val inQuery = Queries.production("e13_mmr_ann")(spark, sf001)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(viaDisk == inQuery)
    assert(viaDisk.nonEmpty)
  }
}
