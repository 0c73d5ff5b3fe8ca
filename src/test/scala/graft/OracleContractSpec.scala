package graft

import graft.operators.Similarity

/** Guards the no-arg SparkEntry.oracleSql contract form and the RHP-bits
  * memo: the no-arg mirror embeds the catalog-default band width, so it
  * is only valid while calibration floors at that default
  * (embeddings count <= perBucket * 2^RhpBits = 800). */
class OracleContractSpec extends SparkSpecBase {

  test("no-arg oracleSql equals the SF-aware form at the gate SFs") {
    for (d <- Seq(sf001, "/root/testdata/sf0.01")) {
      assert(Similarity.calibratedRhpBits(spark, d) === Similarity.RhpBits,
        s"calibration must floor at the catalog default at $d")
      assert(SparkEntry.oracleSql === SparkEntry.oracleSql(spark, d),
        s"no-arg oracle mirror must match the calibrated one at $d")
    }
  }

  test("calibration leaves the floor exactly when floor(n/perBucket) > 2^RhpBits") {
    // floor division: target = n/50 stays <= 16 through n = 849.
    val bound = 50L * ((1L << Similarity.RhpBits) + 1) - 1 // 849
    assert(Similarity.scaledRhpBits(bound) === Similarity.RhpBits)
    assert(Similarity.scaledRhpBits(bound + 1) === Similarity.RhpBits + 1)
  }

  test("calibratedRhpBits re-counts when the dir contents change") {
    val dir = tempDir("graft-bits").toString
    def write(n: Int): Unit = {
      import spark.implicits._
      (0 until n).map(_.toLong).toDF("vec_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    write(100)
    assert(Similarity.calibratedRhpBits(spark, dir) === Similarity.RhpBits)
    write(100000) // regenerated in place: listing changes, memo must miss
    assert(Similarity.calibratedRhpBits(spark, dir) ===
      Similarity.scaledRhpBits(100000L))
  }
}
