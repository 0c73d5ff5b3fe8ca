package graft

import graft.operators.{Curation, Incremental}

/** The reliable-checkpoint switch: with `spark.graft.reliableCheckpointDir`
  * set, every merge lineage cut becomes a reliable `checkpoint()` (files
  * land under the dir, survive executor loss); without it, cuts are
  * executor-local. The merge RESULT must be frame-equal either way. */
class CheckpointModeSpec extends SparkSpecBase {

  private def withReliable[A](f: => A): (A, java.io.File) = {
    val dir = tempDir("graft-relck").toFile
    spark.conf.set(Checkpoints.ReliableDirKey, dir.getAbsolutePath)
    try (f, dir)
    finally spark.conf.unset(Checkpoints.ReliableDirKey)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("group-state merge is frame-equal in local and reliable checkpoint modes") {
    val st = tempDir("graft-ck-groups").toString
    Incremental.writeGroupState(spark, sf001, st)
    val local = rowsOf(Incremental.mergeFromState(spark, sf001, st))
    val (reliable, dir) = withReliable {
      rowsOf(Incremental.mergeFromState(spark, sf001, st))
    }
    assert(reliable == local && local.nonEmpty)
    def fileCount(d: java.io.File): Int = {
      val kids = Option(d.listFiles()).toSeq.flatten
      kids.count(_.isFile) + kids.filter(_.isDirectory).map(fileCount).sum
    }
    assert(fileCount(dir) > 0,
      "reliable mode must actually write checkpoint files under the dir")
  }

  test("cut's idempotent branch repairs a bare localCheckpoint's carried stats") {
    // A frame checkpointed OUTSIDE Checkpoints.cut keeps its origin
    // plan's ESTIMATED sizeInBytes (LogicalRDD.fromDataset originStats).
    // Handing it to cut() must not return it unrepaired: the early
    // (already-a-leaf) branch applies withMeasuredStats too (round 20).
    import org.apache.spark.sql.functions._
    val base = spark.range(1000).select(col("id").as("id_a"),
      (col("id") + 1).as("id_b"))
    // A join inflates the size estimate well past the measured bytes.
    val joined = base.join(base.toDF("id_b", "id_c"), "id_b")
      .join(base.toDF("id_c", "id_d"), "id_c")
    val bare = joined.localCheckpoint() // NOT via cut — carries estimates
    val carried = bare.queryExecution.optimizedPlan.stats.sizeInBytes
    val repaired = Checkpoints.cut(bare)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(repaired < carried,
      s"cut must shrink the carried estimate ($carried -> $repaired)")
    assert(repaired.toString.length <= 12,
      s"measured leaf size must be byte-scale, got $repaired")
    assert(Checkpoints.cut(bare).collect().length == bare.count())
  }

  test("curation merge is frame-equal in local and reliable checkpoint modes") {
    val st = tempDir("graft-ck-cur").toString
    Curation.writeCurationState(spark, sf001, st)
    val local = rowsOf(Curation.mergeCurationFromState(spark, sf001, st))
    val (reliable, _) = withReliable {
      rowsOf(Curation.mergeCurationFromState(spark, sf001, st))
    }
    assert(reliable == local && local.nonEmpty)
  }
}
