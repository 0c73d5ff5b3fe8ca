package graft

import org.apache.spark.sql.functions._
import graft.operators.Incremental
import graft.sources.StateDir
import graft.streaming.StreamOps

/** s10: takedowns arriving on a CDC stream. The oracle gate hash-proves
  * per-micro-batch deletes compose to the one-shot takedown on every
  * run; this spec pins the streaming-specific contracts — idempotent
  * re-apply (the at-least-once foreachBatch hazard), checkpoint-restart
  * exactly-once across a mid-stream kill, and fresh-checkpoint replay
  * leaving the state fixed. */
class StreamTakedownSpec extends SparkSpecBase {
  import spark.implicits._

  private def labelsAt(root: String, v: Int): Map[Long, Long] =
    spark.read.parquet(s"$root/v$v/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("deleteGroupStateStep is idempotent: re-deleting absent ids is a no-op") {
    val labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L).toDF("id", "lbl")
    val pairs = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("id_a", "id_b", "lbl")
    val del = Seq(1L).toDF("id")
    val (l1, p1) = Incremental.deleteGroupStateStep(spark, labels, pairs, del)
    val (l2, p2) = Incremental.deleteGroupStateStep(spark, l1, p1, del)
    def lm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def pm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "lbl").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lm(l1) == Map(2L -> 2L, 3L -> 2L, 10L -> 10L))
    assert(pm(p1) == Set((2L, 3L, 2L)), "surviving pair re-keyed to the new label")
    assert(lm(l2) == lm(l1) && pm(p2) == pm(p1))
  }

  test("drain restart: checkpoint resumes mid-op-log, each op applied exactly once") {
    val d = sf001
    val root = tempDir("graft-s10-restart").toString
    Incremental.writeDeleteGroupState(spark, d, s"$root/v0")
    // Publish only the FIRST op file; drain to completion; stop.
    StreamOps.publishTakedownOps(spark, d, s"$root/ops", Seq(3L))
    StreamOps.takedownDrain(spark, root, s"$root/ops", s"$root/ckpt")
    assert(StateDir.latest(root) == 1, "first run must publish exactly one new version")
    val afterFirst = labelsAt(root, 1)
    // Publish the remaining two; RESTART from the same checkpoint. The
    // file-source offsets must skip b00 (no replay → exactly two new
    // versions), and the final state must equal the one-shot takedown.
    StreamOps.publishTakedownOps(spark, d, s"$root/ops2", Seq(13L, 23L))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    Seq("b00.parquet" -> "b01.parquet", "b01.parquet" -> "b02.parquet").foreach {
      case (from, to) => fs.rename(
        new org.apache.hadoop.fs.Path(s"$root/ops2/$from"),
        new org.apache.hadoop.fs.Path(s"$root/ops/$to"))
    }
    StreamOps.takedownDrain(spark, root, s"$root/ops", s"$root/ckpt")
    assert(StateDir.latest(root) == 3,
      "restart must process exactly the two new files (no b00 replay)")
    assert(labelsAt(root, 1) == afterFirst, "v1 untouched by the restart")
    val oneShot = Incremental.deleteGroupsFromState(spark, s"$root/v0",
      Tables.documents(spark, d)
        .filter(col("doc_id") % Incremental.DeleteMod === Incremental.DeleteRes)
        .select(col("doc_id").as("id")))
      .select("doc_id", "canonical_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsAt(root, 3) == oneShot)
  }

  test("fresh-checkpoint replay of an already-applied op-log leaves the state fixed") {
    val d = sf001
    val root = tempDir("graft-s10-replay").toString
    Incremental.writeDeleteGroupState(spark, d, s"$root/v0")
    StreamOps.publishTakedownOps(spark, d, s"$root/ops", Seq(3L, 13L, 23L))
    StreamOps.takedownDrain(spark, root, s"$root/ops", s"$root/ckpt1")
    val settled = labelsAt(root, StateDir.latest(root))
    // A fresh checkpoint replays every file — the worst-case recovery
    // posture. Deletes are idempotent, so the re-published versions are
    // value-identical.
    StreamOps.takedownDrain(spark, root, s"$root/ops", s"$root/ckpt2")
    assert(labelsAt(root, StateDir.latest(root)) == settled)
  }

  test("a killed drain's leftover .v{n}.staging is invisible, and the next drain replaces it with v{n}") {
    val d = sf001
    val root = tempDir("graft-s10-staging").toString
    Incremental.writeDeleteGroupState(spark, d, s"$root/v0")
    // What a drain killed mid-publish leaves: half of v1, in staging.
    Seq(1L -> 1L).toDF("id", "lbl").write.parquet(s"$root/.v1.staging/labels")
    assert(StateDir.latest(root) == 0, "a staging dir is not a version")
    StreamOps.publishTakedownOps(spark, d, s"$root/ops", Seq(3L))
    StreamOps.takedownDrain(spark, root, s"$root/ops", s"$root/ckpt")
    assert(StateDir.latest(root) == 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/.v1.staging")))
    val Seq(labels, pairs) = StateDir.read(spark, s"$root/v0", "labels", "pairs")
    val (nl, np) = Incremental.deleteGroupStateStep(spark, labels, pairs,
      Tables.documents(spark, d).filter(col("doc_id") % 30 === 3)
        .select(col("doc_id").as("id")))
    assert(labelsAt(root, 1) ==
      nl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(spark.read.parquet(s"$root/v1/pairs").count() == np.count())
  }
}
