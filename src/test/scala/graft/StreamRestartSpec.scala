package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.StreamOps

/** Checkpoint + mid-stream RESTART evidence for the streaming §2.F ops:
  * the FileStreamSpec covers ingestion and late-data semantics in one
  * query lifetime; this spec kills the query between micro-batches and
  * resumes from the checkpoint, asserting the two exactly-once contracts
  * a production restart depends on:
  *
  *  - source/sink exactly-once: files committed before the stop are
  *    neither reprocessed nor re-emitted after resume (file-source
  *    offsets + file-sink commit log, both in the checkpoint);
  *  - state restore: dedup state (s03) and open window aggregation state
  *    (s04) survive the restart — a duplicate arriving AFTER resume of a
  *    key seen BEFORE the stop is still dropped, and a window spanning
  *    the restart emits ONCE with the combined pre+post counts.
  */
class StreamRestartSpec extends SparkSpecBase {

  private def publish(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    Files.move(tmp, Paths.get(dir, name))
  }

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  test("s03 streaming dedup: restart restores dedup state and never re-emits") {
    val in = tmp("graft-restart-in"); val chk = tmp("graft-restart-chk")
    val out = tmp("graft-restart-out")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    def start() = spark.readStream.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("maxFilesPerTrigger", 1)
      .json(in)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "ts")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()

    // Batch 0: events A, B, plus an in-batch duplicate of A (redelivery
    // with a new event_id — the at-least-once shape s03 cleans up).
    publish(in, "b0.json", Seq(
      """{"event_id":1,"user_id":7,"event_type":"view","ts":"2024-06-01 00:10:00"}""",
      """{"event_id":2,"user_id":8,"event_type":"click","ts":"2024-06-01 00:12:00"}""",
      """{"event_id":91,"user_id":7,"event_type":"view","ts":"2024-06-01 00:10:00"}"""))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // Mid-stream restart. Batch 1 carries a duplicate of B — a key fully
    // processed BEFORE the stop — plus a genuinely new event C. Only
    // restored state can drop the B copy.
    publish(in, "b1.json", Seq(
      """{"event_id":92,"user_id":8,"event_type":"click","ts":"2024-06-01 00:12:00"}""",
      """{"event_id":3,"user_id":9,"event_type":"view","ts":"2024-06-01 00:20:00"}"""))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val rows = spark.read.schema(schema).parquet(out).collect()
    assert(rows.length == 3, s"expected exactly A,B,C once each, got ${rows.toSeq}")
    val ids = rows.map(_.getAs[Long]("event_id")).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L),
      s"survivors must be the first delivery of each key: $ids")
  }

  test("s03 restart semantics hold on the RocksDB state store (the 100 TB backend)") {
    // The default HDFS-backed state store keeps all state on the heap —
    // fine for tests, not for a corpus-scale dedup horizon. RocksDB is
    // the backend a large deployment runs; the exactly-once + restore
    // contract must be provider-independent. Fresh checkpoint (provider
    // is fixed at first start), provider conf restored afterwards.
    val in = tmp("graft-rocks-in"); val chk = tmp("graft-rocks-chk")
    val out = tmp("graft-rocks-out")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def start() = spark.readStream.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .option("maxFilesPerTrigger", 1)
        .json(in)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "ts")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      publish(in, "b0.json", Seq(
        """{"event_id":1,"user_id":7,"event_type":"view","ts":"2024-06-01 00:10:00"}""",
        """{"event_id":91,"user_id":7,"event_type":"view","ts":"2024-06-01 00:10:00"}"""))
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      publish(in, "b1.json", Seq(
        """{"event_id":92,"user_id":7,"event_type":"view","ts":"2024-06-01 00:10:00"}""",
        """{"event_id":2,"user_id":9,"event_type":"view","ts":"2024-06-01 00:20:00"}"""))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val ids = spark.read.schema(schema).parquet(out).collect()
        .map(_.getAs[Long]("event_id")).sorted.toSeq
      assert(ids == Seq(1L, 2L),
        s"RocksDB-backed dedup state must survive the restart: $ids")
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("s02 streaming sessionize: flatMapGroupsWithState state survives the restart") {
    // The hardest restart case: CUSTOM GroupState. A session left open at
    // the stop must resume from the restored state — the post-restart
    // event lands within the gap and must extend the SAME session (same
    // sess_no, combined count/sum), and the later event must close it.
    val in = tmp("graft-restart2-in"); val chk = tmp("graft-restart2-chk")
    val out = tmp("graft-restart2-out")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    import spark.implicits._
    def start() = {
      val stream = spark.readStream.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .option("maxFilesPerTrigger", 1)
        .json(in)
        .as[graft.streaming.SessEvent]
      StreamOps.sessionizeStream(stream)
        .toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
    }
    val T0 = 1717200000000000L // 2024-06-01 00:00:00 UTC in micros
    def ev(id: Long, offMin: Long, v: Double): String = {
      val us = T0 + offMin * 60000000L
      val mins = offMin % 60; val hrs = offMin / 60
      f"""{"user_id":7,"event_id":$id,"ts_us":$us,"value":$v,"ts":"2024-06-01 $hrs%02d:$mins%02d:00"}"""
    }
    // Session 1 opens with two events 10 min apart, then the query stops
    // with the session still open (gap is 30 min).
    publish(in, "b0.json", Seq(ev(1, 0, 1.0), ev(2, 10, 2.0)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // After restart: +30 min extends session 1 (within gap of the
    // restored lastUs); +150 min is past the gap, closing session 1 and
    // opening session 2; two far events close the chain behind them.
    // Each file is processed in its own micro-batch IN ORDER (publish
    // while running + processAllAvailable between — same-mtime files
    // published up front can be listed out of order, and a later file
    // advancing the watermark first would drop the earlier one as late).
    val q2 = start()
    try {
      publish(in, "b1.json", Seq(ev(3, 30, 4.0)))
      q2.processAllAvailable()
      publish(in, "b2.json", Seq(ev(4, 150, 8.0)))
      q2.processAllAvailable()
      publish(in, "b3.json", Seq(ev(5, 600, 0.0)))
      q2.processAllAvailable()
      publish(in, "b4.json", Seq(ev(6, 1200, 0.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    val sess = spark.read.parquet(out)
      .filter(col("user_id") === 7L).collect()
      .map(r => r.getAs[Long]("sess_no") ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
    // Session 1 = events 1,2 (pre-restart) + 3 (post-restart): only the
    // restored state can produce n_events=3 / sum=7.0 in one session.
    assert(sess.get(1L).contains((3L, 7.0)), s"restored session wrong: $sess")
    assert(sess.get(2L).contains((1L, 8.0)), s"follow-on session wrong: $sess")
    assert(sess.get(3L).contains((1L, 0.0)), s"chain-close wrong: $sess")
  }

  test("s04 streaming enrich: a window open across the restart emits once, fully counted") {
    val in = tmp("graft-restart4-in"); val chk = tmp("graft-restart4-chk")
    val out = tmp("graft-restart4-out")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("ts", TimestampType)))
    import spark.implicits._
    val profile = Seq((7L, "BUILDING")).toDF("user_id", "segment")
    def start() = {
      val stream = spark.readStream.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .option("maxFilesPerTrigger", 1)
        .json(in)
      StreamOps.enrichAggStream(stream, profile)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
    }

    // Pre-restart: two events in the [00:00, 01:00) window — one matched
    // by the profile dim, one dim-miss. Watermark (0s delay) reaches
    // 00:20, so the window is still OPEN when the query stops.
    publish(in, "b0.json", Seq(
      """{"user_id":7,"event_type":"view","value":1.0,"ts":"2024-06-01 00:10:00"}""",
      """{"user_id":999,"event_type":"view","value":5.0,"ts":"2024-06-01 00:20:00"}"""))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // Post-restart: a third on-time event lands in the SAME window (the
    // restored aggregation state must absorb it), then two flush files
    // push the watermark past the window end and force the append-mode
    // emission (watermark advances off the PREVIOUS batch's max).
    publish(in, "b1.json", Seq(
      """{"user_id":7,"event_type":"view","value":2.0,"ts":"2024-06-01 00:30:00"}"""))
    publish(in, "b2.json", Seq(
      """{"user_id":7,"event_type":"flush","value":0.0,"ts":"2024-06-01 06:00:00"}"""))
    publish(in, "b3.json", Seq(
      """{"user_id":7,"event_type":"flush","value":0.0,"ts":"2024-06-01 06:00:01"}"""))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val t = spark.read.parquet(out).filter(col("event_type") === "view")
    val bySeg = t.collect().map(r =>
      r.getAs[String]("segment") -> (r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toMap
    assert(t.count() == 2, s"one emission per segment, got ${t.collect().toSeq}")
    // BUILDING: one pre-restart + one post-restart event — combined count
    // proves the open-window state crossed the checkpoint boundary.
    assert(bySeg("BUILDING") == ((2L, 3.0)), s"$bySeg")
    assert(bySeg("UNKNOWN") == ((1L, 5.0)), s"$bySeg")
  }

  test("s07 stream-stream join: a pair straddling the restart emits from restored state") {
    // The hardest restart case for the JOIN operator: one side buffered
    // BEFORE the stop, its match arriving AFTER resume. The view must
    // come from the restored join state (its source file is committed in
    // the checkpoint and never reprocessed), the in-window purchase must
    // join it exactly once, and an out-of-window purchase must not.
    val inV = tmp("graft-restart7-v"); val inP = tmp("graft-restart7-p")
    val chk = tmp("graft-restart7-chk"); val out = tmp("graft-restart7-out")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    val HourUs = 3600000000L
    def start() = {
      def side(dir: String, idAs: String, tsAs: String, uAs: String) =
        spark.readStream.schema(schema)
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
          .option("maxFilesPerTrigger", 1).json(dir)
          .select(col("user_id").as(uAs), col("event_id").as(idAs),
            col("ts").as(tsAs))
          .withWatermark(tsAs, "0 seconds")
      val views = side(inV, "view_id", "v_ts", "user_id")
      val purch = side(inP, "purchase_id", "p_ts", "u2")
      views.join(purch,
          expr(s"u2 = user_id AND p_ts >= v_ts AND " +
            s"p_ts <= v_ts + INTERVAL $HourUs MICROSECOND"), "inner")
        .select(col("view_id"), col("purchase_id"), col("user_id"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
    }
    // Pre-restart: the view arrives, no purchase exists — nothing emits,
    // the view sits in the join state when the query stops.
    publish(inV, "v0.json",
      Seq("""{"event_id":1,"user_id":7,"ts":"2024-06-01 00:10:00"}"""))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // Post-restart: an in-window purchase (00:40 <= 00:10 + 1h) must join
    // the RESTORED view; a later out-of-window one (02:30) must not.
    val q2 = start()
    try {
      publish(inP, "p0.json",
        Seq("""{"event_id":11,"user_id":7,"ts":"2024-06-01 00:40:00"}"""))
      q2.processAllAvailable()
      publish(inP, "p1.json",
        Seq("""{"event_id":12,"user_id":7,"ts":"2024-06-01 02:30:00"}"""))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("purchase_id"))).toSeq
    assert(got == Seq((1L, 11L)),
      s"expected exactly the straddling pair from restored state, got $got")
  }
}
