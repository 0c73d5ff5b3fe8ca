package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.EventOps
import graft.streaming.{SessEvent, StreamOps}

/** Batch/stream parity: the same transforms produce the same results when
  * driven through MemoryStream micro-batches (SURVEY §6). */
class StreamingParitySpec extends SparkSpecBase {
  import spark.implicits._

  private val Hour = 3600L * 1000000L // µs

  /** Deterministic little event log: 3 users, gaps around the 30-min
    * session threshold, spanning 3 hourly windows. */
  private def events: Seq[(Long, Long, Long, Double, String)] = {
    val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime * 1000L
    Seq(
      (1L, 1L, base + 60L * 1000000L, 1.5, "view"),
      (1L, 2L, base + 120L * 1000000L, 2.0, "view"),
      (1L, 3L, base + 2000L * 1000000L, 3.25, "purchase"), // > 30min gap: new session
      (2L, 4L, base + 30L * 1000000L, 4.0, "view"),
      (2L, 5L, base + Hour + 10L * 1000000L, 5.5, "purchase"),
      (3L, 6L, base + 2 * Hour + 5L * 1000000L, 6.0, "view"))
  }

  private def toSessEvent(t: (Long, Long, Long, Double, String)): SessEvent =
    SessEvent(t._1, t._2, t._3, t._4, new Timestamp(t._3 / 1000L))

  test("s01 window agg: streaming append output equals batch on-time windows") {
    val batchDf = events.map(e => (new Timestamp(e._3 / 1000L), e._5, e._4))
      .toDF("ts", "event_type", "value")
    val expected = EventOps.windowAgg(batchDf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = StreamOps.windowAggStream(stream.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("s01_par").outputMode("append").start()
    try {
      stream.addData(events.map(e => (new Timestamp(e._3 / 1000L), e._5, e._4)))
      q.processAllAvailable()
      // advance the watermark past every real window, twice (watermark is
      // computed from the PREVIOUS batch's max event time)
      val flush = new Timestamp(Timestamp.valueOf("2024-06-02 00:00:00").getTime)
      stream.addData(Seq((flush, "flush", 0.0)))
      q.processAllAvailable()
      stream.addData(Seq((new Timestamp(flush.getTime + 1000), "flush", 0.0)))
      q.processAllAvailable()
      val got = spark.table("s01_par")
        .filter(col("event_type") =!= "flush").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("s04 enrichment: streaming stream-static join equals batch; dim miss -> UNKNOWN") {
    val profile = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("user_id", "segment") // user 3 has no profile row
    val batchDf = events.map(e => (e._1, new Timestamp(e._3 / 1000L), e._5, e._4))
      .toDF("user_id", "ts", "event_type", "value")
    val expected = EventOps.enrichAgg(batchDf, profile).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(expected.exists(_._2 == "UNKNOWN"), "fixture must exercise the dim-miss path")

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp, String, Double)]
    val q = StreamOps.enrichAggStream(
        stream.toDF.toDF("user_id", "ts", "event_type", "value"), profile)
      .writeStream.format("memory").queryName("s04_par").outputMode("append").start()
    try {
      stream.addData(events.map(e => (e._1, new Timestamp(e._3 / 1000L), e._5, e._4)))
      q.processAllAvailable()
      val flush = new Timestamp(Timestamp.valueOf("2024-06-02 00:00:00").getTime)
      stream.addData(Seq((1L, flush, "flush", 0.0)))
      q.processAllAvailable()
      stream.addData(Seq((1L, new Timestamp(flush.getTime + 1000), "flush", 0.0)))
      q.processAllAvailable()
      val got = spark.table("s04_par")
        .filter(col("event_type") =!= "flush").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("s01 window agg: data later than the watermark is dropped (streaming contract)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = StreamOps.windowAggStream(stream.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("s01_late").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-06-01 00:10:00")
      stream.addData(Seq((t0, "view", 1.0)))
      q.processAllAvailable()
      // advance watermark far past t0's window
      stream.addData(Seq((Timestamp.valueOf("2024-06-01 06:00:00"), "flush", 0.0)))
      q.processAllAvailable()
      stream.addData(Seq((Timestamp.valueOf("2024-06-01 06:00:01"), "flush", 0.0)))
      q.processAllAvailable()
      // this event's window closed hours ago -> must be silently dropped
      stream.addData(Seq((Timestamp.valueOf("2024-06-01 00:20:00"), "late", 9.0)))
      q.processAllAvailable()
      stream.addData(Seq((Timestamp.valueOf("2024-06-01 06:00:02"), "flush", 0.0)))
      q.processAllAvailable()
      assert(spark.table("s01_late").filter(col("event_type") === "late").count() == 0)
      assert(spark.table("s01_late").filter(col("event_type") === "view").count() == 1)
    } finally q.stop()
  }

  test("stream-static join: streaming events enrich against a static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val stream = MemoryStream[(Long, Double)]
    val q = stream.toDF.toDF("user_id", "value")
      .join(broadcast(dim), Seq("user_id"), "left")
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      stream.addData(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
      q.processAllAvailable()
      val got = spark.table("ssj").collect()
        .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      assert(got == Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
    } finally q.stop()
  }

  test("s02 sessionize: flatMapGroupsWithState equals the batch two-window form") {
    val batchDf = events.map(e => (e._1, e._2, e._3, e._4))
      .toDF("user_id", "event_id", "ts_us", "value")
    val expected = EventOps.sessionize(batchDf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sess_no"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_us"), r.getAs[Long]("end_us")))
      .toSet

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[SessEvent]
    val q = StreamOps.sessionizeStream(stream.toDS())
      .writeStream.format("memory").queryName("s02_par").outputMode("append").start()
    try {
      stream.addData(events.map(toSessEvent))
      q.processAllAvailable()
      // two sentinel batches on a throwaway user advance the watermark so
      // event-time timeouts flush every open session
      val far = Timestamp.valueOf("2024-06-03 00:00:00").getTime * 1000L
      stream.addData(Seq(SessEvent(999L, 900L, far, 0.0, new Timestamp(far / 1000L))))
      q.processAllAvailable()
      stream.addData(Seq(SessEvent(999L, 901L, far + 1000000L, 0.0,
        new Timestamp(far / 1000L + 1000L))))
      q.processAllAvailable()
      val got = spark.table("s02_par").filter(col("user_id") =!= 999L).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sess_no"),
          r.getAs[Long]("n_events"), r.getAs[Long]("start_us"), r.getAs[Long]("end_us")))
        .toSet
      assert(got == expected)
      // sums match EXACTLY: the streaming state accumulates scaled cents
      // (the same double→DECIMAL(18,2) HALF_UP rounding as batch dsum),
      // so session sums are bit-equal regardless of arrival order
      val sums = spark.table("s02_par").filter(col("user_id") =!= 999L)
        .select(sum("sum_value")).collect()(0).getDouble(0)
      val expSum = EventOps.sessionize(batchDf)
        .select(sum("sum_value")).collect()(0).getDouble(0)
      assert(sums == expSum)
    } finally q.stop()
  }

  private def sessKey(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sess_no"),
      r.getAs[Long]("n_events"), r.getAs[Long]("start_us"),
      r.getAs[Long]("end_us"), r.getAs[Double]("sum_value"))).toSet

  test("s06 gated drain equals batch s02 on the real sf0.001 corpus, sums bit-exact") {
    val expected = sessKey(EventOps.s02Sessionize(spark, sf001))
    val got = sessKey(StreamOps.s06StreamSessionize(spark, sf001))
    assert(got == expected,
      s"stream-drained sessions must equal batch s02: " +
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(got.nonEmpty)
  }

  test("s07 stream-stream join drain equals the batch inequality join on sf0.001") {
    val wUs = StreamOps.s07JoinWindowUs(spark, sf001)
    assert(wUs > 0)
    val ev = Tables.eventsWithTs(spark, sf001)
      .select(col("user_id"), col("event_id"), expr("ts_ns DIV 1000").as("us"),
        col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("us").as("v_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("event_id").as("purchase_id"),
        col("us").as("p_us"))
    val expected = v.join(p,
        expr(s"u2 = user_id AND p_us >= v_us AND p_us <= v_us + $wUs"), "inner")
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        (col("p_us") - col("v_us")).as("lag_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty, "fixture corpus must produce join matches")
    val got = StreamOps.s07StreamJoin(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"drained stream-stream join must equal batch: missing=${(expected -- got).size} " +
        s"extra=${(got -- expected).size}")
  }

  test("s06 layout-proofing: a multi-part events DIRECTORY arrives as one batch") {
    // Adversarial layout: events.parquet as a directory of two parts with
    // the LATE half carrying the OLDER mtime. If the corpus were split
    // across micro-batches (the old one-file-per-trigger assumption), the
    // late half would advance the watermark first and the 0-second
    // watermark would drop the entire early half as late data. The
    // trigger budget sized to the part count keeps the whole corpus in
    // micro-batch 0 for any layout.
    import java.nio.file.Files
    val raw = spark.read.parquet(s"$sf001/events.parquet")
    val norm = Tables.normalizeEventTs(raw)
    val med = norm.selectExpr("approx_percentile(ts_ns, 0.5)").head().getLong(0)
    val origCols = raw.columns.map(col).toSeq
    val tmp = tempDir("graft_s06_mp_")
    val evDir = tmp.resolve("events.parquet")
    Files.createDirectory(evDir)
    val now = System.currentTimeMillis()
    Seq((norm.filter(col("ts_ns") >= med).select(origCols: _*), 0), // late half, older mtime
        (norm.filter(col("ts_ns") < med).select(origCols: _*), 1))
      .foreach { case (half, i) =>
        val w = tempDir("graft_s06_mp_w_")
        half.coalesce(1).write.mode("overwrite").parquet(w.toString)
        import scala.jdk.CollectionConverters._
        val part = Files.list(w).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val dst = evDir.resolve(s"part-$i.parquet")
        Files.move(part, dst)
        dst.toFile.setLastModified(now + 30000L * i)
      }
    val expected = sessKey(EventOps.s02Sessionize(spark, tmp.toString))
    val got = sessKey(StreamOps.s06StreamSessionize(spark, tmp.toString))
    assert(got == expected,
      s"multi-part drain must equal batch: missing=${(expected -- got).size} " +
        s"extra=${(got -- expected).size}")
    assert(got.nonEmpty)
  }

  test("s03 dedup: streaming dropDuplicatesWithinWatermark yields the batch key set") {
    // at-least-once delivery: events 2/4 arrive twice (new event_id, same
    // (user, type, ts) identity), split across micro-batches within the
    // watermark horizon.
    val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime * 1000L
    val evs = Seq(
      (1L, 1L, "view", base + 1000000L),
      (2L, 1L, "view", base + 2000000L),
      (3L, 2L, "purchase", base + 2000000L),
      (4L, 2L, "view", base + 3000000L))
    val dups = Seq((12L, 1L, "view", base + 2000000L),
      (14L, 2L, "view", base + 3000000L))

    val batchDf = (evs ++ dups).map { case (id, u, t, us) => (id, u, t, us) }
      .toDF("event_id", "user_id", "event_type", "ts_us")
    val expected = EventOps.dedupEvents(batchDf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(expected.size == 4, "duplicates must collapse in batch")

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, String, Timestamp)]
    val q = stream.toDF.toDF("event_id", "user_id", "event_type", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "ts")
      .writeStream.format("memory").queryName("s03_par").outputMode("append").start()
    try {
      def ts(us: Long) = new Timestamp(us / 1000L)
      stream.addData(evs.map { case (id, u, t, us) => (id, u, t, ts(us)) })
      q.processAllAvailable()
      // the re-deliveries arrive a micro-batch later, still in state horizon
      stream.addData(dups.map { case (id, u, t, us) => (id, u, t, ts(us)) })
      q.processAllAvailable()
      val got = spark.table("s03_par").collect()
        .map(r => (r.getLong(1), r.getString(2),
          r.getTimestamp(3).getTime * 1000L)).toSet
      assert(got == expected, "surviving (user, type, ts) keys must match batch")
      assert(spark.table("s03_par").count() == 4, "each key emitted exactly once")
    } finally q.stop()
  }
}
