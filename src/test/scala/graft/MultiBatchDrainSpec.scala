package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** s08's multi-micro-batch drain: the corpus is time-sliced across ≥3
  * real micro-batches, sessions straddle EVERY slice cut by
  * construction (session-aware cut placement), and the emitted set
  * still equals batch s02 — cross-batch flatMapGroupsWithState state
  * and inter-batch watermark advancement proven on real data, not a
  * synthetic frame. */
class MultiBatchDrainSpec extends SparkSpecBase {

  test("s08 drain: >=5 micro-batches, straddling sessions at every cut, equals batch s02") {
    val out = StreamOps.s08StreamSessionizeMB(spark, sf001)
      .orderBy("user_id", "sess_no").collect()
    // Batch-count expectation derives from the ACTUAL deduped cut list
    // (cuts may dedupe below timeSplits-1 on a regenerated corpus):
    // cuts+1 data batches + 2 sentinel batches. A multi-batch gate still
    // needs at least one real cut.
    val drain = StreamOps.lastDrain("s08_stream_multibatch")
    val cuts = drain.cutsUs
    assert(cuts.nonEmpty, "expected >=1 event-time cut — corpus too degenerate to time-slice")
    assert(drain.batches >= cuts.size + 3L,
      s"expected >=${cuts.size + 3} batches (${cuts.size}+1 data + 2 sentinel), " +
        s"got ${drain.batches}")
    // Independent straddle check from the emitted sessions themselves:
    // each cut must fall strictly inside at least one session's
    // [start_us, end_us] span — i.e. that session's state crossed the
    // micro-batch boundary.
    cuts.foreach { c =>
      assert(out.exists(r => r.getAs[Long]("start_us") <= c &&
          r.getAs[Long]("end_us") > c),
        s"no session straddles cut $c — cross-batch state unexercised")
    }
    val batch = Queries.production("s02_sessionize")(spark, sf001)
      .select("user_id", "sess_no", "n_events", "start_us", "end_us", "sum_value")
      .orderBy("user_id", "sess_no").collect()
    assert(out.toSeq == batch.toSeq,
      "multi-batch streaming sessionization must equal batch s02 exactly")
  }

  test("s09 drain: >=5 micro-batches, windows straddle a cut, equals batch s01") {
    val out = StreamOps.s09StreamWindowAgg(spark, sf001)
      .select("win_start", "event_type", "n", "sum_value")
      .orderBy("win_start", "event_type").collect()
    val drain = StreamOps.lastDrain("s09_stream_window")
    val cuts = drain.cutsUs
    assert(cuts.nonEmpty, "expected >=1 event-time cut — corpus too degenerate to time-slice")
    assert(drain.batches >= cuts.size + 3L,
      s"expected >=${cuts.size + 3} batches (${cuts.size}+1 data + 2 sentinel), " +
        s"got ${drain.batches}")
    // Independent straddle check from the raw events: at least one cut
    // must fall strictly inside a populated 1-hour window — events in
    // the SAME window land on BOTH sides of the micro-batch boundary,
    // so that window's (count, sum) aggregation state crossed it.
    // Since r14 the cut chooser PREFERS within-gap pairs sharing an hour
    // window, so this holds by construction whenever the corpus has any
    // same-user event pair within both the session gap and one hour
    // window. A red here after a testdata regeneration means the corpus
    // lost that property entirely (re-check the data before the code).
    val us = Tables.eventsWithTs(spark, sf001)
      .select(expr("ts_ns DIV 1000").as("us")).collect().map(_.getLong(0))
    val hourUs = 3600L * 1000000L
    assert(cuts.exists { c =>
      val w0 = (c / hourUs) * hourUs
      us.exists(t => t >= w0 && t <= c) && us.exists(t => t > c && t < w0 + hourUs)
    }, s"no 1-hour window straddles any cut of $cuts — cross-batch agg state unexercised")
    val batch = Queries.production("s01_window_agg")(spark, sf001)
      .select("win_start", "event_type", "n", "sum_value")
      .orderBy("win_start", "event_type").collect()
    assert(out.toSeq == batch.toSeq,
      "multi-batch streaming window aggregation must equal batch s01 exactly")
  }
}
