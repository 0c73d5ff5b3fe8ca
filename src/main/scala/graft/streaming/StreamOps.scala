package graft.streaming

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.EventOps
import graft.sources.{Sources, StateDir}

/** Event with both exact-µs long and the event-time timestamp column
  * Structured Streaming needs for watermarks. */
case class SessEvent(user_id: Long, event_id: Long, ts_us: Long,
                     value: Double, ts: java.sql.Timestamp)

/** Open-session state carried across micro-batches. The value sum is
  * held as EXACT scaled cents (value cast to 2-decimal, HALF_UP — the
  * same rounding Spark's double→DECIMAL(18,2) cast applies), so the
  * emitted session sum is bit-equal to the batch form's exact-decimal
  * aggregate regardless of arrival order — a float accumulator would be
  * order-dependent and break the hash gate. */
case class SessState(sessNo: Long, startUs: Long, lastUs: Long,
                     n: Long, sumCents: Long)

/** Emitted (closed) session. */
case class SessOut(user_id: Long, sess_no: Long, n_events: Long,
                   start_us: Long, end_us: Long, sum_value: Double)

/** One LSH band-bucket row of an arriving document: `bucket` encodes
  * (band, band-signature); `sh` carries the doc's shingle set for exact
  * verification against bucket peers. */
case class BandedDoc(doc_id: Long, bucket: String, sh: Seq[String])

/** Verified near-dup pair emitted by the streaming dedup. */
case class NearDupPair(id_a: Long, id_b: Long, jaccard: Double)

/** Structured Streaming variants of the §2.F operators. The transforms
  * are shared with batch ([[EventOps.windowAgg]]); sessionization uses
  * flatMapGroupsWithState with event-time timeout so open sessions flush
  * when the watermark passes last-event + gap. Batch/stream parity is
  * asserted in StreamingParitySpec.
  */
object StreamOps {

  /** Streaming tumbling-window agg: batch transform + watermark. Append
    * mode emits each window once, when the watermark passes its end. */
  def windowAggStream(events: DataFrame): DataFrame =
    EventOps.windowAgg(events.withWatermark("ts", "0 seconds"))

  /** Streaming stream-static enrichment + window agg: the batch transform
    * with a watermark; the static profile side re-broadcasts into each
    * micro-batch (a stream-static join can never shuffle the stream). */
  def enrichAggStream(events: DataFrame, profile: DataFrame): DataFrame =
    EventOps.enrichAgg(events.withWatermark("ts", "0 seconds"), profile)

  /** Streaming gap-sessionization over a watermarked [[SessEvent]] set. */
  def sessionizeStream(events: Dataset[SessEvent]): Dataset[SessOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionizeGroup)
  }

  /** s05 as a GATED catalog key: run [[nearDupStream]] over the
    * documents table via a bounded file-stream read, drain it to
    * completion, and return the emitted pair set (pair-deduped — a pair
    * fires once per shared band bucket). The result equals batch d03's
    * exactly, so the oracle is d03's SQL verbatim and the stream's END
    * STATE is hash-gated like every other catalog key; the cross-batch
    * and checkpoint-restart semantics stay spec-gated
    * (StreamNearDupSpec). The memory sink holds only verified pairs
    * (corpus-sparse); the blocking drain is the gate harness — a
    * production deployment keeps the query running. */
  def s05StreamNearDup(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // maxFilesPerTrigger=1 pins the micro-batch count to the source's
    // FILE count (1 data batch per file + the final empty batch), so the
    // drain cost is deterministic run to run — round 9 measured 6.18 vs
    // 9.68 s for the same code when batch scheduling was left to the
    // source's default chunking. The observed count is recorded in
    // [[lastS05MicroBatches]] for BENCH.md.
    val src = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .option("maxFilesPerTrigger", "1").parquet(d)
    val name = "s05_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = nearDupStream(src).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    lastS05MicroBatches.set(
      Option(q.lastProgress).map(_.batchId + 1).getOrElse(-1L))
    s.table(name).select(col("id_a"), col("id_b"), col("jaccard")).distinct()
  }

  /** Micro-batch count of the most recent [[s05StreamNearDup]] drain
    * (batchId of the last progress + 1). Deterministic given the source
    * file layout under maxFilesPerTrigger=1; Bench logs it so BENCH.md
    * can record the per-SF count alongside the timing. */
  val lastS05MicroBatches = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** STREAMING banded near-dup — d03's MinHash-LSH dedup as documents
    * ARRIVE: each doc's 4 band signatures key it into stateful buckets
    * (flatMapGroupsWithState); a new arrival exact-verifies (Jaccard >=
    * 0.5) against the docs already in its buckets and joins the state,
    * so every cross-batch and within-batch pair is emitted exactly when
    * its second member arrives. The emitted pair SET equals the batch
    * d03 over the same corpus (StreamNearDupSpec asserts it, including
    * across a checkpoint restart) — the streaming twin of d09's batch
    * ingest.
    *
    * Scale shape: state is per-BUCKET (band-signature occupancy, the
    * same key d03 shuffles on), so a bucket's state is the corpus's
    * band-collision fan-out, never the corpus, and per-bucket occupancy
    * is hard-bounded ([[NearDupBucketCap]] — a bucket that hot is a
    * degenerate band signature, the stop-shingle class); the state
    * store (RocksDB-able, as in StreamRestartSpec) holds shingle sets
    * for in-bucket verification — at 100 TB hold doc refs + minhash
    * sigs instead and verify against the shingle store, the same
    * candidate-then-verify split as d03/d09. Signatures here use the
    * portable lambda form ([[graft.functions.Text.minhashSig]]) — fine
    * per arriving row; the batch path's relational aggregate stays the
    * hot-path form. A pair sharing several buckets is emitted once per
    * bucket; pair identity dedup is the consumer's `distinct` (or a
    * downstream dropDuplicates watermark state at scale). */
  def nearDupStream(docs: DataFrame,
                    bucketCap: Int = NearDupBucketCap): Dataset[NearDupPair] = {
    val s = docs.sparkSession
    import s.implicits._
    bandedDocs(docs)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        nearDupGroup(bucketCap))
  }

  /** The band-bucket explosion shared by [[nearDupStream]] and the
    * occupancy probe — one row per (doc, band bucket), 4 buckets/doc.
    * Works identically on a streaming or batch `docs` frame. */
  private def bandedDocs(docs: DataFrame): Dataset[BandedDoc] = {
    val s = docs.sparkSession
    import s.implicits._
    val sh = docs
      .select(col("doc_id"), graft.functions.GraftShingles(s, col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val bucketCols = (0 until 4).map { b =>
      concat_ws(":", lit(b) +: (0 until 4).map(r =>
        element_at(col("sig"), b * 4 + r + 1)): _*)
    }
    // Native signature (round 20): Text.minhashSig puts the md5 digest
    // inside an interpreted higher-order lambda — the hot-path trap the
    // batch d03 avoids with its relational aggregate, which a streaming
    // per-row pipeline can't use. MinhashSig is bit-equal (spec) and
    // codegen'd.
    sh.withColumn("sig", graft.functions.MinhashSig(s, col("sh"), 16))
      .select(col("doc_id"), explode(array(bucketCols: _*)).as("bucket"), col("sh"))
      .as[BandedDoc]
  }

  /** Final per-bucket occupancy the s05 state store reaches after the
    * whole corpus has arrived — EXACTLY the stream's bucketing
    * ([[bandedDocs]] is shared), computed batch-side so the
    * [[NearDupBucketCap]] "never bites at gate SFs" claim can be
    * MEASURED at the SFs where it would matter (graft.StreamProbe runs
    * this at sf1/sf10; BENCH.md records the observed max). */
  def s05BucketOccupancy(docs: DataFrame): DataFrame =
    bandedDocs(docs).groupBy("bucket").agg(count(lit(1)).as("occupancy"))
      .agg(count(lit(1)).as("n_buckets"), max("occupancy").as("max_occupancy"),
        sum(when(col("occupancy") > lit(NearDupBucketCap.toLong), 1L)
          .otherwise(0L)).as("buckets_over_cap"))

  /** Hard bound on per-bucket state (docs retained per band-signature
    * bucket). A bucket this hot is a DEGENERATE band signature — the
    * streaming analog of d02's stop-shingles: each additional member
    * costs O(|bucket|) verifies per arrival and ~KBs of state forever,
    * while contributing ~no dedup signal of its own (its members still
    * meet in their other 3 band buckets). Beyond the cap, arrivals
    * still verify against the retained members (and emit any pairs)
    * but are not added as future partners. Far above any occupancy the
    * gate corpora produce (StreamNearDupSpec's d03 equality would fail
    * if it ever bit there), so s05's hash gate is unaffected. */
  val NearDupBucketCap = 4096

  /** Per-bucket transition: verify each arrival against bucket peers
    * (exact Jaccard, round-6 like d03), then add it to the state while
    * the bucket is under [[NearDupBucketCap]]. Docs are processed in
    * doc_id order within a batch, so within-batch pairs are
    * deterministic regardless of partition iteration order. State grows
    * without TTL by design — dedup is against ALL history; deployments
    * wanting bounded-history dedup set a timeout at the sink contract
    * instead of silently forgetting corpus here. */
  private def nearDupGroup(cap: Int)(bucket: String, it: Iterator[BandedDoc],
      state: GroupState[List[BandedDoc]]): Iterator[NearDupPair] = {
    var seen = state.getOption.getOrElse(Nil)
    var n = seen.size
    val out = Seq.newBuilder[NearDupPair]
    it.toSeq.sortBy(_.doc_id).foreach { d =>
      val a = d.sh.toSet
      seen.foreach { o =>
        val b = o.sh.toSet
        val inter = (a & b).size.toDouble
        val j = inter / (a.size + b.size - inter)
        val jr = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (jr >= 0.5)
          out += NearDupPair(math.min(d.doc_id, o.doc_id),
            math.max(d.doc_id, o.doc_id), jr)
      }
      if (n < cap) { seen = d :: seen; n += 1 }
    }
    state.update(seen)
    out.result().iterator
  }

  private val GapMs = EventOps.GapUs / 1000L

  /** value → exact cents, with the rounding Spark's double→DECIMAL(18,2)
    * cast applies (BigDecimal.valueOf = shortest-repr, HALF_UP). */
  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  private def emit(uid: Long, o: SessState): SessOut =
    SessOut(uid, o.sessNo, o.n, o.startUs, o.lastUs,
      java.math.BigDecimal.valueOf(o.sumCents, 2).doubleValue())

  /** Per-group state transition: extend the open session, or close it and
    * start the next; on watermark timeout, flush the final open session. */
  private def sessionizeGroup(uid: Long, it: Iterator[SessEvent],
      state: GroupState[SessState]): Iterator[SessOut] = {
    if (state.hasTimedOut) {
      val o = state.get
      state.remove()
      Iterator(emit(uid, o))
    } else {
      // Within a micro-batch the group iterator is unordered; sessions are
      // defined on event time, so sort (events must not straddle batches
      // out of order — the watermark guarantees that for on-time data).
      val evs = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val out = Seq.newBuilder[SessOut]
      var st = state.getOption
      evs.foreach { e =>
        st = st match {
          case None => Some(SessState(1L, e.ts_us, e.ts_us, 1L, cents(e.value)))
          case Some(o) if e.ts_us - o.lastUs <= EventOps.GapUs =>
            Some(o.copy(lastUs = e.ts_us, n = o.n + 1,
              sumCents = o.sumCents + cents(e.value)))
          case Some(o) =>
            out += emit(uid, o)
            Some(SessState(o.sessNo + 1, e.ts_us, e.ts_us, 1L, cents(e.value)))
        }
      }
      st.foreach { o =>
        state.update(o)
        state.setTimeoutTimestamp(o.lastUs / 1000L + GapMs)
      }
      out.result().iterator
    }
  }

  /** s06 as a GATED catalog key: [[sessionizeStream]] (flatMapGroups-
    * WithState, event-time timeout) driven over the events table by a
    * bounded file-stream read and drained to completion; the emitted
    * session set equals batch s02 exactly, so s02's oracle gates the
    * STREAMING sessionization path hash-exact every round (previously
    * only parity-spec'd on synthetic frames). The s05 harness pattern:
    * the blocking drain is the gate shape — production keeps the query
    * running.
    *
    * Drain mechanics: the source dir holds a symlink to the real
    * events.parquet plus two strictly-newer one-row sentinel files for a
    * throwaway user (user_id = −1) whose timestamps sit past
    * max(ts) + gap. With maxFilesPerTrigger=1 the corpus arrives as
    * micro-batch 0; the first sentinel batch advances the watermark to
    * the corpus max (flushing every session closed more than a gap
    * before the end), and the second advances it past every open
    * session's timeout — by the time the drain settles, ALL real
    * sessions have been emitted (watermarks are computed from the
    * PREVIOUS batch's max event time, hence two files, the same
    * two-step the parity spec uses). Sentinel rows are filtered from
    * the returned frame.
    *
    * Scale shape: state is one open session per user (O(keys), not
    * O(events)); the per-group in-batch sort is bounded by a user's
    * per-batch arrival volume. The gate corpus's 150-user key space
    * makes parallelism user-bounded here — a real event stream's key
    * space is orders of magnitude wider (and a hot user's arrival rate
    * within one micro-batch is the operator's real bound, the same
    * hazard s02's bucketed batch form defends against across a whole
    * history). */
  def s06StreamSessionize(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    sessionizeDrain(s, d, timeSplits = 1)

  /** s08: the s06 sessionization drain with the corpus split across
    * THREE event-time-ordered micro-batches (plus two sentinel batches)
    * — the multi-micro-batch gate the one-batch layouts cannot provide:
    * sessions straddling the slice cuts are carried in
    * flatMapGroupsWithState STATE across real micro-batch boundaries,
    * watermark advancement between data batches is exercised on real
    * data, and the emitted set still hash-gates against batch s02's
    * oracle verbatim. [[lastS08MicroBatches]] records the drain's batch
    * count (≥ 5) for BENCH.md. */
  def s08StreamSessionizeMB(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    sessionizeDrain(s, d, timeSplits = 3)

  /** Micro-batch count of the most recent [[s08StreamSessionizeMB]]
    * drain (batchId of the last progress + 1). */
  val lastS08MicroBatches = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Micro-batch count of the most recent [[s09StreamWindowAgg]] drain. */
  val lastS09MicroBatches = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** s09: the canonical WATERMARKED STREAMING AGGREGATION — s01's
    * tumbling-window count/exact-decimal-sum (the SHARED
    * [[EventOps.windowAgg]] transform, byte-identical plan fragment to
    * the batch key) drained in APPEND mode over three real
    * event-time-sliced micro-batches plus two sentinel batches.
    * Append + watermark is the always-on-metrics shape: a
    * (window, event_type) row is emitted EXACTLY ONCE, when the
    * watermark passes the window end, so a window straddling a slice
    * cut accumulates partial (count, sum) state across real micro-batch
    * boundaries and the gate — s01's batch oracle VERBATIM —
    * hash-proves that cross-batch aggregation-state path on real data.
    * The 0-second watermark is sound for the same reason as s08: slices
    * are event-time-ordered, so nothing ever arrives late. Sentinels
    * (event_type='sentinel', filtered from the emitted set) advance the
    * watermark past the last real window's end; their own same-hour
    * window never closes and is never emitted — irrelevant either way.
    *
    * Scale shape: aggregation state is O(open windows × event types) —
    * the watermark EVICTS every closed window from the state store, so
    * state is bounded by arrival disorder, not stream length; sums
    * accumulate in the same DECIMAL(18,2) the batch plan uses (bit-equal
    * results regardless of how events split across batches). */
  def s09StreamWindowAgg(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val maxUs = graft.Tables.eventsWithTs(s, d)
      .agg(max(expr("ts_ns DIV 1000"))).head().getLong(0)
    // First sentinel 90 min past the corpus max: strictly beyond the
    // last real 1-hour window's end, so the final watermark closes it.
    val t1 = maxUs + EventOps.GapUs + 3600000000L
    val src = eventsStreamSource(s, d, sentinelUs = Seq(t1, t1 + 60000000L),
      timeSplits = 3)
    val ev = graft.Tables.normalizeEventTs(src)
      .select(col("ts"), col("event_type"), col("value"))
    val name = "s09_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventOps.windowAgg(ev.withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    lastS09MicroBatches.set(
      Option(q.lastProgress).map(_.batchId + 1).getOrElse(-1L))
    s.table(name).filter(col("event_type") =!= "sentinel")
  }

  /** The event-time cut points (µs) of the most recent time-split
    * source build — exposed so specs can independently verify that
    * sessions straddle every micro-batch boundary. */
  val lastSplitCutsUs =
    new java.util.concurrent.atomic.AtomicReference[Seq[Long]](Seq.empty)

  private def sessionizeDrain(s: org.apache.spark.sql.SparkSession, d: String,
                              timeSplits: Int): DataFrame = {
    import s.implicits._
    val maxUs = graft.Tables.eventsWithTs(s, d)
      .agg(max(expr("ts_ns DIV 1000"))).head().getLong(0)
    val t1 = maxUs + EventOps.GapUs + 3600000000L
    val src = eventsStreamSource(s, d, sentinelUs = Seq(t1, t1 + 60000000L),
      timeSplits = timeSplits)
    val ev = graft.Tables.normalizeEventTs(src)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns DIV 1000").as("ts_us"), col("value"), col("ts"))
      .as[SessEvent]
    val name = s"s0${if (timeSplits > 1) 8 else 6}_sink_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = sessionizeStream(ev).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    if (timeSplits > 1) lastS08MicroBatches.set(
      Option(q.lastProgress).map(_.batchId + 1).getOrElse(-1L))
    s.table(name).filter(col("user_id") >= 0)
      .select(col("user_id"), col("sess_no"), col("n_events"),
        col("start_us"), col("end_us"), col("sum_value"))
  }

  /** Bounded file-stream source over the events table, shared by the
    * gated drains (s06/s07).
    *
    * Layout-proofing: the corpus MUST arrive as ONE micro-batch (a
    * 0-second watermark would drop cross-batch out-of-order events).
    * If the driver ever regenerates events.parquet as a multi-part
    * DIRECTORY, each part is symlinked FLAT into the stream dir (the
    * file source does not list through non-partition subdirectories),
    * the per-trigger file budget is sized to the part count, and each
    * sentinel group is replicated to fill one whole trigger — batches
    * stay [all real parts], [group-1 sentinels], [group-2 sentinels, …]
    * for any layout (real parts are strictly older than the sentinels,
    * so the oldest-first trigger takes them all first).
    *
    * `sentinelUs` adds one watermark-advance micro-batch per element
    * (one-row files for throwaway user_id = −1 at the given event-time
    * µs) — stateful drains needing timeout flushes pass two ascending
    * values; pure inner-join drains pass none. Callers filter
    * user_id >= 0.
    *
    * `timeSplits > 1` switches to the MULTI-micro-batch layout (s08's
    * gate): the corpus is cut into that many EVENT-TIME range slices,
    * each written as its own file in its own ascending-mtime group, so
    * the drain processes ≥ timeSplits real data batches and cross-batch
    * state/watermark semantics are exercised on real data. Time-range
    * slicing is what makes this sound under a 0-second watermark: every
    * event in batch k+1 is strictly later than max(ts of batch ≤ k), so
    * the watermark (computed from the PREVIOUS batch's max) never
    * classifies an arriving row as late — the one-batch constraint the
    * default layout exists for is replaced by an ordering guarantee. */
  private def eventsStreamSource(s: org.apache.spark.sql.SparkSession,
      d: String, sentinelUs: Seq[Long], timeSplits: Int = 1): DataFrame = {
    import java.nio.file.{Files, Path, Paths}
    // Files.list streams hold an open directory handle until closed —
    // materialize-then-close, or repeated drains in a long-lived driver
    // leak fds.
    def listParquet(p: Path): Seq[Path] = {
      val st = Files.list(p)
      try st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally st.close()
    }
    // Temp dirs are per-invocation (the source must keep reading them
    // for the drain's lifetime, so they can't be deleted here);
    // deleteOnExit bounds the leak to one JVM run — files registered
    // after their dir, so JVM-exit deletion (reverse order) empties
    // each dir before removing it.
    def tempDir(prefix: String): Path = {
      val p = Files.createTempDirectory(prefix)
      p.toFile.deleteOnExit()
      p
    }
    def register(p: Path): Path = { p.toFile.deleteOnExit(); p }
    val srcFile = Paths.get(d, "events.parquet").toAbsolutePath
    val raw = Sources.parquet(s, srcFile.toString)
    val rawSchema = raw.schema
    val tsType = rawSchema("ts").dataType
    val dir = tempDir("graft_evsrc_")
    // Staging-dir cleanup shared by slice/sentinel writers.
    def rmTreeOf(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val st = Files.list(p)
        try st.iterator().asScala.toList.foreach(rmTreeOf) finally st.close()
      }
      Files.deleteIfExists(p); ()
    }
    def stamped(src: Path, dst: Path, ms: Long): Unit = {
      Files.copy(src, register(dst))
      // A silently-failed mtime write would collapse the batch ordering
      // the drains depend on — fail loudly instead.
      require(dst.toFile.setLastModified(ms), s"setLastModified failed for $dst")
    }
    val nowMs = System.currentTimeMillis()
    val (nReal, realMtimeCeil) =
      if (timeSplits > 1) {
        // Event-time range slices, one file per ascending mtime group.
        val norm = graft.Tables.normalizeEventTs(raw)
        val b = norm.agg(min(expr("ts_ns DIV 1000")).as("mn"),
          max(expr("ts_ns DIV 1000")).as("mx")).head()
        val (mn, mx) = (b.getAs[Long]("mn"), b.getAs[Long]("mx"))
        val targets = (1 until timeSplits).map(k => mn + (mx - mn) * k / timeSplits)
        // Session-AWARE cuts: a naive range cut rarely lands inside a
        // session (measured: 0 straddling sessions at sf0.01, 3 at sf1),
        // which would leave cross-batch session state unexercised — the
        // thing this layout exists to gate. Each cut is instead placed at
        // the midpoint of a within-gap consecutive same-user event pair
        // (the candidate nearest its naive target), so by construction a
        // session straddles EVERY cut and its state must survive the
        // micro-batch boundary. Candidates whose pair ALSO shares one
        // 1-hour tumbling window are preferred (min-struct key: sameWin
        // first, then distance): such a cut provably lands INSIDE a
        // populated hour window — events of that window on both sides —
        // so s09's cross-batch aggregation-state straddle holds by
        // construction too, not by luck of the corpus (r13 ADVICE: the
        // spec's straddle assert could flake on regeneration otherwise).
        // Same-window pairs are a subset of within-gap pairs, so the
        // session guarantee is unchanged. Cut placement cannot affect
        // results (sessionization/window agg are cut-independent); the
        // per-user window here is gate-harness cost, not a cataloged plan.
        val uw = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("us"), col("event_id"))
        val hourUs = 3600000000L
        val mids = norm
          .select(col("user_id"), col("event_id"),
            expr("ts_ns DIV 1000").as("us"))
          .withColumn("prev", lag("us", 1).over(uw))
          .filter(col("prev").isNotNull && col("us") > col("prev") &&
            col("us") - col("prev") <= lit(EventOps.GapUs))
          .select(expr("(prev + us) DIV 2").as("mid"),
            when(expr(s"prev DIV $hourUs") === expr(s"us DIV $hourUs"), 0L)
              .otherwise(1L).as("crossesWin"))
        val aggs = targets.zipWithIndex.map { case (t, i) =>
          min(struct(col("crossesWin").as("x"),
            abs(col("mid") - lit(t)).as("d"), col("mid"))).as(s"b$i")
        }
        val picked = mids.agg(aggs.head, aggs.tail: _*).head()
        val cuts = targets.indices.map { i =>
          val p = picked.getStruct(i)
          if (p == null) targets(i) else p.getAs[Long]("mid")
        }.distinct.sorted
        lastSplitCutsUs.set(cuts)
        val bounds = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
        val rawCols = rawSchema.fieldNames.map {
          case "ts" => (tsType match {
            case org.apache.spark.sql.types.LongType => col("ts_ns") // legacy nanos
            case t => col("ts").cast(t)
          }).as("ts")
          case c => col(c)
        }
        bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
          val w = Files.createTempDirectory("graft_evsrc_s_")
          norm.filter(expr("ts_ns DIV 1000") > lo && expr("ts_ns DIV 1000") <= hi)
            .select(rawCols.toSeq: _*)
            .coalesce(1).write.mode("overwrite").parquet(w.toString)
          val part = listParquet(w).headOption.getOrElse(
            sys.error(s"slice write produced no parquet part in $w"))
          stamped(part, dir.resolve(s"slice_$k.parquet"), nowMs + 60000L * k)
          rmTreeOf(w)
        }
        (1, nowMs + 60000L * cuts.size) // cuts may dedupe below timeSplits-1
      } else {
        val realParts =
          if (Files.isDirectory(srcFile)) {
            val parts = listParquet(srcFile)
            parts.zipWithIndex.foreach { case (p, j) =>
              register(Files.createSymbolicLink(dir.resolve(s"events_$j.parquet"), p)); ()
            }
            parts
          } else {
            register(Files.createSymbolicLink(dir.resolve("events.parquet"), srcFile))
            Seq(srcFile)
          }
        (realParts.size.max(1),
          (nowMs +: realParts.map(Files.getLastModifiedTime(_).toMillis)).max)
      }
    def sentinelDf(us: Long, eid: Long): DataFrame = {
      val cols = rawSchema.fields.map { f =>
        (f.name match {
          case "event_id"   => lit(eid)
          case "user_id"    => lit(-1L)
          case "event_type" => lit("sentinel")
          case "value"      => lit(0.0)
          case "ts" => tsType match {
            case org.apache.spark.sql.types.LongType => lit(us * 1000L) // legacy nanos
            case t => timestamp_micros(lit(us)).cast(t)
          }
          case _ => lit(null).cast(f.dataType)
        }).as(f.name)
      }
      s.range(1).select(cols.toSeq: _*)
    }
    sentinelUs.zipWithIndex.foreach { case (us, g) =>
      val grp = g + 1
      val w = Files.createTempDirectory("graft_evsrc_w_")
      sentinelDf(us, -grp.toLong).coalesce(1).write.mode("overwrite").parquet(w.toString)
      val part = listParquet(w).headOption.getOrElse(
        sys.error(s"sentinel write produced no parquet part in $w"))
      (0 until nReal).foreach { j =>
        stamped(part, dir.resolve(s"sentinel_${grp}_$j.parquet"),
          realMtimeCeil + 60000L * grp)
      }
      // The staging dir is only needed until the copy; remove it now
      // instead of accumulating one per drain.
      rmTreeOf(w)
    }
    s.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", nReal.toString).parquet(dir.toString)
  }

  /** Density-calibrated attribution window for s07, derived from the
    * corpus with INTEGER math only so the oracle can restate it
    * verbatim in SQL: 4 × the mean per-user event spacing
    * (span_µs × distinct_users ÷ events, floored division — DuckDB's
    * `//` and Spark's Long division agree on non-negative operands).
    * Density-relative sizing keeps the expected purchases-per-view
    * window (≈ 4 × the purchase fraction) — and therefore the output
    * volume — O(events) at EVERY SF, where any fixed window is empty at
    * sparse SFs and quadratic at dense ones. */
  def s07JoinWindowUs(s: org.apache.spark.sql.SparkSession, d: String): Long = {
    val r = graft.Tables.eventsWithTs(s, d)
      .selectExpr("min(ts_ns DIV 1000) AS mn", "max(ts_ns DIV 1000) AS mx",
        "count(*) AS n", "count(DISTINCT user_id) AS u").head()
    // BigInt intermediate: 4 × span_µs × users overflows a Long once
    // span × users > ~2.3e18 (multi-year corpus × ~10M users) — the
    // oracle's HUGEINT arithmetic would not, so the quotient must be
    // computed exactly here too. All operands are non-negative, so
    // BigInt's truncating division equals the floored division the
    // oracle states.
    val w = BigInt(4) * BigInt(r.getAs[Long]("mx") - r.getAs[Long]("mn")) *
      BigInt(r.getAs[Long]("u")) / BigInt(r.getAs[Long]("n"))
    w.toLong
  }

  /** s07 as a GATED catalog key: the canonical STREAM-STREAM JOIN —
    * view events joined to the purchases that follow them within the
    * calibrated window, per user. Two independent file-stream reads of
    * the events table (no sentinels: an INNER join emits each match in
    * the micro-batch where both sides are present, so a bounded drain
    * needs no timeout flush), both watermarked, joined on user equality
    * plus an event-time range the state-cleanup analyzer recognizes
    * (`p_ts <= v_ts + INTERVAL n MICROSECOND`) — on an unbounded stream
    * each side's buffered state is evicted once the watermark passes the
    * range, so state is watermark-horizon-bounded, never the stream.
    * The µs timestamps are exact (ts is µs-precision), so the
    * timestamp-range condition equals the integer-µs condition the
    * oracle states, and the oracle derives the SAME window from the
    * events table in SQL (integer math, see [[s07JoinWindowUs]]) — no
    * calibration threading needed.
    *
    * Scale shape: the join shuffles both sides on user_id (the semantic
    * key); per-key match scan is bounded by the arrival volume inside
    * one watermark horizon × window, not history. The drain harness is
    * the gate shape (s05/s06's pattern); production keeps the query
    * running. */
  def s07StreamJoin(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val wUs = s07JoinWindowUs(s, d)
    def side(evType: String, idAs: String, usAs: String, tsAs: String,
             uAs: String): DataFrame =
      graft.Tables.normalizeEventTs(eventsStreamSource(s, d, Seq.empty))
        .filter(col("event_type") === evType)
        .select(col("user_id").as(uAs), col("event_id").as(idAs),
          expr("ts_ns DIV 1000").as(usAs), col("ts").as(tsAs))
        .withWatermark(tsAs, "0 seconds")
    val views = side("view", "view_id", "v_us", "v_ts", "user_id")
    val purch = side("purchase", "purchase_id", "p_us", "p_ts", "u2")
    val joined = views.join(purch,
      expr(s"u2 = user_id AND p_ts >= v_ts AND " +
        s"p_ts <= v_ts + INTERVAL $wUs MICROSECOND"), "inner")
    val name = "s07_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = joined
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        (col("p_us") - col("v_us")).as("lag_us"))
      .writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    s.table(name)
  }

  /** Micro-batch count of the most recent [[s10StreamTakedown]] drain. */
  val lastS10MicroBatches = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Recursive JVM-exit deletion for a scratch tree whose FILES are
    * created later (by Spark writes), so the per-file deleteOnExit
    * registration eventsStreamSource uses can't apply. ONE static hook
    * draining a queue of roots (round 20, ADVICE item): the previous
    * hook-per-call form accumulated a JVM thread per s10 invocation
    * across Verify/Bench/test runs. Each root's own recursive delete
    * needs no cross-hook ordering. */
  private val exitRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val exitHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      var p = exitRoots.poll()
      while (p != null) { rm(p.toFile); p = exitRoots.poll() }
    }))
  private def registerTreeOnExit(p: java.nio.file.Path): Unit = {
    exitHookInstalled
    exitRoots.add(p); ()
  }

  /** Apply a CDC takedown stream to persisted dup-group state: each
    * micro-batch's delete ops run [[Incremental.deleteGroupStateStep]]
    * against the CURRENT state version and publish the next one
    * (version-dir flip — never an overwrite of a path a lazy plan
    * reads; the current version is re-derived from DISK each batch, so
    * a restarted drain resumes against whatever the killed run last
    * published). Exactly-once EFFECT under the file source's
    * at-least-once foreachBatch replay comes from idempotence: deleting
    * an already-deleted id touches no label row (spec-pinned), so a
    * replayed batch publishes a state version identical to its
    * predecessor. Returns the number of micro-batches that carried ops.
    *
    * Scale shape: per batch, work is takedown-fan-out-bounded (d16's
    * bound) plus one map-side pass over labels/pairs for the version
    * rewrite — at 100 TB the state rewrite cost amortizes by batching
    * takedowns (exactly how this drain feeds them), and the op volume
    * of a takedown stream is tiny against the corpus. */
  def takedownDrain(s: org.apache.spark.sql.SparkSession, stateRoot: String,
                    opsDir: String, checkpoint: String): Long = {
    import graft.operators.Incremental
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType)))
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(opsDir)
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = src.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val del = batch.filter(col("op") === "delete")
          .select(col("id")).distinct()
          .transform(graft.Checkpoints.cut) // read twice (emptiness + step)
        if (del.take(1).nonEmpty) {
          val v = StateDir.latest(stateRoot)
          val Seq(labels, pairs) =
            StateDir.read(s, s"$stateRoot/v$v", "labels", "pairs")
          val (nl, np) = Incremental.deleteGroupStateStep(s, labels, pairs, del)
          // A crash mid-write leaves only a hidden .v{n+1}.staging-<stamp>
          // dir (swept by a later publish), never a half-published version
          // the restarted drain would wedge on.
          StateDir.publish(s"$stateRoot/v${v + 1}",
            Seq("labels" -> nl, "pairs" -> np))
          applied.incrementAndGet()
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    lastS10MicroBatches.set(
      Option(q.lastProgress).map(_.batchId + 1).getOrElse(-1L))
    applied.get()
  }

  /** s10 as a GATED catalog key: takedowns arriving ON A STREAM — the
    * CDC half of the delete lifecycle (d16 proves one batch delete;
    * production deletes arrive as an op-log and must compose across
    * micro-batches). The full-corpus group state is persisted (the d16
    * artifacts), the d16 takedown slice is published as a THREE-file
    * op-log (split by doc_id % 30 ∈ {3, 13, 23} — deletes COMMUTE, so
    * file→batch assignment order is irrelevant and the drain needs no
    * sentinels or watermark: foreachBatch is a stateless apply), the
    * drain applies each micro-batch to persisted state, and the FINAL
    * state resolves to d06's schema. Oracle: d16's verbatim
    * (from-scratch on corpus-minus-deleted) — hash equality proves the
    * per-batch deletes COMPOSE to the one-shot takedown.
    * Checkpoint-restart exactly-once is spec-gated
    * (StreamTakedownSpec, the StreamRestartSpec pattern). */
  def s10StreamTakedown(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import graft.operators.{Dedup, Incremental}
    // JVM-exit cleanup (round 19, ADVICE item): corpus-sized state
    // versions otherwise accumulate in /tmp across Verify/Bench runs.
    // The returned frame is read lazily by the gate, so the dir must
    // outlive this call — the shared exit hook recursively deletes the
    // whole tree (no ordering requirement; File.deleteOnExit's
    // reverse-registration guarantee is a different mechanism and was
    // never what this relied on).
    val rootPath = java.nio.file.Files.createTempDirectory("graft-s10")
    registerTreeOnExit(rootPath)
    val root = rootPath.toString
    Incremental.writeDeleteGroupState(s, d, s"$root/v0")
    publishTakedownOps(s, d, s"$root/ops", Seq(3L, 13L, 23L))
    takedownDrain(s, root, s"$root/ops", s"$root/ckpt")
    Dedup.resolveGroups(
      StateDir.read(s, s"$root/v${StateDir.latest(root)}", "labels").head)
  }

  /** Publish takedown op files (one per residue of doc_id % 30) FLAT
    * into `opsDir` — the file source does not list through
    * subdirectories, so each sub-batch writes to a scratch dir and its
    * part file moves into the ops dir under a stable name. */
  private[graft] def publishTakedownOps(s: org.apache.spark.sql.SparkSession,
                                        d: String, opsDir: String,
                                        residues: Seq[Long]): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val ops = new org.apache.hadoop.fs.Path(opsDir)
    val fs = ops.getFileSystem(conf)
    fs.mkdirs(ops)
    residues.zipWithIndex.foreach { case (r, i) =>
      val scratch = s"$opsDir.tmp$i"
      graft.Tables.documents(s, d).filter(col("doc_id") % 30 === r)
        .select(col("doc_id").as("id"), lit("delete").as("op"))
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(scratch)).toSeq
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      StateDir.rename(fs, part, new org.apache.hadoop.fs.Path(ops, f"b$i%02d.parquet"))
      StateDir.delete(fs, new org.apache.hadoop.fs.Path(scratch))
    }
  }
}
