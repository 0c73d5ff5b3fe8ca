package graft

/** Benchmark main: times every production query (sort-free plans — see
  * [[Queries]]) on SPARK_GRAFT_SF_DIR with full materialization.
  *
  * Measurement policy (round-1 lesson): `.count()` lets Catalyst prune
  * unreferenced projections, so pure-projection queries would measure an
  * empty scan. Each query is instead written to the `noop` sink — every
  * row and column is computed and serialized, nothing lands on disk. One
  * untimed warmup pass absorbs session/codegen/JIT startup; the reported
  * numbers are the steady-state second pass.
  *
  * Full-catalog runs ALSO write the JSON line to BENCH_LOCAL_r{n}.json
  * in the working directory (round = 1 + the highest CORRECTNESS_r{n}
  * present, i.e. the round in progress; override the path with
  * SPARK_GRAFT_BENCH_OUT). The driver's BENCH_r{n}.json capture
  * truncates long stdout tails, which starved tools/bench_diff.py —
  * the committed artifact is the self-contained record. Key-filtered
  * dev runs never write it (a partial catalog must not masquerade as
  * the round's record).
  */
object Bench {

  /** Highest CORRECTNESS_r{n} present in the cwd (-1 if none). */
  private def maxCorrectnessRound(): Int = {
    val cwd = new java.io.File(".")
    val rounds = Option(cwd.list()).toSeq.flatten
      .flatMap { n =>
        val m = "CORRECTNESS_r(\\d+)\\.json".r.findFirstMatchIn(n)
        m.map(_.group(1).toInt)
      }
    if (rounds.isEmpty) -1 else rounds.max
  }

  /** The auto slot is a GUESS of the round in progress (1 + the highest
    * CORRECTNESS_r{n} present) and is wrong by one when the driver
    * benches AFTER landing the same round's correctness file (the
    * r15/r16 footnote) — so the artifact now records its own naming
    * basis: `round_slot` is the number in the filename and
    * `correctness_seen` the evidence it was derived from. The round is
    * computed ONCE and shared by the filename and the payload (a
    * CORRECTNESS_r* file landing between two scans could otherwise make
    * them disagree), and the splice only fires when the line carries at
    * least one key (an empty '{}' would gain a trailing comma). Builder
    * runs stamp explicitly via SPARK_GRAFT_BENCH_OUT and skip the guess. */
  private def writeArtifact(line: String): Unit = {
    val seen = maxCorrectnessRound()
    val p = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .getOrElse(f"BENCH_LOCAL_r${seen + 1}%02d.json")
    val documented =
      if (sys.env.contains("SPARK_GRAFT_BENCH_OUT") ||
          !line.startsWith("{") || line.stripPrefix("{").trim.startsWith("}")) line
      else {
        s"""{"round_slot":${seen + 1},"correctness_seen":$seen,""" +
          s""""round_slot_basis":"1+max(CORRECTNESS_r*); one high if benching after the same round's correctness landed",""" +
          line.drop(1)
      }
    try {
      val w = new java.io.PrintWriter(p)
      try w.println(documented) finally w.close()
      System.err.println(s"[bench] wrote $p")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $p: ${e.getMessage}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Executed-plan fingerprints (see [[PlanCapture]]): per key, the
    // final (post-AQE) plan of the LAST timed pass, as `plan_fp` in the
    // JSON artifact; the normalized plan text + per-node metrics go to
    // SPARK_GRAFT_PLAN_DIR (default target/bench_plans) for diffing.
    val cap = PlanCapture.install(spark)
    val planDir = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "target/bench_plans"))
    planDir.mkdirs()
    val planFps = scala.collection.mutable.Map.empty[String, String]
    def capturePlan(name: String, prev: Long): Unit =
      cap.awaitAfter(prev).foreach { qe =>
        val (fp, norm) = PlanCapture.fingerprint(qe)
        planFps(name) = fp
        try {
          val w = new java.io.PrintWriter(new java.io.File(planDir, s"$name.txt"))
          try {
            w.println(s"key: $name  plan_fp: $fp")
            w.println(norm)
            w.println("---- node metrics (last pass) ----")
            w.println(PlanCapture.metricsReport(qe))
          } finally w.close()
        } catch { case _: Throwable => () }
      }
    def materialize(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        Queries.production(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    def materializeCaptured(name: String): Option[Double] = {
      val prev = cap.mark()
      val r = materialize(name)
      if (r.isDefined) capturePlan(name, prev)
      r
    }
    def fpJson: String = planFps.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    // Optional args are key filters (dev loop: bench one query while
    // iterating); the driver passes none and gets the full catalog.
    // `--cold` switches to ONE timed pass with no warmup — the protocol
    // for spill-heavy keys (d05 at sf10) where min-of-2's retained spill
    // files are a disk hazard and the cold number is the honest one.
    val (cold, keyArgs) = (args.contains("--cold"), args.filterNot(_ == "--cold"))
    val names =
      if (keyArgs.isEmpty) Queries.production.keys.toSeq.sorted
      else Queries.production.keys.toSeq.filter(keyArgs.contains(_)).sorted
    if (cold) {
      val results = names.map(n => n -> materializeCaptured(n))
      val qs = results.map { case (k, v) =>
        "\"" + k + "\":" + v.fold("null")(_.toString)
      }.mkString("{", ",", "}")
      val failures = results.collect { case (k, None) => "\"" + k + "\"" }
      val total = results.flatMap(_._2).sum
      val line = s"""{"metric":"total","value":$total,"unit":"sec","mode":"cold","queries":$qs,"plan_fp":$fpJson,"failures":${failures.mkString("[", ",", "]")},"sf":"$sfDir"}"""
      println(line)
      if (keyArgs.isEmpty) writeArtifact(line)
      spark.stop(); return
    }
    names.foreach(materialize) // warmup: codegen + JIT + file-footer caches
    // two timed passes, keep the min — steady-state time with scheduler
    // noise suppressed (single-pass jitter is ±20-30% at toy SFs). A query
    // that fails in either pass is reported as null and EXCLUDED from the
    // total (a -1 sentinel would silently shrink it), with its name in
    // `failures` so a partially-broken run can't look healthy.
    val pass1 = names.map(n => n -> materialize(n)).toMap
    val results = names.map { n =>
      n -> (for (a <- pass1(n); b <- materializeCaptured(n)) yield {
        // Per-pass evidence line: min-of-2 hides WHICH pass was slow —
        // the r10 d11 outlier (both passes >=13 s) needed this to rule
        // out single-pass jitter from the artifact alone.
        System.err.println(f"[bench] $n pass1=${a}%.3f pass2=${b}%.3f")
        math.min(a, b)
      })
    }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.fold("null")(_.toString)
    }.mkString("{", ",", "}")
    val failures = results.collect { case (k, None) => "\"" + k + "\"" }
    val total = results.flatMap(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"plan_fp":$fpJson,"failures":${failures.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // Each streaming key's last drain: micro-batches and the summed
    // durationMs of each progress phase.
    graft.streaming.StreamOps.lastDrain.toSeq.sortBy(_._1).foreach { case (k, r) =>
      System.err.println(s"[bench] $k drain: batches=${r.batches} " +
        r.phaseMs.toSeq.sortBy(_._1).map { case (p, ms) => s"$p=${ms}ms" }.mkString(" "))
    }
    println(line)
    if (keyArgs.isEmpty) writeArtifact(line)
    spark.stop()
  }
}
