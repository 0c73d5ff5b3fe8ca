package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{PlanCapture, Sessions}

/** Closed-loop benchmark driver: one client issues a workload's
  * operations one after another against graft's public functions, on a
  * fresh local session. Started by `run.py`, which builds it and prints
  * the final result line.
  *
  * A run is: session start, one untimed cold pass that checks every
  * operation's output, then a fixed number of timed passes (more if
  * `--seconds` has not passed). With `--trace 1` passes
  * alternate untraced / traced; the traced ones attach Spark's listeners
  * and give the per-layer numbers, the untraced ones the overhead
  * reference.
  *
  * Prints one line `RESULT {json}` on stdout. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, root: String, refs: String, record: Option[String],
                        launchMs: Long, cpus: Int, traceOut: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("root"), m("refs"), m.get("record"), m("launch-ms").toLong,
      m("cpus").toInt, m("trace-out"))
  }

  /** One executed operation of a pass. */
  final case class Done(name: String, kind: String, startMs: Long, endMs: Long,
                        phases: Seq[(String, Long, Long)]) {
    def secs: Double = (endMs - startMs) / 1e3
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val mainAt = System.currentTimeMillis()
    val spark = Sessions.local(a.cpus.toString, Map(
      "spark.local.dir" -> s"${a.root}/local",
      "spark.sql.warehouse.dir" -> s"${a.root}/warehouse",
      "spark.sql.streaming.checkpointLocation" -> s"${a.root}/checkpoints"))
    val sessionAt = System.currentTimeMillis()
    val refs = Json.parseFlat(scala.io.Source.fromFile(a.refs).mkString)
    // SplittableRandom scrambles the seed: java.util.Random's first draws
    // from nearby seeds are correlated, so nearby seeds gave one order
    val rng = new Random(new java.util.SplittableRandom(a.seed).nextLong())

    // The seed orders the operations of every pass anew, so each
    // operation's fastest pass is taken over several orders; the state
    // steps form one chain and keep their order, so in state_stream the
    // seed orders the chain and the drain. `once` runs in the checking
    // pass only.
    // After the cold pass the JIT is still compiling and every further
    // pass runs faster than the one before, so the pass counts are fixed,
    // not timed: a time-bound loop let the number of passes, and with it
    // `wall_s`, vary from run to run. `tracedPasses` traced passes
    // alternate with untraced ones in a traced run. The long state_stream
    // pass gets two timed passes and one traced one, so that its runs
    // stay near a minute on 4 CPUs.
    val (once, order, stateDirs, timedPasses, tracedPasses)
        : (Seq[Op], () => Seq[Op], Int => Seq[String], Int, Int) = a.workload match {
      case "etl_batch" =>
        val (qs, loads) = Workloads.etlBatch(spark, a.data, a.root)
        (Nil, () => rng.shuffle(qs) ++ rng.shuffle(loads), _ => Nil, 12, 2)
      case "state_stream" =>
        val (build, steps, live) = Workloads.stateLifecycle(spark, a.data, a.root)
        val drain = Workloads.streamDrain(spark, a.data)
        (Seq(build), () => rng.shuffle(Seq(steps, drain)).flatten, p => Seq(live(p)), 2, 1)
      case w => sys.error(s"unknown workload $w")
    }

    var attempted = 0L
    var failed = 0L
    val failures = mutable.LinkedHashMap.empty[String, String]
    val observed = mutable.LinkedHashMap.empty[String, String]
    val planFp = mutable.LinkedHashMap.empty[String, String]
    val capture = if (a.trace) Some(PlanCapture.install(spark)) else None
    var checkMs = 0L
    var capturing = false // plan fingerprints are taken in traced passes only

    def fail(what: String, why: String): Unit = {
      failed += 1
      if (!failures.contains(what)) failures(what) = why.take(300)
      System.err.println(s"[perfbench] FAIL $what: $why")
    }

    /** Runs every op once; checks outputs when `check` is set. */
    def pass(p: Int, warm: Boolean, check: Boolean): Seq[Done] =
      (if (p == 0) once ++ order() else order()).map { op =>
        attempted += 1
        val mark = capture.filter(_ => capturing).map(_.mark())
        val ph = new Phases
        val t0 = System.currentTimeMillis()
        val ok = try { op.run(p, warm, ph); true } catch {
          case e: Throwable => fail(op.name, String.valueOf(e.getMessage)); false
        }
        val t1 = System.currentTimeMillis()
        for (c <- capture; m <- mark; qe <- c.awaitAfter(m, 2000))
          planFp(op.name) = PlanCapture.fingerprint(qe)._1
        if (ok && check) {
          val c0 = System.currentTimeMillis()
          try op.check(p, warm).foreach { case (k, v) =>
            if (a.record.isDefined) {
              if (observed.get(k).exists(_ != v)) fail(k, s"unstable: ${observed(k)} vs $v")
              observed(k) = v
            } else refs.get(k) match {
              case Some(r) if r == v => ()
              case Some(r) => fail(op.name, s"$k: got $v, reference $r")
              case None => fail(op.name, s"$k: no reference")
            }
          } catch { case e: Throwable => fail(op.name, s"check: ${e.getMessage}") }
          checkMs += System.currentTimeMillis() - c0
        }
        Done(op.name, op.kind, t0, t1, ph.spans.toSeq)
      }

    def dropPass(p: Int): Unit =
      Files.deleteTree(new java.io.File(s"${a.root}/state/p$p"))

    // ---- set-up: the untimed first pass checks every output
    val readyAt = System.currentTimeMillis()
    val warmup = pass(0, warm = true, check = true)
    dropPass(0)
    System.err.println("[perfbench] warm-up: " + warmup.map(d => f"${d.name}=${d.secs}%.2f").mkString(" "))
    val setupS = (System.currentTimeMillis() - a.launchMs) / 1e3
    System.err.println(f"[perfbench] setup ${setupS}%.2f s " +
      f"(jvm ${(mainAt - a.launchMs) / 1e3}%.2f, session ${(sessionAt - mainAt) / 1e3}%.2f, " +
      f"prepare ${(readyAt - sessionAt) / 1e3}%.2f, " +
      f"checks ${checkMs / 1e3}%.2f)")

    // ---- timed passes
    val tracer = new Tracer(spark)
    val untraced = mutable.ArrayBuffer.empty[Seq[Done]]
    val traced = mutable.ArrayBuffer.empty[(Seq[Done], Map[String, Double], Seq[Span])]
    val t0 = System.currentTimeMillis()
    var p = 1
    def elapsed = (System.currentTimeMillis() - t0) / 1e3
    // `timedPasses` (when tracing, untraced and traced alternate, so each
    // traced pass sits between two untraced ones), and more only while
    // `--seconds` has not passed.
    val minPasses = if (a.trace) 2 * tracedPasses + 1 else timedPasses
    val totals = mutable.Map.empty[Int, Double]
    while (p <= minPasses || elapsed < a.seconds) {
      val traceThis = a.trace && p % 2 == 0
      if (traceThis) { tracer.clear(); tracer.attach(); capturing = true }
      // outputs are checked in the cold pass and again from the last
      // counted pass on, which keeps the checks' jobs out of most passes
      val done = pass(p, warm = false, check = !traceThis && p >= minPasses)
      if (traceThis) {
        capturing = false
        tracer.detach()
        val m = Layers.metrics(done, tracer, a.cpus, stateDirs(p))
        traced += ((done, m, Layers.spans(done, tracer, p)))
      } else untraced += done
      totals(p) = done.map(_.secs).sum
      dropPass(p)
      System.err.println(f"[perfbench] pass $p${if (traceThis) " (traced)" else ""}: " +
        f"${done.map(_.secs).sum}%.3f s; " + done.map(d => f"${d.name}=${d.secs}%.2f").mkString(" "))
      p += 1
    }
    val measuredS = elapsed

    // ---- results
    val metrics: Map[String, Double] =
      if (!a.trace) {
        // one pass = the sum over operations of each one's fastest timed
        // run: the second pass after a cold one is still warming the JIT,
        // and host contention only ever adds time
        val perOp = untraced.toSeq.flatten.groupBy(_.name).values.map(_.map(_.secs).min)
        Map("wall_s" -> perOp.sum, "setup_s" -> setupS)
      } else {
        val ms = traced.map(_._2).toSeq
        val keys = ms.flatMap(_.keys).distinct
        val med: Map[String, Double] = keys.map(k => k -> Stats.median(ms.flatMap(_.get(k)))).toMap
        // each traced pass against the mean of its untraced neighbours,
        // which cancels the JIT's pass-to-pass speed-up
        val ratios = totals.keys.toSeq.filter(q => q % 2 == 0 && totals.contains(q + 1))
          .map(q => totals(q) / ((totals(q - 1) + totals(q + 1)) / 2))
        med ++ Map(
          "trace.overhead_ratio" -> (Stats.median(ratios) - 1),
          "ops_failed_ratio" -> failed.toDouble / math.max(1L, attempted))
      }
    if (a.trace) {
      val top = Layers.topLayers(metrics)
      System.err.println(s"[perfbench] top layers: ${top.map { case (k, v) => f"$k=$v%.3f" }.mkString(", ")}")
      Json.writeTrace(a.traceOut, a.workload, a.seed, metrics, planFp.toMap, top,
        traced.flatMap(_._3).toSeq)
    }
    a.record.foreach(f => Json.writeFlat(f, observed.toMap))
    val res = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "ops_per_pass" -> untraced.headOption.getOrElse(Nil).size.toString,
      "passes" -> (untraced.size + traced.size).toString,
      "measured_s" -> measuredS.toString,
      "failures" -> Json.obj(failures.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    println("RESULT " + res)
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
  /** (bytes, data files) under a directory. */
  def usage(f: java.io.File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(usage)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.isFile) (f.length(), if (f.getName.endsWith(".parquet")) 1L else 0L)
    else (0L, 0L)
}
