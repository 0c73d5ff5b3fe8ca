package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `kind` is run | op | phase | job | stage; `layer`
  * names the module a job is attributed to (by the graft file in its
  * call site) or the phase type (call, action, read, operate, publish). */
final case class Span(id: Long, kind: String, name: String, layer: String,
                      startMs: Long, endMs: Long, attrs: Map[String, Double] = Map.empty) {
  def durMs: Long = math.max(0L, endMs - startMs)
}

/** Records what Spark's public hooks report while it is attached: jobs,
  * stages and tasks ([[SparkListener]]), query planning
  * ([[QueryExecutionListener]]) and micro-batch progress
  * ([[StreamingQueryListener]]). Everything is kept in memory; the
  * harness turns it into per-layer numbers and a span file when a pass
  * ends. Attaching and detaching is how the harness switches tracing
  * on and off between passes. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0L)
  def nextId(): Long = ids.incrementAndGet()

  val jobs = new ConcurrentLinkedQueue[Span]()
  val stages = new ConcurrentLinkedQueue[Span]()
  /** (launch ms, finish ms) of every finished task. */
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]()
  val plans = new ConcurrentLinkedQueue[Double]()   // planning seconds per execution
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val events = new AtomicLong(0L)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()

  /** Layer of a job from its call site (the long form lists the stack
    * down from the first frame outside Spark). Order matters: a cut made
    * inside a state step is a cut, not a state job. */
  def layerOf(site: String): String =
    if (site.contains("Checkpoints.scala")) "Checkpoints"
    else if (site.contains("connectedComponents") || site.contains("ccDriverFold")) "Dedup"
    else if (site.contains("StreamOps.scala")) "StreamOps"
    else if (site.contains("Tables.scala")) "Tables"
    else if (site.contains("CompletableFuture")) "aqe"
    else "op"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      val short = last.map(_.name).getOrElse("")
      val long = last.map(_.details).getOrElse("")
      jobStarts.put(e.jobId, (e.time, short, layerOf(short + "\n" + long)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, short, layer) =>
        jobs.add(Span(nextId(), "job", short, layer, t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val si = e.stageInfo
      val m = si.taskMetrics
      val attrs: Map[String, Double] =
        if (m == null) Map("tasks" -> si.numTasks.toDouble)
        else Map(
          "tasks" -> si.numTasks.toDouble,
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ns" -> m.executorCpuTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_read_b" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead).toDouble,
          "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "input_b" -> m.inputMetrics.bytesRead.toDouble,
          "output_b" -> m.outputMetrics.bytesWritten.toDouble)
      stages.add(Span(nextId(), "stage", s"stage ${si.stageId}", "stage",
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), attrs))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      tasks.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      plans.add(ms / 1e3)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      events.incrementAndGet()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet(); progress.add(e)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive on an asynchronous bus; wait until none has
    * arrived for 150 ms (at most 5 s) so a pass's numbers are complete. */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var seen = events.get(); var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      if (events.get() == seen) quiet += 1 else { seen = events.get(); quiet = 0 }
    }
  }

  def clear(): Unit = {
    jobs.clear(); stages.clear(); tasks.clear(); plans.clear(); progress.clear()
  }

  def jobList: Seq[Span] = jobs.asScala.toSeq
  def stageList: Seq[Span] = stages.asScala.toSeq
  def taskList: Seq[(Long, Long)] = tasks.asScala.toSeq
  def planList: Seq[Double] = plans.asScala.toSeq
  def progressList: Seq[StreamingQueryListener.QueryProgressEvent] = progress.asScala.toSeq
}

object Tracer {

  /** Total length of the union of `intervals`, each clipped to one of
    * the `windows` (op windows of a pass): the task-busy time. */
  def busyUnionMs(intervals: Seq[(Long, Long)], windows: Seq[(Long, Long)]): Long = {
    val clipped = mutable.ArrayBuffer.empty[(Long, Long)]
    val ws = windows.sortBy(_._1).toArray
    intervals.foreach { case (a, b) =>
      ws.foreach { case (w0, w1) =>
        val s = math.max(a, w0); val e = math.min(b, w1)
        if (e > s) clipped += ((s, e))
      }
    }
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    clipped.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its length minus the union of its direct
    * children (children found by time containment inside the tree
    * run → op → phase → job → stage). */
  def selfTimes(spans: Seq[Span]): Map[Long, (Long, Long)] = {
    val order = Seq("run", "op", "phase", "job", "stage")
    val byKind = spans.groupBy(_.kind)
    val parent = mutable.Map.empty[Long, Long]
    order.sliding(2).foreach { case Seq(pk, ck) =>
      val ps = byKind.getOrElse(pk, Nil).sortBy(_.startMs).toArray
      byKind.getOrElse(ck, Nil).foreach { c =>
        ps.find(p => p.startMs <= c.startMs && c.startMs <= p.endMs)
          .foreach(p => parent(c.id) = p.id)
      }
    case _ => ()
    }
    val kids = spans.filter(s => parent.contains(s.id)).groupBy(s => parent(s.id))
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val covered = busyUnionMs(cs, Seq((s.startMs, s.endMs)))
      s.id -> (parent.getOrElse(s.id, 0L), math.max(0L, s.durMs - covered))
    }.toMap
  }
}
