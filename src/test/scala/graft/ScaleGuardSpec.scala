package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Curation, Dedup, Incremental, Skew}

/** The round-11 scale defect, pinned by spec: the incremental merges'
  * CC vertex set and relabel broadcasts must be bounded by the batch's
  * edge FAN-OUT (touched components + verified new pairs), never the
  * batch — a batch of mostly-isolated docs must produce a relabel map
  * orders of magnitude smaller than the batch. Plus the guard itself:
  * [[Skew.boundedBroadcast]] hints under its cap and degrades to an
  * unhinted frame (shuffle join) above it, so a hostile ~100%-dup
  * batch cannot force a batch-sized driver collect.
  *
  * Also audits x09's checkpointed SUB-plans (ADVICE r11): the eager
  * localCheckpoints run whole sub-pipelines at construction time and
  * leave LogicalRDD leaves PlanAuditSpec cannot see — a collecting
  * listener sweeps every executed sub-plan for the banned join shapes.
  */
class ScaleGuardSpec extends SparkSpecBase {

  /** Documents frame with the curation input schema; each row's token
    * vocabulary is keyed by `tag` so docs share shingles ONLY when
    * given the same tag (60 tokens ≫ the 8-gram/5-shingle windows, so
    * same-tag docs are exact dups and distinct-tag docs are fully
    * disjoint — candidate edges are deterministic, no minhash luck). */
  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, tag) =>
      (id, (0 until 60).map(j => s"${tag}w$j").mkString(" "))
    }.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        length(col("text")).cast("bigint").as("n_chars"))
  }

  private val base = docs((1L to 20L).map(i => i -> s"base$i"))
  // 200 isolated batch docs + two exact-dup pairs: 1001 copies base doc
  // 3, and 1002/1003 copy each other — four edge-incident ids at most.
  private val batch = docs(
    (1100L to 1299L).map(i => i -> s"iso$i") ++
      Seq(1001L -> "base3", 1002L -> "pair", 1003L -> "pair"))

  test("boundedBroadcast hints under the cap and degrades above it") {
    import spark.implicits._
    val df = (1L to 100L).toDF("k").localCheckpoint()
    val hinted = Skew.boundedBroadcast(df, capRows = 1000)
    val degraded = Skew.boundedBroadcast(df, capRows = 10)
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "under-cap frame must carry the broadcast hint")
    assert(!degraded.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "over-cap frame must come back unhinted so the planner can shuffle")
    // Semantics are identical either way — only the hint differs.
    assert(hinted.count() == 100 && degraded.count() == 100)
  }

  test("boundedBroadcastKnown guards without running any count job") {
    import spark.implicits._
    val df = (1L to 100L).toDF("k").localCheckpoint()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val before = Skew.broadcastFallbacks.get()
      val hinted = Skew.boundedBroadcastKnown(df, knownRows = 100, capRows = 1000)
      val degraded = Skew.boundedBroadcastKnown(df, knownRows = 100, capRows = 10)
      Thread.sleep(200) // let any (unexpected) job-start events land
      assert(jobs.get() == 0,
        "known-count guard must not launch a job (the r14 d05 shape " +
          "re-counted the same table once per hint)")
      assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"))
      assert(!degraded.queryExecution.analyzed.toString.contains("ResolvedHint"))
      assert(Skew.broadcastFallbacks.get() == before + 1)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("x09 mergeParts: CC/relabel are fan-out-bounded, not batch-sized") {
    val st = Curation.curationState(spark, base)
    val p = Curation.mergeParts(spark, st, batch)
    val clean = p.batchClean.count()
    // The relabel map is the merge CC's output keyed by label.
    val relabel = p.merged.count()
    // Most of the 203-doc batch is clean (a deterministic handful land
    // in the 1-in-20 md5 benchmark slice) — the bound must not depend
    // on that, only on the edge fan-out.
    assert(clean >= 150, s"expected a mostly-clean batch, got $clean")
    assert(relabel <= 8,
      s"relabel map must be edge-incident-bounded: $relabel rows for $clean clean batch docs")
    val hinted = p.labels(full = true).queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.output.map(_.name)
    }
    assert(hinted.contains(Seq("lbl", "nl")),
      "a fan-out-bounded relabel map should take the broadcast fast path")
  }

  test("x09 merge with the edge-incident CC still equals from-scratch") {
    val st = Curation.curationState(spark, base)
    val cols = Seq("doc_id", "stage", "group_id", "group_size",
      "keeper_id", "split", "keep").map(col)
    val full = Curation.mergeCuration(spark, st, batch)
      .select(cols: _*).collect().map(_.toSeq).toSet
    val scratch = Curation.curationDecideDocs(spark, base.unionByName(batch))
      .select(cols: _*).collect().map(_.toSeq).toSet
    assert(full == scratch)
  }

  test("d09 mergeGraph: merged labelling is edge-incident-bounded") {
    val baseSh = Dedup.shingledDocs(spark, base)
    val baseBands = Dedup.minhashBands(baseSh)
    val baseLabels = base.select(col("doc_id").as("id"),
      col("doc_id").as("lbl")) // no dups inside the base by construction
    val newIds = batch.select(col("doc_id").as("id"))
    val newSh = Dedup.shingledDocs(spark, batch)
    val merged = Incremental.mergeGraph(spark, baseLabels, baseBands,
      baseSh, newIds, newSh)
    val n = merged.count()
    assert(n <= 8, s"merge-CC output must be edge-incident-bounded, got $n " +
      s"rows for a ${batch.count()}-doc batch")
    // And the full ingest still resolves every doc exactly: isolated
    // docs keep their own id, 1001 pulls down to base 3's label, the
    // new-new pair resolves to its min id.
    val labels = Incremental.ingestDupGroups(spark, baseLabels, baseBands,
      baseSh, newIds, newSh)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 223)
    assert(labels(1001L) == 3L && labels(3L) == 3L)
    assert(labels(1002L) == 1002L && labels(1003L) == 1002L)
    assert(labels(1100L) == 1100L && labels(7L) == 7L)
  }

  test("e02 probe masks: counts, uniqueness, and radius nesting") {
    import graft.operators.Similarity
    for (bits <- Seq(4, 8, 12)) {
      val m0 = Similarity.probeMasks(bits, 0)
      val m1 = Similarity.probeMasks(bits, 1)
      val m2 = Similarity.probeMasks(bits, 2)
      assert(m0 == Seq(0L))
      assert(m1.size == 1 + bits && m2.size == 1 + bits + bits * (bits - 1) / 2)
      assert(m2.distinct.size == m2.size, "masks must be unique buckets")
      assert(m2.startsWith(m1) && m1.startsWith(m0),
        "radius sets must nest so deeper probes only ADD buckets")
      assert(m2.forall(m => java.lang.Long.bitCount(m) <= 2))
    }
  }

  test("x09's checkpointed sub-plans are cartesian/BNLJ-free (ADVICE r11)") {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        qes.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Queries.production("x09_curation_merge")(spark, sf001)
        .write.format("noop").mode("overwrite").save()
      // The listener bus is async: wait until it goes quiet.
      var (settled, quiet) = (qes.size, 0)
      val deadline = System.nanoTime + 20L * 1000000000L
      while (quiet < 5 && System.nanoTime < deadline) {
        Thread.sleep(50)
        if (qes.size == settled) quiet += 1 else { settled = qes.size; quiet = 0 }
      }
    } finally spark.listenerManager.unregister(l)
    // Vacuity guard: the x09 build runs dozens of eager sub-executions
    // (checkpoints, guard counts, CC-loop counts). If the capture sees
    // almost nothing, the audit is blind — fail loudly.
    assert(qes.size >= 10, s"expected many sub-executions, saw ${qes.size}")
    val bad = qes.asScala.toSeq.flatMap { qe =>
      val nodes = try PlanCapture.allNodes(qe.executedPlan)
                  catch { case _: Throwable => Nil }
      nodes.collect {
        case j: BroadcastNestedLoopJoinExec => s"BNLJ: ${j.simpleStringWithNodeId()}"
        case c: CartesianProductExec => s"Cartesian: ${c.simpleStringWithNodeId()}"
      }
    }
    assert(bad.isEmpty,
      s"banned join shapes inside x09 sub-plans:\n  ${bad.mkString("\n  ")}")
  }

  test("e12's checkpointed sub-plans are cartesian/BNLJ-free") {
    // e12 cuts its pool and pool-vector frames (two eager
    // sub-executions whose plans PlanAuditSpec cannot see through the
    // LogicalRDD leaves) — sweep them with the same listener audit.
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        qes.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Queries.production("e12_mmr_rerank")(spark, sf001)
        .write.format("noop").mode("overwrite").save()
      var (settled, quiet) = (qes.size, 0)
      val deadline = System.nanoTime + 20L * 1000000000L
      while (quiet < 5 && System.nanoTime < deadline) {
        Thread.sleep(50)
        if (qes.size == settled) quiet += 1 else { settled = qes.size; quiet = 0 }
      }
    } finally spark.listenerManager.unregister(l)
    assert(qes.size >= 2, s"expected the pool/pv sub-executions, saw ${qes.size}")
    val bad = qes.asScala.toSeq.flatMap { qe =>
      val nodes = try PlanCapture.allNodes(qe.executedPlan)
                  catch { case _: Throwable => Nil }
      nodes.collect {
        case j: BroadcastNestedLoopJoinExec => s"BNLJ: ${j.simpleStringWithNodeId()}"
        case c: CartesianProductExec => s"Cartesian: ${c.simpleStringWithNodeId()}"
      }
    }
    assert(bad.isEmpty,
      s"banned join shapes inside e12 sub-plans:\n  ${bad.mkString("\n  ")}")
  }
}
