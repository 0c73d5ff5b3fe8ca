package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.operators.Retrieval

/** e09 BM25 semantics on planted fixtures plus the one-corpus-exchange
  * plan claim. */
class RetrievalSpec extends SparkSpecBase {
  import spark.implicits._

  // 30 docs, cap df <= 3: doc 0 is the query (0 % QueryEvery == 0);
  // docs 1/2 share its "alpha beta" bigram with tf 3 and 1; docs 3..29
  // all carry "hot hot" (df 28 > 3 -> stop term, dropped) which doc 0
  // also contains — without the cap they would all be hits.
  private def fixture = {
    val rows = Seq(
      (0L, "alpha beta gamma hot hot"),
      (1L, "alpha beta alpha beta alpha beta"),
      (2L, "alpha beta x0 x0")) ++
      (3L to 29L).map(i => (i, s"hot hot u$i v$i"))
    rows.toDF("doc_id", "text")
  }

  test("bm25: tf ranks, df cap drops hot terms, self excluded, ties impossible by id") {
    val out = Retrieval.bm25TopK(spark, fixture)
      .orderBy("q_id", "rnk").collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet == Set(0L), s"only doc 0 is a query, got ${byQ.keySet}")
    val hits = byQ(0L).map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id")))
    // only the "alpha beta" sharers match (the hot bigram is capped
    // away); tf=3/dl=5 beats tf=1/dl=3 under BM25's saturation
    assert(hits.toSeq == Seq((1L, 1L), (2L, 2L)),
      s"expected docs 1,2 in that order, got ${hits.toSeq}")
    val s1 = byQ(0L).find(_.getAs[Long]("rnk") == 1L).get.getAs[Double]("score")
    val s2 = byQ(0L).find(_.getAs[Long]("rnk") == 2L).get.getAs[Double]("score")
    assert(s1 > s2 && s2 > 0.0)
  }

  test("bm25 scores are exact-integer micros: partitioning cannot change them") {
    val a = Retrieval.bm25TopK(spark, fixture).collect().toSet
    val b = Retrieval.bm25TopK(spark, fixture.repartition(7)).collect().toSet
    assert(a == b, "scores/ranks must be partitioning-independent")
  }

  // --- e10 RRF fusion -------------------------------------------------

  // 1000000 DIV (60 + rnk): rnk 1 -> 16393, 2 -> 16129, 3 -> 15873.
  test("rrf: both-list items sum their terms, single-list items keep one, ties break by id") {
    val lex = Seq((0L, 10L, 1L), (0L, 11L, 2L), (1L, 20L, 1L))
      .toDF("q_id", "id", "rnk")
    val den = Seq((0L, 11L, 1L), (0L, 12L, 2L), (1L, 21L, 1L))
      .toDF("q_id", "id", "rnk")
    val r = Retrieval.rrfFuse(lex, den).orderBy("q_id", "rnk").collect()
    val q0 = r.filter(_.getAs[Long]("q_id") == 0L)
      .map(x => (x.getAs[Long]("rnk"), x.getAs[Long]("doc_id"),
        x.getAs[Double]("rrf"), x.getAs[java.lang.Long]("lex_rnk"),
        x.getAs[java.lang.Long]("den_rnk"))).toSeq
    // id 11: 16129 + 16393 = 32522; id 10: 16393; id 12: 16129.
    assert(q0 == Seq(
      (1L, 11L, 0.032522, java.lang.Long.valueOf(2L), java.lang.Long.valueOf(1L)),
      (2L, 10L, 0.016393, java.lang.Long.valueOf(1L), null),
      (3L, 12L, 0.016129, null, java.lang.Long.valueOf(2L))), s"got $q0")
    // q 1: ids 20 and 21 tie at 16393 micros -> id ASC breaks it.
    val q1 = r.filter(_.getAs[Long]("q_id") == 1L)
      .map(x => (x.getAs[Long]("rnk"), x.getAs[Long]("doc_id"))).toSeq
    assert(q1 == Seq((1L, 20L), (2L, 21L)), s"got $q1")
  }

  test("rrf: disjoint 10+10 lists cut to RrfK, higher-micros pairs retained") {
    val lex = (1L to 10L).map(r => (0L, 100L + r - 1, r)).toDF("q_id", "id", "rnk")
    val den = (1L to 10L).map(r => (0L, 200L + r - 1, r)).toDF("q_id", "id", "rnk")
    val r = Retrieval.rrfFuse(lex, den).orderBy("rnk").collect()
    assert(r.length == Retrieval.RrfK)
    // per-rank micros tie lex/dense pairwise; id ASC interleaves them.
    assert(r.map(_.getAs[Long]("doc_id")).toSeq ==
      Seq(100L, 200L, 101L, 201L, 102L, 202L, 103L, 203L, 104L, 204L))
  }

  test("rrf fusion is partitioning-independent") {
    val lex = (1L to 10L).flatMap(q => (1L to 10L).map(r => (q, q * 100 + r, r)))
      .toDF("q_id", "id", "rnk")
    val den = (1L to 10L).flatMap(q => (1L to 10L).map(r => (q, q * 100 + 5 + r, r)))
      .toDF("q_id", "id", "rnk")
    val a = Retrieval.rrfFuse(lex, den).collect().toSet
    val b = Retrieval.rrfFuse(lex.repartition(7), den.repartition(3)).collect().toSet
    assert(a == b)
  }

  // --- e11 incremental postings append ---------------------------------

  test("e11: append == one-shot rebuild, frame-equal on the fixture corpus") {
    val all = fixture
    val base = all.filter(col("doc_id") % 3 =!= 0)
    val batch = all.filter(col("doc_id") % 3 === 0)
    val inc = Retrieval.postingsAppendTopK(spark, base, batch).collect().toSet
    val full = Retrieval.bm25TopK(spark, all).collect().toSet
    assert(inc == full, "incremental postings merge must equal one-shot indexing")
    assert(inc.nonEmpty)
  }

  test("e11: global df recomputed over merged state — a term crossing the cap drops out") {
    // Base (20 docs): term "k k" in query doc 0 and doc 1 (df 2,
    // 2*10 <= 20 -> indexed) -> base-only index retrieves doc 1.
    val base = Seq(
      (0L, "k k q0a q0b"),
      (1L, "k k z1 z1")) ++ (2L to 19L).map(i => (i, s"f$i g$i"))
    val baseDf = base.toDF("doc_id", "text")
    // Batch: +5 docs ALL containing "k k": merged df = 7, N = 25,
    // 7*10 > 25 -> the term is now a stop term and must vanish from
    // every query. Stale-base df would keep retrieving doc 1.
    val batchDf = (20L to 24L).map(i => (i, s"k k w$i"))
      .toDF("doc_id", "text")
    val baseOnly = Retrieval.postingsAppendTopK(spark, baseDf,
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val merged = Retrieval.postingsAppendTopK(spark, baseDf, batchDf)
    val baseHits = baseOnly.filter(col("q_id") === 0L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val mergedHits = merged.filter(col("q_id") === 0L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(baseHits == Set(1L), s"base index retrieves the sharer, got $baseHits")
    assert(mergedHits.isEmpty,
      s"after ingest the term is df-capped away globally, got $mergedHits")
    // and the merged result still equals a one-shot rebuild
    val full = Retrieval.bm25TopK(spark, baseDf.unionByName(batchDf)).collect().toSet
    assert(merged.collect().toSet == full)
  }

  test("e11: persisted-state append == in-query key (production ingest shape)") {
    val dir = tempDir("graft-postings").toString
    Retrieval.writePostingsState(spark, sf001, dir)
    val fromState = Retrieval.appendPostingsFromState(spark, sf001, dir)
      .collect().toSet
    val inQuery = Queries.production("e11_postings_append")(spark, sf001)
      .collect().toSet
    assert(fromState.nonEmpty)
    assert(fromState == inQuery,
      "reading base postings back from parquet must not change any result")
  }

  test("e11: persisted base state takes a delete — equals one-shot bm25 on base-minus-deleted") {
    import graft.operators.Incremental.{DeleteMod, DeleteRes}
    // mod 3, not the default 5: every query doc (id % 100 == 0) is
    // ≡ 0 mod 5, so a mod-5 base holds no queries; mod 3 keeps 100,
    // 200 and 400 in the base.
    val mod = 3
    val dir = tempDir("graft-postings-del").toString
    Retrieval.writePostingsState(spark, sf001, dir, mod)
    val docs = Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % mod =!= 0)
    val isDeleted = col("doc_id") % DeleteMod === DeleteRes
    val got = Retrieval.queryPostingsLifecycle(spark,
      Retrieval.deletePostingsLifecycle(spark,
        Retrieval.readPostingsLifecycleState(spark, dir),
        docs.filter(isDeleted).select("doc_id")))
      .collect().toSet
    val scratch = Retrieval.bm25TopK(spark, base.filter(!isDeleted)).collect().toSet
    assert(got.nonEmpty)
    assert(got == scratch,
      "a takedown over the persisted base index must equal indexing the survivors")
    assert(got != Retrieval.bm25TopK(spark, base).collect().toSet,
      "the takedown must change the results")
  }

  test("e09 production: ONE corpus-wide exchange, the rest candidate-bounded; no window") {
    val df = Queries.production("e09_bm25_topk")(spark, sf001)
    // Execute THIS QueryExecution (a write would plan a fresh one), so
    // AQE finalizes in place and runtime exchange reuse is visible.
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
    // repartition(tok) + per-(q,doc) sum + per-q topk = 3 real
    // exchanges; the tf/df/query consumers must REUSE the tok exchange
    // (ReusedExchange), not replay the corpus scan. At gate SFs the
    // Tables.spread guard adds up to 2 more RAW-row exchanges (the
    // corpus pass and the pushed-down 1% query slice) — absent at
    // production scale where the scan has enough splits, and they
    // cannot merge because the pushed filters differ below them.
    assert(shuffles.size <= 5,
      s"expected <= 5 exchanges (tok/agg/topk + 2 spread), got ${shuffles.size}")
    assert(nodes.exists(_.nodeName.toLowerCase.contains("reusedexchange")),
      "tf consumers must reuse the single tok exchange")
    assert(!nodes.exists(_.nodeName.toLowerCase.contains("window")),
      "e09 must not plan a window")
  }
}
