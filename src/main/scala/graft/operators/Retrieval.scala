package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.Text
import graft.sources.{Sources, StateDir}

/** Lexical retrieval (SURVEY §2 e09): inverted-index BM25 top-k — the
  * keyword sibling of the ANN ladder (e01–e08). Every retrieval/curation
  * stack pairs the two: embedding search finds paraphrases,
  * keyword/BM25 search finds terminology — contamination-by-retrieval
  * audits, hybrid RAG data selection, and query-driven corpus slicing
  * all need the lexical half (d07/d14 only catch verbatim n-grams).
  *
  * The reference has no retrieval operator; this is a beyond-reference
  * capability (VERDICT r13 top-next). The ranking function is BM25 with
  * a RATIONAL idf — `(N − df + ½)/(df + ½)` without the log wrapper —
  * so every score is a ratio of exact integers and the whole key stays
  * inside the no-transcendentals oracle-parity rules. The log is
  * monotone, so per-TERM ranking is order-identical; summed scores
  * weight rare terms harder than the log form (a documented scoring
  * choice, not an approximation error — the gate is exact either way).
  */
object Retrieval {

  /** Query-set rule: documents with doc_id % QueryEvery == 0 are the
    * query side (their DISTINCT terms form the bag-of-words query) —
    * 1% of the corpus, the e01 convention. */
  val QueryEvery = 100

  /** Results per query. */
  val K = 10

  /** BM25 shape constants: k1 = 6/5 (1.2) and b = 3/4 (0.75) as exact
    * rationals — the standard defaults, integer-clearable. */
  val K1Num = 6; val K1Den = 5
  val BNum = 3; val BDen = 4

  /** Stop-term df cap: terms in MORE than N/[[MaxDfDiv]] documents are
    * dropped from the index (and thus from every query). BM25's idf
    * already ~zeroes their contribution; the cap additionally bounds the
    * query-join fan-out per term to df ≤ N/10 rows — the stop-shingle
    * discipline of d02 (Dedup.NgramMaxDf) applied to retrieval, which
    * is what keeps a "the"-class term from joining the whole corpus at
    * 100 TB. On the synthetic gate corpus the bigram df maximum sits
    * WELL under the cap at every SF (46/50 at sf0.01, 338/500 at
    * sf0.1, measured), so the capped result provably equals the
    * uncapped one there — d02's proof pattern; the oracle mirrors the
    * cap so the gate stays exact even where it bites. */
  val MaxDfDiv = 10

  /** Index TERM = word BIGRAM. The synthetic corpus has a ~31-token
    * vocabulary in which every unigram is corpus-wide (min df = 25 of
    * 500 docs — ALL stop terms under any sane cap), so unigram BM25 is
    * degenerate there; word bigrams (~1k vocabulary, median df 28/500)
    * carry real retrieval signal and are a standard lexical index
    * choice (phrase-level matching). Docs under 2 tokens have no terms
    * and are simply unindexed. */
  val TermGram = 2

  /** e09: BM25 top-[[K]] per query doc over the documents table.
    *
    * EXACT-INTEGER scoring: with k1 = 6/5, b = 3/4, avgdl = T/N
    * (T = corpus tokens, N = corpus docs), the per-term score
    *
    *   idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))
    *
    * clears every denominator to
    *
    *   score = (2(N−df)+1) · 44·T·tf  /  (2df+1) · (20·T·tf + 6·T + 18·dl·N)
    *
    * — a ratio of two exact DECIMAL(38,0) integers (≤ ~10²³ at sf10,
    * far under 10³⁸). Each term contributes its MICRO-score
    * `num·10⁶ DIV den` (truncating integer division, positive in both
    * engines), per-(query,doc) totals are exact bigint sums of micros
    * (order-independent — no float accumulation), and the only float
    * ever produced is the display score micros/10⁶ rounded at 6dp.
    *
    * Scale shape: ONE corpus-token exchange — the exploded token frame
    * is explicitly repartitioned by `tok`, and because HashPartitioning
    * on a SUBSET of grouping keys satisfies ClusteredDistribution, the
    * (doc,tok) tf aggregate, the df aggregate, the df-cap join, the
    * query-side filter, and the query join ALL run on that single
    * exchange (plan-asserted in RetrievalSpec). The explicit repartition
    * is also AQE-coalesce-exempt (the LSH band-table rule — the join
    * OUTPUT is what explodes, not its input). Downstream shuffles are
    * candidate-bounded: per-(q,doc) sum ≤ Σ qf·df ≤ |query terms|·N/10
    * rows, then the [[graft.functions.KBest]] bounded heap per query (no
    * window, no sort of the scored relation). Driver-side scalars are
    * exactly two longs (N, T) folded per the scalar-literal rule. */
  def e09Bm25TopK(s: SparkSession, d: String): DataFrame =
    bm25TopK(s, Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** RRF rank constant (the standard 60 of Cormack et al.); shared with
    * the oracle. A list-member's fused contribution is the truncated
    * integer `10⁶ DIV (RrfC + rank)` — exact in both engines. */
  val RrfC = 60

  /** Fused results per query. */
  val RrfK = 10

  /** e10: HYBRID retrieval — reciprocal-rank fusion of the lexical
    * ranking ([[e09Bm25TopK]], BM25 over `documents`) and the dense
    * ranking (e05 IVF×PQ ANN over `embeddings`) for the SAME query
    * items: documents and embeddings share one id space and the
    * id % 100 query convention, so for each query the two systems rank
    * the same corpus from two modalities. This is the production hybrid
    * search shape (every RAG/curation retrieval stack fuses a keyword
    * index with a vector index; RRF is the standard score-free fusion —
    * it needs only RANKS, so BM25-vs-cosine score scales never meet).
    * Embedding coverage is PARTIAL above sf0.01 (vec_id spans the first
    * 40% of doc ids): covered queries fuse both lists, the rest rank
    * lexical-only — exactly the partial-embedding-coverage behavior a
    * production hybrid index has mid-backfill, and the oracle mirrors
    * it (absent list = absent terms, never a dropped query).
    *
    * Fused score = Σ over lists of `10⁶ DIV (RrfC + rank)` (exact
    * integer micros; an item in one list gets one term), ranked
    * (micros DESC, id ASC), top-[[RrfK]] per query. Emits provenance:
    * the item's rank in each source list (null when absent).
    *
    * Scale shape: both inputs are already top-10-per-query frames, so
    * everything past them is candidate-bounded — per query ≤ 20 fused
    * rows BY CONSTRUCTION. One ≤20·|queries|-row shuffle aggregates the
    * union; the final ranking is a bounded sort_array over the per-query
    * candidate struct list (no window over the unbounded q_id space, no
    * join-back through the expensive upstream pipelines). Cost is the
    * sum of the two retrieval pipelines + ε. */
  def e10HybridRrf(s: SparkSession, d: String): DataFrame =
    rrfFuse(
      e09Bm25TopK(s, d).select(col("q_id"), col("doc_id").as("id"), col("rnk")),
      Similarity.e05IvfPq(s, d,
        Similarity.calibratedPqShortlist(s, d))
        .select(col("q_id"), col("c_id").as("id"), col("rnk")))

  /** [[e10HybridRrf]] over any two (q_id, id, rnk) ranked lists (spec
    * entry — planted rankings pin the fusion math). */
  def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame = {
    val micros = expr(s"CAST(1000000 DIV ($RrfC + rnk) AS BIGINT)")
    val u = lex.select(col("q_id"), col("id"), micros.as("m"),
        col("rnk").cast("bigint").as("lex_rnk"), lit(null).cast("bigint").as("den_rnk"))
      .unionByName(dense.select(col("q_id"), col("id"), micros.as("m"),
        lit(null).cast("bigint").as("lex_rnk"), col("rnk").cast("bigint").as("den_rnk")))
    u.groupBy("q_id", "id")
      .agg(sum("m").as("micros"), max("lex_rnk").as("lex_rnk"),
        max("den_rnk").as("den_rnk"))
      // Per-query candidate set <= 2 lists x top-10 rows by construction,
      // so the collect_list buffer is bounded and the FULL sort_array
      // makes the result partitioning-independent (no bare list order).
      .groupBy("q_id")
      .agg(slice(sort_array(collect_list(struct(
        (-col("micros")).as("neg"), col("id"),
        col("micros"), col("lex_rnk"), col("den_rnk")))), 1, RrfK).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("doc_id"),
        round(col("t.micros").cast("double") / 1e6, 6).as("rrf"),
        col("t.lex_rnk").as("lex_rnk"), col("t.den_rnk").as("den_rnk"),
        (col("pos") + 1).cast("bigint").as("rnk"))
  }

  /** Corpus scalars (N docs, T term occurrences) of the one-shot
    * [[bm25TopK]], folded driver-side and re-entered as literals
    * (join-on-literal / unpartitioned-window are the alternatives and
    * both are banned shapes). One narrow aggregate pass; terms per doc
    * = bigram count = greatest(len−1, 0). The incremental paths fold
    * the same two sums off their live `doclens` instead
    * ([[queryPostingsLifecycle]]). */
  private def ntScalars(docs: DataFrame): (Long, Long) = {
    val nt = Tables.spread(docs, col("doc_id")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(greatest(
        size(Text.tokens(col("text"))).cast("bigint") - 1, lit(0L))), lit(0L))
        .as("t")).head()
    (nt.getAs[Long]("n"), nt.getAs[Long]("t"))
  }

  /** (doc_id, dl, tok, tf) postings rows for a (doc_id, text) frame —
    * the inverted-index STATE: one row per (doc, term) with the doc's
    * term count riding along. ONE corpus exchange (explicit repartition
    * by tok, AQE-coalesce-exempt); docs with < [[TermGram]] tokens have
    * no terms and are simply absent (their dl = 0 never enters a
    * score). Postings of DISJOINT doc slices union to the combined
    * corpus's postings verbatim — tf is per-doc, so append is exact. */
  def postings(s: SparkSession, docs: DataFrame): DataFrame = {
    import graft.functions.GraftNgrams
    val nPart = s.sessionState.conf.numShufflePartitions
    val grams = GraftNgrams(s, col("text"), TermGram)
    // The explicit isNotNull matters for EXCHANGE REUSE: the post side
    // of the query join infers isnotnull(doc_id) from the
    // null-rejecting candidate filter and pushes it below the
    // exchange, while the df branch has no such constraint — without
    // the shared filter the two exchange children differ by one Filter
    // node, ReuseExchange can't merge them, and the corpus is
    // exploded+shuffled TWICE (observed in the first plan).
    // spread BEFORE the gram explode: the generate+digest stage
    // otherwise runs on the scan's row-group count (1 task at sf1 —
    // measured 5-10x; see Tables.spread).
    Tables.spread(docs, col("doc_id"))
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        size(grams).cast("bigint").as("dl"),
        explode(grams).as("tok"))
      .repartition(nPart, col("tok"))
      // tf per (doc, term); dl rides along (functionally dependent on
      // doc_id, and tok-partitioning satisfies the grouping's
      // clustering, so NO further exchange for tf, df, or the tf⋈df
      // join downstream).
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
  }

  /** BM25 scoring + bounded top-k over a query-term frame `q`
    * (q_id, tok) and a df-joined postings frame `post`
    * (doc_id, dl, tok, tf, df) — the shared tail of the one-shot and
    * incremental paths (identical Column trees, so the two paths
    * cannot drift arithmetically). */
  private def scoreAndTop(s: SparkSession, q: DataFrame, post: DataFrame,
                          bigN: Long, bigT: Long): DataFrame = {
    val dec = DecimalType(38, 0)
    def d38(c: Column): Column = c.cast(dec)
    val num = d38(lit(2L) * (lit(bigN) - col("df")) + lit(1L)) *
      d38(lit(44L)) * d38(lit(bigT)) * d38(col("tf")) * d38(lit(1000000L))
    val den = d38(lit(2L) * col("df") + lit(1L)) *
      (d38(lit(20L)) * d38(lit(bigT)) * d38(col("tf")) +
        d38(lit(6L)) * d38(lit(bigT)) +
        d38(lit(18L)) * d38(col("dl")) * d38(lit(bigN)))
    val scored = q.join(post, "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id"), num.as("num"), den.as("den"))
      .select(col("q_id"), col("doc_id"),
        expr("num DIV den").cast("bigint").as("micros"))
      .groupBy("q_id", "doc_id")
      .agg(sum("micros").as("micros"))
    // Long-keyed top-k (graft_topk_long over [[graft.functions.KBest]]):
    // the summed micros stay an exact BIGINT through the ranking — the double-keyed
    // form was exact only below 2^53 (~9e15; per-(q,doc) sums approach
    // ~1e15 at sf10-scale doc lengths and pass it at ~10^8-doc corpora,
    // where near-tie ranks would wobble). Only the DISPLAY value is a
    // double (micros/1e6 at 6dp — exact at that magnitude).
    scored
      .groupBy("q_id")
      .agg(graft.functions.TopKByLongScore(
        s, struct(col("micros"), col("doc_id")), K).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "x")))
      .select(col("q_id"), col("x.id").as("doc_id"),
        round(col("x.score").cast("double") / 1e6, 6).as("score"),
        (col("pos") + 1).cast("bigint").as("rnk"))
  }

  /** [[e09Bm25TopK]] over any (doc_id, text) frame (spec entry). */
  def bm25TopK(s: SparkSession, docs: DataFrame): DataFrame = {
    import graft.functions.GraftNgrams
    val (bigN, bigT) = ntScalars(docs)
    val grams = GraftNgrams(s, col("text"), TermGram)
    val tf = postings(s, docs)
    val dfKept = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") * MaxDfDiv <= bigN)
    val post = tf.join(dfKept, "tok")
    // Query side: its OWN 1%-of-corpus scan (the filter pushes to the
    // parquet scan), distinct terms map-side via array_distinct — no
    // shuffle and no third corpus pass; sharing the tok exchange
    // instead would push the %-filter below it and fork the exchange.
    val q = Tables.spread(docs, col("doc_id"))
      .filter(col("doc_id").isNotNull && col("doc_id") % QueryEvery === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(grams)).as("tok"))
    scoreAndTop(s, q, post, bigN, bigT)
  }

  /** e11: INCREMENTAL lexical-index append — e06's deployment posture
    * for the BM25 side: a 100 TB postings index is built ONCE and new
    * crawl batches are APPENDED, never a full rebuild. Unlike the dense
    * index (whose quantizers must be frozen to keep stored codes
    * valid), the lexical state is EXACTLY appendable with no freeze at
    * all: postings rows (doc, term, tf) are per-doc, df/N/T are
    * additive over disjoint doc slices — so base-postings ∪
    * batch-postings IS the combined corpus's index, bit-for-bit.
    *
    * The catalog key rebuilds base state in-query (the d09/e06/x09
    * gated-incremental convention: base = doc_id % IngestMod ≠ 0,
    * batch = the rest) and is gated against e09's oracle VERBATIM —
    * hash-proving append == one-shot indexing on real data every round.
    *
    * The one semantic trap this key exists to pin: every GLOBAL
    * statistic must be recomputed over the MERGED state, never carried
    * stale from the base index — a term under the df cap in the base
    * corpus can cross it after ingest (batch docs all containing it)
    * and must then drop out of every query, and all idf/avgdl values
    * shift with N/T. Stale-base stats are the classic incremental-
    * search-index bug; the verbatim-oracle gate would catch it
    * (RetrievalSpec pins the cap-crossing case on fixtures).
    *
    * Runs as a one-step history over the segmented lifecycle state
    * (e16's): base postings in segment 0, the batch in segment 1, no
    * tombstones — so e11, e14, e16 and their persisted forms share one
    * state format and one query tail ([[queryPostingsLifecycle]]).
    *
    * Scale shape: the live postings frame is lineage-cut
    * ([[graft.Checkpoints.cut]]) — it feeds THREE consumers (df
    * aggregate, df-cap join probe, query-term slice), and without the
    * cut each consumer re-runs the corpus-wide explode (the x08
    * lesson); in production the base segment is a parquet READ of the
    * persisted index, so the ingest pays batch-explode + df-recount,
    * never a base re-index. */
  def e11PostingsAppend(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Incremental.IngestMod
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    postingsAppendTopK(s,
      docs.filter(col("doc_id") % IngestMod =!= 0),
      docs.filter(col("doc_id") % IngestMod === 0))
  }

  /** [[e11PostingsAppend]] over any two disjoint (doc_id, text) slices
    * (spec entry — fixtures pin df-cap crossing and frame equality with
    * the one-shot index). */
  def postingsAppendTopK(s: SparkSession, base: DataFrame,
                         batch: DataFrame): DataFrame =
    queryPostingsLifecycle(s,
      appendPostingsLifecycle(s, postingsLifecycleOf(s, base), batch))

  /** e14: takedown propagation through the lexical index — e11's
    * additivity run in REVERSE: postings rows are per-doc, so the
    * remaining index is exactly the persisted postings minus the
    * deleted docs' rows, and N/T fold off the remaining doclens. It
    * runs as a one-step history over the segmented lifecycle state:
    * the takedown lands as tombstones ([[deletePostingsLifecycle]]) and
    * every GLOBAL statistic is recomputed over the live view by
    * [[queryPostingsLifecycle]] — which is where the one semantic trap
    * lives, REVERSED: a term over the df cap in the full corpus can
    * drop back UNDER it after the delete (its df fell faster than N)
    * and must RE-ENTER every query; carrying the old capped term set
    * forward would silently keep it dead (TakedownSpec pins the
    * re-cross on fixtures). Deleted docs also stop querying — the
    * query-term slice reads the live postings, so their rows vanish
    * without a separate filter.
    *
    * Gated against e09's oracle ON THE REMAINING CORPUS (the d09
    * convention inverted): from-scratch indexing of corpus-minus-
    * deleted must hash-equal the delete-propagated index, every run. */
  def e14PostingsDelete(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Incremental.{DeleteMod, DeleteRes}
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    postingsDeleteTopK(s, docs,
      docs.filter(col("doc_id") % DeleteMod === DeleteRes))
  }

  /** [[e14PostingsDelete]] over any corpus and deleted slice (spec
    * entry): the whole corpus in segment 0, the deleted docs
    * tombstoned. */
  def postingsDeleteTopK(s: SparkSession, all: DataFrame,
                         deletedDocs: DataFrame): DataFrame =
    queryPostingsLifecycle(s,
      deletePostingsLifecycle(s, postingsLifecycleOf(s, all), deletedDocs))

  /** Persist the delete-capable lexical index: the lifecycle set
    * ([[writePostingsLifecycleState]]) over the FULL corpus. Its
    * `doclens` covers EVERY doc — including dl = 0 docs absent from
    * postings — so a takedown moves N and T exactly from state alone
    * (a deleted no-postings doc still counted in N). */
  def writeDeletePostingsState(s: SparkSession, d: String, dir: String): Unit =
    writePostingsLifecycleState(s, postingsLifecycleOf(s,
      Tables.documents(s, d).select(col("doc_id"), col("text"))), dir)

  /** Per-doc term count (doc_id, dl) covering EVERY doc — including
    * dl = 0 docs absent from postings, so N/T derive from it exactly. */
  private def doclensOf(docs: DataFrame): DataFrame =
    Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"),
        greatest(size(Text.tokens(col("text"))).cast("bigint") - 1, lit(0L))
          .as("dl"))

  /** The production takedown: tombstone the deleted ids in the
    * PERSISTED lifecycle state and query the live view — N/T fold off
    * the live doclens, the global stats are recomputed over the live
    * postings, and no text is ever re-read. Frame-equal to the in-query
    * e14 when fed the same slice (TakedownSpec). */
  def deletePostingsFromState(s: SparkSession, dir: String,
                              deletedIds: DataFrame): DataFrame =
    queryPostingsLifecycle(s,
      deletePostingsLifecycle(s, readPostingsLifecycleState(s, dir), deletedIds))

  /** Persist the BASE lexical index (production shape, [[graft.IncBench]]
    * prices the marginal): the lifecycle set over the docs outside the
    * `mod` batch — the WHOLE state an exact BM25 append needs
    * (df/avgdl/idf all derive from postings + doclens; nothing is
    * frozen, nothing goes stale). */
  def writePostingsState(s: SparkSession, d: String, dir: String,
                         mod: Int = graft.operators.Incremental.IngestMod): Unit =
    writePostingsLifecycleState(s, postingsLifecycleOf(s,
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % mod =!= 0)), dir)

  /** The production ingest: base state READ BACK from parquet, the
    * batch appended as a new segment, global stats recomputed over the
    * live view — frame-equal to the in-query [[e11PostingsAppend]]
    * (RetrievalSpec) and priced per batch by [[graft.IncBench]]. */
  def appendPostingsFromState(s: SparkSession, d: String, dir: String,
                              mod: Int = graft.operators.Incremental.IngestMod): DataFrame =
    queryPostingsLifecycle(s, appendPostingsLifecycle(s,
      readPostingsLifecycleState(s, dir),
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % mod === 0)))

  // ---------------------------------------------------------------
  // e16: the COMPOSED lexical-index lifecycle (d17's sibling) —
  // append → delete → append through one carried index state. The
  // state is SEGMENTED (the LSM shape every production search index
  // converges on): appends land new segment rows and never touch old
  // ones, deletes land TOMBSTONES and never rewrite postings, and
  // liveness is decided at read time — a row from segment s of doc X
  // is live iff no tombstone (X, k) with k ≥ s exists. Re-ingesting a
  // deleted doc therefore works with NO tombstone cleanup: its new
  // rows carry a segment strictly greater than every tombstone that
  // killed the old ones. Global stats (N, T, df, the cap) are
  // recomputed over the LIVE view per query — nothing is ever carried
  // stale, which is where both the append trap (e11: a term crossing
  // the cap) and the delete trap (e14: crossing back) live. It is the
  // family's one state format: e11 and e14 (in-query and persisted)
  // are one-step histories over it. The storage debt this design
  // accrues (dead rows + segment files) is exactly what
  // [[compactPostingsLifecycle]] pays down.
  // ---------------------------------------------------------------

  /** Segmented lexical-index state: postings and doclens rows stamped
    * with their ingest segment, plus the tombstone set. */
  final case class PostingsLifecycleState(
      postings: DataFrame, // (seg, doc_id, dl, tok, tf)
      doclens: DataFrame,  // (seg, doc_id, dl) — every doc, incl. dl=0
      tombs: DataFrame,    // (doc_id, killed_at_seg)
      curSeg: Int)

  private def stamped(seg: Int, df: DataFrame): DataFrame =
    df.select((lit(seg).as("seg") +: df.columns.toSeq.map(col)): _*)

  private def emptyTombs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, Int)].toDF("doc_id", "killed_at_seg")
  }

  /** Bootstrap segment 0 from a corpus. */
  def postingsLifecycleOf(s: SparkSession, docs: DataFrame): PostingsLifecycleState =
    PostingsLifecycleState(stamped(0, postings(s, docs)),
      stamped(0, doclensOf(docs)), emptyTombs(s), 0)

  /** Append a batch: new segment rows only — O(batch) work, old
    * segments and tombstones untouched (re-ingested ids outlive their
    * tombstones by the segment rule). Batch ids must be disjoint from
    * LIVE ids (the ingest precondition everywhere). */
  def appendPostingsLifecycle(s: SparkSession, st: PostingsLifecycleState,
                              batch: DataFrame): PostingsLifecycleState = {
    val seg = st.curSeg + 1
    PostingsLifecycleState(
      st.postings.unionByName(stamped(seg, postings(s, batch))),
      st.doclens.unionByName(stamped(seg, doclensOf(batch))),
      st.tombs, seg)
  }

  /** Delete a takedown list: O(takedown) tombstone rows, zero postings
    * IO. Stamping the CURRENT segment kills every existing row of the
    * doc and none of any later re-ingest. */
  def deletePostingsLifecycle(s: SparkSession, st: PostingsLifecycleState,
                              deletedIds: DataFrame): PostingsLifecycleState =
    st.copy(tombs = st.tombs.unionByName(deletedIds
      .select(col("doc_id"), lit(st.curSeg).as("killed_at_seg"))))

  /** The tombstones as a liveness filter, or None when there are none —
    * an append-only history pays no liveness join. Broadcast
    * size-guarded on their exact count — takedown-sized in any sane
    * history, shuffle-join degrade if hostile (never materialized
    * whole). Not cut: the count and the two readers (doclens and
    * postings) each re-run only the takedown list's own scan, cheaper
    * than a checkpoint job on every query. */
  private def tombsOf(tombs: DataFrame): Option[DataFrame] = {
    val n = tombs.count()
    if (n == 0) None
    else Some(Skew.boundedBroadcastKnown(tombs.select(
      col("doc_id").as("t_doc"), col("killed_at_seg").as("t_seg")), n))
  }

  /** The live view of segmented rows: a row of segment s of doc X is
    * live iff no tombstone (X, k) with k ≥ s exists. */
  private def liveRows(rows: DataFrame, tombs: Option[DataFrame]): DataFrame =
    tombs.fold(rows)(t => rows.join(t,
      col("doc_id") === col("t_doc") && col("t_seg") >= col("seg"), "left_anti"))

  /** Query the live index — the one query tail of every incremental
    * path (e11, e14, e16 and their persisted forms): N/T fold from the
    * live doclens (one narrow aggregate — so the scalars CANNOT go
    * stale), and the GLOBAL df/cap/query stats are recomputed over the
    * live postings, lineage-cut first (three consumers). */
  def queryPostingsLifecycle(s: SparkSession,
                             st: PostingsLifecycleState): DataFrame = {
    val tombs = tombsOf(st.tombs)
    val ntRow = liveRows(st.doclens, tombs)
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("t")).head()
    val bigN = ntRow.getAs[Long]("n")
    val live = graft.Checkpoints.cut(liveRows(st.postings, tombs).drop("seg"))
    val dfKept = live.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") * MaxDfDiv <= bigN)
    // Query terms off the postings state itself: one (doc, term) row
    // each — already distinct, no raw-text re-scan of the query docs.
    val q = live.filter(col("doc_id") % QueryEvery === 0)
      .select(col("doc_id").as("q_id"), col("tok"))
    scoreAndTop(s, q, live.join(dfKept, "tok"), bigN, ntRow.getAs[Long]("t"))
  }

  /** e16: the composed lifecycle gate for the lexical index — the SAME
    * slice history as d17 (base, append batch₁, delete the d16 slice,
    * append batch₂ re-ingesting a third of it) run through the
    * segmented state, gated against e09's from-scratch oracle ON THE
    * COMPOSED SURVIVOR SET. What only the composition can catch: a
    * re-ingested doc's OLD rows resurrecting (its df/tf would double),
    * a tombstone outliving the re-ingest (the doc would stay
    * invisible), and any stat carried stale across three operations —
    * including a term crossing the df cap in BOTH directions across
    * the history. */
  def e16PostingsLifecycle(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Incremental
    val (base, batch1, delIds, batch2) = Incremental.composedDocSlices(s, d)
    val st0 = postingsLifecycleOf(s, base)
    val st1 = appendPostingsLifecycle(s, st0, batch1)
    val st2 = deletePostingsLifecycle(s, st1, delIds)
    queryPostingsLifecycle(s, appendPostingsLifecycle(s, st2, batch2))
  }

  /** Persist segmented lifecycle state (postings, doclens, tombs and the
    * one-row meta holding curSeg) as one [[StateDir.publish]]ed set. The
    * later steps are each one [[StateDir.commit]]:
    * [[appendPostingsLifecycleState]] adds segment files to postings and
    * doclens and replaces meta together; [[deletePostingsLifecycleState]]
    * adds tombstone files. */
  def writePostingsLifecycleState(s: SparkSession,
                                  st: PostingsLifecycleState, dir: String): Unit =
    StateDir.publish(dir, LifecycleTables.zip(
      Seq(st.postings, st.doclens, st.tombs, metaOf(s, st.curSeg))))

  private val LifecycleTables = Seq("postings", "doclens", "tombs", "meta")

  private def metaOf(s: SparkSession, curSeg: Int): DataFrame = {
    import s.implicits._
    Seq(curSeg).toDF("cur_seg").coalesce(1)
  }

  def readPostingsLifecycleState(s: SparkSession, dir: String): PostingsLifecycleState = {
    val Seq(post, lens, tombs, meta) = StateDir.read(s, dir, LifecycleTables: _*)
    PostingsLifecycleState(post, lens, tombs, meta.head().getAs[Int]("cur_seg"))
  }

  private def curSegOf(s: SparkSession, dir: String): Int =
    StateDir.read(s, dir, "meta").head.head().getAs[Int]("cur_seg")

  /** The production append: O(batch) new segment files in postings and
    * doclens and the meta bump, committed as one version. */
  def appendPostingsLifecycleState(s: SparkSession, dir: String,
                                   batch: DataFrame): Unit = {
    val seg = curSegOf(s, dir) + 1
    StateDir.commit(dir, Seq(
      StateDir.Edit("postings", Some(stamped(seg, postings(s, batch))), _ => false),
      StateDir.Edit("doclens", Some(stamped(seg, doclensOf(batch))), _ => false),
      StateDir.Edit("meta", Some(metaOf(s, seg)), _ => true)))
  }

  /** The production delete: O(takedown) tombstone rows committed as new
    * tombs files, zero postings IO. */
  def deletePostingsLifecycleState(s: SparkSession, dir: String,
                                   deletedIds: DataFrame): Unit =
    StateDir.commit(dir, Seq(StateDir.Edit("tombs", Some(deletedIds
      .select(col("doc_id"), lit(curSegOf(s, dir)).as("killed_at_seg"))), _ => false)))

  /** Query persisted state (the production read path). */
  def queryPostingsLifecycleState(s: SparkSession, dir: String): DataFrame =
    queryPostingsLifecycle(s, readPostingsLifecycleState(s, dir))

  /** Compaction bin-pack target (bytes per output file). */
  val CompactTargetBytes: Long = 128L << 20

  /** COMPACTION — the third lifecycle operation a nightly pipeline
    * runs: the segment/tombstone design makes appends and deletes O(new
    * rows), and pays for it in dead rows and small files; compaction
    * folds the tombstones in (dead rows dropped), bin-packs the
    * surviving rows to ~[[CompactTargetBytes]] files (coalesce — a
    * file-count collapse, never a shuffle), and clears the tombstone
    * set. The LIVE view is frame-equal before and after (the
    * CompactionSpec gate — compaction has no query semantics of its
    * own), and curSeg is untouched so later appends keep monotone
    * segments. The compacted tables replace postings, doclens, tombs
    * and meta in one [[StateDir.commit]]; the old files go only after
    * the new version is in. Sizing uses the PRE-compaction bytes from
    * the manifest — an overestimate when many rows are dead, so the
    * packing errs toward a few more files, never giant ones. */
  def compactPostingsLifecycle(s: SparkSession, dir: String,
                               targetBytes: Long = CompactTargetBytes): Unit = {
    val st = readPostingsLifecycleState(s, dir)
    val tombs = tombsOf(st.tombs)
    val sizes = StateDir.tables(s, dir)
    def packed(rows: DataFrame, sub: String): DataFrame =
      liveRows(rows, tombs)
        .coalesce(packFileCount(s, sizes(sub).files.values.sum, targetBytes))
    writePostingsLifecycleState(s, PostingsLifecycleState(
      packed(st.postings, "postings"), packed(st.doclens, "doclens"),
      emptyTombs(s), st.curSeg), dir)
  }

  /** Compaction output file count: byte-targeted, with a PARALLELISM
    * floor that matters only at the small end — a sub-targetBytes state
    * packed to ONE file makes the next scan ONE task (parquet splits at
    * row-group boundaries and a small file is one split; measured
    * 2.8 → 12.4 s on the post-compaction query at sf1), so when the
    * data is big enough to care (≥ 1 MB/file) we keep up to
    * defaultParallelism files. At scale the byte target dominates and
    * the floor is irrelevant — exactly the production posture
    * (parallelism at 100 TB comes from file COUNT at ~128 MB each). */
  private[graft] def packFileCount(s: SparkSession, bytes: Long,
                                   targetBytes: Long): Int = {
    val byTarget = (bytes + targetBytes - 1) / targetBytes
    val parFloor = math.min(s.sparkContext.defaultParallelism.toLong,
      bytes / (1L << 20))
    math.max(1L, math.max(byTarget, parFloor)).toInt
  }

  /** Live file count of the state table at `path` (`<set dir>/<table>`),
    * from its manifest (the fragmentation metric compaction reports). */
  private[graft] def partFileCount(s: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    StateDir.tables(s, p.getParent.toString)(p.getName).files.size
  }
}
