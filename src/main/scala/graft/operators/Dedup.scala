package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CosineSimilarity, GraftNgrams, GraftShingles, Text}

/** Deduplication operators for the training-data pipeline (SURVEY §2.B).
  *
  * Scale design (SURVEY §5): nothing here is O(n²) except the exact
  * verifiers that run AFTER a candidate generator has cut the space —
  *  - d01: one hash shuffle with map-side partial aggregation.
  *  - d02: inverted-index self-join shuffled BY SHINGLE (never all-pairs)
  *    under the stop-shingle df cutoff; intersection sizes fall out of
  *    the join group counts. The LSH operators below are the
  *    unconditional scale path.
  *  - d03: MinHash signatures are one map-side pass (O(n·k) md5s), the
  *    shuffle key is (band, band-signature), and exact Jaccard runs only
  *    on within-bucket candidate pairs.
  *  - d04: SimHash is one map-side pass; candidates come from 8-bit band
  *    buckets; the hamming check is per-candidate-pair only.
  *  - d05: RHP-band-bucketed candidates (shared with e02's tables) +
  *    exact cosine verification within buckets; the all-pairs exact form
  *    survives only as the small-SF recall cross-check (d05ExactPairs).
  */
object Dedup {

  /** Documents plus an id-shifted copy of every row: deterministic input
    * with a known duplicate for every document, so exact dedup has real
    * work to do (the raw synthetic table has no exact duplicates). */
  private def doubledDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** d01: exact dedup — sha2(text) groupBy keeping min(doc_id)
    * (the reference's drop_duplicates, challenge.py:106, content-keyed). */
  def d01DedupExact(s: SparkSession, d: String): DataFrame =
    doubledDocs(s, d)
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** doc_id + distinct 3-gram shingle set (empty-set docs dropped).
    * Uses the native [[GraftShingles]] expression — same output set as
    * the portable Text.shingles (spec-asserted), one codegen'd loop per
    * row instead of interpreted per-element lambdas. */
  private[operators] def shingled(s: SparkSession, d: String): DataFrame =
    shingledDocs(s, Tables.documents(s, d))

  /** [[shingled]] over any (doc_id, text, ...) frame. Spread first:
    * the shingle digest pass runs per row and scan parallelism is
    * row-group-bounded ([[graft.Tables.spread]]). */
  def shingledDocs(s: SparkSession, docs: DataFrame): DataFrame =
    graft.Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), GraftShingles(s, col("text")).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Default document-frequency cutoff for the cataloged d02: shingles
    * appearing in more than this many documents are dropped from the
    * inverted index. A shingle in f docs contributes f² candidate rows to
    * the self-join, so the cap bounds per-shingle work at 64² = 4096 rows
    * regardless of corpus size — the difference between a bounded plan
    * and a stop-shingle blowup at 100 TB. Hot shingles carry ~no Jaccard
    * signal at a 0.5 threshold (each adds at most 1 to |A∩B| while
    * appearing everywhere). At the gate/bench SFs the observed max df is
    * 7 (sf0.01) and 25 (sf0.1), so the capped result is provably
    * identical to the uncapped one there; the oracle mirrors the cutoff
    * so the gate stays exact even when the cap bites. */
  val NgramMaxDf = 64

  /** d02: exact word-3-gram Jaccard pairs (>= 0.5) via inverted index:
    * explode shingles, self-join on shingle, count co-occurrences =
    * |A∩B|, so jaccard = c / (|A| + |B| - c). No all-pairs product, and
    * the [[NgramMaxDf]] stop-shingle cutoff is active in the cataloged
    * plan (mirrored by the oracle's hot-shingle anti-join). */
  def d02NgramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairs(shingled(s, d), threshold = 0.5, maxDf = Some(NgramMaxDf))

  /** Candidate pair rows (id_a, na, id_b, nb), one per shared indexed
    * shingle, id_a < id_b — shared by d02 (Jaccard) and d08
    * (containment).
    *
    * With a df cap (the cataloged form), the cutoff is count(*) OVER
    * (PARTITION BY shingle) riding the same shuffle-by-shingle the
    * self-join needs anyway. This is the ONE deliberately-allowlisted
    * unbounded window partition in the catalog (PlanAuditSpec): a
    * stop-shingle's occurrence list does land in a single window task,
    * which streams it with O(1) aggregation state and drops it at the
    * cap filter — a bounded, named straggler. The skew-free
    * alternatives were built and measured at sf1 (warm, this round)
    * and all lose at every measured SF:
    *  - bounded-collect posting arrays (graft_mink_pairs cap+1 per shingle,
    *    pairs from array suffixes): 11.8 s vs 4.1 s — ObjectHashAggregate
    *    sort-fallback at tens of millions of tiny groups;
    *  - partial-agg stop list + broadcast anti-join (map-side drop):
    *    26-30 s — the exact-df aggregate at full shingle cardinality is
    *    itself sort/spill-bound, and it double-evaluates the shingling
    *    (the same shape that doubled d02's cost in an earlier round).
    * The window's marginal cost over the join's own sort is ~zero; at
    * 100 TB the straggler is one linear spill-sort of the hot list,
    * strictly cheaper than every alternative measured. Without a cap
    * (spec/diagnostic paths) the index is the plain exploded self-join —
    * unbounded by request.
    */
  private def candidatePairs(sh: DataFrame, maxDf: Option[Int]): DataFrame = {
    val exploded = sh.select(col("doc_id"),
      size(col("sh")).cast("bigint").as("n_sh"), explode(col("sh")).as("s"))
    val inv = maxDf.fold(exploded) { cap =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("s")
      exploded.withColumn("df", count(lit(1)).over(w))
        .filter(col("df") <= cap)
        .select("doc_id", "n_sh", "s")
    }
    val a = inv.toDF("id_a", "na", "s")
    val b = inv.toDF("id_b", "nb", "s2")
    a.join(b, col("s") === col("s2") && col("id_a") < col("id_b"))
      .select("id_a", "na", "id_b", "nb")
  }

  def ngramJaccardPairs(sh: DataFrame, threshold: Double,
                        maxDf: Option[Int]): DataFrame = {
    // Length filter (PPJoin-family): j >= t needs |A∩B| >= t/(1+t)·(na+nb)
    // and |A∩B| <= min(na,nb), which together force min >= t·max. Applied
    // on the candidate rows it prunes BEFORE the pair-count shuffle; the
    // result set is provably unchanged.
    candidatePairs(sh, maxDf)
      .filter(col("na").cast("double") >= col("nb") * threshold &&
        col("nb").cast("double") >= col("na") * threshold)
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** d08 containment threshold. */
  val ContainTau = 0.85

  /** d08: Jaccard-CONTAINMENT pairs — |A∩B| / min(|A|,|B|) ≥ τ. Catches
    * the asymmetric dup class symmetric Jaccard (d02) is blind to: a
    * short document whose shingles sit inside a much longer one (quotes,
    * excerpts, page-with-boilerplate-wrapper) has containment ≈ 1 but
    * Jaccard ≈ |A|/|B| ≈ 0. Same inverted index and stop-shingle cap as
    * d02 — the df cap is what bounds the self-join here, since
    * containment admits NO PPJoin-style length prefilter (any length
    * ratio can exceed τ by construction). */
  def d08Containment(s: SparkSession, d: String): DataFrame =
    containmentPairs(shingled(s, d), ContainTau, maxDf = Some(NgramMaxDf))

  /** [[d08Containment]] over any (doc_id, sh) frame. */
  def containmentPairs(sh: DataFrame, threshold: Double,
                       maxDf: Option[Int]): DataFrame = {
    candidatePairs(sh, maxDf)
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        col("na").cast("bigint").as("n_a"), col("nb").cast("bigint").as("n_b"),
        round(col("inter").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Span width (tokens) for d10's cross-document duplicated-span
    * statistics. 8 keeps the windows long enough that sharing one is
    * evidence of copying, not vocabulary overlap, while the synthetic
    * gate docs (tens of tokens) still produce several windows each. */
  val SpanK = 8

  /** Seed for d10's span fingerprints (any fixed value not shared with
    * the minhash/simhash/decontam families). */
  val SpanSeed = 29

  /** d10: cross-document DUPLICATED-SPAN statistics — the exact-substring
    * duplication signal (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): a [[SpanK]]-token window appearing
    * verbatim in more than one document marks copied text that
    * document-level dedup (d01–d05) underweights. Emits per doc: distinct
    * span count, spans shared with >= 1 other doc, spans that would be
    * MASKED under keep-first-occurrence (the span's keeper is the lowest
    * doc_id containing it), and the duplicated fraction.
    *
    * Scale shape: distinct spans per doc via the codegen'd
    * [[graft.functions.GraftShingles]] pass (n_spans is a map-side
    * `size()`, no shuffle); spans are reduced to 60-bit FINGERPRINTS
    * (one codegen'd md5 per span — [[Text.hash60]], the engine-parity
    * hash) BEFORE anything shuffles. The per-fingerprint (df, keeper)
    * pair is (count, min) — both DECOMPOSABLE — so it is computed as a
    * partial-combining HashAggregate: a boilerplate span (license
    * header, nav chrome) collapses to one partial row per map task
    * before the shuffle, and no reducer ever holds an occurrence list.
    * The per-doc outputs then need NO join back to the occurrences:
    * a df=1 span's keeper IS its only document, so
    * n_dup(doc) = n_spans(doc) − #{sp: df=1 ∧ keeper=doc} and
    * n_masked(doc) = n_dup(doc) − #{sp: df≥2 ∧ keeper=doc}, both read
    * off the compact stats frame grouped by keeper (bounded by a doc's
    * own span count, never corpus-skewed). This replaced an earlier
    * Window.partitionBy(fingerprint) form: correct and fast at small
    * SFs, but AQE's skew split applies to shuffle JOINS, not window
    * partitions, so one hot span would pin its whole cross-corpus
    * occurrence list in a single window task at 100 TB. A cross-doc
    * fingerprint collision (p ~ 2^-60 per pair) would count as a
    * shared span on BOTH engines identically — the oracle mirrors the
    * same hash, so the gate stays exact by construction. */
  def d10SpanDup(s: SparkSession, d: String): DataFrame =
    spanDupStats(s, Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[d10SpanDup]] over any (doc_id, text) frame (spec entry). */
  def spanDupStats(s: SparkSession, docs: DataFrame): DataFrame = {
    // spread: the span digest pass runs per row and scan parallelism
    // is row-group-bounded (graft.Tables.spread).
    val sh = graft.Tables.spread(docs, col("doc_id")).select(col("doc_id"),
      GraftShingles(s, col("text"), SpanK).as("sp"))
    val nSpans = sh.select(col("doc_id"),
      size(col("sp")).cast("bigint").as("n_spans"))
    val occ = sh.select(col("doc_id"), explode(col("sp")).as("sptext"))
      .select(col("doc_id"), Text.hash60(col("sptext"), SpanSeed).as("sp"))
    // Spans are distinct within a doc, so count per fingerprint =
    // document frequency; min = keep-first keeper. Decomposable →
    // map-side partial combine; no window, no skewable partition.
    val stats = occ.groupBy("sp")
      .agg(count(lit(1)).as("ndocs"), min(col("doc_id")).as("keeper"))
    // Per-doc counts derive from stats alone (no join back to occ):
    // a df=1 span's keeper is its only document.
    val byKeeper = stats.groupBy(col("keeper").as("doc_id"))
      .agg(sum(when(col("ndocs") === 1L, 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("ndocs") >= 2L, 1L).otherwise(0L)).as("n_kept_dup"))
    val nDup = col("n_spans") - coalesce(col("n_unique"), lit(0L))
    nSpans.join(byKeeper, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        nDup.as("n_dup"),
        (nDup - coalesce(col("n_kept_dup"), lit(0L))).as("n_masked"),
        when(col("n_spans") > 0L,
          round(nDup.cast("double") /
            col("n_spans").cast("double"), 6)).otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Sentinel replacing masked tokens in d11's output. */
  val MaskToken = "[DUP]"

  /** Salt-bucket count for d11's stats-to-positions join: a boilerplate
    * fingerprint's occurrence rows spread over this many reducers. */
  val SpanSaltBuckets = 16

  /** d11: duplicated-span MASKING — the APPLY half of d10 (Lee et al.'s
    * actual transform): every token covered by a [[SpanK]]-token window
    * that appears in more than one document is replaced by [[MaskToken]]
    * in every document EXCEPT the span's keeper (lowest doc_id), and the
    * masked text is re-emitted alongside the masked-token count. Output
    * text is the canonical single-space token re-join (whitespace runs
    * are not preserved — the pipeline's tokenizer-facing form; mirrored
    * by the oracle).
    *
    * Scale shape: positional windows via the codegen'd non-distinct
    * [[graft.functions.GraftNgrams]] pass, reduced to 60-bit
    * fingerprints before shuffling (d10's trick); per-(doc, fingerprint)
    * position lists aggregate on one shuffle (8-byte keys + short
    * position arrays — the fat token text never enters it). The
    * cross-doc df/keeper is a partial-combining HashAggregate over the
    * compact (doc, fp) frame (skew-free by decomposition), re-joined on
    * fp via [[Skew.saltedJoin]]: a boilerplate fingerprint spreads over
    * [[SpanSaltBuckets]] reducers BY CONSTRUCTION. Salting, not AQE, is
    * load-bearing here: OptimizeSkewedJoin only rewrites a join whose
    * shuffle stage sits DIRECTLY under its sorts, and the stats side's
    * final aggregate breaks that pattern — so without the salt this
    * join would pin a hot fingerprint to one reducer exactly like the
    * former Window.partitionBy(fp) it replaces (whose partitions AQE
    * cannot split either). Masked positions
    * explode only for DUP windows (~0 in a clean corpus); the final
    * per-doc rebuild is the one inherent corpus-sized shuffle —
    * masking rewrites the corpus by definition.
    * Deterministic everywhere: position lists are sort_array'd, the
    * rebuild sorts by token position, so output is partitioning-
    * independent and the key hash-gates exactly. */
  def d11SpanMask(s: SparkSession, d: String): DataFrame =
    spanMask(s, Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[d11SpanMask]] over any (doc_id, text) frame (spec entry). */
  def spanMask(s: SparkSession, docs: DataFrame): DataFrame = {
    // spread once: the window pass and the rebuild both tokenize every
    // row, and scan parallelism is row-group-bounded
    // (graft.Tables.spread).
    val docsS = graft.Tables.spread(docs, col("doc_id"))
    // (doc, window-start i [0-based], window fingerprint f)
    val pos = docsS
      .select(col("doc_id"),
        posexplode(GraftNgrams(s, col("text"), SpanK)).as(Seq("i", "g")))
      .select(col("doc_id"), col("i"), Text.hash60(col("g"), SpanSeed).as("f"))
    // ONE explicit (doc, f) exchange feeds BOTH consumers below: the
    // position-list aggregate and the df/keeper stats. Without it,
    // column pruning strips collect_list from the stats branch, the
    // two aggregate exchanges stop being identical, ReuseExchange
    // can't dedupe them, and the ngram+digest pass runs twice
    // (measured ~+60% at sf0.1). An explicit repartition is also
    // exempt from AQE input-size coalescing (the LSH band-table rule).
    val n = s.sessionState.conf.numShufflePartitions
    val pos2 = pos.repartition(n, col("doc_id"), col("f"))
    val pg = pos2.groupBy("doc_id", "f")
      .agg(sort_array(collect_list(col("i"))).as("ii"))
    // One row per (doc, f), so count = distinct-doc df, min = keeper.
    // Decomposable aggregate (skew-free partials); the join back spreads
    // any hot fingerprint over SpanSaltBuckets reducers deterministically
    // (AQE's skew split cannot rewrite this join — see the scaladoc).
    // toDF re-aliases stats' columns: it shares lineage with pg, and a
    // same-attribute join key would trip self-join ambiguity resolution.
    val stats = pos2.select("doc_id", "f").distinct()
      .groupBy("f")
      .agg(count(lit(1)).as("ndocs"), min(col("doc_id")).as("keeper"))
      .filter(col("ndocs") >= 2L)
      .select(col("f"), col("keeper")).toDF("f", "keeper")
    val bad = Skew.saltedJoin(pg, stats, "f", col("doc_id"), SpanSaltBuckets)
      .filter(col("doc_id") =!= col("keeper"))
    // Masked token positions: union of [i, i+K) over bad windows.
    val maskPos = bad
      .select(col("doc_id"), explode(col("ii")).as("i"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + SpanK - 1)).as("j"))
      .distinct()
      .withColumn("mask", lit(true))
    // Rebuild: positional tokens left-join mask, sentinel where masked,
    // deterministic order via the sorted (pos, tok) struct aggregate.
    docsS
      .select(col("doc_id"), posexplode(Text.tokens(col("text"))).as(Seq("j", "tok")))
      .join(maskPos, Seq("doc_id", "j"), "left")
      .select(col("doc_id"), col("j"),
        when(col("mask"), lit(MaskToken)).otherwise(col("tok")).as("tok"),
        coalesce(col("mask"), lit(false)).as("m"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("j"), col("tok")))),
            x => x.getField("tok"))).as("masked_text"))
  }

  private val Bands = 4
  private val Rows = 4

  /** d03: MinHash(16) + LSH(4 bands × 4 rows) candidate pairs,
    * exact-verified at Jaccard >= 0.5. The shuffle key is
    * (band, band-signature); exact verification touches only candidates. */
  def d03MinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshPairs(s, shingled(s, d))

  /** [[d03MinhashLsh]] over any (doc_id, sh) shingle frame — the same
    * band/verify pipeline, factored so the incremental curation path
    * ([[Curation]]) can run it over a document subset. */
  def minhashLshPairs(s: SparkSession, sh: DataFrame): DataFrame =
    verifyJaccard(bandCandidates(s, minhashBands(sh)), sh, 0.5)

  /** Candidate (id_a < id_b) pairs from a band table — the
    * pair-generating self-join half of [[minhashLshPairs]], factored so
    * the fused state builders ([[Curation.curationBase]],
    * [[Incremental.groupLifecycleOf]])
    * can generate candidates off an already-CUT band table instead of
    * re-banding per reference. Explicit repartition: exempt from AQE
    * input-size coalescing, which would otherwise run this self-join in
    * one task (band tables are small; the join output is what
    * explodes). */
  private[operators] def bandCandidates(s: SparkSession,
                                        bands: DataFrame): DataFrame = {
    val n = s.sessionState.conf.numShufflePartitions
    val ba = bands.toDF("id_a", "band", "bsig")
      .repartition(n, col("band"), col("bsig"))
    val bb = bands.toDF("id_b", "band2", "bsig2")
      .repartition(n, col("band2"), col("bsig2"))
    ba
      .join(bb, col("band") === col("band2") && col("bsig") === col("bsig2") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** (doc_id, band, bsig) MinHash-LSH band table — factored from d03 so
    * incremental ingest ([[Incremental.ingestDupGroups]]) can band a NEW
    * batch against the (persisted, at scale) band table of the existing
    * corpus instead of re-banding everything.
    *
    * Signature as a relational plan (explode → codegen'd md5 projection →
    * ONE hash aggregate with 16 min() columns): higher-order lambdas are
    * interpreted per element, a Generate + HashAggregate is whole-stage
    * codegen. Same affine-rehash math as Text.minhashSigFromBase. */
  def minhashBands(sh: DataFrame): DataFrame = {
    val mins = (0 until Bands * Rows).map(j =>
      min(pmod(col("hb") * lit(Text.minhashA(j)) + lit(Text.minhashB(j)),
        lit(Text.MinhashMod))).as(s"mh_$j"))
    val sig = sh
      .select(col("doc_id"), explode(col("sh")).as("sng"))
      .select(col("doc_id"),
        pmod(Text.hash60(col("sng"), 0), lit(Text.MinhashMod)).as("hb"))
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
    sig
      .select(col("doc_id"), explode(array((0 until Bands).map(bnd =>
        struct(lit(bnd).as("band"),
          array((0 until Rows).map(r => col(s"mh_${bnd * Rows + r}")): _*)
            .as("bsig"))): _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bsig").as("bsig"))
  }

  /** Exact-Jaccard verification of (id_a, id_b) candidates against their
    * shingle sets — the verify half of d03, reused by incremental ingest.
    * Touches ONLY candidate rows (two id-equi-joins into the shingle
    * store), never the corpus cross product. */
  def verifyJaccard(cand: DataFrame, sh: DataFrame,
                    threshold: Double): DataFrame = {
    val sa = sh.toDF("id_a", "sha")
    val sb = sh.toDF("id_b", "shb")
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(Text.jaccard(col("sha"), col("shb")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** d04: 32-bit SimHash over shingle features; candidates share an 8-bit
    * band bucket; near-dup = hamming distance <= 3 (with 4 bands, any pair
    * within distance 3 shares at least one clean band — pigeonhole, so
    * banding loses nothing at this radius). */
  def d04Simhash(s: SparkSession, d: String): DataFrame = {
    // Bit votes as a relational explode + one hash aggregate: 32 codegen'd
    // conditional sums instead of 32 interpreted higher-order array passes
    // (vote_i > 0  ⇔  2·ones_i > n). Same math as Text.simhashOfHashes.
    val ones = (0 until 32).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L))).as(s"one_$i"))
    val fpExpr = (0 until 32).map(i =>
      when(col(s"one_$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val fp = shingled(s, d)
      .select(col("doc_id"), explode(col("sh")).as("sng"))
      .select(col("doc_id"), Text.hash60(col("sng"), 0).as("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), ones: _*)
      .select(col("doc_id"), fpExpr.as("fp"))
    val bands = fp.select(col("doc_id"), col("fp"),
      explode(array((0 until 4).map(bnd => struct(lit(bnd).as("band"),
        shiftright(col("fp"), 8 * bnd).bitwiseAND(lit(255L)).as("key"))): _*)).as("x"))
      .select(col("doc_id"), col("fp"), col("x.band").as("band"), col("x.key").as("key"))
    // Same AQE-coalescing exemption as d03/d05: only 4×256 distinct band
    // keys, small input, quadratic output — keep the generation parallel.
    val n = s.sessionState.conf.numShufflePartitions
    val a = bands.toDF("id_a", "fa", "band", "key")
      .repartition(n, col("band"), col("key"))
    val b = bands.toDF("id_b", "fb", "band2", "key2")
      .repartition(n, col("band2"), col("key2"))
    a.join(b, col("band") === col("band2") && col("key") === col("key2") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fa", "fb").distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("bigint").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** d05: embedding near-dup pairs (cosine >= 0.45) via RHP-band
    * candidate generation + exact native-cosine verification — the
    * bucketed scale shape, sharing [[Similarity.rhpBands]] with e02 so a
    * pipeline computes the bucketing once.
    *
    * The bands self-join shuffles by (table, bucket) — never all-pairs —
    * and the candidate distinct keys on (id_a, id_b) only; vectors rejoin
    * per side as equi-joins on id. The hyperplanes are deterministic
    * (md5-parity, fixed at plan time), so the oracle mirrors the exact
    * same candidate set and the gate stays hash-exact at any SF. Recall
    * vs the all-pairs exact form ([[d05ExactPairs]], kept as the small-SF
    * cross-check) is spec-asserted; at the gate threshold each qualifying
    * pair collides in >= 1 of the 16 tables with p ≈ 0.96, and rising
    * sharply with cosine — raise L for a tighter floor at scale.
    *
    * `bits` MUST grow with the corpus ([[Similarity.scaledRhpBits]]):
    * the catalog default (4) is sized for the oracle-gate SFs, and at
    * 200k vectors its 16-buckets-per-table occupancy OOMs the candidate
    * join (measured, BENCH.md sf10). */
  /** Candidate pairs each pair-generation task should own: ~1M pairs is
    * tens of MB of map-side distinct state — comfortably in memory,
    * no sort fallback, no spill. */
  val PairsPerTask = 1000000L

  def d05EmbeddingDedup(s: SparkSession, d: String,
                        bits: Int = Similarity.RhpBits,
                        tables: Int = Similarity.RhpTables): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val bands = Similarity.rhpBands(s, e, bits, tables)
    // Pin the self-join's partitioning explicitly: the band table is tiny
    // (ids only) but the join OUTPUT is the quadratic part, and AQE sizes
    // partitions from shuffle INPUT bytes — left to itself it coalesces
    // this ~MB-scale exchange to one partition and a single task emits
    // every candidate pair. An explicit repartition is exempt from AQE
    // coalescing — but the session default is sized for corpus-ROW
    // inputs, and once expected pairs >> rows it under-partitions the
    // quadratic stage: at sf10 this round's testdata draw collides to
    // 118M candidate pairs, and over 32 tasks every per-task distinct
    // fell back to sort aggregation with ~9.7 GB of spill — 3.5× wall
    // (the r13 "host variance" d05/d12 regression, actually this).
    // Size the pair stage by the EXPECTED pair volume instead — the
    // occupancy model (tables × n × occ/2, occ = n/2^bits) is
    // deterministic from the corpus count, so the plan stays
    // deterministic per SF and the gate unaffected.
    val nVec = Similarity.cachedEmbeddingCount(s, d)
    val occ = math.max(1L, nVec >> bits)
    val expPairs = tables.toLong * nVec * occ / 2
    val n = math.max(s.sessionState.conf.numShufflePartitions,
      math.min(4096L, expPairs / PairsPerTask + 1).toInt)
    val a = bands.toDF("id_a", "tbl", "bkt")
      .repartition(n, col("tbl"), col("bkt"))
    val b = bands.toDF("id_b", "tbl2", "bkt2")
      .repartition(n, col("tbl2"), col("bkt2"))
    // Candidates are NOT pre-deduped across tables: on a calibrated band
    // width, cross-table repeats are ~0.6% of raw candidates (118.4M raw
    // vs 117.7M distinct, measured at sf10), so a pre-scoring distinct
    // re-aggregates the entire quadratic stream to save 0.6% of the
    // cosine work — it was 2 aggregation passes + a 118M-row exchange +
    // 9.7 GB of partial-agg spill. Score first, dedup the FILTERED
    // survivors (output-sized, ~200k rows).
    val cand = a.join(b, col("tbl") === col("tbl2") && col("bkt") === col("bkt2") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // Verify WITHOUT shipping vectors through the quadratic side: the
    // candidate list is 16 bytes/row, the vector table ~260 B/row — a
    // shuffle join attaches va to every pair row and re-exchanges the
    // result to meet vb (measured at sf10's 118M-pair draw: a 35.8 GB
    // exchange + 34.4 GB of SMJ sort spill = ~70% of d05's wall).
    // Broadcasting the BOUNDED vector table keeps the pair stream
    // id-only end-to-end: both lookups are map-side hash probes and the
    // cosine runs in the same stage — the whole quadratic path is ONE
    // exchange-free pipeline from band join to threshold filter. Past
    // the cap (2M vectors ≈ 0.5 GB) it degrades loudly to the shuffle
    // join — at that corpus size the production answer is e05's
    // cell-partitioned index, not d05's all-bands scan. The guard
    // reuses nVec (already cached above) — no per-hint count job — and
    // the two sides are alias-only projections of one scan, so they
    // canonicalize equal and ReuseExchange ships ONE broadcast.
    val va = Skew.boundedBroadcastKnown(e.toDF("id_a", "va"), nVec,
      capRows = 2000000L, tag = "d05.vectors")
    val vb = Skew.boundedBroadcastKnown(e.toDF("id_b", "vb"), nVec,
      capRows = 2000000L, tag = "d05.vectors")
    cand.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(CosineSimilarity(s, col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= 0.45)
      .distinct()
  }

  /** d06: near-dup GROUP RESOLUTION. Pair lists (d02–d05) don't dedup a
    * corpus by themselves — near-duplication is transitive in practice
    * (A≈B, B≈C ⇒ drop two of three), so the pipeline step a real curation
    * run needs is: connected components over the pair graph, then one
    * canonical representative per component. Output: every document with
    * its component's canonical id (= min doc_id in the component), the
    * component size, and the keep/drop verdict.
    *
    * Edges are d03's verified MinHash-LSH pairs (the unconditional scale
    * path among the pair generators); the resolution is generic over any
    * of them ([[connectedComponents]]). */
  def d06DupGroups(s: SparkSession, d: String): DataFrame = {
    val pairs = d03MinhashLsh(s, d).select(col("id_a"), col("id_b"))
    val verts = Tables.documents(s, d).select(col("doc_id").as("id"))
    resolveGroups(connectedComponents(verts, pairs))
  }

  /** Resolve a labelling (id, lbl) into d06's group schema (sizes +
    * min-id keeper) — shared by d06 and every dup-group state key
    * (d09/d16/d17/s10). */
  private[graft] def resolveGroups(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("lbl").as("cid"))
      .agg(count(lit(1)).as("group_size"))
    labels.join(sizes, col("lbl") === col("cid"))
      .select(col("id").as("doc_id"), col("lbl").as("canonical_id"),
        col("group_size"), (col("id") === col("lbl")).as("is_keeper"))
  }

  /** Connected components by iterative min-label propagation with path
    * compression — the Pregel/GraphX CC shape, kept relational:
    *
    *  - hop: l(v) ← min(l(v), min over neighbours u of l(u)) — one
    *    shuffle by vertex id per round;
    *  - compress: l(v) ← l(l(v)) — labels are vertex ids, so compression
    *    is a self-equi-join; with it the label tree halves in depth each
    *    round and convergence is O(log diameter) instead of O(diameter).
    *
    * Each round materializes via localCheckpoint (lineage cut — without
    * it round k replays rounds 1..k−1; on a cluster use a reliable
    * checkpoint dir). The one driver-side value per round is the changed
    * count (the convergence test, same pattern as MLlib iterations). The
    * result is the exact component-min labelling: deterministic,
    * partitioning-independent, engine-mirrorable (the oracle computes the
    * same fixpoint as a recursive CTE).
    *
    * `verts`: one `id` column containing every vertex; `edges`:
    * (id_a, id_b) pairs over those ids. */
  def connectedComponents(verts: DataFrame, edges: DataFrame): DataFrame =
    connectedComponentsCapped(verts, edges, CcDriverEdgeCap)

  /** Undirected edge cap for the DRIVER-FOLDED CC path (below): 2M
    * edges collect as ≤32 MB of longs and union-find in well under a
    * second, and the resulting label map (≤ 2 edges' worth of incident
    * ids = 4M rows) sits exactly at [[Skew.BroadcastRowCap]]'s relabel
    * budget. Tunable per deployment via SPARK_GRAFT_CC_EDGE_CAP (rows);
    * 0 forces the distributed loop everywhere. */
  lazy val CcDriverEdgeCap: Long =
    sys.env.get("SPARK_GRAFT_CC_EDGE_CAP").map(_.toLong).getOrElse(2L << 20)

  /** Size-ADAPTIVE connected components (round 20): the catalog's CC
    * invocations split into two regimes. Base-corpus dup graphs can be
    * arbitrarily large — they need the distributed hop+compress loop.
    * But the chain keys' merge/delete CCs (d09/d16/d17/x09/x18/x19,
    * s10's per-batch re-CC) run over batch-fan-out-BOUNDED touched
    * subgraphs — the same bound their relabel maps already broadcast
    * under — and paying the loop's ~4 jobs × O(log diameter) rounds
    * (hop shuffle, compress self-join, per-round localCheckpoint +
    * convergence count) for a few-thousand-edge graph is pure fixed
    * overhead (measured: each CC invocation ≈ 15-25 driver-visible
    * jobs at sf0.1; x19 chains 6+ of them). The edge set is cut
    * (materialized) ONCE either way; when its measured size is under
    * [[CcDriverEdgeCap]] the edges collect to the driver, union-find
    * with attach-larger-root-under-smaller yields the identical
    * component-min labelling (deterministic, insertion-order
    * independent — the min of a component does not depend on union
    * order; DedupSpec pins equality against the loop), and the label
    * map re-enters as a broadcast local relation — corpus-sized
    * `verts` maps in place, exactly like the ingest relabel joins.
    * Over the cap, the loop runs unchanged on the already-cut edges. */
  private[graft] def connectedComponentsCapped(verts: DataFrame,
                                               edges: DataFrame,
                                               cap: Long): DataFrame = {
    val bidir = ccBidir(edges)
    // bidir is a materialized cut leaf: the count scans cached blocks.
    if (bidir.count() <= 2L * cap) ccDriverFold(verts, bidir)
    else ccLoopWithRounds(verts, bidir)._1
  }

  /** Driver union-find over a (small, pre-counted) bidirectional edge
    * frame; returns the full labelling over `verts`. */
  private def ccDriverFold(verts: DataFrame, bidir: DataFrame): DataFrame = {
    val s = verts.sparkSession
    val rows = bidir.collect()
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x0: Long): Long = {
      var r = x0
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x0 // path compression
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    rows.foreach { e =>
      val a = e.getLong(0); val b = e.getLong(1)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // Every incident id appears as src in at least one bidir row.
    val seen = new scala.collection.mutable.LongMap[Boolean]()
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](rows.length)
    rows.foreach { e =>
      val a = e.getLong(0)
      if (!seen.contains(a)) {
        seen(a) = true
        out.add(org.apache.spark.sql.Row(a, find(a)))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lbl",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val labelDf = s.createDataFrame(out, schema)
    verts.join(broadcast(labelDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
  }

  /** The cut bidirectional edge list shared by both CC paths. Cuts go
    * through Checkpoints.cut (round 19): a bare localCheckpoint carries
    * the origin plan's ESTIMATED sizeInBytes into the new leaf, and the
    * loop's hop⋈hop self-join doubles the estimate's digit count per
    * round. cut() resets the leaf to the measured size and also makes
    * the loop respect the reliable-checkpoint deployment switch. */
  private def ccBidir(edges: DataFrame): DataFrame =
    graft.Checkpoints.cut(edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst"))))

  /** d12: embedding-space duplicate GROUP RESOLUTION with the SemDeDup
    * keeper rule (Abbas et al. 2023, "SemDeDup") — the APPLY half that
    * acts on d05's verified cosine pairs, completing the e07 posture:
    * connected components over the pair graph ([[connectedComponents]],
    * d06's machinery reused), then per group keep the member with the
    * HIGHEST cosine to its assigned coarse centroid
    * ([[Similarity.centroidAffinity]], e03's trained quantizer) — the
    * member that best represents the semantic cluster — rather than
    * d06's min-id convention. Ties break to the lowest vec_id (max_by
    * over (cscore, -id); scores are 6-dp-rounded, mirrored exactly by
    * the oracle's ROW_NUMBER ORDER BY cscore DESC, vec_id).
    *
    * Scale shape: pairs are d05's banded-LSH candidates (never
    * all-pairs), CC iterates only edge-incident vertices, the centroid
    * table broadcasts (<= 16 rows), and keeper/size are decomposable
    * aggregates over the label frame; the final size/keeper join-back
    * by label matches d06's accepted shape. */
  def d12SemanticGroups(s: SparkSession, d: String,
                        bits: Int = Similarity.RhpBits): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val pairs = d05EmbeddingDedup(s, d, bits).select(col("id_a"), col("id_b"))
    val labels = connectedComponents(e.select(col("vec_id").as("id")), pairs)
    val m = labels.join(
        Similarity.centroidAffinityWith(s, e, Similarity.corpusCentroids(s, d)),
        col("id") === col("vec_id"))
      .select(col("id"), col("lbl"), col("cscore"))
    val keepers = m.groupBy(col("lbl").as("klbl"))
      .agg(count(lit(1)).as("group_size"),
        max_by(col("id"), struct(col("cscore"), -col("id"))).as("keeper_id"))
    m.join(keepers, col("lbl") === col("klbl"))
      .select(col("id").as("vec_id"), col("lbl").as("group_id"),
        col("group_size"), col("cscore"), col("keeper_id"),
        (col("id") === col("keeper_id")).as("is_keeper"))
  }

  /** [[connectedComponents]] plus the number of hop+compress rounds it
    * took to converge (including the final no-change round) — the
    * O(log diameter) claim is spec-asserted against this counter on an
    * adversarial long-chain graph, not just stated. */
  def connectedComponentsWithRounds(verts: DataFrame,
                                    edges: DataFrame): (DataFrame, Int) =
    ccLoopWithRounds(verts, ccBidir(edges))

  /** The distributed hop+compress loop over a pre-cut bidirectional
    * edge frame — the over-cap half of [[connectedComponentsCapped]]
    * and the body of [[connectedComponentsWithRounds]]. */
  private def ccLoopWithRounds(verts: DataFrame,
                               bidir: DataFrame): (DataFrame, Int) = {
    // The label-propagation loop runs ONLY over edge-incident vertices:
    // a vertex with no incident edge is its own component by definition
    // and reattaches after convergence with one left join. Near-dup
    // graphs are sparse (dup clusters are a few % of a corpus), so at
    // scale this iterates over the dup subgraph, not the whole corpus.
    val active = graft.Checkpoints.cut(
      bidir.select(col("src").as("id")).distinct())
    var labels = active.select(col("id"), col("id").as("lbl"))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val viaEdges = bidir.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("elbl"))
      val hop = labels.select(col("id"), col("lbl").as("olbl"))
        .join(viaEdges, col("id") === col("dst"), "left")
        .select(col("id"), col("olbl"),
          least(col("olbl"), coalesce(col("elbl"), col("olbl"))).as("hlbl"))
      // Compression: l(v) ≤ v is invariant (labels start at v and only
      // shrink), so l(l(v)) ≤ l(v) and the inner join always matches.
      val next = graft.Checkpoints.cut(hop
        .join(hop.select(col("id").as("pid"), col("hlbl").as("plbl")),
          col("hlbl") === col("pid"))
        .select(col("id"), col("olbl"), col("plbl").as("lbl")))
      changed = next.filter(col("lbl") =!= col("olbl")).count()
      labels = next.select(col("id"), col("lbl"))
      rounds += 1
    }
    val all = verts.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
    (all, rounds)
  }

  /** Word-n-gram width for benchmark decontamination: 8 tokens is the
    * usual contamination window (13-gram in GPT-3's cleanup, 8–10 in
    * open reproductions) — long enough that random overlap is ~zero,
    * short enough to catch paraphrase-free copying. */
  val DecontamN = 8
  val DecontamSeed = 19
  /** 1-in-20 of the corpus plays the held-out benchmark. */
  val DecontamBenchMod = 20

  /** d07: benchmark DECONTAMINATION — the training-data hygiene step the
    * dedup family feeds: flag every training document that shares any
    * [[DecontamN]]-gram with a held-out benchmark/eval set, so eval
    * leakage is dropped before training. Here the "benchmark" is a
    * deterministic 1-in-[[DecontamBenchMod]] md5-slice of the corpus
    * (the synthetic stand-in for a real eval suite); the overlap
    * machinery is the real thing.
    *
    * Shape: one [[GraftShingles]] pass per side, n-grams reduced to
    * 60-bit hashes BEFORE the shuffle (16 bytes shipped per gram, not
    * the 8-token string), distinct-per-side, then an equi-join on the
    * gram hash — never doc×doc. Output: every training doc with its
    * distinct-hit count, matched-benchmark-doc count, and the verdict
    * (zero-hit docs included: the common case, and what makes the result
    * a drop-list you can anti-join on).
    *
    * At 100 TB: a REAL benchmark set is tiny and fixed (MBs), so the
    * gram-hash join's build side broadcasts and the whole check is one
    * map-side pass over the corpus; with a corpus-sized slice as here it
    * degrades gracefully to a shuffle join on the gram hash. */
  def d07Decontaminate(s: SparkSession, d: String): DataFrame =
    decontaminate(s, Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        (pmod(Text.hash60(col("doc_id").cast("string"), DecontamSeed),
          lit(DecontamBenchMod)) === 0).as("is_bench")))

  /** [[d07Decontaminate]] over any (doc_id, text, is_bench) frame — split
    * out so specs can plant known contamination. */
  def decontaminate(s: SparkSession, docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), col("is_bench"),
        explode(GraftShingles(s, col("text"), DecontamN)).as("g"))
      .select(col("doc_id"), col("is_bench"),
        Text.hash60(col("g"), DecontamSeed).as("gh"))
    val bench = grams.filter(col("is_bench"))
      .select(col("gh"), col("doc_id").as("bench_id")).distinct()
    val hits = grams.filter(!col("is_bench"))
      .select(col("doc_id"), col("gh")).distinct()
      .join(bench, "gh")
      .groupBy("doc_id")
      .agg(countDistinct(col("gh")).as("n_hit_ngrams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
    docs.filter(!col("is_bench")).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_ngrams"), lit(0L)).as("n_hit_ngrams"),
        coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"),
        (coalesce(col("n_hit_ngrams"), lit(0L)) > 0).as("contaminated"))
  }

  /** The all-pairs exact form of d05 — quadratic by construction, kept
    * ONLY as the small-SF recall cross-check for the bucketed catalog
    * entry (DedupSpec); never registered in the production catalog. */
  def d05ExactPairs(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val a = e.toDF("id_a", "va")
    val b = e.toDF("id_b", "vb")
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(CosineSimilarity(s, col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= 0.45)
  }

  // ---------------------------------------------------------------- d13

  /** Raw-URL variants for d13, SHARED with the oracle (the page-template
    * pattern of t09): four syntactic spellings of the same canonical
    * target per doc-id group (cid = doc_id DIV 4) — clean; upper-cased
    * scheme/host + default port + fragment; tracking params; trailing
    * slash + ref param. Left = literal chunk, Right = the "cid" field. */
  val urlVariants: Seq[Seq[Either[String, String]]] = Seq(
    Seq(Left("https://www.example.com/articles/"), Right("cid")),
    Seq(Left("HTTPS://WWW.Example.COM:443/articles/"), Right("cid"),
      Left("#section-2")),
    Seq(Left("https://www.example.com/articles/"), Right("cid"),
      Left("?utm_source=feed&utm_campaign=x")),
    Seq(Left("https://www.example.com/articles/"), Right("cid"),
      Left("/?ref=home")))

  /** Tracking query params dropped by canonicalization (utm_*, ref) —
    * shared with the oracle; RE2-safe, no lookaround. */
  val urlTrackingParamPattern = "(utm_[a-z]+|ref)=[^&#]*"

  /** d13: URL canonicalization + exact dedup — the first dedup any web
    * crawl runs (re-crawled/re-linked spellings of one page vastly
    * outnumber content near-dups). Canonicalization rules, in order,
    * all mirrored verbatim in SQL: scheme+host lowercased (paths stay
    * case-sensitive), default ports :80/:443 stripped, fragment
    * dropped, tracking params dropped with separator debris (`?&`,
    * `&&`, trailing `?`/`&`) cleaned, trailing slashes stripped. Then
    * group by canonical form, keep the lowest doc_id, count spellings.
    *
    * Scale shape: canonicalization is a codegen'd map-side regex
    * projection; the one shuffle groups by canonical URL with map-side
    * partial aggregation (d01's shape, string keys). */
  def d13UrlDedup(s: SparkSession, d: String): DataFrame = {
    val cid = expr("doc_id DIV 4").cast("string")
    val variants = urlVariants.map(v => concat(v.map {
      case Left(l)      => lit(l)
      case Right("cid") => cid
      case Right(f)     => sys.error(s"unknown url field $f")
    }: _*))
    val m = col("doc_id") % 4
    val raw = when(m === 0, variants(0)).when(m === 1, variants(1))
      .when(m === 2, variants(2)).otherwise(variants(3))
    urlDedup(Tables.documents(s, d).select(col("doc_id"), raw.as("url")))
  }

  /** [[d13UrlDedup]] over any (doc_id, url) frame (spec entry —
    * adversarial fixtures feed hand-built URLs here). */
  def urlDedup(urls: DataFrame): DataFrame = {
    val u = col("url")
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = regexp_replace(hostport, ":(80|443)$", "")
    val rest = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    val noFrag = regexp_replace(rest, "#.*$", "")
    val noTrack = regexp_replace(noFrag, urlTrackingParamPattern, "")
    val cleaned = regexp_replace(
      regexp_replace(regexp_replace(noTrack, "\\?&", "?"), "&&", "&"),
      "[?&]+$", "")
    val path = regexp_replace(cleaned, "/+$", "")
    val canon = concat(scheme, lit("://"), host, path)
    urls
      .select(col("doc_id"), col("url"), canon.as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min("doc_id").as("keep_id"),
        count(lit(1)).as("n_spellings"),
        countDistinct(col("url")).as("n_distinct_raw"))
  }

  // ---------------------------------------------------------------- d14

  /** Bloom filter size in bits (2^27 = 16 MiB as a bitmap). Sized for
    * real benchmark suites — up to ~10^6 distinct grams keeps the
    * two-probe false-positive rate under ~2×10⁻⁴ — and shared verbatim
    * with the oracle. The two probe positions are disjoint bit slices
    * of the one [[Text.hash60]] digest (bits 0–26 and 27–53), so the
    * filter costs ONE md5 per gram, same as d07's exact path. */
  val BloomBits = 134217728L

  /** d14: BLOOM-FILTER benchmark decontamination — d07's semantics
    * through the constant-state mechanism a 100 TB corpus actually
    * wants. d07's exact form joins corpus grams against the benchmark
    * gram set; sound, but the build side is the full distinct gram set
    * and the check is a (possibly shuffled) join keyed on 8-byte gram
    * hashes. Here the benchmark side is collapsed to its SET-BIT
    * POSITIONS (≤ 2 per distinct gram, ≤ [[BloomBits]] total — MBs
    * regardless of corpus size), the position set broadcasts
    * ([[Skew.boundedBroadcast]]), and the corpus-side check is two
    * broadcast hash joins in the map stage: zero shuffle of gram rows
    * until the final per-doc count. The price is deterministic false
    * positives — identical in both engines because the probe positions
    * are md5-derived, so the gate is still hash-exact.
    *
    * Output per training doc: distinct-gram count, bloom-positive gram
    * count, and the drop verdict (any bloom hit ⇒ flagged — the
    * conservative direction: a false positive over-drops, never
    * leaks). Measured against exact d07 at sf10 (474,857 training
    * docs): 0 false negatives, 1.43% doc-level over-drop (the per-doc
    * FP compounds over its distinct grams — BENCH.md r13). Pipelines
    * that cannot spend the over-drop use d07's exact gram join.
    *
    * Headroom caveat: "broadcasts" holds only while the position set is
    * under [[Skew.BroadcastRowCap]] (4M rows default). At sf10 it is
    * ~1.2M rows — ~3.5× headroom; past the cap boundedBroadcast falls
    * back LOUDLY (stderr + [[Skew.broadcastFallbacks]], tag
    * `d14.positions`) and both probe joins degrade to corpus-gram
    * shuffles — correct but no longer the constant-state shape. A
    * benchmark suite that large should raise SPARK_GRAFT_BROADCAST_CAP
    * (the position set is two longs/row — 4M rows ≈ 64 MB) or shrink
    * [[BloomBits]]. */
  def d14BloomDecontaminate(s: SparkSession, d: String): DataFrame =
    bloomDecontaminate(s, Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        (pmod(Text.hash60(col("doc_id").cast("string"), DecontamSeed),
          lit(DecontamBenchMod)) === 0).as("is_bench")))

  // ---------------------------------------------------------------- d15

  /** d15 link-graph constants (shared literally with the oracle):
    * damping 85/100 in exact integer micros, 8 fixed iterations (e03's
    * bounded-unroll convention), 2 outlinks per document, 1-in-10 links
    * pointing at the hub domain 0 (the planted popularity skew that
    * makes the key prove direction on any draw), ~50 docs per domain. */
  val RankIters = 8
  val RankSeed = 53
  val RankLinksPerDoc = 2
  val RankHubMod = 10L
  val RankDocsPerDomain = 50L

  /** d15: LINK-GRAPH DOMAIN CENTRALITY as a curation quality prior —
    * the PageRank-class signal web-scale curation (CommonCrawl posture)
    * ranks source domains by before sampling: a domain linked from many
    * well-linked domains is a quality prior no per-doc heuristic
    * (t02/t07) or corpus-relative text signal (t08/t10) expresses.
    *
    * Deterministic end-to-end, so the "iterative graph algorithm" is
    * still hash-gated like everything else: the doc→domain edge set is
    * a closed-form grammar (home domain = doc_id mod nDomains with
    * nDomains = max(16, n/50) driver-folded from the corpus count — the
    * scalar-literal rule; 2 md5-derived outlinks per doc, 1 in 10
    * rerouted to hub domain 0), and the rank recurrence is EXACT
    * integer arithmetic: r₀ = 10⁶ micros, per-edge contribution
    * (r_src·w) DIV w_out, update 150000 + 85·Σ DIV 100 — no float, no
    * transcendental, mirrored as 8 unrolled CTE iterations (e03's Lloyd
    * pattern).
    *
    * Scale shape: the edge table builds in ONE pass over the corpus
    * (explode 2 rows/doc → partial-combining (src,dst) count) and is
    * lineage-CUT once for its 8 reuses (the x08 lesson — without the
    * cut every iteration re-runs the corpus scan); each iteration is
    * one equi-join on src (uniform by construction) plus one
    * partial-combining sum by dst — the hub's 10% in-link share
    * map-side combines, so the planted skew never concentrates a task
    * (the d11 lesson does not even need salting here). State is
    * per-domain (corpus/50), never per-doc, and at 100 TB each
    * iteration's shuffle carries only the domain-count frame. */
  def d15DomainRank(s: SparkSession, d: String): DataFrame = {
    // Driver-folded domain-count literal (the scalar-per-frame rule);
    // a bare count() job on the pruned single-column scan.
    val nDom = math.max(16L,
      Tables.documents(s, d).select(col("doc_id")).count() / RankDocsPerDomain)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % nDom).as("src"))
    val links = docs.select(col("src"),
      explode(array((0 until RankLinksPerDoc).map(j =>
        Text.hash60(concat(col("doc_id").cast("string"), lit(s":$j")),
          RankSeed)): _*)).as("h"))
      .select(col("src"),
        when(col("h") % RankHubMod === 0L, 0L)
          .otherwise(pmod(expr(s"h DIV $RankHubMod"), lit(nDom))).as("dst"))
    val doms = graft.Checkpoints.cut(
      docs.groupBy("src").agg(count(lit(1)).as("n_docs"))
        .withColumnRenamed("src", "dom"))
    // Every doc emits exactly RankLinksPerDoc links, so each domain's
    // total outgoing weight is n_docs × that constant — derived off the
    // tiny doms frame instead of a second corpus aggregation.
    val wout = doms.select(col("dom").as("src"),
      (col("n_docs") * RankLinksPerDoc).as("wsum"))
    // No explicit broadcast hints on the domain-keyed frames: at the
    // gate SFs AQE broadcasts them (n/50 rows), while a corpus where
    // domains outgrow the broadcast threshold correctly falls back to
    // a shuffle join — the hint would pin the wrong plan at 100 TB.
    val edgesW = graft.Checkpoints.cut(
      links.groupBy("src", "dst").agg(count(lit(1)).as("w"))
        .join(wout, "src"))
    // The loop carries r only over IN-LINKED domains: a domain nobody
    // links to sits at the damping constant 150000 from iteration 1 on
    // (and at r0 = 10^6 before any), so the source side coalesces to
    // that iteration's default instead of paying a per-iteration join
    // against the full domain frame — one join + one partial-combining
    // aggregate per iteration, nothing else.
    val ranks = (1 to RankIters).foldLeft(
      Option.empty[DataFrame]) { (rOpt, k) =>
      val dflt = if (k == 1) 1000000L else 150000L
      val withR = rOpt match {
        case None    => edgesW.withColumn("r", lit(dflt))
        case Some(r) => edgesW
          .join(r.withColumnRenamed("dom", "src"), Seq("src"), "left")
          .withColumn("r", coalesce(col("r"), lit(dflt)))
      }
      Some(withR
        .select(col("dst"), expr("r * w DIV wsum").as("c"))
        .groupBy("dst").agg(
          (lit(150000L) + expr("85 * sum(c) DIV 100")).as("r"))
        .withColumnRenamed("dst", "dom"))
    }.get
    doms.join(ranks, Seq("dom"), "left")
      .select(col("dom"), col("n_docs"),
        (col("n_docs") * RankLinksPerDoc).as("w_out"),
        coalesce(col("r"), lit(150000L)).as("rank_micros"))
  }

  /** [[d14BloomDecontaminate]] over any (doc_id, text, is_bench) frame —
    * split out so specs can plant known contamination and known
    * near-miss grams. */
  def bloomDecontaminate(s: SparkSession, docs: DataFrame): DataFrame = {
    val m = BloomBits
    val grams = docs
      .select(col("doc_id"), col("is_bench"),
        explode(GraftShingles(s, col("text"), DecontamN)).as("g"))
      .select(col("doc_id"), col("is_bench"),
        Text.hash60(col("g"), DecontamSeed).as("gh"))
    // Benchmark side → distinct set-bit positions (the bloom bitmap,
    // kept relational so the plan stays auditable; bounded by 2 ×
    // distinct bench grams and by the bitmap width itself). ONE explode
    // pass over the bench grams, then a lineage cut: the frame is small
    // by construction but feeds three consumers (two broadcast builds +
    // the boundedBroadcast count) whose lineage would otherwise re-run
    // the bench shingle scan each time.
    val positions = Skew.boundedBroadcast(graft.Checkpoints.cut(
      grams.filter(col("is_bench")).select(col("gh")).distinct()
        .select(explode(array(col("gh") % m, expr(s"gh DIV $m") % m)).as("pos"))
        .distinct()), tag = "d14.positions")
    val train = grams.filter(!col("is_bench"))
      .select(col("doc_id"), col("gh")).distinct()
      .withColumn("p1", col("gh") % m)
      .withColumn("p2", expr(s"gh DIV $m") % m)
    // Two broadcast left joins mark each probe; a gram is bloom-positive
    // iff BOTH probe bits are set.
    val marked = train
      .join(positions.select(col("pos").as("p1"), lit(true).as("h1")), Seq("p1"), "left")
      .join(positions.select(col("pos").as("p2"), lit(true).as("h2")), Seq("p2"), "left")
      .withColumn("bloom_pos", col("h1").isNotNull && col("h2").isNotNull)
    val counts = marked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("bloom_pos"), 1L).otherwise(0L)).as("n_bloom_hits"))
    docs.filter(!col("is_bench")).select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_bloom_hits"), lit(0L)).as("n_bloom_hits"),
        (coalesce(col("n_bloom_hits"), lit(0L)) > 0).as("flagged"))
  }
}
