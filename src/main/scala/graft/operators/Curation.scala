package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.StateDir
import graft.functions.{GraftShingles, Text}

/** The curation DECISION operator (SURVEY §2.H): the end-to-end
  * composition CurationPipelineSpec exercises, materialized as ONE
  * total decision frame — one row per document with the final verdict
  * and its provenance. This is the artifact a training-data run
  * actually consumes: an auditable keep/drop verdict with the reason, the
  * near-dup group resolution, and the split assignment for survivors.
  *
  * Stages (each an already-gated catalog operator, composed as plans —
  * no glue materialization):
  *   1. benchmark quarantine — the held-out eval slice (d07's
  *      deterministic 1-in-20 md5 rule) never trains;
  *   2. quality gate — t07's exact-integer keep rules;
  *   3. decontamination — d07's n-gram-overlap verdicts;
  *   4. near-dup groups over the CLEAN survivors — d03's verified
  *      MinHash-LSH pairs (restricted to clean docs on both sides),
  *      resolved by d06's connected components;
  *   5. keeper policy — KEEP-BEST-QUALITY: the group member with the
  *      highest t02 quality score (6-dp-rounded; ties to the lowest
  *      doc_id), the policy a real dedup runs instead of min-id;
  *   6. split — x05's stable hash split for kept docs.
  *
  * Output (total — every input doc_id appears exactly once, no nulls):
  * stage ∈ {benchmark, low_quality, contaminated, duplicate, kept}
  * with that precedence; group_id/group_size/keeper_id describe the
  * near-dup component for clean docs (-1/0/-1 sentinels otherwise);
  * keeper_id maps every duplicate to its surviving representative —
  * the redirect table a downstream join consumes; split is x05's
  * train/val/test for kept rows, 'none' otherwise; keep ⟺ stage='kept'.
  *
  * Scale shape: every stage keeps its parent operator's audited plan
  * (t07's single GramStats pass, d07's gram-hash join — a broadcast
  * against a real MB-scale benchmark, d03's banded LSH — never
  * all-pairs, CC over edge-incident vertices only), and the assembly
  * is doc_id/label equi-joins over corpus-sparse frames. The stage
  * verdicts are decomposable per-doc flags, so the union'd decision
  * frame partitions like the corpus.
  *
  * The INCREMENTAL half ([[curationState]]/[[mergeCuration]]/
  * [[curationDelta]] and their persisted-dir wrappers) is the shape a
  * pipeline runs DAILY: the decision frame and its supporting
  * structures are persisted once per corpus, and a new batch is merged
  * for its marginal cost — see the scaladoc on each method for the
  * boundedness argument. Exactness (incremental == from-scratch on the
  * combined corpus) is frame-asserted by CurationIncSpec, including the
  * one genuinely non-monotone case: a batch minting new benchmark docs
  * can CONTAMINATE previously-clean corpus docs, whose removal can
  * SPLIT a near-dup component — handled by re-running CC only on the
  * touched components from the persisted pair graph. */
object Curation {

  /** The is-benchmark rule (d07's deterministic 1-in-20 md5 slice). */
  private def isBenchCol = pmod(
    Text.hash60(col("doc_id").cast("string"), Dedup.DecontamSeed),
    lit(Dedup.DecontamBenchMod)) === 0

  /** Fused base build (round-19 optimization): the decision frame AND
    * every persisted-state frame off ONE set of corpus passes, each
    * multiply-consumed core lineage-cut once.
    *
    * The previous decide-then-[[curationStateFrom]] shape paid every
    * corpus pass twice — the decision pipeline ran shingles/LSH/quality/
    * split/grams, then the state builder re-ran all of them from the raw
    * corpus (guide §1 measured at sf0.1: the pieces sum to ~2.5 s warm
    * but x08 alone took 5.9 s and the gated state builders paid the
    * whole set again). Three further measured changes, all
    * result-identical:
    *  - the decision needs only the BOOLEAN contamination hit, so the
    *    gram semi-join replaces d07's countDistinct aggregates
    *    (n_hit_ngrams/n_bench_docs are d07 OUTPUTS, never consumed
    *    here) — 1.27 → 1.00 s warm at sf0.1;
    *  - shingles/LSH run over CLEAN docs only (the state already stored
    *    clean-only bands/shingles; endpoint filters commute through the
    *    candidate self-join, so pre-restricting equals the old
    *    generate-over-all-then-filter — the same commutation note the
    *    state builder carried);
    *  - `staged` is cut once (its five consumers each re-ran the
    *    quality-filter + gram-contamination lineage).
    * The lazily-derived frames (pairs-with-label, cleanGrams) stay
    * uncut: they are cheap joins OF cut leaves, and a caller that never
    * reads them (x08 consumes only `.decisions`) pays nothing. */
  private[graft] def curationBase(s: SparkSession, docs: DataFrame): CurationState = {
    def c(df: DataFrame) = graft.Checkpoints.cut(df)
    val marked = docs.select(col("doc_id"), isBenchCol.as("is_bench"))
    val benchGrams = c(gramsOf(s, docs.filter(isBenchCol)).select("gh").distinct())
    val gramsNB = c(gramsOf(s, docs.filter(!isBenchCol)))
    // d07's frame covers only non-bench docs; bench rows take the
    // 'benchmark' branch first, so the left-join null never decides.
    val contam = gramsNB.join(benchGrams, Seq("gh"), "leftsemi")
      .select("doc_id").distinct().withColumn("contaminated", lit(true))
    val q = TextAnalysis.qualityFilter(s, docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("keep").as("q_keep"))
    val staged = c(marked.join(q, "doc_id").join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_bench"), "benchmark")
          .when(!col("q_keep"), "low_quality")
          .when(coalesce(col("contaminated"), lit(false)), "contaminated")
          .otherwise("clean").as("stage0")))
    val clean = staged.filter(col("stage0") === "clean").select("doc_id")
    val shClean = c(Dedup.shingledDocs(s, docs.join(clean, "doc_id")))
    val bands = c(Dedup.minhashBands(shClean))
    val pairs = c(Dedup.verifyJaccard(Dedup.bandCandidates(s, bands), shClean, 0.5)
      .select(col("id_a"), col("id_b")))
    val labels = Dedup.connectedComponents(
      clean.select(col("doc_id").as("id")), pairs).toDF("doc_id", "lbl")
    val quality = c(TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality")).join(clean, "doc_id"))
    val splits = c(Sampling.stratSplit(docs)
      .select(col("doc_id"), col("split")).join(clean, "doc_id"))
    val decisions = c(assembleDecisions(labels, quality, splits,
      staged.filter(col("stage0") =!= "clean")))
    val statePairs = pairs
      .join(decisions.select(col("doc_id").as("id_a"),
        col("group_id").as("lbl")), "id_a")
      .select("id_a", "id_b", "lbl")
    CurationState(decisions, bands, shClean, statePairs, quality, splits,
      benchGrams, gramsNB.join(clean, "doc_id"))
  }

  /** Resolve clean-doc labels + per-doc quality + splits + non-clean
    * verdicts into the final decision frame — the assembly tail shared
    * by every path (from-scratch, full merge, delta). `labels` may
    * cover a SUBSET of components (the delta path feeds only changed
    * ones); group stats aggregate whatever membership it carries, so
    * the caller must pass complete components. */
  private def assembleDecisions(labels: DataFrame, quality: DataFrame,
                                split: DataFrame, nonClean: DataFrame): DataFrame = {
    val m = labels.join(quality, "doc_id")
    val groups = m.groupBy("lbl")
      .agg(count(lit(1)).as("group_size"),
        max_by(col("doc_id"), struct(col("quality"), -col("doc_id")))
          .as("keeper_id"))
    val cleanRows = m.select("doc_id", "lbl").join(groups, "lbl")
      .join(split, "doc_id")
      .select(col("doc_id"),
        when(col("doc_id") === col("keeper_id"), "kept")
          .otherwise("duplicate").as("stage"),
        col("lbl").as("group_id"), col("group_size"), col("keeper_id"),
        when(col("doc_id") === col("keeper_id"), col("split"))
          .otherwise("none").as("split"),
        (col("doc_id") === col("keeper_id")).as("keep"))
    val dropRows = nonClean
      .select(col("doc_id"), col("stage0").as("stage"),
        lit(-1L).as("group_id"), lit(0L).as("group_size"),
        lit(-1L).as("keeper_id"), lit("none").as("split"),
        lit(false).as("keep"))
    cleanRows.unionByName(dropRows)
  }

  /** [[x08CurationDecide]] over any documents frame (doc_id, text, lang,
    * n_chars, ...) — the from-scratch decision, [[curationBase]]'s
    * decision half (the state frames it doesn't read are lazy and never
    * evaluated). */
  def curationDecideDocs(s: SparkSession, docs: DataFrame): DataFrame =
    curationBase(s, docs).decisions

  def x08CurationDecide(s: SparkSession, d: String): DataFrame =
    curationDecideDocs(s, Tables.documents(s, d))

  /** x09: the incremental curation MERGE as a gated key (d09/e06's
    * pattern): build base-corpus state in-query for the doc_id ≢ 0 mod
    * [[Incremental.IngestMod]] slice, then [[mergeCuration]] the
    * held-out 20% batch. The merge is frame-equal to
    * [[curationDecideDocs]] on the full corpus, so the oracle is x08's
    * mirror VERBATIM — the gate hash-proves incremental == from-scratch
    * on every run, on real data, including the non-monotone
    * component-split path (the batch's benchmark docs contaminate base
    * docs, splitting their components).
    *
    * NOTE ON THE BENCH NUMBER: like d09/e06, this self-contained form
    * pays base-build + merge so the oracle sees one closed plan; the
    * production marginal from persisted state is priced by
    * [[IncBench]]'s x08 phases. */
  def x09CurationMerge(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val mod = Incremental.IngestMod
    val base = docs.filter(!(pmod(col("doc_id"), lit(mod)) === 0))
    val batch = docs.filter(pmod(col("doc_id"), lit(mod)) === 0)
    // [[curationBase]] materializes the state cores — the in-query
    // analog of writeCurationState + readState. Production state is
    // parquet (opaque to the optimizer); rebuilding it transparently
    // in-query would (a) re-run the base pipeline once per downstream
    // state reference and (b) leak foldable literals (the -1 group_id
    // of non-clean decision rows) into the merge's anti-join keys,
    // where FoldablePropagation folds the key away and plans a banned
    // BroadcastNestedLoopJoin. The merge's only multiply-consumed state
    // frames (decisions, shingles) are cut leaves; the lazily-derived
    // pairs/cleanGrams are single-consumed joins of cut leaves.
    mergeCuration(s, curationBase(s, base), batch)
  }

  // -------------------------------------------------------------------
  // Incremental curation: persisted state + marginal batch merge
  // -------------------------------------------------------------------

  /** Everything a pipeline persists between curation runs. All frames
    * cover the BASE corpus only:
    *  - decisions: the x08 output (the artifact downstream consumes);
    *  - bands/shingles: d03's LSH band table + shingle store for CLEAN
    *    docs (non-clean docs can never pair, so storing them would be
    *    waste);
    *  - pairs: the verified clean-clean pair graph, labeled by its
    *    component (so a component's subgraph is one label-filter away —
    *    the structure that makes component SPLITS re-computable without
    *    touching the corpus);
    *  - quality/splits: per-doc keeper inputs for clean docs (a
    *    duplicate can become keeper when groups restructure, so its
    *    quality and split must be on hand without re-reading its text);
    *  - benchGrams: the benchmark's decontamination gram-hash set;
    *  - cleanGrams: (doc_id, gh) for clean docs — the decontamination
    *    index that lets NEW benchmark grams flag old docs map-side. */
  final case class CurationState(decisions: DataFrame, bands: DataFrame,
                                 shingles: DataFrame, pairs: DataFrame,
                                 quality: DataFrame, splits: DataFrame,
                                 benchGrams: DataFrame, cleanGrams: DataFrame)

  /** Distinct [[Dedup.DecontamN]]-gram hashes per doc — d07's gram
    * projection, reused for the persisted decontamination index. */
  private def gramsOf(s: SparkSession, docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(GraftShingles(s, col("text"), Dedup.DecontamN)).as("g"))
      .select(col("doc_id"),
        Text.hash60(col("g"), Dedup.DecontamSeed).as("gh"))
      .distinct()

  /** Build the persisted curation state for a base corpus (in-memory
    * frames; [[writeCurationState]] lands them as parquet). The
    * once-per-corpus cost — every later batch pays only [[mergeCuration]].
    * Fused with the decision build ([[curationBase]]): every corpus pass
    * runs once, shared between the decision frame and the state frames. */
  def curationState(s: SparkSession, base: DataFrame): CurationState =
    curationBase(s, base)

  /** The shared intermediates of a batch merge (built once, consumed by
    * the full and delta forms; package-visible so ScaleGuardSpec can
    * assert the fan-out bounds on the real frames). */
  private[graft] final case class MergeParts(
      stagedB: DataFrame, batchClean: DataFrame, removed: DataFrame,
      split: Incremental.TouchedSplit, merged: DataFrame,
      quality: DataFrame, splits: DataFrame,
      // state-forward halves (the composed lifecycle carries them into
      // the next state version; a one-shot merge ignores them):
      batchShingles: DataFrame, batchBands: DataFrame, newPairs: DataFrame,
      newBenchGrams: DataFrame, batchCleanGrams: DataFrame) {

    /** The merged clean-doc labelling (doc_id, lbl): untouched
      * components through the merged map — all of them (`full`), or only
      * those incident to new edges (the delta) — and split survivors and
      * clean batch docs by id. */
    def labels(full: Boolean): DataFrame =
      Incremental.relabeled(merged, split.untouched,
        split.survivors.unionByName(batchClean.toDF("id")), allOld = full)
        .toDF("doc_id", "lbl")
  }

  /** Merge a new batch into persisted curation state. Work is bounded by
    * the batch plus what it disturbs:
    *  - per-doc stages (bench/quality/contamination) run on the batch
    *    only; the batch's NEW benchmark grams broadcast against the
    *    persisted cleanGrams index to find old docs they contaminate —
    *    one map-side scan, no gram recompute (contamination is MONOTONE:
    *    the gram set only grows, so old verdicts can only flip
    *    clean → contaminated, never back);
    *  - the clean component graph then takes ONE group-graph update
    *    ([[Incremental]]'s steps): a contaminated old doc leaves the
    *    pair graph, which can SPLIT its component, so the removed docs
    *    split the components they touch ([[Incremental.touchedSplit]] —
    *    label-filtered persisted subgraphs, never the corpus); batch
    *    docs band-probe the live band table ([[Incremental.batchPairs]]);
    *    one edge-incident CC ([[Incremental.edgeCC]]) runs over the
    *    surviving subgraph ∪ the new pairs lifted to the UNTOUCHED
    *    components' labels (survivors and batch docs stay raw — a
    *    survivor's old label no longer names its piece), so the CC, its
    *    output and the relabel map are bounded by touched components +
    *    the batch's FAN-OUT, never the batch itself;
    *  - group stats re-aggregate only changed components' members.
    * The only corpus-sized passes are map-side: the cleanGrams semi-join
    * and (full form only) the relabel of the decision frame.
    *
    * Broadcasts here are SIZE-GUARDED ([[Skew.boundedBroadcast]]): the
    * hinted frames (new bench grams, touched labels, touched buckets,
    * the relabel map) are fan-out-bounded under the daily-batch
    * assumption, but a hostile batch (~100% near-dups of the corpus)
    * pushes fan-out toward corpus scale — the guard counts each
    * materialized frame and lets an oversized one degrade to a shuffle
    * join instead of a forced driver collect.
    *
    * Lineage-cut caveat (cluster deployments): the [[graft.Checkpoints
    * .cut]]s below — needed so multiply-referenced batch-bounded frames
    * don't re-run their corpus-sized upstreams per consumer, measured
    * 27.7 vs 6.3 s at a 2% sf1 batch — default to EXECUTOR-LOCAL
    * storage. On a real cluster an executor loss during the merge then
    * fails the job (no lineage to recompute) and it must be
    * resubmitted; a batch merge is minutes of work, so rerun-on-failure
    * is the default trade. Pipelines that cannot rerun SET
    * `spark.graft.reliableCheckpointDir` (SPARK_GRAFT_CONF passthrough)
    * and every cut becomes a reliable `checkpoint()` against that dir —
    * frame-equal either way (CheckpointModeSpec), premium priced in
    * BENCH.md. */
  private[graft] def mergeParts(s: SparkSession, st: CurationState,
                                batch: DataFrame): MergeParts = {
    // --- batch per-doc stages ---
    val markedB = batch.select(col("doc_id"), isBenchCol.as("is_bench"))
    val qB = TextAnalysis.qualityFilter(s, batch.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("keep").as("q_keep"))
    val gramsB = gramsOf(s, batch)
    // Checkpointed so (a) its two consumers don't re-run the batch gram
    // pass and (b) the broadcast guard below can count it for free.
    val bgNew = gramsB.join(markedB.filter(col("is_bench")), "doc_id")
      .select("gh").distinct()
      .transform(graft.Checkpoints.cut)
    // Batch contamination checks against the COMBINED benchmark gram
    // set (base store ∪ batch bench grams) — exactly d07 on the
    // combined corpus restricted to batch docs.
    val bgAll = st.benchGrams.unionByName(bgNew).distinct()
    val contamB = gramsB.join(markedB.filter(!col("is_bench")), "doc_id")
      .join(bgAll, Seq("gh"), "leftsemi")
      .select("doc_id").distinct()
      .withColumn("contaminated", lit(true))
    // Lineage cuts on the small, multiply-referenced frames (the d10/d11
    // lesson): stagedB feeds the verdict union, batchClean (4 consumers)
    // and the delta filter; removed feeds touched/survivors/subEdges
    // (both sides)/build/newContam and its lineage is the corpus-sized
    // gram-index semi-join. Without the cuts, every downstream reference
    // re-runs that upstream IN THE FINAL PLAN (measured at sf1 mod50:
    // the final assembly pass alone cost 25.9 s, the warm IncBench
    // marginal 27.7 s — batch-size-INDEPENDENT because the re-run
    // upstreams are corpus-sized; with the cuts the marginal is 6.3 s at
    // a 2% batch / 9.3 s at 20%, tracking the batch again. Both frames
    // are batch-bounded, ≤ batch + disturbed rows).
    val stagedB = markedB.join(qB, "doc_id")
      .join(contamB, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_bench"), "benchmark")
          .when(!col("q_keep"), "low_quality")
          .when(coalesce(col("contaminated"), lit(false)), "contaminated")
          .otherwise("clean").as("stage0"))
      .transform(graft.Checkpoints.cut)
    val batchClean = stagedB.filter(col("stage0") === "clean").select("doc_id")

    // --- old docs newly contaminated by the batch's benchmark grams ---
    // Guarded: bgNew grows with the batch's benchmark gram count; over
    // the cap the semi-join shuffles instead of broadcasting.
    val removed = st.cleanGrams
      .join(Skew.boundedBroadcast(bgNew), Seq("gh"), "leftsemi")
      .select("doc_id").distinct()
      .transform(graft.Checkpoints.cut)

    // --- the group-graph update: the removed docs split the components
    // they touch, the batch's clean docs probe the live bands, and one
    // CC runs over the surviving subgraph ∪ the lifted new pairs.
    // Batch/old id spaces are disjoint (ids are assigned once,
    // corpus-wide — d09's same precondition).
    val oldClean = st.decisions.filter(col("stage").isin("kept", "duplicate"))
      .select(col("doc_id").as("id"), col("group_id").as("lbl"))
    val split = Incremental.touchedSplit(oldClean, st.pairs, removed.toDF("id"))
    // Cut (round 19): referenced by the band table, the verify's sa/sb,
    // and the carried batchShingles — uncut, the batch shingle pass
    // re-ran per reference.
    val shB = graft.Checkpoints.cut(
      Dedup.shingledDocs(s, batch).join(batchClean, "doc_id"))
    // Cut: consumed by the merge CC's edge lift AND carried forward
    // into composed state (its lineage is the whole candidate+verify
    // pipeline).
    val newPairs = Incremental.batchPairs(s,
        st.bands.join(removed, Seq("doc_id"), "left_anti"), st.shingles, shB)
      .transform(graft.Checkpoints.cut)
    val merged = Incremental.edgeCC(split.subEdges
      .unionByName(Incremental.lifted(newPairs, split.untouched)))

    val qualB = TextAnalysis.qualityScore(batch)
      .select(col("doc_id"), col("quality")).join(batchClean, "doc_id")
    val splitB = Sampling.stratSplit(batch)
      .select(col("doc_id"), col("split")).join(batchClean, "doc_id")
    MergeParts(stagedB, batchClean, removed, split, merged,
      st.quality.unionByName(qualB), st.splits.unionByName(splitB),
      shB, Dedup.minhashBands(shB), newPairs, bgNew,
      gramsB.join(batchClean, "doc_id"))
  }

  /** The merged decision frame off precomputed [[MergeParts]]: `full`
    * re-emits the whole corpus ([[mergeCuration]]), otherwise only the
    * rows whose decision changed ([[curationDelta]]). Non-clean rows are
    * the batch's drops and the newly-contaminated old docs, plus the old
    * corpus's standing drops when `full`. */
  private def decisionsFrom(st: CurationState, p: MergeParts,
                            full: Boolean): DataFrame = {
    val drops = p.stagedB.filter(col("stage0") =!= "clean")
      .unionByName(p.removed
        .select(col("doc_id"), lit("contaminated").as("stage0")))
    assembleDecisions(p.labels(full), p.quality, p.splits,
      if (!full) drops
      else drops.unionByName(
        st.decisions.filter(!col("stage").isin("kept", "duplicate"))
          .select(col("doc_id"), col("stage").as("stage0"))))
  }

  /** The FULL merged decision frame over base ∪ batch — frame-equal to
    * [[curationDecideDocs]] on the combined corpus (CurationIncSpec).
    * Re-emits the whole corpus (one map-side relabel scan); the row-set
    * a daily pipeline persists is [[curationDelta]]. */
  def mergeCuration(s: SparkSession, st: CurationState,
                    batch: DataFrame): DataFrame =
    decisionsFrom(st, mergeParts(s, st, batch), full = true)

  /** The DELTA of a merge — only rows whose decision changed: every
    * batch doc, every newly-contaminated old doc, and every member of a
    * component that gained/lost members or was relabeled (its
    * group_size/keeper/stage fields change even when its label does
    * not). Upserting the delta over the old decisions reproduces
    * [[mergeCuration]] row for row (CurationIncSpec asserts it), so a
    * daily batch writes O(batch fan-out + touched components), never
    * the corpus. */
  def curationDelta(s: SparkSession, st: CurationState,
                    batch: DataFrame): DataFrame =
    decisionsFrom(st, mergeParts(s, st, batch), full = false)

  /** Persist the curation state for the base slice (doc_id ≢ 0 mod
    * `mod`) of a corpus — the once-per-corpus artifact [[IncBench]]'s
    * curation phases price. */
  def writeCurationState(s: SparkSession, d: String, dir: String,
                         mod: Int = Incremental.IngestMod): Unit = {
    val base = Tables.documents(s, d)
      .filter(!(pmod(col("doc_id"), lit(mod)) === 0))
    publishState(curationState(s, base), dir)
  }

  /** The table names of a persisted [[CurationState]], in field order. */
  private val StateTables = Seq("decisions", "bands", "shingles", "pairs",
    "quality", "splits", "benchgrams", "cleangrams")

  private def publishState(st: CurationState, dir: String): Unit =
    StateDir.publish(dir, StateTables.zip(Seq(st.decisions, st.bands,
      st.shingles, st.pairs, st.quality, st.splits, st.benchGrams,
      st.cleanGrams)))

  private def readState(s: SparkSession, dir: String): CurationState = {
    val Seq(decisions, bands, shingles, pairs, quality, splits, benchGrams,
      cleanGrams) = StateDir.read(s, dir, StateTables: _*)
    CurationState(decisions, bands, shingles, pairs, quality, splits,
      benchGrams, cleanGrams)
  }

  private def batchOf(s: SparkSession, d: String, mod: Int): DataFrame =
    Tables.documents(s, d).filter(pmod(col("doc_id"), lit(mod)) === 0)

  // -------------------------------------------------------------------
  // Takedown through the curation decision frame — the delete sibling
  // of mergeCuration (d16's machinery lifted to the decision schema).
  // -------------------------------------------------------------------

  /** The takedown-eligible slice: doc_id ≡ DeleteRes (mod DeleteMod)
    * AND not a benchmark row. Benchmark rows are exempt BY SEMANTICS,
    * not convenience: a takedown targets the TRAINING corpus, while
    * the benchmark gram registry is a separate immutable artifact —
    * and the exemption is what keeps contamination MONOTONE under
    * deletes (removing benchmark grams could flip old docs back to
    * clean and MERGE components, destroying the touched-component
    * bound; a registry that never shrinks cannot). */
  private[graft] def deleteSlice(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % Incremental.DeleteMod === Incremental.DeleteRes
        && !isBenchCol)
      .select("doc_id")

  /** Propagate a takedown list through persisted curation state:
    * per-doc verdicts of survivors are UNCHANGED (quality and bench
    * membership are per-doc; contamination compares against the
    * immutable registry), so the only moving structure is the clean
    * component graph — [[Incremental.deleteFromGroups]] re-resolves
    * exactly the touched components (keeper death here re-elects by
    * QUALITY, x08's max_by policy, because [[assembleDecisions]] owns
    * the keeper rule) — and the decision frame reassembles from the
    * new labels + persisted quality/splits. Work = one map-side
    * anti-join over the corpus-sized frames + takedown-fan-out re-CC.
    * The x18 gate hash-proves this equals from-scratch x08 on
    * corpus-minus-deleted. */
  def deleteCuration(s: SparkSession, decisions: DataFrame, pairs: DataFrame,
                     quality: DataFrame, splits: DataFrame,
                     deleted: DataFrame): DataFrame = {
    val delIds = deleted.select("doc_id")
    val oldClean = decisions.filter(col("stage").isin("kept", "duplicate"))
      .select(col("doc_id").as("id"), col("group_id").as("lbl"))
    val labels = Incremental.deleteFromGroups(s, oldClean,
        pairs, delIds.toDF("id"))
      .toDF("doc_id", "lbl")
    val nonClean = decisions.filter(!col("stage").isin("kept", "duplicate"))
      .join(delIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("stage").as("stage0"))
    assembleDecisions(labels, quality, splits, nonClean)
  }

  /** x18: curation takedown as a gated key — builds full-corpus state
    * in-query (x09's checkpoint discipline) and propagates the
    * deterministic slice; the oracle is x08's mirror VERBATIM on
    * corpus-minus-deleted, so quality-keeper re-election, component
    * splits, and decision-frame reassembly are hash-proved every run.
    * Production marginal: [[deleteCurationFromState]], priced by
    * [[graft.IncBench]] --deletes. */
  def x18CurationDelete(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // The delete never reads cleanGrams — that state field stays lazy/
    // unevaluated. pairs stays uncut: deleteFromGroups consumes the
    // labeled pair graph exactly once (into an immediately-cut
    // subEdges), and the frame is a cheap join of two cut leaves.
    val st0 = curationBase(s, docs)
    deleteCuration(s, st0.decisions, st0.pairs, st0.quality, st0.splits,
      deleteSlice(docs))
  }

  /** Persist FULL-corpus curation state (the artifact a takedown runs
    * against — [[writeCurationState]] holds out a batch for the merge
    * gate; deletes start from the complete current state). */
  def writeCurationStateAll(s: SparkSession, d: String, dir: String): Unit =
    publishState(curationState(s, Tables.documents(s, d)), dir)

  /** The production curation takedown from PERSISTED state: reads only
    * decisions + pairs + quality + splits (the delete never touches
    * bands/shingles/grams — no new edges, immutable registry). */
  def deleteCurationFromState(s: SparkSession, d: String, dir: String): DataFrame = {
    val Seq(decisions, pairs, quality, splits) =
      StateDir.read(s, dir, "decisions", "pairs", "quality", "splits")
    deleteCuration(s, decisions, pairs, quality, splits,
      deleteSlice(Tables.documents(s, d)))
  }

  /** The production merge: full combined decisions from PERSISTED state. */
  def mergeCurationFromState(s: SparkSession, d: String, dir: String,
                             mod: Int = Incremental.IngestMod): DataFrame =
    mergeCuration(s, readState(s, dir), batchOf(s, d, mod))

  /** The production delta: changed decision rows from PERSISTED state. */
  def curationDeltaFromState(s: SparkSession, d: String, dir: String,
                             mod: Int = Incremental.IngestMod): DataFrame =
    curationDelta(s, readState(s, dir), batchOf(s, d, mod))

  // -------------------------------------------------------------------
  // x19: the COMPOSED curation lifecycle — merge → delete → merge
  // through ONE carried CurationState. The family's own interaction
  // hazards, beyond d17/e16/e17's: the benchmark REGISTRY must survive
  // the delete untouched (it is immutable; the takedown slice excludes
  // bench rows by semantics) so a doc deleted and RE-INGESTED re-checks
  // against the FULL grown registry — contamination stays monotone
  // across the whole history — and a doc contaminated by batch₁'s
  // bench grams must leave the clean structures (bands/shingles/
  // cleanGrams/pairs) so batch₂ can neither pair with it nor
  // re-contaminate it twice.
  // -------------------------------------------------------------------

  /** Merge a batch AND carry the full eight-frame state forward —
    * the composed lifecycle's append. decisions' is [[mergeCuration]]'s
    * frame; the others update incrementally: bands/shingles/cleanGrams
    * drop the newly-contaminated docs and gain the batch's clean docs,
    * quality/splits likewise, benchGrams only GROWS (the immutable
    * registry), and the pair graph is (old pairs − removed-incident) ∪
    * the batch's verified new pairs, re-keyed by the new decisions'
    * group_id (one map-side join — the same corpus-scan class the full
    * merge's relabel already pays; the takedown-bounded surgical form
    * lives in the groups family, [[Incremental.deleteGroupStateStep]]). */
  def mergeCurationState(s: SparkSession, st: CurationState,
                         batch: DataFrame): CurationState = {
    val p = mergeParts(s, st, batch)
    // Cut decisions FIRST, then derive the pair re-key from the CUT
    // frame — a later cut of a frame that captured the LAZY decisions
    // would re-evaluate the whole assembly pipeline per cut (the first
    // x19 form paid exactly that cascade; see [[cutState]]'s note).
    val decisions = graft.Checkpoints.cut(decisionsFrom(st, p, full = true))
    val rm = p.removed
    def drop(df: DataFrame): DataFrame =
      df.join(rm, Seq("doc_id"), "left_anti")
    val pairsAll = st.pairs.select("id_a", "id_b")
      .join(rm.toDF("id_a"), Seq("id_a"), "left_anti")
      .join(rm.toDF("id_b"), Seq("id_b"), "left_anti")
      .unionByName(p.newPairs)
    // The carried stores stay LAZY (round 19): each is a map-side
    // anti-join ∪ batch-part over already-CUT leaves (base state,
    // mergeParts' cut intermediates), so a downstream consumer pays
    // ~one cheap scan — while the previous cut-everything form
    // re-MATERIALIZED five corpus-sized stores per step (and the final
    // step's carries are never read at all: the gated key returns only
    // `.decisions`). The original cut-per-step rationale was the stats
    // carry-over blowup, fixed at the root by measured leaf stats
    // (Checkpoints.cut); PlanAuditSpec's 512-bit sweep pins that the
    // lazy chains stay bounded. */
    CurationState(
      decisions,
      drop(st.bands).unionByName(p.batchBands),
      drop(st.shingles).unionByName(p.batchShingles),
      relabelPairs(pairsAll, decisions),
      drop(p.quality), drop(p.splits),
      st.benchGrams.unionByName(p.newBenchGrams).distinct(),
      drop(st.cleanGrams).unionByName(p.batchCleanGrams))
  }

  /** Delete a takedown list AND carry the state forward. decisions' is
    * [[deleteCuration]]'s frame; every per-doc store anti-joins the
    * deleted ids; benchGrams is UNTOUCHED (the registry is immutable
    * and [[deleteSlice]] excludes bench rows — passing a list that
    * includes one would silently shrink contamination, so the
    * precondition is the caller's, exactly as in x18). */
  def deleteCurationState(s: SparkSession, st: CurationState,
                          deleted: DataFrame): CurationState = {
    val delIds = deleted.select("doc_id")
    val decisions = graft.Checkpoints.cut(deleteCuration(s, st.decisions,
      st.pairs, st.quality, st.splits, deleted))
    def drop(df: DataFrame): DataFrame =
      df.join(delIds, Seq("doc_id"), "left_anti")
    val keptPairs = st.pairs.select("id_a", "id_b")
      .join(delIds.toDF("id_a"), Seq("id_a"), "left_anti")
      .join(delIds.toDF("id_b"), Seq("id_b"), "left_anti")
    // Carried stores lazy — same reasoning as [[mergeCurationState]].
    CurationState(
      decisions, drop(st.bands), drop(st.shingles),
      relabelPairs(keptPairs, decisions),
      drop(st.quality), drop(st.splits),
      st.benchGrams, drop(st.cleanGrams))
  }

  /** Re-key a clean-clean pair set by the component labels of a
    * decision frame (pairs' endpoints are clean by construction —
    * cleanness is only ever LOST via removal/deletion, and both
    * state-forward callers drop those rows first). */
  private def relabelPairs(pairs: DataFrame, decisions: DataFrame): DataFrame =
    pairs.join(decisions.filter(col("stage").isin("kept", "duplicate"))
        .select(col("doc_id").as("id_a"), col("group_id").as("lbl")), "id_a")
      .select("id_a", "id_b", "lbl")

  /** Cut every frame of a state — the composed lifecycle's base-state
    * discipline (x09's), and the root-caused reason it is NON-OPTIONAL
    * for a multi-step chain: Catalyst's size-only stats visitor
    * MULTIPLIES child sizeInBytes through joins, and the chain's
    * self-joins (verify reads shingles twice, the assembly reads
    * labels⋈quality twice) SQUARE the BigInt exponent per level — by
    * the second merge the driver was spending minutes inside
    * BigInteger.multiplyToomCook3 on million-digit size estimates
    * (jstack'd at sf0.1: 130 s of main-thread CPU under
    * SizeInBytesOnlyStatsPlanVisitor.visitJoin; the key measured 267 s
    * against x09's 18.6 s). A localCheckpoint resets stats to the real
    * materialized size, so per-step cuts bound the estimate depth and
    * the whole pathology vanishes. Since round 19 the state-forward ops
    * cut ONLY the frames they derive further work from (decisions
    * first, so the derived frames capture the cut one) and return the
    * other stores as LAZY anti-join ∪ batch-part chains over cut
    * leaves; the estimate stays bounded because Checkpoints.cut resets
    * every leaf to its MEASURED size (the root fix) and PlanAuditSpec's
    * 512-bit sweep pins it catalog-wide. This helper cuts a
    * from-scratch-built state before it enters the chain. */
  private[graft] def cutState(st: CurationState): CurationState = {
    def c(df: DataFrame) = graft.Checkpoints.cut(df)
    CurationState(c(st.decisions), c(st.bands), c(st.shingles), c(st.pairs),
      c(st.quality), c(st.splits), c(st.benchGrams), c(st.cleanGrams))
  }

  /** x19: the composed curation lifecycle as a gated key — d17/e16/e17's
    * slice history through the decision state: base (60%) →
    * merge(batch₁ = id % 5 == 0) → delete(the x18 slice: id ≡ 3 mod 10
    * and not bench) → merge(batch₂ = id % 5 == 1 plus the deleted ids
    * with id % 3 == 0 re-ingested). Oracle: x08's mirror on the
    * composed survivor set — hash equality proves monotone
    * contamination, registry immutability, quality-keeper re-election
    * and pair-graph hygiene COMPOSE across three operations. With d17
    * (groups), e16 (postings), e17 (dense index) and x19 (decisions),
    * every persisted family carries the composed gate. */
  def x19CurationLifecycle(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val b1 = pmod(col("doc_id"), lit(Incremental.IngestMod)) === 0
    val b2n = pmod(col("doc_id"), lit(Incremental.IngestMod)) ===
      Incremental.ComposedBatch2Res
    val base = docs.filter(!b1 && !b2n)
    // cutState is idempotent on curationBase's already-cut cores; it
    // materializes the two lazily-derived frames (labeled pairs,
    // cleanGrams) the carried chain consumes more than once.
    val st0 = cutState(curationBase(s, base))
    // The state-forward ops cut their own decisions/pairs; the other
    // frames are single-consumed per step (see [[cutState]]'s note).
    val st1 = mergeCurationState(s, st0, docs.filter(b1))
    val st2 = deleteCurationState(s, st1, deleteSlice(docs))
    val batch2 = docs.filter(b2n ||
      (col("doc_id") % Incremental.DeleteMod === Incremental.DeleteRes &&
        !isBenchCol && col("doc_id") % Incremental.ComposedReingestMod === 0))
    mergeCurationState(s, st2, batch2).decisions
  }
}
