package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.StateDir

/** Incremental corpus ingestion — the operation a 100 TB pipeline runs
  * DAILY: a new document batch arrives and must join the existing dedup
  * group structure and the existing ANN index WITHOUT recomputing either
  * from scratch. Two halves:
  *
  *  - [[ingestDupGroups]]: new docs band-probe the EXISTING band table
  *    (persisted at scale), pair only new-vs-corpus and new-vs-new, and
  *    merge components in LABEL space — the CC re-run is bounded by the
  *    components the batch actually touches, never the corpus.
  *  - [[appendToIndex]]: new vectors are encoded against FROZEN
  *    quantizers (coarse centroids + PQ codebooks trained once on the
  *    base corpus) and appended per-cell to the persisted IVF×PQ index.
  *    Production appends never retrain — retraining would invalidate
  *    every code already stored.
  *
  * Both are EXACT: incremental == from-scratch on the combined corpus,
  * and not just spec-asserted — the gated keys d09/e06 run the
  * incremental plan on the Spark side against a FROM-SCRATCH oracle in
  * DuckDB, so the equivalence is hash-checked at every gate run.
  */
object Incremental {

  /** Deterministic batch split for the gated keys: ids ≡ 0 (mod 5) are
    * "the new batch" (20%), the rest are the pre-existing corpus. */
  val IngestMod = 5

  /** Merge a new batch into an existing near-dup group labelling.
    *
    * Inputs are the artifacts a production pipeline PERSISTS between
    * batches: the labelling (id, lbl) with lbl = component-min id (d06
    * semantics), the corpus band table (doc_id, band, bsig)
    * ([[Dedup.minhashBands]] — at scale read back from parquet, never
    * recomputed), and the corpus shingle store for exact verification.
    *
    * Scale shape: band-probe join keyed (band, bsig) touches only
    * buckets the batch occupies; exact verify touches only candidate
    * rows; the component merge runs over LABELS incident to new edges —
    * a graph whose size is bounded by the batch's fan-out, not the
    * corpus. The only full-corpus pass is the final relabel join, a
    * broadcast-able map when batches are daily-sized.
    *
    * Exactness: old-old pairs are already encoded in `oldLabels`
    * (connectivity, which is all CC needs), band signatures are
    * per-document deterministic (so new-vs-all candidates equal the
    * from-scratch candidate set restricted to pairs touching the batch),
    * and min-label merge over component representatives yields the
    * component-global min because each old label is already its
    * component's min. Hence CC(old pairs ∪ new pairs) == from-scratch
    * CC on the combined corpus — the d09 oracle checks exactly this.
    *
    * PRECONDITION (id-disjointness): the merge graph mixes old-label
    * vertices and batch doc ids in one value space, so batch ids must
    * not collide with existing ids (old labels are component-min doc
    * ids, so disjoint doc-id spaces suffice). Every real ingest
    * satisfies this — doc ids are assigned once, corpus-wide — and the
    * gated mod-split does by construction (IncrementalSpec asserts it);
    * feeding a batch that REUSES existing doc ids silently mislabels
    * instead of erroring, so dedupe ids upstream first. */
  def ingestDupGroups(s: SparkSession, oldLabels: DataFrame,
                      oldBands: DataFrame, oldSh: DataFrame,
                      newIds: DataFrame, newSh: DataFrame,
                      threshold: Double = 0.5): DataFrame =
    relabeled(mergeGraph(s, oldLabels, oldBands, oldSh, newIds, newSh, threshold),
      oldLabels, newIds)

  /** The LABEL DELTA of an ingest — what a production pipeline actually
    * persists per batch: the batch's labels plus the old rows whose
    * component label CHANGED (batch-fan-out-sized), never the untouched
    * corpus. Upserting it over the old labelling reproduces
    * [[ingestDupGroups]] row for row (IncrementalSpec asserts this), so
    * a daily batch writes O(batch fan-out) rows while the full-relabel
    * form re-emits — and re-shuffles for group sizes — the whole
    * corpus. The only corpus-sized work left is one map-side scan of
    * the label table against the broadcast relabel map, here cut down
    * to the labels that move (a batch id whose merged label is its own
    * id resolves to it either way). */
  def ingestDupGroupsDelta(s: SparkSession, oldLabels: DataFrame,
                           oldBands: DataFrame, oldSh: DataFrame,
                           newIds: DataFrame, newSh: DataFrame,
                           threshold: Double = 0.5): DataFrame =
    relabeled(mergeGraph(s, oldLabels, oldBands, oldSh, newIds, newSh, threshold)
      .filter(col("nl") =!= col("id")), oldLabels, newIds, allOld = false)

  /** The merged labelling (id, nl) of a batch's touched graph: the band
    * probe, the label-space lift and the edge-incident CC. The vertex
    * set is EDGE-INCIDENT only — an isolated batch doc is its own
    * singleton component and resolves to its own id in [[relabeled]] —
    * so the CC, its output, and the relabel broadcast are all bounded
    * by the batch's verified-pair fan-out, not the batch
    * (package-visible so ScaleGuardSpec can assert that bound on the
    * real frame). */
  private[graft] def mergeGraph(s: SparkSession, oldLabels: DataFrame,
                                oldBands: DataFrame, oldSh: DataFrame,
                                newIds: DataFrame, newSh: DataFrame,
                                threshold: Double = 0.5): DataFrame =
    edgeCC(lifted(batchPairs(s, oldBands, oldSh, newSh, threshold), oldLabels))

  // ---------------------------------------------------------------
  // The group-graph update. Every dup-group and curation update
  // (append, delete, the s10 drain, the curation merge) composes these
  // four steps and keeps no copy of its own:
  //  1. [[batchPairs]] — band probe of a batch against live bands;
  //  2. [[touchedSplit]] — the components a removed-id set touches;
  //  3. [[lifted]] + [[edgeCC]] — label-space lift, edge-incident CC;
  //  4. [[relabeled]] / [[ownOrMerged]] — relabel from the merged map.
  // ---------------------------------------------------------------

  /** Step 1: candidate generation + exact verification of the pairs a
    * batch introduces against a LIVE band table (new-vs-corpus AND
    * new-vs-new) — the filter-then-verify shape of a similarity join.
    * `liveBands` (doc_id, band, bsig) and `liveSh` are the corpus
    * stores; a caller that has removed docs passes bands without them.
    * Returned uncut: a caller that consumes the pairs more than once
    * (a carried pair graph) cuts them, or the verify pipeline re-runs
    * per consumer. */
  private[graft] def batchPairs(s: SparkSession, liveBands: DataFrame,
                                liveSh: DataFrame, newSh: DataFrame,
                                threshold: Double = 0.5): DataFrame = {
    val n = s.sessionState.conf.numShufflePartitions
    val newBands = Dedup.minhashBands(newSh)
    // New-vs-(corpus ∪ batch) candidates: the probe side is the batch
    // only; the build side is the full band table plus the batch's own
    // bands (new-new dups matter too). Explicit repartition pins the
    // pair-generation parallelism against AQE input-size coalescing,
    // exactly as in d03.
    val probe = newBands.toDF("id_a", "band", "bsig")
      .repartition(n, col("band"), col("bsig"))
    // Bucket pre-filter: a corpus band row can only pair with the batch
    // if its (band, bsig) bucket is one the batch occupies, so the
    // persisted band table is semi-joined down to the TOUCHED buckets
    // before anything shuffles. Provably candidate-preserving (a pair
    // needs an equal bucket on both sides), hash-checked by the d09
    // gate; at corpus scale it is the difference between shuffling the
    // whole band table per batch and shuffling the batch's fan-out. The
    // bucket set grows with the batch's band fan-out, so it is cut and
    // size-guarded: over the cap the pre-filter becomes a shuffle
    // semi-join (still candidate-preserving).
    val touched = Skew.boundedBroadcast(newBands
      .select(col("band").as("band2"), col("bsig").as("bsig2")).distinct()
      .transform(graft.Checkpoints.cut))
    val build = liveBands.unionByName(newBands).toDF("id_b", "band2", "bsig2")
      .join(touched, Seq("band2", "bsig2"), "leftsemi")
      .repartition(n, col("band2"), col("bsig2"))
    val cand = probe
      .join(build, col("band") === col("band2") && col("bsig") === col("bsig2") &&
        col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    Dedup.verifyJaccard(cand, liveSh.unionByName(newSh), threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Step 2: the components of a labelling (id, lbl) that a removed-id
    * set (id) touches, and their component-labeled pair graph
    * (id_a, id_b, lbl) cut down to what survives.
    *  - `touched`: the labels of the removed ids — removal-sized, cut
    *    and broadcast SIZE-GUARDED ([[Skew.boundedBroadcast]]: a
    *    removal touching most components degrades to a shuffle join,
    *    never a forced collect);
    *  - `untouched` (id, lbl): rows of the other components, which lose
    *    no vertex and no edge, so their membership AND their min — their
    *    label — are unchanged (one map-side anti-join);
    *  - `survivors` (id): the touched components' remaining members;
    *  - `subEdges` (id_a, id_b): the touched components' pairs minus
    *    those incident to a removed id — the subgraph a re-CC splits. */
  private[graft] final case class TouchedSplit(touched: DataFrame,
                                               untouched: DataFrame,
                                               survivors: DataFrame,
                                               subEdges: DataFrame)

  private[graft] def touchedSplit(labels: DataFrame, labeledPairs: DataFrame,
                                  removed: DataFrame): TouchedSplit = {
    // Cut: three consumers here (four in the s10 step), and the lineage
    // holds the label-table join (the x08/r11 multiply-referenced rule).
    val touched = Skew.boundedBroadcast(labels.join(removed, "id")
      .select("lbl").distinct().transform(graft.Checkpoints.cut))
    TouchedSplit(touched,
      labels.join(touched, Seq("lbl"), "left_anti").select("id", "lbl"),
      labels.join(touched, "lbl").join(removed, Seq("id"), "left_anti")
        .select("id"),
      labeledPairs.join(touched, "lbl")
        .join(removed.toDF("id_a"), Seq("id_a"), "left_anti")
        .join(removed.toDF("id_b"), Seq("id_b"), "left_anti")
        .select("id_a", "id_b"))
  }

  /** Step 3a: lift pair endpoints into LABEL space — an endpoint with a
    * row in `labels` (id, lbl) stands for its whole (already-connected)
    * component, so the merge graph is labels + raw ids, one edge per
    * pair. Exact because each label is its component's min id, so
    * min-propagation over representatives yields the global min. An
    * endpoint WITHOUT a row (a batch doc, or a survivor of a split
    * component, whose old label no longer names its piece) stays raw. */
  private[graft] def lifted(pairs: DataFrame, labels: DataFrame): DataFrame =
    pairs
      .join(labels.toDF("id_a", "la"), Seq("id_a"), "left")
      .join(labels.toDF("id_b", "lb"), Seq("id_b"), "left")
      .select(coalesce(col("la"), col("id_a")).as("id_a"),
        coalesce(col("lb"), col("id_b")).as("id_b"))

  /** Step 3b: connected components (id, nl) over an edge set, on its
    * EDGE-INCIDENT vertices only: feeding whole batches or components
    * into the CC made its output — and the relabel maps built from it —
    * batch-sized; an isolated vertex needs no CC row (the relabel
    * resolves a missing hit to the vertex's own id). The edges are cut
    * (read by the CC and twice by the vertex set, while their lineage is
    * the whole probe/verify or split pipeline), and so is the output
    * (read by every relabel join and the broadcast guard's count). */
  private[graft] def edgeCC(edges: DataFrame): DataFrame = {
    val e = graft.Checkpoints.cut(edges)
    val verts = e.select(col("id_a").as("id"))
      .unionByName(e.select(col("id_b").as("id")))
      .distinct()
    Dedup.connectedComponents(verts, e).toDF("id", "nl")
      .transform(graft.Checkpoints.cut)
  }

  /** Step 4: apply a merged map (id, nl) from [[edgeCC]]. Old rows
    * (id, lbl) map by LABEL: a whole component adopts its merged label
    * (old labels are component minima, so a bridge through a new doc
    * pulls both sides down to the global min); with `allOld = false`
    * only the rows the map covers are kept (the delta forms). Raw ids
    * map by ID ([[ownOrMerged]]). The label-keyed map is bounded by the
    * edge FAN-OUT and broadcast so the corpus-sized label table maps in
    * place instead of shuffling — SIZE-GUARDED
    * ([[Skew.boundedBroadcast]]): a ~100%-near-dup batch (the crawl
    * case) makes fan-out ≈ batch, and the guard lets the relabel degrade
    * to a shuffle join instead of a forced driver collect. */
  private[graft] def relabeled(merged: DataFrame, old: DataFrame, raw: DataFrame,
                               allOld: Boolean = true): DataFrame =
    old.join(Skew.boundedBroadcast(merged.toDF("lbl", "nl")), Seq("lbl"),
        if (allOld) "left" else "inner")
      .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"))
      .unionByName(ownOrMerged(merged, raw))

  /** Step 4, raw half: ids (id) take their merged label, or their own id
    * when the map has no row (an isolated vertex). The map is the cut CC
    * output, so the planner broadcasts it by its measured size. */
  private[graft] def ownOrMerged(merged: DataFrame, raw: DataFrame): DataFrame =
    raw.join(merged, Seq("id"), "left")
      .select(col("id"), coalesce(col("nl"), col("id")).as("lbl"))

  /** Append a batch of vectors to a persisted IVF×PQ index with FROZEN
    * quantizers. Pure per-vector encode of the batch (one cell
    * assignment + PqM code lookups per vector — embarrassingly parallel,
    * no training pass, no touch of existing index rows), then a
    * per-cell union: at scale this is an append of new files into the
    * index's cell partitions. Encoding is a per-vector map given frozen
    * params, so append(base-index, batch) == index(base ∪ batch) row
    * for row — IncrementalSpec asserts the frame equality and e06
    * hash-gates the query results over an appended index. */
  def appendToIndex(s: SparkSession, index: DataFrame, centroids: DataFrame,
                    codebooks: DataFrame, newE: DataFrame): DataFrame =
    index.unionByName(Similarity.e05IndexFrom(s, newE, centroids, codebooks))

  /** The gated append split at `mod`: ids ≡ 0 (mod `mod`) are the
    * batch, the rest the base corpus — one definition for d09 and the
    * persisted-state path. The batch shingles are cut on first use:
    * [[batchPairs]] reads them ~5x (band table, touched buckets,
    * build-side union, verify sa/sb), and uncut every read re-ran the
    * batch shingle pass. Lazy, so a base-state write never pays it. */
  private final class AppendSlice(s: SparkSession, d: String, mod: Int) {
    private val docs = corpusDocs(s, d)
    private val isNew = pmod(col("doc_id"), lit(mod)) === 0
    val base: DataFrame = docs.filter(!isNew)
    val ids: DataFrame = docs.filter(isNew).select(col("doc_id").as("id"))
    lazy val shingles: DataFrame =
      graft.Checkpoints.cut(Dedup.shingledDocs(s, docs.filter(isNew)))
  }

  private def corpusDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("text"))

  /** Append the slice's batch to a lifecycle state and resolve d06's
    * group schema over the combined corpus — the tail shared by the
    * gated key and the persisted-state path. */
  private def appendAndResolve(s: SparkSession, st: GroupLifecycleState,
                               sl: AppendSlice): DataFrame =
    Dedup.resolveGroups(appendGroupLifecycle(s, st, sl.ids, sl.shingles).labels)

  /** d09: incremental dup-group ingestion as a gated key. The 20% batch
    * (doc_id ≡ 0 mod [[IngestMod]]) is appended to the base corpus's
    * lifecycle state ([[groupLifecycleOf]] → [[appendGroupLifecycle]],
    * whose labelling is [[ingestDupGroups]]'s merge); output is d06's
    * exact schema over the COMBINED corpus. The oracle is from-scratch
    * CC over the combined pair graph (d06's recursive CTE verbatim), so
    * the gate hash-proves incremental == from-scratch on every run.
    *
    * NOTE ON THE BENCH NUMBER: this self-contained form REBUILDS the
    * base state in-query (the oracle needs one closed plan), so its
    * wall time is base-build + ingest — strictly more work than d06.
    * The number production cares about is the MARGINAL ingest cost from
    * persisted state: [[mergeFromState]], priced by [[IncBench]]. */
  def d09IncrementalGroups(s: SparkSession, d: String): DataFrame = {
    val sl = new AppendSlice(s, d, IngestMod)
    appendAndResolve(s, groupLifecycleOf(s, sl.base), sl)
  }

  /** Persist the base corpus's dup-group state — the lifecycle set
    * ([[writeGroupLifecycle]]: labels, pairs, bands, shingles) over the
    * docs outside the `mod` batch. At 100 TB these are the nightly
    * artifacts, and the ingest reads back only what the batch's bands
    * touch; the same set also takes the next delete. */
  def writeGroupState(s: SparkSession, d: String, dir: String,
                      mod: Int = IngestMod): Unit =
    writeGroupLifecycle(groupLifecycleOf(s, new AppendSlice(s, d, mod).base), dir)

  /** The production ingest: merge the batch into PERSISTED state. Work
    * is bounded by the batch's band fan-out + the final relabel — the
    * base pair-generation and base CC never re-run. */
  def mergeFromState(s: SparkSession, d: String, dir: String,
                     mod: Int = IngestMod): DataFrame =
    appendAndResolve(s, readGroupLifecycle(s, dir), new AppendSlice(s, d, mod))

  /** [[ingestDupGroupsDelta]] over persisted state: the batch-bounded
    * label upsert a daily pipeline writes back. */
  def mergeDeltaFromState(s: SparkSession, d: String, dir: String,
                          mod: Int = IngestMod): DataFrame = {
    val sl = new AppendSlice(s, d, mod)
    val st = readGroupLifecycle(s, dir)
    ingestDupGroupsDelta(s, st.labels, st.bands, st.shingles, sl.ids, sl.shingles)
  }

  /** Persist the ANN-index state a pipeline carries between batches:
    * frozen quantizers (centroids + PQ codebooks, trained on the base
    * corpus) and the base IVF×PQ index, cell-partitioned so query
    * probes prune partitions (IndexPersistSpec's deployment shape). */
  def writeIndexState(s: SparkSession, d: String, dir: String,
                      mod: Int = IngestMod): Unit = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val base = e.filter(!(pmod(col("vec_id"), lit(mod)) === 0))
    writeIndexStateOf(s, base, Similarity.kmeansCentroids(s, base),
      Similarity.pqCodebooks(s, base), dir)
  }

  /** The production append: encode the batch against PERSISTED frozen
    * quantizers, append to the persisted index, query the combined
    * index. No training pass, no touch of existing index rows — the
    * marginal cost a daily pipeline pays ([[IncBench]] prices this
    * against the self-contained e06). */
  def appendFromState(s: SparkSession, d: String, dir: String,
                      mod: Int = IngestMod,
                      shortlist: Int = Similarity.PqShortlist): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val batch = e.filter(pmod(col("vec_id"), lit(mod)) === 0)
    val Seq(centroids, codebooks, index) =
      StateDir.read(s, dir, "centroids", "codebooks", "index")
    val combined = appendToIndex(s,
      index.select(col("cell"), col("c_id"), col("recon")),
      centroids, codebooks, batch)
    Similarity.e05FromIndex(s, e, centroids, combined, shortlist)
  }

  // ---------------------------------------------------------------
  // Deletion / takedown propagation — the REVERSE state lifecycle
  // operation (GDPR/takedown/opt-out): remove a doc set and propagate
  // through persisted structures without rebuilding them. The oracle
  // convention is d09's inverted: from-scratch on corpus-MINUS-deleted
  // must hash-equal the delete-propagated state.
  // ---------------------------------------------------------------

  /** Deterministic takedown slice for the gated delete keys
    * (d16/e14/e15): ids ≡ [[DeleteRes]] (mod [[DeleteMod]]) are "the
    * takedown list" (10% of the corpus). [[DeleteRes]] ≠ 0 keeps the
    * id % 100 == 0 query docs ALIVE — the semantic under test is
    * deleted docs vanishing from OTHER docs' results (and from group
    * structure), not queries vanishing wholesale. */
  val DeleteMod = 10
  val DeleteRes = 3

  /** Propagate a takedown list through a persisted dup-group labelling.
    *
    * Inputs are the artifacts a delete-capable pipeline persists: the
    * labelling (id, lbl) with lbl = component-min id (d06 semantics)
    * and the VERIFIED pair graph keyed by its component label
    * (id_a, id_b, lbl) — the structure that makes component SPLITS
    * recomputable without re-banding anything ([[Curation]] persists
    * the same frame for contamination-driven splits; deletes need no
    * bands or shingles at all, because removing vertices never CREATES
    * an edge).
    *
    * Work is bounded by what the takedown disturbs: [[touchedSplit]]
    * passes the untouched components through with one map-side
    * anti-join, and the touched ones re-run [[edgeCC]] on their
    * surviving subgraph — a SPLIT falls out as multiple new components,
    * and a dead keeper (deleted component-min) re-elects by each piece
    * taking its own min (the new label).
    *
    * Exactness: deleting vertices only ever REMOVES edges incident to
    * them, so components not containing a deleted vertex are identical
    * in the remaining graph, and each touched component's survivors
    * re-CC'd on the induced subgraph are exactly the from-scratch
    * components of the remaining corpus restricted to that component —
    * the d16 gate hash-checks this against from-scratch-on-remaining
    * every run. */
  def deleteFromGroups(s: SparkSession, labels: DataFrame,
                       labeledPairs: DataFrame, deleted: DataFrame): DataFrame =
    splitLabels(touchedSplit(labels, labeledPairs, deleted.select("id")))

  /** A split's new labelling: untouched rows pass through; survivors
    * re-CC on the surviving subgraph. */
  private def splitLabels(sp: TouchedSplit): DataFrame =
    sp.untouched.unionByName(ownOrMerged(edgeCC(sp.subEdges), sp.survivors))

  /** Propagate a takedown through (labels, component-labeled pairs) and
    * return BOTH updated frames — the state a MULTI-BATCH delete stream
    * carries forward (d16's one-shot form returns labels only; a second
    * delete needs the surviving pair graph re-keyed by its new
    * component labels). The pair-graph update is takedown-bounded and
    * reuses the split: untouched components' pairs pass through
    * labels-and-all with ONE anti-join against its broadcast touched
    * set; only the surviving subgraph re-labels against the new
    * labelling. Applying the same takedown twice is a NO-OP
    * (already-deleted ids hit no label row, so `touched` is empty) — the
    * idempotence the CDC drain's at-least-once restart semantics rest
    * on (StreamTakedownSpec asserts it). */
  def deleteGroupStateStep(s: SparkSession, labels: DataFrame,
                           labeledPairs: DataFrame,
                           deleted: DataFrame): (DataFrame, DataFrame) = {
    val sp = touchedSplit(labels, labeledPairs, deleted.select("id"))
    val newLabels = graft.Checkpoints.cut(splitLabels(sp))
    (newLabels, labeledPairs.join(sp.touched, Seq("lbl"), "left_anti")
      .unionByName(sp.subEdges.join(newLabels.toDF("id_a", "lbl"), "id_a")))
  }

  /** d16: takedown propagation through dup groups as a gated key. The
    * 10% takedown slice (doc_id ≡ [[DeleteRes]] mod [[DeleteMod]]) is
    * deleted from the full corpus's lifecycle state via
    * [[deleteGroupLifecycle]] (its labelling is [[deleteFromGroups]]);
    * output is d06's exact schema over the REMAINING corpus. The oracle
    * is from-scratch CC on corpus-minus-deleted (d06's recursive CTE
    * with the takedown filter), so keeper re-election and component
    * splits are hash-proved, not spec-claimed. State frames are
    * checkpointed by [[groupLifecycleOf]] (x09's in-query-rebuild
    * discipline: production state is parquet-opaque, and a transparent
    * rebuild re-runs the base pipeline per reference).
    *
    * NOTE ON THE BENCH NUMBER: the self-contained form pays
    * base-build + delete; the production marginal from persisted state
    * is [[deleteGroupsFromState]], priced by [[graft.IncBench]]
    * `--deletes`. */
  def d16DeleteGroups(s: SparkSession, d: String): DataFrame = {
    val deleted = Tables.documents(s, d)
      .filter(col("doc_id") % DeleteMod === DeleteRes)
      .select(col("doc_id").as("id"))
    Dedup.resolveGroups(deleteGroupLifecycle(s,
      groupLifecycleOf(s, corpusDocs(s, d)), deleted).labels)
  }

  /** Persist the DELETE-ONLY group set: labelling + component-labeled
    * pair graph over the FULL corpus, taken from [[groupLifecycleOf]].
    * It is the one group set besides the lifecycle set, and it stays
    * because s10's drain republishes it on every micro-batch
    * ([[deleteGroupStateStep]]): deletes never create edges, so they
    * need no bands or shingles, and carrying those corpus-sized tables
    * through the drain would multiply its writes. */
  def writeDeleteGroupState(s: SparkSession, d: String, dir: String): Unit = {
    val st = groupLifecycleOf(s, corpusDocs(s, d))
    StateDir.publish(dir, Seq("labels" -> st.labels,
      "pairs" -> st.pairs.join(st.labels.toDF("id_a", "lbl"), "id_a")))
  }

  /** The production delete: propagate a takedown list through PERSISTED
    * delete-only group state — touched-component re-CC only, one
    * map-side pass over the label table. Frame-equal to the in-query d16
    * (TakedownSpec). */
  def deleteGroupsFromState(s: SparkSession, dir: String,
                            deleted: DataFrame): DataFrame = {
    val Seq(labels, pairs) = StateDir.read(s, dir, "labels", "pairs")
    Dedup.resolveGroups(deleteFromGroups(s, labels, pairs, deleted))
  }

  /** e15: takedown propagation through the IVF×PQ index as a gated key.
    * Quantizers stay FROZEN (trained on the pre-delete corpus — the
    * e06 posture in reverse: retraining on delete would invalidate
    * every stored code), deleted vectors leave the index, and queries
    * run over the remaining corpus. Because encoding is a per-vector
    * map under frozen quantizers, filter-after-encode == encode-only-
    * remaining — so the oracle mirrors full-corpus training with
    * index/query CTEs restricted to live ids, and the gate hash-proves
    * the delete leaves exactly the index of the remaining corpus. */
  def e15IndexDelete(s: SparkSession, d: String,
                     shortlist: Int = Similarity.PqShortlist): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val centroids = Similarity.corpusCentroids(s, d)
    val index = Similarity
      .e05IndexFrom(s, e, centroids, Similarity.corpusCodebooks(s, d))
      .filter(col("c_id") % DeleteMod =!= DeleteRes)
    Similarity.e05FromIndex(s,
      e.filter(col("vec_id") % DeleteMod =!= DeleteRes),
      centroids, index, shortlist)
  }

  /** Persist the FULL-corpus index state a DELETE runs against (e06's
    * [[writeIndexState]] holds out a batch for the append gate; deletes
    * start from the complete current index). Quantizers are the
    * memoized full-corpus ones — the same frozen params e05 queries
    * with. */
  def writeFullIndexState(s: SparkSession, d: String, dir: String): Unit = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    writeIndexStateOf(s, e, Similarity.corpusCentroids(s, d),
      Similarity.corpusCodebooks(s, d), dir)
  }

  /** Persist an index state from explicit quantizers + a base vector
    * frame — the shared write tail of [[writeFullIndexState]] and the
    * composed-lifecycle spec's base publish. */
  def writeIndexStateOf(s: SparkSession, base: DataFrame, centroids: DataFrame,
                        codebooks: DataFrame, dir: String): Unit =
    StateDir.publish(dir, Seq("centroids" -> centroids,
      "codebooks" -> codebooks,
      "index" -> Similarity.e05IndexFrom(s, base, centroids, codebooks)),
      partitionBy = Map("index" -> "cell"))

  /** e17: the composed lifecycle gate for the DENSE index — d17/e16's
    * slice history through the IVF×PQ state: quantizers train on the
    * 60% base corpus and stay FROZEN through all three operations
    * (e06's append posture AND e15's delete posture at once — frozen
    * params are what make the history composable: encoding is a
    * per-vector map, so the re-ingested batch₂ vectors encode to
    * exactly the rows the delete removed plus nothing stale). The
    * oracle mirrors base-only training with index/query CTEs on the
    * composed survivor set; hash equality proves three chained index
    * mutations leave exactly the index of the survivors. Persisted
    * form: appendToIndexState × 2 + deleteFromIndexState (touched-cell
    * rewrite) + compaction, frame-equal to this in-query plan
    * (ComposedIndexSpec). */
  def e17IndexLifecycle(s: SparkSession, d: String,
                        shortlist: Int = Similarity.PqShortlist): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val b1 = pmod(col("vec_id"), lit(IngestMod)) === 0
    val b2n = pmod(col("vec_id"), lit(IngestMod)) === ComposedBatch2Res
    val delP = col("vec_id") % DeleteMod === DeleteRes
    val base = e.filter(!b1 && !b2n)
    val centroids = Similarity.kmeansCentroids(s, base)
    val codebooks = Similarity.pqCodebooks(s, base)
    val idx1 = appendToIndex(s,
      Similarity.e05IndexFrom(s, base, centroids, codebooks),
      centroids, codebooks, e.filter(b1))
    val idx2 = idx1.filter(!(col("c_id") % DeleteMod === DeleteRes))
    val batch2 = e.filter(b2n ||
      (delP && col("vec_id") % ComposedReingestMod === 0))
    val idx3 = appendToIndex(s, idx2, centroids, codebooks, batch2)
    Similarity.e05FromIndex(s, e.filter(composedSurvivor(col("vec_id"))),
      centroids, idx3, shortlist)
  }

  /** d17/e16/e17's survivor predicate (deleted ∧ not-re-ingested is
    * the only absent slice). */
  private[graft] def composedSurvivor(c: Column): Column =
    !(c % DeleteMod === DeleteRes && c % ComposedReingestMod =!= 0)

  /** Query the persisted index AFTER a [[deleteFromIndexState]]: reads
    * the surgically-rewritten cells plus frozen quantizers — the
    * production read path of a takedown; frame-equal to the in-query
    * e15 when the same slice is deleted (TakedownSpec). `live` filters
    * the query side (deleted docs no longer query). */
  def queryDeletedIndexState(s: SparkSession, d: String, dir: String,
                             live: Column => Column,
                             shortlist: Int = Similarity.PqShortlist): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val Seq(centroids, index) = StateDir.read(s, dir, "centroids", "index")
    Similarity.e05FromIndex(s, e.filter(live(col("vec_id"))), centroids,
      index.select(col("cell"), col("c_id"), col("recon")), shortlist)
  }

  /** Delete vectors from a PERSISTED cell-partitioned IVF×PQ index,
    * rewriting ONLY the touched cell partitions (the
    * `partitionBy(cell)` layout makes takedown surgical: untouched
    * cells' files are never read or written). Returns the touched cell
    * ids. The kept rows are materialized (lineage cut) BEFORE the
    * overwrite — Spark cannot safely overwrite a path it is still
    * lazily reading. */
  def deleteFromIndexState(s: SparkSession, dir: String,
                           deletedIds: DataFrame): Seq[Int] = {
    val index = s.read.parquet(s"$dir/index")
    val del = deletedIds.toDF("c_id")
    val touched = index.join(del, "c_id").select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by KmeansCells (16)
    if (touched.nonEmpty) {
      val kept = index.filter(col("cell").isin(touched: _*))
        .join(del, Seq("c_id"), "left_anti")
        .transform(graft.Checkpoints.cut)
      touched.foreach { c =>
        kept.filter(col("cell") === c).drop("cell")
          .write.mode("overwrite").parquet(s"$dir/index/cell=$c")
      }
    }
    touched
  }

  /** The production PERSISTED index append: encode a vector batch
    * against the frozen on-disk quantizers and land NEW FILES in the
    * cell partitions (mode append — existing index files are never
    * read or rewritten; encoding is a per-vector map). Repeated cycles
    * of this and [[deleteFromIndexState]] fragment the cell partitions
    * into small files — the storage debt [[compactIndexState]] pays
    * down. */
  def appendToIndexState(s: SparkSession, dir: String,
                         batch: DataFrame): Unit =
    Similarity.e05IndexFrom(s, batch,
        s.read.parquet(s"$dir/centroids"), s.read.parquet(s"$dir/codebooks"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/index")

  /** COMPACTION of a persisted cell-partitioned IVF×PQ index: per
    * cell, bin-pack the accumulated part files to
    * ~[[Retrieval.CompactTargetBytes]] (coalesce — no shuffle, and the
    * cell partitioning is preserved because each cell rewrites in
    * place). Rows are unchanged (deletes already rewrote their cells;
    * index compaction is purely a small-file fold), frame equality is
    * the CompactionSpec gate, and kept rows are lineage-cut before
    * each overwrite. The per-cell loop is driver-side over ≤
    * [[Similarity.KmeansCells]] cells — bounded by construction.
    * Returns cell → (files before, files after). */
  def compactIndexState(s: SparkSession, dir: String,
                        targetBytes: Long = Retrieval.CompactTargetBytes)
      : Map[Int, (Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/index")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val cells = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(_.getPath.getName.stripPrefix("cell=").toInt).sorted
    cells.map { c =>
      val cellPath = s"$dir/index/cell=$c"
      val before = Retrieval.partFileCount(s, cellPath)
      val rows = graft.Checkpoints.cut(s.read.parquet(cellPath))
      val n = Retrieval.packFileCount(s,
        Retrieval.dirBytes(s, cellPath), targetBytes)
      rows.coalesce(n).write.mode("overwrite").parquet(cellPath)
      c -> (before, Retrieval.partFileCount(s, cellPath))
    }.toMap
  }

  /** e06: incremental ANN-index append as a gated key. Quantizers are
    * trained on the BASE corpus only (vec_id ≢ 0 mod [[IngestMod]]) and
    * frozen; the base index is built, the 20% batch is appended via
    * [[appendToIndex]], and e05's query half runs over the combined
    * index. The oracle mirrors base-only training + full-corpus encode
    * in SQL, so "append with frozen quantizers equals indexing the
    * combined corpus" is hash-checked, not assumed. */
  def e06IndexAppend(s: SparkSession, d: String,
                     shortlist: Int = Similarity.PqShortlist): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val isNew = pmod(col("vec_id"), lit(IngestMod)) === 0
    val base = e.filter(!isNew)
    val batch = e.filter(isNew)
    val centroids = Similarity.kmeansCentroids(s, base)
    val codebooks = Similarity.pqCodebooks(s, base)
    val baseIndex = Similarity.e05IndexFrom(s, base, centroids, codebooks)
    val index = appendToIndex(s, baseIndex, centroids, codebooks, batch)
    Similarity.e05FromIndex(s, e, centroids, index, shortlist)
  }

  // ---------------------------------------------------------------
  // Composed lifecycle — append → delete → append through ONE state
  // (d17). The per-direction gates (d09 append, d16 delete) each prove
  // one operation against a from-scratch mirror; real state is never
  // one operation old, and the danger class is the INTERACTION: a
  // deleted doc re-ingested by a later batch, a component split by a
  // delete then re-bridged by an append, a keeper killed by a delete
  // whose replacement a later batch changes again. The composed gate
  // runs the SAME per-step operators production runs, and its oracle
  // is the from-scratch mirror on the composed survivor set — so the
  // hash gate proves the steps COMPOSE, not just that each works. d09
  // and d16 are the one-step histories over the same state.
  // ---------------------------------------------------------------

  /** The dup-group state a pipeline PERSISTS between operations — the
    * family's one state format: the labelling (id, lbl), the verified
    * pair graph (id_a, id_b), and the band/shingle stores appends
    * probe. Deletes alone need just labels + pairs (deletes never
    * create edges) — the drain set of [[writeDeleteGroupState]];
    * carrying bands + shingles is what makes the NEXT append possible
    * without re-banding the corpus. */
  final case class GroupLifecycleState(labels: DataFrame, pairs: DataFrame,
                                       bands: DataFrame, shingles: DataFrame)

  /** Build lifecycle state from scratch over any (doc_id, text) corpus
    * frame — the once-per-corpus bootstrap (and the spec fixtures'
    * entry). */
  def groupLifecycleOf(s: SparkSession, docs: DataFrame): GroupLifecycleState = {
    // All four state frames cut (round 19) — the in-query analog of
    // writeGroupLifecycle's persisted artifacts. Uncut, the carried
    // shingles/bands re-ran the corpus shingle pass per downstream
    // reference (the next append's verify alone reads shingles twice),
    // and the band table was built TWICE (once inside minhashLshPairs,
    // once for the carried frame).
    val sh = graft.Checkpoints.cut(Dedup.shingledDocs(s, docs))
    val bands = graft.Checkpoints.cut(Dedup.minhashBands(sh))
    val pairs = graft.Checkpoints.cut(
      Dedup.verifyJaccard(Dedup.bandCandidates(s, bands), sh, 0.5)
        .select(col("id_a"), col("id_b")))
    val verts = docs.select(col("doc_id").as("id"))
    GroupLifecycleState(
      Dedup.connectedComponents(verts, pairs).transform(graft.Checkpoints.cut),
      pairs, bands, sh)
  }

  /** Append a batch to lifecycle state: [[ingestDupGroups]]'s merge for
    * the labelling, plus the state-forward halves a one-shot ingest
    * doesn't need — the new verified pairs join the persisted pair
    * graph, the batch's bands/shingles join the stores. Work is the
    * d09 ingest's (band-probe bounded) plus an APPEND of
    * batch-fan-out-sized pair rows and batch-sized band/shingle rows.
    * Re-ingesting a previously DELETED id is legal — it is absent from
    * every state frame, so the id-disjointness precondition holds and
    * its NEW text alone determines its new edges (the old rows left
    * state at delete time); re-ingesting a LIVE id remains the
    * upstream bug [[ingestDupGroups]] documents. */
  def appendGroupLifecycle(s: SparkSession, st: GroupLifecycleState,
                           newIds: DataFrame, newSh: DataFrame,
                           threshold: Double = 0.5): GroupLifecycleState = {
    // Cut: consumed twice (the merge-CC's edge lift AND the pair graph
    // carried forward) — without it the candidate+verify pipeline
    // re-runs per consumer.
    val newPairs = batchPairs(s, st.bands, st.shingles, newSh, threshold)
      .transform(graft.Checkpoints.cut)
    GroupLifecycleState(
      relabeled(edgeCC(lifted(newPairs, st.labels)), st.labels, newIds),
      st.pairs.unionByName(newPairs),
      st.bands.unionByName(Dedup.minhashBands(newSh)),
      st.shingles.unionByName(newSh))
  }

  /** Delete a takedown list from lifecycle state: [[deleteFromGroups]]
    * for the labelling (touched-component re-CC only); pairs, bands
    * and shingles drop the deleted ids' per-doc rows by anti-join —
    * removing vertices never creates an edge, and a deleted doc must
    * stop band-matching FUTURE batches too (the half d16's
    * labels-and-pairs-only state never needed). */
  def deleteGroupLifecycle(s: SparkSession, st: GroupLifecycleState,
                           deleted: DataFrame): GroupLifecycleState = {
    val del = deleted.select("id")
    val labeledPairs = st.pairs.join(st.labels.toDF("id_a", "lbl"), "id_a")
    GroupLifecycleState(
      deleteFromGroups(s, st.labels, labeledPairs, del),
      st.pairs.join(del.toDF("id_a"), Seq("id_a"), "left_anti")
        .join(del.toDF("id_b"), Seq("id_b"), "left_anti"),
      st.bands.join(del.toDF("doc_id"), Seq("doc_id"), "left_anti"),
      st.shingles.join(del.toDF("doc_id"), Seq("doc_id"), "left_anti"))
  }

  /** Composed-lifecycle slice grammar (d17/e16): batch₁ is the d09
    * residue (id % [[IngestMod]] == 0), batch₂'s NEW docs are
    * id % [[IngestMod]] == [[ComposedBatch2Res]] (held out of the base
    * corpus), the takedown is the d16 slice (id % [[DeleteMod]] ==
    * [[DeleteRes]] — entirely inside the base corpus, since
    * 3 mod 5 ∉ {0, 1}), and batch₂ additionally RE-INGESTS the deleted
    * ids with id % [[ComposedReingestMod]] == 0. The composed survivor
    * set is therefore everything except the deleted-and-not-re-ingested
    * slice: NOT (id % 10 == 3 AND id % 3 != 0) — one predicate the
    * from-scratch oracle mirrors. */
  val ComposedBatch2Res = 1
  val ComposedReingestMod = 3

  /** d17: the composed state-lifecycle gate. Base state is built over
    * the 60% base corpus, then THREE production operations run through
    * one carried state — append(batch₁), delete(takedown slice),
    * append(batch₂ where batch₂ re-ingests a third of the deleted
    * ids) — and the final labelling resolves to d06's group schema.
    * The oracle is d06's from-scratch recursive CTE on the composed
    * survivor set, so the gate hash-proves the operations COMPOSE:
    * stale bands of deleted docs would re-pair them, a stale pair
    * graph would resurrect deleted edges under re-CC, and a relabel
    * bug in either append would mislabel the re-bridged components —
    * each diverges from the mirror.
    *
    * State frames are lineage-cut between steps (x09's in-query
    * rebuild discipline: production state is parquet-opaque, and a
    * transparent rebuild both re-runs the base pipeline per reference
    * and leaks foldable literals into join keys). The production
    * marginal per step from PERSISTED state is priced by
    * [[graft.IncBench]] `--composed`. */
  def d17LifecycleGroups(s: SparkSession, d: String): DataFrame =
    Dedup.resolveGroups(composedLifecycleLabels(s, d))

  /** The composed append→delete→append labelling over the gate corpus —
    * shared by the gated key and the persisted-path equality spec. */
  private[graft] def composedLifecycleLabels(s: SparkSession, d: String): DataFrame = {
    val (base, (ids1, sh1), delIds, (ids2, sh2)) = composedSliceInputs(s, d)
    def cutState(st: GroupLifecycleState): GroupLifecycleState =
      GroupLifecycleState(graft.Checkpoints.cut(st.labels), st.pairs,
        st.bands, st.shingles)
    val st0 = groupLifecycleOf(s, base)
    val st1 = cutState(appendGroupLifecycle(s, st0, ids1, sh1))
    val st2 = cutState(deleteGroupLifecycle(s, st1, delIds))
    appendGroupLifecycle(s, st2, ids2, sh2).labels
  }

  /** The composed grammar's DOCUMENT slices — (base corpus, batch₁,
    * deleted doc_ids, batch₂) — shared by d17 (groups) and e16
    * (postings): ONE slice definition, so the two composed gates
    * exercise the same lifecycle history. */
  private[graft] def composedDocSlices(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val batch1 = (c: Column) => pmod(c, lit(IngestMod)) === 0
    val batch2New = (c: Column) => pmod(c, lit(IngestMod)) === ComposedBatch2Res
    val deletedP = (c: Column) => c % DeleteMod === DeleteRes
    val batch2 = (c: Column) =>
      batch2New(c) || (deletedP(c) && c % ComposedReingestMod === 0)
    (docs.filter(!batch1(col("doc_id")) && !batch2New(col("doc_id"))),
      docs.filter(batch1(col("doc_id"))),
      docs.filter(deletedP(col("doc_id"))).select("doc_id"),
      docs.filter(batch2(col("doc_id"))))
  }

  /** The composed gate's step inputs in GROUP-state form: (base docs,
    * (batch₁ ids, batch₁ shingles), delete ids, (batch₂ ids, batch₂
    * shingles)) — one definition shared by the in-query key, the
    * persisted-path runner, and IncBench. */
  private[graft] def composedSliceInputs(s: SparkSession, d: String)
      : (DataFrame, (DataFrame, DataFrame), DataFrame, (DataFrame, DataFrame)) = {
    val (base, batch1, delIds, batch2) = composedDocSlices(s, d)
    def ids(docs: DataFrame) = docs.select(col("doc_id").as("id"))
    // Batch shingles cut (round 19): each append references its batch's
    // shingle frame ~5x (band table, touched buckets, build-side union,
    // verify sa/sb, state carry) — uncut, the batch shingle pass re-ran
    // per reference.
    (base,
      (ids(batch1), graft.Checkpoints.cut(Dedup.shingledDocs(s, batch1))),
      ids(delIds),
      (ids(batch2), graft.Checkpoints.cut(Dedup.shingledDocs(s, batch2))))
  }

  /** Run the composed gate's three operations through PERSISTED state —
    * the production shape (each step reads version k from parquet and
    * publishes version k+1; never an overwrite of a path a lazy plan
    * still reads). Returns the four version dirs (base, after-append₁,
    * after-delete, after-append₂); the persisted-path == in-query
    * equality is spec-asserted (ComposedLifecycleSpec) and the per-step
    * marginals are priced by [[graft.IncBench]] `--composed`. */
  def runComposedLifecyclePersisted(s: SparkSession, d: String,
                                    root: String): Seq[String] = {
    val (base, (ids1, sh1), delIds, (ids2, sh2)) = composedSliceInputs(s, d)
    val dirs = (0 to 3).map(k => s"$root/v$k")
    writeGroupLifecycle(groupLifecycleOf(s, base), dirs(0))
    writeGroupLifecycle(
      appendGroupLifecycle(s, readGroupLifecycle(s, dirs(0)), ids1, sh1), dirs(1))
    writeGroupLifecycle(
      deleteGroupLifecycle(s, readGroupLifecycle(s, dirs(1)), delIds), dirs(2))
    writeGroupLifecycle(
      appendGroupLifecycle(s, readGroupLifecycle(s, dirs(2)), ids2, sh2), dirs(3))
    dirs
  }

  /** Persist lifecycle state (the four nightly artifacts) as one
    * [[StateDir.publish]]ed set: a reader sees the previous set or all
    * four new tables, never new labels beside old or missing bands. Each
    * operation publishes a NEW version dir, never over one being read. */
  def writeGroupLifecycle(st: GroupLifecycleState, dir: String): Unit =
    StateDir.publish(dir, LifecycleTables.zip(
      Seq(st.labels, st.pairs, st.bands, st.shingles)))

  /** Read persisted lifecycle state back. */
  def readGroupLifecycle(s: SparkSession, dir: String): GroupLifecycleState = {
    val Seq(labels, pairs, bands, sh) = StateDir.read(s, dir, LifecycleTables: _*)
    GroupLifecycleState(labels, pairs, bands, sh)
  }

  private val LifecycleTables = Seq("labels", "pairs", "bands", "shingles")
}
