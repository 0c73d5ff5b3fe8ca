package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators._

/** The query catalog binding SURVEY.md §2 keys to plans.
  *
  * Two views of the same operators:
  *
  *  - [[production]] — the plans as a user would run them: NO canonical
  *    output ordering (a global sort of a full fact table is pure overhead
  *    at scale). Queries whose ordering is semantic (top-N with limit,
  *    e.g. q03/e01) keep their sort — it collapses to
  *    TakeOrderedAndProject, which is scale-safe.
  *  - [[verified]] — the same plans wrapped with a deterministic canonical
  *    ordering, used only by [[Verify]] so the driver's oracle compare sees
  *    stable output regardless of partitioning. Bench measures
  *    [[production]]; correctness runs [[verified]].
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  /** Production plans, sort-free unless ordering is semantic. */
  def production: Map[String, Q] = Map(
    "q01_agg"              -> (EtlCore.q01Agg _),
    "q02_filter_project"   -> (EtlCore.q02FilterProject _),
    "q03_join_agg"         -> (EtlCore.q03JoinAgg _),
    "q04_broadcast_join"   -> (EtlCore.q04BroadcastJoin _),
    "q05_dedup_key"        -> (EtlCore.q05DedupKey _),
    "q06_regex_extract"    -> (EtlCore.q06RegexExtract _),
    "q07_parse_dollars"    -> (EtlCore.q07ParseDollars _),
    "q08_multi_date"       -> (EtlCore.q08MultiDate _),
    "q09_null_prune"       -> (EtlCore.q09NullPrune _),
    "q10_pivot"            -> (EtlCore.q10Pivot _),
    "q11_coalesce_fill"    -> (EtlCore.q11CoalesceFill _),
    "q12_window_topn"      -> (EtlCore.q12WindowTopN _),
    "q13_conditional_agg"  -> (EtlCore.q13ConditionalAgg _),
    "q14_semi_anti"        -> (EtlCore.q14SemiAnti _),
    "q15_string_normalize" -> (EtlCore.q15StringNormalize _),
    "q16_type_coercion"    -> (EtlCore.q16TypeCoercion _),
    "q17_json_extract"     -> (EtlCore.q17JsonExtract _),
    "q18_runtime_parse"    -> (EtlCore.q18RuntimeParse _),
    "q19_etl_pipeline"     -> (EtlCore.q19EtlPipeline _),
    "q20_map_consolidate"  -> (Reshape.q20MapConsolidate _),
    "q21_suffix_merge"     -> (Reshape.q21SuffixMerge _),
    "q22_asof_join"        -> (EventOps.q22AsofJoin _),
    "q23_range_join"       -> (EventOps.q23RangeJoin _),
    "q24_rollup"           -> (EtlCore.q24Rollup _),
    "q25_salted_join"      -> (EtlCore.q25SaltedJoin _),
    "q26_column_triage"    -> (EtlCore.q26ColumnTriage _),
    "q27_funnel"           -> (EventOps.q27Funnel _),
    "q28_retention"        -> (EventOps.q28Retention _),
    // q29: per-type daily-volume spike flags — exact cleared-integer
    // 3-sigma test over the post-aggregate (type, day) cell frame.
    "q29_event_spike"      -> (EventOps.q29EventSpike _),
    "t01_lang_id"          -> (TextAnalysis.t01LangId _),
    "t02_quality_score"    -> (TextAnalysis.t02QualityScore _),
    "t03_token_count"      -> (TextAnalysis.t03TokenCount _),
    "t04_fingerprint"      -> (TextAnalysis.t04Fingerprint _),
    "t05_pii_mask"         -> (TextAnalysis.t05PiiMask _),
    "t06_repetition"       -> (TextAnalysis.t06Repetition _),
    "t07_quality_filter"   -> (TextAnalysis.t07QualityFilter _),
    "t08_rare_token_score" -> (TextAnalysis.t08RareTokenScore _),
    "t09_html_extract"     -> (TextAnalysis.t09HtmlExtract _),
    // t10: corpus bigram-LM surprisal — integer log2 via bit length,
    // e09's single-shared-exchange shape.
    "t10_ngram_lm_score"   -> (TextAnalysis.t10NgramLmScore _),
    // t11: per-doc top-K tf-idf keywords off the shared postings pass.
    "t11_tfidf_keywords"   -> (TextAnalysis.t11TfidfKeywords _),
    // t12: within-doc repetition removal (Gopher cleanup) — d11's span
    // machinery minus the cross-doc join; repeats planted via the %3
    // self-append convention so the gate does real work on any draw.
    "t12_repeat_removal"   -> (TextAnalysis.t12RepeatRemove _),
    // t13: deterministic linear quality classifier — plan-time literal
    // weights over ppm integer features, exact integer score.
    "t13_quality_classifier" -> (TextAnalysis.t13QualityClassifier _),
    // t14: C4-style line-level boilerplate filtering — one map-side
    // projection, zero shuffles; lines rendered deterministically from
    // the flat token stream (t12's planting convention).
    "t14_boilerplate_filter" -> (TextAnalysis.t14BoilerplateFilter _),
    "d01_dedup_exact"      -> (Dedup.d01DedupExact _),
    "d02_ngram_jaccard"    -> (Dedup.d02NgramJaccard _),
    "d03_minhash_lsh"      -> (Dedup.d03MinhashLsh _),
    "d04_simhash"          -> (Dedup.d04Simhash _),
    // d05/e02 size their RHP band width from the corpus count
    // (Similarity.calibratedRhpBits): fixed bits=4 OOMs at 200k vectors
    // (measured, BENCH.md sf10). Verify threads the SAME count into the
    // oracle SQL, so the gate stays hash-exact at every SF.
    "d05_embedding_dedup"  -> ((s, d) =>
      Dedup.d05EmbeddingDedup(s, d, bits = Similarity.calibratedRhpBits(s, d))),
    "d06_dup_groups"       -> (Dedup.d06DupGroups _),
    "d07_decontaminate"    -> (Dedup.d07Decontaminate _),
    // d09/e06: incremental ingestion — the Spark side runs the
    // batch-append plan, the oracle recomputes from scratch, so the
    // hash gate IS the incremental == from-scratch proof.
    "d09_incremental_groups" -> (Incremental.d09IncrementalGroups _),
    // d16: the REVERSE lifecycle gate — takedown propagation through
    // persisted group state (touched-component re-CC, keeper
    // re-election, splits) vs from-scratch on corpus-minus-deleted.
    "d16_delete_groups"    -> (Incremental.d16DeleteGroups _),
    // d17: the COMPOSED lifecycle gate — append(batch₁) → delete(slice)
    // → append(batch₂ re-ingesting a third of the deleted ids) through
    // one carried state, vs from-scratch on the composed survivor set.
    "d17_lifecycle_groups" -> (Incremental.d17LifecycleGroups _),
    "d08_containment"      -> (Dedup.d08Containment _),
    "d10_span_dup"         -> (Dedup.d10SpanDup _),
    "d11_span_mask"        -> (Dedup.d11SpanMask _),
    // d12 rides d05's calibrated pair set (same band-width threading).
    "d12_semantic_groups"  -> ((s, d) =>
      Dedup.d12SemanticGroups(s, d, bits = Similarity.calibratedRhpBits(s, d))),
    "d13_url_dedup"        -> (Dedup.d13UrlDedup _),
    // d14 is d07's decontamination through a broadcastable bloom-position
    // set — deterministic false positives, so still hash-gated.
    "d14_bloom_decontaminate" -> (Dedup.d14BloomDecontaminate _),
    // d15: link-graph domain centrality (PageRank-class) as a curation
    // quality prior — exact-integer damping, 8 unrolled iterations,
    // deterministic md5 edge grammar with a planted hub domain.
    "d15_domain_rank"      -> (Dedup.d15DomainRank _),
    "e01_knn_brute"        -> (Similarity.e01KnnBrute _),
    // e12: MMR-diversified rerank over e01's exact pool — exact integer
    // micros end-to-end; the greedy chain runs in one bounded
    // expression per query, oracle = unrolled selection CTE ladder.
    "e12_mmr_rerank"       -> (Similarity.e12MmrRerank _),
    "e02_ann_lsh"          -> ((s, d) =>
      Similarity.e02AnnLsh(s, d, bits = Similarity.calibratedRhpBits(s, d))),
    "e03_ivf_ann"          -> (Similarity.e03IvfAnn _),
    "e08_filtered_ann"     -> (Similarity.e08FilteredAnn _),
    // e05/e06 scale their ADC shortlist with the corpus
    // (Similarity.scaledPqShortlist): a fixed shortlist is a shrinking
    // fraction of the candidate pool and PQ noise evicts true
    // neighbours before the exact re-rank (e05 recall@10 at sf10:
    // 0.018 fixed -> 0.444 at n/20, measured curve in the scaladoc).
    // e04 shares the n/20 calibration: the r12 "deep shortlist costs
    // 5.6x baseline" weak was NOT a depth-policy problem — it was
    // TopKByScore's O(k)-per-candidate linear scan, invisible at k=30
    // and ruinous at k=10000. With the heap buffer the depth is nearly
    // free (sf10: 22.0 s at depth 30 vs 27.5 s at 10000, recall 0.015
    // vs 0.579; BENCH.md "e04's weak, root-caused"), so e04 keeps the
    // recall.
    "e04_pq_ann"           -> ((s, d) =>
      Similarity.e04PqAnn(s, d, shortlist = Similarity.calibratedPqShortlist(s, d))),
    "e05_ivfpq"            -> ((s, d) =>
      Similarity.e05IvfPq(s, d, shortlist = Similarity.calibratedPqShortlist(s, d))),
    // e13: e12's MMR rerank over the e05 IVF×PQ pool — the 100 TB form
    // (e12's brute pool self-caps at MaxBruteQueries); same bounded MMR
    // tail, pool cost scales like e05's per-query work.
    "e13_mmr_ann"          -> ((s, d) =>
      Similarity.e13MmrAnn(s, d, shortlist = Similarity.calibratedPqShortlist(s, d))),
    "e06_index_append"     -> ((s, d) =>
      Incremental.e06IndexAppend(s, d, shortlist = Similarity.calibratedPqShortlist(s, d))),
    "e07_cluster_stats"    -> (Similarity.e07ClusterStats _),
    // e09: lexical BM25 top-k — the keyword sibling of the ANN ladder;
    // exact-integer rational-idf scoring, one corpus-token exchange.
    "e09_bm25_topk"        -> (Retrieval.e09Bm25TopK _),
    // e10: HYBRID retrieval — RRF fusion of e09's lexical and e05's
    // dense rankings over the shared id space; candidate-bounded past
    // the two input pipelines (<= 20 fused rows per query).
    "e10_hybrid_rrf"       -> (Retrieval.e10HybridRrf _),
    // e11: incremental postings append — base-index ∪ batch == one-shot
    // index (exactly additive state); gated against e09's oracle
    // verbatim, the d09/e06/x09 incremental-equivalence convention.
    "e11_postings_append"  -> (Retrieval.e11PostingsAppend _),
    // e14: postings takedown — e11's additivity reversed (df/N/T
    // decrement, cap re-cross back UNDER); gated against e09's oracle
    // on corpus-minus-deleted.
    "e14_postings_delete"  -> (Retrieval.e14PostingsDelete _),
    // e16: the composed lexical-index lifecycle — d17's slice history
    // (append → delete → append-with-re-ingest) through SEGMENTED
    // postings + tombstone liveness, vs e09 from scratch on the
    // composed survivor set.
    "e16_postings_lifecycle" -> (Retrieval.e16PostingsLifecycle _),
    // e15: dense-index takedown — frozen quantizers, deleted vectors
    // out of the index (touched-cell rewrite in the persisted form),
    // queries over the remaining corpus; e05's oracle restricted to
    // live ids with full-corpus training.
    "e15_index_delete"     -> ((s, d) =>
      Incremental.e15IndexDelete(s, d, shortlist = Similarity.calibratedPqShortlist(s, d))),
    // e17: the composed dense-index lifecycle — frozen base-trained
    // quantizers through append → delete → append-with-re-ingest; e05's
    // oracle with base-slice training CTEs and survivor-set index/query.
    "e17_index_lifecycle"  -> ((s, d) =>
      Incremental.e17IndexLifecycle(s, d, shortlist = Similarity.calibratedPqShortlist(s, d))),
    "m01_multimodal_meta"  -> (Multimodal.m01MultimodalMeta _),
    "m02_frame_sample"     -> (Multimodal.m02FrameSample _),
    "m03_audio_meta"       -> (Multimodal.m03AudioMeta _),
    "m04_video_meta"       -> (Multimodal.m04VideoMeta _),
    "m05_media_dedup"      -> (Multimodal.m05MediaDedup _),
    // m06: near-dup media via an inverted index on parsed
    // metadata-segment content — m05's digest discipline per segment;
    // planted metadata-edited re-encodes exercise both rule directions.
    "m06_media_neardup"    -> (Multimodal.m06MediaNeardup _),
    // m07: perceptual near-dup over REAL decoded PNG pixels (JDK-only
    // inflate + unfilter + aHash) — catches re-encoded images m05's
    // digest and m06's metadata index both miss; d04's band machinery.
    "m07_perceptual_dedup" -> (Multimodal.m07PerceptualDedup _),
    // m08: perceptual duplicate groups — connected components over
    // m07's pair graph (d06's machinery), min-id keeper, group sizes.
    "m08_media_groups"     -> (Multimodal.m08MediaGroups _),
    // m09: perceptual AUDIO near-dup over real PCM samples — m07's
    // grammar for the time axis (frame-energy hash, same band
    // machinery); catches bit-depth re-encodes m05/m03 cannot see.
    "m09_audio_dedup"      -> (Multimodal.m09AudioDedup _),
    // m10: audio duplicate groups — m08's act-on-it posture over m09's
    // pair graph (shared CC machinery, min-id keeper).
    "m10_audio_groups"     -> (Multimodal.m10AudioGroups _),
    // m11: video near-dup — frames out of REAL MP4 sample tables, PNG
    // decode + aHash per frame, pairs by shared perceptual frames
    // (capped inverted index; re-encodes and trims both recovered).
    "m11_video_neardup"    -> (Multimodal.m11VideoNeardup _),
    // m12: the MP4 AUDIO trak through real sample tables (uniform stsz,
    // 'raw '/'sowt' sample entries) feeding m09's frame-energy hash —
    // same grammar, so m09's oracle verbatim gates container-independence.
    "m12_mp4_audio"        -> (Multimodal.m12Mp4AudioDedup _),
    "s01_window_agg"       -> (EventOps.s01WindowAgg _),
    "s02_sessionize"       -> (EventOps.s02Sessionize _),
    "s03_stream_dedup"     -> (EventOps.s03StreamDedup _),
    "s04_stream_enrich"    -> (EventOps.s04StreamEnrich _),
    // s05 runs the actual streaming query to completion (memory sink)
    // and returns the emitted pair set — gated against d03's oracle.
    "s05_stream_neardup"   -> (graft.streaming.StreamOps.s05StreamNearDup _),
    // s06 drains the flatMapGroupsWithState sessionization over a bounded
    // file stream — emitted sessions equal batch s02, gated by s02's oracle.
    "s06_stream_sessionize" -> (graft.streaming.StreamOps.s06StreamSessionize _),
    // s08 re-runs the s06 drain with the corpus time-sliced across 3
    // real micro-batches (+2 sentinel batches): cross-batch session
    // state and inter-batch watermark advancement, hash-gated against
    // the same batch oracle.
    "s08_stream_multibatch" -> (graft.streaming.StreamOps.s08StreamSessionizeMB _),
    // s07 drains a watermarked stream-stream join (views -> purchases in
    // a density-calibrated window); the oracle derives the same window
    // from the events table in SQL, so the gate is threading-free.
    "s07_stream_join"      -> (graft.streaming.StreamOps.s07StreamJoin _),
    // s09 drains the watermarked tumbling-window aggregation (the shared
    // EventOps.windowAgg transform) in append mode over 3 time-sliced
    // micro-batches — cross-batch aggregation state, gated by s01's oracle.
    "s09_stream_window"    -> (graft.streaming.StreamOps.s09StreamWindowAgg _),
    // s10: takedowns arriving ON the stream — a 3-file CDC op-log
    // drained via foreachBatch into persisted group state (version-dir
    // flips, idempotent re-apply); final state vs d16's oracle verbatim.
    "s10_stream_takedown"  -> (graft.streaming.StreamOps.s10StreamTakedown _),
    "x01_hash_sample"      -> (Sampling.x01HashSample _),
    "x04_quota_sample"     -> (Sampling.x04QuotaSample _),
    "x05_strat_split"      -> (Sampling.x05StratSplit _),
    "x06_source_mix"       -> (Sampling.x06SourceMix _),
    "x02_seq_pack"         -> (Sampling.x02SeqPack _),
    "x03_kmv_distinct"     -> (Sampling.x03KmvDistinct _),
    "x07_datasheet"        -> (Sampling.x07Datasheet _),
    "x08_curation_decide"  -> (Curation.x08CurationDecide _),
    "x09_curation_merge"   -> (Curation.x09CurationMerge _),
    // x18: curation takedown — the delete sibling of x09: per-doc
    // verdicts stand (immutable benchmark registry), touched clean
    // components re-CC with QUALITY-keeper re-election, decision frame
    // reassembles; oracle = x08's mirror on corpus-minus-deleted.
    "x18_curation_delete"  -> (Curation.x18CurationDelete _),
    // x19: the composed curation lifecycle — merge → delete → merge
    // through one carried eight-frame state; x08's oracle on the
    // composed survivor set (registry immutability + monotone
    // contamination across re-ingestion).
    "x19_curation_lifecycle" -> (Curation.x19CurationLifecycle _),
    "x10_seq_chunk"        -> (Sampling.x10SeqChunk _),
    "x11_quantile_profile" -> (Sampling.x11QuantileProfile _),
    // x12 consumes x10's chunk fingerprints: chunk-level exact dedup
    // over the doubled corpus (the raw corpus has no cross-doc spans).
    "x12_chunk_dedup"      -> (Sampling.x12ChunkDedup _),
    // x13: BPE merge-table training on the (token, freq) vocabulary —
    // per-round argmax driver-folded, merges as literal replaces.
    "x13_bpe_merges"       -> (Sampling.x13BpeMerges _),
    // x17: x13's trainer at vocabulary-scale shape — top-B
    // non-conflicting merges per pair-count pass (1 driver job per B
    // merges instead of per merge); unrolled conflict-ladder oracle.
    "x17_bpe_merges_batched" -> (Sampling.x17BpeMergesBatched _),
    // x14: deterministic KMV-sample quantile sketch for continuous
    // columns (x11's sibling where distinct values ≈ corpus rows).
    "x14_quantile_sketch"  -> (Sampling.x14QuantileSketch _),
    // x15: temperature-reweighted source mixture (w ∝ √n, per-doc epoch
    // fan-out) — the upsampling data-recipe knob next to x06's
    // no-upsampling cap; exact-integer thresholds, map-side explode.
    "x15_temperature_mix"  -> (Sampling.x15TemperatureMix _),
    // x16: BPE encode with x13's trained merges — the apply half of the
    // tokenization loop (train x13 → encode x16 → pack x02 → chunk x10);
    // gated-rebuild convention (trains in-query, production persists).
    "x16_bpe_encode"       -> (Sampling.x16BpeEncode _)
  )

  /** Canonical verification ordering per key (ascending, by column name).
    * Keys absent here are ordered by their own semantics (top-N queries). */
  private val verifyOrder: Map[String, Seq[String]] = Map(
    "q01_agg"              -> Seq("l_returnflag", "l_linestatus"),
    "q02_filter_project"   -> Seq("o_orderkey"),
    "q04_broadcast_join"   -> Seq("r_name"),
    "q05_dedup_key"        -> Seq("o_custkey"),
    "q06_regex_extract"    -> Seq("k"),
    "q07_parse_dollars"    -> Seq("o_orderkey"),
    "q08_multi_date"       -> Seq("o_orderkey"),
    "q09_null_prune"       -> Seq("column_name"),
    "q10_pivot"            -> Seq("o_custkey"),
    "q11_coalesce_fill"    -> Seq("c_custkey"),
    "q12_window_topn"      -> Seq("o_custkey", "rn"),
    "q13_conditional_agg"  -> Seq("l_linestatus"),
    "q14_semi_anti"        -> Seq("c_mktsegment", "grp"),
    "q15_string_normalize" -> Seq("p_brand"),
    "q16_type_coercion"    -> Seq("event_id"),
    "q17_json_extract"     -> Seq("k"),
    "q18_runtime_parse"    -> Seq("l_orderkey", "l_linenumber"),
    "q19_etl_pipeline"     -> Seq("c_mktsegment", "priority_class"),
    "q20_map_consolidate"  -> Seq("doc_id"),
    "q21_suffix_merge"     -> Seq("id"),
    "q22_asof_join"        -> Seq("event_id"),
    "q23_range_join"       -> Seq("event_id", "win_id"),
    "q24_rollup"           -> Seq("lvl", "returnflag", "linestatus"),
    "q25_salted_join"      -> Seq("event_type"),
    "q26_column_triage"    -> Seq("column_name"),
    "q27_funnel"           -> Seq("user_id"),
    "q28_retention"        -> Seq("cohort_day", "day_offset"),
    "q29_event_spike"      -> Seq("event_type", "day"),
    "t01_lang_id"          -> Seq("doc_id"),
    "t02_quality_score"    -> Seq("doc_id"),
    "t03_token_count"      -> Seq("doc_id"),
    "t04_fingerprint"      -> Seq("doc_id"),
    "t05_pii_mask"         -> Seq("c_custkey"),
    "t06_repetition"       -> Seq("doc_id"),
    "t07_quality_filter"   -> Seq("doc_id"),
    "t08_rare_token_score" -> Seq("doc_id"),
    "t09_html_extract"     -> Seq("doc_id"),
    "t10_ngram_lm_score"   -> Seq("doc_id"),
    "t11_tfidf_keywords"   -> Seq("doc_id", "rnk"),
    "t12_repeat_removal"   -> Seq("doc_id"),
    "t13_quality_classifier" -> Seq("doc_id"),
    "t14_boilerplate_filter" -> Seq("doc_id"),
    "d01_dedup_exact"      -> Seq("keep_id"),
    "d13_url_dedup"        -> Seq("keep_id"),
    "d14_bloom_decontaminate" -> Seq("doc_id"),
    "d15_domain_rank"      -> Seq("dom"),
    "d02_ngram_jaccard"    -> Seq("id_a", "id_b"),
    "d03_minhash_lsh"      -> Seq("id_a", "id_b"),
    "d04_simhash"          -> Seq("id_a", "id_b"),
    "d05_embedding_dedup"  -> Seq("id_a", "id_b"),
    "d06_dup_groups"       -> Seq("doc_id"),
    "d07_decontaminate"    -> Seq("doc_id"),
    "d09_incremental_groups" -> Seq("doc_id"),
    "d16_delete_groups"    -> Seq("doc_id"),
    "d17_lifecycle_groups" -> Seq("doc_id"),
    "d08_containment"      -> Seq("id_a", "id_b"),
    "d10_span_dup"         -> Seq("doc_id"),
    "d11_span_mask"        -> Seq("doc_id"),
    "d12_semantic_groups"  -> Seq("vec_id"),
    "e01_knn_brute"        -> Seq("q_id", "rnk"),
    "e12_mmr_rerank"       -> Seq("q_id", "rnk"),
    "e02_ann_lsh"          -> Seq("q_id", "rnk"),
    "e03_ivf_ann"          -> Seq("q_id", "rnk"),
    "e04_pq_ann"           -> Seq("q_id", "rnk"),
    "e05_ivfpq"            -> Seq("q_id", "rnk"),
    "e13_mmr_ann"          -> Seq("q_id", "rnk"),
    "e06_index_append"     -> Seq("q_id", "rnk"),
    "e07_cluster_stats"    -> Seq("cell"),
    "e09_bm25_topk"        -> Seq("q_id", "rnk"),
    "e10_hybrid_rrf"       -> Seq("q_id", "rnk"),
    "e11_postings_append"  -> Seq("q_id", "rnk"),
    "e14_postings_delete"  -> Seq("q_id", "rnk"),
    "e16_postings_lifecycle" -> Seq("q_id", "rnk"),
    "e15_index_delete"     -> Seq("q_id", "rnk"),
    "e17_index_lifecycle"  -> Seq("q_id", "rnk"),
    "e08_filtered_ann"     -> Seq("q_id", "rnk"),
    "m01_multimodal_meta"  -> Seq("doc_id"),
    "m02_frame_sample"     -> Seq("doc_id", "frame_no"),
    "m03_audio_meta"       -> Seq("doc_id"),
    "m04_video_meta"       -> Seq("doc_id"),
    "m05_media_dedup"      -> Seq("keep_id"),
    "m06_media_neardup"    -> Seq("id_a", "id_b"),
    "m07_perceptual_dedup" -> Seq("id_a", "id_b"),
    "m08_media_groups"     -> Seq("doc_id"),
    "m09_audio_dedup"      -> Seq("id_a", "id_b"),
    "m10_audio_groups"     -> Seq("doc_id"),
    "m11_video_neardup"    -> Seq("id_a", "id_b"),
    "m12_mp4_audio"        -> Seq("id_a", "id_b"),
    "s01_window_agg"       -> Seq("win_start", "event_type"),
    "s02_sessionize"       -> Seq("user_id", "sess_no"),
    "s03_stream_dedup"     -> Seq("user_id", "event_type", "ts_us"),
    "s04_stream_enrich"    -> Seq("win_start", "segment", "event_type"),
    "s05_stream_neardup"   -> Seq("id_a", "id_b"),
    "s06_stream_sessionize" -> Seq("user_id", "sess_no"),
    "s08_stream_multibatch" -> Seq("user_id", "sess_no"),
    "s07_stream_join"      -> Seq("view_id", "purchase_id"),
    "s09_stream_window"    -> Seq("win_start", "event_type"),
    "s10_stream_takedown"  -> Seq("doc_id"),
    "x01_hash_sample"      -> Seq("doc_id"),
    "x04_quota_sample"     -> Seq("source", "doc_id"),
    "x05_strat_split"      -> Seq("doc_id"),
    "x06_source_mix"       -> Seq("doc_id"),
    "x02_seq_pack"         -> Seq("shard", "pack_no"),
    "x03_kmv_distinct"     -> Seq("lang"),
    "x07_datasheet"        -> Seq("lvl", "lang", "source"),
    "x08_curation_decide"  -> Seq("doc_id"),
    "x09_curation_merge"   -> Seq("doc_id"),
    "x18_curation_delete"  -> Seq("doc_id"),
    "x19_curation_lifecycle" -> Seq("doc_id"),
    "x10_seq_chunk"        -> Seq("doc_id", "chunk_no"),
    "x11_quantile_profile" -> Seq("source"),
    "x12_chunk_dedup"      -> Seq("chunk_md5"),
    "x13_bpe_merges"       -> Seq("rnd"),
    "x17_bpe_merges_batched" -> Seq("rnd", "pick"),
    "x14_quantile_sketch"  -> Seq("source"),
    "x15_temperature_mix"  -> Seq("doc_id", "epoch"),
    "x16_bpe_encode"       -> Seq("doc_id")
  )

  /** Verification view: production plan + canonical output order. */
  def verified: Map[String, Q] = production.map { case (name, fn) =>
    name -> verifyOrder.get(name).fold(fn) { cols =>
      (s: SparkSession, d: String) => fn(s, d).orderBy(cols.map(col): _*)
    }
  }
}
