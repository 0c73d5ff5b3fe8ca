package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.Text

/** Data-curation operators a training-data pipeline runs between dedup
  * and export (SURVEY §2.H): deterministic sampling and sequence
  * packing. Both are pure map/window/aggregate plans whose randomness is
  * md5-derived, so they are exactly reproducible across engines (oracle
  * hash-gated) and across partitionings — no `rand()`, whose draw order
  * depends on the physical split.
  */
object Sampling {

  /** Per-stratum sampling rates out of 1000, by document language —
    * downsample the dominant stratum, keep the scarce ones (the usual
    * language-rebalancing move). Shared with the oracle mirror and the
    * spec, so a rate change updates all three atomically. */
  val RateEn = 500
  val RateZh = 800
  val RateDefault = 1000
  val SampleSeed = 11
  val ShardSeed = 13

  private def rateOf: org.apache.spark.sql.Column =
    when(col("lang") === "en", RateEn)
      .when(col("lang") === "zh", RateZh)
      .otherwise(RateDefault)

  /** x01: deterministic stratified hash-sample — a document is kept iff
    * md5-bucket(doc_id) mod 1000 falls under its stratum's rate. Unlike
    * `df.sample`, membership is a pure function of the row (stable
    * across runs, partitionings, and engines — the SAME sample can be
    * reproduced anywhere), and the filter is map-side only: no shuffle,
    * fully pushdown-friendly at 100 TB. */
  def x01HashSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        pmod(Text.hash60(col("doc_id").cast("string"), SampleSeed), lit(1000)).as("bucket"),
        rateOf.as("rate"))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket"))

  /** KMV sketch size (k minimum values) and hash seed. */
  val KmvK = 256
  val KmvSeed = 17

  /** 2^60: the hash60 value space, exactly representable as a double
    * (power of two), so the KMV estimator divides identically in any
    * engine. */
  private val Hash60Space = math.pow(2, 60)

  /** x03: per-language distinct-token cardinality via a KMV (k-minimum-
    * values) sketch — the deterministic alternative to HLL: the sketch
    * state is the k smallest md5-derived hashes of the distinct tokens,
    * so the SAME estimate reproduces on any engine/partitioning and the
    * operator is hash-gated like everything else (HLL implementations
    * differ across engines and can't be mirrored). Estimator: with the
    * k-th smallest hash at fraction F = kth/2^60 of the space, distinct
    * ≈ (k-1)/F; when a stratum has fewer than k distinct tokens the
    * sketch IS the exact answer. The exact count is emitted alongside, so
    * the sketch error is visible in-row (spec bounds it). At scale the
    * sketch state is k values per stratum regardless of corpus size, kept
    * by a bounded partial aggregate — no task ever SORTS any slice of the
    * vocabulary. */
  def x03KmvDistinct(s: SparkSession, d: String): DataFrame =
    kmvDistinct(Tables.documents(s, d).select(col("lang"), col("text")))

  /** KMV over any (lang, text) frame — split out so specs can feed a
    * synthetic corpus with a known cardinality. */
  def kmvDistinct(docs: DataFrame): DataFrame = {
    // array_distinct kills within-document repetition map-side
    // (measured: its per-array pass beats shipping 2.3× the rows into
    // the aggregate); then hash FIRST and distinct ONCE on (lang, h) —
    // exactly the oracle's shape (Oracles.x03Sql: DISTINCT lang,
    // h60(tok)). A dedup-before-hash form (distinct on (lang, tok),
    // project md5, distinct on (lang, h)) plans IDENTICALLY:
    // RemoveRedundantAggregates drops the lower keys-only aggregate
    // under the duplicate-agnostic upper distinct, so both sources
    // produce the same 2-exchange physical plan (verified by plan_fp
    // 691d9cac3da9 on both, sf1 1.96 s both) — this source just says
    // what actually executes. The one exchange ships 8-byte longs, its
    // partial HashAggregate dedups each partition map-side, so it
    // carries at most (per-partition hash-vocabulary × partitions)
    // longs; md5 runs once per post-array_distinct occurrence.
    val hashes = docs
      .select(col("lang"),
        explode(array_distinct(Text.tokens(col("text")))).as("tok"))
      .select(col("lang"), Text.hash60(col("tok"), KmvSeed).as("h"))
      .distinct()
    // One bounded aggregate does both jobs: graft_mink (the MinKLong
    // ranking of graft.functions.KBest) keeps the k minima in a bounded
    // heap that partial-aggregates — each partition ships at most k
    // values per language to the final merge — and the exact
    // cardinality is a plain count riding the same exchange. This
    // replaced a two-level row_number pipeline (two window SORTS of
    // vocabulary slices + an extra join): same k minima, same hashes,
    // 3 exchanges total and zero sorts.
    val spark = docs.sparkSession
    hashes.groupBy("lang")
      .agg(count(lit(1)).as("n_exact"),
        graft.functions.MinKLong(spark, col("h"), KmvK).as("mins"))
      .select(col("lang"), col("n_exact"),
        round(when(size(col("mins")) < KmvK, col("n_exact").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(Hash60Space) /
            element_at(col("mins"), KmvK).cast("double")), 6)
          .as("kmv_estimate"))
  }

  /** Per-source document quota and hash seed for x04. */
  val QuotaPerSource = 50
  val QuotaSeed = 23

  /** x04: per-source QUOTA sampling — the domain-cap move of web-corpus
    * curation (bound any one crawl domain / source's share of the
    * training set): keep at most [[QuotaPerSource]] documents per source,
    * chosen as the ones with the smallest md5 hash of their id — a
    * deterministic uniform draw that reproduces on any engine or
    * partitioning, unlike rand()-based reservoir sampling.
    *
    * The selection is the bounded [[graft.functions.KBest]] aggregate
    * under graft_mink_pairs: each partition ships at most quota
    * (hash, id) pairs per source to the merge, so a source with a
    * billion documents costs the shuffle
    * 50 pairs per partition — the row_number-window form would shuffle
    * and SORT the full billion in one task (few distinct sources = few
    * window partitions; AQE cannot split a window partition). Output is
    * every kept doc with its pick rank (= row_number over (hash, id),
    * oracle-mirrored). */
  def x04QuotaSample(s: SparkSession, d: String): DataFrame =
    quotaSample(s, Tables.documents(s, d).select(col("doc_id"), col("source")),
      QuotaPerSource)

  /** [[x04QuotaSample]] over any (doc_id, source) frame with an explicit
    * quota — split out so specs can exercise quota boundaries. */
  def quotaSample(s: SparkSession, docs: DataFrame, quota: Int): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        Text.hash60(col("doc_id").cast("string"), QuotaSeed).as("h"))
      .groupBy("source")
      .agg(graft.functions.MinKPairs(s, struct(col("h"), col("doc_id")), quota)
        .as("picks"))
      .select(col("source"), posexplode(col("picks")).as(Seq("pos", "p")))
      .select(col("source"), col("p.id").as("doc_id"),
        (col("pos") + 1).cast("bigint").as("pick_rank"))

  /** x05 split fractions (percent) and hash seed. */
  val SplitSeed = 29
  val TrainPct = 90
  val ValPct = 5 // test = the remainder

  /** x05: deterministic train/val/test SPLIT assignment — the last step
    * before export: every document lands in exactly one split, decided by
    * its md5 bucket (train 90 / val 5 / test 5). Membership is a pure
    * function of doc_id, so the split is stable under reruns, engine
    * changes, and repartitioning — and adding documents later never moves
    * an existing document between splits (the property rand()-based
    * splitting cannot give you, and the one that prevents silent
    * val→train leakage across pipeline versions). Hash-bucketing is
    * per-stratum unbiased, so each language's 90/5/5 holds in
    * expectation; map-side only, no shuffle. */
  def x05StratSplit(s: SparkSession, d: String): DataFrame =
    stratSplit(Tables.documents(s, d))

  /** [[x05StratSplit]] over any (doc_id, lang, ...) frame. */
  def stratSplit(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        pmod(Text.hash60(col("doc_id").cast("string"), SplitSeed), lit(100))
          .as("bucket"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < TrainPct + ValPct, "val")
          .otherwise("test").as("split"))

  /** x06 mixture hash seed. */
  val MixSeed = 31

  /** x06: computed-rate source MIXTURE sampling — the "data recipe" step
    * of pretraining curation: given integer mixture weights per source
    * (here 1/2/3 cycling by source number — plan-time deterministic), keep
    * the LARGEST output corpus whose composition matches the target
    * weights without upsampling any source. The binding source is the one
    * with the least data relative to its weight: output total
    * T = min_s floor(n_s·W/w_s); source s then keeps docs at rate
    * w_s·T/(W·n_s), selected by md5-hash threshold.
    *
    * Decision arithmetic is EXACT integers end-to-end — keep doc iff
    * h·W·n_s < 2^60·w_s·T in DECIMAL(38,0) (h < 2^60, so the product
    * needs ~92 bits) — which makes the sample reproducible bit-for-bit
    * on any engine: no float rate ever sits at a rounding boundary.
    *
    * Scale shape: pass 1 is a partial-aggregated count per source
    * (distinct-source-sized result), the rate table then BROADCASTS back
    * onto a map-side filter — no shuffle of the corpus itself, ever; the
    * cost is two column-pruned scans of (doc_id, source). */
  def x06SourceMix(s: SparkSession, d: String): DataFrame =
    sourceMix(s, Tables.documents(s, d).select(col("doc_id"), col("source")))

  /** [[x06SourceMix]] over any (doc_id, source) frame — split out so specs
    * can verify composition against hand-computable corpora. */
  def sourceMix(s: SparkSession, docs: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    // A source with no trailing digits extracts "" → null int; coalesce
    // to 0 (wt = 1) so the driver-side getLong fold below can never NPE
    // — the old in-plan window form silently propagated the null, the
    // collect form must define it instead. Oracle mirrors via try_cast.
    val wt = (lit(1) +
      pmod(coalesce(regexp_extract(col("source"), "(\\d+)$", 1).cast("int"), lit(0)),
        lit(3))).cast("bigint")
    // W and T are two scalars over the counts frame, which is
    // distinct-source-sized (tiny by construction): one partial-aggregated
    // count per source reaches the driver, W/T are folded there, and the
    // rate table re-enters the plan as a LocalTableScan with W/T as
    // literals. The rejected alternatives both poison the plan: an
    // unpartitioned window emits a "Moving all data to a single
    // partition" warning on every run, and a join-on-literal-key folds to
    // the BroadcastNestedLoopJoin the catalog-wide audit bans
    // (FoldablePropagation rewrites k=k to true). Driver-side state here
    // is the same small-by-construction exception CLAUDE.md grants the
    // k-means centroid loop.
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n")).withColumn("wt", wt)
    val rows = counts.collect()
    if (rows.isEmpty) return docs.select(col("doc_id"), col("source"))
    val iN = counts.schema.fieldIndex("n")
    val iW = counts.schema.fieldIndex("wt")
    val w = rows.map(_.getLong(iW)).sum
    val t = rows.map(r => r.getLong(iN) * w / r.getLong(iW)).min
    val rates = {
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.toSeq.asJava, counts.schema)
        .withColumn("W", lit(w)).withColumn("T", lit(t))
    }
    docs
      .join(broadcast(rates), "source")
      .filter(Text.hash60(col("doc_id").cast("string"), MixSeed).cast(dec)
        * col("W") * col("n") <
        lit(1152921504606846976L).cast(dec) * col("wt") * col("T"))
      .select(col("doc_id"), col("source"))
  }

  /** x15 mixture hash seed, and the seed of the planted source skew. */
  val TempSeed = 37
  val TempSkewSeed = 41

  /** x15: TEMPERATURE-reweighted source mixture with upsampling — the
    * data-recipe knob x06 deliberately lacks: x06 caps at the natural
    * data (no source repeats), while real pretraining mixtures
    * (GPT-3's table of per-source epochs, LLaMA's sampling
    * proportions) flatten the source distribution with w_s ∝ n_s^α
    * and REPEAT rare high-quality sources for multiple epochs while
    * downsampling the dominant crawl. α = 1/2 here — the standard
    * flattening range, and the one exponent that is EXACTLY integer
    * arithmetic: w_s = isqrt(n_s) (floor square root), no
    * transcendental anywhere. The output budget is the corpus size B,
    * redistributed: source s gets rate r_s = B·w_s/(W·n_s) expected
    * copies per doc — ⌊r_s⌋ full epochs for every doc plus one extra
    * copy decided by the exact-integer hash threshold
    * h·W·n_s < 2^60·(B·w_s − ⌊r_s⌋·W·n_s) in DECIMAL(38,0) (x06's
    * grammar), so the manifest reproduces bit-for-bit on any engine
    * and composition matches the temperature weights in expectation.
    * Emits one manifest row per (doc, epoch).
    *
    * Scale shape: pass 1 is a partial-aggregated per-source count
    * (distinct-source-sized — the x06 driver-fold exception); the rate
    * table BROADCASTS onto a map-side filter + bounded explode — the
    * corpus itself never shuffles. Epoch fan-out is bounded by
    * max r_s + 1, a plan-time constant of the recipe.
    *
    * Gate corpus: the synthetic draw is source-UNIFORM (source =
    * doc_id % 20 at every SF), which makes every rate exactly 1 and
    * the operator a no-op — so the gated key first SKEWS the corpus
    * deterministically (keep iff hash60(doc_id) ≡ 0 mod (1 + src# %
    * 4), a hash draw UNcorrelated with the modular source layout),
    * giving four source-size classes and real up/downsampling on any
    * draw (the t12/x12 planting convention; TempMixSpec pins that
    * both directions occur). */
  def x15TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val srcNum = coalesce(
      regexp_extract(col("source"), "(\\d+)$", 1).cast("int"), lit(0))
    val skewed = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .filter(pmod(Text.hash60(col("doc_id").cast("string"), TempSkewSeed),
        (lit(1) + pmod(srcNum, lit(4))).cast("bigint")) === 0L)
    temperatureMix(s, skewed)
  }

  /** [[x15TemperatureMix]] over any (doc_id, source) frame — split out
    * so specs can pin epoch counts on hand-computable mixtures. */
  def temperatureMix(s: SparkSession, docs: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val rows = counts.collect()
    if (rows.isEmpty)
      return docs.select(col("doc_id"), col("source"), lit(0L).as("epoch"))
    val iN = counts.schema.fieldIndex("n")
    // Exact floor sqrt. The double seed is exact for n < 2^52 (sqrt is
    // correctly rounded and n this close to a square IS a square); the
    // correction loops make the claim unconditional anyway.
    def isqrt(n: Long): Long = {
      var x = math.max(0L, math.sqrt(n.toDouble).toLong)
      while ((x + 1L) * (x + 1L) <= n) x += 1L
      while (x * x > n) x -= 1L
      x
    }
    // The oracle mirrors isqrt as FLOOR(SQRT(CAST(n AS DOUBLE))), exact
    // only below 2^52 — keep both engines inside the proven range.
    require(rows.forall(_.getLong(iN) < (1L << 52)),
      "x15: per-source count exceeds the exact-FLOOR(SQRT) range (2^52)")
    val stats = rows.map { r =>
      val n = r.getLong(iN); (r.getString(0), n, isqrt(n))
    }
    val bTot = stats.map(_._2).sum // output budget = corpus size
    val w = stats.map(_._3).sum
    // Full-epoch count per source, folded driver-side in BigInt (the
    // products can brush Long range at extreme corpus sizes).
    import s.implicits._
    val rates = stats.toSeq.map { case (src, n, wt) =>
      val ef = (BigInt(bTot) * wt / (BigInt(w) * n)).toLong
      (src, n, wt, ef)
    }.toDF("source", "n", "wt", "ef")
      .withColumn("B", lit(bTot)).withColumn("W", lit(w))
    docs
      .join(broadcast(rates), "source")
      .withColumn("ne", col("ef") +
        when(Text.hash60(col("doc_id").cast("string"), TempSeed).cast(dec)
          * col("W") * col("n") <
          lit(1152921504606846976L).cast(dec) *
            (col("B").cast(dec) * col("wt") - col("ef").cast(dec) * col("W") * col("n")),
          1L).otherwise(0L))
      .filter(col("ne") > 0L)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("ne") - 1L)).as("epoch"))
  }

  /** Tokens per pack (context-window budget) and shard count for x02. */
  val PackTokens = 2048
  val PackShards = 8

  /** x02: sharded sequence packing — the concat-then-chunk token packing
    * a pretraining pipeline runs: documents are hashed into shards, laid
    * out in deterministic (doc_id) order within each shard, and a doc is
    * assigned to the pack its FIRST token lands in (cumulative token
    * offset DIV budget). The running sum is a per-SHARD window, so the
    * heavy window is bounded by a shard, never the corpus, and shard
    * count scales with the cluster. Output is one row per pack with its
    * doc range and token count (a pack may overflow the budget by at
    * most its last straddling doc — chunking semantics). */
  def x02SeqPack(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("bigint").as("n_tokens"),
        pmod(Text.hash60(col("doc_id").cast("string"), ShardSeed), lit(PackShards)).as("shard"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("pack_no", expr(s"(cum - n_tokens) DIV $PackTokens"))
      .groupBy("shard", "pack_no")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  /** x07: corpus DATASHEET — the data-card summary every released
    * training corpus ships (Datasheets for Datasets): doc / token /
    * char totals and mean doc length per (lang x source) cell, per
    * lang, per source, and overall, in ONE pass via CUBE. Token counts
    * are map-side `size()` projections (no explode), sums are exact
    * integers, and the cube input is pre-aggregated to the (lang,
    * source) cells first — same two-level trick as q24, so Expand
    * quadruples only ~|cells| rows, never the corpus: at 100 TB the
    * Expand input is kilobytes. `lvl` = grouping_id disambiguates a
    * real "ALL" value from the rollup marker. */
  def x07Datasheet(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(Text.tokens(col("text"))).cast("bigint").as("t"),
        col("n_chars"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"), sum("t").as("tok"), sum("n_chars").as("ch"))
    cells.cube(col("lang"), col("source"))
      .agg(grouping_id().cast("bigint").as("lvl"),
        sum("n").as("n_docs"), sum("tok").as("n_tokens"), sum("ch").as("n_chars"),
        round(sum("ch").cast("double") / sum("n").cast("double"), 6)
          .as("avg_chars"))
      .select(col("lvl"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_chars"), col("avg_chars"))
  }

  /** x10 chunking geometry: fixed token window with overlap — chunk k
    * covers tokens [k·stride, k·stride + window), the universal LLM
    * pre-tokenization split (every context-bounded trainer runs it;
    * x02 packs whole docs, this SPLITS long ones). Window/stride sized
    * so the gate corpus genuinely multi-chunks (docs are 10-99 tokens:
    * window 32 / stride 24 yields 1-4 overlapping chunks per doc). */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** x10: overlapping fixed-window sequence chunking. Per document:
    * number of chunks = 1 if n ≤ window else ceil((n − window)/stride)
    * + 1 (the last chunk may be short, never empty); each chunk row
    * carries its token span and an md5 fingerprint of the chunk text
    * (re-join of the token slice) for downstream chunk-level dedup.
    *
    * Scale shape: one map-side pass — tokenize once, explode a
    * sequence() of chunk indices, slice per index; md5 runs in the
    * codegen'd projection AFTER the explode (never inside a
    * higher-order lambda). Output volume is Σ ceil-ish(n/stride), the
    * corpus token count over the stride — linear, no shuffle at all. */
  def x10SeqChunk(s: SparkSession, d: String): DataFrame =
    seqChunk(Tables.documents(s, d))

  /** [[x10SeqChunk]] over any (doc_id, text, ...) frame — factored so
    * chunk-level consumers (x12) can chunk a corpus of their own. */
  def seqChunk(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"),
        size(toks).cast("bigint").as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L),
          when(col("n") <= ChunkTokens, lit(0L))
            .otherwise(expr(s"(n - $ChunkTokens + $ChunkStride - 1) DIV $ChunkStride"))))
          .as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        (col("chunk_no") * ChunkStride).as("start_tok"),
        least(lit(ChunkTokens.toLong),
          col("n") - col("chunk_no") * ChunkStride).as("n_chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("chunk_no") * ChunkStride + 1).cast("int"),
            lit(ChunkTokens)))).as("chunk_md5"))
  }

  /** x12: cross-document CHUNK-level exact dedup — the gated consumer
    * x10's `chunk_md5` column exists for (Lee-et-al-style sequence
    * dedup at chunk granularity: a duplicated 32-token span is dropped
    * even when the surrounding documents differ). Like d01's exact
    * dedup, the raw synthetic corpus has no cross-doc duplicate spans,
    * so the gate corpus doubles the documents under shifted ids
    * (+1,000,000 — d01's convention): every chunk then has a planted
    * duplicate and the keeper/count logic does real work. Emits one
    * row per DUPLICATED chunk fingerprint (n_copies ≥ 2 — the dedup
    * worklist): the lexicographically-first (doc_id, chunk_no) keeper,
    * copy count, and distinct-doc count.
    *
    * Scale shape: x10's zero-shuffle chunk explode feeds ONE
    * md5-keyed shuffle with map-side partial aggregation (d01's exact
    * shape, string keys); no window, no join. Output is bounded by the
    * duplicated-chunk count, never the corpus. The countDistinct
    * plans as an Expand + two-level HashAggregate — both levels
    * partial-combine map-side. */
  def x12ChunkDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // Shift = max(doc_id)+1 folded driver-side (the scalar-literal
    // rule), NOT a fixed 1,000,000: a fixed shift silently collides
    // with real ids past 1M documents (and the oracle, mirroring the
    // same union, would stay green while keeper/n_docs semantics
    // break). max(doc_id) is a narrow single-column scan; the oracle
    // derives the same shift as a scalar subquery. Values are
    // unchanged at any SF where the old constant was valid: keeper =
    // min(doc_id) is always an ORIGINAL id (shift > max), and copy /
    // distinct-doc counts don't depend on the shift magnitude.
    val shift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val doubled = docs.unionByName(
      docs.select((col("doc_id") + shift).as("doc_id"), col("text")))
    chunkDedup(seqChunk(doubled))
  }

  /** [[x12ChunkDedup]] over any (doc_id, chunk_no, chunk_md5) frame —
    * split out so specs can plant known duplicate spans. */
  def chunkDedup(chunks: DataFrame): DataFrame =
    chunks
      .groupBy("chunk_md5")
      .agg(min(struct(col("doc_id"), col("chunk_no"))).as("k"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_md5"), col("k.doc_id").as("keep_doc"),
        col("k.chunk_no").as("keep_chunk"), col("n_copies"), col("n_docs"))

  /** Percentiles reported by x11, shared with the oracle. */
  val QuantilePcts: Seq[Int] = Seq(25, 50, 75, 90)

  /** x11: per-source token-count QUANTILE profile — the length
    * distribution summary every dataset datasheet carries (x07 reports
    * sums/means; curation decisions like "clip p99 outliers" and
    * "source B skews short" need order statistics). Exact
    * `quantile_disc` semantics, integer-only math: p-th percentile =
    * the smallest token count whose cumulative doc count reaches
    * ⌈p·n/100⌉ (compared as 100·cum ≥ p·n — no division, no rounding
    * boundary).
    *
    * Scale shape: built-in exact `percentile` buffers every value
    * per group — unusable at corpus scale. Instead ONE partial-combined
    * aggregate compacts the corpus to (source, token_count) cells —
    * bounded by sources × max-doc-length, independent of corpus rows —
    * and the cumulative window + threshold pick run over that compact
    * frame (the window's partition key is justified in PlanAuditSpec:
    * its input is post-aggregate, rows-per-source bounded by distinct
    * lengths, so a hot source cannot pin a task). */
  def x11QuantileProfile(s: SparkSession, d: String): DataFrame =
    quantileProfile(Tables.documents(s, d)
      .select(col("source"), size(Text.tokens(col("text"))).cast("bigint").as("tc")))

  /** [[x11QuantileProfile]] over any (source, tc) frame — split out so
    * specs can pin the order-statistic rule on literal distributions. */
  def quantileProfile(cells: DataFrame): DataFrame = {
    val counts = cells.groupBy("source", "tc").agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum("c").over(
        Window.partitionBy("source").orderBy("tc")))
    val totals = counts.groupBy("source").agg(sum("c").as("n_docs"))
    val qs = QuantilePcts.map(p =>
      min(when(col("cum") * 100 >= col("n_docs") * p, col("tc"))).as(s"p$p"))
    cum.join(broadcast(totals), "source")
      .groupBy("source")
      .agg(max("n_docs").as("n_docs"), qs: _*)
  }

  /** x14's sketch size (sampled rows per stratum) and hash seed —
    * [[KmvK]]'s scale, x03's md5-order discipline. */
  val QSketchK = 256
  val QSketchSeed = 41

  /** x14: per-source QUANTILE SKETCH for continuous / unbounded-
    * cardinality columns — the companion x11 cannot be: x11's exact
    * cell compaction is bounded by DISTINCT VALUES per source (fine
    * for token counts, ruinous for a continuous metric whose distinct
    * values ≈ corpus rows). Here the state is a deterministic
    * [[QSketchK]]-row sample per source — the rows whose md5-derived
    * doc_id hashes are the stratum's smallest (x03/x04's KMV
    * discipline: a uniform draw that reproduces on any engine or
    * partitioning, so the sketch hash-gates like everything else,
    * unlike t-digest/GK whose states are implementation-defined) —
    * and each percentile is the x11 integer order-statistic rule
    * applied to the sorted sample (p-th = sample value at rank
    * ⌈p·m/100⌉). When a stratum has ≤ [[QSketchK]] rows the sample IS
    * the stratum and the sketch is exact (spec-pinned); above it the
    * error is the binomial order-statistic bound (~1/√k relative rank
    * error, spec-bounded against the exact form).
    *
    * Metric: chars-per-token × 10⁶ (exact integer DIV) — a real
    * curation signal (mojibake/OCR inflates it, token spam deflates
    * it) whose distinct values grow with the corpus.
    *
    * Scale shape: one map-side projection, ONE bounded partial
    * aggregate ([[graft.functions.KBest]] under graft_mink_pairs: each
    * partition ships at most k pairs per source); the per-source sort
    * is over k values in
    * one array — no window over doc rows, no per-value cell state. */
  def x14QuantileSketch(s: SparkSession, d: String): DataFrame =
    quantileSketch(s, Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        expr("CAST(n_chars AS BIGINT) * 1000000 DIV " +
          "greatest(CAST(size(split(text, '\\\\s+')) AS BIGINT), 1)").as("v")))

  /** [[x14QuantileSketch]] over any (source, doc_id, v) frame (spec
    * entry — exactness at m ≤ k and the error bound vs the exact
    * order statistic are pinned on synthetic distributions). */
  def quantileSketch(s: SparkSession, rows: DataFrame): DataFrame = {
    val sk = rows
      .select(col("source"),
        Text.hash60(col("doc_id").cast("string"), QSketchSeed).as("h"), col("v"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.MinKPairs(s, struct(col("h"), col("v")), QSketchK).as("smp"))
    // The sample rides (hash ASC) order out of the aggregate; quantiles
    // need VALUE order — one k-element array sort per source.
    val withVs = sk
      .withColumn("vs", sort_array(transform(col("smp"), x => x.getField("id"))))
      .withColumn("m", size(col("vs")).cast("bigint"))
    val qcols = QuantilePcts.map(p =>
      element_at(col("vs"), expr(s"CAST(($p * m + 99) DIV 100 AS INT)"))
        .as(s"p${p}_micros"))
    withVs.select(Seq(col("source"), col("n_docs"),
      col("m").as("sample_m")) ++ qcols: _*)
  }

  /** Merge rounds trained by x13. */
  val BpeMerges = 8

  /** x13: BPE VOCABULARY construction — the deterministic top-merge
    * subword trainer every tokenization-facing op (x02's packing,
    * x10's chunking) presupposes exists upstream: [[BpeMerges]] rounds
    * of "count adjacent symbol pairs, merge the most frequent
    * everywhere" (Sennrich et al.'s byte-pair encoding), emitting the
    * merge table with per-merge corpus frequencies.
    *
    * The trainer runs on the (token, corpus frequency) VOCABULARY, not
    * the corpus: one corpus pass compacts to the distinct-token frame
    * (the classic word-frequency BPE formulation), then every round is
    * an aggregate over that vocab-bounded frame — at 100 TB the corpus
    * is read once and the iteration cost scales with vocabulary, not
    * data. Pre-tokenization keeps alphanumeric word forms (standard
    * BPE practice), which also makes the (x)(y) symbol framing
    * injective. Each round's argmax (count DESC, pair ASC — fully
    * tie-broken) is driver-folded (Lloyd's-iteration discipline:
    * per-round state re-enters as plan literals; the vocab frame is
    * lineage-cut once so round jobs never re-run the corpus pass).
    * Merges apply as literal string replaces over the framed symbol
    * string — greedy left-to-right non-overlapping in both engines, so
    * the oracle (one unrolled CTE chain per round, e03's pattern)
    * mirrors every round exactly. */
  def x13BpeMerges(s: SparkSession, d: String): DataFrame =
    bpeMerges(s, Tables.documents(s, d).select(col("text")), BpeMerges)

  /** [[x13BpeMerges]] over any (text) frame (spec entry — fixtures pin
    * the merge order, frequency weighting, and tie-breaks). */
  def bpeMerges(s: SparkSession, docs: DataFrame, rounds: Int): DataFrame = {
    import s.implicits._
    bpeMergeList(s, docs, rounds).toDF("rnd", "lhs", "rhs", "merged", "freq")
  }

  /** The lineage-cut framed (w, freq) vocabulary frame both trainers
    * start from — ONE corpus pass, shared by x13/x16/x17. */
  private[graft] def bpeVocab(docs: DataFrame): DataFrame =
    graft.Checkpoints.cut(docs
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .filter(col("tok").rlike("^[a-z0-9]+$"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      // (c) -> (c)(h)(a)(r) framing: injective over the alphanumeric
      // pre-tokenized forms, and a merged pair is ONE literal replace.
      .select(regexp_replace(col("tok"), "(.)", "($1)").as("w"), col("freq")))

  /** Adjacent-pair corpus frequencies of a framed vocabulary frame —
    * the per-round aggregate both trainers share. */
  private[graft] def bpePairCounts(w: DataFrame): DataFrame = w
    .select(col("freq"),
      split(expr("substring(w, 2, length(w) - 2)"), "\\)\\(").as("ss"))
    .select(col("freq"),
      expr("slice(ss, 1, size(ss) - 1)").as("la"),
      expr("slice(ss, 2, size(ss) - 1)").as("ra"))
    .select(col("freq"), explode(arrays_zip(col("la"), col("ra"))).as("p"))
    .groupBy(col("p.la").as("lhs"), col("p.ra").as("rhs"))
    .agg(sum("freq").as("cnt"))

  /** The trained merge table as a driver-side list (plan-time literals
    * for the consumers that APPLY the vocabulary — x16). Same
    * per-round collect discipline as the Lloyd centroids. */
  def bpeMergeList(s: SparkSession, docs: DataFrame,
                   rounds: Int): Seq[(Long, String, String, String, Long)] = {
    var w = bpeVocab(docs)
    val picks = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    for (r <- 1 to rounds) {
      val top = bpePairCounts(w).orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      require(top.nonEmpty, s"x13: no adjacent pairs left at merge round $r")
      val l = top.head.getAs[String]("lhs")
      val rr = top.head.getAs[String]("rhs")
      picks += ((r.toLong, l, rr, l + rr, top.head.getAs[Long]("cnt")))
      w = w.select(expr(s"replace(w, '($l)($rr)', '(${l + rr})')").as("w"),
        col("freq"))
    }
    picks.toSeq
  }

  /** x17 batch geometry: [[BpeBatch]] merges per pair-count pass over
    * [[BpeBatchRounds]] rounds — 16 merges for x13's-8 worth of driver
    * round-trips halved per merge (1 job per [[BpeBatch]] merges
    * instead of 1 per merge). At a real 32k-merge vocabulary the batch
    * factor IS the feasibility knob: x13's one-pick-per-pass form pays
    * ~2 Spark jobs per merge (~64k sequential jobs); B=256 cuts that
    * 256×. */
  val BpeBatch = 4
  val BpeBatchRounds = 4

  /** x17: BATCHED BPE vocabulary construction — x13's trainer at the
    * shape a vocabulary-scale (32k-merge) run needs: each pair-count
    * pass accepts the top-[[BpeBatch]] NON-CONFLICTING pairs (repeated
    * argmax over pairs sharing NO symbol with an earlier acceptance —
    * disjointness makes the batch's merges commute and none can create
    * or destroy occurrences of another, so applying them together
    * equals applying them in pick order). Within a batch the counts
    * are the PASS's counts — batched == one-at-a-time sequential
    * exactly when no merge's newly-created pairs would have outranked
    * a later pick (BpeBatchSpec pins both the equal case and the
    * engineered divergence); that approximation is the standard
    * deliberate trade of batched BPE trainers. Deterministic
    * end-to-end (fully tie-broken argmax ladder, driver-folded picks
    * re-entering as literals), so the key is hash-gated via an
    * unrolled conflict-ladder oracle (e12's selection-ladder pattern
    * per round). */
  def x17BpeMergesBatched(s: SparkSession, d: String): DataFrame =
    bpeMergesBatched(s, Tables.documents(s, d).select(col("text")),
      BpeBatchRounds, BpeBatch)

  /** [[x17BpeMergesBatched]] over any (text) frame (spec entry). */
  def bpeMergesBatched(s: SparkSession, docs: DataFrame, rounds: Int,
                       batch: Int): DataFrame = {
    import s.implicits._
    bpeMergeListBatched(s, docs, rounds, batch)
      .toDF("rnd", "pick", "lhs", "rhs", "merged", "freq")
  }

  /** The batched merge table as a driver list: per round ONE collect of
    * the top pair slice (conflict headroom ×16), then the repeated
    * non-conflicting argmax runs driver-side over that slice — the
    * greedy scan in (cnt DESC, lhs, rhs) order IS iterated argmax, so
    * it matches the oracle's unrolled ladder pick for pick. Fails
    * loudly if the slice exhausts before the batch fills while more
    * pairs exist beyond it (a pick would then be unproven). */
  def bpeMergeListBatched(s: SparkSession, docs: DataFrame, rounds: Int,
                          batch: Int): Seq[(Long, Long, String, String, String, Long)] = {
    var w = bpeVocab(docs)
    val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, String, String, String, Long)]()
    for (r <- 1 to rounds) {
      val slice = batch * 16
      // Collect ONE row past the slice: topAll.length <= slice proves the
      // scan saw EVERY distinct pair, so accepted < batch is then sound
      // degradation (corpus ran out of non-conflicting pairs), not an
      // unproven pick. Only the first `slice` rows feed the scan — the
      // oracle's unrolled ladder sees exactly that window.
      val topAll = bpePairCounts(w)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(slice + 1).collect()
      val sawEverything = topAll.length <= slice
      val top = topAll.take(slice)
      val used = scala.collection.mutable.Set.empty[String]
      val accepted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      val it = top.iterator
      while (accepted.size < batch && it.hasNext) {
        val row = it.next()
        val l = row.getAs[String]("lhs"); val rr = row.getAs[String]("rhs")
        if (!used(l) && !used(rr)) {
          accepted += ((l, rr, row.getAs[Long]("cnt")))
          used += l; used += rr
        }
      }
      require(accepted.size == batch || sawEverything,
        s"x17: conflict headroom exhausted at round $r — " +
          s"${accepted.size} of $batch accepts in the top-$slice slice")
      for (((l, rr, cnt), k) <- accepted.zipWithIndex) {
        picks += ((r.toLong, (k + 1).toLong, l, rr, l + rr, cnt))
        w = w.select(expr(s"replace(w, '($l)($rr)', '(${l + rr})')").as("w"),
          col("freq"))
      }
    }
    picks.toSeq
  }

  /** x16: BPE ENCODING with the trained vocabulary — the apply half of
    * x13 (train → APPLY → pack x02 → chunk x10 closes the tokenization
    * loop): every alphanumeric token is framed (c)(h)(a)(r) and the 8
    * trained merges replace greedily left-to-right (identical replace
    * semantics in both engines — x13's application grammar, now over
    * the CORPUS instead of the vocabulary); emits per-document subword
    * stats — the TRAINED-tokenizer token count t03's whitespace count
    * approximates, plus the compression the vocabulary buys (the
    * signal a tokenizer-fit dashboard watches per source/language).
    *
    * Gated-rebuild convention (e11/x09's class): the key re-trains the
    * merge table in-query (8 vocab-bounded rounds, driver-folded picks
    * — the Lloyd discipline); production persists the merge table and
    * pays only the encode pass. Scale shape: one corpus explode →
    * codegen'd filter + 8 chained literal replaces (no regex/md5 in
    * any lambda — there are no lambdas) → ONE partial-combining
    * per-doc aggregate; the left join back to documents only restores
    * zero-encodable-token docs (doc_id-only scan, never re-runs the
    * encode side). */
  def x16BpeEncode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    bpeEncode(docs, bpeMergeList(s, docs.select(col("text")), BpeMerges))
  }

  /** [[x16BpeEncode]] over any (doc_id, text) frame with an explicit
    * merge table (spec entry — fixtures pin the greedy application). */
  def bpeEncode(docs: DataFrame,
                merges: Seq[(Long, String, String, String, Long)]): DataFrame = {
    val framed = regexp_replace(col("tok"), "(.)", "($1)")
    val enc = merges.foldLeft(framed) { case (c, (_, l, r, m, _)) =>
      call_function("replace", c, lit(s"($l)($r)"), lit(s"($m)"))
    }
    val ag = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .filter(col("tok").rlike("^[a-z0-9]+$"))
      .select(col("doc_id"), length(col("tok")).cast("bigint").as("base"),
        (length(enc) - length(call_function("replace", enc, lit("("), lit(""))))
          .cast("bigint").as("nsym"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_enc_tokens"),
        sum(col("base")).as("n_base_symbols"),
        sum(col("nsym")).as("n_symbols"))
    docs.select(col("doc_id")).join(ag, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_enc_tokens"), lit(0L)).as("n_enc_tokens"),
        coalesce(col("n_base_symbols"), lit(0L)).as("n_base_symbols"),
        coalesce(col("n_symbols"), lit(0L)).as("n_symbols"),
        coalesce(col("n_base_symbols") - col("n_symbols"), lit(0L))
          .as("n_merges_applied"))
  }
}
