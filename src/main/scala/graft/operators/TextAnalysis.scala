package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text

/** Text-analysis operators for the training-data pipeline (SURVEY §2.D):
  * language ID, quality scoring, token statistics, fingerprinting — all
  * pure Column expressions over higher-order array functions, so every
  * operator is a single codegen'd map-side pass over `documents` (no
  * shuffle, no UDF, embarrassingly parallel at any scale).
  *
  * Numeric policy: no transcendentals (exp/log differ in final ulp across
  * engines); scores are rational arithmetic + round(_, 6) only.
  */
object TextAnalysis {

  /** Function-word marker lexicons for 10 languages — the standard
    * stopword/function-word approach to language ID: function words are
    * the highest-frequency tokens of every natural language and almost
    * never shared verbatim across languages (where they are — "de" in
    * es/fr/pt — the OTHER markers break the tie). Wordlists are the
    * common public stopword sets, truncated to 12 high-frequency entries
    * per language; plan-time literals, shared with the oracle SQL so
    * both engines embed identical tables. Listed in tie-break priority
    * order. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "was", "that", "for", "it", "with", "as"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "es", "por"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "une", "que", "dans", "pour", "qui"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "von", "mit", "ein", "eine", "den", "zu"),
    "it" -> Seq("il", "di", "che", "e", "un", "una", "per", "non", "sono", "con", "del", "si"),
    "pt" -> Seq("o", "os", "as", "de", "que", "e", "um", "uma", "para", "com", "por", "mais"),
    "nl" -> Seq("de", "het", "een", "en", "van", "is", "dat", "niet", "met", "op", "voor", "zijn"),
    "sv" -> Seq("och", "att", "det", "som", "en", "ett", "av", "för", "inte", "med", "på", "han"),
    "pl" -> Seq("i", "w", "na", "z", "do", "się", "jest", "nie", "to", "jak", "po", "co"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这", "中", "大"))

  /** Language scores + argmax over any (doc_id, text) frame — split out
    * so the fixture spec can feed real multilingual sentences. Ties go
    * to the earlier language in [[langMarkers]] (fixed priority),
    * mirrored in the oracle as the same CASE cascade over greatest().
    *
    * Shape: explode → codegen'd isin projection → HashAggregate, NOT
    * 10 `filter(toks, _.isin(...))` lambdas — higher-order lambdas
    * evaluate interpreted per element, and 10 passes × 12 string
    * equality checks per token measurably doubled t01 (0.35 → 0.7 s at
    * sf0.1). The relational form scans each token once through one
    * generated projection; the shuffle partial-aggregates to one row
    * per document map-side. */
  def langScores(docs: DataFrame): DataFrame = {
    val indicators = langMarkers.map { case (l, m) =>
      when(col("tok").isin(m.map(lit(_)): _*), 1L).otherwise(0L).as(s"i_$l")
    }
    val sums = langMarkers.map { case (l, _) => sum(s"i_$l").as(s"s_$l") }
    val gmax = greatest(langMarkers.map { case (l, _) => col(s"s_$l") }: _*)
    val best = langMarkers.init.foldRight(lit(langMarkers.last._1): Column) {
      case ((l, _), rest) => when(col(s"s_$l") === gmax, lit(l)).otherwise(rest)
    }
    docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .select(col("doc_id") +: indicators: _*)
      .groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .withColumn("best_lang", best)
  }

  /** t01: per-language function-word counts + argmax label over the
    * documents table. One codegen'd map-side pass, no shuffle. */
  def t01LangId(s: SparkSession, d: String): DataFrame =
    langScores(Tables.documents(s, d))

  /** t02: document quality score from length, stopword ratio, and
    * lexical diversity — the length/punct/stopword heuristics of LLM data
    * curation, in deterministic rational arithmetic. */
  def t02QualityScore(s: SparkSession, d: String): DataFrame =
    qualityScore(Tables.documents(s, d))

  /** [[t02QualityScore]] over any (doc_id, text, n_chars, ...) frame —
    * factored so the incremental curation path can score a batch. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    docs
      .select(col("doc_id"), col("n_chars"),
        size(toks).cast("bigint").as("n_tokens"),
        Text.markerCount(toks, Seq("the", "a")).cast("double").as("n_stop"),
        size(array_distinct(toks)).cast("double").as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("n_stop") / col("n_tokens").cast("double"), 6).as("stop_ratio"),
        round(
          least(col("n_chars").cast("double"), lit(500.0)) / lit(500.0) * lit(0.5) +
          (lit(1.0) - col("n_stop") / col("n_tokens").cast("double")) * lit(0.3) +
          col("n_distinct") / col("n_tokens").cast("double") * lit(0.2), 6)
          .as("quality"))
  }

  /** t03: token statistics — whitespace tokens, regex word tokens,
    * distinct tokens. */
  def t03TokenCount(s: SparkSession, d: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(toks).cast("bigint").as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
          .cast("bigint").as("n_words"),
        size(array_distinct(toks)).cast("bigint").as("n_distinct"))
  }

  /** PII masking patterns, shared verbatim with the oracle. All
    * RE2-safe (no lookarounds/backrefs); `[0-9]` not `\d` so the two
    * engines agree on ASCII-only digit classes. */
  val piiEmailPattern: String = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val piiPhonePattern: String = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val piiIpv4Pattern: String = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  /** Card CANDIDATE shape; candidates are masked only when the Luhn
    * checksum verifies ([[luhnSum]]) — format alone is not PII. */
  val piiCardPattern: String = "\\b[0-9]{16}\\b"

  /** Luhn digit sum of a fixed-length all-digit string column: digits
    * at ODD distance from the right are doubled with carry-fold
    * (2d > 9 → 2d − 9). The number verifies iff the sum ≡ 0 (mod 10).
    * Pure integer arithmetic, statically unrolled to `n` codegen'd
    * terms — engine-exact by construction, and [[graft.Oracles]]
    * generates the identical SQL sum from the same position parity. */
  def luhnSum(numStr: Column, n: Int): Column =
    (1 to n).map { i =>
      val d = substring(numStr, i, 1).cast("int")
      if ((n - i) % 2 == 1) {
        val t = d * 2
        when(t > 9, t - 9).otherwise(t)
      } else d
    }.reduce(_ + _)

  /** t05: PII masking — the redaction pass of a training-data pipeline:
    * emails → [EMAIL], phone-shaped numbers → [PHONE], IPv4 addresses →
    * [IP], and Luhn-VERIFIED 16-digit card numbers → [CARD] (a
    * digit-shaped number that fails the checksum is NOT PII and must
    * survive — the classic over-redaction bug), with per-row match
    * counts for audit. Input text is built deterministically (the
    * synthetic corpus carries no PII) with both valid and invalid
    * check digits planted by parity; the masking rules are the real
    * thing. RE2-safe patterns, mirrored verbatim in the oracle. */
  def t05PiiMask(s: SparkSession, d: String): DataFrame = {
    // 15-digit card base; the correct Luhn check digit is derived with
    // a zero placeholder in the check position (keeps the doubling
    // parity of the full 16-digit number), then even custkeys get the
    // correct digit (valid card) and odd custkeys a corrupted one
    // (+5 mod 10 — never equal to the correct digit).
    val base15 = concat(lit("4"),
      lpad((col("c_custkey") % 1000000).cast("string"), 6, "0"),
      lpad(((col("c_custkey") * 7919 + col("c_nationkey")) % 100000000)
        .cast("string"), 8, "0"))
    val correct = pmod(lit(10) - pmod(luhnSum(concat(base15, lit("0")), 16), lit(10)), lit(10))
    val check = when(col("c_custkey") % 2 === 0, correct)
      .otherwise(pmod(correct + 5, lit(10)))
    val raw = concat(
      lit("contact "), lower(regexp_replace(col("c_name"), "[^A-Za-z0-9#]", "")),
      lit(" at user"), col("c_custkey").cast("string"),
      lit("@example"), col("c_nationkey").cast("string"),
      lit(".com or 555-"), lpad((col("c_custkey") % 1000).cast("string"), 3, "0"),
      lit("-"), lpad((col("c_nationkey") * 173 % 10000).cast("string"), 4, "0"),
      lit(" ip 192."), (col("c_custkey") % 254 + 1).cast("string"),
      lit("."), (col("c_nationkey") % 250).cast("string"),
      lit("."), (col("c_custkey") * 7 % 250).cast("string"),
      lit(" card "), base15, check.cast("string"))
    // spread: the mask regex chains + per-candidate Luhn run per row
    // and scan parallelism is row-group-bounded (Tables.spread).
    piiMask(Tables.spread(Tables.customer(s, d), col("c_custkey"))
      .select(col("c_custkey"), raw.as("raw")))
  }

  /** [[t05PiiMask]] over any (c_custkey, raw) frame — split out so the
    * spec can feed adversarial fixtures (valid-format/invalid-Luhn must
    * NOT mask). Emails/phones/IPs mask by pattern alone
    * (regexp_replace); card candidates go through a split/rebuild pass
    * where each is masked only if its Luhn sum verifies — the checksum
    * arithmetic runs per CANDIDATE (a handful per row), never per
    * character, so the interpreted lambda cost is bounded by match
    * count. */
  def piiMask(rows: DataFrame): DataFrame = {
    val afterIp = regexp_replace(regexp_replace(regexp_replace(col("raw"),
      piiEmailPattern, "[EMAIL]"), piiPhonePattern, "[PHONE]"),
      piiIpv4Pattern, "[IP]")
    val parts = split(afterIp, piiCardPattern, -1)
    val cands = regexp_extract_all(col("raw"), lit(piiCardPattern), lit(0))
    def luhnOk(r: Column): Column = pmod(luhnSum(r, 16), lit(10)) === 0
    val masked = concat(element_at(parts, 1),
      array_join(zip_with(
        regexp_extract_all(afterIp, lit(piiCardPattern), lit(0)),
        slice(parts, lit(2), size(parts) - 1),
        (r, p) => concat(when(luhnOk(r), lit("[CARD]")).otherwise(r), p)), ""))
    rows
      .select(col("c_custkey"), col("raw"), masked.as("masked"),
        size(regexp_extract_all(col("raw"), lit(piiEmailPattern), lit(0)))
          .cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(piiPhonePattern), lit(0)))
          .cast("bigint").as("n_phones"),
        size(regexp_extract_all(col("raw"), lit(piiIpv4Pattern), lit(0)))
          .cast("bigint").as("n_ips"),
        size(cands).cast("bigint").as("n_cards"),
        size(filter(cands, r => luhnOk(r))).cast("bigint").as("n_cards_valid"))
  }

  /** t06: REPETITION metrics — the Gopher-family quality filters that
    * catch boilerplate and degenerate generation loops, which
    * length/stopword heuristics (t02) miss entirely:
    *
    *  - `top_tok_frac` / `top_2gram_frac`: share of the most frequent
    *    token / word-bigram (a doc that is one phrase looping scores ~1);
    *  - `dup_tok_frac` / `dup_2gram_frac`: share of occurrences beyond
    *    each distinct value's first (direct duplicate-mass fraction).
    *
    * Shape: one [[graft.functions.GraftNgrams]] pass per granularity
    * (NON-distinct windows — set-semantics shingles would erase the
    * counts), explode → two-level HashAggregate ((doc, gram) counts,
    * then per-doc max/sum/count). Both aggregates partial-combine
    * map-side; no window, no sort, no lambda. Only the max COUNT is
    * emitted (never "the most frequent gram" itself), so output needs no
    * tie-break and is partitioning-independent. Single-token docs have
    * no bigram; their bigram fractions are defined 0. */
  def t06Repetition(s: SparkSession, d: String): DataFrame =
    repetitionMetrics(s, Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[t06Repetition]] over any (doc_id, text) frame — split out so the
    * spec can feed docs with known repetition structure.
    *
    * SHUFFLE-FREE form (round 7): per-doc gram stats depend only on the
    * doc's own text, so the former explode → (doc, gram) → (doc)
    * double-aggregate — which shuffled ~every token and bigram of the
    * corpus — is replaced by the native [[graft.functions.GramStats]]
    * projection (one local hash pass per row inside whole-stage
    * codegen). Counting semantics are identical (TextFunSpec asserts
    * equality against the aggregate form); output columns unchanged, so
    * the oracle SQL (which keeps the relational shape) still mirrors. */
  def repetitionMetrics(s: SparkSession, docs: DataFrame): DataFrame = {
    import graft.functions.GramStats
    docs
      // Null text: the aggregate form drops the doc entirely (explode of
      // a null gram array emits no rows); mirror that here instead of
      // null-propagating through GramStats, so both forms agree on ALL
      // inputs, not just null-free corpora.
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        GramStats(s, col("text"), 1).as("t"), GramStats(s, col("text"), 2).as("b"))
      .select(col("doc_id"),
        col("t.n").as("n_tokens"),
        round(col("t.top").cast("double") / col("t.n"), 6).as("top_tok_frac"),
        round((col("t.n") - col("t.distinct")).cast("double") / col("t.n"), 6)
          .as("dup_tok_frac"),
        col("b.n").as("n_2grams"),
        when(col("b.n") === 0L, lit(0.0))
          .otherwise(round(col("b.top").cast("double") / col("b.n"), 6))
          .as("top_2gram_frac"),
        when(col("b.n") === 0L, lit(0.0))
          .otherwise(round((col("b.n") - col("b.distinct")).cast("double") / col("b.n"), 6))
          .as("dup_2gram_frac"))
  }

  /** The pre-round-7 aggregate form of [[repetitionMetrics]] — explode →
    * (doc, gram) counts → per-doc aggregate. Kept ONLY as the parity
    * cross-check for the GramStats projection (TextFunSpec); shuffles
    * the corpus' full gram volume, so never cataloged. */
  def repetitionMetricsAgg(s: SparkSession, docs: DataFrame): DataFrame = {
    def stats(k: Int, pfx: String): DataFrame = docs
      .select(col("doc_id"), explode(graft.functions.GraftNgrams(s, col("text"), k)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as(s"${pfx}_n"), max("c").as(s"${pfx}_top"),
        count(lit(1)).as(s"${pfx}_distinct"))
    val t = stats(1, "tok")
    val b = stats(2, "bg")
    t.join(b, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("tok_n").as("n_tokens"),
        round(col("tok_top").cast("double") / col("tok_n"), 6).as("top_tok_frac"),
        round((col("tok_n") - col("tok_distinct")).cast("double") / col("tok_n"), 6)
          .as("dup_tok_frac"),
        coalesce(col("bg_n"), lit(0L)).as("n_2grams"),
        coalesce(round(col("bg_top").cast("double") / col("bg_n"), 6), lit(0.0))
          .as("top_2gram_frac"),
        coalesce(round((col("bg_n") - col("bg_distinct")).cast("double") / col("bg_n"), 6),
          lit(0.0)).as("dup_2gram_frac"))
  }

  /** t07 floor: docs under this many tokens are dropped. */
  val MinTokens = 30

  /** t07: composite QUALITY FILTER — the Gopher-rules-style gate that
    * actually drops documents, composing per-doc token statistics into
    * keep/drop with per-rule flags (so downstream can audit WHY a doc
    * fell out). Every rule is EXACT-INTEGER arithmetic on counts
    * (top·8 > n ⟺ top-token mass > 12.5%, distinct·5 < n·2 ⟺ TTR < 0.4)
    * — no float threshold ever sits at a rounding boundary, so the gate
    * is engine-exact by construction. One explode → two HashAggregates,
    * all map-side partial — the same single-pass shape as t06. */
  def t07QualityFilter(s: SparkSession, d: String): DataFrame =
    qualityFilter(s, Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[t07QualityFilter]] over any (doc_id, text) frame — split out so
    * the spec can feed docs engineered to trip each rule alone.
    * Same round-7 shuffle-free rewrite as t06: the per-doc (n, top,
    * distinct) triple comes from one [[graft.functions.GramStats]]
    * projection instead of shuffling every token; the integer gate
    * rules are unchanged. NULL text is treated as '' (→ n=1, keep=false)
    * so the gate stays TOTAL — one decision row per input doc — and the
    * oracle mirrors the same COALESCE, keeping parity if the driver ever
    * generates NULL text. */
  def qualityFilter(s: SparkSession, docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.GramStats(s, coalesce(col("text"), lit("")), 1).as("t"))
      .select(col("doc_id"), col("t.n").as("n"), col("t.top").as("top"),
        col("t.distinct").as("dist"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("dist").as("n_distinct"), col("top").as("top_count"),
        (col("n") < MinTokens).as("too_short"),
        (col("top") * 8 > col("n")).as("too_repetitive"),
        (col("dist") * 5 < col("n") * 2).as("low_diversity"),
        (!(col("n") < MinTokens || col("top") * 8 > col("n") ||
          col("dist") * 5 < col("n") * 2)).as("keep"))

  /** Corpus frequency at or below which a token counts as RARE for t08.
    * tf <= 2 = hapax + dis legomena — the long-tail band where OCR junk,
    * mojibake, and concatenation artifacts live. */
  val RareTf = 2L

  /** t08: CORPUS-relative rare-token quality signal — the Gopher-family
    * rule the per-doc heuristics (t02/t06/t07) cannot express, because
    * rarity is a property of the whole corpus, not the row: a document
    * whose tokens are mostly hapax legomena is usually OCR noise, a
    * hash dump, or mojibake; one with none is usually boilerplate.
    * Emits per doc: token count, rare-token count (corpus tf <=
    * [[RareTf]]), hapax count (tf == 1), and the rare fraction.
    *
    * Scale shape — the join is SKEW-FREE BY CONSTRUCTION: per-doc token
    * totals come from a map-side `size()` (no explode, no shuffle); the
    * corpus frequency table is one explode → partial-aggregating
    * HashAggregate; and the only join back is INNER against the
    * tf <= [[RareTf]] slice, so every join key matches at most
    * [[RareTf]] probe rows — "the"-class hot tokens never enter the
    * join at any corpus size. Output volume is bounded by the rare
    * occurrence count (<= RareTf x |rare vocab|), never by n². */
  def t08RareTokenScore(s: SparkSession, d: String): DataFrame =
    rareTokenScore(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[t08RareTokenScore]] over any (doc_id, text) frame (spec entry). */
  def rareTokenScore(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val nTok = base.select(col("doc_id"),
      size(col("toks")).cast("bigint").as("n_tokens"))
    val tok = base.select(col("doc_id"), explode(col("toks")).as("tok"))
    val rare = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
      .filter(col("tf") <= RareTf)
    val perDoc = tok.join(rare, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_rare"),
        sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n_hapax"))
    nTok.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        round(coalesce(col("n_rare"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("rare_frac"))
  }

  /** t10: corpus n-gram LM quality score (CCNet posture) — the
    * model-free perplexity signal the per-doc rule gates (t02/t06/t07)
    * and the corpus rare-TOKEN signal (t08) cannot express: how
    * SURPRISING is this document under a language model trained on the
    * corpus itself. The model is the corpus bigram-frequency ("phrase
    * unigram") LM — each bigram occurrence is scored by its corpus
    * relative frequency c₁₂/T₂ — and the per-occurrence surprisal is
    * the INTEGER log₂,
    *
    *   bits = ⌊log₂(T₂ div c₁₂)⌋ = length(bin(T₂ div c₁₂)) − 1,
    *
    * computed exactly in both engines from the binary representation
    * (no transcendental ever runs; the two integer floors compose to a
    * deterministic, shared definition). Junk (OCR noise, mojibake,
    * shuffled text) is made of corpus-rare bigrams → HIGH mean bits;
    * boilerplate/looping text → LOW. Emits per doc: bigram count,
    * exact total/max surprisal bits, rare-bigram count
    * (c₁₂ ≤ [[RareTf]]), and the 6dp mean.
    *
    * Scale shape — e09's single-exchange discipline: ONE corpus bigram
    * exchange (explicit repartition by gram) feeds both the count
    * aggregate and the scoring join (ReuseExchange; the count table is
    * one row per gram so the hot-gram join fans out 1:1 — no t08-style
    * df slicing needed), then one per-doc aggregate, map-side partial.
    * T₂ is a driver-folded scalar (the scalar-literal rule). Counts up
    * to ~10¹² bigrams stay exact in the bigint micros-free arithmetic;
    * sum_bits ≤ 63·n per doc. */
  def t10NgramLmScore(s: SparkSession, d: String): DataFrame =
    ngramLmScore(s, Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[t10NgramLmScore]] over any (doc_id, text) frame (spec entry —
    * planted common-phrase vs junk fixtures pin the scoring). */
  def ngramLmScore(s: SparkSession, docs: DataFrame): DataFrame = {
    import graft.functions.GraftNgrams
    val grams = GraftNgrams(s, col("text"), 2)
    // spread once: the scalar pass, the gram explode, and the final
    // per-doc bigram-count projection all tokenize every row
    // (Tables.spread — scan parallelism is row-group-bounded).
    val docsS = Tables.spread(docs, col("doc_id"))
    val t2 = docsS.agg(
      sum(greatest(size(Text.tokens(col("text"))).cast("bigint") - 1, lit(0L))))
      .head().getLong(0)
    val nPart = s.sessionState.conf.numShufflePartitions
    val b = docsS
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(grams).as("g"))
      .repartition(nPart, col("g"))
    val c12 = b.groupBy("g").agg(count(lit(1)).as("c12"))
    val stats = b.join(c12, "g")
      .select(col("doc_id"), col("c12"),
        (length(bin(expr(s"CAST($t2 AS BIGINT) DIV c12"))) - 1)
          .cast("bigint").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum("bits").as("sum_bits"),
        max("bits").as("max_bits"),
        sum(when(col("c12") <= RareTf, 1L).otherwise(0L)).as("n_rare_bigrams"))
    docsS
      .select(col("doc_id"),
        greatest(size(Text.tokens(col("text"))).cast("bigint") - 1, lit(0L))
          .as("n_bigrams"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        coalesce(col("max_bits"), lit(0L)).as("max_bits"),
        coalesce(col("n_rare_bigrams"), lit(0L)).as("n_rare_bigrams"),
        when(col("n_bigrams") === 0L, lit(0.0))
          .otherwise(round(coalesce(col("sum_bits"), lit(0L)).cast("double") /
            col("n_bigrams").cast("double"), 6)).as("mean_bits"))
  }

  /** Keywords reported per doc by [[t11TfidfKeywords]]. */
  val KeywordK = 5

  /** t11: per-document TF-IDF KEYWORD extraction — the corpus-relative
    * "what is this document about" signal (topic tagging, datasheet
    * summaries, cluster labeling all start here): for every document,
    * its top-[[KeywordK]] word-bigram terms by tf·idf, where idf is the
    * rational BM25-family form (2(N−df)+1)/(2df+1) — terms the corpus
    * uses everywhere score near zero, terms concentrated in this
    * document score high. Emits (term, tf, df, 6dp score, rank).
    *
    * EXACT scoring: micros = tf·(2(N−df)+1)·10⁶ DIV (2df+1), computed
    * in DECIMAL(38,0) then truncated — a deterministic integer in both
    * engines (same grammar as e09's cleared-denominator BM25, minus the
    * length saturation, which keyword extraction doesn't want: tf IS
    * the signal). N is a driver-folded scalar.
    *
    * Scale shape: [[Retrieval.postings]]' single corpus-token exchange
    * feeds BOTH the df aggregate and the tf⋈df join (tok-clustered, no
    * further exchange), then ONE per-doc aggregate ranks map-side-
    * partially: the per-doc candidate list is bounded by the doc's own
    * distinct-term count (≤ its token count — the same per-row bound
    * every t-block op already holds in memory), fully sorted via
    * sort_array (no bare collect order), sliced to [[KeywordK]]. No
    * window over the unbounded doc_id space. */
  def t11TfidfKeywords(s: SparkSession, d: String): DataFrame =
    tfidfKeywords(s, Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** [[t11TfidfKeywords]] over any (doc_id, text) frame (spec entry —
    * fixtures pin the idf ordering and the term-ASC tie-break). */
  def tfidfKeywords(s: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    def d38(c: Column): Column = c.cast(dec)
    val bigN = docs.count()
    val tf = Retrieval.postings(s, docs)
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "tok")
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        (d38(col("tf")) * d38(lit(2L) * (lit(bigN) - col("df")) + lit(1L)) *
          d38(lit(1000000L))).as("num"),
        d38(lit(2L) * col("df") + lit(1L)).as("den"))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        expr("num DIV den").cast("bigint").as("micros"))
    // Bounded O(k) heap (graft_topk_terms over [[graft.functions.KBest]]):
    // the old collect_list → sort_array → slice shape buffered EVERY
    // distinct term of a doc per aggregation row; the heap keeps exactly k and
    // partial-aggregates map-side. Ranking (micros DESC, term ASC —
    // UTF8 binary, matching sort_array's struct comparison) and output
    // rows are identical.
    scored
      .groupBy("doc_id")
      .agg(graft.functions.TopKTerms(s, struct(
        col("micros"), col("tok"), col("tf"), col("df")), KeywordK).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("doc_id"), col("t.term").as("term"),
        col("t.tf").as("tf"), col("t.df").as("df"),
        round(col("t.score").cast("double") / 1e6, 6).as("tfidf"),
        (col("pos") + 1).cast("bigint").as("rnk"))
  }

  /** t12's window width: repeated [[RepeatWindow]]-token windows beyond
    * their first in-document occurrence are stripped (Gopher/CCNet's
    * within-document repetition cleanup; same width as d10/d11's
    * cross-doc spans so the two signals are comparable). */
  val RepeatWindow = 8

  /** hash60 seed for t12's window fingerprints. */
  val RepeatSeed = 37

  /** t12: WITHIN-document repetition REMOVAL — the apply half of t06's
    * measurement (Gopher's repetition-removal cleanup): every token
    * covered by an [[RepeatWindow]]-token window that already occurred
    * EARLIER IN THE SAME DOCUMENT is dropped, keeping the first
    * occurrence; emits the cleaned single-space re-join plus audit
    * counts (tokens, removed tokens, repeat windows). Loop-spam (a
    * generator stuck re-emitting a block) collapses to one copy; a
    * legitimate short refrain survives, because a 3-token phrase only
    * forms a repeated 8-token window when its surrounding context
    * repeats too (fixture-pinned in RepeatRemoveSpec).
    *
    * The raw synthetic corpus draw may carry few within-doc repeats, so
    * the GATED key plants them deterministically (x12's doubled-corpus
    * convention, applied within the row): docs with doc_id % 3 == 0 get
    * their own text self-appended — every window of the second copy is
    * then a repeat and the cleanup provably restores the original —
    * while the other ⅔ exercise the no-op path. The oracle mirrors the
    * same CASE.
    *
    * Scale shape — d11's span machinery minus the cross-doc salt join
    * (repetition here is a PER-DOCUMENT property): positional windows
    * via the codegen'd [[graft.functions.GraftNgrams]] pass, reduced to
    * 60-bit fingerprints before the one explicit (doc, fp) exchange;
    * repeats fall out of each group's sorted position list (everything
    * after the first), so no window function and no self-join exist
    * anywhere; removed positions explode only for repeat windows (~0 in
    * a clean corpus); the per-doc rebuild is the one inherent
    * corpus-sized shuffle (rewriting the corpus is the point). Every
    * aggregate partial-combines map-side; position lists are
    * sort_array'd so output is partitioning-independent. */
  def t12RepeatRemove(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat_ws(" ", col("text"), col("text")))
        .otherwise(col("text")).as("text"))
    repeatRemove(s, docs)
  }

  /** [[t12RepeatRemove]] over any (doc_id, text) frame (spec entry —
    * fixtures pin loop-spam removal vs legitimate-refrain survival). */
  def repeatRemove(s: SparkSession, docs: DataFrame): DataFrame = {
    import graft.functions.GraftNgrams
    val nPart = s.sessionState.conf.numShufflePartitions
    // spread once: both the window pass and the rebuild tokenize every
    // row (Tables.spread — scan parallelism is row-group-bounded).
    val docsS = Tables.spread(docs, col("doc_id"))
    // (doc, window-start i [0-based], window fingerprint f): one
    // explicit exchange feeds both the repeat-window derivation and the
    // per-doc repeat counts (ReuseExchange; explicit repartition is
    // AQE-coalesce-exempt — the d11 discipline).
    val pos = docsS
      .select(col("doc_id"),
        posexplode(GraftNgrams(s, col("text"), RepeatWindow)).as(Seq("i", "g")))
      .select(col("doc_id"), col("i"), Text.hash60(col("g"), RepeatSeed).as("f"))
      .repartition(nPart, col("doc_id"), col("f"))
    val pg = pos.groupBy("doc_id", "f")
      .agg(sort_array(collect_list(col("i"))).as("ii"))
    // Repeats = every position after the group's first: no window
    // function, no join — the sorted list IS the first-occurrence rule.
    val rep = pg.filter(size(col("ii")) >= 2)
      .select(col("doc_id"), explode(expr("slice(ii, 2, size(ii) - 1)")).as("i"))
    val repWin = pg.groupBy("doc_id")
      .agg(sum((size(col("ii")) - 1).cast("bigint")).as("n_repeat_windows"))
    // Removed token positions: union of [i, i+W) over repeat windows.
    val rmPos = rep
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + RepeatWindow - 1)).as("j"))
      .distinct()
      .withColumn("rm", lit(true))
    // Rebuild: positional tokens left-join removals; kept tokens
    // re-join in position order (collect_list skips the nulls the
    // removed positions leave behind).
    docsS
      .select(col("doc_id"), posexplode(Text.tokens(col("text"))).as(Seq("j", "tok")))
      .join(rmPos, Seq("doc_id", "j"), "left")
      .select(col("doc_id"), col("j"), col("tok"),
        coalesce(col("rm"), lit(false)).as("rm"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
        concat_ws(" ", transform(array_sort(collect_list(
          when(!col("rm"), struct(col("j"), col("tok"))))),
          x => x.getField("tok"))).as("cleaned_text"))
      .join(repWin, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        coalesce(col("n_repeat_windows"), lit(0L)).as("n_repeat_windows"),
        col("cleaned_text"))
  }

  /** t13's linear-model constants — OFFLINE-TRAINED weights embedded as
    * plan-time literals (the fastText deployment posture: training
    * happens once, out of band; serving is a dot product whose weights
    * ride the plan, never a runtime lookup). Features are exact
    * parts-per-million integers, so score = w·f is an exact BIGINT and
    * the verdict an integer compare — no float, no rounding boundary
    * anywhere. Signs encode the usual quality priors: length, stopword
    * density, and lexical diversity up; punctuation spam and digit spam
    * down. */
  val QcLenSat = 2000L
  val QcWLen = 2L
  val QcWStop = 3L
  val QcWDistinct = 2L
  val QcWPunct = -4L
  val QcWDigit = -3L
  /** Keep iff score_micros ≥ this. Integer compare of an exact integer
    * score — no rounding boundary exists by construction. Sits between
    * the gate corpus's median (~1.33M) and p75 (~1.49M), so the verdict
    * splits the corpus non-trivially at every gate SF
    * (QualityClassifierSpec pins the split). */
  val QcThreshold = 1400000L

  /** Punctuation class for t13's spam feature (RE2-safe, shared with
    * the oracle). */
  val QcPunctPattern = "[.!?,;:]"

  /** t13: deterministic LINEAR quality classifier — the learned-model
    * quality posture (fastText-class) next to the rule gates (t02/t07)
    * and corpus-relative signals (t08/t10): a literal weight vector
    * over integer count features, exact integer dot-product score,
    * threshold verdict. Features (ppm integers): saturated length,
    * stopword density (t01's en function-word lexicon), lexical
    * diversity, punctuation-spam density, digit-token density.
    *
    * Scale shape: one token explode → codegen'd indicator projection →
    * single partial-combining aggregate per doc (t01's relational
    * shape; the doc-level char features ride the grouping key like
    * postings' dl — no join back). countDistinct plans as Expand +
    * two-level HashAggregate, both map-side partial. No window, no
    * join, one corpus exchange. */
  def t13QualityClassifier(s: SparkSession, d: String): DataFrame =
    qualityClassifier(Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars")))

  /** [[t13QualityClassifier]] over any (doc_id, text, n_chars) frame
    * (spec entry — planted high/low-quality fixtures pin the score
    * DIRECTION per feature). */
  def qualityClassifier(docs: DataFrame): DataFrame = {
    val stops = langMarkers.head._2 // the en function-word lexicon
    // spread: the punct regex + token explode + indicator projection
    // all run per row (Tables.spread — scan parallelism is
    // row-group-bounded).
    val agg = Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), col("n_chars").cast("bigint").as("n_chars"),
        size(regexp_extract_all(col("text"), lit(QcPunctPattern), lit(0)))
          .cast("bigint").as("n_punct"),
        explode(Text.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("n_chars"), col("n_punct"),
        when(col("tok").isin(stops.map(lit(_)): _*), 1L).otherwise(0L).as("is_stop"),
        when(col("tok").rlike("^[0-9]+$"), 1L).otherwise(0L).as("is_digit"),
        col("tok"))
      // n_chars/n_punct are functionally dependent on doc_id — riding
      // the grouping key avoids a join back to the docs scan.
      .groupBy("doc_id", "n_chars", "n_punct")
      .agg(count(lit(1)).as("n_tokens"), sum("is_stop").as("n_stop"),
        sum("is_digit").as("n_digit"),
        countDistinct(col("tok")).as("n_distinct"))
    val f = agg.select(col("doc_id"), col("n_tokens"),
      expr(s"least(n_chars, $QcLenSat) * 1000000 DIV $QcLenSat").as("len_ppm"),
      expr("n_stop * 1000000 DIV n_tokens").as("stop_ppm"),
      expr("n_distinct * 1000000 DIV n_tokens").as("distinct_ppm"),
      expr("n_punct * 1000000 DIV greatest(n_chars, 1)").as("punct_ppm"),
      expr("n_digit * 1000000 DIV n_tokens").as("digit_ppm"))
    f.select(col("doc_id"), col("n_tokens"), col("len_ppm"), col("stop_ppm"),
      col("distinct_ppm"), col("punct_ppm"), col("digit_ppm"),
      (lit(QcWLen) * col("len_ppm") + lit(QcWStop) * col("stop_ppm") +
        lit(QcWDistinct) * col("distinct_ppm") +
        lit(QcWPunct) * col("punct_ppm") +
        lit(QcWDigit) * col("digit_ppm")).as("score_micros"))
      .withColumn("keep", col("score_micros") >= QcThreshold)
  }

  /** t04: order-sensitive polynomial rolling-hash fingerprint per doc.
    * Relational form of [[Text.rollingFingerprint]]: posexplode tokens →
    * codegen'd md5 term projection → one hash aggregate. The term sum runs
    * in DECIMAL(38,0) (exact, order-independent) and is reduced mod p
    * once at the end — identical to the fold-with-mod-per-step result. */
  def t04Fingerprint(s: SparkSession, d: String): DataFrame = {
    val p = 2305843009213693951L // 2^61 - 1
    val powers = array(Seq.iterate(1L, 8)(_ * 31L).map(lit(_)): _*)
    Tables.spread(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), posexplode(Text.tokens(col("text"))).as(Seq("i", "tok")))
      .select(col("doc_id"),
        (pmod(Text.hash60(col("tok"), 7), lit(1048576L)) *
          element_at(powers, (pmod(col("i"), lit(8)) + 1).cast("int")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("term"))
      .groupBy("doc_id")
      .agg(sum("term").as("acc"))
      .select(col("doc_id"),
        pmod(col("acc"), lit(p).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("bigint").as("fp"))
  }

  // ---------------------------------------------------------------- t09

  /** Synthetic page template for t09, SHARED VERBATIM with the oracle
    * (Oracles builds its page-generation SQL from this same sequence, so
    * the two engines cannot drift): Left = literal markup chunk, Right =
    * field name in {doc_id, lang, source, half1, half2, next}. The page
    * carries the adversarial shapes a real stripper must survive — a
    * `<script>` whose body contains `<`, `&&` and `%` (naive tag-strip
    * regexes mangle it), a `<style>` with CSS braces, entities both
    * inside kept content (`&amp;`, `&nbsp;`, `&mdash;`) and inside
    * dropped boilerplate (`&gt;` in nav, `&copy;`/`&#169;` in footer —
    * these must NOT be counted as decoded), NUMERIC character refs in
    * kept content (decimal `&#8212;`/`&#47;`, hex `&#x2605;` → a
    * 3-byte UTF-8 char, the out-of-range `&#1114112;` and malformed
    * `&#xzz;` which must stay literal), an HTML comment, and the
    * document text split mid-word across two `<p>` blocks. No single
    * quotes anywhere (lets the oracle embed chunks as plain SQL
    * literals). */
  val htmlTemplate: Seq[Either[String, String]] = Seq(
    Left("<!DOCTYPE html>\n<html lang=\""), Right("lang"),
    Left("\">\n<head>\n<title>Doc "), Right("doc_id"),
    Left(" &mdash; "), Right("source"),
    Left("</title>\n<style>body { font-size: 14px; color: #222; }</style>\n" +
      "<script type=\"text/javascript\">var docId = "), Right("doc_id"),
    Left("; if (docId > 0 && docId % 2 == 0) { console.log(\"even < odd\"); }" +
      "</script>\n</head>\n<body>\n" +
      "<nav class=\"top\"><a href=\"/\">Home</a> &gt; <a href=\"/"),
    Right("source"), Left("\">"), Right("source"),
    Left("</a></nav>\n<header><h1>Document "), Right("doc_id"),
    Left("</h1></header>\n<!-- synthetic page: doc "), Right("doc_id"),
    Left(" lang "), Right("lang"),
    Left(" -->\n<div id=\"main\" class=\"content\">\n<p>"), Right("half1"),
    Left("</p>\n<p>"), Right("half2"),
    Left(" &amp; more&nbsp;text &#8212; rated 4&#47;5 &#x2605; " +
      "(&#1114112;&#xzz; stay literal)</p>\n</div>\n" +
      "<aside>Related: <a href=\"/doc/"), Right("next"),
    Left("\">doc "), Right("next"),
    Left("</a></aside>\n<footer>&copy;&#169; "), Right("source"),
    Left(" contributors</footer>\n</body>\n</html>"))

  /** Boilerplate block patterns, dropped WITH their content before any
    * tag stripping (so `<` inside script bodies can't derail the tag
    * regex). One pattern per block type — RE2 has no backreferences, so
    * a single alternation `<(script|nav)>.*?</(script|nav)>` could match
    * a mismatched open/close pair; per-type patterns cannot. Shared with
    * the oracle; all RE2-safe (non-greedy + (?s), no lookarounds). */
  val htmlBlockPatterns: Seq[String] = Seq(
    "(?s)<script[^>]*>.*?</script>",
    "(?s)<style[^>]*>.*?</style>",
    "(?s)<nav[^>]*>.*?</nav>",
    "(?s)<aside[^>]*>.*?</aside>",
    "(?s)<footer[^>]*>.*?</footer>",
    "(?s)<!--.*?-->")

  /** Entity decode table, in application order — `&amp;` LAST, or
    * decoding it first would re-expose `&lt;` etc. for double decode
    * (and would re-expose `&amp;#60;` as a decodable numeric ref — the
    * numeric pass runs FIRST, so that classic double-decode cannot
    * happen either). `&nbsp;` decodes to a plain space so the
    * whitespace collapse can merge it. Shared with the oracle. `&#39;`
    * (r13's one numeric entry) is now subsumed by the general numeric
    * decode. */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&mdash;" -> "—", "&copy;" -> "©",
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&amp;" -> "&")

  /** Numeric character reference pattern — decimal (`&#8212;`) and hex
    * (`&#x2605;`) forms. Digit counts are BOUNDED (7 decimal / 6 hex
    * digits ≥ every code point ≤ U+10FFFF) so the code-point parse can
    * never overflow; an overlong ref simply fails to match and stays
    * literal text, like any other malformed ref. Shared with the
    * oracle. */
  val htmlNumericRefPattern: String = "&#(?:[0-9]{1,7}|[xX][0-9a-fA-F]{1,6});"

  /** Pattern counting entity references seen in kept content: the named
    * table plus numeric refs. Counts ATTEMPTED references — a
    * pattern-valid ref whose code point is invalid (per
    * [[decodeNumericRefs]]) is counted here but left literal. */
  val htmlEntityPattern: String =
    "&(nbsp|mdash|copy|lt|gt|quot|amp);|" + htmlNumericRefPattern

  /** Decode numeric character references in one split/rebuild pass: the
    * text is split on [[htmlNumericRefPattern]], the matched refs are
    * extracted, and parts are glued back with each ref decoded via its
    * code point — `format_string("%c", cp)` emits the UTF-8 character,
    * including supplementary planes (surrogate pair in the JVM string).
    * INVALID code points — 0, beyond U+10FFFF, or the surrogate block
    * U+D800–U+DFFF — keep the literal ref text (the conservative
    * choice; the oracle mirrors it as a CASE around DuckDB's chr()).
    *
    * Scale note: the regex work (split + extract_all) runs codegen'd
    * OUTSIDE the lambda; the per-element lambda is substr/conv/concat
    * over the handful of refs a page carries, so its interpreted eval
    * is bounded by ref count, never page size. */
  def decodeNumericRefs(text: Column): Column = {
    val pat = htmlNumericRefPattern
    val parts = split(text, pat, -1)
    val refs = regexp_extract_all(text, lit(pat), lit(0))
    concat(element_at(parts, 1),
      array_join(zip_with(refs, slice(parts, lit(2), size(parts) - 1), (r, p) => {
        val isHex = substring(r, 3, 1).isin("x", "X")
        // body excludes "&#"/"&#x" prefix and the ";" terminator
        val cp = when(isHex, conv(r.substr(lit(4), length(r) - 4), 16, 10))
          .otherwise(r.substr(lit(3), length(r) - 3))
          .cast("bigint")
        val valid = cp.between(1L, 0x10FFFFL) && !cp.between(0xD800L, 0xDFFFL)
        concat(when(valid, format_string("%c", cp.cast("int"))).otherwise(r), p)
      }), ""))
  }

  /** The deterministic page builder: documents → (doc_id, html). */
  def htmlDocs(docs: DataFrame): DataFrame = {
    val fields: Map[String, Column] = Map(
      "doc_id" -> col("doc_id").cast("string"),
      "lang"   -> col("lang"),
      "source" -> col("source"),
      "half1"  -> expr("substr(text, 1, length(text) DIV 2)"),
      "half2"  -> expr("substr(text, length(text) DIV 2 + 1)"),
      "next"   -> (col("doc_id") + 1).cast("string"))
    val page = concat(htmlTemplate.map {
      case Left(s)  => lit(s)
      case Right(f) => fields(f)
    }: _*)
    // spread: the downstream strip/decode regex chains run per row and
    // scan parallelism is row-group-bounded (Tables.spread).
    Tables.spread(docs, col("doc_id")).select(col("doc_id"), page.as("html"))
  }

  /** t09: HTML/markup → clean-text extraction with audit counts — the
    * first stage of every web-crawl training-data pipeline
    * (trafilatura-class, rule-based): drop boilerplate blocks with
    * their content, strip remaining tags, decode entities, collapse
    * whitespace. Deterministic regex/replace rules only (RE2-safe,
    * DuckDB-mirrorable — the gate runs the SAME strip independently in
    * both engines over identical markup).
    *
    * Scale shape: one codegen'd map-side projection per document — no
    * shuffle, no UDF, no higher-order lambda; regex work is linear in
    * page size, embarrassingly parallel at 100 TB. Audit counts
    * (blocks/tags/entities, char budgets) are what a curation pipeline
    * monitors to catch extractor drift. Feeds t02/t07 quality scoring
    * and the d-block dedups downstream. */
  def t09HtmlExtract(s: SparkSession, d: String): DataFrame =
    htmlExtract(htmlDocs(Tables.documents(s, d)))

  /** [[t09HtmlExtract]] over any (doc_id, html) frame (spec entry —
    * adversarial fixtures feed hand-built markup here). */
  def htmlExtract(pages: DataFrame): DataFrame = {
    val raw = col("html")
    val nBlocks = htmlBlockPatterns
      .map(p => size(regexp_extract_all(raw, lit(p), lit(0))).cast("bigint"))
      .reduce(_ + _)
    val deblocked = htmlBlockPatterns
      .foldLeft(raw)((c, p) => regexp_replace(c, p, " "))
    val detag = regexp_replace(deblocked, "<[^>]*>", " ")
    // Numeric refs first (a decoded `&amp;#60;` must NOT become a
    // decodable `&#60;`), named table after, `&amp;` last within it.
    val decoded = htmlEntities
      .foldLeft(decodeNumericRefs(detag)) {
        case (c, (e, v)) => regexp_replace(c, e, v)
      }
    val clean = trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " "))
    pages.select(
      col("doc_id"),
      nBlocks.as("n_blocks"),
      size(regexp_extract_all(deblocked, lit("<[^>]*>"), lit(0)))
        .cast("bigint").as("n_tags"),
      size(regexp_extract_all(detag, lit(htmlEntityPattern), lit(0)))
        .cast("bigint").as("n_entities"),
      length(raw).cast("bigint").as("n_chars_raw"),
      length(clean).cast("bigint").as("n_chars_clean"),
      round(length(clean).cast("double") / length(raw).cast("double"), 6)
        .as("kept_ratio"),
      clean.as("text_clean"))
  }

  /** t14's line geometry and planting constants — shared with the
    * oracle. Lines are rendered deterministically from the flat token
    * stream (the corpus ships single-line text; the render step is the
    * same plan-side planting convention as t12's %3 self-append and
    * t09's page builder, so the filter rules do real work on any
    * draw): line length cycles 4..8 tokens by doc, a terminal '.' is
    * attached to two lines in three, and every 7th line carries one
    * planted blocklist token (cycling through the list so each
    * blocklist member is exercised). */
  val BpLineBase = 4
  val BpLineMod = 5
  val BpTermMod = 3
  val BpPolicyMod = 7
  /** C4's line-keep thresholds: ≥5 tokens, ≥3 surviving lines/doc. */
  val BpMinTokens = 5
  val BpMinLines = 3
  /** Line-level blocklist (C4's "javascript"/policy-phrase rule). */
  val BpBlocklist: Seq[String] = Seq("javascript", "cookie", "lorem")

  /** t14: C4-style LINE-level boilerplate filtering — the Raffel-et-al
    * cleanup every web-crawl pipeline runs between extraction (t09)
    * and doc-level quality gates (t02/t07/t13): drop lines that carry
    * a blocklist term (cookie banners / script remnants), lines
    * without terminal punctuation (menus, headers), and lines under
    * [[BpMinTokens]] tokens; a document KEEPS only if ≥ [[BpMinLines]]
    * lines survive. Rules are evaluated on line CONTENT (a real corpus
    * token that contains a blocklist word is dropped too — the rule,
    * not the plant, decides), with precedence blocklist → unterminated
    * → short, each line counted once. Emits the cleaned doc (kept
    * lines joined with newlines) plus the per-rule audit counts a
    * curation dashboard monitors.
    *
    * Scale shape: ONE codegen'd map-side projection — zero shuffles,
    * zero joins; the line array is built and filtered per row with
    * higher-order functions (plain string ops only — no md5/regex
    * inside any lambda, per the hot-path rule). Embarrassingly
    * parallel at 100 TB; scan parallelism freed via Tables.spread. */
  def t14BoilerplateFilter(s: SparkSession, d: String): DataFrame =
    boilerplateFilter(Tables.spread(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      col("doc_id")))

  /** [[t14BoilerplateFilter]] over any (doc_id, text) frame (spec entry
    * — fixtures pin rule precedence and the keep threshold). */
  def boilerplateFilter(docs: DataFrame): DataFrame = {
    val lineLen = (lit(BpLineBase) + pmod(col("doc_id"), lit(BpLineMod)))
      .cast("bigint")
    val planted = array(BpBlocklist.map(lit): _*)
    // Render: one struct per line — text (token slice + plants), token
    // count. Plant arithmetic matches the oracle literal-for-literal.
    // Descending-sequence guard (Text.shingles' hazard): sequence(0,-1)
    // yields [0,-1] — two bogus lines — for an empty token array, where
    // the oracle's range(0,0) is empty. The gate corpus never hits it
    // (split() yields at least [""], n >= 1), but this is a public spec
    // entry over arbitrary (doc_id, text) frames.
    val lineIdx = when(col("n") >= 1L,
      sequence(lit(0L), expr("(n + len - 1) DIV len - 1")))
      .otherwise(array().cast("array<bigint>"))
    val lines = transform(
      lineIdx,
      i => {
        val pol = pmod(col("doc_id") + i, lit(BpPolicyMod.toLong)) === 0L
        val term = pmod(col("doc_id") + i, lit(BpTermMod.toLong)) =!= 0L
        // Which blocklist word: (doc_id+i) mod 21 ∈ {0,7,14} on policy
        // lines — a CASE ladder (mirrors as SQL CASE; no integral
        // division exists in the lambda Column API).
        val m21 = pmod(col("doc_id") + i,
          lit((BpPolicyMod * BpBlocklist.size).toLong))
        val polTok = BpBlocklist.zipWithIndex.tail.foldLeft(
          when(m21 === 0L, lit(BpBlocklist.head))) {
          case (c, (w, j)) => c.when(m21 === (j * BpPolicyMod).toLong, lit(w))
        }.otherwise(lit(BpBlocklist.head))
        val txt = concat(
          concat_ws(" ", slice(col("toks"), (i * col("len") + 1L).cast("int"),
            col("len").cast("int"))),
          when(pol, concat(lit(" "), polTok)).otherwise(lit("")),
          when(term, lit(".")).otherwise(lit("")))
        val cnt = least(col("len"), col("n") - i * col("len")) +
          when(pol, 1L).otherwise(0L)
        struct(txt.as("txt"), cnt.as("cnt"))
      })
    // Rules read the rendered CONTENT: blocklist containment, terminal
    // '.', token count — precedence blocklist → unterminated → short.
    def hit(x: Column) = BpBlocklist
      .map(w => x.getField("txt").contains(w)).reduce(_ || _)
    def term(x: Column) = x.getField("txt").endsWith(".")
    def kept(x: Column) =
      !hit(x) && term(x) && x.getField("cnt") >= BpMinTokens.toLong
    val nKept = size(filter(col("lines"), kept(_))).cast("bigint")
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("bigint").as("n"), lineLen.as("len"))
      .select(col("doc_id"), lines.as("lines"))
      .select(
        col("doc_id"),
        size(col("lines")).cast("bigint").as("n_lines"),
        nKept.as("n_kept"),
        size(filter(col("lines"), hit(_))).cast("bigint").as("n_policy"),
        size(filter(col("lines"), x => !hit(x) && !term(x)))
          .cast("bigint").as("n_unterminated"),
        size(filter(col("lines"), x =>
          !hit(x) && term(x) && x.getField("cnt") < BpMinTokens.toLong))
          .cast("bigint").as("n_short"),
        (nKept >= BpMinLines.toLong).as("keep"),
        array_join(transform(filter(col("lines"), kept(_)),
          _.getField("txt")), "\n").as("cleaned_text"))
  }
}
