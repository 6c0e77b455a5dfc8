package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, fingerprinting, quality scoring, language
  * identification. All pure Column expressions (whole-stage codegen,
  * no UDFs) so they survive a 100x scale-up as map-only work.
  */
object TextOps {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** BPE-ish pre-tokenization count: word pieces, punctuation runs —
    * a GPT-2-style pre-tokenizer pattern restricted to ASCII classes so
    * engines agree on the dialect.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"))

  /** Word n-gram shingles, hashed to 64-bit — the input to
    * MinHash/Jaccard. Distinct, so downstream set ops are exact.
    * Computed by the native one-pass `shingles_hashed` kernel: the
    * composed-Column form re-ran the regex tokenizer once per shingle
    * index (O(tokens²) regex work per row — 5.6 s for a 5k-doc pass vs
    * sub-second native).
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.plans.TextExprs.shinglesHashed(
      org.apache.spark.sql.SparkSession.active, text, n)

  /** The declarative shingle form (kept as the cross-checkable
    * reference for the native expression's semantics).
    */
  def shinglesColumnar(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0)) ),
        i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Whole-document fingerprint over normalized text (md5 so an
    * external SQL oracle can reproduce it byte-for-byte).
    */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** 64-bit rolling fingerprint (xxhash64 of normalized text) — the
    * cheap dedup key for exact dedup at scale.
    */
  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(trim(lower(text)), "\\s+", " "))

  // ---------------------------------------------------------------------
  // Quality scoring (length / punctuation / stopword / repetition)
  // ---------------------------------------------------------------------

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "be", "this", "are", "was")

  /** Per-document quality features. Integer counts are exact across
    * engines; ratios are rounded for oracle comparison.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks)
    val nChar = length(text)
    // regexp_count, not size(regexp_extract_all): counting matches
    // must not materialize a per-char match array per row
    val nPunct = regexp_count(text, lit("[^A-Za-z0-9\\s]"))
    val nDigit = regexp_count(text, lit("[0-9]"))
    val nStop = size(filter(toks, t =>
      t.isin(stopwords: _*)))
    val nUniq = size(array_distinct(toks))
    Seq(
      "n_tokens" -> nTok,
      "n_chars_m" -> nChar,
      "punct_ratio" -> round(nPunct.cast("double") / greatest(nChar, lit(1)), 4),
      "digit_ratio" -> round(nDigit.cast("double") / greatest(nChar, lit(1)), 4),
      "stopword_ratio" -> round(nStop.cast("double") / greatest(nTok, lit(1)), 4),
      "uniq_ratio" -> round(nUniq.cast("double") / greatest(nTok, lit(1)), 4),
      "mean_word_len" -> round(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          greatest(nTok, lit(1)), 4))
  }

  /** Composite quality score in [0,1]: rewards stopword presence and
    * lexical diversity, penalizes punctuation/digit noise — the usual
    * cheap pretraining-corpus heuristics.
    *
    * Deliberately NOT rounded: the factors are the (rounded,
    * cross-engine-equal) feature ratios, so the IEEE product is
    * bit-identical across engines — but re-rounding the product is NOT
    * (a product landing exactly on a 5e-5 boundary, e.g. 0.18055,
    * rounds differently under Spark's shortest-decimal HALF_UP vs an
    * engine rounding the binary value; observed at sf0.01, q38).
    */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val lenOk = when(f("n_tokens") >= 10 && f("n_tokens") <= 100000, 1.0)
      .otherwise(0.3)
    val stopOk = when(f("stopword_ratio") >= 0.05, 1.0).otherwise(0.5)
    val noise = f("punct_ratio") + f("digit_ratio")
    lenOk * stopOk * f("uniq_ratio") * (lit(1.0) - least(noise, lit(1.0)))
  }

  /** The Gopher rule stop set (Rae et al. 2021, App. A1: "contains at
    * least two of the following English words").
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The published Gopher document-quality rules (Rae et al.,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", 2021, Appendix A1), as named per-document
    * columns plus the composed `gopher_keep` verdict:
    *
    *  1. word count in [50, 100000]
    *  2. mean word length in [3, 10]
    *  3. symbol-to-word ratio ('#' or ellipsis per word) <= 0.1
    *  4. fraction of lines starting with a bullet <= 0.9
    *  5. fraction of lines ending with an ellipsis <= 0.3
    *  6. fraction of words containing an alphabetic char >= 0.8
    *  7. at least 2 distinct words from the Gopher stop set
    *
    * (The repetition rules of the same appendix live in
    * `ngramRepStats`/q41.) Cross-engine exactness: every ratio is the
    * UNROUNDED IEEE quotient of exact integer counts — bit-identical
    * on any engine — and `gopher_keep` compares those quotients
    * against the same double literals. Nothing is round()ed: a
    * quotient landing on a decimal half-boundary (e.g. 29/160 =
    * 0.18125 exactly) rounds differently under Spark's
    * shortest-decimal HALF_UP than under an engine rounding the
    * binary double — the q38 rounding law.
    */
  def gopherRules(text: Column): Seq[(String, Column)] =
    gopherRulesFrom(tokens(text), split(text, "\n"),
      regexp_count(text, lit("#|\\.\\.\\.|…")))

  /** C4 blocklist filter (the "bad words" doc-drop): a document is
    * dropped when any token, after edge-punctuation stripping, is on
    * the list. The list is compiled into the plan as a literal In-set
    * (vocabulary-bounded — never a join), so the pass is map-only and
    * partitioning-independent. Tokens are already lowercased by
    * `tokens`; the edge strip keeps "darn!"/"(darn" matching "darn"
    * without substring false-positives ("class" never matches "ass").
    */
  def blocklistTable(docs: DataFrame, idCol: String, textCol: String,
                     words: Seq[String]): DataFrame =
    docs.select(col(idCol),
        blocklistHits(col(textCol), words).as("n_blocked"))
      .withColumn("keep", col("n_blocked") === 0L)

  /** The blocklist hit count as a bare Column — lets pipelines gate in
    * place (one map-side filter) instead of re-joining the verdict
    * table on the id.
    */
  def blocklistHits(text: Column, words: Seq[String]): Column = {
    require(words.nonEmpty, "blocklist must be non-empty")
    // Locale.ROOT: tokens() lowers locale-independently; a default
    // tr-TR JVM would otherwise map 'I' -> dotless ı and never match
    val wordSet = words.map(_.toLowerCase(java.util.Locale.ROOT))
    size(filter(tokens(text), t =>
      regexp_replace(t, "^[^a-z0-9]+|[^a-z0-9]+$", "")
        .isInCollection(wordSet))).cast("long")
  }

  /** EXACT φ-heavy hitters (tokens with count > N/k) without ever
    * shuffling the full vocabulary — the 100 TB dual of a plain
    * `groupBy(token).count()` top-k (q47), whose shuffle carries every
    * distinct token. Two corpus passes:
    *
    *  1. a CountMinSketch fit (driver gets the sketch + exact total N;
    *     sized so overcount ≤ threshold/20 — `eps = 1/(20k)` clamped
    *     to [1e-6, 0.01]);
    *  2. a map-only probe against the broadcast sketch keeps only
    *     candidate-token OCCURRENCES, whose partial-aggregated count
    *     shuffles ≤ |candidates| keys per partition.
    *
    * CMS never undercounts, so the candidate set is a SUPERSET of the
    * true heavy hitters; the exact recount filter `cnt * k > N` then
    * removes every false positive — the result is EXACTLY the
    * φ=1/k-heavy-hitter set, deterministic on any partitioning (the
    * property a DuckDB oracle can replay with a plain HAVING).
    */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int,
                   eps: Double = 0.0, delta: Double = 1e-4): DataFrame = {
    require(k >= 2, "k must be >= 2 (threshold N/k)")
    val toks = docs.select(explode(tokens(col(textCol))).as("token"))
    val epsEff =
      if (eps > 0) eps
      else math.min(0.01, math.max(1e-6, 1.0 / (20.0 * k)))
    val cms = toks.stat.countMinSketch(
      "token", eps = epsEff, confidence = 1 - delta, seed = 42)
    val n = cms.totalCount()
    val bc = docs.sparkSession.sparkContext.broadcast(cms)
    val est = udf((t: String) => bc.value.estimateCount(t))
    toks.filter(est(col("token")) * k > n)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > n)
  }

  /** The Gopher rule columns per document: (id, rule columns) —
    * `gopherAnnotate` over (id, text), with the text dropped.
    */
  def gopherRulesTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    gopherAnnotate(docs.select(col(idCol), col(textCol)), textCol).drop(textCol)

  /** The Gopher rule columns appended to `docs` (input columns passed
    * THROUGH), so pipelines gate with a map-side filter instead of
    * re-joining a verdict table on the id. THE hot-path form: the
    * tokenization and line split are staged ONCE per row in their own
    * columns — CollapseProject will not re-inline a non-cheap
    * expression referenced many times, where the bare Column form
    * re-embeds the full-text split in every output slot that
    * references it (the repo's documented HOF-CSE pathology).
    */
  def gopherAnnotate(docs: DataFrame, textCol: String): DataFrame = {
    val tk = freshColumn(docs, "_toks")
    val ln = freshColumn(docs, "_lines")
    val ns = freshColumn(docs, "_nsym")
    val rules = gopherRulesFrom(col(tk), col(ln), col(ns))
    val clash = rules.map(_._1).filter(docs.columns.contains)
    require(clash.isEmpty,
      s"input already has rule column(s): ${clash.mkString(", ")}")
    rules.foldLeft(docs
        .withColumn(tk, tokens(col(textCol)))
        .withColumn(ln, split(col(textCol), "\n"))
        .withColumn(ns, regexp_count(col(textCol), lit("#|\\.\\.\\.|…")))) {
      case (d, (n, c)) => d.withColumn(n, c)
    }.drop(tk, ln, ns)
  }

  private def gopherRulesFrom(toks: Column, lines: Column,
                              nSym: Column): Seq[(String, Column)] = {
    val nTok = size(toks)
    val meanLen =
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") /
        greatest(nTok, lit(1))
    val nLines = size(lines)
    val nBullet = size(filter(lines, l => l.rlike("^\\s*[-*•]")))
    val nEllipsis = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]")))
    val nStop = size(array_intersect(array_distinct(toks),
      array(gopherStopwords.map(lit): _*)))
    val symRatio = nSym.cast("double") / greatest(nTok, lit(1))
    val bulletFrac = nBullet.cast("double") / greatest(nLines, lit(1))
    val ellipsisFrac = nEllipsis.cast("double") / greatest(nLines, lit(1))
    val alphaFrac = nAlpha.cast("double") / greatest(nTok, lit(1))
    Seq(
      "n_words" -> nTok,
      "mean_word_len_g" -> meanLen,
      "symbol_ratio" -> symRatio,
      "bullet_frac" -> bulletFrac,
      "ellipsis_frac" -> ellipsisFrac,
      "alpha_frac" -> alphaFrac,
      "n_stop_hits" -> nStop,
      "gopher_keep" -> (nTok >= 50 && nTok <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symRatio <= 0.1 && bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
        alphaFrac >= 0.8 && nStop >= 2))
  }

  /** Paragraph-level exact dedup (the Dolma/CCNet pass exact
    * document-dedup misses): every paragraph seen before — across the
    * whole corpus, first arrival = smallest (doc, position) — is
    * removed, and documents are reassembled from their surviving
    * paragraphs in order. The repeated-boilerplate (footer/header/
    * cookie-banner) killer at crawl scale.
    *
    * Scale shape: paragraphs explode map-only; first-arrival is
    * `FirstArrival.keep` grouped by the 8-byte paragraph HASH — one
    * partial-aggregated `min_by` that carries the surviving row itself,
    * so nothing joins back on the hash (and never a window: a
    * boilerplate paragraph shared by 10^6 docs is exactly the hot key
    * the CC work routes around, and min-aggregation is map-side
    * combinable); the reassembly groups by doc. Keying on xxhash64
    * trades a 2^-64 collision (two distinct paragraphs merging) for
    * never shuffling paragraph text as a grouping key.
    *
    * Returns (idCol, text_dedup) for EVERY input document (a document
    * whose every paragraph was seen before comes back empty).
    */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n"): DataFrame = {
    // the separator is a LITERAL on both sides: the split is
    // regex-quoted so a metacharacter separator ("|", ".") splits on
    // the literal string, matching the literal reassembly join
    val paras = docs
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF(idCol, "pos", "para")
    val kept = FirstArrival.keep(paras, xxhash64(col("para")), Seq(idCol, "pos"))
    reassembleParagraphs(kept, docs, idCol, sep)
  }

  /** WITHIN-document duplicate-line removal (the in-document half of
    * a Dolma-style dedupe pass; `dedupParagraphs` is the corpus-wide
    * half): keep each line's FIRST occurrence inside its own
    * document, preserving order. Purely map-side — ZERO shuffles at
    * any corpus size, because the dedup scope is the row itself. The
    * line array is staged as its own multi-referenced projection so
    * the split runs once per row (the HOF-CSE discipline); the
    * first-occurrence test is an O(L²) scan of that array — L is
    * lines-per-document, corpus-size-independent.
    */
  def dedupLinesInDoc(docs: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n"): DataFrame =
    dedupLinesInPlace(docs.select(col(idCol), col(textCol)), textCol, sep)
      .withColumnRenamed(textCol, "text_dedup")

  /** `dedupLinesInDoc` rewriting `textCol` IN PLACE with every other
    * column passed through — the composition form: zero joins, zero
    * shuffles (re-attaching the rewritten text by id would cost a
    * full-corpus exchange for a map-only transform).
    */
  def dedupLinesInPlace(docs: DataFrame, textCol: String,
                        sep: String = "\n"): DataFrame = {
    val tmp = freshColumn(docs, "_lines")
    docs
      .withColumn(tmp,
        split(col(textCol), java.util.regex.Pattern.quote(sep)))
      .withColumn(textCol,
        concat_ws(sep, filter(col(tmp), (x, i) =>
          array_position(col(tmp), x) === (i + 1).cast("long"))))
      .drop(tmp)
  }

  /** Reassemble (idCol, pos, para) survivor rows into per-document
    * text in `pos` order — shared by `dedupParagraphs` and the
    * streaming operator's per-batch reassembly (q71), so the two
    * paths cannot drift. Every id in `allDocs` gets a row (fully
    * deduplicated documents come back empty).
    */
  def reassembleParagraphs(survivors: DataFrame, allDocs: DataFrame,
                           idCol: String, sep: String = "\n"): DataFrame = {
    val rebuilt = survivors.groupBy(col(idCol))
      .agg(concat_ws(sep, transform(
        sort_array(collect_list(struct(col("pos"), col("para")))),
        x => x.getField("para"))).as("text_dedup"))
    allDocs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  // ---------------------------------------------------------------------
  // Benchmark decontamination (eval-set n-gram overlap)
  // ---------------------------------------------------------------------

  /** Training-corpus contamination against an evaluation set: every
    * (corpus doc, eval doc) pair sharing at least `minShared` distinct
    * word n-grams — the standard decontamination check run before a
    * pretraining corpus ships, catching verbatim and near-verbatim
    * benchmark leakage that exact dedup misses.
    *
    * Scale shape: the EVAL side is benchmark-sized, so its exploded
    * shingle postings broadcast; the corpus-side pass is then
    * explode → broadcast hash join → partial-aggregated count — the
    * only shuffle carries (doc, eval_doc) hit pairs, bounded by actual
    * overlap, never by corpus size. Shingles are per-doc distinct, so
    * a plain count is the distinct shared-shingle count.
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    evalDocs: DataFrame, evalIdCol: String,
                    evalTextCol: String, n: Int = 3,
                    minShared: Int = 10): DataFrame = {
    val corpus = docs.select(col(idCol).as("doc"),
      explode(shingles(col(textCol), n)).as("s"))
    val evalSh = evalDocs.select(col(evalIdCol).as("eval_doc"),
      explode(shingles(col(evalTextCol), n)).as("s"))
    corpus.join(broadcast(evalSh), Seq("s"))
      .groupBy(col("doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** `contamination` for the regime where the eval side's exploded
    * shingle postings exceed the broadcast budget (a 1 M-doc eval
    * suite is ~2×10⁸ postings with ids — gigabytes — where a Bloom
    * bitmap over the same keys at ~10 bits/key is ~250 MB): fit a
    * Bloom filter over the eval shingle hashes DISTRIBUTED (one
    * aggregation pass, OR-merged per-partition bitmaps — the driver
    * never sees a shingle), probe it map-side at doc granularity so
    * clean documents — the overwhelming majority of a training
    * corpus — never explode, then verify the surviving candidates
    * with an exact equi-join against the eval postings. Bloom false
    * positives die in the verify join, so the output is EXACTLY
    * `contamination`'s for any (bloomBits, probes): the filter only
    * decides how much work the verify stage sees. The verify join is
    * a plain shuffle join by design — both sides are small (candidates
    * ≈ true leakage + FP rate × corpus; eval postings shuffle once,
    * bounded by the eval suite, never by the corpus).
    *
    * The doc-level probe evaluates the shingle expression once per
    * corpus row; Catalyst pushes the probe predicate below the `sh`
    * projection, so surviving rows re-shingle once more for the
    * explode — the clean bulk pays exactly one pass.
    */
  def bloomContamination(docs: DataFrame, idCol: String, textCol: String,
                         evalDocs: DataFrame, evalIdCol: String,
                         evalTextCol: String, n: Int = 3,
                         minShared: Int = 10, bloomBits: Int = 1 << 23,
                         probes: Int = 4): DataFrame = {
    require(bloomBits >= 64 && (bloomBits & (bloomBits - 1)) == 0,
      s"bloomBits must be a power of two >= 64, got $bloomBits")
    val spark = docs.sparkSession
    val evalSh = evalDocs.select(col(evalIdCol).as("eval_doc"),
      explode(shingles(col(evalTextCol), n)).as("s"))
    val fit = new graft.plans.BloomFitAgg(bloomBits / 64, probes)
    val bitmap: Array[Long] = evalSh
      .select(col("s").as(org.apache.spark.sql.Encoders.scalaLong))
      .select(fit.toColumn).head()
    val cand = docs
      .select(col(idCol).as("doc"), shingles(col(textCol), n).as("sh"))
      .filter(graft.plans.TextExprs.bloomAnyContain(
        spark, col("sh"), bitmap, probes))
    cand.select(col("doc"), explode(col("sh")).as("s"))
      .join(evalSh, Seq("s"))
      .groupBy(col("doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ---------------------------------------------------------------------
  // PII scrubbing (training-corpus release hygiene)
  // ---------------------------------------------------------------------

  /** PII patterns, restricted to constructs with identical semantics
    * in Java regex and RE2-style engines (plain character classes,
    * bounded repetition, ASCII \b) so an external SQL oracle counts
    * and redacts byte-identically.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRe = "https?://[^\\s]+"
  val phoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Per-document PII hit counts (pure map-side Columns; match
    * counting without materializing match arrays).
    */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(emailRe)),
    "n_phones" -> regexp_count(text, lit(phoneRe)),
    "n_urls" -> regexp_count(text, lit(urlRe)))

  /** Redact PII with typed placeholders. URLs first: a URL may embed
    * @ or digit runs, and redacting it before the email/phone passes
    * keeps the three categories disjoint.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlRe, "<URL>"),
        emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  // ---------------------------------------------------------------------
  // Repetition signals (Gopher/C4-style boilerplate detection)
  // ---------------------------------------------------------------------

  /** One-pass word n-gram repetition stats: struct(n_grams, n_distinct,
    * max_count) over the NON-distinct in-order gram windows (native
    * `ngram_rep_stats` kernel — the composed form is O(grams·distinct)
    * interpreted lambda evals per row).
    */
  def ngramRepStats(text: Column, n: Int = 2): Column =
    graft.plans.TextExprs.ngramRepStats(
      org.apache.spark.sql.SparkSession.active, text, n)

  /** The declarative reference form for the native expression's
    * semantics (and the shape the DuckDB oracle mirrors): grams are the
    * same windows as `shingles` but kept as strings, not deduplicated.
    */
  def ngramRepStatsColumnar(text: Column, n: Int = 2): Column = {
    val toks = tokens(text)
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    val uniq = array_distinct(grams)
    struct(
      size(grams).as("n_grams"),
      size(uniq).as("n_distinct"),
      array_max(transform(uniq, d =>
        size(filter(grams, g => g === d)))).as("max_count"))
  }

  /** Repetition features from a materialized `ngramRepStats` struct
    * column: dup-ngram fraction (1 - distinct/total) and top-ngram
    * fraction (mode count / total). High values mark templated /
    * degenerate documents — the standard cheap pretraining-corpus
    * repetition filters. Pass the struct as a projected column so the
    * one-pass expression is evaluated once, not per derived ratio.
    */
  def repetitionFeatures(statsCol: Column): Seq[(String, Column)] = Seq(
    "n_grams" -> statsCol.getField("n_grams"),
    "n_distinct" -> statsCol.getField("n_distinct"),
    "max_count" -> statsCol.getField("max_count"),
    "dup_ngram_frac" -> round(
      (statsCol.getField("n_grams") - statsCol.getField("n_distinct"))
        .cast("double") / statsCol.getField("n_grams"), 4),
    "top_ngram_frac" -> round(
      statsCol.getField("max_count").cast("double") /
        statsCol.getField("n_grams"), 4))

  // ---------------------------------------------------------------------
  // Language identification (stopword-profile heuristic)
  // ---------------------------------------------------------------------

  private val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "von", "mit", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "dans", "une", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "por", "para", "una", "que"))

  /** Cheap n-gram/stopword language id: argmax over per-language
    * stopword hits; "und" (undetermined) when no profile scores.
    * Computed by the native one-pass `langid` kernel — the composed
    * form inlined the regex tokenizer into every profile filter
    * (~9 splits per row).
    */
  def langId(text: Column): Column =
    graft.plans.TextExprs.langid(
      org.apache.spark.sql.SparkSession.active, text)

  /** The declarative language-id form (kept as the cross-checkable
    * reference for the native expression's semantics; also the shape
    * the DuckDB oracle mirrors).
    */
  def langIdColumnar(text: Column): Column = {
    val toks = tokens(text)
    val scores = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && s > 0, lang).otherwise(acc)
    }
  }

  /** Feature-hashed text embedding (native one-pass expression;
    * near-duplicate texts map to near-parallel vectors — the input to
    * the embedding-cosine near-dup path).
    */
  def hashEmbedding(text: Column, dim: Int = 64): Column =
    graft.plans.TextExprs.hashEmbedding(
      org.apache.spark.sql.SparkSession.active, text, dim)

  /** Document-table feature extraction used by entry queries: ONE
    * map-only select — every column is a pure expression over the same
    * row, so there is nothing to join (a self-join here would be a
    * needless full shuffle of the corpus).
    */
  def documentStats(docs: DataFrame): DataFrame =
    docs.select(
      (col("doc_id") +:
        qualityFeatures(col("text")).map { case (n, c) => c.as(n) }) ++
      Seq(
        qualityScore(col("text")).as("quality"),
        langId(col("text")).as("lang_pred"),
        fingerprintMd5(col("text")).as("fp_md5"),
        bpeTokenCount(col("text")).as("n_bpe_tokens")): _*)
}
