package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Corpus relevance scoring (TF-IDF / BM25) for a fixed query-term
  * set — the retrieval primitive a curation pipeline uses to pull
  * topic-targeted subsets out of a web-scale corpus.
  *
  * Scale shape: the fact-side pass is explode→broadcast-semi-filter on
  * the tiny term set, so the only shuffled rows are (doc, matched
  * term) — bounded by |terms| per document, NOT by document length.
  * The document-frequency relation is |terms| rows, broadcast back.
  * Corpus-level scalars (N, avgdl) are one partial-aggregated scan.
  */
object Relevance {

  /** Per-(doc, term) term frequencies restricted to `terms` — the
    * shared first stage. Filtering BEFORE the groupBy is the scale
    * decision: the shuffle carries only query-term hits.
    */
  private def termFreqs(docs: DataFrame, idCol: String, textCol: String,
                        terms: Seq[String]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).as("doc"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .join(broadcast(terms.toDF("term")), Seq("term"))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Integer-exact quantized TF-IDF: score_q = Σ_t tf(d,t) · idf_q(t)
    * with idf_q(t) = (N · scale) div df(t) — integer division, so the
    * score is bit-identical on any engine and any partitioning (the
    * same trick as Similarity.quantizedCosine: quantize first, then
    * only exact integer arithmetic). The quantized idf is a monotone
    * image of N/df, so rankings match unquantized TF-IDF up to the
    * 1/scale quantization step.
    *
    * Overflow discipline (ANSI mode throws rather than wrapping):
    * N·scale·max_tf·|terms| must stay under 2^63 — at N=10^12 docs
    * pass scale=10^3, not the default 10^6.
    */
  def tfIdfQuantized(docs: DataFrame, idCol: String, textCol: String,
                     terms: Seq[String], scale: Long = 1000000L): DataFrame = {
    val n = docs.count()
    // tf feeds both the df aggregation and the score join — one
    // tracked persist keeps the corpus explode to a single pass
    val tf = graft.GraftContext.persistTracked(
      termFreqs(docs, idCol, textCol, terms))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf_q", expr(s"${n * scale}L div df"))
    tf.join(broadcast(idf), Seq("term"))
      .groupBy(col("doc"))
      .agg(sum(col("tf") * col("idf_q")).as("score_q"))
      .select(col("doc").as(idCol), col("score_q"))
  }

  /** Cross-engine-exact quantized Okapi BM25 at the standard
    * (k1 = 1.2, b = 0.75): score_q = Σ_t idf_q(t) · tfpart_q(d,t),
    * all-integer once the two quantizations land, so the score is
    * bit-identical on any engine and any partitioning (the q43
    * rounding-law discipline — no double is ever summed).
    *
    *  - tf-part: with k1 = 6/5 and b = 3/4 the Okapi ratio
    *    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) is exactly
    *    (22·tf·Σdl) / (10·tf·Σdl + 3·Σdl + 9·dl·N) after multiplying
    *    through by 10·Σdl (avgdl = Σdl/N) — pure integers;
    *    tfpart_q = that ratio scaled by `scale` under integer `div`.
    *  - idf_q(t) = floor(ln(1 + (N − df + 0.5)/(df + 0.5)) · 1000):
    *    the ln argument is exact (IEEE ops over exact integers), and
    *    the 1e-3 quantization step is ~12 orders of magnitude coarser
    *    than a possible last-ulp ln() divergence between libm
    *    implementations, so the floor image is portable.
    *
    * Overflow discipline (ANSI mode throws rather than wrapping):
    * 22·max_tf·Σdl·scale must stay under 2^63 — at web scale pass a
    * smaller `scale`, exactly as `tfIdfQuantized` documents.
    * Rankings match double-precision `bm25` up to the quantization
    * steps (pinned in the spec).
    */
  def bm25Quantized(docs: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String], scale: Long = 1000000L): DataFrame = {
    // one pass gives both corpus scalars (row count + token total)
    val lens = graft.GraftContext.persistTracked(
      docs.select(col(idCol).as("doc"),
        size(TextOps.tokens(col(textCol))).cast("long").as("dl")))
    val stats = lens.agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
    val n = stats.getLong(0)
    if (n == 0)
      return docs.select(col(idCol), lit(0L).as("score_q")).limit(0)
    val sumDl = stats.getLong(1)
    val tf = graft.GraftContext.persistTracked(
      termFreqs(docs, idCol, textCol, terms))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf_q",
        floor(log(lit(1.0) +
          (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)) * 1000)
          .cast("long"))
    val tfpartQ = expr(
      s"(22L * tf * ${sumDl}L * ${scale}L) div " +
        s"(10L * tf * ${sumDl}L + 3L * ${sumDl}L + 9L * dl * ${n}L)")
    tf.join(broadcast(idf), Seq("term"))
      .join(lens, Seq("doc"))
      .groupBy(col("doc"))
      .agg(sum(col("idf_q") * tfpartQ).as("score_q"))
      .select(col("doc").as(idCol), col("score_q"))
  }

  /** CCNet-style unigram-LM quality scoring: train a unigram LM on
    * the corpus itself, score every document by its total and mean
    * quantized negative log-likelihood, and bucket into
    * head/middle/tail by the corpus quartiles of the mean — the
    * classic perplexity-filter shape (Wenzek et al., "CCNet", LREC
    * 2020) with the corpus standing in for the clean LM corpus.
    *
    * Cross-engine exactness (the q43/q56 discipline): per token TYPE,
    * nll_q(t) = floor(-ln(count(t)/total) · 1000) — the ln argument
    * is an exact IEEE quotient of exact integers and the 1e-3 floor
    * grid is ~12 orders coarser than any libm last-ulp divergence —
    * then ONLY integers are summed: score_q(d) = Σ_t tf·nll_q(t),
    * mean_nll_q = score_q div n_tok. Quartile thresholds interpolate
    * at exactly-representable 0.25/0.75 positions over integers
    * (the q46 exact-median argument), so the head/middle/tail split
    * is bit-identical on any engine and partitioning.
    *
    * Scale shape: one explode pass; the LM is a (token -> count)
    * aggregation joined back on the token key (AQE broadcasts it when
    * the vocabulary is small); the two quartile scalars are the only
    * driver values. Overflow: score_q ≤ n_tok · 1000·ln(total) —
    * at 10^12 tokens that is n_tok · 27 631, nowhere near 2^63.
    */
  def lmScoreQuantized(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    // the token explode feeds three consumers (total count, the LM
    // aggregation, the per-doc term frequencies) and the scored
    // relation two (the quartile action + the caller's) — persist
    // both so the corpus is exploded once and scored once
    val tok = graft.GraftContext.persistTracked(
      docs.select(col(idCol).as("doc"),
        explode(TextOps.tokens(col(textCol))).as("term")))
    val total = tok.count()
    // empty corpus: percentile over zero rows is NULL and getDouble
    // would NPE — return the empty result with the right schema (the
    // same guard bm25 documents)
    if (total == 0)
      return docs.select(col(idCol), lit(0L).as("n_tok"),
        lit(0L).as("score_q"), lit(0L).as("mean_nll_q"),
        lit("middle").as("bucket")).limit(0)
    val nll = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .withColumn("nll_q",
        floor(-log(col("cnt").cast("double") / total) * 1000).cast("long"))
      .select(col("term"), col("nll_q"))
    // per-OCCURRENCE scoring: join each token row to its type's nll and
    // partial-aggregate straight to the doc key — Σ_occurrences nll_q
    // equals Σ_types tf·nll_q exactly (integers), and dropping the
    // intermediate (doc, term) aggregation removes one full exchange of
    // the token relation (the (doc, term) partitioning never served the
    // term-keyed join anyway)
    val scored = graft.GraftContext.persistTracked(tok
      .join(nll, Seq("term"))
      .groupBy(col("doc"))
      .agg(sum(col("nll_q")).as("score_q"),
        count(lit(1)).as("n_tok"))
      .withColumn("mean_nll_q", expr("score_q div n_tok")))
    val th = scored.agg(
      percentile(col("mean_nll_q"), lit(0.25)).as("q1"),
      percentile(col("mean_nll_q"), lit(0.75)).as("q3")).head()
    val (q1, q3) = (th.getDouble(0), th.getDouble(1))
    scored.select(col("doc").as(idCol), col("n_tok"), col("score_q"),
      col("mean_nll_q"),
      when(col("mean_nll_q") <= q1, "head")
        .when(col("mean_nll_q") > q3, "tail")
        .otherwise("middle").as("bucket"))
  }

  /** CCNet-style BIGRAM LM with stupid backoff (Brants et al., "Large
    * Language Models in Machine Translation", EMNLP 2007): the n-gram
    * upgrade of `lmScoreQuantized` that CAN penalize word-order
    * garbage — a unigram model scores a shuffled document identically
    * to its natural-order original; a bigram model sees every shuffled
    * adjacency as an unseen bigram and pays the backoff penalty
    * (pinned in the spec).
    *
    * Model (trained on `train`, scoring `docs` — CCNet proper trains
    * on a clean corpus and scores the crawl):
    *  - first token w0:     p = c_uni(w0)/T        (OOV: 1/T)
    *  - bigram (w1, w2):    p = c_bi(w1,w2)/c_uni(w1) when seen,
    *    else backoff        p = 0.4 · c_uni(w2)/T   (OOV w2: count 1)
    *
    * Cross-engine exactness (the q60 discipline): every probability's
    * ln() argument is an IEEE product/quotient of exact integers (and
    * the exact double literal 0.4), nll_q = floor(-ln(p) · 1000), and
    * ONLY integers are summed: score_q(d) = nll_q(w0) + Σ nll_q(bigram
    * occurrences), mean_nll_q = score_q div n_tok, head/middle/tail by
    * the corpus quartiles of the mean exactly as `lmScoreQuantized`.
    *
    * Scale shape: bigrams derive map-only per document (zipped slices
    * of the token array — no self-join, no window); the LM tables are
    * (term) / (w1, w2)-keyed aggregations joined back on those keys
    * (AQE broadcasts them when the vocabulary is small); the only
    * driver scalars are T and the two quartiles. Overflow: per-token
    * nll_q ≤ 1000·(ln T + 1), so at 10^12 tokens score_q ≤ n_tok·28547.
    */
  def bigramLmScoreQuantized(train: DataFrame, docs: DataFrame,
                             idCol: String, textCol: String): DataFrame = {
    val trainTok = graft.GraftContext.persistTracked(
      train.select(explode(TextOps.tokens(col(textCol))).as("term")))
    val t = trainTok.count()
    if (t == 0)
      return docs.select(col(idCol), lit(0L).as("n_tok"),
        lit(0L).as("score_q"), lit(0L).as("mean_nll_q"),
        lit("middle").as("bucket")).limit(0)
    // unigram table: plain nll (first token), backoff nll (0.4·c/T),
    // and the raw count (the bigram table's denominator)
    val uni = graft.GraftContext.persistTracked(
      trainTok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .select(col("term"), col("cnt"),
          floor(-log(col("cnt").cast("double") / t) * 1000)
            .cast("long").as("nll_uni_q"),
          floor(-log(lit(0.4) * col("cnt") / t) * 1000)
            .cast("long").as("nll_bo_q")))
    // OOV constants: an unseen word scores as count 1 (the standard
    // <unk>-as-singleton floor — keeps every probability finite)
    val nllUniOov = math.floor(math.log(t.toDouble) * 1000).toLong
    val nllBoOov = math.floor(-math.log(0.4 * 1 / t.toDouble) * 1000).toLong

    // map-only bigram derivation: zip the token array with its shift
    // (no self-join, no window). Two-step select so the token split
    // runs once per row (CollapseProject would re-inline a same-select
    // split per reference).
    def bigramExplode(tokArrays: DataFrame): DataFrame =
      tokArrays.withColumn("bg", explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1))))
        .withColumn("w1", col("bg.0")).withColumn("w2", col("bg.1"))
        .drop("bg", "toks")

    val trainBi = bigramExplode(
        train.select(TextOps.tokens(col(textCol)).as("toks")))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .join(uni.select(col("term").as("w1"), col("cnt").as("c1")), Seq("w1"))
      .select(col("w1"), col("w2"),
        floor(-log(col("cb").cast("double") / col("c1")) * 1000)
          .cast("long").as("nll_bi_q"))

    val evalT = graft.GraftContext.persistTracked(
      docs.select(col(idCol).as("doc"), TextOps.tokens(col(textCol)).as("toks")))
    val lens = evalT.select(col("doc"), size(col("toks")).cast("long").as("n_tok"))
    val firsts = evalT.select(col("doc"), element_at(col("toks"), 1).as("term"))
      .join(uni.select(col("term"), col("nll_uni_q")), Seq("term"), "left")
      .select(col("doc"),
        coalesce(col("nll_uni_q"), lit(nllUniOov)).as("contrib"))
    // per-OCCURRENCE scoring (the lmScoreQuantized discipline): each
    // bigram occurrence looks up its nll directly and the doc sum is
    // partial-aggregated — Σ_occurrences nll equals Σ_types tf·nll
    // exactly (integers), and the dropped (doc, w1, w2) pre-aggregation
    // was a full extra exchange that never served the (w1, w2)- or
    // w2-keyed lookup joins
    val bigr = bigramExplode(evalT)
      .join(trainBi, Seq("w1", "w2"), "left")
      .join(uni.select(col("term").as("w2"), col("nll_bo_q")), Seq("w2"), "left")
      .select(col("doc"),
        coalesce(col("nll_bi_q"), col("nll_bo_q"), lit(nllBoOov)).as("contrib"))
    val scored = graft.GraftContext.persistTracked(
      firsts.unionByName(bigr)
        .groupBy(col("doc")).agg(sum(col("contrib")).as("score_q"))
        .join(lens, Seq("doc"))
        .withColumn("mean_nll_q", expr("score_q div n_tok")))
    val th = scored.agg(
      percentile(col("mean_nll_q"), lit(0.25)).as("q1"),
      percentile(col("mean_nll_q"), lit(0.75)).as("q3")).head()
    val (q1, q3) = (th.getDouble(0), th.getDouble(1))
    scored.select(col("doc").as(idCol), col("n_tok"), col("score_q"),
      col("mean_nll_q"),
      when(col("mean_nll_q") <= q1, "head")
        .when(col("mean_nll_q") > q3, "tail")
        .otherwise("middle").as("bucket"))
  }

  /** Okapi BM25 over the query-term set (double-precision — the
    * engine-facing scorer; cross-engine checks use the quantized
    * variant above because ln() is not bit-portable).
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5));
    * tf-part = tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // one pass gives both corpus scalars; empty corpus: avg(dl) is
    // NULL and getDouble would NPE — return the empty result with the
    // right schema instead. (A non-empty corpus always has avgdl >= 1:
    // the tokenizer yields one empty token for blank text, so dl is
    // never 0.)
    val lens = graft.GraftContext.persistTracked(
      docs.select(col(idCol).as("doc"),
        size(TextOps.tokens(col(textCol))).as("dl")))
    val stats = lens.agg(count(lit(1)).as("n"), avg(col("dl")).as("a")).head()
    val n = stats.getLong(0)
    if (n == 0)
      return docs.select(col(idCol), lit(0.0).as("bm25")).limit(0)
    val avgdl = stats.getDouble(1)
    val tf = graft.GraftContext.persistTracked(
      termFreqs(docs, idCol, textCol, terms))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
    val tfPart: Column =
      col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    tf.join(broadcast(idf), Seq("term"))
      .join(lens, Seq("doc"))
      .groupBy(col("doc"))
      .agg(sum(col("idf") * tfPart).as("bm25"))
      .select(col("doc").as(idCol), col("bm25"))
  }
}
