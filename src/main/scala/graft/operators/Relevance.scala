package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.GraftContext.persistTracked

/** Corpus relevance scoring (TF-IDF / BM25) for a fixed query-term
  * set — the retrieval primitive a curation pipeline uses to pull
  * topic-targeted subsets out of a web-scale corpus — and CCNet-style
  * LM quality scoring.
  *
  * Building a scorer starts no Spark job: every corpus scalar (N, Σdl,
  * avgdl, the token total T, the mean-nll quartiles) is a scalar
  * subquery of the returned plan, computed when the caller acts on it.
  * The one tokenized relation a scorer reads more than once is
  * persisted, so each document is tokenized once per scorer.
  *
  * Scale shape: the fact-side pass keeps, per document, only its
  * query-term tokens, so the only shuffled rows are (doc, matched
  * term) — bounded by |terms| per document, NOT by document length.
  * The document-frequency relation is |terms| rows, broadcast back.
  */
object Relevance {

  /** Integer division (SQL `div`) of two columns. */
  private def intDiv(a: Column, b: Column): Column = call_function("div", a, b)

  /** Corpus scalars of one term-scoring pass, as scalar subqueries. */
  private final case class Corpus(n: Column, sumDl: Column, avgDl: Column)

  /** The one term-scoring path: tokenize each document once into (doc,
    * dl, its tokens that are query terms) — persisted, since the corpus
    * scalars and the term frequencies both read it — then tf per (doc,
    * term), df per term, the per-term `idf` broadcast back, and per doc
    * Σ_t idf · `part`. `idf` reads column `df`; `part` reads `tf` and
    * `dl`. `terms` is a set: a repeated term counts once.
    */
  private def termScores(docs: DataFrame, idCol: String, textCol: String,
                         terms: Seq[String], out: String)
                        (idf: Corpus => Column, part: Corpus => Column): DataFrame = {
    // two-step select: CollapseProject would re-inline a same-select
    // split per reference
    val perDoc = persistTracked(
      docs.select(col(idCol).as("doc"), TextOps.tokens(col(textCol)).as("toks"))
        .select(col("doc"), size(col("toks")).cast("long").as("dl"),
          filter(col("toks"), _.isin(terms: _*)).as("hits")))
    val corpus = Corpus(perDoc.select(count(lit(1))).scalar(),
      perDoc.select(sum(col("dl"))).scalar(), perDoc.select(avg(col("dl"))).scalar())
    val tf = perDoc.select(col("doc"), col("dl"), explode(col("hits")).as("term"))
      .groupBy(col("doc"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val idfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .select(col("term"), idf(corpus).as("idf"))
    tf.join(broadcast(idfs), Seq("term"))
      .groupBy(col("doc"))
      .agg(sum(col("idf") * part(corpus)).as(out))
      .select(col("doc").as(idCol), col(out))
  }

  /** Okapi idf ln(1 + (N − df + 0.5)/(df + 0.5)) over column `df`. */
  private def okapiIdf(n: Column): Column =
    log(lit(1.0) + (n.cast("double") - col("df") + 0.5) / (col("df") + 0.5))

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
                     terms: Seq[String], scale: Long = 1000000L): DataFrame =
    termScores(docs, idCol, textCol, terms, "score_q")(
      idf = c => intDiv(c.n * scale, col("df")),
      part = _ => col("tf"))

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
                    terms: Seq[String], scale: Long = 1000000L): DataFrame =
    termScores(docs, idCol, textCol, terms, "score_q")(
      idf = c => floor(okapiIdf(c.n) * 1000).cast("long"),
      part = c => intDiv(lit(22L) * col("tf") * c.sumDl * scale,
        lit(10L) * col("tf") * c.sumDl + lit(3L) * c.sumDl + lit(9L) * col("dl") * c.n))

  /** Head/middle/tail buckets by the corpus quartiles of mean_nll_q =
    * score_q div n_tok over `scored` (doc, score_q, n_tok). Quartile
    * thresholds interpolate at exactly-representable 0.25/0.75
    * positions over integers (the q46 exact-median argument), so the
    * split is bit-identical on any engine and partitioning.
    */
  private def quartileBuckets(scored: DataFrame, idCol: String): DataFrame = {
    val withMean = scored.withColumn("mean_nll_q", intDiv(col("score_q"), col("n_tok")))
    val q = withMean.select(struct(
      percentile(col("mean_nll_q"), lit(0.25)).as("q1"),
      percentile(col("mean_nll_q"), lit(0.75)).as("q3"))).scalar()
    withMean.select(col("doc").as(idCol), col("n_tok"), col("score_q"),
      col("mean_nll_q"),
      when(col("mean_nll_q") <= q.getField("q1"), "head")
        .when(col("mean_nll_q") > q.getField("q3"), "tail")
        .otherwise("middle").as("bucket"))
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
    * mean_nll_q = score_q div n_tok, bucketed by `quartileBuckets`.
    *
    * Scale shape: one explode pass; the LM is a (token -> count)
    * aggregation joined back on the token key (AQE broadcasts it when
    * the vocabulary is small). Overflow: score_q ≤ n_tok ·
    * 1000·ln(total) — at 10^12 tokens that is n_tok · 27 631, nowhere
    * near 2^63.
    */
  def lmScoreQuantized(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    // the token explode feeds the total, the LM aggregation and the
    // per-doc scoring — persisted so the corpus is exploded once
    val tok = persistTracked(
      docs.select(col(idCol).as("doc"),
        explode(TextOps.tokens(col(textCol))).as("term")))
    val total = tok.select(count(lit(1))).scalar()
    val nll = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .select(col("term"),
        floor(-log(col("cnt").cast("double") / total) * 1000).cast("long").as("nll_q"))
    // per-OCCURRENCE scoring: join each token row to its type's nll and
    // partial-aggregate straight to the doc key — Σ_occurrences nll_q
    // equals Σ_types tf·nll_q exactly (integers), and dropping the
    // intermediate (doc, term) aggregation removes one full exchange of
    // the token relation (the (doc, term) partitioning never served the
    // term-keyed join anyway)
    quartileBuckets(tok.join(nll, Seq("term"))
      .groupBy(col("doc"))
      .agg(sum(col("nll_q")).as("score_q"), count(lit(1)).as("n_tok")), idCol)
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
    * An empty `train` (T = 0) scores no document: the result is empty.
    *
    * Cross-engine exactness (the q60 discipline): every probability's
    * ln() argument is an IEEE product/quotient of exact integers (and
    * the exact double literal 0.4), nll_q = floor(-ln(p) · 1000), and
    * ONLY integers are summed: score_q(d) = nll_q(w0) + Σ nll_q(bigram
    * occurrences), mean_nll_q = score_q div n_tok, head/middle/tail by
    * `quartileBuckets` exactly as `lmScoreQuantized`.
    *
    * Scale shape: bigrams derive map-only per document (zipped slices
    * of the token array — no self-join, no window); the LM tables are
    * (term) / (w1, w2)-keyed aggregations joined back on those keys
    * (AQE broadcasts them when the vocabulary is small). Overflow:
    * per-token nll_q ≤ 1000·(ln T + 1), so at 10^12 tokens score_q ≤
    * n_tok·28547.
    */
  def bigramLmScoreQuantized(train: DataFrame, docs: DataFrame,
                             idCol: String, textCol: String): DataFrame = {
    // each side's token arrays are read more than once (train: the
    // unigram and bigram tables; docs: lengths, first tokens, bigrams)
    // — persisted so each document is tokenized once
    val trainT = persistTracked(train.select(TextOps.tokens(col(textCol)).as("toks")))
    val trainTok = trainT.select(explode(col("toks")).as("term"))
    val t = trainTok.select(count(lit(1))).scalar()
    // unigram table: plain nll (first token), backoff nll (0.4·c/T),
    // and the raw count (the bigram table's denominator)
    val uni = trainTok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .select(col("term"), col("cnt"),
        floor(-log(col("cnt").cast("double") / t) * 1000)
          .cast("long").as("nll_uni_q"),
        floor(-log(lit(0.4) * col("cnt") / t) * 1000)
          .cast("long").as("nll_bo_q"))
    // OOV constants: an unseen word scores as count 1 (the standard
    // <unk>-as-singleton floor — keeps every probability finite)
    val nllUniOov = floor(log(t.cast("double")) * 1000).cast("long")
    val nllBoOov = floor(-log(lit(0.4) / t) * 1000).cast("long")

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

    val trainBi = bigramExplode(trainT)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .join(uni.select(col("term").as("w1"), col("cnt").as("c1")), Seq("w1"))
      .select(col("w1"), col("w2"),
        floor(-log(col("cb").cast("double") / col("c1")) * 1000)
          .cast("long").as("nll_bi_q"))

    // empty train: no document is scored
    val evalT = persistTracked(
      docs.select(col(idCol).as("doc"), TextOps.tokens(col(textCol)).as("toks")))
      .where(t > 0)
    val lens = evalT.select(col("doc"), size(col("toks")).cast("long").as("n_tok"))
    val firsts = evalT.select(col("doc"), element_at(col("toks"), 1).as("term"))
      .join(uni.select(col("term"), col("nll_uni_q")), Seq("term"), "left")
      .select(col("doc"),
        coalesce(col("nll_uni_q"), nllUniOov).as("contrib"))
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
        coalesce(col("nll_bi_q"), col("nll_bo_q"), nllBoOov).as("contrib"))
    quartileBuckets(firsts.unionByName(bigr)
      .groupBy(col("doc")).agg(sum(col("contrib")).as("score_q"))
      .join(lens, Seq("doc")), idCol)
  }

  /** Okapi BM25 over the query-term set (double-precision — the
    * engine-facing scorer; cross-engine checks use the quantized
    * variant above because ln() is not bit-portable).
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5));
    * tf-part = tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    termScores(docs, idCol, textCol, terms, "bm25")(
      idf = c => okapiIdf(c.n),
      part = c => col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / c.avgDl)))
}
