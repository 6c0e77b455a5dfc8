package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Inference side of a model-based quality filter — the
  * fastText-classifier shape CCNet/RefinedWeb use to keep
  * "wikipedia-like" text: a linear model over unigram + adjacent-
  * bigram features, label = sign of the feature-weight sum. Training
  * happens offline (the weights table is an input); scoring is the
  * 100 TB-scale part and is what lives here.
  *
  * Cross-engine discipline: weights are integers and only integers
  * are summed — score_q is exact on any engine/partitioning. No
  * division anywhere (the mean-pooled fastText score divides by the
  * feature count, but its SIGN — the label — is the sum's sign, and
  * n_feats ships alongside for any consumer that wants the mean).
  *
  * Scale shape: features derive map-only per document (token array +
  * zipped-slice bigrams — no self-join, no window); the weights join
  * is an explicit broadcast (a fastText vocabulary is
  * hash-bucket-bounded, millions of rows at most); the per-doc sum is
  * one hash aggregation whose map-side partial collapses each
  * document's features to a single row per partition before the only
  * shuffle. Unmatched documents (no feature in the table) score 0 via
  * the final left join against the map-only length relation.
  */
object Classifier {

  /** The unigram+adjacent-bigram feature array over a pre-staged
    * token-array column — THE single definition of the classifier/DSIR
    * feature space (fit and scoring paths must agree on it exactly).
    */
  def featureArray(toks: Column): Column =
    concat(toks,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))

  /** (doc, feature) rows: unigrams then adjacent bigrams ("w1 w2"),
    * derived map-only from one tokenize per row.
    */
  def featureExplode(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc"), explode(featureArray(col("toks"))).as("feature"))

  /** Deterministic pseudo-random weights over the corpus vocabulary —
    * a stand-in for learned weights with the same join/scale shape:
    * weight_q(f) = uint32(first 8 md5 hex of f) % 1001 - 500, i.e.
    * integers in [-500, 500] any engine can recompute from md5 alone.
    * Vocabulary-bounded output (the q48 regime).
    */
  def synthWeights(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    featureExplode(docs, idCol, textCol)
      .select(col("feature")).distinct()
      .select(col("feature"),
        (Sampling.md5Uint32(col("feature")) % 1001 - 500).as("weight_q"))

  /** Score every document: integer feature-weight sum, total feature
    * count, and the sign label. `weights` must be (feature, weight_q).
    */
  def scoreQuantized(docs: DataFrame, weights: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val lens = docs.select(col(idCol).as("doc"),
      // n unigrams + (n-1) bigrams = 2n-1; tokens() is never empty
      (size(TextOps.tokens(col(textCol))) * 2 - 1).cast("long")
        .as("n_feats"))
    val sums = featureExplode(docs, idCol, textCol)
      .join(broadcast(weights), Seq("feature"))
      .groupBy(col("doc"))
      .agg(sum(col("weight_q")).as("score_q"))
    lens.join(sums, Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_feats"),
        coalesce(col("score_q"), lit(0L)).as("score_q"),
        (coalesce(col("score_q"), lit(0L)) > 0).as("keep"))
  }
}
