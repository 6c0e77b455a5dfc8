package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al.,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023, arXiv:2302.03169): keep the raw-corpus examples
  * whose hashed-n-gram distribution looks most like a small target
  * corpus. Two bag-of-hashed-ngrams multinomials are fit (target p,
  * raw q); each raw document's importance weight is
  * log w(d) = Σ_f c_f(d) · (ln p_f − ln q_f), and the selection is
  * Gumbel top-k over log w — the paper's sampling-without-replacement
  * construction, made deterministic here by deriving the Gumbel noise
  * from md5(doc_id:salt) instead of an RNG.
  *
  * Cross-engine discipline (the q60/q65/q75 conventions, combined):
  *  - features = unigrams + adjacent bigrams ("w1 w2") over
  *    [[TextOps.tokens]], hashed to `buckets` cells via
  *    uint32(md5₈) % B — exactly [[Classifier]]'s feature space;
  *  - per-bucket add-1 smoothing: p_b = (c_b + 1)/(T + B); each log
  *    lands as the millinat floor nlp_q = ⌊−ln(p_b)·1000⌋ of an IEEE
  *    quotient of exact integers, and ONLY integers are summed:
  *    logw_q(d) = Σ_occurrences (nlp_raw_q[b] − nlp_target_q[b]);
  *  - Gumbel noise: u = (uint32(md5₈(doc_id:salt)) + 0.5)/2³²
  *    (an exact dyadic rational in (0,1)), gumbel_q =
  *    ⌊−ln(−ln(u))·1000⌋, key_q = logw_q + gumbel_q, top-k by
  *    (key_q desc, doc_id) — every comparison is on integers.
  *
  * Scale shape: the two LM fits are one hashed-feature aggregation
  * each — partial-aggregated, output bounded by B (the collect is a
  * vocabulary-bounded final aggregate, the q48 regime, NOT a
  * data-sized driver path). Scoring is map-only: the B-entry
  * log-likelihood-ratio table rides into the task binary as an array
  * literal and each document folds its own feature array over it —
  * zero exchanges for the weight pass. The only ordering work is the
  * top-k itself, which Spark executes as TakeOrderedAndProject
  * (per-partition heaps + driver merge of k rows, never a full sort).
  * For B beyond ~10⁶ switch the literal to a broadcast-join table;
  * the paper uses 10⁴.
  */
object Dsir {

  /** uint32 of the first 8 md5 hex chars, mod `buckets` — the q75
    * weight-hash convention, so any engine recomputes it from md5
    * alone.
    */
  private def bucket(c: Column, buckets: Int): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long") % buckets

  /** Dense per-bucket feature-occurrence counts (plus the total) for
    * one corpus. B-bounded aggregate → driver array.
    */
  private def bucketCounts(docs: DataFrame, idCol: String, textCol: String,
                           buckets: Int): (Array[Long], Long) = {
    val arr = Array.fill(buckets)(0L)
    Classifier.featureExplode(docs, idCol, textCol)
      .select(bucket(col("feature"), buckets).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    (arr, arr.sum)
  }

  /** Select the `k` raw documents with the highest Gumbel-perturbed
    * importance weight toward `target`. Returns
    * (idCol, logw_q, gumbel_q, key_q) for the selected rows.
    */
  def selectTopK(target: DataFrame, raw: DataFrame, idCol: String,
                 textCol: String, k: Int, buckets: Int = 4096,
                 salt: String = "dsir"): DataFrame = {
    require(k > 0, "k must be positive")
    require(buckets > 0 && buckets <= (1 << 20),
      "buckets must be in (0, 2^20] — use a broadcast-join table beyond that")
    val (cT, tT) = bucketCounts(target, idCol, textCol, buckets)
    // raw-side buckets computed ONCE for fit + scoring (see
    // selectTopKSplit — the raw corpus is the bulk of the hash work)
    val rawB = graft.GraftContext.persistTracked(
      raw.select(col(idCol),
        TextOps.tokens(col(textCol)).as("toks"))
        .select(col(idCol),
          transform(Classifier.featureArray(col("toks")),
            f => bucket(f, buckets).cast("int")).as("bs")))
    val cR = Array.fill(buckets)(0L)
    rawB.select(explode(col("bs")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .collect()
      .foreach(r => cR(r.getInt(0)) = r.getLong(1))
    scoreBuckets(rawB, idCol, k, buckets, salt, cT, tT, cR, cR.sum)
  }

  /** `selectTopK` for the common deployment where target and raw
    * PARTITION one parent corpus (a labeled slice of the same table):
    * both bucket LMs come out of ONE feature pass — explode once,
    * aggregate by (bucket, is-target) — instead of two separate
    * corpus scans. Identical math and output to
    * `selectTopK(docs.filter(cond), docs.filter(!cond), …)`.
    */
  def selectTopKSplit(docs: DataFrame, targetCond: Column, idCol: String,
                      textCol: String, k: Int, buckets: Int = 4096,
                      salt: String = "dsir"): DataFrame = {
    require(k > 0, "k must be positive")
    require(buckets > 0 && buckets <= (1 << 20),
      "buckets must be in (0, 2^20] — use a broadcast-join table beyond that")
    val cT = Array.fill(buckets)(0L)
    val cR = Array.fill(buckets)(0L)
    // rows where the condition is three-valued NULL belong to NEITHER
    // corpus — exactly the two-corpus form's behavior, where both
    // filter(cond) and filter(!cond) drop them.
    // ONE tokenize+feature+md5 pass feeds BOTH the LM fits and the
    // scoring fold: the per-doc feature-BUCKET array is materialized
    // once (tracked persist), so the scoring pass re-reads small int
    // arrays instead of re-tokenizing and re-hashing every feature
    // occurrence a second time — at corpus scale the md5 work halves
    // (the scoring side dominates: raw is the bulk of the corpus).
    val withB = graft.GraftContext.persistTracked(
      docs.filter(targetCond.isNotNull)
        .select(col(idCol), targetCond.as("t"),
          TextOps.tokens(col(textCol)).as("toks"))
        .select(col(idCol), col("t"),
          transform(Classifier.featureArray(col("toks")),
            f => bucket(f, buckets).cast("int")).as("bs")))
    withB.select(col("t"), explode(col("bs")).as("b"))
      .groupBy(col("b"), col("t")).agg(count(lit(1)).as("c"))
      .collect()
      .foreach { r =>
        val arr = if (r.getBoolean(1)) cT else cR
        arr(r.getInt(0)) = r.getLong(2)
      }
    scoreBuckets(withB.filter(!col("t")).select(col(idCol), col("bs")),
      idCol, k, buckets, salt, cT, cT.sum, cR, cR.sum)
  }

  /** The shared weight+Gumbel+top-k pass over pre-bucketed raw rows
    * (idCol, bs: array<int> of feature buckets — the SAME
    * bucket(feature) images the LM fits aggregated, computed once and
    * shared so the scoring pass never re-hashes a feature), given the
    * two fitted bucket LMs.
    */
  private def scoreBuckets(rawB: DataFrame, idCol: String,
                           k: Int, buckets: Int, salt: String,
                           cT: Array[Long], tT: Long,
                           cR: Array[Long], tR: Long): DataFrame = {
    def nlpQ(c: Long, t: Long): Long =
      math.floor(-math.log((c + 1).toDouble / (t + buckets)) * 1000).toLong
    // llr_q[b] ≈ 1000·(ln p_target − ln p_raw), via the two millinat
    // floors (each portable per the q60 argument; the difference of
    // two portable integers is portable)
    val llr: Seq[Long] =
      (0 until buckets).map(b => nlpQ(cR(b), tR) - nlpQ(cT(b), tT))
    val lut = typedlit(llr)

    // map-only scoring: fold the document's own bucket array over the
    // LLR table — zero hashes, zero exchanges
    val logw = aggregate(
      transform(col("bs"), b => element_at(lut, b + 1)),
      lit(0L), (acc, x) => acc + x)
    val u = (conv(substring(md5(concat(col(idCol).cast("string"),
        lit(":" + salt))), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    val gumbel = floor(-log(-log(u)) * 1000).cast("long")

    rawB.select(col(idCol), logw.as("logw_q"), gumbel.as("gumbel_q"))
      .withColumn("key_q", col("logw_q") + col("gumbel_q"))
      .orderBy(col("key_q").desc, col(idCol))
      .limit(k)
  }
}
