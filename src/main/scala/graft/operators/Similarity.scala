package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate / exact nearest-neighbor search over an embedding column
  * (ARRAY<FLOAT>).
  *
  * - `bruteTopK`: exact cosine top-k of a (small, broadcast) query set
  *   against the corpus — the correctness baseline. One broadcast join,
  *   one shuffle for the per-query top-k.
  * - `lshTopK`: random-hyperplane LSH — corpus and queries are bucketed
  *   by sign patterns; candidates share a bucket in >=1 table. The scale
  *   path: the corpus is never cross-joined.
  * - `quantizedDot`: integer-quantized dot product — deterministic
  *   across engines (used by the SQL oracle; float summation order is
  *   engine-specific, int arithmetic is exact).
  */
object Similarity {

  /** Sequential-fold double dot product of two float arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Integer-quantized dot product: round(x*1000) per slot, exact
    * 64-bit integer accumulation. Computed by the native one-pass
    * `quantized_dot` kernel (float arrays) — the composed
    * aggregate/zip_with form walks both arrays through interpreted
    * lambdas, which dominated the brute-force scoring pass (q10).
    */
  def quantizedDot(a: Column, b: Column): Column =
    graft.plans.TextExprs.quantizedDot(
      org.apache.spark.sql.SparkSession.active, a, b)

  /** The declarative quantized-dot form (cross-checkable reference for
    * the native expression; any numeric array type).
    */
  def quantizedDotColumnar(a: Column, b: Column, scale: Int = 1000): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        round(x.cast("double") * scale).cast("long") *
        round(y.cast("double") * scale).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Quantized cosine: qdot / sqrt(qnorm2_a * qnorm2_b), all integer
    * until the final sqrt+divide. Because the integer parts are exact
    * and IEEE sqrt/divide are correctly rounded, this is BIT-IDENTICAL
    * across engines (float-sum cosine is summation-order-dependent) —
    * the property the DuckDB oracle needs. Quantization error is
    * ~1e-3 relative at scale=1000; fine for ANN ranking.
    *
    * Computed by the native one-pass `quantized_cosine` kernel (float
    * arrays, fixed scale 1000): the composed form walked both arrays
    * three times through interpreted lambdas — minutes over millions
    * of candidate pairs. Parity with the Columnar form is pinned in
    * PlansSpec.
    */
  def quantizedCosine(a: Column, b: Column): Column =
    graft.plans.TextExprs.quantizedCosine(
      org.apache.spark.sql.SparkSession.active, a, b)

  /** The declarative quantized-cosine form (cross-checkable reference
    * for the native expression; any numeric array type).
    */
  def quantizedCosineColumnar(a: Column, b: Column, scale: Int = 1000): Column =
    quantizedDotColumnar(a, b, scale).cast("double") /
      sqrt((quantizedDotColumnar(a, a, scale) * quantizedDotColumnar(b, b, scale)).cast("double"))

  /** Exact per-query top-k re-rank of a candidate set
    * (query_id, item_id, query_vec, item_vec) by quantized cosine.
    */
  def rerankTopK(cand: DataFrame, k: Int): DataFrame =
    topKByScore(cand.withColumn("cos",
      round(quantizedCosine(col("query_vec"), col("item_vec")), 6)), "cos", k)

  /** Exact cosine top-k: broadcast the query set, score map-side,
    * per-query top-k via window rank.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int = 10): DataFrame = {
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    topKByScore(c.join(broadcast(q), col("item_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("item_vec"), col("query_vec")), 6)), "cos", k)
  }

  /** Per-query top-k of (query_id, item_id, `score`) rows by `score`
    * descending, ties to the smaller item_id: one window over a shuffle
    * on query_id. Returns (query_id, rank, item_id, `score`).
    */
  private[graft] def topKByScore(scored: DataFrame, score: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(score).desc, col("item_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), col(score))
  }

  /** The ANN candidates' tail: (query_id, item_id) pairs dedup as bare
    * ids, then the (broadcast) query and item vectors are re-attached.
    * Returns (query_id, query_vec, item_id, item_vec).
    */
  private def withVectors(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String): DataFrame =
    cand.select(col("query_id"), col("item_id"))
      .dropDuplicates("query_id", "item_id")
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("query_vec"))), Seq("query_id"))
      .join(corpus.select(col(idCol).as("item_id"), col(vecCol).as("item_vec")),
        Seq("item_id"))
      .select(col("query_id"), col("query_vec"), col("item_id"), col("item_vec"))

  /** k-means centroids fit on a bounded sample — the shared front end
    * of IVF and SemDeDup. Fitting on a cap: clustering quality needs
    * only a sketch of the density, and a full-corpus fit is a
    * non-starter at 10^12 rows. limit() (not count()+sample()) bounds
    * the fit WITHOUT a full pre-scan — LocalLimit short-circuits after
    * maxFitRows rows, so the fit job touches a handful of input
    * partitions instead of paying one extra full-corpus pass just to
    * derive a fraction. The first-partitions bias is the documented
    * trade; a corpus with pathological partition-order clustering
    * should pre-shuffle or pass its own maxFitRows.
    *
    * Random init, not k-means||: the parallel init runs ~2 extra
    * distributed passes to seed centroids whose quality neither
    * consumer needs (IVF probes nProbe > 1 cells and re-ranks exactly;
    * SemDeDup verifies every candidate with an exact cosine).
    *
    * NOTE: distributed float sums make the fit non-bit-stable across
    * re-runs — the returned centers Array is the frozen, driver-side
    * truth. Everything derived from it (assignments) IS deterministic.
    */
  def fitCentroids(corpus: DataFrame, vecCol: String, k: Int,
                   seed: Long = 7L,
                   maxFitRows: Int = 100000): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    val toVec = udf((a: Seq[Float]) =>
      Vectors.dense(a.map(_.toDouble).toArray))
    val feat = corpus.select(col(vecCol)).limit(maxFitRows)
      .withColumn("features", toVec(col(vecCol)))
    new KMeans().setK(k).setSeed(seed)
      .setInitMode("random").setMaxIter(10).fit(feat)
      .clusterCenters.map(_.toArray)
  }

  private def dist2(a: Seq[Float], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { val d = a(i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Nearest-centroid assignment over a frozen centers array (small
    * closure broadcast; one map, no shuffle).
    */
  def nearestCellUdf(centers: Array[Array[Double]]) =
    udf((a: Seq[Float]) => centers.indices.minBy(i => dist2(a, centers(i))))

  /** IVF (inverted-file) ANN candidate generation: k-means centroids
    * partition the corpus into cells; queries probe the `nProbe`
    * nearest cells. The 100 TB scale path: the model is fit on a
    * BOUNDED SAMPLE (`maxFitRows`, never the full corpus), assignment
    * is a map over the corpus with a small centroid broadcast, queries
    * touch nProbe/nCentroids of the data, and nothing ever
    * cross-joins. Returns (query_id, query_vec, item_id, item_vec).
    */
  def ivfCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, nCentroids: Int = 16, nProbe: Int = 4,
                    seed: Long = 7L, maxFitRows: Int = 100000): DataFrame = {
    val centers = fitCentroids(corpus, vecCol, nCentroids, seed, maxFitRows)
    val assignUdf = nearestCellUdf(centers)
    val probeUdf = udf((a: Seq[Float]) =>
      centers.indices.sortBy(i => dist2(a, centers(i))).take(nProbe))

    // candidate generation carries ONLY (cell, ids)
    val cCells = corpus.select(col(idCol).as("item_id"),
      assignUdf(col(vecCol)).as("cell"))
    val qCells = queries.select(col(idCol).as("query_id"),
      explode(probeUdf(col(vecCol))).as("cell"))
    withVectors(cCells.join(broadcast(qCells), Seq("cell"))
      .filter(col("item_id") =!= col("query_id")), corpus, queries, idCol, vecCol)
  }

  /** IVF ANN top-k: candidates + exact quantized-cosine re-rank. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, nCentroids: Int = 16,
              nProbe: Int = 4, seed: Long = 7L): DataFrame =
    rerankTopK(
      ivfCandidates(corpus, queries, idCol, vecCol, nCentroids, nProbe, seed), k)

  /** Random-hyperplane signatures: bit j of table t = sign(dot(v, h_j))
    * where the hyperplane h_j is a deterministic pseudo-random +-1
    * vector derived from (j, slot index, seedBase + t) hashes — no
    * stored planes, reproducible everywhere. All `nTables` signatures
    * come from ONE vector pass of the native `hyperplane_sigs` kernel,
    * each bit-identical to `hyperplaneSigColumnar` at its seed (pinned
    * in PlansSpec); the xxhash chain's (slot, bit) prefix is hoisted
    * out of the table loop. This is the LSH signature hot path: one
    * signature per table would re-walk the vector nTables times.
    */
  def hyperplaneSigs(vec: Column, nBits: Int, nTables: Int, seedBase: Int): Column =
    graft.plans.TextExprs.hyperplaneSigs(
      org.apache.spark.sql.SparkSession.active, vec, nBits, nTables, seedBase)

  /** The declarative signature form (kept as the cross-checkable
    * reference for the native expression's bit-exact semantics).
    */
  def hyperplaneSigColumnar(vec: Column, nBits: Int = 16, seed: Int = 7): Column =
    (0 until nBits).map { j =>
      // +-1 pattern per slot: parity of xxhash64(slot, j, seed)
      val s = aggregate(
        zip_with(vec,
          transform(sequence(lit(0), size(vec) - 1),
            i => xxhash64(i, lit(j), lit(seed)).bitwiseAND(lit(1L)) * 2 - 1),
          (x, sgn) => x.cast("double") * sgn.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      when(s > 0, shiftleft(lit(1), j)).otherwise(lit(0))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** LSH-bucketed ANN candidates: pairs sharing a signature in >=1 of
    * `nTables` independent hash tables. Fully deterministic (pure hash
    * planes), so repeated invocations in one session agree — the
    * property the Verify dump/oracle pair relies on.
    */
  def lshCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, nBits: Int = 12,
                    nTables: Int = 4): DataFrame = {
    // signature rows carry ONLY (id, table, sig): the vectors never
    // ride through the bucket join
    def sigs(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
        posexplode(hyperplaneSigs(col(vecCol), nBits, nTables, seedBase = 7)))
        .toDF(id, "table", "sig")
    val cs = sigs(corpus, "item_id")
    val qs = sigs(queries, "query_id")
    withVectors(cs.join(qs,
        cs("table") === qs("table") && cs("sig") === qs("sig") &&
        col("item_id") =!= col("query_id")), corpus, queries, idCol, vecCol)
  }

  /** LSH ANN top-k: candidates + exact quantized-cosine re-rank on the
    * candidate set only.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, nBits: Int = 12,
              nTables: Int = 4): DataFrame =
    rerankTopK(lshCandidates(corpus, queries, idCol, vecCol, nBits, nTables), k)

  // ------------------------------------------------------------------
  // SemDeDup (Abbas et al., arXiv 2303.09540): semantic dedup by
  // embedding — k-means cells partition the corpus, exact
  // quantized-cosine duplicate detection runs WITHIN each cell only,
  // and a deterministic greedy keep-first rule picks one survivor per
  // duplicate relation. The in-cell restriction is the paper's own
  // recall trade: candidate work is sum(|cell|^2) instead of N^2, and
  // scaling = more cells (the paper runs 50 k cells on 600 M docs).
  // ------------------------------------------------------------------

  /** Cell assignment (id, cell): a bounded-sample k-means fit, then
    * one map over the corpus with the frozen centers in the closure.
    * The fit is eager and driver-side, so the RETURNED DataFrame is
    * deterministic under recompute — but two separate `semDedupCells`
    * calls may fit different centers (distributed float sums);
    * pipelines that also dump the assignment for audit must reuse ONE
    * returned relation.
    */
  def semDedupCells(corpus: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int = 16, seed: Long = 7L,
                    maxFitRows: Int = 100000): DataFrame = {
    val centers = fitCentroids(corpus, vecCol, nClusters, seed, maxFitRows)
    corpus.select(col(idCol).as("id"),
      nearestCellUdf(centers)(col(vecCol)).as("cell"))
  }

  /** Per-doc SemDeDup verdicts from a cell assignment:
    * (id, cell, capped, n_smaller_dups, keep). A doc is dropped
    * (keep=false) when some SMALLER id in its cell has quantized
    * cosine >= tau against it — the greedy keep-first rule, consistent
    * with `NearDup.dedupKeepFirst`. Candidate pairs explode from each
    * cell's id list (`NearDup.blockPairs`, the near-dup family's one
    * pair form) and carry only ids; vectors are re-attached
    * per-candidate (payload-light). Cells larger than `maxCell` are
    * excluded from pairing and their docs all kept — NOT silently:
    * the `capped` column marks them, so downstream can count/route the
    * un-deduped residue. At scale, cap hits mean nClusters is too
    * small for the corpus.
    */
  def semDedupVerdicts(cells: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, tau: Double,
                       maxCell: Int = 1000000): DataFrame = {
    // persisted: cell sizes, the pair derivation, and the final
    // verdict join all read the assignment — without a cache the
    // assignment map (and its upstream scan) executes once per branch
    val c = graft.GraftContext.persistTracked(cells.select(col("id"), col("cell")))
    // one row per cell — broadcastable by construction
    val sizes = c.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .select(col("cell"), (col("n") > maxCell).as("capped"))
    val flagged = c.join(broadcast(sizes), Seq("cell"))
    val eligible = flagged.filter(!col("capped"))
    val dups = NearDup.withPayloads(
        NearDup.blockPairs(eligible.select(col("cell"), col("id").as("doc")), Seq("cell")),
        corpus.select(col(idCol).as("doc"), col(vecCol).as("vec")), "vec")
      .filter(quantizedCosine(col("vec_a"), col("vec_b")) >= tau)
      .select(col("doc_b"))
    val dupCounts = dups.groupBy(col("doc_b").as("id"))
      .agg(count(lit(1)).as("n_smaller_dups"))
    flagged.join(dupCounts, Seq("id"), "left")
      .withColumn("n_smaller_dups",
        coalesce(col("n_smaller_dups"), lit(0L)))
      .withColumn("keep", col("n_smaller_dups") === 0L)
      .select(col("id"), col("cell"), col("capped"),
        col("n_smaller_dups"), col("keep"))
  }
}
