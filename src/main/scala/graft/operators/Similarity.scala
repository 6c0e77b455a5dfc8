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

  /** Integer-quantized dot product: round(x*scale) per slot, exact
    * 64-bit integer accumulation. At the default scale this is the
    * native one-pass QuantizedDotExpression (float arrays) — the
    * composed aggregate/zip_with form walks both arrays through
    * interpreted lambdas, which dominated the brute-force scoring
    * pass (q10); non-default scales keep the declarative form.
    */
  def quantizedDot(a: Column, b: Column, scale: Int = 1000): Column =
    if (scale == 1000)
      graft.plans.TextExprs.quantizedDot(
        org.apache.spark.sql.SparkSession.active, a, b)
    else quantizedDotColumnar(a, b, scale)

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
    * Computed by the native one-pass QuantizedCosineExpression (float
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
    * One shuffle on query_id for the window rank.
    */
  def rerankTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("item_id"))
    cand.withColumn("cos", round(quantizedCosine(col("query_vec"), col("item_vec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), col("cos"))
  }

  /** Exact cosine top-k: broadcast the query set, score map-side,
    * per-query top-k via window rank.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int = 10): DataFrame = {
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = c.join(broadcast(q), col("item_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("item_vec"), col("query_vec")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("item_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), col("cos"))
  }

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

    // candidate generation and dedup carry ONLY (cell, ids): the
    // vectors never ride through the dropDuplicates exchange — they are
    // re-attached per-candidate afterwards (same payload-light pattern
    // as NearDup.embeddingNearDups)
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val cCells = c.select(col("item_id"), assignUdf(col("item_vec")).as("cell"))
    val qCells = q.select(col("query_id"),
      explode(probeUdf(col("query_vec"))).as("cell"))
    val cand = cCells.join(broadcast(qCells), Seq("cell"))
      .filter(col("item_id") =!= col("query_id"))
      .dropDuplicates("query_id", "item_id")
      .select(col("query_id"), col("item_id"))
    cand.join(broadcast(q), Seq("query_id"))
      .join(c, Seq("item_id"))
      .select(col("query_id"), col("query_vec"), col("item_id"), col("item_vec"))
  }

  /** IVF ANN top-k: candidates + exact quantized-cosine re-rank. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, nCentroids: Int = 16,
              nProbe: Int = 4, seed: Long = 7L): DataFrame =
    rerankTopK(
      ivfCandidates(corpus, queries, idCol, vecCol, nCentroids, nProbe, seed), k)

  /** Random-hyperplane signature: bit j = sign(dot(v, h_j)) where the
    * hyperplane h_j is a deterministic pseudo-random +-1 vector derived
    * from (j, slot index) hashes — no stored planes, reproducible
    * everywhere. Computed by the native one-pass HyperplaneSigExpression
    * (bit-identical to the composed-Column form, which re-walked the
    * vector once per bit per table).
    */
  def hyperplaneSig(vec: Column, nBits: Int = 16, seed: Int = 7): Column =
    graft.plans.TextExprs.hyperplaneSig(
      org.apache.spark.sql.SparkSession.active, vec, nBits, seed)

  /** All `nTables` signatures (seeds seedBase..seedBase+nTables-1) in
    * ONE vector pass, bit-identical to nTables `hyperplaneSig` calls —
    * the xxhash chain's (slot, bit) prefix is hoisted out of the table
    * loop (pinned in PlansSpec). This is the LSH signature hot path:
    * per-table expressions re-walk the vector nTables times.
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
    // signature rows and the candidate dedup carry ONLY (id, table,
    // sig): the vectors never ride through the bucket join or the
    // dropDuplicates exchange — they are re-attached per-candidate
    // afterwards (same payload-light pattern as embeddingNearDups)
    def sigs(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
        posexplode(hyperplaneSigs(col(vecCol), nBits, nTables, seedBase = 7)))
        .toDF(id, "table", "sig")
    val cs = sigs(corpus, "item_id")
    val qs = sigs(queries, "query_id")
    val cand = cs.join(qs,
        cs("table") === qs("table") && cs("sig") === qs("sig") &&
        col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"))
      .dropDuplicates("query_id", "item_id")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
    cand.join(broadcast(q), Seq("query_id"))
      .join(c, Seq("item_id"))
      .select(col("query_id"), col("query_vec"), col("item_id"), col("item_vec"))
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
    * with `NearDup.dedupKeepFirst`. Candidate pairs carry only
    * (cell, id) through the cell self-join; vectors are re-attached
    * per-candidate (payload-light). Cells larger than `maxCell` are
    * excluded from pairing and their docs all kept — NOT silently:
    * the `capped` column marks them, so downstream can count/route the
    * un-deduped residue. At scale, cap hits mean nClusters is too
    * small for the corpus.
    */
  def semDedupVerdicts(cells: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, tau: Double,
                       maxCell: Int = 1000000): DataFrame = {
    val a = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // persisted: cell sizes, the pair join's two sides, and the final
    // verdict join all read the assignment — without a cache the
    // assignment map (and its upstream scan) executes once per branch
    val c = graft.GraftContext.persistTracked(cells.select(col("id"), col("cell")))
    // one row per cell — broadcastable by construction
    val sizes = c.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .select(col("cell"), (col("n") > maxCell).as("capped"))
    val flagged = c.join(broadcast(sizes), Seq("cell"))
    val eligible = flagged.filter(!col("capped"))
    val cand = eligible.select(col("cell"), col("id").as("lhs"))
      .join(eligible.select(col("cell"), col("id").as("rhs")), Seq("cell"))
      .filter(col("lhs") < col("rhs"))
      .select(col("lhs"), col("rhs"))
    val dups = cand
      .join(a.select(col("id").as("lhs"), col("vec").as("va")), Seq("lhs"))
      .join(a.select(col("id").as("rhs"), col("vec").as("vb")), Seq("rhs"))
      .filter(quantizedCosine(col("va"), col("vb")) >= tau)
      .select(col("rhs"))
    val dupCounts = dups.groupBy(col("rhs").as("id"))
      .agg(count(lit(1)).as("n_smaller_dups"))
    flagged.join(dupCounts, Seq("id"), "left")
      .withColumn("n_smaller_dups",
        coalesce(col("n_smaller_dups"), lit(0L)))
      .withColumn("keep", col("n_smaller_dups") === 0L)
      .select(col("id"), col("cell"), col("capped"),
        col("n_smaller_dups"), col("keep"))
  }

  /** One-call SemDeDup: fit + assign + verdicts. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               tau: Double, nClusters: Int = 16, seed: Long = 7L,
               maxFitRows: Int = 100000, maxCell: Int = 1000000): DataFrame =
    semDedupVerdicts(
      semDedupCells(corpus, idCol, vecCol, nClusters, seed, maxFitRows),
      corpus, idCol, vecCol, tau, maxCell)
}
