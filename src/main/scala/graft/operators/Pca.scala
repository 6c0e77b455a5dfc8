package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic PCA over embedding columns — the dimensionality
  * reduction step in front of semantic dedup / ANN (SemDeDup's
  * pipeline runs clustering on PCA-reduced embeddings; an IVF index
  * over 64→8 dims probes an order of magnitude cheaper).
  *
  * Scale shape: the fit is ONE partial-aggregated pass computing exact
  * integer moments — count, per-slot sums, and the upper-triangle
  * product matrix of HALF_UP-quantized slots (the q10 convention,
  * round(x·1000)). Integer addition is associative and commutative, so
  * the fit is BIT-IDENTICAL on any partitioning — the property float
  * Gram accumulation (order-dependent) cannot give, and the reason a
  * re-run on a re-bucketed 100 TB corpus reproduces the same rotation.
  * The driver receives only the (1 + d + d(d+1)/2)-long moment vector
  * (d=64 ⇒ ~17 KB), never a row; the eigensolve on the d×d covariance
  * is driver math (cyclic Jacobi, fixed sweep count ⇒ deterministic).
  *
  * Projection is map-only: a native one-pass expression carrying the
  * quantized rotation in the task binary. Output components are exact
  * integers y_c = Σ_i (q_i − m̄_i)·w_ci with m̄ the per-slot rounded
  * quantized mean and w the rotation rows quantized at `wScale` —
  * reproducible bit-for-bit by an external SQL engine from the dumped
  * (comp, idx, w_q, mbar) model relation. Centering on the ROUNDED
  * mean biases each slot by <½ quantum (≤5e-4 here) — a constant
  * offset of the whole cloud, irrelevant for distances — and keeps
  * every term row-count-free: |y| ≤ d·2·scale·wScale ≈ 2⁴⁷ at d=64,
  * so projection never overflows regardless of corpus size. The FIT's
  * product moments bound the corpus instead: rows ≤ 2⁶³/(scale·max|x|)²
  * ≈ 9×10¹² at unit-normalized embeddings — beyond that, fit on a
  * hash-threshold sample (Sampling.sampleByHash), which PCA's own
  * estimation error dwarfs.
  */
object Pca {

  /** Fitted model. `rotQ(c)(i)` = component c's loading on slot i,
    * quantized at wScale; `mbar(i)` = rounded quantized mean;
    * `eigvals` = eigenvalues of the scatter matrix C = n·P − S·Sᵀ
    * (descending) — that is n²·scale²·Var_raw, so divide by n²·scale²
    * for raw-variance units (component order/rotation are unaffected
    * by the scaling).
    */
  case class PcaModel(dim: Int, k: Int, scale: Int, wScale: Long,
      nRows: Long, mbar: Array[Long], rotQ: Array[Array[Long]],
      eigvals: Array[Double]) {
    /** The model as a relation: one row per (component, slot) with the
      * slot's mean — the cross-engine contract a SQL oracle replays
      * the projection from.
      */
    def toDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      (for (c <- 0 until k; i <- 0 until dim)
        yield (c, i, rotQ(c)(i), mbar(i)))
        .toDF("comp", "idx", "w_q", "mbar")
    }
  }

  /** Exact integer moments of the quantized embedding cloud: one
    * aggregation, buffer = [n, max|q|, S_0..S_{d-1}, P_upper-triangle].
    * The max-|q| slot lets the driver PROVE the product moments could
    * not have overflowed (a silent wrap would yield a garbage
    * covariance and a plausible-looking but wrong rotation).
    */
  private class MomentAgg(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Array[Long], Array[Long], Array[Long]] {
    private val len = 2 + dim + dim * (dim + 1) / 2
    override def zero: Array[Long] = new Array[Long](len)
    override def reduce(b: Array[Long], q: Array[Long]): Array[Long] = {
      require(q.length == dim, s"expected dim=$dim, got ${q.length}")
      b(0) += 1L
      var i = 0
      var p = 2 + dim
      while (i < dim) {
        // abs(Long.MinValue) is negative: saturate the witness to
        // MaxValue so the overflow require REJECTS such data instead
        // of letting the wrapped moments masquerade as proven-exact
        val a =
          if (q(i) == Long.MinValue) Long.MaxValue else math.abs(q(i))
        if (a > b(1)) b(1) = a
        b(2 + i) += q(i)
        var j = i
        while (j < dim) {
          b(p) += q(i) * q(j)
          p += 1
          j += 1
        }
        i += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      a(0) += b(0)
      if (b(1) > a(1)) a(1) = b(1)
      var i = 2
      while (i < len) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Fit a k-component model. One distributed pass + driver eigensolve.
    *
    * NOTE: `PcaProjectExpression` (the projection consumer) requires
    * `vecCol` to be ARRAY<FLOAT>; fit accepts any numeric array (it
    * quantizes via a double cast), but a model fit on array<double>
    * cannot be projected on the same column — feed both fit and
    * projection array<float> embeddings.
    */
  def fit(df: DataFrame, vecCol: String, dim: Int, k: Int,
          scale: Int = 1000, sweeps: Int = 24): PcaModel = {
    require(k >= 1 && k <= dim, s"k must be in [1, $dim], got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // quantize with the q10 HALF_UP convention so the oracle's
    // round(x*1000) reproduces q exactly
    val qvec = transform(col(vecCol), x =>
      round(x.cast("double") * scale).cast("long"))
    val m = df.select(qvec.as[Array[Long]])
      .select(new MomentAgg(dim).toColumn).head()
    val n = m(0)
    require(n >= 2, s"PCA fit needs at least 2 rows, got $n")
    // overflow proof for the EXACT pass: |P_ij| ≤ n·max|q|² must fit a
    // Long, or the integer moments silently wrapped (a garbage
    // covariance with a plausible-looking rotation). At
    // unit-normalized embeddings and scale 1000 this admits ~9×10¹²
    // rows; beyond that, fit on a hash-threshold sample (scaladoc).
    val maxQ = math.max(m(1), 1L)
    require(BigInt(n) * BigInt(maxQ) * BigInt(maxQ) <= BigInt(Long.MaxValue),
      s"PCA moment pass would overflow: n=$n max|q|=$maxQ — " +
        "fit on a Sampling.sample sample instead")
    val sums = java.util.Arrays.copyOfRange(m, 2, 2 + dim)
    // covariance (×n²): C_ij = n·P_ij − S_i·S_j, in DOUBLE — n·P would
    // overflow Long ~10⁶ rows earlier than the exact pass itself. The
    // inputs are exact order-free integers, so the IEEE products are
    // still bit-identical on any partitioning; rounding beyond 2⁵³
    // costs eigensolve accuracy (like any float PCA), never
    // determinism.
    val cov = Array.ofDim[Double](dim, dim)
    var p = 2 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = n.toDouble * m(p).toDouble -
          sums(i).toDouble * sums(j).toDouble
        cov(i)(j) = c
        cov(j)(i) = c
        p += 1
        j += 1
      }
      i += 1
    }
    val (eigvals, eigvecs) = jacobiEigen(cov, sweeps)
    // order components by eigenvalue desc, ties by original index;
    // canonical sign: the largest-|loading| slot (first on ties) is
    // positive — two fits of the same data agree exactly
    val order = (0 until dim).sortBy(c => (-eigvals(c), c)).take(k)
    val rotQ = order.map { c =>
      val v = Array.tabulate(dim)(r => eigvecs(r)(c))
      var best = 0
      var r = 1
      while (r < dim) {
        if (math.abs(v(r)) > math.abs(v(best))) best = r
        r += 1
      }
      val s = if (v(best) < 0) -1.0 else 1.0
      v.map(x => qround(x * s * WScale))
    }.toArray
    val mbar = sums.map(s => qround(s.toDouble / n))
    PcaModel(dim, k, scale, WScale, n, mbar, rotQ,
      order.map(eigvals).toArray)
  }

  /** Rotation-loading quantization scale — the single source for both
    * the rotQ quantizer and the model's advertised wScale.
    */
  val WScale: Long = 1000000L

  /** HALF_UP tie rounding (the repo-wide quantization convention). */
  @inline private def qround(v: Double): Long =
    if (v >= 0) java.lang.Math.round(v) else -java.lang.Math.round(-v)

  /** Cyclic Jacobi eigensolve of a symmetric matrix: fixed sweep count
    * and fixed (p,q) order ⇒ fully deterministic. Returns
    * (eigenvalues, eigenvector COLUMNS). d=64 × 24 sweeps ≈ 3 M flops
    * — driver noise.
    */
  private def jacobiEigen(a: Array[Array[Double]],
      sweeps: Int): (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < sweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Map-only projection: array<float> → array<long> of k exact
    * integer components (one pass, codegen — k·d multiplies per row
    * with zero allocation beyond the output).
    */
  def project(spark: SparkSession, vec: Column, model: PcaModel): Column =
    graft.plans.TextExprs.pcaProject(spark, vec, model.mbar,
      model.rotQ.flatten, model.k, model.scale)
}
