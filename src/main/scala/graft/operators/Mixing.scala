package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus mixing to per-source token targets — the Dolma/Pile recipe
  * shape: a training mix is specified as "this many tokens from each
  * source", and the engine must downsample each source to its target
  * deterministically. Two phases:
  *
  *   1. one small aggregation — per-source token totals. The result is
  *      source-cardinality-bounded (a production corpus has dozens to
  *      hundreds of sources, never more), so collecting it to the
  *      driver is a metadata read, not a data path — the same bounded
  *      regime as the q48 vocabulary report.
  *   2. a map-only hash-threshold filter ([[Sampling]]): rate_s =
  *      min(1, target_s / tokens_s), decided per row from
  *      md5(key:salt). Zero shuffle on the corpus itself; the kept set
  *      is a pure function of the data — identical on any
  *      partitioning, any cluster size, any engine.
  *
  * Rates are data-dependent but cross-engine exact: both factors are
  * integers, the quotient is one IEEE double division, and the
  * comparison threshold is the integer-quantized
  * [[Sampling.rateThreshold]] — so a DuckDB oracle recomputing the
  * totals reproduces the kept set bit-for-bit. Sources without a
  * target are dropped (rate 0): the mix declaration is the complete
  * recipe, not a patch over a default.
  *
  * Targets are met in expectation (hash sampling is per-doc binomial);
  * an exact-token cut would need a per-source sort — the wrong trade
  * at corpus scale, where ±0.1% on a source's token share is noise.
  */
object Mixing {

  /** Per-source token totals (sum over `tokens(textCol)` counts). */
  def sourceTokenTotals(df: DataFrame, sourceCol: String,
                        textCol: String): DataFrame =
    df.groupBy(col(sourceCol))
      .agg(sum(size(TextOps.tokens(col(textCol)))).as("total_tokens"))

  /** The computed mix: (source -> (keep rate, quantized rate)). The
    * quantized rate is `round(rate * 2^32)` capped at 2^32 — the exact
    * integer both engines threshold on, exposed for observability and
    * oracle pinning.
    */
  def mixingRates(df: DataFrame, sourceCol: String, textCol: String,
                  targets: Map[String, Long]): Map[String, (Double, Long)] = {
    require(targets.values.forall(_ >= 0), "token targets must be >= 0")
    // bounded collect: one row per source (see scaladoc)
    val totals = sourceTokenTotals(df, sourceCol, textCol)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    targets.flatMap { case (source, target) =>
      totals.get(source).map { total =>
        // one IEEE division of exact integers — bit-identical in any
        // engine; min-clamp BEFORE quantization so over-asked sources
        // (target > available) keep everything. rate_q shares
        // Sampling's quantizer so the advertised threshold can never
        // drift from the keep predicate's.
        val rate = math.min(1.0, target.toDouble / total.toDouble)
        source -> (rate, Sampling.rateQuantized(rate))
      }
    }
  }

  /** Deterministic mix: keep a hash-threshold sample of each source
    * sized to its token target; sources without a target are dropped.
    */
  def mixToTokenBudget(df: DataFrame, keyCol: String, sourceCol: String,
                       textCol: String, targets: Map[String, Long],
                       salt: String = "graft"): DataFrame = {
    val rates = mixingRates(df, sourceCol, textCol, targets)
      .map { case (s, (rate, _)) => s -> rate }
    Sampling.stratifiedSample(df, keyCol, sourceCol, rates,
      defaultRate = 0.0, salt = salt)
  }

  /** Temperature-weighted mixing rates — the multilingual-pretraining
    * sampling recipe (XLM-R / mT5 alpha-sampling): source s receives
    * an expected-token share ∝ totalₛ^α, so with α<1 small sources are
    * up-weighted relative to their natural share and head sources are
    * tempered. `budget` scales the whole mix:
    * rateₛ = min(1, budget·wₛ / (W·totalₛ)) with wₛ = totalₛ^α,
    * W = Σ wₛ. Clamped sources (tiny enough that their tempered share
    * exceeds their size) keep everything and the mix under-delivers
    * by the clamped remainder — same no-renormalize contract as
    * [[mixingRates]].
    *
    * α is fixed at ½: wₛ = sqrt(totalₛ) is the one power with a
    * cross-engine-exact path (IEEE sqrt is correctly rounded;
    * Math.pow is not), and ½ is the published default. The weight is
    * floor-quantized at 2²⁰ so W is an exact integer sum
    * (order-free); the rate is then one IEEE divide of two
    * exact-integer IEEE products, reproducible bit-for-bit by a SQL
    * oracle with the same parenthesization. Arbitrary α = supply a
    * precomputed weight table and use [[Sampling.stratifiedSample]]
    * directly.
    */
  def temperatureRates(df: DataFrame, sourceCol: String, textCol: String,
                       budget: Long,
                       wScale: Long = 1L << 20): Map[String, (Double, Long)] = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val totals = sourceTokenTotals(df, sourceCol, textCol)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wq = totals.map { case (s, n) =>
      s -> math.floor(math.sqrt(n.toDouble) * wScale).toLong
    }
    val wSum = wq.values.sum
    totals.map { case (s, n) =>
      val rate =
        if (n == 0L || wSum == 0L) 0.0
        else math.min(1.0, (budget.toDouble * wq(s).toDouble) /
          (wSum.toDouble * n.toDouble))
      s -> (rate, Sampling.rateQuantized(rate))
    }
  }

  /** Deterministic temperature mix: hash-threshold sample each source
    * at its α=½ tempered rate (map-only on the corpus; one bounded
    * totals aggregation).
    */
  def mixByTemperature(df: DataFrame, keyCol: String, sourceCol: String,
                       textCol: String, budget: Long,
                       salt: String = "graft"): DataFrame = {
    val rates = temperatureRates(df, sourceCol, textCol, budget)
      .map { case (s, (rate, _)) => s -> rate }
    Sampling.stratifiedSample(df, keyCol, sourceCol, rates,
      defaultRate = 0.0, salt = salt)
  }

  /** Deterministic shard assignment for a training-data release
    * (the WebDataset/tar-shard shape): shard(key) = uint32(first 8
    * md5 hex of "key:salt") % nShards — a pure function of the data,
    * so shard membership is identical on any partitioning, cluster
    * size, or engine, and a re-run of the release produces
    * byte-identical shards. Map-only; hashing balances shards to
    * multinomial noise without a sort. Downstream writers partition
    * by the column (`.write.partitionBy(shardCol)`) — one shuffle-free
    * pass at any scale.
    */
  def assignShards(df: DataFrame, keyCol: String, nShards: Int,
                   salt: String = "graft",
                   shardCol: String = "shard"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    require(!df.columns.contains(shardCol),
      s"input already has a '$shardCol' column")
    df.withColumn(shardCol,
      (Sampling.md5Uint32(concat(col(keyCol).cast("string"), lit(":" + salt)))
        % nShards).cast("int"))
  }
}
