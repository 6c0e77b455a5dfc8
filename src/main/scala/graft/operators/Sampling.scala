package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation. `df.sample()` is
  * seed-deterministic only for a FIXED partitioning — repartition the
  * input (or rescale the cluster) and the kept set changes, which
  * breaks reproducible corpus releases and exactly-once reprocessing.
  * Hash-threshold sampling decides per ROW from a content/id hash:
  * the kept set is a pure function of the data, identical on any
  * partitioning, any cluster size, any engine (the DuckDB oracle
  * reproduces it from the same md5 bytes). Map-only — zero shuffle at
  * any scale — and composable: the same (key, salt) always lands on
  * the same side of the cut, so a 10% sample is a subset of the 20%
  * sample (nested samples for scaling-law curves).
  */
object Sampling {

  /** Lowercase-hex threshold for `rate` over the first 32 bits of md5.
    * An 8-hex-digit string comparison IS a uint32 comparison (equal
    * length, lowercase hex ordering = numeric ordering) — portable to
    * any engine with md5 + substring, no integer parsing needed.
    * rate >= 1 returns "g", which sorts after every hex digit, so the
    * predicate keeps all rows.
    */
  /** round(rate·2^32) capped at 2^32 — the ONE definition of the
    * quantized rate both the threshold predicate and any
    * observability column (Mixing's rate_q) derive from, so they
    * cannot drift apart.
    */
  def rateQuantized(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    math.min(math.round(rate * 4294967296.0), 4294967296L)
  }

  def rateThreshold(rate: Double): String = {
    val q = rateQuantized(rate)
    // a rate rounding up to 2^32 would format as NINE hex digits, and
    // the longer string compares LESS than every 8-digit prefix
    // (lexicographic "1..." < "f...") — i.e. it would keep nothing.
    // q = 2^32 means keep-all.
    if (q >= 4294967296L) "g" else f"$q%08x"
  }

  /** Keep-predicate: first 8 md5 hex chars of "key:salt" below the
    * rate threshold. The salt decorrelates independent samples over
    * the same keys (different salt ⇒ independent draw).
    */
  def hashKeep(key: Column, rate: Double, salt: String): Column =
    substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 8) <
      lit(rateThreshold(rate))

  /** uint32 of the first 8 md5 hex digits of `c`, as a long: the
    * cross-engine hash (any engine recomputes it from md5 alone) of
    * Dsir's feature buckets and Gumbel noise, Mixing's shards and
    * Classifier's synthetic weights.
    */
  def md5Uint32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Deterministic `rate`-fraction sample keyed on `keyCol`. */
  def sample(df: DataFrame, keyCol: String, rate: Double,
             salt: String = "graft"): DataFrame =
    df.filter(hashKeep(col(keyCol), rate, salt))

  /** EXACT-COUNT stratified sample: exactly `n` rows per stratum (all
    * rows when the stratum is smaller) — the eval-set carving shape
    * ("exactly 10k docs per language"), where a rate-based sample only
    * hits the target in expectation. Deterministic and
    * partitioning-independent: rows are ranked per stratum by the full
    * md5 of (key:salt) with the key itself as the tiebreak (a total
    * order — identical keys produce identical rows to a downstream
    * consumer anyway), and the smallest-`n` win. Unlike the rate
    * samplers this one SHUFFLES (one window exchange on the stratum
    * key) — the price of an exact count; nested-sample composability
    * holds per stratum (the n-row sample is a prefix of the m-row
    * sample for n < m, same salt).
    */
  def sampleExactPerStratum(df: DataFrame, keyCol: String, strataCol: String,
                            n: Int, salt: String = "graft"): DataFrame = {
    require(n > 0, "n must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(md5(concat(col(keyCol).cast("string"), lit(":" + salt))),
        col(keyCol))
    val rk = freshColumn(df, "_rk")
    df.withColumn(rk, row_number().over(w))
      .filter(col(rk) <= n)
      .drop(rk)
  }

  /** Stratified deterministic sample: per-stratum rates (e.g. language
    * rebalancing — downsample the head language, keep the tail), with
    * `defaultRate` for unlisted strata. One map-only predicate; the
    * rate table is compiled into the plan, never joined.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String = "graft"): DataFrame = {
    val keep = rates.toSeq.sortBy(_._1).foldLeft(
      hashKeep(col(keyCol), defaultRate, salt)) { case (acc, (stratum, rate)) =>
      when(col(strataCol) === stratum, hashKeep(col(keyCol), rate, salt))
        .otherwise(acc)
    }
    df.filter(keep)
  }
}
