package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.Nomenclature

/** Dimension-size regime selection, and the consensus drug-support
  * count table both regimes derive from (reference semantics:
  * match.py:1420-1493).
  *
  * Regime split (mirrors `VersionedDim`): the evidence dimension is
  * knowledge-base-sized by default, so the broadcast kernel path
  * (`DimIndex` -> `MatchKernel.annotateTurn`) is the documented
  * default. When the dimension outgrows the broadcast threshold
  * (a 100x dimension would OOM the driver collect), `MatchShuffle`
  * matches tiers with an equi-join and joins the gene's counts from
  * `supportTable` to each turn — nothing is collected. Output is
  * row-for-row identical to the broadcast kernel's (DimShuffleSpec
  * and MatchShuffleSpec pin parity on over-threshold dimensions).
  */
object DimShuffle {

  /** The dimension row count above which every regime selector
    * (`annotateAuto`, `OutputAssembly.writeMatchTableAuto`,
    * `Reports.drugTargetsAuto`) leaves the broadcast path.
    */
  val MaxBroadcastRows: Long = 500000

  /** Shared regime probe (used by all three selectors, so they can
    * never disagree about which regime a dimension is in): a
    * `limit(n+1).count()` early-out — never scans past the threshold.
    */
  def overBroadcastThreshold(dim: DataFrame, maxRows: Long): Boolean =
    dim.limit((maxRows + 1).min(Int.MaxValue).toInt).count() > maxRows

  /** Two-regime annotation split, decided by ONE probe:
    *
    *  1. dimension fits the driver (`maxBroadcastRows`): broadcast
    *     index and kernel with broadcast consensus vectors — map-only
    *     on the fact stream, the 10^12-turn default;
    *  2. otherwise the `MatchShuffle` equi-join path — tier matching
    *     AND consensus as distributed joins, nothing collected.
    *
    * PRECONDITION (regime 2): `turns` must be unique per (conv_id,
    * turn_idx), see `MatchShuffle.annotate`; regime 1 annotates every
    * physical row independently.
    */
  def annotateAuto(spark: org.apache.spark.sql.SparkSession,
                   turns: Dataset[graft.model.Turn], dim: DataFrame,
                   ctCfg: CtConfig,
                   selectCt: Either[String, Seq[String]] = Left("highest"),
                   maxBroadcastRows: Long = MaxBroadcastRows): Dataset[Annotation] =
    if (overBroadcastThreshold(dim, maxBroadcastRows))
      MatchShuffle.annotate(spark, turns, dim, ctCfg, selectCt)
    else {
      val idx = DimIndex.build(spark, dim, ctCfg, selectCt)
      MatchKernel.annotate(turns, spark.sparkContext.broadcast(idx))
    }

  /** Distributed (gene_key, var_id, drug, ct, pos, neg, unk_b, unk_d)
    * count table — the same aggregation `DimIndex.build` runs, minus
    * the `.collect()`.
    */
  def supportTable(dim: DataFrame, ctCfg: CtConfig,
                   selectCt: Either[String, Seq[String]] = Left("highest")): DataFrame = {
    val ctSel = CtClassifier.select(CtClassifier.annotate(dim, ctCfg), selectCt)
    val clsUdf = udf((d: String, s: String) => Nomenclature.drugSupportClass(d, s))
    ctSel
      .filter(col("evidence_type") === "PREDICTIVE")
      .withColumn("_cls", clsUdf(col("direction"), col("significance")))
      .groupBy(col("gene_key"), col("var_id"), col("drug"), col("ct"))
      .agg(
        count(when(col("_cls") === "POSITIVE", 1)).as("pos"),
        count(when(col("_cls") === "NEGATIVE", 1)).as("neg"),
        count(when(col("_cls") === "UNKNOWN_BLANK", 1)).as("unk_b"),
        count(when(col("_cls") === "UNKNOWN_DNS", 1)).as("unk_d"))
  }
}
