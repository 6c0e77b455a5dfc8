package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.Nomenclature

/** Shuffle-regime consensus drug support — the non-broadcast
  * counterpart of the count vectors `DimIndex.build` collects to the
  * driver (reference semantics: match.py:1420-1493).
  *
  * Regime split (mirrors `VersionedDim`): the evidence dimension is
  * knowledge-base-sized by default, so the broadcast kernel path
  * (`DimIndex` -> `MatchKernel.annotateTurn`) is the documented
  * default. When the dimension outgrows the broadcast threshold
  * (a 100x dimension would OOM the driver collect), THIS path
  * re-derives `ds_tier_*` with shuffle joins instead:
  *
  *  1. the per-(gene, var, drug, ct) count table is a distributed
  *     aggregation of the dimension (never collected);
  *  2. annotations explode to (turn, tier, var_id) rows — bounded by
  *     matched variants per turn, NOT dimension size;
  *  3. one shuffle join on (gene_key, var_id) attaches count vectors,
  *     one partial-aggregated sum per (turn, tier, drug, ct) adds them
  *     across matched variants (the reference's vote is additive), and
  *     a final per-(turn, tier) sorted collect rebuilds the canonical
  *     (drug, ct-rank) support list.
  *
  * Output is row-for-row identical to the broadcast kernel's
  * (DimShuffleSpec pins parity on an over-threshold dimension).
  * The tier-MATCH index itself stays broadcast by design — match keys
  * are a per-gene knowledge base; it is the consensus vectors and
  * output renders whose footprint scales with (variants x drugs x ct)
  * and breaks first.
  */
object DimShuffle {

  /** Shared regime probe (used by `annotateAuto` AND `OutputAssembly
    * .writeMatchTableAuto`, so the two selectors can never disagree
    * about which regime a dimension is in): a `limit(n+1).count()`
    * early-out — never scans past the threshold.
    */
  def overBroadcastThreshold(dim: DataFrame, maxRows: Long): Boolean =
    dim.limit((maxRows + 1).min(Int.MaxValue).toInt).count() > maxRows

  /** THREE-regime annotation split, mirroring `VersionedDim`:
    *
    *  1. dimension fits the driver (`maxBroadcastRows`): broadcast
    *     kernel with broadcast consensus vectors — map-only on the
    *     fact stream, the 10^12-turn default;
    *  2. consensus vectors too big but the match index still
    *     collectable (`maxIndexRows`): index built WITHOUT consensus
    *     (`withConsensus = false`), `ds_tier_*` re-derived by the
    *     shuffle consensus;
    *  3. even the exploded match-string index exceeds the driver
    *     (`maxIndexRows`, a civic-scale×100 dimension): the full
    *     `MatchShuffle` equi-join path — tier matching AND consensus
    *     as distributed joins, nothing collected anywhere.
    *
    * Each threshold probe is a `limit(n+1).count()` early-out, not a
    * full scan; regime 1 pays only the first probe, regimes 2 and 3
    * pay both.
    */
  def annotateAuto(spark: org.apache.spark.sql.SparkSession,
                   turns: Dataset[graft.model.Turn], dim: DataFrame,
                   ctCfg: CtConfig,
                   selectCt: Either[String, Seq[String]] = Left("highest"),
                   maxBroadcastRows: Long = 500000,
                   maxIndexRows: Long = 4000000): Dataset[Annotation] = {
    val over = overBroadcastThreshold(dim, maxBroadcastRows)
    if (!over) {
      val idx = DimIndex.build(spark, dim, ctCfg, selectCt)
      MatchKernel.annotate(turns, spark.sparkContext.broadcast(idx))
    } else if (overBroadcastThreshold(dim, maxIndexRows)) {
      MatchShuffle.annotate(spark, turns, dim, ctCfg, selectCt)
    } else {
      // the over-threshold branch reads the dimension twice (the
      // variant-level index build and the support-count aggregation);
      // ONE tracked materialization feeds both, so the upstream
      // dimension pipeline (source scan, evidence filter) runs once
      val dimP = graft.GraftContext.persistTracked(dim)
      val idx = DimIndex.build(spark, dimP, ctCfg, selectCt, withConsensus = false)
      consensusAnnotate(
        MatchKernel.annotate(turns, spark.sparkContext.broadcast(idx)),
        supportTable(dimP, ctCfg, selectCt))
    }
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

  private val Sentinels = MatchKernel.TierSentinels

  /** Recompute every annotation's `ds_tier_*` lists from the
    * distributed `supportTable` (annotations typically produced by a
    * kernel whose index was built with `withConsensus = false`).
    */
  def consensusAnnotate(ann: Dataset[Annotation],
                        support: DataFrame): Dataset[Annotation] = {
    val spark = ann.sparkSession
    import spark.implicits._

    // `ann` appears TWICE in the final plan (the exploded aggregation
    // side and the joinWith probe side) and Spark has no cross-branch
    // subtree reuse: without a materialization the annotation kernel —
    // and its whole upstream source scan — would execute at least
    // twice per action. One tracked persist makes the kernel run once.
    val annP = graft.GraftContext.persistTracked(ann)

    // (turn key, tier, var_id) rows; sentinels carry no support
    val exploded = annP.flatMap { a =>
      Seq(("tier_1", a.tier_1), ("tier_1b", a.tier_1b),
          ("tier_2", a.tier_2), ("tier_3", a.tier_3)).flatMap {
        case (tier, vars) =>
          vars.filterNot(v => Sentinels.contains(v.toUpperCase))
            .map(v => (a.conv_id, a.turn_idx, a.gene_key, tier, v))
      }
    }.toDF("conv_id", "turn_idx", "gene_key", "tier", "var_id")

    val rankUdf = udf((ct: String) => graft.model.Cts.rank(ct))
    val consUdf = udf((p: Long, n: Long, ub: Long, ud: Long) =>
      Nomenclature.consensus(p, n, ub, ud))
    // additive vote across matched variants, then the canonical
    // (drug, ct-rank, ct) ordering via sort_array over struct fields.
    // ONE turn-keyed aggregation builds every tier's list (per-tier
    // slices carved expression-side from the collected structs): the
    // per-(turn, tier) intermediate groupBy was a full extra exchange
    // of the support-list relation, and hash partitioning on
    // (conv, turn, tier) cannot be reused by the (conv, turn) key
    // anyway. Map entries for absent tiers are empty lists — the
    // consumers' getOrElse(Nil) image is identical.
    val tierNames = array(lit("tier_1"), lit("tier_1b"),
      lit("tier_2"), lit("tier_3"))
    val lists = exploded
      .join(support, Seq("gene_key", "var_id"))
      .groupBy(col("conv_id"), col("turn_idx"), col("tier"),
        col("drug"), col("ct"))
      .agg(sum(col("pos")).as("pos"), sum(col("neg")).as("neg"),
        sum(col("unk_b")).as("unk_b"), sum(col("unk_d")).as("unk_d"))
      .filter(col("pos") + col("neg") + col("unk_b") + col("unk_d") > 0)
      .withColumn("s", concat(col("drug"), lit(":"), upper(col("ct")),
        lit(":"), consUdf(col("pos"), col("neg"), col("unk_b"), col("unk_d"))))
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(collect_list(struct(col("tier"), col("drug"),
        rankUdf(col("ct")).as("rank"), col("ct"), col("s"))).as("_all"))
      .select(col("conv_id"), col("turn_idx"),
        map_from_arrays(tierNames,
          transform(tierNames, tn =>
            transform(
              sort_array(filter(col("_all"), x => x.getField("tier") === tn)),
              x => x.getField("s")))).as("ds_by_tier"))
      .as[(String, Int, Map[String, Seq[String]])]

    // re-attach: inner data are small per turn; the join is on the
    // turn key, co-partitioned with the upstream aggregation
    annP.joinWith(lists,
        annP("conv_id") === lists("conv_id") && annP("turn_idx") === lists("turn_idx"),
        "left_outer")
      .map { case (a, m) =>
        val ds = Option(m).map(_._3).getOrElse(Map.empty[String, Seq[String]])
        a.copy(
          ds_tier_1 = ds.getOrElse("tier_1", Nil),
          ds_tier_1b = ds.getOrElse("tier_1b", Nil),
          ds_tier_2 = ds.getOrElse("tier_2", Nil),
          ds_tier_3 =
            if (a.tier_3.exists(v => Sentinels.contains(v.toUpperCase))) Nil
            else ds.getOrElse("tier_3", Nil))
      }
  }
}
