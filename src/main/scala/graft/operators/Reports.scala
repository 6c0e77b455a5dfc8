package graft.operators

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.EvidenceRow

/** Secondary reports: the drug-targets table (reference:
  * write_drug_targets, read_and_write.py:636-711 + the drug_target
  * accumulation in process_drug_support, match.py:1377-1437), per-line
  * best-annotation prioritization (W3, Query_CIViCutils.py:285-338),
  * and the re-grouped consensus across selected records
  * (reprocess_drug_support_across_selected_variants, match.py:1509-1655).
  */
object Reports {

  /** One PREDICTIVE evidence head entry for a variant, in dimension
    * order: the (ct, disease, drug) triples the reference walks when
    * accumulating drug targets (first-seen wins per (drug, gene)).
    */
  final case class PredEntry(drug: String, ct: String, disease: String,
                             evidence: String, entryIdx: Int)

  /** Per-variant PREDICTIVE entries from the ct-selected dimension. */
  def buildPredEntries(rows: Seq[(EvidenceRow, String)])
      : Map[(String, String), List[PredEntry]] = {
    rows.filter(_._1.evidence_type == "PREDICTIVE")
      .groupBy { case (r, _) => (r.gene_key, r.var_id) }
      .map { case (key, vrows) =>
        // ct order ct>gt>nct, then dim_order first-seen
        val ordered = vrows.sortBy { case (r, ct) =>
          (graft.model.Cts.rank(ct), r.dim_order) }
        val seen = mutable.LinkedHashMap.empty[(String, String, String), mutable.ArrayBuffer[String]]
        for ((r, ct) <- ordered)
          seen.getOrElseUpdate((ct, r.disease, r.drug), mutable.ArrayBuffer.empty) +=
            s"${r.direction}:${r.significance}(${r.level}(${r.source_type}_${r.source_id}))"
        key -> seen.zipWithIndex.map { case (((ct, disease, drug), evs), i) =>
          PredEntry(drug, ct, disease, evs.mkString(";"), i)
        }.toList
      }
  }

  /** Drug-targets report: for every drug with matched PREDICTIVE
    * evidence, the first (by deterministic processing order) matched
    * record per gene, plus the gene-frequency ranking
    * (A3: groupBy drug, countDistinct gene, orderBy desc).
    * Reference emission order within ties follows dict insertion; the
    * canonical tie-break here is drug name — documented deviation.
    */
  def drugTargets(ann: Dataset[Annotation],
                  bcPred: Broadcast[Map[(String, String), List[PredEntry]]],
                  bcNames: Broadcast[Map[(String, String), String]]): DataFrame = {
    import ann.sparkSession.implicits._
    val specials = Set("NON_SNV_MATCH_ONLY", "NON_CNV_MATCH_ONLY", "NON_EXPR_MATCH_ONLY")
    val exploded = ann.mapPartitions { it =>
      val pred = bcPred.value
      val names = bcNames.value
      it.flatMap { a =>
        val tiers = Seq("tier_1" -> a.tier_1, "tier_1b" -> a.tier_1b,
          "tier_2" -> a.tier_2, "tier_3" -> a.tier_3)
        for {
          ((tier, ids), tierIdx) <- tiers.zipWithIndex
          (varId, varIdx) <- ids.zipWithIndex
          if !specials.contains(varId.toUpperCase)
          e <- pred.getOrElse((a.gene_key, varId), Nil)
        } yield (e.drug, a.gene_key, names.getOrElse((a.gene_key, varId), varId),
          tier, "PREDICTIVE", e.ct, e.disease, e.evidence,
          a.conv_id, a.turn_idx, tierIdx, varIdx, e.entryIdx)
      }
    }.toDF("drug", "gene", "civic_variant", "tier", "evidence_type", "ct",
      "disease", "evidence", "conv_id", "turn_idx", "tier_idx", "var_idx", "entry_idx")

    // first-seen per (drug, gene) in deterministic processing order
    val w = Window.partitionBy(col("drug"), col("gene"))
      .orderBy(col("conv_id"), col("turn_idx"), col("tier_idx"),
        col("var_idx"), col("entry_idx"))
    val first = exploded.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")

    // drug frequency = number of distinct genes targeted
    val freq = first.groupBy(col("drug"))
      .agg(countDistinct(col("gene")).as("n_genes"))
    first.join(freq, Seq("drug"))
      .orderBy(col("n_genes").desc, col("drug"), col("gene"))
      .select("drug", "n_genes", "gene", "civic_variant", "tier",
        "evidence_type", "ct", "disease", "evidence", "conv_id", "turn_idx")
  }

  /** A2: consensus recomputed ACROSS a chosen set of annotation rows —
    * the coarser-grouping vote (match.py:1509-1655). Emits the long
    * form "DRUG:CT:RESULT:#pos|#neg|#unk|#dns" (the reference includes
    * counts only in this variant, match.py:1652).
    */
  def reprocessAcross(ann: Dataset[Annotation], bc: Broadcast[DimIndex]): Seq[String] = {
    import ann.sparkSession.implicits._
    val specials = Set("NON_SNV_MATCH_ONLY", "NON_CNV_MATCH_ONLY", "NON_EXPR_MATCH_ONLY")
    // one (drug:ct prefix, counts) tuple per (row, tier, matched var,
    // entry); final reduce per (drug, ct) key only — tiny shuffle
    val acc = ann.mapPartitions { it =>
      val idx = bc.value
      it.flatMap { a =>
        idx.genes.get(a.gene_key).toSeq.flatMap { gd =>
          val pos = gd.varIds.zipWithIndex.toMap
          for {
            ids <- Seq(a.tier_1, a.tier_1b, a.tier_2, a.tier_3)
            varId <- ids if !specials.contains(varId.toUpperCase)
            p <- pos.get(varId).toSeq
            j <- gd.varSupIdx(p).indices
          } yield {
            val c = gd.varSupCnt(p)
            (gd.drugCtPrefix(gd.varSupIdx(p)(j)),
              (c(4 * j), c(4 * j + 1), c(4 * j + 2), c(4 * j + 3)))
          }
        }
      }
    }.groupByKey(_._1)
      .mapValues(_._2)
      .reduceGroups((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
      .collect()
    acc.toSeq.sortBy(_._1)
      .map { case (prefix, (p, n, ub, ud)) =>
        prefix + graft.functions.Nomenclature.consensus(p, n, ub, ud) +
          s":$p|$n|$ub|$ud"
      }
  }

  /** SHUFFLE-regime dual of `reprocessAcross`: the coarser-grouping
    * consensus vote re-derived from `DimShuffle.supportTable` joins
    * instead of the broadcast index's per-variant count vectors — for
    * the regime where no broadcast index exists at all (the
    * `MatchShuffle` path). Output is the identical sorted list
    * (parity pinned in DimShuffleSpec); the collect is the final
    * (drug, ct)-vocabulary-bounded aggregate only, exactly like the
    * broadcast form's.
    */
  def reprocessAcrossDist(ann: Dataset[Annotation], support: DataFrame): Seq[String] = {
    explodeMatches(ann)
      .join(support, Seq("gene_key", "var_id"))
      .groupBy(col("drug"), col("ct"))
      .agg(sum(col("pos")).as("p"), sum(col("neg")).as("n"),
        sum(col("unk_b")).as("ub"), sum(col("unk_d")).as("ud"))
      .collect()
      .map { r =>
        val (p, n, ub, ud) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        val prefix = s"${r.getString(0)}:${r.getString(1).toUpperCase}:"
        prefix -> (prefix +
          graft.functions.Nomenclature.consensus(p, n, ub, ud) +
          s":$p|$n|$ub|$ud")
      }.toSeq.sortBy(_._1).map(_._2) // the broadcast form's prefix order
  }

  /** W3: per-line best-annotation prioritization for multi-annotation
    * inputs (Query_CIViCutils.py:285-338): highest tier first, then
    * most matched ids, then first-encountered annotation.
    */
  def prioritizePerLine(annotated: DataFrame): DataFrame = {
    val tierRank = when(col("highest_tier") === "tier_1", 0)
      .when(col("highest_tier") === "tier_1b", 1)
      .when(col("highest_tier") === "tier_2", 2)
      .when(col("highest_tier") === "tier_3", 3)
      .otherwise(4)
    val nMatches = size(col("tier_1")) + size(col("tier_1b")) +
      size(col("tier_2")) + size(col("tier_3"))
    val w = Window.partitionBy(col("conv_id"), col("turn_idx"))
      .orderBy(tierRank.asc, nMatches.desc, col("annot_idx").asc)
    annotated.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Variant-name lookup helper for drugTargets. */
  def buildNameMap(spark: SparkSession, dim: DataFrame): Broadcast[Map[(String, String), String]] = {
    val names = nameTable(dim).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2))
      .toMap
    spark.sparkContext.broadcast(names)
  }

  // -------------------------------------------------------------------
  // Shuffle regime (non-broadcast dimension) — the dual of the
  // broadcast maps above, mirroring DimShuffle / writeMatchTableAuto:
  // when the dimension outgrows the driver collect, the PREDICTIVE
  // entry and name lookups become distributed relations joined on
  // (gene_key, var_id). ONE definition of each aggregation feeds both
  // regimes (the broadcast maps are collected FROM these tables), so
  // broadcast-vs-shuffle parity cannot drift between two copies.
  // -------------------------------------------------------------------

  private def ctRankUdf = udf((ct: String) => graft.model.Cts.rank(ct))

  /** Distributed (gene_key, var_id) -> var_name (uppercased) table —
    * the collected form backs `buildNameMap`.
    */
  def nameTable(dim: DataFrame): DataFrame =
    dim.groupBy(col("gene_key"), col("var_id"))
      .agg(upper(first(col("var_name"))).as("civic_variant"))

  /** Distributed PREDICTIVE-entry table: one row per
    * (gene_key, var_id, ct, disease, drug) with the reference's
    * first-seen entry ordering (`entry_idx`) and the `;`-joined leaf
    * evidence strings in (ct-rank, dim_order) order — exactly the
    * per-variant lists `buildPredEntries` builds on the driver.
    *
    * Scale shape: every aggregation/window is keyed by the variant (or
    * the entry triple) — per-key cardinality is the per-variant
    * evidence count, never the dimension size, and nothing is
    * collected.
    */
  def predEntriesTable(dim: DataFrame, ctCfg: CtConfig,
                       selectCt: Either[String, Seq[String]] = Left("highest")): DataFrame = {
    val ctSel = CtClassifier.select(CtClassifier.annotate(dim, ctCfg), selectCt)
      .filter(col("evidence_type") === "PREDICTIVE")
      .withColumn("_rank", ctRankUdf(col("ct")))
      // null fields render as the literal "null", exactly like the
      // driver regime's string interpolation — a bare concat would
      // null-propagate and concat_ws would then silently DROP the
      // whole leaf, breaking broadcast-vs-shuffle report parity on
      // dimensions with absent fields (CSV reads empties as null)
      .withColumn("_ev", concat(
        coalesce(col("direction"), lit("null")), lit(":"),
        coalesce(col("significance"), lit("null")), lit("("),
        coalesce(col("level"), lit("null")), lit("("),
        coalesce(col("source_type"), lit("null")), lit("_"),
        coalesce(col("source_id"), lit("null")), lit("))")))
    // per (variant, ct, disease, drug): leaves ordered by dim_order
    // (ct-rank is constant within the triple); the triple's first-seen
    // position in the (rank, dim_order)-sorted walk is min(rank,
    // dim_order) — dim_order is unique per dimension row, so the
    // ordering is total
    val triples = ctSel
      .groupBy(col("gene_key"), col("var_id"), col("ct"),
        col("disease"), col("drug"))
      .agg(
        concat_ws(";", transform(
          sort_array(collect_list(struct(col("dim_order"), col("_ev")))),
          x => x.getField("_ev"))).as("evidence"),
        min(struct(col("_rank"), col("dim_order"))).as("_first"))
    val w = Window.partitionBy(col("gene_key"), col("var_id"))
      .orderBy(col("_first"))
    triples
      .withColumn("entry_idx", row_number().over(w) - 1)
      .select(col("gene_key"), col("var_id"), col("drug"), col("ct"),
        col("disease"), col("evidence"), col("entry_idx"))
  }

  /** Annotations exploded to one row per matched (tier, variant) with
    * the deterministic processing-order indexes — the shared first
    * stage of both drugTargets regimes.
    */
  private def explodeMatches(ann: Dataset[Annotation]): DataFrame = {
    import ann.sparkSession.implicits._
    val specials = MatchKernel.TierSentinels
    ann.flatMap { a =>
      val tiers = Seq("tier_1" -> a.tier_1, "tier_1b" -> a.tier_1b,
        "tier_2" -> a.tier_2, "tier_3" -> a.tier_3)
      for {
        ((tier, ids), tierIdx) <- tiers.zipWithIndex
        (varId, varIdx) <- ids.zipWithIndex
        if !specials.contains(varId.toUpperCase)
      } yield (a.gene_key, varId, tier, a.conv_id, a.turn_idx, tierIdx, varIdx)
    }.toDF("gene_key", "var_id", "tier", "conv_id", "turn_idx",
      "tier_idx", "var_idx")
  }

  /** First-seen-per-(drug, gene) + frequency ranking over the joined
    * entry rows — the shared second stage of both regimes.
    */
  private def assembleDrugTargets(entries: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("drug"), col("gene"))
      .orderBy(col("conv_id"), col("turn_idx"), col("tier_idx"),
        col("var_idx"), col("entry_idx"))
    val first = entries.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val freq = first.groupBy(col("drug"))
      .agg(countDistinct(col("gene")).as("n_genes"))
    first.join(freq, Seq("drug"))
      .orderBy(col("n_genes").desc, col("drug"), col("gene"))
      .select("drug", "n_genes", "gene", "civic_variant", "tier",
        "evidence_type", "ct", "disease", "evidence", "conv_id", "turn_idx")
  }

  /** SHUFFLE-regime drug-targets report: annotations explode to
    * matched-variant rows (bounded by matches per turn, not dimension
    * size) and the PREDICTIVE-entry/name lookups are equi-joins on
    * (gene_key, var_id) — no driver-collected map anywhere. Output is
    * row-for-row identical to the broadcast `drugTargets`
    * (ReportsShuffleSpec pins parity; the q64 oracle shares q24's).
    */
  def drugTargetsDist(ann: Dataset[Annotation], predTable: DataFrame,
                      names: DataFrame): DataFrame = {
    val joined = explodeMatches(ann)
      .join(predTable, Seq("gene_key", "var_id"))
      .join(names, Seq("gene_key", "var_id"), "left")
      .select(col("drug"), col("gene_key").as("gene"),
        coalesce(col("civic_variant"), col("var_id")).as("civic_variant"),
        col("tier"), lit("PREDICTIVE").as("evidence_type"), col("ct"),
        col("disease"), col("evidence"), col("conv_id"), col("turn_idx"),
        col("tier_idx"), col("var_idx"), col("entry_idx"))
    assembleDrugTargets(joined)
  }

  /** Regime-split drug-targets report, mirroring `DimShuffle
    * .annotateAuto` / `OutputAssembly.writeMatchTableAuto`: while the
    * dimension fits the driver the entry/name tables are collected and
    * broadcast; beyond it the report is assembled with shuffle joins.
    * The probe is the SHARED `DimShuffle.overBroadcastThreshold`, so
    * the three selectors can never disagree about a dimension's
    * regime.
    */
  def drugTargetsAuto(spark: SparkSession, ann: Dataset[Annotation],
                      dim: DataFrame, ctCfg: CtConfig,
                      selectCt: Either[String, Seq[String]] = Left("highest"),
                      maxBroadcastRows: Long = DimShuffle.MaxBroadcastRows): DataFrame = {
    val pred = predEntriesTable(dim, ctCfg, selectCt)
    if (!DimShuffle.overBroadcastThreshold(dim, maxBroadcastRows)) {
      val predMap = pred.collect()
        .map(r => ((r.getString(0), r.getString(1)),
          PredEntry(r.getString(2), r.getString(3), r.getString(4),
            r.getString(5), r.getInt(6))))
        .groupBy(_._1)
        .map { case (k, es) => k -> es.map(_._2).sortBy(_.entryIdx).toList }
      drugTargets(ann, spark.sparkContext.broadcast(predMap),
        buildNameMap(spark, dim))
    } else drugTargetsDist(ann, pred, nameTable(dim))
  }
}
