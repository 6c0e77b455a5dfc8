package graft

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.EvidenceRow
import graft.operators._

/** Driver-collected broadcast forms of the output table, the
  * drug-targets report and the coarse consensus: the dimension side is
  * collected into Scala maps, broadcast, and looked up per annotation
  * inside `mapPartitions`. The engine builds each report as one
  * relational plan (`OutputAssembly.writeMatchTable`,
  * `Reports.drugTargets`, `Reports.reprocessAcross`); these forms are
  * the independent reference DimShuffleSpec checks those plans against
  * row for row.
  */
private[graft] object BroadcastReports {

  /** Build the broadcastable per-variant render table from the
    * (filtered, ct-annotated+selected) dimension rows.
    */
  def buildRenders(spark: SparkSession, dim: DataFrame, ctCfg: CtConfig,
                   selectCt: Either[String, Seq[String]] = Left("highest"),
                   writeCt: Boolean = false,
                   writeComplete: Boolean = false): Broadcast[Map[(String, String), OutputAssembly.VarRender]] = {
    import spark.implicits._
    val ctSel = CtClassifier.select(CtClassifier.annotate(dim, ctCfg), selectCt)
    val collected = ctSel
      .select(struct(dim.columns.toIndexedSeq.map(col): _*).as("_1"), col("ct").as("_2"))
      .as[(EvidenceRow, String)].collect()
    spark.sparkContext.broadcast(
      OutputAssembly.buildRendersLocal(collected.toIndexedSeq, writeCt, writeComplete))
  }

  /** One output row per (annotated turn, non-empty tier), stitched
    * map-side from the broadcast render map.
    */
  def writeMatchTable(ann: Dataset[Annotation],
                      bc: Broadcast[Map[(String, String), OutputAssembly.VarRender]],
                      writeSupport: Boolean = true): DataFrame = {
    import ann.sparkSession.implicits._
    ann.mapPartitions { it =>
      val renders = bc.value
      it.flatMap { a =>
        val tiers = Seq(
          ("tier_1", a.tier_1, a.ds_tier_1), ("tier_1b", a.tier_1b, a.ds_tier_1b),
          ("tier_2", a.tier_2, a.ds_tier_2), ("tier_3", a.tier_3, a.ds_tier_3))
        val rowsOut = tiers.flatMap { case (tier, matched, ds) =>
          if (matched.isEmpty) None
          else {
            val scores = mutable.ArrayBuffer.empty[String]
            val types = mutable.ArrayBuffer.empty[String]
            val evs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
            for (varId <- matched if !MatchKernel.TierSentinels.contains(varId.toUpperCase);
                 r <- renders.get((a.gene_key, varId))) {
              scores ++= r.scores
              types += r.typesString
              for (et <- OutputAssembly.sortedEvidenceTypes; s <- r.evStrings.getOrElse(et, Nil))
                evs.getOrElseUpdate(et, mutable.ArrayBuffer.empty) += s
            }
            def dot(xs: Seq[String]) = if (xs.isEmpty) "." else xs.mkString(";")
            Some((a.conv_id, a.turn_idx, a.gene_key, a.data_type,
              tier.stripPrefix("tier_"),
              dot(scores.toSeq), dot(types.toSeq),
              if (writeSupport) dot(ds.map(_.toUpperCase)) else ".",
              dot(evs.getOrElse("PREDICTIVE", Nil).toSeq),
              dot(evs.getOrElse("DIAGNOSTIC", Nil).toSeq),
              dot(evs.getOrElse("PROGNOSTIC", Nil).toSeq),
              dot(evs.getOrElse("PREDISPOSING", Nil).toSeq)))
          }
        }
        // tier_4 rows: all annotation columns empty (write_match:624-630)
        val t4 =
          if (a.tier_4)
            Seq((a.conv_id, a.turn_idx, a.gene_key, a.data_type, "4",
              ".", ".", ".", ".", ".", ".", "."))
          else Nil
        rowsOut ++ t4
      }
    }.toDF("conv_id", "turn_idx", "gene_key", "data_type", "tier",
      "civic_scores", "civic_var_types", "civic_drug_support",
      "civic_predictive", "civic_diagnostic", "civic_prognostic",
      "civic_predisposing")
  }

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

  /** Variant-name lookup helper for drugTargets. */
  def buildNameMap(spark: SparkSession, dim: DataFrame): Broadcast[Map[(String, String), String]] = {
    val names = Reports.nameTable(dim).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2))
      .toMap
    spark.sparkContext.broadcast(names)
  }
}
