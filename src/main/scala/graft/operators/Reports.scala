package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Secondary reports: the drug-targets table (reference:
  * write_drug_targets, read_and_write.py:636-711 + the drug_target
  * accumulation in process_drug_support, match.py:1377-1437), per-line
  * best-annotation prioritization (W3, Query_CIViCutils.py:285-338),
  * and the re-grouped consensus across selected records
  * (reprocess_drug_support_across_selected_variants, match.py:1509-1655).
  *
  * Every report is one relational plan: the PREDICTIVE-entry, name and
  * support lookups are tables joined on (gene_key, var_id), and Spark
  * picks the join strategy (AQE broadcasts a small side). No lookup is
  * collected to the driver.
  */
object Reports {

  /** A2: consensus recomputed ACROSS a chosen set of annotation rows —
    * the coarser-grouping vote (match.py:1509-1655), derived from
    * `DimIndex.supportTable` joins. Emits the long form
    * "DRUG:CT:RESULT:#pos|#neg|#unk|#dns" (the reference includes
    * counts only in this variant, match.py:1652), sorted by the
    * "DRUG:CT:" prefix; the collect is the final (drug, ct)-vocabulary-
    * bounded aggregate only.
    */
  def reprocessAcross(ann: Dataset[Annotation], support: DataFrame): Seq[String] = {
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
      }.toSeq.sortBy(_._1).map(_._2)
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

  private def ctRankUdf = udf((ct: String) => graft.model.Cts.rank(ct))

  /** (gene_key, var_id) -> var_name (uppercased) table, projected
    * from `DimIndex.variantRecords`. */
  def nameTable(dim: DataFrame): DataFrame =
    DimIndex.variantRecords(dim).select(col("gene_key"), col("var_id"),
      upper(col("var_name")).as("civic_variant"))

  /** PREDICTIVE-entry table: one row per
    * (gene_key, var_id, ct, disease, drug) with the reference's
    * first-seen entry ordering (`entry_idx`: ct order ct>gt>nct, then
    * dim_order) and the `;`-joined leaf evidence strings in
    * (ct-rank, dim_order) order.
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
      // null fields render as the literal "null", as the reference's
      // string interpolation does — a bare concat would null-propagate
      // and concat_ws would then silently DROP the whole leaf on
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
    * the deterministic processing-order indexes — the first stage of
    * `drugTargets` and `reprocessAcross`.
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

  /** Drug-targets report: for every drug with matched PREDICTIVE
    * evidence, the first (by deterministic processing order) matched
    * record per gene, plus the gene-frequency ranking
    * (A3: groupBy drug, countDistinct gene, orderBy desc).
    * Annotations explode to matched-variant rows (bounded by matches
    * per turn, not dimension size) and the PREDICTIVE-entry/name
    * lookups are equi-joins on (gene_key, var_id).
    * Reference emission order within ties follows dict insertion; the
    * canonical tie-break here is drug name — documented deviation.
    */
  def drugTargets(ann: Dataset[Annotation], predTable: DataFrame,
                  names: DataFrame): DataFrame = {
    val entries = explodeMatches(ann)
      .join(predTable, Seq("gene_key", "var_id"))
      .join(names, Seq("gene_key", "var_id"), "left")
      .select(col("drug"), col("gene_key").as("gene"),
        coalesce(col("civic_variant"), col("var_id")).as("civic_variant"),
        col("tier"), lit("PREDICTIVE").as("evidence_type"), col("ct"),
        col("disease"), col("evidence"), col("conv_id"), col("turn_idx"),
        col("tier_idx"), col("var_idx"), col("entry_idx"))
    // first-seen per (drug, gene) in deterministic processing order
    val w = Window.partitionBy(col("drug"), col("gene"))
      .orderBy(col("conv_id"), col("turn_idx"), col("tier_idx"),
        col("var_idx"), col("entry_idx"))
    val first = entries.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    // drug frequency = number of distinct genes targeted
    val freq = first.groupBy(col("drug"))
      .agg(countDistinct(col("gene")).as("n_genes"))
    first.join(freq, Seq("drug"))
      .orderBy(col("n_genes").desc, col("drug"), col("gene"))
      .select("drug", "n_genes", "gene", "civic_variant", "tier",
        "evidence_type", "ct", "disease", "evidence", "conv_id", "turn_idx")
  }
}
