package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The composite evidence filter — the reference's 17 predicate
  * families with 31 parameters (reference: civicutils/filtering.py:91-472)
  * re-expressed as ONE conjunctive Column predicate over the flat
  * evidence dimension.
  *
  * The reference walks the nested dict level by level with manual
  * early-outs (its hand-rolled predicate pushdown, filtering.py:145-459);
  * on the flat schema the evaluation order is immaterial (pure AND
  * conjunction, filtering.py:94-95) and Catalyst pushes the predicate
  * into the scan. What MUST be preserved is the counting semantics:
  * `min_variants` and `min_evidence_items` are measured BEFORE the
  * row-level predicates apply (filtering.py:156,226), and
  * `n_evidence_items` is recomputed after (filtering.py:459-470).
  *
  * NULL semantics preserved exactly:
  *  - `*_in` with a non-empty list never passes a "NULL" field
  *    (filtering.py:26);
  *  - `*_not_in` CAN match and remove "NULL" (filtering.py:55-57);
  *  - rating "NULL" (null column) fails any non-zero cutoff
  *    (filtering.py:422-425).
  *
  * The reference's `output_empty` debug mode (keep empty shells) has no
  * meaning on a flat relation and is intentionally not carried over.
  */
final case class FilterConfig(
    geneIdIn: Seq[String] = Nil, geneIdNotIn: Seq[String] = Nil,
    minVariants: Int = 0,
    varIdIn: Seq[String] = Nil, varIdNotIn: Seq[String] = Nil,
    varNameIn: Seq[String] = Nil, varNameNotIn: Seq[String] = Nil,
    minCivicScore: Double = 0.0,
    varTypeIn: Seq[String] = Nil, varTypeNotIn: Seq[String] = Nil,
    minEvidenceItems: Int = 0,
    evidenceTypeIn: Seq[String] = Nil, evidenceTypeNotIn: Seq[String] = Nil,
    diseaseIn: Seq[String] = Nil, diseaseNotIn: Seq[String] = Nil,
    drugNameIn: Seq[String] = Nil, drugNameNotIn: Seq[String] = Nil,
    evidenceDirIn: Seq[String] = Nil, evidenceDirNotIn: Seq[String] = Nil,
    evidenceClinsigIn: Seq[String] = Nil, evidenceClinsigNotIn: Seq[String] = Nil,
    evidenceLevelIn: Seq[String] = Nil, evidenceLevelNotIn: Seq[String] = Nil,
    evidenceStatusIn: Seq[String] = Nil, evidenceStatusNotIn: Seq[String] = Nil,
    sourceStatusIn: Seq[String] = Nil, sourceStatusNotIn: Seq[String] = Nil,
    varOriginIn: Seq[String] = Nil, varOriginNotIn: Seq[String] = Nil,
    sourceTypeIn: Seq[String] = Nil, sourceTypeNotIn: Seq[String] = Nil,
    minEvidenceRating: Double = 0.0)

object EvidenceFilter {

  /** filter_in, exact mode (filtering.py:8-37): empty list passes;
    * "NULL" field fails any non-empty list.
    */
  def inExact(c: Column, list: Seq[String]): Column =
    if (list.isEmpty) lit(true)
    else c =!= "NULL" && c.isin(list.map(_.toUpperCase): _*)

  /** filter_in, partial mode: any list term contained in the field. */
  def inPartial(c: Column, list: Seq[String]): Column =
    if (list.isEmpty) lit(true)
    else c =!= "NULL" &&
      list.map(t => c.contains(lit(t.toUpperCase))).reduce(_ || _)

  /** filter_not_in, exact mode (filtering.py:40-66): empty list passes;
    * "NULL" can be matched and removed.
    */
  def notInExact(c: Column, list: Seq[String]): Column =
    if (list.isEmpty) lit(true)
    else !c.isin(list.map(_.toUpperCase): _*)

  /** filter_not_in, partial mode. */
  def notInPartial(c: Column, list: Seq[String]): Column =
    if (list.isEmpty) lit(true)
    else !list.map(t => c.contains(lit(t.toUpperCase))).reduce(_ || _)

  /** Build the full conjunction over a flat evidence DataFrame and
    * recompute `n_evidence_items` post-filter. Pre-filter counts
    * (`min_variants` per gene, filtering.py:156; stored
    * `n_evidence_items` per mp, filtering.py:226) are evaluated against
    * the INPUT relation, before any row predicates — matching the
    * reference exactly.
    */
  def apply(dim: DataFrame, cfg: FilterConfig): DataFrame = {
    import org.apache.spark.sql.functions.{filter => arrFilter}

    // pre-filter per-gene variant count (A4): computed on the input
    val geneWin = Window.partitionBy(col("gene_key"))
    val withCounts =
      if (cfg.minVariants != 0)
        dim.withColumn("_n_variants",
          size(collect_set(col("var_id")).over(geneWin)))
      else dim.withColumn("_n_variants", lit(Int.MaxValue))

    // gene level (filtering.py:145-159)
    val genePred =
      inExact(col("gene_key"), cfg.geneIdIn) &&
      notInExact(col("gene_key"), cfg.geneIdNotIn) &&
      (if (cfg.minVariants != 0) col("_n_variants") >= cfg.minVariants else lit(true))

    // variant level (filtering.py:168-207)
    val varTypesIn =
      if (cfg.varTypeIn.isEmpty) lit(true)
      else size(arrFilter(col("var_types"),
        t => inPartial(t, cfg.varTypeIn))) > 0
    val varTypesNotIn =
      if (cfg.varTypeNotIn.isEmpty) lit(true)
      else size(arrFilter(col("var_types"),
        t => !notInPartial(t, cfg.varTypeNotIn))) === 0
    val varPred =
      inExact(col("var_id"), cfg.varIdIn) &&
      notInExact(col("var_id"), cfg.varIdNotIn) &&
      inPartial(col("var_name"), cfg.varNameIn) &&
      notInPartial(col("var_name"), cfg.varNameNotIn) &&
      varTypesIn && varTypesNotIn

    // molecular-profile level (filtering.py:221-235): cutoffs use the
    // PRE-filter stored values
    val mpPred =
      (if (cfg.minEvidenceItems != 0)
         col("n_evidence_items") >= cfg.minEvidenceItems else lit(true)) &&
      (if (cfg.minCivicScore != 0.0)
         col("civic_score") >= cfg.minCivicScore else lit(true))

    // evidence level (filtering.py:249-342)
    val drugPred = // drug filters only apply to PREDICTIVE (filtering.py:295-306)
      when(col("evidence_type") =!= "PREDICTIVE", lit(true))
        .otherwise(
          inPartial(col("drug"), cfg.drugNameIn) &&
          notInPartial(col("drug"), cfg.drugNameNotIn))
    val evPred =
      inExact(col("evidence_type"), cfg.evidenceTypeIn) &&
      notInExact(col("evidence_type"), cfg.evidenceTypeNotIn) &&
      inPartial(col("disease"), cfg.diseaseIn) &&
      notInPartial(col("disease"), cfg.diseaseNotIn) &&
      drugPred &&
      inExact(col("direction"), cfg.evidenceDirIn) &&
      notInExact(col("direction"), cfg.evidenceDirNotIn) &&
      inExact(col("significance"), cfg.evidenceClinsigIn) &&
      notInExact(col("significance"), cfg.evidenceClinsigNotIn) &&
      inExact(col("level"), cfg.evidenceLevelIn) &&
      notInExact(col("level"), cfg.evidenceLevelNotIn)

    // item level (filtering.py:394-430)
    val ratingPred =
      if (cfg.minEvidenceRating == 0.0) lit(true)
      else col("rating").isNotNull && col("rating") >= cfg.minEvidenceRating
    val itemPred =
      inExact(col("evidence_status"), cfg.evidenceStatusIn) &&
      notInExact(col("evidence_status"), cfg.evidenceStatusNotIn) &&
      inPartial(col("source_status"), cfg.sourceStatusIn) &&
      notInPartial(col("source_status"), cfg.sourceStatusNotIn) &&
      inPartial(col("variant_origin"), cfg.varOriginIn) &&
      notInPartial(col("variant_origin"), cfg.varOriginNotIn) &&
      inExact(col("source_type"), cfg.sourceTypeIn) &&
      notInExact(col("source_type"), cfg.sourceTypeNotIn) &&
      ratingPred

    val filtered = withCounts
      .filter(genePred && varPred && mpPred && evPred && itemPred)
      .drop("_n_variants")

    // recompute n_evidence_items post-filter (filtering.py:459-470)
    val mpWin = Window.partitionBy(col("gene_key"), col("var_id"), col("mp_id"))
    filtered.withColumn("n_evidence_items",
      count(lit(1)).over(mpWin).cast("int"))
  }
}
