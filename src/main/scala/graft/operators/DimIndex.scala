package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Nomenclature

/** Precomputed, broadcastable match index over the (filtered,
  * ct-annotated) evidence dimension.
  *
  * The reference's matcher is an O(inputs x civic_variants x strings)
  * nested loop re-running `civic_match_strings` per input row
  * (reference: civicutils/match.py:590-638). Here the dimension side is
  * computed ONCE into an inverted index `match_string -> variant
  * positions` per gene and data type, then broadcast; per-turn matching
  * becomes O(keys) hash probes with zero shuffle — the design that
  * holds at 10^12 turns where the evidence dimension stays
  * knowledge-base-sized (broadcast-small) while the fact stream scales.
  *
  * Consensus drug-support count vectors are pre-aggregated per variant
  * into flat parallel arrays (`varSupIdx`/`varSupCnt` indexing into the
  * gene's `drugCtPrefix` table): the reference's majority vote
  * (match.py:1459-1493) counts leaf evidence items per (drug, ct),
  * which is additive across matched variants — so the per-turn vote is
  * a primitive-array sum, allocation-free on the hot path.
  */
final case class GeneDim(
    varIds: Array[String],
    varNames: Array[String],
    isGeneral: Array[Boolean],
    snvIndex: Map[String, Array[Int]],
    cnvIndex: Map[String, Array[Int]],
    exprIndex: Map[String, Array[Int]],
    exonCnvPositions: Array[Int],
    snvFallback: Array[Int],
    cnvFallback: Array[Int],
    exprFallback: Array[Int],
    /** "DRUG:CT:" prefixes, sorted by (drug, ct rank) — canonical
      * consensus output order. */
    drugCtPrefix: Array[String],
    /** per variant position: indices into drugCtPrefix. */
    varSupIdx: Array[Array[Int]],
    /** per variant position: 4 packed counts (pos,neg,unkB,unkD) per
      * index, flattened. */
    varSupCnt: Array[Array[Long]])

final case class DimIndex(genes: Map[String, GeneDim]) {
  def nGenes: Int = genes.size
}

/** The dimension side of both annotation regimes: every relation the
  * broadcast `build` collects is defined here once, and one function,
  * `geneDim`, turns a gene's rows of them into its `GeneDim`, on the
  * driver for `build` and on the executors for `MatchShuffle`.
  * `Reports` reads the same relations distributed.
  */
object DimIndex {

  /** Per-variant derived index entries: the dimension side of the
    * match-string index, which `geneDim` files under the variant's
    * position. `nameUpper` must already be uppercased.
    */
  private final case class VariantIndexEntries(
      snvStrings: Seq[String],
      exprStrings: Seq[String],
      isExonCnv: Boolean,
      isGeneral: Boolean,
      isCnvRecord: Boolean,
      isExprRecord: Boolean)

  private def variantIndexEntries(nameUpper: String, hgvs: Seq[String]): VariantIndexEntries = {
    // SNV strings: full pipeline (match.py:313-367); CNV/EXPR match on
    // the record name only (match.py:336); EXPR exon records also
    // match their expression type (match.py:720-728)
    val snv = Nomenclature.civicMatchStrings(nameUpper, hgvs, "SNV").distinct
    val (isExonExpr, exprType) = Nomenclature.exprIsExonString(nameUpper)
    val expr = nameUpper +:
      (if (isExonExpr && exprType.nonEmpty) Seq(exprType) else Nil)
    VariantIndexEntries(snv, expr,
      isExonCnv = Nomenclature.cnvIsExonString(nameUpper),
      isGeneral = Nomenclature.checkGeneralVariant(nameUpper),
      isCnvRecord = Nomenclature.isCnvRecordName(nameUpper),
      isExprRecord = Nomenclature.isExprRecordName(nameUpper))
  }

  /** Variant-level records (gene_key, var_id, var_name, hgvs, pos):
    * the first var_name and hgvs of each variant and its min
    * dim_order. `pos` is unique per variant (dim_order is unique per
    * dimension row) and sorts in scan order. `build` collects it,
    * `MatchShuffle` groups it per gene and `Reports.nameTable`
    * projects it.
    */
  def variantRecords(dim: DataFrame): DataFrame =
    dim.groupBy(col("gene_key"), col("var_id"))
      .agg(first(col("var_name")).as("var_name"),
        first(col("hgvs")).as("hgvs"),
        min(col("dim_order")).as("pos"))

  /** Consensus drug-support counts (gene_key, var_id, drug, ct, pos,
    * neg, unk_b, unk_d): PREDICTIVE evidence only, ct-selected
    * (reference: match.py:1420-1493). `geneDim` folds a gene's rows
    * into its per-variant count vectors; `Reports.reprocessAcross`
    * joins it.
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

  /** One gene's `GeneDim` from its `variantRecords` rows and its
    * `supportTable` rows. Fields are read by name, so collected rows
    * and the structs of a per-gene `collect_list` serve alike, in any
    * order.
    */
  def geneDim(variants: Seq[Row], support: Seq[Row]): GeneDim = {
    val ordered = variants.sortBy(_.getAs[Long]("pos")).toArray
    val n = ordered.length
    val varIds = new Array[String](n)
    val varNames = new Array[String](n)
    val isGeneral = new Array[Boolean](n)
    val snvIdx = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val cnvIdx = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val exprIdx = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val exonCnv = mutable.ArrayBuffer.empty[Int]
    val snvFb = mutable.ArrayBuffer.empty[Int]
    val cnvFb = mutable.ArrayBuffer.empty[Int]
    val exprFb = mutable.ArrayBuffer.empty[Int]

    // var_id -> (drug, ct) -> counts (pos, neg, unk_b, unk_d)
    val supByVar: Map[String, Seq[((String, String), Array[Long])]] =
      support.groupBy(_.getAs[String]("var_id")).map { case (v, rs) =>
        v -> rs.map(r => (r.getAs[String]("drug"), r.getAs[String]("ct")) ->
          Array(r.getAs[Long]("pos"), r.getAs[Long]("neg"),
            r.getAs[Long]("unk_b"), r.getAs[Long]("unk_d")))
      }

    // gene-level (drug, ct) vocabulary in canonical order
    val geneDrugCts = mutable.SortedSet.empty[(String, Int, String)](
      Ordering.Tuple3(Ordering.String, Ordering.Int, Ordering.String))
    for (r <- ordered; ((drug, ct), _) <- supByVar.getOrElse(r.getAs[String]("var_id"), Nil))
      geneDrugCts += ((drug, graft.model.Cts.rank(ct), ct))
    val drugCtList = geneDrugCts.toArray
    val drugCtIndex = drugCtList.zipWithIndex
      .map { case ((d, _, c), i) => (d, c) -> i }.toMap
    val drugCtPrefix = drugCtList.map { case (d, _, c) => s"$d:${c.toUpperCase}:" }
    val varSupIdx = new Array[Array[Int]](n)
    val varSupCnt = new Array[Array[Long]](n)

    for ((r, p) <- ordered.zipWithIndex) {
      val varId = r.getAs[String]("var_id")
      val name = r.getAs[String]("var_name").toUpperCase
      varIds(p) = varId
      varNames(p) = name

      val entries = supByVar.getOrElse(varId, Nil).toArray
        .map { case (dc, cnt) => (drugCtIndex(dc), cnt) }.sortBy(_._1)
      varSupIdx(p) = entries.map(_._1)
      varSupCnt(p) = entries.flatMap(_._2)

      val e = variantIndexEntries(name, r.getSeq[String](r.fieldIndex("hgvs")))
      isGeneral(p) = e.isGeneral
      for (s <- e.snvStrings)
        snvIdx.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += p
      cnvIdx.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += p
      for (s <- e.exprStrings)
        exprIdx.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += p
      // exon-CNV records: positional match for input DELETION
      // (match.py:627-638)
      if (e.isExonCnv) exonCnv += p
      // record-kind classification for tier-3 fallbacks
      // (match.py:219-310)
      if (!e.isCnvRecord && !e.isExprRecord) snvFb += p
      if (e.isCnvRecord) cnvFb += p
      if (e.isExprRecord) exprFb += p
    }
    GeneDim(varIds, varNames, isGeneral,
      snvIdx.view.mapValues(_.toArray).toMap,
      cnvIdx.view.mapValues(_.toArray).toMap,
      exprIdx.view.mapValues(_.toArray).toMap,
      exonCnv.toArray, snvFb.toArray, cnvFb.toArray, exprFb.toArray,
      drugCtPrefix, varSupIdx, varSupCnt)
  }

  /** Build the index from a flat evidence DataFrame (EvidenceRow
    * schema). `dim` should already be evidence-filtered
    * (EvidenceFilter); ct annotation/selection happens here because the
    * support vectors depend on it.
    */
  def build(spark: SparkSession, dim: DataFrame, ctCfg: CtConfig,
            selectCt: Either[String, Seq[String]] = Left("highest")): DimIndex = {
    val variantRows = variantRecords(dim).collect()
    val supByGene = supportTable(dim, ctCfg, selectCt).collect()
      .groupBy(_.getAs[String]("gene_key"))
    DimIndex(variantRows.groupBy(_.getAs[String]("gene_key")).map { case (gene, rows) =>
      gene -> geneDim(rows.toSeq, supByGene.getOrElse(gene, Array.empty[Row]).toSeq)
    })
  }
}
