package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * broadcast `build` collects is defined here once, and `MatchShuffle`
  * and `Reports` read the same definitions distributed.
  */
object DimIndex {

  /** Per-variant derived index entries — THE single definition of the
    * dimension side of the match-string index, shared by the broadcast
    * `build` below and the shuffle-regime `MatchShuffle` so the two
    * regimes cannot drift. `nameUpper` must already be uppercased.
    */
  final case class VariantIndexEntries(
      snvStrings: Seq[String],
      exprStrings: Seq[String],
      isExonCnv: Boolean,
      isGeneral: Boolean,
      isCnvRecord: Boolean,
      isExprRecord: Boolean)

  def variantIndexEntries(nameUpper: String, hgvs: Seq[String]): VariantIndexEntries = {
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
    * `MatchShuffle` keeps it distributed and `Reports.nameTable`
    * projects it.
    */
  def variantRecords(dim: DataFrame): DataFrame =
    dim.groupBy(col("gene_key"), col("var_id"))
      .agg(first(col("var_name")).as("var_name"),
        first(col("hgvs")).as("hgvs"),
        min(col("dim_order")).as("pos"))

  /** Consensus drug-support counts (gene_key, var_id, drug, ct, pos,
    * neg, unk_b, unk_d): PREDICTIVE evidence only, ct-selected
    * (reference: match.py:1420-1493). `build` collects it into the
    * per-variant count vectors; `MatchShuffle` and
    * `Reports.reprocessAcross` join it.
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

  /** Build the index from a flat evidence DataFrame (EvidenceRow
    * schema). `dim` should already be evidence-filtered
    * (EvidenceFilter); ct annotation/selection happens here because the
    * support vectors depend on it.
    */
  def build(spark: SparkSession, dim: DataFrame, ctCfg: CtConfig,
            selectCt: Either[String, Seq[String]] = Left("highest")): DimIndex = {

    val variantRows = variantRecords(dim).collect()

    // consensus support vectors per variant
    val supportRows = supportTable(dim, ctCfg, selectCt).collect()

    // (gene, var) -> (drug, ct) -> counts
    val supByVar = mutable.HashMap.empty[(String, String), mutable.HashMap[(String, String), Array[Long]]]
    for (r <- supportRows) {
      val key = (r.getString(0), r.getString(1))
      val m = supByVar.getOrElseUpdate(key, mutable.HashMap.empty)
      m((r.getString(2), r.getString(3))) =
        Array(r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
    }

    val byGene = variantRows.groupBy(_.getString(0))
    val genes = byGene.map { case (gene, rows) =>
      val ordered = rows.sortBy(_.getLong(4)) // pos
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

      // gene-level (drug, ct) vocabulary in canonical order
      val geneDrugCts = mutable.SortedSet.empty[(String, Int, String)](
        Ordering.Tuple3(Ordering.String, Ordering.Int, Ordering.String))
      for ((r, _) <- ordered.zipWithIndex;
           m <- supByVar.get((gene, r.getString(1)));
           (drug, ct) <- m.keys)
        geneDrugCts += ((drug, graft.model.Cts.rank(ct), ct))
      val drugCtList = geneDrugCts.toArray
      val drugCtIndex = drugCtList.zipWithIndex
        .map { case ((d, _, c), i) => (d, c) -> i }.toMap
      val drugCtPrefix = drugCtList.map { case (d, _, c) => s"$d:${c.toUpperCase}:" }
      val varSupIdx = new Array[Array[Int]](n)
      val varSupCnt = new Array[Array[Long]](n)

      for ((r, p) <- ordered.zipWithIndex) {
        val varId = r.getString(1)
        val name = r.getString(2).toUpperCase
        val hgvs = r.getSeq[String](3)
        varIds(p) = varId
        varNames(p) = name

        val sup = supByVar.getOrElse((gene, varId), mutable.HashMap.empty)
        val entries = sup.toArray.map { case ((d, c), cnt) => (drugCtIndex((d, c)), cnt) }
          .sortBy(_._1)
        varSupIdx(p) = entries.map(_._1)
        varSupCnt(p) = entries.flatMap(_._2)

        // shared per-variant derivation (the shuffle regime explodes
        // the same entries into a joinable relation)
        val e = variantIndexEntries(name, hgvs)
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
      gene -> GeneDim(varIds, varNames, isGeneral,
        snvIdx.view.mapValues(_.toArray).toMap,
        cnvIdx.view.mapValues(_.toArray).toMap,
        exprIdx.view.mapValues(_.toArray).toMap,
        exonCnv.toArray, snvFb.toArray, cnvFb.toArray, exprFb.toArray,
        drugCtPrefix, varSupIdx, varSupCnt)
    }
    DimIndex(genes)
  }
}
