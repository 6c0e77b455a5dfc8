package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Turn

/** SHUFFLE-regime tier matching — the non-broadcast counterpart of
  * `MatchKernel.annotate` for a dimension too large to collect to the
  * driver at all (a civic-scale×100 knowledge base with wide
  * hgvs/alias fan-out).
  *
  * The two regimes differ only in how a gene's `GeneDim` reaches the
  * kernel. The broadcast regime collects every gene's into one
  * `DimIndex`; this one builds each gene's on the executors with
  * `DimIndex.geneDim`, from the same `variantRecords` and
  * `supportTable` rows grouped by gene, and left-joins each turn to
  * its gene's, on the key `MatchKernel.geneKey` derives. Each turn
  * then runs `MatchKernel.annotateTurn`, so both regimes apply one
  * copy of the tier and consensus rules.
  *
  * Regime economics: the broadcast kernel is map-only on the fact
  * stream — the right default while the dimension is
  * knowledge-base-sized. THIS path shuffles every turn once, on its
  * gene key, and each joined turn carries its gene's whole `GeneDim`
  * (bounded by the largest gene, the bound `GeneDim` already
  * assumes), so it survives any dimension size at the cost of a
  * fact-side exchange. The call site picks the regime: q59 and q66
  * call this path, every other annotation caller the kernel.
  */
object MatchShuffle {

  /** Tier annotation and consensus, one `Annotation` per input row,
    * with the dimension kept distributed. */
  def annotate(spark: SparkSession, turns: Dataset[Turn], dim: DataFrame,
               ctCfg: CtConfig,
               selectCt: Either[String, Seq[String]] = Left("highest")): Dataset[Annotation] = {
    import spark.implicits._
    // read twice: the variant records and the support counts
    val dimP = graft.GraftContext.persistTracked(dim)
    def byGene(rows: DataFrame, as: String): DataFrame =
      rows.groupBy(col("gene_key"))
        .agg(collect_list(struct(rows.columns.map(col).toIndexedSeq: _*)).as(as))

    val genes = byGene(DimIndex.variantRecords(dimP), "variants")
      .join(byGene(DimIndex.supportTable(dimP, ctCfg, selectCt), "support"),
        Seq("gene_key"), "left")
      .map { r =>
        val support = if (r.isNullAt(2)) Nil else r.getSeq[Row](2)
        (r.getString(0), DimIndex.geneDim(r.getSeq[Row](1), support))
      }

    val keyed = turns.map(t => (MatchKernel.geneKey(t), t))
    keyed.joinWith(genes, keyed("_1") === genes("_1"), "left_outer")
      .map { case ((_, t), g) => MatchKernel.annotateTurn(t, Option(g).map(_._2)) }
  }
}
