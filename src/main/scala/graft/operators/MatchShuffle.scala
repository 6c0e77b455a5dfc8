package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.functions.Nomenclature
import graft.model.{Cts, Turn}

/** SHUFFLE-regime tier matching — the non-broadcast counterpart of
  * `MatchKernel` + `DimIndex` for a dimension whose exploded
  * match-string index is too large to collect to the driver at all
  * (a civic-scale×100 knowledge base with wide hgvs/alias fan-out).
  * This is SURVEY §2.3 J2's explode + equi-join formulation of the
  * reference's nested-loop matcher (match.py:590-638): both sides
  * normalize to (gene_key, domain, match_string) keys and the
  * O(V×C×S) loop becomes one shuffle hash join.
  *
  * Regime economics: the broadcast kernel is map-only on the fact
  * stream — the right default while the dimension is
  * knowledge-base-sized. THIS path shuffles the per-turn key explode
  * (bounded by keys per turn, not dimension size), the matched hits
  * (bounded by matches per turn) and one gene's records and support
  * counts per turn (bounded by the largest gene, the bound `GeneDim`
  * already assumes), so it survives any dimension size at the cost
  * of fact-side exchanges. The call site picks the regime: q59 and
  * q66 call this path, every other annotation caller the kernel.
  * Output is row-for-row identical to the broadcast kernel
  * (MatchShuffleSpec parity pin; the q59 and q66 oracles share q21's).
  *
  * Drift discipline: the dimension side derives through
  * `DimIndex.variantRecords`, `DimIndex.supportTable` and
  * `DimIndex.variantIndexEntries`, and the turn side through
  * `MatchKernel.parse`/`MatchKernel.keyBits` — the SAME functions the
  * broadcast build and kernel use; only the per-turn tier and
  * consensus assembly is re-expressed sparsely (over matched positions instead of the dense
  * per-gene arrays), with parity pinned across every tier path.
  */
object MatchShuffle {

  /** One matched key of a turn: the variant position it hit and the
    * key's tier bit (a position may be hit by several keys). */
  final case class Hit(pos: Long, flags: Int, var_id: String, is_general: Boolean)
  /** One variant record of the turn's gene, for tier-3 fallbacks. */
  final case class Rec(pos: Long, var_id: String, is_cnv: Boolean, is_expr: Boolean)
  /** One `DimIndex.supportTable` row of the turn's gene. */
  final case class Sup(var_id: String, drug: String, ct: String,
                       pos: Long, neg: Long, unk_b: Long, unk_d: Long)
  /** A turn joined with its raw key hits and its gene's records and
    * support counts (empty records: the gene is absent from the
    * dimension). */
  final case class TurnHits(
      conv_id: String, turn_idx: Int, role: String, ts: Timestamp,
      gene_key: String, data_type: String,
      hits: Seq[Hit], recs: Seq[Rec], sup: Seq[Sup])

  // encoder-visible (Catalyst's generated [de]serializers cannot
  // access private classes), internal to the operator in spirit
  final case class VariantRaw(
      gene_key: String, var_id: String, var_name: String,
      hgvs: Seq[String], pos: Long)

  /** Variant record with its derived index entries — the regex-heavy
    * `variantIndexEntries` derivation runs ONCE per variant into the
    * persisted relation; the string explode and the per-gene record
    * lists below are cheap re-reads of the stored arrays.
    */
  final case class VariantMeta(
      gene_key: String, var_id: String, var_name: String, pos: Long,
      snv_strings: Seq[String], expr_strings: Seq[String],
      is_general: Boolean, is_cnv: Boolean, is_expr: Boolean,
      is_exon_cnv: Boolean)

  final case class ParsedTurn(
      conv_id: String, turn_idx: Int, role: String, ts: Timestamp,
      gene_key: String, data_type: String,
      keys: Seq[(String, String, Int)])

  /** Tier annotation and consensus via distributed joins.
    *
    * PRECONDITION: `turns` must be unique per (conv_id, turn_idx) —
    * the transcript table's primary key (it is what the exactly-once
    * sink and the streaming dedup key on). Matched hits aggregate on
    * that key, so duplicate-key rows would have their hits MERGED,
    * where the broadcast kernel annotates every physical row
    * independently; on key-unique input the two regimes are
    * row-for-row identical (MatchShuffleSpec).
    */
  def annotate(spark: SparkSession, turns: Dataset[Turn], dim: DataFrame,
               ctCfg: CtConfig,
               selectCt: Either[String, Seq[String]] = Left("highest")): Dataset[Annotation] = {
    import spark.implicits._
    // read twice: the variant records and the support counts
    val dimP = graft.GraftContext.persistTracked(dim)

    // 1. variant-level records — the relation DimIndex.build
    //    collects, kept distributed, with each variant's index entries
    val varMeta = graft.GraftContext.persistTracked(DimIndex.variantRecords(dimP)
      .as[VariantRaw]
      .map { v =>
        val name = v.var_name.toUpperCase
        val e = DimIndex.variantIndexEntries(name, v.hgvs)
        VariantMeta(v.gene_key, v.var_id, name, v.pos,
          e.snvStrings, e.exprStrings, e.isGeneral,
          e.isCnvRecord, e.isExprRecord, e.isExonCnv)
      })

    // 2. dimension-side index entries, exploded to joinable rows —
    //    the same variantIndexEntries the broadcast build consumes;
    //    each entry carries what the assembly needs of its variant
    val dimEntries = varMeta.flatMap { v =>
      def e(domain: String, s: String) = (v.gene_key, domain, s, v.pos, v.var_id, v.is_general)
      v.snv_strings.map(e("SNV", _)) ++ Seq(e("CNV", v.var_name)) ++
        v.expr_strings.map(e("EXPR", _)) ++
        (if (v.is_exon_cnv) Seq(e("CNV_EXON", "DELETION")) else Nil)
    }.toDF("gene_key", "domain", "s", "pos", "var_id", "is_general")

    // per-gene scan-ordered record list (gene existence and every data
    // type's tier-3 fallback) beside the gene's consensus counts — the
    // distributed GeneDim: both sides are hash-partitioned on the gene,
    // so the join adds no exchange
    val sup = DimIndex.supportTable(dimP, ctCfg, selectCt)
      .groupBy(col("gene_key"))
      .agg(collect_list(struct(col("var_id"), col("drug"), col("ct"),
        col("pos"), col("neg"), col("unk_b"), col("unk_d"))).as("sup"))
    val recs = varMeta.toDF()
      .groupBy(col("gene_key"))
      .agg(sort_array(collect_list(struct(col("pos"), col("var_id"),
        col("is_cnv"), col("is_expr")))).as("recs"))
      .join(sup, Seq("gene_key"), "left")

    // 3. turn side: one parse per turn, its keys exploded (outer: a
    //    turn without keys still yields its row)
    val turnKeys = turns.map { t =>
        val p = MatchKernel.parse(t)
        ParsedTurn(t.conv_id, t.turn_idx, t.role, t.ts, p.geneKey, p.dataType,
          MatchKernel.keyBits(p).distinct)
      }.toDF()
      .select(col("conv_id"), col("turn_idx"), col("role"), col("ts"),
        col("gene_key"), col("data_type"), inline_outer(col("keys")))
      .toDF("conv_id", "turn_idx", "role", "ts", "gene_key", "data_type",
        "domain", "s", "bit")

    // 4. THE match join: equi-join on (gene_key, domain, match string)
    //    — the reference's nested loop as one shuffle hash join — and
    //    one per-turn list of the raw key hits (bounded by keys per
    //    turn); every turn appears exactly once
    val matched = turnKeys
      .join(dimEntries, Seq("gene_key", "domain", "s"), "left")
      .groupBy(col("conv_id"), col("turn_idx"), col("role"), col("ts"),
        col("gene_key"), col("data_type"))
      .agg(collect_list(when(col("pos").isNotNull, struct(col("pos"),
        col("bit").as("flags"), col("var_id"), col("is_general")))).as("hits"))

    // 5. assembly: recs and sup bounded by one gene's records
    matched
      .join(recs, Seq("gene_key"), "left")
      .withColumn("recs", coalesce(col("recs"), array().cast(
        "array<struct<pos:bigint,var_id:string,is_cnv:boolean,is_expr:boolean>>")))
      .withColumn("sup", coalesce(col("sup"), array().cast(
        "array<struct<var_id:string,drug:string,ct:string,pos:bigint,neg:bigint,unk_b:bigint,unk_d:bigint>>")))
      .as[TurnHits]
      .map(assemble)
  }

  /** Sparse tier assembly over matched positions — semantics
    * identical to the dense kernel (general-variant promotion,
    * tier-3 fallback, sentinels, tier_4 on gene miss); parity pinned
    * across every path in MatchShuffleSpec. Support lists sum the
    * listed variants' counts per (drug, ct) — the reference's vote is
    * additive (match.py:1459-1493) — in the kernel's canonical
    * (drug, ct rank) order.
    */
  private[operators] def assemble(th: TurnHits): Annotation = {
    if (th.recs.isEmpty)
      return Annotation(th.conv_id, th.turn_idx, th.role, th.ts,
        th.gene_key, th.data_type, Nil, Nil, Nil, Nil,
        tier_4 = true, "tier_4", Nil, Nil, Nil, Nil)
    // one hit per matched position, bits OR-ed, in scan order;
    // promotion: the first scan-order general positional match keeps
    // bit 4, all other positions lose it (match.py:644-652)
    var hits = th.hits.groupBy(_.pos).toSeq.sortBy(_._1).map { case (_, hs) =>
      hs.head.copy(flags = hs.map(_.flags).reduce(_ | _))
    }
    if (th.data_type == "SNV") {
      hits.find(h => (h.flags & 4) != 0 && h.is_general).foreach { fg =>
        hits = hits.map(h =>
          if (h.pos != fg.pos) h.copy(flags = h.flags & ~4) else h)
      }
    }
    val t1 = hits.filter(h => (h.flags & 1) != 0).map(_.var_id)
    val t1b = hits.filter(h => (h.flags & 2) != 0).map(_.var_id)
    val t2 = hits.filter(h => (h.flags & 4) != 0).map(_.var_id)
    val anyMatch = t1.nonEmpty || t1b.nonEmpty || t2.nonEmpty
    // tier-3 fallback: the gene's records of the turn's data type
    // (record-kind split as DimIndex.build's *Fallback arrays)
    val fb: Seq[String] = if (anyMatch) Nil else th.recs.filter(r => th.data_type match {
      case "SNV" => !r.is_cnv && !r.is_expr
      case "CNV" => r.is_cnv
      case _ => r.is_expr
    }).map(_.var_id)
    val t3 = if (!anyMatch && fb.isEmpty) List(s"NON_${th.data_type}_MATCH_ONLY") else fb
    val highest =
      if (t1.nonEmpty) "tier_1" else if (t1b.nonEmpty) "tier_1b"
      else if (t2.nonEmpty) "tier_2" else "tier_3"

    val supByVar = th.sup.groupBy(_.var_id)
    def support(ids: Seq[String]): Seq[String] = {
      val acc = mutable.HashMap.empty[(String, String), Array[Long]]
      for (id <- ids; s <- supByVar.getOrElse(id, Nil)) {
        val a = acc.getOrElseUpdate((s.drug, s.ct), new Array[Long](4))
        a(0) += s.pos; a(1) += s.neg; a(2) += s.unk_b; a(3) += s.unk_d
      }
      acc.toSeq.filter(_._2.sum > 0)
        .sortBy { case ((d, ct), _) => (d, Cts.rank(ct), ct) }
        .map { case ((d, ct), a) =>
          s"$d:${ct.toUpperCase}:${Nomenclature.consensus(a(0), a(1), a(2), a(3))}" }
    }
    Annotation(th.conv_id, th.turn_idx, th.role, th.ts,
      th.gene_key, th.data_type, t1, t1b, t2, t3,
      tier_4 = false, highest, support(t1), support(t1b), support(t2), support(fb))
  }
}
