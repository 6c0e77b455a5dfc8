package graft.operators

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.EvidenceRow

/** Denormalized annotated output table — the reference's `write_match`
  * sink (reference: civicutils/read_and_write.py:460-634) with the
  * nested evidence-string assembly of `write_evidences`
  * (read_and_write.py:401-457) and the row shape of
  * `write_output_line` (read_and_write.py:353-398).
  *
  * Scale shape: every per-variant output fragment (scores, types,
  * evidence strings per type) depends ONLY on the dimension, so it is
  * pre-rendered once per variant, broadcast, and stitched per turn
  * map-side — the fact stream is never joined or shuffled.
  *
  * Replicated reference quirks (parity path, SURVEY.md §7.3):
  *  - `write_drug` is effectively always true (the self-comparison
  *    `evidence_type == evidence_type`, read_and_write.py:596-597), so
  *    non-predictive evidences render a "|NULL" drug field;
  *  - empty columns are ".", tier is written without the "tier_"
  *    prefix, list columns are ";"-joined.
  * Ordering: the reference relies on dict insertion order; here every
  * fragment follows `dim_order` (documented canonical order).
  */
object OutputAssembly {

  /** S8 (YAML half): minimal YAML dump of any DataFrame — one YAML
    * list item per row, column names as keys (reference
    * write_to_yaml, read_and_write.py:289-301, which yaml.dump()s a
    * record map). Strings are single-quoted with '' escaping, numerics
    * and booleans plain, null is `~`, arrays render as inline flow
    * lists. Emits a one-string-column Dataset: write with
    * `.write.text(...)` — per-partition formatting, never
    * materializes on the driver.
    */
  def yamlLines(df: DataFrame): Dataset[String] = {
    import df.sparkSession.implicits._
    val names = df.columns
    // strings with control characters (newlines above all) switch to
    // YAML double-quoted style with \n/\r/\t/\xNN escapes: a raw
    // newline inside a single-quoted scalar would corrupt the document
    // AND break the one-line-per-key .write.text contract
    def quote(s: String): String =
      if (s.forall(_ >= ' '))
        "'" + s.replace("'", "''") + "'"
      else "\"" + s.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\x${c.toInt}%02x"
        case c => c.toString
      } + "\""
    def scalar(v: Any): String = v match {
      case null => "~"
      case s: String => quote(s)
      case b: Boolean => b.toString
      case n @ (_: Int | _: Long | _: Double | _: Float | _: Short | _: Byte) => n.toString
      case d: java.math.BigDecimal => d.toPlainString
      case t: java.sql.Timestamp => "'" + t.toString + "'"
      case d: java.sql.Date => "'" + d.toString + "'"
      case seq: scala.collection.Seq[_] =>
        seq.map(scalar).mkString("[", ", ", "]")
      case other => quote(other.toString)
    }
    df.map { row =>
      names.zipWithIndex.map { case (n, i) =>
        val pfx = if (i == 0) "- " else "  "
        s"$pfx$n: ${scalar(row.get(i))}"
      }.mkString("\n")
    }
  }

  /** Pre-rendered output fragments for one variant record. */
  final case class VarRender(
      scores: List[String],             // "GENE:NAME:MP:score" per mp
      typesString: String,              // "GENE:NAME:t1,t2"
      evStrings: Map[String, List[String]]) // evidence type -> rendered strings

  val sortedEvidenceTypes: Seq[String] =
    Seq("PREDICTIVE", "DIAGNOSTIC", "PROGNOSTIC", "PREDISPOSING")

  /** Render one evidence-type subtree for a variant
    * (write_evidences, read_and_write.py:401-457):
    * DISEASE[|CT][|DRUG](DIR,SIG(LEVEL(ID,..),LEVEL(..)))
    */
  private def renderEvidences(
      rows: Seq[EvidenceRow], writeCt: Boolean,
      writeComplete: Boolean, ctOf: EvidenceRow => String): List[String] = {
    // group preserving dim_order-first-seen at every level
    val out = mutable.ArrayBuffer.empty[String]
    val byCtDisease = mutable.LinkedHashMap.empty[(String, String), mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, mutable.ArrayBuffer[EvidenceRow]]]]]
    for (r <- rows.sortBy(_.dim_order)) {
      val ct = ctOf(r)
      byCtDisease
        .getOrElseUpdate((ct, r.disease), mutable.LinkedHashMap.empty)
        .getOrElseUpdate(r.drug, mutable.LinkedHashMap.empty)
        .getOrElseUpdate(s"${r.direction}:${r.significance}", mutable.LinkedHashMap.empty)
        .getOrElseUpdate(r.level, mutable.ArrayBuffer.empty) += r
    }
    for (((ct, disease), byDrug) <- byCtDisease; (drug, byEv) <- byDrug;
         (evidence, byLevel) <- byEv) {
      val Array(dir, sig) = evidence.split(":", -1)
      // write_drug is always true in the reference (see header note)
      val prefix =
        if (writeCt && ct.nonEmpty) s"$disease|${ct.toUpperCase}|$drug("
        else s"$disease|$drug("
      val levels = byLevel.map { case (level, items) =>
        val ids = items.map { r =>
          if (writeComplete)
            s"${r.source_type}_${r.source_id}:${r.evidence_status}:${r.source_status}:${r.variant_origin}:${r.rating.map(_.toString).getOrElse("NULL")}"
          else s"${r.source_type}_${r.source_id}"
        }
        s"$level(${ids.mkString(",")})"
      }
      out += s"$prefix$dir,$sig(${levels.mkString(",")}))"
    }
    out.toList
  }

  /** Build the broadcastable per-variant render table from the
    * (filtered, ct-annotated+selected) dimension rows.
    */
  def buildRenders(spark: SparkSession, dim: DataFrame, ctCfg: CtConfig,
                   selectCt: Either[String, Seq[String]] = Left("highest"),
                   writeCt: Boolean = false,
                   writeComplete: Boolean = false): Broadcast[Map[(String, String), VarRender]] = {
    import spark.implicits._
    val ctSel = CtClassifier.select(CtClassifier.annotate(dim, ctCfg), selectCt)
    val collected = ctSel
      .select(struct(dim.columns.toIndexedSeq.map(col): _*).as("_1"), col("ct").as("_2"))
      .as[(EvidenceRow, String)].collect()
    spark.sparkContext.broadcast(
      buildRendersLocal(collected.toIndexedSeq, writeCt, writeComplete))
  }

  /** Driver-side assembly (dimension is broadcast-small). */
  def buildRendersLocal(rows: Seq[(EvidenceRow, String)], writeCt: Boolean,
                        writeComplete: Boolean): Map[(String, String), VarRender] = {
    val byVar = rows.groupBy { case (r, _) => (r.gene_key, r.var_id) }
    byVar.map { case ((gene, varId), vrows) =>
      val sorted = vrows.sortBy(_._1.dim_order)
      val name = sorted.head._1.var_name.toUpperCase
      val types = sorted.head._1.var_types match {
        case ts if ts.isEmpty => Seq("NULL")
        case ts => ts.map(_.toUpperCase)
      }
      val mps = mutable.LinkedHashMap.empty[String, Double]
      for ((r, _) <- sorted) mps.getOrElseUpdate(r.mp_id, r.civic_score)
      val scores = mps.toList.map { case (mp, score) =>
        s"$gene:$name:$mp:$score"
      }
      val typesString = s"$gene:$name:${types.mkString(",")}"
      val ctByRow = vrows.map { case (r, ct) => r -> ct }.toMap
      val evStrings = sortedEvidenceTypes.map { et =>
        val etRows = sorted.map(_._1).filter(_.evidence_type == et)
        val rendered =
          if (etRows.isEmpty) Nil
          else {
            // group per mp, prefix fragments with GENE:NAME:MP:
            val byMp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[EvidenceRow]]
            for (r <- etRows)
              byMp.getOrElseUpdate(r.mp_id, mutable.ArrayBuffer.empty) += r
            byMp.toList.flatMap { case (mp, rws) =>
              renderEvidences(rws.toSeq, writeCt, writeComplete, ctByRow)
                .map(s => s"$gene:$name:$mp:$s")
            }
          }
        et -> rendered
      }.toMap
      (gene, varId) -> VarRender(scores, typesString, evStrings)
    }
  }

  /** Flat per-variant render row — the shuffle-join face of
    * `VarRender` (evStrings flattened to one column per evidence type
    * for a stable product encoding).
    */
  final case class RenderRow(
      gene_key: String, var_id: String,
      scores: Seq[String], types_string: String,
      ev_predictive: Seq[String], ev_diagnostic: Seq[String],
      ev_prognostic: Seq[String], ev_predisposing: Seq[String])

  /** DISTRIBUTED render table for the over-broadcast-threshold regime:
    * the same per-variant pure function as `buildRendersLocal`, run
    * inside `groupByKey((gene, var)).mapGroups` so the dimension is
    * never collected — one shuffle on the variant key, output bounded
    * by the variant count. Row-for-row identical to the broadcast
    * table (DimShuffleSpec pins it).
    */
  def buildRendersDist(dim: DataFrame, ctCfg: CtConfig,
                       selectCt: Either[String, Seq[String]] = Left("highest"),
                       writeCt: Boolean = false,
                       writeComplete: Boolean = false): Dataset[RenderRow] = {
    import dim.sparkSession.implicits._
    val ctSel = CtClassifier.select(CtClassifier.annotate(dim, ctCfg), selectCt)
    ctSel
      .select(struct(dim.columns.toIndexedSeq.map(col): _*).as("_1"), col("ct").as("_2"))
      .as[(EvidenceRow, String)]
      .groupByKey { case (r, _) => (r.gene_key, r.var_id) }
      .mapGroups { (key: (String, String), it: Iterator[(EvidenceRow, String)]) =>
        val (gene, varId) = key
        val vr = buildRendersLocal(it.toSeq, writeCt, writeComplete)((gene, varId))
        RenderRow(gene, varId, vr.scores, vr.typesString,
          vr.evStrings.getOrElse("PREDICTIVE", Nil),
          vr.evStrings.getOrElse("DIAGNOSTIC", Nil),
          vr.evStrings.getOrElse("PROGNOSTIC", Nil),
          vr.evStrings.getOrElse("PREDISPOSING", Nil))
      }
  }

  /** One output row per (annotated turn, non-empty tier) — the
    * denormalized table write_match produces; map-only over the
    * annotation stream with broadcast renders.
    */
  private val specialCases = MatchKernel.TierSentinels

  def writeMatchTable(ann: Dataset[Annotation],
                      bc: Broadcast[Map[(String, String), VarRender]],
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
            for (varId <- matched if !specialCases.contains(varId.toUpperCase);
                 r <- renders.get((a.gene_key, varId))) {
              scores ++= r.scores
              types += r.typesString
              for (et <- sortedEvidenceTypes; s <- r.evStrings.getOrElse(et, Nil))
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

  /** Shuffle-regime `writeMatchTable`: fragments come from a join
    * against the DISTRIBUTED render table instead of a broadcast map —
    * the path for a dimension too large to collect. Shape:
    * annotations explode to (turn, tier, position, var_id) rows
    * (bounded by matched variants per turn), one shuffle join on the
    * variant key attaches render fragments, and a per-(turn, tier)
    * sorted re-aggregation stitches them back in matched-list order.
    * Output rows equal the broadcast path's exactly (DimShuffleSpec).
    */
  def writeMatchTableShuffle(ann: Dataset[Annotation],
                             renders: Dataset[RenderRow],
                             writeSupport: Boolean = true): DataFrame = {
    import ann.sparkSession.implicits._
    // one row per (turn, non-empty tier), carrying the ORDERED
    // non-special variant list + the tier's drug-support strings
    val tierRows = ann.flatMap { a =>
      val tiers = Seq(
        ("1", a.tier_1, a.ds_tier_1), ("1b", a.tier_1b, a.ds_tier_1b),
        ("2", a.tier_2, a.ds_tier_2), ("3", a.tier_3, a.ds_tier_3))
      val main = tiers.collect { case (tier, matched, ds) if matched.nonEmpty =>
        (a.conv_id, a.turn_idx, a.gene_key, a.data_type, tier, ds,
          matched.filterNot(v => specialCases.contains(v.toUpperCase)))
      }
      val t4 =
        if (a.tier_4)
          Seq((a.conv_id, a.turn_idx, a.gene_key, a.data_type, "4",
            Seq.empty[String], Seq.empty[String]))
        else Nil
      main ++ t4
    }.toDF("conv_id", "turn_idx", "gene_key", "data_type", "tier", "ds", "vars")

    // posexplode_OUTER: a tier whose variants were all special (or a
    // tier_4 row) must still survive to the output with "." fields
    val exploded = tierRows
      .select(col("conv_id"), col("turn_idx"), col("gene_key"),
        col("data_type"), col("tier"), col("ds"),
        posexplode_outer(col("vars")).as(Seq("pos", "var_id")))
    val joined = exploded.join(renders.toDF(), Seq("gene_key", "var_id"),
      "left_outer")
    val agg = joined
      .groupBy(col("conv_id"), col("turn_idx"), col("gene_key"),
        col("data_type"), col("tier"))
      .agg(first(col("ds")).as("ds"),
        sort_array(collect_list(struct(col("pos"), col("scores"),
          col("types_string"), col("ev_predictive"), col("ev_diagnostic"),
          col("ev_prognostic"), col("ev_predisposing")))).as("frs"))
    def flat(field: String) = flatten(filter(
      transform(col("frs"), x => x.getField(field)), a => a.isNotNull))
    def dotJoin(c: org.apache.spark.sql.Column) =
      when(size(c) > 0, array_join(c, ";")).otherwise(".")
    agg.select(col("conv_id"), col("turn_idx"), col("gene_key"),
      col("data_type"), col("tier"),
      dotJoin(flat("scores")).as("civic_scores"),
      dotJoin(filter(transform(col("frs"), x => x.getField("types_string")),
        a => a.isNotNull)).as("civic_var_types"),
      (if (writeSupport) dotJoin(transform(col("ds"), x => upper(x)))
       else lit(".")).as("civic_drug_support"),
      dotJoin(flat("ev_predictive")).as("civic_predictive"),
      dotJoin(flat("ev_diagnostic")).as("civic_diagnostic"),
      dotJoin(flat("ev_prognostic")).as("civic_prognostic"),
      dotJoin(flat("ev_predisposing")).as("civic_predisposing"))
  }

  /** Regime selector, mirroring `VersionedDim`'s split: broadcast
    * renders while the dimension fits the driver, shuffle-join renders
    * beyond. The probe is `DimShuffle.overBroadcastThreshold` — shared
    * with `annotateAuto`, so the annotation and output-assembly paths
    * always agree on the regime.
    */
  def writeMatchTableAuto(ann: Dataset[Annotation], dim: DataFrame,
                          ctCfg: CtConfig,
                          selectCt: Either[String, Seq[String]] = Left("highest"),
                          writeCt: Boolean = false,
                          writeComplete: Boolean = false,
                          writeSupport: Boolean = true,
                          maxBroadcastRows: Long = DimShuffle.MaxBroadcastRows): DataFrame = {
    val over = DimShuffle.overBroadcastThreshold(dim, maxBroadcastRows)
    if (over)
      writeMatchTableShuffle(ann,
        buildRendersDist(dim, ctCfg, selectCt, writeCt, writeComplete),
        writeSupport)
    else
      writeMatchTable(ann,
        buildRenders(dim.sparkSession, dim, ctCfg, selectCt, writeCt, writeComplete),
        writeSupport)
  }
}
