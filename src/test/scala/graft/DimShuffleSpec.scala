package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.Synth

/** Broadcast-vs-relational parity: `MatchShuffle.annotate`
  * (shuffle-derived consensus `ds_tier_*`) must reproduce the
  * broadcast kernel's output row-for-row, and the relational output
  * table, drug-targets report and coarse consensus must reproduce the
  * driver-collected broadcast forms kept in `BroadcastReports`. Both
  * sides read the dimension through `DimIndex`'s definitions.
  */
class DimShuffleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // a larger-than-default dimension (120 genes) + enough turns to hit
  // every tier path, including sentinels and unknown genes
  private lazy val dim = {
    val raw = Synth.evidenceDim(spark, 120, Pipeline.DefaultSeed).toDF()
    EvidenceFilter(raw, Pipeline.defaultFilter)
  }
  private lazy val turns = Synth.transcripts(spark,
    Synth.TurnGenConfig(nConvs = 60, turnsPerConv = 10, nGenes = 120))

  private def annKey(a: Annotation) = (a.conv_id, a.turn_idx)

  test("shuffle consensus reproduces the broadcast kernel's ds_tier_* exactly") {
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val want = MatchKernel.annotate(turns, bcIdx)
      .collect().map(a => annKey(a) -> a).toMap

    val got = MatchShuffle.annotate(spark, turns, dim, Pipeline.defaultCt)
      .collect().map(a => annKey(a) -> a).toMap

    assert(got.keySet == want.keySet)
    // the index halves (tier lists) are identical by construction;
    // the consensus halves are what the shuffle path re-derives
    for ((k, w) <- want) {
      val g = got(k)
      assert(g == w, s"annotation mismatch at $k:\n  got  $g\n  want $w")
    }
    // sanity: the fixture actually exercises non-empty support lists
    assert(want.values.exists(_.ds_tier_1.nonEmpty))
    assert(want.values.exists(_.ds_tier_2.nonEmpty))
    assert(want.values.exists(a =>
      a.ds_tier_3.nonEmpty || a.tier_3.exists(_.startsWith("NON_"))))
  }

  test("distributed render table equals the broadcast render map") {
    val bcRenders = BroadcastReports.buildRenders(spark, dim, Pipeline.defaultCt)
    val dist = OutputAssembly.renderTable(dim, Pipeline.defaultCt)
      .collect().map(r => (r.gene_key, r.var_id) -> r).toMap
    assert(dist.keySet == bcRenders.value.keySet)
    for ((k, vr) <- bcRenders.value) {
      val d = dist(k)
      assert(d.scores == vr.scores, s"scores at $k")
      assert(d.types_string == vr.typesString, s"types at $k")
      assert(d.ev_predictive == vr.evStrings.getOrElse("PREDICTIVE", Nil), s"pred at $k")
      assert(d.ev_diagnostic == vr.evStrings.getOrElse("DIAGNOSTIC", Nil), s"diag at $k")
      assert(d.ev_prognostic == vr.evStrings.getOrElse("PROGNOSTIC", Nil), s"prog at $k")
      assert(d.ev_predisposing == vr.evStrings.getOrElse("PREDISPOSING", Nil), s"predis at $k")
    }
  }

  test("distributed pred-entries table equals the driver buildPredEntries") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{struct, col}
    val collected = CtClassifier.select(
        CtClassifier.annotate(dim, Pipeline.defaultCt), Left("highest"))
      .select(struct(dim.columns.toIndexedSeq.map(col): _*).as("_1"),
        col("ct").as("_2"))
      .as[(graft.model.EvidenceRow, String)].collect().toSeq
    val want = BroadcastReports.buildPredEntries(collected)
    val got = Reports.predEntriesTable(dim, Pipeline.defaultCt).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        BroadcastReports.PredEntry(r.getString(2), r.getString(3), r.getString(4),
          r.getString(5), r.getInt(6))))
      .groupBy(_._1)
      .map { case (k, es) => k -> es.map(_._2).sortBy(_.entryIdx).toList }
    assert(got.keySet == want.keySet)
    for ((k, w) <- want)
      assert(got(k) == w, s"pred entries mismatch at $k")
    // fixture sanity: multi-entry variants exist (entry ordering is
    // actually exercised, not vacuously equal)
    assert(want.values.exists(_.length > 2))
  }

  test("shuffle drug-targets report equals the broadcast report row-for-row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{struct, col}
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val ann = MatchKernel.annotate(turns, bcIdx)
    val collected = CtClassifier.select(
        CtClassifier.annotate(dim, Pipeline.defaultCt), Left("highest"))
      .select(struct(dim.columns.toIndexedSeq.map(col): _*).as("_1"),
        col("ct").as("_2"))
      .as[(graft.model.EvidenceRow, String)].collect().toSeq
    val want = BroadcastReports.drugTargets(ann,
        spark.sparkContext.broadcast(BroadcastReports.buildPredEntries(collected)),
        BroadcastReports.buildNameMap(spark, dim))
      .collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty)
    val got = Reports.drugTargets(ann,
        Reports.predEntriesTable(dim, Pipeline.defaultCt),
        Reports.nameTable(dim))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("pred-entries parity holds on null evidence fields (render as 'null')") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{struct, col}
    // CSV-style dimension rows where optional fields came in as null:
    // the driver regime interpolates "null"; the distributed concat
    // must coalesce, not null-propagate (which would DROP the leaf)
    def row(varId: String, sig: String, level: String, order: Long) =
      graft.model.EvidenceRow(gene_key = "G1", var_id = varId,
        var_name = "V600E", hgvs = Seq("NP_1:p.V600E"),
        var_types = Seq("missense"), dim_order = order, mp_id = s"$varId-0",
        mp_name = "G1 V600E", civic_score = 1.0, n_evidence_items = 1,
        evidence_type = "PREDICTIVE", disease = "bladder cancer",
        drug = "DRUGA", direction = "SUPPORTS", significance = sig,
        level = level, source_type = "PUBMED", source_id = "1",
        evidence_status = "ACCEPTED", source_status = "ACCEPTED",
        variant_origin = "SOMATIC", rating = Some(4.0))
    val d = Seq(row("1", null, "A", 0L), row("1", "SENSITIVITYRESPONSE", null, 1L))
      .toDS().toDF()
    val collected = CtClassifier.select(
        CtClassifier.annotate(d, Pipeline.defaultCt), Left("highest"))
      .select(struct(d.columns.toIndexedSeq.map(col): _*).as("_1"),
        col("ct").as("_2"))
      .as[(graft.model.EvidenceRow, String)].collect().toSeq
    val want = BroadcastReports.buildPredEntries(collected)
    val got = Reports.predEntriesTable(d, Pipeline.defaultCt).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        BroadcastReports.PredEntry(r.getString(2), r.getString(3), r.getString(4),
          r.getString(5), r.getInt(6))))
      .groupBy(_._1)
      .map { case (k, es) => k -> es.map(_._2).sortBy(_.entryIdx).toList }
    assert(got == want)
    assert(want.values.flatten.exists(_.evidence.contains("null")),
      "fixture failed to exercise a null field")
  }

  test("shuffle reprocess-across equals the broadcast coarse consensus") {
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val ann = MatchKernel.annotate(turns, bcIdx)
    val want = BroadcastReports.reprocessAcross(ann, bcIdx)
    assert(want.nonEmpty)
    val got = Reports.reprocessAcross(ann,
      DimIndex.supportTable(dim, Pipeline.defaultCt))
    assert(got == want)
  }

  test("shuffle writeMatchTable equals the broadcast table row-for-row") {
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val ann = MatchKernel.annotate(turns, bcIdx)
    val want = BroadcastReports.writeMatchTable(ann,
        BroadcastReports.buildRenders(spark, dim, Pipeline.defaultCt))
      .collect().map(_.toString).sorted.toSeq
    val got = OutputAssembly.writeMatchTable(ann,
        OutputAssembly.renderTable(dim, Pipeline.defaultCt))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }
}
