package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{EvidenceRow, Turn}
import graft.operators._
import graft.sources.Synth

/** Full-shuffle match-path parity: `MatchShuffle.annotate` (tier
  * matching AND consensus as distributed equi-joins — the regime for a
  * dimension whose exploded match-string index cannot be collected)
  * must reproduce the broadcast kernel's output row-for-row, across
  * every tier path: exact/1b/positional matches, general-variant
  * promotion, DELETION-vs-exon-CNV positional, EXPR type matching,
  * tier-3 fallbacks, sentinels, and tier_4 gene misses.
  */
class MatchShuffleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dim = {
    val raw = Synth.evidenceDim(spark, 120, Pipeline.DefaultSeed).toDF()
    EvidenceFilter(raw, Pipeline.defaultFilter)
  }
  private lazy val turns = Synth.transcripts(spark,
    Synth.TurnGenConfig(nConvs = 60, turnsPerConv = 10, nGenes = 120,
      unknownGeneFrac = 0.2))

  private def byKey(anns: Array[Annotation]): Map[(String, Int), Annotation] =
    anns.map(a => (a.conv_id, a.turn_idx) -> a).toMap

  test("full-shuffle match reproduces the broadcast kernel row-for-row") {
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val want = byKey(MatchKernel.annotate(turns, bcIdx).collect())
    val got = byKey(
      MatchShuffle.annotate(spark, turns, dim, Pipeline.defaultCt).collect())
    assert(got.keySet == want.keySet)
    for ((k, w) <- want)
      assert(got(k) == w, s"annotation mismatch at $k:\n  got  ${got(k)}\n  want $w")
    // the fixture must actually exercise the paths the sparse assembly
    // re-expresses — otherwise the equality above is vacuous
    val vs = want.values
    assert(vs.exists(_.tier_1.nonEmpty), "no tier_1 coverage")
    assert(vs.exists(_.tier_2.nonEmpty), "no tier_2 coverage")
    assert(vs.exists(a => a.tier_3.nonEmpty && !a.tier_3.exists(_.startsWith("NON_"))),
      "no tier_3 fallback coverage")
    assert(vs.exists(_.tier_3.exists(_.startsWith("NON_"))), "no sentinel coverage")
    assert(vs.exists(_.tier_4), "no tier_4 (unknown gene) coverage")
    assert(vs.exists(_.ds_tier_1.nonEmpty), "no consensus coverage")
  }

  test("annotateAuto routes to the full-shuffle regime at a forced index threshold") {
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, dim, Pipeline.defaultCt))
    val want = byKey(MatchKernel.annotate(turns, bcIdx).collect())
    val got = byKey(DimShuffle.annotateAuto(spark, turns, dim,
        Pipeline.defaultCt, maxBroadcastRows = 5)
      .collect())
    assert(got == want)
  }

  // ---- crafted edge fixtures --------------------------------------

  private def evRow(gene: String, varId: String, name: String,
                    hgvs: Seq[String], order: Long,
                    evType: String = "PREDICTIVE",
                    disease: String = "bladder cancer",
                    drug: String = "DRUGA"): EvidenceRow =
    EvidenceRow(gene_key = gene, var_id = varId, var_name = name,
      hgvs = hgvs, var_types = Seq("missense_variant"), dim_order = order,
      mp_id = s"$varId-0", mp_name = s"$gene $name", civic_score = 10.0,
      n_evidence_items = 1, evidence_type = evType, disease = disease,
      drug = drug, direction = "SUPPORTS", significance = "SENSITIVITYRESPONSE",
      level = "A", source_type = "PUBMED", source_id = "11111",
      evidence_status = "ACCEPTED", source_status = "ACCEPTED",
      variant_origin = "SOMATIC", rating = Some(4.0))

  private def turn(conv: String, idx: Int, role: String, text: String): Turn =
    Turn(conv, idx, role, text, "t", Timestamp.valueOf("2024-01-01 00:00:00"))

  test("crafted fixtures: promotion, exon-CNV positional, EXPR types, sentinels") {
    import spark.implicits._
    val rows = Seq(
      // G1: specific + general + specific SNV records (promotion),
      // an exon-CNV record, a plain CNV record, EXPR records
      evRow("G1", "10", "V600E", Seq("NP_1:p.Val600Glu", "NM_1:c.1799T>A"), 0L),
      evRow("G1", "11", "V600", Nil, 1L),
      evRow("G1", "12", "V600K", Seq("NP_1:p.Val600Lys"), 2L),
      evRow("G1", "13", "EXON 14 SKIPPING MUTATION", Nil, 3L),
      evRow("G1", "14", "DELETION", Nil, 4L),
      evRow("G1", "15", "EXON 2 OVEREXPRESSION", Nil, 5L),
      evRow("G1", "16", "OVEREXPRESSION", Nil, 6L),
      // G2: SNV-only gene -> CNV/EXPR turns hit sentinels
      evRow("G2", "20", "T790M", Seq("NP_2:p.Thr790Met"), 7L))
    val craftedDim = rows.toDS().toDF()
    val craftedTurns = spark.createDataset(Seq(
      turn("c1", 0, "user", "G1 c.1799T>A|p.V600E|missense_variant|2"), // tier_1
      // 3-letter prot: positional key P.VAL600 hits V600E/V600/V600K,
      // promotion keeps only the first general bucket (V600)
      turn("c1", 1, "user", "G1 c.1799T>C|p.Val600Gly||"),
      turn("c1", 2, "assistant", "G1 DELETION"),  // tier_1 DELETION + exon-CNV positional tier_2
      turn("c1", 3, "assistant", "G1 GAIN"),      // no AMPLIFICATION record -> CNV fallback tier_3
      turn("c1", 4, "tool", "G1 2.5"),            // OVEREXPRESSION + exon type records
      turn("c1", 5, "tool", "G1 -1.5"),           // UNDEREXPRESSION: no record -> EXPR fallback
      turn("c1", 6, "assistant", "G2 AMP"),       // SNV-only gene -> NON_CNV_MATCH_ONLY
      turn("c1", 7, "tool", "G2 1.0"),            // -> NON_EXPR_MATCH_ONLY
      turn("c1", 8, "user", "ZZZ c.1A>G|||")))    // unknown gene -> tier_4
    val bcIdx = spark.sparkContext.broadcast(
      DimIndex.build(spark, craftedDim, Pipeline.defaultCt))
    val want = byKey(MatchKernel.annotate(craftedTurns, bcIdx).collect())
    val got = byKey(MatchShuffle.annotate(spark, craftedTurns, craftedDim,
      Pipeline.defaultCt).collect())
    assert(got.keySet == want.keySet)
    for ((k, w) <- want)
      assert(got(k) == w, s"crafted mismatch at $k:\n  got  ${got(k)}\n  want $w")
    // pin the semantics the fixtures exist for (against the KERNEL, so
    // a fixture that stops exercising a path fails loudly)
    assert(want(("c1", 0)).tier_1 == Seq("10"))
    assert(want(("c1", 1)).tier_2 == Seq("11"),
      "general-variant promotion did not reduce tier_2 to the general bucket")
    assert(want(("c1", 2)).tier_1.contains("14") && want(("c1", 2)).tier_2.contains("13"),
      "DELETION did not hit both the CNV record and the exon-CNV positional")
    assert(want(("c1", 3)).tier_3.nonEmpty && !want(("c1", 3)).tier_3.exists(_.startsWith("NON_")))
    assert(want(("c1", 4)).tier_1.toSet == Set("15", "16"),
      "EXPR did not match both the type and exon-type records")
    assert(want(("c1", 5)).tier_3.nonEmpty)
    assert(want(("c1", 6)).tier_3 == Seq("NON_CNV_MATCH_ONLY"))
    assert(want(("c1", 7)).tier_3 == Seq("NON_EXPR_MATCH_ONLY"))
    assert(want(("c1", 8)).tier_4)
  }
}
