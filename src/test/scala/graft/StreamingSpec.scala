package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Turn
import graft.plans.IcebergLikeTable
import graft.sources.Synth
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.StreamConfig

/** Streaming semantics: batch==stream parity, watermark dedup,
  * session-automaton closure, exactly-once sink idempotency
  * (SURVEY.md §5.2 item 4).
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val bc = Pipeline.buildIndex(spark, nGenes = 12)
  private val cfg = StreamConfig(watermark = "10 minutes", partitions = 4)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("stream annotations == batch annotations (same input, no dups)") {
    import spark.implicits._
    val turnCfg = Synth.TurnGenConfig(nConvs = 12, turnsPerConv = 8, nGenes = 12)
    val rows = Synth.transcriptRows(turnCfg)

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val q = StreamingPipeline.annotations(mem.toDS(), bc, cfg)
      .writeStream.format("memory").queryName("ann_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(rows.take(rows.size / 2))
    q.processAllAvailable()
    mem.addData(rows.drop(rows.size / 2))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ann_out")
      .select("conv_id", "turn_idx", "gene_key", "highest_tier")
      .collect().map(_.toString).sorted
    val want = Pipeline.annotate(spark.createDataset(rows), bc)
      .select(col("conv_id"), col("turn_idx"), col("gene_key"), col("highest_tier"))
      .collect().map(_.toString).sorted
    assert(got.length == rows.size)
    assert(got.toSeq == want.toSeq)
  }

  test("dedup-first annotations: same rows as annotations, watermark survives") {
    import spark.implicits._
    val turnCfg = Synth.TurnGenConfig(nConvs = 12, turnsPerConv = 8,
      nGenes = 12, dupRate = 0.2)
    val rows = Synth.transcriptRows(turnCfg)

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val ann = StreamingPipeline.annotationsDedupFirst(mem.toDS(), bc, cfg)
    // a windowed streaming aggregate DOWNSTREAM of the UDF projection:
    // this would fail analysis ("Append output mode not supported ...
    // without watermark") if the kernel projection stripped the
    // event-time marker — starting the query IS the assertion
    val roll = StreamingPipeline.tierRollup(ann, cfg)
      .writeStream.format("memory").queryName("ddf_roll")
      .outputMode(OutputMode.Append).start()
    val q = StreamingPipeline.annotationsDedupFirst(mem.toDS(), bc, cfg)
      .writeStream.format("memory").queryName("ddf_ann")
      .outputMode(OutputMode.Append).start()
    mem.addData(rows.take(rows.size / 2))
    q.processAllAvailable(); roll.processAllAvailable()
    mem.addData(rows.drop(rows.size / 2))
    q.processAllAvailable(); roll.processAllAvailable()
    q.stop(); roll.stop()

    val got = spark.table("ddf_ann")
      .collect().map(_.toString).sorted
    // parity oracle: the annotate-first stream on the same input
    val mem2 = MemoryStream[Turn]
    val q2 = StreamingPipeline.annotations(mem2.toDS(), bc, cfg)
      .writeStream.format("memory").queryName("ddf_want")
      .outputMode(OutputMode.Append).start()
    mem2.addData(rows.take(rows.size / 2))
    q2.processAllAvailable()
    mem2.addData(rows.drop(rows.size / 2))
    q2.processAllAvailable()
    q2.stop()
    val want = spark.table("ddf_want").collect().map(_.toString).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("streaming near-dup pairs == batch simhash pairs (bounded state)") {
    import spark.implicits._
    import StreamingPipeline.DocEvent
    // planted near-dup corpus (same construction as DataOpsSpec)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
    val rnd = new scala.util.Random(11)
    val base = (0L until 30L).map { i =>
      i -> Seq.fill(50)(words(rnd.nextInt(words.size))).mkString(" ")
    }
    val dups = (0L until 6L).map { i =>
      val toks = base(i.toInt)._2.split(" "); toks(7) = "CHANGED"
      (100L + i) -> toks.mkString(" ")
    }
    // 1s spacing, 1h watermark: the whole corpus sits inside the
    // pairing horizon (= min(retention, watermark delay)) so the
    // stream must find every batch pair
    val corpus = (base ++ dups :+ (200L -> base(3)._2)).zipWithIndex.map {
      case ((id, text), k) =>
        DocEvent(id, text, new java.sql.Timestamp(1700000000000L + k * 1000L))
    }

    // batch ground truth over the same texts
    val want = graft.operators.NearDup.simhashNearDups(
        corpus.toDF().select(col("doc_id"), col("text")), "doc_id", "text",
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(want.nonEmpty, "fixture must contain near-dup pairs")

    // streamed in 3 micro-batches
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val q = StreamingPipeline.simhashNearDupPairs(mem.toDS(),
        StreamConfig(watermark = "1 hour"), maxHamming = 3)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append).start()
    for (chunk <- corpus.grouped((corpus.size + 2) / 3)) {
      mem.addData(chunk); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("neardup_out")
      .select("doc_a", "doc_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")

    // batch-mode execution of the SAME operator also equals the batch path
    val batchGot = StreamingPipeline.simhashNearDupPairs(
        spark.createDataset(corpus), StreamConfig(), maxHamming = 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(batchGot == want)
  }

  test("streaming packing == batch packBins, with state across micro-batches") {
    import spark.implicits._
    import StreamingPipeline.{PackEvent, PackedDoc}
    // two strata, varying token counts, event-time ordered
    val rnd = new scala.util.Random(5)
    val events = (0L until 60L).map { i =>
      PackEvent(if (i % 3 == 0) "en" else "de", i, 50 + rnd.nextInt(200),
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }
    // batch ground truth: the window-function operator over the same
    // ordering (ts increases with doc_id here)
    val want = graft.operators.Chunking.packBins(
        events.toDF(), "stratum", "doc_id", "n_tok", budget = 512)
      .select(col("stratum"), col("doc_id"), col("bin"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    // streamed in 4 micro-batches: the per-stratum running total must
    // carry across batch boundaries (a reset would restart bins at 0)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[PackEvent]
    val q = StreamingPipeline.packBinsStream(mem.toDS(),
        StreamConfig(watermark = "1 hour"), budget = 512)
      .writeStream.format("memory").queryName("pack_out")
      .outputMode(OutputMode.Append).start()
    for (chunk <- events.grouped(15)) {
      mem.addData(chunk); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("pack_out").as[PackedDoc]
      .collect().map(p => (p.stratum, p.doc_id, p.bin)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // the stream crossed bin boundaries (not all zero)
    assert(got.exists(_._3 > 0))

    // batch-mode execution of the SAME operator equals the batch path
    val batchGot = StreamingPipeline.packBinsStream(
        spark.createDataset(events), StreamConfig(), budget = 512)
      .collect().map(p => (p.stratum, p.doc_id, p.bin)).toSet
    assert(batchGot == want)
  }

  test("streaming near-dup per-bucket cap bounds state on templated bursts") {
    import spark.implicits._
    import StreamingPipeline.DocEvent
    // 300 IDENTICAL docs: every chunk bucket would hold all of them;
    // cap 8 keeps only the most recent 8 per bucket
    val burst = (0L until 300L).map(i =>
      DocEvent(i, "the same templated boilerplate text every time",
        new java.sql.Timestamp(1700000000000L + i * 1000L)))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val q = StreamingPipeline.simhashNearDupPairs(mem.toDS(),
        StreamConfig(watermark = "10 minutes"), maxHamming = 3, maxPerBucket = 8)
      .writeStream.format("memory").queryName("neardup_cap")
      .outputMode(OutputMode.Append).start()
    for (chunk <- burst.grouped(100)) { mem.addData(chunk); q.processAllAvailable() }
    q.stop()
    val n = spark.table("neardup_cap").count()
    // uncapped would emit 300*299/2 = 44850 pairs; capped: each arrival
    // pairs with <= 8 retained predecessors
    assert(n <= 300L * 8, s"cap did not bound emission: $n pairs")
    assert(n >= 292L * 8, "cap should still pair against the retained window")
  }

  test("streaming content dedup keeps the first arrival per normalized text") {
    import spark.implicits._
    import StreamingPipeline.DocEvent
    val t0 = 1700000000000L
    val docs = Seq(
      DocEvent(1L, "Hello   World", new java.sql.Timestamp(t0)),
      DocEvent(2L, "another document entirely", new java.sql.Timestamp(t0 + 1000)),
      DocEvent(3L, "hello world", new java.sql.Timestamp(t0 + 2000)),   // ws/case variant of 1
      DocEvent(4L, "HELLO WORLD ", new java.sql.Timestamp(t0 + 3000)),  // variant of 1
      DocEvent(5L, "another document entirely", new java.sql.Timestamp(t0 + 4000)))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val q = StreamingPipeline.dedupByContent(mem.toDS(),
        StreamConfig(watermark = "1 hour"))
      .writeStream.format("memory").queryName("content_dedup")
      .outputMode(OutputMode.Append).start()
    for (chunk <- docs.grouped(2)) { mem.addData(chunk); q.processAllAvailable() }
    q.stop()
    val got = spark.table("content_dedup").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L), s"expected first arrivals only, got $got")
    // batch-mode execution agrees (first-arrival-wins via min_by)
    val batchGot = StreamingPipeline.dedupByContent(
        spark.createDataset(docs), StreamConfig())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchGot == got)
  }

  test("streaming url dedup keeps the first arrival per canonical url") {
    import spark.implicits._
    import StreamingPipeline.UrlEvent
    val t0 = 1700000000000L
    val events = Seq(
      UrlEvent(1L, "HTTPS://WWW.Example.com/a?utm=1", new java.sql.Timestamp(t0)),
      UrlEvent(2L, "http://other.org/b", new java.sql.Timestamp(t0 + 1000)),
      UrlEvent(3L, "http://example.com/a#frag", new java.sql.Timestamp(t0 + 2000)), // canon dup of 1
      UrlEvent(4L, "https://example.com/A", new java.sql.Timestamp(t0 + 3000)),     // dup of 1 (canon lowercases the full url)
      UrlEvent(5L, "http://other.org/b?x=2", new java.sql.Timestamp(t0 + 4000)))    // dup of 2
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[UrlEvent]
    val q = StreamingPipeline.dedupByUrl(mem.toDS(),
        StreamConfig(watermark = "1 hour"))
      .writeStream.format("memory").queryName("url_dedup")
      .outputMode(OutputMode.Append).start()
    for (chunk <- events.grouped(2)) { mem.addData(chunk); q.processAllAvailable() }
    q.stop()
    val got = spark.table("url_dedup").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L), s"expected first arrivals only, got $got")
    val batchGot = StreamingPipeline.dedupByUrl(
        spark.createDataset(events), StreamConfig())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchGot == got)
  }

  test("escalation CEP: strict runs found, plateaus break, stream==batch") {
    import spark.implicits._
    import graft.operators.Annotation
    val t0 = 1700000000000L
    def ann(conv: String, idx: Int, tier: String) =
      Annotation(conv, idx, "user", new java.sql.Timestamp(t0 + idx * 60000L),
        "G", "SNV", Nil, Nil, Nil, Nil, tier_4 = tier == "tier_4",
        tier, Nil, Nil, Nil, Nil)
    // convA: 4->3->2->2->1: strict runs of 3 end at idx 2 (4,3,2) and
    //   idx 4 would need 2>2 strict — broken by the plateau, so the
    //   (2,2,1) window at idx 4 is NOT a run; only idx 2 emits.
    // convB: 1b->2->3: worsening, nothing emits.
    val a = Seq(ann("convA", 0, "tier_4"), ann("convA", 1, "tier_3"),
      ann("convA", 2, "tier_2"), ann("convA", 3, "tier_2"),
      ann("convA", 4, "tier_1"))
    val b = Seq(ann("convB", 0, "tier_1b"), ann("convB", 1, "tier_2"),
      ann("convB", 2, "tier_3"))
    // convC's run arrives REORDERED across micro-batches (turn 1 in a
    // later batch than turn 2, both within the watermark): the
    // pending buffer must still finalize 4->3->2 in order
    val c = Seq(ann("convC", 0, "tier_4"), ann("convC", 1, "tier_3"),
      ann("convC", 2, "tier_2"))
    // watermark-advancing sentinel (single turn — can never form a
    // run): in streaming it pushes the watermark past every real turn
    // so the pending buffers finalize before the query stops
    val z = Seq(ann("convZ", 50, "tier_4"))
    val want = Set(("convA", 2, 2, 4), ("convC", 2, 2, 4))
    val batchGot = StreamingPipeline.escalationsStream(
        spark.createDataset(a ++ b ++ c ++ z), StreamConfig(), runLen = 3)
      .collect().map(e => (e.conv_id, e.turn_idx, e.tier_rank,
        e.from_rank)).toSet
    assert(batchGot == want, s"batch got $batchGot")
    // streaming across micro-batch boundaries mid-run: same rows.
    // The 10-minute watermark delay keeps convC's reordered turn 1
    // INSIDE the watermark when it arrives one batch after turn 2
    // (a tighter delay would let Spark's stateful pre-filter drop it
    // as genuinely late — the documented contract). Two sentinel
    // batches: the first advances the watermark past every real turn,
    // the second delivers the event-time timeouts that flush the
    // pending buffers.
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Annotation]
    val q = StreamingPipeline.escalationsStream(mem.toDS(),
        StreamConfig(watermark = "10 minutes"), runLen = 3)
      .writeStream.format("memory").queryName("esc")
      .outputMode(OutputMode.Append).start()
    for (chunk <- Seq(
        a.take(2) ++ b.take(1) ++ Seq(c(0), c(2)),
        a.drop(2) ++ b.drop(1) ++ Seq(c(1)),
        z, Seq(ann("convZ", 51, "tier_4")))) {
      mem.addData(chunk); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("esc")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getInt(3))).toSet
    assert(got == want, s"stream got $got")
  }

  test("escalation CEP: hot-conversation pending cap bounds state, " +
      "in-order arrivals unaffected") {
    import spark.implicits._
    import graft.operators.Annotation
    val t0 = 1700000000000L
    def ann(conv: String, idx: Int, tier: String) =
      Annotation(conv, idx, "user", new java.sql.Timestamp(t0 + idx * 60000L),
        "G", "SNV", Nil, Nil, Nil, Nil, tier_4 = tier == "tier_4",
        tier, Nil, Nil, Nil, Nil)
    // planted hot conversation: 40 in-order turns arrive in ONE batch
    // while the watermark lags far behind (none watermark-finalizable)
    // — with maxPending = 8 the oldest 32 force-finalize immediately,
    // so state holds at most 8 pending rows; alternating 3/2/1 runs
    // give a known escalation set
    val tiers = Array("tier_3", "tier_2", "tier_1")
    val hot = (0 until 40).map(i => ann("hotC", i, tiers(i % 3)))
    val want = StreamingPipeline.escalationsStream(
        spark.createDataset(hot), StreamConfig(), runLen = 3)
      .collect().map(e => (e.conv_id, e.turn_idx)).toSet
    assert(want.nonEmpty)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Annotation]
    val q = StreamingPipeline.escalationsStream(mem.toDS(),
        StreamConfig(watermark = "10 minutes"), runLen = 3,
        maxPending = 8)
      .writeStream.format("memory").queryName("esc_cap")
      .outputMode(OutputMode.Append).start()
    mem.addData(hot)
    q.processAllAvailable()
    // an out-of-order row ordering BEFORE the forced frontier is the
    // documented sacrifice: it must drop silently, not corrupt the
    // finalized sequence
    mem.addData(Seq(ann("hotC", 1, "tier_1")))
    q.processAllAvailable()
    mem.addData(Seq(ann("convZ", 500, "tier_4")))
    q.processAllAvailable()
    mem.addData(Seq(ann("convZ", 501, "tier_4")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("esc_cap")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got == want, s"capped stream got $got want $want")
  }

  test("burst detector: stream==batch, adjacency rule, late rows dropped") {
    import spark.implicits._
    import StreamingPipeline.TokenEvent
    val t0 = 1700000040000L // window-aligned (divisible by 60 000)
    def ev(tok: String, sec: Long) =
      TokenEvent(tok, new java.sql.Timestamp(t0 + sec * 1000))
    val w0 = t0 / 1000
    // a: w0 cnt 3 (burst: prev 0), w1 cnt 5 (5 < 2·3 — no), w2 cnt 10
    //    (10 >= 2·5 — burst); b: w0 cnt 2 (< minCount), w2 cnt 3
    //    (gap ⇒ prev 0 — burst)
    val batch1 = Seq(ev("a", 1), ev("a", 2), ev("a", 3), ev("b", 5),
      ev("b", 6)) ++ (61L to 65L).map(ev("a", _))
    val batch2 = (121L to 130L).map(ev("a", _)) ++
      Seq(ev("b", 125), ev("b", 126), ev("b", 127), ev("zzz", 400))
    val late = Seq(ev("a", 10)) // w0 already closed by the watermark
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[TokenEvent]
    val q = StreamingPipeline.burstDetectStream(mem.toDS(),
        StreamConfig(watermark = "10 seconds"),
        windowSec = 60, minCount = 3, ratio = 2)
      .writeStream.format("memory").queryName("bursts")
      .outputMode(OutputMode.Append).start()
    for (chunk <- Seq(batch1, batch2, late)) {
      mem.addData(chunk); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("bursts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val want = Set(("a", w0, 3L, 0L), ("a", w0 + 120, 10L, 5L),
      ("b", w0 + 120, 3L, 0L))
    assert(got == want, s"got $got")
    // batch mode (the late row excluded — batch has no watermark to
    // drop it) closes every window, including the sentinel's
    // sub-minCount one, and must agree exactly
    val batchGot = StreamingPipeline.burstDetectStream(
        spark.createDataset(batch1 ++ batch2),
        StreamConfig(), windowSec = 60, minCount = 3, ratio = 2)
      .collect().map(b => (b.token, b.ws, b.cnt, b.prev_cnt)).toSet
    assert(batchGot == want, s"batch got $batchGot")
  }

  test("streaming per-domain cap admits earliest arrivals and carries quota") {
    import spark.implicits._
    import StreamingPipeline.UrlEvent
    val t0 = 1700000000000L
    def ev(id: Long, url: String, off: Long) =
      UrlEvent(id, url, new java.sql.Timestamp(t0 + off))
    // batch 1 arrives with a.com out of event-time order: admission
    // must pick the earliest (ts, doc_id), not iterator order
    val batch1 = Seq(
      ev(1L, "https://A.com/x", 2000),
      ev(2L, "http://www.a.com/y", 0),
      ev(3L, "http://a.com/z", 1000),
      ev(4L, "http://b.org/1", 500))
    // batch 2: a.com's quota (2) is already spent; b.org has room for 1
    val batch2 = Seq(
      ev(5L, "https://a.com/w", 3000),
      ev(6L, "http://b.org/2", 4000),
      ev(7L, "http://b.org/3", 5000))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[UrlEvent]
    val q = StreamingPipeline.capPerDomainStream(mem.toDS(),
        StreamConfig(watermark = "1 hour"), maxPerDomain = 2)
      .writeStream.format("memory").queryName("domain_cap")
      .outputMode(OutputMode.Append).start()
    for (chunk <- Seq(batch1, batch2)) { mem.addData(chunk); q.processAllAvailable() }
    q.stop()
    val got = spark.table("domain_cap").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L, 4L, 6L), s"got $got")
    // batch-mode execution = one group pass from empty state: the
    // first 2 per domain by (ts, doc_id) over the whole input
    val batchGot = StreamingPipeline.capPerDomainStream(
        spark.createDataset(batch1 ++ batch2), StreamConfig(),
        maxPerDomain = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchGot == got, s"batch got $batchGot")
  }

  test("streaming paragraph dedup: first arrival wins, reassembly matches batch") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = Seq(
      StreamingPipeline.DocEvent(1L, "alpha\nSHARED FOOTER\nbeta\nbeta", ts),
      StreamingPipeline.DocEvent(2L, "SHARED FOOTER\ngamma", ts),
      StreamingPipeline.DocEvent(3L, "SHARED FOOTER", ts))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamingPipeline.DocEvent]
    val q = StreamingPipeline.dedupParagraphsStream(mem.toDS(), cfg)
      .writeStream.format("memory").queryName("para_dedup")
      .outputMode(OutputMode.Append).start()
    mem.addData(rows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("para_dedup")
      .select("doc_id", "pos", "para")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // survivors: doc 1 keeps everything but its in-doc repeat; the
    // footer's later arrivals are suppressed
    assert(got == Set((1L, 0, "alpha"), (1L, 1, "SHARED FOOTER"),
      (1L, 2, "beta"), (2L, 1, "gamma")))
    // per-batch reassembly of the survivors equals the batch operator
    val reassembled = got.groupBy(_._1).map { case (d, ps) =>
      d -> ps.toSeq.sortBy(_._2).map(_._3).mkString("\n") }
    val want = graft.operators.TextOps.dedupParagraphs(
        rows.toDS().toDF(), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .filter(_._2.nonEmpty).toMap
    assert(reassembled == want)
    // batch-mode execution of the streaming operator picks the same
    // survivors (stream == batch)
    val batchGot = StreamingPipeline.dedupParagraphsStream(rows.toDS(), cfg)
      .collect().map(p => (p.doc_id, p.pos, p.para)).toSet
    assert(batchGot == got)
  }

  test("streaming near-dup horizon: pairs beyond the watermark are not emitted") {
    import spark.implicits._
    import StreamingPipeline.DocEvent
    // identical docs 30 min apart with a 10-min watermark: by the time
    // the second arrives, the first has aged out of every bucket
    val t0 = 1700000000000L
    val far = Seq(
      DocEvent(1L, "same text here for both documents", new java.sql.Timestamp(t0)),
      DocEvent(2L, "unrelated filler alpha beta gamma delta", new java.sql.Timestamp(t0 + 20 * 60000L)),
      DocEvent(3L, "same text here for both documents", new java.sql.Timestamp(t0 + 30 * 60000L)))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val q = StreamingPipeline.simhashNearDupPairs(mem.toDS(),
        StreamConfig(watermark = "10 minutes"), maxHamming = 3)
      .writeStream.format("memory").queryName("neardup_horizon")
      .outputMode(OutputMode.Append).start()
    for (d <- far) { mem.addData(d); q.processAllAvailable() }
    q.stop()
    assert(spark.table("neardup_horizon").count() == 0,
      "docs outside the watermark horizon must not pair")
  }

  test("duplicates within watermark are dropped by (conv_id, turn_idx)") {
    import spark.implicits._
    val turnCfg = Synth.TurnGenConfig(nConvs = 10, turnsPerConv = 6,
      nGenes = 12, dupRate = 0.3)
    val rows = Synth.transcriptRows(turnCfg)
    val base = turnCfg.nConvs * turnCfg.turnsPerConv
    assert(rows.size > base, "fixture should contain duplicates")

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val q = StreamingPipeline.annotations(mem.toDS(), bc, cfg)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(rows)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dedup_out").select("conv_id", "turn_idx").collect()
    assert(got.length == base, s"expected $base deduped rows, got ${got.length}")
    assert(got.map(_.toString).distinct.length == base)
  }

  test("RocksDB dedup state survives a mid-stream kill and resumes exactly-once") {
    import spark.implicits._
    val turnCfg = Synth.TurnGenConfig(nConvs = 40, turnsPerConv = 5,
      nGenes = 12, dupRate = 0.25)
    val rows = Synth.transcriptRows(turnCfg)
    val base = turnCfg.nConvs * turnCfg.turnsPerConv
    val srcDir = tmp("rocksrc"); val ckpt = tmp("rocksckpt")
    val sink = tmp("rocksink") + "/out"
    rows.toDS().repartition(8).write.mode("overwrite").parquet(srcDir)
    val schema = implicitly[org.apache.spark.sql.Encoder[Turn]].schema

    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir).as[Turn]
      .withWatermark("ts", "3650 days") // nothing evicts: state = all keys
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")
      .select(col("conv_id"), col("turn_idx"))
      .writeStream.outputMode(OutputMode.Append)
      .format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // phase 1: kill the query mid-stream (after >=1 committed batch)
      val q1 = start()
      while (q1.isActive && Option(q1.lastProgress).isEmpty) Thread.sleep(10)
      q1.stop()
      // phase 2: same checkpoint, run to completion
      val q2 = start()
      q2.awaitTermination()
      assert(q2.recentProgress.nonEmpty, "resume processed no batches")
      // the sink read honors _spark_metadata: a replayed batch would
      // surface as dupes, a dropped one as loss
      val got = spark.read.parquet(sink).select("conv_id", "turn_idx").collect()
      assert(got.length == base, s"expected $base rows, got ${got.length}")
      assert(got.map(_.toString).distinct.length == base, "duplicate keys in sink")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("session automaton closes sessions on event-time gap") {
    import spark.implicits._
    val t0 = 1700000000000L
    def turn(conv: String, idx: Int, offMs: Long): Turn =
      Turn(conv, idx, "assistant", "ENT0001 AMP", "",
        new java.sql.Timestamp(t0 + offMs))
    // conv A: two sessions separated by a 2h gap; conv B: watermark pusher
    val batch1 = Seq(
      turn("A", 0, 0L), turn("A", 1, 60000L), turn("A", 2, 120000L),
      turn("A", 3, 2 * 3600 * 1000L), turn("A", 4, 2 * 3600 * 1000L + 60000L))
    val pusher = Seq(turn("B", 0, 8 * 3600 * 1000L))

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val ann = StreamingPipeline.annotations(mem.toDS(), bc, cfg)
    val q = StreamingPipeline.sessionAutomaton(ann, cfg)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(batch1)
    q.processAllAvailable()
    mem.addData(pusher)
    q.processAllAvailable()
    // one more batch so the watermark from `pusher` takes effect on timeouts
    mem.addData(Seq(turn("B", 1, 8 * 3600 * 1000L + 1000L)))
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sess_out")
      .filter(col("conv_id") === "A")
      .select("n_turns").collect().map(_.getInt(0)).sorted.toSeq
    assert(sessions == Seq(2, 3), s"expected sessions of 3 and 2 turns, got $sessions")
  }

  test("session automaton closes a session that a late row ends behind the watermark") {
    import spark.implicits._
    val t0 = 1700000000000L
    val hour = 3600 * 1000L
    def turn(conv: String, idx: Int, offMs: Long): Turn =
      Turn(conv, idx, "assistant", "ENT0001 AMP", "",
        new java.sql.Timestamp(t0 + offMs))
    // one file per trigger. Trigger 3 filters late rows with the
    // watermark after trigger 1 (t0 - 9 min) but checks timeouts against
    // the one after trigger 2's pusher (t0 + 7h50): A's row at t0 + 1h
    // passes the filter and opens a session whose timeout (t0 + 1h30)
    // the watermark has already passed
    val triggers = Seq(
      Seq(turn("A", 0, 0L), turn("A", 1, 60000L)),
      Seq(turn("B", 0, 8 * hour)),
      Seq(turn("A", 2, hour)))
    val srcDir = java.nio.file.Paths.get(tmp("sesslate"))
    val now = System.currentTimeMillis()
    triggers.zipWithIndex.foreach { case (rows, i) =>
      val out = tmp("sesslate_part")
      rows.toDS().coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val f = Files.move(part, srcDir.resolve(s"t$i.parquet"))
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(now - (3 - i) * 1000L))
    }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Turn].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString).as[Turn]
    val q = StreamingPipeline.sessionAutomaton(
        StreamingPipeline.annotations(stream, bc, cfg), cfg)
      .writeStream.format("memory").queryName("sess_late_out")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val sessions = spark.table("sess_late_out")
      .filter(col("conv_id") === "A")
      .select("n_turns").collect().map(_.getInt(0)).sorted.toSeq
    assert(sessions == Seq(1, 2), s"expected sessions of 2 and 1 turns, got $sessions")
  }

  test("exactly-once sink: idempotent partition replace + checkpoint resume") {
    import spark.implicits._
    val turnCfg = Synth.TurnGenConfig(nConvs = 8, turnsPerConv = 5, nGenes = 12)
    val rows = Synth.transcriptRows(turnCfg)
    val srcDir = tmp("src"); val tableDir = tmp("table"); val ckpt = tmp("ckpt")
    spark.createDataset(rows).write.mode("overwrite").parquet(srcDir)

    val table = new IcebergLikeTable(tableDir, Seq("data_type", "conv_bucket"))
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.createDataset(rows).schema)
        .parquet(srcDir).as[Turn]
      val ann = StreamingPipeline.annotations(stream, bc, cfg)
      val q = StreamingPipeline.startAnnotationSink(ann, table, ckpt)
      q.awaitTermination() // AvailableNow terminates when caught up
    }
    runOnce()
    val n1 = spark.read.parquet(tableDir).count()
    assert(n1 == rows.size.toLong)
    val snaps1 = table.snapshots()
    assert(snaps1.nonEmpty)

    // restart with same checkpoint: no new data -> no duplicate rows
    runOnce()
    val n2 = spark.read.parquet(tableDir).count()
    assert(n2 == n1, s"restart duplicated rows: $n1 -> $n2")

    // replaying an already-committed batch is a no-op
    val batch = spark.read.parquet(tableDir)
    table.replacePartitions(batch, snaps1.head)
    assert(spark.read.parquet(tableDir).count() == n1)

    // incremental resume: NEW source rows after restart are processed
    // exactly once on top of the old table state
    val moreCfg = turnCfg.copy(nConvs = 3, baseTs = turnCfg.baseTs + 86400000L)
    val more = Synth.transcriptRows(moreCfg)
      .map(t => t.copy(conv_id = "late_" + t.conv_id))
    spark.createDataset(more).write.mode("append").parquet(srcDir)
    runOnce()
    val n3 = spark.read.parquet(tableDir).count()
    assert(n3 == n1 + more.size,
      s"incremental resume wrong: $n1 + ${more.size} != $n3")
  }

  test("sink compaction: manifest-committed rewrite, same rows, fewer files") {
    import spark.implicits._
    val tableDir = tmp("compact_table")
    val table = new IcebergLikeTable(tableDir, Seq("data_type"))
    // five small micro-batches (the streaming small-files pathology)
    val turnCfg = Synth.TurnGenConfig(nConvs = 10, turnsPerConv = 4, nGenes = 12)
    val ann = Pipeline.annotate(
      spark.createDataset(Synth.transcriptRows(turnCfg)), bc).toDF()
      .select("conv_id", "turn_idx", "data_type", "highest_tier")
    for (b <- 0L until 4L)
      table.replacePartitions(ann.filter(col("turn_idx") % 4 === b), b)
    def files(): Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tableDir))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    val before = table.read(spark).drop("_batch_id")
      .collect().map(_.toString).sorted
    val filesBefore = files()
    assert(table.liveBatches() == Seq(0L, 1L, 2L, 3L))

    table.compact(spark, compactionId = 100L)
    assert(table.liveBatches() == Seq(100L), "compaction must replace all live batches")
    val after = table.read(spark).drop("_batch_id")
      .collect().map(_.toString).sorted
    assert(after.toSeq == before.toSeq, "compaction changed table contents")
    // TIME TRAVEL: until expiry, pre-compaction snapshots stay readable
    // and replay the manifest log to their point in time
    val asOf3 = table.readAsOf(spark, 3L).drop("_batch_id")
      .collect().map(_.toString).sorted
    assert(asOf3.toSeq == before.toSeq, "time travel to snapshot 3 drifted")
    assert(table.readAsOf(spark, 1L).count() < before.length.toLong,
      "snapshot 1 must predate batches 2-3")
    assertThrows[IllegalArgumentException](table.readAsOf(spark, 55L))
    // expiry reclaims the dead snapshots' files (rewrite vs expire
    // split); after it, history reads fail loudly instead of
    // returning silently-empty results
    table.expireSnapshots()
    assert(files() < filesBefore,
      s"expiry did not reduce file count (${files()} vs $filesBefore)")
    assert(table.read(spark).drop("_batch_id")
      .collect().map(_.toString).sorted.toSeq == before.toSeq,
      "expiry changed the live table")
    assertThrows[IllegalArgumentException](table.readAsOf(spark, 3L))
    // idempotent: re-running the same compaction id is a no-op
    table.compact(spark, compactionId = 100L)
    assert(table.read(spark).count() == before.length.toLong)
    // a later batch appends on top of the compacted state
    table.replacePartitions(ann.limit(7), 101L)
    assert(table.liveBatches() == Seq(100L, 101L))
    assert(table.read(spark).count() == before.length.toLong + 7)
  }

  test("windowed tier rollup emits finalized windows") {
    import spark.implicits._
    val turnCfg = Synth.TurnGenConfig(nConvs = 6, turnsPerConv = 6, nGenes = 12)
    val rows = Synth.transcriptRows(turnCfg)
    // watermark pusher: one far-future row finalizes all windows
    val pusher = Turn("zz", 0, "assistant", "ENT0001 AMP", "",
      new java.sql.Timestamp(rows.map(_.ts.getTime).max + 48 * 3600 * 1000L))

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val ann = StreamingPipeline.annotations(mem.toDS(), bc, cfg)
    val q = StreamingPipeline.tierRollup(ann, cfg)
      .writeStream.format("memory").queryName("rollup_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(rows)
    q.processAllAvailable()
    mem.addData(Seq(pusher))
    q.processAllAvailable()
    q.stop()

    val rollup = spark.table("rollup_out")
    val total = rollup.agg(sum("n_turns")).collect()(0).getLong(0)
    assert(total == rows.size.toLong, s"rollup covered $total of ${rows.size} turns")
    assert(rollup.select("highest_tier").distinct().count() >= 3)
  }
}
