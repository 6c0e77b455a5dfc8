package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Turn
import graft.sources.Synth
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.StreamConfig

/** Physical-plan discipline (builder mandate: `.explain` the plan and
  * iterate until it is the plan you'd want) + late-data determinism
  * (the north-star parity condition) + sliding/session window rollups.
  */
class PlanQualitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("filters and projections are pushed into the parquet scan") {
    val plan = SparkEntry.queries("q01_pricing_summary")(spark, sf)
      .queryExecution.executedPlan.toString
    // column pruning: the scan must not read all 11 lineitem columns
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("l_shipdate"),
      "projection not pruned: scan reads unused l_shipdate")

    val filtered = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_quantity"))
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      fplan)
  }

  test("small dimensions join via BroadcastHashJoin, no sort-merge") {
    val plan = SparkEntry.queries("q03_region_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      "dimension join degraded to sort-merge:\n" + plan)
  }

  test("annotation path is map-only: no exchange before the kernel") {
    import spark.implicits._
    val bc = Pipeline.cachedIndex(spark, 12)
    val turns = Synth.transcripts(spark, Synth.TurnGenConfig(nConvs = 10,
      turnsPerConv = 5, nGenes = 12))
    val plan = Pipeline.annotate(turns, bc)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "per-turn annotation should not shuffle:\n" + plan)
  }

  test("windowed rollup partial-aggregates before the exchange") {
    import spark.implicits._
    val bc = Pipeline.cachedIndex(spark, 12)
    val turns = Synth.transcripts(spark, Synth.TurnGenConfig(nConvs = 10,
      turnsPerConv = 5, nGenes = 12))
    val rollup = Pipeline.annotate(turns, bc).toDF()
      .groupBy(window(col("ts"), "1 hour"), col("highest_tier"))
      .agg(count(lit(1)))
    val plan = rollup.queryExecution.executedPlan.toString
    // partial_count before Exchange = map-side combine
    val exchangeIdx = plan.indexOf("Exchange")
    val partialIdx = plan.indexOf("partial_count")
    assert(partialIdx > exchangeIdx && exchangeIdx >= 0,
      "no map-side partial aggregation before the shuffle:\n" + plan)
  }

  test("late-data determinism: same input + watermark => identical output") {
    import spark.implicits._
    val bc = Pipeline.cachedIndex(spark, 12)
    val cfg = StreamConfig(watermark = "5 minutes", partitions = 4)
    val rows = Synth.transcriptRows(Synth.TurnGenConfig(
      nConvs = 15, turnsPerConv = 10, nGenes = 12, lateRate = 0.2))

    def runOnce(name: String): Seq[String] = {
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[Turn]
      val q = StreamingPipeline.annotationsDedupFirst(mem.toDS(), bc, cfg)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      // identical chunking both runs: 3 batches
      for (chunk <- rows.grouped((rows.size + 2) / 3)) {
        mem.addData(chunk); q.processAllAvailable()
      }
      q.stop()
      spark.table(name).select("conv_id", "turn_idx", "highest_tier")
        .collect().map(_.toString).sorted.toSeq
    }
    val a = runOnce("late_a")
    val b = runOnce("late_b")
    assert(a == b, "same input + watermark must produce identical output")
    // and the late injection actually dropped something vs batch
    val batchCount = rows.map(t => (t.conv_id, t.turn_idx)).distinct.size
    assert(a.size <= batchCount)
  }

  test("sliding and session-window rollups (batch-mode semantics)") {
    import spark.implicits._
    val bc = Pipeline.cachedIndex(spark, 12)
    val cfg = StreamConfig(tierWindow = "1 hour", sessionGapMs = 30 * 60 * 1000L)
    val ann = Pipeline.annotate(
      spark.createDataset(Synth.transcriptRows(Synth.TurnGenConfig(
        nConvs = 8, turnsPerConv = 6, nGenes = 12))), bc)

    val tumbling = StreamingPipeline.tierRollup(ann, cfg)
    val sliding = StreamingPipeline.tierRollupSliding(ann, cfg, "30 minutes")
    val tSum = tumbling.agg(sum("n_turns")).collect()(0).getLong(0)
    val sSum = sliding.agg(sum("n_turns")).collect()(0).getLong(0)
    assert(tSum == ann.count())
    assert(sSum == 2 * tSum, "each turn must land in window/slide sliding windows")

    val sessions = StreamingPipeline.sessionRollup(ann, cfg)
    assert(sessions.agg(sum("n_turns")).collect()(0).getLong(0) == ann.count())
    // turns 30s apart within a conversation coalesce into one session
    assert(sessions.groupBy("conv_id").count()
      .collect().forall(_.getLong(1) == 1L))
  }

  test("TSV reader line numbering never funnels through one partition") {
    val snv = graft.sources.TsvReader.readSnvs(spark,
      "/root/reference/civicutils/data/example_snv.txt")
    val plan = snv.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      "per-file window degraded to a global single-partition exchange:\n" + plan)
    // numbering itself unchanged: 0-based, dense, per file
    val lines = snv.select("n_line").collect().map(_.getLong(0)).sorted
    assert(lines.toSeq == lines.indices.map(_.toLong))
  }

  test("near-dup family plans never degrade to cartesian products") {
    for (q <- Seq("q14_minhash_neardup", "q15_simhash_neardup",
        "q35_embed_neardup", "q36_jaccard_exact", "q39_stream_neardup")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q plan contains a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a nested-loop join:\n$plan")
    }
  }

  test("near-dup candidate joins read bucket-count-capped inputs") {
    // every LSH-family path (minhash bands, simhash chunks, embedding
    // tables) must filter degenerate buckets BEFORE pairs explode from
    // the bucket lists — the optimized plan carries the `_n <= maxBucket`
    // count filter; without it one templated-corpus bucket makes its
    // pair list quadratic
    for (q <- Seq("q14_minhash_neardup", "q15_simhash_neardup",
        "q35_embed_neardup")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan
      val capFilters = plan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.references.exists(_.name == "_n") => f
      }
      assert(capFilters.nonEmpty,
        s"$q candidate join input is not bucket-count-filtered:\n$plan")
    }
  }

  test("near-dup pairs never come from a block self-join") {
    import spark.implicits._
    // a block self-join is a join keyed on the block column (`s` for
    // shingle postings, `cell` for SemDeDup) with member ids on BOTH
    // sides; the cap joins (stop set, cell sizes) carry ids on one side
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.filter(col("doc_id") < 400L)
    val inc = docs.filter(col("doc_id") >= 400L)
    val emb = (0L until 20L)
      .map(i => (i, Array.tabulate(4)(j => ((i + j) % 5).toFloat)))
      .toDF("doc_id", "vec")
    val cells = (0L until 20L).map(i => (i, (i % 3).toInt)).toDF("id", "cell")
    val plans = Seq(
      "jaccard uncapped" -> operators.NearDup.jaccardNearDups(docs, "doc_id",
        "text", maxDocFreq = 0),
      "jaccard stop set" -> operators.NearDup.jaccardNearDups(docs, "doc_id",
        "text", stopShingles = Set(1L, 2L, 3L)),
      "against uncapped" -> operators.NearDup.jaccardNearDupsAgainst(base, inc,
        "doc_id", "text", maxDocFreq = 0),
      "semdedup" -> operators.Similarity.semDedupVerdicts(cells, emb, "doc_id",
        "vec", tau = 0.9))
    val blockCols = Set("s", "cell")
    val memberIds = Set("doc", "id", "lhs", "rhs", "doc_a", "doc_b")
    for ((name, df) <- plans) {
      val plan = df.queryExecution.optimizedPlan
      val selfJoins = plan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.exists(_.references.exists(a => blockCols(a.name))) &&
              j.left.output.exists(a => memberIds(a.name)) &&
              j.right.output.exists(a => memberIds(a.name)) => j
      }
      assert(selfJoins.isEmpty, s"$name derives pairs by a block self-join:\n$plan")
    }
  }

  test("ANN candidate dedup exchanges carry ids only, never vectors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val cands = Seq(
      "lsh" -> operators.Similarity.lshCandidates(emb, q, "vec_id", "embedding",
        nBits = 4, nTables = 4),
      "ivf" -> operators.Similarity.ivfCandidates(emb, q, "vec_id", "embedding",
        nCentroids = 4, nProbe = 2))
    for ((name, df) <- cands) {
      val dedups = df.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.groupingExpressions.flatMap(_.references.map(_.name))
              .toSet == Set("query_id", "item_id") => a
      }
      assert(dedups.nonEmpty, s"$name candidate dedup aggregate not found")
      for (a <- dedups)
        assert(a.output.forall(o => !o.name.endsWith("_vec")),
          s"$name dedup exchange still carries vector payloads: ${a.output}")
    }
  }

  test("documentStats is one map-only select: no join, no shuffle") {
    val stats = operators.TextOps.documentStats(
      spark.read.parquet(s"$sf/documents.parquet"))
    val opt = stats.queryExecution.optimizedPlan
    assert(opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, s"documentStats self-joins:\n$opt")
    assert(!stats.queryExecution.executedPlan.toString.contains("Exchange"),
      "documentStats shuffles")
  }

  test("bucketed tables join co-located: no Exchange in the join plan") {
    // the 100 TB co-location story: pre-bucket both sides of a
    // recurring join on its key and the shuffle disappears entirely
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    spark.read.parquet(s"$sf/orders.parquet")
      .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    spark.read.parquet(s"$sf/customer.parquet")
      .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").saveAsTable("customer_b")
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b").hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, "expected a sort-merge join over bucketed tables:\n" + plan)
    // no shuffle below the join: the only Exchange allowed is the one
    // ABOVE it for the final aggregation
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange"),
      "bucketed join still shuffles its inputs:\n" + plan)
    // same result as the shuffle join
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
  }

  test("q19 SQL interface is deterministic across repeated runs") {
    def run() = SparkEntry.queries("q19_sql_interface")(spark, sf)
      .collect().map(_.toString).toSeq
    val a = run(); val b = run()
    assert(a == b, "q19 output flapped between runs")
    // and the plan carries no global Sort below the aggregate
    val plan = SparkEntry.queries("q19_sql_interface")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("first("), "nondeterministic first() crept back in")
  }

  test("component star rounds: window passes only — no joins, no broadcasts") {
    import spark.implicits._
    val edges = Seq((3L, 1L), (5L, 2L), (7L, 1L)).toDF("u", "v")
    def hashExchanges(plan: String): Int =
      "Exchange hashpartitioning".r.findAllIn(plan).size
    // large-star: exactly ONE exchange (the window partitioning); the
    // former aggregate-join form planned a second exchange — or a
    // node-count-sized BroadcastExchange, 4 of which per round were
    // the measured latency driver (BENCH.md R4.2)
    val lp = operators.Components.largeStar(edges)
      .queryExecution.executedPlan.toString
    assert(!lp.contains("Join"), s"large-star must not join:\n$lp")
    assert(!lp.contains("BroadcastExchange"), lp)
    assert(hashExchanges(lp) == 1, s"large-star must be ONE exchange:\n$lp")
    // full round: large (1) + small window (1) + small distinct (1)
    val rp = operators.Components.smallStar(operators.Components.largeStar(edges))
      .queryExecution.executedPlan.toString
    assert(!rp.contains("Join"), s"round must not join:\n$rp")
    assert(!rp.contains("BroadcastExchange"), rp)
    assert(hashExchanges(rp) == 3, s"round must be THREE exchanges:\n$rp")
  }

  test("exact-count sampling is one stratum window exchange") {
    val plan = SparkEntry.queries("q62_exact_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"q62 must shuffle once (the stratum window):\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("LM scorer and incremental dedup never degrade to non-equi joins") {
    for (q <- Seq("q60_lm_score", "q61_incremental_dedup")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to a non-equi join:\n$plan")
    }
  }

  test("bigram LM derives bigrams map-only: no window, no self-join, equi-joins only") {
    import spark.implicits._
    val docs = Seq((0L, "a b c d"), (1L, "b c x")).toDF("doc_id", "text")
    val plan = operators.Relevance.bigramLmScoreQuantized(docs, docs,
      "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bigram LM degraded to a non-equi join:\n$plan")
    // the (w_i, w_i+1) pairing must come from the zipped array slices,
    // never a positional self-join or a window sort over the corpus
    assert(!plan.contains("Window"), s"bigram pairing used a window:\n$plan")
  }

  test("full-shuffle match path: equi-joins only, bounded-payload exchanges") {
    import spark.implicits._
    val dim = graft.sources.Synth.evidenceDim(spark, 12, 42L).toDF()
    val turns = graft.sources.Synth.transcripts(spark,
      graft.sources.Synth.TurnGenConfig(nConvs = 5, turnsPerConv = 6, nGenes = 12))
    val plan = operators.MatchShuffle.annotate(spark, turns, dim,
      Pipeline.defaultCt).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"full-shuffle match degraded to a non-equi join:\n$plan")
    operators.NearDup.unpersistAll()
  }

  test("hybrid star round: hot mins broadcast tiny, cold bulk stays one window pass") {
    import spark.implicits._
    val edges = Seq((3L, 1L), (5L, 2L), (7L, 1L), (9L, 1L)).toDF("u", "v")
    def hashExchanges(plan: String): Int =
      "Exchange hashpartitioning".r.findAllIn(plan).size
    val hot = Seq[Any](1L)
    val lp = operators.Components.largeStarHybrid(edges, hot)
      .queryExecution.executedPlan.toString
    // cold window (1) + hot partial-agg min (1); the broadcast is the
    // HOT-KEY-COUNT-sized mins relation — never the node-count mins
    // the pre-r4 aggregate-join form shipped
    assert(hashExchanges(lp) == 2,
      s"hybrid large-star must be cold-window + hot-min exchanges:\n$lp")
    assert(lp.contains("BroadcastHashJoin"),
      s"hot mins must re-attach via broadcast hash join:\n$lp")
    // and with NO hot keys the plan is identical to the plain form
    // (modulo expression/plan ids)
    def norm(p: String) = p.replaceAll("#\\d+", "#_")
      .replaceAll("plan_id=\\d+", "plan_id=_")
    val plain = operators.Components.largeStar(edges)
      .queryExecution.executedPlan.toString
    val empty = operators.Components.largeStarHybrid(edges, Nil)
      .queryExecution.executedPlan.toString
    assert(norm(empty) == norm(plain),
      "empty hot set must take the plain window path")
  }

  test("gopher rules are one map-only select; paragraph dedup min-aggregates, never windows") {
    import spark.implicits._
    val docs = Seq((0L, "a b c"), (1L, "a\nb")).toDF("doc_id", "text")
    val rules = docs.select(col("doc_id") +:
      operators.TextOps.gopherRules(col("text")).map { case (n, c) => c.as(n) }: _*)
    assert(!rules.queryExecution.executedPlan.toString.contains("Exchange"),
      "gopher rules must be map-only (no shuffle)")
    val dedup = operators.TextOps.dedupParagraphs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // first-arrival via partial-aggregated hash min: a boilerplate
    // paragraph in 10^6 docs must never sort into one window task
    assert(!dedup.contains("Window"),
      s"paragraph first-arrival used a window:\n$dedup")
    assert(!dedup.contains("CartesianProduct") &&
      !dedup.contains("BroadcastNestedLoopJoin"), dedup)
  }

  test("semdedup pairs via cell equi-join; no quadratic strategy") {
    import spark.implicits._
    val emb = (0L until 20L)
      .map(i => (i, Array.tabulate(4)(j => ((i + j) % 5).toFloat)))
      .toDF("doc_id", "vec")
    val cells = (0L until 20L).map(i => (i, (i % 3).toInt))
      .toDF("id", "cell")
    val plan = operators.Similarity
      .semDedupVerdicts(cells, emb, "doc_id", "vec", tau = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"semdedup used a quadratic join strategy:\n$plan")
    // the per-cell size table must ride a broadcast, never a shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("html extraction is map-only and runs the strip chain once") {
    import spark.implicits._
    val docs = Seq((0L, "<p>a&amp;b today is fine here ok.</p>"))
      .toDF("doc_id", "html")
    val out = operators.HtmlOps.extract(docs, "html")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"html extraction must be map-only (no shuffle):\n$plan")
    // the staged projections must NOT have been collapsed back into
    // one project that re-runs the 6-regex strip chain per output
    // slot (HOF subtrees defeat codegen subexpression elimination)
    val nStrips = "<!--".r.findAllMatchIn(plan).size
    assert(nStrips <= 1,
      s"strip chain duplicated $nStrips times in the plan:\n$plan")
  }

  test("duplicate spans: equi-joins only; the one window is per-doc partitioned") {
    import spark.implicits._
    val docs = Seq((0L, "a b c d e f a b c d e f")).toDF("doc_id", "text")
    val plan = operators.SpanDedup.duplicateSpans(docs, "doc_id", "text", k = 4)
      .queryExecution.executedPlan.toString
    // the dup-hash mark must be a hash equi-join on the 8-byte key —
    // never a nested loop — and the count must partial-aggregate
    // (a boilerplate window hash is a hot key by construction)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count"),
      s"window-hash count lost map-side partial aggregation:\n$plan")
    // gaps-and-islands windows are PARTITIONED BY doc_id: per-task state
    // is one document's windows, not a corpus-scale key
    val winSpecs = plan.split('\n').filter(_.contains("windowspecdefinition"))
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("doc_id")),
      s"island window not per-doc partitioned:\n$plan")
  }

  test("deterministic sampling is pure map work: no shuffle anywhere") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for ((name, df) <- Seq(
        "sample" -> operators.Sampling.sample(docs, "doc_id", 0.2, "s"),
        "stratified" -> operators.Sampling.stratifiedSample(docs, "doc_id",
          "lang", Map("en" -> 0.1), 0.5, "s"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$name sampling shuffles — it must stay map-only:\n$plan")
    }
  }

  test("corpus mix keep-path is map-only; classifier and BPE broadcast their vocab sides") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the mix's totals aggregation runs at build time (bounded); the
    // RETURNED kept-docs relation must be a pure map-side filter
    val mixPlan = operators.Mixing.mixToTokenBudget(docs, "doc_id", "source",
        "text", Map("src0" -> 300L, "src1" -> 500L), "s")
      .queryExecution.executedPlan.toString
    assert(!mixPlan.contains("Exchange"),
      s"mix keep-path shuffles — it must stay map-only:\n$mixPlan")
    // shard assignment must be a pure projection (writers partitionBy)
    val shardPlan = operators.Mixing.assignShards(docs, "doc_id", 16)
      .queryExecution.executedPlan.toString
    assert(!shardPlan.contains("Exchange"),
      s"shard assignment shuffles — it must stay map-only:\n$shardPlan")
    // classifier: weights join broadcast, per-doc sum partial-aggregated,
    // exactly one hash exchange (the doc rollup)
    val w = operators.Classifier.synthWeights(docs.limit(50), "doc_id", "text")
    val clfPlan = operators.Classifier.scoreQuantized(docs, w, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(clfPlan.contains("BroadcastHashJoin"), clfPlan)
    assert(!clfPlan.contains("SortMergeJoin"),
      s"weights join degraded to sort-merge:\n$clfPlan")
    assert(clfPlan.contains("partial_sum"),
      s"per-doc sum lost map-side partial aggregation:\n$clfPlan")
    // BPE tokenize: segmentation table joins broadcast; no sort-merge
    val merges = Seq(operators.BpeMerge(0, "t", "h", 2L))
    val bpePlan = operators.BpeTrain.bpeTokenize(docs, "doc_id", "text", merges)
      .queryExecution.executedPlan.toString
    assert(bpePlan.contains("BroadcastHashJoin") &&
      !bpePlan.contains("SortMergeJoin"),
      s"segment-table join degraded:\n$bpePlan")
  }

  test("bloom contamination: map-side doc prefilter, equi-join verify only") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = operators.TextOps.bloomContamination(
      docs.filter(col("doc_id") >= 10), "doc_id", "text",
      docs.filter(col("doc_id") < 10), "doc_id", "text",
      n = 3, minShared = 5, bloomBits = 1 << 16, probes = 4)
    val plan = out.queryExecution.executedPlan.toString
    // the doc-level probe must survive as a pre-explode filter: clean
    // docs short-circuit before any shingle row exists
    assert(plan.contains("bloom_any_contain"),
      s"bloom prefilter missing from the plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"verify join degraded to a quadratic strategy:\n$plan")
    // the verify count must partial-aggregate (hit pairs are skewed
    // toward heavily-leaked docs)
    assert(plan.contains("partial_count"),
      s"verify count lost map-side partial aggregation:\n$plan")
  }

  test("pca projection is map-only; in-doc line dedup splits once") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val m = operators.Pca.fit(emb, "embedding", dim = 64, k = 4)
    val pplan = emb.select(col("vec_id"),
        operators.Pca.project(spark, col("embedding"), m))
      .queryExecution.executedPlan.toString
    assert(!pplan.contains("Exchange"),
      s"pca projection must be pure map work:\n$pplan")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dplan = operators.TextOps.dedupLinesInDoc(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!dplan.contains("Exchange"),
      s"in-doc dedup must be map-only:\n$dplan")
    // the staged line array must not have been collapsed into per-slot
    // re-splits (HOF-CSE discipline)
    val nSplits = "split\\(".r.findAllMatchIn(dplan).size
    assert(nSplits <= 1, s"line split duplicated $nSplits times:\n$dplan")
  }

  test("burst detector and escalation CEP shuffle once (the fMGWS key exchange)") {
    import spark.implicits._
    val ev = Seq(StreamingPipeline.TokenEvent("a",
      new java.sql.Timestamp(0L))).toDS()
    val ann = Seq(graft.operators.Annotation("c", 0, "user",
      new java.sql.Timestamp(0L), "G", "SNV", Nil, Nil, Nil, Nil,
      tier_4 = true, "tier_4", Nil, Nil, Nil, Nil)).toDS()
    for ((name, df) <- Seq(
        "burst" -> StreamingPipeline.burstDetectStream(ev, StreamConfig())
          .toDF(),
        "escalation" -> StreamingPipeline.escalationsStream(ann,
          StreamConfig()).toDF())) {
      val plan = df.queryExecution.executedPlan.toString
      // batch execution of flatMapGroupsWithState compiles to MapGroups
      assert(plan.contains("MapGroups"), s"$name:\n$plan")
      val nEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(nEx == 1, s"$name: expected exactly 1 key exchange, got $nEx:\n$plan")
    }
  }

  test("asof join is one exchange + one sort — never a range join") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val e = Seq((1L, "k", ts(5))).toDF("event_id", "k", "ts")
    val d = Seq(("k", ts(1), 0, "v")).toDF("k", "ts", "ver", "name")
    val plan = graft.operators.VersionedDim.asofJoin(e, d, "k", "ts",
        "ver", Seq("name"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"asof must be the union+window form, not a join:\n$plan")
    val nEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    assert(nEx == 1, s"expected exactly 1 key exchange, got $nEx:\n$plan")
  }

  test("asof join bucketed regime: (key, bucket) windows, no range join") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val e = (1L to 50L).map(i => (i, "k", ts(i))).toDF("event_id", "k", "ts")
    val d = Seq(("k", ts(1), 0, "v")).toDF("k", "ts", "ver", "name")
    val plan = graft.operators.VersionedDim.asofJoin(e, d, "k", "ts",
        "ver", Seq("name"), nBuckets = 8)
      .queryExecution.executedPlan.toString
    // the hot-key fix: the DATA-SIZED carry window partitions by
    // (key, BUCKET); the only bare-key window is the carry-in over the
    // per-(key, bucket) tail rows (ordered by bucket, bounded by the
    // bucket count); the only join is the carry-in equi-join
    assert("windowspecdefinition\\(_k#\\d+L?, _b#\\d+".r
      .findFirstIn(plan).isDefined,
      s"expected a (key, bucket)-partitioned carry window:\n$plan")
    assert("windowspecdefinition\\(_k#\\d+L?, _ts#".r
      .findFirstIn(plan).isEmpty,
      s"found a data-sized window partitioned by the bare key:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed asof must stay equi-join only:\n$plan")
    graft.operators.NearDup.unpersistAll()
  }

  test("temperature mix keep-path is map-only like the target mix") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = operators.Mixing.mixByTemperature(
        docs, "doc_id", "source", "text", budget = 10000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"temperature-mix kept path must be a map-side filter:\n$plan")
  }

  test("tf-idf joins broadcast the term-sized sides, never sort-merge") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = operators.Relevance.tfIdfQuantized(docs, "doc_id", "text",
        Seq("spark", "window")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"term/idf join degraded to sort-merge:\n$plan")
  }

  test("repetition stats shuffle only for the final sort") {
    val plan = SparkEntry.queries("q41_repetition")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q41 must be map-only up to the presentation sort:\n$plan")
  }
}
