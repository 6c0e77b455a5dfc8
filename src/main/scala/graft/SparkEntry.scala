package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Synth

/** Driver contract — flagship entry, per-operator queries, and DuckDB
  * oracle SQL (see /root/repo/SURVEY.md §7 + the builder prompt).
  *
  * Query naming: q0x = relational subset over the TPC-H-ish testdata
  * (DuckDB-oracle-checked); q2x = engine-specific operators over the
  * deterministic synthetic transcript/evidence fixtures (rows-only
  * checks — not expressible in portable SQL).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Placeholder in `oracleSql` for the Verify dump directory; Verify
    * substitutes the absolute `<outDir>/_rel` path when it serializes
    * oracle_sql.json, after writing every `relationDumps` relation
    * there. This is what makes the engine-specific queries (annotation
    * pipeline, LSH/IVF candidates, simhash signatures) hard-oracle-
    * checkable: DuckDB re-derives the query result from the dumped
    * relation and must agree bit-for-bit.
    */
  val RelToken = "__GRAFT_REL__"
  private def rel(name: String): String =
    s"read_parquet('$RelToken/$name/*.parquet')"

  // ----- shared relation builders (used by queries AND Verify dumps) ---

  /** Decoded media metadata (q17 base). */
  def mediaMeta(s: SparkSession): DataFrame =
    operators.Multimodal.decode(operators.Multimodal.mediaTable(s, 300)).toDF()

  /** Sampled video frames with real per-frame luma means (q45 base).
    * y_mean is an exact rational (integer luma sum / plane size), so
    * the doubles are bit-identical wherever they are recomputed.
    */
  def videoFrames(s: SparkSession): DataFrame =
    operators.Multimodal.sampleFrames(
      operators.Multimodal.mediaTable(s, 300), stride = 5)

  private val Epoch0 = 1700000000000L
  private val Epoch1 = Epoch0 + 50L * 3600000L // v2 cuts in mid-stream

  /** The two-epoch versioned dimension index and the transcripts q31
    * and q34 annotate against it.
    */
  private def versionedInputs(s: SparkSession)
      : (Broadcast[operators.VersionedDimIndex], Dataset[model.Turn]) = {
    val bc = operators.VersionedDim.build(s, Seq(
      Epoch0 -> sources.Synth.evidenceDim(s, 20, Pipeline.DefaultSeed).toDF(),
      Epoch1 -> sources.Synth.evidenceDim(s, Pipeline.DefaultGenes,
        Pipeline.DefaultSeed).toDF()), Pipeline.defaultCt)
    val turns = sources.Synth.transcripts(s,
      sources.Synth.TurnGenConfig(nConvs = 100, turnsPerConv = 10,
        nGenes = Pipeline.DefaultGenes, baseTs = Epoch0))
    (bc, turns)
  }

  /** Annotations labelled with the dimension version their turn fell in. */
  private def withEpoch(ann: Dataset[operators.Annotation]): DataFrame =
    ann.toDF().withColumn("epoch", when(col("ts") < to_timestamp(lit(
      new java.sql.Timestamp(Epoch1))), "v1").otherwise("v2"))

  /** Event-time-versioned dimension annotation (q31 base). */
  def versionedAnn(s: SparkSession): DataFrame = {
    val (bc, turns) = versionedInputs(s)
    withEpoch(operators.VersionedDim.annotate(turns, bc))
  }

  /** Stream-stream SCD-join annotation (q34 base): the same versioned
    * dimension as q31, but resolved through the watermarked interval
    * join instead of the broadcast lookup (batch-mode execution of the
    * identical plan; VersionedDimSpec pins the streaming run).
    */
  def ssVersionedAnn(s: SparkSession): DataFrame = {
    import s.implicits._
    val (bc, turns) = versionedInputs(s)
    // version rows must cover the generator's unknown-gene tail too —
    // unmatched genes still join and resolve to tier_4 in the kernel
    val genes = (0 until 60).map(g => sources.Synth.geneName(g.toLong))
    val versions = s.createDataset(operators.VersionedDim.versionRows(
      Seq(Epoch0, Epoch1), genes, Epoch0 + 10000L * 3600000L))
    withEpoch(operators.VersionedDim.annotateStreamStream(turns, versions, bc))
  }

  /** SNV protein strings from the synthetic transcripts (q25 base). */
  def snvProts(s: SparkSession): DataFrame = {
    val turns = sources.Synth.transcripts(s,
      sources.Synth.TurnGenConfig(nConvs = 100, turnsPerConv = 10,
        nGenes = Pipeline.DefaultGenes))
    turns.toDF().filter(col("role") === "user")
      .withColumn("prot",
        split(split(col("text"), "\\|").getItem(1), ",").getItem(0))
      .select(col("conv_id"), col("turn_idx"), col("prot"))
  }

  // BPE model memoized per (context, sfDir): deterministic given the
  // corpus, but the train loop should run once even though both the
  // q76 query and the bpe_stages rel dump consume it
  def bpeModel(s: SparkSession, dir: String): operators.BpeTrain.BpeModel =
    GraftContext(s).memo(("bpeModel", dir))(
      operators.BpeTrain.train(t(s, dir, "documents"), "text", nMerges = 40,
        recordStages = true))

  // PCA model memoized per (context, sfDir): the fit is deterministic
  // (exact integer moments), memoization just saves the pass when the
  // pca_rot dump and q88 both run
  def pcaModel(s: SparkSession, dir: String): operators.Pca.PcaModel =
    GraftContext(s).memo(("pcaModel", dir))(
      operators.Pca.fit(t(s, dir, "embeddings"), "embedding",
        dim = 64, k = 8))

  /** q77 eval corpus: the training corpus plus planted docs carrying
    * words unseen at training time (the OOV path through
    * segmentTable).
    */
  def q77Docs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" lowest newestest unseenword"))
            .as("text")))
  }

  /** q77's per-distinct-word segmentation table (pure function of the
    * eval vocabulary + learned merges, so the rel dump and the query's
    * internal table are identical by construction).
    */
  def q77SegTable(s: SparkSession, dir: String): DataFrame =
    operators.BpeTrain.segmentTable(
      q77Docs(s, dir).select(
        explode(operators.TextOps.tokens(col("text"))).as("word")),
      "word", bpeModel(s, dir).merges)

  // The exact-jaccard near-dup pair relation is consumed by three
  // queries (q36 pairs, q37 greedy dedup, q40 connected components) —
  // exactly how a real pipeline works: pairs are computed once and the
  // dedup decisions fan out from them. Memoize + persist per
  // (context, sfDir) so the posting-list pair derivation runs once per
  // session, not once per consumer. Deterministic (pure hash math), so
  // oracle agreement is unaffected.
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    GraftContext(s).memo(("jaccardPairs", dir)) {
      operators.NearDup.jaccardNearDups(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
        maxDocFreq = 10000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  // IVF candidates are memoized + persisted per (context, sfDir):
  // distributed k-means float sums are not bit-stable across re-runs,
  // so the Verify dump and q28 MUST consume the same materialization.
  def ivfCand(s: SparkSession, dir: String): DataFrame =
    GraftContext(s).memo(("ivfCand", dir)) {
      val emb = t(s, dir, "embeddings")
      operators.Similarity.ivfCandidates(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", nCentroids = 16, nProbe = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  // SemDeDup cell assignment memoized + persisted per (context,
  // sfDir): the k-means FIT is not bit-stable across re-runs, so the
  // sem_cells dump and q81 must consume the same assignment (the
  // verdicts derived from a fixed assignment are deterministic —
  // quantized cosine)
  def semCells(s: SparkSession, dir: String): DataFrame =
    GraftContext(s).memo(("semCells", dir)) {
      operators.Similarity.semDedupCells(
        docEmbeddings(s, dir), "doc_id", "vec", nClusters = 16)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** q35/q81's document embeddings (deterministic hash features). */
  def docEmbeddings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      operators.TextOps.hashEmbedding(col("text"), 64).as("vec"))

  /** LSH candidates with q18's parameters (pure-hash deterministic —
    * dump and query recompute identical rows).
    */
  def lshCand(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    operators.Similarity.lshCandidates(emb, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", nBits = 4, nTables = 8)
  }

  /** q63 input: the documents table plus planted re-crawl variants of
    * the first 50 docs (uppercased, whitespace-doubled — the exact
    * noise `TextOps.fingerprint64` normalizes away), all at one
    * constant event time so first-arrival == smallest doc_id.
    */
  private def q63Docs(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
    base.unionByName(base
      .filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(upper(col("text")), " ", "  ").as("text"),
        col("ts")))
  }

  // memoized + persisted per context (the cachedIndex/jaccardPairs
  // discipline): six queries (q23/q24/q58/q64/q66/q67) derive the same
  // deterministic filtered dimension, several consuming it in multiple
  // plan branches
  private def defaultFilteredDim(s: SparkSession): DataFrame =
    GraftContext(s).memo("filteredDim")(
      operators.EvidenceFilter(
        sources.Synth.evidenceDim(s, Pipeline.DefaultGenes, Pipeline.DefaultSeed).toDF(),
        Pipeline.defaultFilter)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The output table (q23, q58): per-variant renders joined to the
    * annotations' matched variants.
    */
  private def outputTable(s: SparkSession): DataFrame = {
    import s.implicits._
    operators.OutputAssembly.writeMatchTable(
      Pipeline.run(s).as[operators.Annotation],
      operators.OutputAssembly.renderTable(defaultFilteredDim(s), Pipeline.defaultCt))
      .orderBy(col("conv_id"), col("turn_idx"), col("tier"))
  }

  /** The drug-targets report (q24, q64): PREDICTIVE-entry and
    * variant-name tables joined to the annotations' matched variants.
    */
  private def drugTargetsReport(s: SparkSession): DataFrame = {
    import s.implicits._
    val dim = defaultFilteredDim(s)
    operators.Reports.drugTargets(Pipeline.run(s).as[operators.Annotation],
      operators.Reports.predEntriesTable(dim, Pipeline.defaultCt),
      operators.Reports.nameTable(dim))
  }

  /** The annotation columns q21, q59 and q66 compare: tier and
    * consensus lists `;`-joined, ordered by turn.
    */
  private def annotationColumns(ann: DataFrame): DataFrame =
    ann.select(col("conv_id"), col("turn_idx"), col("gene_key"),
      col("data_type"), col("highest_tier"),
      concat_ws(";", col("tier_1")).as("tier_1"),
      concat_ws(";", col("tier_1b")).as("tier_1b"),
      concat_ws(";", col("tier_2")).as("tier_2"),
      concat_ws(";", col("tier_3")).as("tier_3"),
      col("tier_4"),
      concat_ws(";", col("ds_tier_1")).as("ds_tier_1"))
      .orderBy(col("conv_id"), col("turn_idx"))

  /** The shuffle-regime annotations (q59, q66): each turn is joined to
    * its gene's `GeneDim`, built on the executors, and runs the
    * kernel; nothing is collected.
    */
  private def shuffleAnnotations(s: SparkSession): DataFrame = {
    val turns = sources.Synth.transcripts(s,
      sources.Synth.TurnGenConfig(nConvs = 100, turnsPerConv = 10,
        nGenes = Pipeline.DefaultGenes))
    annotationColumns(operators.MatchShuffle.annotate(s, turns,
      defaultFilteredDim(s), Pipeline.defaultCt).toDF())
  }

  /** Relations Verify writes to `<outDir>/_rel/<name>` so the oracle
    * SQL can query engine-produced inputs cross-engine.
    */
  def relationDumps: Map[String, (SparkSession, String) => DataFrame] = Map(
    "annotations" -> ((s, _) => Pipeline.run(s)),
    "doc_simhash" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), operators.NearDup.simhash64(col("text")).as("sig"))),
    "media_meta" -> ((s, _) => mediaMeta(s)),
    "versioned_ann" -> ((s, _) => versionedAnn(s)
      .select(col("conv_id"), col("turn_idx"), col("epoch"), col("highest_tier"))),
    "snv_prots" -> ((s, _) => snvProts(s)),
    "lsh_cand" -> ((s, dir) => lshCand(s, dir).select(col("query_id"), col("item_id"))),
    "ivf_cand" -> ((s, dir) => ivfCand(s, dir).select(col("query_id"), col("item_id"))),
    "dim_raw" -> ((s, _) =>
      sources.Synth.rawEvidenceDim(s, 20, Pipeline.DefaultSeed).toDF()),
    "doc_fp" -> ((s, dir) => q63Docs(s, dir)
      .select(col("doc_id"),
        operators.TextOps.fingerprint64(col("text")).as("fp"))),
    "doc_embeddings" -> ((s, dir) => docEmbeddings(s, dir)),
    "sem_cells" -> ((s, dir) => semCells(s, dir)
      .select(col("id").as("doc_id"), col("cell"))),
    "ss_versioned_ann" -> ((s, _) => ssVersionedAnn(s)
      .select(col("conv_id"), col("turn_idx"), col("epoch"), col("highest_tier"))),
    "video_frames" -> ((s, _) => videoFrames(s)),
    // the dimension-side tables of q23/q24, so the oracle re-derives
    // the output-assembly and drug-target joins cross-engine
    "renders" -> ((s, _) => operators.OutputAssembly.renderTable(
      defaultFilteredDim(s), Pipeline.defaultCt).toDF()),
    "pred_entries" -> ((s, _) => operators.Reports.predEntriesTable(
      defaultFilteredDim(s), Pipeline.defaultCt)),
    "var_names" -> ((s, _) => operators.Reports.nameTable(defaultFilteredDim(s))),
    "support_table" -> ((s, _) => operators.DimIndex.supportTable(
      defaultFilteredDim(s), Pipeline.defaultCt)),
    "bpe_stages" -> ((s, dir) => bpeModel(s, dir).stagesDf(s)),
    "bpe_seg_table" -> ((s, dir) => q77SegTable(s, dir)),
    "pca_rot" -> ((s, dir) => pcaModel(s, dir).toDf(s)))

  /** Flagship: full match->annotate pipeline over synthesized
    * transcripts (driver smoke-checks rows>0).
    */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.run(spark)
      .select(col("conv_id"), col("turn_idx"), col("gene_key"),
        col("data_type"), col("highest_tier"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- relational subset (oracle-checked) --------------------------
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_top_customers" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("total_spend"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("total_spend").desc, col("c_custkey"))
        .limit(10)
    }),
    "q03_region_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"))
    }),
    "q04_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }),
    "q05_customer_best_order" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("best_price"))
        .orderBy(col("o_custkey"))
    }),
    "q06_dedup_exact" -> ((s, dir) => {
      // group on the 64-bit fingerprint, not the raw text: the shuffle
      // carries 8-byte keys instead of whole documents (the shape that
      // matters at 100 TB; xxhash64 collisions are negligible and the
      // text-grouping DuckDB oracle cross-checks the results)
      t(s, dir, "documents")
        .groupBy(xxhash64(col("text")).as("_fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),
    "q07_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q08_events_props" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1)
          .cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),
    "q09_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .withColumn("sess_id", sum(col("new_sess"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("sess_id"))
    }),
    // ----- training-data pipeline operators ---------------------------
    "q10_ann_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = emb.select(col("vec_id").as("item_id"), col("embedding").as("iv"))
      operators.Similarity.topKByScore(
          c.join(broadcast(q), col("item_id") =!= col("query_id"))
            .withColumn("dotq", operators.Similarity.quantizedDot(col("qv"), col("iv"))),
          "dotq", 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q11_doc_quality" -> ((s, dir) => {
      val f = operators.TextOps.qualityFeatures(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id") +: f.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    "q12_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          operators.TextOps.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),
    "q13_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          operators.TextOps.fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),
    "q14_minhash_neardup" -> ((s, dir) => {
      // k=64/bands=32 (r=2): P(candidate | J=0.5) = 1-(1-0.25)^32 ≈
      // 0.9999 — recall-1-in-practice at the tested scales, so the
      // exact-Jaccard DuckDB oracle must agree; false candidates are
      // killed by the exact verification pass.
      operators.NearDup.minhashNearDups(
        t(s, dir, "documents"), "doc_id", "text",
        k = 64, bands = 32, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q15_simhash_neardup" -> ((s, dir) => {
      operators.NearDup.simhashNearDups(
        t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q16_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(operators.TextOps.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))
    }),
    "q17_media_pipeline" -> ((s, _) => {
      mediaMeta(s).groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("n_frames")).as("total_frames"),
          sum(col("n_bytes")).as("total_bytes"))
        .orderBy(col("kind"))
    }),
    "q18_ann_lsh" -> ((s, dir) => {
      operators.Similarity.rerankTopK(lshCand(s, dir), 10)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q26_segment_no_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      // anti join: customers with no large order, counted per segment
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_without"))
        .orderBy(col("c_mktsegment"))
    }),
    "q27_rollup_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("revenue"), col("n"))
        .orderBy(col("flag"), col("status"))
    }),
    // ----- engine operators over deterministic fixtures (rows-only) ----
    "q25_pstart_sql" -> ((s, _) => {
      // native Catalyst expression exercised through its SQL surface
      plans.GraftFunctions.register(s)
      snvProts(s).createOrReplaceTempView("snv_turns")
      s.sql("""SELECT p_start(prot) AS p_start, count(*) AS n
               FROM snv_turns WHERE p_start(prot) IS NOT NULL
               GROUP BY 1 ORDER BY 1""")
    }),
    "q29_conv_tier_pivot" -> ((s, _) => {
      // A7 cohort stats: per-conversation tier distribution via pivot
      Pipeline.run(s)
        .groupBy(col("conv_id"))
        .pivot("highest_tier",
          Seq("tier_1", "tier_1b", "tier_2", "tier_3", "tier_4"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("conv_id"))
    }),
    "q19_sql_interface" -> ((s, _) => {
      // the engine's output is a plain relation: full Spark SQL over it.
      // min_by (not first-over-sorted-subquery) keeps the result
      // deterministic under any partitioning, and avoids a pointless
      // global sort of the whole annotation relation.
      Pipeline.run(s).createOrReplaceTempView("annotations")
      s.sql("""
        SELECT conv_id,
               count(*) AS n_turns,
               sum(CASE WHEN highest_tier = 'tier_1' THEN 1 ELSE 0 END) AS n_t1,
               max(size(tier_1)) AS max_t1_matches,
               min_by(highest_tier, turn_idx) AS first_tier
        FROM annotations
        GROUP BY conv_id
        HAVING n_t1 > 0
        ORDER BY conv_id
        LIMIT 50""")
    }),
    "q30_session_rollup" -> ((s, _) => {
      import s.implicits._
      val ann = Pipeline.run(s).as[operators.Annotation]
      streaming.StreamingPipeline.sessionRollup(ann,
        streaming.StreamingPipeline.StreamConfig())
        .orderBy(col("conv_id"), col("session_start"))
    }),
    "q31_versioned_dim" -> ((s, _) => {
      versionedAnn(s)
        .groupBy(col("epoch"), col("highest_tier"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("epoch"), col("highest_tier"))
    }),
    "q28_ann_ivf" -> ((s, dir) => {
      operators.Similarity.rerankTopK(ivfCand(s, dir), 10)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q20_match_tier_counts" -> ((s, _) => {
      Pipeline.run(s).groupBy(col("data_type"), col("highest_tier"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("data_type"), col("highest_tier"))
    }),
    "q22_tier_select_highest" -> ((s, _) => {
      import s.implicits._
      operators.TierSelect(Pipeline.run(s).as[operators.Annotation], Left("highest"))
        .toDF()
        .groupBy(col("highest_tier")).agg(count(lit(1)).as("n"))
        .orderBy(col("highest_tier"))
    }),
    // q23 and q58 run one plan, outputTable, as do q24 and q64 with
    // drugTargetsReport: each pair keeps both names and shares one
    // oracle SQL
    "q23_output_table" -> ((s, _) => outputTable(s)),
    "q24_drug_targets" -> ((s, _) => drugTargetsReport(s)),
    "q36_jaccard_exact" -> ((s, dir) => {
      // EXACT n-gram Jaccard near-dup (inverted shingle index, no
      // hashing approximation) — the exact counterpart of q14. The
      // doc-frequency cap (maxDocFreq, no stop set) bounds each posting
      // list's pairs at O(maxDocFreq²) per shingle; at the tested scales
      // no shingle's doc-frequency reaches it, so the uncapped DuckDB
      // oracle must agree bit-for-bit (cap-vs-uncapped recall pinned in
      // DataOpsSpec)
      jaccardPairs(s, dir)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q37_dedup_keep_first" -> ((s, dir) => {
      // dedup plan over the exact-jaccard near-dup pairs: keep the
      // smallest id of each near-dup star (left_anti against doc_b)
      operators.NearDup.dedupKeepFirst(
          t(s, dir, "documents"), "doc_id", jaccardPairs(s, dir))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q40_neardup_components" -> ((s, dir) => {
      // connected components over the exact-jaccard near-dup pairs
      // (alternating large-star/small-star): every doc labeled with its
      // cluster minimum — the transitive-closure dedup the greedy
      // keep-first plan approximates
      operators.Components.componentsForDocs(
          t(s, dir, "documents"), "doc_id", jaccardPairs(s, dir))
        .orderBy(col("doc_id"))
    }),
    "q41_repetition" -> ((s, dir) => {
      // Gopher-style repetition signals over word 2-grams: the struct
      // is projected once, so the one-pass native expression runs once
      // per row and the five outputs are cheap field reads
      t(s, dir, "documents")
        .select(col("doc_id"),
          operators.TextOps.ngramRepStats(col("text"), 2).as("rs"))
        .select(col("doc_id") +:
          operators.TextOps.repetitionFeatures(col("rs"))
            .map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    "q42_stratified_sample" -> ((s, dir) => {
      // deterministic language-rebalancing sample: downsample the head
      // language, keep the tail — partitioning/cluster-size/engine
      // independent (md5-threshold, see Sampling), so the kept set is
      // reproducible corpus metadata, not a run artifact
      operators.Sampling.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "lang",
        rates = Map("en" -> 0.25, "zh" -> 0.5),
        defaultRate = 0.75, salt = "s42")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"))
    }),
    "q43_tfidf" -> ((s, dir) => {
      // integer-quantized TF-IDF (idf = (N*scale) div df): bit-exact
      // on any engine/partitioning; rankings match unquantized TF-IDF
      // up to the 1/scale step
      operators.Relevance.tfIdfQuantized(
        t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "window", "merge", "vector"))
        .orderBy(col("doc_id"))
    }),
    "q56_bm25" -> ((s, dir) => {
      // cross-engine-exact quantized Okapi BM25 (integer tf-part at
      // k1=6/5, b=3/4; floored-millinat idf): the oracle face of the
      // double-precision Relevance.bm25 scorer — only integers are
      // ever summed, so the score is partitioning- and engine-exact
      operators.Relevance.bm25Quantized(
        t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "window", "merge", "vector"))
        .orderBy(col("doc_id"))
    }),
    "q63_content_dedup" -> ((s, dir) => {
      // the STREAMING content-dedup operator in batch mode:
      // first-arrival-wins per normalized-content fingerprint (min_by
      // event time, doc_id tiebreak — constant ts here, so the
      // smallest doc_id survives). The corpus carries no exact dups,
      // so re-crawl variants (case + whitespace noise — exactly what
      // the fingerprint normalizes) are planted in-query; the oracle
      // re-derives the winners from the dumped fingerprint relation,
      // which covers the planted rows too.
      import s.implicits._
      streaming.StreamingPipeline.dedupByContent(
          q63Docs(s, dir).as[streaming.StreamingPipeline.DocEvent],
          streaming.StreamingPipeline.StreamConfig())
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q62_exact_sample" -> ((s, dir) => {
      // eval-set carving: exactly 40 docs per language, deterministic
      // under any partitioning (md5 rank, key tiebreak)
      operators.Sampling.sampleExactPerStratum(
        t(s, dir, "documents"), "doc_id", "lang", n = 40, salt = "s42")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q61_incremental_dedup" -> ((s, dir) => {
      // incremental dedup: the newest 20% of the corpus checked
      // against the base 80% — base-vs-base pairs intentionally NOT
      // re-derived (they were resolved when the base was built)
      val docs = t(s, dir, "documents")
      val cut = 400L * (docs.count() / 500L).max(1L)
      operators.NearDup.jaccardNearDupsAgainst(
        docs.filter(col("doc_id") < cut), docs.filter(col("doc_id") >= cut),
        "doc_id", "text", threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q65_lm_bigram" -> ((s, dir) => {
      // bigram LM with stupid backoff, trained on the corpus and
      // scoring the corpus PLUS planted token-REVERSED variants: a
      // unigram LM scores a shuffled document identically to its
      // original (q60's documented fidelity gap); the reversed docs'
      // adjacencies miss the bigram table and pay the backoff
      // penalty — the oracle pins every quantized integer, the spec
      // pins the order-sensitivity separation
      val docs = t(s, dir, "documents")
      val planted = docs.filter(col("doc_id") < 150)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat_ws(" ",
            reverse(operators.TextOps.tokens(col("text")))).as("text"))
      val ev = docs.select(col("doc_id"), col("text")).unionByName(planted)
      operators.Relevance.bigramLmScoreQuantized(docs, ev, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "q60_lm_score" -> ((s, dir) => {
      // CCNet-style unigram-LM perplexity filter: quantized per-doc
      // negative log-likelihood + head/middle/tail quartile buckets
      operators.Relevance.lmScoreQuantized(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "q57_disease_vocab" -> ((s, _) => {
      // O3 helper report (reference get_available_diseases_in_civic
      // .py:29-45): distinct strip().upper() disease names of evidence
      // records that HAVE a disease (the "NULL" sentinel models
      // civicpy records whose disease is not a Disease), sorted
      sources.Synth.rawEvidenceDim(s, 20, Pipeline.DefaultSeed).toDF()
        .select(upper(trim(col("disease"))).as("disease"))
        .filter(col("disease") =!= "NULL")
        .distinct()
        .orderBy(col("disease"))
    }),
    "q44_pii_redact" -> ((s, dir) => {
      // PII scrub over deterministically-augmented text: the synthetic
      // corpus carries no PII, so both engines plant the same email/
      // phone/URL per doc in-query, then count and redact it — the
      // redaction itself is what the oracle pins byte-for-byte
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-6789 see https://ex.org/d/"), col("doc_id").cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id") +:
          operators.TextOps.piiCounts(col("aug"))
            .map { case (n, c) => c.as(n) } :+
          operators.TextOps.redactPii(col("aug")).as("redacted"): _*)
        .orderBy(col("doc_id"))
    }),
    "q45_frame_sample" -> ((s, _) => {
      // REAL per-frame video decode: frame explode + luma stats,
      // aggregated per media row. The oracle re-derives the same
      // aggregate from the Verify-dumped frame relation — dump and
      // query must agree frame-for-frame (min/max over bit-identical
      // rationals, no order-sensitive float sums)
      videoFrames(s)
        .groupBy(col("media_id"), col("width"), col("height"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("y_mean")).as("y_min"),
          max(col("y_mean")).as("y_max"))
        .orderBy(col("media_id"))
    }),
    "q46_corpus_stats" -> ((s, dir) => {
      // per-source corpus reporting incl. an EXACT median: the inputs
      // are small integers, so the 0.5-percentile interpolation
      // ((a+b)/2 of two ints) is bit-identical across engines — the
      // general cross-engine float law does not bite here
      t(s, dir, "documents")
        .select(col("source"),
          size(split(trim(col("text")), "\\s+")).as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          min(col("n_tok")).as("min_tok"),
          max(col("n_tok")).as("max_tok"),
          median(col("n_tok")).as("median_tok"))
        .orderBy(col("source"))
    }),
    "q47_top_tokens" -> ((s, dir) => {
      // corpus heavy hitters: explode -> partial-aggregated count ->
      // global top-k with a deterministic tiebreak. The shuffle
      // carries (token, partial count) — map-side combine bounds it
      // by the per-partition vocabulary, not the corpus token count
      t(s, dir, "documents")
        .select(explode(operators.TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    }),
    "q48_vocab" -> ((s, dir) => {
      // per-language vocabulary cardinality, EXACT (two-phase distinct
      // aggregate — the oracle-checkable path), written as explicit
      // stacked aggregations. Plan-identical to countDistinct+count on
      // Spark 4 (the single-distinct rewrite already stacks without an
      // Expand — verified plans/r06/q48_vocab_{before,after}.txt); the
      // explicit form just states the partial-aggregation shape the
      // query relies on. Exact result either way (n_vocab = rows per
      // lang, n_tokens = Σ per-token counts). At corpus scale the
      // one-pass mergeable-sketch variant is approx_count_distinct
      // (HLL); DataOpsSpec pins it within 5%
      t(s, dir, "documents")
        .select(col("lang"),
          explode(operators.TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("_c"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_vocab"),
          sum(col("_c")).as("n_tokens"))
        .orderBy(col("lang"))
    }),
    "q49_sliding_value_window" -> ((s, dir) => {
      // event-time RANGE window: per-user trailing-1-hour event count
      // and quantized value sum. RANGE (not ROWS) is the semantics a
      // time-window needs — peers at the same timestamp aggregate
      // together regardless of row order; values are quantized to
      // integers BEFORE the windowed sum so the aggregate is exact on
      // any engine and any intra-window order. floor, not round: the
      // product value*1000 is the same IEEE double on both engines, and
      // floor has no tie boundary for the engines' rounding modes to
      // disagree on (the q38 cross-engine rounding law)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("epoch"))
        .rangeBetween(-3600L, 0L)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("epoch"),
          floor(col("value") * 1000).cast("long").as("v_q"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_v_1h", sum(col("v_q")).over(w))
        .select(col("user_id"), col("event_id"), col("n_1h"), col("sum_v_1h"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    "q50_rank_family" -> ((s, dir) => {
      // the rank-family window surface over a deterministic ordering:
      // dense_rank/ntile partition the corpus into length tiers;
      // percent_rank/cume_dist are exact rationals of integer ranks,
      // so the doubles agree bit-for-bit across engines
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("rnk", dense_rank().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .orderBy(col("lang"), col("n_chars"), col("doc_id"))
    }),
    "q51_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: a FIXED-SIZE eval set (first 10 doc
      // ids — benchmark-sized at every scale factor, honoring the
      // operator's broadcast precondition; a %-of-corpus eval set
      // would grow the forced broadcast linearly with the corpus);
      // training docs sharing >= 10 trigrams with it are flagged —
      // the planted near-dup leakage exact dedup misses
      val all = t(s, dir, "documents")
      operators.TextOps.contamination(
          all.filter(col("doc_id") >= 10), "doc_id", "text",
          all.filter(col("doc_id") < 10), "doc_id", "text",
          n = 3, minShared = 10)
        .orderBy(col("doc"), col("eval_doc"))
    }),
    "q52_chunking" -> ((s, dir) => {
      // context-window preparation: overlapping 32-token chunks at
      // stride 24 (map-only explode; tokenizer runs once per doc)
      operators.Chunking.chunkTokens(
          t(s, dir, "documents"), "doc_id", "text",
          window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),
    "q53_packing" -> ((s, dir) => {
      // greedy sequential packing into 512-token bins per language:
      // bin = preceding-cumulative-tokens div budget — deterministic
      // on any partitioning (the window ordering is total)
      val base = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(operators.TextOps.tokens(col("text"))).as("n_tok"))
      operators.Chunking.packBins(base, "lang", "doc_id", "n_tok",
          budget = 512)
        .orderBy(col("lang"), col("doc_id"))
    }),
    "q54_stream_packing" -> ((s, dir) => {
      // the STREAMING packing operator (per-stratum running-total
      // flatMapGroupsWithState) executed on a batch Dataset: with a
      // constant event time its (ts, doc_id) processing order equals
      // packBins' doc_id ordering, so it must match q53's oracle
      // row-for-row
      import s.implicits._
      val base = t(s, dir, "documents")
        .select(col("lang").as("stratum"), col("doc_id"),
          size(operators.TextOps.tokens(col("text"))).as("n_tok"),
          to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
        .as[streaming.StreamingPipeline.PackEvent]
      streaming.StreamingPipeline.packBinsStream(base,
          streaming.StreamingPipeline.StreamConfig(), budget = 512)
        .select(col("stratum").as("lang"), col("doc_id"),
          col("n_tok"), col("bin"))
        .orderBy(col("lang"), col("doc_id"))
    }),
    "q55_dedup_canonical" -> ((s, dir) => {
      // component-canonical dedup: exactly the minimum-id doc of every
      // near-dup cluster survives — the transitive-closure-correct
      // counterpart of q37's greedy star-drop
      operators.Components.dedupByComponent(
          t(s, dir, "documents"), "doc_id", jaccardPairs(s, dir))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q38_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          operators.TextOps.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),
    "q35_embed_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup over text-derived feature-hash
      // embeddings: LSH-bucketed candidates, quantized-cosine verify
      operators.NearDup.embeddingNearDups(
        t(s, dir, "documents").select(col("doc_id"),
          operators.TextOps.hashEmbedding(col("text"), 64).as("vec")),
        "doc_id", "vec", threshold = 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q39_stream_neardup" -> ((s, dir) => {
      // the STREAMING near-dup operator (bounded per-bucket
      // flatMapGroupsWithState) executed on a batch Dataset: with no
      // watermark/eviction and the cap unhit it must equal the batch
      // simhash path row-for-row — the same oracle as q15
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
        .as[streaming.StreamingPipeline.DocEvent]
      streaming.StreamingPipeline.simhashNearDupPairs(docs,
          streaming.StreamingPipeline.StreamConfig(), maxHamming = 3,
          maxPerBucket = 100000)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q34_ss_dim_join" -> ((s, _) => {
      ssVersionedAnn(s)
        .groupBy(col("epoch"), col("highest_tier"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("epoch"), col("highest_tier"))
    }),
    "q32_reformat_drugs" -> ((s, _) => {
      // S5 dimension ETL: raw multi-drug leaves -> one drug per row
      operators.ReformatCivic.reshapeDrugs(
        sources.Synth.rawEvidenceDim(s, 20, Pipeline.DefaultSeed).toDF())
        .select(col("gene_key"), col("var_id"), col("evidence_type"),
          col("disease"), col("drug"), col("level"), col("source_id"))
        .orderBy(col("gene_key"), col("var_id"), col("source_id"), col("drug"))
    }),
    "q33_cohort_stats" -> ((s, _) => {
      operators.CohortStats.perConversation(Pipeline.run(s))
        .orderBy(col("conv_id"))
    }),
    // q23's and q24's plans (outputTable, drugTargetsReport) under
    // their second names; each pair shares one oracle SQL
    "q58_output_shuffle" -> ((s, _) => outputTable(s)),
    "q64_drug_targets_shuffle" -> ((s, _) => drugTargetsReport(s)),
    "q68_gopher_rules" -> ((s, dir) => {
      // the published Gopher document-quality rules as named columns +
      // the composed keep verdict; planted violators exercise every
      // rule boundary (symbol spam, ellipsis lines, bullet lines,
      // too-short) since the synthetic corpus is uniformly clean
      val docs = t(s, dir, "documents")
      val ev = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 4200000L).as("doc_id"),
            concat(col("text"), lit(" ## ### #### # ## ###")).as("text")))
        .unionByName(docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 4300000L).as("doc_id"),
            regexp_replace(col("text"), lit(" "), lit("...\n")).as("text")))
        .unionByName(docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 4400000L).as("doc_id"),
            regexp_replace(col("text"), lit(" "), lit("\n- ")).as("text")))
        .unionByName(docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 4500000L).as("doc_id"),
            lit("to of and the short").as("text")))
      operators.TextOps.gopherRulesTable(ev, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "q69_para_dedup" -> ((s, dir) => {
      // paragraph-level exact dedup: a shared boilerplate footer and a
      // within-doc repeated paragraph are planted on every doc — the
      // footer survives only at its first (doc, pos) arrival, the
      // in-doc repeat is dropped, and docs reassemble in order
      val docs = t(s, dir, "documents")
      val ev = docs.select(col("doc_id"),
        concat(col("text"), lit("\n"), lit("BOILERPLATE FOOTER PARA"),
          lit("\n"), substring(col("text"), 1, 40),
          lit("\n"), substring(col("text"), 1, 40)).as("text"))
      operators.TextOps.dedupParagraphs(ev, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "q77_bpe_tokenize" -> ((s, dir) => {
      // apply the learned tokenizer at corpus scale: per-doc word and
      // BPE-piece counts (the sequence-length accounting packing and
      // chunking consume). The iterative merge application runs once
      // per DISTINCT word (vocab-bounded boundary UDF); the corpus
      // path is a broadcast join + partial-aggregated sum. Planted
      // docs carry words unseen at training time — the OOV path; the
      // oracle re-derives every doc's counts from the dumped
      // segmentation table
      operators.BpeTrain.bpeTokenize(q77Docs(s, dir), "doc_id", "text",
        bpeModel(s, dir).merges)
        .orderBy(col("doc_id"))
    }),
    "q76_bpe_train" -> ((s, dir) => {
      // BPE vocabulary induction: one distributed word-count pass,
      // then the merge loop over the vocabulary-bounded distinct-word
      // table. Output = the learned merge list; the oracle recomputes
      // EVERY merge decision (argmax adjacent pair, count-desc/
      // lexicographic tie-break) from the dumped per-rank segmentation
      // states, so each rank's choice is value-checked cross-engine —
      // the stage->stage transition is pinned by the spec's classic
      // Sennrich corpus
      bpeModel(s, dir).mergesDf(s)
        .select(col("rank"), col("lhs"), col("rhs"), col("pair_count"))
        .orderBy(col("rank"))
    }),
    "q83_blocklist" -> ((s, dir) => {
      // C4 bad-word doc filter: %89 docs get planted violations
      // wrapped in edge punctuation — matching is token-exact after
      // the edge strip (clean docs with embedded substrings never
      // false-positive)
      val docs = t(s, dir, "documents")
      val ev = docs.select(col("doc_id"),
        when(col("doc_id") % 89 === 0,
          concat(col("text"), lit(" Darn! (heck) frak.")))
          .otherwise(col("text")).as("text"))
      operators.TextOps.blocklistTable(ev, "doc_id", "text",
          Seq("darn", "heck", "frak"))
        .orderBy(col("doc_id"))
    }),
    "q93_asof_join" -> ((s, dir) => {
      // point-in-time (AS-OF) lookup: each event gets the plan
      // version effective at its timestamp — the union+window
      // formulation (one exchange, one sorted run per key, no range
      // join); events before any version keep NULL (left semantics).
      // The oracle is DuckDB's native ASOF LEFT JOIN
      val ev = t(s, dir, "events")
      val dim = ev.select(col("user_id")).distinct()
        .select(col("user_id"), explode(sequence(lit(0), lit(3))).as("ver"))
        .select(col("user_id"),
          timestamp_seconds(lit(1704069000L) + col("ver") * 21600
            + col("user_id") * 60).as("ts"),
          col("ver"),
          concat(lit("p"), col("ver").cast("string")).as("plan"))
      operators.VersionedDim.asofJoin(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          dim, keyCol = "user_id", tsCol = "ts", ordCol = "ver",
          valCols = Seq("plan", "ver"))
        .select(col("event_id"), col("user_id"), col("plan"), col("ver"))
        .orderBy(col("event_id"))
    }),
    "q92_escalation_cep" -> ((s, dir) => {
      // MATCH_RECOGNIZE-lite sequence CEP: every turn whose last 3
      // tiers strictly improve (rank strictly decreasing in event
      // order) — the oracle replays the pattern as a lag-window
      // predicate over the dumped annotations relation
      import s.implicits._
      val ann = Pipeline.run(s).as[operators.Annotation]
      streaming.StreamingPipeline.escalationsStream(ann,
          streaming.StreamingPipeline.StreamConfig(), runLen = 3)
        .toDF()
        .orderBy(col("conv_id"), col("turn_idx"))
    }),
    "q91_temperature_mix" -> ((s, dir) => {
      // alpha-sampling (XLM-R/mT5 recipe, alpha=1/2): a planted tiny
      // 'rare' source gets a tempered share exceeding its size — its
      // rate clamps to 1 (keeps everything, the upweighting story) —
      // while the three bulk sources downsample; the oracle recomputes
      // totals, sqrt-weights, and thresholds from scratch
      val docs = t(s, dir, "documents").withColumn("tsource",
        when(col("doc_id") < 8, lit("rare"))
          .otherwise(concat(lit("src"), (col("doc_id") % 3).cast("string"))))
      val rates = operators.Mixing.temperatureRates(
        docs, "tsource", "text", budget = 30000L)
      val kept = operators.Sampling.stratifiedSample(docs, "doc_id",
        "tsource", rates.map { case (k, (r, _)) => k -> r },
        defaultRate = 0.0, salt = "s91")
      val rateQ = rates.toSeq.sortBy(_._1).foldLeft(lit(-1L)) {
        case (acc, (src, (_, q))) =>
          when(col("tsource") === src, lit(q)).otherwise(acc)
      }
      kept.withColumn("rate_q", rateQ)
        .groupBy(col("tsource"), col("rate_q"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(size(operators.TextOps.tokens(col("text"))))
            .as("n_tokens_kept"))
        .orderBy(col("tsource"))
    }),
    "q90_burst_detect" -> ((s, dir) => {
      // the STREAMING burst detector in batch mode: token events
      // spread over four 60 s windows; a burst is a closed window
      // where cnt >= 5 and cnt >= 3x the adjacent previous window
      // (absent predecessor counts 0) — the oracle replays the rule
      // with a windowed count + lag
      import s.implicits._
      val docs = t(s, dir, "documents")
      val base = 1704067200L
      val ev = docs.select(
          explode(slice(operators.TextOps.tokens(col("text")), 1, 8))
            .as("token"),
          timestamp_seconds(lit(base) + (col("doc_id") % 240)).as("ts"))
        .as[streaming.StreamingPipeline.TokenEvent]
      streaming.StreamingPipeline.burstDetectStream(ev,
          streaming.StreamingPipeline.StreamConfig(),
          windowSec = 60, minCount = 5, ratio = 3)
        .toDF().orderBy(col("token"), col("ws"))
    }),
    "q89_line_dedup_indoc" -> ((s, dir) => {
      // within-doc duplicate-line removal (map-only, zero shuffle —
      // q69's corpus-wide pass is the other half): a repeated 40-char
      // prefix line and a unique tail are planted per doc; the second
      // repeat drops, order survives
      val docs = t(s, dir, "documents")
      val ev = docs.select(col("doc_id"),
        concat(col("text"), lit("\n"), substring(col("text"), 1, 40),
          lit("\n"), substring(col("text"), 1, 40),
          lit("\nTAIL "), col("doc_id").cast("string")).as("text"))
      operators.TextOps.dedupLinesInDoc(ev, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "q88_pca_project" -> ((s, dir) => {
      // dimensionality reduction ahead of semantic dedup/ANN: project
      // the 64-dim embeddings onto the top-8 principal components.
      // Fit = one exact-integer moment pass (partitioning-invariant)
      // + driver Jacobi; projection = map-only native expression.
      // Components are exact integers, so the oracle replays them
      // from the dumped rotation relation bit-for-bit
      val m = pcaModel(s, dir)
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(operators.Pca.project(s, col("embedding"), m)))
        .select(col("vec_id"), col("pos").as("comp"), col("col").as("y_q"))
        .orderBy(col("vec_id"), col("comp"))
    }),
    "q87_bloom_decontaminate" -> ((s, dir) => {
      // q51's non-broadcast regime: when the eval side's exploded
      // shingle postings exceed the broadcast budget, a
      // distributed-fit Bloom bitmap (deliberately small here — 2^16
      // bits — so false positives actually reach and die in the
      // verify join) prefilters candidate docs map-side, then an
      // exact shuffle join verifies; identical output to q51 for any
      // bloom parameters, so it shares q51's oracle
      val all = t(s, dir, "documents")
      operators.TextOps.bloomContamination(
          all.filter(col("doc_id") >= 10), "doc_id", "text",
          all.filter(col("doc_id") < 10), "doc_id", "text",
          n = 3, minShared = 10, bloomBits = 1 << 16, probes = 4)
        .orderBy(col("doc"), col("eval_doc"))
    }),
    "q86_dsir_select" -> ((s, dir) => {
      // DSIR importance resampling (Xie et al. 2023): target = the
      // doc_id%7==3 slice, raw = the rest; hashed unigram+bigram LMs
      // (md5 buckets, add-1 smoothing, millinat-floored logs),
      // deterministic md5-Gumbel top-k — the oracle refits both LMs
      // and replays the selection from scratch. Split form: both LMs
      // fit in ONE corpus pass (target/raw are slices of one table)
      val docs = t(s, dir, "documents")
      operators.Dsir.selectTopKSplit(
          docs, col("doc_id") % 7 === 3,
          "doc_id", "text", k = 50, buckets = 4096, salt = "s86")
        .orderBy(col("doc_id"))
    }),
    "q85_stream_domain_cap" -> ((s, dir) => {
      // the STREAMING per-domain crawl-quota operator in batch mode:
      // one url event per doc with a scrambled arrival time (so
      // admission is NOT just the lowest doc_ids); admission = the
      // first 8 arrivals per host by (ts, doc_id) — batch execution
      // is one group pass from empty state
      import s.implicits._
      val docs = t(s, dir, "documents")
      val base = 1704067200L
      val url = concat(lit("https://www.site"),
        (col("doc_id") % 7).cast("string"), lit(".example.com/p/"),
        col("doc_id").cast("string"))
      val ev = docs.select(col("doc_id"), url.as("url"),
        timestamp_seconds(lit(base) + (col("doc_id") * 37) % 101).as("ts"))
      streaming.StreamingPipeline.capPerDomainStream(
          ev.as[streaming.StreamingPipeline.UrlEvent],
          streaming.StreamingPipeline.StreamConfig(), maxPerDomain = 8)
        .select(col("domain"), col("doc_id"), col("url"))
        .orderBy(col("domain"), col("doc_id"))
    }),
    "q84_heavy_hitters" -> ((s, dir) => {
      // exact phi-heavy hitters via CMS-bounded candidates + exact
      // recount — never a full-vocabulary shuffle (q47's scale dual)
      operators.TextOps.heavyHitters(t(s, dir, "documents"), "text",
          k = 200)
        .orderBy(col("cnt").desc, col("token"))
    }),
    "q82_stream_url_dedup" -> ((s, dir) => {
      // the STREAMING url-dedup operator in batch mode: every doc's
      // canonical url arrives twice with different noise (query/www/
      // case vs fragment), at interleaved arrival orders (doc_id%3
      // rows see the B variant first) — first arrival per canonical
      // form wins, deterministically
      import s.implicits._
      val docs = t(s, dir, "documents")
      val base = 1704067200L
      def mk(idOff: Long, url: org.apache.spark.sql.Column,
             tsOff: org.apache.spark.sql.Column) =
        docs.select((col("doc_id") + idOff).as("doc_id"), url.as("url"),
          timestamp_seconds(lit(base) + col("doc_id") * 2 + tsOff).as("ts"))
      val urlA = concat(lit("HTTPS://WWW.Site"),
        (col("doc_id") % 7).cast("string"), lit(".Example.com/p/"),
        col("doc_id").cast("string"), lit("?utm_source=feed"))
      val urlB = concat(lit("http://site"),
        (col("doc_id") % 7).cast("string"), lit(".example.com/p/"),
        col("doc_id").cast("string"), lit("#frag"))
      val a = mk(0L, urlA, when(col("doc_id") % 3 === 0, lit(1)).otherwise(lit(0)))
      val b = mk(9000000L, urlB, when(col("doc_id") % 3 === 0, lit(0)).otherwise(lit(1)))
      streaming.StreamingPipeline.dedupByUrl(
          a.unionByName(b).as[streaming.StreamingPipeline.UrlEvent],
          streaming.StreamingPipeline.StreamConfig())
        .select(col("doc_id"), col("url"))
        .orderBy(col("doc_id"))
    }),
    "q81_semdedup" -> ((s, dir) => {
      // SemDeDup over deterministic text-hash embeddings: k-means
      // cells (memoized assignment — the fit is not bit-stable, the
      // derived verdicts are), in-cell quantized-cosine duplicates at
      // the q35 threshold, greedy keep-first verdicts
      operators.Similarity.semDedupVerdicts(
          semCells(s, dir), docEmbeddings(s, dir), "doc_id", "vec",
          tau = 0.8)
        .select(col("id").as("doc_id"), col("cell"), col("capped"),
          col("n_smaller_dups"), col("keep"))
        .orderBy(col("doc_id"))
    }),
    "q80_html_extract" -> ((s, dir) => {
      // HTML -> training text: both engines wrap each doc's text in
      // the same page chrome (comment, style, script, nav, heading,
      // javascript/policy boilerplate, entity-encoded body) and the
      // extractor must strip it back out; %97 docs get a lorem-ipsum
      // tail and %101 docs a curly-brace code tail to exercise the
      // C4 doc-level drops
      val docs = t(s, dir, "documents")
      val body = when(col("doc_id") % 97 === 0,
          concat(col("text"), lit(" Lorem ipsum dolor sit amet.")))
        .when(col("doc_id") % 101 === 0,
          concat(col("text"), lit(" if (x) { y(); } end.")))
        .otherwise(col("text"))
      val enc = replace(replace(replace(body,
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
      val html = concat(
        lit("<html><!-- hdr --><head><style>p{margin:0}</style>" +
          "<script type=\"text/javascript\">if(a&&b){track();}</script>" +
          "</head><body><div class=\"nav\">Home | About | Contact</div>" +
          "<h1>Doc &#39;"),
        col("doc_id").cast("string"),
        lit("&#39;</h1><p>"), enc,
        lit("</p><p>Please enable JavaScript to view the comments.</p>" +
          "<div class=\"footer\">(c) 2024 Example Corp. All rights " +
          "reserved. See our privacy policy for details.</div>" +
          "</body></html>"))
      operators.HtmlOps.extract(
          docs.select(col("doc_id"), html.as("html")), "html")
        .select(col("doc_id"), col("raw_lines"), col("kept_lines"),
          col("doc_keep"), col("clean_text"))
        .orderBy(col("doc_id"))
    }),
    "q79_domain_cap" -> ((s, dir) => {
      // URL curation: the corpus carries no URLs, so both engines
      // plant the same two variants per doc (case/scheme/www/query/
      // fragment noise) that canonicalize to one form; per-domain
      // stats + the deterministic docs-per-domain cap (md5 rank) —
      // the crawl diversity control
      val docs = t(s, dir, "documents")
      val url = when(col("doc_id") % 2 === 0,
        concat(lit("HTTPS://WWW.Site"), (col("doc_id") % 7).cast("string"),
          lit(".Example.com/p/"), (col("doc_id") % 50).cast("string"),
          lit("?utm_source=feed&id="), col("doc_id").cast("string")))
        .otherwise(
          concat(lit("http://site"), (col("doc_id") % 7).cast("string"),
            lit(".example.com/p/"), (col("doc_id") % 50).cast("string"),
            lit("#frag")))
      val u = docs.select(col("doc_id"), url.as("url"))
      val d = u.withColumn("domain", operators.UrlOps.host(col("url")))
        .withColumn("norm", operators.UrlOps.normalizeUrl(col("url")))
      val stats = d.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("norm")).as("n_urls"))
      val kept = operators.UrlOps.capPerDomain(u, "doc_id", "url",
          maxPerDomain = 30, salt = "s79")
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_kept"))
      stats.join(kept, Seq("domain")).orderBy(col("domain"))
    }),
    "q78_shard_assign" -> ((s, dir) => {
      // deterministic training-data release sharding: shard = md5
      // uint32 % 16, a pure function of doc_id — byte-identical
      // shards on any partitioning/cluster/re-run; map-only (writers
      // partitionBy the column). Output = per-shard doc/token stats
      operators.Mixing.assignShards(
        t(s, dir, "documents"), "doc_id", nShards = 16, salt = "s78")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(operators.TextOps.tokens(col("text"))))
            .as("n_tokens"))
        .orderBy(col("shard"))
    }),
    "q75_quality_classifier" -> ((s, dir) => {
      // model-based quality filter, inference side (the fastText-
      // classifier shape): integer linear score over unigram+bigram
      // features, label = sign of the sum. Weights here are the
      // deterministic md5-derived stand-in (same join/scale shape as
      // learned weights) so the oracle recomputes them from scratch —
      // no dumped relation, a fully independent cross-engine check;
      // the spec demonstrates the actual junk/prose separation with a
      // hand-trained table
      val docs = t(s, dir, "documents")
      val w = operators.Classifier.synthWeights(docs, "doc_id", "text")
      operators.Classifier.scoreQuantized(docs, w, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "q74_mix_to_budget" -> ((s, dir) => {
      // Dolma-style corpus mixing: per-source token targets -> one
      // bounded per-source totals aggregation -> map-only
      // hash-threshold downsample (rate = min(1, target/total), one
      // IEEE division of exact integers, so the oracle recomputing the
      // totals lands on the same kept set bit-for-bit). src1 over-asks
      // (keeps everything), src3 asks for a sliver, src10+ have no
      // target (dropped — the mix declaration is the whole recipe)
      val docs = t(s, dir, "documents")
      val targets = Map(
        "src0" -> 300L, "src1" -> 100000L, "src2" -> 700L,
        "src3" -> 50L, "src4" -> 1000L, "src5" -> 600L, "src6" -> 600L,
        "src7" -> 600L, "src8" -> 600L, "src9" -> 600L)
      val rates = operators.Mixing.mixingRates(docs, "source", "text", targets)
      val kept = operators.Sampling.stratifiedSample(docs, "doc_id", "source",
        rates.map { case (src, (r, _)) => src -> r }, defaultRate = 0.0,
        salt = "s74")
      // quantized rate compiled in as a literal chain — the exact
      // integer both engines thresholded on, for observability
      val rateQ = rates.toSeq.sortBy(_._1).foldLeft(lit(-1L)) {
        case (acc, (src, (_, q))) =>
          when(col("source") === src, lit(q)).otherwise(acc)
      }
      kept.withColumn("rate_q", rateQ)
        .groupBy(col("source"), col("rate_q"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(size(operators.TextOps.tokens(col("text"))))
            .as("n_tokens_kept"))
        .orderBy(col("source"))
    }),
    "q72_dup_spans" -> ((s, dir) => {
      // exact-substring duplicate spans (Lee et al. 2107.06499,
      // window-hash formulation): an 11-token promo PREFIX on every
      // 11th doc and a 12-token boilerplate SUFFIX on every 5th plant
      // verbatim cross-document repeats at both span boundaries; the
      // corpus's own re-crawl near-dups surface as organic spans. The
      // oracle groups window TEXT where the engine groups the 64-bit
      // window hash — identical output barring 2^-64 collisions
      val docs = t(s, dir, "documents")
      val ev = docs.select(col("doc_id"),
        concat(
          when(col("doc_id") % 11 === 3, lit(
            "limited time offer click here to claim your free reward now "))
            .otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 5 === 0, lit(
            " subscribe to our newsletter for the latest updates and exclusive offers today"))
            .otherwise(lit(""))).as("text"))
      operators.SpanDedup.duplicateSpans(ev, "doc_id", "text", k = 8)
        .orderBy(col("doc_id"), col("span_start"))
    }),
    "q73_span_removal" -> ((s, dir) => {
      // apply q72's spans: delete the duplicated ranges, keep the
      // unique flanks (the paper's actual transform). Same planted
      // fixture, so every 5th/11th doc loses its boilerplate while its
      // organic text survives
      val docs = t(s, dir, "documents")
      val ev = docs.select(col("doc_id"),
        concat(
          when(col("doc_id") % 11 === 3, lit(
            "limited time offer click here to claim your free reward now "))
            .otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 5 === 0, lit(
            " subscribe to our newsletter for the latest updates and exclusive offers today"))
            .otherwise(lit(""))).as("text"))
      operators.SpanDedup.removeDuplicateSpans(ev, "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    }),
    "q71_stream_para_dedup" -> ((s, dir) => {
      // the STREAMING paragraph-dedup operator executed on a batch
      // Dataset (uniform ts -> first arrival == (doc, pos) minimum) +
      // the documented per-batch reassembly: must equal the batch
      // operator row-for-row, so it shares q69's oracle (the q39=q15
      // cross-path discipline)
      import s.implicits._
      val docs = t(s, dir, "documents")
      val ev = docs.select(col("doc_id"),
        concat(col("text"), lit("\n"), lit("BOILERPLATE FOOTER PARA"),
          lit("\n"), substring(col("text"), 1, 40),
          lit("\n"), substring(col("text"), 1, 40)).as("text"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
      val survivors = streaming.StreamingPipeline.dedupParagraphsStream(
        ev.as[streaming.StreamingPipeline.DocEvent],
        streaming.StreamingPipeline.StreamConfig())
      operators.TextOps.reassembleParagraphs(
          survivors.toDF(), ev, "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q70_cc_incremental" -> ((s, dir) => {
      // INCREMENTAL connected components: base assignment from pairs
      // wholly inside the first half of the id space, the remaining
      // pairs folded in via the star-edge union — must equal the full
      // recompute, so it shares q40's oracle (the count() is harness
      // fixture-carving, not part of the operator)
      val docs = t(s, dir, "documents")
      val mid = docs.count() / 2
      val pairs = jaccardPairs(s, dir)
      val base = pairs.filter(col("doc_a") < mid && col("doc_b") < mid)
      val inc = pairs.filter(!(col("doc_a") < mid && col("doc_b") < mid))
      val baseAssign = operators.Components.connectedComponents(base)
      val merged = operators.Components.incrementalComponents(baseAssign, inc)
        .select(col("node").as("doc_id"), col("component"))
      docs.select(col("doc_id"))
        .join(merged, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .orderBy(col("doc_id"))
    }),
    "q67_reprocess" -> ((s, _) => {
      import s.implicits._
      // A2 coarse consensus across all annotated rows, via
      // supportTable joins (no broadcast index); the oracle
      // re-derives every vote from the dumped annotation + support
      // relations, including the CASE-expressible majority
      // rule, so the report is value-checked cross-engine for the
      // first time (it was tests/parity-only before)
      operators.Reports.reprocessAcross(
          Pipeline.run(s).as[operators.Annotation],
          operators.DimIndex.supportTable(defaultFilteredDim(s),
            Pipeline.defaultCt))
        .toDF("entry")
        .orderBy(col("entry"))
    }),
    // q59 and q66 run one plan, shuffleAnnotations, and share q21's
    // oracle SQL: the shuffle regime must equal q21's broadcast-kernel
    // output row-for-row
    "q66_match_shuffle" -> ((s, _) => shuffleAnnotations(s)),
    "q59_ann_shuffle" -> ((s, _) => shuffleAnnotations(s)),
    "q21_annotations" -> ((s, _) => annotationColumns(Pipeline.run(s))))

  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    // shuffle-regime paths must equal the broadcast paths row-for-row,
    // so they share the broadcast queries' oracle SQL (the same
    // cross-path discipline as q39 = q15's SQL in batch mode)
    "q58_output_shuffle" -> oracleSqlBase("q23_output_table"),
    "q59_ann_shuffle" -> oracleSqlBase("q21_annotations"),
    "q64_drug_targets_shuffle" -> oracleSqlBase("q24_drug_targets"),
    "q66_match_shuffle" -> oracleSqlBase("q21_annotations"),
    "q70_cc_incremental" -> oracleSqlBase("q40_neardup_components"),
    "q71_stream_para_dedup" -> oracleSqlBase("q69_para_dedup"))

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q02_top_customers" ->
      """SELECT c_custkey,
         round(sum(o_totalprice), 2) AS total_spend,
         count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY total_spend DESC, c_custkey LIMIT 10""",
    "q03_region_revenue" ->
      """SELECT r_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""",
    "q04_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n_events, round(sum(value), 3) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q05_customer_best_order" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS best_price
         FROM (SELECT *, row_number() OVER
               (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders) WHERE rn = 1 ORDER BY o_custkey""",
    "q06_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY text ORDER BY doc_id""",
    "q07_token_stats" ->
      """SELECT doc_id,
         length(string_split_regex(trim(text), '\s+')) AS n_tokens,
         n_chars FROM documents ORDER BY doc_id""",
    "q08_events_props" ->
      """SELECT event_type,
         CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
         count(*) AS n,
         count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY 1""",
    "q26_segment_no_orders" ->
      """SELECT c_mktsegment, count(*) AS n_without
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
         GROUP BY 1 ORDER BY 1""",
    "q27_rollup_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           round(sum(l_extendedprice), 2) AS revenue,
           count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY 1, 2""",
    "q10_ann_quantized" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 20),
           c AS (SELECT vec_id AS item_id, embedding AS iv FROM embeddings),
           pairs AS (
             SELECT query_id, item_id,
               (SELECT CAST(sum(CAST(round(x.qe * 1000) AS BIGINT) *
                                CAST(round(x.ie * 1000) AS BIGINT)) AS BIGINT)
                FROM (SELECT unnest(qv) AS qe, unnest(iv) AS ie) x) AS dotq
             FROM q, c WHERE item_id <> query_id)
         SELECT query_id, rank, item_id, dotq FROM (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY dotq DESC, item_id) AS rank
           FROM pairs) WHERE rank <= 5 ORDER BY query_id, rank""",
    "q11_doc_quality" ->
      """SELECT doc_id,
           length(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
           length(text) AS n_chars_m,
           round(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0
             / greatest(length(text), 1), 4) AS punct_ratio,
           round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
             / greatest(length(text), 1), 4) AS digit_ratio,
           round(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this','are','was'], t))) * 1.0
             / greatest(length(string_split_regex(trim(lower(text)), '\s+')), 1), 4) AS stopword_ratio,
           round(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) * 1.0
             / greatest(length(string_split_regex(trim(lower(text)), '\s+')), 1), 4) AS uniq_ratio,
           round(list_sum(list_transform(string_split_regex(trim(lower(text)), '\s+'),
             t -> length(t))) * 1.0
             / greatest(length(string_split_regex(trim(lower(text)), '\s+')), 1), 4) AS mean_word_len
         FROM documents ORDER BY doc_id""",
    "q12_bpe_tokens" ->
      """SELECT doc_id,
           length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS n_bpe
         FROM documents ORDER BY doc_id""",
    "q13_fingerprint" ->
      """SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",
    // ----- engine queries: DuckDB re-derives the result from the -------
    // ----- Verify-dumped relations (see relationDumps) -----------------
    "q14_minhash_neardup" ->
      s"""WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
           FROM tok),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, jaccard FROM pairs
         WHERE jaccard >= 0.5 ORDER BY 1, 2""",
    "q15_simhash_neardup" ->
      s"""WITH s AS (SELECT doc_id, sig FROM ${rel("doc_simhash")})
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3
         ORDER BY 1, 2""",
    "q39_stream_neardup" ->
      s"""WITH s AS (SELECT doc_id, sig FROM ${rel("doc_simhash")})
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3
         ORDER BY 1, 2""",
    "q16_langid" ->
      """WITH tok AS (SELECT
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         sc AS (SELECT
           len(list_filter(toks, t -> list_contains(
             ['der','die','das','und','ist','nicht','von','mit','ein','zu'], t))) AS s_de,
           len(list_filter(toks, t -> list_contains(
             ['the','and','of','to','in','is','that','for','with','it'], t))) AS s_en,
           len(list_filter(toks, t -> list_contains(
             ['el','la','los','y','es','no','por','para','una','que'], t))) AS s_es,
           len(list_filter(toks, t -> list_contains(
             ['le','la','les','et','est','pas','pour','dans','une','que'], t))) AS s_fr
           FROM tok),
         lang AS (SELECT CASE
             WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) AND s_fr > 0 THEN 'fr'
             WHEN s_es = greatest(s_de, s_en, s_es, s_fr) AND s_es > 0 THEN 'es'
             WHEN s_en = greatest(s_de, s_en, s_es, s_fr) AND s_en > 0 THEN 'en'
             WHEN s_de = greatest(s_de, s_en, s_es, s_fr) AND s_de > 0 THEN 'de'
             ELSE 'und' END AS lang_pred
           FROM sc)
         SELECT lang_pred, count(*) AS n FROM lang GROUP BY 1 ORDER BY 1""",
    "q17_media_pipeline" ->
      s"""SELECT kind, count(*) AS n,
           CAST(sum(n_frames) AS BIGINT) AS total_frames,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes
         FROM ${rel("media_meta")} GROUP BY 1 ORDER BY 1""",
    "q18_ann_lsh" ->
      s"""WITH cand AS (SELECT * FROM ${rel("lsh_cand")}),
         e AS (SELECT vec_id, embedding FROM embeddings),
         scored AS (
           SELECT c.query_id, c.item_id,
             round(
               CAST((SELECT CAST(sum(CAST(round(x.qe * 1000) AS BIGINT) *
                                     CAST(round(x.ie * 1000) AS BIGINT)) AS BIGINT)
                     FROM (SELECT unnest(q.embedding) AS qe,
                                  unnest(i.embedding) AS ie) x) AS DOUBLE)
               / sqrt(CAST(
                   (SELECT CAST(sum(CAST(round(x.qe * 1000) AS BIGINT) *
                                     CAST(round(x.qe * 1000) AS BIGINT)) AS BIGINT)
                    FROM (SELECT unnest(q.embedding) AS qe) x) *
                   (SELECT CAST(sum(CAST(round(x.ie * 1000) AS BIGINT) *
                                     CAST(round(x.ie * 1000) AS BIGINT)) AS BIGINT)
                    FROM (SELECT unnest(i.embedding) AS ie) x) AS DOUBLE)), 6) AS cos
           FROM cand c
           JOIN e q ON q.vec_id = c.query_id
           JOIN e i ON i.vec_id = c.item_id)
         SELECT query_id, rank, item_id, cos FROM (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY cos DESC, item_id) AS rank
           FROM scored) WHERE rank <= 10 ORDER BY query_id, rank""",
    "q28_ann_ivf" ->
      s"""WITH cand AS (SELECT * FROM ${rel("ivf_cand")}),
         e AS (SELECT vec_id, embedding FROM embeddings),
         scored AS (
           SELECT c.query_id, c.item_id,
             round(
               CAST((SELECT CAST(sum(CAST(round(x.qe * 1000) AS BIGINT) *
                                     CAST(round(x.ie * 1000) AS BIGINT)) AS BIGINT)
                     FROM (SELECT unnest(q.embedding) AS qe,
                                  unnest(i.embedding) AS ie) x) AS DOUBLE)
               / sqrt(CAST(
                   (SELECT CAST(sum(CAST(round(x.qe * 1000) AS BIGINT) *
                                     CAST(round(x.qe * 1000) AS BIGINT)) AS BIGINT)
                    FROM (SELECT unnest(q.embedding) AS qe) x) *
                   (SELECT CAST(sum(CAST(round(x.ie * 1000) AS BIGINT) *
                                     CAST(round(x.ie * 1000) AS BIGINT)) AS BIGINT)
                    FROM (SELECT unnest(i.embedding) AS ie) x) AS DOUBLE)), 6) AS cos
           FROM cand c
           JOIN e q ON q.vec_id = c.query_id
           JOIN e i ON i.vec_id = c.item_id)
         SELECT query_id, rank, item_id, cos FROM (
           SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY cos DESC, item_id) AS rank
           FROM scored) WHERE rank <= 10 ORDER BY query_id, rank""",
    "q19_sql_interface" ->
      s"""SELECT conv_id,
           count(*) AS n_turns,
           CAST(sum(CASE WHEN highest_tier = 'tier_1' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_t1,
           max(len(tier_1)) AS max_t1_matches,
           min_by(highest_tier, turn_idx) AS first_tier
         FROM ${rel("annotations")}
         GROUP BY conv_id
         HAVING n_t1 > 0
         ORDER BY conv_id
         LIMIT 50""",
    "q20_match_tier_counts" ->
      s"""SELECT data_type, highest_tier, count(*) AS n
         FROM ${rel("annotations")} GROUP BY 1, 2 ORDER BY 1, 2""",
    "q21_annotations" ->
      s"""SELECT conv_id, turn_idx, gene_key, data_type, highest_tier,
           coalesce(array_to_string(tier_1, ';'), '') AS tier_1,
           coalesce(array_to_string(tier_1b, ';'), '') AS tier_1b,
           coalesce(array_to_string(tier_2, ';'), '') AS tier_2,
           coalesce(array_to_string(tier_3, ';'), '') AS tier_3,
           tier_4,
           coalesce(array_to_string(ds_tier_1, ';'), '') AS ds_tier_1
         FROM ${rel("annotations")} ORDER BY conv_id, turn_idx""",
    "q22_tier_select_highest" ->
      s"""SELECT highest_tier, count(*) AS n
         FROM ${rel("annotations")} GROUP BY 1 ORDER BY 1""",
    "q25_pstart_sql" ->
      s"""SELECT regexp_extract(upper(prot), '^(P\\.[A-Z]+[0-9]+)', 1) AS p_start,
           count(*) AS n
         FROM ${rel("snv_prots")}
         WHERE prot IS NOT NULL
           AND regexp_matches(upper(prot), '^P\\.[A-Z]+[0-9]+')
         GROUP BY 1 ORDER BY 1""",
    "q29_conv_tier_pivot" ->
      s"""SELECT conv_id,
           count(*) FILTER (WHERE highest_tier = 'tier_1') AS tier_1,
           count(*) FILTER (WHERE highest_tier = 'tier_1b') AS tier_1b,
           count(*) FILTER (WHERE highest_tier = 'tier_2') AS tier_2,
           count(*) FILTER (WHERE highest_tier = 'tier_3') AS tier_3,
           count(*) FILTER (WHERE highest_tier = 'tier_4') AS tier_4
         FROM ${rel("annotations")} GROUP BY conv_id ORDER BY conv_id""",
    "q30_session_rollup" ->
      s"""WITH a AS (SELECT conv_id, ts, highest_tier
             FROM ${rel("annotations")}),
         f AS (SELECT conv_id, ts, highest_tier,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
             THEN 1 ELSE 0 END AS new_s
           FROM a WINDOW w AS (PARTITION BY conv_id ORDER BY ts)),
         s AS (SELECT conv_id, ts, highest_tier,
             sum(new_s) OVER (PARTITION BY conv_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM f)
         SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           conv_id, count(*) AS n_turns,
           count(*) FILTER (WHERE highest_tier = 'tier_1') AS n_tier_1
         FROM s GROUP BY conv_id, sid ORDER BY conv_id, session_start""",
    "q31_versioned_dim" ->
      s"""SELECT epoch, highest_tier, count(*) AS n
         FROM ${rel("versioned_ann")} GROUP BY 1, 2 ORDER BY 1, 2""",
    "q34_ss_dim_join" ->
      s"""SELECT epoch, highest_tier, count(*) AS n
         FROM ${rel("ss_versioned_ann")} GROUP BY 1, 2 ORDER BY 1, 2""",
    "q36_jaccard_exact" ->
      s"""WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
           FROM tok),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, jaccard FROM pairs
         WHERE jaccard >= 0.5 ORDER BY 1, 2""",
    "q37_dedup_keep_first" ->
      s"""WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
           FROM tok),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN
           (SELECT doc_b FROM pairs WHERE jaccard >= 0.5)
         ORDER BY doc_id""",
    "q40_neardup_components" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
           FROM tok),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(a.sh || b.sh)), 4) >= 0.5),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (SELECT u, v FROM edges
           UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u, least(u, min(v)) AS component
           FROM reach GROUP BY u)
         SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
         ORDER BY d.doc_id""",
    "q41_repetition" ->
      """WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         g AS (SELECT doc_id, list_transform(
             range(0, greatest(len(toks) - 2, 0) + 1),
             i -> array_to_string(toks[i+1:i+2], ' ')) AS grams
           FROM tok),
         ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         cnt AS (SELECT doc_id, gram, count(*) AS c
           FROM ex GROUP BY 1, 2),
         st AS (SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_grams,
             count(*) AS n_distinct,
             max(c) AS max_count
           FROM cnt GROUP BY 1)
         SELECT doc_id, n_grams, n_distinct, max_count,
           round(CAST(n_grams - n_distinct AS DOUBLE) / n_grams, 4)
             AS dup_ngram_frac,
           round(CAST(max_count AS DOUBLE) / n_grams, 4)
             AS top_ngram_frac
         FROM st ORDER BY doc_id""",
    "q42_stratified_sample" ->
      """WITH kept AS (SELECT * FROM documents
           WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':s42'), 1, 8) <
             CASE lang WHEN 'en' THEN '40000000'
                       WHEN 'zh' THEN '80000000'
                       ELSE 'c0000000' END)
         SELECT lang, count(*) AS n_kept, min(doc_id) AS first_doc
         FROM kept GROUP BY 1 ORDER BY 1""",
    "q43_tfidf" ->
      """WITH tok AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           FROM documents),
         f AS (SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term IN ('spark', 'window', 'merge', 'vector')
           GROUP BY 1, 2),
         d AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         i AS (SELECT term, (n.n * 1000000) // df AS idf_q FROM d, n)
         SELECT f.doc_id, CAST(sum(f.tf * i.idf_q) AS BIGINT) AS score_q
         FROM f JOIN i USING (term) GROUP BY 1 ORDER BY 1""",
    "q56_bm25" ->
      """WITH tok AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           FROM documents),
         lens AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         f AS (SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term IN ('spark', 'window', 'merge', 'vector')
           GROUP BY 1, 2),
         d AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         s AS (SELECT count(*) AS sdl FROM tok),
         i AS (SELECT term, CAST(floor(ln(1 + (n.n - df + CAST(0.5 AS DOUBLE))
             / (df + CAST(0.5 AS DOUBLE))) * 1000) AS BIGINT) AS idf_q
           FROM d, n)
         SELECT f.doc_id,
           CAST(sum(i.idf_q * ((22 * f.tf * s.sdl * 1000000)
             // (10 * f.tf * s.sdl + 3 * s.sdl + 9 * l.dl * n.n))) AS BIGINT)
             AS score_q
         FROM f JOIN i USING (term) JOIN lens l USING (doc_id), n, s
         GROUP BY 1 ORDER BY 1""",
    "q63_content_dedup" ->
      s"""SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (PARTITION BY fp
             ORDER BY doc_id) AS rk
           FROM ${rel("doc_fp")})
         WHERE rk = 1 ORDER BY doc_id""",
    "q62_exact_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s42'), doc_id) AS rk
           FROM documents)
         WHERE rk <= 40 ORDER BY doc_id""",
    "q61_incremental_dedup" ->
      s"""WITH cut AS (SELECT 400 * greatest(count(*) // 500, 1) AS c
           FROM documents),
         tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
           FROM tok),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < (SELECT c FROM cut)
             AND b.doc_id >= (SELECT c FROM cut))
         SELECT doc_a, doc_b, jaccard FROM pairs
         WHERE jaccard >= 0.5 ORDER BY 1, 2""",
    "q65_lm_bigram" ->
      """WITH ev AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 3000000,
             array_to_string(list_reverse(
               string_split_regex(trim(lower(text)), '\s+')), ' ')
           FROM documents WHERE doc_id < 150),
         trt AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         tok AS (SELECT unnest(toks) AS term FROM trt),
         tot AS (SELECT count(*) AS n FROM tok),
         uni AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
         uniq AS (SELECT term, cnt,
             CAST(floor(-ln(CAST(cnt AS DOUBLE) / tot.n) * 1000) AS BIGINT)
               AS nll_uni_q,
             CAST(floor(-ln(CAST(0.4 AS DOUBLE) * cnt / tot.n) * 1000) AS BIGINT)
               AS nll_bo_q
           FROM uni, tot),
         trbg AS (SELECT
             unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS bg
           FROM trt),
         bic AS (SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS cb
           FROM trbg GROUP BY 1, 2),
         biq AS (SELECT w1, w2,
             CAST(floor(-ln(CAST(cb AS DOUBLE) / u.cnt) * 1000) AS BIGINT)
               AS nll_bi_q
           FROM bic JOIN uniq u ON bic.w1 = u.term),
         evt AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks FROM ev),
         lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM evt),
         firsts AS (SELECT e.doc_id,
             coalesce(u.nll_uni_q,
               CAST(floor(ln(CAST(tot.n AS DOUBLE)) * 1000) AS BIGINT))
               AS contrib
           FROM evt e CROSS JOIN tot LEFT JOIN uniq u ON e.toks[1] = u.term),
         evbg AS (SELECT doc_id,
             unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS bg
           FROM evt),
         evbi AS (SELECT doc_id, bg[1] AS w1, bg[2] AS w2, count(*) AS tf
           FROM evbg GROUP BY 1, 2, 3),
         scoredbi AS (SELECT e.doc_id,
             e.tf * coalesce(b.nll_bi_q, u2.nll_bo_q,
               CAST(floor(-ln(CAST(0.4 AS DOUBLE) * 1 / tot.n) * 1000) AS BIGINT))
               AS contrib
           FROM evbi e CROSS JOIN tot
             LEFT JOIN biq b ON e.w1 = b.w1 AND e.w2 = b.w2
             LEFT JOIN uniq u2 ON e.w2 = u2.term),
         allc AS (SELECT doc_id, contrib FROM firsts
           UNION ALL SELECT doc_id, contrib FROM scoredbi),
         sc AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_q
           FROM allc GROUP BY 1),
         sc2 AS (SELECT sc.doc_id, l.n_tok, sc.score_q,
             sc.score_q // l.n_tok AS mean_nll_q
           FROM sc JOIN lens l USING (doc_id)),
         th AS (SELECT quantile_cont(mean_nll_q, 0.25) AS q1,
             quantile_cont(mean_nll_q, 0.75) AS q3 FROM sc2)
         SELECT doc_id, n_tok, score_q, mean_nll_q,
           CASE WHEN mean_nll_q <= th.q1 THEN 'head'
                WHEN mean_nll_q > th.q3 THEN 'tail'
                ELSE 'middle' END AS bucket
         FROM sc2, th ORDER BY doc_id""",
    "q60_lm_score" ->
      """WITH tok AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tot AS (SELECT count(*) AS n FROM tok),
         c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
         nll AS (SELECT term,
             CAST(floor(-ln(CAST(cnt AS DOUBLE) / tot.n) * 1000) AS BIGINT)
               AS nll_q
           FROM c, tot),
         f AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         sc AS (SELECT f.doc_id,
             CAST(sum(f.tf) AS BIGINT) AS n_tok,
             CAST(sum(f.tf * nll.nll_q) AS BIGINT) AS score_q
           FROM f JOIN nll USING (term) GROUP BY 1),
         sc2 AS (SELECT *, score_q // n_tok AS mean_nll_q FROM sc),
         th AS (SELECT quantile_cont(mean_nll_q, 0.25) AS q1,
             quantile_cont(mean_nll_q, 0.75) AS q3 FROM sc2)
         SELECT doc_id, n_tok, score_q, mean_nll_q,
           CASE WHEN mean_nll_q <= th.q1 THEN 'head'
                WHEN mean_nll_q > th.q3 THEN 'tail'
                ELSE 'middle' END AS bucket
         FROM sc2, th ORDER BY doc_id""",
    "q57_disease_vocab" ->
      s"""SELECT DISTINCT upper(trim(disease)) AS disease
         FROM ${rel("dim_raw")}
         WHERE upper(trim(disease)) <> 'NULL' ORDER BY 1""",
    "q44_pii_redact" ->
      """WITH a AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com call 555-'
             || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             || '-6789 see https://ex.org/d/' || CAST(doc_id AS VARCHAR)
             AS aug
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(aug,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(aug,
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phones,
           len(regexp_extract_all(aug, 'https?://[^\s]+')) AS n_urls,
           regexp_replace(
             regexp_replace(
               regexp_replace(aug, 'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted
         FROM a ORDER BY doc_id""",
    "q45_frame_sample" ->
      s"""SELECT media_id, width, height, count(*) AS n_sampled,
           min(y_mean) AS y_min, max(y_mean) AS y_max
         FROM ${rel("video_frames")}
         GROUP BY 1, 2, 3 ORDER BY media_id""",
    "q46_corpus_stats" ->
      """WITH t AS (SELECT source,
           length(string_split_regex(trim(text), '\s+')) AS n_tok
         FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           min(n_tok) AS min_tok, max(n_tok) AS max_tok,
           median(n_tok) AS median_tok
         FROM t GROUP BY 1 ORDER BY 1""",
    "q47_top_tokens" ->
      """WITH tok AS (SELECT
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
         FROM documents)
         SELECT token, count(*) AS n FROM tok
         GROUP BY 1 ORDER BY n DESC, token LIMIT 20""",
    "q48_vocab" ->
      """WITH tok AS (SELECT lang,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
         FROM documents)
         SELECT lang, count(DISTINCT token) AS n_vocab,
           count(*) AS n_tokens
         FROM tok GROUP BY 1 ORDER BY 1""",
    "q49_sliding_value_window" ->
      """WITH e AS (SELECT user_id, event_id,
           epoch(ts) AS epoch,
           CAST(floor(value * 1000) AS BIGINT) AS v_q
         FROM events)
         SELECT user_id, event_id,
           count(*) OVER w AS n_1h,
           CAST(sum(v_q) OVER w AS BIGINT) AS sum_v_1h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    "q50_rank_family" ->
      """SELECT lang, doc_id, n_chars,
           dense_rank() OVER w AS rnk,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
         FROM documents
         WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
         ORDER BY lang, n_chars, doc_id""",
    "q51_decontaminate" ->
      """WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
           FROM tok),
         corpus AS (SELECT doc_id AS doc, unnest(sh) AS s
           FROM sh WHERE doc_id >= 10),
         ev AS (SELECT doc_id AS eval_doc, unnest(sh) AS s
           FROM sh WHERE doc_id < 10)
         SELECT c.doc, e.eval_doc, count(*) AS n_shared
         FROM corpus c JOIN ev e USING (s)
         GROUP BY 1, 2 HAVING count(*) >= 10
         ORDER BY 1, 2""",
    "q52_chunking" ->
      """WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, toks,
             ((greatest(len(toks) - 32, 0) + 23) // 24) + 1 AS n_chunks
           FROM tok),
         ex AS (SELECT doc_id, toks,
             unnest(range(0, n_chunks)) AS chunk_idx FROM c)
         SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(toks[chunk_idx*24+1 : chunk_idx*24+32], ' ')
             AS chunk_text,
           len(toks[chunk_idx*24+1 : chunk_idx*24+32]) AS n_chunk_tokens
         FROM ex ORDER BY doc_id, chunk_idx""",
    "q53_packing" ->
      """WITH t AS (SELECT lang, doc_id,
           length(string_split_regex(trim(lower(text)), '\s+')) AS n_tok
         FROM documents),
         p AS (SELECT lang, doc_id, n_tok,
           coalesce(CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS prev
         FROM t)
         SELECT lang, doc_id, n_tok, prev // 512 AS bin
         FROM p ORDER BY lang, doc_id""",
    "q54_stream_packing" ->
      """WITH t AS (SELECT lang, doc_id,
           length(string_split_regex(trim(lower(text)), '\s+')) AS n_tok
         FROM documents),
         p AS (SELECT lang, doc_id, n_tok,
           coalesce(CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS prev
         FROM t)
         SELECT lang, doc_id, n_tok, prev // 512 AS bin
         FROM p ORDER BY lang, doc_id""",
    "q55_dedup_canonical" ->
      s"""WITH RECURSIVE tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
           FROM tok),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(a.sh || b.sh)), 4) >= 0.5),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (SELECT u, v FROM edges
           UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u, least(u, min(v)) AS component
           FROM reach GROUP BY u)
         SELECT d.doc_id FROM documents d
         LEFT JOIN comp c ON c.u = d.doc_id
         WHERE c.u IS NULL OR c.component = d.doc_id
         ORDER BY d.doc_id""",
    "q38_quality_score" ->
      """WITH f AS (SELECT doc_id,
           length(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
           round(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0
             / greatest(length(text), 1), 4) AS punct_ratio,
           round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
             / greatest(length(text), 1), 4) AS digit_ratio,
           round(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this','are','was'], t))) * 1.0
             / greatest(length(string_split_regex(trim(lower(text)), '\s+')), 1), 4) AS stopword_ratio,
           round(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) * 1.0
             / greatest(length(string_split_regex(trim(lower(text)), '\s+')), 1), 4) AS uniq_ratio
         FROM documents)
         SELECT doc_id,
             CAST(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                  THEN 1.0 ELSE 0.3 END AS DOUBLE) *
             CAST(CASE WHEN stopword_ratio >= 0.05
                  THEN 1.0 ELSE 0.5 END AS DOUBLE) *
             uniq_ratio *
             (1 - least(punct_ratio + digit_ratio, CAST(1.0 AS DOUBLE)))
           AS quality
         FROM f ORDER BY doc_id""",
    "q35_embed_neardup" ->
      s"""WITH e AS (SELECT doc_id, vec FROM ${rel("doc_embeddings")}),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(
               CAST((SELECT CAST(sum(CAST(round(x.qa * 1000) AS BIGINT) *
                                     CAST(round(x.qb * 1000) AS BIGINT)) AS BIGINT)
                     FROM (SELECT unnest(a.vec) AS qa, unnest(b.vec) AS qb) x) AS DOUBLE)
               / sqrt(CAST(
                   (SELECT CAST(sum(CAST(round(x.qa * 1000) AS BIGINT) *
                                     CAST(round(x.qa * 1000) AS BIGINT)) AS BIGINT)
                    FROM (SELECT unnest(a.vec) AS qa) x) *
                   (SELECT CAST(sum(CAST(round(x.qb * 1000) AS BIGINT) *
                                     CAST(round(x.qb * 1000) AS BIGINT)) AS BIGINT)
                    FROM (SELECT unnest(b.vec) AS qb) x) AS DOUBLE)), 6) AS cos
           FROM e a JOIN e b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, cos FROM p WHERE cos >= 0.8 ORDER BY 1, 2""",
    "q23_output_table" ->
      s"""WITH ann AS (SELECT * FROM ${rel("annotations")}),
         r AS (SELECT * FROM ${rel("renders")}),
         tiers AS (
           SELECT conv_id, turn_idx, gene_key, data_type, '1' AS tier,
                  tier_1 AS matched, ds_tier_1 AS ds
           FROM ann WHERE len(tier_1) > 0
           UNION ALL SELECT conv_id, turn_idx, gene_key, data_type, '1b',
                  tier_1b, ds_tier_1b FROM ann WHERE len(tier_1b) > 0
           UNION ALL SELECT conv_id, turn_idx, gene_key, data_type, '2',
                  tier_2, ds_tier_2 FROM ann WHERE len(tier_2) > 0
           UNION ALL SELECT conv_id, turn_idx, gene_key, data_type, '3',
                  tier_3, ds_tier_3 FROM ann WHERE len(tier_3) > 0),
         ex AS (SELECT conv_id, turn_idx, gene_key, data_type, tier,
             unnest(matched) AS var_id,
             unnest(range(len(matched))) AS vidx
           FROM tiers),
         fil AS (SELECT * FROM ex WHERE upper(var_id) NOT IN
             ('NON_SNV_MATCH_ONLY', 'NON_CNV_MATCH_ONLY', 'NON_EXPR_MATCH_ONLY')),
         j AS (SELECT f.conv_id, f.turn_idx, f.gene_key, f.data_type,
             f.tier, f.vidx, r.scores, r.types_string, r.ev_predictive,
             r.ev_diagnostic, r.ev_prognostic, r.ev_predisposing
           FROM fil f JOIN r ON r.gene_key = f.gene_key AND r.var_id = f.var_id),
         agg AS (SELECT conv_id, turn_idx, gene_key, data_type, tier,
             flatten(list(scores ORDER BY vidx)) AS sc,
             list(types_string ORDER BY vidx) AS ty,
             flatten(list(ev_predictive ORDER BY vidx)) AS ep,
             flatten(list(ev_diagnostic ORDER BY vidx)) AS edi,
             flatten(list(ev_prognostic ORDER BY vidx)) AS epr,
             flatten(list(ev_predisposing ORDER BY vidx)) AS eps
           FROM j GROUP BY 1, 2, 3, 4, 5),
         rows1 AS (SELECT t.conv_id, t.turn_idx, t.gene_key, t.data_type, t.tier,
             coalesce(nullif(array_to_string(a.sc, ';'), ''), '.') AS civic_scores,
             coalesce(nullif(array_to_string(a.ty, ';'), ''), '.') AS civic_var_types,
             coalesce(nullif(array_to_string(
               list_transform(t.ds, x -> upper(x)), ';'), ''), '.') AS civic_drug_support,
             coalesce(nullif(array_to_string(a.ep, ';'), ''), '.') AS civic_predictive,
             coalesce(nullif(array_to_string(a.edi, ';'), ''), '.') AS civic_diagnostic,
             coalesce(nullif(array_to_string(a.epr, ';'), ''), '.') AS civic_prognostic,
             coalesce(nullif(array_to_string(a.eps, ';'), ''), '.') AS civic_predisposing
           FROM tiers t LEFT JOIN agg a
             USING (conv_id, turn_idx, gene_key, data_type, tier)),
         rows4 AS (SELECT conv_id, turn_idx, gene_key, data_type, '4' AS tier,
             '.' AS civic_scores, '.' AS civic_var_types,
             '.' AS civic_drug_support, '.' AS civic_predictive,
             '.' AS civic_diagnostic, '.' AS civic_prognostic,
             '.' AS civic_predisposing
           FROM ann WHERE tier_4)
         SELECT * FROM rows1 UNION ALL SELECT * FROM rows4
         ORDER BY conv_id, turn_idx, tier""",
    "q68_gopher_rules" ->
      """WITH d AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 4200000, text || ' ## ### #### # ## ###'
             FROM documents WHERE doc_id < 30
           UNION ALL SELECT doc_id + 4300000,
             regexp_replace(text, ' ', '...' || chr(10), 'g')
             FROM documents WHERE doc_id < 30
           UNION ALL SELECT doc_id + 4400000,
             regexp_replace(text, ' ', chr(10) || '- ', 'g')
             FROM documents WHERE doc_id < 30
           UNION ALL SELECT doc_id + 4500000, 'to of and the short'
             FROM documents WHERE doc_id < 5),
         f AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks,
             string_split(text, chr(10)) AS lines,
             len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_sym
           FROM d),
         g AS (SELECT doc_id,
             len(toks) AS n_words,
             CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
               / greatest(len(toks), 1) AS mean_len,
             CAST(n_sym AS DOUBLE) / greatest(len(toks), 1) AS sym_ratio,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))
               AS DOUBLE) / greatest(len(lines), 1) AS bullet_frac,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
               AS DOUBLE) / greatest(len(lines), 1) AS ellipsis_frac,
             CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
               AS DOUBLE) / greatest(len(toks), 1) AS alpha_frac,
             len(list_intersect(list_distinct(toks),
               ['the','be','to','of','and','that','have','with'])) AS n_stop
           FROM f)
         SELECT doc_id, n_words, mean_len AS mean_word_len_g,
           sym_ratio AS symbol_ratio,
           bullet_frac,
           ellipsis_frac,
           alpha_frac,
           n_stop AS n_stop_hits,
           (n_words >= 50 AND n_words <= 100000
             AND mean_len >= 3.0 AND mean_len <= 10.0
             AND sym_ratio <= CAST(0.1 AS DOUBLE)
             AND bullet_frac <= CAST(0.9 AS DOUBLE)
             AND ellipsis_frac <= CAST(0.3 AS DOUBLE)
             AND alpha_frac >= CAST(0.8 AS DOUBLE)
             AND n_stop >= 2) AS gopher_keep
         FROM g ORDER BY doc_id""",
    "q77_bpe_tokenize" ->
      s"""WITH seg AS (SELECT word, len(pieces) AS n_pieces
           FROM ${rel("bpe_seg_table")}),
         ev AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 5000000,
             text || ' lowest newestest unseenword'
           FROM documents WHERE doc_id % 7 = 1),
         tok AS (SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
           FROM ev)
         SELECT t.doc_id, count(*) AS n_words,
           CAST(sum(s.n_pieces) AS BIGINT) AS n_bpe_tokens
         FROM tok t JOIN seg s USING (word)
         GROUP BY 1 ORDER BY 1""",
    "q76_bpe_train" ->
      s"""WITH st AS (SELECT rank, word, cnt, pieces
           FROM ${rel("bpe_stages")}),
         bg AS (SELECT rank, cnt,
             unnest(list_zip(pieces[1:len(pieces)-1], pieces[2:len(pieces)]))
               AS p
           FROM st),
         agg AS (SELECT rank, p[1] AS lhs, p[2] AS rhs,
             sum(cnt) AS pair_count
           FROM bg GROUP BY 1, 2, 3),
         best AS (SELECT rank, lhs, rhs, pair_count,
             row_number() OVER (PARTITION BY rank
               ORDER BY pair_count DESC, lhs, rhs) AS rk
           FROM agg)
         SELECT rank, lhs, rhs, CAST(pair_count AS BIGINT) AS pair_count
         FROM best WHERE rk = 1 ORDER BY rank""",
    "q83_blocklist" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 89 = 0
               THEN text || ' Darn! (heck) frak.' ELSE text END AS text
           FROM documents),
         b AS (SELECT doc_id,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               t -> list_contains(['darn', 'heck', 'frak'],
                 regexp_replace(t, '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g'))))
               AS n_blocked
           FROM d)
         SELECT doc_id, n_blocked, n_blocked = 0 AS keep
         FROM b ORDER BY doc_id""",
    "q84_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)),
             '\s+')) AS token
           FROM documents),
         n AS (SELECT count(*) AS total FROM t),
         c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1)
         SELECT token, cnt FROM c, n WHERE cnt * 200 > total
         ORDER BY cnt DESC, token""",
    "q93_asof_join" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         d AS (SELECT user_id, CAST(v AS INT) AS ver,
             make_timestamp((1704069000 + v * 21600 + user_id * 60)
               * 1000000) AS dts,
             'p' || v AS plan
           FROM u, (SELECT unnest(range(0, 4)) AS v) vs)
         SELECT e.event_id, e.user_id, d.plan, d.ver
         FROM events e ASOF LEFT JOIN d
           ON e.user_id = d.user_id AND e.ts >= d.dts
         ORDER BY e.event_id""",
    "q92_escalation_cep" ->
      s"""WITH a AS (SELECT conv_id, turn_idx, ts,
             CASE highest_tier WHEN 'tier_1' THEN 0
               WHEN 'tier_1b' THEN 1 WHEN 'tier_2' THEN 2
               WHEN 'tier_3' THEN 3 ELSE 4 END AS rk
           FROM ${rel("annotations")}),
         l AS (SELECT conv_id, turn_idx, rk,
             lag(rk, 1) OVER w AS r1, lag(rk, 2) OVER w AS r2
           FROM a WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
         SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
           CAST(rk AS INT) AS tier_rank, CAST(r2 AS INT) AS from_rank
         FROM l WHERE rk < r1 AND r1 < r2
         ORDER BY conv_id, turn_idx""",
    "q91_temperature_mix" ->
      """WITH d AS (SELECT doc_id, text,
             CASE WHEN doc_id < 8 THEN 'rare'
                  ELSE 'src' || (doc_id % 3) END AS tsource
           FROM documents),
         tot AS (SELECT tsource,
             sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS toks
           FROM d GROUP BY 1),
         w AS (SELECT tsource, toks,
             CAST(floor(sqrt(CAST(toks AS DOUBLE)) * 1048576) AS BIGINT)
               AS w_q
           FROM tot),
         ws AS (SELECT CAST(sum(w_q) AS BIGINT) AS wsum FROM w),
         r AS (SELECT tsource,
             least(CAST(4294967296 AS BIGINT),
               CAST(floor(least(CAST(1 AS DOUBLE),
                 (CAST(30000 AS DOUBLE) * CAST(w_q AS DOUBLE))
                   / (CAST(wsum AS DOUBLE) * CAST(toks AS DOUBLE)))
                 * CAST(4294967296 AS DOUBLE)
                 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS rate_q
           FROM w, ws),
         kept AS (SELECT d.tsource, d.text, r.rate_q
           FROM d JOIN r USING (tsource)
           WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':s91'), 1, 8) <
             CASE WHEN r.rate_q >= 4294967296 THEN 'g'
                  ELSE printf('%08x', r.rate_q) END)
         SELECT tsource, rate_q, count(*) AS n_docs_kept,
           CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
             AS BIGINT) AS n_tokens_kept
         FROM kept GROUP BY 1, 2 ORDER BY 1""",
    "q90_burst_detect" ->
      """WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         ev AS (SELECT unnest(toks[1:8]) AS token,
             1704067200 + (doc_id % 240) AS tse
           FROM tok),
         w AS (SELECT token, (tse // 60) * 60 AS ws, count(*) AS cnt
           FROM ev GROUP BY 1, 2),
         l AS (SELECT token, ws, cnt,
             lag(ws) OVER (PARTITION BY token ORDER BY ws) AS pws,
             lag(cnt) OVER (PARTITION BY token ORDER BY ws) AS pcnt
           FROM w),
         b AS (SELECT token, CAST(ws AS BIGINT) AS ws,
             CAST(cnt AS BIGINT) AS cnt,
             CAST(CASE WHEN pws = ws - 60 THEN pcnt ELSE 0 END
               AS BIGINT) AS prev_cnt
           FROM l)
         SELECT token, ws, cnt, prev_cnt FROM b
         WHERE cnt >= 5 AND cnt >= 3 * prev_cnt
         ORDER BY token, ws""",
    "q89_line_dedup_indoc" ->
      """WITH ev AS (SELECT doc_id,
             text || chr(10) || substr(text, 1, 40) || chr(10)
               || substr(text, 1, 40) || chr(10) || 'TAIL ' || doc_id
               AS text
           FROM documents),
         p AS (SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             CAST(generate_subscripts(string_split(text, chr(10)), 1)
               AS BIGINT) AS pos
           FROM ev),
         f AS (SELECT doc_id, line, min(pos) AS fpos
           FROM p GROUP BY 1, 2)
         SELECT doc_id,
           string_agg(line, chr(10) ORDER BY fpos) AS text_dedup
         FROM f GROUP BY 1 ORDER BY doc_id""",
    "q88_pca_project" ->
      s"""WITH r AS (SELECT comp, idx, w_q, mbar
             FROM ${rel("pca_rot")}),
         e AS (SELECT vec_id, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) - 1 AS idx
           FROM embeddings),
         q AS (SELECT vec_id, idx,
             CAST(round(x * 1000) AS BIGINT) AS qx FROM e)
         SELECT q.vec_id, r.comp,
           CAST(sum((q.qx - r.mbar) * r.w_q) AS BIGINT) AS y_q
         FROM q JOIN r ON r.idx = q.idx
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // q87 = q51's contamination under the Bloom-prefilter regime —
    // bit-for-bit the same relation (FPs die in the exact verify
    // join), so the oracle is q51's SQL verbatim
    "q87_bloom_decontaminate" ->
      """WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
           FROM tok),
         corpus AS (SELECT doc_id AS doc, unnest(sh) AS s
           FROM sh WHERE doc_id >= 10),
         ev AS (SELECT doc_id AS eval_doc, unnest(sh) AS s
           FROM sh WHERE doc_id < 10)
         SELECT c.doc, e.eval_doc, count(*) AS n_shared
         FROM corpus c JOIN ev e USING (s)
         GROUP BY 1, 2 HAVING count(*) >= 10
         ORDER BY 1, 2""",
    "q86_dsir_select" ->
      """WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         feats AS (SELECT doc_id,
             unnest(toks || list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1])) AS feature
           FROM tok),
         fb AS (SELECT doc_id,
             CAST(('0x' || substr(md5(feature), 1, 8)) AS BIGINT)
               % 4096 AS b
           FROM feats),
         ct AS (SELECT b, count(*) AS c FROM fb WHERE doc_id % 7 = 3
           GROUP BY 1),
         cr AS (SELECT b, count(*) AS c FROM fb WHERE doc_id % 7 <> 3
           GROUP BY 1),
         tt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM ct),
         tr AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM cr),
         llr AS (SELECT gs.b,
             CAST(floor(-ln(CAST(coalesce(cr.c, 0) + 1 AS DOUBLE)
               / (tr.t + 4096)) * 1000) AS BIGINT)
             - CAST(floor(-ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
               / (tt.t + 4096)) * 1000) AS BIGINT) AS w
           FROM (SELECT unnest(range(0, 4096)) AS b) gs
           LEFT JOIN ct ON ct.b = gs.b
           LEFT JOIN cr ON cr.b = gs.b, tt, tr),
         lw AS (SELECT f.doc_id, CAST(sum(l.w) AS BIGINT) AS logw_q
           FROM fb f JOIN llr l ON l.b = f.b
           WHERE f.doc_id % 7 <> 3 GROUP BY 1),
         g AS (SELECT doc_id, logw_q,
             CAST(floor(-ln(-ln((CAST(CAST(('0x'
               || substr(md5(doc_id || ':s86'), 1, 8)) AS BIGINT)
               AS DOUBLE) + 0.5) / 4294967296.0)) * 1000) AS BIGINT)
               AS gumbel_q
           FROM lw),
         r AS (SELECT doc_id, logw_q, gumbel_q,
             logw_q + gumbel_q AS key_q,
             row_number() OVER (ORDER BY logw_q + gumbel_q DESC,
               doc_id) AS rk
           FROM g)
         SELECT doc_id, logw_q, gumbel_q, key_q FROM r WHERE rk <= 50
         ORDER BY doc_id""",
    "q85_stream_domain_cap" ->
      """WITH u AS (SELECT doc_id,
             'https://www.site' || (doc_id % 7) || '.example.com/p/'
               || doc_id AS url,
             1704067200 + (doc_id * 37) % 101 AS tse
           FROM documents),
         d AS (SELECT doc_id, url, tse,
             regexp_replace(regexp_replace(lower(url),
               '^[a-z][a-z0-9+.-]*://(www\.)?', ''), '(?s)[?#].*', '') AS norm
           FROM u),
         h AS (SELECT doc_id, url, tse,
             regexp_extract(norm, '^([^/]+)', 1) AS domain FROM d),
         k AS (SELECT domain, doc_id, url,
             row_number() OVER (PARTITION BY domain
               ORDER BY tse, doc_id) AS rk
           FROM h)
         SELECT domain, doc_id, url FROM k WHERE rk <= 8
         ORDER BY domain, doc_id""",
    "q82_stream_url_dedup" ->
      """WITH u AS (
           SELECT doc_id,
             'HTTPS://WWW.Site' || (doc_id % 7) || '.Example.com/p/'
               || doc_id || '?utm_source=feed' AS url,
             1704067200 + doc_id * 2
               + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS tse
           FROM documents
           UNION ALL
           SELECT doc_id + 9000000,
             'http://site' || (doc_id % 7) || '.example.com/p/'
               || doc_id || '#frag',
             1704067200 + doc_id * 2
               + CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END
           FROM documents),
         n AS (SELECT doc_id, url,
             regexp_replace(regexp_replace(lower(url),
               '^[a-z][a-z0-9+.-]*://(www\.)?', ''), '(?s)[?#].*', '') AS norm,
             tse
           FROM u),
         k AS (SELECT doc_id, url,
             row_number() OVER (PARTITION BY norm ORDER BY tse, doc_id) AS rk
           FROM n)
         SELECT doc_id, url FROM k WHERE rk = 1 ORDER BY doc_id""",
    "q81_semdedup" ->
      s"""WITH e AS (SELECT doc_id, vec FROM ${rel("doc_embeddings")}),
         c AS (SELECT doc_id, cell FROM ${rel("sem_cells")}),
         j AS (SELECT c1.doc_id AS lhs, c2.doc_id AS rhs,
                 e1.vec AS va, e2.vec AS vb
           FROM c c1 JOIN c c2 ON c1.cell = c2.cell
                               AND c1.doc_id < c2.doc_id
           JOIN e e1 ON e1.doc_id = c1.doc_id
           JOIN e e2 ON e2.doc_id = c2.doc_id),
         p AS (SELECT lhs, rhs,
             CAST((SELECT CAST(sum(CAST(round(x.qa * 1000) AS BIGINT) *
                                   CAST(round(x.qb * 1000) AS BIGINT)) AS BIGINT)
                   FROM (SELECT unnest(va) AS qa, unnest(vb) AS qb) x) AS DOUBLE)
             / sqrt(CAST(
                 (SELECT CAST(sum(CAST(round(x.qa * 1000) AS BIGINT) *
                                   CAST(round(x.qa * 1000) AS BIGINT)) AS BIGINT)
                  FROM (SELECT unnest(va) AS qa) x) *
                 (SELECT CAST(sum(CAST(round(x.qb * 1000) AS BIGINT) *
                                   CAST(round(x.qb * 1000) AS BIGINT)) AS BIGINT)
                  FROM (SELECT unnest(vb) AS qb) x) AS DOUBLE)) AS cos
           FROM j),
         d AS (SELECT rhs AS doc_id, count(*) AS n_smaller_dups
           FROM p WHERE cos >= CAST(0.8 AS DOUBLE) GROUP BY 1)
         SELECT c.doc_id, c.cell, false AS capped,
           coalesce(d.n_smaller_dups, 0) AS n_smaller_dups,
           coalesce(d.n_smaller_dups, 0) = 0 AS keep
         FROM c LEFT JOIN d USING (doc_id) ORDER BY c.doc_id""",
    "q80_html_extract" ->
      """WITH base AS (SELECT doc_id,
             CASE WHEN doc_id % 97 = 0
                    THEN text || ' Lorem ipsum dolor sit amet.'
                  WHEN doc_id % 101 = 0
                    THEN text || ' if (x) { y(); } end.'
                  ELSE text END AS body
           FROM documents),
         enc AS (SELECT doc_id,
             replace(replace(replace(body, '&', '&amp;'),
               '<', '&lt;'), '>', '&gt;') AS e
           FROM base),
         h AS (SELECT doc_id,
             '<html><!-- hdr --><head><style>p{margin:0}</style>'
             || '<script type="text/javascript">if(a&&b){track();}</script>'
             || '</head><body><div class="nav">Home | About | Contact</div>'
             || '<h1>Doc &#39;' || doc_id || '&#39;</h1><p>' || e
             || '</p><p>Please enable JavaScript to view the comments.</p>'
             || '<div class="footer">(c) 2024 Example Corp. All rights '
             || 'reserved. See our privacy policy for details.</div>'
             || '</body></html>' AS html
           FROM enc),
         s AS (SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(html,
                 '(?s)<!--.*?-->', ' ', 'g'),
                 '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                 '(?i)<(?:br|/p|/div|/li|/h[1-6]|/tr|/ul|/ol|/table|/blockquote)\b[^>]*>',
                 chr(10), 'g'),
                 '(?s)<[^>]*>', ' ', 'g') AS t1
           FROM h),
         dec AS (SELECT doc_id,
             regexp_replace(
               replace(replace(replace(replace(replace(replace(replace(t1,
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                 '&quot;', '"'), '&#39;', chr(39)), '&apos;', chr(39)),
                 '&amp;', '&'),
               '[ \t\r]+', ' ', 'g') AS t2
           FROM s),
         ln AS (SELECT doc_id,
             list_filter(list_transform(string_split(t2, chr(10)),
               x -> trim(x)), x -> x <> '') AS lns
           FROM dec),
         k AS (SELECT doc_id, lns,
             list_filter(lns, l ->
               len(string_split(l, ' ')) >= 5
               AND regexp_matches(l, '[.!?"]$')
               AND NOT contains(lower(l), 'javascript')
               AND NOT contains(lower(l), 'terms of use')
               AND NOT contains(lower(l), 'privacy policy')
               AND NOT contains(lower(l), 'cookie policy')
               AND NOT contains(lower(l), 'uses cookies')) AS kept
           FROM ln)
         SELECT doc_id,
           len(lns) AS raw_lines,
           len(kept) AS kept_lines,
           (NOT contains(coalesce(array_to_string(lns, chr(10)), ''), '{')
            AND NOT contains(lower(coalesce(array_to_string(lns, chr(10)), '')),
              'lorem ipsum')) AS doc_keep,
           coalesce(array_to_string(kept, chr(10)), '') AS clean_text
         FROM k ORDER BY doc_id""",
    "q79_domain_cap" ->
      """WITH u AS (SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
               THEN 'HTTPS://WWW.Site' || (doc_id % 7) || '.Example.com/p/'
                 || (doc_id % 50) || '?utm_source=feed&id=' || doc_id
               ELSE 'http://site' || (doc_id % 7) || '.example.com/p/'
                 || (doc_id % 50) || '#frag' END AS url
           FROM documents),
         d AS (SELECT doc_id,
             regexp_replace(regexp_replace(lower(url),
               '^[a-z][a-z0-9+.-]*://(www\.)?', ''), '(?s)[?#].*', '') AS norm
           FROM u),
         h AS (SELECT doc_id, norm,
             regexp_extract(norm, '^([^/]+)', 1) AS domain FROM d),
         stats AS (SELECT domain, count(*) AS n_docs,
             count(DISTINCT norm) AS n_urls FROM h GROUP BY 1),
         kept AS (SELECT domain, doc_id FROM (
             SELECT domain, doc_id, row_number() OVER (PARTITION BY domain
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s79'), doc_id) AS rk
             FROM h)
           WHERE rk <= 30),
         ks AS (SELECT domain, count(*) AS n_kept,
             min(doc_id) AS first_kept FROM kept GROUP BY 1)
         SELECT s.domain, s.n_docs, s.n_urls, k.n_kept, k.first_kept
         FROM stats s JOIN ks k USING (domain) ORDER BY 1""",
    "q78_shard_assign" ->
      """WITH sh AS (SELECT
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
               || ':s78'), 1, 8)) AS BIGINT) % 16 AS INT) AS shard,
             text
           FROM documents)
         SELECT shard, count(*) AS n_docs,
           CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
             AS BIGINT) AS n_tokens
         FROM sh GROUP BY 1 ORDER BY 1""",
    "q75_quality_classifier" ->
      """WITH tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         feats AS (SELECT doc_id,
             unnest(toks || list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1])) AS feature
           FROM tok),
         w AS (SELECT feature,
             CAST(('0x' || substr(md5(feature), 1, 8)) AS BIGINT)
               % 1001 - 500 AS weight_q
           FROM (SELECT DISTINCT feature FROM feats)),
         sums AS (SELECT f.doc_id, sum(w.weight_q) AS score_q
           FROM feats f JOIN w USING (feature) GROUP BY 1),
         lens AS (SELECT doc_id,
             CAST(2 * len(toks) - 1 AS BIGINT) AS n_feats FROM tok)
         SELECT l.doc_id, l.n_feats,
           CAST(coalesce(s.score_q, 0) AS BIGINT) AS score_q,
           coalesce(s.score_q, 0) > 0 AS keep
         FROM lens l LEFT JOIN sums s USING (doc_id)
         ORDER BY doc_id""",
    "q74_mix_to_budget" ->
      """WITH tot AS (SELECT source,
             sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS toks
           FROM documents GROUP BY 1),
         tgt AS (SELECT * FROM (VALUES
             ('src0', 300), ('src1', 100000), ('src2', 700),
             ('src3', 50), ('src4', 1000), ('src5', 600), ('src6', 600),
             ('src7', 600), ('src8', 600), ('src9', 600))
             t(source, target)),
         r AS (SELECT source,
             least(CAST(4294967296 AS BIGINT),
               CAST(floor(least(CAST(1 AS DOUBLE),
                 CAST(target AS DOUBLE) / CAST(toks AS DOUBLE))
                 * CAST(4294967296 AS DOUBLE)
                 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS rate_q
           FROM tot JOIN tgt USING (source)),
         kept AS (SELECT d.source, d.text, r.rate_q
           FROM documents d JOIN r USING (source)
           WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':s74'), 1, 8) <
             CASE WHEN r.rate_q >= 4294967296 THEN 'g'
                  ELSE printf('%08x', r.rate_q) END)
         SELECT source, rate_q, count(*) AS n_docs_kept,
           CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
             AS BIGINT) AS n_tokens_kept
         FROM kept GROUP BY 1, 2 ORDER BY 1""",
    "q72_dup_spans" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 11 = 3
               THEN 'limited time offer click here to claim your free reward now '
               ELSE '' END
             || text ||
             CASE WHEN doc_id % 5 = 0
               THEN ' subscribe to our newsletter for the latest updates and exclusive offers today'
               ELSE '' END AS text
           FROM documents),
         tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM d),
         win AS (SELECT doc_id,
             unnest(range(0, len(toks) - 7)) AS pos,
             unnest(list_transform(range(0, len(toks) - 7),
               i -> array_to_string(toks[i+1:i+8], ' '))) AS w
           FROM tok),
         dup AS (SELECT doc_id, pos FROM win
           WHERE w IN (SELECT w FROM win GROUP BY w HAVING count(*) >= 2)),
         lg AS (SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM dup),
         il AS (SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM lg)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end,
           max(pos) + 8 - min(pos) AS span_tokens
         FROM il GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    "q73_span_removal" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 11 = 3
               THEN 'limited time offer click here to claim your free reward now '
               ELSE '' END
             || text ||
             CASE WHEN doc_id % 5 = 0
               THEN ' subscribe to our newsletter for the latest updates and exclusive offers today'
               ELSE '' END AS text
           FROM documents),
         tok AS (SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM d),
         win AS (SELECT doc_id,
             unnest(range(0, len(toks) - 7)) AS pos,
             unnest(list_transform(range(0, len(toks) - 7),
               i -> array_to_string(toks[i+1:i+8], ' '))) AS w
           FROM tok),
         dup AS (SELECT doc_id, pos FROM win
           WHERE w IN (SELECT w FROM win GROUP BY w HAVING count(*) >= 2)),
         lg AS (SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM dup),
         il AS (SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM lg),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
           FROM il GROUP BY doc_id, island),
         tk AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS i,
             unnest(toks) AS t
           FROM tok),
         rem AS (SELECT DISTINCT tk.doc_id, tk.i FROM tk
           JOIN sp ON sp.doc_id = tk.doc_id AND tk.i >= sp.s AND tk.i < sp.e),
         keep AS (SELECT tk.doc_id, tk.i, tk.t FROM tk
           ANTI JOIN rem ON tk.doc_id = rem.doc_id AND tk.i = rem.i),
         agg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS clean_text,
             count(*) AS n_kept
           FROM keep GROUP BY doc_id)
         SELECT tok.doc_id,
           coalesce(agg.clean_text, '') AS clean_text,
           len(tok.toks) AS n_tok,
           len(tok.toks) - coalesce(agg.n_kept, 0) AS n_removed
         FROM tok LEFT JOIN agg ON tok.doc_id = agg.doc_id
         ORDER BY tok.doc_id""",
    "q69_para_dedup" ->
      """WITH ev AS (SELECT doc_id,
             text || chr(10) || 'BOILERPLATE FOOTER PARA' || chr(10)
               || substr(text, 1, 40) || chr(10) || substr(text, 1, 40) AS text
           FROM documents),
         p AS (SELECT doc_id,
             unnest(string_split(text, chr(10))) AS para,
             CAST(generate_subscripts(string_split(text, chr(10)), 1)
               AS BIGINT) AS pos
           FROM ev),
         f AS (SELECT para,
             min(doc_id * 1000000000 + pos) AS fk
           FROM p GROUP BY 1),
         k AS (SELECT p.doc_id, p.pos, p.para
           FROM p JOIN f ON p.para = f.para
             AND p.doc_id * 1000000000 + p.pos = f.fk),
         r AS (SELECT doc_id,
             string_agg(para, chr(10) ORDER BY pos) AS text_dedup
           FROM k GROUP BY 1)
         SELECT e.doc_id, coalesce(r.text_dedup, '') AS text_dedup
         FROM ev e LEFT JOIN r USING (doc_id) ORDER BY e.doc_id""",
    "q67_reprocess" ->
      s"""WITH ann AS (SELECT * FROM ${rel("annotations")}),
         sup AS (SELECT * FROM ${rel("support_table")}),
         tiers AS (
           SELECT gene_key, tier_1 AS matched FROM ann
           UNION ALL SELECT gene_key, tier_1b FROM ann
           UNION ALL SELECT gene_key, tier_2 FROM ann
           UNION ALL SELECT gene_key, tier_3 FROM ann),
         ex AS (SELECT gene_key, unnest(matched) AS var_id FROM tiers),
         fil AS (SELECT * FROM ex WHERE upper(var_id) NOT IN
             ('NON_SNV_MATCH_ONLY', 'NON_CNV_MATCH_ONLY', 'NON_EXPR_MATCH_ONLY')),
         agg AS (SELECT s.drug, upper(s.ct) AS ct,
             CAST(sum(s.pos) AS BIGINT) AS p, CAST(sum(s.neg) AS BIGINT) AS n,
             CAST(sum(s.unk_b) AS BIGINT) AS ub, CAST(sum(s.unk_d) AS BIGINT) AS ud
           FROM fil f JOIN sup s
             ON s.gene_key = f.gene_key AND s.var_id = f.var_id
           GROUP BY 1, 2)
         SELECT drug || ':' || ct || ':' ||
           CASE WHEN ub + ud > p AND ub + ud > n THEN 'CIVIC_UNKNOWN'
                WHEN p = n THEN 'CIVIC_CONFLICT'
                WHEN p > n AND p >= ub + ud THEN 'CIVIC_SUPPORT'
                ELSE 'CIVIC_RESISTANCE' END ||
           ':' || p || '|' || n || '|' || ub || '|' || ud AS entry
         FROM agg ORDER BY 1""",
    "q24_drug_targets" ->
      s"""WITH ann AS (SELECT * FROM ${rel("annotations")}),
         pred AS (SELECT * FROM ${rel("pred_entries")}),
         names AS (SELECT * FROM ${rel("var_names")}),
         tiers AS (
           SELECT conv_id, turn_idx, gene_key, 0 AS tier_idx, 'tier_1' AS tier,
                  tier_1 AS matched FROM ann
           UNION ALL SELECT conv_id, turn_idx, gene_key, 1, 'tier_1b', tier_1b FROM ann
           UNION ALL SELECT conv_id, turn_idx, gene_key, 2, 'tier_2', tier_2 FROM ann
           UNION ALL SELECT conv_id, turn_idx, gene_key, 3, 'tier_3', tier_3 FROM ann),
         ex AS (SELECT conv_id, turn_idx, gene_key, tier_idx, tier,
             unnest(matched) AS var_id,
             unnest(range(len(matched))) AS var_idx
           FROM tiers),
         fil AS (SELECT * FROM ex WHERE upper(var_id) NOT IN
             ('NON_SNV_MATCH_ONLY', 'NON_CNV_MATCH_ONLY', 'NON_EXPR_MATCH_ONLY')),
         j AS (SELECT f.conv_id, f.turn_idx, f.gene_key, f.tier_idx, f.tier,
             f.var_id, f.var_idx, p.drug, p.ct, p.disease, p.evidence, p.entry_idx
           FROM fil f JOIN pred p
             ON p.gene_key = f.gene_key AND p.var_id = f.var_id),
         w AS (SELECT *, row_number() OVER (PARTITION BY drug, gene_key
             ORDER BY conv_id, turn_idx, tier_idx, var_idx, entry_idx) AS rn
           FROM j),
         frst AS (SELECT * FROM w WHERE rn = 1),
         freq AS (SELECT drug, count(DISTINCT gene_key) AS n_genes
           FROM frst GROUP BY 1)
         SELECT f.drug, q.n_genes, f.gene_key AS gene,
           coalesce(n.civic_variant, f.var_id) AS civic_variant, f.tier,
           'PREDICTIVE' AS evidence_type, f.ct, f.disease, f.evidence,
           f.conv_id, f.turn_idx
         FROM frst f JOIN freq q USING (drug)
         LEFT JOIN names n ON n.gene_key = f.gene_key AND n.var_id = f.var_id
         ORDER BY q.n_genes DESC, f.drug, f.gene_key""",
    "q32_reformat_drugs" ->
      s"""WITH raw AS (SELECT * FROM ${rel("dim_raw")}),
         norm AS (SELECT gene_key, var_id, evidence_type, disease, level,
             source_id, drug_interaction,
             list_distinct(list_transform(drugs, d -> upper(trim(d)))) AS ddr,
             upper(trim(drug_interaction)) AS inter
           FROM raw),
         resh AS (SELECT *, CASE
             WHEN drug_interaction IS NULL THEN ddr
             WHEN inter = 'SUBSTITUTES' THEN ddr
             ELSE [coalesce(array_to_string(list_sort(ddr), '+'), '')] END AS d2
           FROM norm),
         fin AS (SELECT *, CASE WHEN d2 IS NULL OR len(d2) = 0
             THEN ['NULL'] ELSE d2 END AS d3 FROM resh)
         SELECT gene_key, var_id, evidence_type, disease,
           unnest(d3) AS drug, level, source_id
         FROM fin ORDER BY gene_key, var_id, source_id, drug""",
    "q33_cohort_stats" ->
      s"""WITH a AS (SELECT * FROM ${rel("annotations")}),
         base AS (SELECT conv_id,
             count(*) AS n_turns,
             CAST(sum(CASE WHEN highest_tier = 'tier_1' THEN 1 ELSE 0 END) AS BIGINT) AS n_tier_1,
             CAST(sum(CASE WHEN highest_tier = 'tier_1b' THEN 1 ELSE 0 END) AS BIGINT) AS n_tier_1b,
             CAST(sum(CASE WHEN highest_tier = 'tier_2' THEN 1 ELSE 0 END) AS BIGINT) AS n_tier_2,
             CAST(sum(CASE WHEN highest_tier = 'tier_3' THEN 1 ELSE 0 END) AS BIGINT) AS n_tier_3,
             CAST(sum(CASE WHEN highest_tier = 'tier_4' THEN 1 ELSE 0 END) AS BIGINT) AS n_tier_4,
             round(CAST(sum(CASE WHEN highest_tier <> 'tier_4' THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 4) AS frac_civic,
             CASE WHEN sum(CASE WHEN highest_tier = 'tier_1' THEN 1 ELSE 0 END) > 0
               THEN round(CAST(sum(CASE WHEN highest_tier = 'tier_1' THEN len(tier_1) ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN highest_tier = 'tier_1' THEN 1 ELSE 0 END), 4)
               ELSE 0.0 END AS mean_matched_tier1,
             CASE WHEN sum(CASE WHEN highest_tier = 'tier_1b' THEN 1 ELSE 0 END) > 0
               THEN round(CAST(sum(CASE WHEN highest_tier = 'tier_1b' THEN len(tier_1b) ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN highest_tier = 'tier_1b' THEN 1 ELSE 0 END), 4)
               ELSE 0.0 END AS mean_matched_tier1b,
             CASE WHEN sum(CASE WHEN highest_tier = 'tier_2' THEN 1 ELSE 0 END) > 0
               THEN round(CAST(sum(CASE WHEN highest_tier = 'tier_2' THEN len(tier_2) ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN highest_tier = 'tier_2' THEN 1 ELSE 0 END), 4)
               ELSE 0.0 END AS mean_matched_tier2,
             CASE WHEN sum(CASE WHEN highest_tier = 'tier_3' THEN 1 ELSE 0 END) > 0
               THEN round(CAST(sum(CASE WHEN highest_tier = 'tier_3' THEN len(tier_3) ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN highest_tier = 'tier_3' THEN 1 ELSE 0 END), 4)
               ELSE 0.0 END AS mean_matched_tier3
           FROM a GROUP BY conv_id),
         ds AS (SELECT conv_id,
             unnest(CASE highest_tier
               WHEN 'tier_1' THEN ds_tier_1 WHEN 'tier_1b' THEN ds_tier_1b
               WHEN 'tier_2' THEN ds_tier_2 WHEN 'tier_3' THEN ds_tier_3
               ELSE [] END) AS s
           FROM a),
         pd AS (SELECT conv_id,
             string_split(s, ':')[1] AS drug,
             string_split(s, ':')[2] AS ct,
             string_split(s, ':')[3] AS support FROM ds),
         ctd AS (SELECT conv_id,
             count(DISTINCT CASE WHEN ct = 'CT' THEN drug END) AS n_drugs_ct,
             count(DISTINCT CASE WHEN ct = 'GT' THEN drug END) AS n_drugs_gt,
             count(DISTINCT CASE WHEN ct = 'NCT' THEN drug END) AS n_drugs_nct
           FROM pd GROUP BY 1),
         cnt AS (SELECT conv_id, drug,
             sum(CASE WHEN support = 'CIVIC_SUPPORT' THEN 1 ELSE 0 END) AS n_sup,
             sum(CASE WHEN support = 'CIVIC_RESISTANCE' THEN 1 ELSE 0 END) AS n_res,
             sum(CASE WHEN support = 'CIVIC_CONFLICT' THEN 1 ELSE 0 END) AS n_con,
             sum(CASE WHEN support = 'CIVIC_UNKNOWN' THEN 1 ELSE 0 END) AS n_unk
           FROM pd GROUP BY 1, 2),
         cl AS (SELECT conv_id, CASE
             WHEN n_sup > 0 AND n_res = 0 AND n_con = 0 AND n_unk = 0 THEN 'all_support'
             WHEN n_res > 0 AND n_sup = 0 AND n_con = 0 AND n_unk = 0 THEN 'all_resistance'
             WHEN n_con > 0 AND n_sup = 0 AND n_res = 0 AND n_unk = 0 THEN 'all_conflict'
             WHEN n_unk > 0 AND n_sup = 0 AND n_res = 0 AND n_con = 0 THEN 'all_unknown'
             ELSE 'mixed' END AS cls
           FROM cnt),
         dist AS (SELECT conv_id, count(*) AS n_drugs,
             CAST(sum(CASE WHEN cls = 'all_support' THEN 1 ELSE 0 END) AS BIGINT) AS n_all_support_drugs,
             CAST(sum(CASE WHEN cls = 'all_resistance' THEN 1 ELSE 0 END) AS BIGINT) AS n_all_resistance_drugs,
             CAST(sum(CASE WHEN cls = 'all_conflict' THEN 1 ELSE 0 END) AS BIGINT) AS n_all_conflict_drugs,
             CAST(sum(CASE WHEN cls = 'all_unknown' THEN 1 ELSE 0 END) AS BIGINT) AS n_all_unknown_drugs,
             CAST(sum(CASE WHEN cls = 'mixed' THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed_drugs
           FROM cl GROUP BY 1)
         SELECT b.conv_id, b.n_turns, b.n_tier_1, b.n_tier_1b, b.n_tier_2,
           b.n_tier_3, b.n_tier_4, b.frac_civic,
           b.mean_matched_tier1, b.mean_matched_tier1b,
           b.mean_matched_tier2, b.mean_matched_tier3,
           coalesce(d.n_drugs, 0) AS n_drugs,
           coalesce(d.n_all_support_drugs, 0) AS n_all_support_drugs,
           coalesce(d.n_all_resistance_drugs, 0) AS n_all_resistance_drugs,
           coalesce(d.n_all_conflict_drugs, 0) AS n_all_conflict_drugs,
           coalesce(d.n_all_unknown_drugs, 0) AS n_all_unknown_drugs,
           coalesce(d.n_mixed_drugs, 0) AS n_mixed_drugs,
           coalesce(c.n_drugs_ct, 0) AS n_drugs_ct,
           coalesce(c.n_drugs_gt, 0) AS n_drugs_gt,
           coalesce(c.n_drugs_nct, 0) AS n_drugs_nct
         FROM base b LEFT JOIN dist d USING (conv_id)
         LEFT JOIN ctd c USING (conv_id) ORDER BY conv_id""",
    "q09_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
             THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
           FROM flagged)
         SELECT user_id, sess_id, count(*) AS n_events
         FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""")
}
