package graftbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.Pipeline
import graft.model.Turn
import graft.operators.MatchKernel
import graft.plans.IcebergLikeTable
import graft.sources.Synth
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.StreamConfig

/** The streaming workload: StreamRun's topology (dedup-first annotation
  * into an IcebergLikeTable, session automaton, tier rollup) draining a
  * backlog of turns the benchmark stages from its seed.
  */
object Streams {

  /** The backlog: `BacklogTriggers` triggers of `TriggerTurnsPerSecond ×
    * --seconds` turns, `FilesPerTrigger` files each. A trigger's time
    * depends little on its size at 4 cores (see NOTES.md), so triggers
    * are few and large. An odd count puts the median turn inside a
    * trigger rather than on the boundary between two, where
    * `latency_p50_ms` would jump by a whole trigger from run to run.
    */
  val BacklogTriggers = 3
  val TriggerTurnsPerSecond = 4000
  val FilesPerTrigger = 3
  /** Turns of the untimed warm-up drain (one trigger). */
  val WarmUpTurns = 10400

  private val TurnsPerConv = 25

  /** Backlog input: hot conversations (4 of them hold ~1 % each), 1 %
    * duplicates, 1 % late rows.
    */
  def backlogConfig(seed: Long, turns: Long): Synth.TurnGenConfig = {
    val convs = (turns / TurnsPerConv / 1.04).toInt.max(400)
    Synth.TurnGenConfig(nConvs = convs, turnsPerConv = TurnsPerConv,
      nGenes = Pipeline.DefaultGenes, hotConvs = 4, hotMult = (convs / 100).max(2),
      dupRate = 0.01, lateRate = 0.01, seed = seed)
  }

  /** The time a row nominally arrives. A row's slot is its conversation
    * hour plus its turn step; an on-time row arrives at its event time
    * (a duplicate one second after its original). A late row carries an
    * event time an hour before its slot and arrives `lateDelayMs` after
    * the slot, later than any micro-batch spans, so by then the watermark
    * has passed it and drops it.
    */
  def arrivalMs(cfg: Synth.TurnGenConfig, lateDelayMs: Long): Column = {
    val conv = substring(col("conv_id"), 5, 12).cast("long")
    val slot = lit(cfg.baseTs) + conv * 3600000L + col("turn_idx").cast("long") * cfg.stepMs
    val ts = expr("unix_millis(ts)")
    when(ts < slot, slot + lateDelayMs).otherwise(ts)
  }

  /** Write `turns` as `nFiles` parquet files in arrival order; returns the
    * files in that order, with ascending modification times so the file
    * source reads them in that order too.
    */
  def stage(turns: DataFrame, order: Column, nFiles: Int, dir: Path): Seq[Path] = {
    val withArrival = turns.withColumn("_arrival", order).persist()
    // the input ends with its last on-time row: a late row due after it
    // belongs to a later stream, not to this one
    val end = withArrival.filter(col("_arrival") === expr("unix_millis(ts)"))
      .agg(max(col("_arrival"))).head().getLong(0)
    withArrival.filter(col("_arrival") <= end)
      .repartitionByRange(nFiles, col("_arrival"), col("conv_id"), col("turn_idx"))
      .sortWithinPartitions(col("_arrival"), col("conv_id"), col("turn_idx"))
      .drop("_arrival")
      .write.mode("overwrite").parquet(dir.toString)
    withArrival.unpersist()
    val files = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    Files.list(dir).iterator().asScala.filterNot(files.contains).foreach(Files.delete)
    val t0 = System.currentTimeMillis() - files.size * 1000L
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + i * 1000L)) }
    files
  }

  private val turnSchema = org.apache.spark.sql.Encoders.product[Turn].schema

  private def sinkColumns(batch: DataFrame, nBuckets: Int = 16): DataFrame =
    // startAnnotationSink's commit columns
    batch.withColumn("conv_bucket", pmod(hash(col("conv_id")), lit(nBuckets)))
      .withColumn("tiers_json", to_json(struct(
        col("tier_1"), col("tier_1b"), col("tier_2"), col("tier_3"))))
      .drop("tier_1", "tier_1b", "tier_2", "tier_3",
        "ds_tier_1", "ds_tier_1b", "ds_tier_2", "ds_tier_3")

  // ---------------------------------------------------------------- backlog

  /** Stage a backlog of `triggers` triggers in arrival order. One trigger
    * spans FilesPerTrigger files of conversations an hour apart; late
    * rows arrive 2.5 triggers' worth of hours late. The late-event
    * watermark lags two triggers, so such a row is dropped; a row between
    * one and two triggers late would pass it and fail sessionAutomaton's
    * timeout check (see NOTES.md).
    */
  private def stageBacklog(spark: SparkSession, cfg: Synth.TurnGenConfig, triggers: Int,
                           dir: Path): Seq[Path] = {
    val triggerMs = cfg.totalRows / triggers / TurnsPerConv * 3600000L
    stage(Synth.transcripts(spark, cfg).toDF(), arrivalMs(cfg, triggerMs * 5 / 2),
      triggers * FilesPerTrigger, dir)
  }

  /** StreamRun's topology over `src` under AvailableNow; returns the three
    * queries once all have terminated, the table and the elapsed seconds.
    */
  private def drain(spark: SparkSession, args: Main.Args, src: Path, out: Path)
      : (Seq[(String, StreamingQuery)], IcebergLikeTable, Double) = {
    val scfg = StreamConfig(partitions = args.cores)
    val bc = Pipeline.cachedIndex(spark)
    val turns = spark.readStream.schema(turnSchema)
      .option("maxFilesPerTrigger", FilesPerTrigger.toString)
      .parquet(src.toString).as[Turn](org.apache.spark.sql.Encoders.product[Turn])
    val table = new IcebergLikeTable(out.resolve("annotations").toString,
      Seq("data_type", "conv_bucket"))
    val t0 = Trace.nowMs
    val ann = Trace.timed("call", "StreamingPipeline.annotationsDedupFirst")(
      StreamingPipeline.annotationsDedupFirst(turns, bc, scfg)).value
    val qAnn = Trace.timed("call", "StreamingPipeline.startAnnotationSink")(
      StreamingPipeline.startAnnotationSink(ann, table, out.resolve("ckpt_ann").toString)).value
    val qSess = Trace.timed("call", "StreamingPipeline.sessionAutomaton") {
      StreamingPipeline.sessionAutomaton(ann, scfg)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", out.resolve("ckpt_sess").toString)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", out.resolve("sessions").toString)
        .start()
    }.value
    val qRoll = Trace.timed("call", "StreamingPipeline.tierRollup") {
      StreamingPipeline.tierRollup(ann, scfg)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", out.resolve("ckpt_roll").toString)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", out.resolve("rollups").toString)
        .start()
    }.value
    val queries = Seq("ann" -> qAnn, "sess" -> qSess, "roll" -> qRoll)
    queries.foreach(_._2.awaitTermination())
    (queries, table, (Trace.nowMs - t0) / 1000.0)
  }

  /** One trigger of other turns through the backlog topology, so the
    * timed part runs on compiled code, as a long-running stream does.
    */
  private def warmUp(spark: SparkSession, args: Main.Args): Unit = {
    Trace.timed("gen", "warm-up drain") {
      val warm = args.work.resolve("warm")
      stageBacklog(spark, backlogConfig(args.seed + 1000003L, WarmUpTurns), 1,
        warm.resolve("src"))
      drain(spark, args, warm.resolve("src"), warm.resolve("out"))
    }
  }

  def backlog(spark: SparkSession, args: Main.Args, rec: JObj): Unit = {
    warmUp(spark, args)

    val cfg = backlogConfig(args.seed,
      (BacklogTriggers * TriggerTurnsPerSecond * args.seconds).toLong)
    val src = args.work.resolve("backlog-src")
    val staged = Trace.timed("gen", "stage")(stageBacklog(spark, cfg, BacklogTriggers, src))
    val inputRows = spark.read.parquet(src.toString).count()
    rec("gen") = Json.obj("stage_s" -> staged.seconds, "files" -> staged.value.size)
    Listeners.startExchange(spark.sparkContext)
    val t0 = Trace.nowMs
    val (queries, table, elapsedS) = drain(spark, args, src, args.work.resolve("backlog-out"))
    Listeners.exchange(spark.sparkContext).foreach(rec("exchange") = _)

    val stats = queries.map { case (n, q) => n -> Progress.of(q, n) }.toMap
    rec("stream") = Json.obj(stats.toSeq.map { case (n, s) => n -> s.json }: _*)
    rec("backlog") = Json.obj("input_rows" -> inputRows, "elapsed_s" -> elapsedS,
      "t0_ms" -> t0)
    rec("sink") = sinkStats(table, stats("ann").addBatchMs)
    check(spark, src, table, stats("ann"), inputRows, rec)
  }

  // ------------------------------------------------------------- shared

  private def sinkStats(table: IcebergLikeTable, commitMs: Seq[Double]): JObj = {
    val root = java.nio.file.Paths.get(table.root)
    val files = Files.walk(root).iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet"))
    Json.obj("commits" -> table.snapshots().size, "commit_ms" -> commitMs,
      "files" -> files)
  }

  /** Output checks: every committed annotation equals the kernel's
    * annotation of its input turn, no (conv_id, turn_idx) is committed
    * twice, and committed + duplicates dropped + late rows dropped =
    * input rows.
    */
  private def check(spark: SparkSession, inputDir: Path, table: IcebergLikeTable,
                    ann: Progress, inputRows: Long, rec: JObj): Unit = {
    import spark.implicits._
    val input = spark.read.schema(turnSchema).parquet(inputDir.toString).as[Turn]
    val bc = Pipeline.cachedIndex(spark)
    val expected = sinkColumns(input.dropDuplicates("conv_id", "turn_idx", "ts")
      .mapPartitions { it => val idx = bc.value; it.map(t => MatchKernel.annotateTurn(t, idx)) }
      .toDF())
    val cols = Seq("role", "gene_key", "data_type", "tier_4", "highest_tier", "tiers_json")
    val keys = Seq("conv_id", "turn_idx", "ts")
    val committed = table.read(spark).persist()
    val nCommitted = committed.count()
    val doubles = committed.groupBy("conv_id", "turn_idx").count()
      .filter(col("count") > 1).agg(coalesce(sum(col("count") - 1), lit(0L))).head().getLong(0)
    val e = expected.select((keys ++ cols).map(c => col(c).as("e_" + c)): _*)
    val joined = committed.join(e, keys.map(k => col(k) <=> col("e_" + k)).reduce(_ && _), "left")
    val wrong = joined.filter(!cols.map(c => col(c) <=> col("e_" + c)).reduce(_ && _)).count()
    committed.unpersist()
    val accounted = nCommitted + ann.duplicatesDropped + ann.droppedByWatermark
    rec("checks") = Json.obj("input_rows" -> inputRows, "committed" -> nCommitted,
      "duplicates_dropped" -> ann.duplicatesDropped,
      "dropped_by_watermark" -> ann.droppedByWatermark,
      "committed_twice" -> doubles, "wrong_annotations" -> wrong,
      "unaccounted" -> math.abs(inputRows - accounted))
  }
}

/** What a streaming query's progress reports say, per query. */
final case class Progress(name: String, inputRows: Long, triggerMs: Seq[Double],
    addBatchMs: Seq[Double], triggerBatch: Seq[Long], triggerEndMs: Seq[Double],
    triggerRows: Seq[Long], stateRowsTotal: Long, stateMemoryBytes: Long,
    stateCommitMs: Double, droppedByWatermark: Long, duplicatesDropped: Long,
    triggerParts: Seq[JObj]) {
  def json: JObj = Json.obj("input_rows" -> inputRows, "batches" -> triggerMs.size,
    "trigger_ms" -> triggerMs, "add_batch_ms" -> addBatchMs,
    "trigger_batch" -> triggerBatch, "trigger_end_ms" -> triggerEndMs,
    "trigger_rows" -> triggerRows,
    "state_rows_total" -> stateRowsTotal, "state_memory_bytes" -> stateMemoryBytes,
    "state_commit_ms" -> stateCommitMs, "dropped_by_watermark" -> droppedByWatermark,
    "duplicates_dropped" -> duplicatesDropped, "trigger_parts" -> triggerParts)
}

object Progress {
  /** Summarise `q.recentProgress` (with each trigger's duration parts
    * and state-operator times); when tracing, also record one span per
    * trigger and attach the trigger's Spark jobs to it.
    */
  def of(q: StreamingQuery, name: String): Progress = {
    val ps = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val ops = ps.flatMap(_.stateOperators.toSeq)
    def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val spans = ps.map { p =>
      val start = startMs(p)
      val id = Trace.nextId()
      Trace.record(Span(id, Trace.current, "trigger", s"$name batch ${p.batchId}",
        start, start + ms(p, "triggerExecution")))
      p.batchId -> id
    }.toMap
    val ids = Set(q.id.toString, q.runId.toString)
    Listeners.current.foreach(_.streamJobs.asScala.foreach { case (qid, b, job) =>
      if (ids.contains(qid)) spans.get(b).foreach(t => Trace.reparent(job, t)) })
    val byBatch = ps.groupBy(_.batchId).values.map(_.last).toSeq
    Progress(name,
      inputRows = ps.map(_.numInputRows).sum,
      triggerMs = ps.map(ms(_, "triggerExecution")),
      addBatchMs = ps.map(ms(_, "addBatch")),
      triggerBatch = ps.map(_.batchId),
      triggerEndMs = ps.map(p => startMs(p) + ms(p, "triggerExecution")),
      triggerRows = ps.map(_.numInputRows),
      stateRowsTotal = ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L),
      stateMemoryBytes = if (ps.isEmpty) 0L
        else ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).max,
      stateCommitMs = ops.map(_.commitTimeMs.toDouble).sum,
      droppedByWatermark = byBatch.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum,
      duplicatesDropped = byBatch.flatMap(_.stateOperators.toSeq)
        .map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
          .map(_.longValue).getOrElse(0L)).sum,
      triggerParts = ps.map { p =>
        val state = p.stateOperators.toSeq
        Json.obj(p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> v.doubleValue } ++ Seq(
          "stateUpdates" -> state.map(_.allUpdatesTimeMs.toDouble).sum,
          "stateRemovals" -> state.map(_.allRemovalsTimeMs.toDouble).sum,
          "stateCommit" -> state.map(_.commitTimeMs.toDouble).sum): _*)
      })
  }
}
