package graft

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.model.Turn
import graft.operators.{Components, CurateFlow, DimIndex, MatchKernel, NearDup}
import graft.plans.IcebergLikeTable
import graft.sources.Synth
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.StreamConfig

/** Compile-time guard for the engine surface the benchmark harness
  * (`perfbench/src/main/scala/graftbench`) builds against. The harness
  * is a separate sbt build that `Test/compile` does not see, so an
  * engine change that removes or reshapes one of these calls would
  * otherwise break only the benchmark build. Each call is written the
  * way the harness writes it; nothing runs this code.
  *
  * Re-list the harness's engine symbols with
  * `grep -rhoE "graft\.([a-z]+\.)*[A-Z][A-Za-z]*|import graft\..*" perfbench/src/main/scala | sort -u`.
  */
private[graft] object PerfbenchSurface {

  def calls(spark: SparkSession, dir: String, name: String, out: Path, cores: Int,
            seed: Long, items: Long, n: Int): Unit = {
    // Main.setUp
    SessionWarmup.ensure(spark)
    val bc = Pipeline.cachedIndex(spark)

    // Batches.run / Batches.curation
    val q: DataFrame = SparkEntry.queries(name)(spark, dir)
    NearDup.unpersistAll()
    Components.releaseAll()
    val r = CurateFlow.run(q, q, budgetTokens = 20000L, maxPerDomain = 1000,
      qualityKeep = "n_words >= 20")
    r.released.write.mode("overwrite").partitionBy("shard").parquet(out.toString)
    val funnel: Seq[(String, Long)] = r.funnel

    // Kernel.nsPerTurn / Kernel.cpuProbe
    val idx: DimIndex = Pipeline.cachedIndex(SparkSession.active).value
    val kcfg = Synth.TurnGenConfig(nConvs = n / 25, turnsPerConv = 25,
      nGenes = Pipeline.DefaultGenes, seed = seed)
    val turns: Array[Turn] = Synth.transcriptRows(kcfg).toArray
    val tier: Int = MatchKernel.annotateTurn(turns(0), idx).highest_tier.hashCode
    graft.tools.CpuScaleProbe.main(Array(items.toString))

    // Streams.backlogConfig / arrivalMs / stageBacklog
    val cfg = Synth.TurnGenConfig(nConvs = n, turnsPerConv = 25,
      nGenes = Pipeline.DefaultGenes, hotConvs = 4, hotMult = 2,
      dupRate = 0.01, lateRate = 0.01, seed = seed)
    val slot: Long = cfg.baseTs + cfg.stepMs + cfg.totalRows
    val staged: DataFrame = Synth.transcripts(spark, cfg).toDF()

    // Streams.drain
    val scfg = StreamConfig(partitions = cores)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Turn].schema)
      .parquet(dir).as[Turn](org.apache.spark.sql.Encoders.product[Turn])
    val table = new IcebergLikeTable(out.resolve("annotations").toString,
      Seq("data_type", "conv_bucket"))
    val ann = StreamingPipeline.annotationsDedupFirst(stream, bc, scfg)
    val qAnn: StreamingQuery =
      StreamingPipeline.startAnnotationSink(ann, table, out.resolve("ckpt_ann").toString)
    val qSess: StreamingQuery = StreamingPipeline.sessionAutomaton(ann, scfg)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", out.resolve("ckpt_sess").toString)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out.resolve("sessions").toString)
      .start()
    val qRoll: StreamingQuery = StreamingPipeline.tierRollup(ann, scfg)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", out.resolve("ckpt_roll").toString)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out.resolve("rollups").toString)
      .start()

    // Streams.sinkStats / Streams.check
    val root: String = table.root
    val commits: Int = table.snapshots().size
    val committed: DataFrame = table.read(spark)
    import spark.implicits._
    val expected: DataFrame = stream
      .mapPartitions { it => val idx = bc.value; it.map(t => MatchKernel.annotateTurn(t, idx)) }
      .toDF()
  }
}
