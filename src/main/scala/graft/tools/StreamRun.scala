package graft.tools

import org.apache.spark.sql.SparkSession
import graft.Pipeline
import graft.model.Turn
import graft.sources.Synth
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.StreamConfig

/** The spark-submit-able streaming job (north rule): reads a transcript
  * parquet directory as a stream, runs the full dedup -> annotate ->
  * session-automaton -> windowed-rollup pipeline
  * (`StreamingPipeline.start`), commits to the exactly-once table, and
  * reports sustained throughput.
  *
  * Usage: StreamRun [srcDir] [outRoot] [cores]
  *  - with no srcDir, synthesizes a deterministic transcript parquet
  *    first (no external data).
  * Resumable: re-running with the same outRoot resumes from its
  * checkpoints. A checkpoint made by an older build in its
  * annotate-first order has a different dedup state key schema, which
  * Spark's state-schema check refuses: start such a run with a fresh
  * outRoot (README, "One stream order").
  */
object StreamRun {
  def main(args: Array[String]): Unit = {
    val outRoot = args.lift(1).getOrElse("/tmp/graft_stream")
    val cores = args.lift(2).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val spark = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cores]"))
      .appName("graft-stream")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // the engine context binds the fork-free local filesystem: create
    // it before the first file write (see GraftContext)
    graft.GraftContext(spark)
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val srcDir = args.lift(0).getOrElse {
      val dir = s"$outRoot/source"
      val cfg = Synth.TurnGenConfig(
        nConvs = 2000, turnsPerConv = 25, nGenes = Pipeline.DefaultGenes,
        hotConvs = 20, hotMult = 20, dupRate = 0.02, lateRate = 0.01)
      Synth.transcripts(spark, cfg).write.mode("overwrite").parquet(dir)
      dir
    }

    StreamingPipeline.attachMetricsListener(spark, s"$outRoot/metrics.jsonl")
    val bc = Pipeline.buildIndex(spark)
    val cfg = StreamConfig(partitions = cores.toInt)

    val schema = implicitly[org.apache.spark.sql.Encoder[Turn]].schema
    val turns = spark.readStream.schema(schema).parquet(srcDir).as[Turn]
    val t0 = System.nanoTime()
    val (queries, table) = StreamingPipeline.start(turns, bc, cfg, outRoot)
    queries.foreach(_._2.awaitTermination())
    val secs = (System.nanoTime() - t0) / 1e9

    val nAnn = spark.read.parquet(s"$outRoot/annotations").count()
    val nSess = try spark.read.parquet(s"$outRoot/sessions").count() catch { case _: Throwable => 0L }
    val nRoll = try spark.read.parquet(s"$outRoot/rollups").count() catch { case _: Throwable => 0L }
    println(f"""{"annotations":$nAnn,"sessions":$nSess,"rollups":$nRoll,""" +
      f""""wall_sec":$secs%.2f,"turns_per_sec":${nAnn / secs}%.0f,""" +
      s""""snapshots":${table.snapshots().size}}""")
    spark.stop()
  }
}
