package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.operators.TextOps
import graft.plans.IcebergLikeTable
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{DocEvent, StreamConfig}

/** End-to-end STREAMING training-data pipeline over a document stream —
  * the composed form of the pipeline operators, run as two streaming
  * queries off one file source (event-time-ordered micro-batches):
  *
  *   1. curation: exact content dedup (first arrival per normalized
  *      fingerprint, 8-byte state) -> quality-score filter ->
  *      repetition filter (top-2-gram fraction) -> deterministic
  *      hash-threshold sample -> PII redaction -> language id + BPE
  *      token count + fingerprint enrichment -> exactly-once snapshot
  *      sink partitioned by predicted language. The filter/sample/
  *      redact stages are pure row functions, so they are replay-safe
  *      under micro-batch retries by construction (the hash sample
  *      keeps the same rows on every replay — a seeded random sample
  *      would not);
  *   2. near-dup side channel: streaming SimHash pair detection with
  *      bounded per-bucket state -> parquet append sink (the review
  *      queue a production pipeline feeds its dedup decisions from).
  *
  * Prints one JSON line: rows in, rows surviving each stage, near-dup
  * pairs found, wall seconds. Usage: StreamDocRun [sfDir] [outDir]
  */
object StreamDocRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse(
      Files.createTempDirectory("graft_docrun").toString)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // the engine context binds the fork-free local filesystem: create
    // it before the first file write (see GraftContext)
    graft.GraftContext(spark)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // source prep: documents + synthetic event times, event-time-ordered
    // files (same mtime-stamping protocol as StreamScaleBench). 20% of
    // the corpus arrives a second time ~17 min later under fresh ids —
    // the re-crawl/retry burst a production ingest actually sees and
    // the content-dedup stage exists to suppress
    val srcDir = s"$outDir/src"
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        timestamp_seconds(
          unix_timestamp(to_timestamp(lit("2024-01-01 00:00:00"))) +
            col("doc_id")).as("ts"))
    val recrawl = base.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        timestamp_seconds(unix_timestamp(col("ts")) + 1000L).as("ts"))
    val docs = base.unionAll(recrawl)
    val nDocs = docs.count()
    docs.repartitionByRange(16, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(srcDir)
    locally {
      import scala.jdk.CollectionConverters._
      val parts = Files.list(java.nio.file.Paths.get(srcDir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      val t0 = System.currentTimeMillis() - parts.size * 2000L
      for ((p, i) <- parts.zipWithIndex)
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L))
    }

    val cfg = StreamConfig(watermark = "1 hour")
    val schema = implicitly[org.apache.spark.sql.Encoder[DocEvent]].schema
    def source() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(srcDir).as[DocEvent]

    // ---- query 1: curation into the exactly-once snapshot table ----
    val table = new IcebergLikeTable(s"$outDir/curated", Seq("lang_pred"))
    val deduped = StreamingPipeline.dedupByContent(source(), cfg)
    val curated = deduped
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .filter(col("quality") >= 0.05)
      .withColumn("rs", TextOps.ngramRepStats(col("text"), 2))
      .withColumn("top_ngram_frac",
        TextOps.repetitionFeatures(col("rs")).toMap.apply("top_ngram_frac"))
      // length floor: below ~20 grams the fraction is dominated by the
      // denominator (a clean 4-token doc has top frac 1/3), so the
      // repetition gate only applies above it — the standard guard on
      // Gopher-style repetition filters
      .filter(col("rs.n_grams") < 20 || col("top_ngram_frac") <= 0.25)
      .filter(graft.operators.Sampling.hashKeep(col("doc_id"), 0.9, "curate"))
      .select(col("doc_id"), col("ts"),
        TextOps.langId(col("text")).as("lang_pred"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe"),
        TextOps.fingerprint64(col("text")).as("fp"),
        col("quality"), col("top_ngram_frac"),
        TextOps.redactPii(col("text")).as("text_redacted"))
    val q1 = curated.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$outDir/ckpt1")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        table.replacePartitions(df, batchId); ()
      }
      .start()

    // ---- query 2: near-dup pair side channel ----
    val q2 = StreamingPipeline.simhashNearDupPairs(source(), cfg)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$outDir/ckpt2")
      .option("path", s"$outDir/neardup_pairs")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .start()

    val t0 = System.nanoTime()
    q1.awaitTermination(); q2.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9

    val kept = table.read(spark)
    val nKept = kept.count()
    val byLang = kept.groupBy(col("lang_pred")).count()
      .collect().map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
      .sorted.mkString("{", ",", "}")
    val nPairs = spark.read.parquet(s"$outDir/neardup_pairs").count()
    println(
      s"""{"docs_in":$nDocs,"curated":$nKept,"by_lang":$byLang,""" +
      f""""neardup_pairs":$nPairs,"wall_sec":$wall%.2f,"out":"$outDir"}""")
    spark.stop()
  }
}
