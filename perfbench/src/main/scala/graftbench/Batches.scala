package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{Components, CurateFlow, NearDup}

/** The batch workload: declared `SparkEntry.queries` over the
  * benchmark's copy of the sf0.001 tables, whose row order the seed
  * permutes, then one `CurateFlow.run` release.
  */
object Batches {

  /** Queries whose time goes mostly into deriving candidate pairs from
    * blocks (shingle postings, LSH bands, simhash chunks, embedding
    * buckets). The other pair-deriving queries (q28, q40, q70, q81)
    * spend most of their time in k-means fits or connected components
    * and do not fit the run budget; see NOTES.md.
    */
  val pairQueries: Seq[String] = Seq(
    "q14_minhash_neardup", "q15_simhash_neardup", "q18_ann_lsh",
    "q35_embed_neardup", "q36_jaccard_exact", "q37_dedup_keep_first",
    "q55_dedup_canonical", "q61_incremental_dedup")

  /** The pair queries, then the annotation regimes (broadcast kernel,
    * shuffle consensus, full shuffle) and their consumers.
    */
  val suiteQueries: Seq[String] = pairQueries ++ Seq(
    "q21_annotations", "q22_tier_select_highest", "q23_output_table",
    "q24_drug_targets", "q58_output_shuffle", "q59_ann_shuffle",
    "q64_drug_targets_shuffle", "q66_match_shuffle")

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Copy the tables; the corpus tables the workload's queries read get a
    * seed-chosen row order (one file each), the rest are copied as they
    * are. Query results do not depend on row order, so the pinned counts
    * hold for every seed.
    */
  def stageTables(spark: SparkSession, from: String, to: String, seed: Long): Unit =
    Tables.foreach { t =>
      if (Seq("documents", "embeddings").contains(t)) {
        val df = spark.read.parquet(s"$from/$t.parquet")
        df.repartition(1)
          .sortWithinPartitions(xxhash64(lit(seed) +: df.columns.map(col).toIndexedSeq: _*))
          .write.mode("overwrite").parquet(s"$to/$t.parquet")
      } else {
        Files.createDirectories(Paths.get(to))
        Files.copy(Paths.get(s"$from/$t.parquet"), Paths.get(s"$to/$t.parquet"))
      }
    }

  /** Pinned outputs: `"<query>": rows` and the curation funnel. */
  private def expected(args: Main.Args): Map[String, Long] = {
    val body = new String(Files.readAllBytes(args.data.resolve("expected_counts.json")))
    """"([A-Za-z0-9_.]+)"\s*:\s*([0-9]+)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def run(spark: SparkSession, args: Main.Args, rec: JObj): Unit = {
    val listener = Listeners.current
    val dir = args.work.resolve("tables").toString
    val staged = Trace.timed("gen", "stage")(
      stageTables(spark, args.data.resolve("sf0.001").toString, dir, args.seed))
    rec("gen") = Json.obj("stage_s" -> staged.seconds)
    val want = expected(args)

    val results = Seq.newBuilder[JObj]
    val failures = Seq.newBuilder[String]
    Listeners.startExchange(spark.sparkContext)
    val t0 = Trace.nowMs
    suiteQueries.foreach { name =>
      var construct: Timed[DataFrame] = null
      var action: Timed[Long] = null
      val q = Trace.timed("query", name) {
        try {
          construct = Trace.timed("call", s"SparkEntry.queries($name)")(
            SparkEntry.queries(name)(spark, dir))
          action = Trace.timed("call", s"$name.count")(construct.value.count())
        } catch { case e: Throwable =>
          failures += s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}"
        }
      }
      // released outside the timed region, as Bench.scala does
      NearDup.unpersistAll()
      Components.releaseAll()
      val rows = Option(action).map(_.value).getOrElse(-1L)
      if (action != null && !want.get(name).contains(rows))
        failures += s"$name: $rows rows, expected ${want.getOrElse(name, -1L)}"
      results += Json.obj("name" -> name, "seconds" -> q.seconds, "rows" -> rows,
        "construct_s" -> Option(construct).map(_.seconds).getOrElse(0.0),
        "action_s" -> Option(action).map(_.seconds).getOrElse(0.0),
        "construct_jobs" -> listener.map(_.jobsUnder(Option(construct).map(_.span).getOrElse(-1L))).getOrElse(0),
        "action_jobs" -> listener.map(_.jobsUnder(Option(action).map(_.span).getOrElse(-1L))).getOrElse(0))
    }
    val c = Trace.timed("query", "curate")(curation(spark, dir, args))
    val (funnel, runS, writeS) = c.value
    val batchS = (Trace.nowMs - t0) / 1000.0
    Listeners.exchange(spark.sparkContext).foreach(rec("exchange") = _)

    // checks, outside the timed region
    funnel.foreach { case (stage, n) =>
      if (!want.get(s"curate.$stage").contains(n))
        failures += s"curate.$stage: $n rows, expected ${want.getOrElse(s"curate.$stage", -1L)}" }
    val released = spark.read.parquet(args.work.resolve("release").toString).count()
    if (!want.get("curate.released").contains(released))
      failures += s"curate.released: $released rows"
    rec("curate") = Json.obj("seconds" -> c.seconds, "run_s" -> runS, "write_s" -> writeS,
      "funnel" -> Json.obj(funnel.map { case (k, v) => k -> v }: _*),
      "released" -> released)
    rec("batch") = Json.obj("batch_s" -> batchS, "queries" -> results.result(),
      "attempted" -> (suiteQueries.size + 1), "failures" -> failures.result())
  }

  /** One curation release built the way `graft.tools.CurateRun` builds
    * it and written to `<work>/release`; returns the funnel, run and
    * write seconds.
    */
  def curation(spark: SparkSession, dir: String, args: Main.Args)
      : (Seq[(String, Long)], Double, Double) = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.select(col("doc_id"),
      concat(lit("https://www.site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string")).as("url"),
      col("source"), col("text"))
    val crawl = base.unionByName(base.filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(upper(col("url")), lit("?utm_source=feed")).as("url"),
        col("source"), col("text")))
    val evalSet = docs.filter(col("doc_id") < 10).select(col("doc_id"), col("text"))
    val r = Trace.timed("call", "CurateFlow.run")(CurateFlow.run(crawl, evalSet,
      budgetTokens = 20000L, maxPerDomain = 1000,
      qualityKeep = "n_words >= 20 AND mean_word_len_g BETWEEN 3.0 AND 10.0 " +
        "AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8"))
    val out = args.work.resolve("release").toString
    val w = Trace.timed("call", "release write")(
      r.value.released.write.mode("overwrite").partitionBy("shard").parquet(out))
    (r.value.funnel, r.seconds, w.seconds)
  }
}
