package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.CurateFlow

/** End-to-end batch curation release: the composed pipeline
  * (CurateFlow — URL dedup → domain cap → quality gates → four dedup
  * scopes → decontamination → temperature mix → shards) over a
  * testdata documents table, with the per-stage survivor funnel
  * printed as one JSON line and the release written partitioned by
  * shard (a shuffle-free partitionBy write — shard is a pure function
  * of doc_id).
  *
  * Usage: CurateRun [sfDir] [outDir] [budgetTokens]
  */
object CurateRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_release")
    val budget = args.lift(2).map(_.toLong).getOrElse(20000L)
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

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // synthetic crawl URLs (the q79/q82 convention): 7 domains, plus
    // re-crawl noise variants of the first 50 docs that the canonical
    // form must collapse
    val base = docs.select(col("doc_id"),
      concat(lit("https://www.site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string")).as("url"),
      col("source"), col("text"))
    val crawl = base.unionByName(base.filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(upper(col("url")), lit("?utm_source=feed")).as("url"),
        col("source"), col("text")))
    val evalSet = docs.filter(col("doc_id") < 10)
      .select(col("doc_id"), col("text"))

    // the synthetic corpus is stopword-free jargon: waive the Gopher
    // stopword rule (the published default), keep the others
    val r = CurateFlow.run(crawl, evalSet, budgetTokens = budget,
      maxPerDomain = 1000,
      qualityKeep = "n_words >= 20 AND mean_word_len_g BETWEEN 3.0 AND 10.0 " +
        "AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8")
    val funnel = r.funnel.map { case (n, c) => s"\"$n\":$c" }
      .mkString("{", ",", "}")
    println(s"""{"funnel":$funnel}""")
    r.released.write.mode("overwrite").partitionBy("shard")
      .parquet(outDir)
    val out = spark.read.parquet(outDir)
    println(s"""{"funnel":$funnel,"released":${out.count()},""" +
      s""""shards":${out.select("shard").distinct().count()}}""")
    spark.stop()
  }
}
