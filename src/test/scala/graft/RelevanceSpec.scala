package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.duration._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relevance

/** The Relevance scorers are plans: building one starts no Spark job
  * (every corpus scalar is a scalar subquery), acting on it tokenizes
  * each input row once, and an empty input gives an empty result of
  * the scorer's own schema.
  */
class RelevanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val terms = Seq("spark", "merge", "window")
  private val texts = Seq("spark merge spark", "window of the merge",
    "a quiet line", "spark window vector merge", "the the the")

  /** The five scorers over (train, docs); all but the bigram LM score
    * `docs` alone.
    */
  private def scorers: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "tfIdfQuantized" -> ((_, d) => Relevance.tfIdfQuantized(d, "doc_id", "text", terms)),
    "bm25Quantized" -> ((_, d) => Relevance.bm25Quantized(d, "doc_id", "text", terms)),
    "bm25" -> ((_, d) => Relevance.bm25(d, "doc_id", "text", terms)),
    "lmScoreQuantized" -> ((_, d) => Relevance.lmScoreQuantized(d, "doc_id", "text")),
    "bigramLmScoreQuantized" ->
      ((tr, d) => Relevance.bigramLmScoreQuantized(tr, d, "doc_id", "text")))

  private def inMemoryDocs: DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("building any Relevance scorer starts no Spark job") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n"))
    }
    val marker = "spec.relevance.marker."
    def markerJob(tag: String): Unit = {
      sc.setCallSite(marker + tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
    }
    val docs = inMemoryDocs
    sc.addSparkListener(listener)
    val perScorer = try {
      // listener events arrive in order: the jobs seen between two
      // marker jobs are the build's in between
      markerJob("start")
      for ((name, build) <- scorers) {
        build(docs, docs)
        markerJob(name)
      }
      val last = marker + scorers.last._1
      val deadline = System.nanoTime() + 60.seconds.toNanos
      while (!jobs.toArray.exists(_.toString.startsWith(last)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val seen = jobs.toArray.map(_.toString).toSeq
      assert(seen.exists(_.startsWith(last)), "marker job never reached the listener")
      scorers.map { case (name, _) =>
        val upTo = seen.indexWhere(_.startsWith(marker + name))
        val from = seen.lastIndexWhere(_.startsWith(marker), upTo - 1) + 1
        name -> seen.slice(from, upTo).map(_.linesIterator.next())
      }
    } finally {
      sc.removeSparkListener(listener)
      operators.NearDup.unpersistAll()
    }
    assert(perScorer.forall(_._2.isEmpty), "jobs started while building: " +
      perScorer.filter(_._2.nonEmpty).map { case (n, js) =>
        s"$n: ${js.size} (${js.distinct.mkString(", ")})" }.mkString("; "))
  }

  test("each Relevance scorer evaluates every input row's text once") {
    val n = 40L
    /** `n` generated rows whose text passes a UDF counting into `seen`
      * (a generated source, so nothing folds the UDF).
      */
    def counted(seen: org.apache.spark.util.LongAccumulator, idBase: Long): DataFrame = {
      val through = udf { (t: String) => seen.add(1L); t }
      spark.range(n).select((col("id") + idBase).as("doc_id"),
        through(element_at(array(texts.map(lit): _*),
          (col("id") % texts.size).cast("int") + 1)).as("text"))
    }
    for ((name, build) <- scorers) {
      val trainSeen = spark.sparkContext.longAccumulator(s"$name.train")
      val docsSeen = spark.sparkContext.longAccumulator(s"$name.docs")
      try {
        val rows = build(counted(trainSeen, 1000L), counted(docsSeen, 0L)).collect()
        assert(rows.nonEmpty, name)
      } finally operators.NearDup.unpersistAll()
      assert(docsSeen.value == n, s"$name: $n docs rows, text evaluated ${docsSeen.value} times")
      val trainRows = if (name == "bigramLmScoreQuantized") n else 0L
      assert(trainSeen.value == trainRows,
        s"$name: $trainRows train rows, text evaluated ${trainSeen.value} times")
    }
  }

  test("empty inputs give no rows and the scorer's column names and types") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = inMemoryDocs
    val lm = Seq("doc_id" -> LongType, "n_tok" -> LongType, "score_q" -> LongType,
      "mean_nll_q" -> LongType, "bucket" -> StringType)
    val expected = Map(
      "tfIdfQuantized" -> Seq("doc_id" -> LongType, "score_q" -> LongType),
      "bm25Quantized" -> Seq("doc_id" -> LongType, "score_q" -> LongType),
      "bm25" -> Seq("doc_id" -> LongType, "bm25" -> DoubleType),
      "lmScoreQuantized" -> lm,
      "bigramLmScoreQuantized" -> lm)
    def check(what: String, out: DataFrame, cols: Seq[(String, DataType)]): Unit = {
      assert(out.schema.fields.map(f => f.name -> f.dataType).toSeq == cols, what)
      assert(out.collect().isEmpty, s"$what: rows from an empty input")
    }
    try {
      for ((name, build) <- scorers)
        check(s"$name, empty docs", build(docs, empty), expected(name))
      check("bigramLmScoreQuantized, empty train",
        Relevance.bigramLmScoreQuantized(empty, docs, "doc_id", "text"),
        expected("bigramLmScoreQuantized"))
    } finally operators.NearDup.unpersistAll()
  }
}
