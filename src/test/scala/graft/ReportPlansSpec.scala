package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.duration._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The output table, the drug-targets report and the shuffle-regime
  * annotations are one relational plan each: once the session's index
  * exists, building their declared queries collects nothing and probes
  * nothing, so it starts no Spark job — every job runs when the
  * DataFrame is acted on.
  */
class ReportPlansSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The first line of each job started while building each query,
    * after the session's index is built.
    */
  private def jobsWhileBuilding(queries: Seq[String]): Seq[(String, Seq[String])] = {
    val sc = spark.sparkContext
    Pipeline.cachedIndex(spark)
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n"))
    }
    val marker = "spec.construct.marker."
    def markerJob(tag: String): Unit = {
      sc.setCallSite(marker + tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
    }
    sc.addSparkListener(listener)
    try {
      // listener events arrive in order, so the jobs seen between two
      // marker jobs are the build's in between; the first marker fences
      // off the index build's events still queued for the listener
      markerJob("start")
      for (name <- queries) {
        SparkEntry.queries(name)(spark, "") // these queries read no table
        markerJob(name)
      }
      val last = marker + queries.last
      val deadline = System.nanoTime() + 60.seconds.toNanos
      while (!jobs.toArray.exists(_.toString.startsWith(last)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val seen = jobs.toArray.map(_.toString).toSeq
      assert(seen.exists(_.startsWith(last)), "marker job never reached the listener")
      queries.map { name =>
        val upTo = seen.indexWhere(_.startsWith(marker + name))
        val from = seen.lastIndexWhere(_.startsWith(marker), upTo - 1) + 1
        name -> seen.slice(from, upTo).map(_.linesIterator.next())
      }
    } finally sc.removeSparkListener(listener)
  }

  private def assertNoJobs(perQuery: Seq[(String, Seq[String])]): Unit =
    assert(perQuery.forall(_._2.isEmpty), "jobs started while building: " +
      perQuery.filter(_._2.nonEmpty).map { case (n, js) =>
        s"$n: ${js.size} (${js.distinct.mkString(", ")})" }.mkString("; "))

  test("building the output-table and drug-targets queries starts no Spark job") {
    assertNoJobs(jobsWhileBuilding(Seq("q23_output_table", "q24_drug_targets",
      "q58_output_shuffle", "q64_drug_targets_shuffle")))
  }

  test("building the shuffle-regime annotation queries starts no Spark job") {
    assertNoJobs(jobsWhileBuilding(Seq("q59_ann_shuffle", "q66_match_shuffle")))
  }
}
