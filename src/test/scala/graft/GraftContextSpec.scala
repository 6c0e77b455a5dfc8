package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Per-SparkContext session artifacts: memos build once per key even
  * under concurrent first calls, failed builds are retried, and
  * `release(sc)` — what the application-end hook calls — frees every
  * persisted block the context holds. The suite's shared SparkContext
  * stays up: release drops the context, not the application.
  */
class GraftContextSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def persistedRange(n: Long): DataFrame = {
    val df = spark.range(n).toDF("id").persist(StorageLevel.MEMORY_AND_DISK)
    df.count() // materialize: the cached RDD registers on first use
    df
  }

  test("racing first memo calls build once and persist one relation") {
    val builds = new AtomicInteger(0)
    val before = persistedIds
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val calls = (1 to 8).map { _ =>
        Future {
          start.await()
          GraftContext(spark).memo("spec.race") {
            // each build persists a distinct plan, so a second build
            // would show up as a second persisted RDD
            persistedRange(1000L + builds.incrementAndGet())
          }
        }
      }
      start.countDown()
      val results = Await.result(Future.sequence(calls), 2.minutes)
      assert(builds.get == 1, s"builder ran ${builds.get} times")
      assert(results.forall(_ eq results.head))
      assert((persistedIds -- before).size == 1)
    } finally pool.shutdown()
  }

  test("a throwing build is not memoized: the next call rebuilds") {
    val builds = new AtomicInteger(0)
    def call(): Int = GraftContext(spark).memo("spec.retry") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      42
    }
    intercept[IllegalStateException](call())
    assert(call() == 42)
    assert(call() == 42)
    assert(builds.get == 2)
  }

  test("release(sc) frees the context's persisted blocks and the next call rebuilds") {
    val sc = spark.sparkContext
    val builds = new AtomicInteger(0)
    def memoized(): DataFrame = GraftContext(spark).memo("spec.release") {
      builds.incrementAndGet()
      persistedRange(2000L)
    }
    val before = persistedIds
    memoized()
    val tracked = GraftContext.persistTracked(spark.range(3000L).toDF("id"))
    tracked.count()
    val held = persistedIds -- before
    assert(held.size == 2, s"expected the memo and the tracked persist, got $held")

    GraftContext.release(sc)
    assert((persistedIds intersect held).isEmpty,
      s"still persisted after release: ${persistedIds intersect held}")
    memoized()
    assert(builds.get == 2, "release must drop the memo")
    assert(!sc.isStopped)
  }

  test("persistTracked leaves a cache it does not own alone") {
    val owned = persistedRange(4000L)
    // an equal plan, as an operator would receive a memoized relation
    val passed = GraftContext.persistTracked(spark.range(4000L).toDF("id"))
    passed.count()
    GraftContext(spark).unpersistTracked()
    assert(owned.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "unpersistTracked freed the owner's cache")
    owned.unpersist(true)
  }

  test("creating the context binds file: to the fork-free classes; a caller's keys stay") {
    import java.net.URI
    import org.apache.hadoop.fs.{FileContext, FileSystem}
    import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, LocalFs}
    val sc = spark.sparkContext
    val shared = sc.hadoopConfiguration
    val keys = Seq(LocalFs.FileSystemKey, LocalFs.FileContextKey)
    val saved = keys.map(k => (k, Option(shared.get(k)), Option(shared.getPropertySources(k))))
    def unbind(): Unit = { GraftContext.release(sc); keys.foreach(shared.unset) }
    try {
      unbind()
      GraftContext(sc)
      val conf = spark.sessionState.newHadoopConf()
      assert(FileContext.getFileContext(URI.create("file:///"), conf)
        .getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
      val fs = FileSystem.newInstance(URI.create("file:///"), conf)
      try assert(fs.getClass == classOf[ForkFreeLocalFileSystem]) finally fs.close()

      // either key set before the context exists (here to the stock
      // class, the documented way to keep it): neither is touched
      val stock = Map(LocalFs.FileSystemKey -> "org.apache.hadoop.fs.LocalFileSystem",
        LocalFs.FileContextKey -> "org.apache.hadoop.fs.local.LocalFs")
      for ((k, v) <- stock) {
        unbind()
        shared.set(k, v)
        GraftContext(sc)
        assert(shared.get(k) == v, k)
        keys.filterNot(_ == k).foreach(o =>
          assert(!Option(shared.get(o)).exists(_.startsWith("graft.")), o))
      }
    } finally {
      unbind()
      for ((k, v, src) <- saved; value <- v)
        shared.set(k, value, src.flatMap(_.headOption).orNull)
    }
  }

  test("a fresh context's index build starts no SessionWarmup job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = "spec.warmup.marker"
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n"))
    }
    GraftContext.release(sc) // the next cachedIndex is a session's first
    sc.addSparkListener(listener)
    try {
      Pipeline.cachedIndex(spark)
      // listener events arrive in order: once the marker job is seen,
      // every job the index build started has been counted
      sc.setCallSite(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
      val deadline = System.nanoTime() + 60.seconds.toNanos
      while (!jobs.toArray.exists(_.toString.startsWith(marker)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val started = jobs.toArray.map(_.toString).takeWhile(!_.startsWith(marker))
      assert(started.length < jobs.size, "marker job never reached the listener")
      assert(started.nonEmpty, "the index build ran no job: the listener saw nothing")
      val fromWarmup = started.filter(_.contains("SessionWarmup"))
      val n = fromWarmup.length
      assert(n == 0, s"of ${started.length} jobs came from SessionWarmup; call sites: " +
          fromWarmup.map(_.linesIterator.next()).distinct.mkString(", "))
    } finally sc.removeSparkListener(listener)
  }
}
