package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query isolation bench (guide §1.4): times individual declared
  * queries outside the frozen Bench harness, with optional plan dump.
  *
  * Usage: runMain graft.tools.BenchExtra <reps> <q1> [q2 ...]
  *   env SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench
  *   env GRAFT_PLAN_DIR — if set, writes <dir>/<query>.txt with
  *   explain("formatted") before timing
  *   env GRAFT_NOOP=1 — time a noop-sink write (forces every column)
  *   instead of the bench's count() action
  *
  * Timing methodology matches Bench.scala: wall time around the action,
  * near-dup/CC operator caches released after each rep so repeats don't
  * feed on persisted intermediates.
  *
  * Each query prints one line: `min/med/all` are the build + action
  * seconds per rep; `construct` and `action` split them into the two
  * phases, each with the Spark jobs started in it (median over reps)
  * and its median seconds. A construction job is one that building
  * the DataFrame runs before any action: schema inference, a driver
  * round trip for a scalar, a memo build. `skew_max_ms` and
  * `skew_med_ms` are the longest and the median task of the action
  * phase's heaviest stage (the one with the largest summed task time;
  * median over reps).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.headOption.map(_.toInt).getOrElse(1)
    val wanted = args.drop(1).toSet
    val planDir = sys.env.get("GRAFT_PLAN_DIR")
    val useNoop = sys.env.get("GRAFT_NOOP").contains("1")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      b.config("spark.local.dir", "/dev/shm/graft-local")
    val spark = b.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    graft.Pipeline.cachedIndex(spark)
    // the job group of every job started; each phase of each rep runs
    // under its own group
    val started = new ConcurrentLinkedQueue[String]()
    // each stage's job group (the first job to list it: the one that
    // runs it), and its finished tasks' durations (ms)
    val stageGroup = new ConcurrentHashMap[Int, String]()
    val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val group = String.valueOf(j.properties.getProperty("spark.jobGroup.id"))
        j.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, group))
        started.add(group)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        taskMs.computeIfAbsent(t.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(t.taskInfo.duration)
    })
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, s"bench-extra:$group")
      try body finally sc.clearJobGroup()
    }
    // listener events arrive in order: once the marker job's start is
    // seen, so is every earlier job's and task's
    def awaitListener(marker: String): Unit = {
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      while (!started.contains(marker)) Thread.sleep(5)
    }
    def med[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.size / 2)
    val qs = graft.SparkEntry.queries.filter { case (n, _) =>
      wanted.isEmpty || wanted.contains(n) }
    qs.foreach { case (name, fn) =>
      planDir.foreach { d =>
        val f = new java.io.File(d); f.mkdirs()
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$d/$name.txt")
        try w.write(plan) finally w.close()
      }
      // per rep: (construct s, action s)
      val phases = (1 to reps).map { rep =>
        val t0 = System.nanoTime()
        val df = inGroup(s"$name:$rep:construct")(fn(spark, sfDir))
        val t1 = System.nanoTime()
        inGroup(s"$name:$rep:action") {
          if (useNoop) df.write.format("noop").mode("overwrite").save()
          else df.count()
        }
        val t2 = System.nanoTime()
        graft.operators.NearDup.unpersistAll()
        graft.operators.Components.releaseAll()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      val times = phases.map { case (c, a) => c + a }
      if (times.nonEmpty) {
        awaitListener(s"$name:flush")
        def jobs(phase: String) = med((1 to reps).map { rep =>
          started.toArray.count(_ == s"$name:$rep:$phase") })
        // (max, median) task ms of each rep's heaviest action stage
        val skew = (1 to reps).map { rep =>
          val stages = stageGroup.asScala.collect {
            case (id, g) if g == s"$name:$rep:action" =>
              Option(taskMs.get(id)).map(_.asScala.toSeq).getOrElse(Nil)
          }.filter(_.nonEmpty)
          if (stages.isEmpty) (0L, 0L)
          else { val ts = stages.maxBy(_.sum); (ts.max, med(ts)) }
        }
        println(f"""BENCHX $name reps=$reps min=${times.min}%.3f med=${
          med(times)}%.3f all=${times.map(t => f"$t%.3f").mkString(",")
          } construct_jobs=${jobs("construct")} construct_med=${
          med(phases.map(_._1))}%.3f action_jobs=${jobs("action")
          } action_med=${med(phases.map(_._2))}%.3f skew_max_ms=${
          med(skew.map(_._1))} skew_med_ms=${med(skew.map(_._2))}""")
      } else println(s"BENCHX $name plan-only")
    }
    spark.stop()
  }
}
