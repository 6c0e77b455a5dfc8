package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.{Pipeline, SessionWarmup}

/** Benchmark JVM: sets the engine up, runs one workload, checks its
  * outputs and writes the raw measurements as one JSON object to `--out`.
  * `perfbench/run.py` launches it and turns the raw record into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --out FILE --work DIR --data DIR [--cores C]
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, out: Path, work: Path, data: Path, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("out")), Paths.get(m("work")),
      Paths.get(m("data")), m.getOrElse("cores", "4").toInt)
  }

  /** One engine set-up: session, SessionWarmup sweep, dimension index. */
  final case class Setup(totalS: Double, sessionS: Double, warmupS: Double, indexS: Double)

  def session(args: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.default.parallelism", args.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set the engine up once, timed from JVM start. */
  def setUp(args: Args): (SparkSession, Setup) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val s = Trace.timed("setup", "session")(session(args))
    val spark = s.value
    Trace.bind(spark.sparkContext)
    val w = Trace.timed("setup", "SessionWarmup.ensure")(SessionWarmup.ensure(spark))
    val x = Trace.timed("setup", "Pipeline.cachedIndex")(Pipeline.cachedIndex(spark))
    (spark, Setup((Trace.nowMs - jvmStartMs) / 1000.0, s.seconds, w.seconds, x.seconds))
  }

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Trace.enabled = args.trace
    Files.createDirectories(args.work)
    val (spark, setup) = setUp(args)
    val listener = if (args.trace) Some(new BenchListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    Listeners.current = listener
    val rec = Json.obj()
    rec("workload") = args.workload
    rec("seed") = args.seed
    rec("cores") = args.cores
    rec("setup") = Json.obj("total_s" -> setup.totalS, "session_s" -> setup.sessionS,
      "warmup_s" -> setup.warmupS, "index_s" -> setup.indexS)

    val root = Trace.timed("workload", args.workload) {
      args.workload match {
        case "stream-backlog" => Streams.backlog(spark, args, rec)
        case "batch-suite" => Batches.run(spark, args, rec)
        case w => sys.error(s"unknown workload $w")
      }
    }
    rec("workload_s") = root.seconds

    if (args.trace) {
      rec("kernel_ns_per_turn") = Kernel.nsPerTurn(args.seed)
      rec("cpu_probe_items_per_s") = Kernel.cpuProbe()
      org.apache.spark.BenchBus.flush(spark.sparkContext) // every job's span is recorded
      rec("spans") = Trace.spans.sortBy(_.id).map(s => Json.obj("id" -> s.id,
        "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    rec("peak_rss_mb") = peakRssMb()
    Files.writeString(args.out, Json.render(rec))
    spark.stop()
  }
}
