package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One interval of the trace. `parent` is the id of the span that caused
  * it (0 for the root). Times are milliseconds on the JVM's wall clock.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Double, endMs: Double)

final case class Timed[T](value: T, seconds: Double, span: Long)

/** In-memory span recorder. When tracing is off every call is a plain
  * pass-through; when on, spans are kept in memory and written out once
  * the run ends.
  *
  * Levels: workload -> query or trigger -> public call -> Spark job ->
  * Spark stage. Spark jobs are attributed to the innermost open span of
  * the thread that started them through a local property, which Spark
  * propagates to the jobs (and broadcast/subquery threads) of that call.
  */
object Trace {
  val SpanProp = "graftbench.span"
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile private var sc: Option[SparkContext] = None

  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private val parentOf = TrieMap.empty[Long, Long]

  /** Wall-clock milliseconds with nanosecond resolution. */
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def bind(context: SparkContext): Unit = { sc = Some(context) }

  def nextId(): Long = ids.incrementAndGet()

  def current: Long = stack.get.headOption.getOrElse(0L)

  def record(s: Span): Unit = if (enabled) done.add(s)

  /** Time `body` as a span of `layer`; the span is recorded only when
    * tracing is on (its id is 0 otherwise), the elapsed seconds always.
    */
  def timed[T](layer: String, name: String)(body: => T): Timed[T] = {
    val t0 = System.nanoTime()
    if (!enabled) {
      val r = body
      return Timed(r, (System.nanoTime() - t0) / 1e9, 0L)
    }
    val id = nextId()
    val parent = current
    val start = nowMs
    stack.set(id :: stack.get)
    val prevProp = sc.map(_.getLocalProperty(SpanProp))
    sc.foreach(_.setLocalProperty(SpanProp, id.toString))
    try {
      val r = body
      Timed(r, (System.nanoTime() - t0) / 1e9, id)
    } finally {
      sc.foreach(_.setLocalProperty(SpanProp, prevProp.flatMap(Option(_)).orNull))
      stack.set(stack.get.tail)
      done.add(Span(id, parent, layer, name, start, nowMs))
    }
  }

  /** Attach a recorded span to a parent known only later (a streaming
    * trigger's jobs end before its progress event arrives).
    */
  def reparent(child: Long, parent: Long): Unit = parentOf.put(child, parent)

  def spans: Seq[Span] = done.asScala.toSeq
    .map(s => parentOf.get(s.id).fold(s)(p => s.copy(parent = p)))
}

/** Spark-side counters the traced run reports: per-job attribution to
  * the calling span, per-stage task metrics (exchange bytes, spill,
  * fetch wait) and per-stage task durations (skew).
  */
final class BenchListener extends SparkListener {
  import BenchListener._

  private val jobs = TrieMap.empty[Int, JobInfo]
  private val stageStart = TrieMap.empty[Int, Double]
  private val stageEnds = TrieMap.empty[Int, Double]
  private val stages = TrieMap.empty[Int, StageAgg]
  /** (parent span id) -> job count, for construction vs action attribution. */
  private val jobsBySpan = TrieMap.empty[Long, Int]
  /** stream (query id, batch id) -> job span ids, attached to trigger spans later. */
  val streamJobs = new ConcurrentLinkedQueue[(String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val parent = prop(Trace.SpanProp).map(_.toLong).getOrElse(0L)
    val info = JobInfo(parent, prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId").map(_.toLong),
      prop("callSite.short").getOrElse(""), e.time.toDouble, e.stageIds)
    jobs.put(e.jobId, info)
    // a streaming trigger's jobs belong to the trigger (attached once its
    // progress event is known); their span property is only the one the
    // query thread inherited from the thread that started the query
    if (info.streamQuery.isEmpty)
      jobsBySpan.synchronized { jobsBySpan.put(parent, jobsBySpan.getOrElse(parent, 0) + 1) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.remove(e.jobId).foreach { j =>
    val id = Trace.nextId()
    (j.streamQuery, j.streamBatch) match {
      case (Some(q), Some(b)) => streamJobs.add((q, b, id))
      case _ =>
    }
    Trace.record(Span(id, j.parentSpan, "job", s"job ${e.jobId} ${j.callSite}",
      j.start, e.time.toDouble))
    // stages complete before their job ends: emit their spans now that
    // the job's span id is known
    j.stages.foreach { s =>
      for (st <- stageStart.remove(s); en <- stageEnds.remove(s))
        Trace.record(Span(Trace.nextId(), id, "stage", s"stage $s", st, en))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (st <- i.submissionTime; en <- i.completionTime) {
      stageStart.put(i.stageId, st.toDouble); stageEnds.put(i.stageId, en.toDouble)
    }
    val m = i.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(i.stageId, StageAgg())
      a.synchronized {
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskInfo != null) {
    val a = stages.getOrElseUpdate(e.stageId, StageAgg())
    a.synchronized { a.durations += e.taskInfo.duration }
  }

  /** Exchange totals over every stage seen, and the largest per-stage
    * max/median task-time ratio (stages of at least two tasks).
    */
  def exchange: Map[String, Double] = {
    val all = stages.values.toSeq
    val skew = all.flatMap { a => a.synchronized {
      val d = a.durations.sorted
      if (d.size < 2) None
      else {
        val med = d(d.size / 2).max(1L)
        Some(d.last.toDouble / med)
      }
    } }
    Map(
      "shuffle_write_bytes" -> all.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> all.map(_.shuffleRead).sum.toDouble,
      "spill_bytes" -> all.map(_.spill).sum.toDouble,
      "fetch_wait_ms" -> all.map(_.fetchWaitMs).sum.toDouble,
      "task_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max))
  }

  def jobsUnder(span: Long): Int = jobsBySpan.getOrElse(span, 0)

  /** Forget the stages seen so far (exchange totals restart). */
  def clearStages(): Unit = stages.clear()
}

object BenchListener {
  private final case class JobInfo(parentSpan: Long, streamQuery: Option[String],
      streamBatch: Option[Long], callSite: String, start: Double, stages: Seq[Int])
  private final case class StageAgg(var shuffleWrite: Long = 0L, var shuffleRead: Long = 0L,
      var spill: Long = 0L, var fetchWaitMs: Long = 0L,
      durations: scala.collection.mutable.ArrayBuffer[Long] =
        scala.collection.mutable.ArrayBuffer.empty[Long])
}

/** The traced run's listener (None when tracing is off). */
object Listeners {
  @volatile var current: Option[BenchListener] = None

  /** Restart the exchange totals once the listener has seen every event
    * so far, so they cover only what runs from here on.
    */
  def startExchange(sc: SparkContext): Unit = current.foreach { l =>
    org.apache.spark.BenchBus.flush(sc)
    l.clearStages()
  }

  /** Exchange totals since `startExchange`, once every event so far is seen. */
  def exchange(sc: SparkContext): Option[JObj] = current.map { l =>
    org.apache.spark.BenchBus.flush(sc)
    Json.obj(l.exchange.toSeq: _*)
  }
}
