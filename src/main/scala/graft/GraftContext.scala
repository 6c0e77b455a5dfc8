package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Everything the engine keeps for one live SparkContext: memoized
  * session artifacts (dimension index, annotation run, near-dup pairs,
  * fitted models), the bounded queues of tracked persists, the
  * per-session cap-listener registration and the two diagnostics.
  * Sessions of one SparkContext share one context — they share its
  * CacheManager too. An application-end listener, registered when the
  * context is created, calls `release(sc)`: every held persist is freed
  * and the context dropped, so nothing outlives the SparkContext.
  *
  * Creating the context also binds `file:` in the SparkContext's Hadoop
  * configuration to the fork-free local filesystem (`graft.io.LocalFs`):
  * checkpoints, state stores, `IcebergLikeTable` and parquet writes stop
  * starting a `chmod` or `readlink` process per file. A caller who set
  * `fs.file.impl` or `fs.AbstractFileSystem.file.impl` keeps their own
  * value. Create the context before the first local file I/O: a `file:`
  * FileSystem Hadoop cached earlier keeps the stock class (FileContext,
  * which checkpoints and state stores use, is never cached).
  */
final class GraftContext private () {
  import GraftContext._

  private val memos = new ConcurrentHashMap[Any, Cell]()
  private val datasets = new Bounded[Dataset[_]](_.unpersist(false))
  private val checkpoints = new Bounded[RDD[_]](_.unpersist(false), { rdd =>
    // a checkpoint RDD does not recompute (its lineage is truncated):
    // acting on the evicted result later fails with "Checkpoint block
    // not found" — log loudly so that error is attributable
    org.apache.log4j.Logger.getLogger(classOf[GraftContext]).warn(
      s"evicting final-round CC checkpoint RDD ${rdd.id}: more than " +
        s"$MaxTracked unconsumed connectedComponents results are live; " +
        "actions on the evicted result will fail (blocks freed, " +
        "lineage truncated)")
  })
  // weakly referenced: a dropped SparkSession must not stay pinned
  // until its SparkContext stops
  private val listened = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Blocks dropped by the most recent capped near-dup run (-1 until
    * one completes); see `NearDup.lastCapDropped`.
    */
  @volatile var capDropped: Long = -1L
  /** Rounds the most recent `connectedComponents` call took. */
  @volatile var ccRounds: Int = 0

  /** The artifact memoized under `key`, built on first use. Concurrent
    * first calls run `build` once (the others wait on the key's cell);
    * a build that throws is not memoized, so the next call retries.
    * Builds may nest (a run memo asking for the index memo): each key
    * locks only its own cell.
    */
  def memo[T](key: Any)(build: => T): T =
    memos.computeIfAbsent(key, _ => new Cell).get(build)

  /** Persist `ds` (MEMORY_AND_DISK) as an operator intermediate: the
    * oldest of more than `MaxTracked` is unpersisted (it recomputes if
    * still referenced — only the cache win is lost). A `ds` that is
    * already cached (a memo's, or the caller's own) is returned
    * untracked: its cache belongs to whoever persisted it, and
    * unpersisting any equal plan would free it.
    */
  def persistTracked[T](ds: Dataset[T]): Dataset[T] =
    if (ds.storageLevel != StorageLevel.NONE) ds
    else {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      datasets.add(p)
      p
    }

  /** Hold the final-round checkpoint RDD of a `connectedComponents`
    * call; it backs the returned DataFrame until evicted or released.
    */
  def trackCheckpoint(rdd: RDD[_]): Unit = checkpoints.add(rdd)

  def unpersistTracked(): Unit = datasets.clear()
  def releaseCheckpoints(): Unit = checkpoints.clear()

  /** Run `register` once per session of this context. */
  def oncePerSession(spark: SparkSession)(register: => Unit): Unit =
    if (listened.add(spark)) register

  private def free(): Unit = {
    unpersistTracked()
    releaseCheckpoints()
    memos.values.forEach(_.built.foreach {
      case ds: Dataset[_] => ds.unpersist(false)
      case bc: Broadcast[_] => bc.unpersist(false)
      case _ =>
    })
    memos.clear()
  }
}

object GraftContext {

  private val MaxTracked = 4

  // identity-keyed (SparkContext does not override equals); an entry
  // lives until its application ends or `release` drops it
  private val live = new ConcurrentHashMap[SparkContext, GraftContext]()

  def apply(spark: SparkSession): GraftContext = apply(spark.sparkContext)

  def apply(sc: SparkContext): GraftContext =
    live.computeIfAbsent(sc, { _ =>
      val ctx = new GraftContext
      graft.io.LocalFs.bind(sc.hadoopConfiguration)
      sc.addSparkListener(new SparkListener {
        // the application is ending and its blocks go with it: a free
        // that races the shutdown must not fail the listener bus
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          try release(sc) catch { case scala.util.control.NonFatal(_) => }
      })
      ctx
    })

  /** Unpersist everything the context of `sc` holds and drop it; the
    * next use builds a fresh context. No-op if `sc` has none.
    */
  def release(sc: SparkContext): Unit =
    Option(live.remove(sc)).foreach(_.free())

  /** The context of the calling thread's active (else default) session,
    * if one was created — for the session-less diagnostics and release
    * shims (`NearDup.lastCapDropped`, `Components.releaseAll`, …).
    */
  def current: Option[GraftContext] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(s => Option(live.get(s.sparkContext)))

  /** `persistTracked` in the context of the dataset's own session. */
  def persistTracked[T](ds: Dataset[T]): Dataset[T] =
    apply(ds.sparkSession).persistTracked(ds)

  private object Unset

  /** Per-key lazy cell: double-checked, so hits never lock. */
  private final class Cell {
    @volatile private var value: AnyRef = Unset
    def get[T](build: => T): T = {
      if (value eq Unset) synchronized {
        if (value eq Unset) value = build.asInstanceOf[AnyRef]
      }
      value.asInstanceOf[T]
    }
    def built: Option[AnyRef] = if (value eq Unset) None else Some(value)
  }

  /** FIFO of at most `MaxTracked` entries: the oldest overflow entry
    * is freed (after `onEvict`).
    */
  private final class Bounded[A](free: A => Unit, onEvict: A => Unit = (_: A) => ()) {
    private val q = new ConcurrentLinkedQueue[A]()
    def add(a: A): Unit = {
      q.add(a)
      while (q.size > MaxTracked) Option(q.poll()).foreach { old =>
        onEvict(old); free(old)
      }
    }
    def clear(): Unit = Iterator.continually(q.poll()).takeWhile(_ != null).foreach(free)
  }
}
