package graft.plans

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{array, col, lit, udaf}

/** Snapshot-committing partitioned-parquet table — the sandbox stand-in
  * for the north rule's Iceberg sink (no Iceberg runtime jar ships with
  * the image; SURVEY.md §7.0).
  *
  * Semantics provided:
  *  - idempotent partition replace: a micro-batch overwrites exactly the
  *    partitions it produced (`partitionOverwriteMode=dynamic`), so
  *    foreachBatch replays after a checkpoint restart converge to the
  *    same table state (exactly-once downstream effect);
  *  - snapshot manifests: every commit writes
  *    `_manifests/snap-<batchId>.json` carrying the written partitions
  *    and per-partition row counts (the per-partition lineage + metrics
  *    of the north rule), committed via atomic rename;
  *  - replay detection: a batchId whose manifest already exists is
  *    skipped (the work is already durable).
  *
  * The API deliberately mirrors what an Iceberg `replacePartitions`
  * commit would provide, so a real catalog can drop in when the runtime
  * jar is available.
  */
final class IcebergLikeTable(val root: String, val partitionCols: Seq[String]) {

  private val manifestDir = Paths.get(root, "_manifests")

  def manifestPath(batchId: Long) = manifestDir.resolve(f"snap-$batchId%08d.json")

  def committed(batchId: Long): Boolean = Files.exists(manifestPath(batchId))

  /** Idempotently replace the partitions present in `df`. Safe to call
    * again with the same batchId (no-op) or after a partial failure
    * (dynamic overwrite re-replaces the same partitions). A `df` with
    * no rows commits nothing.
    *
    * Physical partitioning is (partitionCols..., _batch_id): a dynamic
    * partition overwrite is only exactly-once when every physical
    * partition is owned by exactly one micro-batch — without the batch
    * id, a later batch touching the same (data_type, bucket) would
    * clobber earlier batches' rows. Including the batch id makes a
    * replay rewrite ONLY its own partitions (idempotent) while new
    * batches strictly add partitions, which is exactly Iceberg's
    * append-snapshot semantics.
    */
  def replacePartitions(df: DataFrame, batchId: Long): Unit = {
    if (committed(batchId)) return // replayed micro-batch: already durable
    val counts = writeBatch(df, batchId)
    if (counts.isEmpty) return // empty micro-batch: nothing to commit
    commitManifest(batchId, None, counts)
  }

  /** Dynamic partition overwrite of `df` under `_batch_id = batchId`,
    * returning one manifest entry per partition it wrote:
    * `{"<col>":"<value>",...,"rows":<n>}` (a NULL value reads `"null"`).
    * The counts are observed during the write itself (`Dataset.observe`
    * with a fresh `Observation`), so a commit evaluates `df` once; an
    * empty `df` writes no data file and returns no entry.
    *
    * The id goes in as a string literal: Spark inlines a long literal
    * into the generated code, so every batch id would compile the write
    * stage anew. The directory is `_batch_id=<id>` either way, and reads
    * infer the column's numeric type from the path.
    */
  private def writeBatch(df: DataFrame, batchId: Long): Seq[String] = {
    val observation = new Observation()
    df.observe(observation, IcebergLikeTable.partitionRows(
        array(partitionCols.map(c => col(c).cast("string")): _*)).as("rows"))
      .withColumn("_batch_id", lit(batchId.toString))
      .write
      // per-write option, NOT a session conf set: a session-level
      // partitionOverwriteMode=dynamic would leak into unrelated
      // Overwrite writes issued later in the same session
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols :+ "_batch_id": _*)
      .parquet(root)
    observation.get("rows")
      .asInstanceOf[scala.collection.Map[scala.collection.Seq[String], Long]]
      .toSeq.map { case (values, n) =>
        val keys = partitionCols.zip(values)
          .map { case (c, v) => quote(c) + ":" + quote(String.valueOf(v)) }
        (keys :+ s""""rows":$n""").mkString("{", ",", "}")
      }.sorted
  }

  /** Snapshot commit: write the manifest to a temp file, atomic rename. */
  private def commitManifest(batchId: Long, replaces: Option[Seq[Long]],
                             partitions: Seq[String]): Unit = {
    val fields = Seq(s""""batch_id":$batchId""") ++
      replaces.map(ids => s""""replaces":${ids.mkString("[", ",", "]")}""") ++
      Seq(s""""partition_cols":${partitionCols.map(quote).mkString("[", ",", "]")}""",
        s""""partitions":${partitions.mkString("[", ",", "]")}""")
    Files.createDirectories(manifestDir)
    val tmp = manifestDir.resolve(s".snap-$batchId.tmp")
    Files.write(tmp, fields.mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(batchId), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** A JSON string literal of `s`. */
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `f` over a directory stream's paths; the stream is closed when `f`
    * returns, so `f` must materialize what it keeps.
    */
  private def paths[T](open: => java.util.stream.Stream[Path])(f: Iterator[Path] => T): T =
    Using.resource(open)(s => f(s.iterator().asScala))

  /** All committed snapshot batch ids, ascending. */
  def snapshots(): Seq[Long] =
    if (!Files.exists(manifestDir)) Nil
    else paths(Files.list(manifestDir))(_
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("snap-").stripSuffix(".json").toLong)
      .toSeq.sorted)

  private val ReplacesRe = """"replaces":\[([0-9,\s]*)\]""".r

  /** Batch ids a committed snapshot replaced (compaction snapshots). */
  private def replacedBy(batchId: Long): Seq[Long] = {
    val body = new String(Files.readAllBytes(manifestPath(batchId)),
      StandardCharsets.UTF_8)
    ReplacesRe.findFirstMatchIn(body) match {
      case Some(m) if m.group(1).trim.nonEmpty =>
        m.group(1).split(",").map(_.trim.toLong).toSeq
      case _ => Nil
    }
  }

  /** LIVE batch ids: every committed snapshot minus those replaced by a
    * later committed compaction — table state is defined by the
    * manifest log, exactly as in Iceberg, so data files written but not
    * (or no longer) referenced are invisible to readers.
    */
  def liveBatches(): Seq[Long] = liveBatchesAsOf(Long.MaxValue)

  /** The batch ids that were live when `asOf` was the newest committed
    * snapshot: manifests after it don't exist yet from that snapshot's
    * point of view, so replacements recorded by later compactions
    * don't apply either.
    */
  private def liveBatchesAsOf(asOf: Long): Seq[Long] = {
    val all = snapshots().filter(_ <= asOf)
    val dead = all.flatMap(replacedBy).toSet
    all.filterNot(dead)
  }

  /** Manifest-driven read: only live batches' partitions (partition
    * pruning keeps this a metadata-level filter).
    */
  def read(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val live = liveBatches()
    spark.read.parquet(root).filter(col("_batch_id").isin(live: _*))
  }

  /** TIME TRAVEL: the table exactly as of committed snapshot `asOf` —
    * the manifest log replays to that point, so a compaction committed
    * later does not hide the original per-batch files. Fails loudly if
    * `asOf` was never committed or its data files have since been
    * reclaimed by `expireSnapshots` (reading silently-empty history
    * would be worse than refusing).
    */
  private def expiredMarker(batchId: Long) =
    manifestDir.resolve(f"expired-$batchId%08d")

  def readAsOf(spark: org.apache.spark.sql.SparkSession, asOf: Long): DataFrame = {
    require(committed(asOf), s"snapshot $asOf was never committed")
    val live = liveBatchesAsOf(asOf)
    // two gates, both required:
    //  1. expiry INTENT (tombstone): a batch whose tombstone exists may
    //     have lost any subset of its partition dirs (expireSnapshots
    //     crashed mid-delete, or a per-path delete failed), and
    //     dir-existence alone cannot distinguish "all data present"
    //     from "one partition left of five". The tombstone is written
    //     BEFORE the first delete, so its presence means "unreadable".
    //  2. dir PRESENCE: data lost out-of-band (manual cleanup, tables
    //     expired by an older binary with no tombstones, partial copy)
    //     has no tombstone — a batch with NO surviving dir at all must
    //     still refuse rather than read back silently empty.
    val expired = live.filter(id => Files.exists(expiredMarker(id)))
    require(expired.isEmpty,
      s"snapshot $asOf is expired: batches ${expired.mkString(",")} reclaimed")
    val present: Set[String] = paths(Files.walk(Paths.get(root)))(_
      .flatMap(p => Option(p.getFileName).map(_.toString))
      .filter(_.startsWith("_batch_id="))
      .toSet)
    val missing = live.filterNot(id => present(s"_batch_id=$id"))
    require(missing.isEmpty,
      s"snapshot $asOf lost batch dirs ${missing.mkString(",")} (no tombstone)")
    spark.read.parquet(root).filter(col("_batch_id").isin(live: _*))
  }

  /** Reclaim the data files of every DEAD snapshot (committed but
    * replaced by a compaction). Split from `compact` exactly as
    * Iceberg splits rewrite_data_files from expire_snapshots: until
    * expiry runs, `readAsOf` can time-travel to pre-compaction
    * snapshots; after it, those reads fail loudly. Safe at any time —
    * readers resolve state from manifests, never directory listings.
    */
  def expireSnapshots(): Unit = {
    val dead = snapshots().toSet -- liveBatches().toSet
    if (dead.isEmpty) return
    // tombstone FIRST, delete after: a crash or a failed per-path
    // delete can leave a dead batch with a partial dir set, and
    // readAsOf must refuse such a snapshot rather than return the
    // surviving subset as if it were the whole history
    Files.createDirectories(manifestDir)
    // default open options (CREATE + TRUNCATE_EXISTING) make a rewrite
    // of an existing marker an idempotent no-op
    dead.foreach(id => Files.write(expiredMarker(id), Array.emptyByteArray))
    // exact path-SEGMENT match: a substring test would make
    // "_batch_id=1" also hit "_batch_id=100" (a live snapshot!)
    val deadDirs = dead.map(id => s"_batch_id=$id")
    paths(Files.walk(Paths.get(root)))(_
      .filter(p => p.iterator().asScala.exists(seg => deadDirs(seg.toString)))
      .toList)
      .reverse
      .foreach(p => try Files.deleteIfExists(p) catch { case _: Exception => })
  }

  /** Compact the small per-batch files (THE streaming-sink pathology at
    * scale: one tiny file set per micro-batch) into one consolidated
    * snapshot. Iceberg rewrite-files semantics:
    *  1. the live batches' rows are rewritten under a fresh
    *     `_batch_id = compactionId` partition (dynamic overwrite of
    *     partitions owned solely by this compaction — never touches
    *     live partitions, and a retried crash-recovery run replaces
    *     rather than duplicates a partial earlier write);
    *  2. the ATOMIC manifest rename is the commit point — it records
    *     `replaces:[..]`, flipping readers to the consolidated files in
    *     one step (a crash before it leaves the old snapshots live and
    *     the new files unreferenced/invisible);
    *  3. replaced data files are NOT deleted here — `expireSnapshots`
    *     reclaims them separately (Iceberg's rewrite_data_files vs
    *     expire_snapshots split), so `readAsOf` can still time-travel
    *     to pre-compaction snapshots until expiry runs.
    * `compactionId` must be larger than every live batch id.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, compactionId: Long): Unit = {
    if (committed(compactionId)) return
    val live = liveBatches()
    require(live.forall(_ < compactionId),
      s"compactionId $compactionId must exceed every live batch id")
    if (live.size <= 1) return // nothing worth consolidating
    // hash-repartition on the partition columns: every logical
    // partition's rows land in one task -> one consolidated file
    val df = spark.read.parquet(root)
      .filter(col("_batch_id").isin(live: _*))
      .drop("_batch_id")
      .repartition(partitionCols.map(col): _*)
    // dynamic partition OVERWRITE, not append: every partition written
    // here is solely owned by this compactionId, so a retry after a
    // crash between the parquet write and the manifest rename replaces
    // the orphaned files instead of appending the live rows a second
    // time — the same idempotence contract replacePartitions gives
    // micro-batches
    commitManifest(compactionId, Some(live), writeBatch(df, compactionId))
  }
}

object IcebergLikeTable {

  /** Rows per partition-value tuple, folded as the write's rows pass by:
    * the manifest's per-partition counts without a separate count job.
    */
  private object PartitionRows
      extends Aggregator[Seq[String], Map[Seq[String], Long], Map[Seq[String], Long]] {
    def zero: Map[Seq[String], Long] = Map.empty
    def reduce(b: Map[Seq[String], Long], key: Seq[String]): Map[Seq[String], Long] =
      b.updated(key, b.getOrElse(key, 0L) + 1L)
    def merge(a: Map[Seq[String], Long], b: Map[Seq[String], Long]): Map[Seq[String], Long] =
      b.foldLeft(a) { case (m, (key, n)) => m.updated(key, m.getOrElse(key, 0L) + n) }
    def finish(b: Map[Seq[String], Long]): Map[Seq[String], Long] = b
    def bufferEncoder = ExpressionEncoder[Map[Seq[String], Long]]()
    def outputEncoder = ExpressionEncoder[Map[Seq[String], Long]]()
  }

  private val partitionRows = udaf(PartitionRows, ExpressionEncoder[Seq[String]]())
}
