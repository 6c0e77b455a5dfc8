package graft.operators

import java.sql.Timestamp
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.model.Turn

/** Slowly-changing evidence dimension (north rule: "broadcast /
  * stream-stream stateful join annotates turns against a slowly-
  * changing evidence dimension").
  *
  * The scalable realization is a VERSIONED broadcast: each dimension
  * snapshot (an SCD-2 effective-dated version) is compiled into its own
  * match index; a turn is annotated against the snapshot effective at
  * its EVENT TIME (binary search over version epochs) — so annotation
  * stays map-only and deterministic for a given input stream +
  * dimension history, while the dimension can change under a running
  * stream (re-broadcast per micro-batch is the streaming deployment;
  * foreachBatch naturally picks up a refreshed broadcast).
  *
  * A true stream-stream interval join would shuffle the 10^12-turn fact
  * stream against dimension updates; with a knowledge-base-sized
  * dimension that is strictly worse — documented trade. For the regime
  * where the dimension is NOT broadcast-small, `annotateStreamStream`
  * implements the real stream-stream stateful join (watermarked
  * interval join on gene_key, row-for-row identical output).
  */
/** One per-gene effective-dated dimension version — the row shape a
  * dimension-change stream carries (valid over [valid_from, valid_to)).
  */
final case class DimVersionRow(gene_key: String, epoch_ms: Long,
    valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp)

final case class VersionedDimIndex(epochsMs: Array[Long], versions: Array[DimIndex]) {
  require(epochsMs.length == versions.length && epochsMs.nonEmpty)
  require(epochsMs.zip(epochsMs.tail).forall { case (a, b) => a < b },
    "epochs must be strictly increasing")

  /** The dimension version effective at `tsMillis`: the last epoch
    * <= ts; before the first epoch the first version applies (the
    * reference semantics of "the knowledge base as loaded").
    */
  def at(tsMillis: Long): DimIndex = {
    var lo = 0; var hi = epochsMs.length - 1
    if (tsMillis <= epochsMs(0)) return versions(0)
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (epochsMs(mid) <= tsMillis) lo = mid else hi = mid - 1
    }
    versions(lo)
  }
}

object VersionedDim {

  /** Compile effective-dated dimension snapshots into a versioned
    * index. Each snapshot is (epochMs, flat evidence DataFrame).
    */
  def build(spark: SparkSession,
            snapshots: Seq[(Long, DataFrame)],
            ctCfg: CtConfig,
            selectCt: Either[String, Seq[String]] = Left("highest")): Broadcast[VersionedDimIndex] = {
    val sorted = snapshots.sortBy(_._1)
    val idx = VersionedDimIndex(
      sorted.map(_._1).toArray,
      sorted.map { case (_, df) => DimIndex.build(spark, df, ctCfg, selectCt) }.toArray)
    spark.sparkContext.broadcast(idx)
  }

  /** Map-only annotation against the event-time-effective version. */
  def annotate(turns: Dataset[Turn],
               bc: Broadcast[VersionedDimIndex]): Dataset[Annotation] = {
    import turns.sparkSession.implicits._
    turns.mapPartitions { it =>
      val vidx = bc.value
      it.map(t => MatchKernel.annotateTurn(t, vidx.at(t.ts.getTime)))
    }
  }

  /** Per-gene effective-dated version-interval rows derived from
    * global snapshot epochs: each epoch's validity closes at the next
    * epoch; the last closes at `horizonMs` (a streaming producer emits
    * the closure row on supersession). This is the wire shape a
    * dimension-CHANGE stream carries.
    */
  def versionRows(epochsMs: Seq[Long], genes: Seq[String],
                  horizonMs: Long): Seq[DimVersionRow] = {
    val es = epochsMs.sorted
    require(es.nonEmpty && horizonMs > es.last)
    val bounds = es.zip(es.tail :+ horizonMs)
    for (g <- genes; (from, until) <- bounds)
      yield DimVersionRow(g, from,
        new java.sql.Timestamp(from), new java.sql.Timestamp(until))
  }

  /** TRUE stream-stream SCD join — for the regime where the dimension
    * is NOT broadcast-small (per-gene evidence too large to compile
    * into one broadcast): dimension CHANGES arrive as their own stream
    * of per-gene validity intervals; turns inner-join on gene_key with
    * the event-time range condition
    * `valid_from <= ts < valid_to AND ts < valid_from + maxValidity`.
    * Both sides are watermarked, and the maxValidity bound is what
    * lets Spark's StreamingSymmetricHashJoin purge version-side state
    * (without it a version row could match arbitrarily-future turns
    * and state would grow forever) — callers must close every version
    * within `maxValidity` of its start.
    *
    * The joined row resolves WHICH dimension version annotates each
    * turn; the kernel then runs against that version, so the output is
    * row-for-row identical to the broadcast `annotate` whenever the
    * version stream covers the turns (pinned in VersionedDimSpec).
    * The broadcast path stays the default for knowledge-base-sized
    * dimensions (see the class Scaladoc trade note).
    */
  def annotateStreamStream(turns: Dataset[Turn],
                           versions: Dataset[DimVersionRow],
                           bc: Broadcast[VersionedDimIndex],
                           watermark: String = "10 minutes",
                           maxValidity: String = "365 days"): Dataset[Annotation] = {
    import turns.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    val t = turns
      .withColumn("gene_key", upper(substring_index(col("text"), " ", 1)))
      .withWatermark("ts", watermark)
      .alias("t")
    val v = versions.toDF()
      .withColumnRenamed("gene_key", "v_gene")
      .withWatermark("valid_from", watermark)
      .alias("v")
    t.join(v,
        col("t.gene_key") === col("v.v_gene") &&
        col("t.ts") >= col("v.valid_from") &&
        col("t.ts") < col("v.valid_to") &&
        col("t.ts") < col("v.valid_from") + expr(s"INTERVAL $maxValidity"))
      .select(col("t.conv_id"), col("t.turn_idx"), col("t.role"),
        col("t.text"), col("t.tool"), col("t.ts"), col("v.epoch_ms"))
      .as[(String, Int, String, String, String, Timestamp, Long)]
      .mapPartitions { it =>
        val vidx = bc.value
        it.map { case (c, i, r, x, tool, ts, ep) =>
          MatchKernel.annotateTurn(Turn(c, i, r, x, tool, ts), vidx.at(ep))
        }
      }
  }

  /** AS-OF join: attach to each event the LATEST dimension row with
    * dim ts <= event ts for the same key — the point-in-time lookup
    * (event against the version effective at its time) as a GENERIC
    * relational operator, for dimensions too large to broadcast as a
    * VersionedDimIndex.
    *
    * Spark-first formulation: NO join at all. Both sides union into
    * one tagged stream; ONE hash exchange on the key and one sort by
    * (ts, side, ordCol) let `last(…, ignoreNulls)` carry each
    * dimension attribute forward to the events that follow it. Work
    * is one sorted run per key — no range-join quadratic blowup, no
    * per-event binary search structure to build, and a hot key
    * degrades to a single sorted scan, never a cross product.
    *
    * Tie rules: a dimension row AT an event's exact ts applies to it
    * (as-of is <=, the dimension side sorts first); among equal-ts
    * dimension rows the highest `ordCol` wins. Events with no
    * preceding dimension row keep NULL attributes (left semantics —
    * exactly DuckDB's ASOF LEFT JOIN, which is what q93's oracle
    * uses). Caveat: a NULL in a dimension attribute is carried OVER
    * (ignoreNulls) — encode explicit "cleared" states with sentinels,
    * not NULLs.
    *
    * SKEW (the r5 `weak` finding): window functions have no partial
    * aggregation, so the single-window form sorts a hot key's ENTIRE
    * timeline in one task. Above `maxSingleWindowRows` the operator
    * switches to a two-pass TIME-BUCKETED carry-forward: the window
    * partitions by (key, time bucket) — a hot key's timeline splits
    * across buckets — and each bucket's leading events resolve
    * against a per-(key, bucket) carry-in relation (the latest
    * preceding bucket tail, one row per (key, bucket) — the second
    * window is bounded by the bucket count per key, never the row
    * count). Output is row-identical to the single-window form
    * (VersionedDimSpec parity pin). The regime probe is ONE
    * partial-aggregated pass (count + ts range) that also supplies
    * the bucket width, plus — for inputs past the row threshold — a
    * per-key skew count (`SkewProbe.sampled`: exact below 2^16, 1/256
    * row-sampled above), so LARGE-BUT-UNIFORM inputs
    * keep the cheaper single-window plan and only a key estimated
    * above `maxKeyRows` engages bucketing (`maxKeyRows = 0` skips the
    * skew probe and buckets every over-threshold input); `nBuckets`
    * forces a regime for tests/benches (1 = single window, >1 = that
    * many buckets, 0 = probe).
    */
  def asofJoin(events: DataFrame, dim: DataFrame, keyCol: String,
               tsCol: String, ordCol: String,
               valCols: Seq[String], nBuckets: Int = 0,
               maxSingleWindowRows: Long = 1L << 22,
               maxKeyRows: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(valCols.nonEmpty, "asofJoin needs at least one value column")
    require(nBuckets >= 0, "nBuckets must be >= 0")
    val clash = events.columns.toSet.intersect(valCols.toSet)
    require(clash.isEmpty,
      s"events already carry value column(s): ${clash.mkString(", ")}")
    val evStruct = struct(events.columns.map(col).toIndexedSeq: _*)
    val evSide = events.select(
      Seq(col(keyCol).as("_k"), col(tsCol).as("_ts"), lit(1).as("_side"),
        lit(null).cast(dim.schema(ordCol).dataType).as("_ord"),
        evStruct.as("_ev")) ++
        valCols.map(v => lit(null).cast(dim.schema(v).dataType).as(v)): _*)
    // NULL-key and NULL-ts dimension rows can never match in SQL asof
    // semantics (NULL never equi-joins; dim.ts <= ev.ts is never true
    // for NULL ts) — but the window GROUPS null keys and sorts null
    // ts FIRST (poisoning the whole timeline), so both drop here;
    // NULL-key events then see an empty timeline and keep NULL
    // attributes, exactly the SQL result
    val dimSide = dim
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull).select(
      Seq(col(keyCol).as("_k"), col(tsCol).as("_ts"), lit(0).as("_side"),
        col(ordCol).as("_ord"),
        lit(null).cast(evSide.schema("_ev").dataType).as("_ev")) ++
        valCols.map(col): _*)
    val union = evSide.unionByName(dimSide)
    // monotone numeric image of the timeline for bucketing (timestamp
    // casts to epoch seconds, dates through timestamp — any monotone
    // image works: bucket assignment only needs order preservation and
    // equal-ts cohesion). Types without a safe numeric image keep the
    // single-window plan unconditionally (the pre-r6 operator only
    // required orderability; probing must not narrow that contract).
    import org.apache.spark.sql.types._
    val tsType = evSide.schema("_ts").dataType
    val tslOpt: Option[org.apache.spark.sql.Column] = tsType match {
      case TimestampType | TimestampNTZType => Some(col("_ts").cast("long"))
      case DateType => Some(col("_ts").cast("timestamp").cast("long"))
      case _: NumericType => Some(col("_ts").cast("long"))
      case _ => None
    }

    def singleWindow: DataFrame = {
      val w = Window.partitionBy(col("_k"))
        .orderBy(col("_ts").asc, col("_side").asc, col("_ord").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val carried = union
        .select(Seq(col("_side"), col("_ev")) ++
          valCols.map(v => last(col(v), ignoreNulls = true).over(w).as(v)): _*)
      carried.filter(col("_side") === 1)
        .select(events.columns.map(c => col(s"_ev.$c").as(c)).toIndexedSeq ++
          valCols.map(col): _*)
    }

    def bucketed(lo: Long, hi: Long, nb: Long): DataFrame = {
      val tsl = tslOpt.get // callers guard: bucketed needs the image
      val width = ((hi - lo) / nb + 1L).max(1L)
      val withB = union.withColumn("_b", floor((tsl - lo) / width))
      // per-(key, bucket) carry window over the bucketed union — a hot
      // key's timeline splits across its buckets
      val wB = Window.partitionBy(col("_k"), col("_b"))
        .orderBy(col("_ts").asc, col("_side").asc, col("_ord").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val carried = withB
        .select(Seq(col("_k"), col("_b"), col("_side"), col("_ev")) ++
          valCols.map(v => last(col(v), ignoreNulls = true).over(wB).as(v)): _*)
      // bucket tails — each column's last non-null value within the
      // bucket — via a PARTIAL-AGGREGATED max_by pass (a second
      // map-side-combined scan of the union; a null value carries a
      // null ordering key, which max_by ignores, so this is exactly
      // the per-column last-non-null the window's closing row holds).
      // Cheaper than persisting the whole windowed relation just to
      // pluck its closing rows.
      val ordKey = struct(col("_ts"), col("_side"), col("_ord"))
      val tailAggs = valCols.map(v =>
        max_by(col(v), when(col(v).isNotNull, ordKey)).as(s"_t_$v"))
      val tails = withB.groupBy(col("_k"), col("_b"))
        .agg(tailAggs.head, tailAggs.tail: _*)
      // carry-in per (key, bucket): last non-null tail value over
      // STRICTLY earlier buckets — one row per (key, bucket), so this
      // window is bounded by the bucket count, never the data
      val wIn = Window.partitionBy(col("_k")).orderBy(col("_b").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val carryIn = tails.select(Seq(col("_k"), col("_b")) ++
        valCols.map(v =>
          last(col(s"_t_$v"), ignoreNulls = true).over(wIn).as(s"_in_$v")): _*)
      // leading events fill from the carry-in; the join key is the
      // window's own partitioning, so only the tiny carry-in side
      // exchanges
      carried.filter(col("_side") === 1)
        .join(carryIn, Seq("_k", "_b"), "left")
        .select(events.columns.map(c => col(s"_ev.$c").as(c)).toIndexedSeq ++
          valCols.map(v => coalesce(col(v), col(s"_in_$v")).as(v)): _*)
    }

    if (nBuckets == 1 || tslOpt.isEmpty) singleWindow
    else if (nBuckets > 1) {
      val tsl = tslOpt.get
      val r = union.agg(min(tsl), max(tsl)).head()
      if (r.isNullAt(0)) singleWindow
      else bucketed(r.getLong(0), r.getLong(1), nBuckets.toLong)
    } else {
      // regime probe: one partial-aggregated scan over the NARROW
      // (key, ts) projection gives the row count and the ts range;
      // small inputs keep the one-exchange single-window plan (and pay
      // nothing but this probe — the probe is an eager action, the
      // price of a data-dependent regime choice)
      val tsl = tslOpt.get
      val r = union.select(col("_k"), col("_ts"), col("_ord"), col("_side"))
        .agg(count(lit(1)), min(tsl), max(tsl)).head()
      val n = r.getLong(0)
      if (n <= maxSingleWindowRows || r.isNullAt(1)) singleWindow
      else if (maxKeyRows > 0 && !probeSkewed(union, maxKeyRows))
        // large but uniform: the single sorted run per key is cheaper
        // than the bucketed form's extra tails pass + carry-in join
        // (measured ~1.5x at 32M uniform rows) — only a genuinely hot
        // key pays for the bucketed regime
        singleWindow
      else {
        // bucket count tracks the shuffle parallelism so a 100%-hot
        // key spreads across ~8 tasks' worth of buckets; clamped so
        // the carry-in relation stays small per key
        val p = SkewProbe.shufflePartitions(events.sparkSession)
        bucketed(r.getLong(1), r.getLong(2), (8L * p).min(4096L).max(2L))
      }
    }
  }

  /** Skew probe for large as-of inputs (the `Components.roundHotKeys`
    * probe, `SkewProbe.sampled`): does the largest single key's row
    * count exceed `maxKeyRows`? Exact below 2^16; above, estimated from
    * a row-hash sample against HALF the bound, so borderline keys err
    * toward the safe (bucketed) regime. One scan + a tiny aggregation,
    * paid only by inputs already past `maxSingleWindowRows`.
    */
  private def probeSkewed(union: DataFrame, maxKeyRows: Long): Boolean = {
    import org.apache.spark.sql.functions._
    val (base, cut) = SkewProbe.sampled(union,
      Seq(col("_k"), col("_ts"), col("_ord"), col("_side")), maxKeyRows)
    val top = base.groupBy(col("_k")).agg(count(lit(1)).as("_c"))
      .agg(max(col("_c"))).head()
    !top.isNullAt(0) && top.getLong(0) > cut
  }
}
