package graft.streaming

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.model.Turn
import graft.operators.{Annotation, DimIndex, MatchKernel}
import graft.plans.IcebergLikeTable

/** Structured-streaming wrap of the match pipeline (north rule):
  * watermark -> stateful dedup -> explicit conv_id-hash repartition ->
  * map-only broadcast annotation -> (a) per-turn append sink,
  * (b) watermark-bounded windowed tier rollups, (c) per-conversation
  * session automaton via flatMapGroupsWithState.
  *
  * Determinism contract (BASELINE.json north_star): for the same input
  * stream and the same watermark, output rows are identical — late rows
  * beyond the watermark are dropped deterministically, duplicates within
  * the watermark are dropped by key (conv_id, turn_idx), and all
  * emitted rows carry explicit ordering keys.
  */
object StreamingPipeline {

  final case class StreamConfig(
      watermark: String = "10 minutes",
      sessionGapMs: Long = 30 * 60 * 1000L,
      tierWindow: String = "1 hour",
      partitions: Int = 32)

  /** Per-conversation session summary emitted by the automaton on
    * event-time session close (the streaming analog of the reference's
    * "one input file = one batch" unit, SURVEY.md §2.11).
    */
  final case class SessionSummary(
      conv_id: String,
      session_start: Timestamp,
      session_end: Timestamp,
      n_turns: Int,
      n_tier_1: Int, n_tier_1b: Int, n_tier_2: Int, n_tier_3: Int, n_tier_4: Int,
      top_tier: String)

  /** Bounded per-conversation automaton state: counts only, never the
    * raw turns — state size is O(1) per conversation regardless of how
    * hot it is.
    */
  final case class ConvState(
      sessionStart: Long, sessionEnd: Long, nTurns: Int,
      t1: Int, t1b: Int, t2: Int, t3: Int, t4: Int)

  /** Broadcast-deref holder for UDF closures: `bc.value` inside a UDF
    * body would re-read the SoftReference-backed broadcast PER ROW
    * (the GC-contention pathology MatchKernel.annotate documents); a
    * transient lazy field derefs once per deserialized closure.
    */
  private final class KernelHolder(bc: Broadcast[DimIndex]) extends Serializable {
    @transient lazy val idx: DimIndex = bc.value
  }

  /** (a) Per-turn annotation stream, in its one operator order:
    * ONE watermark on `ts`, then the stateful dedup on
    * (conv_id, turn_idx), then the explicit conv_id-hash repartition
    * (north rule), then the broadcast kernel. The watermark and the
    * dedup run on the narrow `Turn` rows (roughly half the bytes of an
    * `Annotation`), so the dedup exchange and the state store carry
    * Turn-sized payloads and the kernel runs on the post-dedup
    * survivors only. The kernel is applied as an UNTYPED UDF
    * projection that keeps the original `ts` attribute in the output
    * row — a typed `.map` would strip the event-time marker, and Spark
    * refuses a new watermark after a stateful operator, so this
    * projection trick is what lets the downstream windowed aggregate
    * and session automaton share the one watermark (StreamingSpec pins
    * a windowed rollup over this stream).
    *
    * The name records an older annotate-first order that is gone; it
    * stays because the benchmark harness (`perfbench`) calls it.
    */
  def annotationsDedupFirst(turns: Dataset[Turn], bc: Broadcast[DimIndex],
                            cfg: StreamConfig): Dataset[Annotation] = {
    import turns.sparkSession.implicits._
    val holder = new KernelHolder(bc)
    val annUdf = udf((conv_id: String, turn_idx: Int, role: String,
                      ts: Timestamp, text: String, tool: String) =>
      MatchKernel.annotateTurn(
        Turn(conv_id, turn_idx, role, text, tool, ts), holder.idx))
    turns
      .withWatermark("ts", cfg.watermark)
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")
      .repartition(cfg.partitions, col("conv_id"))
      .select(col("ts"), annUdf(col("conv_id"), col("turn_idx"), col("role"),
        col("ts"), col("text"), col("tool")).as("a"))
      // project the struct open but keep the ORIGINAL ts attribute —
      // `a.ts` would be a fresh attribute without the event-time marker
      .select(col("a.conv_id").as("conv_id"), col("a.turn_idx").as("turn_idx"),
        col("a.role").as("role"), col("ts"),
        col("a.gene_key").as("gene_key"), col("a.data_type").as("data_type"),
        col("a.tier_1").as("tier_1"), col("a.tier_1b").as("tier_1b"),
        col("a.tier_2").as("tier_2"), col("a.tier_3").as("tier_3"),
        col("a.tier_4").as("tier_4"), col("a.highest_tier").as("highest_tier"),
        col("a.ds_tier_1").as("ds_tier_1"), col("a.ds_tier_1b").as("ds_tier_1b"),
        col("a.ds_tier_2").as("ds_tier_2"), col("a.ds_tier_3").as("ds_tier_3"))
      .as[Annotation]
  }

  /** (b) Watermark-bounded windowed hash-aggregate: per-window
    * match-tier counts (north rule; reference analog: the per-batch
    * tier counters, Query_CIViCutils.py:449-459). Tumbling: the
    * sliding form with slide = window, which is Spark's own
    * `window(ts, w)`.
    */
  def tierRollup(ann: Dataset[Annotation], cfg: StreamConfig): DataFrame =
    tierRollupSliding(ann, cfg, cfg.tierWindow)

  /** (b') Sliding-window variant of the rollup (north star: tumbling
    * AND sliding windows): each turn contributes to window/slide
    * overlapping windows.
    */
  def tierRollupSliding(ann: Dataset[Annotation], cfg: StreamConfig,
                        slide: String): DataFrame =
    ann.toDF()
      // the ingest watermark on `ts` propagates through the typed map;
      // redefining it here is disallowed since Spark 3.5
      .groupBy(window(col("ts"), cfg.tierWindow, slide),
        col("data_type"), col("highest_tier"))
      .agg(count(lit(1)).as("n_turns"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("data_type"), col("highest_tier"), col("n_turns"))

  /** (c') Built-in session-window rollup per conversation — the
    * declarative counterpart of the flatMapGroupsWithState automaton
    * (gap-based `session_window`, north star "session windows (gap on
    * ts)"). The automaton remains the stateful path (custom state,
    * emission control); this one feeds SQL-shaped consumers.
    */
  def sessionRollup(ann: Dataset[Annotation], cfg: StreamConfig): DataFrame =
    ann.toDF()
      .groupBy(session_window(col("ts"), s"${cfg.sessionGapMs / 1000} seconds"),
        col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        count(when(col("highest_tier") === "tier_1", 1)).as("n_tier_1"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("conv_id"), col("n_turns"), col("n_tier_1"))

  /** (c) The tier-resolution session automaton: flatMapGroupsWithState
    * keyed by conv_id with event-time timeout at session gap past the
    * newest seen turn. Emits one SessionSummary per closed session.
    */
  def sessionAutomaton(ann: Dataset[Annotation], cfg: StreamConfig): Dataset[SessionSummary] = {
    import ann.sparkSession.implicits._
    val streaming = ann.isStreaming

    def fsm(convId: String, rows: Iterator[Annotation],
            state: GroupState[ConvState]): Iterator[SessionSummary] = {
      def summarize(s: ConvState): SessionSummary = {
        val top =
          if (s.t1 > 0) "tier_1" else if (s.t1b > 0) "tier_1b"
          else if (s.t2 > 0) "tier_2" else if (s.t3 > 0) "tier_3" else "tier_4"
        SessionSummary(convId, new Timestamp(s.sessionStart),
          new Timestamp(s.sessionEnd), s.nTurns,
          s.t1, s.t1b, s.t2, s.t3, s.t4, top)
      }
      if (state.hasTimedOut) {
        val out = state.getOption.map(summarize).iterator
        state.remove()
        out
      } else {
        var s = state.getOption.getOrElse(ConvState(Long.MaxValue, 0L, 0, 0, 0, 0, 0, 0))
        val closed = Iterator.newBuilder[SessionSummary]
        // group iterators carry no ordering guarantee: sort this
        // micro-batch's rows by event time before gap detection
        for (a <- rows.toSeq.sortBy(a => (a.ts.getTime, a.turn_idx))) {
          val t = a.ts.getTime
          // gap larger than the session gap within the same group of
          // buffered rows closes the running session
          if (s.nTurns > 0 && t > s.sessionEnd + cfg.sessionGapMs) {
            closed += summarize(s)
            s = ConvState(Long.MaxValue, 0L, 0, 0, 0, 0, 0, 0)
          }
          s = ConvState(
            math.min(s.sessionStart, t), math.max(s.sessionEnd, t),
            s.nTurns + 1,
            s.t1 + (if (a.highest_tier == "tier_1") 1 else 0),
            s.t1b + (if (a.highest_tier == "tier_1b") 1 else 0),
            s.t2 + (if (a.highest_tier == "tier_2") 1 else 0),
            s.t3 + (if (a.highest_tier == "tier_3") 1 else 0),
            s.t4 + (if (a.highest_tier == "tier_4") 1 else 0))
        }
        // a row that passed the late filter (the previous trigger's
        // watermark) can still end a session the CURRENT watermark has
        // already closed: Spark rejects such a timeout, so emit the
        // summary now — what the timeout would do one trigger later
        val timeoutMs = s.sessionEnd + cfg.sessionGapMs
        if (streaming && timeoutMs <= state.getCurrentWatermarkMs()) {
          closed += summarize(s)
          state.remove()
        } else {
          state.update(s)
          state.setTimeoutTimestamp(timeoutMs)
        }
        closed.result()
      }
    }

    ann.groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fsm)
  }

  // ---------------------------------------------------------------------
  // Sequence-pattern CEP (MATCH_RECOGNIZE-lite)
  // ---------------------------------------------------------------------

  final case class Escalation(conv_id: String, turn_idx: Int,
      tier_rank: Int, from_rank: Int)
  /** `lastRanks` = the most recent runLen−1 finalized tier ranks,
    * newest first; `pending` = (tsMicros, turn_idx, rank) rows the
    * watermark has not yet passed (a within-watermark reorder across
    * micro-batches must not corrupt the sequence).
    */
  final case class EscState(lastUs: Long, lastIdx: Int,
      lastRanks: List[Int], pending: List[(Long, Int, Int)])

  /** Microsecond event time — a sequence detector must order at full
    * timestamp precision (millisecond truncation could invert
    * sub-millisecond turns; the q92 oracle orders by the full ts).
    */
  private def tsMicros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Tier-escalation pattern detector — the MATCH_RECOGNIZE-shaped
    * CEP operator over annotated turns: emit every turn whose last
    * `runLen` tiers are STRICTLY improving (rank strictly decreasing
    * turn-over-turn; rank = the canonical graft.model.Tiers.rank).
    * The SQL equivalent is a lag-window predicate
    * (rk < r1 < … < r_{runLen−1}), which is exactly what q92's oracle
    * replays.
    *
    * Ordering contract: a turn is FINALIZED into the sequence only
    * once the watermark passes its event time — until then it buffers
    * in state, so rows reordered ACROSS micro-batches within the
    * watermark finalize in correct (ts, turn_idx) order and the
    * stream output equals the batch run's. Only genuinely late rows
    * drop — ones at or before the finalized frontier, plus rows whose
    * event time the watermark itself has passed (Spark's stateful-
    * operator pre-filter removes those before the function runs).
    * State per conversation = the last runLen−1 finalized ranks plus
    * the pending buffer, which is HARD-BOUNDED at `maxPending` rows
    * (the r5 `weak` fix — watermark-delay × turn rate alone let one
    * hot conversation put ~10% of every in-flight batch into a single
    * RocksDB value): when a conversation exceeds the cap, the OLDEST
    * overflow rows force-finalize immediately in (ts, turn_idx)
    * order — deterministic, and for in-order arrivals output-identical
    * to the uncapped operator (the forced prefix would have finalized
    * first anyway); what the cap sacrifices is reorder tolerance
    * BEYOND maxPending buffered turns — a row arriving later but
    * ordering before the forced frontier drops as late (pinned in
    * StreamingSpec). Quiet conversations flush via event-time
    * timeout; state evicts one session gap after the newest finalized
    * turn. Batch mode = one sorted pass per conversation from empty
    * state — pinned equal to the streaming run in StreamingSpec.
    */
  def escalationsStream(ann: Dataset[Annotation], cfg: StreamConfig,
      runLen: Int = 3, maxPending: Int = 1 << 16): Dataset[Escalation] = {
    import ann.sparkSession.implicits._
    require(runLen >= 2, "runLen must be >= 2")
    require(maxPending >= 1, "maxPending must be >= 1")
    val streaming = ann.isStreaming

    def fsm(convId: String, rows: Iterator[Annotation],
            state: GroupState[EscState]): Iterator[Escalation] = {
      val wmUs =
        if (!streaming) Long.MaxValue
        else if (state.getCurrentWatermarkMs() > 0)
          state.getCurrentWatermarkMs() * 1000L
        else 0L
      var st = state.getOption.getOrElse(
        EscState(Long.MinValue, Int.MinValue, Nil, Nil))
      if (!state.hasTimedOut) {
        val add = rows.map(a => (tsMicros(a.ts), a.turn_idx,
            graft.model.Tiers.rank.getOrElse(a.highest_tier, 4)))
          .filter { case (t, i, _) =>
            t > st.lastUs || (t == st.lastUs && i > st.lastIdx) }
          .toList
        if (add.nonEmpty) st = st.copy(pending = add ::: st.pending)
      }
      // finalize everything the watermark has passed, in (ts, idx)
      // order; rows AT the watermark hold (equal-time peers may still
      // arrive). ONE sort serves both the watermark split (ts < wmUs
      // is a prefix of the (ts, idx) order) and the overflow policy:
      // anything beyond maxPending force-finalizes oldest-first, so
      // the held suffix never exceeds the cap.
      val sorted = st.pending.sortBy(x => (x._1, x._2))
      val nReady = sorted.segmentLength(_._1 < wmUs, 0)
        .max(sorted.length - maxPending)
      val (ready, hold) = sorted.splitAt(nReady)
      val out = List.newBuilder[Escalation]
      var lastUs = st.lastUs
      var lastIdx = st.lastIdx
      var ranks = st.lastRanks
      for ((t, i, rk) <- ready) {
        if (t > lastUs || (t == lastUs && i > lastIdx)) {
          val window = rk :: ranks // newest first
          if (window.length >= runLen) {
            val w = window.take(runLen)
            // newest-first strictly ascending ⇔ strictly improving in
            // time order
            if (w.zip(w.tail).forall { case (nw, older) => nw < older })
              out += Escalation(convId, i, rk, w.last)
          }
          lastUs = t
          lastIdx = i
          ranks = window.take(runLen - 1)
        }
      }
      st = EscState(lastUs, lastIdx, ranks, hold)
      if (!streaming) {
        state.update(st) // single batch pass; value unused afterwards
      } else if (hold.isEmpty && lastUs != Long.MinValue &&
          wmUs > lastUs + cfg.sessionGapMs * 1000L) {
        state.remove()
      } else {
        state.update(st)
        val nextMs =
          if (hold.nonEmpty) hold.map(_._1).min / 1000L + 1L
          else if (lastUs != Long.MinValue)
            lastUs / 1000L + cfg.sessionGapMs
          else Long.MinValue
        state.setTimeoutTimestamp(
          math.max(nextMs, state.getCurrentWatermarkMs() + 1))
      }
      out.result().iterator
    }

    val wm = if (streaming) ann.withWatermark("ts", cfg.watermark) else ann
    wm.groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fsm)
  }

  // ---------------------------------------------------------------------
  // Streaming near-duplicate detection
  // ---------------------------------------------------------------------

  final case class DocEvent(doc_id: Long, text: String, ts: Timestamp)

  final case class NearDupPair(doc_a: Long, doc_b: Long, hamming: Int,
                               ts: Timestamp)

  final case class ChunkRow(doc_id: Long, sig: Long, ts: Timestamp,
                            chunk: Int, v: Long)

  /** Bounded per-bucket state: the most recent `maxPerBucket`
    * (doc_id, sig, tsMillis) triples — never the raw texts.
    */
  final case class BucketState(entries: List[(Long, Long, Long)])

  /** STREAMING exact content dedup: keep the first-arriving document
    * per normalized-content fingerprint within the watermark horizon
    * (the streaming member of the exact-dedup family; batch
    * counterpart: the q06 fingerprint groupBy). The state key is the
    * 8-byte `TextOps.fingerprint64` (lower/trim/whitespace-collapse),
    * so re-crawls and formatting variants of the same text are
    * suppressed while state stays 8 bytes per distinct document —
    * the shape that survives a 10^12-doc stream.
    */
  def dedupByContent(docs: Dataset[DocEvent],
                     cfg: StreamConfig): Dataset[DocEvent] = {
    import docs.sparkSession.implicits._
    val withFp = docs
      .withColumn("_fp", graft.operators.TextOps.fingerprint64(col("text")))
    val kept =
      if (docs.isStreaming)
        withFp.withWatermark("ts", cfg.watermark)
          .dropDuplicatesWithinWatermark("_fp")
          .drop("_fp")
      else
        // batch equivalent of first-arrival-wins: min_by event time
        // (doc_id tiebreak), deterministic under any partitioning
        withFp.groupBy(col("_fp"))
          .agg(min_by(struct(docs.columns.toIndexedSeq.map(col): _*),
            struct(col("ts"), col("doc_id"))).as("_d"))
          .select(col("_d.*"))
    kept.as[DocEvent]
  }

  /** One crawl event of a streaming URL-dedup pass. */
  final case class UrlEvent(doc_id: Long, url: String, ts: Timestamp)

  /** STREAMING URL dedup: keep the first-arriving event per
    * DEDUP-CANONICAL URL (`UrlOps.normalizeUrl`: case, scheme, www,
    * query, fragment noise all collapse) within the watermark horizon
    * — the crawl-frontier "have I fetched this already" pass. State
    * is one 8-byte xxhash of the canonical form per distinct URL,
    * never the URL string: the same bounded-state shape as
    * `dedupByContent`, sized for a 10^12-event crawl stream.
    * Batch-mode execution is the deterministic first-arrival
    * (min over (ts, doc_id)) on any partitioning.
    */
  def dedupByUrl(events: Dataset[UrlEvent],
                 cfg: StreamConfig): Dataset[UrlEvent] = {
    import events.sparkSession.implicits._
    val withK = events.withColumn("_k",
      xxhash64(graft.operators.UrlOps.normalizeUrl(col("url"))))
    val kept =
      if (events.isStreaming)
        withK.withWatermark("ts", cfg.watermark)
          .dropDuplicatesWithinWatermark("_k")
          .drop("_k")
      else
        withK.groupBy(col("_k"))
          .agg(min_by(struct(events.columns.toIndexedSeq.map(col): _*),
            struct(col("ts"), col("doc_id"))).as("_d"))
          .select(col("_d.*"))
    kept.as[UrlEvent]
  }

  /** A url event with its derived domain (the quota key). */
  final case class DomainEvent(domain: String, doc_id: Long, url: String,
                               ts: Timestamp)

  /** Per-domain admission counter for the streaming crawl quota. */
  final case class DomainQuota(admitted: Long)

  /** STREAMING per-domain admission cap (the crawl-budget control):
    * admit the first `maxPerDomain` events per host in event-time
    * arrival order — the streaming dual of `UrlOps.capPerDomain`
    * (which picks a deterministic md5-rank SAMPLE of a finished
    * corpus; this one respects arrival order, the frontier semantic).
    * The domain is derived with the same `UrlOps.host` Column as the
    * batch cap — one canonicalization definition, no drift. State is
    * ONE counter per domain (bounded by the domain universe, not the
    * event count) and never evicts: the quota is a lifetime budget.
    * Within a micro-batch the group iterator is sorted by
    * (ts, doc_id) — the session-automaton discipline — so admission
    * is deterministic; across batches the running count carries.
    * Batch-mode execution is one group pass from empty state,
    * identical to a first-N-per-domain (ts, doc_id) window rank.
    */
  def capPerDomainStream(events: Dataset[UrlEvent], cfg: StreamConfig,
                         maxPerDomain: Int): Dataset[DomainEvent] = {
    import events.sparkSession.implicits._
    require(maxPerDomain > 0, "maxPerDomain must be positive")
    val ord: Ordering[DomainEvent] =
      Ordering.by(r => (r.ts.getTime, r.doc_id))
    def fsm(domain: String, rows: Iterator[DomainEvent],
            state: GroupState[DomainQuota]): Iterator[DomainEvent] = {
      val n = state.getOption.map(_.admitted).getOrElse(0L)
      if (n >= maxPerDomain) Iterator.empty // quota spent: no heap, no state write
      else {
        val room = (maxPerDomain - n).toInt
        // bounded selection of the `room` earliest (ts, doc_id):
        // O(G log room) time, O(room) memory — a hot domain's
        // micro-batch slice is never materialized or fully sorted
        val heap = mutable.PriorityQueue.empty[DomainEvent](ord) // max-heap
        rows.foreach { r =>
          if (heap.size < room) heap.enqueue(r)
          else if (ord.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
        }
        val admitted = heap.dequeueAll.reverse // ascending (ts, doc_id)
        state.update(DomainQuota(n + admitted.size))
        admitted.iterator
      }
    }
    val withDom = events
      .withColumn("domain", graft.operators.UrlOps.host(col("url")))
      .as[DomainEvent]
    val wm = if (withDom.isStreaming)
      withDom.withWatermark("ts", cfg.watermark) else withDom
    wm.groupByKey(_.domain)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fsm)
  }

  /** One surviving paragraph of a streaming paragraph-dedup pass. */
  final case class ParaEvent(doc_id: Long, pos: Int, para: String,
                             ts: Timestamp)

  /** STREAMING paragraph-level dedup — the stream dual of
    * `TextOps.dedupParagraphs` (the Dolma boilerplate-killer): every
    * paragraph already seen within the watermark horizon is dropped;
    * survivors are emitted as (doc_id, pos, para) rows for the caller
    * to reassemble (per micro-batch: group by doc, concat in `pos`
    * order — documents arrive whole, so a doc's paragraphs never span
    * batches). State is ONE 8-byte xxhash per distinct paragraph
    * (dropDuplicatesWithinWatermark on the hash — never the text),
    * aged by the watermark: the same bounded-horizon semantic as
    * `dedupByContent`, at paragraph granularity.
    *
    * Batch-mode execution uses the deterministic first-arrival
    * (min_by event time, then (doc, pos)) — with uniform timestamps
    * this selects exactly what `TextOps.dedupParagraphs` keeps
    * (stream==batch pinned in StreamingSpec).
    */
  def dedupParagraphsStream(docs: Dataset[DocEvent], cfg: StreamConfig,
                            sep: String = "\n"): Dataset[ParaEvent] = {
    import docs.sparkSession.implicits._
    val paras = docs
      .select(col("doc_id"), col("ts"),
        posexplode(split(col("text"),
          java.util.regex.Pattern.quote(sep)))) // literal separator
      .toDF("doc_id", "ts", "pos", "para")
      .withColumn("_h", xxhash64(col("para")))
    val kept =
      if (docs.isStreaming)
        paras.withWatermark("ts", cfg.watermark)
          .dropDuplicatesWithinWatermark("_h")
      else
        paras.groupBy(col("_h"))
          .agg(min_by(struct(col("doc_id"), col("pos"), col("para"), col("ts")),
            struct(col("ts"), col("doc_id"), col("pos"))).as("_p"))
          .select(col("_p.*"))
    kept.select(col("doc_id"), col("pos"), col("para"), col("ts"))
      .as[ParaEvent]
  }

  /** STREAMING near-duplicate pair detection: the streaming member of
    * the dedup family (batch counterpart: NearDup.simhashNearDups).
    * Emits (doc_a, doc_b, hamming) for every pair of documents within
    * SimHash hamming distance `maxHamming` whose arrivals fall within
    * `retentionMs` of each other — the bounded-horizon semantic a
    * 10^12-doc stream needs (global all-history dedup is a batch job;
    * the stream suppresses the duplicates that actually cluster in
    * time: re-crawls, retries, template bursts).
    *
    * Shape: one-pass native simhash per doc (map-only), pigeonhole
    * chunk explode (a pair within the bound must agree on >=1 of
    * maxHamming+1 chunks), then flatMapGroupsWithState keyed by
    * (chunk, value) holding a BOUNDED recent-doc list per bucket.
    * Cross-bucket duplicate emission is eliminated WITHOUT a second
    * stateful stage: a pair is emitted only by the SMALLEST agreeing
    * chunk's bucket (both signatures are in hand when the pair meets,
    * so every bucket computes the same minimum — exactly-once per pair
    * by construction).
    *
    * Bounds, explicitly: per-bucket state is capped at `maxPerBucket`
    * entries (oldest dropped — the streaming analog of the batch
    * paths' `maxBucket` degenerate-bucket cap) and entries age out at
    * the current watermark or past `retentionMs`, whichever is
    * tighter — so the effective pairing horizon is
    * min(retentionMs, watermark delay): choose the watermark delay to
    * match the dedup horizon you want. A pair whose earlier doc was
    * evicted from the min-agreeing bucket is dropped; that is the
    * documented bounded-state trade, identical in spirit to the batch
    * cap.
    *
    * Executed on a batch Dataset (no watermark, no eviction), the
    * output equals `NearDup.simhashNearDups` row-for-row — pinned in
    * StreamingSpec and by the q39 DuckDB oracle.
    */
  def simhashNearDupPairs(docs: Dataset[DocEvent], cfg: StreamConfig,
                          maxHamming: Int = 3, maxPerBucket: Int = 64,
                          retentionMs: Long = 24L * 3600 * 1000): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    // batch-mode GroupState has no watermark and rejects timeout calls
    val streaming = docs.isStreaming

    def chunkOf(sig: Long, c: Int): Long =
      (sig >>> (c * chunkBits)) & ((1L << chunkBits) - 1)
    def minAgreeingChunk(a: Long, b: Long): Int = {
      var c = 0
      while (c < nChunks && chunkOf(a, c) != chunkOf(b, c)) c += 1
      c // < nChunks whenever hamming(a,b) <= maxHamming (pigeonhole)
    }

    def fsm(key: (Int, Long), rows: Iterator[ChunkRow],
            state: GroupState[BucketState]): Iterator[NearDupPair] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      // batch-mode GroupState throws on watermark access
      val wm = if (streaming && state.getCurrentWatermarkMs() > 0)
        state.getCurrentWatermarkMs() else Long.MinValue
      var entries = state.getOption.map(_.entries).getOrElse(Nil)
      val out = Iterator.newBuilder[NearDupPair]
      var newest = entries.headOption.map(_._3).getOrElse(Long.MinValue)
      // group iterators carry no ordering guarantee: process this
      // micro-batch in event-time arrival order so within-batch pairs
      // attribute ts to the LATER doc deterministically
      for (r <- rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))) {
        val t = r.ts.getTime
        newest = math.max(newest, t)
        val horizon = math.max(wm, newest - retentionMs)
        entries = entries.filter(_._3 >= horizon)
        for ((doc, sig, _) <- entries if doc != r.doc_id) {
          val d = java.lang.Long.bitCount(sig ^ r.sig)
          if (d <= maxHamming && minAgreeingChunk(sig, r.sig) == key._1)
            out += NearDupPair(math.min(doc, r.doc_id),
              math.max(doc, r.doc_id), d, r.ts)
        }
        // newest first; cap to the most recent maxPerBucket
        entries = ((r.doc_id, r.sig, t) :: entries).take(maxPerBucket)
      }
      state.update(BucketState(entries))
      if (streaming)
        state.setTimeoutTimestamp(math.max(newest + retentionMs,
          state.getCurrentWatermarkMs() + 1))
      out.result()
    }

    val sigs = docs.select(col("doc_id"), col("ts"),
      graft.operators.NearDup.simhash64(col("text")).as("sig"))
    val watermarked =
      if (docs.isStreaming) sigs.withWatermark("ts", cfg.watermark) else sigs
    val chunks = watermarked.select(col("doc_id"), col("sig"), col("ts"),
      explode(array((0 until nChunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sig"), c * chunkBits)
            .bitwiseAND(lit((1L << chunkBits) - 1)).as("v"))
      }: _*)).as("ck"))
      .select(col("doc_id"), col("sig"), col("ts"), col("ck.chunk"), col("ck.v"))
      .as[ChunkRow]
    chunks.groupByKey(r => (r.chunk, r.v))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fsm)
  }

  // -------------------------------------------------------------------
  // Burst detection (windowed trend CEP)
  // -------------------------------------------------------------------

  final case class TokenEvent(token: String, ts: Timestamp)
  /** `ws` = tumbling-window start in epoch seconds. */
  final case class Burst(token: String, ws: Long, cnt: Long, prev_cnt: Long)
  /** `open` = (windowStartSec, cnt) ascending; `lastWs`/`lastCnt` =
    * most recently closed window (MinValue sentinel = none yet).
    */
  final case class BurstState(open: List[(Long, Long)], lastWs: Long,
      lastCnt: Long)

  /** Streaming burst detector (Kleinberg-style trend CEP, one-level):
    * emits every CLOSED tumbling window in which a token's count
    * reaches `minCount` AND is at least `ratio`× its count in the
    * ADJACENT previous window — an absent adjacent window counts 0,
    * so a term appearing from nothing is the canonical burst. Exact
    * integer rule: `cnt >= ratio * prev_cnt`, no division.
    *
    * Scale shape: state per token is O(watermarkDelay / windowSec)
    * open-window counters plus the last closed window — independent
    * of stream length; tokens shard across the fMGWS shuffle by key.
    * Windows close IN ORDER as the watermark passes their end (quiet
    * tokens flush via event-time timeout), so the adjacency
    * comparison needs only O(1) history. Rows landing in a window
    * whose end the watermark has already passed are dropped — the
    * pipeline-wide late-data contract; state for a token is removed
    * once no adjacent window can still receive events. Batch-mode
    * execution is one group pass that closes every window — pinned
    * equal to the streaming run in StreamingSpec, and what q90's
    * oracle replays with a windowed count + lag.
    */
  def burstDetectStream(events: Dataset[TokenEvent], cfg: StreamConfig,
      windowSec: Long = 60L, minCount: Long = 5L,
      ratio: Long = 3L): Dataset[Burst] = {
    import events.sparkSession.implicits._
    require(windowSec > 0 && minCount >= 1 && ratio >= 1,
      "windowSec/minCount/ratio must be positive")
    val streaming = events.isStreaming
    val wMs = windowSec * 1000L

    def fsm(token: String, rows: Iterator[TokenEvent],
            state: GroupState[BurstState]): Iterator[Burst] = {
      val wm =
        if (!streaming) Long.MaxValue
        else if (state.getCurrentWatermarkMs() > 0) state.getCurrentWatermarkMs()
        else 0L
      var st = state.getOption.getOrElse(BurstState(Nil, Long.MinValue, 0L))
      if (!state.hasTimedOut) {
        val merged = mutable.TreeMap.empty[Long, Long]
        st.open.foreach { case (w, c) => merged.put(w, c) }
        var any = false
        rows.foreach { r =>
          val ws = Math.floorDiv(r.ts.getTime, wMs) * windowSec
          // late beyond the watermark: the window already closed (or
          // could have) — dropping is the deterministic choice
          if (!streaming || (ws + windowSec) * 1000L > wm) {
            merged.updateWith(ws) {
              case Some(c) => Some(c + 1L)
              case None => Some(1L)
            }
            any = true
          }
        }
        if (any) st = st.copy(open = merged.toList)
      }
      // close every open window whose end the watermark passed, in
      // ascending order — adjacency needs only the immediately
      // preceding closed window
      val out = List.newBuilder[Burst]
      var open = st.open
      var lastWs = st.lastWs
      var lastCnt = st.lastCnt
      while (open.nonEmpty && (open.head._1 + windowSec) * 1000L <= wm) {
        val (w, c) = open.head
        open = open.tail
        val prev = if (lastWs == w - windowSec) lastCnt else 0L
        if (c >= minCount && c >= ratio * prev) out += Burst(token, w, c, prev)
        lastWs = w
        lastCnt = c
      }
      st = BurstState(open, lastWs, lastCnt)
      if (!streaming) {
        state.update(st) // single batch pass; value unused afterwards
      } else if (open.isEmpty && lastWs != Long.MinValue &&
          wm > (lastWs + 2 * windowSec) * 1000L) {
        state.remove() // nothing can be adjacent to lastWs anymore
      } else {
        state.update(st)
        val next =
          if (open.nonEmpty) (open.head._1 + windowSec) * 1000L
          else if (lastWs != Long.MinValue) (lastWs + 2 * windowSec) * 1000L
          else wm + 1
        state.setTimeoutTimestamp(math.max(next, wm + 1))
      }
      out.result().iterator
    }

    val wm = if (streaming) events.withWatermark("ts", cfg.watermark)
      else events
    wm.groupByKey(_.token)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fsm)
  }

  final case class PackEvent(stratum: String, doc_id: Long, n_tok: Int,
      ts: Timestamp)
  final case class PackedDoc(stratum: String, doc_id: Long, n_tok: Int,
      bin: Long)
  final case class PackState(cumTokens: Long)

  /** STREAMING greedy sequential packing — the stateful counterpart of
    * Chunking.packBins: each stratum carries ONE running token count
    * across micro-batches, so bin assignment continues seamlessly as
    * the corpus streams in (bin = floor(preceding-cumulative / budget),
    * same greedy-overflow semantics as the batch operator). State is
    * a single Long per stratum — strata are language/source-sized, so
    * total state is O(#strata) regardless of corpus size, and nothing
    * ever needs eviction. Within a micro-batch, rows process in
    * (event time, doc_id) order — group iterators carry no ordering
    * guarantee, so each invocation BUFFERS its group before sorting.
    * That buffer is bounded by one stratum's rows in ONE micro-batch
    * (trigger-sized — the streaming deployment shape this operator
    * exists for), NOT by corpus size. Batch-mode execution buffers the
    * whole stratum in one task and exists for parity testing and
    * small corpora; a large BATCH corpus should use
    * `Chunking.packBins`, whose window function sorts with spill.
    * Batch-mode output equals `Chunking.packBins` row-for-row
    * (spec-pinned, and q54's oracle is q53's SQL).
    */
  def packBinsStream(docs: Dataset[PackEvent], cfg: StreamConfig,
                     budget: Int = 1024): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    def fsm(stratum: String, rows: Iterator[PackEvent],
            state: GroupState[PackState]): Iterator[PackedDoc] = {
      var cum = state.getOption.map(_.cumTokens).getOrElse(0L)
      val out = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).map { r =>
        val bin = cum / budget
        cum += r.n_tok
        PackedDoc(stratum, r.doc_id, r.n_tok, bin)
      }
      state.update(PackState(cum))
      out.iterator
    }
    val wm = if (docs.isStreaming)
      docs.withWatermark("ts", cfg.watermark) else docs
    wm.groupByKey(_.stratum)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fsm)
  }

  /** Hash buckets of `conv_id` in the annotation table's partition
    * key (data_type, conv_bucket).
    */
  private val SinkBuckets = 16

  /** Start the per-turn annotation sink: exactly-once via checkpoint +
    * idempotent partition replace keyed (data_type, conv bucket).
    */
  def startAnnotationSink(ann: Dataset[Annotation], table: IcebergLikeTable,
                          checkpoint: String): StreamingQuery = {
    ann.toDF()
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val withBucket = batch.withColumn("conv_bucket",
          pmod(hash(col("conv_id")), lit(SinkBuckets)))
          .withColumn("tiers_json", to_json(struct(
            col("tier_1"), col("tier_1b"), col("tier_2"), col("tier_3"))))
          .drop("tier_1", "tier_1b", "tier_2", "tier_3",
            "ds_tier_1", "ds_tier_1b", "ds_tier_2", "ds_tier_3")
        table.replacePartitions(withBucket, batchId)
        ()
      }
      .start()
  }

  /** Start the whole turn stream under AvailableNow: one annotation
    * stream feeding three queries, each with its own checkpoint under
    * `outRoot` —
    *  - "ann": the annotation sink into `annotations/` (an
    *    IcebergLikeTable partitioned by data_type and conv bucket),
    *    checkpoint `ckpt_ann/`;
    *  - "sess": the session automaton, parquet in `sessions/`,
    *    checkpoint `ckpt_sess/`;
    *  - "roll": the windowed tier rollup, parquet in `rollups/`,
    *    checkpoint `ckpt_roll/`.
    * Returns the named queries (started, not awaited) and the table.
    * Re-running with the same `outRoot` resumes from the checkpoints.
    */
  def start(turns: Dataset[Turn], bc: Broadcast[DimIndex], cfg: StreamConfig,
            outRoot: String): (Seq[(String, StreamingQuery)], IcebergLikeTable) = {
    val ann = annotationsDedupFirst(turns, bc, cfg)
    val table = new IcebergLikeTable(s"$outRoot/annotations",
      Seq("data_type", "conv_bucket"))
    def parquetSink(df: DataFrame, name: String, ckpt: String): StreamingQuery =
      df.writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", s"$outRoot/$ckpt")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$outRoot/$name")
        .start()
    val qAnn = startAnnotationSink(ann, table, s"$outRoot/ckpt_ann")
    val qSess = parquetSink(sessionAutomaton(ann, cfg).toDF(), "sessions", "ckpt_sess")
    val qRoll = parquetSink(tierRollup(ann, cfg), "rollups", "ckpt_roll")
    (Seq("ann" -> qAnn, "sess" -> qSess, "roll" -> qRoll), table)
  }

  /** Metrics listener: appends one JSON line per micro-batch progress
    * (rows/sec, batch duration, state rows) — the observable metrics
    * half of "per-partition lineage + metrics".
    */
  def attachMetricsListener(spark: org.apache.spark.sql.SparkSession,
                            outFile: String): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val line = s"""{"id":"${p.id}","batch":${p.batchId},""" +
          s""""inputRows":${p.numInputRows},"procRowsPerSec":${p.processedRowsPerSecond},""" +
          s""""durationMs":${Option(p.durationMs.get("triggerExecution")).getOrElse(0L)}}"""
        val path = java.nio.file.Paths.get(outFile)
        java.nio.file.Files.writeString(path, line + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
    })
  }
}
