package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pair sets — the step that
  * turns pairwise near-dup evidence (MinHash / SimHash / embedding /
  * exact-Jaccard pairs, all emitting (doc_a, doc_b)) into dedup
  * CLUSTERS, so exactly one canonical document survives per group of
  * mutual near-duplicates. `NearDup.dedupKeepFirst` is the one-pass
  * greedy variant (drop any doc with a smaller-id neighbor); it keeps
  * at most one doc per component but can over-drop on chains
  * (a–b, b–c drops both b and c even though a–c was never a pair).
  * Component-based dedup keeps exactly the component minimum.
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
  * MapReduce and Beyond", ACM SoCC 2014). Each round is two
  * shuffle-bounded passes (a min-aggregation and a self-join on node
  * keys, both payload-light: 16-byte edge rows), and the edge set
  * converges to a star forest in O(log² n) rounds REGARDLESS of
  * component diameter. That bound is the reason to prefer it over
  * plain min-label propagation at web scale: propagation needs
  * diameter rounds, and near-dup graphs contain long chains (gradual
  * template drift: v1≈v2, v2≈v3, … with v1 and vN sharing nothing).
  *
  * Scale shape: no step ever materializes a component member list or
  * an all-pairs join; every pass is groupBy(node).min or a node-keyed
  * equi-join. Per-round results are eagerly localCheckpoint'ed (plan
  * and lineage stay one round deep) with the checkpoint's internal
  * RDD held so superseded rounds' blocks are actually freed.
  */
object Components {

  /** Rounds the most recent `connectedComponents` call in the current
    * session's context took to converge (diagnostic only — benchmarks
    * report it).
    */
  def lastRounds: Int = graft.GraftContext.current.fold(0)(_.ccRounds)

  /** Free the cached edge-set blocks of every completed CC run in the
    * current session's context. Each run's final-round checkpoint
    * backs the DataFrame it returns, so it cannot be freed inside the
    * loop; the context holds the last 4 of them and evicts older
    * ones. Unlike a persisted Dataset, an unpersisted checkpoint RDD
    * is NOT lazily recomputable — the lineage was truncated — so call
    * this only where prior CC results have been fully consumed (the
    * Bench / Verify per-query boundary).
    */
  def releaseAll(): Unit = graft.GraftContext.current.foreach(_.releaseCheckpoints())

  /** (node, component) for every node appearing in `pairs`
    * (columns doc_a, doc_b); component = the minimum node id of the
    * node's connected component. Roots map to themselves.
    *
    * `maxIter` bounds the alternating rounds; convergence is detected
    * by a (count, xxhash64-xor) edge-set checksum, so the usual case
    * stops after ~log² rounds. A graph still unconverged at maxIter
    * throws rather than returning silently-partial components.
    *
    * RESULT LIFETIME: the returned DataFrame is backed by checkpoint
    * blocks whose lineage is truncated — it does NOT recompute. The
    * session's GraftContext keeps the last 4 runs' blocks alive, so a
    * result must be consumed before 4 newer `connectedComponents`
    * calls complete (or before `releaseAll()`); actions on an older
    * result fail with "Checkpoint block not found". Long-lived
    * harnesses consume each result, then call `releaseAll()` between
    * queries.
    *
    * SKEW: window functions have no map-side partial aggregation —
    * every row of a partition key sorts into ONE task, and CC *grows*
    * hubs by design (a converging component's min node carries the
    * whole component's edges). Nodes whose per-round symmetric degree
    * exceeds the skew cut are therefore routed through a
    * partial-aggregated min + broadcast-join path while the uniform
    * bulk keeps the one-exchange window formulation; round outputs
    * are identical either way (ComponentsSpec pins equality), so
    * rounds and convergence are unchanged.
    *
    * The default cut (`hotDegreeThreshold` = -1) is ADAPTIVE:
    * max(2^17, 4·|E|/P) with |E| the round's edge count (already
    * known from the convergence checksum) and P the shuffle
    * parallelism — a key below a few tasks' average row volume sorts
    * inside normal stage latency and is CHEAPER on the window path
    * (measured: a 1M-degree hub in a 16M-node graph at 32 cores costs
    * nothing un-routed), while a key spanning many tasks' volume
    * serializes the stage and must be routed. An explicit positive
    * value fixes the cut (tests/benches — degrees are still ESTIMATED
    * by the 1/256 sample once the cut exceeds 2^16, so routing above
    * that is approximate by design); 0 disables routing.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          hotDegreeThreshold: Long = -1L): DataFrame = {
    // Iterative DataFrame loops grow the logical plan geometrically
    // (every round re-embeds the previous round's plan twice — the
    // aggregation side and the join side) and Catalyst re-analyzes the
    // whole accumulated tree per round, stalling after ~6 rounds.
    // Each round is therefore eagerly localCheckpoint'ed (plan
    // truncation) and the checkpoint's INTERNAL RDD is held so the
    // previous round's blocks are actually freed — see materialize().
    // The final round's blocks back the returned DataFrame and stay
    // cached: one edge set, bounded by the node count. (On a real
    // cluster with executor churn, reliable checkpoint() to HDFS
    // replaces localCheckpoint — same loop.)
    // eager localCheckpoint materializes the round on the InternalRow
    // path (no row encode/decode — measured ~15% per-round overhead on
    // the typed-RDD alternative) and truncates the plan at a LogicalRDD
    // leaf; the leaf hands back the internal RDD so superseded rounds'
    // blocks can ACTUALLY be freed (Dataset.unpersist would be a
    // CacheManager no-op here — the checkpoint RDD never registers).
    // LAZY checkpoint + checksum as the materializing action: the
    // checksum aggregate runs over the checkpoint-marked RDD, so ONE
    // job both caches the round's blocks and computes the
    // convergence scalars — an eager checkpoint would spend a
    // separate job (and a second full pass) per round on the same
    // rows
    def materialize(df: DataFrame): (org.apache.spark.rdd.RDD[_], DataFrame, (Long, Long)) = {
      val cp = df.localCheckpoint(false)
      val rdd = cp.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.headOption.getOrElse(throw new IllegalStateException(
        "localCheckpoint did not produce a LogicalRDD leaf"))
      (rdd, cp, checksum(cp))
    }
    var (edgesRdd, edges, chk) = materialize(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // one skew probe per round on the round's INPUT: its symmetric
      // degrees bound the per-key row counts of BOTH star passes
      // (large-star partitions sym by u; small-star's u-side degree is
      // at most the node's sym degree)
      val hot = roundHotKeys(edges, hotDegreeThreshold, chk._1)
      val (nextRdd, next, nextChk) =
        materialize(smallStarHybrid(largeStarHybrid(edges, hot), hot))
      edgesRdd.unpersist(false) // safe: `next` is materialized (checksummed)
      edgesRdd = nextRdd
      edges = next
      converged = nextChk == chk
      chk = nextChk
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    val ctx = graft.GraftContext(pairs.sparkSession)
    ctx.ccRounds = it
    ctx.trackCheckpoint(edgesRdd) // final round backs the result; freed via releaseAll()
    // at the fixpoint the edge set is a star forest: every edge links a
    // node directly to its component root. Nodes that appear only as
    // roots (u side never) map to themselves.
    val members = edges.select(col("u").as("node"), col("v").as("component"))
    val roots = edges.select(col("v").as("node")).distinct()
      .join(members.select(col("node")), Seq("node"), "left_anti")
      .withColumn("component", col("node"))
    members.unionByName(roots)
  }

  /** Collected hot set is capped: keys beyond the cap stay on the
    * window path (graceful degradation, never an error).
    */
  private val MaxHotKeys = 4096

  /** Per-round skew probe: nodes whose symmetric degree in `edges`
    * exceeds the adaptive cut max(`threshold`, 4·edgeCount/P) — see
    * the `connectedComponents` scaladoc for why the cut tracks
    * per-task row volume. For large cuts the degree is estimated from
    * a 1/256 deterministic hash sample of the edge rows (at half-cut,
    * so sampling noise errs toward flagging) — the probe then scans
    * 0.4% of the rows and shuffles a tiny count relation; small cuts
    * (tests) count exactly. Mis-flagging a borderline key is
    * harmless: both routes compute identical mins, only the physical
    * plan differs.
    */
  private[graft] def roundHotKeys(edges: DataFrame, threshold: Long,
                                  edgeCount: Long = 0L): Seq[Any] = {
    if (threshold == 0) return Nil
    val effective =
      if (threshold > 0) threshold
      else {
        // non-numeric conf values (e.g. "auto" on some platforms) fall
        // back to the default instead of throwing mid-round
        val parallelism = scala.util.Try(edges.sparkSession.conf
          .get("spark.sql.shuffle.partitions", "200").toLong)
          .getOrElse(200L).max(1L)
        (1L << 17).max(4L * edgeCount / parallelism)
      }
    // driver-side early-out: a node's symmetric degree is bounded by
    // the edge count, so when the round's known |E| cannot clear the
    // cut no probe job needs to run at all — small/medium graphs pay
    // nothing for the skew guard
    if (edgeCount > 0 && edgeCount <= effective) return Nil
    val (base, cut) =
      if (effective >= (1L << 16))
        (edges.filter(pmod(xxhash64(col("u"), col("v")), lit(256)) === 0),
          effective >> 9)
      else (edges, effective)
    base.select(col("u").as("n"))
      .unionByName(base.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("_d"))
      .filter(col("_d") > cut)
      .orderBy(col("_d").desc)
      .limit(MaxHotKeys)
      .collect().map(_.get(0)).toSeq
  }

  /** Large-star with hot keys routed around the window: hot rows get
    * their neighborhood minimum from a partial-aggregated (map-side
    * combined) min broadcast back onto them — no sort task ever holds
    * a hot node's whole edge list. Emits the same multiset as
    * `largeStar`.
    */
  private[graft] def largeStarHybrid(edges: DataFrame, hot: Seq[Any]): DataFrame = {
    if (hot.isEmpty) return largeStar(edges)
    val sym = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val isHot = col("u").isInCollection(hot)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val cold = sym.filter(!isHot)
      .withColumn("m", least(col("u"), min(col("v")).over(w)))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
    val hotRows = sym.filter(isHot)
    val mins = hotRows.groupBy(col("u")).agg(min(col("v")).as("_mn"))
      .select(col("u"), least(col("u"), col("_mn")).as("_m"))
    val hotOut = hotRows.join(broadcast(mins), Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("_m").as("v"))
    cold.unionByName(hotOut)
  }

  /** Small-star with the same hot-key routing; the hot path emits the
    * relinked edges plus the one (u, min) self edge per hot u exactly
    * as the window form's row_number branch does. Emits the same SET
    * as `smallStar` (one distinct canonicalizes the round).
    */
  private[graft] def smallStarHybrid(edges: DataFrame, hot: Seq[Any]): DataFrame = {
    if (hot.isEmpty) return smallStar(edges)
    val isHot = col("u").isInCollection(hot)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val relink = struct(col("v").as("u"), col("m").as("v"))
    val self = struct(col("u"), col("m").as("v"))
    val cold = edges.filter(!isHot)
      .withColumn("m", min(col("v")).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("v"))))
      .select(explode(when(col("rn") === 1, array(relink, self))
        .otherwise(array(relink))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val hotRows = edges.filter(isHot)
    val mins = hotRows.groupBy(col("u")).agg(min(col("v")).as("_m"))
    val hotOut = hotRows.join(broadcast(mins), Seq("u"))
      .select(col("v").as("u"), col("_m").as("v"))
      .unionByName(mins.select(col("u"), col("_m").as("v")))
    cold.unionByName(hotOut)
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Large-star: every node connects its LARGER neighbors to the
    * minimum of its closed neighborhood. Operates on the symmetric
    * orientation, as ONE window pass — `min(v) over (partition by u)`
    * attaches the neighborhood minimum to every row of a single
    * exchange+sort, where the equivalent aggregate-then-join form
    * plans a second exchange (or worse: Catalyst broadcasts the
    * node-count-sized mins relation — 4 per-round broadcasts of ~|V|
    * rows measured before this formulation, the dominant per-round
    * latency AND the heap pressure at millions of nodes).
    *
    * No dedup and no self-loop filter here — both hold by
    * construction (m ≤ u < v ⇒ m < v), and duplicates are harmless to
    * the downstream min-aggregations; small-star's distinct
    * canonicalizes the round.
    */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    sym
      .withColumn("m", least(col("u"), min(col("v")).over(w)))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: every node connects its SMALLER-or-equal neighbors
    * (and itself) to the minimum among them. Input and output are in
    * the canonical v<u orientation.
    *
    * Single window pass + explode, NOT aggregate-join-union: the
    * union form evaluates its two branches independently, so the
    * whole upstream round (large-star included) would execute TWICE
    * per round — Spark has no cross-branch subtree reuse. Here one
    * windowed relation carries both the per-u minimum (the relink
    * target) and a row_number that lets exactly one row per u also
    * emit the (u, m) self edge.
    */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val relink = struct(col("v").as("u"), col("m").as("v"))
    val self = struct(col("u"), col("m").as("v"))
    edges
      .withColumn("m", min(col("v")).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("v"))))
      .select(explode(when(col("rn") === 1, array(relink, self))
        .otherwise(array(relink))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Order-insensitive edge-set checksum: (row count, xor of row
    * hashes — xor, not sum, so the aggregate can never overflow under
    * ANSI mode). Two cheap partial-aggregated scalars — never a
    * collect of the edge set. Edges are distinct, so equal (count,
    * xor) on different sets needs a 2^-64 hash coincidence.
    */
  private def checksum(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** INCREMENTAL connected components: fold NEW pairs into an
    * existing (node, component) assignment without recomputing the
    * base graph — the companion of `NearDup.jaccardNearDupsAgainst`
    * for a growing corpus. The base assignment is already a star
    * forest (component = reachable minimum), so its non-root rows ARE
    * edges that exactly preserve base connectivity; running the star
    * rounds over (star edges ∪ new pairs) yields the same labels as a
    * full recompute (q70 shares q40's oracle, ComponentsSpec pins it
    * against union-find) while converging in few rounds because the
    * base side is already collapsed. Nodes absent from both inputs
    * (base singletons untouched by new pairs) are not in the result —
    * compose with a `componentsForDocs`-style coalesce.
    *
    * Same result-lifetime contract as `connectedComponents`.
    */
  def incrementalComponents(assignment: DataFrame, newPairs: DataFrame,
                            hotDegreeThreshold: Long = -1L): DataFrame = {
    val starEdges = assignment.filter(col("node") =!= col("component"))
      .select(col("node").as("doc_a"), col("component").as("doc_b"))
    connectedComponents(
      starEdges.unionByName(newPairs.select(col("doc_a"), col("doc_b"))),
      hotDegreeThreshold = hotDegreeThreshold)
  }

  /** Component id for EVERY document: docs in a near-dup pair get
    * their component minimum, untouched docs map to themselves.
    */
  def componentsForDocs(docs: DataFrame, idCol: String,
                        pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
      .select(col("node").as(idCol), col("component"))
    docs.select(col(idCol))
      .join(cc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
  }

  /** Component-canonical dedup: keep exactly the minimum-id document
    * of every near-dup component (and every untouched document) —
    * the cluster-correct counterpart of `NearDup.dedupKeepFirst`.
    */
  def dedupByComponent(docs: DataFrame, idCol: String,
                       pairs: DataFrame): DataFrame = {
    val drop = connectedComponents(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }
}
