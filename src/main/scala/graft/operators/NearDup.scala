package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at corpus scale: MinHash+LSH banding,
  * SimHash hamming banding, and exact n-gram Jaccard verification.
  *
  * Scale shape: signatures are map-only; the ONLY shuffle is on LSH
  * band buckets (tiny keys), and the candidate self-join runs on the
  * bucket-grouped id lists — never an all-pairs cross join. This is the
  * standard shingle -> minhash -> band -> bucket-join pipeline.
  */
object NearDup {

  /** Intermediate relations persisted by the near-dup operators
    * (shingle sets, embedding vectors) are tracked in the session's
    * `GraftContext` — see its scaladoc for the lifecycle contract.
    */
  private def persistTracked(df: DataFrame): DataFrame =
    graft.GraftContext.persistTracked(df)

  /** Release every intermediate relation the curation operators have
    * tracked in the current session's context (near-dup AND the other
    * operators' tracked persists). Safe to call at any time: an
    * in-flight plan that still references an unpersisted relation
    * recomputes it lazily.
    */
  def unpersistAll(): Unit = graft.GraftContext.current.foreach(_.unpersistTracked())

  /** Hot shingles dropped by the most recent CAPPED `jaccardNearDups`
    * run in the current session's context (-1 until a capped run
    * completes). Diagnostic: lets tests and operators confirm whether
    * a run was actually capped (the cap is silent in the result
    * otherwise). Updated asynchronously by the query-execution
    * listener after the materializing action finishes; concurrent
    * capped queries race on it (last completion wins) — it exists for
    * logs and tests, not for program logic.
    */
  def lastCapDropped: Long = graft.GraftContext.current.fold(-1L)(_.capDropped)
  private[graft] def resetCapDropped(): Unit =
    graft.GraftContext.current.foreach(_.capDropped = -1L)

  // observation names must be unique within ONE query plan: composing
  // two capped near-dup relations into a single query would otherwise
  // throw AnalysisException (duplicate observation name), so every
  // capped call mints its own suffixed name and the listener matches
  // on the prefix
  private val CapMetricPrefix = "graft_jaccard_cap"
  private val capMetricCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private def nextCapMetricName(): String =
    s"${CapMetricPrefix}_${capMetricCounter.incrementAndGet()}"

  /** Register (once per session) the listener that surfaces the
    * observed cap metric: a capped run that actually dropped shingles
    * logs loudly instead of silently diverging from an uncapped
    * oracle.
    */
  private def ensureCapListener(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftContext(spark).oncePerSession(spark) {
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = {
            val rows = qe.observedMetrics.collect {
              case (name, row) if name.startsWith(CapMetricPrefix) => row
            }
            if (rows.nonEmpty) {
              // SUM across the plan's capped observations: a composed
              // query with two capped relations must not let a
              // zero-drop observation overwrite a real drop count
              graft.GraftContext(qe.sparkSession).capDropped = rows.map(_.getLong(0)).sum
              for (row <- rows if row.getLong(0) > 0)
                org.apache.log4j.Logger.getLogger(NearDup.getClass).warn(
                  s"jaccardNearDups cap DROPPED ${row.getLong(0)} hot shingle(s) " +
                    s"(of ${row.getLong(1)} distinct): result is exact " +
                    "Jaccard over the retained vocabulary, not the full one")
            }
          }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    }

  /** k minhash values over a shingle array, computed in ONE pass by the
    * native MinHashSigExpression (graft.plans.TextExpressions) — the
    * composed-Column form (k array_min/transform traversals) measured
    * 3x slower on the sf0.1 bench.
    */
  def minhashSignature(shingleCol: Column, k: Int = 32): Column =
    graft.plans.TextExprs.minhashSig(
      org.apache.spark.sql.SparkSession.active, shingleCol, k)

  /** LSH band keys: hash r consecutive signature slots per band.
    * Probability two docs share a band = 1-(1-J^r)^b. xxhash64 folds
    * the sliced long array directly — no per-band string
    * materialization (bucket values are internal join keys only; the
    * exact-jaccard verify pass decides membership).
    */
  def bandKeys(sigCol: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sigCol, b * rows + 1, rows)).as("bucket"))
    }: _*)

  /** Ordered candidate pairs (doc_a < doc_b) from a capped bucket
    * relation (`doc` + the bucket key columns): members are grouped
    * per bucket — the list is bounded because the input is already
    * cap-filtered — and pairs explode from the list. Reuses the
    * upstream cap-join's hash partitioning (groupBy on the join key
    * needs no new exchange), so candidate generation adds ZERO
    * exchanges where the bucket self-join formulation re-shuffled and
    * sorted the bucket relation twice. Emits each unordered pair once
    * per bucket (members are distinct within a bucket on every caller's
    * path); callers dedup across buckets.
    */
  private def bucketPairs(capped: DataFrame, keyCols: Seq[String]): DataFrame =
    capped.groupBy(keyCols.map(col): _*)
      .agg(collect_list(col("doc")).as("_ds"))
      .select(explode(col("_ds")).as("doc_a"), col("_ds"))
      .select(col("doc_a"),
        explode(filter(col("_ds"), x => x > col("doc_a"))).as("doc_b"))

  /** Candidate near-duplicate pairs via MinHash LSH, verified with
    * exact Jaccard over the shingle sets. Returns (doc_a, doc_b,
    * jaccard) with doc_a < doc_b, jaccard >= threshold.
    *
    * The shingle relation is consumed three times (band side + both
    * verify sides): it is persisted so signatures are computed in ONE
    * pass over the corpus. Buckets larger than `maxBucket` are dropped
    * before the self-join — a degenerate bucket (boilerplate band key
    * shared by 10^6 docs) would otherwise explode quadratically; pairs
    * lost to a capped bucket are still found via their other bands.
    */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      nShingle: Int = 3, k: Int = 64,
                      bands: Int = 16, threshold: Double = 0.7,
                      maxBucket: Int = 10000): DataFrame = {
    // default banding k=64/b=16 (r=4): P(candidate) = 0.988 at exactly
    // J=0.7 and 0.9998 at J=0.8 — callers needing oracle-grade recall
    // at a lower threshold pass r=2 banding (e.g. k=64/b=32, as q14
    // does); callers trading recall for cost pass fewer bands
    val rows = k / bands
    // the persisted relation carries the SIGNATURE too: the banded
    // relation is consumed twice (bucket counting + the capped join),
    // and without the materialized sig each consumption would re-run
    // the k-slot minhash over every shingle array — the banding itself
    // (slice + hash per band) is cheap to redo
    val withSh = persistTracked(docs
      .select(col(idCol).as("doc"),
        TextOps.shingles(col(textCol), nShingle).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), k)))
    // banded keys carry ONLY (doc, band, bucket): the shingle arrays
    // never ride through the band shuffle or the candidate dedup —
    // payload-light shuffles are what survive a 100x scale-up
    val banded = withSh
      .select(col("doc"), explode(bandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("doc"), col("bk.band"), col("bk.bucket"))
    // partial-aggregated counts (never materializes a bucket's members);
    // the join back is on the same key, so AQE co-plans the exchanges
    val okBuckets = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket && col("_n") > 1)
      .select(col("band"), col("bucket"))
    // bucket members grouped AFTER the cap join (list size bounded by
    // maxBucket), reusing the join's hash partitioning — then ordered
    // pairs explode from each list. This replaces the bucket SELF-JOIN
    // (two more exchanges + sorts of the banded relation) with zero
    // additional exchanges; the pair multiset is identical.
    val cand = bucketPairs(
      banded.join(okBuckets, Seq("band", "bucket")),
      Seq("band", "bucket"))
      .dropDuplicates("doc_a", "doc_b")
    // exact verification: re-attach shingles only for candidates
    val shA = withSh.select(col("doc").as("doc_a"), col("sh").as("sh_a"))
    val shB = withSh.select(col("doc").as("doc_b"), col("sh").as("sh_b"))
    cand.join(shA, Seq("doc_a")).join(shB, Seq("doc_b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** EXACT n-gram Jaccard near-duplicates via an inverted shingle
    * join — no hashing approximation anywhere: explode (doc, shingle),
    * self-join on the shingle, count shared shingles per pair, then
    * |A∩B| / (|A|+|B|-|A∩B|). The self-join is on shingle keys (the
    * inverted-index shape), never an all-pairs cross join; `maxDocFreq`
    * drops shingles appearing in more than that many docs before the
    * join — the standard stop-shingle cap against quadratic hot keys
    * (the posting self-join is O(df²) per shingle, so ONE boilerplate
    * trigram shared by 10^6 docs would otherwise cost 10^12 join rows).
    *
    * Cap semantics: per-doc sizes are counted over the SAME capped
    * posting list as the intersections, so the ratio is the exact
    * Jaccard over the retained (non-stop) shingle vocabulary — not a
    * bound. True near-dups share mostly RARE shingles, so pair recall
    * at a given threshold is essentially unaffected by dropping hot
    * shingles (pinned by the cap-vs-uncapped test in DataOpsSpec). The
    * default cap (10000, matching `maxBucket` on the LSH paths) never
    * fires at test scale; passing 0 disables the cap for a
    * full-vocabulary exact run, which goes quadratic on hot shingles —
    * it logs loudly because that regime must be a deliberate choice.
    *
    * This is the exact counterpart of `minhashNearDups`: same output
    * contract, O(sum of postings²) per shingle instead of O(corpus)
    * signatures — the right choice when the shingle frequency
    * distribution is flat or the threshold is low enough that LSH
    * recall can't be guaranteed.
    */
  def jaccardNearDups(docs: DataFrame, idCol: String, textCol: String,
                      nShingle: Int = 3, threshold: Double = 0.5,
                      maxDocFreq: Int = 10000,
                      stopShingles: Set[Long] = Set.empty): DataFrame = {
    if (maxDocFreq <= 0 && stopShingles.isEmpty)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn("jaccardNearDups running UNCAPPED (maxDocFreq<=0): the " +
          "posting self-join is O(df^2) per shingle and goes quadratic " +
          "on hot shingles — bounded runs should pass maxDocFreq > 0")
    val posting = docs
      .select(col(idCol).as("doc"),
        explode(TextOps.shingles(col(textCol), nShingle)).as("s"))
    // capping paths, cheapest first: an explicit stop-shingle set
    // (e.g. from hotShinglesSketch — zero-shuffle derivation) applies
    // as a broadcast anti-join; otherwise the exact doc-frequency
    // count-filter-join (one extra aggregation over the postings).
    // The posting LISTS are only ever collected AFTER the cap (list
    // length bounded by maxDocFreq — no hot shingle ever materializes
    // its members), reusing the cap join's hash partitioning, so the
    // grouped form costs no extra exchange over the capped postings.
    val capped =
      if (stopShingles.nonEmpty) {
        import docs.sparkSession.implicits._
        posting.join(
          broadcast(stopShingles.toSeq.toDF("s")), Seq("s"), "left_anti")
      } else if (maxDocFreq <= 0) posting
      else {
        // the df-count aggregation doubles as the cap OBSERVATION:
        // a capped run that actually drops shingles is logged (and
        // surfaced via lastCapDropped) by the listener when the
        // materializing action completes — a silent cap would be
        // indistinguishable from an exact full-vocabulary run
        ensureCapListener(docs.sparkSession)
        val dfCounts = posting.groupBy(col("s")).agg(count(lit(1)).as("_df"))
          .observe(nextCapMetricName(),
            sum(when(col("_df") > maxDocFreq, lit(1L)).otherwise(lit(0L)))
              .as("dropped_shingles"),
            count(lit(1)).as("distinct_shingles"))
        posting.join(
          dfCounts.filter(col("_df") <= maxDocFreq).select(col("s")), Seq("s"))
      }
    // grouped-list pair derivation ONLY under the exact df cap (the
    // list per row is then bounded by maxDocFreq): the uncapped and
    // stop-shingle paths have no such guarantee — a hot shingle there
    // would concentrate its whole posting list (and its in-list pair
    // explode) into ONE row/task, where the self-join form is equally
    // quadratic but at least distributes the pair rows across tasks
    val (sizes, inter) =
      if (maxDocFreq > 0 && stopShingles.isEmpty) {
        // ONE persisted relation of retained (shingle -> member list)
        // rows: sizes and the pair counts both read it; it is
        // vocabulary-bounded in rows and cap-bounded per row —
        // strictly smaller than the exploded postings the self-join
        // formulation persisted
        val lists = persistTracked(capped.groupBy(col("s"))
          .agg(collect_list(col("doc")).as("_ds")))
        // sizes over the capped postings: the ratio is then the exact
        // jaccard of the retained-vocabulary shingle sets
        val szs = lists.select(explode(col("_ds")).as("doc"))
          .groupBy(col("doc")).agg(count(lit(1)).as("n"))
        // shared-shingle counts per ordered pair via in-list pair
        // explode — the inverted-index self-join expressed without the
        // second and third exchange+sort of the posting relation
        val inr = lists
          .select(explode(col("_ds")).as("doc_a"), col("_ds"))
          .select(col("doc_a"),
            explode(filter(col("_ds"), x => x > col("doc_a"))).as("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        (szs, inr)
      } else {
        val cp = persistTracked(capped)
        val szs = cp.groupBy(col("doc")).agg(count(lit(1)).as("n"))
        val a = cp.alias("a"); val b = cp.alias("b")
        val inr = a.join(b,
            col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
          .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        (szs, inr)
      }
    inter
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard", round(
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** INCREMENTAL dedup: exact n-gram Jaccard pairs BETWEEN an existing
    * base corpus and a new increment — the production dedup shape for
    * a growing corpus: base-vs-base pairs were already resolved when
    * the base was built, so a new crawl batch only needs checking
    * against the base (and within itself, via `jaccardNearDups` on the
    * increment alone). Same inverted-index join and stop-shingle cap
    * discipline as `jaccardNearDups`; the doc-frequency cap counts
    * over the UNION of both sides (a shingle hot across the whole
    * corpus is hot, whichever side it lives on), and per-doc sizes are
    * counted over the same capped postings, so the ratio is the exact
    * Jaccard of the retained vocabulary.
    *
    * Returns (doc_a from base, doc_b from increment, jaccard >=
    * threshold). Ids may overlap across sides (they are different
    * tables); a self-pair (same id both sides) is NOT filtered —
    * callers dedupping an increment against a base that already
    * contains it should key on content, not ids.
    */
  def jaccardNearDupsAgainst(base: DataFrame, increment: DataFrame,
                             idCol: String, textCol: String,
                             nShingle: Int = 3, threshold: Double = 0.5,
                             maxDocFreq: Int = 10000,
                             stopShingles: Set[Long] = Set.empty): DataFrame = {
    if (maxDocFreq <= 0 && stopShingles.isEmpty)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn("jaccardNearDupsAgainst running UNCAPPED (maxDocFreq<=0): " +
          "the cross-side shingle join is O(df_a*df_b) per shingle and " +
          "goes quadratic on hot shingles — bounded runs should pass " +
          "maxDocFreq > 0")
    def posting(df: DataFrame) = df.select(col(idCol).as("doc"),
      explode(TextOps.shingles(col(textCol), nShingle)).as("s"))
    val pa = posting(base)
    val pb = posting(increment)
    val capped: DataFrame => DataFrame =
      if (stopShingles.nonEmpty) {
        import base.sparkSession.implicits._
        val stop = broadcast(stopShingles.toSeq.toDF("s"))
        p => p.join(stop, Seq("s"), "left_anti")
      } else if (maxDocFreq <= 0) identity
      else {
        // same cap OBSERVABILITY as jaccardNearDups (a silent cap is
        // indistinguishable from an exact run), and the union
        // doc-frequency aggregation — the heaviest stage, scanning
        // BOTH corpora — is persisted so materializing each capped
        // side does not re-run it
        ensureCapListener(base.sparkSession)
        val ok = persistTracked(pa.unionByName(pb).groupBy(col("s"))
          .agg(count(lit(1)).as("_df"))
          .observe(nextCapMetricName(),
            sum(when(col("_df") > maxDocFreq, lit(1L)).otherwise(lit(0L)))
              .as("dropped_shingles"),
            count(lit(1)).as("distinct_shingles"))
          .filter(col("_df") <= maxDocFreq).select(col("s")))
        p => p.join(ok, Seq("s"))
      }
    // grouped-list pair derivation only under the exact df cap (list
    // length then bounded by maxDocFreq — see jaccardNearDups); the
    // uncapped/stop-shingle paths keep the distributed cross-side join
    val (sizesA, sizesB, inter) =
      if (maxDocFreq > 0 && stopShingles.isEmpty) {
        // per-side (shingle -> member list) relations: cap-bounded per
        // row (the quadratic guard), strictly smaller than the
        // exploded postings; both groupBys and the cross-side join
        // share one hash partitioning on s, so the pair derivation
        // re-shuffles nothing
        val la = persistTracked(capped(pa).groupBy(col("s"))
          .agg(collect_list(col("doc")).as("_da")))
        val lb = persistTracked(capped(pb).groupBy(col("s"))
          .agg(collect_list(col("doc")).as("_db")))
        val sa = la.select(explode(col("_da")).as("doc"))
          .groupBy(col("doc")).agg(count(lit(1)).as("n_a"))
          .withColumnRenamed("doc", "doc_a")
        val sb = lb.select(explode(col("_db")).as("doc"))
          .groupBy(col("doc")).agg(count(lit(1)).as("n_b"))
          .withColumnRenamed("doc", "doc_b")
        val inr = la.join(lb, Seq("s"))
          .select(explode(col("_da")).as("doc_a"), col("_db"))
          .select(col("doc_a"), explode(col("_db")).as("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        (sa, sb, inr)
      } else {
        val ca = persistTracked(capped(pa))
        val cb = persistTracked(capped(pb))
        val sa = ca.groupBy(col("doc")).agg(count(lit(1)).as("n_a"))
          .withColumnRenamed("doc", "doc_a")
        val sb = cb.groupBy(col("doc")).agg(count(lit(1)).as("n_b"))
          .withColumnRenamed("doc", "doc_b")
        val inr = ca.alias("a").join(cb.alias("b"), col("a.s") === col("b.s"))
          .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        (sa, sb, inr)
      }
    inter
      .join(sizesA, Seq("doc_a"))
      .join(sizesB, Seq("doc_b"))
      .withColumn("jaccard", round(
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Hot-shingle (stop-shingle) detection via a Count-Min Sketch — the
    * sketch path for deriving `jaccardNearDups`' cap set at corpus
    * scale: the exact path needs a full (shingle -> doc-frequency)
    * aggregation — a shuffle of EVERY posting row — before any capping
    * can happen, while this path's only shuffle is a key-only distinct
    * over the (already map-side-combined) 8-byte shingle hashes; the
    * frequency information itself rides in the CMS (pure map-side
    * work, tree-merged).
    *
    * Derivation: (1) one map-side corpus pass builds the merged CMS;
    * (2) the sketch is broadcast and the distinct shingle keys are
    * filtered AGAINST it on the executors — only keys whose estimate
    * exceeds the cap return to the driver, and that result is tiny by
    * construction (the hot set). No driver-side data path, no
    * corpus-ordering assumption: every distinct shingle is probed, so
    * the superset guarantee is unconditional.
    *
    * CMS guarantees: estimates NEVER undercount (overcount bounded by
    * eps * total postings with probability 1-delta), so the returned
    * set is a SUPERSET of the true hot-shingle set — capping with it
    * drops every genuinely quadratic key, at the cost of occasionally
    * retiring a borderline shingle early (the safe direction for a
    * stop-shingle list; pinned in DataOpsSpec). Near-dup recall is
    * unaffected for the same reason the exact cap's is: true near-dups
    * share mostly rare shingles.
    *
    * Sketch sizing: broadcast size is width·depth·8 B with
    * width = ceil(e/eps). The default (`eps = 0`) SIZES THE SKETCH TO
    * THE CORPUS: one shuffle-free partial-aggregated posting count T,
    * then eps = maxDocFreq/(20·T) clamped to [1e-6, 0.01] — overcount
    * stays ≤ 5% of the cap while a small corpus gets a KB-sized
    * sketch instead of the ~224 MB the web-scale floor implies.
    * Web-scale callers that know T is huge pass eps explicitly
    * (e.g. the 1e-6 floor — ~224 MB, sized so overcount stays ≪ the
    * cap even at 10^12 postings) and skip the sizing pass.
    *
    * Returns the hot shingle hashes (estimated doc frequency >
    * maxDocFreq) as a Set for broadcast.
    */
  def hotShinglesSketch(docs: DataFrame, idCol: String, textCol: String,
                        nShingle: Int = 3, maxDocFreq: Int = 10000,
                        eps: Double = 0.0, delta: Double = 1e-4): Set[Long] = {
    import docs.sparkSession.implicits._
    // shingles are per-doc distinct already, so item count == posting
    // count == per-shingle doc frequency
    val posting = docs.select(
      explode(TextOps.shingles(col(textCol), nShingle)).as("s"))
    val epsEff =
      if (eps > 0) eps
      else {
        // corpus-adaptive width: the posting count is a map-side-only
        // aggregate (no shuffle — the scale property this path exists
        // for is preserved)
        val t = posting.count()
        math.min(0.01, math.max(1e-6, maxDocFreq.toDouble / (20.0 * math.max(t, 1L))))
      }
    val cms = posting.stat.countMinSketch(
      "s", eps = epsEff, confidence = 1 - delta, seed = 42)
    // a CMS answers point queries but does not list keys: enumerate
    // candidates as the distinct shingle keys and probe EXECUTOR-side
    // against the broadcast sketch — only hot keys ever reach the
    // driver
    val bc = docs.sparkSession.sparkContext.broadcast(cms)
    posting.distinct().as[Long]
      .mapPartitions(_.filter(s => bc.value.estimateCount(s) > maxDocFreq))
      .collect().toSet
  }

  /** Dedup plan from near-dup pairs: keep the smallest id of each
    * connected component's star (greedy: drop any doc that has a
    * near-dup with a smaller id — one pass, no iterative connected
    * components; adequate for dedup-keep-one semantics).
    */
  def dedupKeepFirst(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  // ---------------------------------------------------------------------
  // Embedding-cosine near-dup
  // ---------------------------------------------------------------------

  /** Embedding-cosine near-duplicates: random-hyperplane LSH buckets
    * candidate pairs (never all-pairs), exact quantized-cosine verifies
    * them (bit-identical across engines — see Similarity.quantizedCosine).
    * Returns (doc_a, doc_b, cos) with doc_a < doc_b, cos >= threshold.
    * Same scale shape as the MinHash path: signatures map-only,
    * payload-light bucket shuffle, vectors re-attached only for
    * candidates. Recall/pruning is tuned by (nBits, nTables): bits are
    * the AND (per-table precision), tables the OR (recall). Defaults
    * 10 bits x 64 tables: per-pair miss ~1e-6 at cos 0.89 (the 2J/(1+J)
    * image of a Jaccard-0.8 shingle near-dup) while pairs at the
    * random-cosine noise floor (|cos| ≲ 2/sqrt(dim)) bucket together
    * <15% of the time.
    */
  def embeddingNearDups(docs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.8, nBits: Int = 10,
                        nTables: Int = 64, maxBucket: Int = 10000): DataFrame = {
    // the persisted relation carries the signature ARRAY: the sig
    // relation is consumed twice (bucket counting + the capped join),
    // and recomputing hyperplane signatures is the expensive part —
    // the posexplode is free to redo
    val base = persistTracked(
      docs.select(col(idCol).as("doc"), col(vecCol).as("vec"))
        // one-pass multi-table signatures (bit-identical to per-table
        // hyperplaneSig calls at seeds 101..101+nTables-1; PlansSpec pin)
        .withColumn("sigs",
          Similarity.hyperplaneSigs(col("vec"), nBits, nTables, seedBase = 101)))
    val sigs = base.select(col("doc"), posexplode(col("sigs")))
      .toDF("doc", "table", "sig")
    // cap degenerate buckets, as in the MinHash path
    val okBuckets = sigs.groupBy(col("table"), col("sig"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket && col("_n") > 1)
      .select(col("table"), col("sig"))
    // grouped-members pair explode over the capped buckets (bounded by
    // maxBucket), replacing the bucket self-join — see bucketPairs
    val cand = bucketPairs(sigs.join(okBuckets, Seq("table", "sig")),
        Seq("table", "sig"))
      .dropDuplicates("doc_a", "doc_b")
    val vA = base.select(col("doc").as("doc_a"), col("vec").as("vec_a"))
    val vB = base.select(col("doc").as("doc_b"), col("vec").as("vec_b"))
    cand.join(vA, Seq("doc_a")).join(vB, Seq("doc_b"))
      .withColumn("cos",
        round(Similarity.quantizedCosine(col("vec_a"), col("vec_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cos"))
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash: bit i of the signature is the sign of the sum over
    * tokens of (+1/-1 for bit i of the token hash). Computed in one
    * pass by the native SimHash64Expression — the composed-Column form
    * (64 filter/size passes) measured 21.5 s on the sf0.1 bench vs
    * sub-second native.
    */
  def simhash64(text: Column): Column =
    graft.plans.TextExprs.simhash64(
      org.apache.spark.sql.SparkSession.active, text)

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dups within maxHamming, using the pigeonhole banding
    * trick: split the 64-bit signature into (maxHamming+1) chunks — two
    * docs within the distance bound must agree on at least one chunk,
    * so the join key is (chunk index, chunk value), never all-pairs.
    *
    * Same degenerate-bucket discipline as the MinHash and embedding
    * paths: a chunk value shared by 10^6 short/templated documents
    * (e.g. chunk 0 of a boilerplate-heavy corpus) would make the
    * candidate self-join quadratic, so buckets above `maxBucket` are
    * dropped (partial-aggregated counts, never a materialized member
    * list); a pair lost to one capped chunk is still found via its
    * other agreeing chunks. The candidate pairs are deduplicated as
    * bare (doc_a, doc_b) ids BEFORE the signatures are re-attached, so
    * the dedup exchange carries 16-byte rows, not signature payloads.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    val withSig = persistTracked(docs.select(col(idCol).as("doc"),
      simhash64(col(textCol)).as("sig")))
    val chunks = withSig.select(col("doc"),
      explode(array((0 until nChunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sig"), c * chunkBits)
            .bitwiseAND(lit((1L << chunkBits) - 1)).as("v"))
      }: _*)).as("ck"))
      .select(col("doc"), col("ck.chunk"), col("ck.v"))
    val okBuckets = chunks.groupBy(col("chunk"), col("v"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket && col("_n") > 1)
      .select(col("chunk"), col("v"))
    // grouped-members pair explode over the capped buckets (bounded by
    // maxBucket), replacing the bucket self-join — see bucketPairs
    val cand = bucketPairs(chunks.join(okBuckets, Seq("chunk", "v")),
        Seq("chunk", "v"))
      .dropDuplicates("doc_a", "doc_b")
    val sA = withSig.select(col("doc").as("doc_a"), col("sig").as("sig_a"))
    val sB = withSig.select(col("doc").as("doc_b"), col("sig").as("sig_b"))
    cand.join(sA, Seq("doc_a")).join(sB, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
