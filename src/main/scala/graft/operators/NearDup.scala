package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at corpus scale: MinHash+LSH banding,
  * SimHash hamming banding, embedding-hyperplane LSH and exact n-gram
  * Jaccard verification.
  *
  * Every path is blocking: documents are grouped into blocks (shingle
  * postings, LSH bands, simhash chunks, hyperplane tables) and
  * candidate pairs come only from within a block. Oversized blocks are
  * dropped by one counted cap (`capBlocks`), and pairs explode from the
  * capped member lists (`blockPairs`) — never a block self-join, never
  * an all-pairs cross join. Signatures are map-only; the block key
  * shuffle is the only one before pair derivation.
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

  /** Blocks dropped by the most recent capped near-dup run in the
    * current session's context (-1 until a capped run completes): hot
    * shingles of a `jaccardNearDups`/`jaccardNearDupsAgainst` df cap,
    * or oversized buckets of a minhash, simhash or embedding
    * `maxBucket` cap. Diagnostic: lets tests and operators confirm
    * whether a run was actually capped (the cap is silent in the
    * result otherwise). Updated asynchronously by the query-execution
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
  private val CapMetricPrefix = "graft_block_cap"
  private val capMetricCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private def nextCapMetricName(): String =
    s"${CapMetricPrefix}_${capMetricCounter.incrementAndGet()}"

  /** Register (once per session) the listener that surfaces the
    * observed cap metric: a capped run that actually dropped blocks
    * logs loudly instead of silently diverging from an uncapped
    * oracle.
    */
  private def ensureCapListener(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftContext(spark).oncePerSession(spark, CapMetricPrefix) {
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
                  s"near-dup block cap DROPPED ${row.getLong(0)} block(s) " +
                    s"(of ${row.getLong(1)} distinct): pairs are derived " +
                    "within the retained blocks only")
            }
          }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    }

  /** The members (`doc` + the block key columns) of the blocks holding
    * between `minBlock` and `maxBlock` members — the one block cap of
    * the near-dup family. Block sizes are partial-aggregated counts (a
    * hot block never materializes its members) joined back on the key,
    * so AQE co-plans the two exchanges and a following `blockPairs`
    * groups without another. The count aggregation doubles as the cap
    * OBSERVATION: blocks over `maxBlock` are counted and surfaced by
    * the listener (`lastCapDropped`) once the materializing action
    * completes — a silent cap would be indistinguishable from an exact
    * run. Blocks under `minBlock` are filtered as well but not counted
    * as dropped (`candidatePairs` passes 2: a singleton bucket has no
    * pair).
    */
  private def capBlocks(members: DataFrame, keys: Seq[String], maxBlock: Int,
                        minBlock: Int = 1): DataFrame = {
    ensureCapListener(members.sparkSession)
    val sizes = members.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      .observe(nextCapMetricName(),
        count(when(col("_n") > maxBlock, lit(1))).as("dropped_blocks"),
        count(lit(1)).as("distinct_blocks"))
    members.join(
      sizes.filter(col("_n") <= maxBlock && col("_n") >= minBlock)
        .select(keys.map(col): _*),
      keys)
  }

  /** k minhash values over a shingle array, computed in ONE pass by the
    * native `minhash_sig` kernel (graft.plans.MinHashHelper) — the
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
  private def bandKeys(sigCol: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sigCol, b * rows + 1, rows)).as("bucket"))
    }: _*)

  /** Ordered candidate pairs (doc_a < doc_b) from a block relation
    * (`doc` + the block key columns) — the one pair form of the
    * single-corpus near-dup paths: members are grouped per block and
    * pairs explode from the list. A list is bounded where the caller
    * caps its blocks first (`capBlocks`, or SemDeDup's flagged cell
    * cap); after `capBlocks` the grouping reuses the cap join's hash
    * partitioning and adds no exchange. A hot block's pairs land in one
    * task, as they would under a block self-join, which hash-partitions
    * on the same key. Emits each unordered pair once per shared block
    * (the multiset a block self-join with `a < b` emits); callers dedup
    * or count across blocks.
    */
  private[graft] def blockPairs(members: DataFrame, keys: Seq[String]): DataFrame =
    members.groupBy(keys.map(col): _*)
      .agg(collect_list(col("doc")).as("_ds"))
      .select(explode(col("_ds")).as("doc_a"), col("_ds"))
      .select(col("doc_a"),
        explode(filter(col("_ds"), x => x > col("doc_a"))).as("doc_b"))

  /** The candidate pairs of the LSH paths: `capBlocks` drops (and
    * counts) the blocks over `maxBucket` and the singletons,
    * `blockPairs` explodes the rest, and pairs dedup across blocks as
    * bare (doc_a, doc_b) ids — the payload a verify step needs is
    * re-attached after the dedup exchange (`withPayloads`).
    */
  private def candidatePairs(members: DataFrame, keys: Seq[String],
                             maxBucket: Int): DataFrame =
    blockPairs(capBlocks(members, keys, maxBucket, minBlock = 2), keys)
      .dropDuplicates("doc_a", "doc_b")

  /** `pairs` with the `payload` column of the (doc, payload) relation
    * `rel` joined onto both sides as `<payload>_a` and `<payload>_b`.
    */
  private[graft] def withPayloads(pairs: DataFrame, rel: DataFrame,
                                  payload: String): DataFrame = {
    def side(s: String) = rel.select(col("doc").as(s"doc_$s"), col(payload).as(s"${payload}_$s"))
    pairs.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
  }

  /** Candidate near-duplicate pairs via MinHash LSH, verified with
    * exact Jaccard over the shingle sets. Returns (doc_a, doc_b,
    * jaccard) with doc_a < doc_b, jaccard >= threshold.
    *
    * The shingle relation is consumed three times (band side + both
    * verify sides): it is persisted so signatures are computed in ONE
    * pass over the corpus. Buckets larger than `maxBucket` are dropped
    * (and counted, see `lastCapDropped`) before pair derivation — a
    * degenerate bucket (boilerplate band key shared by 10^6 docs) would
    * otherwise explode quadratically; pairs lost to a capped bucket are
    * still found via their other bands.
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
    // never ride through the band shuffle or the candidate dedup
    val banded = withSh
      .select(col("doc"), explode(bandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("doc"), col("bk.band"), col("bk.bucket"))
    withPayloads(candidatePairs(banded, Seq("band", "bucket"), maxBucket), withSh, "sh")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** EXACT n-gram Jaccard near-duplicates over an inverted shingle
    * index — no hashing approximation anywhere: explode (doc, shingle),
    * pair the members of each shingle's posting list (`blockPairs`),
    * count shared shingles per pair, then |A∩B| / (|A|+|B|-|A∩B|).
    * Pairs come from posting lists (the inverted-index shape), never an
    * all-pairs cross join; `maxDocFreq` drops shingles appearing in
    * more than that many docs first — the standard stop-shingle cap
    * against quadratic hot keys (a posting list yields O(df²) pairs,
    * so ONE boilerplate trigram shared by 10^6 docs would otherwise
    * cost 10^12 pair rows).
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
    * A non-empty `stopShingles` set (e.g. from `hotShinglesSketch`)
    * replaces the doc-frequency cap.
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
    val posting = docs
      .select(col(idCol).as("doc"),
        explode(TextOps.shingles(col(textCol), nShingle)).as("s"))
    // ONE persisted relation of retained postings: the sizes and the
    // pair counts both read it. Singleton shingles stay (minBlock 1):
    // they yield no pair but count toward the sizes, so the ratio is
    // the exact jaccard of the retained-vocabulary shingle sets
    val cp = persistTracked(capPostings(posting, maxDocFreq, stopShingles))
    val sizes = cp.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    jaccardOf(blockPairs(cp, Seq("s")),
      sizes.select(col("doc").as("doc_a"), col("n").as("n_a")),
      sizes.select(col("doc").as("doc_b"), col("n").as("n_b")), threshold)
  }

  /** (doc_a, doc_b, jaccard >= threshold) from one (doc_a, doc_b) row
    * per shared retained shingle and the per-doc retained-shingle
    * counts (doc_a, n_a) and (doc_b, n_b).
    */
  private def jaccardOf(shared: DataFrame, sizesA: DataFrame, sizesB: DataFrame,
                        threshold: Double): DataFrame =
    shared.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizesA, Seq("doc_a"))
      .join(sizesB, Seq("doc_b"))
      .withColumn("jaccard", round(
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** The retained postings of the exact-Jaccard paths: an explicit
    * stop-shingle set applies as a broadcast anti-join (cheapest — the
    * set came from a sketch), otherwise the counted doc-frequency cap;
    * `maxDocFreq <= 0` keeps every posting and warns, because every
    * posting list then yields all of its O(df²) pairs.
    */
  private def capPostings(posting: DataFrame, maxDocFreq: Int,
                          stopShingles: Set[Long]): DataFrame =
    if (stopShingles.nonEmpty) {
      import posting.sparkSession.implicits._
      posting.join(broadcast(stopShingles.toSeq.toDF("s")), Seq("s"), "left_anti")
    } else if (maxDocFreq > 0) capBlocks(posting, Seq("s"), maxDocFreq)
    else {
      org.apache.log4j.Logger.getLogger(getClass)
        .warn("exact-jaccard near-dup running UNCAPPED (maxDocFreq<=0): " +
          "every shingle's posting list yields O(df^2) pairs and goes " +
          "quadratic on hot shingles — bounded runs should pass maxDocFreq > 0")
      posting
    }

  /** INCREMENTAL dedup: exact n-gram Jaccard pairs BETWEEN an existing
    * base corpus and a new increment — the production dedup shape for
    * a growing corpus: base-vs-base pairs were already resolved when
    * the base was built, so a new crawl batch only needs checking
    * against the base (and within itself, via `jaccardNearDups` on the
    * increment alone). Same inverted-index shape and stop-shingle cap
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
    def posting(df: DataFrame, side: Int) = df.select(col(idCol).as("doc"),
      lit(side).as("side"),
      explode(TextOps.shingles(col(textCol), nShingle)).as("s"))
    val capped = capPostings(posting(base, 0).unionByName(posting(increment, 1)),
      maxDocFreq, stopShingles)
    // the cross-side pair form: ONE persisted (shingle -> base members,
    // increment members) relation, grouped on the cap join's
    // partitioning; the sizes and the cross product of the two lists
    // both read it, so no same-side pair is ever formed
    val lists = persistTracked(capped.groupBy(col("s")).agg(
      collect_list(when(col("side") === 0, col("doc"))).as("_da"),
      collect_list(when(col("side") === 1, col("doc"))).as("_db")))
    def sizes(list: String, id: String, n: String) =
      lists.select(explode(col(list)).as(id)).groupBy(col(id)).agg(count(lit(1)).as(n))
    jaccardOf(
      lists.select(explode(col("_da")).as("doc_a"), col("_db"))
        .select(col("doc_a"), explode(col("_db")).as("doc_b")),
      sizes("_da", "doc_a", "n_a"), sizes("_db", "doc_b", "n_b"), threshold)
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
        // signatures at seeds 101..101+nTables-1; PlansSpec pin)
        .withColumn("sigs",
          Similarity.hyperplaneSigs(col("vec"), nBits, nTables, seedBase = 101)))
    val sigs = base.select(col("doc"), posexplode(col("sigs")))
      .toDF("doc", "table", "sig")
    withPayloads(candidatePairs(sigs, Seq("table", "sig"), maxBucket), base, "vec")
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
    * pass by the native `simhash64` kernel — the composed-Column form
    * (64 filter/size passes) measured 21.5 s on the sf0.1 bench vs
    * sub-second native.
    */
  def simhash64(text: Column): Column =
    graft.plans.TextExprs.simhash64(
      org.apache.spark.sql.SparkSession.active, text)

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The pigeonhole chunks of a 64-bit SimHash, one (chunk, v) struct
    * row each: `maxHamming + 1` chunks of `64 / (maxHamming + 1)` bits,
    * chunk c holding bits from c·bits up. Two signatures within
    * `maxHamming` agree on at least one (chunk, v) — the block key of
    * both the batch and the streaming SimHash pairs.
    */
  private[graft] def simhashChunks(sig: Column, maxHamming: Int): Column = {
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    explode(array((0 until nChunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(sig, c * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1)).as("v"))
    }: _*))
  }

  /** SimHash near-dups within maxHamming, using the pigeonhole banding
    * trick: split the 64-bit signature into (maxHamming+1) chunks — two
    * docs within the distance bound must agree on at least one chunk,
    * so the join key is (chunk index, chunk value), never all-pairs.
    *
    * Same degenerate-bucket discipline as the MinHash and embedding
    * paths: a chunk value shared by 10^6 short/templated documents
    * (e.g. chunk 0 of a boilerplate-heavy corpus) would make its pair
    * list quadratic, so buckets above `maxBucket` are dropped and
    * counted (`candidatePairs`); a pair lost to one capped chunk is
    * still found via its other agreeing chunks.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val withSig = persistTracked(docs.select(col(idCol).as("doc"),
      simhash64(col(textCol)).as("sig")))
    val chunks = withSig.select(col("doc"),
        simhashChunks(col("sig"), maxHamming).as("ck"))
      .select(col("doc"), col("ck.chunk"), col("ck.v"))
    withPayloads(candidatePairs(chunks, Seq("chunk", "v"), maxBucket), withSig, "sig")
      .select(col("doc_a"), col("doc_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
