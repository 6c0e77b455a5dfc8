package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end batch curation pipeline — the canonical order a
  * web-crawl training corpus flows through this engine, composed from
  * the individually-oracle-checked operators (each stage cites its
  * query):
  *
  *   1. URL canonical dedup (q82's first-arrival rule) and
  *      per-domain cap (q79) — admission control, cheapest first;
  *   2. per-document filters: C4 blocklist (q83) + Gopher rules (q68);
  *   3. text dedup, narrowest scope outward: within-doc lines (q89),
  *      cross-corpus paragraphs (q69), exact content fingerprints
  *      (q63's rule), Jaccard near-dups keep-first (q36/q37);
  *   4. eval decontamination via the Bloom regime (q87/q51);
  *   5. packaging: temperature mix to a token budget (q91) and
  *      deterministic shard assignment (q78).
  *
  * Returns the released documents plus the per-stage survivor funnel —
  * the report every curation run ships with. Each reduction stage is
  * checkpointed by its count so no stage executes twice; the funnel
  * actions are inherent to reporting, not recomputation. The released
  * frame is backed by checkpoint blocks that do not recompute: consume
  * it before `Components.releaseAll()`. Every stage
  * is individually deterministic on any partitioning, so the composed
  * release is too (pinned in CurationSpec).
  */
object CurateFlow {

  final case class CurateResult(released: DataFrame,
      funnel: Seq[(String, Long)])

  /** `docs` needs (doc_id, url, text, source). `evalDocs` needs
    * (doc_id, text). The released frame carries (doc_id, url, source,
    * text, shard). `qualityKeep` is a SQL boolean expression over
    * [[TextOps.gopherRulesTable]]'s rule columns; the default is the
    * published composed verdict — corpora that aren't natural prose
    * (the synthetic test corpus is stopword-free jargon) tune the
    * gate here rather than fork the pipeline.
    */
  def run(docs: DataFrame, evalDocs: DataFrame, budgetTokens: Long,
          maxPerDomain: Int, nShards: Int = 16,
          blocklist: Seq[String] = Seq("darn", "heck", "frak"),
          qualityKeep: String = "gopher_keep",
          salt: String = "curate"): CurateResult = {
    val funnel = Seq.newBuilder[(String, Long)]
    // localCheckpoint, not persist: eleven chained stages — several
    // of which JOIN their own input (para rewrite, near-dup keep-first)
    // — grow the logical plan geometrically, and Catalyst re-derives
    // the whole tree per stage (the Components.scala pathology).
    // Checkpointing truncates lineage to the materialized blocks. The
    // checkpoint is lazy and the funnel count is the one job that
    // materializes it; once a stage is counted nothing reads the
    // stage before it, so that stage's blocks are freed. The last
    // stage's blocks back `released`: the session's GraftContext
    // holds them until `Components.releaseAll()`.
    var live: Option[org.apache.spark.rdd.RDD[_]] = None
    def stage(name: String, df: DataFrame): DataFrame = {
      val (rdd, p) = Components.checkpointLazily(df)
      funnel += name -> p.count()
      live.foreach(_.unpersist(false))
      live = Some(rdd)
      p
    }

    val input = stage("input", docs.select(
      col("doc_id"), col("url"), col("source"), col("text")))

    // 1a. first doc per dedup-canonical URL (q82's rule, first = min id)
    val urlDeduped = stage("url_dedup", FirstArrival.keep(input,
      UrlOps.normalizeUrl(col("url")), Seq("doc_id")))

    // 1b. per-domain crawl-diversity cap (q79). Each sampling stage
    // gets its OWN salt: the cap keeps the LOWEST md5(id:salt) ranks
    // per domain, so reusing one salt for the mix would hand the mix
    // a hash range the cap already filtered — a binding cap would
    // make the mix keep ~everything and blow the token budget
    val capped = stage("domain_cap",
      UrlOps.capPerDomain(urlDeduped, "doc_id", "url", maxPerDomain,
        salt + ":cap").drop("domain"))

    // 2. per-doc quality gates, IN PLACE (map-side filter on the rule
    // columns — never a verdict-table re-join): C4 blocklist + Gopher
    val gopherCols = TextOps.gopherRules(col("text")).map(_._1)
    val filtered = stage("quality_filters",
      TextOps.gopherAnnotate(capped, "text")
        .filter(TextOps.blocklistHits(col("text"), blocklist) === 0L &&
          expr(qualityKeep))
        .drop(gopherCols: _*))

    // 3a. within-doc line dedup — map-only in-place rewrite (q89)
    val lineDeduped = stage("line_dedup_indoc",
      TextOps.dedupLinesInPlace(filtered, "text"))

    // 3b. corpus-wide paragraph dedup (first arrival wins)
    val paraDeduped = stage("para_dedup",
      lineDeduped.drop("text")
        .join(TextOps.dedupParagraphs(lineDeduped, "doc_id", "text")
          .withColumnRenamed("text_dedup", "text"), Seq("doc_id"))
        .filter(length(col("text")) > 0))

    // 3c. exact CONTENT dedup on the normalized fingerprint — the
    // rule of dedupByContent (q63), first = min id: case/whitespace
    // re-crawl variants collapse (q06's raw-hash dedup deliberately
    // keeps them distinct — wrong for a release)
    val exactDeduped = stage("exact_dedup", FirstArrival.keep(paraDeduped,
      TextOps.fingerprint64(col("text")), Seq("doc_id")))

    // 3d. near-dup keep-first (bucketed inverted-index Jaccard)
    val pairs = NearDup.jaccardNearDups(exactDeduped, "doc_id", "text",
      threshold = 0.5, maxDocFreq = 10000)
    val nearDeduped = stage("near_dedup",
      NearDup.dedupKeepFirst(exactDeduped, "doc_id", pairs))

    // 4. eval-set decontamination (Bloom prefilter + exact verify)
    val contaminated = TextOps.bloomContamination(nearDeduped, "doc_id",
        "text", evalDocs, "doc_id", "text", n = 3, minShared = 10)
      .select(col("doc").as("doc_id")).distinct()
    val cleanDocs = stage("decontaminated",
      nearDeduped.join(contaminated, Seq("doc_id"), "left_anti"))

    // 5. temperature mix to the token budget, then shard assignment
    val mixed = stage("temperature_mix",
      Mixing.mixByTemperature(cleanDocs, "doc_id", "source", "text",
        budgetTokens, salt + ":mix"))
    val released = Mixing.assignShards(mixed, "doc_id", nShards,
      salt + ":shard")
    live.foreach(graft.GraftContext(docs.sparkSession).trackCheckpoint)

    CurateResult(released, funnel.result())
  }
}
