package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.model.Turn
import graft.operators._
import graft.sources.Synth

/** End-to-end batch pipeline facade: evidence dim -> filter -> ct ->
  * broadcast index -> per-turn annotation (the reference's entry-point-1
  * call chain, SURVEY.md §3, re-expressed Spark-first).
  */
object Pipeline {

  /** Default knowledge-base scale + configs used by entry/bench. */
  val DefaultGenes = 40
  val DefaultSeed = 42L

  val defaultCt: CtConfig = CtConfig(
    diseaseNameNotIn = Seq("small"),
    diseaseNameIn = Seq("bladder"),
    altDiseaseNames = Seq("cancer", "solid tumor"))

  /** TCGA-driver-style evidence filter (reference:
    * Query_CIViCutils.py:558): drop FUNCTIONAL/ONCOGENIC evidence, keep
    * ACCEPTED, drop GERMLINE origin.
    */
  val defaultFilter: FilterConfig = FilterConfig(
    evidenceTypeNotIn = Seq("FUNCTIONAL", "ONCOGENIC"),
    evidenceStatusIn = Seq("ACCEPTED"),
    varOriginNotIn = Seq("GERMLINE"))

  def buildIndex(spark: SparkSession,
                 nGenes: Int = DefaultGenes,
                 seed: Long = DefaultSeed,
                 filter: FilterConfig = defaultFilter,
                 ct: CtConfig = defaultCt,
                 selectCt: Either[String, Seq[String]] = Left("highest")): Broadcast[DimIndex] = {
    val dim = Synth.evidenceDim(spark, nGenes, seed).toDF()
    val filtered = EvidenceFilter(dim, filter)
    val idx = DimIndex.build(spark, filtered, ct, selectCt)
    spark.sparkContext.broadcast(idx)
  }

  // the default index is immutable per (context, nGenes, seed): memoize
  // so repeated queries don't rebuild + re-broadcast it
  def cachedIndex(spark: SparkSession, nGenes: Int = DefaultGenes,
                  seed: Long = DefaultSeed): Broadcast[DimIndex] = {
    // session bootstrap: JIT/codegen warm-up sweep, once per context
    // (see SessionWarmup — pure code warming, no data any query reuses)
    SessionWarmup.ensure(spark)
    GraftContext(spark).memo(("index", nGenes, seed))(buildIndex(spark, nGenes, seed))
  }

  /** Map-only batch annotation of a turn Dataset. */
  def annotate(turns: Dataset[Turn], bc: Broadcast[DimIndex]): Dataset[Annotation] =
    MatchKernel.annotate(turns, bc)

  /** Flagship end-to-end run on synthesized transcripts.
    *
    * Memoized + persisted per (context, cfg) — the `cachedIndex` /
    * `jaccardPairs` discipline: the annotation relation is
    * deterministic given the session's index and the generator
    * config, and it fans out to ~a dozen consumers (reports, output
    * assembly, cohort stats, SQL surface), several of which consume
    * it twice in one plan (Spark has no cross-branch subtree reuse) —
    * without the persist the kernel re-runs once per consumption.
    * A memo, not a tracked persist: the relation is a session
    * artifact, not a per-query intermediate.
    */
  def run(spark: SparkSession,
          cfg: Synth.TurnGenConfig = Synth.TurnGenConfig(
            nConvs = 100, turnsPerConv = 10, nGenes = DefaultGenes)): DataFrame =
    GraftContext(spark).memo(("run", cfg)) {
      val bc = cachedIndex(spark, cfg.nGenes)
      annotate(Synth.transcripts(spark, cfg), bc).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
}
