package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One learned merge: at `rank`, the adjacent pair (lhs, rhs) — the
  * most frequent pair over the rank's segmentation state — became one
  * symbol. Public: Catalyst encoders cannot reach private case
  * classes.
  */
case class BpeMerge(rank: Int, lhs: String, rhs: String, pair_count: Long)

/** Segmentation of one distinct word at one merge rank (rank r =
  * the state merge r was CHOSEN from, i.e. before applying it).
  */
case class BpeStageRow(rank: Int, word: String, cnt: Long,
                       pieces: Seq[String])

/** Final segmentation of one distinct word after all merges. */
case class BpeWordSeg(word: String, cnt: Long, pieces: Seq[String])

/** Byte-pair-encoding vocabulary induction (Sennrich et al.,
  * arXiv 1508.07909) — the tokenizer-training step of a training-data
  * pipeline. The corpus-scale work is ONE distributed pass: a word
  * count (hash aggregation on the word — map-side partials collapse
  * each partition to its distinct words before the shuffle). Every
  * subsequent iteration operates on the DISTINCT-WORD table, which is
  * vocabulary-bounded (millions of rows at web scale, the q48/DimIndex
  * bounded-collect regime) — this is also how production BPE trainers
  * are structured: corpus scan once, merge loop over word counts. A
  * `maxWords` cap (count-desc, word-asc tie-break, applied as an
  * in-plan top-K so the driver never sees the excess) bounds both the
  * collect and the loop for adversarial corpora where the
  * distinct-word table itself is huge; dropped words are counted,
  * never silent.
  *
  * Determinism: merge selection is (pair count desc, lhs asc, rhs asc)
  * — the corpus is the only input, so the learned merges are identical
  * on any partitioning/cluster/engine (ASCII/BMP-safe ordering).
  * Pair counting follows the original algorithm: every adjacent
  * position counts (overlapping occurrences included); application is
  * leftmost-greedy non-overlapping, the standard apply.
  */
object BpeTrain {

  /** Sennrich end-of-word marker, appended to a word's final symbol so
    * merges cannot cross word boundaries and the word is recoverable
    * from its pieces.
    */
  val EndMark = "</w>"

  /** Distributed per-word counts — the one corpus-scale pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Code-point symbols with the end marker on the last one. */
  def baseSymbols(word: String): Vector[String] = {
    val syms = word.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp)))
    if (syms.isEmpty) Vector(EndMark)
    else syms.init :+ (syms.last + EndMark)
  }

  /** Leftmost-greedy non-overlapping application of one merge. */
  def applyMerge(pieces: Vector[String], lhs: String,
                 rhs: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < pieces.length) {
      if (i < pieces.length - 1 && pieces(i) == lhs && pieces(i + 1) == rhs) {
        out += lhs + rhs; i += 2
      } else { out += pieces(i); i += 1 }
    }
    out.result()
  }

  /** Segment a word with a learned merge list (rank order — for BPE,
    * sequential application equals priority application because later
    * merges never enable earlier ones).
    */
  def segmentWord(word: String, merges: Seq[BpeMerge]): Vector[String] =
    merges.foldLeft(baseSymbols(word)) { (p, m) =>
      applyMerge(p, m.lhs, m.rhs)
    }

  /** Per-DISTINCT-word segmentation table for a corpus: the right
    * shape for applying a tokenizer at scale — the iterative merge
    * application (a boundary UDF: inherently sequential string
    * surgery) runs once per distinct word of the target corpus
    * (vocabulary-bounded), never once per occurrence; the
    * corpus-scale side stays a broadcast join against this table.
    * Handles words unseen at training time the same way trainers do:
    * base symbols + whatever learned merges apply.
    */
  def segmentTable(words: DataFrame, wordCol: String,
                   merges: Seq[BpeMerge]): DataFrame = {
    val sp = words.sparkSession
    val bc = sp.sparkContext.broadcast(merges.toVector)
    val segUdf = udf((w: String) => segmentWord(w, bc.value))
    words.select(col(wordCol).as("word")).distinct()
      .select(col("word"), segUdf(col("word")).as("pieces"))
  }

  /** Tokenize a corpus with a learned merge list: per-doc word and
    * BPE-piece counts (the sequence-length accounting every training
    * pipeline needs before packing/chunking). One distinct-words
    * aggregation + one broadcast join + one partial-aggregated sum —
    * no per-row UDF on the corpus path.
    */
  def bpeTokenize(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[BpeMerge]): DataFrame = {
    // ONE tokenize+explode pass feeds both consumers (the distinct-word
    // vocabulary the segmentation table derives from, and the corpus
    // occurrence join): without the cache the corpus is scanned and
    // exploded twice
    val tok = graft.GraftContext.persistTracked(
      docs.select(col(idCol).as("doc"),
        explode(TextOps.tokens(col(textCol))).as("word")))
    val seg = segmentTable(tok, "word", merges)
      .select(col("word"), size(col("pieces")).cast("long").as("n_pieces"))
    tok
      .join(broadcast(seg), Seq("word"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_bpe_tokens"))
      .select(col("doc").as(idCol), col("n_words"), col("n_bpe_tokens"))
  }

  /** Trained model: the merge list, per-rank segmentation states (the
    * evidence each merge was the argmax of — what the oracle
    * recomputes), final word segmentations, and the number of distinct
    * words dropped by the `maxWords` cap (0 = exact).
    */
  case class BpeModel(merges: Seq[BpeMerge], stages: Seq[BpeStageRow],
                      segments: Seq[BpeWordSeg], droppedWords: Long) {
    def mergesDf(sp: SparkSession): DataFrame =
      { import sp.implicits._; merges.toDF() }
    def stagesDf(sp: SparkSession): DataFrame =
      { import sp.implicits._; stages.toDF() }
    def segmentsDf(sp: SparkSession): DataFrame =
      { import sp.implicits._; segments.toDF() }
  }

  /** Train `nMerges` merges over the corpus; stop early when the best
    * remaining pair occurs fewer than `minPairCount` times (a merge
    * seen once generalizes to nothing). `recordStages` additionally
    * snapshots the per-rank segmentation states (nMerges × vocabulary
    * rows — the oracle-evidence relation, off by default so plain
    * training callers don't pay for it).
    */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
            minPairCount: Long = 2L,
            maxWords: Int = 1 << 20,
            recordStages: Boolean = false): BpeModel = {
    require(nMerges >= 0, "nMerges must be >= 0")
    require(minPairCount >= 1, "minPairCount must be >= 1")
    require(maxWords >= 1, "maxWords must be >= 1")
    // the cap is applied IN the plan (top-K on count desc, word asc —
    // TakeOrderedAndProject, no full sort), so the driver never holds
    // more than maxWords rows even when the distinct-word table is
    // adversarially huge; the count() pays one extra aggregate job
    // for the droppedWords observability
    val wcDf = wordCounts(docs, textCol)
    val totalWords = wcDf.count()
    val wc = wcDf.orderBy(col("cnt").desc, col("word")).limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var segs = wc.map { case (w, c) => (w, c, baseSymbols(w)) }

    val merges = Vector.newBuilder[BpeMerge]
    val stages = Vector.newBuilder[BpeStageRow]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      segs.foreach { case (_, c, p) =>
        var i = 0
        while (i < p.length - 1) {
          counts.merge((p(i), p(i + 1)), c, _ + _)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var best: ((String, String), Long) = null
        counts.forEach { (pair, c) =>
          if (best == null || c > best._2 ||
            (c == best._2 && Ordering[(String, String)].lt(pair, best._1)))
            best = (pair, c)
        }
        if (best._2 < minPairCount) done = true
        else {
          val ((lhs, rhs), c) = best
          // snapshot the state this merge was chosen from
          if (recordStages) segs.foreach { case (w, cnt, p) =>
            stages += BpeStageRow(r, w, cnt, p)
          }
          merges += BpeMerge(r, lhs, rhs, c)
          segs = segs.map { case (w, cnt, p) =>
            (w, cnt, applyMerge(p, lhs, rhs))
          }
          r += 1
        }
      }
    }
    BpeModel(merges.result(),
      stages.result(),
      segs.map { case (w, c, p) => BpeWordSeg(w, c, p) }.toVector,
      droppedWords = totalWords - wc.length)
  }
}
