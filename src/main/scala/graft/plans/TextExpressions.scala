package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass kernels for the near-dup signatures, registered as
  * SQL functions by [[GraftFunctions.register]].
  *
  * The composed-Column forms (64 filter/size passes for SimHash, k
  * array_min/transform passes for MinHash) re-walk the token/shingle
  * array once per output slot — measured 21.5 s / 7.6 s on the sf0.1
  * bench. These kernels compute the same signatures in ONE pass
  * inside whole-stage codegen; at 100 TB the signature step is
  * fact-side map work, so per-row constant factors dominate the bill.
  */
/** Locale/charclass-stable tokenization primitives shared by the native
  * text kernels. The declarative reference forms (and the DuckDB
  * oracle) tokenize with locale-independent lower() and the Java regex
  * \\s class — default-locale String.toLowerCase (Turkish dotted-I) and
  * Character.isWhitespace (U+2028, U+001C...) both drift from that on
  * non-ASCII input, so the native forms must pin Locale.ROOT and the
  * exact [ \\t\\n\\x0B\\f\\r] class.
  */
object TextNorm {
  @inline def isWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')
  @inline def lower(u: UTF8String): String =
    u.toString.toLowerCase(java.util.Locale.ROOT)
}

object SimHashHelper {
  /** splitmix64 of a token's chars — stateless, allocation-free. */
  def tokenHash(s: String, from: Int, until: Int): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = from
    while (i < until) {
      h = (h ^ s.charAt(i).toLong) * 0xBF58476D1CE4E5B9L
      i += 1
    }
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  /** One-pass 64-bit SimHash over whitespace tokens of the lowercased
    * text: bit i set when the majority of token hashes carry bit i.
    */
  def eval(u: UTF8String): Long = {
    val s = TextNorm.lower(u)
    val counts = new Array[Int](64)
    var n = 0
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && TextNorm.isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !TextNorm.isWs(s.charAt(i))) i += 1
      if (i > start) {
        val h = tokenHash(s, start, i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        n += 1
      }
    }
    if (n == 0) return 0L
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

object MinHashHelper {
  /** One-pass k-slot minhash over a long-array of shingles. */
  def eval(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = shingles.getLong(i)
      var j = 0
      while (j < k) {
        var z = s ^ (j * 0x9E3779B97F4A7C15L)
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= (z >>> 31)
        if (z < mins(j)) mins(j) = z
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Shared token-span scan + per-window hash fold for the span-based
  * one-pass kernels (ShinglesHelper, WindowHashesHelper) — ONE
  * definition of the tokenization convention (trim+lower, \s+ split,
  * empty text ≙ one empty token) and of the splitmix-style window
  * mixing, so a change to either cannot silently diverge between the
  * forms the parity specs pin. SimHashHelper deliberately keeps its
  * own streaming loop (no span lists — allocation-free by design).
  */
object TokenWindowHash {
  final class Spans(val s: String,
                    val starts: java.util.ArrayList[Integer],
                    val ends: java.util.ArrayList[Integer]) {
    /** max(token count, 1): empty text behaves like `split`'s single
      * empty token.
      */
    def nTok: Int = math.max(starts.size, 1)
  }

  /** Whitespace token spans over the trimmed+lowercased text. */
  def scan(u: UTF8String): Spans = {
    val s = TextNorm.lower(u)
    val len = s.length
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < len) {
      while (i < len && TextNorm.isWs(s.charAt(i))) i += 1
      val st = i
      while (i < len && !TextNorm.isWs(s.charAt(i))) i += 1
      if (i > st) { starts.add(st); ends.add(i) }
    }
    new Spans(s, starts, ends)
  }

  /** Hash of tokens [from, until) joined by one space — identical to
    * xxhash-free splitmix folding of the joined window string, with
    * the out-of-range guard realizing the empty-token convention.
    */
  def hashWindow(sp: Spans, from: Int, until: Int): Long = {
    var h = 0x9E3779B97F4A7C15L
    var t = from
    while (t < until) {
      if (t > from) h = (h ^ ' '.toLong) * 0xBF58476D1CE4E5B9L
      if (t < sp.starts.size) {
        var c = sp.starts.get(t).intValue()
        val e = sp.ends.get(t).intValue()
        while (c < e) {
          h = (h ^ sp.s.charAt(c).toLong) * 0xBF58476D1CE4E5B9L
          c += 1
        }
      }
      t += 1
    }
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }
}

object ShinglesHelper {
  /** One-pass hashed word n-gram shingles, replicating the declarative
    * form's semantics exactly: tokens = whitespace split of the
    * trimmed+lowercased text (zero tokens behave like the single empty
    * token `split` produces on an empty string), shingle i = tokens
    * [i, min(i+n, len)) joined by one space, number of shingles =
    * max(len-n, 0)+1, result deduplicated.
    *
    * The composed-Column form re-ran the regex tokenizer once per
    * shingle index (O(tokens²) regex work per row — measured 5.6 s for
    * a 5k-doc pass); this is O(chars·n) with no allocation per shingle.
    */
  def eval(u: UTF8String, n: Int): ArrayData = {
    val sp = TokenWindowHash.scan(u)
    val nTok = sp.nTok
    val nSh = math.max(nTok - n, 0) + 1
    val out = new Array[Long](nSh)
    var p = 0
    while (p < nSh) {
      out(p) = TokenWindowHash.hashWindow(sp, p, math.min(p + n, nTok))
      p += 1
    }
    // distinct (order-insensitive consumers: jaccard set ops, minhash)
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < nSh) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }
}

object WindowHashesHelper {
  /** Positional variant of [[ShinglesHelper.eval]] for the duplicate-
    * span pass (SpanDedup): in-order, NOT deduplicated, FULL windows
    * only — out(p) is the hash of tokens [p, p+k), length
    * max(nTok-k+1, 0) (fewer than k tokens ⇒ empty array, so
    * posexplode drops the row). Same tokenization convention as
    * ShinglesHelper (trim+lower, \s+ split) so positions index the
    * same token array as `TextOps.tokens`; same per-window mixing.
    *
    * The composed-Column form this replaces (transform over
    * sequence(0, size-k) with slice+concat_ws+xxhash64 per slot)
    * materializes every window as a string — O(tokens·k) allocation
    * per row; this is one allocation-free scan.
    */
  def eval(u: UTF8String, k: Int): ArrayData = {
    val sp = TokenWindowHash.scan(u)
    val nWin = math.max(sp.nTok - k + 1, 0)
    val out = new Array[Long](nWin)
    var p = 0
    while (p < nWin) {
      out(p) = TokenWindowHash.hashWindow(sp, p, p + k)
      p += 1
    }
    new GenericArrayData(out)
  }
}

object RepStatsHelper {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** One-pass word n-gram repetition stats over the tokenized text:
    * (n_grams, n_distinct, max_count) where grams are the NON-distinct
    * in-order windows of the same tokenization/windowing convention as
    * ShinglesHelper (trim+lower, \s+ split, max(nTok-n,0)+1 windows,
    * partial final windows clamped). These are the Gopher/C4-style
    * repetition signals: dup-ngram fraction = 1 - distinct/total,
    * top-ngram fraction = max/total — high values mark boilerplate and
    * degenerate repetition in a pretraining corpus.
    *
    * Counting is over 64-bit gram hashes (splitmix chain identical to
    * ShinglesHelper), not gram strings: a cross-gram collision inside
    * ONE document would be needed to drift from the string-counting
    * oracle (~n_grams²/2^64 per doc — negligible).
    *
    * The composed-Column counterpart walks the gram array once per
    * distinct gram (O(grams·distinct) interpreted lambda evals per
    * row); this is one pass with a small open-addressing table.
    */
  def eval(u: UTF8String, n: Int): InternalRow = {
    val s = TextNorm.lower(u)
    val len = s.length
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < len) {
      while (i < len && TextNorm.isWs(s.charAt(i))) i += 1
      val st = i
      while (i < len && !TextNorm.isWs(s.charAt(i))) i += 1
      if (i > st) { starts.add(st); ends.add(i) }
    }
    val nTok = math.max(starts.size, 1) // empty text ≙ one empty token
    val nGrams = math.max(nTok - n, 0) + 1
    val counts = new java.util.HashMap[java.lang.Long, Integer](nGrams * 2)
    var maxCount = 0
    var p = 0
    while (p < nGrams) {
      var h = 0x9E3779B97F4A7C15L
      var t = p
      val tEnd = math.min(p + n, nTok)
      while (t < tEnd) {
        if (t > p) h = (h ^ ' '.toLong) * 0xBF58476D1CE4E5B9L
        if (t < starts.size) {
          var c = starts.get(t).intValue()
          val e = ends.get(t).intValue()
          while (c < e) {
            h = (h ^ s.charAt(c).toLong) * 0xBF58476D1CE4E5B9L
            c += 1
          }
        }
        t += 1
      }
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      h ^= (h >>> 31)
      val prev = counts.get(h)
      val cnt = (if (prev == null) 0 else prev.intValue()) + 1
      counts.put(h, cnt)
      if (cnt > maxCount) maxCount = cnt
      p += 1
    }
    new GenericInternalRow(Array[Any](nGrams, counts.size(), maxCount))
  }
}

object HashEmbeddingHelper {
  /** Feature-hashed text embedding over DISTINCT word-3-gram shingles
    * (ShinglesHelper): each shingle hash maps to a (slot, ±1) update of
    * a `dim`-dim vector, L2-normalized floats out. Shingle (not token)
    * features are what make this usable for near-dup detection: token
    * features are dominated by the shared vocabulary, so every pair of
    * documents is moderately similar and LSH cannot prune (measured:
    * 10.7 M of 12.5 M possible pairs bucketed together at sf0.1);
    * distinct-3-gram ±1 features give E[cos]≈0 for unrelated docs and
    * cos ≈ 2J/(1+J) for Jaccard-J near-dups. Slot 0 carries a tiny
    * bias (1e-3) so no text produces the all-zero vector (whose NaN
    * cosines compare differently across engines).
    */
  def eval(u: UTF8String, dim: Int): ArrayData = {
    val sh = ShinglesHelper.eval(u, 3)
    val acc = new Array[Double](dim)
    acc(0) = 1e-3
    var i = 0
    val n = sh.numElements()
    while (i < n) {
      val h = sh.getLong(i)
      val slot = (((h >>> 1) % dim) + dim) % dim
      acc(slot.toInt) += ((h & 1L) * 2 - 1).toDouble
      i += 1
    }
    var n2 = 0.0
    var j = 0
    while (j < dim) { n2 += acc(j) * acc(j); j += 1 }
    val inv = 1.0 / math.sqrt(n2)
    val out = new Array[Float](dim)
    j = 0
    while (j < dim) { out(j) = (acc(j) * inv).toFloat; j += 1 }
    new GenericArrayData(out)
  }
}

object QuantizedCosineHelper {
  /** One-pass quantized cosine over two float arrays — bit-identical
    * to Similarity.quantizedCosineColumnar (per-slot round(x*1000) as
    * long, exact integer dot + norms, then IEEE divide/sqrt): the
    * composed aggregate/zip_with form walks both arrays three times
    * through interpreted lambdas, which dominated the embedding
    * near-dup verification (minutes for millions of candidate pairs).
    */
  def eval(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(n == b.numElements(),
      "quantized_cosine requires equal-length vectors")
    var qd = 0L; var qa = 0L; var qb = 0L
    var i = 0
    while (i < n) {
      val x = q(a.getFloat(i))
      val y = q(b.getFloat(i))
      qd += x * y; qa += x * x; qb += y * y
      i += 1
    }
    qd.toDouble / math.sqrt((qa * qb).toDouble)
  }

  /** HALF_UP (away-from-zero) tie rounding, matching Spark's round()
    * and DuckDB's round() — Math.round alone ties toward +inf, which
    * diverges on negative .5 boundaries.
    */
  @inline private def q(f: Float): Long = {
    val v = f.toDouble * 1000
    if (v >= 0) java.lang.Math.round(v) else -java.lang.Math.round(-v)
  }
}

object QuantizedDotHelper {
  /** One-pass integer-quantized dot product (fixed scale 1000),
    * bit-identical to the aggregate/zip_with Column form: per-slot
    * HALF_UP round to long, exact 64-bit accumulation. The composed
    * form walks both arrays through interpreted lambdas — it dominated
    * q10's brute-force scoring pass.
    */
  def eval(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    require(n == b.numElements(), "quantized_dot requires equal-length vectors")
    var qd = 0L
    var i = 0
    while (i < n) {
      qd += q(a.getFloat(i)) * q(b.getFloat(i))
      i += 1
    }
    qd
  }

  @inline private def q(f: Float): Long = {
    val v = f.toDouble * 1000
    if (v >= 0) java.lang.Math.round(v) else -java.lang.Math.round(-v)
  }
}

object LangIdHelper {
  // MUST mirror TextOps.langProfiles exactly (the declarative form and
  // the DuckDB oracle both derive from that table)
  private val profiles: Array[(String, java.util.HashSet[String])] =
    Array(
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "von", "mit", "ein", "zu"),
      "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "it"),
      "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "dans", "une", "que"),
      "es" -> Seq("el", "la", "los", "y", "es", "no", "por", "para", "una", "que"))
      .map { case (l, ws) =>
        val s = new java.util.HashSet[String]()
        ws.foreach(s.add)
        (l, s)
      }
  private val und = UTF8String.fromString("und")
  private val names = profiles.map(p => UTF8String.fromString(p._1))

  /** One-pass stopword-profile language id; ties resolve to the
    * alphabetically-last language with a positive best score, exactly
    * as the declarative foldLeft does (outermost when() = last lang).
    */
  def eval(u: UTF8String): UTF8String = {
    val s = TextNorm.lower(u)
    val counts = new Array[Int](profiles.length)
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && TextNorm.isWs(s.charAt(i))) i += 1
      val st = i
      while (i < len && !TextNorm.isWs(s.charAt(i))) i += 1
      if (i > st) {
        val tok = s.substring(st, i)
        var p = 0
        while (p < profiles.length) {
          if (profiles(p)._2.contains(tok)) counts(p) += 1
          p += 1
        }
      }
    }
    var best = 0
    var p = 0
    while (p < counts.length) { if (counts(p) > best) best = counts(p); p += 1 }
    if (best == 0) return und
    // alphabetical order is de,en,es,fr; last with score==best wins
    var win = -1
    p = 0
    val order = Array(0, 1, 3, 2) // indices of (de,en,es,fr) in `profiles`
    while (p < order.length) { if (counts(order(p)) == best) win = order(p); p += 1 }
    names(win)
  }
}

object HyperplaneMultiHelper {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** All `nTables` hyperplane signatures (seeds seedBase..seedBase+
    * nTables-1) in ONE pass over the vector, each BIT-IDENTICAL to
    * Similarity.hyperplaneSigColumnar at its seed (pinned in PlansSpec):
    * bit j = sign of sum_i vec(i) * (±1), where the ±1 is the parity of
    * xxhash64(i, j, seed) exactly as the xxhash64 expression folds int
    * children from its 42 seed, and sequential double summation in
    * ascending slot order matches `aggregate`'s left fold. The xxhash
    * chain is hashInt(i,42) -> hashInt(j,·) -> hashInt(seed,·), so the
    * first two links depend only on (slot, bit) and are hoisted out of
    * the table loop — 3x fewer hashes than one signature per table
    * (dim·nBits·nTables·3 -> dim·nBits·(2 + nTables)) and one vector
    * traversal instead of nTables. This is the LSH signature hot path:
    * at 100 TB the signature step is fact-side map work, so per-row
    * constant factors dominate the bill.
    */
  def eval(vec: ArrayData, nBits: Int, nTables: Int, seedBase: Int): ArrayData = {
    val n = vec.numElements()
    val sums = new Array[Double](nBits * nTables)
    var i = 0
    while (i < n) {
      val x = vec.getFloat(i).toDouble
      val h1 = XXH64.hashInt(i, 42L)
      var j = 0
      while (j < nBits) {
        val h2 = XXH64.hashInt(j, h1)
        var t = 0
        while (t < nTables) {
          val h = XXH64.hashInt(seedBase + t, h2)
          val s = x * ((h & 1L) * 2 - 1).toDouble
          sums(t * nBits + j) += s
          t += 1
        }
        j += 1
      }
      i += 1
    }
    val out = new Array[Int](nTables)
    var t = 0
    while (t < nTables) {
      var sig = 0
      var j = 0
      while (j < nBits) {
        if (sums(t * nBits + j) > 0) sig |= (1 << j)
        j += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** Bloom-filter primitives over 64-bit keys (already-hashed shingles).
  * Classic double hashing (Kirsch–Mitzenmacher): probe i lands at
  * h + i·h2 with h2 an odd golden-ratio mix of h, so one upstream
  * xxhash64 feeds every probe. The bit count is a power of two so the
  * modulus is a mask. Set/probe share the exact same position
  * sequence — the property the prefilter's zero-false-negative
  * guarantee rests on.
  */
object BloomHelper {
  @inline private def stride(h: Long): Long = (h * 0x9E3779B97F4A7C15L) | 1L
  def set(h: Long, bm: Array[Long], probes: Int): Unit = {
    val mask = bm.length.toLong * 64L - 1L
    val h2 = stride(h)
    var i = 0
    while (i < probes) {
      val pos = (h + i * h2) & mask
      bm((pos >>> 6).toInt) |= 1L << (pos & 63L)
      i += 1
    }
  }
  def contains(h: Long, bm: Array[Long], probes: Int): Boolean = {
    val mask = bm.length.toLong * 64L - 1L
    val h2 = stride(h)
    var i = 0
    while (i < probes) {
      val pos = (h + i * h2) & mask
      if ((bm((pos >>> 6).toInt) & (1L << (pos & 63L))) == 0L) return false
      i += 1
    }
    true
  }
  def anyContain(arr: ArrayData, bm: Array[Long], probes: Int): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (contains(arr.getLong(i), bm, probes)) return true
      i += 1
    }
    false
  }
}

/** Distributed Bloom fit: per-partition bitmaps OR-merged — commutative
  * and idempotent, so the result is identical on any partitioning and
  * duplicate keys are free. One aggregation pass over the key column;
  * the driver receives only the `words`-long bitmap (bits/8 bytes),
  * never the key set.
  */
class BloomFitAgg(words: Int, probes: Int)
    extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Array[Long]] {
  override def zero: Array[Long] = new Array[Long](words)
  override def reduce(b: Array[Long], h: Long): Array[Long] = {
    BloomHelper.set(h, b, probes); b
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < words) { a(i) |= b(i); i += 1 }
    a
  }
  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

/** True iff ANY key in the array probes positive — the doc-level
  * prefilter: a clean document short-circuits without allocating or
  * exploding its shingle array. The bitmap rides to executors as a
  * plan reference object (one copy per task binary, like a broadcast
  * of the same size), not per-row state.
  */
case class BloomAnyContainExpression(child: Expression, bitmap: Array[Long],
    probes: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_any_contain"
  override def nullSafeEval(v: Any): Any =
    BloomHelper.anyContain(v.asInstanceOf[ArrayData], bitmap, probes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bm = ctx.addReferenceObj("bloomBits", bitmap, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.BloomHelper$$.MODULE$$.anyContain($c, $bm, $probes);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The quantized PCA projection `pca_project_q` (`Pca.project`): the
  * centered, quantized vector times the quantized rotation rows, in
  * exact integer arithmetic. Like `bloom_any_contain`, its arrays (the
  * mean and the rotation) ride as reference objects of the generated
  * code, not as per-row arguments.
  */
object PcaProjectHelper {
  def eval(v: ArrayData, mbar: Array[Long], rot: Array[Long], k: Int,
      scale: Int): ArrayData = {
    val dim = mbar.length
    require(v.numElements() == dim,
      s"pca_project_q expected dim=$dim, got ${v.numElements()}")
    val centered = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      val x = v.getFloat(i).toDouble * scale
      val q = if (x >= 0) java.lang.Math.round(x) else -java.lang.Math.round(-x)
      centered(i) = q - mbar(i)
      i += 1
    }
    val out = new Array[Long](k)
    var c = 0
    while (c < k) {
      var acc = 0L
      val base = c * dim
      i = 0
      while (i < dim) {
        acc += centered(i) * rot(base + i)
        i += 1
      }
      out(c) = acc
      c += 1
    }
    new GenericArrayData(out)
  }
}

case class PcaProjectExpression(child: Expression, mbar: Array[Long],
    rot: Array[Long], k: Int, scale: Int) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pca_project_q"
  override def nullSafeEval(v: Any): Any =
    PcaProjectHelper.eval(v.asInstanceOf[ArrayData], mbar, rot, k, scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mb = ctx.addReferenceObj("pcaMbar", mbar, "long[]")
    val rt = ctx.addReferenceObj("pcaRot", rot, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.PcaProjectHelper$$.MODULE$$" +
        s".eval($c, $mb, $rt, $k, $scale);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column API of the native kernels: each call registers them on
  * the session's first use ([[GraftFunctions.register]]) and names its
  * kernel through the session's function registry — Column->Expression
  * construction is not public in Spark 4.
  */
object TextExprs {
  import org.apache.spark.sql.functions.{call_function, lit}

  private def call(spark: SparkSession, name: String, args: Column*): Column = {
    GraftFunctions.register(spark)
    call_function(name, args: _*)
  }

  def simhash64(spark: SparkSession, c: Column): Column =
    call(spark, "simhash64", c)
  def minhashSig(spark: SparkSession, c: Column, k: Int): Column =
    call(spark, "minhash_sig", c, lit(k))
  def windowHashes(spark: SparkSession, c: Column, k: Int): Column =
    call(spark, "window_hashes", c, lit(k))
  def shinglesHashed(spark: SparkSession, c: Column, n: Int): Column =
    call(spark, "shingles_hashed", c, lit(n))
  def ngramRepStats(spark: SparkSession, c: Column, n: Int): Column =
    call(spark, "ngram_rep_stats", c, lit(n))
  def langid(spark: SparkSession, c: Column): Column =
    call(spark, "langid", c)
  def hashEmbedding(spark: SparkSession, c: Column, dim: Int): Column =
    call(spark, "hash_embedding", c, lit(dim))
  def quantizedCosine(spark: SparkSession, a: Column, b: Column): Column =
    call(spark, "quantized_cosine", a, b)
  def quantizedDot(spark: SparkSession, a: Column, b: Column): Column =
    call(spark, "quantized_dot", a, b)
  def hyperplaneSigs(spark: SparkSession, c: Column, nBits: Int,
      nTables: Int, seedBase: Int): Column =
    call(spark, "hyperplane_sigs", c, lit(nBits), lit(nTables), lit(seedBase))
  def bloomAnyContain(spark: SparkSession, c: Column, bitmap: Array[Long],
      probes: Int): Column =
    call(spark, "bloom_any_contain", c, lit(bitmap), lit(probes))
  def pcaProject(spark: SparkSession, c: Column, mbar: Array[Long],
      rot: Array[Long], k: Int, scale: Int): Column =
    call(spark, "pca_project_q", c, lit(mbar), lit(rot), lit(k), lit(scale))
}
