package graft.operators

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset
import graft.functions.Nomenclature
import graft.model.Turn

/** Per-turn tier annotation: one `Annotation` row per transcript turn
  * (analog of one `match_map` entry + drug support,
  * reference: civicutils/match.py:552-942,1353-1506).
  *
  * Tier lists are ordered by dimension scan order (`dim_order`) — the
  * explicit replacement for the reference's dict insertion order
  * (SURVEY.md §2.6 O4). `drug_support` lists are canonically sorted by
  * (drug, ct rank); the reference's emission order depends on Python
  * set iteration order (match.py:1417 `set(...) ^ set(...)`), which is
  * PYTHONHASHSEED-dependent, so a canonical order is the only
  * reproducible choice — documented deviation.
  */
final case class Annotation(
    conv_id: String,
    turn_idx: Int,
    role: String,
    ts: java.sql.Timestamp,
    gene_key: String,
    data_type: String,
    tier_1: Seq[String],
    tier_1b: Seq[String],
    tier_2: Seq[String],
    tier_3: Seq[String],
    tier_4: Boolean,
    highest_tier: String,
    ds_tier_1: Seq[String],
    ds_tier_1b: Seq[String],
    ds_tier_2: Seq[String],
    ds_tier_3: Seq[String]) {

  /** Keep only the named tiers; tier_4 recomputed when everything kept
    * is empty (reference: filter_match, match.py:972-1012).
    */
  def keepTiers(keep: Set[String]): Annotation = {
    val t1 = if (keep("tier_1")) tier_1 else Nil
    val t1b = if (keep("tier_1b")) tier_1b else Nil
    val t2 = if (keep("tier_2")) tier_2 else Nil
    val t3 = if (keep("tier_3")) tier_3 else Nil
    val t4 = t1.isEmpty && t1b.isEmpty && t2.isEmpty && t3.isEmpty
    val highest =
      if (t1.nonEmpty) "tier_1" else if (t1b.nonEmpty) "tier_1b"
      else if (t2.nonEmpty) "tier_2" else if (t3.nonEmpty) "tier_3" else "tier_4"
    copy(
      tier_1 = t1, tier_1b = t1b, tier_2 = t2, tier_3 = t3, tier_4 = t4,
      highest_tier = highest,
      ds_tier_1 = if (keep("tier_1")) ds_tier_1 else Nil,
      ds_tier_1b = if (keep("tier_1b")) ds_tier_1b else Nil,
      ds_tier_2 = if (keep("tier_2")) ds_tier_2 else Nil,
      ds_tier_3 = if (keep("tier_3")) ds_tier_3 else Nil)
  }

  /** "highest" selection: keep only the first non-empty tier
    * (reference: match.py:981-990).
    */
  def highestTierOnly: Annotation = keepTiers(Set(highest_tier))
}

object MatchKernel {

  /** Tier-3 sentinel ids the kernel emits when a data type has no
    * fallback records (`NON_<dt>_MATCH_ONLY`, match.py:219-310 path).
    * NOT real variant ids: consensus and output-assembly paths must
    * skip them — this is THE shared definition, so the kernel and its
    * consumers cannot drift.
    */
  val TierSentinels: Set[String] =
    Set("SNV", "CNV", "EXPR").map(dt => s"NON_${dt}_MATCH_ONLY")

  /** Parsed payload of one turn. role -> data type dispatch is the
    * transcript analog of the reference's SNV/CNV/EXPR input files
    * (SURVEY.md §1.4; utils.py:71-87).
    */
  final case class Parsed(
      geneKey: String, dataType: String,
      variants: List[String], impacts: List[String], exons: List[String],
      logfc: Double)

  // String.split("\\|") has no single-char fastpath (escaped regex
  // meta) and would Pattern.compile per row on the hot path
  private val PipeSplit = java.util.regex.Pattern.compile("\\|")

  def roleToDataType(role: String): String = role match {
    case "user" => "SNV"
    case "assistant" => "CNV"
    case _ => "EXPR"
  }

  /** The turn's gene key: the uppercased ENTITY of `text` = "ENTITY
    * payload". `parse` derives it here, and `MatchShuffle` joins each
    * turn to its gene's `GeneDim` on it.
    */
  def geneKey(t: Turn): String = {
    val sp = t.text.indexOf(' ')
    require(sp > 0, s"malformed turn text: '${t.text}'")
    t.text.substring(0, sp).toUpperCase
  }

  /** Parse `text` = "ENTITY payload". SNV payload "dna|prot|impact|exon"
    * mirrors the reference's encoded variant key
    * (read_and_write.py:142); CNV payload is the cnv cell; EXPR payload
    * the logFC. Validation mirrors match.py:857-913.
    */
  def parse(t: Turn): Parsed = {
    val gene = geneKey(t)
    val payload = t.text.substring(t.text.indexOf(' ') + 1)
    roleToDataType(t.role) match {
      case "SNV" =>
        val f = PipeSplit.split(payload, -1)
        require(f.length >= 4,
          "Must provide at least 4 fields to describe a SNV variant")
        val cVars = Nomenclature.parseInput(f(0), isRequired = true)
        val pVars = Nomenclature.parseInput(f(1), isRequired = false)
        val variants = mutable.ArrayBuffer.empty[String]
        for (c <- cVars if c.nonEmpty) {
          require(c.toUpperCase.startsWith("C."), s"not a c.HGVS: '$c'")
          if (!variants.contains(c)) variants += c
        }
        for (p <- pVars if p.nonEmpty) {
          require(p.toUpperCase.startsWith("P."), s"not a p.HGVS: '$p'")
          if (!variants.contains(p)) variants += p
        }
        require(variants.nonEmpty,
          "At least one non-empty variant annotation must be provided")
        Parsed(gene, "SNV", variants.toList,
          Nomenclature.parseInput(f(2), isRequired = false),
          Nomenclature.parseInput(f(3), isRequired = false), 0.0)
      case "CNV" =>
        Parsed(gene, "CNV",
          Nomenclature.parseInput(payload, isRequired = true), Nil, Nil, 0.0)
      case _ =>
        val logfc = payload.trim.toDouble
        Parsed(gene, "EXPR", Nil, Nil, Nil, logfc)
    }
  }

  /** Input-side match keys with their tier bits (bit0 = tier_1
    * true-exact, bit1 = tier_1b exact, bit2 = tier_2 positional) and
    * index domain: the turn side of the match, which `annotateTurn`
    * probes against the gene's `GeneDim`. The `CNV_EXON` domain is the
    * positional probe an input DELETION makes against exon-CNV records
    * (match.py:627-638).
    */
  private def keyBits(p: Parsed): List[(String, String, Int)] = p.dataType match {
    case "SNV" =>
      Nomenclature.inputMatchStrings(p.variants, "SNV", p.impacts, p.exons)
        .map(k => ("SNV", k.s, if (k.isExact) { if (k.isTrueExact) 1 else 2 } else 4))
    case "CNV" =>
      Nomenclature.inputMatchStrings(p.variants, "CNV").flatMap(k =>
        ("CNV", k.s, 1) ::
          (if (k.s == "DELETION") List(("CNV_EXON", "DELETION", 4)) else Nil))
    case _ =>
      Nomenclature.getExpressionStrings(p.geneKey, p.logfc)
        .map(s => ("EXPR", s, 1))
  }

  /** The tier-resolution kernel for one turn against the broadcast
    * index — pure function, zero shuffle.
    */
  def annotateTurn(t: Turn, idx: DimIndex): Annotation =
    annotateTurn(t, idx.genes.get(geneKey(t)))

  /** The tier-resolution kernel for one turn given its gene's
    * dimension (None: the gene is absent from it), the one copy of the
    * tier and consensus rules both annotation regimes run (reference
    * kernels: match.py:552-679 SNV/CNV, match.py:682-747 EXPR).
    */
  def annotateTurn(t: Turn, gene: Option[GeneDim]): Annotation = {
    val p = parse(t)

    gene match {
      case None =>
        // gene absent from the dimension -> tier_4 (match.py:672-678)
        Annotation(t.conv_id, t.turn_idx, t.role, t.ts, p.geneKey, p.dataType,
          Nil, Nil, Nil, Nil, tier_4 = true, "tier_4", Nil, Nil, Nil, Nil)
      case Some(gd) =>
        // per-variant tier membership as bit flags (bit0=t1, bit1=t1b,
        // bit2=t2) -- one small int array per row instead of tree sets
        // (the kernel is the hot path at 10^12 turns: allocation-free
        // accumulation keeps 32 cores out of GC contention)
        val nVars = gd.varIds.length
        val flags = new Array[Int](nVars)
        @inline def mark(ps: Array[Int], bit: Int): Unit = {
          var i = 0; while (i < ps.length) { flags(ps(i)) |= bit; i += 1 }
        }
        for ((domain, s, bit) <- keyBits(p)) domain match {
          case "SNV" => gd.snvIndex.get(s).foreach(mark(_, bit))
          case "CNV" => gd.cnvIndex.get(s).foreach(mark(_, bit))
          case "CNV_EXON" => mark(gd.exonCnvPositions, bit)
          case _ => gd.exprIndex.get(s).foreach(mark(_, bit))
        }
        // general-variant promotion: first (scan-order) general bucket
        // wins the positional tier (match.py:644-652)
        if (p.dataType == "SNV") {
          var firstGeneral = -1
          var i = 0
          while (i < nVars && firstGeneral < 0) {
            if ((flags(i) & 4) != 0 && gd.isGeneral(i)) firstGeneral = i
            i += 1
          }
          if (firstGeneral >= 0) {
            i = 0
            while (i < nVars) { if (i != firstGeneral) flags(i) &= ~4; i += 1 }
          }
        }
        var any1 = false; var any1b = false; var any2 = false
        locally {
          var i = 0
          while (i < nVars) {
            val f = flags(i)
            any1 ||= (f & 1) != 0; any1b ||= (f & 2) != 0; any2 ||= (f & 4) != 0
            i += 1
          }
        }

        var t3: Array[Int] = Array.emptyIntArray
        var t3Sentinel: String = null
        if (!any1 && !any1b && !any2) {
          val fb = p.dataType match {
            case "SNV" => gd.snvFallback
            case "CNV" => gd.cnvFallback
            case _ => gd.exprFallback
          }
          if (fb.nonEmpty) t3 = fb
          else t3Sentinel = s"NON_${p.dataType}_MATCH_ONLY"
        }

        def idsOf(bit: Int): Seq[String] = {
          val out = List.newBuilder[String]
          var i = 0
          while (i < nVars) { if ((flags(i) & bit) != 0) out += gd.varIds(i); i += 1 }
          out.result()
        }
        def idsArr(ps: Array[Int]): Seq[String] = {
          val out = List.newBuilder[String]
          var i = 0
          while (i < ps.length) { out += gd.varIds(ps(i)); i += 1 }
          out.result()
        }
        // consensus vote: flat-array accumulation over the per-variant
        // precomputed count vectors (match.py:1459-1493), canonical
        // (drug, ct) output order
        def supportWhere(member: Int => Boolean): Seq[String] = {
          val nDc = gd.drugCtPrefix.length
          if (nDc == 0) return Nil
          var acc: Array[Long] = null
          var i = 0
          while (i < nVars) {
            if (member(i)) {
              val idxs = gd.varSupIdx(i)
              if (idxs.length > 0) {
                if (acc == null) acc = new Array[Long](4 * nDc)
                val cnts = gd.varSupCnt(i)
                var j = 0
                while (j < idxs.length) {
                  val o = 4 * idxs(j); val co = 4 * j
                  acc(o) += cnts(co); acc(o + 1) += cnts(co + 1)
                  acc(o + 2) += cnts(co + 2); acc(o + 3) += cnts(co + 3)
                  j += 1
                }
              }
            }
            i += 1
          }
          if (acc == null) return Nil
          val out = List.newBuilder[String]
          var j = 0
          while (j < nDc) {
            val o = 4 * j
            if (acc(o) + acc(o + 1) + acc(o + 2) + acc(o + 3) > 0)
              out += gd.drugCtPrefix(j) +
                Nomenclature.consensus(acc(o), acc(o + 1), acc(o + 2), acc(o + 3))
            j += 1
          }
          out.result()
        }

        val tier3Ids: Seq[String] =
          if (t3Sentinel != null) List(t3Sentinel) else idsArr(t3)
        val tier4 = !any1 && !any1b && !any2 && tier3Ids.isEmpty
        val highest =
          if (any1) "tier_1" else if (any1b) "tier_1b"
          else if (any2) "tier_2" else if (tier3Ids.nonEmpty) "tier_3"
          else "tier_4"
        val t3Flags = new Array[Boolean](nVars)
        locally { var i = 0; while (i < t3.length) { t3Flags(t3(i)) = true; i += 1 } }
        Annotation(t.conv_id, t.turn_idx, t.role, t.ts, p.geneKey, p.dataType,
          idsOf(1), idsOf(2), idsOf(4), tier3Ids, tier4, highest,
          supportWhere(i => (flags(i) & 1) != 0),
          supportWhere(i => (flags(i) & 2) != 0),
          supportWhere(i => (flags(i) & 4) != 0),
          if (t3Sentinel != null || t3.isEmpty) Nil
          else supportWhere(i => t3Flags(i)))
    }
  }

  /** Distributed map-only annotation over a typed turn Dataset.
    * The broadcast is dereferenced ONCE per partition: `bc.value` holds
    * the index behind a SoftReference, and per-row derefs can trigger
    * repeated synchronized re-reads under GC pressure, serializing all
    * cores (observed: kernel throughput capped at ~2.8M rows/s at 32
    * cores until hoisted).
    */
  def annotate(turns: Dataset[Turn], bc: Broadcast[DimIndex]): Dataset[Annotation] = {
    import turns.sparkSession.implicits._
    turns.mapPartitions { it =>
      val idx = bc.value
      it.map(t => annotateTurn(t, idx))
    }
  }
}
