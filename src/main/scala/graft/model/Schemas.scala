package graft.model

import java.sql.Timestamp

/** Core typed schemas of the engine.
  *
  * The reference keeps four nested string-keyed dicts (reference:
  * civicutils/query.py:97-258, read_and_write.py:84-150); here every
  * relation is a flat, columnar Dataset so Catalyst can push filters,
  * prune columns and pick join strategies.
  */

/** One transcript turn — the streaming fact row (BASELINE.json
  * input_hint). `conv_id` is the grouping/join key (analog of the
  * reference's `Gene` column), `turn_idx` the stable ordering token
  * (analog of `n_line`, reference: read_and_write.py:120).
  *
  * `text` carries the matchable payload:
  *   role=user      -> SNV-like  "ENTITY dna|prot|impact|exon"
  *   role=assistant -> CNV-like  "ENTITY cnv"
  *   role=tool      -> EXPR-like "ENTITY logfc"
  * where multi-values inside a field are comma-separated with no spaces
  * (reference input format: README.md:43-46).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** One leaf evidence item of the knowledge-base dimension — the flat
  * form of the reference's 9-level `var_map` dict (reference:
  * civicutils/query.py:97-258). One row per evidence-item string
  * (the innermost list element, query.py:258).
  *
  * `dim_order` is the dimension scan order: the reference's semantics
  * silently depend on dict insertion order (e.g. the first general
  * variant wins, match.py:650-652); Spark has no insertion order, so
  * the order is made explicit here and used as the deterministic sort
  * key everywhere the reference relies on first-seen.
  */
final case class EvidenceRow(
    gene_key: String,
    var_id: String,
    var_name: String,
    hgvs: Seq[String],
    var_types: Seq[String],
    dim_order: Long,
    mp_id: String,
    mp_name: String,
    civic_score: Double,
    n_evidence_items: Int,
    evidence_type: String,
    disease: String,
    drug: String,
    direction: String,
    significance: String,
    level: String,
    source_type: String,
    source_id: String,
    evidence_status: String,
    source_status: String,
    variant_origin: String,
    rating: Option[Double])

/** One consensus drug-support annotation for a (record, tier)
  * (reference: match.py:1353-1506). Rendered as "DRUG:CT:RESULT".
  */
final case class DrugSupport(
    drug: String,
    ct: String,
    support: String,
    n_pos: Long,
    n_neg: Long,
    n_unk: Long,
    n_dns: Long) {
  def short: String = s"$drug:${ct.toUpperCase}:$support"
  def long: String = s"$drug:${ct.toUpperCase}:$support:$n_pos|$n_neg|$n_unk|$n_dns"
}

/** Tier ranks used for hierarchical selection (reference hierarchy
  * tier_1 > tier_1b > tier_2 > tier_3 > tier_4, match.py:821).
  */
object Tiers {
  val sorted: Seq[String] = Seq("tier_1", "tier_1b", "tier_2", "tier_3", "tier_4")
  val rank: Map[String, Int] = sorted.zipWithIndex.toMap
}

/** Cancer-type-specificity ranks ct > gt > nct (match.py:1363). */
object Cts {
  val sorted: Seq[String] = Seq("ct", "gt", "nct")
  val rank: Map[String, Int] = sorted.zipWithIndex.toMap
}
