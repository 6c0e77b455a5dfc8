package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML → training-text extraction (the C4 / CCNet preprocessing
  * front door): strip markup to visible text, then apply the
  * published C4 line- and document-level boilerplate heuristics
  * (Raffel et al. 1910.10683 §2.2). A real crawl pipeline spends most
  * of its input bytes here, before any dedup or quality pass sees the
  * text.
  *
  * This is deliberately a REGEX extractor, not a DOM parser: it is
  * map-only, codegen-friendly, and every pattern lives in the
  * Java∩RE2 common dialect (the PII-scrub discipline) so a
  * DuckDB/RE2 oracle replays the exact chain. A DOM parser handles
  * pathological nesting better but cannot be cross-engine-verified
  * and is 10-100× the per-row cost — the standard large-crawl
  * extractors (C4 itself, CCNet) made the same trade.
  *
  * All Column functions here are pure projections: zero shuffle at
  * any scale, whole-stage-codegen fused with whatever consumes them.
  */
object HtmlOps {

  /** Minimal entity set that appears in escaped prose; `&amp;` is
    * decoded LAST so `&amp;lt;` correctly yields the literal `&lt;`.
    */
  private val Entities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ",
    "&lt;" -> "<",
    "&gt;" -> ">",
    "&quot;" -> "\"",
    "&#39;" -> "'",
    "&apos;" -> "'",
    "&amp;" -> "&")

  def decodeEntities(c: Column): Column =
    Entities.foldLeft(c) { case (acc, (ent, ch)) =>
      replace(acc, lit(ent), lit(ch))
    }

  /** Visible text of an HTML page, one line per block element:
    * comments/script/style dropped wholesale, block-closing tags
    * become newlines (so paragraph structure survives for the line
    * filter), every remaining tag becomes a space, entities decoded,
    * horizontal whitespace collapsed. Line-level trim/empty-drop is
    * [[textLines]]' job.
    */
  def stripHtml(html: Column): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", " ")
    val noScript =
      regexp_replace(noComment, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val breaks = regexp_replace(noStyle,
      "(?i)<(?:br|/p|/div|/li|/h[1-6]|/tr|/ul|/ol|/table|/blockquote)\\b[^>]*>",
      "\n")
    val noTag = regexp_replace(breaks, "(?s)<[^>]*>", " ")
    regexp_replace(decodeEntities(noTag), "[ \\t\\r]+", " ")
  }

  /** Non-empty trimmed lines of an extracted page. */
  def textLines(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")

  /** C4 policy-boilerplate phrases (doc-drop list in the paper; we
    * apply them per line, the modern refinement — dropping a whole
    * page for a footer line throws away the prose the footer is
    * attached to).
    */
  private val PolicyPhrases =
    Seq("javascript", "terms of use", "privacy policy", "cookie policy",
      "uses cookies")

  /** The C4 line keep-rule: ≥ `minWords` space-separated tokens, ends
    * in terminal punctuation, and mentions no policy boilerplate
    * phrase. Word count is over the collapsed-whitespace canon
    * (single spaces), so `size(split(_, " "))` is exact. The policy
    * check is ONE rlike over an alternation (phrases contain no regex
    * metachars): per-phrase `lower(line).contains` would lowercase the
    * line once per phrase inside the HOF lambda, where codegen
    * subexpression elimination never applies.
    */
  def c4KeepLine(line: Column, minWords: Int = 5): Column = {
    val enoughWords = size(split(line, " ")) >= minWords
    val terminal = line.rlike("[.!?\"]$")
    val noPolicy = !lower(line).rlike(PolicyPhrases.mkString("|"))
    enoughWords && terminal && noPolicy
  }

  /** C4 document keep-rule, applied to the extracted text: no curly
    * brace (code leakage the tag stripper can't have introduced —
    * script/style are already gone, so a `{` is the page's own) and
    * no "lorem ipsum" placeholder.
    */
  def c4KeepDoc(text: Column): Column =
    !text.contains("{") && !lower(text).contains("lorem ipsum")

  /** Full extraction: appends `raw_lines`, `kept_lines`, `doc_keep`,
    * `clean_text` to `df`. Staged as three projections on purpose:
    * the line array and the kept array are multi-referenced non-cheap
    * expressions, so `CollapseProject` keeps the stages separate and
    * the regex chain runs ONCE per row — folding this into a single
    * struct-of-slots Column would re-run `stripHtml` per output slot,
    * because codegen subexpression elimination skips subtrees
    * containing higher-order lambdas (the documented HOF-CSE
    * pathology).
    */
  def extract(df: org.apache.spark.sql.DataFrame, htmlCol: String,
              minWords: Int = 5): org.apache.spark.sql.DataFrame = {
    val outCols = Seq("raw_lines", "kept_lines", "doc_keep", "clean_text")
    val clash = outCols.filter(df.columns.contains)
    require(clash.isEmpty,
      s"input already has extraction column(s): ${clash.mkString(", ")}")
    val lines = freshColumn(df, "_lines")
    val kept = freshColumn(df, "_kept")
    df.withColumn(lines, textLines(stripHtml(col(htmlCol))))
      .withColumn(kept, filter(col(lines), l => c4KeepLine(l, minWords)))
      .withColumn("raw_lines", size(col(lines)).cast("long"))
      .withColumn("kept_lines", size(col(kept)).cast("long"))
      .withColumn("doc_keep", c4KeepDoc(concat_ws("\n", col(lines))))
      .withColumn("clean_text", concat_ws("\n", col(kept)))
      .drop(lines, kept)
  }
}
