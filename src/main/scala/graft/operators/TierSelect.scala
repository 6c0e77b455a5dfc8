package graft.operators

import org.apache.spark.sql.Dataset

/** Tier selection — the reference's `filter_match` / `filter_matches`
  * (reference: civicutils/match.py:945-1052) over annotation rows:
  * "all" (identity), "highest" (first non-empty tier in hierarchy
  * 1 > 1b > 2 > 3, else tier_4), or an explicit tier list; tier_4 is
  * recomputed when every kept tier is empty (match.py:1009-1012).
  */
object TierSelect {

  def validate(sel: Either[String, Seq[String]]): Either[String, Seq[String]] =
    sel match {
      case Left("all") | Left("highest") => sel
      case Left(other) =>
        throw new IllegalArgumentException(
          s"Provided tier selection '$other' is not valid (all|highest|list)")
      case Right(list) =>
        val bad = list.filterNot(graft.model.Tiers.sorted.contains)
        require(bad.isEmpty, s"Unknown tiers in selection: $bad")
        // the full list collapses to "all" (utils.py:362-367)
        if (list.toSet == graft.model.Tiers.sorted.toSet) Left("all")
        else Right(list)
    }

  def apply(ann: Dataset[Annotation],
            sel: Either[String, Seq[String]]): Dataset[Annotation] = {
    import ann.sparkSession.implicits._
    validate(sel) match {
      case Left("highest") => ann.map(_.highestTierOnly)
      case Left(_) => ann // "all"
      case Right(list) =>
        val keep = list.toSet
        ann.map(_.keepTiers(keep))
    }
  }
}
