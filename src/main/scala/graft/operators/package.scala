package graft

package object operators {

  /** The first of `base0`, `base1`, ... that is not a column of `df`:
    * an internal column name that never overwrites a caller's column.
    */
  private[graft] def freshColumn(df: org.apache.spark.sql.DataFrame, base: String): String =
    Iterator.from(0).map(i => s"$base$i").find(c => !df.columns.contains(c)).get
}
