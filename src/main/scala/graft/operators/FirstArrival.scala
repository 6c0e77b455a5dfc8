package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one exact keep-first dedup rule of the engine: per `key`, the
  * first arrival survives and every later row is dropped.
  *
  *  - A streaming input drops later arrivals with
  *    `dropDuplicatesWithinWatermark` on the key: state is one key per
  *    distinct value, aged by the input's watermark (the caller applies
  *    `withWatermark` — on a batch Dataset Spark removes it during
  *    analysis, so callers never fork on `isStreaming`).
  *  - A batch input keeps, per key, the row with the least `order`
  *    (`min_by` of the whole row by the order struct): deterministic on
  *    any partitioning when `order` is unique, and the NULL key keeps
  *    one survivor too.
  *
  * The output has the input's columns in the input's order.
  */
object FirstArrival {

  def keep(df: DataFrame, key: Column, order: Seq[String]): DataFrame =
    if (df.isStreaming) {
      val k = freshColumn(df, "_first_key")
      df.withColumn(k, key).dropDuplicatesWithinWatermark(k).drop(k)
    } else
      df.groupBy(key)
        .agg(min_by(struct(df.columns.toIndexedSeq.map(col): _*),
          struct(order.map(col): _*)).as("_first"))
        .select(col("_first.*"))
}
