package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The hot-key probe shared by `Components.roundHotKeys` and
  * `VersionedDim.asofJoin`'s skew check.
  */
private[operators] object SkewProbe {

  /** `spark.sql.shuffle.partitions`, at least 1; a non-numeric value
    * (e.g. "auto" on some platforms) reads as the default 200 instead
    * of throwing mid-plan.
    */
  def shufflePartitions(spark: SparkSession): Long =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions", "200").toLong)
      .getOrElse(200L).max(1L)

  /** The rows a per-key count is taken over, and the cut it is compared
    * against (`count > cut` flags the key). Below 2^16 that is `rows`
    * and `cut`: exact. From 2^16 on it is a 1/256 deterministic
    * `xxhash64(rowHash)` row sample at HALF the cut (`cut >> 9`, i.e.
    * estimate·256 > cut/2), so sampling noise errs toward flagging: the
    * probe then scans 0.4 % of the rows and shuffles a tiny count
    * relation.
    */
  def sampled(rows: DataFrame, rowHash: Seq[Column], cut: Long): (DataFrame, Long) =
    if (cut >= (1L << 16))
      (rows.filter(pmod(xxhash64(rowHash: _*), lit(256)) === 0), cut >> 9)
    else (rows, cut)
}
