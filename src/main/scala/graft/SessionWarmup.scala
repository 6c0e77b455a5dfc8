package graft

import org.apache.spark.sql.SparkSession

/** No-op, kept only because the benchmark harness
  * (`perfbench/src/main/scala/graftbench/Main.scala:51`) still imports
  * and calls `SessionWarmup.ensure` and times it as `setup.warmup_s`.
  *
  * It used to run a JIT/codegen sweep of a dozen operator shapes over
  * tiny ranges from `Pipeline.cachedIndex`, once per SparkContext. The
  * sweep computed nothing any query reused; from a cold JVM it cost
  * more set-up time than it saved in the first queries, so it is gone.
  * The JIT cost it prepaid now lands on the index build and the first
  * queries a session runs. Delete this object together with the
  * benchmark's call to it.
  */
object SessionWarmup {

  def ensure(spark: SparkSession): Unit = ()
}
