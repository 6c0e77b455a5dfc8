package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.IcebergLikeTable

/** The snapshot table's commit path: manifests are valid JSON for
  * partitioned and unpartitioned tables, an empty batch commits
  * nothing, a commit evaluates its input once and its manifest counts
  * the rows it wrote, the write stage compiles once per data shape
  * rather than once per batch id, and manifest listings close their
  * directory streams.
  */
class IcebergLikeTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // partition values a hand-built JSON string would break on
  private val keys = Seq("k0", "k\"1", "k\\2")

  private def rows(from: Int, n: Int): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i => (i, keys(i % 3))).toDF("v", "k")
  }

  private def manifests(table: IcebergLikeTable): Seq[Path] =
    table.snapshots().map(table.manifestPath)

  test("manifests parse as JSON and an empty batch commits nothing") {
    val json = new ObjectMapper()
    for (cols <- Seq(Nil, Seq("k"))) {
      val table = new IcebergLikeTable(tmp("ilt_manifest"), cols)
      table.replacePartitions(rows(0, 10), 0L)
      table.replacePartitions(rows(0, 0), 1L)
      table.replacePartitions(rows(10, 5), 2L)
      assert(table.snapshots() == Seq(0L, 2L), s"$cols: ${table.snapshots()}")
      for (m <- manifests(table)) {
        val tree = json.readTree(m.toFile) // throws on invalid JSON
        val parts = tree.get("partitions").elements().asScala.toSeq
        val expectedParts = if (cols.isEmpty) 1 else 3
        assert(parts.size == expectedParts, s"$cols $m: $tree")
        if (cols.nonEmpty) assert(parts.map(_.get("k").asText).toSet == keys.toSet, s"$m: $tree")
        assert(tree.get("partition_cols").elements().asScala.map(_.asText).toSeq == cols)
      }
      val rowsOf0 = json.readTree(manifests(table).head.toFile).get("partitions")
        .elements().asScala.map(_.get("rows").asLong).sum
      assert(rowsOf0 == 10L)
      assert(table.read(spark).count() == 15L)

      table.compact(spark, compactionId = 10L)
      val compacted = json.readTree(table.manifestPath(10L).toFile)
      assert(compacted.get("replaces").elements().asScala.map(_.asLong).toSeq == Seq(0L, 2L))
      assert(table.liveBatches() == Seq(10L))
      assert(table.read(spark).count() == 15L)
    }
  }

  test("a commit evaluates its input once; its manifest counts the rows it wrote") {
    import org.apache.spark.sql.functions.{col, concat, lit, udf, when}
    val json = new ObjectMapper()
    val table = new IcebergLikeTable(tmp("ilt_once"), Seq("k"))
    val seen = spark.sparkContext.longAccumulator("ilt_rows_seen")
    // on the partition column, so a separate count job would need it too
    val seenK = udf { (k: String) => seen.add(1L); k }
    // a generated source, so nothing folds the UDF; every 4th k is NULL
    def batch(from: Long, n: Long): DataFrame =
      spark.range(from, from + n).select(col("id").cast("int").as("v"),
        seenK(when(col("id") % 4 =!= 0,
          concat(lit("k"), (col("id") % 3).cast("string")))).as("k"))
    def manifestRows(batchId: Long): Map[String, Long] =
      json.readTree(table.manifestPath(batchId).toFile).get("partitions")
        .elements().asScala.map(p => p.get("k").asText -> p.get("rows").asLong).toMap
    def tableRows(batchId: Long): Map[String, Long] =
      table.read(spark).filter(col("_batch_id") === batchId)
        .groupBy(col("k")).count().collect()
        .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap

    table.replacePartitions(batch(0, 40), 0L)
    assert(seen.value == 40L, s"the input's 40 rows were evaluated ${seen.value} times")
    table.replacePartitions(batch(40, 21), 1L)
    assert(seen.value == 61L, s"the input's 61 rows were evaluated ${seen.value} times")
    for (id <- Seq(0L, 1L)) {
      assert(manifestRows(id) == tableRows(id), s"snapshot $id")
      assert(manifestRows(id).contains("null"), s"snapshot $id: ${manifestRows(id)}")
    }
    assert(manifestRows(0L).values.sum == 40L && manifestRows(1L).values.sum == 21L)

    table.compact(spark, compactionId = 10L)
    assert(table.liveBatches() == Seq(10L))
    assert(manifestRows(10L) == tableRows(10L))
    assert(manifestRows(10L).values.sum == 61L)
  }

  test("the write stage compiles once per data shape, not once per batch id") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val table = new IcebergLikeTable(tmp("ilt_codegen"), Seq("k"))
    // a generated source, as a stream batch is: a local relation would
    // let the optimizer fold the batch-id column into the data
    val batch = spark.range(20).select(col("id").cast("int").as("v"),
      concat(lit("k"), (col("id") % 3).cast("string")).as("k"))
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    table.replacePartitions(batch, 0L) // first call compiles the stages
    val before = compiles()
    table.replacePartitions(batch, 1L)
    table.replacePartitions(batch, 2L)
    assert(compiles() == before,
      s"${compiles() - before} classes compiled by the second and third commit")
    val ids = spark.read.parquet(table.root).schema("_batch_id").dataType
    assert(ids == org.apache.spark.sql.types.IntegerType, s"_batch_id read as $ids")
    assert(table.read(spark).count() == 60L)
  }

  test("manifest listings close their directory streams") {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    assume(os.isInstanceOf[com.sun.management.UnixOperatingSystemMXBean],
      "needs a JVM that counts open file descriptors")
    def open(): Long = os.asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
      .getOpenFileDescriptorCount
    val table = new IcebergLikeTable(tmp("ilt_fds"), Seq("k"))
    table.replacePartitions(rows(0, 10), 0L)
    table.replacePartitions(rows(10, 10), 1L)
    val before = open()
    (1 to 2000).foreach(_ => assert(table.snapshots() == Seq(0L, 1L)))
    val grown = open() - before
    assert(grown < 200, s"2000 snapshots() calls left $grown more files open")
  }
}
