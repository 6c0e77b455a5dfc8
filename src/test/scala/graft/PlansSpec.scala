package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftFunctions

/** Custom Catalyst expressions: the codegen path, SQL registration,
  * and parity of the native text expressions with their Column forms.
  */
class PlansSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("PStartExpression: Column API, SQL registration, codegen plan") {
    import spark.implicits._
    val df = Seq("p.Val600Glu", "P.GLU55FS", "c.1799T>A", "MUTATION")
      .toDF("s")
    GraftFunctions.register(spark)
    val got = df.select(GraftFunctions.pStart(col("s")).as("p"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(Some("P.VAL600"), Some("P.GLU55"), None, None))

    df.createOrReplaceTempView("pstart_probe")
    val sqlGot = spark.sql("SELECT p_start(s) FROM pstart_probe")
      .collect().map(r => Option(r.getString(0)))
    assert(sqlGot.toSeq == Seq(Some("P.VAL600"), Some("P.GLU55"), None, None))

    // agreement with the pure-Scala rule on generated strings
    for (s <- Seq("p.Pro61=", "p.Ter130Tyrext*?", "P.VAL600", "x")) {
      val viaExpr = df.sparkSession.sql(s"SELECT p_start('$s')").collect()(0)
      assert(Option(viaExpr.getString(0)) ==
        graft.functions.Nomenclature.extractPStart(s))
    }

    // the expression participates in whole-stage codegen (no ScalaUDF);
    // probe on a range source (a local Seq folds to LocalTableScan)
    val plan = spark.range(100)
      .select(GraftFunctions.pStart(concat(lit("P.VAL"), col("id"))))
      .queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("every native kernel: whole-stage codegen, NULL in gives NULL, mistyped column fails analysis") {
    import graft.plans.TextExprs
    GraftFunctions.register(spark)
    // even ids carry values, odd ids NULL; probe on a range source (a
    // local Seq folds to LocalTableScan)
    def even(c: org.apache.spark.sql.Column) = when(col("id") % 2 === 0, c)
    val base = spark.range(16).select(col("id"),
      even(concat(lit("p.Val"), col("id"), lit(" the und le la"))).as("text"),
      even(array(col("id").cast("float"), lit(0.5f), lit(-1.5f))).as("vec"),
      even(array(col("id"), col("id") * 7)).as("longs"),
      array(col("id").cast("double"), lit(0.5)).as("doubles"))
    val (text, vec, longs, n, doubles) =
      (col("text"), col("vec"), col("longs"), col("id"), col("doubles"))
    // (name, the kernel over well-typed columns, over a mistyped column)
    val kernels = Seq(
      ("p_start", GraftFunctions.pStart(text), GraftFunctions.pStart(n)),
      ("simhash64", TextExprs.simhash64(spark, text), TextExprs.simhash64(spark, n)),
      ("langid", TextExprs.langid(spark, text), TextExprs.langid(spark, n)),
      ("shingles_hashed", TextExprs.shinglesHashed(spark, text, 3),
        TextExprs.shinglesHashed(spark, n, 3)),
      ("window_hashes", TextExprs.windowHashes(spark, text, 2),
        TextExprs.windowHashes(spark, n, 2)),
      ("ngram_rep_stats", TextExprs.ngramRepStats(spark, text, 2),
        TextExprs.ngramRepStats(spark, n, 2)),
      ("hash_embedding", TextExprs.hashEmbedding(spark, text, 8),
        TextExprs.hashEmbedding(spark, n, 8)),
      ("minhash_sig", TextExprs.minhashSig(spark, longs, 4),
        TextExprs.minhashSig(spark, doubles, 4)),
      ("quantized_dot", TextExprs.quantizedDot(spark, vec, vec),
        TextExprs.quantizedDot(spark, vec, doubles)),
      ("quantized_cosine", TextExprs.quantizedCosine(spark, vec, vec),
        TextExprs.quantizedCosine(spark, doubles, doubles)),
      ("hyperplane_sigs", TextExprs.hyperplaneSigs(spark, vec, 4, 2, 7),
        TextExprs.hyperplaneSigs(spark, doubles, 4, 2, 7)),
      ("bloom_any_contain", TextExprs.bloomAnyContain(spark, longs, Array(-1L), 2),
        TextExprs.bloomAnyContain(spark, doubles, Array(-1L), 2)))
    for ((name, good, bad) <- kernels) {
      val plan = base.select(good).queryExecution.executedPlan.toString
      // "*(n)" marks operators inside a WholeStageCodegen stage
      assert(plan.contains("*(1) Project"), s"$name: $plan")
      assert(!plan.contains("ScalaUDF"), s"$name: $plan")
      val nulls = base.select(col("id"), good.isNull).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1))
      assert(nulls.forall { case (id, isNull) => isNull == (id % 2 != 0) },
        s"$name: NULL iff the input is NULL, got ${nulls.toSeq}")
      val e = intercept[org.apache.spark.sql.AnalysisException](base.select(bad))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), s"$name: $e")
    }
  }

  test("native shingles match the declarative form set-for-set") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
    // hash functions differ (splitmix vs xxhash64) but both hash the
    // same shingle STRINGS, so per-doc set sizes and every pairwise
    // intersection size must agree exactly
    val both = docs.select(col("doc_id"),
      graft.operators.TextOps.shingles(col("text"), 3).as("nat"),
      graft.operators.TextOps.shinglesColumnar(col("text"), 3).as("dec"))
      .collect()
    for (r <- both)
      assert(r.getSeq[Long](1).size == r.getSeq[Long](2).size,
        s"shingle cardinality drift for doc ${r.get(0)}")
    val pairs = both.take(30)
    for (a <- pairs; b <- pairs if a.getLong(0) < b.getLong(0)) {
      val ni = a.getSeq[Long](1).toSet.intersect(b.getSeq[Long](1).toSet).size
      val di = a.getSeq[Long](2).toSet.intersect(b.getSeq[Long](2).toSet).size
      assert(ni == di, s"pairwise intersection drift ${a.get(0)}/${b.get(0)}")
    }
    // edge cases the quirk replication covers: empty and short texts
    import spark.implicits._
    val edge = Seq("", "   ", "one", "one two", "one two three four")
      .toDF("text")
      .select(graft.operators.TextOps.shingles(col("text"), 3).as("nat"),
        graft.operators.TextOps.shinglesColumnar(col("text"), 3).as("dec"))
      .collect()
    for (r <- edge)
      assert(r.getSeq[Long](0).size == r.getSeq[Long](1).size, r.toString)
  }

  test("native langid matches the declarative form on the corpus + edges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val drift = docs.select(
      graft.operators.TextOps.langId(col("text")).as("nat"),
      graft.operators.TextOps.langIdColumnar(col("text")).as("dec"))
      .filter(col("nat") =!= col("dec")).count()
    assert(drift == 0)
    val edge = Seq("", "   ", "la la la", "the la", "zzz qqq",
      "der und la le el y", "est est la la").toDF("text")
      .select(graft.operators.TextOps.langId(col("text")).as("nat"),
        graft.operators.TextOps.langIdColumnar(col("text")).as("dec"))
      .collect()
    for (r <- edge) assert(r.getString(0) == r.getString(1), r.toString)
  }

  test("native quantized cosine is bit-identical to the Column form") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = emb.limit(40).select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(emb.limit(40).select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib"))
    val drift = pairs.select(
      graft.operators.Similarity.quantizedCosine(col("va"), col("vb")).as("nat"),
      graft.operators.Similarity.quantizedCosineColumnar(col("va"), col("vb")).as("dec"))
      .filter(col("nat") =!= col("dec")).count()
    assert(drift == 0)
  }

  test("native quantized dot is bit-identical to the Column form") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = emb.select(col("embedding").as("va")).limit(200)
      .crossJoin(emb.select(col("embedding").as("vb")).limit(50))
    val drift = pairs.select(
      graft.operators.Similarity.quantizedDot(col("va"), col("vb")).as("nat"),
      graft.operators.Similarity.quantizedDotColumnar(col("va"), col("vb")).as("dec"))
      .filter(col("nat") =!= col("dec")).count()
    assert(drift == 0)
  }

  test("native hyperplane signature is bit-identical to the Column form") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(300)
    for ((nBits, seed) <- Seq((4, 7), (12, 9), (16, 23))) {
      val drift = emb.select(
        graft.operators.Similarity.hyperplaneSigs(
          col("embedding"), nBits, nTables = 1, seedBase = seed)(0).as("nat"),
        graft.operators.Similarity.hyperplaneSigColumnar(col("embedding"), nBits, seed).as("dec"))
        .filter(col("nat") =!= col("dec")).count()
      assert(drift == 0, s"signature drift at nBits=$nBits seed=$seed")
    }
  }

  test("multi-table hyperplane signatures == per-table signatures, bit for bit") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(300)
    for ((nBits, nTables, base) <- Seq((10, 8, 101), (4, 8, 7), (12, 3, 9))) {
      val drift = emb.select(
        graft.operators.Similarity.hyperplaneSigs(
          col("embedding"), nBits, nTables, base).as("multi"),
        array((0 until nTables).map(t =>
          graft.operators.Similarity.hyperplaneSigColumnar(
            col("embedding"), nBits, base + t)): _*).as("per"))
        .filter(col("multi") =!= col("per")).count()
      assert(drift == 0,
        s"multi-table drift at nBits=$nBits nTables=$nTables base=$base")
    }
  }
}
