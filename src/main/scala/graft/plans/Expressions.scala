package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.AnalysisErrorAt
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the hottest nomenclature primitive: the
  * positional-prefix extraction `extract_p_start`
  * (reference: civicutils/match.py:127-144; X3 in SURVEY.md §2.8).
  *
  * Correctness never requires a native kernel here (SURVEY.md §4.2
  * — a UDF suffices); this exists for the codegen path: generated code
  * calls `eval` directly with a shared compiled Pattern, keeping the
  * operator inside whole-stage codegen instead of crossing the
  * ScalaUDF serialization boundary per row.
  */
object PStartHelper {
  private val pattern = java.util.regex.Pattern.compile("(P\\.[A-Z]+[0-9]+).*")

  /** Java-callable from generated code. Null on non-p. strings. */
  def eval(s: UTF8String): UTF8String = {
    if (s == null) return null
    val m = pattern.matcher(s.toString.toUpperCase)
    if (m.matches()) UTF8String.fromString(m.group(1)) else null
  }
}

/** The SQL functions of every native kernel in `plans/`. A kernel is a
  * helper object's one-pass `eval`, planned as Spark's `StaticInvoke`
  * (the way Spark itself calls `UrlCodec` for `url_encode`): generated
  * code calls `<Helper>.eval(...)` inside whole-stage codegen, a NULL
  * argument gives NULL without a call, and integer parameters go in as
  * integer literals (constants in the generated code).
  */
object GraftFunctions {

  /** Register every native kernel on `spark`'s session for SQL use
    * (`SELECT p_start(col)`), once per session; the Column APIs call it.
    */
  def register(spark: SparkSession): Unit =
    graft.GraftContext(spark).oncePerSession(spark, "graft.plans.GraftFunctions") {
      registerAll(spark)
    }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longArrayLit(e: Expression, what: String): Array[Long] = e match {
    case Literal(a: ArrayData, ArrayType(LongType, _)) => a.toLongArray()
    case other => throw new IllegalArgumentException(
      s"$what must be a long-array literal, got ${other.getClass.getName}")
  }

  private def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    // `name(cols..., ints...)` calls `helper.eval(cols..., ints...)`.
    // The columns are checked as ExpectsInputTypes checks them: given
    // `inputTypes`, StaticInvoke would cast a mistyped column instead
    // (an array<double> narrowed to array<float> without an error)
    def kernel(name: String, helper: AnyRef, dataType: DataType,
        colTypes: Seq[DataType], intParams: Seq[String] = Nil,
        nullable: Boolean = false): Unit =
      registry.createOrReplaceTempFunction(name, { args =>
        intParams.zipWithIndex.foreach { case (p, i) =>
          intLit(args(colTypes.size + i), s"$name $p") }
        val call = StaticInvoke(helper.getClass, dataType, "eval", args,
          returnNullable = nullable)
        ExpectsInputTypes.checkInputDataTypes(args.take(colTypes.size),
            colTypes) match {
          case m: DataTypeMismatch => call.dataTypeMismatch(call, m)
          case _ => call
        }
      }, "internal")
    val text = Seq(StringType)
    val longs = ArrayType(LongType, containsNull = false)
    val floats = ArrayType(FloatType)

    kernel("p_start", PStartHelper, StringType, text, nullable = true)
    kernel("simhash64", SimHashHelper, LongType, text)
    kernel("langid", LangIdHelper, StringType, text)
    kernel("shingles_hashed", ShinglesHelper, longs, text, Seq("n"))
    kernel("window_hashes", WindowHashesHelper, longs, text, Seq("k"))
    kernel("ngram_rep_stats", RepStatsHelper, StructType(Seq(
      StructField("n_grams", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("max_count", IntegerType, nullable = false))),
      text, Seq("n"))
    kernel("hash_embedding", HashEmbeddingHelper,
      ArrayType(FloatType, containsNull = false), text, Seq("dim"))
    kernel("minhash_sig", MinHashHelper, longs, Seq(ArrayType(LongType)),
      Seq("k"))
    kernel("quantized_dot", QuantizedDotHelper, LongType, Seq(floats, floats))
    kernel("quantized_cosine", QuantizedCosineHelper, DoubleType,
      Seq(floats, floats))
    kernel("hyperplane_sigs", HyperplaneMultiHelper,
      ArrayType(IntegerType, containsNull = false), Seq(floats),
      Seq("nBits", "nTables", "seedBase"))
    // the two kernels with their own expression class: their arrays
    // are reference objects of the generated code, not per-row arguments
    registry.createOrReplaceTempFunction(
      "bloom_any_contain", exprs => BloomAnyContainExpression(exprs.head,
        longArrayLit(exprs(1), "bloom_any_contain bitmap"),
        intLit(exprs(2), "bloom_any_contain probes")), "internal")
    registry.createOrReplaceTempFunction(
      "pca_project_q", exprs => PcaProjectExpression(exprs.head,
        longArrayLit(exprs(1), "pca_project_q mbar"),
        longArrayLit(exprs(2), "pca_project_q rot"),
        intLit(exprs(3), "pca_project_q k"),
        intLit(exprs(4), "pca_project_q scale")), "internal")
  }

  /** Column API (requires `register(spark)`). */
  def pStart(c: Column): Column =
    org.apache.spark.sql.functions.call_function("p_start", c)
}
