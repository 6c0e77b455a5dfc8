package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Reference-format TSV ingestion — the reader family S1-S3/S10
  * (reference: civicutils/read_and_write.py:84-273;
  * tcga_analysis/scripts/Query_CIViCutils.py:63-181) re-expressed as
  * Spark scans.
  *
  * Header resolution is by NAME with required/optional columns and
  * pass-through extras, as in the reference. The reference's
  * truthiness-on-position bug (a column at position 0 is treated as
  * absent, read_and_write.py:102-116) is NOT replicated — it is
  * unreachable for well-formed headers and positional truthiness is a
  * Python accident, not a format rule.
  *
  * Every reader takes its rows from the one scan `readTsv`: `n_line`
  * (the reference's only ordering token) is the 0-based body line
  * number within each input file, and cells are the reference's plain
  * tab split, so an empty cell is an empty string.
  */
object TsvReader {

  /** The numbered TSV scan, and the number of files it resolved.
    *
    * Files are read through Hadoop TextInputFormat, whose record key is
    * the line's BYTE OFFSET — a stable property of the file content,
    * independent of the split plan — and dense 0-based PER-FILE line
    * numbers are assigned in two passes:
    *   1. per-split (file, split start, line count, header) -> driver
    *      prefix sums keyed by file (bytes-sized metadata, not data; a
    *      TextInputFormat split never crosses a file boundary, and its
    *      lines are the ones starting inside it, so ordering a file's
    *      splits by start orders its lines);
    *   2. per-split base + local index.
    * The numbering is therefore identical under ANY split size AND any
    * file count (pinned in OperatorsSpec by re-reading with forced tiny
    * splits, set through `mapreduce.input.fileinputformat.split.maxsize`
    * in the SparkContext's Hadoop configuration, and a 3-file directory
    * input). Multi-file inputs (directory or glob) number each file
    * independently from 0 — the reference's per-file n_line semantics —
    * and carry the originating file in an `input_file` column; every
    * file's header must be byte-identical (files with diverging schemas
    * must not be silently unioned). Quoted multi-line fields are not
    * supported — the reference TSV format has none.
    *
    * The file count tells readers whether `n_line`-derived keys must be
    * file-qualified: per-file numbering restarts at 0, so a
    * (payload, n_line) key is only unique within one file.
    *
    * This is the engine's one deliberate RDD use (the "unless forced"
    * case of the no-RDD contract): no DataFrame source exposes the
    * per-line byte offset that makes split-invariant numbering
    * possible; everything downstream of the two numbering passes is a
    * plain DataFrame again.
    */
  def readTsv(spark: SparkSession, path: String): (DataFrame, Int) = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
    val lines = spark.sparkContext.newAPIHadoopFile(path, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text],
        new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration))
      .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
    // pass 1: per-split (file, start, count) — tiny driver-side
    // metadata — and the file's header line (offset 0), captured HERE
    // so the files are read exactly twice, not three times; only the
    // header is decoded
    val splits = lines.mapPartitionsWithInputSplit({ (split, it) =>
      val s = split.asInstanceOf[FileSplit]
      var n = 0L
      var header: Option[String] = None
      it.foreach { case (off, text) =>
        n += 1
        if (off.get == 0L) header = Some(text.toString)
      }
      Iterator((s.getPath.toString, s.getStart, n, header))
    }).collect()
    // per-FILE prefix sums over the file's splits in start order (every
    // file restarts at 0)
    val bases: Map[(String, Long), Long] =
      splits.groupBy(_._1).flatMap { case (file, ss) =>
        val sorted = ss.sortBy(_._2)
        sorted.map(s => (file, s._2)).zip(sorted.scanLeft(0L)(_ + _._3))
      }
    val headers = splits.flatMap { case (f, _, _, h) => h.map(f -> _) }
    val nFiles = splits.map(_._1).distinct.length
    require(headers.nonEmpty, s"empty TSV: $path")
    require(headers.length == nFiles,
      s"$path: ${nFiles - headers.length} file(s) have no header line (empty)")
    require(headers.map(_._2).distinct.length == 1,
      s"TSV headers differ across input files: " +
        headers.map(_._2).distinct.mkString(" vs "))
    val names = headers.head._2.split("\t", -1)
    val schema = StructType(names.map(StructField(_, StringType)) :+
      StructField("n_line", LongType) :+ StructField("input_file", StringType))
    val width = names.length
    val bcBases = spark.sparkContext.broadcast(bases)
    // pass 2: per-file line number = split base + local ordinal; line 0
    // is the header, so body line n_line is file line n_line + 1
    val rows = lines.mapPartitionsWithInputSplit({ (split, it) =>
      val s = split.asInstanceOf[FileSplit]
      val file = s.getPath.toString
      val base = bcBases.value((file, s.getStart))
      it.zipWithIndex.collect { case ((_, text), i) if base + i > 0L =>
        val nLine = base + i - 1L
        val parts = text.toString.split("\t", -1)
        require(parts.length == width,
          s"$file line $nLine: ${parts.length} fields, header has $width")
        Row.fromSeq(parts.toIndexedSeq :+ nLine :+ file)
      }
    })
    (spark.createDataFrame(rows, schema), nFiles)
  }

  /** `readTsv`'s data columns (its line and file metadata excluded),
    * checked for the reader's required ones. */
  private def dataColumns(rows: DataFrame, required: String*): Seq[String] = {
    val cols = rows.columns.toSeq.filterNot(Set("n_line", "input_file"))
    for (c <- required)
      require(cols.contains(c), s"Required column '$c' could not be found in header")
    cols
  }

  /** The reference's `payload|n_line` record key, file-qualified
    * (`...|n_line|input_file`) exactly when the read resolved more than
    * one file, since `n_line` restarts in every file. */
  private def variantKey(nFiles: Int, payload: Column*): Column =
    concat_ws("|", (payload :+ col("n_line")) ++
      (if (nFiles > 1) Seq(col("input_file")) else Nil): _*)

  /** `fields`, then `n_line`, the pass-through `extras` (every data
    * column no field reads) and `input_file`, then `variantKey` over
    * `payload` and the data type. */
  private def keyed(rows: DataFrame, nFiles: Int, fields: Seq[Column],
                    extras: Seq[String], payload: Seq[Column],
                    dataType: String): DataFrame =
    rows.select(fields ++ Seq(col("n_line"),
        array(extras.map(col): _*).as("extras"), col("input_file")): _*)
      .withColumn("variant_key", variantKey(nFiles, payload: _*))
      .withColumn("data_type", lit(dataType))

  /** S1: SNV reader. Required: gene/dna/prot; optional impact/exon
    * (an absent one reads as empty); extra columns carried through in
    * an `extras` array. Emits the reference's encoded variant key
    * (`dna|prot|impact|exon|n_line`) for parity-visible joins.
    */
  def readSnvs(spark: SparkSession, path: String,
               geneName: String = "Gene",
               dnaName: String = "Variant_dna",
               protName: String = "Variant_prot",
               impactName: String = "Variant_impact",
               exonName: String = "Variant_exon"): DataFrame = {
    val (rows, nFiles) = readTsv(spark, path)
    val cols = dataColumns(rows, geneName, dnaName, protName)
    def optional(c: String) = if (cols.contains(c)) col(c) else lit("")
    keyed(rows, nFiles,
      Seq(col(geneName).as("gene"), col(dnaName).as("dna"),
        col(protName).as("prot"), optional(impactName).as("impact"),
        optional(exonName).as("exon")),
      cols.filterNot(Set(geneName, dnaName, protName, impactName, exonName)),
      Seq(col("dna"), col("prot"), col("impact"), col("exon")), "SNV")
  }

  /** S2: CNV reader (required gene + cnv; key `cnv|n_line`). */
  def readCnvs(spark: SparkSession, path: String,
               geneName: String = "Gene",
               cnvName: String = "Variant_cnv"): DataFrame = {
    val (rows, nFiles) = readTsv(spark, path)
    val cols = dataColumns(rows, geneName, cnvName)
    keyed(rows, nFiles, Seq(col(geneName).as("gene"), col(cnvName).as("cnv")),
      cols.filterNot(Set(geneName, cnvName)), Seq(col("cnv")), "CNV")
  }

  /** S3: EXPR reader (required gene + logFC, logFC must be numeric and
    * non-zero — validated downstream as in the reference). An empty
    * logFC reads as NULL (and keys as `|n_line`); a malformed non-empty
    * one fails the cast.
    */
  def readExpr(spark: SparkSession, path: String,
               geneName: String = "Gene",
               logfcName: String = "logFC"): DataFrame = {
    val (rows, nFiles) = readTsv(spark, path)
    val cols = dataColumns(rows, geneName, logfcName)
    keyed(rows, nFiles,
      Seq(col(geneName).as("gene"),
        nullif(col(logfcName), lit("")).cast("double").as("logfc")),
      cols.filterNot(Set(geneName, logfcName)),
      Seq(coalesce(col("logfc").cast("string"), lit(""))), "EXPR")
  }

  /** S10: TCGA-style multi-annotation SNV cells:
    * variant column "GENE:c.X|p.Y;GENE2:c.Z|p.W;...", impact column
    * "GENE:imp;GENE2:imp2", exon column "GENE:c.X|p.Y:exon;..." — one
    * output row per annotation, with 1-1 positional correspondence
    * enforced (arrays_zip fails rows where lengths differ) and
    * non-c. annotations dropped (Query_CIViCutils.py:124-126).
    * `annot_idx` preserves the within-line annotation order for the
    * per-line prioritization (W3).
    */
  def readSnvsMultiAnnotation(spark: SparkSession, path: String,
                              geneVarCol: String, impactCol: String,
                              exonCol: String): DataFrame = {
    val (rows, nFiles) = readTsv(spark, path)
    val vs = split(col(geneVarCol), ";")
    val is = split(col(impactCol), ";")
    val es = split(col(exonCol), ";")
    // 1-1 correspondence is a hard error in the reference
    // (Query_CIViCutils.py:85-87)
    val zipped = rows
      .withColumn("_z", when(size(vs) === size(is) && size(vs) === size(es),
        arrays_zip(vs, is, es)).otherwise(
          raise_error(lit("Encountered different number of available annotations"))))
      .select(col("n_line"), col("input_file"),
        posexplode(col("_z")).as(Seq("annot_idx", "a")))
      .select(col("n_line"), col("input_file"), col("annot_idx"),
        col("a").getField("0").as("v"),
        col("a").getField("1").as("i"),
        col("a").getField("2").as("e"))
    zipped
      .withColumn("gene", trim(split(col("v"), ":").getItem(0)))
      .withColumn("hgvs", trim(split(col("v"), ":").getItem(1)))
      .withColumn("dna", trim(split(col("hgvs"), "\\|").getItem(0)))
      .withColumn("prot", trim(split(col("hgvs"), "\\|").getItem(1)))
      .withColumn("impact", trim(split(col("i"), ":").getItem(1)))
      .withColumn("exon", coalesce(trim(split(col("e"), ":").getItem(2)), lit("")))
      // skip annotations without a valid c.HGVS (e.g. n.HGVS)
      .filter(lower(col("dna")).startsWith("c."))
      .withColumn("variant_key", variantKey(nFiles,
        col("dna"), col("prot"), col("impact"), col("exon")))
      .select("n_line", "annot_idx", "gene", "dna", "prot", "impact",
        "exon", "input_file", "variant_key")
      .withColumn("data_type", lit("SNV"))
  }

  /** Convert reader output into kernel `Turn`s so TSV-file inputs run
    * through the same annotate pipeline as transcript streams — the
    * "one input file = one batch conversation" mapping (SURVEY.md §1.4).
    */
  def toTurns(df: DataFrame, convId: String): DataFrame = {
    val payload = df.columns match {
      case c if c.contains("dna") =>
        concat_ws("|", col("dna"), coalesce(col("prot"), lit("")),
          coalesce(col("impact"), lit("")), coalesce(col("exon"), lit("")))
      case c if c.contains("cnv") => col("cnv")
      case _ => col("logfc").cast("string")
    }
    val role = df.columns match {
      case c if c.contains("dna") => lit("user")
      case c if c.contains("cnv") => lit("assistant")
      case _ => lit("tool")
    }
    df.select(
      lit(convId).as("conv_id"),
      col("n_line").cast("int").as("turn_idx"),
      role.as("role"),
      concat(col("gene"), lit(" "), payload).as("text"),
      lit("").as("tool"),
      expr("timestamp'2023-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, n_line)")
        .as("ts"))
  }
}
