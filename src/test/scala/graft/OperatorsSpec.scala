package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Turn
import graft.operators._
import graft.sources.{Synth, TsvReader}

/** Coverage for the remaining reference operator families: TSV readers
  * (S1-S3, S10), tier selection (F5/F6), output assembly (S6/P1-P3),
  * drug-targets report (S7/A3), cross-variant consensus (A2), alias
  * resolution (S4/U1/J3), consensus Aggregator (UDAF, §2.12).
  */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val bc = Pipeline.cachedIndex(spark, nGenes = 12)
  private def ann(cfg: Synth.TurnGenConfig) = {
    import spark.implicits._
    Pipeline.annotate(spark.createDataset(Synth.transcriptRows(cfg)), bc)
  }
  private val turnCfg = Synth.TurnGenConfig(nConvs = 20, turnsPerConv = 8, nGenes = 12)

  test("S1-S3: reference-format TSV readers parse the committed examples") {
    def dataRows(path: String): Long =
      scala.io.Source.fromFile(path).getLines().size - 1L

    val snvPath = "/root/reference/civicutils/data/example_snv.txt"
    val snv = TsvReader.readSnvs(spark, snvPath)
    assert(snv.count() == dataRows(snvPath))
    val r = snv.orderBy("n_line").collect()(0)
    assert(r.getAs[String]("gene").nonEmpty)
    assert(r.getAs[String]("variant_key").split("\\|", -1).length == 5)
    // this example carries no optional impact/exon columns: empty strings
    assert(r.getAs[String]("impact") == "" && r.getAs[String]("exon") == "")

    val cnvPath = "/root/reference/civicutils/data/example_cnv.txt"
    val cnv = TsvReader.readCnvs(spark, cnvPath)
    assert(cnv.count() == dataRows(cnvPath))
    val exprPath = "/root/reference/civicutils/data/example_expr.txt"
    val expr = TsvReader.readExpr(spark, exprPath)
    assert(expr.count() == dataRows(exprPath))
    assert(expr.select("logfc").collect().forall(r => !r.isNullAt(0)))
  }

  /** Runs `body` with the SparkContext's Hadoop input splits capped at
    * `bytes` (0: the default), restoring the setting afterwards. */
  private def withMaxSplit[T](bytes: Long)(body: => T): T = {
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val conf = spark.sparkContext.hadoopConfiguration
    val old = Option(conf.get(key))
    if (bytes > 0) conf.setLong(key, bytes)
    try body finally old.fold(conf.unset(key))(conf.set(key, _))
  }

  private def writeTsv(path: String, lines: String*): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))

  test("TSV reader: line numbering is invariant under the split plan") {
    // split invariance: a 400-row TSV forced into ~byte-sized splits
    // must number lines identically to the single-split read
    val dir = java.nio.file.Files.createTempDirectory("split").toString
    val f = s"$dir/big.tsv"
    val body = (0 until 400).map(i => s"G$i\tc.${i}A>G\tp.V${i}E")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      "Gene\tVariant_dna\tVariant_prot\n" + body.mkString("\n") + "\n")
    def numbered(maxSplit: Long): Map[Long, String] = withMaxSplit(maxSplit) {
      TsvReader.readTsv(spark, f)._1
        .collect().map(r => r.getAs[Long]("n_line") -> r.getAs[String]("Gene")).toMap
    }
    val single = numbered(0L)
    val tiny = numbered(256L) // forces many input splits
    assert(withMaxSplit(256L)(TsvReader.readTsv(spark, f)._1.rdd.getNumPartitions) > 4,
      "a tiny split.maxsize failed to force multiple splits")
    assert(single == tiny, "line numbering changed with the split plan")
    // dense, 0-based, in file order
    assert(single.keySet == (0L until 400L).toSet)
    for (i <- 0 until 400) assert(single(i.toLong) == s"G$i")
  }

  test("splittable TSV reader: multi-file input numbers per file") {
    val dir = java.nio.file.Files.createTempDirectory("multisplit").toString
    val sizes = Map("a" -> 150, "b" -> 1, "c" -> 320)
    for ((name, n) <- sizes) {
      val body = (0 until n).map(i => s"$name$i\tc.${i}A>G\tp.V${i}E")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name.tsv"),
        "Gene\tVariant_dna\tVariant_prot\n" + body.mkString("\n") + "\n")
    }
    def numbered(maxSplit: Long): Map[(String, Long), String] = withMaxSplit(maxSplit) {
      TsvReader.readTsv(spark, dir)._1
        .collect().map { r =>
          val f = r.getAs[String]("input_file")
          (f.substring(f.lastIndexOf('/') + 1), r.getAs[Long]("n_line")) ->
            r.getAs[String]("Gene")
        }.toMap
    }
    val single = numbered(0L)
    // every file numbered independently from 0, dense, in file order
    assert(single.size == sizes.values.sum)
    for ((name, n) <- sizes; i <- 0 until n)
      assert(single((s"$name.tsv", i.toLong)) == s"$name$i", s"$name line $i")
    // split-plan invariance holds across files too
    assert(numbered(256L) == single,
      "multi-file numbering changed with the split plan")
    // S1 reader over the directory: per-file n_line + input_file carried
    val snv = TsvReader.readSnvs(spark, dir)
    assert(snv.columns.contains("input_file"))
    assert(snv.filter(snv("n_line") === 0L).count() == 3) // one per file
    // multi-file keys are file-qualified: identical payloads at the
    // same per-file line number in different files must NOT collide
    val dupDir = java.nio.file.Files.createTempDirectory("dupkey").toString
    for (name <- Seq("x", "y"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dupDir/$name.tsv"),
        "Gene\tVariant_dna\tVariant_prot\nKRAS\tc.35G>A\tp.G12D\n")
    val dup = TsvReader.readSnvs(spark, dupDir)
    assert(dup.select("variant_key").distinct().count() == 2,
      "identical rows in two files collided on variant_key")
    // diverging headers must refuse, not silently union
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/bad.tsv"),
      "Gene\tOther\nG\tx\n")
    assertThrows[IllegalArgumentException](
      TsvReader.readTsv(spark, dir)._1.collect())
  }

  test("TSV reader: an empty Variant_prot keeps the five-field SNV key") {
    val dir = java.nio.file.Files.createTempDirectory("emptyprot").toString
    writeTsv(s"$dir/snv.tsv", "Gene\tVariant_dna\tVariant_prot",
      "KRAS\tc.35G>A\t")
    val rows = TsvReader.readSnvs(spark, s"$dir/snv.tsv").collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("prot") == "")
    assert(r.getAs[String]("variant_key") == "c.35G>A||||0")
  }

  test("TSV reader: CNV and EXPR keys over two files are file-qualified") {
    val cnvDir = java.nio.file.Files.createTempDirectory("cnv2").toString
    writeTsv(s"$cnvDir/a.tsv", "Gene\tVariant_cnv", "KRAS\tAMP", "BRAF\tDEL")
    writeTsv(s"$cnvDir/b.tsv", "Gene\tVariant_cnv", "TP53\tAMP", "EGFR\tDEL")
    val exprDir = java.nio.file.Files.createTempDirectory("expr2").toString
    writeTsv(s"$exprDir/a.tsv", "Gene\tlogFC", "KRAS\t1.5", "BRAF\t-2")
    writeTsv(s"$exprDir/b.tsv", "Gene\tlogFC", "TP53\t1.5", "EGFR\t-2")
    for (df <- Seq(TsvReader.readCnvs(spark, cnvDir),
                   TsvReader.readExpr(spark, exprDir))) {
      val rows = df.collect()
      assert(rows.length == 4)
      // the same payload at the same per-file line in two files
      assert(rows.map(_.getAs[String]("variant_key")).distinct.length == 4,
        "rows of two files collided on variant_key")
      for (r <- rows) assert(r.getAs[String]("variant_key") ==
        Seq(r.get(1), r.getAs[Long]("n_line"), r.getAs[String]("input_file"))
          .mkString("|"))
    }
  }

  test("TSV reader: an empty logFC reads as NULL and keys as |n_line") {
    val dir = java.nio.file.Files.createTempDirectory("emptylogfc").toString
    writeTsv(s"$dir/expr.tsv", "Gene\tlogFC", "KRAS\t1.5", "BRAF\t")
    val rows = TsvReader.readExpr(spark, s"$dir/expr.tsv")
      .orderBy("n_line").collect()
    assert(rows(0).getAs[Double]("logfc") == 1.5)
    assert(rows(0).getAs[String]("variant_key") == "1.5|0")
    assert(rows(1).isNullAt(rows(1).fieldIndex("logfc")))
    assert(rows(1).getAs[String]("variant_key") == "|1")
  }

  test("TSV reader: S10 over two files numbers per file and file-qualifies keys") {
    val dir = java.nio.file.Files.createTempDirectory("multi2").toString
    for (name <- Seq("a", "b"))
      writeTsv(s"$dir/$name.tsv", "Sample\tVars\tImpacts\tExons",
        "s1\tG1:c.1A>G|p.Lys1Glu\tG1:missense\tG1:c.1A>G|p.Lys1Glu:1/5",
        "s2\tG2:c.2T>C|p.Leu2Pro\tG2:missense\tG2:c.2T>C|p.Leu2Pro:2/7")
    val rows = TsvReader.readSnvsMultiAnnotation(spark, dir, "Vars", "Impacts", "Exons")
      .collect()
    val byFile = rows.groupBy(r => r.getAs[String]("input_file"))
    assert(byFile.size == 2)
    for ((file, rs) <- byFile) {
      assert(rs.map(r => r.getAs[String]("gene") -> r.getAs[Long]("n_line")).toMap ==
        Map("G1" -> 0L, "G2" -> 1L), s"$file numbered across files")
      for (r <- rs) assert(r.getAs[String]("variant_key")
        .endsWith(s"|${r.getAs[Long]("n_line")}|$file"))
    }
    assert(rows.map(_.getAs[String]("variant_key")).distinct.length == 4)
  }

  test("S10: multi-annotation cells explode with 1-1 zip and c.-filter") {
    val dir = java.nio.file.Files.createTempDirectory("multi").toString
    val f = s"$dir/multi.tsv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      "Sample\tVars\tImpacts\tExons\n" +
        "s1\tG1:c.1A>G|p.Lys1Glu;G2:c.2T>C|p.Leu2Pro\tG1:missense;G2:missense\tG1:c.1A>G|p.Lys1Glu:1/5;G2:c.2T>C|p.Leu2Pro:2/7\n" +
        "s2\tG3:n.50G>A|\tG3:splice\tG3:n.50G>A|:\n")
    val got = TsvReader.readSnvsMultiAnnotation(spark, f, "Vars", "Impacts", "Exons")
      .orderBy("n_line", "annot_idx").collect()
    // line 0 explodes to 2 annotations; line 1's n. annotation is dropped
    assert(got.length == 2)
    assert(got(0).getAs[String]("gene") == "G1" && got(0).getAs[String]("exon") == "1/5")
    assert(got(1).getAs[String]("gene") == "G2" && got(1).getAs[String]("dna") == "c.2T>C")
  }

  test("S1->M: TSV file input flows through toTurns into the kernel") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tsv2turn").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/snv.tsv"),
      "Gene\tVariant_dna\tVariant_prot\tVariant_impact\tVariant_exon\n" +
        "ENT0004\tc.1799T>A\tp.Val600Glu\tmissense_variant\t15/18\n" + // profile-4 gene: V600E present

        "NOPE\tc.1A>G\tp.Lys1Glu\tmissense_variant\t1/2\n")
    val turns = TsvReader.toTurns(
      TsvReader.readSnvs(spark, s"$dir/snv.tsv"), convId = "file-snv")
      .as[Turn]
    // unfiltered index: the default TCGA evidence filter can (correctly)
    // drop a variant whose every evidence row fails it
    val bcAll = Pipeline.buildIndex(spark, nGenes = 12,
      filter = operators.FilterConfig())
    val got = Pipeline.annotate(turns, bcAll).collect()
      .map(a => a.turn_idx -> a.highest_tier).toMap
    assert(got(0) == "tier_1")   // V600E exact match in the dimension
    assert(got(1) == "tier_4")   // unknown gene
  }

  test("F5/F6: tier selection all/highest/list with tier_4 recompute") {
    import spark.implicits._
    val rows = ann(turnCfg).collect().toSeq
    val ds = spark.createDataset(rows)
    // highest: exactly the highest non-empty tier survives
    val highest = TierSelect(ds, Left("highest")).collect()
    for (a <- highest) {
      val nonEmpty = Seq(a.tier_1, a.tier_1b, a.tier_2, a.tier_3).count(_.nonEmpty)
      assert(nonEmpty <= 1)
      if (nonEmpty == 0) assert(a.tier_4)
    }
    // list selection: keeping only tier_1 forces tier_4 for non-tier-1 rows
    val only1 = TierSelect(ds, Right(Seq("tier_1"))).collect()
    for (a <- only1) {
      assert(a.tier_1b.isEmpty && a.tier_2.isEmpty && a.tier_3.isEmpty)
      assert(a.tier_4 == a.tier_1.isEmpty)
    }
    // full list collapses to "all" (utils.py:362-367)
    assert(TierSelect.validate(Right(graft.model.Tiers.sorted)) == Left("all"))
    intercept[IllegalArgumentException] { TierSelect.validate(Left("bogus")) }
  }

  test("S1: multi-file reads number lines per file (reference batch unit)") {
    val dir = java.nio.file.Files.createTempDirectory("tsv_multi")
    def write(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        (("Gene\tVariant_dna\tVariant_prot" +: rows).mkString("\n") + "\n")
          .getBytes("UTF-8"))
    write("a.txt", Seq("G1\tc.1A>T\tp.K1N", "G2\tc.2A>T\tp.K2N",
      "G3\tc.3A>T\tp.K3N"))
    write("b.txt", Seq("G4\tc.4A>T\tp.K4N", "G5\tc.5A>T\tp.K5N"))
    val snv = TsvReader.readSnvs(spark, dir.toString + "/*.txt")
    val byGene = snv.select("gene", "n_line").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // each file numbers from 0 independently
    assert(byGene("G1") == 0 && byGene("G2") == 1 && byGene("G3") == 2)
    assert(byGene("G4") == 0 && byGene("G5") == 1)
  }

  test("S8: YAML dump formats rows as list items with typed scalars") {
    import spark.implicits._
    val df = Seq(
      ("it's", 1, 2.5, true, Seq("a", "b'c")),
      (null.asInstanceOf[String], -3, 0.0, false, Seq.empty[String]))
      .toDF("s", "i", "d", "b", "arr")
    val lines = OutputAssembly.yamlLines(df).collect().sorted
    assert(lines(0) ==
      "- s: 'it''s'\n  i: 1\n  d: 2.5\n  b: true\n  arr: ['a', 'b''c']")
    assert(lines(1) ==
      "- s: ~\n  i: -3\n  d: 0.0\n  b: false\n  arr: []")
    // round-trips through the driver-side reference parser is covered
    // by validation/ (python yaml loads the written file)
    val out = java.nio.file.Files.createTempDirectory("yamlout").toString
    OutputAssembly.yamlLines(df).write.mode("overwrite").text(s"$out/y")
    assert(spark.read.text(s"$out/y").count() == 10) // 5 lines per row

    // control characters must NOT break the one-line-per-key contract:
    // strings containing them switch to double-quoted style with escapes
    val ctl = Seq(("line1\nline2\ttab\rcr", 7)).toDF("s", "i")
    val cl = OutputAssembly.yamlLines(ctl).collect()
    assert(cl.length == 1 && !cl(0).matches("(?s).*: [^\"]*\n[^ ].*"))
    assert(cl(0) == "- s: \"line1\\nline2\\ttab\\rcr\"\n  i: 7")
    OutputAssembly.yamlLines(ctl).write.mode("overwrite").text(s"$out/c")
    assert(spark.read.text(s"$out/c").count() == 2) // 2 keys = 2 lines
  }

  test("S6/P1-P3: output assembly renders the reference string formats") {
    val dim = Synth.evidenceDim(spark, 12, 42L).toDF()
    val filtered = EvidenceFilter(dim, Pipeline.defaultFilter)
    val renders = OutputAssembly.renderTable(filtered, Pipeline.defaultCt)
    val out = OutputAssembly.writeMatchTable(ann(turnCfg), renders).collect()
    assert(out.nonEmpty)
    // every annotated turn with matches yields >=1 row; tier_4 rows all-dots
    val t4 = out.filter(_.getAs[String]("tier") == "4")
    assert(t4.nonEmpty)
    assert(t4.forall(_.getAs[String]("civic_scores") == "."))
    // evidence string shape: GENE:NAME:MP:DISEASE|DRUG(DIR,SIG(LEVEL(ID,..)..))
    val evRe = """[^:]+:[^:]*:[^:]+:.+\|.+\(.+,.+\(.+\(.+\).*\)\)""".r
    val preds = out.map(_.getAs[String]("civic_predictive")).filter(_ != ".")
    assert(preds.nonEmpty)
    for (p <- preds.take(20); s <- p.split(";"))
      assert(evRe.findFirstIn(s).isDefined, s"bad evidence string: $s")
    // scores shape GENE:NAME:MP:score
    val scores = out.map(_.getAs[String]("civic_scores")).filter(_ != ".")
    assert(scores.nonEmpty)
    for (sc <- scores.take(20); s <- sc.split(";"))
      assert(s.split(":").length == 4, s"bad score string: $s")
    // non-predictive evidences still render a |NULL drug (reference quirk)
    val diags = out.map(_.getAs[String]("civic_diagnostic")).filter(_ != ".")
    assert(diags.exists(_.contains("|NULL(")), "non-predictive should carry |NULL drug")
  }

  test("S7/A3: drug-targets report ranks drugs by distinct gene count") {
    val dim = Synth.evidenceDim(spark, 12, 42L).toDF()
    val filtered = EvidenceFilter(dim, Pipeline.defaultFilter)
    val pred = Reports.predEntriesTable(filtered, Pipeline.defaultCt)
    val names = Reports.nameTable(filtered)
    val dt = Reports.drugTargets(ann(turnCfg), pred, names).collect()
    assert(dt.nonEmpty)
    // sorted by n_genes desc
    val freqs = dt.map(_.getAs[Long]("n_genes")).toSeq
    assert(freqs == freqs.sortBy(-_))
    // one row per (drug, gene)
    val keys = dt.map(r => (r.getAs[String]("drug"), r.getAs[String]("gene")))
    assert(keys.distinct.length == keys.length)
    assert(dt.forall(_.getAs[String]("evidence_type") == "PREDICTIVE"))
  }

  test("A2: cross-variant consensus emits counts and matches per-row sums") {
    val a = ann(turnCfg.copy(nConvs = 10))
    // the support counts of the dimension `bc` indexes
    val dim = EvidenceFilter(Synth.evidenceDim(spark, 12, Pipeline.DefaultSeed).toDF(),
      Pipeline.defaultFilter)
    val got = Reports.reprocessAcross(a, DimIndex.supportTable(dim, Pipeline.defaultCt))
    assert(got.nonEmpty)
    val re = """.+:(CT|GT|NCT):CIVIC_(SUPPORT|RESISTANCE|CONFLICT|UNKNOWN):\d+\|\d+\|\d+\|\d+""".r
    for (s <- got) assert(re.findFirstIn(s).isDefined, s"bad reprocess string: $s")
  }

  test("S4/U1/J3: alias resolution selects dimension genes by name-or-alias") {
    import spark.implicits._
    val dim = Synth.evidenceDim(spark, 12, 42L).toDF()
    val aliases = Synth.aliasTable(spark, 12)
    // inputs: one canonical name, one alias, one unknown
    val inputs = Seq("ENT0001", "ALT0002", "NOPE").toDF("gene")
    val resolved = GeneResolver.resolve(dim, aliases, inputs)
    val genes = resolved.select("gene_key").distinct()
      .collect().map(_.getString(0)).toSet
    assert(genes == Set("ENT0001", "ENT0002"))
  }

  test("UDAF: ConsensusAggregator equals the count-based consensus") {
    import spark.implicits._
    val consensusUdaf = udaf(ConsensusAggregator)
    val dim = Synth.evidenceDim(spark, 12, 42L).toDF()
    val ctSel = CtClassifier.select(
      CtClassifier.annotate(dim, Pipeline.defaultCt), Left("highest"))
    val clsUdf = udf((d: String, s: String) =>
      graft.functions.Nomenclature.drugSupportClass(d, s))
    val viaAgg = ctSel.filter(col("evidence_type") === "PREDICTIVE")
      .withColumn("_cls", clsUdf(col("direction"), col("significance")))
      .groupBy(col("gene_key"), col("var_id"), col("drug"), col("ct"))
      .agg(consensusUdaf(col("_cls")).as("consensus"))
    val viaCounts = ctSel.filter(col("evidence_type") === "PREDICTIVE")
      .withColumn("_cls", clsUdf(col("direction"), col("significance")))
      .groupBy(col("gene_key"), col("var_id"), col("drug"), col("ct"))
      .agg(
        count(when(col("_cls") === "POSITIVE", 1)).as("p"),
        count(when(col("_cls") === "NEGATIVE", 1)).as("n"),
        count(when(col("_cls") === "UNKNOWN_BLANK", 1)).as("ub"),
        count(when(col("_cls") === "UNKNOWN_DNS", 1)).as("ud"))
    val a = viaAgg.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getString(4)).toMap
    val b = viaCounts.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) ->
        graft.functions.Nomenclature.consensus(
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(a.nonEmpty)
    assert(a == b)
  }

  test("W3: per-line prioritization picks best tier, then most matches") {
    import spark.implicits._
    val rows = ann(turnCfg).toDF().withColumn("annot_idx", lit(0))
    // fake multi-annotation: duplicate each line with a second annotation
    // that is always tier_4 (unknown gene)
    val worse = ann(turnCfg).toDF()
      .withColumn("annot_idx", lit(1))
      .withColumn("tier_1", array().cast("array<string>"))
      .withColumn("tier_1b", array().cast("array<string>"))
      .withColumn("tier_2", array().cast("array<string>"))
      .withColumn("tier_3", array().cast("array<string>"))
      .withColumn("tier_4", lit(true))
      .withColumn("highest_tier", lit("tier_4"))
    val best = Reports.prioritizePerLine(rows.unionByName(worse))
    assert(best.count() == rows.count())
    // the tier_4 duplicate never wins over a real match
    val losers = best.filter(col("annot_idx") === 1 && col("highest_tier") =!= "tier_4")
    assert(losers.count() == 0)
  }
}
