package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Nomenclature
import graft.ref.RefModel
import graft.sources.Synth

/** Property tests (SURVEY.md §5.2 item 3): nomenclature round-trips,
  * tier monotonicity, vote permutation-invariance and tie semantics.
  */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  // 1-letter codes whose 3-letter form is alphabetic (X maps to "*",
  // which legitimately fails p.HGVS re-parsing)
  private val aa1 = Gen.oneOf(Nomenclature.aminoAcids
    .filter { case (k, v) => k != "*" && v.forall(_.isLetter) }.keys.toSeq)
  private val pos = Gen.choose(1, 2000)

  test("civicNameToHgvs round-trip: rendered 1-letter names parse to 3-letter HGVS") {
    check(Prop.forAll(aa1, pos, aa1) { (a, p, b) =>
      val name = s"$a$p$b"
      val got = Nomenclature.civicNameToHgvs(name)
      val want = s"P.${Nomenclature.aminoAcids(a.toUpperCase)}$p${Nomenclature.aminoAcids(b.toUpperCase)}"
      got == List(want)
    })
  }

  test("extractPStart is idempotent and a prefix") {
    val pGen = for { a <- aa1; p <- pos; b <- aa1 } yield
      s"P.${Nomenclature.aminoAcids(a)}$p${Nomenclature.aminoAcids(b)}"
    check(Prop.forAll(pGen) { h =>
      Nomenclature.extractPStart(h) match {
        case Some(start) =>
          h.startsWith(start) &&
            Nomenclature.extractPStart(start).contains(start)
        case None => false
      }
    })
  }

  test("consensus is permutation-invariant (counts fully determine it)") {
    val cnt = Gen.choose(0L, 20L)
    check(Prop.forAll(cnt, cnt, cnt, cnt) { (p, n, ub, ud) =>
      (p + n + ub + ud) == 0L || {
        val c1 = Nomenclature.consensus(p, n, ub, ud)
        // swapping the two unknown classes never changes the outcome
        val c2 = Nomenclature.consensus(p, n, ud, ub)
        c1 == c2
      }
    })
  }

  test("consensus tie semantics: confident beats unknown on equality") {
    val cnt = Gen.choose(1L, 20L)
    check(Prop.forAll(cnt) { k =>
      Nomenclature.consensus(k, 0, k, 0) == "CIVIC_SUPPORT" &&
      Nomenclature.consensus(0, k, 0, k) == "CIVIC_RESISTANCE" &&
      Nomenclature.consensus(k, k, 0, 0) == "CIVIC_CONFLICT"
    })
  }

  test("tier monotonicity: adding input annotations never lowers the highest tier") {
    val dimRows = Synth.evidenceRows(6, 42L)
    val vm = RefModel.buildVarMap(dimRows)
    val genes = vm.keys.toSeq
    val annotPool = Seq("p.Val600Glu", "p.Val600Lys", "p.Glu55fs",
      "p.Trp24*", "p.Ala999Thr", "p.Pro61Pro")
    val geneGen = Gen.oneOf(genes)
    val subsetGen = Gen.someOf(annotPool).suchThat(_.nonEmpty)
    val extraGen = Gen.oneOf(annotPool)
    def rank(m: RefModel.Match): Int =
      if (m.tier1.nonEmpty) 0 else if (m.tier1b.nonEmpty) 1
      else if (m.tier2.nonEmpty) 2 else if (m.tier3.nonEmpty) 3 else 4
    check(Prop.forAll(geneGen, subsetGen, extraGen) { (g, subset, extra) =>
      val base = RefModel.matchVariantsInCivic(g, subset.toList, vm, "SNV")
      val more = RefModel.matchVariantsInCivic(g, (subset :+ extra).distinct.toList, vm, "SNV")
      rank(more) <= rank(base)
    })
  }

  test("tier selection (TierSelect over Annotation) agrees with RefModel.filterMatch") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    // half the tiers empty, so rows with no kept tier (tier_4) and
    // every highest tier occur
    val tierGen = Gen.frequency(1 -> Gen.const(Seq.empty[String]),
      1 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf("V1", "V2", "V3", "V4"))
        .map(_.distinct)))
    val rowGen = for (t1 <- tierGen; t1b <- tierGen; t2 <- tierGen; t3 <- tierGen) yield {
      val m = RefModel.Match(t1.toList, t1b.toList, t2.toList, t3.toList,
        Seq(t1, t1b, t2, t3).forall(_.isEmpty))
      val highest = graft.model.Tiers.sorted.zip(Seq(t1, t1b, t2, t3, Seq("")))
        .collectFirst { case (n, t) if t.nonEmpty => n }.get
      m -> highest
    }
    val rows = Gen.listOfN(300, rowGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(20L)).get
      .zipWithIndex.map { case ((m, highest), i) =>
        operators.Annotation(s"c$i", 0, "user", new java.sql.Timestamp(0L),
          "G", "SNV", m.tier1, m.tier1b, m.tier2, m.tier3, m.tier4, highest,
          m.tier1, m.tier1b, m.tier2, m.tier3) -> m
      }
    val ds = spark.createDataset(rows.map(_._1))
    val lists = (1 to graft.model.Tiers.sorted.size)
      .flatMap(graft.model.Tiers.sorted.combinations).map(l => Right(l.toList))
    val selections: Seq[Either[String, List[String]]] =
      Seq(Left("all"), Left("highest")) ++ lists
    for (sel <- selections) {
      val got = operators.TierSelect(ds, sel).collect()
        .map(a => a.conv_id -> RefModel.Match(a.tier_1.toList, a.tier_1b.toList,
          a.tier_2.toList, a.tier_3.toList, a.tier_4)).toMap
      for ((a, m) <- rows)
        assert(got(a.conv_id) == RefModel.filterMatch(m, sel),
          s"selection $sel on $m")
    }
  }

  test("input/civic match-string generation is deterministic and upper-cased") {
    val s = Gen.alphaNumStr.suchThat(_.nonEmpty)
    check(Prop.forAll(s) { raw =>
      val a = Nomenclature.civicMatchStrings(raw, Seq(s"NP_1:p.$raw"), "SNV")
      val b = Nomenclature.civicMatchStrings(raw, Seq(s"NP_1:p.$raw"), "SNV")
      a == b && a.forall(x => x == x.toUpperCase)
    })
  }
}
