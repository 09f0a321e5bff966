package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.core.ValidationIssue
import graft.semantic.Scorer
import graft.stats.{Drift, Sketches}

/** Property tests (SURVEY §5 test plan #3): score bounds, sketch-merge
  * associativity/commutativity, drift statistic sanity.
  * Plain ScalaCheck (no scalatestplus bridge in the offline cache). */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop, name: String): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, s"$name: $res")
  }

  val issueGen: Gen[ValidationIssue] = for {
    sev <- Gen.oneOf("ERROR", "WARNING", "INFO")
    rows <- Gen.chooseNum(0L, 100000L)
  } yield ValidationIssue("c", "T", sev, "r", "", rows, Nil, "")

  test("score within [0,100]; adding issues never raises it; cap 15/issue") {
    check(Prop.forAll(Gen.listOf(issueGen), Gen.chooseNum(1L, 100000L)) {
      (issues, total) =>
        val s = Scorer.score(total, issues)
        val sMore = Scorer.score(total, issues ++ issues.headOption.toList)
        s.score >= 0.0 && s.score <= 100.0 &&
          sMore.score <= s.score + 1e-9 &&
          s.breakdown.forall(_.penalty <= 15.0)
    }, "score")
  }

  test("HLL merge commutative + associative at register level") {
    val gen = Gen.listOfN(256, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
    check(Prop.forAll(gen, gen, gen) { (a, b, c) =>
      import Sketches.HllState
      val (sa, sb, sc) = (HllState(a.toArray), HllState(b.toArray), HllState(c.toArray))
      sa.merge(sb).registers.toSeq == sb.merge(sa).registers.toSeq &&
        sa.merge(sb).merge(sc).registers.toSeq == sa.merge(sb.merge(sc)).registers.toSeq
    }, "hll-merge")
  }

  test("histogram merge preserves totals") {
    val gen = Gen.listOfN(16, Gen.chooseNum(0L, 1000000L))
    check(Prop.forAll(gen, gen) { (a, b) =>
      Sketches.HistState(a.toArray).merge(Sketches.HistState(b.toArray))
        .counts.sum == a.sum + b.sum
    }, "hist-merge")
  }

  test("KS in [0,1]; 0 for identical vectors; chi2 non-negative, 0 on self") {
    val qGen = Gen.listOfN(32, Gen.chooseNum(-1e6, 1e6)).map(_.sorted.toArray)
    val hGen = Gen.listOfN(16, Gen.chooseNum(0L, 10000L)).map(_.toArray)
    def kll(vs: Array[Double]) = {
      val sk = new Sketches.KllSketch(200); vs.foreach(sk.update); sk
    }
    check(Prop.forAll(qGen, qGen) { (qa, qb) =>
      val ks = Drift.ksFromSketches(kll(qa), kll(qb))
      ks >= 0.0 && ks <= 1.0 + 1e-9 && Drift.ksFromSketches(kll(qa), kll(qa)) == 0.0
    }, "ks")
    check(Prop.forAll(hGen, hGen) { (a, b) =>
      Drift.chi2FromHistograms(a, b).statistic >= -1e-9 &&
        (a.sum == 0 || Drift.chi2FromHistograms(a, a).statistic < 1e-9)
    }, "chi2")
  }

  test("portable md5-60 halves consistent, 60-bit range") {
    check(Prop.forAll { (s: String) =>
      val bytes = s.getBytes("UTF-8")
      import graft.functions.Hashing
      val h = Hashing.md5_60(bytes)
      val d = new Array[Byte](16)
      Hashing.md5Into(bytes, 0, bytes.length, d)
      val (h0, h1) = (Hashing.pack60a(d), Hashing.pack60b(d))
      h == h0 && h0 >= 0 && h0 < (1L << 60) && h1 >= 0 && h1 < (1L << 60)
    }, "md5-60")
  }

  test("CappedMinCollect reduce/merge equal the sort-based reference under any order") {
    val agg = new graft.functions.CappedMinCollect(3)
    val vGen = Gen.listOf(Gen.oneOf(Gen.alphaStr.map(_.take(4)), Gen.const(null: String)))
    check(Prop.forAll(vGen, vGen) { (xs, ys) =>
      def ref(vs: Seq[String]) =
        vs.filter(_ != null).distinct.sorted.take(3)
      val a = xs.foldLeft(agg.zero)(agg.reduce)
      val b = ys.foldLeft(agg.zero)(agg.reduce)
      a == ref(xs) && agg.merge(a, b) == ref(xs ++ ys) &&
        agg.merge(a, b) == agg.merge(b, a) // merge order never matters
    }, "capped-min-collect")
  }

  test("banded-Jaccard S-curve recall estimate: bounds, monotonicity, closed form") {
    val jGen = Gen.chooseNum(0.0, 1.0)
    check(Prop.forAll(jGen, Gen.chooseNum(1, 8), Gen.chooseNum(1, 64)) { (j, r, b) =>
      val p = graft.dedup.Dedup.sCurveRecall(j, r, b)
      p >= 0.0 && p <= 1.0 &&
        math.abs(p - (1.0 - math.pow(1.0 - math.pow(j, r), b))) < 1e-12 &&
        p >= graft.dedup.Dedup.sCurveRecall(j, r, math.max(1, b - 1)) - 1e-12
    }, "s-curve")
  }
}
