package graft

import org.apache.spark.sql.functions._
import graft.stats.{Drift, Sketches}
import graft.multimodal.Media

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("HLL sketch: accuracy within 5% and merge-exactness") {
    val df = spark.range(0, 50000).select(xxhash64(col("id")).as("h"))
    val hll = Sketches.hllCountDistinct(12)
    val est = df.agg(hll(col("h"))).collect()(0).getLong(0)
    assert(math.abs(est - 50000) < 2500, s"estimate $est")
    // merge property: sketch(A ∪ B) == merge(sketch(A), sketch(B))
    val sk = Sketches.hllSketch(12)
    val sa = spark.range(0, 25000).select(xxhash64(col("id")).as("h"))
      .agg(sk(col("h"))).collect()(0).getAs[Array[Byte]](0)
    val sb = spark.range(25000, 50000).select(xxhash64(col("id")).as("h"))
      .agg(sk(col("h"))).collect()(0).getAs[Array[Byte]](0)
    val whole = df.agg(sk(col("h"))).collect()(0).getAs[Array[Byte]](0)
    assert(Sketches.mergeHllSketches(Seq(sa, sb)) ===
           Sketches.HllState(whole).estimate)
  }

  test("histogram sketch: merge = element-wise add; totals preserved") {
    val h = Sketches.histogram(0.0, 100.0, 10)
    val a = spark.range(0, 1000).select((col("id") % 100).cast("double").as("v"))
    val counts = a.agg(h(col("v"))).collect()(0).getSeq[Long](0)
    assert(counts.sum === 1000)
    assert(counts.forall(_ === 100))  // uniform 0..99 → 100 per bin
  }

  test("drift: identical distributions quiet, shifted distribution fires (F5)") {
    val base = spark.range(0, 20000)
      .select((pmod(xxhash64(col("id")), lit(1000)) / 10.0).as("v"))
    val same = spark.range(0, 20000)
      .select((pmod(xxhash64(col("id") + 1), lit(1000)) / 10.0).as("v"))
    val shifted = base.select((col("v") * 1.3 + 20.0).as("v"))
    val quiet = Drift.check(base, same, "v")
    assert(!quiet.ksDrifted, s"false positive: $quiet")
    val loud = Drift.check(base, shifted, "v")
    assert(loud.ksDrifted && loud.chi2Drifted, s"missed drift: $loud")
    assert(loud.ks > quiet.ks * 5)
  }

  test("drift: categorical chi2 fires on re-weighted categories") {
    val a = spark.range(0, 10000).select(
      when(col("id") % 10 < 5, "x").when(col("id") % 10 < 8, "y").otherwise("z").as("c"))
    val b = spark.range(0, 10000).select(
      when(col("id") % 10 < 2, "x").when(col("id") % 10 < 8, "y").otherwise("z").as("c"))
    val sameR = Drift.checkCategorical(a, a, "c")
    assert(sameR.statistic === 0.0)
    val diffR = Drift.checkCategorical(a, b, "c")
    assert(diffR.statistic > 100.0)
  }

  test("PSI: stable on identical distributions, major on a real shift, banded") {
    // driver-built sketches (KllSketch.update) — PSI is a sketch fold, no
    // Spark needed for the math itself
    def sketchOf(vs: Iterable[Double]): Sketches.KllSketch = {
      val s = new Sketches.KllSketch(2048); vs.foreach(s.update); s
    }
    val rnd = new scala.util.Random(42)
    val base = Array.fill(20000)(rnd.nextGaussian() * 10 + 50)
    val same = Array.fill(20000)(rnd.nextGaussian() * 10 + 50)
    val shifted = base.map(_ * 1.3 + 20.0)
    val quiet = Drift.psiCheck(sketchOf(base), sketchOf(same), "v")
    assert(quiet.band === "stable" && !quiet.drifted, quiet.toString)
    val loud = Drift.psiCheck(sketchOf(base), sketchOf(shifted), "v")
    assert(loud.band === "major" && loud.drifted, loud.toString)
    assert(loud.psi > quiet.psi * 10)
    // histogram-level: PSI is symmetric-in-magnitude and zero on equality
    val ha = Array(100L, 300L, 600L); val hb = Array(300L, 300L, 400L)
    assert(Drift.psiFromHistograms(ha, ha) === 0.0)
    assert(math.abs(Drift.psiFromHistograms(ha, hb) -
                    Drift.psiFromHistograms(hb, ha)) < 1e-12)
    // bins empty on BOTH sides contribute nothing (no smoothing noise);
    // totals differing only in scale give PSI 0 (it compares proportions)
    assert(Drift.psiFromHistograms(Array(10L, 0L, 30L), Array(20L, 0L, 60L)) < 1e-12)
  }

  test("categorical PSI over MG summaries: quiet on same mix, major on a flip, " +
       "untracked mass lands in the OTHER bucket") {
    def mgOf(vs: Seq[String], capacity: Int = 64): Sketches.MgSketch = {
      val s = new Sketches.MgSketch(capacity); vs.foreach(s.update); s
    }
    val base = Seq.fill(700)("big") ++ Seq.fill(300)("small")
    val same = Seq.fill(1400)("big") ++ Seq.fill(600)("small") // scale-free
    val flip = Seq.fill(300)("big") ++ Seq.fill(700)("small")
    val quiet = Drift.psiCategorical(mgOf(base), mgOf(same), "c")
    assert(quiet.band === "stable" && !quiet.drifted, quiet.toString)
    val loud = Drift.psiCategorical(mgOf(base), mgOf(flip), "c")
    assert(loud.band === "major" && loud.drifted, loud.toString)
    // a category present on only one side still registers (smoothed, not NaN)
    val extra = Drift.psiCategorical(mgOf(base), mgOf(base ++ Seq.fill(800)("new")), "c")
    assert(extra.psi > 0 && !extra.psi.isNaN && extra.drifted, extra.toString)
    // approximate regime: evicted mass is carried by the OTHER bucket, so
    // two identical streams through tiny summaries still read stable
    val wide = (0 until 50).flatMap(i => Seq.fill(50 - i)(f"v$i%02d"))
    val tiny = Drift.psiCategorical(mgOf(wide, 8), mgOf(wide, 8), "c")
    assert(tiny.band === "stable", tiny.toString)
    // ... even when the two sides took DIFFERENT merge trees (one-pass vs
    // chunked partial merges): retirement mass and the tracked tail-key set
    // both differ between the trees, but every PSI term is gated on the
    // summaries' combined error bounds, so a merge-tree artifact alone can
    // never fire a verdict — identical data reads exactly 0.0
    val chunked = wide.grouped(80).toSeq
      .map { ch => val m = new Sketches.MgSketch(8); ch.foreach(m.update); m }
      .reduce(_ merge _)
    assert(chunked.maxError !== mgOf(wide, 8).maxError,
      "fixture must actually produce differing retirement mass")
    val trees = Drift.psiCategorical(mgOf(wide, 8), chunked, "c")
    assert(trees.psi === 0.0 && trees.band === "stable", trees.toString)
    // while a mix shift among TRUE heavy hitters (what an MG summary is for)
    // through the same tiny summaries, long tail and all, still fires
    val tail = (0 until 300).map(i => f"t$i%03d")
    val heavy = Seq.fill(6000)("big") ++ Seq.fill(1500)("small") ++ tail
    val heavyFlip = Seq.fill(1500)("big") ++ Seq.fill(6000)("small") ++ tail
    val hv = Drift.psiCategorical(mgOf(heavy, 8), mgOf(heavyFlip, 8), "c")
    assert(hv.drifted, hv.toString)
    assert(!Drift.psiCategorical(mgOf(heavy, 8), mgOf(heavy, 8), "c").drifted)
    // empty side → quiet by contract
    assert(!Drift.psiCategorical(mgOf(Nil), mgOf(base), "c").drifted)
  }

  test("winnowing: shared run >= k+w-1 guarantees a shared fingerprint; " +
       "disjoint docs share none; short docs get one") {
    import graft.text.Text
    val (k, w) = (3, 2)
    val run = "alpha beta gamma delta epsilon" // 5 tokens >= k+w-1 = 4
    val df = Seq(
      ("a", s"one two $run three"),
      ("b", s"nine eight seven $run"),
      ("c", "totally different words here entirely unrelated content"),
      ("s", "tiny")).toDF("id", "text")
    val fps = df.select($"id", Text.winnowedFingerprints($"text", k, w).as("fp"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps("a") intersect fps("b")).nonEmpty, "containment guarantee")
    assert((fps("a") intersect fps("c")).isEmpty)
    assert(fps("s").size === 1, "short doc -> whole-text fingerprint")
    // density: far fewer fingerprints than k-grams, never zero
    val big = ("big", (1 to 200).map(i => s"tok${i % 40}").mkString(" "))
    val nf = Seq(big).toDF("id", "text")
      .select(size(Text.winnowedFingerprints($"text", 5, 4))).as[Int].collect()(0)
    assert(nf > 0 && nf < 200 - 5 + 1)
    // the tight-loop expression (q45's path) equals the HOF reference
    // element-for-element on all cases, non-ASCII included
    val all = df.union(Seq(big, ("uni", "ü wé α β γ δ ε ζ η")).toDF("id", "text"))
    val parity = all.select($"id",
        graft.functions.F.winnowFingerprints($"text", k, w).as("fast"),
        Text.winnowedFingerprints($"text", k, w).as("ref"))
      .collect()
    parity.foreach(r => assert(r.getSeq[Long](1) === r.getSeq[Long](2), r.getString(0)))
  }

  test("LedgerDriftAll.drifted fires on EVERY family, including a PSI-only verdict") {
    val fired = Drift.PsiReport("v", 0.3, "major", drifted = true)
    val ksQuiet = Drift.DriftReport("v", 0.01, 0.2, ksDrifted = false,
      0.0, 10, chi2Drifted = false)
    assert(Drift.LedgerDriftAll(Seq(ksQuiet), Seq(fired), Nil, Nil).drifted)
    assert(Drift.LedgerDriftAll(Nil, Nil, Nil, Seq(fired)).drifted)
    assert(!Drift.LedgerDriftAll(Seq(ksQuiet), Nil, Nil, Nil).drifted)
  }

  test("repetition ratio: duplicate-bigram fraction, normalization-aware, 0 for short docs") {
    val df = Seq(
      ("loop", "a b a b a"),      // bigrams ab,ba,ab,ba → 2/4 duplicated
      ("clean", "the cat sat"),   // 2 distinct bigrams of 2
      ("short", "x"),             // ≤ k words → single shingle
      ("norm", "A  a\ta")         // normalizes to "a a a" → rep 0.5
    ).toDF("id", "text")
    val got = df.select($"id",
        round(graft.text.Text.repetitionRatio($"text", 2), 4).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("loop" -> 0.5, "clean" -> 0.0, "short" -> 0.0, "norm" -> 0.5))
    // the tight-loop expression (q44's path) agrees with the HOF reference
    // on every case, a non-ASCII doc included
    val df2 = df.union(Seq(("uni", "ü ü ü wé wé")).toDF("id", "text"))
    val both = df2.select($"id",
        round(graft.functions.F.repetitionRatio($"text", 2), 4).as("fast"),
        round(graft.text.Text.repetitionRatio($"text", 2), 4).as("ref"))
      .collect()
    both.foreach(r => assert(r.getDouble(1) === r.getDouble(2), r.toString))
    assert(both.count(_.getString(0) == "uni") === 1)
  }

  test("mean-shift mirrors quality_report.py tolerance rule") {
    val r = Drift.meanShift(baseMean = 100.0, baseStd = 10.0, curMean = 104.0,
      column = "v", importance = 1.0)
    // tolerance = 0.15*10/1.1 = 1.3636…; |104-100| = 4 > tol → drift
    assert(r.drifted && math.abs(r.tolerance - 1.3636) < 0.001)
    assert(!Drift.meanShift(100.0, 10.0, 100.5, "v").drifted)
  }

  test("media: sniffing, checksums, stub decode shapes") {
    val assets = Media.syntheticAssets(spark, 300)
    val meta = Media.extractMetadata(assets)
    val byFormat = meta.groupBy("sniffed_format").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFormat("jpeg") === 100 && byFormat("png") === 100 && byFormat("mp3") === 100)
    val row = meta.where(col("asset_id") === "asset-0").collect()(0)
    assert(row.getAs[Long]("n_bytes") === 36)   // 4 magic + 32 md5 bytes
    assert(row.getSeq[Double](row.fieldIndex("features")).length === 8)
    // deterministic: second run identical
    val row2 = Media.extractMetadata(Media.syntheticAssets(spark, 300))
      .where(col("asset_id") === "asset-0").collect()(0)
    assert(row.getAs[Long]("checksum") === row2.getAs[Long]("checksum"))
    // byte-range sampling: 4 slices of 8 bytes
    val s = assets.select(Media.sampleBytesExpr("payload", 4, 8).as("s"))
      .limit(1).collect()(0).getSeq[Array[Byte]](0)
    assert(s.length === 4 && s.forall(_.length === 8))
  }
}
