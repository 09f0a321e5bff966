package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distribution-drift checks (SURVEY A26, north rule: "two-sample KS /
 * chi-square over quantile sketches").
 *
 * The reference only compares means against a tolerance
 * (`/root/reference/src/engine/report/quality_report.py:113-136`); the north
 * rule upgrades this to proper two-sample statistics computed from
 * per-partition sketches:
 *
 *  1. each side (baseline vs current) is reduced to ONE mergeable KLL
 *     quantile sketch ([[Sketches.KllSketch]]) in a single agg pass — never
 *     a row-level comparison between the two tables;
 *  2. KS statistic and χ² are driver-side folds over the two sketches.
 *
 * This keeps the drift check O(sketch size) on the driver and one scan per
 * side on the cluster — or ZERO scans when the sketches come from the
 * engine's per-partition metrics ledger ([[mergeLedgerSketches]]): sketches
 * merge across partitions and runs, so resumed/incremental runs never
 * re-read completed data.
 */
object Drift {

  /** Mean-shift check, faithfully mirroring the reference's tolerance rule:
    * tolerance = 0.15·σ_baseline / (importance + 0.1); drift if
    * |μ_cur − μ_base| > tolerance (`quality_report.py:113-136`). */
  case class MeanShift(column: String, baselineMean: Double, currentMean: Double,
                       tolerance: Double, drifted: Boolean, penalty: Double)

  def meanShift(baseMean: Double, baseStd: Double, curMean: Double,
                column: String, importance: Double = 1.0): MeanShift = {
    val tol = 0.15 * baseStd / (importance + 0.1)
    val dev = math.abs(curMean - baseMean)
    // penalty per quality_report.py:130-134: (Δ/σ)·5·importance, importance
    // supplied by the A15 fold (Importance.fromProfile), not a constant
    val penalty =
      if (dev > tol) dev / (baseStd + 1e-9) * 5.0 * importance else 0.0
    MeanShift(column, baseMean, curMean, tol, dev > tol, penalty)
  }

  /** Two-sample χ² from two aligned histograms (same bin edges). Bins empty
    * on both sides are skipped; expected counts are scaled for unequal totals
    * (standard two-sample χ² with K1/K2 scaling). */
  case class Chi2Result(statistic: Double, dof: Int)
  def chi2FromHistograms(a: Array[Long], b: Array[Long]): Chi2Result = {
    require(a.length == b.length, "histograms must share bin edges")
    val na = a.sum.toDouble; val nb = b.sum.toDouble
    if (na == 0 || nb == 0) return Chi2Result(0.0, 0)
    val k1 = math.sqrt(nb / na); val k2 = math.sqrt(na / nb)
    var stat = 0.0; var used = 0
    a.indices.foreach { i =>
      val (ai, bi) = (a(i).toDouble, b(i).toDouble)
      if (ai + bi > 0) {
        val d = k1 * ai - k2 * bi
        stat += d * d / (ai + bi)
        used += 1
      }
    }
    Chi2Result(stat, math.max(used - 1, 0))
  }

  /** Critical KS threshold at alpha=0.05 for samples of size na, nb. */
  def ksThreshold(na: Long, nb: Long, cAlpha: Double = 1.358): Double =
    cAlpha * math.sqrt((na + nb).toDouble / (na.toDouble * nb))

  case class DriftReport(column: String, ks: Double, ksThreshold: Double,
                         ksDrifted: Boolean, chi2: Double, chi2Dof: Int,
                         chi2Drifted: Boolean)

  /** One KLL sketch of a numeric column: ONE agg, single pass. */
  def sketchColumn(df: DataFrame, c: String, k: Int = 2048): Sketches.KllSketch =
    sketchColumns(df, Seq(c), k)(c)

  /** KLL sketches of MANY numeric columns in ONE wide agg — a multi-column
    * drift check pays one scan per SIDE, not per column (VERDICT r3 item 3:
    * `check` ran 2×N jobs for N columns). */
  def sketchColumns(df: DataFrame, cols: Seq[String],
                    k: Int = 2048): Map[String, Sketches.KllSketch] = {
    require(cols.nonEmpty, "sketchColumns needs at least one column")
    val kll = Sketches.kllSketch(k)
    val aggs = cols.map(c => kll(col(c).cast("double")).as(s"__sk_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.zipWithIndex.map { case (c, i) =>
      c -> Sketches.KllSketch.fromBytes(row.getAs[Array[Byte]](i)) }.toMap
  }

  /** Two-sample KS statistic from two KLL sketches: max CDF gap over the
    * union of stored support points (the empirical CDFs are step functions
    * whose steps are exactly the stored items, so the max over the union of
    * supports IS the max over all x). */
  def ksFromSketches(a: Sketches.KllSketch, b: Sketches.KllSketch): Double = {
    if (a.count == 0 || b.count == 0) return 0.0
    val support = (a.weighted.map(_._1) ++ b.weighted.map(_._1)).distinct.sorted
    support.map(x => math.abs(a.cdf(x) - b.cdf(x))).max
  }

  /** Aligned equi-width histograms over the combined sketch range, counts
    * reconstructed from each sketch's CDF mass per bin.
    *
    * Bin count is deliberately coarse: reconstruction error per bin edge is
    * ~ε·n (ε = sketch rank error), while expected bin mass shrinks as
    * n/bins, so the χ² noise floor grows ~bins²·ε²·n — at 64 bins/k=200 the
    * noise alone crossed the critical value on identical distributions.
    * 16 bins with the k=2048 default keeps the floor well under the
    * threshold while a real shift still exceeds it by 10-100×. */
  def chi2FromSketches(a: Sketches.KllSketch, b: Sketches.KllSketch,
                       bins: Int = 16): Chi2Result = {
    alignedHistograms(a, b, bins) match {
      case Some((ha, hb)) => chi2FromHistograms(ha, hb)
      case None => Chi2Result(0.0, 0)
    }
  }

  /** Equi-width histograms of both sketches over their COMBINED range (same
    * bin edges on both sides), counts reconstructed from each sketch's CDF
    * mass per bin. None when either side is empty. */
  def alignedHistograms(a: Sketches.KllSketch, b: Sketches.KllSketch,
                        bins: Int = 16): Option[(Array[Long], Array[Long])] = {
    if (a.count == 0 || b.count == 0) return None
    val lo = math.min(a.minV, b.minV)
    val hi0 = math.max(a.maxV, b.maxV)
    val hi = if (hi0 == lo) lo + 1 else hi0
    def hist(s: Sketches.KllSketch): Array[Long] = {
      val edges = (0 to bins).map(i => lo + (hi - lo) * i / bins)
      (0 until bins).map { i =>
        val p = s.cdf(edges(i + 1)) - (if (i == 0) 0.0 else s.cdf(edges(i)))
        math.round(p * s.count)
      }.toArray
    }
    Some((hist(a), hist(b)))
  }

  /** Population Stability Index over two aligned histograms:
    * PSI = Σ_i (p_i − q_i)·ln(p_i/q_i) — the scorecard-monitoring drift
    * measure, complementing KS (max CDF displacement) and χ² (significance
    * test) with an aggregate mass-movement size that is sample-size-free:
    * at 10^12 rows χ² flags any microscopic shift as significant, while PSI
    * stays a pure effect size. Conventional bands: < 0.1 stable, 0.1–0.25
    * moderate shift, ≥ 0.25 major shift.
    *
    * Bins empty on one side get `smooth` probability mass (the standard
    * guard — the log term diverges on true zeros); bins empty on BOTH sides
    * are skipped entirely so unused range doesn't accumulate smoothing
    * noise. */
  def psiFromHistograms(a: Array[Long], b: Array[Long],
                        smooth: Double = 1e-4): Double = {
    require(a.length == b.length, "histograms must share bin edges")
    val na = a.sum.toDouble; val nb = b.sum.toDouble
    if (na == 0 || nb == 0) return 0.0
    var psi = 0.0
    a.indices.foreach { i =>
      if (a(i) + b(i) > 0) {
        val p = math.max(a(i) / na, smooth)
        val q = math.max(b(i) / nb, smooth)
        psi += (p - q) * math.log(p / q)
      }
    }
    psi
  }

  /** PSI between two KLL sketches (same reconstruction as
    * [[chi2FromSketches]], same coarse-bin rationale). */
  def psiFromSketches(a: Sketches.KllSketch, b: Sketches.KllSketch,
                      bins: Int = 16): Double =
    alignedHistograms(a, b, bins) match {
      case Some((ha, hb)) => psiFromHistograms(ha, hb)
      case None => 0.0
    }

  case class PsiReport(name: String, psi: Double, band: String,
                       drifted: Boolean)

  private def psiBand(psi: Double): String =
    if (psi < 0.1) "stable" else if (psi < 0.25) "moderate" else "major"

  /** PSI verdict with the conventional banding; `threshold` defaults to the
    * major-shift boundary. */
  def psiCheck(a: Sketches.KllSketch, b: Sketches.KllSketch, name: String,
               bins: Int = 16, threshold: Double = 0.25): PsiReport = {
    val psi = psiFromSketches(a, b, bins)
    PsiReport(name, psi, psiBand(psi), psi >= threshold)
  }

  /** CATEGORICAL drift: PSI over two Misra–Gries heavy-hitter summaries
    * ([[Sketches.MgSketch]]) — the categorical face of the drift triad (KLL
    * = numeric distribution, HLL = cardinality, MG = top-value mix).
    * Proportions align on the union of tracked values plus one OTHER bucket
    * holding each side's untracked remainder (total − Σ tracked counts). In
    * the exact regime (no decrements — distinct ≤ capacity) this is exact
    * category PSI.
    *
    * Approximate regime: estimates are under-counts by at most maxError
    * each, and the OTHER bucket absorbs ALL retired mass — both depend on
    * the MERGE TREE, not the data (the same input summarized under
    * different partition counts retires different amounts and can track
    * different tail keys). Every PSI term is therefore counted only when
    * its proportion gap exceeds the two sides' combined error bounds for
    * that bucket (maxError/total per tracked key — the PODS'12 per-item
    * bound; the EXACT tracked `retired` mass over total for OTHER — no
    * closed form in maxError bounds it, see [[Sketches.MgSketch.retired]]):
    * summary error can never fire a drift verdict on its own — identical
    * data reads EXACTLY 0.0 under any two merge trees — while mix shifts
    * among true heavy hitters (the values an MG summary is FOR) sit far
    * above the bounds and still fire. In the exact regime this is exact
    * category PSI with no gating. */
  def psiCategorical(a: Sketches.MgSketch, b: Sketches.MgSketch, name: String,
                     threshold: Double = 0.25): PsiReport = {
    if (a.total == 0 || b.total == 0) return PsiReport(name, 0.0, "stable", false)
    val smooth = 1e-4
    val keyNoise = a.maxError.toDouble / a.total + b.maxError.toDouble / b.total
    def term(p0: Double, q0: Double, noise: Double): Double = {
      if (math.abs(p0 - q0) <= noise) return 0.0
      val p = math.max(p0, smooth); val q = math.max(q0, smooth)
      (p - q) * math.log(p / q)
    }
    var psi = 0.0
    (a.counts.keySet ++ b.counts.keySet).foreach { k =>
      psi += term(a.estimate(k).toDouble / a.total,
                  b.estimate(k).toDouble / b.total, keyNoise)
    }
    val oa = (a.total - a.counts.values.sum).toDouble / a.total
    val ob = (b.total - b.counts.values.sum).toDouble / b.total
    psi += term(oa, ob,
      a.retired.toDouble / a.total + b.retired.toDouble / b.total)
    PsiReport(name, psi, psiBand(psi), psi >= threshold)
  }

  /** Cross-run PSI verdict from ledger sketches — zero data re-scan, same
    * contract as [[ledgerDrift]]. */
  def ledgerPsi(ledger: DataFrame, runA: String, runB: String, name: String,
                bins: Int = 16, threshold: Double = 0.25): Option[PsiReport] =
    for {
      a <- mergeLedgerSketches(ledger, runA, name)
      b <- mergeLedgerSketches(ledger, runB, name)
    } yield psiCheck(a, b, name, bins, threshold)

  /** Drift verdict from two (possibly merged per-partition / cross-run)
    * sketches — no data scan at all.
    *
    * `minEffect` is a practical-significance floor on the KS statistic (max
    * CDF displacement): at 10^12-row scale the statistical threshold falls
    * to ~1e-6 — below both the sketch resolution AND any actionable drift —
    * so a pure α-test would flag every pair of real-world runs. The default
    * 0.005 (half a percentile of displacement) is far under any drift a
    * pipeline would act on and above the k=2048 sketch's rank error. */
  def checkSketches(a: Sketches.KllSketch, b: Sketches.KllSketch, c: String,
                    bins: Int = 16, alpha: Double = 1.358,
                    minEffect: Double = 0.005): DriftReport = {
    val ks = ksFromSketches(a, b)
    val chi2 = chi2FromSketches(a, b, bins)
    val thr = math.max(
      ksThreshold(math.max(a.count, 1), math.max(b.count, 1), alpha), minEffect)
    // χ² critical value ~ dof + 3·sqrt(2·dof) (≈ p<0.01 for moderate dof)
    val chi2Crit = chi2.dof + 3.0 * math.sqrt(2.0 * chi2.dof)
    DriftReport(c, ks, thr, ks > thr, chi2.statistic, chi2.dof,
      chi2.dof > 0 && chi2.statistic > chi2Crit && ks > minEffect)
  }

  /** Full drift check of one numeric column between two tables: ONE
    * single-pass KLL agg per side (r2 ran two passes per side — a
    * `percentile_approx` agg plus a histogram agg whose bin range needed the
    * quantile pass first), statistics on the driver from the two sketches. */
  def check(baseline: DataFrame, current: DataFrame, c: String,
            bins: Int = 16, alpha: Double = 1.358): DriftReport =
    checkMany(baseline, current, Seq(c), bins, alpha).head

  /** Multi-column drift check in exactly TWO Spark jobs regardless of column
    * count: one wide KLL agg per side ([[sketchColumns]]), then per-column
    * KS/χ² driver-side folds. Reports come back in `cols` order. */
  def checkMany(baseline: DataFrame, current: DataFrame, cols: Seq[String],
                bins: Int = 16, alpha: Double = 1.358): Seq[DriftReport] = {
    val a = sketchColumns(baseline, cols)
    val b = sketchColumns(current, cols)
    cols.map(c => checkSketches(a(c), b(c), c, bins, alpha))
  }

  /** Read an engine ledger directory the schema-evolution-safe way:
    * `mergeSchema = true`. Ledger columns have been ADDED over time
    * (`attempt_ts`, `rules_hash`, `mg_sketches`), so a long-lived ledger dir
    * mixes parquet footers with different column sets; a plain
    * `spark.read.parquet` resolves the schema from ONE arbitrary footer and
    * can silently drop the newer columns — e.g. [[mergeLedgerMg]] returning
    * None for a run that DID write summaries. Same read mode the engine
    * itself uses for resume. */
  def readLedger(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** One sketch payload per partition of `runId`, reduced to the LATEST
    * attempt per partition: a partition re-validated after a rule edit has
    * several ledger rows, and only the newest describes the artifacts on
    * disk — merging all rows would double-weight re-validated partitions
    * (ADVICE r4). Legacy ledgers without `attempt_ts` order as ts = 0. */
  private def latestPerPart(ledger: DataFrame, runId: String,
                            value: Column): Array[Array[Byte]] = {
    val withTs = if (ledger.columns.contains("attempt_ts")) ledger
                 else ledger.withColumn("attempt_ts", lit(0L))
    withTs.where(col("run_id") === runId)
      .groupBy(col("part"))
      // struct-wrap the payload: a latest attempt with a NULL sketch must
      // win (its partition contributes nothing), not fall through to an
      // older attempt's sketch via max_by's null-value handling
      .agg(max_by(struct(value.as("v")), coalesce(col("attempt_ts"), lit(0L)))
        .getField("v").as("s"))
      .where(col("s").isNotNull)
      .collect().map(_.getAs[Array[Byte]]("s"))
  }

  /** Merge a run's per-partition ledger sketches (see
    * [[graft.engine.EngineConfig.sketchExprs]]) for sketch `name` into one
    * sketch — cross-run drift then needs NO data scan: two ledger reads +
    * [[checkSketches]]. Latest attempt per partition wins. */
  def mergeLedgerSketches(ledger: DataFrame, runId: String,
                          name: String): Option[Sketches.KllSketch] = {
    val rows = latestPerPart(ledger, runId, element_at(col("sketches"), name))
    if (rows.isEmpty) None
    else Some(Sketches.KllSketch.mergeAll(rows.toIndexedSeq))
  }

  /** Merge a run's per-partition ledger HLL registers for sketch `name` into
    * one distinct-count estimate (see
    * [[graft.engine.EngineConfig.hllSketchExprs]]) — cross-run/cross-partition
    * distinct-count drift with NO data scan: register-wise max across ledger
    * rows, estimate on the driver. Latest attempt per partition wins. */
  def mergeLedgerHll(ledger: DataFrame, runId: String,
                     name: String): Option[Long] = {
    val rows = latestPerPart(ledger, runId, element_at(col("hll_sketches"), name))
    if (rows.isEmpty) None
    else Some(Sketches.mergeHllSketches(rows.toIndexedSeq))
  }

  /** Merge a run's per-partition ledger Misra–Gries summaries for sketch
    * `name` into one summary (see
    * [[graft.engine.EngineConfig.mgSketchExprs]]); None on ledgers written
    * before the `mg_sketches` column existed. Latest attempt per partition
    * wins. Load mixed-era ledger dirs with [[readLedger]] — a plain
    * parquet read can resolve its schema from a pre-mg footer and silently
    * hide the column. */
  def mergeLedgerMg(ledger: DataFrame, runId: String,
                    name: String): Option[Sketches.MgSketch] = {
    if (!ledger.columns.contains("mg_sketches")) return None
    val rows = latestPerPart(ledger, runId, element_at(col("mg_sketches"), name))
    if (rows.isEmpty) None
    else Some(Sketches.MgSketch.mergeAll(rows.toIndexedSeq))
  }

  /** Cross-RUN categorical drift verdict (PSI over merged MG summaries) for
    * sketch `name` between two runs in the same ledger — zero scans of the
    * data, same contract as [[ledgerDrift]]/[[ledgerHllDrift]]. */
  def ledgerCategoricalDrift(ledger: DataFrame, runA: String, runB: String,
                             name: String,
                             threshold: Double = 0.25): Option[PsiReport] =
    for {
      a <- mergeLedgerMg(ledger, runA, name)
      b <- mergeLedgerMg(ledger, runB, name)
    } yield psiCategorical(a, b, name, threshold)

  /** Cross-run distinct-count drift verdict for HLL sketch `name` between
    * two runs in the same ledger — the HLL analogue of [[ledgerDrift]], zero
    * scans of the data (VERDICT r4 item 5). `tolerance` is the relative
    * change floor: the default 0.15 sits far above the HLL estimator's ~2%
    * standard error at the engine's default precision, so identical data
    * never fires while an order-level cardinality shift always does. */
  case class HllDriftReport(name: String, countA: Long, countB: Long,
                            relChange: Double, drifted: Boolean)
  def ledgerHllDrift(ledger: DataFrame, runA: String, runB: String,
                     name: String, tolerance: Double = 0.15): Option[HllDriftReport] =
    for {
      a <- mergeLedgerHll(ledger, runA, name)
      b <- mergeLedgerHll(ledger, runB, name)
    } yield {
      val rel = math.abs(b - a).toDouble / math.max(a, 1L)
      HllDriftReport(name, a, b, rel, rel > tolerance)
    }

  /** Cross-RUN drift verdict for sketch `name` between two runs recorded in
    * the same engine ledger — the full north-rule story with ZERO scans of
    * the data: per-partition KLL sketches written during each validation
    * run merge into one sketch per side, then KS/χ² on the driver. Returns
    * None when either run has no sketch under `name`. */
  def ledgerDrift(ledger: DataFrame, runA: String, runB: String, name: String,
                  bins: Int = 16, alpha: Double = 1.358): Option[DriftReport] =
    for {
      a <- mergeLedgerSketches(ledger, runA, name)
      b <- mergeLedgerSketches(ledger, runB, name)
    } yield checkSketches(a, b, name, bins, alpha)

  /** Sketch names a run recorded under one ledger map column. */
  private def sketchNames(ledger: DataFrame, runId: String,
                          column: String): Seq[String] = {
    if (!ledger.columns.contains(column)) return Nil
    ledger.where(col("run_id") === runId && col(column).isNotNull)
      .select(explode(map_keys(col(column))).as("k"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
  }

  /** Combined cross-run drift report over EVERY sketch both runs recorded —
    * see [[ledgerDriftAll]]. */
  case class LedgerDriftAll(numeric: Seq[DriftReport], psi: Seq[PsiReport],
                            cardinality: Seq[HllDriftReport],
                            categorical: Seq[PsiReport]) {
    def drifted: Boolean =
      numeric.exists(r => r.ksDrifted || r.chi2Drifted) ||
      psi.exists(_.drifted) ||
      cardinality.exists(_.drifted) || categorical.exists(_.drifted)
  }

  /** One-call cross-run drift report: discovers the sketch names present in
    * BOTH runs across the three ledger map columns and evaluates every
    * verdict family — KS/χ² + PSI per numeric KLL sketch, relative-change
    * per HLL cardinality sketch, error-gated categorical PSI per MG summary.
    * The Spark analogue of the reference's per-column drift section in the
    * quality report (`quality_report.py:113-136`), except it runs from the
    * ledger alone: ZERO scans of either run's data. Pass a ledger loaded via
    * [[readLedger]] so columns added over time are visible. */
  def ledgerDriftAll(ledger: DataFrame, runA: String, runB: String,
                     bins: Int = 16, alpha: Double = 1.358,
                     hllTolerance: Double = 0.15,
                     psiThreshold: Double = 0.25): LedgerDriftAll = {
    def shared(c: String) =
      sketchNames(ledger, runA, c).intersect(sketchNames(ledger, runB, c))
    // merge each (run, name) KLL sketch ONCE; both the KS/χ² and the PSI
    // verdicts fold the same merged pair on the driver
    val kllPairs = shared("sketches").flatMap { n =>
      for {
        a <- mergeLedgerSketches(ledger, runA, n)
        b <- mergeLedgerSketches(ledger, runB, n)
      } yield (n, a, b)
    }
    LedgerDriftAll(
      kllPairs.map { case (n, a, b) => checkSketches(a, b, n, bins, alpha) },
      kllPairs.map { case (n, a, b) => psiCheck(a, b, n, bins, psiThreshold) },
      shared("hll_sketches")
        .flatMap(n => ledgerHllDrift(ledger, runA, runB, n, hllTolerance)),
      shared("mg_sketches")
        .flatMap(n => ledgerCategoricalDrift(ledger, runA, runB, n, psiThreshold)))
  }

  /** χ² drift over a categorical column: value-count join on the (small)
    * union of categories, statistic on the driver. */
  def checkCategorical(baseline: DataFrame, current: DataFrame, c: String): Chi2Result = {
    val a = baseline.groupBy(col(c)).agg(count(lit(1)).as("na"))
    val b = current.groupBy(col(c)).agg(count(lit(1)).as("nb"))
    val joined = a.join(b, Seq(c), "full_outer")
      .select(coalesce(col("na"), lit(0L)).as("na"),
              coalesce(col("nb"), lit(0L)).as("nb")).collect()
    chi2FromHistograms(joined.map(_.getLong(0)), joined.map(_.getLong(1)))
  }
}
