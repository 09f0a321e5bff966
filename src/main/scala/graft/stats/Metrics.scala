package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Report metrics (SURVEY A16–A28) — Spark re-expression of
 * `/root/reference/src/engine/report/metrics.py` and
 * `quality_report.py` / `report_builder.py` score folds. Each dimension is
 * one (or two) wide `agg()` passes; the weighted scores are driver folds.
 */
object Metrics {

  case class Completeness(totalCells: Long, missingCells: Long,
                          completenessPct: Double, completeRows: Long,
                          completeCols: Int, sparsityPct: Double)
  case class Validity(infiniteValues: Long, emptyStrings: Long,
                      castSuccessRatePct: Double)
  case class Consistency(avgStringLengthStd: Double)
  case class Uniqueness(duplicateRowPct: Double,
                        perColumnUniquenessPct: Map[String, Double])
  case class QualityDimensions(completeness: Completeness, validity: Validity,
                               consistency: Consistency, uniqueness: Uniqueness,
                               accuracy: Option[Double])

  /** A16 — completeness (`metrics.py:58-101`): cells, complete rows/cols,
    * sparsity; one scan. */
  def completeness(df: DataFrame): Completeness = {
    val cols = df.columns
    val rowNulls = cols.map(c => col(c).isNull.cast("int")).reduce(_ + _)
    val aggs = Seq(count(lit(1)).as("__rows"),
      sum(rowNulls.cast("long")).as("__missing"),
      sum((rowNulls === 0).cast("long")).as("__completeRows")) ++
      cols.map(c => sum(col(c).isNull.cast("long")).as(s"n_$c"))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = r.getAs[Long]("__rows")
    val missing = if (r.isNullAt(1)) 0L else r.getAs[Long]("__missing")
    val totalCells = rows * cols.length
    val completeCols = cols.count(c => r.getAs[Long](s"n_$c") == 0L)
    Completeness(totalCells, missing,
      if (totalCells == 0) 100 else (totalCells - missing) * 100.0 / totalCells,
      if (r.isNullAt(2)) 0L else r.getAs[Long]("__completeRows"),
      completeCols,
      if (totalCells == 0) 0 else missing * 100.0 / totalCells)
  }

  /** A17 + A18 — validity (infinite values, empty strings, cast-success
    * rate replacing pandas' mixed-python-type check per SURVEY A18) and
    * consistency (string-length std), one combined scan. */
  def validityAndConsistency(df: DataFrame): (Validity, Consistency) = {
    val numCols = df.schema.fields.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType => f.name }
    val strCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name }
    val aggs =
      numCols.map(c => sum((col(c) === Double.PositiveInfinity ||
        col(c) === Double.NegativeInfinity).cast("long")).as(s"inf_$c")) ++
      strCols.map(c => sum((col(c) === "").cast("long")).as(s"empty_$c")) ++
      strCols.map(c => sum(col(c).cast("string").try_cast(DoubleType).isNotNull
        .cast("long")).as(s"castok_$c")) ++
      strCols.map(c => sum(col(c).isNotNull.cast("long")).as(s"nn_$c")) ++
      strCols.map(c => stddev_samp(length(col(c)).cast("double")).as(s"lenstd_$c"))
    if (aggs.isEmpty) return (Validity(0, 0, 100.0), Consistency(0.0))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def gl(k: String) = { val i = r.fieldIndex(k); if (r.isNullAt(i)) 0L else r.getLong(i) }
    val inf = numCols.map(c => gl(s"inf_$c")).sum
    val empty = strCols.map(c => gl(s"empty_$c")).sum
    // type-conformance per column: a column is conformant when its values
    // AGREE on being numeric or not — conformance = max(p, 1−p) where p is
    // the numeric-cast success rate (replaces pandas' mixed-python-type
    // check, SURVEY A18: half-numeric columns score worst)
    val conformances = strCols.flatMap { c =>
      val nnC = gl(s"nn_$c")
      if (nnC == 0) None
      else { val p = gl(s"castok_$c").toDouble / nnC; Some(math.max(p, 1 - p)) }
    }
    val conformancePct =
      if (conformances.isEmpty) 100.0
      else conformances.sum / conformances.length * 100.0
    val lenStds = strCols.flatMap { c =>
      val i = r.fieldIndex(s"lenstd_$c"); if (r.isNullAt(i)) None else Some(r.getDouble(i)) }
    (Validity(inf, empty, conformancePct),
     Consistency(if (lenStds.isEmpty) 0.0 else lenStds.sum / lenStds.length))
  }

  /** A19 — uniqueness (`metrics.py:198-234`). Per-column distinct counts use
    * HyperLogLog (`approx_count_distinct`) by default: N exact `countDistinct`s
    * in one agg compile to the Expand-based multi-distinct plan (input ×N
    * duplication — a scale-killer); the HLL path is one ordinary hash-agg
    * pass. `exactDistinct = true` restores the exact plan for small tests. */
  def uniqueness(df: DataFrame, exactDistinct: Boolean = false): Uniqueness = {
    val distinctAgg: String => org.apache.spark.sql.Column =
      c => if (exactDistinct) countDistinct(col(c)) else approx_count_distinct(col(c))
    val aggs = count(lit(1)).as("__rows") +: df.columns.map(c => distinctAgg(c).as(c))
    // distinct agg and duplicate-row count are independent jobs — overlap
    // them (guide §2.6); results unchanged
    val (dupRows, r) = graft.Par(Profiler.duplicateRowCount(df),
      df.agg(aggs.head, aggs.tail: _*).collect()(0))
    val rows = r.getAs[Long]("__rows")
    val per = df.columns.map(c =>
      c -> (if (rows == 0) 100.0 else r.getAs[Long](c) * 100.0 / rows)).toMap
    Uniqueness(if (rows == 0) 0 else dupRows * 100.0 / rows, per)
  }

  /** A20 — accuracy vs a reference frame: mean column correlation over the
    * shared numeric columns, rows aligned by `key` (the reference aligns by
    * position, `metrics.py:262-263`; we require an explicit key per SURVEY J2). */
  def accuracy(df: DataFrame, reference: DataFrame, key: String): Option[Double] = {
    val shared = df.schema.fields.filter(f =>
      f.dataType.isInstanceOf[NumericType] && f.name != key &&
      reference.columns.contains(f.name)).map(_.name)
    if (shared.isEmpty) return None
    val refSel = reference.select((key +: shared.toSeq).map(c =>
      col(c).as(s"__ref_$c")): _*)
    val joined = df.join(refSel, col(key) === col(s"__ref_$key"))
    // ONE agg with every corr() — per-column aggs would re-execute the join
    // once per shared column
    val aggs = shared.map(c =>
      corr(col(c).cast("double"), col(s"__ref_$c").cast("double")).as(c))
    val r = joined.agg(aggs.head, aggs.tail: _*).collect()(0)
    val corrs = shared.flatMap { c =>
      val i = r.fieldIndex(c)
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    }
    if (corrs.isEmpty) None else Some(corrs.sum / corrs.length)
  }

  /** A21 — weighted overall score (`metrics.py:280-303`): completeness .30,
    * validity .25, consistency .20, uniqueness .15, accuracy .10. */
  def overallScore(d: QualityDimensions): Double = {
    val compScore = d.completeness.completenessPct
    val validScore = math.max(0.0, 100.0 -
      (d.validity.infiniteValues + d.validity.emptyStrings) * 0.01) *
      (d.validity.castSuccessRatePct / 100.0)
    val consistScore = math.max(0.0, 100.0 - d.consistency.avgStringLengthStd)
    val uniqScore = math.max(0.0, 100.0 - d.uniqueness.duplicateRowPct)
    // reference clamps negative correlation to 0 and scores 0 when no
    // reference frame exists (`metrics.py:276,295`) — NOT abs()/100-default
    val accScore = d.accuracy.map(a => math.max(0.0, a * 100.0)).getOrElse(0.0)
    val s = compScore * 0.30 + validScore * 0.25 + consistScore * 0.20 +
      uniqScore * 0.15 + accScore * 0.10
    math.round(s * 100) / 100.0
  }

  /** A25 — the UI quick score (`ui/pages/clean.py:164-176`):
    * (1−missing%)×40 + (1−dup%)×30 + typeScore×30. */
  def uiScore(missingPct: Double, dupPct: Double, typeScorePct: Double): Double =
    math.round(((1 - missingPct / 100) * 40 + (1 - dupPct / 100) * 30 +
      (typeScorePct / 100) * 30) * 100) / 100.0

  /** A27 — raw-vs-clean cell diff by key (positional in the reference,
    * `comparison.py:5-39`; keyed here): per-column changed-cell counts. */
  def cellDiff(raw: DataFrame, clean: DataFrame, key: String): Map[String, Long] = {
    val shared = raw.columns.filter(c => c != key && clean.columns.contains(c))
    val cleanSel = clean.select((key +: shared.toSeq).map(c =>
      col(c).as(s"__cl_$c")): _*)
    val joined = raw.join(cleanSel, col(key) === col(s"__cl_$key"))
    val sentinel = "∅"
    val aggs = shared.map(c => sum(
      (coalesce(col(c).cast("string"), lit(sentinel)) =!=
       coalesce(col(s"__cl_$c").cast("string"), lit(sentinel))).cast("long")).as(c))
    val r = joined.agg(aggs.head, aggs.tail: _*).collect()(0)
    shared.map(c => c -> (if (r.isNullAt(r.fieldIndex(c))) 0L
                          else r.getAs[Long](c))).toMap
  }

  /** A28 — before/after comparative stats (`quality_report.py:29-74`). */
  case class BeforeAfter(rowsBefore: Long, rowsAfter: Long,
                         missingPctBefore: Double, missingPctAfter: Double,
                         dupRowsBefore: Long, dupRowsAfter: Long)
  def beforeAfter(before: DataFrame, after: DataFrame): BeforeAfter = {
    def stats(df: DataFrame): (Long, Double, Long) = {
      val q = Profiler.quickStats(df)
      (q.rows, q.missingPct, q.duplicateRows)
    }
    val (rb, mb, db) = stats(before)
    val (ra, ma, da) = stats(after)
    BeforeAfter(rb, ra, mb, ma, db, da)
  }

  /** Full dimension pass + score. The four dimension scans (completeness,
    * validity+consistency, uniqueness's distinct agg, duplicate-row count)
    * are independent jobs — submitted concurrently (guide §2.6) so the
    * report's wall time is the slowest scan, not the sum; every job's plan
    * and result is unchanged. */
  def qualityReport(df: DataFrame, reference: Option[(DataFrame, String)] = None): (QualityDimensions, Double) = {
    val (comp, (valid, consist), uniq, acc) = graft.Par(completeness(df),
      validityAndConsistency(df), uniqueness(df),
      reference.flatMap { case (ref, key) => accuracy(df, ref, key) })
    val dims = QualityDimensions(comp, valid, consist, uniq, acc)
    (dims, overallScore(dims))
  }
}
