package graft.stats

import org.apache.spark.sql.DataFrame
import graft.core.AuditEntry

/**
 * The reference's remaining score folds and the run-report artifact
 * (SURVEY A15 / A22 / A23 / S14):
 *
 *  - [[Importance]]      — per-column importance (rule_generator.py:74-90)
 *  - [[ReportBuilder]]   — the 40/30/20/10 report score
 *                          (report_builder.py:130-224)
 *  - [[QualityReportV2]] — quality score v2 with error/mutation/drift
 *                          penalties (quality_report.py:76-136) and the full
 *                          comparative report dict (quality_report.py:13-74,
 *                          138-165)
 *  - [[RunReportJson]]   — single JSON artifact writers matching
 *                          exporter.assemble_json_report (exporter.py:38-56)
 *                          and QualityReport.build_report
 *
 * All table statistics come from [[Profiler.profile]] (one wide agg per
 * side); the folds themselves are driver-side arithmetic over those scalars —
 * no extra scans, no collect of row data.
 */
object Importance {

  /** A15 — importance ∈ [0,1]: 0.5 baseline + diversity·0.3 − missing·0.4
    * + 0.1 when the column is numeric with std > 0 (`rule_generator.py:74-90`). */
  def score(distinct: Long, rows: Long, missingPct: Double,
            numericStd: Option[Double]): Double = {
    var imp = 0.5
    if (rows > 0) {
      imp += (distinct.toDouble / rows) * 0.3
      imp -= (missingPct / 100.0) * 0.4
      if (numericStd.exists(_ > 0)) imp += 0.1
    }
    math.max(0.0, math.min(1.0, imp))
  }

  def fromProfile(p: ColumnProfile): Double =
    score(p.distinct, p.count + p.nulls, p.nullPct, p.std)

  /** Importance level for the v2 missingness weighting. The reference reads
    * `importance_level` with default MEDIUM but never populates it
    * (`quality_report.py:94`); we derive it from the A15 score — the
    * documented intent of wiring the two together. */
  def level(imp: Double): String =
    if (imp >= 0.7) "HIGH" else if (imp >= 0.4) "MEDIUM" else "LOW"

  /** Missingness weight per level (`quality_report.py:91`). */
  def weight(level: String): Double = level.toUpperCase match {
    case "HIGH" => 2.0
    case "LOW" => 0.5
    case _ => 1.0
  }
}

/** One pipeline-step log consumed by the A22 score
  * (`report_builder.py:159-224` reads these fields from step dicts). */
case class StepLog(step: String, passed: Boolean = true,
                   issues: Int = 0, warnings: Int = 0,
                   typeConversions: Int = 0, errors: Int = 0,
                   duplicatesRemoved: Long = 0)

/** A22 — the alternative 40/30/20/10 report score. */
case class ReportMetrics(completenessScore: Double, validityScore: Double,
                         consistencyScore: Double, uniquenessScore: Double) {
  def overallScore: Double = math.round(
    (completenessScore + validityScore + consistencyScore + uniquenessScore)
      * 100) / 100.0
}

object ReportBuilder {

  /** `report_builder.py:130-224`: completeness 40% of the final frame's
    * non-null ratio; validity from the verify step's issue/warning counts;
    * consistency from schema-enforcement conversions/errors; uniqueness from
    * the dedup step vs initial duplicates. */
  def metrics(finalRows: Long, finalCols: Int, finalMissingCells: Long,
              stepLogs: Seq[StepLog], initialDupRows: Long): ReportMetrics = {
    val totalCells = finalRows * finalCols
    val completeness =
      if (totalCells <= 0) 0.0
      else math.min(40.0, (1.0 - finalMissingCells.toDouble / totalCells) * 100 * 0.4)

    val validity = stepLogs.find(_.step == "verify") match {
      case Some(v) if v.passed => 30.0
      case Some(v) =>
        val s =
          if (v.issues == 0 && v.warnings == 0) 30.0
          else if (v.issues == 0) 30.0 - v.warnings * 0.5
          else if (v.warnings == 0) 30.0 - v.issues * 2.0
          else 30.0 - v.issues * 1.5 - v.warnings * 0.5
        math.max(0.0, s)
      case None => 20.0
    }

    val consistency = stepLogs.find(_.step == "enforce_schema") match {
      case Some(sl) =>
        math.max(0.0, math.min(20.0, sl.typeConversions * 0.5 - sl.errors * 1.0))
      case None => 10.0
    }

    val uniqueness = stepLogs.find(_.step == "deduplicate") match {
      case Some(d) if d.duplicatesRemoved > 0 => 10.0
      case Some(_) => if (initialDupRows == 0) 10.0 else 5.0
      case None => if (initialDupRows == 0) 10.0 else 3.0
    }
    ReportMetrics(completeness, validity, consistency, uniqueness)
  }
}

object QualityReportV2 {

  /** Per-column baseline stats feeding the drift check (the reference's
    * `initial_stats` dict, `quality_report.py:88-136`). */
  case class BaselineStat(mean: Option[Double], std: Double, importance: Double)

  /** A23 — quality score v2 (`quality_report.py:76-111`): 100 − 15·errors −
    * importance-weighted missingness − 2·dup% − mutation overhead (cap 10) −
    * semantic-drift penalty; clamped to [0,100], one decimal. */
  def score(rows: Long, missingPctPerCol: Map[String, Double],
            importancePerCol: Map[String, Double], dupPct: Double,
            errorCount: Int, mutationCount: Int,
            driftPenalty: Double): Double = {
    if (rows == 0) return 0.0
    var s = 100.0
    s -= errorCount * 15.0
    val nCols = math.max(missingPctPerCol.size, 1)
    val missPen = missingPctPerCol.map { case (c, mp) =>
      mp * 0.8 * Importance.weight(Importance.level(importancePerCol.getOrElse(c, 0.5)))
    }.sum
    s -= missPen / nCols
    s -= dupPct * 2.0
    s -= math.min(10.0, mutationCount * 0.2)
    s -= driftPenalty
    math.max(0.0, math.min(100.0, math.round(s * 10) / 10.0))
  }

  /** A26 drift-penalty fold (`quality_report.py:113-136`): per numeric column
    * with a baseline, tolerance = 0.15·σ/(importance+0.1); over-tolerance
    * shifts add (Δ/σ)·5·importance. */
  def driftPenalty(baseline: Map[String, BaselineStat],
                   currentMeans: Map[String, Double]): Double =
    baseline.map { case (c, b) =>
      (for { bm <- b.mean; cm <- currentMeans.get(c) } yield {
        val ms = Drift.meanShift(bm, b.std, cm, c, b.importance)
        ms.penalty
      }).getOrElse(0.0)
    }.sum

  /** A23 end-to-end over two frames + the audit trail: one profile pass per
    * side, all folds on the driver. Returns (score, driftPenalty). */
  def scoreFrames(initial: DataFrame, cleaned: DataFrame,
                  audit: Seq[AuditEntry]): (Double, Double) =
    scoreFromProfiles(Profiler.profile(initial), Profiler.profile(cleaned),
      Profiler.duplicateRowCount(cleaned), audit)

  /** The [[scoreFrames]] fold over ALREADY-computed inputs — a caller that
    * profiled the frames for other outputs reuses those scans instead of
    * paying them again (q38 ran profile(cleaned) twice, guide §1.2 "don't
    * compute things you throw away"). Same arithmetic, same result. */
  def scoreFromProfiles(profInitial: Seq[ColumnProfile],
                        profCleaned: Seq[ColumnProfile],
                        dupRowsCleaned: Long,
                        audit: Seq[AuditEntry]): (Double, Double) = {
    val pi = profInitial.map(p => p.column -> p).toMap
    val pf = profCleaned.map(p => p.column -> p).toMap
    val rows = pf.values.headOption.map(p => p.count + p.nulls).getOrElse(0L)
    val dupPct = {
      val d = dupRowsCleaned
      if (rows == 0) 0.0 else d * 100.0 / rows
    }
    val baseline = pi.map { case (c, p) =>
      c -> BaselineStat(p.mean, p.std.getOrElse(1.0), Importance.fromProfile(p)) }
    val currentMeans = pf.collect { case (c, p) if p.mean.isDefined => c -> p.mean.get }
    val drift = driftPenalty(baseline, currentMeans)
    val errors = audit.count(e => e.status.equalsIgnoreCase("ERROR") ||
      e.status.equalsIgnoreCase("FAIL"))
    val mutations = audit.count(_.status.equalsIgnoreCase("MUTATION"))
    val missing = pf.map { case (c, p) => c -> p.nullPct }
    val imps = pi.map { case (c, p) => c -> Importance.fromProfile(p) }
    (score(rows, missing, imps, dupPct, errors, mutations, drift), drift)
  }
}

/** Minimal JSON encoder (driver-side; no external deps) + the two report
  * artifact shapes. Values: String/Double/Long/Int/Boolean/Map/Seq/Option. */
object RunReportJson {

  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null"
                      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
                      else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case n: Float => enc(n.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => enc(k.toString) + ": " + enc(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(enc).mkString("[", ", ", "]")
    case other => enc(other.toString)
  }

  /** S14 — `assemble_json_report` (exporter.py:38-56): filename, state,
    * raw/clean shapes, summary, audit trail. */
  def assemble(filename: String, state: String, generatedAt: String,
               rawRows: Long, rawCols: Int, cleanRows: Long, cleanCols: Int,
               summary: Map[String, Any], audit: Seq[AuditEntry]): String = {
    val auditJson = audit.map(e => scala.collection.immutable.ListMap(
      "stage" -> e.stage, "status" -> e.status, "rows_in" -> e.rows_in,
      "rows_out" -> e.rows_out, "detail" -> e.detail))
    enc(scala.collection.immutable.ListMap(
      "filename" -> filename,
      "generated_at" -> generatedAt,
      "state" -> state,
      "rows" -> Map("raw" -> rawRows, "clean" -> cleanRows),
      "columns" -> Map("raw" -> rawCols, "clean" -> cleanCols),
      "summary" -> summary,
      "audit_trail" -> auditJson))
  }

  /** The comparative QualityReport.build_report shape
    * (`quality_report.py:13-74,138-165`): quality_score + initial/final
    * stats + summary + remaining issues + recommendations. */
  def buildReport(initial: DataFrame, cleaned: DataFrame,
                  audit: Seq[AuditEntry], timestamp: String): String = {
    def sideStats(df: DataFrame): Map[String, Any] = {
      val profs = Profiler.profile(df)
      val rows = profs.headOption.map(p => p.count + p.nulls).getOrElse(0L)
      val dups = Profiler.duplicateRowCount(df)
      val missPct =
        if (profs.isEmpty || rows == 0) 0.0
        else math.round(profs.map(_.nullPct).sum / profs.size * 100) / 100.0
      scala.collection.immutable.ListMap(
        "rows" -> rows, "cols" -> profs.size,
        "missing_pct" -> missPct,
        "duplicates" -> dups,
        "duplicates_pct" -> (if (rows == 0) 0.0 else math.round(dups * 10000.0 / rows) / 100.0),
        "column_stats" -> profs.map(p => p.column -> colStats(p)).toMap)
    }
    def colStats(p: ColumnProfile): Map[String, Any] =
      scala.collection.immutable.ListMap(
        "dtype" -> p.dtype, "null_count" -> p.nulls) ++
        (for { mn <- p.min; mx <- p.max; mean <- p.mean }
          yield scala.collection.immutable.ListMap(
            "min" -> mn, "max" -> mx, "mean" -> mean)).getOrElse(Map.empty)

    val (score, _) = QualityReportV2.scoreFrames(initial, cleaned, audit)
    val profsF = Profiler.profile(cleaned)
    val rowsI = initial.count(); val rowsF = cleaned.count()
    val issues =
      (if (profsF.exists(_.nulls > 0)) Seq("Dataset still contains missing values.") else Nil) ++
      (if (Profiler.duplicateRowCount(cleaned) > 0) Seq("Dataset still contains duplicate rows.") else Nil)
    val recs = {
      val r = (if (score < 80) Seq("Configure more aggressive imputation rules.") else Nil) ++
        (if (issues.nonEmpty) Seq("Review remaining issues in the 'Profiling' section.") else Nil)
      if (r.isEmpty) Seq("Data is highly reliable for production usage.") else r
    }
    val mutations = audit.count(_.status.equalsIgnoreCase("MUTATION"))
    enc(scala.collection.immutable.ListMap(
      "timestamp" -> timestamp,
      "quality_score" -> score,
      "statistics" -> Map("initial" -> sideStats(initial), "final" -> sideStats(cleaned)),
      "summary" -> scala.collection.immutable.ListMap(
        "total_actions" -> mutations,
        "rows_removed" -> (rowsI - rowsF),
        "retention_rate" -> (if (rowsI > 0) math.round(rowsF * 10000.0 / rowsI) / 100.0 else 0.0)),
      "remaining_issues" -> issues,
      "recommendations" -> recs))
  }

  def write(path: String, json: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
}
