package graft.clean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.semantic.SemanticCleaners
import graft.stats.Profiler

/**
 * C37 — rule-precedence orchestration: applies a [[RuleGenerator.GeneratedRules]]
 * set in the reference's canonical order
 * (`/root/reference/src/dynamic_cleaner.py:16-101`, hierarchy documented at
 * `README.md:91-99`):
 *
 *   1. Global dedup  →  2. Semantic (age/dob/email/phone)  →
 *   3. Type enforcement  →  4. Statistical (impute/outliers)  →  5. Cosmetic
 *
 * Each phase is one `withColumns` projection (plus the stats passes the
 * phase needs); no per-stage materialization.
 */
object DynamicCleaner {

  def apply(df: DataFrame, rules: RuleGenerator.GeneratedRules,
            runTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
            region: String = "IN"): DataFrame = {
    var out = df

    // 1. Global dedup (`dynamic_cleaner.py:25-29`)
    if (rules.removeDuplicates) out = out.dropDuplicates()

    // 2. Semantic handlers (C28/C30/C34/C35/C36)
    rules.columns.foreach { cr =>
      cr.handleSemantic.foreach {
        case "calculate_age_from_dob" =>
          // C35: never trust the original age — derive from DOB
          cr.dobSourceColumn.foreach { dob =>
            out = out.withColumn(cr.column,
              SemanticCleaners.deriveAgeFromDob(col(dob), runTs))
          }
        case "normalize_date" =>
          // C36: configured output format, original preserved on failure
          out = out.withColumn(cr.column,
            SemanticCleaners.normalizeDob(col(cr.column), "dd-MM-yyyy"))
        case "validate_email" =>
          // flag-only per requirement (auto_correct=False): normalize case only
          out = out.withColumn(cr.column, SemanticCleaners.cleanEmail(col(cr.column)))
        case "validate_phone" =>
          out = out.withColumn(cr.column, SemanticCleaners.cleanPhone(col(cr.column), region))
        case "range_validation" =>
          for (lo <- cr.rangeMin; hi <- cr.rangeMax)
            out = out.withColumn(cr.column,
              Cleaners.enforceRange(Cleaners.coerceNumeric(col(cr.column)), lo, hi, "nan"))
        case _ => ()
      }
    }

    // 3. Type enforcement (datetime conversion for flagged columns)
    rules.columns.filter(c => c.convertToDatetime && c.handleSemantic.isEmpty)
      .foreach { cr =>
        out = out.withColumn(cr.column, Cleaners.parseDateMulti(col(cr.column)))
      }

    // 4. Statistical: imputation + outlier clipping (one stats pass each)
    val toImputeMedian = rules.columns.filter(_.handleMissing.contains("impute_with_median"))
      .map(_.column).filter(out.columns.contains)
    if (toImputeMedian.nonEmpty)
      out = out.na.fill(Profiler.approxQuantiles(out,
        toImputeMedian.map(c => c -> col(c)), Seq(0.5)).map { case (c, q) => c -> q.head })
    val toMode = rules.columns.filter(_.handleMissing.contains("fill_with_mode"))
      .map(_.column).filter(out.columns.contains)
    if (toMode.nonEmpty) // one melted agg for ALL mode columns, not one job each
      out = out.na.fill(Profiler.modes(out, toMode))
    val toClip = rules.columns.filter(_.handleOutliers.contains("clip_at_bounds"))
      .map(_.column)
      .filter(c => out.columns.contains(c) &&
        out.schema(c).dataType.isInstanceOf[NumericType])
    val quartiles = Profiler.approxQuantiles(out, toClip.map(c => c -> col(c)),
      Seq(0.25, 0.75))
    toClip.foreach { c =>
      quartiles.get(c).foreach { q =>
        val iqr = q(1) - q(0)
        out = out.withColumn(c, Cleaners.clip(col(c).cast("double"),
          q(0) - 1.5 * iqr, q(1) + 1.5 * iqr))
      }
    }

    // 5. Cosmetic: whitespace/special chars on remaining string columns
    rules.columns.filter(c => c.stripWhitespace && out.columns.contains(c.column))
      .foreach { cr =>
        val base = trim(Cleaners.collapseWhitespace(col(cr.column).cast("string")))
        out = out.withColumn(cr.column,
          if (cr.removeSpecialChars) Cleaners.removeSpecialChars(base) else base)
      }
    out
  }

  /** C39 — impact simulation: shadow-clean a bounded sample, no audit
    * (`/root/reference/src/data_processor.py:36-67`). */
  def simulate(df: DataFrame, rules: RuleGenerator.GeneratedRules,
               sampleRows: Int = 1000): DataFrame =
    apply(df.limit(sampleRows), rules)
}
