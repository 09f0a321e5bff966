package graft.clean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.stats.Profiler

/**
 * C38 — rule auto-generation: the driver-side planner that turns one stats
 * pass + semantic detection into a bound cleaning-rule set
 * (`/root/reference/src/rule_generator.py:177-305`). All decisions are made
 * from [[Profiler.profile]] output (one scan) + the simple semantic detector
 * the rule generator uses (DOB/AGE/EMAIL/PHONE + Excel-serial heuristic,
 * `rule_generator.py:94-119`).
 */
object RuleGenerator {

  /** Per-column suggested rules (stringly-typed like the reference's dict,
    * but closed over a fixed vocabulary). */
  case class ColumnRules(
      column: String, semanticType: String,
      handleSemantic: Option[String], handleMissing: Option[String],
      handleOutliers: Option[String], stripWhitespace: Boolean,
      removeSpecialChars: Boolean, convertToDatetime: Boolean,
      rangeMin: Option[Double], rangeMax: Option[Double],
      dobSourceColumn: Option[String], missingCount: Long,
      importanceScore: Double = 0.5) // A15 (`rule_generator.py:74-90`)

  case class GeneratedRules(removeDuplicates: Boolean, outlierMethod: String,
                            qualityAlerts: Seq[String],
                            columns: Seq[ColumnRules], qualityScore: Double)

  /** Simple header-based semantic detection used by the rule generator
    * (`rule_generator.py:94-119`): DOB/AGE/EMAIL/PHONE only, with the
    * Excel-serial-range heuristic for numeric DOB columns. */
  def detectSimpleSemanticType(name: String, serialRate: Double): String = {
    val n = name.toLowerCase
    if (n.contains("dob") || n.contains("birth")) "DOB"
    else if (n.contains("age")) "AGE"
    else if (n.contains("email") || n.contains("mail")) "EMAIL"
    else if (n.contains("phone") || n.contains("mobile") || n.contains("contact")) "PHONE"
    else if (serialRate >= 0.5) "DOB" // mostly Excel serials ⇒ date-like
    else "GENERAL"
  }

  def generate(df: DataFrame, outlierMethod: String = "iqr"): GeneratedRules = {
    // profile and duplicate-count are independent jobs — overlap them
    // (guide §2.6); the serial-rate agg below genuinely depends on the
    // profile (IQR bounds), so it stays sequential
    val (dups, profs) = graft.Par(Profiler.duplicateRowCount(df), Profiler.profile(df))
    val profiles = profs.map(p => p.column -> p).toMap
    val hasDups = dups > 0

    // ONE extra agg: Excel-serial rate per column (serial heuristic + DOB/AGE
    // quality alert) + IQR outlier counts for the A24 penalty — bounds come
    // free from the profile quantiles, so no additional scan is needed
    val iqrBounds: Map[String, (Double, Double)] = profiles.collect {
      case (c, p) if df.schema(c).dataType.isInstanceOf[NumericType] &&
        p.q25.isDefined && p.q75.isDefined =>
        val iqr = p.q75.get - p.q25.get
        c -> (p.q25.get - 1.5 * iqr, p.q75.get + 1.5 * iqr)
    }.toMap
    val serialCandidates = df.schema.fields.map(_.name)
    val serialAggs = serialCandidates.map(c =>
      avg(Cleaners.excelSerialToDate(col(c)).isNotNull.cast("double")).as(c)) ++
      iqrBounds.toSeq.map { case (c, (lo, hi)) =>
        sum((col(c).cast("double") < lo || col(c).cast("double") > hi)
          .cast("long")).as(s"$c::out")
      }
    val serialRow = df.agg(serialAggs.head, serialAggs.tail: _*).collect()(0)
    def serialRate(c: String): Double = {
      val i = serialRow.fieldIndex(c)
      if (serialRow.isNullAt(i)) 0.0 else serialRow.getDouble(i)
    }
    def outlierCount(c: String): Long = {
      if (!iqrBounds.contains(c)) 0L
      else {
        val i = serialRow.fieldIndex(s"$c::out")
        if (serialRow.isNullAt(i)) 0L else serialRow.getLong(i)
      }
    }

    val semantic = df.columns.map(c =>
      c -> detectSimpleSemanticType(c, serialRate(c))).toMap
    val dobCols = df.columns.filter(c => semantic(c) == "DOB").toSeq
    val ageCols = df.columns.filter(c => semantic(c) == "AGE").toSeq

    // V10 — DOB↔AGE Excel-serial duplication alert (`rule_generator.py:121-144`)
    val alerts = (dobCols.headOption, ageCols.headOption) match {
      case (Some(d), Some(a)) =>
        val r = df.agg(avg((col(d).cast("string").try_cast(DoubleType) ===
            col(a).cast("string").try_cast(DoubleType) &&
            col(d).cast("string").try_cast(DoubleType) > 10000).cast("double")))
          .collect()(0)
        val rate = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
        if (rate >= 0.10)
          Seq(f"DOB and AGE columns contain identical large numeric values in ${rate * 100}%.0f%% of rows (likely duplicated Excel serials)")
        else Nil
      case _ => Nil
    }

    val colRules = df.columns.toSeq.map { c =>
      val p = profiles(c)
      val st = semantic(c)
      val isNumeric = df.schema(c).dataType.isInstanceOf[NumericType]
      val isString = df.schema(c).dataType == StringType
      val hasOutliers = isNumeric && p.std.exists(_ > 0) && {
        // IQR bound check from the profile quantiles (no extra scan)
        (for { q1 <- p.q25; q3 <- p.q75; mx <- p.max; mn <- p.min } yield {
          val iqr = q3 - q1
          mx > q3 + 1.5 * iqr || mn < q1 - 1.5 * iqr
        }).getOrElse(false)
      }
      val (handleSem, rangeMin, rangeMax, dobSrc) = st match {
        case "AGE" if dobCols.nonEmpty =>
          (Some("calculate_age_from_dob"), None, None, dobCols.headOption)
        case "AGE" => (Some("range_validation"), Some(0.0), Some(120.0), None)
        case "DOB" => (Some("normalize_date"), None, None, None)
        case "EMAIL" => (Some("validate_email"), None, None, None)
        case "PHONE" => (Some("validate_phone"), None, None, None)
        case _ => (None, None, None, None)
      }
      val handleMissing =
        if (handleSem.isDefined) None
        else if (p.nullPct > 0 && isNumeric) Some("impute_with_median")
        else if (p.nullPct > 0) Some("fill_with_mode")
        else Some("do_nothing")
      val handleOutliers =
        if (handleSem.isDefined || !isNumeric) None
        else if (hasOutliers) Some("clip_at_bounds") else Some("do_nothing")
      ColumnRules(c, st, handleSem, handleMissing, handleOutliers,
        stripWhitespace = isString && handleSem.isEmpty,
        removeSpecialChars = false,
        convertToDatetime = st == "DOB",
        rangeMin, rangeMax, dobSrc, p.nulls,
        importanceScore = graft.stats.Importance.fromProfile(p))
    }

    // A24 — baseline score (`rule_generator.py:288-305`): outlier penalty is
    // count-proportional (0.1 per outlier) capped at 5 per column
    val penalty = colRules.map { cr =>
      val p = profiles(cr.column)
      p.nullPct * 0.6 +
        (if (p.isConstant) 3.0 else 0.0) +
        (if (cr.handleOutliers.contains("clip_at_bounds"))
           math.min(5.0, outlierCount(cr.column) * 0.1) else 0.0)
    }.sum
    GeneratedRules(hasDups, outlierMethod, alerts, colRules,
      math.max(0.0, math.min(100.0, 100.0 - penalty)))
  }
}
