package graft.rules

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.RuleSpec._

/** A rule bound to its human-readable reason string
  * (`error_message` in the reference, default `Invalid {col}` —
  * `/root/reference/src/engine/validation_engine.py:28`). */
case class BoundRule(spec: RuleSpec, reasonOpt: Option[String] = None) {
  def reason: String = reasonOpt.getOrElse(s"Invalid ${spec.column}")
}

/** Outcome of one validation pass — mirrors the reference's return dict
  * (`validation_engine.py:92-98`) with the violation table added per the
  * north rule. `report` carries `_val_status` / `_val_reason`. */
case class ValidationResult(
    report: DataFrame,
    totalRows: Long,
    passed: Long,
    failed: Long,
    columnSummary: Seq[ColumnSummary])

/**
 * The declarative validation engine — Spark re-expression of
 * `DataValidationEngine.validate_dataset`
 * (`/root/reference/src/engine/validation_engine.py:8-98`).
 *
 * Execution shape: ONE projection evaluates every rule mask + status + reason
 * (whole-stage-codegen'd, no shuffle unless a Unique rule needs its dup-count
 * helper), then ONE aggregate computes all per-rule failure counts. Reasons
 * are pipe-joined in rule order, exactly like the reference (`:73-77`).
 */
object ValidationEngine {

  val StatusCol = "_val_status"
  val ReasonCol = "_val_reason"

  private def maskCol(i: Int) = s"__mask_$i"

  /** Attach helper columns required by Unique / InColumn rules.
    * Unique → window dup-count on the key (scale path: hash-agg, see
    * [[graft.engine.UniquenessCheck]]). InColumn → left join against the
    * distinct value set of the other column (broadcast-ably small dictionaries
    * get picked up by AQE; `isin`-style membership without collect()). */
  def withHelperColumns(df: DataFrame, rules: Seq[BoundRule]): DataFrame = {
    var out = df
    val spanCols = rules.collect {
      case BoundRule(SpanOffsetsMonotonic(c), _) => c
      case BoundRule(SpanFieldConsistency(c), _) => c
      case BoundRule(SpansNonEmpty(c), _) => c
    }.distinct
    spanCols.foreach { c => out = Rules.attachSpanChecks(out, c) }
    val uniqueCols = rules.collect { case BoundRule(Unique(c), _) => c }.distinct
    uniqueCols.foreach { c => out = Rules.attachDupCount(out, c) }
    val inCols = rules.collect { case BoundRule(InColumn(c, o), _) => (c, o) }.distinct
    inCols.foreach { case (c, o) =>
      val helper = Rules.helperInColumn(c, o)
      // pandas `isin` treats NaN as matching NaN in the other column
      // (`validation_engine.py:59`): join on a null-coalesced sentinel so a
      // null value passes iff the other column contains a null
      val sentinel = "\u0000<null>"
      val dict = df.select(coalesce(col(o).cast("string"), lit(sentinel))
          .as("__dict_val")).distinct()
        .withColumn(helper, lit(true))
      out = out.join(dict,
        coalesce(out(c).cast("string"), lit(sentinel)) === dict("__dict_val"), "left")
        .drop("__dict_val")
    }
    out
  }

  /** Annotate `df` with one boolean mask column per rule plus
    * `_val_status` / `_val_reason`. Pure projection (post helper pass). */
  def annotate(df: DataFrame, rules: Seq[BoundRule]): DataFrame = {
    val withHelpers = withHelperColumns(df, rules)
    val masked = rules.zipWithIndex.foldLeft(withHelpers) { case (d, (r, i)) =>
      d.withColumn(maskCol(i), coalesce(Rules.failureMask(r.spec), lit(false)))
    }
    val anyFail = rules.indices.map(i => col(maskCol(i))).reduceOption(_ || _)
      .getOrElse(lit(false))
    val reason = concat_ws(" | ",
      rules.zipWithIndex.map { case (r, i) =>
        when(col(maskCol(i)), lit(r.reason))
      }: _*)
    masked
      .withColumn(StatusCol, when(anyFail, lit("FAIL")).otherwise(lit("PASS")))
      .withColumn(ReasonCol, reason)
  }

  /** Drop internal mask/helper columns, keeping the original schema +
    * status/reason — the reference's `report_df` shape. */
  def reportProjection(annotated: DataFrame, original: DataFrame): DataFrame =
    annotated.select(
      original.columns.map(col) :+ col(StatusCol) :+ col(ReasonCol): _*)

  /** Full validation pass: annotated report + counts + per-column summary in
    * exactly two jobs (one agg over the annotated plan; report stays lazy). */
  def validate(df: DataFrame, rules: Seq[BoundRule],
               strictMode: Boolean = false): ValidationResult = {
    val annotated = annotate(df, rules)
    val aggExprs =
      count(lit(1)).as("__total") +:
      sum(when(col(StatusCol) === "FAIL", 1L).otherwise(0L)).as("__failed") +:
      rules.zipWithIndex.map { case (_, i) =>
        sum(col(maskCol(i)).cast("long")).as(s"__rule_$i")
      }
    val row: Row = annotated.agg(aggExprs.head, aggExprs.tail: _*).collect()(0)
    val total = row.getAs[Long]("__total")
    val failed = row.getAs[Long]("__failed")
    val summary = rules.zipWithIndex.map { case (r, i) =>
      ColumnSummary(r.spec.column, r.spec.ruleId, row.getAs[Long](s"__rule_$i"))
    }
    val report0 = reportProjection(annotated, df)
    val report = if (strictMode) report0.filter(col(StatusCol) === "PASS") else report0
    ValidationResult(report, total, total - failed, failed, summary)
  }

  /** Narrow per-row annotation: `(doc_id, part, _val_status, one mask + one
    * offending-offset column per rule)` — the minimal row-shape from which
    * BOTH the violation artifact ([[violationsFromNarrow]]) and the
    * per-partition verdict aggregation can be derived, so the engine scans
    * the (wide) docs table ONCE for all row-level rules and caches only these
    * few bytes per row.
    *
    * `extraCols` appends additional per-row expressions (evaluated against
    * the ORIGINAL columns) to the narrow shape — used by the engine to ride
    * ledger-sketch inputs (a double / an 8-byte hash per sketch) on the same
    * single scan instead of re-reading the docs table. */
  def annotateNarrow(df: DataFrame, rules: Seq[BoundRule],
                     idCol: String, partCol: String,
                     extraCols: Seq[Column] = Nil): DataFrame = {
    val annotated = annotate(df, rules)
    val cols: Seq[Column] =
      Seq(col(idCol).cast("string").as("doc_id"),
          col(partCol).cast("int").as("part"), col(StatusCol)) ++
      rules.zipWithIndex.map { case (_, i) => col(maskCol(i)) } ++
      rules.zipWithIndex.map { case (r, i) =>
        offendingOffset(r.spec).as(s"__off_$i") } ++
      extraCols
    annotated.select(cols: _*)
  }

  /** Violation rows from an [[annotateNarrow]] frame: failing rows explode
    * one struct per rule, and the failing ones are kept. */
  def violationsFromNarrow(narrow: DataFrame, rules: Seq[BoundRule]): DataFrame = {
    val perRule: Seq[Column] = rules.zipWithIndex.map { case (r, i) =>
      struct(
        lit(r.spec.ruleId).as("rule_id"),
        col(maskCol(i)).as("failed"),
        col(s"__off_$i").as("span_offset"),
        lit(r.reason).as("detail"))
    }
    narrow
      .filter(col(StatusCol) === "FAIL")
      .select(col("doc_id"), col("part"),
              explode(array(perRule: _*)).as("v"))
      .where(col("v.failed"))
      .select(col("v.rule_id").as("rule_id"), col("doc_id"), col("part"),
              col("v.span_offset").as("span_offset"), col("v.detail").as("detail"))
  }

  /** Violation table (rule_id, doc_id, part, span_offset, detail) — the north
    * rule's artifact. One pass: failing rows explode their failing-rule
    * structs; spans are only inspected for span-level rules. */
  def violations(df: DataFrame, rules: Seq[BoundRule],
                 idCol: String, partCol: String): DataFrame =
    violationsFromNarrow(annotateNarrow(df, rules, idCol, partCol), rules)

  /** Offset of the first offending span for span-level rules; null when
    * that span's offset is null and for every other rule (read from the
    * shared SpanChecks helper struct). */
  private def offendingOffset(spec: RuleSpec): Column = spec match {
    case SpanOffsetsMonotonic(c) =>
      col(Rules.spanHelper(c)).getField("mono_bad_offset")
    case SpanFieldConsistency(c) =>
      col(Rules.spanHelper(c)).getField("field_bad_offset")
    case _ => lit(null).cast("int")
  }
}
