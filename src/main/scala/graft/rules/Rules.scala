package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.RuleSpec
import org.apache.spark.sql.types.{DoubleType, DateType, TimestampType}
import graft.core.RuleSpec._

/**
 * Rule compiler: [[graft.core.RuleSpec]] → failure-mask Column.
 *
 * Mirrors the reference's mask semantics exactly
 * (`/root/reference/src/engine/validation_engine.py:30-67`) while compiling to
 * pure Catalyst expressions — zero UDFs, fully codegen-friendly. A failure mask
 * is `true` where the row VIOLATES the rule.
 *
 * Two rules are not expressible as a scalar projection:
 *  - [[RuleSpec.Unique]] needs per-value counts → window (small scale) or a
 *    hash-aggregate + semi-join (scale path, see
 *    [[graft.engine.UniquenessCheck]]);
 *  - [[RuleSpec.InColumn]] needs the distinct value set of another column →
 *    here a window-free `isin`-style membership via a self-join is avoided: we
 *    compile it as `NOT EXISTS` semantics with a pre-collected broadcast set
 *    only when told the dictionary is small, else callers use the join path.
 * Both still surface through [[failureMask]]: Unique via a window expression
 * and InColumn via a window-collected set is intentionally NOT done — instead
 * [[ValidationEngine]] plans a pre-pass that attaches helper columns.
 */
object Rules {

  /** Reference pattern regexes, byte-for-byte
    * (`/root/reference/src/engine/validation_engine.py:45-52`). */
  object Regexes {
    val Email = "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$"
    val Phone = "^\\+?1?\\d{9,15}$"
    val Url = "^https?://.+"
  }

  /** pandas `.str.match` anchors at string start only — emulate by prefixing
    * `^(?:...)` unless the regex already starts with `^`. */
  def startAnchored(regex: String): String =
    if (regex.startsWith("^")) regex else s"^(?:$regex)"

  /** Default reason string (`validation_engine.py:28`). */
  def defaultReason(spec: RuleSpec): String = spec match {
    case _ => s"Invalid ${spec.column}"
  }

  // pandas `to_numeric(errors='coerce')` ≙ try_cast: malformed → null, never
  // a runtime error (Spark 4 ANSI `cast` would throw).
  private def num(c: Column): Column = c.cast("string").try_cast(DoubleType)

  /** True where the row violates `spec`. Helper columns for Unique / InColumn
    * must already be attached (see [[ValidationEngine.withHelperColumns]]). */
  def failureMask(spec: RuleSpec): Column = spec match {
    // P1 — `to_numeric(col).isna() | (to_numeric(col) % 1 != 0)` (:31)
    case WholeNumber(c) =>
      num(col(c)).isNull || pmod(num(col(c)), lit(1.0)) =!= 0.0
    // P2 — `to_numeric(col).isna()` (:35) — note: nulls fail too, as in pandas
    case DecimalNumber(c) =>
      num(col(c)).isNull
    // P3 — `isna | astype(str).strip() == ""` (:38)
    case Required(c) =>
      col(c).isNull || trim(col(c).cast("string")) === ""
    // P4 — helper column `__dupcnt_<c>` attached by the engine (keep=False ⇒ all members fail)
    case Unique(c) =>
      col(helperDupCount(c)) > 1
    // P5 — `~astype(str).str.match(regex)` (:54); null fails (na=False analogue)
    case Pattern(c, regex, name) =>
      val re = name match {
        case "Email" => Regexes.Email
        case "Phone" => Regexes.Phone
        case "URL"   => Regexes.Url
        case _       => startAnchored(regex)
      }
      !coalesce(col(c).cast("string").rlike(re), lit(false))
    // P6 — `~col.isin(df[other])` (:59); helper bool `__in_<c>_<other>` attached by engine
    case InColumn(c, other) =>
      !coalesce(col(helperInColumn(c, other)), lit(false))
    // P7 — `~df.eval(formula)` (:65); a row passes when the expression is true;
    // null result (e.g. null operand) means the predicate is not satisfied ⇒ fail
    case Formula(_, sql) =>
      !coalesce(expr(sql), lit(false))
    // P12a — UI-only in the reference; implemented per documented intent
    case TextLength(c, lo, hi) =>
      col(c).isNull || !length(col(c).cast("string")).between(lo, hi)
    // P12b
    case DateRange(c, lo, hi) =>
      col(c).isNull || !col(c).cast("string").try_cast(DateType).between(lit(lo).cast("date"), lit(hi).cast("date"))
    // P12c / P15 — enum mask (`/root/reference/src/engine/rules/categorical_rules.py:11-13`)
    case AllowedValues(c, allowed) =>
      !coalesce(col(c).isin(allowed: _*), lit(false))
    // P14 — numeric range (`/root/reference/src/engine/cleaning_engine.py:282-306`)
    case NumericRange(c, lo, hi) =>
      num(col(c)).isNull || num(col(c)) < lo || num(col(c)) > hi
    // P16 — future date with pinned run timestamp (`cleaning_engine.py:309-314`)
    case NoFutureDate(c, runTs) =>
      coalesce(col(c).cast("string").try_cast(TimestampType) > lit(runTs), lit(false))

    // ---- span-level rules over spans: array<struct<kind,text,media_ref,offset>> ----
    // Evaluated from the shared one-pass SpanChecks helper column (custom
    // Catalyst expression, attached by ValidationEngine.withHelperColumns) —
    // a single tight loop per row instead of three interpreted HOF trees.
    case SpanOffsetsMonotonic(c) =>
      col(spanHelper(c)).getField("mono_bad")
    case SpanFieldConsistency(c) =>
      col(spanHelper(c)).getField("field_bad")
    case SpansNonEmpty(c) =>
      col(spanHelper(c)).getField("is_empty")
  }

  /** Name of the shared span-checks helper column for a spans column. */
  def spanHelper(c: String): String = s"__spanchk_$c"

  /** Attach the one-pass span-checks struct (idempotent). */
  def attachSpanChecks(df: DataFrame, c: String): DataFrame =
    if (df.columns.contains(spanHelper(c))) df
    else df.withColumn(spanHelper(c), graft.functions.F.spanChecks(col(c)))

  /** Name of the helper count column the engine attaches for a Unique rule. */
  def helperDupCount(c: String): String = s"__dupcnt_$c"
  /** Name of the helper membership column for an InColumn rule. */
  def helperInColumn(c: String, other: String): String = s"__in_${c}__$other"

  /** Small-scale helper: duplicate count via window (one shuffle on the key).
    * The 10^12-scale path is the hash-agg in [[graft.engine]]. */
  def attachDupCount(df: DataFrame, c: String): DataFrame =
    df.withColumn(helperDupCount(c),
      count(lit(1)).over(Window.partitionBy(col(c))))
}
