package graft.clean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.AuditEntry
import graft.stats.Profiler

/** Stage outcome ladder (`/root/reference/src/engine/stages/base_stage.py:7-10`). */
object StageState extends Enumeration { val PASS, WARN, FAIL = Value }

/** Pipeline configuration — the subset of `config/default.yaml` the atomic
  * engine consumes (`/root/reference/src/engine/config.py`). */
case class CleanConfig(
    requiredColumns: Seq[String] = Nil,
    expectedTypes: Map[String, String] = Map.empty,
    caseMode: String = "none",
    removeDuplicates: Boolean = false,
    duplicateKeys: Seq[String] = Nil,
    destructiveRowDeletion: Boolean = false,
    maxMissingRowPct: Double = 50.0,
    outlierMethod: String = "iqr",
    outlierStrategy: String = "cap",           // cap | remove | mark (C19)
    coerceNumericThreshold: Double = 0.10,
    coerceBooleanThreshold: Double = 0.80,
    imputeMissing: Boolean = true,
    mandatoryColumns: Seq[String] = Nil,       // missing_values.mandatory_columns
    stripWhitespace: Boolean = true,           // text_cleaning.strip_whitespace
    removeSpecialChars: Boolean = false,       // text_cleaning.remove_special_characters
    allowedValues: Map[String, Seq[String]] = Map.empty, // text_cleaning.allowed_values
    stageEnabled: Map[String, Boolean] = Map.empty,      // stages.<name>.enabled
    runTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))

case class StageResult(df: DataFrame, state: StageState.Value, detail: String)

/**
 * The atomic cleaning pipeline — Spark re-expression of
 * `LifecycleManager.run_pipeline` (`/root/reference/src/engine/lifecycle.py:20-59`)
 * with the canonical stage order SchemaCheck → DetectTypes → CleanData →
 * Duplicates → MissingValues → Outliers, fail-fast on FAIL, audit entry per
 * stage. Each stage is a lazy DataFrame transform; stats-dependent stages
 * (detect/impute/outliers) run one driver-side agg to parameterize their
 * expressions, so the whole pipeline materializes in a handful of scans
 * instead of the reference's copy-per-stage model.
 */
class CleaningPipeline(config: CleanConfig = CleanConfig()) {

  private val auditBuf = scala.collection.mutable.ArrayBuffer[AuditEntry]()
  def audit: Seq[AuditEntry] = auditBuf.toSeq
  private def log(stage: String, status: StageState.Value, detail: String,
                  rowsIn: Long = -1, rowsOut: Long = -1): Unit =
    auditBuf += AuditEntry("run-0", stage, status.toString, rowsIn, rowsOut, detail)

  /** Stage 1 — SCHEMA_CHECK (`schema_check.py:16-35`): missing required
    * column ⇒ FAIL; unexpected / all-null columns ⇒ WARN. Read-only. */
  def schemaCheck(df: DataFrame): StageResult = {
    val missing = config.requiredColumns.filterNot(df.columns.contains)
    if (missing.nonEmpty) {
      log("SCHEMA_CHECK", StageState.FAIL, s"missing required: ${missing.mkString(",")}")
      return StageResult(df, StageState.FAIL, s"missing=${missing.mkString(",")}")
    }
    val unexpected =
      if (config.requiredColumns.isEmpty) Nil
      else df.columns.filterNot(config.requiredColumns.contains).toSeq
    // all-null detection: one agg
    val nullAgg = df.agg(count(lit(1)).as("__n"),
      df.columns.map(c => sum(col(c).isNotNull.cast("long")).as(c)): _*).collect()(0)
    val allNull = df.columns.filter(c => nullAgg.getAs[Long](c) == 0L)
    val state = if (unexpected.nonEmpty || allNull.nonEmpty) StageState.WARN else StageState.PASS
    log("SCHEMA_CHECK", state, s"unexpected=${unexpected.mkString(",")} allNull=${allNull.mkString(",")}")
    StageResult(df, state, "")
  }

  /** Stage 2 — DETECT_TYPES (C1–C5): ONE cached 100-row sample + ONE wide agg
    * computing every per-column rate (numeric-text, boolean-token, date-parse)
    * — the round-1 variant ran up to 3 jobs per string column, one of them a
    * full-table scan (~3·N jobs at 100 TB). Decisions on the driver, then one
    * projection applying every coercion. Sampled detection mirrors the
    * reference (100 rows, `detect_types.py:224,314`). */
  def detectTypes(df: DataFrame): StageResult = {
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    if (strCols.isEmpty) {
      log("DETECT_TYPES", StageState.PASS, "")
      return StageResult(df, StageState.PASS, "")
    }
    val numRe = "^\\s*[$€£¥₹]?[-+]?[\\d,]*\\.?\\d+([eE][-+]?\\d+)?%?\\s*$"
    val sample = df.limit(100).cache()
    val aggs: Seq[org.apache.spark.sql.Column] = strCols.toSeq.flatMap { c =>
      val s = col(c).cast("string")
      Seq(
        avg(when(col(c).isNotNull, s.rlike(numRe).cast("double"))).as(s"$c::num"),
        avg(when(col(c).isNotNull, lower(trim(s))
          .isin(Cleaners.TrueTokens ++ Cleaners.FalseTokens: _*).cast("double"))).as(s"$c::bool"),
        avg(when(col(c).isNotNull,
          Cleaners.parseDateMulti(col(c)).isNotNull.cast("double"))).as(s"$c::date"))
    }
    val row = sample.agg(aggs.head, aggs.tail: _*).collect()(0)
    sample.unpersist()
    def rate(k: String): Double = {
      val i = row.fieldIndex(k)
      if (row.isNullAt(i)) 0.0 else row.getDouble(i)
    }
    var out = df
    val decisions = scala.collection.mutable.ArrayBuffer[String]()
    strCols.foreach { c =>
      if (rate(s"$c::bool") >= config.coerceBooleanThreshold) {
        out = out.withColumn(c, Cleaners.coerceBoolean(col(c)))
        decisions += s"$c->boolean"
      } else if (rate(s"$c::num") >= math.max(config.coerceNumericThreshold, 0.5)) {
        // reference uses 10% to *attempt* but only keeps on success;
        // ≥50% match keeps the conversion meaningful
        out = out.withColumn(c, Cleaners.coerceNumeric(col(c)))
        decisions += s"$c->double"
      } else if (rate(s"$c::date") >= 0.3) { // detect_types.py:314
        out = out.withColumn(c, Cleaners.parseDateMulti(col(c)))
        decisions += s"$c->timestamp"
      }
    }
    val state = if (decisions.nonEmpty) StageState.WARN else StageState.PASS
    log("DETECT_TYPES", state, decisions.mkString(","))
    StageResult(out, state, decisions.mkString(","))
  }

  /** Stage 3 — CLEAN_DATA (C7/C10): trim + case + null standardization over
    * every string column, single projection (`clean_data.py:16-45`). */
  def cleanData(df: DataFrame): StageResult = {
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    val out = strCols.foldLeft(df) { (d, c) =>
      // strip_whitespace gates the trim; case mapping applies either way
      val base =
        if (config.stripWhitespace) Cleaners.normalizeCase(col(c), config.caseMode)
        else config.caseMode match {
          case "upper" => upper(col(c).cast("string"))
          case "lower" => lower(col(c).cast("string"))
          case "title" => initcap(col(c).cast("string"))
          case _ => col(c).cast("string")
        }
      val special = if (config.removeSpecialChars) Cleaners.removeSpecialChars(base) else base
      d.withColumn(c, Cleaners.standardizeNulls(special))
    }
    val state = if (strCols.nonEmpty) StageState.WARN else StageState.PASS
    log("CLEAN_DATA", state,
      s"normalized ${strCols.length} string cols (case=${config.caseMode})")
    StageResult(out, state, "")
  }

  /** Stage 4 — DUPLICATES (`duplicates.py:14-39`): count always; drop only
    * when permitted. */
  def duplicates(df: DataFrame): StageResult = {
    val dupCount = Profiler.duplicateRowCount(df, config.duplicateKeys)
    if (dupCount == 0) { log("DUPLICATES", StageState.PASS, "none"); return StageResult(df, StageState.PASS, "") }
    if (config.removeDuplicates || config.destructiveRowDeletion) {
      val out = Cleaners.dropDuplicates(df, config.duplicateKeys)
      log("DUPLICATES", StageState.WARN, s"dropped $dupCount")
      StageResult(out, StageState.WARN, s"dropped=$dupCount")
    } else {
      log("DUPLICATES", StageState.WARN, s"preserved $dupCount (deletion disabled)")
      StageResult(df, StageState.WARN, s"preserved=$dupCount")
    }
  }

  /** Stage 5 — MISSING_VALUES (`missing_values.py:22-67`): optional high-
    * missingness row drop, then numeric→median / string→mode imputation. */
  def missingValues(df: DataFrame): StageResult = {
    val nCols = df.columns.length
    val rowNulls = df.columns.map(c => col(c).isNull.cast("int")).reduce(_ + _)
    val tooMissing = rowNulls * 100.0 / nCols > config.maxMissingRowPct
    val afterDrop =
      if (config.destructiveRowDeletion) df.filter(!tooMissing) else df
    val out = if (config.imputeMissing) Cleaners.imputeDefaults(afterDrop) else afterDrop
    val state = if (config.imputeMissing) StageState.WARN else StageState.PASS
    log("MISSING_VALUES", state, "median/mode imputation")
    StageResult(out, state, "")
  }

  /** Stage 6 — OUTLIERS (`outliers.py:14-47`): per-numeric-column IQR (or
    * z-score) bounds from one quantile pass, then a single clip projection. */
  def outliers(df: DataFrame): StageResult = {
    val numCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name }
    if (numCols.isEmpty) { log("OUTLIERS", StageState.PASS, "no numeric cols"); return StageResult(df, StageState.PASS, "") }
    // ONE pass for all bounds
    val bounds: Map[String, (Double, Double)] =
      if (config.outlierMethod == "iqr")
        Profiler.approxQuantiles(df, numCols.toSeq.map(c => c -> col(c)),
          Seq(0.25, 0.75)).map { case (c, q) =>
            val iqr = q(1) - q(0)
            c -> (q(0) - 1.5 * iqr, q(1) + 1.5 * iqr)
          }
      else {
        val aggs = numCols.flatMap(c =>
          Seq(avg(col(c).cast("double")).as(s"$c::mu"),
              stddev_samp(col(c).cast("double")).as(s"$c::sd")))
        val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        numCols.flatMap { c =>
          val (mi, si) = (row.fieldIndex(s"$c::mu"), row.fieldIndex(s"$c::sd"))
          if (row.isNullAt(mi) || row.isNullAt(si) || row.getDouble(si) == 0.0) None
          else Some(c -> (row.getDouble(mi) - 3 * row.getDouble(si),
                          row.getDouble(mi) + 3 * row.getDouble(si)))
        }.toMap
      }
    var out = df
    val clipped = scala.collection.mutable.ArrayBuffer[String]()
    numCols.foreach { c =>
      bounds.get(c).foreach { case (lo, hi) =>
        val origType = df.schema(c).dataType
        val mask = col(c).cast("double") < lo || col(c).cast("double") > hi
        config.outlierStrategy match { // C19: cap | remove | mark
          case "remove" => out = out.filter(!coalesce(mask, lit(false)))
          case "mark" => out = out.withColumn(s"${c}_is_outlier", coalesce(mask, lit(false)))
          case _ => out = out.withColumn(c,
            Cleaners.clip(col(c).cast("double"), lo, hi).cast(origType))
        }
        clipped += c
      }
    }
    val state = if (clipped.nonEmpty) StageState.WARN else StageState.PASS
    log("OUTLIERS", state,
      s"${config.outlierStrategy}: ${clipped.mkString(",")}")
    StageResult(out, state, "")
  }

  /** Full pipeline in canonical order, fail-fast, per-stage enable flags from
    * config (`lifecycle.py:29-59`; stage keys as in config/default.yaml). */
  def run(df: DataFrame): (DataFrame, StageState.Value) = {
    val stages: Seq[(String, DataFrame => StageResult)] = Seq(
      "enforce_schema" -> (schemaCheck _),
      "detect_types" -> (detectTypes _),
      "clean_text" -> (cleanData _),
      "deduplicate" -> (duplicates _),
      "handle_missing" -> (missingValues _),
      "handle_outliers" -> (outliers _))
    var cur = df
    var worst = StageState.PASS
    stages.foreach { case (name, st) =>
      if (worst != StageState.FAIL && config.stageEnabled.getOrElse(name, true)) {
        val r = st(cur)
        cur = r.df
        if (r.state.id > worst.id) worst = r.state
      }
    }
    (cur, worst)
  }
}
