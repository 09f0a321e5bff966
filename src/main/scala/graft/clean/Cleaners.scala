package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.stats.Profiler

/**
 * Cleaning / transformation operators (SURVEY §2.5 C1–C36) as pure Column
 * functions and DataFrame transforms. Semantics mirror the reference; the
 * representation is columnar Catalyst expressions — zero UDFs, whole-stage
 * codegen throughout. Order-dependent ops (ffill/bfill, keep-first dedup)
 * take an explicit order column: Spark has no implicit row order (SURVEY §7.4).
 */
object Cleaners {

  // ------------------------------------------------------------ text (C7–C10)

  /** C7 — trim + case normalization (none/upper/lower/title)
    * (`/root/reference/src/engine/stages/clean_data.py:16-45`). */
  def normalizeCase(c: Column, mode: String): Column = {
    val t = trim(c.cast("string"))
    mode match {
      case "upper" => upper(t)
      case "lower" => lower(t)
      case "title" => initcap(t)
      case _ => t
    }
  }

  /** C10 — null-placeholder standardization: `nan/None/NULL/N-A/unknown/''`
    * → null (`clean_data.py:37`, `cleaning_engine.py:197`,
    * `report/export.py:89-92`). */
  def standardizeNulls(c: Column): Column =
    when(trim(c.cast("string")).rlike("^(?i)(nan|none|null|n/a|na|unknown)?$"),
      lit(null).cast("string")).otherwise(c.cast("string"))

  /** C8 — whitespace collapse (`cleaning_engine.py:200`). */
  def collapseWhitespace(c: Column): Column =
    regexp_replace(c, "\\s+", " ")

  /** C9 — special-char removal (`dynamic_cleaner.py:96-99`). */
  def removeSpecialChars(c: Column): Column =
    regexp_replace(c, "[^a-zA-Z0-9\\s.\\-/:]", "")

  // --------------------------------------------------- type coercion (C1–C5)

  /** C2 — numeric coercion with sanitize: strip currency/percent adornments,
    * drop thousands separators, cast (`detect_types.py:251-306`). */
  def coerceNumeric(c: Column): Column = {
    val sanitized = regexp_replace(
      regexp_replace(c.cast("string"), "[^\\d.\\-+eE,]", ""), ",", "")
    when(trim(sanitized) === "", lit(null).cast("double"))
      .otherwise(sanitized.try_cast(DoubleType))
  }

  /** C1 — fraction of a (sampled) column that looks numeric-as-text; used by
    * the planner to decide coercion (`detect_types.py:218-249`). */
  def numericTextRate(df: DataFrame, c: String, sample: Int = 100): Double = {
    val numRe = "^\\s*[$€£¥₹]?[-+]?[\\d,]*\\.?\\d+([eE][-+]?\\d+)?%?\\s*$"
    val r = df.select(col(c)).filter(col(c).isNotNull).limit(sample)
      .agg(avg(col(c).cast("string").rlike(numRe).cast("double"))).collect()(0)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** C3/C30 — multi-format datetime parse: first format that succeeds wins
    * (`detect_types.py:308-384`, `semantic_pipeline/cleaner.py:88-108`). */
  val DateFormats = Seq("yyyy-MM-dd", "dd-MM-yyyy", "MM/dd/yyyy", "dd/MM/yyyy",
    "yyyy/MM/dd", "yyyy-MM-dd HH:mm:ss", "dd-MM-yyyy HH:mm:ss")
  def parseDateMulti(c: Column, formats: Seq[String] = DateFormats): Column =
    coalesce(formats.map(f => try_to_timestamp(c.cast("string"), lit(f))): _*)

  /** C34 — Excel-serial → date (epoch 1899-12-30, serial window 10000–100000;
    * `dynamic_cleaner.py:103-113`). */
  def excelSerialToDate(c: Column): Column = {
    val n = c.cast("string").try_cast(DoubleType)
    when(n.between(10000, 100000),
      date_add(to_date(lit("1899-12-30")), n.cast("int")))
      .otherwise(lit(null).cast("date"))
  }

  /** Combined date-or-serial parser used by DOB handling (C35/C36). */
  def parseDateOrSerial(c: Column): Column =
    coalesce(excelSerialToDate(c).cast("timestamp"), parseDateMulti(c))

  /** C4 — derived formatted date columns (`detect_types.py:126-149`). */
  def dateDerivedColumns(df: DataFrame, c: String): DataFrame = df
    .withColumn(s"${c}_short", date_format(col(c), "dd-MM-yyyy"))
    .withColumn(s"${c}_long", date_format(col(c), "dd MMMM yyyy"))
    .withColumn(s"${c}_iso", date_format(col(c), "yyyy-MM-dd"))

  /** C5 — boolean conversion from the reference's 16-token map
    * (`detect_types.py:406-445`). */
  val TrueTokens = Seq("true", "yes", "y", "1", "t", "on", "enabled")
  val FalseTokens = Seq("false", "no", "n", "0", "f", "off", "disabled")
  def coerceBoolean(c: Column): Column = {
    val s = lower(trim(c.cast("string")))
    when(s.isin(TrueTokens: _*), lit(true))
      .when(s.isin(FalseTokens: _*), lit(false))
      .otherwise(lit(null).cast("boolean"))
  }

  /** Rate of boolean-token values among non-nulls (threshold 0.8 in the
    * reference) — one agg, used by the planner. */
  def booleanTokenRate(df: DataFrame, c: String): Double = {
    val s = lower(trim(col(c).cast("string")))
    val r = df.filter(col(c).isNotNull)
      .agg(avg(s.isin(TrueTokens ++ FalseTokens: _*).cast("double"))).collect()(0)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  // ------------------------------------------------------------ dedup (C11–C12)

  /** C11 — dedup keep-any (semantics of pandas drop_duplicates when row order
    * is irrelevant): exact hash-based distinct on the key subset. */
  def dropDuplicates(df: DataFrame, keys: Seq[String] = Nil): DataFrame =
    if (keys.isEmpty) df.dropDuplicates() else df.dropDuplicates(keys)

  /** C11 keep-first/keep-last with an explicit order column. */
  def dropDuplicatesOrdered(df: DataFrame, keys: Seq[String], orderCol: String,
                            keepLast: Boolean = false): DataFrame = {
    val ord = if (keepLast) col(orderCol).desc else col(orderCol).asc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** C11 keep-none — keep only rows whose key appears exactly once. */
  def keepUniqueOnly(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__cnt", count(lit(1)).over(w))
      .filter(col("__cnt") === 1).drop("__cnt")
  }

  /** C12 — latest-record dedup by timestamp (`cleaning_engine.py:138-141`). */
  def keepLatest(df: DataFrame, keys: Seq[String], tsCol: String): DataFrame =
    dropDuplicatesOrdered(df, keys, tsCol, keepLast = true)

  // --------------------------------------------------- imputation (C16–C17)

  /** C16 — numeric→median, string→mode, with driver-side stats pass.
    * Datetime→ffill needs an order column → [[forwardFill]]. */
  def imputeDefaults(df: DataFrame): DataFrame = {
    val numCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name }
    val strCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name }
    // C17 — date median via int64 seconds (`dynamic_cleaner.py:231-238`)
    val tsCols = df.schema.fields.collect {
      case f if f.dataType == TimestampType => f.name }
    // numeric and date medians in one aggregate
    val med = Profiler.approxQuantiles(df,
      numCols.toSeq.map(c => c -> col(c)) ++
        tsCols.toSeq.map(c => c -> unix_timestamp(col(c))), Seq(0.5))
    val medians: Map[String, Double] =
      numCols.flatMap(c => med.get(c).map(q => c -> q.head)).toMap
    val modes: Map[String, String] = Profiler.modes(df, strCols.toSeq)
    val filled = tsCols.foldLeft(df) { (d, c) =>
      med.get(c).fold(d)(q => d.withColumn(c, coalesce(col(c),
        to_timestamp(from_unixtime(lit(q.head.toLong))))))
    }
    filled.na.fill(medians).na.fill(modes)
  }

  /** C17 — coercion-aware imputation (`dynamic_cleaner.py:209-266`): the
    * strategy is chosen by CONTENT, not dtype — numeric-median when ≥60% of
    * non-null values coerce to numbers, else date-median (computed via int64
    * seconds, `:231-238`) when ≥60% parse as dates/serials, else mode.
    * Costs one rate agg + one median agg + bounded mode lookups. String
    * columns receive the median's canonical string form ("2.0" / ISO date). */
  def imputeCoercionAware(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val targets = if (cols.isEmpty) df.columns.toSeq else cols
    if (targets.isEmpty) return df
    val rateAggs = targets.flatMap { c => Seq(
      avg(when(col(c).isNotNull, coerceNumeric(col(c)).isNotNull.cast("double")))
        .as(s"$c::num"),
      avg(when(col(c).isNotNull, parseDateOrSerial(col(c)).isNotNull.cast("double")))
        .as(s"$c::dt"),
      sum(col(c).isNull.cast("long")).as(s"$c::nulls")) }
    val r = df.agg(rateAggs.head, rateAggs.tail: _*).collect()(0)
    def rate(k: String) = { val i = r.fieldIndex(k); if (r.isNullAt(i)) 0.0 else r.getDouble(i) }
    def nNulls(c: String) = r.getAs[Long](s"$c::nulls")
    val missing = targets.filter(c => nNulls(c) > 0)
    val numeric = missing.filter(c => rate(s"$c::num") >= 0.6)
    val dates = missing.filterNot(numeric.contains)
      .filter(c => rate(s"$c::dt") >= 0.6)
    val byMode = missing.filterNot(c => numeric.contains(c) || dates.contains(c))
    var out = df
    val med = Profiler.approxQuantiles(df,
      numeric.map(c => c -> coerceNumeric(col(c))) ++
        dates.map(c => c -> unix_timestamp(parseDateOrSerial(col(c)))), Seq(0.5))
    numeric.foreach { c =>
      med.get(c).foreach { q =>
        out = out.withColumn(c, coalesce(col(c),
          lit(q.head).cast(out.schema(c).dataType)))
      }
    }
    dates.foreach { c =>
      med.get(c).foreach { q =>
        val ts = to_timestamp(from_unixtime(lit(q.head.toLong)))
        val fill =
          if (out.schema(c).dataType == StringType) date_format(ts, "yyyy-MM-dd")
          else ts.cast(out.schema(c).dataType)
        out = out.withColumn(c, coalesce(col(c), fill))
      }
    }
    if (byMode.nonEmpty) out = out.na.fill(Profiler.modes(out, byMode))
    out
  }

  /** W1 — forward fill over an explicit order (partition keys keep windows
    * bounded at scale; an unpartitioned ffill is a single-task sort). */
  def forwardFill(df: DataFrame, c: String, orderCol: String,
                  partitionCols: Seq[String] = Nil): DataFrame = {
    val w0 = if (partitionCols.isEmpty) Window.orderBy(col(orderCol))
             else Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn(c, last(col(c), ignoreNulls = true)
      .over(w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** W1 — backward fill. */
  def backwardFill(df: DataFrame, c: String, orderCol: String,
                   partitionCols: Seq[String] = Nil): DataFrame = {
    val w0 = if (partitionCols.isEmpty) Window.orderBy(col(orderCol))
             else Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn(c, first(col(c), ignoreNulls = true)
      .over(w0.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
  }

  // ----------------------------------------------- outliers / ranges (C18–C23)

  /** C18 — clip to [lo, hi] (`outliers.py:14-47`). */
  def clip(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  /** C20 — range enforcement actions (`cleaning_engine.py:282-306`). */
  def enforceRange(c: Column, lo: Double, hi: Double, action: String,
                   median: => Double = Double.NaN): Column = {
    val outOfRange = c < lo || c > hi
    action match {
      case "clip" => clip(c, lo, hi)
      case "nan" => when(outOfRange, lit(null)).otherwise(c)
      case "median" => when(outOfRange, lit(median)).otherwise(c)
      case _ => c
    }
  }

  /** C21 — future-date nulling with pinned run timestamp
    * (`cleaning_engine.py:309-314`). */
  def nullFutureDates(c: Column, runTs: java.sql.Timestamp): Column =
    when(c.cast("timestamp") > lit(runTs), lit(null).cast("timestamp"))
      .otherwise(c.cast("timestamp"))

  /** C23 — min-max / z-score scaling from one stats pass
    * (`cleaning_engine.py:373-392`). */
  def scaleMinMax(c: Column, mn: Double, mx: Double): Column =
    if (mx == mn) lit(0.0) else (c.cast("double") - mn) / (mx - mn)
  def scaleZScore(c: Column, mu: Double, sd: Double): Column =
    if (sd == 0) lit(0.0) else (c.cast("double") - mu) / sd

  /** C24 — skewness transforms (UI-only in reference; log1p/sqrt implemented). */
  def skewTransform(c: Column, method: String): Column = method match {
    case "log1p" => log1p(c.cast("double"))
    case "sqrt" => sqrt(c.cast("double"))
    case _ => c
  }

  // -------------------------------------------------- headers (C25–C26, C13–C14)

  /** C26 — header standardization v2: strip special chars, Snake/Title case
    * (`cleaning_engine.py:68-110`). Driver-side; returns the rename mapping. */
  def standardizeHeaders(cols: Seq[String], snakeCase: Boolean = true): Seq[(String, String)] =
    cols.map { c0 =>
      val c1 = c0.trim.replaceAll("[^a-zA-Z0-9\\s_]", "").replace("_", " ")
      val out =
        if (snakeCase) c1.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString("_")
        else c1.split("\\s+").filter(_.nonEmpty).map(_.capitalize).mkString(" ")
      c0 -> out
    }

  def renameHeaders(df: DataFrame, snakeCase: Boolean = true): DataFrame = {
    val mapping = standardizeHeaders(df.columns.toSeq, snakeCase)
    df.toDF(dedupeNames(mapping.map(_._2)): _*)
  }

  /** C25 — duplicate-name suffixing `name`, `name (2)`, … (`data_processor.py:165-201`). */
  def dedupeNames(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map[String, Int]()
    names.map { n =>
      val k = seen.getOrElse(n, 0)
      seen(n) = k + 1
      if (k == 0) n else s"$n (${k + 1})"
    }
  }

  /** C13 — duplicate-column removal: identical names and value-equal columns
    * detected via per-column content hash agg (one pass), not O(n²) row
    * comparison (`cleaning_engine.py:118-128`). */
  def dropValueDuplicateColumns(df: DataFrame): DataFrame = {
    val cols = df.columns
    if (cols.length < 2) return df
    val aggs = cols.map(c => sum(xxhash64(col(c).cast("string"))).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val sigs = cols.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(i)) 0L else row.getLong(i)) }
    val keep = sigs.zipWithIndex.filter { case ((_, sig), i) =>
      !sigs.take(i).exists(_._2 == sig) }.map(_._1._1)
    df.select(keep.map(col): _*)
  }

  /** C14 — duplicate-column merge: normalize `_1/.1/_x/_v2` suffixes, pick the
    * healthiest head by (1−null%)×uniqueRatio, coalesce first-non-null
    * (`data_processor.py:203-276`). */
  def suffixBase(name: String): String =
    name.replaceAll("(?i)([._]\\d+|[._](x|y)|_v\\d+)$", "")

  def mergeDuplicateColumns(df: DataFrame): DataFrame =
    mergeDuplicateColumnsWithConflicts(df)._1

  /** C14 with conflict counting (`data_processor.py:253-264`): for each merge
    * group, conflicts = rows where the chosen head and a secondary member are
    * both non-null with different (string) values. Two agg passes total: one
    * for health stats, one for ALL groups' conflict counts. */
  def mergeDuplicateColumnsWithConflicts(df: DataFrame): (DataFrame, Map[String, Long]) = {
    val groups = df.columns.groupBy(suffixBase).filter(_._2.length > 1)
    if (groups.isEmpty) return (df, Map.empty)
    // health stats in ONE pass: per column non-null count + approx distinct
    val statCols = groups.values.flatten.toSeq
    val aggs = statCols.flatMap(c => Seq(
      sum(col(c).isNotNull.cast("long")).as(s"$c::nn"),
      approx_count_distinct(col(c)).as(s"$c::d"))) :+ count(lit(1)).as("__rows")
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = math.max(row.getAs[Long]("__rows"), 1L)
    def health(c: String): Double = {
      val nn = row.getAs[Long](s"$c::nn").toDouble
      (nn / rows) * (row.getAs[Long](s"$c::d").toDouble / math.max(nn, 1.0))
    }
    val ordered = groups.map { case (base, members) =>
      base -> members.sortBy(c => -health(c)) }
    // conflict counts for every group in ONE agg
    val conflictAggs = ordered.toSeq.map { case (base, ms) =>
      val head = col(ms.head)
      val anyConflict = ms.tail.map(m =>
        head.isNotNull && col(m).isNotNull &&
          head.cast("string") =!= col(m).cast("string"))
        .reduce(_ || _)
      sum(anyConflict.cast("long")).as(base)
    }
    val cRow = df.agg(conflictAggs.head, conflictAggs.tail: _*).collect()(0)
    val conflicts = ordered.keys.map(b =>
      b -> (if (cRow.isNullAt(cRow.fieldIndex(b))) 0L
            else cRow.getAs[Long](b))).toMap
    var out = df
    ordered.foreach { case (base, members) =>
      val merged = coalesce(members.map(col).toSeq: _*)
      out = out.withColumn(s"__merged_$base", merged)
        .drop(members.toSeq: _*)
        .withColumnRenamed(s"__merged_$base", base)
    }
    (out, conflicts)
  }

  /** A12-driven constant-column drop (`cleaning_engine.py:94-100`): one
    * approx-distinct pass, drop columns with ≤1 distinct non-null value. */
  def dropConstantColumns(df: DataFrame): DataFrame = {
    val aggs = df.columns.map(c => countDistinct(col(c)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val keep = df.columns.zipWithIndex
      .filter { case (_, i) => row.getLong(i) > 1 }.map(_._1)
    df.select(keep.map(col).toSeq: _*)
  }
}
