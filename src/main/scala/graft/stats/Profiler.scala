package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column profile — union of the reference's numeric/datetime/boolean/text
  * stat dicts (`/root/reference/src/engine/profiler.py:49-111`). Fields not
  * applicable to the column's type are null/NaN. */
case class ColumnProfile(
    column: String, dtype: String,
    count: Long, nulls: Long, nullPct: Double,
    distinct: Long, distinctPct: Double,
    mean: Option[Double], std: Option[Double],
    min: Option[Double], max: Option[Double],
    q25: Option[Double], median: Option[Double], q75: Option[Double],
    skew: Option[Double], zeros: Option[Long], negatives: Option[Long],
    minTs: Option[java.sql.Timestamp], maxTs: Option[java.sql.Timestamp],
    trueCount: Option[Long],
    avgLen: Option[Double], maxLen: Option[Long], minLen: Option[Long]) {
  def isConstant: Boolean = distinct <= 1
  def isHighNull: Boolean = nullPct >= 50.0
  def isHighCardinality: Boolean = distinctPct > 95.0
}

/** Table-level quick stats (`profiler.py:9-44`). */
case class QuickStats(rows: Long, cols: Int, missingCells: Long,
                      missingPct: Double, duplicateRows: Long,
                      dtypeCounts: Map[String, Int])

/** IQR / z-score outlier bounds (`/root/reference/src/engine/stages/outliers.py:21-32`). */
case class OutlierBounds(column: String, lower: Double, upper: Double,
                         count: Long, method: String)

/**
 * Profiling aggregations (SURVEY §2.4 A1–A19), built as ONE wide `agg()` pass
 * over the table — the reference runs ~1 pandas pass per stat per column; here
 * Catalyst's partial aggregation computes every stat for every column in a
 * single scan with map-side combine. Distinct counts use HyperLogLog
 * (`approx_count_distinct`, north-rule sketch) with an `exact` escape hatch
 * for oracle-checked tests.
 */
object Profiler {

  private def isNumeric(dt: DataType) = dt match {
    case _: NumericType => true; case _ => false }
  private def isTimestampLike(dt: DataType) = dt match {
    case _: TimestampType | _: TimestampNTZType | _: DateType => true; case _ => false }

  /** All per-column profiles in a single scan. */
  def profile(df: DataFrame, exactDistinct: Boolean = false,
              withQuantiles: Boolean = true): Seq[ColumnProfile] = {
    val fields = df.schema.fields
    def n(c: String) = col(c).cast("double")
    val aggs: Seq[Column] = count(lit(1)).as("__rows") +: fields.flatMap { f =>
      val c = f.name
      val base = Seq(
        sum(col(c).isNull.cast("long")).as(s"$c::nulls"),
        (if (exactDistinct) countDistinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"$c::distinct"))
      val typed: Seq[Column] = f.dataType match {
        case dt if isNumeric(dt) =>
          Seq(avg(n(c)).as(s"$c::mean"),
              stddev_samp(n(c)).as(s"$c::std"),
              min(n(c)).as(s"$c::min"),
              max(n(c)).as(s"$c::max"),
              skewness(n(c)).as(s"$c::skew"),
              sum((n(c) === 0.0).cast("long")).as(s"$c::zeros"),
              sum((n(c) < 0.0).cast("long")).as(s"$c::negatives")) ++
          (if (withQuantiles)
             Seq(percentile_approx(n(c), array(lit(0.25), lit(0.5), lit(0.75)),
                 lit(10000)).as(s"$c::q"))
           else Nil)
        case dt if isTimestampLike(dt) =>
          Seq(min(col(c).cast("timestamp")).as(s"$c::mints"),
              max(col(c).cast("timestamp")).as(s"$c::maxts"))
        case BooleanType =>
          Seq(sum(col(c).cast("long")).as(s"$c::true"))
        case StringType =>
          Seq(avg(length(col(c)).cast("double")).as(s"$c::avglen"),
              max(length(col(c)).cast("long")).as(s"$c::maxlen"),
              min(length(col(c)).cast("long")).as(s"$c::minlen"))
        case _ => Nil
      }
      base ++ typed
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = row.getAs[Long]("__rows")
    def opt[T](k: String): Option[T] = {
      val i = row.fieldIndex(k)
      if (row.isNullAt(i)) None else Some(row.get(i).asInstanceOf[T])
    }
    fields.map { f =>
      val c = f.name
      val nulls = row.getAs[Long](s"$c::nulls")
      val distinct = row.getAs[Long](s"$c::distinct")
      val q: Option[Seq[Double]] =
        if (isNumeric(f.dataType) && withQuantiles)
          opt[scala.collection.Seq[Any]](s"$c::q").map(_.map(x => x.toString.toDouble).toSeq)
        else None
      ColumnProfile(
        column = c, dtype = f.dataType.simpleString,
        count = rows - nulls, nulls = nulls,
        nullPct = if (rows == 0) 0 else nulls * 100.0 / rows,
        distinct = distinct,
        distinctPct = if (rows == 0) 0 else distinct * 100.0 / rows,
        mean = if (isNumeric(f.dataType)) opt[Double](s"$c::mean") else None,
        std = if (isNumeric(f.dataType)) opt[Double](s"$c::std") else None,
        min = if (isNumeric(f.dataType)) opt[Double](s"$c::min") else None,
        max = if (isNumeric(f.dataType)) opt[Double](s"$c::max") else None,
        q25 = q.map(_(0)), median = q.map(_(1)), q75 = q.map(_(2)),
        skew = if (isNumeric(f.dataType)) opt[Double](s"$c::skew") else None,
        zeros = if (isNumeric(f.dataType)) opt[Long](s"$c::zeros") else None,
        negatives = if (isNumeric(f.dataType)) opt[Long](s"$c::negatives") else None,
        minTs = if (isTimestampLike(f.dataType)) opt[java.sql.Timestamp](s"$c::mints") else None,
        maxTs = if (isTimestampLike(f.dataType)) opt[java.sql.Timestamp](s"$c::maxts") else None,
        trueCount = if (f.dataType == BooleanType) opt[Long](s"$c::true") else None,
        avgLen = if (f.dataType == StringType) opt[Double](s"$c::avglen") else None,
        maxLen = if (f.dataType == StringType) opt[Long](s"$c::maxlen") else None,
        minLen = if (f.dataType == StringType) opt[Long](s"$c::minlen") else None)
    }
  }

  /** A1 — table quick stats. Duplicate rows counted with a hash-agg over all
    * columns (`count(*) − countDistinct(struct(*))` would undercount null
    * groups; groupBy is exact and partial-aggregated). */
  def quickStats(df: DataFrame): QuickStats = {
    val rows = df.count()
    val missingAgg = df.select(
      df.columns.map(c => sum(col(c).isNull.cast("long")).as(c)): _*)
      .collect()(0)
    val missing = df.columns.indices.map(missingAgg.getLong).sum
    val dups = duplicateRowCount(df)
    val cells = rows * df.columns.length
    QuickStats(rows, df.columns.length, missing,
      if (cells == 0) 0 else missing * 100.0 / cells, dups,
      df.schema.fields.groupBy(_.dataType.simpleString).view.mapValues(_.length).toMap)
  }

  /** A8 — number of rows that are duplicates of an earlier identical row
    * (pandas `df.duplicated().sum()` = total − distinct).
    *
    * Groups on `xxhash64(struct(keys))` rather than the full key tuple, so
    * the shuffle carries an 8-byte key instead of the whole row width
    * (VERDICT r2 note on `uniqueness()`); null cells hash deterministically,
    * matching SQL's null-safe grouping. Same answer modulo 64-bit hash
    * collisions — expected extra dups ≈ n²/2^65 (~3·10⁻⁸ relative error at
    * 10⁹ rows), absorbed by the dup-rate metrics this feeds. */
  def duplicateRowCount(df: DataFrame, subset: Seq[String] = Nil): Long = {
    val keys = if (subset.isEmpty) df.columns.toSeq else subset
    val grouped = df
      .groupBy(xxhash64(struct(keys.map(col): _*)).as("__h"))
      .agg(count(lit(1)).as("__n"))
    val r = grouped.agg(sum(col("__n") - 1).as("dups")).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** A6/O1 — top-k value counts, deterministic tie-break on the value. */
  def topK(df: DataFrame, c: String, k: Int = 5): DataFrame =
    df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col(c).asc_nulls_last).limit(k)

  /** Heavy hitters via the mergeable Misra–Gries summary
    * ([[Sketches.MgSketch]]): ONE aggregate whose state is O(capacity) per
    * partition — unlike [[topK]], which shuffles the full distinct domain
    * and is the wrong plan when that domain is huge (tokens at 100 TB).
    * Returns (value, cnt, max_err) sorted by (cnt desc, value asc);
    * `max_err = 0` means the summary never spilled and every cnt is exact
    * (guaranteed whenever the distinct count stays ≤ capacity). */
  def heavyHitters(df: DataFrame, c: Column, k: Int,
                   capacity: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bytes = df.select(c.cast("string").as("v"))
      .agg(Sketches.mgSketch(capacity)(col("v")).as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    val s = Sketches.MgSketch.fromBytes(bytes)
    s.topK(k).toSeq.map { case (v, cnt) => (v, cnt, s.maxError) }
      .toDF("value", "cnt", "max_err")
  }

  /** A7 — mode with deterministic tie-break (smallest value wins). */
  def mode(df: DataFrame, c: String): Option[Any] =
    topK(df.filter(col(c).isNotNull), c, 1).collect().headOption.map(_.get(0))

  /** A7 batched — modes of MANY columns in ONE Spark job (VERDICT r2 item 8:
    * the per-column [[mode]] loop launched one groupBy job per column).
    * Columns are melted to (column, value) pairs, counted, and reduced with
    * `min_by` over (count desc, value asc) — the same tie-break as [[mode]],
    * except values compare as STRINGS (call sites fill via `na.fill(string)`
    * anyway; use [[mode]] where numeric tie-break order matters). Columns
    * that are entirely null are absent from the result. */
  def modes(df: DataFrame, cols: Seq[String]): Map[String, String] = {
    if (cols.isEmpty) return Map.empty
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*)).as("p"))
      .select(col("p.c").as("c"), col("p.v").as("v"))
      .where(col("v").isNotNull)
    pairs.groupBy("c", "v").agg(count(lit(1)).as("n"))
      .groupBy("c")
      .agg(min_by(col("v"), struct((-col("n")).as("nn"), col("v").as("v"))).as("m"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** Approximate quantiles of MANY named expressions in ONE aggregate:
    * `percentile_approx(e, probs, 10000)` over each expression cast to
    * double. Returns name → quantiles in `probs` order; an expression with
    * no non-null input has a null result and is absent from the map. */
  def approxQuantiles(df: DataFrame, exprs: Seq[(String, Column)],
                      probs: Seq[Double]): Map[String, Seq[Double]] = {
    if (exprs.isEmpty) return Map.empty
    val aggs = exprs.map { case (name, e) =>
      percentile_approx(e.cast("double"), array(probs.map(lit): _*), lit(10000)).as(name) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    exprs.indices.collect {
      case i if !row.isNullAt(i) => exprs(i)._1 -> row.getSeq[Double](i).toSeq }.toMap
  }

  /** A10 — IQR outlier bounds + count (`outliers.py:21-26`: 1.5×IQR). */
  def iqrOutliers(df: DataFrame, c: String, factor: Double = 1.5): OutlierBounds = {
    val q = approxQuantiles(df, Seq(c -> col(c)), Seq(0.25, 0.75))(c)
    val (q1, q3) = (q(0), q(1))
    val iqr = q3 - q1
    val (lo, hi) = (q1 - factor * iqr, q3 + factor * iqr)
    val cnt = df.agg(sum(((col(c) < lo) || (col(c) > hi)).cast("long")))
      .collect()(0)
    OutlierBounds(c, lo, hi, if (cnt.isNullAt(0)) 0 else cnt.getLong(0), "iqr")
  }

  /** A11 — z-score outlier bounds + count (`outliers.py:27-32`: |z|>3). */
  def zScoreOutliers(df: DataFrame, c: String, z: Double = 3.0): OutlierBounds = {
    val r = df.agg(avg(col(c).cast("double")), stddev_samp(col(c).cast("double")))
      .collect()(0)
    val (mu, sd) = (r.getDouble(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    val (lo, hi) = (mu - z * sd, mu + z * sd)
    val cnt = df.agg(sum(((col(c) < lo) || (col(c) > hi)).cast("long"))).collect()(0)
    OutlierBounds(c, lo, hi, if (cnt.isNullAt(0)) 0 else cnt.getLong(0), "zscore")
  }

  /** A14 — correlation matrix over the first `maxCols` numeric columns
    * (`profiler.py:135-142` caps at 10). ALL pairs in ONE agg pass —
    * `df.stat.corr` per pair would be O(k²) full scans. */
  def correlationPairs(df: DataFrame, maxCols: Int = 10): Seq[(String, String, Double)] = {
    val nums = df.schema.fields.filter(f => isNumeric(f.dataType))
      .map(_.name).take(maxCols)
    val pairs = for { i <- nums.indices; j <- (i + 1) until nums.length }
      yield (nums(i), nums(j))
    if (pairs.isEmpty) return Nil
    val aggs = pairs.map { case (a, b) =>
      corr(col(a).cast("double"), col(b).cast("double")).as(s"$a::$b") }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    pairs.map { case (a, b) =>
      val i = r.fieldIndex(s"$a::$b")
      (a, b, if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
    }
  }

  /** A16 — completeness: per-row missing-cell distribution in one pass. */
  def rowMissingDistribution(df: DataFrame): DataFrame = {
    val nullCount = df.columns.map(c => col(c).isNull.cast("int"))
      .reduce(_ + _)
    df.select(nullCount.as("missing_in_row"))
      .groupBy("missing_in_row").agg(count(lit(1)).as("rows"))
      .orderBy("missing_in_row")
  }
}
