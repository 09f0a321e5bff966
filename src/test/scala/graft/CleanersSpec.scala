package graft

import org.apache.spark.sql.functions._
import graft.clean.{Cleaners, CleanConfig, CleaningPipeline, StageState}
import graft.fixtures.Fixtures
import graft.stats.Profiler

class CleanersSpec extends SparkSpec {
  import spark.implicits._

  test("numeric coercion strips currency/commas (C2, test_engines.py money cases)") {
    val r = spark.range(1).select(
      Cleaners.coerceNumeric(lit("$50,000.00")).as("a"),
      Cleaners.coerceNumeric(lit("71,500.50")).as("b"),
      Cleaners.coerceNumeric(lit("not_a_number")).as("c"),
      Cleaners.coerceNumeric(lit("-5")).as("d"),
      Cleaners.coerceNumeric(lit("1.5e3")).as("e")).collect()(0)
    assert(r.getDouble(0) === 50000.0)
    assert(r.getDouble(1) === 71500.5)
    assert(r.isNullAt(2))
    assert(r.getDouble(3) === -5.0)
    assert(r.getDouble(4) === 1500.0)
  }

  test("boolean coercion: 16-token map (C5)") {
    val vals = Seq("yes", "NO", " True ", "0", "on", "Disabled", "maybe")
    val df = vals.toDF("v").select(Cleaners.coerceBoolean($"v").as("b"))
    assert(df.collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0)).toSeq
      === Seq(true, false, true, false, true, false, null))
  }

  test("null standardization + case + whitespace (C7-C10)") {
    val r = spark.range(1).select(
      Cleaners.standardizeNulls(lit(" N/A ")).as("a"),
      Cleaners.standardizeNulls(lit("nan")).as("b"),
      Cleaners.standardizeNulls(lit(" ok ")).as("c"),
      Cleaners.normalizeCase(lit("  hello WORLD  "), "title").as("d"),
      Cleaners.collapseWhitespace(lit("a   b\t c")).as("e")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getString(2) === " ok ")     // standardizeNulls does not trim payload
    assert(r.getString(3) === "Hello World")
    assert(r.getString(4) === "a b c")
  }

  test("dedup variants: keep-first / keep-last / keep-none (C11/C12, W2-W4)") {
    val df = Seq(("k1", 1, "a"), ("k1", 2, "b"), ("k2", 1, "c"))
      .toDF("k", "ord", "v")
    assert(Cleaners.dropDuplicatesOrdered(df, Seq("k"), "ord")
      .select("v").as[String].collect().toSet === Set("a", "c"))
    assert(Cleaners.dropDuplicatesOrdered(df, Seq("k"), "ord", keepLast = true)
      .select("v").as[String].collect().toSet === Set("b", "c"))
    assert(Cleaners.keepUniqueOnly(df, Seq("k"))
      .select("v").as[String].collect().toSet === Set("c"))
  }

  test("forward/backward fill with explicit order (W1)") {
    val df = Seq((1, Some("a")), (2, None), (3, None), (4, Some("b")), (5, None))
      .toDF("ord", "v")
    val ff = Cleaners.forwardFill(df, "v", "ord").orderBy("ord")
      .select("v").as[String].collect().toSeq
    assert(ff === Seq("a", "a", "a", "b", "b"))
    val bf = Cleaners.backwardFill(df, "v", "ord").orderBy("ord")
      .select("v").as[String].collect().toSeq
    assert(bf === Seq("a", "b", "b", "b", null))
  }

  test("header standardization + duplicate-name suffixing (C25/C26)") {
    val mapping = Cleaners.standardizeHeaders(
      Seq("  Full_name  ", "Total Amount($)", "Total Amount($)"), snakeCase = true)
    assert(mapping.map(_._2) === Seq("full_name", "total_amount", "total_amount"))
    assert(Cleaners.dedupeNames(Seq("a", "b", "a", "a")) === Seq("a", "b", "a (2)", "a (3)"))
  }

  test("duplicate-column merge picks healthiest head and coalesces (C14)") {
    val df = Seq(
      (Some("x"), None: Option[String], 1),
      (None, Some("y"), 2),
      (Some("z"), Some("z2"), 3)).toDF("col_1", "col_2", "id")
    val merged = Cleaners.mergeDuplicateColumns(df)
    assert(merged.columns.toSet === Set("col", "id"))
    assert(merged.orderBy("id").select("col").as[String].collect().toSeq
      === Seq("x", "y", "z"))
  }

  test("atomic pipeline on the employees fixture (test_engines.py:68-126)") {
    val emp = Fixtures.employees(spark)
    val cfg = CleanConfig(caseMode = "none", removeDuplicates = true,
      destructiveRowDeletion = true)
    val pipe = new CleaningPipeline(cfg)
    // header standardization first (stage-0 equivalent, cleaning_engine.py:68-91)
    val renamed = Cleaners.renameHeaders(emp)
    assert(renamed.columns.contains("full_name"))
    val noConst = Cleaners.dropConstantColumns(renamed)
    assert(!noConst.columns.contains("const_col"))
    val (cleaned, state) = pipe.run(noConst)
    // full duplicate row dropped
    assert(cleaned.count() === 5)
    assert(state === StageState.WARN)
    // age coerced numeric ("abc" → null → imputed with median)
    val ages = cleaned.select("age").collect()
    assert(ages.forall(r => !r.isNullAt(0)))
  }

  test("clip + scaling expressions (C18/C23)") {
    val df = Seq(0.0, 5.0, 10.0, 100.0).toDF("x")
    val clipped = df.select(Cleaners.clip($"x", 1.0, 10.0).as("c"))
      .as[Double].collect().toSeq
    assert(clipped === Seq(1.0, 5.0, 10.0, 10.0))
    val mm = df.select(Cleaners.scaleMinMax($"x", 0.0, 100.0).as("m"))
      .as[Double].collect().toSeq
    assert(mm === Seq(0.0, 0.05, 0.1, 1.0))
  }

  test("profiler one-pass: nulls/distinct/mean/quantiles on lineitem sf0.001") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val profs = Profiler.profile(li, exactDistinct = true)
    val qty = profs.find(_.column == "l_quantity").get
    assert(qty.nulls === 0)
    assert(qty.min.get >= 1.0 && qty.max.get <= 50.0)
    assert(qty.mean.isDefined && qty.median.isDefined)
    val rf = profs.find(_.column == "l_returnflag").get
    assert(rf.distinct === 3)
    assert(rf.avgLen.get === 1.0)
    val ship = profs.find(_.column == "l_shipdate").get
    assert(ship.minTs.isDefined && ship.maxTs.isDefined)
  }

  test("quick stats + duplicate rows + topK + mode") {
    val df = Seq(("a", 1), ("a", 1), ("b", 2), (null, 3)).toDF("s", "i")
    val qs = Profiler.quickStats(df)
    assert(qs.rows === 4 && qs.duplicateRows === 1 && qs.missingCells === 1)
    assert(Profiler.mode(df, "s").get === "a")
    val top = Profiler.topK(df, "s", 2).collect()
    assert(top(0).getString(0) === "a" && top(0).getLong(1) === 2)
  }
}
