package graft

import org.apache.spark.sql.functions._
import graft.clean.{CleanConfig, CleaningPipeline, StageState}
import graft.core.RuleSpec._
import graft.fixtures.Fixtures
import graft.io.ConfigLoader
import graft.rules.{BoundRule, Templates, ValidationEngine}
import graft.stats._

/** A15/A22/A23/S14 score+report folds, P11 templates, config ingestion. */
class ReportConfigSpec extends SparkSpec {
  import spark.implicits._

  test("A15 importance: diversity + missingness + std fold (rule_generator.py:74-90)") {
    // baseline 0.5 + 1.0·0.3 − 0·0.4 + 0.1 (numeric, std>0) = 0.9
    assert(Importance.score(100, 100, 0.0, Some(2.0)) === 0.9)
    // high missingness pulls below baseline: 0.5 + 0.1·0.3 − 0.8·0.4 = 0.21
    assert(math.abs(Importance.score(10, 100, 80.0, None) - 0.21) < 1e-9)
    assert(Importance.score(0, 0, 0.0, None) === 0.5) // empty frame → baseline
    assert(Importance.level(0.9) === "HIGH" && Importance.level(0.5) === "MEDIUM"
      && Importance.level(0.1) === "LOW")
    assert(Importance.weight("HIGH") === 2.0 && Importance.weight("LOW") === 0.5)
  }

  test("A22 report score: 40/30/20/10 branches (report_builder.py:130-224)") {
    // all-good path: full completeness capped at 40, verify passed, 4 conversions
    val m = ReportBuilder.metrics(100, 5, 0,
      Seq(StepLog("verify", passed = true),
          StepLog("enforce_schema", typeConversions = 50),
          StepLog("deduplicate", duplicatesRemoved = 3)), initialDupRows = 3)
    assert(m.completenessScore === 40.0 && m.validityScore === 30.0)
    assert(m.consistencyScore === 20.0 && m.uniquenessScore === 10.0)
    assert(m.overallScore === 100.0)
    // degraded path: mixed issues/warnings, schema errors, kept duplicates
    val d = ReportBuilder.metrics(100, 4, 40,
      Seq(StepLog("verify", passed = false, issues = 2, warnings = 4),
          StepLog("enforce_schema", typeConversions = 2, errors = 3),
          StepLog("deduplicate", duplicatesRemoved = 0)), initialDupRows = 7)
    assert(d.completenessScore === (1.0 - 0.1) * 100 * 0.4) // 36
    assert(d.validityScore === 30.0 - 2 * 1.5 - 4 * 0.5)    // 25
    assert(d.consistencyScore === 0.0)                       // 1−3 → clamp
    assert(d.uniquenessScore === 5.0)
    // absent logs: defaults 20 / 10 / (3 when dups existed)
    val a = ReportBuilder.metrics(10, 2, 0, Nil, initialDupRows = 1)
    assert(a.validityScore === 20.0 && a.consistencyScore === 10.0 &&
      a.uniquenessScore === 3.0)
  }

  test("A23 quality score v2: error/missing/dup/mutation/drift penalties") {
    // clean frame: no penalties
    assert(QualityReportV2.score(100, Map("a" -> 0.0), Map("a" -> 0.5),
      dupPct = 0, errorCount = 0, mutationCount = 0, driftPenalty = 0) === 100.0)
    // 1 error (−15), 10% missing on a HIGH col (−10·0.8·2/1=−16), 2% dups (−4),
    // 60 mutations (cap −10), drift −3 ⇒ 52.0
    val s = QualityReportV2.score(100, Map("a" -> 10.0), Map("a" -> 0.9),
      dupPct = 2.0, errorCount = 1, mutationCount = 60, driftPenalty = 3.0)
    assert(s === 52.0)
    assert(QualityReportV2.score(0, Map.empty, Map.empty, 0, 0, 0, 0) === 0.0)
    // drift penalty: tolerance 0.15σ/(imp+0.1); over-shift adds (Δ/σ)·5·imp
    val pen = QualityReportV2.driftPenalty(
      Map("v" -> QualityReportV2.BaselineStat(Some(100.0), 10.0, 1.0)),
      Map("v" -> 104.0))
    assert(math.abs(pen - (4.0 / (10.0 + 1e-9)) * 5.0 * 1.0) < 1e-6)
  }

  test("S14 run-report JSON: both artifact shapes parse and carry the contract") {
    val people = Fixtures.people(spark)
    val cleaned = graft.semantic.SemanticPipeline.process(people).cleaned
    val json = RunReportJson.buildReport(people, cleaned, Nil, "2026-01-01T00:00:00")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    assert(node.path("quality_score").isNumber)
    assert(node.path("statistics").path("initial").path("rows").asLong === 6L)
    assert(node.path("statistics").path("final").path("column_stats").path("Age")
      .path("dtype").asText === "double")
    assert(node.path("summary").path("retention_rate").asDouble === 100.0)
    assert(node.path("remaining_issues").isArray && node.path("recommendations").isArray)

    val assembled = RunReportJson.assemble("people.csv", "PASS", "2026-01-01",
      6, 7, 6, 7, Map("total_actions" -> 3),
      Seq(graft.core.AuditEntry("r", "CLEAN_DATA", "WARN", 6, 6, "d")))
    val n2 = mapper.readTree(assembled)
    assert(n2.path("rows").path("raw").asLong === 6L)
    assert(n2.path("audit_trail").get(0).path("stage").asText === "CLEAN_DATA")
  }

  test("P11 templates: reference keyword lists bind the expected rules") {
    val rules = Templates.bind(Seq(
      "Email_Address", "Mobile_No", "Salary", "pincode", "PAN_id", "age", "note"))
    val ids = rules.map(_.spec.ruleId)
    assert(ids.contains("pattern_Email(Email_Address)"))
    assert(ids.contains("pattern_Phone(Mobile_No)"))
    assert(ids.contains("decimal_number(Salary)"))
    assert(ids.contains("formula(Salary)"))
    assert(ids.contains("pattern_custom(pincode)"))
    assert(ids.contains("pattern_custom(PAN_id)"))
    assert(ids.contains("whole_number(age)") && ids.contains("numeric_range(age)"))
    assert(!ids.exists(_.contains("note"))) // no keyword → no rule
    // messages match the reference UI's error_message strings
    assert(rules.find(_.spec.ruleId.startsWith("pattern_Email")).get.reason
      === "Invalid email format")
    assert(rules.find(_.spec.ruleId == "pattern_custom(pincode)").get.reason
      === "Invalid PIN code (6 digits)")
  }

  test("config ingestion: default.yaml shape drives the pipeline end-to-end") {
    val yaml =
      """schema:
        |  required_columns: [name, dept]
        |  data_types: {age: "int64"}
        |missing_values:
        |  thresholds: {row_threshold: 60.0}
        |  mandatory_columns: [name]
        |outliers: {method: "iqr", strategy: "mark"}
        |duplicates: {remove_full_row_duplicates: true, primary_key: []}
        |text_cleaning:
        |  strip_whitespace: true
        |  normalize_case: "lower"
        |  allowed_values:
        |    dept: ["it", "hr"]
        |stages:
        |  handle_outliers: {enabled: false}
        |  handle_missing: {enabled: false}
        |output_format: "parquet"
        |""".stripMargin
    val cfg = ConfigLoader.loadString(yaml)
    assert(cfg.clean.requiredColumns === Seq("name", "dept"))
    assert(cfg.clean.maxMissingRowPct === 60.0)
    assert(cfg.clean.caseMode === "lower")
    assert(cfg.clean.outlierStrategy === "mark")
    assert(cfg.clean.stageEnabled("handle_outliers") === false)
    assert(cfg.outputFormat === "parquet")
    assert(cfg.rules.map(_.spec.ruleId).toSet ===
      Set("required(name)", "allowed_values(dept)"))

    // drive the pipeline purely from the parsed config
    val df = Seq(("  Ann  ", "IT", 30), ("Bob", "Sales", 200), (null, "HR", 41))
      .toDF("name", "dept", "age")
    val pipe = new CleaningPipeline(cfg.clean)
    val (out, state) = pipe.run(df)
    assert(state !== StageState.FAIL)
    assert(out.where($"name" === "ann").count() === 1)     // trimmed + lowered
    assert(!out.columns.contains("age_is_outlier"))        // stage disabled
    // config-implied rules flag the out-of-enum dept and the missing name
    val res = ValidationEngine.validate(df, cfg.rules)
    val byRule = res.columnSummary.map(c => c.rule_id -> c.failed_count).toMap
    assert(byRule("required(name)") === 1)
    assert(byRule("allowed_values(dept)") === 3) // case-sensitive enum: IT/Sales/HR all fail
  }

  test("C17 coercion-aware imputation: numeric-median / date-median / mode by content") {
    val df = Seq(
      (Some("1"), Some("2020-01-01"), Some("a")),
      (Some("2"), None, Some("a")),
      (None, Some("2020-01-03"), None),
      (Some("3"), Some("2020-01-05"), Some("b")),
      (Some("100"), Some("2020-01-07"), Some("c")))
      .toDF("num_text", "date_text", "cat")
    val out = graft.clean.Cleaners.imputeCoercionAware(df).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.forall(t => t._1 != null && t._2 != null && t._3 != null))
    assert(out.map(_._1).contains("2.5") || out.map(_._1).contains("2.0")) // median of 1,2,3,100
    assert(out(1)._2.startsWith("2020-01")) // date median filled as ISO
    assert(out(2)._3 === "a")               // mode fill
  }

  test("EP3 semantic report JSON matches report_demo_data.json's shape") {
    val r = graft.semantic.SemanticPipeline.process(Fixtures.people(spark))
    val json = graft.semantic.SemanticPipeline.reportJson(r)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.path("detected_types").path("Email").path("type").asText === "EMAIL")
    assert(node.path("detected_types").path("Email").path("confidence").isNumber)
    // 6 issues, penalty-capped score 42.51 (breakdown pinned by the q36 oracle)
    assert(node.path("initial_quality").path("issue_count").asInt === 6)
    assert(node.path("initial_quality").path("score").path("score").asDouble === 42.51)
    assert(node.path("initial_quality").path("score").path("breakdown").size === 6)
    assert(node.path("cleaning_logs").isArray && node.path("cleaning_logs").size > 0)
    // final quality re-validates with the same rules; on this fixture the
    // score legitimately DROPS (cleaning converts serial DOBs to parseable
    // dates, exposing CROSS_DOB_AGE mismatches that were invisible before)
    val finalScore = node.path("final_quality").path("score").path("score").asDouble
    assert(finalScore >= 0.0 && finalScore <= 100.0)
    assert(node.path("final_quality").path("issue_count").asInt >= 1)
    val ops = (0 until node.path("cleaning_logs").size)
      .map(i => node.path("cleaning_logs").get(i).path("operation").asText)
    assert(ops.contains("clean_date_of_birth"))
  }

  test("S2 encoding sniffer: BOM, UTF-8 validity, latin-1 fallback") {
    import graft.io.Sources
    def tmp(bytes: Array[Byte]): String = {
      val f = java.io.File.createTempFile("enc", ".csv")
      val o = new java.io.FileOutputStream(f); o.write(bytes); o.close()
      f.getAbsolutePath
    }
    val bom = tmp(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ "a,b\n1,2\n".getBytes)
    assert(Sources.sniffEncoding(bom) === Sources.SniffedEncoding("UTF-8", 1.0))
    val utf8 = tmp("name,city\nZoé,Genève\n".getBytes("UTF-8"))
    val s8 = Sources.sniffEncoding(utf8)
    assert(s8.encoding === "UTF-8" && s8.confidence === 0.99)
    val ascii = tmp("a,b\n1,2\n".getBytes("US-ASCII"))
    assert(Sources.sniffEncoding(ascii).encoding === "UTF-8")
    val latin = tmp("name\nZoé\n".getBytes("ISO-8859-1")) // lone 0xE9 byte
    assert(Sources.sniffEncoding(latin).encoding === "ISO-8859-1")
  }

  test("SpanTextConcat equals the HOF formulation over the golden docs") {
    val docs = Fixtures.goldenDocsDf(spark)
    val hof = docs.select(concat_ws(" ",
      expr("transform(filter(spans, s -> s.text IS NOT NULL), s -> s.text)")).as("t"))
      .collect().map(_.getString(0)).toSeq
    val fast = docs.select(graft.functions.F.spanText(col("spans")).as("t"))
      .collect().map(_.getString(0)).toSeq
    assert(fast === hof)
  }

  test("C14 conflict counting + A9 duplicate-group details") {
    val df = Seq((1, "a", "a", 9), (2, "b", "x", 9), (3, null: String, "c", 8))
      .toDF("id", "v", "v_1", "n")
    val (merged, conflicts) = graft.clean.Cleaners.mergeDuplicateColumnsWithConflicts(df)
    assert(merged.columns.toSet === Set("id", "v", "n"))
    assert(conflicts("v") === 1) // only row 2 has both sides non-null and different
    val groups = graft.dedup.Dedup.keyDupGroupsDetailed(df, Seq("n"), "id")
      .collect()
    assert(groups.length === 1)
    val g = groups(0)
    assert(g.getAs[Long]("dup_count") === 2)
    assert(g.getAs[Seq[Int]]("ids") === Seq(1, 2))
  }
}
