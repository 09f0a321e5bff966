package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.RuleSpec._
import graft.engine._
import graft.fixtures.Fixtures
import graft.rules.{BoundRule, ValidationEngine}

/**
 * End-to-end golden test (SURVEY §7.2 first slice): golden docs fixture →
 * full rule suite → exact verdicts + violation rows, asserted row-for-row,
 * plus per-row span-sequence equality (kind, text, media_ref, order) per
 * BASELINE.json `input_hint`.
 */
class GoldenEngineSpec extends SparkSpec {
  import spark.implicits._

  val rowRules = Seq(
    BoundRule(Required("doc_id")),
    BoundRule(SpanOffsetsMonotonic()),
    BoundRule(SpanFieldConsistency()),
    BoundRule(SpansNonEmpty()))

  lazy val docs = Fixtures.goldenDocsDf(spark)
  lazy val assets = Fixtures.goldenAssetsDf(spark)

  test("row-level validation: status, reasons, counts match golden") {
    val res = ValidationEngine.validate(docs, rowRules)
    assert(res.totalRows === 12)
    assert(res.failed === 7)   // null, blank, d07, d08, d09, d10, d11
    assert(res.passed === 5)
    val failedIds = res.report.filter($"_val_status" === "FAIL")
      .select($"doc_id").collect().map(_.getString(0)).toSet
    assert(failedIds === Set(null, "  ", "d07", "d08", "d09", "d10", "d11"))
    // reasons pipe-joined in rule order (reference `validation_engine.py:73-77`)
    val d10reason = res.report.filter($"doc_id" === "d10")
      .select($"_val_reason").as[String].collect().head
    assert(d10reason === "Invalid spans")
    val summary = res.columnSummary.map(s => s.rule_id -> s.failed_count).toMap
    assert(summary("required(doc_id)") === 2)
    assert(summary("span_offsets_monotonic") === 2)   // d07, d08
    assert(summary("span_field_consistency") === 2)   // d10, d11
    assert(summary("spans_non_empty") === 1)          // d09
  }

  test("full engine run: verdicts + violations match golden exactly") {
    val cfg = EngineConfig(rules = rowRules)
    val (verdicts, viols) = new ValidationRun(spark, cfg)
      .run(docs, Some(assets))

    val v = viols.select($"rule_id", $"doc_id", $"part", $"span_offset")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toSet
    val expected = Set(
      ("required(doc_id)", null, 0, -1),
      ("required(doc_id)", "  ", 1, -1),
      ("span_offsets_monotonic", "d07", 1, 1),
      ("span_offsets_monotonic", "d08", 0, 0),
      ("span_field_consistency", "d10", 0, 0),
      ("span_field_consistency", "d11", 1, 0),
      ("spans_non_empty", "d09", 1, -1),
      ("unique(doc_id)", "dup-1", 0, -1),
      ("unique(doc_id)", "dup-1", 1, -1),
      ("referential_integrity(media_ref)", "d06", 0, 0))
    assert(v === expected)

    val verd = verdicts.orderBy("part").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(verd.toSeq === Seq(
      (0, 7L, 2L, 5L, "FAIL"),    // d00, d01 pass
      (1, 5L, 0L, 5L, "FAIL")))
  }

  test("span-sequence equality: validation is read-only (kind,text,media_ref,order preserved)") {
    val res = ValidationEngine.validate(docs, rowRules)
    val got = res.report
      .select($"doc_id", $"part",
        expr("transform(spans, s -> struct(s.kind, s.text, s.media_ref))").as("seq"),
        expr("transform(spans, s -> s.offset)").as("offsets"))
      .collect()
      .map(r => (Option(r.getString(0)).getOrElse("«null»"), r.getInt(1), r.getSeq[Any](2).toList, r.getSeq[Int](3).toList))
      .sortBy(t => (t._1, t._2)).toList
    val want = Fixtures.goldenDocs
      .map(d => (Option(d.doc_id).getOrElse("«null»"), d.part,
        d.spans.map(s => org.apache.spark.sql.Row(s.kind, s.text, s.media_ref)).toList,
        d.spans.map(_.offset).toList))
      .sortBy(t => (t._1, t._2)).toList
    assert(got.map(t => (t._1, t._2, t._3.map(_.toString), t._4)) ===
           want.map(t => (t._1, t._2, t._3.map(_.toString), t._4)))
  }

  test("resume: completed partitions are skipped and verdicts unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger").toString
    val cfg = EngineConfig(rules = rowRules, ledgerDir = Some(dir), runId = "r1")
    val run = new ValidationRun(spark, cfg)
    // first attempt: only partition 0 completes (simulated mid-run kill);
    // full input is visible so global rules (uniqueness) see every partition
    run.runAndWrite(docs, Some(assets), s"$dir/out", limitParts = Some(Seq(0)))
    assert(run.completedPartitions() === Set(0))
    // resume: full input, but part 0 must be skipped
    run.runAndWrite(docs, Some(assets), s"$dir/out", resume = true)
    val verdicts = spark.read.parquet(s"$dir/out/verdicts")
    assert(verdicts.count() === 2)
    assert(verdicts.select("part").as[Int].collect().toSet === Set(0, 1))
    val failedTotal = verdicts.agg(sum("failed")).as[Long].collect().head
    assert(failedTotal === 10L)
  }

  test("limitParts prunes at the FILE level on a part-partitioned table") {
    // the input contract is an Iceberg-style part-partitioned table; the
    // engine's partFilter must reach the scan as a partition filter so a
    // resumed run lists/reads only pending partitions' files, not 10^12 docs
    val dir = java.nio.file.Files.createTempDirectory("graft-pruned").toString
    graft.fixtures.Fixtures.docs(spark, 2000, 4)
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val cfg = EngineConfig(rules = rowRules, checkUniqueness = false,
      checkReferentialIntegrity = false, persistAnnotations = false)
    val run = new ValidationRun(spark, cfg)
    val (_, viols) = run.run(docs, None, limitParts = Some(Seq(1)))
    viols.count() // finalize the adaptive plan
    val ss = PlanCensus.fileScans(viols.queryExecution.executedPlan)
    assert(ss.nonEmpty)
    ss.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"scan has no partition filters: ${s.metadata}")
      assert(s.selectedPartitions.partitionCount === 1,
        s"scan read ${s.selectedPartitions.partitionCount} of 4 partitions")
    }
  }

  test("resume does NOT trust partitions validated under a different rule set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-rh").toString
    val cfgA = EngineConfig(rules = rowRules, ledgerDir = Some(dir), runId = "r1")
    new ValidationRun(spark, cfgA)
      .runAndWrite(docs, Some(assets), s"$dir/out", limitParts = Some(Seq(0)))
    // same run id, EDITED rule set (one rule dropped): part 0 must not be
    // treated as complete — its verdicts came from a different suite
    val cfgB = EngineConfig(rules = rowRules.init, ledgerDir = Some(dir), runId = "r1")
    val runB = new ValidationRun(spark, cfgB)
    assert(runB.completedPartitions() === Set.empty)
    // while an identical rule set resumes as before
    val runA2 = new ValidationRun(spark, cfgA)
    assert(runA2.completedPartitions() === Set(0))
  }

  test("cross-run drift from ledger sketches alone: zero re-scan of the data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-d").toString
    val pq = Fixtures.docsPq(spark, 3000, 4)
    def runWith(id: String, expr: org.apache.spark.sql.Column): Unit =
      new ValidationRun(spark, EngineConfig(rules = rowRules,
        ledgerDir = Some(dir), runId = id,
        sketchExprs = Map("n_spans" -> expr)))
        .runAndWrite(pq, Some(assets), s"$dir/out-$id")
    runWith("base", size($"spans").cast("double"))
    runWith("same", size($"spans").cast("double"))
    runWith("shifted", (size($"spans") * 2 + 10).cast("double"))
    val ledger = spark.read.parquet(s"$dir/ledger")
    val quiet = graft.stats.Drift.ledgerDrift(ledger, "base", "same", "n_spans").get
    val loud = graft.stats.Drift.ledgerDrift(ledger, "base", "shifted", "n_spans").get
    assert(!quiet.ksDrifted && !quiet.chi2Drifted, quiet.toString)
    assert(loud.ksDrifted && loud.chi2Drifted, loud.toString)
    // and the drift evaluation itself never touches the docs table: the only
    // parquet it reads is the (tiny) ledger
    assert(graft.stats.Drift.ledgerDrift(ledger, "base", "missing", "n_spans").isEmpty)
    // PSI face of the same ledger sketches: stable across identical runs,
    // major on the shift — also zero re-scan
    val psiQuiet = graft.stats.Drift.ledgerPsi(ledger, "base", "same", "n_spans").get
    val psiLoud = graft.stats.Drift.ledgerPsi(ledger, "base", "shifted", "n_spans").get
    assert(psiQuiet.band === "stable" && !psiQuiet.drifted, psiQuiet.toString)
    assert(psiLoud.drifted, psiLoud.toString)
    assert(graft.stats.Drift.ledgerPsi(ledger, "base", "missing", "n_spans").isEmpty)
  }

  test("ledger carries real per-partition violation counts (r2 stubbed -1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-v").toString
    val cfg = EngineConfig(rules = rowRules, ledgerDir = Some(dir), runId = "rv")
    val run = new ValidationRun(spark, cfg)
    run.runAndWrite(docs, Some(assets), s"$dir/out")
    val got = spark.read.parquet(s"$dir/ledger")
      .select($"part", $"violations").as[(Int, Long)].collect().toMap
    // from the golden violation set: 5 rows land in each partition
    assert(got === Map(0 -> 5L, 1 -> 5L))
    // and the ledger totals equal the violations artifact row count
    val artifactRows = spark.read.parquet(s"$dir/out/violations").count()
    assert(got.values.sum === artifactRows)
  }

  test("ledger schema is stable across --sketch on/off (both map columns always present)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-s").toString
    // run 1: no sketches; run 2 (same ledger dir): KLL + HLL sketches on —
    // a mixed-schema parquet dir would break plain spark.read (ADVICE r3)
    new ValidationRun(spark, EngineConfig(rules = rowRules,
        ledgerDir = Some(dir), runId = "off"))
      .runAndWrite(docs, Some(assets), s"$dir/out1")
    new ValidationRun(spark, EngineConfig(rules = rowRules,
        ledgerDir = Some(dir), runId = "on",
        sketchExprs = Map("n_spans" -> size($"spans").cast("double")),
        hllSketchExprs = Map("doc_id" -> $"doc_id"),
        mgSketchExprs = Map("first_kind" -> try_element_at($"spans.kind", lit(1)))))
      .runAndWrite(docs, Some(assets), s"$dir/out2")
    val ledger = spark.read.parquet(s"$dir/ledger")
    assert(ledger.columns.contains("sketches") && ledger.columns.contains("hll_sketches")
      && ledger.columns.contains("mg_sketches"))
    // sketchless run: all maps null; sketched run: all populated
    assert(ledger.where($"run_id" === "off" && $"sketches".isNotNull).count() === 0)
    assert(ledger.where($"run_id" === "on" && ($"sketches".isNull ||
      $"hll_sketches".isNull || $"mg_sketches".isNull)).count() === 0)
  }

  test("MG ledger summaries: cross-run categorical drift with zero re-scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-m").toString
    val pq = Fixtures.docsPq(spark, 3000, 4)
    // the category under watch is a derived label; the "shifted" run remaps
    // the label space (mass moves between categories on the SAME data, the
    // way an upstream schema/extractor change looks to a monitor)
    def runWith(id: String, expr: org.apache.spark.sql.Column): Unit =
      new ValidationRun(spark, EngineConfig(rules = rowRules,
        ledgerDir = Some(dir), runId = id,
        mgSketchExprs = Map("bucket" -> expr)))
        .runAndWrite(pq, Some(assets), s"$dir/out-$id")
    // span counts are ~uniform on 1..6, so the base mix is small≈1/3 big≈2/3
    // and the shifted cut flips it to ≈2/3 / 1/3 — PSI ≈ 0.46, a major shift
    val lbl = when(size($"spans") <= 2, lit("small")).otherwise(lit("big"))
    runWith("base", lbl)
    runWith("same", lbl)
    runWith("shifted", when(size($"spans") <= 4, lit("small")).otherwise(lit("big")))
    val ledger = spark.read.parquet(s"$dir/ledger")
    // per-partition summaries merge to the exact category counts (exact
    // regime: 3 categories << default capacity)
    val merged = graft.stats.Drift.mergeLedgerMg(ledger, "base", "bucket").get
    assert(merged.maxError === 0L)
    val exact = pq.groupBy(lbl.as("k")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, c) => assert(merged.estimate(k) === c) }
    val quiet = graft.stats.Drift.ledgerCategoricalDrift(ledger, "base", "same", "bucket").get
    val loud = graft.stats.Drift.ledgerCategoricalDrift(ledger, "base", "shifted", "bucket").get
    assert(quiet.band === "stable" && !quiet.drifted, quiet.toString)
    assert(loud.drifted, loud.toString)
    assert(graft.stats.Drift.ledgerCategoricalDrift(ledger, "base", "missing", "bucket").isEmpty)
    // a pre-mg ledger (no mg_sketches column) degrades to None, not a crash
    assert(graft.stats.Drift.mergeLedgerMg(
      ledger.drop("mg_sketches"), "base", "bucket").isEmpty)
  }

  test("ledgerDriftAll: one call discovers every recorded sketch and verdicts all families") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-all").toString
    val pq = Fixtures.docsPq(spark, 3000, 4)
    def runWith(id: String, scale: Int, cut: Int): Unit =
      new ValidationRun(spark, EngineConfig(rules = rowRules,
        ledgerDir = Some(dir), runId = id,
        sketchExprs = Map("n_spans" -> (size($"spans") * scale).cast("double")),
        hllSketchExprs = Map("doc_id" ->
          when(size($"spans") >= scale - 1, $"doc_id")), // collapses under scale=10
        mgSketchExprs = Map("bucket" ->
          when(size($"spans") <= cut, lit("small")).otherwise(lit("big")))))
        .runAndWrite(pq, Some(assets), s"$dir/out-$id")
    runWith("base", 1, 2); runWith("same", 1, 2); runWith("shift", 10, 4)
    val ledger = graft.stats.Drift.readLedger(spark, s"$dir/ledger")
    val quiet = graft.stats.Drift.ledgerDriftAll(ledger, "base", "same")
    assert(!quiet.drifted, quiet.toString)
    assert(quiet.numeric.map(_.column) === Seq("n_spans") &&
           quiet.psi.map(_.name) === Seq("n_spans") &&
           quiet.cardinality.map(_.name) === Seq("doc_id") &&
           quiet.categorical.map(_.name) === Seq("bucket"))
    val loud = graft.stats.Drift.ledgerDriftAll(ledger, "base", "shift")
    assert(loud.drifted)
    assert(loud.numeric.exists(_.ksDrifted) && loud.cardinality.exists(_.drifted)
      && loud.categorical.exists(_.drifted), loud.toString)
    // a run absent from the ledger yields an empty (quiet) report, not a crash
    val none = graft.stats.Drift.ledgerDriftAll(ledger, "base", "missing")
    assert(!none.drifted && none.numeric.isEmpty && none.categorical.isEmpty)
  }

  test("mixed-era ledger dir: readLedger (mergeSchema) still sees columns added over time") {
    // ledger columns have been ADDED over rounds (attempt_ts, rules_hash,
    // mg_sketches); a long-lived dir mixes footers with different column
    // sets, and a PLAIN spark.read resolves its schema from one arbitrary
    // footer — potentially hiding the newer columns and silently skipping
    // drift checks that DID write summaries. Drift.readLedger is the
    // schema-evolution-safe entry point (same mode as the engine's resume).
    val work = java.nio.file.Files.createTempDirectory("graft-ledger-mx").toString
    def ledgerOf(id: String, mg: Map[String, org.apache.spark.sql.Column]) = {
      val d = s"$work/$id"
      new ValidationRun(spark, EngineConfig(rules = rowRules,
        ledgerDir = Some(d), runId = id, mgSketchExprs = mg))
        .runAndWrite(docs, Some(assets), s"$d/out")
      spark.read.parquet(s"$d/ledger")
    }
    val mixed = s"$work/mixed"
    // era 1: files written before mg_sketches existed
    ledgerOf("old", Map.empty).drop("mg_sketches").write.parquet(mixed)
    // era 2: current schema, appended to the same dir
    ledgerOf("new", Map("first_kind" -> try_element_at($"spans.kind", lit(1))))
      .write.mode("append").parquet(mixed)
    val led = graft.stats.Drift.readLedger(spark, mixed)
    assert(led.columns.contains("mg_sketches"))
    val merged = graft.stats.Drift.mergeLedgerMg(led, "new", "first_kind").get
    assert(merged.total > 0 && merged.estimate("text") > 0)
    // era-1 rows read as null summaries, not errors
    assert(led.where($"run_id" === "old" && $"mg_sketches".isNotNull).count() === 0)
  }

  test("HLL ledger sketches: per-partition registers merge to the exact distinct count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-h").toString
    val pq = Fixtures.docsPq(spark, 3000, 4)
    new ValidationRun(spark, EngineConfig(rules = rowRules,
        ledgerDir = Some(dir), runId = "h1",
        sketchExprs = Map("n_spans" -> size($"spans").cast("double")),
        hllSketchExprs = Map("doc_id" -> $"doc_id")))
      .runAndWrite(pq, Some(assets), s"$dir/out")
    val ledger = spark.read.parquet(s"$dir/ledger")
    assert(ledger.where($"run_id" === "h1").count() === 4) // one row per partition
    val merged = graft.stats.Drift.mergeLedgerHll(ledger, "h1", "doc_id").get
    val exact = pq.select(countDistinct($"doc_id")).as[Long].collect().head
    assert(math.abs(merged - exact) <= math.max(2L, (0.05 * exact).toLong),
      s"merged HLL estimate $merged vs exact $exact")
    // merge-of-per-partition-registers == one whole-table sketch (exactly):
    // register-wise max is associative and the hash is the same
    val hll = graft.stats.Sketches.hllSketch()
    val whole = pq.agg(hll(xxhash64($"doc_id")).as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(merged === graft.stats.Sketches.mergeHllSketches(Seq(whole)))
  }

  test("ledger sketch frame aggregates the persisted narrow pass (zero extra docs scans)") {
    val pq = Fixtures.docsPq(spark, 2000, 4)
    val cfg = EngineConfig(rules = rowRules,
      sketchExprs = Map("n_spans" -> size($"spans").cast("double")),
      hllSketchExprs = Map("doc_id" -> $"doc_id"))
    val run = new ValidationRun(spark, cfg)
    val (verdicts, viols) = run.run(pq, Some(Fixtures.assets(spark)))
    viols.count() // materialize the narrow cache
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val sk = run.ledgerSketchFrame().get
    val scans = sk.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l }.size
    assert(scans === 0,
      s"--sketch must ride the rule-pass scan, found $scans parquet scans:\n" +
      sk.queryExecution.optimizedPlan)
    assert(sk.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
    assert(sk.count() === 4)
    viols.unpersist(); run.unpersistAll()
  }

  test("passthroughExprs: content stats ride the rule-pass scan, text concat evaluated once") {
    val pq = Fixtures.docsPq(spark, 2000, 4)
    // the ScalingBench leg shape: span-text materialized below the rule pass,
    // three content stats riding the narrow annotation
    val prepped = pq.withColumn("__text",
      graft.functions.F.spanText($"spans"))
    val cfg = EngineConfig(rules = rowRules, passthroughExprs = Seq(
      graft.functions.F.tokenStats($"__text").as("__ts"),
      graft.functions.F.minhashSig($"__text", 8, 3, portable = false).as("__mh"),
      graft.functions.F.simhash($"__text", 32, portable = false).as("__sh")))
    val run = new ValidationRun(spark, cfg)
    val (verdicts, viols) = run.run(prepped, Some(Fixtures.assets(spark)))
    val narrow = run.lastNarrow.get
    // the narrow pass must still be ONE scan of the docs table (analyzed
    // plan: optimizedPlan is already cache-substituted to InMemoryRelation),
    // and CollapseProject must NOT inline the shared __text alias into its
    // three consumers (that would evaluate SpanTextConcat 3× per row) — the
    // InMemoryRelation's cached plan string shows the post-optimization tree
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    assert(narrow.queryExecution.analyzed.collect {
      case l: LogicalRelation => l }.size === 1)
    val concats = "spantextconcat".r
      .findAllIn(narrow.queryExecution.optimizedPlan.toString.toLowerCase).size
    assert(concats === 1,
      s"SpanTextConcat appears $concats times in the optimized plan (want 1):\n" +
      narrow.queryExecution.optimizedPlan)
    // and the content columns come back out of the cache with sane values
    viols.count() // materialize cache
    val row = narrow.select($"__ts", $"__mh", $"__sh").where($"__ts".isNotNull).head()
    assert(row.getAs[org.apache.spark.sql.Row]("__ts") != null)
    assert(row.getAs[Seq[Long]]("__mh").size === 8)
    viols.unpersist(); run.unpersistAll()
  }

  test("run() plan shape: verdicts reuse the cached rule pass (no re-scan of docs)") {
    val pq = Fixtures.docsPq(spark, 2000, 4)
    val cfg = EngineConfig(rules = rowRules)
    val run = new ValidationRun(spark, cfg)
    val (verdicts, viols) = run.run(pq, Some(Fixtures.assets(spark)))
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def parquetScans(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case l: LogicalRelation => l }.size
    // post-cache-substitution, the verdict aggregation must flow entirely
    // through the persisted narrow annotation + cached violations — any
    // LogicalRelation leaf here would be a 4th/5th scan of the docs table
    // (the r2 shape: separate totals scan + semi-join scan)
    assert(parquetScans(verdicts.queryExecution.optimizedPlan) === 0,
      verdicts.queryExecution.optimizedPlan.toString)
    assert(verdicts.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
    // the narrow annotation reads the docs table exactly once, and on a
    // full run that is the ONLY docs read: r6 moved BOTH uniqueness passes
    // (key scan + violation semi-join probe) AND the RI media-ref
    // extraction onto the narrow cache, so the whole suite decodes the
    // wide docs table ONCE, not four times (r5: rule pass + 2 uniqueness
    // scans + RI re-decode of the spans column)
    assert(run.lastNarrow.isDefined)
    assert(parquetScans(run.lastNarrow.get.queryExecution.analyzed) === 1)
    // physical scan census of the EXECUTED verdicts plan, through the
    // cached violations and the narrow cache: the narrow cache's rule pass
    // must be the only parquet read (uniqueness AND referential integrity)
    verdicts.collect()
    val scans = PlanCensus.fileScans(verdicts.queryExecution.executedPlan)
    assert(scans.size === 1, scans.map(_.simpleString(200)).mkString("\n"))
    // the census visits each cache once, so it cannot tell whether the
    // verdict aggregation and the artifact write share one violations
    // evaluation: pin the violations cache itself
    assert(viols.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "violations should be cached")
    viols.unpersist(); run.unpersistAll()
  }

  test("verdicts are one aggregation: no join outside the cached violations, two exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val run = new ValidationRun(spark, EngineConfig(rules = rowRules))
    val (verdicts, _) = run.run(Fixtures.docsPq(spark, 2000, 4), Some(Fixtures.assets(spark)))
    verdicts.collect()
    val plan = verdicts.queryExecution.executedPlan
    val own = PlanCensus.nodes(plan, intoCaches = false)
    assert(own.collect { case j: BaseJoinExec => j }.isEmpty, plan.toString)
    // one exchange per aggregation: by (doc_id key, part), then by part
    assert(own.collect { case e: ShuffleExchangeLike => e }.size === 2, plan.toString)
    run.unpersistAll()
  }

  test("verdicts at the edges equal the oracle's shared-fate rule per (part, doc_id)") {
    // q30: a row fails when any row with its (part, coalesce(doc_id, NUL))
    // key has a violation. Edges: an id duplicated inside one part, null
    // ids in two parts, rows whose part is null, an id in two parts.
    val ok = Seq(Span("text", "x", null, 0))
    val empty = Seq.empty[Span]
    val edge = Seq[(String, Seq[Span], Option[Int])](
      ("dup", ok, Some(0)), ("dup", empty, Some(0)), ("solo", ok, Some(0)),
      (null, ok, Some(0)), (null, empty, Some(0)), (null, ok, Some(1)),
      ("x1", ok, Some(1)), ("x1", ok, Some(2)), ("y", empty, Some(2)), ("z", ok, Some(2)),
      ("np", ok, None), ("np", empty, None), ("np2", ok, None))
      .toDF("doc_id", "spans", "part")
    def oracle(rules: Seq[BoundRule], uniq: Boolean): Seq[(Any, Long, Long, Long, String)] = {
      import org.apache.spark.sql.expressions.Window
      val dup = if (!uniq) lit(false)
        else $"doc_id".isNotNull && count(lit(1)).over(Window.partitionBy($"doc_id")) > 1
      ValidationEngine.validate(edge, rules).report
        .withColumn("bad", $"_val_status" === "FAIL" || dup)
        .withColumn("gv", max($"bad").over(
          Window.partitionBy($"part", coalesce($"doc_id", lit("\u0000")))))
        .groupBy($"part").agg(count(lit(1)).as("t"), sum($"gv".cast("long")).as("f"))
        .collect().map(r => (r.get(0), r.getLong(1), r.getLong(1) - r.getLong(2),
          r.getLong(2), if (r.getLong(2) > 0) "FAIL" else "PASS")).toSeq
    }
    val suites = Seq(rowRules -> true, rowRules.tail -> false) // tail: no Required
    for ((rules, uniq) <- suites) {
      val run = new ValidationRun(spark, EngineConfig(rules = rules, checkUniqueness = uniq))
      val (verdicts, _) = run.run(edge)
      val got = verdicts.select("part", "total_rows", "passed", "failed", "status")
        .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSeq
      val want = oracle(rules, uniq)
      assert(got.toSet === want.toSet, s"uniq=$uniq")
      // the null part is a verdict group of its own, and its "np" pair
      // fails together, as in q30
      assert(got.exists(v => v._1 == null && v._4 >= 2), got.toString)
      run.unpersistAll()
    }
    // without Required and uniqueness, shared fate fails rows that carry
    // no violation of their own: "dup", the part-0 null id and "np"
    val lone = ValidationEngine.validate(edge, rowRules.tail).failed
    assert(oracle(rowRules.tail, uniq = false).map(_._4).sum === lone + 3)
  }

  test("runAndWrite never changes the session's partitionOverwriteMode, fresh or resumed") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "spark.sql.sources.partitionOverwriteMode"
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // a job's properties carry the session's SQL confs as they were when
    // the job was submitted ("" = unset)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(e.jobId, Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse(""))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-overwrite").toString
    val cfg = EngineConfig(rules = rowRules, ledgerDir = Some(s"$dir/l"), runId = "ow")
    val before = spark.conf.getOption(key)
    val group = s"overwrite-${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "overwrite-mode probe")
    try {
      new ValidationRun(spark, cfg.copy(ledgerDir = None)).runAndWrite(docs, Some(assets), s"$dir/fresh")
      val run = new ValidationRun(spark, cfg)
      run.runAndWrite(docs, Some(assets), s"$dir/out", limitParts = Some(Seq(0)))
      run.runAndWrite(docs, Some(assets), s"$dir/out", resume = true)
    } finally sc.clearJobGroup()
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30000000000L
    while (!ids.forall(seen.containsKey) && System.nanoTime() < deadline) Thread.sleep(20)
    sc.removeSparkListener(listener)
    assert(ids.length > 10 && ids.forall(seen.containsKey))
    val modes = ids.map(seen.get).distinct
    assert(modes.length === 1, modes.mkString(", "))
    assert(spark.conf.getOption(key) === before)
    // the writes still took their modes: the resume replaced only part 1
    for (out <- Seq("fresh", "out"))
      assert(spark.read.parquet(s"$dir/$out/verdicts").select("part").as[Int]
        .collect().toSet === Set(0, 1), out)
  }

  test("rulesHash changes when only a rule PARAMETER changes (same ruleId)") {
    // ADVICE r4: ids like numeric_range(x) omit their bounds, so a
    // parameter-only edit must still flip the fingerprint
    def hashOf(rs: Seq[BoundRule]) =
      new ValidationRun(spark, EngineConfig(rules = rs)).rulesHash
    val base = Seq(BoundRule(NumericRange("x", 0, 10)),
                   BoundRule(Pattern("y", "^a+$", "custom")))
    assert(hashOf(base) === hashOf(base)) // deterministic
    assert(hashOf(Seq(BoundRule(NumericRange("x", 0, 99)), base(1))) !== hashOf(base))
    assert(hashOf(Seq(base(0), BoundRule(Pattern("y", "^b+$", "custom")))) !== hashOf(base))
    assert(hashOf(Seq(BoundRule(Formula("x", "x > 0")))) !==
           hashOf(Seq(BoundRule(Formula("x", "x > 1")))))
    assert(hashOf(Seq(BoundRule(AllowedValues("x", Seq("a"))))) !==
           hashOf(Seq(BoundRule(AllowedValues("x", Seq("a", "b"))))))
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2026-06-01 00:00:00")
    assert(hashOf(Seq(BoundRule(NoFutureDate("d", ts1)))) !==
           hashOf(Seq(BoundRule(NoFutureDate("d", ts2)))))
  }

  test("rulesHash is pinned: ledgers written by earlier versions stay resumable") {
    val ts = new java.sql.Timestamp(1767225600000L) // 2026-01-01T00:00:00Z
    val rules = Seq(BoundRule(Required("doc_id")), BoundRule(NoFutureDate("created_at", ts)),
      BoundRule(SpanOffsetsMonotonic()),
      BoundRule(NumericRange("score", 0, 1), Some("score out of range")))
    def hashOf(uniq: Boolean) = new ValidationRun(spark,
      EngineConfig(rules = rules, checkUniqueness = uniq)).rulesHash
    assert(hashOf(true) === "27691aadd0a1da9")
    assert(hashOf(false) === "f1125722057a42d")
  }

  test("the engine rejects Unique on any column but doc_id") {
    val ex = intercept[IllegalArgumentException] {
      new ValidationRun(spark, EngineConfig(rules = rowRules :+ BoundRule(Unique("part"))))
    }
    assert(ex.getMessage.contains("unique(part)"))
    new ValidationRun(spark, EngineConfig(rules = rowRules :+ BoundRule(Unique("doc_id"))))
  }

  test("unpersistAll releases the narrow frame and the violations run() cached") {
    val run = new ValidationRun(spark, EngineConfig(rules = rowRules))
    val (_, viols) = run.run(docs, Some(assets))
    viols.count()
    val narrow = run.lastNarrow.get
    import org.apache.spark.storage.StorageLevel.NONE
    assert(viols.storageLevel != NONE && narrow.storageLevel != NONE)
    run.unpersistAll()
    assert(viols.storageLevel === NONE && narrow.storageLevel === NONE)
  }

  test("ledger latest-attempt wins: re-validated partitions neither double-weight sketches nor resurrect stale trust") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-la").toString
    val pq = Fixtures.docsPq(spark, 3000, 4)
    val cfgA = EngineConfig(rules = rowRules, ledgerDir = Some(dir), runId = "r1",
      sketchExprs = Map("n_spans" -> size($"spans").cast("double")))
    new ValidationRun(spark, cfgA).runAndWrite(pq, Some(assets), s"$dir/out")
    // rule edit between attempts: resume re-validates EVERY partition under
    // suite B (hash mismatch), appending a second ledger row per partition
    val cfgB = cfgA.copy(rules = rowRules.init)
    new ValidationRun(spark, cfgB).runAndWrite(pq, Some(assets), s"$dir/out",
      resume = true)
    val ledger = spark.read.parquet(s"$dir/ledger")
    assert(ledger.where($"run_id" === "r1").count() === 8) // 4 parts × 2 attempts
    // ADVICE r4: the artifacts on disk were last rewritten under suite B —
    // a resume under suite A must NOT trust its own (stale) matching rows…
    assert(new ValidationRun(spark, cfgA).completedPartitions() === Set.empty)
    // …while suite B sees all partitions complete
    assert(new ValidationRun(spark, cfgB).completedPartitions() === Set(0, 1, 2, 3))
    // and sketch merges reduce to the latest attempt per partition: the
    // merged KLL count equals the table size, not 2× it
    val merged = graft.stats.Drift.mergeLedgerSketches(ledger, "r1", "n_spans").get
    assert(merged.count === 3000L, s"double-weighted merge: ${merged.count}")
  }

  test("attempt ordering survives a wall clock stepping BACKWARD between attempts") {
    // scenario: attempt 1 runs with a FAST clock (simulated by rewriting its
    // ledger rows to a far-future attempt_ts), the clock is then stepped
    // back, and attempt 2 re-validates under an edited suite. The newer
    // attempt must still win the latest-attempt reduction — runAndWrite
    // floors each attempt's ts at 1 + the run's max recorded ts.
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-clk").toString
    val pq = Fixtures.docsPq(spark, 1500, 2)
    val cfgA = EngineConfig(rules = rowRules, ledgerDir = Some(dir), runId = "r1")
    new ValidationRun(spark, cfgA).runAndWrite(pq, Some(assets), s"$dir/out")
    // simulate attempt 1 having been stamped by a clock 1h in the future
    val future = System.currentTimeMillis() + 3600L * 1000
    val bumped = spark.read.parquet(s"$dir/ledger")
      .withColumn("attempt_ts", lit(future)).collect()
    val schema = spark.read.parquet(s"$dir/ledger").schema
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(bumped.toSeq).asJava), schema)
      .write.mode("overwrite").parquet(s"$dir/ledger")
    // attempt 2 under an EDITED suite rewrites the artifacts
    val cfgB = cfgA.copy(rules = rowRules.init)
    new ValidationRun(spark, cfgB).runAndWrite(pq, Some(assets), s"$dir/out",
      resume = true)
    val ledger = spark.read.parquet(s"$dir/ledger")
    val maxB = ledger.agg(org.apache.spark.sql.functions.max($"attempt_ts"))
      .head().getLong(0)
    assert(maxB > future, s"attempt 2 ts $maxB not floored above $future")
    // the dangerous direction: a resume under suite A must NOT trust the
    // stale future-stamped rows (the artifacts on disk are suite B's)
    assert(new ValidationRun(spark, cfgA).completedPartitions() === Set.empty)
    assert(new ValidationRun(spark, cfgB).completedPartitions() === Set(0, 1))
  }

  test("cross-run HLL drift from the ledger: quiet on same data, fires on a cardinality collapse") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger-hd").toString
    val pq = Fixtures.docsPq(spark, 3000, 4)
    def runWith(id: String, e: org.apache.spark.sql.Column): Unit =
      new ValidationRun(spark, EngineConfig(rules = rowRules,
        ledgerDir = Some(dir), runId = id,
        hllSketchExprs = Map("k" -> e)))
        .runAndWrite(pq, Some(assets), s"$dir/out-$id")
    runWith("base", $"doc_id")
    runWith("same", $"doc_id")
    runWith("low", substring($"doc_id", 1, 5)) // ~2.9k distinct → ~15
    val ledger = spark.read.parquet(s"$dir/ledger")
    val quiet = graft.stats.Drift.ledgerHllDrift(ledger, "base", "same", "k").get
    assert(!quiet.drifted, quiet.toString)
    val loud = graft.stats.Drift.ledgerHllDrift(ledger, "base", "low", "k").get
    assert(loud.drifted && loud.countB < loud.countA / 10, loud.toString)
    assert(graft.stats.Drift.ledgerHllDrift(ledger, "base", "missing", "k").isEmpty)
  }

  test("strict mode drops failing rows (reference :88-90)") {
    val res = ValidationEngine.validate(docs, rowRules, strictMode = true)
    assert(res.report.count() === 5)
    assert(res.report.filter($"_val_status" === "FAIL").count() === 0)
  }

  test("duplicateKeys plans exactly one shuffle (one hash-aggregate, no salt level)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val dups = UniquenessCheck.duplicateKeys(Fixtures.docsPq(spark, 2000, 4), "doc_id")
    val shuffles = PlanCensus.nodes(dups.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size === 1, dups.queryExecution.executedPlan.toString)
    // the golden key set: "dup-1" twice; null and blank ids are not dups
    assert(UniquenessCheck.duplicateKeys(docs, "doc_id").as[(String, Long)]
      .collect().toSeq === Seq(("dup-1", 2L)))
  }

  test("source table: where uniqueness and RI read from, per run shape and key type") {
    val work = java.nio.file.Files.createTempDirectory("graft-sources").toString
    val pq = Fixtures.docsPq(spark, 2000, 4)
    val keys = Seq("string doc_id" -> pq, "long doc_id" -> pq.withColumn("doc_id", xxhash64($"doc_id")))
    val cfg = EngineConfig(rules = rowRules)
    // (id-only parquet scans, spans decodes besides the rule pass's). A read
    // of the persisted narrow cache is no scan; uniqueness off the docs
    // table is a key scan + a probe. RI always reads the narrow frame.
    val shapes = Seq[(String, Boolean => (Int, Int), (DataFrame, ValidationRun) => (DataFrame, DataFrame))](
      ("full run", str => if (str) (0, 0) else (2, 0), (d, r) => r.run(d, Some(assets))),
      // unpersisted narrow reads are column-pruned scans: the uniqueness key
      // scan, the semi-join probe and the verdict aggregation read ids only
      // (from narrow or, for a non-string key, the docs table); RI decodes
      // spans once more
      ("full run, unpersisted", _ => (3, 1), (d, _) =>
        new ValidationRun(spark, cfg.copy(persistAnnotations = false)).run(d, Some(assets))),
      ("resume", _ => (2, 0), (d, r) => {
        val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(work), "r").toString
        val runL = new ValidationRun(spark, cfg.copy(ledgerDir = Some(dir)))
        runL.runAndWrite(d, Some(assets), s"$dir/out", limitParts = Some(Seq(0)))
        runL.run(d, Some(assets), resume = true)
      }),
      ("limitParts", _ => (2, 0), (d, r) => r.run(d, Some(assets), limitParts = Some(Seq(1, 2)))),
      ("passthroughs", _ => (2, 0), (d, _) =>
        new ValidationRun(spark, cfg.copy(passthroughExprs = Seq(size($"spans").as("__n"))))
          .run(d, Some(assets))))
    for ((shape, expected, go) <- shapes; (keyName, d) <- keys) {
      val (verdicts, _) = go(d, new ValidationRun(spark, cfg))
      verdicts.collect()
      val scans = PlanCensus.fileScans(verdicts.queryExecution.executedPlan)
      val (spans, idOnly) = scans.partition(s => PlanCensus.columns(s)("spans"))
      val census = s"$shape × $keyName:\n" + scans.map(_.simpleString(200)).mkString("\n")
      assert((idOnly.size, spans.size - 1) === expected(keyName.startsWith("string")), census)
      idOnly.foreach(s => assert(PlanCensus.columns(s).subsetOf(Set("doc_id", "part")), census))
      // drop every cache: a narrow frame left persisted by one row would be
      // substituted into the next row's equal plan
      spark.catalog.clearCache()
    }
  }

  test("persistAnnotations=false writes the same ledger rows as true") {
    val pq = Fixtures.docsPq(spark, 3000, 4)
    def ledger(persist: Boolean): Map[Int, org.apache.spark.sql.Row] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-ledger-p").toString
      new ValidationRun(spark, EngineConfig(rules = rowRules, ledgerDir = Some(dir),
          runId = "p", persistAnnotations = persist,
          sketchExprs = Map("n_spans" -> size($"spans").cast("double")),
          hllSketchExprs = Map("doc_id" -> $"doc_id"),
          mgSketchExprs = Map("first_kind" -> try_element_at($"spans.kind", lit(1)))))
        .runAndWrite(pq, Some(assets), s"$dir/out")
      spark.read.parquet(s"$dir/ledger").collect()
        .map(r => r.getAs[Int]("part") -> r).toMap
    }
    def sketches(r: org.apache.spark.sql.Row, c: String) =
      r.getMap[String, Array[Byte]](r.fieldIndex(c)).toMap
    val (cached, pruned) = (ledger(true), ledger(false))
    assert(cached.keySet === Set(0, 1, 2, 3) && pruned.keySet === cached.keySet)
    for ((p, a) <- cached; b = pruned(p)) {
      for (c <- Seq("status", "total_rows", "failed_rows", "violations"))
        assert(a.getAs[Any](c) === b.getAs[Any](c), s"part $p $c")
      assert(sketches(a, "hll_sketches").view.mapValues(_.toSeq).toMap ===
             sketches(b, "hll_sketches").view.mapValues(_.toSeq).toMap)
      import graft.stats.Sketches.{KllSketch, MgSketch}
      assert(sketches(a, "sketches").view.mapValues(KllSketch.fromBytes(_).count).toMap ===
             sketches(b, "sketches").view.mapValues(KllSketch.fromBytes(_).count).toMap)
      assert(sketches(a, "mg_sketches").view.mapValues(MgSketch.fromBytes(_).total).toMap ===
             sketches(b, "mg_sketches").view.mapValues(MgSketch.fromBytes(_).total).toMap)
    }
  }
}
