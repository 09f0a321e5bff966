package graft

import org.apache.spark.sql.functions._
import graft.clean.{CleanConfig, CleaningPipeline}
import graft.stats.{Metrics, Profiler}

/**
 * Plan-shape guards (VERDICT r01 "batch the per-column scans"): the
 * per-column stat passes must stay O(1) Spark jobs, not O(columns). Jobs are
 * counted via job groups + statusTracker — a listener-free, race-free count.
 */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  private def jobs(body: => Unit): Int = {
    val group = s"jc-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "job-count probe")
    try body finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  private val wide = (1 to 200).map(i =>
    (i, i * 2.0, i * 3.0, i * 5.0, s"s$i", if (i % 3 == 0) "yes" else "no",
     s"2024-01-${i % 28 + 1}"))
    .toDF("a", "b", "c", "d", "s1", "s2", "s3")

  test("detectTypes: one sample + one agg, not 3 jobs per string column") {
    val pipe = new CleaningPipeline(CleanConfig())
    val n = jobs { pipe.detectTypes(wide) }
    assert(n <= 3, s"detectTypes ran $n jobs (3 string cols would cost ~9 in the per-column shape)")
  }

  test("correlationPairs: all 6 pairs in one agg pass") {
    val n = jobs { Profiler.correlationPairs(wide) }
    assert(n <= 2, s"correlationPairs ran $n jobs for 6 pairs")
  }

  test("Metrics.accuracy: one agg over the join, not one per shared column") {
    // AQE splits the join into a constant few jobs; the per-column shape
    // would add ~3 jobs PER shared column on top
    val ref = wide.select($"a", ($"b" + 1).as("b"), $"c", $"d")
    val n = jobs { Metrics.accuracy(wide, ref, "a") }
    assert(n <= 4, s"accuracy ran $n jobs for 3 shared columns")
  }

  test("Metrics.uniqueness: HLL path avoids the Expand multi-distinct plan") {
    // N exact countDistincts in one agg compile to Expand (input ×N rows);
    // the approx_count_distinct default is a plain partial hash-agg
    val exactAggs = wide.columns.map(c => countDistinct(col(c)))
    val exactPlan = wide.agg(exactAggs.head, exactAggs.tail: _*)
      .queryExecution.optimizedPlan.toString
    assert(exactPlan.contains("Expand"), "sanity: exact multi-distinct should Expand")
    val hllAggs = wide.columns.map(c => approx_count_distinct(col(c)))
    val hllPlan = wide.agg(hllAggs.head, hllAggs.tail: _*)
      .queryExecution.optimizedPlan.toString
    assert(!hllPlan.contains("Expand"), "HLL distinct must not Expand")
    val n = jobs { Metrics.uniqueness(wide) }
    assert(n <= 6, s"uniqueness ran $n jobs (should be 2 aggs + AQE stages)")
  }

  test("semantic Detector.detectTypes: one full-table card agg + one sampled rate agg") {
    // r4 shape: job 1 = count + all approx_count_distinct in ONE wide agg
    // (reference-faithful full-column cardinality ratio, ADVICE r3), job 2 =
    // seeded-sample rate agg; r2 ran 3 (count, sample agg, card agg)
    // AQE stages each agg action as 2 jobs → 4 total for 2 aggs; the guard
    // is that the count never grows with column count (7 cols here)
    val n = jobs { graft.semantic.Detector.detectTypes(wide) }
    assert(n <= 4, s"Detector.detectTypes ran $n jobs (expected 2 agg actions)")
    val n2 = jobs { graft.semantic.Detector.detectTypes(wide.select($"a", $"s1")) }
    assert(n === n2, s"job count grew with columns: $n2 (2 cols) vs $n (7 cols)")
  }

  test("SemanticValidators.validate: counts AND examples in one agg job") {
    val people = graft.fixtures.Fixtures.people(spark)
    val tm = graft.semantic.Detector.detectTypes(people)
    val n = jobs { graft.semantic.SemanticValidators.validate(people, tm,
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00")) }
    assert(n <= 2, s"validate ran $n jobs (r2 launched one examples job per flagged issue)")
  }

  test("Profiler.modes: all columns in one melted agg, not one job per column") {
    val n = jobs { Profiler.modes(wide, Seq("s1", "s2", "s3")) }
    assert(n <= 3, s"modes ran $n jobs for 3 columns (per-column shape is ~2 jobs each)")
  }

  test("Drift.checkMany: job count independent of column count (one wide agg per side)") {
    val base = wide.select($"b", $"c", $"d")
    val cur = wide.select(($"b" * 1.1).as("b"), $"c", ($"d" + 5).as("d"))
    // AQE stages an ObjectHashAggregate action as 2 jobs, so the absolute
    // count is 4 (2 per side); the guard is that it does NOT grow with N —
    // the r3 per-column shape would be ~4 jobs PER column
    val n1 = jobs { graft.stats.Drift.checkMany(base, cur, Seq("b")) }
    val n3 = jobs { graft.stats.Drift.checkMany(base, cur, Seq("b", "c", "d")) }
    assert(n3 === n1, s"checkMany ran $n3 jobs for 3 columns vs $n1 for 1")
    assert(n3 <= 4, s"checkMany ran $n3 jobs (expected 2 agg actions)")
  }

  test("validate-shaped engine run: the violations read the narrow cache once") {
    import graft.core.RuleSpec._
    import graft.engine.{EngineConfig, ValidationRun}
    import graft.rules.BoundRule
    val rules = Seq(BoundRule(Required("doc_id")), BoundRule(SpanOffsetsMonotonic()),
      BoundRule(SpanFieldConsistency()), BoundRule(SpansNonEmpty()))
    val docs = graft.fixtures.Fixtures.docsPq(spark, 2000, 4)
    val assets = graft.fixtures.Fixtures.assets(spark)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val run = new ValidationRun(spark, EngineConfig(rules))
    val n = jobs {
      val (verdicts, viols) = run.run(docs, Some(assets))
      noop(viols)
      noop(verdicts)
    }
    run.unpersistAll()
    // AQE gives each read of a cache its own table-cache stage job, so a
    // second read of the narrow frame for the RI refs would make this 11
    assert(n === 10, s"run + two noops ran $n jobs")
  }
}
