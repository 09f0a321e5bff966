package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; local[4] keeps test
  * startup fast while still exercising parallel shuffles). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq
}

/** Physical-plan census that survives execution: recurses through AQE
  * (`AdaptiveSparkPlanExec`, query-stage leaves) and into each cached
  * relation's plan, visiting every cache once however often it is read. */
object PlanCensus {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

  /** Every node of `plan`; with `intoCaches = false` a cache read is a leaf. */
  def nodes(plan: SparkPlan, intoCaches: Boolean = true): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def go(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => go(q.plan)
      case im: InMemoryTableScanExec if intoCaches && seen.add(im.relation.cachedPlan) =>
        im +: go(im.relation.cachedPlan)
      case n => Seq(n)
    }
    go(plan)
  }

  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    nodes(plan).collect { case f: FileSourceScanExec => f }

  /** Names of the columns a scan reads. */
  def columns(s: FileSourceScanExec): Set[String] = s.output.map(_.name).toSet
}
