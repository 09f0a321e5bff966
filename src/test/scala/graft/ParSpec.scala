package graft

import org.apache.spark.{JobExecutionStatus, TaskContext}

/** [[Par]]: branch properties, failure cancellation, discarded branches,
  * nesting, and no thread left behind. */
class ParSpec extends SparkSpec {
  private def sc = spark.sparkContext

  private def liveParThreads: Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-par-"))
  }

  /** A job whose tasks run until the job is cancelled (at most 60 s). */
  private def blockingJob(): Long = sc.parallelize(1 to 2, 2).map { i =>
    val t0 = System.nanoTime()
    while (!TaskContext.get().isInterrupted() && System.nanoTime() - t0 < 60e9)
      Thread.sleep(10)
    i
  }.count()

  private def jobStatuses(group: String): Seq[JobExecutionStatus] =
    sc.statusTracker.getJobIdsForGroup(group).toSeq
      .flatMap(sc.statusTracker.getJobInfo).map(_.status)

  private def awaitRunningJob(group: String): Unit = {
    val t0 = System.nanoTime()
    while (!jobStatuses(group).contains(JobExecutionStatus.RUNNING)) {
      assert(System.nanoTime() - t0 < 30e9, "the blocking job never started")
      Thread.sleep(10)
    }
  }

  /** Run `body` under a fresh job group; returns its result, the group's
    * job statuses and the wall seconds it took. */
  private def inGroup[A](body: String => A): (A, Seq[JobExecutionStatus], Double) = {
    val group = s"par-${System.nanoTime()}"
    sc.setJobGroup(group, "Par probe")
    val t0 = System.nanoTime()
    val a = try body(group) finally sc.clearJobGroup()
    val secs = (System.nanoTime() - t0) / 1e9
    // the status tracker learns of a job's end from the listener bus, a
    // little after the job's waiter returned
    while (jobStatuses(group).contains(JobExecutionStatus.RUNNING) &&
           System.nanoTime() - t0 < 30e9) Thread.sleep(10)
    (a, jobStatuses(group), secs)
  }

  test("branches carry the caller's job group and tags plus one tag of their own") {
    sc.addJobTag("caller-tag")
    val (((tagsA, groupA), (tagsB, _)), _, _) = try inGroup { g =>
      Par((sc.getJobTags(), sc.getLocalProperty("spark.jobGroup.id")),
          (sc.getJobTags(), sc.getLocalProperty("spark.jobGroup.id")))
    } finally sc.removeJobTag("caller-tag")
    assert(groupA.startsWith("par-"))
    assert(tagsA.contains("caller-tag") && tagsB.contains("caller-tag"))
    val own = (tagsA ++ tagsB).filter(_.startsWith("graft-par-"))
    assert(own.size === 2 && tagsA.count(_.startsWith("graft-par-")) === 1)
    assert(!sc.getJobTags().exists(_.startsWith("graft-par-")))
  }

  test("the first failure cancels the sibling's running job and is rethrown") {
    val boom = new IllegalStateException("boom")
    val (thrown, statuses, secs) = inGroup { g =>
      intercept[IllegalStateException] {
        Par(blockingJob(), { awaitRunningJob(g); throw boom })
      }
    }
    assert(thrown eq boom)
    assert(statuses.nonEmpty && statuses.forall(_ == JobExecutionStatus.FAILED), statuses)
    assert(secs < 30, s"sibling was not cancelled: $secs s")
    assert(liveParThreads.isEmpty)
  }

  test("a discarded branch's running job is cancelled and its outcome ignored") {
    val (r, statuses, secs) = inGroup { g =>
      Par.scope { par =>
        val speculative = par.fork(blockingJob())
        awaitRunningJob(g)
        speculative.cancel()
        42
      }
    }
    assert(r === 42)
    assert(statuses === Seq(JobExecutionStatus.FAILED))
    assert(secs < 30, s"discarded branch was not cancelled: $secs s")
    assert(liveParThreads.isEmpty)
  }

  test("nested calls complete and leave no thread behind") {
    val ((a, b), (c, d)) = Par(
      Par(spark.range(10).count(), spark.range(20).count()),
      Par(spark.range(30).count(), spark.range(40).count()))
    assert(Seq(a, b, c, d) === Seq(10L, 20L, 30L, 40L))
    // qualityReport's branches run Metrics.uniqueness, itself a Par call
    val (_, score) = graft.stats.Metrics.qualityReport(
      spark.range(100).selectExpr("id", "id % 7 as k"))
    assert(score > 0)
    assert(liveParThreads.isEmpty)
  }
}
