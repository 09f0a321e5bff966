package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished span: a named interval of the benchmark's own code around a
  * call into a layer. `start`/`end` are seconds since the tracer's origin;
  * `fields` holds the measured and attributed figures. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      start: Double, end: Double,
                      fields: mutable.LinkedHashMap[String, Double])

/** In-memory span recorder plus the Spark listener that attributes task
  * metrics to spans.
  *
  * Each open span adds a job tag (`pb-<id>`) to the calling thread, so every
  * job the span's body submits from that thread carries the tags of the span
  * and all its ancestors. Jobs submitted from pool threads (the engine's
  * Futures) may carry no tag, or a stale tag inherited when the pool thread
  * was created; such jobs are attributed to the innermost span whose interval
  * contains the job's submission time instead. Attribution is inclusive: a
  * job counted in a span is also counted in every ancestor.
  *
  * Figures per span: `s` wall, `gc_s` process GC time, and from the task
  * metrics of attributed jobs `cpu_s`, `in_mb`, `shuffle_mb` (read + write),
  * `spill_mb` (disk), `out_mb`, `jobs` and `idle_frac` (1 - task run time /
  * (wall x cores)). `trace_overhead_frac` is the time the tracer itself
  * spent on the span (its listener handlers for the attributed jobs plus
  * its own bookkeeping) as a share of the span's wall time. */
final class Tracer(sc: SparkContext, trace: String, cores: Int) extends SparkListener {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()

  private final class JobRec(val submitMs: Long, val tags: Set[String]) {
    var cpuNs, runMs, inB, shB, spillB, outB, handlerNs = 0L
    @volatile var ended = false
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val j = new JobRec(e.time, tags)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
    j.handlerNs += System.nanoTime() - t0
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.ended = true)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.inB += m.inputMetrics.bytesRead
      j.shB += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillB += m.diskBytesSpilled
      j.outB += m.outputMetrics.bytesWritten
      j.handlerNs += System.nanoTime() - t0
    }
  }

  private final class Open(val id: Int, val parent: Int, val name: String,
                           val startNs: Long, val gc0Ms: Long) {
    val fields = mutable.LinkedHashMap.empty[String, Double]
    var ownNs = 0L
  }
  private var nextId = 1
  private var stack = List.empty[Open]
  private val done = mutable.ArrayBuffer.empty[(Open, Long, Long)]

  /** Runs `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val o = new Open(nextId, stack.headOption.map(_.id).getOrElse(0), name,
      System.nanoTime(), Tracer.gcMs)
    nextId += 1
    stack = o :: stack
    sc.addJobTag(tag(o.id))
    val bodyStart = System.nanoTime()
    try body
    finally {
      val bodyEnd = System.nanoTime()
      sc.removeJobTag(tag(o.id))
      stack = stack.tail
      val endNs = System.nanoTime()
      o.ownNs += (bodyStart - o.startNs) + (endNs - bodyEnd)
      stack.headOption.foreach(_.ownNs += o.ownNs)
      done += ((o, endNs, Tracer.gcMs))
    }
  }

  /** Records an extra figure on the innermost open span. */
  def set(field: String, value: Double): Unit =
    stack.headOption.foreach(_.fields(field) = value)

  private def tag(id: Int) = s"pb-$id"
  private def sec(ns: Long) = (ns - originNs) / 1e9
  private def epochMs(ns: Long) = originMs + (ns - originNs) / 1000000

  /** Waits until the listener bus has delivered the end of every job it saw
    * start, and no new job arrived for a short while. */
  def drain(timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stableSince = System.currentTimeMillis()
    var lastSeen = -1
    while (System.currentTimeMillis() < deadline &&
        (lastSeen != jobs.size || System.currentTimeMillis() - stableSince < 500 ||
         jobs.values.asScala.exists(!_.ended))) {
      if (lastSeen != jobs.size) { lastSeen = jobs.size; stableSince = System.currentTimeMillis() }
      Thread.sleep(50)
    }
  }

  /** Finished spans with job-attributed figures; call after [[drain]]. */
  def spans(): Seq[Span] = {
    val byId = done.map { case (o, endNs, gc1) => o.id -> (o, endNs, gc1) }.toMap
    def ancestors(id: Int): List[Int] =
      if (id == 0) Nil else id :: ancestors(byId(id)._1.parent)
    def depth(id: Int) = ancestors(id).size
    val intervals = done.map { case (o, endNs, _) =>
      (o.id, epochMs(o.startNs), epochMs(endNs)) }
    def innermostAt(ms: Long, among: Iterable[(Int, Long, Long)]): Option[Int] =
      among.filter { case (_, s, e) => s <= ms && ms <= e }.map(_._1)
        .maxByOption(depth)
    val agg = mutable.Map.empty[Int, Array[Long]]
    jobs.values.asScala.foreach { j =>
      val tagged = intervals.filter { case (id, _, _) => j.tags.contains(tag(id)) }
      val owner = innermostAt(j.submitMs, tagged).orElse(innermostAt(j.submitMs, intervals))
      owner.foreach { id =>
        ancestors(id).foreach { a =>
          val s = agg.getOrElseUpdate(a, new Array[Long](8))
          s(0) += j.cpuNs; s(1) += j.runMs; s(2) += j.inB; s(3) += j.shB
          s(4) += j.spillB; s(5) += j.outB; s(6) += 1; s(7) += j.handlerNs
        }
      }
    }
    done.toSeq.map { case (o, endNs, gc1) =>
      val wall = (endNs - o.startNs) / 1e9
      val s = agg.getOrElse(o.id, new Array[Long](8))
      val f = mutable.LinkedHashMap[String, Double](
        "s" -> wall, "cpu_s" -> s(0) / 1e9, "gc_s" -> (gc1 - o.gc0Ms) / 1e3,
        "in_mb" -> s(2) / 1e6, "shuffle_mb" -> s(3) / 1e6, "spill_mb" -> s(4) / 1e6,
        "out_mb" -> s(5) / 1e6, "jobs" -> s(6).toDouble,
        "idle_frac" -> (1.0 - s(1) / 1e3 / (wall * cores)),
        "trace_overhead_frac" -> (s(7) + o.ownNs) / 1e9 / wall)
      f ++= o.fields
      Span(o.id, o.parent, trace, o.name, sec(o.startNs), sec(endNs), f)
    }.sortBy(_.id)
  }
}

object Tracer {
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}
