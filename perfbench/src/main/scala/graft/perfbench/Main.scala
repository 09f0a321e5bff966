package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.RuleSpec._
import graft.engine.{EngineConfig, ReferentialIntegrity, UniquenessCheck, ValidationRun}
import graft.fixtures.Fixtures
import graft.functions.F
import graft.rules.{BoundRule, ValidationEngine}

/**
 * Benchmark JVM: runs one closed-loop workload (one client, each operation
 * waits for the previous one) and writes its raw measurements as JSON.
 * `run.py` builds this, starts it, checks the outputs and turns the raw
 * figures into metrics.
 *
 * Workloads (see [[engineOp]]): `validate`, the compute-only engine leg of
 * `graft.Bench`, and `curate`, the validate-then-fingerprint leg of
 * `ScalingBench`. Each runs four untimed warm-up operations, then a fixed
 * number of timed operations, one per 2 s of `--seconds`. With
 * `--trace 1` the JVM instead runs the traced probes of every layer
 * ([[traceEngine]], [[traceSweep]]) and records spans. With `--gen 1` it
 * only writes the seeded input and exits: `run.py` does that in a JVM of its
 * own, so every measured JVM starts equally cold whether or not the input
 * was already on disk.
 *
 * Usage: Main --gen 0|1 --workload W --seed N --seconds S --trace 0|1
 *             --docs N --input <docs dir> --sf <tables dir>
 *             --work <scratch dir> --out <result.json>
 *             --layers <layer:q,q;...> --queries <q,q,...>
 */
object Main {
  val Cores = 4
  val Rules = Seq(BoundRule(Required("doc_id")), BoundRule(SpanOffsetsMonotonic()),
    BoundRule(SpanFieldConsistency()), BoundRule(SpansNonEmpty()))
  val Parts = 8

  final case class Op(kind: String, wall: Double, cpu: Double, ok: Boolean)

  final class Ctx(val args: Map[String, String]) {
    val seed: Int = args("seed").toInt
    val seconds: Double = args("seconds").toDouble
    val nDocs: Long = args("docs").toLong
    val input: String = args("input")
    val sfDir: String = args("sf")
    val work: String = args("work")
    val ops = mutable.ArrayBuffer.empty[Op]
    val result = mutable.LinkedHashMap.empty[String, Any]
    var firstOpEpochMs = 0L
    var firstOpCpuNs = 0L

    /** Times `body` as one operation; a throw counts as a failed operation. */
    def op(kind: String)(body: => Unit): Unit = {
      val (c0, t0) = (Tracer.cpuNs, System.nanoTime())
      if (firstOpEpochMs == 0L && kind == "op") {
        firstOpEpochMs = System.currentTimeMillis()
        firstOpCpuNs = c0
      }
      val ok = try { body; true } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind operation failed: $e")
          e.printStackTrace()
          false
      }
      ops += Op(kind, (System.nanoTime() - t0) / 1e9, (Tracer.cpuNs - c0) / 1e9, ok)
    }

    /** Runs one timed operation per 2 s of `--seconds` (at least three).
      * Operations keep speeding up while the JIT compiles, so a fixed
      * count, rather than a deadline, puts every run's median at the same
      * point of that curve. */
    def timed(body: => Unit): Unit =
      (1 to math.max(3, math.ceil(seconds / 2).toInt)).foreach(_ => op("op")(body))
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(args)
    redirectFixtures(s"${ctx.work}/fixtures")
    val workload = args("workload")
    if (args("gen") == "1") {
      generate(ctx)
      return
    }
    if (args("trace") == "1") {
      val spans = traceEngine(ctx) ++ traceSweep(ctx)
      ctx.result("spans") = spans.map(s => Map("trace" -> s.trace, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "fields" -> s.fields.toMap))
    } else workload match {
      case "validate" => runEngine(ctx, content = false)
      case "curate" => runEngine(ctx, content = true)
      case other => sys.error(s"unknown workload $other")
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    ctx.result("setup_wall_s") = (ctx.firstOpEpochMs - jvmStartMs) / 1e3
    ctx.result("setup_cpu_s") = ctx.firstOpCpuNs / 1e9
    ctx.result("peak_rss_mb") = peakRssMb
    ctx.result("ops") = ctx.ops.map(o => Map("kind" -> o.kind, "wall" -> o.wall,
      "cpu" -> o.cpu, "ok" -> o.ok)).toSeq
    Files.writeString(Paths.get(args("out")), Json(ctx.result.toMap))
  }

  // ------------------------------------------------------------- sessions

  /** Engine session, config-identical to `graft.Bench` and `ScalingBench`. */
  def engineSession(cores: Int): SparkSession = graft.Bench.engineSession(cores)

  /** Query-sweep session, config-identical to the sweep leg of `graft.Bench`. */
  def sweepSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  // ---------------------------------------------------------------- inputs

  /** Writes the seeded docs table to `--input` unless its `_SUCCESS`
    * marker is already there: once per (seed, size). */
  def generate(ctx: Ctx): Unit =
    if (!new File(s"${ctx.input}/_SUCCESS").exists()) {
      val spark = engineSession(Cores)
      try Fixtures.docs(spark, ctx.nDocs, Parts, seed = ctx.seed)
        .write.mode("overwrite").parquet(ctx.input)
      finally stop(spark)
    }

  /** The seeded docs table, written beforehand by a `--gen 1` JVM. */
  def docs(ctx: Ctx, spark: SparkSession): DataFrame = {
    require(new File(s"${ctx.input}/_SUCCESS").exists(),
      s"input ${ctx.input} missing: generate it first with --gen 1")
    ctx.result("docs_path") = ctx.input
    spark.read.parquet(ctx.input)
  }

  /** Points the materialized-fixture dir (people, q30/q31 docs) into the
    * benchmark's scratch dir, so the sweep writes nothing outside it.
    * `Fixtures.FixtureDir` is a fixed absolute path compiled to a static
    * final field, which reflection cannot set; Unsafe can, and does so
    * before any code reads it. */
  def redirectFixtures(dir: String): Unit = {
    val f = Fixtures.getClass.getDeclaredField("FixtureDir")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), dir)
    require(Fixtures.FixtureDir == dir, "could not redirect Fixtures.FixtureDir")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rmrf(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  // -------------------------------------------------------------- validate

  /** Shaped like `RunValidation --sketch`. */
  def validateCfg(dir: String): EngineConfig = EngineConfig(Rules,
    ledgerDir = Some(s"$dir/_ledger"),
    sketchExprs = Map("n_spans" -> size(col("spans")).cast("double")),
    hllSketchExprs = Map("doc_id" -> col("doc_id")),
    mgSketchExprs = Map("first_kind" -> try_element_at(col("spans.kind"), lit(1))))

  def validateOp(spark: SparkSession, d: DataFrame, assets: DataFrame, dir: String,
                 resume: Boolean = false, limitParts: Option[Seq[Int]] = None): Unit =
    new ValidationRun(spark, validateCfg(dir)).runAndWrite(d, Some(assets), dir, resume, limitParts)

  /** One engine operation: `ValidationRun.run` with its violations and
    * verdicts sent to `noop`, the compute-only engine leg of `graft.Bench`.
    * With `content` the docs first get their span text and the run carries
    * token-stats/MinHash/SimHash passthroughs whose columns are also sent to
    * `noop` from the narrow cache, the `ScalingBench` leg. */
  def engineOp(spark: SparkSession, d: DataFrame, assets: DataFrame, content: Boolean,
               tracer: Option[Tracer] = None): Unit = {
    val (run, verdicts, viols) = engineRun(spark, d, assets, content)
    noop(viols)
    noop(verdicts)
    if (content)
      noop(run.lastNarrow.get.select(col("doc_id"), col("part"), col("__ts"),
        col("__mh"), col("__sh")))
    tracer.foreach(_.set("cache_mb", storageMb(spark)))
    viols.unpersist()
    run.unpersistAll()
  }

  def engineRun(spark: SparkSession, d: DataFrame, assets: DataFrame,
                content: Boolean): (ValidationRun, DataFrame, DataFrame) =
    if (content) {
      val prepped = d.withColumn("__text", F.spanText(col("spans")))
      val run = new ValidationRun(spark, EngineConfig(Rules, passthroughExprs = Seq(
        F.tokenStats(col("__text")).as("__ts"),
        F.minhashSig(col("__text"), 8, 3, portable = false).as("__mh"),
        F.simhash(col("__text"), 32, portable = false).as("__sh"))))
      val (verdicts, viols) = run.run(prepped, Some(assets))
      (run, verdicts, viols)
    } else {
      val run = new ValidationRun(spark, EngineConfig(Rules))
      val (verdicts, viols) = run.run(d, Some(assets))
      (run, verdicts, viols)
    }

  /** Violation counts per rule and verdict totals of one engine run, for
    * the output check. */
  def countsOf(spark: SparkSession, d: DataFrame, assets: DataFrame,
               content: Boolean): Map[String, Any] = {
    val (run, verdicts, viols) = engineRun(spark, d, assets, content)
    val perRule = viols.groupBy("rule_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = verdicts.agg(sum("total_rows"), sum("passed"), sum("failed")).collect()(0)
    viols.unpersist()
    run.unpersistAll()
    Map("rules" -> perRule, "total_rows" -> t.getLong(0), "passed" -> t.getLong(1),
      "failed" -> t.getLong(2))
  }

  /** The validate (`content = false`) or curate workload. The first
    * operation in a JVM is several times slower than the later ones, and
    * while C2 compiles they keep getting faster by 5-15 % each for several
    * more, hence four warm-ups; the second collects the counts for the
    * output check instead of sending them to `noop`. */
  def runEngine(ctx: Ctx, content: Boolean): Unit = {
    val spark = engineSession(Cores)
    val d = docs(ctx, spark)
    val assets = Fixtures.assets(spark)
    ctx.op("warm")(engineOp(spark, d, assets, content))
    ctx.op("warm")(ctx.result("counts") = countsOf(spark, d, assets, content))
    (1 to 2).foreach(_ => ctx.op("warm")(engineOp(spark, d, assets, content)))
    ctx.timed(engineOp(spark, d, assets, content))
    stop(spark)
  }

  // ----------------------------------------------------------------- sweep

  def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1)

  /** Query short id (`q12b`) of a `SparkEntry.queries` key (`q12b_...`). */
  def shortId(name: String): String = name.takeWhile(_ != '_')

  /** The queries whose short ids are listed in `--queries`. */
  def tracedQueries(ctx: Ctx): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val ids = ctx.args("queries").split(",").toSet
    val qs = queries.filter(q => ids(shortId(q._1)))
    require(qs.size == ids.size, s"unknown query among ${ids.mkString(",")}")
    qs
  }

  /** Each query's result as one parquet file plus the oracle SQL, for the
    * DuckDB comparison (the same shape `graft.Verify` writes). */
  def writeQueryResults(ctx: Ctx, spark: SparkSession,
                        qs: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val out = s"${ctx.work}/sweep_results"
    rmrf(out)
    qs.foreach { case (name, fn) =>
      try fn(spark, ctx.sfDir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e") }
    }
    ctx.result("query_results") = out
    ctx.result("oracle_sql") = graft.SparkEntry.oracleSql.filter(o => qs.exists(_._1 == o._1))
  }

  // ------------------------------------------------------------ traced runs

  /** Opens a session with a tracer attached; returns the spans after `body`. */
  def traced(trace: String, cores: Int, open: Int => SparkSession)(
      body: (SparkSession, Tracer) => Unit): Seq[Span] = {
    val spark = open(cores)
    val tr = new Tracer(spark.sparkContext, trace, cores)
    spark.sparkContext.addSparkListener(tr)
    try {
      body(spark, tr)
      tr.drain()
      tr.spans()
    } finally stop(spark)
  }

  def contentCols: Seq[org.apache.spark.sql.Column] = {
    val text = F.spanText(col("spans"))
    Seq(F.tokenStats(text).as("ts"), F.minhashSig(text, 8, 3, portable = false).as("mh"),
      F.simhash(text, 32, portable = false).as("sh"))
  }

  /** Engine layers: a run killed after half the partitions and resumed
    * (which also warms the JVM up), the validate operation, the public
    * functions it is built from called standalone, then the curate operation
    * and its content kernels; finally one curate operation in a `local[1]`
    * session. */
  def traceEngine(ctx: Ctx): Seq[Span] = {
    val wide = traced("engine", Cores, engineSession) { (spark, tr) =>
      val d = docs(ctx, spark)
      val assets = Fixtures.assets(spark)
      val root = s"${ctx.work}/trace_validate"
      rmrf(root)
      val rdir = s"$root/resume"
      tr.span("engine.killed_run")(
        validateOp(spark, d, assets, rdir, limitParts = Some(0 until Parts / 2)))
      tr.span("engine.ledger_read")(
        new ValidationRun(spark, validateCfg(rdir)).completedPartitions())
      // the ledger gains one row per partition an attempt processed, so the
      // rows the resume appended say how many partitions it redid
      val ledgerRows = () => spark.read.parquet(s"$rdir/_ledger/ledger").count()
      val before = ledgerRows()
      tr.span("engine.resume")(validateOp(spark, d, assets, rdir, resume = true))
      ctx.result("resume_skip_frac") = 1.0 - (ledgerRows() - before).toDouble / Parts
      ctx.result("resume_dir") = rdir
      tr.span("engine.run_and_write")(validateOp(spark, d, assets, s"$root/oneshot"))
      ctx.result("oneshot_dir") = s"$root/oneshot"

      tr.span("rules.annotate_narrow") {
        val n = ValidationEngine.annotateNarrow(d, Rules, "doc_id", "part")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        n.count()
        tr.set("cache_mb", storageMb(spark))
        n.unpersist(blocking = true)
      }
      tr.span("engine.uniqueness")(noop(UniquenessCheck.violations(d, "doc_id", "part")))
      tr.span("engine.ri")(noop(ReferentialIntegrity.violations(d, assets)))
      // the two outputs of ValidationRun.run, each sent to noop in turn
      tr.span("engine.run") {
        val (run, verdicts, viols) = engineRun(spark, d, assets, content = false)
        tr.span("engine.run.violations")(noop(viols))
        tr.span("engine.run.verdicts")(noop(verdicts))
        viols.unpersist()
        run.unpersistAll()
      }

      ctx.result("counts") = countsOf(spark, d, assets, content = true)
      tr.span("engine.curate")(engineOp(spark, d, assets, content = true, Some(tr)))
      tr.span("functions.content")(noop(d.select(contentCols: _*)))
      tr.span("functions.span_checks")(noop(d.select(F.spanChecks(col("spans")).as("c"))))
    }
    val one = traced("engine_1core", 1, engineSession) { (spark, tr) =>
      val d = spark.read.parquet(ctx.result("docs_path").toString)
      tr.span("engine.curate_1core")(engineOp(spark, d, Fixtures.assets(spark), content = true))
    }
    wide ++ one
  }

  /** One representative query per layer, traced and grouped by layer,
    * then their results written for the oracle comparison. Every query of
    * `SparkEntry.queries` must belong to exactly one layer. */
  def traceSweep(ctx: Ctx): Seq[Span] = traced("sweep", Cores, sweepSession) { (spark, tr) =>
    val layers: Seq[(String, Seq[String])] = ctx.args("layers").split(";").toSeq.map { l =>
      val Array(name, qs) = l.split(":"); name -> qs.split(",").toSeq }
    val mapped = layers.flatMap(_._2)
    require(mapped.sorted == queries.map(q => shortId(q._1)).sorted &&
      mapped.distinct.size == mapped.size, "every query must map to exactly one layer")
    val reps = tracedQueries(ctx)
    val layerOf = layers.flatMap { case (l, ids) => ids.map(_ -> l) }.toMap
    tr.span("sweep.pass")(reps.foreach { case (name, fn) =>
      tr.span(s"${layerOf(shortId(name))}.sweep")(noop(fn(spark, ctx.sfDir)))
    })
    writeQueryResults(ctx, spark, reps)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
