package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.rules.{BoundRule, ValidationEngine}

/**
 * Scale-path checks that don't compile to a per-row projection.
 */
object UniquenessCheck {
  /**
   * Global uniqueness of `key` over its non-null values (an embedded
   * uniqueness constraint): one hash-aggregate, `(key, dup_count)` for keys
   * seen more than once. No salt: the partial aggregate combines map-side,
   * so each map task ships at most one partial count per distinct key. That
   * is the only skew relief — see [[violations]] for the probe side. Null
   * keys are not uniqueness violations (they violate Required instead).
   */
  def duplicateKeys(df: DataFrame, key: String): DataFrame =
    df.where(col(key).isNotNull)
      .groupBy(col(key))
      .agg(count(lit(1)).as("dup_count"))
      .where(col("dup_count") > 1)

  /** Violation rows for duplicated keys: left-semi join of the docs table
    * against the duplicate-key set. The set scales with the duplication RATE
    * (≈1 M keys at 40 M docs on the bench fixture), so it is hash-joined on
    * the shuffled key — a forced broadcast would collect it to the driver
    * and build the hash relation single-threaded. AQE does not split this
    * join for a hot key: its build side is the aggregate over its shuffle
    * stage, not a bare stage, so every row of one key goes to one probe
    * task. */
  def violations(df: DataFrame, key: String, partCol: String,
                 ruleId: String = "unique(doc_id)"): DataFrame = {
    val dups = duplicateKeys(df, key)
    df.join(dups.select(col(key)).hint("shuffle_hash"), Seq(key), "left_semi")
      .select(lit(ruleId).as("rule_id"), col(key).cast("string").as("doc_id"),
              col(partCol).cast("int").as("part"),
              lit(null).cast("int").as("span_offset"),
              lit(s"duplicate $key").as("detail"))
  }
}

/** media_ref → asset catalog check (SURVEY J4, north rule). */
object ReferentialIntegrity {
  private val RefsCol = "__media_refs"

  /** A docs row's media references, `array<struct<media_ref, offset>>` over
    * the `spans` column; text spans never join, so only spans carrying a
    * media_ref are kept. The engine appends this column to its rule-pass
    * projection, so RI reads the spans on the rule pass's scan. */
  def refs: Column =
    transform(filter(col("spans"), s => s.getField("media_ref").isNotNull),
      s => struct(s.getField("media_ref").as("media_ref"),
                  s.getField("offset").as("offset"))).as(RefsCol)

  /** RI violations of a docs table: [[violationsFromRefs]] over its
    * [[refs]]. */
  def violations(docs: DataFrame, assets: DataFrame): DataFrame =
    violationsFromRefs(docs.select(col("doc_id"), col("part"), refs), assets)

  /** RI violations of a frame holding `doc_id`, `part` and the [[refs]]
    * column: one row per reference, anti-joined against the catalog.
    * Catalyst/AQE picks broadcast vs shuffle from the catalog's measured
    * size. */
  def violationsFromRefs(df: DataFrame, assets: DataFrame): DataFrame = {
    val refRows = df.select(col("doc_id"), col("part"), explode(col(RefsCol)).as("s"))
      .select(col("doc_id"), col("part"), col("s.media_ref").as("media_ref"),
              col("s.offset").as("span_offset"))
    refRows.join(assets, refRows("media_ref") === assets("asset_id"), "left_anti")
      .select(lit("referential_integrity(media_ref)").as("rule_id"),
              col("doc_id").cast("string").as("doc_id"), col("part"),
              col("span_offset").cast("int").as("span_offset"),
              concat(lit("dangling media_ref "), col("media_ref")).as("detail"))
  }
}

/** Driver-side attempt clock for ledger rows: wall-clock millis, bumped to
  * strictly increase within one JVM so two attempts landing in the same
  * millisecond (fast tests, quick retries) still order deterministically.
  * Across JVMs the wall clock alone is NOT trusted (NTP can step it
  * backward between attempts): `runAndWrite` additionally floors each
  * attempt's ts at 1 + the max attempt_ts already in the run's ledger, so
  * the newest attempt always wins the readers' latest-attempt reduction. */
private[engine] object AttemptClock {
  private val last = new java.util.concurrent.atomic.AtomicLong(0L)
  def next(): Long =
    last.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))
}

/** Engine configuration. `runTs` pins "now" for deterministic future-date
  * rules (reference non-determinism noted in SURVEY §7.4). */
case class EngineConfig(
    rules: Seq[BoundRule],
    checkReferentialIntegrity: Boolean = true,
    /** Global uniqueness of `doc_id` over its non-null values — the column
      * the violation rows and the verdict join key on. */
    checkUniqueness: Boolean = true,
    ledgerDir: Option[String] = None,
    runId: String = "run-0",
    /** Persist the narrow per-row annotation (id, part, rule masks) so the
      * verdict aggregation reuses the rule pass instead of re-scanning the
      * docs table (~40 B/row, MEMORY_AND_DISK). At extreme scale where even
      * the narrow frame shouldn't be spilled (10^12 rows ≈ tens of TB), set
      * false for zero cache: every later read of the narrow frame is then a
      * column-pruned re-scan — on a full run three id-only scans (uniqueness
      * key scan, semi-join probe, verdict aggregation), one scan of the
      * ledger-sketch inputs, and for RI the same column-pruned `spans` scan
      * a docs-table RI read would be. */
    persistAnnotations: Boolean = true,
    /** Numeric expressions sketched per partition into the ledger as KLL
      * quantile sketches (name → column expr over the docs table), feeding
      * cross-run drift checks from merged sketches. */
    sketchExprs: Map[String, org.apache.spark.sql.Column] = Map.empty,
    /** Expressions whose DISTINCT COUNT is sketched per partition into the
      * ledger as HyperLogLog registers (name → column expr), mergeable
      * cross-partition/cross-run by [[graft.stats.Drift.mergeLedgerHll]]
      * (SURVEY §2.11 "HLL sketch persisted per partition and merged later").
      * A null value contributes one distinct value (xxhash64 seed), matching
      * the q26 convention; pre-filter the expr to exclude nulls. */
    hllSketchExprs: Map[String, org.apache.spark.sql.Column] = Map.empty,
    /** String expressions whose VALUE DISTRIBUTION is summarized per
      * partition into the ledger as Misra–Gries heavy-hitter summaries
      * (name → column expr), mergeable cross-partition/cross-run by
      * [[graft.stats.Drift.mergeLedgerMg]] — the categorical face of the
      * ledger drift triad (KLL numeric / HLL cardinality / MG top-value
      * mix), verdicts via
      * [[graft.stats.Drift.ledgerCategoricalDrift]]. NULLs are skipped. */
    mgSketchExprs: Map[String, org.apache.spark.sql.Column] = Map.empty,
    /** Aliased per-row expressions appended to the narrow rule-pass
      * projection and exposed via `ValidationRun.lastNarrow` — lets a caller
      * compute CONTENT outputs (dedup signatures, token stats, quality
      * features) on the SAME scan that evaluates the validation rules,
      * instead of re-reading the wide docs table for a second pass. At
      * 100 TB the second decode of the spans column is the single largest
      * avoidable cost of a validate-then-fingerprint pipeline. */
    passthroughExprs: Seq[org.apache.spark.sql.Column] = Nil)

/**
 * Per-partition validation orchestrator (SURVEY §3 EP1/EP2 Spark shape).
 *
 * Evaluates the full rule suite over the docs table, producing the north
 * rule's artifacts: per-partition pass/fail verdicts and violation rows
 * `(rule_id, doc_id, part, span_offset, detail)`. Partition pruning comes for
 * free from `filter($"part" === p)` over a parquet table partitioned by
 * `part`. A checkpoint ledger (one parquet row per completed partition) makes
 * runs resumable: partitions present in the ledger are skipped, and verdicts
 * are recomputed only for the remainder.
 *
 * NOTE on granularity: per-partition *verdicts* are an output contract, not an
 * execution constraint — the row-level rule pass is one whole-table projection
 * + one groupBy(part) aggregate (2 Spark jobs total), NOT a driver loop over
 * partitions. Only resume bookkeeping is per-partition.
 *
 * Reads of the docs table (pinned by a scan census in GoldenEngineSpec).
 * RI always reads the narrow rule-pass frame: its media refs are a column
 * of the rule-pass projection. So do the verdict aggregation and the ledger
 * sketches. Uniqueness holds the only source decision: it is global, while
 * the narrow frame covers only in-scope partitions, so it reads the narrow
 * frame only on a full run — nothing skipped by resume, no `limitParts`, no
 * content passthroughs — with a string `doc_id` (narrow stores the id cast
 * to string); otherwise it reads the key twice (key scan + semi-join probe)
 * from the docs table. A passthrough-widened cache costs more to re-read
 * than a pruned parquet scan (a spilled MEMORY_AND_DISK cache stores whole
 * serialized batches). With the frame persisted, a full run with a string
 * key decodes the docs table once; unpersisted, each narrow read is a
 * column-pruned scan (see [[EngineConfig.persistAnnotations]]).
 *
 * Skew: the verdicts are one aggregation whose partial combines a hot
 * `doc_id` map-side. The uniqueness semi-join is the one place where every
 * row of a hot id still lands on one probe task (see
 * [[UniquenessCheck.violations]]).
 */
class ValidationRun(spark: SparkSession, config: EngineConfig) {
  import spark.implicits._

  private val badUnique = config.rules.map(_.spec).collect {
    case u: RuleSpec.Unique if u.column != "doc_id" => u.ruleId }
  require(badUnique.isEmpty, s"${badUnique.mkString(", ")}: the engine checks " +
    "uniqueness on doc_id only (checkUniqueness); use ValidationEngine.validate")

  private def ledgerPath(run: String) = config.ledgerDir.map(d => s"$d/ledger")

  /** Deterministic fingerprint of the configured rule set (FULL specs +
    * reasons, order-independent). Written to every ledger row; resume TRUSTS
    * a completed partition only if it was validated under the SAME rules —
    * otherwise a rule-set edit between attempts would silently mix verdicts
    * from two different suites in one output.
    *
    * Hashes the whole RuleSpec (case-class toString carries every
    * constructor parameter), not just `ruleId`: many rule ids omit their
    * parameters (Formula's SQL, Pattern's regex under an unchanged name,
    * range bounds, AllowedValues list), so a parameter-only edit between
    * attempts must still flip the fingerprint (ADVICE r4). NoFutureDate's
    * timestamp is canonicalized to epoch millis — `Timestamp.toString`
    * renders in the JVM default zone, which would make the hash depend on
    * the resuming JVM's timezone rather than the rule's value. */
  private def canonSpec(s: RuleSpec): String = s match {
    case RuleSpec.NoFutureDate(c, ts) => s"NoFutureDate($c,${ts.getTime})"
    case other => other.toString
  }
  private[graft] def rulesHash: String = {
    val canon = config.rules.map(r => s"${canonSpec(r.spec)}|${r.reason}").sorted
      .mkString(";") +
      // rendered as the former `Option[String]` key field, so ledgers
      // written before `checkUniqueness` stay resumable
      s"|uniq=${if (config.checkUniqueness) "Some(doc_id)" else "None"}" +
      s"|ri=${config.checkReferentialIntegrity}"
    java.lang.Long.toHexString(
      graft.functions.Hashing.md5_60(canon.getBytes("UTF-8")))
  }

  /** Partitions already completed in a previous attempt of this run.
    * `mergeSchema` so a ledger dir whose older rows predate the always-on
    * sketch columns (pre-r4 schema) still reads cleanly.
    *
    * A partition can carry SEVERAL ledger rows (one per attempt that
    * re-validated it, e.g. after a rule edit forced re-validation); only the
    * LATEST attempt's row describes the artifacts currently on disk, so the
    * set reduces to the newest row per partition by `attempt_ts` before the
    * hash check (ADVICE r4: trusting a stale matching-hash row after the
    * artifacts were rewritten under a different suite). Rows with a
    * `rules_hash` different from the current config are NOT treated as
    * complete; legacy rows without either column are trusted (ts = 0). */
  def completedPartitions(): Set[Int] = ledgerPath(config.runId) match {
    case Some(p) =>
      try {
        val df0 = spark.read.option("mergeSchema", "true").parquet(p)
          .where($"run_id" === config.runId)
        val df1 = if (df0.columns.contains("attempt_ts")) df0
                  else df0.withColumn("attempt_ts", lit(0L))
        val df = if (df1.columns.contains("rules_hash")) df1
                 else df1.withColumn("rules_hash", lit(null).cast("string"))
        // legacy null hashes ride through max_by behind a sentinel (null
        // VALUE handling in max_by is an implementation detail not worth
        // depending on)
        val legacy = "\u0000legacy"
        df.groupBy($"part")
          .agg(max_by(coalesce($"rules_hash", lit(legacy)),
                      coalesce($"attempt_ts", lit(0L))).as("rules_hash"))
          .where($"rules_hash" === legacy || $"rules_hash" === rulesHash)
          .select("part").as[Int].collect().toSet
      }
      catch { case _: Throwable => Set.empty }
    case None => Set.empty
  }

  /** Run the full suite over `docs` (optionally minus completed partitions).
    * Returns (verdicts, violations); both lazy until written/collected.
    *
    * Uniqueness is a GLOBAL rule: duplicate keys are detected over the whole
    * input even when only a subset of partitions is being (re)processed —
    * violations are then emitted only for in-scope partitions. This keeps
    * resume semantics correct: a key duplicated across a completed and a
    * pending partition is still flagged in the pending one.
    *
    * `limitParts` restricts processing to the given partitions (used by tests
    * to simulate a mid-run kill, and usable for targeted re-validation). */
  def run(docs: DataFrame, assets: Option[DataFrame] = None,
          resume: Boolean = false,
          limitParts: Option[Seq[Int]] = None): (DataFrame, DataFrame) = {
    val done = if (resume) completedPartitions() else Set.empty[Int]
    def partFilter(c: org.apache.spark.sql.Column) = {
      val base = if (done.isEmpty) lit(true) else !c.isin(done.toSeq: _*)
      limitParts.map(ps => base && c.isin(ps: _*)).getOrElse(base)
    }
    val todo = docs.where(partFilter($"part"))

    // Row-level + span-level rules: ONE projection pass over the docs table,
    // reduced to the narrow (doc_id, part, masks) shape from which the
    // violation artifact and the verdict aggregation both derive. Ledger
    // sketch inputs (one double / 8-byte hash per sketch per row) and RI's
    // media refs ride the same scan.
    val rowRules = config.rules.filterNot(r =>
      r.spec.isInstanceOf[RuleSpec.Unique]) // Unique is the global check below
    val catalog = assets.filter(_ => config.checkReferentialIntegrity)
    val narrow = ValidationEngine.annotateNarrow(todo, rowRules, "doc_id", "part",
      sketchPassthroughCols ++ config.passthroughExprs ++
        catalog.map(_ => ReferentialIntegrity.refs))
    val narrowP =
      if (config.persistAnnotations)
        narrow.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else narrow
    narrowFrame = Some(narrowP)
    val rowViolations = ValidationEngine.violationsFromNarrow(narrowP, rowRules)

    // The one source decision (class comment): uniqueness reads the narrow
    // frame only on a full run with a string doc_id — narrow stores doc_id
    // CAST to string, the identity only for a string key.
    val uniqViaNarrow = done.isEmpty && limitParts.isEmpty &&
      config.passthroughExprs.isEmpty &&
      docs.schema.exists(f => f.name == "doc_id" &&
        f.dataType == org.apache.spark.sql.types.StringType)
    val extra = Seq(
      Option.when(config.checkUniqueness) {
        val src = if (uniqViaNarrow) narrowP.select($"doc_id", $"part") else docs
        UniquenessCheck.violations(src, "doc_id", "part").where(partFilter(col("part")))
      },
      catalog.map(a => ReferentialIntegrity.violationsFromRefs(narrowP, a))
    ).flatten
    // Violations are tiny relative to the input; cache so the verdict
    // aggregation and the artifact write evaluate the scan+rules once, not
    // twice. Released by unpersistAll.
    val allViolations = (rowViolations +: extra).reduce(_.unionByName(_)).cache()
    violationsFrame = Some(allViolations)

    // Per-partition verdicts: rows whose (doc_id, part) key carries ANY
    // violation fail (null ids share one key). One aggregation, no join:
    // rule-pass keys (n = 1) and violation keys (n = 0, bad) are unioned and
    // reduced per key, so a hot key combines map-side in the partial
    // aggregate; a second aggregate per part gives totals and failures.
    def keys(df: DataFrame, n: Long, bad: Boolean) =
      df.select(coalesce($"doc_id", lit("\u0000<null>")).as("__k"), $"part",
        lit(n).as("n"), lit(bad).as("bad"))
    val verdicts = keys(narrowP, 1L, bad = false).unionByName(keys(allViolations, 0L, bad = true))
      .groupBy("__k", "part").agg(sum($"n").as("n"), max($"bad").as("bad"))
      .groupBy("part")
      .agg(sum($"n").as("total_rows"),
           sum(when($"bad", $"n").otherwise(0L)).as("failed_docs"))
      .select($"part",
        $"total_rows",
        ($"total_rows" - $"failed_docs").as("passed"),
        $"failed_docs".as("failed"),
        when($"failed_docs" > 0, lit("FAIL")).otherwise(lit("PASS")).as("status"),
        lit(config.rules.size + 2).as("rules_evaluated"))
    (verdicts, allViolations)
  }

  /** The narrow annotation frame of the last [[run]], persisted or not. */
  private var narrowFrame: Option[DataFrame] = None
  /** The violations frame the last [[run]] cached. */
  private var violationsFrame: Option[DataFrame] = None

  /** The narrow annotation frame persisted by the last [[run]] (exposed for
    * plan-shape tests); released by [[unpersistAll]]. */
  private[graft] def lastNarrow: Option[DataFrame] =
    narrowFrame.filter(_ => config.persistAnnotations)


  /** Per-row sketch inputs appended to the narrow annotation so ledger
    * sketches share the rule-pass scan: one double per KLL expr, one
    * xxhash64 long per HLL expr. Names are sorted for a deterministic
    * column order. */
  private def sketchPassthroughCols: Seq[org.apache.spark.sql.Column] =
    config.sketchExprs.toSeq.sortBy(_._1).map { case (n, c) =>
      c.cast("double").as(s"__skv_$n") } ++
    config.hllSketchExprs.toSeq.sortBy(_._1).map { case (n, c) =>
      xxhash64(c).as(s"__hll_$n") } ++
    config.mgSketchExprs.toSeq.sortBy(_._1).map { case (n, c) =>
      c.cast("string").as(s"__mgv_$n") }

  /** Per-partition ledger sketch frame `(part, sketches, hll_sketches,
    * mg_sketches)` of the last [[run]], or None when no sketch exprs are
    * configured. Aggregates the narrow frame, which holds exactly the
    * in-scope sketch inputs: zero extra docs scans when it is persisted, one
    * scan pruned to the inputs when it is not. */
  private[graft] def ledgerSketchFrame(): Option[DataFrame] = {
    if (config.sketchExprs.isEmpty && config.hllSketchExprs.isEmpty &&
        config.mgSketchExprs.isEmpty) return None
    val kNames = config.sketchExprs.keys.toSeq.sorted
    val hNames = config.hllSketchExprs.keys.toSeq.sorted
    val mNames = config.mgSketchExprs.keys.toSeq.sorted
    val kll = graft.stats.Sketches.kllSketch()
    val hll = graft.stats.Sketches.hllSketch()
    val mg = graft.stats.Sketches.mgSketch()
    val aggs = kNames.map(n => kll(col(s"__skv_$n")).as(s"__sk_$n")) ++
               hNames.map(n => hll(col(s"__hll_$n")).as(s"__hsk_$n")) ++
               mNames.map(n => mg(col(s"__mgv_$n")).as(s"__msk_$n"))
    val grouped = narrowFrame.get.groupBy($"part").agg(aggs.head, aggs.tail: _*)
    val nullMap = lit(null).cast(
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.BinaryType))
    val kMap = if (kNames.isEmpty) nullMap
      else map(kNames.flatMap(n => Seq(lit(n), col(s"__sk_$n"))): _*)
    val hMap = if (hNames.isEmpty) nullMap
      else map(hNames.flatMap(n => Seq(lit(n), col(s"__hsk_$n"))): _*)
    val mMap = if (mNames.isEmpty) nullMap
      else map(mNames.flatMap(n => Seq(lit(n), col(s"__msk_$n"))): _*)
    Some(grouped.select($"part", kMap.as("sketches"), hMap.as("hll_sketches"),
      mMap.as("mg_sketches")))
  }

  /** Release every frame the last [[run]] persisted: the narrow frame and
    * the violations it returned. */
  def unpersistAll(): Unit = {
    lastNarrow.foreach(_.unpersist())
    violationsFrame.foreach(_.unpersist())
    narrowFrame = None
    violationsFrame = None
  }

  /** Execute + persist artifacts + ledger; resumable entry point.
    *
    * Crash-safety: artifact writes are per-partition IDEMPOTENT — both
    * outputs are partitioned by `part` and written with dynamic partition
    * overwrite, so a re-run after a crash between the artifact write and the
    * ledger append REPLACES the affected partitions instead of appending
    * duplicates (the round-1 Append mode double-wrote them). The ledger row
    * is still appended last: a partition is "complete" only once its
    * artifacts are durably committed. */
  def runAndWrite(docs: DataFrame, assets: Option[DataFrame],
                  outDir: String, resume: Boolean = false,
                  limitParts: Option[Seq[Int]] = None): Unit = {
    val t0 = System.nanoTime()
    val (verdicts, viols) = run(docs, assets, resume, limitParts)
    // fresh runs truncate everything (static overwrite); resumed/partial runs
    // replace only the partitions present in this attempt's output. A
    // per-write option, so runs sharing a session cannot see each other's.
    val overwrite = if (resume || limitParts.nonEmpty) "dynamic" else "static"
    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", overwrite)
        .partitionBy("part").parquet(s"$outDir/$name")
    write(viols, "violations")
    verdicts.cache()
    write(verdicts, "verdicts")
    ledgerPath(config.runId).foreach { lp =>
      val wallMs = (System.nanoTime() - t0) / 1000000
      // Attempt ordering must survive a wall clock stepping BACKWARD between
      // JVMs (NTP correction, VM clock skew): floor this attempt's ts at
      // 1 + the max attempt_ts already recorded for this run, so the newest
      // attempt always wins the readers' max_by reduction even if the wall
      // clock says otherwise. One read of the (tiny) ledger, resume-only in
      // effect — a fresh run's ledger dir is empty.
      // Only a MISSING/empty ledger (every fresh run) legitimately yields 0;
      // a genuine read failure must propagate — silently flooring at 0 would
      // disable the skew guard and let a stale attempt win again.
      val prevMaxTs: Long = try {
        spark.read.option("mergeSchema", "true").parquet(lp)
          .where($"run_id" === config.runId)
          .agg(max(coalesce(col("attempt_ts"), lit(0L)))).as[Option[Long]]
          .head().getOrElse(0L)
      } catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      val attemptTs = math.max(AttemptClock.next(), prevMaxTs + 1)
      // real per-partition violation counts (r2 stubbed this as -1): the
      // violations frame is cached, so this group-count costs no re-scan
      val violsPerPart = viols.groupBy($"part".cast("int").as("part"))
        .agg(count(lit(1)).as("__viol_n"))
      val ledger = verdicts.join(violsPerPart, Seq("part"), "left").select(
        lit(config.runId).as("run_id"), $"part", $"status",
        $"total_rows", $"failed".as("failed_rows"),
        coalesce($"__viol_n", lit(0L)).as("violations"), lit(wallMs).as("wall_ms"),
        lit(rulesHash).as("rules_hash"),
        // attempt ordering: re-validated partitions append a SECOND row for
        // the same (run_id, part); readers reduce to the latest attempt
        // (completedPartitions, Drift.mergeLedgerSketches/Hll) so stale
        // rows never double-weight sketches or resurrect old verdict trust
        lit(attemptTs).as("attempt_ts"))
      // Optional per-partition sketches (north rule "drift over quantile
      // sketches" + SURVEY §2.11 persisted HLL): KLL quantile sketches and
      // HLL distinct-count registers, aggregated from the narrow annotation
      // (the sketch inputs rode the rule-pass scan); merged across
      // partitions/runs by
      // Drift.mergeLedgerSketches / Drift.mergeLedgerHll without re-scanning.
      // All THREE map columns (KLL / HLL / MG) are ALWAYS present (null when
      // unconfigured) so the ledger parquet schema is stable across runs
      // with/without --sketch
      // (ADVICE r3: a mixed-schema ledger dir breaks plain spark.read).
      val nullMap = lit(null).cast(
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.BinaryType))
      val withSketches = ledgerSketchFrame() match {
        case Some(sk) => ledger.join(sk, Seq("part"), "left")
        case None => ledger.withColumn("sketches", nullMap)
                           .withColumn("hll_sketches", nullMap)
                           .withColumn("mg_sketches", nullMap)
      }
      withSketches.write.mode(SaveMode.Append).parquet(lp)
    }
    verdicts.unpersist()
    unpersistAll()
  }
}
