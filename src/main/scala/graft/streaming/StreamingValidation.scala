package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.ReferentialIntegrity
import graft.rules.{BoundRule, ValidationEngine}

/**
 * Structured Streaming surface of the validation engine.
 *
 * The reference is strictly batch (SURVEY §2.12) and the north rule is
 * batch-per-Iceberg-partition, so nothing here is REQUIRED for parity — this
 * module exists because the engine's design makes it nearly free, and a
 * 10^12-doc ingestion pipeline realistically validates documents as they
 * arrive: every row-level rule compiles to a pure Catalyst projection
 * (no helper joins, no windows), which is exactly the class of plan
 * Structured Streaming runs unchanged on an unbounded table.
 *
 * Scope and honest limits:
 *  - Row-level + span-level rules only. GLOBAL rules are fundamentally
 *    different on a stream: uniqueness over an unbounded key set is
 *    unbounded state (use the batch engine's uniqueness agg per completed
 *    partition, or a watermarked `dropDuplicates`); referential integrity
 *    needs a stream-static join against the asset catalog — provided here
 *    via [[violationsStream]]'s optional `assets` argument: the batch
 *    generator's one `left_anti` join, with the stream on the left
 *    (supported by Spark for append output).
 *  - Per-partition verdicts become per-(event-time window, part) verdict
 *    counts with a watermark bounding state ([[windowedVerdicts]]) — the
 *    streaming analogue of the batch ledger row.
 */
object StreamingValidation {

  /** Annotate a (possibly streaming) docs frame with `_val_status` /
    * `_val_reason` + one mask per rule — a pure projection, identical
    * semantics to the batch path (it IS the batch code: rules that need no
    * helper columns run unchanged on streams). Throws if a rule requiring a
    * non-streamable helper (Unique / InColumn) is passed. */
  def annotate(stream: DataFrame, rules: Seq[BoundRule]): DataFrame = {
    requireStreamable(rules)
    ValidationEngine.annotate(stream, rules)
  }

  private def requireStreamable(rules: Seq[BoundRule]): Unit = {
    val unsupported = rules.collect {
      case BoundRule(u: graft.core.RuleSpec.Unique, _) => u.ruleId
      case BoundRule(i: graft.core.RuleSpec.InColumn, _) => i.ruleId
    }
    require(unsupported.isEmpty,
      s"rules ${unsupported.mkString(", ")} need global/table-wide state; " +
      "use the batch engine (uniqueness agg) or watermarked dropDuplicates")
  }

  /** Violation rows from a streaming docs frame — append-mode friendly:
    * the batch engine's generator
    * ([[ValidationEngine.violationsFromNarrow]]), a stateless projection +
    * explode whose optional catalog check is a stream-static `left_anti`
    * join with the stream on the left. Output schema is the batch
    * artifact's `(rule_id, doc_id, part, span_offset, detail)`. */
  def violationsStream(stream: DataFrame, rules: Seq[BoundRule],
                       assets: Option[DataFrame] = None): DataFrame = {
    requireStreamable(rules)
    val narrow = ValidationEngine.annotateNarrow(stream, rules, "doc_id", "part",
      assets.map(_ => ReferentialIntegrity.refs).toSeq)
    ValidationEngine.violationsFromNarrow(narrow, rules, assets)
  }

  /** Watermarked streaming dedup on `keyCol` — the streaming face of the
    * batch engine's uniqueness rule: state is bounded by the watermark
    * horizon (keys older than `watermark` are evicted), so this is the
    * keep-first analogue for ingestion pipelines, NOT the batch
    * `duplicated(keep=False)` global rule (that one needs the full key set
    * and runs in the batch engine's uniqueness agg). */
  def dedupStream(stream: DataFrame, keyCol: String, eventTimeCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Watermarked per-(window, part) verdict counts — the streaming analogue
    * of the batch per-partition verdict row. `eventTimeCol` must be a
    * timestamp column on the stream; late data beyond `watermark` is
    * dropped, which bounds state to O(open windows × parts). Aggregation is
    * the same map-side-partial `groupBy().agg()` shape as the batch verdict
    * pass, so it scales with executor count, not stream length. */
  def windowedVerdicts(stream: DataFrame, rules: Seq[BoundRule],
                       eventTimeCol: String, windowDuration: String,
                       watermark: String = "10 minutes"): DataFrame = {
    val annotated = annotate(stream, rules)
    annotated
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowDuration), col("part"))
      .agg(count(lit(1)).as("total_rows"),
           sum(when(col(ValidationEngine.StatusCol) === "FAIL", 1L)
             .otherwise(0L)).as("failed"))
      .select(col("window"), col("part"), col("total_rows"),
        (col("total_rows") - col("failed")).as("passed"), col("failed"),
        when(col("failed") > 0, lit("FAIL")).otherwise(lit("PASS")).as("status"))
  }
}
