package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.RuleSpec._
import graft.rules.{BoundRule, ValidationEngine}
import graft.clean.Cleaners
import graft.stats.Profiler
import graft.text.Text
import graft.dedup.{Components, Dedup}
import graft.sim.Similarity
import graft.sample.Sampling

/**
 * Driver contract: one `queries` entry per implemented operator
 * (SURVEY.md §2 + training-data ops), each with an equivalent DuckDB oracle
 * in `oracleSql` (omitted only for ops not expressible in ANSI SQL — those
 * get the driver's weaker rows-only check).
 *
 * Oracle-parity rules used throughout:
 *  - float aggregates are `round(x, N)` on BOTH sides (never raw doubles);
 *  - cross-engine hashes are md5-based ([[Text.portableHash]]);
 *  - every output is deterministic under any row order (no bare limits);
 *  - column names match the SQL aliases exactly (driver sorts by name).
 */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"
  private def read(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(t(dir, name))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // Validation rule set for q06 — mirrors Rules.failureMask semantics.
  private val eventRules = Seq(
    BoundRule(Required("event_type"), Some("event_type required")),
    BoundRule(AllowedValues("event_type",
      Seq("click", "view", "purchase", "signup", "error")), Some("unknown event_type")),
    BoundRule(NumericRange("value", 0.01, 400.0), Some("value out of range")),
    BoundRule(Pattern("props", "^\\{.*\\}$", "json"), Some("props not json-ish")),
    BoundRule(Formula("value", "value >= 10 OR event_type <> 'view'"),
      Some("view below min value")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](

    // ---------------------------------------------------------- relational core
    // A1/A3-style grouped aggregation (pricing summary, TPC-H Q1 shape)
    "q01_pricing_summary" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             round(sum(col("l_extendedprice")), 2).as("sum_base"),
             round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
             round(avg(col("l_quantity")), 4).as("avg_qty"),
             count(lit(1)).as("n"))
    }),

    // A2/A3 — per-column profile aggregates in one pass (exact distinct for oracle)
    "q02_column_profile" -> ((s, dir) => {
      read(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("distinct_parts"),
        sum(col("l_quantity").isNull.cast("long")).as("null_qty"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        sum((col("l_discount") === 0.0).cast("long")).as("zero_discounts"))
    }),

    // A6/O1 — top-5 value counts, deterministic tie-break
    "q03_topk_values" -> ((s, dir) => {
      Profiler.topK(read(s, dir, "part"), "p_brand", 5)
        .select(col("p_brand"), col("cnt"))
    }),

    // P4 — Unique rule: all duplicated key values + their counts
    "q04_unique_rule" -> ((s, dir) => {
      graft.engine.UniquenessCheck.duplicateKeys(read(s, dir, "orders"), "o_custkey")
        .select(col("o_custkey"), col("dup_count"))
    }),

    // J4/P6 — referential integrity: lineitem partkeys not in the (filtered)
    // catalog; catalog restricted to p_size <= 25 to make violations non-empty
    "q05_ref_integrity" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val catalog = read(s, dir, "part").where(col("p_size") <= 25)
        .select(col("p_partkey"))
      li.join(broadcast(catalog), li("l_partkey") === catalog("p_partkey"), "left_anti")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_rows"))
    }),

    // P1-P16 — declarative validation: per-row status + pipe-joined reasons
    "q06_validation_status" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val res = ValidationEngine.annotate(ev, eventRules)
      res.select(col("event_id"), col("_val_status"), col("_val_reason"))
    }),

    // P10 — per-rule failure counts in one agg
    "q06b_rule_summary" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val res = ValidationEngine.validate(ev, eventRules)
      s.createDataFrame(res.columnSummary.map(c =>
        (c.rule_id, c.failed_count)).sortBy(_._1))
        .toDF("rule_id", "failed_count")
    }),

    // C12/W4 — keep-latest dedup by timestamp
    "q07_dedup_keep_latest" -> ((s, dir) => {
      Cleaners.keepLatest(read(s, dir, "events")
          .withColumn("__ord", struct(col("ts"), col("event_id"))),
          Seq("user_id"), "__ord")
        .select(col("user_id"), col("event_id"))
    }),

    // W1-style running aggregate over an explicit order
    "q08_running_window" -> ((s, dir) => {
      val ev = read(s, dir, "events").where(col("user_id") < 5)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(col("event_id"), round(sum(col("value")).over(w), 2).as("running_value"))
    }),

    // J-class — join + aggregate (broadcast dimension)
    "q09_join_revenue" -> ((s, dir) => {
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
             count(lit(1)).as("n_orders"))
    }),

    // A8/A19 — duplicate-key statistics (quick-stats shape)
    "q10_dup_stats" -> ((s, dir) => {
      val o = read(s, dir, "orders")
      o.groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("distinct_keys"),
             sum(col("cnt") - 1).as("duplicate_rows"),
             sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("keys_with_dups"))
    }),

    // C16 — median imputation (nulls constructed deterministically)
    "q11_impute_median" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val masked = ev.withColumn("v",
        when(col("event_type") === "error", lit(null).cast("double"))
          .otherwise(col("value")))
      // exact median, scale-shaped like q12b: pre-aggregate to
      // (value, count) — parallel hash agg — then one weighted-percentile
      // whose buffer is bounded by the DISTINCT value count, instead of a
      // scalar percentile agg single-buffering the raw column
      val med = masked.where(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as("n"))
        .agg(expr("percentile(v, 0.5, n)").as("m")).collect()(0).getDouble(0)
      masked.select(col("event_id"), round(coalesce(col("v"), lit(med)), 2).as("value_imputed"))
    }),

    // C18/C20 — range clip with fixed bounds + violation count per flag
    "q12_outlier_clip" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(Cleaners.clip(col("l_extendedprice"), 1000.0, 50000.0)), 2).as("sum_clipped"),
             sum((col("l_extendedprice") < 1000.0 || col("l_extendedprice") > 50000.0)
               .cast("long")).as("n_outliers"))
    }),

    // A10 — IQR bounds from exact percentiles (driver fold → single-row df)
    "q12b_iqr_bounds" -> ((s, dir) => {
      // EXACT percentiles, but scale-shaped: pre-aggregate to (value, count)
      // — a parallel hash agg — then ONE weighted-percentile agg whose buffer
      // is bounded by the DISTINCT value count, and all three quantiles come
      // from one buffer (three scalar percentile aggs each buffered the whole
      // column: measured 5.6 s → 2.0 s at sf0.1). Weighted exact percentile
      // of (value, count) ≡ exact percentile of the raw column.
      read(s, dir, "lineitem")
        .groupBy(col("l_extendedprice").as("v")).agg(count(lit(1)).as("n"))
        .agg(expr("percentile(v, array(0.25, 0.5, 0.75), n)").as("qs"))
        .select(round(element_at(col("qs"), 1), 2).as("q1"),
                round(element_at(col("qs"), 2), 2).as("median"),
                round(element_at(col("qs"), 3), 2).as("q3"))
    }),

    // ------------------------------------------------------------- text ops
    "q13_text_stats" -> ((s, dir) => {
      // one-pass TokenStats custom expression (same semantics as the
      // Text.* HOF formulations; pinned by the DuckDB oracle)
      read(s, dir, "documents")
        .select(col("doc_id"), graft.functions.F.tokenStats(col("text")).as("ts"),
          col("text"))
        .select(
          col("doc_id"),
          col("ts.n_tokens").as("n_tokens"),
          col("ts.n_bpe").as("n_bpe_tokens"),
          round(when(col("ts.len") === 0, 0.0)
            .otherwise(col("ts.n_punct").cast("double") / col("ts.len")), 4)
            .as("punct_ratio"),
          round(when(col("ts.n_tokens") === 0, 0.0)
            .otherwise(col("ts.n_stop").cast("double") / col("ts.n_tokens")), 4)
            .as("stopword_ratio"))
    }),

    "q14_lang_quality" -> ((s, dir) => {
      // per-language stopword hits via one TokenStats pass per language
      // (tight loops); quality recomposed from the shared stats struct with
      // the exact same arithmetic as Text.qualityScore
      val langScores = Text.Langs.map(l =>
        graft.functions.F.tokenStats(col("text"), Text.Stopwords(l))
          .getField("n_stop"))
      val best = langScores.reduce((a, b) => greatest(a, b))
      val langGuess = Text.Langs.zip(langScores)
        .foldLeft(when(lit(false), lit("")): Column) {
          case (acc, (l, sc)) => acc.when(sc === best && best > 0, lit(l))
        }.otherwise(lit("und"))
      val ts = graft.functions.F.tokenStats(col("text"))
      val n = ts.getField("n_tokens").cast("double")
      val len = ts.getField("len").cast("double")
      val punctRatio = when(len === 0, 0.0)
        .otherwise(ts.getField("n_punct").cast("double") / len)
      val wsRatio = when(len === 0, 0.0)
        .otherwise(ts.getField("n_ws").cast("double") / len)
      val lenScore = least(n / 100.0, lit(1.0))
      val punctOk = lit(1.0) - least(punctRatio * 4.0, lit(1.0))
      val avgWordLen = when(n === 0, 0.0)
        .otherwise((len - ts.getField("n_ws").cast("double")) / n)
      val wordLenOk = when(avgWordLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
      val wsOk = lit(1.0) - least(wsRatio * 2.0, lit(1.0))
      read(s, dir, "documents").select(
        col("doc_id"),
        langGuess.as("lang_guess"),
        round(lenScore * 0.4 + punctOk * 0.2 + wordLenOk * 0.2 + wsOk * 0.2, 4)
          .as("quality"))
    }),

    "q15_fingerprint" -> ((s, dir) => {
      read(s, dir, "documents").select(
        col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
    }),

    // ----------------------------------------------------------- dedup family
    // exact dedup on a 64-char normalized prefix (non-trivial groups exist)
    "q16_exact_dedup_prefix" -> ((s, dir) => {
      read(s, dir, "documents")
        .groupBy(substring(Text.normalize(col("text")), 1, 64).as("prefix"))
        .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keep_id"))
        .where(col("dup_count") > 1)
        .select(Text.portableHash(col("prefix")).as("prefix_hash"),
          col("dup_count"), col("keep_id"))
    }),

    // MinHash signatures (first 4 hash slots exposed for oracle check)
    "q17_minhash_sig" -> ((s, dir) => {
      val sig = Dedup.minhashSignature(col("text"), k = 4, shingleK = 3)
      read(s, dir, "documents").select(
        col("doc_id"),
        element_at(sig, 1).as("mh0"), element_at(sig, 2).as("mh1"),
        element_at(sig, 3).as("mh2"), element_at(sig, 4).as("mh3"))
    }),

    // MinHash LSH candidate pairs (portable hashes: the banding is
    // deterministic md5 math, so DuckDB re-derives the same buckets)
    "q17b_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashCandidatePairs(read(s, dir, "documents"), "text", "doc_id",
        k = 16, bands = 4, shingleK = 3, portable = true)
    }),

    // SimHash (16-bit portable variant for oracle tractability)
    "q18_simhash" -> ((s, dir) => {
      read(s, dir, "documents").select(
        col("doc_id"), Dedup.simhash(col("text"), bits = 16).as("simhash16"))
    }),

    // n-gram Jaccard near-dup pairs. The ORACLE-parity path is the exact
    // prefix-filter join (recall 1.0 by construction) — parity must hold on
    // ANY dataset, not because this fixture's pairs happen to sit at J≥0.9
    // where the banded route's S-curve miss rate is ~1e-22 (ADVICE r3).
    "q20_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(read(s, dir, "documents"), "text", "doc_id",
        shingleK = 3, minJaccard = 0.3, forceExact = true)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // The low-threshold SCALE path (banded MinHash candidates + exact verify)
    // benchmarked separately, rows-only: its recall is the LSH S-curve
    // (logged analytically per call), so exact-oracle parity is not a claim
    // it makes — DedupRecallSpec pins its zero-false-positive + recall-floor
    // guarantees instead.
    "q20b_ngram_jaccard_banded" -> ((s, dir) => {
      Dedup.ngramJaccardPairsViaMinhash(read(s, dir, "documents"), "text",
        "doc_id", shingleK = 3, minJaccard = 0.3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // transitive near-dup clusters over the exact pair set: pairs →
    // large-star/small-star connected components; cluster id = min doc_id.
    // The oracle closes the same pair set with a recursive CTE.
    "q39_neardup_clusters" -> ((s, dir) => {
      Components.nearDupClusters(read(s, dir, "documents"), "text", "doc_id",
        shingleK = 3, minJaccard = 0.3, forceExact = true)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
    }),

    // deterministic hash split: stable train/val/test assignment keyed on
    // doc_id (reproducible across runs/engines — the oracle re-derives the
    // same assignment from the same md5 formula)
    "q40_hash_split" -> ((s, dir) => {
      Sampling.hashSplit(read(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("split"))
    }),

    // per-source quota (source mixing): the 10 smallest doc_ids per source
    // via ONE bounded-state aggregate — never a per-group window
    "q41_source_quota" -> ((s, dir) => {
      Sampling.quotaIds(read(s, dir, "documents"), "source", "doc_id", n = 10)
        .select(col("group").as("source"), col("id").as("doc_id"))
    }),

    // stratified deterministic mixture sample by language: per-group keep
    // fractions over a SALTED portable hash — a pure projection filter (zero
    // shuffle), stable under retries/backfills, decoupled from the q40 split
    "q42_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedHashSample(read(s, dir, "documents"), "doc_id", "lang",
        fractions = Map("en" -> 0.5, "zh" -> 1.0, "es" -> 0.25, "de" -> 0.1))
        .select(col("doc_id"), col("lang"))
    }),

    // corpus token heavy hitters via the mergeable Misra–Gries summary: ONE
    // O(capacity)-state aggregate, never a full-domain groupBy shuffle (a
    // token column at 100 TB has billions of distinct values). capacity 64
    // exceeds the fixture vocabulary, so the summary is provably exact here
    // (max_err = 0) and hash-comparable to the oracle's exact GROUP BY; the
    // approximate regime's under-count/error-bound guarantees are pinned in
    // SketchSpec.
    "q43_token_heavy_hitters" -> ((s, dir) => {
      val toks = read(s, dir, "documents")
        .select(explode(split(col("text"), " ", -1)).as("tok"))
        .where(col("tok") =!= "")
      Profiler.heavyHitters(toks, col("tok"), k = 15, capacity = 64)
        .select(col("value"), col("cnt"))
    }),

    // intra-document repetition (Gopher-style duplicate-bigram quality
    // filter): pure per-row projection, no shuffle — at 100 TB a repetition
    // threshold composes into the scan-side filter of any pipeline
    "q44_repetition" -> ((s, dir) => {
      read(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          round(graft.functions.F.repetitionRatio(col("text"), 2), 4).as("rep_2gram"))
    }),

    // benchmark decontamination via winnowed fingerprints: corpus docs
    // sharing a token run of >= k+w-1 with any "eval set" doc (here: doc_id
    // % 7 == 0). The eval side of the join is definitionally small →
    // broadcast; the corpus side is one projection + explode, so at 100 TB
    // this is a single scan with a map-side hash probe, no shuffle
    "q45_decontamination" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .where(col("text").isNotNull && col("doc_id").isNotNull)
      def fprints(df: DataFrame) = df.select(col("doc_id"),
        explode(graft.functions.F.winnowFingerprints(col("text"), 5, 4)).as("fp"))
      val fps = fprints(docs)
      // fingerprint ONLY the eval subset for the broadcast build side —
      // never re-fingerprint the whole corpus to derive the small side
      val evalSet = fprints(docs.where(col("doc_id") % 7 === 0))
        .select(col("doc_id").as("eval_id"), col("fp"))
      fps.join(broadcast(evalSet), Seq("fp"))
        .where(col("doc_id") =!= col("eval_id"))
        .select(col("doc_id"), col("eval_id")).distinct()
    }),

    // ------------------------------------------------------ similarity search
    // brute-force cosine top-1 for the first 10 vectors
    "q19_cosine_top1" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", "q_id", "q_vec", 1)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
    }),

    // LSH-bucketed ANN (scale path; rows-only — hyperplane hashing in SQL is
    // impractical); recall vs q19 asserted in ScalaTest instead
    "q19b_lsh_ann" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.lshTopK(emb, q, "vec_id", "embedding", "q_id", "q_vec", 1, planes = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
    }),

    // IVF (coarse-quantized) ANN — the clustered-data scale path (rows-only;
    // SimilaritySpec asserts exact degradation at nProbe=nCells + recall)
    "q19c_ivf_ann" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfTopK(emb, q, "vec_id", "embedding", "q_id", "q_vec", 1,
        nCells = 8, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
    }),

    // embedding near-duplicates (rows-only)
    "q21_embedding_neardup" -> ((s, dir) => {
      // testdata embeddings are near-random (max pairwise cos ≈ 0.51), so the
      // "near-dup" threshold here is 0.4 to exercise the operator non-trivially
      Dedup.embeddingNearDups(read(s, dir, "embeddings"), "embedding", "vec_id",
        minCos = 0.4, planes = 2)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    }),

    // ------------------------------------------------------- cleaning family
    "q22_normalize_text" -> ((s, dir) => {
      read(s, dir, "events").select(
        col("event_id"),
        Cleaners.normalizeCase(col("event_type"), "title").as("type_title"),
        Cleaners.standardizeNulls(col("event_type")).as("type_std"))
    }),

    "q23_numeric_coercion" -> ((s, dir) => {
      // exercise C2 on synthetic dirty strings derived deterministically
      read(s, dir, "events").select(
        col("event_id"),
        round(Cleaners.coerceNumeric(
          concat(lit("$"), col("value").cast("string"))), 2).as("value_coerced"))
    }),

    "q24_boolean_coercion" -> ((s, dir) => {
      read(s, dir, "events").select(
        col("event_id"),
        Cleaners.coerceBoolean(
          when(col("value") > 100, lit("yes")).otherwise(lit("OFF"))).as("flag"))
    })
  ) ++ scoreQueries ++ engineQueries

  // A21-A25/V11 — table quality score from rule failure counts (driver fold)
  private def scoreQueries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "q27_quality_score" -> ((s, dir) => {
      import s.implicits._
      val ev = read(s, dir, "events")
      val res = ValidationEngine.validate(ev, eventRules)
      val issues = res.columnSummary.map(c => graft.core.ValidationIssue(
        c.column, "UNKNOWN", "ERROR", c.rule_id, "", c.failed_count, Nil, ""))
      val sc = graft.semantic.Scorer.score(res.totalRows, issues)
      Seq((sc.score, sc.penaltyTotal)).toDF("score", "penalty_total")
    }),

    // A26 north-rule drift: KS + chi2 over sketches (rows-only: sketch
    // internals are engine-specific)
    "q25_drift_check" -> ((s, dir) => {
      import s.implicits._
      val ev = read(s, dir, "events")
      // batched path (VERDICT r3 item 3): the same-distribution and the
      // synthetically-drifted variants sketch in ONE wide agg over the
      // current side, the baseline in one more — 2 jobs total (was 4)
      val base = ev.where(col("event_id") % 2 === 0).select(col("value").as("v"))
      val cur = ev.where(col("event_id") % 2 === 1)
        .select(col("value").as("v"), (col("value") * 1.5 + 25.0).as("v_drift"))
      // the two per-side sketch aggs are independent single-task jobs (each
      // side is one input split at this SF) — submit them concurrently so
      // the second isn't serialized behind the first (guide §2.6); each
      // side's sketch is built by the identical per-side plan, so the
      // sketch contents (and the drift verdicts) are unchanged
      val (skBase, skCur) = graft.Par(graft.stats.Drift.sketchColumn(base, "v"),
        graft.stats.Drift.sketchColumns(cur, Seq("v", "v_drift")))
      val quiet = graft.stats.Drift.checkSketches(skBase, skCur("v"), "v")
      val loud = graft.stats.Drift.checkSketches(skBase, skCur("v_drift"), "v")
      Seq(
        ("same_dist", quiet.ks, quiet.ksDrifted, quiet.chi2, quiet.chi2Drifted),
        ("shifted_dist", loud.ks, loud.ksDrifted, loud.chi2, loud.chi2Drifted)
      ).toDF("case", "ks", "ks_drifted", "chi2", "chi2_drifted")
        .select(col("case"), round(col("ks"), 4).as("ks"), col("ks_drifted"),
          round(col("chi2"), 2).as("chi2"), col("chi2_drifted"))
    }),

    // A2 north-rule HLL sketches: estimate vs exact + relative error
    "q26_hll_distinct" -> ((s, dir) => {
      import s.implicits._
      val li = read(s, dir, "lineitem")
      val hll = graft.stats.Sketches.hllCountDistinct(12)
      // HLL udaf kept in its own agg: mixing with countDistinct forces the
      // Expand-based multi-distinct plan, which drops the object-hash-agg
      // fast path for the udaf buffer (measured 20x slower)
      // the HLL agg and the exact-distinct agg are independent jobs —
      // overlap them (guide §2.6); each plan and result is unchanged
      val (est, exact) = graft.Par(
        li.agg(hll(xxhash64(col("l_partkey"))).as("est_parts"),
          hll(xxhash64(col("l_orderkey"))).as("est_orders")).collect()(0),
        li.agg(countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders")).collect()(0))
      Seq(("l_partkey", est.getLong(0), exact.getLong(0)),
          ("l_orderkey", est.getLong(1), exact.getLong(1)))
        .toDF("column", "estimate", "exact")
        .withColumn("rel_err_pct",
          round(abs(col("estimate") - col("exact")) * 100.0 / col("exact"), 2))
    }),

    // V1-V11 + C27-C36 over the reference's semantic fixture (materialized to
    // parquet so the DuckDB oracle reads the identical rows)
    "q28_semantic_issues" -> ((s, dir) => {
      import s.implicits._
      val people = graft.fixtures.Fixtures.peoplePq(s)
      val tm = graft.semantic.Detector.detectTypes(people)
      val issues = graft.semantic.SemanticValidators.validate(people, tm,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      issues.map(i => (i.column, i.rule_id, i.severity, i.rows_affected))
        .toDF("column", "rule_id", "severity", "rows_affected")
    }),
    "q29_semantic_clean" -> ((s, dir) => {
      val res = graft.semantic.SemanticPipeline.process(
        graft.fixtures.Fixtures.peoplePq(s),
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      res.cleaned
    }),

    // multimodal plumbing: magic-byte sniff + checksum + stub decode. The
    // portable variant emits scalar columns only (checksum + f0..f7 via
    // md5-60) so the output is sortable/hashable and DuckDB-reproducible.
    "q32_media_metadata" -> ((s, dir) => {
      graft.multimodal.Media.extractMetadataPortable(
        graft.multimodal.Media.syntheticAssets(s, 500))
    }),

    // C38/A24 — auto-generated cleaning rules from one stats pass
    "q33_rule_generation" -> ((s, dir) => {
      import s.implicits._
      val gen = graft.clean.RuleGenerator.generate(
        graft.fixtures.Fixtures.peoplePq(s))
      gen.columns.map(c => (c.column, c.semanticType,
          c.handleSemantic.getOrElse(""), c.handleMissing.getOrElse(""),
          c.missingCount))
        .toDF("column", "semantic_type", "handle_semantic", "handle_missing",
          "missing_count")
    }),

    // A16-A21 — quality dimensions + weighted score (rows-only)
    "q34_quality_dimensions" -> ((s, dir) => {
      import s.implicits._
      val ev = read(s, dir, "events")
      val (dims, score) = graft.stats.Metrics.qualityReport(ev)
      Seq((dims.completeness.completenessPct, dims.validity.castSuccessRatePct,
        dims.uniqueness.duplicateRowPct, score))
        .toDF("completeness_pct", "conformance_pct", "dup_row_pct", "score")
        .select(round($"completeness_pct", 4).as("completeness_pct"),
          round($"conformance_pct", 4).as("conformance_pct"),
          round($"dup_row_pct", 4).as("dup_row_pct"),
          round($"score", 2).as("score"))
    }),

    // V11/S14 — semantic report score with the reference's penalty-breakdown
    // shape (report_demo_data.json:30-70): one row per penalty line plus
    // TOTAL (penalty sum) and SCORE rows
    "q36_semantic_report" -> ((s, dir) => {
      import s.implicits._
      val people = graft.fixtures.Fixtures.peoplePq(s)
      val tm = graft.semantic.Detector.detectTypes(people)
      // row count and the validation agg are independent jobs — overlap them
      val (n, issues) = graft.Par(people.count(),
        graft.semantic.SemanticValidators.validate(people, tm,
          java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      val sc = graft.semantic.Scorer.score(n, issues)
      (sc.breakdown.map(l => (l.rule, l.severity, l.rows, l.penalty)) ++
        Seq(("TOTAL", "", 0L, sc.penaltyTotal), ("SCORE", "", 0L, sc.score)))
        .toDF("rule", "severity", "rows", "penalty")
    }),

    // P11 — auto rule templates from header keywords
    // (ui/pages/validate.py:541-579), run end-to-end over the people fixture
    "q37_rule_templates" -> ((s, dir) => {
      import s.implicits._
      val people = graft.fixtures.Fixtures.peoplePq(s)
      val rules = graft.rules.Templates.bind(people.columns.toSeq)
      val res = ValidationEngine.validate(people, rules)
      res.columnSummary.map(c => (c.rule_id, c.failed_count))
        .toDF("rule_id", "failed_count")
    }),

    // A22 (40/30/20/10 report score) + A23 (quality score v2): completeness /
    // importance / missingness / drift derived from the people fixture and
    // its semantic clean; step logs pinned so the oracle re-derives the folds
    "q38_report_scores" -> ((s, dir) => {
      import s.implicits._
      val people = graft.fixtures.Fixtures.peoplePq(s)
      val cleaned = graft.semantic.SemanticPipeline.process(people,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).cleaned
      // the four stat scans (profile × 2 sides, duplicate-count × 2 sides)
      // are independent — run them concurrently (guide §2.6) and feed the
      // A23 fold the ALREADY-computed profiles instead of re-profiling both
      // frames inside scoreFrames (r5 profiled `cleaned` twice)
      val (profI, prof, dupI, dupF) = graft.Par(
        graft.stats.Profiler.profile(people), graft.stats.Profiler.profile(cleaned),
        graft.stats.Profiler.duplicateRowCount(people),
        graft.stats.Profiler.duplicateRowCount(cleaned))
      val rows = prof.headOption.map(p => p.count + p.nulls).getOrElse(0L)
      val logs = Seq(
        graft.stats.StepLog("verify", passed = false, issues = 2, warnings = 3),
        graft.stats.StepLog("enforce_schema", typeConversions = 5, errors = 1),
        graft.stats.StepLog("deduplicate", duplicatesRemoved = 0))
      val m = graft.stats.ReportBuilder.metrics(rows, prof.size, prof.map(_.nulls).sum,
        logs, initialDupRows = dupI)
      val (v2, _) = graft.stats.QualityReportV2.scoreFromProfiles(profI, prof, dupF, Nil)
      Seq((m.completenessScore, m.validityScore, m.consistencyScore,
          m.uniquenessScore, m.overallScore, v2))
        .toDF("a22_completeness", "a22_validity", "a22_consistency",
          "a22_uniqueness", "a22_overall", "a23_score")
        .select(round($"a22_completeness", 4).as("a22_completeness"),
          round($"a22_validity", 4).as("a22_validity"),
          round($"a22_consistency", 4).as("a22_consistency"),
          round($"a22_uniqueness", 4).as("a22_uniqueness"),
          round($"a22_overall", 2).as("a22_overall"),
          round($"a23_score", 1).as("a23_score"))
    }),

    // A27 — keyed raw-vs-clean cell diff after the C37 dynamic-clean pass
    "q35_cell_diff" -> ((s, dir) => {
      import s.implicits._
      val ev = read(s, dir, "events").withColumn("event_type",
        when(col("event_id") % 7 === 0, concat(lit("  "), col("event_type")))
          .otherwise(col("event_type")))
      val cleaned = ev.withColumn("event_type", trim(col("event_type")))
      graft.stats.Metrics.cellDiff(ev, cleaned, "event_id").toSeq.sorted
        .toDF("column", "changed_cells")
    }))

  /** Engine-level queries over the generated fixture docs, materialized to
    * parquet once (shared by q30/q31 and read by the DuckDB oracle, which
    * re-derives every rule's semantics in SQL over the same file). */
  private val engineFixtureRules = Seq(
    BoundRule(Required("doc_id")), BoundRule(SpanOffsetsMonotonic()),
    BoundRule(SpanFieldConsistency()), BoundRule(SpansNonEmpty()))

  private def engineQueries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](
    "q30_engine_verdicts" -> ((s, dir) => {
      val docs = graft.fixtures.Fixtures.docsPq(s, 20000, 8)
      val assets = graft.fixtures.Fixtures.assets(s)
      val cfg = graft.engine.EngineConfig(rules = engineFixtureRules)
      val (verdicts, _) = new graft.engine.ValidationRun(s, cfg).run(docs, Some(assets))
      verdicts
    }),
    "q31_engine_violations" -> ((s, dir) => {
      val docs = graft.fixtures.Fixtures.docsPq(s, 20000, 8)
      val assets = graft.fixtures.Fixtures.assets(s)
      val cfg = graft.engine.EngineConfig(rules = engineFixtureRules)
      val (_, viols) = new graft.engine.ValidationRun(s, cfg).run(docs, Some(assets))
      viols.groupBy("rule_id").agg(count(lit(1)).as("n"))
    })
  )

  /** DuckDB oracles. Table names = parquet basenames. */
  def oracleSql: Map[String, String] = OracleSql.all
}
