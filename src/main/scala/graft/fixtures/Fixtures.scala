package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Asset, Doc, Span}

/**
 * Deterministic fixture generators (FIXTURES.md; no external data).
 *
 * Two tiers:
 *  - `goldenDocs` — a literal, hand-authored set of interleaved documents
 *    covering every violation class once, with exactly-known expected
 *    verdicts/violations (golden tests assert row-for-row, including
 *    span-sequence equality per BASELINE.json `input_hint`).
 *  - `docs(spark, n, …)` — a distributed expression-based generator
 *    (spark.range + xxhash64-seeded dirt), deterministic for any
 *    partitioning/parallelism, used for integration + bench scales. Dirt rates
 *    mirror the reference's dirty fixtures
 *    (`/root/reference/tests/test_engines.py:46-56`,
 *    `/root/reference/data/semantic_deep_test.csv:1-7`).
 */
object Fixtures {

  // ----------------------------------------------------- materialized parquet
  /** Stable on-disk copies of the fixtures, so the driver's DuckDB oracle can
    * `read_parquet()` the EXACT rows the Spark queries consumed (and so the
    * engine queries read real files instead of re-generating per run). Bump
    * [[FixtureVersion]] whenever a generator changes. Absolute, resolved
    * against the working directory, so a checkout's run keeps to its own
    * `target/`. */
  val FixtureDir: String = new java.io.File("target/fixtures").getAbsolutePath
  val FixtureVersion = "v2"

  def fixturePath(name: String): String =
    s"$FixtureDir/${name}_$FixtureVersion.parquet"

  private def materialize(spark: SparkSession, name: String,
                          gen: => DataFrame): DataFrame = synchronized {
    val path = fixturePath(name)
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      gen.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** [[people]] read back from its materialized parquet. */
  def peoplePq(spark: SparkSession): DataFrame =
    materialize(spark, "people", people(spark))

  /** [[docs]] read back from its materialized parquet (one write per
    * (nDocs, nParts) shape, reused by q30/q31/bench and the DuckDB oracle). */
  def docsPq(spark: SparkSession, nDocs: Long, nParts: Int = 8): DataFrame =
    materialize(spark, s"docs_${nDocs}_$nParts", docs(spark, nDocs, nParts))

  // ---------------------------------------------------------------- golden F1
  /** 12 hand-authored docs, partitioned 0/1. Violations by design:
    *  d00 clean | d01 clean multi-span | d02 dup of d03 (doc_id "dup-1") |
    *  d03 dup   | d04 null doc_id | d05 blank doc_id | d06 dangling media_ref |
    *  d07 non-monotonic offsets | d08 duplicate offsets | d09 empty spans |
    *  d10 media span with text (field consistency) | d11 text span with
    *  media_ref (field consistency). */
  val goldenDocs: Seq[Doc] = Seq(
    Doc("d00", Seq(Span("text", "hello world", null, 0)), 0),
    Doc("d01", Seq(Span("text", "a quick brown fox", null, 0),
                   Span("image", null, "asset-1", 1),
                   Span("text", "jumps over", null, 2)), 0),
    Doc("dup-1", Seq(Span("text", "first copy", null, 0)), 0),
    Doc("dup-1", Seq(Span("text", "second copy", null, 0)), 1),
    Doc(null, Seq(Span("text", "orphan", null, 0)), 0),
    Doc("  ", Seq(Span("text", "blank id", null, 0)), 1),
    Doc("d06", Seq(Span("image", null, "asset-MISSING", 0)), 0),
    Doc("d07", Seq(Span("text", "x", null, 0), Span("text", "y", null, 2),
                   Span("text", "z", null, 1)), 1),
    Doc("d08", Seq(Span("text", "x", null, 0), Span("text", "y", null, 0)), 0),
    Doc("d09", Seq.empty[Span], 1),
    Doc("d10", Seq(Span("image", "stray text", "asset-2", 0)), 0),
    Doc("d11", Seq(Span("text", "has ref", "asset-3", 0)), 1))

  val goldenAssets: Seq[Asset] = Seq(
    Asset("asset-1", "image"), Asset("asset-2", "image"),
    Asset("asset-3", "audio"), Asset("asset-4", "video"))

  def goldenDocsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    goldenDocs.toDF()
  }
  def goldenAssetsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    goldenAssets.toDF()
  }

  // ------------------------------------------------------------ scalable F1
  private val words = Seq("the", "data", "span", "doc", "valid", "clean",
    "merge", "check", "rule", "table", "batch", "stream", "quality", "audit")

  /** Distributed deterministic docs table. Dirt (per-doc, keyed on xxhash64 of
    * the row id + a salt, so results are partitioning-invariant):
    *  - ~1/50  duplicate doc_id (maps onto a neighbour's id)
    *  - ~1/200 hot-prefix duplicate cluster ("hot-0"… — skew test)
    *  - ~1/97  null doc_id, ~1/131 blank doc_id
    *  - ~1/40  dangling media_ref (beyond the asset catalog)
    *  - ~1/60  non-monotonic offset, ~1/211 empty spans
    *  - ~1/70  media span carrying text (field inconsistency)
    */
  def docs(spark: SparkSession, nDocs: Long, nParts: Int = 8,
           nAssets: Int = 1000, seed: Int = 42): DataFrame = {
    val base = spark.range(0, nDocs)
    def h(salt: Int) = abs(xxhash64(col("id"), lit(seed), lit(salt)))
    val nSpans = (h(1) % 6 + 1).cast("int")
    val dupId = concat(lit("doc-"), ((col("id") / 50).cast("long") * 50).cast("string"))
    val hotId = concat(lit("hot-"), (h(2) % 3).cast("string"))
    val docId =
      when(h(3) % 97 === 0, lit(null).cast("string"))
        .when(h(4) % 131 === 0, lit("  "))
        .when(h(5) % 200 === 0, hotId)
        .when(h(6) % 50 === 0, dupId)
        .otherwise(concat(lit("doc-"), col("id").cast("string")))
    val emptySpans = h(7) % 211 === 0
    val nonMono = h(8) % 60 === 0
    val mediaWithText = h(9) % 70 === 0
    val dangling = h(10) % 40 === 0

    val spans = transform(sequence(lit(0), nSpans - 1), i => {
      val sh = abs(xxhash64(col("id"), i, lit(seed), lit(99)))
      val isText = sh % 3 =!= 0
      val w1 = element_at(array(words.map(lit): _*), (sh % words.size + 1).cast("int"))
      val w2 = element_at(array(words.map(lit): _*), ((sh / 7) % words.size + 1).cast("int"))
      val refIdx = when(dangling && i === 0, lit(nAssets) + sh % 1000)
        .otherwise(sh % nAssets)
      val offset = when(nonMono && i === 1, lit(0)).otherwise(i).cast("int")
      struct(
        when(isText, lit("text")).otherwise(when(sh % 2 === 0, lit("image")).otherwise(lit("audio"))).as("kind"),
        when(isText, concat_ws(" ", w1, w2))
          .when(mediaWithText && i === 0, lit("stray"))
          .otherwise(lit(null).cast("string")).as("text"),
        when(!isText, concat(lit("asset-"), refIdx.cast("string")))
          .otherwise(lit(null).cast("string")).as("media_ref"),
        offset.as("offset"))
    })
    base.select(
      docId.as("doc_id"),
      when(emptySpans, array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"))
        .otherwise(spans).as("spans"),
      (col("id") % nParts).cast("int").as("part"))
  }

  /** Asset catalog covering refs asset-0 … asset-(n-1); generator above makes
    * ~2.5% of docs reference past the end (expected violations, FIXTURES F2). */
  def assets(spark: SparkSession, nAssets: Int = 1000): DataFrame =
    spark.range(0, nAssets).select(
      concat(lit("asset-"), col("id").cast("string")).as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("id") % 3 + 1).cast("int")).as("media_kind"))

  // ---------------------------------------------------------------- F3 people
  /** Mirrors `/root/reference/data/semantic_deep_test.csv:1-7` line-for-line
    * (Excel serials in DOB/Age, bad dates, short phones, invalid emails,
    * missing genders/names). */
  def people(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("Priya", "35845", "35845", "9876543210", "priya@example.com", "Bangalore", "Female"),
      ("Rahul", "1990/12/31", "34", null, "rahul@domain", "Mumbai", "Male"),
      ("Anjali", "2000-01-01", "24", "12345", "anjali@invalid", "Delhi", "Female"),
      ("Suresh", "not_a_date", "150", "9000000000", null, "Chennai", "Male"),
      ("Deepa", "44211", "44211", "9988776655", "deepa@corp.co", "Pune", null),
      (null, "38000", null, "1020304050", "test@test.com", null, "Female")
    ).toDF("Name", "DOB", "Age", "Phone", "Email", "Location", "Gender")
  }

  // ------------------------------------------------------------- F4 employees
  /** Mirrors the dirty frame in `/root/reference/tests/test_engines.py:46-56`:
    * messy headers, currency strings, booleans as tokens, future dates,
    * a constant column, a full duplicate row. */
  def employees(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("  Alice  ", "30", "$50,000.00", "yes", "2020-01-15", "same", "A"),
      ("Bob", "45.5", "62000", "no", "2019-03-22", "same", "B"),
      ("Charlie", "abc", "not_a_number", "1", "2030-12-31", "same", "C"),
      ("Dana", "27", "71,500.50", "0", "2021-07-01", "same", "D"),
      ("Dana", "27", "71,500.50", "0", "2021-07-01", "same", "D"),
      (null, "-5", "55000", "maybe", null, "same", "E")
    ).toDF("  Full_name  ", "age", "salary", "is_active", "join_date",
           "const_col", "dup_col")
  }
}
