package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.F

/**
 * `F.spanChecks` (the one-pass span kernel behind the three span rules)
 * against a reference written with Spark's built-in higher-order functions,
 * over generated spans covering null and empty arrays, null elements, null
 * `kind`, null `offset`, and equal or decreasing offsets.
 */
class SpanChecksSpec extends SparkSpec {

  private val spanType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType)))

  private def genSpans(rnd: scala.util.Random): Seq[Row] =
    rnd.nextInt(20) match {
      case 0 => null
      case 1 => Seq.empty
      case _ =>
        var off = rnd.nextInt(5)
        Seq.fill(1 + rnd.nextInt(6)) {
          off += Seq(-2, -1, 0, 1, 1, 3, 7)(rnd.nextInt(7))
          if (rnd.nextInt(10) == 0) null
          else Row(
            Seq("text", "text", "image", "audio", null, "Text")(rnd.nextInt(6)),
            if (rnd.nextBoolean()) s"t$off" else null,
            if (rnd.nextBoolean()) s"m$off" else null,
            if (rnd.nextInt(8) == 0) null else Int.box(off))
        }
    }

  /** The q30/q31 oracle's span rules (`OracleSql.docFlags`) with HOFs: a
    * null offset compares as Int.MinValue, a null element is a span whose
    * fields are all null (so field-inconsistent), and each check keeps its
    * first offending span's offset, null when that offset is null. */
  private def reference(spans: Column): Column = {
    val init = struct(lit(Int.MinValue).as("prev"),
      lit(false).as("mb"), lit(null).cast("int").as("mo"),
      lit(false).as("fb"), lit(null).cast("int").as("fo"), lit(0).as("i"))
    val folded = aggregate(spans, init, (acc, s) => {
      val off = coalesce(s.getField("offset"), lit(Int.MinValue))
      val isText = coalesce(s.getField("kind") === "text", lit(false))
      val field = when(isText, s.getField("text").isNull || s.getField("media_ref").isNotNull)
        .otherwise(s.getField("media_ref").isNull || s.getField("text").isNotNull)
      val mono = acc.getField("i") > 0 && off <= acc.getField("prev")
      struct(off.as("prev"),
        (acc.getField("mb") || mono).as("mb"),
        when(!acc.getField("mb") && mono, s.getField("offset"))
          .otherwise(acc.getField("mo")).as("mo"),
        (acc.getField("fb") || field).as("fb"),
        when(!acc.getField("fb") && field, s.getField("offset"))
          .otherwise(acc.getField("fo")).as("fo"),
        (acc.getField("i") + 1).as("i"))
    })
    when(spans.isNull || size(spans) === 0,
        struct(lit(false).as("mono_bad"), lit(null).cast("int").as("mono_bad_offset"),
          lit(false).as("field_bad"), lit(null).cast("int").as("field_bad_offset"),
          lit(true).as("is_empty")))
      .otherwise(struct(folded.getField("mb").as("mono_bad"),
        folded.getField("mo").as("mono_bad_offset"),
        folded.getField("fb").as("field_bad"),
        folded.getField("fo").as("field_bad_offset"), lit(false).as("is_empty")))
  }

  test("spanChecks equals the HOF reference on generated spans") {
    val rnd = new scala.util.Random(20261017)
    val rows = (0 until 3000).map(i => Row(i, genSpans(rnd)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("id", IntegerType),
        StructField("spans", ArrayType(spanType, containsNull = true)))))
    val got = df.select(col("id"), F.spanChecks(col("spans")).as("k"),
        reference(col("spans")).as("r"))
      .collect()
    assert(got.length === 3000)
    val diff = got.filter(r => r.get(1) != r.get(2))
    assert(diff.isEmpty, diff.take(5).mkString("\n"))
    // the generator reaches every edge the kernel branches on
    val ks = got.map(_.getStruct(1))
    assert(ks.count(_.getBoolean(4)) > 0)
    assert(ks.count(k => !k.isNullAt(1)) > 0 && ks.count(k => !k.isNullAt(3)) > 0)
    // offending spans whose offset is null report null, not a sentinel
    assert(ks.count(k => k.getBoolean(0) && k.isNullAt(1)) > 0)
    assert(ks.count(k => k.getBoolean(2) && k.isNullAt(3)) > 0)
    assert(rows.exists(r => r.getSeq[Row](1) != null && r.getSeq[Row](1).contains(null)))
  }
}
