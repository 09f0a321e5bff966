package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{F, Hashing}
import graft.text.Text

/** Non-ASCII parity of the byte-path text kernels: every kernel equals an
  * independent reference on accented Latin, Greek with a word-final Σ, CJK,
  * a 4-byte emoji, KELVIN SIGN (lowers to ASCII `k`), `İ` (lowers to more
  * bytes), all six whitespace bytes, empty and blank text and invalid UTF-8.
  * The references lower the whole text with Java's `toLowerCase` (or
  * Spark's `lower`) and split on `\s`, so a kernel that lowered only ASCII
  * bytes, or lowered token by token, fails here. */
class TextKernelParitySpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "ascii" -> "The quick brown fox jumps over the lazy dog the quick brown fox",
    "latin" -> "Café CAFÉ café naïve NAÏVE École ÉCOLE Über über STRASSE straße",
    "greek" -> "ΟΔΟΣ ΣΟΦΟΣ ΟΔΟΣ οδος ΑΣ ΣΑ ΟΔΟΣ ΣΟΦΟΣ",
    "cjk" -> "中文 文本 测试 中文 文本 测试 中文",
    "emoji" -> "hi 😀 there 😀 HI 😀 there",
    "kelvin" -> "\u212Aelvin KELVIN kelvin \u212A k \u212A",
    "dotted" -> "İstanbul İSTANBUL istanbul İ i İ",
    "ws" -> "A\tb\nC\u000Bd\fE\rf g  H \t\n\u000B\f\r a b",
    "ws_uni" -> "Σ\tÉ\nİ\u000B\u212A\f😀\r中 Σ\tÉ",
    "empty" -> "",
    "blank" -> " \t\n\u000B\f\r ")

  /** The texts above plus invalid UTF-8 (a broken 2-byte lead, a stray
    * 0xFF, a truncated 3-byte sequence) between uppercase ASCII words. */
  private lazy val df: DataFrame = texts.toDF("id", "text").union(
    spark.range(1).select(lit("invalid").as("id"),
      unhex(lit("41C328204243FF4420C389434F4C4520E2822041424320C328")).cast("string")
        .as("text")))

  /** Driver-side copy of every text, as the kernels' String view sees it
    * (invalid UTF-8 already replaced by U+FFFD). */
  private lazy val driverTexts: Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def tokens(s: String): Array[String] =
    s.toLowerCase.split("\\s+").filter(_.nonEmpty)
  private def shingles(s: String, k: Int): Seq[String] = {
    val t = tokens(s)
    if (t.length <= k) Seq(t.mkString(" ")) else t.sliding(k).map(_.mkString(" ")).toSeq
  }
  private def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  /** Hex nibbles [from, from+15) of md5(s), parsed base-16. */
  private def md5Nibbles(s: String, from: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5").digest(utf8(s))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(from, from + 15), 16)
  }

  private def minhashRef(s: String, k: Int, shingleK: Int, portable: Boolean): Seq[Long] = {
    val sh = shingles(s, shingleK)
    (0 until k).map { i =>
      sh.map { x =>
        if (portable) md5Nibbles(x + "#" + i / 2, if (i % 2 == 0) 0 else 15)
        else Hashing.fast64(utf8(x), i * 0x9E3779B97F4A7C15L + 42L)
      }.min
    }
  }

  private def simhashRef(s: String, bits: Int, portable: Boolean): Long = {
    val votes = new Array[Int](bits)
    tokens(s).foreach { t =>
      val h = if (portable) Hashing.md5_60(utf8(t)) else Hashing.fast64(utf8(t), 42L)
      (0 until bits).foreach(b => votes(b) += (if (((h >>> b) & 1L) != 0L) 1 else -1))
    }
    (0 until bits).foldLeft(0L)((o, b) => if (votes(b) > 0) o | (1L << b) else o)
  }

  private def byId(cols: org.apache.spark.sql.Column*): Map[String, org.apache.spark.sql.Row] =
    df.select(($"id" +: cols): _*).collect().map(r => r.getString(0) -> r).toMap

  test("fixture reaches the non-ASCII path: every edge row but the ASCII ones has a byte >= 0x80") {
    val nonAscii = driverTexts.collect { case (id, s) if s.exists(_ >= 128) => id }.toSet
    assert(nonAscii === Set("latin", "greek", "cjk", "emoji", "kelvin", "dotted",
      "ws_uni", "invalid"))
    assert(driverTexts("invalid").contains('�'))
    // lowering changes the byte length on these rows
    assert(utf8(driverTexts("dotted").toLowerCase).length > utf8(driverTexts("dotted")).length)
    assert(utf8(driverTexts("kelvin").toLowerCase).length < utf8(driverTexts("kelvin")).length)
  }

  test("WordShingles (distinct and not) equals Text.shingles / array_distinct") {
    for (k <- Seq(1, 2, 3)) {
      val rows = byId(F.wordShingles($"text", k), Text.shingles($"text", k),
        F.wordShingles($"text", k, distinct = true), array_distinct(Text.shingles($"text", k)))
      assert(rows.size === texts.size + 1)
      rows.foreach { case (id, r) =>
        assert(r.getSeq[String](1) === r.getSeq[String](2), s"$id k=$k")
        assert(r.getSeq[String](3) === r.getSeq[String](4), s"$id k=$k distinct")
        assert(r.getSeq[String](1) === shingles(driverTexts(id), k), s"$id k=$k driver")
      }
    }
  }

  test("RepetitionRatio equals Text.repetitionRatio") {
    for (k <- Seq(1, 2, 3)) {
      byId(F.repetitionRatio($"text", k), Text.repetitionRatio($"text", k)).foreach {
        case (id, r) => assert(r.getDouble(1) === r.getDouble(2), s"$id k=$k")
      }
    }
  }

  test("WinnowFingerprints equals windows over Text.shingles + Text.portableHash") {
    for ((k, w) <- Seq((2, 2), (3, 4), (1, 3))) {
      val rows = byId(F.winnowFingerprints($"text", k, w),
        transform(Text.shingles($"text", k), s => Text.portableHash(s)))
      rows.foreach { case (id, r) =>
        val hs = r.getSeq[Long](2)
        val want = (if (hs.length <= w) Seq(hs) else hs.sliding(w).toSeq)
          .map(_.min).distinct
        assert(r.getSeq[Long](1) === want, s"$id k=$k w=$w")
      }
    }
  }

  test("MinHashSig (portable and fast) equals Java lowering + \\s+ split + md5/fast64") {
    for (portable <- Seq(true, false); (k, shingleK) <- Seq((7, 2), (8, 3), (4, 1))) {
      byId(F.minhashSig($"text", k, shingleK, portable)).foreach { case (id, r) =>
        assert(r.getSeq[Long](1) === minhashRef(driverTexts(id), k, shingleK, portable),
          s"$id k=$k shingleK=$shingleK portable=$portable")
      }
    }
  }

  test("SimHashExpr (portable and fast) equals Java lowering + \\s+ split + md5_60/fast64") {
    for (portable <- Seq(true, false); bits <- Seq(64, 13)) {
      byId(F.simhash($"text", bits, portable)).foreach { case (id, r) =>
        assert(r.getLong(1) === simhashRef(driverTexts(id), bits, portable),
          s"$id bits=$bits portable=$portable")
      }
    }
  }
}
