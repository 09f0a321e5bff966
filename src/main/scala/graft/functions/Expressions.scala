package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom Catalyst expressions for the hot paths where composed built-in
 * HOFs (`transform`/`zip_with`/`aggregate`) are interpreted per element with
 * boxing — measured 10-60× slower than a tight JVM loop at bench scale.
 * Semantics are IDENTICAL to the Column-function formulations in
 * [[graft.text.Text]] / [[graft.dedup.Dedup]] / [[graft.sim.Similarity]]
 * (the DuckDB oracle checks pin this).
 *
 * All implement real `doGenCode` via [[DirectEvalCodegen]] (r3): the
 * enclosing WholeStageCodegen stage passes the child column value straight
 * into the primitive eval loop — no per-row InternalRow materialization
 * (which `CodegenFallback`'s whole-row `references[i].eval(row)` forced),
 * and sibling expressions stay fused in the stage.
 *
 * The fingerprint kernels (MinHash, SimHash, word shingles, winnowing,
 * repetition ratio) have one implementation each, over the bytes that
 * [[TextScratch.lowerAndTokenize]] leaves: ASCII text is lowered in a byte
 * loop, other text once by `String.toLowerCase`, and both are split on the
 * six whitespace bytes. Only [[TokenStats]] keeps a String path, because it
 * counts code points of the original text.
 */
object Hashing {
  /** First 60 bits of md5 (= first 15 hex chars parsed base-16) — matches
    * `conv(substring(md5(s),1,15),16,10)` and the DuckDB hex-cast oracle. */
  private val tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def md5_60(bytes: Array[Byte]): Long = {
    val d = tl.get(); d.reset()
    val h = d.digest(bytes)
    // first 8 bytes big-endian >>> 4 = first 15 hex nibbles
    var hi = 0L
    var i = 0
    while (i < 8) { hi = (hi << 8) | (h(i) & 0xffL); i += 1 }
    hi >>> 4
  }
  // ---- zero-allocation range variants (byte-path expressions) ----
  /** md5 of buf[off, off+len) into `out16` (no digest allocation). */
  def md5Into(buf: Array[Byte], off: Int, len: Int, out16: Array[Byte]): Unit = {
    val d = tl.get(); d.reset(); d.update(buf, off, len); d.digest(out16, 0, 16)
  }
  /** High 60-bit half of a digest already in `out16` (hex nibbles 0-14). */
  def pack60a(h: Array[Byte]): Long = {
    var hi = 0L; var i = 0
    while (i < 8) { hi = (hi << 8) | (h(i) & 0xffL); i += 1 }
    hi >>> 4
  }
  /** Low 60-bit half (hex nibbles 15-29). */
  def pack60b(h: Array[Byte]): Long = {
    var hi = 0L; var lo = 0L; var i = 0
    while (i < 8) { hi = (hi << 8) | (h(i) & 0xffL); i += 1 }
    while (i < 16) { lo = (lo << 8) | (h(i) & 0xffL); i += 1 }
    ((hi & 0xfL) << 56) | (lo >>> 8)
  }

  def isWsByte(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == 0x0C || b == '\r'

  /** Fast non-portable 64-bit mix (splitmix64 over bytes) for the scale path. */
  def fast64(bytes: Array[Byte], seed: Long): Long =
    fast64(bytes, 0, bytes.length, seed)
  def fast64(buf: Array[Byte], off: Int, len: Int, seed: Long): Long = {
    var h = seed ^ (len * 0x9E3779B97F4A7C15L)
    var i = off; val end = off + len
    while (i < end) {
      h = (h ^ (buf(i) & 0xffL)) * 0xBF58476D1CE4E5B9L
      h ^= (h >>> 27); i += 1
    }
    h * 0x94D049BB133111EBL ^ ((h * 0x94D049BB133111EBL) >>> 31)
  }
}

/**
 * Reusable per-thread scratch buffers for the byte-path text expressions —
 * the round-1 hot loops allocated a String + a substring per token per row
 * (`UTF8String.toString`, `toLowerCase`, `mkString`), which made the 40 M-doc
 * scaling bench allocation-bound (BENCH r01: 0.66 efficiency, shared-heap GC
 * ceiling). On ASCII text the byte path touches only these thread-local
 * buffers after warmup; non-ASCII text pays one lowered String per row.
 * ThreadLocal (not per-expression mutable state) keeps eval() thread-safe
 * regardless of how Spark shares expression instances.
 */
final class TextScratch {
  var lower: Array[Byte] = new Array[Byte](1 << 10)   // lowercased UTF-8 copy
  var tokStart: Array[Int] = new Array[Int](64)
  var tokEnd: Array[Int] = new Array[Int](64)
  var nToks: Int = 0
  var shingle: Array[Byte] = new Array[Byte](1 << 9)  // shingle build buffer
  val out16: Array[Byte] = new Array[Byte](16)        // md5 digest target
  val votes: Array[Int] = new Array[Int](64)          // simhash bit votes

  def ensureLower(n: Int): Unit =
    if (lower.length < n) lower = new Array[Byte](math.max(n, lower.length * 2))
  def ensureShingle(n: Int): Unit =
    if (shingle.length < n) shingle = new Array[Byte](math.max(n, shingle.length * 2))
  def addTok(s: Int, e: Int): Unit = {
    if (nToks == tokStart.length) {
      tokStart = java.util.Arrays.copyOf(tokStart, nToks * 2)
      tokEnd = java.util.Arrays.copyOf(tokEnd, nToks * 2)
    }
    tokStart(nToks) = s; tokEnd(nToks) = e; nToks += 1
  }

  /** Lowercase `u` into [[lower]] as UTF-8 and record whitespace-token
    * offsets into it; any input. ASCII text takes the byte loop of
    * [[asciiLowerAndTokenize]]; at the first non-ASCII byte the whole text is
    * lowered once by the JDK instead ([[lowerUnicodeAndTokenize]]). */
  def lowerAndTokenize(u: UTF8String): Unit =
    if (!asciiLowerAndTokenize(u)) lowerUnicodeAndTokenize(u)

  /** ASCII-lower `u` into [[lower]] and record whitespace-token offsets.
    * Returns false at the first non-ASCII byte, leaving [[lower]] and the
    * token offsets partial. */
  def asciiLowerAndTokenize(u: UTF8String): Boolean = {
    val n = u.numBytes
    ensureLower(n)
    val src = u.getBytes // may be the backing array — read-only here
    nToks = 0
    var i = 0; var inTok = false; var start = 0
    while (i < n) {
      var b = src(i)
      if (b < 0) return false // non-ASCII → exact slow path
      if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
      lower(i) = b
      if (Hashing.isWsByte(b)) {
        if (inTok) { addTok(start, i); inTok = false }
      } else if (!inTok) { start = i; inTok = true }
      i += 1
    }
    if (inTok) addTok(start, n)
    true
  }

  /** Cold half of [[lowerAndTokenize]]: `String.toLowerCase` over the whole
    * text (context-dependent mappings such as a word-final Σ see all of it;
    * invalid UTF-8 decodes to U+FFFD), re-encoded as UTF-8, which can be
    * longer or shorter than the input (`İ` → `i̇`, KELVIN SIGN → `k`). UTF-8
    * never puts an ASCII byte inside a multi-byte character, so the
    * whitespace-byte split yields the same tokens as splitting the String. */
  private def lowerUnicodeAndTokenize(u: UTF8String): Unit = {
    val bytes = u.toString.toLowerCase.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = bytes.length
    ensureLower(n)
    System.arraycopy(bytes, 0, lower, 0, n)
    nToks = 0
    var i = 0; var inTok = false; var start = 0
    while (i < n) {
      if (Hashing.isWsByte(lower(i))) {
        if (inTok) { addTok(start, i); inTok = false }
      } else if (!inTok) { start = i; inTok = true }
      i += 1
    }
    if (inTok) addTok(start, n)
  }

  /** Join tokens [from, from+cnt) of [[lower]] into [[shingle]] separated by
    * single spaces; returns the byte length written. */
  def buildShingle(from: Int, cnt: Int): Int = {
    var need = math.max(cnt - 1, 0)
    var t = from
    while (t < from + cnt) { need += tokEnd(t) - tokStart(t); t += 1 }
    ensureShingle(need + 24) // headroom for a "#NN" suffix
    var w = 0
    t = from
    while (t < from + cnt) {
      if (t > from) { shingle(w) = ' '; w += 1 }
      val len = tokEnd(t) - tokStart(t)
      System.arraycopy(lower, tokStart(t), shingle, w, len)
      w += len; t += 1
    }
    w
  }

  /** Append "#<i>" (ASCII digits) at `w0` in [[shingle]]; returns new length. */
  def appendHashSuffix(w0: Int, i: Int): Int = {
    var w = w0
    shingle(w) = '#'; w += 1
    if (i == 0) { shingle(w) = '0'; w += 1 }
    else {
      val d0 = w
      var x = i
      while (x > 0) { shingle(w) = ('0' + x % 10).toByte; x /= 10; w += 1 }
      // digits were written least-significant first; flip in place
      var a = d0; var b = w - 1
      while (a < b) { val t = shingle(a); shingle(a) = shingle(b); shingle(b) = t; a += 1; b -= 1 }
    }
    w
  }
}
object TextScratch {
  val tl: ThreadLocal[TextScratch] = new ThreadLocal[TextScratch] {
    override def initialValue(): TextScratch = new TextScratch
  }
}

/**
 * Real `doGenCode` for the custom expressions (VERDICT r2 stretch item 9):
 * the generated code evaluates the CHILD column (already a codegen variable
 * in the enclosing WholeStageCodegen stage) and passes it straight into the
 * expression's `nullSafeEval` primitive loop.
 *
 * `CodegenFallback` instead generates `references[i].eval(row)`, which
 * forces the stage to materialize an `InternalRow` for the whole input row
 * on EVERY call — for a projection computing several stats over one text
 * column that is a per-row UnsafeRow build per expression. With this trait
 * the only per-row overhead left is one virtual call into the (JIT-hot)
 * eval loop, and the stage's other expressions stay fused.
 */
trait DirectEvalCodegen extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  /** Java-source type of nullSafeEval's result ("long"/"double" auto-unbox). */
  protected def resultJavaType: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("expr", this, this.getClass.getName)
      resultJavaType match {
        case "long" =>
          s"${ev.value} = ((java.lang.Long) $ref.nullSafeEval($c)).longValue();"
        case "double" =>
          s"${ev.value} = ((java.lang.Double) $ref.nullSafeEval($c)).doubleValue();"
        case t => s"${ev.value} = ($t) $ref.nullSafeEval($c);"
      }
    })
}

/** [[DirectEvalCodegen]] for TOTAL unary expressions — those that handle a
  * null child themselves and never return null (`SpanChecks`: null spans →
  * is_empty = true; `SpanTextConcat`: null spans → ""). The
  * expression implements [[evalChild]] over the raw (possibly null) child
  * value; interpreted eval and generated code share it. */
trait DirectEvalCodegenTotal extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen._
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  protected def resultJavaType: String
  /** Total function over the child value (null allowed, never returns null). */
  def evalChild(v: Any): Any
  override def eval(input: InternalRow): Any = evalChild(child.eval(input))
  override def nullable: Boolean = false
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("expr", this, this.getClass.getName)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(
      code = c.code + code"""
$jt ${ev.value} = ($resultJavaType) $ref.evalChild(${c.isNull} ? null : (Object) ${c.value});""",
      isNull = FalseLiteral)
  }
}

/** [[DirectEvalCodegen]] for binary expressions. */
trait DirectEvalCodegenBinary extends BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  protected def resultJavaType: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val ref = ctx.addReferenceObj("expr", this, this.getClass.getName)
      resultJavaType match {
        case "long" =>
          s"${ev.value} = ((java.lang.Long) $ref.nullSafeEval($l, $r)).longValue();"
        case "double" =>
          s"${ev.value} = ((java.lang.Double) $ref.nullSafeEval($l, $r)).doubleValue();"
        case t => s"${ev.value} = ($t) $ref.nullSafeEval($l, $r);"
      }
    })
}

/** Span-rule checks in ONE pass over the spans array.
  * Output: struct(mono_bad BOOLEAN, mono_bad_offset INT, field_bad BOOLEAN,
  * field_bad_offset INT, is_empty BOOLEAN); an offset is the first offending
  * span's, null when that span's offset is null. Null or empty input ⇒
  * (false, null, false, null, true). As in the q30/q31 oracle, a null offset
  * compares as Int.MinValue and a null element is a span whose fields are
  * all null (so field-inconsistent).
  * Mirrors Rules.SpanOffsetsMonotonic / SpanFieldConsistency / SpansNonEmpty. */
case class SpanChecks(child: Expression) extends UnaryExpression with DirectEvalCodegenTotal {
  override protected def resultJavaType: String = "org.apache.spark.sql.catalyst.InternalRow"
  override def dataType: DataType = StructType(Seq(
    StructField("mono_bad", BooleanType, nullable = false),
    StructField("mono_bad_offset", IntegerType, nullable = true),
    StructField("field_bad", BooleanType, nullable = false),
    StructField("field_bad_offset", IntegerType, nullable = true),
    StructField("is_empty", BooleanType, nullable = false)))
  override def evalChild(v: Any): Any = {
    if (v == null) return InternalRow(false, null, false, null, true)
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return InternalRow(false, null, false, null, true)
    var monoBad, fieldBad = false
    var monoOff, fieldOff: Any = null
    var prevOffset = Int.MinValue
    var i = 0
    while (i < n && !(monoBad && fieldBad)) {
      val row = if (arr.isNullAt(i)) null else arr.getStruct(i, 4)
      // fields: kind(0), text(1), media_ref(2), offset(3)
      val kind = if (row == null || row.isNullAt(0)) null else row.getUTF8String(0)
      val hasText = row != null && !row.isNullAt(1)
      val hasRef = row != null && !row.isNullAt(2)
      val offNull = row == null || row.isNullAt(3)
      val off = if (offNull) Int.MinValue else row.getInt(3)
      if (!monoBad && i > 0 && off <= prevOffset) {
        monoBad = true
        if (!offNull) monoOff = off
      }
      if (!fieldBad) {
        val isText = kind == SpanChecks.Text
        if (if (isText) !hasText || hasRef else !hasRef || hasText) {
          fieldBad = true
          if (!offNull) fieldOff = off
        }
      }
      prevOffset = off
      i += 1
    }
    InternalRow(monoBad, monoOff, fieldBad, fieldOff, false)
  }
  override protected def withNewChildInternal(c: Expression): SpanChecks = copy(c)
}
object SpanChecks {
  private val Text = UTF8String.fromString("text")
}

/** One-pass whitespace-token statistics.
  * Output struct: n_tokens INT, n_bpe INT, n_punct INT, n_ws INT, len INT,
  * n_stop INT (lowercased token ∈ stopwords). Null text ⇒ null. */
case class TokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with DirectEvalCodegen {
  override protected def resultJavaType: String = "org.apache.spark.sql.catalyst.InternalRow"
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType), StructField("n_bpe", IntegerType),
    StructField("n_punct", IntegerType), StructField("n_ws", IntegerType),
    StructField("len", IntegerType), StructField("n_stop", IntegerType)))
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(w => s.add(w)); s
  }
  /** Stopword bytes bucketed by length — in-place token matching without a
    * per-token substring/lowercase allocation (all stopwords are ASCII). */
  @transient private lazy val stopByLen: Array[Array[Array[Byte]]] = {
    val max = if (stopwords.isEmpty) 0 else stopwords.map(_.length).max
    val buckets = Array.fill(max + 1)(scala.collection.mutable.ArrayBuffer[Array[Byte]]())
    stopwords.foreach(w => if (w == w.toLowerCase && w.forall(_ < 128))
      buckets(w.length) += w.getBytes("UTF-8"))
    buckets.map(_.toArray)
  }

  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val sc = TextScratch.tl.get()
    if (!sc.asciiLowerAndTokenize(u)) return evalSlow(u.toString)
    val b = sc.lower
    val n = u.numBytes
    var nBpe = 0; var nPunct = 0; var nWs = 0
    var inAlnum = false
    var i = 0
    while (i < n) {
      val c = b(i)
      if (Hashing.isWsByte(c)) { nWs += 1; inAlnum = false }
      else {
        val alnum = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        if (alnum) { if (!inAlnum) { nBpe += 1; inAlnum = true } }
        else { nBpe += 1; nPunct += 1; inAlnum = false }
      }
      i += 1
    }
    var nStop = 0
    var t = 0
    while (t < sc.nToks) {
      val s = sc.tokStart(t); val len = sc.tokEnd(t) - s
      if (len < stopByLen.length) {
        val cands = stopByLen(len)
        var ci = 0; var hit = false
        while (!hit && ci < cands.length) {
          val w = cands(ci)
          var j = 0
          while (j < len && w(j) == b(s + j)) j += 1
          hit = j == len
          ci += 1
        }
        if (hit) nStop += 1
      }
      t += 1
    }
    InternalRow(sc.nToks, nBpe, nPunct, nWs, n, nStop)
  }

  /** Exact Unicode path for non-ASCII input (the round-1 per-codepoint loop). */
  private def evalSlow(s: String): Any = {
    var nTok = 0; var nBpe = 0; var nPunct = 0; var nWs = 0; var nStop = 0
    var len = 0
    var i = 0; val n = s.length
    var inTok = false; var inAlnum = false
    var tokStart = -1
    def isWsC(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    def isAlnum(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
    while (i < n) {
      val cp = s.codePointAt(i)
      val c = s.charAt(i)
      len += 1
      val ws = Character.charCount(cp) == 1 && isWsC(c)
      if (ws) {
        nWs += 1
        if (inTok) {
          if (stopSet.contains(s.substring(tokStart, i).toLowerCase)) nStop += 1
          inTok = false
        }
        inAlnum = false
      } else {
        if (!inTok) { nTok += 1; inTok = true; tokStart = i }
        val alnum = Character.charCount(cp) == 1 && isAlnum(c)
        if (alnum) { if (!inAlnum) { nBpe += 1; inAlnum = true } }
        else { nBpe += 1; nPunct += 1; inAlnum = false }
      }
      i += Character.charCount(cp)
    }
    if (inTok && stopSet.contains(s.substring(tokStart, n).toLowerCase)) nStop += 1
    InternalRow(nTok, nBpe, nPunct, nWs, len, nStop)
  }
  override protected def withNewChildInternal(c: Expression): TokenStats = copy(child = c)
}

/** MinHash signature over word `shingleK`-shingles of normalized text.
  * Portable mode: slot i uses md5(shingle + "#" + i/2), even slots take hex
  * chars 1-15, odd slots chars 16-30 (two hashes per digest).
  * Output array<long> of length k; null text ⇒ null. */
case class MinHashSig(child: Expression, k: Int, shingleK: Int, portable: Boolean)
    extends UnaryExpression with DirectEvalCodegen {
  override protected def resultJavaType: String = "org.apache.spark.sql.catalyst.util.ArrayData"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val sc = TextScratch.tl.get()
    sc.lowerAndTokenize(u)
    val nt = sc.nToks
    val sig = Array.fill(k)(Long.MaxValue)
    val nSh = if (nt <= shingleK) 1 else nt - shingleK + 1
    var si = 0
    while (si < nSh) {
      // docs shorter than shingleK words form ONE whole-text shingle
      val base = sc.buildShingle(si, if (nt <= shingleK) nt else shingleK)
      if (portable) {
        var pair = 0
        while (pair * 2 < k) {
          val w = sc.appendHashSuffix(base, pair)
          Hashing.md5Into(sc.shingle, 0, w, sc.out16)
          val h0 = Hashing.pack60a(sc.out16)
          if (h0 < sig(pair * 2)) sig(pair * 2) = h0
          if (pair * 2 + 1 < k) {
            val h1 = Hashing.pack60b(sc.out16)
            if (h1 < sig(pair * 2 + 1)) sig(pair * 2 + 1) = h1
          }
          pair += 1
        }
      } else {
        var i = 0
        while (i < k) {
          val h = Hashing.fast64(sc.shingle, 0, base, i * 0x9E3779B97F4A7C15L + 42L)
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      si += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** SimHash of word tokens of normalized text, `bits` wide. Portable mode
  * hashes each token with md5_60; fast mode with splitmix64. */
case class SimHashExpr(child: Expression, bits: Int, portable: Boolean)
    extends UnaryExpression with DirectEvalCodegen {
  override protected def resultJavaType: String = "long"
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val sc = TextScratch.tl.get()
    sc.lowerAndTokenize(u)
    java.util.Arrays.fill(sc.votes, 0, bits, 0)
    var t = 0
    while (t < sc.nToks) {
      val s = sc.tokStart(t); val len = sc.tokEnd(t) - s
      val h =
        if (portable) { Hashing.md5Into(sc.lower, s, len, sc.out16); Hashing.pack60a(sc.out16) }
        else Hashing.fast64(sc.lower, s, len, 42L)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) != 0L) sc.votes(b) += 1 else sc.votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (sc.votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(c: Expression): SimHashExpr = copy(child = c)
}

/** Word k-shingles of normalized text as array<string> — tight-loop twin of
  * [[graft.text.Text.shingles]] (docs shorter than k words → whole text). */
case class WordShingles(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression with DirectEvalCodegen {
  override protected def resultJavaType: String = "org.apache.spark.sql.catalyst.util.ArrayData"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val sc = TextScratch.tl.get()
    sc.lowerAndTokenize(u)
    val nt = sc.nToks
    val nSh = if (nt <= k) 1 else nt - k + 1
    // output UTF8Strings must own their bytes (the scratch buffer is reused)
    val out = new java.util.ArrayList[AnyRef](nSh)
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var si = 0
    while (si < nSh) {
      val w = sc.buildShingle(si, if (nt <= k) nt else k)
      val s = UTF8String.fromBytes(java.util.Arrays.copyOfRange(sc.shingle, 0, w))
      if (seen == null || seen.add(s)) out.add(s)
      si += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** Winnowed k-gram fingerprints — tight-loop twin of
  * [[graft.text.Text.winnowedFingerprints]] (portable md5-60 per word
  * k-shingle of normalized text, min of each w-window, distinct in
  * first-seen order). One tokenizer pass, one md5 per shingle, no array
  * HOFs: the HOF twin measured 8 s/5 000 docs even after its lambda-binding
  * fix (interpreted slice+min per window). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with DirectEvalCodegen {
  override protected def resultJavaType: String = "org.apache.spark.sql.catalyst.util.ArrayData"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val sc = TextScratch.tl.get()
    sc.lowerAndTokenize(u)
    val nt = sc.nToks
    val nSh = if (nt <= k) 1 else nt - k + 1
    val hs = new Array[Long](nSh)
    var si = 0
    while (si < nSh) {
      val len = sc.buildShingle(si, if (nt <= k) nt else k)
      Hashing.md5Into(sc.shingle, 0, len, sc.out16)
      hs(si) = Hashing.pack60a(sc.out16)
      si += 1
    }
    winnow(hs)
  }
  /** Min of each w-window (one window when fewer hashes than w), distinct
    * in first-seen order — the exact HOF-twin semantics. */
  private def winnow(hs: Array[Long]): Any = {
    val nW = math.max(hs.length - w + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < nW) {
      var m = Long.MaxValue
      var j = i
      val end = math.min(i + w, hs.length)
      while (j < end) { if (hs(j) < m) m = hs(j); j += 1 }
      seen.add(m)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator(); var x = 0
    while (it.hasNext) { out(x) = it.next().longValue(); x += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): WinnowFingerprints = copy(child = c)
}

/** Intra-document duplicate-k-gram fraction (1 − distinct/total over word
  * k-shingles of normalized text; ≤ k words → 0.0) in ONE pass with no
  * array materialization — tight-loop twin of
  * [[graft.text.Text.repetitionRatio]], whose interpreted HOF tree (two
  * shingle evaluations + array_distinct) measured 6.1 s on the sf0.1 query
  * sweep vs 0.2 s for the comparable TokenStats scan. */
case class RepetitionRatio(child: Expression, k: Int)
    extends UnaryExpression with DirectEvalCodegen {
  override protected def resultJavaType: String = "double"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    val sc = TextScratch.tl.get()
    sc.lowerAndTokenize(u)
    val nt = sc.nToks
    if (nt <= k) return 0.0 // single shingle
    val nSh = nt - k + 1
    val seen = new java.util.HashSet[UTF8String](nSh * 2)
    var si = 0
    while (si < nSh) {
      val w = sc.buildShingle(si, k)
      seen.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(sc.shingle, 0, w)))
      si += 1
    }
    1.0 - seen.size.toDouble / nSh
  }
  override protected def withNewChildInternal(c: Expression): RepetitionRatio = copy(child = c)
}

/** Interleaved-doc text extraction in ONE pass: the text fields of all spans
  * joined by single spaces — identical to
  * `concat_ws(" ", transform(filter(spans, s -> s.text IS NOT NULL), s -> s.text))`,
  * whose interpreted HOF tree (SimpleHigherOrderFunction.eval + boxed array
  * copies) dominated the content-pass profile at bench scale. Null/empty
  * spans → empty string (concat_ws semantics). */
case class SpanTextConcat(child: Expression)
    extends UnaryExpression with DirectEvalCodegenTotal {
  override protected def resultJavaType: String = "org.apache.spark.unsafe.types.UTF8String"
  override def dataType: DataType = StringType
  @transient private lazy val sep = UTF8String.fromString(" ")
  override def evalChild(v: Any): Any = {
    if (v == null) return UTF8String.EMPTY_UTF8
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val parts = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 4)
      if (row != null && !row.isNullAt(1)) parts.add(row.getUTF8String(1))
      i += 1
    }
    UTF8String.concatWs(sep, parts.toArray(new Array[UTF8String](parts.size())): _*)
  }
  override protected def withNewChildInternal(c: Expression): SpanTextConcat = copy(c)
}

/** Primitive-loop dot product over two array<float>/array<double> columns,
  * accumulating in double in array order (same as the HOF formulation). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with DirectEvalCodegenBinary {
  override protected def resultJavaType: String = "double"
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xt = left.dataType.asInstanceOf[ArrayType].elementType
    val yt = right.dataType.asInstanceOf[ArrayType].elementType
    var acc = 0.0
    var i = 0
    if (xt == FloatType && yt == FloatType) {
      while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) {
        val xv = if (xt == FloatType) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (yt == FloatType) y.getFloat(i).toDouble else y.getDouble(i)
        acc += xv * yv; i += 1
      }
    }
    acc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Column-API entry points (Spark 4: Column wraps a ColumnNode; use the
  * classic ExpressionUtils bridge). */
object F {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  private def e(c: Column) = expression(c)
  def spanChecks(c: Column): Column = column(SpanChecks(e(c)))
  def spanText(c: Column): Column = column(SpanTextConcat(e(c)))
  def tokenStats(c: Column, stopwords: Seq[String] = graft.text.Text.Stopwords.values.flatten.toSeq.distinct): Column =
    column(TokenStats(e(c), stopwords))
  def minhashSig(c: Column, k: Int, shingleK: Int, portable: Boolean): Column =
    column(MinHashSig(e(c), k, shingleK, portable))
  def simhash(c: Column, bits: Int, portable: Boolean): Column =
    column(SimHashExpr(e(c), bits, portable))
  def dot(a: Column, b: Column): Column = column(DotProduct(e(a), e(b)))
  def wordShingles(c: Column, k: Int, distinct: Boolean = false): Column =
    column(WordShingles(e(c), k, distinct))
  def repetitionRatio(c: Column, k: Int = 2): Column =
    column(RepetitionRatio(e(c), k))
  def winnowFingerprints(c: Column, k: Int = 5, w: Int = 4): Column =
    column(WinnowFingerprints(e(c), k, w))
}
