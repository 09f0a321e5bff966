package graft.stats

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/**
 * Mergeable sketch aggregates (SURVEY §2.11): exportable per-partition state
 * that can be persisted in the metrics ledger and merged across runs — the
 * property `approx_count_distinct` / `percentile_approx` lack (they return
 * only the final estimate).
 *
 * Both are `Aggregator`s (Catalyst-typed, partial-merge friendly: Spark
 * runs reduce per partition and merge at the exchange, so the driver never
 * sees raw rows).
 */
object Sketches {

  // --------------------------------------------------------------------- HLL

  /** Dense HyperLogLog registers, p = log2(#registers). Standard HLL with the
    * usual small-range (linear counting) correction; good to ~1.04/√m rel.
    * error. State = m bytes → serializable into a ledger row and mergeable
    * across runs by register-wise max. */
  case class HllState(registers: Array[Byte]) {
    def merge(o: HllState): HllState = {
      val out = new Array[Byte](registers.length)
      var i = 0
      while (i < out.length) {
        out(i) = math.max(registers(i), o.registers(i)).toByte; i += 1 }
      HllState(out)
    }
    def estimate: Long = {
      val m = registers.length
      val alpha = m match {
        case 16 => 0.673; case 32 => 0.697; case 64 => 0.709
        case _ => 0.7213 / (1 + 1.079 / m)
      }
      var sum = 0.0; var zeros = 0; var i = 0
      while (i < m) {
        sum += math.pow(2.0, -registers(i))
        if (registers(i) == 0) zeros += 1
        i += 1
      }
      val raw = alpha * m * m / sum
      val est =
        if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
        else raw
      math.round(est)
    }
  }

  class HllAggregator(p: Int = 12) extends Aggregator[Long, HllState, Long] {
    private val m = 1 << p
    def zero: HllState = HllState(new Array[Byte](m))
    def reduce(s: HllState, hash: Long): HllState = {
      // hash is assumed uniform (xxhash64 upstream); bucket = low p bits,
      // rank = leading-zeros+1 of the remaining bits
      val bucket = (hash & (m - 1)).toInt
      val w = hash >>> p
      val rank = (if (w == 0) 64 - p else java.lang.Long.numberOfTrailingZeros(w)) + 1
      if (rank > s.registers(bucket)) s.registers(bucket) = rank.toByte
      s
    }
    def merge(a: HllState, b: HllState): HllState = a.merge(b)
    def finish(s: HllState): Long = s.estimate
    def bufferEncoder: Encoder[HllState] = Encoders.product[HllState]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Column function: HLL distinct-count of xxhash64(col). Usage:
    * `df.agg(hllCountDistinct(xxhash64(col("x"))))`. */
  def hllCountDistinct(p: Int = 12): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new HllAggregator(p), Encoders.scalaLong)

  /** Registers-exporting variant for the ledger (output = serialized state). */
  class HllSketchAggregator(p: Int = 12) extends Aggregator[Long, HllState, Array[Byte]] {
    private val inner = new HllAggregator(p)
    def zero: HllState = inner.zero
    def reduce(s: HllState, v: Long): HllState = inner.reduce(s, v)
    def merge(a: HllState, b: HllState): HllState = a.merge(b)
    def finish(s: HllState): Array[Byte] = s.registers
    def bufferEncoder: Encoder[HllState] = Encoders.product[HllState]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }
  def hllSketch(p: Int = 12): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new HllSketchAggregator(p), Encoders.scalaLong)

  /** Merge previously-exported register arrays (ledger → combined estimate). */
  def mergeHllSketches(sketches: Seq[Array[Byte]]): Long =
    sketches.map(HllState(_)).reduce(_ merge _).estimate

  // ----------------------------------------------------------- histogram

  /** Fixed-bin mergeable histogram over [lo, hi): bin counts are plain longs,
    * merge = element-wise add — the simplest exportable distribution sketch;
    * feeds the KS/χ² drift checks ([[Drift]]). Values outside the range clamp
    * to the edge bins, nulls are skipped by Spark before reduce. */
  case class HistState(counts: Array[Long]) {
    def merge(o: HistState): HistState = {
      val out = new Array[Long](counts.length)
      var i = 0
      while (i < out.length) { out(i) = counts(i) + o.counts(i); i += 1 }
      HistState(out)
    }
  }

  class HistogramAggregator(lo: Double, hi: Double, bins: Int)
      extends Aggregator[Double, HistState, Array[Long]] {
    def zero: HistState = HistState(new Array[Long](bins))
    def reduce(s: HistState, v: Double): HistState = {
      val idx0 = ((v - lo) / (hi - lo) * bins).toInt
      val idx = math.min(math.max(idx0, 0), bins - 1)
      s.counts(idx) += 1
      s
    }
    def merge(a: HistState, b: HistState): HistState = a.merge(b)
    def finish(s: HistState): Array[Long] = s.counts
    def bufferEncoder: Encoder[HistState] = Encoders.product[HistState]
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  def histogram(lo: Double, hi: Double, bins: Int = 64): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new HistogramAggregator(lo, hi, bins), Encoders.scalaDouble)

  // ----------------------------------------------------------------- KLL

  /**
   * One-pass mergeable quantile sketch (Karnin–Lang–Liberty compactor
   * hierarchy, FOCS'16): level i holds items of weight 2^i; an over-full
   * level sorts its buffer and promotes every other item (alternating
   * offset) to level i+1 — total weight is exactly preserved, so the CDF
   * denominator is always the true count. Rank error ~O(1/k); the k=2048
   * default stores ≤~3k items (≈50 KB serialized) at ANY input size, is
   * exact below ~6k values, and holds rank error ≲0.1% above — ample for
   * KS/χ² drift verdicts at ledger-sketch cost.
   *
   * Unlike `percentile_approx` (which only returns final estimates), the
   * state serializes to a few KB and MERGES: per-partition sketches persist
   * in the metrics ledger and cross-run/cross-partition drift is computed
   * from merged sketches without re-scanning data (north rule: "two-sample
   * KS / chi-square over quantile sketches"; reference mean-only analogue
   * `/root/reference/src/engine/report/quality_report.py:113-136`).
   *
   * Compaction offsets alternate deterministically (no RNG): estimates are
   * reproducible for a fixed partitioning; across partitionings they differ
   * only within the rank-error bound, which the drift thresholds absorb.
   */
  final class KllSketch(val k: Int) extends Serializable {
    import scala.collection.mutable.ArrayBuffer
    var count: Long = 0L
    var minV: Double = Double.PositiveInfinity
    var maxV: Double = Double.NegativeInfinity
    private[stats] var levels: ArrayBuffer[ArrayBuffer[Double]] =
      ArrayBuffer(ArrayBuffer.empty[Double])
    private[stats] var flips: Long = 0L

    /** Capacity of level i: k at the top, shrinking by (2/3)^depth below
      * (KLL's geometric schedule), floored at 8. */
    private def cap(i: Int): Int = {
      val top = levels.length - 1
      math.max(math.ceil(k * math.pow(2.0 / 3.0, (top - i).toDouble)).toInt, 8)
    }

    def update(v: Double): Unit = if (!v.isNaN) {
      count += 1
      if (v < minV) minV = v
      if (v > maxV) maxV = v
      levels(0) += v
      cdfCache = null
      if (levels(0).length > cap(0) * 2) compress()
    }

    def compress(): Unit = {
      var changed = true
      while (changed) {
        changed = false
        var i = 0
        while (i < levels.length) {
          if (levels(i).length > math.max(cap(i), 2)) {
            if (i + 1 >= levels.length) levels += ArrayBuffer.empty[Double]
            val sorted = levels(i).sorted
            val even = sorted.length & ~1
            val off = (flips & 1L).toInt
            flips += 1
            var j = off
            while (j < even) { levels(i + 1) += sorted(j); j += 2 }
            levels(i).clear()
            if (even < sorted.length) levels(i) += sorted(even) // odd leftover
            changed = true
          }
          i += 1
        }
      }
    }

    def merge(o: KllSketch): KllSketch = {
      while (levels.length < o.levels.length) levels += ArrayBuffer.empty[Double]
      var i = 0
      while (i < o.levels.length) { levels(i) ++= o.levels(i); i += 1 }
      count += o.count
      if (o.minV < minV) minV = o.minV
      if (o.maxV > maxV) maxV = o.maxV
      cdfCache = null
      compress()
      this
    }

    /** (value, weight) pairs sorted by value; Σ weight == count exactly. */
    def weighted: Array[(Double, Long)] = {
      val out = ArrayBuffer.empty[(Double, Long)]
      var i = 0
      while (i < levels.length) {
        levels(i).foreach(v => out += ((v, 1L << i))); i += 1
      }
      out.sortBy(_._1).toArray
    }

    /** Sorted item values + cumulative weights, built once and reused by
      * every [[cdf]] call. The r5 cdf re-sorted the whole sketch per call
      * (`weighted` is an O(m log m) sort), which made the driver-side KS
      * fold accidentally quadratic: max-gap over the ~2m-point union support
      * cost ~2m sorts of m items — measured ~1.9 s of q25's 2.4 s. Same
      * longs summed in the same order ⇒ bit-identical cdf values.
      * Invalidated by update/merge. */
    @transient private var cdfCache: (Array[Double], Array[Long]) = null
    private def cdfArrays: (Array[Double], Array[Long]) = {
      if (cdfCache == null) {
        val w = weighted
        val vs = new Array[Double](w.length)
        val cum = new Array[Long](w.length)
        var acc = 0L; var i = 0
        while (i < w.length) { acc += w(i)._2; vs(i) = w(i)._1; cum(i) = acc; i += 1 }
        cdfCache = (vs, cum)
      }
      cdfCache
    }

    /** Empirical CDF: fraction of mass ≤ x (binary search on the cached
      * cumulative table — O(log m) per call). */
    def cdf(x: Double): Double = {
      if (count == 0) return 0.0
      val (vs, cum) = cdfArrays
      var lo = 0; var hi = vs.length - 1; var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (vs(mid) <= x) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (ans < 0) 0.0 else cum(ans).toDouble / count
    }

    /** Quantile estimate at probability q in [0, 1]. */
    def quantile(q: Double): Double = {
      if (count == 0) return Double.NaN
      val target = math.max(1L, math.ceil(q * count).toLong)
      val w = weighted
      var acc = 0L
      var i = 0
      while (i < w.length) {
        acc += w(i)._2
        if (acc >= target) return w(i)._1
        i += 1
      }
      w.last._1
    }

    def toBytes: Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(bo)
      o.writeByte(1) // version
      o.writeInt(k); o.writeLong(count)
      o.writeDouble(minV); o.writeDouble(maxV); o.writeLong(flips)
      o.writeInt(levels.length)
      levels.foreach { b => o.writeInt(b.length); b.foreach(o.writeDouble) }
      o.flush(); bo.toByteArray
    }
  }

  object KllSketch {
    def fromBytes(bytes: Array[Byte]): KllSketch = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      require(in.readByte() == 1, "unknown KLL sketch version")
      val s = new KllSketch(in.readInt())
      s.count = in.readLong()
      s.minV = in.readDouble(); s.maxV = in.readDouble(); s.flips = in.readLong()
      val n = in.readInt()
      s.levels = scala.collection.mutable.ArrayBuffer.tabulate(n) { _ =>
        val len = in.readInt()
        val b = new scala.collection.mutable.ArrayBuffer[Double](len)
        (0 until len).foreach(_ => b += in.readDouble())
        b
      }
      s
    }
    /** Merge previously-exported sketches (ledger rows → one sketch). */
    def mergeAll(sketches: Seq[Array[Byte]]): KllSketch =
      sketches.map(fromBytes).reduce(_ merge _)
  }

  // ------------------------------------------------- Misra–Gries heavy hitters
  /**
   * Mergeable frequent-items summary (Misra–Gries 1982; merge rule from
   * Agarwal et al., "Mergeable Summaries", PODS 2012): at most `capacity`
   * counters; an arrival with no counter and a full table decrements ALL
   * counters by 1 (dropping zeros) — each such step cancels capacity+1 units
   * of count mass, so total decrement ≤ n/(capacity+1). Merge sums counters
   * pointwise, then subtracts the (capacity+1)-th largest count from all and
   * drops non-positives — the PODS'12 result is that the n/(capacity+1)
   * error bound survives ANY merge tree, which is exactly what Spark's
   * partial-aggregate + exchange + ledger-row cross-run merging needs.
   *
   * Estimates are UNDER-counts with a tracked bound:
   * `est(x) ≤ true(x) ≤ est(x) + maxError`, and every item with
   * `true(x) > maxError` is guaranteed present. When the distinct count
   * never exceeds `capacity` (across all merge inputs), no decrement ever
   * fires and the summary is EXACT — the regime q43's DuckDB oracle checks;
   * the approximate regime's guarantees are pinned in SketchSpec.
   *
   * Why not `groupBy(col).count.orderBy.limit(k)`: that shuffles the FULL
   * distinct domain (at 100 TB a token column has billions of distinct
   * values); the MG aggregate's state is O(capacity) per partition, the
   * exchange moves one small map per partition, and the summary persists in
   * the ledger and merges across runs like [[KllSketch]]/[[HllState]].
   */
  final class MgSketch(val capacity: Int) extends Serializable {
    import scala.collection.mutable
    private[stats] val counts = mutable.HashMap.empty[String, Long]
    /** Cumulative decrement depth — the additive PER-ITEM error bound
      * (est(x) ≤ true(x) ≤ est(x) + maxError for every x). */
    var maxError: Long = 0L
    /** Items seen (n), including nulls' exclusion upstream. */
    var total: Long = 0L
    /** EXACT total count mass retired by decrements/levelling — the bound
      * on the SUM of under-counts (total − Σ counts == true untracked mass
      * + retired). Tracked exactly because a merge-levelling step retires up
      * to ~2·capacity·level while adding only `level` to [[maxError]], so no
      * clean closed form in maxError exists; [[Drift.psiCategorical]] gates
      * its OTHER bucket on this. */
    var retired: Long = 0L

    def update(x: String): Unit = {
      total += 1
      counts.get(x) match {
        case Some(c) => counts(x) = c + 1
        case None if counts.size < capacity => counts(x) = 1L
        case None =>
          // classic MG decrement-all step: O(capacity), amortized O(1)/item
          // (each step retires capacity+1 units of arrival mass)
          maxError += 1
          retired += counts.size + 1 // every counter loses 1 + the arrival
          counts.filterInPlace((_, c) => c > 1)
          counts.mapValuesInPlace((_, c) => c - 1)
      }
    }

    /** PODS'12 merge: pointwise sum, then level by the (capacity+1)-th
      * largest count so at most `capacity` counters survive. */
    def merge(o: MgSketch): MgSketch = {
      o.counts.foreach { case (k, v) =>
        counts.updateWith(k) { c => Some(c.getOrElse(0L) + v) } }
      total += o.total
      maxError += o.maxError
      retired += o.retired
      if (counts.size > capacity) {
        val level = counts.values.toArray.sorted(Ordering[Long].reverse)(capacity)
        maxError += level
        counts.foreach { case (_, c) => retired += math.min(c, level) }
        counts.filterInPlace((_, c) => c > level)
        counts.mapValuesInPlace((_, c) => c - level)
      }
      this
    }

    /** Estimated count (lower bound; 0 when absent). */
    def estimate(x: String): Long = counts.getOrElse(x, 0L)

    /** Σ tracked counter mass; `total == trackedMass + retired` always
      * (mass conservation — every arrival either sits in a counter or was
      * retired by a decrement/levelling step). */
    def trackedMass: Long = counts.values.sum

    /** Counters sorted by (count desc, value asc) — deterministic like
      * [[graft.stats.Profiler.topK]]. */
    def topK(k: Int): Array[(String, Long)] =
      counts.toArray.sortBy { case (v, c) => (-c, v) }.take(k)

    def toBytes: Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(bo)
      o.writeByte(2) // v2: length-prefixed UTF-8 keys + exact retired mass
      o.writeInt(capacity); o.writeLong(total); o.writeLong(maxError)
      o.writeLong(retired)
      o.writeInt(counts.size)
      counts.foreach { case (k, v) =>
        // length-prefixed UTF-8, NOT writeUTF: tracked values are arbitrary
        // strings (any expr casts to string here) and writeUTF throws above
        // 64 KB — a single giant space-free token would fail the whole run
        // at finish() after all the compute is done
        val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        o.writeInt(kb.length); o.write(kb); o.writeLong(v)
      }
      o.flush(); bo.toByteArray
    }
  }

  object MgSketch {
    def fromBytes(bytes: Array[Byte]): MgSketch = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val version = in.readByte()
      require(version == 1 || version == 2, s"unknown MG sketch version $version")
      val s = new MgSketch(in.readInt())
      s.total = in.readLong(); s.maxError = in.readLong()
      if (version >= 2) s.retired = in.readLong()
      val n = in.readInt()
      (0 until n).foreach { _ =>
        val k =
          if (version == 1) in.readUTF() // v1 wrote writeUTF keys
          else {
            val kb = new Array[Byte](in.readInt()); in.readFully(kb)
            new String(kb, java.nio.charset.StandardCharsets.UTF_8)
          }
        s.counts += (k -> in.readLong())
      }
      // v1 rows carry no retired-mass record: reconstruct the conservative
      // upper bound so OTHER-bucket gating stays safe on pre-v2 ledgers
      if (version == 1)
        s.retired = math.min(s.maxError * (s.capacity.toLong * 2 + 1),
          math.max(s.total - s.counts.values.sum, 0L))
      s
    }
    /** Merge previously-exported summaries (ledger rows → one summary). */
    def mergeAll(sketches: Seq[Array[Byte]]): MgSketch =
      sketches.map(fromBytes).reduce(_ merge _)
  }

  /** Exportable-state MG aggregate (output = serialized summary); NULLs
    * skipped via Option like [[KllSketchAggregator]]. */
  class MgSketchAggregator(capacity: Int = 4096)
      extends Aggregator[Option[String], MgSketch, Array[Byte]] {
    def zero: MgSketch = new MgSketch(capacity)
    def reduce(s: MgSketch, v: Option[String]): MgSketch = {
      v.foreach(s.update); s
    }
    def merge(a: MgSketch, b: MgSketch): MgSketch = a.merge(b)
    def finish(s: MgSketch): Array[Byte] = s.toBytes
    def bufferEncoder: Encoder[MgSketch] = Encoders.kryo[MgSketch]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def mgSketch(capacity: Int = 4096): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new MgSketchAggregator(capacity),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Option[String]]())

  /** Exportable-state KLL aggregate (output = serialized sketch). Input is
    * Option[Double] so SQL NULLs are skipped explicitly. Buffer rides kryo
    * (ObjectHashAggregate partial-merges it; the driver never sees rows). */
  class KllSketchAggregator(k: Int = 2048)
      extends Aggregator[Option[Double], KllSketch, Array[Byte]] {
    def zero: KllSketch = new KllSketch(k)
    def reduce(s: KllSketch, v: Option[Double]): KllSketch = {
      v.foreach(s.update); s
    }
    def merge(a: KllSketch, b: KllSketch): KllSketch = a.merge(b)
    def finish(s: KllSketch): Array[Byte] = s.toBytes
    def bufferEncoder: Encoder[KllSketch] = Encoders.kryo[KllSketch]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def kllSketch(k: Int = 2048): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new KllSketchAggregator(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Option[Double]]())
}
