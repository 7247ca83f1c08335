package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, StructField, StructType}

/** Zero-garbage Greenwald–Khanna quantile sketch over PRIMITIVE arrays —
  * the allocation-light replacement for `percentile_approx` in the guided
  * quantile engine's BRACKET pass (round-13 verdict #5).
  *
  * Why: Spark's `QuantileSummaries` buffers every inserted value in an
  * `ArrayBuffer[Double]` — one boxed `java.lang.Double` per input row.
  * At the 688M-row decade-3 leg the FIRST run in a JVM spends 49% of task
  * time in GC (1512 s of 3106 s task time) while the interpreter/C1 churn
  * through that garbage before C2 compiles the path (SCALE.md
  * `--limedian`: run1 113 s vs 24 s steady). This sketch keeps the head
  * buffer and the compressed summary in primitive `Array[Double]` /
  * `Array[Long]`, so the per-row steady-state allocation is ZERO and the
  * cold-start GC debt disappears with the garbage.
  *
  * The algorithm and its parameters mirror the published GK01 scheme as
  * Spark ships it (same `relativeError = 1/accuracy`, same head size,
  * same compression threshold and merge rule), so the guarantee the
  * guided engine's coverage proof rests on is unchanged: for any queried
  * fraction `p` the returned value's RANK lies within
  * `relativeError * count` of `ceil(p * count)` — the ±3/accuracy
  * bracket margin in `Extracts.guidedPercentiles` therefore still
  * strictly covers the target interpolation ranks. Exactness of the
  * guided results never depended on WHICH valid bracket comes back (the
  * final interpolation recomputes from exact window counts; a coverage
  * miss raises), so swapping the sketch cannot change any query output
  * beyond the brackets — and GkBracketSpec pins the rank guarantee
  * differentially against exact ranks on adversarial inputs.
  */
object GkSketch {
  val HeadSize = 50000
  val CompressThresholdFactor = 2 // compress when samples > 2 * (1/eps)

  def deserialize(bytes: Array[Byte]): GkSketch = {
    val bb = ByteBuffer.wrap(bytes)
    val eps = bb.getDouble()
    val count = bb.getLong()
    val n = bb.getInt()
    val s = new GkSketch(eps)
    s.count = count
    s.ensureSampled(n)
    s.sampledCount = n
    var i = 0
    while (i < n) { s.values(i) = bb.getDouble(); i += 1 }
    i = 0
    while (i < n) { s.gs(i) = bb.getLong(); i += 1 }
    i = 0
    while (i < n) { s.deltas(i) = bb.getLong(); i += 1 }
    s
  }
}

/** Mutable GK summary. Not thread-safe (one per aggregation buffer). */
final class GkSketch(val relativeError: Double) {
  import GkSketch._
  // compressed samples, sorted by value: parallel primitive arrays
  private[functions] var values: Array[Double] = new Array[Double](16)
  private[functions] var gs: Array[Long] = new Array[Long](16)
  private[functions] var deltas: Array[Long] = new Array[Long](16)
  private[functions] var sampledCount: Int = 0
  private[functions] var count: Long = 0L
  // head buffer: lazily sized so empty groups cost 16 doubles, not 50k
  private var head: Array[Double] = null
  private var headCount: Int = 0
  // reusable flush scratch (ping-pong with the sampled arrays): without
  // it every head flush allocates ~1.2 MB of merge arrays — ~50 GB of
  // transient garbage across a 688M-row scan, the bulk of what was left
  // of the cold-start GC debt after de-boxing
  private var scratchV: Array[Double] = null
  private var scratchG: Array[Long] = null
  private var scratchD: Array[Long] = null

  private[functions] def ensureSampled(n: Int): Unit =
    if (values.length < n) {
      val cap = math.max(n, values.length * 2)
      values = java.util.Arrays.copyOf(values, cap)
      gs = java.util.Arrays.copyOf(gs, cap)
      deltas = java.util.Arrays.copyOf(deltas, cap)
    }

  def insert(x: Double): Unit = {
    // the head GROWS geometrically toward HeadSize instead of starting
    // there: hash aggregation holds one live buffer PER GROUP, and a
    // fixed 400 KB head across thousands of fine-grained zones was
    // gigabytes of per-query allocation (measured: a bench pass-wide
    // slowdown from GC pressure). Small groups stay tens-of-entries
    // small; only streams that actually reach 50k values pay for 50k.
    if (head == null) head = new Array[Double](64)
    if (headCount == head.length) {
      if (head.length < HeadSize)
        head = java.util.Arrays.copyOf(head,
          math.min(HeadSize, head.length * 4))
      else flushHead()
    }
    head(headCount) = x
    headCount += 1
  }

  /** Merge the sorted head into the summary (GK batch insert), then
    * compress if the summary outgrew its threshold. */
  private[functions] def flushHead(): Unit = {
    if (headCount == 0) return
    java.util.Arrays.sort(head, 0, headCount)
    val needed = sampledCount + headCount
    if (scratchV == null || scratchV.length < needed) {
      // size to NEED, not to the head capacity: eval/serialize flush
      // every non-empty group once, and a HeadSize-scaled scratch there
      // was ~1.3 MB of garbage per group — the other half of the
      // fine-grained-zone GC pressure. Streams that flush repeatedly
      // settle after one regrow (sampled is compress-bounded).
      val cap = needed + 64
      scratchV = new Array[Double](cap)
      scratchG = new Array[Long](cap)
      scratchD = new Array[Long](cap)
    }
    val nv = scratchV
    val ng = scratchG
    val nd = scratchD
    var out = 0
    var si = 0
    var hi = 0
    var currentCount = count
    while (hi < headCount) {
      val x = head(hi)
      while (si < sampledCount && values(si) <= x) {
        nv(out) = values(si); ng(out) = gs(si); nd(out) = deltas(si)
        out += 1; si += 1
      }
      currentCount += 1
      // GK01 invariant: every tuple must satisfy g + Δ ≤ 2εn, or query()'s
      // acceptance window (±εn around the target rank) can fail to admit
      // ANY tuple and fall through to the max. A new tuple has g = 1, so
      // Δ = ⌊2εn⌋ − 1 (round-14 verdict: Δ = ⌊2εn⌋ gave g+Δ = ⌊2εn⌋+1
      // > 2εn whenever 2εn is non-integral — every tuple over-wide, zero
      // query hits on misaligned n, e.g. n=3704 @ ε=0.001, and the guided
      // engine's coverage guard correctly crashed four percentile
      // queries at sf0.01). merge() preserves the invariant (carry
      // g_B+Δ_B−1 ≤ 2εn_B−1 keeps g+Δ ≤ 2ε(n_A+n_B)); compress()'s
      // strict `< 2εn` merge bound does too.
      val delta =
        if (out == 0 || (si == sampledCount && hi == headCount - 1)) 0L
        else math.max(0L, math.floor(2 * relativeError * currentCount).toLong - 1)
      nv(out) = x; ng(out) = 1L; nd(out) = delta
      out += 1; hi += 1
    }
    while (si < sampledCount) {
      nv(out) = values(si); ng(out) = gs(si); nd(out) = deltas(si)
      out += 1; si += 1
    }
    // ping-pong: the old sampled arrays become the next flush's scratch
    scratchV = values; scratchG = gs; scratchD = deltas
    values = nv; gs = ng; deltas = nd; sampledCount = out
    count = currentCount
    headCount = 0
    val threshold = CompressThresholdFactor * math.ceil(1.0 / relativeError).toInt
    if (sampledCount > threshold) compress()
  }

  /** GK compression: merge sample i into its successor when the combined
    * uncertainty stays under 2·eps·count — in place, right to left. */
  private def compress(): Unit = {
    if (sampledCount < 2) return
    val mergeThreshold = 2 * relativeError * count
    // backward pass writing survivors into the REUSABLE scratch (reverse
    // order) — compress runs after nearly every flush, so a fresh
    // allocation here would be the same per-flush garbage the ping-pong
    // exists to remove. Never aliases `values`: after a flush the
    // scratch is the PREVIOUS sampled array, and merge() builds fresh.
    if (scratchV == null || scratchV.length < sampledCount) {
      scratchV = new Array[Double](sampledCount)
      scratchG = new Array[Long](sampledCount)
      scratchD = new Array[Long](sampledCount)
    }
    val keepV = scratchV
    val keepG = scratchG
    val keepD = scratchD
    var kept = 0
    // the LAST sample is always kept (max guard)
    var headIdx = sampledCount - 1
    keepV(kept) = values(headIdx); keepG(kept) = gs(headIdx); keepD(kept) = deltas(headIdx)
    kept += 1
    var i = sampledCount - 2
    while (i >= 1) { // the first sample is always kept (min guard)
      val mergedG = gs(i) + keepG(kept - 1)
      if (mergedG + keepD(kept - 1) < mergeThreshold) {
        keepG(kept - 1) = mergedG // absorb i into its kept successor
      } else {
        keepV(kept) = values(i); keepG(kept) = gs(i); keepD(kept) = deltas(i)
        kept += 1
      }
      i -= 1
    }
    if (sampledCount > 1) {
      keepV(kept) = values(0); keepG(kept) = gs(0); keepD(kept) = deltas(0)
      kept += 1
    }
    // reverse back into ascending order
    var a = 0
    while (a < kept) {
      val src = kept - 1 - a
      values(a) = keepV(src); gs(a) = keepG(src); deltas(a) = keepD(src)
      a += 1
    }
    sampledCount = kept
  }

  /** Merge another sketch into this one (partial aggregation). Both heads
    * flush first; the merged summary is the value-sorted union with the
    * standard GK merge bound (deltas carry over; the combined summary
    * honors eps_a + eps_b ≤ 2·eps rank error, then compresses back toward
    * eps like Spark's merge — the bracket margin 3/accuracy was chosen
    * against exactly this worst case: Spark's own merged summaries carry
    * the same bound). */
  def merge(other: GkSketch): GkSketch = {
    other.flushHead()
    this.flushHead()
    if (other.sampledCount == 0) return this
    if (this.sampledCount == 0) {
      // COPY, never adopt by reference: flushHead ping-pongs the sampled
      // arrays into scratch and compress writes into them in place, so a
      // shared array would let later mutation of either sketch corrupt
      // the other. Safe-by-luck in the Spark aggregate path (`other` is
      // freshly deserialized per row) but the class is public and
      // unit-tested directly (round-14 advisor finding).
      val n = other.sampledCount
      this.values = java.util.Arrays.copyOf(other.values, n)
      this.gs = java.util.Arrays.copyOf(other.gs, n)
      this.deltas = java.util.Arrays.copyOf(other.deltas, n)
      this.sampledCount = n; this.count = other.count
      return this
    }
    val n = sampledCount + other.sampledCount
    // merge through the reusable scratch (ping-pong with the sampled
    // arrays, exactly like flushHead): the final aggregation stage of a
    // bracket pass merges one partial PER MAP PARTITION per zone, and a
    // fresh 3-array allocation per merge was ~100+ MB of transient
    // garbage on a 25-zone × 32-partition pass (r17). Never aliases
    // `values`: the scratch is always the PREVIOUS sampled array set.
    if (scratchV == null || scratchV.length < n) {
      scratchV = new Array[Double](n)
      scratchG = new Array[Long](n)
      scratchD = new Array[Long](n)
    }
    val nv = scratchV
    val ng = scratchG
    val nd = scratchD
    var i = 0; var j = 0; var out = 0
    while (i < sampledCount || j < other.sampledCount) {
      val takeMine = j >= other.sampledCount ||
        (i < sampledCount && values(i) <= other.values(j))
      if (takeMine) {
        nv(out) = values(i); ng(out) = gs(i)
        // a sample interleaved into the other summary inherits the
        // other's local uncertainty (the GK merge rule): its true rank
        // in the union can shift by what the neighbouring foreign
        // samples absorb. Using the foreign NEXT sample's (g+delta-1)
        // like Spark keeps the proof shape; simpler conservative form:
        // delta + other's max spread at this point. We mirror Spark:
        // delta_new = delta + (next foreign g + next foreign delta - 1),
        // clamped at pure-carry for edge positions.
        nd(out) = deltas(i) + (if (j < other.sampledCount)
          other.gs(j) + other.deltas(j) - 1 else 0L)
        i += 1
      } else {
        nv(out) = other.values(j); ng(out) = other.gs(j)
        nd(out) = other.deltas(j) + (if (i < sampledCount)
          gs(i) + deltas(i) - 1 else 0L)
        j += 1
      }
      out += 1
    }
    // ping-pong: the old sampled arrays become the next merge/flush scratch
    scratchV = values; scratchG = gs; scratchD = deltas
    values = nv; gs = ng; deltas = nd; sampledCount = out
    count += other.count
    val threshold = GkSketch.CompressThresholdFactor *
      math.ceil(1.0 / relativeError).toInt
    if (sampledCount > threshold) compress()
    this
  }

  /** Approximate quantile with the GK guarantee: |rank(result) −
    * ceil(p·count)| ≤ relativeError·count. NaN when empty. */
  def query(p: Double): Double = {
    flushHead()
    if (sampledCount == 0) return Double.NaN
    if (p <= relativeError) return values(0)
    if (p >= 1.0 - relativeError) return values(sampledCount - 1)
    val rank = math.ceil(p * count).toLong
    // Primary bound: εn, guaranteed to admit a tuple while the g+Δ ≤ 2εn
    // invariant holds (flushHead's Δ−1 assignment; see the proof sketch
    // there). Defensive layer: widen to the sketch's ACTUAL max tuple
    // uncertainty (g+Δ)/2 — a no-op under the invariant, but if a future
    // edit re-breaks it this returns a near-target value (error ≤
    // max(g+Δ)/2 ≤ 2εn post-merge) instead of silently returning the
    // zone max; the guided engine's ±3εn bracket margin still covers at
    // 2εn error, and its runtime raise_error backstops anything worse.
    var maxGD = 0L
    var j = 0
    while (j < sampledCount) {
      val gd = gs(j) + deltas(j)
      if (gd > maxGD) maxGD = gd
      j += 1
    }
    val targetError = math.max(relativeError * count, maxGD / 2.0)
    var minRank = 0L
    var i = 0
    while (i < sampledCount - 1) {
      minRank += gs(i)
      val maxRank = minRank + deltas(i)
      if (maxRank <= rank + targetError && rank - targetError <= minRank)
        return values(i)
      i += 1
    }
    values(sampledCount - 1)
  }

  /** Deviation-median bracket from THIS value sketch plus the EXACT
    * median — the round-17 optimization that removes the mad family's
    * second GK corpus scan (VERDICT r16 #1). Returns a window [lo, hi]
    * guaranteed to contain the deviation multiset's values at the
    * interpolation ranks kLo = ⌊(n+1)/2⌋ and kHi = ⌈(n+1)/2⌉, where the
    * deviations are d_i = |v_i − med| over the same values this sketch
    * summarized — so `Extracts.guidedSelect` can run its exact windowed
    * count pass over the deviations WITHOUT a fresh bracket scan.
    *
    * Rank-bound reading of the summary (all standard GK): tuple i has
    * rmin_i = Σ_{j≤i} g_j ≤ rank(values(i)) ≤ rmin_i + Δ_i = rmax_i, the
    * first/last tuples are the exact min/max. For any x this bounds the
    * value CDF: N_le(x) ≥ rmin_i for the largest values(i) ≤ x (that
    * sample IS an element ≤ x at sorted position ≥ rmin_i), and
    * N_le(x) ≤ rmax_k − 1 for the smallest values(k) > x (position
    * rank(values(k)) holds an element > x); N_lt analogous. The
    * deviation CDF then brackets as
    *   R_le(t) = N_le(med+t) − N_lt(med−t) ≥ nLeLo(med+t) − nLtHi(med−t)
    *   R_lt(t) = N_lt(med+t) − N_le(med−t) ≤ nLtHi(med+t) − nLeLo(med−t)
    * Candidates are the ≤ S+2 deviations |values(i) − med| (plus 0 and
    * the exact devMax): hi = the smallest candidate whose guaranteed
    * R_le ≥ kHi (d_(kHi) ≤ hi); lo = the largest candidate whose
    * guaranteed-upper R_lt ≤ kLo − 1 (d_(kLo) ≥ lo); 0/devMax are always
    * valid fallbacks, so a window always exists. Each accepted candidate
    * is independently valid, so max/min over them is too.
    *
    * State tightness (not correctness): bound slack is ≤ 2·max(g+Δ) per
    * side and inter-candidate rank gaps are ≤ max(g+Δ), so the window
    * holds O(ε·n) = O(n/accuracy) rows — the same order as the value
    * engine's ~6n/accuracy windows. Small inputs
    * (n ≤ 2·accuracy, the value engine's widen threshold) return the
    * full [0, devMax] window, the same bounded full-buffer budget. A
    * window that still missed its rank raises through the guided
    * engine's runtime coverage guard, never a silent null.
    * GkBracketSpec pins lo ≤ d_(kLo) ∧ hi ≥ d_(kHi) differentially
    * against exact deviation ranks across the adversarial sweep. */
  def devBracket(med: Double): (Double, Double) = {
    flushHead()
    require(sampledCount > 0, "devBracket on an empty sketch")
    val n = count
    // first/last samples are the exact min/max (kept by flush + compress)
    val devMax = math.max(0.0,
      math.max(med - values(0), values(sampledCount - 1) - med))
    val accuracy = math.round(1.0 / relativeError)
    if (n <= 2L * accuracy) return (0.0, devMax)
    val s = sampledCount
    val rmin = new Array[Long](s)
    var accR = 0L
    var i = 0
    while (i < s) { accR += gs(i); rmin(i) = accR; i += 1 }
    // largest index with values(idx) <= x (or -1); strict variant for <
    def idxLe(x: Double): Int = {
      var lo = 0; var hi = s - 1; var res = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (values(mid) <= x) { res = mid; lo = mid + 1 } else hi = mid - 1
      }
      res
    }
    def idxLt(x: Double): Int = {
      var lo = 0; var hi = s - 1; var res = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (values(mid) < x) { res = mid; lo = mid + 1 } else hi = mid - 1
      }
      res
    }
    def nLeLo(x: Double): Long = { val j = idxLe(x); if (j < 0) 0L else rmin(j) }
    // smallest k with values(k) >= x bounds N_lt(x) from above (rmax_k − 1)
    def nLtHi(x: Double): Long = {
      val j = idxLt(x)
      if (j + 1 >= s) n else rmin(j + 1) + deltas(j + 1) - 1
    }
    val kLo = (n + 1) / 2
    val kHi = (n + 2) / 2
    val cands = new Array[Double](s + 2)
    i = 0
    while (i < s) { cands(i) = math.abs(values(i) - med); i += 1 }
    cands(s) = 0.0
    cands(s + 1) = devMax
    java.util.Arrays.sort(cands)
    var bestLo = 0.0
    var bestHi = devMax
    var hiFound = false
    i = 0
    while (i < cands.length) {
      val t = cands(i)
      val rltHi = math.max(0L, nLtHi(med + t) - nLeLo(med - t))
      if (rltHi <= kLo - 1 && t > bestLo) bestLo = t
      if (!hiFound) {
        val rleLo = math.max(0L, nLeLo(med + t) - nLtHi(med - t))
        if (rleLo >= kHi) { bestHi = t; hiFound = true }
      }
      i += 1
    }
    // each bound is individually valid (bestLo ≤ d_(kLo) ≤ d_(kHi) ≤
    // bestHi), so ordering holds by construction — over EXACT deviations.
    // The rank bounds were taken at fl(med ± t), up to half an ulp of
    // |med|+t away from med ± t, while the guided pass tests the COMPUTED
    // fl(|v − med|). Widening each side by one ulp of |med|+t covers that
    // (rounding is monotone: v ≤ fl(med+t) ⇒ fl(v − med) ≤ fl(t + ulp)).
    // One ulp of t alone falls short when t < |med|.
    (math.max(0.0, bestLo - Math.ulp(math.abs(med) + bestLo)),
      bestHi + Math.ulp(math.abs(med) + bestHi))
  }

  /** Max per-tuple uncertainty g+Δ over the compressed summary (flushes
    * the head first) — diagnostic for the GK invariant g+Δ ≤ 2εn that
    * query()'s hit guarantee rests on (GkBracketSpec pins it across an
    * n × accuracy × distribution × fan-in sweep). */
  def maxTupleUncertainty: Long = {
    flushHead()
    var m = 0L
    var i = 0
    while (i < sampledCount) {
      val gd = gs(i) + deltas(i)
      if (gd > m) m = gd
      i += 1
    }
    m
  }

  def totalCount: Long = { flushHead(); count }

  def serialize(): Array[Byte] = {
    flushHead()
    val bb = ByteBuffer.allocate(8 + 8 + 4 + sampledCount * 24)
    bb.putDouble(relativeError)
    bb.putLong(count)
    bb.putInt(sampledCount)
    var i = 0
    while (i < sampledCount) { bb.putDouble(values(i)); i += 1 }
    i = 0
    while (i < sampledCount) { bb.putLong(gs(i)); i += 1 }
    i = 0
    while (i < sampledCount) { bb.putLong(deltas(i)); i += 1 }
    bb.array()
  }
}

/** `gk_bracket(v, fracs, accuracy)` — array of GK approximate quantiles
  * at the given fractions, the drop-in bracket source for
  * `Extracts.guidedPercentiles` / `guidedTileBounds`. NULL for an empty
  * (or all-null) group, like `percentile_approx`.
  *
  * With `withState = true` (`gk_bracket_state`) the result is instead
  * `struct<qs: array<double>, state: binary>` — the same quantile array
  * plus the SERIALIZED summary, so a downstream |zones|-row computation
  * can re-interrogate the sketch after more information arrives (the mad
  * engine derives its deviation bracket from the value sketch once the
  * exact median is known — [[GkSketch.devBracket]] — killing the second
  * GK corpus scan). The blob is O(accuracy) per group and only ever
  * rides zone-grain aggregate frames, never a fact-side exchange. */
@ExpressionDescription(usage = "gk_bracket(v, fracs, accuracy)")
case class GkBracketAgg(
    child: Expression,
    fracs: Seq[Double],
    accuracy: Int,
    withState: Boolean = false,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GkSketch] with UnaryLike[Expression] {

  require(accuracy > 0, "accuracy must be positive")
  require(fracs.nonEmpty && fracs.forall(f => f >= 0.0 && f <= 1.0),
    "fractions must be in [0, 1]")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gk_bracket expects a double argument, got ${child.dataType.simpleString}" +
        " (the Column helper casts for you)")
  override def dataType: DataType =
    if (withState) StructType(Seq(
      StructField("qs", ArrayType(DoubleType, containsNull = false)),
      StructField("state", BinaryType)))
    else ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String =
    if (withState) "gk_bracket_state" else "gk_bracket"

  override def createAggregationBuffer(): GkSketch =
    new GkSketch(1.0 / accuracy)

  override def update(buffer: GkSketch, input: InternalRow): GkSketch = {
    val v = child.eval(input)
    if (v != null) buffer.insert(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: GkSketch, other: GkSketch): GkSketch =
    buffer.merge(other)

  override def eval(buffer: GkSketch): Any = {
    buffer.flushHead()
    if (buffer.count == 0) null
    else {
      val qs = new GenericArrayData(fracs.map(buffer.query).toArray)
      if (withState)
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](qs, buffer.serialize()))
      else qs
    }
  }

  override def serialize(buffer: GkSketch): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): GkSketch =
    GkSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): GkBracketAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GkBracketAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): GkBracketAgg =
    copy(child = newChild)
}

/** `gk_dev_bracket(state, med)` — [[GkSketch.devBracket]] as a scalar
  * expression: deserializes a `gk_bracket_state` blob and returns
  * `struct<lo: double, hi: double>`, the guaranteed deviation-median
  * window for deviations |v − med|. NULL if either input is NULL (an
  * all-null zone has no sketch and no median). Interpreted eval
  * (CodegenFallback) is deliberate: this only ever runs on |zones|-row
  * aggregate frames — never on a fact-side hot path — and the walk is
  * O(S log S) over a ≤ 2·accuracy-entry summary. */
case class GkDevBracket(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gk_dev_bracket expects (binary, double), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = StructType(Seq(
    StructField("lo", DoubleType), StructField("hi", DoubleType)))
  override def nullable: Boolean = true
  override def prettyName: String = "gk_dev_bracket"

  override def nullSafeEval(state: Any, med: Any): Any = {
    val sk = GkSketch.deserialize(state.asInstanceOf[Array[Byte]])
    val (lo, hi) = sk.devBracket(med.asInstanceOf[Double])
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lo, hi))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GkDevBracket =
    copy(left = newLeft, right = newRight)
}
