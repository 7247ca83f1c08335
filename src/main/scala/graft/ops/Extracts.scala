package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Ckpt._

/** The zonal-statistics aggregation catalog (SURVEY.md §2.4; reference
  * `extract_options`, `queue/extract_check.py:27-52`): group pixel/point
  * values by boundary feature (`asdf_id`), optional coverage-fraction
  * weight. Includes the reference's declared-future methods (`std, median,
  * majority, minority, unique, range, percentile, var, mode` — commented in
  * the reference catalog).
  *
  * Every method is a single-shuffle `HashAggregateExec` over built-in,
  * codegen'd aggregates (no UDAFs): partial aggregation happens map-side, so
  * at 100 TB each method moves only one partial-agg row per (zone ×
  * partition) through the exchange. `majority`/`minority`/`mode` pre-reduce
  * on (zone, class) first — two shuffles, but the second input is already
  * |zones|×|classes| rows, tiny at any scale.
  */
object Extracts {

  val methods: Seq[String] = Seq(
    "mean", "count", "sum", "min", "max",
    "weighted_mean", "weighted_count", "weighted_sum",
    "categorical", "reliability",
    "std", "median", "majority", "minority", "unique", "range",
    "percentile", "var", "mode",
    // [EXT] robust/ratio statistics beyond the reference catalog — the
    // screens a training-data pipeline layers on top of zonal stats
    "mad", "geomean", "harmonic",
    // [EXT] the 100 TB percentile: a mergeable sketch with bounded
    // reducer memory, where exact `percentile`/`median` buffer the whole
    // per-zone value set on one reducer (SCALE.md's holistic-aggregate
    // caveat, made an operator)
    "percentile_sketch",
    // [EXT] the 100 TB distinct count: HyperLogLog++ — O(registers) state
    // per zone where exact `unique` keeps the full per-zone value set in
    // the distinct aggregate's hash map
    "unique_sketch",
    // [EXT] sketch-GUIDED exact selection: EXACT percentile/median/mad
    // with bounded state — the answer to the measured super-linear decade
    // (SCALE.md `--x100extracts`: exact median/mad/percentile hit
    // exponents 1.22-1.38 at 100x while the scan floor stayed flat). A GK
    // sketch brackets the target rank into a narrow value window, one
    // more scan counts the strictly-below mass and aggregates the window
    // at (zone, value) grain — both map-combinable — and the exact
    // interpolated answer falls out of the window's cumulative counts.
    // Since round 7 this IS the implementation behind the catalog names
    // `median`/`percentile`/`mad` (the `_guided` aliases are retained);
    // the old per-zone value-buffering aggregates live on as `*_buffer`,
    // kept solely as test-side parity baselines (ExtractsSpec fuzz).
    "percentile_guided", "median_guided", "mad_guided",
    "percentile_buffer", "median_buffer", "mad_buffer")

  /** Zonal aggregate of `value` (weighted by `weight` where applicable),
    * grouped by `zone`. Output column is named `method` (aliased by callers
    * via [[Naming]]). Deterministic: no order-dependent aggregates.
    *
    * @param classes  explicit pivot class list for `categorical`
    *                 (determinism rule — FIXTURES.md).
    * @param p        percentile fraction for `percentile`/`percentile_sketch`.
    * @param accuracy sketch accuracy for `percentile_sketch`: rank error is
    *                 bounded by n/accuracy per zone, state by O(accuracy).
    * @param guidedAccuracy bracket accuracy for the `*_guided` methods.
    *                 EXACTNESS never depends on it — it only sizes the
    *                 value window (~6n/guidedAccuracy rows per zone) the
    *                 selection pass aggregates. Contract floor 100
    *                 (enforced by require): below it the widen path and
    *                 window mass silently approach full buffering. Kept an order coarser than
    *                 the sketch default because GK compression cost scales
    *                 with accuracy (measured 6.5 s vs 2.0 s per 69M-row
    *                 bracket scan at 10⁴ vs 10³) while the window stays
    *                 trivially small either way.
    * @param rsd      relative standard deviation for `unique_sketch`
    *                 (HyperLogLog++ register budget).
    */
  def extract(
      pixels: DataFrame,
      method: String,
      zone: String = "asdf_id",
      value: String = "value",
      weight: String = "weight",
      cls: String = "cls",
      classes: Seq[String] = Nil,
      p: Double = 0.95,
      accuracy: Int = 10000,
      rsd: Double = 0.05,
      guidedAccuracy: Int = 1000): DataFrame = {
    val z = col(zone)
    val v = col(value)
    val w = col(weight)
    def agg1(c: Column): DataFrame = pixels.groupBy(z).agg(c.as(method))
    method match {
      case "mean"           => agg1(avg(v))
      case "count"          => agg1(count(v))
      case "sum"            => agg1(sum(v))
      case "min"            => agg1(min(v))
      case "max"            => agg1(max(v))
      case "weighted_mean"  => agg1(sum(v * w) / sum(w))
      case "weighted_count" => agg1(sum(w))
      case "weighted_sum"   => agg1(sum(v * w))
      case "std"            => agg1(stddev_samp(v))
      case "var"            => agg1(var_samp(v))
      case "median_buffer"  => agg1(median(v))
      case "percentile_buffer" => agg1(percentile(v, lit(p)))
      case "percentile_sketch" =>
        // [EXT] sketch percentile (Greenwald-Khanna via percentile_approx):
        // partial sketches merge map-side, so a hot zone with 10⁹ values
        // costs O(accuracy) reducer state instead of buffering the value
        // set (what exact `percentile` does). Returns a VALUE FROM THE
        // DATASET whose rank r satisfies |r − p·n| ≤ n/accuracy — the
        // contract extract_percentile_sketch's oracle gate pins.
        agg1(percentile_approx(v, lit(p), lit(accuracy)))
      case "unique"         => agg1(count_distinct(v))
      case "unique_sketch"  =>
        // [EXT] HLL++ distinct (approx_count_distinct): register-array
        // partials merge map-side (register-wise max — order-independent,
        // so the estimate is DETERMINISTIC for a given multiset); a zone
        // with 10⁹ distinct values costs O(1/rsd²) state instead of a
        // distinct hash map. Standard error ≤ rsd·n; the
        // extract_unique_sketch oracle gate pins a 3·rsd band.
        agg1(approx_count_distinct(v, rsd))
      case "range"          => agg1(max(v) - min(v))
      case "categorical" =>
        // one column per class: <cls>-count pivot with an explicit class
        // list so the plan (and the oracle) has a stable schema
        // (`queue/templates/field_names.txt:27-32`).
        val pivoted = pixels.groupBy(z).pivot(cls, classes).count()
        classes.foldLeft(pivoted) { (df, c) =>
          df.withColumn(s"categorical_$c", coalesce(col(s"`$c`"), lit(0L)))
            .drop(c)
        }
      case "mode" =>
        // most frequent value; ties broken by smallest value (deterministic,
        // unlike the built-in `mode`): min(struct(-cnt, value)).
        pixels.groupBy(z, v).agg(count(lit(1)).as("cnt"))
          .groupBy(z)
          .agg(min(struct((-col("cnt")).as("neg"), v.as("pick"))).as("m"))
          .select(z, col("m.pick").as(method))
      case "majority" =>
        // most frequent class, ties → lexicographically smallest class
        // (SURVEY.md §2.5 W3 tie-break).
        pixels.groupBy(z, col(cls)).agg(count(lit(1)).as("cnt"))
          .groupBy(z)
          .agg(min(struct((-col("cnt")).as("neg"), col(cls).as("pick"))).as("m"))
          .select(z, col("m.pick").as(method))
      case "minority" =>
        pixels.groupBy(z, col(cls)).agg(count(lit(1)).as("cnt"))
          .groupBy(z)
          .agg(min(struct(col("cnt"), col(cls).as("pick"))).as("m"))
          .select(z, col("m.pick").as(method))
      case "mad_buffer" =>
        // [EXT] median absolute deviation — the robust dispersion screen
        // (outlier-insensitive, unlike std). Two stages: per-zone exact
        // median (|zones| rows), broadcast back over the pixel stream, then
        // a second exact median of |v - med|. The broadcast side is
        // aggregate output — tiny at any scale — so the fact table never
        // shuffles for the join; the two median aggregates are the only
        // exchanges. Matches DuckDB's mad() (interpolated, DOUBLE input).
        // Both median passes scan the same (zone, value) projection, so
        // checkpoint it once: the second pass reads the materialized
        // blocks instead of re-deriving the join/scan. DISK_ONLY, not
        // MEMORY_AND_DISK — a corpus-sized block set in the unified pool
        // strangles downstream execution under memory pressure (see
        // [[Ckpt]]); the ContextCleaner frees the blocks once the frame
        // is unreachable. LAZY, not eager: an eager checkpoint here would
        // scan the corpus while the frame is only being BUILT (by a
        // caller that inspects the plan or never executes it); lazy
        // defers the scan to the first consumer.
        val medC = "__graft_mad_med"
        val pv = pixels.select(z, v)
          .diskCheckpointLazy()
        val med = pv.groupBy(z).agg(median(v).as(medC))
        // null-safe attach: groupBy keeps a NULL zone group (and DuckDB's
        // mad() computes it), so an equi-join here would silently drop it
        joinOnZone(pv, med, zone)
          .groupBy(z).agg(median(abs(v - col(medC))).as(method))
      case "geomean" =>
        // [EXT] geometric mean via exp(avg(ln v)) — identical formulation
        // on the oracle side; value > 0 in this relation by construction
        agg1(exp(avg(log(v))))
      case "harmonic" =>
        // [EXT] harmonic mean = n / Σ(1/v) — rate-style averaging
        agg1(count(v) / sum(lit(1.0) / v))
      case "reliability" =>
        // sum / potential ratio (`queue/templates/field_names.txt:17-22`):
        // here `value` = realized amount, `weight` column = potential amount.
        pixels.groupBy(z)
          .agg(sum(v).as("sum"), sum(w).as("potential"))
          .withColumn(method, col("sum") / col("potential"))
      // registered defaults since round 7: the catalog names run the
      // sketch-guided EXACT engine (identical values to the `*_buffer`
      // forms, bounded state at 100×); `_guided` stays as an alias
      case "percentile" | "percentile_guided" =>
        guidedPercentile(pixels, zone, value, p, guidedAccuracy)
          .select(z, col("__g_res").as(method))
      case "median" | "median_guided" =>
        guidedPercentile(pixels, zone, value, 0.5, guidedAccuracy)
          .select(z, col("__g_res").as(method))
      case "mad" | "mad_guided" =>
        // three-scan guided (median, MAD): value bracket (which also
        // serializes the sketch), median window scan, deviation window
        // scan — the deviation BRACKET is derived from the value sketch
        // ([[guidedMedianMad]]), not scanned. Same exact answer as the
        // buffering `mad_buffer`, never more than O(n/accuracy) reducer
        // state. Still NOT disk-checkpointing the pixel projection
        // (round-15 A/B): each scan is a 2-column pushed parquet scan +
        // broadcast probe — cheaper than java-serialized block re-reads.
        guidedMedianMad(pixels, zone, value, "__g_medn", method,
          guidedAccuracy)
          .select(z, col(method))
      case other => throw new IllegalArgumentException(s"unknown extract method: $other")
    }
  }

  /** Sketch-guided EXACT interpolated percentile — identical output to
    * `percentile(v, p)` with bounded aggregation state at every step.
    *
    * Exact holistic aggregates buffer the whole per-zone value multiset
    * on one reducer; measured at 100× (SCALE.md `--x100extracts`) that is
    * a super-linear wall (exponents 1.22–1.38) while everything around it
    * stays flat. This is the exact-answer escape:
    *
    *   1. BRACKET (one scan): per zone, `percentile_approx` at
    *      p ± 3/accuracy. GK's rank guarantee (error ≤ n/accuracy) puts
    *      the target interpolation ranks strictly inside the returned
    *      value window [lo, hi].
    *   2. WINDOW AGGREGATE (one scan): group by (zone, value-if-inside),
    *      counting rows per distinct window value plus the strictly-below
    *      mass. Both are plain map-combinable aggregates — per-zone state
    *      is ≤ ~6n/accuracy window rows (tie runs COMPRESS to one row, so
    *      heavy ties shrink state rather than blowing it up).
    *   3. SELECT (tiny frames): cumulative counts over the ≤6n/accuracy
    *      distinct window values per zone locate the values at ranks
    *      ⌊r⌋/⌈r⌉ (r = 1 + p·(n−1), Spark's interpolation rank), and the
    *      exact interpolated result falls out.
    *
    * Returns (zone, __g_res). A window that failed to cover the target
    * ranks (impossible while GK honors its bound) RAISES at runtime via
    * `raise_error` — never a silent null that would flow into downstream
    * clamps/scores as a dropped statistic. */
  /** Single-fraction convenience over [[guidedPercentiles]]. */
  private def guidedPercentile(pixels: DataFrame, zone: String,
      value: String, p: Double, accuracy: Int): DataFrame =
    guidedPercentiles(pixels, zone, value, Seq(p), accuracy)
      .withColumnRenamed("__g_res_0", "__g_res")

  /** Multi-fraction sketch-guided EXACT selection: one GK bracket pass +
    * one windowed (zone, value) count pass serve ALL requested fractions
    * (winsor's p05/p95, decile sets, …). Returns
    * (zone, __g_res_0 … __g_res_{k-1}) in `ps` order; each column equals
    * `percentile(value, ps(i))` exactly. Coverage argument and bounded
    * state are per-fraction identical to the single-target analysis: the
    * window union is ≤ k·~6n/accuracy distinct values per zone, ties
    * compress, small zones (n ≤ 2·accuracy) widen to [min,max]. */
  private def guidedPercentiles(pixels: DataFrame, zone: String,
      value: String, ps: Seq[Double], accuracy: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty, "guidedPercentiles needs at least one fraction")
    // ACCURACY CONTRACT FLOOR (API, not just scaladoc): exactness never
    // depends on accuracy — the widen threshold n ≤ 2·accuracy and the
    // 3/accuracy bracket margin are derived so the target ranks are
    // covered at ANY accuracy — but STATE does: widen zones buffer every
    // distinct value (≤ 2·accuracy of them) and narrow-path zones
    // aggregate ~6n/accuracy window rows. A coarse accuracy therefore
    // degrades the bounded-state contract SILENTLY (correct answers,
    // full-buffering cost). Floor 100 caps the silent regime: ≤ 200-value
    // widen buffers, ≤ 6% of a zone in any window.
    require(accuracy >= 100,
      s"guided accuracy $accuracy is below the contract floor 100 — " +
        "results stay exact at any accuracy, but windows cover " +
        "~6n/accuracy rows and zones with n <= 2*accuracy fully buffer, " +
        "so coarser settings silently abandon the bounded-state contract")
    val reserved = Set("__g_n", "__g_wv", "__g_c", "__g_cumall") ++
      ps.indices.flatMap(i => Seq(s"__g_lo_$i", s"__g_hi_$i", s"__g_b_$i",
        s"__g_below_$i", s"__g_ub_$i", s"__g_res_$i"))
    val clash = pixels.columns.toSet.intersect(reserved)
    require(clash.isEmpty,
      s"guidedPercentiles working columns collide: ${clash.mkString(", ")}")
    val z = col(zone)
    val v = col(value)
    val e = 3.0 / accuracy
    val pls = ps.map(p => math.max(0.0, p - e))
    val phs = ps.map(p => math.min(1.0, p + e))
    // bracket pass: ONE sketch per zone covers every fraction's window;
    // clamped fractions fall back to exact min/max (cheap codegen
    // aggregates), so edge windows provably cover rank 1 / rank n
    val widen = col("__g_n") <= 2L * accuracy
    // zones with n ≤ 2·accuracy widen to [min, max]: the fractional
    // margin 3/accuracy is worth < 1 RANK there, so a window could miss
    // the ⌈r⌉ interpolation neighbor — full-width keeps the same
    // selection machinery with ≤ 2·accuracy distinct values, which is
    // exactly the bounded-state budget the guided path already pays
    val bounds = pixels.groupBy(z).agg(
        count(v).as("__g_n"), min(v).as("__g_min"), max(v).as("__g_max"),
        // primitive-array GK (graft.functions.GkBracketAgg), not
        // percentile_approx: same rank guarantee, ZERO per-row garbage —
        // Spark's QuantileSummaries boxes every inserted double, and the
        // first run in a JVM spent 49% of task time in GC at 688M rows
        // (SCALE.md --limedian) before C2 caught up
        graft.functions.native.gk_bracket(v, pls ++ phs, accuracy).as("__g_pa"))
      .select(Seq(z, col("__g_n")) ++ ps.indices.flatMap { i =>
        Seq(
          (if (pls(i) == 0.0) col("__g_min")
           else when(widen, col("__g_min"))
             .otherwise(element_at(col("__g_pa"), i + 1))).as(s"__g_lo_$i"),
          (if (phs(i) == 1.0) col("__g_max")
           else when(widen, col("__g_max"))
             .otherwise(element_at(col("__g_pa"), ps.length + i + 1)))
            .as(s"__g_hi_$i"))
      }: _*)
      // |zones|-row frame referenced three times (window join, n attach,
      // zone-retention join): LAZY checkpoint so one sketch pass serves
      // all of them — via the Ckpt helper so a plan-only
      // (Ckpt.planOnly) construction stays job-free even under AQE
      .smallCheckpointLazy()
    guidedSelect(pixels, bounds, zone, v, ps)
  }

  /** The guided engine's SELECTION passes, shared by the percentile and
    * mad engines: given a bounds frame
    * `(zone, __g_n, __g_lo_0…__g_lo_{k-1}, __g_hi_0…)` — from a GK
    * bracket scan, or DERIVED (the mad deviation window comes from the
    * value sketch, [[GkSketch.devBracket]]) — run ONE windowed
    * (zone, value) count scan plus the tiny-frame cumulative selection,
    * and return (zone, __g_res_0…__g_res_{k-1}) with each column the
    * EXACT `percentile(value, ps(i))`. `v` is evaluated AFTER the bounds
    * attach, so a caller may select a value derived from attached bounds
    * columns (the mad pass reads `abs(value − __g_med)` with `__g_med`
    * riding the bounds frame — one broadcast attach serves both the
    * deviation computation and its window). `bounds` is referenced three
    * times (window join, selection re-attach, zone retention) — callers
    * pass it checkpointed. */
  private def guidedSelect(pixels: DataFrame, bounds: DataFrame,
      zone: String, v: Column, ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val z = col(zone)
    // window-aggregate pass: one scan, (zone, distinct-window-value)
    // grain over the UNION of windows. Rows outside every window collapse
    // into the null group — kept only for the strictly-below counts.
    // NULL-SAFE zone join (joinOnZone): groupBy keeps a NULL zone group,
    // and the buffering aggregates compute a real value for it — an
    // equi-join here would silently drop that group and break the
    // "identical output" contract for nullable zone keys
    def inWin(i: Int) = v.between(col(s"__g_lo_$i"), col(s"__g_hi_$i"))
    val g = joinOnZone(pixels, bounds, zone)
      .groupBy(z, when(ps.indices.map(inWin).reduce(_ || _), v).as("__g_wv"))
      .agg(count(lit(1)).as("__g_c"),
        ps.indices.map(i => sum(when(v < col(s"__g_lo_$i"), 1L).otherwise(0L))
          .as(s"__g_b_$i")): _*)
    // below-mass rollup as an UNORDERED window over the same zone
    // partitioning the cumulative pass needs anyway — one exchange
    // serves both window frames — computed BEFORE the in-window filter
    // so the null-window group's below-counts participate. Round-15
    // shape was a separate groupBy rollup + broadcast join back, which
    // referenced `g` twice and paid a corpus/accuracy-sized DISK_ONLY
    // checkpoint write+read; single-referenced, `g` needs no checkpoint
    // at all (measured in r16: the checkpoint materialization + rollup
    // join cost ~0.3-0.5 s per call at sf0.1). Guide §2.4 (two
    // operations keyed the same way share one exchange) + §5 (persist
    // only what is re-used). Single select, not a withColumn fold: each
    // withColumn re-analyzes the whole plan (driver-side O(k²) on the
    // multi-fraction tile callers — r17).
    val wAll = Window.partitionBy(z)
    val gBelow = g.select(col("*") +: ps.indices.map(i =>
      sum(col(s"__g_b_$i")).over(wAll).as(s"__g_below_$i")): _*)
    val wOrd = Window.partitionBy(z).orderBy("__g_wv")
    // the bounds attach side is a |zones|-row aggregate — broadcast it
    // EXPLICITLY (inside joinOnZone) so the window frame can never
    // become the build side itself
    val wnd0 = joinOnZone(gBelow.filter(col("__g_wv").isNotNull),
      bounds, zone)
    val wv = col("__g_wv")
    // ONE unconditional running sum plus per-fraction UNORDERED
    // below-window offsets replaces the k conditional running sums of
    // the r16 shape (WindowExec evaluates window expressions
    // interpreted — k running `when(between)` sums were ~0.5 s of the
    // 10-tile call at sf0.1, r17): for an in-window-i row,
    // cum_i = cumAll − ub_i counts exactly the window-i values ≤ wv —
    // a union row with lo_i ≤ value ≤ wv ≤ hi_i IS in window i, and
    // cum_i is only ever read at in-window rows.
    val wnd = wnd0.select(col("*") +:
      (sum(col("__g_c")).over(wOrd).as("__g_cumall") +:
        ps.indices.map(i =>
          sum(when(wv < col(s"__g_lo_$i"), col("__g_c")).otherwise(0L))
            .over(wAll).as(s"__g_ub_$i")).toSeq): _*)
    val aggs = ps.indices.flatMap { i =>
      // r = 1 + p(n-1): the 1-based fractional rank `percentile` interpolates
      val r = lit(1.0) + lit(ps(i)) * (col("__g_n") - 1).cast("double")
      val kLo = floor(r)
      val kHi = ceil(r)
      val inW = wv.between(col(s"__g_lo_$i"), col(s"__g_hi_$i"))
      val cum = col("__g_cumall") - col(s"__g_ub_$i")
      val lo1 = col(s"__g_below_$i") + cum - col("__g_c") + 1
      val hi1 = col(s"__g_below_$i") + cum
      Seq(
        min(when(inW && lo1 <= kLo && kLo <= hi1, wv)).as(s"__g_vlo_$i"),
        min(when(inW && lo1 <= kHi && kHi <= hi1, wv)).as(s"__g_vhi_$i"),
        first(r).as(s"__g_r_$i"), first(kLo).as(s"__g_klo_$i"))
    }
    val selected = wnd.groupBy(z).agg(aggs.head, aggs.tail: _*)
      .select(Seq(z) ++ ps.indices.map { i =>
        val vlo = col(s"__g_vlo_$i").cast("double")
        val vhi = col(s"__g_vhi_$i").cast("double")
        val interp = vlo + (col(s"__g_r_$i") - col(s"__g_klo_$i")) * (vhi - vlo)
        // runtime coverage guard: every zone reaching `selected` has ≥1
        // non-null value, so a null interpolation neighbor here means the
        // GK bracket VIOLATED its rank bound (e.g. a merged-summary edge
        // case). Fail loudly instead of emitting null — a silent null
        // would flow into downstream clamps/scores (winsor, robust
        // fences, weekly percentile rows) as a dropped statistic with no
        // error anywhere but an oracle-parity test.
        when(vlo.isNull || vhi.isNull,
          raise_error(format_string(
            s"guided quantile window missed rank (p=${ps(i)}) for zone %s" +
              " — GK bracket bound violated",
            coalesce(z.cast("string"), lit("NULL")))))
          .otherwise(interp).as(s"__g_res_$i")
      }: _*)
    // zones whose values are all null have no window rows but must stay
    // present (exact `percentile` emits them with a null result)
    joinOnZone(bounds.select(z), selected, zone, "left")
  }

  /** Guided EXACT (median, MAD) in THREE corpus scans instead of four
    * (round-17, VERDICT r16 #1): the old mad path ran the full guided
    * engine twice — value bracket scan, value window scan, DEVIATION
    * BRACKET SCAN, deviation window scan. The deviation bracket never
    * needed its own scan: the value sketch from scan 1 bounds the
    * deviation CDF around any center, so once the exact median is known
    * the deviation-median window falls out of a |zones|-row sketch walk
    * ([[GkSketch.devBracket]], serialized into the bounds frame by
    * `gk_bracket_state`). Exactness is untouched — the windowed count
    * pass recomputes exact ranks and the raise_error coverage guard
    * still backstops the bracket — only WHICH valid window feeds it
    * changed. Bonus: the median rides the deviation-bounds frame, so the
    * deviation scan's single broadcast attach serves both the |v − med|
    * computation and its window (the old shape paid separate med-attach
    * and bounds-attach joins).
    *
    * Returns (zone, medName, madName) — exactly
    * `percentile(v, 0.5)` and `percentile(abs(v − med), 0.5)`, DuckDB
    * `median`/`mad` parity like the engine it replaces. */
  def guidedMedianMad(pixels: DataFrame, zone: String = "asdf_id",
      value: String = "value", medName: String = "med",
      madName: String = "mad", accuracy: Int = 1000): DataFrame = {
    require(accuracy >= 100,
      s"guided accuracy $accuracy is below the contract floor 100 — " +
        "results stay exact at any accuracy, but windows cover " +
        "~6n/accuracy rows and zones with n <= 2*accuracy fully buffer, " +
        "so coarser settings silently abandon the bounded-state contract")
    val reserved = Set("__g_n", "__g_min", "__g_max", "__g_pa", "__g_sk",
      "__g_wv", "__g_c", "__g_lo_0", "__g_hi_0", "__g_b_0", "__g_below_0",
      "__g_cumall", "__g_ub_0", "__g_res_0", "__g_med", "__g_db")
    val clash = pixels.columns.toSet.intersect(reserved)
    require(clash.isEmpty,
      s"guidedMedianMad working columns collide: ${clash.mkString(", ")}")
    val z = col(zone)
    val v = col(value)
    val e = 3.0 / accuracy
    val widen = col("__g_n") <= 2L * accuracy
    // bracket pass (corpus scan 1): median window ± the sketch itself
    val bounds = pixels.groupBy(z).agg(
        count(v).as("__g_n"), min(v).as("__g_min"), max(v).as("__g_max"),
        graft.functions.native.gk_bracket_state(v, Seq(0.5 - e, 0.5 + e),
          accuracy).as("__g_pa"))
      .select(z, col("__g_n"),
        when(widen, col("__g_min"))
          .otherwise(element_at(col("__g_pa.qs"), 1)).as("__g_lo_0"),
        when(widen, col("__g_max"))
          .otherwise(element_at(col("__g_pa.qs"), 2)).as("__g_hi_0"),
        col("__g_pa.state").as("__g_sk"))
      // referenced by the median selection (3×) and the deviation-bounds
      // build; the O(accuracy)-byte sketch blob rides only this
      // |zones|-row frame — every fact-side attach projects it away
      .smallCheckpointLazy()
    // median selection (corpus scan 2) — blob projected OUT of the attach
    val med = guidedSelect(pixels,
        bounds.select(z, col("__g_n"), col("__g_lo_0"), col("__g_hi_0")),
        zone, v, Seq(0.5))
      .withColumnRenamed("__g_res_0", "__g_med")
      // referenced twice (deviation bounds + final combine): checkpoint,
      // or each reference re-runs the whole median pipeline
      .smallCheckpointLazy()
    // deviation bounds: |zones|-row sketch walk, NO corpus scan
    val devB = joinOnZone(bounds, med, zone)
      .withColumn("__g_db",
        graft.functions.native.gk_dev_bracket(col("__g_sk"), col("__g_med")))
      .select(z, col("__g_n"), col("__g_med"),
        col("__g_db.lo").as("__g_lo_0"), col("__g_db.hi").as("__g_hi_0"))
      .smallCheckpointLazy()
    // deviation selection (corpus scan 3): med rides devB, so this pass's
    // one broadcast attach yields both |v − med| and its window
    val mad = guidedSelect(pixels, devB, zone,
      abs(v - col("__g_med")), Seq(0.5))
    joinOnZone(med.select(z, col("__g_med").as(medName)),
      mad.select(z, col("__g_res_0").as(madName)), zone, "left")
  }

  /** Null-safe zone-key attach: joins `left` to the |zones|-row `right`
    * on `zone` with null-matching semantics (a NULL zone group matches
    * its NULL counterpart instead of silently dropping — `groupBy` keeps
    * NULL groups, so zone-keyed attaches must too), broadcasting the
    * right side explicitly. Implemented as an equi-join on
    * `xxhash64(zone)` — a single non-null LONG key, so the broadcast
    * build side stays a LongHashedRelation (the fast primitive-long
    * path) — with the null-safe zone comparison demoted to a residual
    * predicate on hash-matched pairs (see the inline comment for why the
    * residual is spelled `coalesce(=, isnull&&isnull)` rather than
    * `<=>`). Rejected alternatives, both measured ~8-10× slower per
    * fact-side scan (7.3 s vs 0.8 s on the 69M-row corpus): a
    * struct-wrapped key and an explicit `<=>` join key — each degrades
    * the build side to generic-row keys. Shared by the guided
    * internals and every query that attaches a guided-quantile frame
    * back onto its stream. */
  def joinOnZone(left: DataFrame, right: DataFrame, zone: String,
      how: String = "inner"): DataFrame = {
    val clash = (left.columns ++ right.columns).toSet
      .intersect(Set("__g_jh", "__g_zk"))
    require(clash.isEmpty, "joinOnZone working columns collide")
    // Equi-key = xxhash64(zone) ALONE: a NULL zone hashes to the seed, so
    // the null group gets a real long key and the build side stays a
    // LongHashedRelation — the fast primitive-long path. Every other
    // null-matching formulation (struct-wrapped key, an explicit `<=>`,
    // which ExtractEquiJoinKeys LIFTS into coalesce/isnull key triples)
    // degrades to generic-row keys, measured ~8x slower per fact-side
    // probe scan at 69M rows. The null-safe confirm runs as a RESIDUAL on
    // hash-matched pairs only — written as coalesce(=, isnull&&isnull)
    // precisely so the equi-key extractor cannot lift it into the keys —
    // making the semantics exact rather than resting on hash collisions.
    val lk = left.withColumn("__g_jh", xxhash64(left(zone)))
    val rk = right.withColumnRenamed(zone, "__g_zk")
      .withColumn("__g_jh", xxhash64(col("__g_zk")))
    val sameZone = coalesce(lk(zone) === rk("__g_zk"),
      lk(zone).isNull && rk("__g_zk").isNull)
    lk.join(broadcast(rk), lk("__g_jh") === rk("__g_jh") && sameZone, how)
      .drop("__g_jh").drop("__g_zk")
  }

  /** Public multi-quantile guided exact selection for query builders
    * (winsor bounds, robust fences, decile sets): returns
    * (zone, names(0) … names(k-1)) where names(i) = exact
    * `percentile(value, ps(i))`. */
  def guidedQuantiles(pixels: DataFrame, ps: Seq[Double], names: Seq[String],
      zone: String = "asdf_id", value: String = "value",
      accuracy: Int = 1000): DataFrame = {
    require(ps.length == names.length, "one name per fraction")
    guidedPercentiles(pixels, zone, value, ps, accuracy)
      .select(Seq(col(zone)) ++ ps.indices.map(i =>
        col(s"__g_res_$i").as(names(i))): _*)
  }

  /** Sketch-guided EXACT equi-depth tile bounds — per zone, the tile
    * summary `(tile 1..k, n_t, lo_v, hi_v)` that
    * `ntile(k) OVER (PARTITION BY zone ORDER BY value, ties…)` followed
    * by `groupBy(zone, tile).agg(count, min(value), max(value))` would
    * produce, computed WITHOUT ranking a single row: the tile counts are
    * closed-form from n (ntile's remainder rule), and each tile edge is
    * the dataset VALUE AT AN INTEGER RANK (b_t = last rank of tile t,
    * a_{t+1} = b_t + 1) — values at ranks are tie-break independent, so
    * the summary is too, for ANY tie columns. Rank→value extraction
    * rides the guided machinery: a GK bracket pass windows each interior
    * boundary fraction j/k, one (zone, value)-grain count pass computes
    * in-window cumulative ranks, and the boundary values fall out —
    * two aggregate passes over the data, no sort, no window, bounded
    * state. This is strictly cheaper than the banded-rank ntile
    * ([[graft.ops.Analytics.zonedNtile]]) when only the per-tile SUMMARY
    * is needed; use zonedNtile when every row needs its tile.
    *
    * Coverage: the widen threshold is accuracy·(k+3)/2. The fraction
    * margin 3/accuracy is worth 3n/accuracy ranks, but GK's own rank
    * error consumes n/accuracy of it, leaving post-sketch slack
    * 2n/accuracy; the boundary rank b_j (ntile remainder rule) sits
    * within k+1 ranks of n·j/k and the window must also reach the
    * a_{j+1} = b_j+1 neighbor, so coverage needs
    * 2n/accuracy ≥ k+3 ⇔ n ≥ accuracy·(k+3)/2. Below the threshold the
    * window is the full [min,max] (state ≤ widen-threshold distinct
    * values, still bounded).
    * A window that still missed a target rank raises at runtime (same
    * loud-failure contract as the percentile engine). `value` must be
    * non-null (ntile ranks null values; a value-windowed aggregate
    * cannot — callers pre-filter, as the histogram relations do). */
  def guidedTileBounds(pixels: DataFrame, k: Int, zone: String = "asdf_id",
      value: String = "value", accuracy: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, "need at least two tiles")
    // same accuracy contract floor as the percentile engine (see
    // guidedPercentiles): exact at any accuracy, but the widen threshold
    // accuracy·(k+3)/2 and the ~6n/accuracy windows make coarse settings
    // silently full-buffering
    require(accuracy >= 100,
      s"guided accuracy $accuracy is below the contract floor 100 — " +
        "tile bounds stay exact at any accuracy, but zones with " +
        "n <= accuracy*(k+3)/2 fully buffer and windows cover " +
        "~6n/accuracy rows, so coarser settings silently abandon the " +
        "bounded-state contract")
    val reserved = (1 until k).flatMap(j => Seq(s"__t_lo_$j", s"__t_hi_$j",
      s"__t_b_$j", s"__t_blo_$j", s"__t_ub_$j", s"__t_va_$j", s"__t_vb_$j")) ++
      Seq("__t_n", "__t_mn", "__t_mx", "__t_pa", "__t_wv", "__t_c",
        "__t_cumall", "t")
    val clash = pixels.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"guidedTileBounds working columns collide: ${clash.mkString(", ")}")
    val z = col(zone)
    val v = col(value)
    val e = 3.0 / accuracy
    val pls = (1 until k).map(j => math.max(0.0, j.toDouble / k - e))
    val phs = (1 until k).map(j => math.min(1.0, j.toDouble / k + e))
    // see the Coverage paragraph above: 2n/accuracy post-GK slack must
    // cover the ≤(k+3)-rank gap between a bracketing fraction and the
    // boundary ranks it serves
    val widen = col("__t_n") <= (accuracy.toLong * (k + 3)) / 2
    val bounds = pixels.groupBy(z).agg(
        count(v).as("__t_n"), min(v).as("__t_mn"), max(v).as("__t_mx"),
        // primitive-array GK bracket (see guidedPercentiles' note)
        graft.functions.native.gk_bracket(v, pls ++ phs, accuracy)
          .as("__t_pa"))
      .select(Seq(z, col("__t_n"), col("__t_mn"), col("__t_mx")) ++
        (1 until k).flatMap { j =>
          Seq(when(widen, col("__t_mn"))
                .otherwise(element_at(col("__t_pa"), j)).as(s"__t_lo_$j"),
              when(widen, col("__t_mx"))
                .otherwise(element_at(col("__t_pa"), k - 1 + j)).as(s"__t_hi_$j"))
        }: _*)
      .smallCheckpointLazy()
    def inWin(j: Int) = v.between(col(s"__t_lo_$j"), col(s"__t_hi_$j"))
    val g = joinOnZone(pixels, bounds, zone)
      .groupBy(z, when((1 until k).map(inWin).reduce(_ || _), v).as("__t_wv"))
      .agg(count(lit(1)).as("__t_c"),
        (1 until k).map(j => sum(when(v < col(s"__t_lo_$j"), 1L).otherwise(0L))
          .as(s"__t_b_$j")): _*)
    // below-mass rollup folded into an unordered window over the same
    // zone partitioning as the cumulative pass (one exchange serves
    // both), computed before the in-window filter — see the identical
    // r16 rewrite in guidedPercentiles: `g` becomes single-referenced,
    // so the former DISK_ONLY checkpoint (write+read per call) is gone.
    // Single selects + one unconditional running sum with unordered
    // below-window offsets — the same r17 rewrite as guidedSelect (the
    // k−1 conditional running sums were ~0.5 s of interpreted WindowExec
    // per 10-tile call at sf0.1, and each withColumn re-analyzed the
    // growing plan on the driver).
    val wAll = Window.partitionBy(z)
    val gBelow = g.select(col("*") +: (1 until k).map(j =>
      sum(col(s"__t_b_$j")).over(wAll).as(s"__t_blo_$j")): _*)
    val wOrd = Window.partitionBy(z).orderBy("__t_wv")
    val wnd0 = joinOnZone(gBelow.filter(col("__t_wv").isNotNull),
      bounds, zone)
    val wv = col("__t_wv")
    val wnd = wnd0.select(col("*") +:
      (sum(col("__t_c")).over(wOrd).as("__t_cumall") +:
        (1 until k).map(j =>
          sum(when(wv < col(s"__t_lo_$j"), col("__t_c")).otherwise(0L))
            .over(wAll).as(s"__t_ub_$j")).toSeq): _*)
    // boundary ranks from ntile's remainder rule (q = n div k,
    // rem = n mod k): tile t ends at rank b_t = t·q + least(t, rem);
    // tile t+1 starts at a_{t+1} = b_t + 1 — both extracted from
    // window j = t
    val nC = col("__t_n")
    val aggs = (1 until k).flatMap { j =>
      val bRank = lit(j.toLong) * expr(s"__t_n div $k") +
        least(lit(j.toLong), nC % k)
      val aRank = bRank + 1L
      val inW = wv.between(col(s"__t_lo_$j"), col(s"__t_hi_$j"))
      val cum = col("__t_cumall") - col(s"__t_ub_$j")
      val lo1 = col(s"__t_blo_$j") + cum - col("__t_c") + 1
      val hi1 = col(s"__t_blo_$j") + cum
      Seq(
        min(when(inW && lo1 <= bRank && bRank <= hi1, wv)).as(s"__t_vb_$j"),
        min(when(inW && lo1 <= aRank && aRank <= hi1, wv)).as(s"__t_va_$j"))
    }
    val selected = wnd.groupBy(z).agg(aggs.head, aggs.tail: _*)
    // assemble: explode tiles 1..k; counts closed-form; edges from the
    // boundary values (tile 1 starts at the zone min, tile k ends at the
    // zone max); empty tiles (n < k) drop like ntile's missing tiles
    val assembled = joinOnZone(
        bounds.select(z, col("__t_n"), col("__t_mn"), col("__t_mx")),
        selected, zone, "left")
      .select(col("*"), explode(expr(s"sequence(1L, $k)")).as("t"))
      .withColumn("__t_nt", expr(s"(__t_n div $k) + IF(t <= __t_n % $k, 1L, 0L)"))
      .filter(col("__t_nt") > 0)
    def guarded(c: Column, what: String): Column =
      when(c.isNull, raise_error(format_string(
        s"guidedTileBounds missed the $what boundary rank for zone %s" +
          " — GK bracket bound violated",
        coalesce(z.cast("string"), lit("NULL"))))).otherwise(c)
    val loV = (2 to k - 1).foldLeft(
        when(col("t") === 1, col("__t_mn"))) { (acc, t) =>
        acc.when(col("t") === t, col(s"__t_va_${t - 1}"))
      }.otherwise(col(s"__t_va_${k - 1}"))
    val hiV = (1 until k).foldLeft(
        when(col("t") === k, col("__t_mx"))) { (acc, t) =>
        acc.when(col("t") === t, col(s"__t_vb_$t"))
      }.otherwise(lit(null))
    assembled.select(z, col("t").as("tile"), col("__t_nt").as("n"),
      guarded(loV, "lower").as("lo_v"), guarded(hiV, "upper").as("hi_v"))
  }
}
