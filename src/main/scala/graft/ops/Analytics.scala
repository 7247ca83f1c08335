package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Ckpt._

/** [EXT] batch event analytics (SURVEY.md §2.11): ordered-funnel stage
  * resolution and weekly cohort retention over the batch view of `events`.
  * No reference citation — these are the event-log counterparts of the
  * streaming windows in [[graft.streaming.Streamy]], specified against the
  * driver's `events` fixture.
  */
object Analytics {

  /** Ordered funnel: for each user, the earliest `stages(0)` event, then the
    * earliest `stages(1)` strictly after it, and so on. One row per user
    * that reached stage 1, with nullable `t1..tN` timestamps and `stage` =
    * deepest stage reached (1-based).
    *
    * Scale shape: every step is a `user_id`-keyed aggregate or join, so the
    * whole chain sits on ONE hash partitioning that Spark's exchange reuse
    * carries across stages, and the stage frames shrink monotonically
    * (stage i+1's users are a subset of stage i's). No windows and no
    * range cross-join: at 100 TB this is k passes over an ever-smaller
    * keyed set, each with map-side partial `min`.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, "funnel needs at least two stages")
    val e = events.select(col("user_id"), col("event_type"), col("ts"))
    val first = e.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("ts").as("t1"))
    val full = stages.zipWithIndex.tail.foldLeft(first) { case (prev, (st, i)) =>
      val reached = e.filter(col("event_type") === st)
        .join(prev.select(col("user_id"), col(s"t$i")), Seq("user_id"))
        .filter(col("ts") > col(s"t$i"))
        .groupBy("user_id").agg(min("ts").as(s"t${i + 1}"))
      prev.join(reached, Seq("user_id"), "left")
    }
    val depth = (2 to stages.size).foldLeft(lit(1)) { (acc, i) =>
      acc + when(col(s"t$i").isNotNull, 1).otherwise(0)
    }
    full.withColumn("stage", depth)
  }

  /** Weekly cohort retention: users are bucketed by first-seen day (UTC);
    * activity is counted as distinct users per (cohort day, whole weeks
    * since first seen). Day arithmetic is integer (`datediff / 7` floored),
    * so both engines make identical bucket decisions — no timestamp math.
    *
    * Scale shape: the cohort frame is one `user_id` aggregate; the join
    * back reuses that partitioning; the final rollup shuffles only
    * (cohort_day, week_off) — a frame bounded by days × weeks, not by
    * event volume. `countDistinct` keeps its partial aggregation.
    */
  def retention(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), to_date(col("ts")).as("day"))
    val cohorts = e.groupBy("user_id").agg(min("day").as("cohort_day"))
    e.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"),
        floor(datediff(col("day"), col("cohort_day")) / 7).cast("long").as("week_off"))
      .agg(countDistinct(col("user_id")).as("users"))
  }

  /** Count of `edges` entries strictly below `key`, by an UNROLLED binary
    * search: log2(maxBands) dynamic `element_at` probes per row instead
    * of a (maxBands−1)-element linear `aggregate` scan — what makes a
    * 4096-cell fine grid affordable per row. Classic power-of-two
    * descent: pos ends as the largest 1-based index with
    * edges(pos) < key, i.e. the strictly-below count; equal keys land on
    * the SAME pos, so ties always share a band. Requires `edges` sorted
    * ascending (callers array_sort the percentile_approx output — GK
    * query order is monotone, but the sort makes it a guarantee, one
    * O(maxBands·log) pass per EDGE ROW, never per data row). A null
    * probe (null key, or the NULL edges array from an all-null key
    * column) never advances — those rows land at pos 0, the degenerate
    * first-band placement the rank machinery already handles.
    *
    * Spelled as ONE `aggregate` fold over the descent-step array rather
    * than an unrolled when-chain: each unrolled level would reference
    * the previous level's expression three times, tripling the tree per
    * step (3^12 nodes at maxBands = 4096 — measured OOM at plan time);
    * the fold keeps the expression linear and iterates at runtime. */
  private def belowCountSql(edgesCol: String, keyCol: String,
      maxBands: Int): String = {
    val steps = Iterator.iterate(maxBands / 2)(_ / 2).takeWhile(_ >= 1)
      .mkString(",")
    s"""aggregate(array($steps), 0, (pos, step) ->
      IF(pos + step <= ${maxBands - 1}
           AND `$keyCol` > element_at(`$edgesCol`, pos + step),
         pos + step, pos))"""
  }

  private def belowCount(edgesCol: String, keyCol: String,
      maxBands: Int): Column =
    expr(belowCountSql(edgesCol, keyCol, maxBands))

  /** In-plan effective band count: k = clamp(ceil(n/target), 1, maxBands)
    * — the ADAPTIVE piece. n comes from the same aggregate row that
    * carries the edges, so the band count is derived from the data's own
    * count at runtime (rows-per-band budget), never a hard-coded
    * band-count constant, and construction stays job-free (no driver
    * count). */
  private def kBands(nCol: String, target: Long, maxBands: Int): Column =
    expr(s"least(CAST($maxBands AS BIGINT), " +
      s"greatest(1L, ($nCol + ${target - 1}L) div ${target}L))")

  /** Banded two-phase GLOBAL rank — the gini_spend shape promoted to a
    * helper: rank within a band via a partitioned window, then add
    * |bands|-row running offsets broadcast back; never a single-task
    * population sort. `tie` fully tiebreaks within the key for
    * engine-independent ranks. Adds `out` and drops its working columns.
    *
    * Bands are EQUI-DEPTH (round 7) and the band COUNT is
    * SCALE-ADAPTIVE (round 8): one percentile_approx pass computes the
    * key's (maxBands−1)-quantile fine grid AND the row count n; the
    * effective band count k = clamp(⌈n/target⌉, 1, maxBands) is derived
    * from n INSIDE the plan, and each row's band is its fine-grid cell
    * (binary search, [[belowCount]]) down-mapped by (fine·k) div
    * maxBands. The per-window-task row budget is therefore
    * ≈ max(target, n/maxBands) — a ROWS constant until n exceeds
    * target·maxBands (2⁴⁴ rows at the defaults), not the 1/64th-of-
    * population constant the round-7 form hard-coded — with GK rank
    * error adding at most ~n/maxBands per band (accuracy = 2·maxBands),
    * so the worst task holds ≤ ~2× the budget. Edge VALUES may vary with
    * GK partial-merge order, but band assignment is monotone in the key
    * and equal keys always share a band, so per-band offsets compose
    * into the SAME global rank for any edge set — the output is
    * deterministic even though the banding isn't.
    *
    * @param target   rows-per-band budget: the most rows one window task
    *                 should sort. 64k rows ≈ a few MB / ms-scale task.
    * @param maxBands fine-grid resolution cap (power of two): caps edge
    *                 state at maxBands−1 doubles per frame and sets the
    *                 post-cap per-task share n/maxBands. */
  def bandedRank(df: DataFrame, key: String,
      tie: String, asc: Boolean, out: String,
      target: Long = 1L << 16, maxBands: Int = 4096): DataFrame =
    bandedRanks(df, Seq((key, tie, asc, out)), target, maxBands)

  /** Multi-key [[bandedRank]]: k INDEPENDENT global ranks over the same
    * frame in one shared pass structure (r16 optimization, guide §1.2
    * "remove unnecessary passes"). The round-15 form CHAINED single-key
    * calls — rfm_scores' triple nesting checkpointed the same
    * population-grain frame three times, ran three separate edges
    * aggregates, and sequenced ~24 tiny jobs. Here ONE input checkpoint
    * serves every spec, ONE aggregate row carries every spec's edge
    * grid (+ n), band assignment for all specs happens in one projection,
    * and the banded frame is checkpointed once (only when specs > 1) so
    * the per-spec offsets rollups and the window chain read materialized
    * blocks. Output ranks are identical to the chained form: each
    * spec's rank depends only on its own (key, tie) ordering and the
    * equi-depth argument in the scaladoc above (band assignment is
    * monotone in the key, ties share a band, offsets compose the exact
    * global rank for ANY edge grid). */
  def bandedRanks(df: DataFrame, specs: Seq[(String, String, Boolean, String)],
      target: Long = 1L << 16, maxBands: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(specs.nonEmpty, "bandedRanks needs at least one spec")
    require(target >= 1, "rows-per-band target must be positive")
    require(maxBands >= 2 && (maxBands & (maxBands - 1)) == 0,
      s"maxBands must be a power of two (binary-search descent), got $maxBands")
    // working-column clash would silently clobber + drop caller data
    val work = Set("__rr_n", "__rr_k", "__rr_wi", "__rr_bn") ++
      specs.indices.flatMap(i =>
        Seq(s"__rr_edges_$i", s"__rr_band_$i", s"__rr_off_$i")) ++
      specs.map(_._4)
    val clash = df.columns.toSet.intersect(work)
    require(clash.isEmpty,
      s"bandedRanks working columns collide with input: ${clash.mkString(", ")}")
    // clashes AMONG the specs are just as silent (r16 advisor): two
    // specs sharing an `out` would let the later withColumn overwrite
    // the earlier rank, and a spec keying on another spec's `out` would
    // resolve (or not) by fold order
    require(specs.map(_._4).distinct.size == specs.size,
      s"bandedRanks specs share an out column: ${specs.map(_._4).mkString(", ")}")
    val outs = specs.map(_._4).toSet
    specs.foreach { case (key, tie, _, out) =>
      require(!outs.contains(key) && !outs.contains(tie),
        s"bandedRanks spec ($key, $tie -> $out) reads a column another " +
          "spec writes — order-dependent and unsupported")
    }
    val fracs = (1 until maxBands).map(i => lit(i.toDouble / maxBands))
    // LAZY DISK_ONLY checkpoint of the input: the edges aggregate, the
    // banded fact side, and the offsets rollup all read it — without the
    // sever, each consumer re-derives the caller's upstream (a user-grain
    // rollup, where plan subtrees multiplied to 153 textual exchanges in
    // the round-15 chained form). The frame is population-grain
    // (|users|/|docs|), so DISK_ONLY per Ckpt policy.
    val base = df.diskCheckpointLazy()
    // accuracy 2·maxBands: edges only BALANCE the bands, never touch a
    // rank, but the GK rank error n/accuracy must stay under a fine-cell
    // width n/maxBands or the equi-depth grid degrades toward noise
    val edgeAggs = specs.zipWithIndex.map { case ((key, _, _, _), i) =>
      array_sort(percentile_approx(col(key), array(fracs: _*),
        lit(2 * maxBands))).as(s"__rr_edges_$i")
    }
    val edges = base.agg(count(lit(1)).as("__rr_n"), edgeAggs: _*)
    // null keys and the all-NULL-key-column case (NULL edges array) both
    // leave the binary search at pos 0 — the degenerate first-band
    // placement (asc orders nulls first there; desc offsets compose the
    // same way since band assignment stays monotone)
    val banded0 = specs.zipWithIndex.foldLeft(
        base.crossJoin(broadcast(edges))
          .withColumn("__rr_k", kBands("__rr_n", target, maxBands))) {
        case (acc, ((key, _, _, _), i)) =>
          acc.withColumn(s"__rr_band_$i",
            expr(s"(${belowCountSql(s"__rr_edges_$i", key, maxBands)}" +
              s" * __rr_k) div $maxBands"))
      }
      .drop(Seq("__rr_n", "__rr_k") ++
        specs.indices.map(i => s"__rr_edges_$i"): _*)
    // with several specs the banded frame feeds specs offsets rollups +
    // the window chain: checkpoint it once instead of re-deriving the
    // binary searches per consumer; a single spec keeps the round-15
    // two-consumer recompute (cheaper than a population write)
    val banded = if (specs.length > 1) banded0.diskCheckpointLazy() else banded0
    val ranked = specs.zipWithIndex.foldLeft(banded) {
      case (acc, ((key, tie, asc, out), i)) =>
        val bcol = col(s"__rr_band_$i")
        val ord =
          if (asc) Seq(col(key).asc, col(tie).asc)
          else Seq(col(key).desc, col(tie).asc)
        val wIn = Window.partitionBy(s"__rr_band_$i").orderBy(ord: _*)
        val bandOrd = if (asc) bcol.asc else bcol.desc
        val offs = banded.groupBy(s"__rr_band_$i")
          .agg(count(lit(1)).as("__rr_bn"))
          .withColumn(s"__rr_off_$i", coalesce(sum("__rr_bn").over(
            Window.orderBy(bandOrd)
              .rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select(col(s"__rr_band_$i"), col(s"__rr_off_$i"))
        acc.withColumn("__rr_wi", row_number().over(wIn).cast("long"))
          .join(broadcast(offs), Seq(s"__rr_band_$i"))
          .withColumn(out, col(s"__rr_off_$i") + col("__rr_wi"))
          .drop("__rr_wi", s"__rr_off_$i")
    }
    ranked.drop(specs.indices.map(i => s"__rr_band_$i"): _*)
  }

  /** Per-zone equi-depth ntile — reproduces
    * `ntile(k) OVER (PARTITION BY zone ORDER BY key, ties…)` exactly,
    * WITHOUT ever serializing a zone into one window task (the
    * hot-zone escape SCALE.md X75/X33 used to describe only in prose).
    * Mechanics: per-zone quantile edges at the maxBands fine grid (one
    * percentile_approx aggregate, |zones|-row broadcast via the
    * null-safe [[Extracts.joinOnZone]]) split each zone into (zone,
    * band) window partitions, with the PER-ZONE effective band count
    * derived from that zone's own count — clamp(⌈__zn/target⌉, 1,
    * maxBands), the [[bandedRank]] adaptive rule — so every window task
    * holds ≈ max(target, zn/maxBands) rows no matter how hot the zone; a
    * |zones|×bands-row running offset rebuilds the exact per-zone
    * row_number; the closed-form ntile remainder rule (first n mod k
    * tiles take ⌈n/k⌉ rows) maps rank → tile. Ties share a band (equal
    * keys hit the same fine cell, [[belowCount]]), so the rank — and
    * therefore every tile — is identical to the single-window
    * formulation for any edge set. */
  def zonedNtile(df: DataFrame, zone: String, key: String,
      ties: Seq[String], k: Int, out: String,
      target: Long = 1L << 16, maxBands: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(target >= 1, "rows-per-band target must be positive")
    require(maxBands >= 2 && (maxBands & (maxBands - 1)) == 0,
      s"maxBands must be a power of two (binary-search descent), got $maxBands")
    val work = Set("__zn", "__edges", "__band", "__bn", "__off", "__wi",
      "__i", "__zb", "__fine", "__k", out)
    val clash = df.columns.toSet.intersect(work)
    require(clash.isEmpty,
      s"zonedNtile working columns collide with input: ${clash.mkString(", ")}")
    val fracs = (1 until maxBands).map(i => lit(i.toDouble / maxBands))
    // accuracy 2·maxBands: as in [[bandedRank]], edges only balance —
    // but the GK rank error must stay under a fine-cell width
    val bounds = df.groupBy(col(zone)).agg(
      count(lit(1)).as("__zn"),
      array_sort(percentile_approx(col(key), array(fracs: _*),
        lit(2 * maxBands))).as("__edges"))
    // null keys / NULL edges (all-NULL key in a zone) stay at fine cell
    // 0 — the degenerate first-band placement — see [[belowCount]]
    val banded = Extracts.joinOnZone(df, bounds, zone)
      .withColumn("__fine",
        belowCount("__edges", key, maxBands).cast("long"))
      .withColumn("__k", kBands("__zn", target, maxBands))
      .withColumn("__band", expr(s"(__fine * __k) div $maxBands"))
      .drop("__edges", "__fine", "__k")
    val wIn = Window.partitionBy(col(zone), col("__band"))
      .orderBy((key +: ties).map(col(_).asc): _*)
    val offs = banded.groupBy(col(zone), col("__band"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum("__bn").over(
        Window.partitionBy(col(zone)).orderBy(col("__band"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(zone), col("__band"), col("__off"))
    // ntile's remainder rule: q = n div k, rem = n mod k; the first rem
    // tiles hold q+1 rows — rank i maps in closed form. q = 0 collapses
    // to tile = i via the IF's first branch (i ≤ n = rem), so the else
    // branch's `div q` never evaluates on a zero q (If is lazy).
    // NULL-SAFE offsets attach: the composite (zone, band) key rides ONE
    // struct column through Extracts.joinOnZone — struct equality treats
    // null fields as equal, so a NULL zone group keeps its offsets (a
    // plain equi-join here silently dropped it, violating the
    // identical-to-ntile contract; groupBy keeps NULL zone groups and so
    // must every attach)
    banded.withColumn("__wi", row_number().over(wIn).cast("long"))
      .withColumn("__zb", struct(col(zone), col("__band")))
      .transform(Extracts.joinOnZone(_,
        offs.withColumn("__zb", struct(col(zone), col("__band")))
          .select(col("__zb"), col("__off")), "__zb"))
      .drop("__zb")
      .withColumn("__i", col("__off") + col("__wi"))
      .withColumn(out, expr(
        s"""CAST(IF(__i <= (__zn % $k) * ((__zn div $k) + 1),
           (__i - 1) div ((__zn div $k) + 1) + 1,
           (__zn % $k) + (__i - (__zn % $k) * ((__zn div $k) + 1) - 1)
             div (__zn div $k) + 1) AS BIGINT)"""))
      .drop("__zn", "__band", "__bn", "__off", "__wi", "__i")
  }

  /** Binned two-sample Kolmogorov-Smirnov D — the exact `ks_drift`
    * query's BOUNDED-STATE degrade path (X73). The exact form collapses
    * each zone to its distinct-value support before the CDF window; a
    * zone whose support is itself data-sized (continuous measurements,
    * no ties) would serialize that support into one window task. This
    * form first quantizes values onto a fixed `bins`-cell grid between
    * the GLOBAL integer-cent bounds (one 1-row broadcast), so per-zone
    * CDF state is ≤ `bins` rows NO MATTER the support — the price is
    * resolution: binned D underestimates exact D by at most the largest
    * in-bin CDF mass (≈ the densest cell's share). All grid arithmetic
    * is integer (`(c − lo)·bins div (hi − lo + 1)` — monotone,
    * tie-preserving, overflow-safe to ~3·10¹⁶ cent-range·bins), so both
    * engines bin identically and the only floats are the two final CDF
    * divisions, rounded before the max (round-before-rank rule).
    *
    * Input: one row per observation with `zone`, integer-cent value `c`,
    * and indicator columns `a`/`b` (1 for membership in each sample).
    * Output: (zone, n_a, n_b, ks_d). */
  def ksBinned(samples: DataFrame, zone: String = "asdf_id",
      bins: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = samples.agg(min("c").as("glo"), max("c").as("ghi"))
    val g = samples.crossJoin(broadcast(bounds))
      .select(col(zone),
        expr(s"((c - glo) * $bins) div (ghi - glo + 1)").as("bin"),
        col("a"), col("b"))
      .groupBy(col(zone), col("bin"))
      .agg(sum("a").as("ca"), sum("b").as("cb"))
    val w = Window.partitionBy(zone).orderBy("bin")
    val tot = Window.partitionBy(zone)
    g.withColumn("cuma", sum("ca").over(w))
      .withColumn("cumb", sum("cb").over(w))
      .withColumn("na", sum("ca").over(tot))
      .withColumn("nb", sum("cb").over(tot))
      .groupBy(col(zone))
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        max(round(abs(col("cuma").cast("double") / col("na")
          - col("cumb").cast("double") / col("nb")), 6)).as("ks_d"))
  }
}
