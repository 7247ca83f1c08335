package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, row_number, sum}
import graft.ops.Tables

/** Physical-plan regression tests — the 100 TB posture (SURVEY.md §4):
  * dimension joins must broadcast, predicates and projections must reach the
  * parquet scan, aggregations must partial-aggregate map-side. A correctness
  * pass with a bad plan is a failure at scale, so the plan shape is pinned
  * here alongside the value tests.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val d = "/root/testdata/sf0.001"

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("pixels zone join broadcasts the dimension side (no fact shuffle)") {
    val p = plan("extract_sum")
    assert(p.contains("BroadcastHashJoin"), "supplier must broadcast")
    assert(!p.contains("SortMergeJoin"), "fact table must not shuffle for the zone join")
  }

  test("extract aggregations are map-side partial (single logical shuffle)") {
    val p = plan("extract_sum")
    assert(p.contains("partial_sum"), "partial aggregation must run before the exchange")
  }

  test("IN-list filters push down to the parquet scan") {
    val p = plan("filter_in")
    assert(p.contains("PushedFilters: [In(o_orderpriority") ||
      p.contains("PushedFilters: [In(o_orderstatus"), s"no pushed filters in:\n$p")
  }

  test("column pruning: extract_sum reads only join key + value from lineitem") {
    val p = plan("extract_sum")
    val read = "ReadSchema: struct<l_suppkey:bigint,l_extendedprice:double>"
    assert(p.contains(read), s"lineitem scan not pruned to 2 columns:\n$p")
  }

  test("range filter pushes down as gt/lt bounds") {
    val p = plan("filter_range")
    assert(p.contains("GreaterThanOrEqual(o_totalprice") &&
      p.contains("LessThanOrEqual(o_totalprice"))
  }

  test("AQE is active on every query plan") {
    assert(plan("merge_wide").contains("AdaptiveSparkPlan"))
  }

  test("msr surface: window then single hash aggregate, no extra exchanges") {
    val p = plan("msr_surface")
    // one exchange for the window partition, one for the cell aggregation,
    // one for the final deterministic sort — nothing else
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"unexpected shuffles ($exchanges):\n$p")
  }

  test("near-dup blocking joins carry the band in the equi-join key " +
      "(never lang/label alone — a cartesian in disguise at scale)") {
    val ngramJoins = plan("dedup_ngram_jaccard").split("\n").filter(_.contains("HashJoin"))
    assert(ngramJoins.exists(j => j.contains("lang") && j.contains("jband")),
      s"ngram candidate join must key on (lang, length band):\n${ngramJoins.mkString("\n")}")
    assert(!ngramJoins.exists(j => j.contains("lang") && !j.contains("jband")),
      "no join may block on lang alone")
    val embedJoins = plan("dedup_embed_cosine").split("\n").filter(_.contains("HashJoin"))
    assert(embedJoins.exists(j =>
      j.contains("label") && j.contains("band") && j.contains("cell")),
      s"embed join must key on (label, LSH band, cell):\n${embedJoins.mkString("\n")}")
    // the slim ±1 probe branch must carry NO shingle computation (Catalyst
    // prunes the transform): exactly build side + candidate attach
    val shingleCount = "array_distinct".r.findAllIn(plan("dedup_ngram_jaccard")).length
    assert(shingleCount == 2, s"expected 2 shingle pipelines, got $shingleCount")
  }

  test("decontamination probes a broadcast eval-shingle set (semi-join, no corpus shuffle for the probe)") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"eval shingles must broadcast into a semi-join:\n$p")
  }

  /** Flatten a physical plan, descending into AQE wrappers (their inner
    * plan is a field, not a child, so plain collect misses it). */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flatten(a.executedPlan)
    case other => other +: other.children.flatMap(flatten)
  }

  test("queue rank: no unpartitioned window over the queue itself") {
    // the within-band window must carry a partitionBy; the only global
    // window allowed is the per-band offset accumulation, which sits over
    // an Aggregate (|bands| rows, metadata-scale by construction)
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val nodes = flatten(SparkEntry.queries("queue_rank")(spark, d)
      .queryExecution.executedPlan)
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "rank must use window functions")
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(flatten(w).exists(_.isInstanceOf[BaseAggregateExec]),
        s"global window must only run over the band-count aggregate:\n$w")
    }
  }

  test("line dedup: first-owner window partitions by line content, never global") {
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = flatten(SparkEntry.queries("dedup_lines")(spark, d)
      .queryExecution.executedPlan)
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "line ownership must use a window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "a global (unpartitioned) window over the exploded corpus is a " +
        "single-task sort at scale")
  }

  test("vocab build: map-side partial aggregation and top-k without a full vocab sort") {
    val p = plan("vocab_top")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"token rollup must partial-aggregate before the exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must plan as TakeOrdered, not a global Sort of the vocabulary:\n$p")
  }

  test("interval join keys on user_id (equi hash join, range as residual — never a cartesian)") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val nodes = flatten(SparkEntry.queries("stream_interval_join")(spark, d)
      .queryExecution.executedPlan)
    val joins = nodes.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, "interval join must plan as a join")
    assert(joins.forall(_.leftKeys.nonEmpty),
      s"the user_id equality must be the equi-key; a pure range condition " +
        s"would plan as a nested-loop cartesian:\n${joins.mkString("\n")}")
  }

  test("wide merge joins aggregated frames without shuffling the base") {
    val df = SparkEntry.queries("merge_wide")(spark, d)
    df.count() // let AQE finalize
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("AQEShuffleRead"),
      s"merge should broadcast small aggregated frames:\n$p")
  }

  test("group_sample: the rank filter becomes WindowGroupLimit (per-stratum " +
    "5-row heaps, never a whole-stratum sort)") {
    val p = plan("group_sample")
    assert(p.contains("WindowGroupLimit"), s"missing WindowGroupLimit:\n$p")
  }

  test("index_postings: bounded posting collection and TakeOrdered top-100") {
    val p = plan("index_postings")
    assert(p.contains("WindowGroupLimit"),
      s"per-token head must be capped before collect_list:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-100 must not be a global sort:\n$p")
  }

  test("tfidf: per-doc rank capped by WindowGroupLimit") {
    val p = plan("tfidf_top")
    assert(p.contains("WindowGroupLimit"), s"missing WindowGroupLimit:\n$p")
  }

  test("hist_values: the min/max bounds broadcast (no fact-side shuffle for the cross join)") {
    val p = plan("hist_values")
    // BroadcastExchange alone is NOT evidence — Tables.pixels always
    // broadcasts the supplier dim. The bounds cross join itself must plan
    // as a broadcast nested-loop, never a cartesian.
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row bounds frame must broadcast-nested-loop join:\n$p")
    assert(!p.contains("CartesianProduct"), s"bounds join became a cartesian:\n$p")
    assert(p.contains("partial_count"), "bucket counts must partial-aggregate map-side")
  }

  test("embed_centroids: (label, dim) aggregate partial-aggregates map-side") {
    val p = plan("embed_centroids")
    assert(p.contains("partial_avg") || p.contains("partial_sum"),
      s"centroid means must combine before the exchange:\n$p")
  }

  test("extract_winsor: percentile frame joins back without a sort-merge on the zone key") {
    val df = SparkEntry.queries("extract_winsor")(spark, d)
    df.collect() // execute THIS frame so its adaptive plan finalizes
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), s"AQE plan not finalized:\n$full")
    // toString appends the pre-AQE "== Initial Plan ==" which legitimately
    // names SortMergeJoin; only the final section is the executed shape
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin"),
      s"the |zones|-row percentile frame must broadcast under AQE, not sort-merge:\n$p")
  }

  test("pmi_bigrams: top-50 is TakeOrdered with partial counts, never a global sort") {
    // the bigram/unigram rollups are checkpointed (read once per
    // consumer), so the ACTIVE plan scans LogicalRDDs — planOnly
    // suppresses the sever to pin the substrate's map-side combine
    val full = graft.ops.Ckpt.planOnly { plan("pmi_bigrams") }
    assert(full.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered:\n$full")
    assert(full.contains("partial_count"), "bigram counts must partial-aggregate map-side")
    // active shape: the vocabulary attach joins must be shuffled hash
    // joins — a checkpointed LogicalRDD carries estimate stats, and an
    // estimate-broadcast of the vocab frame is the r6 OOM cliff
    val p = plan("pmi_bigrams")
    assert("ShuffledHashJoin".r.findAllIn(p).length == 2,
      s"both unigram attaches must be shuffle_hash joins (exactly two):\n$p")
    // the only broadcasts allowed are the 1-row tot frames, which surface
    // as BroadcastNestedLoopJoin from crossJoin(broadcast(..)) — an attach
    // join regressing to an estimate-stats BroadcastHashJoin is the r6 OOM
    // cliff and must fail here outright
    assert(!p.contains("BroadcastHashJoin"),
      s"no estimate-broadcast of a vocabulary-sized frame:\n$p")
  }

  test("funnel: every hash exchange keys on user_id (one partitioning " +
    "carried across all stages)") {
    val p = plan("funnel_stages")
    val parts = "hashpartitioning\\(([^,)]*)".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected user_id hash exchanges:\n$p")
    assert(parts.forall(_.startsWith("user_id")),
      s"a funnel stage shuffled on a non-user key: $parts")
  }

  test("sessionize: lag, the running session counter AND the session rollup " +
    "all ride one user_id exchange and one partition-local sort") {
    // Spark legitimately splits lag (offset frame) and the running sum
    // (rows frame) into two Window operators, but they must share the same
    // exchange + sort. Since r16 the registered query reads the MEMOIZED
    // checkpointed session frame (one sessionize pass serves five
    // queries), so the window-shape pin runs against the raw construction
    // and the registered plan is checked to consume the materialized
    // frame — the sessionize work must not re-derive per query.
    val praw = QueriesExt.sessionizedEventsRaw(spark, d)
      .queryExecution.executedPlan.toString
    val parts = "hashpartitioning\\(([^,)]*)".r.findAllMatchIn(praw).map(_.group(1)).toList
    assert(parts.length == 1 && parts.head.startsWith("user_id"),
      s"expected exactly one user_id hash exchange, got $parts:\n$praw")
    // one partition-local sort feeds both windows
    assert("], false, 0".r.findAllIn(praw).length == 1,
      s"expected exactly one partition-local sort:\n$praw")
    val p = plan("sessionize_events")
    assert(p.contains("Scan ExistingRDD"),
      s"the registered query must read the materialized session frame:\n$p")
    // the (user_id, session_id) rollup still needs no second shuffle:
    // hash(user_id) from the materialized frame satisfies its clustering
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"rollup must stay join-free:\n$p")
  }

  test("rolling_activity: both hour-frame aggregates ride one user_id window " +
    "(single exchange, no per-aggregate re-sort)") {
    val p = plan("rolling_activity")
    assert("(?m)^\\s*[+:i*-]*\\s*Window ".r.findAllIn(p).length == 1,
      s"expected exactly one Window operator:\n$p")
    val parts = "hashpartitioning\\(([^,)]*)".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(parts.forall(_.startsWith("user_id")),
      s"rolling frame shuffled on a non-user key: $parts")
  }

  test("top_paths: first-8 filter becomes WindowGroupLimit; top-20 is TakeOrdered") {
    val p = plan("top_paths")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=8 must cap per-user rows map-side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 must not be a global sort:\n$p")
  }

  test("rollup_report: grouping sets expand inside ONE aggregate; dimension " +
    "joins broadcast") {
    val p = plan("rollup_report")
    assert(p.contains("Expand"), s"ROLLUP must plan as Expand + single agg:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation/region must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no customer-side shuffle for dims:\n$p")
    assert(p.contains("partial_count"), "rollup counts must partial-aggregate map-side")
  }

  test("set_ops_users: INTERSECT/EXCEPT plan as semi/anti joins (set dedup " +
    "inside the aggregate, no cartesian anywhere)") {
    val p = plan("set_ops_users")
    assert(p.contains("LeftSemi"), s"INTERSECT must be a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"EXCEPT must be an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"set op became a cartesian:\n$p")
  }

  test("outlier_zscore: the |zones|-row stats frame joins back as a " +
    "broadcast under AQE, never a sort-merge") {
    // Cold-plan pin: the robust-stats family persists a shared (zone,
    // value) projection, and at the 6k-row fixture scale that cache makes
    // the FACT side broadcastable, flipping the AQE build side (a
    // fixture-size artifact — at real scale only the stats side is
    // broadcastable, which is the shape this test pins).
    spark.catalog.clearCache()
    val df = SparkEntry.queries("outlier_zscore")(spark, d)
    df.collect() // finalize THIS frame's adaptive plan
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), s"AQE plan not finalized:\n$full")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin"),
      s"stats frame must broadcast under AQE:\n$p")
    assert(p.contains("partial_stddev_samp"),
      "zone stats must partial-aggregate map-side")
  }

  test("daily_spine: the calendar spine generates from a 1-row aggregate " +
    "and joins broadcast; one |days|-bounded window") {
    val p = plan("daily_spine")
    assert(p.contains("Generate explode(sequence("),
      s"spine must be a generated sequence, not a stored table:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"spine join must broadcast:\n$p")
  }

  test("rank_percentile: percent_rank and cume_dist share ONE Window " +
    "operator and one lang exchange") {
    val p = plan("rank_percentile")
    assert("(?m)^\\s*[+:i*-]*\\s*Window ".r.findAllIn(p).length == 1,
      s"expected exactly one Window operator:\n$p")
    val parts = "hashpartitioning\\(([^,)]*)".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(parts.length == 1 && parts.head.startsWith("lang"),
      s"expected one lang hash exchange, got $parts:\n$p")
  }

  test("dedup_levenshtein: candidate join keys on (lang, length band), " +
    "never lang alone; the DP is the thresholded builtin") {
    val p = plan("dedup_levenshtein")
    val joins = p.split("\n").filter(_.contains("HashJoin"))
    assert(joins.exists(j => j.contains("lang") && j.contains("lband")),
      s"candidate join must key on (lang, band):\n${joins.mkString("\n")}")
    assert(!joins.exists(j => j.contains("lang") && !j.contains("lband")),
      "no join may block on lang alone")
    assert(p.contains("levenshtein") && p.contains("Some(5)"),
      s"expected the thresholded levenshtein call:\n$p")
  }

  test("type2_history: lag + lead/rank share one user_id exchange " +
    "(exchange reuse, two sorts at most)") {
    val p = plan("type2_history")
    val parts = "hashpartitioning\\(([^,)]*)".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(parts.nonEmpty && parts.forall(_.startsWith("user_id")),
      s"all window exchanges must key on user_id, got $parts:\n$p")
    assert(parts.length == 1,
      s"compaction must reuse the window exchange, got ${parts.length}:\n$p")
  }

  test("path_transitions: one user window exchange; the probability " +
    "window runs over the |types|^2 aggregate, not events") {
    val p = plan("path_transitions")
    val parts = "hashpartitioning\\(([^,)]*)".r.findAllMatchIn(p).map(_.group(1)).toList
    // user_id window + (src,dst) aggregate + src probability window
    assert(parts.count(_.startsWith("user_id")) == 1,
      s"expected exactly one user_id exchange, got $parts:\n$p")
  }

  test("bm25_top: corpus-count and avg-doclen frames broadcast; " +
    "rank window caps via WindowGroupLimit") {
    val p = plan("bm25_top")
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"1-row stat frames must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-3 rank must be a group limit, not a full sort:\n$p")
  }

  test("extract_percentile_sketch: sketch partials merge map-side and the " +
    "|zones|-row sketch frame broadcasts back (no second fact shuffle)") {
    // planOnly: the r17 (approx, n) small checkpoint otherwise hides the
    // sketch aggregate behind a LogicalRDD and the partial-agg pin can't
    // see it (checkpoint helpers are identity under planOnly, so the
    // full lineage is visible; semantics are unchanged either way)
    val p = graft.ops.Ckpt.planOnly(plan("extract_percentile_sketch"))
    assert(p.contains("partial_percentile_approx") ||
      "(?i)partial.*percentile".r.findFirstIn(p).isDefined,
      s"sketch must partial-aggregate before the exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the aggregate-output rank-check frame must broadcast back:\n$p")
  }

  test("extract_unique_sketch: HLL partials merge map-side " +
    "(register merge before the exchange)") {
    val p = plan("extract_unique_sketch")
    assert(p.contains("partial_approx_count_distinct") ||
      "(?i)partial.*approx_count_distinct".r.findFirstIn(p).isDefined,
      s"HLL must partial-aggregate before the exchange:\n$p")
  }

  test("multimodal_decode: binary payloads never pass through a shuffle " +
    "(stats extracted first; only the output sort exchanges)") {
    val p = plan("multimodal_decode")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"payloads must not shuffle ($exchanges exchanges):\n$p")
    assert(!p.contains("SortMergeJoin"), s"no join may move payloads:\n$p")
  }

  test("range_join: interval overlap plans as an EQUI-join on the time bin " +
    "— never a nested-loop/cartesian over points × intervals") {
    val p = plan("range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must bin-block to an equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected a hash/merge equi-join:\n$p")
  }

  test("decontaminate_bloom: the bloom pre-filter sits on the corpus side " +
    "below the exact confirm join (shuffle sees candidates, not the corpus)") {
    val p = plan("decontaminate_bloom")
    val joinAt = p.indexOf("LeftSemi")
    // the scala closure filter renders as a non-codegen UDF Filter
    val udfAt = "(?i)filter .*udf".r.findFirstMatchIn(p).map(_.start).getOrElse(-1)
    assert(joinAt >= 0 && udfAt >= 0, s"expected semi join + UDF filter:\n$p")
    assert(udfAt > joinAt,
      s"bloom filter must be a child of (below) the confirm join:\n$p")
  }

  test("vocab_heavy_sketch: the CMS counter table partial-aggregates " +
    "map-side and broadcasts back for the estimate join") {
    val p = plan("vocab_heavy_sketch")
    assert(p.contains("partial_count"),
      s"sketch rows must partial-aggregate before the exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the d*w-row sketch frame must broadcast for estimates:\n$p")
  }

  test("dup_pagerank: every iteration's contribution sum partial-aggregates; " +
    "the only nested-loop is the 1-row scalar (n_nodes) broadcast attach") {
    val p = plan("dup_pagerank")
    assert(p.contains("partial_sum"),
      s"contributions must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // crossJoin(1-row aggregate) plans as BroadcastNestedLoopJoin Cross —
    // the standard scalar attach; any OTHER nested-loop is a regression
    val badBnlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).filterNot(_.contains("Cross"))
    assert(badBnlj.isEmpty, s"non-scalar nested-loop join:\n$p")
  }

  test("every 1-row cross attach is HINT-broadcast, never estimate-" +
    "broadcast (vocab_heavy_sketch totals, triangle_count tri — the two " +
    "formerly bare sites — plus the scalar-attach family)") {
    // crossJoin(broadcast(x)) leaves strategy=broadcast on the logical
    // Join; a bare crossJoin relies on the planner's size ESTIMATE to
    // pick BNLJ — the exact failure class the spill drive's
    // LogicalRDD-stats cliff documented. Pin: no un-hinted cross join.
    for (q <- Seq("vocab_heavy_sketch", "triangle_count", "dup_pagerank",
        "gap_fill_locf")) {
      val op = SparkEntry.queries(q)(spark, d)
        .queryExecution.optimizedPlan.toString
      val bare = op.linesIterator.filter(_.contains("Join Cross"))
        .filterNot(_.contains("strategy=broadcast")).toSeq
      assert(bare.isEmpty, s"$q: un-hinted cross join(s):\n${bare.mkString("\n")}")
    }
  }

  test("dedup_incremental: the store check is ONE join against the " +
    "materialized line store (a plain parquet scan, prunable)") {
    val p = plan("dedup_incremental")
    assert("FileScan parquet".r.findAllIn(p).length >= 2,
      s"store must read back as a parquet scan (cache read-back contract):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("zone_trend: the five integer co-moments partial-aggregate map-side " +
    "in ONE aggregate (no join, no window)") {
    val p = plan("zone_trend")
    assert(p.contains("partial_sum"), s"co-moments must combine before the exchange:\n$p")
    assert(!p.contains("Window"), s"closed-form OLS must not need a window:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no join belongs in this plan:\n$p")
  }

  test("ks_drift: both CDFs ride ONE zone-partitioned window over the " +
    "distinct-value support (never a global sort)") {
    val p = plan("ks_drift")
    assert(p.contains("windowspecdefinition(asdf_id"),
      s"the CDF window must partition by zone:\n$p")
    assert(p.contains("partial_sum"),
      s"the support aggregate must partial-aggregate map-side:\n$p")
  }

  test("benford_audit: the 1-row total attaches as a broadcast nested-loop " +
    "cross, never a cartesian") {
    val p = plan("benford_audit")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the scalar total must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"total join became a cartesian:\n$p")
  }

  test("hist_equidepth: NO rank machinery at all — the tile summary is " +
    "two aggregate passes (guidedTileBounds), never a row rank") {
    val p = plan("hist_equidepth")
    assert(!p.contains("ntile(") && !p.contains("row_number"),
      s"the histogram must not rank rows:\n$p")
    // the only window is the in-window cumulative over the (zone,
    // window-value) frame — |zones|×O(accuracy) rows, zone-partitioned
    assert("windowspecdefinition\\(asdf_id[^)]*__t_wv".r.findFirstIn(p).isDefined,
      s"boundary extraction must ride the windowed count frame:\n$p")
  }

  test("quality_tiles: the rank window partitions by (lang, band) — " +
    "parallel across languages AND within a giant language (zonedNtile)") {
    val p = plan("quality_tiles")
    // the round-7 hot-zone escape: the row_number window key carries the
    // equi-depth band, so one giant language splits across ~n/32-row tasks
    assert("windowspecdefinition\\(lang[^)]*__band".r.findFirstIn(p).isDefined,
      s"the rank window must partition by (lang, equi-depth band):\n$p")
  }

  test("survival_km: the user-grain aggregate partial-aggregates and the " +
    "global constants attach broadcast, never cartesian") {
    val p = plan("survival_km")
    assert(p.contains("partial_min") || p.contains("partial_max"),
      s"lifetime bounds must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"scalar attach became cartesian:\n$p")
  }

  test("gini_spend: global ranks come from a band-partitioned window " +
    "plus broadcast offsets — never a single-partition global sort") {
    val p = plan("gini_spend")
    assert(p.contains("windowspecdefinition(__rr_band"),
      s"the rank window must partition by spend band:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the |bands|-row offset frame must broadcast:\n$p")
  }

  test("ab_test: arm moments partial-aggregate map-side (three longs per arm)") {
    val p = plan("ab_test")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"per-arm moments must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"a 2-row rollup must not join or go cartesian:\n$p")
  }

  test("funnel_latency: order statistics come from the banded two-phase rank, " +
    "never a single-partition global sort or cartesian") {
    val p = plan("funnel_latency")
    assert(p.contains("windowspecdefinition(__rr_band"),
      s"the rank window must partition by latency band:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scalar attaches must broadcast, not go cartesian:\n$p")
  }

  test("novelty_curve: the max-id scalar broadcasts and the batch/shingle " +
    "aggregates combine map-side") {
    val p = plan("novelty_curve")
    assert(!p.contains("CartesianProduct"),
      s"the scalar max must broadcast, not go cartesian:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"the shingle-grain aggregates must partial-aggregate:\n$p")
  }

  test("seasonal_anomaly: the 7-row dow baseline broadcasts back onto the " +
    "day series and the moments partial-aggregate map-side") {
    val p = plan("seasonal_anomaly")
    assert(p.contains("BroadcastHashJoin"),
      s"the dow stats frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a 7-row baseline must never shuffle-join:\n$p")
    assert(p.contains("partial_sum"),
      s"the integer moments must combine map-side:\n$p")
  }

  test("shard_balance: the global descending rank comes from the banded " +
    "two-phase window, never a single-partition global sort") {
    val p = plan("shard_balance")
    assert(p.contains("windowspecdefinition(__rr_band"),
      s"the rank window must partition by token band:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the offsets and total must broadcast:\n$p")
  }

  test("chi2_tokens: the lang margin and corpus total broadcast; the per-lang " +
    "top-5 cut runs as a window group limit, not a full sort+filter") {
    val p = plan("chi2_tokens")
    assert(p.contains("BroadcastHashJoin"),
      s"the 4-row lang margin must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the scalar total must broadcast, not go cartesian:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the rn<=5 cut must push into the window operator:\n$p")
  }

  test("centroid_confusion: the labels×dims centroid frame broadcasts and the " +
    "distance reduction partial-aggregates — never a pairwise test×train join") {
    val p = plan("centroid_confusion")
    assert(p.contains("BroadcastHashJoin"),
      s"the centroid frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the dim join must not shuffle the exploded test side:\n$p")
    assert(p.contains("partial_sum"),
      s"the Σ(Δ²) reduction must combine map-side:\n$p")
  }

  test("mix_waterfill: corpus work is one partial supply aggregate; the " +
    "|langs|-row tail never sort-merges or goes cartesian") {
    val p = plan("mix_waterfill")
    assert(p.contains("partial_sum"),
      s"the per-language supply aggregate must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"scalar/offset attaches must broadcast:\n$p")
  }

  test("dedup_containment: candidates come from the shingle-hash equi-join " +
    "(prefix filter) — never a doc-cross") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct"),
      s"candidate generation must not cross docs:\n$p")
    // the candidate join must be an EQUI-join keyed on the shingle value —
    // at fixture scale the small side broadcasts (`Join [w#..], [w#..]`);
    // at corpus scale the same key hash-partitions
    assert(p.contains("hashpartitioning(w#")
        || "Join \\[w#\\d+\\], \\[w#\\d+\\]".r.findFirstIn(p).isDefined,
      s"the candidate join must key on the shingle value:\n$p")
    // consumers read the localCheckpointed shingle-array frame (an RDD
    // scan), never re-deriving the array build per consumer
    assert(p.contains("Scan ExistingRDD") || p.contains("InMemoryTableScan"),
      s"consumers must read the materialized shingle-array frame:\n$p")
  }

  test("pii_audit: scan prunes to (doc_id, text, lang) and the rollup " +
    "partial-aggregates map-side") {
    val p = plan("pii_audit")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      s"documents scan not pruned to the three used columns:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"the language rollup must combine map-side:\n$p")
  }

  test("kappa_agreement: margin aggregates partial-aggregate; the closing " +
    "1-row attach never goes cartesian") {
    val p = plan("kappa_agreement")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"margins must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row closing attach must broadcast:\n$p")
  }

  test("rfm_scores: all three global ranks ride band-partitioned windows " +
    "plus broadcast offsets — never a single-partition population sort") {
    val p = plan("rfm_scores")
    assert(p.contains("windowspecdefinition(__rr_band"),
      s"rank windows must partition by metric band:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"offset frames must broadcast:\n$p")
  }

  test("woe_bins: the decile rank rides a band-partitioned window + broadcast " +
    "offsets; margins partial-aggregate") {
    val p = plan("woe_bins")
    assert(p.contains("windowspecdefinition(band"),
      s"the length rank must partition by 200-char band:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"offset/total attaches must broadcast:\n$p")
  }

  test("user_entropy: two map-side-combinable aggregates, no window") {
    val p = plan("user_entropy")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"type counts must combine map-side:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"the rollup needs no window:\n$p")
  }

  test("stream_upsert: one max-struct aggregate — no join, no window") {
    val p = plan("stream_upsert")
    assert(!p.contains("Join") && !p.contains("windowspecdefinition"),
      s"the latest-per-key reduction is a single aggregate:\n$p")
    assert(p.contains("partial_max"),
      s"the max-struct must combine map-side:\n$p")
  }

  test("dedup_simhash_pairs: candidates key on (band, cell) — never a doc cross") {
    val p = plan("dedup_simhash_pairs")
    assert(!p.contains("CartesianProduct"),
      s"simhash banding must block the pair space:\n$p")
    assert(p.contains("band") && p.contains("cell"),
      s"the candidate join must carry the LSH band key:\n$p")
  }

  test("dsir_weights: scoring pass is one native walk behind the generator " +
    "barrier — no join, exactly one dsir_score evaluation") {
    val p = plan("dsir_weights")
    assert(!p.contains("Join"),
      s"the weight table rides the task binary — scoring must not join:\n$p")
    val n = "dsir_score".r.findAllIn(p).size
    assert(n == 1,
      s"dsir_score must evaluate ONCE: without the explode(array(..)) " +
        s"barrier CollapseProject substitutes the walk into every " +
        s"consuming alias (n_grams, dsir_sum, dsir_avg); found $n")
  }

  test("dedup_spans: gram frequency partial-aggregates map-side; no cartesian") {
    val p = plan("dedup_spans")
    assert(p.contains("partial_count"),
      s"the occurrence count must combine map-side before the exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the join-back must stay an equi-join on the gram identity:\n$p")
  }

  test("corpus-wide plan audit: no estimate-stats broadcasts, and every " +
    "query's exchange count matches the recorded budget") {
    // LogicalRDD stats are per-row ESTIMATES; a broadcast built over one
    // is sized by guesswork and degrades silently with corpus growth
    // (measured OOM at 10x on dedup_containment before the hint fix).
    // Aggregate-collapsed subtrees are exempt: their cardinality is
    // key-bounded (zone maps, scalar totals, vocab rollups), so
    // broadcasting them is the DESIGNED scale behavior.
    // predicate shared with the drive (DriveBroadcastAudit.suspectSides)
    // so the gate and the audit cannot silently diverge
    val d = "/root/testdata/sf0.001"
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, d).queryExecution.executedPlan
    }
    val flagged = plans.flatMap { case (name, ep) =>
      if (DriveBroadcastAudit.suspectSides(ep).nonEmpty) Some(name) else None
    }
    assert(flagged.isEmpty,
      s"estimate-stats broadcast cliff reintroduced in: ${flagged.mkString(", ")}")

    // Exchange budget: every query's shuffle count is pinned to the
    // recorded value (src/test/resources/exchange_budget.txt). A refactor
    // that introduces an extra Exchange — the single most expensive plan
    // regression at 100 TB — fails here even when values stay correct.
    // Deliberate plan changes re-record via Test/runMain
    // graft.DriveExchangeBudget and review the diff.
    val budget: Map[String, Int] = {
      val src = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/exchange_budget.txt"), "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(n, c) = l.split(" "); n -> c.toInt
      }.toMap finally src.close()
    }
    val diffs = plans.flatMap { case (name, ep) =>
      val live = DriveExchangeBudget.count(ep)
      budget.get(name) match {
        case Some(rec) if rec == live => None
        case Some(rec) => Some(s"$name: recorded $rec, live $live")
        case None => Some(s"$name: NOT RECORDED (new query?)")
      }
    }
    assert(diffs.isEmpty,
      "exchange counts drifted from the recorded budget — review the plan " +
        "change, then re-record with Test/runMain graft.DriveExchangeBudget:\n  " +
        diffs.mkString("\n  "))

    // Bounded-frame invariant for unpartitioned windows (r12 verdict #6):
    // every Window/WindowGroupLimit with an empty partitionSpec must sit
    // above a cardinality-bounding node (aggregate / global limit /
    // TakeOrdered / local relation / registered small checkpoint) on
    // every leaf path of its input — a global window is a one-task sort,
    // fine on a |bands|-row frame, a silent scale-killer on corpus grain.
    // Predicate shared with DriveWindowAudit so gate and drive can't
    // diverge.
    val windowFlags = plans.flatMap { case (name, ep) =>
      val bad = DriveWindowAudit.unboundedGlobalWindows(ep)
      if (bad.nonEmpty) Some(s"$name (${bad.size} site(s))") else None
    }
    assert(windowFlags.isEmpty,
      "unpartitioned window over an UNBOUNDED frame — partition it or put " +
        "an aggregate/limit below it: " + windowFlags.mkString(", "))
  }

  test("window audit predicate flags a seeded global window on corpus grain") {
    // the counter-example the gate exists for: rank the raw lineitem scan
    // globally (no partition spec, no bounding node below). The audit
    // must flag it, and must NOT flag the same window once the frame is
    // collapsed by an aggregate.
    import org.apache.spark.sql.expressions.Window
    val li = ops.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val badPlan = li
      .withColumn("rn", row_number().over(Window.orderBy(col("l_orderkey"))))
      .queryExecution.executedPlan
    assert(DriveWindowAudit.unboundedGlobalWindows(badPlan).nonEmpty,
      "seeded corpus-grain global window was NOT flagged — the gate is vacuous")
    val okPlan = li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("q"))
      .withColumn("rn", row_number().over(Window.orderBy(col("q"))))
      .queryExecution.executedPlan
    assert(DriveWindowAudit.unboundedGlobalWindows(okPlan).isEmpty,
      "aggregate-bounded global window was wrongly flagged")
    // the aggregate-laundering shape: a 1-row grand aggregate carrying a
    // collect_list of the corpus, exploded back to corpus grain, then
    // globally ranked — the aggregate must NOT bound the explode
    import org.apache.spark.sql.functions.{collect_list, explode}
    val launderPlan = li.agg(collect_list(col("l_orderkey")).as("ks"))
      .select(explode(col("ks")).as("k"))
      .withColumn("rn", row_number().over(Window.orderBy(col("k"))))
      .queryExecution.executedPlan
    assert(DriveWindowAudit.unboundedGlobalWindows(launderPlan).nonEmpty,
      "collect_list-explode laundering was NOT flagged")
    // ...while an explicit sequence() spine (calendar/band grid — length
    // bounded by the value range, not corpus rows) stays exempt
    import org.apache.spark.sql.functions.{min => fmin, max => fmax, sequence}
    val spinePlan = li.agg(fmin(col("l_orderkey")).as("lo"), fmax(col("l_orderkey")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("k"))
      .withColumn("rn", row_number().over(Window.orderBy(col("k"))))
      .queryExecution.executedPlan
    assert(DriveWindowAudit.unboundedGlobalWindows(spinePlan).isEmpty,
      "sequence-spine explode was wrongly flagged")
    // the sequence-DECORATION laundering shape (round-13 advisor): a
    // corpus-grain collect_list concatenated with a 2-element sequence —
    // a Sequence exists in the generator's TREE, but it is not the
    // generator's direct child, so the explode output is still corpus
    // grain and must be flagged (the old exists()-based predicate let
    // this through)
    import org.apache.spark.sql.functions.{concat, lit => flit}
    val decoratedPlan = li.agg(collect_list(col("l_orderkey")).as("ks"))
      .select(explode(concat(col("ks"), sequence(flit(1L), flit(2L)))).as("k"))
      .withColumn("rn", row_number().over(Window.orderBy(col("k"))))
      .queryExecution.executedPlan
    assert(DriveWindowAudit.unboundedGlobalWindows(decoratedPlan).nonEmpty,
      "concat(collect_list, sequence) laundering was NOT flagged")
  }
}
