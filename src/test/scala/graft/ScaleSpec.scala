package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Extracts, Skew}

/** Scale-path operators: salted aggregation for hot zones. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def px = {
    // zone 1 is "hot": 1000 pixels; zone 2 has 3
    val hot = (1 to 1000).map(i => (1, i.toDouble, 1.0))
    val cold = Seq((2, 5.0, 2.0), (2, 7.0, 1.0), (2, 9.0, 1.0))
    (hot ++ cold).toDF("asdf_id", "value", "weight")
  }

  test("salted aggregation matches unsalted for every algebraic method") {
    for (m <- Seq("sum", "count", "min", "max", "mean",
        "weighted_mean", "weighted_sum", "weighted_count")) {
      val plain = Extracts.extract(px, m).orderBy("asdf_id")
        .collect().map(r => (r.getInt(0), r.get(1)))
      val salted = Skew.extractSalted(px, m).orderBy("asdf_id")
        .collect().map(r => (r.getInt(0), r.get(1)))
      (plain zip salted).foreach { case ((z1, a), (z2, b)) =>
        assert(z1 == z2, m)
        (a, b) match {
          case (x: Double, y: Double) => assert(math.abs(x - y) < 1e-9, m)
          case _ => assert(a == b, m)
        }
      }
    }
  }

  test("salting actually spreads a hot zone over multiple partials") {
    // default content salt: the hot zone's varied values spread
    val spread = px.withColumn("__salt", pmod(hash($"value", $"weight"), lit(16)))
      .groupBy($"asdf_id", $"__salt").count().filter($"asdf_id" === 1)
    assert(spread.count() > 1, "hot zone must split across salts")
  }

  test("constant-fill hot zone: identity saltCols spread what content can't") {
    // nodata/zero-fill case: every row identical — content salt collapses
    // to ONE bucket, identity columns restore the spread, and the result
    // stays exact
    val const = (1 to 1000).map(i => (i.toLong, 1, 0.0, 1.0))
      .toDF("rid", "asdf_id", "value", "weight")
    val contentBuckets = const
      .withColumn("__salt", pmod(hash($"value", $"weight"), lit(16)))
      .select("__salt").distinct().count()
    assert(contentBuckets == 1, "constant rows share a content bucket")
    val idBuckets = const.withColumn("__salt", pmod(hash($"rid"), lit(16)))
      .select("__salt").distinct().count()
    assert(idBuckets > 8, "identity salt must spread the fill")
    val out = Skew.extractSalted(const, "count", saltCols = Seq("rid"))
      .collect()
    assert(out.length == 1 && out.head.getLong(1) == 1000L)
  }

  test("holistic methods refuse to salt") {
    intercept[IllegalArgumentException] { Skew.extractSalted(px, "median") }
  }

  test("percentile_sketch: rank error within n/accuracy on a synthetic hot zone") {
    // 200k-value hot zone with a skewed (quadratic) distribution plus a
    // tiny cold zone — the shape where an exact per-zone percentile
    // buffers the whole value set on one reducer and the sketch must not.
    val hot = (1 to 200000).map(i => (1, (i.toDouble / 1000) * (i.toDouble / 1000)))
    val cold = Seq((2, 1.0), (2, 2.0), (2, 3.0))
    val df = (hot ++ cold).toDF("asdf_id", "value")
    for (p <- Seq(0.5, 0.95, 0.99); acc <- Seq(100, 1000)) {
      val approx = Extracts.extract(df, "percentile_sketch", p = p, accuracy = acc)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val byZone = Seq(1 -> hot.map(_._2).sorted, 2 -> cold.map(_._2))
      byZone.foreach { case (z, vs) =>
        val n = vs.length.toDouble
        val rank = vs.count(_ <= approx(z)).toDouble
        assert(math.abs(rank - p * n) <= n / acc + 1,
          s"zone $z p=$p acc=$acc: rank $rank vs target ${p * n}")
      }
    }
  }

  test("unique_sketch: HLL error within 3*rsd on a high-cardinality hot zone") {
    // 200k distinct values in one zone — the shape where the exact
    // distinct aggregate keeps a 200k-entry hash map per zone and the
    // HLL keeps O(1/rsd^2) registers
    val hot = (1 to 200000).map(i => (1, i.toDouble))
    val cold = Seq((2, 1.0), (2, 1.0), (2, 2.0))
    val df = (hot ++ cold).toDF("asdf_id", "value")
    val approx = Extracts.extract(df, "unique_sketch", rsd = 0.05)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    for ((z, exact) <- Seq(1 -> 200000L, 2 -> 2L))
      assert(math.abs(approx(z) - exact) <= 3 * 0.05 * exact + 1,
        s"zone $z: HLL ${approx(z)} vs exact $exact")
  }

  test("percentile_sketch partials merge map-side (partial agg in plan)") {
    val plan = Extracts.extract(px, "percentile_sketch")
      .queryExecution.executedPlan.toString
    // two HashAggregate/ObjectHashAggregate/SortAggregate nodes around ONE
    // exchange = partial sketches built per input partition and merged —
    // the property that bounds reducer memory at scale
    assert(plan.contains("Exchange hashpartitioning"),
      s"expected one key exchange:\n$plan")
    val aggs = "(?i)aggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final aggregate pair:\n$plan")
  }

  test("containment: a corpus-wide hot prefix fabricates no pairs; constructed " +
    "excerpts are found exactly (X2h rarest-first robustness)") {
    // every doc shares a hot ~45-char preamble (its shingles have df =
    // |corpus| — the signature pick a hash-min scheme would correlate on)
    // but carries a long unique tail, so TRUE cross-doc containment stays
    // far under the 0.5 threshold; the only pairs the operator may emit
    // are its own constructed doc_id % 7 excerpts, at containment 1
    val tmp = Files.createTempDirectory("graft_cont_hot").toString
    val docs = (0 until 56).map { i =>
      val tail = (0 until 40).map(j => f"u$i%02dx$j%02d").mkString(" ")
      (i.toLong, s"common preamble shared by all documents here $tail", "en", "synth")
    }
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("dedup_containment")(spark, tmp)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val expected = (0 until 56).filter(_ % 7 == 0)
      .map(i => (-i - 1L, i.toLong)).toSet
    assert(out.map(t => (t._1, t._2)).toSet == expected,
      s"hot-prefix corpus must yield exactly the excerpt pairs, got ${out.map(t => (t._1, t._2))}")
    out.foreach { case (a, b, na, ni, c) =>
      assert(ni == na && c == 1.0, s"excerpt ($a,$b) must be fully contained")
    }
  }

  test("AQE actually splits a skewed join partition (the hot-key runtime " +
    "re-plan SCALE.md leans on is a tested fact, not a config note)") {
    // one key owns ~95% of the fact side; with broadcast off the join is
    // sort-merge and the hot hash partition dwarfs the median. AQE's skew
    // handler must carve that partition into multiple reader splits —
    // visible in the final adaptive plan as isSkewJoin=true / a skewed
    // AQEShuffleRead. Thresholds are lowered to make 64 KB count as
    // "skewed" at fixture scale; the MECHANISM is scale-independent.
    val prev = Seq(
      "spark.sql.adaptive.enabled" -> spark.conf.getOption("spark.sql.adaptive.enabled"),
      "spark.sql.adaptive.skewJoin.enabled" -> spark.conf.getOption("spark.sql.adaptive.skewJoin.enabled"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> spark.conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> spark.conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.coalescePartitions.enabled" -> spark.conf.getOption("spark.sql.adaptive.coalescePartitions.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = spark.range(0, 120000).select(
        when($"id" % 20 === 0, $"id" % 40).otherwise(lit(0L)).as("k"),
        concat(lit("p" * 64), $"id").as("payload"))
      val dim = spark.range(0, 40).select($"id".as("k"), ($"id" * 7).as("attr"))
      // keep the payload alive through the join (column pruning would
      // otherwise shrink the hot partition), and drive the df's OWN plan:
      // head() would execute a separate CollectLimit query execution
      val joined = fact.join(dim, Seq("k"))
        .agg(count(lit(1)), sum($"attr"), max(length($"payload")))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isSkewJoin=true") || plan.toLowerCase.contains("skewed"),
        s"final adaptive plan must show a skew-split join, got:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("ksBinned: a tie-free 200k-distinct hot zone keeps ≤ bins rows of " +
      "CDF state and brackets the exact KS D from below") {
    // the wide-support case the exact ks_drift can't bound: every value
    // distinct, so its (zone, value) support IS the data. ksBinned's
    // whole contract is (a) per-zone CDF state ≤ bins regardless of
    // support, (b) the binned D is exact-D minus at most the largest
    // in-bin CDF mass. Sample a = 200k evens, sample b = odds shifted by
    // +10% of the range → exact D = 0.1 up to grid granularity.
    val n = 200000
    val bins = 256
    val rows = (0 until n).map { i =>
      // a: cents 2i; b: cents 2i + 0.1·range (range = 2n)
      if (i % 2 == 0) ("hot", i.toLong * 2, 1L, 0L)
      else ("hot", i.toLong * 2 + (n / 5), 0L, 1L)
    }
    val df = rows.toDF("asdf_id", "c", "a", "b")
    // state bound: reconstruct the helper's exact grid rule and count
    // distinct bins
    val glo = rows.map(_._2).min
    val ghi = rows.map(_._2).max
    val nBins = df.select(
        expr(s"((c - $glo) * $bins) div ($ghi - $glo + 1)").as("bin"))
      .distinct().count()
    assert(nBins <= bins, s"grid produced $nBins bins (> $bins)")
    // exact D computed locally over the full support
    val vals = rows.map(r => (r._2, r._3, r._4)).sortBy(_._1)
    val na = vals.map(_._2).sum.toDouble
    val nb = vals.map(_._3).sum.toDouble
    var ca = 0L; var cb = 0L; var exactD = 0.0
    vals.foreach { case (_, a, b) =>
      ca += a; cb += b
      exactD = math.max(exactD, math.abs(ca / na - cb / nb))
    }
    val got = graft.ops.Analytics.ksBinned(df, "asdf_id", bins)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).head
    assert(got._2 == n / 2 && got._3 == n / 2)
    // the binned statistic never exceeds exact D, and undershoots by at
    // most the densest cell's CDF mass (uniform grid → ~2/bins here,
    // doubled for the two interleaved samples)
    assert(got._4 <= exactD + 1e-9,
      s"binned D ${got._4} exceeds exact $exactD")
    assert(exactD - got._4 <= 2.0 / bins + 1e-9,
      s"binned D ${got._4} lost more than a cell's mass vs exact $exactD")
  }
}
