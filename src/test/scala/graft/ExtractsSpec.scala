package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.ops.Extracts

class ExtractsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // zone 1: values 1,2,3 (weights 1,1,2; classes A,A,R); zone 2: value 10 (w 4, R)
  def px = Seq(
    (1, 1.0, 1.0, "A"), (1, 2.0, 1.0, "A"), (1, 3.0, 2.0, "R"),
    (2, 10.0, 4.0, "R")
  ).toDF("asdf_id", "value", "weight", "cls")

  def one(method: String): Map[Int, Row] =
    Extracts.extract(px, method).collect().map(r => r.getInt(0) -> r).toMap

  test("mean / count / sum / min / max") {
    assert(one("mean")(1).getDouble(1) == 2.0)
    assert(one("count")(1).getLong(1) == 3L)
    assert(one("sum")(1).getDouble(1) == 6.0)
    assert(one("min")(1).getDouble(1) == 1.0)
    assert(one("max")(2).getDouble(1) == 10.0)
  }

  test("weighted family uses coverage fraction") {
    assert(one("weighted_mean")(1).getDouble(1) == (1 * 1 + 2 * 1 + 3 * 2) / 4.0)
    assert(one("weighted_count")(1).getDouble(1) == 4.0)
    assert(one("weighted_sum")(1).getDouble(1) == 9.0)
  }

  test("categorical pivots with explicit classes; missing class is 0 not null") {
    val r = Extracts.extract(px, "categorical", classes = Seq("A", "N", "R"))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(r(1).getAs[Long]("categorical_A") == 2L)
    assert(r(1).getAs[Long]("categorical_N") == 0L) // absent class
    assert(r(1).getAs[Long]("categorical_R") == 1L)
  }

  test("majority ties break to lexicographically smallest class") {
    // zone 3: A=1, B=1 tie -> A
    val t = Seq((3, 1.0, 1.0, "B"), (3, 2.0, 1.0, "A")).toDF("asdf_id", "value", "weight", "cls")
    assert(Extracts.extract(t, "majority").collect().head.getString(1) == "A")
    assert(Extracts.extract(t, "minority").collect().head.getString(1) == "A")
  }

  test("mode ties break to smallest value") {
    val t = Seq((1, 2.0), (1, 2.0), (1, 1.0), (1, 1.0))
      .toDF("asdf_id", "value").withColumn("weight", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("cls", org.apache.spark.sql.functions.lit("A"))
    assert(Extracts.extract(t, "mode").collect().head.getDouble(1) == 1.0)
  }

  test("declared-future methods: std var median unique range percentile") {
    assert(math.abs(one("std")(1).getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(one("var")(1).getDouble(1) - 1.0) < 1e-12)
    assert(one("median")(1).getDouble(1) == 2.0)
    assert(one("unique")(1).getLong(1) == 3L)
    assert(one("range")(1).getDouble(1) == 2.0)
    assert(one("percentile")(1).getDouble(1) == 2.9) // exact interpolated p95 of 1,2,3
  }

  test("[EXT] robust/ratio methods: mad geomean harmonic") {
    // zone 1 values 1,2,3: median 2, deviations [1,0,1] -> mad 1
    assert(one("mad")(1).getDouble(1) == 1.0)
    // singleton zone: deviation from itself is 0
    assert(one("mad")(2).getDouble(1) == 0.0)
    assert(math.abs(one("geomean")(1).getDouble(1) - math.cbrt(6.0)) < 1e-12)
    // harmonic of 1,2,3 = 3 / (1 + 1/2 + 1/3) = 18/11
    assert(math.abs(one("harmonic")(1).getDouble(1) - 18.0 / 11.0) < 1e-12)
    // interpolated mad: 4 values 1,2,4,10 -> median 3, |dev| sorted 1,1,2,7 -> 1.5
    val t = Seq((9, 1.0), (9, 2.0), (9, 4.0), (9, 10.0)).toDF("asdf_id", "value")
    assert(Extracts.extract(t, "mad").collect().head.getDouble(1) == 1.5)
  }

  test("reliability = sum/potential (field_names.txt:17-22)") {
    val r = Extracts.extract(px, "reliability", value = "value", weight = "weight")
      .collect().map(x => x.getInt(0) -> x).toMap
    assert(r(1).getAs[Double]("sum") == 6.0)
    assert(r(1).getAs[Double]("potential") == 4.0)
    assert(r(1).getAs[Double]("reliability") == 1.5)
  }

  test("weighted_mean stays within [min,max] of values") {
    val wm = one("weighted_mean")(1).getDouble(1)
    assert(wm >= 1.0 && wm <= 3.0)
  }

  test("guided percentile/median/mad equal their buffering exact forms " +
    "on randomized and adversarial distributions") {
    // the sketch-guided forms claim EXACT output with bounded state; parity
    // with the buffering aggregates is the whole contract, so fuzz it:
    // random zones/values, heavy tie runs (ties at the percentile are the
    // window-blowup temptation — they must COMPRESS, not diverge), tiny
    // zones (n=1,2 exercise the interpolation edge), and extreme p
    val rnd = new scala.util.Random(7)
    def check(df: org.apache.spark.sql.DataFrame, p: Double): Unit = {
      val exact = Extracts.extract(df, "percentile_buffer", p = p)
        .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
      val guided = Extracts.extract(df, "percentile_guided", p = p,
          // the CONTRACT FLOOR (coarsest allowed sketch): the exactness
          // guarantee must not depend on the sketch being fine, and this
          // is the weakest setting the API admits
          guidedAccuracy = 100)
        .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
      assert(guided.keySet == exact.keySet, s"p=$p zone sets diverge")
      for ((zn, ev) <- exact)
        assert(math.abs(guided(zn) - ev) < 1e-9,
          s"p=$p zone $zn: guided ${guided(zn)} vs exact $ev")
    }
    for (trial <- 0 until 5) {
      // 1200 rows over ~3 fat zones: at the floor accuracy the widen
      // threshold is n ≤ 200, so the fat zones (~350-400 rows) exercise
      // the NARROW-window path while zone 3 / the n=1 zone keep the
      // widen + interpolation edges covered
      val rows = (0 until 1200).map { _ =>
        val zn = rnd.nextInt(4)
        // 30% tie mass at a handful of magnets, tiny zones via zone 3
        val v =
          if (rnd.nextInt(10) < 3) (rnd.nextInt(3) * 10).toDouble
          else rnd.nextDouble() * 100
        (if (zn == 3 && rnd.nextInt(50) != 0) 0 else zn, v)
      } :+ ((9, 42.0)) // n=1 zone
      val df = rows.toDF("asdf_id", "value")
      for (p <- Seq(0.0, 0.01, 0.5, 0.95, 0.99, 1.0)) check(df, p)
    }
    // below the floor the API must refuse loudly (the silent
    // correct-but-buffering regime is exactly what the floor forbids)
    val tiny = Seq((1, 1.0), (1, 2.0)).toDF("asdf_id", "value")
    val ex = intercept[IllegalArgumentException] {
      Extracts.extract(tiny, "percentile_guided", guidedAccuracy = 99)
    }
    assert(ex.getMessage.contains("contract floor"))
    // median/mad wrappers ride the same machinery
    val t = Seq((9, 1.0), (9, 2.0), (9, 4.0), (9, 10.0)).toDF("asdf_id", "value")
    assert(Extracts.extract(t, "median_guided").collect().head.getDouble(1) == 3.0)
    assert(Extracts.extract(t, "mad_guided").collect().head.getDouble(1) == 1.5)
    val madE = Extracts.extract(px, "mad_buffer").collect()
      .map(x => x.getInt(0) -> x.getDouble(1)).toMap
    val madG = Extracts.extract(px, "mad_guided").collect()
      .map(x => x.getInt(0) -> x.getDouble(1)).toMap
    // 1e-9 tolerance, not ==: the two interpolation formulas are
    // algebraically equal but can differ by an ulp on interpolating zones
    assert(madE.keySet == madG.keySet)
    for ((zn, ev) <- madE)
      assert(math.abs(madG(zn) - ev) < 1e-9, s"mad zone $zn: ${madG(zn)} vs $ev")
  }

  test("guided forms keep the NULL zone group (null-safe attaches)") {
    // groupBy keeps a NULL group and the buffering aggregates compute a
    // real value for it; every zone attach in the guided path must be
    // null-safe or that group silently vanishes
    val df = Seq((Option(1), 1.0), (Option(1), 2.0), (Option(1), 7.0),
      (Option.empty[Int], 5.0), (Option.empty[Int], 7.0),
      (Option.empty[Int], 9.0), (Option.empty[Int], 11.0))
      .toDF("asdf_id", "value")
    for (m <- Seq("median_guided", "percentile_guided", "mad_guided")) {
      val buffering = m.stripSuffix("_guided") + "_buffer"
      val g = Extracts.extract(df, m).collect()
        .map(r => Option(r.get(0)) -> r.getDouble(1)).toMap
      val e = Extracts.extract(df, buffering).collect()
        .map(r => Option(r.get(0)) -> r.getDouble(1)).toMap
      assert(g.keySet == e.keySet, s"$m zone sets diverge: $g vs $e")
      for ((zn, ev) <- e)
        assert(math.abs(g(zn) - ev) < 1e-9, s"$m zone $zn: ${g(zn)} vs $ev")
      assert(g.contains(None), s"$m dropped the NULL zone group")
    }
  }

  test("guidedQuantiles: many fractions from one bracket equal the exact " +
    "percentiles (winsor/fence/decile shape)") {
    val rnd = new scala.util.Random(11)
    // ~500 rows per zone: above the floor's n ≤ 200 widen threshold, so
    // the multi-fraction NARROW windows are what's under test
    val rows = (0 until 1500).map { _ =>
      val zn = rnd.nextInt(3)
      val v = if (rnd.nextInt(5) == 0) 25.0 else rnd.nextDouble() * 100
      (zn, v)
    }
    val df = rows.toDF("asdf_id", "value")
    val ps = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
    val names = ps.map(p => s"q${(p * 100).toInt}")
    val got = Extracts.guidedQuantiles(df, ps, names, accuracy = 100)
      .collect().map(r => r.getInt(0) -> r).toMap
    for ((p, name) <- ps.zip(names)) {
      val exact = Extracts.extract(df, "percentile_buffer", p = p)
        .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
      for ((zn, ev) <- exact)
        assert(math.abs(got(zn).getAs[Double](name) - ev) < 1e-9,
          s"$name zone $zn: ${got(zn).getAs[Double](name)} vs exact $ev")
    }
  }

  test("guidedTileBounds equals the brute-force ntile tile summary on " +
    "randomized/adversarial distributions (ties, tiny zones, many k)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{ntile => sntile, col => scol,
      count => scount, min => smin, max => smax, lit => slit,
      monotonically_increasing_id}
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 3) {
      // 3000 rows over ~3 fat zones: at the floor accuracy the k=10 widen
      // threshold is n ≤ 650, so the fat zones run the NARROW boundary
      // windows while zone 3 / the n=1 zone keep the widen path covered
      val rows = (0 until 3000).map { _ =>
        val zn = rnd.nextInt(4)
        // heavy tie mass (tile boundaries inside tie runs are the case
        // where a value-windowed extraction could mis-pick an edge)
        val v =
          if (rnd.nextInt(10) < 4) (rnd.nextInt(4) * 10).toDouble
          else rnd.nextDouble() * 100
        (if (zn == 3 && rnd.nextInt(60) != 0) 0 else zn, v)
      } :+ ((9, 42.0)) // n=1 zone
      val df = rows.toDF("asdf_id", "value")
      for (k <- Seq(2, 3, 10)) {
        // tie-break for the brute force is an arbitrary synthetic id: the
        // tile SUMMARY must be identical for any tie-break column;
        // accuracy = the contract floor (coarsest allowed sketch)
        val tb = Extracts.guidedTileBounds(df, k, accuracy = 100)
          .collect().map(r => (r.getInt(0), r.getLong(1)) ->
            (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
        val w = Window.partitionBy("asdf_id")
          .orderBy(scol("value"), scol("rid"))
        val want = df.withColumn("rid", monotonically_increasing_id())
          .withColumn("tile", sntile(k).over(w).cast("long"))
          .groupBy(scol("asdf_id"), scol("tile"))
          .agg(scount(slit(1)).as("n"), smin("value").as("lo"), smax("value").as("hi"))
          .collect().map(r => (r.getInt(0), r.getLong(1)) ->
            (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
        assert(tb.keySet == want.keySet, s"k=$k tile sets diverge")
        for ((key, (n, lo, hi)) <- want) {
          val (gn, glo, ghi) = tb(key)
          assert(gn == n, s"k=$k $key count $gn vs $n")
          assert(glo == lo, s"k=$k $key lo $glo vs $lo")
          assert(ghi == hi, s"k=$k $key hi $ghi vs $hi")
        }
      }
    }
  }

  test("constructing the mad extract launches no job under Ckpt.planOnly") {
    // Plan inspection builds frames inside Ckpt.planOnly and must launch
    // no job: under AQE even a LAZY localCheckpoint materializes every
    // upstream stage at construction time (measured: 18 jobs just
    // building the guided mad frame without the guard).
    val (_, jobs) = TestSpark.jobsDuring(graft.ops.Ckpt.planOnly {
      Extracts.extract(px, "mad")        // guided (registered) form
      Extracts.extract(px, "mad_buffer") // buffering parity baseline
      Extracts.guidedTileBounds(px, 4)   // histogram builder (same
      // checkpoint helpers — must stay job-free under planOnly too)
    })
    assert(jobs == 0, s"mad construction ran $jobs job(s); dry-run would scan")
  }
}
