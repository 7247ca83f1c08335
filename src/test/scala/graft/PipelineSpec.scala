package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model._
import graft.ops.Cache

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def pipeline() = new Pipeline(spark,
    new Cache(spark, Files.createTempDirectory("graft_pipe").toString))

  val request = Request(
    id = "57a2ff1bc15e002f448b4568",
    boundary = Boundary("nga_adm0_gadm28"),
    release_data = Seq(ReleaseSelection(
      dataset = "nigeriaaims_geocodedresearchrelease_level1_v1_3",
      filters = Map("donors" -> Seq("AFDB"), "ad_sector_names" -> Seq("All")))),
    raster_data = Seq(RasterSelection(
      name = "udel_precip_v401_min",
      extract_types = Seq("mean"),
      files = Seq(RasterFile("udel_precip_v401_min_1998")))),
    status = -1, priority = 0,
    stage = Seq(StageTime("submit", 1470299931L)))

  def base = Seq((1, "zoneA"), (2, "zoneB")).toDF("asdf_id", "name")
  def pixels = Seq(
    (1, 10.0, 1.0, "A", 1998), (1, 20.0, 1.0, "R", 1998),
    (2, 5.0, 2.0, "A", 1998), (2, 7.0, 1.0, "A", 1999)
  ).toDF("asdf_id", "value", "weight", "cls", "temporal")
  def locations = Seq(
    (1, 40.0, 100.0, "AFDB"), (2, 60.0, 100.0, "AFDB")
  ).toDF("asdf_id", "alloc", "amount", "donors")

  test("checkRequest derives msr + raster work items; keys are boundary-qualified") {
    val p = pipeline()
    val items = p.checkRequest(request)
    assert(items.size == 2)
    val msr = items.find(_.kind == "release").get
    // hash7 of the boundary-FREE msr surface hash names the columns...
    assert(msr.temporal == "1e7b277" && msr.method == "reliability")
    assert(msr.filters == Map("donors" -> Seq("AFDB"))) // 'All' entry dropped
    // ...but the zonal-extract cache key must be boundary-qualified: two
    // boundaries sharing a selection may NOT share a cached zonal result
    val otherBoundary = request.copy(boundary = Boundary("ken_adm0_gadm28"))
    val msr2 = p.checkRequest(otherBoundary).find(_.kind == "release").get
    assert(msr.key != msr2.key)
    assert(msr2.temporal == "1e7b277") // same surface, same column names
    val raster = items.find(_.kind == "raster").get
    assert(raster.temporal == "1998" && raster.method == "mean")
  }

  test("different filters produce different keys AND different data") {
    val p = pipeline()
    val mixed = Seq(
      (1, 40.0, 100.0, "AFDB"), (1, 25.0, 50.0, "WB")
    ).toDF("asdf_id", "alloc", "amount", "donors")
    val afdb = p.compute(
      p.checkRequest(request).find(_.kind == "release").get, pixels, mixed)
    assert(afdb.filter($"asdf_id" === 1).select("sum").as[Double].collect().head == 40.0)
    val noFilter = p.compute(
      p.checkRequest(request.copy(release_data = Seq(ReleaseSelection(
        dataset = "nigeriaaims")))).find(_.kind == "release").get, pixels, mixed)
    assert(noFilter.filter($"asdf_id" === 1).select("sum").as[Double].collect().head == 65.0)
  }

  test("worldbank selections pick sum (F12)") {
    val wb = request.copy(release_data = Seq(
      ReleaseSelection(dataset = "worldbank_wdi")))
    assert(pipeline().checkRequest(wb).head.method == "sum")
  }

  test("hash write-back guard: stale hash is preserved (Q4 quirk)") {
    val p = pipeline()
    val sel = request.release_data.head
    val fresh = p.writeBackHash(sel)
    assert(fresh.hash.contains("1e7b27768cb5caeb17d80b25dacd89bf84fc2f10"))
    val stale = p.writeBackHash(sel.copy(hash = Some("deadbeef")))
    assert(stale.hash.contains("deadbeef"))          // NOT refreshed
    assert(p.writeBackHash(sel.copy(hash = Some("deadbeef")), rehash = true)
      .hash.contains("1e7b27768cb5caeb17d80b25dacd89bf84fc2f10"))
  }

  test("buildOutput: wide merge with reference column grammar, end-to-end") {
    val (entry, echo) = pipeline().buildOutput(request, base, pixels, locations)
    val out = spark.read.parquet(entry)
    val cols = out.columns.toSeq
    assert(cols.head == "asdf_id" && cols.last == "name")
    assert(cols.contains("udel_precip_v401_min__1998__mean"))
    assert(cols.contains(
      "nigeriaaims_geocodedresearchrelease_level1_v1_3__1e7b277__sum"))
    assert(cols.contains(
      "nigeriaaims_geocodedresearchrelease_level1_v1_3__1e7b277__reliability"))
    val r = out.orderBy("asdf_id").collect()
    assert(r(0).getAs[Double]("udel_precip_v401_min__1998__mean") == 15.0)
    assert(r(0).getAs[Double](
      "nigeriaaims_geocodedresearchrelease_level1_v1_3__1e7b277__reliability") == 0.4)
    assert(echo.contains("nga_adm0_gadm28"))
  }

  test("cross-request memoization: second request reuses the cache (§4)") {
    val root = Files.createTempDirectory("graft_pipe").toString
    val c = new Cache(spark, root)
    val p = new Pipeline(spark, c)
    p.buildOutput(request, base, pixels, locations)
    val items = p.checkRequest(request)
    assert(p.misses(items).isEmpty, "all items cached after first build")
    // a different request with the same selections shares every work item
    val req2 = request.copy(id = "other")
    assert(p.misses(p.checkRequest(req2)).isEmpty)
  }

  test("merge memoization: duplicate-work requests share ONE merged result") {
    // round-14: the merged result is itself content-addressed (ordered
    // item keys + base columns). A second request with the same work is
    // a probe-hit — identical rows back, nothing new written under the
    // cache root — and the probe runs before per-item plan construction,
    // which is what collapses the duplicate-request floor.
    val root = Files.createTempDirectory("graft_pipe").toString
    val p = new Pipeline(spark, new Cache(spark, root))
    val r1 = spark.read.parquet(p.buildOutput(request, base, pixels, locations)._1)
      .orderBy("asdf_id").collect().toSeq
    def newest(f: java.io.File): Long = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      (f.lastModified +: kids.map(newest).toSeq).max
    }
    val stamp = newest(new java.io.File(root))
    Thread.sleep(20)
    val r2 = spark.read.parquet(
      p.buildOutput(request.copy(id = "twin"), base, pixels, locations)._1)
      .orderBy("asdf_id").collect().toSeq
    assert(r1 == r2, "memoized merge returned different rows")
    assert(newest(new java.io.File(root)) == stamp,
      "duplicate-work request wrote to the cache — merge was recomputed")
  }

  test("tick: priority order; invalid and failing requests end at -2") {
    val p = pipeline()
    val invalid = request.copy(id = "bad", raster_data = Seq.empty,
      release_data = Seq.empty)
    val broken = request.copy(id = "boom", raster_data = Seq(RasterSelection(
      name = "x", extract_types = Seq("no_such_method"),
      files = Seq(RasterFile("x_1998")))))
    val hi = request.copy(id = "hi", priority = 5)
    val err = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    // Engine.tick's composition: drain order, up to one request per core
    // in flight, each processed end-to-end
    val out =
      try Pipeline.inFlight(spark, p.drainOrder(Seq(request, invalid, hi, broken))) { req =>
        val (status, entry) = p.process(req, base, pixels, locations)
        (req.id, status, entry)
      } finally System.setErr(prevErr)
    assert(out.map(_._1) == Seq("hi", request.id, "bad", "boom"))
    assert(out.map(_._2) == Seq(1, 1, -2, -2))
    // status 1 names the merged result's filled cache entry; -2 names none
    assert(spark.read.parquet(out.head._3).count() == 2)
    assert(out.drop(2).forall(_._3.isEmpty))
    // a failing request names its cause on stderr
    assert(err.toString.linesIterator.exists(_.startsWith("request boom failed: ")),
      s"no failure cause logged for boom:\n$err")
  }

  test("release filters reshape the allocation (A12: filter THEN allocate)") {
    // project 7 has two locations, one of which the donor filter removes;
    // the surviving location must carry the project's FULL amount
    // (reference even-split over survivors), not half of it
    val locs = Seq(
      (7L, 1, 100.0, "AFDB"),  // survives
      (7L, 2, 100.0, "OTHER"), // filtered out
      (8L, 2, 50.0, "AFDB")
    ).toDF("project_id", "asdf_id", "amount", "donors")
    val p = pipeline()
    val item = p.checkRequest(request.copy(raster_data = Seq.empty)).head
    val sums = p.compute(item, pixels, locs)
      .select($"asdf_id", $"sum").as[(Int, Double)].collect().toMap
    assert(sums(1) == 100.0, "project 7's full amount lands on its survivor")
    assert(sums(2) == 50.0)
  }

  test("raster temporal parse: non-numeric / underscore-free names mean no slice") {
    val p = pipeline()
    def temporalOf(file: String) = p.checkRequest(request.copy(
      release_data = Seq.empty,
      raster_data = Seq(RasterSelection(name = "ds", extract_types = Seq("mean"),
        files = Seq(RasterFile(file)))))).head.temporal
    assert(temporalOf("ds_1998") == "1998")
    assert(temporalOf("ds_v2") == "none", "version suffix is not a year")
    assert(temporalOf("dataset") == "none", "no underscore means no temporal")
    assert(temporalOf("ds_none") == "none")
    // and the no-slice item computes instead of throwing NumberFormatException
    val item = p.checkRequest(request.copy(release_data = Seq.empty,
      raster_data = Seq(RasterSelection(name = "ds", extract_types = Seq("mean"),
        files = Seq(RasterFile("ds_v2")))))).head
    assert(p.compute(item, pixels, locations).count() == 2)
  }
}
