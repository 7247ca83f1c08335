package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Engine
import graft.model._
import graft.ops.{Naming, Tables}

/** The `requests_cold` workload: the engine's request lifecycle
  * (`submitAll`, one `tick`, then `results` for each request) on the
  * relational mapping `graft.CronTick` uses. One client, one batch in
  * flight; a request's latency runs from its batch's `submitAll` call until
  * its result rows have been read.
  *
  * Every cycle uses a new boundary name, so none of its work items is in
  * the cache when the batch is submitted. A batch is made of units: each
  * unit draws ten fresh selections (six algebraic raster extracts, two
  * guided-holistic raster extracts, two filtered release (msr) selections)
  * and submits eleven requests, one per selection and one pairing two of
  * them. Every request is a distinct shape, so each computes its own merge
  * and takes the per-request artifact write; only the pairs reuse work
  * items, which the batch computed for its single-selection requests.
  *
  * A measured cycle is [[BatchUnits]] unit (11 requests, one `tick`): a
  * cold request costs one to two seconds on four cores, and a run has room
  * for no more. Set-up runs one small unmeasured batch first, so the
  * measured cycle does not pay Spark's first-use costs. A traced run, which
  * must also fit its time, runs three such cycles after set-up: an untraced
  * one that finishes the warm-up, a traced one, and an untraced one to
  * compare it with.
  *
  * Every result is checked: status 1, 25 zone rows, the column names the
  * naming grammar gives the request's items, and values equal to a plain
  * Spark computation from the source tables that bypasses the cache. The
  * traced run also checks that no work item is cached before its tick.
  */
object Requests {
  val Algebraic = Seq("mean", "sum", "min", "max", "count", "std", "var", "weighted_mean", "range")
  val Holistic = Seq("median", "percentile", "mad")
  val Years: Seq[Int] = 1992 to 1998
  val Donors = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")
  val Places = Seq("nga", "gha", "ken", "uga", "tza", "eth", "sen", "mli", "bfa", "ner", "tcd", "cmr")
  val Zones = 25
  /** A batch unit's fresh selections, one request each: algebraic raster
    * extracts, guided-holistic raster extracts and release selections. */
  val UnitAlgebraic = 6
  val UnitHolistic = 2
  val UnitRelease = 2
  val UnitSize: Int = UnitAlgebraic + UnitHolistic + UnitRelease
  val BatchUnits = 1

  sealed trait Sel { def dataset: String }
  final case class Raster(dataset: String, method: String, year: Int) extends Sel
  final case class Release(dataset: String, filters: Map[String, Seq[String]]) extends Sel
  final case class Shape(boundary: String, sels: Seq[Sel])

  /** Every draw of a run comes from one generator seeded with the run's seed. */
  final class Gen(seed: Long) {
    private val rng = new Random(seed)
    private var ids = 0
    private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    private def token(): String = rng.alphanumeric.take(6).mkString.toLowerCase
    def id(): String = { ids += 1; s"r${seed.abs}n$ids" }
    def boundary(tag: String): String = s"${pick(Places)}_adm${1 + rng.nextInt(2)}_$tag"
    def raster(method: String): Raster = Raster(s"ras_${token()}", method, pick(Years))
    /** A release selection; worldbank datasets carry one msr column, others three. */
    def release(worldbank: Boolean): Release = {
      val ds = (if (worldbank) "worldbank_" else "aims_") + token()
      val status =
        if (rng.nextBoolean()) Map("status" -> rng.shuffle(Statuses).take(1 + rng.nextInt(2))) else Map.empty
      // an "All" list is dropped by the engine's filter normalization
      val sector = if (rng.nextInt(3) == 0) Map("sector" -> Seq("All")) else Map.empty
      Release(ds, Map("donor" -> rng.shuffle(Donors).take(1 + rng.nextInt(3))) ++ status ++ sector)
    }
    /** `n` methods, each as often as `n` allows, the rest drawn without repeats. */
    def deal(methods: Seq[String], n: Int): Seq[String] =
      Seq.fill(n / methods.size)(methods).flatten ++ rng.shuffle(methods).take(n % methods.size)
    /** The warm-up batch: two pairs, each of a raster and a release
      * selection (one algebraic and one guided-holistic extract, one
      * worldbank and one aims release), so every kind of work item and the
      * per-request merge and artifact write have run once before timing. */
    def warmBatch(tag: String): Seq[Shape] = {
      val b = boundary(tag)
      Seq(Seq(raster(pick(Algebraic)), release(worldbank = true)),
        Seq(raster(pick(Holistic)), release(worldbank = false))).map(Shape(b, _))
    }
    /** A cold cycle of `units` batch units: per unit, one request for each
      * of its fresh selections and one pairing two of them. Methods are
      * dealt evenly and the first of every four release datasets is a
      * worldbank one, so batches differ in names, years and filters more
      * than in the work they ask for. */
    def coldBatch(tag: String, units: Int): Seq[Shape] = {
      val b = boundary(tag)
      val sels = (deal(Algebraic, UnitAlgebraic * units) ++ deal(Holistic, UnitHolistic * units)).map(raster) ++
        (0 until UnitRelease * units).map(i => release(worldbank = i % 4 == 0))
      val pairs = rng.shuffle(sels).grouped(2).take(units).toSeq
      rng.shuffle(sels.map(Seq(_)) ++ pairs).map(Shape(b, _))
    }
  }

  def request(id: String, s: Shape): Request = Request(id, Boundary(s.boundary),
    release_data = s.sels.collect { case Release(ds, f) => ReleaseSelection(ds, filters = f) },
    raster_data = s.sels.collect { case Raster(ds, m, y) =>
      RasterSelection(ds, Seq(m), Seq(RasterFile(s"${ds}_$y")))
    })

  /** One finished request, as the benchmark saw it. */
  final case class Done(req: Request, shape: Shape, latency: Double, status: Int,
      rows: Option[Array[Row]], columns: Seq[String])

  def run(ctx: Context): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new Gen(ctx.seed)
    val engine = new Engine(spark, s"${ctx.root}/engine")
    val base = Tables.nation(spark, ctx.sfDir).select($"n_nationkey".as("asdf_id"), $"n_name")
    val pixels = Tables.pixels(spark, ctx.sfDir)
    val locations = Tables.locations(spark, ctx.sfDir)
      .withColumn("asdf_id", $"cell_id" % Zones)
      .withColumn("alloc", $"amount" * 0.9)
      .withColumn("donors", lit("AFDB"))
    // traced cycles only: item probes that hit before the tick (a cold
    // item must miss), the tick's lookups (one merged result per request
    // plus each request's items), the cache entries the tick added, and
    // the seconds this bookkeeping took, which the overhead leaves out
    var earlyHits = 0L
    var lookups = 0L
    var fills = 0L
    var bookkeepingS = 0.0

    // one cycle: submit the batch, tick once, read every result
    def cycle(shapes: Seq[Shape], trace: Trace, op: Long): Seq[Done] = {
      val reqs = shapes.map(s => request(gen.id(), s))
      val t0 = System.nanoTime()
      trace.span(op, "submit")(engine.submitAll(reqs))
      val entriesBefore = if (!trace.enabled) 0 else {
        val b0 = System.nanoTime()
        trace.span(op, "check") {
          val items = reqs.flatMap(engine.pipeline.checkRequest)
          lookups += reqs.size + items.size
          earlyHits += items.count(i => engine.cache.probe(i.key))
        }
        val n = cacheEntries(engine)
        bookkeepingS += (System.nanoTime() - b0) / 1e9
        n
      }
      val status = trace.span(op, "tick")(engine.tick(base, pixels, locations))
      if (trace.enabled) {
        val b0 = System.nanoTime()
        fills += cacheEntries(engine) - entriesBefore
        bookkeepingS += (System.nanoTime() - b0) / 1e9
      }
      reqs.zip(shapes).map { case (r, s) =>
        val res = trace.span(op, "results")(engine.results(r.id).map(df => (df.columns.toSeq, df.collect())))
        Done(r, s, (System.nanoTime() - t0) / 1e9, status.getOrElse(r.id, 0), res.map(_._2),
          res.map(_._1).getOrElse(Nil))
      }
    }

    val off = new Trace(spark.sparkContext, enabled = false)
    val warm = cycle(gen.warmBatch("warm"), off, 0)
    val setupS = ctx.sinceStart()
    ctx.note(f"set-up done at $setupS%.1f s")

    // whole cycles of `units` batch units until the time and the sample floor are met
    var cycles = 0
    def phase(trace: Trace, units: Int, minSeconds: Double, minOps: Int): (Seq[Done], Double) = {
      val t0 = System.nanoTime()
      val out = Vector.newBuilder[Done]
      var n = 0
      while ((System.nanoTime() - t0) / 1e9 < minSeconds || n < minOps) {
        cycles += 1
        val d = cycle(gen.coldBatch(s"c$cycles", units), trace, cycles)
        out ++= d; n += d.size
      }
      (out.result(), (System.nanoTime() - t0) / 1e9)
    }
    val (measured, wallS) =
      if (ctx.trace) phase(off, 1, 0, 1) else phase(off, BatchUnits, ctx.seconds, Main.MinOps)
    ctx.note(f"measured ${measured.size} requests in $wallS%.1f s")
    val e2e = if (ctx.trace) Map.empty[String, Double] else {
      val heapMb = Main.heapAfterGc()
      Main.endToEnd(setupS, measured.map(_.latency), wallS, heapMb, Main.treeSize(ctx.root)._1,
        warm.size + measured.size)
    }

    val (traced, layers) = if (!ctx.trace) (Nil, Map.empty[String, Double]) else {
      val tr = new Trace(spark.sparkContext, enabled = true)
      val tStart = Trace.nowMicros()
      val (done, tracedWall) = phase(tr, 1, 0, 1)
      val tEnd = Trace.nowMicros()
      val drainS = tr.finish()
      val (after, afterWall) = phase(off, 1, 0, 1)
      ctx.note(f"traced ${done.size} requests in $tracedWall%.1f s ($bookkeepingS%.2f s bookkeeping), " +
        f"then ${after.size} untraced in $afterWall%.1f s")
      tr.writeTo(ctx.traceOut)
      val jobs = tr.jobs.filter(_.op.isDefined)
      val spans = tr.spans
      val n = done.size.toDouble
      def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
      val files = Main.treeSize(s"${ctx.root}/engine")._2
      val layers = Layers.spark(jobs, tStart, tEnd, n, ctx.cores, tr.unfinishedJobs) ++
        Layers.modules(jobs, n) ++
        Map(
          "engine.submit_s" -> spanS("submit"),
          "engine.tick_s" -> spanS("tick"),
          "engine.tick_driver_s" -> Layers.driverSeconds(spans.filter(_.name == "tick"), jobs) / n,
          "engine.results_s" -> spanS("results"),
          "pipeline.check_s" -> spanS("check"),
          "cache.hit_ratio" -> (1.0 - fills.toDouble / lookups),
          "disk.files_per_request" -> files.toDouble / (warm.size + measured.size + n + after.size),
          "trace.drain_s" -> drainS,
          "trace.overhead" -> (1.0 - (n / (tracedWall - bookkeepingS)) / (after.size / afterWall)))
      (done ++ after, layers)
    }

    val all = warm ++ measured ++ traced
    ctx.note(f"checking ${all.size} requests at ${ctx.sinceStart()}%.1f s")
    val failures = all.flatMap(d => checkShape(engine, d)) ++ checkValues(spark, ctx.sfDir, all) ++
      (if (earlyHits > 0) Seq(s"$earlyHits work items were cached before their cold tick") else Nil)
    ctx.note(f"checked ${all.size} requests at ${ctx.sinceStart()}%.1f s")
    Result(all.size, failures, e2e, layers)
  }

  /** Entries in the engine's cache: one directory per work item or merged
    * result under each cache version, bookkeeping directories (`_*`) aside. */
  def cacheEntries(engine: Engine): Int = {
    def dirs(f: java.io.File) = Option(f.listFiles).getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
    dirs(new java.io.File(s"${engine.workRoot}/cache")).flatMap(dirs).count(!_.getName.startsWith("_"))
  }

  /** Status, zone count and column names of one request. */
  def checkShape(engine: Engine, d: Done): Option[String] = {
    val expected = "asdf_id" +: engine.pipeline.checkRequest(d.req).flatMap { i =>
      if (i.kind == "release") Naming.msrMethods(i.dataset).map(m => Naming.col(i.dataset, i.temporal, m))
      else Seq(Naming.col(i.dataset, i.temporal, i.method))
    } :+ "n_name"
    if (d.status != 1) Some(s"${d.req.id}: status ${d.status}")
    else d.rows match {
      case None => Some(s"${d.req.id}: no result")
      case Some(rows) if rows.length != Zones => Some(s"${d.req.id}: ${rows.length} rows, expected $Zones")
      case Some(_) if d.columns != expected =>
        Some(s"${d.req.id}: columns ${d.columns.mkString(",")}, expected ${expected.mkString(",")}")
      case _ => None
    }
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Number, y: Number) =>
      val (p, q) = (x.doubleValue, y.doubleValue)
      math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
    case _ => false
  }

  /** Every extract column of every request equals a plain Spark computation
    * from the source tables, made without the engine's cache. */
  def checkValues(spark: SparkSession, sfDir: String, done: Seq[Done]): Seq[String] = {
    val ok = done.filter(d => d.status == 1 && d.rows.isDefined)
    val refs = references(spark, sfDir, ok.flatMap(_.shape.sels).distinct)
    ok.flatMap { d =>
      val colIdx = d.columns.zipWithIndex.toMap
      val expected: Seq[(String, Sel, String)] = d.shape.sels.flatMap {
        case r @ Raster(ds, m, y) => Seq((Naming.col(ds, y.toString, m), r, m))
        case r @ Release(ds, _) =>
          // the hash segment is the engine's descriptor hash; the name check covers it
          val h = d.columns.find(_.startsWith(ds + Naming.Sep)).map(_.split(Naming.Sep)(1)).getOrElse("?")
          Naming.msrMethods(ds).map(m => (Naming.col(ds, h, m), r, m))
      }
      d.rows.get.toSeq.flatMap { row =>
        val z = row.getAs[Number]("asdf_id").longValue
        expected.collect {
          case (c, _, _) if !colIdx.contains(c) => s"${d.req.id}: no column $c"
          case (c, sel, m) if !close(row.get(colIdx(c)), refs(sel).get(z).map(_(m)).orNull) =>
            s"${d.req.id}: $c at zone $z is ${row.get(colIdx(c))}, reference ${refs(sel).get(z).map(_(m)).orNull}"
        }
      }
    }
  }

  /** zone -> method -> value of each selection, computed with plain Spark
    * from the source tables: one aggregation of the pixels for every raster
    * selection and one of the locations for every release selection.
    * Raster: the method over the year's pixels, with exact percentiles for
    * the guided methods (MAD as the median of absolute deviations from the
    * zone median). Release: the filtered locations, each project's amount
    * split evenly over its surviving locations, summed per zone. */
  def references(spark: SparkSession, sfDir: String, sels: Seq[Sel]): Map[Sel, Map[Long, Map[String, Any]]] = {
    val v = col("value"); val w = col("weight")
    def byZone(df: DataFrame, key: String): Map[Long, Map[Long, Map[String, Any]]] = {
      val methods = df.columns.filterNot(c => c == key || c == "asdf_id")
      df.collect().toSeq.groupBy(_.getAs[Number](key).longValue).map { case (k, rows) =>
        k -> rows.map(r => r.getAs[Number]("asdf_id").longValue -> methods.map(m => m -> r.getAs[Any](m)).toMap).toMap
      }
    }
    val rasters = sels.collect { case r: Raster => r }
    val byYear = if (rasters.isEmpty) Map.empty[Long, Map[Long, Map[String, Any]]] else {
      val keys = Seq(col("temporal"), col("asdf_id"))
      val px = Tables.pixels(spark, sfDir).filter(col("temporal").isin(rasters.map(_.year).distinct: _*))
      val med = px.groupBy(keys: _*).agg(percentile(v, lit(0.5)).as("__med"))
      val mad = px.join(med, Seq("temporal", "asdf_id"))
        .groupBy(keys: _*).agg(percentile(abs(v - col("__med")), lit(0.5)).as("mad"))
      byZone(px.groupBy(keys: _*).agg(
        avg(v).as("mean"), sum(v).as("sum"), min(v).as("min"), max(v).as("max"), count(v).as("count"),
        stddev_samp(v).as("std"), var_samp(v).as("var"), (sum(v * w) / sum(w)).as("weighted_mean"),
        (max(v) - min(v)).as("range"), percentile(v, lit(0.5)).as("median"),
        percentile(v, lit(0.95)).as("percentile")).join(mad, Seq("temporal", "asdf_id")), "temporal")
    }
    val releases = sels.collect { case r: Release => r }
    val byRelease = if (releases.isEmpty) Map.empty[Long, Map[Long, Map[String, Any]]] else {
      // each location row once per selection whose filters it passes
      val tags = releases.zipWithIndex.map { case (r, i) =>
        when(r.filters.filterNot(_._2.contains("All")).map { case (field, vs) => col(field).isin(vs: _*) }
          .foldLeft(lit(true))(_ && _), lit(i.toLong))
      }
      byZone(Tables.locations(spark, sfDir).withColumn("asdf_id", col("cell_id") % Zones)
        .withColumn("__sel", explode(array(tags: _*))).filter(col("__sel").isNotNull)
        .withColumn("alloc", col("amount") / count(lit(1)).over(Window.partitionBy("__sel", "project_id")))
        .groupBy("__sel", "asdf_id").agg(sum("alloc").as("sum"), sum("amount").as("potential"))
        .withColumn("reliability", col("sum") / col("potential")), "__sel")
    }
    val releaseIdx = releases.zipWithIndex.toMap
    sels.map {
      case r: Raster => r -> byYear.getOrElse(r.year.toLong, Map.empty)
      case r: Release => r -> byRelease.getOrElse(releaseIdx(r).toLong, Map.empty)
    }.toMap
  }
}
