package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.ops._
import graft.ops.HashKey._

/** The request lifecycle (SURVEY.md §3.1), rebuilt as one Spark job DAG:
  * request → check (normalize filters → descriptor hash → cache probe) →
  * compute missing extracts (memoized) → wide merge into a cache entry.
  *
  * The reference splits this across cron passes and external worker fleets
  * (`queue/processing.py:137-216`); here the "workers" are the extract/msr
  * operators themselves, and the [[Cache]] layer provides the same
  * content-addressed reuse across requests (§4) — the engine's signature
  * workload-level optimization.
  *
  * Scale: requests are small metadata; per-request planning is driver-side
  * over a handful of selections, while all data movement (extracts, merge)
  * stays distributed. No collect touches pixel-scale data.
  */
final class Pipeline(
    spark: SparkSession,
    cache: Cache,
    msrVersion: String = "0.1",
    msrResolution: Double = 0.05,
    // dataset-catalog stand-in: the reference reads each raster's class
    // list from `asdf.data` metadata (`queue/extract_check.py:27-52`);
    // offline it surfaces as config — a raster with a different class
    // domain (land-cover codes, …) passes its own list, instead of the
    // pivot silently zeroing every unlisted class
    categoricalClasses: Seq[String] = Seq("A", "N", "R")) {

  /** The msr descriptor the reference hashes
    * (`queue/request_tools.py:371-383`). */
  def msrDescriptor(sel: ReleaseSelection): JVal = JObj(Seq(
    "dataset" -> JStr(sel.dataset),
    "type" -> JStr("release"),
    "resolution" -> JFloat(msrResolution),
    "version" -> JStr(msrVersion),
    "filters" -> JObj(
      Msr.normalizeFilters(sel.filters).toSeq
        .map { case (k, vs) => k -> JArr(vs.map(JStr(_))) })))

  /** Q4 hash write-back with the reference's guard: only absent-or-unchanged
    * hashes are (re)written (`queue/request_tools.py:386-390`); pass
    * `rehash=true` for the documented escape hatch (SURVEY.md §7.5.4). */
  def writeBackHash(sel: ReleaseSelection, rehash: Boolean = false): ReleaseSelection = {
    val h = keyOf(msrDescriptor(sel))
    if (rehash || sel.hash.isEmpty || sel.hash.contains(h)) sel.copy(hash = Some(h))
    else sel
  }

  /** check_request (`queue/request_tools.py:334-508`): derive every work
    * item for a request. Release selections → one msr item each (method per
    * F12: worldbank → sum, else reliability); raster selections →
    * files × extract_types items (F18). */
  def checkRequest(req: Request): Seq[WorkItem] = {
    val msrItems = req.release_data.map { sel0 =>
      val sel = writeBackHash(sel0)
      val h = sel.hash.get
      val method =
        if (sel.dataset.startsWith("worldbank")) "sum" else "reliability"
      // the msr surface hash `h` identifies the boundary-FREE surface (and
      // names the output columns via hash7); the cacheable zonal extract is
      // additionally keyed by boundary, mirroring the reference's separate
      // ExtractItem key (`queue/request_tools.py:436-441`) — without it, two
      // boundaries sharing a selection would share one cached zonal result
      val extractKey = keyOf(JObj(Seq(
        "boundary" -> JStr(req.boundary.name),
        "data" -> JStr(s"${sel.dataset}_$h"),
        "extract_type" -> JStr(method),
        "version" -> JStr(msrVersion))))
      WorkItem(req.id, sel.dataset, "release", Naming.hash7(h), method,
        extractKey, Msr.normalizeFilters(sel.filters))
    }
    val rasterItems = for {
      r <- req.raster_data
      f <- r.files
      t <- r.extract_types
    } yield {
      // reference shape: temporal = last underscore segment of the file
      // name (`queue/documentation_tool.py:296,320`); only an all-digit
      // segment is a usable year — anything else (version suffixes,
      // underscore-free names, literal "none") means no temporal slice,
      // rather than a NumberFormatException sinking the whole request
      val temporal = f.name.split("_").last match {
        case t if t.nonEmpty && t != f.name && t.forall(_.isDigit) => t
        case _ => "none"
      }
      val key = keyOf(JObj(Seq(
        "boundary" -> JStr(req.boundary.name),
        "data" -> JStr(f.name),
        "extract_type" -> JStr(t),
        "version" -> JStr(msrVersion))))
      WorkItem(req.id, r.name, "raster", temporal, t, key)
    }
    msrItems ++ rasterItems
  }

  /** Which items still need computing — this is the dry run: it counts
    * the missing items and computes nothing, as the reference's dry-run
    * mode does (`queue/processing.py:85,213-215`). One artifact probe per
    * item, as the reference's J4 checks each item
    * (`queue/extract_check.py:104`). Per-request item counts are bounded
    * (selections × methods). */
  def misses(items: Seq[WorkItem]): Seq[WorkItem] =
    items.filterNot(i => cache.probe(i.key))

  /** Materialize one work item from the pixels/locations relations —
    * the in-engine replacement for the external worker fleets. */
  def compute(item: WorkItem, pixels: DataFrame, locations: DataFrame): DataFrame =
    cache.getOrCompute(item.key) {
      item.kind match {
        case "release" =>
          // A12 order (`queue/request_tools.py:362-383`): the selection's
          // normalized filter algebra (P1-P4) shapes the point set FIRST,
          // and the even-split allocation derives AFTER filtering (W1:
          // amount / surviving locations per project) — a filter that
          // removes a project's locations re-concentrates its value on the
          // survivors, exactly like the reference msr job. A pre-allocated
          // frame (no project column) is trusted as-is.
          val filtered = Msr.applyFilters(locations, item.filters)
          val alloced =
            if (filtered.columns.contains("project_id"))
              filtered.withColumn("alloc", col("amount") /
                count(lit(1)).over(org.apache.spark.sql.expressions.Window
                  .partitionBy(col("project_id"))))
            else filtered
          // method-aware (F12): worldbank selections materialize the
          // sum-only artifact their cache key declares; everything else
          // the sum/potential/reliability triple
          if (item.method == "sum")
            Extracts.extract(alloced, "sum", zone = "asdf_id", value = "alloc")
          else
            Extracts.extract(alloced, "reliability",
              zone = "asdf_id", value = "alloc", weight = "amount")
        case _ =>
          val slice =
            if (item.temporal == "none") pixels
            else pixels.filter(col("temporal") === item.temporal.toInt)
          Extracts.extract(slice, item.method,
            classes = categoricalClasses)
      }
    }

  /** build_output (`queue/request_tools.py:516-613`): compute/reuse every
    * extract, rename through the [[Naming]] grammar, wide-merge onto the
    * boundary attribute frame, reorder. Returns the location of the
    * merged result's cache entry (filled, so the result is on disk) plus
    * the request echo (S6 analog).
    *
    * The MERGED result is itself content-addressed (round-14): the key is
    * the ordered item-key list (each already content-addresses boundary ×
    * data × method × version) plus the base frame's column set — two
    * requests selecting the same work get ONE merge computation and every
    * later one a plain parquet read, and the probe runs BEFORE any
    * per-item plan construction, so a duplicate-work request costs a hash
    * + one scan instead of N joins' analysis (the dominant term of the
    * measured per-request floor). Same staleness contract as the extract
    * cache underneath: keys assume the source relations for a given
    * `msrVersion` are stable per work dir — reprocessing changed data is
    * a version bump, exactly like the reference
    * (`queue/extract_check.py:92-98`). */
  def buildOutput(req: Request, base: DataFrame, pixels: DataFrame,
      locations: DataFrame): (String, String) = {
    val items = checkRequest(req)
    // item order is part of the key — it determines output column order
    val mergeKey = keyOf(JObj(Seq(
      "boundary" -> JStr(req.boundary.name),
      "version" -> JStr(msrVersion),
      "base_cols" -> JArr(base.columns.toSeq.map(JStr(_))),
      "items" -> JArr(items.map(i =>
        JStr(s"${i.key}:${i.dataset}:${i.temporal}:${i.method}"))))))
    def mergedFresh: DataFrame = {
      val frames = items.map { item =>
        val df = compute(item, pixels, locations)
        item.kind match {
          case "release" =>
            val cols = Naming.msrMethods(item.dataset)
            df.select(col("asdf_id") +: cols.map(m =>
              col(m).as(Naming.col(item.dataset, item.temporal, m))): _*)
          case _ =>
            if (item.method == "categorical") {
              val cls = df.columns.filter(_.startsWith("categorical_"))
              df.select(col("asdf_id") +: cls.toSeq.map(c =>
                col(c).as(Naming.col(item.dataset, item.temporal, c))): _*)
            } else
              df.select(col("asdf_id"),
                col(item.method).as(Naming.col(item.dataset, item.temporal, item.method)))
        }
      }
      // P7 (`queue/request_tools.py:649-656`): strip any pre-existing
      // exfield_* columns from the base frame before merging, so stale
      // extract columns from a prior run can neither survive into the
      // passthrough section nor collide with newly generated names
      Merge.wide(Merge.dropExFields(base), frames)
    }
    // coalesce(1) on the FILL: merged results are |zones| rows (every
    // side is pre-aggregated), and a single-file artifact is what keeps
    // the read-back row order identical to the fresh merge — the CSV
    // byte-golden contract rides on it (multi-part parquet read-back
    // returns partitions in file order, not write order). Same
    // single-file assumption Artifacts.writeCsv already makes.
    val entry = cache.fill(s"merge_$mergeKey")(mergedFresh.coalesce(1))
    val echo = render(toJVal(Map(
      "id" -> req.id,
      "boundary" -> req.boundary.name,
      "datasets" -> (req.release_data.map(_.dataset) ++ req.raster_data.map(_.name)))))
    (entry, echo)
  }

  /** The requests a tick drains, in priority order: new (-1) and
    * waiting (0) ones, highest priority first, then earliest submit. */
  def drainOrder(queue: Seq[Request]): Seq[Request] = queue
    .filter(r => r.status == -1 || r.status == 0)
    .sortBy(r => (-r.priority, r.stage.find(_.name == "submit").map(_.time).getOrElse(0L)))

  /** Process one request end-to-end. Returns its status and its merged
    * result's cache entry: 1 complete, -2 error — the reference's error
    * branch marks failed requests -2 rather than aborting the batch
    * (`queue/processing.py:164-167,188-194`). The merge fill is eager, so
    * status 1 means the merged result is on disk at the returned
    * location; a -2 request's location is empty, and a failure's cause
    * is logged ([[Pipeline.logFailure]]). */
  def process(req: Request, base: DataFrame, pixels: DataFrame,
      locations: DataFrame): (Int, String) = {
    val valid = req.boundary != null && req.boundary.name.nonEmpty &&
      (req.release_data.nonEmpty || req.raster_data.nonEmpty)
    if (!valid) (-2, "")
    else try (1, buildOutput(req, base, pixels, locations)._1)
    catch {
      case scala.util.control.NonFatal(e) =>
        Pipeline.logFailure(req.id, e)
        (-2, "")
    }
  }
}

object Pipeline {
  /** A request that ends at -2 names its cause on stderr, so a cron
    * pass's log says why it failed. */
  def logFailure(id: String, e: Throwable): Unit =
    System.err.println(s"request $id failed: ${e.getClass.getName}: ${e.getMessage}")

  /** `run` over every item, with up to the session's default parallelism
    * (N under `local[N]`) running at once; results come back in `items`'
    * order. A cold request is mostly driver latency and one-task jobs,
    * so overlapping requests is what shortens a tick. The threads are
    * created here, by the calling thread, so each inherits its Spark
    * local properties (job group, scheduler pool, callers' tags); they
    * are named `graft-tick-<n>`, are daemons, and none outlives the call.
    * One item, or a parallelism of one, runs on the calling thread. */
  def inFlight[A, B](spark: SparkSession, items: Seq[A])(run: A => B): Seq[B] = {
    val width = math.min(spark.sparkContext.defaultParallelism, items.size)
    if (width <= 1) items.map(run)
    else {
      val n = new AtomicInteger
      val pool = Executors.newFixedThreadPool(width, { (r: Runnable) =>
        val t = new Thread(r, s"graft-tick-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
      try {
        val running = items.map(a => pool.submit(new Callable[B] { def call(): B = run(a) }))
        try running.map(_.get)
        catch { case e: ExecutionException => throw e.getCause }
      } finally {
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }
  }
}
