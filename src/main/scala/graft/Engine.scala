package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model._
import graft.ops.{Artifacts, Cache, Fs, StateTable}
import org.apache.spark.sql.functions._

/** The engine facade — the reference's cron driver
  * (`queue/processing.py:113-221`) as a library API. A user of the
  * reference maps directly: submit a request document, tick the queue (one
  * cron pass), fetch results/artifacts; every underlying capability
  * (extract catalog, msr, merge grammar, memoized cache, state machine) is
  * also available à la carte through the `ops` / `streaming` / `functions`
  * packages.
  *
  * State: requests live in ONE versioned [[StateTable]] (the `asdf.det`
  * stand-in) whose body `status` column is the queue state; completed
  * work lives in the content-addressed [[Cache]].
  */
final class Engine(val spark: SparkSession, workDir: String) {

  /** The engine's working root (artifacts live under `<workRoot>/out/<id>`). */
  val workRoot: String = workDir
  require(!java.nio.file.Files.exists(java.nio.file.Paths.get(workDir, "state")),
    s"$workDir/state is a queue-state table from an older layout that kept " +
      "request status apart from the request bodies; drain it with the " +
      "previous build or use a new work dir")
  val cache = new Cache(spark, s"$workDir/cache")
  val pipeline = new Pipeline(spark, cache)
  /** Durable request documents (the `asdf.det` body store): full typed
    * [[Request]] rows in a versioned state table, so a restarted engine
    * still holds every submitted body. The row's own `status` is the
    * queue state, updated in place like the reference's `$set`
    * (`queue/request_tools.py:150-190`); one row per request means one
    * atomic append per submit batch, with no second table to reconcile. */
  private val requests = new StateTable(spark, s"$workDir/requests", Seq("id"))
  private val outDir = s"$workDir/out"

  import spark.implicits._

  private def now(): Long = System.currentTimeMillis() / 1000

  /** Submit (status -1 "new", submit stage stamped —
    * `queue/request_tools.py:153-161`). Idempotent on id — the request
    * store keeps the first body. */
  def submit(req: Request): String = { submitAll(Seq(req)); req.id }

  /** Batch submit: ONE request-store delta append for the whole batch —
    * O(batch), not O(live): a snapshot MERGE per submit rewrites the live
    * queue every time (measured ~1.2 s per +1k batch against a 10⁵-row
    * live queue, DriveQueueScale r13 — the lifecycle's one
    * super-linear-in-live write). The deltas merge
    * into every read immediately (snapshot wins on key overlap — the
    * same insert-only MERGE semantics) and fold into the snapshot at the
    * next tick's commit. */
  def submitAll(reqs: Seq[Request]): Seq[String] = {
    if (reqs.isEmpty) return Seq.empty
    val ts = now()
    val stamped = reqs.map(r =>
      r.copy(status = -1, stage = Seq(StageTime("submit", ts))))
    // MERGE sources must be key-unique: keep the first body per id
    val unique = stamped.groupBy(_.id).map(_._2.head).toSeq
    // idempotence must span the ARCHIVE too: the store's MERGE
    // existing-wins rule only sees live rows, so without this anti-join a
    // re-submitted id whose row was compacted to the archive would
    // re-enter the queue as new and reprocess — the reference's
    // find-then-insert runs against the full collection, which never
    // forgets a completed id
    val fresh = requests.archive() match {
      case Some(arch) =>
        val archived = unique.map(_.id).toDF("id")
          .join(arch.select(col("id")), Seq("id"), "left_semi")
          .collect().map(_.getString(0)).toSet
        unique.filterNot(r => archived.contains(r.id))
      case None => unique
    }
    if (fresh.nonEmpty) {
      // `fresh` is key-unique (grouped above) — appendDelta's contract;
      // cross-batch re-submits resolve earliest-wins at read time, the
      // same first-body-kept semantics the snapshot MERGE gave. No
      // version commits here, so no per-submit vacuum: versions only
      // move at tick time, where the deltas fold and vacuum runs.
      requests.appendDelta(fresh.toDS().toDF())
    }
    reqs.map(_.id)
  }

  /** Status lookup spans live + archived rows: a compacted (terminal)
    * request still answers with its final status. */
  def status(id: String): Option[Int] =
    requests.readAll().flatMap(df =>
      df.filter(col("id") === id).select("status")
        .collect().headOption.map(_.getInt(0)))

  /** Per-request artifact write — the fallback/singleton path (the
    * batched path below covers groups): results parquet + display-named
    * CSV + JSON echo, fault-contained to this request. */
  private def writeSingle(id: String, result: DataFrame): Int =
    try {
      result.write.mode("overwrite").parquet(s"$outDir/$id/results")
      Artifacts.writeCsv(result, s"$outDir/$id/results_csv")
      new java.io.File(s"$outDir/$id").mkdirs()
      Artifacts.writeRequestJson(
        Map("id" -> id, "complete_time" -> now()), s"$outDir/$id/request.json")
      1
    } catch { case scala.util.control.NonFatal(e) =>
      Pipeline.logFailure(id, e)
      // a failure AFTER the results-parquet commit (CSV/JSON write)
      // must not leave a -2 request serving a complete-looking
      // result: results() keys on _SUCCESS, so drop the marker
      new java.io.File(s"$outDir/$id/results/_SUCCESS").delete()
      -2
    }

  /** Batched artifact writer (round-13 verdict #3): ONE partitioned write
    * per artifact KIND for a whole same-schema group of completed
    * requests — 2 Spark jobs per group instead of 2 per request. The
    * per-request job-launch floor dominated the processing leg at small
    * request sizes (348 ms/request at n=2000, DriveQueueScale r13).
    * Files split per request at the FILESYSTEM edge: each staging
    * partition dir `__req_id=<id>` renames to the request's artifact
    * path and gets the `_SUCCESS` marker [[results]] requires. Row order
    * inside each request's artifact is preserved by a pre-shuffle
    * ordinal (`monotonically_increasing_id` stamped before the
    * `__req_id` repartition, restored by the in-partition sort) so the
    * byte-golden CSV contract holds. Fault containment: a batch failure
    * falls back to [[writeSingle]] per member, which demotes
    * individually — exactly the old granularity. */
  private def writeGroup(group: Seq[(String, DataFrame)]): Seq[(String, Int)] =
    try {
      val ids = group.map(_._1)
      require(ids.forall(id => !id.contains("/") && !id.contains("=") &&
        !id.contains("%")), "request id unsafe as a partition value")
      def tag(df: DataFrame, id: String) = df
        .withColumn("__ord", monotonically_increasing_id())
        .withColumn("__req_id", lit(id))
      // BALANCED union tree, not a left fold: Dataset construction runs
      // the analyzer eagerly, so folding N members analyzes plans of
      // size 1..N — O(N²) analyzer work that dominates the per-request
      // floor at hundreds of members. A tree analyzes O(N log N).
      def unionTree(fs: Seq[DataFrame]): DataFrame =
        if (fs.size == 1) fs.head
        else unionTree(fs.grouped(8).map(_.reduce(_ unionByName _)).toSeq)
      def shape(frames: Seq[DataFrame]) = unionTree(frames)
        .repartition(col("__req_id"))
        .sortWithinPartitions(col("__req_id"), col("__ord"))
        .drop("__ord")
      val stagingP = java.nio.file.Files.createTempDirectory("graft_artp")
      shape(group.map { case (id, df) => tag(df, id) })
        .write.mode("overwrite").partitionBy("__req_id")
        .parquet(stagingP.toString)
      // CSV kind from the STAGED parquet — one scan of what the parquet
      // job already computed, not a second computation of every member
      // merge (and ONE displayNames rename pass instead of one per
      // member — withColumnRenamed re-analyzes the plan each call, which
      // at hundreds of requests per tick was pure driver burn). Row
      // order: each staged file was written in artifact order and packed
      // read splits keep per-file rows contiguous, so the promoted CSV
      // preserves the byte-golden order; a request keeps ONE csv file
      // while its artifact fits one read split — the same |zones|-rows
      // assumption writeSingle's coalesce(1) makes. __req_id (a
      // partition column on the read side) must NOT pass through the
      // dotted-name grammar.
      val back = spark.read.option("basePath", stagingP.toString)
        .parquet(stagingP.toString)
      val stagingC = java.nio.file.Files.createTempDirectory("graft_artc")
      back.columns.filterNot(_ == "__req_id")
        .foldLeft(back)((d2, c) => d2.withColumnRenamed(c, ops.Naming.display(c)))
        .write.mode("overwrite").partitionBy("__req_id")
        .option("header", "true").option("nullValue", "")
        .csv(stagingC.toString)
      val res = group.map { case (id, df) =>
        val pSrc = stagingP.resolve(s"__req_id=$id")
        val cSrc = stagingC.resolve(s"__req_id=$id")
        // an EMPTY result writes no partition dir — the per-request path
        // materializes the empty artifact correctly. A MULTI-PART csv
        // (artifact larger than one read split, so the staged re-read
        // split it) would break the one-file byte-golden contract — each
        // part carries its own header and inter-part order is unpinned —
        // so oversized members demote to writeSingle's coalesce(1) too
        // (round-14 advisor finding).
        def csvParts(p: java.nio.file.Path): Long = {
          val s = java.nio.file.Files.list(p)
          try s.filter(f => f.getFileName.toString.startsWith("part-")).count()
          finally s.close()
        }
        if (!java.nio.file.Files.exists(pSrc) ||
            !java.nio.file.Files.exists(cSrc) ||
            csvParts(cSrc) != 1L) id -> writeSingle(id, df)
        else try {
          val pDst = java.nio.file.Paths.get(s"$outDir/$id/results")
          val cDst = java.nio.file.Paths.get(s"$outDir/$id/results_csv")
          java.nio.file.Files.createDirectories(pDst.getParent)
          Fs.deleteTree(pDst); Fs.deleteTree(cDst)
          java.nio.file.Files.move(pSrc, pDst)
          java.nio.file.Files.createFile(pDst.resolve("_SUCCESS"))
          java.nio.file.Files.move(cSrc, cDst)
          java.nio.file.Files.createFile(cDst.resolve("_SUCCESS"))
          Artifacts.writeRequestJson(
            Map("id" -> id, "complete_time" -> now()), s"$outDir/$id/request.json")
          id -> 1
        } catch { case scala.util.control.NonFatal(e) =>
          Pipeline.logFailure(id, e)
          new java.io.File(s"$outDir/$id/results/_SUCCESS").delete()
          id -> -2
        }
      }
      Fs.deleteTree(stagingP); Fs.deleteTree(stagingC)
      res
    } catch { case scala.util.control.NonFatal(_) =>
      // plan/analysis/write failure anywhere in the batch: retry each
      // member alone so one poisoned result can't sink its neighbors
      group.map { case (id, df) => id -> writeSingle(id, df) }
    }

  /** Write artifacts for all completed requests of a tick: group by
    * result schema (requests select different columns — only identical
    * schemas can share one partitioned write), cap group size so a
    * union plan never grows unbounded, singletons take the direct path. */
  private def writeArtifacts(done: Seq[(String, DataFrame)]): Map[String, Int] =
    done.groupBy(_._2.schema).toSeq.flatMap { case (_, members) =>
      members.grouped(256).flatMap { g =>
        if (g.size == 1) g.map { case (id, df) => id -> writeSingle(id, df) }
        else writeGroup(g)
      }
    }.toMap

  /** One cron pass: drain new/waiting requests in priority order, process
    * each end-to-end, persist results + status transitions (1 complete /
    * -2 error), write the CSV + JSON echo artifacts (batched per artifact
    * kind — see [[writeGroup]]). One request-store read up front and ONE
    * status commit per tick; artifact writes are per-request
    * fault-contained (the result DataFrame is lazy — a runtime failure
    * surfaces at write time, not in Pipeline.tick's plan-time catch, and
    * must demote that request to -2 without aborting the batch). */
  def tick(base: DataFrame, pixels: DataFrame, locations: DataFrame): Map[String, Int] = {
    // only pending work reaches the driver, and only per tick: the status
    // predicate is pushed into the request-store scan — the driver heap
    // holds the live queue head, never the full (ever-growing) request
    // history. Bodies are durable in the request store; holding them in a
    // process-lifetime map would pin a multi-million-request backlog on
    // the driver for no reason. Drain order (stage[0] stamp, then id)
    // matches what a restarted engine reloads.
    val pending: Seq[Request] = requests.read().toSeq.flatMap(
      _.filter(col("status").isin(-1, 0)).as[Request].collect()
        .sortBy(r => (r.stage.headOption.map(_.time).getOrElse(0L), r.id)))
    val ticked = pipeline.tick(pending, base, pixels, locations)
    val written = writeArtifacts(ticked.collect { case (id, 1, r) => (id, r) })
    val outcomes = ticked.map {
      case (id, 1, _) => id -> written(id)
      case (id, st, _) => id -> st
    }
    if (outcomes.nonEmpty) {
      val oDF = outcomes.toDF("id", "new_status")
      // anything pending was read from the table, so it exists and the
      // update commits a version; the select keeps the body column order
      requests.update(df => df.join(oDF, Seq("id"), "left")
        .withColumn("status", coalesce(col("new_status"), col("status")))
        .select(df.columns.map(col).toSeq: _*))
    }
    // terminal-state compaction: finished rows (1 complete / -2 error)
    // leave the live table for the append-only archive, so the per-tick
    // pending scan stays bounded by LIVE work even after millions of
    // completed requests. vacuum bounds versions (the drain commits them
    // too); compact bounds rows; status()/history stay served via
    // readAll(). consolidateArchive bounds the archive DIRECTORY count (one
    // batch lands per compacting tick): submit idempotence scans the
    // archive, and a months-old engine would otherwise pay a
    // thousands-of-tiny-dirs multi-path scan on the submit path.
    requests.compact(_.filter(col("status").isin(1, -2)))
    requests.vacuum(keep = 4)
    requests.consolidateArchive()
    outcomes.toMap
  }

  /** Completed merged result for a request, if any. Requires the write
    * marker — a crashed artifact write leaves a directory but no _SUCCESS,
    * and must not surface a torn result against a -2 status. */
  def results(id: String): Option[DataFrame] = {
    val p = s"$outDir/$id/results"
    if (new java.io.File(s"$p/_SUCCESS").exists()) Some(spark.read.parquet(p))
    else None
  }

  /** Bundle a completed request's artifacts (S9). */
  def bundle(id: String, zipPath: String): Unit =
    Artifacts.zipDir(s"$outDir/$id", zipPath)
}
