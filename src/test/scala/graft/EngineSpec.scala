package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.model._

class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def newEngine() = new Engine(spark, Files.createTempDirectory("graft_engine").toString)

  val request = Request(
    id = "req-1",
    boundary = Boundary("nga_adm0_gadm28"),
    release_data = Seq(ReleaseSelection(dataset = "nigeriaaims",
      filters = Map("donors" -> Seq("AFDB")))),
    raster_data = Seq(RasterSelection(name = "udel",
      extract_types = Seq("mean"), files = Seq(RasterFile("udel_1998")))))

  /** Session-catalog tables that belong to the cache under `workDir`. */
  def cacheTables(workDir: String): Seq[String] = {
    val tag = graft.ops.HashKey.sha1Hex(s"$workDir/cache").take(8)
    spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(_.startsWith(s"graft_cache_$tag"))
  }

  def base = Seq((1, "A"), (2, "B")).toDF("asdf_id", "name")
  def pixels = Seq((1, 10.0, 1.0, "A", 1998), (2, 6.0, 2.0, "R", 1998))
    .toDF("asdf_id", "value", "weight", "cls", "temporal")
  def locations = Seq((1, 40.0, 100.0, "AFDB"), (2, 60.0, 100.0, "AFDB"))
    .toDF("asdf_id", "alloc", "amount", "donors")

  test("submit -> tick -> results lifecycle with status machine") {
    val e = newEngine()
    e.submit(request)
    assert(e.status("req-1").contains(-1))
    val outcomes = e.tick(base, pixels, locations)
    assert(outcomes == Map("req-1" -> 1))
    assert(e.status("req-1").contains(1))
    val r = e.results("req-1").get
    assert(r.count() == 2)
    assert(r.columns.exists(_.startsWith("udel__1998__mean")))
  }

  /** The bytes of the one CSV file in `dir`. */
  def oneCsv(dir: java.io.File): String = {
    assert(dir.isDirectory, s"$dir is missing")
    val f = dir.listFiles().filter(_.getName.endsWith(".csv"))
    assert(f.length == 1, s"expected ONE csv file in $dir, got ${f.length}")
    new String(Files.readAllBytes(f.head.toPath))
  }

  /** Name -> bytes of the parquet part files in `dir`. */
  def parquetParts(dir: java.io.File): Map[String, Seq[Byte]] =
    dir.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet"))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("requests sharing one merged result get byte-identical artifacts " +
    "from one CSV write") {
    // the merged result is one cache entry; its CSV rendering is written
    // once, into the entry's `_csv/`, and every request's artifacts are
    // copies of the entry's files, not rewrites of its rows
    val e = newEngine()
    val ids = (0 until 5).map(i => f"req-b$i")
    ids.foreach(i => e.submit(request.copy(id = i)))
    spark.sparkContext.setJobGroup("shared_merge", "tick", false)
    val out =
      try e.tick(base, pixels, locations)
      finally spark.sparkContext.clearJobGroup()
    assert(out == ids.map(_ -> 1).toMap)
    val tracker = spark.sparkContext.statusTracker
    val csvJobs = tracker.getJobIdsForGroup("shared_merge").count { j =>
      tracker.getJobInfo(j).exists(_.stageIds().exists(st =>
        tracker.getStageInfo(st).exists(_.name().startsWith("csv at "))))
    }
    assert(csvJobs == 1, s"expected one CSV write for the tick, saw $csvJobs")
    val merges = new java.io.File(e.workRoot + "/cache/v1").listFiles()
      .filter(_.getName.startsWith("merge_"))
    assert(merges.length == 1, "the five requests must share one merge entry")
    val entry = merges.head
    val csv = oneCsv(new java.io.File(entry, "_csv"))
    val parts = parquetParts(entry)
    assert(parts.nonEmpty)
    ids.foreach { id =>
      assert(e.results(id).get.count() == 2, s"$id results wrong")
      assert(oneCsv(new java.io.File(e.workRoot + s"/out/$id/results_csv")) == csv,
        s"$id CSV bytes differ from the merge entry's")
      assert(parquetParts(new java.io.File(e.workRoot + s"/out/$id/results")) == parts,
        s"$id results parquet is not a copy of the merge entry's")
    }
  }

  test("a result spanning several read splits still gives one CSV file, " +
    "one header, rows in the results parquet's order") {
    // tiny parquet row groups (the merge fill) + tiny maxPartitionBytes
    // (the CSV rendering's read) make a 4000-zone result read back as
    // several tasks; the rendering must still be one headered file whose
    // rows follow the results parquet
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = Option(hc.get("parquet.block.size"))
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      hc.setInt("parquet.block.size", 4096)
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val bigBase = (1 to 4000).map(i => (i, s"zone-$i")).toDF("asdf_id", "name")
      val bigPixels = (1 to 4000).map(i =>
        (i, (i % 17).toDouble, 1.0, "A", 1998)).toDF(
        "asdf_id", "value", "weight", "cls", "temporal")
      val e = newEngine()
      val ids = Seq("req-m0", "req-m1")
      ids.foreach(i => e.submit(request.copy(id = i)))
      assert(e.tick(bigBase, bigPixels, locations) == ids.map(_ -> 1).toMap)
      ids.foreach { id =>
        val results = e.results(id).get
        // non-vacuity: under these confs this result really is >1 split
        val splits = results.rdd.getNumPartitions
        assert(splits > 1, s"fixture too small to force a split (got $splits)")
        val lines = oneCsv(new java.io.File(e.workRoot + s"/out/$id/results_csv"))
          .linesIterator.toSeq
        assert(lines.count(_ == lines.head) == 1,
          "the csv must carry exactly one header line")
        val order = results.select("asdf_id").collect().map(_.getInt(0)).toSeq
        assert(order.size == 4000)
        assert(lines.tail.map(_.takeWhile(_ != ',').toInt) == order,
          s"$id CSV rows are not in the results parquet's order")
      }
    } finally {
      prevBlock match {
        case Some(v) => hc.set("parquet.block.size", v)
        case None => hc.unset("parquet.block.size")
      }
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
    }
  }

  /** What the session did while `body` ran: the jobs it started, the
    * most queries with a job running at once, and every file-source
    * write as (output path, format). Jobs count per query (their root
    * SQL execution, or the job itself outside one) because adaptive
    * execution runs one query's stages as concurrent jobs. */
  final case class Seen(jobs: Int, peakQueries: Int, writes: Seq[(String, String)])

  def observe[T](body: => T): (T, Seen) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val writeL = new QueryExecutionListener {
      def record(qe: QueryExecution): Unit = qe.analyzed.foreach {
        case c: InsertIntoHadoopFsRelationCommand =>
          writes.add(c.outputPath.toUri.getPath -> c.fileFormat.toString): Unit
        case _ => ()
      }
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    val jobL = new SparkListener {
      val running = scala.collection.mutable.Map.empty[Int, String] // job -> query
      var started, peak = 0
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        started += 1
        running(e.jobId) = prop("spark.sql.execution.root.id")
          .orElse(prop("spark.sql.execution.id")).getOrElse(s"job-${e.jobId}")
        peak = math.max(peak, running.values.toSet.size)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { running -= e.jobId }
    }
    spark.listenerManager.register(writeL)
    sc.addSparkListener(jobL)
    try {
      val out = body
      org.apache.spark.TestBus.drain(sc)
      (out, jobL.synchronized(Seen(jobL.started, jobL.peak,
        writes.toArray(Array.empty[(String, String)]).toSeq)))
    } finally {
      sc.removeSparkListener(jobL)
      spark.listenerManager.unregister(writeL)
    }
  }

  /** `body` with stderr discarded (failing requests log their cause). */
  def quiet[T](body: => T): T = {
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(new java.io.ByteArrayOutputStream(), true))
    try body finally System.setErr(prevErr)
  }

  /** Bytes of each `part-*<suffix>` file in `dir`, in name order (part
    * names carry a per-write id, so the bytes are what compare). */
  def partBytes(dir: String, suffix: String): Seq[Seq[Byte]] =
    new java.io.File(dir).listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(suffix)).sortBy(_.getName)
      .map(f => Files.readAllBytes(f.toPath).toSeq).toSeq

  test("one tick runs its requests at once, one fill per cache key, with the " +
    "artifacts of a tick that runs them one by one") {
    def udel(files: Seq[String], methods: String*) =
      RasterSelection("udel", methods, files.map(RasterFile(_)))
    val afdb = ReleaseSelection("nigeriaaims", filters = Map("donors" -> Seq("AFDB")))
    val all = ReleaseSelection("nigeriaaims")
    def req(id: String, rel: Seq[ReleaseSelection], ras: RasterSelection*) =
      Request(id = id, boundary = Boundary("nga_adm0_gadm28"),
        release_data = rel, raster_data = ras)
    // started in id order, up to four at once: c-0 and c-1 share a whole
    // merged result, and most requests share work items with another
    val reqs = Seq(
      req("c-0", Seq(afdb), udel(Seq("udel_1998"), "mean")),
      req("c-1", Seq(afdb), udel(Seq("udel_1998"), "mean")),
      req("c-2", Nil, udel(Seq("udel_1998"), "mean", "max")),
      req("c-3", Seq(all), udel(Seq("udel_1998"), "max")),
      req("c-4", Seq(afdb), udel(Seq("udel_1998"), "nope")), // fails at plan time
      req("c-5", Seq(afdb, all)),
      req("c-6", Nil, udel(Seq("udel"), "min", "sum")),
      req("c-7", Seq(all), udel(Seq("udel_1998", "udel"), "median")),
      req("c-8", Nil, udel(Seq("udel_1998"), "max", "mean")))
    val expected = reqs.map(r => r.id -> (if (r.id == "c-4") -2 else 1)).toMap
    val e = newEngine()
    e.submitAll(reqs)
    val (out, seen) = observe(quiet(e.tick(base, pixels, locations)))
    assert(out == expected)
    assert(seen.peakQueries >= 2,
      s"the tick never ran two queries' jobs at once (peak ${seen.peakQueries})")
    // every cache entry was written once, by one parquet write, and each
    // merged result's CSV rendering by one CSV write
    val cacheRoot = s"${e.workRoot}/cache/v1/"
    val entries = new java.io.File(cacheRoot).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("_")).map(_.getName).toSeq
    val cacheWrites = seen.writes.collect {
      case (path, format) if path.startsWith(cacheRoot) => path.stripPrefix(cacheRoot) -> format
    }
    val parquet = cacheWrites.filter(_._2 == "Parquet").map(_._1)
    val csv = cacheWrites.filter(_._2 == "CSV").map(_._1)
    assert(parquet.sorted == entries.sorted,
      s"cache entries and parquet writes differ: ${parquet.diff(parquet.distinct)}")
    assert(csv.sorted == entries.filter(_.startsWith("merge_")).map(_ + "/_csv").sorted,
      s"merged results and CSV writes differ: $csv")
    assert(entries.count(_.startsWith("merge_")) == expected.count(_._2 == 1) - 1,
      "c-0 and c-1 must share one merged result")
    // the same requests ticked one per tick give the same artifacts
    val serial = newEngine()
    quiet(reqs.foreach { r =>
      serial.submit(r)
      assert(serial.tick(base, pixels, locations) == Map(r.id -> expected(r.id)))
    })
    expected.foreach {
      case (id, 1) =>
        Seq("results" -> ".parquet", "results_csv" -> ".csv").foreach { case (sub, suffix) =>
          val got = partBytes(s"${e.workRoot}/out/$id/$sub", suffix)
          assert(got.nonEmpty, s"$id has no $sub")
          assert(got == partBytes(s"${serial.workRoot}/out/$id/$sub", suffix),
            s"$id $sub differs from the one-request-per-tick engine's")
        }
      case (id, _) => assert(e.results(id).isEmpty, s"failed $id has results")
    }
  }

  test("no graft-tick thread outlives a tick, whether a request throws or not") {
    import scala.jdk.CollectionConverters._
    def tickThreads() = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("graft-tick-"))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var sampling = true
    val sampler = new Thread(() => while (sampling) {
      tickThreads().foreach(t => seen.add(t.getName))
      Thread.sleep(2)
    })
    sampler.setDaemon(true)
    sampler.start()
    try {
      // a request that throws inside the tick ends at -2 ...
      val e = newEngine()
      val broken = request.copy(id = "t-x", raster_data = Seq(RasterSelection(
        name = "x", extract_types = Seq("nope"), files = Seq(RasterFile("x_1998")))))
      e.submitAll(Seq(request.copy(id = "t-0"), broken, request.copy(id = "t-2")))
      assert(quiet(e.tick(base, pixels, locations)) ==
        Map("t-0" -> 1, "t-x" -> -2, "t-2" -> 1))
      assert(tickThreads().isEmpty, "a tick with a failing request left threads")
      e.submitAll(Seq(request.copy(id = "t-3"), request.copy(id = "t-4")))
      assert(e.tick(base, pixels, locations) == Map("t-3" -> 1, "t-4" -> 1))
      assert(tickThreads().isEmpty, "a normal tick left threads")
      // ... and one that escapes the pool ends the call with its cause
      val err = intercept[IllegalStateException](Pipeline.inFlight(spark, 0 until 8) { i =>
        if (i == 3) throw new IllegalStateException("boom")
        Thread.sleep(50); i
      })
      assert(err.getMessage == "boom")
      assert(tickThreads().isEmpty, "an escaping failure left threads")
    } finally {
      sampling = false
      sampler.join()
    }
    assert(!seen.isEmpty, "no tick ran on graft-tick threads")
  }

  test("results and a cache hit read with the entry's own schema: no job " +
    "until an action runs") {
    val e = newEngine()
    e.submit(request)
    assert(e.tick(base, pixels, locations) == Map("req-1" -> 1))
    val item = e.pipeline.checkRequest(request).head
    val ((res, hit), seen) = observe((e.results("req-1").get,
      e.cache.getOrCompute(item.key)(sys.error("a filled key must not recompute"))))
    assert(seen.jobs == 0, s"reading back launched ${seen.jobs} job(s)")
    assert(res.schema == spark.read.parquet(s"${e.workRoot}/out/req-1/results").schema)
    assert(hit.schema == spark.read.parquet(s"${e.workRoot}/cache/v1/${item.key}").schema)
    assert(res.count() == 2 && hit.count() == 2)
  }

  test("completed requests are not reprocessed on the next tick") {
    val e = newEngine()
    e.submit(request)
    e.tick(base, pixels, locations)
    assert(e.tick(base, pixels, locations).isEmpty) // queue drained
  }

  test("failing request ends at -2 and yields no results") {
    val e = newEngine()
    val broken = request.copy(id = "req-x", release_data = Seq.empty,
      raster_data = Seq(RasterSelection(name = "x",
        extract_types = Seq("nope"), files = Seq(RasterFile("x_1998")))))
    e.submit(broken)
    assert(e.tick(base, pixels, locations) == Map("req-x" -> -2))
    assert(e.status("req-x").contains(-2))
    assert(e.results("req-x").isEmpty)
  }

  test("full lifecycle on real sf0.001 parquet with the plain cache layout") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.ops.Tables
    val d = "/root/testdata/sf0.001"
    val e = newEngine()
    e.submit(Request(id = "r-real", priority = 5, boundary = Boundary("nga"),
      raster_data = Seq(RasterSelection("udel_precip_v401", Seq("mean", "sum"),
        Seq(RasterFile("udel_precip_v401_1995")))),
      release_data = Seq(ReleaseSelection("nigeriaaims",
        filters = Map("donors" -> Seq("AFDB"))))))
    val realBase = Tables.nation(spark, d)
      .select(col("n_nationkey").as("asdf_id"), col("n_name"))
    val realLocs = Tables.locations(spark, d)
      .withColumn("asdf_id", col("cell_id") % 25)
      .withColumn("alloc", col("amount") * lit(0.9))
      .withColumn("donors", lit("AFDB"))
    val outcomes = e.tick(realBase, Tables.pixels(spark, d), realLocs)
    assert(outcomes == Map("r-real" -> 1))
    assert(cacheTables(e.workRoot).isEmpty,
      "the request path must not keep cache entries in the session catalog")
    val r = e.results("r-real").get
    assert(r.count() == 25) // one row per nation zone
    assert(r.columns.exists(_.startsWith("udel_precip_v401__1995__mean")))
    assert(r.columns.exists(_.endsWith("__reliability")))
    // second tick: queue drained, extracts memoized — nothing recomputes
    assert(e.tick(realBase, Tables.pixels(spark, d), realLocs).isEmpty)
    assert(e.pipeline.misses(e.pipeline.checkRequest(
      Request(id = "other", boundary = Boundary("nga"),
        release_data = Seq(ReleaseSelection("nigeriaaims",
          filters = Map("donors" -> Seq("AFDB"))))))).isEmpty)
  }

  test("a later cron pass reuses an earlier pass's extracts from disk") {
    // CronTick runs one engine pass per JVM: nothing but the work dir
    // survives between passes, so the cache must be found on disk alone
    val dir = Files.createTempDirectory("graft_engine").toString
    def udel(id: String, methods: String*) = Request(id = id,
      boundary = Boundary("nga_adm0_gadm28"),
      raster_data = Seq(RasterSelection(name = "udel",
        extract_types = methods, files = Seq(RasterFile("udel_1998")))))
    val e1 = new Engine(spark, dir)
    e1.submit(udel("req-x", "mean"))
    assert(e1.tick(base, pixels, locations) == Map("req-x" -> 1))
    val xKey = e1.pipeline.checkRequest(udel("req-x", "mean")).head.key
    def xFiles(): Map[String, Long] =
      new java.io.File(s"$dir/cache/v1").listFiles()
        .filter(_.getName.endsWith(xKey)).flatMap(_.listFiles())
        .map(f => f.getPath -> f.lastModified()).toMap
    val before = xFiles()
    assert(before.nonEmpty, "the first pass cached nothing for X")
    // a fresh JVM starts with an empty session catalog
    cacheTables(dir).foreach(t => spark.sql(s"DROP TABLE `$t`"))
    val e2 = new Engine(spark, dir)
    e2.submit(udel("req-xy", "mean", "max"))
    assert(e2.tick(base, pixels, locations) == Map("req-xy" -> 1))
    assert(e2.results("req-xy").get.count() == 2)
    assert(xFiles() == before, "the second pass rewrote X's cached extract")
  }

  test("the cache's key dirs are its only record: a tick writes no done set") {
    val dir = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, dir)
    e.submit(request)
    assert(e.tick(base, pixels, locations) == Map("req-1" -> 1))
    val keys = e.pipeline.checkRequest(request).map(_.key)
    assert(keys.nonEmpty)
    assert(!new java.io.File(s"$dir/cache/v1/_done").exists(),
      "a tick must not write a done-set table beside the key dirs")
    val fresh = new graft.ops.Cache(spark, s"$dir/cache")
    keys.foreach(k => assert(fresh.probe(k), s"$k must probe-hit from disk alone"))
  }

  test("bundle zips the artifacts of a completed request") {
    val e = newEngine()
    e.submit(request)
    e.tick(base, pixels, locations)
    val zip = Files.createTempDirectory("graft_zip").resolve("r.zip")
    e.bundle("req-1", zip.toString)
    val zf = new java.util.zip.ZipFile(zip.toFile)
    try {
      val names = new Iterator[String] {
        val en = zf.entries(); def hasNext = en.hasMoreElements
        def next() = en.nextElement().getName
      }.toSet
      assert(names.exists(_.endsWith("request.json")))
      assert(names.exists(_.contains("results_csv")))
    } finally zf.close()
  }

  test("bundle refuses an unknown id and a request whose artifacts failed, " +
    "creating no zip") {
    val e = newEngine()
    val zipDir = Files.createTempDirectory("graft_zip")
    val unknown = zipDir.resolve("unknown.zip")
    val err = intercept[IllegalArgumentException](e.bundle("no-such-id", unknown.toString))
    assert(err.getMessage.contains("no-such-id"), err.getMessage)
    assert(!Files.exists(unknown), "no zip may be created for an unknown id")
    // a directory where request.json belongs makes the artifact step fail
    // after results/ was written: the request ends at -2 with a torn dir
    Files.createDirectories(java.nio.file.Paths.get(e.workRoot, "out", "req-1", "request.json"))
    e.submit(request)
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(new java.io.ByteArrayOutputStream(), true))
    try assert(e.tick(base, pixels, locations) == Map("req-1" -> -2))
    finally System.setErr(prevErr)
    assert(e.results("req-1").isEmpty)
    val torn = zipDir.resolve("torn.zip")
    val err2 = intercept[IllegalArgumentException](e.bundle("req-1", torn.toString))
    assert(err2.getMessage.contains("req-1"), err2.getMessage)
    assert(!Files.exists(torn), "no zip may be created for a failed request")
  }

  test("a restarted engine still holds submitted requests and can process them") {
    val dir = Files.createTempDirectory("graft_engine").toString
    new Engine(spark, dir).submit(request) // first engine dies after submit
    val e2 = new Engine(spark, dir)
    assert(e2.status("req-1").contains(-1))
    assert(e2.tick(base, pixels, locations) == Map("req-1" -> 1))
    assert(e2.results("req-1").get.count() == 2)
  }

  test("CronTick pass: JSONL drop file -> submitted -> processed -> artifacts") {
    // uses the existing session (CronTick's builder getOrCreate reuses it)
    val work = Files.createTempDirectory("graft_cron").toString
    val drop = Files.createTempDirectory("graft_drop").resolve("reqs.jsonl")
    val req = Request(id = "cron-1", priority = 1,
      boundary = Boundary("nga"),
      raster_data = Seq(RasterSelection("udel_precip_v401", Seq("mean"),
        Seq(RasterFile("udel_precip_v401_1995")))),
      release_data = Seq(ReleaseSelection("nigeriaaims",
        filters = Map("donors" -> Seq("AFDB")))))
    // the drop file mixes a full document, a minimal frontend document
    // relying on Scala-side defaults (no status/priority/email/stage),
    // and one garbage line — only the garbage line may be skipped
    val full = Seq(req).toDS().toJSON.collect().head
    val minimal = """{"id":"cron-2","boundary":{"name":"nga"},""" +
      """"raster_data":[{"name":"udel_precip_v401","extract_types":["mean"],""" +
      """"files":[{"name":"udel_precip_v401_1995"}]}]}"""
    Files.writeString(drop, s"$full\n$minimal\nnot json at all\n")
    CronTick.main(Array(work, "/root/testdata/sf0.001", drop.toString))
    val e = new Engine(spark, work)
    assert(e.status("cron-1").contains(1))
    assert(e.results("cron-1").get.count() == 25)
    assert(e.status("cron-2").contains(1), "minimal document must process")
  }

  test("CronTick fails loudly on a mistyped drop-file path") {
    val work = Files.createTempDirectory("graft_cron").toString
    intercept[IllegalArgumentException] {
      CronTick.main(Array(work, "/root/testdata/sf0.001", "/no/such/file.jsonl"))
    }
    // the failed pass released its lock: the next pass on the same work
    // dir runs instead of finding it locked
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(CronTick.main(Array(work, "/root/testdata/sf0.001")))
    assert(out.toString.contains("\"ticked\":0") &&
      !out.toString.contains("pass already running"), out.toString)
  }

  test("submit is one append to one request table; status reads the body") {
    val dir = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, dir)
    val ids = Seq("req-a", "req-b", "req-c")
    e.submitAll(ids.map(id => request.copy(id = id)))
    assert(!new java.io.File(s"$dir/state").exists(),
      "no separate queue-state table may be created")
    val batches = new java.io.File(s"$dir/requests/_delta").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("d"))
    assert(batches.length == 1, s"expected one delta batch, got ${batches.length}")
    ids.foreach(id => assert(e.status(id).contains(-1), s"$id must be new (-1)"))
  }

  test("an engine refuses a work dir holding the old queue-state table") {
    val dir = Files.createTempDirectory("graft_engine").toString
    Files.createDirectories(java.nio.file.Paths.get(dir, "state"))
    val err = intercept[IllegalArgumentException](new Engine(spark, dir))
    assert(err.getMessage.contains(s"$dir/state"), err.getMessage)
    assert(err.getMessage.contains("new work dir"), err.getMessage)
  }

  test("fuzz: random submit/tick/crash/restart schedules with bodies upserted " +
    "by another writer — no lost request, no double-processing, live table " +
    "drains, archive partitions") {
    // Engine-level companion to the StateTableSpec model fuzz: the state
    // layer's 100 schedules check the table contract cheaply; these
    // schedules drive the FULL lifecycle (submit→pipeline→artifacts→
    // compaction) where each tick costs real processing. Double-
    // processing is detected by artifact mtime: a completed request's
    // results _SUCCESS must never be rewritten by any later tick,
    // whatever resubmits/crashes follow.
    def mkReq(id: String, failing: Boolean): Request =
      if (failing) request.copy(id = id, release_data = Seq.empty,
        raster_data = Seq(RasterSelection(name = "x",
          extract_types = Seq("nope"), files = Seq(RasterFile("x_1998")))))
      else request.copy(id = id)
    for (seed <- 0 until 15) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft_efuzz$seed").toString
      var e = new Engine(spark, dir)
      val submitted = scala.collection.mutable.Map[String, Boolean]() // id -> failing
      val doneMtime = scala.collection.mutable.Map[String, Long]()
      def noteCompletions(outcomes: Map[String, Int]): Unit =
        outcomes.collect { case (id, 1) =>
          // FIRST completion wins: recording on every report would refresh
          // the stored mtime when a reprocessing bug rewrites the artifact,
          // making the final compare pass on the very defect it hunts
          doneMtime.getOrElseUpdate(id,
            new java.io.File(s"$dir/out/$id/results/_SUCCESS").lastModified())
        }: Unit
      var n = 0
      def freshId(): String = { n += 1; s"f$seed-$n" }
      for (_ <- 0 until 3 + rnd.nextInt(4)) {
        rnd.nextInt(5) match {
          case 0 | 1 => // submit batch: new ids, dup ids, resubmits of done ids
            val reqs = (0 until 1 + rnd.nextInt(3)).map { _ =>
              if (submitted.nonEmpty && rnd.nextInt(4) == 0) {
                val id = submitted.keys.toSeq.sorted(
                  Ordering.String)(rnd.nextInt(submitted.size))
                // resubmit with the OPPOSITE body shape — the first body
                // must win everywhere, so the final status must still
                // match the ORIGINAL shape
                mkReq(id, !submitted(id))
              } else {
                val id = freshId(); val failing = rnd.nextInt(4) == 0
                submitted(id) = failing; mkReq(id, failing)
              }
            }
            e.submitAll(reqs): Unit
          case 2 => noteCompletions(e.tick(base, pixels, locations))
          case 3 => e = new Engine(spark, dir) // crash+restart
          case 4 => // a body upserted by another writer, not through submit
            val id = freshId(); val failing = rnd.nextInt(4) == 0
            submitted(id) = failing
            val body = mkReq(id, failing)
              .copy(status = -1, stage = Seq(StageTime("submit", 0L)))
            new graft.ops.StateTable(spark, s"$dir/requests", Seq("id"))
              .appendDelta(Seq(body).toDS().toDF())
        }
      }
      // drain: a restarted engine finishes everything
      e = new Engine(spark, dir)
      noteCompletions(e.tick(base, pixels, locations))
      assert(e.tick(base, pixels, locations).isEmpty,
        s"seed=$seed: a drained queue must tick empty")
      submitted.foreach { case (id, failing) =>
        assert(e.status(id).contains(if (failing) -2 else 1),
          s"seed=$seed $id: lost or wrong terminal status")
        assert(e.results(id).isDefined == !failing,
          s"seed=$seed $id: results must exist iff completed")
      }
      doneMtime.foreach { case (id, mt) =>
        assert(new java.io.File(s"$dir/out/$id/results/_SUCCESS")
          .lastModified() == mt,
          s"seed=$seed $id: completed artifacts were rewritten (reprocessed)")
      }
      // the live table drains: terminal rows compact away
      val store = new graft.ops.StateTable(spark, s"$dir/requests", Seq("id"))
      assert(store.read().forall(_.isEmpty), s"seed=$seed live requests must drain")
      // full history partitions: every id exactly once, all terminal
      val all = store.readAll().get.select("id", "status").collect()
        .map(r => r.getString(0) -> r.getInt(1))
      assert(all.length == all.map(_._1).distinct.length,
        s"seed=$seed duplicate ids across live∪archive")
      assert(all.map(_._1).toSet == submitted.keySet,
        s"seed=$seed history must hold exactly the submitted ids")
    }
  }

  test("driver holds no process-lifetime request-body map (bounded heap)") {
    // structural: the engine must not declare a mutable collection field —
    // bodies are durable in the request store and loaded per tick by a
    // status-filtered scan, so the driver heap is bounded by the live
    // queue head, not the lifetime request history
    val fields = classOf[Engine].getDeclaredFields.map(_.getType.getName)
    assert(!fields.exists(_.contains("mutable")),
      s"engine must not hold driver-side collections: ${fields.mkString(", ")}")
    // behavioral: a 5k-request backlog submits, drains, and never
    // reprocesses — purely from the durable store
    val e = newEngine()
    val reqs = (1 to 5000).map(i => Request(id = f"bulk-$i%05d",
      boundary = Boundary("nga"), release_data = Seq.empty, raster_data = Seq.empty))
    e.submitAll(reqs)
    val out = e.tick(base, pixels, locations)
    assert(out.size == 5000 && out.values.forall(_ == -2)) // invalid → error status
    assert(e.tick(base, pixels, locations).isEmpty, "backlog fully drained")
  }

  test("terminal rows leave the live queue table after the tick (compaction)") {
    val dir = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, dir)
    e.submit(request)
    assert(e.tick(base, pixels, locations) == Map("req-1" -> 1))
    val st = new graft.ops.StateTable(spark, s"$dir/requests", Seq("id"))
    assert(st.read().get.count() == 0, "live queue drained of terminal rows")
    assert(st.archive().get.count() == 1, "terminal row archived")
    assert(e.status("req-1").contains(1), "status served from the archive")
    assert(e.results("req-1").get.count() == 2, "results unaffected")
    assert(e.tick(base, pixels, locations).isEmpty, "archive is not re-queued")
  }

  test("re-submitting a compacted (archived) id stays idempotent — no reprocess") {
    val e = newEngine()
    e.submit(request)
    assert(e.tick(base, pixels, locations) == Map("req-1" -> 1))
    // req-1's row now lives in the archive; a duplicate submission must
    // NOT re-enter the queue as new (the reference's find-then-insert
    // never forgets a completed id)
    e.submit(request)
    assert(e.status("req-1").contains(1), "completed status must survive re-submit")
    assert(e.tick(base, pixels, locations).isEmpty, "no reprocessing")
  }

  /** The result of `body` and the root paths of every file scan its
    * queries ran. */
  def scannedRoots[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def record(qe: QueryExecution): Unit = qe.optimizedPlan.foreach {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.foreach(p => roots.add(p.toUri.getPath))
          case _ => ()
        }
        case _ => ()
      }
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val out = body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (out, roots.toArray(Array.empty[String]).toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  test("a tick reads no archive file; a re-submit of an archived id stays idempotent") {
    val e = newEngine()
    val archive = s"${e.workRoot}/requests/_archive/"
    e.submitAll(Seq(request, request.copy(id = "req-2")))
    assert(e.tick(base, pixels, locations) == Map("req-1" -> 1, "req-2" -> 1))
    e.submit(request.copy(id = "req-3"))
    val (out, roots) = scannedRoots(e.tick(base, pixels, locations))
    assert(out == Map("req-3" -> 1))
    assert(roots.exists(_.startsWith(s"${e.workRoot}/requests/")),
      s"the tick read no request-store file: $roots")
    assert(!roots.exists(_.startsWith(archive)), s"the tick read the archive: $roots")
    // a finished id submitted again does not re-enter the queue
    e.submit(request)
    val (again, roots2) = scannedRoots(e.tick(base, pixels, locations))
    assert(again.isEmpty, "an archived id was processed again")
    assert(!roots2.exists(_.startsWith(archive)), s"the tick read the archive: $roots2")
    assert(e.status("req-1").contains(1))
  }

  test("a tick that drains requests commits one request-store version and " +
    "one archive batch; a tick with nothing pending commits nothing") {
    val e = newEngine()
    val store = java.nio.file.Paths.get(e.workRoot, "requests")
    def version: Long = {
      val p = store.resolve("_CURRENT")
      if (!Files.exists(p)) -1L else Files.readString(p).trim.drop(1).takeWhile(_.isDigit).toLong
    }
    def dirs(under: java.nio.file.Path): Set[String] =
      Option(under.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).toSet
    e.submitAll(Seq(request, request.copy(id = "req-2")))
    assert(e.tick(base, pixels, locations).size == 2)
    assert(version == 0L, s"the first tick must publish version 0, got $version")
    assert(dirs(store.resolve("_archive")).size == 1)
    e.submit(request.copy(id = "req-3"))
    assert(e.tick(base, pixels, locations) == Map("req-3" -> 1))
    assert(version == 1L, s"a draining tick must advance one version, got $version")
    assert(dirs(store.resolve("_archive")).size == 2, "a draining tick writes one batch")
    val before = (Files.readString(store.resolve("_CURRENT")), dirs(store),
      dirs(store.resolve("_archive")))
    assert(e.tick(base, pixels, locations).isEmpty)
    assert((Files.readString(store.resolve("_CURRENT")), dirs(store),
      dirs(store.resolve("_archive"))) == before, "an idle tick committed")
  }

  test("a tick of repeat requests runs at most 4 request-store jobs: one " +
    "pending read and three in retire, for 2 requests and for 8") {
    // every work item and merged result of a repeat request is a cache
    // hit and its artifacts are file copies, so each job the tick starts
    // is the request store's
    val e = newEngine()
    e.submit(request)
    assert(e.tick(base, pixels, locations) == Map("req-1" -> 1))
    Seq(2, 8).foreach { n =>
      val ids = (1 to n).map(i => s"rep-$n-$i")
      e.submitAll(ids.map(id => request.copy(id = id)))
      val (out, jobs) = TestSpark.jobsDuring(e.tick(base, pixels, locations))
      assert(out == ids.map(_ -> 1).toMap)
      assert(jobs <= 4, s"a tick of $n repeat requests ran $jobs jobs")
    }
  }

  test("golden fixture request: CSV column grammar and JSON echo are " +
    "byte-stable end-to-end (S5/S6 against the doc_test.py document)") {
    // The captured production request (src/test/resources/
    // request_fixture.json, from the reference's queue/doc_test.py:12-96)
    // driven through the REAL lifecycle: submit → Engine.tick →
    // Artifacts. Byte-golden on (1) the results CSV — column ORDER
    // (asdf_id, extract columns, passthrough), the dotted display-name
    // grammar with BOTH msr hash segments (the fixture's two donor
    // filters hash differently), '' nulls — and (2) the S6 request echo
    // as canonical JSON. Any drift in naming, hashing, ordering, or JSON
    // rendering fails byte-compare.
    val fixtureReq = Request(
      id = "57a2ff1bc15e002f448b4568",
      boundary = Boundary("nga_adm0_gadm28",
        title = "Nigeria ADM0 Boundary - GADM 2.8", group = "nga_gadm28"),
      release_data = Seq(
        ReleaseSelection(
          dataset = "nigeriaaims_geocodedresearchrelease_level1_v1_3",
          custom_name = "New Request",
          filters = Map("donors" -> Seq("AFDB"),
            "ad_sector_names" -> Seq("All"))),
        ReleaseSelection(
          dataset = "nigeriaaims_geocodedresearchrelease_level1_v1_3",
          custom_name = "hiiiiii",
          filters = Map("donors" -> Seq("AFDB", "France"),
            "ad_sector_names" -> Seq("All")))),
      raster_data = Seq(RasterSelection(name = "udel_precip_v401_min",
        extract_types = Seq("mean"),
        files = Seq(RasterFile("udel_precip_v401_min_1998",
          path = "precip_1998_min.tif")))),
      email = "user@example.com",
      custom_name = "My Full test request")
    val dir = Files.createTempDirectory("graft_golden_fix").toString
    val e = new Engine(spark, dir)
    e.submit(fixtureReq)
    val locs = Seq((1, 40.0, 100.0, "AFDB"), (1, 25.0, 50.0, "France"),
      (2, 60.0, 100.0, "AFDB"), (2, 30.0, 60.0, "World Bank"))
      .toDF("asdf_id", "alloc", "amount", "donors")
    assert(e.tick(base, pixels, locs) == Map(fixtureReq.id -> 1))
    val csvDir = new java.io.File(s"$dir/out/${fixtureReq.id}/results_csv")
    val csvFile = csvDir.listFiles().filter(_.getName.endsWith(".csv")).head
    val csvBytes = java.nio.file.Files.readAllBytes(csvFile.toPath)
    val echoPath = Files.createTempDirectory("graft_echo").resolve("request.json")
    graft.ops.Artifacts.writeRequestJson(fixtureReq, echoPath.toString)
    val echoBytes = java.nio.file.Files.readAllBytes(echoPath)
    def check(name: String, actual: Array[Byte]): Unit = {
      val res = getClass.getResourceAsStream(s"/golden/$name")
      if (res == null) {
        // first recording: emit the candidate for review, then fail —
        // a golden must be added to resources deliberately, never blind
        val cand = java.nio.file.Paths.get("target/golden_candidates", name)
        java.nio.file.Files.createDirectories(cand.getParent)
        java.nio.file.Files.write(cand, actual)
        fail(s"golden $name missing; candidate written to $cand")
      }
      val golden = res.readAllBytes()
      assert(java.util.Arrays.equals(actual, golden),
        s"$name drifted from golden:\n${new String(actual)}")
    }
    check("fixture_results.csv", csvBytes)
    check("fixture_request.json", echoBytes)
  }

  test("golden bundle: CSV bytes match the recorded artifact exactly") {
    // locks the whole S5/S6/S9 edge in one assertion: merge column order,
    // the dotted display-name grammar (incl. the canonical-JSON hash_key
    // segment), '' nulls, and float rendering must all stay byte-stable
    val e = newEngine()
    e.submit(request)
    e.tick(base, pixels, locations)
    val zip = Files.createTempDirectory("graft_zip").resolve("r.zip")
    e.bundle("req-1", zip.toString)
    val zf = new java.util.zip.ZipFile(zip.toFile)
    try {
      val en = zf.entries()
      var csv: Option[Array[Byte]] = None
      while (en.hasMoreElements) {
        val entry = en.nextElement()
        if (entry.getName.contains("results_csv") && entry.getName.endsWith(".csv"))
          csv = Some(zf.getInputStream(entry).readAllBytes())
      }
      val golden = getClass.getResourceAsStream("/golden/bundle_results.csv").readAllBytes()
      assert(csv.isDefined, "bundle contains no results CSV")
      assert(java.util.Arrays.equals(csv.get, golden),
        s"bundle CSV drifted from golden:\n${new String(csv.get)}")
    } finally zf.close()
  }
}
