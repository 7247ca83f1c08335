package graft

import org.apache.spark.sql.SparkSession
import graft.model._

/** Scale tier for the ORCHESTRATION path (round-12 verdict #4): every
  * operator is decade-measured, but the request lifecycle — ingest →
  * validate → hash → cache probe → upsert → merge → artifact bundle
  * (`Engine`, `CronTick`, `Pipeline`) — only had sf-scale EngineSpec
  * coverage. Its driver-side collects are SANCTIONED as bounded by queue
  * size (SURVEY §7.5.7); this drive measures the bound: the reference
  * drains the queue unbounded per tick (`queue/processing.py:122-123`),
  * so tick() must survive a 10⁴-10⁵-request backlog.
  *
  * Two legs:
  *
  *  - **Machinery decades** (default 10³ → 10⁴ → 10⁵ requests): one-batch
  *    submit, a +1k incremental submit against the full live queue (the
  *    steady-state ingest cost — one O(batch) delta append to the request
  *    table), one status() lookup, then ONE tick() draining the whole
  *    backlog. The requests are fail-fast (unknown extract type →
  *    plan-time -2), so the measurement isolates the queue machinery
  *    itself — status-filtered pending scan + driver collect + one
  *    retire commit moving the drained rows to the archive — from the
  *    per-request compute floor, which leg 2 prices separately. An empty
  *    follow-up tick gives the post-drain floor (pending scan over an
  *    empty live table with a 10⁵-row archive).
  *    Driver heap is sampled (post-GC) after the drain: the pending
  *    collect is the one queue-proportional driver allocation, and it
  *    must track LIVE rows, never total history.
  *
  *  - **Processing floor** (default 200 → 2000 real requests, one shared
  *    selection): the full end-to-end path — extract (cache-hit after
  *    the first), wide merge, and per request the artifacts: file copies
  *    of the shared merge entry's parquet and of its CSV rendering
  *    (written once), plus the echo JSON. Per-request cost across the
  *    decade must be flat: it is a cache-hit merge + file copies,
  *    independent of backlog size.
  *
  * Usage:
  *   Test/runMain graft.DriveQueueScale            # both legs, defaults
  *   Test/runMain graft.DriveQueueScale 1000 10000 # machinery tiers only
  */
object DriveQueueScale {

  def failFast(i: Int): Request = Request(
    id = f"q-$i%07d",
    boundary = Boundary("nga_adm0_gadm28"),
    raster_data = Seq(RasterSelection(name = "udel",
      extract_types = Seq("not_a_method"), files = Seq(RasterFile("udel_1998")))))

  def real(i: Int): Request = Request(
    id = f"r-$i%07d",
    boundary = Boundary("nga_adm0_gadm28"),
    release_data = Seq(ReleaseSelection(dataset = "nigeriaaims",
      filters = Map("donors" -> Seq("AFDB")))),
    raster_data = Seq(RasterSelection(name = "udel",
      extract_types = Seq("mean"), files = Seq(RasterFile("udel_1998")))))

  def usedHeapMb(): Long = {
    System.gc(); Thread.sleep(200); System.gc()
    (Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()) >> 20
  }

  def main(args: Array[String]): Unit = {
    val machineryTiers =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1000, 10000, 100000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    import s.implicits._
    def base = Seq((1, "A"), (2, "B")).toDF("asdf_id", "name")
    def pixels = Seq((1, 10.0, 1.0, "A", 1998), (2, 6.0, 2.0, "R", 1998))
      .toDF("asdf_id", "value", "weight", "cls", "temporal")
    def locations = Seq((1, 40.0, 100.0, "AFDB"), (2, 60.0, 100.0, "AFDB"))
      .toDF("asdf_id", "alloc", "amount", "donors")
    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    println("== leg 1: queue machinery decades (fail-fast backlog) ==")
    machineryTiers.foreach { n =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_q$n").toString
      val e = new Engine(s, dir)
      val (tSub, _) = timed(e.submitAll((0 until n).map(failFast)))
      val (tInc, _) = timed(e.submitAll((n until n + 1000).map(failFast)))
      val (tLook, st) = timed(e.status(f"q-${n / 2}%07d"))
      require(st.contains(-1), s"status lookup broken at n=$n")
      val heapBefore = usedHeapMb()
      val (tTick, outcomes) = timed(e.tick(base, pixels, locations))
      val heapAfter = usedHeapMb()
      require(outcomes.size == n + 1000 && outcomes.values.forall(_ == -2),
        s"expected ${n + 1000} fail-fast outcomes, got ${outcomes.size}")
      val (tEmpty, o2) = timed(e.tick(base, pixels, locations))
      require(o2.isEmpty, "queue not drained")
      println(f"n=${n + 1000}%7d submit=$tSub%7.2f s (+1k inc=$tInc%6.2f s) " +
        f"lookup=$tLook%5.2f s tick=$tTick%8.2f s " +
        f"(${tTick * 1000 / (n + 1000)}%6.2f ms/req) emptyTick=$tEmpty%6.2f s " +
        f"heap=$heapBefore%5d->$heapAfter%5d MB")
    }

    println("== leg 2: processing floor (real requests, shared selection) ==")
    Seq(200, 2000).foreach { n =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_qr$n").toString
      val e = new Engine(s, dir)
      e.submitAll((0 until n).map(real))
      val (tTick, outcomes) = timed(e.tick(base, pixels, locations))
      require(outcomes.size == n && outcomes.values.forall(_ == 1),
        s"expected $n completions, got " +
          s"${outcomes.count(_._2 == 1)} ok / ${outcomes.count(_._2 != 1)} err")
      require(e.results(f"r-${n / 2}%07d").exists(_.count() == 2),
        "merged result missing or wrong")
      println(f"n=$n%7d tick=$tTick%8.2f s (${tTick * 1000 / n}%7.2f ms/req)")
    }
    s.stop()
  }
}
