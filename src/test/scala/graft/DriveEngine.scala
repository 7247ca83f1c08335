package graft

import org.apache.spark.sql.functions._
import graft.model._
import graft.ops.Tables

/** Manual drive: full engine lifecycle on sf0.001 real data.
  * `--x10` runs the lifecycle stress tier instead (round-7 verdict #5). */
object DriveEngine {
  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "--x10") { x10(); return }
    if (args.nonEmpty && args(0) == "--x100") { x100(); return }
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val e = new Engine(s, java.nio.file.Files.createTempDirectory("eng").toString)
    e.submit(Request(id = "r-hi", priority = 5, boundary = Boundary("nga"),
      raster_data = Seq(RasterSelection("udel_precip_v401", Seq("mean", "sum"),
        Seq(RasterFile("udel_precip_v401_1995"))))))
    e.submit(Request(id = "r-lo", boundary = Boundary("nga"),
      release_data = Seq(ReleaseSelection("nigeriaaims", filters = Map("donors" -> Seq("AFDB"))))))
    val base = Tables.nation(s, d).select(col("n_nationkey").as("asdf_id"), col("n_name"))
    val locs = Tables.locations(s, d)
      .withColumn("asdf_id", col("cell_id") % 25)
      .withColumn("alloc", col("amount") * lit(0.9))
      .withColumn("donors", lit("AFDB"))
    println("OUTCOMES=" + e.tick(base, Tables.pixels(s, d), locs))
    println("STATUS=" + e.status("r-hi") + "," + e.status("r-lo"))
    println("COLS=" + e.results("r-hi").get.columns.mkString(","))
    val zip = java.nio.file.Files.createTempDirectory("z").resolve("b.zip")
    e.bundle("r-hi", zip.toString)
    println("ZIP_BYTES=" + java.nio.file.Files.size(zip))
    println("TICK2=" + e.tick(base, Tables.pixels(s, d), locs))
    s.stop()
  }

  /** Full-lifecycle stress at 10× (round-7 verdict #5): the flagship
    * request (release + raster selections) through submit → tick →
    * cache fill → merge → artifacts on sf0.1 and on the 10× adversarial
    * corpus (hot-zone lineitem), bench-shaped session. Measures the tick
    * exponent, the cache-hit no-op tick, and the driver heap after each
    * cycle — the round-5 claim that the per-tick pending load keeps the
    * driver heap queue-head-sized (corpus-independent), finally
    * measured. Byte-golden artifact parity stays pinned at fixture scale
    * by EngineSpec; this tier asserts completion + non-empty results. */
  def x10(): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val baseDir = "/root/testdata/sf0.1"
    val big = "/tmp/graft_scale10x"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$big/_READY")))
      DriveScale10x.generate(s, baseDir, big)
    def heapMb(): Long = {
      System.gc(); Thread.sleep(300); System.gc()
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) / (1024 * 1024)
    }
    def cycle(d: String, tag: String): Double = {
      val e = new Engine(s,
        java.nio.file.Files.createTempDirectory(s"eng_$tag").toString)
      e.submit(Request(id = "r-flag", priority = 5, boundary = Boundary("nga"),
        release_data = Seq(ReleaseSelection("nigeriaaims",
          filters = Map("donors" -> Seq("AFDB")))),
        raster_data = Seq(RasterSelection("udel_precip_v401", Seq("mean", "sum"),
          Seq(RasterFile("udel_precip_v401_1995"))))))
      val baseF = Tables.nation(s, d)
        .select(col("n_nationkey").as("asdf_id"), col("n_name"))
      val locs = Tables.locations(s, d)
        .withColumn("asdf_id", col("cell_id") % 25)
        .withColumn("alloc", col("amount") * lit(0.9))
        .withColumn("donors", lit("AFDB"))
      val t0 = System.nanoTime()
      val out = e.tick(baseF, Tables.pixels(s, d), locs)
      val t = (System.nanoTime() - t0) / 1e9
      require(out.values.forall(_ == 1), s"tick outcomes not complete: $out")
      val res = e.results("r-flag").get
      require(res.count() > 0, "empty flagship result")
      val t1 = System.nanoTime()
      e.tick(baseF, Tables.pixels(s, d), locs) // everything cache-hit
      val tNoop = (System.nanoTime() - t1) / 1e9
      println(f"$tag%-4s tick=$t%8.2f s  noop_tick=$tNoop%6.2f s" +
        f"  cols=${res.columns.length}%3d  driver_heap=${heapMb()}%5d MB")
      t
    }
    cycle(baseDir, "warm") // JVM warm-up: a cold first tick pays ~6 s JIT
    val t1 = cycle(baseDir, "1x")
    val t10 = cycle(big, "10x")
    println(f"lifecycle exponent=${math.log(t10 / t1) / math.log(10.0)}%5.2f")
    s.stop()
  }

  /** Second-decade lifecycle (round-7 verdict #4): the flagship request
    * across the 1×/10×/100× LINEITEM decades — the table whose raster
    * extract dominates the tick, amplified with the hot-zone skew ratio
    * and per-copy value perturbation of the `--x100extracts` corpora
    * (so the guided extracts' buffers cannot compress duplicate copies).
    * Other tables stay 1×, which also pins the release side at fixture
    * scale — the tier isolates how the EXTRACT compute scales inside a
    * full submit → tick → cache → merge → artifact cycle, with the
    * driver heap measured after each cycle (must stay queue-head-sized,
    * corpus-independent). The expectation set by the `mean` control in
    * SCALE.md's extract decade table: the tick is scan-bandwidth-bound,
    * so the 100× tick should land within ~2× of 10× per decade of data
    * — i.e. near-linear in the amplified table, flat in driver state. */
  def x100(): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val baseDir = "/root/testdata/sf0.1"
    val li10 = "/tmp/graft_scale10li"
    val li100 = "/tmp/graft_scale100li"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$li10/_READY")))
      DriveScale10x.generateLineitem(s, baseDir, li10, 10)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$li100/_READY")))
      DriveScale10x.generateLineitem(s, baseDir, li100, 100)
    def heapMb(): Long = {
      System.gc(); Thread.sleep(300); System.gc()
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) / (1024 * 1024)
    }
    def cycle(d: String, tag: String): Double = {
      val e = new Engine(s,
        java.nio.file.Files.createTempDirectory(s"eng_$tag").toString)
      e.submit(Request(id = "r-flag", priority = 5, boundary = Boundary("nga"),
        release_data = Seq(ReleaseSelection("nigeriaaims",
          filters = Map("donors" -> Seq("AFDB")))),
        raster_data = Seq(RasterSelection("udel_precip_v401", Seq("mean", "sum"),
          Seq(RasterFile("udel_precip_v401_1995"))))))
      val baseF = Tables.nation(s, d)
        .select(col("n_nationkey").as("asdf_id"), col("n_name"))
      val locs = Tables.locations(s, d)
        .withColumn("asdf_id", col("cell_id") % 25)
        .withColumn("alloc", col("amount") * lit(0.9))
        .withColumn("donors", lit("AFDB"))
      val t0 = System.nanoTime()
      val out = e.tick(baseF, Tables.pixels(s, d), locs)
      val t = (System.nanoTime() - t0) / 1e9
      require(out.values.forall(_ == 1), s"tick outcomes not complete: $out")
      val res = e.results("r-flag").get
      require(res.count() > 0, "empty flagship result")
      val t1 = System.nanoTime()
      e.tick(baseF, Tables.pixels(s, d), locs) // everything cache-hit
      val tNoop = (System.nanoTime() - t1) / 1e9
      println(f"$tag%-4s tick=$t%8.2f s  noop_tick=$tNoop%6.2f s" +
        f"  cols=${res.columns.length}%3d  driver_heap=${heapMb()}%5d MB")
      t
    }
    cycle(baseDir, "warm") // JVM warm-up: a cold first tick pays ~6 s JIT
    val t1 = cycle(baseDir, "1x")
    val t10 = cycle(li10, "10x")
    val t100 = cycle(li100, "100x")
    println(f"lifecycle exp[1x->10x]=${math.log(t10 / t1) / math.log(10.0)}%5.2f" +
      f"  exp[10x->100x]=${math.log(t100 / t10) / math.log(10.0)}%5.2f")
    s.stop()
  }
}
