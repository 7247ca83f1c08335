package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload needs from the run. Everything the run writes goes under
  * `root`; the launcher deletes it afterwards. */
final case class Context(spark: SparkSession, workload: String, seed: Long, seconds: Int,
    trace: Boolean, root: String, sfDir: String, cores: Int, expectedPath: String,
    traceOut: String) {
  /** Seconds since the JVM started: the set-up clock. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  def note(s: String): Unit = System.err.println(s"[perfbench] $s")
}

/** One run's outcome: end-to-end metrics always, per-layer ones when traced. */
final case class Result(attempted: Long, failures: Seq[String], endToEnd: Map[String, Double],
    layers: Map[String, Double])

/** Entry point of one benchmark run; see README.md. Arguments come as
  * `--name value` pairs: workload, seed, seconds, trace, root, sf, cores,
  * spec, expected, trace-out (where a traced run writes its spans and jobs). */
object Main {
  /** Fewest measured ops per run: the tail sample needs ten beyond it. */
  val MinOps = 11

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[${a("cores")}]")
      .config("spark.sql.shuffle.partitions", a("cores"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a("root")}/warehouse")
      .config("spark.local.dir", s"${a("root")}/$SparkLocal")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = Context(spark, workload, a("seed").toLong, a("seconds").toInt, trace, a("root"),
      a("sf"), a("cores").toInt, a("expected"), a("trace-out"))
    val result = workload match {
      case "register" => Register.run(ctx)
      case "requests_cold" => Requests.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spark.stop()

    result.failures.take(20).foreach(f => ctx.note(s"WRONG: $f"))
    val failed = result.failures.size.toLong
    println(f"error_rate = ${failed.toDouble / result.attempted}%.4f ratio " +
      s"($failed failed of ${result.attempted} attempted)")
    val spec = Json.specMetrics(a("spec"), if (trace) "per_layer" else "end_to_end")
    val values = if (trace) {
      val unknown = result.layers.keySet -- spec.map(_._1)
      require(unknown.isEmpty, s"per-layer metrics missing from the spec: ${unknown.mkString(",")}")
      result.layers
    } else result.endToEnd
    val metrics = spec.map { case (name, unit) =>
      // a layer the workload never enters did no work
      Json.Metric(name, values.getOrElse(name, if (trace) 0.0 else sys.error(s"no value for $name")), unit)
    }
    metrics.foreach(m => println(s"${m.name} = ${m.value} ${m.unit}"))
    val line = Json.resultLine(failed == 0, result.attempted, failed, metrics)
    Json.validate(line, spec)
    println(line)
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }

  /** Driver heap in use after forced full collections, in MiB: the least
    * of three readings, each after a collection and a pause that lets
    * Spark's cleaner drop the blocks the collection found unreachable. */
  def heapAfterGc(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(500)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }

  /** Spark's scratch space under the run root: shuffle and block files the
    * runtime deletes on its own schedule, so not part of what a run leaves. */
  val SparkLocal = "spark-local"

  /** Total bytes and regular-file count under `dir`, minus [[SparkLocal]]. */
  def treeSize(dir: String): (Long, Long) = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isFile) (f.length, 1L)
      else Option(f.listFiles).getOrElse(Array.empty[java.io.File])
        .filterNot(_.getName == SparkLocal).map(walk).foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    walk(new java.io.File(dir))
  }

  /** The end-to-end metrics of a measured phase. `latencies` are per op,
    * `wallS` is the phase's wall time and `diskBytes` what the run left on
    * disk for `diskOps` completed ops. */
  def endToEnd(setupS: Double, latencies: Seq[Double], wallS: Double, heapMb: Double,
      diskBytes: Long, diskOps: Long): Map[String, Double] = {
    val tail = Stats.tail(latencies).getOrElse(sys.error(s"only ${latencies.size} ops measured"))
    println(f"latency_tail_s is p${tail.percentile}%.1f of n=${tail.n} ops")
    Map(
      "setup_s" -> setupS,
      "ops_per_s" -> latencies.size / wallS,
      "latency_p50_s" -> Stats.median(latencies),
      "latency_tail_s" -> tail.value,
      "heap_mb" -> heapMb,
      "disk_mb_per_op" -> diskBytes / (1024.0 * 1024.0) / diskOps)
  }
}
