package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `register` workload: rows of `SparkEntry.queries`, one at a time,
  * each driven by hashing every output column (the way `graft.Bench`
  * drives them) and checked against the digest and row count recorded
  * for it in `expected/register.json`.
  *
  * A run measures a fixed stratified sample of the register's lighter rows,
  * where the per-row floor of frame construction, planning and job
  * scheduling dominates. Rows that read a memoized substrate are left out
  * (their first execution would include a substrate build of up to ten
  * seconds), and so is the heaviest quarter of the rest by recorded time:
  * a warm-up pass over a sample that includes them does not fit a run's
  * share of the benchmark's time. The remaining rows are dealt, heaviest
  * first, in a serpentine over slices of at most [[SampleRows]] rows, and
  * the middle slice is the sample: like every slice it spans the range of
  * their recorded times with about the same total. [[WarmPasses]]
  * unmeasured passes over the sample, run on several threads, warm it up;
  * the measured passes follow, one row at a time, each in an order the
  * seed draws: [[Passes]] of them, then more while fewer than `--seconds`
  * have passed, so the sample count (and the percentile the tail sits at) does not move
  * with the host's speed. The sample is fixed, measured warm and made of
  * distinct rows because row times differ by two orders of magnitude and
  * depend on what ran before: between seeds, a sample drawn per seed moved
  * the median latency by 18%, first executions of a fixed sample by 28%,
  * and eight rows measured three times each by 22%.
  */
object Register {
  final case class Expected(digest: Option[Long], rows: Long, family: String,
      seconds: Double, substrate: Boolean)

  val Families = Seq("extract", "dedup", "sim", "stream", "text", "rest")
  /** Rows per slice. The middle slice of the 143 eligible rows then has 13,
    * an odd count, so the median latency falls among one row's samples; a
    * 24-row sample put it across a 13% gap between two rows, and it moved
    * 9% between seeds. */
  val SampleRows = 13
  /** Measured passes over the sample. Three give 39 samples, so both the
    * median (20th) and the tail (29th, p74.4) fall on the middle sample of
    * one row's three rather than on the edge between two rows. */
  val Passes = 3
  /** Unmeasured passes over the sample before timing. After one, the first
    * measured pass still took about a quarter longer than the next two. */
  val WarmPasses = 2
  /** Rows above this quantile of recorded time are not sampled. */
  val TimeCap = 0.75

  def load(path: String): Map[String, Expected] = {
    val root = Json.strictMapper.readTree(new java.io.File(path))
    val rows = root.path("rows")
    require(rows.isObject, s"$path: no rows object")
    val it = rows.properties().iterator()
    val b = Map.newBuilder[String, Expected]
    while (it.hasNext) {
      val e = it.next(); val v = e.getValue
      b += e.getKey -> Expected(
        if (v.path("digest").isNull) None else Some(v.path("digest").asText().toLong),
        v.path("rows").asLong(), v.path("family").asText(), v.path("seconds").asDouble(),
        v.path("substrate").asBoolean())
    }
    b.result()
  }

  /** Serpentine deal of `names` (heaviest first) into `k` slices. */
  def slices(names: Seq[(String, Double)], k: Int): Seq[Seq[String]] = {
    val sorted = names.sortBy { case (n, s) => (-s, n) }.map(_._1)
    (0 until k).map { i =>
      sorted.zipWithIndex.collect {
        case (n, j) if { val r = j % (2 * k); r == i || r == 2 * k - 1 - i } => n
      }
    }
  }

  /** Hash of every output column and the row count, from one action. */
  def drive(spark: SparkSession, df: DataFrame, trace: Trace, op: Long): (Long, Long) = {
    val q = trace.span(op, "plan") {
      val q = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
        .agg(expr("bit_xor(h)"), count(lit(1)))
      q.queryExecution.executedPlan
      q
    }
    val r = trace.span(op, "exec")(q.collect()(0))
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  def run(ctx: Context): Result = {
    val spark = ctx.spark
    val expected = load(ctx.expectedPath)
    val queries = graft.SparkEntry.queries
    val usable = expected.toSeq.collect { case (n, e) if !e.substrate && queries.contains(n) => n -> e.seconds }
    val cap = usable.map(_._2).sorted.apply((TimeCap * (usable.size - 1)).toInt)
    val light = usable.filter(_._2 <= cap)
    val k = (light.size + SampleRows - 1) / SampleRows
    val sample = slices(light, k)(k / 2)
    val rng = new scala.util.Random(ctx.seed)
    ctx.note(s"register: ${light.size} of ${queries.size} rows eligible, sample of ${sample.size}: " +
      sample.mkString(","))

    val substrates = if (ctx.trace) graft.SparkEntry.substrates.map { case (n, fn) =>
      val t0 = System.nanoTime()
      fn(spark, ctx.sfDir).write.format("noop").mode("overwrite").save()
      n -> (System.nanoTime() - t0) / 1e9
    } else Nil
    val off = new Trace(spark.sparkContext, enabled = false)
    // a row's first execution is mostly driver-side planning and code
    // generation, so the warm-up runs rows side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, ctx.cores - 1))
    try (1 to WarmPasses).foreach(_ => sample.map(n => pool.submit(new Runnable {
      def run(): Unit = drive(spark, queries(n)(spark, ctx.sfDir), off, 0)
    })).foreach(_.get()))
    finally pool.shutdown()
    val setupS = ctx.sinceStart()
    ctx.note(f"set-up done at $setupS%.1f s")

    var failures = Vector.empty[String]
    def op(trace: Trace, id: Long, name: String): Double = {
      val t0 = System.nanoTime()
      val got = try {
        trace.span(id, "query") {
          val df = trace.span(id, "build")(queries(name)(spark, ctx.sfDir))
          Right(drive(spark, df, trace, id))
        }
      } catch { case e: Exception => Left(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val secs = (System.nanoTime() - t0) / 1e9
      val exp = expected(name)
      got match {
        case Left(msg) => failures :+= msg
        case Right((digest, rows)) =>
          if (rows != exp.rows) failures :+= s"$name: $rows rows, expected ${exp.rows}"
          else if (exp.digest.exists(_ != digest)) failures :+= s"$name: digest $digest, expected ${exp.digest.get}"
      }
      secs
    }

    // whole passes over the sample until both the pass count and the time are met
    val t0 = System.nanoTime()
    val measured = Vector.newBuilder[(String, Double)]
    var n = 0
    while (n < Passes * sample.size || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      rng.shuffle(sample).foreach { name => measured += name -> op(off, 1L + n, name); n += 1 }
    val wallS = (System.nanoTime() - t0) / 1e9
    val ops = measured.result()
    ctx.note(ops.map { case (name, s) => f"$name $s%.3f" }.mkString("measured: ", ", ", ""))
    val lat = ops.map(_._2)
    val heapMb = Main.heapAfterGc()
    val e2e = Main.endToEnd(setupS, lat, wallS, heapMb, Main.treeSize(ctx.root)._1,
      sample.size + ops.size)

    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val traced = new Trace(spark.sparkContext, enabled = true)
      val tStart = Trace.nowMicros()
      // one traced pass, in the order of the last measured pass, which it
      // is compared with; a run has no time for more
      val last = ops.takeRight(sample.size)
      val names = last.map(_._1)
      val tracedLat = names.zipWithIndex.map { case (name, i) => op(traced, i + 1L, name) }
      val tEnd = Trace.nowMicros()
      val drainS = traced.finish()
      traced.writeTo(ctx.traceOut)
      val jobs = traced.jobs.filter(_.op.isDefined)
      val spans = traced.spans
      val n = names.size.toDouble
      def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
      val family = names.zip(tracedLat).groupBy { case (name, _) => expected(name).family }
      Layers.spark(jobs, tStart, tEnd, n, ctx.cores, traced.unfinishedJobs) ++
        Layers.modules(jobs, n) ++
        Map(
          "queries.build_s" -> spanS("build"),
          "queries.plan_s" -> spanS("plan"),
          "queries.exec_s" -> spanS("exec"),
          "queries.build_jobs" -> jobs.count(_.span == "build") / n,
          "tables.substrates_s" -> substrates.map(_._2).sum,
          "trace.drain_s" -> drainS,
          "trace.overhead" -> (1.0 - last.map(_._2).sum / tracedLat.sum)) ++
        Families.map(f => s"family.${f}_s" ->
          family.get(f).map(v => v.map(_._2).sum / v.size).getOrElse(0.0)) ++
        substrates.map { case (s, v) => s"tables.substrate.${s}_s" -> v }
    }
    Result(ops.size + (if (ctx.trace) sample.size else 0), failures, e2e, layers)
  }
}
