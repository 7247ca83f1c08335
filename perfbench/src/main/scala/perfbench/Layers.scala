package perfbench

/** Per-layer figures computed from a traced phase's jobs. Counts and times
  * are per op unless the name says otherwise. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Spark runtime totals over a phase that ran from `startUs` to `endUs`. */
  def spark(jobs: Seq[Trace.Job], startUs: Long, endUs: Long, ops: Double, cores: Int,
      unfinished: Int): Map[String, Double] = {
    require(unfinished == 0, s"$unfinished traced jobs never ended")
    val t = jobs.map(_.tasks).foldLeft(Trace.TaskTotals())(_ + _)
    val wallS = (endUs - startUs) / 1e6
    val busyS = Stats.unionLength(jobs.map(j => (j.startMs, j.endMs))) / 1e3
    Map(
      "spark.jobs_per_op" -> jobs.size / ops,
      "spark.stages_per_op" -> jobs.map(_.stages).sum / ops,
      "spark.tasks_per_op" -> t.count / ops,
      "spark.task_s" -> t.runMs / 1e3 / ops,
      "spark.gc_s" -> t.gcMs / 1e3 / ops,
      "spark.shuffle_read_mb" -> t.shuffleReadBytes / MB / ops,
      "spark.shuffle_write_mb" -> t.shuffleWriteBytes / MB / ops,
      "spark.spill_mb" -> t.spillBytes / MB / ops,
      "spark.core_util" -> t.runMs / 1e3 / (wallS * cores),
      "spark.driver_s" -> math.max(0.0, wallS - busyS) / ops)
  }

  /** The names of a module's job count and job seconds where the per-layer
    * table names its layer; every other module reports as
    * `module.<m>.jobs` and `module.<m>.s`. */
  val LayerNames: Map[String, (String, String)] = Map(
    "ckpt" -> ("ckpt.jobs", "ckpt.s"),
    "cache" -> ("cache.fill_jobs", "cache.fill_s"),
    "statetable" -> ("statetable.jobs", "statetable.s"),
    "artifacts" -> ("artifacts.jobs", "artifacts.s"))

  /** Jobs and job seconds charged to each module. */
  def modules(jobs: Seq[Trace.Job], ops: Double): Map[String, Double] =
    Modules.all.flatMap { m =>
      val js = jobs.filter(_.module == m)
      val (jobsName, secondsName) = LayerNames.getOrElse(m, (s"module.$m.jobs", s"module.$m.s"))
      Seq(jobsName -> js.size / ops, secondsName -> js.map(_.seconds).sum / ops)
    }.toMap

  /** Seconds of `span` not covered by any job that ran inside it. */
  def driverSeconds(spans: Seq[Trace.Span], jobs: Seq[Trace.Job]): Double =
    spans.map { s =>
      val inside = jobs.map(j => (math.max(j.startMs * 1000, s.startUs), math.min(j.endMs * 1000, s.endUs)))
      math.max(0L, s.endUs - s.startUs - Stats.unionLength(inside)) / 1e6
    }.sum
}
