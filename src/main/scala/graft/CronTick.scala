package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Request
import graft.ops.{Fs, Tables}

/** One cron pass as a runnable main — the operational analog of the
  * reference's `queue/processing.py` (bootstrap → ingest submissions →
  * drain the queue → write artifacts → exit for cron to re-invoke).
  *
  * Usage: `CronTick <workDir> <sfDir> [requests.jsonl]`
  *
  * `requests.jsonl` is an optional drop file of request documents (one
  * JSON object per line, the [[Request]] shape) — the stand-in for the
  * reference's web frontend inserting into Mongo; absent or empty means
  * "just drain whatever is pending". The pass prints one JSON summary
  * line (`{"ticked":N,"completed":N,"errors":N}`) and exits 0 even when
  * individual requests fail — a failed request is demoted to status -2
  * inside the tick (fault containment), not a crashed cron pass.
  */
object CronTick {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CronTick <workDir> <sfDir> [requests.jsonl]")
    val Seq(workDir, sfDir) = args.take(2).toSeq

    // single-flight guard: state-table commits are read-modify-write, so
    // two passes sharing a workDir (a slow pass overlapping the next cron
    // fire) would race version writes and lose transitions. An OS file
    // lock is held for the whole pass and released however it ends; a
    // second instance reports and exits 0 — standard cron overlap
    // behavior, next fire picks it up.
    Files.createDirectories(Paths.get(workDir))
    Fs.tryLocked(Paths.get(workDir, ".cron.lock"))(pass(workDir, sfDir, args.lift(2)))
      .getOrElse(println("""{"ticked":0,"completed":0,"errors":0,"skipped":"pass already running"}"""))
  }

  private def pass(workDir: String, sfDir: String, dropFile: Option[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // only stop a session this pass created — embedded callers (tests,
    // notebooks) keep theirs
    val hadSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val engine = new Engine(spark, workDir)
    var skipped = 0L
    dropFile.foreach { drop =>
      // an explicitly-passed path that doesn't exist is an operator error,
      // not "nothing to ingest" — silently draining zero documents while
      // submissions pile up would look exactly like a healthy pass
      require(new java.io.File(drop).exists(), s"drop file not found: $drop")
      val schema = Encoders.product[Request].schema
      val raw = spark.read.schema(schema).json(drop)
      // tolerant decode: frontend documents legitimately omit fields that
      // carry Scala defaults (status, priority, email, stage), and the
      // encoder's non-nullable Int fields would otherwise throw on the
      // whole batch. Only id + boundary.name are truly required; rows
      // missing those (including unparseable lines, which read all-null)
      // are counted and skipped — per-document fault containment.
      def emptyLike(field: String) =
        array().cast(schema(field).dataType)
      val wellFormed = raw
        .filter(col("id").isNotNull && col("boundary.name").isNotNull)
        .na.fill(Map("status" -> -1, "priority" -> 0))
        .withColumn("email", coalesce(col("email"), lit("")))
        .withColumn("custom_name", coalesce(col("custom_name"), lit("")))
        .withColumn("release_data", coalesce(col("release_data"), emptyLike("release_data")))
        .withColumn("raster_data", coalesce(col("raster_data"), emptyLike("raster_data")))
        .withColumn("stage", coalesce(col("stage"), emptyLike("stage")))
      skipped = raw.count() - wellFormed.count()
      engine.submitAll(wellFormed.as[Request].collect().toSeq)
    }

    // the same relational mapping the engine's queries use: zones from the
    // nation dimension, pixels/locations from the fact tables
    val base = Tables.nation(spark, sfDir)
      .select($"n_nationkey".as("asdf_id"), $"n_name")
    val locations = Tables.locations(spark, sfDir)
      .withColumn("asdf_id", $"cell_id" % 25)
      .withColumn("alloc", $"amount" * 0.9)
      .withColumn("donors", org.apache.spark.sql.functions.lit("AFDB"))
    val outcomes = engine.tick(base, Tables.pixels(spark, sfDir), locations)

    val completed = outcomes.count(_._2 == 1)
    val errors = outcomes.count(_._2 == -2)
    println(s"""{"ticked":${outcomes.size},"completed":$completed,"errors":$errors,"skipped_malformed":$skipped}""")
    if (!hadSession) spark.stop()
  }
}
