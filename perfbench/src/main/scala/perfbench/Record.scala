package perfbench

import org.apache.spark.sql.SparkSession

/** Records what `expected/register.json` holds for every register row:
  * digest and row count (as `Register.drive` computes them), the seconds
  * the row took, its query family and whether it reads a memoized
  * substrate. Writes one tab-separated line per row to the file named by
  * the last argument; `record.py` runs this more than once and merges.
  *
  * Family and substrate use are not public, so this recorder (and only
  * this recorder) reads them by reflection: the family from the private
  * per-family row lists of `QueriesCore`/`QueriesExt`, substrate use from
  * the `derived:` keys a row adds to the `Tables.memo` map.
  */
object Record {
  private val FamilyLists = Seq(
    "QueriesCore" -> "extractQueries" -> "extract",
    "QueriesExt" -> "dedupQueries" -> "dedup",
    "QueriesExt" -> "simQueries" -> "sim",
    "QueriesExt" -> "streamQueries" -> "stream",
    "QueriesExt" -> "textQueries" -> "text")

  private def privateField(obj: AnyRef, suffix: String): AnyRef = {
    val f = obj.getClass.getDeclaredFields.find(_.getName.endsWith(suffix))
      .getOrElse(sys.error(s"no field *$suffix on ${obj.getClass.getName}"))
    f.setAccessible(true)
    f.get(obj)
  }

  private def module(name: String): AnyRef =
    Class.forName(s"graft.$name$$").getField("MODULE$").get(null)

  def families(): Map[String, String] = FamilyLists.flatMap { case ((obj, field), family) =>
    privateField(module(obj), field).asInstanceOf[Seq[(String, Any)]].map(_._1 -> family)
  }.toMap

  private def memo(spark: SparkSession): java.util.Map[String, _] = {
    val frames = privateField(module("ops.Tables"), "frames").asInstanceOf[java.util.Map[AnyRef, java.util.Map[String, _]]]
    frames.synchronized(Option(frames.get(spark)).getOrElse(java.util.Collections.emptyMap[String, AnyRef]()))
  }

  def main(args: Array[String]): Unit = {
    val Array(cores, sfDir, out) = args
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val family = families()
    val off = new Trace(spark.sparkContext, enabled = false)
    val w = new java.io.PrintWriter(out)
    try graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // drop memoized substrates so a consumer rebuilds, and so shows, its own
      memo(spark).keySet.removeIf(_.startsWith("derived:"))
      val t0 = System.nanoTime()
      val (digest, rows) = Register.drive(spark, fn(spark, sfDir), off, 0)
      val secs = (System.nanoTime() - t0) / 1e9
      val substrate = memo(spark).keySet.stream.anyMatch(_.startsWith("derived:"))
      w.println(Seq(name, digest, rows, secs, substrate, family.getOrElse(name, "rest")).mkString("\t"))
      w.flush()
    } finally w.close()
    spark.stop()
  }
}
