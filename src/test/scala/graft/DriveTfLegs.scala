package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{LlmOps, Tables}
import graft.ops.Ckpt._

/** Scratch main: adjudicate the r16 per-pass (doc,token)/(doc,gram)
  * checkpoint trade the round-16 driver bench flagged (VERDICT r16 #2:
  * tfidf_top 1.18 → 1.67 s round-over-round, the one slice regression
  * coinciding with a code change). Reconstructs tfidf_top /
  * repeated_ngrams / bm25_top inline WITH and WITHOUT the shared-frame
  * sever and times both in ONE session, interleaved (severed,
  * unsevered, severed, …) so host noise lands on both variants — the
  * same protocol as DriveGuidedLegs and DriveContainLegs (probe mains
  * since deleted).
  *
  * Usage: Test/runMain graft.DriveTfLegs [sfDir] [rounds]
  */
object DriveTfLegs {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val rounds = if (args.length > 1) args(1).toInt else 3
    val s = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.expressions.Window

    def docs(): DataFrame = Tables.t(s, d, "documents")
    def tokens(): DataFrame = {
      val base = docs()
      base.repartition(LlmOps.spreadWidth(base))
        .select(col("doc_id"),
          explode(split(LlmOps.normText(col("text")), " ")).as("token"))
    }
    def tfidf(sever: Boolean): DataFrame = {
      val tf0 = tokens().groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val tf = if (sever) tf0.diskCheckpointLazy() else tf0
      val dfq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val nDocs = docs().agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_r").desc, col("token").asc)
      tf.join(dfq, Seq("token"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score_r",
          round(col("tf") * log(col("n_docs") / col("df")), 6))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("score_r"), col("rk"))
    }
    def bm25(sever: Boolean): DataFrame = {
      val tf0 = tokens().groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val tf = if (sever) tf0.diskCheckpointLazy() else tf0
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val nDocs = docs().agg(count(lit(1)).as("n_docs"))
      val avgdl = dl.agg(avg(col("dl")).as("avgdl"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_r").desc, col("token").asc)
      tf.join(dfq, Seq("token"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(nDocs))
        .crossJoin(broadcast(avgdl))
        .withColumn("idf",
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
        .withColumn("score_r", round(
          col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("score_r"), col("rk"))
    }
    def repeated(sever: Boolean): DataFrame = {
      val base = docs()
      val g0 = base.repartition(LlmOps.spreadWidth(base))
        .select(col("doc_id"), explode(graft.functions.native
          .word_ngrams(LlmOps.normText(col("text")), 5)).as("gram"))
        .distinct()
      val g = if (sever) g0.diskCheckpointLazy() else g0
      val dfc = g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      val per = g.join(dfc, Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_rep"))
      base.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_rep"), lit(0L)).as("n_rep"))
        .withColumn("rep_frac",
          when(col("n_grams") === 0, lit(0.0))
            .otherwise(round(col("n_rep").cast("double") / col("n_grams"), 6)))
    }
    def run(df: DataFrame): Unit =
      df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(expr("bit_xor(h)")).head(): Unit
    def time(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"  $label%-34s $dt%7.3f s")
      dt
    }
    // warm both variants of everything
    Seq(true, false).foreach { sv =>
      run(tfidf(sv)); run(repeated(sv)); run(bm25(sv))
    }
    for (r <- 1 to rounds) {
      println(s"-- round $r ($d)")
      time("tfidf   severed") { run(tfidf(true)) }
      time("tfidf   unsevered") { run(tfidf(false)) }
      time("repeat  severed") { run(repeated(true)) }
      time("repeat  unsevered") { run(repeated(false)) }
      time("bm25    severed") { run(bm25(true)) }
      time("bm25    unsevered") { run(bm25(false)) }
    }
    s.stop()
  }
}
