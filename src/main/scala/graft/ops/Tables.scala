package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver test tables (TESTDATA.md / FIXTURES.md) plus the
  * canonical relational stand-ins for the reference's domain objects
  * (SURVEY.md §7.2: a raster IS a relation `(cell_id, value)`, a boundary IS
  * `(cell_id, asdf_id, weight)`).
  *
  * Scale posture: `lineitem` is the fact table (the "pixels"); `supplier`,
  * `nation`, `part` are small dimensions and are always broadcast into joins
  * so the pixel→zone map join is shuffle-free at any scale.
  */
object Tables {
  /** Memoized analyzed frames, keyed per session then by path.
    * `spark.read.parquet` re-lists the directory and re-reads footers for
    * schema inference on every call; a bench/engine run touches the same
    * ~10 tables across ~80 queries, so reusing the immutable logical plan
    * removes that per-query constant.
    *
    * Eviction needs BOTH reference strengths: a cached Dataset strongly
    * reaches its SparkSession via queryExecution, so weak session keys
    * alone never clear (the classic value→key WeakHashMap defeat). Frame
    * values are therefore SOFT — cleared under memory pressure — and once
    * a dead session's frames clear, nothing reaches the weak key and the
    * whole per-session entry collects. A long-lived JVM creating and
    * stopping many sessions degrades to recompute-on-miss instead of
    * OOMing.
    *
    * The memo also pins the FILE LISTING taken at first read — correct
    * for the immutable test-data dirs this loader serves; a caller that
    * rewrites a table directory in place must [[invalidate]] first.
    * Mutable state (queue, cache, request store) deliberately bypasses
    * this loader. */
  private val frames = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[DataFrame]]]()

  /** Generic per-(session, key) frame memo with the eviction story above.
    * Also the right home for expensive DERIVED frames that several queries
    * share (e.g. the duplicate-cluster labels): a real deployment would
    * materialize such an intermediate once — this memo is the in-session
    * equivalent. `build` may run more than once under concurrent first
    * callers (both results are equivalent; last write wins) and again after
    * a soft-ref clear — it must be pure. */
  def memo(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val perSession = frames.synchronized {
      var m = frames.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[
          String, java.lang.ref.SoftReference[DataFrame]]()
        frames.put(spark, m)
      }
      m
    }
    Option(perSession.get(key)).flatMap(r => Option(r.get)).getOrElse {
      val df = build
      perSession.put(key, new java.lang.ref.SoftReference(df))
      df
    }
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, s"$dir/$name.parquet")(spark.read.parquet(s"$dir/$name.parquet"))

  /** Drop every memoized frame (all sessions) — required before re-reading
    * a table directory that was rewritten in place. Takes the same lock as
    * [[memo]]: WeakHashMap is not thread-safe, and an unsynchronized
    * clear() racing a put() can corrupt the bucket chains. */
  def invalidate(): Unit = frames.synchronized { frames.clear() }

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  /** `events.parquet` has stored `ts` as TIMESTAMP(NANOS) (rejected by
    * Spark's parquet reader unless read as long) and, after a fixture
    * regeneration, as a naive µs timestamp (which Spark 4 reads as
    * TIMESTAMP_NTZ). Normalize BOTH to a session-TZ µs TIMESTAMP here, at
    * the one table entry point: the session timezone is pinned to UTC by
    * every entry main, so the NTZ→TZ cast re-labels the same wall-clock
    * instant DuckDB sees when it reads the naive value — neither path
    * shifts the instant. Downstream operators can then assume plain
    * TIMESTAMP (`unix_micros`, range frames, watermarks). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** The canonical "pixels ⋈ zone_map" relation used by the zonal-statistics
    * extract queries (SURVEY.md §2.4). Zones ⇐ `s_nationkey` (`asdf_id`),
    * pixel value ⇐ `l_extendedprice`, coverage weight ⇐ `l_quantity`,
    * categorical class ⇐ `l_returnflag`, temporal slice ⇐ `year(l_shipdate)`.
    *
    * The dimension side is explicitly broadcast: at 100 TB the fact side
    * never shuffles for this join.
    */
  def pixels(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .select(
        col("s_nationkey").as("asdf_id"),
        col("l_extendedprice").as("value"),
        col("l_quantity").as("weight"),
        col("l_returnflag").as("cls"),
        year(col("l_shipdate")).as("temporal"),
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_partkey"),
        col("l_discount"))

  /** DuckDB-side equivalent of [[pixels]] as a CTE body (oracle SQL). */
  val pixelsSql: String =
    """SELECT s_nationkey AS asdf_id, l_extendedprice AS value,
      | l_quantity AS weight, l_returnflag AS cls,
      | year(l_shipdate) AS temporal, l_orderkey, l_linenumber, l_partkey,
      | l_discount
      | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin.replace("\n", "")

  /** Project-location points for the MSR path (FIXTURES.md: project =
    * `o_orderkey`, location = line item, amount = `o_totalprice`, grid cell ⇐
    * `l_partkey`). Orders is the smaller side but still large at scale: this
    * is a key-partitioned shuffle join on `l_orderkey`/`o_orderkey`, which
    * AQE handles; no broadcast assumption.
    */
  def locations(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_orderkey").as("project_id"),
        col("l_partkey").as("cell_id"),
        col("o_totalprice").as("amount"),
        col("o_orderpriority").as("donor"),
        col("o_orderstatus").as("status"),
        col("l_linenumber"))

  val locationsSql: String =
    """SELECT o_orderkey AS project_id, l_partkey AS cell_id,
      | o_totalprice AS amount, o_orderpriority AS donor,
      | o_orderstatus AS status, l_linenumber
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin.replace("\n", "")
}
