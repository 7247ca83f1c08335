package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-addressed result memoization — the reference's signature
  * workload-level optimization (SURVEY.md §4): every unit of work is keyed by
  * SHA-1 of its canonical-JSON descriptor ([[HashKey]]); completed work is
  * reused across requests, missing work is computed (or enqueued) once
  * (`queue/request_tools.py:37-45,383-447`).
  *
  * Layout mirrors the reference's partition-pruned cache tree
  * (`extracts/<version>/<boundary>/cache/<dataset>/...`,
  * `queue/extract_check.py:92-98`): one Parquet dir per key under `root`.
  * Probe = dir exists AND `_SUCCESS` marker present AND non-empty — the
  * reference's belt-and-suspenders artifact check
  * (`queue/extract_check.py:104`, `queue/msr_check.py:47-51`). The
  * artifact tree is the cache's only record: there is no separate index
  * of done keys to keep in step with it, so miss detection is a per-key
  * probe (the reference's J4 likewise checks each item's artifact).
  * `_`-prefixed entries inside a key dir belong to that entry (the merged
  * result's CSV rendering, `_csv/`): Spark's parquet reads and [[probe]]
  * skip them, and refilling or invalidating the key removes them with it.
  *
  * Fills are single-flight per path ([[fillOnce]]): requests that run at
  * once and need the same entry share one write.
  */
final class Cache(val spark: SparkSession, root: String, version: String = "v1") {
  private def dir(key: String) = s"$root/$version/$key"

  /** The writes running now, by the path each writes; an entry leaves
    * the map when its write ends, so the map never outgrows the threads
    * filling this cache. */
  private val inFlight = new ConcurrentHashMap[String, CompletableFuture[Unit]]()

  /** Q3 completion probe, the cache's one done predicate: key dir
    * present with `_SUCCESS` and a non-empty parquet file. */
  def probe(key: String): Boolean = {
    val p = Paths.get(dir(key))
    Files.exists(p.resolve("_SUCCESS")) && {
      val files = p.toFile.listFiles()
      files != null && files.exists(f => f.getName.endsWith(".parquet") && f.length > 0)
    }
  }

  /** Run `write` for `path` unless `done`, at most once at a time per
    * path: a caller that finds another thread writing `path` waits for
    * that write to end, then checks `done` again, so a shared entry is
    * written once and a failed write is retried by the next caller. */
  @scala.annotation.tailrec
  private[ops] def fillOnce(path: String)(done: => Boolean)(write: => Unit): Unit =
    if (!done) {
      val mine = new CompletableFuture[Unit]()
      inFlight.putIfAbsent(path, mine) match {
        case null =>
          try { if (!done) write }
          finally { inFlight.remove(path, mine); mine.complete(()) }
        case running =>
          running.join()
          fillOnce(path)(done)(write)
      }
    }

  /** Fill `key` from `compute` unless it passes [[probe]] (the key dir
    * and its `_SUCCESS` live on the filesystem and so survive a process
    * restart). Returns the key's dir, which then holds the result. */
  def fill(key: String)(compute: => DataFrame): String = {
    fillOnce(dir(key))(probe(key))(compute.write.mode("overwrite").parquet(dir(key)))
    dir(key)
  }

  /** Memoized compute: [[fill]], then read back with the entry's footer
    * schema. Reading back (rather than returning `compute` directly)
    * means downstream plans see a plain Parquet scan — prunable and
    * reusable. */
  def getOrCompute(key: String)(compute: => DataFrame): DataFrame =
    Fs.readParquet(spark, fill(key)(compute))

  /** Fill MANY missing keys with ONE Spark job (the batch side of
    * incremental view maintenance): write `df` partitioned by `partCol`
    * (whose values name the keys via `keyFor`), then promote each
    * partition directory to a plain cache key dir, stamping the
    * `_SUCCESS` marker the probe contract requires. A per-key
    * `getOrCompute` loop runs N sequential jobs where this runs one — at
    * 10⁵ partition-days the loop serializes on the driver while this
    * stays one distributed write.
    *
    * `partCol` is dropped from the data files by `partitionBy` (standard
    * Hive layout), so callers keep any needed copy of the value as a
    * separate data column. Returns the filled keys. */
  def fillManyPartitioned(df: DataFrame, partCol: String,
      keyFor: String => String): Seq[String] = {
    // reap staging dirs orphaned by crashed fills — only stale ones,
    // never a concurrent call's active staging
    Fs.reapStale(Paths.get(dir("")), "_staging_")
    // per-call staging dir: two concurrent fills against one cache must
    // not interleave partition dirs in a shared staging root (the promote
    // loop would move a sibling's half-written output)
    val staging = Paths.get(dir(
      s"_staging_${java.util.UUID.randomUUID().toString.take(8)}"))
    df.write.mode("overwrite").partitionBy(partCol).parquet(staging.toString)
    val parts = Option(staging.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))
      .sortBy(_.getName)
    val partKeys = parts.map(p => p -> keyFor(p.getName.drop(partCol.length + 1)))
    val keys = partKeys.map { case (p, key) =>
      val target = Paths.get(dir(key))
      deleteKeyDir(target)
      Files.move(p.toPath, target)
      Files.createFile(target.resolve("_SUCCESS"))
      key
    }.toSeq
    // clear the staging root (only the top-level _SUCCESS remains)
    Fs.deleteTree(staging)
    keys
  }

  /** Read MANY materialized plain-layout keys as ONE multi-path parquet
    * scan — the combine step of incremental view maintenance reads every
    * partial; N separate scans unioned cost N plan nodes + N directory
    * listings where one scan with N root paths costs one. Caller
    * guarantees the keys are materialized (e.g. via [[getOrCompute]],
    * whose write is eager, or [[fillManyPartitioned]]) and share a
    * schema. */
  def readMany(keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "readMany needs at least one key")
    spark.read.parquet(keys.map(dir): _*)
  }

  // _SUCCESS first: a crash part-way must never leave the marker over torn files
  private def deleteKeyDir(d: Path): Unit =
    if (Files.exists(d)) {
      Files.deleteIfExists(d.resolve("_SUCCESS"))
      Fs.deleteTree(d)
    }

  def invalidate(key: String): Unit = deleteKeyDir(Paths.get(dir(key)))
}

object Cache {
  /** A content-fingerprinted cache root for memoizing derived partials of a
    * source table: mixes the table's file listing (names, sizes, mtimes)
    * into the key so a fixture regenerated AT THE SAME PATH versions the
    * cache instead of probe-hitting stale partials. Shared by the
    * incremental-maintenance query and its spec — the root derivation is a
    * contract, not an implementation detail. */
  def contentRoot(prefix: String, sfDir: String, table: String): String = {
    val src = new java.io.File(s"$sfDir/$table.parquet")
    // the fixture may be a single parquet FILE or a directory of parts —
    // fingerprint whichever exists (listFiles() is null for a plain file)
    val files =
      if (src.isFile) Array(src)
      else Option(src.listFiles()).getOrElse(Array.empty).filter(_.isFile)
    val fp = files.sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    s"${sys.props("java.io.tmpdir")}/${prefix}_" +
      HashKey.sha1Hex(s"$sfDir|$fp").take(12)
  }
}
