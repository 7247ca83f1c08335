package graft.ops

import java.nio.file.{Files, Path, Paths}
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
  */
final class Cache(spark: SparkSession, root: String, version: String = "v1") {
  private def dir(key: String) = s"$root/$version/$key"

  /** Catalog table names must be scoped to THIS cache instance (root +
    * version) — the session catalog is global, and an unscoped name would
    * let one cache's bucketed tables satisfy another cache's probe. */
  private val rootTag =
    HashKey.sha1Hex(root).take(8)
  private def bucketTable(key: String) = s"graft_cache_${rootTag}_${version}_$key"

  private def probePlain(key: String): Boolean = {
    val p = Paths.get(dir(key))
    Files.exists(p.resolve("_SUCCESS")) && {
      val files = p.toFile.listFiles()
      files != null && files.exists(f => f.getName.endsWith(".parquet") && f.length > 0)
    }
  }

  /** Q3 completion probe: present and non-empty — either layout (plain
    * key dir or bucketed catalog table). */
  def probe(key: String): Boolean =
    probePlain(key) || spark.catalog.tableExists(bucketTable(key))

  /** Memoized compute in the plain layout (key dir + `_SUCCESS`, which
    * lives on the filesystem and so survives a process restart): return
    * the cached frame if the key dir passes the probe, else compute,
    * persist, and read back. Reading back (rather than returning `compute`
    * directly) means downstream plans see a plain Parquet scan — prunable
    * and reusable. */
  def getOrCompute(key: String, dryRun: Boolean = false)(compute: => DataFrame): DataFrame = {
    if (probePlain(key)) spark.read.parquet(dir(key))
    else if (dryRun) Ckpt.planOnly(compute) // probe-only: no checkpoint
    // materialization — under AQE even a lazy localCheckpoint would run
    // every upstream stage during frame CONSTRUCTION (see Ckpt.planOnly)
    else {
      compute.write.mode("overwrite").parquet(dir(key))
      spark.read.parquet(dir(key))
    }
  }

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
    // reap staging dirs orphaned by crashed fills (UUID-named, so a retry
    // never reuses them) — but only stale ones, never a concurrent call's
    // active staging. Staleness checks the NEWEST mtime in the whole
    // subtree, not the root's: a long distributed write touches files
    // deep under _temporary/ without refreshing the staging root, so a
    // root-mtime check would reap an ACTIVE >1h write mid-job (the walk
    // only runs for dirs whose root already looks stale).
    val cutoff = System.currentTimeMillis() - 60 * 60 * 1000L
    // never FOLLOW symlinks (cycle → StackOverflowError); the link's own
    // mtime still counts via `f.lastModified` at the parent level
    def newestMtime(f: java.io.File): Long = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
        .filterNot(k => Files.isSymbolicLink(k.toPath))
      (f.lastModified +: kids.map(newestMtime).toSeq).max
    }
    Option(Paths.get(dir("")).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("_staging_")
        && f.lastModified < cutoff && newestMtime(f) < cutoff)
      .foreach { d =>
        Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
      }
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
    Option(staging.toFile.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    Files.deleteIfExists(staging)
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

  /** Bucketed materialization (SURVEY.md §4 physical notes): persist a
    * frame bucketed by `bucketCol`, so joins between tables bucketed the
    * same way need no exchange (the fine-grid [[Tables.pixelsBucketed]] /
    * [[Tables.zoneMapBucketed]] pair). Requires a session catalog; with
    * the default in-memory catalog the entry is forgotten when the process
    * exits, so the request path uses the plain layout of [[getOrCompute]].
    */
  def getOrComputeBucketed(key: String, buckets: Int = 32,
      bucketCol: String = "asdf_id")(compute: => DataFrame): DataFrame = {
    val table = bucketTable(key)
    if (!spark.catalog.tableExists(table)) {
      compute.write
        .bucketBy(buckets, bucketCol)
        .sortBy(bucketCol)
        .option("path", dir(s"bucketed_$key"))
        .saveAsTable(table)
    }
    spark.table(table)
  }

  // _SUCCESS first: a crash part-way must never leave the marker over torn files
  private def deleteKeyDir(d: Path): Unit =
    if (Files.exists(d)) {
      Files.deleteIfExists(d.resolve("_SUCCESS"))
      d.toFile.listFiles().foreach(_.delete())
      Files.delete(d)
    }

  def invalidate(key: String): Unit = {
    Seq(Paths.get(dir(key)), Paths.get(dir(s"bucketed_$key"))).foreach(deleteKeyDir)
    if (spark.catalog.tableExists(bucketTable(key)))
      spark.sql(s"DROP TABLE `${bucketTable(key)}`")
  }
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
