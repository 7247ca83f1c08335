package graft.ops

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** Filesystem helpers shared by the cache, the state table, the cron
  * pass and the artifact copies, and the schema-known read of a parquet
  * dir. */
private[graft] object Fs {
  /** The `part-*<suffix>` files directly under `dir`, sorted by name. */
  def partFiles(dir: Path, suffix: String): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      n.startsWith("part-") && n.endsWith(suffix)
    }.toSeq.sorted
    finally s.close()
  }

  /** The schema Spark records in the footer of a parquet file it wrote. */
  private def footerSchema(spark: SparkSession, file: Path): StructType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), spark.sparkContext.hadoopConfiguration))
    try DataType.fromJson(r.getFileMetaData.getKeyValueMetaData
      .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType]
    finally r.close()
  }

  /** Parquet dirs Spark wrote with one schema, read as one frame with
    * the first dir's first part file's footer schema: a bare
    * `spark.read.parquet(dirs)` launches a schema-inference job, this
    * launches none until an action runs. Even an empty write leaves one
    * part file carrying the schema. */
  def readParquet(spark: SparkSession, dirs: String*): DataFrame =
    spark.read.schema(footerSchema(spark, partFiles(Paths.get(dirs.head), ".parquet").head))
      .parquet(dirs: _*)

  /** The lock files some thread of this JVM holds, by real path. */
  private val held = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** Runs `f` holding an exclusive OS lock on `lockFile` (created if
    * absent), or returns None without running it while another thread of
    * this JVM or another process holds it. The kernel drops the lock when
    * its holder's process dies, so a crashed holder leaves nothing stale.
    * POSIX record locks belong to the process: a second channel in this
    * JVM could not see the first one's lock, and closing it would drop
    * that lock, hence the in-JVM set. For the same reason nothing else
    * may open `lockFile`, and nothing may delete it: a second writer
    * would lock a fresh inode. */
  def tryLocked[T](lockFile: Path)(f: => T): Option[T] = {
    val abs = lockFile.toAbsolutePath
    val key = abs.getParent.toRealPath().resolve(abs.getFileName)
    if (!held.add(key)) None
    else try {
      val ch = FileChannel.open(key, StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try Option(ch.tryLock()).map(_ => f) finally ch.close() // close releases
    } finally held.remove(key)
  }

  /** Recursive delete, children first; a no-op on a missing path.
    * `Files.walk` does not follow symlinks, so a link is removed, never
    * its target. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))

  /** Reap the staging dirs under `under` whose names start with `prefix`
    * and that a crashed write abandoned: per-attempt-unique names mean no
    * retry ever reuses them. Only stale dirs go, never an in-flight
    * write's. Staleness checks the NEWEST mtime in the whole subtree, not
    * the root's: a long distributed write touches files deep under
    * _temporary/ without refreshing the staging root, so a root-mtime
    * check would reap an ACTIVE >1h write mid-job (the walk only runs for
    * dirs whose root already looks stale). */
  def reapStale(under: Path, prefix: String): Unit = {
    val cutoff = System.currentTimeMillis() - 60 * 60 * 1000L
    // never FOLLOW symlinks: a cycle (dir symlink pointing at an
    // ancestor) would recurse to StackOverflowError; the link's own
    // mtime still counts via `f.lastModified` at the parent level
    def newest(f: java.io.File): Long = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
        .filterNot(k => Files.isSymbolicLink(k.toPath))
      (f.lastModified +: kids.map(newest).toSeq).max
    }
    Option(under.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix)
        && f.lastModified < cutoff && newest(f) < cutoff)
      .foreach(f => deleteTree(f.toPath))
  }
}
