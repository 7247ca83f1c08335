package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.graft.Bridge

/** Versioned Parquet state table — the offline stand-in for the reference's
  * mutable Mongo collections (`asdf.det` / `asdf.extracts` / `asdf.msr`,
  * SURVEY.md §1.1): reads always see one consistent committed version;
  * writes produce a new immutable version directory and atomically swap a
  * pointer file (write-temp + atomic move). Old versions are retained —
  * cheap history/debugging, bounded by [[vacuum]].
  *
  * ONE COMMIT POINT. A version directory holds the live snapshot, the
  * names of the delta batches it folded (`_FOLDED`) and the names of the
  * archive batches it lists (`_ARCHIVE`). The pointer swap that publishes
  * the snapshot publishes all three, so a reader that reads the pointer
  * once sees one consistent table, and a batch no published version
  * lists is invisible (a crashed writer's batch is garbage, never data).
  *
  * ONE INVARIANT: every key sits in exactly one of three disjoint parts —
  * the live snapshot, one unfolded delta batch, or the archive.
  * [[appendDelta]] drops incoming rows whose key is in any part, under
  * the writer lock, so an insert decides first-body-wins once;
  * [[retire]] moves live keys to the archive in one commit. So [[read]]
  * is a plain scan of the snapshot and the unfolded batches, [[archive]]
  * a plain scan of the listed batches and [[readAll]] their union, and
  * no read deduplicates.
  *
  * Version directories are uniquely named (`v{N}_{uuid}`) and the
  * pointer stores the directory NAME, so a commit writes straight into a
  * directory no reader follows until the pointer swap.
  *
  * ONE WRITER at a time, by an OS file lock on `_LOCK`; a second writer
  * fails loudly. Like `CronTick`'s pass lock, the store needs `java.nio`
  * on a local POSIX filesystem.
  *
  * Incremental ingest goes through [[appendDelta]]: an O(batch)
  * append-only delta directory merged into every read and FOLDED into the
  * snapshot by the next full commit (commit/retire) — without it,
  * every submit rewrites the live snapshot and ingest is O(live)
  * (measured: +1k submit cost ~1.2 s against a 10⁵-row live queue,
  * DriveQueueScale round 13; the lifecycle's one super-linear write).
  *
  * This is deliberately a miniature of the transactional-table pattern
  * (Delta/Iceberg-style, where one commit publishes every file of a
  * version) built only on local filesystem primitives: atomic rename and
  * a record lock.
  */
final class StateTable(spark: SparkSession, dir: String, keys: Seq[String]) {
  private val root = Paths.get(dir)
  private val pointer = root.resolve("_CURRENT")
  private val deltaRoot = root.resolve("_delta")
  private val archiveRoot = root.resolve("_archive")
  private val keyCols = keys.map(col)
  Files.createDirectories(root)
  require(currentDirName.forall(dn => Files.exists(root.resolve(dn).resolve("_ARCHIVE")))
      || subdirs(archiveRoot, "b").isEmpty,
    s"$archiveRoot holds archive batches that the current version does not " +
      "list: an older layout published them apart from the snapshot; read " +
      "the table with the previous build or use a new table dir")
  require(subdirs(deltaRoot, "d").filterNot(_.startsWith("dk"))
      .forall(currentDirName.toSeq.flatMap(listed(_, "_FOLDED")).toSet),
    s"$deltaRoot holds unfolded delta batches an older build appended, whose " +
      "keys may repeat live ones: fold them by ticking the table once with " +
      "the previous build, or use a new table dir")

  /** Pointer content → committed dir name. Pre-round-14 tables stored the
    * bare version number with `v$n` dirs; both forms stay readable. */
  private def currentDirName: Option[String] =
    if (!Files.exists(pointer)) None
    else Some(Files.readString(pointer).trim) map { c =>
      if (c.forall(_.isDigit)) s"v$c" else c
    }

  private def versionOf(dirName: String): Long =
    dirName.drop(1).takeWhile(_.isDigit).toLong

  private def currentVersion: Option[Long] = currentDirName.map(versionOf)

  /** Names of the `prefix*` directories directly under `under`, sorted. */
  private def subdirs(under: Path, prefix: String): Seq[String] =
    Option(under.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName).sorted.toSeq

  /** The names version dir `dn` lists in its `file` (`_FOLDED` or
    * `_ARCHIVE`); empty when the file is absent. */
  private def listed(dn: String, file: String): Seq[String] = {
    val f = root.resolve(dn).resolve(file)
    if (Files.exists(f)) Files.readString(f).split("\n").filter(_.nonEmpty).toSeq
    else Seq.empty
  }

  /** Current committed snapshot plus the unfolded delta batches: one
    * scan, key-unique by the invariant (None before the first commit
    * when no deltas exist). */
  def read(): Option[DataFrame] = liveAt(currentDirName)

  /** Archived rows, if any: one scan of the batches the current version
    * lists. */
  def archive(): Option[DataFrame] = archiveAt(currentDirName)

  /** Live ∪ archive — the full-history view ([[read]] is the live view),
    * both sides from one pointer read. */
  def readAll(): Option[DataFrame] = {
    val dn = currentDirName
    (liveAt(dn), archiveAt(dn)) match {
      case (Some(l), Some(a)) => Some(l.unionByName(a))
      case (l, a) => l.orElse(a)
    }
  }

  // Every read is schema-known ([[Fs.readParquet]]): no job runs until an
  // action does.
  private def liveAt(dn: Option[String]): Option[DataFrame] = {
    val folded = dn.toSeq.flatMap(listed(_, "_FOLDED")).toSet
    val dirs = dn.map(root.resolve(_)).toSeq ++
      subdirs(deltaRoot, "dk").filterNot(folded).map(deltaRoot.resolve(_))
    if (dirs.isEmpty) None else Some(Fs.readParquet(spark, dirs.map(_.toString): _*))
  }

  private def archiveAt(dn: Option[String]): Option[DataFrame] =
    archived(dn) match {
      case Seq() => None
      case batches => Some(Fs.readParquet(spark, batchDirs(batches): _*))
    }

  /** The archive batches version dir `dn` lists. */
  private def archived(dn: Option[String]): Seq[String] =
    dn.toSeq.flatMap(listed(_, "_ARCHIVE"))

  private def batchDirs(names: Seq[String]): Seq[String] =
    names.map(archiveRoot.resolve(_).toString)

  private def uuid8: String = java.util.UUID.randomUUID().toString.take(8)

  /** The rows of `df`'s key columns, on the driver. */
  private def keysOf(df: DataFrame): Array[Row] = df.select(keyCols: _*).collect()

  /** Holds on the rows whose key is one of `ks` (rows of the key
    * columns): one set-membership test (`InSet`), so filtering by a
    * collected key set builds no join. Not `isin`: that puts one
    * expression per key into the plan, and a filter over a local frame (a
    * tick's rows) is evaluated before the optimizer turns the list into a
    * set, one list scan per row (measured: an 11,000-request drain tick
    * took 170 s instead of 14 s). */
  private def keyIn(ks: Array[Row]): Column =
    Bridge.column(InSet(Bridge.expression(struct(keyCols: _*)),
      ks.map(CatalystTypeConverters.convertToCatalyst).toSet))

  // ---- single writer ----------------------------------------------------
  // Every mutator (commit / appendDelta / retire / vacuum) is a
  // read-modify-write: two retires that both read v_N would each publish
  // a successor, and one retire would vanish. So each runs under an OS
  // lock on `_LOCK` ([[Fs.tryLocked]]), and a second writer, on another
  // instance or in another process, FAILS LOUDLY instead of waiting. Calls
  // on one instance queue on its monitor. The kernel drops a crashed
  // writer's lock with its process, so there is no stale lock to steal.
  private val lockFile = root.resolve("_LOCK")

  private def withWriterLock[T](f: => T): T = synchronized {
    Fs.tryLocked(lockFile)(f).getOrElse(throw new java.util.ConcurrentModificationException(
      s"StateTable at $root is being written by another writer; the table " +
        "is single-writer: serialize writers or retry"))
  }

  /** Commit a full new snapshot that keeps the current archive list (see
    * [[publish]]). Writer-exclusive: runs under the writer lock. */
  def commit(df: DataFrame): Long = withWriterLock {
    publish(df, archived(currentDirName))
  }

  /** Test-only seam: runs after a commit wrote its version dir, before the
    * pointer swap — lets a spec crash a commit at that point. */
  protected[graft] var beforeSwap: () => Unit = () => ()

  /** Publish `df` as the live snapshot and `batches` as the archive list
    * of a new version: write its uniquely named `v{N+1}_{uuid}/` dir, then
    * atomically swap the pointer to it. Readers only ever follow the
    * pointer, so a crashed writer leaves an unreferenced dir but never a
    * torn table; once the next commit lands that dir is a same-number twin
    * of the current version, which [[vacuum]] reaps. The caller holds the
    * writer lock.
    *
    * A full commit also FOLDS the delta batches ([[appendDelta]]): the
    * caller's `df` was derived from [[read]] under this same lock (or
    * deliberately replaces the whole table), so every delta batch
    * existing now is superseded by the new snapshot. The consumed batch
    * names are recorded in the new version's `_FOLDED` file, published by
    * the same pointer swap, so a crash at any point leaves either the old
    * pointer + live deltas or the new pointer + folded deltas, never a
    * state where delta rows are lost or double-visible. Swept dirs: the
    * batches the REPLACED snapshot had folded are deleted at the START of
    * the next commit (one-cycle grace for readers holding the previous
    * lazy view). */
  private def publish(df: DataFrame, batches: Seq[String]): Long = {
    val next = currentVersion.getOrElse(-1L) + 1
    // delta lifecycle: sweep what the snapshot being replaced already
    // folded, then consume every batch still on disk
    Fs.reapStale(deltaRoot, ".tmp")
    currentDirName.toSeq.flatMap(listed(_, "_FOLDED"))
      .foreach(n => Fs.deleteTree(deltaRoot.resolve(n)))
    val consumed = subdirs(deltaRoot, "dk")
    val dirName = s"v${next}_$uuid8"
    val vdir = root.resolve(dirName)
    df.write.parquet(vdir.toString)
    if (consumed.nonEmpty)
      Files.writeString(vdir.resolve("_FOLDED"), consumed.mkString("\n"))
    Files.writeString(vdir.resolve("_ARCHIVE"), batches.mkString("\n"))
    beforeSwap()
    val tmp = root.resolve(s"_CURRENT.tmp$next")
    Files.writeString(tmp, dirName)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  // ---- O(batch) incremental ingest (delta batches) -----------------------

  /** Append a batch of NEW rows in O(batch): one write-temp + atomic move
    * into `_delta/`, no snapshot rewrite. Rows whose key is already in the
    * table — live, in an unfolded batch, or archived — are dropped, so the
    * first body a key arrived with wins, decided once, here. The batch
    * must be key-unique WITHIN itself (the caller dedups). The rest become
    * visible to [[read]] immediately and are folded into the snapshot by
    * the next full commit. Costs one key-only scan of [[readAll]] filtered
    * to the batch's keys, and the write (none when every key is present).
    * Runs under the writer lock — appends serialize with full commits,
    * so a fold can never lose a concurrently-appended batch, and the
    * presence check cannot straddle a [[retire]] of the same key. Batch
    * dirs are named `dk<epoch millis>_<uuid>`; an older build's
    * `d<epoch millis>_<uuid>` batch may repeat a live key (see the
    * constructor's check). */
  def appendDelta(df: DataFrame): Unit = withWriterLock {
    val incoming = keysOf(df)
    val present = readAll().fold(Array.empty[Row])(all =>
      keysOf(all.filter(keyIn(incoming))))
    if (present.length < incoming.length) {
      Files.createDirectories(deltaRoot)
      val name = f"dk${System.currentTimeMillis()}%013d_$uuid8"
      val tmp = deltaRoot.resolve(s".tmp_$name")
      // a submit batch is small: one file, not one per local partition
      df.filter(!keyIn(present)).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.move(tmp, deltaRoot.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Move finished rows from the live table to the archive in ONE commit.
    * `rows` carry their final content (e.g. a terminal status) and must be
    * key-unique; rows whose key is not live under the lock are dropped,
    * so no key is ever archived twice. The rows land as one new batch dir
    * — or, once the current list already holds 16 batches, as one
    * combined batch of the listed batches plus the rows, so a reader's
    * archive scan stays a bounded number of dirs — and the new version
    * publishes live minus those keys together with the new list. A crash
    * before the pointer swap leaves an unlisted batch that no reader sees
    * and [[vacuum]] reaps; the replaced batches of a combine stay on disk
    * while any retained version lists them. None (and no commit) while
    * the table has no live view. */
  def retire(rows: DataFrame): Option[Long] = withWriterLock {
    val dn = currentDirName
    liveAt(dn).map { live =>
      // the rows' keys that are live: one key-only scan, then both writes
      // filter by that local set
      val inLive = keyIn(keysOf(live.filter(keyIn(keysOf(rows)))))
      val batch = rows.filter(inLive)
      val batches = archived(dn)
      val name = s"b${dn.fold(0L)(versionOf(_) + 1)}_$uuid8"
      // one tick's rows are few: one file, as for a delta batch
      val (written, list) =
        if (batches.size < 16) (batch.coalesce(1), batches :+ name)
        else (Fs.readParquet(spark, batchDirs(batches): _*).unionByName(batch), Seq(name))
      written.write.parquet(archiveRoot.resolve(name).toString)
      publish(live.filter(!inLive), list)
    }
  }

  private def versionDirs: Seq[java.io.File] =
    if (!Files.exists(root)) Seq.empty
    else root.toFile.listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v")
        && f.getName.length > 1 && f.getName.charAt(1).isDigit)

  def versions: Seq[Long] =
    versionDirs.map(f => versionOf(f.getName)).distinct.sorted

  /** Drop all but the newest `keep` versions — plus unreferenced
    * same-number TWINS of the current version (the dir a commit that
    * crashed before its pointer swap left; twins at older numbers age out
    * with their number) — and the archive batches no version left on
    * disk lists. A batch thus stays while any retained version lists it
    * (a reader holding an older version's lazy archive frame keeps
    * resolvable paths for `keep` versions), and an unlisted one — a
    * crashed [[retire]]'s, or one a combine replaced — goes once it is
    * out of that window. Like a crashed commit's dir, a batch named for a
    * version above the current one waits until a commit reaches that
    * number. */
  def vacuum(keep: Int = 2): Unit = withWriterLock {
    currentDirName.foreach { curName =>
      val cur = versionOf(curName)
      val keepNums = versions.filter(_ <= cur).takeRight(keep).toSet
      versionDirs.foreach { f =>
        val n = versionOf(f.getName)
        if ((n <= cur && !keepNums(n)) || (n == cur && f.getName != curName))
          Fs.deleteTree(f.toPath)
      }
      val retained = versionDirs.flatMap(f => listed(f.getName, "_ARCHIVE")).toSet
      subdirs(archiveRoot, "b").foreach { b =>
        if (versionOf(b) <= cur && !retained(b)) Fs.deleteTree(archiveRoot.resolve(b))
      }
    }
  }
}
