package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned Parquet state table — the offline stand-in for the reference's
  * mutable Mongo collections (`asdf.det` / `asdf.extracts` / `asdf.msr`,
  * SURVEY.md §1.1): reads always see one consistent committed version;
  * writes produce a new immutable version directory and atomically swap a
  * pointer file (write-temp + atomic move). Old versions are retained —
  * cheap history/debugging, bounded by [[vacuum]].
  *
  * Version directories are PER-WRITER-UNIQUE (`v{N}_{uuid}`) and the
  * pointer stores the directory NAME: no writer ever deletes or writes
  * into a directory another writer created, so even a double-held lease
  * (the advisory-lease residue documented below) can no longer destroy a
  * winner's committed version — the loser's directory becomes
  * unreferenced garbage that [[vacuum]] reaps (round-13 advisor).
  *
  * Incremental ingest goes through [[appendDelta]]: an O(batch)
  * append-only delta directory merged into every read and FOLDED into the
  * snapshot by the next full commit (upsert/update/compact) — without it,
  * every submit rewrites the live snapshot and ingest is O(live)
  * (measured: +1k submit cost ~1.2 s against a 10⁵-row live queue,
  * DriveQueueScale round 13; the lifecycle's one super-linear write).
  *
  * This is deliberately a miniature of the transactional-table pattern
  * (Delta/Iceberg-style) built only on the filesystem primitives available
  * offline; on a cluster the same layout works on any HDFS-compatible FS
  * with atomic rename.
  */
final class StateTable(spark: SparkSession, dir: String, keys: Seq[String],
    leaseMs: Long = 10 * 60 * 1000L) {
  private val root = Paths.get(dir)
  private val pointer = root.resolve("_CURRENT")
  Files.createDirectories(root)

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

  /** Current committed snapshot merged with any un-folded delta batches
    * (None before the first commit when no deltas exist). The snapshot
    * wins on key overlap; among deltas the EARLIEST batch wins — together
    * that preserves [[upsert]]'s insert-only MERGE semantics for rows
    * ingested through [[appendDelta]]. */
  def read(): Option[DataFrame] = {
    val snap = currentDirName.map(dn => spark.read.parquet(root.resolve(dn).toString))
    (snap, deltaView) match {
      case (Some(l), Some(d)) =>
        val keyCols = keys.map(org.apache.spark.sql.functions.col)
        Some(l.unionByName(d.join(l.select(keyCols: _*), keys, "left_anti")))
      case (l, d) => l.orElse(d)
    }
  }

  // ---- single-writer lease ---------------------------------------------
  // The table is SINGLE-WRITER by contract (the Mongo reference got
  // per-document atomicity for free; a snapshot table cannot): every
  // mutating entry point (commit / upsert / update / compact / vacuum /
  // consolidateArchive) runs under an exclusive lease held in `_LOCK`,
  // acquired with CREATE_NEW — the one atomic test-and-set a plain
  // filesystem offers — and a second writer FAILS LOUDLY with
  // ConcurrentModificationException instead of silently losing the other
  // writer's read-modify-write (two upserts that both read v_N would both
  // commit a v_{N+1}-style successor; one merge vanished). A lease left
  // by a CRASHED writer is stolen once it is older than `leaseMs`
  // (10 min default — an order of magnitude above any tick's
  // commit time). Residual windows, documented rather than hidden:
  // two stealers of the same stale lock can interleave delete/create
  // (loser's create fails loudly — safe — but the loser may first delete
  // the winner's fresh lock in a sub-millisecond window), and a writer
  // PAUSED past its whole lease (not crashed) can be stolen from — the
  // pointer-swap guard below re-checks lease ownership immediately
  // before the commit's atomic move, shrinking that window to the move
  // itself. This is the standard advisory-lease trade on a FS without
  // compare-and-swap file content; on HDFS-compatible stores the same
  // CREATE_NEW discipline holds.
  private val lockFile = root.resolve("_LOCK")
  private val leaseToken = java.util.UUID.randomUUID().toString
  private var leaseDepth = 0 // guarded by `synchronized` in withWriterLease

  private def contention(holder: String): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"StateTable at $root is being written by another writer ($holder); " +
        "the table is single-writer — serialize writers or let the stale " +
        s"lease expire (leaseMs=$leaseMs)")

  private def tryLock(): Boolean =
    try {
      Files.writeString(lockFile,
        s"$leaseToken ${System.currentTimeMillis()}",
        java.nio.file.StandardOpenOption.CREATE_NEW)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }

  private def acquireLease(): Unit =
    if (!tryLock()) {
      val held = try Files.readString(lockFile) catch { case _: Exception => "" }
      val stale = held.split(" ") match {
        case Array(_, ts) =>
          try System.currentTimeMillis() - ts.toLong > leaseMs
          catch { case _: NumberFormatException => true }
        case _ => true // vanished or unparseable: treat as stale, retry once
      }
      if (!stale) contention(held.takeWhile(_ != ' '))
      // delete ONLY if the lock still holds the exact content we judged
      // stale — a fresh lock written by a concurrent stealer in between
      // survives (shrinks the documented delete/create window to the
      // re-read-to-delete gap; commit's staging-dir rename makes even
      // that residue write-write safe)
      try {
        val now = try Files.readString(lockFile) catch { case _: Exception => "" }
        if (now == held) Files.deleteIfExists(lockFile)
      } catch { case _: Exception => () }
      if (!tryLock()) contention("concurrent steal")
    }

  private def releaseLease(): Unit =
    try {
      if (Files.exists(lockFile)
          && Files.readString(lockFile).startsWith(leaseToken))
        Files.delete(lockFile)
    } catch { case _: Exception => () }

  private def withWriterLease[T](f: => T): T = synchronized {
    if (leaseDepth > 0) { leaseDepth += 1; try f finally leaseDepth -= 1 }
    else {
      acquireLease()
      leaseDepth = 1
      try f finally { leaseDepth = 0; releaseLease() }
    }
  }

  /** Commit a full new snapshot: write a uniquely-named staging dir,
    * atomically rename it to its per-writer-unique `v{N+1}_{uuid}/` name,
    * and atomically swap the pointer. Readers only ever follow the
    * pointer, so a crashed writer leaves garbage data but never a torn
    * table. Writer-exclusive: runs under the single-writer lease (see
    * above), and re-checks lease ownership immediately before the pointer
    * swap so a stolen lease aborts loudly instead of clobbering the
    * stealer's commit.
    *
    * The per-WRITER-unique version dir closes the destructive half of the
    * advisory lease's residual race (round-13 advisor): two writers
    * racing through the vanished-lock steal window may both compute the
    * same `next`, but they write DIFFERENT directories and collide only
    * at the pointer — a single atomic move guarded by the
    * pointer-advanced re-check. No delete of a possibly-live target ever
    * happens; the loser's directory is unreferenced garbage reaped by
    * [[vacuum]]'s same-number-twin rule, and readers never cross a
    * FileNotFound window.
    *
    * A full commit also FOLDS the delta batches ([[appendDelta]]): the
    * caller's `df` was derived from [[read]] under this same lease (or
    * deliberately replaces the whole table), so every delta batch
    * existing now is superseded by the new snapshot. The consumed batch
    * names are recorded in a `_FOLDED` file INSIDE the new version dir —
    * atomic with the data via the same rename+swap, so a crash at any
    * point leaves either the old pointer + live deltas or the new
    * pointer + folded deltas, never a state where delta rows are lost or
    * double-visible. Swept dirs: the batches the REPLACED snapshot had
    * folded are deleted at the START of the next commit (one-cycle grace
    * for readers holding the previous lazy view, like
    * [[consolidateArchive]]'s doomed list). */
  def commit(df: DataFrame): Long = withWriterLease {
    val next = currentVersion.getOrElse(-1L) + 1
    // delta lifecycle: sweep what the snapshot being replaced already
    // folded, then consume every batch still on disk (a late appendDelta
    // from a lease stealer lands AFTER this listing and simply stays
    // live — "not listed" = "not folded" is the safe direction)
    Fs.reapStale(deltaRoot, ".tmp")
    foldedNames.foreach(n => Fs.deleteTree(deltaRoot.resolve(n)))
    val consumed = Option(deltaRoot.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("d"))
      .map(_.getName).sorted
    val dirName = s"v${next}_${java.util.UUID.randomUUID().toString.take(8)}"
    val stage = root.resolve(
      s".tmpv_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      df.write.mode("overwrite").parquet(stage.toString)
      if (consumed.nonEmpty)
        Files.writeString(stage.resolve("_FOLDED"), consumed.mkString("\n"))
      val tmp = root.resolve(s"_CURRENT.tmp$next")
      Files.writeString(tmp, dirName)
      // Ownership + progress re-check IMMEDIATELY before the pointer
      // swap. An advanced pointer (>= next) means a stealer committed:
      // abort even if the lock file momentarily carries our token again.
      def ownedStill: Boolean =
        try Files.readString(lockFile).startsWith(leaseToken)
        catch { case _: Exception => false }
      if (!ownedStill) { Files.deleteIfExists(tmp); contention("lease stolen") }
      if (currentVersion.exists(_ >= next)) {
        Files.deleteIfExists(tmp)
        contention(s"pointer advanced past v$next — lease was stolen and re-committed")
      }
      // our own name is uuid-fresh: the move can never hit an existing
      // dir, and never displaces another writer's data
      Files.move(stage, root.resolve(dirName), StandardCopyOption.ATOMIC_MOVE)
      // final narrowing before the swap (the residue is the swap itself)
      if (currentVersion.exists(_ >= next)) {
        Files.deleteIfExists(tmp)
        Fs.deleteTree(root.resolve(dirName)) // our own unreferenced garbage
        contention(s"pointer advanced to v$next during commit — aborting pointer swap")
      }
      Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      next
    } finally Fs.deleteTree(stage) // no-op on success (already renamed away)
  }

  // ---- O(batch) incremental ingest (delta batches) -----------------------

  private val deltaRoot = root.resolve("_delta")

  /** Append a batch of NEW rows in O(batch): one write-temp + atomic move
    * into `_delta/`, no snapshot rewrite. Rows become visible to [[read]]
    * immediately (merged view, snapshot wins on key overlap — the same
    * insert-only MERGE a direct [[upsert]] would give) and are folded
    * into the snapshot by the next full commit. The batch must be
    * key-unique WITHIN itself (the caller dedups, as [[upsert]] already
    * requires of its MERGE source); across batches the earliest batch
    * wins deterministically. Runs under the writer lease — appends
    * serialize with full commits, so a fold can never lose a
    * concurrently-appended batch. */
  def appendDelta(df: DataFrame): Unit = withWriterLease {
    Files.createDirectories(deltaRoot)
    val name = f"d${System.currentTimeMillis()}%013d_" +
      java.util.UUID.randomUUID().toString.take(8)
    val tmp = deltaRoot.resolve(s".tmp_$name")
    df.write.mode("overwrite").parquet(tmp.toString)
    Files.move(tmp, deltaRoot.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Names of delta batches already folded into the CURRENT snapshot
    * (recorded in its `_FOLDED` file) — invisible to readers, swept at
    * the next commit. */
  private def foldedNames: Set[String] =
    currentDirName.map { dn =>
      val f = root.resolve(dn).resolve("_FOLDED")
      if (Files.exists(f))
        Files.readString(f).split("\n").filter(_.nonEmpty).toSet
      else Set.empty[String]
    }.getOrElse(Set.empty)

  /** Un-folded delta batches as one merged frame: earliest batch wins per
    * key (batch names are zero-padded epoch millis, so the string min is
    * the numeric min). None when no live batch exists. */
  private def deltaView: Option[DataFrame] = {
    val folded = foldedNames
    val dirs = Option(deltaRoot.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("d")
        && !folded(f.getName))
      .map(_.toString).sorted
    if (dirs.isEmpty) None
    else {
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(dirs.toSeq: _*)
      val others = df.columns.filterNot(keys.contains).toSeq
      if (others.isEmpty) Some(df.dropDuplicates(keys))
      // min_by on the batch name alone: non-key payloads may carry Map
      // columns (request bodies), which Spark cannot order — so the
      // within-batch tie-break is the caller's key-uniqueness contract,
      // not an ordering over the payload
      else Some(df
        .withColumn("_b", regexp_extract(input_file_name(), "/(d[^/]+)/[^/]+$", 1))
        .groupBy(keys.map(col): _*)
        .agg(min_by(struct(others.map(col): _*), col("_b")).as("_w"))
        .select(df.columns.toSeq.map(n =>
          if (keys.contains(n)) col(n) else col("_w").getField(n).as(n)): _*))
    }
  }

  /** MERGE: existing rows win, new rows insert; first commit just inserts.
    * `refreshCols` defaults EMPTY here — a generic state table keeps strict
    * insert-only MERGE semantics regardless of its schema; callers wanting
    * the queue's `$set {classification, priority, update_time}` refresh
    * (Q2) opt in explicitly. The lease spans the read AND the commit —
    * the whole read-modify-write is writer-exclusive, which is exactly
    * the lost-update window a commit-only lock would leave open. */
  def upsert(incoming: DataFrame, refreshCols: Seq[String] = Seq.empty): Long =
    withWriterLease {
      commit(read().map(Queue.upsert(_, incoming, keys, refreshCols))
        .getOrElse(incoming))
    }

  /** Apply a whole-table transformation transactionally (e.g. a Q1 status
    * transition). No-op (and no new version) before the first commit.
    * Lease spans read + commit (see [[upsert]]). */
  def update(f: DataFrame => DataFrame): Option[Long] =
    withWriterLease { read().map(f).map(commit) }

  private val archiveRoot = root.resolve("_archive")
  // names of batch dirs already merged into a combined batch, awaiting
  // their deferred sweep (see [[consolidateArchive]])
  private val doomedMarker = archiveRoot.resolve("_doomed.txt")

  private def doomedNames: Set[String] =
    if (Files.exists(doomedMarker))
      Files.readString(doomedMarker).split("\n").filter(_.nonEmpty).toSet
    else Set.empty

  /** Reap `.tmp_*` write-staging dirs abandoned by crashed
    * compact/consolidate/append attempts: per-attempt-unique names mean
    * no retry ever overwrites them, so without this they accumulate
    * forever (a consolidation tmp alone is a full archive copy). Only
    * stale subtrees go, never an in-flight write ([[Fs.reapStale]]). */
  private def reapStaleTmp(): Unit = Fs.reapStale(archiveRoot, ".tmp")

  /** Archived (terminal-history) rows, if any — one append-only batch per
    * [[compact]] call, read back as ONE multi-path scan, deduped by key:
    * archived rows are terminal (their content never changes), so a key
    * transiently present in two batches — a [[consolidateArchive]] that
    * crashed between its atomic move and the old-dir sweep — yields one
    * row, not duplicates, for every reader. The winner is DETERMINISTIC:
    * max (numeric batch version, batch name) per key — the version is
    * PARSED out of the `b<version>_<uuid>` name rather than compared
    * lexicographically, because unpadded names invert at ten (`"b10_x"`
    * sorts below `"b2_y"` as strings, which would hand the win to the
    * OLDER batch). Not dropDuplicates' arbitrary pick — so even if a
    * future writer ever violated terminal-immutability across batches,
    * every reader would still agree on the newest row rather than
    * diverge run-to-run. */
  def archive(): Option[DataFrame] = {
    val doomed = doomedNames
    val batches = Option(archiveRoot.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("b")
        && !doomed(f.getName))
      .map(_.toString).sorted
    if (batches.isEmpty) None
    else {
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(batches.toSeq: _*)
      val others = df.columns.filterNot(keys.contains).toSeq
      if (others.isEmpty) Some(df.dropDuplicates(keys))
      else Some(df
        .withColumn("_b", regexp_extract(input_file_name(), "/(b[^/]+)/[^/]+$", 1))
        .withColumn("_bv", regexp_extract(col("_b"), "^b(\\d+)", 1).cast("long"))
        .groupBy(keys.map(col): _*)
        .agg(max_by(struct(others.map(col): _*),
          struct(col("_bv"), col("_b"))).as("_w"))
        // restore the original column order and names
        .select(df.columns.toSeq.map(n =>
          if (keys.contains(n)) col(n) else col("_w").getField(n).as(n)): _*))
    }
  }

  /** Bound the archive's DIRECTORY count: [[compact]] appends one batch
    * dir per call, and a frequent consumer (the engine's
    * submit-idempotence anti-join) would otherwise pay a multi-path scan
    * over thousands of tiny dirs after months of ticks. Above
    * `maxBatches`, merge everything into ONE combined batch under the
    * same write-temp + atomic-move discipline.
    *
    * The merged dirs are NOT deleted immediately: they go on a doomed
    * list ([[archive]] skips them) and are swept at the NEXT call — a
    * reader that listed the batch dirs before the merge keeps resolvable
    * paths for at least one full cycle, the same grace [[vacuum]]'s
    * version slack gives live readers (an immediate sweep made any held
    * lazy archive frame fail with FileNotFound mid-tick). Crash windows:
    * dying after the combined move but before the doomed write leaves
    * old + combined visible together — identical terminal content, so
    * [[archive]]'s key-dedup hides it and the next call re-merges; dying
    * mid-sweep leaves doomed entries whose dirs are already gone —
    * [[deleteTree]] is a no-op on missing paths. */
  def consolidateArchive(maxBatches: Int = 16): Unit = withWriterLease {
    reapStaleTmp()
    // phase 2 of the PREVIOUS consolidation: sweep what it doomed
    doomedNames.foreach(n => Fs.deleteTree(archiveRoot.resolve(n)))
    if (Files.exists(doomedMarker)) Files.delete(doomedMarker)
    val batches = Option(archiveRoot.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("b")).sortBy(_.getName)
    if (batches.length > maxBatches) {
      val combined = spark.read.parquet(batches.map(_.toString).toSeq: _*)
        .dropDuplicates(keys)
      val name = s"b${currentVersion.getOrElse(0L)}_c" +
        java.util.UUID.randomUUID().toString.take(8)
      val tmp = archiveRoot.resolve(s".tmp_$name")
      combined.write.mode("overwrite").parquet(tmp.toString)
      Files.move(tmp, archiveRoot.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      // phase 1: doom the merged dirs (write-temp + atomic move)
      val markerTmp = archiveRoot.resolve(".tmp_doomed")
      Files.writeString(markerTmp, batches.map(_.getName).mkString("\n"))
      Files.move(markerTmp, doomedMarker, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Live ∪ archive — the full-history view ([[read]] is the live view).
    * Live wins on key overlap: a compaction that archived rows but
    * crashed before committing their removal leaves the same key on both
    * sides until the retry — this view must not show it twice. */
  def readAll(): Option[DataFrame] = (read(), archive()) match {
    case (Some(l), Some(a)) =>
      val keyCols = keys.map(org.apache.spark.sql.functions.col)
      Some(l.unionByName(a.join(l.select(keyCols: _*), keys, "left_anti")))
    case (l, a) => l.orElse(a)
  }

  /** Terminal-state compaction: `doomed` selects rows that are finished
    * (terminal status, aged out, …); they move from the live snapshot into
    * an append-only archive batch. [[vacuum]] bounds VERSIONS — this
    * bounds live ROWS, so a scan of the live table stays proportional to
    * in-flight work even after millions of completed rows. History stays
    * durable and queryable through [[archive]]/[[readAll]].
    *
    * Crash safety: rows already present in the archive are excluded from
    * the new batch (one anti-join), so a compaction that died between the
    * archive write and the commit cannot double-archive its rows on retry
    * — even when unrelated commits bumped the version in between (batch
    * dirs are never assumed re-runnable in place). If everything doomed
    * was already archived by such a crashed attempt, the batch write is
    * skipped but the live removal still commits. Returns the new live
    * version, or None when nothing matched. */
  def compact(doomed: DataFrame => DataFrame): Option[Long] =
    withWriterLease { read().flatMap { df =>
      val keyCols = keys.map(org.apache.spark.sql.functions.col)
      val dead = doomed(df)
      if (dead.isEmpty) None
      else {
        val unarchived = archive() match {
          case Some(a) => dead.join(a.select(keyCols: _*), keys, "left_anti")
          case None => dead
        }
        if (!unarchived.isEmpty) {
          Files.createDirectories(archiveRoot)
          reapStaleTmp()
          // write-temp + ATOMIC move under a per-attempt unique name:
          // [[archive]] has no _SUCCESS gate, so a torn direct write at a
          // version-derived path would (a) be read back as real rows and
          // (b) be OVERWRITTEN by a same-version retry — whose anti-join
          // excluded the torn rows — permanently losing the partially
          // archived rows from both live and archive. Dot-prefixed tmp
          // dirs are invisible to archive(); an abandoned tmp from a
          // crashed attempt is dead weight, never data.
          // getOrElse: a DELTA-ONLY table (appendDelta before any full
          // commit) compacts from the merged view with no snapshot version
          val batch = s"b${currentVersion.getOrElse(0L)}_" +
            java.util.UUID.randomUUID().toString.take(8)
          val tmp = archiveRoot.resolve(s".tmp_$batch")
          unarchived.write.mode("overwrite").parquet(tmp.toString)
          Files.move(tmp, archiveRoot.resolve(batch),
            StandardCopyOption.ATOMIC_MOVE)
        }
        Some(commit(df.join(dead.select(keyCols: _*), keys, "left_anti")))
      }
    } }

  private def versionDirs: Seq[java.io.File] =
    if (!Files.exists(root)) Seq.empty
    else root.toFile.listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v")
        && f.getName.length > 1 && f.getName.charAt(1).isDigit)

  def versions: Seq[Long] =
    versionDirs.map(f => versionOf(f.getName)).distinct.sorted

  /** Test-only seam: runs after vacuum's single pointer read, before any
    * delete — lets a spec interleave a lease-stealing writer's commit
    * deterministically (see StateTableSpec's vacuum-race case). */
  protected[graft] var onVacuumAfterPointerRead: () => Unit = () => ()

  /** Drop all but the newest `keep` versions — plus unreferenced
    * same-number TWINS of the current version (the garbage a losing
    * writer's per-writer-unique dir becomes when its pointer swap
    * aborted; twins at older numbers age out with their number).
    *
    * The pointer is read ONCE and both the version number and the twin
    * discriminator derive from that single read (round-15 advisor: the
    * previous `currentVersion` + `currentDirName.get` pair re-read the
    * pointer — a lease-stealer's commit landing between the two reads
    * made `cur` the OLD number and `curName` the NEW name, so the real
    * current-version dir looked like an unreferenced twin and was
    * deleted). With one read, a concurrently-advanced pointer is simply
    * a version `> cur` that vacuum never touches. */
  def vacuum(keep: Int = 2): Unit = withWriterLease {
    val curName = currentDirName.getOrElse(return)
    val cur = versionOf(curName)
    onVacuumAfterPointerRead()
    val keepNums = versions.filter(_ <= cur).takeRight(keep).toSet
    versionDirs.foreach { f =>
      val n = versionOf(f.getName)
      if ((n <= cur && !keepNums(n)) || (n == cur && f.getName != curName))
        Fs.deleteTree(f.toPath)
    }
  }
}
