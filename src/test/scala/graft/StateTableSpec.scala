package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.StateTable

class StateTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def fresh() = new StateTable(spark,
    Files.createTempDirectory("graft_state").toString, Seq("id"))

  test("empty before first commit; snapshot after") {
    val t = fresh()
    assert(t.read().isEmpty)
    t.commit(Seq((1L, 0)).toDF("id", "status"))
    assert(t.read().get.count() == 1)
  }

  test("appendDelta inserts new keys only: a folded key keeps its row " +
    "across versions") {
    val t = fresh()
    t.appendDelta(Seq((1L, 1), (2L, 2)).toDF("id", "status"))
    t.commit(t.read().get)
    t.appendDelta(Seq((2L, 0), (3L, 0)).toDF("id", "status"))
    t.commit(t.read().get)
    val out = t.read().get.as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 1, 2L -> 2, 3L -> 0)) // 2 kept its state
    assert(t.versions == Seq(0L, 1L))
  }

  test("retire moves rows with their final status from live to the archive " +
    "in one version (Q1)") {
    val t = fresh()
    t.commit(Seq((1L, 0), (2L, 0)).toDF("id", "status"))
    assert(t.retire(Seq((2L, 2)).toDF("id", "status")) == Some(1L))
    assert(t.versions == Seq(0L, 1L))
    assert(t.read().get.as[(Long, Int)].collect().toMap == Map(1L -> 0))
    assert(t.archive().get.as[(Long, Int)].collect().toMap == Map(2L -> 2))
  }

  test("old versions remain readable until vacuum") {
    val t = fresh()
    (0 until 4).foreach(i => t.commit(Seq((i.toLong, i)).toDF("id", "status")))
    assert(t.versions.size == 4)
    t.vacuum(keep = 2)
    assert(t.versions.size == 2)
    assert(t.read().get.as[(Long, Int)].collect().head == ((3L, 3)))
  }

  /** The rows of `df` as (id, status) pairs sorted by id (empty when absent). */
  def rows(df: Option[org.apache.spark.sql.DataFrame]): Seq[(Long, Int)] =
    df.map(_.as[(Long, Int)].collect().toSeq.sortBy(_._1)).getOrElse(Seq.empty)

  /** The batch dirs on disk under `dir`'s archive, by name. */
  def batchDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir, "_archive").listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("b")).map(_.getName).sorted.toSeq

  /** The batch names the current version of the table at `dir` lists. */
  def listedBatches(dir: String): Seq[String] = {
    val cur = Files.readString(java.nio.file.Paths.get(dir, "_CURRENT")).trim
    Files.readString(java.nio.file.Paths.get(dir, cur, "_ARCHIVE"))
      .split("\n").filter(_.nonEmpty).toSeq
  }

  object Crash extends RuntimeException("crashed before the pointer swap")

  /** Runs `op` with `t`'s commits crashing after the version dir write and
    * before the pointer swap — for retire, after its archive batch write:
    * the state a writer killed there leaves behind (the kernel drops its
    * lock). True when `op` crashed there; a retire with no live view
    * commits nothing. */
  def crashedBeforeSwap(t: StateTable)(op: => Any): Boolean = {
    t.beforeSwap = () => throw Crash
    try { op; false } catch { case Crash => true } finally t.beforeSwap = () => ()
  }

  test("retire moves finished rows to the archive; live stays bounded; " +
    "rows whose key is not live are dropped") {
    val t = fresh()
    t.commit(Seq((1L, 1), (2L, 0), (3L, -2), (4L, -1)).toDF("id", "status"))
    t.retire(Seq((1L, 1), (3L, -2)).toDF("id", "status"))
    // live = in-flight only
    assert(rows(t.read()) == Seq(2L -> 0, 4L -> -1))
    // archive holds the terminal history; readAll is the union
    assert(rows(t.archive()) == Seq(1L -> 1, 3L -> -2))
    assert(t.readAll().get.count() == 4)
    // a later retire appends a second batch; an archived key (1) and an
    // unknown one (9) are not live, so neither lands in the archive
    t.retire(Seq((2L, 1), (1L, -2), (9L, 1)).toDF("id", "status"))
    assert(rows(t.read()) == Seq(4L -> -1))
    assert(rows(t.archive()) == Seq(1L -> 1, 2L -> 1, 3L -> -2))
    assert(rows(t.readAll()).size == 4)
  }

  test("retire is atomic: a crash after the batch write and before the " +
    "pointer swap changes no view, and vacuum reaps the unlisted batch") {
    val dir = Files.createTempDirectory("graft_state").toString
    val t = new StateTable(spark, dir, Seq("id"))
    t.commit(Seq((1L, 0), (2L, 0), (3L, 0), (4L, 0)).toDF("id", "status"))
    t.retire(Seq((1L, 1)).toDF("id", "status"))
    val views = () => (rows(t.read()), rows(t.archive()), rows(t.readAll()))
    val before = views()
    val published = batchDirs(dir).toSet
    assert(crashedBeforeSwap(t)(t.retire(Seq((2L, 1), (3L, -2)).toDF("id", "status"))))
    val orphan = batchDirs(dir).filterNot(published)
    assert(orphan.size == 1, s"the batch write did not happen: ${batchDirs(dir)}")
    assert(views() == before, "a crashed retire changed what readers see")
    // named for the version it would have published, above the current
    // one: vacuum leaves it (it could be another writer's batch in flight)
    t.vacuum(keep = 1)
    assert(batchDirs(dir).contains(orphan.head))
    // the next retire succeeds, and no key is both live and archived
    t.retire(Seq((2L, 1), (3L, -2)).toDF("id", "status"))
    assert(rows(t.read()) == Seq(4L -> 0))
    assert(rows(t.archive()) == Seq(1L -> 1, 2L -> 1, 3L -> -2))
    assert(rows(t.readAll()).map(_._1) == Seq(1L, 2L, 3L, 4L))
    // now at or below the current version and listed by no version: reaped
    t.vacuum(keep = 1)
    assert(!batchDirs(dir).contains(orphan.head), "the unlisted batch survived vacuum")
    assert(batchDirs(dir).toSet == listedBatches(dir).toSet)
    assert(rows(t.archive()) == Seq(1L -> 1, 2L -> 1, 3L -> -2))
  }

  test("retire combines 16 listed batches into one; a replaced batch stays " +
    "while a retained version lists it") {
    val dir = Files.createTempDirectory("graft_state").toString
    val t = new StateTable(spark, dir, Seq("id"))
    t.commit((1L to 18L).map(i => (i, 0)).toDF("id", "status"))
    (1L to 16L).foreach(i => t.retire(Seq((i, 1)).toDF("id", "status")))
    assert(listedBatches(dir).size == 16 && batchDirs(dir).size == 16)
    // a reader holding the archive as it was before the combine
    val held = t.archive().get
    t.retire(Seq((17L, 1)).toDF("id", "status"))
    assert(listedBatches(dir).size == 1, "the 17th retire must combine")
    assert(rows(t.archive()) == (1L to 17L).map(_ -> 1))
    assert(batchDirs(dir).size == 17, "replaced batches must stay on disk")
    // the previous version still lists them: they survive its retention
    t.vacuum(keep = 2)
    assert(batchDirs(dir).size == 17)
    assert(held.count() == 16, "a held archive frame lost its files")
    // the next retire appends to the combined batch; once no retained
    // version lists the replaced batches, vacuum reaps them (versions
    // past ten compare as numbers, not as names)
    t.retire(Seq((18L, 1)).toDF("id", "status"))
    assert(listedBatches(dir).size == 2)
    t.vacuum(keep = 2)
    assert(batchDirs(dir) == listedBatches(dir).sorted)
    assert(rows(t.archive()) == (1L to 18L).map(_ -> 1))
    assert(t.read().get.isEmpty)
  }

  test("appendDelta drops rows whose key the table holds — in the " +
    "snapshot, an unfolded batch or the archive — and writes no batch " +
    "when it holds them all") {
    val dir = Files.createTempDirectory("graft_state").toString
    val t = new StateTable(spark, dir, Seq("id"))
    t.commit(Seq((1L, 0), (2L, 0)).toDF("id", "status"))
    t.retire(Seq((1L, 1)).toDF("id", "status"))
    t.appendDelta(Seq((1L, -1), (3L, -1)).toDF("id", "status"))
    assert(rows(t.read()) == Seq(2L -> 0, 3L -> -1))
    t.appendDelta(Seq((1L, -1), (2L, 9), (3L, 9), (4L, -1)).toDF("id", "status"))
    assert(rows(t.read()) == Seq(2L -> 0, 3L -> -1, 4L -> -1))
    assert(rows(t.archive()) == Seq(1L -> 1))
    assert(rows(t.readAll()).map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(parts(dir).map(_._1).sorted == Seq(1L, 2L, 3L, 4L))
    val before = deltaDirs(dir)
    t.appendDelta(Seq((1L, 5), (4L, 5)).toDF("id", "status"))
    assert(deltaDirs(dir) == before, "a batch of held keys wrote a batch dir")
  }

  /** Where each key of the table at `dir` sits, read straight from the
    * files the pointer names: (key, part dir) for the current snapshot,
    * every unfolded delta batch and every listed archive batch. */
  def parts(dir: String): Seq[(Long, String)] = {
    val root = java.nio.file.Paths.get(dir)
    val cur = Option.when(Files.exists(root.resolve("_CURRENT")))(
      Files.readString(root.resolve("_CURRENT")).trim)
    def listed(file: String): Seq[String] = cur.toSeq.flatMap { c =>
      val f = root.resolve(c).resolve(file)
      if (Files.exists(f)) Files.readString(f).split("\n").filter(_.nonEmpty).toSeq
      else Nil
    }
    val dirs = cur.map(c => s"$dir/$c").toSeq ++
      deltaDirs(dir).filterNot(listed("_FOLDED").toSet).map(d => s"$dir/_delta/$d") ++
      listed("_ARCHIVE").map(b => s"$dir/_archive/$b")
    if (dirs.isEmpty) Seq.empty
    else spark.read.schema("id LONG, status INT").parquet(dirs: _*)
      .select(col("id"), input_file_name()).as[(Long, String)].collect().toSeq
      .map { case (id, f) => id -> dirs.find(d => f.contains(s"$d/")).get }
  }

  test("read(), archive() and readAll() launch no job until an action " +
    "runs, also over a drained, empty snapshot") {
    val t = fresh()
    t.commit(Seq((1L, 0), (2L, 0)).toDF("id", "status"))
    t.appendDelta(Seq((3L, -1)).toDF("id", "status"))
    t.retire(Seq((1L, 1)).toDF("id", "status"))
    t.appendDelta(Seq((4L, -1)).toDF("id", "status"))
    val ((l, a, all), jobs) = TestSpark.jobsDuring((t.read().get, t.archive().get, t.readAll().get))
    assert(jobs == 0, s"building the views launched $jobs job(s)")
    assert(rows(Some(l)) == Seq(2L -> 0, 3L -> -1, 4L -> -1))
    assert(rows(Some(a)) == Seq(1L -> 1))
    assert(rows(Some(all)).map(_._1) == Seq(1L, 2L, 3L, 4L))
    // drain the live table: its snapshot is an empty write
    t.retire(Seq((2L, 1), (3L, 1), (4L, -2)).toDF("id", "status"))
    val ((l2, all2), jobs2) = TestSpark.jobsDuring((t.read().get, t.readAll().get))
    assert(jobs2 == 0, s"building the drained views launched $jobs2 job(s)")
    assert(l2.schema.fieldNames.toSeq == Seq("id", "status"))
    assert(l2.isEmpty && all2.count() == 4)
  }

  test("a table whose archive batches its current version does not list " +
    "(the older layout) fails loudly at construction") {
    val dir = Files.createTempDirectory("graft_state").toString
    new StateTable(spark, dir, Seq("id")).commit(Seq((1L, 0)).toDF("id", "status"))
    // the older layout: batches under _archive/, no list in any version
    Seq((9L, 1)).toDF("id", "status").write.parquet(s"$dir/_archive/b0_old")
    val list = java.nio.file.Paths.get(dir,
      Files.readString(java.nio.file.Paths.get(dir, "_CURRENT")).trim, "_ARCHIVE")
    Files.delete(list)
    val err = intercept[IllegalArgumentException](new StateTable(spark, dir, Seq("id")))
    assert(err.getMessage.contains(s"$dir/_archive"), err.getMessage)
    assert(err.getMessage.contains("new table dir"), err.getMessage)
    // with a list (empty here), the same batch is merely unlisted garbage
    Files.writeString(list, "")
    assert(rows(new StateTable(spark, dir, Seq("id")).readAll()) == Seq(1L -> 0))
  }

  test("a table holding an older build's unfolded delta batch, whose keys " +
    "may repeat live ones, fails loudly at construction") {
    val dir = Files.createTempDirectory("graft_state").toString
    new StateTable(spark, dir, Seq("id")).commit(Seq((1L, 0)).toDF("id", "status"))
    // the older build's append: a `d` batch repeating live key 1
    Seq((1L, 9), (2L, -1)).toDF("id", "status").coalesce(1)
      .write.parquet(s"$dir/_delta/d0000000000001_0ld0ld00")
    val err = intercept[IllegalArgumentException](new StateTable(spark, dir, Seq("id")))
    assert(err.getMessage.contains(s"$dir/_delta"), err.getMessage)
    assert(err.getMessage.contains("previous build"), err.getMessage)
    assert(err.getMessage.contains("new table dir"), err.getMessage)
    // once a published version lists it as folded, it is invisible and
    // the table opens
    val cur = Files.readString(java.nio.file.Paths.get(dir, "_CURRENT")).trim
    Files.writeString(java.nio.file.Paths.get(dir, cur, "_FOLDED"), "d0000000000001_0ld0ld00")
    assert(rows(new StateTable(spark, dir, Seq("id")).read()) == Seq(1L -> 0))
  }

  // ---- single writer (the concurrency contract) ---------------------------
  // The Mongo reference got per-document write atomicity for free; a
  // snapshot table cannot, so StateTable is single-writer by contract and
  // a second concurrent writer must FAIL LOUDLY rather than silently lose
  // the other writer's read-modify-write (unlocked, an append landing
  // between a retire's read and its commit is folded away unread).

  test("lock: while another process holds the writer lock every mutator " +
    "fails loudly and reads stay live; once it is killed the next mutation " +
    "succeeds at once") {
    val dir = Files.createTempDirectory("graft_lock").toString
    val t = new StateTable(spark, dir, Seq("id"))
    t.commit(Seq((1L, 0)).toDF("id", "status"))
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
    val child = new ProcessBuilder(javaBin.toString, "-Xmx32m",
      "-cp", System.getProperty("java.class.path"), "graft.HoldLock", s"$dir/_LOCK")
      .redirectErrorStream(true).start()
    try {
      val out = new java.io.BufferedReader(new java.io.InputStreamReader(child.getInputStream))
      assert(out.readLine() == "locked")
      intercept[java.util.ConcurrentModificationException] {
        t.commit(Seq((2L, 0)).toDF("id", "status"))
      }
      intercept[java.util.ConcurrentModificationException] {
        t.appendDelta(Seq((2L, 0)).toDF("id", "status"))
      }
      intercept[java.util.ConcurrentModificationException] {
        t.retire(Seq((1L, 1)).toDF("id", "status"))
      }
      intercept[java.util.ConcurrentModificationException] { t.vacuum() }
      // readers are never blocked or corrupted by a held lock
      assert(t.read().get.as[(Long, Int)].collect().toSeq == Seq((1L, 0)))
      assert(t.versions == Seq(0L))
    } finally child.destroyForcibly().waitFor()
    // the kernel dropped the killed holder's lock: no wait, no expiry
    t.appendDelta(Seq((2L, 0)).toDF("id", "status"))
    t.retire(Seq((1L, 1)).toDF("id", "status"))
    assert(t.read().get.count() == 1 && t.readAll().get.count() == 2)
  }

  test("race: concurrent writers with retry-on-contention lose no update " +
    "(pre-lease, interleaved read-modify-writes silently dropped keys)") {
    val dir = Files.createTempDirectory("graft_race").toString
    val writers = 4; val perWriter = 5
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          val mine = new StateTable(spark, dir, Seq("id"))
          def retrying(op: => Unit): Unit = {
            var done = false
            while (!done) {
              try { op; done = true }
              catch {
                case _: java.util.ConcurrentModificationException =>
                  Thread.sleep(5) // contention is the CONTRACT; retry
              }
            }
          }
          // each writer appends its keys and retires the even ones: a
          // retire reads live and commits live minus its keys, folding
          // every batch on disk
          for (i <- 0 until perWriter) {
            val row = Seq((w * 100L + i, w)).toDF("id", "status")
            retrying(mine.appendDelta(row))
            if (i % 2 == 0) retrying(mine.retire(row): Unit)
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"unexpected: ${failures.peek()}")
    val t = new StateTable(spark, dir, Seq("id"))
    val want = (for (w <- 0 until writers; i <- 0 until perWriter)
      yield (w * 100L + i) -> w).toMap
    assert(rows(t.read()).toMap == want.filter(_._1 % 2 == 1),
      "a concurrent append or retire was lost")
    assert(rows(t.archive()).toMap == want.filter(_._1 % 2 == 0),
      "a concurrent retire was lost")
    assert(graft.ops.Fs.tryLocked(java.nio.file.Paths.get(dir, "_LOCK"))(true).contains(true),
      "the writer lock must be free once every writer is done")
  }

  test("fuzz: 100 random appendDelta/fold/retire/crash-in-retire/vacuum/" +
    "restart schedules match an in-memory model (no lost key, every key in " +
    "exactly one of snapshot, unfolded deltas and archive, reads key-unique " +
    "with no dedup)") {
    // The layer's contract under arbitrary interleavings:
    //  - appendDelta inserts new keys only: a live key keeps its row, an
    //    archived key is dropped, and every key sits in exactly one of the
    //    snapshot, one unfolded delta batch and the archive;
    //  - a full commit of read() (a fold) changes no view;
    //  - retire moves the given rows' LIVE keys to the archive with the
    //    given status and ignores archived or unknown keys;
    //  - a retire that crashes before its pointer swap, vacuum, restart
    //    and stale litter (delta staging, an unlisted batch) never change
    //    what any reader sees.
    for (seed <- 0 until 100) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft_stfuzz$seed").toString
      var t = new StateTable(spark, dir, Seq("id"))
      val liveM = scala.collection.mutable.Map[Long, Int]()
      val archM = scala.collection.mutable.Map[Long, Int]()
      var n = 0L
      def pick(): Long = {
        val known = (liveM.keySet ++ archM.keySet).toSeq.sorted
        known(rnd.nextInt(known.size))
      }
      // key-unique batches (the caller's contract, as the Engine dedups)
      def incoming(): List[(Long, Int)] = (0 until 1 + rnd.nextInt(3)).map { _ =>
        if ((liveM.nonEmpty || archM.nonEmpty) && rnd.nextInt(3) == 0)
          (pick(), rnd.nextInt(4) - 2)
        else { n += 1; (n, -1) }
      }.toList.distinctBy(_._1)
      def insert(in: List[(Long, Int)]): Unit = in.foreach { case (id, st) =>
        if (!liveM.contains(id) && !archM.contains(id)) liveM(id) = st }
      // finished rows: some live keys, sometimes a known or an unknown stray
      def finished(): List[(Long, Int)] = {
        val ids = liveM.keys.toSeq.sorted.filter(_ => rnd.nextBoolean()) ++
          (if ((liveM.nonEmpty || archM.nonEmpty) && rnd.nextInt(3) == 0) Seq(pick()) else Nil) ++
          (if (rnd.nextInt(4) == 0) Seq(n + 1000) else Nil)
        ids.distinct.map(id => (id, if (rnd.nextBoolean()) 1 else -2)).toList
      }
      for (_ <- 0 until 4 + rnd.nextInt(4)) {
        rnd.nextInt(8) match {
          case 0 | 1 =>
            val in = incoming()
            t.appendDelta(in.toDF("id", "status"))
            insert(in)
          case 2 =>
            t.read().foreach(t.commit): Unit
          case 3 | 4 =>
            val done = finished()
            t.retire(done.toDF("id", "status"))
            done.foreach { case (id, st) =>
              if (liveM.remove(id).isDefined) archM(id) = st }
          case 5 => // crash in retire: after its batch write, before the swap
            crashedBeforeSwap(t)(t.retire(finished().toDF("id", "status"))): Unit
          case 6 =>
            if (rnd.nextBoolean()) t = new StateTable(spark, dir, Seq("id"))
            else t.vacuum(keep = 1 + rnd.nextInt(4))
          case 7 => // stale litter: a crashed append's staging dir, and an
            // unlisted batch named for the next version
            val tmp = java.nio.file.Paths.get(dir, "_delta", s".tmp_crashed${rnd.nextInt(100)}")
            Files.createDirectories(tmp)
            tmp.toFile.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L): Unit
            val next = t.versions.lastOption.fold(0L)(_ + 1)
            Seq((n + 2000, 1)).toDF("id", "status")
              .write.parquet(s"$dir/_archive/b${next}_litter${rnd.nextInt(1000)}")
        }
        // every reader's view equals the model EVERY step, with no key
        // read twice
        val live = rows(t.read())
        val arch = rows(t.archive())
        val all = rows(t.readAll())
        assert(live.toMap == liveM.toMap && live.size == liveM.size,
          s"seed=$seed live diverged or holds a key twice: $live")
        assert(arch.toMap == archM.toMap && arch.size == archM.size,
          s"seed=$seed archive diverged or holds a key twice: $arch")
        assert(all.toMap == (archM ++ liveM).toMap && all.size == archM.size + liveM.size,
          s"seed=$seed readAll diverged or holds a key twice: $all")
        // and on disk every key sits in exactly one part
        val ps = parts(dir)
        assert(ps.map(_._1).distinct.size == ps.size,
          s"seed=$seed a key sits in two parts: ${ps.groupBy(_._1).filter(_._2.size > 1)}")
        assert(ps.filter(_._2.contains("/_archive/")).map(_._1).toSet == archM.keySet &&
          ps.filterNot(_._2.contains("/_archive/")).map(_._1).toSet == liveM.keySet,
          s"seed=$seed parts diverged: $ps")
      }
    }
  }

  // ---- O(batch) delta ingest (round-13 verdict #2) ------------------------

  def deltaDirs(dir: String): Seq[String] = {
    val d = new java.io.File(dir, "_delta")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("d"))
      .map(_.getName).sorted.toSeq
  }

  test("delta: appends are visible to read() with insert-only MERGE semantics") {
    val dir = Files.createTempDirectory("graft_delta").toString
    val t = new StateTable(spark, dir, Seq("id"))
    // delta-only table (no snapshot yet)
    t.appendDelta(Seq((1L, -1)).toDF("id", "status"))
    assert(t.read().get.as[(Long, Int)].collect().toMap == Map(1L -> -1))
    // a full commit replaces the table; an append of a key an earlier
    // batch holds is dropped at insert: the first row wins
    t.commit(Seq((1L, 5)).toDF("id", "status"))
    t.appendDelta(Seq((2L, -1)).toDF("id", "status"))
    t.appendDelta(Seq((2L, 99), (3L, -1)).toDF("id", "status"))
    val out = t.read().get.as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 5, 2L -> -1, 3L -> -1),
      s"insert-only append broken: $out")
  }

  test("delta: a full commit folds batches into the snapshot; dirs sweep one cycle later") {
    val dir = Files.createTempDirectory("graft_deltafold").toString
    val t = new StateTable(spark, dir, Seq("id"))
    t.commit(Seq((1L, 0)).toDF("id", "status"))
    t.appendDelta(Seq((2L, -1)).toDF("id", "status"))
    t.appendDelta(Seq((3L, -1)).toDF("id", "status"))
    val before = deltaDirs(dir)
    assert(before.size == 2)
    // the fold: a commit of read() (snapshot + deltas)
    t.commit(t.read().get)
    assert(t.read().get.as[(Long, Int)].collect().toMap ==
      Map(1L -> 0, 2L -> -1, 3L -> -1))
    // the folded dir survives ONE cycle (grace for readers holding the old
    // lazy view), then sweeps at the next commit
    assert(deltaDirs(dir) == before, "folded delta swept without grace")
    t.commit(t.read().get)
    assert(deltaDirs(dir).isEmpty, "folded delta not swept at the next commit")
  }

  test("delta: a compacted key never resurrects from a folded-but-unswept batch") {
    val dir = Files.createTempDirectory("graft_deltares").toString
    val t = new StateTable(spark, dir, Seq("id"))
    t.commit(Seq((1L, 0)).toDF("id", "status"))
    t.appendDelta(Seq((2L, 1)).toDF("id", "status"))
    // fold the delta, then retire the delta-born key to the archive
    t.commit(t.read().get)
    t.retire(Seq((2L, 1)).toDF("id", "status"))
    // the delta dir may still exist on disk (one-cycle grace) — the live
    // view must NOT resurrect id=2 from it
    val live = t.read().get.as[(Long, Int)].collect().toMap
    assert(live == Map(1L -> 0), s"compacted key resurrected: $live")
    // full-history view still serves it from the archive
    val all = t.readAll().get.as[(Long, Int)].collect().toMap
    assert(all == Map(1L -> 0, 2L -> 1))
  }

  test("delta: crash before the pointer swap leaves batches live (no lost rows)") {
    // a commit that wrote its version dir (with _FOLDED) but died before
    // the pointer swap must leave the deltas VISIBLE — the folded list is
    // only authoritative through the pointer
    val dir = Files.createTempDirectory("graft_deltacrash").toString
    val t = new StateTable(spark, dir, Seq("id"))
    t.commit(Seq((1L, 0)).toDF("id", "status"))
    t.appendDelta(Seq((2L, -1)).toDF("id", "status"))
    val batch = deltaDirs(dir).head
    // simulate the crashed commit: unreferenced v1_dead dir dooming the batch
    val dead = java.nio.file.Paths.get(dir, "v1_deadbeef")
    Files.createDirectories(dead)
    Files.writeString(dead.resolve("_FOLDED"), batch)
    val out = t.read().get.as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 0, 2L -> -1),
      s"delta rows lost to an unreferenced _FOLDED list: $out")
  }

  test("vacuum reaps a same-number twin of the current version (loser garbage)") {
    val dir = Files.createTempDirectory("graft_twin").toString
    val t = new StateTable(spark, dir, Seq("id"))
    t.commit(Seq((1L, 0)).toDF("id", "status"))
    t.commit(Seq((1L, 1)).toDF("id", "status"))
    // a crashed commit's unreferenced dir at the current version number
    val twin = java.nio.file.Paths.get(dir, "v1_loser000")
    Files.createDirectories(twin)
    Files.writeString(twin.resolve("junk"), "x")
    t.vacuum(keep = 2)
    assert(!Files.exists(twin), "same-number twin survived vacuum")
    // the real current version is untouched
    assert(t.read().get.as[(Long, Int)].collect().toMap == Map(1L -> 1))
  }

  test("a commit killed before its pointer swap leaves only its version dir, " +
    "a same-number twin that vacuum reaps once the next commit lands") {
    val dir = Files.createTempDirectory("graft_crashdir").toString
    val t = new StateTable(spark, dir, Seq("id"))
    t.commit(Seq((1L, 0)).toDF("id", "status"))
    def entries = new java.io.File(dir).list().toSet
    val before = entries
    assert(crashedBeforeSwap(t)(t.commit(Seq((2L, 0)).toDF("id", "status"))))
    val crashed = entries -- before
    assert(crashed.size == 1 && crashed.head.startsWith("v1_"),
      s"a crashed commit must leave exactly its own version dir: $crashed")
    assert(rows(t.read()) == Seq(1L -> 0))
    t.vacuum(keep = 1) // above the current version: left for now
    assert(entries.contains(crashed.head))
    t.commit(Seq((3L, 0)).toDF("id", "status"))
    t.vacuum(keep = 2)
    assert(!entries.contains(crashed.head), "the crashed commit's dir survived vacuum")
    assert(t.versions == Seq(0L, 1L))
    assert(rows(t.read()) == Seq(3L -> 0))
  }
}

/** Holds the OS lock on the file named by its argument until it is killed
  * or its stdin closes, after printing `locked` — a second process for the
  * single-writer tests. */
object HoldLock {
  def main(args: Array[String]): Unit = {
    val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(args(0)),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    ch.lock()
    println("locked")
    System.out.flush()
    while (System.in.read() >= 0) ()
  }
}
