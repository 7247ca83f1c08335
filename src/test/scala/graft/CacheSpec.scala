package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Cache

class CacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def newCache() = new Cache(spark, Files.createTempDirectory("graft_cache").toString)

  test("probe misses before materialization, hits after (Q3)") {
    val c = newCache()
    assert(!c.probe("k1"))
    c.getOrCompute("k1")(Seq((1, "a")).toDF("id", "v"))
    assert(c.probe("k1"))
  }

  test("getOrCompute computes exactly once per key (§4 memoization)") {
    val c = newCache()
    var computes = 0
    def compute = { computes += 1; Seq((1, "a")).toDF("id", "v") }
    c.getOrCompute("k")(compute)
    c.getOrCompute("k")(compute)
    assert(computes == 1)
  }

  test("fillManyPartitioned fills N keys with ONE Spark job (IVM batch fill)") {
    val c = newCache()
    val df = Seq((1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"), (4, "d", "d3"))
      .toDF("id", "v", "pday")
    // scope a job group around the fill: the whole N-key fill must be one
    // distributed write, not a per-key sequential job loop
    spark.sparkContext.setJobGroup("fillmany_test", "one-job fill", false)
    val keys =
      try c.fillManyPartitioned(df, "pday", v => s"daily_$v")
      finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("fillmany_test")
    assert(jobs.length == 1, s"expected ONE job for the batch fill, saw ${jobs.length}")
    assert(keys.toSet == Set("daily_d1", "daily_d2", "daily_d3"))
    assert(Seq("daily_d1", "daily_d2", "daily_d3").forall(c.probe))
    val back = c.readMany(keys)
    assert(back.columns.toSet == Set("id", "v"), "partition col dropped by layout")
    assert(back.count() == 4)
    // refill overwrites (getOrCompute overwrite semantics)
    val keys2 = c.fillManyPartitioned(
      Seq((9, "z", "d1")).toDF("id", "v", "pday"), "pday", v => s"daily_$v")
    assert(c.readMany(keys2).as[(Int, String)].collect().toSeq == Seq((9, "z")))
    assert(keys2.forall(c.probe), "overwritten key probe-hits")
  }

  test("stale orphaned staging dirs are reaped; fresh ones survive") {
    val root = Files.createTempDirectory("graft_cache").toString
    val c = new Cache(spark, root)
    val base = java.nio.file.Paths.get(s"$root/v1")
    Files.createDirectories(base)
    // a fill that crashed mid-write two hours ago left its staging dir —
    // EVERY file in the subtree is old (nothing has written since)
    val old = System.currentTimeMillis() - 2 * 3600 * 1000L
    val dead = base.resolve("_staging_dead1234")
    Files.createDirectories(dead)
    Files.writeString(dead.resolve("part-0.parquet"), "torn")
    dead.resolve("part-0.parquet").toFile.setLastModified(old)
    dead.toFile.setLastModified(old)
    // a concurrent fill's ACTIVE staging dir (fresh mtime) must survive
    val live = base.resolve("_staging_live5678")
    Files.createDirectories(live)
    // an active LONG write: the staging root went stale >1h ago but a
    // task is still committing files deep under _temporary — the reaper
    // must check the subtree's newest mtime, not the root's
    val slow = base.resolve("_staging_slow9abc")
    Files.createDirectories(slow.resolve("_temporary/0/task_1"))
    Files.writeString(slow.resolve("_temporary/0/task_1/part-0.parquet"), "live")
    slow.toFile.setLastModified(old)
    slow.resolve("_temporary").toFile.setLastModified(old)
    c.fillManyPartitioned(Seq((1, "d1")).toDF("v", "pday"), "pday", v => s"k_$v")
    assert(!Files.exists(dead), "stale crashed staging reaped")
    assert(Files.exists(live), "fresh concurrent staging preserved")
    assert(Files.exists(slow), "active >1h distributed write preserved")
    assert(c.probe("k_d1"))
  }

  test("invalidate makes the key miss") {
    val c = newCache()
    c.getOrCompute("k")(Seq((1, "a")).toDF("id", "v"))
    assert(c.probe("k"))
    c.invalidate("k")
    assert(!c.probe("k"))
  }

  test("invalidate removes a key dir holding a non-empty subdirectory") {
    val root = Files.createTempDirectory("graft_cache").toString
    val c = new Cache(spark, root)
    c.getOrCompute("k")(Seq((1, "a")).toDF("id", "v"))
    val sub = java.nio.file.Paths.get(root, "v1", "k", "_csv")
    Files.createDirectories(sub)
    Files.writeString(sub.resolve("part-00000.csv"), "id,v\n1,a\n")
    c.invalidate("k")
    assert(!c.probe("k"))
    assert(!Files.exists(sub.getParent), "the key dir must be gone")
  }

  test("version bump invalidates (version-based invalidation §4)") {
    val root = Files.createTempDirectory("graft_cache").toString
    val v1 = new Cache(spark, root, "v1")
    val v2 = new Cache(spark, root, "v2")
    v1.getOrCompute("k")(Seq((1, "a")).toDF("id", "v"))
    assert(v1.probe("k") && !v2.probe("k"))
  }
}
