package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{LlmOps, Tables}

class IvfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val d = "/root/testdata/sf0.001"

  def embeddedAt(dir: String) = Tables.embeddings(spark, dir)
    .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    .withColumn("nrm", LlmOps.norm(col("v")))
  def embedded = embeddedAt(d)

  def queries(e: org.apache.spark.sql.DataFrame) = e
    .filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))

  def bruteForce(e: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    queries(e).crossJoin(e.select(col("vec_id"), col("v").as("cv"), col("nrm").as("cn")))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_r", round(LlmOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("vec_id").asc)))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id").as("cand"), col("cos_r"))
  }

  test("full-probe IVF (nprobe=k) is exactly brute force") {
    val e = embedded
    val (assigned, centroids) = LlmOps.ivfAssign(e, k = 4)
    val ivf = LlmOps.ivfSearch(assigned, centroids, queries(e), topK = 5, nprobe = 4)
      .orderBy("qid", "rn").collect().toSeq
    val bf = bruteForce(e).orderBy("qid", "rn").collect().toSeq
    assert(ivf == bf)
  }

  test("partial probe returns valid ranked results with bounded candidates") {
    val e = embedded
    val (assigned, centroids) = LlmOps.ivfAssign(e, k = 8)
    val out = LlmOps.ivfSearch(assigned, centroids, queries(e), topK = 5, nprobe = 2)
    val perQ = out.groupBy("qid").count().collect()
    assert(perQ.forall(_.getLong(1) <= 5))
    // ranks are 1..n contiguous per query
    val ranks = out.orderBy("qid", "rn").collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getInt(1)).toSeq)
    assert(ranks.forall(r => r == (1 to r.size)))
  }

  test("recall@5 at nprobe=2 stays above the floor (quantizer quality gate)") {
    // pins search quality, not just shape: a quantizer change that
    // silently destroys recall (e.g. degenerate centroids) fails here
    val e = embedded
    val (assigned, centroids) = LlmOps.ivfAssign(e, k = 8)
    val ivf = LlmOps.ivfSearch(assigned, centroids, queries(e), topK = 5, nprobe = 2)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = bruteForce(e)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    info(f"recall@5 nprobe=2/k=8: $recall%.3f")
    assert(recall >= 0.6, f"recall@5 collapsed to $recall%.3f")
  }

  test("recall@5 gate holds at verify scale (sf0.01) — the per-round number") {
    // The registered sim_topk_ivf_kmeans row is CONTRACT-oracled (emitted
    // cosines recomputed from source, slots/rank monotonicity), which
    // says nothing about ranking QUALITY — so the recall number must be
    // MEASURED per round, and at verify scale, not just on the
    // 500-vector fixture: a sampled quantizer fit that went degenerate
    // only at larger corpus sizes would pass sf0.001 and ship.
    // Set SPARK_GRAFT_IVF_SF=/root/testdata/sf0.1 to run the same gate at
    // bench scale (float-sensitive-op rule from the verify recipe).
    // Measured curve (DriveIvfProbe, probe main since deleted; sf0.01 + sf0.1): 2/8 probes sits at
    // 0.40-0.57 recall while 4/8 holds 0.70-0.86 — probe FRACTION is the
    // dial, so the registered query and this gate both run nprobe=4/k=8.
    val dBig = sys.env.getOrElse("SPARK_GRAFT_IVF_SF", "/root/testdata/sf0.01")
    val e = embeddedAt(dBig)
    val (assigned, centroids) = LlmOps.ivfAssign(e, k = 8)
    val bf = bruteForce(e)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = LlmOps.ivfSearch(assigned, centroids, queries(e), topK = 5, nprobe = 4)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    info(f"recall@5 nprobe=4/k=8 at $dBig: $recall%.3f (${ivf.intersect(bf).size}/${bf.size})")
    assert(recall >= 0.6, f"recall@5 at $dBig collapsed to $recall%.3f")
    val cheap = LlmOps.ivfSearch(assigned, centroids, queries(e), topK = 5, nprobe = 2)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    info(f"recall@5 nprobe=2/k=8 at $dBig (cheap setting, unGated): " +
      f"${cheap.intersect(bf).size.toDouble / bf.size}%.3f")
  }

  test("sign-LSH banding recall vs the exact cos>=0.3 join stays quantified") {
    // dedup_embed_cosine is an LSH operator: banding has recall < 1 by
    // design, and its oracle mirrors the same construction — so the
    // harness can't see dropped pairs. This spec measures the trade
    // against the exhaustive label-blocked join on the fixture so a
    // banding change that craters recall fails loudly.
    val e = embedded
    val exact = e.select(col("vec_id").as("vec_a"), col("label"),
        col("v").as("va"), col("nrm").as("na"))
      .join(e.select(col("vec_id").as("vec_b"), col("label"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_r", round(LlmOps.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_r") >= 0.3)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_embed_cosine")(spark, d)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact join did not")
    val recall = lsh.size.toDouble / exact.size
    info(f"sign-LSH banding recall on sf0.001: $recall%.3f (${lsh.size}/${exact.size} pairs)")
    assert(recall >= 0.5, f"LSH banding recall collapsed to $recall%.3f")
  }

  test("sign-LSH banding recall holds at verify scale (sf0.01) too") {
    // same measurement as above at the scale the driver verifies at —
    // banding recall is geometry-dependent, so the floor is pinned on
    // BOTH fixtures (the KMeans-IVF gate's lesson: sf0.001 alone can
    // flatter a construction that degrades on different data)
    val d01 = "/root/testdata/sf0.01"
    val e = embeddedAt(d01)
    val exact = e.select(col("vec_id").as("vec_a"), col("label"),
        col("v").as("va"), col("nrm").as("na"))
      .join(e.select(col("vec_id").as("vec_b"), col("label"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_r", round(LlmOps.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_r") >= 0.3)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_embed_cosine")(spark, d01)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact join did not")
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    info(f"sign-LSH banding recall on sf0.01: $recall%.3f (${lsh.size}/${exact.size} pairs)")
    assert(recall >= 0.5, f"LSH banding recall at sf0.01 collapsed to $recall%.3f")
  }

  test("ivfProbes heuristic: ramped fraction at small k, never exceeds k") {
    // Pins the probe-budget curve (round-12 verdict #5): small-k corpora
    // get the ~6% ramp (floor 8), large-k the ~3% rule — the operating
    // points the --x1000sim recall ≥ 0.8 gate was measured at. A silent
    // constant change that starves the small-N leg fails here before a
    // decade run has to discover it.
    assert(LlmOps.ivfProbes(8) == 8)      // fixture scale: full probe = brute
    assert(LlmOps.ivfProbes(158) == 9)    // N=100k leg: was 4 (recall 0.69)
    assert(LlmOps.ivfProbes(500) == 16)   // N=1M leg: ~unchanged (was 15, recall 0.95)
    assert(LlmOps.ivfProbes(1024) == 32)  // N=10M leg: unchanged (recall 1.0)
    for (k <- Seq(1, 2, 4, 8, 16, 100, 255, 256, 512, 1024)) {
      val p = LlmOps.ivfProbes(k)
      assert(p >= 1 && p <= k, s"ivfProbes($k)=$p out of [1, k]")
    }
    // monotone in k: a bigger cell budget never probes fewer cells
    val curve = (1 to 1200).map(LlmOps.ivfProbes)
    assert(curve.sliding(2).forall(w => w(1) >= w(0)), "ivfProbes not monotone")
  }

  test("assignment is deterministic under the fixed seed") {
    val e = embedded
    val a1 = LlmOps.ivfAssign(e, k = 4)._1.select("vec_id", "cell")
      .orderBy("vec_id").collect().toSeq
    val a2 = LlmOps.ivfAssign(e, k = 4)._1.select("vec_id", "cell")
      .orderBy("vec_id").collect().toSeq
    assert(a1 == a2)
  }

  test("content-addressed index cache: hit path is read-only, refit on new content") {
    // round-13 verdict #1: the second invocation for the same corpus +
    // params must be a pure cache HIT — nothing under the cache root is
    // written (so neither KMeans nor the assignment pass ran; both come
    // back as parquet scans) — and the results must be identical. A
    // corpus whose content fingerprint changes gets a DIFFERENT root, so
    // stale cells can never be probe-hit.
    import graft.ops.IvfIndex
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // private corpus copy: the shared fixtures must not grow cache roots
    // that other tests/rounds could collide with
    val tmp = Files.createTempDirectory("graft_ivfidx").toString
    val src = Paths.get(s"$d/embeddings.parquet")
    Files.copy(src, Paths.get(s"$tmp/embeddings.parquet"),
      StandardCopyOption.COPY_ATTRIBUTES)
    def embT = embeddedAt(tmp)
    def newestMtime(p: java.io.File): Long = {
      val kids = Option(p.listFiles()).getOrElse(Array.empty)
      (p.lastModified +: kids.map(newestMtime).toSeq).max
    }
    val root = IvfIndex.cacheRoot(tmp, "embeddings")
    val (a1, c1) = IvfIndex.cachedAssign(embT, tmp)
    val r1 = a1.select("vec_id", "cell").orderBy("vec_id").collect().toSeq
    val cent1 = c1.orderBy("cell").collect().toSeq
    val stamp = newestMtime(new java.io.File(root))
    Thread.sleep(20) // mtime granularity guard
    val (a2, c2) = IvfIndex.cachedAssign(embT, tmp)
    val r2 = a2.select("vec_id", "cell").orderBy("vec_id").collect().toSeq
    val cent2 = c2.orderBy("cell").collect().toSeq
    assert(newestMtime(new java.io.File(root)) == stamp,
      "cache root was written on the hit path — the index was re-derived")
    assert(r1 == r2 && cent1 == cent2, "hit returned different results")
    // content change ⇒ different root (re-fit, never a stale hit)
    val f = new java.io.File(s"$tmp/embeddings.parquet")
    assert(f.setLastModified(f.lastModified() + 73000),
      "could not touch the fixture copy")
    assert(IvfIndex.cacheRoot(tmp, "embeddings") != root,
      "content fingerprint ignored the file change — stale index would be hit")
  }
}
