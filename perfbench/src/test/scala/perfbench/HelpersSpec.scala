package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail: the sample with exactly ten beyond it, at its percentile") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains(Stats.Tail(1.0, 100.0 / 11, 11)))
    assert(Stats.tail((1 to 40).reverse.map(_.toDouble)).contains(Stats.Tail(30.0, 75.0, 40)))
    assert(Stats.tail((1 to 100).map(_.toDouble)).contains(Stats.Tail(90.0, 90.0, 100)))
    // ties: still ten samples at or beyond the reported one
    assert(Stats.tail(Seq.fill(15)(2.0) ++ Seq.fill(10)(5.0)).map(_.value).contains(2.0))
  }

  test("median and union length") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L), (30L, 30L))) == 20L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  // call sites as Spark records them: innermost frame first, starting at
  // the first frame outside Spark's own packages
  private def site(frames: String*) = frames.mkString("\n")

  test("module of a call site: the innermost engine frame decides") {
    assert(Modules.of(site(
      "org.apache.spark.sql.classic.DataFrameWriter.saveAsTable(DataFrameWriter.scala:421)",
      "graft.ops.Cache.getOrComputeBucketed(Cache.scala:258)",
      "graft.Pipeline.materialize(Pipeline.scala:150)",
      "graft.Engine.tick(Engine.scala:275)",
      "perfbench.Requests$.$anonfun$run$6(Requests.scala:108)")).contains("cache"))
    assert(Modules.of(site(
      "graft.ops.StateTable.read(StateTable.scala:60)",
      "graft.Engine.tick(Engine.scala:245)")).contains("statetable"))
    assert(Modules.of(site(
      "graft.Engine.$anonfun$writeGroup$3(Engine.scala:153)",
      "graft.Engine.writeArtifacts(Engine.scala:226)")).contains("artifacts"))
    assert(Modules.of("graft.Engine.writeSingle(Engine.scala:99)").contains("artifacts"))
    assert(Modules.of("graft.Engine.tick(Engine.scala:247)").contains("engine"))
    assert(Modules.of("graft.QueriesExt$.$anonfun$dedupQueries$7(QueriesExt.scala:1200)").contains("queries"))
    assert(Modules.of("graft.ops.Ckpt$CkptOps.diskCheckpoint(Ckpt.scala:70)").contains("ckpt"))
    assert(Modules.of("graft.functions.GkBracket$.bracket(GkBracket.scala:88)").contains("extracts"))
    assert(Modules.of("graft.functions.CharNgrams$.grams(CharNgrams.scala:40)").contains("llmops"))
    assert(Modules.of("graft.streaming.Streamy$.tumbling(Streamy.scala:30)").contains("streamy"))
    assert(Modules.of("graft.ops.Analytics$.zonedNtile(Analytics.scala:12)").contains("graft_other"))
  }

  test("module of a call site with no engine frame") {
    assert(Modules.of(site(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1500)",
      "perfbench.Register$.drive(Register.scala:65)")).isEmpty)
    assert(Modules.of("").isEmpty)
    assert(Modules.of(null).isEmpty)
    // a Spark-package bridge class is not an engine frame by name
    assert(Modules.of("org.apache.spark.sql.graft.Bridge$.f(Bridge.scala:3)").isEmpty)
    assert(Trace.layerOfSpan("exec") == "queries")
    assert(Trace.layerOfSpan("results") == "engine")
    assert(Trace.layerOfSpan("") == "spark")
  }

  private val spec = Seq("latency_p50_s" -> "s", "ops_per_s" -> "1/s")
  private def line(ms: Seq[Json.Metric]) = Json.resultLine(correct = true, 12, 0, ms)

  test("result line: strict parse accepts its own output") {
    val l = line(Seq(Json.Metric("latency_p50_s", 0.25, "s"), Json.Metric("ops_per_s", 3.5e-5, "1/s")))
    Json.validate(l, spec)
  }

  test("result line: strict parse rejects malformed lines") {
    val good = line(Seq(Json.Metric("latency_p50_s", 0.25, "s"), Json.Metric("ops_per_s", 4.0, "1/s")))
    def rejects(l: String, s: Seq[(String, String)] = spec) = intercept[Exception](Json.validate(l, s))
    rejects(good + "x")
    rejects(good.replace("\"failed\":0", "\"failed\":0,\"failed\":1"))
    rejects(good.replace("4.0", "NaN"))
    rejects(good.replace("4.0", "\"4.0\""))
    rejects(good.replace("\"1/s\"", "\"s\""))
    rejects(good.replace("\"attempted\":12", "\"attempted\":0"))
    rejects(good.replace("\"correct\":true", "\"correct\":1"))
    rejects(good, spec :+ ("heap_mb" -> "MB"))
    rejects(good, spec.take(1))
    intercept[IllegalArgumentException](line(Seq(Json.Metric("ops_per_s", Double.NaN, "1/s"))))
  }

  test("register slices: a serpentine deal covers every row once with balanced totals") {
    val rows = (1 to 40).map(i => s"r$i" -> i.toDouble)
    val ss = Register.slices(rows, 4)
    assert(ss.flatten.sorted == rows.map(_._1).sorted)
    val sums = ss.map(_.map(n => n.drop(1).toDouble).sum)
    assert(sums.max == sums.min)
  }

  test("cold batch: a distinct shape per request, one pair per unit reusing two selections") {
    def batch(seed: Long, units: Int) = new Requests.Gen(seed).coldBatch("c1", units)
    assert(batch(7, 2) == batch(7, 2))
    for (units <- Seq(1, 2)) {
      val shapes = batch(7, units)
      assert(shapes.size == units * (Requests.UnitSize + 1))
      assert(shapes.distinct.size == shapes.size)
      assert(shapes.map(_.boundary).distinct.size == 1)
      val (pairs, singles) = shapes.partition(_.sels.size == 2)
      assert(pairs.size == units && singles.forall(_.sels.size == 1))
      assert(pairs.flatMap(_.sels).distinct.size == 2 * units)
      assert(pairs.flatMap(_.sels).forall(singles.flatMap(_.sels).contains))
      val methods = singles.flatMap(_.sels).collect { case r: Requests.Raster => r.method }
      assert(methods.size == units * (Requests.UnitAlgebraic + Requests.UnitHolistic))
      assert(methods.groupBy(identity).values.map(_.size).max <= 2)
    }
  }

  test("module figures: one name each, the layer's own where it has one") {
    val names = Layers.modules(Nil, 1.0).keySet
    assert(names.size == 2 * Modules.all.size)
    Seq("ckpt.jobs", "cache.fill_s", "statetable.jobs", "artifacts.s", "module.extracts.jobs").foreach(n =>
      assert(names.contains(n), n))
    assert(!names.exists(n => Layers.LayerNames.keys.exists(m => n.startsWith(s"module.$m."))))
  }
}
