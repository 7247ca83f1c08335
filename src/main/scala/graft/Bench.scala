package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Protocol (driver contract): per-query timings go out in
  * one `{"metric":"total",...,"queries":{...}}` line, and the VERY LAST
  * stdout line is a compact total-only JSON object so a tail-parse always
  * succeeds regardless of how long the per-query map grows.
  *
  * Methodology (BASELINE.md protocol, encoded here rather than in prose):
  * one full unmeasured warm-up pass — at bench scale per-query wall-clock
  * is otherwise dominated by one-time JIT + whole-stage-codegen
  * compilation — then TWO measured passes. The reported value/queries come
  * from the SLOWER pass (the conservative warmed bound BASELINE.md
  * records); both pass totals are emitted (`pass_totals`) so a contended
  * single pass can never be mistaken for a code regression. Rows whose
  * two passes diverge >3× are re-run isolated and reported at the
  * isolated time, with the (p1, p2, isolated) triple emitted in a
  * `contended` list — the automated form of BASELINE.md's light-row
  * contention-signature audit.
  *
  * The second pass runs the queries in REVERSE order. Contention here is
  * largely neighborhood debt — the row after a heavy spiller inherits its
  * GC pauses and evicted page cache — and with both passes in the same
  * order that debt lands on the same rows both times, staying under the
  * 3× divergence trigger forever (measured: multimodal_decode at 2.7 s
  * in-pass vs 0.5 s isolated, invisible to a same-order protocol).
  * Reversing the second pass gives every row two different neighborhoods,
  * so systematic contention surfaces as divergence and gets the isolated
  * re-run.
  *
  * WHOLE-PASS contention (round-13 verdict #6): when an external load
  * (a concurrent compile, another Spark session) overlaps one measured
  * pass, that pass's TOTAL inflates 20%+ and every per-row slower-of-two
  * inherits the noise — BENCH_r13's headline needed manual adjudication
  * to read for exactly this. The protocol now self-adjudicates: if the
  * two pass totals diverge more than 15% ([[contendedPassIndex]]), the
  * slower pass is re-run once (same order) and the CLEAN pair feeds the
  * per-row maxima; the original contended total stays in the JSON under
  * `contended_pass` so the artifact tells the whole story on its own.
  */
object Bench {
  /** Whole-pass contention decision: index of the pass to re-run, when
    * the two totals diverge more than `threshold` (default 15%) — the
    * documented signature of an external load overlapping one pass.
    * Pure (testable without Spark); None when either total is
    * non-positive (a failed pass is a correctness problem, not noise). */
  def contendedPassIndex(totals: Seq[Double], threshold: Double = 0.15): Option[Int] = {
    require(totals.length == 2, s"expected two pass totals, got ${totals.length}")
    if (totals.exists(_ <= 0)) None
    else if (totals.max / totals.min > 1.0 + threshold)
      Some(if (totals(0) >= totals(1)) 0 else 1)
    else None
  }
  /** Round-trip-parse one emitted protocol line with Jackson (the
    * independent parser Spark already ships) and assert the fields the
    * driver reads are present and well-typed. The historical failure
    * class (r07/r09 `"parsed": null`) was a protocol line the driver's
    * parser rejected — silently, because nothing on this side checked
    * its own output. A NaN/Infinity timing (invalid JSON number) or an
    * unescaped quote in a future query name must now kill the run
    * loudly instead of voiding the round's benchmark. */
  def validateProtocolLine(line: String, requireQueries: Boolean): Unit = {
    // Strict parse: a default ObjectMapper stops at the first complete
    // value, so '{...}garbage' or a duplicated key would pass this
    // self-check yet still be rejected (or misread) by a stricter
    // tail-parsing driver — the exact silent-void class this check
    // exists to close. FAIL_ON_TRAILING_TOKENS + STRICT_DUPLICATE
    // make the validator at least as strict as any downstream parser.
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .enable(com.fasterxml.jackson.core.StreamReadFeature.STRICT_DUPLICATE_DETECTION)
      .build()
    val node = mapper.readTree(line)
    require(node.isObject, "protocol line is not a JSON object")
    require(node.path("metric").asText() == "total", "missing metric=total")
    require(node.path("value").isNumber, "value is not a JSON number")
    require(node.path("pass_totals").isArray, "pass_totals is not an array")
    require(node.path("contended").isArray, "contended is not an array")
    // optional whole-pass adjudication record: when present it must be
    // well-formed (the driver may read it to explain a pass delta)
    if (node.has("contended_pass")) {
      val cp = node.path("contended_pass")
      require(cp.isObject, "contended_pass is not an object")
      require(cp.path("pass").isInt, "contended_pass.pass is not an int")
      require(cp.path("original_total").isNumber,
        "contended_pass.original_total is not a number")
      require(cp.path("rerun_total").isNumber,
        "contended_pass.rerun_total is not a number")
    }
    if (requireQueries) {
      require(node.path("queries").isObject, "queries is not an object")
      val it = node.path("queries").properties().iterator()
      while (it.hasNext) {
        val e = it.next()
        require(e.getValue.isNumber, s"query ${e.getKey} timing is not a number")
      }
    }
    // optional substrate-build map (r17, additive): when present it must
    // be an object of numbers — the warm-up-time builds of the memoized
    // shared frames, surfaced so the artifact shows what the consumer
    // rows exclude
    if (node.has("substrates")) {
      require(node.path("substrates").isObject, "substrates is not an object")
      val it = node.path("substrates").properties().iterator()
      while (it.hasNext) {
        val e = it.next()
        require(e.getValue.isNumber,
          s"substrate ${e.getKey} timing is not a number")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // Drive each query by aggregating a hash of EVERY output column — NOT
    // df.count(): under a count() action Catalyst legitimately eliminates
    // work the query declares (an aggregated-right left join prunes to a
    // scan of the left table, since multiplicity is provably 1), so a
    // count-driven bench reports the scan, not the operator
    // (repeated_ngrams measured 0.08 s that way — the join and the whole
    // gram pipeline were optimized out). Hashing all columns forces every
    // declared value to be computed, while still letting the optimizer
    // drop the final ORDER BY, which exists for the Verify determinism
    // contract, not operator semantics (raw toRdd would pay a global
    // range-sort per query: measured +130% total, all of it sort).
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.functions.{col, xxhash64, expr}
      val df = fn(spark, sfDir)
      df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
        .agg(expr("bit_xor(h)")).head(): Unit
    }
    // Substrate builds FIRST, timed (r17, additive `substrates` field):
    // the memoized shared frames (pair list, signature quotients,
    // sessionized log) were previously materialized inside whichever
    // consumer's unmeasured warm-up ran first, so their cost appeared
    // nowhere in the artifact while the consumer rows excluded it. The
    // noop sink forces every column of the frame (guide §1.4); the
    // memoized handle then serves all consumers. Does not change any
    // measured row's semantics — the same builds always happened at
    // warm-up — it only makes their cost visible.
    val substrateTimes = SparkEntry.substrates.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val v = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] substrate $name failed: ${e.getMessage}")
        -1.0
      }
      name -> v
    }
    // warm-up: run everything once, unmeasured (JIT, codegen cache, shuffle
    // service, parquet footer cache all get primed); failures surface in
    // the measured passes
    queries.foreach { case (_, fn) =>
      try { run(fn) } catch { case _: Throwable => }
    }
    def measuredPass(order: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]): Seq[(String, Double)] =
      order.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // a failed query must be visible as -1, not masquerade as a fast pass
        val v = try { run(fn); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
          }
        name -> v
      }
    def totalOf(r: Seq[(String, Double)]) = r.map(_._2).filter(_ >= 0).sum
    // second pass REVERSED: see the scaladoc — same-order passes put
    // neighborhood contention on the same rows twice, hiding it from the
    // divergence trigger
    val rawPasses = Seq(measuredPass(queries), measuredPass(queries.reverse))
    val rawTotals = rawPasses.map(totalOf)
    // whole-pass contention adjudication (see scaladoc): >15% total
    // divergence re-runs the slower pass once, and the clean pair feeds
    // everything downstream; the contended original is kept in the JSON
    val contendedPass = contendedPassIndex(rawTotals)
    val passes = contendedPass match {
      case Some(i) =>
        System.err.println(f"[bench] pass totals diverge " +
          f"${rawTotals.max / rawTotals.min}%.2fx (${rawTotals.mkString(", ")}) " +
          s"— re-running pass ${i + 1} once (whole-pass contention protocol)")
        rawPasses.updated(i,
          measuredPass(if (i == 0) queries else queries.reverse))
      case None => rawPasses
    }
    val totals = passes.map(totalOf)
    // per-row slower-of-two (NOT "the pass with the slower total": with the
    // passes in different orders, a row's contended run can sit in either)
    val p2Map = passes(1).toMap
    val slower = passes(0).map { case (n, v1) =>
      val v2 = p2Map.getOrElse(n, -1.0)
      n -> (if (v1 < 0 || v2 < 0) -1.0 else math.max(v1, v2))
    }
    // Contention audit: a row whose two warmed passes diverge >3× wasn't
    // re-optimized between passes — it hit host noise (GC pause, another
    // query's spill flushing page cache, CPU contention from the 32-way
    // local pool). Re-run each such row ISOLATED (nothing else in flight)
    // and report THAT time for it, recording (p1, p2, isolated) in a
    // `contended` list so a future reader never misreads noise as a code
    // regression. The 0.2 s floor keeps 10 ms rows from churning: at that
    // size a 3× split is scheduler jitter, not a signal.
    val contendedNames = passes(0).collect { case (n, a)
        if a >= 0 && p2Map(n) >= 0 &&
          math.max(a, p2Map(n)) >= 0.2 && math.min(a, p2Map(n)) > 0 &&
          math.max(a, p2Map(n)) / math.min(a, p2Map(n)) > 3.0 => n
    }
    val qByName = queries.toMap
    val isolated = contendedNames.map { n =>
      val t0 = System.nanoTime()
      val v = try { run(qByName(n)); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      n -> v
    }.toMap
    val results = slower.map { case (n, v) =>
      n -> isolated.get(n).filter(_ >= 0).getOrElse(v)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = totalOf(results)
    val passTotals = totals.mkString("[", ",", "]")
    val p1Map = passes(0).toMap
    val contendedJson = contendedNames.map { n =>
      s"""{"name":"$n","p1":${p1Map(n)},"p2":${p2Map(n)},"isolated":${isolated(n)}}"""
    }.mkString("[", ",", "]")
    spark.stop()
    // self-describing whole-pass adjudication record: which pass was
    // contended, what it originally measured, what the clean re-run
    // measured (pass_totals already carries the clean pair)
    val passAdj = contendedPass.map { i =>
      s""","contended_pass":{"pass":${i + 1},"original_total":${rawTotals(i)},"rerun_total":${totals(i)}}"""
    }.getOrElse("")
    val subsJson = substrateTimes.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","pass_totals":$passTotals$passAdj,"contended":$contendedJson,"substrates":$subsJson,"queries":$qs,"sf":"$sfDir"}"""
    val totalLine =
      s"""{"metric":"total","value":$total,"unit":"sec","pass_totals":$passTotals$passAdj,"contended":$contendedJson,"substrates":$subsJson,"sf":"$sfDir"}"""
    // validate BEFORE printing; print anyway on failure (forensics) but
    // exit non-zero so the driver can never record a silent parse void
    val protocolErr =
      try { validateProtocolLine(fullLine, requireQueries = true)
            validateProtocolLine(totalLine, requireQueries = false); None }
      catch { case e: Exception => Some(e.getMessage) }
    protocolErr.foreach(m => System.err.println(s"[bench] PROTOCOL LINE INVALID: $m"))
    println(fullLine)
    // compact total-only object LAST — the driver tail-parses this line
    println(totalLine)
    System.out.flush()
    // the compact total also lands in a known file so the result survives
    // any stdout mangling by the launcher (sbt prefixes, trailing
    // [success] lines). Written AFTER the protocol lines and best-effort:
    // an unwritable cwd must never void a finished 30s measurement.
    try {
      val out = new java.io.File("target/bench_total.json")
      out.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(out)
      try { w.println(fullLine); w.println(totalLine) } finally w.close()
      // read-back self-check (r17): the r15 artifact lost its per-query
      // map to a tail-parse format gap and the round lost per-query
      // comparability (PERF_r16 n_common=0). Assert the file's FIRST
      // line still round-trips with the queries map present, so a
      // future format drift dies here instead of voiding a round.
      val readBack = scala.io.Source.fromFile(out)
      val firstLine = try readBack.getLines().next() finally readBack.close()
      try validateProtocolLine(firstLine, requireQueries = true)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] protocol read-back failed: ${e.getMessage}")
        sys.exit(2)
      }
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write bench_total.json: ${e.getMessage}")
    }
    if (protocolErr.isDefined) sys.exit(2)
  }
}
