package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document corpus-LM score in ONE pass: the mean log-probability of
  * a document's character trigrams under a corpus trigram model, i.e.
  * `round(avg(logp(g)), 6)` over the document's trigram OCCURRENCES,
  * where `logp` is supplied as a pair of foldable array literals
  * (grams, log-probs) — the alphabet³-bounded trigram-count table the
  * `text_quality_lm` pipeline already collects.
  *
  * Why native (round-15 verdict: the last named hot constant): the
  * composed plan — explode to a (doc_id, trigram) stream, broadcast-hash
  * probe the counts ([[graft.ops.Extracts.joinOnZone]]), re-aggregate by
  * doc_id — pays ~4 µs per trigram ROW through the join/agg machinery
  * (~20× an aggregate-map lookup; DriveLmProbe stage metrics (probe main
  * since deleted)), and at decade-3 corpora (10¹⁰ trigram rows) that
  * probe leg alone was ~190 s.
  * This expression walks each document's UTF-8 bytes ONCE (same offset
  * technique as [[CharNgrams]]), probes an open-hashed map per window at
  * tens of ns, and emits the finished per-document score — no second
  * explode, no join, and no corpus-grain `groupBy(doc_id)` shuffle at
  * all. The semantics mirror the joined form EXACTLY:
  *
  *   - summation runs in document order — the same order the exploded
  *     stream fed Spark's `avg` partial (one partition per doc by
  *     construction), so the float result is bit-identical;
  *   - a gram absent from the table contributes to neither sum nor
  *     count (the inner join dropped that row);
  *   - a document with NO scored trigrams (shorter than 3 chars, NULL
  *     text, or nothing in the table) yields NULL — the joined+grouped
  *     form simply omitted such doc_ids, so call sites filter NULLs;
  *   - the result carries Spark `round(_, 6)` semantics
  *     (BigDecimal HALF_UP), applied here so consumers need no extra
  *     projection.
  *
  * Scale posture: the two array literals ride the stage's task binary,
  * which Spark BROADCASTS once per executor — the same wire cost the
  * explicit `broadcast(counts)` join paid, with none of its probe-side
  * machinery. The table is alphabet³-bounded (tens of KB), constant in
  * corpus size.
  */
case class LmTrigramScore(text: Expression, gramsLit: Expression,
    logpLit: Expression) extends TernaryExpression {

  override def first: Expression = text
  override def second: Expression = gramsLit
  override def third: Expression = logpLit

  override def checkInputDataTypes(): TypeCheckResult = {
    def arrOf(e: Expression, t: DataType) = e.dataType match {
      case ArrayType(`t`, _) => true
      case _ => false
    }
    if (text.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("lm_trigram_score expects a string document")
    else if (!arrOf(gramsLit, StringType) || !gramsLit.foldable)
      TypeCheckResult.TypeCheckFailure("grams must be a foldable array<string>")
    else if (!arrOf(logpLit, DoubleType) || !logpLit.foldable)
      TypeCheckResult.TypeCheckFailure("logps must be a foldable array<double>")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "lm_trigram_score"
  override def nullable: Boolean = true

  /** Built once per (de)serialized expression instance, from the foldable
    * children — driver-side at codegen time, executor-side on first eval. */
  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Double] =
    LmTrigramScore.buildTable(
      gramsLit.eval().asInstanceOf[ArrayData],
      logpLit.eval().asInstanceOf[ArrayData])

  override def eval(input: InternalRow): Any = {
    val s = text.eval(input)
    if (s == null) null
    else LmTrigramScore.score(s.asInstanceOf[UTF8String], table)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the built table (not the literal arrays) is the codegen reference:
    // one map per stage, probed directly from generated code
    val tableRef = ctx.addReferenceObj("lmTable", table, "java.util.HashMap")
    val strGen = text.genCode(ctx)
    val boxed = ctx.freshName("lmBoxed")
    val resultCode =
      code"""
         |${strGen.code}
         |boolean ${ev.isNull} = true;
         |double ${ev.value} = 0.0;
         |if (!${strGen.isNull}) {
         |  java.lang.Double $boxed =
         |    graft.functions.LmTrigramScore.score(${strGen.value}, $tableRef);
         |  if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
         |}
       """.stripMargin
    ev.copy(code = resultCode)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): LmTrigramScore =
    copy(text = newFirst, gramsLit = newSecond, logpLit = newThird)
}

object LmTrigramScore {
  def buildTable(grams: ArrayData,
      logps: ArrayData): java.util.HashMap[UTF8String, java.lang.Double] = {
    val n = grams.numElements()
    require(logps.numElements() == n,
      s"lm_trigram_score: grams ($n) and logps (${logps.numElements()}) differ")
    val m = new java.util.HashMap[UTF8String, java.lang.Double](n * 2)
    var i = 0
    while (i < n) {
      // clone() detaches the key from the literal ArrayData's backing
      // storage — the map outlives any single getUTF8String view
      m.put(grams.getUTF8String(i).clone(), logps.getDouble(i))
      i += 1
    }
    m
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One byte walk for character offsets (see [[CharNgrams.ngrams]]),
    * one map probe per 3-char window; UTF8String.fromBytes wraps the
    * shared byte array without copying. Static so generated code is a
    * single call and the JIT inlines the loop. */
  def score(s: UTF8String,
      table: java.util.HashMap[UTF8String, java.lang.Double]): java.lang.Double = {
    val bytes = s.getBytes
    val len = bytes.length
    if (len < 3) return null // numChars <= numBytes
    val offs = new Array[Int](len + 1)
    var nc = 0
    var i = 0
    while (i < len) {
      offs(nc) = i
      nc += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs(nc) = len
    if (nc < 3) return null
    var sum = 0.0
    var cnt = 0L
    var j = 0
    val last = nc - 3
    while (j <= last) {
      val v = table.get(UTF8String.fromBytes(bytes, offs(j), offs(j + 3) - offs(j)))
      if (v != null) { sum += v.doubleValue(); cnt += 1 }
      j += 1
    }
    if (cnt == 0) null else java.lang.Double.valueOf(round6(sum / cnt))
  }
}
