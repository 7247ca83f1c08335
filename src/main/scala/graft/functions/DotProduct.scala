package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two `array<double>` columns, with
  * whole-stage codegen (SURVEY.md §2.9 / builder guidance: a codegen'd
  * `Expression` beats a UDF beats interpreted higher-order functions).
  *
  * Spark's `aggregate(zip_with(...))` formulation of a dot product runs on
  * the interpreted expression path (higher-order functions don't codegen)
  * AND allocates an intermediate array per row; this expression compiles to
  * a tight primitive loop over the two `ArrayData`s — the inner loop of
  * every similarity-search operator. Null elements are treated as 0
  * (embedding fixtures are dense; a null VECTOR still yields null via the
  * null-safe wrapper). A RAGGED pair (different dimensionality) yields
  * NULL — matching the `aggregate(zip_with(...))` reference formulation,
  * where the padded nulls poison the sum; silently truncating to the
  * shorter vector would report a plausible-looking partial similarity.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |      $acc += $x.getDouble($i) * $y.getDouble($i);
         |    }
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Column-API entry points for the native expressions. */
object native {
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def min_rolling_hash(s: Column, window: Int): Column =
    Bridge.column(MinRollingHash(Bridge.expression(s),
      org.apache.spark.sql.catalyst.expressions.Literal(window)))

  /** O(len) character n-gram array (see [[CharNgrams]]): replaces the
    * O(len²) `transform(sequence(...), i -> substring(s, i, n))` lambda. */
  def char_ngrams(s: Column, n: Int): Column =
    Bridge.column(CharNgrams(Bridge.expression(s),
      org.apache.spark.sql.catalyst.expressions.Literal(n)))

  def walsh_sign_bits(v: Column, nBits: Int): Column =
    Bridge.column(WalshSignBits(Bridge.expression(v),
      org.apache.spark.sql.catalyst.expressions.Literal(nBits)))

  def nearest_centroid(v: Column, centroids: Column): Column =
    Bridge.column(NearestCentroid(Bridge.expression(v), Bridge.expression(centroids)))

  /** One-pass per-document corpus-LM score (see [[LmTrigramScore]]): the
    * driver-collected, alphabet³-bounded (gram → log-prob) table rides
    * the expression as two foldable array literals. */
  def lm_trigram_score(s: Column, grams: Array[String],
      logps: Array[Double]): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
    Bridge.column(LmTrigramScore(Bridge.expression(s),
      Literal.create(grams.toSeq, ArrayType(StringType)),
      Literal.create(logps.toSeq, ArrayType(DoubleType))))
  }

  /** Word-bigram md5-12-bit bucket ids (see [[DsirBuckets]]): the DSIR
    * counts-pass feed — explode into a 4096-group aggregate. */
  def dsir_buckets(s: Column): Column =
    Bridge.column(DsirBuckets(Bridge.expression(s)))

  /** Fused DSIR scoring walk (see [[DsirScore]]): `[n_grams, micro]`
    * per document against a foldable 4096-long weight array literal. */
  def dsir_score(s: Column, weights: Array[Long]): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    Bridge.column(DsirScore(Bridge.expression(s),
      Literal.create(weights.toSeq, ArrayType(LongType))))
  }

  /** O(len) word n-gram array (see [[WordNgramsExpr]]): zero-copy
    * byte-slice windows — replaces the interpreted HOF shingle lambdas
    * (the bigram form re-split the text per element: O(len²)/doc). */
  def word_ngrams(s: Column, n: Int): Column =
    Bridge.column(WordNgramsExpr(Bridge.expression(s),
      org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** One-walk token-vote SimHash (see [[SimhashVotesExpr]]): packed
    * nBits-bit signature per document, one md5 per token — replaces the
    * token×bit explode + two aggregates. NULL in → NULL out. */
  def simhash_votes(s: Column, nBits: Int): Column =
    Bridge.column(SimhashVotesExpr(Bridge.expression(s),
      org.apache.spark.sql.catalyst.expressions.Literal(nBits)))

  /** Packed sorted string-set + linear-merge intersection count (see
    * [[PackedSet]]): the compact exact carrier for pairwise set-overlap
    * joins — full-byte identity, no hashing. */
  def pack_sorted_set(arr: Column): Column =
    Bridge.column(PackSortedSet(Bridge.expression(arr)))

  def packed_intersect_count(a: Column, b: Column): Column =
    Bridge.column(PackedIntersectCount(Bridge.expression(a), Bridge.expression(b)))

  /** Primitive-array GK bracket sketch (see [[GkBracketAgg]]): array of
    * approximate quantiles at `fracs` with rank error ≤ count/accuracy —
    * the allocation-light `percentile_approx` replacement for the guided
    * engine's bracket pass. */
  def gk_bracket(v: Column, fracs: Seq[Double], accuracy: Int): Column =
    Bridge.column(GkBracketAgg(Bridge.expression(v.cast("double")), fracs, accuracy)
      .toAggregateExpression())

  /** GK bracket plus the SERIALIZED summary:
    * `struct<qs: array<double>, state: binary>` — lets a |zones|-row
    * post-pass re-interrogate the sketch ([[GkDevBracket]]) instead of
    * paying a second corpus scan (the mad engine's deviation bracket). */
  def gk_bracket_state(v: Column, fracs: Seq[Double], accuracy: Int): Column =
    Bridge.column(GkBracketAgg(Bridge.expression(v.cast("double")), fracs,
      accuracy, withState = true).toAggregateExpression())

  /** Deviation-median window [lo, hi] from a `gk_bracket_state` blob and
    * the exact median (see [[GkSketch.devBracket]]). */
  def gk_dev_bracket(state: Column, med: Column): Column =
    Bridge.column(GkDevBracket(Bridge.expression(state),
      Bridge.expression(med.cast("double"))))

  /** Make the native expressions callable by name from `spark.sql` on a
    * live session (per session: call it on each session that runs SQL). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    Bridge.registerFunction(spark, "graft_dot", args => DotProduct(args(0), args(1)))
    Bridge.registerFunction(spark, "min_rolling_hash",
      args => MinRollingHash(args(0), args(1)))
    Bridge.registerFunction(spark, "char_ngrams",
      args => CharNgrams(args(0), args(1)))
    Bridge.registerFunction(spark, "walsh_sign_bits",
      args => WalshSignBits(args(0), args(1)))
    Bridge.registerFunction(spark, "nearest_centroid",
      args => NearestCentroid(args(0), args(1)))
    Bridge.registerFunction(spark, "lm_trigram_score",
      args => LmTrigramScore(args(0), args(1), args(2)))
    Bridge.registerFunction(spark, "dsir_buckets", args => DsirBuckets(args(0)))
    Bridge.registerFunction(spark, "dsir_score",
      args => DsirScore(args(0), args(1)))
    Bridge.registerFunction(spark, "simhash_votes",
      args => SimhashVotesExpr(args(0), args(1)))
    Bridge.registerFunction(spark, "word_ngrams",
      args => WordNgramsExpr(args(0), args(1)))
    Bridge.registerFunction(spark, "pack_sorted_set",
      args => PackSortedSet(args(0)))
    Bridge.registerFunction(spark, "packed_intersect_count",
      args => PackedIntersectCount(args(0), args(1)))
  }
}
