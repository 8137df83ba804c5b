package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** `LinearScoreSum(features, weights)` — Σ weight(f) over an
  * `array<string>` of features, unmatched features contributing 0.0: the
  * dot product of a linear text classifier (fastText/CCNet-style quality
  * model) as ONE native expression.
  *
  * Why a custom Expression (SURVEY §7.2 preference order): the declarative
  * formulation is explode(features) ⋈ broadcast(weights) → groupBy(doc) —
  * one corpus-sized exchange, and a filter built on it must either rescan
  * the corpus (semi-join on kept ids) or drag every source column through
  * a SortAggregate (struct-valued `first` has no mutable buffer, so Spark
  * sorts the exploded token rows). Here the weight table is a per-executor
  * hash map shipped once via the codegen reference object — the same
  * pattern as [[BpeEncodeWords]] — and scoring is a per-row loop with O(1)
  * lookups: map-only, ZERO shuffles, fused into the enclosing
  * whole-stage-codegen stage. Memory envelope equals the broadcast join's
  * (both ship the full table per executor); a 10⁵-term trained vocabulary
  * is a few MB.
  *
  * Keys are compared as [[UTF8String]] (no per-token String decode).
  * Summation is left-to-right in array order; with weights chosen as exact
  * binary fractions every partial sum is exactly representable, so the
  * result is order-independent and cross-engine exact (the DuckDB oracle
  * reproduces it from a SQL join/agg restatement).
  */
case class LinearScoreSum(child: Expression, weights: Map[String, Double])
    extends UnaryExpression {

  override def prettyName: String = "linear_score_sum"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    HashExpressions.checkStringArray(child, prettyName)

  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Double] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double](weights.size * 2)
    for ((k, w) <- weights) m.put(UTF8String.fromString(k), w)
    m
  }

  /** Public: the generated code calls it through the reference object. */
  def score(input: ArrayData): Double = {
    val n = input.numElements()
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!input.isNullAt(i)) {
        val w = table.get(input.getUTF8String(i))
        if (w != null) sum += w.doubleValue()
      }
      i += 1
    }
    sum
  }

  override protected def nullSafeEval(input: Any): Any =
    score(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("linearScore", this,
      classOf[LinearScoreSum].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.score($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `BucketScoreSum(buckets, weights)` — Σ weights(b) over an `array<int>`
  * of hashed feature BUCKETS: the hashing-trick dot product
  * ([[graft.llm.Classifier]]'s fastText-style bucket features). The same
  * map-only / zero-shuffle / reference-object shape as
  * [[LinearScoreSum]], but the table is a flat double array indexed
  * directly by bucket — no hash lookup at all, one bounds check per
  * token. Out-of-range buckets contribute 0.0 (hashers guarantee range;
  * the check is defensive, not semantic). With weights chosen as exact
  * binary fractions the sum is order-independent and cross-engine exact.
  */
case class BucketScoreSum(child: Expression, weights: Array[Double])
    extends UnaryExpression {

  override def prettyName: String = "bucket_score_sum"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<int>, got ${dt.catalogString}")
    }

  /** Public: the generated code calls it through the reference object. */
  def score(input: ArrayData): Double = {
    val n = input.numElements()
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!input.isNullAt(i)) {
        val b = input.getInt(i)
        if (b >= 0 && b < weights.length) sum += weights(b)
      }
      i += 1
    }
    sum
  }

  override protected def nullSafeEval(input: Any): Any =
    score(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bucketScore", this,
      classOf[BucketScoreSum].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.score($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `LinearLogit(features, weights, bias)` = bias + Σ weight(f) / n — the
  * classifier's whole decision statistic as ONE expression, null when the
  * feature array is empty (no statistic to take).
  *
  * Why it exists on top of [[LinearScoreSum]]: a filter built from parts
  * (`size(feats) > 0 && bias + sum(feats)/size(feats) > 0`) evaluates the
  * feature-array subtree up to three times per row — FilterExec generates
  * each conjunct without cross-conjunct subexpression elimination, and
  * predicate pushdown re-substitutes any aliasing projection. With the
  * whole statistic as one node the array is computed once per row
  * (measured ~2× on the sf0.1 quality gate). Same per-executor hash-map
  * table.
  */
case class LinearLogit(child: Expression, weights: Map[String, Double],
    bias: Double) extends UnaryExpression {

  override def prettyName: String = "linear_logit"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    HashExpressions.checkStringArray(child, prettyName)

  @transient private lazy val sumExpr = LinearScoreSum(child, weights)

  /** Boxed so the generated code can see the empty-array null. */
  def logitOrNull(input: ArrayData): java.lang.Double = {
    val n = input.numElements()
    if (n == 0) null
    else java.lang.Double.valueOf(bias + sumExpr.score(input) / n)
  }

  override protected def nullSafeEval(input: Any): Any =
    logitOrNull(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("linearLogit", this,
      classOf[LinearLogit].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double r = $ref.logitOrNull($c);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.doubleValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
