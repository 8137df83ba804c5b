package graft.llm

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._

import graft.functions.{BucketScoreSum, LinearLogit, LinearScoreSum,
  TextFunctions}

/** fastText-style shallow linear text classifier — the standard
  * quality-filter stage of LLM pretraining pipelines (a CCNet/LLaMA-style
  * "quality classifier" is exactly this: a linear model over bag-of-words
  * features, thresholded): `logit = bias + Σ_features w(f) / n_features`.
  *
  * Spark shape: scoring is MAP-ONLY — the weight table rides as a
  * per-executor hash map inside the native [[LinearScoreSum]] expression
  * (same reference-object pattern as the BPE encoder), so there is no
  * explode, no join, and no aggregation; the score fuses into the
  * enclosing scan stage and [[qualityFilter]] is a plain filter — ONE
  * scan of the corpus, zero shuffles at 100 TB. The earlier broadcast-join
  * formulation (explode features ⋈ broadcast weights → doc-keyed agg) had
  * the same per-executor memory envelope for the table but paid a
  * corpus-sized exchange to score and a second scan to filter; the spec
  * keeps it as the cross-checked reference shape.
  *
  * Oracle-ability: the summed statistic is Σ weight·count with weights the
  * caller controls. With weights chosen as exact binary fractions (the
  * oracle query uses multiples of 2⁻¹⁰), every partial sum is exactly
  * representable in double, so the sum is order-independent and
  * cross-engine exact; the logit derives from it in one expression.
  */
object Classifier {

  /** Unigram + word-n-gram feature array (fastText-style), shared by both
    * entry points so score and filter can never disagree.
    */
  private def featuresOf(textCol: Column, wordNgrams: Int): Column =
    (2 to wordNgrams).foldLeft(TextFunctions.tokens(textCol))(
      (acc, n) => concat(acc, TextFunctions.shingles(textCol, n)))

  /** Σ weight(f) over a feature array column (unmatched → 0.0). */
  def linearScore(features: Column, weights: Map[String, Double]): Column =
    GraftShims.toColumn(LinearScoreSum(GraftShims.toExpression(features), weights))

  /** Per-document linear score over whitespace-token features (plus word
    * n-grams up to `wordNgrams`, fastText-style). Returns
    * `(idCol, n_features, sum_weight, logit, keep)`; documents with no
    * features are absent (nothing to score). `keep` is `logit > 0`.
    */
  def scoreLinear(df: DataFrame, idCol: String, textCol: String,
      weights: Map[String, Double], bias: Double = 0.0,
      wordNgrams: Int = 1): DataFrame = {
    require(wordNgrams >= 1, s"wordNgrams must be >= 1: $wordNgrams")
    require(weights.nonEmpty, "Classifier: weights must be non-empty")
    val feats = featuresOf(col(textCol), wordNgrams)
    df.select(col(idCol), size(feats).cast("long").as("n_features"),
        linearScore(feats, weights).as("sum_weight"))
      .filter(col("n_features") > 0)
      .withColumn("logit", lit(bias) + col("sum_weight") / col("n_features"))
      .withColumn("keep", col("logit") > 0)
  }

  // --- hashing-trick features (fastText's bucket trick) ---

  /** Feature → bucket hash columns. The default is the production basis
    * (one xxhash64 per feature, non-negative mod `nBuckets`); [[md5Bucket]]
    * is the same geometry on a 32-bit md5 prefix, restatable VERBATIM in
    * external SQL — the q_simhash_recall treatment applied to feature
    * hashing (oracles replay md5; specs pin the xxhash64 path).
    */
  def xxhashBucket(nBuckets: Int): Column => Column =
    f => pmod(xxhash64(f), lit(nBuckets.toLong)).cast("int")

  def md5Bucket(nBuckets: Int): Column => Column =
    f => (conv(substring(md5(f), 1, 8), 16, 10).cast("long") % nBuckets).cast("int")

  /** Hashed unigram + word-n-gram buckets (`array<int>`): every feature
    * hashes into one of `nBuckets` slots — NO vocabulary, no top-K cap,
    * O(`nBuckets`) model state however large the corpus vocabulary grows
    * (the fastText hashing trick). Collisions fold rare features onto
    * shared slots, the standard capacity/precision dial.
    */
  def hashedBuckets(textCol: Column, nBuckets: Int, wordNgrams: Int = 1,
      hasher: Option[Column => Column] = None): Column = {
    require(nBuckets >= 1 && wordNgrams >= 1,
      s"hashedBuckets: bad parameters (nBuckets=$nBuckets wordNgrams=$wordNgrams)")
    transform(featuresOf(textCol, wordNgrams),
      hasher.getOrElse(xxhashBucket(nBuckets)))
  }

  /** Σ weights(b) over a bucket array (out-of-range → 0.0), map-only. */
  def bucketScore(buckets: Column, weights: Array[Double]): Column =
    GraftShims.toColumn(BucketScoreSum(GraftShims.toExpression(buckets), weights))

  /** [[scoreLinear]] over hashed buckets: same output columns, same
    * absence semantics, weight table = a flat array indexed by bucket.
    */
  private[graft] def scoreLinearHashed(df: DataFrame, idCol: String,
      textCol: String, weights: Array[Double], bias: Double = 0.0,
      wordNgrams: Int = 1, hasher: Option[Column => Column] = None): DataFrame = {
    require(weights.nonEmpty, "Classifier: weights must be non-empty")
    val feats = hashedBuckets(col(textCol), weights.length, wordNgrams, hasher)
    df.select(col(idCol), size(feats).cast("long").as("n_features"),
        bucketScore(feats, weights).as("sum_weight"))
      .filter(col("n_features") > 0)
      .withColumn("logit", lit(bias) + col("sum_weight") / col("n_features"))
      .withColumn("keep", col("logit") > 0)
  }

  /** [[trainLogistic]] under hashed-bucket features: the top-K vocabulary
    * cap disappears — model state is exactly `nBuckets` doubles, and the
    * per-iteration gradient aggregation groups by an INT bucket key whose
    * distinct count is ≤ `nBuckets` by construction, so map-side partials
    * are bounded with no broadcast vocabulary gate at all (one job fewer
    * than the vocabulary path). Gradients aggregate as the same
    * nano-quantized integers, so training stays bit-DETERMINISTIC across
    * partitionings. Returns (bucket-indexed weights, bias, per-iteration
    * mean log-loss).
    */
  def trainLogisticHashed(df: DataFrame, textCol: String, labelCol: String,
      iters: Int = 20, lr: Double = 1.0, nBuckets: Int = 4096,
      wordNgrams: Int = 1, l2: Double = 0.0,
      hasher: Option[Column => Column] = None)
      : (Array[Double], Double, Seq[Double]) = {
    require(iters >= 1 && lr > 0 && nBuckets >= 1 && wordNgrams >= 1 && l2 >= 0,
      s"trainLogisticHashed: bad hyperparameters (iters=$iters lr=$lr " +
        s"nBuckets=$nBuckets wordNgrams=$wordNgrams l2=$l2)")
    graft.core.Cached.scoped(
        preparedHashed(df, textCol, labelCol, nBuckets, wordNgrams, hasher)) { prep =>
      val w = new Array[Double](nBuckets)
      var bias = 0.0
      val m = prep.count().toDouble
      require(m > 0, "trainLogisticHashed: no usable examples in the corpus")
      var losses = Vector.empty[Double]
      for (_ <- 1 to iters) {
        val p = probabilityHashed(w, bias)
        val scored = residualizedHashed(prep, w, bias)
          .withColumn("__loss",
            -(col("__y") * log(greatest(p, lit(1e-12))) +
              (lit(1.0) - col("__y")) * log(greatest(lit(1.0) - p, lit(1e-12)))))
        val head = scored.agg(sum(col("__rq")).as("b"), sum(col("__loss")).as("l"))
          .collect()(0)
        val biasGrad = head.getDecimal(0).doubleValue() / 1e9 / m
        losses :+= head.getDouble(1) / m
        val grads = scored
          .withColumn("__c",
            round(col("__rq").cast("double") / col("__n")).cast("decimal(28,0)"))
          .select(explode(col("__f")).as("b"), col("__c"))
          .groupBy("b").agg(sum(col("__c")).as("g")) // ≤ nBuckets groups
          .collect()
        var i = 0
        while (i < nBuckets) { w(i) *= 1.0 - lr * l2; i += 1 }
        for (r <- grads)
          w(r.getInt(0)) -= lr * (r.getDecimal(1).doubleValue() / 1e9) / m
        bias -= lr * biasGrad
      }
      (w, bias, losses)
    }
  }

  private def preparedHashed(df: DataFrame, textCol: String, labelCol: String,
      nBuckets: Int, wordNgrams: Int,
      hasher: Option[Column => Column]): DataFrame =
    df.select(col(labelCol).cast("double").as("__y"),
        hashedBuckets(col(textCol), nBuckets, wordNgrams, hasher).as("__f"))
      .filter(size(col("__f")) > 0 && col("__y").isNotNull)
      .withColumn("__n", size(col("__f")).cast("double"))

  private def probabilityHashed(w: Array[Double], bias: Double): Column =
    lit(1.0) / (lit(1.0) +
      exp(-(lit(bias) + bucketScore(col("__f"), w) / col("__n"))))

  private def residualizedHashed(prep: DataFrame, w: Array[Double],
      bias: Double): DataFrame =
    prep.withColumn("__rq",
      round((probabilityHashed(w, bias) - col("__y")) * 1e9).cast("decimal(28,0)"))

  /** One full-batch gradient under FIXED bucket weights — the hashed
    * sibling of [[logisticGradient]], exposed for the external oracle.
    * Output: one `(bucket, grad)` row per OCCUPIED bucket plus a
    * `bucket = −1` bias row (buckets are non-negative by construction);
    * grads are unnormalized sums like [[logisticGradient]]'s. A corpus
    * with NO usable examples (every label null or every feature array
    * empty) yields an EMPTY frame — no bias row; callers keying on
    * bucket −1 must treat absence as "no data", not zero gradient.
    */
  def logisticGradientHashed(df: DataFrame, textCol: String, labelCol: String,
      weights: Array[Double], bias: Double = 0.0, wordNgrams: Int = 1,
      hasher: Option[Column => Column] = None): DataFrame = {
    require(weights.nonEmpty, "Classifier: weights must be non-empty")
    // ONE corpus pass, ONE aggregation, ONE feature-hash evaluation site.
    // The r12 plan probe measured the prepared-frame shape evaluating the
    // md5 chain up to 4× per doc (filter+projection duplication × the
    // gradient∪bias union's two scans). Three structural moves fix it
    // without a cache:
    //  - the empty-doc/null-label skip is the EXPLODE itself (empty array
    //    → no rows), not a Filter operator the optimizer would duplicate
    //    the hash transform into — the packTokens in-flight-skip trick;
    //  - the feature array is BOUND ONCE as a lambda variable
    //    (TextFunctions.bindOnce): guard, struct, score, and size all
    //    reference the binding, so the hash chain occurs at ONE plan site
    //    (PlanShapeSpec counts it) instead of five;
    //  - the bias statistic rides the SAME aggregation as a sentinel
    //    bucket −1 element appended to each doc's feature array (its row
    //    contributes the raw nano-residual; real buckets contribute the
    //    per-occurrence share), so no second scan and no union.
    val y = col(labelCol).cast("double")
    val packed = graft.functions.TextFunctions.bindOnce(
        hashedBuckets(col(textCol), weights.length, wordNgrams, hasher)) { f =>
      val n = size(f).cast("double")
      val p = lit(1.0) / (lit(1.0) +
        exp(-(lit(bias) + bucketScore(f, weights) / n)))
      val rq = round((p - y) * 1e9).cast("decimal(28,0)")
      when(y.isNotNull && size(f) > 0,
          array(struct(f.as("f"), rq.as("rq"), n.as("n"))))
        .otherwise(array()
          .cast("array<struct<f:array<int>,rq:decimal(28,0),n:double>>"))
    }
    df.select(explode(packed).as("s"))
      .select(explode(concat(col("s.f"), array(lit(-1)))).as("bucket"),
        col("s.rq").as("rq"), col("s.n").as("n"))
      .groupBy("bucket")
      .agg((sum(when(col("bucket") === -1, col("rq"))
          .otherwise(round(col("rq").cast("double") / col("n"))
            .cast("decimal(28,0)"))) / 1e9).as("grad"))
  }

  /** Full-batch logistic-regression TRAINING for the linear quality
    * classifier — the in-engine path from labeled examples ("wikipedia
    * vs raw crawl") to the weight table [[qualityFilter]] broadcasts.
    * Model = exactly the scoring model (mean-pooled bag-of-features
    * logit), so trained weights and the filter can never disagree.
    *
    * Scale shape, per iteration: ONE map-only residual pass over the
    * cached prepared frame + one exploded feature aggregation whose
    * map-side partials are bounded by the vocabulary (top-`vocabSize`
    * features by frequency, fixed before iterating — the fastText bucket
    * bound); driver state is O(vocabSize) weights. Gradients aggregate as
    * NANO-QUANTIZED integers (each doc's contribution
    * `round(r_d/n_d · 1e9)` summed as exact decimals), so training is
    * bit-DETERMINISTIC across partitionings, retries, and cluster layouts
    * — float-sum reassociation never makes two runs disagree. Labels:
    * `labelCol` cast to double, 1.0 = keep-class.
    *
    * Returns (weights over the vocabulary, bias, per-iteration mean
    * log-loss). The loss history is reporting only (rounded, not part of
    * the deterministic state).
    */
  def trainLogistic(df: DataFrame, textCol: String, labelCol: String,
      iters: Int = 20, lr: Double = 1.0, vocabSize: Int = 4096,
      wordNgrams: Int = 1, l2: Double = 0.0)
      : (Map[String, Double], Double, Seq[Double]) = {
    require(iters >= 1 && lr > 0 && vocabSize >= 1 && wordNgrams >= 1 && l2 >= 0,
      s"trainLogistic: bad hyperparameters (iters=$iters lr=$lr " +
        s"vocabSize=$vocabSize wordNgrams=$wordNgrams l2=$l2)")
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Cached.scoped(prepared(df, textCol, labelCol, wordNgrams)) { prep =>
      // fixed vocabulary: top-K features by occurrence, ties by feature
      // string — deterministic, one bounded-top-k job
      val vocab = Mix.capPerKey(
        prep.select(explode(col("__f")).as("f")).groupBy("f")
          .agg(count(lit(1)).as("c"))
          .select(col("f"), struct((-col("c")).as("negC"), col("f").as("tie")).as("o")),
        lit(1), col("o"), "f", n = vocabSize)
        .select("f").as[String].collect().sorted
      require(vocab.nonEmpty, "trainLogistic: no features in the corpus")
      val vocabDf = broadcast(vocab.toSeq.toDF("f"))
      var w: Map[String, Double] = vocab.map(_ -> 0.0).toMap
      var bias = 0.0
      val m = prep.count().toDouble
      var losses = Vector.empty[Double]
      for (_ <- 1 to iters) {
        val p = probability(w, bias)
        val scored = residualized(prep, w, bias)
          .withColumn("__loss",
            -(col("__y") * log(greatest(p, lit(1e-12))) +
              (lit(1.0) - col("__y")) * log(greatest(lit(1.0) - p, lit(1e-12)))))
        val head = scored.agg(sum(col("__rq")).as("b"), sum(col("__loss")).as("l"))
          .collect()(0)
        val biasGrad = head.getDecimal(0).doubleValue() / 1e9 / m
        losses :+= head.getDouble(1) / m
        val grads = scored
          .withColumn("__c",
            round(col("__rq").cast("double") / col("__n")).cast("decimal(28,0)"))
          .select(explode(col("__f")).as("f"), col("__c"))
          .join(vocabDf, Seq("f")) // broadcast vocab gate keeps partials bounded
          .groupBy("f").agg(sum(col("__c")).as("g"))
          .collect().map(r => r.getString(0) -> r.getDecimal(1).doubleValue() / 1e9)
          .toMap
        w = w.map { case (f, wf) =>
          f -> (wf * (1.0 - lr * l2) - lr * grads.getOrElse(f, 0.0) / m)
        }
        bias -= lr * biasGrad
      }
      (w, bias, losses)
    }
  }

  /** `(__y, __f, __n)` projection shared by training and [[logisticGradient]]. */
  private def prepared(df: DataFrame, textCol: String, labelCol: String,
      wordNgrams: Int): DataFrame =
    df.select(col(labelCol).cast("double").as("__y"),
        featuresOf(col(textCol), wordNgrams).as("__f"))
      .filter(size(col("__f")) > 0 && col("__y").isNotNull)
      .withColumn("__n", size(col("__f")).cast("double"))

  private def probability(w: Map[String, Double], bias: Double): Column =
    lit(1.0) / (lit(1.0) + exp(-(lit(bias) + linearScore(col("__f"), w) / col("__n"))))

  /** Adds `__rq`, the nano-quantized residual `round((p − y)·1e9)`. */
  private def residualized(prep: DataFrame, w: Map[String, Double],
      bias: Double): DataFrame =
    prep.withColumn("__rq",
      round((probability(w, bias) - col("__y")) * 1e9).cast("decimal(28,0)"))

  /** One full-batch gradient under FIXED weights — the sufficient
    * statistic each [[trainLogistic]] iteration aggregates, exposed for
    * inspection and for the external oracle (the quantized integer sums
    * are engine-exact; the eigensolve-style division of labor from
    * PCA/BPE training applies: the statistic is oracle-checked, the loop
    * consuming it is spec-pinned). Output: one `(feature, grad)` row per
    * weight-table feature occurring in the corpus, plus a `__bias__` row;
    * grads are UNNORMALIZED sums (divide by the example count for the
    * mean-gradient step).
    */
  def logisticGradient(df: DataFrame, textCol: String, labelCol: String,
      weights: Map[String, Double], bias: Double = 0.0,
      wordNgrams: Int = 1): DataFrame = {
    require(weights.nonEmpty, "Classifier: weights must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val scored = residualized(prepared(df, textCol, labelCol, wordNgrams), weights, bias)
    val wDf = broadcast(weights.keys.toSeq.sorted.toDF("feature"))
    val grads = scored
      .withColumn("__c",
        round(col("__rq").cast("double") / col("__n")).cast("decimal(28,0)"))
      .select(explode(col("__f")).as("feature"), col("__c"))
      .join(wDf, Seq("feature"))
      .groupBy("feature").agg((sum(col("__c")) / 1e9).as("grad"))
    grads.unionByName(scored.agg((sum(col("__rq")) / 1e9).as("grad"))
      .select(lit("__bias__").as("feature"), col("grad")))
  }

  /** Filter form: keep only documents the classifier accepts — one scan,
    * zero shuffles, original columns untouched (the gate is a row filter
    * fused into whatever stage produces `df`). The whole decision
    * statistic is the single [[LinearLogit]] node, so the feature array
    * is computed ONCE per row (a size/sum/size conjunction would
    * re-evaluate it per conjunct — FilterExec does no cross-conjunct
    * subexpression elimination). Featureless documents produce a null
    * logit and are dropped, matching [[scoreLinear]]'s absence semantics.
    */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
      weights: Map[String, Double], bias: Double = 0.0,
      wordNgrams: Int = 1): DataFrame = {
    require(wordNgrams >= 1, s"wordNgrams must be >= 1: $wordNgrams")
    require(weights.nonEmpty, "Classifier: weights must be non-empty")
    val feats = featuresOf(col(textCol), wordNgrams)
    val logit = GraftShims.toColumn(
      LinearLogit(GraftShims.toExpression(feats), weights, bias))
    df.filter(logit > 0)
  }
}
