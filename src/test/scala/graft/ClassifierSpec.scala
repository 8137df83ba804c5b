package graft

import org.apache.spark.sql.functions._

import graft.llm.Classifier

/** Linear bag-of-features classifier: hand-computed scores, n-gram
  * features, filter form, empty-doc handling.
  */
class ClassifierSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "good good bad"),      // 2·0.5 - 0.25 = 0.75 over 3 feats
      (2L, "bad bad"),            // -0.5 over 2
      (3L, "unknown words only"),
      (4L, ""),                   // no features → absent
    ).toDF("doc_id", "text")
  }
  private val w = Map("good" -> 0.5, "bad" -> -0.25)

  test("scoreLinear: hand-computed logits, zero-feature docs absent") {
    import spark.implicits._
    val out = Classifier.scoreLinear(docs, "doc_id", "text", w, bias = 0.0)
      .select("doc_id", "n_features", "sum_weight", "keep")
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._1).sameElements(Array(1L, 2L, 3L))) // doc 4 absent
    assert(out(0) == ((1L, 3L, 0.75, true)))
    assert(out(1) == ((2L, 2L, -0.5, false)))
    assert(out(2) == ((3L, 3L, 0.0, false))) // OOV-only: logit 0, not kept
  }

  test("bias shifts the decision; wordNgrams=2 adds bigram features") {
    import spark.implicits._
    // bias makes the OOV-only doc pass
    val biased = Classifier.scoreLinear(docs, "doc_id", "text", w, bias = 0.125)
      .filter(col("doc_id") === 3L).select("keep").as[Boolean].head()
    assert(biased)
    // the bigram "good bad" only matches with wordNgrams=2
    val w2 = Map("good bad" -> 1.0)
    val uni = Classifier.scoreLinear(docs, "doc_id", "text", w2)
      .filter(col("doc_id") === 1L).select("sum_weight").as[Double].head()
    val bi = Classifier.scoreLinear(docs, "doc_id", "text", w2, wordNgrams = 2)
      .filter(col("doc_id") === 1L).select("sum_weight").as[Double].head()
    assert(uni == 0.0 && bi == 1.0)
  }

  test("qualityFilter keeps accepted docs with original columns") {
    import spark.implicits._
    val kept = Classifier.qualityFilter(docs, "doc_id", "text", w)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("scoring is map-only: no exchange, no join, no aggregate") {
    val p = Classifier.scoreLinear(docs, "doc_id", "text", w)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Aggregate"), p)
    val pf = Classifier.qualityFilter(docs, "doc_id", "text", w)
      .queryExecution.executedPlan.toString
    assert(!pf.contains("Exchange") && !pf.contains("Join") &&
      !pf.contains("Aggregate"), pf)
  }

  test("native score equals the explode + broadcast-join restatement") {
    import spark.implicits._
    // the declarative reference shape the native expression replaced:
    // explode unigram+bigram features, left-join the weight table, one
    // doc-keyed agg — recomputed here as the cross-check
    val weights = Map("join" -> 0.5, "slow" -> -0.125, "hash join" -> 0.25,
      "scan" -> 0.0625)
    val corpus = graft.core.Graft.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val feats = concat(graft.functions.TextFunctions.tokens(col("text")),
      graft.functions.TextFunctions.shingles(col("text"), 2))
    val ref = corpus.select(col("doc_id"), explode(feats).as("__f"))
      .join(broadcast(weights.toSeq.toDF("token", "weight")),
        col("__f") === col("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("weight"), lit(0.0))).as("sw"))
    val got = Classifier.scoreLinear(corpus, "doc_id", "text", weights,
        wordNgrams = 2)
      .select(col("doc_id"), col("n_features").as("n"), col("sum_weight").as("sw"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    // filter form agrees with the score form's keep set
    val keptScore = Classifier.scoreLinear(corpus, "doc_id", "text", weights,
        bias = 0.0, wordNgrams = 2)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val keptFilter = Classifier.qualityFilter(corpus, "doc_id", "text",
        weights, bias = 0.0, wordNgrams = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(keptFilter == keptScore && keptScore.nonEmpty)
  }

  private lazy val labeled = {
    import spark.implicits._
    // separable: the keep-class shares 'clean' tokens, the drop-class
    // 'spam' tokens; both share filler so the bias can't do it alone
    val pos = (0 until 30).map(i => (s"clean good prose filler$i common text", 1.0))
    val neg = (0 until 30).map(i => (s"spam junk noise filler$i common text", 0.0))
    (pos ++ neg).toDF("text", "label")
  }

  test("trainLogistic: separates a separable corpus; filter agrees with labels") {
    import spark.implicits._
    val (w, bias, losses) = graft.llm.Classifier.trainLogistic(
      labeled, "text", "label", iters = 40, lr = 4.0, vocabSize = 64)
    assert(losses.head > losses.last, s"loss must fall: ${losses.head} -> ${losses.last}")
    assert(w("clean") > 0 && w("good") > 0)
    assert(w("spam") < 0 && w("junk") < 0)
    val kept = graft.llm.Classifier.qualityFilter(
        labeled.withColumn("id", monotonically_increasing_id()), "id", "text", w, bias)
      .select("label").as[Double].collect()
    assert(kept.nonEmpty && kept.forall(_ == 1.0))
    assert(kept.length == 30) // every positive survives, every negative drops
  }

  test("trainLogistic is bit-deterministic across partitionings") {
    val (w1, b1, _) = graft.llm.Classifier.trainLogistic(
      labeled, "text", "label", iters = 5, lr = 2.0, vocabSize = 32)
    val (w2, b2, _) = graft.llm.Classifier.trainLogistic(
      labeled.repartition(7), "text", "label", iters = 5, lr = 2.0, vocabSize = 32)
    assert(w1 == w2, "nano-quantized gradients must make training layout-independent")
    assert(b1 == b2)
  }

  test("trainLogistic: vocabulary cap bounds the weight table") {
    val (w, _, _) = graft.llm.Classifier.trainLogistic(
      labeled, "text", "label", iters = 2, lr = 1.0, vocabSize = 5)
    assert(w.size == 5)
    // the cap keeps the most frequent features (shared fillers beat the
    // one-off fillerN tokens)
    assert(w.contains("common") && w.contains("text"))
  }

  test("trainLogistic agrees with an in-memory reference implementation") {
    import spark.implicits._
    val docs = Seq(("alpha beta", 1.0), ("beta gamma", 0.0), ("alpha alpha gamma", 1.0),
      ("gamma beta beta", 0.0)).toDF("text", "label")
    val (w, bias, _) = graft.llm.Classifier.trainLogistic(
      docs, "text", "label", iters = 3, lr = 1.0, vocabSize = 10)
    // replicate: same vocab (all features), same quantized updates
    val corpus = Seq(
      (Seq("alpha", "beta"), 1.0), (Seq("beta", "gamma"), 0.0),
      (Seq("alpha", "alpha", "gamma"), 1.0), (Seq("gamma", "beta", "beta"), 0.0))
    var rw = Map("alpha" -> 0.0, "beta" -> 0.0, "gamma" -> 0.0)
    var rb = 0.0
    val m = corpus.size.toDouble
    def halfUp(x: Double): Long = new java.math.BigDecimal(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

    for (_ <- 1 to 3) {
      var bsum = 0L
      var gsum = Map.empty[String, Long].withDefaultValue(0L)
      for ((toks, y) <- corpus) {
        val n = toks.size.toDouble
        val logit = rb + toks.map(rw).sum / n
        val p = 1.0 / (1.0 + math.exp(-logit))
        val rq = halfUp((p - y) * 1e9)
        bsum += rq
        val c = halfUp(rq.toDouble / n)
        for (t <- toks) gsum += t -> (gsum(t) + c)
      }
      rw = rw.map { case (f, wf) => f -> (wf - 1.0 * (gsum(f) / 1e9) / m) }
      rb -= 1.0 * (bsum / 1e9) / m
    }
    for (f <- rw.keys) assert(math.abs(w(f) - rw(f)) < 1e-12, s"$f: ${w(f)} vs ${rw(f)}")
    assert(math.abs(bias - rb) < 1e-12)
  }

  // --- hashing-trick (bucket) features ---

  test("trainLogisticHashed: separates the corpus with NO vocabulary; " +
      "hashed scoring agrees with labels") {
    import spark.implicits._
    val (w, bias, losses) = Classifier.trainLogisticHashed(
      labeled, "text", "label", iters = 40, lr = 4.0, nBuckets = 512)
    assert(losses.head > losses.last, s"loss must fall: ${losses.head} -> ${losses.last}")
    val kept = Classifier.scoreLinearHashed(
        labeled.withColumn("id", monotonically_increasing_id()),
        "id", "text", w, bias)
      .filter(col("keep"))
      .join(labeled.withColumn("id", monotonically_increasing_id()), "id")
      .select("label").as[Double].collect()
    assert(kept.length == 30 && kept.forall(_ == 1.0),
      "every positive survives, every negative drops")
  }

  test("trainLogisticHashed is bit-deterministic across partitionings") {
    val (w1, b1, _) = Classifier.trainLogisticHashed(
      labeled, "text", "label", iters = 5, lr = 2.0, nBuckets = 64)
    val (w2, b2, _) = Classifier.trainLogisticHashed(
      labeled.repartition(7), "text", "label", iters = 5, lr = 2.0, nBuckets = 64)
    assert(w1.sameElements(w2),
      "nano-quantized gradients must make hashed training layout-independent")
    assert(b1 == b2)
  }

  test("hashed scoring is map-only: no exchange, no join, no aggregate") {
    val p = Classifier.scoreLinearHashed(docs, "doc_id", "text",
        Array.fill(64)(0.25)).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Aggregate"), p)
  }

  test("hashed gradient: md5 and xxhash bases produce the same statistic " +
      "up to bucket relabeling (same bias row; same gradient multiset " +
      "when nBuckets is collision-free for this corpus)") {
    import spark.implicits._
    val tiny = Seq(("alpha beta", 1.0), ("beta gamma", 0.0),
      ("alpha alpha gamma", 1.0)).toDF("text", "label")
    // big bucket space -> no collisions among the 3 distinct unigrams,
    // so the hash basis is a pure relabeling of the same features
    val n = 1 << 16
    val wZero = new Array[Double](n)
    def stat(h: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column]) =
      Classifier.logisticGradientHashed(tiny, "text", "label", wZero,
        bias = 0.0, hasher = h)
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val md5S = stat(Some(Classifier.md5Bucket(n)))
    val xxS = stat(None)
    assert(md5S.filter(_._1 == -1).toSeq == xxS.filter(_._1 == -1).toSeq)
    assert(md5S.map(_._2).sorted.toSeq == xxS.map(_._2).sorted.toSeq)
  }

  test("hashed gradient: a corpus with no usable examples returns an " +
      "EMPTY frame (no bias row) — the documented contract, pinned") {
    import spark.implicits._
    val wZero = new Array[Double](16)
    // every label null
    val nullLabels = Seq(("alpha beta", null.asInstanceOf[java.lang.Double]),
      ("gamma", null.asInstanceOf[java.lang.Double])).toDF("text", "label")
    // every feature array empty (no word survives tokenization)
    val emptyFeats = Seq(("", 1.0), ("   ", 0.0)).toDF("text", "label")
    for (df <- Seq(nullLabels, emptyFeats)) {
      val out = Classifier.logisticGradientHashed(df, "text", "label", wZero)
      assert(out.columns.toSeq == Seq("bucket", "grad"))
      assert(out.count() == 0L)
    }
  }
}
