package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every raw document by how much more likely its
  * hashed n-gram features are under a TARGET distribution (a small
  * high-quality set — Wikipedia, textbooks) than under the RAW corpus
  * distribution, then resample the corpus toward the target.
  *
  * Scale shape (the 100 TB contract):
  *  - features are word n-grams hashed into a FIXED bucket space (first
  *    `hexChars` hex digits of md5 — ≤ 16^hexChars buckets, a string key
  *    any SQL engine can restate), so both distribution tables are bounded
  *    codebooks: one map-side-combined aggregation each, collected once
  *    (≤ 16^hexChars rows of driver state) and re-broadcast as literal
  *    tables — the corpus is NOT rescanned to total them;
  *  - scoring explodes corpus grams against the broadcast codebooks and
  *    reduces with ONE doc-keyed aggregation — the same Zipf-proof stance
  *    as [[Unigram.score]], no token-keyed shuffle join anywhere;
  *  - the oracle-checked output is integer sufficient statistics (gram
  *    count, summed target/raw bucket counts) — exact and
  *    order-independent; floating weights derive from them map-only;
  *  - selection reuses [[Mix.budgetSelect]] with size=1: "keep the top N
  *    documents by weight" without a global sort.
  */
object Dsir {

  /** Hashed n-gram features of a text column: `array<string>` of
    * `hexChars`-digit bucket keys (16^hexChars buckets). Map-only.
    */
  def features(text: Column, ngram: Int = 2, hexChars: Int = 3): Column =
    transform(TextFunctions.shingles(text, ngram),
      g => substring(md5(g), 1, hexChars))

  /** Bucket-count table of a corpus: (feat, cnt), at most 16^hexChars rows
    * — one bounded aggregation, broadcastable by construction.
    */
  def bucketCounts(df: DataFrame, textCol: String, ngram: Int = 2,
      hexChars: Int = 3): DataFrame =
    df.select(explode(features(col(textCol), ngram, hexChars)).as("feat"))
      .groupBy("feat").agg(count(lit(1)).as("cnt"))

  /** One pass over a corpus → (local bucket-count rows, total gram count).
    * The table is bounded by the bucket space, so collecting it is codebook
    * driver state, and the total falls out of the same rows for free.
    */
  private def localCounts(df: DataFrame, textCol: String, ngram: Int,
      hexChars: Int): (Seq[(String, Long)], Long) = {
    val rows = bucketCounts(df, textCol, ngram, hexChars).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    (rows, rows.map(_._2).sum)
  }

  /** Per-document integer sufficient statistics against a target and the
    * raw corpus: (idCol, n_grams, tgt_freq, raw_freq) where `tgt_freq` /
    * `raw_freq` sum each gram's bucket count under the target / raw
    * distribution tables. Documents with no n-grams are absent (nothing to
    * score — same contract as [[Unigram.score]]).
    */
  def importanceStats(corpus: DataFrame, target: DataFrame, idCol: String,
      textCol: String, ngram: Int = 2, hexChars: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (tgtRows, _) = localCounts(target, textCol, ngram, hexChars)
    val (rawRows, _) = localCounts(corpus, textCol, ngram, hexChars)
    val tgt = broadcast(tgtRows.toDF("__tf", "__tc"))
    val raw = broadcast(rawRows.toDF("__rf", "__rc"))
    corpus.select(col(idCol),
        explode(features(col(textCol), ngram, hexChars)).as("__feat"))
      .join(tgt, col("__feat") === col("__tf"), "left")
      .join(raw, col("__feat") === col("__rf"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__tc"), lit(0L))).as("tgt_freq"),
        sum(coalesce(col("__rc"), lit(0L))).as("raw_freq"))
  }

  /** A deterministic importance weight derived MAP-ONLY from the integer
    * stats: the log-ratio of the document's Laplace-smoothed AVERAGE
    * feature frequency under target vs raw,
    * `log((tgt_freq + n·α)/(T + B·α)) − log((raw_freq + n·α)/(R + B·α))`.
    *
    * This is a surrogate for DSIR's per-gram product weight (which sums
    * `log` PER GRAM and cannot be reconstructed from summed counts) — it
    * ranks by the same "looks more like the target than the raw corpus"
    * signal but is exactly reproducible from the oracle-checked integers.
    * The paper-exact weight is [[exactWeights]].
    */
  private[graft] def withImportanceWeight(stats: DataFrame, totalTarget: Long,
      totalRaw: Long, buckets: Long, alpha: Double = 1.0): DataFrame =
    stats.withColumn("weight",
      log((col("tgt_freq") + col("n_grams") * alpha) /
          (lit(totalTarget.toDouble) + buckets * alpha)) -
      log((col("raw_freq") + col("n_grams") * alpha) /
          (lit(totalRaw.toDouble) + buckets * alpha)))

  /** The paper-exact DSIR log-weight: `Σ_g [log p̂_tgt(g) − log p̂_raw(g)]`
    * summed per gram inside the doc aggregation (Laplace-smoothed bucket
    * unigram models). Floating-point aggregation — deterministic up to fp
    * addition order, so this path is spec-tested rather than
    * oracle-hashed. Output: (idCol, n_grams, weight).
    */
  def exactWeights(corpus: DataFrame, target: DataFrame, idCol: String,
      textCol: String, ngram: Int = 2, hexChars: Int = 3, alpha: Double = 1.0)
      : DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val b = 1L << (4 * hexChars)
    val (tgtRows, t) = localCounts(target, textCol, ngram, hexChars)
    val (rawRows, r) = localCounts(corpus, textCol, ngram, hexChars)
    val tgt = broadcast(tgtRows.toDF("__tf", "__tc"))
    val raw = broadcast(rawRows.toDF("__rf", "__rc"))
    val logRatio =
      log((coalesce(col("__tc"), lit(0L)) + alpha) / (t + b * alpha)) -
      log((coalesce(col("__rc"), lit(0L)) + alpha) / (r + b * alpha))
    corpus.select(col(idCol),
        explode(features(col(textCol), ngram, hexChars)).as("__feat"))
      .join(tgt, col("__feat") === col("__tf"), "left")
      .join(raw, col("__feat") === col("__rf"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), sum(logRatio).as("weight"))
  }
}
