package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Benchmark decontamination: find (and drop) documents whose text contains
  * any benchmark phrase as a contiguous run of normalized tokens — the
  * standard n-gram-overlap gate a training-data pipeline runs against its
  * eval sets before training.
  *
  * Scale contract: the corpus side is map-only up to one distinct — each
  * document explodes to its (id, token-n-gram hash) pairs, phrase-length by
  * phrase-length, and candidates are matched with a BROADCAST left-semi
  * join against the hashed benchmark n-grams (the benchmark set is small by
  * definition: thousands of eval rows vs a 100 TB corpus). Only matching
  * doc ids reach the final distinct; no document text ever crosses a
  * shuffle. False-positive rate is the 64-bit hash collision rate —
  * negligible, and decontamination tolerates dropping an extra doc.
  */
object Decontaminate {

  /** Canonical text normalization shared by corpus and benchmark sides
    * (see [[TextFunctions.normalizeText]] for the oracle-equivalent SQL).
    */
  def normalize(text: Column): Column = TextFunctions.normalizeText(text)

  def normalizePhrase(p: String): String =
    p.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim

  /** Distinct ids of documents containing at least one of `phrases`
    * (token-boundary exact match after [[normalize]]). Output: (idCol).
    *
    * ONE corpus scan regardless of how many distinct phrase lengths the
    * benchmark set has: the document is normalized and tokenized once and
    * every needed k-gram length is cut from that one token array
    * (shinglesMulti), hashed, and semi-joined against the union of all
    * phrase hashes — grams of different lengths are different strings, so
    * cross-length matches are exactly the (already accepted) 64-bit
    * collision rate. A per-length loop would rescan and re-tokenize the
    * 100 TB side once per length.
    */
  def flagged(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val norm = phrases.map(normalizePhrase).filter(_.nonEmpty).distinct
    require(norm.nonEmpty, "decontaminate: no non-empty phrases")
    val lens = norm.map(_.split(' ').length).distinct.sorted
    val bench = broadcast(
      norm.toDF("__phrase").select(xxhash64(col("__phrase")).as("__ph")))
    gramHashes(df, idCol, textCol, lens)
      .join(bench, col("__gh") === col("__ph"), "left_semi")
      .select(idCol)
      .distinct()
  }

  /** The corpus-side gram kernel shared by [[flagged]] and
    * [[flaggedLarge]] — ONE definition, so the Bloom variant's
    * "equals flagged exactly" contract holds by construction: (idCol,
    * __gh) rows, one per token n-gram per requested length.
    */
  private def gramHashes(df: DataFrame, idCol: String, textCol: String,
      lens: Seq[Int]): DataFrame =
    df.select(col(idCol),
        explode(TextFunctions.shinglesMulti(normalize(col(textCol)), lens)).as("__g"))
      .select(col(idCol), xxhash64(col("__g")).as("__gh"))

  /** Corpus with every contaminated document removed (anti-join on id). */
  def clean(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    val bad = flagged(df, idCol, textCol, phrases)
      .withColumnRenamed(idCol, "__contaminated")
    df.join(bad, col(idCol) === col("__contaminated"), "left_anti")
  }

  /** [[flagged]] for benchmark sets TOO BIG to broadcast exactly (a
    * phrase TABLE — every n-gram of every eval set ever shipped — can
    * reach hundreds of millions of rows): ONE Bloom filter over the
    * benchmark n-gram hashes (fixed `optimalNumOfBits(expectedPhrases,
    * fpp)` bitset however many phrases there are, built by the map-side-
    * merging native BloomFilterAggregate) is broadcast instead, the
    * corpus gram stream pre-filters through it map-side, and only the
    * Bloom HITS reach the exact hash join against the full benchmark
    * table. Bloom filters have NO false negatives, so the result EQUALS
    * [[flagged]] exactly — false positives only add rows to the
    * verification join (∝ fpp · corpus grams), never to the output.
    *
    * Scale shape: corpus side map-only through the Bloom gate; the exact
    * verify is a SHUFFLE join (the benchmark is big by assumption) but
    * over the post-Bloom survivors only; driver/broadcast state is the
    * single fixed-size bitset, not the phrase set.
    */
  def flaggedLarge(df: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, phraseCol: String,
      expectedPhrases: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val normPh = bench.select(normalize(col(phraseCol)).as("__p"))
      .filter(col("__p") =!= "")
    val benchHash = normPh.select(col("__p"), xxhash64(col("__p")).as("__ph"))
    // ONE aggregation pass over the big benchmark builds BOTH the Bloom
    // bitset and the distinct phrase-LENGTH set (a handful of ints — the
    // only driver-side state): a separate lens job would scan and
    // re-normalize the hundreds-of-millions-row table a second time
    val bloomAndLens = {
      import org.apache.spark.sql.catalyst.expressions.Literal
      val numBits = org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(expectedPhrases, fpp)
      val agg = new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(
          org.apache.spark.sql.GraftShims.toExpression(col("__ph")),
          Literal(expectedPhrases), Literal(numBits))
      benchHash.agg(
        org.apache.spark.sql.GraftShims.toColumn(agg.toAggregateExpression())
          .as("bloom"),
        collect_set(size(TextFunctions.tokens(col("__p")))).as("__lens"))
    }
    val row = bloomAndLens.collect()(0)
    val lens = row.getSeq[Int](1).sorted
    require(lens.nonEmpty, "decontaminate: no non-empty phrases")
    val bloomDf = df.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(row.get(0))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bloom",
          org.apache.spark.sql.types.BinaryType))))
    gramHashes(df, idCol, textCol, lens).crossJoin(broadcast(bloomDf))
      .filter(Sketches.bloomMightContain(col("bloom"), col("__gh")))
      .select(col(idCol), col("__gh"))
      .join(benchHash, col("__gh") === col("__ph"), "left_semi")
      .select(idCol)
      .distinct()
  }

  /** Fuzzy (near-duplicate) decontamination: every (corpus, benchmark)
    * pair whose EXACT word-`shingleK`-gram Jaccard reaches `threshold` —
    * catching the paraphrased / lightly-edited eval contamination that
    * exact phrase matching ([[flagged]]) misses.
    *
    * Scale contract: the corpus side computes its MinHash signature
    * map-only and never shuffles; the benchmark side (small by definition:
    * eval sets are thousands of rows vs a 100 TB corpus) is banded and
    * BROADCAST, so candidate generation is a broadcast hash join in the
    * corpus scan stage. Only band collisions reach the exact-Jaccard
    * verification join (Dedup.verifyJaccard: pre-hashed sorted shingles,
    * merge-walk intersect), so the exact-similarity cost is proportional
    * to collisions, not |corpus|·|bench|. Banding recall at the threshold
    * is the same 16×4 contract as Dedup's own candidate join (the shared
    * [[Dedup.bandKeys]]).
    *
    * Corpus and benchmark id spaces MUST be disjoint (the verification
    * stage unions both sides into one frame).
    * Output: (idCol, benchIdCol, jaccard), one row per flagged pair.
    */
  def flaggedFuzzy(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      threshold: Double = 0.7, numPerm: Int = 64, bands: Int = 16,
      shingleK: Int = 3, seed: Long = 42L, maxBucketSize: Int = 0): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val r = numPerm / bands
    def banded(df: DataFrame, id: String, text: String, outId: String,
        outBk: String): DataFrame =
      Dedup.bandKeys(
          Dedup.minhashSignatures(df, id, text, numPerm, shingleK, seed),
          bands, r)
        .select(col("__id").as(outId), col("bk").as(outBk))
    // Cap only the CORPUS side's band population (same knob/semantics as
    // Dedup.candidatePairs): a degenerate band shared by millions of
    // near-empty docs that one bench doc also hits would otherwise make
    // the candidate set O(corpus). The bench side is small by definition
    // and capping it would only cost recall.
    val c = Dedup.pruneHotBuckets(
      banded(corpus, idCol, textCol, "idA", "bk"), "bk", maxBucketSize)
    val b = banded(bench, benchIdCol, benchTextCol, "idB", "bk2")
    val cand = c.join(broadcast(b), col("bk") === col("bk2"))
      .select("idA", "idB").distinct()
    // verification only ever needs the documents that COLLIDED: semi-join
    // both sides down to candidate ids first, so the exact-shingle pass
    // (and its reuse-point exchange inside verifyJaccard) shuffles
    // O(collisions) rows, never the corpus
    val candIds = cand.select(col("idA").as("__cid"))
      .unionByName(cand.select(col("idB").as("__cid"))).distinct()
    val docs = corpus.select(col(idCol).as("__uid"), col(textCol).as("__utext"))
      .unionByName(
        bench.select(col(benchIdCol).as("__uid"), col(benchTextCol).as("__utext")))
      .join(candIds, col("__uid") === col("__cid"), "left_semi")
    Dedup.verifyJaccard(cand, docs, "__uid", "__utext", shingleK,
        minJaccard = threshold)
      .filter(col("jaccard") >= threshold)
      .select(col("idA").as(idCol), col("idB").as(benchIdCol), col("jaccard"))
  }

  /** Per-benchmark-document overlap REPORT — the audit sibling of
    * [[flagged]]/[[clean]]: instead of dropping contaminated corpus docs,
    * measure, for every eval document, how many of its distinct word
    * `k`-grams occur anywhere in the corpus. This is the number an eval
    * release note cites ("GSM8K: 0.4% 8-gram overlap with the training
    * set") and the triage signal deciding whether to decontaminate at all.
    *
    * Output: (benchIdCol, n_grams, n_hit) — exact integer sufficient
    * statistics (the percentage is a trivial downstream division; emitting
    * integers keeps the result engine-exact, ORACLES.md strategy 4). Bench
    * docs shorter than k tokens have no grams and are absent.
    *
    * Scale contract: the CORPUS side is one map-only gram stream (same
    * [[gramHashes]] kernel as flagged) pre-filtered through the broadcast
    * bench gram set, so only grams the benchmark actually mentions survive
    * the scan stage; the distinct that follows shuffles AT MOST |bench
    * grams| rows regardless of corpus size. The bench side (small by
    * definition) is the only side that aggregates per document.
    */
  def overlapReport(corpus: DataFrame, corpusTextCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      k: Int = 8): DataFrame = {
    val benchGrams = bench
      .select(col(benchIdCol),
        explode(TextFunctions.shinglesMulti(normalize(col(benchTextCol)), Seq(k)))
          .as("__g"))
      .select(col(benchIdCol), xxhash64(col("__g")).as("__gh"))
      .distinct()
    val benchGramSet = broadcast(benchGrams.select("__gh").distinct())
    // corpus grams that hit ANY bench gram — bounded by |bench grams|
    val hits = corpus
      .select(explode(TextFunctions.shinglesMulti(normalize(col(corpusTextCol)), Seq(k)))
        .as("__g"))
      .select(xxhash64(col("__g")).as("__gh"))
      .join(benchGramSet, Seq("__gh"), "left_semi")
      .distinct()
      .withColumn("__hit", lit(1))
    benchGrams
      .join(broadcast(hits), Seq("__gh"), "left")
      .groupBy(benchIdCol)
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hit"))
  }
}
