package graft.llm

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._

import graft.core.Cached
import graft.functions.{TextFunctions, WordpieceEncodeWords}

/** WordPiece (BERT-style) subword segmentation — the greedy
  * longest-match-first counterpart to the merge-driven [[Bpe]] encoder,
  * completing the tokenizer family: BPE trains and encodes by merge
  * ranks, WordPiece encodes against a fixed piece vocabulary with `##`
  * continuations and whole-word `[UNK]` fallback.
  *
  * Map-only at any scale: the vocabulary rides the native
  * [[WordpieceEncodeWords]] expression as one per-executor hash set
  * (never a join, never plan structure), so encoding fuses into the scan
  * stage like BPE's native path.
  */
object Wordpiece {

  /** Encode to a flat piece stream: each word's pieces joined by spaces,
    * words joined by spaces (piece boundaries stay visible through the
    * `##` prefixes). Output: (idCol, `wp_pieces`). Blank docs drop.
    */
  def encode(df: DataFrame, idCol: String, textCol: String, vocab: Seq[String],
      unk: String = "[UNK]", maxWordLen: Int = 32): DataFrame =
    df.filter(trim(col(textCol)) =!= "")
      .select(col(idCol),
        array_join(encodeWordsCol(TextFunctions.tokens(col(textCol)), vocab, unk,
          maxWordLen), " ").as("wp_pieces"))

  /** The raw per-word encoding column (array<string>, one entry per input
    * word) for callers composing their own shapes.
    */
  def encodeWordsCol(words: Column, vocab: Seq[String], unk: String = "[UNK]",
      maxWordLen: Int = 32): Column =
    GraftShims.toColumn(WordpieceEncodeWords(
      GraftShims.toExpression(words), vocab, unk, maxWordLen))
}

/** Unigram-LM (SentencePiece-style) OPTIMAL segmentation under integer
  * piece costs (scaled −log probabilities): per-word Viterbi DP inside
  * the native [[graft.functions.UnigramSegmentCost]] expression, doc
  * statistics assembled with map-only array folds — zero shuffles, zero
  * joins, the whole operator lives in the scan stage.
  */
object UnigramSegment {

  /** Per-doc integer statistics of the min-cost segmentation:
    * (idCol, n_words, total_cost, total_pieces, n_unk). `unkCost` is
    * charged per unreachable (or over-`maxWordLen`) word as one piece;
    * choose it so no single vocab piece costs exactly `unkCost` (the unk
    * counter keys on the exact combined value). Blank docs drop.
    */
  def segmentStats(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Int)], unkCost: Int = 1000,
      maxWordLen: Int = 32): DataFrame = {
    val comb = GraftShims.toColumn(graft.functions.UnigramSegmentCost(
      GraftShims.toExpression(TextFunctions.tokens(col(textCol))),
      vocab, unkCost, maxWordLen))
    val unkComb = unkCost.toLong * 64 + 1
    df.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), comb.as("__c"))
      .select(col(idCol),
        size(col("__c")).cast("long").as("n_words"),
        aggregate(col("__c"), lit(0L), (a, x) => a + shiftright(x, 6))
          .as("total_cost"),
        aggregate(col("__c"), lit(0L), (a, x) => a + x.bitwiseAND(lit(63L)))
          .as("total_pieces"),
        size(filter(col("__c"), x => x === lit(unkComb))).cast("long").as("n_unk"))
  }
}

/** Unigram-LM (SentencePiece-style) vocabulary TRAINING — integer-exact
  * Viterbi-EM, completing the tokenizer-training family (BPE train ✓,
  * byte-BPE train ✓, WordPiece encode ✓, unigram encode ✓ — this is the
  * build path a SentencePiece-standard pipeline needs).
  *
  * Reference behavior anchor: SentencePiece's unigram trainer
  * (Kudo 2018, arXiv:1804.10959): seed a large candidate vocabulary from
  * corpus substrings, alternate (E) collecting per-piece use counts under
  * the current piece costs with (M) re-deriving costs from counts, and
  * prune low-utility pieces between rounds, always keeping single
  * characters so every word stays segmentable. This implementation makes
  * every step integer-exact so an external engine replays it bit-for-bit:
  *
  *   - E-step: HARD (Viterbi) assignments via the native
  *     [[graft.functions.UnigramViterbiPieces]] expression — map-only
  *     over the distinct-WORD frequency table, one bounded aggregation
  *     (≤ |vocab| groups) per round; driver state is O(|vocab|).
  *   - M-step: cost(p) = (⌊log2(T + |V|)⌋ − ⌊log2(cnt(p) + 1)⌋)·scale
  *     + scale, a quantized −log2 of the add-one-smoothed piece
  *     probability. Floor-log2 is BIT LENGTH, exact in every engine
  *     (`63 − numberOfLeadingZeros` here, `strlen(bin(x)) − 1` in SQL) —
  *     the same correctly-rounded-primitive discipline as
  *     q_mix_temperature's sqrt.
  *   - Prune: keep all single-character pieces + the top `pruneTopK`
  *     multi-character pieces by (count DESC, piece ASC) — a
  *     deterministic total order.
  *
  * Scale shape at 100 TB: the corpus is touched ONCE (word explode +
  * count — the standard word-frequency aggregation, bounded by the
  * distinct-word vocabulary, not the corpus); every EM round then runs
  * over that persisted distinct-word table, map-only + one bounded
  * aggregation. Seed and per-round counts collect O(seedTopN + charset)
  * rows to the driver — never corpus rows.
  */
object UnigramTrain {

  private def fl2(x: Long): Int = {
    require(x >= 1, s"fl2 of non-positive $x")
    63 - java.lang.Long.numberOfLeadingZeros(x)
  }

  /** Integer cost table from counts (M-step): quantized −log2 of the
    * add-one-smoothed probability, scaled; strictly positive.
    */
  def costsOf(counts: Seq[(String, Long)], scale: Int): Seq[(String, Int)] = {
    val t = counts.iterator.map(_._2).sum + counts.size
    counts.map { case (p, c) => p -> ((fl2(t) - fl2(c + 1)) * scale + scale) }
  }

  /** Train a unigram vocabulary; returns one row per final-vocabulary
    * piece: (piece, cnt = its final-round Viterbi use count, cost = the
    * integer cost the final E-step segmented under). Words longer than
    * `maxWordLen` code points are excluded from training entirely.
    */
  def train(df: DataFrame, textCol: String, rounds: Int = 2,
      maxPieceLen: Int = 4, seedTopN: Int = 40, pruneTopK: Int = 20,
      maxWordLen: Int = 10, costScale: Int = 8): DataFrame = {
    require(rounds >= 1 && maxPieceLen >= 1 && seedTopN >= 1 &&
      pruneTopK >= 1 && maxWordLen >= 1 && costScale >= 1,
      s"UnigramTrain: bad hyperparameters (rounds=$rounds " +
        s"maxPieceLen=$maxPieceLen seedTopN=$seedTopN pruneTopK=$pruneTopK " +
        s"maxWordLen=$maxWordLen costScale=$costScale)")
    val spark = df.sparkSession
    Cached.scoped(df
        .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
        .filter(length(col("w")).between(1, maxWordLen))
        .groupBy("w").agg(count(lit(1)).as("freq"))) { words =>
      // seed candidates: every substring up to maxPieceLen chars, weighted
      // by word frequency — all single characters (never pruned, so every
      // word stays segmentable) + the top seedTopN multi-char substrings
      val (singles, multi) = Cached.scoped(words.select(col("freq"),
          explode(flatten(
            transform(sequence(lit(0), length(col("w")) - 1), i =>
              transform(
                sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - i)),
                l => col("w").substr(i + lit(1), l))))).as("p"))
        .groupBy("p").agg(sum("freq").as("cnt"))) { subs =>
        (subs.filter(length(col("p")) === 1)
           .orderBy("p").collect().map(r => r.getString(0) -> r.getLong(1)),
         subs.filter(length(col("p")) >= 2)
           .orderBy(col("cnt").desc, col("p")).limit(seedTopN)
           .collect().map(r => r.getString(0) -> r.getLong(1)))
      }
      // vocab order is UTF-8 binary (Spark/DuckDB string order), not
      // UTF-16 sortBy: downstream id assignment (q_pack_ids_unigram's
      // sorted-rank vocabulary) replays this order in SQL
      def sortedUtf8(v: Seq[(String, Long)]): Seq[(String, Long)] =
        v.sortWith((a, b) => Bpe.utf8Less(a._1, b._1))
      var vocab: Seq[(String, Long)] = sortedUtf8((singles ++ multi).toSeq)
      require(vocab.nonEmpty,
        "UnigramTrain: no trainable words in the corpus (every doc blank " +
          s"or every word longer than maxWordLen=$maxWordLen)")
      var lastCosts: Seq[(String, Int)] = Nil
      for (r <- 1 to rounds) {
        if (r > 1) {
          // single-character = one CODE POINT (what the seed's Spark
          // `length === 1` and the oracle's DuckDB `length(p) = 1` both
          // count) — UTF-16 .length would misclassify supplementary-plane
          // characters as prunable and break the every-word-segmentable
          // invariant
          def isSingle(p: String): Boolean =
            p.codePointCount(0, p.length) == 1
          val keepS = vocab.filter(t => isSingle(t._1))
          // tie-break in CODE-POINT order (Spark/DuckDB binary string
          // order), not UTF-16 compareTo — the oracle replays this rank
          val keepM = vocab.filter(t => !isSingle(t._1))
            .sortWith { case ((p1, c1), (p2, c2)) =>
              c1 > c2 || (c1 == c2 && Bpe.utf8Less(p1, p2)) }
            .take(pruneTopK)
          vocab = sortedUtf8(keepS ++ keepM)
        }
        lastCosts = costsOf(vocab, costScale)
        val pcs = GraftShims.toColumn(graft.functions.UnigramViterbiPieces(
          GraftShims.toExpression(array(col("w"))), lastCosts, maxWordLen))
        val counted = words.select(col("freq"), explode(pcs).as("p"))
          .groupBy("p").agg(sum("freq").as("cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        vocab = vocab.map { case (p, _) => p -> counted.getOrElse(p, 0L) }
      }
      val costMap = lastCosts.toMap
      import spark.implicits._
      vocab.map { case (p, c) => (p, c, costMap(p).toLong) }
        .toDF("piece", "cnt", "cost")
    }
  }
}
