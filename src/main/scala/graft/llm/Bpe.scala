package graft.llm

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._

import graft.core.Cached
import graft.functions.{BpeEncodeWords, BpeSymbolPairs, BpeSymbols, TextFunctions}

/** Byte-pair-encoding tokenizer over a text corpus — the real merge-table
  * algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units"), re-expressed as Column algebra.
  *
  * Representation: an encoded word is its symbol sequence wrapped
  * symbol-by-symbol in the reserved delimiters [[Open]]/[[Close]] (shown
  * here as ⟨⟩) — "that" → "⟨t⟩⟨h⟩⟨a⟩⟨t⟩" — and the merge (t,h) is the
  * literal replacement "⟨t⟩⟨h⟩" → "⟨th⟩". Matches are exact-boundary (a
  * symbol can never match inside another symbol: its delimiters would have
  * to match delimiters inside the neighbor), left-to-right, and
  * non-overlapping — precisely the canonical single-pass merge — and the
  * whole encoder is plain `replace`, expressible identically in ANY
  * engine: no regex, no lookbehind, so even an RE2-only oracle (DuckDB)
  * reproduces it byte-for-byte. The delimiters are two control characters
  * carrying no text meaning, STRIPPED from input during the char split
  * (the standard tokenizer-reserved-byte move); every other character —
  * parentheses and pipes included — passes through as ordinary symbol
  * content.
  *
  * Applying the merge table sequentially in rank order equals the
  * lowest-rank-present loop of the original implementation because a
  * merge's output symbol cannot appear in a LOWER-ranked rule: the symbol
  * does not exist until its own rule fires during training, so every rule
  * consuming it ranks later. (All built-in and trained tables here satisfy
  * that well-ordering by construction.)
  *
  * Scale contract: encoding is map-only Column algebra that stays in the
  * scan stage under whole-stage codegen. One training step is one explode
  * of adjacent symbol pairs + one map-side-combined count aggregation + a
  * top-1; [[train]](steps) is `steps` such jobs and its driver state is the
  * merge table itself — O(steps) short strings, never row-sized. At 100 TB
  * the table is trained on a sample and the corpus is encoded with the
  * fixed table — exactly how production BPE vocabularies are built.
  */
object Bpe {

  /** Symbol-open delimiter (U+0001), reserved by the encoding. */
  val Open = "\u0001"

  /** Symbol-close delimiter (U+0002), reserved by the encoding. */
  val Close = "\u0002"

  /** "that" → Open+"t"+Close+Open+"h"+Close+… ; empty word → Open+Close
    * (zero symbols). Reserved delimiter chars in the input are stripped
    * here — they carry no text meaning and would forge symbol boundaries;
    * every OTHER character (parens, pipes, …) passes through as ordinary
    * symbol content.
    */
  def wrapChars(w: Column): Column =
    concat(lit(Open),
      array_join(filter(split(w, ""),
        c => c =!= "" && c =!= Open && c =!= Close), Close + Open),
      lit(Close))

  /** Apply `merges` in rank order to an already-wrapped word. */
  def applyMerges(enc: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(enc) { case (acc, (a, b)) =>
      replace(acc, lit(s"$Open$a$Close$Open$b$Close"), lit(s"$Open$a$b$Close"))
    }

  /** Encode one word to its delimited form under `merges`. */
  def encodeWord(w: Column, merges: Seq[(String, String)]): Column =
    applyMerges(wrapChars(w), merges)

  /** Above this many rules [[encodeWords]] switches from the chained
    * `replace` form (one plan node per rule — oracle-expressible, but
    * expression depth = rule count) to the native [[BpeEncodeWords]]
    * expression, whose table is per-row data instead of plan shape. A
    * production 32 k-rule vocabulary would otherwise build a 32 k-deep
    * tree Catalyst cannot analyze.
    */
  val NativeEncodeThreshold = 64

  /** Encode an already-tokenized `array<string>` of words through the
    * native table-driven expression (canonical lowest-rank merge loop;
    * byte-identical to the chained form on well-ordered tables —
    * BpePropertySpec checks the equality on random tables).
    */
  def encodeWordsNative(words: Column, merges: Seq[(String, String)]): Column =
    GraftShims.toColumn(BpeEncodeWords(
      GraftShims.toExpression(words), merges, Open, Close))

  /** Per-document array of delimiter-encoded words (whitespace
    * tokenization, same contract as [[TextFunctions.tokens]]). Small
    * non-empty tables stay on the chained-`replace` form (any engine can
    * reproduce it — the DuckDB oracle does); tables at or past
    * [[NativeEncodeThreshold]] rules route through [[encodeWordsNative]],
    * and so does the EMPTY table (the bare char wrap — the merge loop
    * exits immediately, and the native split beats the interpreted
    * `wrapChars` lambda on the training hot path).
    */
  def encodeWords(text: Column, merges: Seq[(String, String)]): Column =
    if (merges.isEmpty || merges.size >= NativeEncodeThreshold)
      encodeWordsNative(TextFunctions.tokens(text), merges)
    else transform(TextFunctions.tokens(text), w => encodeWord(w, merges))

  /** Whole document as one encoded string, words joined with "|". A "|"
    * INSIDE a word is ordinary symbol content (it sits between delimiters);
    * the joiner sits between Close and Open, a position no symbol char can
    * occupy, so counts and hashes of this string identify the tokenization
    * exactly.
    */
  def encodeText(text: Column, merges: Seq[(String, String)]): Column =
    array_join(encodeWords(text, merges), "|")

  /** Every BPE symbol of the document with its [s, e) code-point offsets
    * — `array<struct<tok:string, s:int, e:int, norm_s:int, norm_e:int>>`.
    * This is the bridge between the SPAN-attribute model and the TOKEN
    * sequence the model trains on: project a sidecar's character spans
    * (PII, dedup cuts, boilerplate, quality segments) onto tokens with
    * [[graft.functions.TextFunctions.spanOverlapMask]] and the result is
    * a loss mask / drop mask at token granularity — tag once in character
    * space, train in token space, no re-tokenization.
    *
    * `s`/`e` index the ORIGINAL text (slice it at [s, e) and get the
    * token); `norm_s`/`norm_e` index the single-space NORMALIZED text
    * (words joined by one space) — the base whitespace-normalizing
    * pipelines tag in, and the one external prefix-sum restatements can
    * derive. One native expression, one walk per row
    * ([[graft.functions.BpeEncodeOffsets]]): the composed
    * matchSpans + per-word-fold form measured 3.5–8.3 s at sf0.1 in
    * interpreted HOF lambdas; the native walk stays inside whole-stage
    * codegen. Null text → empty token list (the [[TextFunctions.tokens]]
    * contract).
    *
    * Caveat (shared with [[wrapChars]]): the reserved delimiter chars
    * U+0001/U+0002 are stripped from symbol content, so a document
    * containing them yields offsets over the stripped word — tokens after
    * the stripped char shift left within that word only.
    */
  def encodeWithOffsets(text: Column, merges: Seq[(String, String)]): Column =
    GraftShims.toColumn(graft.functions.BpeEncodeOffsets(
      GraftShims.toExpression(coalesce(text, lit(""))), merges, Open, Close))

  /** The GPT-2 pretokenizer (Radford et al. 2019, `encoder.py`): English
    * contractions, optionally-space-prefixed letter / digit / other runs,
    * then whitespace — where `\s+(?!\S)` keeps the LAST space of an inner
    * run attached to the following word (" ?\p{L}+" then claims it). Java
    * regex supports the lookahead, so pretokenization is the built-in
    * `regexp_extract_all` — no custom expression needed.
    *
    * KNOWN DIVERGENCE from the reference tokenizer, deliberate: `\s` here
    * is Java-regex ASCII whitespace, while GPT-2's `encoder.py` runs
    * under Python's `regex` module where `\s` is Unicode — text holding
    * U+00A0/U+2028-class whitespace pretokenizes differently (those chars
    * fall into the `[^\s\p{L}\p{N}]+` "other" run here instead of a
    * whitespace run). The ASCII stance is shared by
    * [[graft.functions.BpeEncodeOffsets]].isSpace and by every external
    * oracle (DuckDB's RE2 `\s` is ASCII too, and `(?U)` has no RE2
    * equivalent), so the engine is self-consistent and oracle-checkable;
    * byte-level encoding stays LOSSLESS either way — only token
    * boundaries around exotic whitespace differ from a published GPT-2
    * merge table's.
    */
  val Gpt2SplitPattern: String =
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"""

  /** GPT-2 pretokenized pieces of a document, in order (empty for null). */
  def byteLevelPieces(text: Column): Column =
    regexp_extract_all(coalesce(text, lit("")), lit(Gpt2SplitPattern), lit(0))

  /** Byte-level BPE encode (the GPT-2/RoBERTa/Llama tokenizer family):
    * GPT-2 regex pretokenization → each piece's UTF-8 BYTES mapped through
    * the [[graft.functions.ByteLevel]] bijection (space → `Ġ`, every byte
    * printable, so NO input is out-of-vocabulary) → the shared canonical
    * merge loop under `merges` (whose symbols live in the MAPPED alphabet,
    * as published byte-level vocabularies do). Output is the same
    * delimiter form as [[encodeText]] ("|"-joined encoded pieces), so
    * [[symbolCount]] and hashing apply unchanged. Map-only column algebra
    * + two native walks; no shuffle.
    *
    * Unlike [[encodeText]]'s whitespace tokenization, byte-level encoding
    * is LOSSLESS: whitespace runs become tokens too, and the mapped
    * alphabet cannot collide with the reserved delimiters (every mapped
    * char is ≥ '!'), so nothing is ever stripped.
    */
  /** GPT-2 pretokenized pieces mapped into the byte-level alphabet — the
    * symbol-ready form shared by [[byteLevelEncode]] and byte-level
    * [[train]]ing.
    */
  def byteLevelMapped(text: Column): Column =
    GraftShims.toColumn(graft.functions.BytesToUnicodeWords(
      GraftShims.toExpression(byteLevelPieces(text))))

  def byteLevelEncode(text: Column, merges: Seq[(String, String)]): Column =
    array_join(encodeWordsNative(byteLevelMapped(text), merges), "|")

  /** ALL symbols of a document's encoded string, across word boundaries in
    * order: the "|" joiner sits between Close and Open — a position no
    * symbol content can occupy (delimiters are reserved in the whitespace
    * encoder; unreachable characters in the byte-level mapped alphabet) —
    * so collapsing `Close|Open` to `CloseOpen` then splitting yields the
    * document's token sequence. A symbol that IS "|" (byte-level) is
    * untouched: its delimiters don't match the joiner pattern.
    */
  def docSymbols(enc: Column): Column =
    symbols(replace(enc, lit(s"$Close|$Open"), lit(s"$Close$Open")))

  /** Symbol strings → 0-based vocabulary ids (`unkId` when absent), the
    * tokenize→ids bridge into [[graft.llm.Pack]]: the vocabulary ships as
    * one per-executor hash map ([[graft.functions.VocabIds]]), so the
    * whole text→ids path is map-only native walks.
    */
  def tokenIds(enc: Column, vocab: Seq[String], unkId: Int = 0): Column =
    GraftShims.toColumn(graft.functions.VocabIds(
      GraftShims.toExpression(docSymbols(enc)), vocab, unkId))

  /** Invert the byte-level path: token ids → vocabulary symbols →
    * unmapped bytes → text. EXACT inverse of
    * `tokenIds(byteLevelEncode(text), vocab)` whenever the vocabulary
    * covers every symbol the encoder emits (all single mapped chars
    * present in the corpus plus the merge outputs) — byte-level BPE is
    * lossless, and this is the law that says so (q_bpe_roundtrip states
    * it under the oracle). An out-of-range id fails loudly; the decoder
    * never invents bytes.
    */
  def byteLevelDecode(ids: Column, vocab: Seq[String]): Column = {
    require(vocab.nonEmpty, "byteLevelDecode: empty vocabulary")
    val sym = transform(ids, i =>
      coalesce(element_at(lit(vocab.toArray), i + 1),
        raise_error(concat(lit("byteLevelDecode: id out of range: "), i))))
    GraftShims.toColumn(graft.functions.UnicodeToBytes(
      GraftShims.toExpression(array_join(sym, ""))))
  }

  /** Number of symbols in an encoded string = its count of Open chars. */
  def symbolCount(enc: Column): Column =
    (length(enc) - length(replace(enc, lit(Open), lit("")))).cast("long")

  /** Symbols of one delimiter-encoded word: ⟨th⟩⟨e⟩ → ["th","e"]. */
  def symbols(enc: Column): Column =
    when(length(enc) <= lit(2), array().cast("array<string>"))
      .otherwise(split(enc.substr(lit(2), length(enc) - 2), Close + Open))

  /** Adjacent symbol pairs of one encoded word, as "a b" strings (symbols
    * come from whitespace tokenization, so the space separator is safe).
    */
  def symbolPairs(enc: Column): Column =
    TextFunctions.bindOnce(symbols(enc)) { s =>
      when(size(s) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(s) - 1),
          i => concat(element_at(s, i), lit(" "), element_at(s, i + 1))))
    }

  /** Corpus-wide adjacent-symbol-pair counts under the current merge
    * table — one BPE training step's sufficient statistics. With
    * `merges = Nil` this is the classic first-step character-bigram count.
    * Output: (pair, cnt). One explode + one map-side-combined aggregation.
    */
  def pairCounts(df: DataFrame, textCol: Column,
      merges: Seq[(String, String)] = Nil): DataFrame =
    pairCountsOfWords(df.select(encodeWords(textCol, merges).as("__ws")))

  /** [[pairCounts]] over an already-encoded words column `__ws` — the
    * shape [[train]] aggregates per step (one explode + one
    * map-side-combined count; PlanShapeSpec pins it). Pair emission is
    * the native [[BpeSymbolPairs]] expression; the equivalent HOF chain
    * (`flatten(transform(_, symbolPairs))`) evaluates its lambdas
    * interpreted and dominated the counting scan (BpePropertySpec pins
    * the equality).
    */
  private def pairCountsOfWords(enc: DataFrame): DataFrame =
    enc.select(explode(GraftShims.toColumn(BpeSymbolPairs(
        GraftShims.toExpression(col("__ws")), Open, Close))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))

  /** Train `steps` merge rules by repeated argmax of the pair counts, ties
    * broken on the pair string so training is deterministic. Returns the
    * merge table plus the training history (step, pair, cnt); stops early
    * when no pair remains.
    *
    * Incremental: the char-level encoding is computed ONCE and cached, and
    * each round applies only its new merges to the previous round's
    * cached encoding (persist-new, then unpersist-old) — lineage stays
    * O(1) deep and no round rescans the source or replays the whole merge
    * chain. Driver state is the merge table: O(steps) short strings. This
    * mirrors production BPE training, which runs on a corpus sample that
    * fits the cluster's cache; encoding the full 100 TB corpus afterwards
    * uses the FIXED table via [[encodeText]] (map-only).
    *
    * `batchSize` (SentencePiece-style batching): each counting job learns
    * up to `batchSize` rules instead of one — the top pairs in
    * (cnt desc, pair) order, greedily keeping only pairs SYMBOL-DISJOINT
    * from ones already selected this round. Merging (a,b) cannot change
    * the count of any pair sharing no symbol with it (existing disjoint
    * adjacencies survive the splice; new adjacencies always involve the
    * merged symbol), so a conflict-free round reproduces the sequential
    * argmax sequence exactly; rounds where the argmax sequence WOULD have
    * surfaced a just-created symbol's pair can diverge — the standard
    * fidelity/speed trade, off by default (`batchSize = 1` is the
    * oracle-checked sequential path). Real vocabularies need thousands of
    * rules; batching divides the Spark-job count by up to `batchSize`.
    */
  def train(df: DataFrame, textCol: Column, steps: Int, batchSize: Int = 1,
      byteLevel: Boolean = false)
      : (Seq[(String, String)], Seq[(Int, String, Long)]) = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    // byteLevel trains in the mapped alphabet over GPT-2 pieces (how the
    // published byte-level vocabularies are built); the merge loop,
    // counting jobs, and cache discipline are representation-agnostic
    val initial =
      if (byteLevel) encodeWordsNative(byteLevelMapped(textCol), Nil)
      else encodeWords(textCol, Nil)
    var enc = Cached.pin(df.select(initial.as("__ws")))
    var parent: Option[DataFrame] = None
    var merges = Vector.empty[(String, String)]
    var hist = Vector.empty[(Int, String, Long)]
    var done = false
    try {
      while (merges.size < steps && !done) {
        val want = math.min(batchSize, steps - merges.size)
        // ONE job per round: the pair top-k also materializes this round's
        // cached encoding (computed lazily from the parent's cache + the
        // previous round's replaces), after which the parent cache can go.
        // Fetch headroom beyond `want` so conflict skips still fill the
        // round from one job.
        val top = pairCountsOfWords(enc)
          .orderBy(col("cnt").desc, col("pair")).limit(want * 4 + 4).collect()
        parent.foreach(Cached.release)
        parent = None
        if (top.isEmpty) done = true
        else {
          // greedy symbol-disjoint selection in (cnt desc, pair) order
          val used = scala.collection.mutable.Set.empty[String]
          var selected = Vector.empty[(String, String, Long)]
          for (r <- top if selected.size < want) {
            val pair = r.getAs[String]("pair")
            val Array(a, b) = pair.split(" ", 2)
            if (!used(a) && !used(b)) {
              selected :+= ((a, b, r.getAs[Long]("cnt")))
              used += a += b
            }
          }
          val newRules = selected.map { case (a, b, _) => (a, b) }
          hist ++= selected.zipWithIndex.map { case ((a, b, c), i) =>
            (merges.size + i + 1, s"$a $b", c)
          }
          merges ++= newRules
          if (merges.size < steps) {
            val next = Cached.pin(enc.select(transform(col("__ws"),
                e => applyMerges(e, newRules)).as("__ws")))
            parent = Some(enc)
            enc = next
          }
        }
      }
    } finally {
      Cached.release(enc)
      parent.foreach(Cached.release)
    }
    (merges, hist)
  }

  /** Driver-side string order matching Spark `UTF8String` / DuckDB
    * VARCHAR binary order (= UTF-8 unsigned-byte = code-point
    * lexicographic). Java's `String.compareTo` is UTF-16 order, which
    * DIVERGES for supplementary-plane characters vs U+E000–U+FFFF —
    * any driver-side tie-break that an oracle replays must use this.
    */
  private[llm] def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Per-symbol occurrence counts over an encoded-words column — the
    * unigram sufficient statistic [[trainWordpiece]] scores against
    * (one explode + one map-side-combined count, ≤ |symbol vocabulary|
    * groups). Symbol emission is the native [[BpeSymbols]] walk for the
    * same reason pair emission is [[BpeSymbolPairs]]: the HOF chain
    * evaluates interpreted and dominates the counting scan.
    */
  private def symbolCountsOfWords(enc: DataFrame): DataFrame =
    enc.select(explode(GraftShims.toColumn(BpeSymbols(
        GraftShims.toExpression(col("__ws")), Open, Close))).as("sym"))
      .groupBy("sym").agg(count(lit(1)).as("cnt"))

  /** WordPiece vocabulary TRAINING — the BERT-family build path
    * (Schuster & Nakajima 2012; the rule the huggingface/tokenizers
    * WordPiece trainer implements): [[train]]'s merge loop with the
    * LIKELIHOOD-GAIN objective — each step merges the adjacent pair
    * maximizing count(ab) / (count(a)·count(b)), the pair whose merge
    * most increases corpus likelihood under a unigram symbol model, not
    * the raw-count argmax BPE uses. Rare-but-always-together symbols win
    * over frequent-but-independent ones.
    *
    * The argmax is EXACT: scores are compared by integer
    * cross-multiplication over arbitrary-precision values (never a
    * float ratio), ties broken on the pair string — bit-deterministic
    * and restatable verbatim in SQL. Per step the driver holds the
    * pair-count and symbol-count tables — bounded by the adjacent-pair
    * and symbol VOCABULARIES (the standard in-memory WordPiece/BPE
    * trainer working set), never corpus rows; the cache discipline
    * (encode once, splice per round, O(1) lineage) is [[train]]'s.
    */
  def trainWordpiece(df: DataFrame, textCol: Column, steps: Int)
      : (Seq[(String, String)], Seq[(Int, String, Long)]) = {
    var enc = Cached.pin(df.select(encodeWords(textCol, Nil).as("__ws")))
    var parent: Option[DataFrame] = None
    var merges = Vector.empty[(String, String)]
    var hist = Vector.empty[(Int, String, Long)]
    var done = false
    try {
      while (merges.size < steps && !done) {
        val pairRows = pairCountsOfWords(enc).collect()
        parent.foreach(Cached.release)
        parent = None
        if (pairRows.isEmpty) done = true
        else {
          val syms = symbolCountsOfWords(enc).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          var bp: String = null
          var bc = 0L
          var bn = BigInt(0)
          var bd = BigInt(1)
          for (r <- pairRows) {
            val pair = r.getString(0)
            val c = r.getLong(1)
            val Array(a, b) = pair.split(" ", 2)
            val n = BigInt(c)
            val dd = BigInt(syms(a)) * BigInt(syms(b))
            // pair beats best iff n/dd > bn/bd — cross-multiplied, exact;
            // ties in CODE-POINT order (what the oracle's DuckDB `<` and
            // Bpe.train's Spark orderBy both use), not UTF-16 compareTo
            val cmp = (n * bd).compare(bn * dd)
            if (bp == null || cmp > 0 || (cmp == 0 && utf8Less(pair, bp))) {
              bp = pair; bc = c; bn = n; bd = dd
            }
          }
          val Array(a, b) = bp.split(" ", 2)
          hist :+= ((merges.size + 1, bp, bc))
          merges :+= ((a, b))
          if (merges.size < steps) {
            val next = Cached.pin(enc.select(transform(col("__ws"),
                e => applyMerges(e, Seq((a, b)))).as("__ws")))
            parent = Some(enc)
            enc = next
          }
        }
      }
    } finally {
      Cached.release(enc)
      parent.foreach(Cached.release)
    }
    (merges, hist)
  }
}
