package graft.llm

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.functions._

import graft.functions.{HfNormalize, TextFunctions, VocabIds}

/** Column-algebra application of an imported tokenizer.json's text
  * transform ([[HfScheme]]) — normalization chain, word splitting, model
  * encode, byte fallback, and the post-processor's special-token wrap.
  * Everything is map-only (one native normalize walk + native encoders
  * whose vocabularies ride per-executor hash maps), so the whole imported
  * text→ids path fuses into the scan stage exactly like the engine's own
  * tokenizers.
  */
object HfEncode {

  /** The scheme's normalizer chain applied in file order (identity when
    * the file declares none). Null text → empty.
    */
  def normalized(text: Column, scheme: HfScheme): Column = {
    val t = coalesce(text, lit(""))
    if (scheme.norm.isEmpty) t
    else GraftShims.toColumn(HfNormalize(GraftShims.toExpression(t),
      scheme.norm))
  }

  /** SentencePiece's ▁ convention: every space becomes `repl`, the text
    * splits BEFORE each marker (lookahead split — markers stay attached
    * to the word they precede; a run of spaces yields lone-marker words,
    * exactly the `tokenizers` Metaspace MergedWithNext behavior), and
    * `prependFirst` marks the first word too. Only ' ' is replaced —
    * the published Metaspace touches no other whitespace.
    */
  def metaspaceWords(text: Column, repl: String,
      prependFirst: Boolean): Column = {
    val marked = replace(coalesce(text, lit("")), lit(" "), lit(repl))
    val headed =
      if (prependFirst)
        when(length(marked) === 0, marked)
          .otherwise(concat(lit(repl), marked))
      else marked
    filter(split(headed, "(?=" + java.util.regex.Pattern.quote(repl) + ")"),
      w => w =!= "")
  }

  /** BERT's pre-tokenizer over already-normalized text: whitespace split
    * with every punctuation character isolated as its own word
    * (Unicode category P plus the ASCII symbol characters BERT's
    * `_is_punctuation` ranges add: $ + < = > ^ ` | ~).
    */
  def bertWords(normalizedText: Column): Column =
    TextFunctions.tokens(regexp_replace(normalizedText,
      "([\\p{P}$+<=>^`|~])", " $1 "))

  /** The file's word list: normalizer chain then the declared splitting
    * scheme. WholeText (no pre_tokenizer — the modern Llama spelling)
    * yields the entire normalized text as ONE matching domain, exactly
    * what the publishing stack's BPE runs over.
    */
  def words(text: Column, scheme: HfScheme): Column = {
    val t = normalized(text, scheme)
    scheme.pre match {
      case HfPreTok.ByteLevel       => Bpe.byteLevelMapped(t)
      case HfPreTok.WhitespaceSplit => TextFunctions.tokens(t)
      case HfPreTok.HfWhitespace =>
        // HF `Whitespace` is the \w+|[^\w\s]+ regex (Unicode classes),
        // NOT a plain whitespace split
        filter(regexp_extract_all(t, lit("(?U)\\w+|[^\\w\\s]+"), lit(0)),
          w => w =!= "")
      case HfPreTok.Bert => bertWords(t)
      case HfPreTok.Metaspace(repl, prepend) =>
        metaspaceWords(t, repl, prepend)
      case HfPreTok.WholeText =>
        when(length(t) === 0, array().cast("array<string>"))
          .otherwise(array(t))
    }
  }

  /** A symbol's UTF-8 bytes as `<0xNN>` pieces (uppercase hex) — the
    * byte_fallback decomposition Llama-family vocabularies carry for
    * every byte value, so nothing is out-of-vocabulary.
    */
  def bytePieces(sym: Column): Column = {
    val bin = sym.cast("binary")
    transform(sequence(lit(1), octet_length(sym)),
      i => concat(lit("<0x"), hex(bin.substr(i, lit(1))), lit(">")))
  }

  /** BPE symbols → the file's explicit ids: vocab membership via one
    * per-executor hash map; OOV symbols decompose to `<0xNN>` byte
    * pieces when the file declares byte_fallback (then map again —
    * a byte piece missing from a malformed vocab still lands on `unk`);
    * fuse_unk collapses consecutive unks. `ids` must align 1:1 with
    * `vocab` order (the explicit file ids).
    */
  def bpeIds(symbols: Column, vocab: Seq[(String, Int)], unk: Int,
      byteFallback: Boolean, fuseUnk: Boolean): Column = {
    val surfaces = vocab.map(_._1)
    def positions(syms: Column): Column =
      GraftShims.toColumn(VocabIds(GraftShims.toExpression(syms),
        surfaces, -1))
    val pos =
      if (!byteFallback) positions(symbols)
      else {
        val expanded = TextFunctions.bindOnce(symbols) { syms =>
          flatten(zip_with(syms, positions(syms), (s, p) =>
            when(p >= 0, array(s)).otherwise(bytePieces(s))))
        }
        positions(expanded)
      }
    val ids = explicitIds(pos, vocab.map(_._2), unk)
    if (!fuseUnk) ids
    else TextFunctions.bindOnce(ids) { a =>
      filter(a, (x, i) =>
        !(x === lit(unk) && i > 0 && element_at(a, i) === lit(unk)))
    }
  }

  /** The whole encoded-words → explicit-ids tail
    * (`bpeIds(Bpe.docSymbols(array_join(enc, "|")), …)`) as one native
    * walk ([[graft.functions.HfBpeIds]]) — semantics identical
    * (HfTokenizerSpec pins equality); the composed form copies the
    * document three times (join, replace, split) and maps every token
    * through an interpreted higher-order transform, which ProfHfKernel
    * measured as ~70% of the imported-BPE tokenize row.
    *
    * Precondition: every element of `encodedWords` is a bracketed word as
    * [[Bpe.encodeWords]] emits it — `Bpe.Open`, symbols each closed by
    * `Bpe.Close` and reopened by `Bpe.Open`, a final `Bpe.Close` (an empty
    * word is `Open + Close`). Other strings are cut at the same char
    * offsets without a check, so their ids are meaningless.
    */
  def bpeIdsOfWords(encodedWords: Column, vocab: Seq[(String, Int)], unk: Int,
      byteFallback: Boolean, fuseUnk: Boolean): Column =
    GraftShims.toColumn(graft.functions.HfBpeIds(
      GraftShims.toExpression(encodedWords), vocab, unk, byteFallback,
      fuseUnk, Bpe.Open, Bpe.Close))

  /** HF vocab ids may be EXPLICIT (not list positions): map a native
    * position column through the id list, keeping the identity fast path
    * when ids are exactly 0..n−1 (all engine-exported files).
    */
  def explicitIds(pos: Column, hfIds: Seq[Int], unk: Int): Column = {
    val body: Column => Column =
      if (hfIds == hfIds.indices) p => p
      else p => element_at(typedLit(hfIds), (p + 1).cast("int"))
    transform(pos, p => when(p >= 0, body(p)).otherwise(lit(unk)))
  }

  /** The post-processor's single-sequence template: the special-token
    * ids the publishing stack wraps around EVERY encoded sequence
    * ([CLS] … [SEP], <s> …). Identity when the file declares none.
    */
  def withTemplate(ids: Column, scheme: HfScheme): Column =
    if (scheme.prefixIds.isEmpty && scheme.suffixIds.isEmpty) ids
    else {
      val pre =
        if (scheme.prefixIds.isEmpty) ids
        else concat(typedLit(scheme.prefixIds).cast("array<int>"), ids)
      if (scheme.suffixIds.isEmpty) pre
      else concat(pre, typedLit(scheme.suffixIds).cast("array<int>"))
    }
}
