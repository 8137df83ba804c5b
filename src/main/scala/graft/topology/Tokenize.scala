package graft.topology

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftShims

import graft.functions.{IdField, TextFunctions}

/** Tokenizer training and application on the TOML surface — the missing
  * config path from raw corpus to packed training rows. A config-driven
  * user can now run the whole SFT shape without Scala:
  *
  *   1. TRAIN job: `[input] → [[filter]] cleaning chain → [tokenizer]
  *      (persists the vocabulary sidecar) → Nop output`;
  *   2. PACK job: `[input] → TokenizeIds (reads the sidecar) → PackRows →
  *      parquet output` — the materialized `(shard, seq_id, input_ids,
  *      segment_ids, loss_mask, n_real)` rows of
  *      [[graft.llm.Pack.packTokensGreedy]].
  *
  * The vocabulary sidecar is one tiny parquet `(id BIGINT, piece STRING,
  * cost BIGINT)`: unigram rows are the trained pieces in UTF-8 order with
  * their quantized Viterbi costs; bpe/wordpiece rows are the learned
  * merge rules `"left right"` in learned order with their argmax counts.
  * Driver work is vocabulary-bounded on both ends (the trainers' standard
  * working set; the apply side broadcasts the vocab inside native
  * codegen'd expressions, never a join).
  */
object Tokenize {

  val trainKeys: Seq[ConfigKey] = Seq(
    ConfigKey("Method", "unigram | bpe | wordpiece", required = true),
    ConfigKey("SrcField", "text field to train on", required = true),
    ConfigKey("VocabPath", "parquet sidecar path for the trained vocabulary",
      required = true),
    ConfigKey("Steps", "merge steps (bpe/wordpiece)", default = Some("8")),
    ConfigKey("Rounds", "EM rounds (unigram)", default = Some("2")),
    ConfigKey("MaxWordLen", "unigram trainer word-length bound",
      default = Some("10")),
    ConfigKey("ExportPath", "optional path to ALSO write the trained " +
      "vocabulary as a HuggingFace tokenizer.json (portable to a " +
      "tokenizers-based training stack; TokenizeIds re-imports it " +
      "id-for-id via a .json VocabPath)"))

  /** The job-level `[tokenizer]` TRAIN step: runs on the topology's
    * post-filter frame when the topology COMPILES (the train aggregations
    * execute eagerly — a train job's output is usually Nop) and persists
    * the vocabulary sidecar to VocabPath.
    */
  def train(ctx: TopologyCtx, cfg: ComponentConfig, frame: DataFrame): Unit = {
    val src = cfg.str("SrcField")
    require(ctx.fields.contains(src), s"[tokenizer]: unknown SrcField '$src'")
    val spark = ctx.spark
    import spark.implicits._
    val rows: Seq[(Long, String, Long)] = cfg.str("Method").toLowerCase match {
      case "unigram" =>
        graft.llm.UnigramTrain.train(frame, src,
            rounds = cfg.int("Rounds").toInt,
            maxWordLen = cfg.int("MaxWordLen").toInt)
          .collect().toSeq.zipWithIndex
          .map { case (r, i) => (i.toLong, r.getString(0), r.getLong(2)) }
      case "bpe" =>
        val (_, hist) = graft.llm.Bpe.train(frame, col(src),
          steps = cfg.int("Steps").toInt)
        hist.map { case (step, pair, cnt) => ((step - 1).toLong, pair, cnt) }
      case "wordpiece" =>
        val (_, hist) = graft.llm.Bpe.trainWordpiece(frame, col(src),
          steps = cfg.int("Steps").toInt)
        hist.map { case (step, pair, cnt) => ((step - 1).toLong, pair, cnt) }
      case other => throw new IllegalArgumentException(
        s"[tokenizer] Method must be unigram, bpe or wordpiece: '$other'")
    }
    rows.toDF("id", "piece", "cost").coalesce(1)
      .write.mode("overwrite").parquet(cfg.str("VocabPath"))
    // portable export (the interop seam): the SAME trained vocabulary as
    // a HuggingFace tokenizer.json, so the ids this engine packs into
    // trainer shards are loadable by a tokenizers-based stack
    for (ep <- cfg.strOpt("ExportPath")) {
      val conf = ctx.spark.sessionState.newHadoopConf()
      cfg.str("Method").toLowerCase match {
        case "unigram" =>
          graft.llm.HfTokenizer.exportUnigram(ep,
            rows.map { case (_, p, c) => (p, c.toInt) }, unkId = None,
            conf = conf)
        case "bpe" =>
          // the OPERAND CLOSURE (surfaces in rule order — first rule wins
          // on duplicate products, the native map's own resolution — then
          // every base symbol no rule produces): the real tokenizers
          // library refuses a BPE file whose merges reference symbols
          // absent from the vocab, so the export must ship the alphabet
          // too. Surfaces keep their rule-index positions (id-compatible
          // with the native sidecar's rule-index ids); base symbols take
          // the ids after them — a re-import therefore maps base chars to
          // those ids where the SIDECAR path maps them to UnkId (the file
          // states strictly more than the sidecar does).
          val merges = parseMerges(rows.map { case (_, p, c) => (p, c) })
          graft.llm.HfTokenizer.exportBpe(ep,
            vocab = graft.llm.HfTokenizer.operandClosure(merges).zipWithIndex,
            merges = merges, byteLevel = false, conf = conf)
        case "wordpiece" =>
          // the BERT decode: each rule's surface is a word-start piece
          // and "##"+surface a continuation, BOTH at the rule's id
          // (first rule wins on duplicate surfaces — the decode's own
          // determinism)
          val surfaces = parseMerges(rows.map { case (_, p, c) => (p, c) })
            .map { case (a, b) =>
              (a + b).replace(graft.llm.Bpe.Open, "")
                .replace(graft.llm.Bpe.Close, "")
            }
          val seen = scala.collection.mutable.Set.empty[String]
          val vocab = surfaces.zipWithIndex.flatMap { case (s, i) =>
            if (seen.add(s)) Seq((s, i), ("##" + s, i)) else Nil
          }
          // export the bound the SIDECAR encode applies by default, so a
          // re-import of this file encodes bit-equal to the native path
          // at every word length (the file's bound is the import's bound)
          graft.llm.HfTokenizer.exportWordPiece(ep, vocab,
            maxWordLen = 10, conf = conf)
      }
    }
  }

  /** Merge-rule sidecar rows as (left, right) symbol pairs. */
  private def parseMerges(vocab: Seq[(String, Long)]): Seq[(String, String)] =
    vocab.map(_._1).map { m =>
      val p = m.split(" ", 2)
      require(p.length == 2 && p.forall(_.nonEmpty),
        s"TokenizeIds: bad merge rule '$m' in sidecar (want \"left right\")")
      (p(0), p(1))
    }

  /** Sidecar rows in id order — vocabulary-bounded driver read. */
  private def loadVocab(ctx: TopologyCtx, path: String): Seq[(String, Long)] = {
    val rows = ctx.spark.read.parquet(path).orderBy("id")
      .select(col("piece"), col("cost")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    require(rows.nonEmpty, s"TokenizeIds: empty vocabulary sidecar at $path")
    rows
  }

  private val tokenizeKeys = Seq(
    ConfigKey("SrcField", "field holding the text", required = true),
    ConfigKey("DstField", "field for the comma-joined token ids (PackRows " +
      "and PackedShards fail on an entry that is not an int)", required = true),
    ConfigKey("VocabPath", "vocabulary sidecar written by a [tokenizer] " +
      "train job, OR a HuggingFace tokenizer.json (path ending .json: " +
      "BPE/Unigram/WordPiece import id-for-id — the algorithm and ids " +
      "come from the file, so packed corpora stay id-compatible with " +
      "the model that published the tokenizer)",
      required = true),
    ConfigKey("Method", "unigram | bpe | wordpiece — unigram for a " +
      "unigram-trained sidecar; bpe applies ANY merge-rule sidecar (bpe- " +
      "or wordpiece-trained: both persist \"left right\" rules in learned " +
      "order) by replaying merges; wordpiece decodes a merge-rule sidecar " +
      "the BERT way — greedy longest-match over the merged symbols' " +
      "surfaces (word-start and ## continuation forms), whole word → " +
      "UnkId when no piece matches", default = Some("unigram")),
    ConfigKey("CountField", "optional field for the token count"),
    ConfigKey("MaxWordLen", "word-length bound: the unigram Viterbi bound " +
      "(match training) and the wordpiece whole-word UNK gate. The " +
      "default 10 applies to SIDECAR vocabularies only; a .json " +
      "VocabPath defaults to the FILE's own bound " +
      "(max_input_chars_per_word for WordPiece, HF default 100; unigram " +
      "files carry none, so 63 - the engine's Viterbi packing ceiling). " +
      "An explicit key always wins.",
      default = Some("10")),
    ConfigKey("UnkId", "id for out-of-vocabulary pieces; for a .json " +
      "VocabPath an explicit key wins over the file's own unk " +
      "(unk_token / unk_id), which wins over -1", default = Some("-1")))

  /** TokenizeIds — text → token ids under a PERSISTED vocabulary.
    * unigram: Viterbi pieces under the sidecar costs, ids by sidecar
    * order (the trainer's UTF-8 piece order). bpe: the sidecar's merge
    * rules applied in learned order, ids = rule index of the merged
    * symbol (base characters that no rule produced map to UnkId).
    * Map-only: the vocabulary rides inside native codegen'd expressions.
    */
  val tokenizeIds: FilterDesc = FilterDesc("TokenizeIds",
    "Tokenizes a text field into comma-joined token ids under a vocabulary " +
      "sidecar persisted by a [tokenizer] train job.",
    tokenizeKeys,
    (ctx, cfg) => df => {
      val src = col(cfg.str("SrcField"))
      val ids: Column =
        if (cfg.str("VocabPath").toLowerCase.endsWith(".json"))
          hfIds(ctx, cfg, src)
        else sidecarIds(ctx, cfg, src, resolveUnkId(cfg, None))
      cfg.strOpt("CountField") match {
        case Some(cf) =>
          // one evaluation site for the (expensive) tokenizer: the
          // 1-element explode binds the id array once, both fields read it
          df.withColumn("__tk", explode(array(ids)))
            .withColumn(cfg.str("DstField"), IdField.join(col("__tk")))
            .withColumn(cf, size(col("__tk")).cast("string"))
            .drop("__tk")
        case None =>
          df.withColumn(cfg.str("DstField"), IdField.join(ids))
      }
    })

  /** The unk-id precedence EVERY import/encode path shares (one helper,
    * one rule): an explicit config `UnkId` wins; otherwise the FILE's own
    * unk (unk_token / unk_id); otherwise −1. Sidecar paths have no file
    * unk and pass None.
    */
  private[topology] def resolveUnkId(cfg: ComponentConfig,
      fileUnk: Option[Int]): Int =
    if (cfg.has("UnkId")) cfg.int("UnkId").toInt
    else fileUnk.getOrElse(-1)

  /** Companion to [[resolveUnkId]] for surface-collapsing encoders
    * (WordPiece): BERT semantics collapse an unsplittable word to the unk
    * SURFACE, which is itself in the vocab — its position would map to
    * the FILE's id and an explicit UnkId config key would silently never
    * apply. When a config key overrides, remap the unk surface's position
    * to the −1 sentinel so the explicit-id map applies the configured id.
    */
  private def remapUnkSurface(cfg: ComponentConfig, pos: Column,
      unkPos: Int): Column =
    if (cfg.has("UnkId") && unkPos >= 0)
      transform(pos, p => when(p === unkPos, lit(-1)).otherwise(p))
    else pos

  /** Word-length bound for a .json import: an explicit MaxWordLen key
    * wins; otherwise the FILE's own bound — the publishing stack's
    * semantics, never the engine's sidecar default of 10 (a real BERT
    * file bounds at max_input_chars_per_word = 100; unigram files carry
    * no bound at all, so the default is 63, the Viterbi packed
    * (cost, piece-count) ceiling — see
    * [[graft.functions.UnigramViterbiPieces]]).
    */
  private def importWordLen(cfg: ComponentConfig, fileBound: Int): Int =
    if (cfg.has("MaxWordLen")) cfg.int("MaxWordLen").toInt else fileBound

  /** text → ids under a HuggingFace tokenizer.json VocabPath
    * ([[graft.llm.HfTokenizer]]): the algorithm comes from the FILE's
    * `model.type` (an explicit Method key must agree — a file/config
    * mismatch is a misconfiguration, not a tie-break), the text-transform
    * chain from its normalizer/pre_tokenizer/post_processor nodes
    * ([[graft.llm.HfEncode]] — BERT chain, Metaspace in both published
    * spellings, byte-level, whitespace; anything else refused loudly at
    * load), and ids are the file's explicit ids — so a corpus packed here
    * is id-compatible with the model that published the tokenizer.
    */
  private def hfIds(ctx: TopologyCtx, cfg: ComponentConfig,
      src: Column): Column = {
    val path = cfg.str("VocabPath")
    val conf = ctx.spark.sessionState.newHadoopConf()
    val loaded = graft.llm.HfTokenizer.load(path, conf)
    val scheme = loaded.scheme
    val words = graft.llm.HfEncode.words(src, scheme)
    def checkMethod(want: String): Unit =
      if (cfg.has("Method"))
        require(cfg.str("Method").equalsIgnoreCase(want),
          s"TokenizeIds: Method '${cfg.str("Method")}' does not match " +
            s"the tokenizer.json model.type ($want) at $path")
    val ids: Column = loaded.model match {
      case graft.llm.HfBpeModel(vocab, merges, fileUnk, byteFb, fuseUnk) =>
        checkMethod("bpe")
        val enc = graft.llm.Bpe.encodeWordsNative(words, merges)
        // one native walk for the symbols → explicit-ids tail; the
        // composed docSymbols + bpeIds form re-copied the document three
        // times and ran an interpreted per-token lambda (ProfHfKernel)
        graft.llm.HfEncode.bpeIdsOfWords(enc, vocab,
          resolveUnkId(cfg, fileUnk), byteFb, fuseUnk)
      case graft.llm.HfUnigramModel(pieces, fileUnk) =>
        checkMethod("unigram")
        val pcs = GraftShims.toColumn(graft.functions.UnigramViterbiPieces(
          GraftShims.toExpression(words), pieces,
          importWordLen(cfg, fileBound = 63)))
        // HF unigram ids ARE list positions by definition
        GraftShims.toColumn(graft.functions.VocabIds(
          GraftShims.toExpression(pcs), pieces.map(_._1),
          resolveUnkId(cfg, fileUnk)))
      case graft.llm.HfWordPieceModel(vocab, unkTok, fileUnk, fileMwl) =>
        checkMethod("wordpiece")
        val pieceList = vocab.map(_._1)
        val wp = graft.llm.Wordpiece.encodeWordsCol(words, pieceList,
          unk = unkTok.getOrElse("[UNK]"),
          maxWordLen = importWordLen(cfg, fileBound = fileMwl.getOrElse(100)))
        val pieces = flatten(transform(wp, w => split(w, " ")))
        val pos = GraftShims.toColumn(graft.functions.VocabIds(
          GraftShims.toExpression(pieces), pieceList, -1))
        val posEff = remapUnkSurface(cfg, pos,
          pieceList.indexOf(unkTok.getOrElse("[UNK]")))
        graft.llm.HfEncode.explicitIds(posEff, vocab.map(_._2),
          resolveUnkId(cfg, fileUnk))
    }
    graft.llm.HfEncode.withTemplate(ids, scheme)
  }

  /** text → ids under an engine-private parquet sidecar (the original
    * path; see [[tokenizeIds]] for the Method semantics).
    */
  private def sidecarIds(ctx: TopologyCtx, cfg: ComponentConfig,
      src: Column, unk: Int): Column = {
    val vocab = loadVocab(ctx, cfg.str("VocabPath"))
    cfg.str("Method").toLowerCase match {
          case "unigram" =>
            val trained = vocab.map { case (p, c) => (p, c.toInt) }
            val pcs = GraftShims.toColumn(graft.functions.UnigramViterbiPieces(
              GraftShims.toExpression(TextFunctions.tokens(src)), trained,
              cfg.int("MaxWordLen").toInt))
            GraftShims.toColumn(graft.functions.VocabIds(
              GraftShims.toExpression(pcs), trained.map(_._1), unk))
          case "bpe" =>
            val merges = parseMerges(vocab)
            graft.llm.Bpe.tokenIds(graft.llm.Bpe.encodeText(src, merges),
              merges.map { case (a, b) => a + b }, unk)
          case "wordpiece" =>
            // the BERT-style decode of a merge-rule sidecar: each rule's
            // merged symbol yields its SURFACE (delimiters stripped) as a
            // word-start piece and "##"+surface as a continuation, both
            // carrying the rule's id; the greedy longest-match walk runs
            // in the native WordpieceEncodeWords expression, VocabIds maps
            // pieces back (first rule wins on duplicate surfaces, the
            // walk's own determinism), and piece-list position / 2
            // recovers the rule id. Unsplittable words (or words over
            // MaxWordLen) collapse whole to UnkId — BERT semantics; base
            // characters no rule produced are NOT in the vocabulary, the
            // same contract as Method=bpe's UnkId mapping.
            val surfaces = parseMerges(vocab).map { case (a, b) =>
              (a + b).replace(graft.llm.Bpe.Open, "")
                .replace(graft.llm.Bpe.Close, "")
            }
            val pieceList = surfaces.flatMap(s => Seq(s, "##" + s))
            val words = graft.llm.Wordpiece.encodeWordsCol(
              TextFunctions.tokens(src), pieceList,
              maxWordLen = cfg.int("MaxWordLen").toInt)
            val pieces = flatten(transform(words, w => split(w, " ")))
            val pos = GraftShims.toColumn(graft.functions.VocabIds(
              GraftShims.toExpression(pieces), pieceList, -1))
            transform(pos, i => when(i >= 0, shiftright(i, 1))
              .otherwise(lit(unk)))
          case other => throw new IllegalArgumentException(
            s"TokenizeIds: Method must be unigram, bpe or wordpiece: '$other'")
    }
  }

  private val packKeys = Seq(
    ConfigKey("IdsField", "field holding comma-joined token ids; an entry " +
      "that is not an int fails the job, naming the field", required = true),
    ConfigKey("OrderField", "numeric field giving the deterministic pack order",
      required = true),
    ConfigKey("Budget", "tokens per packed row", default = Some("1024")),
    ConfigKey("Shards", "number of independent pack shards", default = Some("4")),
    ConfigKey("PadId", "padding token id", default = Some("-2")),
    ConfigKey("EosId", "optional end-of-document token id: appended to " +
      "every non-empty document and TRAINED ON (loss_mask 1) — without " +
      "it a packed corpus cannot teach a model where documents end"),
    ConfigKey("BosId", "optional begin-of-document token id: prepended " +
      "input-only (loss_mask 0)"),
    ConfigKey("SepId", "optional SFT turn-separator id written between " +
      "consecutive documents of a sequence (costs one budget slot per " +
      "boundary; carries the preceding document's segment, loss_mask 0)"))

  /** PackRows — greedy no-split packing into fixed-budget training rows.
    * REPLACES the record stream: downstream stages (and [output] fields)
    * see `(shard, seq_id, input_ids, segment_ids, loss_mask, n_real)`,
    * the materialized rows of [[graft.llm.Pack.packTokensGreedy]] with
    * arrays comma-joined into the string record model
    * ([[graft.functions.IdField]]); an IdsField entry that is not an int
    * fails the job rather than packing as a 0. The shard
    * assignment is the standard multiplicative hash of OrderField, so
    * packing is deterministic and partition-independent; the one shuffle
    * is the shard exchange.
    */
  val packRows: FilterDesc = FilterDesc("PackRows",
    "Packs tokenized records into fixed-budget training rows (greedy " +
      "no-split); emits shard, seq_id, input_ids, segment_ids, loss_mask, " +
      "n_real, doc_start.",
    packKeys,
    (_, cfg) => df => {
      val toks = IdField.split(col(cfg.str("IdsField")), cfg.str("IdsField"))
      val ord = col(cfg.str("OrderField")).cast("long")
      val shard = pmod(pmod(ord, lit(2147483647L)) * lit(2654435761L),
        lit(cfg.int("Shards")))
      def idOpt(key: String): Option[Int] =
        if (cfg.has(key)) Some(cfg.int(key).toInt) else None
      graft.llm.Pack.packTokensGreedy(df, ord, toks, IdField.trueMask(toks),
          cfg.int("Budget").toInt, shard,
          cfg.int("PadId").toInt,
          sepId = idOpt("SepId"), eosId = idOpt("EosId"),
          bosId = idOpt("BosId"))
        .select(col("shard"), col("seq_id"),
          IdField.join(col("input_ids")).as("input_ids"),
          IdField.join(col("segment_ids")).as("segment_ids"),
          IdField.joinMask(col("loss_mask")).as("loss_mask"),
          col("n_real"),
          // no-split packing: every sequence starts a document — the
          // doc-index bit PackedShards forwards to the .idx sidecar
          lit("1").as("doc_start"))
    })
}
