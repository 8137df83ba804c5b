package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.functions.{Fernet, TextFunctions => TF}
import graft.llm.{Dedup, Similarity}
import graft.operators.Filters

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator from SURVEY.md §2 (or
  * one of the LLM-pipeline extensions) against the driver-provided parquet
  * tables; [[oracleSql]] carries the DuckDB-equivalent SQL for the
  * hash-compare harness. Column names and order are aligned between both
  * sides; every query has a deterministic ORDER BY (Catalyst's
  * EliminateSorts removes it under Bench's count()).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Graft.table(s, dir, name)

  /** Session-scoped root for the queries that materialize an at-rest
    * store (stream fixtures, serving promotions, topology recipes):
    * everything lands under ONE temp directory that a shutdown hook
    * removes, so a long driver session sweeping the query map repeatedly
    * doesn't accumulate orphaned parquet under /tmp.
    */
  private lazy val qTmpRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-qtmp")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.io.File): Unit = {
        val kids = p.listFiles()
        if (kids != null) kids.foreach(rm)
        p.delete(): Unit
      }
      rm(root.toFile)
    }))
    root
  }

  private def qTmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(qTmpRoot, tag).toString

  /** ONE masked-shard fixture for the shard-lifecycle oracle rows
    * (q_packed_shards_masked, q_packed_reshuffle): documents → word-length
    * tokens + len>3 mask through the concat-chunk packer (budget 512, pad
    * −1, 4 shards) exported with BOTH channels and the real doc index into
    * a single file. One builder, one SQL restatement
    * ([[packedMaskedRebuildCtes]]) — the exact-Jaccard-kernel convention:
    * the variants must agree by construction, not lockstep editing.
    */
  private def writeMaskedPackedShards(s: SparkSession, d: String,
      tag: String): String = {
    val docs = t(s, d, "documents")
    val toks = transform(TF.tokens(col("text")), w => length(w).cast("int"))
    val msk = transform(TF.tokens(col("text")), w => length(w) > 3)
    val shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
      lit(4))
    val packed = graft.llm.Pack.packTokens(docs, col("doc_id"), toks, msk,
      512, shard, padId = -1)
    val dir = qTmpDir(tag)
    graft.sources.PackedCorpus.write(packed, s"$dir/shards",
      idsCol = "input_ids", orderCols = Seq("shard", "seq_id"),
      numTasks = 1, maskCol = Some("loss_mask"),
      segCol = Some("segment_ids"), docStartCol = Some("doc_start"))
    s"$dir/shards"
  }

  /** Shared readback of a shuffled epoch for the reshuffle oracle rows
    * (q_packed_reshuffle and its TOML twin q_topology_reshuffle): one row
    * per reconstructed document group — each row chains its sequences'
    * content hashes IN ORDER, so a group that was split, reordered
    * inside, or lost a channel value produces a different chain; the
    * driver's order-insensitive compare then checks exactly what a
    * permutation must preserve (the multiset of intact groups).
    */
  private def packedEpochGroups(s: SparkSession, epoch: String)
      : org.apache.spark.sql.DataFrame = {
    def joined(c: org.apache.spark.sql.Column) =
      array_join(transform(c, x => x.cast("string")), ",")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("file").orderBy("seq_ix")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    s.read.format("packedcorpus").load(epoch)
      .select(col("file"), col("seq_ix"), col("doc_start"),
        concat_ws("|",
          md5(joined(col("input_ids")).cast("binary")),
          md5(joined(transform(col("loss_mask"), m => m.cast("int")))
            .cast("binary")),
          md5(joined(col("segment_ids")).cast("binary"))).as("sq"))
      .withColumn("grp", sum(col("doc_start").cast("long")).over(w))
      .groupBy("file", "grp")
      .agg(md5(array_join(transform(
          sort_array(collect_list(struct(col("seq_ix"), col("sq")))),
          p => p.getField("sq")), ",").cast("binary")).as("grp_md5"),
        count(lit(1)).as("n_seqs"))
      .select(col("grp_md5"), col("n_seqs"))
      .orderBy("grp_md5")
  }

  /** ONE planted main-content page, shared by q_html_main_text and the
    * WARC pretraining capstone (q_topology_pretrain): each document's
    * prose wrapped in article paragraphs between nav, cookie banner,
    * aside and footer boilerplate. One Column builder, one SQL
    * restatement — the exact-Jaccard-kernel convention.
    */
  private def mainDemoPage(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style>nav{color:#eee}</style></head><body>"),
    lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About us</a> " +
      "<a href=\"/contact\">Contact</a></nav>"),
    lit("<header><h1>Site &amp; Co</h1></header>"),
    lit("<div class=\"cookie\">We use cookies. " +
      "<a href=\"/privacy\">Learn more</a></div>"),
    lit("<article><p>"), substring(text, 1, 200),
    lit("</p><!-- ad slot --><p>"), substring(text, 201, 200),
    lit(" closing words keep this paragraph long enough.</p></article>"),
    lit("<aside><a href=\"/rel1\">Related one</a> " +
      "<a href=\"/rel2\">Related two</a></aside>"),
    lit("<footer>(c) 2026 Example <a href=\"/tos\">Terms</a> " +
      "<a href=\"/priv\">Privacy</a></footer>"),
    lit("</body></html>"))

  /** [[mainDemoPage]]'s DuckDB restatement (feeds [[htmlMainChainSql]]). */
  private val mainDemoPageSql: String =
    """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
                  '</title><style>nav{color:#eee}</style></head><body>' ||
                  '<nav><a href="/">Home</a> <a href="/about">About us</a> ' ||
                  '<a href="/contact">Contact</a></nav>' ||
                  '<header><h1>Site &amp; Co</h1></header>' ||
                  '<div class="cookie">We use cookies. ' ||
                  '<a href="/privacy">Learn more</a></div>' ||
                  '<article><p>' || substr(text, 1, 200) ||
                  '</p><!-- ad slot --><p>' || substr(text, 201, 200) ||
                  ' closing words keep this paragraph long enough.</p></article>' ||
                  '<aside><a href="/rel1">Related one</a> ' ||
                  '<a href="/rel2">Related two</a></aside>' ||
                  '<footer>(c) 2026 Example <a href="/tos">Terms</a> ' ||
                  '<a href="/priv">Privacy</a></footer>' ||
                  '</body></html>'"""

  /** WARC fixture for the pretraining capstone: each non-empty document
    * becomes one ISO 28500 response record whose HTTP body is the
    * [[mainDemoPage]] HTML, written as plain concatenated-record WARC
    * files (the text writer's extra newline between records is legal
    * inter-record padding the reader skips). Content-Length is the
    * BODY'S UTF-8 byte count (octet_length — a char count would corrupt
    * the framing on any multi-byte text).
    */
  private def writeWarcFixture(s: SparkSession, d: String, dir: String): Unit = {
    val docs = t(s, d, "documents").filter(col("text") =!= "")
    val http = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
      mainDemoPage(col("text")))
    val rec = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:doc-"),
      col("doc_id").cast("string"),
      lit(">\r\nWARC-Date: 2026-08-16T00:00:00Z\r\n" +
        "WARC-Target-URI: https://x.test/doc/"),
      col("doc_id").cast("string"),
      lit("\r\nContent-Type: application/http; msgtype=response\r\n" +
        "Content-Length: "),
      octet_length(http).cast("string"),
      lit("\r\n\r\n"), http, lit("\r\n\r\n"))
    // repartition, not coalesce: the driver tables are single-file parquet,
    // so coalesce(2) collapsed to ONE output file and the whole downstream
    // funnel (the reader plans one partition per WARC file) ran on one
    // task. Real crawl segments ship as many files; 4 here keeps the
    // fixture representative without fanning tiny files.
    docs.select(rec.as("value")).repartition(4)
      .write.mode("overwrite").text(dir)
  }

  /** Every overlapping 8-gram of a token-id array as a comma-joined
    * string — the decontamination gram basis shared by the audit
    * (q_packed_decontaminate) and the surgery (q_packed_rtbf).
    */
  private def idGrams8(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(c) >= 8, transform(sequence(lit(0), size(c) - 8),
      i => array_join(transform(slice(c, i + lit(1), lit(8)),
        x => x.cast("string")), ",")))
      .otherwise(array().cast("array<string>"))

  /** The held-out eval set's distinct id-8-grams (docs with
    * doc_id % 97 = 0 AND doc_id < 2000 — a FIXED benchmark suite that
    * does not grow with the corpus, the production decontamination
    * shape), word-length tokens; small by construction, built for
    * broadcast.
    */
  private def evalIdGrams(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .filter(pmod(col("doc_id"), lit(97)) === 0 && col("doc_id") < 2000)
      .select(explode(idGrams8(
        transform(TF.tokens(col("text")), w => length(w).cast("int"))))
        .as("g")).distinct()

  /** ONE train-split shard fixture for the decontamination rows: docs
    * with doc_id % 97 ≠ 0, word-length ids, one sequence per document in
    * doc_id order, single file. Restated by [[packedDeconCtes]].
    */
  private def writeTrainPackedShards(s: SparkSession, d: String,
      tag: String): String = {
    val ids = transform(TF.tokens(col("text")), w => length(w).cast("int"))
    val train = t(s, d, "documents")
      .filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .select(col("doc_id"), ids.as("ids")).filter(size(col("ids")) > 0)
    val dir = qTmpDir(tag)
    graft.sources.PackedCorpus.write(train, s"$dir/shards", idsCol = "ids",
      orderCols = Seq("doc_id"), numTasks = 1)
    s"$dir/shards"
  }

  /** DuckDB restatement of [[writeTrainPackedShards]] + [[evalIdGrams]]:
    * `tr` = the train sequences with their file ordinals, `ev` = the
    * distinct eval 8-grams, `tg` = every train gram position — shared by
    * the audit and surgery oracles.
    */
  private val packedDeconCtes: String =
    """WITH tk AS (
         SELECT doc_id,
                list_transform(ws, w -> CAST(length(w) AS INT)) AS toks,
                CAST(len(ws) AS BIGINT) AS n
         FROM (SELECT doc_id,
                 CASE WHEN text IS NULL OR trim(text) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
               FROM documents)
         WHERE len(ws) > 0),
       tr AS (
         SELECT row_number() OVER (ORDER BY doc_id) - 1 AS seq_ix, toks, n
         FROM tk WHERE doc_id % 97 <> 0),
       ev AS (
         SELECT DISTINCT array_to_string(list_transform(
                  list_slice(toks, i, i + 7),
                  x -> CAST(x AS VARCHAR)), ',') AS g
         FROM (SELECT toks, unnest(range(1, n - 6)) AS i
               FROM tk
               WHERE doc_id % 97 = 0 AND doc_id < 2000 AND n >= 8)),
       tg AS (
         SELECT seq_ix, array_to_string(list_transform(
                  list_slice(toks, i, i + 7),
                  x -> CAST(x AS VARCHAR)), ',') AS g
         FROM (SELECT seq_ix, toks, unnest(range(1, n - 6)) AS i
               FROM tr WHERE n >= 8))"""

  /** DuckDB restatement of [[writeMaskedPackedShards]]'s corpus, shared
    * verbatim by its consumer oracles: concat-chunk rebuild (cumsum
    * starts, cut slices, offset-ordered flatten, indexed-lambda segment
    * ordinals, the doc-start bit = strt landing exactly on the cut), one
    * `fin` row per sequence with the three per-channel content md5s and
    * the doc-start flag, keyed by the original (shard, seq_id) order.
    */
  private val packedMaskedRebuildCtes: String =
    """WITH tk AS (
         SELECT doc_id,
                ((doc_id % 2147483647) * 2654435761) % 4 AS shard,
                list_transform(ws, w -> CAST(length(w) AS INT)) AS toks,
                list_transform(ws, w -> length(w) > 3) AS msk,
                CAST(len(ws) AS BIGINT) AS n
         FROM (SELECT doc_id,
                 CASE WHEN text IS NULL OR trim(text) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
               FROM documents)
         WHERE len(ws) > 0),
       st AS (
         SELECT *, SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n AS strt
         FROM tk),
       pc AS (
         SELECT *, unnest(generate_series(
                     CAST(FLOOR(strt / 512.0) AS BIGINT),
                     CAST(FLOOR((strt + n - 1) / 512.0) AS BIGINT))) AS seq_id
         FROM st),
       pieces AS (
         SELECT shard, seq_id,
                GREATEST(strt - seq_id * 512, 0) AS off,
                (GREATEST(seq_id * 512 - strt, 0) = 0) AS pstart,
                list_slice(toks, GREATEST(seq_id * 512 - strt, 0) + 1,
                  LEAST((seq_id + 1) * 512 - strt, n)) AS ptok,
                list_slice(msk, GREATEST(seq_id * 512 - strt, 0) + 1,
                  LEAST((seq_id + 1) * 512 - strt, n)) AS pmsk
         FROM pc),
       asm AS (
         SELECT shard, seq_id,
                flatten(list(ptok ORDER BY off)) AS ids0,
                flatten(list(pmsk ORDER BY off)) AS mk0,
                flatten(list_transform(list(ptok ORDER BY off),
                  (p, i) -> list_transform(p, x -> CAST(i - 1 AS INT)))) AS sg0,
                bool_or(off = 0 AND pstart) AS ds
         FROM pieces GROUP BY shard, seq_id),
       fin AS (
         SELECT shard, seq_id, ds,
                md5(array_to_string(list_transform(
                  ids0 || list_transform(range(512 - len(ids0)), x -> -1),
                  x -> CAST(x AS VARCHAR)), ',')) AS ids_md5,
                md5(array_to_string(list_transform(
                  mk0 || list_transform(range(512 - len(ids0)), x -> false),
                  x -> CAST(CAST(x AS INT) AS VARCHAR)), ',')) AS msk_md5,
                md5(array_to_string(list_transform(
                  sg0 || list_transform(range(512 - len(ids0)),
                    x -> CAST(-1 AS INT)),
                  x -> CAST(x AS VARCHAR)), ',')) AS seg_md5
         FROM asm)"""

  /** The epoch shuffle's invariant restated over the shared rebuild
    * ([[packedMaskedRebuildCtes]]): a permutation of intact document
    * groups preserves the MULTISET of group-content chains — number
    * groups by the cumulative doc-start count in ORIGINAL order and
    * chain each group's per-sequence content hashes in order; the
    * shuffle itself needs no restating (the compare is
    * order-insensitive, exactly the permutation's degree of freedom).
    * Shared VERBATIM by q_packed_reshuffle (API path) and
    * q_topology_reshuffle (the [reshuffle] TOML section).
    */
  private lazy val packedReshuffleOracle: String =
    s"""$packedMaskedRebuildCtes,
       ord AS (
         SELECT row_number() OVER (ORDER BY shard, seq_id) AS seq_ix,
                SUM(CASE WHEN ds THEN 1 ELSE 0 END)
                  OVER (ORDER BY shard, seq_id
                        ROWS UNBOUNDED PRECEDING) AS grp,
                ids_md5 || '|' || msk_md5 || '|' || seg_md5 AS sq
         FROM fin)
       SELECT md5(string_agg(sq, ',' ORDER BY seq_ix)) AS grp_md5,
              count(*) AS n_seqs
       FROM ord GROUP BY grp ORDER BY grp_md5"""

  /** Deterministic fernet key for the Crypt roundtrip query/tests. */
  val testKey: String = Fernet.keyFromPassphrase("graft-test-key")

  /** q_pdf_text's constant FlateDecode stream, deflated once on the
    * driver. The compressed BYTES may vary across zlib builds; the
    * extracted TEXT (what the oracle checks) never does.
    */
  private lazy val pdfFlateFixture: Array[Byte] = {
    val src = "BT (flate stream text works) Tj ET"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val defl = new java.util.zip.Deflater()
    defl.setInput(src); defl.finish()
    val buf = new Array[Byte](4096)
    val n = defl.deflate(buf)
    defl.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** q_pdf_objstm's constant Flate-compressed /ObjStm container (header
    * "9 0 " → /N 1 /First 4), deflated once on the driver; the oracle
    * checks the extracted TEXT, never the compressed bytes.
    */
  private lazy val pdfObjStmFlateFixture: Array[Byte] = {
    val src = "9 0 BT (objstm flate text) Tj ET"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val defl = new java.util.zip.Deflater()
    defl.setInput(src); defl.finish()
    val buf = new Array[Byte](4096)
    val n = defl.deflate(buf)
    defl.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** q_pdf_objstm's constant /LZWDecode content stream, encoded once on
    * the driver with the literal-code fixture encoder.
    */
  private lazy val pdfLzwFixture: Array[Byte] =
    graft.llm.Pdf.lzwEncodeLiteral("BT (lzw stream text works) Tj ET"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  private def deflateBytes(src: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    defl.setInput(src); defl.finish()
    val buf = new Array[Byte](4096)
    val n = defl.deflate(buf)
    defl.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** q_pdf_chain's constant `[/ASCII85Decode /FlateDecode]` stream:
    * deflate then 85-encode once on the driver; the oracle checks the
    * extracted TEXT, independent of either encoder's byte choices.
    */
  private lazy val pdfChainA85Fixture: Array[Byte] =
    graft.llm.Pdf.ascii85Encode(deflateBytes(
      "BT (a85 flate chain text) Tj ET"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))

  /** q_pdf_chain's constant PNG-predictor'd Flate stream: the 35-byte
    * content Up-filtered at /Columns 7 (5 whole rows), then deflated.
    */
  private lazy val pdfPredictorFixture: Array[Byte] =
    deflateBytes(graft.llm.Pdf.pngPredictUp(
      "BT (png predictor text works) Tj ET"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 7))

  /** q_pdf_chain's constant /RunLengthDecode stream: a literal run, a
    * repeat run ("eee"), a literal tail, EOD.
    */
  private lazy val pdfRleFixture: Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val out = new java.io.ByteArrayOutputStream()
    val head = "BT (rle ".getBytes(ISO_8859_1)
    out.write(head.length - 1); out.write(head)
    out.write(257 - 4); out.write('x') // "xxxx"
    val tail = " text works) Tj ET".getBytes(ISO_8859_1)
    out.write(tail.length - 1); out.write(tail)
    out.write(128)
    out.toByteArray
  }

  /** Shared histogram boundaries for q_hist_quantiles: lineitem prices span
    * ~[900, 105k]; 20 log bins/decade ≈ 12% relative quantile error.
    */
  private val histBounds: Seq[Double] = graft.llm.Sketches.logBounds(2, 6, 20)

  /** Fixed demo BPE merge table for q_bpe_encode — parameters of the query
    * (like q_ann_lsh's hyperplanes), inlined identically on both engines.
    * Well-ordered: every rule's inputs are single characters or outputs of
    * EARLIER rules, so sequential application equals canonical
    * lowest-rank-first BPE (see llm/Bpe.scala).
    */
  private val bpeDemoMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "t" -> "a", "l" -> "e", "ta" -> "b",
    "tab" -> "le", "s" -> "c", "o" -> "r", "e" -> "r", "a" -> "n",
    "s" -> "t", "r" -> "o")

  /** [[bpeDemoMerges]]' operand closure — the q_topology_pretrain export
    * vocabulary (surfaces at their rule-index ids, then the base symbols
    * no rule produces): the smallest vocab the real tokenizers library
    * will load, shared VERBATIM by the oracle's id map.
    */
  private lazy val bpeDemoClosure: Seq[String] =
    graft.llm.HfTokenizer.operandClosure(bpeDemoMerges)

  /** q_tokenize_hf_metaspace's whole-word surfaces — ▁-prefixed pieces at
    * cost 50 in the demo unigram vocab (chars cost 90), so the Viterbi
    * argmin is the LONGEST-▁-whole-prefix rule the oracle replays in
    * closed form.
    */
  private val hfMetaWhole: Seq[String] = Seq("spark", "data", "the", "key",
    "agg", "row", "scan", "slow", "fast", "value", "part", "hash", "merge",
    "batch", "line", "sort", "order", "column", "join", "small", "big",
    "group", "dup")

  /** The full q_tokenize_hf_metaspace piece list IN ID ORDER (HF unigram
    * ids are list positions): unk 0, ▁ 1, the ▁-whole pieces 2…, then
    * a-z and 0-9 — the complete alphabet of the normalized corpus, so no
    * word is ever unsegmentable (the silent-drop path cannot fire).
    */
  private lazy val hfMetaPieces: Seq[(String, Int)] =
    (("<unk>", 0) +: ("▁", 90) +: hfMetaWhole.map(w => ("▁" + w, 50))) ++
      (('a' to 'z') ++ ('0' to '9')).map(c => (c.toString, 90))

  /** q_tokenize_hf_bert's WordPiece vocabulary — EXPLICIT non-contiguous
    * ids (the id map is exercised, not list positions); `##` marks
    * continuations. Deliberately tiny: most corpus words collapse to the
    * whole-word [UNK] id (BERT semantics), while the planted prefix and
    * the common surfaces split.
    */
  private val hfBertVocab: Seq[(String, Int)] = Seq(
    "[UNK]" -> 100, "[CLS]" -> 101, "[SEP]" -> 102,
    "th" -> 3, "##an" -> 7, "the" -> 9, "an" -> 11, "and" -> 13,
    "or" -> 15, "for" -> 17, "caf" -> 31, "##e" -> 19, "##9" -> 37,
    "," -> 23, "." -> 25, "e" -> 27)

  /** q_topology_wordpiece's constant merge table — query parameters
    * inlined identically on both engines (the bpeDemoMerges pattern).
    * Surfaces: th, the, an, and, or, for — so "the"/"an"/"and"/"or"/
    * "for" cover whole and "than" splits th + ##an; most other corpus
    * words collapse to UnkId (BERT whole-word semantics under a tiny
    * vocabulary without base characters).
    */
  private val wpTomlDemoMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "a" -> "n", "an" -> "d", "o" -> "r",
    "f" -> "or")

  /** The [[graft.llm.Multimodal.PhashCos]] fixed-point cosine table as
    * 256 `(k, n, qv)` VALUES literals — the q_multimodal_phash oracle
    * multiplies by EXACTLY the integers the executor does.
    */
  private lazy val phashCosValuesSql: String =
    graft.llm.Multimodal.PhashCos.zipWithIndex.flatMap { case (row, k) =>
      row.zipWithIndex.map { case (qv, n) => s"($k, $n, $qv)" }
    }.mkString(", ")

  /** [[phashCosValuesSql]] regrouped onto the 8×8 TEXT grid: the fixture
    * image is the 8×8 byte grid upsampled 4×4 (nearest neighbor), so the
    * 32-term DCT sums collapse EXACTLY onto 4-column block sums
    * `qs(k, B) = Σ_{n=4B..4B+3} qv(k, n)` — pure integer regrouping,
    * identical output, and the oracle's join shrinks from
    * docs×32×32×8 (≈400 M rows at sf1 — the r18
    * q_dedup_incremental_image DuckDB OOM) to docs×8×8×8.
    */
  private lazy val phashCosBlockValuesSql: String =
    graft.llm.Multimodal.PhashCos.zipWithIndex.flatMap { case (row, k) =>
      (0 until 8).map(b => s"($k, $b, ${row.slice(4 * b, 4 * b + 4).sum})")
    }.mkString(", ")

  /** q_mix_solver's target mixture (basis points, sum 10000) — a QUERY
    * PARAMETER inlined identically on both engines.
    */
  private val mixSolverWeights: Map[String, Int] =
    Map("en" -> 4000, "zh" -> 2000, "de" -> 1500, "es" -> 1500, "fr" -> 1000)

  /** The water-filling fixed point of q_mix_solver unrolled: each round
    * re-tests every still-uncapped source against its proportional share
    * of the remaining budget (integer cross-multiplication — exactly
    * [[graft.llm.Mix.solveMixture]]'s test); n sources need at most n
    * rounds, so the unroll depth equals the weight-table size.
    */
  private def mixSolverOracle: String = {
    val budget = 50000L
    val n = mixSolverWeights.size
    val values = mixSolverWeights.toSeq.sorted
      .map { case (s, w) => s"('$s', $w)" }.mkString(", ")
    def round(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
           SELECT source, wbp, avail, cap,
                  CASE WHEN capped THEN TRUE
                       WHEN (SELECT coalesce(sum(CASE WHEN NOT capped
                                THEN wbp END), 0) FROM $prev) = 0 THEN FALSE
                       ELSE ($budget - (SELECT coalesce(sum(CASE WHEN capped
                                THEN cap END), 0) FROM $prev)) * wbp
                            >= cap * (SELECT sum(CASE WHEN NOT capped
                                THEN wbp END) FROM $prev)
                  END AS capped
           FROM $prev)"""
    val rounds = (1 to n).map(i => round(if (i == 1) "s0" else s"s${i - 1}", s"s$i"))
      .mkString(",\n         ")
    s"""WITH w(source, wbp) AS (VALUES $values),
         a AS MATERIALIZED (
           SELECT lang AS source,
                  CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
                    AS BIGINT) AS avail
           FROM documents WHERE trim(text) <> '' GROUP BY lang
         ), s0 AS MATERIALIZED (
           SELECT w.source, CAST(w.wbp AS BIGINT) AS wbp, a.avail,
                  a.avail * 20000 // 10000 AS cap, FALSE AS capped
           FROM w JOIN a USING (source)
         ),
         $rounds,
         fin AS MATERIALIZED (
           SELECT *,
                  $budget - (SELECT coalesce(sum(CASE WHEN capped THEN cap END), 0)
                             FROM s$n) AS rem,
                  (SELECT coalesce(sum(CASE WHEN NOT capped THEN wbp END), 0)
                   FROM s$n) AS wunc
           FROM s$n
         ), base AS MATERIALIZED (
           SELECT source, avail, capped, wbp,
                  CASE WHEN capped THEN cap
                       WHEN wunc = 0 THEN 0
                       ELSE rem * wbp // wunc END AS t0,
                  CASE WHEN capped THEN CAST(NULL AS BIGINT)
                       ELSE row_number() OVER (PARTITION BY capped
                              ORDER BY wbp DESC, source) END AS rn,
                  rem, wunc
           FROM fin
         ), lf AS (
           SELECT CASE WHEN max(wunc) = 0 THEN 0
                       ELSE max(rem) - coalesce(sum(CASE WHEN NOT capped
                                THEN t0 END), 0) END AS leftover
           FROM base)
         SELECT source, avail AS available,
                CAST(t0 + CASE WHEN NOT capped AND rn <= (SELECT leftover FROM lf)
                          THEN 1 ELSE 0 END AS BIGINT) AS tokens_out,
                CAST(CASE WHEN capped THEN 1 ELSE 0 END AS INTEGER) AS capped
         FROM base ORDER BY source"""
  }

  /** Bpe's reserved symbol delimiters, embedded RAW in the oracle SQL
    * (Verify's JSON dump escapes control chars; DuckDB literals accept
    * them).
    */
  private val bpeO = graft.llm.Bpe.Open
  private val bpeC = graft.llm.Bpe.Close

  /** Threshold-sized merge table for q_bpe_encode_native: 64 digit pairs,
    * enough rules to route [[graft.llm.Bpe.encodeWords]] onto the native
    * expression, none of which can fire on the all-alphabetic fixture
    * corpus (so the oracle states the result as the plain char wrap).
    */
  private val bpeNativeDemoMerges: Seq[(String, String)] =
    (0 until 64).map(i => ((i / 8).toString, (i % 8).toString))

  /** Byte-level (GPT-2-style) demo merge table for q_bpe_byte_level:
    * symbols live in the MAPPED alphabet (Ġ = space), well-ordered, deep
    * enough to chain five levels on common fixture words (" table" →
    * Ġtable in five merges).
    */
  private val byteLevelDemoMerges: Seq[(String, String)] = Seq(
    ("t", "a"), ("ta", "b"), ("Ġ", "tab"), ("l", "e"), ("Ġtab", "le"),
    ("Ġ", "s"), ("Ġ", "a"), ("r", "o"), ("ro", "w"), ("Ġ", "row"))

  /** Full-coverage vocabulary for q_bpe_roundtrip: every printable-ASCII
    * mapped char plus Ġ plus the demo merge outputs — with total symbol
    * coverage the byte-level round trip is exact, and a coverage gap
    * fails loudly (unk id decodes out of range) instead of corrupting.
    */
  private lazy val byteBpeRoundtripVocab: Seq[String] =
    (('!' to '~').map(_.toString) ++ Seq("Ġ") ++
      byteLevelDemoMerges.map { case (a, b) => a + b }).distinct

  /** Demo vocabulary for q_bpe_ids: lowercase letters, Ġ, and the
    * [[byteLevelDemoMerges]] outputs; everything else (digits,
    * punctuation, uppercase) maps to unk — exercising both paths.
    */
  private val byteBpeDemoVocab: Seq[String] =
    "Ġ" +: ('a' to 'z').map(_.toString) :+
      "ta" :+ "tab" :+ "Ġtab" :+ "le" :+ "Ġtable" :+ "Ġs" :+ "Ġa" :+
      "ro" :+ "row" :+ "Ġrow"

  /** Chain [[byteLevelDemoMerges]] as literal replaces — the oracle-side
    * mirror of the byte-level merge loop (same well-ordering argument as
    * [[bpeReplaceChainSql]]).
    */
  private def byteLevelReplaceChainSql(inner: String): String =
    byteLevelDemoMerges.foldLeft(inner) { case (acc, (a, b)) =>
      s"replace($acc, '$bpeO$a$bpeC$bpeO$b$bpeC', '$bpeO$a$b$bpeC')"
    }

  /** The delimiter-wrapped char split of one word, as DuckDB SQL over `w` —
    * mirrors Bpe.wrapChars, including stripping the reserved delimiters
    * from input.
    */
  private val bpeWrapSql: String = bpeWrapSqlOf("w")

  /** [[bpeWrapSql]] over an arbitrary SQL expression instead of `w`. */
  private def bpeWrapSqlOf(v: String): String =
    s"'$bpeO' || array_to_string(list_filter(string_split($v, ''), " +
      s"ch -> ch <> '$bpeO' AND ch <> '$bpeC'), '$bpeC$bpeO') || '$bpeC'"

  /** DuckDB restatement of [[graft.functions.TextFunctions.htmlFragmentText]]
    * over a SQL expression: inline-tag strip, named-entity decode (`&amp;`
    * last), whitespace collapse — the per-block text of the main-content
    * extractor's scoring.
    */
  private def htmlFragmentTextSql(v: String): String =
    "trim(regexp_replace(" +
      "replace(replace(replace(replace(replace(replace(replace(" +
      s"regexp_replace($v, '<[^>]*>', ' ', 'g'), " +
      "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
      "'&#39;', ''''), '&apos;', ''''), '&amp;', '&'), " +
      "'[ \\t\\n\\r\\f]+', ' ', 'g'))"

  /** The main-content extractor's CTE chain over a caller-supplied page
    * expression: `pages(doc_id, page)` → block split at
    * [[graft.functions.TextFunctions.htmlBlockTagPattern]] (injected —
    * one source of truth) → per-block text/link-chars scoring → the
    * two-signal keep gate, ending in `ne(doc_id, j, t, lc, kept)`.
    * Callers append their own aggregation.
    */
  private def htmlMainChainSql(pageSql: String): String =
    """WITH pages AS (
           SELECT doc_id, """ + pageSql + """ AS page
           FROM documents WHERE text <> ''
         ), blk AS (
           SELECT doc_id, j, list_extract(bl, j) AS b
           FROM (
             SELECT doc_id, bl, unnest(generate_series(1, len(bl))) AS j
             FROM (
               SELECT doc_id,
                      string_split(regexp_replace(regexp_replace(regexp_replace(regexp_replace(page,
                        '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
                        '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                        '(?s)<!--.*?-->', ' ', 'g'),
                        '""" + graft.functions.TextFunctions.htmlBlockTagPattern +
      """', chr(1), 'g'), chr(1)) AS bl
               FROM pages))
         ), scored AS (
           SELECT doc_id, j, """ + htmlFragmentTextSql("b") + """ AS t,
                  coalesce(list_sum(list_transform(
                    regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a>', 1),
                    a -> length(""" + htmlFragmentTextSql("a") + """))), 0) AS lc
           FROM blk
         ), ne AS (
           SELECT doc_id, j, t, lc,
                  (length(t) >= 30 AND
                   CAST(lc AS DOUBLE) <= 0.33 * CAST(length(t) AS DOUBLE)) AS kept
           FROM scored WHERE t <> ''
         )"""

  /** Chain [[bpeDemoMerges]] as literal replaces over a SQL expression —
    * the oracle-side mirror of Bpe.applyMerges.
    */
  private def bpeReplaceChainSql(inner: String): String =
    bpeDemoMerges.foldLeft(inner) { case (acc, (a, b)) =>
      s"replace($acc, '$bpeO$a$bpeC$bpeO$b$bpeC', '$bpeO$a$b$bpeC')"
    }

  /** Oracle for q_bpe_train: replay `steps` training iterations as chained
    * CTEs — per step, a pair-count CTE over the previous encoding, a
    * deterministic argmax CTE, and a re-encode CTE whose replace arguments
    * are SCALAR SUBQUERIES of the argmax (the oracle derives each rule
    * itself; nothing learned is inlined). Hash-checks the trained rules AND
    * their counts end-to-end.
    */
  private def bpeTrainOracleSql(steps: Int): String = {
    val head =
      s"""WITH w0 AS (
           SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
           FROM documents WHERE trim(text) <> '' AND doc_id % 2 = 0
         ), e0 AS (
           SELECT $bpeWrapSql AS e
           FROM w0
         )"""
    val stepCtes = (1 to steps).map { i =>
      val prev = s"e${i - 1}"
      s""", p$i AS (
           SELECT list_extract(sym, j) || ' ' || list_extract(sym, j + 1) AS pair,
                  count(*) AS cnt
           FROM (
             SELECT sym, unnest(generate_series(1, len(sym) - 1)) AS j
             FROM (SELECT string_split(substr(e, 2, length(e) - 2), '$bpeC$bpeO') AS sym
                   FROM $prev WHERE length(e) > 2))
           GROUP BY pair
         ), t$i AS (
           SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1
         ), e$i AS (
           SELECT replace(e,
             '$bpeO' || split_part((SELECT pair FROM t$i), ' ', 1) || '$bpeC$bpeO' ||
                    split_part((SELECT pair FROM t$i), ' ', 2) || '$bpeC',
             '$bpeO' || replace((SELECT pair FROM t$i), ' ', '') || '$bpeC') AS e
           FROM $prev
         )"""
    }.mkString
    val union = (1 to steps).map(i => s"SELECT $i AS step, pair, cnt FROM t$i")
      .mkString(" UNION ALL ")
    s"$head$stepCtes SELECT step, pair, cnt FROM ($union) ORDER BY step"
  }

  /** Oracle for q_wordpiece_train — [[bpeTrainOracleSql]] with the
    * LIKELIHOOD-GAIN argmax: per step, pair counts AND symbol counts over
    * the previous encoding, then the winner is the pair no other pair
    * beats under cross-multiplied HUGEINT score comparison
    * (cnt_q·ca_p·cb_p > cnt_p·ca_q·cb_q, ties on the pair string) — an
    * anti-join restatement of the exact rational argmax. CTEs are
    * MATERIALIZED: the anti-join references each scored table twice and
    * DuckDB inlines CTEs by default, which would re-expand the whole
    * chain exponentially.
    *
    * The chain always unrolls all `steps` CTEs; when the corpus exhausts
    * mergeable pairs early, `(SELECT pair FROM tN)` is NULL, the eN
    * chain goes all-NULL, and every later tN is empty — degrading to
    * exactly the early stop `trainWordpiece` takes. That equivalence is
    * load-bearing, so `q_wordpiece_train_tiny` pins it in the oracle
    * gate itself with a corpus that runs dry at step 3 of 4 (`w0Sql`
    * parametrizes the corpus for that row).
    */
  private def wordpieceTrainOracleSql(steps: Int,
      w0Sql: String = """SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           FROM documents WHERE trim(text) <> '' AND doc_id % 2 = 0""")
      : String = {
    val head =
      s"""WITH w0 AS MATERIALIZED (
           $w0Sql
         ), e0 AS MATERIALIZED (
           SELECT $bpeWrapSql AS e
           FROM w0
         )"""
    val stepCtes = (1 to steps).map { i =>
      val prev = s"e${i - 1}"
      s""", p$i AS MATERIALIZED (
           SELECT list_extract(sym, j) || ' ' || list_extract(sym, j + 1) AS pair,
                  count(*) AS cnt
           FROM (
             SELECT sym, unnest(generate_series(1, len(sym) - 1)) AS j
             FROM (SELECT string_split(substr(e, 2, length(e) - 2), '$bpeC$bpeO') AS sym
                   FROM $prev WHERE length(e) > 2))
           GROUP BY pair
         ), y$i AS MATERIALIZED (
           SELECT sym, count(*) AS cnt
           FROM (
             SELECT unnest(string_split(substr(e, 2, length(e) - 2), '$bpeC$bpeO')) AS sym
             FROM $prev WHERE length(e) > 2)
           GROUP BY sym
         ), sc$i AS MATERIALIZED (
           SELECT p.pair, p.cnt,
                  (SELECT y.cnt FROM y$i y
                   WHERE y.sym = split_part(p.pair, ' ', 1)) AS ca,
                  (SELECT y.cnt FROM y$i y
                   WHERE y.sym = split_part(p.pair, ' ', 2)) AS cb
           FROM p$i p
         ), t$i AS MATERIALIZED (
           SELECT pair, cnt FROM sc$i p
           WHERE NOT EXISTS (
             SELECT 1 FROM sc$i q
             WHERE CAST(q.cnt AS HUGEINT) * p.ca * p.cb
                     > CAST(p.cnt AS HUGEINT) * q.ca * q.cb
                OR (CAST(q.cnt AS HUGEINT) * p.ca * p.cb
                      = CAST(p.cnt AS HUGEINT) * q.ca * q.cb
                    AND q.pair < p.pair))
         ), e$i AS MATERIALIZED (
           SELECT replace(e,
             '$bpeO' || split_part((SELECT pair FROM t$i), ' ', 1) || '$bpeC$bpeO' ||
                    split_part((SELECT pair FROM t$i), ' ', 2) || '$bpeC',
             '$bpeO' || replace((SELECT pair FROM t$i), ' ', '') || '$bpeC') AS e
           FROM $prev
         )"""
    }.mkString
    val union = (1 to steps).map(i => s"SELECT $i AS step, pair, cnt FROM t$i")
      .mkString(" UNION ALL ")
    s"$head$stepCtes SELECT CAST(step AS INTEGER) AS step, pair, " +
      s"CAST(cnt AS BIGINT) AS cnt FROM ($union) ORDER BY step"
  }

  /** [[bpeTrainOracleSql]]'s byte-level sibling: the initial encoding is
    * GPT-2 pieces (lookahead-free restatement, valid on single-space
    * text) mapped by the space→Ġ rule (valid on printable ASCII), both
    * preconditions loud; the step CTEs are shared verbatim.
    */
  private def bpeTrainByteOracleSql(steps: Int): String = {
    val head =
      s"""WITH chk AS (
           SELECT CASE WHEN count(*) > 0 THEN error(
                    'byte-train oracle: non-printable-ASCII text - byte map and char split diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE regexp_matches(text, '[^ -~]')
         ), n AS (
           SELECT regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
           FROM documents, chk WHERE chk.ok = 0 AND doc_id % 2 = 0
         ), w0 AS (
           SELECT replace(unnest(regexp_extract_all(t,
                    '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| ')),
                  ' ', 'Ġ') AS w
           FROM n
         ), e0 AS (
           SELECT $bpeWrapSql AS e
           FROM w0
         )"""
    val stepCtes = (1 to steps).map { i =>
      val prev = s"e${i - 1}"
      s""", p$i AS (
           SELECT list_extract(sym, j) || ' ' || list_extract(sym, j + 1) AS pair,
                  count(*) AS cnt
           FROM (
             SELECT sym, unnest(generate_series(1, len(sym) - 1)) AS j
             FROM (SELECT string_split(substr(e, 2, length(e) - 2), '$bpeC$bpeO') AS sym
                   FROM $prev WHERE length(e) > 2))
           GROUP BY pair
         ), t$i AS (
           SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1
         ), e$i AS (
           SELECT replace(e,
             '$bpeO' || split_part((SELECT pair FROM t$i), ' ', 1) || '$bpeC$bpeO' ||
                    split_part((SELECT pair FROM t$i), ' ', 2) || '$bpeC',
             '$bpeO' || replace((SELECT pair FROM t$i), ' ', '') || '$bpeC') AS e
           FROM $prev
         )"""
    }.mkString
    val union = (1 to steps).map(i => s"SELECT $i AS step, pair, cnt FROM t$i")
      .mkString(" UNION ALL ")
    s"$head$stepCtes SELECT step, pair, cnt FROM ($union) ORDER BY step"
  }

  /** DuckDB SQL mirroring histSketch + histQuantile arithmetic exactly:
    * same unrolled boundary-comparison bin index, same cumulative-count
    * bin location (first c>0 bin whose cum crosses q·total), same linear
    * interpolation — so doubles match bit-for-bit before the round(4).
    */
  private def histQuantilesOracle: String = {
    val bs = histBounds
    val nb = bs.size
    val binExpr = bs.map(b => s"(CASE WHEN x >= $b THEN 1 ELSE 0 END)").mkString(" + ")
    val blist = bs.mkString("[", ", ", "]")
    s"""WITH v AS (
          SELECT l_returnflag AS flag, CAST(l_extendedprice AS DOUBLE) AS x
          FROM lineitem
        ), binned AS (
          SELECT flag, $binExpr AS bin FROM v
        ), hist AS (
          SELECT flag, bin, count(*) AS c FROM binned GROUP BY flag, bin
        ), cum AS (
          SELECT flag, bin, c,
                 sum(c) OVER (PARTITION BY flag ORDER BY bin) AS cum,
                 sum(c) OVER (PARTITION BY flag) AS total
          FROM hist
        ), hit AS (
          SELECT flag, qq.q, bin, c, cum - c AS prev, total
          FROM cum, (SELECT unnest([0.5, 0.99]) AS q) qq
          WHERE c > 0 AND cum >= qq.q * total AND (cum - c) < qq.q * total
        ), est AS (
          SELECT flag, q, total,
                 (CASE WHEN bin = 0 THEN ${bs.head} ELSE ($blist)[bin] END)
                 + ((CASE WHEN bin = $nb THEN ${bs.last} ELSE ($blist)[bin + 1] END)
                    - (CASE WHEN bin = 0 THEN ${bs.head} ELSE ($blist)[bin] END))
                   * least((q * total - prev) / c, 1.0) AS v
          FROM hit
        )
        SELECT flag AS l_returnflag,
               CAST(max(total) AS BIGINT) AS total,
               round(max(CASE WHEN q = 0.5 THEN v END), 4) AS p50,
               round(max(CASE WHEN q = 0.99 THEN v END), 4) AS p99
        FROM est GROUP BY flag ORDER BY l_returnflag"""
  }

  /** DuckDB SQL reproducing [[graft.llm.Similarity.lshTopK]] end-to-end:
    * the hyperplane matrix is a pure function of (seed, bit, dim) —
    * [[graft.functions.HyperplaneSigs.mix]] — so the ~1.5k plane weights
    * are inlined as a VALUES table (Double.toString round-trips through
    * DuckDB's literal parser bit-for-bit) and the oracle recomputes the
    * SAME signatures, bucket collisions, rounded cosines, and
    * (cosine DESC, neighbor ASC) top-k ranking. This checks the whole LSH
    * path, not just row counts: bucketing is sign-of-projection, and sign
    * flips would need |projection| at float-sum reassociation scale
    * (~1e-13) — never observed on the test corpus.
    */
  private def annLshOracle: String = {
    val seeds = Seq(42L, 1042L, 2042L)
    val nBits = 8
    val dim = 64
    val rows = for {
      (seed, s) <- seeds.zipWithIndex
      b <- 0 until nBits
      i <- 0 until dim
    } yield s"($s,$b,$i,${graft.functions.HyperplaneSigs.mix(seed + b * 131071L + i)})"
    s"""WITH planes(s, b, i, w) AS (VALUES ${rows.mkString(",")}),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ev AS (SELECT vec_id, t.i, v[t.i + 1] AS x FROM e, range($dim) t(i)),
        proj AS (
          SELECT ev.vec_id, p.s, p.b, sum(p.w * ev.x) AS pr
          FROM ev JOIN planes p ON p.i = ev.i GROUP BY ev.vec_id, p.s, p.b
        ), sig AS (
          SELECT vec_id, s,
                 sum(CASE WHEN pr >= 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sg
          FROM proj GROUP BY vec_id, s
        ), cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM sig q JOIN sig c ON c.s = q.s AND c.sg = q.sg
          WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
        ), scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
          FROM cand JOIN e eq ON eq.vec_id = cand.query_id
                    JOIN e ec ON ec.vec_id = cand.neighbor_id
        ), ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** 24bpp bottom-up BMP header for the aHash fixtures. Row stride must
    * already be 4-aligned (w·3 % 4 == 0 for the planted widths 8 and 16),
    * so the payload is exactly w·3·h gray-triple bytes.
    */
  /** Little-endian fixed-width bytes of an integer column (hex byte
    * swap) — the WAV/BMP/GIF fixture builders' shared primitive.
    */
  private def leBytes(c: org.apache.spark.sql.Column,
      nBytes: Int): org.apache.spark.sql.Column = {
    val h = lpad(hex(c), nBytes * 2, "0")
    unhex(concat((nBytes - 1 to 0 by -1).map(i => substring(h, i * 2 + 1, 2)): _*))
  }

  /** A complete 8 kHz mono 16-bit PCM WAV around `data` of `dataLen`
    * bytes — the audio queries' ONE fixture builder (RIFF/fmt/data
    * headers in column algebra; a header-math fix lands everywhere).
    */
  private def wavFixture(dataLen: org.apache.spark.sql.Column,
      data: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("RIFF".getBytes), leBytes(dataLen + 36, 4), lit("WAVEfmt ".getBytes),
      leBytes(lit(16), 4), leBytes(lit(1), 2), leBytes(lit(1), 2),
      leBytes(lit(8000), 4), leBytes(lit(16000), 4), leBytes(lit(2), 2),
      leBytes(lit(16), 2), lit("data".getBytes), leBytes(dataLen, 4), data)

  // package-visible: the canonical BMP-header builder for every
  // perceptual fixture (queries, ProfTrainScale/ProfVideoCost probes,
  // PerceptualDaemonSpec) — a padding/size change lands everywhere
  private[graft] def bmpHeader(w: Int, h: Int): Array[Byte] = {
    def le32(v: Int) =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    require(w * 3 % 4 == 0, s"bmpHeader: unpadded width only, got $w")
    val size = w * 3 * h
    Array[Byte]('B', 'M') ++ le32(54 + size) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(size) ++ new Array[Byte](16)
  }

  /** Fixed ustar skeleton for q_webdataset: a two-member WebDataset-style
    * archive with CONSTANT names and sizes (`sample.txt`, 64 bytes;
    * `sample.json`, 32 bytes), so every header/padding run is a fixed
    * literal built by the PRODUCTION writer (real octal fields, verified
    * checksums) and the whole shard is column algebra around two text
    * substrings — the container-oracle trick (q_multimodal_mp4) applied
    * to tar. Returns (header1, padding1+header2, padding2+end-of-archive).
    */
  private lazy val tarQueryFixture: (Array[Byte], Array[Byte], Array[Byte]) = {
    def header(name: String, size: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.TarShards.writeEntry(bos, name, new Array[Byte](size))
      bos.toByteArray.take(512)
    }
    (header("sample.txt", 64),
      new Array[Byte](512 - 64) ++ header("sample.json", 32),
      new Array[Byte](512 - 32 + 1024))
  }

  /** Fixed ISO-BMFF skeleton for q_multimodal_mp4: the bytes before and
    * after the 32 media bytes each document supplies. One `mdat` holding
    * four 8-byte video samples in one chunk at offset 24 (uniform `stsz`,
    * no size table), one `vide` track whose `stss` marks samples 1 and 3
    * as keyframes. Every byte here is FIXED, so the whole container is
    * two literals around a substr — column algebra, no UDF.
    */
  private lazy val mp4QueryFixture: (Array[Byte], Array[Byte]) = {
    def be32(v: Int): Array[Byte] = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(typ: String, content: Array[Byte]*): Array[Byte] = {
      val c = content.flatten.toArray
      be32(c.length + 8) ++ typ.getBytes("ISO-8859-1") ++ c
    }
    val ftyp = box("ftyp", "isom".getBytes, be32(0))
    val mdatHeader = be32(8 + 32) ++ "mdat".getBytes
    val stbl = box("stbl",
      box("stsz", be32(0), be32(8), be32(4)),                   // uniform 8-byte samples
      box("stsc", be32(0), be32(1), be32(1), be32(4), be32(1)), // one chunk of 4
      box("stco", be32(0), be32(1), be32(ftyp.length + 8)),     // mdat content offset
      box("stss", be32(0), be32(2), be32(1), be32(3)))          // keyframes 1 and 3
    val moov = box("moov", box("trak", box("mdia",
      box("hdlr", be32(0), be32(0), "vide".getBytes), box("minf", stbl))))
    (ftyp ++ mdatHeader, moov)
  }

  /** Fixed ISO-BMFF skeleton for q_video_neardup: the mp4QueryFixture
    * geometry sized for TWO 246-byte keyframe samples (8×8 24bpp BMPs —
    * 54-byte header + 192 pixel bytes), both marked sync in `stss`. The
    * documents supply only pixel bytes; every container byte is fixed,
    * so the video is column algebra around two BMP bodies.
    */
  // package-visible for the ProfVideoCost attribution probe
  private[graft] lazy val mp4VideoFixture: (Array[Byte], Array[Byte]) = {
    def be32(v: Int): Array[Byte] = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(typ: String, content: Array[Byte]*): Array[Byte] = {
      val c = content.flatten.toArray
      be32(c.length + 8) ++ typ.getBytes("ISO-8859-1") ++ c
    }
    val sampleSize = 54 + 8 * 8 * 3 // one 8×8 24bpp BMP keyframe
    val ftyp = box("ftyp", "isom".getBytes, be32(0))
    val mdatHeader = be32(8 + 2 * sampleSize) ++ "mdat".getBytes
    val stbl = box("stbl",
      box("stsz", be32(0), be32(sampleSize), be32(2)),          // uniform BMP samples
      box("stsc", be32(0), be32(1), be32(1), be32(2), be32(1)), // one chunk of 2
      box("stco", be32(0), be32(1), be32(ftyp.length + 8)),     // mdat content offset
      box("stss", be32(0), be32(2), be32(1), be32(2)))          // both are keyframes
    val moov = box("moov", box("trak", box("mdia",
      box("hdlr", be32(0), be32(0), "vide".getBytes), box("minf", stbl))))
    (ftyp ++ mdatHeader, moov)
  }

  /** Fixed EBML skeleton for q_multimodal_webm: (bytes before the first
    * 8-byte keyframe payload, bytes between the two). One video track,
    * one cluster holding two keyframe-flagged SimpleBlocks of 8 data
    * bytes each; Segment and Cluster use the UNKNOWN-size encoding
    * (0xFF — the streamed-mux form), so no enclosing length depends on
    * anything and the whole container is literals around substrings.
    */
  private lazy val webmQueryFixture: (Array[Byte], Array[Byte]) = {
    def bs(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def el(eid: Array[Byte], content: Array[Byte]*): Array[Byte] = {
      val c = content.flatten.toArray
      eid ++ bs(0x40 | (c.length >> 8), c.length & 0xFF) ++ c
    }
    val header = el(bs(0x1A, 0x45, 0xDF, 0xA3))
    val tracks = el(bs(0x16, 0x54, 0xAE, 0x6B),
      el(bs(0xAE), el(bs(0xD7), bs(1)), el(bs(0x83), bs(1))))
    val ts = el(bs(0xE7), bs(0))
    // SimpleBlock of 12 content bytes: track varint, 2-byte timestamp,
    // keyframe flags, then the 8 payload bytes the document supplies
    val sbHdr = bs(0xA3, 0x40, 12, 0x80 | 1, 0, 0, 0x80)
    val pre = header ++ bs(0x18, 0x53, 0x80, 0x67, 0xFF) ++ tracks ++
      bs(0x1F, 0x43, 0xB6, 0x75, 0xFF) ++ ts ++ sbHdr
    (pre, sbHdr)
  }

  /** Fixed FRAGMENTED-MP4 prefix for q_multimodal_fmp4: ftyp + moov (video
    * track 1, mvex/trex defaulting samples to non-sync) + one moof whose
    * trun declares two 8-byte SYNC samples at default-base-is-moof
    * addressing + the mdat header. The 16 media bytes the document
    * supplies are the last bytes of the payload, so the whole container
    * is one literal prefix.
    */
  private lazy val fmp4QueryFixture: Array[Byte] = {
    def be32(v: Int): Array[Byte] = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(typ: String, content: Array[Byte]*): Array[Byte] = {
      val c = content.flatten.toArray
      be32(c.length + 8) ++ typ.getBytes("ISO-8859-1") ++ c
    }
    val ftyp = box("ftyp", "isom".getBytes, be32(0))
    val moov = box("moov",
      box("trak",
        box("tkhd", be32(0), be32(0), be32(0), be32(1)),
        box("mdia", box("hdlr", be32(0), be32(0), "vide".getBytes))),
      box("mvex", box("trex",
        be32(0), be32(1), be32(1), be32(0), be32(0), be32(0x10000))))
    def moofFor(off: Int): Array[Byte] = box("moof",
      box("mfhd", be32(0), be32(1)),
      box("traf",
        box("tfhd", be32(0x020000), be32(1)),
        // trun: data-offset + per-sample size + per-sample flags (0x601),
        // two 8-byte samples, both sync (flags 0)
        box("trun", be32(0x601), be32(2), be32(off),
          be32(8), be32(0), be32(8), be32(0))))
    val moofLen = moofFor(0).length // length independent of the offset value
    ftyp ++ moov ++ moofFor(moofLen + 8) ++ (be32(8 + 16) ++ "mdat".getBytes)
  }

  /** Fixed PQ model shared by q_pq_encode / q_ann_pq and their oracles —
    * a query parameter like q_ann_lsh's hyperplanes (oracle strategy 2):
    * every centroid weight is a pure function of (seed, flat index), so
    * the oracle inlines the identical codebook as a VALUES table and
    * recomputes encode and ADC verbatim. Trained-codebook behavior is
    * PqSpec's job.
    */
  private lazy val pqDemoModel =
    graft.llm.Pq.deterministicModel(m = 4, ksub = 8, dsub = 16, seed = 7L, scale = 0.125)

  /** The codebook as SQL VALUES rows (j, c, i, w) — `Double.toString`
    * round-trips bit-for-bit through DuckDB's literal parser.
    */
  private def pqCbValues: String = {
    val mo = pqDemoModel
    (for {
      j <- 0 until mo.m
      c <- 0 until mo.ksub
      i <- 0 until mo.dsub
    } yield s"($j,$c,$i,${mo.codebooks((j * mo.ksub + c) * mo.dsub + i)})").mkString(",")
  }

  /** Deterministic coarse centroids for q_ann_ivfpq (same VALUES-table
    * oracle strategy as the PQ codebook; nlist=8 cells over dim 64).
    */
  private lazy val ivfPqCoarse =
    graft.llm.IvfPq.deterministicCoarse(nlist = 8, dim = 64, seed = 11L, scale = 0.125)

  private def ivfPqCoarseValues: String =
    (for { c <- ivfPqCoarse.indices; i <- ivfPqCoarse(c).indices }
      yield s"($c,$i,${ivfPqCoarse(c)(i)})").mkString(",")

  /** Fixed query batch for q_bm25 — literal strings over the synthetic
    * corpus vocabulary, inlined as a VALUES table on the oracle side so
    * both engines rank the identical retrieval problem.
    */
  private val bm25DemoQueries: Seq[(Long, String)] = Seq(
    1L -> "spark window agg",
    2L -> "fast scan filter table",
    3L -> "customer query join stream")

  private def bm25QueryValues: String =
    bm25DemoQueries.map { case (id, s) => s"($id,'$s')" }.mkString(",")

  /** DuckDB restatement of BM25 end to end: whitespace tokenize, postings
    * (tf, dl), n_docs/avgdl (avg of an exact integer sum — bit-identical
    * across engines), Lucene idf, contribution sum rounded to 6 decimals
    * BEFORE the (score DESC, doc ASC) ranking so float reassociation can't
    * flip an order. Same op sequence as [[graft.llm.Lexical.bm25Search]].
    */
  /** Fixed WordPiece demo vocabulary (strategy 2 — a query parameter the
    * oracle inlines): whole-word pieces for most of the synthetic
    * vocabulary, split pieces for the rest (customer → cust + ##omer,
    * window → wind + ##ow, …), and full a–z single-letter start and
    * continuation pieces so greedy always has a fallback (UNK behavior is
    * WordpieceSpec's job).
    */
  private val wpDemoVocab: Seq[String] = {
    val whole = Seq("spark", "data", "the", "a", "key", "agg", "row", "scan",
      "slow", "fast", "value", "part", "hash", "merge", "batch", "line",
      "sort", "order", "column", "join", "small", "big", "group", "dup")
    val split = Seq("cust", "##omer", "wind", "##ow", "str", "##eam",
      "quer", "##y", "tab", "##le", "fil", "##ter", "vec", "##tor")
    val letters = ('a' to 'z').flatMap(c => Seq(c.toString, "##" + c))
    (whole ++ split ++ letters).distinct
  }

  /** DuckDB restatement of greedy longest-match-first WordPiece: the
    * sequential per-word cursor loop is UNROLLED into `steps` chained CTE
    * pairs (match: a scalar `max_by(surface, length)` subquery over the
    * inlined vocab, continuations gated on `acc <> ''`; apply: consume the
    * piece or collapse the word to [UNK]) — the bpeTrainOracleSql
    * technique (ORACLES.md strategy 6) applied to a cursor instead of a
    * merge table. Each step consumes ≥ 1 char, so `steps` ≥ the longest
    * corpus word (8 at every SF here) replays the loop exactly.
    */
  /** DuckDB restatement of TokenizeIds Method=wordpiece under the
    * wpTomlDemoMerges sidecar: the greedy cursor loop unrolled like
    * [[wordpieceOracle]], but accumulating RULE IDS — the inlined vocab
    * carries (surface, continuation?, rule id), the longest match at each
    * cursor is unique (matching pieces are prefix-equal, so lengths
    * differ), an unmatched cursor collapses the word to -1 (UnkId), and
    * word id-lists join with ',' into the flat per-doc ids string. Empty
    * documents keep an empty ids. Guard: the unroll (and TokenizeIds'
    * MaxWordLen=10 whole-word gate) is exact only while every corpus word
    * fits 10 chars — error out loudly the moment a fixture outgrows it.
    */
  /** DuckDB restatement of the Metaspace-unigram import: the same
    * canonical normalization as the query's SqlExpr, words as the
    * ▁-stripped token list, and the Viterbi argmin in CLOSED FORM — the
    * fixture vocab prices ▁-whole pieces at 50 and every char (and ▁) at
    * 90, so covering one more char with the whole piece strictly lowers
    * cost: the LONGEST ▁-whole prefix wins and per-char ids cover the
    * rest (unique argmin — one whole piece max per word, costs never
    * tie). Ids are the piece LIST POSITIONS of [[hfMetaPieces]].
    */
  private def hfMetaspaceOracle: String = {
    val wholeVals = hfMetaWhole.zipWithIndex
      .map { case (w, i) => s"('$w', ${i + 2}, ${w.length})" }.mkString(", ")
    val charCase = "CASE ch " + (('a' to 'z').zipWithIndex.map { case (c, i) =>
        s"WHEN '$c' THEN '${25 + i}'" } ++
      ('0' to '9').zipWithIndex.map { case (c, i) =>
        s"WHEN '$c' THEN '${51 + i}'" }).mkString(" ") + " END"
    def rest(off: String) =
      s"array_to_string(list_transform(string_split(substr(word, $off + 1)," +
        s" ''), ch -> $charCase), ',')"
    s"""WITH whole(wsurf, wid, wlen) AS (VALUES $wholeVals),
        tok AS (
          SELECT doc_id,
                 CASE WHEN nrm = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split(nrm, ' ') END AS t
          FROM (SELECT doc_id, trim('thekeys9 ' ||
                         trim(regexp_replace(lower(coalesce(text, '')),
                           '[^a-z0-9]+', ' ', 'g'))) AS nrm
                FROM documents)
        ), w AS (
          SELECT doc_id, i + 1 AS wix, t[i + 1] AS word
          FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM tok)
        ), chk AS (
          -- loud-failure guard: the import applies the file's (absent)
          -- bound up to the 63-code-point Viterbi ceiling; error long
          -- before a fixture word could reach it
          SELECT CASE WHEN max(length(word)) > 40 THEN error(
                   'metaspace oracle: word longer than 40 chars - approaching the 63-code-point Viterbi ceiling, revisit')
                 ELSE 0 END AS ok FROM w
        ), m AS (
          SELECT doc_id, wix, word,
                 (SELECT max(wlen) FROM whole
                  WHERE substr(word, 1, wlen) = wsurf) AS blen,
                 (SELECT max_by(wid, wlen) FROM whole
                  WHERE substr(word, 1, wlen) = wsurf) AS bid
          FROM w, chk WHERE chk.ok = 0
        ), ids AS (
          SELECT doc_id, wix,
                 CASE WHEN blen IS NULL THEN '1,' || ${rest("0")}
                      WHEN blen = length(word) THEN CAST(bid AS VARCHAR)
                      ELSE CAST(bid AS VARCHAR) || ',' || ${rest("blen")}
                 END AS s
          FROM m
        ), agg AS (
          SELECT doc_id, string_agg(s, ',' ORDER BY wix) AS ids
          FROM ids GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(CASE WHEN coalesce(a.ids, '') = '' THEN 0
                    ELSE len(string_split(a.ids, ',')) END AS INT) AS n_ids,
               md5(coalesce(a.ids, '')) AS ids_md5
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        ORDER BY d.doc_id"""
  }

  /** DuckDB restatement of the BERT-format import: the planted prefix
    * normalized by hand ('Éxtra, café9 ' → 'extra, cafe9 ' — the engine
    * must reproduce it through clean/NFD-strip/lowercase for the hash to
    * match), the corpus remainder lowercased (clean/NFD identity on
    * printable ASCII), BERT punctuation isolation as one regex, the
    * greedy longest-match walk unrolled (the wpTomlOracle pattern, ids
    * from the file's explicit map), the FILE's max_input_chars_per_word
    * = 8 restated directly (longer words → the [UNK] id 100), and the
    * [CLS]/[SEP] template wrap.
    */
  private def hfBertOracle: String = {
    val vocabVals = hfBertVocab.map { case (p, id) =>
      if (p.startsWith("##")) s"('${p.drop(2)}', true, $id)"
      else s"('$p', false, $id)"
    }.mkString(", ")
    val steps = 8
    val chain = (1 to steps).map { i =>
      s"""m$i AS (
           SELECT doc_id, wix, rest, acc,
                  CASE WHEN rest = '' THEN NULL ELSE (
                    SELECT max_by(v.id, length(v.surf)) FROM vocab v
                    WHERE v.cont = (acc <> '')
                      AND substr(rest, 1, length(v.surf)) = v.surf
                  ) END AS bid,
                  CASE WHEN rest = '' THEN NULL ELSE (
                    SELECT max(length(v.surf)) FROM vocab v
                    WHERE v.cont = (acc <> '')
                      AND substr(rest, 1, length(v.surf)) = v.surf
                  ) END AS blen
           FROM s${i - 1}
         ), s$i AS (
           SELECT doc_id, wix,
                  CASE WHEN rest = '' THEN ''
                       WHEN bid IS NULL THEN ''
                       ELSE substr(rest, blen + 1) END AS rest,
                  CASE WHEN rest = '' THEN acc
                       WHEN bid IS NULL THEN '100'
                       WHEN acc = '' THEN CAST(bid AS VARCHAR)
                       ELSE acc || ',' || CAST(bid AS VARCHAR) END AS acc
           FROM m$i
         )"""
    }.mkString(", ")
    s"""WITH vocab(surf, cont, id) AS (VALUES $vocabVals),
        nrm AS (
          SELECT doc_id, 'extra, cafe9 ' ||
                 lower(regexp_replace(coalesce(text, ''), '[^ -~]+', ' ',
                   'g')) AS t
          FROM documents
        ), pt AS (
          SELECT doc_id,
                 regexp_replace(t, '([!-/:-@\\[-`{-~])', ' \\1 ', 'g') AS t
          FROM nrm
        ), tok AS (
          SELECT doc_id, regexp_split_to_array(trim(t), '\\s+') AS t FROM pt
        ), w AS (
          SELECT doc_id, i + 1 AS wix, t[i + 1] AS word
          FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM tok)
        ), s0 AS (
          -- the FILE's own bound: words longer than 8 chars collapse
          -- whole to the unk id before any matching
          SELECT doc_id, wix,
                 CASE WHEN length(word) > $steps THEN '' ELSE word END AS rest,
                 CASE WHEN length(word) > $steps THEN '100' ELSE '' END AS acc
          FROM w
        ), $chain, agg AS (
          SELECT doc_id, string_agg(acc, ',' ORDER BY wix) AS ids
          FROM s$steps GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(2 + CASE WHEN coalesce(a.ids, '') = '' THEN 0
                    ELSE len(string_split(a.ids, ',')) END AS INT) AS n_ids,
               md5(CASE WHEN coalesce(a.ids, '') = '' THEN '101,102'
                   ELSE '101,' || a.ids || ',102' END) AS ids_md5
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        ORDER BY d.doc_id"""
  }

  private def wpTomlOracle: String = {
    val vocabVals = wpTomlDemoMerges.zipWithIndex.flatMap { case ((a, b), i) =>
      val surf = a + b
      Seq(s"('$surf',false,$i)", s"('$surf',true,$i)")
    }.mkString(",")
    val steps = 10
    val chain = (1 to steps).map { i =>
      s"""m$i AS (
           SELECT doc_id, w_ix, rest, acc,
                  CASE WHEN rest = '' THEN NULL ELSE (
                    SELECT max_by(v.id, length(v.surf)) FROM vocab v
                    WHERE v.cont = (acc <> '')
                      AND substr(rest, 1, length(v.surf)) = v.surf
                  ) END AS bid,
                  CASE WHEN rest = '' THEN NULL ELSE (
                    SELECT max(length(v.surf)) FROM vocab v
                    WHERE v.cont = (acc <> '')
                      AND substr(rest, 1, length(v.surf)) = v.surf
                  ) END AS blen
           FROM s${i - 1}
         ), s$i AS (
           SELECT doc_id, w_ix,
                  CASE WHEN rest = '' THEN ''
                       WHEN bid IS NULL THEN ''
                       ELSE substr(rest, blen + 1) END AS rest,
                  CASE WHEN rest = '' THEN acc
                       WHEN bid IS NULL THEN '-1'
                       WHEN acc = '' THEN CAST(bid AS VARCHAR)
                       ELSE acc || ',' || CAST(bid AS VARCHAR) END AS acc
           FROM m$i
         )"""
    }.mkString(", ")
    s"""WITH vocab(surf, cont, id) AS (VALUES $vocabVals),
        tok AS (
          SELECT doc_id,
                 CASE WHEN text IS NULL OR trim(text) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
          FROM documents
        ), w AS (
          SELECT doc_id, i + 1 AS w_ix, t[i + 1] AS word
          FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM tok)
        ), chk AS (
          SELECT CASE WHEN max(length(word)) > $steps THEN error(
                   'wordpiece toml oracle: corpus word longer than $steps - re-unroll and revisit the MaxWordLen=10 gate')
                 ELSE 0 END AS ok FROM w
        ), s0 AS (
          SELECT doc_id, w_ix, word AS rest, '' AS acc FROM w
        ), $chain, agg AS (
          SELECT doc_id, string_agg(acc, ',' ORDER BY w_ix) AS ids
          FROM s$steps, chk WHERE chk.ok = 0 GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(a.ids, '') AS ids
        FROM tok d LEFT JOIN agg a ON d.doc_id = a.doc_id
        ORDER BY d.doc_id"""
  }

  private def wordpieceOracle: String = {
    val vocabVals = wpDemoVocab.map { p =>
      if (p.startsWith("##")) s"('${p.drop(2)}',true)" else s"('$p',false)"
    }.mkString(",")
    val steps = 10
    val chain = (1 to steps).map { i =>
      s"""m$i AS (
           SELECT doc_id, w_ix, rest, acc,
                  CASE WHEN rest = '' THEN NULL ELSE (
                    SELECT max_by(v.surf, length(v.surf)) FROM vocab v
                    WHERE v.cont = (acc <> '')
                      AND substr(rest, 1, length(v.surf)) = v.surf
                  ) END AS best
           FROM s${i - 1}
         ), s$i AS (
           SELECT doc_id, w_ix,
                  CASE WHEN rest = '' THEN ''
                       WHEN best IS NULL THEN ''
                       ELSE substr(rest, length(best) + 1) END AS rest,
                  CASE WHEN rest = '' THEN acc
                       WHEN best IS NULL THEN '[UNK]'
                       WHEN acc = '' THEN best
                       ELSE acc || ' ##' || best END AS acc
           FROM m$i
         )"""
    }.mkString(", ")
    s"""WITH vocab(surf, cont) AS (VALUES $vocabVals),
        tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
          FROM documents WHERE trim(text) <> ''
        ), w AS (
          SELECT doc_id, i + 1 AS w_ix, t[i + 1] AS word
          FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM tok)
        ), chk AS (
          -- loud-failure guard: each unrolled step consumes >= 1 char, so
          -- the replay is exact only while every corpus word fits in $steps
          -- steps. The native expression additionally [UNK]s words longer
          -- than maxWordLen=32; this assertion fires long before that gate
          -- is reachable, so a fixture change diverges HERE, not silently.
          SELECT CASE WHEN max(length(word)) > $steps THEN error(
                   'wordpiece oracle: corpus word longer than $steps unrolled steps - re-unroll before the native maxWordLen=32 [UNK] gate matters')
                 ELSE 0 END AS ok FROM w
        ), s0 AS (
          SELECT doc_id, w_ix, word AS rest, '' AS acc FROM w
        ), $chain
        SELECT doc_id, string_agg(acc, ' ' ORDER BY w_ix) AS wp_pieces
        FROM s$steps, chk WHERE chk.ok = 0 GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Fixed unigram-LM demo model (strategy 2): whole corpus words cost
    * 50, split pieces 30, single letters 90 — so Viterbi prefers one
    * whole-word piece, then two sub-pieces (60), and letters only as a
    * fallback. No piece costs 1000 (the unk sentinel contract).
    */
  private val usDemoVocab: Seq[(String, Int)] = {
    val whole = Seq("spark", "data", "the", "key", "agg", "row", "scan",
      "slow", "fast", "value", "part", "hash", "merge", "batch", "line",
      "sort", "order", "column", "join", "small", "big", "group", "dup")
      .map(_ -> 50)
    val sub = Seq("cust", "omer", "wind", "ow", "str", "eam", "quer", "tab",
      "le", "fil", "ter", "vec", "tor").map(_ -> 30)
    val letters = ('a' to 'z').map(c => c.toString -> 90)
    whole ++ sub ++ letters
  }

  /** DuckDB restatement of the Viterbi DP: the per-word forward pass over
    * end positions is UNROLLED into chained CTEs (b1..bN columns, one per
    * position), each a scalar `min()` subquery over the inlined vocab
    * whose prior-cost operand is a CASE over piece length — strategy 6
    * applied to dynamic programming. The lexicographic
    * (cost, piece-count) objective is the packed integer `cost·64 +
    * pieces`, so SQL `min` IS the Viterbi objective. Steps ≥ the longest
    * corpus word (8 at every SF) replay the DP exactly.
    */
  private def unigramSegmentOracle: String = {
    val vocabVals = usDemoVocab
      .map { case (p, c) => s"('$p',${p.length},$c)" }.mkString(",")
    val steps = 10
    val unkComb = 1000L * 64 + 1
    val chain = (1 to steps).map { j =>
      val prior = (1 to j).map(l => s"WHEN $l THEN b${j - l}").mkString(" ")
      s"""u$j AS (
           SELECT *, (
             SELECT min((CASE v.l $prior END) + v.c * 64 + 1)
             FROM vocab v
             WHERE v.l <= $j AND substr(word, $j - v.l + 1, v.l) = v.surf
           ) AS b$j
           FROM u${j - 1}
         )"""
    }.mkString(", ")
    val finCase = (1 to steps).map(j => s"WHEN $j THEN b$j").mkString(" ")
    s"""WITH vocab(surf, l, c) AS (VALUES $vocabVals),
        tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
          FROM documents WHERE trim(text) <> ''
        ), w AS (
          SELECT doc_id, i + 1 AS w_ix, t[i + 1] AS word
          FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM tok)
        ), chk AS (
          -- loud-failure guard (same contract as the wordpiece oracle): the
          -- DP is unrolled to $steps end positions, and the native
          -- expression [UNK]s words longer than maxWordLen=32 — error out
          -- the moment a fixture word outgrows the unroll instead of
          -- silently collapsing it to the unk sentinel.
          SELECT CASE WHEN max(length(word)) > $steps THEN error(
                   'unigram oracle: corpus word longer than $steps unrolled DP positions - re-unroll before the native maxWordLen=32 [UNK] gate matters')
                 ELSE 0 END AS ok FROM w
        ), u0 AS (
          SELECT doc_id, w_ix, word, CAST(0 AS BIGINT) AS b0 FROM w
        ), $chain, fin AS (
          SELECT doc_id,
                 COALESCE(CASE length(word) $finCase ELSE NULL END, $unkComb) AS comb
          FROM u$steps)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(comb // 64) AS BIGINT) AS total_cost,
               CAST(sum(comb % 64) AS BIGINT) AS total_pieces,
               CAST(sum(CASE WHEN comb = $unkComb THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
        FROM fin, chk WHERE chk.ok = 0 GROUP BY doc_id ORDER BY doc_id"""
  }

  /** DuckDB restatement of [[graft.llm.UnigramTrain]] — the ENTIRE
    * two-round Viterbi-EM vocabulary build replayed from corpus words:
    * substring seed counting, bit-length (⌊log2⌋ = `strlen(bin(x))−1`)
    * cost quantization, the forward DP unrolled per end position (the
    * unigramSegmentOracle treatment), the smallest-l BACKTRACE unrolled
    * per step (each step's parent length is a `min(v.l)` scalar subquery
    * under the DP-equality predicate — the native expression's exact tie
    * rule), per-piece use counts, and the count-ordered prune. Two full
    * rounds are chained; every number is an integer.
    */
  private val utSteps = 10 // == train's maxWordLen: longer words are skipped
  private val utMaxPieceLen = 4

  /** The unrolled forward Viterbi DP over a `word` column (one chained
    * MATERIALIZED CTE per end position) against cost table `vtab(p,l,c)`
    * — shared by the training oracle (both rounds) and the
    * train-then-segment capstone.
    */
  private def unigramTrainDpChain(vtab: String, pref: String,
      src: String): String =
    (1 to utSteps).map { j =>
      val prior = (1 to math.min(j, utMaxPieceLen))
        .map(l => s"WHEN $l THEN ${pref}b${j - l}").mkString(" ")
      s"""$pref$j AS MATERIALIZED (
           SELECT *, (
             SELECT min((CASE v.l $prior END) + v.c * 64 + 1)
             FROM $vtab v
             WHERE v.l <= $j AND substr(word, $j - v.l + 1, v.l) = v.p
           ) AS ${pref}b$j
           FROM ${if (j == 1) src else s"$pref${j - 1}"}
         )"""
    }.mkString(", ")

  private def unigramTrainOracleWith(finalSelect: String): String = {
    val steps = utSteps
    val seedTopN = 40
    val pruneTopK = 20
    val scale = 8
    def dp(vtab: String, pref: String, src: String): String =
      unigramTrainDpChain(vtab, pref, src)
    def bt(vtab: String, pref: String, dpLast: String): String = {
      val bcols = (0 to steps).map(x => s"${pref}b$x").mkString(", ")
      val bcase = (0 to steps).map(x => s"WHEN $x THEN ${pref}b$x").mkString(" ")
      val t0 =
        s"""${pref}t0 AS MATERIALIZED (
             SELECT word, freq, $bcols, length(word) AS pos
             FROM $dpLast
             WHERE (CASE length(word) $bcase END) IS NOT NULL
           )"""
      val chain = (1 to steps).map { k =>
        s"""${pref}t$k AS MATERIALIZED (
             SELECT word, freq, $bcols, pos - lch AS pos,
                    substr(word, pos - lch + 1, lch) AS piece
             FROM (
               SELECT word, freq, $bcols, pos, (
                 SELECT min(v.l) FROM $vtab v
                 WHERE v.l <= pos AND substr(word, pos - v.l + 1, v.l) = v.p
                   AND (CASE pos - v.l $bcase END) + v.c * 64 + 1
                       = (CASE pos $bcase END)
               ) AS lch
               FROM ${pref}t${k - 1} WHERE pos > 0
             ) s
           )"""
      }.mkString(", ")
      val pcs = (1 to steps)
        .map(k => s"SELECT freq, piece FROM ${pref}t$k WHERE piece IS NOT NULL")
        .mkString(" UNION ALL ")
      s"$t0, $chain, ${pref}pc AS MATERIALIZED ($pcs)"
    }
    def cntCte(vtab: String, pref: String, dst: String): String =
      s"""$dst AS MATERIALIZED (
           SELECT v.p AS p, CAST(coalesce(sum(pc.freq), 0) AS BIGINT) AS cnt
           FROM $vtab v LEFT JOIN ${pref}pc pc ON pc.piece = v.p
           GROUP BY v.p
         )"""
    def costCte(src: String, dst: String): String =
      s"""$dst AS MATERIALIZED (
           SELECT p, cnt, length(p) AS l,
                  (strlen(bin((SELECT CAST(sum(cnt) AS BIGINT) FROM $src)
                              + (SELECT count(*) FROM $src)))
                   - strlen(bin(cnt + 1))) * $scale + $scale AS c
           FROM $src
         )"""
    s"""WITH tok AS MATERIALIZED (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
          FROM documents WHERE trim(text) <> ''
        ), wr AS MATERIALIZED (
          SELECT t[i + 1] AS word
          FROM (SELECT t, unnest(range(len(t))) AS i FROM tok)
        ), chk AS MATERIALIZED (
          SELECT CASE WHEN max(CASE WHEN strlen(word) <> length(word)
                                THEN 1 ELSE 0 END) = 1 THEN error(
                   'unigram-train oracle: non-ASCII corpus word - char and byte slicing diverge')
                 ELSE 0 END AS ok
          FROM wr
        ), w AS MATERIALIZED (
          SELECT word, CAST(count(*) AS BIGINT) AS freq
          FROM wr, chk
          WHERE chk.ok = 0 AND length(word) BETWEEN 1 AND $steps
          GROUP BY word
        ), sub AS MATERIALIZED (
          SELECT substr(word, i.i + 1, l.l) AS p,
                 CAST(sum(freq) AS BIGINT) AS cnt
          FROM w, (SELECT unnest(range(0, $steps)) AS i) i,
               (SELECT unnest(range(1, ${utMaxPieceLen + 1})) AS l) l
          WHERE i.i < length(word) AND l.l <= length(word) - i.i
          GROUP BY 1
        ), seedm AS MATERIALIZED (
          SELECT p, cnt FROM (
            SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rn
            FROM sub WHERE length(p) >= 2)
          WHERE rn <= $seedTopN
        ), seed AS MATERIALIZED (
          SELECT p, cnt FROM sub WHERE length(p) = 1
          UNION ALL SELECT p, cnt FROM seedm
        ), ${costCte("seed", "v1")},
        a0 AS MATERIALIZED (SELECT word, freq, CAST(0 AS BIGINT) AS ab0 FROM w),
        ${dp("v1", "a", "a0")},
        ${bt("v1", "a", s"a$steps")},
        ${cntCte("v1", "a", "c1")},
        keepm AS MATERIALIZED (
          SELECT p, cnt FROM (
            SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rn
            FROM c1 WHERE length(p) >= 2)
          WHERE rn <= $pruneTopK
        ), v2base AS MATERIALIZED (
          SELECT p, cnt FROM c1 WHERE length(p) = 1
          UNION ALL SELECT p, cnt FROM keepm
        ), ${costCte("v2base", "v2")},
        g0 AS MATERIALIZED (SELECT word, freq, CAST(0 AS BIGINT) AS gb0 FROM w),
        ${dp("v2", "g", "g0")},
        ${bt("v2", "g", s"g$steps")},
        ${cntCte("v2", "g", "c2")}
        $finalSelect"""
  }

  private def unigramTrainOracle: String =
    unigramTrainOracleWith(
      """SELECT v2.p AS piece, c2.cnt AS cnt, CAST(v2.c AS BIGINT) AS cost
        FROM v2 JOIN c2 ON c2.p = v2.p
        ORDER BY piece""")

  /** Oracle for q_unigram_train_segment — the training chain's trained
    * cost table `v2` feeding the unigramSegmentOracle DP over DISTINCT
    * corpus words (joined back to per-doc occurrences), per-doc integer
    * stats under unk sentinel 1000·64+1. A corpus word longer than the
    * 10-position unroll errors loudly (training merely SKIPS such words,
    * but the segment phase must replay them).
    */
  /** The per-doc-word segmentation chain under the TRAINED cost table
    * `v2` (wd → guard → distinct-word DP → per-occurrence packed combs)
    * — shared by the train-then-segment capstone and the fertility
    * report, which differ only in the final aggregation.
    */
  private def unigramSegmentChainSql: String = {
    val steps = 10
    val unkComb = 1000L * 64 + 1
    val bcase = (1 to steps).map(j => s"WHEN $j THEN hb$j").mkString(" ")
    // no overlong-word error guard here: the scorer's contract is to UNK
    // words beyond maxWordLen(=$steps), and the COALESCE below replays
    // exactly that — a length-11+ word falls off the CASE (and its DP
    // columns are irrelevant), landing on the unk sentinel like Spark.
    // Non-ASCII is still guarded by the training chain's chk over ALL
    // corpus words.
    s""", wd AS MATERIALIZED (
          SELECT doc_id, t[i + 1] AS word
          FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM tok)
        ), h0 AS MATERIALIZED (
          SELECT DISTINCT word, CAST(0 AS BIGINT) AS hb0 FROM wd),
        ${unigramTrainDpChain("v2", "h", "h0")},
        fin AS MATERIALIZED (
          SELECT wd.doc_id,
                 COALESCE(CASE length(wd.word) $bcase END, $unkComb) AS comb
          FROM wd JOIN h$steps h ON h.word = wd.word)"""
  }

  private def unigramTrainSegmentOracle: String = {
    val unkComb = 1000L * 64 + 1
    unigramTrainOracleWith(
      s"""$unigramSegmentChainSql
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(comb // 64) AS BIGINT) AS total_cost,
               CAST(sum(comb % 64) AS BIGINT) AS total_pieces,
               CAST(sum(CASE WHEN comb = $unkComb THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
        FROM fin GROUP BY doc_id ORDER BY doc_id""")
  }

  /** Break-chain restatement of the greedy no-split packing recurrence —
    * the oracle tail shared by every packTokensGreedy row. Consumes a CTE
    * `tk(shard, toks, msk, n, rn)` (rn = row_number per shard in pack
    * order, n = len(toks) AFTER any special-token extension, n > 0 rows
    * only) and emits the final packed-row md5 projection.
    *
    * Why not the r15 per-doc recursion: carrying (seq_id, fill) rank to
    * rank recursed to depth = docs-per-shard WITH list columns in
    * flight — wall-infeasible at sf0.1 for q_pack_ids_greedy (SCALE.md
    * round-15 gate, >6 h DuckDB CPU at depth 1,250). Here the greedy
    * recurrence is restated on PREFIX SUMS: with S' = per-shard cumsum of
    * (n + sepCost), a sequence starting at rank i extends exactly to the
    * last rank j with S'(j) ≤ S'(i−1) + budget + sepCost (every doc fits
    * alone — the engine errors otherwise — so j ≥ i always exists), and
    * the per-sequence discount for the missing leading separator cancels
    * into the probe bound `cum − n + budget`. `nxt` is then ONE asof
    * join, and the recursion walks sequence STARTS only — scalar rows,
    * depth = max sequences per shard, no lists in flight. Assembly
    * orders by rank, so no offset arithmetic is needed; with `sepId` each
    * non-first piece prepends the separator carrying the PRECEDING
    * document's segment ordinal and loss_mask false, exactly
    * [[graft.llm.Pack.packTokensGreedy]]'s layout.
    */
  private def greedyPackTailSql(budget: Int, padId: Int,
      sepId: Option[Int] = None, finalSelect: Option[String] = None): String = {
    val sepc = if (sepId.isDefined) 1 else 0
    val sepPiece = sepId.map(s =>
      s"CASE WHEN pidx > 0 THEN [CAST($s AS INT)] ELSE CAST([] AS INT[]) END || ")
      .getOrElse("")
    val sepSeg = sepId.map(_ =>
      "CASE WHEN pidx > 0 THEN [pidx - 1] ELSE CAST([] AS INT[]) END || ")
      .getOrElse("")
    val sepMsk = sepId.map(_ =>
      "CASE WHEN pidx > 0 THEN [false] ELSE CAST([] AS BOOLEAN[]) END || ")
      .getOrElse("")
    s""", st AS (
         SELECT shard, rn, toks, msk, n,
                SUM(n + $sepc) OVER (PARTITION BY shard ORDER BY rn
                  ROWS UNBOUNDED PRECEDING) AS cum
         FROM tk),
       mx AS (SELECT shard, max(rn) AS mrn FROM st GROUP BY shard),
       stx AS (SELECT shard, rn, cum - n + $budget AS xcap FROM st),
       brk AS (
         SELECT a.shard, a.rn, b.rn + 1 AS nxt
         FROM stx a ASOF JOIN st b
           ON a.shard = b.shard AND a.xcap >= b.cum),
       starts AS (
         SELECT shard, CAST(1 AS BIGINT) AS srn, CAST(0 AS BIGINT) AS seq_id
         FROM mx
         UNION ALL
         SELECT s.shard, b.nxt, s.seq_id + 1
         FROM starts s
         JOIN brk b ON b.shard = s.shard AND b.rn = s.srn
         JOIN mx m ON m.shard = s.shard
         WHERE b.nxt <= m.mrn),
       asg AS (
         SELECT a.shard, a.rn, a.toks, a.msk, s.seq_id
         FROM st a ASOF JOIN starts s
           ON a.shard = s.shard AND a.rn >= s.srn),
       p2 AS (
         SELECT shard, seq_id, rn, toks, msk,
                CAST(row_number() OVER (PARTITION BY shard, seq_id
                  ORDER BY rn) - 1 AS INT) AS pidx
         FROM asg),
       asm AS (
         SELECT shard, seq_id,
                flatten(list($sepPiece toks ORDER BY rn)) AS ids0,
                flatten(list($sepMsk msk ORDER BY rn)) AS mk0,
                flatten(list($sepSeg list_transform(toks, x -> pidx)
                  ORDER BY rn)) AS sg0
         FROM p2 GROUP BY shard, seq_id),
       fin AS (
         SELECT shard, seq_id, len(ids0) AS n_real,
                ids0 || list_transform(range($budget - len(ids0)),
                  x -> $padId) AS ids,
                sg0 || list_transform(range($budget - len(ids0)),
                  x -> -1) AS sg,
                mk0 || list_transform(range($budget - len(ids0)),
                  x -> false) AS mk
         FROM asm)
       ${finalSelect.getOrElse("""SELECT shard, seq_id,
              md5(array_to_string(list_transform(ids,
                x -> CAST(x AS VARCHAR)), ',')) AS ids_md5,
              md5(array_to_string(list_transform(sg,
                x -> CAST(x AS VARCHAR)), ',')) AS seg_md5,
              md5(array_to_string(list_transform(mk,
                x -> CAST(CAST(x AS INT) AS VARCHAR)), ',')) AS msk_md5,
              CAST(n_real AS INT) AS n_real
       FROM fin ORDER BY shard, seq_id""")}"""
  }

  /** Oracle for q_pack_ids_unigram — the SentencePiece SFT path replayed
    * end to end: the training chain's trained cost table `v2`, a
    * POSITIONS-TRACKING backtrace (each step also emits the piece's start
    * offset, so pieces order by (word index, start) into the exact
    * sequence the native expression produces), vocabulary ids by sorted
    * rank over `v2`, then the break-chain greedy tail
    * ([[greedyPackTailSql]], budget 1024, pad −2). Words longer than the
    * unroll are SKIPPED on both sides (the trainer's contract), not an
    * error. `eos`/`bos`/`sep` replay PackRows' special tokens on the
    * token arrays before packing (EOS mask true, BOS mask false).
    */
  private def unigramPackOracle: String = unigramPackOracleWith()

  private def unigramPackOracleWith(eos: Option[Int] = None,
      bos: Option[Int] = None, sep: Option[Int] = None): String = {
    val steps = 10
    val bcols = (0 to steps).map(x => s"hb$x").mkString(", ")
    val bcase = (0 to steps).map(x => s"WHEN $x THEN hb$x").mkString(" ")
    val btChain = (1 to steps).map { k =>
      s"""ht$k AS MATERIALIZED (
           SELECT word, $bcols, pos - lch AS pos,
                  substr(word, pos - lch + 1, lch) AS piece,
                  pos - lch + 1 AS pstart
           FROM (
             SELECT word, $bcols, pos, (
               SELECT min(v.l) FROM v2 v
               WHERE v.l <= pos AND substr(word, pos - v.l + 1, v.l) = v.p
                 AND (CASE pos - v.l $bcase END) + v.c * 64 + 1
                     = (CASE pos $bcase END)
             ) AS lch
             FROM ht${k - 1} WHERE pos > 0
           ) s
         )"""
    }.mkString(", ")
    val pcsUnion = (1 to steps)
      .map(k => s"SELECT word, pstart, piece FROM ht$k WHERE piece IS NOT NULL")
      .mkString(" UNION ALL ")
    unigramTrainOracleWith(s"""
      , wd2 AS MATERIALIZED (
        SELECT doc_id, i + 1 AS w_ix, t[i + 1] AS word
        FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM tok)
      ), h0 AS MATERIALIZED (
        SELECT DISTINCT word, CAST(0 AS BIGINT) AS hb0 FROM wd2
        WHERE length(word) BETWEEN 1 AND $steps),
      ${unigramTrainDpChain("v2", "h", "h0")},
      ht0 AS MATERIALIZED (
        SELECT word, $bcols, length(word) AS pos
        FROM h$steps
        WHERE (CASE length(word) $bcase END) IS NOT NULL
      ), $btChain,
      wpcs AS MATERIALIZED ($pcsUnion),
      vmap AS MATERIALIZED (
        SELECT p, row_number() OVER (ORDER BY p) - 1 AS vid FROM v2
      ), wiv AS MATERIALIZED (
        SELECT wpcs.word, wpcs.pstart,
               CAST((SELECT vid FROM vmap WHERE vmap.p = wpcs.piece) AS INT) AS vid
        FROM wpcs
      ), tk AS MATERIALIZED (
        SELECT doc_id,
               ((doc_id % 2147483647) * 2654435761) % 4 AS shard,
               ${bos.map(b => s"[CAST($b AS INT)] || ").getOrElse("")}list(wiv.vid ORDER BY wd2.w_ix, wiv.pstart)${eos.map(e => s" || [CAST($e AS INT)]").getOrElse("")} AS toks,
               ${bos.map(_ => "[false] || ").getOrElse("")}list(true ORDER BY wd2.w_ix, wiv.pstart)${eos.map(_ => " || [true]").getOrElse("")} AS msk,
               CAST(count(*) + ${bos.size + eos.size} AS BIGINT) AS n,
               row_number() OVER (
                 PARTITION BY ((doc_id % 2147483647) * 2654435761) % 4
                 ORDER BY doc_id) AS rn
        FROM wd2 JOIN wiv ON wiv.word = wd2.word
        GROUP BY doc_id
      )${greedyPackTailSql(1024, -2, sep)}""")
      .replaceFirst("WITH tok", "WITH RECURSIVE tok")
  }

  /** Oracle for q_unigram_fertility — the same trained-vocab segmentation
    * chain aggregated per LANGUAGE (the tokenizer-evaluation report).
    */
  private def unigramFertilityOracle: String = {
    val unkComb = 1000L * 64 + 1
    unigramTrainOracleWith(
      s"""$unigramSegmentChainSql
        SELECT dd.lang AS lang,
               CAST(count(DISTINCT f.doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS sum_words,
               CAST(sum(f.comb % 64) AS BIGINT) AS sum_pieces,
               CAST(sum(CASE WHEN f.comb = $unkComb THEN 1 ELSE 0 END)
                 AS BIGINT) AS sum_unk
        FROM fin f JOIN documents dd ON dd.doc_id = f.doc_id
        GROUP BY dd.lang ORDER BY lang""")
  }

  /** DuckDB restatement of MMR diversity re-ranking: candidates and their
    * pairwise rounded cosines as CTEs, then the GREEDY loop unrolled into
    * per-step (value, pick, selected-set) CTE triples — strategy 6 once
    * more, the selection state threading through `sel1..selK`. Every
    * compared number is either a round(·,4) cosine or `0.5·a − 0.5·b` of
    * two such — bit-identical across engines, so the argmax (ties by id)
    * replays exactly.
    */
  private def mmrOracle: String = {
    val steps = (2 to 5).map { j =>
      s"""val$j AS (
           SELECT c.query_id, c.id,
                  0.5 * c.rel - 0.5 * (
                    SELECT max(s.s) FROM sim s JOIN sel${j - 1} p
                      ON p.query_id = s.query_id AND s.idb = p.id
                    WHERE s.query_id = c.query_id AND s.ida = c.id) AS v
           FROM cand c
           WHERE NOT EXISTS (SELECT 1 FROM sel${j - 1} p
                             WHERE p.query_id = c.query_id AND p.id = c.id)
         ), pick$j AS (
           SELECT query_id, id, v,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY v DESC, id) AS pr
           FROM val$j
         ), sel$j AS (
           SELECT * FROM sel${j - 1}
           UNION ALL
           SELECT query_id, id, $j AS rank, v AS mmr FROM pick$j WHERE pr = 1
         )"""
    }.mkString(", ")
    s"""WITH q AS (
          SELECT vec_id AS query_id, embedding FROM embeddings
          WHERE vec_id < 4 AND len(embedding) = 64
        ), scored AS (
          SELECT q.query_id, e.vec_id AS id,
                 round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])), 4) AS rel
          FROM q, embeddings e
          WHERE e.vec_id <> q.query_id AND len(e.embedding) = 64
        ), ranked AS (
          SELECT query_id, id, rel,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY rel DESC, id) AS rk
          FROM scored
        ), cand AS (SELECT query_id, id, rel FROM ranked WHERE rk <= 15),
        sim AS (
          SELECT a.query_id, a.id AS ida, b.id AS idb,
                 round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                              CAST(eb.embedding AS DOUBLE[])), 4) AS s
          FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.id <> b.id
               JOIN embeddings ea ON ea.vec_id = a.id
               JOIN embeddings eb ON eb.vec_id = b.id
        ), sel1 AS (
          SELECT query_id, id, 1 AS rank, rel AS mmr FROM ranked WHERE rk = 1
        ), $steps
        SELECT query_id, CAST(rank AS INTEGER) AS rank, id AS neighbor_id,
               round(mmr, 6) AS mmr
        FROM sel5 ORDER BY query_id, rank"""
  }

  /** The BM25 pipeline as a reusable WITH-body fragment ending in
    * `bm25_ranked` — ONE restatement of the scoring kernel shared by
    * q_bm25 and q_hybrid_rrf (same discipline as int8CodesCte).
    */
  private def bm25RankedCtes: String = bm25RankedCtesFor("documents")

  /** `src` must expose (doc_id, text); the fragment defines `q`, the
    * postings CTEs, and `bm25_ranked`.
    */
  private def bm25RankedCtesFor(src: String): String =
    s"""q(query_id, qtext) AS (VALUES $bm25QueryValues),
        qt AS (
          SELECT query_id, unnest(list_distinct(regexp_split_to_array(trim(qtext), '\\s+'))) AS term
          FROM q WHERE trim(qtext) <> ''
        ), tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
          FROM $src WHERE trim(text) <> ''
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        ), dl AS (
          SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
        ), stats AS (
          SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
        ), dfq AS (
          SELECT t.term, count(*) AS df
          FROM tf t JOIN (SELECT DISTINCT term FROM qt) s ON s.term = t.term
          GROUP BY t.term
        ), bm25_scored AS (
          SELECT qt.query_id, tf.doc_id,
                 round(sum(
                   ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - dfq.df + 0.5) /
                            (CAST(dfq.df AS DOUBLE) + 0.5)) *
                   (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
                   (CAST(tf.tf AS DOUBLE) +
                    1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl))
                 ), 6) AS score
          FROM qt JOIN dfq ON dfq.term = qt.term
                  JOIN tf ON tf.term = qt.term
                  JOIN dl ON dl.doc_id = tf.doc_id, stats
          GROUP BY qt.query_id, tf.doc_id
        ), bm25_ranked AS (
          SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS rank
          FROM bm25_scored)"""

  private def bm25Oracle: String =
    s"""WITH $bm25RankedCtes
        SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
        FROM bm25_ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Exact 2-gram Jaccard ranking over the same query batch, then RRF
    * fusion with the BM25 ranking: both base rankings restated in full,
    * fused as `Σ 1/(60 + rank)` over each ranking's top-10 — Spark's op
    * sequence verbatim (two-term double addition is order-exact; the round
    * to 6 guards the general case).
    */
  /** The 2-gram Jaccard ranking as a WITH-body fragment ending in
    * `jranked`; assumes a `q(query_id, qtext)` CTE is already in scope
    * (shared with the BM25 fragment in q_hybrid_rrf).
    */
  private def jaccardRankedCtes: String =
    """jqt AS (
          SELECT query_id, regexp_split_to_array(trim(qtext), '\s+') AS t
          FROM q WHERE trim(qtext) <> ''
        ), jqs AS (
          SELECT DISTINCT query_id, array_to_string(list_slice(t, i + 1, i + 2), ' ') AS g
          FROM (SELECT query_id, t, unnest(range(len(t) - 1)) AS i FROM jqt)
        ), jqn AS (
          SELECT query_id, count(*) AS nq FROM jqs GROUP BY query_id
        ), jdt AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          FROM documents WHERE trim(text) <> ''
        ), jds AS (
          SELECT DISTINCT doc_id, array_to_string(list_slice(t, i + 1, i + 2), ' ') AS g
          FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM jdt)
        ), jdn AS (
          SELECT doc_id, count(*) AS nd FROM jds GROUP BY doc_id
        ), jinter AS (
          SELECT q.query_id, d.doc_id, count(*) AS inter
          FROM jqs q JOIN jds d ON d.g = q.g GROUP BY q.query_id, d.doc_id
        ), jscored AS (
          SELECT i.query_id, i.doc_id,
                 round(CAST(i.inter AS DOUBLE) / (jdn.nd + jqn.nq - i.inter), 6) AS score
          FROM jinter i JOIN jdn ON jdn.doc_id = i.doc_id
                        JOIN jqn ON jqn.query_id = i.query_id
        ), jranked AS (
          SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS rank
          FROM jscored)"""

  private def jaccardOracle: String =
    s"""WITH q(query_id, qtext) AS (VALUES $bm25QueryValues),
        $jaccardRankedCtes
        SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
        FROM jranked WHERE rank <= 5 ORDER BY query_id, rank"""

  private def splitAssignOracle: String = {
    val th = graft.llm.Mix.splitThresholds(
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    val whens = th.init.map { case (n, h) => s"WHEN b < '$h' THEN '$n'" }.mkString(" ")
    s"""WITH b AS (
          SELECT doc_id, substr(md5('r9|' || CAST(doc_id AS VARCHAR)), 1, 8) AS b
          FROM documents)
        SELECT doc_id, CASE $whens ELSE '${th.last._1}' END AS split
        FROM b ORDER BY doc_id"""
  }

  /** q_split_leakage_safe: the recursive min-label closure (the component
    * label [[graft.llm.Dedup.connectedComponents]] produces) feeds the
    * same md5 CASE as [[splitAssignOracle]] — cluster label for clustered
    * docs, own id for singletons.
    */
  private def splitLeakageOracle: String = {
    val th = graft.llm.Mix.splitThresholds(
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    val whens = th.init.map { case (n, h) => s"WHEN b < '$h' THEN '$n'" }.mkString(" ")
    s"""${exactJaccardPairsCte.replaceFirst("WITH tok", "WITH RECURSIVE tok")},
       e AS (
         SELECT idA AS a, idB AS b FROM j WHERE jac >= 0.7
         UNION
         SELECT idB AS a, idA AS b FROM j WHERE jac >= 0.7
       ), reach AS (
         SELECT a AS id, b AS x FROM e
         UNION
         SELECT r.id, e.b FROM reach r JOIN e ON e.a = r.x
       ), comp AS (
         SELECT d.doc_id,
                least(d.doc_id, coalesce(
                  (SELECT min(x) FROM reach r WHERE r.id = d.doc_id),
                  d.doc_id)) AS c
         FROM documents d
       ), b AS (
         SELECT doc_id, substr(md5('r11|' || CAST(c AS VARCHAR)), 1, 8) AS b
         FROM comp)
       SELECT doc_id, CASE $whens ELSE '${th.last._1}' END AS split
       FROM b ORDER BY doc_id"""
  }

  /** The RAG ingestion funnel end to end: chunk (q_chunk's exact
    * width-16/overlap-4 kernel), exact-dedup chunks (min composite id per
    * distinct chunk text), then BM25 over the SURVIVING chunks — the same
    * ranked fragment as q_bm25 pointed at the derived corpus, so the
    * pipeline's df/avgdl/n_docs reflect post-dedup statistics.
    */
  private def ragPipelineOracle: String =
    s"""WITH dtok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
          FROM documents WHERE trim(text) <> ''
        ), st AS (
          SELECT doc_id, t, len(t) AS n, unnest(range(0, len(t), 12)) AS s
          FROM dtok
        ), ch AS (
          SELECT doc_id, t, n, s FROM st WHERE s = 0 OR n > s + 4
        ), allch AS (
          SELECT doc_id * 100000 + (s // 12) AS cid,
                 array_to_string(list_slice(t, s + 1, LEAST(s + 16, n)), ' ') AS chunk_text
          FROM ch
        ), corpus AS (
          SELECT min(cid) AS doc_id, chunk_text AS text
          FROM allch GROUP BY chunk_text
        ), ${bm25RankedCtesFor("corpus")}
        SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
        FROM bm25_ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  private def hybridRrfOracle: String =
    s"""WITH $bm25RankedCtes,
        $jaccardRankedCtes, fused AS (
          SELECT query_id, doc_id, round(sum(1.0 / (60.0 + rank)), 6) AS score
          FROM (SELECT query_id, doc_id, rank FROM bm25_ranked WHERE rank <= 10
                UNION ALL
                SELECT query_id, doc_id, rank FROM jranked WHERE rank <= 10) u
          GROUP BY query_id, doc_id
        ), franked AS (
          SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS rank
          FROM fused)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
        FROM franked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** DuckDB restatement of the COMPLETE IVF-PQ algorithm under the inlined
    * coarse + product codebooks: squared-L2 cell assignment in the same
    * `dot + (−‖c‖²/2)` score form [[graft.functions.NearestCells.l2]]
    * computes (ties → lower cell), top-nprobe probes per query, residual
    * codes vs the per-cell residual LUTs, ADC, (adc, neighbor) top-k.
    * Because the oracle recomputes the algorithm — not brute force — the
    * APPROXIMATE nprobe < nlist path is what's being checked, pruning
    * included. Residual arithmetic `(v − cc.w) − cb.w` states Spark's op
    * order ([[graft.functions.CellResidual]] then PqEncode/PqLut)
    * verbatim.
    */
  private def annIvfPqOracle: String = {
    val dsub = pqDemoModel.dsub
    s"""WITH cc(c, i, w) AS (VALUES $ivfPqCoarseValues),
        cb(j, c, i, w) AS (VALUES $pqCbValues),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        bias AS (SELECT c, -sum(w * w) / 2.0 AS b FROM cc GROUP BY c),
        score AS (
          SELECT s.vec_id, s.c, s.dot + b.b AS sc
          FROM (SELECT e.vec_id, cc.c, sum(cc.w * v[cc.i + 1]) AS dot
                FROM e, cc GROUP BY e.vec_id, cc.c) s
          JOIN bias b ON b.c = s.c
        ), cell AS (
          SELECT vec_id, c AS cell FROM (
            SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, c) AS rn
            FROM score) WHERE rn = 1
        ), probe AS (
          SELECT vec_id AS query_id, c AS cell FROM (
            SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, c) AS rn
            FROM score WHERE vec_id < 8) WHERE rn <= 2
        ), rdist AS (
          SELECT e.vec_id, cb.j, cb.c,
                 sum(((v[cb.j*$dsub + cb.i + 1] - cc.w) - cb.w)
                   * ((v[cb.j*$dsub + cb.i + 1] - cc.w) - cb.w)) AS dd
          FROM e
          JOIN cell ON cell.vec_id = e.vec_id
          CROSS JOIN cb
          JOIN cc ON cc.c = cell.cell AND cc.i = cb.j*$dsub + cb.i
          GROUP BY e.vec_id, cb.j, cb.c
        ), code AS (
          SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
                   row_number() OVER (PARTITION BY vec_id, j ORDER BY dd, c) AS rn
            FROM rdist) WHERE rn = 1
        ), lut AS (
          SELECT p.query_id, p.cell, cb.j, cb.c,
                 sum(((v[cb.j*$dsub + cb.i + 1] - cc.w) - cb.w)
                   * ((v[cb.j*$dsub + cb.i + 1] - cc.w) - cb.w)) AS dd
          FROM e
          JOIN probe p ON p.query_id = e.vec_id
          CROSS JOIN cb
          JOIN cc ON cc.c = p.cell AND cc.i = cb.j*$dsub + cb.i
          GROUP BY p.query_id, p.cell, cb.j, cb.c
        ), adc AS (
          SELECT l.query_id, k.vec_id AS neighbor_id, round(sum(l.dd), 4) AS adc
          FROM code k
          JOIN cell ce ON ce.vec_id = k.vec_id
          JOIN lut l ON l.cell = ce.cell AND l.j = k.j AND l.c = k.c
          WHERE k.vec_id <> l.query_id
          GROUP BY l.query_id, k.vec_id
        ), ranked AS (
          SELECT query_id, neighbor_id, adc,
                 row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
          FROM adc)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, adc
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** Deterministic OPQ rotation for q_opq_encode: seeded Gram-Schmidt
    * ([[graft.llm.Opq.randomRotation]]) runs in plain Scala at both query-
    * and oracle-build time, so the inlined VALUES matrix is identical to
    * the codegen reference object bit-for-bit.
    */
  private lazy val opqDemoRotation = graft.llm.Opq.randomRotation(64, seed = 17L)

  private def opqRotValues: String =
    (for { i <- 0 until 64; j <- 0 until 64 }
      yield s"($i,$j,${opqDemoRotation(i)(j)})").mkString(",")

  /** DuckDB restatement of rotate-then-PQ-encode: matrix–vector product
    * as a relational sum, then the standard argmin-code CTE over the
    * ROTATED values. Rotated coordinates reassociate at ~1e-15 against
    * Spark's sequential loop — far below any argmin gap (the q_ann_lsh
    * stance).
    */
  private def opqEncodeOracle: String = {
    val dsub = pqDemoModel.dsub
    s"""WITH rot(i, j, w) AS (VALUES $opqRotValues),
        cb(j, c, i, w) AS (VALUES $pqCbValues),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        rv AS (
          SELECT e.vec_id, rot.i, sum(rot.w * v[rot.j + 1]) AS x
          FROM e, rot GROUP BY e.vec_id, rot.i
        ), dist AS (
          SELECT rv.vec_id, cb.j, cb.c,
                 sum((rv.x - cb.w) * (rv.x - cb.w)) AS dd
          FROM rv JOIN cb ON rv.i = cb.j*$dsub + cb.i
          GROUP BY rv.vec_id, cb.j, cb.c
        ), code AS (
          SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
                   row_number() OVER (PARTITION BY vec_id, j ORDER BY dd, c) AS rn
            FROM dist) WHERE rn = 1)
        SELECT vec_id, string_agg(CAST(c AS VARCHAR), ' ' ORDER BY j) AS code_str
        FROM code GROUP BY vec_id ORDER BY vec_id"""
  }

  /** DuckDB restatement of the COMPLETE OPQ search: rotate (matrix–vector
    * product as a relational sum), argmin codes over rotated coords, the
    * query-side LUT from the same rotated distances, ADC, (adc, neighbor)
    * top-k — annPqOracle's shape with `v[…]` replaced by the rotated
    * long-form coordinates.
    */
  private def annOpqOracle: String = {
    val dsub = pqDemoModel.dsub
    s"""WITH rot(i, j, w) AS (VALUES $opqRotValues),
        cb(j, c, i, w) AS (VALUES $pqCbValues),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        rv AS (
          SELECT e.vec_id, rot.i, sum(rot.w * v[rot.j + 1]) AS x
          FROM e, rot GROUP BY e.vec_id, rot.i
        ), dist AS (
          SELECT rv.vec_id, cb.j, cb.c,
                 sum((rv.x - cb.w) * (rv.x - cb.w)) AS dd
          FROM rv JOIN cb ON rv.i = cb.j*$dsub + cb.i
          GROUP BY rv.vec_id, cb.j, cb.c
        ), code AS (
          SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
                   row_number() OVER (PARTITION BY vec_id, j ORDER BY dd, c) AS rn
            FROM dist) WHERE rn = 1
        ), lut AS (
          SELECT vec_id AS query_id, j, c, dd FROM dist WHERE vec_id < 8
        ), adc AS (
          SELECT l.query_id, k.vec_id AS neighbor_id, round(sum(l.dd), 4) AS adc
          FROM code k JOIN lut l ON l.j = k.j AND l.c = k.c
          WHERE k.vec_id <> l.query_id
          GROUP BY l.query_id, k.vec_id
        ), ranked AS (
          SELECT query_id, neighbor_id, adc,
                 row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
          FROM adc)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, adc
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** Shared by q_decontaminate and q_decontaminate_bloom — the Bloom
    * variant's output must EQUAL exact decontamination (no false
    * negatives; false positives verified away), so one ground truth
    * serves both.
    */
  private val decontaminateOracle: String =
    """SELECT doc_id FROM documents
       WHERE ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' '
             LIKE '% fast merge %'
          OR ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' '
             LIKE '% value table %'
          OR ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' '
             LIKE '% window table table %'
       ORDER BY doc_id"""

  /** Shared CTE for the int8 oracles — mirrors Quantize.int8Stats (ranges
    * over dim-64 vectors only) + AffineQuantize (each vector encodes the
    * dims it has, clamped to [−127,127] — a no-op here since corpus
    * values define the ranges). ONE restatement of the quantization
    * kernel: q_int8_encode and q_ann_int8 must agree about it by
    * construction, not by lockstep editing.
    */
  private val int8CodesCte: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ev AS (SELECT vec_id, t.i, v[t.i + 1] AS x, len(v) AS n
                FROM e, range(64) t(i) WHERE t.i < len(v)),
         st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ev WHERE n = 64 GROUP BY i),
         codes AS (
           SELECT ev.vec_id, ev.i,
                  CASE WHEN st.mx = st.mn THEN 0
                       ELSE GREATEST(-127, LEAST(127,
                         CAST(floor((ev.x - st.mn) * 254.0 / (st.mx - st.mn) + 0.5)
                              AS BIGINT) - 127))
                  END AS code
           FROM ev JOIN st ON st.i = ev.i)"""

  /** Shared oracle CTEs: per-(vector, subspace) argmin codes under the
    * inlined codebook — ties break to the lower centroid id on both
    * engines; the 16-term distance sums reassociate at ~1e-15, far below
    * any natural argmin gap (the q_ann_lsh sign-stability stance).
    */
  private def pqCodeCte: String =
    s"""WITH cb(j, c, i, w) AS (VALUES $pqCbValues),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        dist AS (
          SELECT e.vec_id, cb.j, cb.c,
                 sum((v[cb.j*${pqDemoModel.dsub} + cb.i + 1] - cb.w)
                   * (v[cb.j*${pqDemoModel.dsub} + cb.i + 1] - cb.w)) AS dd
          FROM e, cb GROUP BY e.vec_id, cb.j, cb.c
        ), code AS (
          SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
                   row_number() OVER (PARTITION BY vec_id, j ORDER BY dd, c) AS rn
            FROM dist) WHERE rn = 1
        )"""

  private def pqEncodeOracle: String =
    s"""$pqCodeCte
        SELECT vec_id, string_agg(CAST(c AS VARCHAR), ' ' ORDER BY j) AS code_str
        FROM code GROUP BY vec_id ORDER BY vec_id"""

  private def annPqOracle: String =
    s"""$pqCodeCte, lut AS (
          SELECT e.vec_id AS query_id, cb.j, cb.c,
                 sum((v[cb.j*${pqDemoModel.dsub} + cb.i + 1] - cb.w)
                   * (v[cb.j*${pqDemoModel.dsub} + cb.i + 1] - cb.w)) AS dd
          FROM e, cb WHERE e.vec_id < 8 GROUP BY e.vec_id, cb.j, cb.c
        ), adc AS (
          SELECT l.query_id, k.vec_id AS neighbor_id, round(sum(l.dd), 4) AS adc
          FROM code k JOIN lut l ON l.j = k.j AND l.c = k.c
          WHERE k.vec_id <> l.query_id
          GROUP BY l.query_id, k.vec_id
        ), ranked AS (
          SELECT query_id, neighbor_id, adc,
                 row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
          FROM adc)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, adc
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Shared CTE prefix for the exact-verified near-dup oracles: distinct
    * word-3-shingle sets per doc, exact Jaccard over candidate idA < idB
    * pairs — COMPLETE for every pair at jac ≥ 0.7, which is the only
    * region any consumer reads (they all filter `jac >= 0.7`).
    *
    * Break-chain (the r16 gate's long pole): the naive all-pairs form
    * (`sh a JOIN sh b ON a.doc_id < b.doc_id`) burned ~47 min PER ROW at
    * sf0.1 on the three closure oracles. This form generates candidates
    * by PREFIX FILTERING (Chaudhuri/Ganti/Kaushik SSJoin 2006, Bayardo
    * et al. "Scaling Up All Pairs Similarity Search" WWW 2007 — public
    * knowledge): order each doc's shingles by a GLOBAL total order
    * (ascending document frequency, ties by value), keep the first
    * |g| − ⌈0.7·|g|⌉ + 1 as its prefix, and join docs sharing a prefix
    * shingle. PROOF of completeness at threshold t = 7/10: jac ≥ t ⟹
    * |a∩b| ≥ t·|a∪b| ≥ t·|a| ⟹ |a∩b| ≥ ⌈t·|a|⌉ (integer). If no common
    * shingle sat in a's prefix, all of them would sit in a's last
    * ⌈t·|a|⌉ − 1 positions — fewer than |a∩b|, contradiction; so each
    * prefix holds a common shingle, and the GLOBALLY-MINIMAL common
    * shingle c must be in BOTH prefixes (each doc is sorted by the same
    * global order, so any common element at a position ≤ some common
    * element's position includes c's). The join therefore finds every
    * qualifying pair on c — candidates ⊇ {jac ≥ 0.7}, and the exact
    * Jaccard verify keeps the result identical to all-pairs. The prefix
    * length uses pure integer arithmetic (⌈7n/10⌉ = (7n+9)//10) so the
    * cut never drifts on float rounding.
    */
  private val exactJaccardPairsCte: String = exactJaccardPairsCteFor()

  /** Parameterized form: `source` feeds the doc stream, `idExpr` its id
    * (e.g. a VARCHAR cast when the consumer compares ids as strings, the
    * topology record model). ONE restatement of the exact-Jaccard kernel
    * for every verified-dedup oracle — the variants must agree about the
    * tokenizer/shingle/tie rules by construction, not lockstep editing.
    */
  private def exactJaccardPairsCteFor(source: String = "documents",
      idExpr: String = "doc_id"): String =
    // tokenizer mirrors TextFunctions.tokens exactly (trim + split on
    // whitespace RUNS, blank → []): string_split(text, ' ') would emit ''
    // tokens on double spaces and [''] on blank text and silently diverge
    s"""WITH tok AS (
         SELECT $idExpr AS doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
         FROM $source
       ), sh AS (
         SELECT doc_id,
                CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
                     ELSE list_distinct(list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS g
         FROM tok
       ), shx AS (
         SELECT doc_id, unnest(g) AS s FROM sh
       ), shdf AS (
         SELECT s, count(*) AS df FROM shx GROUP BY s
       ), shord AS (
         SELECT x.doc_id, x.s,
                row_number() OVER (PARTITION BY x.doc_id
                                   ORDER BY d.df, x.s) AS rn,
                count(*) OVER (PARTITION BY x.doc_id) AS n
         FROM shx x JOIN shdf d USING (s)
       ), shpref AS (
         SELECT doc_id, s FROM shord
         WHERE rn <= n - (7 * n + 9) // 10 + 1
       ), cand AS (
         SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB
         FROM shpref a JOIN shpref b
           ON a.s = b.s AND a.doc_id < b.doc_id
       ), p AS (
         SELECT c.idA, c.idB,
                len(list_intersect(sa.g, sb.g)) AS inter,
                len(sa.g) AS na, len(sb.g) AS nb
         FROM cand c
         JOIN sh sa ON sa.doc_id = c.idA
         JOIN sh sb ON sb.doc_id = c.idB
       ), j AS (
         SELECT idA, idB,
                CASE WHEN na + nb - inter = 0 THEN 0.0
                     ELSE CAST(inter AS DOUBLE) / (na + nb - inter) END AS jac
         FROM p
       )"""

  /** Quality-score metrics as a reusable CTE (`q`: doc_id, n_chars,
    * quality) mirroring [[graft.functions.TextFunctions.qualityScore]] —
    * shared by the q_quality oracle and the budget-selection oracle.
    */
  private val qualityScoreCte: String =
    """WITH m AS (
         SELECT doc_id, n_chars,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
                END AS n_tok,
                length(text) AS n_ch,
                length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
                  AS n_punct,
                len(list_filter(string_split(text, ' '), x -> x IN (
                  'the','and','of','to','a','in','is','that',
                  'el','la','de','que','y','los','en','un',
                  'le','les','des','une','et',
                  'der','die','das','und','ist','von','ein','mit'))) AS n_stop
         FROM documents),
       q AS (
         SELECT doc_id, n_chars,
                round(least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.4
                  + (CASE WHEN n_tok > 0
                          AND CAST(n_ch - (n_tok - 1) AS DOUBLE) / n_tok BETWEEN 3.0 AND 10.0
                          THEN 1.0 ELSE 0.5 END) * 0.2
                  + greatest(0.0, 1.0 - (CASE WHEN n_ch = 0 THEN 0.0
                       ELSE CAST(n_punct AS DOUBLE) / n_ch END) * 4.0) * 0.2
                  + least((CASE WHEN n_tok = 0 THEN 0.0
                       ELSE CAST(n_stop AS DOUBLE) / n_tok END) * 5.0, 1.0) * 0.2, 4)
                  AS quality
         FROM m)"""

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Bench's store-LIFECYCLE tier: queries whose runtime is dominated by a
    * FIXED job count — at-rest store writes/restarts, RTBF delete+rebuild,
    * serving-layout promotion, full TOML topology compiles with trainer
    * rounds — rather than by corpus volume (measured: 82% of
    * q_dedup_incremental_video is store-lifecycle jobs, 18% decode). That
    * cost amortizes at scale, so Bench reports the two tiers separately.
    *
    * Maintained HERE, next to the query definitions, so adding a
    * store-building query and classifying it is one edit in one file
    * (Bench imports this set; SparkEntrySpec pins that every name exists).
    * Membership rule: a [[qTmpDir]] user belongs here when its fixture /
    * store work dominates its runtime. The one deliberate exception is
    * q_simhash_recall — its qTmpDir holds a one-shot projection cache and
    * the all-radius probe joins dominate — kept in the lifecycle tier
    * anyway because its fixture materialization is still a fixed job
    * count, the tier's actual criterion.
    */
  val lifecycleQueries: Set[String] = Set(
    "q_ann_ivf_serving", "q_ann_ivfpq_serving", "q_ann_pq_stream",
    "q_bm25_rtbf", "q_dedup_incremental_audio", "q_dedup_incremental_image",
    "q_dedup_incremental_substr", "q_dedup_incremental_video",
    "q_packed_decontaminate", "q_packed_reshuffle", "q_packed_rtbf",
    "q_packed_shards", "q_topology_reshuffle",
    "q_packed_shards_masked", "q_packed_shards_u16", "q_sidecar_recipe",
    "q_simhash_recall",
    "q_topology_jsonl", "q_topology_packed", "q_topology_pretrain",
    "q_topology_sft", "q_topology_tokenize",
    "q_topology_wordpiece", "q_topology_webdataset", "q_video_neardup")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- engine-level ops (SURVEY §2.1) ----
    "q_projection" -> ((s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    "q_validation" -> ((s, d) =>
      // per-field regex gate (config.go:474-523): rows failing are dropped
      t(s, d, "orders")
        .filter(col("o_orderstatus").rlike("^[OF]$"))
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")),

    "q_sharding" -> ((s, d) =>
      // hash-shard routing (topology.go:157-184) → repartition + per-shard counts
      t(s, d, "lineitem")
        .repartition(32, pmod(col("l_orderkey"), lit(32)))
        .groupBy(pmod(col("l_orderkey"), lit(32)).as("shard"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("shard")),

    // ---- the 24 filters (SURVEY §2.3) ----
    "q_clause_filter" -> ((s, d) =>
      Filters.Clause("(and (l_returnflag A) (not (l_linestatus O)))")(t(s, d, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
        .orderBy("l_orderkey", "l_linenumber")),

    "q_clear_fields" -> ((s, d) =>
      Filters.ClearFields(Seq("props"))(t(s, d, "events"))
        .select("event_id", "props")
        .orderBy("event_id")),

    "q_concatenate" -> ((s, d) =>
      Filters.Concatenate(Seq("l_returnflag", "l_linestatus"), "rf_ls", "-")(t(s, d, "lineitem"))
        .select("l_orderkey", "l_linenumber", "rf_ls")
        .orderBy("l_orderkey", "l_linenumber")),

    "q_count_and_tag" -> ((s, d) =>
      Filters.CountAndTag("event_type", "evt").tagCounts(t(s, d, "events"))
        .orderBy("tag")),

    "q_crypt" -> ((s, d) => {
      val enc = Fernet.encryptCol(testKey)
      val dec = Fernet.decryptCol(testKey)
      t(s, d, "documents")
        .withColumn("text", dec(enc(col("text"))))
        .select("doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_dedup" -> ((s, d) =>
      Filters.Dedup(Seq("l_returnflag", "l_linestatus"))(t(s, d, "lineitem"))
        .select("l_returnflag", "l_linestatus")
        .orderBy("l_returnflag", "l_linestatus")),

    "q_expand_json" -> ((s, d) => {
      // two extractions: the plain dotted path stays on the codegen'd
      // get_json_object fast path; the second column is built JSON probed
      // with the wider JMESPath grammar (slice → pipe → join(), negative
      // index) through the Jackson walker — both stated exactly in SQL
      val ev = t(s, d, "events")
        .withColumn("j2",
          to_json(struct(array(col("event_type"), col("user_id").cast("string")).as("tags"))))
        // array-of-objects document for the filter-expression grammar:
        // [{"t": event_type, "n": user_id}, {"t": "click", "n": -1}]
        .withColumn("j3", to_json(struct(array(
          struct(col("event_type").as("t"), col("user_id").as("n")),
          struct(lit("click").as("t"), lit(-1L).as("n"))).as("items"))))
      Filters.ExpandJSON("j2", Map(
        "tags[0:2] | join('-', [*])" -> "joined",
        "tags[-1]" -> "last_tag"))(
        Filters.ExpandJSON("j3", Map(
          // filter + pipe: the event's own n iff it is a click, else the
          // sentinel element's -1
          "items[?t == 'click'].n | [0]" -> "click_uid",
          "length(items[?n >= `0`])" -> "n_nonneg"))(
          Filters.ExpandJSON("props", Map("k" -> "k_val"))(ev)))
        .select("event_id", "k_val", "joined", "last_tag", "click_uid", "n_nonneg")
        .orderBy("event_id")
    }),

    "q_expand_list" -> ((s, d) =>
      Filters.ExpandList("text", Map(0 -> "f0", 2 -> "f2"), " ")(t(s, d, "documents"))
        .select("doc_id", "f0", "f2")
        .orderBy("doc_id")),

    "q_external_match" -> ((s, d) => {
      val matchSet = s.createDataFrame(Seq(Tuple1("BUILDING"), Tuple1("AUTOMOBILE")))
        .toDF("segment")
      Filters.ExternalMatch("c_mktsegment", matchSet, keepOnMatch = true)(t(s, d, "customer"))
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    "q_format_time" -> ((s, d) =>
      Filters.FormatTime("ship_str", "ship_day", "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd")(
        t(s, d, "lineitem")
          .withColumn("ship_str", date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")))
        .select("l_orderkey", "l_linenumber", "ship_day")
        .orderBy("l_orderkey", "l_linenumber")),

    "q_hash" -> ((s, d) =>
      Filters.Hash("text", "text_sha", "sha256")(
        Filters.Hash("text", "text_md5", "md5")(t(s, d, "documents")))
        .select("doc_id", "text_md5", "text_sha")
        .orderBy("doc_id")),

    "q_metadata_url" -> ((s, d) =>
      Filters.MetadataUrl("src_url")(t(s, d, "documents"))
        .filter(col("src_url").endsWith(".parquet"))
        .agg(count(lit(1)).as("cnt"))),

    "q_metadata_lastmod" -> ((s, d) =>
      Filters.MetadataLastModified("mtime")(
        s.read.parquet(s"$d/documents.parquet"))
        .filter(col("mtime").cast("long") > 0)
        .agg(count(lit(1)).as("cnt"))),

    "q_notnull" -> ((s, d) =>
      Filters.NotNull(Seq("text"))(t(s, d, "documents"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),

    "q_partial_clone" -> ((s, d) =>
      Filters.PartialClone(Seq("p_partkey", "p_brand"))(t(s, d, "part"))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")),

    "q_regex_match" -> ((s, d) =>
      Filters.RegexMatch(Seq("text" -> "spark", "lang" -> "^(en|es)$"))(t(s, d, "documents"))
        .select("doc_id")
        .orderBy("doc_id")),

    "q_replace_fields" -> ((s, d) =>
      Filters.ReplaceFields(
        copies = Seq("o_orderstatus" -> "status"),
        literals = Seq("graft" -> "engine"))(t(s, d, "orders"))
        .select("o_orderkey", "status", "engine")
        .orderBy("o_orderkey")),

    "q_set_string_from_url" -> ((s, d) =>
      Filters.SetStringFromURL
        .fromColumn(t(s, d, "documents"), "tag", col("source"), Seq("src1", "src3"))
        .select("doc_id", "tag")
        .orderBy("doc_id")),

    "q_slice" -> ((s, d) =>
      Filters.Slice("text", "head", 0, 16)(t(s, d, "documents"))
        .select("doc_id", "head")
        .orderBy("doc_id")),

    "q_string_match" -> ((s, d) =>
      Filters.StringMatch("event_type", Seq("error"))(t(s, d, "events"))
        .select("event_id", "event_type")
        .orderBy("event_id")),

    "q_timestamp" -> ((s, d) =>
      Filters.Timestamp("proc_ts")(t(s, d, "events"))
        .filter(col("proc_ts").isNotNull)
        .agg(count(lit(1)).as("cnt"))),

    "q_timestamp_range" -> ((s, d) =>
      Filters.TimestampRange("epoch", 1704412800L, 1705276800L)(
        t(s, d, "events").withColumn("epoch", unix_timestamp(col("ts")).cast("string")))
        .select("event_id", "event_type")
        .orderBy("event_id")),

    "q_url_escape" -> ((s, d) =>
      Filters.URLEscape("enc", "text", decode = true)(
        Filters.URLEscape("text", "enc")(t(s, d, "documents")))
        .select("doc_id", "text")
        .orderBy("doc_id")),

    "q_url_param" -> ((s, d) =>
      Filters.URLParam("url", "utm_out", "utm")(
        t(s, d, "events").withColumn("url",
          concat(lit("https://x.test/p?utm="), col("event_type"), lit("&i="), col("event_id"))))
        .select("event_id", "utm_out")
        .orderBy("event_id")),

    // ---- outputs (SURVEY §2.4) ----
    "q_output_stats" -> ((s, d) =>
      // Stats sink distributions (output/stats.go): count/min/max/avg/quantiles
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.95)"), 4).as("p95_qty"))),

    "q_output_nop" -> ((s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("cnt"))),

    // ---- headline relational queries (Spark-free capability, SURVEY §2.7) ----
    "q1_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q_join_agg" -> ((s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("order_cnt"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment")),

    "q_join_nation" -> ((s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("cust_cnt"), round(sum(col("c_acctbal")), 2).as("acctbal"))
        .orderBy("r_name")),

    "q_topk" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")),

    "q_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("user_id", "event_id", "rn")
        .orderBy("user_id", "rn")
    }),

    "q_events_agg" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total_value"))
        .orderBy("event_type", "day")),

    // ---- LLM-pipeline operators ----
    "q_dedup_exact" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dups"))
        .orderBy("keeper")),

    "q_curation" -> ((s, d) => {
      // the full pre-training curation funnel as ONE declarative plan:
      // language gate → Gopher quality gate (both map-only, fused into the
      // scan) → linear-classifier quality gate (broadcast weights +
      // doc-keyed agg + semi-join) → eval-set decontamination (broadcast
      // anti-join) → exact dedup on the canonical fingerprint (one
      // map-combined shuffle) — operators composing is the point
      val docs = t(s, d, "documents").filter(col("text") =!= "")
      val gated0 = docs
        .filter(col("lang") === "en")
        .filter(TF.gopherPasses(col("text")))
      // linear-classifier quality gate (bias 0: keep docs whose weighted
      // token mix is net-positive) — the fastText-filter stage every
      // production curation funnel runs between heuristics and dedup
      val gated = graft.llm.Classifier.qualityFilter(gated0, "doc_id", "text",
        weights = Map("join" -> 0.5, "slow" -> -0.5, "hash" -> 0.25,
          "batch" -> -0.125, "scan" -> 0.0625, "hash join" -> 0.25),
        wordNgrams = 2)
      val clean = gated.join(
        // flagging is per-doc content-only, so it runs over the already
        // gated subset — no point shingle-exploding docs the gates killed
        graft.llm.Decontaminate.flagged(gated, "doc_id", "text",
            Seq("fast merge", "value table", "window table table"))
          .select("doc_id"),
        Seq("doc_id"), "left_anti")
      // keeper IDS only → exactIds keeps the dedup a primitive-buffer
      // HashAggregate (exact's struct min_by would sort-aggregate full
      // rows the projection then throws away)
      Dedup.exactIds(clean, "doc_id", Seq(TF.fingerprint(col("text"))))
        .orderBy("doc_id")
    }),

    "q_dedup_minhash" -> ((s, d) =>
      // two-stage near-dup dedup: banded MinHash-LSH candidates verified by
      // EXACT shingle-Jaccard — the decision is exact, so the DuckDB oracle
      // (all-pairs exact Jaccard) reproduces it as long as the bands catch
      // every true pair (they do at the 0.7 threshold: est-jaccard recall
      // is asserted in DedupSimilaritySpec and probed in Scratch)
      Dedup.minhashDedupVerified(t(s, d, "documents"), "doc_id", "text", threshold = 0.7)
        .select("doc_id")
        .orderBy("doc_id")),

    "q_dedup_incremental" -> ((s, d) => {
      // month-over-month shape: docs with doc_id % 3 == 0 play the at-rest
      // corpus (represented by its persisted MinHash signatures; text only
      // point-read for collision verification), the rest arrive as the new
      // batch. A batch doc dies on a verified match against ANY store doc,
      // or a smaller-id batch doc.
      val docs = t(s, d, "documents")
      val old = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
      Dedup.incrementalDedupVerified(batch, "doc_id", "text",
          atRestSigs = Dedup.minhashSignatures(old, "doc_id", "text"),
          atRestDocs = old, threshold = 0.7)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "q_dedup_spans" -> ((s, d) =>
      // CCNet/Dolma-style paragraph dedup: cut each doc into 8-token spans,
      // keep only the corpus-wide first occurrence of each distinct span
      // (one content-hash-keyed shuffle with map-side combine)
      Dedup.firstSpanOccurrence(
          Dedup.tokenChunks(t(s, d, "documents"), "doc_id", "text", width = 8),
          "doc_id")
        .orderBy("doc_id", "pos")),

    "q_dedup_spans_text" -> ((s, d) =>
      // the user-facing end of paragraph dedup: drop repeated spans, then
      // REASSEMBLE each document from its surviving spans in position
      // order — the cleaned corpus, not just the keep-list (empty docs
      // disappear; one extra doc-keyed shuffle for the reassembly)
      Dedup.dedupSpans(
          Dedup.tokenChunks(t(s, d, "documents"), "doc_id", "text", width = 8),
          "doc_id")
        .orderBy("doc_id")),

    "q_dedup_cdc" -> ((s, d) =>
      // insertion-robust variant: gear-CDC boundaries (token hash ≡ 0 mod
      // 16 ends a span) instead of fixed width — the cut itself is a
      // zero-shuffle HOF fold, then the same first-occurrence dedup
      Dedup.firstSpanOccurrence(
          Dedup.cdcChunks(t(s, d, "documents"), "doc_id", "text", meanLen = 16),
          "doc_id")
        .orderBy("doc_id", "pos")),

    "q_dedup_substr" -> ((s, d) =>
      // exact-substring dedup at ARBITRARY alignment (Lee et al.): every
      // duplicated 8-token window flagged against its globally-first
      // occurrence, reduced to per-doc integer stats (window count, dup
      // count, interval-union tokens removed). md5 window keys so the
      // oracle regroups the identical sets; the xxhash64 production key is
      // ExactSubstrSpec's equality case
      graft.llm.ExactSubstr.dedupStats(t(s, d, "documents"), "doc_id", "text",
          k = 8, hash = md5(_))
        .orderBy("doc_id")),

    "q_dedup_substr_text" -> ((s, d) =>
      // the user-facing end of exact-substring dedup (Lee et al.): every
      // flagged window's tokens cut from the text, first occurrences kept
      // verbatim — the cleaned corpus the stats row only describes. The
      // kept/dropped decision is a map-side HOF over each doc's flagged
      // positions; md5 keys again so the oracle regroups identically
      graft.llm.ExactSubstr.removeDuplicateWindows(t(s, d, "documents"),
          "doc_id", "text", k = 8, hash = md5(_))
        .orderBy("doc_id")),

    "q_dedup_incremental_substr" -> ((s, d) => {
      // exact-substring dedup's INCREMENTAL store lifecycle (the text
      // window-hash sibling of q_dedup_incremental_image): batch 0 (even
      // docs) cleans within itself and seeds the at-rest window store
      // with its CLEANED text's hashes; batch 1 (odd docs + planted
      // 16-token excerpts of even docs < 40) loses every window the store
      // already holds — even a batch-first occurrence, the store is
      // canonical — plus its own within-batch repeats. The oracle replays
      // both stages from tokens; md5 window keys so it regroups.
      val docs = t(s, d, "documents")
      val batch0 = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          concat(array_join(slice(TF.tokens(col("text")), 6, 16), " "),
            lit(" uq"), col("doc_id").cast("string"),
            lit(" tail marker words")).as("text"))
      val batch1 = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text")).unionByName(planted)
      val dir = qTmpDir("substrstream-q")
      val fn = graft.streaming.ExactSubstrStream.batchFunction("doc_id",
        "text", s"$dir/store", s"$dir/corpus", k = 8, hash = md5(_))
      fn(batch0, 0L)
      fn(batch1, 1L)
      s.read.parquet(s"$dir/corpus")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),

    "q_dedup_substr_exact" -> ((s, d) => {
      // suffix-grouping exact-substring dedup (the Lee et al. suffix-array
      // fidelity pass): k-gram anchor groups sort by suffix EXTENSION and
      // neighbor LCP recovers each occurrence's maximal repeat extent —
      // per-repeat boundaries the window pass quantizes away. Planted:
      // doc 13 carries phrases P and Q ADJACENTLY whose keepers live in
      // docs 7 and 9, so its row reads n_max_repeats=2 against
      // n_union_intervals=1 — the boundary case q_dedup_substr cannot
      // express. md5 anchors so the oracle regroups identically.
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val base = array_join(slice(toks, 1, 40), " ")
      val p = (1 to 10).map(i => s"qp$i").mkString(" ")
      val q = (1 to 10).map(i => s"qq$i").mkString(" ")
      val planted = when(col("doc_id") === 13, concat_ws(" ", base, lit(p), lit(q)))
        .when(pmod(col("doc_id"), lit(10)) === 7, concat_ws(" ", base, lit(p)))
        .when(pmod(col("doc_id"), lit(10)) === 9, concat_ws(" ", base, lit(q)))
        .otherwise(base)
      graft.llm.ExactSubstr.suffixDedupStats(
          t(s, d, "documents").select(col("doc_id"), planted.as("text")),
          "doc_id", "text", k = 8, extBudget = 16, anchorHash = md5(_))
        .orderBy("doc_id")
    }),

    "q_dedup_substr_capped" -> ((s, d) => {
      // the hot-anchor fuse FIRING under the oracle: every document gets
      // the same 12-token boilerplate tail, so the 5 anchors fully inside
      // it go corpus-hot (hundreds of occurrences >> cap 4) — still
      // flagged with the exact global keeper, but the extension sort is
      // skipped and their extent quantizes to k, surfaced per doc in
      // n_capped_occurrences; organic repeats (group size ≤ 4) keep exact
      // boundaries. The oracle restates the cap as a CASE on group count.
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val bp = (1 to 12).map(i => s"bp$i").mkString(" ")
      val planted = concat_ws(" ",
        array_join(slice(toks, 1, 30), " "), lit(bp))
      graft.llm.ExactSubstr.suffixDedupStats(
          t(s, d, "documents").select(col("doc_id"), planted.as("text")),
          "doc_id", "text", k = 8, extBudget = 16, anchorHash = md5(_),
          maxAnchorOccurrences = 4)
        .orderBy("doc_id")
    }),

    "q_dedup_cc_verified" -> ((s, d) =>
      // transitive dedup over exact-verified minhash candidates: the edge
      // graph is exact, so the oracle restates it as a recursive-SQL
      // min-label closure over the true ≥0.7 pair graph
      Dedup.minhashDedupCCVerified(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.7)
        .select("doc_id")
        .orderBy("doc_id")),

    "q_dedup_keep_best" -> ((s, d) =>
      // canonical-document selection by QUALITY: same exact-verified edge
      // graph as q_dedup_cc_verified, but each cluster keeps its LONGEST
      // document (n_chars desc, doc_id asc tiebreak) instead of its
      // smallest id — the keep-the-best-copy curation rule; the oracle
      // replays the min-label closure then ranks inside each component
      Dedup.minhashDedupCCBest(t(s, d, "documents"), "doc_id", "text",
          score = col("n_chars"), threshold = 0.7)
        .select("doc_id")
        .orderBy("doc_id")),

    "q_dedup_simhash" -> ((s, d) =>
      // pigeonhole-banded SimHash candidates, verified by exact
      // shingle-Jaccard: the hamming radius only proposes pairs, the exact
      // score decides — oracle-checkable while candidate recall at the
      // threshold is total. Measured radius curve on the r7-regenerated
      // corpus (missed true pairs / steady verification cost at sf0.1):
      // h=4 0@sf0.01, 1@sf0.001, 7@sf0.1 (1.6s); h=5 same misses as h=4;
      // h=6 0@sf0.001+sf0.01, 0 extra known@sf0.1 (4.8s, 3×). h=4 keeps
      // the gate SF exact at a third of the cost; the radius is the
      // caller's recall/cost knob, and simhash remains the near-identical
      // detector — jaccard-threshold dedup is minhash's job
      // (q_dedup_minhash).
      Dedup.simhashPairsVerified(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.7, maxHamming = 4)
        .orderBy("idA", "idB")),

    "q_simhash_recall" -> ((s, d) => {
      // the radius-vs-recall trade MEASURED (the q_ann_recall treatment
      // applied to q_dedup_simhash's radius knob): per radius, what
      // fraction of the exact true pairs (shingle-Jaccard >= 0.7, stated
      // from first principles) lies within hamming distance — so a
      // fixture change shows up as a recall NUMBER here, never as a
      // mystery red q_dedup_simhash row. Signature basis is a 32-bit
      // md5-derived simhash (same bit-majority geometry as the
      // production XXH64 expression, but restatable verbatim in SQL —
      // XXH64 is not); SimhashRecallSpec pins the production-hash curve.
      // A tuning probe over a sample, not a corpus-scale operator: the
      // truth side is an inverted shingle-index join, exact because a
      // pair at jaccard >= 0.7 always shares a shingle.
      val docs = t(s, d, "documents").filter(trim(col("text")) =!= "")
      // one native codegen'd walk per row (SimHashMd5) — identical values
      // to the earlier bindOnce + 32-interpreted-`aggregate` formulation
      // (the md5-top-32-bits majority the SQL oracle restates verbatim),
      // which still paid ~2 s of single-task interpreted lambdas per
      // sf0.1 pass even with the token-hash array bound once
      val sigCol = org.apache.spark.sql.GraftShims.toColumn(
        graft.functions.SimHashMd5(
          org.apache.spark.sql.GraftShims.toExpression(TF.tokens(col("text"))), 32))
      // the (sig, shingles) projection is MATERIALIZED once (tiny: one
      // row per doc): the probe references it on both sides of the pair
      // join plus the metadata joins, and Catalyst has no DAG sharing —
      // unmaterialized, the interpreted-HOF signature pass would rerun
      // per reference (measured 2× at sf0.1). Same write-once/read-many
      // store pattern as the at-rest index queries.
      val dir = qTmpDir("simrec-q")
      docs.select(col("doc_id"), sigCol.as("sig"),
          array_distinct(TF.shingles(col("text"), 3)).as("g"))
        .write.mode("overwrite").parquet(s"$dir/base")
      val base = s.read.parquet(s"$dir/base")
      // pair truth WITHOUT re-joining the shingle arrays: `g` is already
      // distinct, so the count of shared (sh) join hits per pair IS the
      // intersection size, and union = szA + szB − inter — the arrays
      // never travel through the pair join and nothing is re-intersected
      val ex = base.select(col("doc_id"), col("sig"),
        size(col("g")).as("sz"), explode(col("g")).as("sh"))
      // exact size-ratio pre-gate INSIDE the join (the verified-dedup
      // trick): jaccard ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose
      // shingle-set sizes differ by more than the 0.7 threshold can never
      // pass the filter below — pruning it here, before the per-pair
      // groupBy, cuts the collision volume the aggregate must chew (this
      // was the slowest query in the suite; the result set is provably
      // unchanged, so the oracle doesn't mention the gate)
      val scored = ex.as("a").join(ex.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
            col("a.sz") >= col("b.sz") * 0.7 && col("b.sz") >= col("a.sz") * 0.7)
        .groupBy(col("a.doc_id").as("idA"), col("b.doc_id").as("idB"))
        .agg(count(lit(1)).as("inter"),
          first(col("a.sz")).as("szA"), first(col("b.sz")).as("szB"),
          first(col("a.sig")).as("sa"), first(col("b.sig")).as("sb"))
        .withColumn("uni", col("szA") + col("szB") - col("inter"))
        .filter(col("uni") > 0 && col("inter").cast("double") / col("uni") >= 0.7)
        .select(bit_count(col("sa").bitwiseXOR(col("sb"))).as("ham"))
      scored.select(explode(array(lit(2), lit(4), lit(6))).as("radius"), col("ham"))
        .groupBy("radius")
        .agg(count(lit(1)).as("truth_pairs"),
          sum(when(col("ham") <= col("radius"), 1L).otherwise(0L)).as("caught_pairs"))
        // recall in integer BASIS POINTS (floor(caught·10000/truth)) — the
        // one engine-formatting-sensitive surface this query had was a
        // rounded DOUBLE recall column; the integer pair already carries
        // the measurement, and floor of small-integer division is exact
        // in both engines
        .withColumn("recall_bp", floor(col("caught_pairs") * 10000.0 /
          col("truth_pairs")).cast("long"))
        .orderBy("radius")
    }),

    "q_dedup_cc" -> ((s, d) => {
      // transitive clustering over a deterministic pair graph: consecutive
      // docs whose token-set jaccard ≥ 0.2 are edges; components are then
      // runs of consecutive similar docs, which SQL can reproduce with a
      // gaps-and-islands window (see oracleSql)
      val docs = t(s, d, "documents").filter(col("text") =!= "")
      val a = docs.select(col("doc_id").as("idA"), TF.tokens(col("text")).as("ta"))
      val b = docs.select(col("doc_id").as("idB"), TF.tokens(col("text")).as("tb"))
      val pairs = a.join(b, col("idB") === col("idA") + 1)
        .filter(Dedup.jaccard(col("ta"), col("tb")) >= 0.2)
        .select("idA", "idB")
      Dedup.connectedComponents(pairs).orderBy("id")
    }),

    "q_ngram_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text") =!= "")
      val a = docs.select(col("doc_id").as("doc_a"), TF.tokens(col("text")).as("ta"))
      val b = docs.select(col("doc_id").as("doc_b"), TF.tokens(col("text")).as("tb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          round(Dedup.jaccard(col("ta"), col("tb")), 4).as("jaccard"))
        .orderBy("doc_a")
    }),

    "q_embed_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, dim = 64)
        .orderBy("query_id", "rank")
    }),

    "q_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        dim = 64, k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_ann_recall" -> ((s, d) => {
      // the index-tuning harness: per-query recall@5 of the IVF-PQ tier
      // (nprobe 2 of nlist 8 — real 4× cell pruning plus PQ quantization
      // error) against exact brute force. Recall is genuinely partial and
      // MEASURED — the oracle recomputes both pipelines (the full
      // cell-prune/residual-ADC algorithm and the exact ranking) and must
      // agree on every hit count
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      Similarity.recallAtK(
          graft.llm.IvfPq.adcTopK(emb, q, "vec_id", "embedding",
            ivfPqCoarse, pqDemoModel, nprobe = 2, k = 5),
          Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5, dim = 64),
          k = 5)
        .orderBy("query_id")
    }),

    "q_mmr_rerank" -> ((s, d) => {
      // diversity re-ranking: 15 exact-cosine candidates per query, greedy
      // MMR (λ=0.5) to top-5 inside the bounded native expression — no
      // pairwise candidate join materializes; the oracle unrolls the
      // greedy selection
      val emb = t(s, d, "embeddings")
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 4), "vec_id", "embedding",
        k = 5, fetch = 15, lambda = 0.5, dim = 64)
        .orderBy("query_id", "rank")
    }),

    "q_ann_ivf" -> ((s, d) => {
      // nprobe = nlist probes every cell → exact (= brute force, same
      // scoring expressions), which makes the IVF machinery oracle-checkable;
      // the approximate path (nprobe < nlist) is covered by IvfSpec recall
      val emb = t(s, d, "embeddings")
      graft.llm.Ivf.ivfTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        dim = 64, k = 5, nlist = 16, nprobe = 16)
        .orderBy("query_id", "rank")
    }),

    "q_pq_encode" -> ((s, d) => {
      // product-quantization compression under the FIXED deterministic
      // codebook (a query parameter like q_ann_lsh's hyperplanes — oracle
      // strategy 2; trained-codebook quality is PqSpec's job). scale=0.125
      // matches the synthetic embeddings' stddev so codes discriminate.
      graft.llm.Pq.encode(t(s, d, "embeddings"), "vec_id", "embedding", pqDemoModel)
        .select(col("vec_id"),
          array_join(transform(col("pq_codes"), c => c.cast("string")), " ")
            .as("code_str"))
        .orderBy("vec_id")
    }),

    "q_ann_pq" -> ((s, d) => {
      // asymmetric-distance ANN over the compressed codes: encode corpus,
      // LUT per query, ADC = m table lookups per candidate, bounded top-k
      val emb = t(s, d, "embeddings")
      graft.llm.Pq.adcTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        pqDemoModel, k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_ann_pq_stream" -> ((s, d) => {
      // the streaming-maintained code table: the corpus arrives as two
      // micro-batches encoded under the PINNED pqDemoModel into an
      // at-rest store (idempotent batch=* partitions), then the stored
      // codes are searched with the same ADC entry point — the appended
      // store holds exactly the rows a one-shot encode would, so the
      // oracle is q_ann_pq's verbatim
      val emb = t(s, d, "embeddings")
      val dir = qTmpDir("pqstream-q")
      val fn = graft.streaming.PqIndexStream.batchFunction(
        graft.streaming.PqIndexStream.pq("vec_id", "embedding", pqDemoModel), dir)
      fn(emb.filter(col("vec_id") % 2 === 0), 0L)
      fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
      val store = graft.streaming.PqIndexStream.loadEncoded(s, dir)
        .getOrElse(sys.error("stream store must be non-empty"))
      graft.llm.Pq.adcTopKEncoded(store, emb.filter(col("vec_id") < 8),
          "vec_id", "vec_id", "embedding", pqDemoModel, k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_ann_ivfpq_serving" -> ((s, d) => {
      // the full serving-layout lifecycle as one checkable row: the
      // corpus streams into the ingest store as two idempotent batches
      // (ivfPq encoder under the pinned coarse+PQ model), promoteServing
      // rewrites the snapshot partitioned by cell (versioned rename-
      // commit), and adcTopKServing searches it with the probed cells as
      // LITERALS so the parquet scan prunes cell= partitions statically
      // (plan pinned in IvfPqSpec). The snapshot holds exactly the rows a
      // one-shot encode would and pruning never changes results (a row
      // outside the probed cells can't join), so the oracle is
      // q_ann_ivfpq's verbatim.
      val emb = t(s, d, "embeddings")
      val base = qTmpDir("serving-q")
      val fn = graft.streaming.PqIndexStream.batchFunction(
        graft.streaming.PqIndexStream.ivfPq("vec_id", "embedding",
          ivfPqCoarse, pqDemoModel), s"$base/store")
      fn(emb.filter(col("vec_id") % 2 === 0), 0L)
      fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
      graft.streaming.PqIndexStream.promoteServing(s, s"$base/store", s"$base/serve")
      val served = graft.streaming.PqIndexStream.loadServing(s, s"$base/serve")
        .getOrElse(sys.error("serving snapshot must exist after promotion"))
      graft.llm.IvfPq.adcTopKServing(served, emb.filter(col("vec_id") < 8),
          "vec_id", "vec_id", "embedding", ivfPqCoarse, pqDemoModel,
          nprobe = 2, k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_ann_ivf_serving" -> ((s, d) => {
      // the raw-vector IVF tier through the same serving lifecycle as
      // q_ann_ivfpq_serving: two idempotent ingest batches of (id, cell,
      // vec) rows under the PINNED deterministic codebook, promotion to
      // the cell-partitioned versioned snapshot, then ivfTopKServing with
      // the probed cells as LITERALS so the parquet scan prunes cell=
      // partitions statically (plan pinned in IvfSpec). nprobe 2 of
      // nlist 8 is REAL pruning; the oracle replays the max-dot cell
      // assignment, the probe, and the exact cosine ranking from scratch.
      val emb = t(s, d, "embeddings")
      val base = qTmpDir("ivfserving-q")
      val fn = graft.streaming.DenseIndexStream.batchFunction(
        "vec_id", "embedding", s"$base/store", ivfPqCoarse)
      fn(emb.filter(col("vec_id") % 2 === 0), 0L)
      fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
      graft.streaming.DenseIndexStream.promoteServing(s, s"$base/store", s"$base/serve")
      val served = graft.streaming.DenseIndexStream.loadServing(s, s"$base/serve")
        .getOrElse(sys.error("serving snapshot must exist after promotion"))
      graft.llm.Ivf.ivfTopKServing(served, emb.filter(col("vec_id") < 8),
          "vec_id", "vec_id", "embedding", ivfPqCoarse, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    "q_ann_opq" -> ((s, d) => {
      // the rotated ADC search: rotation fused into both the encode and
      // the LUT scan (one map-only pass per side), ranking unchanged —
      // the oracle recomputes rotate→code→LUT→ADC under the same inlined
      // rotation + codebook VALUES tables
      val emb = t(s, d, "embeddings")
      graft.llm.Opq.adcTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        opqDemoRotation, pqDemoModel, k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_ann_ivfpq" -> ((s, d) => {
      // the composed index: coarse cells prune (nprobe 2 of nlist 8 — a
      // real 4× pruning, not the exact-equivalence configuration), PQ over
      // coarse residuals scores. Both codebooks fixed + deterministic so
      // the oracle replays the whole algorithm; trained-index quality is
      // IvfPqSpec's job.
      val emb = t(s, d, "embeddings")
      graft.llm.IvfPq.adcTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        ivfPqCoarse, pqDemoModel, nprobe = 2, k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_int8_encode" -> ((s, d) => {
      // scalar int8 affine quantization under corpus per-dimension
      // [min, max] ranges — two jobs by construction: stats are ONE
      // 2·dim-expression aggregate (a single driver row), encode is the
      // map-only codegen'd AffineQuantize scan. The oracle recomputes
      // both stages verbatim: min/max involve no summation so the ranges
      // match bit-for-bit, and floor((x−mn)·254/(mx−mn)+0.5)−127 is the
      // identical IEEE op sequence on both engines.
      val emb = t(s, d, "embeddings")
      val (mins, maxs) = graft.llm.Quantize.int8Stats(emb, "embedding", 64)
      graft.llm.Quantize.int8Encode(emb, "vec_id", "embedding", mins, maxs)
        .select(col("vec_id"),
          array_join(transform(col("int8_codes"), c => c.cast("string")), " ")
            .as("code_str"))
        .orderBy("vec_id")
    }),

    "q_opq_encode" -> ((s, d) =>
      // OPQ compression under FIXED deterministic rotation + codebook
      // (oracle strategy 2 twice over): the seeded Gram-Schmidt rotation
      // is pure Scala shared with the oracle builder. Trained-rotation
      // quality (eigensolve, allocation, distortion) is OpqSpec's job.
      graft.llm.Opq.encode(t(s, d, "embeddings"), "vec_id", "embedding",
          opqDemoRotation, pqDemoModel)
        .select(col("vec_id"),
          array_join(transform(col("pq_codes"), c => c.cast("string")), " ")
            .as("code_str"))
        .orderBy("vec_id")),

    "q_ann_int8" -> ((s, d) => {
      // two-stage int8 ANN: integer-exact code cosine picks 50 candidates
      // per query, exact cosine re-ranks them to top-5. The oracle replays
      // BOTH stages (the int8 dot is exact integer arithmetic, so the
      // approximate ranking is deterministic, not an estimate).
      val emb = t(s, d, "embeddings")
      val (mins, maxs) = graft.llm.Quantize.int8Stats(emb, "embedding", 64)
      graft.llm.Quantize.int8TopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        mins, maxs, k = 5, rerank = 50)
        .orderBy("query_id", "rank")
    }),

    "q_binary_encode" -> ((s, d) =>
      // 1-bit sign quantization (the 32× tier): packed words rendered as
      // dim63..dim0 bit strings, which the oracle restates without any
      // bit arithmetic — each bit is just `x > 0` per dimension. Only
      // full-dim vectors encode (64-per-word packing truncates length).
      graft.llm.Quantize.binaryEncode(t(s, d, "embeddings"), "vec_id", "embedding", 64)
        .select(col("vec_id"),
          array_join(transform(col("bin_code"), w => lpad(bin(w), 64, "0")), " ")
            .as("bits"))
        .orderBy("vec_id")),

    "q_ann_hamming" -> ((s, d) => {
      // two-stage binary ANN: Hamming distance over sign codes picks 50
      // candidates per query (one POPCNT per 64 dims), exact cosine
      // re-ranks them to top-5. Both stages are deterministic, so the
      // oracle replays them — Hamming is simply the count of
      // sign-disagreeing dimensions, no bit packing needed in SQL.
      val emb = t(s, d, "embeddings")
      graft.llm.Quantize.hammingTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", dim = 64, k = 5, rerank = 50)
        .orderBy("query_id", "rank")
    }),

    "q_bm25" -> ((s, d) => {
      // sparse retrieval next to the dense family: postings built with one
      // map-side-combined shuffle, query-term broadcast prunes the scan,
      // df computed over the pruned slice only, bounded CollectTopK ranks.
      // Scores rounded to 6dp before ranking (total order both engines see).
      val qdf = s.createDataFrame(bm25DemoQueries).toDF("query_id", "qtext")
      graft.llm.Lexical.bm25TopK(t(s, d, "documents"), qdf, "doc_id", "text",
        "query_id", "qtext", k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_bm25_rtbf" -> ((s, d) => {
      // right-to-be-forgotten over the streaming BM25 store: two batches
      // index the corpus into an at-rest store, then every doc with
      // doc_id % 10 == 3 is DELETED in place (partition-granular
      // crash-safe rewrite of the postings half + stats refreshed from
      // the survivors) — the post-delete search must equal BM25 over the
      // surviving corpus EXACTLY, which is what the oracle states. One
      // pass over the STORE, never the corpus; deleted docs are
      // unreturnable from the instant their postings partitions commit.
      val docs = t(s, d, "documents")
      val dir = qTmpDir("rtbf-q")
      val fn = graft.streaming.LexicalIndexStream.batchFunction(
        "doc_id", "text", dir)
      fn(docs.filter(col("doc_id") % 2 === 0), 0L)
      fn(docs.filter(col("doc_id") % 2 =!= 0), 1L)
      graft.streaming.LexicalIndexStream.deleteDocs(s, dir,
        docs.filter(col("doc_id") % 10 === 3).select("doc_id"))
      val qdf = s.createDataFrame(bm25DemoQueries).toDF("query_id", "qtext")
      graft.llm.Lexical.bm25Search(
          graft.streaming.LexicalIndexStream.loadIndex(s, dir), qdf,
          "query_id", "qtext", k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_chunk" -> ((s, d) =>
      // RAG chunking: 16-token windows, 4-token overlap, map-only (the
      // sequence/slice/join pipeline runs inside whole-stage codegen in
      // the scan stage — zero shuffles). Redundant tails dropped.
      graft.llm.Chunk.fixedTokenChunks(t(s, d, "documents"), "doc_id", "text",
        width = 16, overlap = 4)
        .orderBy("doc_id", "chunk_id")),

    "q_domain_cap" -> ((s, d) =>
      // per-source cap, best-quality-first (n_chars as the quality proxy):
      // bounded CollectTopK per key — a hot source contributes n rows per
      // partition to the shuffle, never its row count — then a semi-join
      // recovers full rows
      graft.llm.Mix.capPerKey(t(s, d, "documents"), col("source"),
        struct((-col("n_chars")).as("q"), col("doc_id").as("i")), "doc_id", n = 15)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    "q_contamination_report" -> ((s, d) => {
      // per-eval-doc overlap audit: distinct normalized 5-gram hit counts
      // against the rest of the corpus — integer sufficient statistics
      // (ORACLES.md strategy 4); corpus side is one map-only gram stream
      // pruned by the broadcast bench gram set
      val docs = t(s, d, "documents")
      graft.llm.Decontaminate.overlapReport(
          docs.filter(col("doc_id") % 50 =!= 0), "text",
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 5)
        .orderBy("doc_id")
    }),

    "q_sample_per_key" -> ((s, d) =>
      // balanced per-language sample: 10 docs per lang picked by
      // md5(seed|id) order — pseudo-random yet retry/partitioning-stable;
      // bounded CollectTopK per key, never a window
      graft.llm.Mix.sampleKPerKey(t(s, d, "documents"), col("lang"), "doc_id",
        k = 10, seed = "r9")
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    "q_percentile_rank" -> ((s, d) =>
      // per-stratum score calibration: cume_dist semantics from a
      // histogram-only window joined back — the corpus never enters a
      // window; exact-integer division, so the doubles match the SQL
      // cume_dist bit for bit
      graft.llm.Mix.percentileRank(t(s, d, "documents"), col("lang"),
          col("n_chars"))
        .select("doc_id", "lang", "percentile")
        .orderBy("doc_id")),

    "q_sample_n" -> ((s, d) =>
      // exactly-75 deterministic sample by md5(seed|id) order — the
      // count-exact sibling of rate sampling; one bounded CollectTopK,
      // O(n) shuffle/driver state
      graft.llm.Mix.sampleN(t(s, d, "documents"), col("doc_id"), "doc_id",
        n = 75, seed = "r11")
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    "q_embed_covariance" -> ((s, d) => {
      // the sufficient statistic PCA/OPQ train on — corpus mean + full
      // covariance from ONE aggregate job (a single O(dim²) driver row) —
      // restated cell by cell in DuckDB; the eigensolve consuming it is
      // deterministic driver math, spec-pinned (PcaSpec) like the other
      // pinned-model trainers
      val (mean, cov) = graft.llm.Opq.covariance(t(s, d, "embeddings"), "embedding", 64)
      val rows = (0 until 64).map(i => (i, -1, mean(i))) ++
        (for { i <- 0 until 64; j <- i until 64 } yield (i, j, cov(i)(j)))
      import s.implicits._
      rows.toDF("i", "j", "v")
        .select(col("i"), col("j"),
          // + 0.0 folds IEEE negative zero to +0 on both engines
          (round(col("v"), 6) + lit(0.0)).as("v"))
        .orderBy("i", "j")
    }),

    "q_embed_centroid" -> ((s, d) =>
      // per-label mean embedding: dims explode to primitive (label, dim)
      // rows for ONE map-side-combined agg; components reported in exact
      // integer micro-units so the float mean stays engine-checkable
      graft.llm.Similarity.centroids(t(s, d, "embeddings"), "label",
          "embedding", 64)
        .select(col("label"), col("n_vectors"),
          array_join(transform(col("centroid"),
            c => round(c * 1000000, 0).cast("long").cast("string")), " ")
            .as("centroid_str"))
        .orderBy("label")),

    "q_corpus_diff" -> ((s, d) => {
      // crawl-over-crawl diff: old = ids % 3 != 0, new = ids % 5 != 0 with
      // % 7 == 0 texts edited — every status reachable; one full-outer
      // key join carrying content (pass hashes at real scale)
      val docs = t(s, d, "documents")
      val old = docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"), col("text"))
      val cur = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      graft.llm.Diff.corpusDiff(old, cur, "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_phrase_search" -> ((s, d) => {
      // exact phrase queries over the positional index: shifted position
      // lists intersect per (phrase, doc) — "table table" exercises the
      // repeated-word slots. Phrase terms broadcast; only their postings
      // leave the scan.
      val ph = s.createDataFrame(Seq(
        1L -> "fast merge", 2L -> "table table", 3L -> "value table part"))
        .toDF("phrase_id", "ptext")
      val pos = graft.llm.Lexical.positionalPostings(
        t(s, d, "documents"), "doc_id", "text")
      graft.llm.Lexical.phraseOccurrences(pos, ph, "phrase_id", "ptext")
        .orderBy("phrase_id", "doc_id")
    }),

    "q_rag_pipeline" -> ((s, d) => {
      // retrieval-ingestion funnel: chunk → exact-dedup chunks (primitive
      // min-id hash agg per distinct text) → BM25 over surviving chunks.
      // Composite chunk id doc_id·100000 + chunk_id stays collision-free
      // (chunk_id < 100000 at every SF by construction).
      val chunks = graft.llm.Chunk.fixedTokenChunks(
          t(s, d, "documents"), "doc_id", "text", width = 16, overlap = 4)
        .select((col("doc_id") * 100000 + col("chunk_id")).as("cid"),
          col("chunk_text"))
      val deduped = chunks.groupBy("chunk_text").agg(min(col("cid")).as("cid"))
      val qdf = s.createDataFrame(bm25DemoQueries).toDF("query_id", "qtext")
      graft.llm.Lexical.bm25TopK(deduped, qdf, "cid", "chunk_text",
        "query_id", "qtext", k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_jaccard_topk" -> ((s, d) => {
      // exact word-2-gram Jaccard retrieval: query shingle set broadcast,
      // per-doc distinct sets map-only, bounded intersection agg + top-k
      val qdf = s.createDataFrame(bm25DemoQueries).toDF("query_id", "qtext")
      graft.llm.Lexical.jaccardTopK(t(s, d, "documents"), qdf, "doc_id", "text",
        "query_id", "qtext", k = 5, shingleK = 2)
        .orderBy("query_id", "rank")
    }),

    "q_hybrid_rrf" -> ((s, d) => {
      // hybrid retrieval: BM25 top-10 and Jaccard top-10 fused by
      // reciprocal rank (1/(60+rank)) — rank-based, so the two score
      // scales mix without normalization; fusion runs over already-bounded
      // inputs
      val docs = t(s, d, "documents")
      val qdf = s.createDataFrame(bm25DemoQueries).toDF("query_id", "qtext")
      val bm = graft.llm.Lexical.bm25TopK(docs, qdf, "doc_id", "text",
        "query_id", "qtext", k = 10)
      val jc = graft.llm.Lexical.jaccardTopK(docs, qdf, "doc_id", "text",
        "query_id", "qtext", k = 10, shingleK = 2)
      graft.llm.Lexical.rrfFuse(Seq(bm, jc), k = 5)
        .orderBy("query_id", "rank")
    }),

    "q_split_assign" -> ((s, d) =>
      // deterministic train/valid/test assignment: md5-bucketed CASE,
      // map-only, partitioning- and retry-stable, stated verbatim in SQL
      graft.llm.Mix.assignSplits(t(s, d, "documents"), col("doc_id"), "r9",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")),

    "q_split_leakage_safe" -> ((s, d) => {
      // leakage-safe splits: the exact-verified near-dup graph of
      // q_dedup_cc_verified decides CLUSTERS, and every clustered doc
      // hashes its cluster label into the split — paraphrase pairs can
      // never straddle train/test; singletons hash their own id, so away
      // from clusters this equals q_split_assign's rule
      val docs = t(s, d, "documents")
      val cand = Dedup.minhashPairs(docs, "doc_id", "text").select("idA", "idB")
      val edges = Dedup.verifyJaccard(cand, docs, "doc_id", "text", 3,
        minJaccard = 0.7).filter(col("jaccard") >= 0.7)
      Dedup.assignSplitsLeakageSafe(docs, edges, "doc_id", "r11",
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),

    "q_embed_neardup" -> ((s, d) => {
      // The synthetic embeddings have no natural near-dups (max pairwise
      // cosine ≈0.51), so plant exact duplicates of vec_id<20 at id+100000:
      // the LSH bucket join must recover precisely those pairs.
      val emb = t(s, d, "embeddings")
      val planted = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000)
      Dedup.embeddingPairs(emb.unionByName(planted), "vec_id", "embedding", dim = 64,
        threshold = 0.9)
        .select(col("idA"), col("idB"), round(col("cosine"), 4).as("cosine"))
        .orderBy("idA", "idB")
    }),

    "q_dedup_incremental_embed" -> ((s, d) => {
      // the semantic month-over-month shape: the store is the whole
      // embeddings corpus (as its persisted hyperplane signatures);
      // the batch carries exact copies of vec_id<20 (must die against
      // the store) and NEGATED copies (cosine −1 to their source, ≤0.51
      // to everything else on this corpus — must survive)
      // note: a query-side persist of this 4×-scanned projection was
      // measured and REJECTED (ProfEmbedDedup): the cached variant is
      // 2-3× slower here — the InMemoryTableScan loses whole-stage fusion
      // with the per-branch filters, and the cache boundary multiplies
      // AQE broadcast sub-jobs, which dominate at this corpus size. The
      // plain parquet re-scans are the cheap part.
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val copies = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000)
      val negs = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 300000)
        .withColumn("embedding", transform(col("embedding"), x => -x))
      // the batch union is CHECKPOINTED into a 40-row leaf before the op:
      // the dedup references the batch frame in four subtrees (signatures,
      // both candidate joins, verify union, final anti-join) and Catalyst's
      // PushDownLeftSemiAntiJoin additionally clones each join below BOTH
      // union branches — unchecked, the physical plan exploded to 3,070
      // operators / ~450 Exchanges (measured: 840 KB formatted plan,
      // planning wall ≫ task time). A leaf cannot be pushed through, so
      // the plan collapses to the operator's intended shape.
      val batch = copies.unionByName(negs).localCheckpoint(true)
      Dedup.incrementalEmbeddingDedup(batch, "vec_id", "embedding",
          atRestSigs = Dedup.embeddingSignatures(emb, "vec_id", "embedding", 64),
          atRestVecs = emb, dim = 64, threshold = 0.9)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    "q_embed_cc" -> ((s, d) => {
      // transitive embedding clusters: plant duplicate CHAINS (i ~
      // i+100000 for i<20, plus i+200000 for i<10) — the two far copies
      // only connect through the original, so the component labels prove
      // the clustering merges transitively, not just pairwise
      val emb = t(s, d, "embeddings")
      val p1 = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000)
      val p2 = emb.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 200000)
      graft.llm.Dedup.connectedComponents(
          graft.llm.Dedup.embeddingPairs(emb.unionByName(p1).unionByName(p2),
            "vec_id", "embedding", dim = 64, threshold = 0.9))
        .orderBy("id")
    }),

    "q_semdedup" -> ((s, d) => {
      // SemDeDup (cluster-then-pairwise semantic dedup): plant exact copies
      // of vec_id<20 at id+100000 — identical embeddings land in the same
      // k-means cell under ANY codebook, so the dropped set is closed-form
      // (the higher-id copy, evicted by its original) while natural pairs
      // stay below the 0.9 threshold (max pairwise cosine ≈ 0.51). Cluster
      // recall for non-identical neighbors is SemanticSpec's job.
      val emb = t(s, d, "embeddings")
      val planted = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000)
      graft.llm.Semantic.semDedupDropped(emb.unionByName(planted),
          "vec_id", "embedding", dim = 64, threshold = 0.9, nlist = 16)
        .orderBy("id")
    }),

    "q_lang_id" -> ((s, d) => {
      val en = Seq("the", "and", "of", "to", "a", "in", "is", "that")
      val es = Seq("el", "la", "de", "que", "y", "los", "en", "un")
      t(s, d, "documents")
        .withColumn("en_hits", TF.stopwordHits(col("text"), en))
        .withColumn("es_hits", TF.stopwordHits(col("text"), es))
        .select(col("doc_id"),
          when(col("en_hits") >= col("es_hits") && col("en_hits") > 0, "en")
            .when(col("es_hits") > 0, "es")
            .otherwise("unk").as("lang_guess"))
        .orderBy("doc_id")
    }),

    "q_quality" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    "q_span_redact" -> ((s, d) => {
      // span-attribute rewrite (the Dolma span model: offsets arrive as
      // DATA, the rewrite happens later): two planted char spans per doc
      // derived from its fields, replaced by a token in one map-only
      // fold; the oracle rebuilds the string from kept chars + tokens
      val s1 = (col("doc_id") % 4).cast("int")
      val spans = array(
        struct(s1.as("s"), (s1 + 3).as("e")),
        struct((s1 + 6).as("s"), (s1 + 8).as("e")))
      t(s, d, "documents")
        .select(col("doc_id"),
          TF.redactSpans(col("text"), spans, "<X>").as("text"))
        .orderBy("doc_id")
    }),

    "q_quantile_filter" -> ((s, d) => {
      // FineWeb-style per-language quality gate with a DATA-DERIVED cut:
      // drop the bottom 60% by quality per lang. All-integer discrete
      // quantile (micro-unit scores, cross-multiplied rank test — no
      // float interpolation to disagree across engines); the only
      // shuffled payload is the distinct (lang, score) histogram, and
      // thresholds broadcast back over an unshuffled corpus.
      val docs = t(s, d, "documents")
        .withColumn("score",
          round(TF.qualityScore(col("text")) * 10000).cast("long"))
      graft.llm.Mix.quantileFilter(docs, col("lang"), col("score"), drop = 0.6)
        .select("doc_id", "lang", "score")
        .orderBy("doc_id")
    }),

    "q_attribute_mix" -> ((s, d) => {
      // tag once, mix many (the Dolma sidecar model): two independent
      // tagger passes materialize slim id-keyed attribute frames; the mix
      // joins them back by id and filters WITHOUT touching text again —
      // re-curating 100 TB costs a sidecar join, not a tagger re-run. At
      // scale corpus and sidecars live bucketed by the same (doc_id,
      // buckets), making this join exchange-free (PlanShapeSpec pins it).
      val docs = t(s, d, "documents")
      val counts = graft.llm.Attributes.tag(docs, "doc_id",
        Seq("n_tokens" -> TF.tokenCount(col("text"))))
      val quality = graft.llm.Attributes.tag(docs, "doc_id",
        Seq("quality" -> TF.qualityScore(col("text"))))
      graft.llm.Attributes.mix(docs.select("doc_id", "source"), "doc_id",
          Seq(counts, quality),
          col("n_tokens") >= 20 && col("quality") >= 0.5)
        .orderBy("doc_id")
    }),

    "q_sidecar_recipe" -> ((s, d) => {
      // the COMPLETE two-job Dolma handoff, end to end: job A runs the
      // taggers ONCE (quality in micro-units + PII-style span offsets as
      // JSON data) and materializes a slim parquet sidecar; job B is a
      // pure-config TOML topology that re-curates WITHOUT re-running any
      // tagger — SidecarJoin pulls the attributes onto the corpus (its
      // in-plan duplicate-key guard live), QuantileFilter drops the
      // bottom 40% per language on the SIDECAR score, RedactSpans
      // rewrites the SIDECAR's offsets out of the text. Re-curating at
      // 100 TB costs this join + two map stages; the corpus and taggers
      // are untouched.
      val docs = t(s, d, "documents")
      val dir = qTmpDir("recipe-q")
      val s1 = (col("doc_id") % 4).cast("int")
      graft.llm.Attributes.tag(docs, "doc_id", Seq(
          "score" -> round(TF.qualityScore(col("text")) * 10000).cast("long"),
          "spans" -> to_json(array(array(s1, s1 + 3)))))
        .write.mode("overwrite").parquet(s"$dir/sidecar")
      docs.select(to_json(struct(col("doc_id"), col("lang"), col("text")))
          .as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$dir/corpus")
      val toml =
        s"""[fields]
           |names = ["doc_id", "lang", "text", "score", "spans"]
           |[input]
           |name = "JsonLines"
           |  [input.config]
           |  Files = ["$dir/corpus"]
           |  MatchPath = ".*\\\\.txt"
           |[[filter]]
           |name = "SidecarJoin"
           |  [filter.config]
           |  Path = "$dir/sidecar"
           |  IdField = "doc_id"
           |  Fields = ["score", "spans"]
           |[[filter]]
           |name = "QuantileFilter"
           |  [filter.config]
           |  GroupField = "lang"
           |  ScoreField = "score"
           |  Drop = 0.4
           |  Scale = 1
           |[[filter]]
           |name = "RedactSpans"
           |  [filter.config]
           |  Field = "text"
           |  SpansField = "spans"
           |  Token = "<PII>"
           |[output]
           |name = "Nop"
           |fields = ["doc_id", "lang", "text", "score"]
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected.orderBy("doc_id")
    }),

    "q_budget_select" -> ((s, d) =>
      // corpus curation under a size budget: keep the highest-quality docs
      // until 30k chars fill — two-phase threshold+fill (see Mix
      // .budgetSelect), identical to the oracle's global cumsum prefix
      graft.llm.Mix.budgetSelect(
          t(s, d, "documents"), TF.qualityScore(col("text")), col("n_chars"),
          budget = 30000, tie = col("doc_id"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),

    "q_token_count" -> ((s, d) =>
      // whitespace tokens + the BPE-ish subword estimate (letter runs,
      // digit runs, punctuation singletons), both map-only
      t(s, d, "documents")
        .select(col("doc_id"),
          TF.tokenCount(col("text")).as("n_tokens"),
          TF.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")),

    "q_quality_gopher" -> ((s, d) =>
      // Gopher/MassiveText repetition signals + pass gate, map-only
      t(s, d, "documents").filter(col("text") =!= "")
        .select(col("doc_id"),
          TF.tokenCount(col("text")).as("n_words"),
          round(TF.meanTokenLen(col("text")), 4).as("mean_word_len"),
          round(TF.duplicateNgramFraction(col("text"), 1), 4).as("dup_word_frac"),
          round(TF.duplicateNgramFraction(col("text"), 2), 4).as("dup_2gram_frac"),
          round(TF.duplicateNgramFraction(col("text"), 3), 4).as("dup_3gram_frac"),
          TF.gopherPasses(col("text")).as("passes"))
        .orderBy("doc_id")),

    "q_repetition" -> ((s, d) =>
      // top-n-gram char coverage (the other half of the Gopher repetition
      // family): entirely per-row HOF algebra — no explode, no shuffle
      t(s, d, "documents").filter(col("text") =!= "")
        .select(col("doc_id"),
          round(TF.topNgramCharFraction(col("text"), 1), 4).as("top_word_frac"),
          round(TF.topNgramCharFraction(col("text"), 2), 4).as("top_2gram_frac"),
          round(TF.topNgramCharFraction(col("text"), 3), 4).as("top_3gram_frac"))
        .orderBy("doc_id")),

    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    "q_url_canonical" -> ((s, d) => {
      // URL-level dedup key: deterministic messy URLs synthesized from
      // doc_id (mixed-case scheme/host, default port, tracking params,
      // unsorted query, sometimes a trailing slash, a fragment), then
      // canonicalized; the oracle builds the same strings and restates
      // every canonicalization rule in DuckDB
      val url = concat(lit("HTTP://Example"), (col("doc_id") % 7).cast("string"),
        lit(".COM:80/Path/"), (col("doc_id") % 5).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=x&b="), (col("doc_id") % 4).cast("string"),
        lit("&a=1#frag"))
      t(s, d, "documents")
        .select(col("doc_id"), TF.canonicalUrl(url).as("url"))
        .orderBy("doc_id")
    }),

    "q_fim" -> ((s, d) =>
      // fill-in-the-middle (PSM) transform: a hash-selected half of the
      // corpus rewritten PRE+prefix+SUF+suffix+MID+middle with both split
      // points md5-derived from the doc id — selection, positions, and
      // the rewritten STRING all restated verbatim (substr counts
      // characters in both engines, and the hash never touches text)
      t(s, d, "documents").select(col("doc_id"),
          TF.fimTransform(col("text"), col("doc_id"), "fim1", 0.5).as("fim_text"))
        .orderBy("doc_id")),

    "q_sentences" -> ((s, d) =>
      // sentence segmentation under the deterministic boundary rule:
      // build a synthetic paragraph per doc (periods, bang+quote, a
      // sentence-final question mark, an unsplit "Dr." showing the rule
      // is list-free) and restate the same regex replay in DuckDB
      t(s, d, "documents").filter(length(col("text")) >= 100)
        .withColumn("__para", concat(
          col("text").substr(1, 40), lit(". "),
          col("text").substr(41, 40), lit("! \"Quote.\" Dr. "),
          col("text").substr(81, 20), lit("?")))
        .select(col("doc_id"),
          TF.sentenceCount(col("__para")).as("n_sentences"),
          md5(concat_ws("\u001F", TF.sentences(col("__para"))).cast("binary"))
            .as("sentences_md5"))
        .orderBy("doc_id")),

    "q_block_domains" -> ((s, d) => {
      // URL blocklist curation (C4/RefinedWeb): synthesize hosts that hit
      // every matching rule — exact match, deep subdomain, the
      // substring TRAP (nottracker.com must NOT be blocked by
      // tracker.com), and unlisted hosts — plus userinfo/port/mixed-case
      // noise for the host extraction. The blocklist is padded past the
      // literal threshold so the NATIVE hash-set expression runs under
      // the oracle; the oracle restates whole-label suffix matching from
      // first principles (= or LIKE '%.domain').
      val host = when(col("doc_id") % 5 === 0, lit("Tracker.COM"))
        .when(col("doc_id") % 5 === 1,
          concat(lit("ads.sub"), (col("doc_id") % 3).cast("string"), lit(".tracker.com")))
        .when(col("doc_id") % 5 === 2, lit("nottracker.com"))
        .when(col("doc_id") % 5 === 3, lit("spam.example.org"))
        .otherwise(lit("good.example.org"))
      val url = concat(lit("https://User@"), host, lit(":8443/p?x=1#f"))
      val blocklist = Seq("tracker.com", "spam.example.org") ++
        (1 to 70).map(i => s"unused$i.invalid")
      t(s, d, "documents")
        .select(col("doc_id"), TF.urlHost(url).as("host"),
          TF.domainBlocked(url, blocklist).as("blocked"))
        .orderBy("doc_id")
    }),

    "q_topology_parquet" -> ((s, d) => {
      // a COMPLETE topology compiled from TOML — Parquet input (columnar,
      // declared fields pruned at the footer) → SqlWhere predicate →
      // projection — returned as the compiled DataFrame program, so the
      // oracle checks the whole config-to-plan path end to end
      val toml =
        s"""[fields]
           |names = ["doc_id", "lang", "n_chars"]
           |[input]
           |name = "Parquet"
           |  [input.config]
           |  Path = "$d/documents.parquet"
           |[[filter]]
           |name = "SqlWhere"
           |  [filter.config]
           |  Where = "lang = 'en' and cast(n_chars as bigint) >= 200"
           |[output]
           |name = "Nop"
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected.orderBy("doc_id")
    }),

    "q_topology_jsonl" -> ((s, d) => {
      // the JSONL interchange path end to end: documents dumped as real
      // JSONL (numbers as JSON numbers), then a TOML topology reads it
      // back through the JsonLines input (one parse per line, fields by
      // key), filters in SQL and projects — proving a user can ingest a
      // Dolma/FineWeb-style corpus from config alone
      val dir = qTmpDir("jsonl-q")
      t(s, d, "documents").select(
          to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(dir)
      val toml =
        s"""[fields]
           |names = ["doc_id", "lang", "n_chars"]
           |[input]
           |name = "JsonLines"
           |  [input.config]
           |  Files = ["$dir"]
           |  MatchPath = ".*\\\\.txt"
           |[[filter]]
           |name = "SqlWhere"
           |  [filter.config]
           |  Where = "lang = 'en' and cast(n_chars as bigint) >= 200"
           |[output]
           |name = "Nop"
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected.orderBy("doc_id")
    }),

    "q_topology_webdataset" -> ((s, d) => {
      // the multimodal interchange path end to end: documents written as
      // REAL WebDataset shards by the production writer (txt + json
      // member per sample), then a TOML topology ingests them through
      // the WebDataset input (reader-side sample grouping, ext pruning),
      // filters in SQL and projects — a user curates a tar corpus from
      // config alone
      val dir = qTmpDir("wds-q")
      val docs = t(s, d, "documents").filter(length(col("text")) >= 50)
      val members = docs.select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
          lit("txt").as("ext"), col("text").substr(1, 50).cast("binary").as("payload"))
        .unionByName(docs.select(lpad(col("doc_id").cast("string"), 8, "0").as("key"),
          lit("json").as("ext"),
          concat(lit("{\"lang\":\""), col("lang"), lit("\"}")).cast("binary").as("payload")))
      graft.sources.TarShards.write(members, dir, samplesPerShard = 100, numTasks = 2)
      val toml =
        s"""[fields]
           |names = ["key", "txt", "json"]
           |[input]
           |name = "WebDataset"
           |  [input.config]
           |  Path = "$dir"
           |[[filter]]
           |name = "SqlWhere"
           |  [filter.config]
           |  Where = "json like '%\"en\"%'"
           |[output]
           |name = "Nop"
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected.orderBy("key")
    }),

    "q_topology_curation" -> ((s, d) => {
      // LLM curation driven ENTIRELY from config: language gate (SqlWhere)
      // then corpus-wide verified near-dup dedup (NearDupDedup) — the
      // reference-user story of running a training-data pipeline as a TOML
      // topology. Ids compare as strings in the record model; the oracle
      // restates the kill rule with VARCHAR ordering.
      val toml =
        s"""[fields]
           |names = ["doc_id", "lang", "text"]
           |[input]
           |name = "Parquet"
           |  [input.config]
           |  Path = "$d/documents.parquet"
           |[[filter]]
           |name = "SqlWhere"
           |  [filter.config]
           |  Where = "lang = 'en'"
           |[[filter]]
           |name = "NearDupDedup"
           |  [filter.config]
           |  IdField = "doc_id"
           |  Field = "text"
           |[output]
           |name = "Nop"
           |fields = ["doc_id"]
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected.orderBy("doc_id")
    }),

    "q_topology_pretrain" -> ((s, d) => {
      // the PRETRAINING FUNNEL capstone, ONE config end to end: WARC
      // (Common Crawl's container, via the new TOML input) → MainContent
      // boilerplate removal → C4 line gate → Gopher quality gate →
      // verified near-dup dedup → TokenizeIds under an IMPORTED
      // HuggingFace tokenizer.json → PackRows → PackedShards — raw crawl
      // bytes to mountable trainer shards with zero Scala. Every stage
      // has its own oracle row; this row pins their COMPOSITION: the
      // oracle rebuilds the planted pages, replays the whole funnel in
      // SQL and restates the exported shard layout (seq_ix, ptr, and all
      // three channels' content) — a drift in ANY stage, in the funnel's
      // order, or at the export boundary breaks the hash.
      val dir = qTmpDir("pretrain-q")
      writeWarcFixture(s, d, s"$dir/warc")
      graft.llm.HfTokenizer.exportBpe(s"$dir/tok.json",
        vocab = bpeDemoClosure.zipWithIndex,
        merges = bpeDemoMerges, byteLevel = false)
      val toml =
        s"""[fields]
           |names = ["target_uri", "payload"]
           |[input]
           |name = "WARC"
           |  [input.config]
           |  Path = "$dir/warc"
           |  Types = "response"
           |[[filter]]
           |name = "SqlExpr"
           |  [filter.config]
           |  DstField = "doc_id"
           |  Expr = "regexp_extract(target_uri, '([0-9]+)$$', 1)"
           |[[filter]]
           |name = "MainContent"
           |  [filter.config]
           |  SrcField = "payload"
           |  DstField = "text"
           |[[filter]]
           |name = "C4Clean"
           |  [filter.config]
           |  SrcField = "text"
           |  DstField = "text"
           |  MinWords = 5
           |  MinKept = 1
           |  Gate = true
           |[[filter]]
           |name = "GopherQuality"
           |  [filter.config]
           |  Field = "text"
           |[[filter]]
           |name = "NearDupDedup"
           |  [filter.config]
           |  IdField = "doc_id"
           |  Field = "text"
           |[[filter]]
           |name = "TokenizeIds"
           |  [filter.config]
           |  SrcField = "text"
           |  DstField = "ids"
           |  VocabPath = "$dir/tok.json"
           |[[filter]]
           |name = "PackRows"
           |  [filter.config]
           |  IdsField = "ids"
           |  OrderField = "doc_id"
           |  Budget = 512
           |  Shards = 2
           |  EosId = -4
           |[output]
           |name = "PackedShards"
           |fields = ["shard", "seq_id", "input_ids", "segment_ids", "loss_mask", "n_real", "doc_start"]
           |  [output.config]
           |  Path = "$dir/shards"
           |  NumTasks = 1
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).run()
      def joined(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      s.read.format("packedcorpus").load(s"$dir/shards")
        .select(col("seq_ix"), col("ptr"), col("n_tokens"),
          md5(joined(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(joined(transform(col("loss_mask"), m => m.cast("int")))
            .cast("binary")).as("msk_md5"),
          md5(joined(col("segment_ids")).cast("binary")).as("seg_md5"))
        .orderBy("seq_ix")
    }),

    "q_corpus_report" -> ((s, d) =>
      // dataset-card report: per (source, lang) doc/token counts, exact
      // decimal quality mass (decimal, not double — a float sum's value
      // depends on partition order and would flap the oracle hash), and
      // the distinct-fingerprint count (docs − distinct_fp = exact dups)
      t(s, d, "documents")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("docs"),
          sum(TF.tokenCount(col("text"))).as("tokens"),
          // projected as a canonical STRING ("285.3000", scale-4 trailing
          // zeros) in BOTH engines: the values are exact either way, but a
          // harness that renders Decimal('285.3000') on one side and a
          // float-formatted 285.3 on the other would hash-mismatch rows
          // that are byte-identical in the parquet
          sum(TF.qualityScore(col("text")).cast("decimal(10,4)"))
            .cast("decimal(20,4)").cast("string").as("sum_quality"),
          count_distinct(TF.fingerprint(col("text"))).as("distinct_fp"))
        .orderBy("source", "lang")),

    "q_sql_text_stats" -> ((s, d) => {
      // the pure-SQL surface (GraftExtensions/GraftFunctions): the same
      // native kernels reached through spark.sql registered functions —
      // proves a SQL-only user gets identical results to the Column API
      t(s, d, "documents").createOrReplaceTempView("graft_sql_documents")
      s.sql("""SELECT doc_id,
                      graft_token_count(text) AS n_tokens,
                      graft_lang_id(text) AS lang_guess,
                      graft_fingerprint(text) AS fp,
                      graft_rolling_hash(text) AS rhash
               FROM graft_sql_documents ORDER BY doc_id""")
    }),

    "q_redact_pii" -> ((s, d) =>
      // plant deterministic PII per doc, then scrub it: the oracle applies
      // the same regexes in DuckDB, so the check validates actual redaction
      t(s, d, "documents")
        .withColumn("pii_text", concat(
          lit("reach user"), col("doc_id"), lit("@mail.example.com or 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 ph +1 555 000 12"),
          (col("doc_id") % 100).cast("string"), lit(" re: "), col("text")))
        .select(col("doc_id"), TF.redactPii(col("pii_text")).as("redacted"))
        .orderBy("doc_id")),

    "q_pii_spans" -> ((s, d) => {
      // the span-attribute PII path: matchSpans (native expression) emits
      // [s, e) code-point offsets as DATA, redactSpans rewrites from
      // them — tag once, scrub at mix time. The oracle can't restate
      // offsets (no SQL engine exposes match positions), so it checks the
      // COMPOSITION law instead: redacting the measured offsets must
      // equal a direct global regexp_replace with the same pattern — any
      // off-by-one in any span corrupts the rewritten string. Both
      // engines match the alternation leftmost-first (Java and RE2), and
      // n_spans is pinned against regexp_extract_all.
      val docs = t(s, d, "documents")
      val synth = concat(
        lit("reach user"), col("doc_id"), lit("@mail.example.com or 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7 ph +1 555 000 12"),
        (col("doc_id") % 100).cast("string"), lit(" re: "), col("text"))
      val spans = TF.piiSpans(synth)
      docs.select(col("doc_id"), size(spans).as("n_spans"),
          TF.redactSpans(synth, spans, "<PII>").as("redacted"))
        .orderBy("doc_id")
    }),

    "q_span_units" -> ((s, d) => {
      // span offset unit conversion (code points ↔ UTF-8 bytes), the
      // interop seam for byte-indexing external taggers. DIRECTLY
      // oracle-checkable: DuckDB's substr counts characters and strlen
      // counts bytes, so the byte offset of char offset k is
      // strlen(substr(t, 1, k)) — every span bound is checked as a
      // number, across 2/3/4-byte sequences planted in the prefix. The
      // reverse direction is pinned as the round trip r_s/r_e == s0/e0.
      val docs = t(s, d, "documents")
      val synth = concat(lit("¡é⌘🙂 "), col("text"))
      val n = length(synth)
      val s0 = (col("doc_id") % 7).cast("int")
      val e0 = least(s0 + 5, n).cast("int")
      val spans = array(struct(s0.as("s"), e0.as("e")))
      val b = TF.spansToBytes(synth, spans)
      val back = TF.spansToChars(synth, b)
      // utf16: the astral 🙂 in the prefix is 1 code point but 2 UTF-16
      // units, so u_* = char offset + count of astral chars before it —
      // which is exactly how the oracle restates it
      val u = TF.spansToUtf16(synth, spans)
      val back16 = TF.spansFromUtf16(synth, u)
      docs.select(col("doc_id"),
          element_at(b, 1).getField("s").as("b_s"),
          element_at(b, 1).getField("e").as("b_e"),
          element_at(back, 1).getField("s").as("r_s"),
          element_at(back, 1).getField("e").as("r_e"),
          element_at(u, 1).getField("s").as("u_s"),
          element_at(u, 1).getField("e").as("u_e"),
          element_at(back16, 1).getField("s").as("r2_s"),
          element_at(back16, 1).getField("e").as("r2_e"))
        .orderBy("doc_id")
    }),

    "q_rolling_hash" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TF.rollingHash(col("text")).as("rh"))
        .orderBy("doc_id")),

    "q_multimodal" -> ((s, d) =>
      // opaque-binary column plumbing: payload bytes + content digest
      t(s, d, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"),
          length(col("payload")).as("payload_bytes"),
          sha2(col("payload"), 256).as("payload_sha"))
        .orderBy("doc_id")),

    "q_pdf_text" -> ((s, d) => {
      // PDF text extraction over column-algebra fixtures: each doc's
      // payload is a two-stream PDF — an UNCOMPRESSED content stream
      // carrying the doc's prose plus the escape/hex/TJ corner cases, and
      // a constant FlateDecode stream (deflated once on the driver; the
      // oracle checks the EXTRACTED text, which never depends on the
      // compressor's byte choices). Pdf.extractText walks stream framing,
      // inflates, and collects show-text between BT/ET (PdfSpec pins the
      // parser cases; this row pins the end-to-end distributed path).
      val esc = "(esc \\(a\\) \\\\ \\101) Tj [(ker) -250 (ned)] TJ " +
        "<48492121> Tj ET\nBT (page footer) Tj ET"
      val content1 = concat(
        lit("BT /F1 12 Tf 72 720 Td ("), substring(col("text"), 1, 60),
        lit(") Tj "), lit(esc))
      val payload = concat(
        concat(lit("%PDF-1.4\n1 0 obj\n<< /Length "),
          length(content1).cast("string"), lit(" >>\nstream\n"),
          content1).cast("binary"),
        lit("\nendstream\nendobj\n2 0 obj\n<< /Length " +
          pdfFlateFixture.length +
          " /Filter /FlateDecode >>\nstream\n").cast("binary"),
        lit(pdfFlateFixture),
        lit("\nendstream\nendobj\n%%EOF\n").cast("binary"))
      graft.llm.Pdf.pdfTexts(
          t(s, d, "documents").select(col("doc_id"), payload.as("payload")),
          "doc_id", "payload")
        .orderBy("doc_id")
    }),

    "q_pdf_objstm" -> ((s, d) => {
      // PDF 1.5 object-stream + LZW extraction: each doc's payload packs
      // THREE tiers — an UNCOMPRESSED /ObjStm whose single embedded object
      // carries the doc's prose (header "2 0 " → /N 1 /First 4, pure
      // column algebra), a constant Flate-compressed /ObjStm, and a
      // constant /LZWDecode content stream (both encoded once on the
      // driver; the oracle checks extracted TEXT, independent of the
      // encoders' byte choices). Pins the decodeStream filter routing +
      // objStmBodies split + lzwDecode end-to-end on the distributed path.
      val body = concat(lit("2 0 BT ("), substring(col("text"), 1, 60),
        lit(") Tj ET"))
      val payload = concat(
        concat(lit("%PDF-1.5\n1 0 obj\n<< /Type /ObjStm /N 1 /First 4 /Length "),
          length(body).cast("string"), lit(" >>\nstream\n"),
          body).cast("binary"),
        lit("\nendstream\nendobj\n3 0 obj\n<< /Type /ObjStm /N 1 /First 4 " +
          "/Length " + pdfObjStmFlateFixture.length +
          " /Filter /FlateDecode >>\nstream\n").cast("binary"),
        lit(pdfObjStmFlateFixture),
        lit("\nendstream\nendobj\n4 0 obj\n<< /Length " +
          pdfLzwFixture.length + " /Filter /LZWDecode >>\nstream\n")
          .cast("binary"),
        lit(pdfLzwFixture),
        lit("\nendstream\nendobj\n%%EOF\n").cast("binary"))
      graft.llm.Pdf.pdfTexts(
          t(s, d, "documents").select(col("doc_id"), payload.as("payload")),
          "doc_id", "payload")
        .orderBy("doc_id")
    }),

    "q_pdf_chain" -> ((s, d) => {
      // filter CHAINS, ASCII byte decoders and PNG predictors end to end
      // (PDF 32000-1 §7.4.2/.3/.4.4/.5): each doc's payload carries FIVE
      // streams — a per-doc /ASCIIHexDecode stream (hex() is pure column
      // algebra, so this one varies per document), a constant
      // [/ASCII85Decode /FlateDecode] chain, a constant /Predictor 12
      // Flate stream (Up-filtered rows un-applied after inflate), a
      // constant /RunLengthDecode stream, and a stream whose /Filter is
      // an INDIRECT reference carrying decoy BT…ET bytes — the advice-r15
      // injection case, which must extract NOTHING. The oracle restates
      // the four decoded texts and, by omission, the decoy's absence.
      val content1 = concat(lit("BT ("), substring(col("text"), 1, 60),
        lit(") Tj ET"))
      val decoy = "BT (indirect filter decoy must not leak) Tj ET"
      val payload = concat(
        concat(lit("%PDF-1.4\n1 0 obj\n<< /Length 0 /Filter /ASCIIHexDecode " +
          ">>\nstream\n"),
          hex(content1.cast("binary")), lit(">")).cast("binary"),
        lit("\nendstream\nendobj\n2 0 obj\n<< /Length " +
          pdfChainA85Fixture.length +
          " /Filter [/ASCII85Decode /FlateDecode] >>\nstream\n").cast("binary"),
        lit(pdfChainA85Fixture),
        lit("\nendstream\nendobj\n3 0 obj\n<< /Length " +
          pdfPredictorFixture.length + " /Filter /FlateDecode /DecodeParms " +
          "<< /Predictor 12 /Columns 7 >> >>\nstream\n").cast("binary"),
        lit(pdfPredictorFixture),
        lit("\nendstream\nendobj\n4 0 obj\n<< /Length " +
          pdfRleFixture.length + " /Filter /RunLengthDecode >>\nstream\n")
          .cast("binary"),
        lit(pdfRleFixture),
        lit(("\nendstream\nendobj\n5 0 obj\n<< /Length " + decoy.length +
          " /Filter 6 0 R >>\nstream\n" + decoy +
          "\nendstream\nendobj\n%%EOF\n")).cast("binary"))
      graft.llm.Pdf.pdfTexts(
          t(s, d, "documents").select(col("doc_id"), payload.as("payload")),
          "doc_id", "payload")
        .orderBy("doc_id")
    }),

    "q_multimodal_decode" -> ((s, d) =>
      // batched partition decode (stub codec, deterministic dims from size)
      graft.llm.Multimodal.decodeImages(
        t(s, d, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload")
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"))
        .orderBy("doc_id")),

    "q_multimodal_frames" -> ((s, d) =>
      // frame sampling: 4 frames per payload, lengths must tile the payload
      graft.llm.Multimodal.sampleFrames(
        t(s, d, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", n = 4)
        .toDF()
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_frames"),
          sum(length(col("payload"))).as("total_bytes"))
        .orderBy("doc_id")),

    "q_multimodal_mp4" -> ((s, d) => {
      // REAL MP4 keyframe demux under the oracle (the WAV trick applied to
      // ISO-BMFF): wrap the first 32 text bytes as an MP4 — ftyp, an mdat
      // holding 4×8-byte video samples, and a moov whose sample tables
      // (stsz/stsc/stco) locate them and whose stss marks samples 1 and 3
      // as keyframes. Everything but the 32 data bytes is ONE fixed byte
      // literal per side of the mdat, so the container is column algebra;
      // the box-walking demuxer then extracts exactly the two keyframes,
      // whose bytes the oracle restates as text substrings.
      val (pre, post) = mp4QueryFixture
      val docs = t(s, d, "documents").filter(length(col("text")) >= 32)
        .withColumn("payload",
          concat(lit(pre), col("text").cast("binary").substr(1, 32), lit(post)))
      graft.llm.Multimodal.sampleFrames(docs, "doc_id", "payload", n = 2,
          codecs = graft.llm.Multimodal.JvmCodecs)
        .toDF()
        .select(col("doc_id"), col("frame_ix"),
          col("payload").cast("string").as("frame_text"))
        .orderBy("doc_id", "frame_ix")
    }),

    "q_multimodal_webm" -> ((s, d) => {
      // the EBML sibling of q_multimodal_mp4: wrap text bytes [1,8] and
      // [9,16] as the two keyframe SimpleBlocks of a real WebM (streamed
      // unknown-size Segment/Cluster), demux with the EBML walker, and
      // restate the keyframes as substrings
      val (pre, mid) = webmQueryFixture
      val docs = t(s, d, "documents").filter(length(col("text")) >= 16)
        .withColumn("payload", concat(lit(pre),
          col("text").cast("binary").substr(1, 8), lit(mid),
          col("text").cast("binary").substr(9, 8)))
      graft.llm.Multimodal.sampleFrames(docs, "doc_id", "payload", n = 2,
          codecs = graft.llm.Multimodal.JvmCodecs)
        .toDF()
        .select(col("doc_id"), col("frame_ix"),
          col("payload").cast("string").as("frame_text"))
        .orderBy("doc_id", "frame_ix")
    }),

    "q_multimodal_fmp4" -> ((s, d) => {
      // the DASH/CMAF flavor: the same 16 text bytes as the two sync
      // samples of a moof/trun fragment — exercises the fragment walker
      // (tfhd defaults, trun sample run) instead of the moov sample tables
      val docs = t(s, d, "documents").filter(length(col("text")) >= 16)
        .withColumn("payload", concat(lit(fmp4QueryFixture),
          col("text").cast("binary").substr(1, 16)))
      graft.llm.Multimodal.sampleFrames(docs, "doc_id", "payload", n = 2,
          codecs = graft.llm.Multimodal.JvmCodecs)
        .toDF()
        .select(col("doc_id"), col("frame_ix"),
          col("payload").cast("string").as("frame_text"))
        .orderBy("doc_id", "frame_ix")
    }),

    "q_webdataset" -> ((s, d) => {
      // the WebDataset (tar-shard) member walk under the oracle: wrap each
      // document's first 96 text bytes as a REAL two-member ustar archive
      // (sample.txt = bytes [1,64], sample.json = bytes [65,96]) — names
      // and sizes are constant, so the three header/padding runs are fixed
      // literals from the production writer (verified checksums included)
      // and the shard is column algebra around two substrings; the member
      // walker then parses it back and the oracle restates every field
      val (pre, mid, post) = tarQueryFixture
      val docs = t(s, d, "documents").filter(length(col("text")) >= 96)
        .withColumn("payload", concat(lit(pre),
          col("text").cast("binary").substr(1, 64), lit(mid),
          col("text").cast("binary").substr(65, 32), lit(post)))
      graft.sources.TarShards.members(docs, "doc_id", "payload").toDF()
        .select(col("doc_id"), col("member_ix"), col("name"), col("key"),
          col("ext"), col("size"), col("payload").cast("string").as("member_text"))
        .orderBy("doc_id", "member_ix")
    }),

    "q_multimodal_dims" -> ((s, d) => {
      // the decode-free resolution filter, oracle-checked: build a real
      // PNG, GIF and BMP header per document whose dimensions derive from
      // doc fields (BMP planted TOP-DOWN, i.e. negative height, to pin the
      // sign handling), sniff them back via pure byte plucks, and let the
      // oracle recompute the dims from the same fields
      def be(c: org.apache.spark.sql.Column, nBytes: Int) =
        unhex(lpad(hex(c), nBytes * 2, "0"))
      val docs = t(s, d, "documents")
      val w = col("n_chars") % 800 + 1
      val h = col("doc_id") % 600 + 1
      val pngHdr = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
        0, 0, 0, 13) ++ "IHDR".getBytes
      val png = concat(lit(pngHdr), be(w, 4), be(h, 4))
      val gif = concat(lit("GIF89a".getBytes), leBytes(w, 2), leBytes(h, 2))
      // bytes 14-17 carry biSize=40 (BITMAPINFOHEADER) — payloadDims
      // gates on it to reject OS/2 BITMAPCOREHEADER layouts
      val bmp = concat(lit(Array[Byte]('B', 'M') ++ new Array[Byte](12) ++
          Array[Byte](40, 0, 0, 0)),
        leBytes(w, 4), leBytes(lit(4294967296L) - h, 4)) // top-down: height stored negative
      // JPEG has no fixed dims offset — plant the SOF0 behind an APP0
      // whose PADDING LENGTH VARIES PER DOC (doc_id % 8 filler bytes), so
      // the oracle row is only reproducible if the segment walk really
      // walks (a fixed pluck would read filler on 7 of 8 docs)
      val pad = (col("doc_id") % 8).cast("int")
      val jpeg = concat(
        lit(Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)), be(pad + 2, 2),
        lit(new Array[Byte](8)).substr(lit(1), pad),
        lit(Array(0xFF, 0xC0, 0x00, 0x0B, 0x08).map(_.toByte)), // SOF0, len 11
        be(h, 2), be(w, 2), lit(Array[Byte](1, 0, 0x11, 0)))    // 1 component
      // WebP: the FLAVOR varies per doc (VP8X 24-bit canvas / lossy VP8
      // 14-bit pair behind the start code / VP8L 14+14 pack), so the one
      // oracle row per doc is only reproducible if all three pluck paths
      // are right
      def riffHdr(four: String, paySize: Int) =
        "RIFF".getBytes("ISO-8859-1") ++
          Array[Byte]((paySize + 12).toByte, 0, 0, 0) ++
          ("WEBP" + four).getBytes("ISO-8859-1") ++
          Array[Byte](paySize.toByte, 0, 0, 0)
      val webp = when(col("doc_id") % 3 === 0,
          concat(lit(riffHdr("VP8X", 10) ++ new Array[Byte](4)),
            leBytes(w - 1, 3), leBytes(h - 1, 3)))
        .when(col("doc_id") % 3 === 1,
          concat(lit(riffHdr("VP8 ", 10) ++
              Array[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A)),
            leBytes(w, 2), leBytes(h, 2)))
        .otherwise(concat(lit(riffHdr("VP8L", 5) ++ Array[Byte](0x2F)),
          leBytes((w - 1) + (h - 1) * 16384, 4)))
      def sniff(payload: org.apache.spark.sql.Column) =
        graft.llm.Multimodal.payloadDims(
          docs.withColumn("__p", payload), "doc_id", "__p")
      sniff(png).unionByName(sniff(gif)).unionByName(sniff(bmp))
        .unionByName(sniff(jpeg)).unionByName(sniff(webp))
        .orderBy("doc_id", "format")
    }),

    "q_multimodal_ahash" -> ((s, d) => {
      // perceptual image hashing under the oracle: an 8×8 24bpp BMP per
      // doc whose 64 gray cells are text bytes (each tripled to rgb), fed
      // through the REAL decode path (ImageIO BMP, bottom-up rows) and
      // aHash; the oracle recomputes the integer mean-threshold bits from
      // the same bytes — stored row r is image row 7−r
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val pixels = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      val imgs = docs.withColumn("__img", concat(lit(hdr), pixels))
      val decoded = graft.llm.Multimodal.decodeImages(imgs, "doc_id", "__img",
        codecs = graft.llm.Multimodal.JvmCodecs)
      graft.llm.Multimodal.aHash(decoded)
        .select(col("doc_id"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"),
          col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo"))
        .orderBy("doc_id")
    }),

    "q_multimodal_dhash" -> ((s, d) => {
      // difference hash under the oracle: the q_multimodal_ahash fixture
      // (8×8 BMP whose 64 gray cells are text bytes) through the REAL
      // decode + the 9×8 nearest-neighbor resize (dst x reads source
      // column (x·8)//9 — floor division, restatable) + the
      // right-neighbor comparison bits; integer-only end to end
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val pixels = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      val imgs = docs.withColumn("__img", concat(lit(hdr), pixels))
      val decoded = graft.llm.Multimodal.decodeImages(imgs, "doc_id", "__img",
        codecs = graft.llm.Multimodal.JvmCodecs)
      graft.llm.Multimodal.dHash(decoded)
        .select(col("doc_id"),
          shiftrightunsigned(col("dhash"), 32).as("dhash_hi"),
          col("dhash").bitwiseAND(lit(0xFFFFFFFFL)).as("dhash_lo"))
        .orderBy("doc_id")
    }),

    "q_multimodal_phash" -> ((s, d) => {
      // DCT perceptual hash under the oracle: same fixture, resized
      // 32×32 (dst (x,y) reads source cell (x//4, y//4)), separable
      // fixed-point DCT-II under the shared PhashCos integer table
      // (inlined as 256 VALUES literals in the oracle — the exact table
      // the executor multiplies by), median-of-63-non-DC threshold. The
      // whole transform is integer, so the oracle restates every bit
      // from pixel bytes; no float ever nears the threshold.
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val pixels = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      val imgs = docs.withColumn("__img", concat(lit(hdr), pixels))
      val decoded = graft.llm.Multimodal.decodeImages(imgs, "doc_id", "__img",
        codecs = graft.llm.Multimodal.JvmCodecs)
      graft.llm.Multimodal.pHash(decoded)
        .select(col("doc_id"),
          shiftrightunsigned(col("phash"), 32).as("phash_hi"),
          col("phash").bitwiseAND(lit(0xFFFFFFFFL)).as("phash_lo"))
        .orderBy("doc_id")
    }),

    "q_image_neardup" -> ((s, d) => {
      // NEAR-duplicate image pairs (not exact-collision dedup): pHash +
      // the generic pigeonhole Hamming banding (Dedup.hammingPairs — the
      // simhash machinery over ANY 64-bit signature). Planted copies of
      // docs 0..19 get ONE corner cell forced to a constant — a small
      // local edit whose pHash lands a few bits away, exactly the case
      // exact-hash dedup misses. The banding is invisible to the result
      // (the pair set is defined by the radius alone), so the oracle is
      // the all-pairs restatement: recompute both hash sets from bytes,
      // bit_count the xor, threshold.
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val px = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      val pxT = concat((1 to 63).flatMap(i => Seq.fill(3)(b.substr(i, 1))) ++
        Seq.fill(3)(lit(Array[Byte](126))): _*)
      val base = docs.select(col("doc_id"), concat(lit(hdr), px).as("__img"))
      val ups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          concat(lit(hdr), pxT).as("__img"))
      val hashes = graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
        base.unionByName(ups), "doc_id", "__img",
        codecs = graft.llm.Multimodal.JvmCodecs))
      graft.llm.Dedup.hammingPairs(hashes, "doc_id", col("phash"),
          nBits = 64, maxHamming = 8)
        .orderBy("idA", "idB")
    }),

    "q_dedup_incremental_image" -> ((s, d) => {
      // the perceptual tier's INCREMENTAL store lifecycle as one
      // checkable row set: batch 0 (even docs) fingerprints into the
      // at-rest signature store via PerceptualDedupStream's idempotent batch
      // function; batch 1 (odd docs + planted one-cell-edited near-dups
      // of even docs < 40) dedups against the store AND itself; the
      // kept corpus is read back. The oracle replays both stages from
      // pixel bytes — batch-0 internal keep, then store-kill + batch-kill
      // for batch 1 — under the same radius.
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val px = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      val pxT = concat((1 to 63).flatMap(i => Seq.fill(3)(b.substr(i, 1))) ++
        Seq.fill(3)(lit(Array[Byte](126))): _*)
      val base = docs.select(col("doc_id"), concat(lit(hdr), px).as("__img"))
      val planted = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          concat(lit(hdr), pxT).as("__img"))
      val batch0 = base.filter(col("doc_id") % 2 === 0)
      val batch1 = base.filter(col("doc_id") % 2 =!= 0).unionByName(planted)
      val dir = qTmpDir("imgdedup-q")
      def sigOf(df: org.apache.spark.sql.DataFrame) =
        graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
            df, "doc_id", "__img", codecs = graft.llm.Multimodal.JvmCodecs))
          .select(col("doc_id").as("__id"), col("phash").as("__hsig"))
      val fn = graft.streaming.PerceptualDedupStream.batchFunction("doc_id", sigOf,
        s"$dir/store", s"$dir/corpus", maxHamming = 8)
      fn(batch0, 0L)
      fn(batch1, 1L)
      s.read.parquet(s"$dir/corpus").select("doc_id").orderBy("doc_id")
    }),

    "q_image_dedup" -> ((s, d) => {
      // image-level near-dup dedup end to end: the q_multimodal_ahash
      // fixture plus PLANTED cross-resolution duplicates (docs 0..19 get a
      // 16×16 clean upscale under doc_id+100000 — same 64 cells after the
      // 8×8 downsample, so the aHash collides exactly), exact-dedup on the
      // hash keeping the smallest id; the oracle recomputes hashes from
      // the bytes and replays the keep rule
      val hdr8: Array[Byte] = bmpHeader(8, 8)
      val hdr16: Array[Byte] = bmpHeader(16, 16)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 64)
      val b = col("text").cast("binary")
      val px8 = concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(i, 1))): _*)
      // 16×16: stored row r repeats source stored row r/2; each byte ×2
      // horizontally (and ×3 to rgb) — a clean 2× nearest-neighbor upscale
      val px16 = concat((0 until 16).flatMap { r =>
        (0 until 16).flatMap { x =>
          Seq.fill(3)(b.substr((r / 2) * 8 + x / 2 + 1, 1))
        }
      }: _*)
      val base = docs.select(col("doc_id"), concat(lit(hdr8), px8).as("__img"))
      val ups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit(hdr16), px16).as("__img"))
      val hashes = graft.llm.Multimodal.aHash(graft.llm.Multimodal.decodeImages(
        base.unionByName(ups), "doc_id", "__img",
        codecs = graft.llm.Multimodal.JvmCodecs))
      graft.llm.Dedup.exact(hashes, "doc_id", Seq(col("ahash")))
        .select("doc_id").orderBy("doc_id")
    }),

    "q_multimodal_adts" -> ((s, d) => {
      // audio elementary-stream framing: two 15-byte ADTS frames per doc
      // (7-byte header + 8 text bytes each, header CONSTANT because the
      // frame length is fixed), demuxed by the real header walk; the
      // oracle restates the de-headered frames as substrings
      val len = 15
      val hdr = Array[Byte](0xFF.toByte, 0xF1.toByte, 0x50,
        (0x80 | ((len >> 11) & 3)).toByte, ((len >> 3) & 0xFF).toByte,
        (((len & 7) << 5) | 0x1F).toByte, 0xFC.toByte)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 16)
        .withColumn("payload", concat(lit(hdr),
          col("text").cast("binary").substr(1, 8), lit(hdr),
          col("text").cast("binary").substr(9, 8)))
      graft.llm.Multimodal.sampleFrames(docs, "doc_id", "payload", n = 2,
          codecs = graft.llm.Multimodal.JvmCodecs)
        .toDF()
        .select(col("doc_id"), col("frame_ix"),
          col("payload").substr(lit(8), lit(8)).cast("string").as("frame_text"))
        .orderBy("doc_id", "frame_ix")
    }),

    "q_multimodal_audio" -> ((s, d) => {
      // REAL audio decode under the oracle: build a valid 8 kHz mono
      // 16-bit WAV per document IN COLUMN ALGEBRA (RIFF/fmt/data headers
      // with little-endian sizes via hex byte-swap, sample data = the
      // first 2n text bytes), then decode it with the real PCM chunk
      // walker (JvmCodecs). The oracle recomputes every sample from the
      // same text bytes — ASCII corpus, so sample_i = b(2i-1) + 256·b(2i),
      // always positive (high byte < 128)
      val n = least(floor(length(col("text")) / 2), lit(16)).cast("int")
      val dataLen = n * 2
      val payload = wavFixture(dataLen,
        col("text").cast("binary").substr(lit(1), dataLen))
      val docs = t(s, d, "documents").filter(length(col("text")) >= 2)
        .withColumn("payload", payload)
      graft.llm.Multimodal.decodeAudio(docs, "doc_id", "payload")
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          size(col("samples")).as("n_samples"),
          aggregate(col("samples"), lit(0L), (a, x) => a + x).as("sample_sum"))
        .orderBy("doc_id")
    }),

    "q_audio_dedup" -> ((s, d) => {
      // audio-level near-dup dedup end to end: the q_audio_fingerprint
      // fixture plus PLANTED resampled duplicates (docs 0..19 get a 2×
      // sample-duplicated copy under doc_id+100000 — the fixed 1024-point
      // grid reads identical values, so the fingerprint collides
      // exactly), exact-dedup on the fingerprint keeping the smallest
      // id; the oracle recomputes fingerprints from the bytes (one
      // formula covers both, the grids coincide) and replays the keep
      // rule — the q_image_dedup treatment on the audio path
      def wav(dataLen: Int, data: org.apache.spark.sql.Column) =
        wavFixture(lit(dataLen), data)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 128)
      val b = col("text").cast("binary")
      val base = docs.select(col("doc_id"),
        wav(128, b.substr(1, 128)).as("payload"))
      // 2× resample: every 16-bit sample's byte pair emitted twice
      val ups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"),
          wav(256, concat((0 until 64).flatMap(j =>
            Seq(b.substr(2 * j + 1, 2), b.substr(2 * j + 1, 2))): _*)).as("payload"))
      val fps = graft.llm.Multimodal.audioFingerprint(
        graft.llm.Multimodal.decodeAudio(base.unionByName(ups), "doc_id", "payload"))
      graft.llm.Dedup.exact(fps, "doc_id", Seq(col("afp")))
        .select("doc_id").orderBy("doc_id")
    }),

    "q_dedup_incremental_audio" -> ((s, d) => {
      // the audio tier's INCREMENTAL store lifecycle — the
      // q_dedup_incremental_image treatment with the audio fingerprint as
      // the 64-bit signature (the store machinery is signature-generic):
      // batch 0 (even docs) fingerprints into the at-rest store, batch 1
      // (odd docs + planted near-dups of even docs < 40 whose last TWO
      // samples are forced constant — only frame 31's band energies move,
      // so the fingerprint lands ≤4 bits away) dedups against the store
      // AND itself; the kept corpus is read back. The oracle replays both
      // stages from sample bytes under the same radius.
      def wav(data: org.apache.spark.sql.Column) = wavFixture(lit(128), data)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 128)
      val b = col("text").cast("binary")
      val base = docs.select(col("doc_id"), wav(b.substr(1, 128)).as("payload"))
      val planted = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          wav(concat(b.substr(1, 124),
            lit(Array[Byte](126, 126, 126, 126)))).as("payload"))
      val batch0 = base.filter(col("doc_id") % 2 === 0)
      val batch1 = base.filter(col("doc_id") % 2 =!= 0).unionByName(planted)
      val dir = qTmpDir("auddedup-q")
      def sigOf(df: org.apache.spark.sql.DataFrame) =
        graft.llm.Multimodal.audioFingerprint(
            graft.llm.Multimodal.decodeAudio(df, "doc_id", "payload"))
          .select(col("doc_id").as("__id"), col("afp").as("__hsig"))
      val fn = graft.streaming.PerceptualDedupStream.batchFunction("doc_id", sigOf,
        s"$dir/store", s"$dir/corpus", maxHamming = 8)
      fn(batch0, 0L)
      fn(batch1, 1L)
      s.read.parquet(s"$dir/corpus").select("doc_id").orderBy("doc_id")
    }),

    "q_audio_fingerprint" -> ((s, d) => {
      // audio near-dup fingerprint under the oracle: the q_multimodal_audio
      // WAV fixture (16 samples from the first 32 text bytes) through the
      // REAL PCM decode, then the integer-exact spectral-band fingerprint
      // (1024-point floor resample, PhashCos bins 1-2 energies, delta-sign
      // bits). The oracle restates every sample from text bytes and
      // replays grid, energies and bits under the same 256 cosine
      // literals; reported as two 32-bit halves like the image hashes.
      val dataLen = lit(128) // 64 samples: ~2 per 32-point frame, so the
      // band energies genuinely vary per document (16 samples made every
      // frame near-constant and the fingerprint degenerate)
      val payload = wavFixture(dataLen,
        col("text").cast("binary").substr(lit(1), dataLen))
      val docs = t(s, d, "documents").filter(length(col("text")) >= 128)
        .withColumn("payload", payload)
      graft.llm.Multimodal.audioFingerprint(
          graft.llm.Multimodal.decodeAudio(docs, "doc_id", "payload"))
        .select(col("doc_id"),
          shiftrightunsigned(col("afp"), 32).as("afp_hi"),
          col("afp").bitwiseAND(lit(0xFFFFFFFFL)).as("afp_lo"))
        .orderBy("doc_id")
    }),

    "q_video_neardup" -> ((s, d) => {
      // the video-level near-dup CAPSTONE — the pieces composed end to
      // end: real MP4 keyframe demux (box walking, stss sync samples) →
      // BMP keyframe decode → pHash per keyframe → generic banded
      // Hamming pairs per keyframe POSITION → a video pair survives iff
      // every keyframe position matches within radius. Planted
      // "re-encodes" of docs < 20 force one corner cell of each keyframe
      // to a constant — each pHash lands a few bits away, the case
      // exact-hash video dedup misses. The banding is invisible to the
      // result, so the oracle is the all-pairs restatement per frame
      // window intersected across windows.
      val (pre, post) = mp4VideoFixture
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 128)
      val b = col("text").cast("binary")
      def px(off: Int) =
        concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(off + i, 1))): _*)
      def pxT(off: Int) =
        concat((1 to 63).flatMap(i => Seq.fill(3)(b.substr(off + i, 1))) ++
          Seq.fill(3)(lit(Array[Byte](126))): _*)
      def video(p1: org.apache.spark.sql.Column, p2: org.apache.spark.sql.Column) =
        concat(lit(pre), lit(hdr), p1, lit(hdr), p2, lit(post))
      val base = docs.select(col("doc_id"), video(px(0), px(64)).as("payload"))
      val ups = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          video(pxT(0), pxT(64)).as("payload"))
      val frames = graft.llm.Multimodal.sampleFrames(base.unionByName(ups),
        "doc_id", "payload", n = 2,
        codecs = graft.llm.Multimodal.JvmCodecs).toDF()
      val hashes = graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
        frames.select((col("doc_id") * 4 + col("frame_ix")).as("fid"),
          col("payload")),
        "fid", "payload", codecs = graft.llm.Multimodal.JvmCodecs))
      // the (vid, fx, phash) frame is MATERIALIZED once (tiny: one row per
      // keyframe): both per-frame pair joins reference it, and Catalyst
      // has no DAG sharing — unmaterialized, the demux+decode+DCT typed
      // lineage would run once per reference (the simhash_recall
      // write-once/read-many treatment)
      val dir = qTmpDir("vidndp-q")
      hashes.select(floor(col("doc_id") / 4).cast("long").as("vid"),
          pmod(col("doc_id"), lit(4)).as("fx"), col("phash"))
        .write.mode("overwrite").parquet(s"$dir/sig")
      val sig = s.read.parquet(s"$dir/sig")
      def pairsAt(f: Int) = graft.llm.Dedup.hammingPairs(
        sig.filter(col("fx") === f).select(col("vid"), col("phash")),
        "vid", col("phash"), nBits = 64, maxHamming = 8)
        .select("idA", "idB")
      pairsAt(0).join(pairsAt(1), Seq("idA", "idB")).orderBy("idA", "idB")
    }),

    "q_dedup_incremental_video" -> ((s, d) => {
      // the video tier's INCREMENTAL store lifecycle — the perceptual
      // store generalized to a VECTOR of signatures per object (one
      // pHash per keyframe position): batch 0 (even docs) ingests its
      // per-keyframe signature arrays, batch 1 (odd docs + planted
      // one-cell-per-keyframe re-encodes of even docs < 40) dedups
      // against the store AND itself, where a kill requires EVERY
      // keyframe position within radius 8. Candidates band on keyframe 0
      // alone (an all-positions match is a position-0 match). The oracle
      // replays both stages from pixel bytes.
      val (pre, post) = mp4VideoFixture
      val hdr: Array[Byte] = bmpHeader(8, 8)
      val docs = t(s, d, "documents").filter(length(col("text")) >= 128)
      val b = col("text").cast("binary")
      def px(off: Int) =
        concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(off + i, 1))): _*)
      def pxT(off: Int) =
        concat((1 to 63).flatMap(i => Seq.fill(3)(b.substr(off + i, 1))) ++
          Seq.fill(3)(lit(Array[Byte](126))): _*)
      def video(p1: org.apache.spark.sql.Column, p2: org.apache.spark.sql.Column) =
        concat(lit(pre), lit(hdr), p1, lit(hdr), p2, lit(post))
      val base = docs.select(col("doc_id"), video(px(0), px(64)).as("payload"))
      val planted = docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          video(pxT(0), pxT(64)).as("payload"))
      val batch0 = base.filter(col("doc_id") % 2 === 0)
      val batch1 = base.filter(col("doc_id") % 2 =!= 0).unionByName(planted)
      val dir = qTmpDir("viddedup-q")
      def sigsOf(df: org.apache.spark.sql.DataFrame) = {
        val frames = graft.llm.Multimodal.sampleFrames(df, "doc_id", "payload",
          n = 2, codecs = graft.llm.Multimodal.JvmCodecs).toDF()
        graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
            frames.select((col("doc_id") * 4 + col("frame_ix")).as("fid"),
              col("payload")),
            "fid", "payload", codecs = graft.llm.Multimodal.JvmCodecs))
          .select(floor(col("doc_id") / 4).cast("long").as("__id"),
            pmod(col("doc_id"), lit(4)).cast("int").as("fx"), col("phash"))
          .groupBy("__id")
          .agg(transform(array_sort(collect_list(struct(col("fx"), col("phash")))),
            e => e.getField("phash")).as("__hsigs"))
          // position-complete vectors only: an object whose frames only
          // PARTIALLY decode would otherwise pack its surviving hash into
          // the wrong slot and compare cross-position — treat it like an
          // undecodable object (no signature row ⇒ kept, kills nothing)
          .filter(size(col("__hsigs")) === 2)
      }
      val fn = graft.streaming.PerceptualDedupStream.batchFunctionMulti(
        "doc_id", sigsOf, s"$dir/store", s"$dir/corpus", maxHamming = 8)
      fn(batch0, 0L)
      fn(batch1, 1L)
      s.read.parquet(s"$dir/corpus").select("doc_id").orderBy("doc_id")
    }),

    // ---- event-time primitives (streaming/EventTime, batch-checkable) ----
    "q_event_window" -> ((s, d) =>
      // tumbling event-time window counts; same code path as the
      // watermarked streaming aggregation (watermark is a no-op in batch)
      graft.streaming.EventTime.windowedCounts(
        t(s, d, "events"), "ts", "event_type", windowDur = "1 day")
        .orderBy("window_start", "event_type")),

    "q_session" -> ((s, d) =>
      // event-time session windows per user (gap-merged); batch-checkable,
      // same code path as the watermarked streaming aggregation
      graft.streaming.EventTime.sessionize(
        t(s, d, "events"), "ts", "user_id", gap = "6 hours")
        .orderBy("user_id", "session_start")),

    "q_mix_corpora" -> ((s, d) => {
      // deterministic weighted blend of two (disjoint) corpus slices; the
      // multiplicative hash is plain integer algebra so the oracle can
      // reproduce the exact selection
      val docs = t(s, d, "documents")
      // reduce the id below 2^31 before the Knuth multiply so the product
      // stays under 2^63 for ANY id: Spark would wrap silently on overflow
      // while DuckDB raises, so the pairing would diverge at large ids
      val h = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
        lit(1000000L))
      graft.llm.Mix.weighted(Seq(
          (docs.filter(col("doc_id") % 2 === 0), 0.5, h),
          (docs.filter(col("doc_id") % 2 === 1), 0.25, h)))
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "q_decontaminate" -> ((s, d) =>
      // eval-set n-gram decontamination: doc token n-grams (per phrase
      // length) hash-matched via broadcast left-semi join; text never
      // crosses a shuffle
      graft.llm.Decontaminate.flagged(
          t(s, d, "documents"), "doc_id", "text",
          Seq("fast merge", "value table", "window table table"))
        .orderBy("doc_id")),

    "q_decontaminate_bloom" -> ((s, d) => {
      // the huge-benchmark shape: the phrase set arrives as a TABLE, one
      // fixed-size Bloom bitset broadcasts instead of the phrases, and
      // exact hash verification runs only on Bloom hits — no false
      // negatives, so the result equals exact decontamination and shares
      // its oracle
      import s.implicits._
      val bench = Seq("fast merge", "value table", "window table table")
        .toDF("phrase")
      graft.llm.Decontaminate.flaggedLarge(
          t(s, d, "documents"), "doc_id", "text", bench, "phrase",
          expectedPhrases = 1000L, fpp = 0.01)
        .orderBy("doc_id")
    }),

    "q_decontaminate_fuzzy" -> ((s, d) => {
      // near-dup eval-set decontamination: benchmark = every 50th doc
      // under a disjoint id space. Corpus signatures stay map-only; the
      // banded benchmark is broadcast; only collisions reach the exact
      // verify — so the all-pairs exact-jaccard oracle checks the full
      // candidates-then-verify path end-to-end
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("bench_id"), col("text"))
      graft.llm.Decontaminate.flaggedFuzzy(
          docs, "doc_id", "text", bench, "bench_id", "text", threshold = 0.7)
        .select(col("doc_id"), col("bench_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_id", "bench_id")
    }),

    "q_normalize" -> ((s, d) =>
      // canonical corpus normalization (lowercase, punct runs → one space)
      t(s, d, "documents")
        .select(col("doc_id"),
          substring(TF.normalizeText(col("text")), 1, 60).as("norm_prefix"))
        .orderBy("doc_id")),

    "q_mix_epochs" -> ((s, d) =>
      // the repeat half of a mixture schedule ("1.7 epochs of en, 2 of es,
      // half of de, drop fr"): floor(f) copies plus one more for the
      // hash-selected frac(f) subset — expected copies = f exactly, all
      // map-only explode, same portable integer hash as the samplers
      graft.llm.Mix.epochExpand(
          t(s, d, "documents"), col("lang"),
          Map("en" -> 1.7, "es" -> 2.0, "de" -> 0.5, "fr" -> 0.0),
          pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L))
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy("doc_id", "epoch")),

    "q_tokenizer_fertility" -> ((s, d) => {
      // the tokenizer-evaluation report: per language, how many TOKENS
      // the byte-level BPE (pinned demo merges) spends per normalized
      // character — the fertility metric vocab builds are judged by.
      // Integer sufficient statistics (strategy 4: docs, tokens, chars);
      // the float tokens-per-char ratio derives in one expression.
      val norm = regexp_replace(trim(coalesce(col("text"), lit(""))), "\\s+", " ")
      val nTok = graft.llm.Bpe.symbolCount(
        graft.llm.Bpe.byteLevelEncode(norm, byteLevelDemoMerges))
      t(s, d, "documents")
        .select(col("lang"), nTok.as("__t"), length(norm).cast("long").as("__c"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("sum_tokens"),
          sum(col("__c")).as("sum_chars"))
        .orderBy("lang")
    }),

    "q_mix_solver" -> ((s, d) => {
      // the token-budget mixture solve: per-language inventories from ONE
      // aggregation, then the exact-integer water-filling (caps at 2
      // epochs, shortfall redistributed by weight, floor shares with the
      // remainder handed to the largest-weight uncapped sources). The
      // oracle replays the whole solve as unrolled fixed-point rounds —
      // every comparison is an integer cross-multiplication, so the
      // capped set, the shares, and the ±1 remainder tokens all match
      // bit-for-bit.
      val avail = t(s, d, "documents").filter(trim(col("text")) =!= "")
        .groupBy("lang").agg(sum(TF.tokenCount(col("text"))).as("a"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sol = graft.llm.Mix.solveMixture(avail, mixSolverWeights,
        budget = 50000L, maxEpochsBp = 20000)
      import s.implicits._
      // capped is reported as 0/1 int, not boolean: every output column in
      // the oracle-checked suite stays in the integer/text domain the
      // driver's comparison is known to canonicalize identically
      sol.toDF("source", "available", "tokens_out", "capped")
        .withColumn("capped", col("capped").cast("int"))
        .orderBy("source")
    }),

    "q_sample_stratified" -> ((s, d) =>
      // per-language deterministic sampling ("50% en, 10% zh, all fr"):
      // map-only CASE threshold on the stratum, integer-algebra hash so the
      // oracle reproduces the exact selection
      graft.llm.Mix.stratified(
          t(s, d, "documents"), col("lang"),
          Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.1, "fr" -> 1.0),
          // overflow-safe for any id: id mod 2^31-1 keeps the product < 2^63
          pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    "q_mix_temperature" -> ((s, d) =>
      // UniMax-style temperature-balanced multilingual sampling (α=0.5):
      // per-language sizes from ONE bounded agg (driver holds one row per
      // LANGUAGE), rates ∝ sqrt(n)/n upweight tail languages, selection is
      // the same map-only deterministic hash filter as q_sample_stratified.
      // α=0.5 because sqrt is correctly rounded in every IEEE engine (pow
      // is not), so the oracle re-derives the exact integer thresholds
      graft.llm.Mix.temperatureSample(
          t(s, d, "documents"), col("lang"), budget = 300,
          pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    "q_pack_sequences" -> ((s, d) =>
      // concat-then-chunk sequence packing per uniform shard: one shuffle
      // (window partition), sequences never span shards
      graft.llm.Pack.concatChunk(
          t(s, d, "documents"), col("doc_id"), col("n_chars"), budget = 2048,
          shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
            lit(8)))
        .select("doc_id", "shard", "seq_id", "seq_offset")
        .orderBy("doc_id")),

    "q_pack_greedy" -> ((s, d) =>
      // no-split SFT-style packing: greedy fill per shard, new sequence
      // exactly on would-overflow. Sequential recurrence (data-dependent
      // reset) — the oracle replays it as a recursive CTE stepping
      // row_number ranks in lockstep across shards
      graft.llm.Pack.packGreedy(
          t(s, d, "documents"), col("doc_id"), col("n_chars"), budget = 2048,
          shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
            lit(8)))
        .select("doc_id", "shard", "seq_id", "seq_offset")
        .orderBy("doc_id")),

    "q_pack_tokens" -> ((s, d) => {
      // MATERIALIZED packing: fixed-length training sequences with
      // segment ids and a loss mask, documents split across cuts. Token
      // ids are word lengths and the mask marks words longer than 3 —
      // both restatable numerically, so DuckDB rebuilds every sequence
      // ARRAY and the md5s compare the exact layout (ids, segments, mask,
      // padding) rather than just counts.
      val docs = t(s, d, "documents")
      val toks = transform(TF.tokens(col("text")), w => length(w).cast("int"))
      val msk = transform(TF.tokens(col("text")), w => length(w) > 3)
      val shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
        lit(4))
      def joined(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      graft.llm.Pack.packTokens(docs, col("doc_id"), toks, msk, 512, shard,
          padId = -1)
        .select(col("shard"), col("seq_id"),
          md5(joined(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(joined(col("segment_ids")).cast("binary")).as("seg_md5"),
          md5(joined(transform(col("loss_mask"), m => m.cast("int")))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),

    "q_pack_tokens_eos" -> ((s, d) => {
      // q_pack_tokens with DOCUMENT BOUNDARY tokens — the bit a packed
      // corpus needs before a model can learn where documents end: BOS
      // (-3, loss-masked out) prepends and EOS (0, trained on) appends to
      // every document before concat-chunk, flowing through the cut
      // arithmetic like content. The oracle replays the extension on the
      // token arrays, so every terminator POSITION is layout-checked.
      val docs = t(s, d, "documents")
      val toks = transform(TF.tokens(col("text")), w => length(w).cast("int"))
      val msk = transform(TF.tokens(col("text")), w => length(w) > 3)
      val shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
        lit(4))
      def joined(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      graft.llm.Pack.packTokens(docs, col("doc_id"), toks, msk, 512, shard,
          padId = -1, eosId = Some(0), bosId = Some(-3))
        .select(col("shard"), col("seq_id"),
          md5(joined(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(joined(col("segment_ids")).cast("binary")).as("seg_md5"),
          md5(joined(transform(col("loss_mask"), m => m.cast("int")))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),

    "q_pack_greedy_rows" -> ((s, d) => {
      // MATERIALIZED SFT packing: the no-split greedy layout
      // (q_pack_greedy's assignment) as padded input_ids / segment_ids /
      // loss_mask training rows (q_pack_tokens' output contract) —
      // documents stay whole, a sequence opens exactly on would-overflow.
      // Same numeric tokenization as q_pack_tokens; the oracle replays
      // the greedy recurrence as a recursive CTE and rebuilds every
      // array, so the exact layout (ids, doc ordinals, mask, padding)
      // is compared, not just counts.
      val docs = t(s, d, "documents")
      val toks = transform(TF.tokens(col("text")), w => length(w).cast("int"))
      val msk = transform(TF.tokens(col("text")), w => length(w) > 3)
      val shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
        lit(4))
      def joined(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      graft.llm.Pack.packTokensGreedy(docs, col("doc_id"), toks, msk, 512,
          shard, padId = -1)
        .select(col("shard"), col("seq_id"),
          md5(joined(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(joined(col("segment_ids")).cast("binary")).as("seg_md5"),
          md5(joined(transform(col("loss_mask"), m => m.cast("int")))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),

    "q_pack_greedy_sft" -> ((s, d) => {
      // q_pack_greedy_rows WITH the full special-token recipe: BOS (-3,
      // input-only) prepends and EOS (0, trained on) appends to every
      // document, and the SFT turn separator (-9, loss-masked, carrying
      // the PRECEDING document's segment) lands between consecutive
      // documents of a sequence — each separator costs one budget slot,
      // which the greedy fits-test accounts for. The oracle replays the
      // extension on the token arrays and the separator positions in the
      // break-chain rebuild, so every terminator/separator POSITION is
      // layout-checked, not just counts.
      val docs = t(s, d, "documents")
      val toks = transform(TF.tokens(col("text")), w => length(w).cast("int"))
      val msk = transform(TF.tokens(col("text")), w => length(w) > 3)
      val shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
        lit(4))
      def joined(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      graft.llm.Pack.packTokensGreedy(docs, col("doc_id"), toks, msk, 512,
          shard, padId = -1, sepId = Some(-9), eosId = Some(0),
          bosId = Some(-3))
        .select(col("shard"), col("seq_id"),
          md5(joined(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(joined(col("segment_ids")).cast("binary")).as("seg_md5"),
          md5(joined(transform(col("loss_mask"), m => m.cast("int")))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),

    "q_pack_stats" -> ((s, d) => {
      // the packing-efficiency report a pipeline checks before a training
      // run: per shard — sequences, real tokens, pad tokens, pad fraction
      // in integer basis points — over q_pack_tokens' materialized rows.
      // One map-side agg on n_real; the oracle needs NO array rebuild:
      // concat-chunk stats are pure arithmetic on per-shard token counts
      // (n_seqs = ceil(T/budget), pad = n_seqs·budget − T).
      val docs = t(s, d, "documents")
      val toks = transform(TF.tokens(col("text")), w => length(w).cast("int"))
      val msk = transform(TF.tokens(col("text")), w => length(w) > 3)
      val shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
        lit(4))
      graft.llm.Pack.packingStats(
          graft.llm.Pack.packTokens(docs, col("doc_id"), toks, msk, 512, shard,
            padId = -1), budget = 512)
        .orderBy("shard")
    }),

    "q_pack_ids" -> ((s, d) => {
      // the COMPLETE pretraining data path in one declarative plan: raw
      // text → byte-level BPE → vocabulary ids (unk = -1) → materialized
      // fixed-length training rows, with the loss mask marking real
      // (non-unk) tokens. Composes q_bpe_ids' tokenizer with
      // q_pack_tokens' packer; the oracle replays BOTH ends.
      val docs = t(s, d, "documents").withColumn("__ids",
        graft.llm.Bpe.tokenIds(
          graft.llm.Bpe.byteLevelEncode(
            regexp_replace(trim(coalesce(col("text"), lit(""))), "\\s+", " "),
            byteLevelDemoMerges),
          byteBpeDemoVocab, unkId = -1))
      val msk = transform(col("__ids"), i => i =!= -1)
      val shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
        lit(4))
      def joined(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      graft.llm.Pack.packTokens(docs, col("doc_id"), col("__ids"), msk, 256,
          shard, padId = -2)
        .select(col("shard"), col("seq_id"),
          md5(joined(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(joined(transform(col("loss_mask"), m => m.cast("int")))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),

    "q_pack_ids_greedy" -> ((s, d) => {
      // the SFT capstone: raw text → byte-level BPE → vocabulary ids →
      // MATERIALIZED no-split training rows (q_pack_ids' tokenizer
      // feeding packTokensGreedy instead of the concat-then-chunk
      // packer) — documents stay whole, a sequence opens exactly on
      // would-overflow, the loss mask marks real (non-unk) tokens. The
      // oracle composes the tokenizer replay with the greedy recursive
      // CTE and the array rebuild.
      val docs = t(s, d, "documents").withColumn("__ids",
        graft.llm.Bpe.tokenIds(
          graft.llm.Bpe.byteLevelEncode(
            regexp_replace(trim(coalesce(col("text"), lit(""))), "\\s+", " "),
            byteLevelDemoMerges),
          byteBpeDemoVocab, unkId = -1))
      val msk = transform(col("__ids"), i => i =!= -1)
      val shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
        lit(4))
      def joined(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      graft.llm.Pack.packTokensGreedy(docs, col("doc_id"), col("__ids"), msk,
          1024, shard, padId = -2)
        .select(col("shard"), col("seq_id"),
          md5(joined(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(joined(col("segment_ids")).cast("binary")).as("seg_md5"),
          md5(joined(transform(col("loss_mask"), m => m.cast("int")))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),

    "q_packed_shards" -> ((s, d) => {
      // trainer-shard export under the oracle: per-document token ids
      // (word lengths — restatable) written as ONE Megatron-style
      // .bin/.idx pair in doc_id order, then read BACK and restated as
      // (seq_ix, ptr, n_tokens, ids_md5) — `ptr` is the idx sidecar's
      // byte pointer, i.e. 4·prefix-sum of the sequence lengths, so the
      // oracle checks the FLAT STREAM's layout (every sequence's byte
      // offset and content), not just counts. Write + re-read in one
      // query pins the full roundtrip on the distributed path.
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          transform(TF.tokens(col("text")), w => length(w).cast("int"))
            .as("ids"))
        .filter(size(col("ids")) > 0)
      val dir = qTmpDir("packed-q")
      graft.sources.PackedCorpus.write(docs, s"$dir/shards", idsCol = "ids",
        orderCols = Seq("doc_id"), numTasks = 1)
      graft.sources.PackedCorpus.read(s, s"$dir/shards")
        .select(col("seq_ix"), col("ptr"),
          size(col("input_ids")).as("n_tokens"),
          md5(array_join(transform(col("input_ids"), _.cast("string")), ",")
            .cast("binary")).as("ids_md5"))
        .orderBy("seq_ix")
    }),

    "q_packed_shards_u16" -> ((s, d) => {
      // the uint16 shard tier under the oracle: same write + re-read
      // roundtrip as q_packed_shards, but tokens serialize as 2-byte LE
      // (dtype code 8 — the halved-bytes layout trainers pick when the
      // vocabulary fits 16 bits), so every byte pointer is 2·prefix-sum
      // instead of 4· — the oracle restates exactly that arithmetic.
      // Word lengths are always far inside uint16 range; a pathological
      // corpus would fail LOUDLY at write, never wrap.
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          transform(TF.tokens(col("text")), w => length(w).cast("int"))
            .as("ids"))
        .filter(size(col("ids")) > 0)
      val dir = qTmpDir("packedu16-q")
      graft.sources.PackedCorpus.write(docs, s"$dir/shards", idsCol = "ids",
        orderCols = Seq("doc_id"), numTasks = 1, dtype = "uint16")
      graft.sources.PackedCorpus.read(s, s"$dir/shards")
        .select(col("seq_ix"), col("ptr"),
          size(col("input_ids")).as("n_tokens"),
          md5(array_join(transform(col("input_ids"), _.cast("string")), ",")
            .cast("binary")).as("ids_md5"))
        .orderBy("seq_ix")
    }),

    "q_packed_shards_masked" -> ((s, d) => {
      // the SFT-export boundary under the oracle: the concat-chunk
      // packer's REAL loss_mask / segment_ids / doc_start survive export
      // as parallel .mask/.seg channel pairs and a true (non-identity)
      // Megatron document index, then read BACK through the DSv2 and
      // restated array by array — mask bytes, segment ordinals, and the
      // doc-start bits are layout-checked, not just counted. Without
      // this row the engine's own masked layouts (q_pack_greedy_sft)
      // would be destroyed at the trainer-export boundary.
      val shards = writeMaskedPackedShards(s, d, "packedmask-q")
      def joined(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      s.read.format("packedcorpus").load(shards)
        .select(col("seq_ix"), col("ptr"),
          col("doc_start").cast("int").as("doc_start"),
          md5(joined(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(joined(transform(col("loss_mask"), m => m.cast("int")))
            .cast("binary")).as("msk_md5"),
          md5(joined(col("segment_ids")).cast("binary")).as("seg_md5"))
        .orderBy("seq_ix")
    }),

    "q_packed_reshuffle" -> ((s, d) => {
      // the at-rest EPOCH SHUFFLE under the oracle: write the masked
      // corpus, permute its document groups with a seeded restatable md5
      // key (PackedCorpus.reshuffle), read the epoch back, and emit one
      // row per reconstructed group — each row chains its sequences'
      // content hashes IN ORDER, so a group that was split, reordered
      // inside, or lost a channel value produces a different chain. The
      // driver's order-insensitive compare then checks exactly what a
      // permutation must preserve: the multiset of intact groups.
      val shards = writeMaskedPackedShards(s, d, "packedepoch-q")
      val epoch = shards.stripSuffix("/shards") + "/epoch"
      graft.sources.PackedCorpus.reshuffle(s, shards, epoch,
        numShards = 2, seed = "r17-epoch")
      packedEpochGroups(s, epoch)
    }),

    "q_topology_reshuffle" -> ((s, d) => {
      // the SAME epoch shuffle driven ENTIRELY from config — the
      // [reshuffle] job section ([[graft.topology.Reshuffle]]), a
      // reshuffle-only TOML with no [input]/[output] at all: the
      // per-epoch operation a trainer runs most often, now reachable
      // with zero Scala like its lifecycle siblings (export, audit,
      // filter-and-re-export, RTBF). Same fixture, same seed, same
      // readback; the oracle is q_packed_reshuffle's VERBATIM — the
      // config path must reproduce the API path bit for bit.
      val shards = writeMaskedPackedShards(s, d, "packedepochtoml-q")
      val epoch = shards.stripSuffix("/shards") + "/epoch"
      val toml =
        s"""[reshuffle]
           |InDir = "$shards"
           |OutDir = "$epoch"
           |Shards = 2
           |Seed = "r17-epoch"
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml)
      packedEpochGroups(s, epoch)
    }),

    "q_packed_decontaminate" -> ((s, d) => {
      // decontaminate the EXPORTED corpus: flag shard sequences sharing
      // an 8-gram of TOKEN IDS with a held-out eval set, reading ids
      // straight off the .bin (no re-tokenization — the audit an
      // operator runs against the exact bytes a trainer will mount).
      // Plan shape: the eval gram set is distinct + BROADCAST (eval sets
      // are small by construction), so the corpus side is one map-only
      // explode + broadcast-hash probe — no corpus shuffle at any scale.
      val shards = writeTrainPackedShards(s, d, "packeddecon-q")
      graft.sources.PackedCorpus.read(s, shards)
        .select(col("seq_ix"), explode(idGrams8(col("input_ids"))).as("g"))
        .join(broadcast(evalIdGrams(s, d)), "g")
        .groupBy("seq_ix").agg(count(lit(1)).as("n_hits"))
        .orderBy("seq_ix")
    }),

    "q_packed_rtbf" -> ((s, d) => {
      // the takedown/decontamination SURGERY on immutable shards: the
      // flagged set from the same id-8-gram audit becomes a (file,
      // seq_ix) drop list, rewriteExcluding re-exports the survivors
      // into a versioned corpus (whole document GROUPS drop — never a
      // truncated document), and the output restates every surviving
      // sequence's renumbered position and content. The engine-side
      // compose a compliance officer actually runs: audit → drop →
      // remount.
      val shards = writeTrainPackedShards(s, d, "packedrtbf-q")
      val corpus = s.read.format("packedcorpus").load(shards)
      val drop = corpus
        .select(col("file"), col("seq_ix"),
          explode(idGrams8(col("input_ids"))).as("g"))
        .join(broadcast(evalIdGrams(s, d)), "g")
        .select("file", "seq_ix").distinct()
      val out = shards.stripSuffix("/shards") + "/clean"
      graft.sources.PackedCorpus.rewriteExcluding(s, shards, out, drop,
        numShards = 1)
      s.read.format("packedcorpus").load(out)
        .select(col("seq_ix"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), _.cast("string")), ",")
            .cast("binary")).as("ids_md5"))
        .orderBy("seq_ix")
    }),

    "q_topology_packed" -> ((s, d) => {
      // the config-only shard lifecycle CLOSES: shards the engine
      // exported (mask channel included) read BACK through the
      // PackedCorpus TOML input — arrays and mask land in the string
      // record model, a SQL filter prunes on the sidecar field, and the
      // projection is the oracle surface. A user audits an exported
      // corpus from config alone, no Scala.
      val docs = t(s, d, "documents")
      val ids = transform(TF.tokens(col("text")), w => length(w).cast("int"))
      val msk = transform(TF.tokens(col("text")), w => length(w) > 3)
      val train = docs.select(col("doc_id"), ids.as("ids"), msk.as("msk"))
        .filter(size(col("ids")) > 0)
      val dir = qTmpDir("packedtoml-q")
      graft.sources.PackedCorpus.write(train, s"$dir/shards", idsCol = "ids",
        orderCols = Seq("doc_id"), numTasks = 1, maskCol = Some("msk"))
      val toml =
        s"""[fields]
           |names = ["seq_ix", "n_tokens", "input_ids", "loss_mask"]
           |[input]
           |name = "PackedCorpus"
           |  [input.config]
           |  Path = "$dir/shards"
           |[[filter]]
           |name = "SqlWhere"
           |  [filter.config]
           |  Where = "cast(n_tokens as int) >= 8"
           |[output]
           |name = "Nop"
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected
        .orderBy(col("seq_ix").cast("long"))
    }),

    "q_unigram_score" -> ((s, d) =>
      // unigram-LM scoring: corpus vocab (1 shuffle) broadcast against
      // exploded tokens — integer sufficient statistics, exact cross-engine
      graft.llm.Unigram.score(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "q_ccnet_buckets" -> ((s, d) =>
      // CCNet head/middle/tail: per-language ntile thirds of the unigram-LM
      // score, ranked WITHOUT a per-language global window (two-phase
      // offset trick — see llm/Perplexity.scala); oracle states the same
      // split as a literal ntile(3) window
      graft.llm.Perplexity.perplexityBuckets(
          t(s, d, "documents"), "doc_id", "text", col("lang"))
        .orderBy("doc_id")),

    "q_dsir_stats" -> ((s, d) => {
      // DSIR importance stats: hashed-bigram distribution of an English
      // "target" slice vs the whole corpus, reduced to integer sufficient
      // statistics per doc (the float log-ratio weight derives map-only;
      // DsirSpec covers it and the paper-exact per-gram path)
      val docs = t(s, d, "documents")
      graft.llm.Dsir.importanceStats(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_keywords" -> ((s, d) =>
      // tf-idf-shaped keyword extraction in integer stats: (doc, term)
      // keyed tf agg (Zipf-proof composite key), ubiquitous-term blocklist
      // broadcast, bounded top-k per doc
      // 0.9 cutoff: the synthetic corpus vocabulary is uniformly common
      // (df ≈ 0.75-0.8), so 0.5 would block nearly everything and leave the
      // ranking path unexercised
      graft.llm.Keywords.topTerms(t(s, d, "documents"), "doc_id", "text",
          maxDocFrac = 0.9)
        .orderBy("doc_id", "rank")),

    "q_bigram_score" -> ((s, d) =>
      // same two-pass LM plan one order up: corpus bigram vocab broadcast
      // against exploded word-2-grams — the cheap KenLM-style fluency gate
      graft.llm.Unigram.score(t(s, d, "documents"), "doc_id", "text", ngram = 2)
        .orderBy("doc_id")),

    "q_shuffle" -> ((s, d) =>
      // deterministic global corpus shuffle: reproducible md5(seed|id)
      // order materialized as a dense 1-based position — computed with
      // parallel per-bucket windows (bucket = key's leading 32 bits), no
      // global single-partition window anywhere
      graft.llm.Mix.deterministicShuffle(
          t(s, d, "documents").select("doc_id"), col("doc_id"), seed = "r4")
        .select("doc_id", "shuffle_pos")
        .orderBy("doc_id")),

    "q_classifier" -> ((s, d) =>
      // fastText-style linear quality classifier (the CCNet/LLaMA
      // quality-filter shape): broadcast weight table vs exploded
      // unigram+bigram features, one doc-keyed agg. Weights are exact
      // binary fractions so the double sum is order-independent and the
      // oracle cross-engine exact (see llm/Classifier.scala)
      graft.llm.Classifier.scoreLinear(t(s, d, "documents"), "doc_id", "text",
          weights = Map("join" -> 0.5, "slow" -> -0.5, "hash" -> 0.25,
            "batch" -> -0.125, "scan" -> 0.0625, "hash join" -> 0.25),
          bias = -0.125, wordNgrams = 2)
        .select(col("doc_id"), col("n_features"), col("sum_weight"),
          round(col("logit"), 4).as("logit"), col("keep"))
        .orderBy("doc_id")),

    "q_classifier_grad" -> ((s, d) =>
      // one full-batch logistic gradient under the q_classifier weight
      // table with synthetic labels y = doc_id % 2 — the sufficient
      // statistic every trainLogistic iteration aggregates. Residuals are
      // nano-quantized BEFORE aggregation (round((σ−y)·1e9)), so the sums
      // are exact integers both engines reproduce — and the same
      // quantization is what makes training itself bit-deterministic
      // across partitionings (ClassifierSpec pins the loop)
      graft.llm.Classifier.logisticGradient(
        t(s, d, "documents").withColumn("label", (col("doc_id") % 2).cast("double")),
        "text", "label",
        weights = Map("join" -> 0.5, "slow" -> -0.5, "hash" -> 0.25,
          "batch" -> -0.125, "scan" -> 0.0625, "hash join" -> 0.25),
        bias = -0.125, wordNgrams = 2)
        .orderBy("feature")),

    "q_classifier_hashed" -> ((s, d) =>
      // the hashing-trick gradient: q_classifier_grad's nano-quantized
      // statistic over md5-hashed feature BUCKETS (256) and a formulaic
      // exact-binary-fraction weight table w(b) = ((b%21)−10)/1024 — no
      // vocabulary anywhere (the fastText bucket trick removes the top-K
      // cap); the oracle replays hash, weights, residuals and sums from
      // scratch. md5 basis for restatability; ClassifierSpec pins the
      // production xxhash64 path and its bit-determinism.
      graft.llm.Classifier.logisticGradientHashed(
        t(s, d, "documents").withColumn("label", (col("doc_id") % 2).cast("double")),
        "text", "label",
        weights = Array.tabulate(256)(b => ((b % 21) - 10) / 1024.0),
        bias = -0.125, wordNgrams = 2,
        hasher = Some(graft.llm.Classifier.md5Bucket(256)))
        .orderBy("bucket")),

    "q_bpe_pairs" -> ((s, d) =>
      // BPE training step 1's sufficient statistics: corpus-wide adjacent
      // character-pair counts (one explode + one map-side-combined agg),
      // deterministic top-20 (count desc, pair asc)
      graft.llm.Bpe.pairCounts(t(s, d, "documents"), col("text"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)),

    "q_bpe_train" -> ((s, d) => {
      // REAL iterative BPE merge training: 4 argmax steps, each re-encoding
      // under the merges learned so far. Driver state = the merge table
      // (4 short strings). Trains on the deterministic half-sample — the
      // production shape: vocabularies are learned from a sample, then the
      // FIXED table encodes the full corpus map-only (q_bpe_encode). The
      // oracle replays the identical 4 steps over the identical sample as
      // chained CTEs with scalar-subquery argmaxes — the trained rules
      // themselves are hash-checked, not just one step
      val sample = t(s, d, "documents").filter(pmod(col("doc_id"), lit(2)) === 0)
      val (_, hist) = graft.llm.Bpe.train(sample, col("text"), steps = 4)
      import s.implicits._
      hist.toDF("step", "pair", "cnt").orderBy("step")
    }),

    "q_wordpiece_train" -> ((s, d) => {
      // WordPiece vocabulary TRAINING (the BERT-family build path): the
      // q_bpe_train loop under the LIKELIHOOD-GAIN rule — each step
      // merges the pair maximizing count(ab)/(count(a)·count(b)), exact
      // integer cross-multiplied argmax, ties on the pair string. Same
      // deterministic half-sample; the oracle replays all 4 steps with
      // an anti-join argmax in HUGEINT cross-products
      val sample = t(s, d, "documents").filter(pmod(col("doc_id"), lit(2)) === 0)
      val (_, hist) = graft.llm.Bpe.trainWordpiece(sample, col("text"), steps = 4)
      import s.implicits._
      hist.toDF("step", "pair", "cnt").orderBy("step")
    }),

    "q_wordpiece_train_tiny" -> ((s, d) => {
      // pairs exhaust BEFORE the requested 4 steps: two copies of the
      // 3-letter word "nat" (nation-name prefixes) merge at steps 1-2
      // and run dry at step 3. Pins the load-bearing equivalence between
      // trainWordpiece's early stop and the oracle's NULL-propagating
      // always-unrolled CTE chain (see wordpieceTrainOracleSql).
      val tiny = t(s, d, "nation").filter(col("n_nationkey") < 2)
        .select(lower(substring(col("n_name"), 1, 3)).as("text"))
      val (_, hist) = graft.llm.Bpe.trainWordpiece(tiny, col("text"), steps = 4)
      import s.implicits._
      hist.toDF("step", "pair", "cnt").orderBy("step")
    }),

    "q_bpe_train_byte" -> ((s, d) => {
      // byte-level BPE training (how GPT-2-family vocabularies are built):
      // the same 4-step argmax loop as q_bpe_train, but over GPT-2
      // pretokenized pieces in the mapped alphabet; text is single-space
      // normalized so the oracle's lookahead-free pretokenizer replay is
      // exact (same preconditions as q_bpe_byte_level, loudly guarded)
      val sample = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(regexp_replace(trim(coalesce(col("text"), lit(""))), "\\s+", " ")
          .as("text"))
      val (_, hist) = graft.llm.Bpe.train(sample, col("text"), steps = 4,
        byteLevel = true)
      import s.implicits._
      hist.toDF("step", "pair", "cnt").orderBy("step")
    }),

    "q_bpe_encode" -> ((s, d) =>
      // map-only BPE encode under the fixed demo merge table: symbol count
      // + md5 of the full delimited tokenization (pins the exact symbol
      // sequence, not just counts). The merge loop is literal `replace` on
      // exact symbol boundaries — the oracle replays it verbatim in SQL
      t(s, d, "documents")
        .withColumn("__enc", graft.llm.Bpe.encodeText(col("text"), bpeDemoMerges))
        .select(col("doc_id"),
          graft.llm.Bpe.symbolCount(col("__enc")).as("n_bpe"),
          md5(col("__enc").cast("binary")).as("enc_md5"))
        .orderBy("doc_id")),

    "q_bpe_byte_level" -> ((s, d) =>
      // byte-level BPE (the GPT-2/RoBERTa/Llama family): GPT-2 regex
      // pretokenization → byte→unicode map (space → Ġ) → canonical merges
      // in the mapped alphabet. Text is single-space-normalized first so
      // the oracle can restate the pretokenizer WITHOUT its lookahead
      // (`\s+(?!\S)` only matters on multi-space runs; RE2 has no
      // lookahead) — the lookahead path itself is spec-pinned
      // (BpeByteLevelSpec). Guarded printable-ASCII so `\p{L}` ≡ [A-Za-z]
      // and the byte map reduces to the space rule the oracle replays.
      t(s, d, "documents")
        .withColumn("__enc", graft.llm.Bpe.byteLevelEncode(
          regexp_replace(trim(coalesce(col("text"), lit(""))), "\\s+", " "),
          byteLevelDemoMerges))
        .select(col("doc_id"),
          graft.llm.Bpe.symbolCount(col("__enc")).as("n_tokens"),
          md5(col("__enc").cast("binary")).as("enc_md5"))
        .orderBy("doc_id")),

    "q_bpe_ids" -> ((s, d) =>
      // the COMPLETE tokenize-to-ids path: byte-level BPE encode →
      // per-executor vocabulary hash map → id arrays (unk = -1) — what
      // Pack.packTokens consumes; same normalization/ASCII preconditions
      // as q_bpe_byte_level, ids restated via list_position over the
      // inlined vocab
      t(s, d, "documents")
        .withColumn("__ids", graft.llm.Bpe.tokenIds(
          graft.llm.Bpe.byteLevelEncode(
            regexp_replace(trim(coalesce(col("text"), lit(""))), "\\s+", " "),
            byteLevelDemoMerges),
          byteBpeDemoVocab, unkId = -1))
        .select(col("doc_id"), size(col("__ids")).as("n_ids"),
          md5(concat_ws(",", transform(col("__ids"), i => i.cast("string")))
            .cast("binary")).as("ids_md5"))
        .orderBy("doc_id")),

    "q_tokenize_hf_import" -> ((s, d) => {
      // id-for-id encoding under an IMPORTED HuggingFace tokenizer.json —
      // the portability seam: the file (GPT-2 format: byte-level
      // pretokenization, explicit NON-CONTIGUOUS ids 3·pos+7 so the id
      // MAP is exercised, not list positions) is a query parameter
      // written first; the TOML TokenizeIds filter then encodes the
      // corpus under it. The oracle replays the same byte-level merge
      // chain and maps each symbol through the same 3·pos+7 arithmetic —
      // any drift in import parsing, merge order, or the explicit-id
      // map breaks the hash. Same normalization/ASCII preconditions as
      // q_bpe_ids.
      val dir = qTmpDir("hfimport-q")
      graft.llm.HfTokenizer.exportBpe(s"$dir/tok.json",
        vocab = byteBpeDemoVocab.zipWithIndex
          .map { case (p, i) => (p, 3 * i + 7) },
        merges = byteLevelDemoMerges, byteLevel = true)
      val toml =
        s"""[fields]
           |names = ["doc_id", "text"]
           |[input]
           |name = "Parquet"
           |  [input.config]
           |  Path = "$d/documents.parquet"
           |[[filter]]
           |name = "SqlExpr"
           |  [filter.config]
           |  DstField = "text"
           |  # four escape layers deep (Scala, TOML, Spark SQL literal):
           |  # the regex that reaches regexp_replace is whitespace-runs.
           |  # the planted 'q9 ' prefix forces an OUT-OF-VOCAB symbol
           |  # ('9') into every document, so the unk path of the id map
           |  # is exercised at every SF — the corpus itself is digit-free
           |  # and a latent unk-handling bug would otherwise hide until a
           |  # larger corpus introduced one (the r18 sf1 list_position
           |  # lesson: DuckDB 1.0 returns 0, not NULL, for absent)
           |  Expr = "concat('q9 ', regexp_replace(trim(coalesce(text, '')), '\\\\\\\\s+', ' '))"
           |[[filter]]
           |name = "TokenizeIds"
           |  [filter.config]
           |  SrcField = "text"
           |  DstField = "ids"
           |  CountField = "n_ids"
           |  VocabPath = "$dir/tok.json"
           |[output]
           |name = "Nop"
           |fields = ["doc_id", "ids", "n_ids"]
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_ids").cast("int").as("n_ids"),
          md5(col("ids").cast("binary")).as("ids_md5"))
        .orderBy("doc_id")
    }),

    "q_tokenize_hf_metaspace" -> ((s, d) => {
      // the SentencePiece-converted (Metaspace unigram) import path: the
      // file — written first, a query parameter — declares `Metaspace
      // prepend_scheme=always` and a Unigram vocab whose ids are LIST
      // POSITIONS; TokenizeIds imports it and applies the FILE's word
      // bound (none — up to the 63-code-point Viterbi ceiling), not the
      // engine's sidecar default of 10. Text is canonically normalized
      // (lower, non-alnum → one space) so every ▁-word is lowercase
      // alnum and the whole char alphabet is in the vocab — no
      // silent-drop path. The vocab makes the Viterbi argmin CLOSED
      // FORM: ▁-whole-word pieces cost 50, ▁ and every char 90, so
      // covering one more char with the whole piece strictly lowers
      // cost — the longest ▁-whole PREFIX wins and chars cover the
      // rest, uniquely (one whole piece max per word: all start with ▁
      // and words carry no interior ▁). The oracle replays exactly that
      // rule over the same inlined tables.
      val dir = qTmpDir("hfmeta-q")
      val vocabJson = hfMetaPieces.map { case (p, c) =>
        s"""["$p", ${if (c == 0) "0.0" else s"-${c.toDouble / 64}"}]"""
      }.mkString(", ")
      val json =
        s"""{"pre_tokenizer": {"type": "Metaspace", "replacement": "▁",
           |                   "prepend_scheme": "always"},
           | "model": {"type": "Unigram", "unk_id": 0,
           |           "vocab": [$vocabJson]}}""".stripMargin
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "meta.json"), json.getBytes("UTF-8"))
      val toml =
        s"""[fields]
           |names = ["doc_id", "text"]
           |[input]
           |name = "Parquet"
           |  [input.config]
           |  Path = "$d/documents.parquet"
           |[[filter]]
           |name = "SqlExpr"
           |  [filter.config]
           |  DstField = "text"
           |  # the planted 'thekeys9' word guarantees the PARTIAL-prefix
           |  # branch fires at every SF: its longest ▁-whole prefix is
           |  # '▁the' and the k/e/y/s/9 remainder walks the char (and
           |  # digit) fallback — without it a fixture could leave the
           |  # oracle's ELSE branch vacuously untested (the r18 unk-mask
           |  # lesson: untested oracle paths are latent false greens)
           |  Expr = "trim(concat('thekeys9 ', trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' '))))"
           |[[filter]]
           |name = "TokenizeIds"
           |  [filter.config]
           |  SrcField = "text"
           |  DstField = "ids"
           |  CountField = "n_ids"
           |  VocabPath = "$dir/meta.json"
           |[output]
           |name = "Nop"
           |fields = ["doc_id", "ids", "n_ids"]
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_ids").cast("int").as("n_ids"),
          md5(col("ids").cast("binary")).as("ids_md5"))
        .orderBy("doc_id")
    }),

    "q_tokenize_hf_bert" -> ((s, d) => {
      // the BERT-format import path end to end: BertNormalizer (clean +
      // NFD accent-strip + lowercase), BertPreTokenizer (punctuation
      // isolation), WordPiece under the FILE's explicit non-contiguous
      // ids and its OWN max_input_chars_per_word = 8 (words longer
      // collapse whole to the file's [UNK] id — the bound the oracle
      // restates directly), [CLS]/[SEP] wrapped from the
      // TemplateProcessing template. The planted accented prefix
      // ('Éxtra, café9 ') makes the accent-strip, punctuation-split,
      // digit-continuation and whole-word-unk paths fire in EVERY
      // document at every SF; the corpus remainder is stripped to
      // printable ASCII so clean/NFD are identity there and the oracle
      // restates lowercase + punct isolation verbatim.
      val dir = qTmpDir("hfbert-q")
      val vocabJson = hfBertVocab
        .map { case (p, id) => s""""$p": $id""" }.mkString(", ")
      val json =
        s"""{"normalizer": {"type": "BertNormalizer", "clean_text": true,
           |   "handle_chinese_chars": true, "strip_accents": null,
           |   "lowercase": true},
           | "pre_tokenizer": {"type": "BertPreTokenizer"},
           | "post_processor": {"type": "TemplateProcessing",
           |   "single": [{"SpecialToken": {"id": "[CLS]", "type_id": 0}},
           |              {"Sequence": {"id": "A", "type_id": 0}},
           |              {"SpecialToken": {"id": "[SEP]", "type_id": 0}}],
           |   "special_tokens": {
           |     "[CLS]": {"id": "[CLS]", "ids": [101], "tokens": ["[CLS]"]},
           |     "[SEP]": {"id": "[SEP]", "ids": [102], "tokens": ["[SEP]"]}}},
           | "model": {"type": "WordPiece", "unk_token": "[UNK]",
           |   "continuing_subword_prefix": "##",
           |   "max_input_chars_per_word": 8,
           |   "vocab": {$vocabJson}}}""".stripMargin
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "bert.json"), json.getBytes("UTF-8"))
      val toml =
        s"""[fields]
           |names = ["doc_id", "text"]
           |[input]
           |name = "Parquet"
           |  [input.config]
           |  Path = "$d/documents.parquet"
           |[[filter]]
           |name = "SqlExpr"
           |  [filter.config]
           |  DstField = "text"
           |  Expr = "concat('Éxtra, café9 ', regexp_replace(coalesce(text, ''), '[^ -~]+', ' '))"
           |[[filter]]
           |name = "TokenizeIds"
           |  [filter.config]
           |  SrcField = "text"
           |  DstField = "ids"
           |  CountField = "n_ids"
           |  VocabPath = "$dir/bert.json"
           |[output]
           |name = "Nop"
           |fields = ["doc_id", "ids", "n_ids"]
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_ids").cast("int").as("n_ids"),
          md5(col("ids").cast("binary")).as("ids_md5"))
        .orderBy("doc_id")
    }),

    "q_bpe_roundtrip" -> ((s, d) => {
      // the losslessness LAW: text → byte-level BPE → vocabulary ids →
      // decode must reproduce the input byte-for-byte (the byte map is a
      // bijection, merges only regroup symbols, the vocabulary covers
      // every emitted symbol — a coverage gap decodes out of range and
      // fails loudly). The oracle states decode∘encode = id directly:
      // both md5 columns are md5(text); only a real decode can match.
      val vocab = byteBpeRoundtripVocab
      val dec = graft.llm.Bpe.byteLevelDecode(
        graft.llm.Bpe.tokenIds(
          graft.llm.Bpe.byteLevelEncode(col("text"), byteLevelDemoMerges),
          vocab, unkId = vocab.size),
        vocab)
      t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("orig_md5"),
          md5(dec.cast("binary")).as("dec_md5"))
        .orderBy("doc_id")
    }),

    "q_bpe_offsets" -> ((s, d) => {
      // token offsets + span→token loss-mask projection, one row per BPE
      // symbol. Two offset bases on purpose: the NORMALIZED (single-space)
      // offsets are DuckDB-derivable (prefix sums over word/piece lengths
      // — every s/e restated NUMERICALLY), while `raw_sub` slices the
      // ORIGINAL text at raw-text offsets and must reproduce the token
      // string, pinning the multi-space/leading-whitespace path no prefix
      // sum can restate. `masked` is the overlap test against a
      // doc_id-derived attribute span, checked because the oracle derives
      // the same overlaps from its own offsets.
      //
      // ONE native walk (BpeEncodeOffsets: tokenize + merge + both offset
      // bases in one JVM pass), then every per-token output field is a
      // plain codegen'd scalar over the exploded rows. Earlier composed
      // drafts measured 8.3 s then 3.5 s at sf0.1 on the single-row-group
      // bench file (interpreted HOF lambdas over ~1M tokens); no global
      // sort (the driver compare is row-order-insensitive).
      val docs = t(s, d, "documents")
      val textC = coalesce(col("text"), lit(""))
      val toks = graft.llm.Bpe.encodeWithOffsets(col("text"), bpeDemoMerges)
      val lo = (col("doc_id") % 11).cast("int")
      val hi = (col("doc_id") % 11 + 6).cast("int")
      docs.select(col("doc_id"), lo.as("__lo"), hi.as("__hi"),
          textC.as("__t"), posexplode(toks).as(Seq("ti", "tk")))
        .select(col("doc_id"), col("ti").cast("int").as("ti"),
          col("tk.tok").as("tok"),
          col("tk.norm_s").as("s"), col("tk.norm_e").as("e"),
          col("__t").substr(col("tk.s") + 1,
            col("tk.e") - col("tk.s")).as("raw_sub"),
          (col("__lo") < col("tk.norm_e") &&
            col("tk.norm_s") < col("__hi")).as("masked"))
    }),

    "q_unigram_segment" -> ((s, d) =>
      // SentencePiece-style OPTIMAL segmentation: per-word Viterbi DP in
      // the native expression (lexicographic (cost, pieces) packed into
      // one long), doc stats via map-only array folds — zero shuffles
      graft.llm.UnigramSegment.segmentStats(t(s, d, "documents"), "doc_id",
        "text", usDemoVocab)
        .orderBy("doc_id")),

    "q_unigram_train" -> ((s, d) =>
      // unigram-LM (SentencePiece-style) vocabulary TRAINING — integer-
      // exact Viterbi-EM: substring seed, bit-length-quantized -log2
      // costs, native Viterbi E-step piece counts (map-only over the
      // distinct-word table + one bounded agg per round), count-ordered
      // prune, two rounds. The oracle replays the whole build unrolled
      // (DP per end position, backtrace per step)
      graft.llm.UnigramTrain.train(t(s, d, "documents"), "text")
        .orderBy("piece")),

    "q_unigram_train_segment" -> ((s, d) => {
      // the SentencePiece capstone: TRAIN the unigram vocabulary, then
      // SEGMENT the corpus under the learned costs — per-doc integer
      // stats from the native Viterbi scorer, the q_pack_ids_greedy
      // treatment for the unigram family. The oracle chains the whole
      // training replay into the per-doc segmentation DP.
      val trained = graft.llm.UnigramTrain.train(t(s, d, "documents"), "text")
        .collect().map(r => r.getString(0) -> r.getLong(2).toInt).toSeq
      graft.llm.UnigramSegment.segmentStats(t(s, d, "documents"), "doc_id",
        "text", trained, unkCost = 1000, maxWordLen = 10)
        .orderBy("doc_id")
    }),

    "q_pack_ids_unigram" -> ((s, d) => {
      // the SentencePiece SFT capstone: TRAIN the unigram vocabulary,
      // segment raw text into its ORDERED Viterbi pieces (the native
      // expression emits words in order, pieces forward within each
      // word), map pieces to vocabulary ids, and pack into no-split
      // training rows — q_pack_ids_greedy with the unigram family as the
      // tokenizer. Mask is all-real (pieces are vocabulary members by
      // construction); words beyond the trainer's maxWordLen are skipped
      // on both sides.
      val trained = graft.llm.UnigramTrain.train(t(s, d, "documents"), "text")
        .collect().map(r => (r.getString(0), r.getLong(2).toInt)).toSeq
      val vocabIdx: Seq[String] = trained.map(_._1)
      val pcs = org.apache.spark.sql.GraftShims.toColumn(
        graft.functions.UnigramViterbiPieces(
          org.apache.spark.sql.GraftShims.toExpression(
            TF.tokens(col("text"))), trained, maxWordLen = 10))
      val docs = t(s, d, "documents")
        .withColumn("__ids", org.apache.spark.sql.GraftShims.toColumn(
          graft.functions.VocabIds(
            org.apache.spark.sql.GraftShims.toExpression(pcs),
            vocabIdx, unkId = -1)))
      val msk = transform(col("__ids"), _ => lit(true))
      val shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
        lit(4))
      def joined(c: org.apache.spark.sql.Column) =
        array_join(transform(c, x => x.cast("string")), ",")
      graft.llm.Pack.packTokensGreedy(docs, col("doc_id"), col("__ids"), msk,
          1024, shard, padId = -2)
        .select(col("shard"), col("seq_id"),
          md5(joined(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(joined(col("segment_ids")).cast("binary")).as("seg_md5"),
          md5(joined(transform(col("loss_mask"), m => m.cast("int")))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),

    "q_topology_tokenize" -> ((s, d) => {
      // the SFT path PURELY FROM CONFIG — no Scala between the TOMLs:
      // job A trains the unigram vocabulary via the job-level [tokenizer]
      // section and persists the (id, piece, cost) sidecar; job B maps
      // text to Viterbi token ids under that sidecar (TokenizeIds) and
      // packs them into fixed-budget training rows (PackRows). Semantics
      // identical to q_pack_ids_unigram's API path (same trainer
      // defaults, ids by the trainer's UTF-8 piece order, budget 1024,
      // multiplicative shard hash, pad -2), so the oracle is SHARED
      // verbatim — the config path must reproduce the API path bit-for-bit
      val dir = qTmpDir("toktoml-q")
      val trainToml =
        s"""[fields]
           |names = ["doc_id", "text"]
           |[input]
           |name = "Parquet"
           |  [input.config]
           |  Path = "$d/documents.parquet"
           |[tokenizer]
           |Method = "unigram"
           |SrcField = "text"
           |VocabPath = "$dir/vocab"
           |[output]
           |name = "Nop"
           |""".stripMargin
      graft.topology.Topology.compileToml(s, trainToml).run()
      val packToml =
        s"""[fields]
           |names = ["doc_id", "text"]
           |[input]
           |name = "Parquet"
           |  [input.config]
           |  Path = "$d/documents.parquet"
           |[[filter]]
           |name = "TokenizeIds"
           |  [filter.config]
           |  SrcField = "text"
           |  DstField = "ids"
           |  VocabPath = "$dir/vocab"
           |[[filter]]
           |name = "PackRows"
           |  [filter.config]
           |  IdsField = "ids"
           |  OrderField = "doc_id"
           |[output]
           |name = "Nop"
           |fields = ["shard", "seq_id", "input_ids", "segment_ids", "loss_mask", "n_real"]
           |""".stripMargin
      graft.topology.Topology.compileToml(s, packToml).projected
        .select(col("shard"), col("seq_id"),
          md5(col("input_ids").cast("binary")).as("ids_md5"),
          md5(col("segment_ids").cast("binary")).as("seg_md5"),
          md5(col("loss_mask").cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),

    "q_topology_sft" -> ((s, d) => {
      // q_topology_tokenize WITH the special tokens on the CONFIG
      // surface: the same two TOML jobs (unigram train → TokenizeIds →
      // PackRows), but PackRows sets EosId/BosId/SepId — the last gap
      // between "packed rows" and TRAINABLE rows reachable without
      // Scala. BOS -5 prepends input-only, EOS -4 appends trained-on,
      // SEP -6 lands between documents of a sequence with the preceding
      // document's segment and mask 0. The oracle is the unigram replay
      // with the terminator extension + separator-aware break-chain tail,
      // so every special-token POSITION hash-checks from raw text through
      // config alone.
      val dir = qTmpDir("sfttoml-q")
      val trainToml =
        s"""[fields]
           |names = ["doc_id", "text"]
           |[input]
           |name = "Parquet"
           |  [input.config]
           |  Path = "$d/documents.parquet"
           |[tokenizer]
           |Method = "unigram"
           |SrcField = "text"
           |VocabPath = "$dir/vocab"
           |[output]
           |name = "Nop"
           |""".stripMargin
      graft.topology.Topology.compileToml(s, trainToml).run()
      val packToml =
        s"""[fields]
           |names = ["doc_id", "text"]
           |[input]
           |name = "Parquet"
           |  [input.config]
           |  Path = "$d/documents.parquet"
           |[[filter]]
           |name = "TokenizeIds"
           |  [filter.config]
           |  SrcField = "text"
           |  DstField = "ids"
           |  VocabPath = "$dir/vocab"
           |[[filter]]
           |name = "PackRows"
           |  [filter.config]
           |  IdsField = "ids"
           |  OrderField = "doc_id"
           |  EosId = -4
           |  BosId = -5
           |  SepId = -6
           |[output]
           |name = "Nop"
           |fields = ["shard", "seq_id", "input_ids", "segment_ids", "loss_mask", "n_real"]
           |""".stripMargin
      graft.topology.Topology.compileToml(s, packToml).projected
        .select(col("shard"), col("seq_id"),
          md5(col("input_ids").cast("binary")).as("ids_md5"),
          md5(col("segment_ids").cast("binary")).as("seg_md5"),
          md5(col("loss_mask").cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),

    "q_topology_wordpiece" -> ((s, d) => {
      // Method=wordpiece on the TOML surface: a constant merge-rule
      // sidecar (wpTomlDemoMerges, persisted exactly as a [tokenizer]
      // train job would) decodes the BERT way — greedy longest-match over
      // the rules' surfaces with ## continuations, ids = rule index,
      // unsplittable words → UnkId (-1), whole-word gate at MaxWordLen.
      // The oracle replays the greedy cursor loop over the same surfaces.
      val dir = qTmpDir("wptoml-q")
      import s.implicits._
      wpTomlDemoMerges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, s"$a $b", 1L) }
        .toDF("id", "piece", "cost")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
      val toml =
        s"""[fields]
           |names = ["doc_id", "text"]
           |[input]
           |name = "Parquet"
           |  [input.config]
           |  Path = "$d/documents.parquet"
           |[[filter]]
           |name = "TokenizeIds"
           |  [filter.config]
           |  SrcField = "text"
           |  DstField = "ids"
           |  VocabPath = "$dir/vocab"
           |  Method = "wordpiece"
           |[output]
           |name = "Nop"
           |fields = ["doc_id", "ids"]
           |""".stripMargin
      graft.topology.Topology.compileToml(s, toml).projected
        .select(col("doc_id").cast("long").as("doc_id"), col("ids"))
        .orderBy("doc_id")
    }),

    "q_unigram_fertility" -> ((s, d) => {
      // the tokenizer-evaluation report for the TRAINED unigram
      // vocabulary: per language, docs / words / pieces / unks under the
      // learned costs — the fertility comparison a vocabulary build is
      // judged by (integer sufficient statistics; pieces-per-word derives
      // in one expression). Composes the train chain with the native
      // Viterbi scorer; the oracle aggregates the same replayed combs by
      // language.
      val trained = graft.llm.UnigramTrain.train(t(s, d, "documents"), "text")
        .collect().map(r => r.getString(0) -> r.getLong(2).toInt).toSeq
      graft.llm.UnigramSegment.segmentStats(t(s, d, "documents"), "doc_id",
          "text", trained, unkCost = 1000, maxWordLen = 10)
        .join(t(s, d, "documents").select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("sum_words"),
          sum("total_pieces").as("sum_pieces"),
          sum("n_unk").as("sum_unk"))
        .orderBy("lang")
    }),

    "q_wordpiece" -> ((s, d) =>
      // greedy longest-match-first WordPiece under the fixed demo vocab:
      // map-only (the vocab is a codegen reference object inside the
      // native expression, never a join); the oracle unrolls the cursor
      // loop into chained scalar-subquery CTE steps
      graft.llm.Wordpiece.encode(t(s, d, "documents"), "doc_id", "text",
        wpDemoVocab)
        .orderBy("doc_id")),

    "q_bpe_encode_native" -> ((s, d) =>
      // the PRODUCTION encode shape: this table sits at NativeEncodeThreshold,
      // so encodeText routes through the native BpeEncodeWords expression
      // (merge table = ONE codegen reference object, not 64 plan nodes).
      // The rules pair digits, which the fixture corpus provably lacks
      // (the driver's generator emits alphabetic word soup), so the merge
      // loop — which still rank-scans every adjacent symbol pair of every
      // word — provably leaves the bare delimiter-wrapped char split,
      // statable exactly in SQL. Native ≡ chained on FIRING tables is
      // BpePropertySpec's property test.
      t(s, d, "documents")
        .withColumn("__enc", graft.llm.Bpe.encodeText(col("text"), bpeNativeDemoMerges))
        .select(col("doc_id"),
          graft.llm.Bpe.symbolCount(col("__enc")).as("n_bpe"),
          md5(col("__enc").cast("binary")).as("enc_md5"))
        .orderBy("doc_id")),

    "q_c4_filters" -> ((s, d) => {
      // C4-style page cleaning over a deterministically planted multi-line
      // page (the fixture is single-line word soup, so — like q_redact_pii —
      // the query plants the structure it scrubs: terminal-punct line,
      // too-short line, javascript line, conditional lorem-ipsum marker,
      // length-dependent closing line). Oracle rebuilds the identical page
      val page = concat(
        substring(col("text"), 1, 80), lit(" end of line one."), lit("\n"),
        lit("tiny line."), lit("\n"),
        lit("get this javascript widget now with one easy click."), lit("\n"),
        lit("lorem "),
        when(col("doc_id") % 7 === 0, lit("ipsum")).otherwise(lit("harmless")),
        lit(" marker line with plenty of words"),
        when(col("doc_id") % 2 === 0, lit(" today.")).otherwise(lit(" today")),
        lit("\n"),
        substring(col("text"), 81, 60), lit(" and the closing words!"))
      t(s, d, "documents").filter(col("text") =!= "")
        .withColumn("__page", page)
        .withColumn("__kept", TF.c4KeptLines(col("__page")))
        .select(col("doc_id"),
          size(col("__kept")).as("n_kept"),
          TF.c4Passes(col("__page")).as("passes"),
          md5(array_join(col("__kept"), "\n").cast("binary")).as("kept_md5"))
        .orderBy("doc_id")
    }),

    "q_html_extract" -> ((s, d) => {
      // WET-style HTML extraction over a deterministically planted page
      // (the fixture is plain word soup, so — like q_c4_filters — the
      // query plants the markup it strips: script with a fake closing
      // tag inside a string, style, comment, entities, two links). The
      // oracle rebuilds the identical page and replays the same shared
      // java-regex/RE2 pattern sequence.
      val page = concat(
        lit("<html><head><title> Doc "), col("doc_id").cast("string"),
        lit(" &amp; friends </title>"),
        lit("<style type=\"text/css\">body { color: #000; }</style></head>"),
        lit("<body><!-- nav\nboilerplate --><h1>Heading</h1><p>"),
        substring(col("text"), 1, 120),
        lit("</p><script>var x = 1 < 2 && \"</p>\";</script>"),
        lit("<a href=\"https://x.test/a\">one</a> <a href=\"https://x.test/b\">two</a>"),
        lit("<div>&lt;tag&gt;&nbsp;&quot;quoted&quot; &#39;q&#39; &amp; done</div>"),
        lit("</body></html>"))
      t(s, d, "documents").filter(col("text") =!= "")
        .withColumn("__page", page)
        .select(col("doc_id"),
          TF.htmlToText(col("__page")).as("text_out"),
          TF.htmlTitle(col("__page")).as("title"),
          TF.htmlLinkCount(col("__page")).as("n_links"))
        .orderBy("doc_id")
    }),

    "q_html_main_text" -> ((s, d) => {
      // readability/jusText MAIN-CONTENT extraction — the boilerplate
      // removal step ahead of the C4/Gopher quality stack: the planted
      // page wraps each document's prose in <article><p> blocks between
      // a nav bar, a cookie banner, an aside and a footer (short or
      // link-dense — all must drop). The block scores bind once and feed
      // md5/len/counts through one explode (single evaluation site;
      // HtmlMainTextSpec pins this rebuild equal to TF.htmlMainText).
      val page = mainDemoPage(col("text"))
      val scored = TF.bindOnce(TF.htmlBlockScores(page)) { b =>
        val kept = filter(b, x =>
          x.getField("len") >= 30 &&
            x.getField("link_chars").cast("double") <=
              lit(0.33) * x.getField("len").cast("double"))
        val main = array_join(transform(kept, _.getField("text")), "\n")
        struct(
          md5(main.cast("binary")).as("main_md5"),
          length(main).as("main_len"),
          size(b).as("n_blocks"),
          size(kept).as("n_kept"))
      }
      t(s, d, "documents").filter(col("text") =!= "")
        .select(col("doc_id"), explode(array(scored)).as("__s"))
        .select(col("doc_id"), col("__s.main_md5"), col("__s.main_len"),
          col("__s.n_blocks"), col("__s.n_kept"))
        .orderBy("doc_id")
    }),

    "q_main_content_funnel" -> ((s, d) => {
      // the extractor FEEDING the quality stack — the composition the
      // main-content work exists for: htmlMainText removes the
      // nav/cookie/footer boilerplate, then the C4 line gate scores only
      // the extracted prose. Planted page: paragraph 1 survives both
      // gates, "short." dies at the extractor's length gate, paragraph 3
      // (no terminal punctuation) survives extraction but dies at C4 —
      // one row shows each funnel stage doing its own job. Both stages
      // bind once (the extractor and its kept-lines array each evaluate
      // at ONE site under the explode trick).
      val page = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body>"),
        lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About us</a> " +
          "<a href=\"/contact\">Contact</a></nav>"),
        lit("<div class=\"cookie\">We use cookies. " +
          "<a href=\"/privacy\">Learn more</a></div>"),
        lit("<article><p>"), substring(col("text"), 1, 200),
        lit(" properly ends the paragraph here.</p>"),
        lit("<p>short.</p>"),
        lit("<p>"), substring(col("text"), 201, 150),
        lit(" this paragraph never terminates properly</p></article>"),
        lit("<footer>(c) 2026 <a href=\"/tos\">Terms</a> " +
          "<a href=\"/priv\">Privacy</a></footer>"),
        lit("</body></html>"))
      val stats = TF.bindOnce(TF.htmlMainText(page)) { m =>
        TF.bindOnce(TF.c4KeptLines(m)) { kept =>
          struct(
            when(m === "", lit(0)).otherwise(size(split(m, "\n")))
              .as("n_main_blocks"),
            size(kept).as("n_c4_kept"),
            // c4Passes restated over the bound kept array (same rule —
            // calling c4Passes(m) would re-split and re-filter m)
            (!lower(m).contains("lorem ipsum") && size(kept) >= 3)
              .as("c4_passes"),
            md5(array_join(kept, "\n").cast("binary")).as("kept_md5"))
        }
      }
      t(s, d, "documents").filter(col("text") =!= "")
        .select(col("doc_id"), explode(array(stats)).as("__s"))
        .select(col("doc_id"), col("__s.n_main_blocks"), col("__s.n_c4_kept"),
          col("__s.c4_passes"), col("__s.kept_md5"))
        .orderBy("doc_id")
    }),

    "q_pack_bpe" -> ((s, d) =>
      // the tokenizer feeding the packer: per-doc BPE symbol counts
      // (map-only) become the packing budget unit — "tokenize, then pack
      // into fixed token windows", the end-to-end shape of pretraining
      // data prep. Still exactly one shuffle (the shard window)
      graft.llm.Pack.concatChunk(
          t(s, d, "documents").withColumn("n_bpe",
            graft.llm.Bpe.symbolCount(
              graft.llm.Bpe.encodeText(col("text"), bpeDemoMerges))),
          col("doc_id"), col("n_bpe"), budget = 1024,
          pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(8)))
        .select("doc_id", "n_bpe", "shard", "seq_id", "seq_offset")
        .orderBy("doc_id")),

    "q_salted_collect" -> ((s, d) =>
      // skew-proof holistic aggregation: per-type user lists collected via
      // two bounded salted exchanges; sorted join makes the output
      // deterministic regardless of bucket interleaving
      graft.operators.Salt.saltedCollect(
          t(s, d, "events"), Seq("event_type"), col("user_id"), parts = 8)
        .select(col("event_type"),
          array_join(transform(array_sort(col("values")), _.cast("string")), " ")
            .as("users"))
        .orderBy("event_type")),

    "q_distinct_users" -> ((s, d) =>
      // exact distinct per group — the baseline the sketch path approximates
      t(s, d, "events")
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("event_type")),

    "q_sketch_distinct" -> ((s, d) => {
      // mergeable HLL path: per-(type, day) sketches persisted conceptually,
      // rolled up to per-type without rescanning raw rows. The DataSketches
      // estimate itself can't be recomputed by a SQL oracle, so the query
      // emits the oracle-checkable CONTRACT instead: the exact count plus a
      // boolean asserting the rolled-up estimate landed within the sketch's
      // error budget — if the sketch path drifts, within_3pct flips and the
      // hash check fails. SketchesSpec additionally asserts rollup==direct.
      val ev = t(s, d, "events").withColumn("day", to_date(col("ts")))
      val daily = graft.llm.Sketches.distinctSketch(
        ev, Seq("event_type", "day"), "user_id")
      val approx = graft.llm.Sketches.rollup(daily, Seq("event_type"))
        .select(col("event_type"),
          graft.llm.Sketches.estimate(col("sketch")).as("approx_users"))
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_users"))
      approx.join(exact, "event_type")
        .select(col("event_type"), col("n_users"),
          (abs(col("approx_users") - col("n_users")) <=
            col("n_users") * lit(0.03)).as("within_3pct"))
        .orderBy("event_type")
    }),

    "q_heavy_hitters" -> ((s, d) => {
      // mergeable count-min frequency sketch per event type — the
      // heavy-hitters analogue of the HLL path, same oracle strategy:
      // check the CMS CONTRACT (estimate ≥ exact, ≤ exact + eps·N), which
      // is deterministic for a fixed seed, rather than the estimate itself
      val ev = t(s, d, "events")
      val cmsEps = 0.001 // one binding for the sketch width AND the bound
      val sk = graft.llm.Sketches.freqSketch(ev, Seq("event_type"), "user_id",
        eps = cmsEps)
      val exact = ev.filter(col("user_id") < 3)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      val est = graft.llm.Sketches.cmsEstimate(col("cms"), col("user_id"))
      exact.join(sk, Seq("event_type"))
        .select(col("event_type"), col("user_id"), col("cnt"),
          (est >= col("cnt") &&
            est <= col("cnt") + ceil(lit(cmsEps) * col("cms_n")).cast("long"))
            .as("within_eps"))
        .orderBy("event_type", "user_id")
    }),

    "q_bloom_membership" -> ((s, d) => {
      // per-type Bloom filter of the user set; the oracle checks the
      // no-false-negatives contract: every truly-present probe must hit
      val ev = t(s, d, "events")
      val sk = graft.llm.Sketches.bloomSketch(ev, Seq("event_type"), "user_id",
        expectedItems = 100000L)
      val present = ev.filter(col("user_id") < 3)
        .select("event_type", "user_id").distinct()
      present.join(sk, Seq("event_type"))
        .select(col("event_type"), col("user_id"),
          graft.llm.Sketches.bloomMightContain(col("bloom"), col("user_id"))
            .as("found"))
        .orderBy("event_type", "user_id")
    }),

    "q_hist_quantiles" -> ((s, d) => {
      // mergeable quantile path: per-group HDR-style log-binned histograms
      // (algebraic sums, map-side combined, fixed state per group) with
      // quantiles interpolated from the bins. Unlike percentile_approx's
      // digest, every step is deterministic arithmetic, so the oracle
      // replicates it exactly (builder below mirrors bin/interp math)
      import graft.llm.Sketches
      val sk = Sketches.histSketch(
        t(s, d, "lineitem"), Seq("l_returnflag"), "l_extendedprice", histBounds)
      sk.select(col("l_returnflag"),
          aggregate(col("hist"), lit(0L), (a, x) => a + x).as("total"),
          round(Sketches.histQuantile(col("hist"), histBounds, 0.5), 4).as("p50"),
          round(Sketches.histQuantile(col("hist"), histBounds, 0.99), 4).as("p99"))
        .orderBy("l_returnflag")
    }),

    "q_range_join" -> ((s, d) => {
      // bucketized point-in-interval join: every event lands in exactly one
      // of its user's sessions (session windows tile the event stream)
      val ev = t(s, d, "events")
      val sessions = graft.streaming.EventTime.sessionize(ev, "ts", "user_id", gap = "6 hours")
        .select(col("user_id"), col("session_start"), col("session_end"))
      graft.operators.RangeJoin.pointInInterval(
          ev.select("event_id", "user_id", "ts"), sessions,
          Seq("user_id"), "ts", "session_start", "session_end",
          bucketWidthMicros = 6L * 3600 * 1000000)
        .select("event_id", "user_id", "session_start")
        .orderBy("event_id")
    }),

    "q_interval_join" -> ((s, d) => {
      // interval-overlap join: click intervals vs view intervals per user,
      // both sides bucketized (1-hour buckets over intervals of up to
      // ~10 h); each overlapping pair is accepted only in the bucket
      // containing max(starts), so no post-join distinct exists
      val ev = t(s, d, "events")
      def side(tpe: String, p: String) = ev.filter(col("event_type") === tpe)
        .select(col("event_id").as(s"${p}_id"), col("user_id"),
          col("ts").as(s"${p}_start"),
          expr("timestampadd(SECOND, CAST(floor(value) AS BIGINT) * 60, ts)")
            .as(s"${p}_end"))
      graft.operators.RangeJoin.intervalOverlap(
          side("click", "l"), side("view", "r"), Seq("user_id"),
          "l_start", "l_end", "r_start", "r_end",
          bucketWidthMicros = 3600L * 1000000)
        .select("l_id", "r_id", "user_id")
        .orderBy("l_id", "r_id")
    }),

    "q_asof_join" -> ((s, d) => {
      // as-of join: each purchase picks up the user's most recent prior (or
      // same-instant) view — one shuffle on user_id, no range expansion
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_event_id"),
          col("value").as("view_value"))
      graft.operators.AsofJoin.asof(purchases, views, Seq("user_id"), "ts",
          Seq("view_event_id", "view_value"))
        .withColumn("view_value", round(col("view_value"), 4))
        .orderBy("event_id")
    }),

    "q_dedup_ttl" -> ((s, d) =>
      // keep-first-per-key stateful dedup run as a batch frame; only the
      // key column is checked (which row survives per key is order-dependent)
      graft.streaming.EventTime.dedupWithTTL(t(s, d, "events"), Seq("event_type"))
        .select("event_type")
        .orderBy("event_type")),
  )

  /** DuckDB-equivalent SQL per query (driver's t2 oracle). Omitted for
    * non-SQL-expressible / approximate ops (minhash, simhash, LSH ANN,
    * rolling hash) → driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "q_projection" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_orderkey, l_linenumber""",
    "q_validation" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE regexp_matches(o_orderstatus, '^[OF]$') ORDER BY o_orderkey""",
    "q_sharding" ->
      """SELECT l_orderkey % 32 AS shard, count(*) AS cnt FROM lineitem
         GROUP BY 1 ORDER BY shard""",
    "q_clause_filter" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus FROM lineitem
         WHERE l_returnflag = 'A' AND NOT l_linestatus = 'O'
         ORDER BY l_orderkey, l_linenumber""",
    "q_clear_fields" ->
      """SELECT event_id, CAST(NULL AS VARCHAR) AS props FROM events ORDER BY event_id""",
    "q_concatenate" ->
      """SELECT l_orderkey, l_linenumber,
                concat_ws('-', l_returnflag, l_linestatus) AS rf_ls
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_count_and_tag" ->
      """SELECT event_type AS tag, count(*) AS cnt FROM events GROUP BY 1 ORDER BY tag""",
    "q_crypt" ->
      """SELECT doc_id, text FROM documents ORDER BY doc_id""",
    "q_dedup" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q_expand_json" ->
      // the JMESPath "tags[0:2] | join('-', [*])" over {"tags":[type,uid]}
      // is exactly type-dash-uid; "tags[-1]" is the uid. Over
      // items=[{t:type,n:uid},{t:'click',n:-1}]: the filter
      // "items[?t == 'click'].n | [0]" picks uid for clicks else -1, and
      // "length(items[?n >= `0`])" counts the non-negative n's (uid >= 0
      // always holds, the sentinel never does → 1)
      """SELECT event_id, json_extract_string(props, '$.k') AS k_val,
                event_type || '-' || CAST(user_id AS VARCHAR) AS joined,
                CAST(user_id AS VARCHAR) AS last_tag,
                CASE WHEN event_type = 'click' THEN CAST(user_id AS VARCHAR)
                     ELSE '-1' END AS click_uid,
                CASE WHEN user_id >= 0 THEN '1' ELSE '0' END AS n_nonneg
         FROM events ORDER BY event_id""",
    "q_expand_list" ->
      """SELECT doc_id, split_part(text, ' ', 1) AS f0, split_part(text, ' ', 3) AS f2
         FROM documents ORDER BY doc_id""",
    "q_external_match" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') ORDER BY c_custkey""",
    "q_format_time" ->
      """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_hash" ->
      """SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha FROM documents
         ORDER BY doc_id""",
    "q_metadata_url" ->
      """SELECT count(*) AS cnt FROM documents""",
    "q_metadata_lastmod" ->
      """SELECT count(*) AS cnt FROM documents""",
    "q_notnull" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE text IS NOT NULL AND text <> '' ORDER BY doc_id""",
    "q_partial_clone" ->
      """SELECT p_partkey, CAST(NULL AS VARCHAR) AS p_name, p_brand FROM part
         ORDER BY p_partkey""",
    "q_regex_match" ->
      """SELECT doc_id FROM documents
         WHERE regexp_matches(text, 'spark') AND regexp_matches(lang, '^(en|es)$')
         ORDER BY doc_id""",
    "q_replace_fields" ->
      """SELECT o_orderkey, o_orderstatus AS status, 'graft' AS engine FROM orders
         ORDER BY o_orderkey""",
    "q_set_string_from_url" ->
      """SELECT doc_id, tag FROM (
           SELECT doc_id,
                  CASE WHEN contains(source, 'src1') THEN 'src1'
                       WHEN contains(source, 'src3') THEN 'src3' END AS tag
           FROM documents) t
         WHERE tag IS NOT NULL ORDER BY doc_id""",
    "q_slice" ->
      """SELECT doc_id, substring(text, 1, 16) AS head FROM documents ORDER BY doc_id""",
    "q_string_match" ->
      """SELECT event_id, event_type FROM events WHERE event_type NOT IN ('error')
         ORDER BY event_id""",
    "q_timestamp" ->
      """SELECT count(*) AS cnt FROM events""",
    "q_timestamp_range" ->
      """SELECT event_id, event_type FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
         ORDER BY event_id""",
    "q_url_escape" ->
      """SELECT doc_id, text FROM documents ORDER BY doc_id""",
    "q_url_param" ->
      """SELECT event_id, event_type AS utm_out FROM events ORDER BY event_id""",
    "q_output_stats" ->
      """SELECT count(*) AS n,
                round(min(l_extendedprice), 2) AS min_price,
                round(max(l_extendedprice), 2) AS max_price,
                round(avg(l_quantity), 4) AS avg_qty,
                round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
                round(quantile_cont(l_quantity, 0.95), 4) AS p95_qty
         FROM lineitem""",
    "q_output_nop" ->
      """SELECT count(*) AS cnt FROM lineitem""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                round(avg(l_quantity), 4) AS avg_qty,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_join_agg" ->
      """SELECT c_mktsegment, count(*) AS order_cnt, round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_join_nation" ->
      """SELECT r_name, count(*) AS cust_cnt, round(sum(c_acctbal), 2) AS acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q_window" ->
      """SELECT user_id, event_id, CAST(rn AS INTEGER) AS rn FROM (
           SELECT user_id, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           FROM events) t
         WHERE rn <= 3 ORDER BY user_id, rn""",
    "q_events_agg" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                count(*) AS cnt, round(sum(value), 2) AS total_value
         FROM events GROUP BY event_type, day ORDER BY event_type, day""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS dups
         FROM documents GROUP BY 1 ORDER BY keeper""",
    "q_dedup_spans" ->
      // same 8-token non-overlapping chunking + first-occurrence-by-content
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
           FROM documents WHERE trim(text) <> ''
         ), idx AS (
           SELECT doc_id, ts,
                  unnest(generate_series(0,
                    CAST(ceil(len(ts)/8.0) AS BIGINT) - 1)) AS pos
           FROM tok
         ), chunk AS (
           SELECT doc_id, pos,
                  array_to_string(ts[(pos*8+1):(pos*8+8)], ' ') AS span
           FROM idx
         )
         SELECT doc_id, pos, span FROM chunk
         QUALIFY row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) = 1
         ORDER BY doc_id, pos""",
    "q_dedup_spans_text" ->
      // the kept-span set restated as in q_dedup_spans, then re-joined per
      // doc in position order
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
           FROM documents WHERE trim(text) <> ''
         ), idx AS (
           SELECT doc_id, ts,
                  unnest(generate_series(0,
                    CAST(ceil(len(ts)/8.0) AS BIGINT) - 1)) AS pos
           FROM tok
         ), chunk AS (
           SELECT doc_id, pos,
                  array_to_string(ts[(pos*8+1):(pos*8+8)], ' ') AS span
           FROM idx
         ), kept AS (
           SELECT doc_id, pos, span FROM chunk
           QUALIFY row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) = 1
         )
         SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS text
         FROM kept GROUP BY doc_id ORDER BY doc_id""",
    "q_dedup_cdc" ->
      // same gear boundary (first 15 md5 hex chars mod 16 == 0 ends a
      // span), segment = exclusive prefix sum of boundary flags, spans
      // re-joined in token order, then first-occurrence dedup
      """WITH tok AS (
           SELECT doc_id, unnest(ts) AS tok,
                  unnest(generate_series(1, len(ts))) AS ord
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
                 FROM documents WHERE trim(text) <> '') d
         ), b AS (
           SELECT doc_id, tok, ord,
                  CASE WHEN ('0x'||substr(md5(tok),1,15))::UBIGINT % 16 = 0
                       THEN 1 ELSE 0 END AS brk
           FROM tok
         ), seg AS (
           SELECT doc_id, tok, ord,
                  COALESCE(sum(brk) OVER (PARTITION BY doc_id ORDER BY ord
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
           FROM b
         ), spans AS (
           SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                  string_agg(tok, ' ' ORDER BY ord) AS span
           FROM seg GROUP BY doc_id, pos
         )
         SELECT doc_id, pos, span FROM spans
         QUALIFY row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) = 1
         ORDER BY doc_id, pos""",
    "q_dedup_substr" ->
      // every 8-token window regrouped on the same md5 key; keeper = min
      // (doc_id, pos) via the doc_id*2^20+pos rank (positions < 1M);
      // removed tokens = union of [pos, pos+8) with consecutive-gap clip
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents
         ), winpos AS (
           SELECT doc_id, t,
                  unnest(range(0, greatest(len(t) - 7, 0))) AS pos
           FROM tok
         ), win AS (
           SELECT doc_id, CAST(pos AS INTEGER) AS pos,
                  md5(array_to_string(t[CAST(pos + 1 AS INTEGER):CAST(pos + 8 AS INTEGER)], ' ')) AS h,
                  doc_id * 1048576 + pos AS rnk
           FROM winpos
         ), firsts AS (
           SELECT h, min(rnk) AS mr, count(*) AS c FROM win GROUP BY h
         ), flag AS (
           SELECT w.doc_id, w.pos FROM win w JOIN firsts f ON w.h = f.h
           WHERE f.c >= 2 AND w.rnk > f.mr
         ), pd AS (
           SELECT doc_id, list_sort(list(pos)) AS ps FROM flag GROUP BY doc_id
         )
         SELECT b.doc_id,
                CAST(greatest(len(b.t) - 7, 0) AS BIGINT) AS n_windows,
                CAST(COALESCE(len(p.ps), 0) AS BIGINT) AS n_dup_windows,
                CAST(CASE WHEN p.ps IS NULL THEN 0
                          WHEN len(p.ps) = 1 THEN 8
                          ELSE list_sum(list_transform(range(1, len(p.ps)),
                                 i -> least(p.ps[i+1] - p.ps[i], 8))) + 8
                     END AS BIGINT) AS n_tokens_removed
         FROM tok b LEFT JOIN pd p ON b.doc_id = p.doc_id
         ORDER BY b.doc_id""",
    "q_dedup_substr_text" ->
      // q_dedup_substr's flagged-position machinery, then the cleaned text:
      // token i survives iff no flagged window [p, p+8) covers it — the
      // coverage test is a nested list lambda, kept tokens re-join in order
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents
         ), winpos AS (
           SELECT doc_id, t,
                  unnest(range(0, greatest(len(t) - 7, 0))) AS pos
           FROM tok
         ), win AS (
           SELECT doc_id, CAST(pos AS INTEGER) AS pos,
                  md5(array_to_string(t[CAST(pos + 1 AS INTEGER):CAST(pos + 8 AS INTEGER)], ' ')) AS h,
                  doc_id * 1048576 + pos AS rnk
           FROM winpos
         ), firsts AS (
           SELECT h, min(rnk) AS mr, count(*) AS c FROM win GROUP BY h
         ), flag AS (
           SELECT w.doc_id, w.pos FROM win w JOIN firsts f ON w.h = f.h
           WHERE f.c >= 2 AND w.rnk > f.mr
         ), pd AS (
           SELECT doc_id, list_sort(list(pos)) AS ps FROM flag GROUP BY doc_id
         )
         SELECT b.doc_id,
                -- COALESCE: duckdb's array_to_string is NULL on an empty
                -- list, Spark's array_join is '' — a fully-cut doc must
                -- render '' in both engines
                COALESCE(array_to_string(list_transform(
                  list_filter(range(0, len(b.t)),
                    i -> len(list_filter(COALESCE(p.ps, []),
                           pp -> pp <= i AND i < pp + 8)) = 0),
                  i -> b.t[CAST(i + 1 AS INTEGER)]), ' '), '') AS text
         FROM tok b LEFT JOIN pd p ON b.doc_id = p.doc_id
         ORDER BY b.doc_id""",
    "q_dedup_incremental_substr" ->
      // both lifecycle stages replayed from tokens: stage 0's
      // within-batch flags and cleaned rebuild, the store as the DISTINCT
      // window hashes of the CLEANED stage-0 text, then stage 1's flags
      // (store membership OR within-batch non-first) and rebuild
      """WITH docs0 AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
         ), docs1 AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
           UNION ALL
           SELECT doc_id + 1000000000000,
                  array_to_string(t[6:21], ' ') || ' uq' ||
                  CAST(doc_id AS VARCHAR) || ' tail marker words'
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
                 FROM documents WHERE doc_id % 2 = 0 AND doc_id < 40)
         ), tok0 AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM docs0
         ), win0 AS (
           SELECT doc_id, CAST(pos AS INTEGER) AS pos,
                  md5(array_to_string(t[CAST(pos + 1 AS INTEGER):CAST(pos + 8 AS INTEGER)], ' ')) AS h,
                  doc_id * 1048576 + pos AS rnk
           FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 7, 0))) AS pos
                 FROM tok0)
         ), first0 AS (
           SELECT h, min(rnk) AS mr, count(*) AS c FROM win0 GROUP BY h
         ), flag0 AS (
           SELECT w.doc_id, w.pos FROM win0 w JOIN first0 f ON w.h = f.h
           WHERE f.c >= 2 AND w.rnk > f.mr
         ), pd0 AS (
           SELECT doc_id, list_sort(list(pos)) AS ps FROM flag0 GROUP BY doc_id
         ), clean0 AS (
           SELECT b.doc_id,
                  COALESCE(array_to_string(list_transform(
                    list_filter(range(0, len(b.t)),
                      i -> len(list_filter(COALESCE(p.ps, []),
                             pp -> pp <= i AND i < pp + 8)) = 0),
                    i -> b.t[CAST(i + 1 AS INTEGER)]), ' '), '') AS text
           FROM tok0 b LEFT JOIN pd0 p ON b.doc_id = p.doc_id
         ), store0 AS (
           SELECT DISTINCT
                  md5(array_to_string(t[CAST(pos + 1 AS INTEGER):CAST(pos + 8 AS INTEGER)], ' ')) AS h
           FROM (SELECT t, unnest(range(0, greatest(len(t) - 7, 0))) AS pos
                 FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS t
                       FROM clean0))
         ), tok1 AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM docs1
         ), win1 AS (
           SELECT doc_id, CAST(pos AS INTEGER) AS pos,
                  md5(array_to_string(t[CAST(pos + 1 AS INTEGER):CAST(pos + 8 AS INTEGER)], ' ')) AS h,
                  doc_id * 1048576 + pos AS rnk
           FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 7, 0))) AS pos
                 FROM tok1)
         ), first1 AS (
           SELECT h, min(rnk) AS mr, count(*) AS c FROM win1 GROUP BY h
         ), flag1 AS (
           SELECT w.doc_id, w.pos
           FROM win1 w JOIN first1 f ON w.h = f.h
           LEFT JOIN store0 s ON s.h = w.h
           WHERE s.h IS NOT NULL OR (f.c >= 2 AND w.rnk > f.mr)
         ), pd1 AS (
           SELECT doc_id, list_sort(list(pos)) AS ps FROM flag1 GROUP BY doc_id
         ), clean1 AS (
           SELECT b.doc_id,
                  COALESCE(array_to_string(list_transform(
                    list_filter(range(0, len(b.t)),
                      i -> len(list_filter(COALESCE(p.ps, []),
                             pp -> pp <= i AND i < pp + 8)) = 0),
                    i -> b.t[CAST(i + 1 AS INTEGER)]), ' '), '') AS text
           FROM tok1 b LEFT JOIN pd1 p ON b.doc_id = p.doc_id
         )
         SELECT doc_id, md5(text) AS text_md5
         FROM (SELECT * FROM clean0 UNION ALL SELECT * FROM clean1)
         ORDER BY doc_id""",
    "q_dedup_substr_exact" ->
      // the suffix-grouping pass replayed: identical planted corpus,
      // anchors regrouped on the same md5 key, the group sorted by
      // (extension list, rank) with lag/lead token-LCP giving each
      // occurrence's maximal extent (capped at 8+16), keeper = min rank,
      // doc-level maximality via the running right-end max, and the
      // window-style interval-union stats restated for contrast
      """WITH tok0 AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t0
           FROM documents
         ), txt AS (
           SELECT doc_id,
                  CASE WHEN doc_id = 13 THEN array_to_string(t0[1:40], ' ') ||
                         ' qp1 qp2 qp3 qp4 qp5 qp6 qp7 qp8 qp9 qp10' ||
                         ' qq1 qq2 qq3 qq4 qq5 qq6 qq7 qq8 qq9 qq10'
                       WHEN doc_id % 10 = 7 THEN array_to_string(t0[1:40], ' ') ||
                         ' qp1 qp2 qp3 qp4 qp5 qp6 qp7 qp8 qp9 qp10'
                       WHEN doc_id % 10 = 9 THEN array_to_string(t0[1:40], ' ') ||
                         ' qq1 qq2 qq3 qq4 qq5 qq6 qq7 qq8 qq9 qq10'
                       ELSE array_to_string(t0[1:40], ' ') END AS text2
           FROM tok0
         ), tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text2), '\s+') AS t
           FROM txt
         ), occ AS (
           SELECT doc_id, CAST(pos AS INTEGER) AS pos,
                  md5(array_to_string(t[CAST(pos + 1 AS INTEGER):CAST(pos + 8 AS INTEGER)], ' ')) AS a,
                  t[CAST(pos + 9 AS INTEGER):CAST(pos + 24 AS INTEGER)] AS ext,
                  doc_id * 1048576 + pos AS rnk
           FROM (SELECT doc_id, t,
                        unnest(range(0, greatest(len(t) - 7, 0))) AS pos
                 FROM tok)
         ), nbr AS (
           SELECT doc_id, pos, ext, rnk,
                  lag(ext) OVER w AS pext,
                  lead(ext) OVER w AS next,
                  count(*) OVER (PARTITION BY a) AS cnt,
                  min(rnk) OVER (PARTITION BY a) AS mr
           FROM occ
           WINDOW w AS (PARTITION BY a ORDER BY ext, rnk)
         ), scored AS (
           -- the hot-anchor fuse restated: occurrences of an anchor with
           -- more than 4096 group members skip the extension LCP and
           -- quantize to rep_len = 8 (capped = true)
           SELECT doc_id, pos, cnt > 4096 AS capped,
                  CASE WHEN cnt > 4096 THEN 8 ELSE
                  8 + greatest(
                    CASE WHEN pext IS NULL OR least(len(ext), len(pext)) = 0 THEN 0
                         ELSE coalesce(list_filter(range(1, least(len(ext), len(pext)) + 1),
                                i -> ext[i] <> pext[i])[1] - 1,
                              least(len(ext), len(pext))) END,
                    CASE WHEN next IS NULL OR least(len(ext), len(next)) = 0 THEN 0
                         ELSE coalesce(list_filter(range(1, least(len(ext), len(next)) + 1),
                                i -> ext[i] <> next[i])[1] - 1,
                              least(len(ext), len(next))) END) END AS rep_len
           FROM nbr WHERE cnt >= 2 AND rnk > mr
         ), mx AS (
           SELECT doc_id, pos, rep_len, capped,
                  max(pos + rep_len) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
           FROM scored
         ), pd AS (
           SELECT doc_id, count(*) AS nd,
                  sum(CASE WHEN pe IS NULL OR pos + rep_len > pe
                           THEN 1 ELSE 0 END) AS nm,
                  max(rep_len) AS ml,
                  sum(CASE WHEN capped THEN 1 ELSE 0 END) AS nc,
                  list_sort(list(pos)) AS ps
           FROM mx GROUP BY doc_id
         )
         SELECT b.doc_id,
                CAST(coalesce(p.nd, 0) AS BIGINT) AS n_dup_occurrences,
                CAST(coalesce(p.nm, 0) AS BIGINT) AS n_max_repeats,
                CAST(coalesce(p.ml, 0) AS BIGINT) AS max_rep_len,
                CAST(coalesce(p.nc, 0) AS BIGINT) AS n_capped_occurrences,
                CAST(CASE WHEN p.ps IS NULL THEN 0
                          ELSE 1 + len(list_filter(range(1, len(p.ps)),
                                 i -> p.ps[i + 1] - p.ps[i] > 8))
                     END AS BIGINT) AS n_union_intervals,
                CAST(CASE WHEN p.ps IS NULL THEN 0
                          WHEN len(p.ps) = 1 THEN 8
                          ELSE list_sum(list_transform(range(1, len(p.ps)),
                                 i -> least(p.ps[i + 1] - p.ps[i], 8))) + 8
                     END AS BIGINT) AS n_tokens_removed
         FROM tok b LEFT JOIN pd p ON b.doc_id = p.doc_id
         ORDER BY b.doc_id""",
    "q_dedup_substr_capped" ->
      // substr_exact's oracle with the boilerplate-tail corpus and cap 4:
      // group count > 4 quantizes rep_len to 8 and counts in
      // n_capped_occurrences; smaller groups keep the exact neighbor-LCP
      // extent. The boilerplate tail is identical across documents, so
      // its 5 interior anchors are corpus-hot by construction.
      // coalesce(text, ''): the engine's tokens() maps NULL to [] so a
      // NULL-text doc still gets the planted boilerplate — without the
      // coalesce, DuckDB's || would propagate NULL and drop the doc's
      // planted occurrences (a latent gate failure at any SF whose
      // documents table carries a NULL text).
      """WITH tok0 AS (
           SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS t0
           FROM documents
         ), txt AS (
           SELECT doc_id, array_to_string(t0[1:30], ' ') ||
                  ' bp1 bp2 bp3 bp4 bp5 bp6 bp7 bp8 bp9 bp10 bp11 bp12'
                  AS text2
           FROM tok0
         ), tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text2), '\s+') AS t
           FROM txt
         ), occ AS (
           SELECT doc_id, CAST(pos AS INTEGER) AS pos,
                  md5(array_to_string(t[CAST(pos + 1 AS INTEGER):CAST(pos + 8 AS INTEGER)], ' ')) AS a,
                  t[CAST(pos + 9 AS INTEGER):CAST(pos + 24 AS INTEGER)] AS ext,
                  doc_id * 1048576 + pos AS rnk
           FROM (SELECT doc_id, t,
                        unnest(range(0, greatest(len(t) - 7, 0))) AS pos
                 FROM tok)
         ), nbr AS (
           SELECT doc_id, pos, ext, rnk,
                  lag(ext) OVER w AS pext,
                  lead(ext) OVER w AS next,
                  count(*) OVER (PARTITION BY a) AS cnt,
                  min(rnk) OVER (PARTITION BY a) AS mr
           FROM occ
           WINDOW w AS (PARTITION BY a ORDER BY ext, rnk)
         ), scored AS (
           SELECT doc_id, pos, cnt > 4 AS capped,
                  CASE WHEN cnt > 4 THEN 8 ELSE
                  8 + greatest(
                    CASE WHEN pext IS NULL OR least(len(ext), len(pext)) = 0 THEN 0
                         ELSE coalesce(list_filter(range(1, least(len(ext), len(pext)) + 1),
                                i -> ext[i] <> pext[i])[1] - 1,
                              least(len(ext), len(pext))) END,
                    CASE WHEN next IS NULL OR least(len(ext), len(next)) = 0 THEN 0
                         ELSE coalesce(list_filter(range(1, least(len(ext), len(next)) + 1),
                                i -> ext[i] <> next[i])[1] - 1,
                              least(len(ext), len(next))) END) END AS rep_len
           FROM nbr WHERE cnt >= 2 AND rnk > mr
         ), mx AS (
           SELECT doc_id, pos, rep_len, capped,
                  max(pos + rep_len) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
           FROM scored
         ), pd AS (
           SELECT doc_id, count(*) AS nd,
                  sum(CASE WHEN pe IS NULL OR pos + rep_len > pe
                           THEN 1 ELSE 0 END) AS nm,
                  max(rep_len) AS ml,
                  sum(CASE WHEN capped THEN 1 ELSE 0 END) AS nc,
                  list_sort(list(pos)) AS ps
           FROM mx GROUP BY doc_id
         )
         SELECT b.doc_id,
                CAST(coalesce(p.nd, 0) AS BIGINT) AS n_dup_occurrences,
                CAST(coalesce(p.nm, 0) AS BIGINT) AS n_max_repeats,
                CAST(coalesce(p.ml, 0) AS BIGINT) AS max_rep_len,
                CAST(coalesce(p.nc, 0) AS BIGINT) AS n_capped_occurrences,
                CAST(CASE WHEN p.ps IS NULL THEN 0
                          ELSE 1 + len(list_filter(range(1, len(p.ps)),
                                 i -> p.ps[i + 1] - p.ps[i] > 8))
                     END AS BIGINT) AS n_union_intervals,
                CAST(CASE WHEN p.ps IS NULL THEN 0
                          WHEN len(p.ps) = 1 THEN 8
                          ELSE list_sum(list_transform(range(1, len(p.ps)),
                                 i -> least(p.ps[i + 1] - p.ps[i], 8))) + 8
                     END AS BIGINT) AS n_tokens_removed
         FROM tok b LEFT JOIN pd p ON b.doc_id = p.doc_id
         ORDER BY b.doc_id""",
    "q_dedup_cc" ->
      // edges connect consecutive doc_ids, so components are maximal runs
      // of consecutive kept pairs: classic gaps-and-islands
      """WITH d AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(text), '\s+') END) AS toks
           FROM documents WHERE text <> ''
         ), e AS (
           SELECT a.doc_id AS i
           FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
           WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
                 >= 0.2
         ), grp AS (
           SELECT i, i - row_number() OVER (ORDER BY i) AS g FROM e
         ), comp AS (
           SELECT i, min(i) OVER (PARTITION BY g) AS c FROM grp
         ), verts AS (
           SELECT i AS id, c FROM comp
           UNION ALL
           SELECT i + 1 AS id, c FROM comp
         )
         SELECT id, min(c) AS component FROM verts GROUP BY id ORDER BY id""",
    "q_ngram_jaccard" ->
      """WITH d AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(text), '\s+') END) AS toks
           FROM documents WHERE text <> ''
         ), p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  len(list_intersect(a.toks, b.toks)) AS inter,
                  len(a.toks) AS na, len(b.toks) AS nb
           FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
         )
         SELECT doc_a, doc_b,
                round(CASE WHEN na + nb - inter = 0 THEN 0.0
                           ELSE CAST(inter AS DOUBLE) / (na + nb - inter) END, 4) AS jaccard
         FROM p ORDER BY doc_a""",
    "q_curation" ->
      // the composed funnel restated stage by stage: en + Gopher gates,
      // linear-classifier quality gate, NOT contaminated, then min-id per
      // canonical fingerprint. The gates are intersections, so the SQL may
      // state them in any order; cls computes the classifier keep-set over
      // the whole corpus (per-doc content-only, same members either way)
      """WITH wt AS (
           SELECT 'join' AS token, CAST(0.5 AS DOUBLE) AS weight
           UNION ALL SELECT 'slow', -0.5
           UNION ALL SELECT 'hash', 0.25
           UNION ALL SELECT 'batch', -0.125
           UNION ALL SELECT 'scan', 0.0625
           UNION ALL SELECT 'hash join', 0.25
         ), dt AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents WHERE trim(text) <> ''
         ), feat AS (
           SELECT doc_id, unnest(t) AS f FROM dt
           UNION ALL
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
                  i -> t[i] || ' ' || t[i+1])) AS f
           FROM dt WHERE len(t) >= 2
         ), cls AS (
           SELECT f.doc_id FROM feat f LEFT JOIN wt ON f.f = wt.token
           GROUP BY f.doc_id
           HAVING sum(COALESCE(wt.weight, 0)) / count(*) > 0
         ), d AS (
           SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents WHERE text <> '' AND lang = 'en'
         ), g AS (
           SELECT doc_id, text FROM d
           WHERE len(w) BETWEEN 10 AND 100000
             AND list_aggregate(list_transform(w, x -> CAST(length(x) AS DOUBLE)), 'avg')
                 BETWEEN 2 AND 12
             AND 1 - CAST(len(list_distinct(list_transform(range(len(w) - 1),
                       i -> w[i+1] || ' ' || w[i+2]))) AS DOUBLE) / (len(w) - 1) <= 0.9
         ), c AS (
           SELECT doc_id, text FROM g
           WHERE doc_id IN (SELECT doc_id FROM cls)
             AND NOT (
             ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' '
               LIKE '% fast merge %'
             OR ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' '
               LIKE '% value table %'
             OR ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' '
               LIKE '% window table table %')
         )
         SELECT min(doc_id) AS doc_id FROM c
         GROUP BY md5(array_to_string(list_sort(list_distinct(
                    regexp_split_to_array(trim(text), '\s+'))), ' '))
         ORDER BY doc_id""",
    "q_dedup_minhash" ->
      // exact ground truth for the verified LSH dedup: a doc dies iff some
      // smaller-id doc has exact 3-shingle jaccard ≥ 0.7 against it
      s"""$exactJaccardPairsCte
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT idB FROM j WHERE jac >= 0.7)
         ORDER BY doc_id""",
    "q_dedup_incremental" ->
      // ground truth for the incremental store dedup: batch = doc_id % 3
      // <> 0. j holds idA < idB, so "idB killed by idA" covers both a
      // smaller batch doc and a smaller store doc; the second branch is a
      // LARGER store doc killing a batch doc (the store kills in either
      // order, id order does not protect the batch side).
      s"""$exactJaccardPairsCte
         SELECT doc_id FROM documents
         WHERE doc_id % 3 <> 0 AND doc_id NOT IN (
           SELECT idB FROM j WHERE jac >= 0.7 AND idB % 3 <> 0
           UNION
           SELECT idA FROM j WHERE jac >= 0.7 AND idA % 3 <> 0 AND idB % 3 = 0)
         ORDER BY doc_id""",
    "q_dedup_simhash" ->
      s"""$exactJaccardPairsCte
         SELECT idA, idB, round(jac, 4) AS jaccard FROM j
         WHERE jac >= 0.7 ORDER BY idA, idB""",
    "q_simhash_recall" ->
      // the md5-basis simhash restated bit by bit (unnest token hashes ×
      // 32 bit positions, per-bit ±1 majority, bit set iff sum > 0 — the
      // expression's exact tie rule), hamming over the exact true pairs,
      // per-radius counts. Every number here is recomputed from scratch:
      // recall is MEASURED agreement, not a copied constant.
      s"""$exactJaccardPairsCte, th AS (
           SELECT doc_id, unnest(list_transform(t,
                    x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS h
           FROM tok WHERE len(t) > 0
         ), bits AS (
           SELECT doc_id, bp.b AS b,
                  sum(CASE WHEN (h >> bp.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM th CROSS JOIN (SELECT unnest(range(32)) AS b) bp
           GROUP BY doc_id, bp.b
         ), sig AS (
           SELECT doc_id,
                  sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS sg
           FROM bits GROUP BY doc_id
         ), ham AS (
           SELECT bit_count(xor(sa.sg, sb.sg)) AS ham
           FROM j JOIN sig sa ON sa.doc_id = j.idA
                  JOIN sig sb ON sb.doc_id = j.idB
           WHERE j.jac >= 0.7
         ), r AS (SELECT unnest([2, 4, 6]) AS radius)
         SELECT r.radius, count(*) AS truth_pairs,
                CAST(sum(CASE WHEN ham <= r.radius THEN 1 ELSE 0 END)
                  AS BIGINT) AS caught_pairs,
                CAST((sum(CASE WHEN ham <= r.radius THEN 1 ELSE 0 END) * 10000)
                  // count(*) AS BIGINT) AS recall_bp
         FROM r CROSS JOIN ham GROUP BY r.radius ORDER BY radius""",
    "q_dedup_cc_verified" ->
      // recursive min-label closure over the exact pair graph: a doc dies
      // iff some transitively-connected doc has a smaller id
      s"""${exactJaccardPairsCte.replaceFirst("WITH tok", "WITH RECURSIVE tok")},
         e AS (
           SELECT idA AS a, idB AS b FROM j WHERE jac >= 0.7
           UNION
           SELECT idB AS a, idA AS b FROM j WHERE jac >= 0.7
         ), reach AS (
           SELECT a AS id, b AS x FROM e
           UNION
           SELECT r.id, e.b FROM reach r JOIN e ON e.a = r.x
         )
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (
           SELECT id FROM reach GROUP BY id HAVING min(x) < id)
         ORDER BY doc_id""",
    "q_dedup_keep_best" ->
      // component label = min over self + reachable set; per component
      // keep the (n_chars DESC, doc_id ASC) argmax; singletons keep
      s"""${exactJaccardPairsCte.replaceFirst("WITH tok", "WITH RECURSIVE tok")},
         e AS (
           SELECT idA AS a, idB AS b FROM j WHERE jac >= 0.7
           UNION
           SELECT idB AS a, idA AS b FROM j WHERE jac >= 0.7
         ), reach AS (
           SELECT a AS id, b AS x FROM e
           UNION
           SELECT r.id, e.b FROM reach r JOIN e ON e.a = r.x
         ), comp AS (
           SELECT d.doc_id AS id, d.n_chars,
                  least(d.doc_id, coalesce(
                    (SELECT min(x) FROM reach r WHERE r.id = d.doc_id),
                    d.doc_id)) AS c
           FROM documents d
         ), ranked AS (
           SELECT id, row_number() OVER (PARTITION BY c
                                         ORDER BY n_chars DESC, id) AS rk
           FROM comp)
         SELECT id AS doc_id FROM ranked WHERE rk = 1 ORDER BY doc_id""",
    "q_ann_lsh" -> annLshOracle,
    "q_ann_recall" ->
      // both pipelines restated (the IVF-PQ algorithm oracle verbatim as
      // a subquery, brute force as in q_embed_topk), then hits = the
      // per-query intersection; recall = hits/5, a small-integer division
      // both engines compute identically
      s"""WITH approx AS (SELECT query_id, neighbor_id FROM ($annIvfPqOracle)),
         ex AS (
           SELECT query_id, neighbor_id FROM (
             WITH q AS (SELECT vec_id AS query_id, embedding
                        FROM embeddings WHERE vec_id < 8),
             scored AS (
               SELECT q.query_id, e.vec_id AS neighbor_id,
                      round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                   CAST(e.embedding AS DOUBLE[])), 4) AS cosine
               FROM q, embeddings e WHERE e.vec_id <> q.query_id
             ), ranked AS (
               SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id) AS rank
               FROM scored)
             SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5)
         ), hits AS (
           SELECT a.query_id, count(*) AS c
           FROM approx a JOIN ex e
             ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
           GROUP BY a.query_id
         )
         SELECT q.query_id, CAST(COALESCE(h.c, 0) AS BIGINT) AS hits,
                CAST(COALESCE(h.c, 0) AS DOUBLE) / 5 AS recall
         FROM (SELECT DISTINCT query_id FROM ex) q
         LEFT JOIN hits h ON q.query_id = h.query_id
         ORDER BY q.query_id""",
    "q_repetition" ->
      """WITH tok AS (
           SELECT doc_id, text,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
           FROM documents WHERE text <> ''
         ), grams AS (
           SELECT doc_id, text, n,
                  CASE WHEN len(t) < n THEN CAST([] AS VARCHAR[])
                       WHEN n = 1 THEN t
                       ELSE list_transform(range(1, len(t) - n + 2),
                              i -> array_to_string(t[i : i + n - 1], ' ')) END AS g
           FROM tok, (SELECT unnest([1, 2, 3]) AS n)
         ), ex AS (
           SELECT doc_id, text, n, unnest(g) AS gram FROM grams
         ), cnt AS (
           SELECT doc_id, text, n, gram, count(*) AS c
           FROM ex GROUP BY doc_id, text, n, gram
         ), top AS (
           SELECT doc_id, n,
                  round(max(c * length(gram)) / length(text), 4) AS frac
           FROM cnt GROUP BY doc_id, n, length(text)
         )
         SELECT d.doc_id,
                COALESCE(max(CASE WHEN n = 1 THEN frac END), 0.0) AS top_word_frac,
                COALESCE(max(CASE WHEN n = 2 THEN frac END), 0.0) AS top_2gram_frac,
                COALESCE(max(CASE WHEN n = 3 THEN frac END), 0.0) AS top_3gram_frac
         FROM documents d LEFT JOIN top ON top.doc_id = d.doc_id
         WHERE d.text <> ''
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    "q_embed_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(e.embedding AS DOUBLE[])), 4) AS cosine
           FROM q, embeddings e WHERE e.vec_id <> q.query_id
         ), ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "q_mmr_rerank" -> mmrOracle,
    "q_ann_ivf" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(e.embedding AS DOUBLE[])), 4) AS cosine
           FROM q, embeddings e WHERE e.vec_id <> q.query_id
         ), ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "q_bm25" -> bm25Oracle,
    "q_bm25_rtbf" ->
      // BM25 restated over ONLY the surviving docs: the delete's contract
      // is that the store behaves as if the forgotten docs never existed,
      // so df/n_docs/avgdl all reflect the post-delete corpus
      s"""WITH survivors AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3
          ),
          ${bm25RankedCtesFor("survivors")}
          SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
          FROM bm25_ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "q_jaccard_topk" -> jaccardOracle,
    "q_rag_pipeline" -> ragPipelineOracle,
    "q_phrase_search" ->
      // ground truth by direct token-slice comparison at every offset
      """WITH ph(phrase_id, ptext) AS (VALUES
             (1, 'fast merge'), (2, 'table table'), (3, 'value table part')),
         pht AS (
           SELECT phrase_id, regexp_split_to_array(trim(ptext), '\s+') AS pt
           FROM ph
         ), tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents WHERE trim(text) <> ''
         ), d AS (
           SELECT doc_id, t, unnest(range(len(t))) AS i FROM tok
         )
         SELECT p.phrase_id, d.doc_id, count(*) AS n_occurrences
         FROM pht p, d
         WHERE d.i + len(p.pt) <= len(d.t)
           AND list_slice(d.t, d.i + 1, d.i + len(p.pt)) = p.pt
         GROUP BY p.phrase_id, d.doc_id
         ORDER BY phrase_id, doc_id""",
    "q_sample_per_key" ->
      """WITH r AS (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY md5('r9|' || CAST(doc_id AS VARCHAR)),
                                              doc_id) AS rn
           FROM documents)
         SELECT doc_id, lang FROM r WHERE rn <= 10 ORDER BY doc_id""",
    "q_percentile_rank" ->
      """SELECT doc_id, lang,
                cume_dist() OVER (PARTITION BY lang ORDER BY n_chars)
                  AS percentile
         FROM documents ORDER BY doc_id""",
    "q_sample_n" ->
      """SELECT doc_id, lang FROM documents
         ORDER BY md5('r11|' || CAST(doc_id AS VARCHAR)), doc_id
         LIMIT 75""",
    "q_embed_covariance" ->
      // population mean (j = -1 rows) and upper-triangle covariance
      // E[xy] − E[x]E[y], restated over the same dim-64 gate
      """WITH e AS (
           SELECT CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE len(embedding) = 64
         ), idx AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i),
         m AS (SELECT i, avg(v[i]) AS mu FROM e, idx GROUP BY i),
         c AS (
           SELECT a.i AS i, b.i AS j, sum(v[a.i] * v[b.i]) / count(*) AS exy
           FROM e, idx a, idx b WHERE b.i >= a.i GROUP BY a.i, b.i)
         SELECT m.i - 1 AS i, -1 AS j, round(m.mu, 6) + 0 AS v FROM m
         UNION ALL
         SELECT c.i - 1 AS i, c.j - 1 AS j,
                round(c.exy - ma.mu * mb.mu, 6) + 0 AS v
         FROM c JOIN m ma ON ma.i = c.i JOIN m mb ON mb.i = c.j
         ORDER BY i, j""",
    "q_embed_centroid" ->
      // same op sequence as the query: round(avg, 6), then micro-units via
      // round(·1e6) — the double rounding is replicated, not approximated
      """WITH e AS (
           SELECT label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE len(embedding) = 64
         ), ev AS (
           SELECT label, i, v[i + 1] AS x
           FROM (SELECT label, v, unnest(range(64)) AS i FROM e)
         ), m AS (
           SELECT label, i, round(avg(x), 6) AS m, count(*) AS n
           FROM ev GROUP BY label, i
         )
         SELECT label, MIN(n) AS n_vectors,
                string_agg(CAST(CAST(round(m * 1000000, 0) AS BIGINT) AS VARCHAR),
                           ' ' ORDER BY i) AS centroid_str
         FROM m GROUP BY label ORDER BY label""",
    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
           c AS (SELECT doc_id,
                        CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
                 FROM documents WHERE doc_id % 5 <> 0)
         SELECT COALESCE(o.doc_id, c.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN c.doc_id IS NULL THEN 'removed'
                     WHEN o.text = c.text THEN 'unchanged'
                     ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN c ON o.doc_id = c.doc_id
         ORDER BY doc_id""",
    "q_hybrid_rrf" -> hybridRrfOracle,
    "q_split_assign" -> splitAssignOracle,
    "q_split_leakage_safe" -> splitLeakageOracle,
    "q_chunk" ->
      // stride 12 = width 16 − overlap 4; a start whose window adds no new
      // tokens (s > 0 and n ≤ s + overlap) is dropped; integer division
      // for chunk_id
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents WHERE trim(text) <> ''
         ), st AS (
           SELECT doc_id, t, len(t) AS n, unnest(range(0, len(t), 12)) AS s
           FROM tok
         ), ch AS (
           SELECT doc_id, t, n, s FROM st WHERE s = 0 OR n > s + 4)
         SELECT doc_id, CAST(s // 12 AS INTEGER) AS chunk_id,
                CAST(s AS INTEGER) AS start_tok,
                CAST(LEAST(16, n - s) AS INTEGER) AS n_tokens,
                array_to_string(list_slice(t, s + 1, LEAST(s + 16, n)), ' ') AS chunk_text
         FROM ch ORDER BY doc_id, chunk_id""",
    "q_domain_cap" ->
      """WITH ranked AS (
           SELECT doc_id, source, n_chars,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents)
         SELECT doc_id, source, n_chars FROM ranked
         WHERE rn <= 15 ORDER BY doc_id""",
    "q_contamination_report" ->
      // distinct normalized 5-grams per eval doc (doc_id % 50 = 0), hit =
      // gram occurs in any non-eval doc; docs shorter than 5 tokens have
      // no grams and are absent
      """WITH nd AS (
           SELECT doc_id,
                  regexp_split_to_array(
                    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                    ' ') AS t
           FROM documents
         ), bg AS (
           SELECT DISTINCT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS g
           FROM (SELECT doc_id, t, unnest(range(len(t) - 4)) AS i
                 FROM nd WHERE doc_id % 50 = 0)
         ), cg AS (
           SELECT DISTINCT array_to_string(list_slice(t, i + 1, i + 5), ' ') AS g
           FROM (SELECT doc_id, t, unnest(range(len(t) - 4)) AS i
                 FROM nd WHERE doc_id % 50 <> 0)
         )
         SELECT b.doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN cg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         FROM bg b LEFT JOIN cg ON cg.g = b.g
         GROUP BY b.doc_id ORDER BY b.doc_id""",
    "q_pq_encode" -> pqEncodeOracle,
    "q_ann_pq" -> annPqOracle,
    // the stream-appended store holds exactly the batch-encode rows
    // (pinned model, map-only encode), so the search restates identically
    "q_ann_pq_stream" -> annPqOracle,
    "q_ann_ivfpq" -> annIvfPqOracle,
    // the serving snapshot holds exactly the one-shot encode's rows and
    // static cell pruning cannot change a probe's result set, so the
    // serving-lifecycle query replays the same algorithm end to end
    "q_ann_ivfpq_serving" -> annIvfPqOracle,
    "q_ann_ivf_serving" ->
      // max-dot cell assignment and probe under the inlined coarse
      // VALUES table (ties → lower cell id, the expression's rule), then
      // exact cosine over ONLY the probed cells' members — the serving
      // snapshot holds exactly the rows a one-shot assign would, and
      // pruning never changes results (a row outside the probed cells
      // can't join), so this restates the whole pruned search
      s"""WITH cc(c, i, w) AS (VALUES $ivfPqCoarseValues),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         score AS (
           SELECT e.vec_id, cc.c, sum(cc.w * v[cc.i + 1]) AS sc
           FROM e, cc GROUP BY e.vec_id, cc.c
         ), cell AS (
           SELECT vec_id, c AS cell FROM (
             SELECT vec_id, c, row_number() OVER (
               PARTITION BY vec_id ORDER BY sc DESC, c) AS rn
             FROM score) WHERE rn = 1
         ), probe AS (
           SELECT vec_id AS query_id, c AS cell FROM (
             SELECT vec_id, c, row_number() OVER (
               PARTITION BY vec_id ORDER BY sc DESC, c) AS rn
             FROM score WHERE vec_id < 8) WHERE rn <= 2
         ), scored AS (
           SELECT p.query_id, ce.vec_id AS neighbor_id,
                  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(n.embedding AS DOUBLE[])), 4) AS cosine
           FROM probe p
           JOIN cell ce ON ce.cell = p.cell
           JOIN embeddings q ON q.vec_id = p.query_id
           JOIN embeddings n ON n.vec_id = ce.vec_id
           WHERE ce.vec_id <> p.query_id
         ), ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "q_ann_opq" -> annOpqOracle,
    "q_opq_encode" -> opqEncodeOracle,
    "q_int8_encode" ->
      s"""$int8CodesCte
         SELECT vec_id, string_agg(CAST(code AS VARCHAR), ' ' ORDER BY i) AS code_str
         FROM codes GROUP BY vec_id ORDER BY vec_id""",
    "q_ann_int8" ->
      // both stages replayed: stage-1 code cosine is integer-exact (dot and
      // squared norms are small-int sums — lossless in double), the rerank
      // cut ties by neighbor id, stage-2 is q_embed_topk's exact formula
      s"""$int8CodesCte,
         n8 AS (SELECT vec_id, sqrt(CAST(sum(code * code) AS DOUBLE)) AS nrm
                FROM codes GROUP BY vec_id),
         d8 AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  CAST(sum(q.code * c.code) AS DOUBLE) AS dot8
           FROM codes q JOIN codes c ON c.i = q.i
           WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
           GROUP BY q.vec_id, c.vec_id),
         approx AS (
           SELECT d8.query_id, d8.neighbor_id, d8.dot8 / (nq.nrm * nc.nrm) AS ac
           FROM d8 JOIN n8 nq ON nq.vec_id = d8.query_id
                   JOIN n8 nc ON nc.vec_id = d8.neighbor_id),
         cand AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY ac DESC, neighbor_id) AS rn
             FROM approx) WHERE rn <= 50),
         scored AS (
           SELECT cand.query_id, cand.neighbor_id,
                  round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
           FROM cand JOIN e eq ON eq.vec_id = cand.query_id
                     JOIN e ec ON ec.vec_id = cand.neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "q_binary_encode" ->
      // bit i of the packed word is `x_i > 0`; bin() prints MSB-first, so
      // the oracle emits dims in DESCENDING order within each 64-dim word
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ev AS (SELECT vec_id, t.i, v[t.i + 1] AS x, len(v) AS n
                FROM e, range(64) t(i) WHERE t.i < len(v))
         SELECT vec_id,
                string_agg(CASE WHEN x > 0 THEN '1' ELSE '0' END, '' ORDER BY i DESC)
                  AS bits
         FROM ev WHERE n = 64 GROUP BY vec_id ORDER BY vec_id""",
    "q_ann_hamming" ->
      // both stages replayed: stage-1 Hamming is the count of
      // sign-disagreeing dims (no bit packing needed in SQL), ties cut by
      // neighbor id; stage-2 is q_embed_topk's exact formula
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE len(embedding) = 64),
         ev AS (SELECT vec_id, t.i, v[t.i + 1] > 0 AS s FROM e, range(64) t(i)),
         ham AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  sum(CASE WHEN q.s <> c.s THEN 1 ELSE 0 END) AS h
           FROM ev q JOIN ev c ON c.i = q.i
           WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
           GROUP BY q.vec_id, c.vec_id),
         cand AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY h ASC, neighbor_id) AS rn
             FROM ham) WHERE rn <= 50),
         scored AS (
           SELECT cand.query_id, cand.neighbor_id,
                  round(list_cosine_similarity(eq.v, ec.v), 4) AS cosine
           FROM cand JOIN e eq ON eq.vec_id = cand.query_id
                     JOIN e ec ON ec.vec_id = cand.neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    "q_embed_neardup" ->
      """SELECT vec_id AS idA, vec_id + 100000 AS idB, CAST(1.0 AS DOUBLE) AS cosine
         FROM embeddings WHERE vec_id < 20 ORDER BY idA, idB""",
    "q_dedup_incremental_embed" ->
      // closed-form: the exact copies die against the store, the negated
      // copies survive (cosine −1 to their source, below 0.9 to all else)
      """SELECT vec_id + 300000 AS vec_id FROM embeddings
         WHERE vec_id < 20 ORDER BY vec_id""",
    "q_embed_cc" ->
      // the planted chains make the expected labels closed-form: every
      // member of {i, i+100000, i+200000} labels to i
      """WITH m AS (SELECT vec_id FROM embeddings WHERE vec_id < 20)
         SELECT vec_id AS id, vec_id AS component FROM m
         UNION ALL
         SELECT vec_id + 100000 AS id, vec_id AS component FROM m
         UNION ALL
         SELECT vec_id + 200000 AS id, vec_id AS component
         FROM embeddings WHERE vec_id < 10
         ORDER BY id""",
    "q_semdedup" ->
      // planted exact copies are each other's only ≥0.9-cosine partners, so
      // SemDeDup (keep-lowest-id) evicts exactly the +100000 copies
      """SELECT vec_id + 100000 AS id, vec_id AS dup_of
         FROM embeddings WHERE vec_id < 20 ORDER BY id""",
    "q_lang_id" ->
      """WITH t AS (
           SELECT doc_id,
                  len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','and','of','to','a','in','is','that'))) AS en_hits,
                  len(list_filter(string_split(text, ' '),
                      x -> x IN ('el','la','de','que','y','los','en','un'))) AS es_hits
           FROM documents)
         SELECT doc_id,
                CASE WHEN en_hits >= es_hits AND en_hits > 0 THEN 'en'
                     WHEN es_hits > 0 THEN 'es'
                     ELSE 'unk' END AS lang_guess
         FROM t ORDER BY doc_id""",
    "q_token_count" ->
      // subwords: Spark's lookaround split has no RE2 mirror, but its count
      // equals letter runs + digit runs + non-alphanumeric-non-space chars
      """SELECT doc_id,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
                END AS n_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+'))
                  + len(regexp_extract_all(text, '[0-9]+'))
                  + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                  AS n_subwords
         FROM documents ORDER BY doc_id""",
    "q_redact_pii" ->
      // same planted PII + same regex chain ('g' = replace all, matching
      // Spark's regexp_replace semantics)
      """SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      'reach user' || doc_id || '@mail.example.com or 10.0.' ||
                        (doc_id % 256) || '.7 ph +1 555 000 12' || (doc_id % 100) ||
                        ' re: ' || text,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS redacted
         FROM documents ORDER BY doc_id""",
    "q_pii_spans" ->
      // the composition law stated directly: one global replace over the
      // SAME leftmost-first alternation the span tagger used (RE2 and
      // Java agree on alternation order), plus the match count — equal
      // only if every [s, e) offset the Spark side measured is exact
      """WITH sy AS (
           SELECT doc_id,
                  'reach user' || doc_id || '@mail.example.com or 10.0.' ||
                    (doc_id % 256) || '.7 ph +1 555 000 12' || (doc_id % 100) ||
                    ' re: ' || text AS t
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b|\+?\d[\d -]{7,}\d'))
                  AS INTEGER) AS n_spans,
                regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b|\+?\d[\d -]{7,}\d',
                  '<PII>', 'g') AS redacted
         FROM sy ORDER BY doc_id""",
    "q_quality_gopher" ->
      // same repetition algebra over DuckDB list functions; `passes` uses
      // the UNROUNDED values, as the Spark side does
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                    FROM documents WHERE text <> ''),
         s AS (SELECT doc_id, w, len(w) AS nw,
                 list_aggregate(list_transform(w, x -> CAST(length(x) AS DOUBLE)), 'avg') AS mwl,
                 list_transform(range(greatest(len(w)-1, 0)), i -> w[i+1] || ' ' || w[i+2]) AS g2,
                 list_transform(range(greatest(len(w)-2, 0)),
                   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS g3
               FROM d),
         f AS (SELECT doc_id, nw, mwl,
                 1 - CAST(len(list_distinct(w)) AS DOUBLE) / nw AS dw,
                 CASE WHEN len(g2) > 0
                      THEN 1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
                      ELSE 0 END AS d2,
                 CASE WHEN len(g3) > 0
                      THEN 1 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
                      ELSE 0 END AS d3
               FROM s)
         SELECT doc_id, nw AS n_words, round(mwl, 4) AS mean_word_len,
                round(dw, 4) AS dup_word_frac, round(d2, 4) AS dup_2gram_frac,
                round(d3, 4) AS dup_3gram_frac,
                (nw BETWEEN 10 AND 100000 AND mwl BETWEEN 2 AND 12 AND d2 <= 0.9) AS passes
         FROM f ORDER BY doc_id""",
    "q_fingerprint" ->
      """SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct(
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(text), '\s+') END)), ' '))
                  AS fp
         FROM documents ORDER BY doc_id""",
    "q_fim" ->
      // selection bucket and both positions replayed from the same
      // md5(seed|...|doc_id) basis; 0.5 rate = hex threshold 80000000
      """WITH p AS (
           SELECT doc_id, text,
                  ('0x' || substr(md5('fim1|p1|' || doc_id), 1, 8))::BIGINT
                    % (length(text) + 1) AS p1,
                  ('0x' || substr(md5('fim1|p2|' || doc_id), 1, 8))::BIGINT
                    % (length(text) + 1) AS p2
           FROM documents
         ), b AS (
           SELECT doc_id, text, least(p1, p2) AS lo, greatest(p1, p2) AS hi
           FROM p)
         SELECT doc_id,
                CASE WHEN substr(md5('fim1|' || doc_id), 1, 8) < '80000000'
                     THEN '<PRE>' || substr(text, 1, CAST(lo AS INTEGER))
                          || '<SUF>' || substr(text, CAST(hi + 1 AS INTEGER),
                               CAST(length(text) - hi AS INTEGER))
                          || '<MID>' || substr(text, CAST(lo + 1 AS INTEGER),
                               CAST(hi - lo AS INTEGER))
                     ELSE text END AS fim_text
         FROM b ORDER BY doc_id""",
    "q_sentences" ->
      // the same marker-replace-then-split replay: boundary = terminal
      // punctuation run (+ closing quotes/brackets) before whitespace
      """WITH p AS (
           SELECT doc_id,
                  substr(text, 1, 40) || '. ' || substr(text, 41, 40) ||
                  '! "Quote." Dr. ' || substr(text, 81, 20) || '?' AS para
           FROM documents WHERE length(text) >= 100
         ), m AS (
           SELECT doc_id, regexp_replace(replace(para, chr(30), ''),
                    '([.!?]+["'')\]]*)\s+', '\1' || chr(30), 'g') AS marked
           FROM p
         ), s AS (
           SELECT doc_id, list_filter(list_transform(
                    string_split(marked, chr(30)), x -> trim(x)),
                    x -> x <> '') AS sents
           FROM m)
         SELECT doc_id, CAST(len(sents) AS INTEGER) AS n_sentences,
                md5(coalesce(array_to_string(sents, chr(31)), ''))
                  AS sentences_md5
         FROM s ORDER BY doc_id""",
    "q_block_domains" ->
      // whole-label suffix matching restated from first principles: a
      // host is blocked iff it EQUALS a listed domain or ends with
      // '.'+domain; the 70 padding entries ('unusedN.invalid') can match
      // no synthesized host, so the two live rules state the whole list
      """WITH u AS (
           SELECT doc_id,
                  lower(CASE CAST(doc_id % 5 AS INTEGER)
                        WHEN 0 THEN 'Tracker.COM'
                        WHEN 1 THEN 'ads.sub' || (doc_id % 3) || '.tracker.com'
                        WHEN 2 THEN 'nottracker.com'
                        WHEN 3 THEN 'spam.example.org'
                        ELSE 'good.example.org' END) AS host
           FROM documents)
         SELECT doc_id, host,
                (host = 'tracker.com' OR host LIKE '%.tracker.com'
                 OR host = 'spam.example.org' OR host LIKE '%.spam.example.org')
                  AS blocked
         FROM u ORDER BY doc_id""",
    "q_url_canonical" ->
      """WITH u AS (
           SELECT doc_id,
                  'HTTP://Example' || (doc_id % 7) || '.COM:80/Path/' || (doc_id % 5)
                  || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
                  || '?utm_source=x&b=' || (doc_id % 4) || '&a=1#frag' AS url
           FROM documents
         ), p AS (
           SELECT doc_id,
                  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                  regexp_extract(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^(.*@)', 1) AS userinfo,
                  lower(regexp_replace(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^.*@', '')) AS hostport,
                  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
           FROM u
         ), q AS (
           SELECT doc_id, scheme,
                  userinfo ||
                  CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
                       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                       ELSE hostport END AS auth,
                  regexp_extract(rest, '^([^?#]*)', 1) AS pth,
                  regexp_extract(rest, '\?([^#]*)', 1) AS qry
           FROM p
         ), r AS (
           SELECT doc_id, scheme, auth,
                  CASE WHEN pth = '' THEN '/'
                       WHEN pth <> '/' AND pth LIKE '%/'
                         THEN substr(pth, 1, length(pth) - 1)
                       ELSE pth END AS pth,
                  array_to_string(list_sort(list_filter(string_split(qry, '&'),
                    x -> x <> '' AND NOT regexp_matches(x,
                      '^(utm_[^=]*|fbclid|gclid)(=|$)'))), '&') AS kept
           FROM q)
         SELECT doc_id,
                scheme || '://' || auth || pth ||
                (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) AS url
         FROM r ORDER BY doc_id""",
    "q_topology_webdataset" ->
      // each sample's members restated from the documents the shards were
      // packed from (txt = the 50-byte prefix, json = the lang wrapper,
      // key = the zero-padded id); the SqlWhere like-filter equals
      // lang = 'en' (no other fixture lang value contains quoted "en");
      // same loud ASCII guard as the container oracles
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 50))) > 50 THEN error(
                    'webdataset oracle: non-ASCII in the packed 50-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 50)
         SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
                substr(text, 1, 50) AS txt,
                '{"lang":"' || lang || '"}' AS json
         FROM documents, chk
         WHERE length(text) >= 50 AND lang = 'en' AND chk.ok = 0
         ORDER BY key""",
    "q_topology_curation" ->
      // en-only corpus, verified near-dup kill rule with the record
      // model's VARCHAR id ordering (the topology compares strings) —
      // the SAME shared exact-Jaccard kernel, parameterized
      s"""${exactJaccardPairsCteFor("documents WHERE lang = 'en'",
             "CAST(doc_id AS VARCHAR)")}
         SELECT doc_id FROM tok
         WHERE doc_id NOT IN (SELECT idB FROM j WHERE jac >= 0.7)
         ORDER BY doc_id""",
    "q_topology_pretrain" -> {
      // the whole funnel replayed: mainDemoPageSql pages → the
      // htmlMainChainSql extractor → C4 line+page gates → the Gopher
      // shape gate → the shared exact-Jaccard kill rule (VARCHAR id
      // order — the record model compares strings) → the bpeDemoMerges
      // replace-chain tokenizer with ids by rule index → the break-chain
      // greedy tail (budget 512, pad −2, EOS −4 trained-on) → the
      // single-file export's (seq_ix, ptr) arithmetic: every row is
      // padded to the 512 budget, so ptr = 4·512·seq_ix
      // the export's operand-closure vocab, id = list position: surfaces
      // at their rule index, base symbols after them — base chars that
      // survive the merge chain now map to REAL ids; chars outside the
      // closure (never a merge operand) still exercise the -1 unk path
      val surfaces = bpeDemoClosure.map(s => s"'$s'").mkString(", ")
      val finalSel =
        """SELECT CAST(row_number() OVER (ORDER BY shard, seq_id) - 1
                  AS BIGINT) AS seq_ix,
                CAST(2048 * (row_number() OVER (ORDER BY shard, seq_id) - 1)
                  AS BIGINT) AS ptr,
                CAST(len(ids) AS INT) AS n_tokens,
                md5(array_to_string(list_transform(ids,
                  x -> CAST(x AS VARCHAR)), ',')) AS ids_md5,
                md5(array_to_string(list_transform(mk,
                  x -> CAST(CAST(x AS INT) AS VARCHAR)), ',')) AS msk_md5,
                md5(array_to_string(list_transform(sg,
                  x -> CAST(x AS VARCHAR)), ',')) AS seg_md5
         FROM fin ORDER BY seq_ix"""
      htmlMainChainSql(mainDemoPageSql)
        .replaceFirst("WITH pages", "WITH RECURSIVE pages") +
      s""", mt AS MATERIALIZED (
           SELECT doc_id,
                  coalesce(string_agg(CASE WHEN kept THEN t END, chr(10)
                                      ORDER BY j), '') AS main
           FROM ne GROUP BY doc_id
         ), c4k AS MATERIALIZED (
           SELECT doc_id, main,
                  list_filter(string_split(main, chr(10)), x ->
                    regexp_matches(x, '[.!?"]$$')
                    AND len(string_split_regex(trim(x), '\\s+')) >= 5
                    AND NOT contains(lower(x), 'javascript')
                    AND NOT contains(x, '{')) AS kept
           FROM mt
         ), gsrc AS MATERIALIZED (
           SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                  array_to_string(kept, chr(10)) AS text
           FROM c4k
           WHERE (NOT contains(lower(main), 'lorem ipsum')) AND len(kept) >= 1
         ), gw AS MATERIALIZED (
           SELECT doc_id, text,
                  regexp_split_to_array(trim(text), '\\s+') AS w
           FROM gsrc
         ), gf AS MATERIALIZED (
           SELECT doc_id, text, len(w) AS nw,
                  list_aggregate(list_transform(w,
                    x -> CAST(length(x) AS DOUBLE)), 'avg') AS mwl,
                  CASE WHEN len(w) - 1 > 0
                       THEN 1 - CAST(len(list_distinct(list_transform(
                              range(greatest(len(w) - 1, 0)),
                              i -> w[i+1] || ' ' || w[i+2]))) AS DOUBLE)
                            / (len(w) - 1)
                       ELSE 0 END AS d2
           FROM gw
         ), cur AS MATERIALIZED (
           SELECT doc_id, text FROM gf
           WHERE nw BETWEEN 10 AND 100000 AND mwl BETWEEN 2 AND 12
             AND d2 <= 0.9
         ), ${exactJaccardPairsCteFor("cur", "doc_id").stripPrefix("WITH ")},
         tw AS MATERIALIZED (
           SELECT doc_id, generate_subscripts(t, 1) AS wi, unnest(t) AS w
           FROM tok
           WHERE doc_id NOT IN (SELECT idB FROM j WHERE jac >= 0.7)
         ), te AS MATERIALIZED (
           SELECT doc_id, wi, ${bpeReplaceChainSql(bpeWrapSql)} AS enc
           FROM tw
         ), tp AS MATERIALIZED (
           SELECT doc_id, wi, generate_subscripts(ps, 1) AS pi,
                  unnest(ps) AS piece
           FROM (SELECT doc_id, wi,
                   CASE WHEN length(enc) <= 2 THEN CAST([] AS VARCHAR[])
                        ELSE string_split(substr(enc, 2, length(enc) - 2),
                                          '$bpeC$bpeO') END AS ps
                 FROM te)
         ), tids AS MATERIALIZED (
           SELECT doc_id,
                  list(CAST(coalesce(nullif(list_position([$surfaces],
                    piece), 0) - 1, -1) AS INT) ORDER BY wi, pi) AS ids
           FROM tp GROUP BY doc_id
         ), tk AS MATERIALIZED (
           SELECT doc_id,
                  ((CAST(doc_id AS BIGINT) % 2147483647) * 2654435761) % 2
                    AS shard,
                  ids || [CAST(-4 AS INT)] AS toks,
                  list_transform(ids, x -> true) || [true] AS msk,
                  CAST(len(ids) + 1 AS BIGINT) AS n,
                  row_number() OVER (
                    PARTITION BY ((CAST(doc_id AS BIGINT) % 2147483647)
                      * 2654435761) % 2
                    ORDER BY CAST(doc_id AS BIGINT)) AS rn
           FROM tids
         )${greedyPackTailSql(512, -2, None, Some(finalSel))}"""
    },
    "q_topology_parquet" ->
      // the topology's string record model: every projected field is a
      // string, empty-for-null
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
                CAST(n_chars AS VARCHAR) AS n_chars
         FROM documents
         WHERE lang = 'en' AND n_chars >= 200
         ORDER BY doc_id""",
    "q_topology_jsonl" ->
      // the JSONL round-trip restated directly: field extraction by key
      // is lossless for these scalars, so the result equals the parquet
      // topology's (numbers arrive as their JSON literal text)
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
                CAST(n_chars AS VARCHAR) AS n_chars
         FROM documents
         WHERE lang = 'en' AND n_chars >= 200
         ORDER BY doc_id""",
    "q_corpus_report" ->
      // per-doc quality from the shared CTE, re-joined for source/lang;
      // quality mass summed as DECIMAL(10,4) so the total is exact and
      // partition-order-independent in both engines
      s"""$qualityScoreCte
         SELECT d.source, d.lang, count(*) AS docs,
                CAST(sum(CASE WHEN trim(d.text) = '' THEN 0
                         ELSE length(trim(d.text))
                              - length(replace(trim(d.text), ' ', '')) + 1
                    END) AS BIGINT) AS tokens,
                CAST(CAST(sum(CAST(q.quality AS DECIMAL(10,4))) AS DECIMAL(20,4))
                  AS VARCHAR) AS sum_quality,
                count(DISTINCT md5(array_to_string(list_sort(list_distinct(
                  CASE WHEN trim(d.text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(d.text), '\\s+') END)), ' ')))
                  AS distinct_fp
         FROM documents d JOIN q ON d.doc_id = q.doc_id
         GROUP BY d.source, d.lang ORDER BY d.source, d.lang""",

    "q_sql_text_stats" ->
      // the SQL-surface query restated: token count, lang guess,
      // fingerprint and rolling hash mirror their standalone oracles
      """WITH t AS (
           SELECT doc_id, text,
                  len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','and','of','to','a','in','is','that'))) AS en_hits,
                  len(list_filter(string_split(text, ' '),
                      x -> x IN ('el','la','de','que','y','los','en','un'))) AS es_hits
           FROM documents)
         SELECT doc_id,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
                END AS n_tokens,
                CASE WHEN en_hits >= es_hits AND en_hits > 0 THEN 'en'
                     WHEN es_hits > 0 THEN 'es'
                     ELSE 'unk' END AS lang_guess,
                md5(array_to_string(list_sort(list_distinct(
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(text), '\s+') END)), ' '))
                  AS fp,
                CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                     ELSE list_reduce(
                       [CAST(0 AS BIGINT)] ||
                       list_transform(regexp_split_to_array(trim(text), '\s+'),
                         t2 -> ('0x' || substr(md5(t2), 1, 7))::BIGINT),
                       (acc, h) -> (acc * 31 + h) % 2147483647)
                END AS rhash
         FROM t ORDER BY doc_id""",
    "q_span_units" ->
      // byte offsets stated from first principles: DuckDB substr counts
      // CHARACTERS and strlen counts BYTES, so the byte offset of char
      // offset k is strlen(substr(t, 1, k)); the round-trip columns are
      // the original char offsets by the inversion law
      """WITH sy AS (
           SELECT doc_id, '¡é⌘🙂 ' || text AS t,
                  CAST(doc_id % 7 AS INT) AS s0
           FROM documents),
         sp AS (
           SELECT doc_id, t, s0,
                  CAST(LEAST(s0 + 5, length(t)) AS INT) AS e0
           FROM sy)
         SELECT doc_id,
                CAST(strlen(substr(t, 1, s0)) AS INT) AS b_s,
                CAST(strlen(substr(t, 1, e0)) AS INT) AS b_e,
                s0 AS r_s, e0 AS r_e,
                CAST(s0 + length(regexp_replace(substr(t, 1, s0),
                  '[^\x{10000}-\x{10FFFF}]', '', 'g')) AS INT) AS u_s,
                CAST(e0 + length(regexp_replace(substr(t, 1, e0),
                  '[^\x{10000}-\x{10FFFF}]', '', 'g')) AS INT) AS u_e,
                s0 AS r2_s, e0 AS r2_e
         FROM sp ORDER BY doc_id""",
    "q_rolling_hash" ->
      """SELECT doc_id,
                CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                     ELSE list_reduce(
                       [CAST(0 AS BIGINT)] ||
                       list_transform(regexp_split_to_array(trim(text), '\s+'),
                         t -> ('0x' || substr(md5(t), 1, 7))::BIGINT),
                       (acc, h) -> (acc * 31 + h) % 2147483647)
                END AS rh
         FROM documents ORDER BY doc_id""",
    "q_multimodal" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes,
                sha256(text) AS payload_sha
         FROM documents ORDER BY doc_id""",
    "q_pdf_text" ->
      // the planted PDF's extraction restated: the uncompressed stream's
      // two text objects (doc prose + escape/TJ/hex pieces, then the
      // footer) and the constant flate stream's text — extraction output
      // is independent of the compressor's byte choices, so the oracle
      // needs no zlib
      """SELECT doc_id,
                substr(text, 1, 60) || ' esc (a) \ A kerned HI!!' ||
                chr(10) || 'page footer' || chr(10) ||
                'flate stream text works' AS text
         FROM documents ORDER BY doc_id""",
    "q_pdf_objstm" ->
      // the three planted tiers restated in document byte order: the
      // uncompressed ObjStm's embedded text object (doc prose), the
      // constant Flate ObjStm, the constant LZW content stream —
      // extraction output is independent of either encoder's byte
      // choices, so the oracle needs neither zlib nor LZW
      """SELECT doc_id,
                substr(text, 1, 60) || chr(10) ||
                'objstm flate text' || chr(10) ||
                'lzw stream text works' AS text
         FROM documents ORDER BY doc_id""",
    "q_pdf_chain" ->
      // the five planted streams restated in document byte order: the
      // per-doc ASCIIHex stream's prose, the constant 85→Flate chain,
      // the constant predictor'd Flate, the constant RunLength — and NO
      // line for the indirect-/Filter decoy (its absence IS the
      // assertion: an unresolvable filter must extract nothing, never
      // walk raw). Extraction output is independent of the encoders'
      // byte choices, so the oracle needs no codec.
      """SELECT doc_id,
                substr(coalesce(text, ''), 1, 60) || chr(10) ||
                'a85 flate chain text' || chr(10) ||
                'png predictor text works' || chr(10) ||
                'rle xxxx text works' AS text
         FROM documents ORDER BY doc_id""",
    "q_multimodal_decode" ->
      """SELECT doc_id,
                CAST(16 + octet_length(encode(text)) % 32 AS INTEGER) AS width,
                CAST(16 + octet_length(encode(text)) % 24 AS INTEGER) AS height,
                CAST(3 AS INTEGER) AS channels
         FROM documents WHERE octet_length(encode(text)) >= 4 ORDER BY doc_id""",
    "q_multimodal_frames" ->
      """SELECT doc_id, CAST(4 AS INTEGER) AS n_frames,
                CAST(greatest(octet_length(encode(text)), 4) AS BIGINT) AS total_bytes
         FROM documents WHERE octet_length(encode(text)) > 0 ORDER BY doc_id""",
    "q_multimodal_mp4" ->
      // the two stss keyframes are samples 1 and 3 of the four 8-byte
      // windows the Spark side packed into the mdat, i.e. text bytes
      // [1,8] and [17,24] — restated directly as substrings. The chk CTE
      // makes the byte-vs-char slice equivalence LOUD: the Spark side
      // packs UTF-8 BYTES, this restatement slices CHARACTERS — equal
      // only while the packed prefix is pure ASCII, so a non-ASCII
      // fixture must fail here, not diverge silently
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 32))) > 32 THEN error(
                    'mp4 oracle: non-ASCII in the packed 32-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 32)
         SELECT doc_id, CAST(0 AS INTEGER) AS frame_ix,
                substr(text, 1, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 32 AND chk.ok = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER) AS frame_ix,
                substr(text, 17, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 32 AND chk.ok = 0
         ORDER BY doc_id, frame_ix""",
    "q_image_dedup" ->
      // the planted 16×16 upscale downsamples back to the base's 64 cells
      // (cell-identical by construction), so its hash comes from the SAME
      // byte formula; keep rule = min doc_id per (hi, lo) hash
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'image-dedup oracle: non-ASCII in the packed 64-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), base AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text FROM base
           UNION ALL
           SELECT doc_id + 1000000000000, text FROM base WHERE doc_id < 20
         ), cell AS (
           SELECT doc_id, y.y, x.x,
                  ascii(substr(text, (7 - y.y) * 8 + x.x + 1, 1)) AS g
           FROM alld, (SELECT unnest(range(0, 8)) AS y) y,
                      (SELECT unnest(range(0, 8)) AS x) x
         ), m AS (
           SELECT doc_id, CAST(sum(g) // 64 AS BIGINT) AS mean
           FROM cell GROUP BY doc_id
         ), bits AS (
           SELECT c.doc_id,
                  sum(CASE WHEN (c.y * 8 + c.x) < 32 AND c.g > m.mean
                           THEN (CAST(1 AS BIGINT) << (31 - (c.y * 8 + c.x)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (c.y * 8 + c.x) >= 32 AND c.g > m.mean
                           THEN (CAST(1 AS BIGINT) << (63 - (c.y * 8 + c.x)))
                           ELSE 0 END) AS lo
           FROM cell c JOIN m ON m.doc_id = c.doc_id
           GROUP BY c.doc_id)
         SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY hi, lo) AS keeper
           FROM bits)
         WHERE doc_id = keeper ORDER BY doc_id""",
    "q_multimodal_ahash" ->
      // gray cell (x, y) = the text byte at (7−y)·8+x (BMP rows store
      // bottom-up); mean = integer floor; bit 63−i set when cell i beats
      // the mean, reported as two 32-bit halves so no engine needs an
      // unsigned 64-bit literal
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'ahash oracle: non-ASCII in the packed 64-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), cell AS (
           SELECT doc_id, y.y, x.x,
                  ascii(substr(text, (7 - y.y) * 8 + x.x + 1, 1)) AS g
           FROM d, (SELECT unnest(range(0, 8)) AS y) y,
                   (SELECT unnest(range(0, 8)) AS x) x
         ), m AS (
           SELECT doc_id, CAST(sum(g) // 64 AS BIGINT) AS mean
           FROM cell GROUP BY doc_id)
         SELECT c.doc_id,
                CAST(sum(CASE WHEN (c.y * 8 + c.x) < 32 AND c.g > m.mean
                         THEN (CAST(1 AS BIGINT) << (31 - (c.y * 8 + c.x)))
                         ELSE 0 END) AS BIGINT) AS ahash_hi,
                CAST(sum(CASE WHEN (c.y * 8 + c.x) >= 32 AND c.g > m.mean
                         THEN (CAST(1 AS BIGINT) << (63 - (c.y * 8 + c.x)))
                         ELSE 0 END) AS BIGINT) AS ahash_lo
         FROM cell c JOIN m ON m.doc_id = c.doc_id
         GROUP BY c.doc_id ORDER BY c.doc_id""",
    "q_multimodal_dhash" ->
      // the 9×8 resize reads source column (x·8)//9 of the same
      // bottom-up byte grid as the ahash oracle; bit 63−(y·8+x) set when
      // cell (x,y) beats its right neighbor — a self-join on (y, x+1)
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'dhash oracle: non-ASCII in the packed 64-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), cell AS (
           SELECT doc_id, y.y AS y, x.x AS x,
                  ascii(substr(text,
                    (7 - y.y) * 8 + ((x.x * 8) // 9) + 1, 1)) AS g
           FROM d, (SELECT unnest(range(0, 8)) AS y) y,
                   (SELECT unnest(range(0, 9)) AS x) x)
         SELECT a.doc_id,
                CAST(sum(CASE WHEN (a.y * 8 + a.x) < 32 AND a.g > b.g
                         THEN (CAST(1 AS BIGINT) << (31 - (a.y * 8 + a.x)))
                         ELSE 0 END) AS BIGINT) AS dhash_hi,
                CAST(sum(CASE WHEN (a.y * 8 + a.x) >= 32 AND a.g > b.g
                         THEN (CAST(1 AS BIGINT) << (63 - (a.y * 8 + a.x)))
                         ELSE 0 END) AS BIGINT) AS dhash_lo
         FROM cell a JOIN cell b
           ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
         WHERE a.x < 8
         GROUP BY a.doc_id ORDER BY a.doc_id""",
    "q_multimodal_phash" ->
      // the full fixed-point DCT replayed: 32×32 grid reads source cell
      // (x//4, y//4); row pass Σ_y g·Q(v,y), column pass Σ_x rp·Q(u,x)
      // under the SAME 256 integer cosine literals the executor uses;
      // median = 32nd smallest of the 63 non-DC coefficients; DC bit 0
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'phash oracle: non-ASCII in the packed 64-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), cell AS (
           SELECT doc_id, y.y AS y, x.x AS x,
                  ascii(substr(text,
                    (7 - (y.y // 4)) * 8 + (x.x // 4) + 1, 1)) AS g
           FROM d, (SELECT unnest(range(0, 32)) AS y) y,
                   (SELECT unnest(range(0, 32)) AS x) x
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
         ), rp AS (
           SELECT c.doc_id, c.x, q.k AS v,
                  sum(CAST(c.g AS BIGINT) * q.qv) AS s
           FROM cell c JOIN q ON q.n = c.y
           GROUP BY c.doc_id, c.x, q.k
         ), co AS (
           SELECT rp.doc_id, rp.v, q.k AS u, CAST(sum(rp.s * q.qv) AS BIGINT) AS s
           FROM rp JOIN q ON q.n = rp.x
           GROUP BY rp.doc_id, rp.v, q.k
         ), med AS (
           SELECT doc_id, s AS m FROM (
             SELECT doc_id, s, row_number() OVER (
               PARTITION BY doc_id ORDER BY s) AS rk
             FROM co WHERE NOT (u = 0 AND v = 0))
           WHERE rk = 32)
         SELECT co.doc_id,
                CAST(sum(CASE WHEN (co.v * 8 + co.u) BETWEEN 1 AND 31 AND co.s > med.m
                         THEN (CAST(1 AS BIGINT) << (31 - (co.v * 8 + co.u)))
                         ELSE 0 END) AS BIGINT) AS phash_hi,
                CAST(sum(CASE WHEN (co.v * 8 + co.u) >= 32 AND co.s > med.m
                         THEN (CAST(1 AS BIGINT) << (63 - (co.v * 8 + co.u)))
                         ELSE 0 END) AS BIGINT) AS phash_lo
         FROM co JOIN med ON med.doc_id = co.doc_id
         GROUP BY co.doc_id ORDER BY co.doc_id""",
    "q_dedup_incremental_image" ->
      // both lifecycle stages replayed: pHash bits per doc (base formula;
      // planted copies force text cell 64 to byte 126), batch-0 keep =
      // no smaller-id batch-0 doc within radius, batch-1 keep = no
      // batch-0 SURVIVOR within radius (the store) and no smaller-id
      // batch-1 doc within radius
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'incr-image oracle: non-ASCII in the packed 64-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text, 0 AS tweak,
                  CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS bt
           FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text, 1, 1 FROM d
           WHERE doc_id % 2 = 0 AND doc_id < 40
         ), cell AS (
           -- the 8×8 TEXT grid directly: the 32×32 image is this grid
           -- upsampled 4×4, so the DCT restated below regroups the
           -- 32-term sums onto 4-wide block sums (phashCosBlockValuesSql)
           -- — identical integers, 16× smaller joins (the sf1 OOM fix)
           SELECT doc_id, bt, gy.p AS gy, gx.p AS gx,
                  CASE WHEN tweak = 1
                        AND (7 - gy.p) * 8 + gx.p + 1 = 64 THEN 126
                       ELSE ascii(substr(text,
                         (7 - gy.p) * 8 + gx.p + 1, 1)) END AS g
           FROM alld, (SELECT unnest(range(0, 8)) AS p) gy,
                      (SELECT unnest(range(0, 8)) AS p) gx
         ), q AS (
           SELECT * FROM (VALUES $phashCosBlockValuesSql) t(k, b, qs)
         ), rp AS (
           SELECT c.doc_id, any_value(c.bt) AS bt, c.gx, q.k AS v,
                  sum(CAST(c.g AS BIGINT) * q.qs) AS s
           FROM cell c JOIN q ON q.b = c.gy
           GROUP BY c.doc_id, c.gx, q.k
         ), co AS (
           SELECT rp.doc_id, any_value(rp.bt) AS bt, rp.v, q.k AS u,
                  CAST(sum(rp.s * q.qs) AS BIGINT) AS s
           FROM rp JOIN q ON q.b = rp.gx
           GROUP BY rp.doc_id, rp.v, q.k
         ), med AS (
           SELECT doc_id, s AS m FROM (
             SELECT doc_id, s, row_number() OVER (
               PARTITION BY doc_id ORDER BY s) AS rk
             FROM co WHERE NOT (u = 0 AND v = 0))
           WHERE rk = 32
         ), bits AS (
           SELECT co.doc_id, any_value(co.bt) AS bt,
                  sum(CASE WHEN (co.v * 8 + co.u) BETWEEN 1 AND 31 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (31 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (co.v * 8 + co.u) >= 32 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (63 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS lo
           FROM co JOIN med ON med.doc_id = co.doc_id
           GROUP BY co.doc_id
         ), k0 AS (
           SELECT a.doc_id, a.hi, a.lo FROM bits a
           WHERE a.bt = 0 AND NOT EXISTS (
             SELECT 1 FROM bits b WHERE b.bt = 0 AND b.doc_id < a.doc_id
               AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8)
         ), k1 AS (
           SELECT a.doc_id FROM bits a
           WHERE a.bt = 1
             AND NOT EXISTS (
               SELECT 1 FROM k0 s
               WHERE bit_count(xor(a.hi, s.hi)) + bit_count(xor(a.lo, s.lo)) <= 8)
             AND NOT EXISTS (
               SELECT 1 FROM bits b WHERE b.bt = 1 AND b.doc_id < a.doc_id
                 AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8))
         SELECT doc_id FROM k0
         UNION ALL
         SELECT doc_id FROM k1
         ORDER BY doc_id""",
    "q_image_neardup" ->
      // the q_multimodal_phash restatement over base ∪ tweaked images
      // (the tweak forces text cell 64 — image cell (7,0) — to byte 126),
      // then ALL-PAIRS hamming from the (hi, lo) halves and the radius
      // threshold; banding never changes the pair set
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 64))) > 64 THEN error(
                    'image-neardup oracle: non-ASCII in the packed 64-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 64
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 64 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text, 0 AS tweak FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text, 1 FROM d WHERE doc_id < 20
         ), cell AS (
           -- 8×8 text grid + block-summed cosines: the same exact
           -- regrouping as q_dedup_incremental_image's (see
           -- phashCosBlockValuesSql)
           SELECT doc_id, gy.p AS gy, gx.p AS gx,
                  CASE WHEN tweak = 1
                        AND (7 - gy.p) * 8 + gx.p + 1 = 64 THEN 126
                       ELSE ascii(substr(text,
                         (7 - gy.p) * 8 + gx.p + 1, 1)) END AS g
           FROM alld, (SELECT unnest(range(0, 8)) AS p) gy,
                      (SELECT unnest(range(0, 8)) AS p) gx
         ), q AS (
           SELECT * FROM (VALUES $phashCosBlockValuesSql) t(k, b, qs)
         ), rp AS (
           SELECT c.doc_id, c.gx, q.k AS v,
                  sum(CAST(c.g AS BIGINT) * q.qs) AS s
           FROM cell c JOIN q ON q.b = c.gy
           GROUP BY c.doc_id, c.gx, q.k
         ), co AS (
           SELECT rp.doc_id, rp.v, q.k AS u, CAST(sum(rp.s * q.qs) AS BIGINT) AS s
           FROM rp JOIN q ON q.b = rp.gx
           GROUP BY rp.doc_id, rp.v, q.k
         ), med AS (
           SELECT doc_id, s AS m FROM (
             SELECT doc_id, s, row_number() OVER (
               PARTITION BY doc_id ORDER BY s) AS rk
             FROM co WHERE NOT (u = 0 AND v = 0))
           WHERE rk = 32
         ), bits AS (
           SELECT co.doc_id,
                  sum(CASE WHEN (co.v * 8 + co.u) BETWEEN 1 AND 31 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (31 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (co.v * 8 + co.u) >= 32 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (63 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS lo
           FROM co JOIN med ON med.doc_id = co.doc_id
           GROUP BY co.doc_id)
         SELECT a.doc_id AS idA, b.doc_id AS idB,
                CAST(bit_count(xor(a.hi, b.hi))
                     + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
         FROM bits a JOIN bits b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8
         ORDER BY idA, idB""",
    "q_multimodal_adts" ->
      // two fixed-length ADTS frames per doc whose bodies are text bytes
      // [1,8] and [9,16] — the same restatement (and the same loud
      // ASCII-equivalence chk) as the container queries
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 16))) > 16 THEN error(
                    'adts oracle: non-ASCII in the packed 16-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 16)
         SELECT doc_id, CAST(0 AS INTEGER) AS frame_ix,
                substr(text, 1, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER) AS frame_ix,
                substr(text, 9, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         ORDER BY doc_id, frame_ix""",
    "q_webdataset" ->
      // the two tar members carry text bytes [1,64] and [65,96] under the
      // constant names the fixture packed — restated directly, with the
      // same loud ASCII-equivalence chk as the other container oracles
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 96))) > 96 THEN error(
                    'tar oracle: non-ASCII in the packed 96-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 96)
         SELECT doc_id, CAST(0 AS INTEGER) AS member_ix, 'sample.txt' AS name,
                'sample' AS key, 'txt' AS ext, CAST(64 AS BIGINT) AS size,
                substr(text, 1, 64) AS member_text
         FROM documents, chk WHERE length(text) >= 96 AND chk.ok = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER), 'sample.json', 'sample', 'json',
                CAST(32 AS BIGINT), substr(text, 65, 32)
         FROM documents, chk WHERE length(text) >= 96 AND chk.ok = 0
         ORDER BY doc_id, member_ix""",
    "q_multimodal_dims" ->
      // the sniffed dims are exactly the planted per-doc values, one row
      // per (doc, format); the BMP's negative stored height reports |h|
      """WITH d AS (SELECT doc_id, CAST(n_chars % 800 + 1 AS BIGINT) AS w,
                           CAST(doc_id % 600 + 1 AS BIGINT) AS h
                    FROM documents)
         SELECT doc_id, 'png' AS format, w AS width, h AS height FROM d
         UNION ALL SELECT doc_id, 'gif', w, h FROM d
         UNION ALL SELECT doc_id, 'bmp', w, h FROM d
         UNION ALL SELECT doc_id, 'jpeg', w, h FROM d
         UNION ALL SELECT doc_id, 'webp', w, h FROM d
         ORDER BY doc_id, format""",
    "q_multimodal_fmp4" ->
      // both trun samples are sync, 8 bytes each, contiguous at the end of
      // the payload — exactly text bytes [1,8] and [9,16] (same loud
      // ASCII-equivalence chk as the other container oracles)
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 16))) > 16 THEN error(
                    'fmp4 oracle: non-ASCII in the packed 16-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 16)
         SELECT doc_id, CAST(0 AS INTEGER) AS frame_ix,
                substr(text, 1, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER) AS frame_ix,
                substr(text, 9, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         ORDER BY doc_id, frame_ix""",
    "q_multimodal_webm" ->
      // both SimpleBlocks are keyframes on the video track, so the demux
      // yields exactly text bytes [1,8] and [9,16] (same loud
      // ASCII-equivalence chk as the other container oracles)
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 16))) > 16 THEN error(
                    'webm oracle: non-ASCII in the packed 16-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 16)
         SELECT doc_id, CAST(0 AS INTEGER) AS frame_ix,
                substr(text, 1, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         UNION ALL
         SELECT doc_id, CAST(1 AS INTEGER) AS frame_ix,
                substr(text, 9, 8) AS frame_text
         FROM documents, chk WHERE length(text) >= 16 AND chk.ok = 0
         ORDER BY doc_id, frame_ix""",
    "q_audio_dedup" ->
      // the planted 2× resample reads back the same 1024-point grid, so
      // its fingerprint comes from the SAME byte formula; keep rule =
      // min doc_id per (hi, lo) fingerprint
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 128))) > 128 THEN error(
                    'audio-dedup oracle: non-ASCII in the packed 128-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 128
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 128 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text FROM d WHERE doc_id < 20
         ), smp AS (
           SELECT doc_id, j.j AS j,
                  ascii(substr(text, 2 * j.j + 1, 1))
                    + 256 * ascii(substr(text, 2 * j.j + 2, 1)) AS s
           FROM alld, (SELECT unnest(range(0, 64)) AS j) j
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
           WHERE k IN (1, 2)
         ), en AS (
           SELECT smp.doc_id, q.k - 1 AS k, f.f AS f,
                  abs(sum(CAST(smp.s AS BIGINT) * q.qv)) AS e
           FROM (SELECT unnest(range(0, 32)) AS f) f
           CROSS JOIN q
           JOIN smp ON smp.j = (f.f * 32 + q.n) // 16
           GROUP BY smp.doc_id, q.k, f.f
         ), bits AS (
           SELECT a.doc_id,
                  sum(CASE WHEN (a.f * 2 + a.k) < 32 AND a.e > b.e
                           THEN (CAST(1 AS BIGINT) << (31 - (a.f * 2 + a.k)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (a.f * 2 + a.k) >= 32 AND a.e > b.e
                           THEN (CAST(1 AS BIGINT) << (63 - (a.f * 2 + a.k)))
                           ELSE 0 END) AS lo
           FROM en a JOIN en b
             ON b.doc_id = a.doc_id AND b.k = a.k AND b.f = (a.f + 1) % 32
           GROUP BY a.doc_id)
         SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY hi, lo) AS keeper
           FROM bits)
         WHERE doc_id = keeper ORDER BY doc_id""",
    "q_audio_fingerprint" ->
      // sample_j = b(2j+1) + 256·b(2j+2) (the q_multimodal_audio
      // restatement); grid point (f, n) reads sample (f·32+n)//64; band
      // energies |Σ s·Q(k,n)| for cosine rows k ∈ {1,2} under the same
      // inlined VALUES; bit 63−(f·2+band) set when the band's energy
      // DROPS to frame (f+1) mod 32 (e(f) > e(f+1))
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 128))) > 128 THEN error(
                    'afp oracle: non-ASCII in the packed 128-char prefix - byte and char slices diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 128
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 128 AND chk.ok = 0
         ), smp AS (
           SELECT doc_id, j.j AS j,
                  ascii(substr(text, 2 * j.j + 1, 1))
                    + 256 * ascii(substr(text, 2 * j.j + 2, 1)) AS s
           FROM d, (SELECT unnest(range(0, 64)) AS j) j
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
           WHERE k IN (1, 2)
         ), en AS (
           SELECT smp.doc_id, q.k - 1 AS k, f.f AS f,
                  abs(sum(CAST(smp.s AS BIGINT) * q.qv)) AS e
           FROM (SELECT unnest(range(0, 32)) AS f) f
           CROSS JOIN q
           JOIN smp ON smp.j = (f.f * 32 + q.n) // 16
           GROUP BY smp.doc_id, q.k, f.f)
         SELECT a.doc_id,
                CAST(sum(CASE WHEN (a.f * 2 + a.k) < 32 AND a.e > b.e
                         THEN (CAST(1 AS BIGINT) << (31 - (a.f * 2 + a.k)))
                         ELSE 0 END) AS BIGINT) AS afp_hi,
                CAST(sum(CASE WHEN (a.f * 2 + a.k) >= 32 AND a.e > b.e
                         THEN (CAST(1 AS BIGINT) << (63 - (a.f * 2 + a.k)))
                         ELSE 0 END) AS BIGINT) AS afp_lo
         FROM en a JOIN en b
           ON b.doc_id = a.doc_id AND b.k = a.k AND b.f = (a.f + 1) % 32
         GROUP BY a.doc_id ORDER BY a.doc_id""",
    "q_dedup_incremental_audio" ->
      // both lifecycle stages replayed on the audio fingerprint: samples
      // from text bytes (planted copies force samples 62-63 to
      // 126 + 256·126), band energies + delta-sign bits per doc, batch-0
      // keep = no smaller-id batch-0 doc within radius 8, batch-1 keep =
      // no batch-0 SURVIVOR within radius (the store) and no smaller-id
      // batch-1 doc within radius
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 128))) > 128 THEN error(
                    'incr-audio oracle: non-ASCII in the packed 128-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 128
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 128 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text, 0 AS tweak,
                  CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS bt
           FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text, 1, 1 FROM d
           WHERE doc_id % 2 = 0 AND doc_id < 40
         ), smp AS (
           SELECT doc_id, bt, j.j AS j,
                  CASE WHEN tweak = 1 AND j.j >= 62 THEN 126 + 256 * 126
                       ELSE ascii(substr(text, 2 * j.j + 1, 1))
                            + 256 * ascii(substr(text, 2 * j.j + 2, 1)) END AS s
           FROM alld, (SELECT unnest(range(0, 64)) AS j) j
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
           WHERE k IN (1, 2)
         ), en AS (
           SELECT smp.doc_id, any_value(smp.bt) AS bt, q.k - 1 AS k, f.f AS f,
                  abs(sum(CAST(smp.s AS BIGINT) * q.qv)) AS e
           FROM (SELECT unnest(range(0, 32)) AS f) f
           CROSS JOIN q
           JOIN smp ON smp.j = (f.f * 32 + q.n) // 16
           GROUP BY smp.doc_id, q.k, f.f
         ), bits AS (
           SELECT a.doc_id, any_value(a.bt) AS bt,
                  CAST(sum(CASE WHEN (a.f * 2 + a.k) < 32 AND a.e > b.e
                           THEN (CAST(1 AS BIGINT) << (31 - (a.f * 2 + a.k)))
                           ELSE 0 END) AS BIGINT) AS hi,
                  CAST(sum(CASE WHEN (a.f * 2 + a.k) >= 32 AND a.e > b.e
                           THEN (CAST(1 AS BIGINT) << (63 - (a.f * 2 + a.k)))
                           ELSE 0 END) AS BIGINT) AS lo
           FROM en a JOIN en b
             ON b.doc_id = a.doc_id AND b.k = a.k AND b.f = (a.f + 1) % 32
           GROUP BY a.doc_id
         ), k0 AS (
           SELECT a.doc_id, a.hi, a.lo FROM bits a
           WHERE a.bt = 0 AND NOT EXISTS (
             SELECT 1 FROM bits b WHERE b.bt = 0 AND b.doc_id < a.doc_id
               AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8)
         ), k1 AS (
           SELECT a.doc_id FROM bits a
           WHERE a.bt = 1
             AND NOT EXISTS (
               SELECT 1 FROM k0 s
               WHERE bit_count(xor(a.hi, s.hi)) + bit_count(xor(a.lo, s.lo)) <= 8)
             AND NOT EXISTS (
               SELECT 1 FROM bits b WHERE b.bt = 1 AND b.doc_id < a.doc_id
                 AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8))
         SELECT doc_id FROM k0
         UNION ALL
         SELECT doc_id FROM k1 ORDER BY doc_id""",
    "q_video_neardup" ->
      // the two 8×8 keyframes read text windows [1,64] and [65,128]
      // (planted re-encodes force window cell 64 to byte 126); each
      // window's pHash is the q_multimodal_phash restatement keyed by
      // frame index; a pair survives iff BOTH frame windows are within
      // Hamming radius 8 (HAVING count(*) = 2 over the per-frame pairs)
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 128))) > 128 THEN error(
                    'video oracle: non-ASCII in the packed 128-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 128
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 128 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text, 0 AS tweak FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text, 1 FROM d WHERE doc_id < 20
         ), cell AS (
           SELECT a.doc_id, a.tweak, fr.fx AS fx, y.y AS y, x.x AS x,
                  CASE WHEN a.tweak = 1
                        AND (7 - (y.y // 4)) * 8 + (x.x // 4) + 1 = 64 THEN 126
                       ELSE ascii(substr(a.text,
                         fr.fx * 64 + (7 - (y.y // 4)) * 8 + (x.x // 4) + 1, 1))
                  END AS g
           FROM alld a, (SELECT unnest(range(0, 2)) AS fx) fr,
                (SELECT unnest(range(0, 32)) AS y) y,
                (SELECT unnest(range(0, 32)) AS x) x
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
         ), rp AS (
           SELECT c.doc_id, c.fx, c.x, q.k AS v,
                  sum(CAST(c.g AS BIGINT) * q.qv) AS s
           FROM cell c JOIN q ON q.n = c.y
           GROUP BY c.doc_id, c.fx, c.x, q.k
         ), co AS (
           SELECT rp.doc_id, rp.fx, rp.v, q.k AS u,
                  CAST(sum(rp.s * q.qv) AS BIGINT) AS s
           FROM rp JOIN q ON q.n = rp.x
           GROUP BY rp.doc_id, rp.fx, rp.v, q.k
         ), med AS (
           SELECT doc_id, fx, s AS m FROM (
             SELECT doc_id, fx, s, row_number() OVER (
               PARTITION BY doc_id, fx ORDER BY s) AS rk
             FROM co WHERE NOT (u = 0 AND v = 0))
           WHERE rk = 32
         ), bits AS (
           SELECT co.doc_id, co.fx,
                  sum(CASE WHEN (co.v * 8 + co.u) BETWEEN 1 AND 31 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (31 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (co.v * 8 + co.u) >= 32 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (63 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS lo
           FROM co JOIN med ON med.doc_id = co.doc_id AND med.fx = co.fx
           GROUP BY co.doc_id, co.fx
         ), pair AS (
           SELECT a.fx, a.doc_id AS idA, b.doc_id AS idB
           FROM bits a JOIN bits b ON b.fx = a.fx AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8)
         SELECT idA, idB FROM pair
         GROUP BY idA, idB HAVING count(*) = 2
         ORDER BY idA, idB""",
    "q_dedup_incremental_video" ->
      // both lifecycle stages replayed on PER-KEYFRAME pHash vectors:
      // the q_video_neardup bits machinery tagged with batch membership,
      // a DIRECTED all-positions-within pair set (every frame index
      // present and max per-frame Hamming ≤ 8), then batch-0 keep = no
      // smaller-id batch-0 doc all-within, batch-1 keep = no batch-0
      // SURVIVOR all-within (the store) and no smaller-id batch-1 doc
      // all-within
      s"""WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 128))) > 128 THEN error(
                    'incr-video oracle: non-ASCII in the packed 128-char prefix')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 128
         ), d AS (
           SELECT doc_id, text FROM documents, chk
           WHERE length(text) >= 128 AND chk.ok = 0
         ), alld AS (
           SELECT doc_id, text, 0 AS tweak,
                  CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS bt
           FROM d
           UNION ALL
           SELECT doc_id + 1000000000000, text, 1, 1 FROM d
           WHERE doc_id % 2 = 0 AND doc_id < 40
         ), cell AS (
           SELECT a.doc_id, a.bt, fr.fx AS fx, y.y AS y, x.x AS x,
                  CASE WHEN a.tweak = 1
                        AND (7 - (y.y // 4)) * 8 + (x.x // 4) + 1 = 64 THEN 126
                       ELSE ascii(substr(a.text,
                         fr.fx * 64 + (7 - (y.y // 4)) * 8 + (x.x // 4) + 1, 1))
                  END AS g
           FROM alld a, (SELECT unnest(range(0, 2)) AS fx) fr,
                (SELECT unnest(range(0, 32)) AS y) y,
                (SELECT unnest(range(0, 32)) AS x) x
         ), q AS (
           SELECT * FROM (VALUES $phashCosValuesSql) t(k, n, qv)
         ), rp AS (
           SELECT c.doc_id, any_value(c.bt) AS bt, c.fx, c.x, q.k AS v,
                  sum(CAST(c.g AS BIGINT) * q.qv) AS s
           FROM cell c JOIN q ON q.n = c.y
           GROUP BY c.doc_id, c.fx, c.x, q.k
         ), co AS (
           SELECT rp.doc_id, any_value(rp.bt) AS bt, rp.fx, rp.v, q.k AS u,
                  CAST(sum(rp.s * q.qv) AS BIGINT) AS s
           FROM rp JOIN q ON q.n = rp.x
           GROUP BY rp.doc_id, rp.fx, rp.v, q.k
         ), med AS (
           SELECT doc_id, fx, s AS m FROM (
             SELECT doc_id, fx, s, row_number() OVER (
               PARTITION BY doc_id, fx ORDER BY s) AS rk
             FROM co WHERE NOT (u = 0 AND v = 0))
           WHERE rk = 32
         ), bits AS MATERIALIZED (
           SELECT co.doc_id, any_value(co.bt) AS bt, co.fx,
                  sum(CASE WHEN (co.v * 8 + co.u) BETWEEN 1 AND 31 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (31 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS hi,
                  sum(CASE WHEN (co.v * 8 + co.u) >= 32 AND co.s > med.m
                           THEN (CAST(1 AS BIGINT) << (63 - (co.v * 8 + co.u)))
                           ELSE 0 END) AS lo
           FROM co JOIN med ON med.doc_id = co.doc_id AND med.fx = co.fx
           GROUP BY co.doc_id, co.fx
         ), btmap AS MATERIALIZED (
           SELECT doc_id, any_value(bt) AS bt FROM bits GROUP BY doc_id
         ), aw AS MATERIALIZED (
           SELECT a.doc_id AS idA, b.doc_id AS idB
           FROM bits a JOIN bits b
             ON b.fx = a.fx AND a.doc_id <> b.doc_id
           GROUP BY 1, 2
           HAVING count(*) = 2
              AND max(bit_count(xor(a.hi, b.hi))
                      + bit_count(xor(a.lo, b.lo))) <= 8
         ), k0 AS MATERIALIZED (
           SELECT m.doc_id FROM btmap m
           WHERE m.bt = 0 AND NOT EXISTS (
             SELECT 1 FROM aw JOIN btmap mb ON mb.doc_id = aw.idA
             WHERE aw.idB = m.doc_id AND mb.bt = 0 AND aw.idA < m.doc_id)
         ), k1 AS (
           SELECT m.doc_id FROM btmap m
           WHERE m.bt = 1
             AND NOT EXISTS (
               SELECT 1 FROM aw JOIN k0 s ON s.doc_id = aw.idA
               WHERE aw.idB = m.doc_id)
             AND NOT EXISTS (
               SELECT 1 FROM aw JOIN btmap mb ON mb.doc_id = aw.idA
               WHERE aw.idB = m.doc_id AND mb.bt = 1 AND aw.idA < m.doc_id))
         SELECT doc_id FROM k0
         UNION ALL
         SELECT doc_id FROM k1 ORDER BY doc_id""",
    "q_multimodal_audio" ->
      // every 16-bit LE sample recomputed from the same text bytes the
      // Spark side packed into the WAV data chunk; ord() reads CODEPOINTS
      // while Spark packed BYTES, so the chk pins the ASCII equivalence
      // loudly (up to 16 samples = 32 chars used)
      """WITH chk AS (
           SELECT CASE WHEN max(strlen(substr(text, 1, 32))) > 32 THEN error(
                    'audio oracle: non-ASCII in the packed 32-char prefix - ord() codepoints and packed bytes diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE length(text) >= 2)
         SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
                CAST(1 AS INTEGER) AS channels,
                CAST(least(length(text) // 2, 16) AS INTEGER) AS n_samples,
                CAST(list_sum(list_transform(
                    range(1, CAST(least(length(text) // 2, 16) AS INTEGER) + 1),
                    i -> ord(substr(text, CAST(2*i-1 AS INTEGER), 1))
                         + 256 * ord(substr(text, CAST(2*i AS INTEGER), 1))))
                  AS BIGINT) AS sample_sum
         FROM documents, chk WHERE length(text) >= 2 AND chk.ok = 0
         ORDER BY doc_id""",
    "q_quality" ->
      s"""$qualityScoreCte
         SELECT doc_id, quality FROM q ORDER BY doc_id""",
    "q_span_redact" ->
      // rebuild the redacted string from first principles: kept chars
      // (positions outside both clamped spans) union one token per
      // non-empty clamped span, stitched in position order
      """WITH base AS (
           SELECT doc_id, text, CAST(doc_id % 4 AS INTEGER) AS s1,
                  length(text) AS n
           FROM documents
         ), ch AS (
           SELECT doc_id, unnest(range(n)) AS i FROM base
         ), kept AS (
           SELECT c.doc_id, CAST(c.i AS BIGINT) AS pos,
                  substr(b.text, CAST(c.i + 1 AS INTEGER), 1) AS piece
           FROM ch c JOIN base b ON b.doc_id = c.doc_id
           WHERE NOT (c.i >= b.s1 AND c.i < LEAST(b.s1 + 3, b.n))
             AND NOT (c.i >= b.s1 + 6 AND c.i < LEAST(b.s1 + 8, b.n))
         ), toks AS (
           SELECT doc_id, CAST(s1 AS BIGINT) AS pos, '<X>' AS piece
           FROM base WHERE LEAST(s1 + 3, n) > s1
           UNION ALL
           SELECT doc_id, CAST(s1 + 6 AS BIGINT), '<X>'
           FROM base WHERE LEAST(s1 + 8, n) > s1 + 6
         ), pieces AS (
           SELECT * FROM kept UNION ALL SELECT * FROM toks
         )
         SELECT b.doc_id,
                COALESCE(string_agg(p.piece, '' ORDER BY p.pos), '') AS text
         FROM base b LEFT JOIN pieces p ON p.doc_id = b.doc_id
         GROUP BY b.doc_id
         ORDER BY b.doc_id""",
    "q_quantile_filter" ->
      // the same all-integer discrete quantile: per-lang (score) histogram,
      // cumulative counts, threshold = min v with cum·10⁶ ≥ 600000·n,
      // keep strictly above (ties at the cut drop together)
      s"""$qualityScoreCte, sc AS (
           SELECT d.doc_id, d.lang,
                  CAST(round(q.quality * 10000, 0) AS BIGINT) AS score
           FROM documents d JOIN q ON q.doc_id = d.doc_id
         ), hist AS (
           SELECT lang, score, count(*) AS c FROM sc GROUP BY lang, score
         ), cdf AS (
           SELECT lang, score,
                  sum(c) OVER (PARTITION BY lang ORDER BY score
                               ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(c) OVER (PARTITION BY lang) AS n
           FROM hist
         ), thr AS (
           SELECT lang, min(score) AS threshold FROM cdf
           WHERE cum * 1000000 >= 600000 * n GROUP BY lang
         )
         SELECT sc.doc_id, sc.lang, sc.score
         FROM sc JOIN thr ON thr.lang = sc.lang
         WHERE sc.score > thr.threshold
         ORDER BY sc.doc_id""",
    "q_attribute_mix" ->
      // both sidecars restated (token count = q_token_count's fragment,
      // quality = the shared CTE); left joins are inner-equivalent here
      // because the taggers covered every doc and the predicate rejects
      // nulls
      s"""$qualityScoreCte, tc AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
                  END AS n_tokens
           FROM documents)
         SELECT d.doc_id, d.source, tc.n_tokens, q.quality
         FROM documents d
         JOIN tc ON tc.doc_id = d.doc_id
         JOIN q ON q.doc_id = d.doc_id
         WHERE tc.n_tokens >= 20 AND q.quality >= 0.5
         ORDER BY d.doc_id""",
    "q_sidecar_recipe" ->
      // the whole two-job handoff restated: sidecar score from the shared
      // quality CTE, per-lang 40% discrete-quantile cut (same all-integer
      // rank test as q_quantile_filter), then the single planted span
      // [doc_id%4, doc_id%4+3) redacted by direct string surgery (clamped;
      // an empty clamped span leaves the text alone). Output is the
      // topology's string record model.
      s"""$qualityScoreCte, sc AS (
           SELECT d.doc_id, d.lang, d.text,
                  CAST(round(q.quality * 10000, 0) AS BIGINT) AS score
           FROM documents d JOIN q ON q.doc_id = d.doc_id
         ), hist AS (
           SELECT lang, score, count(*) AS c FROM sc GROUP BY lang, score
         ), cdf AS (
           SELECT lang, score,
                  sum(c) OVER (PARTITION BY lang ORDER BY score
                               ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(c) OVER (PARTITION BY lang) AS n
           FROM hist
         ), thr AS (
           SELECT lang, min(score) AS threshold FROM cdf
           WHERE cum * 1000000 >= 400000 * n GROUP BY lang
         ), kept AS (
           SELECT sc.* FROM sc JOIN thr ON thr.lang = sc.lang
           WHERE sc.score > thr.threshold
         )
         SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
                CASE WHEN LEAST(CAST(doc_id % 4 AS INTEGER) + 3, length(text))
                          > CAST(doc_id % 4 AS INTEGER)
                     THEN substr(text, 1, CAST(doc_id % 4 AS INTEGER))
                          || '<PII>'
                          || substr(text, CAST(doc_id % 4 AS INTEGER) + 4)
                     ELSE text END AS text,
                CAST(score AS VARCHAR) AS score
         FROM kept ORDER BY doc_id""",
    "q_budget_select" ->
      // ground truth stated the naive way: global (quality DESC, doc_id)
      // cumulative sum, keep the prefix within budget — Mix.budgetSelect
      // computes the identical set via threshold + boundary fill
      s"""$qualityScoreCte, c AS (
           SELECT doc_id, n_chars,
                  sum(n_chars) OVER (ORDER BY quality DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
           FROM q)
         SELECT doc_id, n_chars FROM c WHERE cum <= 30000 ORDER BY doc_id""",
    "q_event_window" ->
      // Spark's tumbling windows and DuckDB's time_bucket both align day
      // buckets to midnight UTC
      """SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
                time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS window_end,
                event_type, count(*) AS cnt
         FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type""",
    "q_session" ->
      // gaps-and-islands: a session breaks only when the gap is > 6h (Spark
      // session windows coalesce when adjacent — an event at exactly
      // start+gap MERGES). CAST(ts AS TIMESTAMP) truncates DuckDB's
      // nanosecond parquet timestamps to Spark's microsecond precision.
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         m AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '6 hours'
                       THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), g AS (
           SELECT user_id, ts,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM m
         )
         SELECT min(ts) AS session_start,
                max(ts) + INTERVAL '6 hours' AS session_end,
                user_id, count(*) AS cnt
         FROM g GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    "q_dedup_ttl" ->
      """SELECT DISTINCT event_type FROM events ORDER BY event_type""",
    "q_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_sketch_distinct" ->
      // the sketch estimate is not SQL-recomputable; the contract is: exact
      // counts, and the estimate within its error budget (always TRUE when
      // the HLL path is healthy — a drift flips the boolean and the hash)
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                TRUE AS within_3pct
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_salted_collect" ->
      """SELECT event_type,
                string_agg(CAST(user_id AS VARCHAR), ' ' ORDER BY user_id) AS users
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_mix_corpora" ->
      """SELECT doc_id FROM documents
         WHERE (doc_id % 2 = 0 AND ((doc_id % 2147483647) * 2654435761) % 1000000 < 500000)
            OR (doc_id % 2 = 1 AND ((doc_id % 2147483647) * 2654435761) % 1000000 < 250000)
         ORDER BY doc_id""",
    "q_interval_join" ->
      // the overlap join restated as a plain inequality self-join (IEJoin
      // at oracle scale); empty intervals (floor(value)=0) match nothing
      """WITH iv AS (
           SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS s,
                  CAST(ts AS TIMESTAMP) + to_seconds(CAST(floor(value) AS BIGINT) * 60) AS e
           FROM events WHERE event_type IN ('click', 'view')
         )
         SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id
         FROM iv l JOIN iv r
           ON l.user_id = r.user_id
          AND l.event_type = 'click' AND r.event_type = 'view'
          AND l.s < r.e AND r.s < l.e
          AND l.e > l.s AND r.e > r.s
         ORDER BY l_id, r_id""",
    "q_range_join" ->
      // sessions from the gaps-and-islands CTE (same as q_session), then a
      // plain inequality join — DuckDB's IEJoin handles it at oracle scale
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         m AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '6 hours'
                       THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), g AS (
           SELECT user_id, ts,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM m
         ), sess AS (
           SELECT user_id, min(ts) AS session_start,
                  max(ts) + INTERVAL '6 hours' AS session_end
           FROM g GROUP BY user_id, sid
         )
         SELECT e.event_id, e.user_id, s.session_start
         FROM e JOIN sess s
           ON e.user_id = s.user_id
          AND e.ts >= s.session_start AND e.ts < s.session_end
         ORDER BY e.event_id""",
    "q_asof_join" ->
      // DuckDB has native ASOF; inclusive match (p.ts >= v.ts) mirrors the
      // union-and-carry window's right-before-left tie order
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                           event_type, value FROM events),
         p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts, event_id AS view_event_id, value AS view_value
               FROM e WHERE event_type = 'view')
         SELECT p.event_id, p.user_id, p.ts,
                v.view_event_id, round(v.view_value, 4) AS view_value
         FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
         ORDER BY p.event_id""",
    "q_decontaminate" ->
      // token-boundary containment via space-padded LIKE over the same
      // normalization the Spark side applies
      decontaminateOracle,
    "q_decontaminate_bloom" ->
      // identical ground truth: the Bloom stage adds no false negatives
      // and exact verification removes its false positives
      decontaminateOracle,
    "q_normalize" ->
      """SELECT doc_id,
                substr(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), 1, 60)
                  AS norm_prefix
         FROM documents ORDER BY doc_id""",
    "q_tokenizer_fertility" ->
      // the q_bpe_ids tokenizer replay (pretokenize → byte map → merge
      // chain → symbols) reduced to per-language counts; same loud ASCII
      // guard (the byte map and char split diverge on non-ASCII)
      s"""WITH chk AS (
           SELECT CASE WHEN count(*) > 0 THEN error(
                    'fertility oracle: non-printable-ASCII text - byte map and char split diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE regexp_matches(text, '[^ -~]')
         ), nrm AS (
           SELECT doc_id, lang,
                  regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g') AS t
           FROM documents, chk WHERE chk.ok = 0
         ), enc AS (
           SELECT doc_id, lang, length(t) AS n_chars, list_transform(
                    regexp_extract_all(t,
                      '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| '),
                    p -> ${byteLevelReplaceChainSql(
                      bpeWrapSqlOf("replace(p, ' ', 'Ġ')"))}) AS encs
           FROM nrm
         ), cnt AS (
           SELECT doc_id, lang, n_chars,
                  coalesce(list_sum(list_transform(encs, e ->
                    CASE WHEN length(e) <= 2 THEN 0
                         ELSE length(string_split(substr(e, 2, length(e) - 2),
                                     '$bpeC$bpeO')) END)), 0) AS n_tok
           FROM enc)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM cnt GROUP BY lang ORDER BY lang""",
    "q_mix_solver" -> mixSolverOracle,
    "q_mix_epochs" ->
      // copies = floor(f) + (1 iff the portable hash lands under frac(f));
      // unnest(range(0, copies)) drops copies=0 rows like Spark's explode
      """WITH c AS (
           SELECT doc_id, lang,
                  (CASE lang WHEN 'en' THEN 1 WHEN 'es' THEN 2
                             WHEN 'de' THEN 0 WHEN 'fr' THEN 0 ELSE 1 END)
                  + (CASE WHEN ((doc_id % 2147483647) * 2654435761) % 1000000 <
                          CASE lang WHEN 'en' THEN 700000 WHEN 'de' THEN 500000
                                    ELSE 0 END
                     THEN 1 ELSE 0 END) AS copies
           FROM documents)
         SELECT doc_id, lang, CAST(unnest(range(0, copies)) AS BIGINT) AS epoch
         FROM c ORDER BY doc_id, epoch""",
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
         WHERE ((doc_id % 2147483647) * 2654435761) % 1000000 <
               CASE lang WHEN 'en' THEN 500000 WHEN 'es' THEN 250000
                         WHEN 'zh' THEN 100000 WHEN 'fr' THEN 1000000 ELSE 0 END
         ORDER BY doc_id""",
    "q_mix_temperature" ->
      // the rate derivation replayed exactly: sqrt weights summed
      // left-to-right over name-sorted languages (matching the Scala fold),
      // min(1, budget·(w/W)/n) truncated to the same integer threshold
      """WITH c AS (
           SELECT
             (SELECT count(*) FROM documents WHERE lang = 'de') AS nde,
             (SELECT count(*) FROM documents WHERE lang = 'en') AS nen,
             (SELECT count(*) FROM documents WHERE lang = 'es') AS nes,
             (SELECT count(*) FROM documents WHERE lang = 'fr') AS nfr,
             (SELECT count(*) FROM documents WHERE lang = 'zh') AS nzh
         ), w AS (
           SELECT nde, nen, nes, nfr, nzh,
                  sqrt(nde) + sqrt(nen) + sqrt(nes) + sqrt(nfr) + sqrt(nzh)
                    AS wsum
           FROM c
         ), th AS (
           SELECT
             CAST(FLOOR(LEAST(1.0, 300 * (sqrt(nde) / wsum) / nde) * 1000000) AS BIGINT) AS tde,
             CAST(FLOOR(LEAST(1.0, 300 * (sqrt(nen) / wsum) / nen) * 1000000) AS BIGINT) AS ten,
             CAST(FLOOR(LEAST(1.0, 300 * (sqrt(nes) / wsum) / nes) * 1000000) AS BIGINT) AS tes,
             CAST(FLOOR(LEAST(1.0, 300 * (sqrt(nfr) / wsum) / nfr) * 1000000) AS BIGINT) AS tfr,
             CAST(FLOOR(LEAST(1.0, 300 * (sqrt(nzh) / wsum) / nzh) * 1000000) AS BIGINT) AS tzh
           FROM w)
         SELECT doc_id, lang FROM documents, th
         WHERE ((doc_id % 2147483647) * 2654435761) % 1000000 <
               CASE lang WHEN 'de' THEN tde WHEN 'en' THEN ten
                         WHEN 'es' THEN tes WHEN 'fr' THEN tfr
                         WHEN 'zh' THEN tzh ELSE 0 END
         ORDER BY doc_id""",
    "q_pack_sequences" ->
      """WITH s AS (
           SELECT doc_id, n_chars,
                  ((doc_id % 2147483647) * 2654435761) % 8 AS shard
           FROM documents
         ), c AS (
           SELECT doc_id, shard,
                  SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_chars
                    AS st
           FROM s
         )
         SELECT doc_id, shard,
                CAST(FLOOR(st / 2048.0) AS BIGINT) AS seq_id,
                CAST(st % 2048 AS BIGINT) AS seq_offset
         FROM c ORDER BY doc_id""",
    "q_pack_greedy" ->
      // the greedy recurrence replayed exactly: rank docs per shard, then
      // a recursive CTE carries (seq_id, fill) from rank r to r+1 — every
      // shard advances in lockstep per iteration, so the recursion depth
      // is the largest shard's doc count, not the corpus size
      """WITH RECURSIVE s AS (
           SELECT doc_id,
                  ((doc_id % 2147483647) * 2654435761) % 8 AS shard,
                  CAST(n_chars AS BIGINT) AS sz,
                  row_number() OVER (
                    PARTITION BY ((doc_id % 2147483647) * 2654435761) % 8
                    ORDER BY doc_id) AS rn
           FROM documents),
         r AS (
           SELECT shard, rn, doc_id, sz,
                  CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS off,
                  sz AS fill
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.shard, s.rn, s.doc_id, s.sz,
                  CASE WHEN r.fill + s.sz > 2048 THEN r.seq_id + 1
                       ELSE r.seq_id END,
                  CASE WHEN r.fill + s.sz > 2048 THEN CAST(0 AS BIGINT)
                       ELSE r.fill END,
                  CASE WHEN r.fill + s.sz > 2048 THEN s.sz
                       ELSE r.fill + s.sz END
           FROM r JOIN s ON s.shard = r.shard AND s.rn = r.rn + 1)
         SELECT doc_id, shard, seq_id, off AS seq_offset
         FROM r ORDER BY doc_id""",
    "q_pack_ids" ->
      // q_bpe_ids' tokenizer replay (pretokenize → map → merge chain →
      // list_position ids) feeding q_pack_tokens' sequence rebuild
      // (cumsum starts, cut slices, offset-ordered flatten, padding)
      s"""WITH chk AS (
           SELECT CASE WHEN count(*) > 0 THEN error(
                    'pack-ids oracle: non-printable-ASCII text - byte map and char split diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE regexp_matches(text, '[^ -~]')
         ), nrm AS (
           SELECT doc_id, regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
           FROM documents, chk WHERE chk.ok = 0
         ), enc AS (
           SELECT doc_id, list_transform(
                    regexp_extract_all(t,
                      '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| '),
                    p -> ${byteLevelReplaceChainSql(
                      bpeWrapSqlOf("replace(p, ' ', 'Ġ')"))}) AS encs
           FROM nrm
         ), sym AS (
           SELECT doc_id, flatten(list_transform(encs, e ->
                    CASE WHEN length(e) <= 2 THEN CAST([] AS VARCHAR[])
                         ELSE string_split(substr(e, 2, length(e) - 2),
                                           '$bpeC$bpeO') END)) AS syms
           FROM enc
         ), tk AS (
           SELECT doc_id,
                  ((doc_id % 2147483647) * 2654435761) % 4 AS shard,
                  list_transform(syms, s -> CAST(coalesce(
                    list_position([${byteBpeDemoVocab.map(v => s"'$v'").mkString(", ")}],
                      s) - 1, -1) AS INT)) AS toks,
                  list_transform(syms, s -> nullif(list_position([${
                    byteBpeDemoVocab.map(v => s"'$v'").mkString(", ")}], s), 0)
                    IS NOT NULL) AS msk,
                  CAST(len(syms) AS BIGINT) AS n
           FROM sym WHERE len(syms) > 0),
         st AS (
           SELECT *, SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n AS strt
           FROM tk),
         pc AS (
           SELECT *, unnest(generate_series(
                       CAST(FLOOR(strt / 256.0) AS BIGINT),
                       CAST(FLOOR((strt + n - 1) / 256.0) AS BIGINT))) AS seq_id
           FROM st),
         pieces AS (
           SELECT shard, seq_id,
                  GREATEST(strt - seq_id * 256, 0) AS off,
                  list_slice(toks, GREATEST(seq_id * 256 - strt, 0) + 1,
                    LEAST((seq_id + 1) * 256 - strt, n)) AS ptok,
                  list_slice(msk, GREATEST(seq_id * 256 - strt, 0) + 1,
                    LEAST((seq_id + 1) * 256 - strt, n)) AS pmsk
           FROM pc),
         asm AS (
           SELECT shard, seq_id,
                  flatten(list(ptok ORDER BY off)) AS ids0,
                  flatten(list(pmsk ORDER BY off)) AS mk0
           FROM pieces GROUP BY shard, seq_id),
         fin AS (
           SELECT shard, seq_id, len(ids0) AS n_real,
                  ids0 || list_transform(range(256 - len(ids0)), x -> -2) AS ids,
                  mk0 || list_transform(range(256 - len(ids0)), x -> false) AS mk
           FROM asm)
         SELECT shard, seq_id,
                md5(array_to_string(list_transform(ids,
                  x -> CAST(x AS VARCHAR)), ',')) AS ids_md5,
                md5(array_to_string(list_transform(mk,
                  x -> CAST(CAST(x AS INT) AS VARCHAR)), ',')) AS msk_md5,
                CAST(n_real AS INT) AS n_real
         FROM fin ORDER BY shard, seq_id""",
    "q_pack_greedy_rows" ->
      // rank docs per shard, then the break-chain greedy tail
      // (greedyPackTailSql): a sequence opens exactly on would-overflow,
      // whole documents flatten rank-ordered with doc-ordinal segment
      // ids, padding to the budget, md5 of the joined arrays
      s"""WITH RECURSIVE tk AS (
           SELECT doc_id,
                  ((doc_id % 2147483647) * 2654435761) % 4 AS shard,
                  list_transform(ws, w -> CAST(length(w) AS INT)) AS toks,
                  list_transform(ws, w -> length(w) > 3) AS msk,
                  CAST(len(ws) AS BIGINT) AS n,
                  row_number() OVER (
                    PARTITION BY ((doc_id % 2147483647) * 2654435761) % 4
                    ORDER BY doc_id) AS rn
           FROM (SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(text) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
                 FROM documents)
           WHERE len(ws) > 0
         )${greedyPackTailSql(512, -1)}""",
    "q_packed_shards" ->
      // the .bin/.idx layout restated from first principles: sequences in
      // doc_id order, each pointer = 4 bytes × the running token count of
      // everything before it (the idx sidecar's exact prefix-sum
      // arithmetic), content by md5 of the comma-joined ids
      """WITH tk AS (
           SELECT doc_id,
                  list_transform(ws, w -> CAST(length(w) AS INT)) AS toks,
                  CAST(len(ws) AS BIGINT) AS n
           FROM (SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(text) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
                 FROM documents)
           WHERE len(ws) > 0),
         ord AS (
           SELECT row_number() OVER (ORDER BY doc_id) - 1 AS seq_ix,
                  4 * (SUM(n) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n) AS ptr,
                  n, toks
           FROM tk)
         SELECT CAST(seq_ix AS BIGINT) AS seq_ix,
                CAST(ptr AS BIGINT) AS ptr,
                CAST(n AS INT) AS n_tokens,
                md5(array_to_string(list_transform(toks,
                  x -> CAST(x AS VARCHAR)), ',')) AS ids_md5
         FROM ord ORDER BY seq_ix""",
    "q_pack_stats" ->
      // concat-chunk packing stats from first principles: per-shard token
      // totals T drive everything (n_seqs = ceil(T/512), pad arithmetic,
      // floor basis points) — no sequence rebuild needed
      """WITH tk AS (
           SELECT ((doc_id % 2147483647) * 2654435761) % 4 AS shard,
                  CAST(len(ws) AS BIGINT) AS n
           FROM (SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(text) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
                 FROM documents)
           WHERE len(ws) > 0),
         agg AS (
           SELECT shard, CAST((sum(n) + 511) // 512 AS BIGINT) AS n_seqs,
                  CAST(sum(n) AS BIGINT) AS n_tokens
           FROM tk GROUP BY shard)
         SELECT shard, n_seqs, n_tokens,
                CAST(n_seqs * 512 - n_tokens AS BIGINT) AS n_pad,
                CAST((n_seqs * 512 - n_tokens) * 10000 // (n_seqs * 512)
                  AS BIGINT) AS pad_frac_bp
         FROM agg ORDER BY shard""",
    "q_packed_shards_u16" ->
      // q_packed_shards' restatement at token width 2: pointers are
      // 2·prefix-sum — the only thing dtype changes in the layout
      """WITH tk AS (
           SELECT doc_id,
                  list_transform(ws, w -> CAST(length(w) AS INT)) AS toks,
                  CAST(len(ws) AS BIGINT) AS n
           FROM (SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(text) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
                 FROM documents)
           WHERE len(ws) > 0),
         ord AS (
           SELECT row_number() OVER (ORDER BY doc_id) - 1 AS seq_ix,
                  2 * (SUM(n) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n) AS ptr,
                  n, toks
           FROM tk)
         SELECT CAST(seq_ix AS BIGINT) AS seq_ix,
                CAST(ptr AS BIGINT) AS ptr,
                CAST(n AS INT) AS n_tokens,
                md5(array_to_string(list_transform(toks,
                  x -> CAST(x AS VARCHAR)), ',')) AS ids_md5
         FROM ord ORDER BY seq_ix""",
    "q_packed_shards_masked" ->
      // the masked SFT export restated end to end over the SHARED
      // rebuild ([[packedMaskedRebuildCtes]]): per-sequence channel md5s
      // + doc-start bit, then the single-file Megatron serialization —
      // seq_ix by (shard, seq_id), ptr = 4·512·seq_ix (every
      // concat-chunk row is budget-length)
      s"""$packedMaskedRebuildCtes,
         ord AS (
           SELECT row_number() OVER (ORDER BY shard, seq_id) - 1 AS seq_ix,
                  ds, ids_md5, msk_md5, seg_md5
           FROM fin)
         SELECT CAST(seq_ix AS BIGINT) AS seq_ix,
                CAST(seq_ix * 2048 AS BIGINT) AS ptr,
                CAST(CASE WHEN ds THEN 1 ELSE 0 END AS INT) AS doc_start,
                ids_md5, msk_md5, seg_md5
         FROM ord ORDER BY seq_ix""",
    "q_packed_reshuffle" -> packedReshuffleOracle,
    // the config path must reproduce the API path bit for bit: the TOML
    // twin shares the oracle VERBATIM
    "q_topology_reshuffle" -> packedReshuffleOracle,
    "q_packed_decontaminate" ->
      // shard-level decontamination restated over the SHARED decon CTEs
      // ([[packedDeconCtes]]): n_hits = the sequence's 8-gram POSITIONS
      // whose id-gram appears anywhere in the (distinct) eval gram set
      s"""$packedDeconCtes
         SELECT CAST(seq_ix AS BIGINT) AS seq_ix,
                count(*) AS n_hits
         FROM tg JOIN ev USING (g)
         GROUP BY seq_ix ORDER BY seq_ix""",
    "q_packed_rtbf" ->
      // the surgery restated over the same CTEs: survivors = train
      // sequences with NO flagged gram position, renumbered in original
      // order (the rewrite keeps (file, seq_ix) order, so the new
      // ordinal is the survivor rank − 1), content md5 per survivor
      s"""$packedDeconCtes,
         flagged AS (SELECT DISTINCT seq_ix FROM tg JOIN ev USING (g)),
         sv AS (
           SELECT row_number() OVER (ORDER BY seq_ix) - 1 AS new_ix,
                  toks, n
           FROM tr WHERE seq_ix NOT IN (SELECT seq_ix FROM flagged))
         SELECT CAST(new_ix AS BIGINT) AS seq_ix,
                CAST(n AS INT) AS n_tokens,
                md5(array_to_string(list_transform(toks,
                  x -> CAST(x AS VARCHAR)), ',')) AS ids_md5
         FROM sv ORDER BY seq_ix""",
    "q_topology_packed" ->
      // the TOML shard audit restated: per-document word-length tokens
      // and their len>3 mask in doc_id order (seq_ix = rank − 1 over ALL
      // written sequences; the SQL filter prunes AFTER numbering), every
      // projected field a VARCHAR — the topology's string record model
      """WITH tk AS (
           SELECT doc_id,
                  list_transform(ws, w -> CAST(length(w) AS INT)) AS toks,
                  list_transform(ws, w -> length(w) > 3) AS msk,
                  CAST(len(ws) AS BIGINT) AS n
           FROM (SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(text) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
                 FROM documents)
           WHERE len(ws) > 0),
         ord AS (
           SELECT row_number() OVER (ORDER BY doc_id) - 1 AS seq_ix,
                  toks, msk, n
           FROM tk)
         SELECT CAST(seq_ix AS VARCHAR) AS seq_ix,
                CAST(n AS VARCHAR) AS n_tokens,
                array_to_string(list_transform(toks,
                  x -> CAST(x AS VARCHAR)), ',') AS input_ids,
                array_to_string(list_transform(msk,
                  b -> CAST(CAST(b AS INT) AS VARCHAR)), ',') AS loss_mask
         FROM ord WHERE n >= 8 ORDER BY seq_ix""",
    "q_pack_greedy_sft" ->
      // q_pack_greedy_rows' numeric tokenization with BOS -3 (mask false)
      // / EOS 0 (mask true) replayed on the arrays, then the break-chain
      // greedy tail with sepId -9: the separator's budget cost rides the
      // prefix sums (cum of n+1, discount cancelled into the probe
      // bound), and each non-first piece prepends the separator with the
      // preceding doc's segment ordinal and mask false
      s"""WITH RECURSIVE tk AS (
           SELECT doc_id,
                  ((doc_id % 2147483647) * 2654435761) % 4 AS shard,
                  [CAST(-3 AS INT)] ||
                    list_transform(ws, w -> CAST(length(w) AS INT)) ||
                    [CAST(0 AS INT)] AS toks,
                  [false] || list_transform(ws, w -> length(w) > 3) ||
                    [true] AS msk,
                  CAST(len(ws) + 2 AS BIGINT) AS n,
                  row_number() OVER (
                    PARTITION BY ((doc_id % 2147483647) * 2654435761) % 4
                    ORDER BY doc_id) AS rn
           FROM (SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(text) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
                 FROM documents)
           WHERE len(ws) > 0
         )${greedyPackTailSql(512, -1, sepId = Some(-9))}""",
    "q_pack_ids_greedy" ->
      // q_pack_ids' tokenizer replay feeding the break-chain greedy tail
      // (greedyPackTailSql, budget 1024, pad -2): the SFT training-row
      // layout checked from raw text end to end. The r15 per-doc
      // recursive CTE here was wall-infeasible at sf0.1 (depth 1,250
      // carrying list columns); the prefix-sum restatement recurses over
      // sequence starts only and completes the two-SF gate.
      s"""WITH RECURSIVE chk AS (
           SELECT CASE WHEN count(*) > 0 THEN error(
                    'pack-ids-greedy oracle: non-printable-ASCII text - byte map and char split diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE regexp_matches(text, '[^ -~]')
         ), nrm AS (
           SELECT doc_id, regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
           FROM documents, chk WHERE chk.ok = 0
         ), enc AS (
           SELECT doc_id, list_transform(
                    regexp_extract_all(t,
                      '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| '),
                    p -> ${byteLevelReplaceChainSql(
                      bpeWrapSqlOf("replace(p, ' ', 'Ġ')"))}) AS encs
           FROM nrm
         ), sym AS (
           SELECT doc_id, flatten(list_transform(encs, e ->
                    CASE WHEN length(e) <= 2 THEN CAST([] AS VARCHAR[])
                         ELSE string_split(substr(e, 2, length(e) - 2),
                                           '$bpeC$bpeO') END)) AS syms
           FROM enc
         ), tk AS (
           SELECT doc_id,
                  ((doc_id % 2147483647) * 2654435761) % 4 AS shard,
                  list_transform(syms, s -> CAST(coalesce(
                    list_position([${byteBpeDemoVocab.map(v => s"'$v'").mkString(", ")}],
                      s) - 1, -1) AS INT)) AS toks,
                  list_transform(syms, s -> nullif(list_position([${
                    byteBpeDemoVocab.map(v => s"'$v'").mkString(", ")}], s), 0)
                    IS NOT NULL) AS msk,
                  CAST(len(syms) AS BIGINT) AS n,
                  row_number() OVER (
                    PARTITION BY ((doc_id % 2147483647) * 2654435761) % 4
                    ORDER BY doc_id) AS rn
           FROM sym WHERE len(syms) > 0
         )${greedyPackTailSql(1024, -2)}""",
    "q_pack_tokens" ->
      // every sequence rebuilt from first principles: per-shard start
      // positions by window cumsum, per-sequence pieces by list_slice at
      // the cut arithmetic, assembly by offset-ordered flatten, segment
      // ordinals by piece row_number, padding to the budget — then md5 of
      // the joined arrays, so the exact layout is compared
      """WITH tk AS (
           SELECT doc_id,
                  ((doc_id % 2147483647) * 2654435761) % 4 AS shard,
                  list_transform(ws, w -> CAST(length(w) AS INT)) AS toks,
                  list_transform(ws, w -> length(w) > 3) AS msk,
                  CAST(len(ws) AS BIGINT) AS n
           FROM (SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(text) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
                 FROM documents)
           WHERE len(ws) > 0),
         st AS (
           SELECT *, SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n AS strt
           FROM tk),
         pc AS (
           SELECT *, unnest(generate_series(
                       CAST(FLOOR(strt / 512.0) AS BIGINT),
                       CAST(FLOOR((strt + n - 1) / 512.0) AS BIGINT))) AS seq_id
           FROM st),
         pieces AS (
           SELECT shard, seq_id,
                  GREATEST(strt - seq_id * 512, 0) AS off,
                  list_slice(toks, GREATEST(seq_id * 512 - strt, 0) + 1,
                    LEAST((seq_id + 1) * 512 - strt, n)) AS ptok,
                  list_slice(msk, GREATEST(seq_id * 512 - strt, 0) + 1,
                    LEAST((seq_id + 1) * 512 - strt, n)) AS pmsk
           FROM pc),
         p2 AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY shard, seq_id
                       ORDER BY off) - 1 AS INT) AS pidx
           FROM pieces),
         asm AS (
           SELECT shard, seq_id,
                  flatten(list(ptok ORDER BY off)) AS ids0,
                  flatten(list(pmsk ORDER BY off)) AS mk0,
                  flatten(list(list_transform(ptok, x -> pidx)
                    ORDER BY off)) AS sg0
           FROM p2 GROUP BY shard, seq_id),
         fin AS (
           SELECT shard, seq_id, len(ids0) AS n_real,
                  ids0 || list_transform(range(512 - len(ids0)), x -> -1) AS ids,
                  sg0 || list_transform(range(512 - len(ids0)), x -> -1) AS sg,
                  mk0 || list_transform(range(512 - len(ids0)), x -> false) AS mk
           FROM asm)
         SELECT shard, seq_id,
                md5(array_to_string(list_transform(ids,
                  x -> CAST(x AS VARCHAR)), ',')) AS ids_md5,
                md5(array_to_string(list_transform(sg,
                  x -> CAST(x AS VARCHAR)), ',')) AS seg_md5,
                md5(array_to_string(list_transform(mk,
                  x -> CAST(CAST(x AS INT) AS VARCHAR)), ',')) AS msk_md5,
                CAST(n_real AS INT) AS n_real
         FROM fin ORDER BY shard, seq_id""",
    "q_pack_tokens_eos" ->
      // q_pack_tokens' first-principles rebuild with the boundary tokens
      // replayed on the token arrays: BOS -3 (mask false) prepends, EOS 0
      // (mask true) appends, n grows by 2 — the rest of the pipeline is
      // identical, so every terminator position is layout-checked
      """WITH tk AS (
           SELECT doc_id,
                  ((doc_id % 2147483647) * 2654435761) % 4 AS shard,
                  [CAST(-3 AS INT)] ||
                    list_transform(ws, w -> CAST(length(w) AS INT)) ||
                    [CAST(0 AS INT)] AS toks,
                  [false] || list_transform(ws, w -> length(w) > 3) ||
                    [true] AS msk,
                  CAST(len(ws) + 2 AS BIGINT) AS n
           FROM (SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(text) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
                 FROM documents)
           WHERE len(ws) > 0),
         st AS (
           SELECT *, SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n AS strt
           FROM tk),
         pc AS (
           SELECT *, unnest(generate_series(
                       CAST(FLOOR(strt / 512.0) AS BIGINT),
                       CAST(FLOOR((strt + n - 1) / 512.0) AS BIGINT))) AS seq_id
           FROM st),
         pieces AS (
           SELECT shard, seq_id,
                  GREATEST(strt - seq_id * 512, 0) AS off,
                  list_slice(toks, GREATEST(seq_id * 512 - strt, 0) + 1,
                    LEAST((seq_id + 1) * 512 - strt, n)) AS ptok,
                  list_slice(msk, GREATEST(seq_id * 512 - strt, 0) + 1,
                    LEAST((seq_id + 1) * 512 - strt, n)) AS pmsk
           FROM pc),
         p2 AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY shard, seq_id
                       ORDER BY off) - 1 AS INT) AS pidx
           FROM pieces),
         asm AS (
           SELECT shard, seq_id,
                  flatten(list(ptok ORDER BY off)) AS ids0,
                  flatten(list(pmsk ORDER BY off)) AS mk0,
                  flatten(list(list_transform(ptok, x -> pidx)
                    ORDER BY off)) AS sg0
           FROM p2 GROUP BY shard, seq_id),
         fin AS (
           SELECT shard, seq_id, len(ids0) AS n_real,
                  ids0 || list_transform(range(512 - len(ids0)), x -> -1) AS ids,
                  sg0 || list_transform(range(512 - len(ids0)), x -> -1) AS sg,
                  mk0 || list_transform(range(512 - len(ids0)), x -> false) AS mk
           FROM asm)
         SELECT shard, seq_id,
                md5(array_to_string(list_transform(ids,
                  x -> CAST(x AS VARCHAR)), ',')) AS ids_md5,
                md5(array_to_string(list_transform(sg,
                  x -> CAST(x AS VARCHAR)), ',')) AS seg_md5,
                md5(array_to_string(list_transform(mk,
                  x -> CAST(CAST(x AS INT) AS VARCHAR)), ',')) AS msk_md5,
                CAST(n_real AS INT) AS n_real
         FROM fin ORDER BY shard, seq_id""",
    "q_heavy_hitters" ->
      // the CMS estimate is not SQL-recomputable; the contract is: exact
      // counts, and the estimate within [exact, exact + eps·N] (TRUE when
      // the sketch path is healthy — a drift flips the boolean and the hash)
      """SELECT event_type, user_id, count(*) AS cnt, TRUE AS within_eps
         FROM events WHERE user_id < 3
         GROUP BY event_type, user_id ORDER BY event_type, user_id""",
    "q_bloom_membership" ->
      // Bloom filters have NO false negatives: every present probe is TRUE
      """SELECT DISTINCT event_type, user_id, TRUE AS found
         FROM events WHERE user_id < 3
         ORDER BY event_type, user_id""",
    "q_hist_quantiles" -> histQuantilesOracle,
    "q_unigram_score" ->
      // same whitespace tokenization as TextFunctions.tokens
      // mirrors Unigram.frequencies' top-k vocab cap (freq DESC, token ASC,
      // LIMIT 100000) and its OOV branch, so the oracle stays valid even if
      // the corpus ever exceeds maxVocab distinct tokens
      """WITH tok AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           FROM documents WHERE trim(text) <> ''
         ), cnt AS (
           SELECT w, count(*) AS freq FROM tok GROUP BY w
         ), vocab AS (
           SELECT w, freq FROM cnt ORDER BY freq DESC, w ASC LIMIT 100000
         )
         SELECT t.doc_id, count(*) AS n_tokens,
                CAST(sum(COALESCE(v.freq, 0)) AS BIGINT) AS sum_freq,
                CAST(sum(CASE WHEN v.freq IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov
         FROM tok t LEFT JOIN vocab v ON t.w = v.w
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "q_ccnet_buckets" ->
      // q_unigram_score's stats CTE feeding a literal per-language ntile(3)
      // — exactly the ranking the distributed two-phase bucketing must equal
      """WITH tok AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           FROM documents WHERE trim(text) <> ''
         ), cnt AS (
           SELECT w, count(*) AS freq FROM tok GROUP BY w
         ), vocab AS (
           SELECT w, freq FROM cnt ORDER BY freq DESC, w ASC LIMIT 100000
         ), stats AS (
           SELECT t.doc_id, count(*) AS n_tokens,
                  CAST(sum(COALESCE(v.freq, 0)) AS BIGINT) AS sum_freq
           FROM tok t LEFT JOIN vocab v ON t.w = v.w GROUP BY t.doc_id
         ), scored AS (
           SELECT d.doc_id, d.lang AS stratum, s.n_tokens, s.sum_freq,
                  round(s.sum_freq / s.n_tokens, 4) AS sc
           FROM documents d JOIN stats s ON s.doc_id = d.doc_id)
         SELECT doc_id, stratum, n_tokens, sum_freq,
                CASE ntile(3) OVER (PARTITION BY stratum
                                    ORDER BY sc DESC, doc_id)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
                END AS ppl_bucket
         FROM scored ORDER BY doc_id""",
    "q_dsir_stats" ->
      // same md5-prefix feature hashing restated over DuckDB word bigrams
      """WITH tok AS (
           SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents WHERE trim(text) <> ''
         ), bg AS (
           SELECT doc_id, lang,
                  substr(md5(unnest(list_transform(range(1, len(t)),
                         i -> t[i] || ' ' || t[i+1]))), 1, 3) AS feat
           FROM tok WHERE len(t) >= 2
         ), tgt AS (
           SELECT feat, count(*) AS tc FROM bg WHERE lang = 'en' GROUP BY feat
         ), raw AS (
           SELECT feat, count(*) AS rc FROM bg GROUP BY feat
         )
         SELECT b.doc_id, count(*) AS n_grams,
                CAST(sum(COALESCE(t.tc, 0)) AS BIGINT) AS tgt_freq,
                CAST(sum(COALESCE(r.rc, 0)) AS BIGINT) AS raw_freq
         FROM bg b LEFT JOIN tgt t ON b.feat = t.feat
                   LEFT JOIN raw r ON b.feat = r.feat
         GROUP BY b.doc_id ORDER BY b.doc_id""",
    "q_keywords" ->
      """WITH tok AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           FROM documents WHERE trim(text) <> ''
         ), tf AS (
           SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w
         ), dfreq AS (
           SELECT w, count(*) AS df FROM tf GROUP BY w
         ), nd AS (
           SELECT count(DISTINCT doc_id) AS n FROM tf
         ), ranked AS (
           SELECT t.doc_id, t.w, t.tf,
                  row_number() OVER (PARTITION BY t.doc_id
                                     ORDER BY t.tf DESC, t.w ASC) AS rank
           FROM tf t JOIN dfreq d ON d.w = t.w, nd
           WHERE d.df <= 0.9 * nd.n)
         SELECT doc_id, CAST(rank AS INTEGER) AS rank, w AS term, tf
         FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q_bigram_score" ->
      // bigram analogue of q_unigram_score: space-joined word 2-grams as
      // the scoring unit, same vocab cap and OOV branch; docs shorter than
      // 2 tokens have no units and are absent, mirroring the empty explode
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents WHERE trim(text) <> ''
         ), bg AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(t)),
                         i -> t[i] || ' ' || t[i+1])) AS w
           FROM tok WHERE len(t) >= 2
         ), cnt AS (
           SELECT w, count(*) AS freq FROM bg GROUP BY w
         ), vocab AS (
           SELECT w, freq FROM cnt ORDER BY freq DESC, w ASC LIMIT 100000
         )
         SELECT b.doc_id, count(*) AS n_tokens,
                CAST(sum(COALESCE(v.freq, 0)) AS BIGINT) AS sum_freq,
                CAST(sum(CASE WHEN v.freq IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov
         FROM bg b LEFT JOIN vocab v ON b.w = v.w
         GROUP BY b.doc_id ORDER BY b.doc_id""",
    "q_shuffle" ->
      // the shuffle order restated as one global row_number — exactly what
      // the distributed two-phase rank must equal
      """SELECT doc_id,
                row_number() OVER (
                  ORDER BY md5('r4|' || CAST(doc_id AS VARCHAR)), doc_id)
                  AS shuffle_pos
         FROM documents ORDER BY doc_id""",
    "q_classifier" ->
      // linear bag-of-features score restated directly: unigrams UNION ALL
      // space-joined bigrams, left-joined to the literal weight table.
      // Weights cast to DOUBLE so both engines sum identical binary
      // fractions (no DECIMAL arithmetic on the DuckDB side)
      """WITH w AS (
           SELECT 'join' AS token, CAST(0.5 AS DOUBLE) AS weight
           UNION ALL SELECT 'slow', -0.5
           UNION ALL SELECT 'hash', 0.25
           UNION ALL SELECT 'batch', -0.125
           UNION ALL SELECT 'scan', 0.0625
           UNION ALL SELECT 'hash join', 0.25
         ), tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents WHERE trim(text) <> ''
         ), feat AS (
           SELECT doc_id, unnest(t) AS f FROM tok
           UNION ALL
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
                  i -> t[i] || ' ' || t[i+1])) AS f
           FROM tok WHERE len(t) >= 2
         )
         SELECT f.doc_id, count(*) AS n_features,
                sum(COALESCE(w.weight, 0)) AS sum_weight,
                round(-0.125 + sum(COALESCE(w.weight, 0)) / count(*), 4) AS logit,
                (-0.125 + sum(COALESCE(w.weight, 0)) / count(*)) > 0 AS keep
         FROM feat f LEFT JOIN w ON f.f = w.token
         GROUP BY f.doc_id ORDER BY f.doc_id""",
    "q_classifier_grad" ->
      // the same feat/weights CTEs as q_classifier, then: per-doc logit →
      // σ → residual rounded to nano-units (round is HALF_UP in both
      // engines; the 1e-9 grain absorbs libm exp ulp differences), each
      // feature OCCURRENCE contributing round(rq/n); sums of integral
      // doubles ≤ 5e11 are exact and order-independent
      """WITH w AS (
           SELECT 'join' AS token, CAST(0.5 AS DOUBLE) AS weight
           UNION ALL SELECT 'slow', -0.5
           UNION ALL SELECT 'hash', 0.25
           UNION ALL SELECT 'batch', -0.125
           UNION ALL SELECT 'scan', 0.0625
           UNION ALL SELECT 'hash join', 0.25
         ), tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents WHERE trim(text) <> ''
         ), feat AS (
           SELECT doc_id, unnest(t) AS f FROM tok
           UNION ALL
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
                  i -> t[i] || ' ' || t[i+1])) AS f
           FROM tok WHERE len(t) >= 2
         ), doc AS (
           SELECT f.doc_id, count(*) AS n, sum(COALESCE(w.weight, 0)) AS sw
           FROM feat f LEFT JOIN w ON f.f = w.token
           GROUP BY f.doc_id
         ), resid AS (
           SELECT doc_id, n,
                  round((1.0 / (1.0 + exp(-(-0.125 + sw / n)))
                         - CAST(doc_id % 2 AS DOUBLE)) * 1e9) AS rq
           FROM doc
         ), contrib AS (
           SELECT doc_id, round(rq / n) AS c FROM resid)
         SELECT f.f AS feature, sum(ct.c) / 1e9 AS grad
         FROM feat f
         JOIN contrib ct ON ct.doc_id = f.doc_id
         JOIN w ON w.token = f.f
         GROUP BY f.f
         UNION ALL
         SELECT '__bias__', sum(rq) / 1e9 FROM resid
         ORDER BY feature""",
    "q_classifier_hashed" ->
      // q_classifier_grad's restatement with the weight JOIN replaced by
      // the md5 bucket hash and the formulaic weight table — every
      // occupied bucket gets a gradient row; bucket −1 is the bias
      """WITH tok AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents WHERE trim(text) <> ''
         ), feat AS (
           SELECT doc_id, unnest(t) AS f FROM tok
           UNION ALL
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
                  i -> t[i] || ' ' || t[i+1])) AS f
           FROM tok WHERE len(t) >= 2
         ), hb AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(f), 1, 8))::BIGINT % 256 AS INT) AS b
           FROM feat
         ), doc AS (
           SELECT doc_id, count(*) AS n,
                  sum(((b % 21) - 10) / 1024.0) AS sw
           FROM hb GROUP BY doc_id
         ), resid AS (
           SELECT doc_id, n,
                  round((1.0 / (1.0 + exp(-(-0.125 + sw / n)))
                         - CAST(doc_id % 2 AS DOUBLE)) * 1e9) AS rq
           FROM doc
         ), contrib AS (
           SELECT doc_id, round(rq / n) AS c FROM resid)
         SELECT hb.b AS bucket, sum(ct.c) / 1e9 AS grad
         FROM hb JOIN contrib ct ON ct.doc_id = hb.doc_id
         GROUP BY hb.b
         UNION ALL
         SELECT -1, sum(rq) / 1e9 FROM resid
         ORDER BY bucket""",
    "q_decontaminate_fuzzy" ->
      // bipartite all-pairs exact jaccard vs the benchmark subset — the
      // ground truth the LSH-candidates-then-exact-verify path must equal
      // at full recall (same tokenizer/shingle CTE as the dedup oracles)
      """WITH tok AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(text), '\s+') END AS t
           FROM documents
         ), sh AS (
           SELECT doc_id,
                  CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
                       ELSE list_distinct(list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS g
           FROM tok
         ), p AS (
           SELECT a.doc_id, b.doc_id + 1000000 AS bench_id,
                  len(list_intersect(a.g, b.g)) AS inter,
                  len(a.g) AS na, len(b.g) AS nb
           FROM sh a, (SELECT * FROM sh WHERE doc_id % 50 = 0) b
         ), j AS (
           SELECT doc_id, bench_id,
                  CASE WHEN na + nb - inter = 0 THEN 0.0
                       ELSE CAST(inter AS DOUBLE) / (na + nb - inter) END AS jac
           FROM p)
         SELECT doc_id, bench_id, round(jac, 4) AS jaccard
         FROM j WHERE jac >= 0.7 ORDER BY doc_id, bench_id""",
    "q_bpe_pairs" ->
      // first-step pair statistics restated naively: every adjacent char
      // pair of every word occurrence, space-separated like the Spark
      // symbol pairs, counted and top-20'd with the same tie-break
      """WITH wrds AS (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           FROM documents WHERE trim(text) <> ''
         ), pos AS (
           SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
           FROM wrds WHERE length(w) >= 2
         )
         SELECT substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair,
                count(*) AS cnt
         FROM pos GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""",
    "q_bpe_train" -> bpeTrainOracleSql(4),
    "q_wordpiece_train" -> wordpieceTrainOracleSql(4),
    "q_wordpiece_train_tiny" -> wordpieceTrainOracleSql(4,
      "SELECT lower(substr(n_name, 1, 3)) AS w FROM nation WHERE n_nationkey < 2"),
    "q_bpe_train_byte" -> bpeTrainByteOracleSql(4),
    "q_bpe_encode" ->
      // the merge chain replayed verbatim as literal replaces over the
      // delimiter-wrapped char split; symbol count = open-delimiter count
      s"""WITH e AS (
           SELECT doc_id,
                  array_to_string(list_transform(
                    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(trim(text), '\\s+') END,
                    w -> ${bpeReplaceChainSql(bpeWrapSql)}), '|') AS enc
           FROM documents)
         SELECT doc_id, length(enc) - length(replace(enc, '$bpeO', '')) AS n_bpe,
                md5(enc) AS enc_md5
         FROM e ORDER BY doc_id""",
    "q_bpe_byte_level" ->
      // pretokenizer restated lookahead-free (valid on single-space
      // text), byte map restated as the space→Ġ rule (valid on printable
      // ASCII — both preconditions are LOUD), merges replayed as literal
      // replaces over the wrapped char split
      s"""WITH chk AS (
           SELECT CASE WHEN count(*) > 0 THEN error(
                    'byte-level oracle: non-printable-ASCII text - byte map and char split diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE regexp_matches(text, '[^ -~]')
         ), n AS (
           SELECT doc_id, regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
           FROM documents, chk WHERE chk.ok = 0
         ), e AS (
           SELECT doc_id, array_to_string(list_transform(
                    regexp_extract_all(t,
                      '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| '),
                    p -> ${byteLevelReplaceChainSql(
                      bpeWrapSqlOf("replace(p, ' ', 'Ġ')"))}), '|') AS enc
           FROM n)
         SELECT doc_id, length(enc) - length(replace(enc, '$bpeO', '')) AS n_tokens,
                md5(enc) AS enc_md5
         FROM e ORDER BY doc_id""",
    "q_bpe_ids" ->
      // same pretokenize+map+merge replay as q_bpe_byte_level, then the
      // per-piece symbol split is flattened across pieces and each symbol
      // becomes list_position(vocab) - 1 (absent → -1); empty docs
      // coalesce to '' (duckdb's empty-list array_to_string is NULL)
      s"""WITH chk AS (
           SELECT CASE WHEN count(*) > 0 THEN error(
                    'bpe-ids oracle: non-printable-ASCII text - byte map and char split diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE regexp_matches(text, '[^ -~]')
         ), n AS (
           SELECT doc_id, regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
           FROM documents, chk WHERE chk.ok = 0
         ), p AS (
           SELECT doc_id, list_transform(
                    regexp_extract_all(t,
                      '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| '),
                    p -> ${byteLevelReplaceChainSql(
                      bpeWrapSqlOf("replace(p, ' ', 'Ġ')"))}) AS encs
           FROM n
         ), sym AS (
           SELECT doc_id, flatten(list_transform(encs, e ->
                    CASE WHEN length(e) <= 2 THEN CAST([] AS VARCHAR[])
                         ELSE string_split(substr(e, 2, length(e) - 2),
                                           '$bpeC$bpeO') END)) AS syms
           FROM p)
         SELECT doc_id, CAST(len(syms) AS INTEGER) AS n_ids,
                md5(coalesce(array_to_string(list_transform(syms, s ->
                  CAST(coalesce(nullif(list_position([${
                    byteBpeDemoVocab.map(v => s"'$v'").mkString(", ")}], s),
                    0) - 1, -1) AS VARCHAR)), ','), '')) AS ids_md5
         FROM sym ORDER BY doc_id""",
    "q_tokenize_hf_import" ->
      // the q_bpe_ids replay under the imported file's EXPLICIT id map:
      // symbol → 3·(position−1)+7 when present, −1 otherwise — the
      // oracle derives the ids from the same arithmetic the fixture
      // export used, so a positional (non-explicit) import would mismatch
      // every present symbol
      s"""WITH chk AS (
           SELECT CASE WHEN count(*) > 0 THEN error(
                    'hf-import oracle: non-printable-ASCII text - byte map and char split diverge')
                  ELSE 0 END AS ok
           FROM documents WHERE regexp_matches(text, '[^ -~]')
         ), n AS (
           SELECT doc_id,
                  'q9 ' || regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
           FROM documents, chk WHERE chk.ok = 0
         ), p AS (
           SELECT doc_id, list_transform(
                    regexp_extract_all(t,
                      '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| '),
                    p -> ${byteLevelReplaceChainSql(
                      bpeWrapSqlOf("replace(p, ' ', 'Ġ')"))}) AS encs
           FROM n
         ), sym AS (
           SELECT doc_id, flatten(list_transform(encs, e ->
                    CASE WHEN length(e) <= 2 THEN CAST([] AS VARCHAR[])
                         ELSE string_split(substr(e, 2, length(e) - 2),
                                           '$bpeC$bpeO') END)) AS syms
           FROM p)
         SELECT doc_id, CAST(len(syms) AS INTEGER) AS n_ids,
                md5(coalesce(array_to_string(list_transform(syms, s ->
                  CAST(coalesce(3 * (nullif(list_position([${
                    byteBpeDemoVocab.map(v => s"'$v'").mkString(", ")}], s), 0) - 1)
                    + 7, -1) AS VARCHAR)), ','), '')) AS ids_md5
         FROM sym ORDER BY doc_id""",
    "q_tokenize_hf_metaspace" -> hfMetaspaceOracle,
    "q_tokenize_hf_bert" -> hfBertOracle,
    "q_bpe_roundtrip" ->
      // decode∘encode = identity: dec_md5 IS md5(text) when the round
      // trip holds; the printable-ASCII guard keeps the demo vocabulary's
      // coverage total (non-ASCII would still round-trip, but through
      // symbols outside the inlined vocab — loud, not wrong)
      """WITH chk AS (
           SELECT CASE WHEN count(*) > 0 THEN error(
                    'roundtrip oracle: non-printable-ASCII text - demo vocab coverage is ASCII-only')
                  ELSE 0 END AS ok
           FROM documents WHERE regexp_matches(text, '[^ -~]')
         )
         SELECT doc_id, md5(text) AS orig_md5, md5(text) AS dec_md5
         FROM documents, chk
         WHERE chk.ok = 0 AND text IS NOT NULL
         ORDER BY doc_id""",
    "q_bpe_offsets" ->
      // token offsets restated from first principles: word starts are
      // prefix sums of word lengths + 1 separator over the single-space
      // normalized text, piece offsets are prefix sums of piece lengths
      // within each word (the same merge-chain replay as q_bpe_encode
      // yields the pieces), and the mask is the half-open overlap test on
      // the oracle's own offsets. raw_sub must equal the piece: the Spark
      // side slices the ORIGINAL text at raw-text offsets, so any error
      // on the multi-space path corrupts the slice.
      s"""WITH w1 AS (
           SELECT doc_id, generate_subscripts(ws, 1) AS wi, unnest(ws) AS w
           FROM (SELECT doc_id,
                   CASE WHEN text IS NULL OR trim(text) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
                 FROM documents)),
         w2 AS (
           SELECT doc_id, wi,
                  CAST(coalesce(sum(length(w) + 1) OVER (PARTITION BY doc_id
                    ORDER BY wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                    PRECEDING), 0) AS INT) AS wstart,
                  ${bpeReplaceChainSql(bpeWrapSql)} AS enc
           FROM w1),
         p1 AS (
           SELECT doc_id, wi, wstart,
                  generate_subscripts(ps, 1) AS pi, unnest(ps) AS piece
           FROM (SELECT doc_id, wi, wstart,
                   string_split(substr(enc, 2, length(enc) - 2),
                     '$bpeC$bpeO') AS ps
                 FROM w2)),
         p2 AS (
           SELECT doc_id, wi, pi, piece,
                  CAST(wstart + coalesce(sum(length(piece)) OVER (
                    PARTITION BY doc_id, wi ORDER BY pi ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS s
           FROM p1)
         SELECT doc_id,
                CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY wi, pi) - 1 AS INT) AS ti,
                piece AS tok, s, CAST(s + length(piece) AS INT) AS e,
                piece AS raw_sub,
                (CAST(doc_id % 11 AS INT) < s + length(piece)
                  AND s < CAST(doc_id % 11 + 6 AS INT)) AS masked
         FROM p2 ORDER BY doc_id, ti""",
    "q_wordpiece" -> wordpieceOracle,
    "q_unigram_segment" -> unigramSegmentOracle,
    "q_unigram_train" -> unigramTrainOracle,
    "q_unigram_train_segment" -> unigramTrainSegmentOracle,
    "q_unigram_fertility" -> unigramFertilityOracle,
    "q_pack_ids_unigram" -> unigramPackOracle,
    // the unigram replay with EOS -4 / BOS -5 on the arrays and the
    // separator-aware break-chain tail (SEP -6) — the TOML SFT chain must
    // reproduce it bit-for-bit
    "q_topology_sft" -> unigramPackOracleWith(
      eos = Some(-4), bos = Some(-5), sep = Some(-6)),
    // the config-surface replay of the same path: train → sidecar →
    // TokenizeIds → PackRows must reproduce the API capstone exactly
    "q_topology_tokenize" -> unigramPackOracle,
    "q_topology_wordpiece" -> wpTomlOracle,
    "q_bpe_encode_native" ->
      // no digit pair exists in the corpus, so the 64-rule table leaves
      // the delimiter-wrapped char split untouched (rule non-firing is
      // itself part of the check: one spurious merge changes every hash)
      s"""WITH e AS (
           SELECT doc_id,
                  array_to_string(list_transform(
                    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(trim(text), '\\s+') END,
                    w -> $bpeWrapSql), '|') AS enc
           FROM documents)
         SELECT doc_id, length(enc) - length(replace(enc, '$bpeO', '')) AS n_bpe,
                md5(enc) AS enc_md5
         FROM e ORDER BY doc_id""",
    "q_pack_bpe" ->
      // n_bpe derived exactly as in q_bpe_encode, then the same per-shard
      // cumsum-and-cut as the q_pack_sequences oracle, in token units
      s"""WITH e AS (
           SELECT doc_id,
                  array_to_string(list_transform(
                    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(trim(text), '\\s+') END,
                    w -> ${bpeReplaceChainSql(bpeWrapSql)}), '|') AS enc
           FROM documents
         ), s AS (
           SELECT doc_id,
                  length(enc) - length(replace(enc, '$bpeO', '')) AS n_bpe,
                  ((doc_id % 2147483647) * 2654435761) % 8 AS shard
           FROM e
         ), c AS (
           SELECT doc_id, n_bpe, shard,
                  SUM(n_bpe) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_bpe AS st
           FROM s)
         SELECT doc_id, n_bpe, shard,
                CAST(FLOOR(st / 1024.0) AS BIGINT) AS seq_id,
                CAST(st % 1024 AS BIGINT) AS seq_offset
         FROM c ORDER BY doc_id""",
    "q_html_extract" ->
      // identical planted page; the regex sequence is shared java-regex/
      // RE2 syntax, so both engines run the SAME pattern strings —
      // script/style/comment strip, tag strip, named-entity decode
      // (&amp; last), whitespace collapse. Title is NOT entity-decoded
      // (htmlToText's contract); link count is the href group count.
      """WITH pages AS (
           SELECT doc_id,
                  '<html><head><title> Doc ' || CAST(doc_id AS VARCHAR) ||
                  ' &amp; friends </title>' ||
                  '<style type="text/css">body { color: #000; }</style></head>' ||
                  '<body><!-- nav' || chr(10) || 'boilerplate --><h1>Heading</h1><p>' ||
                  substr(text, 1, 120) ||
                  '</p><script>var x = 1 < 2 && "</p>";</script>' ||
                  '<a href="https://x.test/a">one</a> <a href="https://x.test/b">two</a>' ||
                  '<div>&lt;tag&gt;&nbsp;&quot;quoted&quot; &#39;q&#39; &amp; done</div>' ||
                  '</body></html>' AS page
           FROM documents WHERE text <> ''
         ), stripped AS (
           SELECT doc_id, page,
                  regexp_replace(regexp_replace(regexp_replace(regexp_replace(page,
                    '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
                    '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                    '(?s)<!--.*?-->', ' ', 'g'),
                    '<[^>]*>', ' ', 'g') AS notags
           FROM pages
         ), decoded AS (
           SELECT doc_id, page,
                  replace(replace(replace(replace(replace(replace(replace(notags,
                    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                    '&quot;', '"'), '&#39;', ''''), '&apos;', ''''),
                    '&amp;', '&') AS dec
           FROM stripped)
         SELECT doc_id,
                trim(regexp_replace(dec, '[ \t\n\r\f]+', ' ', 'g')) AS text_out,
                trim(regexp_replace(
                  regexp_extract(page, '(?is)<title[^>]*>(.*?)</title>', 1),
                  '[ \t\n\r\f]+', ' ', 'g')) AS title,
                CAST(len(regexp_extract_all(page, '(?is)href="([^"]*)"', 1))
                     AS INTEGER) AS n_links
         FROM decoded ORDER BY doc_id""",
    "q_html_main_text" -> (
      // identical planted page (mainDemoPageSql — one source of truth);
      // block split at the SAME tag pattern (injected from
      // TextFunctions.htmlBlockTagPattern), per-block
      // strip/decode/collapse via htmlFragmentTextSql, link chars as the
      // summed anchor-text lengths, then the two-signal keep gate and an
      // ordered string_agg rebuild of the main text
      htmlMainChainSql(mainDemoPageSql) + """
         SELECT doc_id,
                md5(coalesce(string_agg(CASE WHEN kept THEN t END, chr(10)
                                        ORDER BY j), '')) AS main_md5,
                CAST(length(coalesce(string_agg(CASE WHEN kept THEN t END, chr(10)
                                                ORDER BY j), '')) AS INTEGER)
                  AS main_len,
                CAST(count(*) AS INTEGER) AS n_blocks,
                CAST(count(*) FILTER (WHERE kept) AS INTEGER) AS n_kept
         FROM ne GROUP BY doc_id ORDER BY doc_id"""),
    "q_main_content_funnel" -> (
      // the extractor FEEDING the quality stack: the main-content chain
      // over the funnel page, the kept blocks reassembled in order, then
      // the C4 line lambda over the reassembled text — paragraph 1
      // survives both gates, "short." dies at the extractor, paragraph 3
      // (no terminal punctuation) survives extraction but dies at C4
      htmlMainChainSql(
        """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
                  '</title></head><body>' ||
                  '<nav><a href="/">Home</a> <a href="/about">About us</a> ' ||
                  '<a href="/contact">Contact</a></nav>' ||
                  '<div class="cookie">We use cookies. ' ||
                  '<a href="/privacy">Learn more</a></div>' ||
                  '<article><p>' || substr(text, 1, 200) ||
                  ' properly ends the paragraph here.</p>' ||
                  '<p>short.</p>' ||
                  '<p>' || substr(text, 201, 150) ||
                  ' this paragraph never terminates properly</p></article>' ||
                  '<footer>(c) 2026 <a href="/tos">Terms</a> ' ||
                  '<a href="/priv">Privacy</a></footer>' ||
                  '</body></html>'""") + """
         , mt AS (
           SELECT doc_id,
                  coalesce(string_agg(CASE WHEN kept THEN t END, chr(10)
                                      ORDER BY j), '') AS main
           FROM ne GROUP BY doc_id
         ), c4 AS (
           SELECT doc_id, main,
                  list_filter(string_split(main, chr(10)), x ->
                    regexp_matches(x, '[.!?"]$')
                    AND len(string_split_regex(trim(x), '\s+')) >= 5
                    AND NOT contains(lower(x), 'javascript')
                    AND NOT contains(x, '{')) AS kept
           FROM mt)
         SELECT doc_id,
                CAST(CASE WHEN main = '' THEN 0
                          ELSE len(string_split(main, chr(10))) END AS INTEGER)
                  AS n_main_blocks,
                CAST(len(kept) AS INTEGER) AS n_c4_kept,
                ((NOT contains(lower(main), 'lorem ipsum')) AND len(kept) >= 3)
                  AS c4_passes,
                md5(COALESCE(array_to_string(kept, chr(10)), '')) AS kept_md5
         FROM c4 ORDER BY doc_id"""),
    "q_c4_filters" ->
      // identical planted page, identical lambda filter: terminal punct,
      // >=5 words, no javascript/brace at line level; lorem-ipsum + >=3
      // kept lines at page level
      """WITH pages AS (
           SELECT doc_id,
                  substr(text, 1, 80) || ' end of line one.' || chr(10) ||
                  'tiny line.' || chr(10) ||
                  'get this javascript widget now with one easy click.' || chr(10) ||
                  'lorem ' ||
                  CASE WHEN doc_id % 7 = 0 THEN 'ipsum' ELSE 'harmless' END ||
                  ' marker line with plenty of words' ||
                  CASE WHEN doc_id % 2 = 0 THEN ' today.' ELSE ' today' END ||
                  chr(10) ||
                  substr(text, 81, 60) || ' and the closing words!' AS page
           FROM documents WHERE text <> ''
         ), f AS (
           SELECT doc_id, page,
                  list_filter(string_split(page, chr(10)), x ->
                    regexp_matches(x, '[.!?"]$')
                    AND len(string_split_regex(trim(x), '\s+')) >= 5
                    AND NOT contains(lower(x), 'javascript')
                    AND NOT contains(x, '{')) AS kept
           FROM pages)
         SELECT doc_id, CAST(len(kept) AS INTEGER) AS n_kept,
                ((NOT contains(lower(page), 'lorem ipsum')) AND len(kept) >= 3)
                  AS passes,
                md5(array_to_string(kept, chr(10))) AS kept_md5
         FROM f ORDER BY doc_id""",
  )
}
