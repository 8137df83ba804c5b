package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

import QueryFixtures._

/** Tokenizer queries: BPE (char and byte level), WordPiece, unigram,
  * imported HF tokenizers, their trainers, and the tokenize → pack rows
  * that replay the same tokenizer oracles.
  */
object TokenizerQueries {

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

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_token_count", ((s, d) =>
      // whitespace tokens + the BPE-ish subword estimate (letter runs,
      // digit runs, punctuation singletons), both map-only
      t(s, d, "documents")
        .select(col("doc_id"),
          TF.tokenCount(col("text")).as("n_tokens"),
          TF.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")),
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
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_tokenizer_fertility", ((s, d) => {
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
         FROM cnt GROUP BY lang ORDER BY lang"""),

    QueryDef("q_pack_ids", ((s, d) => {
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
         FROM fin ORDER BY shard, seq_id"""),

    QueryDef("q_pack_ids_greedy", ((s, d) => {
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
         )${greedyPackTailSql(1024, -2)}"""),

    QueryDef("q_bpe_pairs", ((s, d) =>
      // BPE training step 1's sufficient statistics: corpus-wide adjacent
      // character-pair counts (one explode + one map-side-combined agg),
      // deterministic top-20 (count desc, pair asc)
      graft.llm.Bpe.pairCounts(t(s, d, "documents"), col("text"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)),
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
         FROM pos GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""),

    QueryDef("q_bpe_train", ((s, d) => {
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
      bpeTrainOracleSql(4)),

    QueryDef("q_wordpiece_train", ((s, d) => {
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
      wordpieceTrainOracleSql(4)),

    QueryDef("q_wordpiece_train_tiny", ((s, d) => {
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
      wordpieceTrainOracleSql(4,
      "SELECT lower(substr(n_name, 1, 3)) AS w FROM nation WHERE n_nationkey < 2")),

    QueryDef("q_bpe_train_byte", ((s, d) => {
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
      bpeTrainByteOracleSql(4)),

    QueryDef("q_bpe_encode", ((s, d) =>
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
         FROM e ORDER BY doc_id"""),

    QueryDef("q_bpe_byte_level", ((s, d) =>
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
         FROM e ORDER BY doc_id"""),

    QueryDef("q_bpe_ids", ((s, d) =>
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
         FROM sym ORDER BY doc_id"""),

    QueryDef("q_tokenize_hf_import", ((s, d) => {
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
         FROM sym ORDER BY doc_id"""),

    QueryDef("q_tokenize_hf_metaspace", ((s, d) => {
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
      hfMetaspaceOracle),

    QueryDef("q_tokenize_hf_bert", ((s, d) => {
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
      hfBertOracle),

    QueryDef("q_bpe_roundtrip", ((s, d) => {
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
         ORDER BY doc_id"""),

    QueryDef("q_bpe_offsets", ((s, d) => {
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
         FROM p2 ORDER BY doc_id, ti"""),

    QueryDef("q_unigram_segment", ((s, d) =>
      // SentencePiece-style OPTIMAL segmentation: per-word Viterbi DP in
      // the native expression (lexicographic (cost, pieces) packed into
      // one long), doc stats via map-only array folds — zero shuffles
      graft.llm.UnigramSegment.segmentStats(t(s, d, "documents"), "doc_id",
        "text", usDemoVocab)
        .orderBy("doc_id")),
      unigramSegmentOracle),

    QueryDef("q_unigram_train", ((s, d) =>
      // unigram-LM (SentencePiece-style) vocabulary TRAINING — integer-
      // exact Viterbi-EM: substring seed, bit-length-quantized -log2
      // costs, native Viterbi E-step piece counts (map-only over the
      // distinct-word table + one bounded agg per round), count-ordered
      // prune, two rounds. The oracle replays the whole build unrolled
      // (DP per end position, backtrace per step)
      graft.llm.UnigramTrain.train(t(s, d, "documents"), "text")
        .orderBy("piece")),
      unigramTrainOracle),

    QueryDef("q_unigram_train_segment", ((s, d) => {
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
      unigramTrainSegmentOracle),

    QueryDef("q_pack_ids_unigram", ((s, d) => {
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
      unigramPackOracle),

    QueryDef("q_topology_tokenize", ((s, d) => {
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
      // the config-surface replay of the same path: train → sidecar →
      // TokenizeIds → PackRows must reproduce the API capstone exactly
      unigramPackOracle, lifecycle = true),

    QueryDef("q_topology_sft", ((s, d) => {
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
      // the unigram replay with EOS -4 / BOS -5 on the arrays and the
      // separator-aware break-chain tail (SEP -6) — the TOML SFT chain must
      // reproduce it bit-for-bit
      unigramPackOracleWith(
      eos = Some(-4), bos = Some(-5), sep = Some(-6)), lifecycle = true),

    QueryDef("q_topology_wordpiece", ((s, d) => {
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
      wpTomlOracle, lifecycle = true),

    QueryDef("q_unigram_fertility", ((s, d) => {
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
      unigramFertilityOracle),

    QueryDef("q_wordpiece", ((s, d) =>
      // greedy longest-match-first WordPiece under the fixed demo vocab:
      // map-only (the vocab is a codegen reference object inside the
      // native expression, never a join); the oracle unrolls the cursor
      // loop into chained scalar-subquery CTE steps
      graft.llm.Wordpiece.encode(t(s, d, "documents"), "doc_id", "text",
        wpDemoVocab)
        .orderBy("doc_id")),
      wordpieceOracle),

    QueryDef("q_bpe_encode_native", ((s, d) =>
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
         FROM e ORDER BY doc_id"""),

    QueryDef("q_pack_bpe", ((s, d) =>
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
         FROM c ORDER BY doc_id"""),
  )
}
