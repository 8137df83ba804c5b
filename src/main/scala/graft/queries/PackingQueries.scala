package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{IdField, TextFunctions => TF}

import QueryFixtures._

/** Sequence packing and packed-shard queries: the packers, the
  * `packedcorpus` shard format and its lifecycle (reshuffle,
  * decontaminate, RTBF) and the TOML packing topologies.
  */
object PackingQueries {

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
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("file").orderBy("seq_ix")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    s.read.format("packedcorpus").load(epoch)
      .select(col("file"), col("seq_ix"), col("doc_start"),
        concat_ws("|",
          md5(IdField.join(col("input_ids")).cast("binary")),
          md5(IdField.joinMask(col("loss_mask"))
            .cast("binary")),
          md5(IdField.join(col("segment_ids")).cast("binary"))).as("sq"))
      .withColumn("grp", sum(col("doc_start").cast("long")).over(w))
      .groupBy("file", "grp")
      .agg(md5(array_join(transform(
          sort_array(collect_list(struct(col("seq_ix"), col("sq")))),
          p => p.getField("sq")), ",").cast("binary")).as("grp_md5"),
        count(lit(1)).as("n_seqs"))
      .select(col("grp_md5"), col("n_seqs"))
      .orderBy("grp_md5")
  }

  /** Every overlapping 8-gram of a token-id array as a comma-joined
    * string — the decontamination gram basis shared by the audit
    * (q_packed_decontaminate) and the surgery (q_packed_rtbf).
    */
  private def idGrams8(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(c) >= 8, transform(sequence(lit(0), size(c) - 8),
      i => IdField.join(slice(c, i + lit(1), lit(8)))))
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

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_chunk", ((s, d) =>
      // RAG chunking: 16-token windows, 4-token overlap, map-only (the
      // sequence/slice/join pipeline runs inside whole-stage codegen in
      // the scan stage — zero shuffles). Redundant tails dropped.
      graft.llm.Chunk.fixedTokenChunks(t(s, d, "documents"), "doc_id", "text",
        width = 16, overlap = 4)
        .orderBy("doc_id", "chunk_id")),
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
         FROM ch ORDER BY doc_id, chunk_id"""),

    QueryDef("q_fim", ((s, d) =>
      // fill-in-the-middle (PSM) transform: a hash-selected half of the
      // corpus rewritten PRE+prefix+SUF+suffix+MID+middle with both split
      // points md5-derived from the doc id — selection, positions, and
      // the rewritten STRING all restated verbatim (substr counts
      // characters in both engines, and the hash never touches text)
      t(s, d, "documents").select(col("doc_id"),
          TF.fimTransform(col("text"), col("doc_id"), "fim1", 0.5).as("fim_text"))
        .orderBy("doc_id")),
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
         FROM b ORDER BY doc_id"""),

    QueryDef("q_pack_sequences", ((s, d) =>
      // concat-then-chunk sequence packing per uniform shard: one shuffle
      // (window partition), sequences never span shards
      graft.llm.Pack.concatChunk(
          t(s, d, "documents"), col("doc_id"), col("n_chars"), budget = 2048,
          shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
            lit(8)))
        .select("doc_id", "shard", "seq_id", "seq_offset")
        .orderBy("doc_id")),
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
         FROM c ORDER BY doc_id"""),

    QueryDef("q_pack_greedy", ((s, d) =>
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
         FROM r ORDER BY doc_id"""),

    QueryDef("q_pack_tokens", ((s, d) => {
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
      graft.llm.Pack.packTokens(docs, col("doc_id"), toks, msk, 512, shard,
          padId = -1)
        .select(col("shard"), col("seq_id"),
          md5(IdField.join(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(IdField.join(col("segment_ids")).cast("binary")).as("seg_md5"),
          md5(IdField.joinMask(col("loss_mask"))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),
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
         FROM fin ORDER BY shard, seq_id"""),

    QueryDef("q_pack_tokens_eos", ((s, d) => {
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
      graft.llm.Pack.packTokens(docs, col("doc_id"), toks, msk, 512, shard,
          padId = -1, eosId = Some(0), bosId = Some(-3))
        .select(col("shard"), col("seq_id"),
          md5(IdField.join(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(IdField.join(col("segment_ids")).cast("binary")).as("seg_md5"),
          md5(IdField.joinMask(col("loss_mask"))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),
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
         FROM fin ORDER BY shard, seq_id"""),

    QueryDef("q_pack_greedy_rows", ((s, d) => {
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
      graft.llm.Pack.packTokensGreedy(docs, col("doc_id"), toks, msk, 512,
          shard, padId = -1)
        .select(col("shard"), col("seq_id"),
          md5(IdField.join(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(IdField.join(col("segment_ids")).cast("binary")).as("seg_md5"),
          md5(IdField.joinMask(col("loss_mask"))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),
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
         )${greedyPackTailSql(512, -1)}"""),

    QueryDef("q_pack_greedy_sft", ((s, d) => {
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
      graft.llm.Pack.packTokensGreedy(docs, col("doc_id"), toks, msk, 512,
          shard, padId = -1, sepId = Some(-9), eosId = Some(0),
          bosId = Some(-3))
        .select(col("shard"), col("seq_id"),
          md5(IdField.join(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(IdField.join(col("segment_ids")).cast("binary")).as("seg_md5"),
          md5(IdField.joinMask(col("loss_mask"))
            .cast("binary")).as("msk_md5"),
          col("n_real"))
        .orderBy("shard", "seq_id")
    }),
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
         )${greedyPackTailSql(512, -1, sepId = Some(-9))}"""),

    QueryDef("q_pack_stats", ((s, d) => {
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
         FROM agg ORDER BY shard"""),

    QueryDef("q_packed_shards", ((s, d) => {
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
          md5(IdField.join(col("input_ids"))
            .cast("binary")).as("ids_md5"))
        .orderBy("seq_ix")
    }),
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
         FROM ord ORDER BY seq_ix""", lifecycle = true),

    QueryDef("q_packed_shards_u16", ((s, d) => {
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
          md5(IdField.join(col("input_ids"))
            .cast("binary")).as("ids_md5"))
        .orderBy("seq_ix")
    }),
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
         FROM ord ORDER BY seq_ix""", lifecycle = true),

    QueryDef("q_packed_shards_masked", ((s, d) => {
      // the SFT-export boundary under the oracle: the concat-chunk
      // packer's REAL loss_mask / segment_ids / doc_start survive export
      // as parallel .mask/.seg channel pairs and a true (non-identity)
      // Megatron document index, then read BACK through the DSv2 and
      // restated array by array — mask bytes, segment ordinals, and the
      // doc-start bits are layout-checked, not just counted. Without
      // this row the engine's own masked layouts (q_pack_greedy_sft)
      // would be destroyed at the trainer-export boundary.
      val shards = writeMaskedPackedShards(s, d, "packedmask-q")
      s.read.format("packedcorpus").load(shards)
        .select(col("seq_ix"), col("ptr"),
          col("doc_start").cast("int").as("doc_start"),
          md5(IdField.join(col("input_ids")).cast("binary")).as("ids_md5"),
          md5(IdField.joinMask(col("loss_mask"))
            .cast("binary")).as("msk_md5"),
          md5(IdField.join(col("segment_ids")).cast("binary")).as("seg_md5"))
        .orderBy("seq_ix")
    }),
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
         FROM ord ORDER BY seq_ix""", lifecycle = true),

    QueryDef("q_packed_reshuffle", ((s, d) => {
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
      packedReshuffleOracle, lifecycle = true),

    QueryDef("q_topology_reshuffle", ((s, d) => {
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
      // the config path must reproduce the API path bit for bit: the TOML
      // twin shares the oracle VERBATIM
      packedReshuffleOracle, lifecycle = true),

    QueryDef("q_packed_decontaminate", ((s, d) => {
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
      // shard-level decontamination restated over the SHARED decon CTEs
      // ([[packedDeconCtes]]): n_hits = the sequence's 8-gram POSITIONS
      // whose id-gram appears anywhere in the (distinct) eval gram set
      s"""$packedDeconCtes
         SELECT CAST(seq_ix AS BIGINT) AS seq_ix,
                count(*) AS n_hits
         FROM tg JOIN ev USING (g)
         GROUP BY seq_ix ORDER BY seq_ix""", lifecycle = true),

    QueryDef("q_packed_rtbf", ((s, d) => {
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
          md5(IdField.join(col("input_ids"))
            .cast("binary")).as("ids_md5"))
        .orderBy("seq_ix")
    }),
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
         FROM sv ORDER BY seq_ix""", lifecycle = true),

    QueryDef("q_topology_packed", ((s, d) => {
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
         FROM ord WHERE n >= 8 ORDER BY seq_ix""", lifecycle = true),
  )
}
