package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.llm.Dedup

import QueryFixtures._

/** Dedup queries: exact, MinHash/SimHash (batch, verified, incremental),
  * span and substring dedup, and embedding near-duplicates.
  */
object DedupQueries {

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_exact", ((s, d) =>
      t(s, d, "documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dups"))
        .orderBy("keeper")),
      """SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS dups
         FROM documents GROUP BY 1 ORDER BY keeper"""),

    QueryDef("q_dedup_minhash", ((s, d) =>
      // two-stage near-dup dedup: banded MinHash-LSH candidates verified by
      // EXACT shingle-Jaccard — the decision is exact, so the DuckDB oracle
      // (all-pairs exact Jaccard) reproduces it as long as the bands catch
      // every true pair (they do at the 0.7 threshold: est-jaccard recall
      // is asserted in DedupSimilaritySpec and probed in Scratch)
      Dedup.minhashDedupVerified(t(s, d, "documents"), "doc_id", "text", threshold = 0.7)
        .select("doc_id")
        .orderBy("doc_id")),
      // exact ground truth for the verified LSH dedup: a doc dies iff some
      // smaller-id doc has exact 3-shingle jaccard ≥ 0.7 against it
      s"""$exactJaccardPairsCte
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT idB FROM j WHERE jac >= 0.7)
         ORDER BY doc_id"""),

    QueryDef("q_dedup_incremental", ((s, d) => {
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
         ORDER BY doc_id"""),

    QueryDef("q_dedup_spans", ((s, d) =>
      // CCNet/Dolma-style paragraph dedup: cut each doc into 8-token spans,
      // keep only the corpus-wide first occurrence of each distinct span
      // (one content-hash-keyed shuffle with map-side combine)
      Dedup.firstSpanOccurrence(
          Dedup.tokenChunks(t(s, d, "documents"), "doc_id", "text", width = 8),
          "doc_id")
        .orderBy("doc_id", "pos")),
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
         ORDER BY doc_id, pos"""),

    QueryDef("q_dedup_spans_text", ((s, d) =>
      // the user-facing end of paragraph dedup: drop repeated spans, then
      // REASSEMBLE each document from its surviving spans in position
      // order — the cleaned corpus, not just the keep-list (empty docs
      // disappear; one extra doc-keyed shuffle for the reassembly)
      Dedup.dedupSpans(
          Dedup.tokenChunks(t(s, d, "documents"), "doc_id", "text", width = 8),
          "doc_id")
        .orderBy("doc_id")),
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
         FROM kept GROUP BY doc_id ORDER BY doc_id"""),

    QueryDef("q_dedup_cdc", ((s, d) =>
      // insertion-robust variant: gear-CDC boundaries (token hash ≡ 0 mod
      // 16 ends a span) instead of fixed width — the cut itself is a
      // zero-shuffle HOF fold, then the same first-occurrence dedup
      Dedup.firstSpanOccurrence(
          Dedup.cdcChunks(t(s, d, "documents"), "doc_id", "text", meanLen = 16),
          "doc_id")
        .orderBy("doc_id", "pos")),
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
         ORDER BY doc_id, pos"""),

    QueryDef("q_dedup_substr", ((s, d) =>
      // exact-substring dedup at ARBITRARY alignment (Lee et al.): every
      // duplicated 8-token window flagged against its globally-first
      // occurrence, reduced to per-doc integer stats (window count, dup
      // count, interval-union tokens removed). md5 window keys so the
      // oracle regroups the identical sets; the xxhash64 production key is
      // ExactSubstrSpec's equality case
      graft.llm.ExactSubstr.dedupStats(t(s, d, "documents"), "doc_id", "text",
          k = 8, hash = md5(_))
        .orderBy("doc_id")),
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
         ORDER BY b.doc_id"""),

    QueryDef("q_dedup_substr_text", ((s, d) =>
      // the user-facing end of exact-substring dedup (Lee et al.): every
      // flagged window's tokens cut from the text, first occurrences kept
      // verbatim — the cleaned corpus the stats row only describes. The
      // kept/dropped decision is a map-side HOF over each doc's flagged
      // positions; md5 keys again so the oracle regroups identically
      graft.llm.ExactSubstr.removeDuplicateWindows(t(s, d, "documents"),
          "doc_id", "text", k = 8, hash = md5(_))
        .orderBy("doc_id")),
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
         ORDER BY b.doc_id"""),

    QueryDef("q_dedup_incremental_substr", ((s, d) => {
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
         ORDER BY doc_id""", lifecycle = true),

    QueryDef("q_dedup_substr_exact", ((s, d) => {
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
         ORDER BY b.doc_id"""),

    QueryDef("q_dedup_substr_capped", ((s, d) => {
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
         ORDER BY b.doc_id"""),

    QueryDef("q_dedup_cc_verified", ((s, d) =>
      // transitive dedup over exact-verified minhash candidates: the edge
      // graph is exact, so the oracle restates it as a recursive-SQL
      // min-label closure over the true ≥0.7 pair graph
      Dedup.minhashDedupCCVerified(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.7)
        .select("doc_id")
        .orderBy("doc_id")),
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
         ORDER BY doc_id"""),

    QueryDef("q_dedup_keep_best", ((s, d) =>
      // canonical-document selection by QUALITY: same exact-verified edge
      // graph as q_dedup_cc_verified, but each cluster keeps its LONGEST
      // document (n_chars desc, doc_id asc tiebreak) instead of its
      // smallest id — the keep-the-best-copy curation rule; the oracle
      // replays the min-label closure then ranks inside each component
      Dedup.minhashDedupCCBest(t(s, d, "documents"), "doc_id", "text",
          score = col("n_chars"), threshold = 0.7)
        .select("doc_id")
        .orderBy("doc_id")),
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
         SELECT id AS doc_id FROM ranked WHERE rk = 1 ORDER BY doc_id"""),

    QueryDef("q_dedup_simhash", ((s, d) =>
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
      s"""$exactJaccardPairsCte
         SELECT idA, idB, round(jac, 4) AS jaccard FROM j
         WHERE jac >= 0.7 ORDER BY idA, idB"""),

    QueryDef("q_simhash_recall", ((s, d) => {
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
         FROM r CROSS JOIN ham GROUP BY r.radius ORDER BY radius""", lifecycle = true),

    QueryDef("q_dedup_cc", ((s, d) => {
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
         SELECT id, min(c) AS component FROM verts GROUP BY id ORDER BY id"""),

    QueryDef("q_ngram_jaccard", ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text") =!= "")
      val a = docs.select(col("doc_id").as("doc_a"), TF.tokens(col("text")).as("ta"))
      val b = docs.select(col("doc_id").as("doc_b"), TF.tokens(col("text")).as("tb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          round(Dedup.jaccard(col("ta"), col("tb")), 4).as("jaccard"))
        .orderBy("doc_a")
    }),
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
         FROM p ORDER BY doc_a"""),

    QueryDef("q_embed_neardup", ((s, d) => {
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
      """SELECT vec_id AS idA, vec_id + 100000 AS idB, CAST(1.0 AS DOUBLE) AS cosine
         FROM embeddings WHERE vec_id < 20 ORDER BY idA, idB"""),

    QueryDef("q_dedup_incremental_embed", ((s, d) => {
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
      // closed-form: the exact copies die against the store, the negated
      // copies survive (cosine −1 to their source, below 0.9 to all else)
      """SELECT vec_id + 300000 AS vec_id FROM embeddings
         WHERE vec_id < 20 ORDER BY vec_id"""),

    QueryDef("q_embed_cc", ((s, d) => {
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
      // the planted chains make the expected labels closed-form: every
      // member of {i, i+100000, i+200000} labels to i
      """WITH m AS (SELECT vec_id FROM embeddings WHERE vec_id < 20)
         SELECT vec_id AS id, vec_id AS component FROM m
         UNION ALL
         SELECT vec_id + 100000 AS id, vec_id AS component FROM m
         UNION ALL
         SELECT vec_id + 200000 AS id, vec_id AS component
         FROM embeddings WHERE vec_id < 10
         ORDER BY id"""),

    QueryDef("q_semdedup", ((s, d) => {
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
      // planted exact copies are each other's only ≥0.9-cosine partners, so
      // SemDeDup (keep-lowest-id) evicts exactly the +100000 copies
      """SELECT vec_id + 100000 AS id, vec_id AS dup_of
         FROM embeddings WHERE vec_id < 20 ORDER BY id"""),

    QueryDef("q_fingerprint", ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
      """SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct(
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(text), '\s+') END)), ' '))
                  AS fp
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_rolling_hash", ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TF.rollingHash(col("text")).as("rh"))
        .orderBy("doc_id")),
      """SELECT doc_id,
                CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                     ELSE list_reduce(
                       [CAST(0 AS BIGINT)] ||
                       list_transform(regexp_split_to_array(trim(text), '\s+'),
                         t -> ('0x' || substr(md5(t), 1, 7))::BIGINT),
                       (acc, h) -> (acc * 31 + h) % 2147483647)
                END AS rh
         FROM documents ORDER BY doc_id"""),
  )
}
