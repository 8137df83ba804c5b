package graft
package queries

import org.apache.spark.sql.functions._
import graft.llm.Similarity
import graft.streaming.StoreLayout

import QueryFixtures._

/** ANN and retrieval queries: brute-force, LSH, IVF, PQ/OPQ/IVF-PQ,
  * int8 and binary codes, BM25, hybrid ranking and their serving stores.
  */
object AnnQueries {

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

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_embed_topk", ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, dim = 64)
        .orderBy("query_id", "rank")
    }),
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
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    QueryDef("q_ann_lsh", ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        dim = 64, k = 5)
        .orderBy("query_id", "rank")
    }),
      annLshOracle),

    QueryDef("q_ann_recall", ((s, d) => {
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
         ORDER BY q.query_id"""),

    QueryDef("q_mmr_rerank", ((s, d) => {
      // diversity re-ranking: 15 exact-cosine candidates per query, greedy
      // MMR (λ=0.5) to top-5 inside the bounded native expression — no
      // pairwise candidate join materializes; the oracle unrolls the
      // greedy selection
      val emb = t(s, d, "embeddings")
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 4), "vec_id", "embedding",
        k = 5, fetch = 15, lambda = 0.5, dim = 64)
        .orderBy("query_id", "rank")
    }),
      mmrOracle),

    QueryDef("q_ann_ivf", ((s, d) => {
      // nprobe = nlist probes every cell → exact (= brute force, same
      // scoring expressions), which makes the IVF machinery oracle-checkable;
      // the approximate path (nprobe < nlist) is covered by IvfSpec recall
      val emb = t(s, d, "embeddings")
      graft.llm.Ivf.ivfTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        dim = 64, k = 5, nlist = 16, nprobe = 16)
        .orderBy("query_id", "rank")
    }),
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
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    QueryDef("q_pq_encode", ((s, d) => {
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
      pqEncodeOracle),

    QueryDef("q_ann_pq", ((s, d) => {
      // asymmetric-distance ANN over the compressed codes: encode corpus,
      // LUT per query, ADC = m table lookups per candidate, bounded top-k
      val emb = t(s, d, "embeddings")
      graft.llm.Pq.adcTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        pqDemoModel, k = 5)
        .orderBy("query_id", "rank")
    }),
      annPqOracle),

    QueryDef("q_ann_pq_stream", ((s, d) => {
      // the streaming-maintained code table: the corpus arrives as two
      // micro-batches encoded under the PINNED pqDemoModel into an
      // at-rest store (idempotent batch=* partitions), then the stored
      // codes are searched with the same ADC entry point — the appended
      // store holds exactly the rows a one-shot encode would, so the
      // oracle is q_ann_pq's verbatim
      val emb = t(s, d, "embeddings")
      val dir = qTmpDir("pqstream-q")
      val fn = StoreLayout.append(dir)(
        graft.llm.Pq.encode(_, "vec_id", "embedding", pqDemoModel))
      fn(emb.filter(col("vec_id") % 2 === 0), 0L)
      fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
      val store = StoreLayout.load(s, dir)
        .getOrElse(sys.error("stream store must be non-empty"))
      graft.llm.Pq.adcTopKEncoded(store, emb.filter(col("vec_id") < 8),
          "vec_id", "vec_id", "embedding", pqDemoModel, k = 5)
        .orderBy("query_id", "rank")
    }),
      // the stream-appended store holds exactly the batch-encode rows
      // (pinned model, map-only encode), so the search restates identically
      annPqOracle, lifecycle = true),

    QueryDef("q_ann_ivfpq_serving", ((s, d) => {
      // the full serving-layout lifecycle as one checkable row: the
      // corpus streams into the ingest store as two idempotent batches
      // (IvfPq.encode under the pinned coarse+PQ model), publishServing
      // rewrites the snapshot partitioned by cell (versioned rename-
      // commit), and adcTopKServing searches it with the probed cells as
      // LITERALS so the parquet scan prunes cell= partitions statically
      // (plan pinned in IvfPqSpec). The snapshot holds exactly the rows a
      // one-shot encode would and pruning never changes results (a row
      // outside the probed cells can't join), so the oracle is
      // q_ann_ivfpq's verbatim.
      val emb = t(s, d, "embeddings")
      val base = qTmpDir("serving-q")
      val fn = StoreLayout.append(s"$base/store")(graft.llm.IvfPq.encode(_,
        "vec_id", "embedding", ivfPqCoarse, pqDemoModel))
      fn(emb.filter(col("vec_id") % 2 === 0), 0L)
      fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
      StoreLayout.publishServing(s, s"$base/store", s"$base/serve", Seq("cell"))
      val served = StoreLayout.servingSnapshot(s, s"$base/serve")
        .getOrElse(sys.error("serving snapshot must exist after promotion"))
      graft.llm.IvfPq.adcTopKServing(served, emb.filter(col("vec_id") < 8),
          "vec_id", "vec_id", "embedding", ivfPqCoarse, pqDemoModel,
          nprobe = 2, k = 5)
        .orderBy("query_id", "rank")
    }),
      // the serving snapshot holds exactly the one-shot encode's rows and
      // static cell pruning cannot change a probe's result set, so the
      // serving-lifecycle query replays the same algorithm end to end
      annIvfPqOracle, lifecycle = true),

    QueryDef("q_ann_ivf_serving", ((s, d) => {
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
      val fn = StoreLayout.append(s"$base/store")(
        graft.llm.Ivf.assign(_, "vec_id", "embedding", ivfPqCoarse))
      fn(emb.filter(col("vec_id") % 2 === 0), 0L)
      fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
      StoreLayout.publishServing(s, s"$base/store", s"$base/serve", Seq("cell"))
      val served = StoreLayout.servingSnapshot(s, s"$base/serve")
        .getOrElse(sys.error("serving snapshot must exist after promotion"))
      graft.llm.Ivf.ivfTopKServing(served, emb.filter(col("vec_id") < 8),
          "vec_id", "vec_id", "embedding", ivfPqCoarse, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
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
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""", lifecycle = true),

    QueryDef("q_ann_opq", ((s, d) => {
      // the rotated ADC search: rotation fused into both the encode and
      // the LUT scan (one map-only pass per side), ranking unchanged —
      // the oracle recomputes rotate→code→LUT→ADC under the same inlined
      // rotation + codebook VALUES tables
      val emb = t(s, d, "embeddings")
      graft.llm.Opq.adcTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        opqDemoRotation, pqDemoModel, k = 5)
        .orderBy("query_id", "rank")
    }),
      annOpqOracle),

    QueryDef("q_ann_ivfpq", ((s, d) => {
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
      annIvfPqOracle),

    QueryDef("q_int8_encode", ((s, d) => {
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
      s"""$int8CodesCte
         SELECT vec_id, string_agg(CAST(code AS VARCHAR), ' ' ORDER BY i) AS code_str
         FROM codes GROUP BY vec_id ORDER BY vec_id"""),

    QueryDef("q_opq_encode", ((s, d) =>
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
      opqEncodeOracle),

    QueryDef("q_ann_int8", ((s, d) => {
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
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    QueryDef("q_binary_encode", ((s, d) =>
      // 1-bit sign quantization (the 32× tier): packed words rendered as
      // dim63..dim0 bit strings, which the oracle restates without any
      // bit arithmetic — each bit is just `x > 0` per dimension. Only
      // full-dim vectors encode (64-per-word packing truncates length).
      graft.llm.Quantize.binaryEncode(t(s, d, "embeddings"), "vec_id", "embedding", 64)
        .select(col("vec_id"),
          array_join(transform(col("bin_code"), w => lpad(bin(w), 64, "0")), " ")
            .as("bits"))
        .orderBy("vec_id")),
      // bit i of the packed word is `x_i > 0`; bin() prints MSB-first, so
      // the oracle emits dims in DESCENDING order within each 64-dim word
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ev AS (SELECT vec_id, t.i, v[t.i + 1] AS x, len(v) AS n
                FROM e, range(64) t(i) WHERE t.i < len(v))
         SELECT vec_id,
                string_agg(CASE WHEN x > 0 THEN '1' ELSE '0' END, '' ORDER BY i DESC)
                  AS bits
         FROM ev WHERE n = 64 GROUP BY vec_id ORDER BY vec_id"""),

    QueryDef("q_ann_hamming", ((s, d) => {
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
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),

    QueryDef("q_bm25", ((s, d) => {
      // sparse retrieval next to the dense family: postings built with one
      // map-side-combined shuffle, query-term broadcast prunes the scan,
      // df computed over the pruned slice only, bounded CollectTopK ranks.
      // Scores rounded to 6dp before ranking (total order both engines see).
      val qdf = s.createDataFrame(bm25DemoQueries).toDF("query_id", "qtext")
      graft.llm.Lexical.bm25TopK(t(s, d, "documents"), qdf, "doc_id", "text",
        "query_id", "qtext", k = 5)
        .orderBy("query_id", "rank")
    }),
      bm25Oracle),

    QueryDef("q_bm25_rtbf", ((s, d) => {
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
      // BM25 restated over ONLY the surviving docs: the delete's contract
      // is that the store behaves as if the forgotten docs never existed,
      // so df/n_docs/avgdl all reflect the post-delete corpus
      s"""WITH survivors AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3
          ),
          ${bm25RankedCtesFor("survivors")}
          SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
          FROM bm25_ranked WHERE rank <= 5 ORDER BY query_id, rank""", lifecycle = true),

    QueryDef("q_embed_covariance", ((s, d) => {
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
         ORDER BY i, j"""),

    QueryDef("q_embed_centroid", ((s, d) =>
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
         FROM m GROUP BY label ORDER BY label"""),

    QueryDef("q_phrase_search", ((s, d) => {
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
         ORDER BY phrase_id, doc_id"""),

    QueryDef("q_rag_pipeline", ((s, d) => {
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
      ragPipelineOracle),

    QueryDef("q_jaccard_topk", ((s, d) => {
      // exact word-2-gram Jaccard retrieval: query shingle set broadcast,
      // per-doc distinct sets map-only, bounded intersection agg + top-k
      val qdf = s.createDataFrame(bm25DemoQueries).toDF("query_id", "qtext")
      graft.llm.Lexical.jaccardTopK(t(s, d, "documents"), qdf, "doc_id", "text",
        "query_id", "qtext", k = 5, shingleK = 2)
        .orderBy("query_id", "rank")
    }),
      jaccardOracle),

    QueryDef("q_hybrid_rrf", ((s, d) => {
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
      hybridRrfOracle),
  )
}
