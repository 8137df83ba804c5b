package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Graft

/** Fixtures and oracle fragments shared by more than one query family:
  * the table loader, the per-session temp root for at-rest stores, the
  * demo BPE merge table with its SQL replay, the greedy-pack tail and the
  * exact-Jaccard pair CTE.
  */
object QueryFixtures {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
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

  private[queries] def qTmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(qTmpRoot, tag).toString

  /** Fixed demo BPE merge table for q_bpe_encode — parameters of the query
    * (like q_ann_lsh's hyperplanes), inlined identically on both engines.
    * Well-ordered: every rule's inputs are single characters or outputs of
    * EARLIER rules, so sequential application equals canonical
    * lowest-rank-first BPE (see llm/Bpe.scala).
    */
  private[queries] val bpeDemoMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "t" -> "a", "l" -> "e", "ta" -> "b",
    "tab" -> "le", "s" -> "c", "o" -> "r", "e" -> "r", "a" -> "n",
    "s" -> "t", "r" -> "o")

  /** Bpe's reserved symbol delimiters, embedded RAW in the oracle SQL
    * (Verify's JSON dump escapes control chars; DuckDB literals accept
    * them).
    */
  private[queries] val bpeO = graft.llm.Bpe.Open
  private[queries] val bpeC = graft.llm.Bpe.Close

  /** The delimiter-wrapped char split of one word, as DuckDB SQL over `w` —
    * mirrors Bpe.wrapChars, including stripping the reserved delimiters
    * from input.
    */
  private[queries] val bpeWrapSql: String = bpeWrapSqlOf("w")

  /** [[bpeWrapSql]] over an arbitrary SQL expression instead of `w`. */
  private[queries] def bpeWrapSqlOf(v: String): String =
    s"'$bpeO' || array_to_string(list_filter(string_split($v, ''), " +
      s"ch -> ch <> '$bpeO' AND ch <> '$bpeC'), '$bpeC$bpeO') || '$bpeC'"

  /** Chain [[bpeDemoMerges]] as literal replaces over a SQL expression —
    * the oracle-side mirror of Bpe.applyMerges.
    */
  private[queries] def bpeReplaceChainSql(inner: String): String =
    bpeDemoMerges.foldLeft(inner) { case (acc, (a, b)) =>
      s"replace($acc, '$bpeO$a$bpeC$bpeO$b$bpeC', '$bpeO$a$b$bpeC')"
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
  private[queries] def greedyPackTailSql(budget: Int, padId: Int,
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
  private[queries] val exactJaccardPairsCte: String = exactJaccardPairsCteFor()

  /** Parameterized form: `source` feeds the doc stream, `idExpr` its id
    * (e.g. a VARCHAR cast when the consumer compares ids as strings, the
    * topology record model). ONE restatement of the exact-Jaccard kernel
    * for every verified-dedup oracle — the variants must agree about the
    * tokenizer/shingle/tie rules by construction, not lockstep editing.
    */
  private[queries] def exactJaccardPairsCteFor(source: String = "documents",
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
}
