package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.llm.Dedup

import QueryFixtures._

/** Curation and topology queries: quality and language gates, HTML
  * extraction, mixing, decontamination, classifiers, PII, corpus reports
  * and the TOML curation topologies.
  */
object CurationQueries {

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

  /** [[bpeDemoMerges]]' operand closure — the q_topology_pretrain export
    * vocabulary (surfaces at their rule-index ids, then the base symbols
    * no rule produces): the smallest vocab the real tokenizers library
    * will load, shared VERBATIM by the oracle's id map.
    */
  private lazy val bpeDemoClosure: Seq[String] =
    graft.llm.HfTokenizer.operandClosure(bpeDemoMerges)

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

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_curation", ((s, d) => {
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
         ORDER BY doc_id"""),

    QueryDef("q_domain_cap", ((s, d) =>
      // per-source cap, best-quality-first (n_chars as the quality proxy):
      // bounded CollectTopK per key — a hot source contributes n rows per
      // partition to the shuffle, never its row count — then a semi-join
      // recovers full rows
      graft.llm.Mix.capPerKey(t(s, d, "documents"), col("source"),
        struct((-col("n_chars")).as("q"), col("doc_id").as("i")), "doc_id", n = 15)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),
      """WITH ranked AS (
           SELECT doc_id, source, n_chars,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents)
         SELECT doc_id, source, n_chars FROM ranked
         WHERE rn <= 15 ORDER BY doc_id"""),

    QueryDef("q_contamination_report", ((s, d) => {
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
         GROUP BY b.doc_id ORDER BY b.doc_id"""),

    QueryDef("q_corpus_diff", ((s, d) => {
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
         ORDER BY doc_id"""),

    QueryDef("q_split_assign", ((s, d) =>
      // deterministic train/valid/test assignment: md5-bucketed CASE,
      // map-only, partitioning- and retry-stable, stated verbatim in SQL
      graft.llm.Mix.assignSplits(t(s, d, "documents"), col("doc_id"), "r9",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")),
      splitAssignOracle),

    QueryDef("q_split_leakage_safe", ((s, d) => {
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
      splitLeakageOracle),

    QueryDef("q_lang_id", ((s, d) => {
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
         FROM t ORDER BY doc_id"""),

    QueryDef("q_quality", ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),
      s"""$qualityScoreCte
         SELECT doc_id, quality FROM q ORDER BY doc_id"""),

    QueryDef("q_span_redact", ((s, d) => {
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
         ORDER BY b.doc_id"""),

    QueryDef("q_quantile_filter", ((s, d) => {
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
         ORDER BY sc.doc_id"""),

    QueryDef("q_attribute_mix", ((s, d) => {
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
         ORDER BY d.doc_id"""),

    QueryDef("q_sidecar_recipe", ((s, d) => {
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
         FROM kept ORDER BY doc_id""", lifecycle = true),

    QueryDef("q_budget_select", ((s, d) =>
      // corpus curation under a size budget: keep the highest-quality docs
      // until 30k chars fill — two-phase threshold+fill (see Mix
      // .budgetSelect), identical to the oracle's global cumsum prefix
      graft.llm.Mix.budgetSelect(
          t(s, d, "documents"), TF.qualityScore(col("text")), col("n_chars"),
          budget = 30000, tie = col("doc_id"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),
      // ground truth stated the naive way: global (quality DESC, doc_id)
      // cumulative sum, keep the prefix within budget — Mix.budgetSelect
      // computes the identical set via threshold + boundary fill
      s"""$qualityScoreCte, c AS (
           SELECT doc_id, n_chars,
                  sum(n_chars) OVER (ORDER BY quality DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
           FROM q)
         SELECT doc_id, n_chars FROM c WHERE cum <= 30000 ORDER BY doc_id"""),

    QueryDef("q_quality_gopher", ((s, d) =>
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
         FROM f ORDER BY doc_id"""),

    QueryDef("q_repetition", ((s, d) =>
      // top-n-gram char coverage (the other half of the Gopher repetition
      // family): entirely per-row HOF algebra — no explode, no shuffle
      t(s, d, "documents").filter(col("text") =!= "")
        .select(col("doc_id"),
          round(TF.topNgramCharFraction(col("text"), 1), 4).as("top_word_frac"),
          round(TF.topNgramCharFraction(col("text"), 2), 4).as("top_2gram_frac"),
          round(TF.topNgramCharFraction(col("text"), 3), 4).as("top_3gram_frac"))
        .orderBy("doc_id")),
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
         GROUP BY d.doc_id ORDER BY d.doc_id"""),

    QueryDef("q_url_canonical", ((s, d) => {
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
         FROM r ORDER BY doc_id"""),

    QueryDef("q_sentences", ((s, d) =>
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
         FROM s ORDER BY doc_id"""),

    QueryDef("q_block_domains", ((s, d) => {
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
         FROM u ORDER BY doc_id"""),

    QueryDef("q_topology_parquet", ((s, d) => {
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
      // the topology's string record model: every projected field is a
      // string, empty-for-null
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
                CAST(n_chars AS VARCHAR) AS n_chars
         FROM documents
         WHERE lang = 'en' AND n_chars >= 200
         ORDER BY doc_id"""),

    QueryDef("q_topology_jsonl", ((s, d) => {
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
      // the JSONL round-trip restated directly: field extraction by key
      // is lossless for these scalars, so the result equals the parquet
      // topology's (numbers arrive as their JSON literal text)
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
                CAST(n_chars AS VARCHAR) AS n_chars
         FROM documents
         WHERE lang = 'en' AND n_chars >= 200
         ORDER BY doc_id""", lifecycle = true),

    QueryDef("q_topology_curation", ((s, d) => {
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
      // en-only corpus, verified near-dup kill rule with the record
      // model's VARCHAR id ordering (the topology compares strings) —
      // the SAME shared exact-Jaccard kernel, parameterized
      s"""${exactJaccardPairsCteFor("documents WHERE lang = 'en'",
             "CAST(doc_id AS VARCHAR)")}
         SELECT doc_id FROM tok
         WHERE doc_id NOT IN (SELECT idB FROM j WHERE jac >= 0.7)
         ORDER BY doc_id"""),

    QueryDef("q_topology_pretrain", ((s, d) => {
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
      {
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
    }, lifecycle = true),

    QueryDef("q_corpus_report", ((s, d) =>
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
         GROUP BY d.source, d.lang ORDER BY d.source, d.lang"""),

    QueryDef("q_sql_text_stats", ((s, d) => {
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
         FROM t ORDER BY doc_id"""),

    QueryDef("q_redact_pii", ((s, d) =>
      // plant deterministic PII per doc, then scrub it: the oracle applies
      // the same regexes in DuckDB, so the check validates actual redaction
      t(s, d, "documents")
        .withColumn("pii_text", concat(
          lit("reach user"), col("doc_id"), lit("@mail.example.com or 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 ph +1 555 000 12"),
          (col("doc_id") % 100).cast("string"), lit(" re: "), col("text")))
        .select(col("doc_id"), TF.redactPii(col("pii_text")).as("redacted"))
        .orderBy("doc_id")),
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
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_pii_spans", ((s, d) => {
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
         FROM sy ORDER BY doc_id"""),

    QueryDef("q_span_units", ((s, d) => {
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
         FROM sp ORDER BY doc_id"""),

    QueryDef("q_mix_corpora", ((s, d) => {
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
      """SELECT doc_id FROM documents
         WHERE (doc_id % 2 = 0 AND ((doc_id % 2147483647) * 2654435761) % 1000000 < 500000)
            OR (doc_id % 2 = 1 AND ((doc_id % 2147483647) * 2654435761) % 1000000 < 250000)
         ORDER BY doc_id"""),

    QueryDef("q_decontaminate", ((s, d) =>
      // eval-set n-gram decontamination: doc token n-grams (per phrase
      // length) hash-matched via broadcast left-semi join; text never
      // crosses a shuffle
      graft.llm.Decontaminate.flagged(
          t(s, d, "documents"), "doc_id", "text",
          Seq("fast merge", "value table", "window table table"))
        .orderBy("doc_id")),
      // token-boundary containment via space-padded LIKE over the same
      // normalization the Spark side applies
      decontaminateOracle),

    QueryDef("q_decontaminate_bloom", ((s, d) => {
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
      // identical ground truth: the Bloom stage adds no false negatives
      // and exact verification removes its false positives
      decontaminateOracle),

    QueryDef("q_decontaminate_fuzzy", ((s, d) => {
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
         FROM j WHERE jac >= 0.7 ORDER BY doc_id, bench_id"""),

    QueryDef("q_normalize", ((s, d) =>
      // canonical corpus normalization (lowercase, punct runs → one space)
      t(s, d, "documents")
        .select(col("doc_id"),
          substring(TF.normalizeText(col("text")), 1, 60).as("norm_prefix"))
        .orderBy("doc_id")),
      """SELECT doc_id,
                substr(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), 1, 60)
                  AS norm_prefix
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_mix_epochs", ((s, d) =>
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
         FROM c ORDER BY doc_id, epoch"""),

    QueryDef("q_mix_solver", ((s, d) => {
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
      mixSolverOracle),

    QueryDef("q_sample_stratified", ((s, d) =>
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
      """SELECT doc_id, lang FROM documents
         WHERE ((doc_id % 2147483647) * 2654435761) % 1000000 <
               CASE lang WHEN 'en' THEN 500000 WHEN 'es' THEN 250000
                         WHEN 'zh' THEN 100000 WHEN 'fr' THEN 1000000 ELSE 0 END
         ORDER BY doc_id"""),

    QueryDef("q_mix_temperature", ((s, d) =>
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
         ORDER BY doc_id"""),

    QueryDef("q_unigram_score", ((s, d) =>
      // unigram-LM scoring: corpus vocab (1 shuffle) broadcast against
      // exploded tokens — integer sufficient statistics, exact cross-engine
      graft.llm.Unigram.score(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
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
         GROUP BY t.doc_id ORDER BY t.doc_id"""),

    QueryDef("q_ccnet_buckets", ((s, d) =>
      // CCNet head/middle/tail: per-language ntile thirds of the unigram-LM
      // score, ranked WITHOUT a per-language global window (two-phase
      // offset trick — see llm/Perplexity.scala); oracle states the same
      // split as a literal ntile(3) window
      graft.llm.Perplexity.perplexityBuckets(
          t(s, d, "documents"), "doc_id", "text", col("lang"))
        .orderBy("doc_id")),
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
         FROM scored ORDER BY doc_id"""),

    QueryDef("q_dsir_stats", ((s, d) => {
      // DSIR importance stats: hashed-bigram distribution of an English
      // "target" slice vs the whole corpus, reduced to integer sufficient
      // statistics per doc (the float log-ratio weight derives map-only;
      // DsirSpec covers it and the paper-exact per-gram path)
      val docs = t(s, d, "documents")
      graft.llm.Dsir.importanceStats(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text")
        .orderBy("doc_id")
    }),
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
         GROUP BY b.doc_id ORDER BY b.doc_id"""),

    QueryDef("q_keywords", ((s, d) =>
      // tf-idf-shaped keyword extraction in integer stats: (doc, term)
      // keyed tf agg (Zipf-proof composite key), ubiquitous-term blocklist
      // broadcast, bounded top-k per doc
      // 0.9 cutoff: the synthetic corpus vocabulary is uniformly common
      // (df ≈ 0.75-0.8), so 0.5 would block nearly everything and leave the
      // ranking path unexercised
      graft.llm.Keywords.topTerms(t(s, d, "documents"), "doc_id", "text",
          maxDocFrac = 0.9)
        .orderBy("doc_id", "rank")),
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
         FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""),

    QueryDef("q_bigram_score", ((s, d) =>
      // same two-pass LM plan one order up: corpus bigram vocab broadcast
      // against exploded word-2-grams — the cheap KenLM-style fluency gate
      graft.llm.Unigram.score(t(s, d, "documents"), "doc_id", "text", ngram = 2)
        .orderBy("doc_id")),
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
         GROUP BY b.doc_id ORDER BY b.doc_id"""),

    QueryDef("q_classifier", ((s, d) =>
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
         GROUP BY f.doc_id ORDER BY f.doc_id"""),

    QueryDef("q_classifier_grad", ((s, d) =>
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
         ORDER BY feature"""),

    QueryDef("q_classifier_hashed", ((s, d) =>
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
         ORDER BY bucket"""),

    QueryDef("q_c4_filters", ((s, d) => {
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
         FROM f ORDER BY doc_id"""),

    QueryDef("q_html_extract", ((s, d) => {
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
         FROM decoded ORDER BY doc_id"""),

    QueryDef("q_html_main_text", ((s, d) => {
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
      (
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
         FROM ne GROUP BY doc_id ORDER BY doc_id""")),

    QueryDef("q_main_content_funnel", ((s, d) => {
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
      (
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
         FROM c4 ORDER BY doc_id""")),
  )
}
