package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.Fernet
import graft.operators.Filters

import QueryFixtures._

/** Engine-level queries: baker's filters and outputs (SURVEY §2.1-2.4),
  * the headline relational queries, sketches, event-time primitives and
  * the range/interval/as-of joins.
  */
object EngineQueries {

  /** Deterministic fernet key for the Crypt roundtrip query/tests. */
  val testKey: String = Fernet.keyFromPassphrase("graft-test-key")

  /** Shared histogram boundaries for q_hist_quantiles: lineitem prices span
    * ~[900, 105k]; 20 log bins/decade ≈ 12% relative quantile error.
    */
  private val histBounds: Seq[Double] = graft.llm.Sketches.logBounds(2, 6, 20)

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

  val all: Seq[QueryDef] = Seq(
    // ---- engine-level ops (SURVEY §2.1) ----
    QueryDef("q_projection", ((s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_orderkey, l_linenumber"""),

    QueryDef("q_validation", ((s, d) =>
      // per-field regex gate (config.go:474-523): rows failing are dropped
      t(s, d, "orders")
        .filter(col("o_orderstatus").rlike("^[OF]$"))
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")),
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE regexp_matches(o_orderstatus, '^[OF]$') ORDER BY o_orderkey"""),

    QueryDef("q_sharding", ((s, d) =>
      // hash-shard routing (topology.go:157-184) → repartition + per-shard counts
      t(s, d, "lineitem")
        .repartition(32, pmod(col("l_orderkey"), lit(32)))
        .groupBy(pmod(col("l_orderkey"), lit(32)).as("shard"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("shard")),
      """SELECT l_orderkey % 32 AS shard, count(*) AS cnt FROM lineitem
         GROUP BY 1 ORDER BY shard"""),

    // ---- the 24 filters (SURVEY §2.3) ----
    QueryDef("q_clause_filter", ((s, d) =>
      Filters.Clause("(and (l_returnflag A) (not (l_linestatus O)))")(t(s, d, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
        .orderBy("l_orderkey", "l_linenumber")),
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus FROM lineitem
         WHERE l_returnflag = 'A' AND NOT l_linestatus = 'O'
         ORDER BY l_orderkey, l_linenumber"""),

    QueryDef("q_clear_fields", ((s, d) =>
      Filters.ClearFields(Seq("props"))(t(s, d, "events"))
        .select("event_id", "props")
        .orderBy("event_id")),
      """SELECT event_id, CAST(NULL AS VARCHAR) AS props FROM events ORDER BY event_id"""),

    QueryDef("q_concatenate", ((s, d) =>
      Filters.Concatenate(Seq("l_returnflag", "l_linestatus"), "rf_ls", "-")(t(s, d, "lineitem"))
        .select("l_orderkey", "l_linenumber", "rf_ls")
        .orderBy("l_orderkey", "l_linenumber")),
      """SELECT l_orderkey, l_linenumber,
                concat_ws('-', l_returnflag, l_linestatus) AS rf_ls
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),

    QueryDef("q_count_and_tag", ((s, d) =>
      Filters.CountAndTag("event_type", "evt").tagCounts(t(s, d, "events"))
        .orderBy("tag")),
      """SELECT event_type AS tag, count(*) AS cnt FROM events GROUP BY 1 ORDER BY tag"""),

    QueryDef("q_crypt", ((s, d) => {
      val enc = Fernet.encryptCol(testKey)
      val dec = Fernet.decryptCol(testKey)
      t(s, d, "documents")
        .withColumn("text", dec(enc(col("text"))))
        .select("doc_id", "text")
        .orderBy("doc_id")
    }),
      """SELECT doc_id, text FROM documents ORDER BY doc_id"""),

    QueryDef("q_dedup", ((s, d) =>
      Filters.Dedup(Seq("l_returnflag", "l_linestatus"))(t(s, d, "lineitem"))
        .select("l_returnflag", "l_linestatus")
        .orderBy("l_returnflag", "l_linestatus")),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus"""),

    QueryDef("q_expand_json", ((s, d) => {
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
         FROM events ORDER BY event_id"""),

    QueryDef("q_expand_list", ((s, d) =>
      Filters.ExpandList("text", Map(0 -> "f0", 2 -> "f2"), " ")(t(s, d, "documents"))
        .select("doc_id", "f0", "f2")
        .orderBy("doc_id")),
      """SELECT doc_id, split_part(text, ' ', 1) AS f0, split_part(text, ' ', 3) AS f2
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_external_match", ((s, d) => {
      val matchSet = s.createDataFrame(Seq(Tuple1("BUILDING"), Tuple1("AUTOMOBILE")))
        .toDF("segment")
      Filters.ExternalMatch("c_mktsegment", matchSet, keepOnMatch = true)(t(s, d, "customer"))
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') ORDER BY c_custkey"""),

    QueryDef("q_format_time", ((s, d) =>
      Filters.FormatTime("ship_str", "ship_day", "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd")(
        t(s, d, "lineitem")
          .withColumn("ship_str", date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")))
        .select("l_orderkey", "l_linenumber", "ship_day")
        .orderBy("l_orderkey", "l_linenumber")),
      """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),

    QueryDef("q_hash", ((s, d) =>
      Filters.Hash("text", "text_sha", "sha256")(
        Filters.Hash("text", "text_md5", "md5")(t(s, d, "documents")))
        .select("doc_id", "text_md5", "text_sha")
        .orderBy("doc_id")),
      """SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha FROM documents
         ORDER BY doc_id"""),

    QueryDef("q_metadata_url", ((s, d) =>
      Filters.MetadataUrl("src_url")(t(s, d, "documents"))
        .filter(col("src_url").endsWith(".parquet"))
        .agg(count(lit(1)).as("cnt"))),
      """SELECT count(*) AS cnt FROM documents"""),

    QueryDef("q_metadata_lastmod", ((s, d) =>
      Filters.MetadataLastModified("mtime")(
        s.read.parquet(s"$d/documents.parquet"))
        .filter(col("mtime").cast("long") > 0)
        .agg(count(lit(1)).as("cnt"))),
      """SELECT count(*) AS cnt FROM documents"""),

    QueryDef("q_notnull", ((s, d) =>
      Filters.NotNull(Seq("text"))(t(s, d, "documents"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),
      """SELECT doc_id, n_chars FROM documents
         WHERE text IS NOT NULL AND text <> '' ORDER BY doc_id"""),

    QueryDef("q_partial_clone", ((s, d) =>
      Filters.PartialClone(Seq("p_partkey", "p_brand"))(t(s, d, "part"))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")),
      """SELECT p_partkey, CAST(NULL AS VARCHAR) AS p_name, p_brand FROM part
         ORDER BY p_partkey"""),

    QueryDef("q_regex_match", ((s, d) =>
      Filters.RegexMatch(Seq("text" -> "spark", "lang" -> "^(en|es)$"))(t(s, d, "documents"))
        .select("doc_id")
        .orderBy("doc_id")),
      """SELECT doc_id FROM documents
         WHERE regexp_matches(text, 'spark') AND regexp_matches(lang, '^(en|es)$')
         ORDER BY doc_id"""),

    QueryDef("q_replace_fields", ((s, d) =>
      Filters.ReplaceFields(
        copies = Seq("o_orderstatus" -> "status"),
        literals = Seq("graft" -> "engine"))(t(s, d, "orders"))
        .select("o_orderkey", "status", "engine")
        .orderBy("o_orderkey")),
      """SELECT o_orderkey, o_orderstatus AS status, 'graft' AS engine FROM orders
         ORDER BY o_orderkey"""),

    QueryDef("q_set_string_from_url", ((s, d) =>
      Filters.SetStringFromURL
        .fromColumn(t(s, d, "documents"), "tag", col("source"), Seq("src1", "src3"))
        .select("doc_id", "tag")
        .orderBy("doc_id")),
      """SELECT doc_id, tag FROM (
           SELECT doc_id,
                  CASE WHEN contains(source, 'src1') THEN 'src1'
                       WHEN contains(source, 'src3') THEN 'src3' END AS tag
           FROM documents) t
         WHERE tag IS NOT NULL ORDER BY doc_id"""),

    QueryDef("q_slice", ((s, d) =>
      Filters.Slice("text", "head", 0, 16)(t(s, d, "documents"))
        .select("doc_id", "head")
        .orderBy("doc_id")),
      """SELECT doc_id, substring(text, 1, 16) AS head FROM documents ORDER BY doc_id"""),

    QueryDef("q_string_match", ((s, d) =>
      Filters.StringMatch("event_type", Seq("error"))(t(s, d, "events"))
        .select("event_id", "event_type")
        .orderBy("event_id")),
      """SELECT event_id, event_type FROM events WHERE event_type NOT IN ('error')
         ORDER BY event_id"""),

    QueryDef("q_timestamp", ((s, d) =>
      Filters.Timestamp("proc_ts")(t(s, d, "events"))
        .filter(col("proc_ts").isNotNull)
        .agg(count(lit(1)).as("cnt"))),
      """SELECT count(*) AS cnt FROM events"""),

    QueryDef("q_timestamp_range", ((s, d) =>
      Filters.TimestampRange("epoch", 1704412800L, 1705276800L)(
        t(s, d, "events").withColumn("epoch", unix_timestamp(col("ts")).cast("string")))
        .select("event_id", "event_type")
        .orderBy("event_id")),
      """SELECT event_id, event_type FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
         ORDER BY event_id"""),

    QueryDef("q_url_escape", ((s, d) =>
      Filters.URLEscape("enc", "text", decode = true)(
        Filters.URLEscape("text", "enc")(t(s, d, "documents")))
        .select("doc_id", "text")
        .orderBy("doc_id")),
      """SELECT doc_id, text FROM documents ORDER BY doc_id"""),

    QueryDef("q_url_param", ((s, d) =>
      Filters.URLParam("url", "utm_out", "utm")(
        t(s, d, "events").withColumn("url",
          concat(lit("https://x.test/p?utm="), col("event_type"), lit("&i="), col("event_id"))))
        .select("event_id", "utm_out")
        .orderBy("event_id")),
      """SELECT event_id, event_type AS utm_out FROM events ORDER BY event_id"""),

    // ---- outputs (SURVEY §2.4) ----
    QueryDef("q_output_stats", ((s, d) =>
      // Stats sink distributions (output/stats.go): count/min/max/avg/quantiles
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.95)"), 4).as("p95_qty"))),
      """SELECT count(*) AS n,
                round(min(l_extendedprice), 2) AS min_price,
                round(max(l_extendedprice), 2) AS max_price,
                round(avg(l_quantity), 4) AS avg_qty,
                round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
                round(quantile_cont(l_quantity, 0.95), 4) AS p95_qty
         FROM lineitem"""),

    QueryDef("q_output_nop", ((s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("cnt"))),
      """SELECT count(*) AS cnt FROM lineitem"""),

    // ---- headline relational queries (Spark-free capability, SURVEY §2.7) ----
    QueryDef("q1_agg", ((s, d) =>
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
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                round(avg(l_quantity), 4) AS avg_qty,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    QueryDef("q_join_agg", ((s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("order_cnt"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment")),
      """SELECT c_mktsegment, count(*) AS order_cnt, round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    QueryDef("q_join_nation", ((s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("cust_cnt"), round(sum(col("c_acctbal")), 2).as("acctbal"))
        .orderBy("r_name")),
      """SELECT r_name, count(*) AS cust_cnt, round(sum(c_acctbal), 2) AS acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name"""),

    QueryDef("q_topk", ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")),
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),

    QueryDef("q_window", ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("user_id", "event_id", "rn")
        .orderBy("user_id", "rn")
    }),
      """SELECT user_id, event_id, CAST(rn AS INTEGER) AS rn FROM (
           SELECT user_id, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           FROM events) t
         WHERE rn <= 3 ORDER BY user_id, rn"""),

    QueryDef("q_events_agg", ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total_value"))
        .orderBy("event_type", "day")),
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                count(*) AS cnt, round(sum(value), 2) AS total_value
         FROM events GROUP BY event_type, day ORDER BY event_type, day"""),

    QueryDef("q_sample_per_key", ((s, d) =>
      // balanced per-language sample: 10 docs per lang picked by
      // md5(seed|id) order — pseudo-random yet retry/partitioning-stable;
      // bounded CollectTopK per key, never a window
      graft.llm.Mix.sampleKPerKey(t(s, d, "documents"), col("lang"), "doc_id",
        k = 10, seed = "r9")
        .select("doc_id", "lang")
        .orderBy("doc_id")),
      """WITH r AS (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY md5('r9|' || CAST(doc_id AS VARCHAR)),
                                              doc_id) AS rn
           FROM documents)
         SELECT doc_id, lang FROM r WHERE rn <= 10 ORDER BY doc_id"""),

    QueryDef("q_percentile_rank", ((s, d) =>
      // per-stratum score calibration: cume_dist semantics from a
      // histogram-only window joined back — the corpus never enters a
      // window; exact-integer division, so the doubles match the SQL
      // cume_dist bit for bit
      graft.llm.Mix.percentileRank(t(s, d, "documents"), col("lang"),
          col("n_chars"))
        .select("doc_id", "lang", "percentile")
        .orderBy("doc_id")),
      """SELECT doc_id, lang,
                cume_dist() OVER (PARTITION BY lang ORDER BY n_chars)
                  AS percentile
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_sample_n", ((s, d) =>
      // exactly-75 deterministic sample by md5(seed|id) order — the
      // count-exact sibling of rate sampling; one bounded CollectTopK,
      // O(n) shuffle/driver state
      graft.llm.Mix.sampleN(t(s, d, "documents"), col("doc_id"), "doc_id",
        n = 75, seed = "r11")
        .select("doc_id", "lang")
        .orderBy("doc_id")),
      """SELECT doc_id, lang FROM documents
         ORDER BY md5('r11|' || CAST(doc_id AS VARCHAR)), doc_id
         LIMIT 75"""),

    // ---- event-time primitives (streaming/EventTime, batch-checkable) ----
    QueryDef("q_event_window", ((s, d) =>
      // tumbling event-time window counts; same code path as the
      // watermarked streaming aggregation (watermark is a no-op in batch)
      graft.streaming.EventTime.windowedCounts(
        t(s, d, "events"), "ts", "event_type", windowDur = "1 day")
        .orderBy("window_start", "event_type")),
      // Spark's tumbling windows and DuckDB's time_bucket both align day
      // buckets to midnight UTC
      """SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
                time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS window_end,
                event_type, count(*) AS cnt
         FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type"""),

    QueryDef("q_session", ((s, d) =>
      // event-time session windows per user (gap-merged); batch-checkable,
      // same code path as the watermarked streaming aggregation
      graft.streaming.EventTime.sessionize(
        t(s, d, "events"), "ts", "user_id", gap = "6 hours")
        .orderBy("user_id", "session_start")),
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
         ORDER BY user_id, session_start"""),

    QueryDef("q_shuffle", ((s, d) =>
      // deterministic global corpus shuffle: reproducible md5(seed|id)
      // order materialized as a dense 1-based position — computed with
      // parallel per-bucket windows (bucket = key's leading 32 bits), no
      // global single-partition window anywhere
      graft.llm.Mix.deterministicShuffle(
          t(s, d, "documents").select("doc_id"), col("doc_id"), seed = "r4")
        .select("doc_id", "shuffle_pos")
        .orderBy("doc_id")),
      // the shuffle order restated as one global row_number — exactly what
      // the distributed two-phase rank must equal
      """SELECT doc_id,
                row_number() OVER (
                  ORDER BY md5('r4|' || CAST(doc_id AS VARCHAR)), doc_id)
                  AS shuffle_pos
         FROM documents ORDER BY doc_id"""),

    QueryDef("q_salted_collect", ((s, d) =>
      // skew-proof holistic aggregation: per-type user lists collected via
      // two bounded salted exchanges; sorted join makes the output
      // deterministic regardless of bucket interleaving
      graft.operators.Salt.saltedCollect(
          t(s, d, "events"), Seq("event_type"), col("user_id"), parts = 8)
        .select(col("event_type"),
          array_join(transform(array_sort(col("values")), _.cast("string")), " ")
            .as("users"))
        .orderBy("event_type")),
      """SELECT event_type,
                string_agg(CAST(user_id AS VARCHAR), ' ' ORDER BY user_id) AS users
         FROM events GROUP BY event_type ORDER BY event_type"""),

    QueryDef("q_distinct_users", ((s, d) =>
      // exact distinct per group — the baseline the sketch path approximates
      t(s, d, "events")
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("event_type")),
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type"""),

    QueryDef("q_sketch_distinct", ((s, d) => {
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
      // the sketch estimate is not SQL-recomputable; the contract is: exact
      // counts, and the estimate within its error budget (always TRUE when
      // the HLL path is healthy — a drift flips the boolean and the hash)
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                TRUE AS within_3pct
         FROM events GROUP BY event_type ORDER BY event_type"""),

    QueryDef("q_heavy_hitters", ((s, d) => {
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
      // the CMS estimate is not SQL-recomputable; the contract is: exact
      // counts, and the estimate within [exact, exact + eps·N] (TRUE when
      // the sketch path is healthy — a drift flips the boolean and the hash)
      """SELECT event_type, user_id, count(*) AS cnt, TRUE AS within_eps
         FROM events WHERE user_id < 3
         GROUP BY event_type, user_id ORDER BY event_type, user_id"""),

    QueryDef("q_bloom_membership", ((s, d) => {
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
      // Bloom filters have NO false negatives: every present probe is TRUE
      """SELECT DISTINCT event_type, user_id, TRUE AS found
         FROM events WHERE user_id < 3
         ORDER BY event_type, user_id"""),

    QueryDef("q_hist_quantiles", ((s, d) => {
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
      histQuantilesOracle),

    QueryDef("q_range_join", ((s, d) => {
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
         ORDER BY e.event_id"""),

    QueryDef("q_interval_join", ((s, d) => {
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
         ORDER BY l_id, r_id"""),

    QueryDef("q_asof_join", ((s, d) => {
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
         ORDER BY p.event_id"""),

    QueryDef("q_dedup_ttl", ((s, d) =>
      // keep-first-per-key stateful dedup run as a batch frame; only the
      // key column is checked (which row survives per key is order-dependent)
      graft.streaming.EventTime.dedupWithTTL(t(s, d, "events"), Seq("event_type"))
        .select("event_type")
        .orderBy("event_type")),
      """SELECT DISTINCT event_type FROM events ORDER BY event_type"""),
  )
}
