package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}

/** Physical-plan shape assertions — the 100 TB design contract, checked on
  * tiny data. Correctness tests prove WHAT each operator returns; these
  * prove HOW it executes: dimension joins broadcast, self-join signatures
  * materialize once (ReusedExchange), predicates reach the parquet scan,
  * projections prune the read schema, and top-k ranking is a bounded
  * aggregate rather than a window over every scored row. A regression here
  * is invisible at sf0.001 and catastrophic at 1000 executors.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE inserts ReusedExchange / finalizes codegen stages at runtime —
    * execute first, then read the final adaptive plan (the toString also
    * appends the pre-AQE "Initial Plan" section; cut it off).
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("dimension joins broadcast (no shuffle of the big side)") {
    for (q <- Seq("q_join_agg", "q_join_nation")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast: $p")
    }
  }

  test("external match compiles to a broadcast semi/anti join") {
    val p = plan(SparkEntry.queries("q_external_match")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("span dedup: one exchange, map-side partial combine, no window") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(Dedup.firstSpanOccurrence(
      Dedup.tokenChunks(docs, "doc_id", "text", 8), "doc_id"))
    // exactly one exchange (the content-hash groupBy), duplicates collapsed
    // BEFORE it (partial_min_by), and no global window partition-sort
    assert(p.split("Exchange").length - 1 == 1, s"expected 1 exchange:\n$p")
    assert(p.contains("partial_min_by"), s"expected map-side combine:\n$p")
    assert(!p.contains("Window"), s"span dedup must not use a window:\n$p")
  }

  test("CDC span dedup: the cut is map-only, one exchange total") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(Dedup.firstSpanOccurrence(
      Dedup.cdcChunks(docs, "doc_id", "text", 16), "doc_id"))
    // content-defined chunking adds NO shuffle on top of the span-dedup
    // aggregate: still exactly one exchange, still no window
    assert(p.split("Exchange").length - 1 == 1, s"expected 1 exchange:\n$p")
    assert(!p.contains("Window"), s"CDC must not use a window:\n$p")
  }

  test("minhash self-join materializes signatures once (ReusedExchange)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(Dedup.minhashPairs(docs, "doc_id", "text"))
    assert(p.contains("ReusedExchange"), p)
    // the expensive minhash_sig expression must appear in exactly ONE plan
    // branch (the projection feeding the reused exchange) — not inlined
    // into a pushed-down filter, not recomputed per join side
    assert(p.split("minhash_sig").length - 1 == 1,
      s"minhash signatures computed more than once:\n$p")
  }

  test("simhash self-join materializes signatures once (ReusedExchange)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(Dedup.simhashPairs(docs, "doc_id", "text"))
    assert(p.contains("ReusedExchange"), p)
    assert(p.split("simhash64").length - 1 == 1,
      s"simhash signatures computed more than once:\n$p")
  }

  test("hammingPairs (generic signatures) reuses one exchange like simhash") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val sigs = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.xxhash64(col("text")).as("sig"))
    val p = finalPlan(Dedup.hammingPairs(sigs, "doc_id", col("sig"),
      nBits = 64, maxHamming = 4))
    assert(p.contains("ReusedExchange"), p)
  }

  test("simhash verify: primitive bucket key, merge-walk intersect, no per-pair hash sets") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(Dedup.simhashPairsVerified(docs, "doc_id", "text",
      threshold = 0.7, maxHamming = 4))
    // the candidate join keys on a single xxhash64 long, not a
    // struct<int,array<long>> whose array equality exits codegen
    assert(!p.contains("named_struct"), s"struct bucket key resurfaced:\n$p")
    // exact scoring is the sorted merge walk, never array_intersect's
    // per-pair hash set
    assert(p.contains("sorted_intersect_count"), p)
    assert(!p.contains("array_intersect"), s"per-pair hash-set intersect resurfaced:\n$p")
    // the shingle scan feeds both verify sides through one exchange
    assert(p.contains("ReusedExchange"), p)
  }

  test("deterministic shuffle: no single-partition exchange anywhere") {
    val docs = graft.core.Graft.table(spark, sf, "documents").select("doc_id")
    val p = finalPlan(graft.llm.Mix.deterministicShuffle(docs,
      org.apache.spark.sql.functions.col("doc_id"), seed = "shape"))
    // the global order must come from parallel per-bucket windows — a
    // naive global row_number would show Exchange SinglePartition
    assert(!p.contains("SinglePartition"), s"corpus funneled through one partition:\n$p")
    assert(p.contains("Window"), p)
  }

  test("clause predicates push into the parquet scan") {
    val p = plan(SparkEntry.queries("q_clause_filter")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("EqualTo(l_returnflag,A)"), p)
  }

  test("projection prunes the parquet read schema") {
    val df = SparkEntry.queries("q_projection")(spark, sf)
    val scan = plan(df)
    // lineitem has 10 columns; the scan must read exactly the 3 projected
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_linenumber")
      && readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_shipdate"),
      s"scan reads pruned columns: $readSchema")
  }

  test("ANN ranking is a bounded top-k aggregate, not a window") {
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    for (df <- Seq(
        Similarity.bruteForceTopK(emb, emb.limit(2), "vec_id", "embedding", k = 3, dim = 64),
        Similarity.lshTopK(emb, emb.limit(2), "vec_id", "embedding", dim = 64, k = 3))) {
      val p = plan(df)
      assert(p.contains("collect_top_k"), p)
      assert(!p.contains("Window"), s"top-k fell back to a full window sort:\n$p")
      // partial aggregation before the exchange = map-side combine: only k
      // rows per partition cross the shuffle
      assert(p.contains("ObjectHashAggregate"), p)
    }
  }

  test("LSH ANN broadcasts the query side (corpus never shuffles in full)") {
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val p = plan(Similarity.lshTopK(emb, emb.limit(2), "vec_id", "embedding", dim = 64, k = 3))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("bucketed tables join with zero exchanges (co-located fact-fact join)") {
    val li = graft.core.Graft.table(spark, sf, "lineitem")
    val ord = graft.core.Graft.table(spark, sf, "orders")
    graft.core.Graft.writeBucketed(li, "li_bkt", Seq("l_orderkey"), 4)
    graft.core.Graft.writeBucketed(ord, "ord_bkt", Seq("o_orderkey"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the join to prove co-location, not broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_bkt")
        .join(spark.table("ord_bkt"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val p = finalPlan(j)
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join still shuffles the fact side:\n$p")
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles the build side:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.contains("Bucketed: true"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("quantile gate: thresholds broadcast back, the corpus never " +
      "shuffles (only the histogram agg exchanges)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val gated = graft.llm.Mix.quantileFilter(docs, col("lang"),
      col("n_chars").cast("long"), drop = 0.5)
    val p = finalPlan(gated)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop") ||
      p.contains("BroadcastExchange"),
      s"thresholds must broadcast back to the corpus:\n$p")
    // the corpus side must reach the join scan-direct: no hash exchange
    // keyed on the stratum column on the probe side (the only
    // hashpartitioning exchanges belong to the histogram agg + its window)
    val corpusShuffles = p.split("Exchange hashpartitioning").length - 1
    assert(corpusShuffles <= 2,
      s"expected only the histogram agg/window exchanges, got $corpusShuffles:\n$p")
  }

  test("attribute mix over co-bucketed corpus + sidecar: zero exchanges " +
      "(tag once, re-filter forever without moving the text)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    graft.core.Graft.writeBucketed(
      docs.select("doc_id", "text", "source"), "docs_bkt", Seq("doc_id"), 4)
    graft.core.Graft.writeBucketed(
      graft.llm.Attributes.tag(docs, "doc_id", Seq(
        "n_tokens" -> graft.functions.TextFunctions.tokenCount(col("text")))),
      "attr_bkt", Seq("doc_id"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val mixed = graft.llm.Attributes.mix(
        spark.table("docs_bkt"), "doc_id", Seq(spark.table("attr_bkt")),
        col("n_tokens") >= 20)
      val p = finalPlan(mixed)
      assert(!p.contains("Exchange"),
        s"co-bucketed attribute mix must not shuffle the corpus:\n$p")
      assert(p.contains("Bucketed: true"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("packed-shard decontamination probes a BROADCAST eval gram set " +
      "(the corpus side never shuffles); the DSv2 reports byte statistics " +
      "so the optimizer can size shard corpora") {
    val p = finalPlan(SparkEntry.queries("q_packed_decontaminate")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"eval grams should broadcast: $p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle to join: $p")
    // statistics: a tiny shard corpus sizes itself under the broadcast
    // threshold from the .bin listing alone
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stats").toString
    graft.sources.PackedCorpus.write(
      Seq((0L, 0L, Seq(1, 2, 3))).toDF("shard", "seq_id", "input_ids"),
      s"$dir/shards", numTasks = 1)
    val rel = spark.read.format("packedcorpus").load(s"$dir/shards")
    val stats = rel.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 1024L,
      s"listing-based size estimate expected (12 bytes), got ${stats.sizeInBytes}")
  }

  test("decontamination matches n-grams via broadcast semi-join") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = plan(graft.llm.Decontaminate.flagged(docs, "doc_id", "text",
      Seq("fast merge", "window table table")))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("stratified sampling is map-only (no exchange)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = plan(graft.llm.Mix.stratified(docs, col("lang"),
      Map("en" -> 0.5, "zh" -> 0.1), col("doc_id") * lit(2654435761L)))
    assert(!p.contains("Exchange"), s"sampling should not shuffle:\n$p")
  }

  test("sequence packing shuffles exactly once (the shard window)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = plan(graft.llm.Pack.concatChunk(docs, col("doc_id"), col("n_chars"),
      2048, pmod(col("doc_id") * lit(2654435761L), lit(8))))
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"packing should shuffle exactly once:\n$p")
  }

  test("unigram scoring broadcasts the vocab (no shuffle join on the token)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = plan(graft.llm.Unigram.score(docs, "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"), p)
    // the only hash exchanges are the vocab count and the doc-id agg — the
    // exploded token stream itself must not hash-partition by token
    assert(!p.contains("Exchange hashpartitioning(__tok"),
      s"token stream shuffles on the (Zipf-skewed) token key:\n$p")
  }

  test("repetition signals are map-only HOF algebra (no explode, no shuffle)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = plan(docs.select(col("doc_id"),
      graft.functions.TextFunctions.topNgramCharFraction(col("text"), 2).as("f")))
    assert(!p.contains("Exchange"), s"repetition signal should not shuffle:\n$p")
    assert(!p.contains("Generate"), s"repetition signal should not explode:\n$p")
  }

  test("budget select: corpus-side selection is a filter, not a global window") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val out = graft.llm.Mix.budgetSelect(docs,
      graft.functions.TextFunctions.qualityScore(col("text")), col("n_chars"),
      budget = 3000, tie = col("doc_id"))
    val p = plan(out)
    // the corpus must never range-partition into ONE partition for a global
    // cumsum: any window in the plan partitions by the boundary score
    assert(!p.contains("Exchange rangepartitioning"),
      s"budget select must not globally sort the corpus:\n$p")
    for (l <- p.linesIterator.filter(_.contains("Window")))
      assert(l.contains("windowspecdefinition(__score"),
        s"window must be per-score (boundary group only):\n$p")
  }

  test("curation funnel: gates fuse map-side, dedup combines before its exchange") {
    val p = finalPlan(SparkEntry.queries("q_curation")(spark, sf))
    // decontamination joins as a broadcast; the fingerprint dedup is a
    // map-combined aggregate (partial_min_by), never a window; the language
    // + quality gates add no exchange of their own
    assert(p.contains("BroadcastHashJoin"), s"decontamination should broadcast:\n$p")
    // keeper-id dedup: primitive-buffer HashAggregate (partial_min), never
    // the struct min_by SortAggregate and never a window
    assert(p.contains("partial_min"), s"dedup should combine map-side:\n$p")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"keeper-id dedup must hash-aggregate:\n$p")
    assert(!p.contains("Window"), s"the funnel must not use a window:\n$p")
    // the classifier gate is a native map-only expression: it adds NO scan
    // of its own (the funnel reads documents once for the corpus, once for
    // the decontamination flag side — the semi-join formulation read it a
    // third time) and rides the scan's data filters
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"the classifier gate must not rescan the corpus:\n$p")
  }

  test("keyword extraction: blocklist broadcasts, ranking is top-k not window") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = plan(graft.llm.Keywords.topTerms(docs, "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"ubiquitous terms should broadcast anti-join:\n$p")
    assert(p.contains("collect_top_k"), s"ranking should be CollectTopK:\n$p")
    assert(!p.contains("Window"), s"ranking must not be a window:\n$p")
  }

  test("BPE encode is map-only (no shuffle, no explode)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val merges = Seq("t" -> "h", "th" -> "e")
    val p = plan(docs.select(col("doc_id"),
      graft.llm.Bpe.symbolCount(graft.llm.Bpe.encodeText(col("text"), merges))))
    assert(!p.contains("Exchange"), s"BPE encode should not shuffle:\n$p")
    assert(!p.contains("Generate"), s"BPE encode should not explode:\n$p")
  }

  test("token-offset BPE encode + mask projection is map-only (no " +
      "shuffle, no explode: the fold stays inside the row)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val merges = Seq("t" -> "h", "th" -> "e")
    val toks = graft.llm.Bpe.encodeWithOffsets(col("text"), merges)
    val attr = array(struct(lit(0).as("s"), lit(5).as("e")))
    val p = plan(docs.select(col("doc_id"), size(toks).as("n"),
      size(filter(graft.functions.TextFunctions.spanOverlapMask(toks, attr),
        m => m)).as("n_masked")))
    assert(!p.contains("Exchange"), s"offset encode should not shuffle:\n$p")
    assert(!p.contains("Generate"), s"offset encode should not explode:\n$p")
  }

  test("BPE pair counting shuffles exactly once (the pair aggregate)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = plan(graft.llm.Bpe.pairCounts(docs, col("text")))
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"pair counting should shuffle exactly once:\n$p")
    assert(p.contains("partial_count"), s"count should combine map-side:\n$p")
  }

  test("C4 page filtering is map-only (no shuffle, no explode)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = plan(docs.select(col("doc_id"),
      size(graft.functions.TextFunctions.c4KeptLines(col("text"))).as("n"),
      graft.functions.TextFunctions.c4Passes(col("text")).as("ok")))
    assert(!p.contains("Exchange"), s"C4 filtering should not shuffle:\n$p")
    assert(!p.contains("Generate"), s"C4 filtering should not explode:\n$p")
  }

  test("temperature sampling: selection stage is map-only like stratified") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    // the bounded size-agg job runs inside the call; the RETURNED plan is
    // the selection, which must stay a pushdown-friendly scan filter
    val p = plan(graft.llm.Mix.temperatureSample(docs, col("lang"),
      budget = 100, hash = pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L)))
    assert(!p.contains("Exchange"), s"selection should not shuffle:\n$p")
  }

  test("fuzzy decontamination broadcasts the benchmark side, never a window") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000).as("bench_id"), col("text"))
    val p = finalPlan(graft.llm.Decontaminate.flaggedFuzzy(
      docs, "doc_id", "text", bench, "bench_id", "text"))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark band keys should broadcast:\n$p")
    assert(!p.contains("Window"), s"no window belongs in this plan:\n$p")
    // the full corpus must not hash-partition on its band key: candidates
    // come from the broadcast join in the scan stage
    assert(!p.contains("Exchange hashpartitioning(bk"),
      s"corpus band keys must not shuffle:\n$p")
  }

  test("exact-substring dedup: one window shuffle reused, map-combined firsts, no window op") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // at 100 TB the duplicate-window side is corpus-sized, so the flag
      // join cannot broadcast — force the shuffle join whose exchange reuse
      // this test pins (at sf0.001 AQE would broadcast the tiny firsts side
      // and the reuse point disappears from the final plan)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = finalPlan(graft.llm.ExactSubstr.dedupStats(docs, "doc_id", "text", 8))
      // the window stream shuffles on its hash ONCE: the first-occurrence
      // aggregate and the flag join share the exchange
      assert(p.contains("ReusedExchange"), s"window exchange not reused:\n$p")
      // occurrences collapse before the exchange (partial min/count)
      assert(p.contains("partial_min"), s"firsts should combine map-side:\n$p")
      assert(!p.contains("Window"), s"no window op belongs in this plan:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("SemDeDup: one cell exchange reused by both join sides, vectors scanned once") {
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val codebook = graft.llm.Ivf.train(emb, "embedding", 64, nlist = 4, iters = 1)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // at 100 TB neither self-join side broadcasts — force the shuffle
      // join this test is actually about (tiny sf0.001 would broadcast)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = finalPlan(graft.llm.Semantic.semDedupPairs(
        emb, "vec_id", "embedding", 64, threshold = 0.9, codebook = Some(codebook)))
      // the self-join's two sides must share ONE materialized cell-assignment
      // scan — otherwise the corpus (and the nearest_cells pass) runs twice
      assert(p.contains("ReusedExchange"), s"cell scan not reused:\n$p")
      assert(p.split("nearest_cells").length - 1 == 1,
        s"cell assignment computed more than once:\n$p")
      assert(!p.contains("Window"), s"no window belongs in SemDeDup:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("DSIR stats: codebooks broadcast, gram stream never shuffles on the feature") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = plan(graft.llm.Dsir.importanceStats(
      docs, docs.filter(col("lang") === "en"), "doc_id", "text"))
    // both distribution tables are bounded codebooks joined as broadcasts;
    // the exploded gram stream must only hash-partition on the doc id
    assert(p.contains("BroadcastHashJoin"), s"codebooks should broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning(__feat"),
      s"gram stream shuffles on the (skewed) feature key:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("ntile buckets: no stratum-wide window, tie groups rank in parallel") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val out = graft.llm.Perplexity.ntileBuckets(
      docs.select(col("doc_id"), col("lang"), col("n_chars")),
      round(col("n_chars") / 100, 0), col("lang"), col("doc_id"))
    val p = plan(out)
    // one language holding half the corpus must not funnel through one
    // partition: every window partitions by (stratum, score) tie groups,
    // never by stratum alone, and nothing is SinglePartition
    assert(!p.contains("SinglePartition"),
      s"stratum funneled through one partition:\n$p")
    for (l <- p.linesIterator.filter(_.contains("windowspecdefinition")))
      assert(l.contains("__strat") && l.contains("__score"),
        s"window must partition by (stratum, score), not stratum alone:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"rank offsets should broadcast:\n$p")
  }

  test("IVF-PQ: no full-corpus LUT scan — LUTs live on the broadcast probe side only") {
    // the composition's whole point at 100 TB: corpus rows carry (cell,
    // codes) from ONE map-only scan; pq_lut is evaluated per (query,
    // probed cell) on the small broadcast side; the probe join is a
    // broadcast EQUI-join on the cell id so unprobed cells never score
    val p = finalPlan(SparkEntry.queries("q_ann_ivfpq")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"probe join must hash on the cell id:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IVF-PQ must not degrade to flat PQ's cross join:\n$p")
    // pq_lut must appear under BroadcastExchange (query side), never in a
    // projection that also computes the corpus-side pq_encode scan
    val lutLines = p.linesIterator.filter(_.contains("pq_lut")).toSeq
    assert(lutLines.nonEmpty, s"expected a pq_lut projection:\n$p")
    assert(!lutLines.exists(_.contains("pq_encode")),
      s"LUT computed on the corpus-scan side — full-corpus LUT scan:\n$p")
    assert(p.contains("collect_top_k") && !p.contains("Window"), p)
  }

  test("incremental store dedup: batch signatures exchanged once, no cartesian") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val old = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // at 100 TB neither the store join nor the within-batch self-join
      // broadcasts — force the shuffle joins this contract is about
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = finalPlan(Dedup.incrementalDedupVerified(batch, "doc_id", "text",
        atRestSigs = Dedup.minhashSignatures(old, "doc_id", "text"),
        atRestDocs = old, threshold = 0.7))
      // the store join and the within-batch self-join must share ONE
      // materialized batch-signature exchange — otherwise the new crawl
      // is re-shingled + re-hashed per join
      assert(p.contains("ReusedExchange"), s"batch signatures not reused:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"banded joins degraded to a cross join:\n$p")
      assert(!p.contains("Window"), s"no window belongs in incremental dedup:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incremental dedup turn: one candidate join, the batch signed once, " +
      "the store written from those signatures") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val docs = graft.core.Graft.table(spark, sf, "documents").select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-turnshape").toFile
    val fn = graft.streaming.IncrementalDedupStream.batchFunction("doc_id", "text",
      s"$dir/store", s"$dir/corpus")
    fn(docs.filter(col("doc_id") % 3 === 0), 0L)
    // capture the second turn's store write, made against a non-empty store
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains("/store/batch=run-1")) writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      fn(docs.filter(col("doc_id") % 3 =!= 0), 1L)
      // QueryExecutionListener events post asynchronously
      val deadline = System.nanoTime() + 10e9.toLong
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val storeWrite = writes.asScala.headOption.getOrElse(fail("no store write captured"))
    def signs(p: SparkPlan) =
      p.expressions.exists(_.find(_.isInstanceOf[graft.functions.MinHashSig]).isDefined)
    val outer = planNodes(storeWrite.executedPlan)
    assert(!outer.exists(signs), s"the store write signs again:\n${storeWrite.executedPlan}")
    val turn = outer.collectFirst { case s: InMemoryTableScanExec => s.relation.cachedPlan }
      .map(planNodes).getOrElse(fail(s"the store write does not read the cached turn:\n" +
        storeWrite.executedPlan))
    val plan = turn.head.toString
    // the band join proposing candidates runs once, not once per consumer
    // (collision ids, verify pairs)
    assert(turn.count {
      case j: BaseJoinExec => j.condition.exists(_.references.exists(_.name == "__st"))
      case _ => false
    } == 1, s"candidate join not computed once:\n$plan")
    // one signing operator, whose exchange the other consumers reuse
    assert(turn.count(signs) == 1, s"the batch is signed more than once:\n$plan")
    assert(turn.exists {
      case r: ReusedExchangeExec => planNodes(r.child).exists(signs)
      case _ => false
    }, s"batch signatures not reused:\n$plan")
  }

  test("incremental embedding dedup: no cartesian, no window, vectors behind the semi-join") {
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val batch = emb.filter(col("vec_id") < 50)
      .withColumn("vec_id", col("vec_id") + 100000)
    val p = finalPlan(Dedup.incrementalEmbeddingDedup(batch, "vec_id", "embedding",
      atRestSigs = Dedup.embeddingSignatures(emb, "vec_id", "embedding", 64),
      atRestVecs = emb, dim = 64, threshold = 0.9))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("incremental Hamming dedup: the store crosses one exchange to the candidate join") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dir = java.nio.file.Files.createTempDirectory("graft-hammingstore").toFile
    val sigs = spark.range(0, 4000).select(col("id").as("__id"), xxhash64(col("id")).as("__hsig"))
    def multi(df: DataFrame) = df.select(col("__id"), array(col("__hsig")).as("__hsigs"))
    sigs.filter(col("__id") >= 400).write.parquet(s"$dir/single")
    multi(sigs.filter(col("__id") >= 400)).write.parquet(s"$dir/multi")
    // odd batch ids copy a store signature, so the candidate join has work
    val batchSigs = sigs.filter(col("__id") < 400).select(col("__id"),
      xxhash64(col("__id") + (col("__id") % 2) * 400).as("__hsig"))
    val batch = batchSigs.select(col("__id").as("doc_id"))
    // the operators from `p` down to the store's scan
    def toStore(p: SparkPlan, name: String): Option[List[SparkPlan]] = p match {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.endsWith(s"/$name")) => Some(List(s))
      case o => planChildren(o).iterator.map(toStore(_, name)).collectFirst {
        case Some(t) => o :: t }
    }
    try {
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        for ((name, kept) <- Seq(
            "single" -> Dedup.incrementalHammingDedup(batch, "doc_id", batchSigs,
              spark.read.parquet(s"$dir/single")),
            "multi" -> Dedup.incrementalHammingDedupMulti(batch, "doc_id", multi(batchSigs),
              spark.read.parquet(s"$dir/multi")))) {
          kept.collect()
          val plan = kept.queryExecution.executedPlan
          val path = toStore(plan, name).getOrElse(fail(s"$name: no store scan:\n$plan"))
          // below the nearest join above the store scan: the store side of
          // the candidate join, which needs only its bucket exchange
          val storeSide = path.drop(path.lastIndexWhere(_.isInstanceOf[BaseJoinExec]) + 1)
          assert(storeSide.count(_.isInstanceOf[ShuffleExchangeExec]) == 1,
            s"$name: the store crosses more than its bucket exchange:\n$plan")
        }
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("int8/binary at-rest search: code-table scan, broadcast query side, bounded top-k") {
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val (mins, maxs) = graft.llm.Quantize.int8Stats(emb, "embedding", 64)
    val stored = graft.llm.Quantize.int8Encode(emb, "vec_id", "embedding", mins, maxs)
    val p = finalPlan(graft.llm.Quantize.int8TopKEncoded(stored, emb,
      emb.filter(col("vec_id") < 2), "vec_id", "embedding", mins, maxs, k = 3, rerank = 10))
    // stage 1 must not shuffle the corpus: the only join inputs are
    // broadcasts (queries, then candidate ids), ranking is CollectTopK
    assert(p.contains("collect_top_k") && !p.contains("Window"), p)
    assert(!p.linesIterator.exists(l => l.contains("Exchange hashpartitioning")
      && l.contains("neighbor_id")), s"corpus shuffled in two-stage search:\n$p")
  }

  test("BM25: query side broadcasts, ranking is CollectTopK, postings shuffle once") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val qdf = spark.createDataFrame(Seq((1L, "spark window agg"), (2L, "fast scan")))
      .toDF("query_id", "qtext")
    val p = finalPlan(graft.llm.Lexical.bm25TopK(docs, qdf, "doc_id", "text",
      "query_id", "qtext", k = 5))
    // pruning + df + (query,term) joins all broadcast: document text never
    // crosses an exchange, only postings of query terms do
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"BM25 fell to a shuffle join:\n$p")
    assert(p.contains("collect_top_k") && !p.contains("Window"),
      s"BM25 ranking must be a bounded top-k aggregate:\n$p")
    // stats derive from the SAME postings exchange the scoring side scans —
    // the corpus is tokenized once per job, not once per subtree
    assert(p.contains("ReusedExchange"),
      s"postings must materialize once (stats + scoring share it):\n$p")
  }

  test("chunking is map-only: no exchange, generator inside the scan stage") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(graft.llm.Chunk.fixedTokenChunks(docs, "doc_id", "text", 16, 4))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("capPerKey: bounded top-k per key, no window, semi-join recovery") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(graft.llm.Mix.capPerKey(docs, col("source"),
      struct((-col("n_chars")).as("q"), col("doc_id").as("i")), "doc_id", 30))
    assert(p.contains("collect_top_k"), s"cap ranking should be CollectTopK:\n$p")
    assert(!p.contains("Window"), s"cap must not be a row_number window:\n$p")
    assert(p.contains("LeftSemi"), p)
  }

  test("overlap report: corpus gram stream is map-only behind a broadcast semi-join") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(graft.llm.Decontaminate.overlapReport(
      docs.filter(col("doc_id") % 50 =!= 0), "text",
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 5))
    // the corpus side may only reach its distinct AFTER the broadcast gram
    // gate — no shuffle join between corpus grams and bench grams
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"overlap report fell to a shuffle join:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("whole-stage codegen covers the signature scans (native expressions)") {
    // `*(n)` prefixes in the plan string mark whole-stage-codegen stages;
    // the projection computing the native signature expression must carry one
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val p = plan(sig)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("minhash_sig")), p)
    val emb = graft.core.Graft.table(spark, sf, "embeddings")
    val hp = emb.select(graft.functions.VectorFunctions
      .hyperplaneSignatures(col("embedding"), 64, 8, Seq(1L, 2L)).as("sigs"))
    val hpPlan = plan(hp)
    assert(hpPlan.linesIterator.exists(l => l.contains("*(") && l.contains("hyperplane_sigs")),
      hpPlan)
  }

  test("span reassembly adds exactly one doc-keyed exchange, no window") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(Dedup.dedupSpans(
      Dedup.tokenChunks(docs, "doc_id", "text", 8), "doc_id"))
    // firstSpanOccurrence's hash exchange + the reassembly groupBy — two
    // total, still no window, still map-side min_by combine
    assert(p.split("Exchange").length - 1 == 2, s"expected 2 exchanges:\n$p")
    assert(p.contains("partial_min_by"), s"expected map-side combine:\n$p")
    assert(!p.contains("Window"), s"reassembly must not use a window:\n$p")
  }

  test("SidecarJoin scans the sidecar exactly once (the duplicate-key " +
      "guard rides the join plan, it does not pre-scan)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sj-plan").toFile
    val side = new java.io.File(dir, "side")
    graft.core.Graft.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang").as("tag"))
      .write.mode("overwrite").parquet(side.toString)
    val data = new java.io.File(dir, "in.csv")
    java.nio.file.Files.write(data.toPath,
      java.util.Arrays.asList("1;a;", "2;b;"))
    val toml =
      s"""[csv]
         |field_separator = 59
         |[fields]
         |names = ["id", "text", "tag"]
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$data"]
         |[[filter]]
         |name = "SidecarJoin"
         |  [filter.config]
         |  Path = "$side"
         |  IdField = "id"
         |  SidecarKey = "doc_id"
         |  Fields = ["tag"]
         |[output]
         |name = "Recorder"
         |fields = ["id", "tag"]
         |""".stripMargin
    val compiled = graft.topology.Topology.compileToml(spark, toml)
    val p = plan(compiled.frame)
    val sidecarScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") || (l.contains("FileScan") && l.contains("side")))
    assert(sidecarScans == 1, s"sidecar must be scanned once, got $sidecarScans:\n$p")
    // and the guard is IN the plan (an aggregate over the sidecar key)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"duplicate-key guard must ride the plan:\n$p")
  }

  test("exact-substring clean text reuses the window exchange, no cartesian") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(graft.llm.ExactSubstr.removeDuplicateWindows(
      docs, "doc_id", "text", k = 8))
    // the first-occurrence agg and the flag join must consume ONE shared
    // shuffle of the window stream (the tokenize+shingle scan runs once)
    assert(p.contains("ReusedExchange"), s"expected shared window exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
  }

  test("byte-level BPE encode + tokenIds + blocklist + sentences: one map-only scan") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val url = concat(lit("https://h"), col("doc_id"), lit(".example.com/"))
    val bl = (1 to 70).map(i => s"b$i.invalid") :+ "example.com"
    val p = finalPlan(docs.select(
      graft.llm.Bpe.tokenIds(
        graft.llm.Bpe.byteLevelEncode(col("text"), Seq(("t", "h"))),
        Seq("th", "Ġ"), unkId = -1).as("ids"),
      graft.functions.TextFunctions.domainBlocked(url, bl).as("blocked"),
      graft.functions.TextFunctions.sentences(col("text")).as("sents")))
    assert(!p.contains("Exchange"), s"tokenize/block/segment must not shuffle:\n$p")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Aggregate"), p)
  }

  test("keepBestPerCluster: bounded CollectTopK per cluster, no window, anti-join") {
    import spark.implicits._
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("idA", "idB")
    val p = finalPlan(graft.llm.Dedup.keepBestPerCluster(
      docs, pairs, "doc_id", col("n_chars")))
    assert(p.contains("collect_top_k"), s"per-cluster argmax should be CollectTopK:\n$p")
    assert(!p.contains("Window"), s"no per-cluster window:\n$p")
    assert(p.contains("LeftAnti"), p)
  }

  test("logisticGradient: vocab gate is a broadcast join, partials bounded") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
      .withColumn("label", (col("doc_id") % 2).cast("double"))
    val p = finalPlan(graft.llm.Classifier.logisticGradient(
      docs, "text", "label", Map("join" -> 0.5, "scan" -> 0.25)))
    assert(p.contains("BroadcastHashJoin"), s"vocab gate must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join against the vocab:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("hashed gradient statistic: one corpus pass, one exchange, one " +
      "feature-hash evaluation site (the r12 4x-evaluation fix)") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
      .withColumn("label", (col("doc_id") % 2).cast("double"))
    val p = plan(graft.llm.Classifier.logisticGradientHashed(
      docs, "text", "label",
      weights = Array.tabulate(256)(b => ((b % 21) - 10) / 1024.0),
      bias = -0.125, wordNgrams = 2,
      hasher = Some(graft.llm.Classifier.md5Bucket(256))))
    // single aggregation: exactly one hash exchange (the bucket groupBy)
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"hashed gradient should shuffle exactly once:\n$p")
    // the md5 feature chain appears at ONE plan site: the explode's
    // projection (no Filter duplicate, no union second scan)
    assert(p.split("md5").length - 1 == 1,
      s"feature hash should have one evaluation site:\n$p")
    assert(!p.contains("Union"), s"bias must ride the same aggregation:\n$p")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"gradient sum should combine map-side:\n$p")
  }

  test("unigram-train E-step: map-only pieces + one bounded aggregation") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val words = docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .filter(length(col("w")).between(1, 10))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val costs = Seq("a" -> 10, "b" -> 12, "ab" -> 15)
    val pcs = org.apache.spark.sql.GraftShims.toColumn(
      graft.functions.UnigramViterbiPieces(
        org.apache.spark.sql.GraftShims.toExpression(array(col("w"))), costs, 10))
    val p = plan(words.select(col("freq"), explode(pcs).as("p"))
      .groupBy("p").agg(sum("freq").as("cnt")))
    // word-frequency agg + piece-count agg: exactly two exchanges, both
    // vocabulary-bounded; the Viterbi expression itself is map-only
    assert(p.split("Exchange hashpartitioning").length - 1 == 2,
      s"E-step should be two bounded aggregations:\n$p")
    assert(p.contains("unigram_viterbi_pieces") || p.contains("unigramVit") ||
      p.contains("UnigramViterbiPieces"),
      s"native Viterbi expression should be in the plan:\n$p")
  }

  test("main-content extraction is map-only: no exchange, no UDF") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = plan(docs.select(col("doc_id"),
      graft.functions.TextFunctions.htmlMainText(
        concat(lit("<nav><a href=\"/\">Home</a></nav><p>"), col("text"),
          lit("</p>"))).as("main")))
    assert(!p.contains("Exchange"), s"extraction must be map-only:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"no UDF in the extraction path:\n$p")
  }

  test("suffix grouping: ONE anchor-keyed exchange feeds sort + windows; " +
      "no cartesian") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(graft.llm.ExactSubstr.suffixOccurrences(
      docs, "doc_id", "text", k = 8, extBudget = 4))
    // lag/lead + count/min share the anchor partition: the occurrence
    // stream rides exactly one hash exchange (REPARTITION_BY_COL) into
    // the in-group sort. The hot-anchor fuse adds only exchanges of
    // PARTIAL-aggregated (anchor, count, min) rows (ENSURE_REQUIREMENTS
    // under its agg), never a second occurrence exchange.
    assert(p.split("REPARTITION_BY_COL").length - 1 == 1,
      s"expected exactly one occurrence exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("suffix grouping hot-anchor fuse: hot occurrences flag MAP-ONLY " +
      "(broadcast probe, no exchange, no ext sort); the hot aggregate is " +
      "map-side combined") {
    import spark.implicits._
    val docs = (0L until 200L)
      .map(i => (i, s"u${i}a u${i}b bp1 bp2 bp3 bp4 bp5 bp6"))
      .toDF("doc_id", "text")
    val df = graft.llm.ExactSubstr.suffixOccurrences(
      docs, "doc_id", "text", k = 3, extBudget = 4, maxAnchorOccurrences = 8)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the occurrence stream rides exactly ONE exchange (the cold
    // window's REPARTITION_BY_COL); the fuse's own exchanges carry only
    // partial-aggregated (anchor, count, min) rows. Hot occurrence rows
    // reach their flags through broadcast joins only — a boilerplate
    // anchor never rides a hash exchange into one straggler task, and
    // never enters the extension sort (the only __ext-keyed sort is the
    // cold window's; the SortAggregate key-sorts order by the 8-byte
    // anchor hash alone)
    assert(p.split("REPARTITION_BY_COL").length - 1 == 1,
      s"hot fuse must not add occurrence exchanges:\n$p")
    assert("Sort \\[[^\\n]*__ext".r.findAllIn(p).length <= 1,
      s"only the cold window sorts by the extension:\n$p")
    val partialBelow = p.split("\n").exists(l => l.contains("partial_count"))
    assert(partialBelow, s"hot aggregate must be map-side combined:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"hot set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // single-scan fuse: the occurrence frame (tokenize + posexplode +
    // anchor hash) has three consumers (hot aggregate, cold probe, hot
    // join) — all must read the ONE spill-backed materialization, never
    // re-run the tokenize scan (r15 ran it three times)
    assert(p.contains("InMemoryTableScan"),
      s"occurrence frame must be materialized once and shared:\n$p")
    // with the cache in place the three consumers print as
    // InMemoryTableScan, so the tokenize/posexplode subtree appears only
    // inside InMemoryRelation's cached-plan dump — any Generate BEFORE the
    // first InMemoryRelation marker is a consumer re-running the scan
    assert(!p.split("InMemoryRelation")(0).contains("Generate posexplode"),
      s"a consumer re-evaluates the occurrence scan above the cache:\n$p")
  }

  test("incremental substring dedup: the batch window stream shuffles " +
      "once (ReusedExchange across agg + flag join), no cartesian") {
    import spark.implicits._
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val store = Seq(1L, 2L).toDF("__h")
    val p = finalPlan(graft.llm.ExactSubstr.flaggedWindowsVs(
      docs, "doc_id", "text", k = 8, hash = xxhash64(_), Some(store)))
    assert(p.contains("ReusedExchange"), s"expected shared window exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("suite-wide join-strategy invariants: no CartesianProduct, no " +
      "ShuffledHashJoin, BroadcastNestedLoopJoin only at the 14 documented " +
      "scalar-broadcast sites; zero/one-exchange rows stay there") {
    // The r19 verdict's gap: these inventory-wide claims lived in the
    // round report, not in a test. Every declared query's INITIAL plan is
    // scanned here (building a lifecycle row's frame executes its store
    // side effects at sf0.001 — acceptable; the scanned plan is then its
    // final readback frame plus whatever joins ride it).
    // BNLJ allowlist: all are broadcast-SCALAR cross joins (a 1-row
    // aggregate side — corpus doc-count / BM25 stats / threshold frames
    // via IdentityBroadcastMode), audited in OPTIMIZATION_r19.md and
    // re-checked r20; a BNLJ anywhere else is an accidental cartesian.
    val bnljAllowed = Set(
      "q_ann_hamming", "q_ann_int8", "q_ann_opq", "q_ann_pq",
      "q_ann_pq_stream", "q_ann_recall", "q_bm25", "q_bm25_rtbf",
      "q_decontaminate_bloom", "q_embed_topk", "q_hybrid_rrf", "q_keywords",
      "q_mmr_rerank", "q_rag_pipeline")
    // rows whose r20 plans hold zero or exactly one shuffle exchange (the
    // operator one-exchange contract); a second exchange appearing on any
    // of them is a structural regression invisible at sf0.001 and
    // catastrophic at scale
    val oneExchange = Set(
      "q_bpe_offsets", "q_topk",
      "q_attribute_mix", "q_audio_fingerprint", "q_binary_encode",
      "q_block_domains", "q_bpe_byte_level", "q_bpe_encode",
      "q_bpe_encode_native", "q_bpe_ids", "q_bpe_pairs", "q_bpe_roundtrip",
      "q_bpe_train", "q_bpe_train_byte", "q_c4_filters", "q_chunk",
      "q_classifier", "q_clause_filter", "q_clear_fields", "q_concatenate",
      "q_crypt", "q_dedup_cc", "q_dedup_cc_verified",
      "q_dedup_incremental_audio", "q_dedup_incremental_image",
      "q_dedup_incremental_substr", "q_dedup_incremental_video",
      "q_embed_cc", "q_embed_covariance", "q_expand_json", "q_expand_list",
      "q_fim", "q_fingerprint", "q_format_time", "q_hash", "q_html_extract",
      "q_html_main_text", "q_int8_encode", "q_interval_join", "q_lang_id",
      "q_main_content_funnel", "q_metadata_lastmod", "q_metadata_url",
      "q_mix_corpora", "q_mix_epochs", "q_mix_solver", "q_mix_temperature",
      "q_multimodal", "q_multimodal_adts", "q_multimodal_ahash",
      "q_multimodal_audio", "q_multimodal_decode", "q_multimodal_dhash",
      "q_multimodal_dims", "q_multimodal_fmp4", "q_multimodal_mp4",
      "q_multimodal_phash", "q_multimodal_webm", "q_ngram_jaccard",
      "q_normalize", "q_notnull", "q_opq_encode", "q_output_nop",
      "q_output_stats", "q_packed_rtbf", "q_packed_shards",
      "q_packed_shards_masked", "q_packed_shards_u16", "q_partial_clone",
      "q_pdf_chain", "q_pdf_objstm", "q_pdf_text", "q_pii_spans",
      "q_pq_encode", "q_projection", "q_quality", "q_quality_gopher",
      "q_redact_pii", "q_regex_match", "q_repetition", "q_replace_fields",
      "q_rolling_hash", "q_sample_stratified", "q_sentences",
      "q_set_string_from_url", "q_slice", "q_span_redact", "q_span_units",
      "q_split_assign", "q_split_leakage_safe", "q_sql_text_stats",
      "q_string_match", "q_timestamp", "q_timestamp_range", "q_token_count",
      "q_tokenize_hf_bert", "q_tokenize_hf_import", "q_tokenize_hf_metaspace",
      "q_topology_jsonl", "q_topology_packed", "q_topology_parquet",
      "q_topology_pretrain", "q_topology_webdataset", "q_topology_wordpiece",
      "q_unigram_segment", "q_unigram_train", "q_unigram_train_segment",
      "q_url_canonical", "q_url_escape", "q_url_param", "q_validation",
      "q_webdataset", "q_wordpiece", "q_wordpiece_train",
      "q_wordpiece_train_tiny")
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((q, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p =
        try fn(spark, sf).queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
        catch { case e: Throwable => problems += s"$q: failed to plan: $e"; "" }
      if (p.contains("CartesianProduct")) problems += s"$q: CartesianProduct"
      if (p.contains("ShuffledHashJoin")) problems += s"$q: ShuffledHashJoin"
      if (p.contains("BroadcastNestedLoopJoin") && !bnljAllowed(q))
        problems += s"$q: BroadcastNestedLoopJoin outside the allowlist"
      if (oneExchange(q)) {
        val shuffles = p.sliding("Exchange ".length).count(_ == "Exchange ") -
          p.sliding("BroadcastExchange ".length).count(_ == "BroadcastExchange ") -
          p.sliding("ReusedExchange ".length).count(_ == "ReusedExchange ")
        if (shuffles > 1)
          problems += s"$q: $shuffles shuffle exchanges (one-exchange contract)"
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("suffixDedupStats: anchor exchange + doc-keyed window/agg, " +
      "corpus never joins itself") {
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val p = finalPlan(graft.llm.ExactSubstr.suffixDedupStats(
      docs, "doc_id", "text", k = 8, extBudget = 4))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the only join is the per-doc stats LEFT join back onto doc ids —
    // no corpus-payload self-join anywhere
    assert(!p.contains("SortMergeJoin") ||
      p.split("SortMergeJoin").length - 1 <= 1,
      s"at most the per-doc stats join:\n$p")
  }
}
