package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Exact-substring deduplication at ARBITRARY alignment (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better",
  * arXiv:2107.06499): flag every k-token window that repeats anywhere in
  * the corpus and keep only its globally-first occurrence. The paper builds
  * a corpus-wide suffix array; the Spark-native shape is the rolling-window
  * self-group — every token position emits its k-gram, duplicates meet in
  * ONE keyed aggregation — which finds the same ≥k-token repeats (a
  * duplicated substring of length L ≥ k is exactly a run of L−k+1 flagged
  * windows; merged intervals recover it).
  *
  * Complements the other dedup family members: [[Dedup.tokenChunks]] span
  * dedup only sees repeats aligned to fixed chunk boundaries,
  * [[Dedup.cdcChunks]] realigns on content but still samples boundaries;
  * this one is position-exhaustive — any repeated k-run is caught no matter
  * how the surrounding text shifts.
  *
  * Scale shape (the 100 TB contract):
  *  - window emission is map-only (posexplode over one tokenize pass);
  *  - the ONLY corpus-keyed shuffle is on the fixed-width window hash: the
  *    first-occurrence aggregate is map-side combined (partial_min /
  *    partial_count collapse each partition's occurrences before the
  *    exchange), and the flag join REUSES the same exchange
  *    (ReusedExchange — pinned in PlanShapeSpec) rather than re-shuffling
  *    the window stream;
  *  - flagged rows carry only (id, pos) scalars; join fan-out equals the
  *    true number of duplicated occurrences — the answer's own size;
  *  - per-doc interval union is one doc-keyed aggregation whose state is
  *    bounded by the document's own length, the same stance as
  *    [[Dedup.dedupSpans]]'s reassembly;
  *  - driver state: none.
  */
object ExactSubstr {

  /** ONE-SLOT holder of the persisted occurrence frame
    * ([[suffixOccurrences]]'s hot-anchor path): each new suffix call
    * reclaims the previous call's cache, bounding the whole JVM to at
    * most ONE disk-backed occurrence frame instead of one per call
    * (JVM-wide by design — see [[graft.core.Cached.Slot]]).
    */
  private val occCache = new graft.core.Cached.Slot

  /** Free the last suffix-occurrence cache (safe any time: unpersist of
    * an in-use frame recomputes from lineage). Long-lived pipelines call
    * this after their suffix-dedup actions complete.
    */
  def releaseCache(): Unit = occCache.release()

  /** Every k-token window of every document: (idCol, pos, __h) with `pos`
    * 0-based and `__h` the window hash. Map-only; documents shorter than k
    * tokens emit nothing (nothing can repeat). `hash` defaults to the
    * fixed-width `xxhash64` long (the production key); pass `md5` to make
    * the key an external SQL engine can recompute verbatim — the two keys
    * flag identical sets short of a 64-bit collision (ExactSubstrSpec
    * asserts the equality on real corpora).
    */
  def windows(df: DataFrame, idCol: String, textCol: String, k: Int,
      hash: Column => Column = xxhash64(_)): DataFrame = {
    require(k >= 1, s"ExactSubstr.windows: k must be positive: $k")
    df.select(col(idCol),
        posexplode(TextFunctions.shingles(col(textCol), k)).as(Seq("pos", "__g")))
      .select(col(idCol), col("pos"), hash(col("__g")).as("__h"))
  }

  /** Occurrences that duplicate an EARLIER window: (idCol, pos) for every
    * window whose (id, pos) is not the minimum over its hash group. The
    * keeper is the globally-first occurrence under (id, pos) ordering —
    * deterministic and restatable by a SQL oracle.
    */
  def flaggedWindows(df: DataFrame, idCol: String, textCol: String, k: Int,
      hash: Column => Column = xxhash64(_)): DataFrame =
    flaggedWindowsVs(df, idCol, textCol, k, hash, atRest = None)

  /** [[flaggedWindows]] generalized with an optional AT-REST window-hash
    * set (the incremental-store path): a window also dies when its hash
    * is at rest — EVERY occurrence, including the batch-first one, since
    * the store's copy is the keeper. `atRest`: one `__h` column, rows
    * distinct by the store's construction.
    */
  private[graft] def flaggedWindowsVs(df: DataFrame, idCol: String,
      textCol: String, k: Int, hash: Column => Column,
      atRest: Option[DataFrame]): DataFrame = {
    // explicit hash repartition BEFORE the aggregate: the first-occurrence
    // agg and the flag join both consume this one exchange (ReusedExchange)
    // — without it each side builds its own shuffle of the full window
    // stream and the tokenize+shingle scan runs twice. The null-id filter
    // sits BELOW the shared exchange on purpose: downstream joins infer
    // IsNotNull(id) on the probe side only, and an inferred filter in one
    // consumer's subtree but not the other's breaks the subtree equality
    // ReuseExchange needs — stating it once here keeps both sides identical
    val w = windows(df, idCol, textCol, k, hash)
      .filter(col(idCol).isNotNull)
      .repartition(col("__h"))
    atRest match {
      case None =>
        val firsts = w.groupBy("__h")
          .agg(min(struct(col(idCol), col("pos"))).as("__first"),
            count(lit(1)).as("__cnt"))
          .filter(col("__cnt") >= 2)
        w.join(firsts, "__h")
          .filter(struct(col(idCol), col("pos")) =!= col("__first"))
          .select(col(idCol), col("pos"))
      case Some(store) =>
        val firsts = w.groupBy("__h")
          .agg(min(struct(col(idCol), col("pos"))).as("__first"),
            count(lit(1)).as("__cnt"))
        w.join(firsts, "__h")
          .join(store.select(col("__h"), lit(true).as("__inStore")),
            Seq("__h"), "left")
          .filter(coalesce(col("__inStore"), lit(false)) ||
            (col("__cnt") >= 2 &&
              struct(col(idCol), col("pos")) =!= col("__first")))
          .select(col(idCol), col("pos"))
    }
  }

  /** The cleaned text of one document given its sorted-or-not flagged
    * positions: token i survives iff no flagged window [p, p+k) covers it
    * — the reassembly shared by [[removeDuplicateWindows]] and the
    * incremental store. Null `ps` (no flags) passes token-normalized.
    */
  private[graft] def cutWindows(text: Column, ps: Column, k: Int): Column =
    array_join(
      filter(TextFunctions.tokens(text),
        (tok, i) => !exists(coalesce(ps, array().cast("array<int>")),
          p => p <= i && i < p + k)),
      " ")

  /** Token-count of the interval union `∪ [p, p+k)` over a SORTED position
    * array: consecutive gaps clipped at k, plus k for the last interval.
    * `sequence(1, n-1)` would run DESCENDING for n = 1 (Spark generates
    * start→stop either direction), hence the explicit single-interval case.
    */
  private def unionLength(ps: Column, k: Int): Column =
    when(size(ps) === 0, lit(0L))
      .when(size(ps) === 1, lit(k.toLong))
      .otherwise(aggregate(
        transform(sequence(lit(1), size(ps) - 1),
          i => least(element_at(ps, i + 1) - element_at(ps, i), lit(k))),
        lit(0L), (acc, x) => acc + x) + k)

  /** Per-document integer sufficient statistics of the dedup decision:
    * (idCol, n_windows, n_dup_windows, n_tokens_removed) where
    * `n_tokens_removed` is the interval-union token count of the flagged
    * windows — exact integers an external SQL engine recomputes verbatim
    * (the oracle strategy of [[Dsir.importanceStats]]). Every input
    * document appears, zeros when nothing is flagged.
    */
  def dedupStats(df: DataFrame, idCol: String, textCol: String, k: Int,
      hash: Column => Column = xxhash64(_)): DataFrame = {
    val perDoc = flaggedWindows(df, idCol, textCol, k, hash)
      .groupBy(idCol).agg(sort_array(collect_list(col("pos"))).as("__ps"))
    df.select(col(idCol),
        greatest(size(TextFunctions.tokens(col(textCol))) - (k - 1), lit(0))
          .cast("long").as("n_windows"))
      .join(perDoc, Seq(idCol), "left")
      // size(null) is -1 with ANSI off — branch on the null, don't coalesce
      .select(col(idCol), col("n_windows"),
        when(col("__ps").isNull, lit(0L))
          .otherwise(size(col("__ps")).cast("long")).as("n_dup_windows"),
        when(col("__ps").isNull, lit(0L))
          .otherwise(unionLength(col("__ps"), k)).as("n_tokens_removed"))
  }

  // --- Suffix grouping: per-repeat EXACT boundaries -----------------------
  //
  // The window pass above answers "which tokens are duplicated" exactly,
  // but it cannot answer "where does each REPEAT start and end": its
  // per-window flags union into a flat token cover, so two ADJACENT
  // distinct repeats (P copied from one document, Q from another) merge
  // into one interval, and a repeat's own extent is never identified.
  // The suffix-grouping pass recovers per-occurrence maximal extents the
  // way Lee et al. 2022's suffix array does: occurrences meet in k-gram
  // ANCHOR groups, the group sorts by the suffix EXTENSION, and the
  // longest-common-prefix with the sorted neighbors IS the occurrence's
  // maximal repeat length (the classic suffix-array LCP-neighbor
  // property: the best match over a lexicographically sorted set is
  // adjacent to you).
  //
  // Scale shape: ONE exchange keyed on the anchor (same key as the
  // window pass), whose rows carry `ext` ≤ `extBudget` tokens instead of
  // an 8-byte hash — the bounded price of exact extents; the in-group
  // sort + lag/lead ride that exchange, and the per-doc maximality and
  // aggregation are one doc-keyed window + agg. Extents cap at
  // k + extBudget (a longer repeat is still FOUND and flagged — only its
  // REPORTED extent truncates; full extents would take prefix-doubling
  // rounds). Driver state: none.
  //
  // Hot-anchor fuse: at web scale a boilerplate k-gram ("all rights
  // reserved …") can put millions of occurrences into ONE anchor group,
  // and the extension sort would make that group a single straggler task
  // — the same skew the banded dedup families fuse with
  // [[Dedup.pruneHotBuckets]]. Here the fuse caps the SORT, never the
  // FLAGGING: per-anchor count/first are map-side-combined aggregates
  // immune to skew, so every occurrence of a hot anchor is still flagged
  // with the exact keeper rule — only its extension LCP is skipped and
  // its reported extent quantizes to k (`capped` = true). ON by default;
  // 0 disables.

  /** Token-level longest common prefix of two token arrays; null `b`
    * (partition edge) → 0.
    */
  private def tokLcp(a: Column, b: Column): Column =
    when(b.isNull, lit(0)).otherwise {
      val n = least(size(a), size(b))
      when(n === 0, lit(0)).otherwise {
        val firstDiff = filter(sequence(lit(1), n),
          i => element_at(a, i) =!= element_at(b, i))
        when(size(firstDiff) > 0, element_at(firstDiff, 1) - 1).otherwise(n)
      }
    }

  /** Every duplicated k-gram occurrence with its maximal repeat extent:
    * (idCol, pos, rep_len, is_keeper, capped) where `rep_len` = k + the
    * longest common extension with ANY other occurrence of the same
    * anchor (capped at k + extBudget) and the keeper is the (id, pos)-
    * first occurrence of the anchor — [[flaggedWindows]]'s rule.
    * `anchorHash` defaults to the fixed-width production key; pass `md5`
    * for an external-SQL-recomputable key (the extension LCP always
    * compares exact token content, never hashes).
    *
    * `maxAnchorOccurrences` is the hot-anchor fuse (see the section
    * comment): an anchor with more occurrences than the cap still flags
    * ALL of them under the exact keeper rule, but skips the extension
    * sort — those rows report `rep_len` = k with `capped` = true. The
    * flagging aggregate is map-side combined, so a million-occurrence
    * boilerplate anchor costs partial-aggregation, never one straggler
    * sort task. 0 disables the fuse.
    */
  def suffixOccurrences(df: DataFrame, idCol: String, textCol: String, k: Int,
      extBudget: Int = 16, anchorHash: Column => Column = xxhash64(_),
      maxAnchorOccurrences: Int = 4096): DataFrame = {
    require(k >= 1, s"ExactSubstr.suffixOccurrences: k must be positive: $k")
    require(extBudget >= 1,
      s"ExactSubstr.suffixOccurrences: extBudget must be positive: $extBudget")
    import org.apache.spark.sql.expressions.Window
    val occ = df.filter(col(idCol).isNotNull)
      .select(col(idCol), TextFunctions.bindOnce(TextFunctions.tokens(col(textCol))) {
        t =>
          when(size(t) < k,
              array().cast("array<struct<anchor:string,ext:array<string>>>"))
            .otherwise(transform(sequence(lit(0), size(t) - k), i =>
              struct(array_join(slice(t, i + 1, lit(k)), " ").as("anchor"),
                slice(t, i + 1 + k, lit(extBudget)).as("ext"))))
      }.as("__occ"))
      .select(col(idCol), posexplode(col("__occ")).as(Seq("pos", "__o")))
      .select(col(idCol), col("pos"),
        anchorHash(col("__o.anchor")).as("__a"), col("__o.ext").as("__ext"))
    // the original boundary-exact shape: ONE anchor-keyed exchange
    // (pinned in PlanShapeSpec), the in-group extension sort + lag/lead
    // LCP + count/first all riding it
    def lcpShape(rows: DataFrame): DataFrame = {
      val ordered = Window.partitionBy("__a")
        .orderBy(col("__ext"), col(idCol), col("pos"))
      val grp = Window.partitionBy("__a")
      rows.repartition(col("__a"))
        .withColumn("__lcp", greatest(
          tokLcp(col("__ext"), lag("__ext", 1).over(ordered)),
          tokLcp(col("__ext"), lead("__ext", 1).over(ordered))))
        .withColumn("__cnt", count(lit(1)).over(grp))
        .withColumn("__first", min(struct(col(idCol), col("pos"))).over(grp))
        .filter(col("__cnt") >= 2)
        .select(col(idCol), col("pos"),
          (lit(k) + col("__lcp")).as("rep_len"),
          (struct(col(idCol), col("pos")) === col("__first")).as("is_keeper"),
          lit(false).as("capped"))
    }
    if (maxAnchorOccurrences <= 0) lcpShape(occ)
    else {
      // the pruneHotBuckets cost statement, verbatim: one extra count
      // aggregate on the anchor key (MAP-SIDE COMBINED off the raw
      // occurrence stream — never the repartitioned one, which would
      // barrier the partials above the exchange and put the hot group's
      // rows through one task unreduced) and broadcast joins against the
      // hot set. The hot set is ≤ total windows / cap rows — tiny for
      // any real cap — and carries the keeper, so hot occurrences flag
      // MAP-ONLY: no exchange, no sort, no straggler.
      //
      // The occurrence frame has THREE consumers (hot-count aggregate,
      // cold probe, hot-rows join) and Catalyst has no DAG sharing, so
      // unpersisted each would re-run the tokenize + posexplode + hash
      // scan — at 100 TB that is two extra tokenize passes over the
      // corpus. A spill-backed cache (the ExactSubstrStream snapshot
      // idiom) materializes it ONCE; cached blocks spill to local disk,
      // never pinning O(corpus) executor memory.
      //
      // Lifetime: the returned frame is LAZY over this cache, so the
      // function cannot unpersist before returning (the three consumers
      // would each re-run the tokenize + posexplode scan). Instead the
      // cache sits in the JVM-wide ONE-SLOT holder: the NEXT
      // suffix call reclaims it (unpersist mid-use is safe in Spark —
      // lineage recomputes), so a long-lived process or a repeated
      // pipeline holds at most ONE occurrence frame of disk-backed
      // blocks instead of leaking one per call; [[releaseCache]] frees
      // that last one explicitly.
      val occC = occCache.hold(occ)
      val hot = occC.groupBy("__a").agg(
          count(lit(1)).as("__cnt"),
          min(struct(col(idCol), col("pos"))).as("__first"))
        .filter(col("__cnt") > maxAnchorOccurrences)
      // functions.broadcast PINS the documented map-only shape on both
      // hot joins: the hot set is bounded only by totalWindows/cap, so
      // past autoBroadcastJoinThreshold the planner would silently fall
      // back to a shuffle join keyed on __a — sending a hot anchor's
      // millions of occurrences through one task, the exact straggler
      // this fuse exists to avoid.
      // removing WHOLE anchors keeps cold group membership identical, so
      // the window's count/first equal the global ones
      val cold = occC.join(broadcast(hot.select("__a")), Seq("__a"), "left_anti")
      val hotRows = occC.join(broadcast(hot), Seq("__a"))
        .select(col(idCol), col("pos"), lit(k).as("rep_len"),
          (struct(col(idCol), col("pos")) === col("__first")).as("is_keeper"),
          lit(true).as("capped"))
      lcpShape(cold).unionByName(hotRows)
    }
  }

  /** The NON-KEEPER maximal repeats of each document — one row per repeat
    * with its exact boundaries: (idCol, pos, rep_len), where an occurrence
    * is maximal iff its right end exceeds every earlier flagged
    * occurrence's right end in the same document (inner positions of a
    * long repeat shrink by one per step, so the running-max test keeps
    * exactly the repeat starts — for repeats of length ≤ k + extBudget).
    *
    * Quantization for LONGER repeats: `rep_len` caps at k + extBudget
    * ([[suffixOccurrences]]), so along a repeat of length
    * L > k + extBudget the capped extent stops shrinking — the running-
    * max test then keeps one row roughly every L − (k + extBudget)
    * positions instead of exactly one, OVER-COUNTING that repeat (and
    * [[suffixDedupStats]]'s `n_max_repeats` with it). Boundaries and
    * removal stats stay exact; raise `extBudget` past the longest repeat
    * you need counted exactly. The same applies to occurrences of a
    * hot-capped anchor (`capped` = true, extent quantized to k).
    */
  def maximalRepeats(df: DataFrame, idCol: String, textCol: String, k: Int,
      extBudget: Int = 16, anchorHash: Column => Column = xxhash64(_),
      maxAnchorOccurrences: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prevEnd = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    suffixOccurrences(df, idCol, textCol, k, extBudget, anchorHash,
        maxAnchorOccurrences)
      .filter(!col("is_keeper"))
      .withColumn("__prevEnd", max(col("pos") + col("rep_len")).over(prevEnd))
      .filter(col("__prevEnd").isNull ||
        col("pos") + col("rep_len") > col("__prevEnd"))
      .select(col(idCol), col("pos"), col("rep_len"))
  }

  /** Per-document integer statistics of the suffix-grouping pass, the
    * boundary-exact sibling of [[dedupStats]]: every input document with
    *  - `n_dup_occurrences`: flagged (non-keeper) duplicated k-gram
    *    positions,
    *  - `n_max_repeats`: distinct maximal repeats ([[maximalRepeats]]),
    *  - `max_rep_len`: the longest repeat extent,
    *  - `n_union_intervals`: merged intervals of the window-style token
    *    cover — reported NEXT TO n_max_repeats precisely because the two
    *    disagree when distinct repeats touch (the boundary quantization
    *    the window pass can't see),
    *  - `n_tokens_removed`: the interval-union token count (identical to
    *    [[dedupStats]]'s — removal semantics don't change, boundaries do),
    *  - `n_capped_occurrences`: flagged occurrences whose anchor tripped
    *    the hot-anchor fuse (extent quantized to k) — the cap made LOUD
    *    per document, the [[Dedup.pruneHotBuckets]] reporting stance.
    *
    * `n_max_repeats` over-counts repeats longer than k + extBudget — see
    * [[maximalRepeats]] for the quantization contract.
    */
  def suffixDedupStats(df: DataFrame, idCol: String, textCol: String, k: Int,
      extBudget: Int = 16, anchorHash: Column => Column = xxhash64(_),
      maxAnchorOccurrences: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prevEnd = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val flagged = suffixOccurrences(df, idCol, textCol, k, extBudget,
        anchorHash, maxAnchorOccurrences)
      .filter(!col("is_keeper"))
      .withColumn("__end", col("pos") + col("rep_len"))
      .withColumn("__prevEnd", max(col("__end")).over(prevEnd))
    val perDoc = flagged.groupBy(idCol).agg(
      count(lit(1)).as("__n_dup"),
      sum(when(col("__prevEnd").isNull || col("__end") > col("__prevEnd"), 1L)
        .otherwise(0L)).as("__n_max"),
      max(col("rep_len")).cast("long").as("__max_len"),
      sum(when(col("capped"), 1L).otherwise(0L)).as("__n_capped"),
      sort_array(collect_list(col("pos"))).as("__ps"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n_dup"), lit(0L)).as("n_dup_occurrences"),
        coalesce(col("__n_max"), lit(0L)).as("n_max_repeats"),
        coalesce(col("__max_len"), lit(0L)).as("max_rep_len"),
        coalesce(col("__n_capped"), lit(0L)).as("n_capped_occurrences"),
        when(col("__ps").isNull, lit(0L))
          .otherwise(lit(1L) + size(filter(
            when(size(col("__ps")) <= 1, array().cast("array<int>"))
              .otherwise(transform(sequence(lit(1), size(col("__ps")) - 1),
                i => element_at(col("__ps"), i + 1) - element_at(col("__ps"), i))),
            g => g > k)).cast("long")).as("n_union_intervals"),
        when(col("__ps").isNull, lit(0L))
          .otherwise(unionLength(col("__ps"), k)).as("n_tokens_removed"))
  }

  /** The cleaned corpus: every flagged window's tokens removed, first
    * occurrences kept verbatim. Returns (idCol, text) with `text`
    * re-joined from the surviving tokens; untouched documents pass through
    * token-normalized (single-space joined), matching [[Dedup.dedupSpans]]'s
    * contract. The kept/dropped decision is a map-side HOF over the token
    * array and the doc's own flagged positions — no further shuffle beyond
    * [[dedupStats]]'s two.
    */
  def removeDuplicateWindows(df: DataFrame, idCol: String, textCol: String,
      k: Int, hash: Column => Column = xxhash64(_)): DataFrame = {
    val perDoc = flaggedWindows(df, idCol, textCol, k, hash)
      .groupBy(idCol).agg(sort_array(collect_list(col("pos"))).as("__ps"))
    df.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        cutWindows(col(textCol), col("__ps"), k).as("text"))
  }
}
