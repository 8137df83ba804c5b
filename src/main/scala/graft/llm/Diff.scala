package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot diffing of two corpus versions — consecutive crawls, monthly
  * dumps — by unique key (canonical URL, doc id) and content: which rows
  * were `added`, `removed`, `changed`, `unchanged`. The audit step that
  * decides what an incremental pipeline reprocesses (pairs with
  * [[Dedup.incrementalDedupVerified]] and [[Lexical.appendToIndex]]: only
  * `added`/`changed` rows need signatures or postings).
  *
  * One full-outer shuffle join on the key — the minimum for a diff; with
  * both snapshots written bucketed by the key, the exchange disappears
  * entirely (the co-located fact-fact join PlanShapeSpec pins for
  * bucketed tables). Pass a content HASH column instead of raw text when
  * diffing 100 TB snapshots: the join then carries 8-byte fingerprints,
  * not documents.
  */
object Diff {

  /** (keyCol, status) for every key present in either snapshot. Content
    * equality is null-safe (`<=>`); a key present with null content on
    * both sides is `unchanged`.
    *
    * Duplicate keys (a re-crawled URL appearing twice in one snapshot)
    * would fan out the full-outer join and silently inflate `changed`
    * counts, so each side is pre-aggregated to one row per key. With
    * `strict = true` (default) a duplicated key raises at execution time;
    * with `strict = false` the lexicographically greatest content wins —
    * deterministic, order-independent. The pre-aggregation is free at
    * scale: it shuffles on the same key the join needs, so Catalyst
    * reuses the exchange (one shuffle total, same as before), and the
    * map-side partial collapses dup-heavy partitions early. `contentCol`
    * must be an orderable type (string/binary/numeric/array — i.e.
    * anything you'd diff on; pass a hash column for 100 TB snapshots).
    */
  def corpusDiff(old: DataFrame, cur: DataFrame, keyCol: String,
      contentCol: String, strict: Boolean = true): DataFrame = {
    // friendly failure for the one type class the dup-key pre-aggregation
    // cannot carry (maps are not orderable, so max() rejects them) —
    // surface the fix instead of a raw analyzer error
    val ct = old.schema(contentCol).dataType
    require(org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(ct),
      s"corpusDiff: content column '$contentCol' has unorderable type ${ct.simpleString}; " +
        "diff on a hash of it instead (e.g. xxhash64(to_json(col)))")
    def side(df: DataFrame, contentAs: String, countAs: String): DataFrame =
      df.select(col(keyCol).as("__k"), col(contentCol).as("__c"))
        .groupBy("__k")
        .agg(max(col("__c")).as(contentAs), count(lit(1)).as(countAs))
    val o = side(old, "__oc", "__on")
    val c = side(cur, "__cc", "__cn")
    val status = when(col("__on").isNull, "added")
      .when(col("__cn").isNull, "removed")
      .when(col("__oc") <=> col("__cc"), "unchanged")
      .otherwise("changed")
    val guarded =
      if (!strict) status
      else when(
        coalesce(col("__on"), lit(1L)) > 1 || coalesce(col("__cn"), lit(1L)) > 1,
        raise_error(concat(
          lit("corpusDiff: duplicate key in a snapshot (strict=false for max-content-wins): "),
          col("__k").cast("string"))))
        .otherwise(status)
    o.join(c, Seq("__k"), "full_outer")
      .select(col("__k").as(keyCol), guarded.as("status"))
  }
}
