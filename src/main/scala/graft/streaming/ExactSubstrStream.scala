package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Cached
import graft.functions.TextFunctions
import graft.llm.ExactSubstr

/** Streaming exact-substring dedup (Lee et al.) — [[ExactSubstr]] lifted
  * to the incremental-store lifecycle: every micro-batch's duplicated
  * k-token windows are cut against the accumulated at-rest WINDOW-HASH
  * store AND within the batch itself (first occurrence keeps), and the
  * survivors' cleaned text lands in `corpusDir` with the cleaned text's
  * window hashes appended to `storeDir` — so later batches (and later
  * runs) never re-admit a k-run the corpus already contains.
  *
  * The store holds the CLEANED text's window set, not the raw batch's:
  * removal creates new token adjacencies, and future batches must dedupe
  * against what is actually in the corpus. A window already at rest kills
  * EVERY batch occurrence (the store is canonical — its copy is the
  * keeper); within the batch the (id, pos)-first occurrence keeps,
  * [[ExactSubstr.flaggedWindows]]'s rule.
  *
  * Store discipline is [[IncrementalDedupStream]]'s verbatim: idempotent
  * `batch=<runTag>-<batchId>` partitions (a replayed batch overwrites its
  * own output and never dedupes against its own previous attempt),
  * committed-parts reads, the maintenance lease, crash-safe compaction
  * ([[StoreLayout.compact]]).
  *
  * 100 TB posture: the ONE corpus-keyed shuffle is on the fixed-width
  * window hash (the banded frame feeds the first-occurrence agg, the
  * store anti-membership and the flag join off one exchange); the store
  * holds 8 B per DISTINCT kept window — O(corpus tokens), the honest
  * price of exact-substring memory (the paper's suffix array is larger).
  * RTBF note: store rows are CONTENT-keyed (a hash can be shared by many
  * documents), so forgetting a document = delete its corpus rows, then
  * [[rebuildStore]] a fresh generation from the surviving corpus.
  */
object ExactSubstrStream {

  /** The idempotent per-batch function — a plain
    * `(DataFrame, Long) => Long` returning the landed-row count,
    * directly callable from batch jobs.
    * ALL record fields pass through (only `textCol` is rewritten), the
    * [[PerceptualDedupStream]] contract. Rows with a NULL id cannot
    * participate in dedup (no identity to key the keeper rule or RTBF
    * on): they pass to the corpus token-normalized but UNCLEANED and
    * contribute NOTHING to the store — the mirror of the perceptual
    * tier's missing-fingerprint-keeps-the-row rule.
    */
  def batchFunction(idCol: String, textCol: String, storeDir: String,
      corpusDir: String, k: Int = 8,
      hash: Column => Column = xxhash64(_), runTag: String = "run")
      : (DataFrame, Long) => Long = (batchDf, batchId) => {
    require(!batchDf.columns.contains("__ps"),
      "ExactSubstrStream reserves helper column '__ps'")
    val self = StoreLayout.partition(runTag, batchId)
    val spark = batchDf.sparkSession
    // store rows are distinct by construction (each partition is written
    // anti-joined against everything at rest before it) — no re-distinct.
    // The store has TWO consumers per turn (flag join + append anti-join);
    // the committed snapshot is cached for the turn (the single 8-byte
    // __h column) so the parquet store is scanned once per turn instead
    // of twice.
    val snapshot = StoreLayout.load(spark, storeDir, Some(self))
      .getOrElse(ExactSubstr.windows(batchDf.limit(0), idCol, textCol, k, hash))
      .select("__h")
    Cached.scoped(snapshot) { atRest =>
      val perDoc = ExactSubstr
        .flaggedWindowsVs(batchDf, idCol, textCol, k, hash, Some(atRest))
        .groupBy(idCol)
        .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      val cleanedDf = batchDf.join(perDoc, Seq(idCol), "left")
        .withColumn(textCol, ExactSubstr.cutWindows(col(textCol), col("__ps"), k))
        .drop("__ps")
      Cached.scoped(cleanedDf) { cleaned =>
        // materialize the cache in ONE job before the two write queries
        // plan against it (the AQE broadcast race, see Cached) — this is
        // also the landed-row count the function returns: every input row
        // lands, cleaned or not, so callers never re-read the partition
        val landed = cleaned.count()
        StoreLayout.writing(spark, storeDir, runTag) {
          // the CLEANED text's distinct window hashes, minus those at rest
          // (append-only store volume: each distinct window stored once);
          // null-id rows excluded — an un-addressable row must never become
          // the canonical keeper
          ExactSubstr.windows(cleaned.filter(col(idCol).isNotNull),
              idCol, textCol, k, hash)
            .select("__h").distinct()
            .join(atRest, Seq("__h"), "left_anti")
            .write.mode("overwrite").parquet(s"$storeDir/$self")
        }
        StoreLayout.writing(spark, corpusDir, runTag) {
          cleaned.write.mode("overwrite").parquet(s"$corpusDir/$self")
        }
        landed
      }
    }
  }

  /** Rebuild the window-hash store from the kept corpus into
    * `newStoreDir` (one `batch=rebuild-0` partition) — the
    * right-to-be-forgotten path: store rows are content-keyed, so after
    * deleting a document's corpus rows ([[StoreLayout.deleteIds]]) the
    * store must be REBUILT from what survives, not point-deleted (a hash
    * the forgotten document shared with a kept one must stay).
    */
  def rebuildStore(spark: org.apache.spark.sql.SparkSession, corpusDir: String,
      newStoreDir: String, idCol: String, textCol: String, k: Int = 8,
      hash: Column => Column = xxhash64(_)): Unit = {
    val corpus = StoreLayout.load(spark, corpusDir)
    require(corpus.nonEmpty, s"ExactSubstrStream.rebuildStore: no committed " +
      s"corpus partitions under $corpusDir")
    val writeWindows = StoreLayout.append(newStoreDir, "rebuild") { df =>
      ExactSubstr.windows(df.select(col(idCol), col(textCol)), idCol, textCol, k, hash)
        .select("__h").distinct()
    }
    writeWindows(corpus.get, 0L)
  }
}
