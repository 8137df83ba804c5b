package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.core.Cached
import graft.llm.Dedup

/** Streaming near-dup dedup — [[Dedup.incrementalDedupVerified]] lifted to
  * Structured Streaming with `foreachBatch`: every micro-batch is deduped
  * against the accumulated at-rest MinHash signature store AND within
  * itself, then the survivors' signatures and text are appended to the
  * store, so later batches (and later RUNS — the store outlives the query,
  * unlike state-store state) dedupe against everything ever kept.
  *
  * Why foreachBatch and not `flatMapGroupsWithState`: near-dup candidates
  * come from a 16-band LSH — one document lives in 16 band groups, and a
  * keyed-state operator cannot coordinate a keep/kill decision across
  * groups, while a per-batch JOIN against the store can. The store being
  * plain parquet is the point, not a compromise: batch jobs share it
  * (a nightly backfill and the streaming ingest dedupe against the same
  * corpus), and it is the exact artifact [[Dedup.incrementalDedupVerified]]
  * consumes.
  *
  * Exactly-once: each batch writes ONLY under its own
  * `batch=<runTag>-<batchId>/` partition with overwrite — a replayed batch
  * after failure recovery overwrites its own output instead of appending
  * duplicates (the standard idempotent-foreachBatch contract), and the
  * batch's own partition is excluded from the store it dedupes against.
  * Ids must be globally unique across batches and runs (any multi-crawl
  * pipeline's invariant already).
  *
  * 100 TB posture: per-batch appends keep the store's file count
  * proportional to batch count — compact it periodically with a plain
  * batch job (read store, coalesce, rewrite); the read side only ever
  * touches signatures (~8·numPerm B/doc) plus collision-id point reads of
  * the kept text, exactly the incremental batch contract.
  */
object IncrementalDedupStream {

  /** The idempotent `foreachBatch` function (directly callable in batch
    * jobs and tests — it is a plain `(DataFrame, Long) => Unit`).
    *
    * `runTag` names THIS query's partitions: `batch=<runTag>-<batchId>`.
    * It must be stable across restarts of the same query (so a replayed
    * batch overwrites its own partition) and unique across distinct
    * queries sharing the store (so a fresh checkpoint, whose batchIds
    * restart at 0, cannot clobber an earlier run's partitions) —
    * [[start]] derives it from the checkpoint dir, which has exactly that
    * lifecycle. The batch's OWN partition is excluded from the store read
    * (partition-pruned, never scanned): a replayed batch must not dedupe
    * against its own previous attempt's output, which would kill every
    * document as a "duplicate" of itself.
    */
  def batchFunction(idCol: String, textCol: String, storeDir: String,
      corpusDir: String, threshold: Double = 0.7, numPerm: Int = 64,
      bands: Int = 16, shingleK: Int = 3, seed: Long = 42L,
      maxBucketSize: Int = 0, runTag: String = "run"): (DataFrame, Long) => Unit =
    (batchDf, batchId) => {
    val self = s"batch=$runTag-$batchId"
    val spark = batchDf.sparkSession
    // COMMITTED partitions only, by explicit path (StoreLayout): a crashed
    // attempt (this run's own `self`, or a dead OTHER run's tail batch)
    // leaves a partial dir whose footerless part files would fail every
    // later read — the _SUCCESS marker (written at parquet job commit) is
    // the commit point, and `self` is excluded even when committed (a
    // replay must not dedupe against its own previous attempt's output)
    def committed(dir: String): Seq[String] =
      StoreLayout.committed(spark, dir, Some(self))
    val batch = batchDf.select(col(idCol), col(textCol))
    val sigParts = committed(storeDir)
    val sigs =
      if (sigParts.nonEmpty) spark.read.parquet(sigParts: _*).select("__id", "__sig")
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        batchDf.schema(idCol).copy(name = "__id"),
        StructField("__sig", ArrayType(LongType, containsNull = false)))))
    val oldParts = committed(corpusDir)
    val old =
      if (oldParts.nonEmpty) spark.read.parquet(oldParts: _*).select(idCol, textCol)
      else batch.limit(0)
    Cached.scoped(Dedup.incrementalDedupVerified(batch, idCol, textCol,
        atRestSigs = sigs, atRestDocs = old, threshold = threshold,
        numPerm = numPerm, bands = bands, shingleK = shingleK, seed = seed,
        maxBucketSize = maxBucketSize)) { kept =>
      // lease protocol: each write fails loudly while maintenance holds
      // its store, and is invisible to maintenance the moment it finishes
      StoreLayout.writing(spark, storeDir, runTag) {
        Dedup.minhashSignatures(kept, idCol, textCol, numPerm, shingleK, seed)
          .write.mode("overwrite").parquet(s"$storeDir/$self")
      }
      StoreLayout.writing(spark, corpusDir, runTag) {
        kept.write.mode("overwrite").parquet(s"$corpusDir/$self")
      }
    }
  }

  /** Offline compaction of a store/corpus directory — delegates to the
    * shared two-phase [[StoreLayout.compact]] (absorbed-manifest commit,
    * crash-safe at every step without relying on readers tolerating
    * duplicate rows), guarded by its maintenance lease against a write
    * in flight.
    */
  def compactStore(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int = 1): Unit =
    StoreLayout.compact(spark, dir, targetFiles)

  /** Right-to-be-forgotten: remove `ids` (one-column frame of doc ids)
    * from BOTH halves of the store — their kept-corpus rows (keyed
    * `idCol`) and their MinHash signatures (keyed `__id`) — via the
    * partition-granular crash-safe [[StoreLayout.delete]]. After this, a
    * future batch containing a near-duplicate of a deleted doc is ADMITTED
    * (nothing remains to collide with), which is exactly the contract:
    * the store must behave as if the doc had never been ingested.
    *
    * Deletion order is privacy-first: the corpus TEXT (the legal
    * deliverable) goes before the signatures, so a crash between the two
    * halves leaves at worst a ghost signature — which still BLOCKS
    * near-dups of the forgotten doc until the re-run finishes the job —
    * never the reverse window where the text lingers while near-dups are
    * already being admitted. Run while no stream is writing. Returns
    * (signature rows, corpus rows) removed.
    */
  def deleteDocs(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      corpusDir: String, idCol: String, ids: DataFrame): (Long, Long) = {
    val corpusRemoved = StoreLayout.deleteIds(spark, corpusDir, idCol, ids)
    val sigRemoved = StoreLayout.deleteIds(spark, storeDir, "__id", ids)
    (sigRemoved, corpusRemoved)
  }

  /** Start the streaming query: `docs` (a streaming frame with `idCol`,
    * `textCol`) → per-batch incremental dedup → kept docs under
    * `corpusDir/batch=*`, their signatures under `storeDir/batch=*`.
    */
  def start(docs: DataFrame, idCol: String, textCol: String, storeDir: String,
      corpusDir: String, checkpointDir: String, threshold: Double = 0.7,
      numPerm: Int = 64, bands: Int = 16, shingleK: Int = 3, seed: Long = 42L,
      maxBucketSize: Int = 0): StreamingQuery = {
    // stable across restarts of this query (same checkpoint ⇒ same tag ⇒
    // replays overwrite their own partitions), distinct across queries —
    // the qualification subtleties live in StoreLayout.runTagFor
    val runTag = StoreLayout.runTagFor(docs.sparkSession, checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(batchFunction(idCol, textCol, storeDir, corpusDir,
        threshold, numPerm, bands, shingleK, seed, maxBucketSize, runTag))
      .start()
  }
}
