package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.core.Cached
import graft.llm.Dedup

/** Streaming near-dup dedup — [[Dedup.incrementalDedupVerified]] lifted to
  * Structured Streaming ([[StoreLayout.start]]): every micro-batch is deduped
  * against the accumulated at-rest MinHash signature store AND within
  * itself, then the survivors' signatures and text are appended to the
  * store, so later batches (and later RUNS — the store outlives the query,
  * unlike state-store state) dedupe against everything ever kept.
  *
  * Why a per-batch function and not `flatMapGroupsWithState`: near-dup candidates
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
  * duplicates (the standard idempotent micro-batch sink contract), and the
  * batch's own partition is excluded from the store it dedupes against.
  * Ids must be globally unique across batches and runs (any multi-crawl
  * pipeline's invariant already).
  *
  * 100 TB posture: per-batch appends keep the store's file count
  * proportional to batch count — compact it periodically with a plain
  * batch job (read store, coalesce, rewrite); the read side shuffles only
  * signatures (~8·numPerm B/doc) plus the kept text of collided ids,
  * filtered at the scan, exactly the incremental batch contract. Each
  * turn signs its batch once: the store rows it appends are the
  * signatures its own candidate search computed. Compaction and
  * the two-half right-to-be-forgotten pass ([[StoreLayout.deleteDocs]])
  * are [[StoreLayout]]'s.
  */
object IncrementalDedupStream {

  /** The idempotent per-batch function (directly callable in batch
    * jobs and tests — it is a plain `(DataFrame, Long) => Unit`).
    *
    * `runTag` names THIS query's partitions ([[StoreLayout.partition]]:
    * stable across restarts of the same query, unique across queries
    * sharing the store — [[StoreLayout.start]] derives it from the
    * checkpoint dir). The batch's OWN partition is excluded from the
    * store read (partition-pruned, never scanned): a replayed batch must
    * not dedupe against its own previous attempt's output, which would
    * kill every document as a "duplicate" of itself.
    */
  def batchFunction(idCol: String, textCol: String, storeDir: String,
      corpusDir: String, threshold: Double = 0.7, numPerm: Int = 64,
      bands: Int = 16, shingleK: Int = 3, seed: Long = 42L,
      maxBucketSize: Int = 0, runTag: String = "run"): (DataFrame, Long) => Unit =
    (batchDf, batchId) => {
    val self = StoreLayout.partition(runTag, batchId)
    val spark = batchDf.sparkSession
    // COMMITTED partitions only, by explicit path (StoreLayout): a crashed
    // attempt (this run's own `self`, or a dead OTHER run's tail batch)
    // leaves a partial dir whose footerless part files would fail every
    // later read — the _SUCCESS marker (written at parquet job commit) is
    // the commit point, and `self` is excluded even when committed (a
    // replay must not dedupe against its own previous attempt's output)
    val batch = batchDf.select(col(idCol), col(textCol))
    val sigs = StoreLayout.load(spark, storeDir, Some(self))
      .map(_.select("__id", "__sig"))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        batchDf.schema(idCol).copy(name = "__id"),
        StructField("__sig", ArrayType(LongType, containsNull = false))))))
    val old = StoreLayout.load(spark, corpusDir, Some(self))
      .map(_.select(idCol, textCol)).getOrElse(batch.limit(0))
    val (kept, keptSigs) = Dedup.incrementalKeptAndSigs(batch, idCol, textCol,
      atRestSigs = sigs, atRestDocs = old, threshold = threshold,
      numPerm = numPerm, bands = bands, shingleK = shingleK, seed = seed,
      maxBucketSize = maxBucketSize)
    // one cached frame holds both halves, so the dedup plan runs once for
    // both writes: kept rows (null `__sig`) and kept signatures (null
    // text). Both halves are hash-partitioned by the id in the first
    // column, so the union keeps that partitioning: each partition feeds
    // both writes, instead of one write reading only the other half's
    // partitions and landing an empty file for the first of them
    val turn = kept.select(col(idCol), col(textCol),
        lit(null).cast(keptSigs.schema("__sig").dataType).as("__sig"))
      .union(keptSigs.select(col("__id"), lit(null).cast(kept.schema(textCol).dataType),
        col("__sig")))
    Cached.scoped(turn) { cached =>
      // lease protocol: each write fails loudly while maintenance holds
      // its store, and is invisible to maintenance the moment it finishes
      StoreLayout.writing(spark, storeDir, runTag) {
        cached.filter(col("__sig").isNotNull).select(col(idCol).as("__id"), col("__sig"))
          .write.mode("overwrite").parquet(s"$storeDir/$self")
      }
      StoreLayout.writing(spark, corpusDir, runTag) {
        cached.filter(col("__sig").isNull).select(idCol, textCol)
          .write.mode("overwrite").parquet(s"$corpusDir/$self")
      }
    }
  }

  /** Offline compaction of a store/corpus directory — the shared
    * two-phase [[StoreLayout.compact]], kept under this name for existing
    * callers.
    */
  def compactStore(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int = 1): Unit =
    StoreLayout.compact(spark, dir, targetFiles)
}
