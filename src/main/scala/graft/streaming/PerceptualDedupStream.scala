package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.Cached
import graft.llm.Dedup

/** Streaming perceptual near-dup dedup — [[Dedup.incrementalHammingDedup]]
  * lifted to Structured Streaming ([[StoreLayout.start]]): every micro-batch
  * of media records is fingerprinted (image pHash/dHash/aHash, audio
  * fingerprint — any 64-bit Hamming signature the caller's `sigOf`
  * produces), deduped against the accumulated at-rest signature store AND
  * within itself, and the survivors land in `corpusDir` with their
  * signatures appended to `storeDir` — the [[IncrementalDedupStream]]
  * contract for the multimodal tier.
  *
  * The perceptual store is LIGHTER than the text one: a signature is the
  * whole decision statistic (Hamming distance needs no payload re-read),
  * so the store holds 8 bytes per object and no collision-id point reads
  * of payloads ever happen — at 10⁹ images the store is ~8 GB of parquet.
  *
  * Exactly-once and store discipline are [[StoreLayout]]'s: idempotent
  * `batch=<runTag>-<batchId>` partitions (a replayed batch overwrites its
  * own output and never dedupes against its own previous attempt),
  * committed-only reads, the maintenance lease, crash-safe compaction,
  * and the two-half right-to-be-forgotten pass
  * ([[StoreLayout.deleteDocs]]).
  */
object PerceptualDedupStream {

  /** The idempotent per-batch function. `sigOf` maps a batch to its
    * `(__id, __hsig)` signature frame — perceptual hashes come out of the
    * typed decode path ([[graft.llm.Multimodal.pHash]] etc.), not a
    * Column, so the producer is a frame transformation. Batch rows
    * MISSING from `sigOf`'s output (undecodable payloads — the decode
    * path drops them) are KEPT and contribute nothing to the store: an
    * object with no fingerprint cannot be a duplicate of anything.
    */
  def batchFunction(idCol: String, sigOf: DataFrame => DataFrame,
      storeDir: String, corpusDir: String, nBits: Int = 64, maxHamming: Int = 3,
      maxBucketSize: Int = 0, pieces: Int = 1, runTag: String = "run")
      : (DataFrame, Long) => Long =
    lifecycle(idCol, storeDir, corpusDir, runTag,
      sigCol = "__hsig",
      sigField = StructField("__hsig", LongType, nullable = false),
      normalize = df => df.select(col("__id"),
        col("__hsig").cast("long").as("__hsig")),
      sigOf = sigOf,
      dedup = (batchDf, sigs, atRest) => Dedup.incrementalHammingDedup(
        batchDf, idCol, sigs, atRest, nBits, maxHamming, maxBucketSize, pieces))

  /** ONE copy of the store lifecycle (committed-parts read, empty-store
    * synthesis, signatures-computed-once persist discipline, the two
    * crash-safe `StoreLayout.writing` blocks) shared by the single- and
    * multi-signature batch functions — a fix to the crash-window or
    * idempotency logic lands in both tiers by construction.
    */
  private def lifecycle(idCol: String, storeDir: String, corpusDir: String,
      runTag: String, sigCol: String, sigField: StructField,
      normalize: DataFrame => DataFrame, sigOf: DataFrame => DataFrame,
      dedup: (DataFrame, DataFrame, DataFrame) => DataFrame)
      : (DataFrame, Long) => Long = (batchDf, batchId) => {
    val self = StoreLayout.partition(runTag, batchId)
    val spark = batchDf.sparkSession
    val atRest = StoreLayout.load(spark, storeDir, Some(self))
      .map(_.select("__id", sigCol))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        batchDf.schema(idCol).copy(name = "__id"), sigField))))
    // signatures computed ONCE per batch: the dedup reuses this frame for
    // both joins, and the store append below writes the kept subset of it.
    // The count() materializes the cache in one job before any consumer
    // plans against it (the AQE broadcast race, see Cached) — otherwise
    // the expensive decode lineage (media demux + perceptual hash) ran up
    // to once per sub-job.
    Cached.scoped(normalize(sigOf(batchDf))) { sigs =>
      sigs.count()
      Cached.scoped(dedup(batchDf, sigs, atRest)) { kept =>
        StoreLayout.writing(spark, storeDir, runTag) {
          sigs.join(kept.select(col(idCol).as("__kid")),
              col("__id") === col("__kid"), "left_semi")
            .write.mode("overwrite").parquet(s"$storeDir/$self")
        }
        // survivor count rides the corpus write as an Observation below
        // the sink — one job fewer per batch turn than the old
        // count-after-write (the StoreLayout.deleteCore pattern). The
        // count still comes from the engine, not a re-read of the landed
        // partition (an empty batch writes zero part files), and the
        // staged-commit crash contract is untouched: the observation
        // changes nothing about what, or when, the write commits.
        val obs = new org.apache.spark.sql.Observation()
        StoreLayout.writing(spark, corpusDir, runTag) {
          kept.observe(obs, count(lit(1)).as("rows"))
            .write.mode("overwrite").parquet(s"$corpusDir/$self")
        }
        obs.get("rows").asInstanceOf[Long]
      }
    }
  }

  /** The MULTI-signature sibling of [[batchFunction]] — for media whose
    * decision statistic is a VECTOR of 64-bit signatures (one per video
    * keyframe position, …): `sigsOf` maps a batch to its `(__id,
    * __hsigs array<long>)` frame and a batch object dies only when EVERY
    * position is within `maxHamming` of the same store/batch object
    * ([[Dedup.incrementalHammingDedupMulti]]). Store discipline, crash
    * windows, RTBF, and the missing-fingerprint-keeps-the-row contract
    * are [[batchFunction]]'s verbatim; the store holds 8·K bytes per
    * object.
    */
  def batchFunctionMulti(idCol: String, sigsOf: DataFrame => DataFrame,
      storeDir: String, corpusDir: String, nBits: Int = 64, maxHamming: Int = 3,
      maxBucketSize: Int = 0, pieces: Int = 1, runTag: String = "run")
      : (DataFrame, Long) => Long =
    lifecycle(idCol, storeDir, corpusDir, runTag,
      sigCol = "__hsigs",
      sigField = StructField("__hsigs",
        org.apache.spark.sql.types.ArrayType(LongType, containsNull = false),
        nullable = false),
      normalize = df => df.select(col("__id"),
        col("__hsigs").cast("array<long>").as("__hsigs")),
      sigOf = sigsOf,
      dedup = (batchDf, sigs, atRest) => Dedup.incrementalHammingDedupMulti(
        batchDf, idCol, sigs, atRest, nBits, maxHamming, maxBucketSize, pieces))
}
