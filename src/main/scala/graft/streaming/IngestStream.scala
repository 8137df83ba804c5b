package graft.streaming

import org.apache.spark.sql.DataFrame

/** The streaming ingest funnel — near-dup dedup THEN index maintenance in
  * one micro-batch: every batch is deduped against the accumulated
  * at-rest signature store ([[IncrementalDedupStream]]), and only the
  * SURVIVORS enter the BM25 index ([[LexicalIndexStream]]'s layout). The
  * three stores (signatures, kept corpus, index) share the idempotent
  * `batch=<runTag>-<batchId>` partition contract, so a replayed batch
  * overwrites all three consistently — the index can never hold a
  * document the dedup later rejected, because both decisions happen in
  * the same batch function.
  *
  * The survivors are read back from the batch's own just-committed corpus
  * partition (a point read of one small partition, not a store scan), so
  * the dedup stage stays byte-identical to [[IncrementalDedupStream]] and
  * the index stage tokenizes each surviving document exactly once. Search
  * the index with [[LexicalIndexStream.loadIndex]]; run it as a stream
  * with [[StoreLayout.start]].
  */
object IngestStream {

  def batchFunction(idCol: String, textCol: String, storeDir: String,
      corpusDir: String, indexDir: String, threshold: Double = 0.7,
      numPerm: Int = 64, bands: Int = 16, shingleK: Int = 3, seed: Long = 42L,
      maxBucketSize: Int = 0, runTag: String = "run"): (DataFrame, Long) => Unit = {
    val dedup = IncrementalDedupStream.batchFunction(idCol, textCol, storeDir,
      corpusDir, threshold, numPerm, bands, shingleK, seed, maxBucketSize, runTag)
    val index = LexicalIndexStream.batchFunction(idCol, textCol, indexDir, runTag)
    (batchDf, batchId) => {
      dedup(batchDf, batchId)
      val kept = batchDf.sparkSession.read
        .parquet(s"$corpusDir/${StoreLayout.partition(runTag, batchId)}")
      index(kept, batchId)
    }
  }
}
