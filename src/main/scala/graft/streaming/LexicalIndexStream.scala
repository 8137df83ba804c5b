package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.llm.Lexical

/** Streaming maintenance of the at-rest BM25 inverted index
  * ([[Lexical.LexicalIndex]]): every micro-batch of new documents is
  * tokenized ONCE into its own postings + stats partition, and a reader
  * ([[loadIndex]]) recombines all committed partitions into one
  * searchable index — the [[IncrementalDedupStream]] contract (idempotent
  * `batch=<runTag>-<batchId>` overwrite partitions, `_SUCCESS`-committed
  * reads, store outlives the query and is shared with batch jobs) applied
  * to the sparse-retrieval index instead of the signature store.
  *
  * Stats recombine by the [[Lexical.mergeIndexes]] algebra: each
  * partition holds its batch's (n_docs, avgdl) row, and the reader takes
  * the dl-weighted average — so old batches are NEVER re-tokenized, and
  * the recombined index equals a from-scratch build up to one float
  * rounding (inside bm25's round-to-6). Document ids must be unique
  * across batches (the same invariant every multi-crawl pipeline holds).
  *
  * 100 TB posture: postings partitions accumulate per batch — compact
  * periodically with [[compactIndex]] (crash-safe two-phase rewrite of
  * both halves), and re-bucket by term hash
  * ([[Lexical.writeIndexBucketed]]) when promoting a snapshot to the
  * serving layout.
  */
object LexicalIndexStream {

  /** The idempotent per-batch function (plain `(DataFrame, Long) =>
    * Unit` — directly callable from batch jobs and tests; stream it with
    * [[StoreLayout.start]]).
    */
  def batchFunction(idCol: String, textCol: String, indexDir: String,
      runTag: String = "run"): (DataFrame, Long) => Unit = (batchDf, batchId) => {
    val self = StoreLayout.partition(runTag, batchId)
    val spark = batchDf.sparkSession
    val postings = Lexical.postings(batchDf, idCol, textCol)
    // lease protocol: each half's write fails loudly while maintenance
    // holds it, and is invisible to maintenance the moment it finishes.
    // The stats aggregate over the postings JUST WRITTEN (explicit schema:
    // an empty batch's partition holds only _SUCCESS), not over the
    // postings frame — whose lineage would re-tokenize the whole batch for
    // a 2-column aggregate. That read runs INSIDE the postings bracket —
    // once it goes idle, a maintenance pass may compact or rewrite the
    // partition first — and the same job writes the stats row under the
    // stats lease. Same statsOf over the same rows, and parquet
    // round-trips them exactly, so the stored stats are bit-identical.
    StoreLayout.writing(spark, s"$indexDir/postings", runTag) {
      postings.write.mode("overwrite").parquet(s"$indexDir/postings/$self")
      StoreLayout.writing(spark, s"$indexDir/stats", runTag) {
        Lexical.statsOf(
            spark.read.schema(postings.schema).parquet(s"$indexDir/postings/$self"))
          .write.mode("overwrite").parquet(s"$indexDir/stats/$self")
      }
    }
  }

  /** Recombine every committed partition into one searchable index. An
    * empty (or not-yet-written) store yields an empty index that searches
    * to zero rows.
    */
  def loadIndex(spark: SparkSession, indexDir: String): Lexical.LexicalIndex = {
    val postings = StoreLayout.load(spark, s"$indexDir/postings").getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("term", StringType), StructField("doc_id", LongType),
        StructField("dl", LongType), StructField("tf", LongType)))))
    val stats = StoreLayout.load(spark, s"$indexDir/stats")
      .map(_.agg(sum("n_docs").as("n_docs"),
        (sum(col("avgdl") * col("n_docs")) / sum(col("n_docs"))).as("avgdl")))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("n_docs", LongType), StructField("avgdl", DoubleType)))))
    Lexical.LexicalIndex(postings, stats)
  }

  /** Right-to-be-forgotten: remove `ids`' postings from the index, then
    * refresh the stats half from the SURVIVING postings
    * ([[Lexical.statsOf]] — the same aggregation [[Lexical.buildIndex]]
    * uses, so post-delete scores equal a from-scratch build of the
    * surviving corpus exactly; LexicalIndexStreamSpec pins it). Two
    * halves commit independently (partition-granular
    * [[StoreLayout.delete]], then a stats rewrite): a crash between them
    * leaves stats counting the deleted docs — a bounded SCORING skew —
    * while the legal guarantee (deleted docs can never be returned) holds
    * from the instant their postings partitions commit. The stats refresh
    * runs UNCONDITIONALLY, not only when this run removed rows, so
    * re-running after such a crash always heals the stale stats (the
    * price: a no-op delete still pays one postings aggregation). Run
    * while no stream is writing. Returns postings rows removed.
    */
  def deleteDocs(spark: SparkSession, indexDir: String, ids: DataFrame): Long = {
    val removed = StoreLayout.deleteIds(spark, s"$indexDir/postings", "doc_id", ids)
    // a store that was never written must not be conjured into existence
    // by a no-op delete (deletion never removes partitions — it leaves
    // committed empty ones — so removed > 0 implies parts exist)
    for (postings <- StoreLayout.load(spark, s"$indexDir/postings")) {
      // replace ALL prior stats rows with the one recomputed row; the
      // reader's dl-weighted merge over a single row is the row itself.
      // If the delete removed EVERY document, statsOf's sum/0 yields
      // avgdl=null — pin the well-defined empty-index representation
      // (0, 0.0) instead, so direct stats consumers never see a null
      StoreLayout.replaceAll(spark, s"$indexDir/stats",
        Lexical.statsOf(postings)
          .select(coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("avgdl"), lit(0.0)).as("avgdl")))
    }
    removed
  }

  /** Offline compaction of both index halves: thousands of micro-batches
    * mean thousands of postings partitions, each a file-open per search —
    * this folds them into one `batch=compact-*` partition per half via the
    * crash-safe two-phase [[StoreLayout.compact]]. Pure layout surgery:
    * postings rows and per-batch stats rows are carried verbatim (the
    * reader's dl-weighted stats merge is row-order-independent), so search
    * results are identical before and after. Run while NO stream is
    * writing the index.
    */
  def compactIndex(spark: SparkSession, indexDir: String,
      targetFiles: Int = 1): Unit = {
    StoreLayout.compact(spark, s"$indexDir/postings", targetFiles)
    StoreLayout.compact(spark, s"$indexDir/stats", targetFiles)
  }
}
