package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{IncrementalDedupStream, StoreLayout}

/** [[IncrementalDedupStream]]: per-micro-batch near-dup dedup against the
  * accumulating parquet signature store — cross-batch kills, within-batch
  * kills, idempotent batch replay, and the store surviving across queries.
  */
class IncrementalDedupStreamSpec extends SparkSpec {

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "in the warm sun near the old barn door every single afternoon"
  private val other =
    "completely different text about spark clusters and parquet files " +
      "with nothing shared at all in any shingle of this string whatsoever"
  private val third =
    "yet another unrelated passage regarding mountain weather patterns " +
      "and the slow drift of glaciers across ancient valley floors today"

  private def tmp() = Files.createTempDirectory("graft-streamdedup").toFile

  private def keptIds(corpusDir: String): Set[Long] = {
    import spark.implicits._
    spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().toSet
  }

  test("batchFunction: cross-batch and within-batch kills, store accumulates") {
    import spark.implicits._
    val dir = tmp()
    val (store, corpus) = (s"$dir/store", s"$dir/corpus")
    val fn = IncrementalDedupStream.batchFunction("doc_id", "text", store, corpus)
    // batch 0: base + near-dup of base (within-batch kill) + other
    fn(Seq((1L, base), (2L, base.replace("lazy", "sleepy")), (3L, other))
      .toDF("doc_id", "text"), 0L)
    assert(keptIds(corpus) == Set(1L, 3L))
    // batch 1: exact dup of batch-0 survivor (cross-batch kill) + fresh doc
    fn(Seq((10L, other), (11L, third)).toDF("doc_id", "text"), 1L)
    assert(keptIds(corpus) == Set(1L, 3L, 11L))
    // batch 2: near-dup of the batch-1 survivor also dies
    fn(Seq((20L, third.replace("ancient", "frozen"))).toDF("doc_id", "text"), 2L)
    assert(keptIds(corpus) == Set(1L, 3L, 11L))
  }

  test("batch replay is idempotent: same batchId overwrites, no duplicates") {
    import spark.implicits._
    val dir = tmp()
    val fn = IncrementalDedupStream.batchFunction("doc_id", "text",
      s"$dir/store", s"$dir/corpus")
    val b0 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    fn(b0, 0L)
    fn(b0, 0L) // failure-recovery replay
    assert(keptIds(s"$dir/corpus") == Set(1L, 2L))
    assert(spark.read.parquet(s"$dir/corpus").count() == 2)
    assert(spark.read.parquet(s"$dir/store").select("__id").distinct().count() == 2)
  }

  test("deleteDocs: a forgotten doc's near-dup is admitted again — the " +
      "store behaves as if the doc was never ingested") {
    import spark.implicits._
    val dir = tmp()
    val (store, corpus) = (s"$dir/store", s"$dir/corpus")
    val fn = IncrementalDedupStream.batchFunction("doc_id", "text", store, corpus)
    fn(Seq((1L, base), (2L, other)).toDF("doc_id", "text"), 0L)
    // near-dup of doc 1 dies against the store
    fn(Seq((10L, base.replace("lazy", "sleepy"))).toDF("doc_id", "text"), 1L)
    assert(keptIds(corpus) == Set(1L, 2L))
    val (sigRows, docRows) = StoreLayout.deleteDocs(
      spark, store, corpus, "doc_id", Seq(1L).toDF("doc_id"))
    assert(sigRows == 1L && docRows == 1L)
    assert(keptIds(corpus) == Set(2L))
    // the same near-dup, resubmitted, is now ADMITTED
    fn(Seq((20L, base.replace("lazy", "sleepy"))).toDF("doc_id", "text"), 2L)
    assert(keptIds(corpus) == Set(2L, 20L))
  }

  test("compaction folds batch partitions; dedup behavior is unchanged") {
    import spark.implicits._
    val dir = tmp()
    val (store, corpus) = (s"$dir/store", s"$dir/corpus")
    val fn = IncrementalDedupStream.batchFunction("doc_id", "text", store, corpus)
    fn(Seq((1L, base)).toDF("doc_id", "text"), 0L)
    fn(Seq((2L, other)).toDF("doc_id", "text"), 1L)
    fn(Seq((3L, third)).toDF("doc_id", "text"), 2L)
    IncrementalDedupStream.compactStore(spark, store)
    IncrementalDedupStream.compactStore(spark, corpus)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .count(_.getPath.getName.startsWith("batch=")) == 1)
    assert(keptIds(corpus) == Set(1L, 2L, 3L))
    // the compacted store still kills duplicates from later batches
    fn(Seq((40L, base.replace("sun", "shade")), (41L, "fresh words on deep " +
      "sea trenches and the creatures living in permanent darkness below"))
      .toDF("doc_id", "text"), 3L)
    assert(keptIds(corpus) == Set(1L, 2L, 3L, 41L))
  }

  test("a crashed attempt's partial partition (no _SUCCESS) is ignored, not fatal") {
    import spark.implicits._
    val dir = tmp()
    val (store, corpus) = (s"$dir/store", s"$dir/corpus")
    val fn = IncrementalDedupStream.batchFunction("doc_id", "text", store, corpus)
    fn(Seq((1L, base)).toDF("doc_id", "text"), 0L)
    // a dead run's torn write: footerless garbage, no _SUCCESS marker
    for (d <- Seq(store, corpus)) {
      val dead = new java.io.File(d, "batch=dead-0")
      dead.mkdirs()
      java.nio.file.Files.write(new java.io.File(dead, "part-00000.parquet").toPath,
        "not a parquet file".getBytes)
    }
    // later batches read committed partitions only and still dedupe
    fn(Seq((10L, base.replace("dog", "hound")), (11L, other)).toDF("doc_id", "text"), 1L)
    val committed = spark.read.parquet(s"$corpus/batch=run-0", s"$corpus/batch=run-1")
    assert(committed.select("doc_id").as[Long].collect().toSet == Set(1L, 11L))
    // compaction neither absorbs nor deletes the torn partition
    IncrementalDedupStream.compactStore(spark, store)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).toSet
    assert(names.exists(_.startsWith("batch=compact-")) && names.contains("batch=dead-0"))
  }

  test("streaming end-to-end; the store survives into a NEW query") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = tmp()
    val (store, corpus) = (s"$dir/store", s"$dir/corpus")
    val in1 = MemoryStream[(Long, String)]
    val q1 = StoreLayout.start(in1.toDF().toDF("doc_id", "text"), s"$dir/ckpt1")(tag =>
      IncrementalDedupStream.batchFunction("doc_id", "text", store, corpus, runTag = tag))
    try {
      in1.addData((1L, base), (2L, other))
      q1.processAllAvailable()
      in1.addData((10L, base.replace("dog", "hound")), (11L, third))
      q1.processAllAvailable()
      assert(keptIds(corpus) == Set(1L, 2L, 11L))
    } finally q1.stop()
    // a brand-new query (fresh checkpoint) still dedupes against the store
    val in2 = MemoryStream[(Long, String)]
    val q2 = StoreLayout.start(in2.toDF().toDF("doc_id", "text"), s"$dir/ckpt2")(tag =>
      IncrementalDedupStream.batchFunction("doc_id", "text", store, corpus, runTag = tag))
    try {
      in2.addData((30L, other), (31L, "entirely novel content never seen " +
        "before about deep ocean currents and bioluminescent creatures below"))
      q2.processAllAvailable()
      assert(keptIds(corpus) == Set(1L, 2L, 11L, 31L))
    } finally q2.stop()
  }
}
