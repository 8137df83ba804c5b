package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.llm.Lexical
import graft.streaming.{IngestStream, LexicalIndexStream, StoreLayout}

/** [[IngestStream]]: dedup-then-index in one micro-batch — killed docs
  * never reach the index, replay keeps all three stores consistent.
  */
class IngestStreamSpec extends SparkSpec {

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "in the warm sun near the old barn door every single afternoon"
  private val other =
    "completely different text about spark clusters and parquet files " +
      "with nothing shared at all in any shingle of this string whatsoever"

  private def searchIds(indexDir: String, q: String): Set[Long] =
    Lexical.bm25Search(LexicalIndexStream.loadIndex(spark, indexDir),
        { import spark.implicits._; Seq(1L -> q).toDF("query_id", "qtext") },
        "query_id", "qtext", k = 100)
      .collect().map(_.getAs[Long]("doc_id")).toSet

  test("duplicates die before indexing; survivors searchable; replay consistent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ingest").toFile
    val (store, corpus, index) = (s"$dir/store", s"$dir/corpus", s"$dir/index")
    val fn = IngestStream.batchFunction("doc_id", "text", store, corpus, index)
    // batch 0: base + its near-dup (dies within batch) + other
    fn(Seq((1L, base), (2L, base.replace("lazy", "sleepy")), (3L, other))
      .toDF("doc_id", "text"), 0L)
    assert(searchIds(index, "quick brown fox") == Set(1L))
    assert(searchIds(index, "spark clusters parquet") == Set(3L))
    // batch 1: cross-batch dup of doc 3 dies; fresh doc indexed
    fn(Seq((10L, other), (11L, "entirely novel words appear here"))
      .toDF("doc_id", "text"), 1L)
    assert(searchIds(index, "spark clusters parquet") == Set(3L))
    assert(searchIds(index, "novel words") == Set(11L))
    // replay of batch 1 overwrites, never duplicates postings or stats
    fn(Seq((10L, other), (11L, "entirely novel words appear here"))
      .toDF("doc_id", "text"), 1L)
    val idx = LexicalIndexStream.loadIndex(spark, index)
    assert(idx.stats.collect()(0).getAs[Long]("n_docs") == 3L) // docs 1, 3, 11
    assert(idx.postings.filter(org.apache.spark.sql.functions.col("doc_id") === 11L)
      .groupBy("term").count().collect().forall(_.getLong(1) == 1L))
  }

  test("end to end through Structured Streaming") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-ingest-e2e").toFile
    val mem = MemoryStream[(Long, String)]
    val q = StoreLayout.start(mem.toDF().toDF("doc_id", "text"), s"$dir/chk")(tag =>
      IngestStream.batchFunction("doc_id", "text", s"$dir/store", s"$dir/corpus",
        s"$dir/index", runTag = tag))
    try {
      mem.addData(1L -> base, 2L -> other)
      q.processAllAvailable()
      mem.addData(3L -> base.replace("lazy", "sleepy")) // dies vs store
      q.processAllAvailable()
      assert(searchIds(s"$dir/index", "quick brown fox") == Set(1L))
    } finally q.stop()
  }
}
