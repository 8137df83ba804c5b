package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.llm.Lexical
import graft.streaming.{LexicalIndexStream, StoreLayout}

/** [[LexicalIndexStream]]: per-micro-batch postings/stats partitions,
  * committed-only recombined reads, idempotent replay, and search parity
  * with a from-scratch batch index.
  */
class LexicalIndexStreamSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-lexstream").toFile

  private def queryDf(qs: (Long, String)*) = {
    import spark.implicits._
    qs.toDF("query_id", "qtext")
  }

  private def search(dir: String, q: org.apache.spark.sql.DataFrame) =
    Lexical.bm25Search(LexicalIndexStream.loadIndex(spark, dir), q,
        "query_id", "qtext", k = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq

  test("batches accumulate; recombined search equals a from-scratch build") {
    import spark.implicits._
    val dir = tmp().toString
    val fn = LexicalIndexStream.batchFunction("doc_id", "text", dir)
    val b0 = Seq(1L -> "spark shuffles data", 2L -> "the window slid")
    val b1 = Seq(3L -> "spark spark window", 4L -> "data data lake")
    fn(b0.toDF("doc_id", "text"), 0L)
    fn(b1.toDF("doc_id", "text"), 1L)
    val q = queryDf(10L -> "spark window data")
    val direct = Lexical.buildIndex((b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text")
    val expect = Lexical.bm25Search(direct, q, "query_id", "qtext", k = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(search(dir, q) == expect)
    // stats recombined, not re-tokenized: one row, n_docs = 4
    val st = LexicalIndexStream.loadIndex(spark, dir).stats.collect()
    assert(st.length == 1 && st(0).getAs[Long]("n_docs") == 4L)
  }

  test("replay overwrites its own partition; empty store searches to nothing") {
    import spark.implicits._
    val dir = tmp().toString
    assert(search(dir, queryDf(1L -> "spark")).isEmpty)
    val fn = LexicalIndexStream.batchFunction("doc_id", "text", dir)
    val b = Seq(1L -> "spark data", 2L -> "other words").toDF("doc_id", "text")
    fn(b, 0L)
    fn(b, 0L) // failure-recovery replay
    val idx = LexicalIndexStream.loadIndex(spark, dir)
    assert(idx.stats.collect()(0).getAs[Long]("n_docs") == 2L)
    assert(idx.postings.filter(org.apache.spark.sql.functions.col("term") === "spark")
      .count() == 1L)
  }

  test("compactIndex: search results byte-identical before and after") {
    import spark.implicits._
    val dir = tmp().toString
    val fn = LexicalIndexStream.batchFunction("doc_id", "text", dir)
    fn(Seq(1L -> "spark shuffles data", 2L -> "the window slid").toDF("doc_id", "text"), 0L)
    fn(Seq(3L -> "spark spark window").toDF("doc_id", "text"), 1L)
    fn(Seq(4L -> "data data lake", 5L -> "spark lake house").toDF("doc_id", "text"), 2L)
    val q = queryDf(10L -> "spark window data", 11L -> "lake")
    val before = search(dir, q)
    LexicalIndexStream.compactIndex(spark, dir)
    assert(search(dir, q) == before && before.nonEmpty)
    // both halves really folded to one partition each
    for (half <- Seq("postings", "stats")) {
      val parts = new java.io.File(s"$dir/$half").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(parts.length == 1 && parts(0).startsWith("batch=compact-"),
        s"$half: ${parts.mkString(",")}")
    }
    // stats algebra survives: n_docs still the total across batches
    val st = LexicalIndexStream.loadIndex(spark, dir).stats.collect()
    assert(st.length == 1 && st(0).getAs[Long]("n_docs") == 5L)
  }

  test("deleteDocs: post-delete search equals a from-scratch build of " +
      "the survivors; deleted docs can never be returned") {
    import spark.implicits._
    val dir = tmp().toString
    val fn = LexicalIndexStream.batchFunction("doc_id", "text", dir)
    val b0 = Seq(1L -> "spark shuffles data", 2L -> "the window slid")
    val b1 = Seq(3L -> "spark spark window", 4L -> "data data lake")
    fn(b0.toDF("doc_id", "text"), 0L)
    fn(b1.toDF("doc_id", "text"), 1L)
    val q = queryDf(10L -> "spark window data")
    assert(search(dir, q).exists(_._3 == 3L), "doc 3 ranks before the delete")
    val removed = LexicalIndexStream.deleteDocs(spark, dir, Seq(3L).toDF("doc_id"))
    assert(removed == 2L, s"doc 3 had 2 postings (spark, window): $removed")
    val got = search(dir, q)
    assert(!got.exists(_._3 == 3L), "a deleted doc must never be returned")
    // stats were refreshed from the survivors: scores equal a from-scratch
    // index of the surviving corpus EXACTLY, not just approximately
    val survivors = (b0 ++ b1).filter(_._1 != 3L).toDF("doc_id", "text")
    val direct = Lexical.buildIndex(survivors, "doc_id", "text")
    val expect = Lexical.bm25Search(direct, q, "query_id", "qtext", k = 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(got == expect)
    val st = LexicalIndexStream.loadIndex(spark, dir).stats.collect()
    assert(st.length == 1 && st(0).getAs[Long]("n_docs") == 3L)
    // deleting an absent id is a no-op on both halves
    assert(LexicalIndexStream.deleteDocs(spark, dir, Seq(99L).toDF("doc_id")) == 0L)
    assert(search(dir, q) == expect)
  }

  test("deleteDocs heals stale stats on re-run after a crash between the " +
      "postings delete and the stats rewrite") {
    import spark.implicits._
    val dir = tmp().toString
    val fn = LexicalIndexStream.batchFunction("doc_id", "text", dir)
    val docs = Seq(1L -> "spark shuffles data", 2L -> "the window slid",
      3L -> "spark spark window", 4L -> "data data lake")
    fn(docs.toDF("doc_id", "text"), 0L)
    // simulate the crash window: postings rewritten, stats never refreshed
    graft.streaming.StoreLayout.deleteIds(
      spark, s"$dir/postings", "doc_id", Seq(3L).toDF("doc_id"))
    val stale = LexicalIndexStream.loadIndex(spark, dir).stats.collect()
    assert(stale(0).getAs[Long]("n_docs") == 4L, "precondition: stats stale")
    // the re-run finds nothing left to remove (returns 0) but must still
    // heal the stats half
    assert(LexicalIndexStream.deleteDocs(spark, dir, Seq(3L).toDF("doc_id")) == 0L)
    val healed = LexicalIndexStream.loadIndex(spark, dir).stats.collect()
    assert(healed.length == 1 && healed(0).getAs[Long]("n_docs") == 3L)
  }

  test("deleteFromIndex (batch layout): same survivors-only contract, " +
      "pure frame algebra") {
    import spark.implicits._
    val corpus = Seq(1L -> "spark shuffles data", 2L -> "the window slid",
      3L -> "spark spark window", 4L -> "data data lake").toDF("doc_id", "text")
    val q = queryDf(10L -> "spark window data")
    val afterDelete = Lexical.deleteFromIndex(
      Lexical.buildIndex(corpus, "doc_id", "text"), Seq(3L).toDF("doc_id"))
    val direct = Lexical.buildIndex(
      corpus.filter($"doc_id" =!= 3L), "doc_id", "text")
    def run(ix: Lexical.LexicalIndex) =
      Lexical.bm25Search(ix, q, "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(run(afterDelete) == run(direct) && run(direct).nonEmpty)
  }

  test("end to end through Structured Streaming with a MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp().toString
    val mem = MemoryStream[(Long, String)]
    val q = StoreLayout.start(mem.toDF().toDF("doc_id", "text"), s"$dir/chk")(
      LexicalIndexStream.batchFunction("doc_id", "text", s"$dir/index", _))
    try {
      mem.addData(1L -> "spark shuffles data", 2L -> "window functions")
      q.processAllAvailable()
      mem.addData(3L -> "spark again")
      q.processAllAvailable()
      val got = search(s"$dir/index", queryDf(5L -> "spark"))
      assert(got.map(_._3).toSet == Set(1L, 3L))
    } finally q.stop()
  }
}
