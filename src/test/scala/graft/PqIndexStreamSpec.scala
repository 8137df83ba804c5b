package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.llm.{IvfPq, Opq, Pq}
import graft.streaming.StoreLayout

/** The PQ-compressed ANN stores, [[StoreLayout.append]] over each tier's
  * encoder: per-batch encode under a pinned model, committed-only
  * recombined search with batch-encode parity for all three tiers (PQ,
  * OPQ, IVF-PQ), idempotent replay, crash-safe compaction.
  */
class PqIndexStreamSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-pqstream").toFile

  private lazy val emb = Graft.table(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val model = Pq.deterministicModel(m = 8, ksub = 16, dsub = 8)
  private lazy val rot = Opq.randomRotation(64)
  private lazy val coarse = IvfPq.deterministicCoarse(nlist = 8, dim = 64)

  private def queries = emb.filter(col("vec_id") < 5)

  private def pq(df: DataFrame) = Pq.encode(df, "vec_id", "embedding", model)

  private def pqRows(enc: DataFrame) =
    Pq.adcTopKEncoded(enc, queries, "vec_id", "vec_id", "embedding", model, k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc"))).toSeq

  test("PQ: stream-appended store searches identically to a one-shot batch encode") {
    val dir = tmp().toString
    val fn = StoreLayout.append(dir)(pq)
    fn(emb.filter(col("vec_id") % 2 === 0), 0L)
    fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    val store = StoreLayout.load(spark, dir)
      .getOrElse(fail("store should be non-empty"))
    val direct = pqRows(Pq.encode(emb, "vec_id", "embedding", model))
    assert(direct.nonEmpty && pqRows(store) == direct)
  }

  test("OPQ tier parity; compaction preserves search results bit-for-bit") {
    val dir = tmp().toString
    val fn = StoreLayout.append(dir)(Opq.encode(_, "vec_id", "embedding", rot, model))
    fn(emb.filter(col("vec_id") % 3 === 0), 0L)
    fn(emb.filter(col("vec_id") % 3 === 1), 1L)
    fn(emb.filter(col("vec_id") % 3 === 2), 2L)
    def rows() = {
      val store = StoreLayout.load(spark, dir).get
      Opq.adcTopKEncoded(store, queries, "vec_id", "vec_id", "embedding",
          rot, model, k = 5)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc"))).toSeq
    }
    val before = rows()
    StoreLayout.compact(spark, dir)
    assert(rows() == before && before.nonEmpty)
    // compaction really folded the partitions
    val parts = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(parts.length == 1 && parts(0).startsWith("batch=compact-"), parts.mkString(","))
  }

  test("IVF-PQ tier: (id, cell, codes) appends search like a batch encode") {
    val dir = tmp().toString
    val fn = StoreLayout.append(dir)(
      IvfPq.encode(_, "vec_id", "embedding", coarse, model))
    fn(emb.filter(col("vec_id") % 2 === 0), 0L)
    fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    val store = StoreLayout.load(spark, dir).get
    def rows(enc: DataFrame) =
      IvfPq.adcTopKEncoded(enc, queries, "vec_id", "vec_id", "embedding",
          coarse, model, nprobe = 2, k = 5)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc"))).toSeq
    val direct = rows(IvfPq.encode(emb, "vec_id", "embedding", coarse, model))
    assert(direct.nonEmpty && rows(store) == direct)
  }

  test("int8 and binary tiers: stream-appended stores search identically " +
      "to one-shot encodes (calibration pinned; sign codes model-free)") {
    import graft.llm.Quantize
    val (mins, maxs) = Quantize.int8Stats(emb, "embedding", dim = 64)
    val i8dir = tmp().toString
    val i8fn = StoreLayout.append(i8dir)(
      Quantize.int8Encode(_, "vec_id", "embedding", mins, maxs))
    i8fn(emb.filter(col("vec_id") % 2 === 0), 0L)
    i8fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    def i8Rows(enc: DataFrame) =
      Quantize.int8TopKEncoded(enc, emb, queries, "vec_id", "embedding",
          mins, maxs, k = 5, rerank = 20)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSeq
    val i8direct = i8Rows(Quantize.int8Encode(emb, "vec_id", "embedding", mins, maxs))
    assert(i8direct.nonEmpty &&
      i8Rows(StoreLayout.load(spark, i8dir).get) == i8direct)
    val bdir = tmp().toString
    val bfn = StoreLayout.append(bdir)(
      Quantize.binaryEncode(_, "vec_id", "embedding", dim = 64))
    bfn(emb.filter(col("vec_id") % 2 === 0), 0L)
    bfn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    def bRows(enc: DataFrame) =
      Quantize.hammingTopKEncoded(enc, emb, queries, "vec_id", "embedding",
          dim = 64, k = 5, rerank = 20)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"))).toSeq
    val bdirect = bRows(Quantize.binaryEncode(emb, "vec_id", "embedding", dim = 64))
    assert(bdirect.nonEmpty &&
      bRows(StoreLayout.load(spark, bdir).get) == bdirect)
  }

  test("deleteVectors: forgotten ids vanish from ANN results; the rest " +
      "search as if encoded without them") {
    import spark.implicits._
    val dir = tmp().toString
    val fn = StoreLayout.append(dir)(pq)
    fn(emb.filter(col("vec_id") % 2 === 0), 0L)
    fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    val before = pqRows(StoreLayout.load(spark, dir).get)
    val victim = before.head._3 // a top-ranked neighbor — visibly present
    val removed = StoreLayout.deleteIds(spark, dir, "vec_id",
      Seq(victim).toDF("vec_id"))
    assert(removed == 1L)
    val after = pqRows(StoreLayout.load(spark, dir).get)
    assert(!after.exists(_._3 == victim), "a deleted vector must never rank")
    // identical to a one-shot encode of the surviving vectors (codes are
    // row-independent under the pinned model — no re-encode needed)
    val direct = pqRows(Pq.encode(
      emb.filter(col("vec_id") =!= victim), "vec_id", "embedding", model))
    assert(after == direct && after.nonEmpty)
  }

  test("empty store is None; replay overwrites its own partition") {
    val dir = tmp().toString
    assert(StoreLayout.load(spark, dir).isEmpty)
    val fn = StoreLayout.append(dir)(pq)
    val b = emb.filter(col("vec_id") < 10)
    fn(b, 0L)
    fn(b, 0L) // failure-recovery replay must not duplicate codes
    assert(StoreLayout.load(spark, dir).get.count() == b.count())
  }

  test("end to end through Structured Streaming") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp().toString
    val rows = emb.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StoreLayout.start(mem.toDF().toDF("vec_id", "embedding"), s"$dir/chk")(
      StoreLayout.append(s"$dir/index", _)(pq))
    try {
      mem.addData(rows.take(20).toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(rows.drop(20).take(20).toIndexedSeq: _*)
      q.processAllAvailable()
      val store = StoreLayout.load(spark, s"$dir/index").get
      assert(store.count() == 40 && store.columns.toSeq == Seq("vec_id", "pq_codes"))
    } finally q.stop()
  }
}
