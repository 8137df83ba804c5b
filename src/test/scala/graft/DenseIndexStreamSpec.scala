package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.llm.Ivf
import graft.streaming.StoreLayout

/** The dense ANN store, [[StoreLayout.append]] over [[Ivf.assign]]:
  * per-batch cell assignment under a fixed coarse quantizer,
  * committed-only recombined search, idempotent replay.
  */
class DenseIndexStreamSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-densestream").toFile

  private lazy val emb = Graft.table(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val cents = Ivf.train(emb, "embedding", dim = 64, nlist = 4)

  private def assign(df: org.apache.spark.sql.DataFrame) =
    Ivf.assign(df, "vec_id", "embedding", cents)

  test("batches accumulate; recombined search equals direct assigned search") {
    val dir = tmp().toString
    val fn = StoreLayout.append(dir)(assign)
    val b0 = emb.filter(col("vec_id") % 2 === 0)
    val b1 = emb.filter(col("vec_id") % 2 =!= 0)
    fn(b0, 0L)
    fn(b1, 1L)
    val loaded = StoreLayout.load(spark, dir)
      .getOrElse(fail("store should be non-empty"))
    val q = emb.filter(col("vec_id") < 3)
    def rows(assigned: org.apache.spark.sql.DataFrame) =
      Ivf.ivfTopKAssigned(assigned, q, "vec_id", "vec_id", "embedding", cents,
          k = 5, nprobe = 4)
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSeq
    val direct = rows(Ivf.assign(emb, "vec_id", "embedding", cents))
    assert(rows(loaded) == direct && direct.nonEmpty)
  }

  test("deleteVectors: forgotten ids leave the cell store and never rank") {
    import spark.implicits._
    val dir = tmp().toString
    val fn = StoreLayout.append(dir)(assign)
    fn(emb.filter(col("vec_id") % 2 === 0), 0L)
    fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    assert(StoreLayout.deleteIds(spark, dir, "vec_id",
      Seq(0L, 1L).toDF("vec_id")) == 2L)
    val q = emb.filter(col("vec_id") < 3)
    val got = Ivf.ivfTopKAssigned(StoreLayout.load(spark, dir).get,
        q, "vec_id", "vec_id", "embedding", cents, k = 5, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && !got.contains(0L) && !got.contains(1L))
  }

  test("empty store is None; replay overwrites its partition") {
    val dir = tmp().toString
    assert(StoreLayout.load(spark, dir).isEmpty)
    val fn = StoreLayout.append(dir)(assign)
    val b = emb.filter(col("vec_id") < 10)
    fn(b, 0L)
    fn(b, 0L)
    val loaded = StoreLayout.load(spark, dir).get
    assert(loaded.count() == b.count())
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
      StoreLayout.append(s"$dir/index", _)(assign))
    try {
      mem.addData(rows.take(20).toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(rows.drop(20).take(20).toIndexedSeq: _*)
      q.processAllAvailable()
      assert(StoreLayout.load(spark, s"$dir/index").get.count() == 40)
    } finally q.stop()
  }
}
