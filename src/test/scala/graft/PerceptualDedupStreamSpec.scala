package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{PerceptualDedupStream, StoreLayout}

/** [[PerceptualDedupStream]] — the perceptual incremental-dedup store:
  * store-kill and batch-kill semantics, idempotent batch replay,
  * undecodable-payload keep, and right-to-be-forgotten re-admission.
  */
class PerceptualDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  // tiny BMP factory: 8×8 24bpp grayscale from a 64-value function
  private def bmp(gray: Int => Int): Array[Byte] = {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val hdr = Array[Byte]('B', 'M') ++ le32(54 + 192) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(8) ++ le32(8) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(192) ++ new Array[Byte](16)
    hdr ++ Array.tabulate(192)(i => gray(i / 3).toByte)
  }

  private val rnd = new scala.util.Random(31)
  private val patterns: Map[Long, Array[Int]] =
    (0L until 8L).map(id => id -> Array.fill(64)(rnd.nextInt(256))).toMap

  private def img(id: Long, tweakCell: Int = -1): (Long, Array[Byte]) =
    id -> bmp(i => {
      val base = patterns(id % 100)(i)
      if (i == tweakCell) (base + 40) % 256 else base
    })

  private def frame(rows: (Long, Array[Byte])*): DataFrame =
    rows.toSeq.toDF("doc_id", "payload")

  private def sigOf(df: DataFrame): DataFrame =
    graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
        df, "doc_id", "payload", codecs = graft.llm.Multimodal.JvmCodecs))
      .select(col("doc_id").as("__id"), col("phash").as("__hsig"))

  private def keptIds(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("doc_id").as[Long].collect().sorted.toSeq

  test("store-kill, batch-kill, idempotent replay, and RTBF re-admission") {
    val base = java.nio.file.Files.createTempDirectory("imgstream").toString
    val (store, corpus) = (s"$base/store", s"$base/corpus")
    val fn = PerceptualDedupStream.batchFunction("doc_id", sigOf, store, corpus,
      maxHamming = 10)
    // batch 0: three distinct images plus an exact in-batch duplicate of
    // image 0 (id 100) — batch-kill keeps the smaller id
    fn(frame(img(0L), img(1L), img(2L), (100L, img(0L)._2)), 0L)
    assert(keptIds(corpus) == Seq(0L, 1L, 2L))
    // batch 1: a one-cell tweak of image 1 (near-dup -> store-kill), a
    // fresh image 3, and an exact pair inside the batch (only 103 kept)
    fn(frame((101L, img(1L, tweakCell = 7)._2), (3L, img(3L)._2),
      (103L, img(4L)._2), (104L, img(4L)._2)), 1L)
    assert(keptIds(corpus) == Seq(0L, 1L, 2L, 3L, 103L))
    // idempotent replay: re-running batch 1 overwrites its own partition
    // and must NOT dedupe against its own previous output
    fn(frame((101L, img(1L, tweakCell = 7)._2), (3L, img(3L)._2),
      (103L, img(4L)._2), (104L, img(4L)._2)), 1L)
    assert(keptIds(corpus) == Seq(0L, 1L, 2L, 3L, 103L))
    // RTBF: forget image 1 -> a later near-dup of it is ADMITTED
    val (sigGone, corpGone) = StoreLayout.deleteDocs(spark, store,
      corpus, "doc_id", Seq(1L).toDF("doc_id"))
    assert(sigGone == 1L && corpGone == 1L)
    fn(frame((201L, img(1L, tweakCell = 7)._2)), 2L)
    assert(keptIds(corpus) == Seq(0L, 2L, 3L, 103L, 201L))
  }

  private def committedIds(dir: String, idCol: String): Seq[Long] =
    StoreLayout.load(spark, dir).toSeq
      .flatMap(_.select(idCol).as[Long].collect()).sorted

  test("two-half RTBF delete: corpus rows go first; a refused signature " +
      "half leaves a ghost that still blocks near-dups; a re-run converges") {
    val base = java.nio.file.Files.createTempDirectory("imgstream-rtbf").toString
    val (store, corpus) = (s"$base/store", s"$base/corpus")
    val fn = PerceptualDedupStream.batchFunction("doc_id", sigOf, store, corpus,
      maxHamming = 10)
    fn(frame(img(0L), img(1L)), 0L)
    // another maintenance run holds the signature store: that half of the
    // delete must fail loudly
    java.nio.file.Files.write(new java.io.File(store, "_MAINT_LEASE").toPath,
      s"compact-other\n${System.currentTimeMillis()}".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](StoreLayout.deleteDocs(spark,
      store, corpus, "doc_id", Seq(1L).toDF("doc_id")))
    assert(e.getMessage.contains("compact-other"), e.getMessage)
    // privacy first: the payload is already gone, only the signature is left
    assert(committedIds(corpus, "doc_id") == Seq(0L))
    assert(committedIds(store, "__id") == Seq(0L, 1L))
    assert(StoreLayout.breakLease(spark, store))
    // the ghost signature still kills a near-dup of the forgotten image
    fn(frame((101L, img(1L, tweakCell = 7)._2)), 1L)
    assert(committedIds(corpus, "doc_id") == Seq(0L))
    // the re-run finishes the signature half; the corpus half is a no-op
    assert(StoreLayout.deleteDocs(spark, store, corpus, "doc_id",
      Seq(1L).toDF("doc_id")) == ((1L, 0L)))
    assert(committedIds(store, "__id") == Seq(0L))
    fn(frame((201L, img(1L, tweakCell = 7)._2)), 2L)
    assert(committedIds(corpus, "doc_id") == Seq(0L, 201L))
  }

  test("undecodable payloads are kept and never enter the store") {
    val base = java.nio.file.Files.createTempDirectory("imgstream2").toString
    val (store, corpus) = (s"$base/store", s"$base/corpus")
    val fn = PerceptualDedupStream.batchFunction("doc_id", sigOf, store, corpus)
    fn(frame(img(0L), (50L, "not an image".getBytes)), 0L)
    assert(keptIds(corpus) == Seq(0L, 50L))
    assert(spark.read.parquet(store).count() == 1)
    // the junk payload can't kill anything later either
    fn(frame((51L, "not an image".getBytes)), 1L)
    assert(keptIds(corpus) == Seq(0L, 50L, 51L))
  }

  // multi-signature (video-style) sigs: TWO perceptual hashes per object,
  // derived from two independent pattern ids
  private def sigsOf(df: DataFrame): DataFrame =
    graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
        df.select(col("doc_id"),
          explode(array(struct(lit(0).as("fx"), col("p0").as("payload")),
            struct(lit(1).as("fx"), col("p1").as("payload")))).as("f"))
          .select((col("doc_id") * 4 + col("f.fx")).as("fid"),
            col("f.payload").as("payload")),
        "fid", "payload", codecs = graft.llm.Multimodal.JvmCodecs))
      .select(floor(col("doc_id") / 4).cast("long").as("__id"),
        pmod(col("doc_id"), lit(4)).cast("int").as("fx"), col("phash"))
      .groupBy("__id")
      .agg(transform(array_sort(collect_list(struct(col("fx"), col("phash")))),
        e => e.getField("phash")).as("__hsigs"))

  private def vids(rows: (Long, Array[Byte], Array[Byte])*): DataFrame =
    rows.toSeq.toDF("doc_id", "p0", "p1")

  test("multi-signature streaming lifecycle: startMulti under AvailableNow, " +
      "kill requires every position") {
    val base = java.nio.file.Files.createTempDirectory("vidstream").toString
    val (store, corpus, ckpt, in) =
      (s"$base/store", s"$base/corpus", s"$base/ckpt", s"$base/in")
    // feed rows through a parquet stream so the REAL writeStream path runs
    new java.io.File(in).mkdirs()
    vids((0L, img(0L)._2, img(1L)._2),
         // matches doc 0 at position 0 only -> must SURVIVE
         (5L, img(0L)._2, img(3L)._2),
         // exact match at both positions -> batch-kill (keep doc 0)
         (9L, img(0L)._2, img(1L)._2))
      .write.parquet(s"$in/b0")
    def runOnce(): Unit = {
      val q = StoreLayout.start(
        spark.readStream.schema("doc_id long, p0 binary, p1 binary")
          .parquet(s"$in/*"), ckpt)(tag =>
        PerceptualDedupStream.batchFunctionMulti("doc_id", sigsOf, store, corpus,
          maxHamming = 8, runTag = tag))
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(keptIds(corpus) == Seq(0L, 5L))
    // a later file: near-dup of doc 0 at BOTH positions -> store-kill;
    // a fresh pair survives
    vids((20L, img(0L, tweakCell = 7)._2, img(1L, tweakCell = 9)._2),
         (21L, img(6L)._2, img(7L)._2))
      .write.parquet(s"$in/b1")
    runOnce()
    assert(keptIds(corpus) == Seq(0L, 5L, 21L))
  }
}
