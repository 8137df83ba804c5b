package graft
import graft.core.Graft
import org.apache.spark.sql.functions._

/** Cost attribution for `q_dedup_incremental_video` (the suite's heaviest
  * row): splits the query's wall into (a) fixture decode+hash — MP4 stss
  * keyframe demux, two BMP decodes and two fixed-point DCT pHashes per
  * document — and (b) the store lifecycle — banding, the two joins, the
  * committed-parts read and the two crash-safe writes — by timing each
  * stage with the other one's output pre-materialized. The r13 verdict
  * argued "decode dominates" from plan shape; this probe measures it.
  */
object ProfVideoCost {
  def main(args: Array[String]): Unit = {
    val spark = Graft.localSession("video-cost-probe")
    import spark.implicits._
    val d = "/root/testdata/sf0.1"
    val fixtures = ProfVideoFixtures
    val docs = Graft.table(spark, d, "documents").filter(length(col("text")) >= 128)
    val b = col("text").cast("binary")
    def px(off: Int) =
      concat((1 to 64).flatMap(i => Seq.fill(3)(b.substr(off + i, 1))): _*)
    def video(p1: org.apache.spark.sql.Column, p2: org.apache.spark.sql.Column) =
      concat(lit(fixtures.pre), lit(fixtures.hdr), p1, lit(fixtures.hdr), p2,
        lit(fixtures.post))
    val base = docs.select(col("doc_id"), video(px(0), px(64)).as("payload"))
    def sigsOf(df: org.apache.spark.sql.DataFrame) = {
      val frames = graft.llm.Multimodal.sampleFrames(df, "doc_id", "payload",
        n = 2, codecs = graft.llm.Multimodal.JvmCodecs).toDF()
      graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
          frames.select((col("doc_id") * 4 + col("frame_ix")).as("fid"),
            col("payload")),
          "fid", "payload", codecs = graft.llm.Multimodal.JvmCodecs))
        .select(floor(col("doc_id") / 4).cast("long").as("__id"),
          pmod(col("doc_id"), lit(4)).cast("int").as("fx"), col("phash"))
        .groupBy("__id")
        .agg(transform(array_sort(collect_list(struct(col("fx"), col("phash")))),
          e => e.getField("phash")).as("__hsigs"))
        .filter(size(col("__hsigs")) === 2)
    }
    def time(tag: String)(body: => Long): Double = {
      val t0 = System.nanoTime()
      val rows = body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[vidcost] $tag rows=$rows time=$s%.2f s")
      s
    }
    // warm the whole path once (Bench protocol: steady numbers)
    sigsOf(base).count()
    // (a) decode+hash alone: demux + 2 BMP decodes + 2 pHashes per doc
    val tDecode = time("decode_hash")(sigsOf(base).count())
    // (b) store lifecycle alone: signatures pre-materialized, two
    // batchFunctionMulti turns (ingest, then dedup vs store+self)
    val batch0 = base.filter(col("doc_id") % 2 === 0)
    val batch1 = base.filter(col("doc_id") % 2 =!= 0)
    val s0 = sigsOf(batch0).persist(); s0.count()
    val s1 = sigsOf(batch1).persist(); s1.count()
    val dir = java.nio.file.Files.createTempDirectory("vidcost").toString
    val fn = graft.streaming.PerceptualDedupStream.batchFunctionMulti(
      "doc_id", df => if (df eq batch0) s0 else s1,
      s"$dir/store", s"$dir/corpus", maxHamming = 8)
    val tStore = time("store_lifecycle") {
      fn(batch0, 0L); fn(batch1, 1L)
      spark.read.parquet(s"$dir/corpus").count()
    }
    // (c) the full query as the bench runs it, for the total
    val tFull = time("full_query") {
      SparkEntry.queries("q_dedup_incremental_video")(spark, d).count()
    }
    // the full query decodes batch0 + batch1 (≈ one full pass + the 20
    // planted re-encodes), so sigsOf(base) approximates its decode cost
    println(f"[vidcost] summary decode_hash=$tDecode%.2f store=$tStore%.2f " +
      f"full=$tFull%.2f decode_share=${tDecode / tFull}%.2f")
    spark.stop()
  }
}

object ProfVideoFixtures {
  // the canonical 8×8 24bpp BMP header — one builder for every fixture
  val hdr: Array[Byte] = graft.queries.MultimodalQueries.bmpHeader(8, 8)
  // the q_dedup_incremental_video MP4 skeleton: two keyframe samples of
  // 246 bytes each (the BMP header + 192 pixel bytes)
  val (pre, post): (Array[Byte], Array[Byte]) = graft.queries.MultimodalQueries.mp4VideoFixture
}
