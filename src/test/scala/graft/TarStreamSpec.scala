package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.streaming.Trigger

import graft.sources.{TarNameOffset, TarShards}

/** `spark.readStream.format("tar")` — micro-batch WebDataset ingest:
  * incremental shard pickup, checkpointed restart, maxFilesPerTrigger
  * admission, grouped samples, and the name-monotonicity loud fail.
  */
class TarStreamSpec extends SparkSpec {
  import spark.implicits._

  private def shard(dir: java.io.File, name: String, entries: (String, String)*): Unit = {
    val bos = new ByteArrayOutputStream()
    entries.foreach { case (n, d) => TarShards.writeEntry(bos, n, d.getBytes(UTF_8)) }
    bos.write(new Array[Byte](1024))
    val out = new FileOutputStream(new java.io.File(dir, name))
    out.write(bos.toByteArray); out.close()
  }

  private def tmp(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }

  private def runOnce(dir: java.io.File, ckpt: java.io.File, out: java.io.File): Unit = {
    val q = spark.readStream.format("tar").load(dir.getAbsolutePath)
      .selectExpr("key", "ext", "cast(payload as string) AS text")
      .writeStream.format("parquet")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(!q.isActive)
  }

  test("incremental pickup and checkpointed restart: only NEW shards flow") {
    val dir = tmp("tarstream")
    val ckpt = tmp("tarstream-ckpt")
    val out = tmp("tarstream-out")
    shard(dir, "part-00000.tar", "a.txt" -> "one", "b.txt" -> "two")
    runOnce(dir, ckpt, out)
    assert(spark.read.parquet(out.getAbsolutePath).select("key")
      .as[String].collect().sorted.toSeq == Seq("a", "b"))
    // two more shards land; the restarted query appends ONLY them
    shard(dir, "part-00001.tar", "c.txt" -> "three")
    shard(dir, "part-00002.tar", "d.txt" -> "four")
    runOnce(dir, ckpt, out)
    assert(spark.read.parquet(out.getAbsolutePath).select("key")
      .as[String].collect().sorted.toSeq == Seq("a", "b", "c", "d"))
  }

  test("maxFilesPerTrigger bounds admission per micro-batch") {
    val dir = tmp("tarstream-mft")
    val ckpt = tmp("tarstream-mft-ckpt")
    for (i <- 0 until 5) shard(dir, f"part-$i%05d.tar", s"k$i.txt" -> s"v$i")
    val q = spark.readStream.format("tar").option("maxFilesPerTrigger", "2")
      .load(dir.getAbsolutePath)
      .selectExpr("key").writeStream.format("memory").queryName("tar_stream_mft")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("tar_stream_mft").count() == 5)
    // AvailableNow drains in bounded batches: 5 files at 2/trigger = 3 batches
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length == 3, progress.map(_.numInputRows).mkString(","))
  }

  test("maxBytesPerTrigger bounds admission by cumulative shard size; " +
      "an oversized shard still flows alone") {
    val dir = tmp("tarstream-mbt")
    val ckpt = tmp("tarstream-mbt-ckpt")
    // 5 shards ~2560 bytes each (512B header + padded data + 1024B EOA);
    // a 6000-byte budget admits two per trigger
    for (i <- 0 until 5) shard(dir, f"part-$i%05d.tar", s"k$i.txt" -> s"v$i")
    val q = spark.readStream.format("tar").option("maxBytesPerTrigger", "6000")
      .load(dir.getAbsolutePath)
      .selectExpr("key").writeStream.format("memory").queryName("tar_stream_mbt")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("tar_stream_mbt").count() == 5)
    // 5 shards at 2 per 6000-byte trigger = 3 batches
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length == 3, progress.map(_.numInputRows).mkString(","))
    // a budget smaller than any single shard must still drain (one shard
    // per trigger), never stall
    val ckpt2 = tmp("tarstream-mbt2-ckpt")
    val q2 = spark.readStream.format("tar").option("maxBytesPerTrigger", "10")
      .load(dir.getAbsolutePath)
      .selectExpr("key").writeStream.format("memory").queryName("tar_stream_mbt2")
      .option("checkpointLocation", ckpt2.getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(spark.table("tar_stream_mbt2").count() == 5)
    assert(q2.recentProgress.count(_.numInputRows > 0) == 5)
  }

  test("maxFiles and maxBytes compose: the tighter bound wins per trigger") {
    val dir = tmp("tarstream-comp")
    val ckpt = tmp("tarstream-comp-ckpt")
    for (i <- 0 until 4) shard(dir, f"part-$i%05d.tar", s"k$i.txt" -> s"v$i")
    // byte budget would admit 2; file budget admits 1 -> 4 batches
    val q = spark.readStream.format("tar")
      .option("maxBytesPerTrigger", "6000").option("maxFilesPerTrigger", "1")
      .load(dir.getAbsolutePath)
      .selectExpr("key").writeStream.format("memory").queryName("tar_stream_comp")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("tar_stream_comp").count() == 4)
    assert(q.recentProgress.count(_.numInputRows > 0) == 4)
  }

  test("grouped streaming: samples assemble inside the micro-batch reader") {
    val dir = tmp("tarstream-grp")
    val ckpt = tmp("tarstream-grp-ckpt")
    shard(dir, "part-00000.tar", "s.txt" -> "text", "s.json" -> "{}")
    val q = spark.readStream.format("tar").option("group", "true")
      .load(dir.getAbsolutePath)
      .selectExpr("key", "map_keys(files) AS exts")
      .writeStream.format("memory").queryName("tar_stream_grp")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("tar_stream_grp")
      .as[(String, Seq[String])].collect().toSeq
    assert(rows.map(r => (r._1, r._2.sorted)) == Seq(("s", Seq("json", "txt"))))
  }

  test("a shard named under the admitted high water fails loudly") {
    val dir = tmp("tarstream-late")
    val ckpt = tmp("tarstream-late-ckpt")
    // one query instance, ProcessingTime trigger: batch 0 admits 00005,
    // then the late 00001 lands and the next discovery must throw
    shard(dir, "part-00005.tar", "a.txt" -> "x")
    val q = spark.readStream.format("tar").load(dir.getAbsolutePath)
      .selectExpr("key").writeStream.format("memory").queryName("tar_stream_late")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      eventually(20000)(spark.table("tar_stream_late").count() == 1)
      shard(dir, "part-00001.tar", "late.txt" -> "y")
      val ex = intercept[Exception](q.awaitTermination(20000))
      assert(exChain(ex).exists(_.contains("increasing order")), ex.toString)
    } finally if (q.isActive) q.stop()
  }

  test("tar shards stream into an attribute sidecar (multimodal tag-once ingest)") {
    import org.apache.spark.sql.functions._
    val dir = tmp("tarstream-side")
    val ckpt = tmp("tarstream-side-ckpt")
    val sidecar = tmp("tarstream-side-store")
    shard(dir, "part-00000.tar", "a.txt" -> "one two three", "b.txt" -> "four")
    val docs = spark.readStream.format("tar").option("exts", "txt")
      .load(dir.getAbsolutePath)
      .select(col("key"), col("payload").cast("string").as("text"))
    val attrs =
      Seq("n_tokens" -> graft.functions.TextFunctions.tokenCount(col("text")))
    val q = graft.streaming.StoreLayout.start(docs, ckpt.getAbsolutePath)(
      graft.streaming.StoreLayout.append(sidecar.getAbsolutePath, _)(
        graft.llm.Attributes.tag(_, "key", attrs)))
    try {
      q.processAllAvailable()
      // a later shard arrives; only IT is tagged (tag once, never re-run)
      shard(dir, "part-00001.tar", "c.txt" -> "five six")
      q.processAllAvailable()
    } finally q.stop()
    val side = graft.streaming.AttributeStream
      .loadSidecar(spark, sidecar.getAbsolutePath).get
      .select(col("key"), col("n_tokens").cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(side == Map("a" -> 3L, "b" -> 1L, "c" -> 2L))
  }

  test("offset json round-trips names with quotes and backslashes") {
    for (n <- Seq("", "plain.tar", "we\"ird\\name.tar")) {
      assert(TarNameOffset.fromJson(TarNameOffset(n).json) == TarNameOffset(n))
    }
  }

  private def eventually(timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond, "condition not met in time")
  }

  private def exChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .flatMap(t => Option(t.getMessage)).toSeq
}
