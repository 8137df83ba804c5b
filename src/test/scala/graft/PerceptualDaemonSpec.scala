package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}

import graft.sources.TarShards
import graft.streaming.Streaming

/** The perceptual incremental dedup store driven PURELY FROM CONFIG as a
  * daemon: WebDataset tar shards stream in (BinaryFields base64), each
  * micro-batch decodes BMP payloads, pHashes them, dedups against the
  * at-rest signature store and within itself, and survivors land in the
  * corpus — with a checkpointed restart that resumes at the next shard
  * and keeps killing against the accumulated store.
  */
class PerceptualDaemonSpec extends SparkSpec {

  /** 8x8 BMP whose 64 pixels are the first 64 chars of `seed` in all
    * three channels (the q_dedup_incremental_image fixture recipe; the
    * header comes from the canonical MultimodalQueries builder).
    */
  private def bmp(seed: String, tweakLast: Boolean = false): Array[Byte] = {
    val s = (seed * 8).take(64).getBytes("ISO-8859-1")
    val px = new Array[Byte](192)
    var i = 0
    while (i < 64) {
      val b = if (tweakLast && i == 63) 126.toByte else s(i)
      px(i * 3) = b; px(i * 3 + 1) = b; px(i * 3 + 2) = b
      i += 1
    }
    graft.queries.MultimodalQueries.bmpHeader(8, 8) ++ px
  }

  private def shard(dir: java.io.File, name: String,
      entries: (String, Array[Byte])*): Unit = {
    val bos = new ByteArrayOutputStream()
    entries.foreach { case (n, d) => TarShards.writeEntry(bos, n, d) }
    bos.write(new Array[Byte](1024))
    val out = new FileOutputStream(new java.io.File(dir, name))
    out.write(bos.toByteArray); out.close()
  }

  test("tar stream -> decode -> pHash -> store dedup from TOML; " +
      "checkpointed restart resumes and kills against the store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-percdaemon").toFile
    val shards = new java.io.File(dir, "shards"); shards.mkdirs()
    val baseSeed = "the quick brown fox jumps over the lazy dog near the barn"
    val otherSeed = "zzzz AAAA 0101 wildly different pixel content 9876 ####"
    // shard 0: base image, its one-pixel near-dup (dies WITHIN the batch),
    // and a clearly distinct image
    shard(shards, "s0.tar",
      "1000.img" -> bmp(baseSeed),
      "1001.img" -> bmp(baseSeed, tweakLast = true),
      "1002.img" -> bmp(otherSeed))
    val toml =
      s"""[fields]
         |names = ["key", "img"]
         |[input]
         |name = "WebDataset"
         |  [input.config]
         |  Path = "${shards.getAbsolutePath}"
         |  BinaryFields = ["img"]
         |  MaxFilesPerTrigger = 1
         |[output]
         |name = "PerceptualDedupStore"
         |  [output.config]
         |  IdField = "key"
         |  PayloadField = "img"
         |  Hash = "phash"
         |  StoreDir = "$dir/store"
         |  CorpusDir = "$dir/corpus"
         |  MaxHamming = 8
         |  RunTag = "{{.RunTag}}"
         |  Rotation = "{{.Rotation}}"
         |""".stripMargin
    val d1 = Streaming.runDaemon(spark, toml, s"$dir/ckpt", triggerMs = 100,
      env = Map.empty)
    d1.processAllAvailable()
    d1.stop()
    def keptIds(): Set[String] =
      spark.read.parquet(s"$dir/corpus").select("key")
        .collect().map(_.getString(0)).toSet
    assert(keptIds() == Set("1000", "1002"))

    // shard 1 arrives: a cross-batch dup of 1000 (dies against the STORE)
    // and a fresh image; the restarted daemon resumes from the checkpoint
    // (shard 0 is NOT reprocessed) and keeps exactly the fresh one
    shard(shards, "s1.tar",
      "2000.img" -> bmp(baseSeed),
      "2001.img" -> bmp("fresh totally new content 4242 abcdef ~~~ qqq"))
    val d2 = Streaming.runDaemon(spark, toml, s"$dir/ckpt", triggerMs = 100,
      env = Map.empty)
    d2.processAllAvailable()
    d2.stop()
    assert(keptIds() == Set("1000", "1002", "2001"))
    // the store accumulated exactly the kept signatures
    val sigs = spark.read.parquet(s"$dir/store").select("__id")
      .collect().map(_.getLong(0)).toSet
    assert(sigs == Set(1000L, 1002L, 2001L))
  }
}
