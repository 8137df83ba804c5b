package graft
import graft.core.Graft
import org.apache.spark.sql.functions._

/** Scale-curve probe for the round-13 trainers and the multi-signature
  * perceptual tier: 1x/2x/4x copies of the sf0.1 documents with shifted
  * ids. For the TRAINERS the copies are the flattering shape on the
  * distinct-word axis (vocabulary constant, frequencies scale) but the
  * honest one on the corpus axis — the word-frequency aggregation's
  * input doubles per multiple, which is exactly the cost a 100 TB corpus
  * pays (vocabularies saturate long before corpora do). For the video
  * multi-sig dedup the copies are ADVERSARIAL: the batch is the shifted
  * copy of the base store, so every batch object collides at every
  * keyframe position and must die.
  */
object ProfTrainScale {
  def main(args: Array[String]): Unit = {
    val spark = Graft.localSession("train-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val base = Graft.table(spark, "/root/testdata/sf0.1", "documents")
    for (mult <- Seq(1, 2, 4)) {
      val corpus = (0 until mult).map(m =>
          base.withColumn("doc_id", col("doc_id") + lit(m * 10000000L)))
        .reduce(_ unionByName _)
      val n = corpus.count()
      def time(tag: String)(body: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = body
        println(f"[probe] mult=$mult n=$n $tag rows=$rows " +
          f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      time("unigram_train") {
        graft.llm.UnigramTrain.train(corpus, "text").count()
      }
      time("wordpiece_train") {
        graft.llm.Bpe.trainWordpiece(corpus, col("text"), steps = 4)._2.size.toLong
      }
      // video multi-sig: store = base fingerprints, batch = this multiple's
      // copies (every one collides at both keyframe positions)
      time("video_multisig_dedup") {
        val b = col("text").cast("binary")
        def sigsFor(df: org.apache.spark.sql.DataFrame) = {
          // signatures straight from pixel windows (the pHash input path
          // without container demux — the dedup machinery under test is
          // the banding + all-positions verify, not the codec)
          val docs = df.filter(length(col("text")) >= 128)
          graft.llm.Multimodal.pHash(graft.llm.Multimodal.decodeImages(
              docs.select(col("doc_id"),
                explode(array(lit(0), lit(1))).as("fx"))
                .join(docs.select(col("doc_id"), b.as("tb")), "doc_id")
                .select((col("doc_id") * 4 + col("fx")).as("fid"),
                  concat(lit(ProfTrainScaleFixtures.hdr),
                    concat((1 to 64).flatMap(i => Seq.fill(3)(
                      col("tb").substr(col("fx") * 64 + i, lit(1)))): _*))
                    .as("payload")),
              "fid", "payload", codecs = graft.llm.Multimodal.JvmCodecs))
            .select(floor(col("doc_id") / 4).cast("long").as("__id"),
              pmod(col("doc_id"), lit(4)).cast("int").as("fx"), col("phash"))
            .groupBy("__id")
            .agg(transform(
              array_sort(collect_list(struct(col("fx"), col("phash")))),
              e => e.getField("phash")).as("__hsigs"))
        }
        val store = sigsFor(base)
        val batchDocs = corpus.withColumn("doc_id", col("doc_id") + 100000000L)
        graft.llm.Dedup.incrementalHammingDedupMulti(
          batchDocs.select("doc_id"), "doc_id", sigsFor(batchDocs), store,
          maxHamming = 8).count()
      }
    }
    spark.stop()
  }
}

object ProfTrainScaleFixtures {
  // the canonical 8×8 24bpp BMP header — one builder for every fixture
  val hdr: Array[Byte] = graft.queries.MultimodalQueries.bmpHeader(8, 8)
}
