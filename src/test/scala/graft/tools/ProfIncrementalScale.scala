package graft

import graft.functions.TextFunctions
import graft.llm.Dedup
import org.apache.spark.sql.functions._

/** Scale-curve probe for [[Dedup.incrementalDedupVerified]]: the at-rest
  * store is the sf0.1 documents corpus; the new batch is 1x/2x/4x exact
  * copies of it with shifted ids — the adversarial shape where EVERY batch
  * document collides with a store document in EVERY band and must die.
  * Invariant at all multiples, checked: kept = the batch docs with <
  * shingleK tokens (no signature, so never a candidate); cost must scale
  * with the (linear) collision count, not the pair square.
  */
object ProfIncrementalScale {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Graft.localSession("incremental-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val store = graft.core.Graft.table(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text")
    val sigs = Dedup.minhashSignatures(store, "doc_id", "text")
    val nStore = store.count()
    val nShort = store.filter(size(TextFunctions.tokens(col("text"))) < 3).count()
    for (mult <- Seq(1, 2, 4)) {
      val batch = (1 to mult).map(m =>
        store.withColumn("doc_id", col("doc_id") + lit(m * 10000000L))).reduce(_ unionByName _)
      val t0 = System.nanoTime()
      val kept = Dedup.incrementalDedupVerified(batch, "doc_id", "text",
        atRestSigs = sigs, atRestDocs = store, threshold = 0.7).count()
      println(f"[probe] store=$nStore batch=${nStore * mult} mult=$mult " +
        f"kept=$kept time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      require(kept == nShort * mult,
        s"kept $kept at ${mult}x, expected the ${nShort * mult} batch docs under 3 tokens")
    }
    spark.stop()
  }
}
