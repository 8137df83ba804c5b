package graft

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import graft.functions.TextFunctions
import graft.llm.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Scale-curve probe for [[Dedup.incrementalDedupVerified]] over the sf0.1
  * documents corpus, along two axes. Each turn prints its wall time, the
  * bytes of the files its scans selected, and, summed over its tasks, the
  * input bytes the tasks reported and the task time. On a local
  * filesystem the task figure reads about 1% of the scanned files' size,
  * so the file bytes are the measure of what a turn scans.
  *
  *  - Batch axis (store fixed): the store is the corpus; the new batch is
  *    1x/2x/4x exact copies of it with shifted ids — the adversarial shape
  *    where EVERY batch document collides with a store document in EVERY
  *    band and must die. Cost must scale with the (linear) collision
  *    count, not the pair square.
  *  - Store axis (batch fixed): the batch is every tenth corpus document
  *    with shifted ids; the store is written once as parquet signatures
  *    and text, like [[graft.streaming.IncrementalDedupStream]]'s, and is
  *    read at 1x/2x/4x/8x copies of the corpus. Copy 1 is the corpus
  *    itself; copies 2 and up suffix every token with the copy number, so
  *    they collide with nothing and the collision count stays fixed while
  *    the store grows. Whatever grows here is store work that a turn
  *    bounded by its collisions would not do.
  *
  * Invariant on both axes, checked: kept = the batch docs with < shingleK
  * tokens (no signature, so never a candidate).
  * Usage: Test/runMain graft.ProfIncrementalScale
  */
object ProfIncrementalScale {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Graft.localSession("incremental-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val bytesRead = new AtomicLong
    val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytesRead.addAndGet(m.inputMetrics.bytesRead)
          taskMs.addAndGet(m.executorRunTime)
        }
    })
    val lastRun = new AtomicReference[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lastRun.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }).flatMap(nodes)
    def turn(label: String)(kept: => Long): Long = {
      Thread.sleep(500) // listener events post asynchronously
      bytesRead.set(0); taskMs.set(0); lastRun.set(null)
      val t0 = System.nanoTime()
      val n = kept
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val scanned = Option(lastRun.get).toSeq.flatMap(qe => nodes(qe.executedPlan))
        .collect { case s: FileSourceScanExec => s.metrics.get("filesSize").fold(0L)(_.value) }.sum
      println(f"[probe] $label kept=$n time=$wall%.2f s scannedFiles=${scanned / 1e6}%.2f MB " +
        f"taskBytesRead=${bytesRead.get / 1e6}%.2f MB taskTime=${taskMs.get / 1e3}%.2f s")
      n
    }
    val store = graft.core.Graft.table(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text")
    val sigs = Dedup.minhashSignatures(store, "doc_id", "text")
    val nStore = store.count()
    def short(df: DataFrame) = df.filter(size(TextFunctions.tokens(col("text"))) < 3).count()
    val nShort = short(store)
    for (mult <- Seq(1, 2, 4)) {
      val batch = (1 to mult).map(m =>
        store.withColumn("doc_id", col("doc_id") + lit(m * 10000000L))).reduce(_ unionByName _)
      val kept = turn(s"batch-axis store=$nStore batch=${nStore * mult} mult=$mult") {
        Dedup.incrementalDedupVerified(batch, "doc_id", "text",
          atRestSigs = sigs, atRestDocs = store, threshold = 0.7).count()
      }
      require(kept == nShort * mult,
        s"kept $kept at ${mult}x, expected the ${nShort * mult} batch docs under 3 tokens")
    }

    val dir = java.nio.file.Files.createTempDirectory("incremental-scale-store").toFile
    try {
      val copies = 8
      for (m <- 1 to copies) {
        val copy = if (m == 1) store else store.select(
          (col("doc_id") + lit(m * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1~$m").as("text"))
        Dedup.minhashSignatures(copy, "doc_id", "text").write.parquet(s"$dir/sigs/$m")
        copy.write.parquet(s"$dir/corpus/$m")
      }
      val batch = store.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(100000000L))
      val (nBatch, batchShort) = (batch.count(), short(batch))
      for (mult <- Seq(1, 2, 4, 8)) {
        def at(kind: String) = spark.read.parquet((1 to mult).map(m => s"$dir/$kind/$m"): _*)
        val kept = turn(s"store-axis store=${nStore * mult} batch=$nBatch mult=$mult") {
          Dedup.incrementalDedupVerified(batch, "doc_id", "text",
            atRestSigs = at("sigs"), atRestDocs = at("corpus"), threshold = 0.7).count()
        }
        require(kept == batchShort,
          s"kept $kept at ${mult}x, expected the $batchShort batch docs under 3 tokens")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete()
      }
      rm(dir)
    }
    spark.stop()
  }
}
