package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.{ExactSubstrStream, StoreLayout}

/** The exact-substring incremental store lifecycle: within-batch
  * first-occurrence keeps, cross-batch kills against the at-rest window
  * set (store is canonical — even a batch's first occurrence dies),
  * cleaned-text windows accumulate, replay idempotence, and the
  * rebuild-from-corpus RTBF path.
  */
class ExactSubstrStreamSpec extends SparkSpec {
  import spark.implicits._

  private def dirs(): (String, String) = {
    val d = Files.createTempDirectory("graft-substr-stream").toFile
    d.deleteOnExit()
    (s"$d/store", s"$d/corpus")
  }

  private def corpusMap(corpusDir: String): Map[Long, String] =
    spark.read.parquet(corpusDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("within-batch first keeps; cross-batch repeats die against the store") {
    val (store, corpus) = dirs()
    val fn = ExactSubstrStream.batchFunction("doc_id", "text", store, corpus,
      k = 3)
    // batch 0: doc 1 is the source; doc 2 embeds doc 1's "b c d e" run
    fn(Seq((1L, "a b c d e f"), (2L, "x b c d e y")).toDF("doc_id", "text"), 0L)
    assert(corpusMap(corpus) == Map(1L -> "a b c d e f", 2L -> "x y"))
    // batch 1: doc 10 repeats doc 1's run — even though it is batch 1's
    // FIRST occurrence, the store's copy is the keeper; doc 11 is novel
    fn(Seq((10L, "p q a b c d r"), (11L, "totally novel words here now"))
      .toDF("doc_id", "text"), 1L)
    val got = corpusMap(corpus)
    assert(got(10L) == "p q r")
    assert(got(11L) == "totally novel words here now")
    // and doc 11's windows are now at rest: batch 2 repeating them dies
    fn(Seq((20L, "prefix totally novel words here now suffix"))
      .toDF("doc_id", "text"), 2L)
    assert(corpusMap(corpus)(20L) == "prefix suffix")
  }

  test("the store holds the CLEANED text's windows (new adjacencies count)") {
    val (store, corpus) = dirs()
    val fn = ExactSubstrStream.batchFunction("doc_id", "text", store, corpus,
      k = 3)
    // doc 2's removal of "b c d" creates the NEW adjacency "x e y" in the
    // cleaned text — a later doc repeating "x e y" must die against it
    fn(Seq((1L, "a b c d e"), (2L, "x b c d x e y")).toDF("doc_id", "text"), 0L)
    assert(corpusMap(corpus)(2L) == "x x e y")
    fn(Seq((10L, "q x e y q2")).toDF("doc_id", "text"), 1L)
    assert(corpusMap(corpus)(10L) == "q q2")
  }

  test("replayed batch overwrites its own partition and never dedupes " +
      "against its previous attempt") {
    val (store, corpus) = dirs()
    val fn = ExactSubstrStream.batchFunction("doc_id", "text", store, corpus,
      k = 3)
    fn(Seq((1L, "a b c d e")).toDF("doc_id", "text"), 0L)
    val b1 = Seq((10L, "m n o p q")).toDF("doc_id", "text")
    fn(b1, 1L)
    val before = corpusMap(corpus)
    fn(b1, 1L) // replay: must not kill doc 10 against its own attempt
    assert(corpusMap(corpus) == before)
    assert(before(10L) == "m n o p q")
  }

  test("SubstrDedupStore TOML daemon: file-watch stream, store kills " +
      "across micro-batches, checkpointed restart") {
    val d = Files.createTempDirectory("graft-substr-daemon").toFile
    val in = new java.io.File(d, "in"); in.mkdirs()
    def drop(name: String, lines: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(in, name))
      lines.foreach(w.println); w.close()
    }
    drop("f0.csv", "1,a b c d e", "2,x b c d y")
    val toml =
      s"""[fields]
         |names = ["doc_id", "text"]
         |[input]
         |name = "Kinesis"
         |  [input.config]
         |  Stream = "${in.getAbsolutePath}"
         |[output]
         |name = "SubstrDedupStore"
         |  [output.config]
         |  IdField = "doc_id"
         |  Field = "text"
         |  K = 3
         |  StoreDir = "$d/store"
         |  CorpusDir = "$d/corpus"
         |  RunTag = "{{.RunTag}}"
         |  Rotation = "{{.Rotation}}"
         |""".stripMargin
    val d1 = graft.streaming.Streaming.runDaemon(spark, toml, s"$d/ckpt",
      triggerMs = 100, env = Map.empty)
    d1.processAllAvailable()
    d1.stop()
    def got(): Map[String, String] =
      spark.read.parquet(s"$d/corpus").select("doc_id", "text")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got() == Map("1" -> "a b c d e", "2" -> "x y"))
    // a later file repeats doc 1's run; the restarted daemon kills it
    // against the store and does not reprocess f0
    drop("f1.csv", "10,z b c d w", "11,totally fresh words here")
    val d2 = graft.streaming.Streaming.runDaemon(spark, toml, s"$d/ckpt",
      triggerMs = 100, env = Map.empty)
    d2.processAllAvailable()
    d2.stop()
    assert(got() == Map("1" -> "a b c d e", "2" -> "x y",
      "10" -> "z w", "11" -> "totally fresh words here"))
  }

  test("the committed store snapshot materializes ONCE per turn (spill-" +
      "backed persist consumed by both the flag join and the append " +
      "anti-join) and is released when the turn ends") {
    // the cacheManager.isEmpty assertion below is session-global: release
    // ExactSubstr's documented one-slot suffix-occurrence cache first, or
    // a suite that legitimately left it persisted (PlanShapeSpec's
    // suffixDedupStats plan checks) fails this test by ordering alone
    graft.llm.ExactSubstr.releaseCache()
    val (store, corpus) = dirs()
    val fn = ExactSubstrStream.batchFunction("doc_id", "text", store, corpus,
      k = 3)
    fn(Seq((1L, "a b c d e")).toDF("doc_id", "text"), 0L)
    // capture every query executed during batch 1's turn
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      fn(Seq((10L, "a b c d z")).toDF("doc_id", "text"), 1L)
      // QueryExecutionListener events post asynchronously
      val deadline = System.nanoTime() + 10e9.toLong
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val turn = plans.asScala.toSeq
    // the store's consumers read the CACHED snapshot (InMemoryTableScan),
    // not a second parquet scan of the store directory
    assert(turn.exists(_.contains("InMemoryTableScan")),
      s"expected the store snapshot to be consumed from cache:\n" +
        turn.mkString("\n----\n").take(4000))
    // the snapshot does not outlive its turn (unpersist in the finally):
    // a leaked cache would pin O(store) blocks across every later batch
    assert(spark.sharedState.cacheManager.isEmpty,
      "store snapshot cache leaked past the turn")
    // and the dedup semantics are unchanged: batch 1's repeat died
    assert(corpusMap(corpus)(10L) == "z")
  }

  test("store outputs under a daemon fail LOUDLY at start unless both " +
      "{{.RunTag}} and {{.Rotation}} are wired") {
    val d = Files.createTempDirectory("graft-substr-guard").toFile
    val in = new java.io.File(d, "in"); in.mkdirs()
    // Rotation omitted → static default "0": every micro-batch would
    // overwrite the single batch=<tag>-0 partition, silently discarding
    // previously landed rows — the guard must refuse to start
    val toml =
      s"""[fields]
         |names = ["doc_id", "text"]
         |[input]
         |name = "Kinesis"
         |  [input.config]
         |  Stream = "${in.getAbsolutePath}"
         |[output]
         |name = "SubstrDedupStore"
         |  [output.config]
         |  IdField = "doc_id"
         |  Field = "text"
         |  StoreDir = "$d/store"
         |  CorpusDir = "$d/corpus"
         |  RunTag = "{{.RunTag}}"
         |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streaming.runDaemon(spark, toml, s"$d/ckpt",
        triggerMs = 100, env = Map.empty)
    }
    assert(e.getMessage.contains("store output"))
    // BATCH topologies stay free to pin a static rotation (no daemon, no
    // overwrite hazard): the same config compiles and runs via Topology
    assert(!new java.io.File(s"$d/corpus").exists())
  }

  test("batchFunction returns the landed-row count (empty batch included)") {
    val (store, corpus) = dirs()
    val fn = ExactSubstrStream.batchFunction("doc_id", "text", store, corpus,
      k = 3)
    assert(fn(Seq((1L, "a b c d e"), (2L, "x b c d y")).toDF("doc_id", "text"),
      0L) == 2L)
    // an EMPTY micro-batch (benign idle trigger) lands zero rows and must
    // return 0, not throw on a part-file-less partition read-back
    assert(fn(Seq.empty[(Long, String)].toDF("doc_id", "text"), 1L) == 0L)
  }

  test("streaming DECONTAMINATION: a store prebuilt from a benchmark " +
      "corpus cuts benchmark excerpts out of every training batch") {
    val d = Files.createTempDirectory("graft-decontam").toFile
    // the "benchmark" corpus (eval questions that must never leak into
    // training data) becomes the at-rest window set via rebuildStore
    Seq((1L, "what is the capital of france"),
        (2L, "name the largest planet in our solar system"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/bench/batch=seed-0")
    ExactSubstrStream.rebuildStore(spark, s"$d/bench", s"$d/store",
      "doc_id", "text", k = 4)
    // training batches then clean against it — contaminated spans cut at
    // exact boundaries, fresh text untouched
    val fn = ExactSubstrStream.batchFunction("doc_id", "text", s"$d/store",
      s"$d/corpus", k = 4)
    fn(Seq(
      (100L, "quiz leak what is the capital of france end of doc"),
      (101L, "clean document with no benchmark overlap at all"))
      .toDF("doc_id", "text"), 0L)
    val got = corpusMap(s"$d/corpus")
    assert(got(100L) == "quiz leak end of doc")
    assert(got(101L) == "clean document with no benchmark overlap at all")
  }

  test("rebuildStore: after RTBF corpus deletion, a rebuilt store " +
      "re-admits the forgotten content but still blocks kept content") {
    val (store, corpus) = dirs()
    val fn = ExactSubstrStream.batchFunction("doc_id", "text", store, corpus,
      k = 3)
    fn(Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text"), 0L)
    // forget doc 1 (corpus rows first — the content-keyed store cannot be
    // point-deleted), then rebuild the window store from what survives
    StoreLayout.deleteIds(spark, corpus, "doc_id",
      Seq(1L).toDF("doc_id"))
    val d = Files.createTempDirectory("graft-substr-rebuild").toFile
    ExactSubstrStream.rebuildStore(spark, corpus, s"$d/store2",
      "doc_id", "text", k = 3)
    val fn2 = ExactSubstrStream.batchFunction("doc_id", "text",
      s"$d/store2", corpus, k = 3)
    fn2(Seq((30L, "alpha beta gamma delta"), (31L, "one two three four"))
      .toDF("doc_id", "text"), 1L)
    val got = corpusMap(corpus)
    assert(got(30L) == "alpha beta gamma delta") // forgotten -> re-admitted
    assert(got(31L) == "")                       // kept -> still blocked
  }
}
