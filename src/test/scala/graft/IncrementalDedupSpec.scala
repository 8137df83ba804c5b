package graft

import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** [[Dedup.incrementalDedupVerified]] — new-batch-vs-at-rest-store dedup.
  * Semantics checked against a brute-force exact-jaccard reference, and
  * the at-rest contract checked by round-tripping the signature store
  * through parquet (the store read back from disk must behave exactly
  * like the inline signatures).
  */
class IncrementalDedupSpec extends SparkSpec {

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "in the warm sun near the old barn door every single afternoon"
  private val other =
    "completely different text about spark clusters and parquet files " +
      "with nothing shared at all in any shingle of this string whatsoever"

  // store ids: 100, 102; batch ids: 1, 5, 7, 9, 11 (disjoint id spaces)
  private def store = {
    import spark.implicits._
    Seq(
      (100L, base),                               // kills batch near-dups of base
      (102L, "unrelated archive entry about geology rocks minerals and " +
        "sediment layers deposited over millions of years in rivers"),
    ).toDF("doc_id", "text")
  }

  private def batch = {
    import spark.implicits._
    Seq(
      (1L, base),                                 // exact dup of store 100 -> dies
      (5L, base.replace("lazy", "sleepy")),       // near-dup of store 100 -> dies
      (7L, other),                                // unique -> survives
      (9L, other.replace("shingle", "fragment")), // near-dup of smaller batch 7 -> dies
      (11L, ""),                                  // no shingles -> survives untouched
    ).toDF("doc_id", "text")
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete()
  }

  private def exactJaccard(a: String, b: String, k: Int = 3): Double = {
    def sh(t: String) = t.trim.split("\\s+").filter(_.nonEmpty).sliding(k)
      .filter(_.length == k).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    val union = sa.size + sb.size - (sa & sb).size
    if (union == 0) 0.0 else (sa & sb).size.toDouble / union
  }

  test("batch docs die to store matches (either id order) and smaller batch ids") {
    import spark.implicits._
    val kept = Dedup.incrementalDedupVerified(batch, "doc_id", "text",
        atRestSigs = Dedup.minhashSignatures(store, "doc_id", "text"),
        atRestDocs = store, threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(7L, 11L))
    // store id 100 > batch ids 1/5: the store must kill in either order
    assert(exactJaccard(base, base.replace("lazy", "sleepy")) >= 0.7)
  }

  test("matches brute-force exact-jaccard ground truth on a random corpus") {
    import spark.implicits._
    val vocab = Array("alpha", "beta", "gamma", "delta")
    for (seed <- 1L to 4L) {
      val rnd = new scala.util.Random(seed)
      val all = (0L until 30L).map { id =>
        val n = rnd.nextInt(14)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val (oldRows, batchRows) = all.partition(_._1 % 3 == 0)
      val expected = batchRows.collect {
        case (id, text) if !(
          oldRows.exists { case (_, ot) => exactJaccard(text, ot) >= 0.7 } ||
          batchRows.exists { case (oid, ot) =>
            oid < id && exactJaccard(ot, text) >= 0.7 }) => id
      }.toSet
      val oldDf = oldRows.toDF("doc_id", "text")
      val got = Dedup.incrementalDedupVerified(batchRows.toDF("doc_id", "text"),
          "doc_id", "text",
          atRestSigs = Dedup.minhashSignatures(oldDf, "doc_id", "text"),
          atRestDocs = oldDf, threshold = 0.7)
        .select("doc_id").as[Long].collect().toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("sequential batches leave a pairwise near-dup-free corpus (the store invariant)") {
    // single-pass dedup may drop a doc whose only witness also died (the
    // documented non-transitive approximation), but the KEPT set is
    // guaranteed clean: every batch is checked against all earlier
    // survivors (the store) and within itself in both id orders
    import spark.implicits._
    val vocab = Array("red", "green", "blue", "gold")
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      val all = (0L until 36L).map { id =>
        (id, Seq.fill(4 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val batches = all.grouped(12).toSeq
      var keptSoFar = Seq.empty[(Long, String)]
      for (b <- batches) {
        val oldDf = keptSoFar.toDF("doc_id", "text")
        val kept = Dedup.incrementalDedupVerified(b.toDF("doc_id", "text"),
            "doc_id", "text",
            atRestSigs = Dedup.minhashSignatures(oldDf, "doc_id", "text"),
            atRestDocs = oldDf, threshold = 0.7)
          .as[(Long, String)].collect().toSeq
        keptSoFar ++= kept
      }
      for {
        (ia, ta) <- keptSoFar; (ib, tb) <- keptSoFar if ia < ib
      } assert(exactJaccard(ta, tb) < 0.7,
        s"seed=$seed: kept pair ($ia,$ib) has jaccard >= 0.7")
    }
  }

  test("signature store round-trips through parquet (the at-rest contract)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sigstore").toFile
    try {
      Dedup.minhashSignatures(store, "doc_id", "text")
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
      val atRest = spark.read.parquet(dir.getAbsolutePath)
      val kept = Dedup.incrementalDedupVerified(batch, "doc_id", "text",
          atRestSigs = atRest, atRestDocs = store, threshold = 0.7)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(7L, 11L))
    } finally rmTree(dir)
  }

  test("embedding sibling: store kills exact copies, negations and strangers survive") {
    import spark.implicits._
    val store = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (101L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),    // copy of store 100 -> dies
      (2L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),   // negation -> survives
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),    // orthogonal stranger -> survives
      (5L, Array(0.0f, 0.0f, 0.99f, 0.1f)),   // near-dup of smaller batch 3 -> dies
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-embstore").toFile
    try {
      // round-trip the signature store through parquet (the at-rest contract)
      Dedup.embeddingSignatures(store, "vec_id", "embedding", 4,
          nBits = 4, seeds = Seq(42L, 1042L, 7L, 99L))
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
      val kept = Dedup.incrementalEmbeddingDedup(batch, "vec_id", "embedding",
          atRestSigs = spark.read.parquet(dir.getAbsolutePath),
          atRestVecs = store, dim = 4, threshold = 0.9,
          nBits = 4, seeds = Seq(42L, 1042L, 7L, 99L))
        .select("vec_id").as[Long].collect().toSet
      assert(kept == Set(2L, 3L))
    } finally rmTree(dir)
  }

  test("embedding sibling: a planted mega-cluster bucket is capped by default") {
    import spark.implicits._
    // 4097 identical vectors land in one hyperplane bucket per seed,
    // tripping the default maxBucketSize=4096 skew fuse: the bucket is
    // dropped instead of emitting ~8.4M candidate pairs, so the
    // mega-cluster survives LSH dedup intact (exact dedup's job comes
    // first). A 3-member cluster stays under the cap and still dedups.
    val hot = spark.range(0, 4097).select(col("id").as("vec_id"),
      array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f)).as("embedding"))
    val small = Seq(
      (10000L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (10001L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (10002L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val emptyStore = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val kept = Dedup.incrementalEmbeddingDedup(hot.unionByName(small),
        "vec_id", "embedding",
        atRestSigs = Dedup.embeddingSignatures(emptyStore, "vec_id", "embedding", 4),
        atRestVecs = emptyStore, dim = 4, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert((0L until 4097L).forall(kept.contains), "capped mega-cluster must survive")
    assert(kept.intersect(Set(10000L, 10001L, 10002L)) == Set(10000L),
      s"small cluster must still dedup: ${kept.filter(_ >= 10000L)}")
  }

  test("plan: no cartesian product; store text only read behind the semi-join") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dir = java.nio.file.Files.createTempDirectory("graft-storetext").toFile
    val path = new java.io.File(dir, "corpus").getAbsolutePath
    def storeText(s: FileSourceScanExec) =
      s.relation.location.rootPaths.exists(_.toString.endsWith("/corpus")) &&
        s.output.exists(_.name == "text")
    // the store's text is reachable from `p` without passing a semi-join
    def unfiltered(p: SparkPlan): Boolean = p match {
      case j: BaseJoinExec if j.joinType == LeftSemi => false
      case s: FileSourceScanExec => storeText(s)
      case o => planChildren(o).exists(unfiltered)
    }
    try {
      store.write.parquet(path)
      // at scale nothing broadcasts on size, so plan as a shuffle join would
      val nodes = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val kept = Dedup.incrementalDedupVerified(batch, "doc_id", "text",
          atRestSigs = Dedup.minhashSignatures(store, "doc_id", "text"),
          atRestDocs = spark.read.parquet(path), threshold = 0.7)
        assert(col1[Long](kept.select("doc_id")).toSet == Set(7L, 11L))
        planNodes(kept.queryExecution.executedPlan)
      }
      val plan = nodes.map(_.nodeName).mkString(", ")
      assert(!nodes.exists(_.nodeName.contains("CartesianProduct")), plan)
      assert(nodes.exists { case s: FileSourceScanExec => storeText(s); case _ => false },
        s"the store's text is never scanned: $plan")
      val leaks = nodes.collect { case e: ShuffleExchangeExec if unfiltered(e.child) => e }
      assert(leaks.isEmpty, s"store text shuffled before the semi-join:\n${leaks.mkString("\n")}")
    } finally rmTree(dir)
  }
}
