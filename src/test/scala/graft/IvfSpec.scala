package graft

import org.apache.spark.sql.functions._

import graft.llm.{Ivf, Similarity}

/** IVF ANN: codebook training, exactness at full probe, recall under
  * partial probe, and the plan-shape contract.
  */
class IvfSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.core.Graft.table(spark, sf, "embeddings")

  test("train returns nlist unit-norm centroids, deterministically") {
    val a = Ivf.train(emb, "embedding", dim = 64, nlist = 8, iters = 2)
    val b = Ivf.train(emb, "embedding", dim = 64, nlist = 8, iters = 2)
    assert(a.length == 8 && a.forall(_.length == 64))
    for (c <- a) {
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"non-unit centroid norm $n")
    }
    // deterministic init + deterministic assignment; the mean aggregate is
    // the only float-order-sensitive step, so allow tiny drift
    for ((ca, cb) <- a.zip(b); (x, y) <- ca.zip(cb))
      assert(math.abs(x - y) < 1e-9)
  }

  test("nprobe = nlist is exactly brute force") {
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 4, dim = 64)
      .orderBy("query_id", "rank").collect().toSeq
    val ivf = Ivf.ivfTopK(emb, q, "vec_id", "embedding", dim = 64, k = 4,
      nlist = 8, nprobe = 8)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ivf == exact)
  }

  test("ivfTopKAssigned over a stored (id, cell, vec) table equals direct ivfTopK") {
    val q = emb.filter(col("vec_id") < 5)
    val cents = Ivf.train(emb, "embedding", dim = 64, nlist = 8)
    val direct = Ivf.ivfTopK(emb, q, "vec_id", "embedding", dim = 64, k = 4,
        nlist = 8, nprobe = 3, codebook = Some(cents))
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val viaStored = Ivf.ivfTopKAssigned(
        Ivf.assign(emb, "vec_id", "embedding", cents), q, "vec_id", "vec_id", "embedding",
        cents, k = 4, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(viaStored.toSeq == direct.toSeq)
  }

  test("partial probe keeps high top-1 recall on planted duplicates") {
    // plant exact duplicates: the duplicate lands in the same cell as the
    // original, so even nprobe=1 must rank it first (cosine 1.0)
    val planted = emb.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 100000)
    val corpus = emb.unionByName(planted)
    val hits = Ivf.ivfTopK(corpus, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      dim = 64, k = 1, nlist = 8, nprobe = 1)
      .filter(col("neighbor_id") === col("query_id") + 100000 && col("cosine") === 1.0)
      .count()
    assert(hits == 10, s"expected all 10 planted duplicates as top-1, got $hits")
  }

  test("promoteServing: cell-partitioned snapshot; probes prune the file " +
      "listing statically and match the ingest-store search") {
    import graft.streaming.StoreLayout
    val cents = Ivf.train(emb, "embedding", dim = 64, nlist = 8)
    val base = java.nio.file.Files.createTempDirectory("ivf-serving").toString
    val store = s"$base/store"
    val serving = s"$base/serve"
    val fn = StoreLayout.append(store)(Ivf.assign(_, "vec_id", "embedding", cents))
    fn(emb.filter(col("vec_id") % 2 === 0), 0L)
    fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    val v1 = StoreLayout.publishServing(spark, store, serving, Seq("cell"))
    assert(v1.exists(_.startsWith("serve=1-")), s"unexpected version: $v1")
    val served = StoreLayout.servingSnapshot(spark, serving).get
    val queries = emb.filter(col("vec_id") < 4)
    val result = Ivf.ivfTopKServing(served, queries, "vec_id", "vec_id",
      "embedding", cents, k = 5, nprobe = 2)
    // the plan contract: the literal cell filter reaches the FILE LISTING
    val cells = Ivf.probedCells(queries, "embedding", cents, 2).toSet
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cell")),
      s"probe must prune partitions statically:\n$plan")
    val scan = served.filter(col("cell").isin(cells.toSeq.sorted.map(Int.box): _*))
      .queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
    val dirs = scan.selectedPartitions.toPartitionArray.map(_.urlEncodedPath).toSeq
    assert(dirs.nonEmpty && dirs.forall(f => cells.exists(c => f.contains(s"cell=$c"))),
      s"scan opened files outside the probed cells $cells:\n${dirs.mkString("\n")}")
    assert(scan.selectedPartitions.partitionCount <= cells.size)
    // parity: the pruned serving search equals the plain assigned search
    val full = StoreLayout.load(spark, store).get
    val direct = Ivf.ivfTopKAssigned(full, queries, "vec_id", "vec_id",
        "embedding", cents, k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(result.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq ==
      direct.toSeq, "serving search diverged from the ingest-store search")
  }

  test("plan shape: broadcast probe join, bounded top-k, codegen assignment") {
    val df = Ivf.ivfTopK(emb, emb.limit(3), "vec_id", "embedding", dim = 64, k = 3,
      nlist = 8, nprobe = 2)
    // AQE inserts codegen stages at materialization — execute, then read
    // the final plan (drop the appended pre-AQE "Initial Plan" section)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("collect_top_k") && !p.contains("Window"), p)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("nearest_cells")),
      s"cell assignment fell out of whole-stage codegen:\n$p")
  }
}
