package graft

import org.apache.spark.sql.functions._

import graft.functions.{CellResidual, NearestCells}
import graft.llm.{IvfPq, Pq}

/** Composed IVF-PQ index: residual correctness, encode contract, the
  * pruning-vs-recall behavior of the probe join, trained-index quality
  * (residual codebooks beat raw-vector codebooks at equal memory), and
  * the plan-shape contract (equi-join pruning, not a cross join).
  */
class IvfPqSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.core.Graft.table(spark, sf, "embeddings")

  private val m = 4
  private val ksub = 8
  private val dsub = 16
  private val nlist = 8
  private lazy val coarse = IvfPq.deterministicCoarse(nlist, dim = 64, seed = 11L, scale = 0.125)
  private lazy val model = Pq.deterministicModel(m, ksub, dsub, seed = 7L, scale = 0.125)

  test("cell_residual subtracts the assigned centroid, element-exact") {
    val rows = emb.limit(20).select(
        col("embedding").cast("array<double>").as("v"),
        element_at(NearestCells.l2(col("embedding"), coarse, 1), 1).as("cell"),
        CellResidual(col("embedding"),
          element_at(NearestCells.l2(col("embedding"), coarse, 1), 1), coarse).as("r"))
      .collect()
    for (row <- rows) {
      val v = row.getSeq[Double](0)
      val cell = row.getInt(1)
      val r = row.getSeq[Double](2)
      assert(cell >= 0 && cell < nlist)
      assert(r.length == v.length)
      for (i <- v.indices)
        assert(r(i) == v(i) - coarse(cell)(i), s"dim $i of cell $cell")
    }
  }

  test("cell_residual: invalid cell yields the vector unchanged; null cell -> null") {
    val df = spark.sql("SELECT array(1.0D, 2.0D) AS v, CAST(NULL AS INT) AS nc")
    val r = df.select(
      CellResidual(col("v"), lit(-1), coarse).as("a"),
      CellResidual(col("v"), col("nc"), coarse).as("b")).head()
    assert(r.getSeq[Double](0) == Seq(1.0, 2.0))
    assert(r.isNullAt(1))
  }

  test("encode emits (cell in [0,nlist), m codes in [0,ksub)) per row") {
    val rows = IvfPq.encode(emb, "vec_id", "embedding", coarse, model).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val cell = r.getInt(r.fieldIndex("cell"))
      val codes = r.getSeq[Int](r.fieldIndex("pq_codes"))
      assert(cell >= 0 && cell < nlist)
      assert(codes.length == m && codes.forall(c => c >= 0 && c < ksub))
    }
  }

  test("nprobe = nlist scores every non-self candidate; nprobe < nlist prunes") {
    val queries = emb.filter(col("vec_id") < 4)
    val n = emb.count()
    val full = IvfPq.adcTopK(emb, queries, "vec_id", "embedding", coarse, model,
      nprobe = nlist, k = n.toInt)
    assert(full.count() == 4 * (n - 1), "nprobe=nlist must rank the whole corpus")
    val pruned = IvfPq.adcTopK(emb, queries, "vec_id", "embedding", coarse, model,
      nprobe = 2, k = n.toInt)
    val prunedCount = pruned.count()
    assert(prunedCount < 4 * (n - 1), "nprobe=2/8 must score strictly fewer candidates")
    assert(prunedCount > 0)
  }

  test("trained residual codebook beats an identically-sized raw-vector codebook") {
    // the point of the composition: residuals concentrate near the origin,
    // so distortion (mean squared quantization error) must drop vs flat PQ
    // at the same m × ksub memory. Both models trained, same iterations.
    val (tCoarse, tModel) = IvfPq.train(emb, "embedding", dim = 64, nlist = nlist,
      m = m, ksub = ksub, iters = 2)
    val flat = Pq.train(emb, "embedding", dim = 64, m = m, ksub = ksub, iters = 2)
    def distortion(vecAndCodes: Array[(Array[Double], Array[Int])], cb: Array[Double]): Double =
      vecAndCodes.map { case (v, codes) =>
        var s = 0.0
        for (j <- 0 until m; d <- 0 until dsub) {
          val diff = v(j * dsub + d) - cb((j * ksub + codes(j)) * dsub + d)
          s += diff * diff
        }
        s
      }.sum / vecAndCodes.length
    val resRows = emb.select(
        CellResidual(col("embedding"),
          element_at(NearestCells.l2(col("embedding"), tCoarse, 1), 1), tCoarse).as("r"))
      .select(col("r"), graft.functions.PqExpressions.encode(
        col("r"), tModel.codebooks, m, ksub, dsub).as("codes"))
      .collect().map(r => (r.getSeq[Double](0).toArray, r.getSeq[Int](1).toArray))
    val rawRows = emb.select(col("embedding").cast("array<double>").as("v"))
      .select(col("v"), graft.functions.PqExpressions.encode(
        col("v"), flat.codebooks, m, ksub, dsub).as("codes"))
      .collect().map(r => (r.getSeq[Double](0).toArray, r.getSeq[Int](1).toArray))
    val dRes = distortion(resRows, tModel.codebooks)
    val dRaw = distortion(rawRows, flat.codebooks)
    assert(dRes < dRaw,
      s"residual distortion $dRes not below raw $dRaw — composition buys nothing")
  }

  test("promoteServing: versioned cell-partitioned snapshot; probes prune " +
      "statically to the probed cells and match the ingest-store search") {
    import graft.streaming.StoreLayout
    val base = java.nio.file.Files.createTempDirectory("ivfpq-serving").toString
    val store = s"$base/store"
    val serving = s"$base/serve"
    val fn = StoreLayout.append(store)(
      IvfPq.encode(_, "vec_id", "embedding", coarse, model))
    fn(emb.filter(col("vec_id") % 2 === 0), 0L)
    fn(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    val v1 = StoreLayout.publishServing(spark, store, serving, Seq("cell"))
    assert(v1.exists(_.startsWith("serve=1-")), s"unexpected version: $v1")
    // idempotent: nothing landed, so re-promotion returns the live version
    assert(StoreLayout.publishServing(spark, store, serving, Seq("cell")) == v1)
    val served = StoreLayout.servingSnapshot(spark, serving).get
    val queries = emb.filter(col("vec_id") < 4)
    val result = IvfPq.adcTopKServing(served, queries, "vec_id", "vec_id",
      "embedding", coarse, model, nprobe = 2, k = 5)
    // the plan contract: the literal cell filter reaches the FILE LISTING
    // of the serving scan — only probed cell= directories are selected
    val cells = IvfPq.probedCells(queries, "embedding", coarse, 2).toSet
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cell")),
      s"probe must prune partitions statically:\n$plan")
    // the same literal filter adcTopKServing applied, inspected directly
    // (AQE wraps the topK plan's leaves in query stages, hiding the scan
    // node from collectLeaves; the result-plan STRING above already pins
    // that the search itself carries the partition filter)
    val scan = served.filter(col("cell").isin(cells.toSeq.sorted.map(Int.box): _*))
      .queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
    val dirs = scan.selectedPartitions.toPartitionArray.map(_.urlEncodedPath).toSeq
    assert(dirs.nonEmpty && dirs.forall(f => cells.exists(c => f.contains(s"cell=$c"))),
      s"scan opened files outside the probed cells $cells:\n${dirs.mkString("\n")}")
    assert(scan.selectedPartitions.partitionCount <= cells.size)
    // parity: the pruned serving search equals the full ingest-store search
    val full = StoreLayout.load(spark, store).get
    val direct = IvfPq.adcTopKEncoded(full, queries, "vec_id", "vec_id",
        "embedding", coarse, model, nprobe = 2, k = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(result.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq ==
      direct.toSeq, "serving search diverged from the ingest-store search")
    // a third batch lands -> re-promotion mints the next version and
    // sweeps the superseded one; the fresh rows are served
    fn(emb.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 100000L), 2L)
    val v2 = StoreLayout.publishServing(spark, store, serving, Seq("cell"))
    assert(v2.exists(_.startsWith("serve=2-")) && v2 != v1, s"got $v2")
    val versionDirs = Option(new java.io.File(serving).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName)
    assert(versionDirs == Seq(v2.get), s"superseded versions not swept: $versionDirs")
    assert(StoreLayout.servingSnapshot(spark, serving).get.count() ==
      StoreLayout.load(spark, store).get.count())
  }

  test("trained index ranks planted exact duplicates at the top") {
    val planted = emb.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 100000)
    val corpus = emb.unionByName(planted)
    val (tCoarse, tModel) = IvfPq.train(emb, "embedding", dim = 64, nlist = nlist,
      m = m, ksub = ksub, iters = 2)
    // identical vectors share the cell AND the codes, so the duplicate's
    // ADC is the query's own quantization distortion — minimal; ties with
    // same-code natural rows break by id, so accept top-2 (PqSpec stance)
    val hits = IvfPq.adcTopK(corpus, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        tCoarse, tModel, nprobe = 2, k = 2)
      .filter(col("neighbor_id") === col("query_id") + 100000)
      .count()
    assert(hits >= 8, s"expected ≥8/10 planted duplicates in top-2, got $hits")
  }

  test("at rest: cell-partitioned codes prune the scan to the probed cells") {
    // the write-once 100 TB layout the scaladoc promises: encode → write
    // partitioned by cell → a probe's filter must reach the FILE LISTING
    // (partition pruning), so nprobe/nlist of the data is ever opened
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-at-rest").toFile
    try {
      IvfPq.encode(emb, "vec_id", "embedding", coarse, model)
        .write.partitionBy("cell").mode("overwrite").parquet(dir.getAbsolutePath)
      val at = spark.read.parquet(dir.getAbsolutePath)
      val probed = at.filter(col("cell").isin(0, 3))
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("cell")),
        s"cell filter must prune partitions, not scan-and-filter:\n$plan")
      val cells = probed.select("cell").distinct()
        .collect().map(_.getInt(0)).toSet
      assert(cells.subsetOf(Set(0, 3)) && cells.nonEmpty)
      // and the pruned fraction is real: the scan's SELECTED partitions are
      // exactly the probed cell directories (df.inputFiles would mislead
      // here — it lists the whole relation, pre-pruning)
      val scan = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      val listing = scan.selectedPartitions
      val dirs = listing.toPartitionArray.map(_.urlEncodedPath).toSeq
      assert(listing.partitionCount == 2,
        s"expected exactly the 2 probed cell partitions, got ${listing.partitionCount}")
      assert(dirs.nonEmpty && dirs.forall(f => f.contains("cell=0") || f.contains("cell=3")),
        s"scan opened files outside the probed cells:\n${dirs.mkString("\n")}")
      // and the STORED codes are searchable: encode → write → read → search
      // equals searching the raw vectors directly (the production flow
      // never re-encodes the corpus per query batch)
      val queries = emb.filter(col("vec_id") < 4)
      val viaStored = IvfPq.adcTopKEncoded(at, queries, "vec_id", "vec_id", "embedding",
          coarse, model, nprobe = 2, k = 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq)
      val direct = IvfPq.adcTopK(emb, queries, "vec_id", "embedding",
          coarse, model, nprobe = 2, k = 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq)
      assert(viaStored.toSeq == direct.toSeq,
        "searching the parquet-stored code table diverged from direct search")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("plan shape: broadcast EQUI-join on the cell id — pruning, not a cross join") {
    val df = IvfPq.adcTopK(emb, emb.limit(3), "vec_id", "embedding", coarse, model,
      nprobe = 2, k = 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      s"probe join must be a broadcast HASH join on the cell id:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"flat PQ's cross join defeats the point of IVF pruning:\n$p")
    assert(p.contains("collect_top_k") && !p.contains("Window"), p)
    for (kernel <- Seq("pq_encode", "cell_residual", "nearest_cells"))
      assert(p.linesIterator.exists(l => l.contains("*(") && l.contains(kernel)),
        s"$kernel fell out of whole-stage codegen:\n$p")
  }
}
