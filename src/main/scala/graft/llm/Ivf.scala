package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{NearestCells, VectorFunctions}

/** IVF (inverted-file) approximate-nearest-neighbor search — the
  * partition-pruning scale path next to [[Similarity.lshTopK]]'s hash path.
  *
  * Train a small centroid codebook (k-means over a deterministic sample),
  * assign every corpus row to its nearest cell in one codegen'd map-only
  * pass (native [[NearestCells]] expression — the centroid matrix rides in
  * the generated code, no join, no shuffle), and at query time score only
  * the cells each query probes. At 100 TB the corpus assignment is
  * write-once (persist `__cell` as a partition/bucket column) and a probe
  * touches `nprobe/nlist` of the data; here it is computed inline so the
  * operator stays self-contained.
  *
  * All driver-side state is the `nlist × dim` codebook (a few KB) —
  * training collects exactly `nlist` aggregated rows per iteration, never
  * corpus rows.
  */
object Ivf {

  /** Train unit-norm k-means centroids with Lloyd iterations expressed as
    * DataFrame aggregates: assignment is the codegen'd [[NearestCells]]
    * scan, the update is one hash aggregate producing `dim` per-cell means
    * (partial map-side combine: `nlist × dim` doubles cross the shuffle per
    * partition, independent of corpus size). Initial centroids are the
    * `nlist` rows with the smallest `xxhash64(vector)` — a deterministic
    * pseudo-random sample that costs one top-k (TakeOrdered), not a sort.
    * Cells that lose all members keep their previous centroid.
    */
  def train(corpus: DataFrame, vecCol: String, dim: Int, nlist: Int = 16, iters: Int = 2)
      : Array[Array[Double]] = {
    // init + every Lloyd iteration rescans the vectors: cache them for
    // the duration of training (the standard iterative-training shape —
    // MLlib k-means does the same)
    graft.core.Cached.scoped(corpus
        .select(col(vecCol).cast("array<double>").as("__v"))
        .filter(size(col("__v")) === dim)) { v =>
      val init = v.orderBy(xxhash64(col("__v")))
        .limit(nlist)
        .collect()
        .map(_.getSeq[Double](0).toArray)
      require(init.length > 0, "IVF train: empty corpus")
      var cents = init.map(normalize)
      for (_ <- 0 until iters) {
        val assigned = v.select(
          element_at(NearestCells(col("__v"), cents, 1), 1).as("__cell"), col("__v"))
        val means = assigned.groupBy("__cell")
          .agg(avg(element_at(col("__v"), 1)).as("d0"),
            (1 until dim).map(i => avg(element_at(col("__v"), i + 1)).as(s"d$i")): _*)
          .collect()
        val next = cents.map(identity)
        for (r <- means) {
          val cell = r.getInt(0)
          next(cell) = normalize(Array.tabulate(dim)(i => r.getDouble(i + 1)))
        }
        cents = next
      }
      cents
    }
  }

  private def normalize(x: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i) * x(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) x else x.map(_ / n)
  }

  /** IVF top-k: rank each query's neighbors among corpus rows whose cell is
    * one of the query's `nprobe` nearest cells. `nprobe = nlist` probes
    * every cell and is exactly [[Similarity.bruteForceTopK]] (same scoring
    * expressions, bit-identical cosines); smaller `nprobe` trades recall
    * for scanning only `nprobe/nlist` of the corpus.
    *
    * Plan shape (the 100 TB contract): the corpus is scanned once, cell
    * assignment and norms are map-only codegen'd columns, the probe join
    * broadcasts the (queries × nprobe) side so no corpus row ever
    * shuffles, and the final ranking is [[Similarity.topKPerQuery]]'s
    * bounded CollectTopK aggregate — k rows per partition cross the only
    * exchange. Each corpus row lives in exactly one cell and a query's
    * probed cells are distinct, so candidate pairs are already unique: no
    * dedup aggregate is needed (unlike the LSH multi-seed path).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int = 10, nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
      excludeSelf: Boolean = true, codebook: Option[Array[Array[Double]]] = None)
      : DataFrame = {
    val cents = codebook.getOrElse(train(corpus, vecCol, dim, nlist, iters))
    ivfTopKAssigned(assign(corpus, idCol, vecCol, cents), queries, idCol, idCol, vecCol,
      cents, k, nprobe, excludeSelf)
  }

  /** The corpus at rest: (idCol, cell, vecCol) in one map-only scan —
    * write this partitioned/bucketed by `cell` once, and every query
    * batch searches it via [[ivfTopKAssigned]] with the cell filter
    * pruning the file listing (the IvfPq at-rest pattern; unlike PQ the
    * exact-cosine re-score keeps the raw vector next to its cell).
    * coalesce → -1 makes the assignment PROVABLY non-nullable (a null
    * embedding can never match: probed cells are 0..nlist-1), so join-key
    * IsNotNull inference cannot push an isnotnull(nearest_cells(...))
    * filter below the projection and evaluate the assignment twice per
    * row (same trap as Dedup.minhashSignatures' sentinel filter).
    */
  def assign(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]]): DataFrame =
    corpus.select(col(idCol), col(vecCol),
      coalesce(element_at(NearestCells(col(vecCol), cents, 1), 1), lit(-1)).as("cell"))

  /** The distinct cells this query batch probes, as driver-side literals.
    * Bounded by construction: the query frame is the BROADCAST side of
    * every search, so collecting its ≤ `queries × nprobe` cell ids costs
    * less than the broadcast the search does anyway (the
    * [[IvfPq.probedCells]] treatment on the max-dot cell geometry).
    */
  def probedCells(queries: DataFrame, vecCol: String,
      cents: Array[Array[Double]], nprobe: Int): Seq[Int] =
    queries.select(explode(NearestCells(col(vecCol), cents, nprobe)).as("__c"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq

  /** [[ivfTopKAssigned]] over a cell-PARTITIONED serving snapshot
    * ([[graft.streaming.StoreLayout.publishServing]] of an [[assign]]
    * store with partition column `cell`; the raw vector rides along for
    * the exact-cosine score): the probed
    * cells are computed first as literals and applied as a
    * `cell IN (...)` filter, which Catalyst turns into STATIC partition
    * pruning on the hive layout — at 100 TB a probe touches
    * `nprobe/nlist` of the store's FILES before a single row is read
    * (the equi-join inside [[ivfTopKAssigned]] would prune rows anyway;
    * this prunes the I/O). Results are identical to [[ivfTopKAssigned]]
    * over the full table: a corpus row outside the probed cells can
    * never join a query. IvfSpec pins plan shape and parity.
    */
  def ivfTopKServing(serving: DataFrame, queries: DataFrame, servingIdCol: String,
      idCol: String, vecCol: String, cents: Array[Array[Double]], k: Int = 10,
      nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val cells = probedCells(queries, vecCol, cents, nprobe)
    ivfTopKAssigned(serving.filter(col("cell").isin(cells.map(Int.box): _*)),
      queries, servingIdCol, idCol, vecCol, cents, k, nprobe, excludeSelf)
  }

  /** Search a PRE-ASSIGNED (id, cell, vec) table without re-running cell
    * assignment over the corpus.
    */
  def ivfTopKAssigned(assigned: DataFrame, queries: DataFrame, assignedIdCol: String,
      idCol: String, vecCol: String, cents: Array[Array[Double]], k: Int = 10,
      nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    // same staged norm columns as bruteForceTopK so cosines (and their
    // 4-decimal rounding) are bit-identical to the exact operator
    val dot = VectorFunctions.dotFast _
    def norm(a: Column): Column = sqrt(dot(a, a))
    val c = assigned.select(col(assignedIdCol).as("neighbor_id"), col(vecCol).as("__cv"),
        col("cell").as("__cell"))
      .withColumn("__cn", norm(col("__cv")))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
      .withColumn("__qcell", explode(NearestCells(col("__qv"), cents, nprobe))))
    val cand = c.join(q, col("__cell") === col("__qcell"))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 4).as("cosine"))
    Similarity.topKPerQuery(cand, k)
  }
}
