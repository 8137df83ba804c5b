package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{CellResidual, NearestCells, PqExpressions}

/** IVF-PQ — the composed ANN index actually used at 100 TB scale (Jégou
  * et al. 2011 §V, the Faiss `IVFPQ` layout): a coarse quantizer prunes
  * the corpus to `nprobe/nlist` of its cells, and product quantization
  * over the COARSE RESIDUAL (vector − cell centroid) compresses what
  * remains. Residuals concentrate near the origin, so the same `m × ksub`
  * codebook spends its centroids on a far smaller volume than raw-vector
  * PQ — better distance resolution at identical memory.
  *
  * Scale shape (the 100 TB contract):
  *  - the corpus pass is ONE map-only whole-stage-codegen'd scan: cell
  *    assignment ([[NearestCells]]), residual ([[CellResidual]]), and
  *    codes ([[graft.functions.PqEncode]]) — all three matrices ride as
  *    codegen reference objects, no centroid join, no shuffle. At rest
  *    the corpus stores (id, cell, m codes): persist `cell` as a
  *    partition/bucket column and a probe touches `nprobe/nlist` of the
  *    files;
  *  - query side broadcasts (query × nprobe) rows, each carrying the
  *    per-probed-cell residual LUT ([[graft.functions.PqLut]]) — the
  *    probe join is a broadcast EQUI-join on the cell id, so unlike flat
  *    PQ's cross join, corpus rows in unprobed cells are never scored
  *    (and never shuffle);
  *  - ranking is the bounded CollectTopK aggregate — k rows per
  *    partition cross the only exchange, no Window;
  *  - driver state: `nlist·dim` coarse + `m·ksub·dsub` product
  *    centroids, a few KB.
  */
object IvfPq {

  /** Deterministic pseudo-random coarse centroids (the
    * [[Pq.deterministicModel]] trick, same splitmix64 weight function) so
    * an external SQL engine can inline the identical matrix as a VALUES
    * table and recompute assignment/probing/residuals verbatim.
    */
  def deterministicCoarse(nlist: Int, dim: Int, seed: Long = 11L,
      scale: Double = 1.0): Array[Array[Double]] =
    Array.tabulate(nlist)(c => Array.tabulate(dim)(i => scale * Pq.weight(seed, c * dim + i)))

  /** Train the composed index: PLAIN L2 Lloyd k-means for the coarse
    * cells (mean update, NO unit normalization — [[Ivf.train]]'s
    * spherical k-means is the right shape for cosine ANN but exactly
    * wrong here: the cell MEAN minimizes residual energy, and projecting
    * it to the unit sphere re-inflates the residuals the product
    * codebook is supposed to spend its centroids on), then [[Pq.train]]
    * on the coarse residuals. Assignment is the [[NearestCells.l2]]
    * scan; the update is one hash aggregate collecting `nlist` mean rows
    * per iteration — driver state stays centroid-only.
    */
  def train(corpus: DataFrame, vecCol: String, dim: Int, nlist: Int = 16, m: Int = 8,
      ksub: Int = 16, iters: Int = 2): (Array[Array[Double]], Pq.PqModel) = {
    graft.core.Cached.scoped(corpus
        .select(col(vecCol).cast("array<double>").as("__v"))
        .filter(size(col("__v")) === dim)) { v =>
      val init = v.orderBy(xxhash64(col("__v"))).limit(nlist).collect()
        .map(_.getSeq[Double](0).toArray)
      require(init.nonEmpty, "IVF-PQ train: empty corpus")
      var cents = Array.tabulate(nlist)(c => init(c % init.length).clone())
      for (_ <- 0 until iters) {
        val assigned = v.select(
          element_at(NearestCells.l2(col("__v"), cents, 1), 1).as("__cell"), col("__v"))
        val means = assigned.groupBy("__cell")
          .agg(avg(element_at(col("__v"), 1)).as("d0"),
            (1 until dim).map(i => avg(element_at(col("__v"), i + 1)).as(s"d$i")): _*)
          .collect()
        val next = cents.map(identity)
        for (r <- means)
          next(r.getInt(0)) = Array.tabulate(dim)(i => r.getDouble(i + 1))
        cents = next
      }
      val residuals = v.select(CellResidual(col("__v"),
        element_at(NearestCells.l2(col("__v"), cents, 1), 1), cents).as("__r"))
      (cents, Pq.train(residuals, "__r", dim, m, ksub, iters))
    }
  }

  /** The corpus at rest: (idCol, cell, pq_codes) in one map-only scan.
    * Cell assignment is ascending squared-L2 ([[NearestCells.l2]]) — the
    * plain k-means geometry residuals are defined against.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Double]], model: Pq.PqModel): DataFrame = {
    val cell = element_at(NearestCells.l2(col(vecCol), coarse, 1), 1)
    df.select(col(idCol), cell.as("cell"),
      PqExpressions.encode(CellResidual(col(vecCol), cell, coarse),
        model.codebooks, model.m, model.ksub, model.dsub).as("pq_codes"))
  }

  /** IVF-PQ top-k: each query probes its `nprobe` nearest cells and ranks
    * only candidates living there, by asymmetric distance over residual
    * codes. Output (query_id, rank, neighbor_id, adc), adc rounded to 4
    * decimals, ties by neighbor id — deterministic and externally
    * restatable for ANY nprobe (the oracle restates the algorithm, not
    * brute force, so the approximate path itself is checkable). A corpus
    * row lives in exactly one cell and a query's probed cells are
    * distinct, so no dedup aggregate is needed.
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Double]], model: Pq.PqModel, nprobe: Int = 4, k: Int = 10,
      excludeSelf: Boolean = true): DataFrame = {
    // coalesce → -1 keeps the join key provably non-nullable so IsNotNull
    // inference can't re-derive the assignment below the projection and
    // evaluate NearestCells twice per row (Ivf.ivfTopK's trap); -1 never
    // matches a probed cell, and a null vector's codes are null anyway
    val cCell = coalesce(element_at(NearestCells.l2(col("__cv"), coarse, 1), 1), lit(-1))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cell", cCell)
      .select(col("neighbor_id"), col("__cell").as("cell"),
        PqExpressions.encode(CellResidual(col("__cv"), col("__cell"), coarse),
          model.codebooks, model.m, model.ksub, model.dsub).as("pq_codes"))
    adcTopKEncoded(c, queries, "neighbor_id", idCol, vecCol, coarse, model, nprobe, k,
      excludeSelf)
  }

  /** Search a PRE-ENCODED code table — the production entry point: the
    * corpus is [[encode]]d once, written partitioned/bucketed by `cell`
    * (see IvfPqSpec's at-rest case: a probe's cell filter prunes the file
    * listing), and every query batch searches the stored (id, cell,
    * pq_codes) rows without touching a raw vector. Only the broadcast
    * query side computes residual LUTs; with the code table cell-
    * partitioned at rest, partition pruning composes with the equi-join
    * so unprobed cells are never even read.
    */
  def adcTopKEncoded(encoded: DataFrame, queries: DataFrame, encIdCol: String,
      idCol: String, vecCol: String, coarse: Array[Array[Double]], model: Pq.PqModel,
      nprobe: Int = 4, k: Int = 10, excludeSelf: Boolean = true): DataFrame = {
    val c = encoded.select(col(encIdCol).as("neighbor_id"), col("cell").as("__cell"),
      col("pq_codes").as("__codes"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qcell", explode(NearestCells.l2(col("__qv"), coarse, nprobe)))
      .select(col("query_id"), col("__qcell"),
        PqExpressions.lut(CellResidual(col("__qv"), col("__qcell"), coarse),
          model.codebooks, model.m, model.ksub, model.dsub).as("__lut")))
    val scored = c.join(q, col("__cell") === col("__qcell"))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        round(PqExpressions.adc(col("__codes"), col("__lut"), model.ksub), 4).as("adc"))
    Pq.ascTopK(scored, k)
  }

  /** The distinct cells this query batch probes, as driver-side literals.
    * Bounded by construction: the query frame is the BROADCAST side of
    * every search (a batch of query vectors, not a corpus), so collecting
    * its ≤ `queries × nprobe` cell ids costs less than the broadcast the
    * search does anyway.
    */
  def probedCells(queries: DataFrame, vecCol: String,
      coarse: Array[Array[Double]], nprobe: Int): Seq[Int] =
    queries.select(explode(NearestCells.l2(col(vecCol), coarse, nprobe)).as("__c"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq

  /** [[adcTopKEncoded]] over a cell-PARTITIONED serving snapshot
    * ([[graft.streaming.StoreLayout.publishServing]] of an [[encode]]
    * store with partition column `cell`): the probed cells
    * are computed first as literals and applied as a `cell IN (...)`
    * filter, which Catalyst turns into STATIC partition pruning on the
    * hive layout — the scan's file listing contains only the probed
    * `cell=` directories, so at 100 TB a probe touches `nprobe/nlist`
    * of the store's files before a single row is read. (The equi-join
    * inside [[adcTopKEncoded]] would prune rows anyway; this prunes the
    * I/O.) Results are identical to [[adcTopKEncoded]] over the full
    * table: every corpus row outside the probed cells can never join a
    * query. IvfPqSpec pins both the plan shape and the parity.
    */
  def adcTopKServing(serving: DataFrame, queries: DataFrame, encIdCol: String,
      idCol: String, vecCol: String, coarse: Array[Array[Double]], model: Pq.PqModel,
      nprobe: Int = 4, k: Int = 10, excludeSelf: Boolean = true): DataFrame = {
    val cells = probedCells(queries, vecCol, coarse, nprobe)
    adcTopKEncoded(serving.filter(col("cell").isin(cells.map(Int.box): _*)),
      queries, encIdCol, idCol, vecCol, coarse, model, nprobe, k, excludeSelf)
  }
}
