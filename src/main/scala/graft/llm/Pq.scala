package graft.llm

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.functions._

import graft.functions.{HyperplaneSigs, PqExpressions}

/** Product quantization (Jégou et al. 2011, IEEE TPAMI 33(1)) — lossy
  * embedding compression plus asymmetric-distance ANN, the memory-scale
  * path next to [[Ivf]]'s partition-pruning path.
  *
  * A 100 TB embedding corpus at `float32 × 64` dims is 256 bytes/vector;
  * PQ with m=8 subspaces stores 8 one-byte codes — a 32× compression that
  * turns the ANN working set from "re-shard the cluster" into "fits in
  * page cache". Search never decompresses: a query builds one `m × ksub`
  * lookup table ([[graft.functions.PqLut]]) and every candidate costs `m`
  * array reads ([[graft.functions.PqAdc]]).
  *
  * Scale shape (the 100 TB contract):
  *  - training collects only `m × ksub` aggregated centroid rows per
  *    iteration — never corpus rows; driver state = the codebook tensor
  *    (`m·ksub·dsub` doubles, a few KB);
  *  - encode is ONE map-only codegen'd scan ([[graft.functions.PqEncode]]
  *    — the codebook rides in the generated code, no join);
  *  - ADC search broadcasts the (queries × LUT) side, scans codes once,
  *    and ranks through the bounded CollectTopK aggregate — k rows per
  *    partition cross the only exchange, no Window, no corpus shuffle;
  *  - composes with [[Ivf]]: assign cells once, store (cell, codes), and
  *    probe only `nprobe/nlist` of the code table — the classic IVF-PQ
  *    layout. The composition is just a filter on the cell column before
  *    [[adcTopK]]'s scan.
  */
object Pq {

  /** A trained (or fixed) PQ model: `m` subspaces × `ksub` centroids ×
    * `dsub` dims, codebooks flattened row-major `(j*ksub + c)*dsub + i`.
    */
  case class PqModel(m: Int, ksub: Int, dsub: Int, codebooks: Array[Double]) {
    require(codebooks.length == m * ksub * dsub,
      s"codebook tensor has ${codebooks.length} values, expected ${m * ksub * dsub}")
    def dim: Int = m * dsub
  }

  /** A fully deterministic pseudo-random model — centroid weights are a
    * pure function of (seed, flat index) via splitmix64, the
    * [[graft.functions.HyperplaneSigs]] trick — so an external SQL engine
    * can inline the exact same codebook as a VALUES table and recompute
    * encode/ADC verbatim (oracle strategy 2). `scale` matches the
    * centroid spread to the data's value range.
    */
  def deterministicModel(m: Int, ksub: Int, dsub: Int, seed: Long = 7L,
      scale: Double = 1.0): PqModel = {
    val cb = Array.tabulate(m * ksub * dsub)(i => scale * weight(seed, i))
    PqModel(m, ksub, dsub, cb)
  }

  /** The (seed, flat index) → weight function shared with the SQL oracle:
    * `Double.toString` of these round-trips bit-for-bit through DuckDB's
    * literal parser, so both engines hold identical codebooks.
    */
  def weight(seed: Long, flatIndex: Int): Double =
    HyperplaneSigs.mix(seed + flatIndex * 92821L)

  /** Train per-subspace k-means with Lloyd iterations as DataFrame
    * aggregates. Initial centroids are the `ksub` corpus rows with the
    * smallest `xxhash64(vector)` — one deterministic TakeOrdered job, the
    * [[Ivf.train]] sampling trick — split into their subvectors. Each
    * iteration: assignment is the map-only codegen'd [[PqExpressions
    * .encode]] scan, the update is ONE hash aggregate keyed by (subspace,
    * code) whose partial combine ships `m·ksub·dsub` doubles per partition
    * regardless of corpus size. Codes that lose all members keep their
    * previous centroid.
    */
  def train(corpus: DataFrame, vecCol: String, dim: Int, m: Int = 8, ksub: Int = 16,
      iters: Int = 2): PqModel = {
    require(dim % m == 0, s"PQ train: dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    graft.core.Cached.scoped(corpus
        .select(col(vecCol).cast("array<double>").as("__v"))
        .filter(size(col("__v")) === dim)) { v =>
      val init = v.orderBy(xxhash64(col("__v"))).limit(ksub).collect()
        .map(_.getSeq[Double](0).toArray)
      require(init.nonEmpty, "PQ train: empty corpus")
      var cb = Array.tabulate(m * ksub * dsub) { flat =>
        val j = flat / (ksub * dsub)
        val c = flat / dsub % ksub
        val d = flat % dsub
        // fewer sample rows than ksub: spread the ones we have cyclically
        init(c % init.length)(j * dsub + d)
      }
      for (_ <- 0 until iters) {
        val codes = PqExpressions.encode(col("__v"), cb, m, ksub, dsub)
        val subs = v.select(posexplode(
            transform(sequence(lit(0), lit(m - 1)),
              j => slice(col("__v"), j * dsub + 1, lit(dsub)))).as(Seq("__j", "__sv")),
            codes.as("__codes"))
          .select(col("__j"), element_at(col("__codes"), col("__j") + 1).as("__c"),
            col("__sv"))
        val means = subs.groupBy("__j", "__c")
          .agg(avg(element_at(col("__sv"), 1)).as("d0"),
            (1 until dsub).map(d => avg(element_at(col("__sv"), d + 1)).as(s"d$d")): _*)
          .collect()
        val next = cb.clone()
        for (r <- means) {
          val off = (r.getInt(0) * ksub + r.getInt(1)) * dsub
          var d = 0
          while (d < dsub) { next(off + d) = r.getDouble(d + 2); d += 1 }
        }
        cb = next
      }
      PqModel(m, ksub, dsub, cb)
    }
  }

  /** The compressed corpus: (idCol, pq_codes array<int>). Map-only. */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame =
    df.select(col(idCol),
      PqExpressions.encode(col(vecCol), model.codebooks, model.m, model.ksub, model.dsub)
        .as("pq_codes"))

  /** ADC top-k: every query ranks the whole code table by asymmetric
    * distance (squared L2 to the candidate's reconstructed subvectors).
    * Output (query_id, rank, neighbor_id, adc) with `adc` rounded to 4
    * decimals and ties broken by neighbor id — rank order is
    * deterministic and externally restatable.
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      model: PqModel, k: Int = 10, excludeSelf: Boolean = true): DataFrame =
    adcTopKEncoded(encode(corpus, idCol, vecCol, model), queries, idCol, idCol, vecCol,
      model, k, excludeSelf)

  /** Search a PRE-ENCODED (id, pq_codes) table — the production entry
    * point once the corpus has been [[encode]]d and stored: the 32×-
    * compressed code table is scanned instead of raw vectors, and only
    * the broadcast query side ever computes a LUT.
    */
  def adcTopKEncoded(encoded: DataFrame, queries: DataFrame, encIdCol: String,
      idCol: String, vecCol: String, model: PqModel, k: Int = 10,
      excludeSelf: Boolean = true): DataFrame = {
    val c = encoded.select(col(encIdCol).as("neighbor_id"), col("pq_codes").as("__codes"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      PqExpressions.lut(col(vecCol), model.codebooks, model.m, model.ksub, model.dsub)
        .as("__lut")))
    val scored = c.crossJoin(q)
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        round(PqExpressions.adc(col("__codes"), col("__lut"), model.ksub), 4).as("adc"))
    ascTopK(scored, k)
  }

  /** k smallest (adc, neighbor) structs per query via CollectTopK —
    * bounded partial aggregate, never a Window (Similarity.topKPerQuery's
    * argument, ascending metric). Input: (query_id, neighbor_id, adc).
    */
  private[llm] def ascTopK(scored: DataFrame, k: Int): DataFrame = {
    val key = GraftShims.toExpression(
      struct(col("adc").as("a"), col("neighbor_id").as("n")))
    val topk = GraftShims.toColumn(
      new CollectTopK(key, k, true).toAggregateExpression())
    scored.groupBy("query_id").agg(topk.as("__topk"))
      .select(col("query_id"), posexplode(col("__topk")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.n").as("neighbor_id"), col("col.a").as("adc"))
  }
}
