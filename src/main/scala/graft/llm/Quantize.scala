package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{AffineQuantize, HammingDistance, SignPack}

/** Scalar (per-dimension affine) int8 embedding quantization — the simple
  * 4× compression next to [[Pq]]'s 32×: each dimension maps linearly from
  * its corpus [min, max] range onto [−127, 127]. Dot products and cosines
  * over the codes approximate the originals well enough for candidate
  * generation, and reconstruction error is bounded by half a step per
  * dimension.
  *
  * Scale shape (the 100 TB contract):
  *  - the range scan is ONE aggregate of `2·dim` min/max expressions —
  *    map-side combined, a single driver row regardless of corpus size
  *    (no explode: a posexplode+groupBy would shuffle |corpus|·dim rows
  *    to produce the same 128 numbers);
  *  - encode is one map-only codegen'd scan ([[AffineQuantize]] — the
  *    range tables ride in the generated code);
  *  - driver state: the `2·dim` range doubles.
  */
object Quantize {

  /** Per-dimension (min, max) over vectors of exactly `dim` elements. */
  def int8Stats(df: DataFrame, vecCol: String, dim: Int): (Array[Double], Array[Double]) = {
    val v = df.select(col(vecCol).cast("array<double>").as("__v"))
      .filter(size(col("__v")) === dim)
    val aggs = (0 until dim).flatMap(i => Seq(
      min(element_at(col("__v"), i + 1)).as(s"mn$i"),
      max(element_at(col("__v"), i + 1)).as(s"mx$i")))
    val r = v.agg(aggs.head, aggs.tail: _*).collect()(0)
    // min/max over zero rows aggregate to null — fail loud instead of an
    // opaque NPE three frames deeper
    require(!r.isNullAt(0),
      s"int8Stats: empty corpus — no non-null vectors of dim $dim in '$vecCol'")
    val mins = Array.tabulate(dim)(i => r.getDouble(2 * i))
    val maxs = Array.tabulate(dim)(i => r.getDouble(2 * i + 1))
    (mins, maxs)
  }

  /** The compressed corpus: (idCol, int8_codes array<int>). Map-only. */
  def int8Encode(df: DataFrame, idCol: String, vecCol: String,
      mins: Array[Double], maxs: Array[Double]): DataFrame =
    df.select(col(idCol), AffineQuantize(col(vecCol), mins, maxs).as("int8_codes"))

  /** Two-stage int8 ANN — the candidate-generation use the compression
    * exists for: stage 1 ranks the WHOLE corpus by cosine over the int8
    * codes (a scan of m bytes/dim instead of 4 — the 100 TB win is
    * memory bandwidth), keeps the top `rerank` per query, and stage 2
    * re-scores ONLY those candidates exactly. With `rerank = |corpus|`
    * the result equals [[Similarity.bruteForceTopK]] bit-for-bit (same
    * scoring expressions and rounding), which is the spec's exactness
    * anchor; the production setting `rerank ≪ |corpus|` trades recall
    * for a 4× cheaper first pass.
    *
    * Everything is externally restatable: the dot of two int8 code
    * vectors is exact INTEGER arithmetic (|dot| ≤ 127²·dim ≪ 2⁵³, so the
    * double-typed sum is lossless), norms are square roots of exact
    * integers, and both engines state the identical op sequence — the
    * approximate stage-1 ranking is deterministic, not an estimate.
    *
    * Plan shape (the 100 TB contract): two corpus scans, ZERO corpus
    * shuffles — stage 1 broadcasts (queries × codes), ranks via bounded
    * CollectTopK; stage 2 broadcasts the (queries × rerank) candidate
    * ids back over the corpus (a broadcast hash join filters the scan
    * map-side), re-scores, and ranks through the same bounded aggregate.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      mins: Array[Double], maxs: Array[Double], k: Int = 10, rerank: Int = 50,
      excludeSelf: Boolean = true): DataFrame =
    int8TopKEncoded(int8Encode(corpus, idCol, vecCol, mins, maxs), corpus, queries,
      idCol, vecCol, mins, maxs, k, rerank, excludeSelf)

  /** [[int8TopK]] over a PRE-ENCODED code table — the production entry
    * point: the corpus is [[int8Encode]]d once, the (id, int8_codes)
    * table (4× smaller than float32) is what stage 1 scans on every query
    * batch, and raw vectors are only point-read (broadcast-semi-joined to
    * the ≤ queries·rerank candidates) for the stage-2 exact rescore.
    * Codes stored as array<int> cast losslessly to the double arithmetic
    * [[int8TopK]] uses, so stored-vs-direct results are bit-identical
    * (pinned in QuantizeSpec).
    */
  def int8TopKEncoded(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, mins: Array[Double], maxs: Array[Double],
      k: Int = 10, rerank: Int = 50, excludeSelf: Boolean = true): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotFast _
    def norm(a: Column): Column = sqrt(dot(a, a))
    val c8 = encoded.select(col(idCol).as("neighbor_id"),
        col("int8_codes").cast("array<double>").as("__c8"))
      .withColumn("__cn8", norm(col("__c8")))
    val q8 = broadcast(queries.select(col(idCol).as("query_id"),
        AffineQuantize(col(vecCol), mins, maxs).cast("array<double>").as("__q8"))
      .withColumn("__qn8", norm(col("__q8"))))
    // stage 1: approximate cosine over codes — UNROUNDED (the rerank cut
    // must not create rounding-induced ties), ties by neighbor id
    val approx = c8.crossJoin(q8)
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("__q8"), col("__c8")) / (col("__qn8") * col("__cn8"))).as("cosine"))
    val cand = Similarity.topKPerQuery(approx, rerank)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpus, queries, idCol, vecCol, cand, k)
  }

  /** Stage-2 exact rescore shared by the compressed-candidate ANN paths
    * ([[int8TopK]], [[hammingTopK]]): re-score ONLY the `(query_id,
    * neighbor_id)` candidates with bruteForceTopK's staged-norm formula
    * verbatim, so rounded cosines are bit-identical to the exact search.
    * The candidate set (≤ |queries|·rerank rows) broadcasts back over the
    * corpus — a broadcast hash join filters the scan map-side; no corpus
    * shuffle.
    */
  private def exactRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cand: DataFrame, k: Int): DataFrame = {
    val dot = graft.functions.VectorFunctions.dotFast _
    def norm(a: Column): Column = sqrt(dot(a, a))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
      .join(broadcast(cand), "neighbor_id")
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", norm(col("__qv"))))
    val exact = cv.join(qv, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 4).as("cosine"))
    Similarity.topKPerQuery(exact, k)
  }

  /** The compressed corpus at the 1-bit tier: (idCol, bin_code
    * array<long>), one sign bit per dimension ([[SignPack]]). Map-only.
    * Rows whose vector length ≠ `dim` are dropped up front — 64-per-word
    * packing truncates length information, so a short vector must never
    * reach [[HammingDistance]] where it could alias a full-length code.
    */
  def binaryEncode(df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame =
    df.filter(size(col(vecCol)) === dim)
      .select(col(idCol), SignPack(col(vecCol)).as("bin_code"))

  /** Two-stage binary ANN: stage 1 ranks the whole corpus by Hamming
    * distance over the 1-bit codes (one POPCNT per 64 dims — the extreme
    * end of the [[int8TopK]] bandwidth trade, 32× smaller than float32),
    * keeps the `rerank` closest per query (ties by neighbor id), and
    * stage 2 re-scores only those exactly. Sign-of-coordinate agreement
    * is a monotone proxy for angular similarity (the SimHash bound:
    * P[signs agree] = 1 − θ/π per random direction — here the coordinate
    * directions), so Hamming-closest ≈ cosine-closest and the exact
    * rerank repairs the gap.
    *
    * Plan shape (the 100 TB contract): identical to [[int8TopK]] — two
    * corpus scans, zero corpus shuffles, bounded CollectTopK ranking,
    * candidates broadcast back. Deterministic end to end, so a SQL
    * engine can replay both stages (Hamming = count of sign
    * disagreements, no bit-packing needed externally).
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int = 10, rerank: Int = 50, excludeSelf: Boolean = true): DataFrame =
    hammingTopKEncoded(binaryEncode(corpus, idCol, vecCol, dim), corpus, queries,
      idCol, vecCol, dim, k, rerank, excludeSelf)

  /** [[hammingTopK]] over a PRE-ENCODED sign-code table (the at-rest tier:
    * 32× smaller than float32) — stage 1 scans the stored (id, bin_code)
    * rows, raw vectors are point-read only for the stage-2 candidates.
    * Stored-vs-direct equality pinned in BinaryQuantSpec.
    */
  def hammingTopKEncoded(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int = 10, rerank: Int = 50,
      excludeSelf: Boolean = true): DataFrame = {
    val cb = encoded
      .withColumnRenamed(idCol, "neighbor_id").withColumnRenamed("bin_code", "__cb")
    val qb = broadcast(binaryEncode(queries, idCol, vecCol, dim)
      .withColumnRenamed(idCol, "query_id").withColumnRenamed("bin_code", "__qb"))
    // stage 1 reuses topKPerQuery's (score desc, neighbor asc) ranking by
    // scoring with the NEGATED distance — smallest Hamming first
    val approx = cb.crossJoin(qb)
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        (-HammingDistance(col("__qb"), col("__cb")).cast("double")).as("cosine"))
    val cand = Similarity.topKPerQuery(approx, rerank)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpus, queries, idCol, vecCol, cand, k)
  }

  /** Dequantized approximation of a code array (Column-level, for error
    * analysis and approximate scoring): `x̂_i = min_i + (code_i + 127) ·
    * (max_i − min_i) / 254`.
    */
  private[graft] def int8Reconstruct(codes: Column, mins: Array[Double], maxs: Array[Double]): Column = {
    val minsLit = array(mins.map(lit): _*)
    val stepsLit = array(mins.indices.map(i => lit((maxs(i) - mins(i)) / 254.0)): _*)
    zip_with(codes, sequence(lit(0), lit(mins.length - 1)),
      (c, i) => element_at(minsLit, i + 1) +
        (c.cast("double") + 127.0) * element_at(stepsLit, i + 1))
  }
}
