package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{NearestCells, VectorFunctions}

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster document embeddings with k-means, then within
  * each cluster drop every member that has a semantic-duplicate partner
  * (cosine ≥ threshold) of higher keep-priority. The cluster step localizes
  * the quadratic comparison — the all-pairs term is per-CELL, never
  * corpus-wide — which is the published method's point and exactly the
  * partition-pruning stance [[Ivf]] takes for ANN.
  *
  * Complements [[Dedup.embeddingPairs]] (hyperplane-LSH near-dup): LSH
  * buckets by random projections and needs signature agreement; k-means
  * cells follow the embedding distribution, so SemDeDup catches looser
  * "same meaning" duplicates inside a dense topic cluster at lower
  * thresholds.
  *
  * Scale shape (the 100 TB contract):
  *  - cell assignment is the codegen'd map-only [[NearestCells]] scan —
  *    the centroid codebook rides in the generated code, no join;
  *  - the only corpus shuffle is the self-join keyed on the cell id;
  *    `maxCellSize` (the [[Dedup.candidatePairs]] fuse) bounds a degenerate
  *    cell the way every LSH path here bounds a hot bucket;
  *  - pair rows carry only (idA, idB, cosine) scalars past the join —
  *    vectors never cross the pair shuffle;
  *  - driver state is the `nlist × dim` codebook (KB), nothing else.
  */
object Semantic {

  /** Corpus with a deterministic `__cell` column appended (map-only).
    * `coalesce → -1` keeps the join key provably non-nullable so join-key
    * IsNotNull inference can't re-evaluate the assignment in a pushed
    * filter (same trap as [[Ivf.ivfTopK]]).
    */
  private def withCell(df: DataFrame, vecCol: String, cents: Array[Array[Double]])
      : DataFrame =
    df.withColumn("__cell",
      coalesce(element_at(NearestCells(col(vecCol), cents, 1), 1), lit(-1)))

  /** Semantic-duplicate pairs: same k-means cell AND cosine ≥ `threshold`.
    * Returns (idA, idB, cosine) with idA < idB. Pass a pre-trained
    * `codebook` to pin the clustering (and make repeated calls reuse one
    * training); otherwise [[Ivf.train]] runs its deterministic Lloyd
    * iterations here.
    */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, nlist: Int = 16, iters: Int = 2,
      codebook: Option[Array[Array[Double]]] = None, maxCellSize: Int = 0)
      : DataFrame = {
    val cents = codebook.getOrElse(Ivf.train(df, vecCol, dim, nlist, iters))
    val cells = withCell(
      df.select(col(idCol).as("__id"), col(vecCol).as("__v")), "__v", cents)
      .select(col("__cell").as("bk"), col("__id"), col("__v"))
    Dedup.candidatePairs(cells, None, maxCellSize)
      .select(col("idA"), col("idB"),
        VectorFunctions.cosineFast(col("__vA"), col("__vB")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Rows SemDeDup would drop, with the partner that evicts them:
    * (id, dup_of) where `dup_of` is the smallest-id in-cell partner with
    * cosine ≥ threshold below the dropped id. Keep-priority is ascending
    * id — deterministic and restatable by a SQL oracle.
    */
  def semDedupDropped(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, nlist: Int = 16, iters: Int = 2,
      codebook: Option[Array[Array[Double]]] = None, maxCellSize: Int = 0)
      : DataFrame =
    semDedupPairs(df, idCol, vecCol, dim, threshold, nlist, iters, codebook,
        maxCellSize)
      // idA < idB throughout, so idB is always the evicted side; the agg is
      // scalar-only (two longs) — hash-aggregable, map-side combined
      .groupBy(col("idB").as("id"))
      .agg(min("idA").as("dup_of"))
}
