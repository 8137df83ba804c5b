package graft

import org.apache.spark.sql.functions._

import graft.llm.Semantic

/** SemDeDup (cluster-based semantic dedup) — the behaviors the planted-copy
  * oracle query can't state: near-(not exact-)duplicate recall inside a
  * pinned codebook, the keep-lowest-id eviction, and the hot-cell cap.
  */
class SemanticSpec extends SparkSpec {

  private val dim = 4

  // two tight clusters on orthogonal axes plus an in-cluster near-dup pair:
  // ids 0/1 nearly parallel (cosine ≈ 0.999), 2 same cluster but farther
  // (cos ≈ 0.9), 10/11 the other cluster, far from each other (cos ≈ 0.38)
  private def vecs = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.01f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.03f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.44f, 0.0f, 0.0f)),
      (10L, Array(0.0f, 0.0f, 1.0f, 0.1f)),
      (11L, Array(0.0f, 0.0f, 0.3f, 1.0f)),
    ).toDF("id", "vec")
  }

  // pin the clustering: cell 0 = x-axis, cell 1 = z-axis
  private val codebook = Array(
    Array(1.0, 0.0, 0.0, 0.0),
    Array(0.0, 0.0, 1.0, 0.0))

  test("near-duplicates inside one cell are found; cross-cell and loose pairs are not") {
    val pairs = Semantic.semDedupPairs(vecs, "id", "vec", dim,
        threshold = 0.99, codebook = Some(codebook))
      .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 1L))) // 0-2/1-2 below threshold, 10-11 loose
    // lower threshold pulls in the looser same-cell pair but never crosses cells
    val loose = Semantic.semDedupPairs(vecs, "id", "vec", dim,
        threshold = 0.85, codebook = Some(codebook))
      .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("keep-lowest-id policy evicts the higher id with its evictor recorded") {
    val dropped = Semantic.semDedupDropped(vecs, "id", "vec", dim,
        threshold = 0.99, codebook = Some(codebook))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dropped.toSet == Set((1L, 0L)))
  }

  test("hot-cell cap drops degenerate cells instead of going quadratic") {
    import spark.implicits._
    // 50 identical vectors in one cell: uncapped → C(50,2) pairs; capped → 0
    val crowd = (0L until 50L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("id", "vec")
    val uncapped = Semantic.semDedupPairs(crowd, "id", "vec", dim,
      threshold = 0.9, codebook = Some(codebook)).count()
    assert(uncapped == 50L * 49 / 2)
    val capped = Semantic.semDedupPairs(crowd, "id", "vec", dim,
      threshold = 0.9, codebook = Some(codebook), maxCellSize = 10).count()
    assert(capped == 0L)
  }

  test("array expressions stay codegen'd under join-key not-null inference") {
    // the self-join infers IsNotNull over the cell/bucket expressions, which
    // rewrites their array child non-nullable; before the nullable-override
    // fix that made NearestCells/HyperplaneSigs/ArrayDot emit assignments to
    // an undeclared isNull slot — Janino failed and the whole stage silently
    // fell back to interpreted mode. Disabling fallback turns any
    // regression into a hard failure.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      Semantic.semDedupPairs(vecs, "id", "vec", dim, threshold = 0.99,
        codebook = Some(codebook)).collect()
      graft.llm.Dedup.embeddingPairs(vecs, "id", "vec", dim, threshold = 0.99)
        .collect()
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("untrained path is deterministic end-to-end on the same input") {
    val a = Semantic.semDedupDropped(vecs, "id", "vec", dim, threshold = 0.99,
      nlist = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Semantic.semDedupDropped(vecs, "id", "vec", dim, threshold = 0.99,
      nlist = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a == Set((1L, 0L)))
  }
}
