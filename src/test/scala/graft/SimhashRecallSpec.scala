package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.llm.Dedup

/** The PRODUCTION simhash radius-recall curve, measured — the XXH64 half
  * of the probe (`q_simhash_recall` measures the same geometry under an
  * oracle-restatable md5 hash basis; XXH64 has no SQL restatement, so its
  * curve is pinned HERE). This makes the documented sf0.001 artifact —
  * `q_dedup_simhash`'s shipped radius 4 missing exactly one true pair,
  * radius 6 missing none (ORACLES.md §1, the measured radius table in the
  * query's comment) — an executable fact: if the fixture drifts, this
  * test fails NAMING the recall change, instead of `q_dedup_simhash`
  * going red with no explanation.
  */
class SimhashRecallSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("XXH64 simhash radius recall at sf0.001: radius 4 misses exactly " +
      "the one documented true pair; radius 6 misses none") {
    assume(new java.io.File(sf).isDirectory, "testdata not available")
    val docs = graft.core.Graft.table(spark, sf, "documents")
      .filter(trim(col("text")) =!= "")
    // exact truth from first principles: inverted shingle-index join
    // (exact — a pair at jaccard >= 0.7 always shares a shingle), never
    // the LSH under test
    val sh = docs.select(col("doc_id"),
        array_distinct(TextFunctions.shingles(col("text"), 3)).as("g"))
      .filter(size(col("g")) > 0)
    val ex = sh.select(col("doc_id"), explode(col("g")).as("s"))
    val truth = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("idA"), col("b.doc_id").as("idB")).distinct()
      .join(sh.select(col("doc_id").as("idA"), col("g").as("ga")), "idA")
      .join(sh.select(col("doc_id").as("idB"), col("g").as("gb")), "idB")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("uni", size(col("ga")) + size(col("gb")) - col("inter"))
      .filter(col("uni") > 0 &&
        col("inter").cast("double") / col("uni") >= 0.7)
      .select("idA", "idB")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture must contain true near-dup pairs")

    def caught(radius: Int): Set[(Long, Long)] =
      Dedup.simhashPairsVerified(docs, "doc_id", "text",
          threshold = 0.7, maxHamming = radius)
        .select("idA", "idB")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val at4 = caught(4)
    val at6 = caught(6)
    // verified output is always a subset of exact truth (the exact score
    // decides; the radius only proposes)
    assert(at4.subsetOf(truth) && at6.subsetOf(truth))
    assert(truth == at6,
      s"radius 6 recall changed: missing ${(truth -- at6).take(3)} — the " +
        "fixture drifted; re-measure the radius table in q_dedup_simhash " +
        "and ORACLES.md §1")
    assert((truth -- at4).size == 1,
      s"radius 4 now misses ${(truth -- at4).size} true pairs (documented: " +
        "exactly 1 at sf0.001) — the fixture drifted; re-measure the " +
        "radius table in q_dedup_simhash and ORACLES.md §1 before " +
        "trusting/blaming q_dedup_simhash")
  }

  test("SimHashMd5 (native) equals the composed md5-majority Column " +
      "formula bit-for-bit on real corpus text") {
    assume(new java.io.File(sf).isDirectory, "testdata not available")
    import org.apache.spark.sql.GraftShims
    val docs = graft.core.Graft.table(spark, sf, "documents")
    val TF = TextFunctions
    // the pre-r20 q_simhash_recall formulation, verbatim
    val composed = TF.bindOnce(transform(TF.tokens(col("text")),
      tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long"))) { th =>
      (0 until 32).map { b =>
        val bitSum = aggregate(th, lit(0L), (acc, h) =>
          acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val native = GraftShims.toColumn(graft.functions.SimHashMd5(
      GraftShims.toExpression(TF.tokens(col("text"))), 32))
    // empty text rows included: both forms must yield 0 there
    val diff = docs.select(composed.as("a"), native.as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff == 0, "native SimHashMd5 diverged from the composed formula")
  }

  test("native quality gates (C4KeptLines, C4Passes, GopherPasses) equal " +
      "their composed Column forms on real corpus text") {
    assume(new java.io.File(sf).isDirectory, "testdata not available")
    val docs = graft.core.Graft.table(spark, sf, "documents")
    // the fixture's text is single-line word soup; cutting it after every
    // period also pins the multi-line page path
    for (t <- Seq(col("text"), regexp_replace(col("text"), "\\. ", ".\n"))) {
      val ps = QualityKernelSpec.pairs(t)
      val diff = docs.select(ps.flatMap { case (n, a, b) =>
          Seq(a.as(s"a_$n"), b.as(s"b_$n")) }: _*)
        .filter(ps.map { case (n, _, _) => not(col(s"`a_$n`") <=> col(s"`b_$n`")) }
          .reduce(_ || _))
        .count()
      assert(diff == 0, s"native quality gates diverged from the composed forms on $t")
    }
  }
}
