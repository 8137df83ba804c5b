package graft

import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** [[Dedup.incrementalHammingDedupMulti]] semantics: the all-positions
  * kill rule, position-count mismatch immunity, store-vs-batch ordering,
  * and null-signature rows keeping their documents.
  */
class MultiSigDedupSpec extends SparkSpec {
  import spark.implicits._

  private def sigs(rows: (Long, Seq[Long])*) =
    rows.toDF("__id", "__hsigs")

  private def batchOf(ids: Long*) = ids.toDF("doc_id")

  private def kept(batch: Seq[Long], bs: Seq[(Long, Seq[Long])],
      store: Seq[(Long, Seq[Long])], radius: Int = 2): Seq[Long] =
    Dedup.incrementalHammingDedupMulti(batchOf(batch: _*), "doc_id",
        sigs(bs: _*), sigs(store: _*), maxHamming = radius)
      .select("doc_id").as[Long].collect().sorted.toSeq

  test("a kill requires EVERY position within radius") {
    // doc 2 matches doc 1 at position 0 (distance 1) but is far at
    // position 1 -> survives; doc 3 is within radius at BOTH -> dies
    val bs = Seq(
      1L -> Seq(0x0FL, 0xF0L),
      2L -> Seq(0x0EL, 0xFFFF00L),
      3L -> Seq(0x0DL, 0xF1L))
    assert(kept(Seq(1, 2, 3), bs, Nil) == Seq(1L, 2L))
  }

  test("position-count mismatch never kills") {
    val bs = Seq(1L -> Seq(0x0FL), 2L -> Seq(0x0FL, 0x0FL))
    assert(kept(Seq(1, 2), bs, Nil) == Seq(1L, 2L))
  }

  test("the store kills in either id order; within-batch only smaller id") {
    // store doc 100 (larger id) still kills batch doc 1
    val store = Seq(100L -> Seq(0x0FL, 0xF0L))
    val bs = Seq(1L -> Seq(0x0FL, 0xF0L), 5L -> Seq(0xFF00L, 0x0F0FL))
    assert(kept(Seq(1, 5), bs, store) == Seq(5L))
  }

  test("rows without signatures (undecodable) are kept and kill nothing") {
    val bs = Seq(2L -> Seq(0x0FL, 0xF0L)) // doc 1 has no signature row
    assert(kept(Seq(1, 2), bs, Nil) == Seq(1L, 2L))
  }

  test("a null-id batch signature kills nothing (it must not act as the " +
      "fused killer join's store sentinel)") {
    // the fused killer join lets store rows kill in either id order; a
    // batch row whose __id is genuinely null must NOT be promoted to that
    // role — under a plain self-join's idA < idB it kills nothing, and
    // that is the pinned semantics.
    // Identical signatures at both positions: were the null id treated
    // as a store killer, doc 1 would die.
    val bs = Seq(
      (null.asInstanceOf[java.lang.Long], Seq(0x0FL, 0xF0L)),
      (java.lang.Long.valueOf(1L), Seq(0x0FL, 0xF0L)))
      .toDF("__id", "__hsigs")
    val out = Dedup.incrementalHammingDedupMulti(batchOf(1L), "doc_id",
        bs, sigs(), maxHamming = 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(out == Seq(1L))

    // same pin for the single-signature kernel
    val bs1 = Seq(
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(0x0FL)),
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(0x0FL)))
      .toDF("__id", "__hsig")
    val out1 = Dedup.incrementalHammingDedup(batchOf(1L), "doc_id",
        bs1, Seq.empty[(Long, Long)].toDF("__id", "__hsig"), maxHamming = 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(out1 == Seq(1L))
  }
}
