package graft

import org.apache.spark.sql.functions._

import graft.llm.Dsir

class DsirSpec extends SparkSpec {

  // bigrams: doc1 {a b, b c}, doc2 {a b, b a, a b}, doc3 {a b, b x};
  // md5 3-hex prefixes verified distinct (0cc/b5f/229/7f9) so bucket
  // counts equal gram counts. target = doc3.
  private def corpus = {
    import spark.implicits._
    Seq((1L, "a b c"), (2L, "a b a b"), (3L, "a b x"), (4L, "single"))
      .toDF("doc_id", "text")
  }
  private def target = corpus.filter(col("doc_id") === 3)

  test("integer sufficient statistics are exact; gramless docs are absent") {
    val got = Dsir.importanceStats(corpus, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // raw counts: "a b"→4 (doc2 has it twice), "b c"/"b a"/"b x"→1;
    // tgt: "a b"→1, "b x"→1
    assert(got == Map(
      1L -> ((2L, 1L, 5L)),   // a b (t1,r4) + b c (t0,r1)
      2L -> ((3L, 2L, 9L)),   // a b ×2 (t1,r4 each) + b a (t0,r1)
      3L -> ((2L, 2L, 5L)))) // a b (t1,r4) + b x (t1,r1)
    // doc 4 has one token → no bigrams → absent, like Unigram.score
  }

  test("surrogate weight reproduces the closed form from the integers") {
    val stats = Dsir.importanceStats(corpus, target, "doc_id", "text")
    val w = Dsir.withImportanceWeight(stats, totalTarget = 2L, totalRaw = 7L,
        buckets = 4096L)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    def expect(n: Long, tf: Long, rf: Long): Double =
      math.log((tf + n * 1.0) / (2 + 4096.0)) -
        math.log((rf + n * 1.0) / (7 + 4096.0))
    assert(math.abs(w(1L) - expect(2, 1, 5)) < 1e-12)
    assert(math.abs(w(2L) - expect(3, 2, 9)) < 1e-12)
    assert(math.abs(w(3L) - expect(2, 2, 5)) < 1e-12)
  }

  test("paper-exact per-gram weights match a hand-summed log-ratio") {
    val w = Dsir.exactWeights(corpus, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val (t, r, b) = (2.0, 7.0, 4096.0)
    def lr(tc: Long, rc: Long): Double =
      math.log((tc + 1.0) / (t + b)) - math.log((rc + 1.0) / (r + b))
    val ab = lr(1, 4); val bc = lr(0, 1); val ba = lr(0, 1); val bx = lr(1, 1)
    assert(math.abs(w(1L) - (ab + bc)) < 1e-9)
    assert(math.abs(w(2L) - (ab + ba + ab)) < 1e-9)
    assert(math.abs(w(3L) - (ab + bx)) < 1e-9)
    // target-gram docs rank above raw-typical docs under both weights
    assert(w(3L) > w(2L) && w(3L) > w(1L))
  }

}
