package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "in the warm sun near the old barn door every single afternoon"

  /** corpus: 0 and 1 near-identical, 2 identical to 0, 3 unrelated. */
  private def docs = {
    import spark.implicits._
    Seq(
      (0L, base),
      (1L, base.replace("lazy", "sleepy")),
      (2L, base),
      (3L, "completely different text about spark clusters and parquet files " +
        "with nothing shared at all in any shingle of this string whatsoever"),
      (4L, ""), // empty doc must not break anything
    ).toDF("doc_id", "text")
  }

  test("span dedup: first occurrence wins across and within documents") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b c d e f"),        // spans (width 3): "a b c", "d e f"
      (1L, "a b c x y z"),        // "a b c" repeats doc 0's span 0
      (2L, "x y z x y z"),        // "x y z" repeats doc 1 AND itself
      (3L, ""),                   // empty doc: no spans
    ).toDF("doc_id", "text")
    val chunks = Dedup.tokenChunks(corpus, "doc_id", "text", width = 3)
    assert(chunks.count() == 6)
    val kept = Dedup.firstSpanOccurrence(chunks, "doc_id")
      .as[(Long, Long, String)].collect().toSet
    assert(kept == Set((0L, 0L, "a b c"), (0L, 1L, "d e f"), (1L, 1L, "x y z")))
    // reassembly drops the repeated spans and whole-dup docs vanish
    val texts = Dedup.dedupSpans(chunks, "doc_id")
      .as[(Long, String)].collect().toMap
    assert(texts == Map(0L -> "a b c d e f", 1L -> "x y z"))
  }

  test("span dedup matches a naive first-occurrence reference on random corpora") {
    import spark.implicits._
    // tiny vocab makes span collisions likely, exercising every branch
    val vocab = Array("a", "b", "c")
    for (seed <- 1L to 6L) {
      val rnd = new scala.util.Random(seed)
      val corpus = (0L until 40L).map { id =>
        val n = rnd.nextInt(12) // 0..11 tokens; 0 → doc with no spans
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val width = 1 + rnd.nextInt(3)
      val naive = {
        val seen = scala.collection.mutable.HashSet.empty[String]
        for {
          (id, text) <- corpus
          toks = text.split(" ").filter(_.nonEmpty)
          (chunk, pos) <- toks.grouped(width).zipWithIndex.toSeq
          span = chunk.mkString(" ")
          if seen.add(span)
        } yield (id, pos.toLong, span)
      }.toSet
      val got = Dedup.firstSpanOccurrence(
        Dedup.tokenChunks(corpus.toDF("doc_id", "text"), "doc_id", "text", width),
        "doc_id").as[(Long, Long, String)].collect().toSet
      assert(got == naive, s"seed=$seed width=$width")
    }
  }

  test("cdc chunks match a naive fold and reassemble to the original text") {
    import spark.implicits._
    val corpus = Seq(
      (0L, base),
      (1L, "one two three"),
      (2L, ""),
    ).toDF("doc_id", "text")
    def hash(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16)
    }
    val naive = for {
      (id, text) <- Seq((0L, base), (1L, "one two three"))
      toks = text.split("\\s+").filter(_.nonEmpty)
      spans = toks.foldLeft((Vector.empty[Vector[String]], Vector.empty[String])) {
        case ((done, cur), tok) =>
          if (hash(tok) % 16 == 0) (done :+ (cur :+ tok), Vector.empty)
          else (done, cur :+ tok)
      } match { case (done, cur) => if (cur.isEmpty) done else done :+ cur }
      (span, pos) <- spans.zipWithIndex
    } yield (id, pos.toLong, span.mkString(" "))
    val got = graft.llm.Dedup.cdcChunks(corpus, "doc_id", "text", 16)
      .as[(Long, Long, String)].collect().toSet
    assert(got == naive.toSet)
    // spans concatenate back to the tokenized text, nothing lost at cuts
    for ((id, text) <- Seq((0L, base), (1L, "one two three"))) {
      val joined = got.toSeq.filter(_._1 == id).sortBy(_._2).map(_._3).mkString(" ")
      assert(joined == text.split("\\s+").filter(_.nonEmpty).mkString(" "))
    }
  }

  test("cdc spans survive a token insertion where fixed-width chunks shift") {
    import spark.implicits._
    // 200 deterministic pseudo-random tokens; doc 1 = doc 0 with one token
    // inserted at the front — every fixed-width chunk shifts, CDC re-syncs
    val rnd = new scala.util.Random(7)
    val toks = Seq.fill(200)("t" + rnd.nextInt(5000))
    val corpus = Seq(
      (0L, toks.mkString(" ")),
      (1L, ("INSERTED" +: toks).mkString(" "))).toDF("doc_id", "text")
    def dupFraction(spans: org.apache.spark.sql.DataFrame): Double = {
      val per = spans.groupBy("span").count()
      val shared = per.filter(col("count") >= 2).count().toDouble
      val doc0 = spans.filter(col("doc_id") === 0).count().toDouble
      shared / doc0
    }
    val fixedDup = dupFraction(
      graft.llm.Dedup.tokenChunks(corpus, "doc_id", "text", 8))
    val cdcDup = dupFraction(
      graft.llm.Dedup.cdcChunks(corpus, "doc_id", "text", 8))
    // fixed-width: nearly nothing matches after the shift; CDC: most spans
    // outside the edited first one still match
    assert(fixedDup < 0.2, s"fixed-width unexpectedly robust: $fixedDup")
    assert(cdcDup > 0.7, s"CDC failed to re-sync: $cdcDup")
  }

  test("span dedup: ragged tail span is kept as its own unit") {
    import spark.implicits._
    val corpus = Seq((7L, "p q r s t")).toDF("doc_id", "text")
    val kept = Dedup.firstSpanOccurrence(
      Dedup.tokenChunks(corpus, "doc_id", "text", width = 3), "doc_id")
      .as[(Long, Long, String)].collect().toSet
    assert(kept == Set((7L, 0L, "p q r"), (7L, 1L, "s t")))
  }

  test("exact dedup keeps the smallest id per key") {
    import spark.implicits._
    val out = Dedup.exact(docs, "doc_id", Seq(md5(col("text").cast("binary"))))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(0L, 1L, 3L, 4L))
    // keeper-id form: same selection rule, primitive-buffer hash aggregate
    val ids = Dedup.exactIds(docs, "doc_id", Seq(md5(col("text").cast("binary"))))
    assert(ids.as[Long].collect().toSet == Set(0L, 1L, 3L, 4L))
    val p = ids.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), p)
  }

  test("minhash pairs find the identical and near-identical pairs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) == 1.0)
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) > 0.5)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("verified minhash dedup decides by EXACT jaccard, not the estimate") {
    import spark.implicits._
    val kept = Dedup.minhashDedupVerified(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 4L))
    // at an impossible threshold nothing dies — even the identical pair's
    // estimate can't overrule the exact score's cap of 1.0
    val all = Dedup.minhashDedupVerified(docs, "doc_id", "text", threshold = 1.01)
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("verified CC dedup clusters transitively on exact-score edges") {
    import spark.implicits._
    val kept = Dedup.minhashDedupCCVerified(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 4L)) // {0,1,2} one cluster → keep 0
  }

  test("verified simhash pairs carry the exact jaccard and threshold on it") {
    val rows = Dedup.simhashPairsVerified(docs, "doc_id", "text",
        threshold = 0.5, maxHamming = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows.contains((0L, 2L)) && rows((0L, 2L)) == 1.0)
    assert(rows.get((0L, 1L)).exists(j => j > 0.5 && j < 1.0))
    assert(!rows.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("multi-piece simhash banding keeps the hamming-radius guarantee") {
    // identical docs (hamming 0) must collide under EVERY piece config;
    // verified output must not shrink when pieces increase at fixed radius
    for (p <- Seq(1, 2, 3)) {
      val pairs = Dedup.simhashPairsVerified(docs, "doc_id", "text",
          threshold = 0.5, maxHamming = 8, pieces = p)
        .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((0L, 2L)), s"pieces=$p lost the identical pair")
      assert(pairs.contains((0L, 1L)), s"pieces=$p lost the near-identical pair")
    }
  }

  test("simhash pieces=2 strictly shrinks collision volume on independent-bit text") {
    import spark.implicits._
    // a de-correlated fixture: every doc draws its own tokens from a huge
    // hash-mixed vocabulary, so signature bits are near-iid across docs —
    // the regime where the Manku multi-piece dial pays. (The driver's
    // shared-template corpus correlates chunk agreements, hiding the
    // effect; this fixture exists precisely to validate the dial.)
    val rnd = new scala.util.Random(90210)
    val corpus = (0L until 400L).map { id =>
      val toks = Seq.fill(30)(f"w${rnd.nextLong()}%016x")
      (id, toks.mkString(" "))
    }.toDF("doc_id", "text")

    def collisions(pieces: Int): Long = {
      val banded = Dedup.simhashBanded(corpus, "doc_id", "text",
        nBits = 32, maxHamming = 4, pieces = pieces)
      val a = banded.select(col("bk"), col("__id").as("idA"))
      val b = banded.select(col("bk").as("bk2"), col("__id").as("idB"))
      a.join(b, col("bk") === col("bk2") && col("idA") < col("idB")).count()
    }
    val (c1, c2) = (collisions(1), collisions(2))
    assert(c2 < c1, s"pieces=2 must shrink the candidate join: p1=$c1 p2=$c2")
    assert(c2.toDouble / c1 < 0.5, s"expected a substantial shrink: p1=$c1 p2=$c2")
    // and the radius-defined pair set is unchanged (pigeonhole recall)
    def pairSet(p: Int) = Dedup.simhashPairs(corpus, "doc_id", "text",
        nBits = 32, maxHamming = 4, pieces = p)
      .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(1) == pairSet(2))
  }

  test("hammingPairs: generic 64-bit signatures equal the brute-force " +
      "pair set for every pieces config; radius is exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val sigs = (0L until 200L).map(id => (id, rnd.nextLong()))
    // plant near pairs: 200+i = sig(i) with i low bits flipped
    val planted = (0 until 6).map(i => (200L + i, sigs(i.toInt)._2 ^ ((1L << i) - 1)))
    val all = (sigs ++ planted).toDF("id", "sig")
    val brute = (for {
      (a, sa) <- sigs ++ planted
      (b, sb) <- sigs ++ planted
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 4
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    for (p <- Seq(1, 2)) {
      val got = graft.llm.Dedup.hammingPairs(all, "id", col("sig"),
          nBits = 64, maxHamming = 4, pieces = p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute, s"pieces=$p: ${got.size} vs brute ${brute.size}")
    }
    // the planted pairs with flips 0..4 are in; flip-5 (hamming 5) is out
    val got1 = graft.llm.Dedup.hammingPairs(all, "id", col("sig"), maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0 until 5) assert(got1.contains((i.toLong, 200L + i)), s"flip-$i lost")
    assert(!got1.contains((5L, 205L)))
    // null signatures pair with nothing (and never flood the buckets)
    val withNulls = (sigs.map { case (i, v) => (i, Option(v)) } ++
      (500L until 520L).map(i => (i, Option.empty[Long]))).toDF("id", "sig")
    val gotN = graft.llm.Dedup.hammingPairs(withNulls, "id", col("sig"),
        maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotN.forall { case (a, b) => a < 500 && b < 500 })
  }

  test("connectedComponents: transitive clusters, min-id labels, chains") {
    import spark.implicits._
    // components: {1,2,3,4} via a chain, {10,11}, and 3-3 self-pair noise
    val pairs = Seq((1L, 3L), (2L, 3L), (3L, 4L), (10L, 11L), (3L, 3L))
      .toDF("idA", "idB")
    val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // empty graph → empty result, no iteration blowup
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("idA", "idB")).count() == 0)
    // 200-vertex chain: diameter >> default rounds — pointer jumping must
    // still converge everything to component 0 (O(log d), not O(d)).
    // localEdgeThreshold = 0 forces the DISTRIBUTED loop; the default takes
    // the driver union-find fast path — both must agree
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("idA", "idB")
    val chainCC = Dedup.connectedComponents(chain, localEdgeThreshold = 0)
      .as[(Long, Long)].collect()
    assert(chainCC.length == 200 && chainCC.forall(_._2 == 0L))
    val chainLocal = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(chainLocal.length == 200 && chainLocal.forall(_._2 == 0L))
  }

  test("connectedComponents: distributed fallback at the edge-count/byte caps matches") {
    import spark.implicits._
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("idA", "idB")
    // 199 edges > localEdgeThreshold=8 → count cap trips the fallback
    val viaCountCap = Dedup.connectedComponents(chain, localEdgeThreshold = 8)
      .as[(Long, Long)].collect()
    assert(viaCountCap.length == 200 && viaCountCap.forall(_._2 == 0L))
    // wide string ids under a tiny byte budget → byte cap trips the
    // fallback even though the edge COUNT is under the threshold
    val wide = (0 until 50).map(i => (f"${"x" * 2000}$i%03d", f"${"x" * 2000}${i + 1}%03d"))
      .toDF("idA", "idB")
    val viaByteCap = Dedup.connectedComponents(wide, maxLocalEdgeBytes = 10L << 10)
      .as[(String, String)].collect()
    val viaLocal = Dedup.connectedComponents(wide).as[(String, String)].collect()
    assert(viaByteCap.length == 51 && viaByteCap.sorted.sameElements(viaLocal.sorted))
    assert(viaByteCap.forall(_._2 == "x" * 2000 + "000"))
  }

  test("connectedComponents over minhash pairs kills middleman-linked docs") {
    import spark.implicits._
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
      .filter(col("est_jaccard") >= 0.5)
    val doomed = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("component")).select("id").as[Long].collect().toSet
    val kept = docs.select("doc_id").as[Long].collect().toSet -- doomed
    // same corpus as minhashDedupVerified: {0,1,2} cluster transitively → keep 0
    assert(kept == Set(0L, 3L, 4L))
  }

  test("maxBucketSize fuse drops mega-cluster buckets, keeps small ones") {
    import spark.implicits._
    // a 60-doc identical "bucket bomb" (ids 100..159) plus the small corpus:
    // uncapped, the bomb alone emits 60·59/2 = 1770 pairs per surviving
    // band; capped at 50, every bomb bucket exceeds the cap and is dropped,
    // while the 2-member buckets of the real near-dup pairs survive
    val bomb = (100L until 160L).map(i => (i, "boilerplate header " * 10)).toDF("doc_id", "text")
    val corpus = docs.unionByName(bomb)
    val uncapped = Dedup.minhashPairs(corpus, "doc_id", "text")
    assert(uncapped.filter(col("idA") >= 100L).count() == 60L * 59 / 2)
    val capped = Dedup.minhashPairs(corpus, "doc_id", "text", maxBucketSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a >= 100L || b >= 100L },
      "bomb pairs survived the cap")
    assert(capped.contains((0L, 1L)) && capped.contains((0L, 2L)),
      s"small near-dup buckets were wrongly pruned: $capped")
    // same fuse on the simhash path
    val simCapped = Dedup.simhashPairs(corpus, "doc_id", "text", maxBucketSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!simCapped.exists { case (a, b) => a >= 100L || b >= 100L })
    assert(simCapped.contains((0L, 2L)))
  }

  test("simhash: identical docs at hamming 0; near < far; radius honored") {
    // ground-truth signatures first, then check the banded pair search
    // against the true hamming distances (deterministic given xxhash64)
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(0L, 2L) == 0)
    assert(ham(0L, 1L) < ham(0L, 3L)) // one word changed ≪ unrelated doc
    val radius = ham(0L, 1L)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = radius)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((0L, 2L)) == 0)
    assert(pairs((0L, 1L)) == radius) // pigeonhole banding finds it at its radius
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash banding covers all bits when nBits % (maxHamming+1) != 0") {
    // 32 bits / 5 chunks → widths 7,7,6,6,6: an identical pair must still
    // collide (it agrees on every chunk, including the widened ones)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((0L, 2L)) == 0)
  }

  test("simhash nBits=64 maxHamming=0: full-signature bucket, not one global bucket") {
    // width-64 chunk mask must be all-ones ((1L<<64)-1 wraps to 0): only
    // the identical pair collides, unrelated docs don't share the bucket
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", nBits = 64, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 2L)))
  }

  test("jaccard column: exact set similarity with empty-set guard") {
    val df = spark.sql(
      """SELECT array('a','b','c') ta, array('b','c','d') tb
         UNION ALL SELECT array(), array()""")
    val out = df.select(Dedup.jaccard(col("ta"), col("tb"))).collect().map(_.getDouble(0)).sorted
    assert(out(0) == 0.0 && out(1) == 0.5)
  }

  test("verifyJaccard re-scores candidate pairs exactly") {
    import spark.implicits._
    val pairs = Seq((0L, 2L)).toDF("idA", "idB")
    val out = Dedup.verifyJaccard(pairs, docs, "doc_id", "text")
      .select("jaccard").head().getDouble(0)
    assert(out == 1.0)
  }

  test("embedding pairs find planted duplicate vectors only") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // dup of 0
      (3L, Array(0.5f, 0.5f, 0.5f, 0.5f)),
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(vecs, "vec_id", "embedding", dim = 4, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 2L)))
    // transitive keep-min over the same pair graph
    val doomed = Dedup.connectedComponents(pairs.toSeq.toDF("idA", "idB"))
      .filter(col("id") =!= col("component")).select("id").as[Long].collect().toSet
    assert(doomed == Set(2L))
  }

  test("simhashPairs: the copy pairs as the larger id, unrelated/empty docs not") {
    import spark.implicits._
    val doomed = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("idB").as[Long].collect().toSet
    // 2 is identical to 0 (hamming 0) → dropped; 1 is 1 word off — within
    // radius iff its signature is ≤3 bits away, so just assert the
    // guarantees: 0 survives, 2 dies, unrelated 3 and empty 4 survive
    assert(!doomed.contains(0L) && doomed.contains(2L))
    assert(!doomed.contains(3L) && !doomed.contains(4L))
  }

  test("bruteForceTopK ranks by cosine desc with deterministic ties") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.05f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id",
      "embedding", k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 3L), (2, 1L))) // 3 closest to [1,0], then 1
  }

  test("lshTopK recovers an exact duplicate (same bucket by construction)") {
    import spark.implicits._
    val vecs = (0L until 32L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j + 1).toFloat))).toDF("vec_id", "embedding")
    val withDup = vecs.unionByName(
      vecs.filter(col("vec_id") === 5).withColumn("vec_id", lit(1005L)))
    val out = Similarity.lshTopK(withDup, withDup.filter(col("vec_id") === 5), "vec_id",
      "embedding", dim = 8, k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.head._2 == 1005L && out.head._3 == 1.0)
  }

  test("mmrRerank: diversity beats redundancy; λ=1 reduces to relevance order") {
    import spark.implicits._
    // query [1,0]; A and B nearly identical (both high rel), C on the
    // other side of the query (lower rel ≈ .93, but sim-to-A only ≈ .78)
    val corpus = Seq(
      (100L, Seq(1.0f, 0.0f)),   // query row (excluded from its own results)
      (1L, Seq(1.0f, 0.3f)),     // A: rel ≈ .958
      (2L, Seq(1.0f, 0.31f)),    // B: rel ≈ .957, sim(B,A) ≈ 1 — redundant
      (3L, Seq(1.0f, -0.4f)))    // C: rel ≈ .928, diverse
      .toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 100L)
    val diverse = Similarity.mmrRerank(corpus, q, "vec_id", "embedding",
        k = 3, fetch = 10, lambda = 0.5)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    // step 1 takes A; step 2: val(C) = .5(.928−.783) ≈ +.07 beats
    // val(B) = .5(.957−1.0) < 0
    assert(diverse == Seq(1L, 3L, 2L))
    val relevanceOnly = Similarity.mmrRerank(corpus, q, "vec_id", "embedding",
        k = 3, fetch = 10, lambda = 1.0)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(relevanceOnly == Seq(1L, 2L, 3L))
    // deterministic ties: identical vectors rank by ascending id
    val dup = Seq((100L, Seq(1.0f, 0.0f)), (7L, Seq(0.5f, 0.5f)), (5L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val tied = Similarity.mmrRerank(dup, dup.filter(col("vec_id") === 100L),
        "vec_id", "embedding", k = 2, fetch = 10, lambda = 0.5)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(tied == Seq(5L, 7L))
  }

  test("mmrRerank matches a scalar greedy reference on random vectors (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (round <- 1 to 2) {
      val vecs = (0L to 12L).map(id =>
        id -> Seq.fill(4)((rnd.nextDouble() * 2 - 1).toFloat))
      val corpus = vecs.toDF("vec_id", "embedding")
      val got = Similarity.mmrRerank(corpus, corpus.filter(col("vec_id") < 2),
          "vec_id", "embedding", k = 4, fetch = 8, lambda = 0.5)
        .collect()
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq)
        .toMap
      // scalar reference: identical rounding + tie rules
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
        if (na * nb == 0) 0.0 else dot / (na * nb)
      }
      val vm = vecs.toMap
      for (q <- 0L to 1L) {
        val cands = vecs.collect { case (id, v) if id != q =>
          (id, r4(cos(vm(q), v))) }
          .sortBy { case (id, rel) => (-rel, id) }.take(8)
        var selected = List.empty[Long]
        var remaining = cands.toList
        while (selected.size < 4 && remaining.nonEmpty) {
          val pick =
            if (selected.isEmpty) remaining.minBy { case (id, rel) => (-rel, id) }
            else remaining.minBy { case (id, rel) =>
              val maxSim = selected.map(s => r4(cos(vm(id), vm(s)))).max
              (-(0.5 * rel - 0.5 * maxSim), id)
            }
          selected = selected :+ pick._1
          remaining = remaining.filterNot(_._1 == pick._1)
        }
        assert(got(q) == selected, s"round $round query $q")
      }
    }
  }

  test("mmrRerank: zero-norm vectors (NaN cosine) are never selectable, no crash") {
    import spark.implicits._
    val corpus = Seq(
      (100L, Seq(1.0f, 0.0f)),
      (1L, Seq(1.0f, 0.2f)),
      (2L, Seq(0.5f, 1.0f)),
      (3L, Seq(0.0f, 0.0f))) // zero norm → NaN cosine everywhere
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(corpus, corpus.filter(col("vec_id") === 100L),
        "vec_id", "embedding", k = 3, fetch = 10, lambda = 0.5)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(got == Seq(1L, 2L), s"NaN candidate must be skipped, got $got")
  }

  test("centroids: per-label means, dim gate, components in order") {
    import spark.implicits._
    val df = Seq(
      (0, Seq(1.0f, 2.0f, 3.0f)),
      (0, Seq(3.0f, 4.0f, 5.0f)),
      (1, Seq(10.0f, 0.0f, -2.0f)),
      (1, Seq(2.0f, 1.0f, 1.0f)),   // truncated vector below must be dropped
      (1, Seq(0.5f, 0.5f))).toDF("label", "embedding")
    val got = Similarity.centroids(df, "label", "embedding", 3)
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2))).toSeq
    assert(got == Seq(
      (0, 2L, Seq(2.0, 3.0, 4.0)),
      (1, 2L, Seq(6.0, 0.5, -0.5))))
  }

  test("recallAtK: per-query intersection over k; absent queries score zero") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    // query 1: one of two right (the 99 miss doesn't count); query 2: the
    // approximate method returned NOTHING — it must still appear, at 0
    val approx = Seq((1L, 10L), (1L, 99L)).toDF("query_id", "neighbor_id")
    val got = graft.llm.Similarity.recallAtK(approx, exact, k = 2)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 1L, 0.5), (2L, 0L, 0.0)))
    intercept[IllegalArgumentException](
      graft.llm.Similarity.recallAtK(approx, exact, k = 0))
    // a result set assembled from overlapping probes may repeat a
    // (query, neighbor) pair — a hit must count once, recall stays ≤ 1
    val dup = Seq((1L, 10L), (1L, 10L), (1L, 11L), (1L, 11L))
      .toDF("query_id", "neighbor_id")
    val dd = graft.llm.Similarity.recallAtK(dup, exact, k = 2)
      .filter($"query_id" === 1L).collect().head
    assert((dd.getLong(1), dd.getDouble(2)) == ((2L, 1.0)))
  }

  test("keepBestPerCluster: per-cluster argmax score, tie -> min id, singletons survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // clusters {1,2,3} (transitive via 2) and {10,11}; 20 unclustered
    val docs = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (10L, 1.0), (11L, 0.5), (20L, 0.0))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("idA", "idB")
    val kept = graft.llm.Dedup.keepBestPerCluster(docs, pairs, "doc_id", col("score"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // cluster one: 2 and 3 tie at 9.0 -> min id 2; cluster two: 10
    assert(kept == Seq(2L, 10L, 20L))
  }

  test("keepBestPerCluster: null scores rank last, an all-null cluster " +
      "still keeps its min id (never the empty set)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // cluster {1,2,3}: all scores null -> keep 1 (the coalesce-to--inf
    // fallback; without it every member would be doomed); cluster
    // {10,11}: null loses to a real score even a negative one
    val docs = Seq[(Long, Option[Double])]((1L, None), (2L, None), (3L, None),
        (10L, None), (11L, Some(-4.0)), (20L, None))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("idA", "idB")
    val kept = graft.llm.Dedup.keepBestPerCluster(docs, pairs, "doc_id", col("score"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 11L, 20L))
  }

  test("assignSplitsLeakageSafe: a near-dup cluster shares ONE split") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"d$i")).toDF("doc_id", "t")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("idA", "idB")
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val got = graft.llm.Dedup.assignSplitsLeakageSafe(docs, pairs, "doc_id", "s1", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(Set(got(1L), got(2L), got(3L)).size == 1, "cluster {1,2,3} must share")
    assert(got(10L) == got(11L))
    // clustered docs take the LABEL's split; singletons equal plain assignSplits
    val plain = graft.llm.Mix.assignSplits(docs, org.apache.spark.sql.functions.col("doc_id"),
        "s1", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got(1L) == plain(1L) && got(10L) == plain(10L))
    for (i <- 4L to 9L) assert(got(i) == plain(i))
    assert(got.size == 40)
  }
}
