package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.llm.Decontaminate
import graft.topology.Topology

class DecontaminateSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "The QUICK, brown fox!"),              // normalization: case + punct
      (3L, "quick brownish fox"),                 // substring but not token run
      (4L, "totally unrelated text here"),
      (5L, "ends with lazy dog"),
      (6L, ""),                                   // empty text never matches
    ).toDF("doc_id", "text")
  }

  test("normalizeText lowercases, collapses punct runs, trims") {
    import spark.implicits._
    val out = Seq("  The QUICK,,; brown-fox! ", "", null.asInstanceOf[String])
      .toDF("t").select(TextFunctions.normalizeText(col("t"))).as[String].collect()
    assert(out(0) == "the quick brown fox")
    assert(out(1) == "" && out(2) == "")
  }

  test("flagged finds token-boundary phrase matches across phrase lengths") {
    import spark.implicits._
    val ids = Decontaminate.flagged(corpus, "doc_id", "text",
      Seq("quick brown fox", "lazy dog")).as[Long].collect().toSet
    // doc 3: "brownish" is not a "brown" token; doc 4/6: no match
    assert(ids == Set(1L, 2L, 5L))
  }

  test("flaggedLarge equals flagged — even under a deliberately FP-heavy Bloom") {
    import spark.implicits._
    // an undersized, high-fpp sketch floods the verification join with
    // false positives; exact verification must scrub every one, so the
    // result still equals the broadcast-exact path bit-for-bit
    val phrases = Seq("quick brown fox", "lazy dog", "nonexistent phrase here")
    val bench = phrases.toDF("phrase")
    val exact = Decontaminate.flagged(corpus, "doc_id", "text", phrases)
      .as[Long].collect().toSet
    for ((expected, fpp) <- Seq((1000L, 0.01), (2L, 0.5))) {
      val viaBloom = Decontaminate.flaggedLarge(corpus, "doc_id", "text",
          bench, "phrase", expectedPhrases = expected, fpp = fpp)
        .as[Long].collect().toSet
      assert(viaBloom == exact, s"expected=$expected fpp=$fpp")
    }
    assert(exact == Set(1L, 2L, 5L))
    // empty-after-normalization phrase table is loud
    intercept[IllegalArgumentException](
      Decontaminate.flaggedLarge(corpus, "doc_id", "text",
        Seq("", " . ").toDF("phrase"), "phrase"))
  }

  test("clean drops exactly the flagged docs; empty phrase list rejected") {
    import spark.implicits._
    val kept = Decontaminate.clean(corpus, "doc_id", "text", Seq("lazy dog"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L, 6L))
    intercept[IllegalArgumentException](
      Decontaminate.flagged(corpus, "doc_id", "text", Seq("", "  ")))
  }

  test("flaggedFuzzy catches paraphrased near-matches exact phrases miss") {
    import spark.implicits._
    // bench doc 101 is a lightly-edited copy of corpus doc 1 (one word
    // swapped): high 3-gram jaccard, but no long exact phrase survives at
    // every position — the fuzzy path's reason to exist
    val corp = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "totally different words that match nothing in the benchmark"),
      (4L, "short"),
    ).toDF("doc_id", "text")
    val bench = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (102L, "unrelated benchmark row with its own vocabulary entirely"),
    ).toDF("bench_id", "text")
    val got = Decontaminate.flaggedFuzzy(corp, "doc_id", "text",
        bench, "bench_id", "text", threshold = 0.7)
      .select("doc_id", "bench_id").as[(Long, Long)].collect().toSet
    // 8 shingles each, 7 shared → j = 7/9 ≈ 0.78 for docs 1 and 2
    assert(got == Set((1L, 101L), (2L, 101L)))
  }

  test("flaggedFuzzy maxBucketSize bounds a degenerate shared-band corpus") {
    import spark.implicits._
    // 40 identical corpus docs + 1 genuinely near-dup doc. The identical
    // docs share EVERY band with bench doc 201, so uncapped candidate
    // generation is O(corpus); capped at 8, the mega-cluster's bands are
    // dropped while doc 500's survive in full.
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed"
    val corp = ((1L to 40L).map(i => (i, boiler)) :+
        (500L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val bench = Seq(
      (201L, boiler),
      (202L, "one two three four five six seven eight nine eleven"),
    ).toDF("bench_id", "text")
    val uncapped = Decontaminate.flaggedFuzzy(corp, "doc_id", "text",
        bench, "bench_id", "text", threshold = 0.7)
      .select("doc_id", "bench_id").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 41)  // 40×201 + 500×202
    assert(uncapped.contains((500L, 202L)))
    val capped = Decontaminate.flaggedFuzzy(corp, "doc_id", "text",
        bench, "bench_id", "text", threshold = 0.7, maxBucketSize = 8)
      .select("doc_id", "bench_id").as[(Long, Long)].collect().toSet
    // non-degenerate pairs are unchanged; the mega-cluster's are the only
    // casualties (exact dedup handles those docs first in a real pipeline)
    assert(capped == Set((500L, 202L)))
  }

  test("Decontaminate + NormalizeText TOML components") {
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "in.csv").toPath,
      "1|the quick brown fox\n2|UNRELATED Text!\n3|a quick brown fox too\n")
    val toml =
      s"""[fields]
         |names = ["id", "text"]
         |[csv]
         |field_separator = "|"
         |[[filter]]
         |name = "Decontaminate"
         |  [filter.config]
         |  Field = "text"
         |  Phrases = ["quick brown fox"]
         |[[filter]]
         |name = "NormalizeText"
         |  [filter.config]
         |  SrcField = "text"
         |  DstField = "text"
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$dir/in.csv"]
         |[output]
         |name = "Recorder"
         |""".stripMargin
    val (_, _) = Topology.compileToml(spark, toml, env = Map.empty).run()
    // Recorder is a raw output: rows are (projected fields..., _record)
    val got = graft.topology.BuiltinComponents.Recorder.last
      .map(r => Seq(r.getString(0), r.getString(1)).mkString("|"))
    assert(got == Seq("2|unrelated text"))
  }

  test("overlapReport counts per-eval-doc distinct k-gram hits; short docs absent") {
    import spark.implicits._
    val corp = Seq(
      (101L, "alpha beta gamma delta epsilon zeta"),
      (102L, "one two three four")).toDF("doc_id", "text")
    val bench = Seq(
      // 4 distinct 3-grams, 2 present in corpus doc 101
      (1L, "alpha beta gamma delta one two"),
      // repeated gram counted once; not in corpus
      (2L, "x y z x y z"),
      (3L, "too short"), // < k tokens: absent
      // normalization applies before gramming: matches corpus doc 102
      (4L, "One, TWO; three!")).toDF("doc_id", "text")
    val got = Decontaminate.overlapReport(corp, "text", bench, "doc_id", "text", k = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc1 grams: "alpha beta gamma","beta gamma delta","gamma delta one","delta one two"
    //   hits: first two. doc2 grams: "x y z","y z x","z x y" (distinct) → 0 hits.
    // doc4 grams: "one two three" → 1 hit.
    assert(got == Seq((1L, 4L, 2L), (2L, 3L, 0L), (4L, 1L, 1L)))
  }
}
