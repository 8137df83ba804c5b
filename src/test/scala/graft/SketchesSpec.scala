package graft

import org.apache.spark.sql.functions._

import graft.llm.Sketches

class SketchesSpec extends SparkSpec {

  test("HLL estimate within 3% of exact; fine→coarse rollup matches direct") {
    import spark.implicits._
    // 3 groups × overlapping user sets across 10 "days"
    val rows = for {
      day <- 0 until 10
      u <- 0 until 500
      if (u + day) % 3 != 0
    } yield (s"type${u % 3}", day, (u * 7 + day * 13) % 1200)
    val df = rows.toDF("event_type", "day", "user_id")

    val exact = df.groupBy("event_type").agg(countDistinct("user_id").as("exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // direct estimate
    val direct = Sketches.distinctSketch(df, Seq("event_type"), "user_id")
      .select(col("event_type"), Sketches.estimate(col("sketch")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // persisted-per-day sketches, rolled up later without raw data
    val daily = Sketches.distinctSketch(df, Seq("event_type", "day"), "user_id")
    val rolled = Sketches.rollup(daily, Seq("event_type"))
      .select(col("event_type"), Sketches.estimate(col("sketch")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    for ((k, ex) <- exact) {
      assert(math.abs(direct(k) - ex).toDouble / ex < 0.03, s"$k direct ${direct(k)} vs $ex")
      // dense-mode register merges are max-based, but DataSketches'
      // sparse→dense promotion can differ by a hair between the direct and
      // union paths — assert near-identity, not equality
      assert(math.abs(rolled(k) - direct(k)).toDouble / ex < 0.01,
        s"$k rollup ${rolled(k)} != direct ${direct(k)}")
    }
  }

  test("sketch bytes are bounded and group count is exact") {
    import spark.implicits._
    val df = (0 until 10000).map(i => ("g", i)).toDF("g", "v")
    val sk = Sketches.distinctSketch(df, Seq("g"), "v", lgK = 12)
    val bytes = sk.select(length(col("sketch"))).head().getInt(0)
    assert(bytes <= (1 << 12) * 2, s"sketch unexpectedly large: $bytes B")
    assert(sk.count() == 1)
  }

  // --- histogram quantile sketches ---

  private def histData = {
    import spark.implicits._
    // log-normal-ish positive latencies per (svc, day), deterministic
    val rows = for {
      svc <- Seq("a", "b"); day <- 0 until 5; i <- 0 until 2000
    } yield {
      val u = ((i * 2654435761L + day * 97 + svc.hashCode) % 10000) / 10000.0
      (svc, day, math.pow(10, 1 + 2.5 * u)) // 10 .. ~3162
    }
    rows.toDF("svc", "day", "ms")
  }

  test("hist quantiles within the log-bin relative error of exact percentiles") {
    val bounds = Sketches.logBounds(0, 5, 40) // ~6% relative error bins
    val sk = Sketches.histSketch(histData, Seq("svc"), "ms", bounds)
    val got = sk.select(col("svc"),
        Sketches.histQuantile(col("hist"), bounds, 0.5).as("p50"),
        Sketches.histQuantile(col("hist"), bounds, 0.99).as("p99"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = histData.groupBy("svc")
      .agg(expr("percentile(ms, 0.5)").as("p50"), expr("percentile(ms, 0.99)").as("p99"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for ((svc, (e50, e99)) <- exact; (g50, g99) = got(svc)) {
      assert(math.abs(g50 - e50) / e50 < 0.07, s"$svc p50: got $g50 exact $e50")
      assert(math.abs(g99 - e99) / e99 < 0.07, s"$svc p99: got $g99 exact $e99")
    }
  }

  test("hist fine→coarse rollup equals direct aggregation bit-for-bit") {
    val bounds = Sketches.logBounds(0, 5, 20)
    val daily = Sketches.histSketch(histData, Seq("svc", "day"), "ms", bounds)
    // the rollup of persisted histograms is elementwise integer addition
    val rolled = daily.groupBy("svc")
      .agg(array((0 to bounds.size).map(k => sum(element_at(col("hist"), k + 1))): _*))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val direct = Sketches.histSketch(histData, Seq("svc"), "ms", bounds)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(rolled == direct)
  }

  test("hist sketch edge cases: empty → null quantile, under/overflow clamp") {
    import spark.implicits._
    val bounds = Seq(10.0, 100.0, 1000.0)
    val df = Seq(("lo", 1.0), ("hi", 5000.0)).toDF("g", "v")
    val sk = Sketches.histSketch(df, Seq("g"), "v", bounds)
    val q = sk.select(col("g"),
        Sketches.histQuantile(col("hist"), bounds, 0.5).as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(q("lo") == 10.0 && q("hi") == 1000.0) // clamped to nearest bound
    val empty = Seq(("g", Option.empty[Double])).toDF("g", "v")
    val eq = Sketches.histSketch(empty, Seq("g"), "v", bounds)
      .select(Sketches.histQuantile(col("hist"), bounds, 0.5)).head()
    assert(eq.isNullAt(0))
  }

  test("hist sketch plan: hash aggregate with map-side partial combine") {
    val bounds = Sketches.logBounds(0, 5, 20)
    val sk = Sketches.histSketch(histData, Seq("svc"), "ms", bounds)
    sk.collect()
    val p = sk.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum"), s"expected map-side combine:\n$p")
  }

  test("CMS frequency estimates: >= exact always, tight on a sparse domain") {
    import spark.implicits._
    import graft.llm.Sketches
    val df = (0L until 10000L).map(i => (s"g${i % 2}", i % 50)).toDF("g", "v")
    val sk = Sketches.freqSketch(df, Seq("g"), "v")
    val exact = df.groupBy("g", "v").count()
    val rows = exact.join(sk, Seq("g"))
      .select(col("g"), col("v"), col("count"),
        Sketches.cmsEstimate(col("cms"), col("v")).as("est"), col("cms_n"))
      .as[(String, Long, Long, Long, Long)].collect()
    // parity of i%2 and i%50 correlate: 25 distinct values per group
    assert(rows.length == 50)
    for ((g, v, cnt, est, n) <- rows) {
      assert(est >= cnt, s"CMS must never undercount: $g/$v $est < $cnt")
      assert(est <= cnt + math.ceil(0.001 * n).toLong, s"overcount too large: $g/$v")
    }
    // partition-layout independence (same seed, same data → same sketch)
    val again = Sketches.freqSketch(df.repartition(13), Seq("g"), "v")
    val est2 = exact.join(again, Seq("g"))
      .select(Sketches.cmsEstimate(col("cms"), col("v"))).as[Long].collect().sorted
    assert(est2.toSeq == rows.map(_._4).sorted.toSeq)
  }

  test("Bloom membership: no false negatives; FPP bounded on absent probes") {
    import spark.implicits._
    import graft.llm.Sketches
    val df = (0L until 20000L).map(i => (s"g${i % 2}", i)).toDF("g", "v")
    val sk = Sketches.bloomSketch(df, Seq("g"), "v", expectedItems = 20000L)
    val probes = (0L until 20000L).map(v => (s"g${v % 2}", v, true)) ++
      (1000000L until 1002000L).map(v => (s"g${v % 2}", v, false))
    val got = probes.toDF("g", "v", "present").join(sk, Seq("g"))
      .select(col("present"), Sketches.bloomMightContain(col("bloom"), col("v")).as("hit"))
      .as[(Boolean, Boolean)].collect()
    assert(got.filter(_._1).forall(_._2), "present item reported absent")
    val fp = got.filterNot(_._1).count(_._2)
    assert(fp <= 2000 * 0.06, s"false-positive rate too high: $fp/2000")
  }
}
