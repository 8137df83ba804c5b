package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-run benchmark: one JSON line with per-query seconds plus a
  * pipeline-throughput measurement matched to BASELINE.md's workload
  * (zstd CSV → filter → zstd CSV, ~4.5 KB records; reference README
  * "Performance" numbers — 178k rec/s on 8 vCPU).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.Graft.tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup outside the timings; touch every table so no
    // query pays first-read parquet footer/filesystem init inside its slot
    try SparkEntry.queries("q_output_nop")(spark, sfDir).count() catch { case _: Throwable => }
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      try graft.core.Graft.table(spark, sfDir, t).limit(1).count() catch { case _: Throwable => }

    // cold run then steady-state run per query. The PRIMARY metric stays
    // the cold first-run total — that's the protocol BASELINE.md's 2x gate
    // and BENCH_r01 were recorded under, so cross-round comparisons remain
    // apples-to-apples. The steady-state pass (one-time codegen/compile
    // amortized, as it would be at the 100 TB target) is reported as a
    // secondary field, not as "value".
    // machine-health calibration: a fixed single-thread busy loop plus the
    // OS load average, reported alongside the timings. The host is shared —
    // observed runs where EVERYTHING (including a pure-compute loop) ran
    // ~3× slower under neighbor load — so cross-round comparisons should
    // normalize by this, not assume equal hardware windows.
    def calibrate(): Double = {
      var x = 0L; var i = 0L
      val t0 = System.nanoTime()
      while (i < 400000000L) { x += i * i; i += 1 }
      if (x == 42) println(x) // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    // probe BEFORE the sweeps; a second probe runs AFTER them (below) —
    // BENCH_r07 showed a single pre-sweep probe can miss neighbor load
    // that arrives mid-run, making a noisy host window read as a 2-3×
    // regression. pre≈post → window was stable; pre≪post → discount it.
    val calib = calibrate()
    def loadAvgNow: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadAvg = loadAvgNow

    // optional extra args: bench only the named queries (local iteration
    // on one operator's plan); the driver passes no args and sweeps all
    val only = args.toSet

    // Tier tags. LIFECYCLE rows materialize at-rest state inside their
    // slot — store writes/restarts, RTBF delete+rebuild, serving-layout
    // promotion, full TOML topology compiles — so their time is dominated
    // by a FIXED job count that amortizes at scale (measured: 82% of
    // q_dedup_incremental_video is store-lifecycle jobs, 18% decode).
    // CORPUS rows are single-plan operator queries whose time tracks data
    // volume. The blended mean understates corpus-operator speed as the
    // fixture inventory grows; per-tier totals keep the two stories
    // separate. Membership lives in SparkEntry.lifecycleQueries, next to
    // the query definitions, so a new store-lifecycle query lands in the
    // right tier without touching this file (SparkEntrySpec pins that
    // every member names a real query).
    val lifecycleQueries = SparkEntry.lifecycleQueries
    def sweep(): Map[String, Double] = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        name -> (System.nanoTime() - t0) / 1e9
      }
    // two FULL sweeps, not cold/warm interleaved per query: the first
    // queries of a run otherwise absorb session-wide JIT/GC warmup into
    // their "steady" slot and read as false regressions
    val results = sweep()
    val steady = sweep()
    val coldTotal = results.values.sum
    // per-tier breakdown (cold and steady): corpus-operator rows vs
    // store-lifecycle fixture rows
    def tierStats(m: Map[String, Double], mode: String): String = {
      val (life, corpus) = m.partition { case (k, _) => lifecycleQueries(k) }
      def f(tag: String, t: Map[String, Double]) =
        s""""${tag}_${mode}_total_sec":${t.values.sum},"n_$tag":${t.size},""" +
          s""""${tag}_${mode}_mean_sec":${if (t.isEmpty) 0.0 else t.values.sum / t.size}"""
      f("corpus", corpus) + "," + f("lifecycle", life)
    }
    val tiersCold = tierStats(results, "cold")
    // n_corpus / n_lifecycle repeat identically across the two modes —
    // drop them from the steady fields rather than emit duplicate keys
    val tiersSteady = tierStats(steady, "steady")
      .replaceAll(""""n_(corpus|lifecycle)":\d+,""", "")
    // warm the topology compile/codegen/zstd path at full shape (also
    // generates the cached input) so the measured pipeline run reflects
    // steady-state throughput, as the queries above do
    try pipelineThroughput(spark) catch { case _: Throwable => }
    val pipeline = try pipelineThroughput(spark) catch { case _: Throwable => Map.empty[String, Double] }
    val calibPost = calibrate()
    val loadAvgPost = loadAvgNow
    val qs = (results ++ pipeline).map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsSteady = steady.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // n_queries + means keep totals comparable across rounds as the query
    // inventory grows (the total alone inflates with every added operator)
    println(s"""{"metric":"total","value":$coldTotal,"unit":"sec","mode":"cold_1st_run","n_queries":${results.size},"cold_mean_sec":${coldTotal / results.size},"steady_state_total_sec":${steady.values.sum},"steady_mean_sec":${steady.values.sum / results.size},$tiersCold,$tiersSteady,"calib_cpu_sec":$calib,"calib_cpu_sec_post":$calibPost,"load_avg":$loadAvg,"load_avg_post":$loadAvgPost,"queries":$qs,"queries_steady":$qsSteady,"sf":"$sfDir"}""")
    // per-query timings in tail-survivable form (round-19 verdict task 1:
    // the long "total" line above always outgrows the driver's ~2000-char
    // stdout tail, so PERF's per_query comparison came back empty every
    // round). Two additions, existing lines unchanged:
    //  1. bench_perquery.json in the working directory — the full cold +
    //     steady per-query maps at full precision, machine-readable.
    //  2. short chunked {"metric":"perquery"} stdout lines (values rounded
    //     to 0.1 ms) printed just before the final summary, so the last
    //     chunk(s) land inside whatever tail window the capture keeps.
    def jmap(m: Seq[(String, Double)], round: Boolean): String = m.map { case (k, v) =>
      "\"" + k + "\":" + (if (round) BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP) else v)
    }.mkString("{", ",", "}")
    val names = results.keys.toSeq.sorted
    val fileJson = s"""{"metric":"perquery","n_queries":${names.size},""" +
      s""""queries":${jmap(names.map(n => n -> results(n)), round = false)},""" +
      s""""queries_steady":${jmap(names.map(n => n -> steady(n)), round = false)},""" +
      s""""calib_cpu_sec":$calib,"calib_cpu_sec_post":$calibPost,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("bench_perquery.json", "UTF-8")
      try w.println(fileJson) finally w.close()
    } catch {
      // best-effort: a read-only cwd must not fail the bench; any other
      // failure is a real fault and stays loud
      case _: java.io.IOException =>
    }
    val chunks = names.grouped(12).toSeq
    for ((chunk, i) <- chunks.zipWithIndex)
      println(s"""{"metric":"perquery","part":${i + 1},"parts":${chunks.size},""" +
        s""""queries":${jmap(chunk.map(n => n -> results(n)), round = true)},""" +
        s""""queries_steady":${jmap(chunk.map(n => n -> steady(n)), round = true)}}""")
    // compact summary printed LAST: the driver's artifact capture keeps the
    // TAIL of stdout, and the full line above is long enough that its head
    // (which holds the totals/calibration fields) can fall outside the
    // window — r3's BENCH capture lost calib/pipeline that way
    val pipeStr = pipeline.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")
    println(s"""{"metric":"summary","cold_total_sec":$coldTotal,"n_queries":${results.size},"cold_mean_sec":${coldTotal / results.size},"steady_total_sec":${steady.values.sum},"steady_mean_sec":${steady.values.sum / results.size},$tiersCold,$tiersSteady,"calib_cpu_sec":$calib,"calib_cpu_sec_post":$calibPost,"load_avg":$loadAvg,"load_avg_post":$loadAvgPost${if (pipeStr.nonEmpty) "," + pipeStr else ""},"sf":"$sfDir"}""")
    spark.stop()
  }

  /** BASELINE.md workload at reduced scale: N ~4.5 KB CSV records in zstd
    * files → topology (List → ClauseFilter → FileWriter zstd) → records/s.
    */
  def pipelineThroughput(spark: SparkSession, records: Long = 500000): Map[String, Double] = {
    import graft.topology._
    graft.sources.ZstdCodec.register(spark)
    val base = new java.io.File(sys.props("java.io.tmpdir"), s"graft-bench-pipeline-$records")
    val inDir = new java.io.File(base, "in")
    val fields = Seq("id", "kind") ++ (0 until 8).map(i => s"f$i")
    if (!inDir.exists()) {
      // ~4.5 KB/record: 8 × 560-char deterministic fields (README.md:119-120)
      val pad = spark.range(records).select(
        (col("id").cast("string") +:
          (pmod(col("id"), lit(7)).cast("string").as("kind") +:
            (0 until 8).map(i => substring(repeat(
              md5(concat(col("id").cast("string"), lit(s"-$i"))), 18), 1, 560).as(s"f$i")))): _*)
      pad.select(concat_ws(",", fields.map(col): _*).as("value"))
        .repartition(32)
        .write.mode("overwrite")
        .option("compression", classOf[graft.sources.ZstdCodec].getName)
        .text(inDir.getAbsolutePath)
    }
    val outDir = new java.io.File(base, s"out-${System.nanoTime()}")
    val toml =
      s"""[fields]
         |names = [${fields.map(f => s""""$f"""").mkString(", ")}]
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$inDir"]
         |  MatchPath = ".*\\\\.zst"
         |[[filter]]
         |name = "ClauseFilter"
         |  [filter.config]
         |  Clause = "(not (kind 3))"
         |[output]
         |name = "FileWriter"
         |  [output.config]
         |  PathString = "$outDir/out-{{.Index}}-{{.UUID}}.csv.zst"
         |""".stripMargin
    val t0 = System.nanoTime()
    val (result, metrics) = Topology.compileToml(spark, toml, env = Map.empty).run()
    val secs = (System.nanoTime() - t0) / 1e9
    val read = metrics.getOrElse("input_records", records).asInstanceOf[Long]
    // clean the per-run output, keep the cached input
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(outDir)
    Map("pipeline_secs" -> secs,
      "pipeline_recs_per_sec" -> (if (secs > 0) read / secs else 0.0))
  }
}
