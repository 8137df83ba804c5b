package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table helpers for the graft engine.
  *
  * Design notes (scale): we run `local[32]` in tests but every default here
  * is chosen for a multi-executor cluster — AQE on (runtime shuffle
  * coalescing + skew-join splitting), modest shuffle partitions locally
  * (the driver overrides on a real cluster), lenient (non-ANSI) string
  * semantics to mirror the reference engine's schema-lite CSV model where
  * unparseable values become null/empty rather than failing the job
  * (reference: logline.go:87-89 — empty field == nil).
  */
object Graft {

  /** Generated classes the JVM-wide codegen cache keeps. Spark's default
    * of 100 sits just under the 103 distinct classes one corpus_turns run
    * compiles (benchmark/, 4 cores): once full, its LRU can evict classes
    * a later turn needs, and that turn compiles them again. 1000 leaves
    * room for a session that also runs the topology and query suites. A
    * static conf: the cache reads it once, at the JVM's first codegen, so
    * [[tune]] cannot set it on an adopted session.
    */
  private val CodegenCacheEntries = 1000

  /** Standard conf applied to any session graft builds or adopts. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)

  /** Local session for tests/benchmarks. */
  def localSession(appName: String = "graft", cores: Int = 32): SparkSession = {
    val s = configure(
      SparkSession
        .builder()
        .appName(appName)
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // getOrCreate may adopt a pre-existing session, where builder-time
    // extensions would never run — the runtime path works for both
    graft.GraftFunctions.register(s)
    s
  }

  /** Apply graft runtime confs to an externally-created session (e.g. the
    * driver's Verify/Bench sessions) without rebuilding it.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // parquet TIMESTAMP(NANOS) (e.g. the events table) is otherwise illegal
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the runtime-settable half of configure(): an adopted session must
    // plan with the same AQE + broadcast-threshold knobs the tests pin,
    // or Verify/Bench run different physical plans than the suite audits
    // (the default 10 MB threshold shuffle-joins dimension tables the
    // 64 MB setting broadcasts)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (64L * 1024 * 1024).toString)
    // SQL surface (graft_* functions) on adopted sessions too
    graft.GraftFunctions.register(spark)
    spark
  }

  /** Load one of the driver-provided parquet tables from an sf dir.
    * Nanosecond timestamps surface as Long (see nanosAsLong above); convert
    * them back to microsecond timestamps with exact integral division.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Persist a DataFrame as a bucketed (+ bucket-sorted) managed parquet
    * table. The 100 TB co-location lever: two tables bucketed on their join
    * key with the same bucket count join with ZERO exchanges — the scan
    * itself satisfies the join's distribution requirement, so a fact-fact
    * join that would otherwise shuffle both sides runs entirely map-side
    * (see SCALE.md; asserted by PlanShapeSpec's bucketed-join test). Same
    * role as pre-partitioning derived signature/cell columns: pay the
    * shuffle once at write time, never per query.
    */
  def writeBucketed(df: DataFrame, name: String, keys: Seq[String], buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // the metastore is per-JVM but the warehouse dir persists: a location
    // left by an interrupted run blocks CREATE even after DROP, so clear it
    val warehouse = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    if (warehouse.exists()) rm(warehouse)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(name)
  }
}
