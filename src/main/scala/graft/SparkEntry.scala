package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** One declared query: its name, the builder Verify and Bench run, and
  * the DuckDB SQL its result is checked against (`oracle_sql.json`). Column
  * names and order agree between both sides, and every query has a
  * deterministic ORDER BY.
  *
  * `lifecycle` puts the query in Bench's store-LIFECYCLE tier: its runtime
  * is dominated by a FIXED job count — at-rest store writes/restarts, RTBF
  * delete+rebuild, serving-layout promotion, full TOML topology compiles
  * with trainer rounds — rather than by corpus volume (measured: 82% of
  * q_dedup_incremental_video is store-lifecycle jobs, 18% decode). That
  * cost amortizes at scale, so Bench reports the two tiers separately.
  * Membership rule: a query that materializes a temp store
  * (`QueryFixtures.qTmpDir`) belongs here when that fixture/store work
  * dominates its runtime. The one deliberate exception is
  * q_simhash_recall — its temp dir holds a one-shot projection cache and
  * the all-radius probe joins dominate — kept in the tier anyway because
  * its fixture materialization is still a fixed job count, the tier's
  * actual criterion.
  */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String, lifecycle: Boolean = false)

/** Query registry (SURVEY.md §7): every declared query, one [[QueryDef]]
  * each, defined by family under `graft.queries`. Each exercises one
  * operator from SURVEY.md §2 (or one of the LLM-pipeline extensions)
  * against the parquet test tables. [[queries]], [[oracleSql]] and
  * [[lifecycleQueries]] are views of [[all]] for Verify and Bench.
  */
object SparkEntry {

  /** Every declared query, family by family. Building it runs no Spark
    * job: builders are closures and oracles are plain strings.
    */
  lazy val all: Seq[QueryDef] = {
    val qs = EngineQueries.all ++ TokenizerQueries.all ++ DedupQueries.all ++
      AnnQueries.all ++ PackingQueries.all ++ MultimodalQueries.all ++
      CurationQueries.all
    val dup = qs.groupBy(_.name).collect { case (n, v) if v.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Flagship query (q1_agg) on the sf0.001 tables; a smoke check expects rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** DuckDB-equivalent SQL per query; Verify writes it to `oracle_sql.json`. */
  lazy val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap

  /** Bench's store-lifecycle tier (see [[QueryDef]]). */
  lazy val lifecycleQueries: Set[String] = all.filter(_.lifecycle).map(_.name).toSet
}
