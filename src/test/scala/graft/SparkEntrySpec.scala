package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry contract the correctness harness relies on: r7's
  * run silently produced no row for one query. Each query is one
  * [[QueryDef]], so a query cannot lack an oracle; what is left to pin is
  * that no two definitions share a name (a name-keyed view would silently
  * keep only one) and that the views carry every definition.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("query names are unique, non-empty, and JSON-safe") {
    val names = SparkEntry.all.map(_.name)
    assert(names.size == 217)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct).sorted.mkString(", ")}")
    names.foreach { k =>
      assert(k.nonEmpty && !k.exists(c => c < ' ' || c == '"' || c == '\\'), s"bad name: $k")
    }
    assert(SparkEntry.queries.size == 217 && SparkEntry.oracleSql.size == 217)
    assert(SparkEntry.lifecycleQueries == Set(
      "q_ann_ivf_serving", "q_ann_ivfpq_serving", "q_ann_pq_stream",
      "q_bm25_rtbf", "q_dedup_incremental_audio", "q_dedup_incremental_image",
      "q_dedup_incremental_substr", "q_dedup_incremental_video",
      "q_packed_decontaminate", "q_packed_reshuffle", "q_packed_rtbf",
      "q_packed_shards", "q_topology_reshuffle",
      "q_packed_shards_masked", "q_packed_shards_u16", "q_sidecar_recipe",
      "q_simhash_recall",
      "q_topology_jsonl", "q_topology_packed", "q_topology_pretrain",
      "q_topology_sft", "q_topology_tokenize",
      "q_topology_wordpiece", "q_topology_webdataset", "q_video_neardup"))
  }
}
