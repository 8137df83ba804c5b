package graft

import org.apache.spark.sql.functions._

import graft.llm.Diff

class DiffSpec extends SparkSpec {

  test("corpusDiff labels added/removed/changed/unchanged; null content is null-safe") {
    import spark.implicits._
    val old = Seq(
      (1L, "same"), (2L, "will change"), (3L, "gone"),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val cur = Seq(
      (1L, "same"), (2L, "changed!"), (6L, "new"),
      (4L, null.asInstanceOf[String]), (5L, "now set"))
      .toDF("doc_id", "text")
    val got = Diff.corpusDiff(old, cur, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", // null <=> null
      5L -> "changed",   // null -> value
      6L -> "added"))
  }

  test("duplicate keys fail loudly by default; strict=false is max-content-wins") {
    import spark.implicits._
    // doc 1 re-crawled twice in the old snapshot: the full-outer join would
    // silently fan out and inflate `changed` without the pre-aggregation
    val old = Seq((1L, "a"), (1L, "b"), (2L, "x")).toDF("doc_id", "text")
    val cur = Seq((1L, "b"), (2L, "x")).toDF("doc_id", "text")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    val ex = intercept[Exception](
      Diff.corpusDiff(old, cur, "doc_id", "text").collect())
    assert(msgs(ex).exists(_.contains("duplicate key")), msgs(ex).mkString(" | "))
    val got = Diff.corpusDiff(old, cur, "doc_id", "text", strict = false)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // max("a", "b") = "b" matches cur's "b" -> unchanged, exactly one row per key
    assert(got == Map(1L -> "unchanged", 2L -> "unchanged"))
  }

  test("unorderable content types fail with a pointer to the hash-column fix") {
    import spark.implicits._
    val snap = Seq((1L, Map("a" -> "b"))).toDF("doc_id", "meta")
    val ex = intercept[IllegalArgumentException](
      Diff.corpusDiff(snap, snap, "doc_id", "meta"))
    assert(ex.getMessage.contains("unorderable") && ex.getMessage.contains("xxhash64"))
  }
}
