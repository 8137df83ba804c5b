package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.llm.Attributes
import graft.streaming.{AttributeStream, StoreLayout}

/** [[AttributeStream]] and [[StoreLayout]]: per-batch map-only tagging into an at-rest
  * sidecar, committed-only mixes, idempotent replay, compaction, RTBF
  * deletion.
  */
class AttributeStreamSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-attrstream").toFile

  private def attrs = Seq(
    "n_tokens" -> graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))

  private def corpusDf = {
    import spark.implicits._
    Seq((1L, "one two three four"), (2L, "just one"),
      (3L, "a b c d e f g h"), (4L, "x")).toDF("doc_id", "text")
  }

  test("batches accumulate; the mixed result equals a one-shot tag; " +
      "replay overwrites; compaction and deletion compose") {
    val dir = tmp().toString
    val fn = StoreLayout.append(dir)(Attributes.tag(_, "doc_id", attrs))
    assert(AttributeStream.loadSidecar(spark, dir).isEmpty)
    fn(corpusDf.filter(col("doc_id") <= 2), 0L)
    fn(corpusDf.filter(col("doc_id") > 2), 1L)
    fn(corpusDf.filter(col("doc_id") > 2), 1L) // failure-recovery replay
    val side = AttributeStream.loadSidecar(spark, dir).get
    def mixIds(s: org.apache.spark.sql.DataFrame) =
      Attributes.mix(corpusDf.select("doc_id"), "doc_id", Seq(s),
        col("n_tokens") >= 4).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(mixIds(side) == Seq(1L, 3L))
    assert(mixIds(Attributes.tag(corpusDf, "doc_id", attrs)) == Seq(1L, 3L))
    // compaction: same rows, one partition
    StoreLayout.compact(spark, dir)
    assert(mixIds(AttributeStream.loadSidecar(spark, dir).get) == Seq(1L, 3L))
    // RTBF: forgotten doc's attributes leave the sidecar
    import spark.implicits._
    assert(StoreLayout.deleteIds(spark, dir, "doc_id",
      Seq(3L).toDF("doc_id")) == 1L)
    assert(mixIds(AttributeStream.loadSidecar(spark, dir).get) == Seq(1L))
  }

  test("end to end through Structured Streaming") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp().toString
    val mem = MemoryStream[(Long, String)]
    val q = StoreLayout.start(mem.toDF().toDF("doc_id", "text"), s"$dir/chk")(
      StoreLayout.append(s"$dir/sidecar", _)(Attributes.tag(_, "doc_id", attrs)))
    try {
      mem.addData((1L, "one two three four"), (2L, "just one"))
      q.processAllAvailable()
      mem.addData((3L, "a b c d e f g h"))
      q.processAllAvailable()
      val side = AttributeStream.loadSidecar(spark, s"$dir/sidecar").get
      assert(side.count() == 3)
      assert(side.filter(col("n_tokens") >= 4).count() == 2)
    } finally q.stop()
  }

  test("streaming SPAN tagging: piiSpans JSON tagged per batch, scrubbed " +
      "at mix time — the incremental tag-once / scrub-later handoff") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    val dir = tmp().toString
    val docs = Seq((1L, "mail a@b.cc now"), (2L, "no pii here"))
      .toDF("doc_id", "text")
    // the tagger stores offsets as data (same JSON shape DetectSpans
    // writes), incrementally, one micro-batch per doc
    val spanAttrs = Seq("pii_spans" -> to_json(transform(
      TF.piiSpans(col("text")), sp => array(sp.getField("s"), sp.getField("e")))))
    val fn = StoreLayout.append(dir)(Attributes.tag(_, "doc_id", spanAttrs))
    fn(docs.filter(col("doc_id") === 1), 0L)
    fn(docs.filter(col("doc_id") === 2), 1L)
    val side = AttributeStream.loadSidecar(spark, dir).get
    val mixed = Attributes.mix(docs, "doc_id", Seq(side), lit(true))
    val parsed = from_json(col("pii_spans"),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType)))
    val spans = coalesce(transform(parsed, p =>
      struct(element_at(p, 1).as("s"), element_at(p, 2).as("e"))),
      array().cast("array<struct<s:int,e:int>>"))
    val out = mixed.select(col("doc_id"),
        TF.redactSpans(col("text"), spans, "<PII>").as("red"))
      .orderBy("doc_id").collect()
    assert(out.map(_.getString(1)).toSeq ==
      Seq("mail <PII> now", "no pii here"))
  }
}
