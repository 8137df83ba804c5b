package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{IdField, SplitIds}
import graft.llm.HfTokenizer
import graft.topology.Topology

/** The comma-joined id codec (`IdField`) equals the composed forms it
  * replaces on every entry the string cast accepts, under codegen and
  * interpreted evaluation; a rejected entry fails loudly at each entry
  * point that splits the field (PackRows, PackedShards with and without
  * PackBudget); and a compiled TokenizeIds → PackRows → PackedShards job
  * runs no higher-order lambda.
  */
class IdFieldSpec extends SparkSpec {

  private val C = IdField.Composed

  private def underBothEvaluators(f: => Unit): Unit = {
    f
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f)
  }

  /** One column `v` of `t`; the repartition keeps the projection off the
    * LocalRelation, where the optimizer would fold it at plan time.
    */
  private def frame(t: DataType, rows: Seq[Any]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(v => Row(v)): _*),
      StructType(Seq(StructField("v", t, nullable = true)))).repartition(2)

  private def pairsOf(df: DataFrame, a: Column, b: Column): Seq[(Any, Any, Any)] = {
    def plain(x: Any): Any = x match {
      case s: scala.collection.Seq[_] => s.toList
      case o => o
    }
    df.select(col("v"), a, b).collect().toSeq
      .map(r => (plain(r.get(0)), plain(r.get(1)), plain(r.get(2))))
  }

  private val idRows: Seq[String] = Seq(
    null, "", ",", ",,1,,2,", " 3", "+4", "007", "1.9", "-0",
    Int.MinValue.toString, Int.MaxValue.toString,
    s"${Int.MinValue},${Int.MaxValue},-1,0,1", "5,17,2", "  12 ,-7,\t9\t",
    "0000000000000000042")
  private val maskRows: Seq[String] = Seq(
    null, "", ",", "0,1,true,false,t,yes,N", " 1,0 ,TRUE,f,y,no", ",1,,0,")

  test("split equals the composed form on every entry the cast accepts") {
    underBothEvaluators {
      for ((rows, t, split) <- Seq(
          (idRows, "int", IdField.split(col("v"), "v")),
          (maskRows, "boolean", IdField.splitMask(col("v"), "v")))) {
        val got = pairsOf(frame(StringType, rows), C.split(col("v"), t), split)
        // the composed form accepts every entry of these rows
        assert(got.forall { case (_, c, _) =>
          c == null || !c.asInstanceOf[List[Any]].contains(null) }, got.mkString("\n"))
        val bad = got.filter { case (_, c, n) => c != n }
        assert(bad.isEmpty, bad.mkString("\n"))
      }
    }
    val ids = frame(StringType, Seq(",,1,,2,", " 3", "+4", "007", "1.9"))
      .select(IdField.split(col("v"), "v")).collect().map(_.getSeq[Int](0)).toSeq
    assert(ids.sortBy(_.mkString(",")) == Seq(Seq(1), Seq(1, 2), Seq(3), Seq(4), Seq(7)))
  }

  test("join equals the composed form on null, empty and null-element arrays") {
    underBothEvaluators {
      val idArrays = Seq(null, Seq(), Seq(null), Seq(1, null, 3),
        Seq(Int.MinValue, Int.MaxValue, 0, -5))
      val gotIds = pairsOf(frame(ArrayType(IntegerType), idArrays),
        C.join(col("v")), IdField.join(col("v")))
      assert(gotIds.forall { case (_, c, n) => c == n }, gotIds.mkString("\n"))
      val masks = Seq(null, Seq(), Seq(null), Seq(true, null, false), Seq(false))
      val gotMasks = pairsOf(frame(ArrayType(BooleanType), masks),
        C.joinMask(col("v")), IdField.joinMask(col("v")))
      assert(gotMasks.forall { case (_, c, n) => c == n }, gotMasks.mkString("\n"))
      assert(gotMasks.map(_._3).toSet == Set(null, "", "1,0", "0"))
    }
  }

  /** Every message of `e`'s cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("split fails on a rejected entry, naming the field and the entry") {
    underBothEvaluators {
      val ids = intercept[Exception](frame(StringType, Seq("5,abc,7"))
        .select(IdField.split(col("v"), "my_ids")).collect())
      assert(messages(ids).contains("my_ids: entry 'abc' is not an int id"), messages(ids))
      val overflow = intercept[Exception](frame(StringType, Seq("1,2147483648"))
        .select(IdField.split(col("v"), "v")).collect())
      assert(messages(overflow).contains("'2147483648'"), messages(overflow))
      val mask = intercept[Exception](frame(StringType, Seq("1,maybe,0"))
        .select(IdField.splitMask(col("v"), "my_mask")).collect())
      assert(messages(mask).contains("my_mask: entry 'maybe' is not a boolean mask entry"),
        messages(mask))
    }
  }

  private def tmp(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }

  /** A parquet of string records `(doc_id, ids, mask)`. */
  private def records(dir: File, rows: Seq[(String, String, String)]): String = {
    import spark.implicits._
    val path = new File(dir, "docs").getAbsolutePath
    rows.toDF("doc_id", "ids", "mask").write.mode("overwrite").parquet(path)
    path
  }

  private def shardsToml(in: String, out: String, filters: String,
      fields: Seq[String], output: String): String =
    s"""[fields]
       |names = ["doc_id", "ids", "mask"]
       |[input]
       |name = "Parquet"
       |  [input.config]
       |  Path = "$in"
       |$filters
       |[output]
       |name = "PackedShards"
       |fields = [${fields.map(f => s""""$f"""").mkString(", ")}]
       |  [output.config]
       |  Path = "$out"
       |  NumTasks = 1
       |$output
       |""".stripMargin

  private val packRows =
    """[[filter]]
      |name = "PackRows"
      |  [filter.config]
      |  IdsField = "ids"
      |  OrderField = "doc_id"
      |  Budget = 8
      |  Shards = 1""".stripMargin
  private val packedFields =
    Seq("shard", "seq_id", "input_ids", "segment_ids", "loss_mask", "n_real", "doc_start")

  test("a rejected id fails PackRows -> PackedShards and PackedShards at " +
      "either PackBudget, naming the field and the entry") {
    val dir = tmp("graft-idfield-loud")
    val bad = records(dir, Seq(("1", "5,abc,7", "1,1,1"), ("2", "8,9", "1,0")))
    val good = records(tmp("graft-idfield-ok"),
      Seq(("1", "5,6,7", "1,1,1"), ("2", "8,9", "1,maybe")))
    def failure(toml: String): String =
      messages(intercept[Exception](Topology.compileToml(spark, toml).run()))
    val viaPackRows = failure(shardsToml(bad, s"$dir/a", packRows, packedFields, ""))
    assert(viaPackRows.contains("ids: entry 'abc' is not an int id"), viaPackRows)
    val unpacked = failure(shardsToml(bad, s"$dir/b", "",
      Seq("doc_id", "ids"), "  IdsField = \"ids\"\n  OrderFields = [\"doc_id\"]"))
    assert(unpacked.contains("ids: entry 'abc' is not an int id"), unpacked)
    val packed = failure(shardsToml(bad, s"$dir/c", "", Seq("doc_id", "ids"),
      "  IdsField = \"ids\"\n  PackBudget = 8\n  PackOrderField = \"doc_id\""))
    assert(packed.contains("ids: entry 'abc' is not an int id"), packed)
    // a rejected mask entry fails the same way at both budgets
    val maskPacked = failure(shardsToml(good, s"$dir/d", "", Seq("doc_id", "ids", "mask"),
      "  IdsField = \"ids\"\n  MaskField = \"mask\"\n  PackBudget = 8\n" +
        "  PackOrderField = \"doc_id\""))
    assert(maskPacked.contains("mask: entry 'maybe' is not a boolean mask entry"), maskPacked)
    val maskUnpacked = failure(shardsToml(good, s"$dir/e", "", Seq("doc_id", "ids", "mask"),
      "  IdsField = \"ids\"\n  MaskField = \"mask\"\n  OrderFields = [\"doc_id\"]"))
    assert(maskUnpacked.contains("mask: entry 'maybe' is not a boolean mask entry"),
      maskUnpacked)
    // the same job over accepted entries writes every token
    Topology.compileToml(spark, shardsToml(good, s"$dir/f", "", Seq("doc_id", "ids"),
      "  IdsField = \"ids\"\n  OrderFields = [\"doc_id\"]")).run()
    assert(graft.sources.PackedCorpus.read(spark, s"$dir/f").orderBy("seq_ix")
      .select("input_ids").collect().map(_.getSeq[Int](0)).toSeq == Seq(Seq(5, 6, 7), Seq(8, 9)))
  }

  test("a compiled TokenizeIds -> PackRows -> PackedShards job plans and " +
      "runs no lambda") {
    import spark.implicits._
    val dir = tmp("graft-idfield-plan")
    val docs = new File(dir, "docs").getAbsolutePath
    Seq(("1", "the cat sat on the mat."), ("2", "a bat."), ("3", ""))
      .toDF("doc_id", "text").write.parquet(docs)
    val merges = Seq(("t", "h"), ("th", "e"), ("a", "t"))
    val symbols = HfTokenizer.operandClosure(merges)
    val alphabet = (('a' to 'z').map(_.toString) :+ ".").filterNot(symbols.contains)
    val tokenizer = new File(dir, "tokenizer.json").getAbsolutePath
    HfTokenizer.exportBpe(tokenizer, (symbols ++ alphabet).zipWithIndex, merges,
      byteLevel = false)
    val toml =
      s"""[fields]
         |names = ["doc_id", "text"]
         |[input]
         |name = "Parquet"
         |  [input.config]
         |  Path = "$docs"
         |[[filter]]
         |name = "TokenizeIds"
         |  [filter.config]
         |  SrcField = "text"
         |  DstField = "ids"
         |  VocabPath = "$tokenizer"
         |  CountField = "n_ids"
         |[[filter]]
         |name = "PackRows"
         |  [filter.config]
         |  IdsField = "ids"
         |  OrderField = "doc_id"
         |  Budget = 16
         |  Shards = 2
         |  EosId = 0
         |[output]
         |name = "PackedShards"
         |fields = [${packedFields.map(f => s""""$f"""").mkString(", ")}]
         |  [output.config]
         |  Path = "$dir/shards"
         |  NumTasks = 1
         |""".stripMargin
    val compiled = Topology.compileToml(spark, toml)
    val plan = compiled.frame.queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
    assert(exprs.forall(_.find(_.isInstanceOf[LambdaFunction]).isEmpty),
      s"lambda in the pack plan:\n$plan")
    assert(exprs.exists(_.find(_.isInstanceOf[SplitIds]).isDefined),
      s"PackRows does not split through SplitIds:\n$plan")
    // the PackedShards write splits the joined rows again: every plan the
    // run executes is lambda-free
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      compiled.run()
      // listener events post asynchronously; the write is the run's last plan
      val deadline = System.nanoTime() + 10e9.toLong
      while (!started.toArray.exists(_.toString.contains("split_ids")) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    val plans = started.toArray.map(_.toString).toSeq
    assert(plans.exists(_.contains("split_ids")), plans.mkString("\n----\n"))
    assert(!plans.exists(_.toLowerCase.contains("lambdafunction")),
      plans.mkString("\n----\n"))
    val back = graft.sources.PackedCorpus.read(spark, s"$dir/shards").collect()
    assert(back.nonEmpty && back.forall(_.getSeq[Int](back.head.fieldIndex("input_ids")).length == 16))
  }
}
