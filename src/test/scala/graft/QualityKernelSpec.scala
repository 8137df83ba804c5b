package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, ScalaUDF}
import org.apache.spark.sql.functions._

import graft.functions.{C4KeptLines, C4Passes, GopherPasses, TextFunctions}
import graft.topology.{BuiltinComponents, Topology}

/** The native quality gates (`C4KeptLines`, `C4Passes`, `GopherPasses`)
  * equal the composed Column forms they replace, row for row — on the
  * edge rows where Java regex, `trim` and `split` semantics bite, on
  * seeded random pages, and (in `SimhashRecallSpec`, beside the
  * `SimHashMd5` pin) on the `documents` fixture — under codegen and
  * interpreted evaluation; and the compiled C4Clean → GopherQuality funnel
  * plans no higher-order lambda.
  */
class QualityKernelSpec extends SparkSpec {

  private val TF = TextFunctions

  private val line5 = "the five words end here."
  private val edgeRows: Seq[String] = Seq(
    null, "", " ", "   ", "\t", " \t ", "\n", "\n\n\n", " \n\t\n ",
    // CRLF pages: the "\r" stays on each line and `$` matches before it
    s"$line5\r\n$line5\r\n$line5\r\n",
    s"$line5\r\n$line5\r\nno terminal punctuation here at all\r\n$line5",
    // one final line terminator after the punctuation: `$` matches
    s"$line5\u2028\n$line5\u2029\n$line5\u0085\n$line5\r",
    // two trailing terminators, or a space after the punctuation: no match
    s"$line5\u2028\u2028\n$line5 \n$line5\r\r\n$line5\t",
    // tab-led and tab-trailed lines: split keeps a leading/trailing ""
    s"\tfour words end here.\nfour words end\t.\n\t\tthree words here.",
    s"  four words end here.  \n\u000Bfour words end.\n\ffour words end.",
    "only four words here.\none two three four five.\none two three four five!",
    "\"quoted line of five words\"\nwhy not ask five words?\nfive words and a bang!",
    // mixed-case markers
    s"$line5\nLOREM IPSUM dolor sit amet.\n$line5\n$line5",
    s"$line5\nLorem Ipsum\n$line5\n$line5\n$line5",
    s"$line5\nthis line has JavaScript in it.\n$line5\n$line5",
    s"$line5\njAvAsCrIpT is shouting here, friends.\n$line5\n$line5",
    "JAVASCRİPT with a dotted capital i here.\nKelvin K is not k at all here.\n" +
      "LOREM İPSUM dolor sit amet, friends.\nlorem ipsum is not a marker here.",
    s"$line5\nthis line has a { brace in it.\n$line5\n}$line5",
    // non-ASCII words: mean length counts code points
    "naïve café résumé über straße déjà vu façade jalapeño piñata señor",
    "日本語 の テキスト です これ は 十 語 以上 ある",
    "😀😀 😀😀 ab cd ef gh ij kl mn op qr",
    // eleven one-code-point words: mean 1 in code points, 2 in UTF-16 chars
    "😀 😁 😂 😃 😄 😅 😆 😇 😈 😉 😊",
    // spam: all-equal bigrams, and near-threshold repetition
    Seq.fill(40)("buy now").mkString(" "),
    Seq.fill(30)("spam").mkString(" "),
    Seq.fill(12)("alpha beta gamma").mkString(" "),
    // "Aa" and "BB" share a String hash: three distinct bigrams, two of
    // them hash-equal, so only an exact compare keeps the fraction at 0
    "Aa Aa BB BB",
    "one two three four five six seven eight nine ten",
    "\tone two three four five six seven eight nine ten\t",
    "a b c d e f g h i j k l",
    "supercalifragilisticexpialidocious words make the mean length rise above twelve",
    s"${Seq.fill(3)(line5).mkString("\n")}\n",
    s"${Seq.fill(3)(line5).mkString("\n")}\n\n\n")

  /** Seeded random pages over the characters the semantics turn on. */
  private def randomRows(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val alphabet = Array("a", "b", "ab", "word", "x", " ", " ", "  ", "\t", "\n",
      "\n", "\r", "\r\n", ".", "!", "?", "\"", "{", "\u2028", "\u0085", "\u000B",
      "é", "😀", "JavaScript", "lorem ipsum", "LOREM IPSUM", "five")
    Seq.fill(n) {
      val len = rnd.nextInt(60)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
  }

  private def frame(rows: Seq[String]): DataFrame = {
    import spark.implicits._
    // the repartition keeps the projection off the LocalRelation, where
    // the optimizer would evaluate it once, interpreted, at plan time
    rows.toDF("text").repartition(2)
  }

  /** Rows (by text) where a native kernel differs from its composed form. */
  private def mismatches(df: DataFrame, t: Column): Seq[String] = {
    val ps = QualityKernelSpec.pairs(t)
    val cols = ps.flatMap { case (n, a, b) => Seq(a.as(s"a_$n"), b.as(s"b_$n")) }
    val bad = ps.map { case (n, _, _) => not(col(s"`a_$n`") <=> col(s"`b_$n`")) }.reduce(_ || _)
    val rows = df.select(t.as("__t") +: cols: _*).filter(bad).collect().toSeq
    rows.flatMap { r =>
      ps.zipWithIndex.collect { case ((n, _, _), i)
          if r.get(1 + 2 * i) != r.get(2 + 2 * i) =>
        s"$n on ${Option(r.getString(0)).map(_.replace("\n", "\\n"))}: " +
          s"composed=${r.get(1 + 2 * i)} native=${r.get(2 + 2 * i)}"
      }
    }
  }

  private def underBothEvaluators(f: => Unit): Unit = {
    f
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f)
  }

  test("native gates equal the composed forms on the edge rows") {
    underBothEvaluators {
      val bad = mismatches(frame(edgeRows), col("text"))
      assert(bad.isEmpty, bad.take(10).mkString("\n"))
    }
    // the edge rows exercise both outcomes of each gate
    val got = frame(edgeRows).select(TF.c4Passes(col("text")).as("c"),
      TF.gopherPasses(col("text")).as("g")).collect()
    assert(got.exists(_.getBoolean(0)) && got.exists(!_.getBoolean(0)))
    assert(got.exists(_.getBoolean(1)) && got.exists(!_.getBoolean(1)))
  }

  test("native gates equal the composed forms on seeded random pages") {
    underBothEvaluators {
      val bad = mismatches(frame(randomRows(3000, 7L)), col("text"))
      assert(bad.isEmpty, bad.take(10).mkString("\n"))
    }
  }

  test("the compiled C4Clean -> GopherQuality funnel plans no lambda and " +
      "reads the C4 kept lines twice at most") {
    val dir = Files.createTempDirectory("graft-quality-plan").toFile
    dir.deleteOnExit()
    val in = new File(dir, "in.jsonl")
    Files.write(in.toPath, java.util.List.of(
      s"""{"doc_id": "1", "text": "${Seq.fill(4)(line5).mkString("\\n")}"}"""))
    val toml =
      s"""[fields]
         |names = ["doc_id", "text"]
         |[input]
         |name = "JsonLines"
         |  [input.config]
         |  Files = ["$in"]
         |[[filter]]
         |name = "C4Clean"
         |  [filter.config]
         |  SrcField = "text"
         |  DstField = "text"
         |  MinWords = 5
         |  MinKept = 3
         |  Gate = true
         |[[filter]]
         |name = "GopherQuality"
         |  [filter.config]
         |  Field = "text"
         |  MinWords = 5
         |[output]
         |name = "Recorder"
         |fields = ["doc_id", "text"]
         |""".stripMargin
    val compiled = Topology.compileToml(spark, toml, BuiltinComponents.all)
    val plan = compiled.frame.queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
    def count(pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]) =
      exprs.map(_.collect(pf).size).sum
    assert(count { case _: LambdaFunction => } == 0, s"lambda in the funnel plan:\n$plan")
    assert(count { case _: ScalaUDF => } == 0, s"Scala UDF in the funnel plan:\n$plan")
    assert(count { case _: C4Passes => } == 1 && count { case _: GopherPasses => } == 1,
      s"each gate should appear once:\n$plan")
    // one kept-lines walk under the pushed-down Gopher filter, one in the
    // projection that writes DstField
    assert(count { case _: C4KeptLines => } <= 2, s"kept lines re-walked:\n$plan")
    compiled.run()
    assert(BuiltinComponents.Recorder.last.map(_.getString(1)) ==
      Seq(Seq.fill(4)(line5).mkString("\n")))
  }
}

object QualityKernelSpec {
  private val TF = TextFunctions
  private val C = TextFunctions.Composed

  /** Pairs (composed, native) that must agree on every row. */
  def pairs(t: Column): Seq[(String, Column, Column)] = Seq(
    ("c4KeptLines", C.c4KeptLines(t), TF.c4KeptLines(t)),
    ("c4KeptLines(minWords=1)", C.c4KeptLines(t, 1), TF.c4KeptLines(t, 1)),
    ("c4KeptLines(minWords=0)", C.c4KeptLines(t, 0), TF.c4KeptLines(t, 0)),
    // a filter drops null and false alike; the composed gate yields null
    // where `lower(null)` does, the native gate false
    ("c4Passes", coalesce(C.c4Passes(t), lit(false)), TF.c4Passes(t)),
    ("c4Passes(1, 3)", coalesce(C.c4Passes(t, 1, 3), lit(false)), TF.c4Passes(t, 1, 3)),
    ("c4Passes(0, 5)", coalesce(C.c4Passes(t, 0, 5), lit(false)), TF.c4Passes(t, 0, 5)),
    ("gopherPasses", C.gopherPasses(t), TF.gopherPasses(t)),
    ("gopherPasses(1, 20, 0.5)", C.gopherPasses(t, 1, 20, 0.5), TF.gopherPasses(t, 1, 20, 0.5)),
    ("gopherPasses(0, 5, 0.0)", C.gopherPasses(t, 0, 5, 0.0), TF.gopherPasses(t, 0, 5, 0.0)),
    ("gopherPasses(2, 100000, 0.1)", C.gopherPasses(t, 2, 100000, 0.1),
      TF.gopherPasses(t, 2, 100000, 0.1)))
}
