package graft

import java.io.File
import java.nio.file.Files

import graft.topology.{BuiltinComponents, Topology}

/** End-to-end topology runs mirroring the reference's e2e golden tests
  * (e2e_test.go:20-48: basic, validation, sharding, advanced ',' and
  * '\x1e'). CSV in → TOML topology → files out, content-compared.
  */
class TopologySpec extends SparkSpec {

  private def tmpDir(): File = Files.createTempDirectory("graft-e2e").toFile

  private def writeGzip(f: File, content: String): Unit = {
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
    out.write(content.getBytes("UTF-8")); out.close()
  }

  private def writeZstd(f: File, content: String): Unit = {
    val out = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(
      new java.io.FileOutputStream(f), 3)
    out.write(content.getBytes("UTF-8")); out.close()
  }

  private def readAllLines(files: Seq[String]): Seq[String] =
    files.flatMap { p =>
      val in: java.io.InputStream =
        if (p.endsWith(".gz"))
          new java.util.zip.GZIPInputStream(new java.io.FileInputStream(p))
        else if (p.endsWith(".zst"))
          new com.github.luben.zstd.ZstdInputStreamNoFinalizer(new java.io.FileInputStream(p))
        else new java.io.FileInputStream(p)
      val s = scala.io.Source.fromInputStream(in, "UTF-8")
      try s.getLines().toList finally { s.close() }
    }

  test("basic: List(csv.gz) → NotNull → FileWriter(gzip) [tutorials/basic]") {
    val dir = tmpDir()
    writeGzip(new File(dir, "in.csv.gz"),
      "1,Brand A,spicy,,US,4.5,10\n2,Brand B,mild,cup,JP,3.0,\n3,Brand C,hot,pack,US,5.0,3\n")
    val toml =
      s"""[fields]
         |names = ["review_num", "brand", "variety", "style", "country", "stars", "top_ten"]
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$dir/in.csv.gz"]
         |[[filter]]
         |name = "NotNull"
         |  [filter.config]
         |  Fields = ["top_ten"]
         |[output]
         |name = "FileWriter"
         |fields = ["country"]
         |  [output.config]
         |  PathString = "$dir/out/{{.Field0}}/ramens.csv.gz"
         |""".stripMargin
    val (result, metrics) = Topology.compileToml(spark, toml).run()
    // row 2 dropped (empty top_ten); rows 1,3 are both US
    assert(result.paths.size == 1 && result.paths.head.endsWith("US/ramens.csv.gz"))
    val lines = readAllLines(result.paths).sorted
    assert(lines == Seq(
      "1,Brand A,spicy,,US,4.5,10",
      "3,Brand C,hot,pack,US,5.0,3"))
    assert(metrics.get("input_records").contains(3L))
    assert(metrics.get("output_records").contains(2L))
  }

  test("FileWriter writes through a scheme-qualified Hadoop FileSystem path") {
    val dir = tmpDir()
    writeGzip(new File(dir, "in.csv.gz"),
      "1,Brand A,spicy,,US,4.5,10\n2,Brand B,mild,cup,JP,3.0,2\n3,Brand C,hot,pack,US,5.0,3\n")
    val toml =
      s"""[fields]
         |names = ["review_num", "brand", "variety", "style", "country", "stars", "top_ten"]
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$dir/in.csv.gz"]
         |[output]
         |name = "FileWriter"
         |fields = ["country"]
         |  [output.config]
         |  PathString = "file:$dir/hfs/{{.Field0}}/part-{{.Index}}.csv"
         |""".stripMargin
    val (result, _) = Topology.compileToml(spark, toml).run()
    // the move pass runs on Hadoop's FileSystem (file: scheme here), not
    // java.io — returned paths are plain absolute local paths either way
    assert(result.paths.forall(p => p.startsWith("/") && p.contains("/hfs/")))
    val byCountry = result.paths.groupBy(p => new File(p).getParentFile.getName)
    assert(byCountry.keySet == Set("US", "JP"))
    assert(readAllLines(result.paths).sorted == Seq(
      "1,Brand A,spicy,,US,4.5,10",
      "2,Brand B,mild,cup,JP,3.0,2",
      "3,Brand C,hot,pack,US,5.0,3"))
    // staging dir cleaned up
    assert(!new File(dir, "hfs").listFiles().exists(_.getName.startsWith("_graft_staging")))
  }

  test("advanced: zstd input + ClauseFilter + \\x1e separator [advanced_csv_example_0x1e]") {
    val dir = tmpDir()
    val sep = "\u001e"
    val rows = Seq(
      Seq("value5", "s1", "t1"), Seq("x", "s2", "value6"), Seq("y", "s3", "t3"))
    writeZstd(new File(dir, "in.csv.zst"), rows.map(_.mkString(sep)).mkString("", "\n", "\n"))
    val toml =
      s"""[csv]
         |field_separator="\\u001e"
         |[fields]
         |names = ["timestamp", "source", "target"]
         |[input]
         |name="List"
         |  [input.config]
         |  files=["$dir/in.csv.zst"]
         |[[filter]]
         |name="ClauseFilter"
         |  [filter.config]
         |  Clause=${"\"\"\""}(or (timestamp value5) (target value6))${"\"\"\""}
         |[output]
         |name="FileWriter"
         |procs=1
         |  [output.config]
         |  PathString="$dir/out/result.csv.zst"
         |""".stripMargin
    val (result, _) = Topology.compileToml(spark, toml).run()
    val lines = readAllLines(result.paths).sorted
    assert(lines == Seq(
      Seq("value5", "s1", "t1").mkString(sep),
      Seq("x", "s2", "value6").mkString(sep)))
  }

  test("FileWriter ZstdWindowLog: long-distance-matching output reads back") {
    val dir = tmpDir()
    val rows = (1 to 500).map(i => s"$i,payload-$i")
    Files.writeString(new File(dir, "in.csv").toPath, rows.mkString("", "\n", "\n"))
    val toml =
      s"""[fields]
         |names = ["id", "p"]
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$dir/in.csv"]
         |[output]
         |name = "FileWriter"
         |procs = 1
         |  [output.config]
         |  PathString = "$dir/out/long.csv.zst"
         |  ZstdWindowLog = 20
         |""".stripMargin
    val (result, _) = Topology.compileToml(spark, toml).run()
    assert(readAllLines(result.paths).sorted == rows.sorted)
  }

  test("Hash descriptor: hex works, raw-bytes default and unknown encodings fail loudly") {
    def toml(encLine: String) =
      s"""[fields]
         |names = ["a", "h"]
         |[input]
         |name = "LogLines"
         |  [input.config]
         |  Lines = ["abc,"]
         |[[filter]]
         |name = "Hash"
         |  [filter.config]
         |  SrcField = "a"
         |  DstField = "h"
         |  Function = "md5"
         |$encLine
         |[output]
         |name = "Recorder"
         |""".stripMargin
    val (_, _) = Topology.compileToml(spark, toml("""  Encoding = "hex"""")).run()
    // reference fixture bytes hex-encoded (hash_test.go "md5 + hex" on "abc")
    assert(BuiltinComponents.Recorder.last.head.getAs[String]("h")
      == "900150983cd24fb0d6963f7d28e17f72")
    val e1 = intercept[IllegalArgumentException](
      Topology.compileToml(spark, toml("")).run())
    assert(e1.getMessage.contains("raw digest"))
    val e2 = intercept[IllegalArgumentException](
      Topology.compileToml(spark, toml("""  Encoding = "base64"""")).run())
    assert(e2.getMessage.contains("unsupported encoding"))
  }

  test("validation: failing rows dropped; dont_validate_fields disables") {
    val dir = tmpDir()
    Files.writeString(new File(dir, "in.csv").toPath, "ab,1\ncd,x\nef,2\n")
    def toml(general: String) =
      s"""[fields]
         |names = ["k", "n"]
         |$general
         |[validation]
         |n = "^[0-9]+$$"
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$dir/in.csv"]
         |[output]
         |name = "Recorder"
         |""".stripMargin
    val (r1, _) = Topology.compileToml(spark, toml(""), env = Map.empty).run()
    assert(r1.rows == 2)
    val (r2, _) = Topology.compileToml(spark,
      toml("[general]\ndont_validate_fields = true"), env = Map.empty).run()
    assert(r2.rows == 3)
  }

  test("sharding: repartition on the shard field co-locates each key") {
    val dir = tmpDir()
    Files.writeString(new File(dir, "in.csv").toPath,
      (1 to 100).map(i => s"k${i % 5},$i").mkString("", "\n", "\n"))
    val toml =
      s"""[fields]
         |names = ["k", "v"]
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$dir/in.csv"]
         |[output]
         |name = "FileWriter"
         |procs = 4
         |sharding = "k"
         |fields = ["k"]
         |  [output.config]
         |  PathString = "$dir/out/{{.Field0}}/part-{{.Index}}.csv"
         |""".stripMargin
    val compiled = Topology.compileToml(spark, toml)
    // the compiled plan must contain exactly one shuffle: the shard repartition
    val plan = compiled.projected.queryExecution.optimizedPlan.toString
    assert(plan.contains("repartitionbyexpression") || plan.toLowerCase.contains("repartition"))
    val (result, _) = compiled.run()
    // every record lands in the directory of its own key
    val byDir = result.paths.groupBy(p => new File(p).getParentFile.getName)
    assert(byDir.keySet == Set("k0", "k1", "k2", "k3", "k4"))
    val all = readAllLines(result.paths)
    assert(all.size == 100)
    assert(all.forall(l => l.startsWith(l.split(",")(0))))
  }

  test("LogLines input + filter chain of 5 + Recorder: order and content") {
    val toml =
      """[fields]
        |names = ["a", "b", "c", "d"]
        |[input]
        |name = "LogLines"
        |  [input.config]
        |  Lines = ["1,x,old,", "2,y,old,", "3,x,old,drop"]
        |[[filter]]
        |name = "StringMatch"
        |  [filter.config]
        |  Field = "d"
        |  Strings = ["drop"]
        |[[filter]]
        |name = "ReplaceFields"
        |  [filter.config]
        |  ReplaceFields = ["new", "c"]
        |[[filter]]
        |name = "Concatenate"
        |  [filter.config]
        |  Fields = ["a", "b"]
        |  Target = "d"
        |  Separator = "-"
        |[[filter]]
        |name = "RegexMatch"
        |  [filter.config]
        |  Fields = ["b"]
        |  Regexs = ["^[xy]$"]
        |[[filter]]
        |name = "NotNull"
        |  [filter.config]
        |  Fields = ["a"]
        |[output]
        |name = "Recorder"
        |fields = ["a", "c", "d"]
        |""".stripMargin
    val (result, _) = Topology.compileToml(spark, toml, env = Map.empty).run()
    assert(result.rows == 2)
    val rows = BuiltinComponents.Recorder.last.map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).sorted
    assert(rows == Seq(("1", "new", "1-x"), ("2", "new", "2-y")))
  }

  test("Stats output: size/ts/field-frequency distributions to CSV") {
    val dir = tmpDir()
    writeGzip(new File(dir, "in.csv.gz"),
      // kind frequencies: a×3, b×2, c×1; ts: 3 valid, 1 empty, 2 bad
      Seq("1,a,100", "2,a,200", "3,a,300", "4,b,", "5,b,nope", "6,c,bad")
        .mkString("", "\n", "\n"))
    val toml =
      s"""[fields]
         |names = ["id", "kind", "ts"]
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$dir/in.csv.gz"]
         |[output]
         |name = "Stats"
         |  [output.config]
         |  CSVPath = "$dir/stats.csv"
         |  TimestampField = "ts"
         |""".stripMargin
    val (result, _) = Topology.compileToml(spark, toml).run()
    val stats = scala.io.Source.fromFile(result.paths.head).getLines()
      .drop(1).map(_.split(",", 2)).map(a => a(0) -> a(1)).toMap
    assert(stats("records") == "6")
    assert(stats("ts_min") == "100" && stats("ts_max") == "300")
    assert(stats("ts_empties") == "1" && stats("ts_errors") == "2")
    // value-frequency quantiles per field (stats.go:103-163): kind has
    // counts {3,2,1} → min 1, max 3, p50 2; id all-unique → max 1
    assert(stats("freq_min_kind") == "1" && stats("freq_max_kind") == "3")
    assert(stats("freq_p50_kind") == "2")
    assert(stats("freq_max_id") == "1")
    assert(stats("ts_p50") == "200")
  }

  test("extension filters: RedactPii then GopherQuality in a TOML chain") {
    val good = "the quick brown fox jumps over the lazy dog in the warm sun"
    val toml =
      s"""[fields]
         |names = ["id", "text"]
         |[input]
         |name = "LogLines"
         |  [input.config]
         |  Lines = ["1,$good mail bob@example.com", "2,too short", "3,$good"]
         |[[filter]]
         |name = "RedactPii"
         |  [filter.config]
         |  SrcField = "text"
         |  DstField = "text"
         |[[filter]]
         |name = "GopherQuality"
         |  [filter.config]
         |  Field = "text"
         |[output]
         |name = "Recorder"
         |""".stripMargin
    Topology.compileToml(spark, toml, env = Map.empty).run()
    val rows = BuiltinComponents.Recorder.last.map(_.mkString(","))
    assert(rows.size == 2) // "too short" fails the word-count gate
    assert(rows.exists(_.contains("<EMAIL>")) && !rows.exists(_.contains("bob@")))
  }

  test("unknown component and unknown config key fail loudly") {
    val base =
      """[fields]
        |names = ["a"]
        |[input]
        |name = "LogLines"
        |  [input.config]
        |  Lines = ["x"]
        |[output]
        |name = "Recorder"
        |""".stripMargin
    val badFilter = base.replace("[output]",
      "[[filter]]\nname = \"NoSuchFilter\"\n[output]")
    assertThrows[IllegalArgumentException](
      Topology.compileToml(spark, badFilter, env = Map.empty))
    val badKey = base.replace("[output]",
      "[[filter]]\nname = \"NotNull\"\n  [filter.config]\n  Feilds = [\"a\"]\n[output]")
    val e = intercept[IllegalArgumentException](
      Topology.compileToml(spark, badKey, env = Map.empty))
    assert(e.getMessage.contains("Feilds"))
  }

  test("help rendering covers every registered component") {
    val help = BuiltinComponents.all.renderHelp
    val c = BuiltinComponents.all
    for (d <- c.inputs ++ c.filters ++ c.outputs ++ c.uploads ++ c.metrics)
      assert(help.contains(s"### ${d.name}"), s"missing help for ${d.name}")
    assert(help.contains("| Key | Required | Default | Help |"))
    // list defaults render as TOML arrays, pasteable into a topology file
    assert(help.contains("| Files | no | [\"-\"] |"))
    // lookup is find-first and case-insensitive: a second descriptor of a
    // name would be shadowed, so each kind declares each name once
    for ((kind, names) <- Seq("inputs" -> c.inputs.map(_.name),
        "filters" -> c.filters.map(_.name), "outputs" -> c.outputs.map(_.name),
        "uploads" -> c.uploads.map(_.name), "metrics" -> c.metrics.map(_.name))) {
      val dups = names.groupBy(_.toLowerCase).collect { case (_, ns) if ns.size > 1 => ns.head }
      assert(dups.isEmpty, s"$kind declared more than once: ${dups.mkString(", ")}")
    }
  }

  test("the non-mutating filter set (the raw fast path's precondition) is pinned") {
    val pure = BuiltinComponents.all.filters.filterNot(_.mutating).map(_.name).toSet
    assert(pure == Set("ClauseFilter", "CountAndTag", "Dedup", "ExternalMatch",
      "NotNull", "RegexMatch", "StringMatch", "TimestampRange", "GopherQuality",
      "Decontaminate", "SqlWhere", "BlockDomains", "DomainCap", "QuantileFilter",
      "NearDupDedup"))
  }

  test("[upload.config] errors fail inside compile(), before any output file exists") {
    val dir = tmpDir()
    Files.writeString(new File(dir, "in.csv").toPath, "a,1\n")
    def toml(uploadKeys: String) =
      s"""[fields]
         |names = ["k", "v"]
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$dir/in.csv"]
         |[output]
         |name = "FileWriter"
         |  [output.config]
         |  PathString = "$dir/out/data.csv"
         |[upload]
         |name = "S3"
         |  [upload.config]
         |$uploadKeys
         |""".stripMargin
    val misspelt = intercept[IllegalArgumentException](Topology.compileToml(spark,
      toml(s"""  Bucket = "$dir/bucket"\n  Prefx = "p/""""), env = Map.empty))
    assert(misspelt.getMessage.contains("upload S3") && misspelt.getMessage.contains("Prefx"))
    val missing = intercept[IllegalArgumentException](Topology.compileToml(spark,
      toml("""  Prefix = "p/""""), env = Map.empty))
    assert(missing.getMessage.contains("missing required key 'Bucket'"))
    assert(!new File(dir, "out").exists())
  }

  test("List input reads http:// sources (gzip preserved via extension)") {
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.GZIPOutputStream(bos)
      z.write("7,h1\n8,h2\n".getBytes("UTF-8")); z.close()
      bos.toByteArray
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/logs/data.csv.gz", ex => {
      ex.sendResponseHeaders(200, gz.length)
      ex.getResponseBody.write(gz); ex.close()
    })
    server.start()
    try {
      val toml =
        s"""[fields]
           |names = ["id", "name"]
           |[input]
           |name = "List"
           |  [input.config]
           |  Files = ["http://127.0.0.1:${server.getAddress.getPort}/logs/data.csv.gz"]
           |[output]
           |name = "Recorder"
           |""".stripMargin
      val (result, _) = Topology.compileToml(spark, toml).run()
      assert(result.rows == 2L)
      assert(BuiltinComponents.Recorder.last.map(_.getString(0)).sorted == Seq("7", "8"))
    } finally server.stop(0)
  }

  test("List input reads stdin ('-')") {
    val old = BuiltinComponents.stdinSource
    BuiltinComponents.stdinSource =
      () => new java.io.ByteArrayInputStream("9,s1\n10,s2\n11,s3\n".getBytes("UTF-8"))
    try {
      val toml =
        s"""[fields]
           |names = ["id", "name"]
           |[input]
           |name = "List"
           |  [input.config]
           |  Files = ["-"]
           |[output]
           |name = "Nop"
           |""".stripMargin
      val (result, _) = Topology.compileToml(spark, toml).run()
      assert(result.rows == 3L)
    } finally BuiltinComponents.stdinSource = old
  }

  test("upload stage copies outputs under Bucket/Prefix preserving layout") {
    val dir = tmpDir()
    Files.writeString(new File(dir, "in.csv").toPath, "a,1\nb,2\n")
    val toml =
      s"""[fields]
         |names = ["k", "v"]
         |[input]
         |name = "List"
         |  [input.config]
         |  Files = ["$dir/in.csv"]
         |[output]
         |name = "FileWriter"
         |fields = ["k"]
         |  [output.config]
         |  PathString = "$dir/out/{{.Field0}}/data.csv"
         |[upload]
         |name = "S3"
         |  [upload.config]
         |  SourceBasePath = "$dir/out"
         |  Bucket = "$dir/bucket"
         |  Prefix = "pfx/"
         |""".stripMargin
    Topology.compileToml(spark, toml, env = Map.empty).run()
    val uploaded = new File(s"$dir/bucket/pfx")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val names = walk(uploaded).map(_.getName).sorted
    assert(names == Seq("data.csv", "data.csv"))
    assert(walk(uploaded).map(_.getParentFile.getName).sorted == Seq("a", "b"))
  }

  // [[user]] custom config sections (reference: UserDesc desc.go:107-111,
  // decode loop config.go:386-400, user_config_test.go:36-168)
  private val userBase =
    """[fields]
      |names = ["f0", "f1", "f2", "f3"]
      |[input]
      |name = "Random"
      |  [input.config]
      |  NumRecords = 3
      |[output]
      |name = "Nop"
      |""".stripMargin

  test("[[user]] decodes into a registered section, case-insensitively") {
    val toml = userBase +
      """[[user]]
        |name = "MyConfiG"
        |  [user.config]
        |  field1 = 1
        |  field2 = "hello!"
        |""".stripMargin
    var field1 = 0L; var field2 = ""
    val comps = BuiltinComponents.all ++ graft.topology.Components(user = Seq(
      graft.topology.UserDesc("myconfig", cfg => {
        field1 = cfg.int("Field1"); field2 = cfg.str("Field2")
      })))
    Topology.compileToml(spark, toml, comps, env = Map.empty)
    assert(field1 == 1L && field2 == "hello!")
  }

  test("multiple [[user]] sections each decode into their own desc") {
    val toml = userBase +
      """# This is user config configA
        |[[user]]
        |name = "configA"
        |  [user.config]
        |  field1 = 23
        |
        |[[user]]
        |name = "configB"
        |  [user.config]
        |  field1 = ["a", "b", "c", "d"]
        |""".stripMargin
    var a = 0L; var b = Seq.empty[String]
    val comps = BuiltinComponents.all ++ graft.topology.Components(user = Seq(
      graft.topology.UserDesc("configb", cfg => b = cfg.strList("field1")),
      graft.topology.UserDesc("configa", cfg => a = cfg.int("field1"))))
    Topology.compileToml(spark, toml, comps, env = Map.empty)
    assert(a == 23L)
    assert(b == Seq("a", "b", "c", "d"))
  }

  test("a [[user]] block with no registered desc fails loudly; a registered " +
      "desc absent from the TOML is untouched") {
    val toml = userBase +
      """[[user]]
        |name = "configA"
        |  [user.config]
        |  field1 = 23
        |
        |[[user]]
        |name = "configB"
        |  [user.config]
        |  field1 = ["a"]
        |""".stripMargin
    val onlyA = BuiltinComponents.all ++ graft.topology.Components(user = Seq(
      graft.topology.UserDesc("configa", _ => ())))
    val e = intercept[IllegalArgumentException](
      Topology.compileToml(spark, toml, onlyA, env = Map.empty))
    assert(e.getMessage.contains("user configuration does not exist"))
    assert(e.getMessage.contains("configB"))

    // registered-but-absent: decode never runs (user_config_test.go:133-168)
    var touched = false
    val comps = BuiltinComponents.all ++ graft.topology.Components(user = Seq(
      graft.topology.UserDesc("configa", _ => ()),
      graft.topology.UserDesc("configb", _ => ()),
      graft.topology.UserDesc("configc", _ => touched = true)))
    Topology.compileToml(spark, toml, comps, env = Map.empty)
    assert(!touched)
  }

  test("[[user]] keys, when declared, get unknown/required enforcement") {
    val toml = userBase +
      """[[user]]
        |name = "strict"
        |  [user.config]
        |  Rate = 3
        |  Bogus = "x"
        |""".stripMargin
    val comps = BuiltinComponents.all ++ graft.topology.Components(user = Seq(
      graft.topology.UserDesc("strict", _ => (), keys = Seq(
        graft.topology.ConfigKey("Rate", "a rate", required = true)))))
    val e = intercept[IllegalArgumentException](
      Topology.compileToml(spark, toml, comps, env = Map.empty))
    assert(e.getMessage.contains("Bogus"))
  }
}
