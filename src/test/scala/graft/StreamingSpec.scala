package graft

import java.io.File
import java.nio.file.Files

import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {

  private def tmpDir(): File = Files.createTempDirectory("graft-stream").toFile

  test("Kinesis file-watch daemon: incremental batches, filter chain, rotation paths") {
    val dir = tmpDir()
    val queue = new File(dir, "queue"); queue.mkdirs()
    val toml =
      s"""[fields]
         |names = ["k", "v"]
         |[input]
         |name = "Kinesis"
         |  [input.config]
         |  Stream = "$queue"
         |[[filter]]
         |name = "NotNull"
         |  [filter.config]
         |  Fields = ["v"]
         |[output]
         |name = "FileWriter"
         |fields = ["k"]
         |  [output.config]
         |  PathString = "$dir/out/rot-{{.Rotation}}-{{.Index}}.csv"
         |""".stripMargin

    Files.writeString(new File(queue, "f1.csv").toPath, "a,1\nb,\nc,3\n")
    val daemon = Streaming.runDaemon(spark, toml, s"$dir/ckpt", triggerMs = 100,
      env = Map.empty)
    try {
      daemon.processAllAvailable()
      // batch 0: 2 surviving records (b dropped by NotNull)
      val out1 = Option(new File(dir, "out").listFiles()).toSeq.flatten.map(_.getName)
      assert(out1.nonEmpty && out1.forall(_.startsWith("rot-")))
      val lines1 = out1.flatMap(n =>
        scala.io.Source.fromFile(new File(dir, s"out/$n")).getLines().toList)
      assert(lines1.toSet == Set("a,1", "c,3"))

      // second file arrives → new micro-batch, new rotation counter
      Files.writeString(new File(queue, "f2.csv").toPath, "d,4\n")
      daemon.processAllAvailable()
      val lines2 = Option(new File(dir, "out").listFiles()).toSeq.flatten
        .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
      assert(lines2.toSet == Set("a,1", "c,3", "d,4"))
    } finally daemon.stop()
  }

  test("C4Clean + BpeEncode run in the streaming filter chain") {
    val dir = tmpDir()
    val queue = new File(dir, "queue"); queue.mkdirs()
    val toml =
      s"""[fields]
         |names = ["id", "text", "n_bpe"]
         |[csv]
         |field_separator = "|"
         |[input]
         |name = "Kinesis"
         |  [input.config]
         |  Stream = "$queue"
         |[[filter]]
         |name = "C4Clean"
         |  [filter.config]
         |  SrcField = "text"
         |  DstField = "text"
         |  MinKept = 1
         |  Gate = true
         |[[filter]]
         |name = "BpeEncode"
         |  [filter.config]
         |  SrcField = "text"
         |  DstField = "text"
         |  CountField = "n_bpe"
         |  Merges = ["t h"]
         |[output]
         |name = "FileWriter"
         |fields = ["id", "n_bpe"]
         |  [output.config]
         |  PathString = "$dir/out/r-{{.Rotation}}-{{.Index}}.csv"
         |""".stripMargin
    Files.writeString(new File(queue, "f1.csv").toPath,
      "1|this good line has plenty of words here.\n2|tiny line.\n")
    val daemon = Streaming.runDaemon(spark, toml, s"$dir/ckpt", triggerMs = 100,
      env = Map.empty)
    try {
      daemon.processAllAvailable()
      val lines = Option(new File(dir, "out").listFiles()).toSeq.flatten
        .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
      // record 2 fails the C4 gate; record 1's 33 chars lose one symbol to
      // the (t,h) merge in "this" → 32 BPE symbols. FileWriter keeps raw
      // full-record semantics, so the serialized line carries the encoded
      // text field too
      import graft.llm.Bpe.{Open, Close}
      def dch(w: String) = w.map(c => s"$Open$c$Close").mkString
      val encText = (s"${Open}th$Close" + dch("is")) + "|" +
        Seq("good", "line", "has", "plenty", "of", "words", "here.")
          .map(dch).mkString("|")
      assert(lines.toSet == Set(s"1|$encText|32"))
    } finally daemon.stop()
  }

  test("TCP daemon gzip framing: producers push gzip'd connections " +
      "(reference wire parity, input/tcp.go:147)") {
    val dir = tmpDir()
    // reserve a listener port for the daemon's ingress
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort; probe.close()
    val toml =
      s"""[fields]
         |names = ["k", "v"]
         |[input]
         |name = "TCP"
         |  [input.config]
         |  Listener = "127.0.0.1:$port"
         |[[filter]]
         |name = "NotNull"
         |  [filter.config]
         |  Fields = ["v"]
         |[output]
         |name = "FileWriter"
         |  [output.config]
         |  PathString = "$dir/out/rot-{{.Rotation}}-{{.Index}}.csv"
         |""".stripMargin
    val daemon = Streaming.runDaemon(spark, toml, s"$dir/ckpt", triggerMs = 100,
      env = Map.empty)
    def outLines() = Option(new File(dir, "out").listFiles()).toSeq.flatten
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList).toSet
    // connect exactly like a baker TCP client: one gzip stream per
    // connection (syncFlush so lines surface without closing)
    def producer() = {
      val s = new java.net.Socket("127.0.0.1", port)
      val gz = new java.util.zip.GZIPOutputStream(s.getOutputStream, true)
      (s, gz, new java.io.PrintWriter(new java.io.OutputStreamWriter(gz, "UTF-8"), false))
    }
    try {
      val (s1, gz1, w1) = producer()
      w1.println("a,1"); w1.println("b,"); w1.println("c,3")
      w1.flush(); gz1.flush()
      val deadline = System.nanoTime() + 30e9.toLong
      while (outLines() != Set("a,1", "c,3") && System.nanoTime() < deadline)
        daemon.processAllAvailable()
      assert(outLines() == Set("a,1", "c,3"))
      // a SECOND connection has its own gzip framing; closing it writes
      // the gzip trailer and the relay keeps serving
      val (s2, _, w2) = producer()
      w2.println("d,4"); w2.close(); s2.close()
      while (!outLines().contains("d,4") && System.nanoTime() < deadline)
        daemon.processAllAvailable()
      assert(outLines() == Set("a,1", "c,3", "d,4"))
      s1.close()
    } finally daemon.stop()
  }

  test("KCL daemon reads zstd-compressed stream files") {
    val dir = tmpDir()
    val stream = new File(dir, "stream"); stream.mkdirs()
    val z = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(
      new java.io.FileOutputStream(new File(stream, "s1.csv.zst")), 3)
    z.write("a,1\nb,2\n".getBytes("UTF-8")); z.close()
    val toml =
      s"""[fields]
         |names = ["k", "v"]
         |[input]
         |name = "KCL"
         |  [input.config]
         |  Stream = "$stream"
         |  AppName = "zstd"
         |[output]
         |name = "Recorder"
         |""".stripMargin
    // the input itself must make .zst readable: drop the codec an earlier
    // read in this shared session may have registered (a FileWriter sink
    // would register it again per batch, so the sink is the Recorder)
    val hconf = spark.sparkContext.hadoopConfiguration
    val key = "io.compression.codecs"
    val saved = Option(hconf.get(key))
    saved.foreach(v => hconf.set(key, v.split(",")
      .filterNot(_ == classOf[graft.sources.ZstdCodec].getName).mkString(",")))
    try {
      val d = Streaming.runDaemon(spark, toml, s"$dir/ckpt", triggerMs = 100, env = Map.empty)
      try d.processAllAvailable() finally d.stop()
      assert(graft.topology.BuiltinComponents.Recorder.last
        .map(r => s"${r.getString(0)},${r.getString(1)}").toSet == Set("a,1", "b,2"))
    } finally saved match {
      case Some(v) => hconf.set(key, v)
      case None => hconf.unset(key)
    }
  }

  test("daemon restart resumes from checkpoint (no reprocessing)") {
    val dir = tmpDir()
    val queue = new File(dir, "queue"); queue.mkdirs()
    val sink = new File(dir, "sink"); sink.mkdirs()
    val toml =
      s"""[fields]
         |names = ["k", "v"]
         |[input]
         |name = "KCL"
         |  [input.config]
         |  Stream = "$queue"
         |  AppName = "restart"
         |[output]
         |name = "FileWriter"
         |  [output.config]
         |  PathString = "$dir/sink/r{{.Rotation}}-{{.Index}}-{{.UUID}}.csv"
         |""".stripMargin

    Files.writeString(new File(queue, "f1.csv").toPath, "a,1\n")
    val d1 = Streaming.runDaemon(spark, toml, s"$dir/ckpt", triggerMs = 100, env = Map.empty)
    try { d1.processAllAvailable() } finally d1.stop()
    def allLines = Option(sink.listFiles()).toSeq.flatten
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
    assert(allLines.count(_ == "a,1") == 1)

    // restart with the same checkpoint: the processed file must NOT replay
    val d2 = Streaming.runDaemon(spark, toml, s"$dir/ckpt", triggerMs = 100, env = Map.empty)
    try {
      Files.writeString(new File(queue, "f2.csv").toPath, "b,2\n")
      d2.processAllAvailable()
      assert(allLines.count(_ == "a,1") == 1) // not duplicated
      assert(allLines.count(_ == "b,2") == 1)
    } finally d2.stop()
  }
}
