package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import graft.sources.TarShards
import graft.streaming.Streaming
import graft.topology.Topology

/** The five inputs that once had a daemon double, each compiled from a
  * topology file the way `graft.Main` compiles one, with only keys its
  * `-help NAME` lists. Each runs in the mode that help states: TCP,
  * Kinesis, KCL and WebDataset as daemons (one micro-batch processed),
  * SQS as a one-shot batch drain.
  */
class CliInputModesSpec extends SparkSpec {

  private def tmpDir(): File = Files.createTempDirectory("graft-cli-mode").toFile

  private def outLines(dir: File): Set[String] =
    Option(new File(dir, "out").listFiles()).toSeq.flatten.flatMap { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try s.getLines().toList finally s.close()
    }.toSet

  /** Write the topology file and compile it as the CLI does, after checking
    * every input key against `-help name` and the compiled mode against
    * the mode that help states.
    */
  private def compileAsCli(dir: File, name: String, fields: Seq[String],
      inputKeys: (String, String)*): Topology.Compiled = {
    val help = Main.help(Some(name)).toOption.get
    for ((k, _) <- inputKeys)
      assert(help.contains(s"| $k |"), s"-help $name does not list $k")
    val toml =
      s"""[fields]
         |names = [${fields.map(f => "\"" + f + "\"").mkString(", ")}]
         |[input]
         |name = "$name"
         |  [input.config]
         |${inputKeys.map { case (k, v) => s"  $k = $v" }.mkString("\n")}
         |[output]
         |name = "FileWriter"
         |  [output.config]
         |  PathString = "$dir/out/r-{{.Rotation}}-{{.Index}}.csv"
         |""".stripMargin
    val path = new File(dir, "topology.toml")
    Files.writeString(path.toPath, toml)
    val compiled = Main.compile(spark, path.toString)
    val daemon = help.contains("Runs as a daemon under graft.Main")
    assert(daemon || help.contains("Batch only"), s"-help $name states no mode")
    assert(compiled.projected.isStreaming == daemon)
    compiled
  }

  /** Start the daemon, feed it, and wait until a micro-batch has landed
    * the expected records.
    */
  private def oneMicroBatch(dir: File, compiled: Topology.Compiled,
      expected: Set[String])(feed: => Unit): Unit = {
    val d = Streaming.start(compiled, s"$dir/ckpt", triggerMs = 100)
    try {
      feed
      val deadline = System.nanoTime() + 30e9.toLong
      while (outLines(dir) != expected && System.nanoTime() < deadline)
        d.processAllAvailable()
      assert(outLines(dir) == expected)
      assert(d.query.lastProgress != null)
      assert(d.recordCount() == expected.size)
    } finally d.stop()
  }

  test("TCP from the CLI runs as a daemon on Listener") {
    val dir = tmpDir()
    val port = {
      val probe = new java.net.ServerSocket(0)
      try probe.getLocalPort finally probe.close()
    }
    val compiled = compileAsCli(dir, "TCP", Seq("k", "v"),
      "Listener" -> s"\"127.0.0.1:$port\"")
    oneMicroBatch(dir, compiled, Set("a,1", "b,2")) {
      val s = new java.net.Socket("127.0.0.1", port)
      val gz = new java.util.zip.GZIPOutputStream(s.getOutputStream)
      gz.write("a,1\nb,2\n".getBytes("UTF-8"))
      gz.close(); s.close()
    }
  }

  test("Kinesis from the CLI runs as a daemon watching Stream") {
    val dir = tmpDir()
    val stream = new File(dir, "stream"); stream.mkdirs()
    Files.writeString(new File(stream, "shard-0").toPath, "a,1\nb,2\n")
    val compiled = compileAsCli(dir, "Kinesis", Seq("k", "v"),
      "Stream" -> s"\"file://$stream\"")
    oneMicroBatch(dir, compiled, Set("a,1", "b,2"))(())
  }

  test("KCL from the CLI runs as a daemon watching Stream") {
    val dir = tmpDir()
    val stream = new File(dir, "stream"); stream.mkdirs()
    Files.writeString(new File(stream, "shard-0").toPath, "a,1\nb,2\n")
    val compiled = compileAsCli(dir, "KCL", Seq("k", "v"),
      "Stream" -> s"\"$stream\"", "AppName" -> "\"cli\"")
    oneMicroBatch(dir, compiled, Set("a,1", "b,2"))(())
    // the lease-table stand-in is the batch form's: a daemon rejects the
    // aws client at compile and names the key
    val e = intercept[IllegalArgumentException](compileAsCli(tmpDir(), "KCL",
      Seq("k", "v"), "Stream" -> s"\"$stream\"", "AppName" -> "\"cli\"",
      "Client" -> "\"aws\""))
    assert(e.getMessage.contains("Client"))
  }

  test("WebDataset from the CLI runs as a daemon watching Path") {
    val dir = tmpDir()
    val shards = new File(dir, "shards"); shards.mkdirs()
    val bos = new ByteArrayOutputStream()
    TarShards.writeEntry(bos, "1.txt", "hello".getBytes("UTF-8"))
    TarShards.writeEntry(bos, "2.txt", "world".getBytes("UTF-8"))
    bos.write(new Array[Byte](1024))
    Files.write(new File(shards, "s0.tar").toPath, bos.toByteArray)
    val compiled = compileAsCli(dir, "WebDataset", Seq("key", "txt"),
      "Path" -> s"\"$shards\"", "MaxFilesPerTrigger" -> "1")
    oneMicroBatch(dir, compiled, Set("1,hello", "2,world"))(())
  }

  test("SQS from the CLI drains QueueNames once as a batch") {
    val dir = tmpDir()
    val data = new File(dir, "data.csv")
    Files.writeString(data.toPath, "a,1\nb,2\n")
    val queue = new File(dir, "queue"); queue.mkdirs()
    Files.writeString(new File(queue, "msg-0").toPath, data.toString)
    val compiled = compileAsCli(dir, "SQS", Seq("k", "v"),
      "QueueNames" -> s"""["file://$queue"]""", "MessageFormat" -> "\"plain\"")
    val (result, _) = compiled.run()
    assert(result.rows == 2)
    assert(outLines(dir) == Set("a,1", "b,2"))
  }
}
