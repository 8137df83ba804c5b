package graft

import java.io.File
import java.nio.file.Files

import graft.topology.Topology

/** The four network inputs (reference registry input/all.go:9-15) through
  * full topology runs against their local transport doubles: a real TCP
  * connection for TCP, file:// stream/queue directories for
  * Kinesis/KCL/SQS (SURVEY §7.3 zero-egress stance).
  */
class NetworkInputsSpec extends SparkSpec {

  private def tmpDir(): File = Files.createTempDirectory("graft-net").toFile

  private def runToml(toml: String): (Seq[String], Long) = {
    val (result, _) = Topology.compileToml(spark, toml).run()
    val lines = result.paths.flatMap { p =>
      val s = scala.io.Source.fromFile(p, "UTF-8")
      try s.getLines().toList finally s.close()
    }
    (lines.sorted, result.rows)
  }

  private def fieldsAndOut(dir: File) =
    s"""[fields]
       |names = ["k", "v"]
       |[output]
       |name = "FileWriter"
       |  [output.config]
       |  PathString = "$dir/out/result.csv"
       |""".stripMargin

  test("TCP: gzip'd connections are drained and parsed") {
    val dir = tmpDir()
    val port = {
      val probe = new java.net.ServerSocket(0)
      try probe.getLocalPort finally probe.close()
    }
    val toml =
      s"""[input]
         |name = "TCP"
         |  [input.config]
         |  Listener = ":$port"
         |  AcceptTimeout = "1s"
         |""".stripMargin + fieldsAndOut(dir)
    // client: connect once the listener binds, stream two gzip'd records
    val client = new Thread(() => {
      var sent = false
      val deadline = System.nanoTime() + 10e9.toLong
      while (!sent && System.nanoTime() < deadline) {
        try {
          val s = new java.net.Socket("127.0.0.1", port)
          val out = new java.util.zip.GZIPOutputStream(s.getOutputStream)
          out.write("a,1\nb,2\n".getBytes("UTF-8"))
          out.close(); s.close()
          sent = true
        } catch { case _: java.net.ConnectException => Thread.sleep(20) }
      }
    })
    client.start()
    val (lines, rows) = runToml(toml)
    client.join()
    assert(rows == 2)
    assert(lines == Seq("a,1", "b,2"))
  }

  test("TCP: Listener's host is bound, and a Listener without a numeric " +
      "port fails at compile naming the key") {
    val dir = tmpDir()
    def toml(listener: String) =
      s"""[input]
         |name = "TCP"
         |  [input.config]
         |  Listener = "$listener"
         |  AcceptTimeout = "100ms"
         |""".stripMargin + fieldsAndOut(dir)
    for (bad <- Seq("localhost", "localhost:http", ":"))
      assert(intercept[IllegalArgumentException](runToml(toml(bad)))
        .getMessage.contains(s"Listener = \"$bad\""))
    // 192.0.2.1 (TEST-NET-1) is no local interface: honouring the host
    // makes the bind fail, where binding every interface would not
    intercept[java.net.BindException](runToml(toml("192.0.2.1:0")))
  }

  test("Kinesis: file:// stream dir, every shard file read") {
    val dir = tmpDir()
    val stream = new File(dir, "stream"); stream.mkdirs()
    Files.writeString(new File(stream, "shard-0000").toPath, "a,1\nb,2\n")
    Files.writeString(new File(stream, "shard-0001").toPath, "c,3\n")
    val toml =
      s"""[input]
         |name = "Kinesis"
         |  [input.config]
         |  Stream = "file://$stream"
         |""".stripMargin + fieldsAndOut(dir)
    val (lines, rows) = runToml(toml)
    assert(rows == 3)
    assert(lines == Seq("a,1", "b,2", "c,3"))
  }

  test("Client=\"aws\" seams fail fast without the SDK; bogus client rejected") {
    val dir = tmpDir()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    def kinesisToml(client: String) =
      s"""[input]
         |name = "Kinesis"
         |  [input.config]
         |  Stream = "some-stream"
         |  Client = "$client"
         |""".stripMargin + fieldsAndOut(dir)
    val e1 = intercept[Exception](runToml(kinesisToml("aws")))
    assert(messages(e1).exists(_.contains("AWS SDK v2")), messages(e1).mkString(" | "))
    val e2 = intercept[Exception](runToml(kinesisToml("bogus")))
    assert(messages(e2).exists(_.contains("local")), messages(e2).mkString(" | "))
    def sqsToml(client: String) =
      s"""[input]
         |name = "SQS"
         |  [input.config]
         |  QueueNames = ["some-queue"]
         |  MessageFormat = "plain"
         |  Client = "$client"
         |""".stripMargin + fieldsAndOut(dir)
    val e3 = intercept[Exception](runToml(sqsToml("aws")))
    assert(messages(e3).exists(_.contains("AWS SDK v2")), messages(e3).mkString(" | "))
    def kclToml(client: String) =
      s"""[input]
         |name = "KCL"
         |  [input.config]
         |  Stream = "some-stream"
         |  AppName = "app1"
         |  Client = "$client"
         |""".stripMargin + fieldsAndOut(dir)
    val e4 = intercept[Exception](runToml(kclToml("aws")))
    assert(messages(e4).exists(_.contains("AWS SDK v2")), messages(e4).mkString(" | "))
  }

  test("KCL: TRIM_HORIZON reads all, restart reads only the delta") {
    val dir = tmpDir()
    val stream = new File(dir, "stream"); stream.mkdirs()
    val ck = new File(dir, "ck")
    val shard = new File(stream, "shard-0000")
    Files.writeString(shard.toPath, "a,1\nb,2\n")
    def toml(app: String, pos: String, out: String) =
      s"""[input]
         |name = "KCL"
         |  [input.config]
         |  Stream = "file://$stream"
         |  AppName = "$app"
         |  InitialPosition = "$pos"
         |  CheckpointDir = "$ck"
         |""".stripMargin +
        s"""[fields]
           |names = ["k", "v"]
           |[output]
           |name = "FileWriter"
           |  [output.config]
           |  PathString = "$dir/$out/result.csv"
           |""".stripMargin
    // run 1: no checkpoint + TRIM_HORIZON → everything
    val (lines1, _) = runToml(toml("app1", "TRIM_HORIZON", "out1"))
    assert(lines1 == Seq("a,1", "b,2"))
    // run 2: checkpoint at end → nothing new → Nop-style empty output
    val (_, rows2) = runToml(toml("app1", "TRIM_HORIZON", "out2"))
    assert(rows2 == 0)
    // append a record; run 3 reads only the delta
    Files.writeString(shard.toPath, "a,1\nb,2\nc,3\n")
    val (lines3, _) = runToml(toml("app1", "TRIM_HORIZON", "out3"))
    assert(lines3 == Seq("c,3"))
    // a fresh LATEST app starts at the current end: sees nothing…
    val (_, rows4) = runToml(toml("app2", "LATEST", "out4"))
    assert(rows4 == 0)
    // …until new records arrive
    Files.writeString(shard.toPath, "a,1\nb,2\nc,3\nd,4\n")
    val (lines5, _) = runToml(toml("app2", "LATEST", "out5"))
    assert(lines5 == Seq("d,4"))
  }

  test("KCL: offsets commit only after the run's output completes " +
      "(checkpoint-after-process)") {
    val dir = tmpDir()
    val stream = new File(dir, "stream"); stream.mkdirs()
    val ck = new File(dir, "ck")
    Files.writeString(new File(stream, "shard-0000").toPath, "a,1\nb,2\n")
    def toml(out: String) =
      s"""[input]
         |name = "KCL"
         |  [input.config]
         |  Stream = "file://$stream"
         |  AppName = "app1"
         |  InitialPosition = "TRIM_HORIZON"
         |  CheckpointDir = "$ck"
         |""".stripMargin +
        s"""[fields]
           |names = ["k", "v"]
           |[output]
           |name = "FileWriter"
           |  [output.config]
           |  PathString = "$dir/$out/result.csv"
           |""".stripMargin
    // compile drains + spools, but the run never happens (e.g. the build
    // fails downstream): the offset file must NOT advance…
    Topology.compileToml(spark, toml("never-run"))
    assert(!new File(ck, "app1.json").exists(),
      "checkpoint advanced before the run's output completed")
    // …so a retry still reads everything (at-least-once)
    val (lines, _) = runToml(toml("out1"))
    assert(lines == Seq("a,1", "b,2"))
    // and after a successful run the checkpoint HAS advanced
    assert(new File(ck, "app1.json").exists())
    val (_, rows2) = runToml(toml("out2"))
    assert(rows2 == 0)
  }

  test("SQS: plain / sns / s3::ObjectCreated / json message formats") {
    val dir = tmpDir()
    val data = new File(dir, "data"); data.mkdirs()
    Files.writeString(new File(data, "f1.csv").toPath, "a,1\n")
    Files.writeString(new File(data, "f2.csv").toPath, "b,2\n")
    def queue(name: String, bodies: Seq[String]): File = {
      val q = new File(dir, name); q.mkdirs()
      bodies.zipWithIndex.foreach { case (b, i) =>
        Files.writeString(new File(q, f"msg-$i%03d").toPath, b)
      }
      q
    }
    def toml(q: File, extra: String) =
      s"""[input]
         |name = "SQS"
         |  [input.config]
         |  QueueNames = ["file://$q"]
         |$extra
         |""".stripMargin + fieldsAndOut(new File(dir, q.getName + "-run"))

    val qPlain = queue("q-plain", Seq(s"$data/f1.csv", s"$data/f2.csv"))
    assert(runToml(toml(qPlain, "  MessageFormat = \"plain\""))._1 ==
      Seq("a,1", "b,2"))

    val qSns = queue("q-sns",
      Seq(s"""{"Type":"Notification","Message":"$data/f1.csv"}"""))
    assert(runToml(toml(qSns, "  MessageFormat = \"sns\""))._1 == Seq("a,1"))

    // s3::ObjectCreated event; bucket name resolves under Bucket-less local
    // paths via the assembled <bucket>/<key> form
    val qS3 = queue("q-s3", Seq(
      s"""{"Records":[{"s3":{"bucket":{"name":"$data"},"object":{"key":"f2.csv"}}}]}"""))
    assert(runToml(toml(qS3, "  MessageFormat = \"s3::ObjectCreated\""))._1 ==
      Seq("b,2"))

    val qJson = queue("q-json",
      Seq(s"""{"detail":{"paths":["$data/f1.csv"]}}"""))
    assert(runToml(toml(qJson,
      "  MessageFormat = \"json\"\n  MessageExpression = \"detail.paths[0]\""))._1 ==
      Seq("a,1"))
  }

  test("SQS: Bucket default and FilePathFilter") {
    val dir = tmpDir()
    val data = new File(dir, "bucket"); data.mkdirs()
    Files.writeString(new File(data, "keep.csv").toPath, "a,1\n")
    Files.writeString(new File(data, "skip.csv").toPath, "b,2\n")
    val q = new File(dir, "q"); q.mkdirs()
    Files.writeString(new File(q, "m1").toPath, "keep.csv")
    Files.writeString(new File(q, "m2").toPath, "skip.csv")
    val toml =
      s"""[input]
         |name = "SQS"
         |  [input.config]
         |  QueueNames = ["file://$q"]
         |  MessageFormat = "plain"
         |  Bucket = "$data"
         |  FilePathFilter = "keep"
         |""".stripMargin + fieldsAndOut(dir)
    assert(runToml(toml)._1 == Seq("a,1"))
  }

  test("SQS: QueuePrefixes discover sibling queues") {
    val dir = tmpDir()
    val data = new File(dir, "data"); data.mkdirs()
    Files.writeString(new File(data, "f1.csv").toPath, "a,1\n")
    Files.writeString(new File(data, "f2.csv").toPath, "b,2\n")
    val q1 = new File(dir, "jobs-a"); q1.mkdirs()
    val q2 = new File(dir, "jobs-b"); q2.mkdirs()
    val other = new File(dir, "misc"); other.mkdirs()
    Files.writeString(new File(q1, "m").toPath, s"$data/f1.csv")
    Files.writeString(new File(q2, "m").toPath, s"$data/f2.csv")
    Files.writeString(new File(other, "m").toPath, s"$data/f1.csv")
    val toml =
      s"""[input]
         |name = "SQS"
         |  [input.config]
         |  QueuePrefixes = ["$dir/jobs-"]
         |  MessageFormat = "plain"
         |""".stripMargin + fieldsAndOut(dir)
    assert(runToml(toml)._1 == Seq("a,1", "b,2"))
  }
}
