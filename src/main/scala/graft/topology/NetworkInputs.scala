package graft.topology

import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.{col, lit, split, try_element_at, when}

/** The reference's four network inputs (registry input/all.go:9-15: KCL,
  * Kinesis, SQS, TCP), re-expressed per SURVEY §7.3's zero-egress stance:
  * the descriptor contract (names, config keys, semantics) is the
  * reference's, the build function binds a local transport double — a
  * real TCP listener for TCP, `file://` stream/queue directories for
  * Kinesis/KCL/SQS. On a cluster the same descriptors bind the real
  * connectors (Kinesis DSv2 source, SQS-notification file source); the
  * topology, filters, and outputs are unchanged either way, which is the
  * point of the registry indirection.
  *
  * All four produce CSV record lines, exactly like List: a batch build is
  * `spark.read.csv` over driver-spooled line files, so the parse path,
  * validation, and raw fast path are shared with every other input.
  * TCP, Kinesis and KCL also have a daemon form ([[InputDesc.buildStream]],
  * one key set with the batch form): TCP's gunzipping listener feeds
  * Spark's socket source, and Kinesis/KCL watch the local `Stream`
  * directory with the file stream source, Spark checkpoints standing in
  * for the lease table (input/kcl.go:278-302). SQS is batch only: a run
  * drains the queues once.
  */
object NetworkInputs {

  private val mapper = new ObjectMapper()

  /** Walk an `a.b[0].c` JMESPath-subset expression over parsed JSON — the
    * same subset ExpandJSON supports (reference sqs.go:58-77 routes every
    * MessageFormat through one jmespath expression; ours covers the
    * shipped formats' needs).
    */
  private def walk(root: JsonNode, path: String): JsonNode = {
    var node = root
    for (seg <- path.stripPrefix("$").stripPrefix(".").split("\\.")
         if node != null && seg.nonEmpty) {
      "^([^\\[\\]]*)((\\[\\d+\\])*)$".r.findFirstMatchIn(seg) match {
        case Some(g) =>
          if (g.group(1).nonEmpty) node = node.get(g.group(1))
          for (ix <- "\\[(\\d+)\\]".r.findAllMatchIn(g.group(2)))
            if (node != null) node = node.get(ix.group(1).toInt)
        case None => node = null
      }
    }
    node
  }

  private def strOf(n: JsonNode): Option[String] =
    Option(n).filterNot(_.isNull).map(x => if (x.isTextual) x.asText() else x.toString)

  /** Resolve a `file:///dir` (or plain local dir) config value. */
  private def localDir(value: String, what: String): Path = {
    val p = Paths.get(value.stripPrefix("file://"))
    require(Files.isDirectory(p),
      s"$what: '$value' is not a local directory — the zero-egress build " +
        "binds file:// doubles; real AWS endpoints need the cluster connector")
    p
  }

  /** The Kinesis/KCL daemon form: a file-watch source over the local
    * `Stream` directory, 16 shard files per micro-batch.
    */
  private def watchStream(ctx: TopologyCtx, cfg: ComponentConfig, name: String) = {
    val client = cfg.str("Client")
    require(client.equalsIgnoreCase("local"),
      s"$name: Client = \"$client\" has no daemon form; a daemon watches a " +
        "local Stream directory (Client = \"local\")")
    LogLineCsv.readStream(ctx).option("maxFilesPerTrigger", 16L)
      .csv(localDir(cfg.str("Stream"), s"$name.Stream").toString)
  }

  // ===================== TCP =====================

  /** The address `Listener` names: `host:port`, or `:port` for every
    * interface (the reference's default `:6000`).
    */
  private def listenAddress(cfg: ComponentConfig): InetSocketAddress = {
    val listener = cfg.str("Listener")
    val i = listener.lastIndexOf(':')
    val port = if (i < 0) None else listener.substring(i + 1).toIntOption
    require(port.exists(p => p >= 0 && p <= 65535),
      s"TCP: Listener = \"$listener\" needs a numeric port (host:port or :port)")
    val host = listener.substring(0, i)
    if (host.isEmpty) new InetSocketAddress(port.get)
    else new InetSocketAddress(host, port.get)
  }

  /** Gunzipping relay for the daemon TCP input: BINDS `addr` like the
    * reference listener (input/tcp.go:20-47), gunzips every accepted
    * producer connection line by line (tcp.go:147 `gzip.NewReader(conn)`),
    * and serves the decompressed lines to whichever connection Spark's
    * socket source opens on the returned ephemeral loopback port. Lines
    * arriving while no Spark connection is up buffer in the queue; a line
    * whose write fails (source reconnect) is re-queued, preserving
    * at-least-once within the process. All threads are daemons — the
    * relay lives for the JVM, matching the "daemon input" contract
    * (api.go:58-66: the input never returns).
    */
  private def startGunzipRelay(addr: InetSocketAddress): Int = {
    val ingress = new ServerSocket()
    ingress.bind(addr)
    val egress = new ServerSocket(0, 1, InetAddress.getByName("127.0.0.1"))
    val queue = new java.util.concurrent.LinkedBlockingQueue[String]()
    def spawn(name: String)(body: => Unit): Unit = {
      val t = new Thread(() => try body catch { case _: Exception => }, name)
      t.setDaemon(true); t.start()
    }
    spawn(s"graft-tcp-ingress:${ingress.getLocalPort}") {
      while (true) {
        val conn = ingress.accept()
        spawn(s"graft-tcp-conn:${conn.getPort}") {
          // byte-level line split, NOT BufferedReader/InputStreamReader:
          // GZIPInputStream.available() is always 1 until EOF, so
          // StreamDecoder's "more input ready" probe re-reads after a
          // successful decode and BLOCKS mid-stream on a live connection —
          // sync-flushed lines would never surface until the producer
          // closes. Plain read() returns per inflated chunk.
          val in = new GZIPInputStream(conn.getInputStream)
          try {
            val buf = new Array[Byte](8192)
            val line = new java.io.ByteArrayOutputStream()
            def put(): Unit = {
              val s = line.toString("UTF-8")
              line.reset()
              queue.put(if (s.endsWith("\r")) s.dropRight(1) else s)
            }
            var n = in.read(buf)
            while (n >= 0) {
              var i = 0
              while (i < n) {
                if (buf(i) == '\n') put() else line.write(buf(i).toInt)
                i += 1
              }
              n = in.read(buf)
            }
            if (line.size > 0) put() // unterminated trailing line
          } finally { in.close(); conn.close() }
        }
      }
    }
    spawn(s"graft-tcp-egress:${egress.getLocalPort}") {
      while (true) {
        val sock = egress.accept()
        val w = new java.io.PrintWriter(sock.getOutputStream, true)
        var ok = true
        while (ok) {
          val l = queue.take()
          w.println(l)
          if (w.checkError()) { queue.put(l); ok = false; sock.close() }
        }
      }
    }
    egress.getLocalPort
  }

  /** TCP — listens on Listener; every connection streams gzip'd CSV
    * records (reference: input/tcp.go:20-47, gzip at :147). The daemon
    * form relays the gunzipped lines ([[startGunzipRelay]]) to Spark's
    * socket source. The batch build accepts connections until
    * `AcceptTimeout` passes with none pending (an explicit local-mode
    * bound), spooling each connection's decompressed stream to a
    * driver-local file.
    */
  val tcpInput: InputDesc = {
    def collect(cfg: ComponentConfig): Seq[String] = {
      val addr = listenAddress(cfg)
      val acceptTimeoutMs = ComponentConfig.parseDuration(cfg.str("AcceptTimeout"))
      val server = new ServerSocket()
      try {
        server.bind(addr)
        server.setSoTimeout(acceptTimeoutMs.toInt.max(1))
        val spools = Seq.newBuilder[String]
        var open = true
        while (open) {
          val conn: Socket =
            try server.accept()
            catch { case _: SocketTimeoutException => open = false; null }
          if (conn != null) {
            val tmp = Files.createTempFile("graft-tcp", ".log")
            tmp.toFile.deleteOnExit()
            val in = new GZIPInputStream(conn.getInputStream)
            try Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            finally { in.close(); conn.close() }
            spools += tmp.toString
          }
        }
        spools.result()
      } finally server.close()
    }
    InputDesc(
      "TCP",
      "Listens on a TCP port; every connection streams gzip'd CSV records. " +
        "Runs as a daemon under graft.Main; batch builds accept until " +
        "AcceptTimeout passes with no connection.",
      Seq(
        ConfigKey("Listener", "Host:Port to bind to (empty host: every interface)",
          default = Some(":6000")),
        ConfigKey("AcceptTimeout",
          "batch runs only: stop accepting when this long passes without a " +
            "new connection (the reference daemon never exits)",
          default = Some("5s"))),
      (ctx, cfg) => LogLineCsv.read(ctx).csv(collect(cfg): _*),
      buildRaw = Some((ctx, cfg) => LogLineCsv.lines(ctx, collect(cfg))),
      buildStream = Some { (ctx, cfg) =>
        val lines = ctx.spark.readStream.format("socket")
          .option("host", "127.0.0.1")
          .option("port", startGunzipRelay(listenAddress(cfg)).toLong)
          .load()
        val parts = split(col("value"), java.util.regex.Pattern.quote(ctx.separator), -1)
        lines.select(ctx.fields.zipWithIndex.map { case (f, i) =>
          val v = try_element_at(parts, lit(i + 1))
          when(v === "", null).otherwise(v).as(f)
        }: _*)
      },
    )
  }

  // ===================== Kinesis =====================

  /** Kinesis — polls every shard of a stream (reference:
    * input/kinesis.go:20-44, per-shard loop :106-185).
    *
    * `Client = "local"` (default): the stream is a `file:///dir` whose
    * files are shards (any name; gzip/zstd transparent); a batch build
    * reads all of them (TRIM_HORIZON — the reference's LATEST is only
    * meaningful for a daemon attached to a live stream). `Client = "aws"`:
    * real ListShards + GetShardIterator(TRIM_HORIZON) + GetRecords drain
    * through the reflectively-loaded SDK v2 ([[AwsReflect]]), each shard
    * spooled to a local file and read identically. The daemon form
    * ([[watchStream]]) watches the local stream directory instead.
    */
  val kinesisInput: InputDesc = {
    // drain one real shard to a spool file: records are raw line bytes,
    // appended in sequence order, exactly like the reference's per-shard
    // loop (input/kinesis.go:106-185); stop when caught up
    def awsShardFiles(cfg: ComponentConfig): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val stream = cfg.str("Stream")
      val kin = AwsReflect.client(
        "software.amazon.awssdk.services.kinesis.KinesisClient", cfg.str("AwsRegion"))
      try {
        val shards = AwsReflect.call(
          AwsReflect.call(kin, "listShards", AwsReflect.build(
            "software.amazon.awssdk.services.kinesis.model.ListShardsRequest",
            "streamName" -> stream)),
          "shards").asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
        require(shards.nonEmpty, s"Kinesis: stream $stream has no shards")
        shards.map { shard =>
          val shardId = AwsReflect.call(shard, "shardId").asInstanceOf[String]
          val spool = Files.createTempFile(s"graft-kinesis-$shardId", ".log")
          spool.toFile.deleteOnExit()
          val out = Files.newOutputStream(spool)
          try {
            var it = AwsReflect.call(
              AwsReflect.call(kin, "getShardIterator", AwsReflect.build(
                "software.amazon.awssdk.services.kinesis.model.GetShardIteratorRequest",
                "streamName" -> stream, "shardId" -> shardId,
                "shardIteratorType" -> "TRIM_HORIZON")),
              "shardIterator").asInstanceOf[String]
            var caughtUp = false
            while (!caughtUp && it != null) {
              val resp = AwsReflect.call(kin, "getRecords", AwsReflect.build(
                "software.amazon.awssdk.services.kinesis.model.GetRecordsRequest",
                "shardIterator" -> it, "limit" -> Integer.valueOf(10000)))
              val recs = AwsReflect.call(resp, "records")
                .asInstanceOf[java.util.List[AnyRef]].asScala
              recs.foreach { r =>
                val bytes = AwsReflect.call(AwsReflect.call(r, "data"), "asByteArray")
                  .asInstanceOf[Array[Byte]]
                out.write(bytes)
                if (bytes.isEmpty || bytes.last != '\n') out.write('\n')
              }
              val behind = AwsReflect.call(resp, "millisBehindLatest")
                .asInstanceOf[java.lang.Long]
              it = AwsReflect.call(resp, "nextShardIterator").asInstanceOf[String]
              caughtUp = recs.isEmpty && (behind == null || behind <= 0L)
            }
          } finally out.close()
          spool.toString
        }
      } finally AwsReflect.close(kin)
    }
    def shardFiles(cfg: ComponentConfig): Seq[String] = {
      val clientKind = cfg.str("Client").toLowerCase
      require(clientKind == "local" || clientKind == "aws",
        s"Kinesis: Client must be \"local\" or \"aws\", got '$clientKind'")
      if (clientKind == "aws") awsShardFiles(cfg)
      else {
        val dir = localDir(cfg.str("Stream"), "Kinesis.Stream")
        val files = Files.list(dir).iterator().asScala
          .filter(Files.isRegularFile(_)).map(_.toString).toSeq.sorted
        require(files.nonEmpty, s"Kinesis: stream dir $dir has no shard files")
        files
      }
    }
    InputDesc(
      "Kinesis",
      "Reads all shards of a Kinesis stream. Client=\"local\": Stream is a " +
        "file:// directory of shard files; Client=\"aws\": real GetRecords " +
        "drain via the AWS SDK v2 (loaded reflectively). Runs as a daemon " +
        "under graft.Main: watches the local Stream directory for new shard " +
        "files (16 per micro-batch; reads only Stream and Client).",
      Seq(
        ConfigKey("AwsRegion", "AWS region to connect to", default = Some("us-west-2")),
        ConfigKey("Stream", "Stream name on Kinesis", required = true),
        ConfigKey("Client", "\"local\" (file:// shard-dir double) or \"aws\" (real SDK)",
          default = Some("local")),
        ConfigKey("IdleTime", "Time between polls of each shard", default = Some("100ms"))),
      (ctx, cfg) => LogLineCsv.read(ctx).csv(shardFiles(cfg): _*),
      buildRaw = Some((ctx, cfg) => LogLineCsv.lines(ctx, shardFiles(cfg))),
      buildStream = Some((ctx, cfg) => watchStream(ctx, cfg, "Kinesis")),
    )
  }

  // ===================== KCL =====================

  /** KCL — Kinesis consumer with durable per-shard checkpoints so a
    * restarted app resumes where it left off (reference: input/kcl.go:26-49,
    * checkpointing :278-302). Local double: shard files under a `file://`
    * stream dir; the checkpoint table (DynamoDB keyed by AppName in the
    * reference) is a JSON file of per-shard byte offsets under
    * CheckpointDir. `InitialPosition` applies only to shards with no
    * checkpoint: TRIM_HORIZON starts at 0, LATEST at the current end —
    * so a first LATEST run reads nothing and subsequent runs read the
    * delta, exactly the reference's daemon semantics projected onto
    * batch runs.
    *
    * The delta is spooled driver-side; offsets commit AFTER the run's
    * output completes, via [[TopologyCtx.onCommit]] (at-least-once, the
    * reference's checkpoint-after-process).
    *
    * `Client = "aws"`: real Kinesis drain ([[AwsReflect]]) resuming from
    * per-shard sequence-number checkpoints in a DynamoDB lease table named
    * AppName (leaseKey → checkpoint, the KCL lease-table schema); new
    * checkpoints are PutItem'd only after the run's output completes
    * (post-run commit hook). Documented divergence:
    * one worker drains every shard — the reference KCL's lease BALANCING
    * across workers (input/kcl.go:26-49) needs the coordination service
    * and is out of scope; the lease table must already exist.
    *
    * The daemon form ([[watchStream]]) is Kinesis's: the file stream
    * source's checkpoint is the resume point, so AppName, InitialPosition
    * and CheckpointDir apply to batch runs only.
    */
  val kclInput: InputDesc = {
    def awsCollect(ctx: TopologyCtx, cfg: ComponentConfig): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val stream = cfg.str("Stream")
      val app = cfg.str("AppName")
      val region = cfg.str("AwsRegion")
      val latest = cfg.str("InitialPosition").equalsIgnoreCase("LATEST")
      val kin = AwsReflect.client(
        "software.amazon.awssdk.services.kinesis.KinesisClient", region)
      val ddb = AwsReflect.client(
        "software.amazon.awssdk.services.dynamodb.DynamoDbClient", region)
      def attrS(v: String) = AwsReflect.build(
        "software.amazon.awssdk.services.dynamodb.model.AttributeValue", "s" -> v)
      try {
        val shards = AwsReflect.call(
          AwsReflect.call(kin, "listShards", AwsReflect.build(
            "software.amazon.awssdk.services.kinesis.model.ListShardsRequest",
            "streamName" -> stream)),
          "shards").asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
        val spools = Seq.newBuilder[String]
        val toCommit = Seq.newBuilder[(String, String)] // shardId -> lastSeq
        for (shard <- shards) {
          val shardId = AwsReflect.call(shard, "shardId").asInstanceOf[String]
          // checkpoint lookup in the lease table (missing table/item → none)
          val ckpt: Option[String] =
            try {
              val keyMap: java.util.Map[String, AnyRef] =
                Map("leaseKey" -> attrS(shardId)).asJava
              val got = AwsReflect.call(ddb, "getItem", AwsReflect.build(
                "software.amazon.awssdk.services.dynamodb.model.GetItemRequest",
                "tableName" -> app, "key" -> keyMap))
              Option(AwsReflect.call(got, "item")
                  .asInstanceOf[java.util.Map[String, AnyRef]].get("checkpoint"))
                .map(a => AwsReflect.call(a, "s").asInstanceOf[String])
            } catch { case _: Exception => None }
          var it = AwsReflect.call(
            AwsReflect.call(kin, "getShardIterator", ckpt match {
              case Some(seq) => AwsReflect.build(
                "software.amazon.awssdk.services.kinesis.model.GetShardIteratorRequest",
                "streamName" -> stream, "shardId" -> shardId,
                "shardIteratorType" -> "AFTER_SEQUENCE_NUMBER",
                "startingSequenceNumber" -> seq)
              case None => AwsReflect.build(
                "software.amazon.awssdk.services.kinesis.model.GetShardIteratorRequest",
                "streamName" -> stream, "shardId" -> shardId,
                "shardIteratorType" -> (if (latest) "LATEST" else "TRIM_HORIZON"))
            }),
            "shardIterator").asInstanceOf[String]
          val spool = Files.createTempFile(s"graft-kclaws-$shardId", ".log")
          spool.toFile.deleteOnExit()
          var lastSeq: Option[String] = None
          val out = Files.newOutputStream(spool)
          try {
            var caughtUp = false
            while (!caughtUp && it != null) {
              val resp = AwsReflect.call(kin, "getRecords", AwsReflect.build(
                "software.amazon.awssdk.services.kinesis.model.GetRecordsRequest",
                "shardIterator" -> it, "limit" -> Integer.valueOf(10000)))
              val recs = AwsReflect.call(resp, "records")
                .asInstanceOf[java.util.List[AnyRef]].asScala
              recs.foreach { r =>
                val bytes = AwsReflect.call(AwsReflect.call(r, "data"), "asByteArray")
                  .asInstanceOf[Array[Byte]]
                out.write(bytes)
                if (bytes.isEmpty || bytes.last != '\n') out.write('\n')
                lastSeq = Some(AwsReflect.call(r, "sequenceNumber").asInstanceOf[String])
              }
              val behind = AwsReflect.call(resp, "millisBehindLatest")
                .asInstanceOf[java.lang.Long]
              it = AwsReflect.call(resp, "nextShardIterator").asInstanceOf[String]
              caughtUp = recs.isEmpty && (behind == null || behind <= 0L)
            }
          } finally out.close()
          lastSeq.foreach(seq => toCommit += shardId -> seq)
          if (lastSeq.isDefined) spools += spool.toString
        }
        // checkpoint AFTER the build consumes the spools (at-least-once,
        // reference checkpoint-after-process, input/kcl.go:278-302): the
        // PutItems run as a post-run commit hook, so a build failure after
        // the drain leaves the lease table untouched and a retry re-reads
        // the same records
        val commits = toCommit.result()
        if (commits.nonEmpty) ctx.onCommit { () =>
          val ddb2 = AwsReflect.client(
            "software.amazon.awssdk.services.dynamodb.DynamoDbClient", region)
          try commits.foreach { case (shardId, seq) =>
            val item: java.util.Map[String, AnyRef] =
              Map("leaseKey" -> attrS(shardId), "checkpoint" -> attrS(seq)).asJava
            try AwsReflect.call(ddb2, "putItem", AwsReflect.build(
              "software.amazon.awssdk.services.dynamodb.model.PutItemRequest",
              "tableName" -> app, "item" -> item))
            catch {
              case e: Exception => throw new IllegalStateException(
                s"KCL: checkpoint write to lease table '$app' failed — create the " +
                  "table (hash key: leaseKey, type S) or run the real KCL once to " +
                  s"create it: ${e.getMessage}", e)
            }
          } finally AwsReflect.close(ddb2)
        }
        spools.result()
      } finally { AwsReflect.close(kin); AwsReflect.close(ddb) }
    }
    def collect(ctx: TopologyCtx, cfg: ComponentConfig): Seq[String] = {
      val clientKind = cfg.str("Client").toLowerCase
      require(clientKind == "local" || clientKind == "aws",
        s"KCL: Client must be \"local\" or \"aws\", got '$clientKind'")
      if (clientKind == "aws") return awsCollect(ctx, cfg)
      val dir = localDir(cfg.str("Stream"), "KCL.Stream")
      val app = cfg.str("AppName")
      val ckDir = Paths.get(cfg.strOpt("CheckpointDir")
        .getOrElse(sys.props("java.io.tmpdir") + "/graft-kcl"))
      Files.createDirectories(ckDir)
      val ckFile = ckDir.resolve(s"$app.json")
      val latest = cfg.str("InitialPosition").equalsIgnoreCase("LATEST")
      val offsets: Map[String, Long] =
        if (Files.exists(ckFile)) {
          val node = mapper.readTree(Files.readString(ckFile))
          node.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        } else Map.empty
      val shards = Files.list(dir).iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
      val spools = Seq.newBuilder[String]
      val committed = Map.newBuilder[String, Long]
      for (shard <- shards) {
        val size = Files.size(shard)
        val from = offsets.getOrElse(shard.getFileName.toString,
          if (latest) size else 0L)
        committed += shard.getFileName.toString -> size.max(from)
        if (from < size) {
          val tmp = Files.createTempFile("graft-kcl", ".log")
          tmp.toFile.deleteOnExit()
          val in = Files.newInputStream(shard)
          try {
            in.skipNBytes(from)
            Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          } finally in.close()
          spools += tmp.toString
        }
      }
      val json = committed.result()
        .map { case (k, v) => "\"" + k.replace("\"", "\\\"") + "\":" + v }
        .mkString("{", ",", "}")
      // offsets commit post-run (checkpoint-after-process), same contract
      // as the aws lease-table path above
      ctx.onCommit(() => Files.writeString(ckFile, json))
      spools.result()
    }
    InputDesc(
      "KCL",
      "Kinesis consumer with durable per-shard checkpoints (resume on " +
        "restart). Local double: file:// shard dir + JSON offset file. Runs " +
        "as a daemon under graft.Main: watches the local Stream directory " +
        "for new shard files (16 per micro-batch; reads only Stream and " +
        "Client), Spark checkpoints standing in for the lease table.",
      Seq(
        ConfigKey("AwsRegion", "AWS region to connect to", default = Some("us-west-2")),
        ConfigKey("Stream", "Name of Kinesis stream", required = true),
        ConfigKey("AppName",
          "Used by KCL to allow multiple app to consume the same stream.",
          required = true),
        ConfigKey("MaxShards", "Max shards this Worker can handle at a time",
          default = Some(32767L)),
        ConfigKey("ShardSync", "Time between tasks to sync leases and Kinesis shards",
          default = Some("60s")),
        ConfigKey("LeaseDuration",
          "Time after which a worker should have renewed all shard leases " +
            "before not being considered owner anymore", default = Some("60s")),
        ConfigKey("InitialPosition",
          "Position in the stream where a new application should start from. " +
            "Values: LATEST or TRIM_HORIZON", default = Some("LATEST")),
        ConfigKey("Client", "\"local\" (file:// shard dir + JSON offsets) or \"aws\" " +
          "(real Kinesis + DynamoDB lease-table checkpoints; single worker, " +
          "no lease balancing)", default = Some("local")),
        ConfigKey("CheckpointDir",
          "local double's checkpoint-table location (DynamoDB in the reference)")),
      (ctx, cfg) => {
        val spools = collect(ctx, cfg)
        if (spools.isEmpty) ctx.spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          LogLineCsv.schema(ctx.fields))
        else LogLineCsv.read(ctx).csv(spools: _*)
      },
      buildStream = Some((ctx, cfg) => watchStream(ctx, cfg, "KCL")),
    )
  }

  // ===================== SQS =====================

  /** SQS — listens on queues for messages naming S3 files to ingest
    * (reference: input/sqs.go:25-52; formats :54-89). Message formats:
    *
    *  - `plain`: the body is the path
    *  - `sns`: JSON, path at `Message`
    *  - `s3::ObjectCreated`: S3 event JSON, path assembled from
    *    `Records[0].s3.bucket.name` + `.object.key` (the reference's
    *    jmespath join, sqs.go:66-68)
    *  - `json`: arbitrary JSON, path at MessageExpression (JMESPath subset)
    *
    * `Client = "local"` (default): each QueueNames entry is a `file://`
    * directory whose files are message bodies; QueuePrefixes match sibling
    * directories by prefix. `Client = "aws"`: real SQS receive through the
    * reflectively-loaded AWS SDK v2 (see [[AwsReflect]]) — messages whose
    * bodies parse are deleted only after the run's output commits
    * ([[TopologyCtx.onCommit]]); unparseable messages stay queued
    * (reference parse-then-delete, input/sqs.go:216-222) — with
    * GetQueueUrl/ListQueues resolving the same QueueNames/QueuePrefixes
    * keys, and `s3://` paths rewritten to `s3a://` for the Hadoop reader.
    * Paths without a scheme get `Bucket` prefixed (reference behavior) —
    * under the double that means `<Bucket>/<path>` as a local path. A
    * batch build drains the queues once.
    */
  val sqsInput: InputDesc = {
    // real SQS drain: resolve queue URLs, receive batches of 10 until a
    // queue reports empty (input/sqs.go:25-52). Messages are NOT deleted
    // here — the caller deletes only those whose bodies parse, and only
    // after the run commits (parse-then-delete, input/sqs.go:216-222).
    def awsMessages(cfg: ComponentConfig): Seq[(String, String, String)] = {
      import scala.jdk.CollectionConverters._
      val region = cfg.str("AwsRegion")
      val sqs = AwsReflect.client(
        "software.amazon.awssdk.services.sqs.SqsClient", region)
      try {
        val named = cfg.strList("QueueNames").map { n =>
          AwsReflect.call(
            AwsReflect.call(sqs, "getQueueUrl", AwsReflect.build(
              "software.amazon.awssdk.services.sqs.model.GetQueueUrlRequest",
              "queueName" -> n)),
            "queueUrl").asInstanceOf[String]
        }
        val byPrefix = cfg.strList("QueuePrefixes").flatMap { pfx =>
          AwsReflect.call(
            AwsReflect.call(sqs, "listQueues", AwsReflect.build(
              "software.amazon.awssdk.services.sqs.model.ListQueuesRequest",
              "queueNamePrefix" -> pfx)),
            "queueUrls").asInstanceOf[java.util.List[String]].asScala.toSeq
        }
        val urls = (named ++ byPrefix).distinct
        require(urls.nonEmpty, "SQS: no queues resolved from QueueNames/QueuePrefixes")
        val out = Seq.newBuilder[(String, String, String)]
        for (url <- urls) {
          var drained = false
          while (!drained) {
            val msgs = AwsReflect.call(
              AwsReflect.call(sqs, "receiveMessage", AwsReflect.build(
                "software.amazon.awssdk.services.sqs.model.ReceiveMessageRequest",
                "queueUrl" -> url,
                "maxNumberOfMessages" -> Integer.valueOf(10),
                "waitTimeSeconds" -> Integer.valueOf(0))),
              "messages").asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
            if (msgs.isEmpty) drained = true
            else msgs.foreach { m =>
              out += ((AwsReflect.call(m, "body").asInstanceOf[String], url,
                AwsReflect.call(m, "receiptHandle").asInstanceOf[String]))
            }
          }
        }
        out.result()
      } finally AwsReflect.close(sqs)
    }
    def dataFiles(ctx: TopologyCtx, cfg: ComponentConfig): Seq[String] = {
      val format = cfg.str("MessageFormat").toLowerCase
      val expr = format match {
        case "plain"             => null
        case "sns" | ""          => "Message"
        case "s3::objectcreated" => null // assembled below
        case "json" =>
          val e = cfg.str("MessageExpression")
          require(e.nonEmpty, "SQS: MessageExpression is required with json MessageFormat")
          e
        case other => throw new IllegalArgumentException(s"SQS: unknown MessageFormat '$other'")
      }
      val clientKind = cfg.str("Client").toLowerCase
      require(clientKind == "local" || clientKind == "aws",
        s"SQS: Client must be \"local\" or \"aws\", got '$clientKind'")
      // (body, Some(queueUrl -> receiptHandle)) for real SQS; the local
      // queue-dir double has nothing to delete
      val bodies: Seq[(String, Option[(String, String)])] =
        if (clientKind == "aws")
          awsMessages(cfg).map { case (b, url, rh) => (b, Some(url -> rh)) }
        else {
          val queues: Seq[Path] = {
            val named = cfg.strList("QueueNames").map(localDir(_, "SQS.QueueNames"))
            val byPrefix = cfg.strList("QueuePrefixes").flatMap { pfx =>
              val root = Paths.get(pfx.stripPrefix("file://"))
              val (parent, stem) = (root.getParent, root.getFileName.toString)
              require(parent != null && Files.isDirectory(parent),
                s"SQS.QueuePrefixes: parent of '$pfx' is not a local directory")
              Files.list(parent).iterator().asScala
                .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(stem))
                .toSeq
            }
            named ++ byPrefix
          }
          require(queues.nonEmpty, "SQS: no queues resolved from QueueNames/QueuePrefixes")
          for {
            q <- queues
            msg <- Files.list(q).iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sorted
          } yield (Files.readString(msg, StandardCharsets.UTF_8),
            Option.empty[(String, String)])
        }
      val bucket = cfg.str("Bucket")
      val pathFilter = cfg.strOpt("FilePathFilter").map(_.r)
      def pathsOf(body: String): Seq[String] = format match {
        case "plain" => Seq(body.trim)
        case "s3::objectcreated" =>
          val root = mapper.readTree(body)
          strOf(walk(root, "Records[0].s3.bucket.name")).flatMap { b =>
            strOf(walk(root, "Records[0].s3.object.key")).map(k => s"$b/$k")
          }.toSeq
        case _ => strOf(walk(mapper.readTree(body), expr)).map(_.trim).toSeq
      }
      val deletable = Seq.newBuilder[(String, String)]
      val files = for {
        (body, handle) <- bodies
        parsed = try Some(pathsOf(body)) catch { case _: Exception => None }
        // parse failure ⇒ the message is NOT deleted and stays on the
        // queue for a later run (reference input/sqs.go:216-222)
        _ = if (parsed.isDefined) handle.foreach(deletable += _)
        p0 <- parsed.getOrElse(Nil)
        if p0.nonEmpty
        p = if (p0.contains("://") || p0.startsWith("/") || bucket.isEmpty) p0
            else s"$bucket/$p0"
        if pathFilter.forall(_.findFirstIn(p).isDefined)
      } yield
        // Hadoop reads S3 through the s3a connector; the reference's
        // messages (and Bucket config) name plain s3 URLs
        if (p.startsWith("s3://")) "s3a://" + p.stripPrefix("s3://")
        else p.stripPrefix("file://")
      require(files.nonEmpty, "SQS: no data files extracted from queue messages")
      // delete consumed messages only after the run's output commits, so a
      // failed build leaves the queue intact (at-least-once)
      val dels = deletable.result()
      if (dels.nonEmpty) {
        val region = cfg.str("AwsRegion")
        ctx.onCommit { () =>
          val sqs = AwsReflect.client(
            "software.amazon.awssdk.services.sqs.SqsClient", region)
          try dels.foreach { case (url, rh) =>
            AwsReflect.call(sqs, "deleteMessage", AwsReflect.build(
              "software.amazon.awssdk.services.sqs.model.DeleteMessageRequest",
              "queueUrl" -> url, "receiptHandle" -> rh))
          } finally AwsReflect.close(sqs)
        }
      }
      files.distinct
    }
    InputDesc(
      "SQS",
      "Listens on SQS queues for S3 paths to ingest (plain/sns/" +
        "s3::ObjectCreated/json message formats). Local double: queues are " +
        "file:// directories of message-body files. Batch only: a run " +
        "drains the queues once.",
      Seq(
        ConfigKey("AwsRegion", "AWS region to connect to", default = Some("us-west-2")),
        ConfigKey("Client", "\"local\" (file:// queue-dir double) or \"aws\" (real SQS " +
          "via the AWS SDK v2, loaded reflectively)", default = Some("local")),
        ConfigKey("Bucket", "S3 Bucket to use if paths do not have one", default = Some("")),
        ConfigKey("QueuePrefixes", "Prefixes of the names of the SQS queues to monitor",
          default = Some(Seq.empty[String])),
        ConfigKey("QueueNames", "Names of the SQS queues to monitor",
          default = Some(Seq.empty[String])),
        ConfigKey("MessageFormat", "SQS message format. See help string for supported formats",
          default = Some("sns")),
        ConfigKey("MessageExpression",
          "The expression to extract an S3 path from arbitrary message formats",
          default = Some("")),
        ConfigKey("FilePathFilter", "If provided, will only use S3 files with the given path.")),
      (ctx, cfg) => LogLineCsv.read(ctx).csv(dataFiles(ctx, cfg): _*),
      buildRaw = Some((ctx, cfg) => LogLineCsv.lines(ctx, dataFiles(ctx, cfg))),
    )
  }
}
