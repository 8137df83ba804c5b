package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.topology._

/** Daemon-mode topologies (reference: api.go:58-66 — an input whose Run
  * never returns makes the whole topology a daemon). Spark mapping:
  * Structured Streaming sources, the SAME filter-chain compilation (the
  * operators are plan transforms, batch/stream agnostic), and
  * `foreachBatch` reusing the batch output descriptors — so each
  * micro-batch behaves like one reference "rotation": files written, then
  * uploaded (topology.go:186-202), with the trigger interval playing
  * RotateInterval's role.
  *
  * Zero-egress doubles (SURVEY §7.3): the queue/stream services are bound
  * to their OSS-reproducible semantics — SQS S3-notifications ≙ file-watch
  * source (new files appear, each processed exactly once per checkpoint,
  * at-least-once overall), Kinesis/KCL ≙ the same with Spark checkpoints
  * standing in for DynamoDB lease checkpoints (input/kcl.go:278-302), TCP ≙
  * the socket source.
  */
object Streaming {

  /** SQS — file-notification input: watches a path for new CSV files.
    * reference: input/sqs.go:25-89 (S3 paths arriving via SQS messages).
    */
  val sqsInput: InputDesc = InputDesc(
    "SQS",
    "Daemon input: watches a directory for newly arriving CSV files " +
      "(file-notification semantics; SQS+S3-events double).",
    Seq(
      ConfigKey("QueuePath", "directory watched for new files", required = true),
      ConfigKey("MessageFormat", "accepted for parity (plain/sns/s3::ObjectCreated)",
        default = Some("plain")),
      ConfigKey("MaxFilesPerTrigger", "files per micro-batch", default = Some(16L)),
      ConfigKey("FilePattern", "glob for files in QueuePath", default = Some("*"))),
    (ctx, cfg) => LogLineCsv.readStream(ctx)
      .option("maxFilesPerTrigger", cfg.int("MaxFilesPerTrigger"))
      .option("pathGlobFilter", cfg.str("FilePattern"))
      .csv(cfg.str("QueuePath")),
  )

  /** KCL/Kinesis — stream doubles: same file-watch source; Spark
    * checkpointing supplies the lease/checkpoint semantics
    * (reference: input/kcl.go:26-49, input/kinesis.go:20-44).
    */
  val kclInput: InputDesc = InputDesc(
    "KCL",
    "Daemon input: Kinesis-via-KCL semantics (checkpointed resumable " +
      "consumption); bound to a file-watch double in this build.",
    Seq(
      ConfigKey("StreamPath", "directory standing in for the Kinesis stream", required = true),
      ConfigKey("AppName", "checkpoint namespace", default = Some("graft")),
      ConfigKey("InitialPosition", "LATEST or TRIM_HORIZON (parity; file source reads all)",
        default = Some("LATEST")),
      ConfigKey("MaxShardsPerTrigger", "files per micro-batch", default = Some(16L))),
    (ctx, cfg) => LogLineCsv.readStream(ctx)
      .option("maxFilesPerTrigger", cfg.int("MaxShardsPerTrigger"))
      .csv(cfg.str("StreamPath")),
  )

  val kinesisInput: InputDesc = kclInput.copy(
    name = "Kinesis",
    help = "Daemon input: raw Kinesis semantics; file-watch double in this build.")

  /** Gunzipping relay for the daemon TCP input: BINDS `bindHost:port`
    * like the reference listener (input/tcp.go:20-47), gunzips every
    * accepted producer connection line by line (tcp.go:147
    * `gzip.NewReader(conn)`), and serves the decompressed lines to
    * whichever connection Spark's socket source opens on the returned
    * ephemeral loopback port. Lines arriving while no Spark connection is
    * up buffer in the queue; a line whose write fails (source reconnect)
    * is re-queued, preserving at-least-once within the process. All
    * threads are daemons — the relay lives for the JVM, matching the
    * "daemon input" contract (api.go:58-66: the input never returns).
    */
  private[graft] def startGunzipRelay(bindHost: String, port: Int): Int = {
    import java.io.PrintWriter
    import java.net.{InetAddress, InetSocketAddress, ServerSocket}
    import java.util.zip.GZIPInputStream
    val ingress = new ServerSocket()
    ingress.bind(new InetSocketAddress(bindHost, port))
    val egress = new ServerSocket(0, 1, InetAddress.getByName("127.0.0.1"))
    val queue = new java.util.concurrent.LinkedBlockingQueue[String]()
    def spawn(name: String)(body: => Unit): Unit = {
      val t = new Thread(() => try body catch { case _: Exception => }, name)
      t.setDaemon(true); t.start()
    }
    spawn(s"graft-tcp-ingress:$port") {
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
        val w = new PrintWriter(sock.getOutputStream, true)
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

  /** TCP — socket listener input (reference: input/tcp.go:20-47). With
    * `Gzip = true` (the default — the reference ALWAYS gunzips, tcp.go:147)
    * the input binds Host:Port and producers connect and push gzip'd CSV
    * streams, wire-compatible with a real baker TCP client; a
    * [[startGunzipRelay]] feeds the decompressed lines to the socket
    * source. `Gzip = false` keeps the plain-text client mode (the source
    * CONNECTS to Host:Port) for loopback tests and non-gzip feeds.
    */
  val tcpInput: InputDesc = InputDesc(
    "TCP",
    "Daemon input: TCP listener; each connection streams gzip'd CSV " +
      "records (Gzip=false: plain-text connect-out mode).",
    Seq(
      ConfigKey("Host", "bind host (gzip mode) / server host (plain mode)",
        default = Some("localhost")),
      ConfigKey("Port", "listen port (gzip mode) / server port (plain mode)",
        default = Some(6000L)),
      ConfigKey("Gzip", "per-connection gzip framing, reference parity",
        default = Some(true))),
    (ctx, cfg) => {
      val (host, port) =
        if (cfg.bool("Gzip"))
          ("127.0.0.1",
            startGunzipRelay(cfg.str("Host"), cfg.int("Port").toInt))
        else (cfg.str("Host"), cfg.int("Port").toInt)
      val lines = ctx.spark.readStream
        .format("socket")
        .option("host", host)
        .option("port", port)
        .load()
      val parts = split(col("value"), java.util.regex.Pattern.quote(ctx.separator), -1)
      lines.select(ctx.fields.zipWithIndex.map { case (f, i) =>
        when(try_element_at(parts, lit(i + 1)) === "", null)
          .otherwise(try_element_at(parts, lit(i + 1))).as(f)
      }: _*)
    },
  )

  /** WebDataset — the daemon double of the batch WebDataset input: watches
    * a directory for newly arriving tar shards ([[graft.sources.TarSource]]
    * micro-batch source; grouping and ext-selection push into the scan).
    * Fields named in `BinaryFields` carry their member bytes BASE64-encoded
    * — the topology record model is strings, and a UTF-8 cast would mangle
    * media payloads; perceptual consumers (PerceptualDedupStore) decode
    * with unbase64.
    */
  val webDatasetStreamInput: InputDesc = InputDesc(
    "WebDataset",
    "Daemon input: watches a directory for newly arriving WebDataset tar " +
      "shards; declared [fields] are member extensions (BinaryFields " +
      "base64-encoded), plus the meta-fields 'key' and 'shard'.",
    Seq(
      ConfigKey("Path", "tar shard directory or glob", required = true),
      ConfigKey("BinaryFields", "fields whose member bytes are base64-encoded",
        default = Some(Seq.empty[String])),
      ConfigKey("MaxFilesPerTrigger", "shards per micro-batch", default = Some(16L))),
    (ctx, cfg) => {
      val meta = Set("key", "shard")
      val extFields = ctx.fields.filterNot(meta)
      val binary = cfg.strList("BinaryFields").toSet
      val unknownBin = binary -- extFields.toSet
      require(unknownBin.isEmpty,
        s"WebDataset: BinaryFields not in [fields]: ${unknownBin.mkString(", ")}")
      val reader = ctx.spark.readStream.format("tar")
        .option("group", "true")
        .option("maxFilesPerTrigger", cfg.int("MaxFilesPerTrigger").toString)
      val df = (if (extFields.nonEmpty) reader.option("exts", extFields.mkString(","))
                else reader).load(cfg.str("Path"))
      df.select(ctx.fields.map {
        case f @ ("key" | "shard") => col(f)
        case f if binary(f) =>
          coalesce(base64(element_at(col("files"), f)), lit("")).as(f)
        case f =>
          coalesce(element_at(col("files"), f).cast("string"), lit("")).as(f)
      }: _*)
    })

  def streamingInputs: Seq[InputDesc] =
    Seq(sqsInput, kclInput, kinesisInput, tcpInput, webDatasetStreamInput)

  /** Builtin registry + daemon inputs. The streaming variants come FIRST:
    * registry lookup is find-first, so in daemon mode SQS/KCL/Kinesis/TCP
    * resolve to the readStream doubles, while batch topologies (compiled
    * against BuiltinComponents.all directly) get the batch doubles of the
    * same names.
    */
  def componentsWithStreaming: Components =
    Components(inputs = streamingInputs) ++ BuiltinComponents.all

  /** A started daemon topology. */
  final case class Daemon(query: StreamingQuery, recordCount: () => Long) {
    def awaitTermination(): Unit = query.awaitTermination()
    def processAllAvailable(): Unit = query.processAllAvailable()
    def stop(): Unit = query.stop()
  }

  /** Compile a daemon topology and start it. The filter chain/projection
    * compile identically to batch; output+upload run per micro-batch via
    * foreachBatch (batch descriptors unchanged — reference outputs can't
    * tell rotation from restart either).
    *
    * @param triggerMs micro-batch interval ≈ FileWriter RotateInterval
    *                  (output/filewriter.go RotateInterval default 60s)
    */
  def runDaemon(spark: org.apache.spark.sql.SparkSession, toml: String,
      checkpointDir: String, triggerMs: Long = 1000,
      env: Map[String, String] = sys.env): Daemon = {
    val cfg = Topology.configFromToml(Toml.parse(toml, env))
    val components = componentsWithStreaming
    val compiled = Topology.compile(spark, cfg, components)
    start(compiled, checkpointDir, triggerMs)
  }

  /** Start an already-compiled daemon topology. */
  def start(compiled: Topology.Compiled, checkpointDir: String,
      triggerMs: Long = 1000): Daemon = {
    val cfg = compiled.cfg
    val components = compiled.components
    require(compiled.projected.isStreaming,
      s"runDaemon: input '${cfg.input._1}' is not a streaming source")
    val outDesc = components.output(cfg.outputName)
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    // {{.RunTag}} expands to the per-checkpoint-INSTANCE tag
    // (StoreLayout.runTagFor): store outputs (PerceptualDedupStore,
    // SubstrDedupStore) need it for their partition names — a static tag
    // would recreate the absorbed-name collision runTagFor exists to
    // prevent (wiped checkpoint restarts batchIds at 0 and re-mints a
    // name an earlier compaction's _ABSORBED manifest already lists,
    // making the new rows reader-invisible and sweepable)
    val needsTag = cfg.outputConfig.raw.values.exists {
      case v: String => v.contains("{{.RunTag}}")
      case _ => false
    }
    // store outputs (the descriptors with RunTag+Rotation keys) are only
    // correct under a daemon when BOTH placeholders are wired: a static
    // Rotation makes every micro-batch overwrite the single
    // batch=<tag>-<rotation> partition (mode overwrite), silently
    // discarding all previously landed corpus/store rows, and a static
    // RunTag re-mints absorbed partition names after a checkpoint wipe.
    // Fail at START, not after the data is gone.
    if (outDesc.keys.exists(_.name == "Rotation") &&
        outDesc.keys.exists(_.name == "RunTag")) {
      def wired(key: String, ph: String): Boolean =
        cfg.outputConfig.has(key) && cfg.outputConfig.str(key).contains(ph)
      require(wired("RunTag", "{{.RunTag}}") && wired("Rotation", "{{.Rotation}}"),
        s"daemon output '${cfg.outputName}' is a store output and must set " +
          "RunTag = \"{{.RunTag}}\" and Rotation = \"{{.Rotation}}\" under a " +
          "streaming query: a static tag/rotation makes every micro-batch " +
          "overwrite one batch partition, silently discarding previously " +
          "landed rows")
    }
    val runTag =
      if (needsTag) StoreLayout.runTagFor(compiled.ctx.spark, checkpointDir)
      else ""
    // Cross-batch tail-carry is the DEFAULT daemon posture for the packing
    // export: without CarryDir every micro-batch packs independently and
    // leaves up to PackShards underfilled final sequences — pad waste
    // proportional to 1/batch-size, paid in accelerator hours forever.
    // When the output supports carry (a CarryDir key) and is packing
    // (PackBudget > 0) under a daemon, default CarryDir to a
    // rotation-independent _carry dir beside the output (placeholder
    // segments stripped — the carry state is SHARED across batches) and
    // CarryRotation to the batch rotation. An explicit STATIC
    // CarryRotation is refused for the same reason as a static store
    // Rotation above: each batch would re-read and overwrite ONE carry
    // partition, corrupting the tail chain. Opting OUT of carry entirely
    // remains possible by pointing CarryDir at an explicit path and
    // managing it, but per-batch padded packing is no longer the silent
    // default.
    val carryDefaults: Map[String, Any] =
      if (outDesc.keys.exists(_.name == "CarryDir") &&
          cfg.outputConfig.int("PackBudget") > 0) {
        if (cfg.outputConfig.has("CarryRotation"))
          require(cfg.outputConfig.str("CarryRotation").contains("{{.Rotation}}"),
            s"daemon output '${cfg.outputName}': CarryRotation must carry " +
              "the {{.Rotation}} placeholder under a streaming query - a " +
              "static rotation re-reads and overwrites ONE carry partition " +
              "every micro-batch, corrupting the tail chain")
        val dirDefault: Map[String, Any] =
          if (cfg.outputConfig.has("CarryDir")) Map.empty
          else {
            val base = cfg.outputConfig.str("Path").split('/')
              .filterNot(_.contains("{{.")).mkString("/")
            val d = s"${base.stripSuffix("/")}/_carry"
            println(s"Stats: daemon '${cfg.outputName}' defaulting " +
              s"CarryDir=$d (cross-batch tail carry - pad waste no longer " +
              "depends on trigger sizing; set CarryDir to relocate)")
            Map("CarryDir" -> d)
          }
        val rotDefault: Map[String, Any] =
          if (cfg.outputConfig.has("CarryRotation")) Map.empty
          else Map("CarryRotation" -> "{{.Rotation}}")
        dirDefault ++ rotDefault
      } else Map.empty
    val query = compiled.projected.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one micro-batch = one rotation: write files, then upload them.
        // {{.Rotation}} expands to the batch id (monotonic across restarts,
        // like the reference's per-file rotation counter) in EVERY string
        // config value — FileWriter's PathString and any output that needs
        // the batch id for idempotent partitions (PerceptualDedupStore);
        // the rebuilt config keeps the compile-time binding
        val batchCfg = cfg.outputConfig.copy(raw =
          (cfg.outputConfig.raw ++ carryDefaults).map {
            case (k, v: String) =>
              k -> v.replace("{{.Rotation}}", batchId.toString)
                .replace("{{.RunTag}}", runTag)
            case kv => kv
          })
        val result = outDesc.build(compiled.ctx, batchCfg, batch)
        counter.addAndGet(result.rows)
        for ((name, upCfg) <- cfg.upload)
          components.upload(name).build(compiled.ctx, upCfg, result.paths)
        ()
      }
      .start()
    Daemon(query, () => counter.get())
  }
}
