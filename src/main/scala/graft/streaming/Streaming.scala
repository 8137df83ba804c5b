package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.topology._

/** Daemon-mode topologies (reference: api.go:58-66 — an input whose Run
  * never returns makes the whole topology a daemon). Spark mapping: the
  * input's daemon form ([[graft.topology.InputDesc.buildStream]]: TCP,
  * Kinesis, KCL and WebDataset have one) is a Structured Streaming
  * source; the filter chain compiles the SAME way (the operators are plan
  * transforms, batch/stream agnostic); and `foreachBatch` reuses the batch
  * output descriptors — so each micro-batch behaves like one reference
  * "rotation": files written, then uploaded (topology.go:186-202), with
  * the trigger interval playing RotateInterval's role.
  */
object Streaming {

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
    start(Topology.compileDaemon(spark, cfg), checkpointDir, triggerMs)
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
