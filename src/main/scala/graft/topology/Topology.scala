package graft.topology

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Topology = the reference's query: TOML config → a DataFrame program.
  *
  *   1 input → N filters → 1 output (optionally sharded) → 0..1 upload
  *   (reference: topology.go:16-23)
  *
  * Compilation mirrors NewConfigFromToml + NewTopologyFromConfig
  * (config.go:281-422, topology.go:55-225): resolve component names in the
  * registry (case-insensitively), bind each section's config to its
  * descriptor's keys, bind the field-name schema, compose the filter chain
  * as `DataFrame => DataFrame`, project the declared output fields, and
  * hand the result to the output descriptor.
  * Execution is Catalyst's problem — the filter chain collapses into a
  * single fused WholeStageCodegen scan stage, and sharding becomes the only
  * intentional shuffle (repartition on the shard field), exactly the plan
  * you want at 100 TB.
  */
object Topology {

  final case class Config(
      fields: Seq[String],
      separator: String,
      validation: Map[String, String],
      dontValidateFields: Boolean,
      trackFilterDrops: Boolean = false,
      input: (String, ComponentConfig),
      filters: Seq[(String, ComponentConfig)],
      outputName: String,
      outputProcs: Int,
      outputFields: Seq[String],
      sharding: Option[String],
      outputConfig: ComponentConfig,
      upload: Option[(String, ComponentConfig)],
      metrics: Option[(String, ComponentConfig)] = None,
      /** `[[user]]` blocks in TOML order (reference: ConfigUser,
        * config.go:88-91) — decoded against the Components.user registry
        * at compile time.
        */
      user: Seq[(String, ComponentConfig)] = Nil,
      /** Optional job-level `[tokenizer]` TRAIN section (extension
        * surface, no reference analogue): trains on the post-filter frame
        * at compile time and persists a vocabulary sidecar — see
        * [[Tokenize.train]].
        */
      tokenizer: Option[ComponentConfig] = None,
      /** Optional job-level `[reshuffle]` section (extension surface):
        * runs the packed-corpus epoch shuffle eagerly at compile — see
        * [[Reshuffle.run]]. A reshuffle-only TOML (no `[input]`/
        * `[output]`) compiles against a synthesized inert topology.
        */
      reshuffle: Option[ComponentConfig] = None,
  )

  /** Decode the parsed TOML tree (reference: NewConfigFromToml stages 2-6). */
  def configFromToml(tree: Map[String, Any]): Config = {
    def table(k: String): Map[String, Any] = tree.get(k) match {
      case Some(m: Map[String @unchecked, Any @unchecked]) => m
      case None => Map.empty
      case Some(other) =>
        throw new IllegalArgumentException(s"topology: [$k] is not a table: $other")
    }
    def cc(m: Map[String, Any], name: String): ComponentConfig = m.get("config") match {
      case Some(c: Map[String @unchecked, Any @unchecked]) => ComponentConfig(c, name)
      case _ => ComponentConfig(Map.empty, name)
    }

    val reshuffleCfg = tree.get("reshuffle") match {
      // job-level section like [tokenizer]: keys live directly under it
      case Some(m: Map[String @unchecked, Any @unchecked]) =>
        Some(ComponentConfig(m, "reshuffle"))
      case None => None
      case Some(other) =>
        throw new IllegalArgumentException(s"topology: [reshuffle]: $other")
    }
    // a reshuffle-only TOML is a complete job: synthesize an inert
    // topology (one literal record into Nop) around the section so the
    // user writes ONLY [reshuffle]
    val standaloneReshuffle = reshuffleCfg.isDefined &&
      !tree.contains("input") && !tree.contains("output")

    val fields = table("fields").get("names") match {
      case Some(l: List[Any @unchecked]) => l.map(_.toString)
      case _ if standaloneReshuffle => Seq("_")
      case _ => Nil
    }
    val sep = table("csv").get("field_separator") match {
      case Some(l: Long)   => l.toChar.toString   // ASCII code (config.go:173-191)
      case Some(s: String) => s
      case None            => ","
      case Some(other) =>
        throw new IllegalArgumentException(s"csv.field_separator: $other")
    }
    require(sep.length == 1, s"csv.field_separator must be one char, got '$sep'")

    val inputT =
      if (standaloneReshuffle)
        Map[String, Any]("name" -> "LogLines",
          "config" -> Map[String, Any]("Lines" -> List("reshuffle")))
      else table("input")
    require(inputT.contains("name"), "topology: [input] name is required")
    val outputT =
      if (standaloneReshuffle) Map[String, Any]("name" -> "Nop")
      else table("output")
    require(outputT.contains("name"), "topology: [output] name is required")

    val filters = tree.get("filter") match {
      case Some(l: List[Any @unchecked]) => l.map {
        case m: Map[String @unchecked, Any @unchecked] =>
          val n = m.getOrElse("name",
            throw new IllegalArgumentException("topology: [[filter]] name is required")).toString
          (n, cc(m, s"filter $n"))
        case other => throw new IllegalArgumentException(s"topology: bad [[filter]]: $other")
      }
      case None => Nil
      case Some(other) => throw new IllegalArgumentException(s"topology: [[filter]]: $other")
    }

    Config(
      fields = fields,
      separator = sep,
      validation = table("validation").map { case (k, v) => k -> v.toString },
      dontValidateFields = table("general").get("dont_validate_fields") match {
        case Some(b: Boolean) => b; case _ => false
      },
      trackFilterDrops = table("general").get("track_filter_drops") match {
        case Some(b: Boolean) => b; case _ => false
      },
      input = (inputT("name").toString, cc(inputT, s"input ${inputT("name")}")),
      filters = filters,
      outputName = outputT("name").toString,
      outputProcs = outputT.get("procs").map(_.toString.toInt).getOrElse(32),
      outputFields = outputT.get("fields") match {
        case Some(l: List[Any @unchecked]) => l.map(_.toString)
        case None => Nil
        // a nested `[output.fields]` table (or any non-list) is a config
        // mistake that would otherwise silently write ALL fields
        case Some(other) => throw new IllegalArgumentException(
          s"[output] fields must be an array of field names, got: $other")
      },
      sharding = outputT.get("sharding").map(_.toString),
      outputConfig = cc(outputT, s"output ${outputT("name")}"),
      upload = tree.get("upload") match {
        case Some(m: Map[String @unchecked, Any @unchecked]) if m.contains("name") =>
          Some((m("name").toString, cc(m, s"upload ${m("name")}")))
        case _ => None
      },
      metrics = tree.get("metrics") match {
        case Some(m: Map[String @unchecked, Any @unchecked]) if m.contains("name") =>
          Some((m("name").toString, cc(m, s"metrics ${m("name")}")))
        case _ => None
      },
      user = tree.get("user") match {
        case Some(l: List[Any @unchecked]) => l.map {
          case m: Map[String @unchecked, Any @unchecked] =>
            val n = m.getOrElse("name",
              throw new IllegalArgumentException("topology: [[user]] name is required")).toString
            (n, cc(m, s"user $n"))
          case other => throw new IllegalArgumentException(s"topology: bad [[user]]: $other")
        }
        case None => Nil
        case Some(other) => throw new IllegalArgumentException(s"topology: [[user]]: $other")
      },
      tokenizer = tree.get("tokenizer") match {
        // job-level section: keys live directly under [tokenizer] (it is
        // not a named component with a nested .config table)
        case Some(m: Map[String @unchecked, Any @unchecked]) =>
          Some(ComponentConfig(m, "tokenizer"))
        case None => None
        case Some(other) =>
          throw new IllegalArgumentException(s"topology: [tokenizer]: $other")
      },
      reshuffle = reshuffleCfg,
    )
  }

  final case class Compiled(
      ctx: TopologyCtx,
      cfg: Config,
      components: Components,
      /** post-validation, post-filter-chain frame (all declared fields) */
      frame: DataFrame,
      /** projected frame handed to the output (+ `_record` for raw outputs) */
      projected: DataFrame,
      observations: Map[String, Observation],
  ) {
    /** The configured MetricsClient (Nop when no [metrics] section). */
    def metricsClient(): graft.metrics.MetricsClient = cfg.metrics match {
      case Some((name, mCfg)) => components.metricsBackend(name).build(ctx, mCfg)
      case None => graft.metrics.NopMetrics
    }

    /** Execute output + upload; returns (output result, observed metrics). */
    def run(): (OutputResult, Map[String, Any]) = try runInner()
      finally ctx.runCleanupHooks()

    private def runInner(): (OutputResult, Map[String, Any]) = {
      val mc = metricsClient()
      val t0 = System.nanoTime()
      val result = components.output(cfg.outputName).build(ctx, cfg.outputConfig, projected)
      for ((name, upCfg) <- cfg.upload)
        components.upload(name).build(ctx, upCfg, result.paths)
      // checkpoint-after-process: only now that output+upload succeeded may
      // inputs advance durable offsets / delete consumed queue messages
      ctx.runCommitHooks()
      // the QueryExecutionListener that completes an observation fires
      // ASYNC after the action — wait on each one's future under ONE
      // shared deadline (a per-observation deadline would stall 2s × N
      // when the action never materializes the observed frames, e.g.
      // OpLog's limited collect); one that never fires reads as empty
      val deadline = System.nanoTime() + 2000000000L
      def readObs(o: Observation): Map[String, Any] = {
        try Await.ready(o.future, Duration.fromNanos(
          math.max(0L, deadline - System.nanoTime())))
        catch { case _: TimeoutException => () }
        o.future.value.flatMap(_.toOption)
          .fold(Map.empty[String, Any])(r => r.getValuesMap[Any](r.schema.fieldNames))
      }
      val metrics = observations.values.map(readObs)
        .fold(Map.empty[String, Any])(_ ++ _)
      // topology-level counters, published once per run (stats.go:131-139
      // breakdown; per-record emission would never survive 1000 executors)
      try {
        val read = metrics.get("input_records").collect { case l: Long => l }.getOrElse(0L)
        val written = metrics.get("output_records").collect { case l: Long => l }
          .getOrElse(result.rows)
        mc.deltaCount("records_read", read)
        mc.deltaCount("records_written", written)
        mc.deltaCount("records_filtered", math.max(0L, read - written))
        mc.duration("topology_run", (System.nanoTime() - t0) / 1000000L)
      } finally mc.close()
      (result, metrics)
    }
  }

  /** Build the DataFrame program for a config (reference: plan+execute,
    * topology.go:55-225; per-record hot path :350-399).
    */
  /** Lazy per-field extraction over an unparsed CSV line — the Spark
    * re-expression of the reference's zero-copy `LogLine` parse
    * (logline.go:23-31): each declared field is a bounded-prefix scan
    * expression, so Catalyst's column pruning materializes ONLY the fields
    * downstream operators reference. Semantics matched to `Get`
    * (logline.go:87-146): missing trailing fields ≡ empty; field i exists
    * iff the line has ≥ i separators iff the prefix before the i-th
    * separator is a PROPER prefix. (Counting all separators with
    * translate/regexp instead scans + copies the whole ~4.5 KB line per
    * row — measured 2.7× slower end-to-end on the pipeline bench.)
    *
    * The proper-prefix test is `prefix =!= value`, NOT `length(prefix) <
    * length(value)`: `length` is a char count that UTF-8-decodes its whole
    * operand, so the length form scans the full ~4.5 KB line per record
    * per referenced field, while inequality short-circuits on the byte
    * lengths (O(1) whenever the field exists) — measured 2× on the
    * record-filter stage of the pipeline bench.
    */
  def lazyFieldColumns(value: Column, fields: Seq[String], separator: String)
      : Map[String, Column] =
    fields.zipWithIndex.map { case (f, i) =>
      val lazyField =
        substring_index(substring_index(value, separator, i + 1), separator, -1)
      val exists = substring_index(value, separator, i) =!= value
      f -> (if (i == 0) lazyField else when(exists, lazyField).otherwise(lit("")))
    }.toMap

  def compile(spark: SparkSession, cfg: Config,
      components: Components = BuiltinComponents.all): Compiled =
    compileAs(spark, cfg, components, daemon = false)

  /** Compile with the input's daemon form ([[InputDesc.buildStream]]) where
    * it has one: the input alone decides whether a topology is a daemon
    * (reference: api.go:58-66). An input without one compiles to its batch
    * frame; callers branch on `projected.isStreaming`.
    */
  private[graft] def compileDaemon(spark: SparkSession, cfg: Config): Compiled =
    compileAs(spark, cfg, BuiltinComponents.all, daemon = true)

  private def compileAs(spark: SparkSession, cfg: Config,
      components: Components, daemon: Boolean): Compiled = {
    require(cfg.fields.nonEmpty, "topology: [fields] names is required")
    val bound = bind(cfg, components)
    val ctx = TopologyCtx(spark, cfg.fields, cfg.separator, cfg.outputFields)
    // a compile failure AFTER a component registered a cleanup hook (e.g.
    // NearDupDedup's persisted input cache) must release it — the caller
    // never gets a Compiled to run(), so nothing else ever would
    try compileWith(ctx, bound, components, daemon)
    catch { case t: Throwable => ctx.runCleanupHooks(); throw t }
  }

  /** Resolve every section's descriptor and bind the section's config to
    * its keys (the reference validates every section while decoding the
    * TOML, config.go:353-422): a misspelt key or a missing required one
    * fails here, before any component builds or any output writes, and
    * every build function reads through the bound config.
    */
  private def bind(cfg: Config, components: Components): Config = {
    def named[D <: ComponentDesc](sec: (String, ComponentConfig), desc: String => D) =
      (sec._1, sec._2.bind(desc(sec._1).keys))
    cfg.copy(
      input = named(cfg.input, components.input),
      filters = cfg.filters.map(named(_, components.filter)),
      outputConfig = cfg.outputConfig.bind(components.output(cfg.outputName).keys),
      upload = cfg.upload.map(named(_, components.upload)),
      metrics = cfg.metrics.map(named(_, components.metricsBackend)),
      // a [[user]] desc declaring no keys leaves its block free-form
      user = cfg.user.map { case (n, c) =>
        val keys = components.userSection(n).keys
        (n, if (keys.isEmpty) c else c.bind(keys))
      },
      tokenizer = cfg.tokenizer.map(_.bind(Tokenize.trainKeys)),
      reshuffle = cfg.reshuffle.map(_.bind(Reshuffle.keys)),
    )
  }

  private def compileWith(ctx: TopologyCtx, cfg: Config,
      components: Components, daemon: Boolean): Compiled = {

    // --- [[user]] sections (config.go:386-400): every block in the TOML
    // must have a registered UserDesc (unknown name is loud); registered
    // descs absent from the TOML stay untouched (Go zero value)
    for ((name, uCfg) <- cfg.user) components.userSection(name).decode(uCfg)

    // --- input ---
    val inDesc = components.input(cfg.input._1)
    val outDesc = components.output(cfg.outputName)
    val stream = if (daemon) inDesc.buildStream else None

    // Raw fast path (the reference's zero-copy lazy parse + ToText fast
    // path, logline.go:23-31/:152-220): when the output writes raw lines
    // and no filter mutates a field, read UNPARSED lines and expose each
    // declared field as a lazy prefix-scan expression. Catalyst's column
    // pruning then materializes ONLY the fields filters actually
    // reference — a 2-field filter over 3000-field records never parses
    // the other 2998 — and the sink writes the original line bytes.
    val rawFast = stream.isEmpty && outDesc.raw && inDesc.buildRaw.isDefined &&
      cfg.tokenizer.isEmpty &&
      cfg.filters.forall { case (n, _) => !components.filter(n).mutating }

    var df =
      if (rawFast) {
        val raw = inDesc.buildRaw.get(ctx, cfg.input._2)
        raw.withColumns(Topology.lazyFieldColumns(col("value"), cfg.fields, cfg.separator))
      } else {
        val built = stream.getOrElse(inDesc.build)(ctx, cfg.input._2)
        require(built.columns.toSeq == cfg.fields,
          s"input produced columns ${built.columns.toSeq}, expected ${cfg.fields}")
        built
      }

    // Observations are batch-only; streaming metrics come from
    // StreamingQueryProgress (query.lastProgress) instead
    val obs =
      if (df.isStreaming) Map.empty[String, Observation]
      else Map(
        "input" -> new Observation("graft_input"),
        "output" -> new Observation("graft_output"))
    for (o <- obs.get("input"))
      df = df.observe(o, count(lit(1)).as("input_records"))

    // Per-stage record accounting for StatsDumper's validation/per-filter
    // drop breakdown (stats.go:131-139, topology.go:376-386). Opt-in
    // ([general] track_filter_drops): each observe point splits the
    // whole-stage-codegen span, so the default plan stays one fused stage.
    val trackDrops = cfg.trackFilterDrops && !df.isStreaming
    var stageObs = Vector.empty[(String, Observation)]
    def observeStage(frame: DataFrame, key: String): DataFrame =
      if (!trackDrops) frame
      else {
        val o = new Observation(s"graft_stage_$key")
        stageObs :+= (s"stage_$key" -> o)
        frame.observe(o, count(lit(1)).as(s"records_after_$key"))
      }

    // --- validation (engine-level, config.go:474-523 + topology.go:376-386) ---
    if (cfg.validation.nonEmpty && !cfg.dontValidateFields) {
      val rules = cfg.validation.toSeq.map { case (f, re) =>
        require(cfg.fields.contains(f), s"validation: unknown field '$f'")
        f -> coalesce(col(f).cast("string"), lit("")).rlike(re)
      }
      if (trackDrops) {
        // per-field invalid counts (the reference counts drops per field
        // index, topology.go:376-386) — one observation on the pre-filter
        // frame, all fields in a single pass
        val o = new Observation("graft_validation_fields")
        stageObs :+= ("validation_fields" -> o)
        val aggs = rules.map { case (f, p) =>
          sum(when(!p, 1L).otherwise(0L)).as(s"invalid_$f") }
        df = df.observe(o, aggs.head, aggs.tail: _*)
      }
      df = observeStage(df.filter(rules.map(_._2).reduce(_ && _)), "validation")
    }

    // --- filter chain (config order, topology.go:100-119) ---
    for (((name, fCfg), i) <- cfg.filters.zipWithIndex) {
      val desc = components.filter(name)
      df = observeStage(desc.build(ctx, fCfg)(df), s"${i}_$name")
    }

    // --- [tokenizer] train step (extension surface): trains on the
    // post-filter frame EAGERLY (vocabulary-bounded driver aggregations)
    // and persists the sidecar — a train job's output is usually Nop
    for (tCfg <- cfg.tokenizer) {
      require(!df.isStreaming, "[tokenizer]: training requires a batch input")
      Tokenize.train(ctx, tCfg, df)
    }

    // --- [reshuffle] epoch-shuffle step (extension surface): runs the
    // packed-corpus epoch shuffle eagerly, like [tokenizer] — the
    // section IS the job; the surrounding topology is usually inert
    for (rCfg <- cfg.reshuffle) {
      require(!df.isStreaming, "[reshuffle]: requires a batch topology")
      Reshuffle.run(ctx, rCfg)
    }

    // --- sharding (topology.go:157-184): the one intentional shuffle ---
    val sharded = cfg.sharding match {
      case Some(f) =>
        require(cfg.fields.contains(f), s"sharding: unknown field '$f'")
        df.repartition(cfg.outputProcs, col(f))
      case None => df
    }

    // --- projection to output fields (+ raw record, topology.go:330-348) ---
    val outFields = if (cfg.outputFields.nonEmpty) cfg.outputFields else cfg.fields
    // a declared field, or a column a record-RESHAPING filter produced
    // (PackRows replaces the record stream with packed training rows)
    outFields.foreach(f => require(
      cfg.fields.contains(f) || df.columns.contains(f),
      s"output: unknown field '$f'"))
    val projCols = outFields.map(f => coalesce(col(f).cast("string"), lit("")).as(f))
    val projected =
      if (outDesc.raw) {
        // full serialized line (ToText, logline.go:152-220): on the fast
        // path the original bytes pass through untouched; otherwise ALL
        // declared fields re-join on the separator
        val record =
          if (rawFast) col("value")
          else concat_ws(cfg.separator,
            cfg.fields.map(f => coalesce(col(f).cast("string"), lit(""))): _*)
        sharded.select(projCols :+ record.as("_record"): _*)
      } else sharded.select(projCols: _*)

    val projectedObs = obs.get("output") match {
      case Some(o) => projected.observe(o, count(lit(1)).as("output_records"))
      case None    => projected
    }
    Compiled(ctx, cfg, components, df, projectedObs, obs ++ stageObs)
  }

  def compileToml(spark: SparkSession, toml: String,
      components: Components = BuiltinComponents.all,
      env: Map[String, String] = sys.env): Compiled =
    compile(spark, configFromToml(Toml.parse(toml, env)), components)
}
