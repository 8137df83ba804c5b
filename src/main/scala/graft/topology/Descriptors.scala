package graft.topology

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Component descriptor layer — the registry/docs/validation machinery the
  * reference builds from Go struct tags (reference: desc.go:67-111 for the
  * descriptor structs, config.go:300-351 for case-insensitive lookup,
  * help_markdown.go:14 for doc generation).
  *
  * A [[ConfigKey]] is the single declaration of a config key: its name,
  * help, requiredness and default live there and nowhere else. The
  * `-help` text renders from it, and [[Topology.compile]] binds every
  * TOML section to its descriptor's keys ([[ComponentConfig.bind]]), so
  * unknown and missing required keys fail at compile — before any output
  * writes — and a build function reads declared defaults, never its own.
  */

/** One config key of a component: name, docs, requiredness, default.
  * (reference: `help:"..." required:"true" default:"..."` struct tags.)
  */
final case class ConfigKey(
    name: String,
    help: String,
    required: Boolean = false,
    default: Option[Any] = None,
) {
  /** The default as it would be written in a TOML file (lists as arrays). */
  def defaultToml: Option[String] = default.map {
    case xs: Seq[_] => xs.map(x => "\"" + x + "\"").mkString("[", ", ", "]")
    case v => v.toString
  }
}

/** Typed, case-insensitive view over a component's decoded TOML table.
  * Key case-insensitivity mirrors the reference's TOML decoding
  * (BurntSushi/toml matches struct fields case-insensitively).
  *
  * Bound to its descriptor's keys ([[bind]]), a read of an absent key
  * returns the key's declared default through the same typed coercion as
  * a TOML value, an absent key without one fails as missing, and a read
  * of a key the descriptor does not declare fails loudly. Unbound
  * (`keys = None`, e.g. a `[[user]]` section declaring no keys) the
  * table is free-form: reads see only the TOML values.
  */
final case class ComponentConfig(raw: Map[String, Any], componentName: String = "",
    keys: Option[Seq[ConfigKey]] = None) {
  private val lower: Map[String, Any] = raw.map { case (k, v) => k.toLowerCase -> v }
  private val declared: Option[Map[String, ConfigKey]] =
    keys.map(_.map(k => k.name.toLowerCase -> k).toMap)

  /** Bind to a descriptor's keys, rejecting unknown keys (reference:
    * config.go:403-406) and missing required ones (config.go:555-567).
    */
  def bind(keys: Seq[ConfigKey]): ComponentConfig = {
    val known = keys.map(_.name.toLowerCase).toSet
    val unknown = raw.keySet.filterNot(k => known.contains(k.toLowerCase))
    require(unknown.isEmpty,
      s"$componentName: unknown config key(s): ${unknown.mkString(", ")}; " +
        s"known: ${keys.map(_.name).mkString(", ")}")
    for (k <- keys if k.required)
      require(lower.contains(k.name.toLowerCase),
        s"$componentName: missing required key '${k.name}'")
    copy(keys = Some(keys))
  }

  private def declaration(key: String): Option[ConfigKey] = declared.map(_.getOrElse(
    key.toLowerCase, throw new IllegalArgumentException(
      s"$componentName: read of undeclared config key '$key'")))

  /** Whether the TOML sets the key (a declared default does not count). */
  def has(key: String): Boolean = { declaration(key); lower.contains(key.toLowerCase) }

  /** The TOML value, else the declared default. */
  private def value(key: String): Option[Any] = {
    val decl = declaration(key)
    lower.get(key.toLowerCase).orElse(decl.flatMap(_.default))
  }

  private def typed[T](key: String, what: String)(coerce: PartialFunction[Any, T]): T =
    value(key) match {
      case Some(v) => coerce.applyOrElse(v, (other: Any) => throw new IllegalArgumentException(
        s"$componentName: '$key' is not $what: $other"))
      case None => throw new IllegalArgumentException(
        s"$componentName: missing required key '$key'")
    }

  def str(key: String): String = typed(key, "a string") { case v => v.toString }
  def strOpt(key: String): Option[String] = value(key).map(_.toString)
  def int(key: String): Long = typed(key, "an integer") {
    case l: Long => l
    case d: Double if d.isWhole => d.toLong
    case s: String => s.toLong
  }
  def dbl(key: String): Double = typed(key, "a number") {
    case d: Double => d
    case l: Long   => l.toDouble
    case s: String => s.toDouble
  }
  /** Byte size: a plain integer, or a humanized string like "32MB",
    * "1.5 GiB", "64kib" — decimal suffixes are 1000-based and binary
    * (…iB) suffixes 1024-based, matching the reference's TOML size type
    * (size_bytes.go UnmarshalTOML via go-humanize).
    */
  def sizeBytes(key: String): Long = typed(key, "a byte size") {
    case l: Long   => require(l >= 0, s"$componentName: '$key' must be >= 0"); l
    case d: Double => require(d >= 0, s"$componentName: '$key' must be >= 0"); d.toLong
    case s: String if s.nonEmpty => ComponentConfig.parseSize(componentName, key, s)
  }
  def bool(key: String): Boolean = typed(key, "a boolean") {
    case b: Boolean => b
    case s: String  => s.toBoolean
  }
  def strList(key: String): Seq[String] = typed(key, "a list") {
    case l: Seq[Any @unchecked] => l.map(_.toString)
    case s: String              => Seq(s)
  }
  def strMap(key: String): Map[String, String] = value(key) match {
    case Some(m: Map[String @unchecked, Any @unchecked]) =>
      m.map { case (k, v) => k -> v.toString }
    case None => Map.empty
    case Some(other) => throw new IllegalArgumentException(
      s"$componentName: '$key' is not a table: $other")
  }
}

object ComponentConfig {
  /** "32MB" / "1.5 GiB" / "700" → bytes; decimal suffixes 1000-based,
    * binary (…iB) 1024-based, case-insensitive, optional space — the
    * accepted grammar of the reference's size type (size_bytes.go).
    */
  def parseSize(component: String, key: String, s: String): Long = {
    val m = "(?i)^\\s*([0-9]+(?:\\.[0-9]+)?)\\s*([kmgtp]?i?b?)\\s*$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(
        s"$component: '$key' is not a byte size: '$s'"))
    val unit = m.group(2).toLowerCase
    // unitless integers parse exactly (a Double round-trip would corrupt
    // values above 2^53)
    if (unit.isEmpty && !m.group(1).contains('.')) return m.group(1).toLong
    val num = m.group(1).toDouble
    val mult = unit.stripSuffix("b") match {
      case "" => 1d
      case "k" => 1e3; case "m" => 1e6; case "g" => 1e9
      case "t" => 1e12; case "p" => 1e15
      case "ki" => 1024d; case "mi" => 1024d * 1024; case "gi" => math.pow(1024, 3)
      case "ti" => math.pow(1024, 4); case "pi" => math.pow(1024, 5)
      case u => throw new IllegalArgumentException(
        s"$component: '$key' has an unknown size unit '$u' in '$s'")
    }
    require(num >= 0, s"$component: '$key' must be >= 0")
    val bytes = num * mult
    // reject rather than saturate: (num*mult).toLong clamps to
    // Long.MaxValue, silently turning e.g. "20EB" into a "valid" size —
    // the reference's go-humanize ParseBytes errors out ("too large")
    if (bytes > Long.MaxValue.toDouble) throw new IllegalArgumentException(
      s"$component: '$key' is too large for a byte size: '$s'")
    bytes.toLong
  }

  /** "500ms" / "5s" / "1m" / "2h" → milliseconds; a bare number is
    * seconds, and "-1" (no bound) stays -1.
    */
  def parseDuration(s: String): Long = s.trim match {
    case "-1" => -1L
    case d if d.endsWith("ms") => d.dropRight(2).trim.toLong
    case d if d.endsWith("s")  => d.dropRight(1).trim.toLong * 1000
    case d if d.endsWith("m")  => d.dropRight(1).trim.toLong * 60000
    case d if d.endsWith("h")  => d.dropRight(1).trim.toLong * 3600000
    case d => d.toLong * 1000
  }
}

/** Everything a component build function may need. */
final case class TopologyCtx(
    spark: SparkSession,
    fields: Seq[String],
    separator: String,
    /** output section's declared fields (projection + sharding basis) */
    outputFields: Seq[String] = Nil,
    /** processing-time job id, used in file-name templates */
    jobId: String = java.util.UUID.randomUUID().toString,
) {
  private val commitHooks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Register work to run AFTER the topology's output (and upload) complete
    * successfully — the checkpoint-after-process seam (reference:
    * input/kcl.go:278-302 checkpoints after records are processed;
    * input/sqs.go:216-222 deletes messages only after their bodies parse).
    * Inputs that consume destructively (SQS delete) or advance durable
    * offsets (KCL lease table, local offset file) register here so a build
    * that fails mid-run re-reads the same data on retry (at-least-once).
    */
  def onCommit(hook: () => Unit): Unit = synchronized { commitHooks += hook }

  /** Run and clear the registered commit hooks (called by Compiled.run). */
  def runCommitHooks(): Unit = {
    val hooks = synchronized { val h = commitHooks.toList; commitHooks.clear(); h }
    hooks.foreach(_.apply())
  }

  private val cleanupHooks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Register work to run after the topology's output finishes, SUCCESS OR
    * FAILURE — the resource-release seam (e.g. a filter unpersisting a
    * decision cache it materialized for the run). Unlike [[onCommit]],
    * these always run and must not throw meaningfully (failures are
    * swallowed: releasing a cache can't be allowed to mask the run's own
    * outcome).
    */
  def onCleanup(hook: () => Unit): Unit = synchronized { cleanupHooks += hook }

  /** Run and clear the registered cleanup hooks (called by Compiled.run
    * in a finally).
    */
  def runCleanupHooks(): Unit = {
    val hooks = synchronized { val h = cleanupHooks.toList; cleanupHooks.clear(); h }
    hooks.foreach(h => try h() catch { case _: Exception => () })
  }
}

/** What a batch output produced: the concrete files written (fed to the
  * upload stage, reference: topology.go:186-202 upload channel).
  */
final case class OutputResult(paths: Seq[String], rows: Long)

sealed trait ComponentDesc {
  def name: String
  def help: String
  def keys: Seq[ConfigKey]
}

/** Input: builds the source DataFrame (all-string schema bound to ctx.fields).
  *
  * `buildRaw`, when provided, returns the UNPARSED lines as a single
  * `value` column — the topology compiler uses it for the raw fast path
  * (only-filtering topologies writing raw records skip field
  * materialization entirely, mirroring the reference's zero-copy lazy
  * parse, logline.go:23-31).
  *
  * `buildStream`, when provided, is the input's daemon form: the same
  * records as an unbounded Structured Streaming frame, read from the same
  * bound config. In the reference the input alone decides whether a
  * topology is a daemon (api.go:58-66); here [[Topology.compileDaemon]]
  * (used by `graft.Main` and [[graft.streaming.Streaming.runDaemon]])
  * picks this form, and [[Topology.compile]] always builds the batch one.
  */
final case class InputDesc(
    name: String, help: String, keys: Seq[ConfigKey],
    build: (TopologyCtx, ComponentConfig) => DataFrame,
    buildRaw: Option[(TopologyCtx, ComponentConfig) => DataFrame] = None,
    buildStream: Option[(TopologyCtx, ComponentConfig) => DataFrame] = None,
) extends ComponentDesc

/** Filter: per-record transform, `DataFrame => DataFrame`.
  *
  * `mutating = false` declares the filter only READS fields (drops/keeps
  * records, never writes a field) — a contract the compiler uses to keep
  * raw outputs on the fast path (reference ToText fast path for unmodified
  * records, logline.go:152-220).
  */
final case class FilterDesc(
    name: String, help: String, keys: Seq[ConfigKey],
    build: (TopologyCtx, ComponentConfig) => (DataFrame => DataFrame),
    mutating: Boolean = true,
) extends ComponentDesc

/** Output: consumes the projected DataFrame; `raw=true` outputs receive the
  * serialized CSV line as column `_record` in addition to the projected
  * fields (reference: api.go:123-144 OutputRecord).
  */
final case class OutputDesc(
    name: String, help: String, keys: Seq[ConfigKey],
    raw: Boolean,
    build: (TopologyCtx, ComponentConfig, DataFrame) => OutputResult,
) extends ComponentDesc

/** Upload: post-processes files the output wrote. */
final case class UploadDesc(
    name: String, help: String, keys: Seq[ConfigKey],
    build: (TopologyCtx, ComponentConfig, Seq[String]) => Unit,
) extends ComponentDesc

/** Metrics backend: builds the MetricsClient the topology publishes to
  * (reference: MetricsDesc, desc.go:104-111; registry metrics/all.go).
  */
final case class MetricsDesc(
    name: String, help: String, keys: Seq[ConfigKey],
    build: (TopologyCtx, ComponentConfig) => graft.metrics.MetricsClient,
) extends ComponentDesc

/** User-specific configuration section (reference: UserDesc, desc.go:107-111;
  * decode loop config.go:386-400): a library user embedding graft declares
  * named `[[user]]` TOML blocks that decode into their own structures. The
  * Go reference decodes into a struct pointer; here `decode` receives the
  * block's `[user.config]` table as a [[ComponentConfig]] (same typed,
  * case-insensitive accessors every component uses). Matching is
  * case-insensitive; a `[[user]]` block whose name has no registered desc
  * fails the config load loudly (user_config_test.go:104-131); a registered
  * desc absent from the TOML is simply not called (zero value,
  * user_config_test.go:133-168). `keys`, when non-empty, bind the block
  * like any component's config table; a desc declaring none leaves the
  * block free-form, as in the reference.
  */
final case class UserDesc(
    name: String,
    decode: ComponentConfig => Unit,
    help: String = "",
    keys: Seq[ConfigKey] = Nil,
) extends ComponentDesc

/** Component registry with case-insensitive lookup (config.go:300-351). */
final case class Components(
    inputs: Seq[InputDesc] = Nil,
    filters: Seq[FilterDesc] = Nil,
    outputs: Seq[OutputDesc] = Nil,
    uploads: Seq[UploadDesc] = Nil,
    metrics: Seq[MetricsDesc] = Nil,
    user: Seq[UserDesc] = Nil,
) {
  private def find[T <: ComponentDesc](xs: Seq[T], kind: String, name: String): T =
    xs.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"unknown $kind component '$name'; available: ${xs.map(_.name).mkString(", ")}"))

  def input(name: String): InputDesc   = find(inputs, "input", name)
  def filter(name: String): FilterDesc = find(filters, "filter", name)
  def output(name: String): OutputDesc = find(outputs, "output", name)
  def upload(name: String): UploadDesc = find(uploads, "upload", name)
  def metricsBackend(name: String): MetricsDesc = find(metrics, "metrics", name)
  /** Loud lookup wording mirrors config.go:399 ("user configuration does
    * not exist").
    */
  def userSection(name: String): UserDesc =
    user.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"user configuration does not exist: '$name'; " +
          s"registered: ${user.map(_.name).mkString(", ")}"))

  /** The registry narrowed to the components called `name`, of any kind
    * (`-help NAME`).
    */
  def named(name: String): Components = {
    def only[T <: ComponentDesc](xs: Seq[T]) = xs.filter(_.name.equalsIgnoreCase(name))
    Components(only(inputs), only(filters), only(outputs), only(uploads), only(metrics))
  }

  def ++(other: Components): Components = Components(
    inputs ++ other.inputs, filters ++ other.filters,
    outputs ++ other.outputs, uploads ++ other.uploads,
    metrics ++ other.metrics, user ++ other.user)

  /** Markdown help for every registered component, generated from the
    * descriptor metadata (reference: help_markdown.go:14 RenderHelpMarkdown).
    */
  def renderHelp: String = {
    def section[T <: ComponentDesc](title: String, xs: Seq[T]): String =
      if (xs.isEmpty) ""
      else s"## $title\n\n" + xs.map { d =>
        val keyRows = d.keys.map { k =>
          val req = if (k.required) "yes" else "no"
          val dv = k.defaultToml.getOrElse("")
          s"| ${k.name} | $req | $dv | ${k.help} |"
        }.mkString("\n")
        s"### ${d.name}\n\n${d.help}\n\n" +
          (if (d.keys.isEmpty) "(no configuration keys)\n"
           else s"| Key | Required | Default | Help |\n|---|---|---|---|\n$keyRows\n")
      }.mkString("\n")
    Seq(section("Inputs", inputs), section("Filters", filters),
      section("Outputs", outputs), section("Uploads", uploads),
      section("Metrics", metrics))
      .filter(_.nonEmpty).mkString("\n")
  }
}
