package graft.topology

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Component descriptor layer — the registry/docs/validation machinery the
  * reference builds from Go struct tags (reference: desc.go:67-111 for the
  * descriptor structs, config.go:300-351 for case-insensitive lookup,
  * help_markdown.go:14 for doc generation).
  */

/** One config key of a component: name, docs, requiredness, default.
  * (reference: `help:"..." required:"true" default:"..."` struct tags.)
  */
final case class ConfigKey(
    name: String,
    help: String,
    required: Boolean = false,
    default: Option[Any] = None,
)

/** Typed, case-insensitive view over a component's decoded TOML table.
  * Key case-insensitivity mirrors the reference's TOML decoding
  * (BurntSushi/toml matches struct fields case-insensitively).
  */
final case class ComponentConfig(raw: Map[String, Any], componentName: String = "") {
  private val lower: Map[String, Any] = raw.map { case (k, v) => k.toLowerCase -> v }

  def has(key: String): Boolean = lower.contains(key.toLowerCase)
  def any(key: String): Option[Any] = lower.get(key.toLowerCase)

  def str(key: String, default: => String = null): String =
    any(key).map(_.toString).getOrElse {
      require(default != null, s"$componentName: missing required key '$key'")
      default
    }
  def strOpt(key: String): Option[String] = any(key).map(_.toString)
  def int(key: String, default: => Long = Long.MinValue): Long = any(key) match {
    case Some(l: Long)   => l
    case Some(d: Double) => d.toLong
    case Some(s: String) => s.toLong
    case Some(other) => throw new IllegalArgumentException(
      s"$componentName: '$key' is not an integer: $other")
    case None =>
      require(default != Long.MinValue, s"$componentName: missing required key '$key'")
      default
  }
  def dbl(key: String, default: => Double = Double.NaN): Double = any(key) match {
    case Some(d: Double) => d
    case Some(l: Long)   => l.toDouble
    case Some(s: String) => s.toDouble
    case Some(other) => throw new IllegalArgumentException(
      s"$componentName: '$key' is not a number: $other")
    case None =>
      require(!default.isNaN, s"$componentName: missing required key '$key'")
      default
  }
  /** Byte size: a plain integer, or a humanized string like "32MB",
    * "1.5 GiB", "64kib" — decimal suffixes are 1000-based and binary
    * (…iB) suffixes 1024-based, matching the reference's TOML size type
    * (size_bytes.go UnmarshalTOML via go-humanize).
    */
  def sizeBytes(key: String, default: => Long = Long.MinValue): Long = any(key) match {
    case Some(l: Long)   => require(l >= 0, s"$componentName: '$key' must be >= 0"); l
    case Some(d: Double) => require(d >= 0, s"$componentName: '$key' must be >= 0"); d.toLong
    case Some(s: String) if s.nonEmpty => ComponentConfig.parseSize(componentName, key, s)
    case Some(other) => throw new IllegalArgumentException(
      s"$componentName: '$key' is not a byte size: $other")
    case None =>
      require(default != Long.MinValue, s"$componentName: missing required key '$key'")
      default
  }

  def bool(key: String, default: => Boolean = false): Boolean = any(key) match {
    case Some(b: Boolean) => b
    case Some(s: String)  => s.toBoolean
    case Some(other) => throw new IllegalArgumentException(
      s"$componentName: '$key' is not a boolean: $other")
    case None => default
  }
  def strList(key: String, default: => Seq[String] = null): Seq[String] = any(key) match {
    case Some(l: List[Any @unchecked]) => l.map(_.toString)
    case Some(s: String)               => Seq(s)
    case None =>
      require(default != null, s"$componentName: missing required key '$key'")
      default
    case Some(other) => throw new IllegalArgumentException(
      s"$componentName: '$key' is not a list: $other")
  }
  def strMap(key: String): Map[String, String] = any(key) match {
    case Some(m: Map[String @unchecked, Any @unchecked]) =>
      m.map { case (k, v) => k -> v.toString }
    case None => Map.empty
    case Some(other) => throw new IllegalArgumentException(
      s"$componentName: '$key' is not a table: $other")
  }

  /** Reject unknown keys (reference: config.go:403-406) and missing
    * required ones (config.go:555-567).
    */
  def validate(keys: Seq[ConfigKey]): Unit = {
    val known = keys.map(_.name.toLowerCase).toSet
    val unknown = raw.keySet.filterNot(k => known.contains(k.toLowerCase))
    require(unknown.isEmpty,
      s"$componentName: unknown config key(s): ${unknown.mkString(", ")}; " +
        s"known: ${keys.map(_.name).mkString(", ")}")
    for (k <- keys if k.required)
      require(has(k.name), s"$componentName: missing required key '${k.name}'")
  }
}

object ComponentConfig {
  val empty: ComponentConfig = ComponentConfig(Map.empty)

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

  def parseDuration(s: String): Long = s.trim match {
    case "-1" => -1L
    case d if d.endsWith("ms") => d.dropRight(2).trim.toLong / 1000
    case d if d.endsWith("s")  => d.dropRight(1).trim.toLong
    case d if d.endsWith("m")  => d.dropRight(1).trim.toLong * 60
    case d if d.endsWith("h")  => d.dropRight(1).trim.toLong * 3600
    case d => d.toLong
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
  */
final case class InputDesc(
    name: String, help: String, keys: Seq[ConfigKey],
    build: (TopologyCtx, ComponentConfig) => DataFrame,
    buildRaw: Option[(TopologyCtx, ComponentConfig) => DataFrame] = None,
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
  * user_config_test.go:133-168). `keys`, when non-empty, gets the same
  * unknown/required enforcement as any component's config table.
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
          val dv = k.default.map(_.toString).getOrElse("")
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
