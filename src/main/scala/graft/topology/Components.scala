package graft.topology

import java.time.{Instant, ZoneOffset}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.{Fernet, IdField}
import graft.operators.Filters
import graft.sources.ZstdCodec

/** The LogLine CSV read every line-oriented input shares (List, the
  * network inputs' spooled files, the Kinesis/KCL daemon forms): every
  * field a string, the topology's separator, no quoting — LogLine has no
  * quoting/escaping, so separators cannot appear in values
  * (logline.go:23-31) and \u0000 disables quote handling — and zstd
  * files decompressed transparently.
  */
private[graft] object LogLineCsv {
  def schema(fields: Seq[String]): StructType =
    StructType(fields.map(StructField(_, StringType, nullable = true)))

  private def options(ctx: TopologyCtx): Map[String, String] = {
    ZstdCodec.register(ctx.spark)
    Map("sep" -> ctx.separator, "quote" -> "\u0000", "mode" -> "PERMISSIVE")
  }

  def read(ctx: TopologyCtx): DataFrameReader =
    ctx.spark.read.schema(schema(ctx.fields)).options(options(ctx))

  def readStream(ctx: TopologyCtx): org.apache.spark.sql.streaming.DataStreamReader =
    ctx.spark.readStream.schema(schema(ctx.fields)).options(options(ctx))

  /** The unparsed lines, one `value` row each (the raw fast path). */
  def lines(ctx: TopologyCtx, paths: Seq[String]): DataFrame = {
    ZstdCodec.register(ctx.spark)
    ctx.spark.read.text(paths: _*)
  }
}

/** The builtin component registry: every input/filter/output/upload the
  * reference ships (registries input/all.go:9-15, filter/all.go:9-34,
  * output/all.go:9-16, upload/all.go), re-expressed Spark-first. Network
  * services (Kinesis/KCL/SQS/TCP/DynamoDB/WebSocket/S3) follow SURVEY
  * §7.3: the descriptor contract is identical, the zero-egress build binds
  * local test doubles; swap the build function for the real connector on a
  * cluster.
  */
object BuiltinComponents {

  def all: Components = Components(
    inputs = Seq(listInput, parquetInput, jsonLinesInput, webDatasetInput,
      warcInput, packedCorpusInput, logLinesInput,
      randomInput, NetworkInputs.tcpInput, NetworkInputs.kinesisInput,
      NetworkInputs.kclInput, NetworkInputs.sqsInput),
    filters = Seq(
      clauseFilter, clearFields, concatenate, countAndTag, crypt, dedup,
      expandJson, expandList, externalMatch, formatTime, hash,
      metadataLastModified, metadataUrl, notNull, partialClone, regexMatch,
      replaceFields, setStringFromUrl, slice, stringMatch, timestampF,
      timestampRange, urlEscape, urlParam, gopherQuality, redactPii,
      normalizeText, decontaminate, c4Clean, htmlExtract, mainContent,
      pdfExtract, bpeEncode,
      nearDupDedup, canonicalUrl, blockDomains, sqlExpr, sqlWhere, assignSplit, domainCap,
      chunkText, sentenceChunk, spanDedup, exactSubstrDedup, quantileGate, detectSpans,
      redactSpans, convertSpansFilter, sidecarJoin, fimTransform,
      Tokenize.tokenizeIds, Tokenize.packRows),
    outputs = Seq(fileWriter, parquetOutput, jsonLinesOutput, statsOutput,
      nopOutput, opLogOutput, recorderOutput, perceptualStoreOutput,
      substrStoreOutput, packedShardsOutput, DynamoOutput.desc,
      SqliteOutput.desc, SqliteOutput.rawDesc, WebSocketOutput.desc),
    uploads = Seq(s3Upload),
    metrics = Seq(datadogMetrics),
  )

  /** Datadog — dogstatsd metrics exporter (reference:
    * metrics/datadog/client.go:17-60; registry metrics/all.go).
    */
  val datadogMetrics: MetricsDesc = MetricsDesc(
    "Datadog",
    "Exports topology metrics to a dogstatsd endpoint over UDP.",
    Seq(
      ConfigKey("Host", "address (host:port) of the statsd host",
        default = Some("127.0.0.1:8125")),
      ConfigKey("Prefix", "prefix for all metric names", default = Some("baker.")),
      ConfigKey("Tags", "tags attached to all metrics", default = Some(Seq.empty[String])),
      ConfigKey("SendLogs", "send logs as statsd events (accepted, unused)",
        default = Some(false))),
    (_, cfg) => new graft.metrics.DatadogMetrics(
      cfg.str("Host"),
      cfg.str("Prefix"),
      cfg.strList("Tags")),
  )

  // ===================== inputs =====================

  /** List — files/dirs/@listfiles of CSV logs, gzip/zstd transparent.
    * reference: input/list.go:30-54 (spec), :89-164 (openFile),
    * :262-391 (walks). s3:// — via Hadoop's s3a on a real cluster;
    * http(s):// and stdin spool through driver-local temp files.
    */
  val listInput: InputDesc = InputDesc(
    "List",
    "Reads CSV log files from paths, directories and @listfiles; gzip/zstd " +
      "decompressed transparently; source URL and last-modified exposed as " +
      "record metadata.",
    Seq(
      ConfigKey("Files", "List of log-files, directories and/or list-files to process",
        default = Some(Seq("-"))),
      ConfigKey("MatchPath", "regexp to filter files in specified directories",
        default = Some(".*\\.log\\.gz")),
      ConfigKey("Region", "AWS region for s3:// paths (cluster builds)", default = Some("us-west-2")),
    ),
    (ctx, cfg) => LogLineCsv.read(ctx).csv(resolveListPaths(cfg): _*),
    buildRaw = Some((ctx, cfg) => LogLineCsv.lines(ctx, resolveListPaths(cfg))),
  )

  /** JsonLines — JSONL (one JSON object per line) input, the LLM-dataset
    * interchange format (beyond the reference): each line parses once and
    * the declared `[fields]` are extracted by top-level key into the
    * topology's string record model — JSON strings verbatim, numbers/
    * booleans as their literal text, nested values as their JSON text,
    * missing keys as null/empty. The per-field `from_json` copies
    * collapse to ONE parse per row under whole-stage codegen's
    * subexpression elimination. Same path resolution (files, dirs,
    * @list-files, gz/zstd) as [[listInput]], but the default MatchPath
    * accepts `.jsonl`/`.json` AND the `.txt[.codec]` part files
    * [[jsonLinesOutput]] emits, so a defaults-only write→read round-trip
    * works.
    */
  val jsonLinesInput: InputDesc = InputDesc(
    "JsonLines",
    "Reads JSONL (one JSON object per line) files; the declared [fields] " +
      "are extracted by top-level key; gzip/zstd decompressed transparently.",
    Seq(
      ConfigKey("Files", "List of files, directories and/or list-files to process",
        default = Some(Seq("-"))),
      ConfigKey("MatchPath", "regexp to filter files in specified directories",
        default = Some(".*\\.(jsonl|json|txt)(\\.(gz|zst|bz2|lz4|deflate))?$")),
      ConfigKey("Region", "AWS region for s3:// paths (cluster builds)",
        default = Some("us-west-2")),
    ),
    (ctx, cfg) => {
      ZstdCodec.register(ctx.spark)
      val m = from_json(col("value"),
        org.apache.spark.sql.types.MapType(StringType, StringType))
      ctx.spark.read.text(resolveListPaths(cfg): _*)
        .select(ctx.fields.map(f => element_at(m, f).as(f)): _*)
    },
  )

  /** WebDataset — multimodal tar-shard input (beyond the reference): each
    * SAMPLE (the adjacent-member group of one key) becomes one record.
    * Declared `[fields]` name member EXTENSIONS, decoded as UTF-8 text
    * into the string record model (`key`/`shard` are meta-fields); the
    * ext list pushes into the scan as the `exts` option, so undeclared
    * members' payload bytes are never read — the config surface inherits
    * the reader's byte-level pruning. Missing members yield '' (the
    * record model's empty). Fields named in `BinaryFields` carry their
    * member bytes BASE64-encoded — a UTF-8 decode would mangle media
    * payloads; perceptual consumers (PerceptualDedupStore) decode with
    * unbase64. The daemon form reads the same samples through the tar
    * micro-batch source ([[graft.sources.TarSource]]), watching `Path`
    * for newly arriving shards.
    */
  val webDatasetInput: InputDesc = {
    def samples(ctx: TopologyCtx, cfg: ComponentConfig)(
        load: Map[String, String] => DataFrame): DataFrame = {
      val meta = Set("key", "shard")
      val extFields = ctx.fields.filterNot(meta)
      val binary = cfg.strList("BinaryFields").toSet
      val unknownBin = binary -- extFields.toSet
      require(unknownBin.isEmpty,
        s"WebDataset: BinaryFields not in [fields]: ${unknownBin.mkString(", ")}")
      val exts =
        if (extFields.nonEmpty) Map("exts" -> extFields.mkString(",")) else Map.empty
      load(Map("group" -> "true") ++ exts).select(ctx.fields.map {
        case f @ ("key" | "shard") => col(f)
        case f if binary(f) =>
          coalesce(base64(element_at(col("files"), f)), lit("")).as(f)
        case f => coalesce(element_at(col("files"), f).cast("string"), lit("")).as(f)
      }: _*)
    }
    InputDesc(
      "WebDataset",
      "Reads WebDataset tar shards (one record per sample); declared " +
        "[fields] are member extensions decoded as text (BinaryFields " +
        "base64-encoded), plus the meta-fields 'key' and 'shard'. Runs as " +
        "a daemon under graft.Main: watches Path for newly arriving shards.",
      Seq(
        ConfigKey("Path", "tar shard file, directory, or glob", required = true),
        ConfigKey("BinaryFields", "fields whose member bytes are base64-encoded " +
          "(media/PDF payloads — a UTF-8 text decode would mangle them)",
          default = Some(Seq.empty[String])),
        ConfigKey("MaxFilesPerTrigger", "daemon runs only: shards per micro-batch",
          default = Some(16L))),
      (ctx, cfg) => samples(ctx, cfg)(o =>
        ctx.spark.read.format("tar").options(o).load(cfg.str("Path"))),
      buildStream = Some((ctx, cfg) => samples(ctx, cfg)(o =>
        ctx.spark.readStream.format("tar").options(o)
          .option("maxFilesPerTrigger", cfg.int("MaxFilesPerTrigger"))
          .load(cfg.str("Path")))),
    )
  }

  /** Parquet — columnar input, the [[parquetOutput]] symmetric (beyond the
    * reference): the declared `[fields]` select from the parquet schema by
    * name and cast into the topology's string record model, so column
    * pruning reaches the footer (undeclared columns are never read) and a
    * missing field is a loud compile-time error, not an empty column.
    */
  val parquetInput: InputDesc = InputDesc(
    "Parquet",
    "Reads parquet files; the declared [fields] are selected by name and " +
      "cast to the topology's string record model.",
    Seq(
      ConfigKey("Path", "parquet file, directory, or glob", required = true),
      ConfigKey("MergeSchema", "merge schemas across files", default = Some(false))),
    (ctx, cfg) => {
      var r = ctx.spark.read
      if (cfg.bool("MergeSchema")) r = r.option("mergeSchema", "true")
      val df = r.parquet(cfg.str("Path"))
      val missing = ctx.fields.filterNot(df.columns.contains)
      require(missing.isEmpty, s"Parquet input: fields [${missing.mkString(", ")}] " +
        s"absent from parquet schema [${df.columns.mkString(", ")}]")
      df.select(ctx.fields.map(f => col(f).cast("string").as(f)): _*)
    })

  /** PackedCorpus — reads Megatron-style `.bin`/`.idx` packed shards
    * ([[packedShardsOutput]]'s symmetric, completing the config-only
    * lifecycle: export shards, then audit/filter/re-export them from TOML
    * alone). Fields map from the `packedcorpus` DSv2 schema to the string
    * record model: arrays (`input_ids`, `segment_ids`) comma-join,
    * booleans (`loss_mask` entries, `doc_start`) become 1/0, scalars
    * (`file`, `seq_ix`, `ptr`, `n_tokens`) cast to string. Requesting
    * only sidecar fields never opens a data file (the DSv2's pruning
    * flows through the projection), so a config-only token accounting
    * pass reads 12 B/sequence.
    */
  val packedCorpusInput: InputDesc = InputDesc(
    "PackedCorpus",
    "Reads Megatron-style .bin/.idx packed-corpus shards; fields " +
      "file/seq_ix/ptr/n_tokens/doc_start/input_ids/loss_mask/" +
      "segment_ids map to the string record model (arrays comma-joined, " +
      "booleans as 1/0).",
    Seq(ConfigKey("Path", "shard directory or glob", required = true)),
    (ctx, cfg) => {
      val df = ctx.spark.read.format("packedcorpus").load(cfg.str("Path"))
      val missing = ctx.fields.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"PackedCorpus input: fields [${missing.mkString(", ")}] absent " +
          s"from the shard schema [${df.columns.mkString(", ")}]")
      // fail-loud channel presence: the DSv2 yields NULL arrays for a
      // channel the corpus was exported without, and array_join(null)
      // propagates null — a config-only audit would silently misread
      // channel ABSENCE as empty masks. Check the channel sidecars exist
      // under Path before the record model can launder the nulls.
      val wantChannels = Seq(
        "loss_mask" -> ".mask.idx", "segment_ids" -> ".seg.idx")
        .filter { case (f, _) => ctx.fields.contains(f) }
      if (wantChannels.nonEmpty) {
        val conf = ctx.spark.sessionState.newHadoopConf()
        val names = graft.sources.WarcSource
          .expand(Seq(cfg.str("Path")), conf, "packedcorpus")
          .map(f => new Path(f).getName)
        for ((field, suffix) <- wantChannels)
          require(names.exists(_.endsWith(suffix)),
            s"PackedCorpus input: field '$field' requested but the corpus " +
              s"at ${cfg.str("Path")} has no '$suffix' channel sidecars - " +
              "it was exported without that channel (re-export with " +
              "MaskField/SegField, or drop the field)")
      }
      def toStr(f: String) = f match {
        case "input_ids" | "segment_ids" => IdField.join(col(f)).as(f)
        case "loss_mask" => IdField.joinMask(col(f)).as(f)
        case "doc_start" => col(f).cast("int").cast("string").as(f)
        case other => col(other).cast("string").as(other)
      }
      df.select(ctx.fields.map(toStr): _*)
    })

  /** WARC — web-archive input (ISO 28500, the Common Crawl container):
    * the `warc` DataSource V2 ([[graft.sources.WarcSource]]) on the TOML
    * surface, so the single most common pretraining ingest runs as a
    * config topology — WARC → MainContent → quality gates → dedup →
    * TokenizeIds → PackRows → PackedShards is Common Crawl to trainer
    * shards with zero Scala. Declared `[fields]` select from the warc
    * schema by name (record_id, warc_type, target_uri, warc_date,
    * content_type, content_length, http_status, http_content_type,
    * payload, warc_file, warc_offset), cast into the string record model
    * (`payload` = the HTTP body decoded as UTF-8 — the raw HTML
    * [[mainContent]]/[[htmlExtract]] consume). Column pruning reaches
    * the byte level: a topology that never declares `payload`/`http_*`
    * skips every record body unread (a URL census over a crawl reads
    * headers only), and the `Types` filter drops non-matching records at
    * parse time before any row materializes.
    */
  val warcInput: InputDesc = InputDesc(
    "WARC",
    "Reads WARC (ISO 28500) web-archive files - the Common Crawl " +
      "container; declared [fields] select from the warc schema " +
      "(target_uri, payload, http_status, ...), payload decoded as " +
      "UTF-8 text; gzip/zstd member framing decompressed transparently. " +
      "Binary/non-UTF8 payloads are NEVER skipped: invalid byte " +
      "sequences surface as U+FFFD replacement characters in the " +
      "string record model, and entity-level Content-Encoding (a " +
      "gzip'd HTTP body) is NOT decompressed - gate on http_* headers " +
      "and handle binary payloads explicitly.",
    Seq(
      ConfigKey("Path", "WARC file, directory, or glob", required = true),
      ConfigKey("Types", "comma-separated WARC-Type filter; empty keeps " +
        "every record type", default = Some("response"))),
    (ctx, cfg) => {
      val reader = ctx.spark.read.format("warc")
      val types = cfg.str("Types").trim
      val df = (if (types.nonEmpty) reader.option("types", types) else reader)
        .load(cfg.str("Path"))
      val missing = ctx.fields.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"WARC input: fields [${missing.mkString(", ")}] absent from the " +
          s"warc schema [${df.columns.mkString(", ")}]")
      df.select(ctx.fields.map(f => col(f).cast("string").as(f)): _*)
    })

  /** stdin source for the List input's "-" entry; injectable for tests. */
  @volatile var stdinSource: () => java.io.InputStream = () => System.in

  /** Resolve the List input's Files entries: plain files, `-` (stdin),
    * http(s):// URLs, @listfiles, and recursive directory walks filtered by
    * MatchPath (list.go:89-164 openFile, :262-391 walks).
    *
    * stdin and http downloads are spooled to driver-local temp files (the
    * reference also drains them through one reader goroutine — neither
    * source is splittable, so neither engine parallelizes the read); the
    * file extension is preserved so gzip/zstd decompression still applies.
    * Note: `_metadata.file_path` (MetadataUrl) then reports the spool path,
    * not the original URL.
    */
  private def resolveListPaths(cfg: ComponentConfig): Seq[String] = {
    val matchPath = cfg.str("MatchPath").r
    val entries = cfg.strList("Files")
    def spool(in: java.io.InputStream, suffix: String): String = {
      val tmp = java.nio.file.Files.createTempFile("graft-list", suffix)
      try java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.toFile.deleteOnExit()
      tmp.toString
    }
    def suffixOf(name: String): String =
      if (name.endsWith(".gz")) ".gz" else if (name.endsWith(".zst")) ".zst" else ".log"
    val paths: Seq[String] = entries.flatMap {
      case "-" => Seq(spool(stdinSource(), ".log"))
      case e if e.startsWith("http://") || e.startsWith("https://") =>
        val url = java.net.URI.create(e).toURL
        Seq(spool(url.openStream(), suffixOf(url.getPath)))
      case e if e.startsWith("@") =>
        val listFile = e.substring(1)
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(listFile)), "UTF-8")
          .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      case e =>
        val f = new java.io.File(e)
        if (f.isDirectory) {
          def walk(d: java.io.File): Seq[String] =
            Option(d.listFiles()).toSeq.flatten.flatMap {
              case c if c.getName.startsWith(".") || c.getName.startsWith("_") => Nil
              case c if c.isDirectory => walk(c)
              case c if matchPath.findFirstIn(c.getPath).isDefined => Seq(c.getPath)
              case _ => Nil
            }
          walk(f)
        } else Seq(e)
    }
    require(paths.nonEmpty, s"List: no input files resolved from $entries")
    paths
  }

  /** LogLines — literal records for tests (reference: input/inputtest). */
  val logLinesInput: InputDesc = InputDesc(
    "LogLines",
    "Test input: literal CSV lines from the topology config.",
    Seq(ConfigKey("Lines", "CSV lines to emit", required = true)),
    (ctx, cfg) => {
      import scala.jdk.CollectionConverters._
      val sep = ctx.separator
      val rows = cfg.strList("Lines").map { line =>
        val parts = line.split(java.util.regex.Pattern.quote(sep), -1)
        val padded = parts.toIndexedSeq.padTo(ctx.fields.size, null).take(ctx.fields.size)
          .map(v => if (v == null || v.isEmpty) null else v)
        org.apache.spark.sql.Row(padded: _*)
      }
      ctx.spark.createDataFrame(rows.asJava, LogLineCsv.schema(ctx.fields))
    },
  )

  /** Random — deterministic random records (reference: input/inputtest/random.go:12-82). */
  val randomInput: InputDesc = InputDesc(
    "Random",
    "Test input: N deterministic pseudo-random records (seeded).",
    Seq(
      ConfigKey("NumRecords", "how many records to emit", default = Some(1000L)),
      ConfigKey("Seed", "PRNG seed", default = Some(42L)),
    ),
    (ctx, cfg) => {
      val n = cfg.int("NumRecords")
      val seed = cfg.int("Seed")
      val base = ctx.spark.range(n)
      val cols = ctx.fields.zipWithIndex.map { case (f, i) =>
        abs(xxhash64(col("id") + lit(seed * 1000003L + i))).cast("string").as(f)
      }
      base.select(cols: _*)
    },
  )

  // ===================== filters =====================

  val clauseFilter: FilterDesc = FilterDesc("ClauseFilter",
    "Keeps records matching a boolean s-expression over (field value) atoms.",
    Seq(ConfigKey("Clause", "Boolean formula describing which events to let through. " +
      "If empty, let everything through.", default = Some(""))),
    (_, cfg) => Filters.Clause(cfg.str("Clause")),
    mutating = false)

  val clearFields: FilterDesc = FilterDesc("ClearFields",
    "Resets (clears) the value of the specified fields.",
    Seq(ConfigKey("Fields", "set of fields to clear", required = true)),
    (_, cfg) => Filters.ClearFields(cfg.strList("Fields")))

  val concatenate: FilterDesc = FilterDesc("Concatenate",
    "Concatenates up to 10 field values into a target field.",
    Seq(
      ConfigKey("Fields", "The field names to concatenate, in order", required = true),
      ConfigKey("Target", "The field name to save the concatenated value to", required = true),
      ConfigKey("Separator", "Separator between values (empty or 1 ASCII char)",
        default = Some(""))),
    (_, cfg) => Filters.Concatenate(cfg.strList("Fields"), cfg.str("Target"),
      cfg.str("Separator")))

  val countAndTag: FilterDesc = FilterDesc("CountAndTag",
    "Publishes a counter metric of records passing through, tagged by a field's value.",
    Seq(
      ConfigKey("Metric", "Name of the counter metric", required = true),
      ConfigKey("Field", "Field whose value breaks down the metric by tag", required = true),
      ConfigKey("DefaultValue", "Tag value used when the field is empty", required = true)),
    (_, cfg) => Filters.CountAndTag(cfg.str("Field"), cfg.str("Metric"),
      cfg.str("DefaultValue")),
    mutating = false)

  val crypt: FilterDesc = FilterDesc("Crypt",
    "Encrypts or decrypts a field (fernet); records failing decryption are discarded.",
    Seq(
      ConfigKey("Algorithm", "Crypto algorithm (fernet)", required = true),
      ConfigKey("Decrypt", "True to decrypt, false to encrypt", default = Some(false)),
      ConfigKey("SrcField", "Field to crypt/decrypt", required = true),
      ConfigKey("DstField", "Field to write the result to", required = true),
      ConfigKey("AlgorithmConfig", "algorithm options: key (base64url, 32 bytes), ttl (sec)")),
    (_, cfg) => {
      require(cfg.str("Algorithm").equalsIgnoreCase("fernet"),
        s"Crypt: unsupported algorithm '${cfg.str("Algorithm")}' (only fernet)")
      // reference reads 'Key'/'TTL' (crypt.go:44-58); accept any case like
      // the rest of the case-insensitive config convention
      val ac = cfg.strMap("AlgorithmConfig").map { case (k, v) => k.toLowerCase -> v }
      val key = ac.getOrElse("key",
        throw new IllegalArgumentException("Crypt: AlgorithmConfig.Key required"))
      val src = cfg.str("SrcField"); val dst = cfg.str("DstField")
      if (cfg.bool("Decrypt")) { df =>
        // decrypt failure drops the record (crypt.go:96-102)
        df.withColumn(dst, Fernet.decryptCol(key, ac.getOrElse("ttl", "0").toLong)(col(src)))
          .filter(col(dst).isNotNull || col(src).isNull)
      } else { df =>
        df.withColumn(dst, Fernet.encryptCol(key)(col(src)))
      }
    })

  val dedup: FilterDesc = FilterDesc("Dedup",
    "Discards records whose joined key of chosen fields was already seen.",
    Seq(
      ConfigKey("Fields", "fields to consider when comparing records", required = true),
      ConfigKey("KeySeparator",
        "character separator used to build a key from the fields",
        default = Some("\\x1e"))),
    (_, cfg) => {
      val raw = cfg.str("KeySeparator")
      // accept both a literal 1-byte separator and the \xNN escape the
      // reference uses as its default help text (dedup.go:32, :66-69)
      val sep =
        if (raw.matches("\\\\x[0-9a-fA-F]{2}"))
          Integer.parseInt(raw.substring(2), 16).toChar.toString
        else raw
      require(sep.length == 1 && sep.head <= 0x7f,
        "Dedup: separator must be a 1-byte string or hex char")
      Filters.Dedup(cfg.strList("Fields"), sep)
    },
    mutating = false)

  val expandJson: FilterDesc = FilterDesc("ExpandJSON",
    "Extracts JSON values into fields via <JMESPath -> field> mappings.",
    Seq(
      ConfigKey("Source", "record field that contains the json", required = true),
      ConfigKey("Fields", "<JMESPath -> record field> map", required = true),
      ConfigKey("TrueFalseValues", "strings bound to json true/false",
        default = Some(Seq("true", "false"))),
      ConfigKey("VerbatimNumbers", "preserve number text exactly (UseNumber parity)",
        default = Some(false))),
    (_, cfg) => {
      val tf = cfg.strList("TrueFalseValues")
      Filters.ExpandJSON(cfg.str("Source"), cfg.strMap("Fields"),
        (tf.headOption.getOrElse("true"), tf.lift(1).getOrElse("false")),
        cfg.bool("VerbatimNumbers"))
    })

  val expandList: FilterDesc = FilterDesc("ExpandList",
    "Splits a list-valued field and maps list indexes to fields.",
    Seq(
      ConfigKey("Source", "record field that contains the list", required = true),
      ConfigKey("Fields", "<list index -> record field> map", required = true),
      ConfigKey("Separator", "character separator of the list", default = Some(";"))),
    (_, cfg) => Filters.ExpandList(cfg.str("Source"),
      cfg.strMap("Fields").map { case (i, f) => i.toInt -> f },
      cfg.str("Separator")))

  val externalMatch: FilterDesc = FilterDesc("ExternalMatch",
    "Keeps or discards records whose field value appears in external CSV value sets.",
    Seq(
      ConfigKey("Files", "CSV file URL(s) with the strings to match", required = true),
      ConfigKey("CSVColumn", "0-based CSV column with the values", default = Some(0L)),
      ConfigKey("FieldName", "record field to match", required = true),
      ConfigKey("KeepOnMatch", "true: keep matches; false: discard matches",
        default = Some(false)),
      ConfigKey("Region", "AWS region for s3:// files", default = Some("us-west-2")),
      ConfigKey("DateTimeLayout", "date layout substituted into Files"),
      ConfigKey("TimeSubtract", "duration subtracted from now for DateTimeLayout"),
      ConfigKey("RefreshEvery", "refresh period (streaming: re-read per batch)")),
    (ctx, cfg) => {
      ZstdCodec.register(ctx.spark)
      val colIx = cfg.int("CSVColumn").toInt
      val files = cfg.strList("Files").map(_.stripPrefix("file://"))
      val values = ctx.spark.read.option("quote", "\u0000").csv(files: _*)
      val vcol = values.columns(colIx)
      Filters.ExternalMatch(cfg.str("FieldName"), values.select(col(vcol)),
        cfg.bool("KeepOnMatch"))
    },
    mutating = false)

  val formatTime: FilterDesc = FilterDesc("FormatTime",
    "Re-formats a time field between layouts (Go named layouts, unix/unixms/unixns).",
    Seq(
      ConfigKey("SrcField", "Field name of the input time", required = true),
      ConfigKey("DstField", "Field name of the output time", required = true),
      ConfigKey("SrcFormat", "Format of the input time", default = Some("UnixDate")),
      ConfigKey("DstFormat", "Format of the output time", default = Some("unixms"))),
    (_, cfg) => Filters.FormatTime(cfg.str("SrcField"), cfg.str("DstField"),
      cfg.str("SrcFormat"), cfg.str("DstFormat")))

  val hash: FilterDesc = FilterDesc("Hash",
    "Hashes a field (md5/sha256, hex-encoded) into another field.",
    Seq(
      ConfigKey("SrcField", "Name of the field to hash", required = true),
      ConfigKey("DstField", "Name of the field to write the result to", required = true),
      ConfigKey("Function", "Hash function (md5 or sha256)", required = true),
      ConfigKey("Encoding", "Encoding of the digest; must be \"hex\" — the " +
        "reference's default (no Encoding) writes RAW digest bytes " +
        "(hash.go:82-91), which a string-typed record cannot carry, so " +
        "leaving it unset fails loudly instead of silently hex-encoding")),
    (_, cfg) => {
      cfg.strOpt("Encoding") match {
        case Some("hex") => ()
        case Some(other) => throw new IllegalArgumentException(
          s"Hash: unsupported encoding '$other' (only hex)")
        case None => throw new IllegalArgumentException(
          "Hash: set Encoding = \"hex\" — the reference's default (raw digest " +
            "bytes) is unrepresentable on string records; this build refuses " +
            "to silently substitute hex")
      }
      Filters.Hash(cfg.str("SrcField"), cfg.str("DstField"), cfg.str("Function"))
    })

  val metadataLastModified: FilterDesc = FilterDesc("MetadataLastModified",
    "Copies the source file's last-modified time (unix seconds) into a field.",
    Seq(ConfigKey("DstField", "Field to write the timestamp to", required = true)),
    (_, cfg) => Filters.MetadataLastModified(cfg.str("DstField")))

  val metadataUrl: FilterDesc = FilterDesc("MetadataUrl",
    "Copies the source file URL into a field.",
    Seq(ConfigKey("DstField", "Field to write the url to", required = true)),
    (_, cfg) => Filters.MetadataUrl(cfg.str("DstField")))

  val notNull: FilterDesc = FilterDesc("NotNull",
    "Discards records with null/empty values in any of the given fields.",
    Seq(ConfigKey("Fields", "fields to check for null/empty values", required = true)),
    (_, cfg) => Filters.NotNull(cfg.strList("Fields")),
    mutating = false)

  val partialClone: FilterDesc = FilterDesc("PartialClone",
    "Emits a new record containing only the listed fields.",
    Seq(ConfigKey("Fields", "Fields that must be copied to the new record", required = true)),
    (_, cfg) => Filters.PartialClone(cfg.strList("Fields")))

  val regexMatch: FilterDesc = FilterDesc("RegexMatch",
    "Keeps records where every field matches its corresponding regex.",
    Seq(
      ConfigKey("Fields", "fields to match", default = Some(Seq.empty[String])),
      ConfigKey("Regexs", "regular expressions, positionally paired with Fields",
        default = Some(Seq.empty[String])),
      ConfigKey("InvertMatch", "discard records if any field matches",
        default = Some(false))),
    (_, cfg) => {
      val fields = cfg.strList("Fields")
      val regexs = cfg.strList("Regexs")
      require(fields.size == regexs.size, "RegexMatch: Fields and Regexs sizes differ")
      Filters.RegexMatch(fields.zip(regexs), cfg.bool("InvertMatch"))
    },
    mutating = false)

  val replaceFields: FilterDesc = FilterDesc("ReplaceFields",
    "Copies fields onto other fields and/or sets fields to fixed values.",
    Seq(
      ConfigKey("CopyFields", "flat [src1, dst1, src2, dst2, ...] pairs",
        default = Some(Seq.empty[String])),
      ConfigKey("ReplaceFields", "flat [value1, dst1, value2, dst2, ...] pairs",
        default = Some(Seq.empty[String]))),
    (_, cfg) => {
      def pairs(key: String): Seq[(String, String)] = {
        val l = cfg.strList(key)
        require(l.size % 2 == 0, s"ReplaceFields: $key must have an even number of entries")
        l.grouped(2).map(p => (p(0), p(1))).toSeq
      }
      Filters.ReplaceFields(copies = pairs("CopyFields"), literals = pairs("ReplaceFields"))
    })

  val setStringFromUrl: FilterDesc = FilterDesc("SetStringFromURL",
    "Sets a field to the first configured string found in the source URL; " +
      "discards records containing none.",
    Seq(
      ConfigKey("Field", "Name of the field to set", required = true),
      ConfigKey("Strings", "Strings to look for in the URL", required = true)),
    (_, cfg) => Filters.SetStringFromURL(cfg.str("Field"), cfg.strList("Strings")))

  val slice: FilterDesc = FilterDesc("Slice",
    "Copies src[StartIdx:EndIdx] into dst, clamped to the value length.",
    Seq(
      ConfigKey("Src", "The source field to slice", required = true),
      ConfigKey("Dst", "The destination field", required = true),
      ConfigKey("StartIdx", "slice start", default = Some(0L)),
      ConfigKey("EndIdx", "slice end (default: end of value)",
        default = Some(Int.MaxValue.toLong))),
    (_, cfg) => Filters.Slice(cfg.str("Src"), cfg.str("Dst"),
      cfg.int("StartIdx").toInt, cfg.int("EndIdx").toInt))

  val stringMatch: FilterDesc = FilterDesc("StringMatch",
    "Discards records whose field equals any of the strings (InvertMatch keeps them).",
    Seq(
      ConfigKey("Field", "field compared against the strings", required = true),
      ConfigKey("Strings", "list of strings to match", required = true),
      ConfigKey("InvertMatch", "keep only matching records", default = Some(false))),
    (_, cfg) => Filters.StringMatch(cfg.str("Field"), cfg.strList("Strings"),
      cfg.bool("InvertMatch")),
    mutating = false)

  val timestampF: FilterDesc = FilterDesc("Timestamp",
    "Sets a field to the processing-time unix timestamp.",
    Seq(ConfigKey("Field", "field to set to the unix Epoch timestamp", required = true)),
    (_, cfg) => Filters.Timestamp(cfg.str("Field")))

  val timestampRange: FilterDesc = FilterDesc("TimestampRange",
    "Keeps records whose epoch field is within [StartDatetime, EndDatetime).",
    Seq(
      ConfigKey("StartDatetime", "inclusive lower bound 'YYYY-MM-DD HH:MM:SS' or 'now'",
        required = true),
      ConfigKey("EndDatetime", "exclusive upper bound 'YYYY-MM-DD HH:MM:SS' or 'now'",
        required = true),
      ConfigKey("Field", "field containing the Unix EPOCH timestamp", required = true)),
    (_, cfg) => {
      def bound(s: String): Long = s.trim match {
        case "now" => System.currentTimeMillis() / 1000
        case d => java.time.LocalDateTime
          .parse(d, java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
          .toEpochSecond(ZoneOffset.UTC)
      }
      Filters.TimestampRange(cfg.str("Field"),
        bound(cfg.str("StartDatetime")), bound(cfg.str("EndDatetime")))
    },
    mutating = false)

  val urlEscape: FilterDesc = FilterDesc("URLEscape",
    "Percent-encodes (or decodes) a field into another field.",
    Seq(
      ConfigKey("SrcField", "field with the URL to escape/unescape", required = true),
      ConfigKey("DstField", "field to write the result to", required = true),
      ConfigKey("Unescape", "unescape instead of escaping", default = Some(false))),
    (_, cfg) => Filters.URLEscape(cfg.str("SrcField"), cfg.str("DstField"),
      cfg.bool("Unescape")))

  val urlParam: FilterDesc = FilterDesc("URLParam",
    "Extracts a query parameter from a URL field.",
    Seq(
      ConfigKey("SrcField", "field containing the url", required = true),
      ConfigKey("DstField", "field to save the extracted param", required = true),
      ConfigKey("Param", "name of the url parameter to extract", required = true)),
    (_, cfg) => Filters.URLParam(cfg.str("SrcField"), cfg.str("DstField"), cfg.str("Param")))

  // --- extension filters (beyond the reference registry): the LLM-pipeline
  // text ops exposed as ordinary TOML components ---

  val gopherQuality: FilterDesc = FilterDesc("GopherQuality",
    "Drops records whose text field fails the Gopher-style repetition/shape " +
      "quality gate (word count, mean word length, duplicate-bigram fraction).",
    Seq(
      ConfigKey("Field", "field holding the document text", required = true),
      ConfigKey("MinWords", "minimum word count", default = Some(10L)),
      ConfigKey("MaxWords", "maximum word count", default = Some(100000L)),
      ConfigKey("MaxDupBigram", "maximum duplicate-bigram fraction", default = Some("0.9"))),
    (_, cfg) => df => df.filter(graft.functions.TextFunctions.gopherPasses(
      col(cfg.str("Field")), cfg.int("MinWords"), cfg.int("MaxWords"),
      cfg.str("MaxDupBigram").toDouble)),
    mutating = false)

  val redactPii: FilterDesc = FilterDesc("RedactPii",
    "Replaces emails, IPv4 addresses and phone-like digit runs in a field " +
      "with typed placeholder tokens.",
    Seq(
      ConfigKey("SrcField", "field to scrub", required = true),
      ConfigKey("DstField", "field to store the scrubbed text (may equal SrcField)",
        required = true)),
    (_, cfg) => df => df.withColumn(cfg.str("DstField"),
      graft.functions.TextFunctions.redactPii(col(cfg.str("SrcField")))))

  val normalizeText: FilterDesc = FilterDesc("NormalizeText",
    "Lowercases a text field and collapses every non-alphanumeric run to a " +
      "single space (canonical training-corpus normalization).",
    Seq(
      ConfigKey("SrcField", "field to normalize", required = true),
      ConfigKey("DstField", "field to store the normalized text (may equal SrcField)",
        required = true)),
    (_, cfg) => df => df.withColumn(cfg.str("DstField"),
      graft.functions.TextFunctions.normalizeText(col(cfg.str("SrcField")))))

  val fimTransform: FilterDesc = FilterDesc("FimTransform",
    "Rewrites a hash-selected fraction of records' text field into the " +
      "fill-in-the-middle PSM layout (PRE+prefix+SUF+suffix+MID+middle, " +
      "Bavarian et al. 2022); selection and split points derive from " +
      "md5(seed|key), so the transform is deterministic and " +
      "partition-independent.",
    Seq(
      ConfigKey("Field", "text field to transform in place", required = true),
      ConfigKey("KeyField", "unique key field driving the hash", required = true),
      ConfigKey("Seed", "hash seed", required = true),
      ConfigKey("Rate", "fraction of records transformed", default = Some("0.5")),
      ConfigKey("PreToken", "prefix sentinel", default = Some("<PRE>")),
      ConfigKey("SufToken", "suffix sentinel", default = Some("<SUF>")),
      ConfigKey("MidToken", "middle sentinel", default = Some("<MID>"))),
    (_, cfg) => df => df.withColumn(cfg.str("Field"),
      graft.functions.TextFunctions.fimTransform(
        col(cfg.str("Field")), col(cfg.str("KeyField")), cfg.str("Seed"),
        cfg.str("Rate").toDouble, cfg.str("PreToken"),
        cfg.str("SufToken"), cfg.str("MidToken"))))

  val decontaminate: FilterDesc = FilterDesc("Decontaminate",
    "Drops records whose text field contains any configured benchmark phrase " +
      "as a contiguous normalized-token run (n-gram eval-set decontamination). " +
      "Per-row containment scan — right for a TOML phrase list; for large " +
      "benchmark sets use graft.llm.Decontaminate's broadcast n-gram join.",
    Seq(
      ConfigKey("Field", "field holding the document text", required = true),
      ConfigKey("Phrases", "benchmark phrases to ban", required = true)),
    (_, cfg) => df => {
      val phrases = cfg.strList("Phrases")
        .map(graft.llm.Decontaminate.normalizePhrase).filter(_.nonEmpty).distinct
      require(phrases.nonEmpty, "Decontaminate: Phrases must be non-empty")
      val padded = concat(lit(" "),
        graft.functions.TextFunctions.normalizeText(col(cfg.str("Field"))), lit(" "))
      df.filter(!phrases.map(p => padded.contains(lit(s" $p "))).reduce(_ || _))
    },
    mutating = false)

  val c4Clean: FilterDesc = FilterDesc("C4Clean",
    "C4-style page cleaning: keeps only lines ending in terminal punctuation " +
      "with at least MinWords words and no javascript/brace markers, writing " +
      "the surviving lines to DstField. With Gate=true also drops records " +
      "failing the page gate (lorem ipsum anywhere, or fewer than MinKept " +
      "surviving lines).",
    Seq(
      ConfigKey("SrcField", "field holding the newline-separated page text",
        required = true),
      ConfigKey("DstField", "field to store the cleaned text (may equal SrcField)",
        required = true),
      ConfigKey("MinWords", "minimum words per kept line", default = Some("5")),
      ConfigKey("MinKept", "page gate: minimum surviving lines", default = Some("3")),
      ConfigKey("Gate", "drop records failing the page gate", default = Some("false"))),
    (_, cfg) => df => {
      val minWords = cfg.int("MinWords").toInt
      val src = col(cfg.str("SrcField"))
      // gate FIRST, on the original page: when DstField == SrcField the
      // withColumn overwrite would otherwise hide dropped lines (e.g. a
      // "lorem ipsum" line without terminal punctuation) from the gate
      val gated = if (cfg.bool("Gate"))
        df.filter(graft.functions.TextFunctions.c4Passes(src,
          cfg.int("MinKept").toInt, minWords))
      else df
      gated.withColumn(cfg.str("DstField"),
        array_join(graft.functions.TextFunctions.c4KeptLines(src, minWords), "\n"))
    })

  val htmlExtract: FilterDesc = FilterDesc("HtmlExtract",
    "WET-style HTML extraction: strips script/style/comments and tags, " +
      "decodes named entities, collapses whitespace into DstField; " +
      "optionally also extracts the <title> (TitleField) and the " +
      "href-link count (LinksField) for link-density gating.",
    Seq(
      ConfigKey("SrcField", "field holding the raw HTML", required = true),
      ConfigKey("DstField", "field to store the visible text (may equal SrcField)",
        required = true),
      ConfigKey("TitleField", "optional field for the <title> text"),
      ConfigKey("LinksField", "optional field for the href count (as a string)")),
    (_, cfg) => df => {
      val src = col(cfg.str("SrcField"))
      // derive title/links BEFORE DstField overwrites a shared column
      val withTitle = cfg.strOpt("TitleField").fold(df)(f =>
        df.withColumn(f, graft.functions.TextFunctions.htmlTitle(src)))
      val withLinks = cfg.strOpt("LinksField").fold(withTitle)(f =>
        withTitle.withColumn(f,
          graft.functions.TextFunctions.htmlLinkCount(src).cast("string")))
      withLinks.withColumn(cfg.str("DstField"),
        graft.functions.TextFunctions.htmlToText(src))
    })

  val pdfExtract: FilterDesc = FilterDesc("PdfExtract",
    "Extracts visible text from a base64-encoded PDF payload field (e.g. " +
      "a WebDataset BinaryFields member): content streams walked " +
      "pure-JVM, FlateDecode inflated, show-text collected between " +
      "BT/ET. Records whose payload is not a PDF with text DROP unless " +
      "KeepUndecodable (then DstField is empty).",
    Seq(
      ConfigKey("SrcField", "base64-encoded PDF payload field", required = true),
      ConfigKey("DstField", "field for the extracted text (may equal SrcField)",
        required = true),
      ConfigKey("KeepUndecodable", "keep non-PDF records with empty DstField",
        default = Some(false))),
    (_, cfg) => df => graft.llm.Pdf.withPdfText(df, cfg.str("SrcField"),
      cfg.str("DstField"), cfg.bool("KeepUndecodable")))

  val mainContent: FilterDesc = FilterDesc("MainContent",
    "Readability-style main-content extraction: segments HTML into blocks " +
      "at block-level tags and keeps only prose-like blocks (at least " +
      "MinLength visible characters AND link density at most " +
      "MaxLinkDensity); DstField receives the surviving blocks joined by " +
      "newlines — run this BEFORE C4Clean/GopherQuality so the quality " +
      "stack never scores nav/cookie/footer boilerplate.",
    Seq(
      ConfigKey("SrcField", "field holding the raw HTML", required = true),
      ConfigKey("DstField", "field for the extracted main text (may equal SrcField)",
        required = true),
      ConfigKey("MinLength", "minimum visible characters for a block to survive",
        default = Some("30")),
      ConfigKey("MaxLinkDensity",
        "maximum anchor-text chars / visible chars for a block to survive",
        default = Some("0.33"))),
    (_, cfg) => df => {
      val minLen = cfg.int("MinLength").toInt
      val maxLd = cfg.dbl("MaxLinkDensity")
      require(minLen >= 0, s"MainContent: MinLength must be >= 0: $minLen")
      require(maxLd >= 0.0 && maxLd <= 1.0,
        s"MainContent: MaxLinkDensity must be in [0,1]: $maxLd")
      df.withColumn(cfg.str("DstField"),
        graft.functions.TextFunctions.htmlMainText(
          col(cfg.str("SrcField")), minLen, maxLd))
    })

  val bpeEncode: FilterDesc = FilterDesc("BpeEncode",
    "Byte-pair encodes a text field under a fixed merge table (rules as " +
      "\"a b\" strings in learned order, e.g. from graft.llm.Bpe.train). " +
      "DstField receives the paren-form tokenization; CountField (optional) " +
      "the symbol count — the token budget column packing/mixing consume.",
    Seq(
      ConfigKey("SrcField", "field holding the text", required = true),
      ConfigKey("DstField", "field for the encoded form (may equal SrcField)",
        required = true),
      ConfigKey("Merges", "merge rules, each \"left right\"", required = true),
      ConfigKey("CountField", "optional field for the symbol count")),
    (_, cfg) => df => {
      val merges = cfg.strList("Merges").map { m =>
        val parts = m.split(" ", 2)
        require(parts.length == 2 && parts.forall(_.nonEmpty),
          s"BpeEncode: bad merge rule '$m' (want \"left right\")")
        (parts(0), parts(1))
      }
      require(merges.nonEmpty, "BpeEncode: Merges must be non-empty")
      val enc = graft.llm.Bpe.encodeText(col(cfg.str("SrcField")), merges)
      val out = df.withColumn(cfg.str("DstField"), enc)
      cfg.strOpt("CountField") match {
        case Some(cf) => out.withColumn(cf,
          graft.llm.Bpe.symbolCount(col(cfg.str("DstField"))))
        case None => out
      }
    })

  /** SqlExpr / SqlWhere — the escape hatch every config-driven engine
    * grows eventually, done the Spark-native way: the TOML carries ONE SQL
    * expression string, compiled by Spark's own parser into the same
    * Catalyst tree a Column program would build (codegen'd, optimizer-
    * visible — NOT an interpreted per-row eval), with the whole builtin
    * function library plus the registered graft_* functions available.
    * Parse/resolution errors surface at topology compile time, not
    * per-record.
    */
  val sqlExpr: FilterDesc = FilterDesc("SqlExpr",
    "Sets DstField to the value of a SQL expression over the record's " +
      "fields (full Spark SQL function library + graft_* functions).",
    Seq(
      ConfigKey("Expr", "SQL expression, e.g. \"concat(upper(a), '-', b)\"",
        required = true),
      ConfigKey("DstField", "field receiving the expression value", required = true)),
    (ctx, cfg) => df => {
      graft.GraftFunctions.register(ctx.spark)
      df.withColumn(cfg.str("DstField"),
        expr(cfg.str("Expr")).cast("string"))
    })

  val sqlWhere: FilterDesc = FilterDesc("SqlWhere",
    "Keeps records where a SQL boolean expression over the record's " +
      "fields is true (full Spark SQL function library + graft_* functions).",
    Seq(ConfigKey("Where", "SQL predicate, e.g. \"cast(stars as double) >= 4\"",
      required = true)),
    (ctx, cfg) => df => {
      graft.GraftFunctions.register(ctx.spark)
      df.filter(expr(cfg.str("Where")))
    },
    mutating = false)

  val canonicalUrl: FilterDesc = FilterDesc("CanonicalUrl",
    "Rewrites a URL field to its canonical form (lowercase scheme/host, no " +
      "fragment, no default port, tracking params dropped, query params " +
      "sorted, trailing path slash normalized) — the URL-level dedup key " +
      "of a web-crawl pipeline.",
    Seq(
      ConfigKey("SrcField", "field holding the URL", required = true),
      ConfigKey("DstField", "field for the canonical URL (may equal SrcField)",
        required = true)),
    (_, cfg) => df => df.withColumn(cfg.str("DstField"),
      graft.functions.TextFunctions.canonicalUrl(col(cfg.str("SrcField")))))

  val blockDomains: FilterDesc = FilterDesc("BlockDomains",
    "Discards records whose URL field's host equals or is a subdomain of " +
      "any blocklist domain (whole-label matching: tracker.com blocks " +
      "ads.tracker.com, never nottracker.com) — the C4/RefinedWeb " +
      "URL-filter curation step.",
    Seq(
      ConfigKey("Field", "field holding the URL", required = true),
      ConfigKey("Domains", "comma list of blocked domains"),
      ConfigKey("DomainsFile", "file URL(s), one domain per line, # comments " +
        "(set Domains and/or DomainsFile)", default = Some(Seq.empty[String])),
      ConfigKey("KeepOnMatch", "true: keep ONLY blocked records (audit mode)",
        default = Some(false))),
    (ctx, cfg) => {
      val inline = cfg.strOpt("Domains").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val fromFiles = cfg.strList("DomainsFile")
        .map(_.stripPrefix("file://")) match {
        case Nil => Nil
        case files =>
          // a blocklist is driver-collectable by nature (domains, not docs);
          // it ships to executors as ONE hash set inside the expression
          ctx.spark.read.textFile(files: _*).collect().toSeq
            .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      }
      val domains = inline ++ fromFiles
      require(domains.nonEmpty,
        "BlockDomains: set Domains and/or DomainsFile (empty blocklist)")
      val keepOnMatch = cfg.bool("KeepOnMatch")
      df => {
        val hit = graft.functions.TextFunctions.domainBlocked(col(cfg.str("Field")), domains)
        df.filter(if (keepOnMatch) hit else !hit)
      }
    },
    mutating = false)

  val assignSplit: FilterDesc = FilterDesc("AssignSplit",
    "Labels each record with a deterministic train/valid/test (or any) " +
      "split, chosen by hashing a key field — stable across runs, " +
      "partitionings, and retries.",
    Seq(
      ConfigKey("KeyField", "field hashed to pick the split", required = true),
      ConfigKey("Seed", "salt mixed into the hash", default = Some("split")),
      ConfigKey("Splits", "comma list of name:weight (weights sum to 1)",
        default = Some("train:0.8,valid:0.1,test:0.1")),
      ConfigKey("DstField", "field receiving the split name",
        default = Some("split"))),
    (_, cfg) => {
      val splits = cfg.str("Splits")
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
          part.split(":") match {
            case Array(n, w) => n.trim -> w.trim.toDouble
            case _ => throw new IllegalArgumentException(
              s"AssignSplit: malformed Splits entry '$part' (want name:weight)")
          }
        }
      df => graft.llm.Mix.assignSplits(df, col(cfg.str("KeyField")),
        cfg.str("Seed"), splits, cfg.str("DstField"))
    })

  val chunkText: FilterDesc = FilterDesc("ChunkText",
    "Explodes each record into overlapping token-window chunks of a text " +
      "field (RAG ingestion): the chunk replaces the field, the 0-based " +
      "window index lands in IndexField. Map-only.",
    Seq(
      ConfigKey("Field", "text field to chunk (replaced by the chunk)",
        required = true),
      ConfigKey("Width", "tokens per chunk", default = Some(256L)),
      ConfigKey("Overlap", "tokens shared with the previous chunk",
        default = Some(0L)),
      ConfigKey("IndexField", "field receiving the chunk index",
        default = Some("chunk_ix"))),
    (_, cfg) => { df =>
      val ix = cfg.str("IndexField")
      graft.llm.Chunk.chunkField(df, cfg.str("Field"),
          cfg.int("Width").toInt, cfg.int("Overlap").toInt, ix)
        .withColumn(ix, col(ix).cast("string")) // schema-lite string fields
    })

  val sentenceChunk: FilterDesc = FilterDesc("SentenceChunk",
    "Explodes each record into its sentences (deterministic list-free " +
      "terminal-punctuation boundary rule): the sentence replaces the " +
      "field, the 0-based sentence index lands in IndexField. Map-only.",
    Seq(
      ConfigKey("Field", "text field to segment (replaced by the sentence)",
        required = true),
      ConfigKey("IndexField", "field receiving the sentence index",
        default = Some("sentence_ix"))),
    (_, cfg) => { df =>
      val f = cfg.str("Field")
      val ix = cfg.str("IndexField")
      val out = df.columns
      df.select(out.filterNot(c => c == f || c == ix).map(col) :+
          posexplode(graft.functions.TextFunctions.sentences(col(f)))
            .as(Seq(ix, f)): _*)
        .withColumn(ix, col(ix).cast("string")) // schema-lite string fields
        .select((out.filterNot(_ == ix) :+ ix).map(col): _*)
    })

  val domainCap: FilterDesc = FilterDesc("DomainCap",
    "Keeps at most N records per group (e.g. per domain/source), best " +
      "first by a rank field (string order ascending, ties by IdField) — " +
      "a bounded top-k per key, never a global window.",
    Seq(
      ConfigKey("GroupField", "field defining the group (domain, source)",
        required = true),
      ConfigKey("IdField", "unique id field (tie-break + row recovery)",
        required = true),
      ConfigKey("N", "max records kept per group", default = Some(1000L)),
      ConfigKey("RankField", "field ranked ascending (defaults to IdField)")),
    (_, cfg) => {
      val id = cfg.str("IdField")
      val rank = cfg.strOpt("RankField").getOrElse(id)
      val n = cfg.int("N").toInt
      df => graft.llm.Mix.capPerKey(df, col(cfg.str("GroupField")),
        struct(col(rank).as("r"), col(id).as("i")), id, n)
    },
    mutating = false)

  val quantileGate: FilterDesc = FilterDesc("QuantileFilter",
    "Drops the bottom Drop fraction of records per group, ranked by a " +
      "numeric score field with the cut derived from the data (per-group " +
      "discrete quantile over micro-unit-scaled scores; ties at the cut " +
      "drop together) — never a global sort.",
    Seq(
      ConfigKey("GroupField", "field defining the stratum (e.g. lang)",
        required = true),
      ConfigKey("ScoreField", "numeric field ranked (parsed as double)",
        required = true),
      ConfigKey("Drop", "fraction of each group to drop, in (0,1)",
        default = Some(0.5)),
      ConfigKey("Scale", "micro-unit scale applied before the integer quantile",
        default = Some(10000L))),
    (_, cfg) => { df =>
      // loud cast (the NearDupDedup KeepBest treatment): a non-numeric
      // score STRING casts to null, and a null score fails the `>`
      // threshold — on a config surface that's a typo'd field silently
      // dropping records, so fail the job instead. Genuinely-ABSENT
      // scores (null, or '' — the record model's empty) still drop: an
      // unrankable row can't clear a data-derived cut.
      val scoreField = cfg.str("ScoreField")
      val absent = col(scoreField).isNull ||
        trim(col(scoreField).cast("string")) === ""
      val dbl = when(!absent && col(scoreField).cast("double").isNull,
        raise_error(concat(lit(s"QuantileFilter: ScoreField '$scoreField' " +
          "holds a non-numeric value: "), col(scoreField).cast("string"))))
        .otherwise(col(scoreField).cast("double"))
      val scoreInt = round(dbl * cfg.int("Scale")).cast("long")
      graft.llm.Mix.quantileFilter(df, col(cfg.str("GroupField")), scoreInt,
        cfg.dbl("Drop"))
    },
    mutating = false)

  /** NearDupDedup — corpus-wide near-duplicate removal as a TOML filter,
    * so a topology user gets the verified MinHash-LSH dedup without
    * leaving the config surface. Row-dropping only (mutating = false —
    * stays on the raw fast path). Both modes run one decider,
    * [[graft.llm.Dedup.incrementalKeptAndSigs]]: with StoreSigs/StoreCorpus
    * set it dedupes against an at-rest signature store (READ-ONLY here — the
    * store's maintaining writer is
    * [[graft.streaming.IncrementalDedupStream]] or a batch job around
    * [[graft.llm.Dedup.minhashSignatures]]); store ids are compared as
    * strings to match the topology's schema-lite string fields.
    */
  private val nearDupInput = new graft.core.Cached.Slot

  val nearDupDedup: FilterDesc = FilterDesc("NearDupDedup",
    "Drops near-duplicate records: banded MinHash-LSH candidates verified " +
      "by exact shingle-Jaccard; a record dies when a record with a " +
      "smaller IdField (string order) — or any record in the optional " +
      "at-rest store — verifies >= Threshold against it.",
    Seq(
      ConfigKey("IdField", "unique id field; the smaller value survives",
        required = true),
      ConfigKey("Field", "field holding the document text", required = true),
      ConfigKey("Threshold", "exact-jaccard kill threshold", default = Some("0.7")),
      ConfigKey("NumPerm", "MinHash permutations", default = Some(64L)),
      ConfigKey("Bands", "LSH bands (NumPerm % Bands == 0)", default = Some(16L)),
      ConfigKey("ShingleK", "word-shingle width", default = Some(3L)),
      ConfigKey("MaxBucketSize", "skew fuse: drop hotter band buckets (0 = off)",
        default = Some(0L)),
      ConfigKey("KeepBest", "numeric field ranking duplicates: clusters form " +
        "transitively and each keeps its HIGHEST-value record (ties: smaller " +
        "id) instead of the pairwise smaller-id rule; batch mode only"),
      ConfigKey("StoreSigs", "optional parquet dir of at-rest (__id, __sig) signatures"),
      ConfigKey("StoreCorpus", "optional parquet dir of the at-rest kept (id, text) docs")),
    (ctx, cfg) => df => {
      val id = cfg.str("IdField")
      val tf = cfg.str("Field")
      val thr = cfg.str("Threshold").toDouble
      val p = cfg.int("NumPerm").toInt
      val b = cfg.int("Bands").toInt
      val k = cfg.int("ShingleK").toInt
      val cap = cfg.int("MaxBucketSize").toInt
      // On this config surface the input frame is mid-funnel (parse +
      // however many filters came before), and the dedup decision consumes
      // it several times (candidate pairs, verify build, verify probe, the
      // final anti-join) — unmaterialized, AQE broadcast sub-jobs re-ran
      // the whole upstream lineage once per consumer (measured 5× on the
      // pretrain funnel: WARC decompress + HTML extraction + quality gates
      // per evaluation). Materialize the frame ONCE; at scale this caches
      // the post-gate corpus — by construction a fraction of the raw crawl
      // the upstream stages would otherwise re-read per consumer. The
      // frame outlives compile(), so it sits in a one-occupant slot: run()
      // releases it, and a consumer that only reads `projected` leaves it
      // for the next compile to reclaim.
      val docs =
        if (df.isStreaming) df
        else {
          val cached = nearDupInput.hold(df, _.count())
          ctx.onCleanup(() => nearDupInput.release(cached))
          cached
        }
      (cfg.strOpt("KeepBest"), cfg.strOpt("StoreSigs"), cfg.strOpt("StoreCorpus")) match {
        case (Some(scoreField), None, None) =>
          // loud cast: a non-numeric score STRING would cast to null and
          // silently rank last — on a config surface that's a typo'd
          // field, not a ranking decision, so fail the job instead.
          // Genuinely-ABSENT scores (null, or '' — the record model's
          // empty) stay null: keepBestPerCluster ranks them below every
          // real score.
          val absent = col(scoreField).isNull ||
            trim(col(scoreField).cast("string")) === ""
          val score = when(!absent && col(scoreField).cast("double").isNull,
            raise_error(concat(lit(s"NearDupDedup: KeepBest field '$scoreField' " +
              "holds a non-numeric value: "), col(scoreField).cast("string"))))
            .otherwise(col(scoreField).cast("double"))
          graft.llm.Dedup.minhashDedupCCBest(docs, id, tf, score, thr, p, b, k, cap)
        case (Some(_), _, _) => throw new IllegalArgumentException(
          "NearDupDedup: KeepBest applies to batch mode only (an at-rest " +
            "store's keep decisions are already committed)")
        case (None, sigsOpt, corpusOpt) =>
          val store = (sigsOpt, corpusOpt) match {
            case (Some(sigs), Some(corpus)) =>
              val sp = ctx.spark
              Some((sp.read.parquet(sigs)
                  .select(col("__id").cast("string").as("__id"), col("__sig")),
                sp.read.parquet(corpus)
                  .select(col(id).cast("string").as(id), col(tf).cast("string").as(tf))))
            case (None, None) => None
            case _ => throw new IllegalArgumentException(
              "NearDupDedup: StoreSigs and StoreCorpus must be set together")
          }
          graft.llm.Dedup.incrementalKeptAndSigs(docs, id, tf, store, thr, p, b, k,
            seed = 42L, maxBucketSize = cap)._1
      }
    },
    mutating = false)

  /** SpanDedup / ExactSubstrDedup — the cleaned-corpus dedup stages as
    * TOML filters: where NearDupDedup drops whole records, these REWRITE
    * the text field with the duplicated material removed (Dolma paragraph
    * dedup; Lee et al. exact-substring dedup), keeping the record.
    */
  val spanDedup: FilterDesc = FilterDesc("SpanDedup",
    "Cuts the text field into spans (fixed token windows or " +
      "content-defined chunks), drops every span whose content already " +
      "occurred earlier in the corpus ((id, position) order), and " +
      "reassembles the field from the survivors. Records with no " +
      "surviving spans drop.",
    Seq(
      ConfigKey("IdField", "unique id field; (id, position) decides 'earlier'",
        required = true),
      ConfigKey("Field", "text field to dedup (replaced by the cleaned text)",
        required = true),
      ConfigKey("Mode", "span cut: fixed | cdc (insertion-robust)",
        default = Some("fixed")),
      ConfigKey("Width", "tokens per span (fixed mode)", default = Some(8L)),
      ConfigKey("MeanLen", "mean span tokens (cdc mode)", default = Some(16L))),
    (_, cfg) => { df =>
      val id = cfg.str("IdField")
      val tf = cfg.str("Field")
      require(!df.columns.contains("__cleaned"),
        "SpanDedup reserves helper column '__cleaned'")
      val spans = cfg.str("Mode") match {
        case "fixed" =>
          graft.llm.Dedup.tokenChunks(df, id, tf, cfg.int("Width").toInt)
        case "cdc" =>
          graft.llm.Dedup.cdcChunks(df, id, tf, cfg.int("MeanLen").toInt)
        case m => throw new IllegalArgumentException(s"SpanDedup: unknown Mode '$m'")
      }
      val cleaned = graft.llm.Dedup.dedupSpans(spans, id)
        .withColumnRenamed("text", "__cleaned")
      val out = df.columns
      df.join(cleaned, Seq(id))
        .withColumn(tf, col("__cleaned"))
        .select(out.map(col): _*)
    })

  val exactSubstrDedup: FilterDesc = FilterDesc("ExactSubstrDedup",
    "Cuts every exactly-duplicated K-token substring (at ANY alignment) " +
      "out of the text field, keeping the corpus-wide first occurrence " +
      "verbatim; untouched text passes through token-normalized.",
    Seq(
      ConfigKey("IdField", "unique id field; (id, position) decides 'earlier'",
        required = true),
      ConfigKey("Field", "text field to dedup (replaced by the cleaned text)",
        required = true),
      ConfigKey("K", "window width in tokens", default = Some(8L))),
    (_, cfg) => { df =>
      val id = cfg.str("IdField")
      val tf = cfg.str("Field")
      require(!df.columns.contains("__cleaned"),
        "ExactSubstrDedup reserves helper column '__cleaned'")
      val cleaned = graft.llm.ExactSubstr.removeDuplicateWindows(
          df.select(col(id), col(tf)), id, tf, cfg.int("K").toInt)
        .withColumnRenamed("text", "__cleaned")
      val out = df.columns
      df.join(cleaned, Seq(id))
        .withColumn(tf, col("__cleaned"))
        .select(out.map(col): _*)
    })

  val sidecarJoin: FilterDesc = FilterDesc("SidecarJoin",
    "Left-joins an id-keyed parquet sidecar table (e.g. attribute " +
      "sidecars written by a tagger job) onto the record stream, filling " +
      "the selected DECLARED fields from sidecar columns of the same " +
      "name; records without a sidecar row — or whose sidecar value is " +
      "NULL — get '' (the record model's empty). A sidecar with " +
      "duplicate keys fails loudly (it would multiply records); the " +
      "guard rides the join plan itself, so the sidecar is scanned " +
      "once per run, not once extra for the check. The " +
      "'tag once, mix many' model on the config surface.",
    Seq(
      ConfigKey("Path", "parquet sidecar path (file/dir/glob)", required = true),
      ConfigKey("IdField", "record field equi-joined to the sidecar key",
        required = true),
      ConfigKey("SidecarKey", "sidecar key column (defaults to IdField)"),
      ConfigKey("Fields", "sidecar columns copied into same-named fields",
        required = true),
      ConfigKey("TrustKeys", "skip the duplicate-key aggregation for " +
        "sidecars already deduped (e.g. StoreLayout-compacted stores); " +
        "a duplicate then silently multiplies records",
        default = Some(false))),
    (ctx, cfg) => { df =>
      val id = cfg.str("IdField")
      val key = cfg.strOpt("SidecarKey").getOrElse(id)
      val wanted = cfg.strList("Fields")
      require(wanted.nonEmpty, "SidecarJoin: Fields must name at least one column")
      require(wanted.distinct == wanted,
        s"SidecarJoin: duplicate Fields entries: [${wanted.mkString(", ")}]")
      val missing = (id +: wanted).filterNot(ctx.fields.contains)
      require(missing.isEmpty, "SidecarJoin: IdField and Fields must be " +
        s"declared [fields] names; not declared: [${missing.mkString(", ")}]")
      require(!df.columns.exists(_.startsWith("__sj_")),
        "SidecarJoin reserves the '__sj_' column prefix")
      val side = ctx.spark.read.parquet(cfg.str("Path"))
      // resolve sidecar columns the way Spark itself would — case-
      // insensitively — and use the ACTUAL names thereafter
      def resolve(n: String): Option[String] =
        side.columns.find(_.equalsIgnoreCase(n))
      val absent = (key +: wanted).filterNot(resolve(_).isDefined)
      require(absent.isEmpty, "SidecarJoin: sidecar is missing columns " +
        s"[${absent.mkString(", ")}] (has [${side.columns.mkString(", ")}])")
      // sidecar ids compared as strings (the topology's schema-lite
      // record model); the key's helper alias ('__sj_key') can never
      // equal a field alias ('__sj_f_<name>') for any field name
      val slim = side.select(
        (col(resolve(key).get).cast("string").as("__sj_key") +:
          wanted.map(f => col(resolve(f).get).cast("string").as(s"__sj_f_$f"))): _*)
      // a duplicated sidecar key would emit one output record PER
      // sidecar row — a cardinality change no filter may make silently.
      // The guard rides the plan instead of preceding it (one sidecar
      // scan per run, not two): the sidecar is aggregated to one row per
      // key (count carried along), and every copied field value is
      // wrapped in a raise_error that fires when its key's count exceeds
      // one — consumed rows are exactly the rows that would multiply
      // records, and every output field is serialized downstream, so
      // Catalyst cannot prune the check away
      val rightSide =
        if (cfg.bool("TrustKeys")) slim
        else {
          val aggs = wanted.map(f => first(col(s"__sj_f_$f")).as(s"__sj_f_$f")) :+
            count(lit(1)).as("__sj_n")
          val uniq = slim.groupBy("__sj_key").agg(aggs.head, aggs.tail: _*)
          uniq.select(
            (col("__sj_key") +: wanted.map { f =>
              when(col("__sj_n") > 1, raise_error(concat(
                lit("SidecarJoin: sidecar has duplicate keys (e.g. '"),
                col("__sj_key"),
                lit("') — compact or dedup the sidecar first, or set " +
                  "TrustKeys=true for a store known deduped"))))
                .otherwise(col(s"__sj_f_$f")).as(s"__sj_f_$f")
            }): _*)
        }
      val joined = df.join(rightSide, df(id) === col("__sj_key"), "left")
      wanted.foldLeft(joined)((acc, f) =>
        acc.withColumn(f, coalesce(col(s"__sj_f_$f"), lit(""))))
        .drop("__sj_key" +: wanted.map(f => s"__sj_f_$f"): _*)
    })

  val detectSpans: FilterDesc = FilterDesc("DetectSpans",
    "Extracts regex match spans of a field into a sibling field as a " +
      "JSON array of [start, end) char-offset pairs — the TAGGER half of " +
      "the span-attribute model (RedactSpans is the rewrite half, and a " +
      "slim sidecar written from this field is the 'tag once, mix many' " +
      "handoff). An empty Pattern selects the built-in PII shapes " +
      "(emails, IPv4s, phone-like digit runs).",
    Seq(
      ConfigKey("Field", "text field scanned for matches", required = true),
      ConfigKey("SpansField", "field receiving JSON [[s,e],...] char offsets",
        required = true),
      ConfigKey("Pattern", "Java-regex to match ('' = built-in PII shapes)",
        default = Some("")),
      ConfigKey("Units", "offset unit written: 'chars' (code points, the " +
        "native unit), 'bytes' (UTF-8, for external byte-indexing " +
        "consumers), or 'utf16' (JS/JVM-regex consumers)",
        default = Some("chars"))),
    (_, cfg) => { df =>
      val pat = cfg.str("Pattern") match {
        case "" => graft.functions.TextFunctions.PiiPattern
        case p => p
      }
      val u = spanUnitOf("DetectSpans", cfg.str("Units"))
      val text = col(cfg.str("Field"))
      val spans = graft.functions.TextFunctions.convertSpans(text,
        graft.functions.TextFunctions.matchSpans(text, pat), "chars", u)
      df.withColumn(cfg.str("SpansField"), to_json(transform(spans,
        sp => array(sp.getField("s"), sp.getField("e")))))
    })

  /** Shared Units validation for the span filters: fail at topology
    * compile, naming the component, not at runtime.
    */
  private def spanUnitOf(component: String, u: String): String =
    if (graft.functions.SpanUnits.Units(u)) u
    else throw new IllegalArgumentException(
      s"$component: Units must be one of 'chars', 'bytes', 'utf16', got '$u'")

  val redactSpans: FilterDesc = FilterDesc("RedactSpans",
    "Replaces character spans of a text field with a token ('' = cut): " +
      "spans arrive as DATA in a sibling field holding a JSON array of " +
      "[start, end) char-offset pairs — the span-attribute model, where " +
      "an upstream tagger emits offsets and the rewrite happens here. " +
      "A missing/unparseable spans field leaves the text unchanged.",
    Seq(
      ConfigKey("Field", "text field rewritten in place", required = true),
      ConfigKey("SpansField", "field holding JSON [[s,e],...] char offsets",
        required = true),
      ConfigKey("Token", "replacement token ('' = cut)", default = Some("")),
      ConfigKey("Units", "unit the spans field's offsets are in: 'chars' " +
        "(code points, the native unit), 'bytes' (UTF-8 offsets from an " +
        "external byte-indexing tagger), or 'utf16' (a JS/JVM-regex " +
        "tagger) — foreign units are converted in-plan before the " +
        "rewrite", default = Some("chars"))),
    (_, cfg) => { df =>
      val parsed = from_json(col(cfg.str("SpansField")),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType)))
      val u = spanUnitOf("RedactSpans", cfg.str("Units"))
      val text = col(cfg.str("Field"))
      val raw = coalesce(
        transform(parsed, p =>
          struct(element_at(p, 1).as("s"), element_at(p, 2).as("e"))),
        array().cast("array<struct<s:int,e:int>>"))
      val spans = graft.functions.TextFunctions.convertSpans(text, raw, u, "chars")
      df.withColumn(cfg.str("Field"),
        graft.functions.TextFunctions.redactSpans(text, spans,
          cfg.str("Token")))
    })

  val convertSpansFilter: FilterDesc = FilterDesc("ConvertSpans",
    "Rewrites a JSON spans field between offset units ('chars' code " +
      "points / 'bytes' UTF-8 / 'utf16') against a text field — the " +
      "sidecar-interop shim: convert a foreign tagger's offsets once at " +
      "ingest, or export native spans to a byte- or UTF-16-indexing " +
      "consumer. An unparseable spans field passes through unchanged.",
    Seq(
      ConfigKey("Field", "text field the offsets index into", required = true),
      ConfigKey("SpansField", "field holding JSON [[s,e],...] offsets, " +
        "rewritten in place", required = true),
      ConfigKey("From", "unit the offsets are in", required = true),
      ConfigKey("To", "unit to convert to", required = true)),
    (_, cfg) => { df =>
      val from = spanUnitOf("ConvertSpans", cfg.str("From"))
      val to = spanUnitOf("ConvertSpans", cfg.str("To"))
      val spansField = cfg.str("SpansField")
      val parsed = from_json(col(spansField),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType)))
      val raw = transform(parsed, p =>
        struct(element_at(p, 1).as("s"), element_at(p, 2).as("e")))
      val converted = graft.functions.TextFunctions.convertSpans(
        col(cfg.str("Field")), raw, from, to)
      df.withColumn(spansField,
        coalesce(to_json(transform(converted,
          sp => array(sp.getField("s"), sp.getField("e")))), col(spansField)))
    })

  // ===================== outputs =====================

  /** FileWriter — CSV files with compression, {{.Template}} paths,
    * {{.Field0}} partitioning, size-based rotation.
    * reference: output/filewriter.go:26-100 (spec), :230-372 (worker).
    *
    * Raw semantics: writes the full serialized record (api.go:123-144);
    * the projected output fields only drive sharding/templates.
    *
    * Spark mapping: one distributed write (optionally partitionBy the
    * template field), then a driver-side move pass that renames Spark's
    * task-attempt part files into template-expanded final paths. Content
    * is produced fully distributed; only the cheap renames are serial.
    *
    * All staging and renaming goes through Hadoop's FileSystem resolved
    * from the PathString itself, so `s3a://`/`hdfs://`/`file:` templates
    * work end-to-end on a multi-node cluster: executors write part files
    * directly to a staging dir on the DESTINATION filesystem (never the
    * driver's local disk) and the driver's move pass is same-FS renames.
    */
  val fileWriter: OutputDesc = OutputDesc(
    "FileWriter",
    "Writes records as (optionally gzip/zstd-compressed) CSV files with " +
      "templated paths and rotation.",
    Seq(
      ConfigKey("PathString", "Template for generated file names: {{.Year}} {{.Month}} " +
        "{{.Day}} {{.Hour}} {{.Minute}} {{.Second}} {{.Index}} {{.UUID}} {{.Rotation}} " +
        "{{.Field0}}", required = true),
      ConfigKey("RotateInterval", "interval between file rotations (streaming only)",
        default = Some("60s")),
      ConfigKey("RotateSize", "approximate max file size before rotating (bytes or humanized, e.g. 32MB)",
        default = Some(0L)),
      ConfigKey("DiscardEmptyFiles", "skip empty files", default = Some(false)),
      ConfigKey("ZstdCompressionLevel", "zstd level 1..19", default = Some(3L)),
      ConfigKey("ZstdWindowLog", "zstd long-distance matching window log (2^N bytes, 0 = off)",
        default = Some(0L))),
    raw = true,
    (ctx, cfg, df) => {
      val pathString = cfg.str("PathString")
      val level = cfg.int("ZstdCompressionLevel").toInt
      ZstdCodec.register(ctx.spark)
      ctx.spark.sparkContext.hadoopConfiguration.setInt("graft.zstd.level", level)
      ctx.spark.sparkContext.hadoopConfiguration.setInt("graft.zstd.windowLog",
        cfg.int("ZstdWindowLog").toInt)
      val codec: Option[String] =
        if (pathString.endsWith(".gz")) Some("gzip")
        else if (pathString.endsWith(".zst")) Some(classOf[ZstdCodec].getName)
        else None

      val hasField0 = pathString.contains("{{.Field0}}")
      // stage on the SAME FileSystem as the destination (s3a/hdfs/file),
      // next to the template's static directory prefix: executors write
      // straight to the target FS and the final moves are fs.rename()s.
      val firstTpl = pathString.indexOf("{{")
      val staticPrefix = if (firstTpl < 0) pathString else pathString.substring(0, firstTpl)
      val cut = staticPrefix.lastIndexOf('/')
      val baseDir = new Path(if (cut >= 0) staticPrefix.substring(0, cut + 1) else ".")
      val hconf = ctx.spark.sparkContext.hadoopConfiguration
      // the local FS is checksummed; move pass uses the raw FS so .crc
      // sidecars never follow renamed files out of staging
      val fs = baseDir.getFileSystem(hconf) match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case other => other
      }
      val staging = new Path(fs.makeQualified(baseDir),
        s"_graft_staging_${java.util.UUID.randomUUID().toString}")

      var w = df
      if (hasField0) {
        require(ctx.outputFields.nonEmpty, "FileWriter: {{.Field0}} needs [output] fields")
        w = df.withColumn("__part", coalesce(col(ctx.outputFields.head), lit("")))
      }
      // a template with no per-file placeholder names ONE file (per Field0
      // value) — write it from one task rather than letting N partitions
      // expand to the same path and clobber each other. Scale contract:
      // parallel writes REQUIRE {{.Index}}/{{.UUID}} in the template,
      // exactly like the reference's one-writer-per-proc path naming.
      val hasPerFile = Seq("{{.Index}}", "{{.UUID}}", "{{.Rotation}}")
        .exists(pathString.contains)
      if (!hasPerFile) w = w.coalesce(1)
      // written-record count piggybacks on the write job (no second pass)
      val obs = new org.apache.spark.sql.Observation()
      val base = w.select(
        (if (hasField0) Seq(col("__part")) else Nil) :+ col("_record").as("value"): _*)
        .observe(obs, count(lit(1)).as("rows"))
      var dfw = base.write.mode("overwrite")
      val rs = cfg.sizeBytes("RotateSize")
      if (rs > 0) {
        // size rotation ≈ maxRecordsPerFile from a sampled record size;
        // avg() is null on an empty/fully-filtered input — fall back to 1
        // byte rather than crash a run that would otherwise write nothing.
        // Sample a bounded prefix with the topology's observe nodes
        // STRIPPED: a full-plan side action would rescan the entire input
        // and re-fire graft_input/graft_output, double-counting the run's
        // stats totals.
        val row = org.apache.spark.sql.GraftShims
          .stripObservations(df.limit(1024))
          .select(avg(length(col("_record")))).head()
        val sample = (if (row.isNullAt(0)) 1.0 else row.getDouble(0)).max(1.0)
        dfw = dfw.option("maxRecordsPerFile", math.max(1L, (rs / sample).toLong))
      }
      codec.foreach(c => dfw = dfw.option("compression", c))
      if (hasField0) dfw = dfw.partitionBy("__part")
      dfw.text(staging.toString)

      // move task part files into template-expanded final paths
      val now = Instant.ofEpochMilli(System.currentTimeMillis()).atZone(ZoneOffset.UTC)
      def expand(t: String, index: Int, field0: String): String = t
        .replace("{{.Year}}", f"${now.getYear}%04d")
        .replace("{{.Month}}", f"${now.getMonthValue}%02d")
        .replace("{{.Day}}", f"${now.getDayOfMonth}%02d")
        .replace("{{.Hour}}", f"${now.getHour}%02d")
        .replace("{{.Minute}}", f"${now.getMinute}%02d")
        .replace("{{.Second}}", f"${now.getSecond}%02d")
        .replace("{{.Index}}", index.toString)
        .replace("{{.Rotation}}", index.toString)
        .replace("{{.UUID}}", java.util.UUID.randomUUID().toString)
        .replace("{{.Field0}}", field0)

      val discardEmpty = cfg.bool("DiscardEmptyFiles")
      def partFiles(d: Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(d).toSeq.flatMap {
          case s if s.isDirectory => partFiles(s.getPath)
          case s if s.getPath.getName.startsWith("part-") => Seq(s)
          case _ => Nil
        }
      val written = Seq.newBuilder[String]
      val byDir = partFiles(staging).groupBy(_.getPath.getParent.getName)
      val rows = obs.get("rows").asInstanceOf[Long]
      for ((dirName, files) <- byDir) {
        val field0 = if (dirName.startsWith("__part=")) dirName.stripPrefix("__part=") else ""
        files.sortBy(_.getPath.getName).zipWithIndex.foreach { case (st, ix) =>
          val skip = discardEmpty && st.getLen == 0
          if (!skip) {
            val dest = fs.makeQualified(new Path(expand(pathString, ix, field0)))
            Option(dest.getParent).foreach(fs.mkdirs)
            // rotation (maxRecordsPerFile) without {{.Rotation}}/{{.Index}}
            // in the template still collides; last write wins, as with the
            // reference's template misuse
            if (fs.exists(dest)) fs.delete(dest, false)
            require(fs.rename(st.getPath, dest),
              s"FileWriter: rename ${st.getPath} -> $dest failed")
            // keep plain absolute paths on the local FS (upload + callers
            // expect them); full URIs only for remote schemes
            written += (if (dest.toUri.getScheme == "file") dest.toUri.getPath
                        else dest.toString)
          }
        }
      }
      fs.delete(staging, true)
      OutputResult(written.result().distinct, rows)
    },
  )

  /** Parquet — columnar output for the projected fields (beyond the
    * reference, which only writes CSV text: a topology whose downstream is
    * Spark/DuckDB/warehouse wants a columnar, predicate-pushdown-friendly
    * artifact, not re-parsed CSV). One distributed write, optional
    * partitioning column (the at-rest layout lever: a `PartitionBy`d
    * field turns later reads' filters into directory pruning), row count
    * piggybacked on the write job via observe — no second pass.
    *
    * Note on empty values: a `PartitionBy`d field whose value is "" lands
    * in the hive default partition and reads back as NULL — which IS the
    * record model's semantics (empty ≡ null ≡ the reference's `Get` nil;
    * the CSV inputs produce NULL for empty fields too, and every
    * projection coalesces back to ""). Only raw SQL over the files with
    * `field = ''` sees the difference; use `IS NULL` there, exactly as
    * for the CSV-ingested frames.
    */
  val parquetOutput: OutputDesc = OutputDesc(
    "Parquet",
    "Writes the projected output fields as parquet files, optionally " +
      "partitioned by a field.",
    Seq(
      ConfigKey("Path", "output directory", required = true),
      ConfigKey("PartitionBy", "optional output field to partition the layout by"),
      ConfigKey("Compression", "parquet codec (snappy/zstd/gzip/none)",
        default = Some("snappy")),
      ConfigKey("Mode", "overwrite | append", default = Some("overwrite")),
      ConfigKey("MaxRecordsPerFile", "rotation bound per file (0 = off)",
        default = Some(0L))),
    raw = false,
    (ctx, cfg, df) => {
      val path = cfg.str("Path")
      val mode = cfg.str("Mode").toLowerCase
      require(mode == "overwrite" || mode == "append", s"Parquet: bad Mode '$mode'")
      val obs = new org.apache.spark.sql.Observation()
      var w = df.observe(obs, count(lit(1)).as("rows"))
        .write.mode(mode)
        .option("compression", cfg.str("Compression"))
      val mrpf = cfg.int("MaxRecordsPerFile")
      if (mrpf > 0) w = w.option("maxRecordsPerFile", mrpf)
      cfg.strOpt("PartitionBy").foreach { f =>
        require(df.columns.contains(f), s"Parquet: unknown PartitionBy field '$f'")
        w = w.partitionBy(f)
      }
      w.parquet(path)
      OutputResult(Seq(path), obs.get("rows").asInstanceOf[Long])
    })

  /** PackedShards — trainer-consumable packed-corpus shards: writes a
    * token-ids field in the public Megatron-LM indexed-dataset layout
    * (`.bin` flat little-endian int32 token stream + `.idx` sizes/
    * pointers/doc-index sidecar, [[graft.sources.PackedCorpus]]), the
    * format a GPT training loader memory-maps directly. Completes the
    * config-only story: `[tokenizer]` train → TokenizeIds → PackRows →
    * PackedShards is raw text to training shards without Scala.
    *
    * DAEMON mode (incremental export): `PackRows` cannot run in a
    * streaming filter chain (its per-shard sort is a batch operation),
    * so the sink itself packs when `PackBudget > 0` — the exact
    * `PackRows` semantics applied PER MICRO-BATCH (each batch packs and
    * numbers its own sequences) — and `Path = ".../batch={{.Rotation}}"`
    * gives every micro-batch its own complete, idempotent, _SUCCESS-
    * marked shard directory: the month-over-month crawl shape, where
    * each increment lands as ready-to-mount trainer shards.
    *
    * The per-batch trade, quantified (PackedCorpusSpec pins it): each
    * batch's LAST sequence per pack shard is underfilled, so pad waste
    * scales like PackShards · PackBudget / batch-tokens — size the input
    * trigger so each micro-batch carries many times PackShards ×
    * PackBudget tokens and the waste vanishes; shrink batches toward one
    * sequence per shard and the waste approaches the whole budget.
    */
  val packedShardsOutput: OutputDesc = OutputDesc(
    "PackedShards",
    "Writes a comma-joined token-ids field as Megatron-style .bin/.idx " +
      "packed-corpus shards (flat little-endian int32 token stream + " +
      "index sidecar); PackBudget > 0 greedy-packs records into " +
      "fixed-budget rows first (the PackRows semantics, per batch).",
    Seq(
      ConfigKey("Path", "output directory", required = true),
      ConfigKey("IdsField", "field holding comma-joined token ids; an " +
        "entry that is not an int fails the job, naming the field",
        default = Some("input_ids")),
      ConfigKey("OrderFields", "numeric fields giving the deterministic " +
        "sequence order across shard files (ignored when PackBudget > 0: " +
        "packed rows order by their shard, seq_id)",
        default = Some(Seq("shard", "seq_id"))),
      ConfigKey("NumTasks", "shard-file count (0 = session shuffle width)",
        default = Some(0L)),
      ConfigKey("Dtype", "token width: int32 | uint16 (uint16 halves " +
        "shard bytes; any id outside [0, 65535] fails loudly)",
        default = Some("int32")),
      ConfigKey("PackBudget", "when > 0, greedy no-split pack the ids " +
        "into fixed-budget training rows before writing (PackRows " +
        "semantics, applied per batch — the streaming-safe form). " +
        "SIZING RULE for daemons: each micro-batch packs independently, " +
        "so every batch leaves up to PackShards underfilled final " +
        "sequences — size the input trigger (e.g. MaxFilesPerTrigger) so " +
        "each batch carries many times PackShards x PackBudget tokens, " +
        "or the pad fraction (Pack.packingStats) is paid in accelerator " +
        "hours",
        default = Some(0L)),
      ConfigKey("PackOrderField", "numeric field giving the pack order " +
        "(required when PackBudget > 0)"),
      ConfigKey("PackShards", "independent pack shards (PackBudget > 0)",
        default = Some(4L)),
      ConfigKey("PadId", "padding token id (PackBudget > 0)",
        default = Some(-2L)),
      ConfigKey("EosId", "optional end-of-document id, trained on " +
        "(PackBudget > 0)"),
      ConfigKey("BosId", "optional begin-of-document id, loss-masked " +
        "(PackBudget > 0)"),
      ConfigKey("SepId", "optional SFT turn-separator id (PackBudget > 0)"),
      ConfigKey("MaskField", "optional field holding the comma-joined " +
        "per-token loss mask (0/1 or true/false, aligned with IdsField); " +
        "defaults to a 'loss_mask' field when the record carries one. " +
        "PackBudget > 0: feeds the packer instead of the all-true " +
        "default. PackBudget = 0: exported verbatim as the .mask channel " +
        "(pre-packed rows — PackRows emits 'loss_mask'). An entry the " +
        "boolean cast rejects fails the job."),
      ConfigKey("SegField", "optional field holding comma-joined " +
        "segment ids, exported as the .seg channel when PackBudget = 0 " +
        "(PackRows emits 'segment_ids'); an entry that is not an int " +
        "fails the job"),
      ConfigKey("CarryDir", "cross-batch packing-state dir " +
        "(PackBudget > 0): each batch ships only CLOSED sequences and " +
        "stashes its underfilled tail documents at CarryDir/batch=N; " +
        "the next batch re-packs them first — pad waste stops depending " +
        "on trigger sizing entirely. DAEMONS DEFAULT this to a " +
        "rotation-independent <Path>/_carry (and CarryRotation to " +
        "\"{{.Rotation}}\") whenever PackBudget > 0 — per-batch padded " +
        "packing is an explicit choice, not the streaming default: opt " +
        "OUT with CarryDir = \"\" (and size the trigger so each batch " +
        "carries many times PackShards x PackBudget tokens, or the pad " +
        "fraction is paid in accelerator hours). The final tail stays " +
        "in CarryDir for a closing batch-mode export."),
      ConfigKey("CarryRotation", "batch ordinal for the carry state: " +
        "reads the newest CarryDir/batch=<k> with k < this, writes " +
        "batch=<this> (idempotent under replay); daemons pass " +
        "\"{{.Rotation}}\"", default = Some("0"))),
    raw = false,
    (ctx, cfg, df) => {
      val idsF = cfg.str("IdsField")
      require(df.columns.contains(idsF),
        s"PackedShards: unknown IdsField '$idsF'")
      val obs = new org.apache.spark.sql.Observation()
      val observed = df.observe(obs, count(lit(1)).as("rows"))
      val budget = cfg.int("PackBudget").toInt
      val path = cfg.str("Path")
      // channel fields default to the PackRows emission names when the
      // projected record carries them — the SFT layout the packer built
      // must survive export, never be re-synthesized as all-true
      def fieldOpt(key: String, default: String): Option[String] = {
        val f = cfg.strOpt(key).getOrElse(default)
        if (cfg.has(key)) {
          require(df.columns.contains(f), s"PackedShards: unknown $key '$f'")
          Some(f)
        } else if (df.columns.contains(f)) Some(f)
        else None
      }
      if (budget > 0) {
        val ordF = cfg.str("PackOrderField")
        require(df.columns.contains(ordF),
          s"PackedShards: unknown PackOrderField '$ordF'")
        def idOpt(key: String): Option[Int] =
          if (cfg.has(key)) Some(cfg.int(key).toInt) else None
        val toks = IdField.split(col(idsF), idsF)
        // a real per-token mask rides MaskField (defaulting to a
        // 'loss_mask' field when the record carries one — a mask the
        // chain computed must never be silently re-synthesized as
        // all-true at the export boundary); without either, every token
        // trains (the pretraining default) — the PACKER still produces
        // the true row-level mask (pad/BOS/separator positions false)
        val inMask = fieldOpt("MaskField", "loss_mask")
          .map(f => IdField.splitMask(col(f), f))
          .getOrElse(IdField.trueMask(toks))
        val ord = col(ordF).cast("long")
        def shardOf(o: Column) =
          pmod(pmod(o, lit(2147483647L)) * lit(2654435761L),
            lit(cfg.int("PackShards")))
        def export(packed: DataFrame): Unit =
          graft.sources.PackedCorpus.write(packed, path,
            idsCol = "input_ids", orderCols = Seq("shard", "seq_id"),
            numTasks = cfg.int("NumTasks").toInt,
            dtype = cfg.str("Dtype"),
            maskCol = Some("loss_mask"), segCol = Some("segment_ids"),
            docStartCol = Some("doc_start"))
        // an explicit EMPTY CarryDir is the per-batch opt-out (daemons
        // default the key to <Path>/_carry otherwise — Streaming.start)
        cfg.strOpt("CarryDir").filter(_.trim.nonEmpty) match {
          case None =>
            export(graft.llm.Pack.packTokensGreedy(observed, ord, toks,
              inMask, budget, shardOf(ord),
              cfg.int("PadId").toInt, sepId = idOpt("SepId"),
              eosId = idOpt("EosId"), bosId = idOpt("BosId")))
          case Some(carryDir) =>
            // cross-batch tail carry: union the previous batch's stashed
            // tail documents (raw tokens — never double-extended), pack
            // with an explicit tail, ship ONLY closed sequences, stash
            // the new tail idempotently under this batch's rotation
            val rotation = cfg.str("CarryRotation").toLong
            val rec = observed.select(ord.as("__ord"),
              toks.as("__tok"), inMask.as("__msk"))
            val withCarry = graft.llm.Pack.Carry
              .read(ctx.spark, carryDir, rotation)
              .map(prev => rec.unionByName(prev)).getOrElse(rec)
            val packed = graft.llm.Pack.packTokensGreedyCarry(withCarry,
              col("__ord"), col("__tok"), col("__msk"), budget,
              shardOf(col("__ord")), cfg.int("PadId").toInt,
              sepId = idOpt("SepId"), eosId = idOpt("EosId"),
              bosId = idOpt("BosId"))
            graft.core.Cached.scoped(packed) { packedAll =>
              val seqs = packedAll.filter(col("kind") === "seq")
                .select("shard", "seq_id", "input_ids", "segment_ids",
                  "loss_mask", "n_real", "doc_start")
              // a micro-batch where EVERYTHING rides the tail must ship
              // nothing: an export of zero sequences leaves a
              // _SUCCESS-marked dir with no shard files, which every
              // packedcorpus consumer then refuses ("no files matched") —
              // the tokens are not lost, they are in the stashed tail and
              // close in a later batch (cheap check: packedAll is persisted)
              if (!seqs.isEmpty) export(seqs)
              graft.llm.Pack.Carry.write(
                packedAll.filter(col("kind") === "carry")
                  .select(col("ord").as("__ord"),
                    col("input_ids").as("__tok"),
                    col("loss_mask").as("__msk")),
                carryDir, rotation)
            }
        }
      } else {
        val ordFields = cfg.strList("OrderFields")
        ordFields.foreach(f => require(df.columns.contains(f),
          s"PackedShards: unknown OrderFields entry '$f'"))
        val maskF = fieldOpt("MaskField", "loss_mask")
        val segF = fieldOpt("SegField", "segment_ids")
        // the record model carries strings: ids/channels split to typed
        // arrays, order fields cast numeric so "10" sorts after "2"
        val cols = IdField.split(col(idsF), idsF).as(idsF) +:
          (maskF.map(f => IdField.splitMask(col(f), f).as(f)).toSeq ++
            segF.map(f => IdField.split(col(f), f).as(f)).toSeq ++
            (if (df.columns.contains("doc_start"))
               Seq(col("doc_start").cast("boolean").as("doc_start"))
             else Seq.empty) ++
            ordFields.map(f => col(f).cast("long").as(f)))
        val typed = observed.select(cols: _*)
        graft.sources.PackedCorpus.write(typed, path, idsCol = idsF,
          orderCols = ordFields, numTasks = cfg.int("NumTasks").toInt,
          dtype = cfg.str("Dtype"),
          maskCol = maskF, segCol = segF,
          docStartCol =
            if (df.columns.contains("doc_start")) Some("doc_start") else None)
      }
      OutputResult(Seq(path), obs.get("rows").asInstanceOf[Long])
    })

  /** JsonLines — JSONL output, [[jsonLinesInput]]'s symmetric: one JSON
    * object per record with the projected output fields as keys (null
    * fields omitted, the JSONL convention), text-codec compressible.
    */
  val jsonLinesOutput: OutputDesc = OutputDesc(
    "JsonLines",
    "Writes the projected output fields as JSONL (one JSON object per " +
      "line, null fields omitted), optionally partitioned by a field.",
    Seq(
      ConfigKey("Path", "output directory", required = true),
      ConfigKey("PartitionBy", "optional output field to partition the layout by"),
      ConfigKey("Compression", "text codec (none/gzip/bzip2/lz4/deflate)",
        default = Some("gzip")),
      ConfigKey("Mode", "overwrite | append", default = Some("overwrite"))),
    raw = false,
    (ctx, cfg, df) => {
      val path = cfg.str("Path")
      val mode = cfg.str("Mode").toLowerCase
      require(mode == "overwrite" || mode == "append", s"JsonLines: bad Mode '$mode'")
      val obs = new org.apache.spark.sql.Observation()
      val part = cfg.strOpt("PartitionBy")
      part.foreach { f =>
        require(df.columns.contains(f), s"JsonLines: unknown PartitionBy field '$f'")
      }
      // partition columns must survive as COLUMNS for partitionBy, so the
      // JSON value carries every field and the layout column rides beside
      val jsonCols = df.columns.map(col)
      val base = df.observe(obs, count(lit(1)).as("rows"))
        .select((to_json(struct(jsonCols: _*)).as("value") +: part.toSeq.map(col)): _*)
      var w = base.write.mode(mode)
        .option("compression", cfg.str("Compression"))
      part.foreach(f => w = w.partitionBy(f))
      w.text(path)
      OutputResult(Seq(path), obs.get("rows").asInstanceOf[Long])
    })

  /** The `RunTag`/`Rotation` keys of every store output: the two halves
    * of its idempotent batch partition
    * ([[graft.streaming.StoreLayout.partition]]).
    */
  private val storeBatchKeys: Seq[ConfigKey] = Seq(
    ConfigKey("RunTag", "store partition namespace; daemons MUST pass " +
      "\"{{.RunTag}}\" (the per-checkpoint-instance tag — a static tag " +
      "collides with absorbed partition names after a checkpoint wipe)",
      default = Some("run")),
    ConfigKey("Rotation", "batch id for idempotent partitions; daemons " +
      "pass \"{{.Rotation}}\"", default = Some("0")))

  /** Runs a store output's batch function on this batch's partition and
    * names the landed corpus partition. The row count comes back from the
    * batch function's persisted frame — re-reading the landed partition
    * would scan it a second time per batch and throw on a part-file-less
    * empty partition.
    */
  private def storeBatch(cfg: ComponentConfig, df: DataFrame, corpusDir: String)(
      fn: String => (DataFrame, Long) => Long): OutputResult = {
    val runTag = cfg.str("RunTag")
    val rotation = cfg.str("Rotation").toLong
    val rows = fn(runTag)(df, rotation)
    OutputResult(
      Seq(s"$corpusDir/${graft.streaming.StoreLayout.partition(runTag, rotation)}"), rows)
  }

  /** PerceptualDedupStore — the perceptual incremental dedup stores
    * ([[graft.streaming.PerceptualDedupStream]]) as a TOML OUTPUT, so the
    * multimodal tier is config-reachable like the text one: each batch
    * (or daemon micro-batch) of media records is fingerprinted, deduped
    * against the accumulated at-rest signature store AND within itself,
    * survivors land in CorpusDir with signatures appended to StoreDir —
    * idempotent `batch=<RunTag>-<Rotation>` partitions, so a replayed
    * micro-batch overwrites its own output. In a daemon topology the
    * `{{.Rotation}}` placeholder supplies the batch id.
    */
  val perceptualStoreOutput: OutputDesc = OutputDesc(
    "PerceptualDedupStore",
    "Fingerprints each record's binary payload (image aHash/dHash/pHash " +
      "or audio fingerprint), drops near-duplicates of the at-rest store " +
      "and of the batch, lands survivors in CorpusDir and their " +
      "signatures in StoreDir (idempotent batch partitions).",
    Seq(
      ConfigKey("IdField", "numeric unique id field", required = true),
      ConfigKey("PayloadField", "base64-encoded media payload field " +
        "(WebDataset BinaryFields)", required = true),
      ConfigKey("Hash", "phash | dhash | ahash | audio", default = Some("phash")),
      ConfigKey("StoreDir", "at-rest signature store directory", required = true),
      ConfigKey("CorpusDir", "kept-corpus directory", required = true),
      ConfigKey("MaxHamming", "near-dup radius in signature bits", default = Some(3L)),
      ConfigKey("MaxBucketSize", "skew fuse: drop hotter band buckets (0 = off)",
        default = Some(0L))) ++ storeBatchKeys,
    raw = false,
    (ctx, cfg, df) => {
      val id = cfg.str("IdField")
      val pf = cfg.str("PayloadField")
      val method = cfg.str("Hash").toLowerCase
      val storeDir = cfg.str("StoreDir")
      val corpusDir = cfg.str("CorpusDir")
      def sigOf(batch: DataFrame): DataFrame = {
        // the typed decode path keys on doc_id (DecodedImage/DecodedAudio)
        val media = batch.select(col(id), unbase64(col(pf)).as("__bytes"))
        val hashed = method match {
          case "phash" => graft.llm.Multimodal.pHash(
            graft.llm.Multimodal.decodeImages(media, id, "__bytes",
              codecs = graft.llm.Multimodal.JvmCodecs))
          case "dhash" => graft.llm.Multimodal.dHash(
            graft.llm.Multimodal.decodeImages(media, id, "__bytes",
              codecs = graft.llm.Multimodal.JvmCodecs))
          case "ahash" => graft.llm.Multimodal.aHash(
            graft.llm.Multimodal.decodeImages(media, id, "__bytes",
              codecs = graft.llm.Multimodal.JvmCodecs))
          case "audio" => graft.llm.Multimodal.audioFingerprint(
            graft.llm.Multimodal.decodeAudio(media, id, "__bytes"))
          case other => throw new IllegalArgumentException(
            s"PerceptualDedupStore: Hash must be phash|dhash|ahash|audio: '$other'")
        }
        val sigName = hashed.columns.filterNot(_ == "doc_id").head
        hashed.select(col("doc_id").as("__id"), col(sigName).as("__hsig"))
      }
      storeBatch(cfg, df, corpusDir)(tag => graft.streaming.PerceptualDedupStream
        .batchFunction(id, sigOf, storeDir, corpusDir,
          maxHamming = cfg.int("MaxHamming").toInt,
          maxBucketSize = cfg.int("MaxBucketSize").toInt, runTag = tag))
    })

  /** SubstrDedupStore — [[graft.streaming.ExactSubstrStream]] as a TOML
    * OUTPUT, the exact-substring sibling of [[perceptualStoreOutput]]:
    * each batch (or daemon micro-batch) has its duplicated k-token runs
    * cut against the at-rest window-hash store and within itself, the
    * cleaned text lands in CorpusDir and its window hashes append to
    * StoreDir under idempotent `batch=<RunTag>-<Rotation>` partitions.
    */
  val substrStoreOutput: OutputDesc = OutputDesc(
    "SubstrDedupStore",
    "Cuts every k-token run the accumulated corpus already contains " +
      "(and within-batch repeats) out of the text field; cleaned records " +
      "land in CorpusDir, their window hashes in StoreDir (idempotent " +
      "batch partitions).",
    Seq(
      ConfigKey("IdField", "unique id field", required = true),
      ConfigKey("Field", "text field to dedup", required = true),
      ConfigKey("K", "window width in tokens", default = Some(8L)),
      ConfigKey("StoreDir", "at-rest window-hash store directory", required = true),
      ConfigKey("CorpusDir", "cleaned-corpus directory", required = true)) ++
      storeBatchKeys,
    raw = false,
    (ctx, cfg, df) => {
      val corpusDir = cfg.str("CorpusDir")
      storeBatch(cfg, df, corpusDir)(tag =>
        graft.streaming.ExactSubstrStream.batchFunction(cfg.str("IdField"),
          cfg.str("Field"), cfg.str("StoreDir"), corpusDir,
          k = cfg.int("K").toInt, runTag = tag))
    })

  /** Stats — dataset distribution report to CSV.
    * reference: output/stats.go:18-39 (spec), :41-230 (metrics).
    */
  val statsOutput: OutputDesc = OutputDesc(
    "Stats",
    "Computes record-size/field/timestamp distribution statistics over all " +
      "records and writes a CSV report.",
    Seq(
      ConfigKey("CSVPath", "Path of the CSV file to create", default = Some("stats.csv")),
      ConfigKey("TimestampField", "field containing a POSIX timestamp (seconds)",
        required = true),
      ConfigKey("CountEmptyFields", "count empty field values too", default = Some(false))),
    raw = true,
    (ctx, cfg, df) => {
      val tsField = cfg.str("TimestampField")
      val countEmpties = cfg.bool("CountEmptyFields")
      val qs = Seq(0.01, 0.05, 0.10, 0.25, 0.50, 0.75, 0.90, 0.95, 0.99)
      val sizeCol = length(col("_record"))
      val tsRaw = col(tsField).cast("string")
      val ts = tsRaw.try_cast("long")
      // pass 1: one aggregation row — record sizes, timestamp range/
      // quantiles/error classes (stats.go:41-101, :165-230)
      val aggs: Seq[Column] =
        Seq(count(lit(1)).as("records"),
          min(sizeCol).as("size_min"), max(sizeCol).as("size_max")) ++
        qs.map(q => percentile_approx(sizeCol, lit(q), lit(10000))
          .as(s"size_p${(q * 100).toInt}")) ++
        Seq(min(ts).as("ts_min"), max(ts).as("ts_max"),
          count(when(tsRaw.isNull || tsRaw === "", 1)).as("ts_empties"),
          count(when(tsRaw.isNotNull && tsRaw =!= "" && ts.isNull, 1)).as("ts_errors")) ++
        qs.map(q => percentile_approx(ts, lit(q), lit(10000))
          .as(s"ts_p${(q * 100).toInt}")) ++
        ctx.fields.map(f => approx_count_distinct(
          when(col(f).isNull || col(f) === "", null).otherwise(col(f))).as(s"distinct_$f"))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      // pass 2: per-field VALUE-FREQUENCY quantiles (stats.go:103-163) —
      // how often each distinct value repeats. Scale shape: stack every
      // field into (field, value) rows and aggregate twice; TWO shuffles
      // total regardless of field count, instead of one job per field.
      val stacked = df.select(explode(array(ctx.fields.map(f =>
          struct(lit(f).as("field"),
            coalesce(col(f).cast("string"), lit("")).as("value"))): _*)).as("kv"))
        .select(col("kv.field").as("field"), col("kv.value").as("value"))
      val nonEmpty = if (countEmpties) stacked else stacked.filter(col("value") =!= "")
      val freqAggs = Seq(min(col("count")).as("freq_min"),
        max(col("count")).as("freq_max")) ++
        qs.map(q => percentile_approx(col("count"), lit(q), lit(10000))
          .as(s"freq_p${(q * 100).toInt}"))
      val fieldRows = nonEmpty.groupBy("field", "value").count()
        .groupBy("field")
        .agg(freqAggs.head, freqAggs.tail: _*)
        .collect()
        .map(r => r.getString(0) -> r).toMap
      val schema = row.schema.fields.map(_.name)
      val head = schema.zipWithIndex.map { case (n, i) => s"$n,${row.get(i)}" }
      val fieldCsv = for {
        f <- ctx.fields; r <- fieldRows.get(f).toSeq
        (n, i) <- r.schema.fields.map(_.name).zipWithIndex.toSeq if n != "field"
      } yield s"${n}_$f,${r.get(i)}"
      val csv = ("stat,value" +: (head ++ fieldCsv)).mkString("", "\n", "\n")
      val out = new java.io.File(cfg.str("CSVPath"))
      Option(out.getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.writeString(out.toPath, csv)
      OutputResult(Seq(out.getAbsolutePath), row.getLong(0))
    },
  )

  /** Nop — counts and discards (reference: output/nop.go:25-55). */
  val nopOutput: OutputDesc = OutputDesc(
    "Nop", "Counts records and discards them.", Nil, raw = false,
    (_, _, df) => OutputResult(Nil, df.count()),
  )

  /** OpLog — logs records (reference: output/oplog.go:10-59, dev only). */
  val opLogOutput: OutputDesc = OutputDesc(
    "OpLog", "Logs each record (development).",
    Seq(ConfigKey("Limit", "max records to log", default = Some(100L))), raw = false,
    (_, cfg, df) => {
      val limit = cfg.int("Limit").toInt
      val rows = df.limit(limit).collect()
      rows.foreach(r => org.apache.log4j.Logger.getLogger("graft.oplog").info(r.toString))
      OutputResult(Nil, rows.length.toLong)
    },
  )

  /** Recorder — in-memory capture for tests (reference: output/outputtest). */
  val recorderOutput: OutputDesc = OutputDesc(
    "Recorder", "Test output: records the projected rows in memory.", Nil, raw = true,
    (_, _, df) => {
      Recorder.last = df.collect().toSeq
      OutputResult(Nil, Recorder.last.size.toLong)
    },
  )
  object Recorder { @volatile var last: Seq[org.apache.spark.sql.Row] = Nil }

  // ===================== uploads =====================

  /** S3 — uploads finished output files, preserving paths relative to
    * SourceBasePath under Bucket/Prefix. reference: upload/s3.go:22-53.
    * Bucket values starting with "/" or "file:" are treated as local
    * destination roots (zero-egress test double); anything else goes
    * through Hadoop's FileSystem (s3a:// on a real cluster).
    */
  val s3Upload: UploadDesc = UploadDesc(
    "S3",
    "Uploads output files to Bucket/Prefix keeping their path relative to SourceBasePath.",
    Seq(
      ConfigKey("SourceBasePath", "local base directory of produced files",
        default = Some("_out")),
      ConfigKey("Bucket", "destination bucket (or local root path)", required = true),
      ConfigKey("Prefix", "key prefix", default = Some("")),
      ConfigKey("StagingPath", "staging dir (accepted; unused — upload is post-write)"),
      ConfigKey("Region", "AWS region", default = Some("us-west-2")),
      ConfigKey("Interval", "scan interval (accepted; unused in batch)"),
      ConfigKey("Concurrency", "parallel uploads", default = Some(5L)),
      ConfigKey("Retries", "upload retries", default = Some(3L)),
      ConfigKey("ExitOnError", "fail the job on upload error", default = Some(false))),
    (ctx, cfg, paths) => {
      val base = java.nio.file.Paths.get(cfg.str("SourceBasePath"))
        .toAbsolutePath.normalize
      val bucket = cfg.str("Bucket")
      val prefix = cfg.str("Prefix")
      val destRoot =
        if (bucket.startsWith("/") || bucket.startsWith("file:"))
          bucket.stripPrefix("file://")
        else s"s3a://$bucket"
      val conf = ctx.spark.sparkContext.hadoopConfiguration
      val exitOnError = cfg.bool("ExitOnError")
      val retries = cfg.int("Retries").toInt.max(0)
      val concurrency = cfg.int("Concurrency").toInt.max(1)
      // the reference uploads through a worker pool with per-file retries
      // (upload/s3.go:22-53); same shape here — a fixed pool fed by the
      // finished-file list, exponential backoff per attempt
      def uploadOne(p: String): Unit = {
        val abs = java.nio.file.Paths.get(p).toAbsolutePath.normalize
        val rel =
          if (abs.startsWith(base)) base.relativize(abs).toString else abs.getFileName.toString
        val dest = new Path(s"$destRoot/$prefix$rel".replaceAll("(?<!:)//+", "/"))
        val fs = dest.getFileSystem(conf)
        var attempt = 0
        var done = false
        while (!done) {
          try {
            fs.mkdirs(dest.getParent)
            fs.copyFromLocalFile(false, true, new Path(p), dest)
            done = true
          } catch {
            case e: Exception if attempt < retries =>
              attempt += 1
              Thread.sleep(50L << attempt)
            case e: Exception if !exitOnError =>
              org.apache.log4j.Logger.getLogger("graft.upload")
                .warn(s"upload failed for $p after $attempt retries: ${e.getMessage}")
              done = true
          }
        }
      }
      if (paths.sizeIs <= 1 || concurrency == 1) paths.foreach(uploadOne)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
        try {
          val futures = paths.map(p =>
            pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = uploadOne(p) }))
          // surface the first failure (ExitOnError=true propagates here)
          futures.foreach(_.get())
        } finally pool.shutdown()
      }
    },
  )
}
