package bench

import java.io._
import java.util.SplittableRandom
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.apache.spark.sql.SparkSession

import graft.topology.{Toml, Topology}

/** Generated ~4.6 KB CSV log records in equal-size zstd files, and what
  * the topology must produce from them.
  *
  * Fields: ts (unique), user (Zipf over `Users`), kind (0-9, the filter
  * key), country, device, url, referrer, and five ~900-char text fields
  * drawn from a Zipf word pool.
  */
object LogData {
  val Fields = Seq("ts", "user", "kind", "country", "device", "url", "referrer",
    "p0", "p1", "p2", "p3", "p4")
  val Clause = "(not (or (kind 3) (kind 7)))"
  val Users = 5000
  private val Sources = Array("newsletter", "search", "social", "partner", "direct", "display")
  private val Countries = Array("us", "gb", "de", "fr", "es", "it", "nl", "se", "br", "mx",
    "ca", "au", "jp", "kr", "in", "pl", "pt", "ie", "ch", "at")
  private val Devices = Array("desktop", "mobile", "tablet")

  /** Ground truth for one input file; sums over several. */
  final case class Expect(records: Long, kept: Long, digest: Long, decodedBytes: Long) {
    def +(o: Expect): Expect = Expect(records + o.records, kept + o.kept,
      digest + o.digest, decodedBytes + o.decodedBytes)
    def line: String = Seq(records, kept, digest, decodedBytes).mkString(" ")
  }
  object Expect {
    val zero = Expect(0, 0, 0, 0)
    def parse(line: String): Expect = line.trim.split(" ").map(_.toLong) match {
      case Array(r, k, d, b) => Expect(r, k, d, b)
      case _ => throw new IllegalStateException(s"bad expectation line '$line'")
    }
  }

  /** Write `files` zstd files of `perFile` records each into `dir`. */
  def generate(seed: Long, files: Int, perFile: Int, dir: File, threads: Int): Seq[Expect] = {
    dir.mkdirs()
    val words = Words(6000)
    val pool = words.pool(new SplittableRandom(seed ^ 0x5eedL), 1 << 20)
    val zipfUser = new Zipf(Users, 1.1)
    val ex = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(ex)
    try {
      val parts = (0 until files).map { f =>
        Future {
          val rng = new SplittableRandom(seed * 1000003L + f)
          val out = new ZstdOutputStream(new BufferedOutputStream(
            new FileOutputStream(new File(dir, f"part-$f%03d.log.zst")), 1 << 16), 3)
          var e = Expect.zero
          val sb = new java.lang.StringBuilder(6000)
          try for (r <- 0 until perFile) {
            sb.setLength(0)
            val ts = (1700000000L + f.toLong * 10000000L + r).toString
            val user = s"u${zipfUser.sample(rng)}"
            val kind = rng.nextInt(10)
            val src = Sources(rng.nextInt(Sources.length))
            val device = Devices(rng.nextInt(Devices.length))
            val q = words.word(rng)
            val url = s"https://shop.example.com/item/${rng.nextInt(100000)}?utm_source=$src&uid=$user&q=$q"
            sb.append(ts).append(',').append(user).append(',').append(kind).append(',')
              .append(Countries(rng.nextInt(Countries.length))).append(',').append(device).append(',')
              .append(url).append(',').append("https://www.search.example/?q=").append(words.word(rng))
            for (_ <- 0 until 5) {
              val len = 820 + rng.nextInt(160)
              val at = rng.nextInt(pool.length - len)
              sb.append(',').append(pool, at, at + len)
            }
            val line = sb.toString
            val bytes = line.getBytes("UTF-8")
            out.write(bytes); out.write('\n')
            val keep = kind != 3 && kind != 7
            e = e + Expect(1, if (keep) 1 else 0,
              if (keep) Util.hash(bytes, 0, bytes.length) else 0L, bytes.length + 1L)
          } finally out.close()
          e
        }
      }
      parts.map(Await.result(_, Duration.Inf))
    } finally ex.shutdown()
  }

  /** Lines of every zstd file in `files`, per file, read in parallel. */
  def scanLines(files: Seq[File], threads: Int)(perLine: (Array[Byte], Int, Int) => Unit): Unit = {
    val ex = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(ex)
    try {
      val fs = files.map { f =>
        Future {
          val in = new ZstdInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 16))
          try {
            var buf = new Array[Byte](1 << 20)
            var len = 0
            var eof = false
            while (!eof) {
              if (len == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
              val n = in.read(buf, len, buf.length - len)
              if (n < 0) eof = true else len += n
              // hand every complete line to the callback, keep the tail
              var start = 0
              var j = 0
              while (j < len) {
                if (buf(j) == '\n') { perLine(buf, start, j - start); start = j + 1 }
                j += 1
              }
              if (eof && start < len) { perLine(buf, start, len - start); start = len }
              System.arraycopy(buf, start, buf, 0, len - start)
              len -= start
            }
          } finally in.close()
        }
      }
      fs.foreach(Await.result(_, Duration.Inf))
    } finally ex.shutdown()
  }
}

/** log_raw: baker's published workload, List → ClauseFilter → FileWriter
  * (zstd), which takes the raw fast path (lazy prefix-scan fields, no
  * exchange).
  */
final class LogWorkload(seed: Long, size: String, work: File, cores: Int) extends Workload {
  import LogData._

  val name = "log_raw"
  val warmups = 2
  val nominalUnitS = 2.0
  private val files = 2 * cores
  private val perFile = size match {
    case "full" => 16000
    case "tiny" => 300
    case other => throw new IllegalArgumentException(s"unknown size '$other'")
  }
  private val inDir = new File(work, s"inputs/logs-s$seed-${files}x$perFile")
  private var perFileExpect: Seq[Expect] = _
  private var gen = 0.0
  def genSeconds: Double = gen

  private def outDir(i: Int) = new File(work, s"out/$name/unit$i")
  private def allInputs = Util.filesUnder(inDir).filter(_.getName.endsWith(".log.zst"))
  private def expect = perFileExpect.foldLeft(Expect.zero)(_ + _)

  def prepareUnit(i: Int): Unit = if (perFileExpect == null) {
    val t0 = Util.now()
    val ef = new File(inDir, "expect.txt")
    if (ef.exists()) perFileExpect = Util.readString(ef.toPath).split("\n").toSeq.map(Expect.parse)
    else {
      // keep the cache bounded: inputs of other seeds or sizes go
      Option(inDir.getParentFile.listFiles()).toSeq.flatten
        .filter(d => d.getName.startsWith("logs-") && d != inDir).foreach(Util.rm)
      Util.rm(inDir)
      perFileExpect = generate(seed, files, perFile, inDir, cores)
      Util.writeAtomically(ef, perFileExpect.map(_.line).mkString("\n"))
    }
    gen += Util.secs(t0, Util.now())
  }

  def setUp(spark: SparkSession, tr: Trace): Unit = Util.rm(new File(work, s"out/$name"))

  def toml(out: File, inputs: Seq[File]): String =
    s"""[fields]
       |names = [${Fields.map(f => "\"" + f + "\"").mkString(", ")}]
       |[input]
       |name = "List"
       |  [input.config]
       |  Files = [${inputs.map(f => "\"" + f.getAbsolutePath + "\"").mkString(", ")}]
       |  MatchPath = ".*\\\\.log\\\\.zst"
       |[[filter]]
       |name = "ClauseFilter"
       |  [filter.config]
       |  Clause = "$Clause"
       |[output]
       |name = "FileWriter"
       |  [output.config]
       |  PathString = "${out.getAbsolutePath}/part-{{.Index}}-{{.UUID}}.log.zst"
       |""".stripMargin

  /** Records the program reports it read, per unit; the check compares
    * them with the generator's count.
    */
  private val reportedRecords = mutable.Map.empty[Int, Long]
  private val bytesOut = mutable.Map.empty[Int, Long]

  private def runTopology(spark: SparkSession, out: File, inputs: Seq[File], tr: Trace): Long = {
    val c = Util.compile(spark, toml(out, inputs), tr)
    val (_, m) = tr("topology.run")(c.run())
    m("input_records").asInstanceOf[Long]
  }

  def runUnit(spark: SparkSession, i: Int, tr: Trace): UnitOut = {
    val ins = allInputs
    reportedRecords(i) = runTopology(spark, outDir(i), ins, tr)
    val written = Util.dataBytes(outDir(i))
    bytesOut(i) = written
    UnitOut(expect.records, ins.map(_.length).sum, written)
  }

  def check(spark: SparkSession, i: Int): Seq[String] = {
    val outs = Util.filesUnder(outDir(i)).filter(_.getName.endsWith(".zst"))
    var n = 0L
    var digest = 0L
    LogData.scanLines(outs, cores) { (b, off, len) =>
      val h = Util.hash(b, off, len)
      synchronized { n += 1; digest += h }
    }
    val errs = mutable.ArrayBuffer.empty[String]
    val e = expect
    if (reportedRecords(i) != e.records)
      errs += s"$name: the program reports ${reportedRecords(i)} input records, the input has ${e.records}"
    if (n != e.kept) errs += s"$name: $n records written, expected ${e.kept}"
    if (digest != e.digest) errs += s"$name: output digest differs from the generator's"
    errs.toSeq
  }

  /** Drop the first line of the largest output file. */
  def corrupt(spark: SparkSession, i: Int): Unit = {
    val f = Util.filesUnder(outDir(i)).filter(_.getName.endsWith(".zst")).maxBy(_.length)
    val lines = mutable.ArrayBuffer.empty[Array[Byte]]
    LogData.scanLines(Seq(f), 1)((b, off, len) => lines += java.util.Arrays.copyOfRange(b, off, off + len))
    val out = new ZstdOutputStream(new FileOutputStream(f), 3)
    try lines.drop(1).foreach { l => out.write(l); out.write('\n') } finally out.close()
  }

  def cleanUnit(i: Int): Unit = Util.rm(outDir(i))

  /** A one-off job over a prefix of the topology into the `noop` sink. */
  private def prefixJob(spark: SparkSession, tr: Trace, label: String,
      edit: Topology.Config => Topology.Config): Double = {
    val cfg = edit(Topology.configFromToml(Toml.parse(toml(outDir(-100), allInputs), Map.empty)))
    val c = Topology.compile(spark, cfg)
    val t0 = Util.now()
    tr(s"prefix:$label")(c.projected.select("_record").write.format("noop").mode("overwrite").save())
    c.ctx.runCleanupHooks()
    Util.secs(t0, Util.now())
  }

  def layers(spark: SparkSession, tr: Trace, units: Seq[Int]): Map[String, Double] = {
    val read = prefixJob(spark, tr, "input", _.copy(filters = Nil))
    val filtered = prefixJob(spark, tr, "filters", identity)
    val full = Util.median(units.map(i => tr.duration(tr.named(s"unit:$i").head)))
    val ins = allInputs
    LayerNames.zeros ++ Map(
      "topology.parse_s" -> Util.median(tr.named("topology.parse").map(tr.duration)),
      "topology.compile_s" -> Util.median(tr.named("topology.compile").map(tr.duration)),
      "sources.read_s" -> read,
      "sources.bytes_in" -> ins.map(_.length).sum.toDouble,
      "sources.bytes_decoded" -> expect.decodedBytes.toDouble,
      "operators.filter_s" -> math.max(0.0, filtered - read),
      "operators.keep_ratio" -> expect.kept.toDouble / expect.records,
      "outputs.write_s" -> math.max(0.0, full - filtered),
      "outputs.bytes_written" -> Util.median(units.map(i => bytesOut(i).toDouble)),
      "outputs.files" -> files.toDouble)
  }

  def singleCoreUnit(spark: SparkSession, tr: Trace): (Double, Long) = {
    // one core's share of the input: the same per-core work as a timed unit
    val out = outDir(-200)
    val t0 = Util.now()
    val share = files / cores
    val read = tr("single-core")(runTopology(spark, out, allInputs.take(share), Trace.off))
    val wall = Util.secs(t0, Util.now())
    val want = perFileExpect.take(share).map(_.records).sum
    require(read == want, s"single-core unit read $read records, expected $want")
    Util.rm(out)
    (wall, want)
  }
}
