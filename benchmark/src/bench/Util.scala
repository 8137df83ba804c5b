package bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Small helpers shared by the workloads: topology compilation, JSON
  * output, order statistics, process CPU time, file-tree sizes, and the
  * line hash the output checks use.
  */
object Util {

  /** Parse and compile a topology through the public entry points, each
    * in its own span.
    */
  def compile(spark: org.apache.spark.sql.SparkSession, toml: String,
      tr: Trace): graft.topology.Topology.Compiled = {
    import graft.topology.{Toml, Topology}
    val tree = tr("topology.parse")(Toml.parse(toml, Map.empty))
    tr("topology.compile")(Topology.compile(spark, Topology.configFromToml(tree)))
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Process CPU seconds (all threads), from the OS MXBean. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => throw new IllegalStateException("process CPU time is not available")
    }

  def loadAverage(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU time the hypervisor gave to other guests, in seconds summed over
    * the host's CPUs (Linux `/proc/stat`; -1 where it is not available):
    * context only, never used to normalise a metric.
    */
  def stealS(): Double =
    try {
      val cpu = Util.readString(java.nio.file.Paths.get("/proc/stat")).linesIterator.next().trim.split("\\s+")
      cpu(8).toLong / 100.0
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Total GC time in seconds so far, over all collectors. */
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** A fixed single-thread busy loop: host-speed context only, never
    * used to normalise a metric.
    */
  def calibrateS(): Double = {
    var x = 0L; var i = 0L
    val t0 = now()
    while (i < 200000000L) { x += i * i; i += 1 }
    if (x == 42) println(x)
    secs(t0, now())
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  // ---- files ----

  def rm(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete()
  }

  def filesUnder(f: File): Seq[File] =
    if (!f.exists()) Nil
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(filesUnder)
    else Seq(f)

  /** Bytes of the data files under a directory (Hadoop `.crc` sidecars
    * and `_SUCCESS` markers excluded).
    */
  def dataBytes(dir: File): Long =
    filesUnder(dir).filterNot(isSidecar).map(_.length).sum

  def isSidecar(f: File): Boolean =
    f.getName.endsWith(".crc") || f.getName.startsWith("_") || f.getName.startsWith(".")

  def writeAtomically(target: File, content: String): Unit = {
    target.getParentFile.mkdirs()
    val tmp = new File(target.getParentFile, target.getName + ".tmp")
    Files.write(tmp.toPath, content.getBytes("UTF-8"))
    Files.move(tmp.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def readString(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  // ---- hashing ----

  private val byteBase = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

  /** 64-bit hash of `len` bytes of `b` at `off`; digests over many lines
    * are wrapping sums, so they do not depend on line order.
    */
  def hash(b: Array[Byte], off: Int, len: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(b, byteBase + off.toLong, len, 42L)

  def hash(s: String): Long = {
    val b = s.getBytes("UTF-8")
    hash(b, 0, b.length)
  }

  // ---- JSON ----

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in output: $d")
      d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
