package bench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** What one timed unit (a topology run, or one corpus turn) did. */
final case class UnitOut(records: Long, bytesIn: Long, bytesOut: Long)

/** A benchmark workload. Inputs are generated from the seed and cached on
  * disk outside set-up; a unit is one closed-loop job whose outputs are
  * checked against the generator's ground truth.
  */
trait Workload {
  def name: String
  /** Warm-up units run at the end of set-up. */
  def warmups: Int
  /** A unit's nominal wall time: a run times `--seconds` / this many units
    * (at least `Main.MinUnits`), a count fixed before timing starts, so a
    * faster host or program does not also measure later, warmer units.
    */
  def nominalUnitS: Double
  /** Seconds spent generating inputs so far (subtracted from set-up). */
  def genSeconds: Double
  /** Set-up before the warm-ups (state reset, tokenizer export). */
  def setUp(spark: SparkSession, tr: Trace): Unit
  /** Generate (or load from cache) the inputs of unit `i`; not timed. */
  def prepareUnit(i: Int): Unit
  def runUnit(spark: SparkSession, i: Int, tr: Trace): UnitOut
  /** Output check against ground truth: the list of errors, empty when correct. */
  def check(spark: SparkSession, i: Int): Seq[String]
  /** Damage unit `i`'s output the way a defect would (self-test only). */
  def corrupt(spark: SparkSession, i: Int): Unit
  /** Delete the unit's per-job outputs. */
  def cleanUnit(i: Int): Unit
  /** Traced run only: per-layer metrics from prefix jobs and counters. */
  def layers(spark: SparkSession, tr: Trace, units: Seq[Int]): Map[String, Double]
  /** Traced run only: seconds and records of one unit on a one-core
    * session, the baseline of `spark.parallel_efficiency`.
    */
  def singleCoreUnit(spark: SparkSession, tr: Trace): (Double, Long)
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, size: String, corrupt: Int, cores: Int)

object Main {

  val MinUnits = 3

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case NonFatal(e) =>
        System.err.println(s"benchmark failed: $e")
        e.printStackTrace()
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work", "size", "corrupt")
    require((m.keySet -- known).isEmpty, s"unknown options: ${(m.keySet -- known).mkString(", ")}")
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new File(m("work")), m.getOrElse("size", "full"), m.getOrElse("corrupt", "-1").toInt,
      Runtime.getRuntime.availableProcessors())
  }

  def session(cores: Int): SparkSession = graft.core.Graft.localSession("bench", cores)

  def workload(o: Opts): Workload = o.workload match {
    case "log_raw" => new LogWorkload(o.seed, o.size, o.work, o.cores)
    case "corpus_turns" => new CorpusWorkload(o.seed, o.size, o.work, o.cores)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Heap in use after each GC, kept while `recording` is set. */
  object HeapWatch extends NotificationListener {
    @volatile var recording = false
    @volatile var maxUsedBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (recording && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > maxUsedBytes) maxUsedBytes = used }
      }
  }

  final case class Done(i: Int, wallS: Double, cpuS: Double, out: UnitOut, traced: Boolean)

  def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    o.work.mkdirs()
    val w = workload(o)
    HeapWatch.install()
    val tr = new Trace(o.trace, s"${w.name}-seed${o.seed}")

    // ---- set-up: JVM start to the first timed unit, less input generation
    // and the benchmark's own checks of the warm-up units ----
    val warmupWalls = mutable.ArrayBuffer.empty[Double]
    var warmupCheckS = 0.0
    var spark = session(o.cores)
    tr.attach(spark.sparkContext)
    w.setUp(spark, tr)
    for (j <- 0 until w.warmups) {
      w.prepareUnit(-1 - j)
      val t0 = Util.now()
      w.runUnit(spark, -1 - j, Trace.off)
      val t1 = Util.now()
      warmupWalls += Util.secs(t0, t1)
      val errs = w.check(spark, -1 - j)
      require(errs.isEmpty, s"warm-up output is wrong: ${errs.mkString("; ")}")
      w.cleanUnit(-1 - j)
      warmupCheckS += Util.secs(t1, Util.now())
    }
    // generation of the first timed unit's inputs also stays out of set-up
    w.prepareUnit(0)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - w.genSeconds - warmupCheckS

    // ---- timed closed loop ----
    val calibPre = Util.calibrateS()
    val loadPre = Util.loadAverage()
    val stealPre = Util.stealS()
    var gcInUnits = 0.0
    val done = mutable.ArrayBuffer.empty[Done]
    var attempted = 0
    var failed = 0
    var timedS = 0.0
    var i = 0
    var postGcMaxBytes = 0L
    var checkS = 0.0
    System.gc()
    HeapWatch.maxUsedBytes = 0L
    // the traced run needs at least two traced and two untraced units
    val units = math.max(if (o.trace) 4 else MinUnits, math.ceil(o.seconds / w.nominalUnitS).toInt)
    while (attempted < units) {
      w.prepareUnit(i)
      // the traced run alternates traced and untraced units, so the
      // tracing overhead is measured on neighbouring units
      val traced = o.trace && i % 2 == 1
      attempted += 1
      if (o.trace) {
        if (traced) tr.attach(spark.sparkContext) else tr.detach()
      }
      val g0 = Util.gcS()
      val c0 = Util.processCpuS()
      val t0 = Util.now()
      HeapWatch.recording = true
      val ran =
        try {
          val out =
            if (traced) tr(s"unit:$i")(w.runUnit(spark, i, tr))
            else w.runUnit(spark, i, Trace.off)
          Right((Util.secs(t0, Util.now()), Util.processCpuS() - c0, out))
        } catch { case NonFatal(e) => Left(e) }
      HeapWatch.recording = false
      timedS += Util.secs(t0, Util.now())
      gcInUnits += Util.gcS() - g0
      val c1 = Util.now()
      val errs =
        try ran match {
          case Left(e) => e.printStackTrace(); Seq(s"unit threw $e")
          case Right(_) =>
            if (i == o.corrupt) w.corrupt(spark, i)
            w.check(spark, i)
        } catch { case NonFatal(e) => e.printStackTrace(); Seq(s"check threw $e") }
        finally w.cleanUnit(i)
      checkS += Util.secs(c1, Util.now())
      (ran, errs) match {
        case (Right((wall, cpu, out)), Nil) => done += Done(i, wall, cpu, out, traced)
        case _ =>
          failed += 1
          System.err.println(s"[bench] unit $i failed: ${errs.mkString("; ")}")
      }
      // a full collection after every unit, so state the program retains
      // between jobs (caches, leaked frames) shows in the live heap
      System.gc()
      postGcMaxBytes = math.max(postGcMaxBytes,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      i += 1
    }
    tr.attach(spark.sparkContext)
    val calibPost = Util.calibrateS()
    val loadPost = Util.loadAverage()
    val stealTimed = Util.stealS() - stealPre

    val untraced = done.filterNot(_.traced)
    require(untraced.nonEmpty || !o.trace, "no untraced unit succeeded")
    val base = if (untraced.nonEmpty) untraced else done
    require(done.nonEmpty, "no unit succeeded")
    val wallSum = base.map(_.wallS).sum
    val recs = base.map(_.out.records).sum
    val p50 = Util.median(base.map(_.wallS).toSeq)

    val context = Map(
      "workload" -> w.name, "seed" -> o.seed, "cores" -> o.cores, "size" -> o.size,
      "units_ok" -> done.size, "units_traced" -> done.count(_.traced),
      "unit_walls_s" -> done.map(_.wallS), "warmups" -> w.warmups,
      "warmup_walls_s" -> warmupWalls, "warmup_check_and_clean_s" -> warmupCheckS,
      "check_and_clean_s" -> checkS, "input_generation_s" -> w.genSeconds, "timed_s" -> timedS,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "heap_total_mb" -> Runtime.getRuntime.totalMemory / 1048576.0,
      "heap_after_unit_gc_max_mb" -> postGcMaxBytes / 1048576.0,
      "calib_pre_s" -> calibPre, "calib_post_s" -> calibPost,
      "load_avg_pre" -> loadPre, "load_avg_post" -> loadPost,
      "cpu_steal_s" -> (if (stealPre < 0) -1.0 else stealTimed))
    println(Util.json(Map("context" -> context)))

    val metrics: Map[String, (Double, String)] =
      if (!o.trace) Map(
        "setup_s" -> (setupS, "s"),
        "job_s_p50" -> (p50, "s"),
        "records_per_s_per_core" -> (recs / (wallSum * o.cores), "1/s"),
        "cpu_s_per_krec" -> (base.map(_.cpuS).sum / (recs / 1000.0), "s"),
        "bytes_out_per_byte_in" ->
          (base.map(_.out.bytesOut).sum.toDouble / base.map(_.out.bytesIn).sum, "ratio"))
      else {
        val tracedUnits = done.filter(_.traced)
        require(tracedUnits.nonEmpty, "no traced unit succeeded")
        tr.drain()
        val unitSpans = tracedUnits.map(d => tr.named(s"unit:${d.i}").head)
        val totals = unitSpans.map(tr.totals)
        def med(f: tr.Counters => Double): Double = Util.median(totals.map(f).toSeq)
        val tracedWall = unitSpans.map(tr.duration).sum
        val busy = totals.map(_.taskRunMs).sum / 1e3 / (tracedWall * o.cores)
        val layerMetrics = w.layers(spark, tr, tracedUnits.map(_.i).toSeq)
        // parallel efficiency: per-core rate of the timed units over the
        // rate of one unit on a one-core session
        spark.stop()
        spark = session(1)
        tr.attach(spark.sparkContext)
        val (t1, r1) = w.singleCoreUnit(spark, tr)
        val rn = Util.median(base.map(_.out.records.toDouble).toSeq)
        val efficiency = (rn / (p50 * o.cores)) / (r1 / t1)
        val counts = Map(
          "spark.jobs" -> med(_.jobs.toDouble),
          "spark.stages" -> med(_.stages.toDouble),
          "spark.tasks" -> med(_.tasks.toDouble),
          "spark.task_cpu_s" -> med(_.taskCpuNs / 1e9),
          "spark.core_busy_ratio" -> busy,
          "spark.task_skew" -> med(tr.taskSkew),
          "spark.parallel_efficiency" -> efficiency,
          "exchange.shuffle_write_bytes" -> med(_.shuffleWrite.toDouble),
          "exchange.shuffle_read_bytes" -> med(_.shuffleRead.toDouble),
          "exchange.spill_bytes" -> med(_.spill.toDouble),
          "exchange.partition_skew" -> med(tr.partitionSkew),
          "jvm.gc_s" -> gcInUnits,
          "jvm.live_heap_mb_max" -> HeapWatch.maxUsedBytes / 1048576.0,
          "jvm.warmup_s" -> (warmupWalls.headOption.getOrElse(p50) - p50),
          "trace.overhead_ratio" -> Util.median(tracedUnits.map(_.wallS).toSeq) / p50)
        val all = layerMetrics ++ counts
        writeTrace(o, tr, all, context)
        all.map { case (k, v) => k -> (v, unitOf(k)) }
      }
    spark.stop()

    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)
    println(Util.json(result))
    0
  }

  def unitOf(metric: String): String = {
    val leaf = metric.substring(metric.indexOf('.') + 1)
    if (leaf.endsWith("_s")) "s"
    else if (leaf.endsWith("_mb_max")) "MB"
    else if (leaf.endsWith("_bytes") || leaf.startsWith("bytes")) "bytes"
    else if (leaf.endsWith("_ratio") || leaf.endsWith("_skew") || leaf.endsWith("_efficiency")) "ratio"
    else "count"
  }

  private def writeTrace(o: Opts, tr: Trace, metrics: Map[String, Double],
      context: Map[String, Any]): Unit = {
    val f = new File(o.work, s"traces/trace-${o.workload}-seed${o.seed}.json")
    Util.writeAtomically(f, Util.json(Map("run" -> tr.runId, "context" -> context,
      "metrics" -> metrics, "spans" -> tr.spansJson)))
    System.err.println(s"[bench] trace written to $f")
  }
}

/** Every per-layer metric; a layer that does not run on a workload reads 0. */
object LayerNames {
  val all: Seq[String] = Seq(
    "topology.parse_s", "topology.compile_s",
    "sources.read_s", "sources.bytes_in", "sources.bytes_decoded",
    "operators.filter_s", "operators.keep_ratio",
    "outputs.write_s", "outputs.bytes_written", "outputs.files",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
    "exchange.spill_bytes", "exchange.partition_skew",
    "llm.c4clean_s", "llm.gopher_s", "llm.gate_keep_ratio", "llm.dedup_s", "llm.dedup_keep_ratio",
    "llm.tokenize_s", "llm.pack_s", "llm.tokens", "llm.pack_fill_ratio",
    "streaming.compact_s", "streaming.turn_spark_jobs", "streaming.store_files",
    "streaming.store_bytes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s", "spark.core_busy_ratio",
    "spark.task_skew", "spark.parallel_efficiency",
    "jvm.gc_s", "jvm.live_heap_mb_max", "jvm.warmup_s", "trace.overhead_ratio")
  val zeros: Map[String, Double] = all.map(_ -> 0.0).toMap
}
