package bench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into the program, plus a
  * `SparkListener` that charges every Spark job, stage and task to the span
  * that was open on the driver thread when the job was submitted (the span
  * id rides the job's local properties, so attribution does not depend on
  * listener-bus timing). Spans stay in memory and are written once at the
  * end. A disabled trace records nothing and attaches no listener.
  */
object Trace {
  /** Records nothing. */
  val off = new Trace(false, "")
}

final class Trace(val enabled: Boolean, val runId: String) {

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long = -1L)

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskRunMs = 0L; var taskCpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    /** per stage: (task run ms, task shuffle-read bytes) */
    val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private var stack: List[Span] = Nil
  private var sc: Option[SparkContext] = None

  private val PropKey = "bench.span"

  private def countersOf(span: Int): Counters = synchronized(counters.getOrElseUpdate(span, new Counters))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toInt).getOrElse(-1)
      Trace.this.synchronized {
        e.stageIds.foreach(s => stageSpan(s) = span)
        countersOf(span).jobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      countersOf(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = countersOf(stageSpan.getOrElse(e.stageId, -1))
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        val read = m.shuffleReadMetrics.totalBytesRead
        c.shuffleRead += read
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ((m.executorRunTime, read))
      }
    }
  }

  /** Attach to a SparkContext; detaches from the previous one. */
  def attach(context: SparkContext): Unit = if (enabled && !sc.contains(context)) {
    detach()
    context.addSparkListener(listener)
    sc = Some(context)
  }

  /** Stop listening (after delivering what is queued), e.g. for an
    * untraced unit inside the traced run.
    */
  def detach(): Unit = {
    drain()
    sc.foreach(_.removeSparkListener(listener))
    sc = None
  }

  /** Run `body` inside a span named `name`, child of the open span. */
  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, parent, name, Util.now())
      spans += s
      stack = s :: stack
      sc.foreach(_.setLocalProperty(PropKey, s.id.toString))
      try body
      finally {
        s.endNs = Util.now()
        stack = stack.tail
        sc.foreach(_.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull))
      }
    }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) sc.foreach(org.apache.spark.BenchShims.drainListeners)

  def closed: Seq[Span] = spans.filter(_.endNs >= 0).toSeq

  def duration(s: Span): Double = Util.secs(s.startNs, s.endNs)

  /** All spans named `name`. */
  def named(name: String): Seq[Span] = closed.filter(_.name == name)

  private def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(k => go(k.id)).toSeq
    go(root.id).toSet
  }

  /** Counters summed over a span and all of its descendants. */
  def totals(root: Span): Counters = synchronized {
    val ids = subtree(root)
    val t = new Counters
    counters.foreach { case (id, c) if ids(id) =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.taskRunMs += c.taskRunMs; t.taskCpuNs += c.taskCpuNs
      t.shuffleWrite += c.shuffleWrite; t.shuffleRead += c.shuffleRead; t.spill += c.spill
      c.stageTasks.foreach { case (st, xs) => t.stageTasks.getOrElseUpdate(st, mutable.ArrayBuffer.empty) ++= xs }
    case _ => ()
    }
    t
  }

  /** Max over stages of (slowest task ÷ median task), stages with ≥ 2 tasks. */
  def taskSkew(c: Counters): Double = {
    val ratios = c.stageTasks.values.filter(_.size >= 2).map { xs =>
      val run = xs.map(_._1.toDouble)
      val med = Util.median(run.toSeq)
      if (med > 0) run.max / med else 1.0
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Max over shuffle-reading stages of (largest task read ÷ mean task
    * read); 0 when nothing was shuffled.
    */
  def partitionSkew(c: Counters): Double = {
    val ratios = c.stageTasks.values.map(_.map(_._2.toDouble)).filter(_.exists(_ > 0)).map { r =>
      r.max / (r.sum / r.size)
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }

  def spansJson: Seq[Map[String, Any]] = synchronized {
    closed.map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_run_ms" -> c.taskRunMs, "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead, "spill_bytes" -> c.spill)
    }
  }
}
