package perfbench

import org.apache.spark.scheduler._

/** One span: a public graft call timed from the benchmark's side. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def module: String = name.takeWhile(_ != '.')
  def durS: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Spans are recorded only when tracing is on and
 * only around the calls the benchmark itself makes (all from the one client
 * thread); they stay in memory until the run ends.
 */
final class Tracer(val enabled: Boolean) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[(Long, Long)] = Nil // (span id, op id), innermost first
  private var active = true

  /** Tracing is switched per operation (a traced run also times untraced
    * operations, to report its own overhead). */
  def setActive(on: Boolean): Unit = active = on

  def op[T](opId: Long)(body: => T): T = {
    val prev = stack
    stack = (0L, opId) :: Nil
    try body finally stack = prev
  }

  def apply[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val cur = stack
      val (parent, opId) = cur.headOption.getOrElse((0L, -1L))
      val id = nextId
      nextId += 1
      stack = (id, opId) :: cur
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, opId, name, t0, System.nanoTime())
        stack = cur
      }
    }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  /** Self time per span: its duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Intervals.unionLength(
        kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs)))
      s.id -> (((s.endNs - s.startNs) - covered) / 1e9).max(0.0)
    }.toMap
  }
}

object Intervals {
  /** Length of the union of half-open intervals (ns). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-job record: what ran, under which operation and pipeline step. */
final case class JobRec(jobId: Int, op: Long, description: String,
    startNs: Long, var endNs: Long = -1L)

/** Task totals, charged to the job that first ran the stage. */
final class TaskTotals {
  var tasks = 0L
  var emptyTasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  def +=(o: TaskTotals): Unit = {
    inputRecords += o.inputRecords
    tasks += o.tasks; emptyTasks += o.emptyTasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }
}

/**
 * The benchmark's Spark listener. Jobs are tagged with the operation id the
 * benchmark sets as a local property (inherited by graft's pool threads) and
 * with the `spark.job.description` graft's ExecutionLogger sets per audited
 * step. Each stage is charged once — to the first job that lists it — so a
 * stage AQE re-submits under a later job, or one a later job skips, is not
 * counted twice.
 */
final class CountingListener extends SparkListener {
  private val lock = new Object
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOwner = scala.collection.mutable.HashMap.empty[Int, Int]
  private val perJob = scala.collection.mutable.HashMap.empty[Int, TaskTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(CountingListener.OpProp)))
      .map(_.toLong).getOrElse(-1L)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, op, desc, CountingListener.toNs(e.time))
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endNs = CountingListener.toNs(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    lock.synchronized {
      stageOwner.get(e.stageId).foreach { job =>
        val t = perJob.getOrElseUpdate(job, new TaskTotals)
        t.tasks += 1
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        val written = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
        if (read == 0 && written == 0) t.emptyTasks += 1
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def snapshot(): (Seq[JobRec], Map[Int, TaskTotals]) = lock.synchronized {
    (jobs.values.map(_.copy()).toSeq, perJob.toMap)
  }
}

object CountingListener {
  val OpProp = "perfbench.op"
  // listener times are epoch millis; spans are nanoTime — align once
  private val epochToNanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def toNs(epochMs: Long): Long = epochMs * 1000000L + epochToNanoOffset
}

/** Janino compile counters (Spark's process-wide CodegenMetrics). */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def count: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Compile seconds: the histogram keeps a sampled reservoir, so the total
    * is estimated as count × reservoir mean. */
  def seconds: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean / 1000.0
  }
}
