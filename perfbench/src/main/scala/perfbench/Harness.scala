package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one operation reports back to the harness. `steps` are sub-step
  * times the workload measured from outside (always, traced or not);
  * `check` runs after the timed region and returns an error, if any;
  * `items` is the work the operation handled (docs judged, …). */
final case class Outcome(steps: Map[String, Double] = Map.empty,
    check: () => Option[String] = () => None, items: Double = 1.0)

/** One finished operation. */
final case class OpRec(id: Long, index: Int, startNs: Long, endNs: Long, cpuS: Double,
    traced: Boolean, outcome: Outcome, compiles: Long, compileS: Double,
    var error: Option[String]) {
  def wallS: Double = (endNs - startNs) / 1e9
  def ok: Boolean = error.isEmpty
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val gen: Gen, val trace: Tracer, val sqlDir: Path)

trait Workload {
  /** Build the inputs and standing state under `dir` (timed as set-up). */
  def setup(dir: Path): Unit
  /** Forget a finished set-up repetition before the next one. */
  def discard(dir: Path): Unit = ()
  /** One operation (timed). */
  def op(index: Int): Outcome
  /** Operations after the first that still compile new code (ingest's
    * second night meets non-bootstrap paths); a traced run skips them
    * before its untraced/traced comparison. */
  def warmupOps: Int = 0
  /** Workload-specific per-layer metrics from a traced run. */
  def layers(ops: Seq[OpRec], spans: Seq[Span], jobs: Seq[JobRec],
      tasks: Map[Int, TaskTotals]): Map[String, Double] = Map.empty
  /** Sizes of the generated working set, for the record. */
  def sizes: Map[String, Any]
}

/**
 * One run: set-up `SetupReps` times, then a closed loop with one client
 * that runs operations until `seconds` have passed. Operation 0 runs in a
 * fresh process — cold codegen included, which is what a scheduled report
 * or nightly job pays — and is the end-to-end `op_s`. A traced run traces
 * operation 0, skips the workload's warm-up operations, then runs one
 * untraced and one traced warm operation: per-layer numbers come from the
 * traced warm one, and its overhead is traced ÷ untraced.
 */
object Harness {

  val SetupReps = 3

  /** The run record: every metric, its context, and the verdict. */
  def run(spark: SparkSession, a: Main.Args, sessionS: Double,
      nproc: Int): collection.Map[String, Any] = {
    val gen = new Gen(a.seed)
    val tracer = new Tracer(a.trace)
    val ctx = new Ctx(spark, gen, tracer, a.sqlDir)
    val w: Workload = a.workload match {
      case "datamart_reports" => new DatamartReports(ctx)
      case "ingest_nights" => new IngestNights(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up, several times on fresh roots; the last one stays (a
    // traced run reports no setup_s, so it sets up once) ----------------
    val reps = if (a.trace) 1 else SetupReps
    val setupTimes = (0 until reps).map { r =>
      val dir = a.root.resolve(s"state$r")
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      w.setup(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < reps - 1) { w.discard(dir); deleteTree(dir) }
      s
    }
    val setupS = sessionS + Stats.median(setupTimes)

    // ---- measured loop ---------------------------------------------------
    val listener = if (a.trace) Some(new CountingListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val load0 = CpuLoad.sample()
    val loopStart = System.nanoTime()
    val deadline = loopStart + a.seconds * 1000000000L
    val minOps = if (a.trace) 3 + w.warmupOps else 1
    var i = 0
    while (System.nanoTime() < deadline || i < minOps) {
      val traced = a.trace && (i == 0 || i == minOps - 1)
      sc.setLocalProperty(CountingListener.OpProp, i.toString)
      tracer.setActive(traced)
      val c0 = Codegen.count; val cs0 = Codegen.seconds; val cpu0 = CpuLoad.ownCpuS
      val t0 = System.nanoTime()
      val (outcome, err) =
        try (tracer.op(i.toLong)(w.op(i)), None)
        catch { case e: Throwable => (Outcome(), Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      val rec = OpRec(i.toLong, i, t0, System.nanoTime(), CpuLoad.ownCpuS - cpu0, traced,
        outcome, Codegen.count - c0, Codegen.seconds - cs0, err)
      sc.setLocalProperty(CountingListener.OpProp, null)
      tracer.setActive(true)
      // the output check runs outside the timed region; a failed check
      // fails the operation
      if (rec.ok) rec.error =
        try outcome.check()
        catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      ops += rec
      i += 1
    }
    val loopEnd = System.nanoTime()
    val load1 = CpuLoad.sample()
    // every task event posted before the counters are read
    if (listener.isDefined) org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)

    // ---- end-to-end metrics (a failed op never counts as fast) -----------
    val windowS = math.max(a.seconds.toDouble, (loopEnd - loopStart) / 1e9)
    def lat(r: OpRec): Double = if (r.ok) r.wallS else math.max(r.wallS, windowS)
    val first = ops.head
    val warm = ops.drop(1 + w.warmupOps).toSeq
    val e2e = Map(
      "setup_s" -> setupS,
      "op_s" -> lat(first),
      "op_cpu_s" -> first.cpuS,
      "peak_rss_mb" -> Rss.peakMb)
    val failed = ops.count(!_.ok)
    val steps = ops.flatMap(_.outcome.steps.keys).distinct.sorted.map { k =>
      k -> ops.map(_.outcome.steps.getOrElse(k, Double.NaN)).toSeq }.toMap

    // ---- per-layer metrics (traced runs) ---------------------------------
    val layerMetrics: Map[String, Double] = listener match {
      case None => Map.empty
      case Some(l) =>
        val (jobs, tasks) = l.snapshot()
        val spans = tracer.all
        val tracedWarm = warm.filter(_.traced)
        val untracedWarm = warm.filterNot(_.traced)
        Layers.common(tracedWarm, first, spans, jobs, tasks) ++ Map(
          "trace.overhead" ->
            Stats.median(tracedWarm.map(lat)) / Stats.median(untracedWarm.map(lat)),
          "trace.overhead_cpu" ->
            Stats.median(tracedWarm.map(_.cpuS)) / Stats.median(untracedWarm.map(_.cpuS))) ++
          w.layers(first +: tracedWarm, spans, jobs, tasks)
    }

    mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> ops.size, "failed" -> failed,
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> nproc,
      "session_confs" -> spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sorted.toMap,
      "external_load_cores" -> CpuLoad.externalCores(load0, load1),
      "session_start_s" -> sessionS, "setup_reps_s" -> setupTimes,
      "loop_wall_s" -> (loopEnd - loopStart) / 1e9,
      "fail_rate" -> failed.toDouble / ops.size,
      "errors" -> ops.flatMap(_.error).distinct.take(5),
      "end_to_end" -> e2e,
      "op_wall_s" -> ops.map(_.wallS),
      "op_compiles" -> ops.map(_.compiles),
      "items_per_s" -> ops.filter(_.ok).map(_.outcome.items).sum / ops.map(_.wallS).sum,
      "steps_s" -> steps,
      "sizes" -> w.sizes,
      "layers" -> mutable.TreeMap(layerMetrics.toSeq: _*))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}

object Layers {
  /** Spark- and span-level metrics per traced warm operation, plus the
    * first operation's codegen. */
  def common(tracedWarm: Seq[OpRec], first: OpRec, spans: Seq[Span], jobs: Seq[JobRec],
      tasks: Map[Int, TaskTotals]): Map[String, Double] = {
    val n = math.max(1, tracedWarm.size).toDouble
    val warmIds = tracedWarm.map(_.id).toSet
    val warmJobs = jobs.filter(j => warmIds.contains(j.op))
    val tot = new TaskTotals
    warmJobs.foreach(j => tasks.get(j.jobId).foreach(tot += _))
    // driver gap: op wall minus the time at least one of its jobs ran
    val gapS = tracedWarm.map { r =>
      val busy = Intervals.unionLength(warmJobs.filter(_.op == r.id).map(j =>
        (j.startNs max r.startNs, (if (j.endNs < 0) r.endNs else j.endNs) min r.endNs)))
      ((r.endNs - r.startNs) - busy) / 1e9
    }
    val wallS = tracedWarm.map(_.wallS).sum
    val self = Tracer.selfTimes(spans)
    val warmSpans = spans.filter(s => warmIds.contains(s.op))
    val mb = 1024.0 * 1024.0
    val base = Map(
      "spark.jobs" -> warmJobs.size / n,
      "spark.tasks" -> tot.tasks / n,
      "spark.driver_gap_s" -> gapS.sum / n,
      "spark.job_busy_share" -> (if (wallS > 0) 1.0 - gapS.sum / wallS else Double.NaN),
      "spark.compiles" -> tracedWarm.map(_.compiles).sum / n,
      "spark.compile_s" -> tracedWarm.map(_.compileS).sum / n,
      "spark.first_op_compiles" -> first.compiles.toDouble,
      "spark.first_op_compile_s" -> first.compileS,
      "spark.task_s" -> tot.runMs / 1000.0 / n,
      "spark.gc_s" -> tot.gcMs / 1000.0 / n,
      "spark.shuffle_write_mb" -> tot.shuffleWriteBytes / mb / n,
      "spark.spill_mb" -> tot.spillBytes / mb / n,
      "spark.input_mb" -> tot.inputBytes / mb / n,
      "spark.output_mb" -> tot.outputBytes / mb / n,
      "spark.empty_task_share" ->
        (if (tot.tasks > 0) tot.emptyTasks.toDouble / tot.tasks else Double.NaN),
      "graft.self_s" -> warmSpans.map(s => self(s.id)).sum / n)
    // self time per module and wall per span name
    val byModule = warmSpans.groupBy(_.module).map { case (mod, ss) =>
      s"$mod.self_s" -> ss.map(s => self(s.id)).sum / n }
    val byName = warmSpans.groupBy(_.name).map { case (nm, ss) =>
      s"${nm}_s" -> ss.map(_.durS).sum / n }
    base ++ byModule ++ byName
  }

  /** Job count and task seconds of the given ops' jobs, grouped by `key`. */
  def jobsBy(jobs: Seq[JobRec], tasks: Map[Int, TaskTotals], opIds: Set[Long])(
      key: JobRec => String): Map[String, (Int, Double)] =
    jobs.filter(j => opIds.contains(j.op)).groupBy(key).map { case (k, js) =>
      k -> (js.size, js.flatMap(j => tasks.get(j.jobId)).map(_.runMs).sum / 1000.0)
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Machine-wide busy cores (steal included) minus this process's own over a
  * window: the CPU other tenants took while the run measured. */
object CpuLoad {
  final case class Sample(ns: Long, busyJiffies: Long, ownCpuS: Double)
  def ownCpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
  def sample(): Sample = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    // cpu  user nice system idle iowait irq softirq steal …
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    val busy = f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
    Sample(System.nanoTime(), busy, ownCpuS)
  }
  def externalCores(a: Sample, b: Sample): Double = {
    val wall = (b.ns - a.ns) / 1e9
    if (wall <= 0) 0.0
    else math.max(0.0, (b.busyJiffies - a.busyJiffies) / 100.0 / wall - (b.ownCpuS - a.ownCpuS) / wall)
  }
}

object Disk {
  /** (regular files, bytes) under `p`. */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n = 0L; var bytes = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => n += 1; bytes += Files.size(f) }
        (n, bytes)
      } finally s.close()
    }
}

object Rss {
  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
