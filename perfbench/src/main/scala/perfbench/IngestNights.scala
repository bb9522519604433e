package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.meta.MetaStore
import graft.reports.IngestPipeline
import graft.reports.IngestPipeline.IngestConfig

/**
 * `ingest_nights`: a nightly scheduler as one closed-loop client; one
 * operation is one audited `IngestPipeline.runNight` against one standing
 * state root with every opt-in target on. Night 0 bootstraps the indexes
 * (cold codegen); later nights are the warm steady state.
 */
final class IngestNights(ctx: Ctx) extends Workload {
  import IngestNights._
  private val spark = ctx.spark
  private val gen = ctx.gen
  private val tr = ctx.trace
  import spark.implicits._

  private var cfg: IngestConfig = _
  private var dir: Path = _
  private var acceptedSum = 0L
  private var droppedSum = 0L
  private val storage = mutable.Map.empty[Int, (Long, Long, Long)] // files, bytes, corpus bytes

  def sizes: Map[String, Any] = Map("batch_docs" -> BatchDocs, "bootstrap_docs" -> BatchDocs,
    "lm_train_docs" -> gen.lmTrainingDocs.size, "eval_docs" -> Gen.EvalDocs,
    "embedding_dims" -> Gen.Dims, "fits_in_memory" -> true)

  def setup(d: Path): Unit = {
    dir = d
    acceptedSum = 0L; droppedSum = 0L
    storage.clear()
    val lmPath = d.resolve("models/lm").toString
    val nbPath = d.resolve("models/nb").toString
    val evalPath = d.resolve("models/eval_set").toString
    graft.operators.NgramLm.save(spark, graft.operators.NgramLm.train(
      gen.lmTrainingDocs.toDF("doc_id", "text"), "doc_id", "text"), lmPath)
    graft.operators.NbClassifier.save(spark, graft.operators.NbClassifier.train(
      gen.nbPositiveDocs.toDF("doc_id", "text"), gen.nbNegativeDocs.toDF("doc_id", "text"),
      "doc_id", "text"), nbPath)
    gen.evalDocs.toDF("doc_id", "text").write.mode("overwrite").parquet(evalPath)
    val state = d.resolve("state")
    cfg = IngestConfig(
      corpusPath = state.resolve("corpus").toString,
      bandIndexPath = state.resolve("band_index").toString,
      metaDir = state.resolve("meta").toString,
      ivfPqIndexPath = Some(state.resolve("ivfpq").toString),
      ivfPqCells = 4, ivfPqM = 4, ivfPqKsub = 16,
      maxBucket = 200, strict = true,
      dropLedger = true,
      bloomIndexPath = Some(state.resolve("bloom").toString),
      bloomShards = 8, bloomBitsPerShard = 1L << 16,
      evalSetPath = Some(evalPath),
      lmModelPath = Some(lmPath), lmGateMaxCe = LmMaxCe,
      nbModelPath = Some(nbPath),
      statsSketch = Some(graft.operators.Sketches.SketchSpec(Seq("lang"),
        distinctCols = Seq("doc_id"))),
      driftTolerance = Some(3.0),
      bm25IndexPath = Some(state.resolve("bm25").toString), bm25Buckets = 16)
  }

  private def batchDf(b: Gen.Batch): DataFrame =
    b.docs.map(x => (x.id, x.text, x.lang, x.embedding.toArray))
      .toDF("doc_id", "text", "lang", "embedding")

  override def warmupOps: Int = 1

  def op(index: Int): Outcome = {
    val b = gen.nightBatch(index, BatchDocs)
    val df = batchDf(b)
    val r = tr("reports.run_night")(IngestPipeline.runNight(spark, df, s"n$index", cfg))
    Outcome(items = r.batchRows.toDouble, check = () => {
      acceptedSum += r.accepted
      droppedSum += r.dropped
      val landed = spark.read.parquet(cfg.corpusPath)
      val landedRows = landed.count()
      val ledgerRows = IngestPipeline.ledger(spark, cfg).count()
      val recrawlLanded =
        if (b.recrawlIds.isEmpty) 0L
        else landed.filter(col("doc_id").isin(b.recrawlIds: _*)).count()
      if (tr.enabled) storage(index) = storageNow()
      Seq(
        Option.when(r.skipped)("night skipped"),
        Option.when(r.dqFailures != 0)(s"dqFailures=${r.dqFailures}"),
        Option.when(r.accepted + r.dropped != r.batchRows)(
          s"accepted ${r.accepted} + dropped ${r.dropped} != batch ${r.batchRows}"),
        Option.when(r.batchRows != b.docs.size)(s"batchRows ${r.batchRows} != ${b.docs.size}"),
        Option.when(landedRows != acceptedSum)(s"landed $landedRows != Σ accepted $acceptedSum"),
        Option.when(ledgerRows != droppedSum)(s"ledger $ledgerRows != Σ dropped $droppedSum"),
        Option.when(recrawlLanded != 0)(s"$recrawlLanded exact re-crawls landed")
      ).flatten.headOption
    })
  }

  private def storageNow(): (Long, Long, Long) = {
    val (files, bytes) = Disk.usage(dir.resolve("state"))
    (files, bytes, Disk.usage(dir.resolve("state/corpus"))._2)
  }

  override def layers(ops: Seq[OpRec], spans: Seq[Span], jobs: Seq[JobRec],
      tasks: Map[Int, TaskTotals]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val warm = ops.filter(_.index > 0)
    val n = math.max(1, warm.size).toDouble
    val warmIds = warm.map(_.id).toSet
    // per-step wall from the engine's own execution_log audit rows
    val log = new MetaStore(spark, cfg.metaDir).executionLog
      .select(col("target_table"), col("execution_start_ts"), col("execution_end_ts"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
    val stepRe = """ingest_(.+)_n(\d+)""".r
    val consistency = mutable.ArrayBuffer.empty[String]
    val stepWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach { o =>
      val rows = log.collect { case (stepRe(step, nn), s, e) if nn.toInt == o.index =>
        (step, s, e) }
      val night = spans.find(s => s.name == "reports.run_night" && s.op == o.id).get
      val iv = rows.map { case (_, s, e) =>
        (CountingListener.toNs(s), CountingListener.toNs(e)) }
      val union = Intervals.unionLength(iv.toSeq) / 1e9
      val sum = rows.map { case (_, s, e) => (e - s) / 1000.0 }.sum
      val spanS = night.durS
      // audit timestamps are millisecond-granular: allow 2 ms per row
      val slack = 0.002 * (rows.length + 1)
      if (union > spanS + slack)
        consistency += f"n${o.index}: step union $union%.3f s > night span $spanS%.3f s"
      out(s"reports.night.n${o.index}.step_sum_s") = sum
      out(s"reports.night.n${o.index}.step_union_s") = union
      out(s"reports.night.n${o.index}.span_s") = spanS
      if (o.index > 0) rows.foreach { case (step, s, e) => stepWall(step) += (e - s) / 1000.0 }
    }
    // per-step jobs/task time, attributed by the job description
    // ExecutionLogger sets; anything else in the night is "unattributed"
    val byStep = Layers.jobsBy(jobs, tasks, warmIds) { j =>
      j.description match {
        case stepRe(step, _) => step
        case _ => "unattributed"
      }
    }
    (Steps :+ "unattributed").foreach { st =>
      val (jn, ts) = byStep.getOrElse(st, (0, 0.0))
      if (st != "unattributed") out(s"reports.night.$st.wall_s") = stepWall(st) / n
      out(s"reports.night.$st.jobs") = jn / n
      out(s"reports.night.$st.task_s") = ts / n
    }
    val warmJobs = jobs.count(j => warmIds.contains(j.op))
    val stepJobs = byStep.values.map(_._1).sum
    if (stepJobs != warmJobs) consistency += s"step jobs $stepJobs != night jobs $warmJobs"
    out("reports.night.jobs_check") = if (stepJobs == warmJobs) 1 else 0
    out("reports.night.consistency_errors") = consistency.size
    consistency.foreach(c => System.err.println(s"perfbench: night consistency: $c"))
    // the operators layer as the night sees it: summed wall of the steps
    // that are operator calls (gates, probe, index appends, maintenance);
    // the steps overlap, so the sum can exceed the night
    out("operators.night_steps_s") = OperatorSteps.map(stepWall).sum / n
    // audit + storage churn
    val meta = new MetaStore(spark, cfg.metaDir)
    out("meta.audit_rows") = (meta.executionLog.count() + meta.dmfResults.count()).toDouble
    val st = storage.toSeq.sortBy(_._1)
    st.lastOption.foreach { case (_, (files, bytes, corpusBytes)) =>
      out("meta.files") = files.toDouble
      out("storage.bytes_per_corpus_byte") = bytes.toDouble / math.max(1L, corpusBytes)
    }
    val created = st.sliding(2).collect { case Seq((_, a), (_, b)) => (b._1 - a._1).toDouble }.toSeq
    if (created.nonEmpty) out("storage.files_created") = created.sum / created.size
    out.toMap
  }
}

object IngestNights {
  val BatchDocs = 400
  val LmMaxCe = 3.0
  val OperatorSteps = Seq("exact", "eval", "lm", "nb", "probe", "index", "compact",
    "compact_ivfpq", "compact_bloom", "compact_bm25")
  val Steps = Seq("exact", "eval", "lm", "nb", "probe", "ledger", "accept", "dq", "sketch",
    "drift", "index", "compact", "compact_ivfpq", "compact_bloom", "compact_bm25")
}
