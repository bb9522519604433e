package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{GraftConnection, SqlTemplate}
import graft.dq.{DmfCatalog, DqSuite, Metrics}
import graft.merge.Upsert
import graft.meta.MetaStore
import graft.ops.IncrementalLoad
import graft.reports.{ClaimsPipeline, Feeds, ReportRenderer}

/**
 * `datamart_reports`: one closed-loop client; one operation is one seeded
 * report period through the reference's report cycle — the service-summary
 * SQL chain, the claims detail report + DQ suite + DMF checks, a grouped
 * rollup rendered to xlsx, and a MERGE delta plus a watermark load.
 */
final class DatamartReports(ctx: Ctx) extends Workload {
  import DatamartReports._
  private val spark = ctx.spark
  private val gen = ctx.gen
  private val tr = ctx.trace

  private var dir: Path = _
  private var events: DataFrame = _
  private var target = ""
  private var liveKeys = 0L
  private var meta: MetaStore = _
  private var conn: GraftConnection = _
  private var rep = 0
  private val rowsChanged = scala.collection.mutable.Map.empty[Int, Long]

  def sizes: Map[String, Any] = Map("events_rows" -> EventRows, "merge_target_rows" -> TargetRows,
    "incremental_rows_per_op" -> IncRowsPerOp, "fits_in_memory" -> true)

  def setup(d: Path): Unit = {
    dir = d
    val salt = gen.eventSalt
    def h(i: Int) = xxhash64(lit(salt), col("id"), lit(i))
    def u(i: Int, n: Long) = pmod(h(i), lit(n))
    val daySec = 86400L
    val span = Gen.EventDays.toLong * daySec
    spark.range(EventRows).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(Base) + col("id") * span / EventRows + u(0, 60)).as("ts"),
        u(1, Users).as("user_id"),
        element_at(array(Gen.EventTypes.map(lit): _*), (u(2, Gen.EventTypes.size) + 1).cast("int"))
          .as("event_type"),
        (u(3, 15000) / 100.0 + 0.01).as("value"))
      .write.mode("overwrite").parquet(d.resolve("events").toString)
    events = spark.read.parquet(d.resolve("events").toString)
    events.createOrReplaceTempView("events")

    // MERGE target: a saved table partitioned by a key-derived column, so
    // the partition-scoped rewrite applies
    rep += 1
    target = s"dm_target_$rep"
    spark.sql(s"DROP TABLE IF EXISTS $target")
    spark.range(TargetRows).select(col("id").as("k"), concat(lit("v0_"), col("id")).as("v"),
        (u(9, 100000) / 100.0).as("amount"), partOf(col("id")).as("dt"))
      .write.partitionBy("dt").saveAsTable(target)
    liveKeys = TargetRows

    // watermark load: slice 0 is the bootstrap load
    meta = new MetaStore(spark, d.resolve("meta").toString)
    val r0 = IncrementalLoad.run(spark, meta, "dm_inc", "bench", incSource(0),
      incSource(0).limit(0), Seq("k"), "updated_at")(_.write.mode("overwrite")
        .parquet(incPath(0)))
    require(r0.sourceRows == IncRowsPerOp / 2, s"bootstrap load read ${r0.sourceRows} rows")
    conn = new GraftConnection(spark)
  }

  override def discard(d: Path): Unit = spark.sql(s"DROP TABLE IF EXISTS $target")

  private def partOf(k: org.apache.spark.sql.Column) = concat(lit("d"), pmod(k, lit(8L)))
  private def incPath(j: Int) = dir.resolve(s"inc/v$j").toString

  /** Watermark-load source as of op `j`: rows [0, (j+1)·m); row r of slice
    * s = r / m is a new key in its first half and an update of slice s-1's
    * new keys in its second half (slice 0 is only its first half). */
  private def incSource(j: Int): DataFrame = {
    val m = IncRowsPerOp.toLong; val half = m / 2
    spark.range(0, (j + 1) * m)
      .withColumn("s", col("id") / m cast "long").withColumn("i", pmod(col("id"), lit(m)))
      .filter(col("s") > 0 || col("i") < half)
      .select(
        when(col("i") < half, col("s") * half + col("i"))
          .otherwise((col("s") - 1) * half + col("i") - half).as("k"),
        concat(lit("r"), col("id")).as("v"),
        timestamp_seconds(lit(Base) + col("id")).as("updated_at"))
  }

  /** Plan, then run the action: the plan forcing is its own span. */
  private def collect(df: DataFrame): Array[Row] = {
    tr("core.plan")(df.queryExecution.executedPlan)
    df.collect()
  }

  def op(index: Int): Outcome = {
    val p = gen.reportPeriod(index)
    val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tr(name)(body) finally steps(name) = (System.nanoTime() - t0) / 1e9
    }

    // (1) verbatim service_summary chain: template → view → detail → summary
    val summary = step("core.service_summary") {
      conn.sessionVars.set("MIN_VALUE", p.minValue.toString)
      conn.sessionVars.set("MAX_VALUE", p.maxValue.toString)
      val sql = tr("core.render") {
        val base = SqlTemplate.renderFile(ctx.sqlDir.resolve("base.sql").toString,
          placeholders = Map("SOURCE_TABLE" -> "events"),
          incrementalPredicate = Some(
            s"ts >= TIMESTAMP '${p.startTs}' AND ts < TIMESTAMP '${p.endTs}'"),
          dialect = false)
        val detail = SqlTemplate.renderFile(ctx.sqlDir.resolve("detail.sql").toString,
          placeholders = Map("BASE_VIEW" -> "service_events_base"), dialect = false)
        val summ = SqlTemplate.renderFile(ctx.sqlDir.resolve("summary.sql").toString,
          placeholders = Map("DETAIL_VIEW" -> "service_events_detail"), dialect = false)
        (base, detail, summ)
      }
      tr("core.sql") {
        conn.saveAsView(conn.sql(sql._1), "service_events_base")
        conn.saveAsView(conn.sql(sql._2), "service_events_detail")
      }
      collect(tr("core.sql")(conn.sql(sql._3)))
    }

    // (2) claims detail report for the period's request type, then the DQ
    // suite and DMF checks over it
    val period = ClaimsPipeline.ReportPeriod(p.startTs, p.endTs)
    val requests = events.filter(col("event_type") === p.requestType &&
      col("ts") >= lit(p.startTs).cast("timestamp"))
    val reportDf = ClaimsPipeline.detailReport(requests, period)
    val detailRows = step("reports.detail")(collect(reportDf))
    val dq = step("dq.suite") {
      DqSuite.run(reportDf, requests, p.startTs.take(10), p.endTs.take(10)).collect()
    }
    val dmf = step("dq.dmf") {
      val cat = new DmfCatalog(spark)
      cat.setSchedule("report", "USING CRON 0 6 * * * UTC")
      cat.addMetric("report", "row_count", Seq(), Metrics.rowCount, "rows_present", "VALUE > 0")
      cat.addColumnMetric("report", "null_ids", Seq("Claimant Id"),
        count(when(col("`Claimant Id`").isNull, 1)), "no_null_ids", "VALUE = 0")
      cat.evaluate(_ => reportDf).collect()
    }

    // (3) the report grouped by the two-week flag: a Feeds rollup, then the
    // styled workbook (renderXlsx runs its own rollup for the subtotals)
    val grouped = reportDf.select(col("`Resolved Within Two Weeks`").cast("string").as("resolved"),
      col("`Claimant Id`").as("claimant"), col("`Clamped Value`").as("value"))
    val rollup = step("reports.rollup") {
      collect(Feeds.groupedReport(grouped, "resolved", Seq("value" -> "total_value")))
    }
    val xlsx = dir.resolve(s"report_$index.xlsx").toString
    step("reports.xlsx") {
      ReportRenderer.renderXlsx(xlsx,
        ReportRenderer.ReportHeader("Claims Report", "Bench Carrier",
          p.startTs.take(10), p.endTs.take(10), p.endTs),
        grouped, "resolved", "value", Seq("claimant", "value"))
    }

    // (4) MERGE a seeded CDC delta, then one watermark load
    val delta = gen.mergeDelta(index, liveKeys)
    val deltaDf = spark.createDataFrame(delta.rows).toDF("k", "v", "amount")
      .withColumn("dt", partOf(col("k")))
    val merged = step("merge.merge") { Upsert.mergeIntoTable(target, deltaDf, Seq("k", "dt")) }
    liveKeys += delta.inserts
    val j = index + 1 // slice 0 was the set-up's bootstrap load
    val load = step("ops.incremental_load") {
      IncrementalLoad.run(spark, meta, "dm_inc", "bench", incSource(j),
        spark.read.parquet(incPath(j - 1)), Seq("k"), "updated_at")(
        _.write.mode("overwrite").parquet(incPath(j)))
    }
    rowsChanged(index) = merged.inserted + merged.updated + merged.deleted

    Outcome(steps.toMap, check = () => {
      requests.createOrReplaceTempView("requests")
      val sqlForm = ClaimsPipeline.detailReportSql(spark, "requests", period).collect()
      val half = IncRowsPerOp / 2
      val errs = Seq(
        Option.when(summary.isEmpty)("service summary is empty"),
        Option.when(detailRows.isEmpty)("detail report is empty"),
        Option.when(!(detailRows.toSeq == sqlForm.toSeq))(
          s"detailReport != detailReportSql (${detailRows.length} vs ${sqlForm.length} rows)"),
        Option.when(dq.exists(_.getAs[String]("status") == "FAIL"))(
          "DQ suite FAIL: " + dq.filter(_.getAs[String]("status") == "FAIL")
            .map(_.getAs[String]("test_id")).mkString(",")),
        Option.when(dmf.exists(_.getAs[String]("status") != "PASS"))("DMF check not PASS"),
        Option.when(!rollup.exists(r => r.getAs[String]("row_kind") == "TOTAL" &&
            r.getAs[Long]("n_rows") == detailRows.length))("rollup total != detail rows"),
        Option.when(!xlsxText(xlsx).contains("Grand Total"))("xlsx has no grand-total row"),
        Option.when((merged.inserted, merged.updated, merged.deleted) !=
            ((delta.inserts, delta.updates, 0L)))(
          s"MERGE counts ${(merged.inserted, merged.updated, merged.deleted)} != " +
            s"${(delta.inserts, delta.updates, 0L)}"),
        Option.when((load.sourceRows, load.upsert.inserted, load.upsert.updated) !=
            ((IncRowsPerOp.toLong, half.toLong, half.toLong)))(
          s"watermark load ${(load.sourceRows, load.upsert.inserted, load.upsert.updated)}")
      ).flatten
      errs.headOption
    })
  }
  override def layers(ops: Seq[OpRec], spans: Seq[Span], jobs: Seq[JobRec],
      tasks: Map[Int, TaskTotals]): Map[String, Double] = {
    // MERGE write amplification on the warm traced ops: bytes the merge's
    // jobs wrote over the bytes of the rows it changed (rows × the target's
    // on-disk bytes per row)
    val warm = ops.filter(_.index > 0).map(_.id).toSet
    val mergeSpans = spans.filter(s => s.name == "merge.merge" && warm.contains(s.op))
    val written = jobs.filter(j => mergeSpans.exists(s => s.op == j.op &&
        j.startNs >= s.startNs && j.startNs <= s.endNs))
      .flatMap(j => tasks.get(j.jobId)).map(_.outputBytes).sum
    val changed = ops.filter(_.index > 0).flatMap(o => rowsChanged.get(o.index)).sum
    val perRow = Disk.usage(dir.resolve(s"../warehouse/$target").normalize())._2.toDouble / liveKeys
    Map(
      "merge.rows_changed" -> changed.toDouble / math.max(1, mergeSpans.size),
      "merge.write_amp" -> written / (changed.max(1L) * perRow))
  }

  /** All text parts of a written workbook, concatenated. */
  private def xlsxText(path: String): String = {
    if (!Files.exists(java.nio.file.Paths.get(path))) return ""
    val zip = new java.util.zip.ZipFile(path)
    try zip.entries().asScala.map(e =>
      new String(zip.getInputStream(e).readAllBytes(), "UTF-8")).mkString
    finally zip.close()
  }
}

object DatamartReports {
  val EventRows = 50000L
  val Users = 2000L
  val TargetRows = 20000L
  val IncRowsPerOp = 400
  val Base = 1704067200L // 2024-01-01 00:00:00 UTC
}
