package graft.reports

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Dates
import graft.ops.Cdc

/**
 * The reference's flagship detail-report shape
 * (ref: sql/new_rfb_and_total_claimants_active/new_rfb_and_total_claimants_active_detail.sql,
 * traced in SURVEY §3.1) re-expressed over the testdata fixtures
 * (events as the CDC request table, orders/customer as the policy-ish
 * dimensions — see FIXTURES.md for the mapping):
 *
 *  1. latest-version dedup of the CDC table (QUALIFY ROW_NUMBER, W1);
 *  2. effective/expiry intervals from the event sequence (LEAD − 1 min, W3);
 *  3. point-in-time validity filter against the report period end (P8);
 *  4. first-decision ranking per key (W4/W5: MIN OVER + ROW_NUMBER = 1);
 *  5. derived measures: working days, within-two-weeks flag, clamped days
 *     (F1 + the reference's CASE flag patterns, §2.8);
 *  6. final projection with the reference's quoted mixed-case aliases (P1).
 *
 * Exposed both as native DataFrame ops (`detailReport`) and as a rendered
 * SQL template (`detailReportSql`) — ClaimsPipelineSpec asserts both forms
 * produce identical results, mirroring the reference's SQL-file style while
 * proving the operator library carries the same semantics.
 */
object ClaimsPipeline {

  final case class ReportPeriod(startTs: String, endTs: String)

  /** Steps 1–6 as composable DataFrame ops. */
  def detailReport(events: DataFrame, period: ReportPeriod): DataFrame = {
    val latest = Cdc.latestVersion(
      events.filter(col("ts") <= lit(period.endTs).cast("timestamp")),
      Seq("user_id", "event_type"),
      Seq(col("ts").desc, col("event_id").desc))
    val intervals = Cdc.effectiveIntervals(
      latest, Seq("user_id"), "ts", Seq(col("event_id").asc))
    val validAtEnd = intervals.filter(
      Cdc.validAt(lit(period.endTs).cast("timestamp"), col("eff_dt"), col("exp_dt")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val ranked = validAtEnd
      .withColumn("first_decision_ts", min(col("ts")).over(wAll))
      .withColumn("decision_rank", row_number().over(w))
      .filter(col("decision_rank") === 1)
    ranked.select(
      col("user_id").as("Claimant Id"),
      col("event_id").as("Request Id"),
      col("event_type").as("Request Type"),
      date_format(col("first_decision_ts"), "MM/dd/yyyy").as("First Decision Date"),
      Dates.workingDaysBetween(lit(period.startTs).cast("timestamp"), col("ts"))
        .as("Working Days To Decision"),
      when(datediff(col("ts").cast("date"),
          lit(period.startTs).cast("timestamp").cast("date")) <= 14, 1L)
        .otherwise(0L).as("Resolved Within Two Weeks"),
      when(col("value") > 0, col("value") - 1).otherwise(0.0).as("Clamped Value"))
      .orderBy("Claimant Id")
  }

  /** The same report as a rendered SQL template (reference style). */
  val DetailSqlTemplate: String =
    """WITH latest AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                                 ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM {{SOURCE_TABLE}} WHERE ts <= $REPORT_END_TS)
      |  WHERE rn = 1),
      |intervals AS (
      |  SELECT *, ts AS eff_dt,
      |    COALESCE(LEAD(ts - INTERVAL 1 MINUTE, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |             TIMESTAMP '9999-12-31 00:00:00') AS exp_dt
      |  FROM latest),
      |valid AS (
      |  SELECT * FROM intervals
      |  WHERE $REPORT_END_TS >= eff_dt AND $REPORT_END_TS < exp_dt),
      |ranked AS (
      |  SELECT *,
      |    MIN(ts) OVER (PARTITION BY user_id) AS first_decision_ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS decision_rank
      |  FROM valid)
      |SELECT user_id AS `Claimant Id`,
      |  event_id AS `Request Id`,
      |  event_type AS `Request Type`,
      |  date_format(first_decision_ts, 'MM/dd/yyyy') AS `First Decision Date`,
      |  fm_workingdaysbetween($REPORT_START_TS, ts) AS `Working Days To Decision`,
      |  CASE WHEN datediff(CAST(ts AS DATE), CAST($REPORT_START_TS AS DATE)) <= 14
      |       THEN 1L ELSE 0L END AS `Resolved Within Two Weeks`,
      |  CASE WHEN value > 0 THEN value - 1 ELSE 0.0D END AS `Clamped Value`
      |FROM ranked WHERE decision_rank = 1
      |ORDER BY `Claimant Id`""".stripMargin

  /** The same report authored in the REFERENCE'S dialect — QUALIFY
    * ROW_NUMBER (detail.sql:32,47-50,60), `* EXCLUDE` (excel_csv_writer
    * .py:330-332), LEAD(DATEADD(minute,-1,..)) intervals (detail.sql:20-21),
    * TO_CHAR with the dialect's 'MM/DD/YYYY' tokens, three-arg DATEDIFF,
    * ANSI CASTs (no Spark literal suffixes), and double-quoted mixed-case
    * aliases (detail.sql:153-161) — valid source-dialect text throughout.
    * Runs through the [[graft.core.SqlDialect]] render-time rewrite;
    * DialectSpec + q65 assert it matches the DataFrame form row-for-row. */
  val DetailSqlTemplateSnowflake: String =
    """WITH latest AS (
      |  SELECT user_id, event_type, event_id, ts, value, props
      |  FROM {{SOURCE_TABLE}}
      |  WHERE ts <= $REPORT_END_TS
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                             ORDER BY ts DESC, event_id DESC) = 1),
      |intervals AS (
      |  SELECT *, ts AS eff_dt,
      |    COALESCE(LEAD(DATEADD(minute, -1, ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |             TIMESTAMP '9999-12-31 00:00:00') AS exp_dt
      |  FROM latest),
      |valid AS (
      |  SELECT * EXCLUDE (props) FROM intervals
      |  WHERE $REPORT_END_TS >= eff_dt AND $REPORT_END_TS < exp_dt),
      |ranked AS (
      |  SELECT *, MIN(ts) OVER (PARTITION BY user_id) AS first_decision_ts
      |  FROM valid
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1)
      |SELECT user_id AS "Claimant Id",
      |  event_id AS "Request Id",
      |  event_type AS "Request Type",
      |  TO_CHAR(first_decision_ts, 'MM/DD/YYYY') AS "First Decision Date",
      |  fm_workingdaysbetween($REPORT_START_TS, ts) AS "Working Days To Decision",
      |  CASE WHEN DATEDIFF(day, CAST($REPORT_START_TS AS DATE), CAST(ts AS DATE)) <= 14
      |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
      |       END AS "Resolved Within Two Weeks",
      |  CASE WHEN value > 0 THEN value - 1
      |       ELSE CAST(0.0 AS DOUBLE) END AS "Clamped Value"
      |FROM ranked
      |ORDER BY "Claimant Id"""".stripMargin

  /** Render + run the source-dialect form through the dialect shim. */
  def detailReportSnowflakeSql(
      spark: SparkSession, sourceView: String, period: ReportPeriod): DataFrame = {
    graft.core.GraftSession.install(spark)
    val rendered = graft.core.SqlTemplate.render(
      DetailSqlTemplateSnowflake,
      placeholders = Map("SOURCE_TABLE" -> sourceView),
      sessionVars = Map(
        "REPORT_START_TS" -> s"TIMESTAMP '${period.startTs}'",
        "REPORT_END_TS" -> s"TIMESTAMP '${period.endTs}'"))
    spark.sql(rendered)
  }

  /** Render + run the SQL form (registers the working-days function). */
  def detailReportSql(spark: SparkSession, sourceView: String, period: ReportPeriod): DataFrame = {
    // the reference calls an externally-defined warehouse UDF
    // FM_WORKINGDAYSBETWEEN (ref: ...detail.sql:121); the SQL name is bound
    // to the same CLOSED-FORM codegen'd expression the DataFrame path uses
    // (functions/Dates.scala:21) — not an O(days) per-row loop
    graft.core.GraftSession.install(spark)
    val rendered = graft.core.SqlTemplate.render(
      DetailSqlTemplate,
      placeholders = Map("SOURCE_TABLE" -> sourceView),
      sessionVars = Map(
        "REPORT_START_TS" -> s"TIMESTAMP '${period.startTs}'",
        "REPORT_END_TS" -> s"TIMESTAMP '${period.endTs}'"))
    spark.sql(rendered)
  }
}
