package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftSession, Tables}
import graft.reports.ClaimsPipeline

class ClaimsPipelineSpec extends AnyFunSuite with SparkSpec {

  test("DataFrame form and SQL-template form produce identical reports") {
    val dir = "/root/testdata/sf0.001"
    Tables.registerAll(GraftSession.install(spark), dir)
    val period = ClaimsPipeline.ReportPeriod(
      "2024-01-01 00:00:00", "2024-01-20 00:00:00")
    val viaDf = ClaimsPipeline.detailReport(
      Tables.load(spark, dir, "events"), period)
    val viaSql = ClaimsPipeline.detailReportSql(spark, "events", period)
    assert(viaDf.columns.toSeq == viaSql.columns.toSeq)
    val a = viaDf.collect().map(_.toSeq).toSeq
    val b = viaSql.collect().map(_.toSeq).toSeq
    assert(a.nonEmpty, "report should be non-empty on sf0.001")
    assert(a == b)
  }

  test("quoted mixed-case space aliases survive parquet round-trip") {
    val dir = "/root/testdata/sf0.001"
    val period = ClaimsPipeline.ReportPeriod(
      "2024-01-01 00:00:00", "2024-01-20 00:00:00")
    val out = TempDirs.create("graftclaims").toString + "/report"
    ClaimsPipeline.detailReport(Tables.load(GraftSession.install(spark), dir, "events"), period)
      .write.parquet(out)
    val back = spark.read.parquet(out)
    assert(back.columns.contains("First Decision Date"))
    assert(back.count() > 0)
  }
}
