package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Dates

class DatesSpec extends AnyFunSuite with SparkSpec {

  test("workingDaysBetween matches brute force over a 3-year window of pairs") {
    import spark.implicits._
    import java.time.LocalDate
    val base = LocalDate.of(2023, 12, 25)
    // offsets chosen to cross weekends, months, leap day (2024-02-29), years
    val starts = (0 until 40).map(i => base.plusDays(i * 11L))
    val spans = Seq(0L, 1L, 2L, 5L, 6L, 7L, 13L, 30L, 365L)
    val cases = for (s <- starts; d <- spans) yield (s.toString, s.plusDays(d).toString)
    def brute(s: LocalDate, e: LocalDate): Long =
      Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e))
        .count(d => d.getDayOfWeek.getValue <= 5).toLong
    val got = cases.toDF("s", "e")
      .select(col("s"), col("e"),
        Dates.workingDaysBetween(col("s").cast("date"), col("e").cast("date")).as("wd"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    cases.foreach { case (s, e) =>
      val expect = brute(LocalDate.parse(s), LocalDate.parse(e))
      assert(got((s, e)) == expect, s"[$s, $e] got ${got((s, e))} want $expect")
    }
    // reversed range → 0
    val rev = Seq(("2024-01-10", "2024-01-01")).toDF("s", "e")
      .select(Dates.workingDaysBetween(col("s").cast("date"), col("e").cast("date")))
      .head().getLong(0)
    assert(rev == 0L)
  }

  test("native fm_workingdaysbetween (SQL) equals the composed Column form") {
    import spark.implicits._
    graft.core.GraftSession.install(spark)
    val base = java.time.LocalDate.of(2023, 12, 25)
    val cases = (for (i <- 0 until 40; d <- Seq(0L, 1L, 6L, 7L, 13L, 365L))
      yield (base.plusDays(i * 11L).toString, base.plusDays(i * 11L + d).toString))
    val diff = cases.toDF("s", "e")
      .selectExpr("s", "e",
        "fm_workingdaysbetween(CAST(s AS DATE), CAST(e AS DATE)) AS native")
      .withColumn("composed",
        Dates.workingDaysBetween(col("s").cast("date"), col("e").cast("date")))
      .filter(col("native") =!= col("composed"))
    assert(diff.isEmpty, diff.collect().mkString("\n"))
    // null inputs → null (matches the composed form's null propagation)
    assert(spark.sql("SELECT fm_workingdaysbetween(CAST(NULL AS DATE), DATE '2024-01-01')")
      .head().isNullAt(0))
  }

  test("isoDow maps Monday→1 … Sunday→7") {
    import spark.implicits._
    val out = Seq("2024-08-12", "2024-08-17", "2024-08-18") // Mon, Sat, Sun
      .toDF("d").select(Dates.isoDow(col("d").cast("date"))).collect().map(_.getInt(0))
    assert(out.toSeq == Seq(1, 6, 7))
  }
}
