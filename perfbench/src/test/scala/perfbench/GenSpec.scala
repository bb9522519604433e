package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's input contract: a seed fixes every
  * input, another seed changes them, and the injected duplicates are what
  * the ingest checks assume. No Spark session needed. */
class GenSpec extends AnyFunSuite {

  private def nights(g: Gen) = (0 until 4).map(g.nightBatch(_, 200))

  test("the same seed gives identical inputs") {
    val (a, b) = (new Gen(7L), new Gen(7L))
    assert((0 until 5).map(a.reportPeriod) == (0 until 5).map(b.reportPeriod))
    assert((0 until 5).map(a.mergeDelta(_, 20000L)) == (0 until 5).map(b.mergeDelta(_, 20000L)))
    assert(nights(a) == nights(b))
    assert(a.eventSalt == b.eventSalt)
    assert(a.lmTrainingDocs == b.lmTrainingDocs && a.evalDocs == b.evalDocs)
    assert(a.nbPositiveDocs == b.nbPositiveDocs && a.nbNegativeDocs == b.nbNegativeDocs)
  }

  test("a different seed gives different inputs") {
    val (a, b) = (new Gen(7L), new Gen(8L))
    assert((0 until 5).map(a.reportPeriod) != (0 until 5).map(b.reportPeriod))
    assert((0 until 5).map(a.mergeDelta(_, 20000L)) != (0 until 5).map(b.mergeDelta(_, 20000L)))
    assert(nights(a) != nights(b))
    assert(a.eventSalt != b.eventSalt)
    assert(a.lmTrainingDocs != b.lmTrainingDocs)
  }

  test("night batches: unique ids, re-crawls copy earlier nights' text byte for byte") {
    val ns = nights(new Gen(3L))
    val ids = ns.flatMap(_.docs.map(_.id))
    assert(ids.distinct.size == ids.size)
    assert(ns.head.recrawlIds.isEmpty)
    ns.drop(1).foreach { b =>
      assert(b.recrawlIds.nonEmpty)
      val earlier = ns.takeWhile(_.night < b.night).flatMap(_.docs.map(_.text)).toSet
      val byId = b.docs.map(d => d.id -> d.text).toMap
      assert(b.recrawlIds.forall(id => earlier.contains(byId(id))))
      // one intra-batch exact pair besides the re-crawls
      val texts = b.docs.filterNot(d => b.recrawlIds.contains(d.id)).map(_.text)
      assert(texts.size - texts.distinct.size >= 1)
    }
  }

  test("MERGE deltas update distinct live keys and insert fresh ones") {
    val d = new Gen(5L).mergeDelta(3, 1000L)
    val keys = d.rows.map(_._1)
    assert(keys.distinct.size == keys.size)
    assert(keys.count(_ < 1000L) == d.updates && keys.count(_ >= 1000L) == d.inserts)
  }

  test("report periods stay inside the generated event range") {
    val g = new Gen(9L)
    (0 until 50).map(g.reportPeriod).foreach { p =>
      assert(p.startTs < p.endTs && p.endTs <= f"2024-01-${Gen.EventDays}%02d 00:00:00")
      assert(p.minValue < p.maxValue && Gen.EventTypes.contains(p.requestType))
    }
  }
}

class TraceSpec extends AnyFunSuite {

  test("union length merges overlaps and ignores empty intervals") {
    assert(Intervals.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
    assert(Intervals.unionLength(Nil) == 0L)
  }

  test("self time is the span minus the union of its children") {
    val spans = Seq(Span(1, 0, 0, "reports.detail", 0L, 10000000000L),
      Span(2, 1, 0, "core.plan", 1000000000L, 3000000000L),
      Span(3, 1, 0, "core.plan", 2000000000L, 4000000000L))
    val self = Tracer.selfTimes(spans)
    assert(math.abs(self(1) - 7.0) < 1e-9)
    assert(math.abs(self(2) - 2.0) < 1e-9)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false)
    assert(t("core.plan")(41 + 1) == 42)
    assert(t.all.isEmpty)
  }
}
