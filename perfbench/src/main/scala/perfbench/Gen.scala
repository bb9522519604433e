package perfbench

import scala.util.Random

/**
 * Seeded input generator. Every input a workload feeds graft is a pure
 * function of the run seed: the same seed gives identical rows, another
 * seed gives other rows. Text comes from two first-order Markov chains
 * ("good" prose and "spam" prose over disjoint vocabularies), so the LM and
 * classifier gates have something real to separate, and two fresh documents
 * share almost no 3-shingles, so near-duplicate drops happen only where the
 * generator injects them.
 */
final class Gen(val seed: Long) {

  private def rng(salt: Long*): Random =
    new Random(salt.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, s) =>
      (h ^ s) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL))

  // vocabularies are fixed (seed-independent); the chains over them are seeded
  val goodWords: IndexedSeq[String] = Gen.words("w", 400)
  val spamWords: IndexedSeq[String] = Gen.words("s", 120)
  val junkWords: IndexedSeq[String] = Gen.words("j", 400)
  private val successors = 4

  private def chain(words: IndexedSeq[String], salt: Long): IndexedSeq[IndexedSeq[Int]] = {
    val r = rng(salt)
    words.indices.map(_ => IndexedSeq.fill(successors)(r.nextInt(words.size)))
  }
  private lazy val goodChain = chain(goodWords, 1L)
  private lazy val spamChain = chain(spamWords, 2L)

  private def markov(words: IndexedSeq[String], ch: IndexedSeq[IndexedSeq[Int]],
      r: Random, n: Int): String = {
    var w = r.nextInt(words.size)
    val sb = new StringBuilder(words(w))
    var i = 1
    while (i < n) {
      w = ch(w)(r.nextInt(successors))
      sb.append(' ').append(words(w))
      i += 1
    }
    sb.toString
  }

  def goodText(r: Random): String = markov(goodWords, goodChain, r, 30 + r.nextInt(30))
  def spamText(r: Random): String = markov(spamWords, spamChain, r, 30 + r.nextInt(30))
  def junkText(r: Random): String =
    Seq.fill(30 + r.nextInt(20))(junkWords(r.nextInt(junkWords.size))).mkString(" ")

  /** A unit-ish vector near one of `Gen.Clusters` seeded centres. */
  def embedding(r: Random): IndexedSeq[Float] = {
    val c = centres(r.nextInt(Gen.Clusters))
    IndexedSeq.tabulate(Gen.Dims)(i => (c(i) + 0.25 * r.nextGaussian()).toFloat)
  }
  private lazy val centres: IndexedSeq[Array[Double]] = {
    val r = rng(3L)
    IndexedSeq.fill(Gen.Clusters)(Array.fill(Gen.Dims)(r.nextGaussian()))
  }

  private val langs = IndexedSeq("en", "fr", "de", "zh")

  /** `n` fresh good documents with ids from `idBase`. */
  def documents(n: Int, idBase: Long, salt: Long): IndexedSeq[Gen.Doc] = {
    val r = rng(10L, salt)
    IndexedSeq.tabulate(n)(i => Gen.Doc(idBase + i, goodText(r),
      langs(r.nextInt(langs.size)), embedding(r)))
  }

  // ---- ingest_nights ------------------------------------------------------

  /** The trusted slices the night gates are trained on, and the eval set. */
  def lmTrainingDocs: IndexedSeq[(Long, String)] = {
    val r = rng(20L)
    IndexedSeq.tabulate(600)(i => (i.toLong, if (i % 4 == 3) spamText(r) else goodText(r)))
  }
  def nbPositiveDocs: IndexedSeq[(Long, String)] = {
    val r = rng(21L)
    IndexedSeq.tabulate(300)(i => (i.toLong, goodText(r)))
  }
  def nbNegativeDocs: IndexedSeq[(Long, String)] = {
    val r = rng(22L)
    IndexedSeq.tabulate(300)(i => (1000L + i, spamText(r)))
  }
  def evalDocs: IndexedSeq[(Long, String)] = {
    val r = rng(23L)
    IndexedSeq.tabulate(Gen.EvalDocs)(i =>
      (Gen.EvalIdBase + i, markov(goodWords, goodChain, r, 16)))
  }

  /**
   * Night `night`'s batch. Ids are unique across nights. Besides fresh
   * documents it injects exact re-crawls of earlier nights' fresh documents
   * (new id, byte-identical text), an intra-batch exact pair, near-dup
   * copies of earlier documents, junk (LM gate), spam (classifier gate) and
   * eval-set copies (eval gate). Night 0 is the bootstrap night.
   */
  def nightBatch(night: Int, size: Int): Gen.Batch = {
    val r = rng(30L, night.toLong)
    val base = Gen.nightIdBase(night)
    var next = base
    def id(): Long = { next += 1; next - 1 }
    val nFresh = freshCount(night, size)
    val fresh = documents(nFresh, base, 31L + night)
    next = base + nFresh
    val out = IndexedSeq.newBuilder[Gen.Doc] ++= fresh
    val recrawls = IndexedSeq.newBuilder[Long]
    if (night > 0) {
      val earlierFresh = (0 until night).flatMap(nv =>
        documents(freshCount(nv, size), Gen.nightIdBase(nv), 31L + nv))
      def pick(): Gen.Doc = earlierFresh(r.nextInt(earlierFresh.size))
      (0 until (size * 0.08).toInt).foreach { _ =>
        val src = pick(); val i = id()
        out += src.copy(id = i); recrawls += i
      }
      (0 until (size * 0.05).toInt).foreach { _ =>
        val src = pick()
        out += src.copy(id = id(), text = src.text + " " + goodWords(r.nextInt(goodWords.size)))
      }
      // one intra-batch exact pair: a fresh doc's text again under a new id
      val twin = fresh(r.nextInt(fresh.size))
      out += twin.copy(id = id())
      (0 until (size * 0.05).toInt).foreach(_ =>
        out += Gen.Doc(id(), junkText(r), "en", embedding(r)))
      (0 until (size * 0.05).toInt).foreach(_ =>
        out += Gen.Doc(id(), spamText(r), "en", embedding(r)))
      val ev = evalDocs
      (0 until (size * 0.03).toInt).foreach { _ =>
        val e = ev(r.nextInt(ev.size))
        out += Gen.Doc(id(), e._2, "en", embedding(r))
      }
    }
    Gen.Batch(night, out.result(), recrawls.result())
  }

  private def freshCount(night: Int, size: Int): Int =
    if (night == 0) size else (size * 0.70).toInt

  // ---- datamart_reports ---------------------------------------------------

  /** Report period `op`: a seeded window inside the generated event range. */
  def reportPeriod(op: Int): Gen.Period = {
    val r = rng(40L, op.toLong)
    val startDay = 1 + r.nextInt(Gen.EventDays - 12)
    val len = 7 + r.nextInt(5)
    val minV = 1 + r.nextInt(20)
    Gen.Period(f"2024-01-$startDay%02d 00:00:00", f"2024-01-${startDay + len}%02d 00:00:00",
      minV.toDouble, (minV + 40 + r.nextInt(40)).toDouble,
      Gen.EventTypes(r.nextInt(Gen.EventTypes.size)))
  }

  /** MERGE delta for op `op` against a target holding keys [0, liveKeys):
    * `updates` distinct existing keys with new values and `inserts` new keys. */
  def mergeDelta(op: Int, liveKeys: Long): Gen.Delta = {
    val r = rng(50L, op.toLong)
    val nUpd = 150 + r.nextInt(100)
    val nIns = 100 + r.nextInt(100)
    val upd = Iterator.continually(r.nextLong() & Long.MaxValue)
      .map(_ % liveKeys).distinct.take(nUpd).toIndexedSeq.sorted
    val ins = (0 until nIns).map(liveKeys + _)
    val rows = (upd ++ ins).map(k => (k, s"v${op}_${r.nextInt(1000)}",
      math.round(r.nextDouble() * 100000) / 100.0))
    Gen.Delta(rows, upd.size.toLong, ins.size.toLong)
  }

  /** Event-table generation constants derived from the seed (the rows
    * themselves are computed in Spark from these and the row id). */
  def eventSalt: Long = rng(60L).nextLong()
}

object Gen {
  val Dims = 16
  val Clusters = 8
  val EventDays = 28
  val EvalDocs = 40
  val EvalIdBase = 900000000L
  val EventTypes = IndexedSeq("view", "click", "purchase", "signup", "error")

  def words(prefix: String, n: Int): IndexedSeq[String] = {
    // fixed tokens: prefix + three of ten syllables
    val syl = IndexedSeq("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "va", "ze")
    (0 until n).map { i =>
      prefix + syl(i % 10) + syl((i / 10) % 10) + syl((i / 100) % 10)
    }
  }

  def nightIdBase(night: Int): Long = 1000000L * (night + 1)

  final case class Doc(id: Long, text: String, lang: String, embedding: IndexedSeq[Float])
  final case class Batch(night: Int, docs: IndexedSeq[Doc], recrawlIds: IndexedSeq[Long])
  final case class Period(startTs: String, endTs: String, minValue: Double, maxValue: Double,
      requestType: String)
  final case class Delta(rows: IndexedSeq[(Long, String, Double)], updates: Long, inserts: Long)
}
