package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Vectors

class PlansSpec extends AnyFunSuite with SparkSpec {

  test("native quantize/dotQ match the higher-order reference forms") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.1f, -0.2f, 0.3f), Array(0.4f, 0.5f, -0.6f)),
      (2L, Array(0.0f, 1.0f, -1.0f), Array(1.0f, 0.0f, 0.5f))
    ).toDF("id", "a", "b")
    val out = df.select(
      Vectors.dotQ(Vectors.quantize(col("a")), Vectors.quantize(col("b"))).as("native"),
      Vectors.dotQHof(Vectors.quantizeHof(col("a")), Vectors.quantizeHof(col("b"))).as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native dotQ nulls: null array, mismatched lengths, null element") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1L, 2L)), Some(Seq(3L, 4L))),        // 11
      (None, Some(Seq(1L, 2L))),                      // null input
      (Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 2L)))      // length mismatch
    ).toDF("a", "b")
    val out = df.select(Vectors.dotQ(col("a"), col("b"))).collect()
    assert(out(0).getLong(0) == 11L)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
    // null element poisons the product, matching zip_with+aggregate
    val withNullElem = spark.sql(
      "SELECT array(1L, NULL, 3L) AS a, array(1L, 2L, 3L) AS b")
      .select(Vectors.dotQ(col("a"), col("b")))
    val row = withNullElem.head()
    info(s"withNullElem row: $row")
    info("plan: " + withNullElem.queryExecution.optimizedPlan.toString)
    info("hof: " + spark.sql(
      "SELECT array(1L, NULL, 3L) AS a, array(1L, 2L, 3L) AS b")
      .select(Vectors.dotQHof(col("a"), col("b"))).head().toString)
    info("ansi: " + spark.conf.get("spark.sql.ansi.enabled"))
    assert(row.isNullAt(0))
  }

  test("native dotD matches the higher-order reference form, nulls included") {
    import spark.implicits._
    // values + rounding: both forms sum left-to-right, so doubles must be
    // BIT-identical, not approximately equal
    val df = Seq(
      (Some(Seq(0.1, -0.2, 0.3)), Some(Seq(0.4, 0.5, -0.6))),
      (Some(Seq(1e-17, 1.0, -1e-17)), Some(Seq(1.0, 1e-17, 1.0))), // order-sensitive
      (Some(Seq.empty[Double]), Some(Seq.empty[Double])),          // empty → 0.0
      (None, Some(Seq(1.0))),                                      // null input
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0)))                        // length mismatch
    ).toDF("a", "b")
    val out = df.select(
      Vectors.dotD(col("a"), col("b")).as("native"),
      Vectors.dotDHof(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    assert(out(2).getDouble(0) == 0.0)
    assert(out(3).isNullAt(0) && out(4).isNullAt(0))
    // null element poisons the sum, matching zip_with+aggregate
    val withNullElem = spark.sql(
      "SELECT array(1.0D, NULL, 3.0D) AS a, array(1.0D, 2.0D, 3.0D) AS b")
      .select(Vectors.dotD(col("a"), col("b")).as("native"),
        Vectors.dotDHof(col("a"), col("b")).as("hof")).head()
    assert(withNullElem.isNullAt(0) && withNullElem.isNullAt(1))
  }

  test("native adcScoreQ matches the higher-order reference form, nulls included") {
    // valid lookups: sum of lut[s][codes[s]] over aligned subspaces
    val valid = spark.sql(
      """SELECT array(array(1.5D, 2.5D), array(10.0D, 20.0D)) AS lut,
        |       array(1, 0) AS codes""".stripMargin)
    val both = valid.select(
      Vectors.adcScoreQ(col("lut"), col("codes")).as("native"),
      graft.operators.PqIndex.adcScoreHof(col("lut"), col("codes")).as("hof"))
      .head()
    assert(both.getDouble(0) == 12.5 && both.getDouble(1) == 12.5, both)
    // null poison cases, both forms: null input, length mismatch, null
    // subspace table, null code, null table entry
    val cases = Seq(
      "CAST(NULL AS ARRAY<ARRAY<DOUBLE>>) AS lut, array(0) AS codes",
      "array(array(1.0D), array(2.0D)) AS lut, array(0) AS codes",
      "array(CAST(NULL AS ARRAY<DOUBLE>), array(2.0D)) AS lut, array(0, 0) AS codes",
      "array(array(1.0D), array(2.0D)) AS lut, array(0, CAST(NULL AS INT)) AS codes",
      "array(array(CAST(NULL AS DOUBLE)), array(2.0D)) AS lut, array(0, 0) AS codes")
    cases.foreach { c =>
      val r = spark.sql(s"SELECT $c").select(
        Vectors.adcScoreQ(col("lut"), col("codes")).as("native"),
        graft.operators.PqIndex.adcScoreHof(col("lut"), col("codes")).as("hof"))
        .head()
      assert(r.isNullAt(0) && r.isNullAt(1), s"case [$c] gave $r")
    }
    // out-of-range code: the native form stays TOTAL (null) where the ANSI
    // element_at in the reference form would error — corrupted codes are
    // the drift markers' job to catch, not the billion-row scorer's
    val oob = spark.sql(
      "SELECT array(array(1.0D)) AS lut, array(5) AS codes")
      .select(Vectors.adcScoreQ(col("lut"), col("codes"))).head()
    assert(oob.isNullAt(0))
    // NEGATIVE code — the documented INTENTIONAL divergence from the HOF
    // form (element_at throws at index 0 for c = -1 and indexes from the
    // END of the table for c <= -2, a wrong non-null score): the native
    // scorer returns null for every negative code
    Seq(-1, -2).foreach { bad =>
      val neg = spark.sql(
        s"SELECT array(array(1.0D, 2.0D)) AS lut, array($bad) AS codes")
        .select(Vectors.adcScoreQ(col("lut"), col("codes"))).head()
      assert(neg.isNullAt(0), s"code $bad must score null, got $neg")
    }
  }

  test("two adcScoreQ instances in one codegen scope compile and agree") {
    // fixed Java local names would collide when nullSafeCodeGen splices
    // both blocks unbraced into one scope (non-nullable children), failing
    // janino and silently de-optimizing to interpreted evaluation — the
    // locals go through ctx.freshName; this pins compiled-path agreement
    val df = spark.sql(
      """SELECT array(array(1.5D, 2.5D), array(10.0D, 20.0D)) AS lut,
        |       array(1, 0) AS codes, array(0, 1) AS codes2""".stripMargin)
    val r = df.select(
      Vectors.adcScoreQ(col("lut"), col("codes")).as("a"),
      Vectors.adcScoreQ(col("lut"), col("codes2")).as("b"),
      (Vectors.adcScoreQ(col("lut"), col("codes"))
        + Vectors.adcScoreQ(col("lut"), col("codes2"))).as("ab"),
      Vectors.dotQ(Vectors.quantize(array(lit(0.5f))),
        Vectors.quantize(array(lit(0.5f)))).as("d1"),
      Vectors.dotQ(Vectors.quantize(array(lit(0.25f))),
        Vectors.quantize(array(lit(0.25f)))).as("d2")).head()
    assert(r.getDouble(0) == 12.5 && r.getDouble(1) == 21.5
      && r.getDouble(2) == 34.0, r.toString)
    assert(r.getLong(3) == 5000000L * 5000000L
      && r.getLong(4) == 2500000L * 2500000L, r.toString)
  }

  test("install exposes the native expressions to SQL") {
    graft.core.GraftSession.install(spark)
    val r = spark.sql(
      """SELECT dot_product_q(quantize_vector(array(CAST(0.1 AS FLOAT), CAST(0.2 AS FLOAT))),
        |                     quantize_vector(array(CAST(0.3 AS FLOAT), CAST(0.4 AS FLOAT)))) AS d""".stripMargin)
      .head().getLong(0)
    val expect = {
      def q(x: Float) = Math.floor(x.toDouble * 1e7).toLong
      q(0.1f) * q(0.3f) + q(0.2f) * q(0.4f)
    }
    assert(r == expect)
  }

  test("boundedTopK aggregate reproduces the window row_number form exactly") {
    import graft.operators.Similarity
    import graft.core.{GraftSession, Tables}
    val e = Tables.load(GraftSession.install(spark), "/root/testdata/sf0.001", "embeddings")
      .repartition(8) // force partial-aggregate merges across partitions
    val q = e.filter(col("vec_id") < 5)
    val viaWindow = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
      "embedding", "embedding", 10)
      .select(col("query_id"), col("neighbor_id").cast("long"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val viaAgg = Similarity.bruteForceTopKAgg(q, e, "vec_id", "vec_id",
      "embedding", "embedding", 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(viaAgg.nonEmpty && viaAgg == viaWindow)
  }

  test("cosineExact via native expressions equals known values") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Vectors.cosineExact(col("a"), col("b")).as("same"),
      Vectors.cosineExact(col("a"), col("c")).as("ortho")).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }
}
