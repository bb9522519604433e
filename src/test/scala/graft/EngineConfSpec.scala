package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{EngineConf, GraftSession}
import graft.plans.GraftExtensions

class EngineConfSpec extends AnyFunSuite with SparkSpec {

  test("the fixture session carries every EngineConf entry beside its three overrides") {
    val missing = EngineConf.resolve(EngineConf.entries, sys.props)
      .filterNot { case (k, v) => spark.conf.getOption(k).contains(v) }
      .map { case (k, v) => s"$k=$v (live: ${spark.conf.getOption(k)})" }
    assert(missing.isEmpty, missing.mkString("; "))
    assert(spark.sparkContext.master == SparkFixture.master)
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      SparkFixture.shufflePartitions.toString)
    assert(spark.conf.get("spark.sql.warehouse.dir").contains("graft-warehouse"))
  }

  test("an explicitly set spark.* system property beats its EngineConf entry") {
    val key = "spark.scheduler.mode"
    assert(EngineConf.entries.toMap.get(key).contains("FAIR"))
    val props = Map(key -> "FIFO", "spark.sql.codegen.wholeStage" -> "false")
    val resolved = EngineConf.resolve(EngineConf.entries, props)
    // keys and order unchanged: a property for an unlisted key is not added
    assert(resolved.map(_._1) == EngineConf.entries.map(_._1))
    assert(resolved.toMap.apply(key) == "FIFO")
    assert(resolved.filterNot(_._1 == key) == EngineConf.entries.filterNot(_._1 == key))
    assert(EngineConf.resolve(EngineConf.entries, Map.empty[String, String]) ==
      EngineConf.entries)
  }

  test("GraftSession.scala is the only file under src/ that builds a session") {
    import scala.jdk.CollectionConverters._
    val needle = "SparkSession" + ".builder()" // split: this file must not match
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    val builders =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => java.nio.file.Files.readString(p).contains(needle))
        .map(_.getFileName.toString).toList
      finally walk.close()
    assert(builders == List("GraftSession.scala"))
  }

  test("every engine SQL function resolves in a new session") {
    // a new session gets the extensions but none of this session's temp
    // functions, so only the extension's own list can make these resolve
    val fresh = spark.newSession()
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.sorted ==
      Seq("adc_score_q", "dot_product_q", "fm_workingdaysbetween", "quantize_vector"))
    names.foreach(n => assert(fresh.catalog.functionExists(n), n))
    assert(fresh.sql("SELECT adc_score_q(array(array(1.0D, 2.0D)), array(1))")
      .head().getDouble(0) == 2.0)
  }

  test("install is idempotent and keeps the session's engine confs") {
    val before = GraftSession.install(spark).conf.getAll
    GraftSession.install(GraftSession.install(spark))
    assert(spark.conf.getAll == before)
    assert(EngineConf.resolve(EngineConf.entries, sys.props)
      .forall { case (k, v) => before.get(k).contains(v) })
  }
}
