package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Scratch dirs for specs, all deleted when the test JVM exits — suites
  * must not accumulate /tmp litter across runs. Use this instead of
  * `Files.createTempDirectory` (or a try/finally for dirs that can go
  * earlier, like DqSuiteSpec.withTempDir). */
object TempDirs {
  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.synchronized(dirs.toList).foreach { p =>
        try {
          val walk = java.nio.file.Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
          finally walk.close()
        } catch { case _: Throwable => () } // exit-time best effort
      }))
  }
  def create(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.synchronized { dirs += p }
    p
  }
}

/** Shared local session for specs: the shipped engine ([[graft.core.EngineConf]])
  * with three declared overrides — `local[4]`, 4 shuffle partitions and a
  * scratch warehouse. */
object SparkFixture {
  val master = "local[4]"
  val shufflePartitions = 4
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder(master, "graft-test", shufflePartitions)
      .config("spark.sql.warehouse.dir",
        TempDirs.create("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = SparkFixture.spark
}
