package graft

/** Dev tool: bound the codegen-class cache's heap claim with a measured
  * number (r22 VERDICT item 7 — the `EngineConf` rationale for
  * `spark.sql.codegen.cache.maxEntries=4096` quotes it).
  *
  * Runs every `SparkEntry.queries` entry ONCE in one session (the same
  * shape as a full bench run: ~114 distinct queries' generated classes
  * resident), then full-GCs and prints:
  *   - used heap after GC,
  *   - the CodeGenerator class-cache entry count (reflection),
  *   - the in-process `gcClassHistogram` lines for generated-class and
  *     janino entries (DiagnosticCommand MBean — external `jcmd` attach is
  *     unavailable in the sandbox).
  *
  * A/B by overriding the cache size for one run, e.g.
  * `JAVA_TOOL_OPTIONS=-Dspark.sql.codegen.cache.maxEntries=100`: the
  * used-heap delta between runs is the cache's marginal footprint.
  *
  * Usage: runMain graft.HeapReport [sfDir]
  */
object HeapReport {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.core.GraftSession
      .builder("local[32]", "graft-heapreport", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cacheEntries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    var ok = 0
    var failed = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try { Bench.runOnce(spark, sfDir)(fn); ok += 1 }
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[heap] $name failed: ${e.getClass.getSimpleName}")
      }
    }
    System.gc(); Thread.sleep(1000); System.gc()
    val rt = Runtime.getRuntime
    val usedMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
    val classes = java.lang.management.ManagementFactory
      .getClassLoadingMXBean.getLoadedClassCount
    // CodeGenerator.cache is a private Guava LoadingCache on the companion
    val cacheSize =
      try {
        val mod = Class.forName(
          "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
        val inst = mod.getField("MODULE$").get(null)
        val m = mod.getDeclaredMethods.find(_.getName == "cache").getOrElse {
          val f = mod.getDeclaredField("cache"); f.setAccessible(true)
          null
        }
        val cache =
          if (m != null) { m.setAccessible(true); m.invoke(inst) }
          else {
            val f = mod.getDeclaredField("cache"); f.setAccessible(true)
            f.get(inst)
          }
        cache.getClass.getMethod("size").invoke(cache).toString
      } catch { case e: Throwable => s"unreadable (${e.getClass.getSimpleName})" }
    println(s"[heap] queries ok=$ok failed=$failed cacheConf=$cacheEntries " +
      s"cacheEntries=$cacheSize usedHeapAfterGcMb=$usedMb loadedClasses=$classes")
    // in-process class histogram (jcmd attach is namespace-blocked here)
    try {
      val server = java.lang.management.ManagementFactory.getPlatformMBeanServer
      val name = new javax.management.ObjectName(
        "com.sun.management:type=DiagnosticCommand")
      val histo = server.invoke(name, "gcClassHistogram",
        Array[AnyRef](null), Array("[Ljava.lang.String;")).asInstanceOf[String]
      val lines = histo.linesIterator.toSeq
      val gen = lines.filter(l => l.contains("GeneratedClass") ||
        l.toLowerCase.contains("janino") || l.contains("CodeAndComment"))
      println("[heap] generated/janino histogram lines (top 12 by bytes):")
      gen.take(12).foreach(l => println(s"[heap] $l"))
      lines.reverseIterator.find(_.contains("Total"))
        .foreach(l => println(s"[heap] $l"))
    } catch { case e: Throwable =>
      System.err.println(s"[heap] histogram unavailable: $e")
    }
    spark.stop()
  }
}
