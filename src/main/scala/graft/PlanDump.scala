package graft

/** Dev tool: run queries and write their `.explain("formatted")` output to
  * files — the plan evidence the optimization rounds commit under plans/.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  * Writes <outDir>/<query>_<suffix>.txt for each query.
  *
  * NOTE pipeline-composition queries EXECUTE while being constructed (the
  * nights run eagerly); the dumped plan is the declared query's returned
  * frame. For those queries the committed step/job profiles
  * (OPTIMIZATION_r21.md) carry the inside-the-pipeline evidence.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.core.GraftSession
      .builder("local[32]", "graft-plandump", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try Bench.isolated(spark) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $name ($suffix)")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
