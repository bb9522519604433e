package perfbench

import java.nio.file.{Files, Path, Paths}

/**
 * Closed-loop benchmark driver over graft's public functions.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --root <scratch dir> --sql-dir <dir of service_summary>
 *
 * One session is built through `GraftSession.builder`. Set-up (input
 * generation plus each workload's standing state) runs several times on
 * fresh state roots and reports its median; the measured loop then runs
 * for `--seconds`. Every operation's output is checked; a failed check
 * counts the operation as failed. The run prints one `perfbench-record`
 * line: the verdict, every metric, and the run's context (session confs,
 * nproc, external load, set-up repetitions, per-op times).
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: Path, sqlDir: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("root")).toAbsolutePath,
      Paths.get(need("sql-dir")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.root)
    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession
      .builder(master = s"local[$nproc]", appName = "perfbench", shufflePartitions = nproc)
      // locations only: the run's catalog tables and shuffle files live in
      // its own scratch root, deleted after the run
      .config("spark.sql.warehouse.dir", a.root.resolve("warehouse").toString)
      .config("spark.local.dir", a.root.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val record =
      try Harness.run(spark, a, sessionS, nproc)
      finally spark.stop()
    println("perfbench-record " + Json(record))
  }
}

/** Minimal JSON encoder for the run record; a NaN or infinite value (a
  * metric the run could not measure) is written as null, never as the
  * non-JSON token `NaN`. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(apply).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
