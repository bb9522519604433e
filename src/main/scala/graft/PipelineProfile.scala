package graft

import org.apache.spark.sql.functions._

/** Dev tool: run one pipeline-composition query and print the per-step
  * durations its own execution log recorded (the audit rows double as a
  * profiler — each `ExecutionLogger.logged` step carries start/end
  * timestamps). The scratch dirs live until JVM exit, so the log is read
  * back in-process after the run.
  *
  * Usage: runMain graft.PipelineProfile <name> [sfDir] [repeat=N]
  */
object PipelineProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1 && !args(1).contains("=")) args(1)
      else "/root/testdata/sf0.1"
    val repeat = args.find(_.startsWith("repeat="))
      .map(_.stripPrefix("repeat=").toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession
      .builder(s"local[$cpus]", "graft-profile", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // job-level attribution: record every job's wall time + call site so the
    // per-step log rows can be broken down further (guide §1.5)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
    // per-stage (tasks, summed task ms) keyed by stage id
    val stageStats = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
    // per-stage callsite name + gc ms, for the top-stages dump
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double, Seq[Int])]()
    // SQL execution id -> action description (e.g. "localCheckpoint at …")
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execDesc.put(s.executionId, s.description.linesIterator.next().take(80))
          case _ => ()
        }
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val p = Option(e.properties)
          val eid = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
            .getOrElse("-")
          val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
            .getOrElse("?") + " | eid=" + eid
          jobs.put(e.jobId, (desc, System.nanoTime(), e.stageIds.toSeq))
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          stageStats.put(si.stageId,
            (si.numTasks, si.taskMetrics.executorRunTime
              + (si.taskMetrics.jvmGCTime << 32) * 0)) // gc printed below
          stageNames.put(si.stageId,
            (si.name.linesIterator.next().take(90), si.taskMetrics.jvmGCTime))
          if (si.taskMetrics.jvmGCTime >= 500)
            println(f"[profile] stage ${si.stageId}%4d gc=" +
              f"${si.taskMetrics.jvmGCTime / 1e3}%6.2f s of " +
              f"run=${si.taskMetrics.executorRunTime / 1e3}%6.2f s " +
              f"tasks=${si.numTasks}")
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobs.remove(e.jobId)).foreach { case (desc, t0, sids) =>
            done.add((e.jobId, desc, (System.nanoTime() - t0) / 1e9, sids))
          }
        }
      })
    // in-process executor-thread sampler (guide §7.3's thread dumps,
    // aggregated): every 50 ms, RUNNABLE "Executor task launch worker"
    // threads contribute their top in-Spark frame — the histogram names
    // the fixed per-task cost external jcmd can't reach in this sandbox
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val shellStacks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val samplerOn = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sampler = new Thread(() => {
      while (samplerOn.get()) {
        val all = Thread.getAllStackTraces
        all.forEach { (t, frames) =>
          if (t.getName.startsWith("Executor task launch") &&
              t.getState == Thread.State.RUNNABLE && frames.nonEmpty) {
            val top = frames.iterator.find { f =>
              val c = f.getClassName
              !c.startsWith("java.") && !c.startsWith("jdk.") &&
                !c.startsWith("sun.") && !c.startsWith("scala.")
            }.getOrElse(frames.head)
            val key = s"${top.getClassName}.${top.getMethodName}"
            frameCounts.merge(key, 1, (a, b) => a + b)
            if (key.contains("Shell.runCommand") &&
                shellStacks.size() < 3)
              shellStacks.add(frames.take(14).mkString("\n    "))
          }
        }
        Thread.sleep(50)
      }
    }, "profile-sampler")
    sampler.setDaemon(true)
    sampler.start()
    (1 to repeat).foreach { i =>
      done.clear()
      if (i == repeat) frameCounts.clear() // keep the LAST (warm) run's samples
      val cm = org.apache.spark.metrics.source.CodegenMetrics
      val c0 = cm.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val n = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = cm.METRIC_COMPILATION_TIME.getCount - c0
      println(f"[profile] run $i: $name rows=$n wall=$wall%.2f s " +
        f"compiles=$compiles")
    }
    samplerOn.set(false)
    locally {
      import scala.jdk.CollectionConverters._
      println("[profile] top executor RUNNABLE frames (last run, 50 ms samples):")
      frameCounts.asScala.toSeq.sortBy(-_._2.intValue).take(15).foreach {
        case (k, n) => println(f"[profile] $n%5d  $k")
      }
      shellStacks.asScala.foreach(s =>
        println(s"[profile] Shell.runCommand stack:\n    $s"))
    }
    org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
    locally {
      import scala.jdk.CollectionConverters._
      val all = done.asScala.toSeq.sortBy(_._1)
      println(f"[profile] last run: ${all.size} jobs, " +
        f"${all.map(_._3).sum}%.2f s summed job wall")
      val seenStages = scala.collection.mutable.Set.empty[Int]
      all.filter(_._3 >= 0.05).foreach { case (id, desc, s, sids) =>
        // a stage listed by several AQE jobs ran once — charge it to the
        // first job that lists it
        val fresh = sids.filter(sid =>
          !seenStages.contains(sid) && stageStats.containsKey(sid))
        seenStages ++= fresh
        val st = fresh.flatMap(sid => Option(stageStats.get(sid)))
        val tasks = st.map(_._1).sum
        val taskSec = st.map(_._2).sum / 1e3
        val eid = desc.split("eid=").lastOption.getOrElse("-")
        val ex = eid.toLongOption.flatMap(e => Option(execDesc.get(e)))
          .getOrElse("?")
        println(f"[profile] job $id%4d $s%7.3f s  tasks=$tasks%4d " +
          f"taskSum=$taskSec%7.2f s  ${desc.take(40)}%-40s $ex")
      }
    }
    locally {
      import scala.jdk.CollectionConverters._
      println("[profile] top stages by summed task time (last run):")
      stageStats.asScala.toSeq.sortBy(-_._2._2).take(20).foreach {
        case (sid, (tasks, ms)) =>
          val (nm, gc) = Option(stageNames.get(sid)).getOrElse(("?", 0L))
          println(f"[profile] stage $sid%4d taskSum=${ms / 1e3}%7.2f s " +
            f"gc=${gc / 1e3}%6.2f s tasks=$tasks%4d  $nm")
      }
    }
    // newest scratch dir of this query's prefix (e.g. graft_q74_)
    val prefix = "graft_" + name.split("_")(0) + "_"
    val tmp = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val metaDirs = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .sortBy(-_.lastModified())
      .map(f => new java.io.File(f, "meta/execution_log"))
      .filter(_.exists())
    metaDirs.headOption match {
      case None => println(s"[profile] no meta/execution_log under $tmp/$prefix*")
      case Some(log) =>
        val rows = spark.read.parquet(log.getAbsolutePath)
          .withColumn("secs",
            (col("execution_end_ts").cast("double")
              - col("execution_start_ts").cast("double")))
          .select("target_table", "execution_status", "secs",
            "records_inserted", "records_deleted")
          .orderBy(col("execution_start_ts"))
          .collect()
        println(f"[profile] ${"step"}%-28s ${"status"}%-8s ${"secs"}%8s  in/del")
        var total = 0.0
        rows.foreach { r =>
          val s = r.getDouble(2); total += s
          println(f"[profile] ${r.getString(0)}%-28s ${r.getString(1)}%-8s $s%8.3f  ${r.getLong(3)}/${r.getLong(4)}")
        }
        println(f"[profile] sum of logged steps: $total%.2f s")
    }
    spark.stop()
  }
}
