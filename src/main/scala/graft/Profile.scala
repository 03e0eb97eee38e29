package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job wall-clock attribution for one or more declared queries (r17
  * optimization round, guide §1 "measure first"). Runs each named query once
  * untimed (warm), then once with a listener recording every Spark job's
  * call site and duration — for the pipeline queries (q30/q62/q72/q74/…)
  * this splits the wall between model materializations, probes/collects and
  * the final noop read, which per-query totals cannot.
  *
  * Usage: runMain graft.Profile q72_orders_wide [more names...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object Profile {
  private final case class JobRow(id: Int, site: String, group: String,
                                  start: Long, var end: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.runtime.Dialect.local(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stages = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Long, Long, Int, String)]())
    @volatile var recording = false
    // driver-side planning attribution: QueryPlanningTracker phase sums per
    // executed query (analysis / optimization / planning are pure driver time
    // that job rows never see — the "gap" line below)
    val phaseTotals = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val execRows = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Long, String)]())
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = if (recording) {
        qe.tracker.phases.foreach { case (phase, summary) =>
          phaseTotals.merge(phase, summary.durationMs, (a, b) => a + b)
        }
        phaseTotals.merge("TOTAL_EXEC", durationNs / 1000000, (a, b) => a + b)
        phaseTotals.merge("N_EXECUTIONS", 1L, (a, b) => a + b)
        // one-line tag: command node (shows write target) or top operator
        val tag = qe.analyzed.getClass.getSimpleName + " " +
          qe.analyzed.toString.linesIterator.take(1).mkString.take(140)
        execRows.add((funcName, durationNs / 1000000, tag))
        // dump the FINAL (post-AQE) executed plan with hot-node metrics for
        // slow write commands, when asked
        if (sys.env.contains("GRAFT_PROFILE_DUMP") && durationNs > 1500L * 1000000) {
          def finalPlan(p: org.apache.spark.sql.execution.SparkPlan)
              : org.apache.spark.sql.execution.SparkPlan = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case other => other
          }
          val sb = new StringBuilder
          def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
            val interesting = p.metrics.filter { case (k, m) =>
              m.value > 0 && (k.contains("Time") || k.contains("time") ||
                k == "numOutputRows" || k == "spillSize")
            }.map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
            sb.append("  " * depth).append(p.nodeName).append("  ")
              .append(interesting).append("\n")
            p.children.foreach(walk(_, depth + 1))
            p match {
              case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                walk(q.plan, depth + 1)
              case r: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                walk(r.executedPlan, depth + 1)
              case _ =>
            }
          }
          walk(finalPlan(qe.executedPlan), 0)
          val f = java.nio.file.Paths.get(
            s"/tmp/graft_profile_dump_${System.nanoTime()}.txt")
          java.nio.file.Files.writeString(f,
            s"=== $funcName ${durationNs / 1e6} ms ===\n$tag\n${sb.toString}")
          println(s"  [dump] $f")
        }
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (recording) {
        val site = Option(js.properties.getProperty("callSite.short")).getOrElse("?")
        val desc = Option(js.properties.getProperty("spark.job.description")).getOrElse(site)
        jobs.put(js.jobId, JobRow(js.jobId, desc, site, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (recording) {
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (recording) {
        val si = sc.stageInfo
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
        val run = si.taskMetrics.executorRunTime
        val scopes = si.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString("|")
        stages.add((si.stageId, wall, run, si.numTasks, scopes.take(180)))
      }
    })

    for (name <- args) {
      val fn = SparkEntry.queries(name)
      // warm (untimed): codegen caches, JIT, parquet footers
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      jobs.clear()
      phaseTotals.clear()
      execRows.clear()
      stages.clear()
      recording = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener delivery is async: drain the bus so every event of the
      // timed run is recorded before recording stops, then snapshot the
      // synchronized lists under their lock
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
      recording = false
      val rows = {
        import scala.jdk.CollectionConverters._
        jobs.values.asScala.toSeq.sortBy(_.id)
      }
      val jobSum = rows.map(r => (r.end - r.start) / 1e3).sum
      println(f"\n===== $name wall=$wall%.3f s, ${rows.size} jobs, job-sum=$jobSum%.3f s =====")
      println("  --- executions (QueryExecutionListener, ordered) ---")
      locally {
        import scala.jdk.CollectionConverters._
        val snap = execRows.synchronized(execRows.asScala.toList)
        snap.foreach { case (fn, ms, tag) =>
          println(f"  ${ms / 1000.0}%8.3f s  $fn%-18s $tag")
        }
      }
      println("  --- top stages by wall (stageId, wall s, executorRun s, tasks, site) ---")
      locally {
        import scala.jdk.CollectionConverters._
        val ss = stages.synchronized(stages.asScala.toList)
        println(f"  stage-wall-sum=${ss.map(_._2).sum / 1e3}%.3f s, stage-run-sum=${ss.map(_._3).sum / 1e3}%.3f s, ${ss.size} stages")
        ss.sortBy(-_._2).take(25).foreach { case (id, w, r, n, nm) =>
          println(f"  s$id%-5d ${w / 1e3}%7.3f ${r / 1e3}%8.3f  x$n%-4d $nm")
        }
      }
      println("  --- planning phases (driver, summed over executions) ---")
      locally {
        import scala.jdk.CollectionConverters._
        phaseTotals.asScala.toSeq.sortBy(-_._2).foreach { case (p, ms) =>
          println(f"  ${ms / 1000.0}%8.3f s  $p")
        }
      }
    }
    spark.stop()
  }
}
