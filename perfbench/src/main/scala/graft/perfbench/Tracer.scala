package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional for spans
  * the benchmark times itself). `parent` is the id of the enclosing span;
  * `op` is the operation id every span of one operation shares. */
final case class Span(id: Long, name: String, start: Double, end: Double,
                      parent: Long, op: String)

/** Per-layer counters, measured from outside the engine with Spark's public
  * listener interfaces, the static codegen histograms and the TxLog profiler
  * hook. Installed only for traced passes ([[install]] / [[uninstall]]);
  * untraced passes run with none of these listeners registered. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val sums = new ConcurrentHashMap[String, Double]()
  def add(key: String, v: Double): Unit = sums.merge(key, v, (a, b) => a + b)
  def snapshot: Map[String, Double] = sums.asScala.toMap

  /** Id of the operation running now; every span records it. */
  @volatile var currentOp: String = ""

  /** Bench-side span around `f`, also summed into the `<name>_s` metric;
    * returns f's value. */
  def span[A](name: String, parent: Long)(f: Long => A): A = {
    val id = ids.incrementAndGet()
    val t0 = nowMs()
    try f(id) finally {
      val t1 = nowMs()
      spans.add(Span(id, name, t0, t1, parent, currentOp))
      add(s"${name}_s", (t1 - t0) / 1e3)
    }
  }
  def record(name: String, start: Double, end: Double, parent: Long, op: String): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, start, end, parent, op))
    id
  }

  // ---- Spark listener: jobs, stages, tasks, SQL executions ----
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val execs = new ConcurrentHashMap[Long, Exec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val op = Option(p).flatMap(x => Option(x.getProperty(OpProperty))).getOrElse("")
      val exec = Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new Job(e.time, op, exec))
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("exec.stages", 1)
      add("exec.tasks", e.stageInfo.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      add("scan.input_mb", m.inputMetrics.bytesRead / MB)
      add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, new Exec(s.time, writesFiles(s.sparkPlanInfo)))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.end = s.time)
      case _ =>
    }
  }

  // ---- QueryExecutionListener: driver planning phases and write metrics ----
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      onExecution(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onExecution(qe)
  }

  private def onExecution(qe: QueryExecution): Unit = {
    add("planning.executions", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"planning.${phase}_s", s.durationMs / 1e3)
    }
    val plan = qe.executedPlan
    val write = collectNodes(plan).collectFirst { case w: DataWritingCommandExec => w }
    write match {
      case Some(w) =>
        val m = w.cmd.metrics
        def v(k: String) = m.get(k).map(_.value.toDouble).getOrElse(0.0)
        add("write.files", v("numFiles"))
        add("write.mb", v("numOutputBytes") / MB)
        add("write.rows", v("numOutputRows"))
        add("write.partitions", v("numParts"))
        add("output.rows", v("numOutputRows"))
      case None =>
        // noop-sink reads: output rows of the first node under the sink
        // that counts them
        collectNodes(plan).iterator
          .flatMap(_.metrics.get("numOutputRows")).map(_.value).find(_ > 0)
          .foreach(r => add("output.rows", r.toDouble))
    }
  }

  /** Every physical node, looking through adaptive and query-stage wrappers. */
  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(n: SparkPlan): Unit = {
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      n.children.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  // ---- TxLog profiler hook ----
  private val txlogProfiler: (String, Double) => Unit = (k, s) => {
    add(s"${k}_s", s)
    add(s"${k}_n", 1)
  }

  private var codegenCount0 = 0L

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    graft.plans.TxLog.profiler = txlogProfiler
    codegenCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  /** Drain the listener bus, detach every hook, and fold the job/execution
    * intervals into spans and driver-gap / commit times. */
  def uninstall(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    graft.plans.TxLog.profiler = null
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    add("codegen.compiles", (h.getCount - codegenCount0).toDouble)
    foldIntervals()
    jobs.clear(); execs.clear()
  }

  /** Each execution becomes a child of the innermost benchmark span that
    * contains its start, and each job a child of its execution. */
  private def foldIntervals(): Unit = {
    val bench = spans.asScala.toSeq
    def innermost(t: Double): Option[Span] =
      bench.filter(s => t >= s.start && t <= s.end).minByOption(s => s.end - s.start)
    val jobsByExec = jobs.asScala.values.groupBy(_.execId)
    execs.asScala.foreach { case (execId, x) =>
      if (x.end >= 0) {
        val parent = innermost(x.start.toDouble)
        val spanId = record("execution", x.start, x.end, parent.map(_.id).getOrElse(0L),
          parent.map(_.op).getOrElse(""))
        val js = jobsByExec.getOrElse(execId, Nil).filter(_.end >= 0)
        js.foreach(j => record("job", j.start, j.end, spanId, j.op))
        val gap = (x.end - x.start - coveredMs(js.map(j => (j.start.toDouble, j.end.toDouble)))) / 1e3
        add("planning.driver_gap_s", gap)
        if (x.isWrite) {
          add("write.s", (x.end - x.start) / 1e3)
          add("commit.s", gap)
        }
      }
    }
  }
}

object Tracer {
  private final class Job(val start: Long, val op: String, val execId: Long) {
    @volatile var end: Long = -1L
  }
  private final class Exec(val start: Long, val isWrite: Boolean) {
    @volatile var end: Long = -1L
  }

  val OpProperty = "perfbench.op"
  val MB: Double = 1024.0 * 1024.0
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Length of the union of intervals. */
  def coveredMs(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))).filter(x => x._2 > x._1)
        (s.end - s.start - coveredMs(kids)) / 1e3
      }.sum
    }
  }

  /** A file-writing command (`Execute InsertIntoHadoopFsRelationCommand`,
    * `Execute CreateDataSourceTableAsSelectCommand`, ...) anywhere in the plan. */
  def writesFiles(p: SparkPlanInfo): Boolean =
    (p.nodeName.startsWith("Execute ") &&
      (p.nodeName.contains("InsertInto") || p.nodeName.contains("AsSelect"))) ||
      p.children.exists(writesFiles)

  def compileMsMean(): Double = {
    val vals = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues
    if (vals.isEmpty) 0.0 else vals.sum.toDouble / vals.length
  }
}
