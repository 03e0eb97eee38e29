package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.Tables

/** Runs one workload in one JVM with one closed-loop client: one cold
  * set-up, untimed warm-up passes (the first one's outputs feed the
  * correctness gate), then ⌈seconds / nominal pass time⌉ complete timed
  * passes, fewer if the next one would end past `--budget` seconds of JVM
  * uptime. With `--trace 1`, passes alternate untraced and traced.
  * Everything measured is written as one JSON document to `--result`;
  * `run.py` turns it into the benchmark's metrics.
  *
  * Usage: Main --workload NAME --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --cores N --budget S --result FILE
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = args("seconds").toDouble
    val budget = args("budget").toDouble
    val trace = args("trace") == "1"
    val data = args("data")
    val work = Paths.get(args("work")).toAbsolutePath
    val cores = args("cores").toInt
    val out = mutable.LinkedHashMap.empty[String, Any]

    // ---- set-up, all cold: a session with registered tables, the
    // workload's one-time state (the daily warehouse), then warm-up ----
    val spark = session(cores, work)
    Tables.all.foreach(t => Tables(spark, data, t))
    val wl = Workloads(args("workload"), spark, data, work, args("seed").toLong)
    wl.warm(spark)
    out("session_s") = uptimeS()
    log("session ready")
    wl.prepare()
    out("prepare_s") = uptimeS() - out("session_s").asInstanceOf[Double]
    log("prepared")
    out("conf") = spark.conf.getAll

    // ---- untimed warm-up; the first pass's outputs are the correctness
    // sample ----
    val checkDir = work.resolve("check")
    val failures = mutable.ArrayBuffer.empty[Seq[String]]
    var attempted = 0
    def attempt(op: Op)(f: => Unit): Boolean = {
      attempted += 1
      try { f; true }
      catch { case e: Throwable =>
        failures += Seq(op.name, (e.getClass.getName + ": " + e.getMessage).take(500)); false }
    }
    for (w <- 0 to wl.extraWarmupPasses) {
      wl.beforePass(-w)
      (if (w == 0) wl.warmupOps else wl.ops(-w)).foreach { op =>
        attempt(op)(op.run(null, 0L, if (w == 0) Some(checkDir) else None))
      }
      wl.afterPass()
    }
    // set-up time: JVM launch to the first timed pass
    out("setup_s") = uptimeS()
    log("warm-up done")

    // ---- timed passes: a fixed count for the requested length, so every
    // run does the same work, unless the next pass would overrun the time
    // budget (a much slower engine still gets measured); a traced run
    // alternates untraced and traced ----
    val nPasses = math.max(if (trace) 2 else 1, math.ceil(seconds / wl.nominalPassSeconds).toInt)
    val heap = new HeapWatch
    val tracer = if (trace) new Tracer(spark) else null
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var longest = 0.0
    while (passes.size < nPasses && (passes.isEmpty || uptimeS() + 1.5 * longest < budget)) {
      val pass = passes.size + 1
      val traced = trace && pass % 2 == 0
      wl.beforePass(pass)
      val ops = wl.ops(pass)
      if (traced) tracer.install()
      heap.start()
      val p0 = System.nanoTime()
      val lat = ops.map { op =>
        val opId = s"p$pass/${op.name}"
        spark.sparkContext.setLocalProperty(Tracer.OpProperty, opId)
        val s0 = Tracer.nowMs()
        val ok = attempt(op) {
          if (traced) {
            tracer.currentOp = opId
            tracer.span("op", 0L)(id => op.run(tracer, id, None))
          } else op.run(null, 0L, None)
        }
        Seq(op.name, (Tracer.nowMs() - s0) / 1e3, ok)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      longest = math.max(longest, wall)
      heap.stop()
      spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
      if (traced) tracer.uninstall()
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "written_bytes" -> wl.writtenBytes(), "stored_bytes" -> wl.storedBytes(),
        "log_commits" -> wl.logCommits(), "peak_live_heap_bytes" -> heap.peakLive,
        "ops" -> lat)
      wl.afterPass()
      log(f"pass $pass $wall%.2f s${if (traced) " (traced)" else ""}")
    }
    if (passes.size < nPasses) log(s"time budget reached: ${passes.size} of $nPasses timed passes")
    out("passes") = passes.toSeq
    out("passes_planned") = nPasses

    // ---- correctness sample of the timed state, then the oracles ----
    try wl.finalCheck(spark, checkDir)
    catch { case e: Throwable => failures += Seq("final_check", String.valueOf(e.getMessage)) }
    out("oracles") = wl.oracles
    out("check_dir") = checkDir.toString
    out("attempted") = attempted
    out("failures") = failures.toSeq
    if (tracer != null) {
      val spans = tracer.spans.asScala.toSeq.sortBy(_.start)
      out("layers") = tracer.snapshot ++ Map("codegen.compile_ms_mean" -> Tracer.compileMsMean())
      out("self_s") = Tracer.selfTimes(spans)
      Files.write(work.resolve("spans.jsonl"), spans.map(json.writeValueAsString).asJava)
    }
    Files.writeString(Paths.get(args("result")), json.writeValueAsString(out))
    spark.stop()
  }

  /** The benchmark's session: the engine's bench settings at
    * `local[cores]`, with every scratch location inside the run directory. */
  def session(cores: Int, work: Path): SparkSession =
    graft.runtime.Dialect(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  /** Seconds since the JVM was launched: its uptime when `main` began (in
    * milliseconds) plus the nanosecond clock since. */
  def uptimeS(): Double = launchToMainS + (System.nanoTime() - started) / 1e9
  private val launchToMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}

/** Peak driver heap live during a pass: the largest heap occupancy right
  * after a collection, from the JVM's GC notifications, and after a full
  * collection that ends each pass (outside its timing) so every pass has a
  * reading. A full collection before each pass, also outside its timing,
  * starts every pass from the same heap, so no pass pays for garbage left
  * by set-up, warm-up or the pass before. */
final class HeapWatch extends NotificationListener {
  @volatile private var on = false
  @volatile var peakLive = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }
  def start(): Unit = { System.gc(); peakLive = 0L; on = true }
  def stop(): Unit = {
    on = false
    System.gc()
    peakLive = math.max(peakLive, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val live = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if !nonHeap(pool) => u.getUsed
      }.sum
      peakLive = math.max(peakLive, live)
    }
  private def nonHeap(pool: String): Boolean =
    pool.contains("Metaspace") || pool.contains("Code") || pool.contains("Compressed")
}
