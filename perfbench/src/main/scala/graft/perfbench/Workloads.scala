package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import java.time.{DayOfWeek, LocalDate}
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.runtime._

/** One operation of a pass: `run` executes it; `capture`, when given, is a
  * directory the operation's output is written to instead of the noop sink
  * (the untimed correctness pass). */
final case class Op(name: String, run: (Tracer, Long, Option[Path]) => Unit)

/** A benchmark workload: set-up warm-up, the seeded operation list of a
  * pass, and the hooks around each pass. */
trait Workload {
  /** Typical length of one timed pass on a 4-core box; fixes how many
    * passes a run of a given length makes. */
  def nominalPassSeconds: Double
  /** Extra set-up work, after tables are registered. */
  def warm(spark: SparkSession): Unit = ()
  /** One-time state the passes start from, built after [[warm]]. */
  def prepare(): Unit = ()
  /** Operations of one pass, in the seeded order for that pass. */
  def ops(pass: Int): Seq[Op]
  /** The untimed warm-up pass (pass 0); its outputs feed the correctness
    * gate. */
  def warmupOps: Seq[Op] = ops(0)
  /** Further untimed passes (noop sink) before timing starts. */
  def extraWarmupPasses: Int = 0
  def beforePass(pass: Int): Unit = ()
  /** Bytes the pass since [[beforePass]] wrote to storage. */
  def writtenBytes(): Long
  /** Bytes on disk of the tables the workload stores or reads, at the end
    * of a pass. */
  def storedBytes(): Long
  /** Transaction-log commit files the pass created. */
  def logCommits(): Long = 0L
  def afterPass(): Unit = ()
  /** After the timed passes: write what the correctness gate compares. */
  def finalCheck(spark: SparkSession, dir: Path): Unit = ()
  /** Oracle SQL per checked output name. */
  def oracles: Map[String, String] = Map.empty
}

object Workloads {

  /** The read path: a fixed cross-section of the read-only
    * `SparkEntry.queries` (no scratch warehouse): one or two per query
    * object, and the `ops`/`functions` kernels through three NorthStar
    * queries. */
  val ReadQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q14_argminmax", "q25_asof_view_before_purchase",
    "q64_skew_join", "q16_first_last_per_user", "q21_json", "q51_nested_mongo",
    "q31_dedup_exact", "q32_ngram_jaccard", "q38_ann_brute_topk")

  def apply(name: String, spark: SparkSession, data: String, work: Path,
            seed: Long): Workload = name match {
    case "read_mix" => new ReadMix(ReadQueries, spark, data, seed)
    case "daily_increment" => new DailyIncrement(spark, data, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(p: Path): Long = fileStamps(p).values.map(_._1).sum

  /** Size and modification time of every regular file under a directory. */
  def fileStamps(p: Path): Map[Path, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally w.close()
    }

  /** Bytes of the files in `after` that are new or changed since `before`. */
  def addedBytes(before: Map[Path, (Long, Long)], after: Map[Path, (Long, Long)]): Long =
    after.collect { case (f, st) if !before.get(f).contains(st) => st._1 }.sum

  /** TxLog commit files (`_txlog/<version>.json`) under a directory. */
  def commitFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.count { f =>
        f.getParent != null && f.getParent.getFileName.toString == "_txlog" &&
          f.getFileName.toString.matches("\\d+\\.json")
      }.toLong
      finally w.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) TempDirs.deleteTree(p)
}

/** `SparkEntry.queries` entries, each built and materialized to the noop
  * sink once per pass, in a seeded order per pass. */
final class ReadMix(queries: Seq[String], spark: SparkSession, data: String,
                    seed: Long) extends Workload {
  val nominalPassSeconds = 3.5

  /** Shuffle bytes written by every task so far: a read pass writes no
    * table, so the shuffle files are all it writes to disk. */
  private val shuffleWritten = new AtomicLong(0)
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  })
  private var shuffleWritten0 = 0L
  private def drained(): Long = {
    ListenerDrain(spark.sparkContext)
    shuffleWritten.get
  }
  override def beforePass(pass: Int): Unit = shuffleWritten0 = drained()
  def writtenBytes(): Long = drained() - shuffleWritten0
  /** The input tables the queries read: the read path's whole warehouse. */
  def storedBytes(): Long = Workloads.dirBytes(Paths.get(data))

  /** Timed passes run in a seeded order; warm-up passes (pass <= 0) in one
    * fixed order, so every run's JIT profile forms from the same sequence. */
  def ops(pass: Int): Seq[Op] =
    (if (pass <= 0) queries else new Random(seed * 1000003L + pass).shuffle(queries)).map { q =>
      val fn = SparkEntry.queries(q)
      Op(q, (tr, parent, capture) => {
        val df = if (tr == null) fn(spark, data)
                 else tr.span("queries.build", parent)(_ => fn(spark, data))
        def sink(): Unit = capture match {
          case Some(dir) => df.write.mode("overwrite").parquet(dir.resolve(q).toString)
          case None => df.write.format("noop").mode("overwrite").save()
        }
        if (tr == null) sink() else tr.span("queries.materialize", parent)(_ => sink())
      })
    }

  /** Each query's planner and kernel code is still being JIT-compiled
    * after one cold pass; two more passes settle it. */
  override def extraWarmupPasses: Int = 2

  /** Set-up warm-up: the first query in name order. */
  override def warm(spark: SparkSession): Unit =
    SparkEntry.queries(queries.min)(spark, data).write.format("noop").mode("overwrite").save()

  override def oracles: Map[String, String] =
    SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
}

/** A persistent warehouse (TxLog enabled, parquet and `file_format='delta'`
  * models mixed) built once in set-up; each operation is one
  * `DagRunner.run` for one seeded day. Every pass starts from a copy of the
  * set-up state, so repeated passes do the same work. */
final class DailyIncrement(spark: SparkSession, data: String, work: Path,
                           seed: Long) extends Workload {
  import DailyIncrement._
  val nominalPassSeconds = 13.0

  /** Seeded day sequence: a Monday-to-Sunday week among the last weeks of
    * the order history — daily runs process the newest data — whose
    * Saturday is the weekly `full_reload_on` day, then three consecutive
    * days from a Monday past its end (empty increments). Ten runs, so every
    * pass crosses the transaction log's 10-commit checkpoint. */
  val (start: LocalDate, days: Seq[LocalDate]) = {
    val rnd = new Random(seed)
    val s = FirstInDataMonday.plusWeeks(rnd.nextInt(InDataWeeks).toLong)
    val p = FirstPostDataMonday.plusWeeks(rnd.nextInt(PostDataWeeks).toLong)
    (s, (0 until 7).map(i => s.plusDays(i.toLong)) ++ (0 until 3).map(i => p.plusDays(i.toLong)))
  }

  private val models: Seq[Model] = Seq(
    SqlTemplater.sqlModelAuto("stg_orders", StgOrdersSql),
    SqlTemplater.sqlModelAuto("gold_orders", GoldOrdersSql),
    SqlTemplater.sqlModelAuto("fact_updates", FactUpdatesSql))
  val tables: Seq[String] = models.map(_.name).filterNot(_ == "stg_orders")

  private def vars(d: LocalDate): Map[String, String] = Map(
    "start_date_ymd" -> d.toString, "run_dow" -> d.getDayOfWeek.getValue.toString)

  private val pristine = work.resolve("warehouse_setup")
  private var passRoot: Path = pristine
  private var passStart = Map.empty[Path, (Long, Long)]
  private var warehouse: Warehouse = _
  private val sources = SourceRegistry.overDir(spark, data)

  private def ctx(d: LocalDate) = Ctx(spark, warehouse, sources, vars(d))

  /** Model builders wrapped to time templating plus DataFrame construction. */
  private def traced(tr: Tracer, parent: Long): Seq[Model] =
    models.map(m => m.copy(build = c => tr.span("runtime.template", parent)(_ => m.build(c))))

  private def runDay(models: Seq[Model], d: LocalDate): Seq[(String, RunStatus)] = {
    val res = new DagRunner(models).run(ctx(d))
    res.collect { case (n, RunStatus.Failed(e)) =>
      throw new RuntimeException(s"model $n failed on $d: $e") }
    res
  }

  /** Build the set-up warehouse: every model's first (full) run. */
  override def prepare(): Unit = {
    Workloads.deleteTree(pristine)
    warehouse = new Warehouse(spark, pristine.toString, logFormatEnabled = true)
    runDay(models, start)
  }

  /** Warm-up: the in-data week (with its full-reload Saturday) and one
    * empty day past the data, on a scratch copy of the set-up warehouse. */
  override def warmupOps: Seq[Op] = ops(0).take(8)

  def ops(pass: Int): Seq[Op] = days.map { d =>
    Op(d.toString, (tr, parent, _) => {
      if (tr == null) runDay(models, d)
      else {
        val res = tr.span("runtime.dag_run", parent)(id => runDay(traced(tr, id), d))
        val kinds = models.map(m => m.name -> kind(m.materialization)).toMap
        res.foreach {
          case (n, RunStatus.Success(s)) =>
            tr.add(s"runtime.${kinds(n)}_s", s)
            tr.add("runtime.models", 1)
          case _ =>
        }
      }
    })
  }

  override def beforePass(pass: Int): Unit = {
    if (passRoot != pristine) Workloads.deleteTree(passRoot)
    passRoot = work.resolve(s"warehouse_pass$pass")
    copyTree(pristine, passRoot)
    passStart = Workloads.fileStamps(passRoot)
    warehouse = new Warehouse(spark, passRoot.toString, logFormatEnabled = true)
  }

  /** Warehouse files (data, log, checkpoint) the pass created or rewrote. */
  def writtenBytes(): Long = Workloads.addedBytes(passStart, Workloads.fileStamps(passRoot))
  /** The whole warehouse, with its log and unvacuumed files. */
  def storedBytes(): Long = Workloads.dirBytes(passRoot)
  override def logCommits(): Long =
    Workloads.commitFiles(passRoot) - Workloads.commitFiles(pristine)

  /** Closed forms of every table after a pass, in DuckDB SQL over the inputs. */
  override def oracles: Map[String, String] = {
    val lastInData = days(6)
    Map(
      "gold_orders" -> SparkEntry.oracleSql("q30_gold_orders_pipeline"),
      "fact_updates" ->
        s"""SELECT 'gold_orders' AS table_name,
           |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, COUNT(*) AS appended_n
           |FROM orders WHERE CAST(o_orderdate AS DATE) <= DATE '$lastInData'
           |GROUP BY 1, 2""".stripMargin)
  }

  override def finalCheck(spark: SparkSession, dir: Path): Unit = {
    val c = ctx(days.last)
    tables.foreach(t => c.ref(t).write.mode("overwrite").parquet(dir.resolve(t).toString))
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }
}

object DailyIncrement {
  val FirstInDataMonday: LocalDate = LocalDate.of(2001, 6, 4)
  val InDataWeeks = 8 // last start 2001-07-23: its week ends before the data does
  val FirstPostDataMonday: LocalDate = LocalDate.of(2002, 6, 3)
  val PostDataWeeks = 26
  require(FirstInDataMonday.getDayOfWeek == DayOfWeek.MONDAY &&
    FirstPostDataMonday.getDayOfWeek == DayOfWeek.MONDAY)

  def kind(m: Materialization): String = m match {
    case _: Materialization.Table => "table"
    case Materialization.View => "view"
    case _: Materialization.IncrementalInsertOverwrite => "insert_overwrite"
    case _: Materialization.IncrementalAppend => "append"
    case _: Materialization.IncrementalMerge => "merge"
    case _: Materialization.Snapshot => "snapshot"
  }

  val StgOrdersSql: String =
    """{{ config(materialized='view') }}
      |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, c.c_mktsegment, n.n_name,
      |    DATE_FORMAT(o.o_orderdate, 'yyyy-MM') AS order_month
      |FROM {{ source('default', 'orders') }} AS o
      |JOIN {{ source('default', 'customer') }} AS c ON o.o_custkey = c.c_custkey
      |JOIN {{ source('default', 'nation') }} AS n ON c.c_nationkey = n.n_nationkey""".stripMargin

  /** The q30 gold_orders body as SQL text: insert-overwrite by month with a
    * six-month lookback, lineitem semi-joined down to the lookback orders. */
  val GoldOrdersSql: String =
    """{{ config(
      |    materialized='incremental',
      |    incremental_strategy='insert_overwrite',
      |    partition_by=['order_month'],
      |    file_format='parquet',
      |    meta={'full_reload_on': '6'}
      |) }}
      |WITH stg AS (
      |    SELECT * FROM {{ ref('stg_orders') }}
      |    {% if is_incremental() %}
      |    WHERE o_orderdate >= ADD_MONTHS(TRUNC(DATE '{{ var("start_date_ymd") }}', 'MM'), -6)
      |    {% endif %}
      |),
      |items AS (
      |    SELECT l_orderkey, COUNT(1) AS n_items,
      |        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      |    FROM {{ source('default', 'lineitem') }}
      |    {% if is_incremental() %}
      |    LEFT SEMI JOIN (
      |        SELECT o_orderkey FROM {{ source('default', 'orders') }}
      |        WHERE o_orderdate >= ADD_MONTHS(TRUNC(DATE '{{ var("start_date_ymd") }}', 'MM'), -6)
      |    ) AS k ON l_orderkey = k.o_orderkey
      |    {% endif %}
      |    GROUP BY l_orderkey
      |)
      |SELECT s.o_orderkey, s.c_mktsegment, s.n_name,
      |    COALESCE(i.n_items, 0) AS n_items, COALESCE(i.revenue, 0.0) AS revenue,
      |    s.order_month
      |FROM stg AS s LEFT JOIN items AS i ON s.o_orderkey = i.l_orderkey""".stripMargin

  /** The q62 update log as SQL text: one row per order day, appended day
    * by day on the transaction log. */
  val FactUpdatesSql: String =
    """{{ config(
      |    materialized='incremental',
      |    incremental_strategy='append',
      |    partition_by=['table_name'],
      |    file_format='delta'
      |) }}
      |SELECT 'gold_orders' AS table_name,
      |    DATE_FORMAT(o_orderdate, 'yyyy-MM-dd') AS order_date, COUNT(1) AS appended_n
      |FROM {{ source('default', 'orders') }}
      |{% if is_incremental() %}
      |WHERE o_orderdate >= DATE '{{ var("start_date_ymd") }}'
      |  AND o_orderdate < DATE_ADD(DATE '{{ var("start_date_ymd") }}', 1)
      |{% else %}
      |WHERE o_orderdate < DATE '{{ var("start_date_ymd") }}'
      |{% endif %}
      |GROUP BY 1, 2""".stripMargin
}
