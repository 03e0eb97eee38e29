package graft.runtime

import java.sql.Timestamp
import java.util.concurrent.{Executors, LinkedBlockingQueue}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import graft.functions.TimeFunctions

/** Model-DAG runner — the engine-level equivalent of `dbt run`'s manifest
  * walk (reference: SURVEY.md §3.1; topological order, tag/selector slicing
  * per infra/dags_schedule.yaml:20-50, and the changed-closure "fill gaps
  * between nodes" selection of infra/dbtjoom/find.py:9-46).
  */
final class DagRunner(models: Seq[Model]) {
  private val byName: Map[String, Model] = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")

  private val children: Map[String, Seq[String]] =
    models.flatMap(m => m.deps.map(_ -> m.name)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }

  /** Kahn topological order over the declared `deps` edges. */
  def topoOrder(subset: Set[String]): Seq[Model] = {
    val inDeg = mutable.Map(subset.toSeq.map(n =>
      n -> byName(n).deps.count(subset.contains)): _*)
    val queue = mutable.PriorityQueue(inDeg.collect { case (n, 0) => n }.toSeq: _*)(
      Ordering[String].reverse) // deterministic order
    val out = mutable.ArrayBuffer.empty[String]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      out += n
      for (c <- children.getOrElse(n, Nil) if subset.contains(c)) {
        inDeg(c) -= 1
        if (inDeg(c) == 0) queue.enqueue(c)
      }
    }
    require(out.size == subset.size,
      s"dependency cycle among ${subset -- out.toSet}")
    out.toSeq.map(byName)
  }

  private def ancestors(n: String): Set[String] = {
    val seen = mutable.Set.empty[String]
    def go(x: String): Unit =
      byName.get(x).toSeq.flatMap(_.deps).foreach { d =>
        if (seen.add(d)) go(d)
      }
    go(n); seen.toSet
  }

  private def descendants(n: String): Set[String] = {
    val seen = mutable.Set.empty[String]
    def go(x: String): Unit =
      children.getOrElse(x, Nil).foreach { c => if (seen.add(c)) go(c) }
    go(n); seen.toSet
  }

  /** dbt-style selectors: `name`, `+name` (with ancestors), `name+` (with
    * descendants), `tag:x`. Empty → all models. */
  def select(selectors: Seq[String]): Set[String] =
    if (selectors.isEmpty) byName.keySet
    else selectors.flatMap {
      case s if s.startsWith("tag:") =>
        models.filter(_.tags.contains(s.stripPrefix("tag:"))).map(_.name)
      case s if s.startsWith("+") =>
        val n = s.stripPrefix("+"); ancestors(n) + n
      case s if s.endsWith("+") =>
        val n = s.stripSuffix("+"); descendants(n) + n
      case n => Seq(n)
    }.toSet.filter(byName.contains)

  /** Changed-closure: add every node lying on a dependency path between two
    * selected nodes (reference: infra/dbtjoom/find.py `fill_gaps_between_nodes`). */
  def fillGaps(selected: Set[String]): Set[String] = {
    val reachesSelected = byName.keySet.filter(n => descendants(n).exists(selected.contains))
    val reachableFromSelected = byName.keySet.filter(n => ancestors(n).exists(selected.contains))
    selected ++ (reachesSelected intersect reachableFromSelected)
  }

  /** Run the (selected) DAG. Returns per-model status in [[topoOrder]].
    *
    * Concurrency contract:
    *  - Each selected model starts as soon as its last selected dependency
    *    has finished, so independent branches overlap; a chain runs one
    *    model at a time, as a serial walk would.
    *  - Models run on a fixed pool created per run and sized to the driver's
    *    cores (at most one thread per selected model): what overlaps is
    *    driver-side work (planning, the gaps between adaptive stages,
    *    commits) while the other branch waits on its jobs.
    *    The pool's threads start inside the run, so they inherit the
    *    caller's Spark local properties (job group, scheduler pool, tags).
    *  - Model builds (templating plus analysis) overlap too: a SQL-text
    *    model binds its inputs into its own plan and registers no temp view,
    *    and the engine's functions register once per session, atomically.
    *  - A model that throws an `Exception` is `Failed` and skips its
    *    downstream but not independent branches. An `Error` starts no
    *    further model, waits for the running ones, and propagates.
    *
    * @param fullRefresh rebuild incremental models from scratch (dbt
    *   `--full-refresh`). Per-model weekly reloads also trigger when
    *   `meta("full_reload_on")` equals `var("run_dow")` (reference:
    *   `'full_reload_on': '6'`, models/spark/gold/gold_orders.sql:15). */
  def run(ctx: Ctx, selectors: Seq[String] = Nil,
          fillIntermediate: Boolean = false,
          fullRefresh: Boolean = false): Seq[(String, RunStatus)] = {
    TimeFunctions.register(ctx.spark)
    val base = select(selectors)
    val subset = if (fillIntermediate) fillGaps(base) else base
    val order = topoOrder(subset)
    val waitingOn = mutable.Map(order.map(m => m.name -> m.deps.count(subset.contains)): _*)
    val status = mutable.Map.empty[String, RunStatus]
    val finished = new LinkedBlockingQueue[(String, Either[Throwable, RunStatus])]
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(order.size, Runtime.getRuntime.availableProcessors)))
    var running = 0
    var fatal: Option[Throwable] = None

    def settle(name: String, s: RunStatus): Unit = {
      status(name) = s
      for (c <- children.getOrElse(name, Nil) if subset.contains(c)) {
        waitingOn(c) -= 1
        if (waitingOn(c) == 0) start(byName(c))
      }
    }
    def start(m: Model): Unit =
      if (m.deps.exists(d => subset.contains(d) && !status(d).isInstanceOf[RunStatus.Success]))
        settle(m.name, RunStatus.Skipped)
      else if (fatal.isEmpty) {
        running += 1
        pool.execute(() => finished.put(m.name -> attempt(ctx, m, fullRefresh)))
      }

    try {
      order.filter(m => waitingOn(m.name) == 0).foreach(start)
      while (running > 0) {
        val (name, outcome) = finished.take()
        running -= 1
        outcome match {
          case Right(s) => settle(name, s)
          case Left(e) => fatal = fatal.orElse(Some(e))
        }
      }
    } finally pool.shutdown()
    fatal.foreach(throw _)
    order.map(m => m.name -> status(m.name))
  }

  /** One model's materialization on a pool thread: `Left` only for a
    * non-`Exception` throwable, which [[run]] rethrows. */
  private def attempt(ctx: Ctx, m: Model, fullRefresh: Boolean): Either[Throwable, RunStatus] = {
    val t0 = System.nanoTime()
    try {
      val reload = fullRefresh ||
        m.meta.get("full_reload_on").exists(ctx.vars.get("run_dow").contains(_))
      materialize(ctx, m, reload)
      Right(RunStatus.Success((System.nanoTime() - t0) / 1e9))
    } catch {
      // a message-less exception is recorded by its class name
      case e: Exception => Right(RunStatus.Failed(Option(e.getMessage).getOrElse(e.toString)))
      case e: Throwable => Left(e)
    }
  }

  /** Snapshot effective-timestamp: strictly from vars, never the wall clock —
    * a Check-strategy SCD2 re-run must produce byte-identical history
    * (reference runs pass start/end dates the same way, deploy.sh:17). */
  private def runTs(ctx: Ctx): Timestamp =
    ctx.vars.get("run_ts").map(Timestamp.valueOf)
      .orElse(ctx.vars.get("start_date_ymd").map(d => Timestamp.valueOf(s"$d 00:00:00")))
      .getOrElse(throw new IllegalArgumentException(
        "snapshot models need var 'run_ts' or 'start_date_ymd' for deterministic SCD2 effective timestamps"))

  def materialize(ctx: Ctx, m: Model, fullRefresh: Boolean = false): Unit = {
    val wh = ctx.warehouse
    // the warehouse picks the table format (parquet or transaction log) from
    // file_format and, for a keyed merge, the strategy; every write below
    // dispatches on it
    wh.routeFormat(m.name, m.fileFormat, m.materialization match {
      case Materialization.IncrementalMerge(uniqueKey, _, _, _) => uniqueKey.nonEmpty
      case _ => false
    })
    def rebuild: Boolean = fullRefresh || !wh.tableExists(m.name)
    def full: DataFrame = m.build(ctx.copy(isIncremental = false))
    def increment: DataFrame = m.build(ctx.copy(isIncremental = true))
    m.materialization match {
    case Materialization.Table(partitionBy, orderBy) =>
      wh.createTable(m.name, m.build(ctx), partitionBy, orderBy)
    case Materialization.View =>
      // builder-backed: the view plan re-derives after upstream table
      // mutations (a captured DataFrame pins stale file listings)
      wh.registerView(m.name, () => m.build(ctx))
    case Materialization.IncrementalInsertOverwrite(partitionBy, onSchemaChange) =>
      if (rebuild) wh.createTable(m.name, full, partitionBy)
      else wh.insertOverwritePartitions(m.name, increment, partitionBy, onSchemaChange)
    case Materialization.IncrementalMerge(uniqueKey, partitionBy, onSchemaChange, incOnly) =>
      if (rebuild) wh.createTable(m.name, full, partitionBy)
      else wh.mergeUpsert(m.name, increment, uniqueKey, partitionBy, onSchemaChange, incOnly)
    case Materialization.IncrementalAppend(partitionBy) =>
      if (rebuild) wh.createTable(m.name, full, partitionBy)
      else wh.append(m.name, increment, partitionBy)
    case Materialization.Snapshot(uniqueKey, strategy, invalidateHardDeletes) =>
      // a delta snapshot (all 54 reference snapshots are) advances as one
      // log commit with history, like Delta's snapshot MERGE
      Scd2.snapshot(ctx, m.name, m.build(ctx), uniqueKey, strategy,
        invalidateHardDeletes, runTs(ctx))
    }
  }
}

sealed trait RunStatus
object RunStatus {
  final case class Success(seconds: Double) extends RunStatus
  final case class Failed(error: String) extends RunStatus
  case object Skipped extends RunStatus
}
