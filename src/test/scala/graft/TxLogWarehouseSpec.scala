package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.TxLog
import graft.runtime._

/** file_format='delta' routing: the SAME model DAG declared
  * `file_format='parquet'` and `'delta'` must produce identical tables
  * through every incremental strategy but the keyed merge — while the log
  * side additionally gets commit history and time travel. A keyed merge
  * writes the log whatever its file_format, so its cases check the log's
  * rows against their closed form. The warehouse picks the format from the
  * model ([[Warehouse.routeFormat]]). */
class TxLogWarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def ctxPair(): (Ctx, Ctx) = {
    val pq = Ctx(spark, new Warehouse(spark, runtime.TempDirs.create("graft_wh_pq")),
      SourceRegistry.overDir(spark, "/root/testdata/sf0.001"))
    val lg = Ctx(spark, new Warehouse(spark, runtime.TempDirs.create("graft_wh_lg")),
      SourceRegistry.overDir(spark, "/root/testdata/sf0.001"))
    (pq, lg)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def materialize(ctx: Ctx, m: Model): Unit = new DagRunner(Seq(m)).materialize(ctx, m)

  /** `m` declared parquet on `pq`, as declared (delta) on `lg`. */
  private def runBoth(pq: Ctx, lg: Ctx, m: Model): Unit = {
    materialize(pq, m.copy(fileFormat = "parquet"))
    materialize(lg, m)
  }

  private def assertParity(pq: Ctx, lg: Ctx, name: String): Unit = {
    assert(lg.warehouse.isLogBacked(name), s"$name should be log-backed")
    assert(!pq.warehouse.isLogBacked(name), s"parquet $name must not be log-backed")
    val a = sortedRows(pq.warehouse.read(name))
    val b = sortedRows(lg.warehouse.read(name))
    assert(a == b, s"$name diverged between parquet and txlog:\n  pq=${a.take(3)}\n  lg=${b.take(3)}")
  }

  test("table materialization: byte-identical rows, log-backed storage") {
    val (pq, lg) = ctxPair()
    val m = Model("t_dim",
      c => c.source("default", "nation").select($"n_nationkey", $"n_name"),
      Materialization.Table(), fileFormat = "delta")
    runBoth(pq, lg, m)
    assertParity(pq, lg, "t_dim")
  }

  test("insert_overwrite: month partitions replaced identically; history accrues") {
    val (pq, lg) = ctxPair()
    def model(filterExpr: String) = Model("t_io",
      c => c.source("default", "orders")
        .withColumn("om", date_format($"o_orderdate", "yyyy-MM"))
        .filter(filterExpr)
        .select($"o_orderkey", $"o_totalprice", $"om"),
      Materialization.IncrementalInsertOverwrite(Seq("om")), fileFormat = "delta")
    runBoth(pq, lg, model("om < '1999-01'"))
    // second run overwrites some months and adds new ones
    runBoth(pq, lg, model("om >= '1998-06' AND om < '2000-01'"))
    assertParity(pq, lg, "t_io")
    val hist = TxLog.history(Paths.get(lg.warehouse.tablePath("t_io")))
    assert(hist.size == 2, s"expected create + incremental commits, got $hist")
    // time travel: v0 is the first run's state
    val v0 = TxLog.read(spark, Paths.get(lg.warehouse.tablePath("t_io")), asOf = 0L)
    assert(v0.agg(max($"om")).head().getString(0) < "1999-01")
  }

  test("a second read of an unchanged log table starts no Spark job before its action") {
    val (_, lg) = ctxPair()
    // a few files, and 300: past Spark's parallel-listing threshold (32
    // paths) a read that lists its files runs the listing as a job
    val few = Model("t_reread",
      c => c.source("default", "orders").select($"o_orderkey", $"o_orderstatus"),
      Materialization.IncrementalInsertOverwrite(Seq("o_orderstatus")), fileFormat = "delta")
    val many = Model("t_reread_many",
      c => c.spark.range(0, 600).select($"id", ($"id" % 300).as("p")),
      Materialization.IncrementalInsertOverwrite(Seq("p")), fileFormat = "delta")
    for (m <- Seq(few, many)) {
      materialize(lg, m)
      val first = lg.warehouse.read(m.name)
      var second: DataFrame = null
      assert(jobsStartedBy { second = lg.warehouse.read(m.name) } == 0, m.name)
      val plan = second.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
      assert(sortedRows(second) == sortedRows(first))
    }
    assert(TxLog.snapshot(Paths.get(lg.warehouse.tablePath("t_reread_many"))).files.size >= 300)
  }

  test("a model's SQL predicate on a log table's partition column scans only its files") {
    val (pq, lg) = ctxPair()
    val m = Model("t_prune",
      c => c.source("default", "orders").select($"o_orderkey", $"o_orderstatus"),
      Materialization.IncrementalInsertOverwrite(Seq("o_orderstatus")), fileFormat = "delta")
    runBoth(pq, lg, m)
    val sql = "SELECT o_orderkey FROM {{ ref('t_prune') }} WHERE o_orderstatus = 'F'"
    val picked = SqlTemplater.runSql(lg, "pick", sql)
    val files = TxLog.snapshot(Paths.get(lg.warehouse.tablePath("t_prune"))).files
    val inF = files.count(_.partitionValues.get("o_orderstatus").contains("F"))
    assert(inF > 0 && inF < files.size)
    assert(filesScanned(picked) == inF)
    assert(sortedRows(picked) == sortedRows(SqlTemplater.runSql(pq, "pick", sql)))
  }

  test("insert_overwrite: NULL and escaped string partition values read back as written") {
    val (pq, lg) = ctxPair()
    val m = Model("t_esc",
      _ => Seq((1, "a:b"), (2, null), (3, "x/y"), (4, "50%")).toDF("id", "p"),
      Materialization.IncrementalInsertOverwrite(Seq("p")), fileFormat = "delta")
    runBoth(pq, lg, m)
    assertParity(pq, lg, "t_esc")
  }

  test("insert_overwrite: a timestamp partition value reads back as written") {
    val (pq, lg) = ctxPair()
    val m = Model("t_tsp",
      _ => Seq((1, java.sql.Timestamp.valueOf("2001-07-01 10:00:00"))).toDF("id", "ts"),
      Materialization.IncrementalInsertOverwrite(Seq("ts")), fileFormat = "delta")
    runBoth(pq, lg, m)
    assertParity(pq, lg, "t_tsp")
  }

  test("merge on an escaped partition value replaces the matched key") {
    val (_, lg) = ctxPair()
    def model(v: String) = Model("t_mesc",
      _ => Seq((1, "a:b", v)).toDF("id", "p", "v"),
      Materialization.IncrementalMerge(Seq("id"), Seq("p")), fileFormat = "delta")
    materialize(lg, model("one"))
    materialize(lg, model("two"))
    assert(lg.warehouse.isLogBacked("t_mesc"))
    assert(lg.warehouse.read("t_mesc").as[(Int, String, String)].collect().toSeq ==
      Seq((1, "a:b", "two")))
  }

  test("a log table whose snapshot has no files reads as an empty frame with its schema") {
    val (pq, lg) = ctxPair()
    val m = Model("t_empty",
      c => c.source("default", "orders").filter($"o_orderkey" < 0)
        .select($"o_orderkey", $"o_orderstatus"),
      Materialization.IncrementalInsertOverwrite(Seq("o_orderstatus")), fileFormat = "delta")
    runBoth(pq, lg, m)
    assert(TxLog.snapshot(Paths.get(lg.warehouse.tablePath("t_empty"))).files.isEmpty)
    assertParity(pq, lg, "t_empty")
    assert(lg.warehouse.read("t_empty").schema == pq.warehouse.read("t_empty").schema)
  }

  test("append accumulates identically") {
    val (pq, lg) = ctxPair()
    def model(filterExpr: String) = Model("t_ap",
      c => c.source("default", "region").filter(filterExpr)
        .select($"r_regionkey", $"r_name"),
      Materialization.IncrementalAppend(), fileFormat = "delta")
    runBoth(pq, lg, model("r_regionkey < 3"))
    runBoth(pq, lg, model("r_regionkey >= 3"))
    assertParity(pq, lg, "t_ap")
  }

  test("merge upserts identically, at file granularity on the log side") {
    val (_, lg) = ctxPair()
    def orders = lg.source("default", "orders")
      .withColumn("om", date_format($"o_orderdate", "yyyy-MM"))
    def model(filterExpr: String, priceBump: Double) = Model("t_mg",
      _ => orders.filter(filterExpr)
        .select($"o_orderkey", ($"o_totalprice" + priceBump).as("price"), $"om"),
      Materialization.IncrementalMerge(Seq("o_orderkey"), Seq("om")),
      fileFormat = "delta")
    materialize(lg, model("om < '1999-01'", 0.0))
    // second run updates a slice of existing keys (price bump) + inserts new
    materialize(lg, model("om >= '1998-06' AND om < '2000-01'", 1.0))
    assert(lg.warehouse.isLogBacked("t_mg"))
    // closed form: every order before 2000-01, bumped from 1998-06 on
    val expected = orders.filter("om < '2000-01'").select($"o_orderkey",
      ($"o_totalprice" + when($"om" >= "1998-06", 1.0).otherwise(0.0)).as("price"), $"om")
    assert(sortedRows(lg.warehouse.read("t_mg")) == sortedRows(expected))
    // the merge commit removed only the files holding matched keys
    val hist = TxLog.history(Paths.get(lg.warehouse.tablePath("t_mg")))
    assert(hist.size == 2 && hist.last._3 > 0, s"merge should tombstone matched files: $hist")
  }

  test("a merge clusters rows by partition: one live file per touched partition") {
    val wh = new Warehouse(spark, runtime.TempDirs.create("graft_wh_cluster"))
    wh.routeFormat("t_cl", "parquet", keyedMerge = true)
    val table = spark.range(4000).select($"id", ($"id" % 4).as("p"), lit(1).as("v"))
    wh.createTable("t_cl", table, Seq("p"))
    def live = TxLog.snapshot(Paths.get(wh.tablePath("t_cl"))).files
      .groupBy(_.partitionValues("p")).map { case (p, fs) => p -> fs.map(_.path).toSet }
    val before = live
    assert(before.keySet == Set("0", "1", "2", "3") && before.values.forall(_.size == 1))
    // every key of partitions 0 and 1, spread over 8 Spark partitions
    val increment = table.filter($"p" < 2).withColumn("v", lit(2)).repartition(8)
    assert(increment.count() == 2000)
    wh.mergeUpsert("t_cl", increment, Seq("id"), Seq("p"))
    val after = live
    assert(after.keySet == before.keySet && after.values.forall(_.size == 1), after)
    assert(after("2") == before("2") && after("3") == before("3"), "untouched partitions keep their file")
    assert(wh.read("t_cl").groupBy($"v").count().as[(Int, Long)].collect().toSet ==
      Set((1, 2000L), (2, 2000L)))
  }

  test("on_schema_change sync_all_columns applies on the log path") {
    val (pq, lg) = ctxPair()
    def model(withExtra: Boolean) = Model("t_sc",
      c => {
        val base = c.source("default", "region").select($"r_regionkey", $"r_name")
        if (withExtra) base.withColumn("extra", lit(7)) else base
      },
      Materialization.IncrementalInsertOverwrite(Nil, OnSchemaChange.SyncAllColumns),
      fileFormat = "delta")
    runBoth(pq, lg, model(withExtra = false))
    runBoth(pq, lg, model(withExtra = true))
    assertParity(pq, lg, "t_sc")
    assert(lg.warehouse.read("t_sc").columns.contains("extra"))
  }

  test("merge without a unique key keeps new columns under append_new_columns on the log path") {
    val (pq, lg) = ctxPair()
    def model(withExtra: Boolean) = Model("t_nk",
      c => {
        val base = c.source("default", "region").select($"r_regionkey", $"r_name")
        if (withExtra) base.withColumn("extra", lit(7)) else base
      },
      Materialization.IncrementalMerge(Nil, Nil, OnSchemaChange.AppendNewColumns),
      fileFormat = "delta")
    runBoth(pq, lg, model(withExtra = false))
    runBoth(pq, lg, model(withExtra = true))
    assertParity(pq, lg, "t_nk")
    assert(lg.warehouse.read("t_nk").columns.contains("extra"))
  }

  test("SCD2 snapshot (the 54 delta snapshots' shape) routes onto the log: " +
       "identical history table, atomic advance commits, time travel") {
    val (pq, lg) = ctxPair()
    def model(cutoff: Int, bump: String) = Model("t_snap",
      c => c.source("default", "region").filter($"r_regionkey" < cutoff)
        .select($"r_regionkey".as("rk"),
          concat($"r_name", lit(bump)).as("payload"),
          lit(java.sql.Timestamp.valueOf(s"2025-0$cutoff-01 00:00:00")).as("upd")),
      Materialization.Snapshot("rk", Scd2Strategy.Timestamp("upd"),
        invalidateHardDeletes = false),
      fileFormat = "delta")
    def run(ctx: Ctx, m: Model) =
      materialize(ctx.copy(vars = ctx.vars + ("run_ts" -> "2025-01-01 00:00:00")), m)
    run(pq, model(3, "").copy(fileFormat = "parquet")); run(lg, model(3, ""))
    // second advance: changed payloads close old rows and open new ones
    run(pq, model(4, "!").copy(fileFormat = "parquet")); run(lg, model(4, "!"))
    assertParity(pq, lg, "t_snap")
    val t = Paths.get(lg.warehouse.tablePath("t_snap"))
    val hist = TxLog.history(t)
    assert(hist.size == 2, s"create + one atomic SCD2 advance: $hist")
    // pre-advance snapshot remains time-travelable (no closed rows yet)
    val v0 = TxLog.read(spark, t, asOf = 0L)
    assert(v0.filter($"dbt_valid_to".isNotNull).count() == 0)
    assert(lg.warehouse.read("t_snap").filter($"dbt_valid_to".isNotNull).count() > 0)
  }

  test("a model's file_format and keyed merge pick its table format") {
    val (_, ctx) = ctxPair() // each model's declaration alone picks its format
    def region = ctx.source("default", "region").select($"r_regionkey", $"r_name")
    val models = Seq(
      Model("t_pq", _ => region, Materialization.Table(), fileFormat = "parquet"),
      Model("t_delta_ap", _ => region, Materialization.IncrementalAppend(), fileFormat = "delta"),
      Model("t_pq_merge", _ => region,
        Materialization.IncrementalMerge(Seq("r_regionkey")), fileFormat = "parquet"),
      Model("t_pq_io", _ => region,
        Materialization.IncrementalInsertOverwrite(Nil), fileFormat = "parquet"))
    // twice: the first run builds each table, the second writes its increment
    for (_ <- 1 to 2; m <- models) materialize(ctx, m)
    assert(models.map(m => m.name -> ctx.warehouse.isLogBacked(m.name)) == Seq(
      "t_pq" -> false, "t_delta_ap" -> true, "t_pq_merge" -> true, "t_pq_io" -> false))
    assert(models.map(m => sortedRows(ctx.warehouse.read(m.name)).size) == Seq(5, 10, 5, 5))
  }
}
