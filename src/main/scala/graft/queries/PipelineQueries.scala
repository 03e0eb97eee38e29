package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.runtime._

/** End-to-end engine pipeline as an oracle-checked query: a gold_orders-style
  * model DAG (reference archetype: models/spark/gold/gold_orders.sql — staging
  * view → partitioned incremental gold table + duplicate-key singular test,
  * SURVEY.md §7 step 4) executed through the DagRunner with a full run, then
  * an incremental insert-overwrite run with a lookback window (reference:
  * `WHERE order_month >= trunc(start_date - interval 200 days, 'MM')`,
  * macros/gold_active_users_and_devices_with_ephemeral.sql:85-87).
  *
  * The incremental pass recomputes and dynamically overwrites only recent
  * month partitions with identical data, so the final table equals the
  * full-rebuild semantics — which is exactly what the DuckDB oracle checks.
  */
object PipelineQueries {

  /** stg_orders view body (extracted so PlanCheck can build the view the
    * gold_orders body reads). */
  private[graft] def q30StgBody(c: Ctx): DataFrame =
    c.source("default", "orders")
      .join(c.source("default", "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(c.source("default", "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("c_mktsegment"), col("n_name"),
        date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))

  /** gold_orders model body (extracted so PlanCheck can dump the exact
    * plan the DagRunner executes for both runs). */
  private[graft] def q30GoldBody(c: Ctx): DataFrame = {
    // lookback filter applied at the SOURCE (o_orderdate), not only on the
    // derived month string — so static pruning/pushdown reaches the orders
    // scan instead of recomputing everything and discarding rows post-join
    // (reference models filter source partitions the same way,
    // macros/gold_active_users_and_devices_with_ephemeral.sql:85-87)
    val cutoff = add_months(trunc(to_date(lit(c.startDate)), "MM"), -6)
    // r18 opt (guide §3.2 pre-filter the big side): on the incremental run
    // only lookback-window orders survive the LEFT join, so aggregating ALL
    // of lineitem first threw >90% of the aggregate away. Semi-join lineitem
    // down to the lookback orderkeys (a key-only scan of orders with the
    // same pushed date predicate) BEFORE the groupBy. Exact: every stg-slice
    // orderkey satisfies the date filter, so its lineitem group is complete;
    // keys outside the slice were dropped by the LEFT join anyway.
    val liBase = c.source("default", "lineitem")
    val li = if (c.isIncremental)
      liBase.join(
        c.source("default", "orders").filter(col("o_orderdate") >= cutoff)
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
    else liBase
    val items = li
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(22,6)")).cast("double").as("revenue"))
    val stg = if (c.isIncremental)
      c.ref("stg_orders").filter(col("o_orderdate") >= cutoff)
    else c.ref("stg_orders")
    stg.join(items, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("order_month"), col("c_mktsegment"),
        col("n_name"), coalesce(col("n_items"), lit(0L)).as("n_items"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
  }

  def q30GoldOrdersPipeline(spark: SparkSession, dir: String): DataFrame = {
    val stg = Model("stg_orders", q30StgBody, Materialization.View)
    val gold = Model("gold_orders", q30GoldBody,
      Materialization.IncrementalInsertOverwrite(Seq("order_month")),
      deps = Seq("stg_orders"))
    // run 2 is incremental: 6-month lookback, dynamic overwrite
    Scratch.run(Scratch.ctx(spark, dir, vars = Map("start_date_ymd" -> "2001-06-01")),
      Seq(stg, gold), runs = 2, tests = Seq(GenericTests.unique("gold_orders", "o_orderkey")))
      .ref("gold_orders")
      .select("o_orderkey", "order_month", "c_mktsegment", "n_name", "n_items", "revenue")
  }

  /** Incremental `append` + two-level `['table_name','partition_date']`
    * insert-overwrite on the oracle gate (reference:
    * models/spark/mart/fact_table_update.sql:8-16 — a bookkeeping fact
    * partitioned by (table_name, partition_date), appended per run, with
    * per-cell dynamic overwrite).
    *
    * `fact_updates` (append): run 1 materializes month rows ≤ cutoff, run 2
    * appends the disjoint remainder — final table covers every month exactly
    * once, proving the append path composes with the incremental filter.
    *
    * `fact_cells` (two-level overwrite): run 1 writes all (table, month)
    * cells with run_no=1; run 2 recomputes ONLY the ('gold_orders', month >
    * cutoff) cells with run_no=2 — dynamic overwrite must replace exactly
    * those cells and leave every other cell (other table_name, or ≤ cutoff)
    * at run_no=1. Cells are month-granular because that is what the
    * reference's bookkeeping fact records: the updated PARTITIONS of each
    * tracked table, and its gold tables partition by month (order_month,
    * models/spark/gold/gold_orders.sql:5). Day-granular cells at sf0.1 were
    * measured at 60 s of pure partition-directory churn (~2,400 dirs/write)
    * — the same small-partition explosion the reference avoids. */
  private val q62Cutoff = "1997-01-01"
  private def q62MonthCol =
    date_format(trunc(to_date(col("o_orderdate")), "MM"), "yyyy-MM-dd")

  /** fact_cells model body (extracted so PlanCheck can dump the exact
    * plan the DagRunner executes for both runs). */
  private[graft] def q62CellsBody(c: Ctx): DataFrame = {
    val o = c.source("default", "orders")
    if (c.isIncremental)
      o.groupBy(q62MonthCol.as("partition_date"))
        .agg(count(lit(1)).as("metric"))
        .select(lit("gold_orders").as("table_name"), col("partition_date"), col("metric"))
        .filter(col("partition_date") > q62Cutoff).withColumn("run_no", lit(2))
    else {
      // r18 opt (guide §2.3 "aggregate before you shuffle" / one pass): the
      // full run scanned orders twice — once per cell family. The
      // COUNT(DISTINCT) aggregate already pays a (month, custkey) partial
      // pass, so COUNT(*) rides along in the same aggregate for free; the
      // two cell rows per month are then unpacked with a 2-element explode.
      // Same rows, names and types as the old unionByName of two aggregates.
      o.groupBy(q62MonthCol.as("partition_date"))
        .agg(count(lit(1)).as("m_orders"), countDistinct(col("o_custkey")).as("m_custs"))
        .select(col("partition_date"), explode(array(
          struct(lit("gold_orders").as("table_name"), col("m_orders").as("metric")),
          struct(lit("gold_customers").as("table_name"), col("m_custs").as("metric"))))
          .as("cell"))
        .select(col("cell.table_name").as("table_name"), col("partition_date"),
          col("cell.metric").as("metric"))
        .withColumn("run_no", lit(1))
    }
  }

  def q62AppendOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = q62Cutoff
    def monthCol = q62MonthCol

    val factUpdates = Model("fact_updates",
      c => {
        val dated = c.source("default", "orders").select(monthCol.as("partition_date"))
        val sliced = if (c.isIncremental) dated.filter(col("partition_date") > cutoff)
                     else dated.filter(col("partition_date") <= cutoff)
        sliced.groupBy(col("partition_date")).agg(count(lit(1)).as("appended_n"))
          .select(lit("gold_orders").as("table_name"), col("partition_date"),
            col("appended_n"))
      },
      Materialization.IncrementalAppend(Seq("table_name")))

    val factCells = Model("fact_cells", q62CellsBody,
      Materialization.IncrementalInsertOverwrite(Seq("table_name", "partition_date")))

    val ctx = Scratch.run(Scratch.ctx(spark, dir), Seq(factUpdates, factCells), runs = 2)
    ctx.ref("fact_cells")
      .join(ctx.ref("fact_updates"), Seq("table_name", "partition_date"), "left")
      .select(col("table_name"), col("partition_date"), col("metric"),
        col("run_no"), col("appended_n"))
  }

  val q62Oracle: String =
    """WITH om AS (
      |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS partition_date,
      |    o_custkey
      |  FROM orders),
      |ords AS (
      |  SELECT 'gold_orders' AS table_name, partition_date, COUNT(*) AS metric
      |  FROM om GROUP BY 2),
      |custs AS (
      |  SELECT 'gold_customers' AS table_name, partition_date,
      |    COUNT(DISTINCT o_custkey) AS metric
      |  FROM om GROUP BY 2),
      |cells AS (SELECT * FROM ords UNION ALL SELECT * FROM custs),
      |upd AS (
      |  SELECT 'gold_orders' AS table_name, partition_date, COUNT(*) AS appended_n
      |  FROM om GROUP BY 2)
      |SELECT c.table_name, c.partition_date, c.metric,
      |  CASE WHEN c.table_name = 'gold_orders' AND c.partition_date > '1997-01-01'
      |       THEN 2 ELSE 1 END AS run_no,
      |  u.appended_n
      |FROM cells c
      |LEFT JOIN upd u ON c.table_name = u.table_name AND c.partition_date = u.partition_date""".stripMargin

  /** Seed loading on the oracle gate (reference: 26 seeds under seeds/ with
    * schemas pinned in seeds/properties.yml; gold_regions.sql joins
    * gold_regions_source.csv into the warehouse). The repo seed CSV is
    * loaded through [[Seeds.load]] with a pinned all-string schema, CTAS'd
    * into the warehouse, then joined to nation/customer; the oracle inlines
    * the same static rows as VALUES — a seed IS literal config data. */
  def q65SeedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Scratch.ctx(spark, dir)
    val schema = org.apache.spark.sql.types.StructType(
      Seq("country_code", "country_name", "region_name", "nation_name").map(n =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))
    val seed = Seeds.load(ctx, "regions_source", "/root/repo/seeds/regions_source.csv",
      Some(schema))
    val n = Tables(spark, dir, "nation")
    val c = Tables(spark, dir, "customer")
    broadcast(seed)
      .join(n, col("nation_name") === col("n_name"))
      .join(c, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("country_code"), col("region_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_acctbal"))
  }

  val q65Oracle: String =
    """SELECT country_code, region_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM (VALUES ('DE','EUROPE','NATION_0'), ('FR','EUROPE','NATION_1'),
      |  ('US','AMERICA','NATION_2'), ('BR','AMERICA','NATION_3'),
      |  ('JP','ASIA','NATION_4'), ('CN','ASIA','NATION_5'),
      |  ('EG','AFRICA','NATION_6'), ('DZ','AFRICA','NATION_7'),
      |  ('SA','MIDDLE EAST','NATION_8'), ('IR','MIDDLE EAST','NATION_9'))
      |  AS s(country_code, region_name, nation_name)
      |JOIN nation ON nation_name = n_name
      |JOIN customer ON c_nationkey = n_nationkey
      |GROUP BY 1, 2""".stripMargin

  /** on_schema_change='append_new_columns' on the oracle gate (reference:
    * models/spark/gold/gold_orders.sql:8 — 6 append / 15 sync uses): run 1
    * materializes (order_month, n_orders); run 2's increment adds a
    * `revenue` column for months past the cutoff. The canonical schema
    * grows, and partitions written before the change read NULL revenue —
    * which is exactly the closed form the oracle states. */
  def q66SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1997-01"
    val model = Model("orders_monthly",
      c => {
        val monthly = c.source("default", "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
        if (!c.isIncremental)
          monthly.agg(count(lit(1)).as("n_orders"))
            .filter(col("order_month") <= cutoff)
        else
          monthly.agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
            .filter(col("order_month") > cutoff)
      },
      Materialization.IncrementalInsertOverwrite(Seq("order_month"),
        OnSchemaChange.AppendNewColumns))
    Scratch.run(Scratch.ctx(spark, dir), Seq(model), runs = 2).ref("orders_monthly")
      .select(col("order_month"), col("n_orders"), col("revenue"))
  }

  val q66Oracle: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS order_month, COUNT(*) AS n_orders,
      |  CASE WHEN strftime(o_orderdate, '%Y-%m') > '1997-01'
      |       THEN CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) END AS revenue
      |FROM orders GROUP BY 1""".stripMargin

  val q30Oracle: String =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS order_month,
      |  c_mktsegment, n_name,
      |  COALESCE(n_items, 0) AS n_items, COALESCE(revenue, 0.0) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN (
      |  SELECT l_orderkey, COUNT(*) AS n_items,
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      |  FROM lineitem GROUP BY 1) li ON o_orderkey = l_orderkey""".stripMargin
}
