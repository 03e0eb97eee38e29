package graft.queries

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ArgCode
import graft.runtime._

/** SCD2 snapshot engine on the oracle gate: two consecutive dbt-style
  * snapshot runs (timestamp strategy) over per-customer "current state"
  * derived from orders, then the resulting dbt_valid_from/to history is
  * checked against a closed-form SQL reconstruction (reference semantics:
  * snapshots/spark/b2b_mart/scd2_orders_v2_snapshot.sql:1-17).
  *
  * Day 1 stages the state as of 1998-01-01; day 2 stages the final state.
  * Expected history: customers whose state advanced get a closed v1 row
  * (valid_to = v2.updated_at) + an open v2 row; unchanged customers keep one
  * open v1 row; customers first active after day 1 appear as open v2 only.
  */
object Scd2Queries {

  /** Exposed for PlanCheck (q73's staging-aggregate plan). */
  private[graft] def stateAsOfForPlan(orders: DataFrame): DataFrame =
    stateAsOf(orders, None)

  private def stateAsOf(orders: DataFrame, cutoff: Option[String]): DataFrame = {
    ArgCode.register(orders.sparkSession)
    val base = cutoff.fold(orders)(c => orders.filter(col("o_orderdate") <= lit(c)))
    // unique argmax key: day number * 1e10 + orderkey
    val key = unix_date(to_date(col("o_orderdate"))).cast("long") * 10000000000L +
      col("o_orderkey")
    base.groupBy(col("o_custkey").as("_id"))
      .agg(
        ArgCode.maxBy(col("o_orderstatus"), key).as("status"),
        max_by(col("o_totalprice"), key).as("last_price"),
        max(to_date(col("o_orderdate"))).as("updated_at"))
  }

  def q53Scd2Pipeline(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Scratch.ctx(spark, dir)
    val orders = Tables(spark, dir, "orders")
    val strat = Scd2Strategy.Timestamp("updated_at")
    Scd2.snapshot(ctx, "cust_scd2", stateAsOf(orders, Some("1998-01-01")),
      "_id", strat, invalidateHardDeletes = false, Timestamp.valueOf("1998-01-02 00:00:00"))
    Scd2.snapshot(ctx, "cust_scd2", stateAsOf(orders, None),
      "_id", strat, invalidateHardDeletes = false, Timestamp.valueOf("2002-01-01 00:00:00"))
    ctx.ref("cust_scd2").select(
      col("_id"), col("status"), col("last_price"),
      date_format(col("updated_at"), "yyyy-MM-dd").as("updated_at"),
      date_format(col("dbt_valid_from"), "yyyy-MM-dd").as("valid_from"),
      coalesce(date_format(col("dbt_valid_to"), "yyyy-MM-dd"), lit("open")).as("valid_to"))
  }

  /** SCD2 `check` strategy + invalidate_hard_deletes on the oracle gate
    * (reference: snapshots/spark/b2b_mart/scd2_offer_products_snapshot.sql:11-14
    * — `strategy='check', check_cols=[...], invalidate_hard_deletes=True`).
    *
    * Run 1 stages per-customer state from orders up to 1996-01-01; run 2
    * stages full-range state but EXCLUDES the BUILDING segment (those keys
    * hard-delete → their open rows close at run-2 ts). `loaded_label` is a
    * run-audit column deliberately outside check_cols: it changes every run
    * and must NOT open new versions — the whole point of the check strategy.
    * valid_from/to are the run timestamps (not data timestamps), which is the
    * strategy's defining difference from `timestamp`. */
  def q60Scd2Check(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Scratch.ctx(spark, dir)
    val orders = Tables(spark, dir, "orders")
    val building = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    ArgCode.register(spark)

    def state(cutoff: Option[String], exclBuilding: Boolean, label: String): DataFrame = {
      val base0 = cutoff.fold(orders)(c => orders.filter(col("o_orderdate") <= lit(c)))
      val base = if (exclBuilding)
        base0.join(building, col("o_custkey") === col("c_custkey"), "left_anti")
      else base0
      val key = unix_date(to_date(col("o_orderdate"))).cast("long") * 10000000000L +
        col("o_orderkey")
      base.groupBy(col("o_custkey").as("_id"))
        .agg(ArgCode.maxBy(col("o_orderstatus"), key).as("status"),
          count(lit(1)).as("n_orders"))
        .withColumn("loaded_label", lit(label))
    }

    val strat = Scd2Strategy.Check(Seq("status", "n_orders"))
    Scd2.snapshot(ctx, "cust_check", state(Some("1996-01-01"), exclBuilding = false, "r1"),
      "_id", strat, invalidateHardDeletes = true, Timestamp.valueOf("1998-06-01 00:00:00"))
    Scd2.snapshot(ctx, "cust_check", state(None, exclBuilding = true, "r2"),
      "_id", strat, invalidateHardDeletes = true, Timestamp.valueOf("2002-01-01 00:00:00"))
    ctx.ref("cust_check").select(
      col("_id"), col("status"), col("n_orders"), col("loaded_label"),
      date_format(col("dbt_valid_from"), "yyyy-MM-dd").as("valid_from"),
      coalesce(date_format(col("dbt_valid_to"), "yyyy-MM-dd"), lit("open")).as("valid_to"))
  }

  /** Bucket-pruned SCD2 snapshot on the oracle gate: two snapshotBucketed
    * runs (timestamp strategy + invalidate_hard_deletes, the parquet
    * equivalent of the reference's delta MERGE snapshots —
    * macros/spark_adapter_patch/create_table.sql:29-34) where run 2 excludes
    * the BUILDING segment, hard-deleting those customers. The resulting
    * history must be identical to what a full-table rewrite produces, which
    * is what the closed-form DuckDB oracle reconstructs; only buckets holding
    * changed/new/deleted keys were rewritten along the way. */
  def q73Scd2Bucketed(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Scratch.ctx(spark, dir)
    val orders = Tables(spark, dir, "orders")
    val building = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val strat = Scd2Strategy.Timestamp("updated_at")
    Scd2.snapshotBucketed(ctx, "cust_scd2b", stateAsOf(orders, Some("1998-01-01")),
      "_id", strat, invalidateHardDeletes = true,
      Timestamp.valueOf("1998-01-02 00:00:00"), numBuckets = 16)
    val nonBuilding = orders.join(building, col("o_custkey") === col("c_custkey"), "left_anti")
    Scd2.snapshotBucketed(ctx, "cust_scd2b", stateAsOf(nonBuilding, None),
      "_id", strat, invalidateHardDeletes = true,
      Timestamp.valueOf("2002-01-01 00:00:00"), numBuckets = 16)
    ctx.ref("cust_scd2b").select(
      col("_id"), col("status"), col("last_price"),
      date_format(col("updated_at"), "yyyy-MM-dd").as("updated_at"),
      date_format(col("dbt_valid_from"), "yyyy-MM-dd").as("valid_from"),
      coalesce(date_format(col("dbt_valid_to"), "yyyy-MM-dd"), lit("open")).as("valid_to"))
  }

  val q73Oracle: String =
    """WITH keyed AS (
      |  SELECT o_custkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) AS od,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
      |      * 10000000000 + o_orderkey AS k
      |  FROM orders),
      |v1 AS (
      |  SELECT o_custkey AS _id, arg_max(o_orderstatus, k) AS status,
      |    arg_max(o_totalprice, k) AS last_price, MAX(od) AS updated_at
      |  FROM keyed WHERE od <= DATE '1998-01-01' GROUP BY 1),
      |v2 AS (
      |  SELECT o_custkey AS _id, arg_max(o_orderstatus, k) AS status,
      |    arg_max(o_totalprice, k) AS last_price, MAX(od) AS updated_at
      |  FROM keyed JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment <> 'BUILDING' GROUP BY 1)
      |SELECT v1._id, v1.status, v1.last_price,
      |  strftime(v1.updated_at, '%Y-%m-%d') AS updated_at,
      |  strftime(v1.updated_at, '%Y-%m-%d') AS valid_from,
      |  CASE WHEN v2._id IS NULL THEN '2002-01-01'
      |       WHEN v2.updated_at > v1.updated_at
      |       THEN strftime(v2.updated_at, '%Y-%m-%d') ELSE 'open' END AS valid_to
      |FROM v1 LEFT JOIN v2 ON v1._id = v2._id
      |UNION ALL
      |SELECT v2._id, v2.status, v2.last_price,
      |  strftime(v2.updated_at, '%Y-%m-%d') AS updated_at,
      |  strftime(v2.updated_at, '%Y-%m-%d') AS valid_from,
      |  'open' AS valid_to
      |FROM v2 LEFT JOIN v1 ON v1._id = v2._id
      |WHERE v1._id IS NULL OR v2.updated_at > v1.updated_at""".stripMargin

  val q60Oracle: String =
    """WITH keyed AS (
      |  SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS od,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
      |      * 10000000000 + o_orderkey AS k
      |  FROM orders),
      |v1 AS (
      |  SELECT o_custkey AS _id, arg_max(o_orderstatus, k) AS status, COUNT(*) AS n_orders
      |  FROM keyed WHERE od <= DATE '1996-01-01' GROUP BY 1),
      |v2 AS (
      |  SELECT o_custkey AS _id, arg_max(o_orderstatus, k) AS status, COUNT(*) AS n_orders
      |  FROM keyed JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment <> 'BUILDING' GROUP BY 1)
      |SELECT v1._id, v1.status, v1.n_orders, 'r1' AS loaded_label,
      |  '1998-06-01' AS valid_from,
      |  CASE WHEN v2._id IS NULL THEN '2002-01-01'
      |       WHEN v1.status <> v2.status OR v1.n_orders <> v2.n_orders THEN '2002-01-01'
      |       ELSE 'open' END AS valid_to
      |FROM v1 LEFT JOIN v2 ON v1._id = v2._id
      |UNION ALL
      |SELECT v2._id, v2.status, v2.n_orders, 'r2' AS loaded_label,
      |  '2002-01-01' AS valid_from, 'open' AS valid_to
      |FROM v2 LEFT JOIN v1 ON v1._id = v2._id
      |WHERE v1._id IS NULL OR v1.status <> v2.status OR v1.n_orders <> v2.n_orders""".stripMargin

  /** q53's contract through the FILE layer: the same two-run timestamp SCD2,
    * but expressed as a dbt `{% snapshot %}` SQL text — ingested by
    * [[SqlTemplater.snapshotModel]] (unique_key / strategy / updated_at from
    * the file's own config), scheduled by DagRunner, staging cutoff and run
    * timestamp from vars. Proves file-parsed snapshots sit on the same
    * hash-exact correctness gate as the runtime API: the oracle is q53's,
    * shared verbatim (reference archetype:
    * snapshots/spark/b2b_mart/scd2_customers_snapshot.sql). */
  val snapshotFileSql: String =
    """{% snapshot cust_scd2_file %}
      |{{ config(
      |    unique_key='_id',
      |    strategy='timestamp',
      |    updated_at='updated_at',
      |    invalidate_hard_deletes=False,
      |    meta = { 'model_owner': '@graft' }
      |) }}
      |SELECT o_custkey AS _id,
      |  EXACT_MAX_BY(o_orderstatus, UNIX_DATE(CAST(o_orderdate AS DATE)) * 10000000000 + o_orderkey) AS status,
      |  MAX_BY(o_totalprice, UNIX_DATE(CAST(o_orderdate AS DATE)) * 10000000000 + o_orderkey) AS last_price,
      |  MAX(CAST(o_orderdate AS DATE)) AS updated_at
      |FROM {{ source('default', 'orders') }}
      |WHERE o_orderdate <= DATE '{{ var("cutoff_ymd") }}'
      |GROUP BY o_custkey
      |{% endsnapshot %}""".stripMargin

  def q80SnapshotFile(spark: SparkSession, dir: String): DataFrame = {
    val model = SqlTemplater.snapshotModel(snapshotFileSql)
    require(model.materialization == Materialization.Snapshot(
      "_id", Scd2Strategy.Timestamp("updated_at")), model.materialization.toString)
    def vars(cutoff: String, runTs: String) = Map("cutoff_ymd" -> cutoff, "run_ts" -> runTs)
    val day1 = Scratch.run(
      Scratch.ctx(spark, dir, vars("1998-01-01", "1998-01-02 00:00:00")), Seq(model))
    Scratch.run(day1.copy(vars = vars("9999-12-31", "2002-01-01 00:00:00")), Seq(model))
      .ref("cust_scd2_file").select(
        col("_id"), col("status"), col("last_price"),
        date_format(col("updated_at"), "yyyy-MM-dd").as("updated_at"),
        date_format(col("dbt_valid_from"), "yyyy-MM-dd").as("valid_from"),
        coalesce(date_format(col("dbt_valid_to"), "yyyy-MM-dd"), lit("open")).as("valid_to"))
  }

  val q53Oracle: String =
    """WITH keyed AS (
      |  SELECT o_custkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) AS od,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
      |      * 10000000000 + o_orderkey AS k
      |  FROM orders),
      |v1 AS (
      |  SELECT o_custkey AS _id, arg_max(o_orderstatus, k) AS status,
      |    arg_max(o_totalprice, k) AS last_price, MAX(od) AS updated_at
      |  FROM keyed WHERE od <= DATE '1998-01-01' GROUP BY 1),
      |v2 AS (
      |  SELECT o_custkey AS _id, arg_max(o_orderstatus, k) AS status,
      |    arg_max(o_totalprice, k) AS last_price, MAX(od) AS updated_at
      |  FROM keyed GROUP BY 1)
      |SELECT v1._id, v1.status, v1.last_price,
      |  strftime(v1.updated_at, '%Y-%m-%d') AS updated_at,
      |  strftime(v1.updated_at, '%Y-%m-%d') AS valid_from,
      |  CASE WHEN v2.updated_at > v1.updated_at
      |       THEN strftime(v2.updated_at, '%Y-%m-%d') ELSE 'open' END AS valid_to
      |FROM v1 JOIN v2 ON v1._id = v2._id
      |UNION ALL
      |SELECT v2._id, v2.status, v2.last_price,
      |  strftime(v2.updated_at, '%Y-%m-%d') AS updated_at,
      |  strftime(v2.updated_at, '%Y-%m-%d') AS valid_from,
      |  'open' AS valid_to
      |FROM v2 LEFT JOIN v1 ON v1._id = v2._id
      |WHERE v1._id IS NULL OR v2.updated_at > v1.updated_at""".stripMargin
}
