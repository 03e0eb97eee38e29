package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.runtime._

/** incremental_strategy='merge' on the oracle gate — the upsert semantics
  * behind the reference's 197 delta-format models (reference:
  * macros/spark_adapter_patch/create_table.sql:29-34 delta `create or
  * replace`; dbt-spark emits `MERGE INTO … WHEN MATCHED UPDATE SET * WHEN NOT
  * MATCHED INSERT *` for delta + unique_key), served on the transaction log
  * by [[graft.runtime.Warehouse.mergeUpsert]]'s file-level rewrite.
  *
  * Scenario (the standard late-arriving-facts shape): run 1 materializes
  * per-customer order profiles from history before a cutoff; run 2 recomputes
  * the profile ONLY for customers with activity at/after the cutoff and
  * merges on customer_id. The closed form the oracle states: customers with
  * post-cutoff activity carry the full-range profile (matched → updated, or
  * brand-new → inserted), everyone else keeps the pre-cutoff row untouched.
  */
object MergeQueries {

  /** The model is dbt SQL text end-to-end: the config block declares the
    * merge contract (strategy, unique_key, partition_by) and
    * `is_incremental()` switches the increment to a changed-keys recompute —
    * on the incremental run only customers with post-cutoff activity are
    * re-derived (LEFT SEMI keeps the probe key-only), exactly the
    * late-arriving-facts recipe the reference's delta models run under
    * dbt-spark merge. */
  val modelSql: String =
    """{{ config(
      |    materialized='incremental',
      |    file_format='delta',
      |    incremental_strategy='merge',
      |    unique_key='customer_id',
      |    partition_by=['mkt_segment']
      |  )
      |}}
      |
      |WITH base AS (
      |    SELECT o_custkey, o_orderdate
      |    FROM {{ source('default', 'orders') }}
      |    {% if is_incremental() %}
      |    LEFT SEMI JOIN (
      |        SELECT DISTINCT o_custkey AS changed_key
      |        FROM {{ source('default', 'orders') }}
      |        WHERE o_orderdate >= DATE '{{ var("cutoff_ymd") }}'
      |    ) ON o_custkey = changed_key
      |    {% else %}
      |    WHERE o_orderdate < DATE '{{ var("cutoff_ymd") }}'
      |    {% endif %}
      |)
      |SELECT
      |    b.o_custkey AS customer_id,
      |    COALESCE(c.c_mktsegment, 'Other') AS mkt_segment,
      |    COUNT(*) AS order_count,
      |    -- r17 opt: format AFTER the max — a string MAX buffer forces the
      |    -- whole aggregate to SortAggregate (see GoldOrdersWide.lineitem_agg);
      |    -- 'yyyy-MM-dd' is monotone in the date so the result is identical
      |    DATE_FORMAT(MAX(b.o_orderdate), 'yyyy-MM-dd') AS last_order_date
      |FROM base AS b
      |LEFT JOIN {{ source('default', 'customer') }} AS c ON b.o_custkey = c.c_custkey
      |GROUP BY 1, 2""".stripMargin

  def q76IncrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val whDir = graft.runtime.TempDirs.create("graft_merge")
    val ctx = Ctx(spark, new Warehouse(spark, whDir), SourceRegistry.overDir(spark, dir),
      vars = Map("cutoff_ymd" -> "1998-01-01"))
    val model = SqlTemplater.sqlModelAuto("customer_profile_merge", modelSql)
    val dag = new DagRunner(Seq(model))
    val rs = dag.run(ctx) ++ dag.run(ctx)
    rs.collect { case (n, RunStatus.Failed(e)) =>
      throw new RuntimeException(s"model $n failed: $e") }
    ctx.ref("customer_profile_merge")
  }

  val q76Oracle: String =
    """WITH pre AS (
      |  SELECT o_custkey AS customer_id, COUNT(*) AS order_count,
      |    MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_order_date
      |  FROM orders WHERE o_orderdate < DATE '1998-01-01' GROUP BY 1),
      |changed AS (
      |  SELECT DISTINCT o_custkey AS customer_id
      |  FROM orders WHERE o_orderdate >= DATE '1998-01-01'),
      |fullr AS (
      |  SELECT o_custkey AS customer_id, COUNT(*) AS order_count,
      |    MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_order_date
      |  FROM orders GROUP BY 1),
      |merged AS (
      |  SELECT * FROM fullr WHERE customer_id IN (SELECT customer_id FROM changed)
      |  UNION ALL
      |  SELECT * FROM pre WHERE customer_id NOT IN (SELECT customer_id FROM changed))
      |SELECT m.customer_id,
      |  COALESCE(c.c_mktsegment, 'Other') AS mkt_segment,
      |  m.order_count, m.last_order_date
      |FROM merged m LEFT JOIN customer c ON m.customer_id = c.c_custkey""".stripMargin
}
