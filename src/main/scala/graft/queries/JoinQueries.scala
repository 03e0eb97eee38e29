package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.AsOfJoin

/** Join-family operators from SURVEY.md §2.3 / §2.11: the reference's 1207
  * LEFT / 216 INNER / 15 CROSS / 3 FULL / 3 SEMI / 1 ANTI joins, as-of joins
  * against validity ranges, non-equi band joins, and UNION [ALL|DISTINCT].
  *
  * Scale notes: dims (nation/region/bands) are explicitly `broadcast()`;
  * big×big joins (lineitem⋈orders) shuffle on the join key and benefit from
  * AQE; the as-of join is the single-shuffle union+window form (see
  * [[graft.ops.AsOfJoin]]).
  */
object JoinQueries {

  private def decSum(c: Column, t: String = "decimal(22,6)") = sum(c.cast(t))

  /** LEFT JOIN chain fact→dims + monthly agg (reference shape:
    * models/spark/gold/gold_orders.sql:24-85). */
  def q3RevenueByRegionMonth(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q3Oracle: String =
    """SELECT r_name, strftime(o_orderdate, '%Y-%m') AS order_month,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2""".stripMargin

  /** LEFT SEMI JOIN (reference: models/spark/engagement/segments/occasional_buyers.sql:35). */
  def q4SegmentsWithOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        (sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .as("avg_acctbal"))
  }

  val q4Oracle: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_acctbal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY 1""".stripMargin

  /** LEFT ANTI JOIN + broadcast dim (reference:
    * models/spark/category_management/joom_select_v2/js2_proposals.sql:140). */
  def q5CustomersNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01"))
    val n = Tables(spark, dir, "nation")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
  }

  val q5Oracle: String =
    """SELECT n_name, COUNT(*) AS n_customers
      |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY 1""".stripMargin

  /** FULL OUTER JOIN of two daily aggregates (reference:
    * models/spark/base/active_devices_funnel.sql:61). */
  def q6FullOuterDaily(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    val day = date_format(to_date(col("ts")), "yyyy-MM-dd").as("day")
    val s = e.filter(col("event_type") === "signup").groupBy(day)
      .agg(count(lit(1)).as("n_signups"))
    val p = e.filter(col("event_type") === "purchase").groupBy(day)
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("purchase_value"))
    s.join(p, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_signups"), lit(0L)).as("n_signups"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("purchase_value"), lit(0.0)).as("purchase_value"))
  }

  val q6Oracle: String =
    """WITH s AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS n_signups
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |p AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS n_purchases,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT COALESCE(s.day, p.day) AS day,
      |  COALESCE(n_signups, 0) AS n_signups,
      |  COALESCE(n_purchases, 0) AS n_purchases,
      |  COALESCE(purchase_value, 0.0) AS purchase_value
      |FROM s FULL JOIN p ON s.day = p.day""".stripMargin

  /** CROSS JOIN dim matrix + left-joined counts (reference:
    * models/spark/points/current_points_liability.sql:40 — calendar × dims). */
  def q7PriorityRegionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    val prios = o.select(col("o_orderpriority")).distinct()
    val counts = o
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    r.select(col("r_name")).crossJoin(broadcast(prios))
      .join(counts, Seq("r_name", "o_orderpriority"), "left")
      .select(col("r_name"), col("o_orderpriority"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"))
  }

  val q7Oracle: String =
    """WITH counts AS (
      |  SELECT r_name, o_orderpriority, COUNT(*) AS cnt
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2)
      |SELECT r.r_name, p.o_orderpriority, COALESCE(cnt, 0) AS n_orders
      |FROM region r
      |CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
      |LEFT JOIN counts c ON c.r_name = r.r_name AND c.o_orderpriority = p.o_orderpriority""".stripMargin

  /** Backward as-of join: latest 'view' event at-or-before each purchase,
    * per user, at epoch-second granularity (SCD2 as-of pattern). */
  def q25AsofViewBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .withColumn("es", expr("ts_ns div 1000000000"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("es"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("es"))
      .agg(max(col("event_id")).as("view_event"))
    // `auto` dispatches to the skew-salted variant when Catalyst's size
    // estimate says the inputs are big enough for one hot key to serialize
    // the window; output is bit-identical either way (OpsSpec pins it), so
    // the oracle gate covers both paths.
    AsOfJoin.auto(purchases, views, Seq("user_id"), "es", "es")
      .select(col("event_id"), col("user_id"), col("r_view_event").as("view_event"),
        (col("es") - col("r_es")).as("wait_sec"))
  }

  val q25Oracle: String =
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS es
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id, epoch_ns(ts) // 1000000000 AS es, MAX(event_id) AS view_event
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, v.view_event, p.es - v.es AS wait_sec
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.es >= v.es""".stripMargin

  /** UNION ALL vs UNION DISTINCT (reference: 733× UNION ALL,
    * models/spark/onfy/onfy_sessions.sql:50,101; UNION DISTINCT
    * models/spark/support/support_mart_subject_names.sql:194). */
  def q26UnionCounts(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val a = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val b = o.filter(col("o_orderpriority").startsWith("1-")).select(col("o_custkey"))
    a.unionAll(b).agg(count(lit(1)).as("n_all"))
      .crossJoin(a.union(b).distinct().agg(count(lit(1)).as("n_distinct")))
  }

  val q26Oracle: String =
    """SELECT
      |  (SELECT COUNT(*) FROM (
      |     SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |     UNION ALL
      |     SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1-%')) AS n_all,
      |  (SELECT COUNT(*) FROM (
      |     SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |     UNION
      |     SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1-%')) AS n_distinct""".stripMargin

  /** Non-equi band join against a tiny broadcast dim (reference's bucketed
    * theta-join pattern, models/spark/logistics/dashboards/consolidation/
    * jl_ali_costs_comparison.sql:22,93 — here the small side broadcasts so
    * the nested-loop is cheap by construction). */
  def q27QuantityBands(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val bands = spark.createDataFrame(Seq(
      (0.0, 10.0, "b00_10"), (10.0, 20.0, "b10_20"), (20.0, 30.0, "b20_30"),
      (30.0, 40.0, "b30_40"), (40.0, 60.0, "b40_60")))
      .toDF("lo", "hi", "band")
    li.join(broadcast(bands), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("band_price"))
  }

  val q27Oracle: String =
    """SELECT band, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS band_price
      |FROM lineitem
      |JOIN (VALUES (0.0, 10.0, 'b00_10'), (10.0, 20.0, 'b10_20'), (20.0, 30.0, 'b20_30'),
      |             (30.0, 40.0, 'b30_40'), (40.0, 60.0, 'b40_60')) AS bands(lo, hi, band)
      |  ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY 1""".stripMargin

  /** Salted skew join on the oracle gate: lineitem spread over 8 salts per
    * part key, part side replicated 8× — identical results to the plain
    * join, which is exactly what the DuckDB oracle checks (the engine form
    * of the reference's `DISTRIBUTE BY month, ABS(HASH(id)) % 10` skew
    * spread, models/spark/gold/gold_orders.sql:696). */
  def q64SkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
    val parts = Tables(spark, dir, "part").select(col("p_partkey"), col("p_brand"))
    graft.ops.SkewJoin.saltedJoin(li, parts, Seq("p_partkey"),
      xxhash64(col("l_orderkey"), col("l_linenumber")), n = 8, joinType = "left")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(22,6)")).cast("double").as("revenue"))
  }

  val q64Oracle: String =
    """SELECT p_brand, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      |GROUP BY 1""".stripMargin

  /** Bucketed co-located join on the oracle gate: both fact tables CTAS'd
    * with `bucketBy(8, orderkey)` through the warehouse catalog, then joined
    * on the bucket key — the physical plan runs zero-exchange (asserted in
    * ScaleSpec; the reference's hand-bucketed theta joins, SURVEY.md §4) and
    * the result must equal the plain SQL join. */
  def q67BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val wh = Scratch.ctx(spark, dir).warehouse
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    wh.createBucketedTable("q67_b_orders", o, Seq("o_orderkey"), 8)
    wh.createBucketedTable("q67_b_lineitem", li, Seq("l_orderkey"), 8)
    wh.readBucketed("q67_b_orders")
      .join(wh.readBucketed("q67_b_lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(22,6)")).cast("double").as("revenue"))
  }

  val q67Oracle: String =
    """SELECT o_orderstatus, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1""".stripMargin

  /** INTERSECT / EXCEPT cohort assignment (engine extension — SURVEY §2.11
    * verifies the reference itself never uses them; UNION is q26). Spark
    * compiles both to distinct + semi/anti joins, i.e. the same keyed-shuffle
    * shape as q4/q5 — nothing quadratic at 100 TB. */
  def q79SetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables(spark, dir, "orders")
    def active(yr: Int) =
      o.filter(year(col("o_orderdate")) === yr).select(col("o_custkey").as("customer_id"))
    active(1997).intersect(active(1998)).withColumn("status", lit("retained"))
      .union(active(1997).except(active(1998)).withColumn("status", lit("churned")))
      .union(active(1998).except(active(1997)).withColumn("status", lit("acquired")))
  }

  val q79Oracle: String =
    """WITH a97 AS (SELECT DISTINCT o_custkey AS customer_id FROM orders
      |             WHERE year(o_orderdate) = 1997),
      |a98 AS (SELECT DISTINCT o_custkey AS customer_id FROM orders
      |        WHERE year(o_orderdate) = 1998)
      |SELECT customer_id, 'retained' AS status
      |FROM (SELECT customer_id FROM a97 INTERSECT SELECT customer_id FROM a98)
      |UNION ALL
      |SELECT customer_id, 'churned' AS status
      |FROM (SELECT customer_id FROM a97 EXCEPT SELECT customer_id FROM a98)
      |UNION ALL
      |SELECT customer_id, 'acquired' AS status
      |FROM (SELECT customer_id FROM a98 EXCEPT SELECT customer_id FROM a97)""".stripMargin
}
