package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ArgCode
import graft.ops.Sessionize

/** Window-function operators from SURVEY.md §2.5: ROW_NUMBER dedup, LAG/LEAD,
  * rolling RANGE frames, FOLLOWING-only retention frames, sessionization,
  * nested agg-in-window.
  *
  * Event-time parity convention: `events.ts` is nanosecond-precision; all
  * arithmetic uses floor-to-second epochs (`ts_ns div 1e9`) and all ordering
  * uses the raw nanos, so Spark (micros) and the DuckDB oracle (nanos) agree
  * exactly (flooring is compositional; sub-micro order ties are impossible).
  */
object WindowQueries {

  /** ROW_NUMBER + rn=1 dedup — the reference's QUALIFY-style pattern
    * (reference: models/spark/b2b_mart/fact/marketing/
    * fact_marketing_add_to_cart_interactions.sql:55,73;
    * models/spark/gold/gold_orders.sql:23). */
  def q2LatestOrderPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"),
        col("o_orderkey").as("latest_orderkey"),
        col("o_totalprice").as("latest_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_orderdate"))
  }

  val q2Oracle: String =
    """SELECT o_custkey, o_orderkey AS latest_orderkey, o_totalprice AS latest_totalprice,
      |  strftime(o_orderdate, '%Y-%m-%d') AS latest_orderdate
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""".stripMargin

  /** LAG gap analysis per user (reference: macros/
    * gold_active_users_and_devices_with_ephemeral.sql:124-125). */
  def q8EventGaps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .withColumn("es", expr("ts_ns div 1000000000"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
    e.withColumn("gap", col("es") - lag(col("es"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("gap")).as("n_gaps"),
        (sum(col("gap")).cast("double") / count(col("gap"))).as("avg_gap_sec"),
        max(col("gap")).as("max_gap_sec"))
  }

  val q8Oracle: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_ns(ts) // 1000000000
      |      - lag(epoch_ns(ts) // 1000000000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS gap
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_events, COUNT(gap) AS n_gaps,
      |  CAST(SUM(gap) AS DOUBLE) / COUNT(gap) AS avg_gap_sec,
      |  MAX(gap) AS max_gap_sec
      |FROM g GROUP BY 1""".stripMargin

  /** 30-min-gap sessionization (reference: models/spark/onfy/onfy_sessions.sql:120-180). */
  def q9Sessions(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .withColumn("es", expr("ts_ns div 1000000000"))
    Sessionize(e, "user_id", "ts_ns", "es", 1800L)
      .groupBy(col("user_id"), col("session_num"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("es")) - min(col("es"))).as("duration_sec"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
  }

  val q9Oracle: String =
    """WITH g AS (
      |  SELECT user_id, value, epoch_ns(ts) AS tns, epoch_ns(ts) // 1000000000 AS es,
      |    lag(epoch_ns(ts) // 1000000000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS prev_es
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_es IS NULL OR es - prev_es > 1800 THEN 1 ELSE 0 END AS is_new
      |  FROM g),
      |s AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tns
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_num
      |  FROM m)
      |SELECT user_id, CAST(session_num AS BIGINT) AS session_num, COUNT(*) AS n_events,
      |  MAX(es) - MIN(es) AS duration_sec,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM s GROUP BY 1, 2""".stripMargin

  /** Rolling 28-day revenue: RANGE BETWEEN 27 PRECEDING over an integer day
    * key (reference: models/spark/search/success_by_relevance/
    * search_success_aggregated.sql:84,89). */
  def q10RollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val daily = o.groupBy(unix_date(to_date(col("o_orderdate"))).as("day_num"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("day_num")).rangeBetween(-27, 0)
    daily.select(col("day_num"), col("n_orders"),
        sum(col("rev")).over(w).cast("double").as("rev_28d"),
        count(lit(1)).over(w).as("n_days_28d"))
  }

  val q10Oracle: String =
    """WITH daily AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_num,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev, COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT day_num, n_orders,
      |  CAST(SUM(rev) OVER (ORDER BY day_num RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_28d,
      |  COUNT(*) OVER (ORDER BY day_num RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) AS n_days_28d
      |FROM daily""".stripMargin

  /** Timestamp-ordered interval RANGE frame — `RANGE BETWEEN INTERVAL 27 DAYS
    * PRECEDING AND CURRENT ROW` over a TIMESTAMP sort key, the reference's
    * literal frame (models/spark/search/success_by_relevance/
    * search_success_aggregated.sql:82-90). Distinct codepath from the
    * integer-day proxy in [[q10RollingRevenue]]: the frame boundary is a
    * calendar interval evaluated against the timestamp ordering key, only
    * expressible through the SQL window syntax (the DataFrame rangeBetween
    * API takes longs). */
  def q61IntervalFrame(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val frame = "PARTITION BY o_orderpriority ORDER BY ots " +
      "RANGE BETWEEN INTERVAL 27 DAYS PRECEDING AND CURRENT ROW"
    o.groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("od"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .withColumn("ots", col("od").cast("timestamp"))
      .select(col("o_orderpriority"),
        date_format(col("od"), "yyyy-MM-dd").as("order_day"),
        expr(s"CAST(sum(rev) OVER ($frame) AS DOUBLE)").as("rev_28d"),
        expr(s"count(*) OVER ($frame)").as("n_days_28d"))
  }

  val q61Oracle: String =
    """WITH daily AS (
      |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS od,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderpriority, strftime(od, '%Y-%m-%d') AS order_day,
      |  CAST(SUM(rev) OVER (PARTITION BY o_orderpriority ORDER BY CAST(od AS TIMESTAMP)
      |    RANGE BETWEEN INTERVAL 27 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_28d,
      |  COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY CAST(od AS TIMESTAMP)
      |    RANGE BETWEEN INTERVAL 27 DAYS PRECEDING AND CURRENT ROW) AS n_days_28d
      |FROM daily""".stripMargin

  /** Retention flags via FOLLOWING-only RANGE frames over an integer day key
    * (reference: macros/gold_active_users_and_devices_with_ephemeral.sql:258-293,
    * models/spark/gold/gold_active_real_users.sql:172-177 — rd1/rd7/rw4). */
  def q11RetentionFlags(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    // collect_set+explode distinct: one shuffle on user_id that the windows
    // below reuse (a plain .distinct() would shuffle on (user_id, d) and
    // force a second exchange for the user-keyed windows)
    val days = e.select(col("user_id"), unix_date(to_date(col("ts"))).as("d"))
      .groupBy(col("user_id")).agg(collect_set(col("d")).as("ds"))
      .select(col("user_id"), explode(col("ds")).as("d"))
    def frame(lo: Int, hi: Int) =
      count(lit(1)).over(Window.partitionBy(col("user_id")).orderBy(col("d")).rangeBetween(lo, hi))
    days
      .withColumn("rd1", (frame(1, 1) > 0).cast("int"))
      .withColumn("rd7", (frame(1, 7) > 0).cast("int"))
      .withColumn("rw4", (frame(22, 28) > 0).cast("int"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("rd1")).as("n_rd1"), sum(col("rd7")).as("n_rd7"), sum(col("rw4")).as("n_rw4"))
  }

  val q11Oracle: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT) AS d
      |  FROM events),
      |f AS (
      |  SELECT user_id, d,
      |    CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY d RANGE BETWEEN 1 FOLLOWING AND 1 FOLLOWING) > 0 AS INT) AS rd1,
      |    CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY d RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING) > 0 AS INT) AS rd7,
      |    CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY d RANGE BETWEEN 22 FOLLOWING AND 28 FOLLOWING) > 0 AS INT) AS rw4
      |  FROM days)
      |SELECT d, COUNT(*) AS n_users, CAST(SUM(rd1) AS BIGINT) AS n_rd1,
      |  CAST(SUM(rd7) AS BIGINT) AS n_rd7, CAST(SUM(rw4) AS BIGINT) AS n_rw4
      |FROM f GROUP BY 1""".stripMargin

  /** Deterministic FIRST/LAST per group via MIN_BY/MAX_BY over a unique
    * ordering key (reference's FIRST_VALUE/LAST_VALUE-as-aggregate,
    * models/spark/base/active_devices.sql:24-43, made order-stable). The
    * STRING event_type goes through [[ArgCode]], so the aggregate stays a
    * HashAggregate. */
  def q16FirstLastPerUser(spark: SparkSession, dir: String): DataFrame = {
    ArgCode.register(spark)
    Tables(spark, dir, "events").groupBy(col("user_id"))
      .agg(
        ArgCode.minBy(col("event_type"), col("ts_ns")).as("first_type"),
        ArgCode.maxBy(col("event_type"), col("ts_ns")).as("last_type"),
        min(expr("ts_ns div 1000000000")).as("first_es"),
        max(expr("ts_ns div 1000000000")).as("last_es"),
        count(lit(1)).as("n_events"))
  }

  val q16Oracle: String =
    """SELECT user_id,
      |  arg_min(event_type, epoch_ns(ts)) AS first_type,
      |  arg_max(event_type, epoch_ns(ts)) AS last_type,
      |  MIN(epoch_ns(ts) // 1000000000) AS first_es,
      |  MAX(epoch_ns(ts) // 1000000000) AS last_es,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY 1""".stripMargin

  /** NTILE / PERCENT_RANK / CUME_DIST — distribution-rank windows (engine
    * extension beyond the reference's window inventory): account-balance
    * quartiles and percentile position per market segment, ordered by a
    * unique (balance, key) pair so every rank is deterministic. */
  def q70WindowRanks(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    c.select(col("c_custkey"), col("c_mktsegment"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cume"))
  }

  val q70Oracle: String =
    """SELECT c_custkey, c_mktsegment,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  ROUND(percent_rank() OVER w, 6) AS pct_rank,
      |  ROUND(cume_dist() OVER w, 6) AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""".stripMargin

  /** Nested agg-in-window: revenue share of month — SUM(SUM(x)) OVER
    * (reference: macros/gold_active_users_and_devices_with_ephemeral.sql:81-82). */
  def q28RevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val agg = o.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
        col("o_orderpriority"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val w = Window.partitionBy(col("order_month"))
    agg.select(col("order_month"), col("o_orderpriority"),
        col("rev").cast("double").as("revenue"),
        round(col("rev").cast("double") / sum(col("rev")).over(w).cast("double"), 6)
          .as("month_share"))
  }

  val q28Oracle: String =
    """WITH agg AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_orderpriority,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1, 2)
      |SELECT order_month, o_orderpriority, CAST(rev AS DOUBLE) AS revenue,
      |  ROUND(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER (PARTITION BY order_month) AS DOUBLE), 6) AS month_share
      |FROM agg""".stripMargin
}
