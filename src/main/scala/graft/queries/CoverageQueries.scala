package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TimeFunctions
import graft.runtime.SqlTemplater

/** Remaining SURVEY.md §2 inventory items: predicate forms (§2.2), RIGHT
  * JOIN (§2.3), INLINE / *_OUTER generators / EXPLODE(MAP_VALUES) (§2.6),
  * window FIRST_VALUE/LAST_VALUE semantics incl. the default-frame gotcha
  * (§2.5), misc scalar families (§2.7), SQL-text models via the templater
  * (§2.9 surface), APPROX_COUNT_DISTINCT (§2.4).
  */
object CoverageQueries {

  /** IN lists / BETWEEN / LIKE / RLIKE (reference:
    * models/spark/onfy/onfy_sessions.sql:30-48, models/spark/pulse/
    * fact_user_activity.sql:35) + RIGHT JOIN (models/spark/b2b_mart/key/
    * interactions_funnel.sql:303). */
  def q42Predicates(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val filtered = o.filter(
      col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM") &&
      col("o_totalprice").between(1000, 200000) &&
      col("o_orderstatus").like("%F%") &&
      col("o_orderpriority").rlike("^[12]-"))
    // RIGHT JOIN: all customers kept, order aggregates where present
    filtered.join(c, col("o_custkey") === col("c_custkey"), "right")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_matching_orders"),
        count(lit(1)).as("n_rows"),
        count_if(col("o_orderkey").isNull).as("n_orderless"))
  }

  val q42Oracle: String =
    """SELECT c_mktsegment,
      |  COUNT(o_orderkey) AS n_matching_orders,
      |  COUNT(*) AS n_rows,
      |  CAST(count_if(o_orderkey IS NULL) AS BIGINT) AS n_orderless
      |FROM (SELECT * FROM orders
      |      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
      |        AND o_totalprice BETWEEN 1000 AND 200000
      |        AND o_orderstatus LIKE '%F%'
      |        AND regexp_matches(o_orderpriority, '^[12]-')) o
      |RIGHT JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  /** INLINE(ARRAY(STRUCT(...))) literal tables (reference: models/spark/
    * dashboards/user_points_transactions.sql:76), EXPLODE_OUTER /
    * POSEXPLODE_OUTER on possibly-empty arrays (models/spark/b2b_mart/fact/
    * fact_order_change.sql:132), EXPLODE(MAP_VALUES(...))
    * (models/spark/points/points_redemptions.sql:61). */
  def q43Generators(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """WITH per_order AS (
        |  SELECT l_orderkey,
        |    filter(collect_list(named_struct('flag', l_returnflag, 'qty', l_quantity)),
        |           x -> x.flag = 'R') AS returns,
        |    map('n_items', CAST(COUNT(*) AS DOUBLE), 'total_qty', sum(l_quantity)) AS m
        |  FROM lineitem GROUP BY l_orderkey),
        |exploded AS (
        |  SELECT l_orderkey, pos, ret.qty AS ret_qty
        |  FROM per_order LATERAL VIEW POSEXPLODE_OUTER(returns) t AS pos, ret),
        |mapvals AS (
        |  SELECT l_orderkey, SUM(v) AS m_sum
        |  FROM per_order LATERAL VIEW EXPLODE(MAP_VALUES(m)) t AS v
        |  GROUP BY l_orderkey),
        |labels AS (SELECT * FROM (SELECT INLINE(ARRAY(
        |    STRUCT('R' AS flag, 'returned' AS label),
        |    STRUCT('A' AS flag, 'accepted' AS label),
        |    STRUCT('N' AS flag, 'neutral' AS label)))))
        |SELECT CAST(e.l_orderkey % 10 AS INT) AS key_bucket,
        |  COUNT(*) AS n_rows,
        |  count_if(e.pos IS NULL) AS n_no_returns,
        |  CAST(SUM(CAST(e.ret_qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_ret_qty,
        |  CAST(SUM(CAST(m.m_sum AS DECIMAL(18,2))) AS DOUBLE) AS sum_map_vals,
        |  l.label AS r_label
        |FROM exploded e
        |JOIN mapvals m ON e.l_orderkey = m.l_orderkey
        |CROSS JOIN (SELECT label FROM labels WHERE flag = 'R') l
        |GROUP BY 1, l.label""".stripMargin)
  }

  val q43Oracle: String =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |    COUNT(*) FILTER (WHERE l_returnflag = 'R') AS n_ret,
      |    SUM(l_quantity) FILTER (WHERE l_returnflag = 'R') AS ret_qty,
      |    COUNT(*) + SUM(l_quantity) AS m_sum
      |  FROM lineitem GROUP BY 1),
      |exploded AS (  -- POSEXPLODE_OUTER ~ one row per 'R' item, or one null row
      |  SELECT l_orderkey, m_sum,
      |    CASE WHEN n_ret = 0 THEN 1 ELSE n_ret END AS n_rows_order,
      |    n_ret, ret_qty
      |  FROM per_order)
      |SELECT CAST(l_orderkey % 10 AS INT) AS key_bucket,
      |  CAST(SUM(n_rows_order) AS BIGINT) AS n_rows,
      |  CAST(count_if(n_ret = 0) AS BIGINT) AS n_no_returns,
      |  CAST(SUM(CAST(ret_qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_ret_qty,
      |  CAST(SUM(CAST(m_sum AS DECIMAL(18,2)) * n_rows_order) AS DOUBLE) AS sum_map_vals,
      |  'returned' AS r_label
      |FROM exploded
      |GROUP BY 1""".stripMargin

  /** Misc scalar families (§2.7): GREATEST/LEAST, POW/SQRT (Wilson-CI shape,
    * reference: .../search_success_aggregated.sql:106), modulo, HEX, SHA2/MD5
    * (onfy_product_analogues.sql:55), REPEAT, FROM_UTC_TIMESTAMP
    * (conversion_funnel_new.sql:51), format_time (macros/format_time.sql). */
  def q44ScalarMisc(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
    li.select(
      col("l_orderkey"), col("l_linenumber"),
      greatest(col("l_quantity"), col("l_discount") * 100).as("gr"),
      least(col("l_tax"), col("l_discount")).as("le"),
      round(pow(col("l_quantity"), 2) + sqrt(col("l_extendedprice")), 6).as("powsqrt"),
      (col("l_orderkey") % 7).as("mod7"),
      hex(col("l_orderkey")).as("key_hex"),
      sha2(col("l_returnflag"), 256).as("flag_sha"),
      md5(col("l_linestatus")).as("status_md5"),
      repeat(col("l_returnflag"), 3).as("flag3"),
      date_format(from_utc_timestamp(col("l_shipdate").cast("timestamp"), "Europe/Berlin"),
        "yyyy-MM-dd HH:mm").as("ship_berlin"),
      TimeFunctions.formatTime(col("l_orderkey") % 90000).as("fmt_time"))
  }

  val q44Oracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  greatest(l_quantity, l_discount * 100) AS gr,
      |  least(l_tax, l_discount) AS le,
      |  round(pow(l_quantity, 2) + sqrt(l_extendedprice), 6) AS powsqrt,
      |  l_orderkey % 7 AS mod7,
      |  CASE WHEN l_orderkey = 0 THEN '0' ELSE ltrim(hex(l_orderkey), '0') END AS key_hex,
      |  sha256(l_returnflag) AS flag_sha,
      |  md5(l_linestatus) AS status_md5,
      |  repeat(l_returnflag, 3) AS flag3,
      |  strftime(timezone('Europe/Berlin', l_shipdate AT TIME ZONE 'UTC'), '%Y-%m-%d %H:%M') AS ship_berlin,
      |  CAST(l_orderkey % 90000 // 3600 AS VARCHAR) || ':' ||
      |    lpad(CAST(l_orderkey % 90000 % 3600 // 60 AS VARCHAR), 2, '0') || ':' ||
      |    lpad(CAST(l_orderkey % 90000 % 60 AS VARCHAR), 2, '0') AS fmt_time
      |FROM lineitem WHERE l_orderkey % 100 = 0""".stripMargin

  /** ARRAYS_ZIP + explode-style field access (reference: models/spark/
    * b2b_mart/scd2/scd2_mongo_order.sql:31), MAP_FILTER (ss_events_by_
    * session.sql:33), TO_JSON (ss_events_by_session.sql:32), PARSE_URL. */
  def q46StructJsonExtras(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "part").createOrReplaceTempView("part")
    spark.sql(
      """WITH t AS (
        |  SELECT p_partkey, p_brand, p_size,
        |    split(p_name, ' ') AS ws,
        |    transform(split(p_name, ' '), w -> length(w)) AS sizes,
        |    concat('https://shop.example.com/parts/', lower(p_type),
        |           '?brand=', translate(p_brand, '#', '-')) AS url
        |  FROM part)
        |SELECT p_partkey,
        |  array_join(transform(arrays_zip(ws, sizes), s -> concat(s.ws, ':', s.sizes)), ',') AS zipped,
        |  CAST(size(map_filter(map('x', p_size, 'y', p_size * 2), (k, v) -> v > 20)) AS INT) AS n_big,
        |  to_json(named_struct('key', p_partkey, 'brand', p_brand)) AS js,
        |  parse_url(url, 'HOST') AS host,
        |  parse_url(url, 'PATH') AS path,
        |  parse_url(url, 'QUERY', 'brand') AS brand_q
        |FROM t""".stripMargin)
  }

  val q46Oracle: String =
    """WITH t AS (
      |  SELECT p_partkey, p_brand, p_size,
      |    string_split(p_name, ' ') AS ws,
      |    list_transform(string_split(p_name, ' '), w -> length(w)) AS sizes,
      |    'https://shop.example.com/parts/' || lower(p_type) ||
      |      '?brand=' || translate(p_brand, '#', '-') AS url
      |  FROM part)
      |SELECT p_partkey,
      |  array_to_string(list_transform(list_zip(ws, sizes),
      |    s -> struct_extract(s, 1) || ':' || CAST(struct_extract(s, 2) AS VARCHAR)), ',') AS zipped,
      |  CAST((CASE WHEN p_size > 20 THEN 1 ELSE 0 END)
      |     + (CASE WHEN p_size * 2 > 20 THEN 1 ELSE 0 END) AS INT) AS n_big,
      |  '{"key":' || p_partkey || ',"brand":"' || p_brand || '"}' AS js,
      |  'shop.example.com' AS host,
      |  regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
      |  regexp_extract(url, 'brand=([^&#]*)', 1) AS brand_q
      |FROM t""".stripMargin

  /** FIRST_VALUE / LAST_VALUE over windows incl. ignoreNulls and the
    * LAST_VALUE default-frame gotcha (reference: SURVEY.md §7 "What's hard";
    * models/spark/onfy/onfy_sessions.sql:156-158, gold_products.sql:25), plus
    * LEAD and an explicit ROWS BETWEEN frame. */
  def q45WindowFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val props = get_json_object(col("props"), "$.k").cast("long")
    e.withColumn("k", when(props % 3 === 0, lit(null).cast("long")).otherwise(props))
      .select(
        col("event_id"),
        first(col("event_type")).over(w).as("first_type"),
        // default frame = rows unbounded preceding..current => last == current
        last(col("event_type")).over(w).as("last_type_gotcha"),
        last(col("event_type")).over(wFull).as("last_type_true"),
        first(col("k"), ignoreNulls = true).over(w).as("first_k_nonnull"),
        last(col("k"), ignoreNulls = true).over(w).as("last_k_sofar"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        sum(col("value").cast("decimal(18,2)"))
          .over(w.rowsBetween(-2, 0)).cast("double").as("sum_3rows"))
  }

  val q45Oracle: String =
    """SELECT event_id,
      |  first_value(event_type) OVER w AS first_type,
      |  last_value(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_type_gotcha,
      |  last_value(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type_true,
      |  first_value(k IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_k_nonnull,
      |  last_value(k IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_k_sofar,
      |  lead(event_type, 1) OVER w AS next_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_3rows
      |FROM (SELECT *, CASE WHEN (props->>'$.k')::BIGINT % 3 = 0 THEN NULL
      |                     ELSE (props->>'$.k')::BIGINT END AS k FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts))""".stripMargin

  /** A reference-shaped SQL-text model run through the templater: source() +
    * var() + is_incremental() + millis_to_ts_msk() + ROW_NUMBER dedup, the
    * near-verbatim surface a reference user would port (SURVEY.md §7
    * `sqlfront`). Full run then incremental run, like production. */
  def q47SqlTextModel(spark: SparkSession, dir: String): DataFrame = {
    val sql =
      """SELECT user_id,
        |  to_date(millis_to_ts_msk(ts_ns div 1000000)) AS msk_date,
        |  event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id, to_date(millis_to_ts_msk(ts_ns div 1000000))
        |                     ORDER BY ts_ns DESC) AS qualify_rn
        |FROM {{ source('default', 'events') }}
        |WHERE value >= {{ var('min_value') }}
        |{% if is_incremental() %}
        |  AND user_id >= 0
        |{% endif %}""".stripMargin
    val model = SqlTemplater.sqlModel("daily_last_event",
      s"SELECT user_id, msk_date, event_type, value FROM ($sql) WHERE qualify_rn = 1",
      graft.runtime.Materialization.IncrementalInsertOverwrite(Seq("msk_date")))
    Scratch.run(Scratch.ctx(spark, dir, vars = Map("min_value" -> "10.0")), Seq(model), runs = 2)
      .ref("daily_last_event")
      .select(col("user_id"), date_format(col("msk_date"), "yyyy-MM-dd").as("msk_date"),
        col("event_type"), col("value"))
  }

  val q47Oracle: String =
    """SELECT user_id,
      |  strftime(CAST(epoch_ms(epoch_ns(ts) // 1000000 + 10800000) AS DATE), '%Y-%m-%d') AS msk_date,
      |  event_type, value
      |FROM events
      |WHERE value >= 10.0
      |QUALIFY ROW_NUMBER() OVER (
      |  PARTITION BY user_id, CAST(epoch_ms(epoch_ns(ts) // 1000000 + 10800000) AS DATE)
      |  ORDER BY epoch_ns(ts) DESC) = 1""".stripMargin

  /** IF / NVL / NULLIF conditionals (reference: IF 748×, COALESCE 892×,
    * NULLIF 9×, NVL 2× — models/spark/base/active_devices.sql:32) and
    * TO_UTC_TIMESTAMP round-trip (reference: 4×). */
  def q54Conditionals(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey,
        |  IF(o_totalprice > 100000, 'big', 'small') AS size_class,
        |  NULLIF(o_orderstatus, 'O') AS status_or_null,
        |  NVL(NULLIF(o_orderstatus, 'O'), 'open') AS status_defaulted,
        |  date_format(to_utc_timestamp(from_utc_timestamp(CAST(o_orderdate AS TIMESTAMP),
        |    'Europe/Berlin'), 'Europe/Berlin'), 'yyyy-MM-dd HH:mm') AS roundtrip
        |FROM orders""".stripMargin)
  }

  val q54Oracle: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size_class,
      |  NULLIF(o_orderstatus, 'O') AS status_or_null,
      |  COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_defaulted,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M') AS roundtrip
      |FROM orders""".stripMargin

  /** The Mongo-daily-snapshot nested shape (FIXTURES.md §B.1; reference:
    * models/spark/b2b_mart/scd2/scd2_mongo_order.sql:26-36, gold_orders.sql:70):
    * nested struct/array/map built per order, then consumed with dotted
    * access THROUGH an array (`state.statusHistory.status` → array<int>),
    * ARRAYS_ZIP + explode, and chained map-of-map access
    * (`metrics['cancelRate']['ignored']['value']`). */
  def q51NestedMongo(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """WITH nested AS (
        |  SELECT l_orderkey AS _id,
        |    named_struct('statusHistory',
        |      array_sort(collect_list(named_struct(
        |        'status', CAST(l_linenumber AS INT),
        |        'updatedTimeMs', CAST(l_quantity * 1000 AS BIGINT))))) AS state,
        |    named_struct('advancePercent', ROUND(MAX(l_discount) * 100, 2),
        |                 'clientCurrency', MAX(l_returnflag)) AS payment,
        |    map('cancelRate', map('ignored',
        |        named_struct('value', COUNT(*) > 3))) AS metrics
        |  FROM lineitem GROUP BY 1)
        |-- single pass: per-_id scalars ride along as grouping expressions, so
        |-- the nested CTE is scanned once (a separate unwrapped⋈zipped self-join
        |-- would compute the collect_list aggregation twice)
        |SELECT _id,
        |  size(state.statusHistory) AS n_status,
        |  element_at(state.statusHistory.status, 1) AS first_status,  -- dotted through array
        |  payment.advancePercent AS advance_pct,
        |  payment.clientCurrency AS currency,
        |  metrics['cancelRate']['ignored']['value'] AS cancel_ignored,
        |  CAST(SUM(z.status) AS BIGINT) AS sum_status,
        |  CAST(SUM(CAST(z.updatedTimeMs AS DECIMAL(18,0))) AS DOUBLE) AS sum_ms
        |FROM nested
        |LATERAL VIEW EXPLODE(ARRAYS_ZIP(state.statusHistory.status,
        |                                state.statusHistory.updatedTimeMs)) t AS z
        |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin)
  }

  val q51Oracle: String =
    """SELECT l_orderkey AS _id,
      |  CAST(COUNT(*) AS INT) AS n_status,
      |  CAST(MIN(l_linenumber) AS INT) AS first_status,
      |  ROUND(MAX(l_discount) * 100, 2) AS advance_pct,
      |  MAX(l_returnflag) AS currency,
      |  COUNT(*) > 3 AS cancel_ignored,
      |  CAST(SUM(l_linenumber) AS BIGINT) AS sum_status,
      |  CAST(SUM(CAST(CAST(l_quantity * 1000 AS BIGINT) AS DECIMAL(18,0))) AS DOUBLE) AS sum_ms
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Wilson confidence interval — the reference's statistical query shape
    * (reference: models/spark/search/success_by_relevance/
    * search_success_aggregated.sql:106 with CAST(1.96 AS DOUBLE)). */
  def q52WilsonCi(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val z = lit(1.96)
    li.groupBy(col("l_returnflag"))
      .agg(count_if(col("l_discount") > 0.05).as("hits"), count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("hits"), col("n"),
        round({
          val n = col("n").cast("double"); val p = col("hits").cast("double") / n
          (p + z * z / (lit(2) * n)
            - z * sqrt((p * (lit(1) - p) + z * z / (lit(4) * n)) / n)) /
            (lit(1) + z * z / n)
        }, 6).as("wilson_lower"))
  }

  val q52Oracle: String =
    """WITH agg AS (
      |  SELECT l_returnflag,
      |    CAST(count_if(l_discount > 0.05) AS BIGINT) AS hits, COUNT(*) AS n
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, hits, n,
      |  ROUND((CAST(hits AS DOUBLE) / CAST(n AS DOUBLE)
      |      + 1.96 * 1.96 / (2 * CAST(n AS DOUBLE))
      |      - 1.96 * sqrt(((CAST(hits AS DOUBLE) / CAST(n AS DOUBLE))
      |          * (1 - CAST(hits AS DOUBLE) / CAST(n AS DOUBLE))
      |          + 1.96 * 1.96 / (4 * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)))
      |    / (1 + 1.96 * 1.96 / CAST(n AS DOUBLE)), 6) AS wilson_lower
      |FROM agg""".stripMargin

  /** APPROX_COUNT_DISTINCT / HLL (reference: models/spark/onfy/
    * onfy_unique_querying_devices.sql:36) — sketch-based, rows-only check. */
  /** APPROX_COUNT_DISTINCT on the oracle gate: the HLL value itself is
    * engine-specific (DuckDB's sketch differs), so the gated outputs are the
    * exact distinct count plus a bounded-relative-error assertion on the
    * sketch (default rsd 5% → |approx-exact|/exact < 0.15 is a ≥3σ bound the
    * sketch must meet on any data); the oracle pins that boolean to TRUE. */
  def q48ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          / col("exact_parts") < 0.15).as("within_bound"))
  }

  val q48Oracle: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS within_bound
      |FROM lineitem GROUP BY 1""".stripMargin
}
