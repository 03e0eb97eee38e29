package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.runtime._

/** The largest-model port: a ~230-line multi-CTE SQL-text model in the exact
  * structural shape of the reference's gold fact table
  * (models/spark/gold/gold_orders.sql, 695 LoC), re-targeted at the test
  * tables and run end-to-end through SqlTemplater + DagRunner with the
  * reference's incremental contract (insert_overwrite by month partition,
  * 200-day lookback re-derivation, `{% if is_incremental() %}` guards inside
  * the body), then oracle-gated.
  *
  * Structural mirror, piece by piece:
  *  - four ROW_NUMBER numberings (gold_orders.sql:22-68 device/product/user/
  *    real_user numbering; numbering CTEs are deliberately UNfiltered in
  *    incremental runs so the global order numbers stay stable — same as the
  *    reference), joined back in the reference's LEFT JOIN USING chain in
  *    the `numbers` CTE. Fusing the four into one multi-window CTE was
  *    measured slower at this scale and is not done (OPTIMIZATION_r18.md
  *    §1d);
  *  - a JSON-guard CTE marking flagged entities
  *    (gold_orders.sql:70-82 merchant_order_notes / pickup_fault, map access
  *    re-expressed over the events props JSON);
  *  - `orders_ext0`: the wide projection with CASE mapping blocks, IF /
  *    COALESCE flag derivations, rounded money fields, and the incremental
  *    lookback filter applied at the source date
  *    (gold_orders.sql:84-270, lookback at 266-268);
  *  - unfiltered per-order aggregates (logistics_orders shape,
  *    gold_orders.sql:272-283) and an incremental-filtered fulfillment
  *    aggregate whose filter keys on the ORDER's date so recomputed
  *    partitions see complete groups (merchant_fulfill,
  *    gold_orders.sql:297-311 — the reference filters on the order entity's
  *    own created date for the same reason; here l_shipdate can precede
  *    o_orderdate, so filtering the fact rows directly would truncate groups);
  *  - an ext1..ext7 enrichment chain of `a.*` LEFT JOINs: numbers, dual-key
  *    support-ticket lookup with COALESCE (orders_ext3 shape,
  *    gold_orders.sql:338-347), customer→nation→region geo defaults
  *    ('Other', orders_ext4:357-373), per-order item aggregates with
  *    finalized/delivered flag overrides (orders_ext5:375-388), an as-of
  *    range join against validity periods (orders_ext6 user_segments
  *    join, gold_orders.sql:390-400), and fulfillment + flag joins
  *    (orders_ext7:402-409);
  *  - a final SELECT deriving ratio/CASE columns and the TRUNC month
  *    partition column (gold_orders.sql:411-695 `order_month_msk`).
  *
  * Incremental-exactness argument (what makes the two-run result equal the
  * full rebuild, which is what the DuckDB oracle computes): only orders_ext0
  * and order_fulfillment filter incrementally, both on o_orderdate >= the
  * month-truncated lookback cutoff — exactly the partitions being
  * overwritten — and every other CTE is global, so each recomputed partition
  * is derived from complete inputs.
  */
object GoldOrdersWide {

  val modelSql: String =
    """{{ config(
      |    materialized='incremental',
      |    alias='orders_wide',
      |    file_format='parquet',
      |    incremental_strategy='insert_overwrite',
      |    partition_by=['order_month'],
      |    on_schema_change='sync_all_columns'
      |  )
      |}}
      |
      |WITH customer_orders_number AS (
      |    SELECT
      |        o_orderkey AS order_id,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS customer_orders_number
      |    FROM {{ source('default', 'orders') }}
      |    WHERE NOT (o_orderstatus = 'X' AND o_orderstatus IS NOT NULL) AND o_custkey IS NOT NULL
      |),
      |
      |priority_orders_number AS (
      |    SELECT
      |        o_orderkey AS order_id,
      |        ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey) AS priority_orders_number
      |    FROM {{ source('default', 'orders') }}
      |    WHERE NOT (o_orderstatus = 'X' AND o_orderstatus IS NOT NULL) AND o_orderpriority IS NOT NULL
      |),
      |
      |status_orders_number AS (
      |    SELECT
      |        o_orderkey AS order_id,
      |        ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey) AS status_orders_number
      |    FROM {{ source('default', 'orders') }}
      |    WHERE NOT (o_orderstatus = 'X' AND o_orderstatus IS NOT NULL) AND o_orderstatus IS NOT NULL
      |),
      |
      |month_orders_number AS (
      |    SELECT
      |        o_orderkey AS order_id,
      |        ROW_NUMBER() OVER (PARTITION BY DATE_FORMAT(o_orderdate, 'yyyy-MM') ORDER BY o_orderdate, o_orderkey) AS month_orders_number
      |    FROM {{ source('default', 'orders') }}
      |    WHERE NOT (o_orderstatus = 'X' AND o_orderstatus IS NOT NULL)
      |),
      |
      |numbers AS (
      |    SELECT
      |        order_id,
      |        customer_orders_number.customer_orders_number,
      |        priority_orders_number.priority_orders_number,
      |        status_orders_number.status_orders_number,
      |        month_orders_number.month_orders_number
      |    FROM customer_orders_number
      |    LEFT JOIN priority_orders_number USING (order_id)
      |    LEFT JOIN status_orders_number USING (order_id)
      |    LEFT JOIN month_orders_number USING (order_id)
      |),
      |
      |-- r18 opt (guide §2.3 "aggregate before you shuffle" / one scan instead
      |-- of two): flagged_customers and support_tickets each scanned events;
      |-- fused into one conditional aggregate over the union of both filters.
      |-- Per join use the semantics are unchanged: a user absent from the old
      |-- support_tickets has ticket_id NULL here (COALESCE sees NULL either
      |-- way), and a user absent from old flagged_customers has flag_event_id
      |-- NULL here (`IS NOT NULL` is FALSE either way). Referenced 3× below,
      |-- so the CTE materializer executes the events scan exactly once.
      |customer_event_flags AS (
      |    SELECT
      |        user_id AS customer_id,
      |        MAX(IF(event_type = 'error', event_id, CAST(NULL AS BIGINT))) AS ticket_id,
      |        MAX(IF(event_type = 'purchase'
      |                AND CAST(GET_JSON_OBJECT(props, '$.k') AS INT) > 80,
      |               event_id, CAST(NULL AS BIGINT))) AS flag_event_id
      |    FROM {{ source('default', 'events') }}
      |    WHERE event_type = 'error'
      |       OR (event_type = 'purchase' AND CAST(GET_JSON_OBJECT(props, '$.k') AS INT) > 80)
      |    GROUP BY user_id
      |),
      |
      |orders_ext0 AS (
      |    SELECT
      |        ord.o_orderkey AS order_id,
      |        ord.o_custkey AS customer_id,
      |        DATE_FORMAT(ord.o_orderdate, 'yyyy-MM-dd') AS order_date,
      |        CASE
      |            WHEN ord.o_orderstatus = 'F' THEN 'fulfilled'
      |            WHEN ord.o_orderstatus = 'O' THEN 'open'
      |            WHEN ord.o_orderstatus = 'P' THEN 'pending'
      |            ELSE 'unknown'
      |        END AS order_status_name,
      |        CASE
      |            WHEN ord.o_orderpriority = '1-URGENT' THEN 1
      |            WHEN ord.o_orderpriority = '2-HIGH' THEN 2
      |            WHEN ord.o_orderpriority = '3-MEDIUM' THEN 3
      |            WHEN ord.o_orderpriority = '4-NOT SPECIFIED' THEN 4
      |            WHEN ord.o_orderpriority = '5-LOW' THEN 5
      |        END AS priority_rank,
      |        CASE
      |            WHEN ord.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedite'
      |            WHEN ord.o_orderpriority = '3-MEDIUM' THEN 'standard'
      |            WHEN ord.o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW') THEN 'relaxed'
      |            ELSE 'unknown'
      |        END AS urgency_class,
      |        CAST(CAST(ord.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS gmv_initial,
      |        CAST(ROUND(CAST(ord.o_totalprice AS DECIMAL(18,2)) * CAST(0.19 AS DECIMAL(4,2)), 3) AS DOUBLE) AS vat_markup,
      |        DATEDIFF(DATE '2002-01-01', ord.o_orderdate) AS order_age_days,
      |        COALESCE(ord.o_totalprice > 200000, FALSE) AS is_big_ticket,
      |        ord.o_orderstatus = 'F' AS is_finalized_base
      |    FROM {{ source('default', 'orders') }} AS ord
      |    WHERE
      |        NOT (ord.o_orderstatus = 'X' AND ord.o_orderstatus IS NOT NULL)
      |        {% if is_incremental() %}
      |            AND ord.o_orderdate >= TRUNC(DATE '{{ var("start_date_ymd") }}' - INTERVAL 200 DAYS, 'MM')
      |        {% endif %}
      |),
      |
      |lineitem_agg AS (
      |    SELECT
      |        l_orderkey AS order_id,
      |        COUNT(*) AS n_items,
      |        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue_net,
      |        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue_gross,
      |        -- r17 opt (guide §1.2 per-task work): MAX over the DATE, format
      |        -- after — MAX(DATE_FORMAT(d)) aggregates a STRING buffer, which
      |        -- HashAggregate cannot hold (immutable buffer type), so the
      |        -- whole lineitem aggregate fell to SortAggregate (two extra
      |        -- 600k-row sorts). 'yyyy-MM-dd' is monotone non-decreasing in
      |        -- the date, so max(format(d)) == format(max(d)) row-for-row.
      |        DATE_FORMAT(MAX(l_shipdate), 'yyyy-MM-dd') AS last_ship_date,
      |        COUNT_IF(l_returnflag = 'R') AS n_returned_items,
      |        MAX(IF(l_returnflag = 'R', 1, 0)) = 1 AS has_return
      |    FROM {{ source('default', 'lineitem') }}
      |    GROUP BY l_orderkey
      |),
      |
      |order_fulfillment AS (
      |    SELECT
      |        l.l_orderkey AS order_id,
      |        MAX(DATEDIFF(l.l_shipdate, o.o_orderdate)) AS max_ship_lag_days,
      |        ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 3) AS avg_item_quantity
      |    FROM {{ source('default', 'lineitem') }} AS l
      |    INNER JOIN {{ source('default', 'orders') }} AS o ON l.l_orderkey = o.o_orderkey
      |    WHERE
      |        l.l_quantity IS NOT NULL
      |        {% if is_incremental() %}
      |            AND o.o_orderdate >= TRUNC(DATE '{{ var("start_date_ymd") }}' - INTERVAL 200 DAYS, 'MM')
      |        {% endif %}
      |    GROUP BY 1
      |),
      |
      |first_order AS (
      |    SELECT
      |        o_custkey AS customer_id,
      |        DATE_FORMAT(MIN(o_orderdate), 'yyyy-MM-dd') AS first_order_date
      |    FROM {{ source('default', 'orders') }}
      |    GROUP BY 1
      |),
      |
      |promo_periods AS (
      |    SELECT
      |        q_start,
      |        DATE_ADD(ADD_MONTHS(q_start, 3), -1) AS q_end,
      |        CONCAT('Q', CAST(QUARTER(q_start) AS STRING), '-', CAST(YEAR(q_start) AS STRING)) AS promo_name
      |    FROM (SELECT EXPLODE(SEQUENCE(DATE '1995-01-01', DATE '2001-07-01', INTERVAL 3 MONTH)) AS q_start)
      |),
      |
      |orders_ext1 AS (
      |    SELECT
      |        o.*,
      |        n.customer_orders_number,
      |        n.priority_orders_number,
      |        n.status_orders_number,
      |        n.month_orders_number
      |    FROM orders_ext0 AS o
      |    LEFT JOIN numbers AS n USING (order_id)
      |),
      |
      |orders_ext2 AS (
      |    SELECT
      |        a.*,
      |        COALESCE(b.ticket_id, c.ticket_id) AS support_ticket_id
      |    FROM orders_ext1 AS a
      |    LEFT JOIN customer_event_flags AS b ON a.customer_id = b.customer_id
      |    LEFT JOIN customer_event_flags AS c ON a.order_id % 150 = c.customer_id
      |),
      |
      |orders_ext3 AS (
      |    SELECT
      |        a.*,
      |        COALESCE(n.n_name, 'Other') AS nation_name,
      |        COALESCE(r.r_name, 'Other') AS region_name,
      |        COALESCE(c.c_mktsegment, 'Other') AS market_segment,
      |        COALESCE(a.order_date = f.first_order_date, FALSE) AS is_first_order,
      |        DATEDIFF(TO_DATE(a.order_date), TO_DATE(f.first_order_date)) AS customer_lifetime_days
      |    FROM orders_ext2 AS a
      |    LEFT JOIN {{ source('default', 'customer') }} AS c ON a.customer_id = c.c_custkey
      |    LEFT JOIN {{ source('default', 'nation') }} AS n ON c.c_nationkey = n.n_nationkey
      |    LEFT JOIN {{ source('default', 'region') }} AS r ON n.n_regionkey = r.r_regionkey
      |    LEFT JOIN first_order AS f ON a.customer_id = f.customer_id
      |),
      |
      |orders_ext4 AS (
      |    SELECT
      |        a.*,
      |        COALESCE(b.n_items, 0) AS n_items,
      |        COALESCE(b.revenue_net, CAST(0 AS DOUBLE)) AS revenue_net,
      |        COALESCE(b.revenue_gross, CAST(0 AS DOUBLE)) AS revenue_gross,
      |        b.last_ship_date,
      |        COALESCE(b.n_returned_items, 0) AS n_returned_items,
      |        COALESCE(b.has_return, FALSE) AS is_refunded,
      |        IF(b.last_ship_date IS NOT NULL, TRUE, a.is_finalized_base) AS is_finalized,
      |        COALESCE(b.n_items > 0, FALSE) AS is_delivered
      |    FROM orders_ext3 AS a
      |    LEFT JOIN lineitem_agg AS b USING (order_id)
      |),
      |
      |orders_ext5 AS (
      |    SELECT
      |        a.*,
      |        COALESCE(p.promo_name, 'none') AS promo_period
      |    FROM orders_ext4 AS a
      |    LEFT JOIN promo_periods AS p
      |        ON TO_DATE(a.order_date) >= p.q_start AND TO_DATE(a.order_date) <= p.q_end
      |),
      |
      |orders_ext6 AS (
      |    SELECT
      |        a.*,
      |        b.max_ship_lag_days,
      |        b.avg_item_quantity
      |    FROM orders_ext5 AS a
      |    LEFT JOIN order_fulfillment AS b USING (order_id)
      |),
      |
      |orders_ext7 AS (
      |    SELECT
      |        a.*,
      |        f.flag_event_id IS NOT NULL AS is_flagged_customer
      |    FROM orders_ext6 AS a
      |    LEFT JOIN customer_event_flags AS f ON a.customer_id = f.customer_id
      |)
      |
      |SELECT
      |    order_id,
      |    customer_id,
      |    order_date,
      |    order_status_name,
      |    priority_rank,
      |    urgency_class,
      |    gmv_initial,
      |    vat_markup,
      |    order_age_days,
      |    is_big_ticket,
      |    customer_orders_number,
      |    priority_orders_number,
      |    status_orders_number,
      |    month_orders_number,
      |    CAST(FLOOR(gmv_initial / GREATEST(CAST(n_items AS DOUBLE), CAST(1 AS DOUBLE)) * CAST(1000 AS DOUBLE)) AS DOUBLE) / CAST(1000 AS DOUBLE) AS item_price,
      |    support_ticket_id,
      |    support_ticket_id IS NOT NULL AS is_with_support_ticket,
      |    nation_name,
      |    region_name,
      |    market_segment,
      |    is_first_order,
      |    customer_lifetime_days,
      |    n_items,
      |    revenue_net,
      |    revenue_gross,
      |    last_ship_date,
      |    n_returned_items,
      |    is_refunded,
      |    is_finalized,
      |    is_delivered,
      |    promo_period,
      |    max_ship_lag_days,
      |    avg_item_quantity,
      |    is_flagged_customer,
      |    CASE
      |        WHEN UPPER(market_segment) = 'BUILDING' THEN nation_name
      |    END AS building_nation,
      |    CASE
      |        WHEN is_refunded AND n_returned_items = n_items THEN 'full_return'
      |        WHEN is_refunded AND n_returned_items * 2 >= n_items THEN 'major_return'
      |        WHEN is_refunded THEN 'partial_return'
      |        WHEN NOT is_finalized THEN NULL
      |        ELSE 'kept'
      |    END AS return_class,
      |    DATE_FORMAT(TO_DATE(order_date), 'yyyy-MM') AS order_month
      |FROM orders_ext7""".stripMargin

  def q72OrdersWide(spark: SparkSession, dir: String): DataFrame = {
    // materialization (incremental insert_overwrite by order_month,
    // sync_all_columns) read from the model's own {{ config(...) }} block;
    // run 2 is incremental: 200-day lookback months overwritten in place
    Scratch.run(Scratch.ctx(spark, dir, vars = Map("start_date_ymd" -> "2001-06-01")),
      Seq(SqlTemplater.sqlModelAuto("gold_orders_wide", modelSql)), runs = 2,
      tests = Seq(GenericTests.unique("gold_orders_wide", "order_id")))
      .ref("gold_orders_wide")
  }

  val q72Oracle: String =
    """WITH customer_orders_number AS (
      |  SELECT o_orderkey AS order_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS customer_orders_number
      |  FROM orders
      |  WHERE NOT (o_orderstatus = 'X' AND o_orderstatus IS NOT NULL) AND o_custkey IS NOT NULL),
      |priority_orders_number AS (
      |  SELECT o_orderkey AS order_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey) AS INT) AS priority_orders_number
      |  FROM orders
      |  WHERE NOT (o_orderstatus = 'X' AND o_orderstatus IS NOT NULL) AND o_orderpriority IS NOT NULL),
      |status_orders_number AS (
      |  SELECT o_orderkey AS order_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey) AS INT) AS status_orders_number
      |  FROM orders
      |  WHERE NOT (o_orderstatus = 'X' AND o_orderstatus IS NOT NULL) AND o_orderstatus IS NOT NULL),
      |month_orders_number AS (
      |  SELECT o_orderkey AS order_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY strftime(o_orderdate, '%Y-%m') ORDER BY o_orderdate, o_orderkey) AS INT) AS month_orders_number
      |  FROM orders
      |  WHERE NOT (o_orderstatus = 'X' AND o_orderstatus IS NOT NULL)),
      |numbers AS (
      |  SELECT order_id,
      |    customer_orders_number.customer_orders_number,
      |    priority_orders_number.priority_orders_number,
      |    status_orders_number.status_orders_number,
      |    month_orders_number.month_orders_number
      |  FROM customer_orders_number
      |  LEFT JOIN priority_orders_number USING (order_id)
      |  LEFT JOIN status_orders_number USING (order_id)
      |  LEFT JOIN month_orders_number USING (order_id)),
      |flagged_customers AS (
      |  SELECT user_id AS customer_id, MAX(event_id) AS flag_event_id
      |  FROM events
      |  WHERE event_type = 'purchase' AND CAST(json_extract_string(props, '$.k') AS INT) > 80
      |  GROUP BY user_id),
      |support_tickets AS (
      |  SELECT user_id AS customer_id, MAX(event_id) AS ticket_id
      |  FROM events WHERE event_type = 'error' GROUP BY user_id),
      |orders_ext0 AS (
      |  SELECT
      |    ord.o_orderkey AS order_id,
      |    ord.o_custkey AS customer_id,
      |    strftime(ord.o_orderdate, '%Y-%m-%d') AS order_date,
      |    CASE WHEN ord.o_orderstatus = 'F' THEN 'fulfilled'
      |         WHEN ord.o_orderstatus = 'O' THEN 'open'
      |         WHEN ord.o_orderstatus = 'P' THEN 'pending'
      |         ELSE 'unknown' END AS order_status_name,
      |    CASE WHEN ord.o_orderpriority = '1-URGENT' THEN 1
      |         WHEN ord.o_orderpriority = '2-HIGH' THEN 2
      |         WHEN ord.o_orderpriority = '3-MEDIUM' THEN 3
      |         WHEN ord.o_orderpriority = '4-NOT SPECIFIED' THEN 4
      |         WHEN ord.o_orderpriority = '5-LOW' THEN 5 END AS priority_rank,
      |    CASE WHEN ord.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedite'
      |         WHEN ord.o_orderpriority = '3-MEDIUM' THEN 'standard'
      |         WHEN ord.o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW') THEN 'relaxed'
      |         ELSE 'unknown' END AS urgency_class,
      |    CAST(CAST(ord.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS gmv_initial,
      |    CAST(ROUND(CAST(ord.o_totalprice AS DECIMAL(18,2)) * CAST(0.19 AS DECIMAL(4,2)), 3) AS DOUBLE) AS vat_markup,
      |    CAST(date_diff('day', CAST(ord.o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS order_age_days,
      |    COALESCE(ord.o_totalprice > 200000, FALSE) AS is_big_ticket,
      |    ord.o_orderstatus = 'F' AS is_finalized_base
      |  FROM orders AS ord
      |  WHERE NOT (ord.o_orderstatus = 'X' AND ord.o_orderstatus IS NOT NULL)),
      |lineitem_agg AS (
      |  SELECT l_orderkey AS order_id,
      |    COUNT(*) AS n_items,
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue_net,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue_gross,
      |    MAX(strftime(l_shipdate, '%Y-%m-%d')) AS last_ship_date,
      |    CAST(count_if(l_returnflag = 'R') AS BIGINT) AS n_returned_items,
      |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 1 AS has_return
      |  FROM lineitem GROUP BY 1),
      |order_fulfillment AS (
      |  SELECT l.l_orderkey AS order_id,
      |    CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))) AS INT) AS max_ship_lag_days,
      |    ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 3) AS avg_item_quantity
      |  FROM lineitem AS l
      |  INNER JOIN orders AS o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_quantity IS NOT NULL
      |  GROUP BY 1),
      |first_order AS (
      |  SELECT o_custkey AS customer_id, strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_order_date
      |  FROM orders GROUP BY 1),
      |promo_periods AS (
      |  SELECT CAST(q_start AS DATE) AS q_start,
      |    CAST(q_start + INTERVAL 3 MONTH - INTERVAL 1 DAY AS DATE) AS q_end,
      |    'Q' || CAST(quarter(q_start) AS VARCHAR) || '-' || CAST(year(q_start) AS VARCHAR) AS promo_name
      |  FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-07-01', INTERVAL 3 MONTH)) AS q_start)),
      |orders_ext1 AS (
      |  SELECT o.*, n.customer_orders_number, n.priority_orders_number,
      |    n.status_orders_number, n.month_orders_number
      |  FROM orders_ext0 AS o LEFT JOIN numbers AS n USING (order_id)),
      |orders_ext2 AS (
      |  SELECT a.*, COALESCE(b.ticket_id, c.ticket_id) AS support_ticket_id
      |  FROM orders_ext1 AS a
      |  LEFT JOIN support_tickets AS b ON a.customer_id = b.customer_id
      |  LEFT JOIN support_tickets AS c ON a.order_id % 150 = c.customer_id),
      |orders_ext3 AS (
      |  SELECT a.*,
      |    COALESCE(n.n_name, 'Other') AS nation_name,
      |    COALESCE(r.r_name, 'Other') AS region_name,
      |    COALESCE(c.c_mktsegment, 'Other') AS market_segment,
      |    COALESCE(a.order_date = f.first_order_date, FALSE) AS is_first_order,
      |    CAST(date_diff('day', CAST(f.first_order_date AS DATE), CAST(a.order_date AS DATE)) AS INT) AS customer_lifetime_days
      |  FROM orders_ext2 AS a
      |  LEFT JOIN customer AS c ON a.customer_id = c.c_custkey
      |  LEFT JOIN nation AS n ON c.c_nationkey = n.n_nationkey
      |  LEFT JOIN region AS r ON n.n_regionkey = r.r_regionkey
      |  LEFT JOIN first_order AS f ON a.customer_id = f.customer_id),
      |orders_ext4 AS (
      |  SELECT a.*,
      |    COALESCE(b.n_items, 0) AS n_items,
      |    COALESCE(b.revenue_net, CAST(0 AS DOUBLE)) AS revenue_net,
      |    COALESCE(b.revenue_gross, CAST(0 AS DOUBLE)) AS revenue_gross,
      |    b.last_ship_date,
      |    COALESCE(b.n_returned_items, 0) AS n_returned_items,
      |    COALESCE(b.has_return, FALSE) AS is_refunded,
      |    CASE WHEN b.last_ship_date IS NOT NULL THEN TRUE ELSE a.is_finalized_base END AS is_finalized,
      |    COALESCE(b.n_items > 0, FALSE) AS is_delivered
      |  FROM orders_ext3 AS a LEFT JOIN lineitem_agg AS b USING (order_id)),
      |orders_ext5 AS (
      |  SELECT a.*, COALESCE(p.promo_name, 'none') AS promo_period
      |  FROM orders_ext4 AS a
      |  LEFT JOIN promo_periods AS p
      |    ON CAST(a.order_date AS DATE) >= p.q_start AND CAST(a.order_date AS DATE) <= p.q_end),
      |orders_ext6 AS (
      |  SELECT a.*, b.max_ship_lag_days, b.avg_item_quantity
      |  FROM orders_ext5 AS a LEFT JOIN order_fulfillment AS b USING (order_id)),
      |orders_ext7 AS (
      |  SELECT a.*, f.flag_event_id IS NOT NULL AS is_flagged_customer
      |  FROM orders_ext6 AS a LEFT JOIN flagged_customers AS f ON a.customer_id = f.customer_id)
      |SELECT
      |  order_id, customer_id, order_date, order_status_name, priority_rank, urgency_class,
      |  gmv_initial, vat_markup, order_age_days, is_big_ticket,
      |  customer_orders_number, priority_orders_number, status_orders_number, month_orders_number,
      |  CAST(FLOOR(gmv_initial / GREATEST(CAST(n_items AS DOUBLE), CAST(1 AS DOUBLE)) * CAST(1000 AS DOUBLE)) AS DOUBLE) / CAST(1000 AS DOUBLE) AS item_price,
      |  support_ticket_id,
      |  support_ticket_id IS NOT NULL AS is_with_support_ticket,
      |  nation_name, region_name, market_segment, is_first_order, customer_lifetime_days,
      |  n_items, revenue_net, revenue_gross, last_ship_date, n_returned_items,
      |  is_refunded, is_finalized, is_delivered, promo_period,
      |  max_ship_lag_days, avg_item_quantity, is_flagged_customer,
      |  CASE WHEN UPPER(market_segment) = 'BUILDING' THEN nation_name END AS building_nation,
      |  CASE WHEN is_refunded AND n_returned_items = n_items THEN 'full_return'
      |       WHEN is_refunded AND n_returned_items * 2 >= n_items THEN 'major_return'
      |       WHEN is_refunded THEN 'partial_return'
      |       WHEN NOT is_finalized THEN NULL
      |       ELSE 'kept' END AS return_class,
      |  strftime(CAST(order_date AS DATE), '%Y-%m') AS order_month
      |FROM orders_ext7""".stripMargin
}
