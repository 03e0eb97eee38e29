package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import graft.runtime._

/** The deep-funnel port: a ~450-line multi-CTE SQL-text model in the exact
  * structural shape of the reference's LARGEST model,
  * models/spark/onfy/onfy_source_campaign_funnels.sql (1,407 LoC), re-targeted
  * at the test `events`/`part` tables and run end-to-end through
  * SqlTemplater + DagRunner with the reference's incremental contract
  * (insert_overwrite by event_date partition, lookback re-derivation,
  * `{% if is_incremental() %}` guard), then oracle-gated.
  *
  * Structural mirror, piece by piece (reference line cites):
  *  - dict CTEs with GROUP BY dedup + a group self-join expanding a product
  *    to its whole group (onfy_source_campaign_funnels.sql:22-51
  *    dim_product_dict / medicine_group_products — the funnel counts a
  *    conversion when ANY group member is purchased);
  *  - raw event normalization: platform CASE mapping, payload JSON
  *    extraction, event-type IN filter (ibid.:83-122 raw_events, with
  *    device.osType → platform and payload.* extraction re-expressed over
  *    the events props JSON);
  *  - the sessionization chain events_with_lag → events_with_flags →
  *    sessionized_events → aggregated_session_events (ibid.:124-230), with
  *    LEAD next-event bounds per (device, type) powering the funnel windows;
  *  - modular funnel-step CTEs joined by time windows
  *    `first.ts <= second.ts < COALESCE(first.next_ts, first.ts + INTERVAL
  *    30 MINUTES)` (ibid.:330-413 previews_to_source / preview_to_openings /
  *    preview_to_cart_addings), including the group-expansion purchase join
  *    (ibid.:391-413 joins medicine_group_products before cart_addings) and
  *    MIN_BY first-touch attribution (ibid.:341-345), over STRING values
  *    as `EXACT_MIN_BY` ([[graft.functions.ArgCode]]) so the aggregate
  *    stays a HashAggregate;
  *  - a UNION ALL source-event block (ibid.:595-630 banner_initial_events);
  *  - a three-step chained funnel (ibid.:821-856
  *    table_product_previews_to_openings_to_cart_addings);
  *  - pre_final_flat_table as a UNION ALL of per-funnel blocks each tagged
  *    with a literal funnel_name (ibid.:965-1325), then pre_final_agg_table
  *    grouping to (date, platform, funnel) with COUNT(DISTINCT step ids)
  *    (ibid.:1327-1361), and a final SELECT deriving the conversion ratio
  *    (ibid.:1363-1383).
  *
  * Incremental-exactness argument (two-run == full rebuild == the DuckDB
  * oracle): every flat row is keyed by its FIRST step's event_dt — exactly
  * the output partition column — so the single `{% if is_incremental() %}`
  * lookback filter right before the final aggregation prunes whole output
  * partitions while every upstream CTE (sessionization, windows, LEAD
  * bounds) stays global; each recomputed partition is therefore derived from
  * complete inputs. (The reference filters raw_events at 120 days for cost —
  * at 100 TB we would add the same raw prune widened by the max window span,
  * which is sound because a funnel row's events span ≤ 30 minutes; the
  * engine-side gold_orders port documents the same lesson.)
  *
  * Determinism: event timestamps are µs-unique per device in this data, so
  * every window ORDER BY (event_ts, event_id) is total and MIN_BY keys are
  * unique within each attribution group. LEFT-JOIN groups are either all
  * matched or a single all-NULL row, so MIN_BY's NULL-key handling never
  * has to break a mixed group (scaladoc'd because Spark and DuckDB differ
  * on mixed groups).
  */
object CampaignFunnels {

  val modelSql: String =
    """{{ config(
      |    materialized='incremental',
      |    alias='campaign_funnels',
      |    file_format='parquet',
      |    incremental_strategy='insert_overwrite',
      |    partition_by=['event_date'],
      |    on_schema_change='sync_all_columns'
      |  )
      |}}
      |
      |------------------------------------------------------------------------
      |-- dicts for enriching the data
      |------------------------------------------------------------------------
      |WITH dim_part_dict AS (
      |    SELECT
      |        p_partkey AS product_id,
      |        p_brand AS group_id,
      |        p_name AS product_name,
      |        p_type AS manufacturer,
      |        p_size AS size
      |    FROM {{ source('default', 'part') }}
      |    WHERE p_brand IS NOT NULL AND p_partkey <= 100
      |    GROUP BY
      |        p_partkey,
      |        p_brand,
      |        p_name,
      |        p_type,
      |        p_size
      |),
      |
      |group_products AS (
      |    SELECT
      |        dpd1.product_id AS initial_product_id,
      |        dpd2.product_id AS group_product_id
      |    FROM dim_part_dict AS dpd1
      |    INNER JOIN dim_part_dict AS dpd2
      |        ON dpd1.group_id = dpd2.group_id
      |),
      |
      |-- dictionary for attribution categories
      |categories AS (
      |    SELECT
      |        group_id AS id,
      |        MIN(manufacturer) AS name
      |    FROM dim_part_dict
      |    GROUP BY group_id
      |),
      |
      |------------------------------------------------------------------------
      |-- raw events: platform mapping, payload extraction, sessionization prep
      |------------------------------------------------------------------------
      |raw_events AS (
      |    SELECT
      |        user_id AS device_id,
      |        CASE
      |            WHEN CAST(GET_JSON_OBJECT(props, '$.k') AS INT) < 30 THEN 'desktop'
      |            WHEN CAST(GET_JSON_OBJECT(props, '$.k') AS INT) < 60 THEN 'mobile'
      |            WHEN CAST(GET_JSON_OBJECT(props, '$.k') AS INT) < 90 THEN 'apps'
      |            ELSE 'unknown'
      |        END AS platform,
      |        event_id,
      |        TIMESTAMP_MICROS(ts_ns div 1000) AS event_ts,
      |        DATE_FORMAT(TIMESTAMP_MICROS(ts_ns div 1000), 'yyyy-MM-dd') AS event_dt,
      |        event_type,
      |        CAST(GET_JSON_OBJECT(props, '$.k') AS INT) % 100 + 1 AS product_id,
      |        value
      |    FROM {{ source('default', 'events') }}
      |    WHERE event_type IN ('view', 'click', 'purchase', 'signup', 'error')
      |),
      |
      |events_with_lag AS (
      |    SELECT
      |        *,
      |        LEAD(event_ts) OVER (
      |            PARTITION BY device_id, event_type ORDER BY event_ts, event_id
      |        ) AS next_event_ts
      |    FROM raw_events
      |),
      |
      |events_with_flags AS (
      |    SELECT
      |        *,
      |        IF(
      |            ROW_NUMBER() OVER (PARTITION BY device_id ORDER BY event_ts, event_id) = 1
      |            OR LAG(event_ts) OVER (PARTITION BY device_id ORDER BY event_ts, event_id)
      |               + INTERVAL 30 MINUTES < event_ts,
      |            1, 0
      |        ) AS is_session_start
      |    FROM events_with_lag
      |),
      |
      |sessionized_events AS (
      |    SELECT
      |        *,
      |        SUM(is_session_start) OVER (
      |            PARTITION BY device_id ORDER BY event_ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      |        ) AS session_num
      |    FROM events_with_flags
      |),
      |
      |aggregated_session_events AS (
      |    SELECT
      |        device_id,
      |        session_num,
      |        EXACT_MIN_BY(platform, event_ts) AS session_platform,
      |        MIN(event_ts) AS session_start_ts,
      |        MAX(event_ts) AS session_end_ts,
      |        COUNT(*) AS session_events,
      |        SIZE(COLLECT_SET(event_type)) AS unique_event_types,
      |        SUM(IF(event_type = 'purchase', 1, 0)) AS session_purchases
      |    FROM sessionized_events
      |    GROUP BY
      |        device_id,
      |        session_num
      |),
      |
      |------------------------------------------------------------------------
      |-- modular funnel-step CTEs
      |------------------------------------------------------------------------
      |product_views AS (
      |    SELECT * FROM sessionized_events WHERE event_type = 'view'
      |),
      |
      |product_opens AS (
      |    SELECT * FROM sessionized_events WHERE event_type = 'click'
      |),
      |
      |purchases AS (
      |    SELECT * FROM sessionized_events WHERE event_type = 'purchase'
      |),
      |
      |-- campaign source events (banner_initial_events shape: UNION ALL of
      |-- heterogeneous sources normalized to one relation)
      |source_events AS (
      |    SELECT device_id, platform, event_id, event_ts, event_dt, next_event_ts,
      |        'signup' AS source_type
      |    FROM events_with_lag
      |    WHERE event_type = 'signup'
      |
      |    UNION ALL
      |
      |    SELECT device_id, platform, event_id, event_ts, event_dt, next_event_ts,
      |        'promo' AS source_type
      |    FROM events_with_lag
      |    WHERE event_type = 'error'
      |
      |    UNION ALL
      |
      |    SELECT device_id, platform, event_id, event_ts, event_dt, next_event_ts,
      |        'external' AS source_type
      |    FROM events_with_lag
      |    WHERE event_type = 'click' AND product_id > 90
      |),
      |
      |-- Product Views ← Initial Source Event (first-touch within source window)
      |views_to_source AS (
      |    SELECT
      |        pv.event_dt,
      |        pv.event_id AS view_event_id,
      |        pv.event_ts AS view_event_ts,
      |        pv.platform,
      |        pv.product_id,
      |        ctg.name AS category_name,
      |        EXACT_MIN_BY(se.source_type, se.event_ts) AS source_type
      |    FROM product_views AS pv
      |    LEFT JOIN source_events AS se
      |        ON
      |            pv.device_id = se.device_id
      |            AND pv.event_ts >= se.event_ts
      |            AND pv.event_ts < COALESCE(se.next_event_ts, se.event_ts + INTERVAL 30 MINUTES)
      |    LEFT JOIN dim_part_dict AS dp
      |        ON pv.product_id = dp.product_id
      |    LEFT JOIN categories AS ctg
      |        ON dp.group_id = ctg.id
      |    GROUP BY
      |        pv.event_dt,
      |        pv.event_id,
      |        pv.event_ts,
      |        pv.platform,
      |        pv.product_id,
      |        ctg.name
      |),
      |
      |-- Product Views → Product Opens (same product, within view window)
      |view_to_opens AS (
      |    SELECT
      |        pv.event_dt,
      |        pv.platform,
      |        pv.event_id AS view_event_id,
      |        pv.event_ts AS view_event_ts,
      |        po.event_id AS open_event_id,
      |        po.event_ts AS open_event_ts,
      |        po.product_id,
      |        IF(pv.session_num = po.session_num, 1, 0) AS same_session
      |    FROM product_views AS pv
      |    INNER JOIN product_opens AS po
      |        ON
      |            pv.device_id = po.device_id
      |            AND pv.product_id = po.product_id
      |            AND pv.event_ts <= po.event_ts
      |            AND COALESCE(pv.next_event_ts, pv.event_ts + INTERVAL 30 MINUTES) > po.event_ts
      |),
      |
      |-- Product Views → Purchases of ANY product in the same group
      |-- (medicine_group expansion shape)
      |view_to_purchases AS (
      |    SELECT
      |        pv.event_dt,
      |        pv.platform,
      |        pv.event_id AS view_event_id,
      |        pv.event_ts AS view_event_ts,
      |        ca.event_id AS purchase_event_id,
      |        ca.event_ts AS purchase_event_ts,
      |        ca.product_id,
      |        ca.value,
      |        IF(pv.session_num = ca.session_num, 1, 0) AS same_session
      |    FROM product_views AS pv
      |    INNER JOIN group_products AS mg
      |        ON pv.product_id = mg.initial_product_id
      |    INNER JOIN purchases AS ca
      |        ON
      |            pv.device_id = ca.device_id
      |            AND mg.group_product_id = ca.product_id
      |            AND pv.event_ts <= ca.event_ts
      |            AND COALESCE(pv.next_event_ts, pv.event_ts + INTERVAL 30 MINUTES) > ca.event_ts
      |),
      |
      |-- Product Opens → Purchases (same product, within open window)
      |open_to_purchases AS (
      |    SELECT
      |        po.event_dt,
      |        po.platform,
      |        po.event_id AS open_event_id,
      |        po.event_ts AS open_event_ts,
      |        ca.event_id AS purchase_event_id,
      |        ca.event_ts AS purchase_event_ts,
      |        ca.product_id,
      |        ca.value,
      |        IF(po.session_num = ca.session_num, 1, 0) AS same_session
      |    FROM product_opens AS po
      |    INNER JOIN purchases AS ca
      |        ON
      |            po.device_id = ca.device_id
      |            AND po.product_id = ca.product_id
      |            AND po.event_ts <= ca.event_ts
      |            AND COALESCE(po.next_event_ts, po.event_ts + INTERVAL 30 MINUTES) > ca.event_ts
      |),
      |
      |-- three-step chain: View → Open → Purchase
      |view_open_purchase AS (
      |    SELECT
      |        vo.event_dt,
      |        vo.platform,
      |        vo.view_event_id,
      |        op.purchase_event_id,
      |        op.value,
      |        IF(vo.same_session = 1 AND op.same_session = 1, 1, 0) AS same_session
      |    FROM view_to_opens AS vo
      |    INNER JOIN open_to_purchases AS op
      |        ON vo.open_event_id = op.open_event_id
      |),
      |
      |------------------------------------------------------------------------
      |-- flat union of funnel blocks, one literal funnel_name per block
      |------------------------------------------------------------------------
      |pre_final_flat_table AS (
      |    SELECT
      |        event_dt,
      |        platform,
      |        'view_to_open' AS funnel_name,
      |        view_event_id AS first_event_id,
      |        open_event_id AS second_event_id,
      |        CAST(NULL AS DOUBLE) AS gmv,
      |        same_session
      |    FROM view_to_opens
      |
      |    UNION ALL
      |
      |    SELECT
      |        event_dt,
      |        platform,
      |        'view_to_purchase' AS funnel_name,
      |        view_event_id AS first_event_id,
      |        purchase_event_id AS second_event_id,
      |        value AS gmv,
      |        same_session
      |    FROM view_to_purchases
      |
      |    UNION ALL
      |
      |    SELECT
      |        event_dt,
      |        platform,
      |        'open_to_purchase' AS funnel_name,
      |        open_event_id AS first_event_id,
      |        purchase_event_id AS second_event_id,
      |        value AS gmv,
      |        same_session
      |    FROM open_to_purchases
      |
      |    UNION ALL
      |
      |    SELECT
      |        event_dt,
      |        platform,
      |        'view_open_purchase' AS funnel_name,
      |        view_event_id AS first_event_id,
      |        purchase_event_id AS second_event_id,
      |        value AS gmv,
      |        same_session
      |    FROM view_open_purchase
      |
      |    UNION ALL
      |
      |    SELECT
      |        event_dt,
      |        platform,
      |        CONCAT('source_', COALESCE(source_type, 'organic')) AS funnel_name,
      |        view_event_id AS first_event_id,
      |        CAST(NULL AS BIGINT) AS second_event_id,
      |        CAST(NULL AS DOUBLE) AS gmv,
      |        CAST(NULL AS INT) AS same_session
      |    FROM views_to_source
      |
      |    UNION ALL
      |
      |    SELECT
      |        DATE_FORMAT(session_start_ts, 'yyyy-MM-dd') AS event_dt,
      |        session_platform AS platform,
      |        'sessions' AS funnel_name,
      |        device_id * 100000 + session_num AS first_event_id,
      |        CAST(NULL AS BIGINT) AS second_event_id,
      |        CAST(NULL AS DOUBLE) AS gmv,
      |        CAST(NULL AS INT) AS same_session
      |    FROM aggregated_session_events
      |),
      |
      |pre_final_agg_table AS (
      |    SELECT
      |        event_dt,
      |        platform,
      |        funnel_name,
      |        COUNT(DISTINCT first_event_id) AS step1_uniques,
      |        COUNT(DISTINCT second_event_id) AS step2_uniques,
      |        COUNT(*) AS pair_rows,
      |        CAST(SUM(CAST(gmv AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
      |        SUM(same_session) AS same_session_pairs
      |    FROM pre_final_flat_table
      |    {% if is_incremental() %}
      |    WHERE event_dt >= DATE_FORMAT(DATE '{{ var("start_date_ymd") }}' - INTERVAL 10 DAYS, 'yyyy-MM-dd')
      |    {% endif %}
      |    GROUP BY
      |        event_dt,
      |        platform,
      |        funnel_name
      |)
      |
      |SELECT
      |    platform,
      |    funnel_name,
      |    step1_uniques,
      |    step2_uniques,
      |    pair_rows,
      |    gmv,
      |    same_session_pairs,
      |    ROUND(CAST(step2_uniques AS DOUBLE) / step1_uniques, 4) AS conversion,
      |    event_dt AS event_date
      |FROM pre_final_agg_table""".stripMargin

  def q74CampaignFunnels(spark: SparkSession, dir: String): DataFrame = {
    val dup = SingularTest("funnels_dup", c =>
      c.ref("campaign_funnels")
        .groupBy(col("event_date"), col("platform"), col("funnel_name"))
        .agg(count(lit(1)).as("n")).where(col("n") > 1))
    // materialization read from the model's own {{ config(...) }} block;
    // run 2 is incremental: 10-day lookback partitions overwritten
    Scratch.run(Scratch.ctx(spark, dir, vars = Map("start_date_ymd" -> "2024-01-25")),
      Seq(SqlTemplater.sqlModelAuto("campaign_funnels", modelSql)), runs = 2,
      tests = Seq(dup)).ref("campaign_funnels")
  }

  val q74Oracle: String =
    """WITH dim_part_dict AS (
      |  SELECT p_partkey AS product_id, p_brand AS group_id, p_name AS product_name,
      |    p_type AS manufacturer, p_size AS size
      |  FROM part
      |  WHERE p_brand IS NOT NULL AND p_partkey <= 100
      |  GROUP BY p_partkey, p_brand, p_name, p_type, p_size),
      |group_products AS (
      |  SELECT dpd1.product_id AS initial_product_id, dpd2.product_id AS group_product_id
      |  FROM dim_part_dict AS dpd1
      |  INNER JOIN dim_part_dict AS dpd2 ON dpd1.group_id = dpd2.group_id),
      |categories AS (
      |  SELECT group_id AS id, MIN(manufacturer) AS name FROM dim_part_dict GROUP BY group_id),
      |raw_events AS (
      |  SELECT user_id AS device_id,
      |    CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) < 30 THEN 'desktop'
      |         WHEN CAST(json_extract_string(props, '$.k') AS INT) < 60 THEN 'mobile'
      |         WHEN CAST(json_extract_string(props, '$.k') AS INT) < 90 THEN 'apps'
      |         ELSE 'unknown' END AS platform,
      |    event_id,
      |    make_timestamp(epoch_ns(ts) // 1000) AS event_ts,
      |    strftime(make_timestamp(epoch_ns(ts) // 1000), '%Y-%m-%d') AS event_dt,
      |    event_type,
      |    CAST(json_extract_string(props, '$.k') AS INT) % 100 + 1 AS product_id,
      |    value
      |  FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase', 'signup', 'error')),
      |events_with_lag AS (
      |  SELECT *, LEAD(event_ts) OVER (
      |      PARTITION BY device_id, event_type ORDER BY event_ts, event_id) AS next_event_ts
      |  FROM raw_events),
      |events_with_flags AS (
      |  SELECT *, CASE WHEN
      |      ROW_NUMBER() OVER (PARTITION BY device_id ORDER BY event_ts, event_id) = 1
      |      OR LAG(event_ts) OVER (PARTITION BY device_id ORDER BY event_ts, event_id)
      |         + INTERVAL 30 MINUTE < event_ts
      |      THEN 1 ELSE 0 END AS is_session_start
      |  FROM events_with_lag),
      |sessionized_events AS (
      |  SELECT *, CAST(SUM(is_session_start) OVER (
      |      PARTITION BY device_id ORDER BY event_ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_num
      |  FROM events_with_flags),
      |aggregated_session_events AS (
      |  SELECT device_id, session_num,
      |    arg_min(platform, event_ts) AS session_platform,
      |    MIN(event_ts) AS session_start_ts,
      |    MAX(event_ts) AS session_end_ts,
      |    COUNT(*) AS session_events,
      |    CAST(COUNT(DISTINCT event_type) AS INT) AS unique_event_types,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS session_purchases
      |  FROM sessionized_events GROUP BY device_id, session_num),
      |product_views AS (SELECT * FROM sessionized_events WHERE event_type = 'view'),
      |product_opens AS (SELECT * FROM sessionized_events WHERE event_type = 'click'),
      |purchases AS (SELECT * FROM sessionized_events WHERE event_type = 'purchase'),
      |source_events AS (
      |  SELECT device_id, platform, event_id, event_ts, event_dt, next_event_ts,
      |    'signup' AS source_type
      |  FROM events_with_lag WHERE event_type = 'signup'
      |  UNION ALL
      |  SELECT device_id, platform, event_id, event_ts, event_dt, next_event_ts,
      |    'promo' AS source_type
      |  FROM events_with_lag WHERE event_type = 'error'
      |  UNION ALL
      |  SELECT device_id, platform, event_id, event_ts, event_dt, next_event_ts,
      |    'external' AS source_type
      |  FROM events_with_lag WHERE event_type = 'click' AND product_id > 90),
      |views_to_source AS (
      |  SELECT pv.event_dt, pv.event_id AS view_event_id, pv.event_ts AS view_event_ts,
      |    pv.platform, pv.product_id, ctg.name AS category_name,
      |    arg_min(se.source_type, se.event_ts) AS source_type
      |  FROM product_views AS pv
      |  LEFT JOIN source_events AS se
      |    ON pv.device_id = se.device_id
      |    AND pv.event_ts >= se.event_ts
      |    AND pv.event_ts < COALESCE(se.next_event_ts, se.event_ts + INTERVAL 30 MINUTE)
      |  LEFT JOIN dim_part_dict AS dp ON pv.product_id = dp.product_id
      |  LEFT JOIN categories AS ctg ON dp.group_id = ctg.id
      |  GROUP BY pv.event_dt, pv.event_id, pv.event_ts, pv.platform, pv.product_id, ctg.name),
      |view_to_opens AS (
      |  SELECT pv.event_dt, pv.platform, pv.event_id AS view_event_id,
      |    pv.event_ts AS view_event_ts, po.event_id AS open_event_id,
      |    po.event_ts AS open_event_ts, po.product_id,
      |    CASE WHEN pv.session_num = po.session_num THEN 1 ELSE 0 END AS same_session
      |  FROM product_views AS pv
      |  INNER JOIN product_opens AS po
      |    ON pv.device_id = po.device_id
      |    AND pv.product_id = po.product_id
      |    AND pv.event_ts <= po.event_ts
      |    AND COALESCE(pv.next_event_ts, pv.event_ts + INTERVAL 30 MINUTE) > po.event_ts),
      |view_to_purchases AS (
      |  SELECT pv.event_dt, pv.platform, pv.event_id AS view_event_id,
      |    pv.event_ts AS view_event_ts, ca.event_id AS purchase_event_id,
      |    ca.event_ts AS purchase_event_ts, ca.product_id, ca.value,
      |    CASE WHEN pv.session_num = ca.session_num THEN 1 ELSE 0 END AS same_session
      |  FROM product_views AS pv
      |  INNER JOIN group_products AS mg ON pv.product_id = mg.initial_product_id
      |  INNER JOIN purchases AS ca
      |    ON pv.device_id = ca.device_id
      |    AND mg.group_product_id = ca.product_id
      |    AND pv.event_ts <= ca.event_ts
      |    AND COALESCE(pv.next_event_ts, pv.event_ts + INTERVAL 30 MINUTE) > ca.event_ts),
      |open_to_purchases AS (
      |  SELECT po.event_dt, po.platform, po.event_id AS open_event_id,
      |    po.event_ts AS open_event_ts, ca.event_id AS purchase_event_id,
      |    ca.event_ts AS purchase_event_ts, ca.product_id, ca.value,
      |    CASE WHEN po.session_num = ca.session_num THEN 1 ELSE 0 END AS same_session
      |  FROM product_opens AS po
      |  INNER JOIN purchases AS ca
      |    ON po.device_id = ca.device_id
      |    AND po.product_id = ca.product_id
      |    AND po.event_ts <= ca.event_ts
      |    AND COALESCE(po.next_event_ts, po.event_ts + INTERVAL 30 MINUTE) > ca.event_ts),
      |view_open_purchase AS (
      |  SELECT vo.event_dt, vo.platform, vo.view_event_id, op.purchase_event_id, op.value,
      |    CASE WHEN vo.same_session = 1 AND op.same_session = 1 THEN 1 ELSE 0 END AS same_session
      |  FROM view_to_opens AS vo
      |  INNER JOIN open_to_purchases AS op ON vo.open_event_id = op.open_event_id),
      |pre_final_flat_table AS (
      |  SELECT event_dt, platform, 'view_to_open' AS funnel_name,
      |    view_event_id AS first_event_id, open_event_id AS second_event_id,
      |    CAST(NULL AS DOUBLE) AS gmv, same_session
      |  FROM view_to_opens
      |  UNION ALL
      |  SELECT event_dt, platform, 'view_to_purchase' AS funnel_name,
      |    view_event_id, purchase_event_id, value AS gmv, same_session
      |  FROM view_to_purchases
      |  UNION ALL
      |  SELECT event_dt, platform, 'open_to_purchase' AS funnel_name,
      |    open_event_id, purchase_event_id, value AS gmv, same_session
      |  FROM open_to_purchases
      |  UNION ALL
      |  SELECT event_dt, platform, 'view_open_purchase' AS funnel_name,
      |    view_event_id, purchase_event_id, value AS gmv, same_session
      |  FROM view_open_purchase
      |  UNION ALL
      |  SELECT event_dt, platform,
      |    CONCAT('source_', COALESCE(source_type, 'organic')) AS funnel_name,
      |    view_event_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS INT)
      |  FROM views_to_source
      |  UNION ALL
      |  SELECT strftime(session_start_ts, '%Y-%m-%d'), session_platform, 'sessions',
      |    device_id * 100000 + session_num, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
      |    CAST(NULL AS INT)
      |  FROM aggregated_session_events),
      |pre_final_agg_table AS (
      |  SELECT event_dt, platform, funnel_name,
      |    COUNT(DISTINCT first_event_id) AS step1_uniques,
      |    COUNT(DISTINCT second_event_id) AS step2_uniques,
      |    COUNT(*) AS pair_rows,
      |    CAST(SUM(CAST(gmv AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
      |    CAST(SUM(same_session) AS BIGINT) AS same_session_pairs
      |  FROM pre_final_flat_table
      |  GROUP BY event_dt, platform, funnel_name)
      |SELECT platform, funnel_name, step1_uniques, step2_uniques, pair_rows, gmv,
      |  same_session_pairs,
      |  ROUND(CAST(step2_uniques AS DOUBLE) / step1_uniques, 4) AS conversion,
      |  event_dt AS event_date
      |FROM pre_final_agg_table""".stripMargin
}
