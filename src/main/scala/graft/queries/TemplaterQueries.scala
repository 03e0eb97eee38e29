package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.runtime.SqlTemplater

/** A real reference model body run near-verbatim through the SQL templater —
  * the session CTE chain of models/spark/onfy/onfy_sessions.sql:120-199
  * re-targeted at the `events` source table:
  *
  *   sessions_predata → first_sessions (ROW_NUMBER()=1 OR LAG(ts) +
  *   INTERVAL 30 MINUTES < ts) → sessions_calculation (COUNT(starter) OVER
  *   cumulative) → output (FIRST_VALUE(x, TRUE) / MIN_BY / MAX_BY /
  *   COUNT DISTINCT / SUM group aggregates + CONCAT_WS session_id) →
  *   DISTRIBUTE BY session_start_date
  *
  * plus a project-macro call `{{ format_time(...) }}` expanded by
  * [[SqlTemplater.parseMacros]]/expandMacros (reference:
  * macros/format_time.sql:1-6 — fractional hours → 'HH:MM').
  *
  * Determinism: the reference's FIRST_VALUE-as-GROUP-BY-aggregate idiom works
  * on Spark because the preceding `COUNT(...) OVER (PARTITION BY device_id
  * ORDER BY ...)` window already exchanged on device_id and sorted each
  * partition by (device_id, event_ts); the partial aggregate then consumes
  * each (device, session) group's rows contiguously in event order (and any
  * sort-aggregate fallback re-sorts only by the grouping key with a stable
  * TimSort, preserving that order). Event timestamps are µs-unique per device
  * in this data, so ordering is total.
  *
  * One deliberate re-expression: the reference's `COUNT(DISTINCT type)` in
  * the SAME aggregate as FIRST_VALUE is latently nondeterministic on Spark —
  * the distinct-rewrite splits the aggregate in two with an exchange keyed on
  * (group, type), after which the FIRST buffers merge across type-subgroups
  * in shuffle-arrival order (measured here: ~1.6% of sessions flip between
  * runs). The engine form uses SIZE(COLLECT_SET(type)), which keeps the
  * aggregate single-phase and the FIRST semantics exact.
  */
object TemplaterQueries {

  /** Engine-side macros directory content (semantics of the reference's
    * format_time: fractional-hours double → zero-padded 'HH:MM'). */
  val macroDefs: String =
    """{% macro format_time(field) -%}
      |CASE
      |  WHEN {{ field }} IS NOT NULL THEN CONCAT_WS(
      |    ':',
      |    LPAD(CAST({{ field }} AS INT), 2, '0'),
      |    LPAD(CAST(({{ field }} % 1) * 60 AS INT), 2, '0'))
      |  ELSE NULL
      |END{%- endmacro %}""".stripMargin

  /** The model body (dialect is Spark SQL, as in the reference). */
  val modelSql: String =
    """{{ config(materialized='table') }}
      |
      |WITH sessions_predata AS (
      |    SELECT
      |        user_id AS device_id,
      |        event_type AS type,
      |        IF(event_type = 'purchase', event_id, NULL) AS order_id,
      |        IF(event_type = 'purchase', value, NULL) AS gmv_initial,
      |        TIMESTAMP_MICROS(ts_ns div 1000) AS event_ts_cet,
      |        ts_ns div 1000000000 AS es
      |    FROM {{ source('default', 'events') }}
      |),
      |
      |first_sessions AS (
      |    SELECT
      |        IF(
      |            ROW_NUMBER() OVER (PARTITION BY device_id ORDER BY event_ts_cet) = 1
      |            OR LAG(event_ts_cet) OVER (PARTITION BY device_id ORDER BY event_ts_cet)
      |               + INTERVAL 30 MINUTES < event_ts_cet,
      |            1, NULL
      |        ) AS session_starter,
      |        event_ts_cet,
      |        device_id,
      |        type,
      |        order_id,
      |        gmv_initial,
      |        es
      |    FROM sessions_predata
      |),
      |
      |sessions_calculation AS (
      |    SELECT
      |        COUNT(session_starter) OVER (PARTITION BY device_id ORDER BY event_ts_cet) AS session_num,
      |        *
      |    FROM first_sessions
      |),
      |
      |output AS (
      |    SELECT
      |        session_num,
      |        device_id,
      |        CONCAT_WS('-', device_id, CAST(FIRST_VALUE(es) AS STRING)) AS session_id,
      |        FIRST_VALUE(gmv_initial, TRUE) AS first_purchase_gmv,
      |        MIN(es) AS session_start_es,
      |        MAX(es) AS session_end_es,
      |        DATE_FORMAT(MIN(event_ts_cet), 'yyyy-MM-dd') AS session_start_date,
      |        MIN_BY(type, event_ts_cet) AS starting_session_event,
      |        MAX_BY(type, event_ts_cet) AS ending_session_event,
      |        COUNT(type) AS events_in_session,
      |        SIZE(COLLECT_SET(type)) AS unique_events_in_session,
      |        COUNT(order_id) AS orders,
      |        CAST(SUM(CAST(gmv_initial AS DECIMAL(8,2))) AS DOUBLE) AS gmv_initial,
      |        {{ format_time('(MAX(es) - MIN(es)) / CAST(3600 AS DOUBLE)') }} AS session_duration_hhmm
      |    FROM sessions_calculation
      |    GROUP BY
      |        session_num,
      |        device_id
      |)
      |
      |SELECT *
      |FROM output
      |DISTRIBUTE BY session_start_date""".stripMargin

  def q59OnfySessions(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Scratch.ctx(spark, dir, macros = SqlTemplater.parseMacros(macroDefs))
    Scratch.run(ctx, Seq(SqlTemplater.sqlModel("onfy_sessions", modelSql)))
      .ref("onfy_sessions")
  }

  /** The reference's single most load-bearing aggregate idiom — a block of
    * consecutive `FIRST_VALUE(...)` GROUP BY aggregates per (device, day)
    * (reference: models/spark/base/active_devices.sql:24-43, 15 in a row) —
    * as a SQL-text model. The `DISTRIBUTE BY … SORT BY …` pre-stage is the
    * reference's own §2.10 idiom and is what pins FIRST_VALUE to event
    * order: group rows co-locate on one partition, sort locally, and the
    * single partial aggregate consumes them in order (EliminateSorts keeps
    * the local sort because First/Last are order-sensitive). */
  val activeDevicesSql: String =
    """{{ config(materialized='table') }}
      |
      |WITH events_src AS (
      |    SELECT
      |        user_id AS device_id,
      |        DATE_FORMAT(ts, 'yyyy-MM-dd') AS day,
      |        event_type,
      |        value,
      |        ts_ns
      |    FROM {{ source('default', 'events') }}
      |),
      |
      |ordered AS (
      |    SELECT *
      |    FROM events_src
      |    DISTRIBUTE BY device_id, day
      |    SORT BY device_id, day, ts_ns
      |)
      |
      |SELECT
      |    device_id,
      |    day,
      |    FIRST_VALUE(UPPER(event_type)) AS first_event_type,
      |    FIRST_VALUE(IF(value > 50, 'high', 'low')) AS first_value_band,
      |    FIRST_VALUE(value, TRUE) AS first_nonnull_value,
      |    LAST_VALUE(event_type, TRUE) AS last_event_type,
      |    MIN(ts_ns div 1000000000) AS first_es,
      |    COUNT(*) AS n_events
      |FROM ordered
      |GROUP BY 1, 2""".stripMargin

  /** The conversion-funnel RANK dedup tail as a SQL-text model (reference:
    * models/spark/onfy/conversion_funnel_new.sql:230-255 — `RANK() OVER
    * (PARTITION BY device_id, payment_dt ORDER BY session_start)` then an
    * outer `WHERE rnk_session_payment = 1`, with a trailing DISTRIBUTE BY):
    * first payment session per device per day. Event timestamps are unique
    * per device, so the rank-1 row is well-defined. */
  val funnelRankSql: String =
    """{{ config(materialized='table') }}
      |
      |WITH payments AS (
      |    SELECT
      |        user_id AS device_id,
      |        DATE_FORMAT(ts, 'yyyy-MM-dd') AS payment_dt,
      |        ts_ns div 1000 AS session_start,
      |        value AS payment_value
      |    FROM {{ source('default', 'events') }}
      |    WHERE event_type = 'purchase'
      |),
      |
      |filter_double_payments AS (
      |    SELECT
      |        device_id,
      |        payment_dt,
      |        session_start,
      |        payment_value,
      |        RANK() OVER (PARTITION BY device_id, payment_dt ORDER BY session_start) AS rnk_session_payment
      |    FROM payments
      |)
      |
      |SELECT *
      |FROM filter_double_payments
      |WHERE rnk_session_payment = 1
      |DISTRIBUTE BY payment_dt""".stripMargin

  def q68FunnelRank(spark: SparkSession, dir: String): DataFrame = {
    Scratch.run(Scratch.ctx(spark, dir),
      Seq(SqlTemplater.sqlModel("funnel_rank", funnelRankSql))).ref("funnel_rank")
  }

  val q68Oracle: String =
    """WITH payments AS (
      |  SELECT user_id AS device_id, strftime(ts, '%Y-%m-%d') AS payment_dt,
      |    epoch_ns(ts) // 1000 AS session_start, value AS payment_value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT device_id, payment_dt, session_start, payment_value,
      |  CAST(rank() OVER (PARTITION BY device_id, payment_dt ORDER BY session_start) AS INT)
      |    AS rnk_session_payment
      |FROM payments
      |QUALIFY rnk_session_payment = 1""".stripMargin

  def q63ActiveDevices(spark: SparkSession, dir: String): DataFrame = {
    Scratch.run(Scratch.ctx(spark, dir),
      Seq(SqlTemplater.sqlModel("active_devices", activeDevicesSql))).ref("active_devices")
  }

  val q63Oracle: String =
    """WITH ev AS (
      |  SELECT user_id AS device_id, strftime(ts, '%Y-%m-%d') AS day,
      |    event_type, value, epoch_ns(ts) AS tns
      |  FROM events)
      |SELECT device_id, day,
      |  first(upper(event_type) ORDER BY tns) AS first_event_type,
      |  first(CASE WHEN value > 50 THEN 'high' ELSE 'low' END ORDER BY tns) AS first_value_band,
      |  first(value ORDER BY tns) FILTER (WHERE value IS NOT NULL) AS first_nonnull_value,
      |  last(event_type ORDER BY tns) FILTER (WHERE event_type IS NOT NULL) AS last_event_type,
      |  MIN(tns // 1000000000) AS first_es,
      |  COUNT(*) AS n_events
      |FROM ev GROUP BY 1, 2""".stripMargin

  /** Jinja control flow in a model body ({% set %} + {% for %} over a split
    * var, loop.last comma control, | lower filter) — the code-generation
    * idiom of the reference's own macros (generate_alias_name.sql:7 loops a
    * split var; tblproperties_clause.sql:7-11 emits comma-separated pairs
    * with `{%- if not loop.last -%},{%- endif -%}`), here driving a
    * status-matrix aggregate so the expansion is oracle-checkable. */
  val statusMatrixSql: String =
    """{{ config(materialized='table') }}
      |
      |{% set statuses = var('status_list', 'O,F,P').split(',') %}
      |SELECT
      |    o_orderpriority,
      |{% for s in statuses %}
      |    CAST(SUM(IF(o_orderstatus = '{{ s }}', 1, 0)) AS BIGINT) AS n_{{ s | lower }},
      |{% endfor %}
      |    CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM {{ source('default', 'orders') }}
      |WHERE o_orderpriority IN (
      |{% for p in var('prio_list', '1-URGENT,2-HIGH,5-LOW').split(',') %}
      |    '{{ p }}'{% if not loop.last %},{% endif %}
      |{% endfor %}
      |)
      |GROUP BY o_orderpriority""".stripMargin

  def q71StatusMatrix(spark: SparkSession, dir: String): DataFrame = {
    Scratch.run(Scratch.ctx(spark, dir),
      Seq(SqlTemplater.sqlModel("status_matrix", statusMatrixSql))).ref("status_matrix")
  }

  val q71Oracle: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '5-LOW')
      |GROUP BY o_orderpriority""".stripMargin

  val q59Oracle: String =
    """WITH sp AS (
      |  SELECT user_id AS device_id, event_type AS type,
      |    CASE WHEN event_type = 'purchase' THEN event_id END AS order_id,
      |    CASE WHEN event_type = 'purchase' THEN value END AS gmv,
      |    make_timestamp(epoch_ns(ts) // 1000) AS ets,
      |    epoch_ns(ts) // 1000000000 AS es
      |  FROM events),
      |fs AS (
      |  SELECT *,
      |    CASE WHEN row_number() OVER (PARTITION BY device_id ORDER BY ets) = 1
      |           OR lag(ets) OVER (PARTITION BY device_id ORDER BY ets)
      |              + INTERVAL 30 MINUTES < ets
      |         THEN 1 END AS session_starter
      |  FROM sp),
      |sc AS (
      |  SELECT *,
      |    COUNT(session_starter) OVER (PARTITION BY device_id ORDER BY ets) AS session_num
      |  FROM fs),
      |agg AS (
      |  SELECT session_num, device_id,
      |    concat_ws('-', device_id::VARCHAR, (first(es ORDER BY ets))::VARCHAR) AS session_id,
      |    first(gmv ORDER BY ets) FILTER (WHERE gmv IS NOT NULL) AS first_purchase_gmv,
      |    MIN(es) AS session_start_es,
      |    MAX(es) AS session_end_es,
      |    strftime(MIN(ets), '%Y-%m-%d') AS session_start_date,
      |    arg_min(type, ets) AS starting_session_event,
      |    arg_max(type, ets) AS ending_session_event,
      |    COUNT(type) AS events_in_session,
      |    CAST(COUNT(DISTINCT type) AS INT) AS unique_events_in_session,
      |    COUNT(order_id) AS orders,
      |    CAST(SUM(CAST(gmv AS DECIMAL(8,2))) AS DOUBLE) AS gmv_initial,
      |    (MAX(es) - MIN(es)) / CAST(3600 AS DOUBLE) AS dur_h
      |  FROM sc GROUP BY 1, 2)
      |SELECT session_num, device_id, session_id, first_purchase_gmv,
      |  session_start_es, session_end_es, session_start_date,
      |  starting_session_event, ending_session_event, events_in_session,
      |  unique_events_in_session, orders, gmv_initial,
      |  concat_ws(':',
      |    lpad(CAST(TRUNC(dur_h) AS INT)::VARCHAR, 2, '0'),
      |    lpad(CAST(TRUNC((dur_h % 1) * 60) AS INT)::VARCHAR, 2, '0')) AS session_duration_hhmm
      |FROM agg""".stripMargin

  /** `{% set %}` + `{% for %}` generating a per-event-type column block from
    * a var-driven list — the loop archetype the reference's Jinja macros use
    * (reference: macros/generate_alias_name.sql:7 and
    * macros/get_custom_schema.sql:7 loop over `var(...).split(',')`), here
    * CORRECTNESS-gated: the oracle hand-expands the loop, so a templater
    * regression in loop order, loop scoping, or `{{ t }}` substitution
    * hash-mismatches instead of just failing a spec. */
  val eventMatrixSql: String =
    """{{ config(materialized='table') }}
      |{% set event_types = var('event_types').split(',') %}
      |SELECT
      |    user_id,
      |    COUNT(*) AS n_events{% for t in event_types %},
      |    COUNT_IF(event_type = '{{ t }}') AS n_{{ t }},
      |    CAST(SUM(IF(event_type = '{{ t }}', CAST(value AS DECIMAL(18,6)),
      |                CAST(0 AS DECIMAL(18,6)))) AS DOUBLE) AS value_{{ t }}{% endfor %}
      |FROM {{ source('default', 'events') }}
      |GROUP BY user_id""".stripMargin

  def q78EventMatrix(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Scratch.ctx(spark, dir, vars = Map("event_types" -> "view,click,purchase"))
    Scratch.run(ctx, Seq(SqlTemplater.sqlModelAuto("event_matrix", eventMatrixSql)))
      .ref("event_matrix")
  }

  val q78Oracle: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(count_if(event_type = 'view') AS BIGINT) AS n_view,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,6))
      |           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS value_view,
      |  CAST(count_if(event_type = 'click') AS BIGINT) AS n_click,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6))
      |           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS value_click,
      |  CAST(count_if(event_type = 'purchase') AS BIGINT) AS n_purchase,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6))
      |           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS value_purchase
      |FROM events GROUP BY user_id""".stripMargin
}
