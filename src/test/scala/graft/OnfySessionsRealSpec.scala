package graft

import graft.runtime._

/** models/spark/onfy/onfy_sessions.sql executed VERBATIM — the model q59
  * re-expresses for the oracle gate, now also proven on the real file: the
  * 56-type event filter, source-change rows interleaved into the stream
  * (real sources do NOT start sessions; unknowns do), the 30-minute
  * gap / first-event session starter, running COUNT(session_starter) as the
  * session number, and the FIRST_VALUE/MIN_BY/aggregate session roll-up.
  * One planted device yields two sessions, every field hand-computed. */
class OnfySessionsRealSpec extends SparkSpec {
  import spark.implicits._

  /** Plant the device stream + transactions + sources, run the real file,
    * return the materialized output. Shared by the parquet and the
    * transaction-log (file_format='delta') runs. */
  /** Plants the inputs and runs the real model, re-declared
    * `file_format='parquet'` when `asParquet`. */
  private def plantAndRun(ctx: Ctx, asParquet: Boolean = false): org.apache.spark.sql.DataFrame = {
    val sql = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "/root/reference/models/spark/onfy/onfy_sessions.sql"))
    ctx.sources.register("onfy_mart", "device_events")(s => {
      import s.implicits._
      Seq(("z1", "2025-03-03 10:00:00", "homeOpen"),
          ("z1", "2025-03-03 10:10:00", "productOpen"),
          ("z1", "2025-03-03 11:30:00", "catalogOpen"),   // 70-min gap -> new session
          ("z1", "2025-03-03 10:02:00", "appLaunch"))     // not in either type list
        .toDF("device_id", "ts", "type")
        .selectExpr("CAST(ts AS TIMESTAMP) AS event_ts_cet", "device_id", "type")
    })
    ctx.warehouse.createTable("transactions", Seq(
      ("z1", "2025-03-03 10:20:00", "o1", "PRODUCT", 30.0, 6.0, 30.0, "EUR"),
      ("z1", "2025-03-03 10:20:00", "o1", "PRODUCT", 20.0, 4.0, 20.0, "EUR"),
      ("z1", "2025-03-03 10:20:00", "o1", "DISCOUNT", 0.0, 0.0, 5.0, "EUR"),
      ("z1", "2025-03-03 10:21:00", "oX", "PRODUCT", 99.0, 9.0, 99.0, "USD")) // filtered
      .toDF("device_id", "td", "order_id", "type", "gmv_initial",
        "gross_profit_initial", "price", "currency")
      .selectExpr("CAST(td AS TIMESTAMP) AS transaction_date", "device_id",
        "order_id", "type", "gmv_initial", "gross_profit_initial", "price", "currency"))
    ctx.warehouse.createTable("sources", Seq(
      ("z1", "2025-03-03 09:59:00", null, "source_change", "google", "c9", "cpc"))
      .toDF("device_id", "sdt", "nsdt", "type", "source_corrected",
        "campaign_corrected", "utm_medium")
      .selectExpr("CAST(sdt AS TIMESTAMP) AS source_dt", "device_id",
        "CAST(nsdt AS TIMESTAMP) AS next_source_dt", "type",
        "source_corrected", "campaign_corrected", "utm_medium"))

    val declared = SqlTemplater.sqlModelAuto("onfy_sessions", sql)
    val model = if (asParquet) declared.copy(fileFormat = "parquet") else declared
    assert(model.materialization == Materialization.IncrementalInsertOverwrite(
      Seq("session_start_date"), OnSchemaChange.Ignore))
    assert(model.deps.toSet == Set("sources", "transactions"))

    // session_id casts a timestamp to INT (epoch seconds) — Spark 3 dialect
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      for ((n, st) <- new DagRunner(Seq(model)).run(ctx, selectors = Seq("onfy_sessions")))
        assert(st.isInstanceOf[RunStatus.Success], s"$n: $st")
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    ctx.ref("onfy_sessions")
  }

  test("REAL onfy_sessions.sql sessionizes a planted device stream") {
    val out = plantAndRun(freshCtx())
    assert(out.count() == 2)
    val s1 = out.filter($"session_num" === 1).selectExpr(
      "source", "channel_type", "campaign", "medium",
      "CAST(session_start AS STRING)", "CAST(session_end AS STRING)",
      "starting_session_event", "ending_session_event",
      "events_in_session", "unique_events_in_session", "orders",
      "gmv_initial", "gross_profit_initial", "promocode_discount",
      "first_transaction_gmv_initial")
      .as[(String, String, String, String, String, String, String, String,
           Long, Long, Long, Double, Double, Double, Double)].head()
    // source row (09:59) + homeOpen + productOpen + purchase_server; the
    // appLaunch event and the USD transaction never entered the stream
    assert(s1 == (("google", "paid", "c9", "cpc",
      "2025-03-03 09:59:00", "2025-03-03 10:20:00",
      "source_change", "purchase_server", 4L, 4L, 1L, 50.0, 10.0, 5.0, 50.0)), s1.toString)
    val s2 = out.filter($"session_num" === 2)
      .selectExpr("channel_type", "source", "starting_session_event",
        "events_in_session", "orders", "CAST(gmv_initial AS STRING)")
      .as[(String, Option[String], String, Long, Long, Option[String])].head()
    // gap-started session: no source row in it -> free channel, null sums
    assert(s2 == (("free", None, "catalogOpen", 1L, 0L, None)), s2.toString)
  }

  test("REAL onfy_sessions.sql materializes onto the transaction log " +
    "(its own file_format='delta') with identical output") {
    // the model's config declares file_format='delta', so DagRunner routes
    // the insert_overwrite through TxLog; the same model re-declared
    // parquet is the reference run
    val pq = plantAndRun(freshCtx(), asParquet = true)
    val lgCtx = Ctx(spark,
      new Warehouse(spark, TempDirs.create("graft_wh_onfy_lg")),
      SourceRegistry.overDir(spark, "/root/testdata/sf0.001"))
    val lg = plantAndRun(lgCtx)
    assert(lgCtx.warehouse.isLogBacked("onfy_sessions"),
      "delta-declared model must land on the transaction log")
    assert(!lgCtx.warehouse.isLogBacked("transactions"),
      "plain createTable fixtures stay parquet")
    val a = pq.collect().map(_.toString).sorted.toSeq
    val b = lg.collect().map(_.toString).sorted.toSeq
    assert(a == b, s"txlog run diverged from parquet run:\n${a.take(2)}\n${b.take(2)}")
    // commit history exists and is readable through the log
    val hist = graft.plans.TxLog.history(
      java.nio.file.Paths.get(lgCtx.warehouse.tablePath("onfy_sessions")))
    assert(hist.nonEmpty && hist.head._2 > 0, s"expected add-actions in $hist")
  }
}
