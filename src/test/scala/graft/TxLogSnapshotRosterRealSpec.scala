package graft

import graft.runtime._

/** Grows the hand-verified snapshot roster to 21 distinct files — more reference
  * snapshot files executed VERBATIM, each on the transaction log (all
  * seven pin `file_format='delta'`, so every SCD2 advance lands as TxLog
  * commits) and each with a time-travel `VERSION AS OF 0` read-back pinning
  * the pre-advance state. Shapes covered beyond the prior 13:
  *
  *  - snapshots/spark/merchant/scd2_mongo_payment_channel.sql — the block
  *    name (scd2_mongo_merchant_payment_channel) differs from the FILE
  *    name; timestamp strategy, hard deletes DEFAULT (vanished row stays
  *    open).
  *  - snapshots/spark/merchant/scd2_mongo_merchant.sql — timestamp over the
  *    VERBATIM models/spark/mongo/merchant.sql view (a two-node DAG), with
  *    MILLIS_TO_TS conversions inside the snapshot body and
  *    invalidate_hard_deletes=True (vanished row closes at run_ts).
  *  - snapshots/spark/merchant/scd2_mongo_variant_committed_fulfillment.sql
  *    — CHECK strategy over the VERBATIM
  *    models/spark/mongo/variant_committed_fulfillment.sql view (EXPLODE of
  *    an array<struct> into per-variant rows).
  *  - snapshots/spark/b2b_mart/scd2_customers_snapshot.sql — SELECT * +
  *    millis_to_ts_msk(utms+1): the +1ms skew shows up in every validity
  *    cell.
  *  - snapshots/spark/b2b_mart/scd2_promocodes_snapshot.sql — SELECT * +
  *    millis_to_ts_msk(utms).
  *  - snapshots/spark/b2b_mart/scd2_mongo_promotions.sql — renamed
  *    projection (_id AS promotion_id, utms -> updated_ts_msk).
  *  - snapshots/spark/b2b_mart/scd2_customer_plans_snapshot.sql — the
  *    SYNTHESIZED composite key (`uid||tp AS unique_key`): a tp change
  *    mints a new key and hard-deletes the old one.
  *  - snapshots/spark/b2b_mart/scd2_mongo_published_product.sql — 13-column
  *    rename projection with BOTH created/updated millis conversions and
  *    hard deletes DEFAULT (vanished product stays open).
  *  - snapshots/spark/b2b_mart/scd2_merchant_attributes_snapshot.sql —
  *    SELECT * with update_ts_msk derived from the camelCase raw
  *    updatedTimeMs (not utms).
  */
class TxLogSnapshotRosterRealSpec extends SparkSpec {
  import spark.implicits._

  private def snapOf(path: String): Model =
    SqlTemplater.snapshotModel(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"/root/reference/snapshots/spark/$path")))

  private def modelOf(name: String, path: String): Model =
    SqlTemplater.sqlModelAuto(name, java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"/root/reference/models/spark/$path")))

  /** MSK wall-clock string -> the epoch millis millis_to_ts_msk maps to it */
  private def msOfMsk(mskWall: String): Long =
    java.time.Instant.parse(mskWall.replace(' ', 'T') + "Z").toEpochMilli -
      graft.functions.TimeFunctions.MskOffsetMillis

  /** UTC wall-clock string -> epoch millis (for plain MILLIS_TO_TS) */
  private def msOfUtc(utcWall: String): Long =
    java.time.Instant.parse(utcWall.replace(' ', 'T') + "Z").toEpochMilli

  private def logCtx(tag: String): (Ctx, Warehouse) = {
    val wh = new Warehouse(spark, TempDirs.create(tag))
    (Ctx(spark, wh, SourceRegistry.overDir(spark, "/root/testdata/sf0.001"),
      Map("run_ts" -> "2024-03-02 00:00:00")), wh)
  }

  private def runDag(ctx: Ctx, models: Seq[Model], at: String): Unit =
    new DagRunner(models).run(ctx.copy(vars = Map("run_ts" -> at)))
      .foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }

  /** The VERSION AS OF assertion every roster row carries: v0 (the first
    * run's commit) must stay time-travel readable AFTER the advance, with
    * exactly the pre-advance row count and every row still open. */
  private def pinV0(wh: Warehouse, name: String, rows: Long): Unit = {
    assert(wh.isLogBacked(name), s"$name must land on the TxLog")
    val v0 = graft.plans.TxLog.read(spark,
      java.nio.file.Paths.get(wh.tablePath(name)), asOf = 0L)
    assert(v0.count() == rows, s"$name VERSION AS OF 0 must hold the first run")
    assert(v0.filter("dbt_valid_to IS NOT NULL").count() == 0,
      s"$name v0 rows must all be OPEN (pre-advance)")
  }

  test("REAL merchant/scd2_mongo_payment_channel.sql: block name != file " +
    "name, timestamp strategy, DEFAULT hard deletes on the TxLog warehouse") {
    val snap = snapOf("merchant/scd2_mongo_payment_channel.sql")
    assert(snap.name == "scd2_mongo_merchant_payment_channel") // block, not file
    assert(snap.materialization == Materialization.Snapshot("id",
      Scd2Strategy.Timestamp("updated_time"), invalidateHardDeletes = false))
    assert(snap.fileFormat == "delta")

    val (ctx, wh) = logCtx("graft_wh_paych")
    def plant(rows: Seq[(String, String, String)]): Unit =
      ctx.sources.register("mongo", "core_merchant_payment_channels_daily_snapshot")(s =>
        s.sql(rows.map { case (id, st, ut) =>
          s"""SELECT '$id' AS _id, ARRAY('none') AS errorReasons, 'm1' AS merchantId,
             |  'mm' AS methodId, '$st' AS status, 'card' AS type,
             |  TIMESTAMP'$ut' AS updatedTime""".stripMargin
        }.mkString("\nUNION ALL\n")))

    plant(Seq(("ch1", "active", "2024-03-01 03:00:00"),
      ("ch2", "pending", "2024-03-01 03:00:00"),
      ("ch3", "active", "2024-03-01 03:00:00")))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")
    assert(ctx.ref(snap.name).count() == 3)

    // ch1 advances (closes at the NEW updated_time), ch2 unchanged, ch3
    // VANISHES — default config keeps its open row
    plant(Seq(("ch1", "blocked", "2024-03-01 04:00:00"),
      ("ch2", "pending", "2024-03-01 03:00:00")))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("id", "status", "CAST(dbt_valid_from AS STRING)",
        "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("ch1", "active", "2024-03-01 03:00:00", Some("2024-03-01 04:00:00")),
      ("ch1", "blocked", "2024-03-01 04:00:00", None),
      ("ch2", "pending", "2024-03-01 03:00:00", None),
      ("ch3", "active", "2024-03-01 03:00:00", None)), h.toString)
    pinV0(wh, snap.name, 3)
  }

  test("REAL merchant/scd2_mongo_merchant.sql over the VERBATIM mongo/" +
    "merchant.sql view: MILLIS_TO_TS in the body, hard deletes close at run_ts") {
    val model = modelOf("merchant", "mongo/merchant.sql")
    assert(model.materialization == Materialization.View)
    val snap = snapOf("merchant/scd2_mongo_merchant.sql")
    assert(snap.materialization == Materialization.Snapshot("merchant_id",
      Scd2Strategy.Timestamp("updated_time"), invalidateHardDeletes = true))
    assert(snap.deps == Seq("merchant"))

    val (ctx, wh) = logCtx("graft_wh_merch")
    def plant(rows: Seq[(String, String, Long, Boolean)]): Unit =
      ctx.sources.register("mongo", "core_merchants_daily_snapshot")(s =>
        s.sql(rows.map { case (id, nm, utms, en) =>
          s"""SELECT '$id' AS _id, ${msOfUtc("2024-02-01 00:00:00")}L AS createdTimeMs,
             |  ${utms}L AS updatedTimeMs, CAST(NULL AS LONG) AS activationTimeMs,
             |  '$nm' AS name, '3' AS origin, true AS activatedByMerchant,
             |  $en AS enabled, CAST(NULL AS LONG) AS blockActionTime,
             |  CAST(NULL AS STRING) AS disablingReason, CAST(NULL AS STRING) AS disablingNote,
             |  ARRAY('b2c') AS businessLines, ARRAY('cat1') AS categoryIds,
             |  'ops' AS createdBy, CAST(NULL AS STRING) AS disabledBy,
             |  'lead1' AS lead, CAST(NULL AS STRING) AS leadNotes""".stripMargin
        }.mkString("\nUNION ALL\n")))

    plant(Seq(("m1", "Shop One", msOfUtc("2024-03-01 03:00:00"), true),
      ("m2", "Shop Two", msOfUtc("2024-03-01 03:00:00"), true),
      ("m3", "Shop Three", msOfUtc("2024-03-01 03:00:00"), true)))
    runDag(ctx, Seq(model, snap), "2024-03-02 00:00:00")
    assert(ctx.ref(snap.name).count() == 3)

    // m1 renamed (closes at NEW updated_time), m2 unchanged, m3 vanishes —
    // invalidate_hard_deletes=True closes it at the SECOND run's run_ts
    plant(Seq(("m1", "Shop One GmbH", msOfUtc("2024-03-01 04:00:00"), true),
      ("m2", "Shop Two", msOfUtc("2024-03-01 03:00:00"), true)))
    runDag(ctx, Seq(model, snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("merchant_id", "name", "CAST(origin AS INT)",
        "CAST(updated_time AS STRING)",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, Int, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("m1", "Shop One", 3, "2024-03-01 03:00:00",
        "2024-03-01 03:00:00", Some("2024-03-01 04:00:00")),
      ("m1", "Shop One GmbH", 3, "2024-03-01 04:00:00",
        "2024-03-01 04:00:00", None),
      ("m2", "Shop Two", 3, "2024-03-01 03:00:00",
        "2024-03-01 03:00:00", None),
      ("m3", "Shop Three", 3, "2024-03-01 03:00:00",
        "2024-03-01 03:00:00", Some("2024-03-03 00:00:00"))), h.toString)
    pinV0(wh, snap.name, 3)
  }

  test("REAL merchant/scd2_mongo_variant_committed_fulfillment.sql over the " +
    "VERBATIM EXPLODE view: CHECK strategy on ['cft']") {
    val model = modelOf("variant_committed_fulfillment",
      "mongo/variant_committed_fulfillment.sql")
    val snap = snapOf("merchant/scd2_mongo_variant_committed_fulfillment.sql")
    assert(snap.materialization == Materialization.Snapshot("variant_id",
      Scd2Strategy.Check(Seq("cft")), invalidateHardDeletes = false))
    assert(snap.deps == Seq("variant_committed_fulfillment"))

    val (ctx, wh) = logCtx("graft_wh_vcft")
    def plant(products: Seq[(String, Seq[(String, Int)])]): Unit =
      ctx.sources.register("mongo", "product_committed_fulfillment_daily_snapshot")(s =>
        s.sql(products.map { case (pid, vs) =>
          val arr = vs.map { case (vid, cft) =>
            s"NAMED_STRUCT('vid', '$vid', 'cft', $cft)" }.mkString(", ")
          s"SELECT '$pid' AS _id, ARRAY($arr) AS vcft"
        }.mkString("\nUNION ALL\n")))

    plant(Seq(("p1", Seq(("v1", 5), ("v2", 7)))))
    runDag(ctx, Seq(model, snap), "2024-03-02 00:00:00")
    assert(ctx.ref(snap.name).count() == 2)

    // v1's cft changes (CHECK strategy: close/open at the run's run_ts),
    // v2 unchanged, v3 appears on a new product
    plant(Seq(("p1", Seq(("v1", 6), ("v2", 7))), ("p2", Seq(("v3", 9)))))
    runDag(ctx, Seq(model, snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("product_id", "variant_id", "cft",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, Int, String, Option[String])].collect().toSet
    assert(h == Set(
      ("p1", "v1", 5, "2024-03-02 00:00:00", Some("2024-03-03 00:00:00")),
      ("p1", "v1", 6, "2024-03-03 00:00:00", None),
      ("p1", "v2", 7, "2024-03-02 00:00:00", None),
      ("p2", "v3", 9, "2024-03-03 00:00:00", None)), h.toString)
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_customers_snapshot.sql: SELECT * + " +
    "millis_to_ts_msk(utms+1) — the +1ms skew lands in every validity cell") {
    val snap = snapOf("b2b_mart/scd2_customers_snapshot.sql")
    assert(snap.materialization == Materialization.Snapshot("_id",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = true))

    val (ctx, wh) = logCtx("graft_wh_cust")
    def plant(rows: Seq[(String, String, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_core_customers_daily_snapshot")(s =>
        s.sql(rows.map { case (id, nm, utms) =>
          s"SELECT '$id' AS _id, '$nm' AS name, ${utms}L AS utms"
        }.mkString("\nUNION ALL\n")))

    plant(Seq(("c1", "acme", msOfMsk("2024-03-01 03:00:00")),
      ("c2", "globex", msOfMsk("2024-03-01 03:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")
    assert(ctx.ref(snap.name).count() == 2)

    plant(Seq(("c1", "acme-2", msOfMsk("2024-03-01 04:00:00")),
      ("c3", "initech", msOfMsk("2024-03-01 05:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("_id", "name", "CAST(dbt_valid_from AS STRING)",
        "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("c1", "acme", "2024-03-01 03:00:00.001", Some("2024-03-01 04:00:00.001")),
      ("c1", "acme-2", "2024-03-01 04:00:00.001", None),
      ("c2", "globex", "2024-03-01 03:00:00.001", Some("2024-03-03 00:00:00")),
      ("c3", "initech", "2024-03-01 05:00:00.001", None)), h.toString)
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_promocodes_snapshot.sql: SELECT * + " +
    "millis_to_ts_msk(utms) + hard deletes") {
    val snap = snapOf("b2b_mart/scd2_promocodes_snapshot.sql")
    assert(snap.materialization == Materialization.Snapshot("_id",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = true))

    val (ctx, wh) = logCtx("graft_wh_promo")
    def plant(rows: Seq[(String, String, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_core_promocodes_daily_snapshot")(s =>
        s.sql(rows.map { case (id, code, utms) =>
          s"SELECT '$id' AS _id, '$code' AS code, ${utms}L AS utms"
        }.mkString("\nUNION ALL\n")))

    plant(Seq(("pc1", "WELCOME10", msOfMsk("2024-03-01 03:00:00")),
      ("pc2", "SPRING15", msOfMsk("2024-03-01 03:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")

    plant(Seq(("pc1", "WELCOME20", msOfMsk("2024-03-01 04:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("_id", "code", "CAST(dbt_valid_from AS STRING)",
        "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("pc1", "WELCOME10", "2024-03-01 03:00:00", Some("2024-03-01 04:00:00")),
      ("pc1", "WELCOME20", "2024-03-01 04:00:00", None),
      ("pc2", "SPRING15", "2024-03-01 03:00:00", Some("2024-03-03 00:00:00"))),
      h.toString)
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_mongo_promotions.sql: renamed projection " +
    "(_id -> promotion_id, utms -> updated_ts_msk)") {
    val snap = snapOf("b2b_mart/scd2_mongo_promotions.sql")
    assert(snap.materialization == Materialization.Snapshot("promotion_id",
      Scd2Strategy.Timestamp("updated_ts_msk"), invalidateHardDeletes = true))

    val (ctx, wh) = logCtx("graft_wh_promos")
    def plant(rows: Seq[(String, String, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_core_promotions_daily_snapshot")(s =>
        s.sql(rows.map { case (id, nm, utms) =>
          s"""SELECT '$id' AS _id, '$nm' AS name, 'al-$id' AS alias,
             |  ARRAY('home') AS locs, 5 AS maxcount, ARRAY('pg1') AS pgs,
             |  ${msOfMsk("2024-02-01 03:00:00")}L AS ctms, ${utms}L AS utms""".stripMargin
        }.mkString("\nUNION ALL\n")))

    plant(Seq(("pr1", "summer", msOfMsk("2024-03-01 03:00:00")),
      ("pr2", "winter", msOfMsk("2024-03-01 03:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")

    plant(Seq(("pr1", "summer-v2", msOfMsk("2024-03-01 04:00:00")),
      ("pr2", "winter", msOfMsk("2024-03-01 03:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("promotion_id", "promotion_name", "alias",
        "CAST(created_ts_msk AS STRING)",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("pr1", "summer", "al-pr1", "2024-02-01 03:00:00",
        "2024-03-01 03:00:00", Some("2024-03-01 04:00:00")),
      ("pr1", "summer-v2", "al-pr1", "2024-02-01 03:00:00",
        "2024-03-01 04:00:00", None),
      ("pr2", "winter", "al-pr2", "2024-02-01 03:00:00",
        "2024-03-01 03:00:00", None)), h.toString)
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_customer_plans_snapshot.sql: synthesized " +
    "composite key uid||tp — a tp change mints a new key + hard-deletes the old") {
    val snap = snapOf("b2b_mart/scd2_customer_plans_snapshot.sql")
    assert(snap.materialization == Materialization.Snapshot("unique_key",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = true))

    val (ctx, wh) = logCtx("graft_wh_cplans")
    def plant(rows: Seq[(String, String, String, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_core_customer_plans_daily_snapshot")(s =>
        s.sql(rows.map { case (uid, tp, plan, utms) =>
          s"SELECT '$uid' AS uid, '$tp' AS tp, '$plan' AS plan, ${utms}L AS utms"
        }.mkString("\nUNION ALL\n")))

    plant(Seq(("u1", "m", "gold", msOfMsk("2024-03-01 03:00:00")),
      ("u2", "m", "silver", msOfMsk("2024-03-01 03:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")
    assert(ctx.ref(snap.name).count() == 2)

    // u1's plan advances under the SAME key; u2's tp flips m->y: the old
    // composite key u2m disappears (hard-deleted at run_ts), u2y is NEW
    plant(Seq(("u1", "m", "platinum", msOfMsk("2024-03-01 04:00:00")),
      ("u2", "y", "silver", msOfMsk("2024-03-01 04:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("unique_key", "plan", "CAST(dbt_valid_from AS STRING)",
        "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("u1m", "gold", "2024-03-01 03:00:00", Some("2024-03-01 04:00:00")),
      ("u1m", "platinum", "2024-03-01 04:00:00", None),
      ("u2m", "silver", "2024-03-01 03:00:00", Some("2024-03-03 00:00:00")),
      ("u2y", "silver", "2024-03-01 04:00:00", None)), h.toString)
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_mongo_published_product.sql: 13-col rename " +
    "projection, dual millis conversions, DEFAULT keep-open deletes") {
    val snap = snapOf("b2b_mart/scd2_mongo_published_product.sql")
    assert(snap.materialization == Materialization.Snapshot("product_id",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = false))

    val (ctx, wh) = logCtx("graft_wh_pubprod")
    def plant(rows: Seq[(String, String, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_product_published_products_daily_snapshot")(s =>
        s.sql(rows.map { case (id, nm, utms) =>
          s"""SELECT '$id' AS _id, 'cat1' AS categoryId,
             |  ${msOfMsk("2024-02-01 03:00:00")}L AS createdTimeMs,
             |  CAST(NULL AS STRING) AS dangerousKind, 'm1' AS merchantId,
             |  'desc' AS origDescription, ARRAY('u1') AS origExtraImageUrls,
             |  'img' AS origMainImageUrl, '$nm' AS origName, 'url' AS origUrl,
             |  'sku-$id' AS sku, 'st1' AS storeId, ${utms}L AS updatedTimeMs""".stripMargin
        }.mkString("\nUNION ALL\n")))

    plant(Seq(("pp1", "Widget", msOfMsk("2024-03-01 03:00:00")),
      ("pp2", "Gadget", msOfMsk("2024-03-01 03:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")

    // pp1 renamed (close at NEW update_ts_msk); pp2 vanishes — DEFAULT
    // config keeps its open row
    plant(Seq(("pp1", "Widget Pro", msOfMsk("2024-03-01 04:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("product_id", "orig_name", "sku",
        "CAST(created_ts_msk AS STRING)",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("pp1", "Widget", "sku-pp1", "2024-02-01 03:00:00",
        "2024-03-01 03:00:00", Some("2024-03-01 04:00:00")),
      ("pp1", "Widget Pro", "sku-pp1", "2024-02-01 03:00:00",
        "2024-03-01 04:00:00", None),
      ("pp2", "Gadget", "sku-pp2", "2024-02-01 03:00:00",
        "2024-03-01 03:00:00", None)), h.toString)
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_merchant_attributes_snapshot.sql: SELECT * with " +
    "update_ts_msk from the camelCase raw updatedTimeMs") {
    val snap = snapOf("b2b_mart/scd2_merchant_attributes_snapshot.sql")
    assert(snap.materialization == Materialization.Snapshot("_id",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = true))

    val (ctx, wh) = logCtx("graft_wh_mattr")
    def plant(rows: Seq[(String, String, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_core_merchant_attributes_daily_snapshot")(s =>
        s.sql(rows.map { case (id, tier, utms) =>
          s"SELECT '$id' AS _id, '$tier' AS tier, ${utms}L AS updatedTimeMs"
        }.mkString("\nUNION ALL\n")))

    plant(Seq(("ma1", "basic", msOfMsk("2024-03-01 03:00:00")),
      ("ma2", "pro", msOfMsk("2024-03-01 03:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")

    // ma1 upgrades (close at NEW ts); ma2 vanishes — invalidate=True closes
    // it at run_ts; the raw camelCase updatedTimeMs column survives SELECT *
    plant(Seq(("ma1", "enterprise", msOfMsk("2024-03-01 04:00:00"))))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("_id", "tier", "CAST(updatedTimeMs AS LONG)",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, Long, String, Option[String])].collect().toSet
    assert(h == Set(
      ("ma1", "basic", msOfMsk("2024-03-01 03:00:00"),
        "2024-03-01 03:00:00", Some("2024-03-01 04:00:00")),
      ("ma1", "enterprise", msOfMsk("2024-03-01 04:00:00"),
        "2024-03-01 04:00:00", None),
      ("ma2", "pro", msOfMsk("2024-03-01 03:00:00"),
        "2024-03-01 03:00:00", Some("2024-03-03 00:00:00"))), h.toString)
    pinV0(wh, snap.name, 2)
  }
}
