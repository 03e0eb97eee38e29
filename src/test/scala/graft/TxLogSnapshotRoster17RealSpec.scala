package graft

import graft.runtime._

/** Grows the hand-verified snapshot roster 21 → 28 (r17). Every file below
  * is read VERBATIM from /root/reference at test runtime, runs on a
  * transaction-log table (all pin `file_format='delta'`), and carries a
  * `VERSION AS OF 0` pre-advance read-back. New config/body shapes:
  *
  *  - snapshots/spark/b2b_mart/scd2_interactions_snapshot.sql — the
  *    CLOCK-KEYED timestamp strategy: `updated_at` is
  *    `current_timestamp()`, so EVERY run re-versions EVERY row (the
  *    n.updated_at > o.updated_at predicate is always true); validity
  *    cells carry the wall clock, pinned structurally (counts, close/open
  *    chains), while a vanished key still closes at the deterministic
  *    run_ts (invalidate_hard_deletes=True).
  *  - snapshots/spark/b2b_mart/scd2_users_snapshot.sql — SELECT * plus a
  *    4-level nested extraction (`roleSet.roles.owner.moderatorId`),
  *    clock-keyed like interactions.
  *  - snapshots/spark/b2b_mart/scd2_mongo_product_prices_daily_snapshot.sql
  *    — struct-of-struct projection (`P.brMin.amount` / `P.brMin.ccy`),
  *    MILLIS_TO_TS_MSK(utms), DEFAULT keep-open deletes.
  *  - snapshots/spark/b2b_mart/scd2_calculations_snapshot.sql — updated_at
  *    derived from the CREATE timestamp (`MILLIS_TO_TS_MSK(ctms+1)`): a
  *    payload edit with unchanged ctms does NOT advance (the snapshot
  *    keeps the OLD payload silently); only a ctms change re-versions,
  *    with the +1ms skew in the validity cell. 18-column rename body.
  *  - snapshots/spark/b2b_mart/scd2_popup_requests_snapshot.sql —
  *    check_cols='all' + SELECT * over the RAW source +
  *    invalidate_hard_deletes (check-all previously verified only over a
  *    ref'd model with DISTRIBUTE BY).
  *  - snapshots/spark/b2b_mart/scd2_stores_snapshot.sql — camelCase
  *    `updatedTimeMs` millis key WITH invalidate_hard_deletes=True
  *    (contrast: scd2_merchant_attributes pins the same key shape with
  *    keep-open defaults).
  *  - snapshots/spark/b2b_mart/scd2_mongo_promo_product_groups.sql —
  *    rename projection with BOTH ctms/utms conversions and a
  *    NON-DEFAULT updated_at name (`updated_ts_msk`).
  */
class TxLogSnapshotRoster17RealSpec extends SparkSpec {
  import spark.implicits._

  private def snapOf(path: String): Model =
    SqlTemplater.snapshotModel(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"/root/reference/snapshots/spark/$path")))

  /** MSK wall-clock string -> the epoch millis millis_to_ts_msk maps to it */
  private def msOfMsk(mskWall: String): Long =
    java.time.Instant.parse(mskWall.replace(' ', 'T') + "Z").toEpochMilli -
      graft.functions.TimeFunctions.MskOffsetMillis

  private def logCtx(tag: String): (Ctx, Warehouse) = {
    val wh = new Warehouse(spark, TempDirs.create(tag))
    (Ctx(spark, wh, SourceRegistry.overDir(spark, "/root/testdata/sf0.001"),
      Map("run_ts" -> "2024-03-02 00:00:00")), wh)
  }

  private def runDag(ctx: Ctx, models: Seq[Model], at: String): Unit =
    new DagRunner(models).run(ctx.copy(vars = Map("run_ts" -> at)))
      .foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }

  private def pinV0(wh: Warehouse, name: String, rows: Long): Unit = {
    assert(wh.isLogBacked(name), s"$name must land on the TxLog")
    val v0 = graft.plans.TxLog.read(spark,
      java.nio.file.Paths.get(wh.tablePath(name)), asOf = 0L)
    assert(v0.count() == rows, s"$name VERSION AS OF 0 must hold the first run")
    assert(v0.filter("dbt_valid_to IS NOT NULL").count() == 0,
      s"$name v0 rows must all be OPEN (pre-advance)")
  }

  test("REAL b2b_mart/scd2_interactions_snapshot.sql: clock-keyed timestamp " +
    "re-versions every row each run; hard delete still closes at run_ts") {
    val snap = snapOf("b2b_mart/scd2_interactions_snapshot.sql")
    assert(snap.materialization == Materialization.Snapshot("_id",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = true))
    assert(snap.fileFormat == "delta")

    val (ctx, wh) = logCtx("graft_wh_interactions")
    def plant(ids: Seq[String]): Unit =
      ctx.sources.register("mongo", "b2b_core_interactions_daily_snapshot")(s =>
        s.sql(ids.map(id =>
          s"SELECT '$id' AS _id, 'call' AS kind").mkString("\nUNION ALL\n")))

    plant(Seq("i1", "i2"))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")
    val h1 = ctx.ref(snap.name)
      .selectExpr("_id", "dbt_valid_from", "dbt_valid_to").collect()
    assert(h1.length == 2 && h1.forall(_.get(2) == null))
    val firstFrom = h1.map(r => (r.getString(0), r.getTimestamp(1))).toMap

    // i2 vanishes; i1 unchanged in PAYLOAD — but the clock key re-versions it
    plant(Seq("i1"))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h2 = ctx.ref(snap.name)
      .selectExpr("_id", "dbt_valid_from", "dbt_valid_to").collect()
    assert(h2.length == 3, s"expected i1 re-versioned + i2 closed: ${h2.toSeq}")
    val i1 = h2.filter(_.getString(0) == "i1").sortBy(_.getTimestamp(1).getTime)
    assert(i1.length == 2)
    assert(i1(0).getTimestamp(1) == firstFrom("i1"))
    assert(i1(0).getTimestamp(2) == i1(1).getTimestamp(1),
      "old version must close exactly where the new one opens")
    assert(i1(1).get(2) == null && i1(1).getTimestamp(1).after(firstFrom("i1")))
    // the vanished key closes at the DETERMINISTIC run_ts, not the clock
    val i2 = h2.filter(_.getString(0) == "i2")
    assert(i2.length == 1 &&
      i2(0).getTimestamp(2) == java.sql.Timestamp.valueOf("2024-03-03 00:00:00"))
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_users_snapshot.sql: SELECT * + 4-level nested " +
    "moderatorId extraction on the clock key") {
    val snap = snapOf("b2b_mart/scd2_users_snapshot.sql")
    assert(snap.materialization == Materialization.Snapshot("_id",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = true))

    val (ctx, wh) = logCtx("graft_wh_users17")
    def plant(rows: Seq[(String, String)]): Unit =
      ctx.sources.register("mongo", "b2b_core_users_daily_snapshot")(s =>
        s.sql(rows.map { case (id, mod) =>
          s"""SELECT '$id' AS _id, 'u' AS name, NAMED_STRUCT('roles',
             |  NAMED_STRUCT('owner', NAMED_STRUCT('moderatorId', '$mod'))) AS roleSet""".stripMargin
        }.mkString("\nUNION ALL\n")))

    plant(Seq(("u1", "m1"), ("u2", "m2")))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")
    val got = ctx.ref(snap.name).selectExpr("_id", "moderator_id")
      .as[(String, String)].collect().toSet
    assert(got == Set(("u1", "m1"), ("u2", "m2")),
      s"nested extraction must surface moderator_id: $got")

    plant(Seq(("u1", "m9"), ("u2", "m2")))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    // clock key: BOTH rows re-version; u1's new open row carries m9
    val open = ctx.ref(snap.name).filter("dbt_valid_to IS NULL")
      .selectExpr("_id", "moderator_id").as[(String, String)].collect().toSet
    assert(open == Set(("u1", "m9"), ("u2", "m2")), open.toString)
    assert(ctx.ref(snap.name).count() == 4)
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_mongo_product_prices_daily_snapshot.sql: " +
    "struct-of-struct projection, default keep-open deletes") {
    val snap = snapOf("b2b_mart/scd2_mongo_product_prices_daily_snapshot.sql")
    assert(snap.materialization == Materialization.Snapshot("product_id",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = false))

    val (ctx, wh) = logCtx("graft_wh_prodprices")
    def plant(rows: Seq[(String, Double, String, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_product_product_prices_daily_snapshot")(s =>
        s.sql(rows.map { case (id, amt, ccy, utms) =>
          s"""SELECT '$id' AS _id, NAMED_STRUCT('brMin',
             |  NAMED_STRUCT('amount', CAST($amt AS DOUBLE), 'ccy', '$ccy')) AS P,
             |  CAST($utms AS BIGINT) AS utms""".stripMargin
        }.mkString("\nUNION ALL\n")))

    val t1 = msOfMsk("2024-03-01 03:00:00"); val t2 = msOfMsk("2024-03-01 04:00:00")
    plant(Seq(("p1", 10.5, "USD", t1), ("p2", 3.0, "EUR", t1)))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")
    assert(ctx.ref(snap.name).count() == 2)

    // p1's nested amount moves with a newer utms; p2 VANISHES (stays open)
    plant(Seq(("p1", 12.0, "USD", t2)))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("product_id", "min_price", "min_price_ccy",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, Double, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("p1", 10.5, "USD", "2024-03-01 03:00:00", Some("2024-03-01 04:00:00")),
      ("p1", 12.0, "USD", "2024-03-01 04:00:00", None),
      ("p2", 3.0, "EUR", "2024-03-01 03:00:00", None)), h.toString)
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_calculations_snapshot.sql: create-keyed " +
    "updated_at (ctms+1) — payload edits with unchanged ctms do NOT advance") {
    val snap = snapOf("b2b_mart/scd2_calculations_snapshot.sql")
    assert(snap.materialization == Materialization.Snapshot("calculation_id",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = true))

    val (ctx, wh) = logCtx("graft_wh_calc17")
    def plant(rows: Seq[(String, Double, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_core_calculations_daily_snapshot")(s =>
        s.sql(rows.map { case (id, comm, ctms) =>
          s"""SELECT '$id' AS _id, 'b1' AS brokerid, 'ch1' AS channelid,
             |  CAST($comm AS DOUBLE) AS commission, CAST($ctms AS BIGINT) AS ctms,
             |  'd1' AS dealid, 'sea' AS deliveryscheme, false AS isdocumentoutdated,
             |  'calc' AS name, ARRAY('o1') AS offerids, 'ovr' AS offeroverrides,
             |  'USD' AS paymentccy, 'po' AS priceoverridesv2, 'r' AS rates,
             |  'spo' AS samplepriceoverridesv2, 0.1 AS subsidy,
             |  'vo' AS variantoverrides, 'wire' AS paymentmethod""".stripMargin
        }.mkString("\nUNION ALL\n")))

    val t1 = msOfMsk("2024-03-01 03:00:00"); val t2 = msOfMsk("2024-03-01 04:00:00")
    plant(Seq(("c1", 5.0, t1)))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")
    // +1ms skew lands in the validity cell
    assert(ctx.ref(snap.name).selectExpr("CAST(dbt_valid_from AS STRING)")
      .as[String].collect().toSeq == Seq("2024-03-01 03:00:00.001"))

    // commission changes but ctms does not -> updated_at unchanged -> the
    // timestamp strategy keeps the OLD payload, silently (reference
    // semantics: this snapshot only versions on document CREATION)
    plant(Seq(("c1", 99.0, t1)))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val afterNoop = ctx.ref(snap.name)
      .selectExpr("calculation_id", "commission", "CAST(dbt_valid_to AS STRING)")
      .as[(String, Double, Option[String])].collect().toSet
    assert(afterNoop == Set(("c1", 5.0, None)),
      s"unchanged ctms must not advance (old payload kept): $afterNoop")

    // a ctms move DOES advance, closing at the new +1ms boundary
    plant(Seq(("c1", 99.0, t2)))
    runDag(ctx, Seq(snap), "2024-03-04 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("calculation_id", "commission",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, Double, String, Option[String])].collect().toSet
    assert(h == Set(
      ("c1", 5.0, "2024-03-01 03:00:00.001", Some("2024-03-01 04:00:00.001")),
      ("c1", 99.0, "2024-03-01 04:00:00.001", None)), h.toString)
    pinV0(wh, snap.name, 1)
  }

  test("REAL b2b_mart/scd2_popup_requests_snapshot.sql: check_cols='all' " +
    "over the RAW source with hard deletes") {
    val snap = snapOf("b2b_mart/scd2_popup_requests_snapshot.sql")
    assert(snap.materialization == Materialization.Snapshot("_id",
      Scd2Strategy.Check(Nil), invalidateHardDeletes = true))

    val (ctx, wh) = logCtx("graft_wh_popup17")
    def plant(rows: Seq[(String, String)]): Unit =
      ctx.sources.register("mongo", "b2b_core_popup_requests_daily_snapshot")(s =>
        s.sql(rows.map { case (id, msg) =>
          s"SELECT '$id' AS _id, '$msg' AS message" }.mkString("\nUNION ALL\n")))

    plant(Seq(("r1", "hello"), ("r2", "hi")))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")
    assert(ctx.ref(snap.name).count() == 2)

    // r1's payload flips (check-all opens a version at run ts), r2 vanishes
    // (hard delete closes at run ts)
    plant(Seq(("r1", "changed")))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("_id", "message", "CAST(dbt_valid_from AS STRING)",
        "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("r1", "hello", "2024-03-02 00:00:00", Some("2024-03-03 00:00:00")),
      ("r1", "changed", "2024-03-03 00:00:00", None),
      ("r2", "hi", "2024-03-02 00:00:00", Some("2024-03-03 00:00:00"))), h.toString)
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_stores_snapshot.sql: camelCase updatedTimeMs key " +
    "WITH invalidate_hard_deletes (contrast to merchant_attributes' default)") {
    val snap = snapOf("b2b_mart/scd2_stores_snapshot.sql")
    assert(snap.materialization == Materialization.Snapshot("_id",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = true))

    val (ctx, wh) = logCtx("graft_wh_stores17")
    def plant(rows: Seq[(String, String, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_core_stores_daily_snapshot")(s =>
        s.sql(rows.map { case (id, city, ms) =>
          s"SELECT '$id' AS _id, '$city' AS city, CAST($ms AS BIGINT) AS updatedTimeMs"
        }.mkString("\nUNION ALL\n")))

    val t1 = msOfMsk("2024-03-01 03:00:00"); val t2 = msOfMsk("2024-03-01 05:00:00")
    plant(Seq(("s1", "riga", t1), ("s2", "oslo", t1)))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")
    // s1 moves city with a newer updatedTimeMs; s2 VANISHES — hard deletes
    // ON here, so it CLOSES at run_ts (the contrast with the attributes
    // snapshot, where the same camelCase key keeps deletes open)
    plant(Seq(("s1", "tallinn", t2)))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("_id", "city", "CAST(dbt_valid_from AS STRING)",
        "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("s1", "riga", "2024-03-01 03:00:00", Some("2024-03-01 05:00:00")),
      ("s1", "tallinn", "2024-03-01 05:00:00", None),
      ("s2", "oslo", "2024-03-01 03:00:00", Some("2024-03-03 00:00:00"))), h.toString)
    pinV0(wh, snap.name, 2)
  }

  test("REAL b2b_mart/scd2_mongo_promo_product_groups.sql: rename projection " +
    "with non-default updated_at name and dual millis conversions") {
    val snap = snapOf("b2b_mart/scd2_mongo_promo_product_groups.sql")
    assert(snap.materialization == Materialization.Snapshot("product_groups_id",
      Scd2Strategy.Timestamp("updated_ts_msk"), invalidateHardDeletes = true))

    val (ctx, wh) = logCtx("graft_wh_promogrp")
    def plant(rows: Seq[(String, String, Long, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_core_promo_product_groups_daily_snapshot")(s =>
        s.sql(rows.map { case (id, nm, ctms, utms) =>
          s"""SELECT '$id' AS _id, '$nm' AS name, 'pp' AS content,
             |  CAST($ctms AS BIGINT) AS ctms, CAST($utms AS BIGINT) AS utms""".stripMargin
        }.mkString("\nUNION ALL\n")))

    val c1 = msOfMsk("2024-02-28 10:00:00")
    val t1 = msOfMsk("2024-03-01 03:00:00"); val t2 = msOfMsk("2024-03-01 06:00:00")
    plant(Seq(("g1", "spring", c1, t1)))
    runDag(ctx, Seq(snap), "2024-03-02 00:00:00")
    // created_ts_msk passes through untouched; validity keys on updated_ts_msk
    assert(ctx.ref(snap.name)
      .selectExpr("CAST(created_ts_msk AS STRING)", "CAST(dbt_valid_from AS STRING)")
      .as[(String, String)].collect().toSeq ==
      Seq(("2024-02-28 10:00:00", "2024-03-01 03:00:00")))

    plant(Seq(("g1", "summer", c1, t2)))
    runDag(ctx, Seq(snap), "2024-03-03 00:00:00")
    val h = ctx.ref(snap.name)
      .selectExpr("product_groups_id", "product_groups_name",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("g1", "spring", "2024-03-01 03:00:00", Some("2024-03-01 06:00:00")),
      ("g1", "summer", "2024-03-01 06:00:00", None)), h.toString)
    pinV0(wh, snap.name, 1)
  }
}
