package graft

import graft.runtime._

/** The payments snapshot dir's single file, executed VERBATIM on the
  * transaction log (its config pins `file_format='delta'`, so the
  * SCD2 full-replace lands as TxLog overwrite commits and history is read
  * back through the manifest): `snapshots/spark/payments/card_bins_version
  * .sql` — timestamp strategy over a card-BIN reference feed,
  * `invalidate_hard_deletes` absent (default false). Two runs with a
  * hand-computed advance: an updated BIN closes at the NEW row's
  * updated_ts, an unchanged BIN stays single-row, and a BIN that vanishes
  * from the feed keeps its open row. Every snapshot dir now has a
  * hand-verified roster row.
  */
class CardBinsVersionRealSpec extends SparkSpec {
  import spark.implicits._

  private def bin(b: String, bank: String, ts: String): String =
    s"""SELECT '$b' AS card_bin, '$bank' AS card_bank, 'visa' AS card_brand,
       |  'DE' AS card_country, 'classic' AS card_level, 'debit' AS card_type,
       |  'src-$bank' AS source_bank, 'binlist' AS source_brand,
       |  'binlist' AS source_country, 'binlist' AS source_type,
       |  TIMESTAMP'$ts' AS updated_ts""".stripMargin

  test("REAL payments/card_bins_version.sql: timestamp SCD2 over the BIN feed " +
    "on the TxLog warehouse, validity ranges hand-pinned") {
    val snap = SqlTemplater.snapshotModel(java.nio.file.Files.readString(
      java.nio.file.Paths.get(
        "/root/reference/snapshots/spark/payments/card_bins_version.sql")))
    assert(snap.name == "card_bins_version")
    assert(snap.materialization == Materialization.Snapshot(
      "card_bin", Scd2Strategy.Timestamp("updated_ts"),
      invalidateHardDeletes = false))

    val wh = new Warehouse(spark, TempDirs.create("graft_wh_cardbins"))
    wh.routeFormat(snap.name, "delta")
    val ctx = Ctx(spark, wh,
      SourceRegistry.overDir(spark, "/root/testdata/sf0.001"),
      Map("run_ts" -> "2024-03-02 00:00:00"))

    var feed = Seq(
      bin("411111", "alpha", "2024-03-01 03:00:00"),
      bin("522222", "beta", "2024-03-01 03:00:00"),
      bin("633333", "gamma", "2024-03-01 03:00:00"))
    ctx.sources.register("payments", "card_bins_snapshot")(
      s => s.sql(feed.mkString("\nUNION ALL\n")))
    def run(at: String): Unit =
      new DagRunner(Seq(snap)).run(ctx.copy(vars = Map("run_ts" -> at)))
        .foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }

    run("2024-03-02 00:00:00")
    assert(ctx.ref("card_bins_version").count() == 3)

    // run 2: 411111 rebanked (advance), 522222 unchanged, 633333 VANISHES
    // from the feed (default config -> its open row must survive)
    feed = Seq(
      bin("411111", "alpha-rebranded", "2024-03-01 04:00:00"),
      bin("522222", "beta", "2024-03-01 03:00:00"))
    run("2024-03-03 00:00:00")

    val rows = ctx.ref("card_bins_version")
      .selectExpr("card_bin", "card_bank", "source_bank",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, String, Option[String])].collect().toSet
    assert(rows == Set(
      ("411111", "alpha", "src-alpha",
        "2024-03-01 03:00:00", Some("2024-03-01 04:00:00")),
      ("411111", "alpha-rebranded", "src-alpha-rebranded",
        "2024-03-01 04:00:00", None),
      ("522222", "beta", "src-beta", "2024-03-01 03:00:00", None),
      ("633333", "gamma", "src-gamma", "2024-03-01 03:00:00", None)),
      rows.toSeq.sortBy(r => (r._1, r._4)).mkString("\n"))

    // the delta routing is real: the table's history lives in the TxLog
    // manifest (v0 pre-advance state stays time-travel readable)
    val p = java.nio.file.Paths.get(wh.tablePath("card_bins_version"))
    assert(graft.plans.TxLog.exists(p), "snapshot did not land on the TxLog")
    val v0 = graft.plans.TxLog.snapshot(p, asOf = 0L)
    assert(v0.version == 0L && v0.files.nonEmpty)
  }
}
