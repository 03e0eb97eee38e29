package graft

import graft.runtime._
import org.apache.spark.sql.functions.col

/** Two snapshot archetypes the roster lacked, executed VERBATIM from their
  * reference files:
  *
  *  - snapshots/spark/b2b_mart/scd2_form_with_status_snapshot.sql —
  *    TIMESTAMP strategy WITH invalidate_hard_deletes (the combination;
  *    prior roster rows covered timestamp-only and check+hard-deletes):
  *    an update closes the old row at the NEW row's updated_at, a
  *    disappearance closes it at the RUN timestamp. `file_format='delta'`
  *    — this spec runs it on a LOG-ENABLED warehouse, so the SCD2
  *    full-replace lands as TxLog overwrite commits (routeFormat) and the
  *    history is read back through the manifest.
  *  - snapshots/spark/b2b_mart/scd2_rfq_media_uploads_snapshot.sql —
  *    CHECK strategy on a single column that is ITSELF part of the
  *    SYNTHESIZED unique key (`imageId||rfqId||createdTimeMs AS _id`): a
  *    change to the checked column therefore never "updates" a key — it
  *    inserts a NEW key and hard-deletes the old one — while a change to
  *    any column OUTSIDE the check list must neither open a version nor
  *    refresh the payload (the OLD payload survives).
  */
class Scd2ArchetypesRealSpec extends SparkSpec {
  import spark.implicits._

  private def msOf(mskWall: String): Long =
    (java.time.Instant.parse(mskWall.replace(' ', 'T') + "Z").getEpochSecond - 10800L) * 1000L

  test("REAL scd2_form_with_status_snapshot.sql: timestamp strategy + hard " +
       "deletes on the TxLog warehouse") {
    val snap = SqlTemplater.snapshotModel(java.nio.file.Files.readString(
      java.nio.file.Paths.get(
        "/root/reference/snapshots/spark/b2b_mart/scd2_form_with_status_snapshot.sql")))
    assert(snap.materialization == Materialization.Snapshot("_id",
      Scd2Strategy.Timestamp("update_ts_msk"), invalidateHardDeletes = true))
    assert(snap.fileFormat == "delta")

    val wh = new Warehouse(spark, TempDirs.create("graft_wh_scd2log"),
      logFormatEnabled = true)
    val ctx = Ctx(spark, wh, SourceRegistry.overDir(spark, "/root/testdata/sf0.001"),
      Map("run_ts" -> "2024-06-02 00:00:00"))

    def plant(rows: Seq[(String, String, Long)]): Unit =
      ctx.sources.register("mongo", "b2b_core_form_with_status_daily_snapshot")(s =>
        s.sql(rows.map { case (id, nm, utms) =>
          s"SELECT '$id' AS _id, '$nm' AS name, ${utms}L AS utms"
        }.mkString("\nUNION ALL\n")))
    def run(at: String): Unit =
      new DagRunner(Seq(snap)).run(ctx.copy(vars = Map("run_ts" -> at)))
        .foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }

    plant(Seq(("f1", "draft", msOf("2024-06-01 10:00:00")),
              ("f2", "sent", msOf("2024-06-01 11:00:00"))))
    run("2024-06-02 00:00:00")
    assert(wh.isLogBacked("scd2_form_with_status_snapshot"),
      "a delta-format snapshot on a log-enabled warehouse must be TxLog-backed")
    assert(ctx.ref("scd2_form_with_status_snapshot").count() == 2)

    // run 2: f1 updated (closes at the NEW updated_at), f2 hard-deleted
    // (closes at the RUN ts), f3 appears
    plant(Seq(("f1", "approved", msOf("2024-06-02 09:00:00")),
              ("f3", "draft", msOf("2024-06-02 12:00:00"))))
    run("2024-06-03 00:00:00")
    val h = ctx.ref("scd2_form_with_status_snapshot")
      .selectExpr("_id", "name", "CAST(update_ts_msk AS STRING)",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("f1", "draft", "2024-06-01 10:00:00", "2024-06-01 10:00:00",
        Some("2024-06-02 09:00:00")),
      ("f1", "approved", "2024-06-02 09:00:00", "2024-06-02 09:00:00", None),
      ("f2", "sent", "2024-06-01 11:00:00", "2024-06-01 11:00:00",
        Some("2024-06-03 00:00:00")),
      ("f3", "draft", "2024-06-02 12:00:00", "2024-06-02 12:00:00", None)),
      h.toString)
    // the history lives in the transaction log: version 0 (first run) is
    // still time-travel readable with exactly the first run's two rows
    val t = java.nio.file.Paths.get(wh.tablePath("scd2_form_with_status_snapshot"))
    assert(graft.plans.TxLog.read(spark, t, asOf = 0L).count() == 2)
  }

  test("REAL scd2_rfq_media_uploads_snapshot.sql: check strategy over a " +
       "column inside the synthesized || key") {
    val snap = SqlTemplater.snapshotModel(java.nio.file.Files.readString(
      java.nio.file.Paths.get(
        "/root/reference/snapshots/spark/b2b_mart/scd2_rfq_media_uploads_snapshot.sql")))
    assert(snap.materialization == Materialization.Snapshot("_id",
      Scd2Strategy.Check(Seq("createdTimeMs")), invalidateHardDeletes = true))

    val ctx = freshCtx(vars = Map("run_ts" -> "2024-06-02 00:00:00"))
    def plant(rows: Seq[(String, String, Long, String)]): Unit =
      ctx.sources.register("mongo", "b2b_core_rfq_media_uploads_daily_snapshot")(s =>
        s.sql(rows.map { case (img, rfq, ctm, fn) =>
          s"SELECT '$img' AS imageId, '$rfq' AS rfqId, ${ctm}L AS createdTimeMs, '$fn' AS fileName"
        }.mkString("\nUNION ALL\n")))
    def run(at: String): Unit =
      new DagRunner(Seq(snap)).run(ctx.copy(vars = Map("run_ts" -> at)))
        .foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }

    plant(Seq(("i1", "r1", 100L, "a.jpg"), ("i2", "r1", 200L, "b.jpg")))
    run("2024-06-02 00:00:00")
    assert(ctx.ref("scd2_rfq_media_uploads_snapshot").count() == 2)

    // run 2: i1 changes only fileName (OUTSIDE check_cols) → no new version
    // AND the surviving open row keeps the OLD fileName; i2's createdTimeMs
    // moves 200→300, which mints a NEW _id: the old key is hard-deleted
    // (closed at run ts), the new key inserted
    plant(Seq(("i1", "r1", 100L, "a-renamed.jpg"), ("i2", "r1", 300L, "b.jpg")))
    run("2024-06-03 00:00:00")
    val h = ctx.ref("scd2_rfq_media_uploads_snapshot")
      .selectExpr("_id", "fileName", "CAST(createdTimeMs AS LONG)",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, Long, String, Option[String])].collect().toSet
    assert(h == Set(
      ("i1r1100", "a.jpg", 100L, "2024-06-02 00:00:00", None),
      ("i2r1200", "b.jpg", 200L, "2024-06-02 00:00:00", Some("2024-06-03 00:00:00")),
      ("i2r1300", "b.jpg", 300L, "2024-06-03 00:00:00", None)), h.toString)
  }

  test("REAL scd2_merchant_appendixes_snapshot.sql: bare SELECT * + " +
       "check_cols + hard deletes (the r12 corpus-advance failure shape)") {
    // /root/reference/snapshots/spark/b2b_mart/scd2_merchant_appendixes_snapshot.sql:13
    // — `SELECT * FROM source(...)` demands no columns; the strategy columns
    // arrive only via the source's own schema. check_cols=['selectedPaymentMethod'].
    val snap = SqlTemplater.snapshotModel(java.nio.file.Files.readString(
      java.nio.file.Paths.get(
        "/root/reference/snapshots/spark/b2b_mart/scd2_merchant_appendixes_snapshot.sql")))
    assert(snap.materialization == Materialization.Snapshot("_id",
      Scd2Strategy.Check(Seq("selectedPaymentMethod")), invalidateHardDeletes = true))
    assert(snap.fileFormat == "delta")

    val ctx = freshCtx(vars = Map("run_ts" -> "2024-06-02 00:00:00"))
    def plant(rows: Seq[(String, String, String)]): Unit =
      ctx.sources.register("mongo", "b2b_core_merchant_appendixes_daily_snapshot")(s =>
        s.sql(rows.map { case (id, pm, note) =>
          s"SELECT '$id' AS _id, '$pm' AS selectedPaymentMethod, '$note' AS note"
        }.mkString("\nUNION ALL\n")))
    def run(at: String): Unit =
      new DagRunner(Seq(snap)).run(ctx.copy(vars = Map("run_ts" -> at)))
        .foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }

    plant(Seq(("m1", "card", "x"), ("m2", "cash", "y")))
    run("2024-06-02 00:00:00")
    assert(ctx.ref("scd2_merchant_appendixes_snapshot").count() == 2)

    // run 2: m1 flips the CHECKED column (close at run ts, open new version);
    // m2 changes only `note` (outside check_cols: NO new version, and the
    // surviving open row keeps the OLD note); m3 appears
    plant(Seq(("m1", "wire", "x"), ("m2", "cash", "y2"), ("m3", "card", "z")))
    run("2024-06-03 00:00:00")
    // run 3: m3 disappears → invalidate_hard_deletes closes it at run ts
    plant(Seq(("m1", "wire", "x"), ("m2", "cash", "y2")))
    run("2024-06-04 00:00:00")
    val h = ctx.ref("scd2_merchant_appendixes_snapshot")
      .selectExpr("_id", "selectedPaymentMethod", "note",
        "CAST(dbt_valid_from AS STRING)", "CAST(dbt_valid_to AS STRING)")
      .as[(String, String, String, String, Option[String])].collect().toSet
    assert(h == Set(
      ("m1", "card", "x", "2024-06-02 00:00:00", Some("2024-06-03 00:00:00")),
      ("m1", "wire", "x", "2024-06-03 00:00:00", None),
      ("m2", "cash", "y", "2024-06-02 00:00:00", None),
      ("m3", "card", "z", "2024-06-03 00:00:00", Some("2024-06-04 00:00:00"))),
      h.toString)
  }
}
