package graft

import java.nio.file.Paths

import graft.runtime.CorpusExecute

/** Spec gate for the corpus-wide EXECUTE phase (runtime/CorpusExecute):
  * every reference model + snapshot is materialized against sources
  * synthesized by error-driven schema negotiation. The full 477-node sweep
  * is the CorpusExec report main (too slow for the suite); this gate runs a
  * REPRESENTATIVE dependency subtree end-to-end — the corpus's most-blocked
  * chain (scd2_mongo_order → fact_order, 27 transitive dependents in the
  * full graph) plus dim_store's cross-model alias-retype shape
  * (`isTop AS is_top` defined in the upstream `store` model, consumed as a
  * boolean downstream) — and pins the negotiation behaviors that made them
  * executable, so a patcher regression fails the suite rather than silently
  * shrinking the full report's executed count.
  *
  * Reference files exercised (read at test runtime, never vendored):
  *   - models/spark/mart/dim_store.sql (CASE WHEN is_top…: boolean retype
  *     through an upstream SELECT alias)
  *   - models/spark/b2b_mart/scd2/scd2_mongo_order.sql + its snapshot
  *     (FIELD_NOT_FOUND growth + intra-pass upstream refresh)
  *   - models/spark/b2b_mart/fact/fact_order.sql (the most-referenced model)
  *   - key_order_status/key_order_substatus (`explode(values)` — a
  *     keyword-named column must survive ident filtering)
  */
class CorpusExecuteSpec extends SparkSpec {

  test("EXECUTE phase: the fact_order chain + dim_store subtree fully executes") {
    val report = CorpusExecute.run(spark,
      Paths.get("/root/reference/models"), Paths.get("/root/reference/macros"),
      Paths.get("/root/reference/snapshots"), Paths.get("/root/reference/seeds"),
      only = Some(Set("dim_store", "scd2_mongo_order", "fact_order")))

    val byStatus = report.items.groupBy(_.status.split(":", 2).head)
    val gaps = report.items.filter(_.status.startsWith("gap"))
    assert(gaps.isEmpty, s"negotiation gaps: ${gaps.map(i => s"${i.name}=${i.status}").mkString(", ")}")

    // the known corpus defect (committed merge-conflict marker) is the ONLY
    // non-executed node in this subtree
    val nonExec = report.items.filterNot(_.status == "executed").map(_.name)
    assert(nonExec == Seq("sherlock_kaspi_products"),
      s"unexpected non-executed nodes: $nonExec")
    assert(byStatus("executed").size >= 8, s"expected >=8 executed, got $byStatus")

    // the incremental second run (insert_overwrite / SCD2-advance over
    // {{ this }}) must execute too, not just the first materialization
    assert(report.incrementalExecuted.nonEmpty,
      "no incremental second-run executed in the subtree")

    // negotiation must converge INSIDE the pass budget, not exhaust it
    assert(report.passes < 6, s"fixpoint needed ${report.passes} passes — intra-pass refresh regressed")
  }

  test("expression aliases do not shadow table aliases; only subquery closers demote") {
    // `COUNT(x) AS total` must NOT demote table alias `total` from forced
    // planting: its alias-qualified claim still un-tombstones. A true
    // subquery closer `(SELECT ...) AS sub` MUST demote: the unforced plant
    // cannot override a standing tombstone.
    val synth = new CorpusExecute.Synth(spark)
    val key = ("probe_db", "probe_tbl")
    synth.tombstones += ((key, "amount"))
    CorpusExecute.preSeed(
      "SELECT COUNT(x) AS total FROM probe_db.probe_tbl AS total WHERE total.amount > 0",
      Map("total" -> key), synth)
    assert(!synth.tombstones.contains((key, "amount")),
      "forced plant via expression-aliased name failed to un-tombstone")

    val synth2 = new CorpusExecute.Synth(spark)
    synth2.tombstones += ((key, "amount"))
    CorpusExecute.preSeed(
      "SELECT * FROM (SELECT y AS amount FROM probe_db.probe_tbl) AS sub WHERE sub.amount > 0",
      Map("sub" -> key), synth2)
    assert(synth2.tombstones.contains((key, "amount")),
      "subquery-shadowed alias must stay unforced (tombstone sticks)")
  }

  test("warm start END-TO-END: a cached subtree rerun converges in fewer " +
    "passes with an identical executed set") {
    val cache = java.nio.file.Paths.get(
      graft.runtime.TempDirs.create("graft_warm_e2e").toString, "synth.parquet")
    def go(): CorpusExecute.Report = CorpusExecute.run(spark,
      Paths.get("/root/reference/models"), Paths.get("/root/reference/macros"),
      Paths.get("/root/reference/snapshots"), Paths.get("/root/reference/seeds"),
      only = Some(Set("dim_store")), cacheOverride = Some(cache))
    val cold = go()
    assert(java.nio.file.Files.exists(cache), "cold run must write the cache")
    val warm = go()
    def execed(r: CorpusExecute.Report) = r.executed.map(_.name).sorted
    assert(execed(cold).nonEmpty && execed(cold) == execed(warm),
      s"executed sets diverged: cold=${execed(cold)} warm=${execed(warm)}")
    assert(warm.passes <= cold.passes,
      s"warm needed MORE passes (${warm.passes}) than cold (${cold.passes})")
    // the warm run must spend strictly fewer error-driven iterations — the
    // whole point of seeding pass 1 from the converged catalog
    def iters(r: CorpusExecute.Report) = r.items.map(_.iterations).sum
    assert(iters(warm) < iters(cold),
      s"warm iterations ${iters(warm)} !< cold ${iters(cold)}")
  }

  test("warm-start cache round-trips the full negotiation state") {
    import org.apache.spark.sql.types._
    val a = new CorpusExecute.Synth(spark)
    val k1 = ("mongo_db", "orders_raw")
    val k2 = ("platform", "events")
    a.schemas(k1) = StructType(Seq(
      StructField("order_id", StringType),
      StructField("payload", StructType(Seq(
        StructField("amount", StructType(Seq(StructField("value", DoubleType)))),
        StructField("tags", ArrayType(StringType)))))))
    a.schemas(k2) = StructType(Seq(StructField("ts", TimestampType)))
    a.tombstones += ((k1, "ambiguous_col"))
    a.pinned((k2, "ts")) = "some_model"
    a.rawCatalogKeys += k2
    a.overlayPatch(k1, Seq("payload", "amount"), DecimalType(18, 2)) // no currentNode -> ignored
    a.currentNode = "node_x"
    assert(a.overlayPatch(k1, Seq("payload", "amount"), DecimalType(18, 2)))
    assert(a.overlayPatch(k1, Seq("payload"), StringType)) // order matters
    val p = java.nio.file.Paths.get("/tmp/graft_cache_spec/synth_test.parquet")
    val hashes = Map("node_x" -> "h1", "some_model" -> "h2")
    CorpusExecute.saveCache(a, p, hashes, envHash = "env1")

    // the same node hashes and env hash: nothing changed, every row applies
    val b = new CorpusExecute.Synth(spark)
    assert(CorpusExecute.loadCacheIncremental(b, p, hashes, "env1", identity)
      .contains((Set.empty[String], Set.empty[String])))
    assert(b.schemas.toMap == a.schemas.toMap, "schemas diverged")
    assert(b.tombstones == a.tombstones, "tombstones diverged")
    assert(b.pinned.toMap == a.pinned.toMap, "pinned diverged")
    assert(b.rawCatalogKeys == a.rawCatalogKeys, "rawCatalogKeys diverged")
    assert(b.overlays.keySet == a.overlays.keySet, "overlay keys diverged")
    assert(b.overlays(("node_x", k1)).toSeq == a.overlays(("node_x", k1)).toSeq,
      "overlay entries or their ORDER diverged")
    // the raw-catalog table must exist after load (flushCatalog ran)
    assert(spark.catalog.tableExists("`platform`.`events`"),
      "raw-catalog table not re-created on warm load")
    // missing cache => cold start, not a crash
    val c = new CorpusExecute.Synth(spark)
    assert(CorpusExecute.loadCacheIncremental(c,
      java.nio.file.Paths.get("/tmp/graft_cache_spec/nope.parquet"), hashes, "env1", identity)
      .isEmpty)
    assert(c.schemas.isEmpty)
  }

  test("shadow detection: WITH-opening derived tables, comments after '(', " +
    "and parens inside string literals") {
    val key = ("probe_db", "probe_tbl")
    // `(WITH ... SELECT ...) AS sub` is a derived table — demotes like SELECT
    val s1 = new CorpusExecute.Synth(spark)
    s1.tombstones += ((key, "amount"))
    CorpusExecute.preSeed(
      "SELECT * FROM (WITH w AS (SELECT 1 AS one) SELECT y AS amount FROM probe_db.probe_tbl) AS sub WHERE sub.amount > 0",
      Map("sub" -> key), s1)
    assert(s1.tombstones.contains((key, "amount")),
      "WITH-opening derived table must shadow its alias (stay unforced)")

    // `( /* hint */ SELECT ...) AS sub` — comment between '(' and SELECT
    val s2 = new CorpusExecute.Synth(spark)
    s2.tombstones += ((key, "amount"))
    CorpusExecute.preSeed(
      "SELECT * FROM ( /* broadcast */ SELECT y AS amount FROM probe_db.probe_tbl) AS sub WHERE sub.amount > 0",
      Map("sub" -> key), s2)
    assert(s2.tombstones.contains((key, "amount")),
      "comment after '(' must not hide a subquery closer")

    // an unbalanced paren inside a string literal must not misalign the
    // matcher: the `) AS total` here closes COUNT(x), not a subquery, so
    // table alias `total` keeps its forced planting
    val s3 = new CorpusExecute.Synth(spark)
    s3.tombstones += ((key, "amount"))
    CorpusExecute.preSeed(
      "SELECT ')(', COUNT(x) AS total, '(select' AS lit -- (select\n" +
        "FROM probe_db.probe_tbl AS total WHERE total.amount > 0",
      Map("total" -> key), s3)
    assert(!s3.tombstones.contains((key, "amount")),
      "paren/SELECT text inside literals+comments misaligned the matcher")
  }

  test("snapshot strategy-column seeding matches identifier boundaries, not substrings") {
    // the predicate itself: `status` is NOT mentioned by `statusHistory` /
    // `order_status`, IS mentioned as a bare/qualified identifier
    assert(!CorpusExecute.mentionsIdentifier("select statushistory from t", "status"))
    assert(!CorpusExecute.mentionsIdentifier("select order_status from t", "status"))
    assert(CorpusExecute.mentionsIdentifier("select status from t", "status"))
    assert(CorpusExecute.mentionsIdentifier("select t.status, x from t", "status"))
    assert(CorpusExecute.mentionsIdentifier("where (status) is null", "status"))
    assert(!CorpusExecute.mentionsIdentifier("select idempotency_key from t", "id"))

    // end-to-end: a synthetic `SELECT *` check snapshot whose check_col
    // (`status`) is a strict substring of another referenced column
    // (`statusHistory`). Substring suppression would skip the seed and the
    // SCD2-advance second run would die with UNRESOLVED_COLUMN `status`;
    // boundary matching seeds it and both runs execute.
    val corpus = Paths.get(graft.runtime.TempDirs.create("graft_substr_corpus").toString)
    val modelsDir = corpus.resolve("models"); java.nio.file.Files.createDirectories(modelsDir)
    val macrosDir = corpus.resolve("macros"); java.nio.file.Files.createDirectories(macrosDir)
    val seedsDir = corpus.resolve("seeds"); java.nio.file.Files.createDirectories(seedsDir)
    val snapsDir = corpus.resolve("snapshots"); java.nio.file.Files.createDirectories(snapsDir)
    java.nio.file.Files.writeString(snapsDir.resolve("scd2_substr_probe_snapshot.sql"),
      """{% snapshot scd2_substr_probe_snapshot %}
        |{{
        |    config(
        |      target_schema='probe',
        |      unique_key='id',
        |      strategy='check',
        |      check_cols=['status'],
        |      file_format='parquet',
        |      invalidate_hard_deletes=True,
        |    )
        |}}
        |SELECT * FROM {{ source('probe_db', 'probe_items') }}
        |WHERE statusHistory IS NOT NULL
        |{% endsnapshot %}
        |""".stripMargin)
    val probe = CorpusExecute.run(spark, modelsDir, macrosDir, snapsDir, seedsDir)
    val item = probe.items.find(_.name == "scd2_substr_probe_snapshot")
      .getOrElse(fail(s"probe snapshot missing from report: ${probe.items}"))
    assert(item.status == "executed", s"probe snapshot: ${item.status} ${item.detail}")
    assert(probe.incrementalExecuted.exists(_.name == "scd2_substr_probe_snapshot"),
      s"SCD2 advance second run must execute: ${probe.incrementalExecuted}")
  }
}
