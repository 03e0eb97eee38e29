package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.types._
import graft.runtime.CorpusExecute

/** Gates the INCREMENTAL warm start (runtime/CorpusExecute
  * .loadCacheIncremental): the reference's primary dev workflow is the
  * changed-only loop (reference `run.sh --changed-only`,
  * `infra/dbtjoom/find.py:9-46`), where one mid-DAG model is edited and the
  * rest of the corpus should not re-pay cold schema negotiation. The cache
  * is keyed by corpus LOCATION (stableCacheKey) and stores per-node content
  * hashes; on load, only the state owned by changed nodes and their
  * downstream closure is invalidated.
  *
  * Test 1 pins the invalidation closure semantics per state kind on a
  * hand-built Synth (pins incl. ~ambig:/snapshot-strategy: owners,
  * tombstone provenance, node-scoped overlays, pin-dropped schema columns).
  * Test 2 runs the loop END-TO-END on a small on-disk corpus: cold run →
  * edit one mid-DAG model → incremental rerun, asserting the converged
  * source schemas match a from-scratch cold run of the EDITED corpus (the
  * stale pinned column must be gone) with no extra negotiation cost.
  */
class IncrementalWarmStartSpec extends SparkSpec {

  private val kA = ("inc_db", "raw_a")
  private val kB = ("inc_db", "raw_b")

  test("invalidation closure drops exactly the changed nodes' owned state") {
    val a = new CorpusExecute.Synth(spark)
    a.schemas(kA) = StructType(Seq(
      StructField("order_id", LongType), StructField("amount", DoubleType)))
    a.schemas(kB) = StructType(Seq(
      StructField("user_id", LongType), StructField("city", StringType),
      StructField("unpinned_extra", StringType)))
    a.pinned((kA, "order_id")) = "probe_a"
    a.pinned((kB, "user_id")) = "probe_b"
    a.pinned((kB, "city")) = "~ambig:probe_b"
    a.pinned((kA, "amount")) = "snapshot-strategy:probe_b"
    a.tombstones += ((kA, "old_col")); a.tombstoneOwner((kA, "old_col")) = "probe_a"
    a.tombstones += ((kB, "dropped_col")); a.tombstoneOwner((kB, "dropped_col")) = "probe_b"
    a.currentNode = "probe_d"
    assert(a.overlayPatch(kA, Seq("order_id"), StringType))
    a.currentNode = "probe_b"
    assert(a.overlayPatch(kB, Seq("city"), DecimalType(10, 2)))
    a.currentNode = ""
    a.rawCatalogKeys += kA

    val hashes = Map("probe_a" -> "h1", "probe_b" -> "h2",
      "probe_c" -> "h3", "probe_d" -> "h4")
    val p = Paths.get(graft.runtime.TempDirs.create("graft_inc_cache").toString,
      "synth.parquet")
    CorpusExecute.saveCache(a, p, hashes, envHash = "env1")

    def load(cur: Map[String, String], env: String) = {
      val b = new CorpusExecute.Synth(spark)
      val r = CorpusExecute.loadCacheIncremental(b, p, cur, env,
        changed => changed.flatMap(c =>
          if (c == "probe_b") Set("probe_b", "probe_c") else Set(c)))
      (b, r)
    }

    // unchanged corpus: full warm seed, zero invalidation
    val (full, rFull) = load(hashes, "env1")
    assert(rFull.contains((Set.empty[String], Set.empty[String])))
    assert(full.schemas(kB).fieldNames.toSet ==
      Set("user_id", "city", "unpinned_extra"))
    assert(full.pinned.size == 4 && full.tombstones.size == 2)

    // env change (macros/seeds/vars/mode): unusable -> cold
    assert(load(hashes, "env2")._2.isEmpty)

    // probe_b edited: closure {probe_b, probe_c} invalidated
    val (b, r) = load(hashes + ("probe_b" -> "h2x"), "env1")
    assert(r.contains((Set("probe_b"), Set("probe_b", "probe_c"))))
    // pins owned by the closure (any prefix form) are gone; probe_a's stays
    assert(b.pinned.toMap == Map((kA, "order_id") -> "probe_a"))
    // pin-dropped columns are removed from the seeded schema; unpinned
    // knowledge and untouched keys stay
    assert(b.schemas(kB).fieldNames.toSet == Set("unpinned_extra"))
    assert(b.schemas(kA).fieldNames.toSet == Set("order_id")) // amount pin dropped
    // tombstone provenance: probe_b's dropped, probe_a's sticks
    assert(b.tombstones == Set((kA, "old_col")))
    // overlays: node-scoped — probe_b's set gone, probe_d's kept
    assert(b.overlays.keySet.map(_._1) == Set("probe_d"))
    assert(b.rawCatalogKeys == Set(kA))

    // LOCALITY RULE: when kB is also read by a node OUTSIDE the closure,
    // its pins/tombstones are shared war-resolution state and survive the
    // owner-based invalidation (only overlays — node-scoped — still drop)
    val shared = new CorpusExecute.Synth(spark)
    val rShared = CorpusExecute.loadCacheIncremental(shared, p,
      hashes + ("probe_b" -> "h2x"), "env1",
      changed => changed.flatMap(c =>
        if (c == "probe_b") Set("probe_b", "probe_c") else Set(c)),
      outsideReaders = _ => Set(kB))
    assert(rShared.contains((Set("probe_b"), Set("probe_b", "probe_c"))))
    assert(shared.schemas(kB).fieldNames.toSet ==
      Set("user_id", "city", "unpinned_extra"), "shared-key schema must not narrow")
    assert(shared.pinned.contains((kB, "user_id")) && shared.pinned.contains((kB, "city")),
      "shared-key pins must survive")
    assert(shared.tombstones.contains((kB, "dropped_col")),
      "shared-key tombstones must survive")
    assert(!shared.pinned.contains((kA, "amount")),
      "exclusive-key pin of a closure owner still drops")
    assert(shared.overlays.keySet.map(_._1) == Set("probe_d"),
      "closure overlays drop regardless of key sharing")

    // legacy cache (no node hashes): unusable -> cold
    val legacy = Paths.get(graft.runtime.TempDirs.create("graft_inc_legacy").toString,
      "synth.parquet")
    CorpusExecute.saveCache(a, legacy)
    assert(load(hashes, "env1")._2.nonEmpty) // sanity: new cache still loads
    val c = new CorpusExecute.Synth(spark)
    assert(CorpusExecute.loadCacheIncremental(c, legacy, hashes, "env1", identity).isEmpty)
  }

  test("cache key separates locations") {
    val dirs = Seq(Paths.get("/tmp/corpA"))
    val vars = Map("run_ts" -> "2025-10-01 00:00:00")
    assert(CorpusExecute.stableCacheKey(Seq(Paths.get("/tmp/corpB")), vars) !=
      CorpusExecute.stableCacheKey(dirs, vars), "locations must get distinct cache files")
    // and the key is CONTENT-independent: that is what makes the
    // incremental warm start possible (content diffs happen inside, per-node)
    assert(CorpusExecute.stableCacheKey(dirs, vars) == CorpusExecute.stableCacheKey(dirs, vars))
  }

  test("preSeed records pin provenance WITHOUT touching the pin value") {
    // the ambiguity tie-break reads pinned VALUES ("own claims" =
    // pinned == the warring node): if preSeed wrote currentNode there, a
    // node's own unqualified plants would win every war it later enters —
    // the regression that flipped production_sales_stream_metrics's
    // order_id keep and broke its negotiation. Provenance for the warm
    // start lives in pinOwner instead.
    val synth = new CorpusExecute.Synth(spark)
    val key = ("probe_db", "probe_tbl")
    synth.currentNode = "some_model"
    CorpusExecute.preSeed(
      "SELECT t.amount FROM probe_db.probe_tbl AS t", Map("t" -> key), synth)
    assert(synth.pinned.get((key, "amount")).contains(""),
      "preSeed pin VALUE must stay empty (tie-break semantics)")
    assert(synth.pinOwner.get((key, "amount")).contains("some_model"),
      "preSeed must record the planting node in pinOwner")
  }

  // ---- end-to-end: edit one mid-DAG model, rerun ---------------------------

  private def writeCorpus(dir: Path, bReads: String): Unit = {
    val models = dir.resolve("models"); Files.createDirectories(models)
    Seq("macros", "seeds", "snapshots").foreach(d => Files.createDirectories(dir.resolve(d)))
    Files.writeString(models.resolve("probe_a.sql"),
      """{{ config(schema='probe', materialized='table', file_format='parquet') }}
        |SELECT a.order_id, a.amount FROM {{ source('inc_db', 'raw_a') }} AS a
        |""".stripMargin)
    Files.writeString(models.resolve("probe_b.sql"),
      s"""{{ config(schema='probe', materialized='table', file_format='parquet') }}
         |SELECT b.user_id, $bReads, t.amount
         |FROM {{ source('inc_db', 'raw_b') }} AS b
         |JOIN {{ ref('probe_a') }} AS t ON b.user_id = t.order_id
         |""".stripMargin)
    Files.writeString(models.resolve("probe_c.sql"),
      """{{ config(schema='probe', materialized='table', file_format='parquet') }}
        |SELECT user_id FROM {{ ref('probe_b') }}
        |""".stripMargin)
    Files.writeString(models.resolve("probe_d.sql"),
      """{{ config(schema='probe', materialized='table', file_format='parquet') }}
        |SELECT d.k1, d.k2 FROM {{ source('inc_db', 'raw_d') }} AS d
        |""".stripMargin)
  }

  test("END-TO-END changed-only loop: one-model edit converges like cold " +
    "with the stale pinned column invalidated") {
    val corpus = Paths.get(graft.runtime.TempDirs.create("graft_inc_e2e").toString)
    val cache = corpus.resolve("cache/synth.parquet")
    def go(c: Path): CorpusExecute.Report = CorpusExecute.run(spark,
      corpus.resolve("models"), corpus.resolve("macros"),
      corpus.resolve("snapshots"), corpus.resolve("seeds"),
      cacheOverride = Some(c))
    def rawB(r: CorpusExecute.Report): Set[String] =
      r.sourceCatalog(("inc_db", "raw_b")).fieldNames.map(_.toLowerCase).toSet

    writeCorpus(corpus, "b.city")
    val cold = go(cache)
    assert(cold.executed.map(_.name).toSet ==
      Set("probe_a", "probe_b", "probe_c", "probe_d"), cold.describe)
    assert(rawB(cold).contains("city"))

    // the changed-only edit: probe_b now reads region, not city
    writeCorpus(corpus, "b.region")
    val inc = go(cache)
    assert(inc.executed.map(_.name).toSet ==
      Set("probe_a", "probe_b", "probe_c", "probe_d"), inc.describe)
    // a from-scratch cold run of the EDITED corpus is the equivalence bar
    val coldEdited = go(corpus.resolve("cache2/synth.parquet"))
    assert(rawB(inc) == rawB(coldEdited),
      s"incremental ${rawB(inc)} != cold ${rawB(coldEdited)}")
    assert(rawB(inc).contains("region") && !rawB(inc).contains("city"),
      s"stale pinned column survived the edit: ${rawB(inc)}")
    // untouched subtree keeps its warm seed: probe_d/probe_a state intact
    assert(inc.sourceCatalog(("inc_db", "raw_d")).fieldNames.map(_.toLowerCase).toSet ==
      coldEdited.sourceCatalog(("inc_db", "raw_d")).fieldNames.map(_.toLowerCase).toSet)
    // and the head start must not cost MORE negotiation than cold
    def iters(r: CorpusExecute.Report) = r.items.map(_.iterations).sum
    assert(iters(inc) <= iters(coldEdited),
      s"incremental iterations ${iters(inc)} > cold ${iters(coldEdited)}")
  }
}
