package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.plans.TxLog
import graft.plans.TxLog.{AddFile, Meta, Remove, Snapshot}
import graft.runtime.{OnSchemaChange, TempDirs, Warehouse}

/** The transaction-log table format: commit atomicity (version claims),
  * snapshot isolation via tombstones + vacuum retention, time travel,
  * checkpoint-bounded replay, dynamic-partition overwrite semantics, and
  * manifest-driven partition pruning. */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable() =
    Paths.get(graft.runtime.TempDirs.create("graft_txlog_spec")).resolve("t")

  private def df(rows: (Int, String, Double)*) =
    rows.toSeq.toDF("id", "part", "value")

  test("overwrite/append/overwritePartitions replay to the expected live set") {
    val t = freshTable()
    TxLog.overwrite(t, df((1, "a", 1.0), (2, "b", 2.0)), Seq("part"))
    TxLog.append(t, df((3, "a", 3.0)))
    // replace partition b only; a untouched
    TxLog.overwritePartitions(t, df((9, "b", 9.0)), Seq("part"))
    val live = TxLog.read(spark, t).select($"id", $"part", $"value")
      .as[(Int, String, Double)].collect().toSet
    assert(live == Set((1, "a", 1.0), (3, "a", 3.0), (9, "b", 9.0)))
    // a partition absent from the incoming frame is never touched
    TxLog.overwritePartitions(t, df((7, "c", 7.0)), Seq("part"))
    val live2 = TxLog.read(spark, t).select($"id").as[Int].collect().toSet
    assert(live2 == Set(1, 3, 9, 7))
  }

  test("time travel: every historical version stays readable until vacuumed") {
    val t = freshTable()
    TxLog.overwrite(t, df((1, "a", 1.0)), Seq("part"))          // v0
    TxLog.append(t, df((2, "b", 2.0)))                          // v1
    TxLog.overwrite(t, df((5, "c", 5.0)), Seq("part"))          // v2
    assert(TxLog.read(spark, t, asOf = 0L).count() == 1)
    assert(TxLog.read(spark, t, asOf = 1L).count() == 2)
    assert(TxLog.read(spark, t).count() == 1)
    assert(TxLog.snapshot(t).version == 2L)
    assert(TxLog.history(t).map(_._1) == Seq(0L, 1L, 2L))
  }

  test("version claim is create-new: committing onto an ALREADY-CLAIMED version " +
       "throws TxConflict and never clobbers the winner's commit") {
    val t = freshTable()
    TxLog.overwrite(t, df((1, "a", 1.0)), Seq("part")) // v0
    // the winner claimed v1 with real content
    val v1 = t.resolve("_txlog").resolve(f"${1L}%020d.json")
    Files.createDirectories(t.resolve("_txlog"))
    val winnerContent = """{"meta":{"partitionCols":["part"]}}"""
    Files.writeString(v1, winnerContent)
    // a loser that snapshotted at v0 now tries to claim the SAME v1 —
    // this is the rename(2)-replaces trap: the claim must FAIL, and the
    // winner's bytes must be untouched
    val ex = intercept[TxLog.TxConflict] {
      TxLog.replaceFiles(t, readVersion = 0L, Nil, df((99, "z", 9.9)), Seq("part"))
    }
    assert(ex.getMessage.contains("version 1"))
    assert(Files.readString(v1) == winnerContent,
      "the race loser silently destroyed the winner's commit")
    // the retrying public path re-reads v1 and lands v2
    TxLog.append(t, df((2, "a", 2.0)))
    assert(TxLog.snapshot(t).version == 2L)
    assert(TxLog.read(spark, t).count() == 2)
  }

  test("two writers racing from the same read version: exactly one lands v1, " +
       "the loser retries to v2, BOTH action sets survive in history") {
    val t = freshTable()
    TxLog.overwrite(t, df((1, "a", 1.0)), Seq("part")) // v0
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
    def writer(name: String, id: Int): Thread = new Thread(() => {
      try {
        barrier.await() // both snapshot v0 and race for v1 together
        // replaceFiles commits at readVersion+1 with NO internal retry —
        // the raw optimistic-concurrency primitive
        val v = TxLog.replaceFiles(t, readVersion = 0L, Nil,
          df((id, "a", id.toDouble)), Seq("part"))
        results.put(name, Right(v))
      } catch { case e: Throwable => results.put(name, Left(e)) }
    })
    val (w1, w2) = (writer("w1", 10), writer("w2", 20))
    w1.start(); w2.start(); w1.join(120000); w2.join(120000)
    assert(results.size == 2, s"both writers must finish: $results")
    val wins = results.values.asScala.collect { case Right(v) => v }.toSeq
    val losses = results.values.asScala.collect { case Left(e) => e }.toSeq
    assert(wins == Seq(1L), s"exactly one writer must land v1: $results")
    assert(losses.size == 1 && losses.head.isInstanceOf[TxLog.TxConflict],
      s"the other must get TxConflict, not silent success: $results")
    // the loser retries from the NEW snapshot and lands v2 — and the
    // winner's v1 actions are still in history (nothing was clobbered)
    val loserId = results.asScala.collect { case (n, Left(_)) => n }.head
    val loserRow = if (loserId == "w1") 10 else 20
    TxLog.append(t, df((loserRow + 1, "a", 0.0)))
    val hist = TxLog.history(t)
    assert(hist.map(_._1) == Seq(0L, 1L, 2L), s"v0,v1,v2 must all survive: $hist")
    assert(hist.forall { case (_, adds, _) => adds >= 1 },
      s"every commit's add actions must survive: $hist")
    val ids = TxLog.read(spark, t).select($"id").as[Int].collect().toSet
    assert(ids.contains(if (loserId == "w1") 20 else 10),
      "the RACE WINNER's rows must be live — a lost update here means the " +
      "claim primitive silently replaced the winner's commit file")
  }

  test("tombstoned files survive for older-snapshot readers until vacuum") {
    val t = freshTable()
    TxLog.overwrite(t, df((1, "a", 1.0)), Seq("part"))
    val v0Files = TxLog.snapshot(t).files.map(f => t.resolve(f.path))
    TxLog.overwrite(t, df((2, "b", 2.0)), Seq("part")) // tombstones v0's files
    assert(v0Files.forall(Files.exists(_)), "tombstoned bytes must remain until vacuum")
    assert(TxLog.read(spark, t, asOf = 0L).select($"id").as[Int].head() == 1)
    // retention window still open: nothing reclaimed
    assert(TxLog.vacuum(t, retentionMs = 60 * 60 * 1000L) == 0)
    assert(v0Files.forall(Files.exists(_)))
    // retention elapsed: tombstones reclaimed, live files untouched
    assert(TxLog.vacuum(t, retentionMs = -1L) == v0Files.size)
    assert(v0Files.forall(!Files.exists(_)))
    assert(TxLog.read(spark, t).select($"id").as[Int].head() == 2)
  }

  test("orphans from a crashed writer are reclaimed by vacuum, never made live") {
    val t = freshTable()
    TxLog.overwrite(t, df((1, "a", 1.0)), Seq("part"))
    // a crashed writer left a staged-but-never-committed file in data/
    val orphan = t.resolve("data").resolve("deadbeef-orphan.parquet")
    Files.writeString(orphan, "not really parquet")
    assert(TxLog.read(spark, t).count() == 1, "orphan must not be visible to readers")
    // a FRESH unreferenced data/ file may be a live writer's staged-but-not-
    // yet-committed output (stage() lands files before commit references
    // them) — even zero retention must not reclaim it inside the floor
    assert(TxLog.vacuum(t, retentionMs = -1L) == 0,
      "fresh staged file must survive the in-flight floor")
    assert(Files.exists(orphan))
    Files.setLastModifiedTime(orphan, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 16L * 60 * 1000))
    assert(TxLog.vacuum(t, retentionMs = -1L) == 1)
    assert(!Files.exists(orphan))
  }

  test("crash between staging and claim: next reader/writer sees a clean v-1 " +
       "snapshot and vacuum reclaims every stranded artifact class") {
    val t = freshTable()
    TxLog.overwrite(t, df((1, "a", 1.0)), Seq("part")) // v0
    // a writer died AFTER serializing its commit tmp and staging data files
    // but BEFORE the createLink claim — kill -9 skips every `finally`.
    // Strand all three artifact classes the protocols can leave:
    val logTmp = t.resolve("_txlog").resolve(f"${1L}%020d.json.dead0000.tmp")
    Files.writeString(logTmp, """{"add":{"path":"data/dead.parquet","pv":{},"rows":1}}""")
    val dataOrphan = t.resolve("data").resolve("dead0000-part=a-orphan.parquet")
    Files.writeString(dataOrphan, "stranded staged bytes")
    val stagingDir = t.resolve("_staging_dead0000")
    Files.createDirectories(stagingDir)
    Files.writeString(stagingDir.resolve("part-00000.parquet"), "mid-stage bytes")
    // age the in-flight artifacts past vacuum's 15-minute reclamation floor
    // (unreferenced data/ files, tmps and staging dirs are only reclaimed
    // once they cannot belong to a LIVE stage→claim window; a freshly-dead
    // writer's artifacts must survive)
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 16L * 60 * 1000)
    Seq(logTmp, dataOrphan, stagingDir).foreach(Files.setLastModifiedTime(_, aged))
    // readers: the unclaimed commit is invisible — snapshot is still v0 and
    // the stranded add-action never becomes live
    assert(TxLog.snapshot(t).version == 0L)
    assert(TxLog.read(spark, t).select($"id").as[Int].collect().toSeq == Seq(1))
    // the next writer claims v1 normally (the tmp does not block the claim)
    TxLog.append(t, df((2, "a", 2.0)))
    assert(TxLog.snapshot(t).version == 1L)
    assert(TxLog.read(spark, t).count() == 2)
    // retention window open: nothing reclaimed yet
    assert(TxLog.vacuum(t, retentionMs = 60 * 60 * 1000L) == 0)
    assert(Files.exists(logTmp) && Files.exists(dataOrphan) && Files.exists(stagingDir))
    // retention elapsed: all three stranded artifacts reclaimed, table intact
    assert(TxLog.vacuum(t, retentionMs = -1L) == 3)
    assert(!Files.exists(logTmp) && !Files.exists(dataOrphan) && !Files.exists(stagingDir))
    assert(TxLog.read(spark, t).count() == 2)
  }

  test("crash during checkpoint: the orphan checkpoint tmp never corrupts " +
       "snapshot resolution and the next interval checkpoints cleanly") {
    val t = freshTable()
    TxLog.overwrite(t, df((0, "a", 0.0)), Seq("part")) // v0
    for (i <- 1 to 5) TxLog.append(t, df((i, "a", i.toDouble))) // v1..v5
    // a writer died mid-checkpoint: the tmp exists, the real checkpoint
    // file was never moved into place — and the tmp holds GARBAGE (a crash
    // can truncate mid-write)
    val cpTmp = t.resolve("_txlog").resolve(f"${5L}%020d.checkpoint.json.tmp")
    Files.writeString(cpTmp, """{"add":{"path":"data/ga""")
    assert(TxLog.snapshot(t).version == 5L)
    assert(TxLog.read(spark, t).count() == 6, "resolution must ignore the tmp")
    // commits continue; v10 writes the regular interval checkpoint
    for (i <- 6 to 10) TxLog.append(t, df((i, "a", i.toDouble)))
    assert(Files.exists(t.resolve("_txlog").resolve(f"${10L}%020d.checkpoint.json")))
    assert(TxLog.read(spark, t).count() == 11)
    // age the tmp past the in-flight reclamation floor (see vacuum scaladoc)
    Files.setLastModifiedTime(cpTmp, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 16L * 60 * 1000))
    assert(TxLog.vacuum(t, retentionMs = -1L) >= 1)
    assert(!Files.exists(cpTmp))
    assert(TxLog.read(spark, t).count() == 11)
  }

  test("retryingCommit under 4-writer contention: every writer lands a distinct " +
       "version and all rows survive") {
    val t = freshTable()
    TxLog.overwrite(t, df((0, "a", 0.0)), Seq("part")) // v0
    val n = 4
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, Long]]()
    val threads = (1 to n).map { id =>
      new Thread(() => {
        try {
          barrier.await()
          // append goes through retryingCommit: conflicts re-snapshot and
          // re-stage until the claim lands
          results.put(id, Right(TxLog.append(t, df((id, "a", id.toDouble)))))
        } catch { case e: Throwable => results.put(id, Left(e)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    assert(results.size == n, s"all writers must finish: $results")
    val versions = (1 to n).map(id => results.get(id) match {
      case Right(v) => v
      case Left(e) => fail(s"writer $id failed: $e")
    })
    assert(versions.sorted == (1L to n.toLong),
      s"writers must land the $n consecutive versions exactly once each: $versions")
    assert(TxLog.read(spark, t).select($"id").as[Int].collect().toSet == (0 to n).toSet,
      "every contended append's rows must be live")
    // losers' abandoned re-stage files are unreferenced; vacuum may reclaim
    // them but must never touch the live set
    TxLog.vacuum(t, retentionMs = -1L)
    assert(TxLog.read(spark, t).select($"id").as[Int].collect().toSet == (0 to n).toSet)
  }

  test("checkpoint bounds replay and yields the identical snapshot") {
    val t = freshTable()
    TxLog.overwrite(t, df((0, "a", 0.0)), Seq("part"))
    for (i <- 1 to 12) TxLog.append(t, df((i, "a", i.toDouble)))
    val cps = Files.list(t.resolve("_txlog")).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (cps.hasNext) names += cps.next().getFileName.toString
    assert(names.exists(_.endsWith(".checkpoint.json")), "expected a checkpoint at v10")
    // snapshot resolved through the checkpoint equals the full live set
    assert(TxLog.read(spark, t).count() == 13)
    assert(TxLog.snapshot(t).files.size == TxLog.snapshot(t, 12L).files.size)
  }

  test("compaction coalesces the live set, preserves rows and old snapshots") {
    val t = freshTable()
    TxLog.overwrite(t, df((0, "a", 0.0)), Seq("part"))
    for (i <- 1 to 8) TxLog.append(t, df((i, "a", i.toDouble)))
    val before = TxLog.snapshot(t)
    assert(before.files.size >= 9, s"appends should accumulate files: ${before.files.size}")
    val v = TxLog.compact(spark, t, targetFiles = 1)
    val after = TxLog.snapshot(t)
    assert(after.files.size < before.files.size,
      s"compaction must shrink the file count: ${before.files.size} -> ${after.files.size}")
    assert(TxLog.read(spark, t).select($"id").as[Int].collect().toSet == (0 to 8).toSet)
    // pre-compaction snapshot still readable (tombstones, not deletes)
    assert(TxLog.read(spark, t, asOf = v - 1).count() == 9)
  }

  test("manifest partition pruning reads only the requested partition's files") {
    val t = freshTable()
    TxLog.overwrite(t, df((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)), Seq("part"))
    val snap = TxLog.snapshot(t)
    val inB = snap.files.count(_.partitionValues.get("part").contains("b"))
    assert(inB > 0 && inB < snap.files.size, "partitioned write must produce per-partition files")
    val rows = TxLog.read(spark, t).filter($"part" === "b")
    assert(rows.select($"id").as[Int].collect().toSeq == Seq(2))
    assert(filesScanned(rows) == inB)
  }

  test("a NULL partition value reads back as NULL") {
    val t = freshTable()
    TxLog.overwrite(t, Seq((1, Some("a")), (2, None)).toDF("id", "part"), Seq("part"))
    val rows = TxLog.read(spark, t).select($"id", $"part").as[(Int, Option[String])]
    assert(rows.collect().sorted.toSeq == Seq((1, Some("a")), (2, None)))
  }

  test("a read without a schema takes it from one footer: no Spark job on a 40-file snapshot") {
    val t = freshTable()
    TxLog.overwrite(t, spark.range(0, 400)
      .selectExpr("id", "CAST(id AS STRING) AS s", "id * 0.5 AS d").repartition(40))
    val files = TxLog.snapshot(t).files.map(f => TxLog.filePath(t, f).toString)
    assert(files.size == 40)
    var first: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { first = TxLog.read(spark, t) } == 0)
    assert(jobsStartedBy { TxLog.read(spark, t) } == 0)
    assert(first.schema == spark.read.parquet(files: _*).schema)
    assert(first.count() == 400)
  }

  test("a log table with `}`, `]`, `{}` and quote/backslash partition values " +
       "survives insert_overwrite, append and keyed merges, and reads back exactly") {
    val wh = new Warehouse(spark, TempDirs.create("graft_txlog_codec"), logFormatEnabled = true)
    wh.routeFormat("t", "delta")
    def rows(xs: (Int, String, String)*) = xs.toDF("id", "v", "p")
    wh.createTable("t", rows((0, "v0", "a}b"), (1, "v0", "x]y"), (2, "v0", "{}"),
      (3, "v0", "q\"r\\s")), Seq("p"))
    wh.insertOverwritePartitions("t", rows((10, "io", "a}b")), Seq("p"), OnSchemaChange.Ignore)
    wh.append("t", rows((11, "ap", "{}")), Seq("p"))
    wh.mergeUpsert("t", rows((3, "mg", "q\"r\\s"), (12, "mg", "x]y")), Seq("id"), Seq("p"))
    // pruned to the increment's partitions: matched only if the increment's
    // partition values are keyed as the manifest keys them
    wh.mergeUpsert("t", rows((2, "m2", "{}")), Seq("id"), Seq("p"), incrementPartitionsOnly = true)
    assert(TxLog.snapshot(Paths.get(wh.tablePath("t"))).version == 4L)
    assert(wh.read("t").select($"id", $"v", $"p").as[(Int, String, String)].collect().toSet ==
      Set((10, "io", "a}b"), (1, "v0", "x]y"), (2, "m2", "{}"), (3, "mg", "q\"r\\s"),
        (11, "ap", "{}"), (12, "mg", "x]y")))
  }

  test("a log table partitioned on a column whose name Spark escapes reads its values back") {
    val wh = new Warehouse(spark, TempDirs.create("graft_txlog_pq"), logFormatEnabled = true)
    wh.routeFormat("t", "delta")
    wh.createTable("t", Seq((1, "a", "x"), (2, "b", "y")).toDF("id", "p:q", "v"), Seq("p:q"))
    wh.mergeUpsert("t", Seq((2, "b", "z")).toDF("id", "p:q", "v"), Seq("id"), Seq("p:q"),
      incrementPartitionsOnly = true)
    assert(wh.read("t").select($"id", $"p:q", $"v").as[(Int, String, String)].collect().toSet ==
      Set((1, "a", "x"), (2, "b", "z")))
  }

  // Lines as earlier releases wrote them: `"`, `\` and newline escaped as
  // `\"`, `\\` and `\n`, every other control character as lowercase `\u00xx`.
  private val legacyMeta = """{"meta":{"partitionCols":["p","q"]}}"""
  private val legacyAdd1 = """{"add":{"path":"data/f1.parquet","pv":{"p":"a","q":"%7B}"},"rows":-1}}"""
  private val legacyAdd2 = """{"add":{"path":"data/f \"2\".parquet","pv":{"p":"x\\y","q":"l1\nl2""" +
    "\\u0009\\u0001" + """"},"rows":7}}"""
  private val legacyRemove = """{"remove":{"path":"data/f1.parquet","ts":1700000000000}}"""
  private val legacyAdd3 = """{"add":{"path":"data/f3.parquet","pv":{},"rows":-1}}"""

  test("commit and checkpoint lines in the earlier format decode to the same snapshot") {
    val f2 = AddFile("data/f \"2\".parquet", Map("p" -> "x\\y", "q" -> "l1\nl2\t\u0001"), 7L)
    val f3 = AddFile("data/f3.parquet", Map.empty, -1L)
    val expected = Snapshot(1L, Seq(f2, f3), Seq("p", "q"))
    def table(commit0: Seq[String], commit1: Seq[String], checkpoint1: Seq[String]) = {
      val t = freshTable()
      val log = Files.createDirectories(t.resolve("_txlog"))
      Files.writeString(log.resolve(f"${0L}%020d.json"), commit0.mkString("\n"))
      Files.writeString(log.resolve(f"${1L}%020d.json"), commit1.mkString("\n"))
      if (checkpoint1.nonEmpty)
        Files.writeString(log.resolve(f"${1L}%020d.checkpoint.json"), checkpoint1.mkString("\n"))
      t
    }
    val replayed = table(Seq(legacyMeta, legacyAdd1, legacyAdd2),
      Seq(legacyMeta, legacyRemove, legacyAdd3), Nil)
    assert(TxLog.snapshot(replayed) == expected)
    assert(TxLog.history(replayed) == Seq((0L, 2, 0), (1L, 1, 1)))
    // the commits hold no file: the snapshot can only come from the checkpoint
    val checkpointed = table(Seq(legacyMeta), Seq(legacyMeta),
      Seq(legacyMeta, legacyAdd2, legacyAdd3))
    assert(TxLog.snapshot(checkpointed) == expected)
  }

  test("actions without control characters encode to the earlier format's exact bytes") {
    for (line <- Seq(legacyMeta, legacyAdd1, legacyRemove, legacyAdd3))
      assert(TxLog.encode(TxLog.decode(line)) == line)
    assert(TxLog.encode(AddFile("data/f \"2\".parquet", Map("q" -> "b", "p" -> "x\\y"), 7L)) ==
      """{"add":{"path":"data/f \"2\".parquet","pv":{"p":"x\\y","q":"b"},"rows":7}}""")
    assert(TxLog.encode(Remove("data/f1.parquet", 1700000000000L)) == legacyRemove)
    assert(TxLog.encode(Meta(Nil)) == """{"meta":{"partitionCols":[]}}""")
    // a line the table writes itself, ordinary values only
    val t = freshTable()
    TxLog.overwrite(t, df((1, "a", 1.0)), Seq("part"))
    val f = TxLog.snapshot(t).files.head
    assert(Files.readString(t.resolve("_txlog").resolve(f"${0L}%020d.json")) ==
      s"""{"meta":{"partitionCols":["part"]}}
         |{"add":{"path":"${f.path}","pv":{"part":"a"},"rows":-1}}""".stripMargin)
  }

  test("a docs sidecar in the earlier format, with a raw newline, still reads") {
    val wh = new Warehouse(spark, TempDirs.create("graft_docs_legacy"))
    Files.createDirectories(Paths.get(wh.tablePath("t")))
    Files.writeString(Paths.get(wh.tablePath("t"), "_docs.json"),
      "{\"__table__\": \"two\nlines\",\"v\": \"a \\\"q\\\" and \\\\ back\"}")
    assert(wh.docs("t") == Map("__table__" -> "two\nlines", "v" -> "a \"q\" and \\ back"))
    wh.setDocs("t", "tab\there \u0001", Map("v" -> "a \"q\" and \\ back"))
    assert(wh.docs("t") == Map("__table__" -> "tab\there \u0001", "v" -> "a \"q\" and \\ back"))
  }
}
