package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.runtime._

class RuntimeSpec extends SparkSpec {
  import spark.implicits._

  private def m(name: String, deps: Seq[String] = Nil,
                mat: Materialization = Materialization.Table()) =
    Model(name, ctx => spark.range(3).toDF("id"), mat, deps)

  test("topo order respects deps; selectors and fillGaps work") {
    val models = Seq(
      m("a"), m("b", Seq("a")), m("c", Seq("a")), m("d", Seq("b", "c")), m("e"))
    val dag = new DagRunner(models)
    val order = dag.topoOrder(models.map(_.name).toSet).map(_.name)
    assert(order.indexOf("a") < order.indexOf("b"))
    assert(order.indexOf("b") < order.indexOf("d"))
    assert(order.indexOf("c") < order.indexOf("d"))
    assert(dag.select(Seq("+d")) == Set("a", "b", "c", "d"))
    assert(dag.select(Seq("a+")) == Set("a", "b", "c", "d"))
    // a and d selected -> fill the b/c gap nodes between them
    assert(dag.fillGaps(Set("a", "d")) == Set("a", "b", "c", "d"))
  }

  test("cycle detection") {
    val dag = new DagRunner(Seq(m("x", Seq("y")), m("y", Seq("x"))))
    intercept[IllegalArgumentException](dag.topoOrder(Set("x", "y")))
  }

  test("table + view materialization, ref resolution, failure skips downstream") {
    val ctx = freshCtx()
    val models = Seq(
      Model("base", c => c.source("any", "nation").select($"n_nationkey", $"n_name")),
      Model("v", c => c.ref("base").filter($"n_nationkey" < 10), Materialization.View,
        deps = Seq("base")),
      Model("top", c => c.ref("v").agg(count(lit(1)).as("n")), deps = Seq("v")),
      Model("boom", c => { throw new RuntimeException("kaboom") }, deps = Seq("base")),
      Model("after_boom", c => c.ref("boom"), deps = Seq("boom")))
    val res = new DagRunner(models).run(ctx).toMap
    assert(res("base").isInstanceOf[RunStatus.Success])
    assert(res("top").isInstanceOf[RunStatus.Success])
    assert(res("boom").isInstanceOf[RunStatus.Failed])
    assert(res("after_boom") == RunStatus.Skipped)
    assert(ctx.ref("top").as[Long].head() == 10L)
  }

  test("incremental insert_overwrite replaces only incoming partitions") {
    val ctx = freshCtx()
    val mat = Materialization.IncrementalInsertOverwrite(Seq("part_col"))
    val model = Model("inc", c => {
      if (!c.isIncremental)
        Seq(("p1", 1), ("p1", 2), ("p2", 10), ("p3", 100)).toDF("part_col", "v")
      else
        Seq(("p2", 99)).toDF("part_col", "v") // only p2 present in increment
    }, mat)
    val dag = new DagRunner(Seq(model))
    dag.run(ctx) // full
    dag.run(ctx) // incremental
    val out = ctx.ref("inc").groupBy($"part_col").agg(sum($"v").as("s"))
      .as[(String, Long)].collect().toMap
    assert(out == Map("p1" -> 3L, "p2" -> 99L, "p3" -> 100L))
  }

  test("insert_overwrite leaves the session's partitionOverwriteMode alone") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "spark.sql.sources.partitionOverwriteMode"
    val ctx = freshCtx()
    val wh = ctx.warehouse
    wh.createTable("io_conf", Seq(("p1", 1), ("p2", 2)).toDF("part_col", "v"), Seq("part_col"))
    val before = spark.conf.getOption(key)
    // SQL jobs carry the session's SQL conf as job properties, so a write
    // that flips the session conf shows it on its own jobs
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      wh.insertOverwritePartitions("io_conf", Seq(("p2", 20)).toDF("part_col", "v"),
        Seq("part_col"), OnSchemaChange.Ignore)
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.conf.getOption(key) == before)
    assert(!seen.contains("dynamic"), s"write jobs saw $key=$seen")
    // still dynamic: only the incoming partition was replaced
    assert(wh.read("io_conf").select($"part_col", $"v").as[(String, Int)].collect().toMap ==
      Map("p1" -> 1, "p2" -> 20))
    // a plain static overwrite elsewhere still replaces the whole directory
    val dir = runtime.TempDirs.create("graft_static_ow")
    Seq(("p1", 1), ("p2", 2)).toDF("part_col", "v")
      .write.mode("overwrite").partitionBy("part_col").parquet(dir)
    Seq(("p3", 3)).toDF("part_col", "v")
      .write.mode("overwrite").partitionBy("part_col").parquet(dir)
    assert(spark.read.parquet(dir).select($"part_col", $"v").as[(String, Int)].collect().toSeq ==
      Seq(("p3", 3)))
  }

  test("on_schema_change: append_new_columns and ignore") {
    val ctx = freshCtx()
    // ignore: new column in increment is dropped
    val ignoreModel = Model("inc_ignore", c =>
      if (!c.isIncremental) Seq(("p1", 1)).toDF("part_col", "v")
      else Seq(("p2", 2, "x")).toDF("part_col", "v", "extra"),
      Materialization.IncrementalInsertOverwrite(Seq("part_col")))
    val dag1 = new DagRunner(Seq(ignoreModel))
    dag1.run(ctx); dag1.run(ctx)
    assert(ctx.ref("inc_ignore").columns.toSet == Set("part_col", "v"))

    // append_new_columns: old rows null-filled, new column visible
    val appendModel = Model("inc_append", c =>
      if (!c.isIncremental) Seq(("p1", 1)).toDF("part_col", "v")
      else Seq(("p2", 2, "x")).toDF("part_col", "v", "extra"),
      Materialization.IncrementalInsertOverwrite(Seq("part_col"),
        OnSchemaChange.AppendNewColumns))
    val dag2 = new DagRunner(Seq(appendModel))
    dag2.run(ctx); dag2.run(ctx)
    val rows = ctx.ref("inc_append").orderBy($"part_col")
      .select($"part_col", $"v", $"extra").as[(String, Int, Option[String])]
      .collect().toSeq
    assert(rows == Seq(("p1", 1, None), ("p2", 2, Some("x"))))
  }

  test("incremental merge: hive path escaping round-trips hostile partition values") {
    // the survivors side reads affected partitions DIRECTLY by directory
    // (Warehouse.readPartitionDirs), so partition values containing spaces,
    // colons, slashes, unicode, '=' and NULL must escape to exactly the dir
    // names Spark writes — a mismatch silently drops survivors
    val ctx = freshCtx()
    // no unicode value here: this container's JVM runs an ASCII
    // sun.jnu.encoding, so Spark's OWN parquet write fails on non-ASCII
    // partition paths before our read is ever involved
    val hostile = Seq("plain", "with space", "a:b", "a/b", "k=v", "100%", null)
    val mat = Materialization.IncrementalMerge(Seq("id"), Seq("part_col"))
    var incremental = false
    val model = Model("mrg_esc", c => {
      val base = hostile.zipWithIndex.map { case (p, i) => (i.toLong, p, 1) } ++
        hostile.zipWithIndex.map { case (p, i) => (100L + i, p, 1) }
      val rows = if (!incremental) base
                 else hostile.zipWithIndex.map { case (p, i) => (i.toLong, p, 2) }
      rows.toDF("id", "part_col", "v")
    }, mat)
    val dag = new DagRunner(Seq(model))
    dag.run(ctx)
    incremental = true
    dag.run(ctx) // updates id<100 in every hostile partition; 100+ must survive
    val out = ctx.ref("mrg_esc").as[(Long, Option[String], Int)].collect().toSet
    val expected = hostile.zipWithIndex.flatMap { case (p, i) =>
      Seq((i.toLong, Option(p), 2), (100L + i, Option(p), 1)) }.toSet
    assert(out == expected, out.toSeq.sortBy(_._1).mkString("\n"))
  }

  test("incremental merge: timestamp partition values round-trip (no survivor loss)") {
    // java.sql.Timestamp.toString renders "2024-01-05 10:30:00.0" while
    // Spark's partition writer renders "2024-01-05 10:30:00" (cast-to-string
    // semantics) — partitionDir must use the writer's encoding or the
    // survivors read misses every timestamp partition silently
    val ctx = freshCtx()
    import java.sql.Timestamp
    val t1 = Timestamp.valueOf("2024-01-05 10:30:00")     // whole second: .0 trap
    val t2 = Timestamp.valueOf("2024-01-06 00:00:00")
    val t3 = Timestamp.valueOf("2024-01-07 08:15:00.123") // fractional seconds
    val mat = Materialization.IncrementalMerge(Seq("id"), Seq("ts"))
    var incremental = false
    val model = Model("mrg_ts", c => {
      if (!incremental)
        Seq((1L, t1, 10), (2L, t1, 20), (3L, t2, 30), (4L, t2, 40), (5L, t3, 50),
          (6L, t3, 60)).toDF("id", "ts", "v")
      else Seq((1L, t1, 11), (3L, t2, 33), (5L, t3, 55)).toDF("id", "ts", "v")
    }, mat)
    val dag = new DagRunner(Seq(model))
    dag.run(ctx)
    incremental = true
    dag.run(ctx) // updates one key per partition; the other key must survive
    val out = ctx.ref("mrg_ts").as[(Long, Timestamp, Int)].collect().toSet
    assert(out == Set((1L, t1, 11), (2L, t1, 20), (3L, t2, 33), (4L, t2, 40),
      (5L, t3, 55), (6L, t3, 60)), out.toSeq.sortBy(_._1).mkString("\n"))
  }

  test("incremental merge: missing matched partition dir fails loudly") {
    // sabotage the on-disk escaping (rename "a%3Ab" to raw "a:b"): Spark's
    // partition discovery still reads the value as a:b, but the computed
    // survivor directory no longer exists — the merge must throw, not
    // silently drop the partition's surviving rows
    val ctx = freshCtx()
    val wh = ctx.warehouse
    wh.createTable("mrg_loud",
      Seq((1L, "a:b", 10), (2L, "a:b", 20)).toDF("id", "part_col", "v"),
      partitionBy = Seq("part_col"))
    val tp = ctx.warehouse.tablePath("mrg_loud")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(tp, "part_col=a%3Ab"),
      java.nio.file.Paths.get(tp, "part_col=a:b"))
    val ex = intercept[IllegalStateException] {
      wh.mergeUpsert("mrg_loud", Seq((1L, "a:b", 11)).toDF("id", "part_col", "v"),
        Seq("id"), Seq("part_col"))
    }
    assert(ex.getMessage.contains("partition"))
  }

  test("incremental merge: partition-column type drift (int vs long) neither dups survivors nor drops partitions") {
    // Row equality has no set-op coercion: before normalization, an increment
    // whose partition column arrives as long against an int-canonical table
    // made (incParts ++ matched).distinct keep both Row(5) and Row(5L) —
    // duplicating the survivor read — and the outParts.contains cleanup saw
    // the just-written partition as dropped and deleted its directory
    val ctx = freshCtx()
    val wh = ctx.warehouse
    wh.createTable("mrg_drift",
      Seq((1L, 5, 10), (2L, 5, 20), (3L, 7, 30)).toDF("id", "p", "v"),
      partitionBy = Seq("p"))
    // AppendNewColumns is the policy whose alignSchema does NOT cast the
    // increment (Ignore casts to canonical, Sync adopts the drifted schema),
    // so it is the only route on which the drifted type reaches mergeSlice
    wh.mergeUpsert("mrg_drift",
      Seq((1L, 5L, 11)).toDF("id", "p", "v"), // p drifted to long
      Seq("id"), Seq("p"), OnSchemaChange.AppendNewColumns)
    val out = wh.read("mrg_drift").select($"id", $"p".cast("int"), $"v")
      .as[(Long, Int, Int)].collect().toSet
    assert(out == Set((1L, 5, 11), (2L, 5, 20), (3L, 7, 30)),
      out.toSeq.sortBy(_._1).mkString("\n"))
  }

  test("incremental merge: upsert by key, cross-partition move, pruned rewrite") {
    val ctx = freshCtx()
    val mat = Materialization.IncrementalMerge(Seq("id"), Seq("part_col"))
    var increment: Seq[(Long, String, Int)] = Nil
    val model = Model("mrg", c => {
      if (!c.isIncremental)
        Seq((1L, "p1", 10), (2L, "p1", 20), (3L, "p2", 30), (4L, "p3", 40))
          .toDF("id", "part_col", "v")
      else increment.toDF("id", "part_col", "v")
    }, mat)
    val dag = new DagRunner(Seq(model))
    dag.run(ctx)
    val p3Files = {
      val d = java.nio.file.Paths.get(ctx.warehouse.tablePath("mrg"), "part_col=p3")
      java.nio.file.Files.list(d).toArray.map(_.toString).toSet
    }
    // matched update (id=1 stays in p1), a key MOVING partition (id=3
    // p2->p1), and an insert landing in p2 (id=5) so p2 survives non-empty;
    // p3 is untouched and must keep its exact files
    increment = Seq((1L, "p1", 11), (3L, "p1", 33), (5L, "p2", 50))
    dag.run(ctx)
    val out = ctx.ref("mrg").as[(Long, String, Int)].collect().toSet
    assert(out == Set((1L, "p1", 11), (2L, "p1", 20), (3L, "p1", 33),
      (4L, "p3", 40), (5L, "p2", 50)))
    // untouched partition was not rewritten (same physical files)
    val p3After = {
      val d = java.nio.file.Paths.get(ctx.warehouse.tablePath("mrg"), "part_col=p3")
      java.nio.file.Files.list(d).toArray.map(_.toString).toSet
    }
    assert(p3After == p3Files, "untouched partition must not be rewritten")
    // a fully-vacated partition directory is dropped: id=5 (p2's only row) moves to p1
    increment = Seq((5L, "p1", 55))
    dag.run(ctx)
    val out2 = ctx.ref("mrg").as[(Long, String, Int)].collect().toSet
    assert(out2 == Set((1L, "p1", 11), (2L, "p1", 20), (3L, "p1", 33),
      (4L, "p3", 40), (5L, "p1", 55)))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ctx.warehouse.tablePath("mrg"), "part_col=p2")),
      "vacated partition dir must be deleted")
  }

  test("incremental merge: incrementPartitionsOnly skips out-of-partition matches") {
    val ctx = freshCtx()
    val mat = Materialization.IncrementalMerge(Seq("id"), Seq("part_col"),
      incrementPartitionsOnly = true)
    var increment: Seq[(Long, String, Int)] = Nil
    val model = Model("mrg_pruned", c => {
      if (!c.isIncremental)
        Seq((1L, "p1", 10), (2L, "p2", 20)).toDF("id", "part_col", "v")
      else increment.toDF("id", "part_col", "v")
    }, mat)
    val dag = new DagRunner(Seq(model))
    dag.run(ctx)
    // id=2's replacement arrives in p1: under the pruned contract p2 is out
    // of scope, so the p2 copy survives alongside (dbt incremental_predicates
    // semantics — the caller asserted keys don't move partitions)
    increment = Seq((1L, "p1", 11), (2L, "p1", 22))
    dag.run(ctx)
    val out = ctx.ref("mrg_pruned").as[(Long, String, Int)].collect().toSet
    assert(out == Set((1L, "p1", 11), (2L, "p1", 22), (2L, "p2", 20)))
  }

  test("incremental merge: unpartitioned upsert falls back to full replace") {
    val ctx = freshCtx()
    var inc = false
    val model = Model("mrg_flat", c => {
      if (!inc) Seq((1L, 10), (2L, 20)).toDF("id", "v")
      else Seq((2L, 22), (3L, 30)).toDF("id", "v")
    }, Materialization.IncrementalMerge(Seq("id")))
    val dag = new DagRunner(Seq(model))
    dag.run(ctx); inc = true; dag.run(ctx)
    assert(ctx.ref("mrg_flat").as[(Long, Int)].collect().toSet ==
      Set((1L, 10), (2L, 22), (3L, 30)))
  }

  test("incremental append appends rows") {
    val ctx = freshCtx()
    val model = Model("app", c =>
      if (!c.isIncremental) Seq(1).toDF("v") else Seq(2).toDF("v"),
      Materialization.IncrementalAppend())
    val dag = new DagRunner(Seq(model))
    dag.run(ctx); dag.run(ctx); dag.run(ctx)
    assert(ctx.ref("app").as[Int].collect().sorted.toSeq == Seq(1, 2, 2))
  }

  test("REAL: all 25 reference seed CSVs load through the seed loader") {
    import scala.jdk.CollectionConverters._
    val ctx = freshCtx()
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("/root/reference/seeds"))
    val csvs =
      try walk.iterator().asScala.filter(_.toString.endsWith(".csv")).toList.sortBy(_.toString)
      finally walk.close()
    assert(csvs.size == 25, s"found ${csvs.size}")
    for (p <- csvs) {
      val name = p.getFileName.toString.stripSuffix(".csv")
      val df = Seeds.load(ctx, name, p.toString)
      assert(df.columns.nonEmpty, name)
      assert(df.count() >= 1, s"$name is empty")
      assert(ctx.ref(name).columns.sameElements(df.columns), name)
    }
    // spot checks: typed inference + content from two seeds used by
    // executed models
    assert(ctx.ref("seed_points_groups_mapping")
      .filter($"points_type" === "cashback").select($"points_group")
      .as[String].head() == "Marketing")
    assert(ctx.ref("joom_pro_manual_orders").schema("gmv_initial").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType])
  }

  test("repo seed CSV files load with pinned schemas") {
    import org.apache.spark.sql.types._
    val ctx = freshCtx()
    Seeds.load(ctx, "regions_source", "/root/repo/seeds/regions_source.csv",
      Some(StructType(Seq(StructField("country_code", StringType),
        StructField("country_name", StringType), StructField("region_name", StringType),
        StructField("nation_name", StringType)))))
    Seeds.load(ctx, "slo_tables", "/root/repo/seeds/slo_tables.csv")
    assert(ctx.ref("regions_source").count() == 10)
    assert(ctx.ref("slo_tables").schema("slo_hour").dataType == IntegerType) // inferred
    assert(ctx.ref("regions_source").filter($"region_name" === "EUROPE").count() == 2)
  }

  test("seeds load typed CSV; singular tests fail on returned rows") {
    val ctx = freshCtx()
    Seeds.loadRows(ctx, "regions_seed",
      Seq("country_code", "region_name"),
      Seq(Seq("DE", "EU"), Seq("US", "NA"), Seq("FR", "EU")))
    assert(ctx.ref("regions_seed").count() == 3)

    val dupCheck = SingularTest("dup_check", c =>
      c.ref("regions_seed").groupBy($"region_name").agg(count(lit(1)).as("n"))
        .where($"n" > 1))
    val nullCheck = SingularTest("null_check", c =>
      c.ref("regions_seed").where($"country_code".isNull))
    val res = SingularTests.run(ctx, Seq(dupCheck, nullCheck)).map(r => r.name -> r.passed).toMap
    assert(res == Map("dup_check" -> false, "null_check" -> true))
  }

  test("generic tests: unique / not_null / accepted_values / relationships") {
    val ctx = freshCtx()
    Seeds.loadRows(ctx, "children",
      Seq("id", "parent_id", "status"),
      Seq(Seq("1", "10", "open"), Seq("2", "10", "closed"),
        Seq("2", "11", "open"), Seq("3", "", "weird"), Seq("4", "99", "open")))
    Seeds.loadRows(ctx, "parents",
      Seq("pid"), Seq(Seq("10"), Seq("11")))

    val res = SingularTests.run(ctx, Seq(
      GenericTests.unique("children", "id"),              // id=2 twice -> fail
      GenericTests.unique("children", "status"),          // open x3 -> fail
      GenericTests.notNull("children", "id"),             // pass
      GenericTests.notNull("children", "parent_id"),      // one null -> fail
      GenericTests.acceptedValues("children", "status",
        Seq("open", "closed")),                           // 'weird' -> fail
      GenericTests.relationships("children", "parent_id", "parents", "pid")
    )).map(r => r.name -> r.passed).toMap

    assert(res == Map(
      "children_id_unique" -> false,
      "children_status_unique" -> false,
      "children_id_not_null" -> true,
      "children_parent_id_not_null" -> false,
      "children_status_accepted_values" -> false,
      "children_parent_id_relationships_parents" -> false)) // 99 missing

    // widened value set passes; NULL parent_id passes relationships
    // (dbt semantics: pair with not_null), only 99 offends
    val pass = SingularTests.run(ctx, Seq(
      GenericTests.acceptedValues("children", "status", Seq("open", "closed", "weird"))))
    assert(pass.head.passed)
    val rel = SingularTests.run(ctx, Seq(
      GenericTests.relationships("children", "parent_id", "parents", "pid")))
    assert(rel.head.offendingRows == 1)
  }

  test("config block parses to materialization, tags, meta (dbt semantics)") {
    val sql =
      """{{ config(
        |    materialized='incremental',
        |    alias='orders_wide',
        |    file_format='delta',
        |    incremental_strategy='merge',
        |    unique_key='order_id',
        |    partition_by=['order_month', 'region'],
        |    on_schema_change='append_new_columns',
        |    tags=['gold', 'daily'],
        |    meta={'bigquery_load': 'true', 'priority_weight': 100}
        |  )
        |}}
        |SELECT 1 AS x""".stripMargin
    val m = SqlTemplater.sqlModelAuto("orders_wide_model", sql)
    assert(m.materialization == Materialization.IncrementalMerge(
      Seq("order_id"), Seq("order_month", "region"), OnSchemaChange.AppendNewColumns))
    assert(m.tags == Set("gold", "daily"))
    assert(m.meta == Map("bigquery_load" -> "true", "priority_weight" -> "100"))
    // dbt defaults: no config -> view; bare incremental -> merge strategy
    assert(SqlTemplater.sqlModelAuto("v", "SELECT 1").materialization == Materialization.View)
    assert(SqlTemplater.sqlModelAuto("i",
      "{{ config(materialized='incremental', unique_key='id') }}\nSELECT 1 AS id")
      .materialization == Materialization.IncrementalMerge(Seq("id")))
  }

  test("sql templater strips config blocks and jinja comments") {
    val ctx = freshCtx()
    val model = SqlTemplater.sqlModel("cfg_model",
      """{{ config(
        |    materialized='incremental',
        |    partition_by=['d'],
        |    meta={'bigquery_load': 'true'}
        |) }}
        |{# ported near-verbatim from the reference #}
        |SELECT n_nationkey, n_name FROM {{ source('default', 'nation') }}""".stripMargin)
    new DagRunner(Seq(model)).run(ctx)
    assert(ctx.ref("cfg_model").count() == 25)
  }

  test("two-level partitioning: incremental overwrite replaces one cell only") {
    // reference: partition_by=['table_name','partition_date'],
    // models/spark/mart/fact_table_update.sql:9
    val ctx = freshCtx()
    val model = Model("fact_update", c =>
      if (!c.isIncremental)
        Seq(("t1", "2024-01-01", 1L), ("t1", "2024-01-02", 2L),
            ("t2", "2024-01-01", 3L)).toDF("table_name", "part_date", "rows_loaded")
      else
        Seq(("t1", "2024-01-02", 99L)).toDF("table_name", "part_date", "rows_loaded"),
      Materialization.IncrementalInsertOverwrite(Seq("table_name", "part_date")))
    val dag = new DagRunner(Seq(model))
    dag.run(ctx); dag.run(ctx)
    val out = ctx.ref("fact_update")
      .select($"table_name", $"part_date", $"rows_loaded")
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("t1", "2024-01-01", 1L), ("t1", "2024-01-02", 99L),
      ("t2", "2024-01-01", 3L)))
  }

  test("docs sidecar round-trips") {
    val root = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val wh = new Warehouse(spark, root)
    val ctx = Ctx(spark, wh, SourceRegistry.overDir(spark, "/root/testdata/sf0.001"))
    new DagRunner(Seq(Model("t1", c => Seq(1).toDF("v")))).run(ctx)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/t1")))
    assert(ctx.ref("t1").count() == 1)
    wh.setDocs("t1", "a \"test\" table", Map("v" -> "the value"))
    assert(wh.docs("t1") == Map("__table__" -> "a \"test\" table", "v" -> "the value"))
  }

  test("sql templater: ref/source/var/is_incremental/this") {
    val ctx0 = freshCtx(vars = Map("min_key" -> "5"))
    val base = SqlTemplater.sqlModel("sql_base",
      "SELECT n_nationkey, n_name FROM {{ source('default', 'nation') }}")
    val incr = SqlTemplater.sqlModel("sql_incr",
      """SELECT n_nationkey, n_name FROM {{ ref('sql_base') }}
        |WHERE n_nationkey >= {{ var('min_key') }}
        |{% if is_incremental() %} AND n_nationkey < (SELECT MAX(n_nationkey) FROM {{ this }})
        |{% else %} AND n_nationkey <= 20 {% endif %}
        |""".stripMargin,
      Materialization.IncrementalInsertOverwrite(Seq("n_nationkey")))
    assert(incr.deps == Seq("sql_base"))
    val dag = new DagRunner(Seq(base, incr))
    val r1 = dag.run(ctx0).toMap
    assert(r1.values.forall(_.isInstanceOf[RunStatus.Success]), r1.toString)
    assert(ctx0.ref("sql_incr").agg(max($"n_nationkey")).as[Int].head() == 20) // else branch
    val full = ctx0.ref("sql_incr").count()
    val r2 = dag.run(ctx0).toMap // incremental: strictly-below-max filter
    assert(r2.values.forall(_.isInstanceOf[RunStatus.Success]), r2.toString)
    assert(ctx0.ref("sql_incr").count() == full) // partitions below max overwritten with same data
    assert(ctx0.ref("sql_incr").agg(min($"n_nationkey")).as[Int].head() == 5)
    // each mode renders exactly its own branch
    def branch(incremental: Boolean) = SqlTemplater.renderText("m",
      "{% if is_incremental() %}inc{% else %}full{% endif %}", Map.empty, Map.empty,
      _ => "", incremental).text.trim
    assert(branch(incremental = true) == "inc")
    assert(branch(incremental = false) == "full")
  }

  test("macro definitions parse and expand at call sites (incl. nested args)") {
    val defs = SqlTemplater.parseMacros(
      """{% macro add_tax(amount, rate) -%}
        |({{ amount }}) * (1 + {{ rate }})
        |{%- endmacro %}
        |{% macro taxed_total(col) -%}
        |SUM({{ add_tax(col, '0.2') }})
        |{%- endmacro %}""".stripMargin)
    assert(defs.keySet == Set("add_tax", "taxed_total"))
    // nested macro call + an argument containing a top-level-comma-free expr
    val out = SqlTemplater.expandMacros(
      "SELECT {{ taxed_total('COALESCE(a, b)') }} AS t FROM x", defs)
    assert(out == "SELECT SUM((COALESCE(a, b)) * (1 + 0.2)) AS t FROM x")
    // unknown calls are left intact; reserved names refuse to register
    assert(SqlTemplater.expandMacros("{{ var('k') }}", defs) == "{{ var('k') }}")
    intercept[IllegalArgumentException](
      SqlTemplater.parseMacros("{% macro ref(x) %}{{ x }}{% endmacro %}"))
  }

  test("fully-qualified column references to ref/source relations resolve (dbt rendering parity)") {
    // dbt renders ref()/source() to literal schema.table names, so corpus
    // models reference columns as pharmacy_landing.order.id (reference:
    // onfy_transactions_new.sql:21-35) — the templater must map those onto
    // its substituted view names
    val ctx = freshCtx()
    ctx.sources.register("pharmacy_landing", "order")(s => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    })
    ctx.warehouse.createTable("lndc_user_attribution",
      Seq((1L, "google")).toDF("id", "source_corrected"))
    val model = SqlTemplater.sqlModelAuto("qualrefs",
      """SELECT pharmacy_landing.order.id AS order_id,
        |  onfy.lndc_user_attribution.source_corrected AS src
        |FROM {{ source('pharmacy_landing', 'order') }}
        |LEFT JOIN {{ ref('lndc_user_attribution') }}
        |  ON pharmacy_landing.order.id = onfy.lndc_user_attribution.id""".stripMargin)
    new DagRunner(Seq(model)).run(ctx, selectors = Seq("qualrefs"))
      .foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }
    val rows = ctx.ref("qualrefs").as[(Long, Option[String])].collect().toSet
    assert(rows == Set((1L, Some("google")), (2L, None)), rows.toString)

    // struct access through a 3-part chain must NOT be rewritten: the first
    // part is a table alias, guarded by the first-part lookbehind + the
    // whole-chain shape (t.payment.advancePercent where 'payment' is NOT a
    // rendered relation of this model)
    val r = SqlTemplater.renderText("x",
      "SELECT t.state.status FROM {{ source('pharmacy_landing', 'order') }} t",
      Map.empty, Map.empty, _ => "", isIncremental = false)
    assert(r.text.contains("t.state.status"), r.text)
  }

  test("jinja float literals: value-true comparisons and byte-faithful render") {
    def render(t: String): String =
      Jinja.render(t, Jinja.Env(Map.empty, isIncremental = false)).trim
    // ordered comparisons are numeric, not Long-truncated
    assert(render("{% if 0.7 > 0.5 %}yes{% else %}no{% endif %}") == "yes")
    assert(render("{% if 1 >= 1.5 %}yes{% else %}no{% endif %}") == "no")
    // equality between numerics is by value ('0.50' == '0.5')
    assert(render("{% if 0.50 == 0.5 %}yes{% else %}no{% endif %}") == "yes")
    assert(render("{% if 2 == 2.0 %}yes{% else %}no{% endif %}") == "yes")
    // render keeps the source text (meta values must round-trip verbatim —
    // reference: 0.0001 in gold_order_groups.sql:17)
    assert(render("{{ 0.0001 }}") == "0.0001")
  }

  test("jinja {% set %}/{% for %} dict guard selects alias (generate_alias_name shape)") {
    // modeled on /root/reference/macros/generate_alias_name.sql:2-25: loop
    // over a split var builds a dict guard, then target/membership if-logic
    // with ternary + trim + ~ concat picks the emitted name. Quoted call
    // args stay string literals in expression contexts (bindParams).
    val defs = SqlTemplater.parseMacros(
      """{% macro alias_for(custom_alias_name, node_name, node_uid, node_schema) -%}
        |{% set dev_override_all = true %}
        |{% set dev_nodes_to_override = {} %}
        |{% if var("dev_nodes_to_override", "") != "" %}
        |    {% set dev_override_all = false %}
        |    {% for t in var('dev_nodes_to_override', '').split(',') %}
        |        {% do dev_nodes_to_override.update({t: 1}) %}
        |    {% endfor %}
        |{% endif %}
        |{% set table_name = (custom_alias_name | trim) if custom_alias_name is not none else node_name %}
        |{% if target.name != "prod" and (dev_override_all or node_uid in dev_nodes_to_override) %}
        |{{ node_schema ~ "__" ~ table_name }}
        |{% else %}
        |{{ table_name }}
        |{% endif %}
        |{%- endmacro %}""".stripMargin)
    def render(vars: Map[String, String]): String = {
      val expanded = SqlTemplater.expandMacros(
        """{{ alias_for(' orders_alias ', 'gold_orders', 'model.gold_orders', 'dev_gold') }}""", defs)
      Jinja.render(expanded, Jinja.Env(vars, isIncremental = false,
        bindings = Map("target" -> Jinja.VMap(scala.collection.mutable.LinkedHashMap(
          "name" -> Jinja.VStr(vars.getOrElse("target_name", "prod"))))))).trim
    }
    assert(render(Map.empty) == "orders_alias")                              // prod: plain alias
    assert(render(Map("target_name" -> "dev")) == "dev_gold__orders_alias")  // dev: override-all
    assert(render(Map("target_name" -> "dev",                                // dev: uid in loop-built guard
      "dev_nodes_to_override" -> "model.other,model.gold_orders")) == "dev_gold__orders_alias")
    assert(render(Map("target_name" -> "dev",                                // dev: guarded out
      "dev_nodes_to_override" -> "model.other")) == "orders_alias")
  }

  test("REAL reference macro files run through the engine unmodified") {
    // read-only proof that the reference's own .sql macro files — not
    // re-typed shapes — parse, expand, and evaluate (the near-verbatim claim
    // tested against the genuine artifacts)
    val macrosDir = "/root/reference/macros"
    // format_time.sql: textual macro expansion into runnable Spark SQL
    val ft = SqlTemplater.parseMacros(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$macrosDir/format_time.sql")))
    assert(ft.contains("format_time"))
    val sql = SqlTemplater.expandMacros("SELECT {{ format_time(dur_h) }} AS hhmm FROM vals", ft)
    Seq(1.5, 0.25, 23.75).toDF("dur_h").createOrReplaceTempView("vals")
    val got = spark.sql(sql).as[String].collect().toSet
    assert(got == Set("01:30", "00:15", "23:45"))
    // generate_alias_name.sql: the {% set %}/{% for %}/{% do %} dict-guard
    // control flow, interpreted with host bindings for its macro params
    val gan = SqlTemplater.parseMacros(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$macrosDir/generate_alias_name.sql")))("generate_alias_name")
    import scala.collection.mutable.LinkedHashMap
    def node(uid: String) = Jinja.VMap(LinkedHashMap(
      "name" -> Jinja.VStr("model_name"), "unique_id" -> Jinja.VStr(uid),
      "unrendered_config" -> Jinja.VMap(LinkedHashMap("schema" -> Jinja.VStr("marts")))))
    def render(targetName: String, vars: Map[String, String], uid: String) =
      Jinja.render(gan.body, Jinja.Env(vars, isIncremental = false,
        bindings = Map("custom_alias_name" -> Jinja.VStr(" my_alias "),
          "node" -> node(uid),
          "target" -> Jinja.VMap(LinkedHashMap("name" -> Jinja.VStr(targetName)))))).trim
    // prod: alias passes through untouched
    assert(render("prod", Map.empty, "model.x") == "my_alias")
    // dev, override-all (no dev_nodes_to_override var): schema-prefixed
    assert(render("dev", Map.empty, "model.x") == "marts__my_alias")
    // dev with an override list: only listed nodes get the prefix
    val vars = Map("dev_nodes_to_override" -> "model.x,model.y")
    assert(render("dev", vars, "model.x") == "marts__my_alias")
    assert(render("dev", vars, "model.z") == "my_alias")
  }

  test("REAL reference model bodies materialize through the engine") {
    // three genuine model files (read-only from the reference tree) run
    // end-to-end: config-block parsing (incl. trailing commas), source
    // mocking per sources.yml schemas, view materialization, and the nested
    // transform + named_struct shape of the mongo snapshot models
    val ctx = freshCtx()
    def modelFile(p: String): String =
      java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    ctx.sources.register("mongo", "core_tracking_providers_daily_snapshot") { s =>
      import s.implicits._
      Seq(("s1", 1000L, 2000L, "DHL"), ("s2", 1100L, 2100L, "Hermes"))
        .toDF("_id", "createdTimeMs", "updatedTimeMs", "name")
    }
    ctx.sources.register("mongo", "events_ad_partners_daily_snapshot") { s =>
      import s.implicits._
      Seq(("acme", Seq(("t1", "pixel"), ("t2", "s2s")))).toDF("name", "trk")
        .select($"name",
          expr("transform(trk, x -> named_struct('_id', x._1, 'kind', x._2))").as("trackers"))
    }
    ctx.sources.register("default", "link_device_user") { s =>
      import s.implicits._
      Seq((1L, 10L), (2L, 20L)).toDF("device_id", "user_id")
    }
    val base = "/root/reference/models/spark"
    val models = Seq(
      ("shipper", s"$base/mongo/shipper.sql"),
      ("adpartner", s"$base/mongo/adpartner.sql"),
      ("link_device_user_model", s"$base/mart/link_device_user.sql"))
      .map { case (n, p) => SqlTemplater.sqlModelAuto(n, modelFile(p)) }
    val res = new DagRunner(models).run(ctx)
    res.foreach { case (n, st) =>
      assert(st.isInstanceOf[RunStatus.Success], s"$n failed: $st") }
    assert(ctx.ref("shipper").columns.toSeq ==
      Seq("shipper_id", "created_time", "updated_time", "name"))
    assert(ctx.ref("shipper").count() == 2)
    assert(ctx.ref("adpartner").selectExpr("trackers[0].kind").as[String].head() == "pixel")
    assert(ctx.ref("link_device_user_model").count() == 2)
  }

  test("REAL reference incremental models run twice through the engine") {
    val base = "/root/reference/models/spark"
    def modelFile(p: String): String =
      java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    // fact_table_update.sql: incremental append, two-level partitioning,
    // vars — the per-run bookkeeping row (same contract q62 re-creates)
    val ctx = freshCtx(vars = Map(
      "table_name" -> "gold_orders", "start_date_ymd" -> "2024-01-01"))
    val ftu = SqlTemplater.sqlModelAuto("fact_table_update",
      modelFile(s"$base/mart/fact_table_update.sql"))
    assert(ftu.materialization == Materialization.IncrementalAppend(
      Seq("table_name", "partition_date")))
    assert(ftu.tags == Set("manual"))
    val dag1 = new DagRunner(Seq(ftu))
    dag1.run(ctx); dag1.run(ctx)
    assert(ctx.ref("fact_table_update").count() == 2) // one bookkeeping row per run
    // dsa_orders.sql: delta + insert_overwrite WITHOUT partition_by =
    // full-table overwrite; refs resolve to pre-materialized models
    ctx.warehouse.createTable("gold_orders",
      Seq(("2024-02-01", 1L, 10L, 100L), ("2022-12-01", 2L, 20L, 200L))
        .toDF("order_date_msk", "order_id", "user_id", "product_id"))
    ctx.warehouse.createTable("dsa_products",
      Seq((100L, "restricted"), (200L, "ok")).toDF("product_id", "reason"))
    val dsa = SqlTemplater.sqlModelAuto("dsa_orders", modelFile(s"$base/dsa/dsa_orders.sql"))
    assert(dsa.meta == Map("model_owner" -> "@general_analytics")) // trailing-comma dict
    assert(dsa.deps.toSet == Set("gold_orders", "dsa_products"))
    val dag2 = new DagRunner(Seq(dsa))
    dag2.run(ctx, selectors = Seq("dsa_orders")); dag2.run(ctx, selectors = Seq("dsa_orders"))
    // the 2022 order is date-filtered; two runs converge (full overwrite)
    assert(ctx.ref("dsa_orders").select($"order_id", $"reason")
      .as[(Long, String)].collect().toSeq == Seq((1L, "restricted")))
  }

  test("REAL dependency-free reference models execute verbatim in one DAG") {
    // every literal-dim model of the corpus (no ref/source/catalog reads)
    // materializes through sqlModelAuto + DagRunner with zero fixtures —
    // including key_amo_status.sql, the corpus's 2nd-largest file (1,371 LoC,
    // 272 UNION ALL arms of unicode literals)
    val base = "/root/reference/models/spark"
    def m(n: String, p: String) = SqlTemplater.sqlModelAuto(n,
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$base/$p")))
    val ctx = freshCtx()
    val dims = Seq(
      m("key_amo_status", "b2b_mart/key/key_amo_status.sql"),
      m("support_roles", "b2b_mart/key/support_roles.sql"),
      m("linehaul_channels", "b2b_mart/linehaul_channels.sql"),
      m("sla_days", "b2b_mart/key/sla_days.sql"),
      m("key_sla_stage", "b2b_mart/key/key_sla_stage.sql"),
      m("key_payment_status", "b2b_mart/key/key_payment_status.sql"))
    val res = new DagRunner(dims).run(ctx)
    res.foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }
    val amo = ctx.ref("key_amo_status")
    assert(amo.count() == 272)
    assert(amo.select($"pipeline_id").distinct().count() == 23)
    assert(amo.filter($"pipeline_id" === 6769178 && $"status_id" === 142)
      .select($"status_name").as[String].head().nonEmpty)
    assert(ctx.ref("key_sla_stage").count() == 13)
    for (d <- dims.tail) assert(ctx.ref(d.name).count() > 0, d.name)
  }

  test("REAL reference singular-test files run verbatim and catch planted defects") {
    // four genuine files from the tests tree execute through sqlTest: the
    // duplicate-id and null-id checks over a ref(), and the two
    // mercadolibre source checks — first on clean data (all pass), then on
    // data with planted defects (exactly the right tests fail)
    val base = "/root/reference/tests/spark"
    def t(n: String, p: String) = SingularTests.sqlTest(n,
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$base/$p")))
    val tests = Seq(
      t("dup_check", "b2b_mart/procurement_order_id_duplicates_check.sql"),
      t("null_check", "b2b_mart/procurement_order_id_null_check.sql"),
      t("wrong_item_ids", "pulse/wrong_item_ids_snapshot.sql"))
    val ctx = freshCtx()
    var orders: Seq[Option[Long]] = Seq(Some(1L), Some(2L))
    var items = Seq((Some(10L), 1L, Some("b"), "active"))
    ctx.warehouse.createTable("procurement_orders",
      orders.toDF("procurement_order_id"))
    ctx.sources.register("joompro_analytics_mart", "mercadolibre_products_snapshot")(s => {
      import s.implicits._
      items.toDF("id", "product_id", "brand_name", "activity_status")
    })
    assert(SingularTests.run(ctx, tests).forall(_.passed))
    // plant defects: a duplicate + a null order id; an item id equal to its
    // product id (the wrong_item_ids predicate)
    orders = Seq(Some(1L), Some(1L), None)
    ctx.warehouse.createTable("procurement_orders",
      orders.toDF("procurement_order_id"))
    items = Seq((Some(7L), 7L, Some("b"), "active"))
    val r = SingularTests.run(ctx, tests).map(x => x.name -> x.passed).toMap
    assert(r == Map("dup_check" -> false, "null_check" -> false,
      "wrong_item_ids" -> false), r.toString)
  }

  test("REAL model-template macro carries its config; materialization extracted post-expansion") {
    // gold_active_devices_with_ephemeral.sql is a one-line macro call; its
    // {{ config(...) }} lives inside the macro's {% if %} branches, selected
    // by the argument — effectiveConfig must mask, render, and pick the
    // surviving block (a pre-expansion parse sees no config at all)
    val macros = CorpusSweep.loadMacros(java.nio.file.Paths.get("/root/reference/macros"))
    def cfgOf(f: String) = SqlTemplater.effectiveConfig(
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"/root/reference/models/spark/gold/$f")), macros)
    val dev = cfgOf("gold_active_devices_with_ephemeral.sql")
    assert(SqlTemplater.materializationFromConfig(dev) ==
      Materialization.IncrementalInsertOverwrite(Seq("month_msk"), OnSchemaChange.Ignore))
    assert(dev("alias").render == "active_devices_with_ephemeral")
    assert(cfgOf("gold_active_users_with_ephemeral.sql")("alias").render ==
      "active_users_with_ephemeral")
  }

  test("effectiveConfig: lone config inside a dead {% if %} branch is not applied") {
    // the single-block fast path used to apply this config without rendering
    // control flow — a macro-carried config selected by {% if %} could pick
    // the wrong materialization when only one branch carries a block
    val sql =
      """{% if var('mode', 'live') == 'special' %}
        |{{ config(materialized='incremental', incremental_strategy='append') }}
        |{% endif %}
        |SELECT 1 AS x""".stripMargin
    assert(SqlTemplater.effectiveConfig(sql, Map.empty) == Map.empty,
      "dead-branch config must not apply")
    val live = SqlTemplater.effectiveConfig(sql, Map.empty, Map("mode" -> "special"))
    assert(SqlTemplater.materializationFromConfig(live) ==
      Materialization.IncrementalAppend(), live.toString)
  }

  test("REAL fact_order_change.sql (443 LoC) executes verbatim on a typed event mock") {
    // the corpus's hardest nested-struct model: triple-chained
    // posexplode_outer over array<struct<..array<struct<..array<struct>>>>>,
    // map-of-struct rate indexing rates[currency]['exchangeRate'], currency
    // pairs built by exploding map keys, `from`/`to` used as column names AND
    // table aliases, millis_to_ts_msk, and a 50-column conditional-sum final
    // aggregate — run full + incremental, numbers checked by hand
    val sql = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "/root/reference/models/spark/b2b_mart/fact/fact_order_change.sql"))
    val events = spark.sql(
      """SELECT
        |  CASE i WHEN 1 THEN 'e1' ELSE 'e2' END AS event_id,
        |  CASE i WHEN 1 THEN DATE'2024-03-10' ELSE DATE'2024-03-11' END AS partition_date,
        |  CASE i WHEN 1 THEN '2024-03-10 12:00:00' ELSE '2024-03-11 09:00:00' END AS event_ts_msk,
        |  'orderChangedByAdmin' AS type,
        |  named_struct(
        |    'orderId', CASE i WHEN 1 THEN 'o1' ELSE 'o2' END,
        |    'updatedTime', 1710064800000,
        |    'clientCurrency', CASE i WHEN 1 THEN 'EUR' ELSE 'USD' END,
        |    'reason', 'priceFix',
        |    'status', CASE i WHEN 1 THEN 'manufacturing' ELSE 'shipping' END,
        |    'subStatus', CASE i WHEN 1 THEN 'qc' ELSE CAST(NULL AS STRING) END,
        |    'currencies', IF(i = 1, named_struct(
        |      'rates', map(
        |        'EUR-USD', named_struct('exchangeRate', 1.1D, 'markupRate', 0.02D),
        |        'USD-EUR', named_struct('exchangeRate', 0.9D, 'markupRate', 0.03D)),
        |      'companyRates', map(
        |        'EUR-USD', named_struct('exchangeRate', 1.1D, 'markupRate', 0.02D))), NULL),
        |    'typedPricesOriginal', IF(i = 1, array(named_struct(
        |      'type', 'linehaul', 'tag', 'ddp', 'stagedPrices', array(
        |        named_struct('stage', 'final', 'multiPrice',
        |          array(named_struct('amount', 100.0D, 'ccy', 'EUR'))),
        |        named_struct('stage', 'confirmed', 'multiPrice',
        |          array(named_struct('amount', 90.0D, 'ccy', 'EUR')))))), NULL),
        |    'otherPricesOriginal', IF(i = 1, array(named_struct(
        |      'type', 'qc', 'tag', 'grant', 'stagedPrices', array(
        |        named_struct('stage', 'final', 'multiPrice',
        |          array(named_struct('amount', 10.0D, 'ccy', 'USD')))))), NULL),
        |    'roleSet', named_struct('roles', named_struct(
        |      'owner', named_struct(
        |        'actualisationTime', named_struct('time', 1710000000000, 'type', 'auto'),
        |        'moderatorId', 'm1', 'roleType', 'admin'),
        |      'bizDev', named_struct(
        |        'actualisationTime', named_struct('time', CAST(NULL AS BIGINT),
        |          'type', CAST(NULL AS STRING)),
        |        'moderatorId', CAST(NULL AS STRING), 'roleType', CAST(NULL AS STRING)))),
        |    'gmv', named_struct('clientConvertedGMV', 1000.0D, 'finalGMV', 1100.0D,
        |      'finalGrossProfit', 200.0D, 'initialGrossProfit', 150.0D)
        |  ) AS payload
        |FROM (SELECT explode(sequence(1, 2)) AS i)""".stripMargin)
    val ctx = freshCtx(vars = Map(
      "start_date_ymd" -> "2024-03-01", "end_date_ymd" -> "2024-04-01"))
    ctx.sources.register("b2b_mart", "operational_events")(_ => events)
    val model = SqlTemplater.sqlModelAuto("fact_order_change", sql)
    assert(model.materialization == Materialization.IncrementalInsertOverwrite(
      Seq("partition_date_msk"), OnSchemaChange.Ignore))
    val dag = new DagRunner(Seq(model))
    for (r <- Seq(dag.run(ctx), dag.run(ctx)); (n, st) <- r)   // full, then incremental
      assert(st.isInstanceOf[RunStatus.Success], s"$n: $st")
    val out = ctx.ref("fact_order_change").cache()
    assert(out.count() == 2)
    def d(colName: String, ev: String): Option[Double] =
      Option(out.filter($"event_id" === ev).select(col(colName).cast("double"))
        .collect().head.getAs[java.lang.Double](0)).map(_.doubleValue())
    // EUR fees convert via the EUR-USD rate with the USD-EUR row's markup
    // (the model's `from`/`to` alias join); USD fees pass through at 1.0
    val lin = 100.0 * 1.1 * (1 - 0.03)
    val linC = 90.0 * 1.1 * (1 - 0.03)
    def approx(a: Option[Double], b: Double) =
      assert(a.exists(x => math.abs(x - b) < 1e-9), s"$a vs $b")
    approx(d("linehaul_final_price", "e1"), lin)
    approx(d("ddp_final_price", "e1"), lin)
    approx(d("qc_final_price", "e1"), 10.0)
    approx(d("total_final_price", "e1"), lin - 10.0)  // grant tag negates
    approx(d("total_confirmed_price", "e1"), linC)
    approx(d("client_converted_gmv", "e1"), 1000.0)
    // e2's null price arrays survive the posexplode_outer chain as one
    // all-null fee row: the event still lands in the fact, sums null
    assert(d("total_final_price", "e2").isEmpty)
    assert(out.filter($"event_id" === "e2").select($"status").as[String].head() == "shipping")
    // owner_time millis resolved through millis_to_ts_msk, bizDev fell back
    assert(out.filter($"event_id" === "e1")
      .select($"owner_time_msk" =!= $"biz_dev_time_msk").as[Boolean].head())
    out.unpersist()
  }

  test("REAL reference models reading hardcoded catalog tables execute verbatim") {
    // ftu_archive.sql and airflow_task_instance_archive.sql read catalog
    // tables by db-qualified name (FROM platform.fact_table_update) — no
    // ref()/source() — so the engine must run them against the session
    // catalog; both are incremental insert_overwrite with var-dated windows
    val base = "/root/reference/models/spark"
    def m(n: String, p: String) = SqlTemplater.sqlModelAuto(n,
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$base/$p")))
    val loc = java.nio.file.Files.createTempDirectory("graft_catalog")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS platform LOCATION '$loc'")
    val now = java.time.Instant.now()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq(
      // recent row: survives the full-refresh NOW()-6-month window
      ("spark", "gold.orders", java.sql.Timestamp.from(now.minusSeconds(86400)),
        java.sql.Timestamp.from(now.minusSeconds(82800)), java.sql.Timestamp.from(now)),
      // fixed March 2024 row: selected by the incremental var window
      ("spark", "gold.orders", ts("2024-03-10 10:00:00"),
        ts("2024-03-10 11:00:00"), ts("2024-03-10 12:00:00")))
      .toDF("platform", "table_name", "start_time", "next_start_time", "dttm")
      .write.mode("overwrite").saveAsTable("platform.fact_table_update")
    Seq(
      ("t1", "dag_gold", "r1", 0, "SparkOp", "default",
        java.sql.Timestamp.from(now.minusSeconds(7200)), java.sql.Timestamp.from(now), 7200.0,
        "success", 100, 1, 3),
      ("t2", "dag_gold", "r0", 0, "SparkOp", "default",
        ts("2024-03-10 23:30:00"), ts("2024-03-11 00:30:00"), 3600.0, "success", 100, 1, 3))
      .toDF("task_id", "dag_id", "run_id", "map_index", "operator", "pool",
        "start_date", "end_date", "duration", "state", "priority_weight",
        "try_number", "max_tries")
      .write.mode("overwrite").saveAsTable("platform.airflow_task_instance")

    val ctx = freshCtx(vars = Map(
      "start_date_ymd" -> "2024-03-01", "end_date_ymd" -> "2024-04-01"))
    val models = Seq(m("ftu_archive", "platform/ftu_archive.sql"),
      m("airflow_task_instance_archive", "platform/airflow_task_instance_archive.sql"))
    val dag = new DagRunner(models)
    val r1 = dag.run(ctx)
    r1.foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }
    assert(ctx.ref("ftu_archive").count() == 1)      // full mode: recent row only
    val r2 = dag.run(ctx)                            // incremental: March window
    r2.foreach { case (n, st) => assert(st.isInstanceOf[RunStatus.Success], s"$n: $st") }
    assert(ctx.ref("ftu_archive").count() == 2)      // March partition added
    // the HOUR >= 22 arm rolls the 23:30 task into the next day's partition
    assert(ctx.ref("airflow_task_instance_archive")
      .filter($"task_id" === "t2").select($"partition_date".cast("string"))
      .as[String].head() == "2024-03-11")
  }

  test("jinja {% for k, v in dict.items() %} with loop.last comma control (tblproperties shape)") {
    // modeled on /root/reference/macros/spark_adapter_patch/tblproperties_clause.sql:6-18
    val out = Jinja.render(
      """TBLPROPERTIES ({%- for prop, val in {'owner': 'gold', 'retention': "30'd"}.items() %}
        |  '{{ prop }}'='{{ val | replace("'", "\\'") }}'{%- if not loop.last -%},{%- endif -%}
        |{% endfor %} )""".stripMargin,
      Jinja.Env(Map.empty, isIncremental = false))
    assert(out.replaceAll("\\s+", " ") == "TBLPROPERTIES ( 'owner'='gold', 'retention'='30\\'d' )", out)
  }

  test("run report + jobs graph artifacts round-trip statuses, timings, tag slices") {
    val ctx = freshCtx(vars = Map("start_date_ymd" -> "2001-06-01"))
    val models = Seq(
      Model("m_gold", _ => Seq(1).toDF("v"), tags = Set("gold")),
      Model("m_plat", _ => Seq(1).toDF("v"), deps = Seq("m_gold"), tags = Set("platform")),
      Model("m_bad", _ => throw new RuntimeException("boom")),
      Model("m_skip", _ => Seq(1).toDF("v"), deps = Seq("m_bad")))
    val results = new DagRunner(models).run(ctx)
    val target = java.nio.file.Files.createTempDirectory("graft_target")
    val schedules = Seq(
      RunReport.DagSchedule("gold", Set("gold"), sloHour = 8),
      RunReport.DagSchedule("platform", Set("platform")))
    RunReport.write(target, results, ctx.vars, models, schedules)

    val rrJson = java.nio.file.Files.readString(target.resolve("run_results.json"))
    val (parsed, elapsed) = RunReport.readRunResults(rrJson)
    assert(parsed("m_gold")._1 == "success" && parsed("m_gold")._2.exists(_ >= 0))
    assert(parsed("m_plat")._1 == "success")
    assert(parsed("m_bad")._1 == "error" && parsed("m_bad")._3.exists(_.contains("boom")))
    assert(parsed("m_skip")._1 == "skipped")
    assert(elapsed >= 0)

    val slices = RunReport.readDagSlices(
      java.nio.file.Files.readString(target.resolve("jobs_graph.json")))
    assert(slices("gold") == Seq("m_gold"))
    assert(slices("platform") == Seq("m_plat"))
    assert(slices("default") == Seq("m_bad", "m_skip")) // unscheduled tags → default DAG

    // same results + vars → byte-identical artifact (no wall-clock leakage)
    RunReport.write(target, results, ctx.vars, models, schedules)
    assert(java.nio.file.Files.readString(target.resolve("run_results.json")) == rrJson)
  }

  test("a model failing with a message-less exception records the exception in run_results.json") {
    val ctx = freshCtx()
    val models = Seq(Model("m_bare", _ => throw new IllegalStateException()))
    val results = new DagRunner(models).run(ctx)
    val target = java.nio.file.Files.createTempDirectory("graft_target")
    RunReport.write(target, results, ctx.vars, models)
    val (parsed, _) = RunReport.readRunResults(
      java.nio.file.Files.readString(target.resolve("run_results.json")))
    assert(parsed("m_bare") == (("error", None, Some("java.lang.IllegalStateException"))))
  }

  test("snapshot runTs requires deterministic vars (no wall-clock fallback)") {
    val ctx = freshCtx() // neither run_ts nor start_date_ymd
    val snap = Model("snap_strict", _ => Seq((1, "a")).toDF("_id", "v"),
      Materialization.Snapshot("_id", Scd2Strategy.Check(Nil)))
    val status = new DagRunner(Seq(snap)).run(ctx).toMap.apply("snap_strict")
    status match {
      case RunStatus.Failed(msg) => assert(msg.contains("run_ts"), msg)
      case other => fail(s"expected Failed, got $other")
    }
    val ok = new DagRunner(Seq(snap)).run(
      freshCtx(vars = Map("start_date_ymd" -> "2001-06-01"))).toMap.apply("snap_strict")
    assert(ok.isInstanceOf[RunStatus.Success], ok.toString)
  }

  test("global ORDER BY sink writes totally-ordered part files") {
    val ctx = freshCtx()
    val shuffled = spark.range(1000).select((($"id" * 937) % 1000).as("k"))
    // AQE would coalesce this tiny sort to one partition; hold it open so the
    // cross-file ordering property is actually exercised
    val prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try new DagRunner(Seq(Model("ordered", _ => shuffled,
      Materialization.Table(orderBy = Seq("k"))))).run(ctx)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    val dir = ctx.warehouse.tablePath("ordered")
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.getPath).sorted
    assert(parts.length > 1) // range partitioning actually split the output
    val perFile = parts.map(p => spark.read.parquet(p).as[Long].collect().toSeq)
    val global = perFile.flatten.toSeq
    assert(global == global.sorted, "rows not globally ordered across file order")
  }

  test("canonical-schema read ignores foreign files' columns (no footer merge)") {
    val ctx = freshCtx()
    new DagRunner(Seq(Model("canon", _ => Seq((1, "a"), (2, "b")).toDF("id", "s")))).run(ctx)
    // drop a foreign parquet file with an extra column straight into the dir:
    // a mergeSchema read would surface `extra`; the sidecar read must not
    Seq((3, "c", 9.9)).toDF("id", "s", "extra").coalesce(1)
      .write.mode("append").parquet(ctx.warehouse.tablePath("canon"))
    val df = ctx.ref("canon")
    assert(df.columns.toSeq == Seq("id", "s"))
    assert(df.count() == 3)
  }

  test("REAL docs yml files parse corpus-wide and persist through setDocs") {
    // single-file shape: src_gold.yml has 16 model entries incl. folded
    // (>-) descriptions that must collapse to one line
    val gold = DocsYaml.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get("/root/reference/models/spark/gold/src_gold.yml")))
    assert(gold.size == 16, gold.map(_.name).toString)
    val aDev = gold.find(_.name == "gold_active_devices_with_ephemeral").get
    assert(aDev.columns("date_msk") == "Date of activity in UTC+3")
    val folded = aDev.columns("is_converted_next_w1")
    assert(folded.startsWith("Flag indicating whether device_id made a purchase in the 1st calendar week"))
    assert(!folded.contains("\n") && folded.endsWith("elapsed."))

    // corpus-wide sweep: every yml under models/spark parses; 58 model-doc
    // entries with non-empty names (docs-bearing subset of the 423 models)
    val all = DocsYaml.parseDir("/root/reference/models/spark")
    assert(all.size == 58, s"got ${all.size}")
    assert(all.forall(_.name.nonEmpty))
    assert(all.count(_.columns.nonEmpty) >= 40, all.count(_.columns.nonEmpty).toString)

    // persist_docs equivalent: the REAL yml descriptions land in the
    // warehouse docs sidecar for materialized tables
    val ctx = freshCtx()
    ctx.warehouse.createTable("gold_active_devices_with_ephemeral",
      Seq(("2024-01-01", "d1")).toDF("date_msk", "device_id"))
    val applied = DocsYaml.applyTo(ctx.warehouse, gold)
    assert(applied == Seq("gold_active_devices_with_ephemeral"))
    val docs = ctx.warehouse.docs("gold_active_devices_with_ephemeral")
    assert(docs("date_msk") == "Date of activity in UTC+3")
    assert(docs("__table__").startsWith("Key metrics of a user on a specific date"))
  }

  private val scd2Ts1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private val scd2Ts2 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")

  /** A check-strategy SCD2 run keyed on `v`. */
  private def snapshot(ctx: Ctx, name: String, staged: org.apache.spark.sql.DataFrame,
                       ts: java.sql.Timestamp): Unit =
    Scd2.snapshot(ctx, name, staged, "v", Scd2Strategy.Check(Nil),
      invalidateHardDeletes = false, ts)

  test("docs survive a rebuild filtered to surviving columns") {
    val ctx = freshCtx()
    val wh = ctx.warehouse
    // (table, first build, full replace that does not carry gone_col)
    val cases: Seq[(String, () => Unit, () => Unit)] = Seq(
      ("doc_t", () => wh.createTable("doc_t", Seq((1, "x")).toDF("v", "gone_col")),
        () => wh.createTable("doc_t", Seq(2).toDF("v"))),
      ("doc_scd2", () => snapshot(ctx, "doc_scd2", Seq((1, "a")).toDF("v", "p"), scd2Ts1),
        () => snapshot(ctx, "doc_scd2", Seq((1, "b")).toDF("v", "p"), scd2Ts2)), // SCD2 advance
      ("doc_merge", () => wh.createTable("doc_merge", Seq((1, "a")).toDF("v", "p")),
        () => wh.mergeUpsert("doc_merge", Seq((1, "b"), (2, "c")).toDF("v", "p"),
          Seq("v"), partitionBy = Nil))) // unpartitioned merge
    for ((name, create, replace) <- cases) {
      create()
      wh.setDocs(name, "the table", Map("v" -> "kept", "gone_col" -> "dropped"))
      val before = wh.read(name).collect().toSet
      replace()
      assert(wh.read(name).collect().toSet != before, s"$name was not rewritten")
      assert(wh.docs(name) == Map("__table__" -> "the table", "v" -> "kept"), name)
    }
  }

  test("a rebuild re-caches a cached read of the table") {
    val wh = freshCtx().warehouse
    val rebuild = Seq((3, "a")).toDF("v", "p")
    // (table, partition columns, rebuild, rows after it)
    val cases: Seq[(String, Seq[String], String => Unit, Set[(Int, String)])] = Seq(
      ("cached_t", Nil, wh.createTable(_, rebuild), Set((3, "a"))),
      ("cached_io", Seq("p"),
        wh.insertOverwritePartitions(_, rebuild, Seq("p"), OnSchemaChange.Ignore), Set((3, "a"))),
      ("cached_m", Seq("p"), wh.mergeUpsert(_, rebuild, Seq("v"), Seq("p")),
        Set((1, "a"), (2, "a"), (3, "a"))))
    for ((name, partitionBy, replace, expected) <- cases) {
      wh.createTable(name, Seq((1, "a"), (2, "a")).toDF("v", "p"), partitionBy)
      val cached = wh.read(name).cache()
      try {
        assert(cached.count() == 2)
        replace(name)
        assert(wh.read(name).select($"v", $"p").as[(Int, String)].collect().toSet == expected, name)
      } finally cached.unpersist()
    }
  }

  /** A replace whose write fails in a task: the old canonical schema, rows
    * and docs still read back, nothing but the table is left under the
    * warehouse root (no staging directory), and the same replace then
    * succeeds. */
  private def assertCrashSafe(wh: Warehouse, name: String, create: () => Unit,
                              replace: Boolean => Unit): Unit = {
    def staging = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(wh.root))
      try ls.iterator().asScala.map(_.getFileName.toString).filter(_ != name).toList
      finally ls.close()
    }
    create()
    wh.setDocs(name, "the table", Map("v" -> "kept"))
    val rows = wh.read(name).collect().toSet
    val schema = wh.canonicalSchema(name)
    val docs = wh.docs(name)
    val e = intercept[Exception](replace(true))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("task failed")), e)
    assert(wh.canonicalSchema(name) == schema)
    assert(wh.read(name).collect().toSet == rows)
    assert(wh.docs(name) == docs)
    assert(staging.isEmpty, s"staging left behind: $staging")
    replace(false)
    assert(wh.read(name).collect().toSet != rows)
    assert(wh.docs(name) == docs)
    assert(staging.isEmpty, s"staging left behind: $staging")
  }

  /** `v` from a range, through a UDF that throws in the write's tasks when
    * `fail` is set (a range, not a local relation, so the optimizer cannot
    * fold the UDF away before the tasks run). */
  private def taskFrame(fail: Boolean, from: Long, to: Long): org.apache.spark.sql.DataFrame = {
    val v = udf((x: Long) => if (fail) throw new IllegalStateException("task failed") else x)
      .asNondeterministic()
    spark.range(from, to).select(v($"id").as("v"), lit("new").as("p"))
  }

  test("crash safety: a failed createTable keeps the old table") {
    val wh = freshCtx().warehouse
    assertCrashSafe(wh, "crash_t",
      () => wh.createTable("crash_t", Seq((1L, "a"), (2L, "b")).toDF("v", "p")),
      fail => wh.createTable("crash_t", taskFrame(fail, 5, 8)))
  }

  test("crash safety: a failed SCD2 advance keeps the old history") {
    val ctx = freshCtx()
    assertCrashSafe(ctx.warehouse, "crash_s",
      () => snapshot(ctx, "crash_s", Seq((1L, "a"), (2L, "b")).toDF("v", "p"), scd2Ts1),
      fail => snapshot(ctx, "crash_s", taskFrame(fail, 1, 3), scd2Ts2))
  }

  /** A (v, p) table partitioned by `p`, on the log when `log` is set. */
  private def partitionedCrashTable(log: Boolean, name: String): (Warehouse, () => Unit) = {
    val wh = new Warehouse(spark, runtime.TempDirs.create("graft_wh"), logFormatEnabled = log)
    wh.routeFormat(name, if (log) "delta" else "parquet")
    (wh, () => wh.createTable(name, Seq((1L, "a"), (2L, "b")).toDF("v", "p"), Seq("p")))
  }

  for (log <- Seq(false, true)) {
    val format = if (log) "log" else "parquet"
    test(s"crash safety: a failed insert_overwrite adding a column keeps the old schema ($format)") {
      val (wh, create) = partitionedCrashTable(log, "crash_io")
      assertCrashSafe(wh, "crash_io", create,
        fail => wh.insertOverwritePartitions("crash_io", taskFrame(fail, 5, 8)
          .withColumn("added", lit(1)), Seq("p"), OnSchemaChange.SyncAllColumns))
    }
  }

  test("crash safety: a failed partitioned merge adding a column keeps the old schema " +
       "and leaves nothing beside its table") {
    // the pruned merge collects the increment's partitions without running the
    // failing column, so the task fails in the slice's write
    val (wh, create) = partitionedCrashTable(log = false, "crash_ms")
    assertCrashSafe(wh, "crash_ms", create,
      fail => wh.mergeUpsert("crash_ms", taskFrame(fail, 5, 8).withColumn("added", lit(1)),
        Seq("v"), Seq("p"), OnSchemaChange.SyncAllColumns, incrementPartitionsOnly = true))
  }

  test("a partitioned merge writes its slice once") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val wh = freshCtx().warehouse
    wh.createTable("once_m", Seq((1, "a"), (2, "b")).toDF("v", "p"), Seq("p"))
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[InsertIntoHadoopFsRelationCommand]) writes.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // the listener bus delivers late: drain createTable's write before listening
    org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      // key 2 moves from b to a: partition b is left empty and goes away
      wh.mergeUpsert("once_m", Seq((2, "a"), (3, "a")).toDF("v", "p"), Seq("v"), Seq("p"))
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.get == 1)
    assert(wh.read("once_m").as[(Int, String)].collect().toSet == Set((1, "a"), (2, "a"), (3, "a")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(wh.tablePath("once_m"), "p=b")))
  }

  test("docs are metastore-visible: DESCRIBE surfaces column + table comments") {
    val ctx = freshCtx()
    val wh = ctx.warehouse
    // partitioned plain table -> external catalog entry with commented schema
    wh.createTable("doc_cat",
      Seq(("2024-01-01", "d1", 5), ("2024-01-02", "d2", 7))
        .toDF("date_msk", "device_id", "n"),
      partitionBy = Seq("date_msk"))
    wh.setDocs("doc_cat", "it's a \"daily\" rollup",
      Map("device_id" -> "the device", "n" -> "event count"))
    wh.persistDocsToCatalog("doc_cat")
    val desc = spark.sql("DESCRIBE TABLE doc_cat").collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(desc("device_id") == "the device")
    assert(desc("n") == "event count")
    val ext = spark.sql("DESCRIBE TABLE EXTENDED doc_cat").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(ext.get("Comment").exists(_.contains("daily")), ext.toString)
    // the catalog table reads the same rows as the warehouse read
    assert(spark.table("doc_cat").count() == 2)
    assert(spark.table("doc_cat").where($"date_msk" === "2024-01-01")
      .select($"device_id").as[String].collect().toSeq == Seq("d1"))
    // an existing catalog table (bucketed CTAS) takes the reference's
    // ALTER ... CHANGE COLUMN ... COMMENT path in place
    wh.createBucketedTable("doc_bk", Seq((1, "a")).toDF("k", "v"), Seq("k"), 4)
    wh.setDocs("doc_bk", "bucketed join side", Map("k" -> "the key"))
    wh.persistDocsToCatalog("doc_bk")
    val descBk = spark.sql("DESCRIBE TABLE doc_bk").collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(descBk("k") == "the key")
    spark.sql("DROP TABLE IF EXISTS doc_cat")
    spark.sql("DROP TABLE IF EXISTS doc_bk")
  }

  test("non-literal sizing args to native text functions raise AnalysisException") {
    graft.functions.TextExpressions.register(spark)
    val df = Seq(("hello world text", 3)).toDF("t", "n")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("word_shingles(t, n)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("minhash_sig(t, 3, n)").collect()
    }
  }

  test("a write landing while a view re-derives makes the next read re-derive again") {
    val wh = freshCtx().warehouse
    wh.createTable("upstream", Seq(1, 2).toDF("v"))
    var calls = 0
    wh.registerView("v_up", () => {
      calls += 1
      // the 2nd derivation writes an unrelated table while it runs
      if (calls == 2) wh.createTable("unrelated", Seq(9).toDF("u"))
      wh.read("upstream")
    })
    assert(calls == 1)
    wh.createTable("upstream", Seq(1, 2, 3).toDF("v"))
    assert(wh.read("v_up").count() == 3)
    assert(calls == 2)
    // that write moved the epoch after the builder started: not yet seen
    assert(wh.read("v_up").count() == 3)
    assert(calls == 3)
    assert(wh.read("v_up").count() == 3)
    assert(calls == 3)
  }
}
