package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.ops.SkewJoin
import graft.runtime._

/** Scale-posture checks: bucketed co-located joins plan without a shuffle,
  * salted skew joins preserve results, empty increments leave partitioned
  * tables untouched (SURVEY.md §7 "subtle correctness around empty
  * increments"), and the four reference test archetypes behave. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("a pruned log merge scans only the increment's partition files") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    // files each query the merge runs reads, from its scans' numFiles metric
    def scansOf(merge: => Unit): Seq[Long] = {
      val scans = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          new AdaptiveSparkPlanHelper {}.collect(qe.executedPlan) {
            case f: FileSourceScanExec => f.metrics("numFiles").value
          }.foreach(scans.add)
        def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
      spark.listenerManager.register(listener)
      try { merge; org.apache.spark.graft.ListenerDrain(spark.sparkContext) }
      finally spark.listenerManager.unregister(listener)
      scans.asScala.toSeq
    }
    for (pruned <- Seq(true, false)) {
      val wh = freshCtx().warehouse
      wh.routeFormat("mrg_plan", "parquet", keyedMerge = true)
      // 4 partitions on the log, one file each; the increment touches only p2
      wh.createTable("mrg_plan",
        Seq((1L, "p1", 1), (2L, "p2", 2), (3L, "p3", 3), (4L, "p4", 4))
          .toDF("id", "part_col", "v"),
        Seq("part_col"))
      val scans = scansOf(wh.mergeUpsert("mrg_plan", Seq((2L, "p2", 22)).toDF("id", "part_col", "v"),
        Seq("id"), Seq("part_col"), incrementPartitionsOnly = pruned))
      assert(wh.read("mrg_plan").filter($"id" === 2L).select($"v").as[Int].collect().toSeq == Seq(22))
      // the key probe and the survivors read each scan p2's one file; the
      // unpruned probe scans all 4, which shows the metric sees the probe
      if (pruned) assert(scans.nonEmpty && scans.forall(_ == 1), scans)
      else assert(scans.max == 4, scans)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val ctx = freshCtx()
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    ctx.warehouse.createBucketedTable("b_orders", o, Seq("o_orderkey"), 8)
    ctx.warehouse.createBucketedTable("b_lineitem", li, Seq("l_orderkey"), 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = ctx.warehouse.readBucketed("b_lineitem")
        .join(ctx.warehouse.readBucketed("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // only the final groupBy may shuffle; the join itself must not
      assert(shuffles.size <= 1, s"expected bucketed join without exchange, got:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() == 3)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("order-pinned first/last aggregation plans exactly two exchanges") {
    // q58's shape: repartition(user) + sortWithinPartitions feeds the
    // aggregate with NO further exchange (hash(user) satisfies the groupBy
    // distribution), then the cohort window adds exactly one more — the
    // plan a 100TB run needs: one shuffle per re-keying, none wasted.
    val df = graft.queries.RankQueries.q58FunnelRanking(spark, "/root/testdata/sf0.001")
    df.count() // materialize through AQE so the final plan is real
    val shuffles = df.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(shuffles == 2,
      s"expected 2 exchanges (user repartition + cohort window), got $shuffles:\n" +
        df.queryExecution.executedPlan)
  }

  test("interval-frame window reuses the aggregation partitioning shape") {
    // q61: exchange for the (priority, day) aggregate + exchange for the
    // priority-keyed window — and nothing else.
    val df = graft.queries.WindowQueries.q61IntervalFrame(spark, "/root/testdata/sf0.001")
    df.count()
    val shuffles = df.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(shuffles == 2,
      s"expected 2 exchanges (agg + window), got $shuffles:\n" +
        df.queryExecution.executedPlan)
  }

  test("q40 exact embedding near-dup plans as a tiled equi-join, never a cartesian") {
    // the one former all-pairs operator: block tiling must keep the O(n²)
    // compare out of a single CartesianProduct / BNLJ task at any scale
    val df = graft.queries.NorthStarQueries.q40EmbedNearDup(spark, "/root/testdata/sf0.001")
    df.count() // materialize through AQE so the final plan is real
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"expected tiled equi-join, got:\n$plan")
  }

  test("q74 funnel model plans every window join as an equi-join, never a cartesian") {
    // the time-window predicates must ride as filters on device/product
    // equi-joins — a BNLJ on any funnel hop is the O(n²) failure mode at scale
    val ctx = freshCtx(vars = Map("start_date_ymd" -> "2024-01-25"))
    val df = SqlTemplater.runSql(ctx, "campaign_funnels_plan",
      graft.queries.CampaignFunnels.modelSql)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"expected equi-joins with range filters, got:\n$plan")
  }

  test("q75 dup-group propagation joins stay equi-shaped and converge") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 6L), (6L, 7L), (3L, 7L))
      .toDF("id_a", "id_b")
    val groups = graft.ops.Dedup.dupGroups(pairs)
    val plan = groups.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    // {1,2,3,5,6,7} chain collapses to min 1; {10,11} to 10
    val got = groups.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("salted skew join returns the same rows as a plain join") {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
      .as[(String, Long, BigDecimal)].collect().toSet
    val salted = SkewJoin.saltedJoin(
      li.withColumnRenamed("l_orderkey", "o_orderkey"), o, Seq("o_orderkey"),
      spreadExpr = xxhash64(col("l_partkey"), col("l_linenumber")), n = 7)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
      .as[(String, Long, BigDecimal)].collect().toSet
    assert(salted == plain)
  }

  test("empty incremental run leaves all partitions untouched") {
    val ctx = freshCtx()
    val model = Model("inc_empty", c =>
      if (!c.isIncremental) Seq(("p1", 1), ("p2", 2)).toDF("part_col", "v")
      else Seq.empty[(String, Int)].toDF("part_col", "v"),
      Materialization.IncrementalInsertOverwrite(Seq("part_col")))
    val dag = new DagRunner(Seq(model))
    dag.run(ctx)
    dag.run(ctx) // empty increment
    val out = ctx.ref("inc_empty").as[(String, Int)].collect().toSet
    assert(out == Set(("p1", 1), ("p2", 2)))
  }

  test("full refresh rebuilds incremental models; full_reload_on meta triggers per-model") {
    val ctx0 = freshCtx()
    var calls = List.empty[Boolean] // records isIncremental per build
    val model = Model("inc_fr", c => {
      calls :+= c.isIncremental
      if (!c.isIncremental) Seq(("p1", 1), ("p2", 2)).toDF("part_col", "v")
      else Seq(("p2", 99)).toDF("part_col", "v")
    }, Materialization.IncrementalInsertOverwrite(Seq("part_col")),
      meta = Map("full_reload_on" -> "6"))
    val dag = new DagRunner(Seq(model))
    dag.run(ctx0)                                    // first run: full
    dag.run(ctx0)                                    // incremental
    dag.run(ctx0, fullRefresh = true)                // forced full
    dag.run(ctx0.copy(vars = Map("run_dow" -> "6"))) // weekly reload day
    dag.run(ctx0.copy(vars = Map("run_dow" -> "3"))) // normal day
    assert(calls == List(false, true, false, false, true))
    val out = ctx0.ref("inc_fr").as[(String, Int)].collect().toSet
    assert(out == Set(("p1", 1), ("p2", 99)))
  }

  test("reference test archetypes: dup, null-fraction, volume band, referential") {
    val ctx = freshCtx()
    Seq((1, Option("a"), 10.0), (1, Option("b"), 20.0), (2, None, 500.0))
      .toDF("id", "name", "gmv").createOrReplaceTempView("t")
    new DagRunner(Seq(
      Model("child", c => Seq(1, 2, 99).toDF("id")),
      Model("parent", c => Seq(1, 2, 3).toDF("id")),
      Model("facts", c => c.spark.table("t")))).run(ctx)

    val results = SingularTests.run(ctx, Seq(
      TestArchetypes.dupKeyCheck("facts", Seq("id")),                    // dup id=1 -> fail
      TestArchetypes.nullCheck("facts", "gmv"),                          // no nulls -> pass
      TestArchetypes.nullFractionCheck("facts", "name", 0.5),            // 1/3 null -> pass
      TestArchetypes.nullFractionCheck("facts", "name", 0.2),            // 1/3 > 0.2 -> fail
      TestArchetypes.volumeBandCheck("gmv_band", "facts", "id",
        sum(col("gmv")), 5.0, 100.0),                                    // id=2 gmv 500 -> fail
      TestArchetypes.referentialCheck("child", "id", "parent", "id")     // 99 orphan -> fail
    )).map(r => r.name -> r.passed).toMap
    assert(results("facts_dup_id") == false)
    assert(results("facts_null_gmv") == true)
    assert(results("facts_nullfrac_name_gt0.5") == true)
    assert(results("facts_nullfrac_name_gt0.2") == false)
    assert(results("gmv_band") == false)
    assert(results("child_id_in_parent") == false)
    assert(results.count(_._2 == false) == 4, results.toString)
  }
}
