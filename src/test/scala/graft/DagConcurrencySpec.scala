package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import graft.runtime._

/** Latches the models of [[DagConcurrencySpec]] meet on, from their builds
  * or from executor tasks: a UDF's closure over a latch would be serialized
  * into the task, so every meeting looks its latches up here by name. */
object DagConcurrencyLatches {
  val latches = scala.collection.concurrent.TrieMap.empty[String, CountDownLatch]

  /** Count down `mine`, then wait up to 30 s for `other`. */
  def meet(mine: String, other: String): Long = {
    latches(mine).countDown()
    if (!latches(other).await(30, TimeUnit.SECONDS))
      throw new IllegalStateException(s"$mine waited 30 s for $other")
    1L
  }
}

/** [[DagRunner.run]]'s concurrency contract: independent models overlap,
  * builds included, a model starts only after all its dependencies finished,
  * failures skip only their downstream, and jobs carry the caller's local
  * properties. */
class DagConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def ctx(): Ctx = Ctx(spark,
    new Warehouse(spark, TempDirs.create("graft_dagconc")), new SourceRegistry())

  private def one: DataFrame = spark.range(0, 1, 1, 1).toDF("id")

  test("two independent models overlap: each one's task waits for the other's") {
    import DagConcurrencyLatches._
    latches.put("left", new CountDownLatch(1))
    latches.put("right", new CountDownLatch(1))
    val meetLeft = udf((_: Long) => DagConcurrencyLatches.meet("left", "right"))
    val meetRight = udf((_: Long) => DagConcurrencyLatches.meet("right", "left"))
    val models = Seq(
      Model("left", _ => one.select(meetLeft(col("id")).as("met"))),
      Model("right", _ => one.select(meetRight(col("id")).as("met"))))
    val c = ctx()
    val res = new DagRunner(models).run(c)
    assert(res.forall(_._2.isInstanceOf[RunStatus.Success]), res)
    assert(c.ref("left").as[Long].collect().toSeq == Seq(1L))
    assert(c.ref("right").as[Long].collect().toSeq == Seq(1L))
  }

  test("builds overlap: two model builds meet on latches inside build") {
    import DagConcurrencyLatches._
    latches.put("build_left", new CountDownLatch(1))
    latches.put("build_right", new CountDownLatch(1))
    val models = Seq(
      Model("build_left", _ => { meet("build_left", "build_right"); one }),
      Model("build_right", _ => { meet("build_right", "build_left"); one }))
    val res = new DagRunner(models).run(ctx())
    assert(res.forall(_._2.isInstanceOf[RunStatus.Success]), res)
  }

  test("two SQL-text models built concurrently give the same frames as serial builds") {
    // each model's source read happens inside its build and waits for the
    // other's, so the two builds (binding, CTE checkpoints, analysis) overlap
    import DagConcurrencyLatches._
    latches.put("source_a", new CountDownLatch(1))
    latches.put("source_b", new CountDownLatch(1))
    val c = Ctx(spark, new Warehouse(spark, TempDirs.create("graft_dagconc")),
      new SourceRegistry(Some { (_, t) =>
        meet(s"source_$t", if (t == "a") "source_b" else "source_a")
        spark.range(0, 300, 1, 2).toDF("id")
      }))
    val sqlA =
      """WITH g AS (SELECT id % 7 AS k, COUNT(*) AS n
        |           FROM {{ ref('base') }} JOIN {{ source('s','a') }} USING (id) GROUP BY id % 7)
        |SELECT x.k, x.n, y.n AS n2 FROM g x JOIN g y ON x.k = y.k""".stripMargin
    val sqlB =
      """WITH base AS (SELECT * FROM {{ ref('base') }}
        |              WHERE id IN (SELECT id * 2 FROM {{ source('s','b') }}))
        |SELECT id % 5 AS k, SUM(v) AS s FROM base GROUP BY id % 5""".stripMargin
    val models = Seq(
      Model("base", _ => spark.range(0, 200, 1, 2).selectExpr("id", "id * 3 AS v")),
      SqlTemplater.sqlModel("model_a", sqlA), SqlTemplater.sqlModel("model_b", sqlB))
    val res = new DagRunner(models).run(c)
    assert(res.forall(_._2.isInstanceOf[RunStatus.Success]), res)
    for ((m, sql) <- Seq("model_a" -> sqlA, "model_b" -> sqlB)) {
      val serial = SqlTemplater.runSql(c, m, sql, materializeCtes = true)
      // the written table reads back nullable: compare names and types
      assert(c.ref(m).schema.map(f => f.name -> f.dataType) ==
        serial.schema.map(f => f.name -> f.dataType), m)
      assert(c.ref(m).collect().map(_.toSeq).toSet == serial.collect().map(_.toSeq).toSet, m)
    }
    assert(c.ref("model_a").count() == 7 && c.ref("model_b").count() == 5)
  }

  test("diamond a -> {b, c} -> d: d builds only after b and c have both finished") {
    val events = new ConcurrentLinkedQueue[String]()
    val slow = udf { (id: Long) => Thread.sleep(300); id }
    def node(name: String, deps: String*)(body: Ctx => DataFrame) =
      Model(name, c => { events.add(s"build $name"); body(c) }, deps = deps)
    val models = Seq(
      node("a")(_ => spark.range(0, 5, 1, 1).toDF("id")),
      node("b", "a")(c => c.ref("a").select(slow(col("id")).as("id"))),
      node("c", "a")(c => c.ref("a").filter(col("id") < 3)),
      node("d", "b", "c") { c =>
        // both upstream writes are complete: data and schema sidecar
        events.add(s"d sees b=${c.ref("b").count()} c=${c.ref("c").count()} " +
          s"schemas=${Seq("b", "c").forall(c.warehouse.canonicalSchema(_).isDefined)}")
        c.ref("b").union(c.ref("c"))
      })
    val c = ctx()
    val res = new DagRunner(models).run(c)
    assert(res.forall(_._2.isInstanceOf[RunStatus.Success]), res)
    val ev = events.asScala.toSeq
    assert(ev.take(1) == Seq("build a"))
    assert(ev.slice(1, 3).toSet == Set("build b", "build c"))
    assert(ev.drop(3) == Seq("build d", "d sees b=5 c=3 schemas=true"))
    assert(c.ref("d").count() == 8)
  }

  test("a failing branch skips its downstream only; results come in topoOrder") {
    val models = Seq(
      Model("bad", _ => throw new RuntimeException("kaboom")),
      Model("bad_child", c => c.ref("bad"), deps = Seq("bad")),
      Model("bad_grandchild", c => c.ref("bad_child"), deps = Seq("bad_child")),
      Model("good", _ => one),
      Model("good_child", c => c.ref("good"), deps = Seq("good")))
    val dag = new DagRunner(models)
    val res = dag.run(ctx())
    assert(res.map(_._1) == dag.topoOrder(models.map(_.name).toSet).map(_.name))
    val st = res.toMap
    assert(st("bad") == RunStatus.Failed("kaboom"))
    assert(st("bad_child") == RunStatus.Skipped)
    assert(st("bad_grandchild") == RunStatus.Skipped)
    assert(st("good").isInstanceOf[RunStatus.Success])
    assert(st("good_child").isInstanceOf[RunStatus.Success])
  }

  test("an Error propagates out of run and starts no dependent model") {
    val built = new ConcurrentLinkedQueue[String]()
    val models = Seq(
      Model("fatal", _ => throw new AssertionError("fatal build")),
      Model("after_fatal", c => { built.add("after_fatal"); c.ref("fatal") },
        deps = Seq("fatal")))
    val e = intercept[AssertionError](new DagRunner(models).run(ctx()))
    assert(e.getMessage == "fatal build")
    assert(built.isEmpty)
  }

  test("every job a run starts carries the caller's local properties") {
    import org.apache.spark.graft.ListenerDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.op"))))
    }
    val models = Seq(
      Model("p1", _ => spark.range(0, 10, 1, 2).toDF("id")),
      Model("p2", _ => spark.range(0, 10, 1, 2).toDF("id")),
      Model("p3", c => c.ref("p1").groupBy(col("id") % 2).count(), deps = Seq("p1")))
    val sc = spark.sparkContext
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.op", "dag-op")
    try {
      val res = new DagRunner(models).run(ctx())
      assert(res.forall(_._2.isInstanceOf[RunStatus.Success]), res)
      ListenerDrain(sc)
    } finally {
      sc.setLocalProperty("graft.test.op", null)
      sc.removeSparkListener(listener)
    }
    val props = seen.asScala.toSeq
    assert(props.nonEmpty)
    assert(props.forall(_.contains("dag-op")), props)
  }
}
