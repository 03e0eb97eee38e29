package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.{Ctx, SourceRegistry, Warehouse}

/** Shared local session + warehouse scaffolding for specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    graft.runtime.Dialect.local(4).appName("graft-test").getOrCreate()

  // Reference-dialect regression net: every suite inherits this triad of
  // non-ANSI behaviors the corpus relies on (evidence in runtime/Dialect.scala
  // — fact_quotes_variants.sql:19 empty-array indexing,
  // search_success_aggregated.sql:26-27 zero-denominator rates). If a future
  // session-builder change drops the dialect pin, every suite goes red here.
  test("dialect contract: OOB array index, x/0, invalid cast all yield NULL") {
    val r = spark.sql(
      "SELECT array(1,2)[5] AS oob, 1/0 AS div0, CAST('abc' AS INT) AS bad_cast").head()
    assert(r.isNullAt(0), "array(1,2)[5] must be NULL (non-ANSI dialect)")
    assert(r.isNullAt(1), "1/0 must be NULL (non-ANSI dialect)")
    assert(r.isNullAt(2), "CAST('abc' AS INT) must be NULL (non-ANSI dialect)")
  }

  /** Spark jobs started while `body` runs, counted by a listener; the bus
    * is drained on both sides so no job leaks in or out of the count. */
  def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.graft.ListenerDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  /** Runs `df` once and returns how many files its scans read, from each
    * file scan's `numFiles` metric (the files left after partition pruning). */
  def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  def freshCtx(vars: Map[String, String] = Map.empty): Ctx = {
    val wh = new Warehouse(spark, graft.runtime.TempDirs.create("graft_wh"))
    Ctx(spark, wh, SourceRegistry.overDir(spark, "/root/testdata/sf0.001"), vars)
  }
}
