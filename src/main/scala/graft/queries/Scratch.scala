package graft.queries

import org.apache.spark.sql.SparkSession
import graft.runtime._

/** The one way a declared query runs models: a [[Ctx]] over a fresh scratch
  * [[Warehouse]] (a [[TempDirs]] directory, swept on JVM exit) with the data
  * dir's tables as sources, and a DAG run that fails the query on the first
  * failed model or on any singular test that returns rows, as a failed model
  * fails the reference's dbt jobs. */
private[graft] object Scratch {

  def ctx(spark: SparkSession, dir: String, vars: Map[String, String] = Map.empty,
          macros: Map[String, SqlTemplater.MacroDef] = Map.empty): Ctx =
    Ctx(spark, new Warehouse(spark, TempDirs.create("graft_scratch")),
      SourceRegistry.overDir(spark, dir), vars, macros = macros)

  /** Run the DAG of `models` `runs` times (a model whose table exists runs
    * incrementally), then `tests`; returns `ctx`. Throws naming the first
    * failed model and its error, or every test that returned rows. */
  def run(ctx: Ctx, models: Seq[Model], runs: Int = 1,
          tests: Seq[SingularTest] = Nil): Ctx = {
    val dag = new DagRunner(models)
    for (_ <- 1 to runs)
      dag.run(ctx).collectFirst { case (n, RunStatus.Failed(e)) =>
        throw new RuntimeException(s"model $n failed: $e")
      }
    val failed = SingularTests.run(ctx, tests).filterNot(_.passed)
    if (failed.nonEmpty) throw new RuntimeException(s"singular tests failed: $failed")
    ctx
  }
}
