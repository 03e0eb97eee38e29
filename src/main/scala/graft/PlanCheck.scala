package graft

import org.apache.spark.sql.DataFrame
import graft.queries.{CampaignFunnels, GoldOrdersWide, MergeQueries, PipelineQueries, Scd2Queries,
  Scratch}
import graft.runtime._

/** Plan inspector: prints `explain("formatted")` for each named declared
  * query, so pushdown / broadcast / codegen coverage can be reviewed
  * (SURVEY.md §4).
  *
  * A pipeline query's own plan is only the final `ctx.ref` read; the plans
  * whose execution dominates its wall are its model bodies, so those have
  * names of their own: `q72_model_{full,incr}`, `q74_model_{full,incr}`,
  * `q76_model_full`, `q30_model_{full,incr}`, `q62_cells_{full,incr}`
  * (the full and incremental render the DagRunner executes) and `q73_state`
  * (q73's staging aggregate).
  *
  * Usage: runMain graft.PlanCheck [name ...]
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = Dialect.local(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"

    def ctx(vars: Map[String, String], inc: Boolean): Ctx =
      Scratch.ctx(spark, dir, vars).copy(isIncremental = inc)
    // materializeCtes mirrors sqlModel's table-backed path. The incremental
    // body references the existing table via the lookback var only (no
    // {{ this }}), so rendering it against fresh sources is exactly the
    // plan run 2 executes.
    def sqlBody(model: String, sql: String, vars: Map[String, String], inc: Boolean): DataFrame =
      SqlTemplater.runSql(ctx(vars, inc), model, sql, materializeCtes = true)
    def q72Body(inc: Boolean): DataFrame = sqlBody("gold_orders_wide", GoldOrdersWide.modelSql,
      Map("start_date_ymd" -> "2001-06-01"), inc)
    def q74Body(inc: Boolean): DataFrame = sqlBody("campaign_funnels", CampaignFunnels.modelSql,
      Map("start_date_ymd" -> "2024-01-25"), inc)
    def q30Body(inc: Boolean): DataFrame = {
      val c = ctx(Map("start_date_ymd" -> "2001-06-01"), inc)
      c.warehouse.registerView("stg_orders", () => PipelineQueries.q30StgBody(c))
      PipelineQueries.q30GoldBody(c)
    }
    val bodies: Map[String, () => DataFrame] = Map(
      "q72_model_full" -> (() => q72Body(inc = false)),
      "q72_model_incr" -> (() => q72Body(inc = true)),
      "q74_model_full" -> (() => q74Body(inc = false)),
      "q74_model_incr" -> (() => q74Body(inc = true)),
      "q76_model_full" -> (() => sqlBody("customer_profile_merge", MergeQueries.modelSql,
        Map("cutoff_ymd" -> "1998-01-01"), inc = false)),
      "q30_model_full" -> (() => q30Body(inc = false)),
      "q30_model_incr" -> (() => q30Body(inc = true)),
      "q62_cells_full" -> (() => PipelineQueries.q62CellsBody(ctx(Map.empty, inc = false))),
      "q62_cells_incr" -> (() => PipelineQueries.q62CellsBody(ctx(Map.empty, inc = true))),
      "q73_state" -> (() => Scd2Queries.stateAsOfForPlan(Tables(spark, dir, "orders"))))

    val names = if (args.nonEmpty) args.toSeq else Seq("q3_revenue_by_region_month")
    for (n <- names) {
      println(s"########## $n ##########")
      bodies.get(n).fold(SparkEntry.queries(n)(spark, dir))(_()).explain("formatted")
    }
    spark.stop()
  }
}
