package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.functions.lit
import graft.runtime._

/** [[SqlTemplater.runSql]] binds each model's refs, sources and `this` into
  * its parsed plan: Spark's CTE scoping decides which names are inputs, and
  * nothing is registered in the session catalog. */
class SqlBindSpec extends SparkSpec {

  private def ctx(views: (String, DataFrame)*): Ctx = {
    val c = Ctx(spark, new Warehouse(spark, TempDirs.create("graft_bind")),
      new SourceRegistry(Some((_, t) => spark.range(0, 10).toDF("id").withColumn("t", lit(t)))))
    views.foreach { case (n, df) => c.warehouse.registerView(n, () => df) }
    c
  }

  private def ids(df: DataFrame): Set[Long] = df.select("id").collect().map(_.getLong(0)).toSet

  private def upstream: DataFrame = spark.range(0, 5).toDF("id")

  test("an import CTE named like its ref reads the ref inside the definition, the CTE outside") {
    val c = ctx("bind_stg" -> upstream)
    val df = SqlTemplater.runSql(c, "m",
      """WITH bind_stg AS (SELECT * FROM {{ ref('bind_stg') }} WHERE id > 1)
        |SELECT * FROM bind_stg WHERE id < 4""".stripMargin)
    assert(ids(df) == Set(2L, 3L))
  }

  test("a ref inside IN (SELECT …) is bound") {
    val c = ctx("bind_stg" -> upstream)
    val df = SqlTemplater.runSql(c, "m",
      """SELECT id FROM {{ source('s', 't') }}
        |WHERE id IN (SELECT id FROM {{ ref('bind_stg') }} WHERE id > 2)""".stripMargin)
    assert(ids(df) == Set(3L, 4L))
  }

  test("{{ this }} reads the model's own table once it exists") {
    val c = ctx()
    val sql =
      """SELECT id FROM {{ source('s', 't') }}
        |{% if is_incremental() %} WHERE id > (SELECT MAX(id) FROM {{ this }}) {% endif %}""".stripMargin
    c.warehouse.createTable("bind_inc", spark.range(0, 3).toDF("id"))
    assert(ids(SqlTemplater.runSql(c.copy(isIncremental = true), "bind_inc", sql)) == (3L to 9L).toSet)
    // no table yet: `this` stays unbound, as a missing relation
    val e = intercept[AnalysisException](
      SqlTemplater.runSql(c.copy(isIncremental = true), "bind_new", sql))
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
  }

  test("a two-part db.name is left to the catalog") {
    val plan = SqlTemplater.bind(spark.sessionState.sqlParser.parsePlan(
      "SELECT * FROM db.bind_stg JOIN bind_stg USING (id)"), Map("bind_stg" -> upstream))
    assert(plan.collect { case r: UnresolvedRelation => r.multipartIdentifier } ==
      Seq(Seq("db", "bind_stg")))
    assert(plan.collect { case a: SubqueryAlias => a.alias } == Seq("bind_stg"))
  }

  test("runSql leaves the session catalog's tables unchanged") {
    val c = ctx("bind_stg" -> upstream)
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    SqlTemplater.runSql(c, "m",
      """WITH g AS (SELECT id % 2 AS k, COUNT(*) AS n FROM {{ source('s', 't') }} GROUP BY id % 2)
        |SELECT x.k, x.n FROM g x JOIN g y ON x.k = y.k
        |  JOIN {{ ref('bind_stg') }} s ON s.id = x.k""".stripMargin,
      materializeCtes = true).collect()
    assert(spark.catalog.listTables().collect().map(_.name).toSet == before)
  }

  test("a model naming another model's relation without ref() fails with TABLE_OR_VIEW_NOT_FOUND") {
    val c = ctx("bind_upstream" -> upstream)
    // an earlier build read the same relation through ref() ...
    assert(ids(SqlTemplater.runSql(c, "reader", "SELECT * FROM {{ ref('bind_upstream') }}")) ==
      (0L to 4L).toSet)
    // ... which leaves nothing behind for a body that names it bare
    val e = intercept[AnalysisException](
      SqlTemplater.runSql(c, "bare", "SELECT * FROM bind_upstream").collect())
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
  }
}
