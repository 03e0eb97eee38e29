package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.runtime._

/** r17 optimization: hot-CTE materialization must change PLANS, never rows.
  * Covers the parser (comment/literal masking, column-alias lists, bail-outs),
  * the hot heuristic (refs >= 2 + expensive op + determinism guard), and
  * end-to-end equivalence on a q74-shaped repeated-window model.
  */
class CteMaterializerSpec extends AnyFunSuite {

  private lazy val spark = Dialect.local(4).appName("cte-materializer-spec").getOrCreate()

  test("parse: defs, bodies, tail — with comments, literals and nesting") {
    val sql =
      """-- leading comment with AS ( inside
        |WITH a AS (SELECT 1 AS x, '(' AS s),  -- trailing note
        |  b AS (SELECT x AS y FROM a WHERE s <> ') , c AS ('),
        |  c AS (SELECT y FROM b JOIN a ON a.x = b.y)
        |SELECT * FROM c""".stripMargin
    val p = CteMaterializer.parse(sql).get
    assert(p.defs.map(_.name) == Seq("a", "b", "c"))
    assert(sql.substring(p.defs(0).bodyStart, p.defs(0).bodyEnd)
      .contains("SELECT 1 AS x"))
    assert(sql.substring(p.tailStart).trim == "SELECT * FROM c")
  }

  test("parse bails on RECURSIVE, no-WITH, duplicate names, column-alias lists") {
    assert(CteMaterializer.parse("SELECT 1").isEmpty)
    assert(CteMaterializer.parse(
      "WITH RECURSIVE r AS (SELECT 1) SELECT * FROM r").isEmpty)
    assert(CteMaterializer.parse(
      "WITH a AS (SELECT 1), a AS (SELECT 2) SELECT * FROM a").isEmpty)
    // r18 (ADVICE): a rebuilt `name (c1, c2) AS (...)` would drop the alias
    // list and expose the body's original column names — bail out instead
    assert(CteMaterializer.parse(
      "WITH a (y) AS (SELECT 1 AS x) SELECT * FROM a").isEmpty)
  }

  test("non-determinism: RANDOM alias and transitive upstream both block") {
    // random() (the rand() alias NonDetRe previously missed)
    val rnd =
      """WITH a AS (SELECT random() AS r, 1 AS g GROUP BY 1, 2)
        |SELECT * FROM a UNION ALL SELECT * FROM a""".stripMargin
    assert(CteMaterializer.materializeHot(spark, "m_rnd", rnd) eq rnd)
    // deterministic hot CTE built ON a non-det upstream: splitting it into a
    // separate statement would evaluate the upstream twice — must stay inline
    val trans =
      """WITH src AS (SELECT rand() AS r FROM RANGE(10)),
        |  agg AS (SELECT COUNT(*) AS n FROM src GROUP BY r)
        |SELECT * FROM agg UNION ALL SELECT * FROM agg""".stripMargin
    assert(CteMaterializer.materializeHot(spark, "m_trans", trans) eq trans)
  }

  test("comma-list FROM references count toward hotness") {
    // agg is referenced ONLY as the non-first entry of bare comma lists
    // (`FROM dims, agg` twice): both must count, making agg hot (r18,
    // VERDICT item 6). dims (2 direct refs, no expensive op) stays inline.
    val sql =
      """WITH agg AS (SELECT id % 2 AS k, COUNT(*) AS n FROM RANGE(50) GROUP BY id % 2),
        |  dims AS (SELECT 0 AS k UNION ALL SELECT 1 AS k)
        |SELECT dims.k, agg.n FROM dims, agg WHERE dims.k = agg.k
        |UNION ALL
        |SELECT dims.k, agg.n FROM dims, agg WHERE dims.k = agg.k""".stripMargin
    val out = CteMaterializer.materializeHot(spark, "m_comma", sql)
    assert(out != sql, "comma-list entries must count as references")
    assert(out.contains("dims AS (SELECT 0 AS k UNION ALL SELECT 1 AS k)"))
    CteMaterializer.release(spark, "m_comma")
  }

  test("materializeHot: unchanged when nothing qualifies") {
    // single-reference CTE: not hot
    val sql = "WITH a AS (SELECT 1 AS x GROUP BY 1) SELECT * FROM a"
    assert(CteMaterializer.materializeHot(spark, "m_none", sql) eq sql)
    // referenced twice but no expensive operator
    val cheap = "WITH a AS (SELECT 1 AS x) SELECT * FROM a UNION ALL SELECT * FROM a"
    assert(CteMaterializer.materializeHot(spark, "m_cheap", cheap) eq cheap)
    // referenced twice + GROUP BY but non-deterministic -> left alone
    val nondet =
      """WITH a AS (SELECT current_timestamp() AS t, 1 AS g GROUP BY 1, 2)
        |SELECT * FROM a UNION ALL SELECT * FROM a""".stripMargin
    assert(CteMaterializer.materializeHot(spark, "m_nondet", nondet) eq nondet)
  }

  test("materializeHot rewrites only hot bodies; references untouched") {
    val sql =
      """WITH base AS (SELECT id, id % 3 AS k FROM RANGE(100)),
        |  agg AS (SELECT k, COUNT(*) AS n FROM base GROUP BY k),
        |  single AS (SELECT n + 1 AS m FROM agg)
        |SELECT a.n, s.m FROM agg a CROSS JOIN single s""".stripMargin
    val out = CteMaterializer.materializeHot(spark, "m_hot", sql)
    assert(out != sql)
    // agg referenced by `single` + the tail = 2 refs + GROUP BY -> hot
    // (view names carry a model-name hash since r18 — match by pattern)
    assert("""agg AS \(SELECT \* FROM __graft_cte_[0-9a-f]+_m_hot_agg\)""".r
      .findFirstIn(out).isDefined, out)
    // base: 1 ref; single: 1 ref -> untouched
    assert(out.contains("base AS (SELECT id, id % 3 AS k FROM RANGE(100))"))
    assert(out.contains("single AS (SELECT n + 1 AS m FROM agg)"))
    val view = """__graft_cte_[0-9a-f]+_m_hot_agg""".r.findFirstIn(out).get
    assert(spark.catalog.tableExists(view))
    CteMaterializer.release(spark, "m_hot")
    assert(spark.catalog.tableExists(view) == false)
  }

  test("end-to-end: q74-shaped repeated window chain — identical rows") {
    import org.apache.spark.sql.functions._
    spark.range(0, 2000).select(
      (col("id") % 37).as("device_id"),
      col("id").as("event_id"),
      (col("id") * 7 % 1000).as("ts"),
      when(col("id") % 3 === 0, "view").when(col("id") % 3 === 1, "click")
        .otherwise("purchase").as("event_type"),
      (col("id") % 100).cast("double").as("value"))
      .createOrReplaceTempView("ev_cte_spec")
    val sql =
      """WITH lagged AS (
        |  SELECT *, LEAD(ts) OVER (PARTITION BY device_id, event_type ORDER BY ts, event_id) AS next_ts
        |  FROM ev_cte_spec),
        |sessionized AS (
        |  SELECT *, SUM(IF(LAG(ts) OVER (PARTITION BY device_id ORDER BY ts, event_id) + 50 < ts OR
        |                   ROW_NUMBER() OVER (PARTITION BY device_id ORDER BY ts, event_id) = 1, 1, 0))
        |            OVER (PARTITION BY device_id ORDER BY ts, event_id) AS session_num
        |  FROM lagged),
        |views AS (SELECT * FROM sessionized WHERE event_type = 'view'),
        |clicks AS (SELECT * FROM sessionized WHERE event_type = 'click'),
        |buys AS (SELECT * FROM sessionized WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT v.device_id, v.event_id AS ve, c.event_id AS ce
        |  FROM views v JOIN clicks c
        |    ON v.device_id = c.device_id AND v.ts <= c.ts
        |   AND COALESCE(v.next_ts, v.ts + 50) > c.ts)
        |SELECT p.device_id, COUNT(*) AS n, COUNT(DISTINCT b.event_id) AS nb
        |FROM pairs p LEFT JOIN buys b ON p.device_id = b.device_id
        |GROUP BY p.device_id""".stripMargin
    val plain = spark.sql(sql)
    val rewritten = CteMaterializer.materializeHot(spark, "m_e2e", sql)
    assert(rewritten != sql, "sessionized (3 refs) and lagged (2 refs) must be hot")
    val mat = spark.sql(rewritten)
    assert(mat.schema == plain.schema)
    assert(mat.exceptAll(plain).isEmpty && plain.exceptAll(mat).isEmpty)
    CteMaterializer.release(spark, "m_e2e")
  }

  test("runSql via sqlModel materializes for tables, not for views") {
    val ctx = Ctx(spark, new Warehouse(spark,
      graft.runtime.TempDirs.create("graft_cte_spec")),
      new SourceRegistry(Some((_, _) => spark.range(10).toDF("id"))))
    val sql =
      """WITH g AS (SELECT id % 2 AS k, COUNT(*) AS n
        |           FROM {{ source('s','t') }} GROUP BY id % 2)
        |SELECT a.k, a.n, b.n AS n2 FROM g a JOIN g b ON a.k = b.k""".stripMargin
    val table = SqlTemplater.sqlModel("cte_tbl", sql)
    val dag = new DagRunner(Seq(table))
    val rs = dag.run(ctx)
    assert(rs.forall(_._2.isInstanceOf[RunStatus.Success]))
    val rows = ctx.ref("cte_tbl").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((0L, 5L, 5L), (1L, 5L, 5L)))
    // release ran inside DagRunner: no scratch view for this model survives
    assert(!spark.catalog.listTables().collect()
      .exists(t => t.name.startsWith("__graft_cte_") && t.name.endsWith("_cte_tbl_g")))
  }
}
