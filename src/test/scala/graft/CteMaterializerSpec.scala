package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.OfRows
import graft.runtime._

/** r17 optimization: hot-CTE materialization must change PLANS, never rows.
  * Covers reference counting over the parsed plan (comments and literals,
  * comma lists, bail-outs, column-alias lists), the hot heuristic (refs >= 2
  * + expensive op + determinism guard), bound inputs, and end-to-end
  * equivalence on a q74-shaped repeated-window model.
  */
class CteMaterializerSpec extends AnyFunSuite {

  private lazy val spark = Dialect.local(4).appName("cte-materializer-spec").getOrCreate()

  private def parse(sql: String): LogicalPlan = spark.sessionState.sqlParser.parsePlan(sql)

  /** The definitions a rewritten plan reads from a checkpoint. */
  private def hot(plan: LogicalPlan): Set[String] = plan match {
    case w: UnresolvedWith => w.cteRelations.collect {
      case (n, body, _) if body.exists(_.isInstanceOf[LogicalRDD]) => n
    }.toSet
    case _ => Set.empty
  }

  private def unchanged(sql: String): Boolean = {
    val p = parse(sql)
    CteMaterializer.materializeHot(spark, p) eq p
  }

  test("comments and literals are neither references nor expensive operators") {
    // `a` is read once; the other "references" sit in comments and literals
    assert(unchanged(
      """-- leading comment: FROM a JOIN a
        |WITH a AS (SELECT id % 2 AS k, COUNT(*) AS n FROM RANGE(10) GROUP BY id % 2), -- FROM a
        |  b AS (SELECT 'FROM a JOIN a' AS s, k FROM a)
        |SELECT * FROM b /* FROM a, a */""".stripMargin))
    // read twice, but its only "operators" are inside a string literal
    assert(unchanged(
      """WITH c AS (SELECT 'GROUP BY x JOIN y OVER (z) DISTINCT' AS s)
        |SELECT * FROM c UNION ALL SELECT * FROM c""".stripMargin))
  }

  test("RECURSIVE, no-WITH bail; duplicate names fail; alias lists materialize") {
    assert(unchanged("SELECT 1"))
    assert(unchanged(
      """WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL SELECT n + 1 FROM r WHERE n < 3)
        |SELECT a.n FROM r a JOIN r b ON a.n = b.n""".stripMargin))
    intercept[ParseException](parse("WITH a AS (SELECT 1), a AS (SELECT 2) SELECT * FROM a"))
    // a column-alias list stays around the checkpoint: the aliases, not the
    // body's own names, are what the rest of the statement sees
    val sql =
      """WITH a (k, n) AS (SELECT id % 2 AS x, COUNT(*) AS c FROM RANGE(10) GROUP BY id % 2)
        |SELECT k, n FROM a WHERE k = 0 UNION ALL SELECT k, n FROM a WHERE k = 1""".stripMargin
    val out = CteMaterializer.materializeHot(spark, parse(sql))
    assert(hot(out) == Set("a"))
    val mat = OfRows(spark, out)
    assert(mat.columns.toSeq == Seq("k", "n"))
    assert(mat.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 5L), (1L, 5L)))
  }

  test("non-determinism: RANDOM alias and transitive upstream both block") {
    // random() (the rand() alias)
    assert(unchanged(
      """WITH a AS (SELECT random() AS r, 1 AS g GROUP BY 1, 2)
        |SELECT * FROM a UNION ALL SELECT * FROM a""".stripMargin))
    // deterministic hot CTE built ON a non-det upstream: splitting it into a
    // separate statement would evaluate the upstream twice — must stay inline
    assert(unchanged(
      """WITH src AS (SELECT rand() AS r FROM RANGE(10)),
        |  agg AS (SELECT COUNT(*) AS n FROM src GROUP BY r)
        |SELECT * FROM agg UNION ALL SELECT * FROM agg""".stripMargin))
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
    assert(hot(CteMaterializer.materializeHot(spark, parse(sql))) == Set("agg"))
  }

  test("aliased comma-list entries `FROM a x, b y` count too") {
    val sql =
      """WITH agg AS (SELECT id % 2 AS k, COUNT(*) AS n FROM RANGE(50) GROUP BY id % 2),
        |  dims AS (SELECT 0 AS k UNION ALL SELECT 1 AS k)
        |SELECT d.k, g.n FROM dims d, agg g WHERE d.k = g.k
        |UNION ALL
        |SELECT d.k, g.n FROM dims AS d, agg AS g WHERE d.k = g.k""".stripMargin
    assert(hot(CteMaterializer.materializeHot(spark, parse(sql))) == Set("agg"))
  }

  test("materializeHot: unchanged when nothing qualifies") {
    // single-reference CTE: not hot
    assert(unchanged("WITH a AS (SELECT 1 AS x GROUP BY 1) SELECT * FROM a"))
    // referenced twice but no expensive operator
    assert(unchanged("WITH a AS (SELECT 1 AS x) SELECT * FROM a UNION ALL SELECT * FROM a"))
    // referenced twice + GROUP BY but non-deterministic -> left alone
    assert(unchanged(
      """WITH a AS (SELECT current_timestamp() AS t, 1 AS g GROUP BY 1, 2)
        |SELECT * FROM a UNION ALL SELECT * FROM a""".stripMargin))
    // the parenthesis-free form too
    assert(unchanged(
      """WITH a AS (SELECT current_date AS t, 1 AS g GROUP BY 1, 2)
        |SELECT * FROM a UNION ALL SELECT * FROM a""".stripMargin))
  }

  test("materializeHot rewrites only hot bodies; references untouched") {
    val sql =
      """WITH base AS (SELECT id, id % 3 AS k FROM RANGE(100)),
        |  agg AS (SELECT k, COUNT(*) AS n FROM base GROUP BY k),
        |  single AS (SELECT n + 1 AS m FROM agg)
        |SELECT a.n, s.m FROM agg a CROSS JOIN single s""".stripMargin
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val in = parse(sql).asInstanceOf[UnresolvedWith]
    val out = CteMaterializer.materializeHot(spark, in).asInstanceOf[UnresolvedWith]
    // agg referenced by `single` + the tail = 2 refs + GROUP BY -> hot
    assert(hot(out) == Set("agg"))
    // base: 1 ref; single: 1 ref -> untouched, as is the final query
    assert(out.cteRelations(0)._2 eq in.cteRelations(0)._2)
    assert(out.cteRelations(2)._2 eq in.cteRelations(2)._2)
    assert(out.child eq in.child)
    // the checkpoint lives in the plan: nothing is registered in the catalog
    assert(spark.catalog.listTables().collect().map(_.name).toSet == before)
    val (mat, plain) = (OfRows(spark, out), spark.sql(sql))
    assert(mat.count() == 9 && mat.exceptAll(plain).isEmpty && plain.exceptAll(mat).isEmpty)
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
    val rewritten = CteMaterializer.materializeHot(spark, parse(sql))
    assert(hot(rewritten) == Set("sessionized"), "sessionized (3 refs) must be hot")
    val mat = OfRows(spark, rewritten)
    assert(mat.schema == plain.schema)
    assert(mat.exceptAll(plain).isEmpty && plain.exceptAll(mat).isEmpty)
  }

  private def ctxOver(source: => org.apache.spark.sql.DataFrame): Ctx =
    Ctx(spark, new Warehouse(spark, graft.runtime.TempDirs.create("graft_cte_spec")),
      new SourceRegistry(Some((_, _) => source)))

  private def checkpoints(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r }.size

  test("runSql via sqlModel materializes for tables, not for views") {
    val ctx = ctxOver(spark.range(10).toDF("id"))
    val sql =
      """WITH g AS (SELECT id % 2 AS k, COUNT(*) AS n
        |           FROM {{ source('s','t') }} GROUP BY id % 2)
        |SELECT a.k, a.n, b.n AS n2 FROM g a JOIN g b ON a.k = b.k""".stripMargin
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val rs = new DagRunner(Seq(SqlTemplater.sqlModel("cte_tbl", sql),
      SqlTemplater.sqlModel("cte_view", sql, Materialization.View))).run(ctx)
    assert(rs.forall(_._2.isInstanceOf[RunStatus.Success]))
    for (m <- Seq("cte_tbl", "cte_view")) {
      val rows = ctx.ref(m).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((0L, 5L, 5L), (1L, 5L, 5L)), m)
    }
    assert(checkpoints(SqlTemplater.runSql(ctx, "cte_tbl", sql, materializeCtes = true)) == 1)
    assert(checkpoints(ctx.ref("cte_view")) == 0)
    // no scratch view for either model: the catalog is as it was
    assert(spark.catalog.listTables().collect().map(_.name).toSet == before)
  }

  test("a bound input's own joins do not make a CTE hot") {
    val joined = spark.range(10).toDF("id").join(spark.range(10).toDF("id"), "id")
    val ctx = ctxOver(joined)
    val passThrough =
      """WITH s AS (SELECT * FROM {{ source('s','t') }})
        |SELECT a.id FROM s a JOIN s b ON a.id = b.id""".stripMargin
    assert(checkpoints(SqlTemplater.runSql(ctx, "m", passThrough, materializeCtes = true)) == 0)
    // the same reads with the join written in the definition are hot
    val ownJoin =
      """WITH s AS (SELECT x.id FROM {{ source('s','t') }} x JOIN {{ source('s','t') }} y
        |           ON x.id = y.id)
        |SELECT a.id FROM s a JOIN s b ON a.id = b.id""".stripMargin
    assert(checkpoints(SqlTemplater.runSql(ctx, "m", ownJoin, materializeCtes = true)) == 1)
  }
}
