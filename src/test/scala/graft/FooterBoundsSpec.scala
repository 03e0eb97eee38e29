package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.expr

/** [[FooterBounds.EmptyScan]]: a filter over a source [[Tables]] holds is
  * proven empty only where the footer bounds refute it, and every result
  * equals a direct `spark.read.parquet` read, which holds no bounds. */
class FooterBoundsSpec extends SparkSpec {
  import spark.implicits._

  /** A source directory `dir/t.parquet` written from `df` under `confs`. */
  private def source(df: DataFrame, confs: Map[String, String] = Map.empty,
                     options: Map[String, String] = Map.empty): String = {
    val dir = runtime.TempDirs.create("graft_footer_bounds")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.write.options(options).parquet(s"$dir/t.parquet")
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    dir
  }

  private def proven(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    plan.collectFirst { case l: LogicalRelation => l }.isEmpty &&
      plan.collectFirst { case l: LocalRelation => l }.nonEmpty
  }

  /** Filters the held source and a direct read with `predicate`; checks
    * both return the same rows and the direct read is never proven, and
    * says whether the held read was. */
  private def check(dir: String, predicate: String): Boolean = {
    val held = Tables(spark, dir, "t").filter(expr(predicate))
    val direct = spark.read.parquet(s"$dir/t.parquet").filter(expr(predicate))
    assert(held.collect().map(_.toString).sorted.toSeq ==
      direct.collect().map(_.toString).sorted.toSeq, predicate)
    assert(!proven(direct), predicate)
    val p = proven(held)
    if (!p) assert(held.queryExecution.optimizedPlan.collectFirst {
      case Filter(_, _: LogicalRelation) => ()
    }.nonEmpty, s"$predicate: the scan keeps its filter")
    p
  }

  private val microsTs = Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  /** Each supported type over the values 10..20, as an SQL literal of `n`. */
  private val types: Seq[(String, Int => String)] = Seq(
    "i" -> (n => s"$n"),
    "l" -> (n => s"CAST($n AS BIGINT)"),
    "d" -> (n => s"DATE_ADD(DATE '2001-01-01', $n)"),
    "ts" -> (n => f"TIMESTAMP '2001-01-01 00:00:$n%02d'"),
    "ntz" -> (n => f"TIMESTAMP_NTZ '2001-01-01 00:00:$n%02d'"))

  private lazy val typed: String = source((10 to 20).toDF("i").selectExpr(
    "i", "CAST(i AS BIGINT) AS l", "DATE_ADD(DATE '2001-01-01', i) AS d",
    "TIMESTAMP_SECONDS(978307200 + i) AS ts",
    "CAST(TIMESTAMP_SECONDS(978307200 + i) AS TIMESTAMP_NTZ) AS ntz"), microsTs)

  // (operator, literal that refutes every row of 10..20, literal inside the bounds)
  private val ops = Seq(("<", 10, 11), ("<=", 9, 10), (">", 20, 19), (">=", 21, 20), ("=", 21, 15))
  private val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=", "=" -> "=")

  for ((c, lit) <- types; (op, out, in) <- ops) {
    test(s"$c $op literal: proven empty outside the bounds, unchanged inside, either side") {
      assert(check(typed, s"$c $op ${lit(out)}"))
      assert(check(typed, s"${lit(out)} ${flip(op)} $c"))
      assert(!check(typed, s"$c $op ${lit(in)}"))
      assert(!check(typed, s"${lit(in)} ${flip(op)} $c"))
    }
  }

  test("an all-NULL column refutes every comparison") {
    val dir = source(Seq[(Int, Option[Int])]((1, None), (2, None)).toDF("k", "c"))
    assert(check(dir, "c > 5"))
    assert(check(dir, "c = 0"))
    assert(!check(dir, "k > 0"))
  }

  test("a file written without statistics is never proven") {
    val dir = source((10 to 20).toDF("i"), options = Map("parquet.column.statistics.enabled" -> "false"))
    assert(!check(dir, "i > 100"))
  }

  test("a multi-file source is proven only when every file is refuted") {
    val dir = source((10 to 20).toDF("i"))
    (30 to 40).toDF("i").write.mode("append").parquet(s"$dir/t.parquet")
    assert(!check(dir, "i > 25"))
    assert(!check(dir, "i < 25"))
    assert(check(dir, "i > 45"))
    assert(check(dir, "i > 20 AND i < 30"))
  }

  test("a file carrying Spark's legacy rebase footer key is never proven") {
    val dir = source((10 to 20).toDF("i").selectExpr("i", "DATE_ADD(DATE '2001-01-01', i) AS d"),
      Map("spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY"))
    assert(!check(dir, "d > DATE '2002-01-01'"))
    assert(!check(dir, "i > 100"))
  }

  test("a mixed-case column is matched case-insensitively") {
    val dir = source((10 to 20).toDF("MixedCase"))
    assert(check(dir, "mixedcase > 100"))
    assert(check(dir, "MIXEDCASE < 0"))
    assert(!check(dir, "mixedCase > 15"))
  }

  test("string and double predicates are never proven") {
    val dir = source((10 to 20).map(i => (s"s$i", i.toDouble)).toDF("s", "x"))
    assert(!check(dir, "s > 'zzz'"))
    assert(!check(dir, "x > 1000.0"))
  }

  test("dates before 1582-10-15 and timestamps before 1900 are never proven") {
    val dir = source(Seq(1).toDF("i").selectExpr("DATE '1500-01-01' AS d",
      "CAST(TIMESTAMP '1800-01-01 00:00:00' AS TIMESTAMP_NTZ) AS ntz"))
    assert(!check(dir, "d > DATE '2000-01-01'"))
    assert(!check(dir, "ntz > TIMESTAMP_NTZ '2000-01-01 00:00:00'"))
  }

  test("an empty scan empties the join and aggregate above it") {
    val dir = source((10 to 20).toDF("i"))
    val src = Tables(spark, dir, "t")
    val q = src.filter($"i" > 100).join(src.as("o"), Seq("i")).groupBy($"i").count()
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q.collect().isEmpty)
  }
}
