package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import graft.queries.Scd2Queries

/** The SCD2 staging aggregates take each customer's last `o_orderstatus`
  * through the exact string code (`functions.ArgCode`), so any status reads
  * back unchanged from the snapshot history: the empty string and a code
  * point above 255 included, through q53's DataFrame staging and through
  * q80's snapshot SQL text. */
class Scd2StatusCodeSpec extends SparkSpec {
  import spark.implicits._

  private def ordersDir(rows: Seq[(Long, Long, String, String)]): String = {
    val dir = graft.runtime.TempDirs.create("graft_scd2_status")
    rows.map { case (k, c, status, day) =>
      (k, c, status, 10.0 * k, Timestamp.valueOf(s"$day 00:00:00"))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  // customer 1 moves '' → '✓' after the first run's 1998-01-01 cutoff,
  // customer 2 keeps '✓', customer 3 first appears with ''
  private lazy val dir = ordersDir(Seq(
    (1L, 1L, "", "1997-06-01"), (2L, 1L, "✓", "1999-03-01"),
    (3L, 2L, "✓", "1997-01-01"), (4L, 3L, "", "1999-01-01")))

  private val expected = Set(
    (1L, "", "1999-03-01"), (1L, "✓", "open"), (2L, "✓", "open"), (3L, "", "open"))

  private def history(df: DataFrame): Set[(Long, String, String)] =
    df.select("_id", "status", "valid_to").as[(Long, String, String)].collect().toSet

  test("q53: an empty and a non-Latin-1 status read back unchanged") {
    assert(history(Scd2Queries.q53Scd2Pipeline(spark, dir)) == expected)
  }

  test("q80: an empty and a non-Latin-1 status read back unchanged") {
    assert(history(Scd2Queries.q80SnapshotFile(spark, dir)) == expected)
  }
}
