package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions.{col, max_by, min_by}
import graft.queries.WindowQueries

/** q16 aggregates event_type through the exact string code
  * (`functions.ArgCode`): any value of at most 15 UTF-8 bytes must come back
  * as a plain MIN_BY/MAX_BY over the string would return it, and a longer one
  * must fail the query, not come back altered. */
class Q16DomainSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDir(rows: Seq[(Long, Long, String)]): String = {
    val dir = graft.runtime.TempDirs.create("graft_q16")
    rows.map { case (u, s, t) => (u, new Timestamp(s * 1000L), t) }
      .toDF("user_id", "ts", "event_type")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def firstLast(dir: String): Map[Long, (String, String)] =
    WindowQueries.q16FirstLastPerUser(spark, dir)
      .select("user_id", "first_type", "last_type").as[(Long, String, String)].collect()
      .map { case (u, first, last) => u -> (first, last) }.toMap

  test("an unseen, empty or multi-byte event_type equals a plain min_by/max_by") {
    val dir = eventsDir(Seq(
      (1L, 10L, "click"), (1L, 20L, "refund"),
      (2L, 30L, ""), (2L, 40L, "ошибка"),
      (3L, 50L, "ошибка"), (3L, 60L, "view"), (3L, 70L, "")))
    val plain = Tables(spark, dir, "events").groupBy(col("user_id"))
      .agg(min_by(col("event_type"), col("ts_ns")), max_by(col("event_type"), col("ts_ns")))
      .as[(Long, String, String)].collect()
      .map { case (u, first, last) => u -> (first, last) }.toMap
    assert(plain == Map(1L -> ("click", "refund"), 2L -> ("", "ошибка"), 3L -> ("ошибка", "")))
    assert(firstLast(dir) == plain)
  }

  test("a 16-byte event_type fails, naming the value") {
    val dir = eventsDir(Seq((1L, 10L, "click"), (1L, 20L, "refund_requested")))
    val e = intercept[Exception](WindowQueries.q16FirstLastPerUser(spark, dir).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("refund_requested")), e)
  }

  test("NULL event_type still round-trips as NULL") {
    val dir = eventsDir(Seq((1L, 10L, null), (1L, 20L, "purchase"), (2L, 30L, "signup")))
    assert(firstLast(dir) == Map(1L -> (null, "purchase"), 2L -> ("signup", "signup")))
  }
}
