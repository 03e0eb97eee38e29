package graft

import java.sql.Timestamp
import graft.queries.WindowQueries

/** q16 encodes event_type's five values as ints inside the aggregate; a
  * value outside them must fail the query, not silently become NULL. */
class Q16DomainSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDir(rows: Seq[(Long, Long, String)]): String = {
    val dir = graft.runtime.TempDirs.create("graft_q16")
    rows.map { case (u, s, t) => (u, new Timestamp(s * 1000L), t) }
      .toDF("user_id", "ts", "event_type")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("an event_type outside the five encoded values fails, naming the value") {
    val dir = eventsDir(Seq((1L, 10L, "click"), (1L, 20L, "refund"), (2L, 30L, "view")))
    val e = intercept[Exception](WindowQueries.q16FirstLastPerUser(spark, dir).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("refund")), e)
  }

  test("NULL event_type still round-trips as NULL") {
    val dir = eventsDir(Seq((1L, 10L, null), (1L, 20L, "purchase"), (2L, 30L, "signup")))
    val rows = WindowQueries.q16FirstLastPerUser(spark, dir)
      .select("user_id", "first_type", "last_type").as[(Long, String, String)].collect()
      .map { case (u, first, last) => u -> (first, last) }.toMap
    assert(rows == Map(1L -> (null, "purchase"), 2L -> ("signup", "signup")))
  }
}
