package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Expression, Literal, MillisToTimestamp}
import org.apache.spark.sql.types.LongType

/** The two server-registered UDFs the reference's SQL calls but never defines
  * (reference: SURVEY.md §2.8; snapshots/spark/b2b_mart/scd2_orders_v2_snapshot.sql:47
  * `millis_to_ts_msk`, snapshots/spark/merchant/scd2_mongo_merchant.sql:24
  * `millis_to_ts`), plus the `format_time` Jinja macro
  * (reference: macros/format_time.sql:1-6).
  *
  * Implemented as native Catalyst expression trees (not Scala UDFs) so they
  * stay inside whole-stage codegen: `millis_to_ts_msk` is deliberately the
  * reference's "wrong-but-consistent" naive +3h shift — the millis are offset
  * BEFORE conversion, yielding a naive MSK wall-clock in a UTC-tagged
  * timestamp, exactly like the production convention.
  */
object TimeFunctions {
  val MskOffsetMillis: Long = 3L * 3600 * 1000

  /** epoch millis → TIMESTAMP (UTC). */
  def millisToTs(c: Column): Column = timestamp_millis(c.cast("long"))

  /** epoch millis → TIMESTAMP shifted +3h (naive MSK wall clock). */
  def millisToTsMsk(c: Column): Column =
    timestamp_millis(c.cast("long") + lit(MskOffsetMillis))

  /** Seconds → 'H:MM:SS' display string (reference: macros/format_time.sql). */
  def formatTime(c: Column): Column =
    when(c.isNull, lit(null).cast("string")).otherwise(
      concat_ws(":",
        floor(c / 3600).cast("string"),
        lpad(floor(c % 3600 / 60).cast("string"), 2, "0"),
        lpad((c % 60).cast("string"), 2, "0")))

  /** Register millis_to_ts / millis_to_ts_msk for spark.sql(...) texts, as
    * codegen-friendly expression builders (not UDFs). */
  def register(spark: SparkSession): Unit = {
    def one(f: Expression => Expression): Seq[Expression] => Expression = es => f(es.head)
    SessionFunctions.registerOnce(spark,
      "millis_to_ts" -> one(e => MillisToTimestamp(Cast(e, LongType))),
      "millis_to_ts_msk" ->
        one(e => MillisToTimestamp(Add(Cast(e, LongType), Literal(MskOffsetMillis)))))
  }
}
