package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference is a pure daily-batch
  * warehouse (SURVEY.md §2.12 — no streams anywhere), so nothing here is
  * parity work; it is the engine's forward path: the same event tables as
  * unbounded streams, with watermarks + session/tumbling windows mirroring
  * the batch operators (Sessionize, windowed aggs).
  */
object Streaming {

  /** Schema of the raw events parquet with the `ts` physical type the file
    * actually carries (TIMESTAMP(NANOS) reads as nanos BIGINT under
    * spark.sql.legacy.parquet.nanosAsLong; TIMESTAMP(MICROS) reads natively)
    * — the streaming file source needs an explicit schema, so take it from
    * the batch source's footer schema. */
  def rawEventsSchema(spark: SparkSession, dir: String): StructType = {
    val path = s"$dir/events.parquet"
    val tsType = graft.Tables.readParquet(spark, path, Seq(path)).schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** The events table as an unbounded stream (file source), normalized to
    * the same (ts: timestamp, ts_ns: long) convention as graft.Tables. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeEvents(
      spark.readStream.schema(rawEventsSchema(spark, dir))
        .option("pathGlobFilter", "events.parquet") // file source needs a directory
        .parquet(dir))

  /** Gap-based sessionization via native session_window — the streaming twin
    * of [[graft.ops.Sessionize]] (reference batch shape:
    * models/spark/onfy/onfy_sessions.sql:120-180). State is bounded by the
    * watermark; at scale this shuffles once on user_id like the batch window. */
  def sessionAggs(events: DataFrame, gap: String = "30 minutes",
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("session_value"))

  /** Tumbling-window per-type counts with late-data watermark. */
  def minuteCounts(events: DataFrame, window: String = "5 minutes",
                   watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("v"))

  /** Custom streaming state via mapGroupsWithState: per-user running event
    * count + first-seen timestamp, emitted as an update stream — the
    * arbitrary-stateful-processing shape (e.g. online feature aggregation)
    * that windows can't express.
    *
    * @param stateTtl idle-key state TTL (processing-time timeout): a key
    *   idle past the TTL is dropped (its final state emitted) and starts
    *   fresh on its next event. On an unbounded key space `None` keeps
    *   per-user state forever — the classic state leak — so real deployments
    *   should set a TTL. It stays opt-in because processing-time timers make
    *   Spark schedule batches indefinitely, so `processAllAvailable`-style
    *   synchronization (this repo's bounded smoke harness) never settles
    *   under a TTL. */
  def statefulUserCounts(events: DataFrame,
                         stateTtl: Option[String] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val timeout = stateTtl.map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    events.select(col("user_id").as[Long], col("ts_ns").as[Long])
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(timeout) {
        (user: Long, rows: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val expired = state.get
            state.remove()
            (user, expired._1, expired._2)
          } else {
            val batch = rows.toSeq
            val (prevN, prevFirst) =
              state.getOption.getOrElse((0L, Long.MaxValue))
            val next = (prevN + batch.size, math.min(prevFirst, batch.map(_._2).min))
            state.update(next)
            stateTtl.foreach(state.setTimeoutDuration)
            (user, next._1, next._2)
          }
      }
      .toDF("user_id", "n_events", "first_ts_ns")
  }

  /** Schema of the documents parquet (training-corpus table). */
  val rawDocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The documents table as an unbounded stream — the ingestion-time view a
    * continuously-crawled training corpus would present. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(rawDocumentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Ingestion-time exact dedup: first document per content hash survives —
    * the streaming twin of [[graft.ops.Dedup.exact]]'s grouping, keyed on
    * the same null-safe content hash so the shuffle key is 64 hex chars,
    * never the text. dropDuplicates keeps per-key state; on an unbounded
    * crawl pair it with `withWatermark` + dropDuplicatesWithinWatermark (or
    * periodic state TTL) to bound state — exact global dedup at 100TB is a
    * batch job by nature, and this operator is the stream-side guard that
    * keeps obvious re-crawls out of the lake. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.ops.Dedup.contentKey(col("text")).as("content_sha"))
      .dropDuplicates("content_sha")

  /** Micro-batch upsert sink: each batch key-dedupes (latest `orderCol`
    * version wins) and merges into a warehouse table via
    * [[graft.runtime.Warehouse.mergeUpsert]] — the streaming-CDC ingestion
    * shape (Delta runs MERGE per micro-batch the same way). Restart safety:
    * merge is idempotent per batch (same keys → same rows), so a replayed
    * micro-batch converges instead of duplicating — the property an append
    * sink does NOT have. At scale each batch's rewrite is partition-pruned
    * exactly like the batch merge (SCALE.md merge probe). */
  def upsertSink(stream: DataFrame, wh: graft.runtime.Warehouse, table: String,
                 uniqueKey: Seq[String], orderCol: String,
                 partitionBy: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.expressions.Window
        // latest version per key within the batch (merge requires key-unique
        // increments, same as dbt merge)
        val keyed = batch.withColumn("__rn",
            row_number().over(Window.partitionBy(uniqueKey.map(col): _*)
              .orderBy(col(orderCol).desc)))
          .filter(col("__rn") === 1).drop("__rn")
        wh.mergeUpsert(table, keyed, uniqueKey, partitionBy)
      }
      .start()

  /** Drive a (bounded) stream to completion into an in-memory table and
    * return its content — batch parquet drives the streaming query, the
    * local smoke pattern for streaming jobs. */
  def runToMemory(df: DataFrame, name: String,
                  outputMode: String = "complete"): DataFrame = {
    val q = df.writeStream.outputMode(outputMode)
      .format("memory").queryName(name).start()
    try { q.processAllAvailable() } finally { q.stop() }
    df.sparkSession.table(name)
  }
}
