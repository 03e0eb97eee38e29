package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Source registry over the driver-provided parquet test tables.
  *
  * Mirrors the reference's `{{ source('schema','table') }}` resolution
  * (reference: models/spark/sources.yml:1-211) — a name → relation lookup —
  * but Spark-native: each table is a lazily-planned parquet scan, so Catalyst
  * predicate pushdown / column pruning reach the file scan directly.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one named table from an sf directory (e.g. /root/testdata/sf0.01).
    * `events` is normalized via [[normalizeEvents]] so every consumer sees
    * the same (`ts`: TimestampType, `ts_ns`: nanos BIGINT) pair regardless
    * of how the driver generated the file. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = readParquet(spark, path, Seq(path))
    if (name == "events") normalizeEvents(df) else df
  }

  /** `spark.read.parquet(paths: _*)`, with the schema inferred once per
    * unchanged file set: inference reads parquet footers in a Spark job
    * (`SchemaMergeUtils.mergeSchemasInParallel`), a fixed cost on every
    * `{{ source() }}` otherwise. A cached schema is used while its stamp
    * holds: the session settings that change inference, and every leaf
    * file's (path, length, modification time) in the file listing of the
    * DataFrame returned, so the stamp and the read share one listing and a
    * changed file set (new data landing) re-infers instead of being read
    * with a stale schema. The cache keeps one entry per `location`,
    * replaced on a miss, so a long-lived session holds one per source. It
    * keeps only the `StructType`, never a DataFrame, which would pin its
    * file listing. A missing path fails with Spark's own error. */
  def readParquet(spark: SparkSession, location: String, paths: Seq[String]): DataFrame = {
    val confs = inferenceConfs.map(spark.conf.getOption)
    val hit = schemaCache.get(location).collect {
      case (c, files, schema) if c == confs => (files, spark.read.schema(schema).parquet(paths: _*))
    }.collect { case (files, df) if leafFiles(df).contains(files) => df }
    hit.getOrElse {
      val df = spark.read.parquet(paths: _*)
      leafFiles(df).foreach(files => schemaCache.put(location, (confs, files, df.schema)))
      df
    }
  }

  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[Option[String]], Seq[(String, Long, Long)], StructType)]
  private[graft] def schemaCacheSize: Int = schemaCache.size

  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** The (path, length, modification time) of every file `df` scans, from
    * the file index its relation already listed. */
  private def leafFiles(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }.collect {
      case r: HadoopFsRelation => r.location
    }.collect { case index: PartitioningAwareFileIndex =>
      index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    }

  /** Normalize the events table's `ts` column, adaptively by physical type:
    *
    *   - parquet TIMESTAMP(NANOS): Spark reads it as a raw nanos BIGINT
    *     (requires `spark.sql.legacy.parquet.nanosAsLong=true`, set in
    *     Verify/Bench/test sessions). `ts` = micros floor-truncation
    *     (`div 1000` integer division — double division would lose
    *     precision at 1e18 ns); `ts_ns` = the raw long.
    *   - parquet TIMESTAMP(MICROS) (NTZ or not): read natively. `ts` =
    *     cast to TimestampType (identity under the pinned UTC session
    *     timezone); `ts_ns` = `unix_micros(ts) * 1000`, matching DuckDB's
    *     `epoch_ns(ts)` on the same file — the oracle contract.
    *
    * Works on batch and streaming DataFrames alike (pure column ops). */
  def normalizeEvents(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
  }

  /** Register every table as a temp view so spark.sql(...) models resolve. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
