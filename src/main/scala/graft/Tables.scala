package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.graft.LeafFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}

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

  /** `spark.read.parquet(paths: _*)`, resolved once per unchanged file set.
    * Resolving builds a `DataSource` and a file index and infers the schema
    * from the footers in a Spark job, a fixed cost on every `{{ source() }}`
    * otherwise. Each session keeps one entry per `location`, replaced on a
    * miss: the resolved `HadoopFsRelation`, its stamp and each file's
    * [[FooterBounds]]. The stamp is the session settings that change
    * inference plus every leaf file's (path, length, modification time),
    * taken from the relation's own file index and kept only when a fresh
    * listing agrees with it, so a file landing between the two re-resolves.
    *
    * A hit lists the root paths (a stat for a file, Spark's hidden-file
    * filter for a directory), and returns a new `LogicalRelation` over the
    * held relation, with fresh expression ids: no `DataSource`, no footer, no
    * job. A miss reads footers only for files it has not bounded before. The
    * held bounds let [[FooterBounds.EmptyScan]] prove a filter over the
    * source empty. Entries are weakly keyed on the session, but a held
    * relation refers back to its session, so they live as long as the JVM:
    * one per source the session read. A missing path fails with Spark's own
    * error. */
  def readParquet(spark: SparkSession, location: String, paths: Seq[String]): DataFrame = {
    val confs = inferenceConfs.map(spark.conf.getOption)
    val held = Option(sources(spark).get(location))
    held.filter(s => s.confs == confs && s.paths == paths && listing(spark, paths).contains(s.files))
      .map(s => spark.baseRelationToDataFrame(s.relation))
      .getOrElse {
        val df = spark.read.parquet(paths: _*)
        val fresh = df.queryExecution.analyzed.collectFirst {
          case LogicalRelation(r @ HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _),
            _, _, _, _) => (r, index)
        }.flatMap { case (r, index) =>
          val leaves = index.allFiles().map(f => stamp(f) -> f).sortBy(_._1)
          val files = leaves.map(_._1)
          Option.when(listing(spark, paths).contains(files)) {
            val known = held.fold(Map.empty[(String, Long, Long), FooterBounds.FileBounds])(_.bounds)
            val conf = spark.sessionState.newHadoopConf()
            Source(confs, paths, files, r,
              leaves.map { case (k, f) => k -> known.getOrElse(k, FooterBounds.read(f, conf)) }.toMap)
          }
        }
        fresh match {
          case Some(s) => sources(spark).put(location, s)
          case None => sources(spark).remove(location)
        }
        df
      }
  }

  private final case class Source(confs: Seq[Option[String]], paths: Seq[String],
                                  files: Seq[(String, Long, Long)], relation: HadoopFsRelation,
                                  bounds: Map[(String, Long, Long), FooterBounds.FileBounds])

  private val sessions = new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Source]]

  private def sources(spark: SparkSession): ConcurrentHashMap[String, Source] =
    sessions.synchronized(sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Source]))

  private[graft] def schemaCacheSize: Int =
    sessions.synchronized(sessions.values.asScala.map(_.size).sum)

  /** Every file's bounds of a relation this session holds, or None for any
    * other relation. */
  private[graft] def bounds(spark: SparkSession,
                            r: HadoopFsRelation): Option[Iterable[FooterBounds.FileBounds]] =
    sources(spark).values.asScala.find(_.relation eq r).map(_.bounds.values)

  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private def stamp(f: FileStatus): (String, Long, Long) =
    (f.getPath.toString, f.getLen, f.getModificationTime)

  /** The sorted stamps of the leaf files under `paths` now; None when a
    * path is gone. */
  private def listing(spark: SparkSession, paths: Seq[String]): Option[Seq[(String, Long, Long)]] =
    Try(LeafFiles(paths, spark.sessionState.newHadoopConf()).map(stamp).sorted).toOption

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
