package graft.runtime

import org.apache.spark.sql.SparkSession

/** The engine's SQL dialect contract.
  *
  * The reference corpus (423 models, 54 snapshots) was authored against
  * dbt-spark 1.7 executing on a Spark 3.x Thrift server
  * (reference: .github/workflows/dbt-jobs-pr-tests.yaml:40,
  * production/profiles/profiles.yml:1-18), where `spark.sql.ansi.enabled`
  * defaults to FALSE — it flipped to true in Spark 4.0. The corpus relies on
  * the non-ANSI behaviors throughout:
  *
  *   - out-of-bounds array index yields NULL, not INVALID_ARRAY_INDEX — e.g.
  *     `variant.attributes.value[0]` over possibly-empty arrays
  *     (reference: models/spark/b2b_mart/fact/fact_quotes_variants.sql:19;
  *     42 model files use literal `[i]` indexing);
  *   - division by zero yields NULL, not DIVIDE_BY_ZERO — e.g.
  *     conversion-rate expressions dividing by a COUNT(DISTINCT) that is 0 on
  *     empty slices (reference:
  *     models/spark/search/success_by_relevance/search_success_aggregated.sql:26-27);
  *   - an invalid cast (`CAST('abc' AS INT)`) yields NULL, not CAST_INVALID_INPUT.
  *
  * Every session that executes model SQL must pin this dialect; a query that
  * runs under ANSI instead silently carries different error/NULL semantics
  * than production. Mains and specs build their session through
  * [[Dialect.local]], which applies [[Dialect.apply]] to the builder; the
  * runtime additionally calls [[Dialect.pin]] at execution entry points
  * as a safety net for sessions the engine did not build (ANSI is a runtime
  * SQLConf, so a live set is effective).
  *
  * [[Dialect.apply]] also installs [[LocalFs]] as Hadoop's `fs.file.impl`,
  * so local warehouse writes set file modes in-process instead of forking a
  * `chmod` per file and directory. That has to happen at build time: Hadoop
  * caches one `FileSystem` per scheme for the life of the JVM, so it is not
  * part of [[Dialect.pin]], and a session built without [[Dialect.apply]]
  * keeps Hadoop's forking default.
  *
  * It also injects [[graft.FooterBounds.EmptyScan]], the optimizer rule
  * that replaces a filter over a source [[graft.Tables]] holds with an empty
  * relation when the source's footer bounds refute it. Like the file
  * system, an optimizer rule can only be added when the session is built.
  *
  * [[Dialect.local]] is the one place for the engine's session settings:
  * every main and spec builds its local session through it and adds only
  * what it alone needs.
  */
object Dialect {
  val settings: Map[String, String] = Map(
    "spark.sql.ansi.enabled" -> "false")

  /** Apply the dialect, the local filesystem and the empty-scan rule to a
    * session builder. */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    settings.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .withExtensions(_.injectOptimizerRule(graft.FooterBounds.EmptyScan))

  /** A `local[cores]` session builder with the engine's execution settings
    * (the ones the bench times) and the dialect. */
  def local(cores: Int): SparkSession.Builder =
    apply(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // r17 (guide §1.2 "per-task work"): the Janino class cache defaults to
      // 100 entries; one pipeline query alone holds >100 live codegen units,
      // so under the default EVERY TASK recompiles its stage (~200-500 ms of
      // pure executor CPU per task, measured via per-stage executorRunTime —
      // constant across data sizes). Not a local[32] artifact: executors
      // default to the same 100, and a 100 TB run recompiles per task the
      // same way. Order-controlled A/B on the 4 pipeline queries:
      // 36.8 s -> 24.7 s (q74 12.1 -> 7.2). Memory cost is bounded (< a few
      // hundred MB of generated classes across the 80-query sweep).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // test files are ~1-10MB; default 128MB packs a whole table into one
      // scan partition and serializes the read across 32 cores
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.ui.enabled", "false"))

  /** Pin the dialect on a live session (runtime entry points). */
  def pin(spark: SparkSession): Unit =
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
}
