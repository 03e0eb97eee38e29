package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-run context handed to every model builder — the engine equivalent of
  * dbt's Jinja context: `ref`, `source`, `var`, `is_incremental()`
  * (reference: SURVEY.md §2.9; vars injected by run_production.sh:20-22 —
  * start_date_ymd / end_date_ymd defaulting to yesterday/today).
  */
final case class Ctx(
    spark: SparkSession,
    warehouse: Warehouse,
    sources: SourceRegistry,
    vars: Map[String, String] = Map.empty,
    isIncremental: Boolean = false,
    /** Project macros callable from SQL-text models as `{{ name(args…) }}` —
      * the engine's macros/ directory (reference: macros/format_time.sql:1-6);
      * parse definitions with [[SqlTemplater.parseMacros]]. */
    macros: Map[String, SqlTemplater.MacroDef] = Map.empty) {

  /** dbt `{{ ref('model') }}` — read another model's materialized output. */
  def ref(name: String): DataFrame = warehouse.read(name)

  /** dbt `{{ source('schema','table') }}` — read an external table. */
  def source(schema: String, table: String): DataFrame = sources.resolve(spark, schema, table)

  /** dbt `{{ var('k') }}` with required presence. */
  def varOf(k: String): String =
    vars.getOrElse(k, throw new IllegalArgumentException(s"undefined var '$k'"))

  def varOr(k: String, default: String): String = vars.getOrElse(k, default)

  def startDate: String = varOr("start_date_ymd", "1970-01-01")
}

/** External-source resolution (reference: ~276 source tables declared in 3
  * sources.yml files; SURVEY.md §2.1). Register providers per (schema, table);
  * a default provider can map any (schema, table) — e.g. the testdata dir. */
final class SourceRegistry(
    default: Option[(String, String) => DataFrame] = None) {

  private val providers =
    scala.collection.concurrent.TrieMap.empty[(String, String), SparkSession => DataFrame]
  @volatile private var declarations: Option[Map[String, Set[String]]] = None

  def register(schema: String, table: String)(p: SparkSession => DataFrame): Unit =
    providers.put((schema, table), p)

  /** Load sources.yml declarations (see [[SourcesYaml]]); once set, every
    * resolve of an UNDECLARED (schema, table) fails — dbt's compile-time
    * "source not found" contract. */
  def requireDeclared(decls: Map[String, Set[String]]): Unit =
    declarations = Some(decls)

  def resolve(spark: SparkSession, schema: String, table: String): DataFrame = {
    for (d <- declarations)
      if (!d.get(schema).exists(_.contains(table)))
        throw new IllegalArgumentException(
          s"source $schema.$table is not declared in sources.yml")
    providers.get((schema, table)).map(_(spark))
      .orElse(default.map(_(schema, table)))
      .getOrElse(throw new IllegalArgumentException(s"unknown source $schema.$table"))
  }
}

object SourceRegistry {
  /** Registry over a driver-testdata directory: any schema, table = file name. */
  def overDir(spark: SparkSession, dir: String): SourceRegistry =
    new SourceRegistry(Some((_, table) => graft.Tables(spark, dir, table)))
}
