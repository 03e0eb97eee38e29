package graft.runtime

import org.apache.spark.sql.DataFrame

/** Model + materialization metadata — the engine-level equivalent of the
  * reference's dbt node configs (reference: dbt_project.yml;
  * models/spark/gold/gold_orders.sql:1-17 `config(materialized='incremental',
  * incremental_strategy='insert_overwrite', partition_by=[...],
  * on_schema_change='sync_all_columns', file_format='parquet')`).
  */
sealed trait Materialization
object Materialization {
  /** Full rebuild CTAS (reference: materialized='table', 153 models).
    * @param orderBy global ORDER BY sink — total output order across part
    *   files (reference: ~690 trailing ORDER BY sites, e.g.
    *   models/spark/onfy/onfy_sessions.sql:199 `DISTRIBUTE BY` tail). */
  final case class Table(partitionBy: Seq[String] = Nil,
                         orderBy: Seq[String] = Nil) extends Materialization

  /** Named lazy plan, re-expanded at read (reference: materialized='view', 108 models). */
  case object View extends Materialization

  /** Dynamic-partition insert-overwrite (reference: 158 models,
    * incremental_strategy='insert_overwrite'). Models receive
    * `ctx.isIncremental` and add their own lookback filter. */
  final case class IncrementalInsertOverwrite(
      partitionBy: Seq[String],
      onSchemaChange: OnSchemaChange = OnSchemaChange.Ignore) extends Materialization

  /** Pure row append (reference: incremental_strategy='append',
    * models/spark/mart/fact_table_update.sql:8). */
  final case class IncrementalAppend(partitionBy: Seq[String] = Nil) extends Materialization

  /** Key-based upsert — the engine's stand-in for the Delta MERGE behind the
    * reference's 197 delta-format models (reference:
    * macros/spark_adapter_patch/create_table.sql:29-34; dbt-spark
    * incremental_strategy='merge' + unique_key on delta relations).
    * A keyed merge always writes the transaction log, at file granularity
    * ([[Warehouse.mergeUpsert]]). */
  /** @param incrementPartitionsOnly dbt incremental_predicates analogue:
    *   skip the whole-table matched-key probe and rewrite only the
    *   increment's partitions (valid when keys never change partition). */
  final case class IncrementalMerge(
      uniqueKey: Seq[String],
      partitionBy: Seq[String] = Nil,
      onSchemaChange: OnSchemaChange = OnSchemaChange.Ignore,
      incrementPartitionsOnly: Boolean = false) extends Materialization

  /** SCD2 snapshot (reference: 54 snapshots under snapshots/spark/). */
  final case class Snapshot(
      uniqueKey: String,
      strategy: Scd2Strategy,
      invalidateHardDeletes: Boolean = false) extends Materialization
}

/** reference: on_schema_change — sync_all_columns (15) / append_new_columns (6)
  * / ignore (1), models/spark/gold/gold_orders.sql:8. */
sealed trait OnSchemaChange
object OnSchemaChange {
  case object Ignore extends OnSchemaChange
  case object AppendNewColumns extends OnSchemaChange
  case object SyncAllColumns extends OnSchemaChange
}

/** reference: snapshot strategies `timestamp` (42) and `check` (12, incl.
  * check_cols='all'), snapshots/spark/b2b_mart/scd2_orders_v2_snapshot.sql:1-17. */
sealed trait Scd2Strategy
object Scd2Strategy {
  final case class Timestamp(updatedAt: String) extends Scd2Strategy
  /** checkCols = Nil means check ALL non-key payload columns. */
  final case class Check(checkCols: Seq[String]) extends Scd2Strategy
}

/** One transformation node: name + builder + materialization + DAG metadata.
  * The builder is the engine-native analogue of a compiled dbt model body;
  * `deps` lists the `ref()`s (sources resolve through the registry and are
  * not DAG nodes, like the reference's `source()`).
  */
final case class Model(
    name: String,
    build: Ctx => DataFrame,
    materialization: Materialization = Materialization.Table(),
    deps: Seq[String] = Nil,
    tags: Set[String] = Set.empty,
    meta: Map[String, String] = Map.empty,
    /** reference: `file_format` config — [[DagRunner.materialize]] hands
      * it to [[Warehouse.routeFormat]]: 'delta' (197 models) writes through
      * the [[graft.plans.TxLog]] transaction log; anything else is plain
      * parquet, except a keyed merge, which writes the log too. */
    fileFormat: String = "parquet")
