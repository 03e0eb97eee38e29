package graft.runtime

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{JObject, JString}

/** Managed-table store: the engine's stand-in for the reference's Hive
  * metastore + S3 warehouse (reference: CTAS through
  * macros/spark_adapter_patch/create_table.sql:23-43).
  *
  * Tables are parquet directories under `root` (or transaction-log tables,
  * see [[routeFormat]]); views are named lazy plans. A parquet table's data
  * is replaced only by one write staged beside it ([[stagedWrite]]).
  * A `_schema.json` sidecar pins each table's canonical column set so
  * `on_schema_change` policies (sync/append/ignore) work over immutable
  * parquet files: reads apply it, null-filling dropped/added columns.
  *
  * Scale note: all writes `repartition` on the partition columns first —
  * the automatic equivalent of the reference's 28 hand-written
  * `DISTRIBUTE BY` sites (SURVEY.md §4) — so each output partition is
  * written by few tasks and small-file explosion is avoided.
  */
final class Warehouse(val spark: SparkSession, val root: String) {

  /** The earlier signature, kept only for the benchmark harness: the flag
    * chose whether 'delta' models wrote the log, which they now always do. */
  def this(spark: SparkSession, root: String, logFormatEnabled: Boolean) = this(spark, root)

  // Every model execution reads/writes through a Warehouse, so this is the
  // runtime chokepoint for the reference's non-ANSI dialect (see [[Dialect]]).
  Dialect.pin(spark)

  /** A registered view: the lazy plan's BUILDER plus the plan as last
    * derived. A built DataFrame captures its upstream tables' file listings
    * (InMemoryFileIndex snapshots at plan-build time), so after ANY table
    * mutation the cached plan may chase deleted part files — re-derive from
    * the builder instead (true lazy-view semantics). Builder-less entries
    * (tests registering a literal frame) keep the frame as-is. The plan and
    * the mutation epoch read BEFORE its builder ran are published together:
    * a write that ends while the builder runs leaves the entry behind the
    * epoch, so the next read re-derives. */
  private final class ViewEntry(val build: Option[() => DataFrame],
                                @volatile var derived: (DataFrame, Long))
  private val views = scala.collection.concurrent.TrieMap.empty[String, ViewEntry]
  // AtomicLong, not a @volatile var: DagRunner materializes models in
  // parallel, and two concurrent writes collapsing into one increment would
  // let a racing read observe an already-matching epoch and serve a view
  // plan still pinning the pre-mutation file listing. Every write moves the
  // epoch when it ENDS (in a finally, so also when it fails part-way): a
  // view derived while a write runs has listed the files before its commit
  // and re-derives, and a view derived before an independent model's write
  // started is not re-derived for it until that write has ended.
  private val mutationEpochCtr = new java.util.concurrent.atomic.AtomicLong(0L)
  private def mutationEpoch: Long = mutationEpochCtr.get()
  private def noteMutation(): Unit = mutationEpochCtr.incrementAndGet()

  def tablePath(name: String): String = s"$root/$name"

  private def schemaPath(name: String): Path = Paths.get(tablePath(name), "_schema.json")

  def tableExists(name: String): Boolean =
    views.contains(name) || Files.exists(Paths.get(tablePath(name)))

  def registerView(name: String, df: DataFrame): Unit =
    views.put(name, new ViewEntry(None, (df, mutationEpoch)))

  /** Register a view with its builder so the plan re-derives after table
    * mutations instead of serving a stale captured file listing. */
  def registerView(name: String, build: () => DataFrame): Unit =
    views.put(name, new ViewEntry(Some(build), derive(build)))

  private def derive(build: () => DataFrame): (DataFrame, Long) = {
    val epoch = mutationEpoch
    (build(), epoch)
  }

  /** Remove a table or view entirely (e.g. corpus-execute fixpoint passes
    * rebuild every node from scratch so schema growth never has to merge
    * into last pass's files). */
  def drop(name: String): Unit = try {
    views.remove(name)
    // a dropped name must also forget its log routing — a later plain
    // createTable for the same name (e.g. a materialization change across
    // corpus fixpoint passes) would otherwise silently write a
    // transaction-log table instead of parquet
    logRouted.remove(name)
    val p = Paths.get(tablePath(name))
    if (Files.exists(p)) TempDirs.deleteTree(p)
    // Spark's shared FileStatusCache has no TTL: a reader planning against
    // this path after a drop+rewrite would otherwise chase deleted part
    // files (FAILED_READ_FILE on corpus mid-pass upstream refreshes)
    try spark.catalog.refreshByPath(p.toString)
    catch { case scala.util.control.NonFatal(_) => }
  } finally noteMutation()

  /** Read a managed table or view. Tables with a `_schema.json` sidecar are
    * read with that canonical schema applied directly — no per-file footer
    * sweep (`mergeSchema`), which at 100TB is a full listing+footer read per
    * query for information the engine already persisted. The parquet reader
    * null-fills columns absent from older files (append_new_columns) and
    * ignores file columns outside the canonical set (ignore policy), which is
    * exactly what the old merge-then-project path computed. Only sidecar-less
    * directories (externally created) fall back to mergeSchema. A log-backed
    * table reads its manifest's live files through one
    * [[graft.plans.ManifestFileIndex]] with the same canonical schema and
    * projection, so its partition predicates prune files too. */
  def read(name: String): DataFrame = views.get(name) match {
    case Some(v) =>
      if (v.derived._2 != mutationEpoch) v.build.foreach(b => v.derived = derive(b))
      v.derived._1
    case None if isLogBacked(name) => readLogCanonical(name)
    case None =>
      canonicalSchema(name) match {
        case Some(schema) =>
          // partition columns surface last regardless of the given schema;
          // project back to canonical order (no extra I/O, plan-only)
          spark.read.schema(schema).parquet(tablePath(name))
            .select(schema.fieldNames.toSeq.map(col): _*)
        case None => spark.read.option("mergeSchema", "true").parquet(tablePath(name))
      }
  }

  def canonicalSchema(name: String): Option[StructType] = {
    val p = schemaPath(name)
    if (Files.exists(p)) Some(DataType.fromJson(Files.readString(p)).asInstanceOf[StructType])
    else None
  }

  private def writeSchema(name: String, schema: StructType): Unit = {
    Files.createDirectories(Paths.get(tablePath(name)))
    Files.writeString(schemaPath(name), schema.json)
  }

  /** r18 (guide §6 / §2, Profile finding): `repartition(cols)` without an
    * explicit count is AQE-coalescible, and for the aggregate-sized outputs
    * most models write, AQE merges the whole exchange into ONE task — which
    * then creates every partition directory's file SERIALLY (q62's
    * fact_cells: one 2.5 s task opening ~160 parquet files; q30/q47/q66/q81
    * same shape). An explicit count pins write parallelism: each partition
    * VALUE still hashes to exactly one task (files per directory unchanged,
    * no small-file regression), but distinct values spread across tasks so
    * the per-file open/footer latency is paid in parallel. The count is the
    * session's shuffle-partition conf — the cluster-tuned knob, not a local
    * constant (the bench sets it to the core count; a 100 TB run sets it to
    * the cluster's reducer count). */
  private def writeParallelism: Int = spark.sessionState.conf.numShufflePartitions

  private def distributeForWrite(df: DataFrame, partitionBy: Seq[String]): DataFrame =
    if (partitionBy.isEmpty) df else df.repartition(writeParallelism, partitionBy.map(col): _*)

  /** Names whose writes go to the transaction-log format, set per model by
    * [[routeFormat]]. Every write method dispatches on it; reads auto-route
    * via [[isLogBacked]]. */
  private val logRouted = scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Pick the table format of `name`'s writes from its model: a
    * `file_format='delta'` model (197 reference models, all 54 snapshots)
    * and every keyed merge write the [[graft.plans.TxLog]] log, whatever a
    * merge declares (dbt-spark runs merge on delta tables only); anything
    * else clears a route left by an earlier materialization of the same
    * name and writes parquet. */
  def routeFormat(name: String, fileFormat: String, keyedMerge: Boolean = false): Unit =
    if (fileFormat == "delta" || keyedMerge) logRouted.put(name, ())
    else logRouted.remove(name)

  /** Full-rebuild CTAS (reference: materialized='table'), also every other
    * full replace: an incremental model's first run, an unpartitioned
    * insert_overwrite, an SCD2 advance. A parquet table is replaced whole by
    * [[stagedWrite]]; on either format the docs keep only the columns (and
    * the table comment) that survive the replace.
    *
    * @param orderBy global ORDER BY sink (reference: ~690 cosmetic trailing
    *   `ORDER BY` sites): range-partition + per-partition sort, so part files
    *   hold disjoint ordered ranges in file-name order. */
  def createTable(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
                  orderBy: Seq[String] = Nil): Unit = try {
    val out =
      if (orderBy.nonEmpty) df.orderBy(orderBy.map(col): _*)
      else distributeForWrite(df, partitionBy)
    if (logRouted.contains(name)) {
      // TxLog.overwrite IS an atomic full replace (tombstone-all + add-new
      // in one commit), with history/time-travel kept
      graft.plans.TxLog.overwrite(logPath(name), out, partitionBy)
      writeSchema(name, df.schema)
      pruneDocs(name, df.schema)
    } else stagedWrite(name, out, partitionBy, partitioned = false)
  } finally noteMutation()

  /** The one way a parquet table's data is replaced: `out` is written once to
    * a hidden `.staging_<table>` directory beside the table (a failed write
    * leaves the table untouched, and the write may read it), then published.
    * Not `partitioned`: `out`'s schema and its [[survivingDocs]] ship inside
    * the staged directory, which replaces the table by delete and rename.
    * `partitioned`: each leaf partition directory written replaces its live
    * one the same way, one at a time (a crash in between leaves some
    * partitions new). Renames are atomic on local disk and HDFS only; object
    * stores need the log. */
  private def stagedWrite(name: String, out: DataFrame, partitionBy: Seq[String],
                          partitioned: Boolean): Unit = {
    val target = Paths.get(tablePath(name))
    val staged = target.resolveSibling(s".staging_${target.getFileName}")
    try {
      val w = out.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(staged.toString)
      if (!partitioned) {
        // sidecars ship INSIDE the staged directory, so the rename publishes a
        // complete table; underscore-prefixed files are invisible to Spark's
        // listing, so the staged dir stays a valid parquet directory
        Files.writeString(staged.resolve("_schema.json"), out.schema.json)
        val kept = survivingDocs(name, out.schema)
        if (kept.nonEmpty) Files.writeString(staged.resolve("_docs.json"), serializeDocs(kept))
      }
    } catch { case e: Throwable =>
      if (Files.exists(staged)) TempDirs.deleteTree(staged)
      throw e
    }
    // the commit point; a failure from here on keeps the staged copy. The
    // whole table is the one leaf "", partitions a listing (no Spark job)
    val leaves = if (!partitioned) Seq("") else {
      val walk = Files.walk(staged, partitionBy.size)
      try walk.iterator().asScala.map(staged.relativize(_)).filter(r =>
        r.getNameCount == partitionBy.size && r.getFileName.toString.contains("=") &&
          Files.isDirectory(staged.resolve(r))).map(_.toString).toList
      finally walk.close()
    }
    leaves.foreach { rel =>
      val live = target.resolve(rel)
      if (Files.exists(live)) TempDirs.deleteTree(live)
      Files.createDirectories(live.getParent)
      Files.move(staged.resolve(rel), live, StandardCopyOption.ATOMIC_MOVE)
    }
    if (partitioned) TempDirs.deleteTree(staged)
    // Spark's write re-cached the staging path, not the table: a frame
    // cached over the old files re-caches over the new ones here
    spark.catalog.refreshByPath(target.toString)
  }

  /** Dynamic-partition insert-overwrite: only partitions present in `df` are
    * replaced (reference: incremental_strategy='insert_overwrite' under
    * Spark's dynamic partition-overwrite conf, which no write here sets: a
    * parquet table publishes a [[stagedWrite]]'s partitions). */
  def insertOverwritePartitions(name: String, df: DataFrame, partitionBy: Seq[String],
                                onSchemaChange: OnSchemaChange): Unit = {
    val existed = tableExists(name)
    alignSchema(name, df, onSchemaChange) { aligned =>
      // dbt-spark semantics: insert_overwrite without partition_by replaces
      // the whole table (reference: dsa_orders.sql declares exactly this)
      if (partitionBy.isEmpty) createTable(name, aligned)
      else unlessEmpty(existed, aligned) {
        val out = distributeForWrite(aligned, partitionBy)
        if (logRouted.contains(name))
          graft.plans.TxLog.overwritePartitions(logPath(name), out, partitionBy)
        else stagedWrite(name, out, partitionBy, partitioned = true)
      }
    }
  }

  /** Run an increment's `write` and move the mutation epoch, unless the table
    * `existed` and the increment is provably empty: its optimized plan is an
    * empty relation, proven without running it (a source filter refuted by
    * footer bounds, a false predicate, an empty local frame). Writing nothing
    * into an existing table leaves it as it was, so the skip makes no
    * staging directory, no log commit and no mutation. */
  private def unlessEmpty(existed: Boolean, increment: DataFrame)(write: => Unit): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{EmptyRelation, LocalRelation}
    val empty = existed && (increment.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.isEmpty
      case _: EmptyRelation => true
      case _ => false
    })
    if (!empty) try write finally noteMutation()
  }

  /** Key-based upsert: the Delta `MERGE INTO … WHEN MATCHED THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT *` that dbt-spark emits for
    * incremental_strategy='merge' with a unique_key, which it runs on delta
    * relations only (reference: macros/spark_adapter_patch/create_table.sql:29-34
    * `create or replace table … using delta`). [[routeFormat]] puts every
    * keyed merge on the log, so an existing table must be log-backed: a
    * parquet table from an earlier materialization of the name fails,
    * naming it (a full refresh rebuilds it on the log). The merge itself is
    * [[mergeUpsertLog]].
    *
    * Contract (same as dbt merge): the increment must be unique on
    * `uniqueKey`; reference models guarantee this with their ROW_NUMBER dedup
    * CTEs (models/spark/gold/gold_orders.sql:20-85). */
  def mergeUpsert(name: String, df: DataFrame, uniqueKey: Seq[String],
                  partitionBy: Seq[String],
                  onSchemaChange: OnSchemaChange = OnSchemaChange.Ignore,
                  incrementPartitionsOnly: Boolean = false): Unit =
    if (!tableExists(name)) createTable(name, df, partitionBy)
    else if (uniqueKey.isEmpty)
      // dbt-spark merge without unique_key is insert-only (WHEN NOT MATCHED
      // INSERT): nothing can match, so it degrades to append (reference
      // archetype: models/spark/junk2/dbt_test.sql — bare incremental config)
      alignSchema(name, df, onSchemaChange)(append(name, _, partitionBy))
    else {
      if (!isLogBacked(name)) throw new IllegalStateException(
        s"mergeUpsert($name): $name at ${tablePath(name)} is not a transaction-log " +
          "table; a keyed merge writes the log only, so rebuild it with a full refresh")
      alignSchema(name, df, onSchemaChange) { aligned =>
        unlessEmpty(existed = true, aligned) {
          mergeUpsertLog(name, aligned, uniqueKey, partitionBy, incrementPartitionsOnly)
        }
      }
    }

  /** `col=value/...` relative path of one partition, hive-escaped: the
    * directory Spark's writer names it by, whose segments a log table's
    * manifest keeps as the partition values ([[graft.plans.TxLog.partitionValues]]).
    *
    * Value rendering MUST match what Spark's dynamic-partition writer put on
    * disk: `Cast(col, StringType, sessionLocalTimeZone)` fed through
    * `ExternalCatalogUtils.getPartitionPathString` (see Spark's
    * `FileFormatDataWriter.partitionPathExpression`). `Row.get(i).toString`
    * diverges for typed columns — `java.sql.Timestamp.toString` appends
    * ".0" for whole seconds, so a timestamp-partitioned merge would compute
    * values no manifest entry has and prune every candidate file away. */
  private def partitionDir(partitionBy: Seq[String],
                           r: org.apache.spark.sql.Row): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    partitionBy.zipWithIndex.map { case (c, i) =>
      val v = r.get(i)
      val str =
        if (v == null) null
        else Option(Cast(Literal(v), StringType,
          Option(spark.sessionState.conf.sessionLocalTimeZone)).eval(null))
          .map(_.toString).orNull
      ExternalCatalogUtils.getPartitionPathString(c, str)
    }.mkString("/")
  }

  /** Row append (reference: incremental_strategy='append'). */
  def append(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val existed = tableExists(name)
    alignSchema(name, df, OnSchemaChange.Ignore) { aligned =>
      unlessEmpty(existed, aligned) {
        if (logRouted.contains(name)) graft.plans.TxLog.append(logPath(name), aligned, partitionBy)
        else {
          val w = aligned.write.mode(SaveMode.Append)
          (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tablePath(name))
        }
      }
    }
  }

  /** Docs persistence (reference: persist_docs + alter_column_comment,
    * dbt_project.yml:43-45, macros/spark_adapter_patch/alter_column_comment.sql):
    * table + column comments stored in a sidecar and surfaced as field
    * metadata (`comment`) on read. Replaced by rename, so a crash never
    * leaves a half-written sidecar for [[docs]] to fail on. */
  def setDocs(name: String, tableComment: String,
              columnComments: Map[String, String]): Unit =
    writeDocs(name, Map("__table__" -> tableComment) ++ columnComments)

  private def writeDocs(name: String, m: Map[String, String]): Unit = {
    val tmp = Files.writeString(Paths.get(tablePath(name), "_docs.json.tmp"), serializeDocs(m))
    Files.move(tmp, tmp.resolveSibling("_docs.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** `name`'s docs that a full replace by `schema` keeps: the table comment
    * and the comments of columns `schema` still has. */
  private def survivingDocs(name: String, schema: StructType): Map[String, String] =
    docs(name).filter { case (k, _) => k == "__table__" || schema.fieldNames.contains(k) }

  /** Drop from `name`'s docs sidecar every column `schema` no longer has. */
  private def pruneDocs(name: String, schema: StructType): Unit = {
    val kept = survivingDocs(name, schema)
    if (kept != docs(name)) writeDocs(name, kept)
  }

  private def serializeDocs(m: Map[String, String]): String =
    Json.write(JObject(m.toList.map { case (k, v) => k -> JString(v) }))

  def docs(name: String): Map[String, String] = {
    val p = Paths.get(tablePath(name), "_docs.json")
    if (!Files.exists(p)) Map.empty
    else Json.read(Files.readString(p)) match {
      case JObject(kvs) => kvs.collect { case (k, JString(v)) => k -> v }.toMap
      case other => throw new IllegalStateException(s"$p is not a JSON object: $other")
    }
  }

  /** Partition columns as laid out on disk: the `k=v` directory chain under
    * the data dir (one name per nesting level). Metadata-only — one
    * directory entry per level, never a file listing. */
  private def partitionColsOnDisk(name: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var dir = Paths.get(tablePath(name))
    var continue = true
    while (continue) {
      continue = false
      val s = Files.list(dir)
      val sub = try s.iterator().asScala
        .find(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
      finally s.close()
      sub.foreach { p =>
        out += p.getFileName.toString.takeWhile(_ != '=')
        dir = p; continue = true
      }
    }
    out.toSeq
  }

  /** Metastore-visible comments. The reference pushes `persist_docs` into
    * the Hive metastore as per-column `ALTER TABLE … CHANGE COLUMN … COMMENT`
    * statements plus a relation-level comment
    * (macros/spark_adapter_patch/alter_column_comment.sql:1-17); the sidecar
    * ([[setDocs]]) is this engine's durable store, and this method surfaces
    * it through Spark's OWN session catalog so `DESCRIBE [EXTENDED]` answers
    * with the comments:
    *  - if the name is already a catalog table (bucketed CTAS), issue the
    *    same CHANGE COLUMN / table-comment statements the reference does;
    *  - otherwise register an external parquet table over the data dir with
    *    the commented schema (+ PARTITIONED BY / RECOVER PARTITIONS, so
    *    `spark.table(name)` reads the same rows as [[read]]).
    * Views and log-backed tables are skipped — a bare-path catalog entry
    * over a TxLog dir would resurrect tombstoned files. */
  def persistDocsToCatalog(name: String): Unit = try {
    val d = docs(name)
    if (d.isEmpty || views.contains(name) || isLogBacked(name) ||
        !tableExists(name)) return
    def lit(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val ident = "`" + name.replace("`", "") + "`"
    val schema = read(name).schema
    val tid = org.apache.spark.sql.catalyst.TableIdentifier(name)
    val meta = if (spark.sessionState.catalog.tableExists(tid))
      Some(spark.sessionState.catalog.getTableMetadata(tid)) else None
    // ALTER can only restate a column's EXISTING type (Spark rejects type
    // changes and unknown columns); when the on-disk schema has drifted from
    // the catalog entry, the entry is one of OUR external registrations —
    // drop and re-create it (re-recovering partitions, which ALTER never
    // does) instead of ALTERing into an exception. Bucketed CTAS tables keep
    // the ALTER path: saveAsTable syncs their catalog schema on rewrite, and
    // re-creating them as bare external entries would lose the bucket spec.
    val typesMatch = meta.exists(
      _.schema.map(f => (f.name, f.dataType)).toSet ==
        schema.map(f => (f.name, f.dataType)).toSet)
    val inCatalog = meta.exists(_.bucketSpec.isDefined) || typesMatch
    if (inCatalog) {
      // a bucketed entry whose on-disk types drifted from the catalog (a
      // type-widening rewrite raced the catalog sync): CHANGE COLUMN can
      // only restate the CATALOG's type, so per-column ALTERs are issued
      // only where catalog and disk agree — drifted columns keep their
      // sidecar comment but skip the catalog surface instead of throwing
      // into the cosmetic catch-all and dropping EVERY column's comment
      val catalogType = meta.map(_.schema.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty)
      schema.fields.filter(f => d.get(f.name).exists(_.nonEmpty) &&
          catalogType.get(f.name).contains(f.dataType)).foreach { f =>
        spark.sql(s"ALTER TABLE $ident CHANGE COLUMN `${f.name}` `${f.name}` " +
          s"${f.dataType.sql} COMMENT ${lit(d(f.name))}")
      }
      d.get("__table__").filter(_.nonEmpty).foreach(c =>
        spark.sql(s"ALTER TABLE $ident SET TBLPROPERTIES ('comment' = ${lit(c)})"))
    } else {
      val partCols = partitionColsOnDisk(name)
      val colsDdl = schema.fields.map { f =>
        val cm = d.get(f.name).filter(_.nonEmpty)
          .map(c => s" COMMENT ${lit(c)}").getOrElse("")
        s"`${f.name}` ${f.dataType.sql}$cm"
      }.mkString(", ")
      val tblCm = d.get("__table__").filter(_.nonEmpty)
        .map(c => s" COMMENT ${lit(c)}").getOrElse("")
      val partDdl =
        if (partCols.isEmpty) ""
        else partCols.map(c => s"`$c`").mkString(" PARTITIONED BY (", ", ", ")")
      spark.sql(s"DROP TABLE IF EXISTS $ident")
      spark.sql(s"CREATE TABLE $ident ($colsDdl) USING parquet$tblCm$partDdl " +
        s"LOCATION ${lit(tablePath(name))}")
      if (partCols.nonEmpty) spark.sql(s"ALTER TABLE $ident RECOVER PARTITIONS")
    }
  } catch {
    // docs surfacing is cosmetic — a catalog hiccup (concurrent DDL, a type
    // ALTER Spark rejects) must never fail the model run that produced the
    // data. The sidecar remains the durable store either way.
    case scala.util.control.NonFatal(e) =>
      System.err.println(s"[warehouse] persistDocsToCatalog($name) skipped: ${e.getMessage}")
  }

  /** Bucketed CTAS via the session catalog: both sides of a repeated join
    * bucketed on the join key scan-align and skip the shuffle entirely — the
    * engine's answer to the reference's hand-bucketed theta joins and the
    * standard co-location tool at 100TB (SURVEY.md §4). Bucketing requires a
    * catalog table; the data still lives under the warehouse root. */
  def createBucketedTable(name: String, df: DataFrame, bucketCols: Seq[String],
                          numBuckets: Int, sortCols: Seq[String] = Nil): Unit = try {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", tablePath(name))
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    spark.sql(s"DROP TABLE IF EXISTS $name")
    ws.saveAsTable(name)
  } finally noteMutation()

  /** Read a bucketed catalog table (bucketing metadata only survives through
    * the catalog, not a bare parquet read). */
  def readBucketed(name: String): DataFrame = spark.table(name)

  // ---- transaction-log table format (reference: file_format='delta') ----
  //
  // The reference declares 197 models `file_format='delta'`; [[routeFormat]]
  // sends those models' writes, and every keyed merge, through the
  // [[graft.plans.TxLog]] log instead of plain parquet directories. Same
  // model contract (on_schema_change, dynamic-partition overwrite), other
  // storage guarantees: atomic multi-partition commits, snapshot isolation
  // via tombstones, time travel, and FILE-level merge rewrites (the actual
  // Delta MERGE shape). SCD2 snapshots write through [[createTable]], so a
  // delta snapshot's advance is one log overwrite commit. Reads take the
  // file list and partition values from the manifest, never from a
  // directory listing.

  def isLogBacked(name: String): Boolean =
    graft.plans.TxLog.exists(Paths.get(tablePath(name)))

  private def logPath(name: String): Path = Paths.get(tablePath(name))

  /** Log-backed read: the snapshot's live files through the manifest index
    * with the canonical schema, which also types the partition columns, then
    * the parquet read's projection to canonical order (the index puts
    * partition columns last). A snapshot with no files (a 0-row
    * materialization commits none) reads as an empty frame with the schema. */
  private def readLogCanonical(name: String): DataFrame = {
    val snap = graft.plans.TxLog.snapshot(logPath(name))
    val df = readLogFiles(name, snap.files, snap.partitionCols)
    canonicalSchema(name).fold(df)(s => df.select(s.fieldNames.toSeq.map(col): _*))
  }

  /** Manifest files of a log table, read with its canonical schema. */
  private def readLogFiles(name: String, files: Seq[graft.plans.TxLog.AddFile],
                           partitionCols: Seq[String]): DataFrame =
    graft.plans.TxLog.readSubset(spark, logPath(name), files, partitionCols,
      schema = canonicalSchema(name))

  /** Delta-shaped merge: probe which FILES hold matched keys (key columns
    * only — column-pruned), tombstone exactly those, re-add their surviving
    * rows together with the increment, clustered by partition so each
    * partition the commit touches gets one new file, in one atomic commit.
    * The probe scans every live file: a key may have moved partition, and
    * Delta's matched update relocates the row. When the caller knows keys
    * never change partition, `incrementPartitionsOnly` (dbt's
    * incremental_predicates contract) manifest-prunes the candidates to the
    * increment's partitions, so merge cost follows the increment, not the
    * table; a matched key living in another partition then is NOT updated,
    * as in dbt. On a concurrency conflict the probe re-runs against the
    * fresh snapshot. `aligned` already matches the table's canonical column
    * set. */
  private def mergeUpsertLog(name: String, aligned: DataFrame, uniqueKey: Seq[String],
                             partitionBy: Seq[String],
                             incrementPartitionsOnly: Boolean): Unit = {
    import graft.plans.TxLog
    val keys = aligned.select(uniqueKey.map(col): _*).distinct()
    val incPvs: Set[Map[String, String]] =
      if (partitionBy.isEmpty) Set.empty
      else aligned.select(partitionBy.map(col): _*).distinct().collect()
        .map(r => TxLog.partitionValues(partitionBy, partitionDir(partitionBy, r))).toSet
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val p = logPath(name)
      val snap = TxLog.snapshot(p)
      val candidates =
        if (incrementPartitionsOnly && partitionBy.nonEmpty)
          snap.files.filter(f => incPvs.contains(f.partitionValues))
        else snap.files
      // each matched row's file, as the scan reports it (a URI), compared with
      // the index's path for each candidate by decoded path: Spark may spell
      // the scheme part differently (`file:/` for `file:///`)
      val matchedFiles: Set[String] =
        if (candidates.isEmpty) Set.empty
        else {
          val scan = readLogFiles(name, candidates, snap.partitionCols)
          scan.select(scan.metadataColumn("_metadata").getField("file_path").as("__file") +:
              uniqueKey.map(col): _*)
            .join(keys, uniqueKey, "left_semi")
            .select(col("__file")).distinct().collect()
            .map(r => new java.net.URI(r.getString(0)).getPath).toSet
        }
      val removes = candidates.filter(f => matchedFiles.contains(TxLog.filePath(p, f).toUri.getPath))
      val survivors =
        if (removes.isEmpty) None
        else Some(readLogFiles(name, removes, snap.partitionCols).join(keys, uniqueKey, "left_anti"))
      val out = survivors match {
        case Some(s) => aligned.unionByName(s.select(aligned.columns.toSeq.map(col): _*))
        case None => aligned
      }
      try {
        TxLog.replaceFiles(p, snap.version, removes.map(_.path),
          distributeForWrite(out, partitionBy), partitionBy)
        return
      }
      catch { case _: TxLog.TxConflict if attempts < 5 => () }
    }
  }

  /** Apply the on_schema_change policy against the canonical schema, update
    * the sidecar (reads inside `write`, such as merge survivors, see it) and
    * `write` the aligned frame. A changed sidecar moves the mutation epoch
    * itself, so a view over the table re-derives also when `write` skips an
    * empty increment. If `write` throws, the previous sidecar, or its
    * absence, is put back; a process kill before the commit still leaves
    * the old files read under the new schema. Once `write` returns, the docs
    * of columns a changed sidecar dropped (sync_all_columns) go too. */
  private def alignSchema(name: String, df: DataFrame, policy: OnSchemaChange)
                         (write: DataFrame => Unit): Unit = {
    val before = Some(schemaPath(name)).filter(Files.exists(_)).map(Files.readAllBytes)
    val (aligned, sidecar) = canonicalSchema(name) match {
      case None => (df, Some(df.schema))
      case Some(existing) =>
        val existingNames = existing.fieldNames.toSeq
        val incomingNames = df.columns.toSeq
        policy match {
          case OnSchemaChange.Ignore =>
            // project increment onto the existing schema; drop new columns
            (df.select(existing.fields.toSeq.map { f =>
              if (incomingNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }: _*), None)
          case OnSchemaChange.AppendNewColumns =>
            val newCols = df.schema.fields.filterNot(f => existingNames.contains(f.name))
            (df, Some(StructType(existing.fields ++ newCols)).filter(_ != existing))
          case OnSchemaChange.SyncAllColumns =>
            (df, Some(df.schema).filter(_ != existing))
        }
    }
    sidecar.foreach { s => writeSchema(name, s); noteMutation() }
    try write(aligned)
    catch { case e: Throwable =>
      before match {
        case Some(bytes) => Files.write(schemaPath(name), bytes)
        case None => Files.deleteIfExists(schemaPath(name))
      }
      throw e
    }
    sidecar.foreach(pruneDocs(name, _))
  }
}
