package graft.plans

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory,
  PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.json4s.{JArray, JInt, JLong, JObject, JString, JValue}

import graft.runtime.Json

/** A minimal but real table-format transaction log — the self-contained
  * stand-in for the Delta log the reference materializes 197 models on
  * (reference: macros/spark_adapter_patch/create_table.sql:29-34 pins
  * `using delta`; incremental.sql drives MERGE against it). No Delta jar
  * exists in this environment, so the log format itself is implemented from
  * first principles; the design is the published Delta/Iceberg recipe:
  *
  *  - **Data files are immutable.** Writers stage fresh parquet files under
  *    `<table>/data/` with unique names; nothing ever rewrites a published
  *    file in place.
  *  - **The log is the table.** `<table>/_txlog/<version%020d>.json` holds
  *    one commit each: a JSON-lines list of `add`/`remove`(tombstone)/`meta`
  *    actions naming file paths relative to the table root, with per-file
  *    partition values (row counts optional, -1 = unknown). A snapshot at
  *    version V = replay of
  *    commits 0..V (or checkpoint + suffix). Readers NEVER list the data
  *    directory — on object stores listing is both slow and (historically)
  *    eventually consistent, and dead files from aborted/vacuum-pending
  *    commits legitimately live next to live ones.
  *  - **Commit = atomic claim of the next version number.** The writer
  *    serializes its actions to a temp file and atomically claims
  *    `_txlog/<next>.json` via create-new (CREATE_NEW is the filesystem
  *    analogue of S3 if-none-match / GCS generation-0 preconditions). A
  *    concurrent writer that lost the race gets [[TxConflict]] and re-reads
  *    the new snapshot before retrying — optimistic concurrency, exactly
  *    Delta's protocol.
  *  - **Checkpoints bound replay.** Every [[checkpointInterval]] commits the
  *    full live-file set is also written to `<version>.checkpoint.json`;
  *    snapshot resolution reads the latest checkpoint plus the commits after
  *    it — O(interval), not O(history). At 100 TB the live set is millions
  *    of files; the checkpoint is what keeps planning latency flat in table
  *    AGE (Delta does the same with parquet checkpoints every 10 commits).
  *  - **Tombstones + VACUUM give snapshot isolation.** `remove` actions
  *    leave the file bytes in place; a concurrent reader holding an older
  *    snapshot keeps reading them. [[vacuum]] physically deletes only
  *    tombstones older than the retention window — the missing piece of
  *    the parquet path's staged rename ([[graft.runtime.Warehouse.createTable]]),
  *    which deletes the replaced files at once.
  *  - **Time travel** falls out: [[snapshot]] accepts any historical
  *    version (subject to vacuum retention).
  *
  * Scale posture: commits are metadata (KBs per commit independent of data
  * volume); readers resolve a snapshot with ≤2 small reads (latest
  * checkpoint + tail commits) and scan it through a [[ManifestFileIndex]],
  * on which Spark prunes by the manifest's partition values BEFORE any
  * parquet footer is opened. That is one stat per live file and no listing
  * job: the work Spark's own PartitioningAwareFileIndex does after an
  * O(files) directory listing, without the listing.
  */
object TxLog {

  final case class Snapshot(version: Long, files: Seq[AddFile], partitionCols: Seq[String])

  /** Optimistic-concurrency loss: another writer claimed the version this
    * writer was about to commit. Re-read the snapshot and retry. */
  final class TxConflict(msg: String) extends RuntimeException(msg)

  private val checkpointInterval = 10

  /** Optional wall-time sink `(key, seconds)` — the corpus runner plugs its
    * profiler in to attribute the log-format tax; null (default) costs one
    * volatile read per call. */
  @volatile var profiler: (String, Double) => Unit = null
  private def prof[A](k: String)(f: => A): A = {
    val p = profiler
    if (p == null) f
    else { val t0 = System.nanoTime(); try f finally p(k, (System.nanoTime() - t0) / 1e9) }
  }

  private def logDir(table: Path): Path = table.resolve("_txlog")
  private def dataDir(table: Path): Path = table.resolve("data")
  private def commitFile(table: Path, v: Long): Path =
    logDir(table).resolve(f"$v%020d.json")
  private def checkpointFile(table: Path, v: Long): Path =
    logDir(table).resolve(f"$v%020d.checkpoint.json")

  def exists(table: Path): Boolean = Files.isDirectory(logDir(table))

  /** One log line: an [[AddFile]], a [[Remove]] tombstone or a [[Meta]]. An
    * add's partition values are keyed by column name, each the directory
    * segment Spark wrote for it. */
  sealed trait Action
  final case class AddFile(path: String, partitionValues: Map[String, String], rows: Long)
      extends Action
  final case class Remove(path: String, ts: Long) extends Action
  final case class Meta(partitionCols: Seq[String]) extends Action

  /** `{"add":{"path":…,"pv":{…},"rows":…}}`, `{"remove":{"path":…,"ts":…}}` or
    * `{"meta":{"partitionCols":[…]}}`, compact, an add's `pv` sorted by key. */
  private[graft] def encode(a: Action): String = Json.write(a match {
    case AddFile(path, pv, rows) => JObject("add" -> JObject("path" -> JString(path),
      "pv" -> JObject(pv.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) }),
      "rows" -> JLong(rows)))
    case Remove(path, ts) => JObject("remove" -> JObject("path" -> JString(path), "ts" -> JLong(ts)))
    case Meta(cols) => JObject("meta" -> JObject("partitionCols" -> JArray(cols.map(JString(_)).toList)))
  })

  private[graft] def decode(line: String): Action = {
    def bad = new IllegalStateException(s"unparseable txlog action: $line")
    def str(v: JValue): String = v match { case JString(s) => s; case _ => throw bad }
    def num(v: JValue): Long = v match { case JInt(n) => n.toLong; case JLong(n) => n; case _ => throw bad }
    Json.read(line) match {
      case JObject(List(("add", a))) => a \ "pv" match {
        case JObject(pv) =>
          AddFile(str(a \ "path"), pv.map { case (k, v) => k -> str(v) }.toMap, num(a \ "rows"))
        case _ => throw bad
      }
      case JObject(List(("remove", a))) => Remove(str(a \ "path"), num(a \ "ts"))
      case JObject(List(("meta", a))) => a \ "partitionCols" match {
        case JArray(cols) => Meta(cols.map(str))
        case _ => throw bad
      }
      case _ => throw bad
    }
  }

  /** The actions of one commit or checkpoint file, in order. */
  private def readActions(file: Path): Seq[Action] =
    Files.readAllLines(file, StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty).map(decode)

  private final case class Replay(
    files: scala.collection.mutable.LinkedHashMap[String, AddFile],
    tombstones: scala.collection.mutable.LinkedHashMap[String, Long],
    var partitionCols: Seq[String])

  private def applyAction(r: Replay, a: Action): Unit = a match {
    case f: AddFile =>
      r.files(f.path) = f
      r.tombstones.remove(f.path)
    case Remove(path, ts) =>
      r.files.remove(path)
      r.tombstones(path) = ts
    case Meta(cols) => r.partitionCols = cols
  }

  private def listVersions(table: Path): (Seq[Long], Seq[Long]) = prof("txlog.listVersions") {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) return (Nil, Nil)
    val ls = Files.list(dir)
    try {
      val names = ls.iterator().asScala.map(_.getFileName.toString).toSeq
      val commits = names.collect { case n if n.endsWith(".json") && !n.contains("checkpoint") && !n.endsWith(".tmp") =>
        n.stripSuffix(".json") }.filter(_.forall(_.isDigit)).map(_.toLong).sorted
      val checkpoints = names.collect { case n if n.endsWith(".checkpoint.json") =>
        n.stripSuffix(".checkpoint.json") }.filter(_.forall(_.isDigit)).map(_.toLong).sorted
      (commits, checkpoints)
    } finally ls.close()
  }

  /** Resolve the table state at `asOf` (default: latest committed version).
    * Reads the newest checkpoint ≤ target plus the commits after it. */
  def snapshot(table: Path, asOf: Long = Long.MaxValue): Snapshot = prof("txlog.snapshot") {
    val (commits, checkpoints) = listVersions(table)
    val upto = commits.filter(_ <= asOf)
    require(upto.nonEmpty, s"no committed version <= $asOf in ${logDir(table)}")
    val target = upto.max
    val base = checkpoints.filter(_ <= target).maxOption
    val r = Replay(scala.collection.mutable.LinkedHashMap.empty,
      scala.collection.mutable.LinkedHashMap.empty, Nil)
    base.foreach(cp => readActions(checkpointFile(table, cp)).foreach(applyAction(r, _)))
    for (v <- upto if base.forall(v > _)) // checkpoint already includes its own version
      readActions(commitFile(table, v)).foreach(applyAction(r, _))
    Snapshot(target, r.files.values.toSeq, r.partitionCols)
  }

  /** Replay INCLUDING tombstones — vacuum needs the remove timestamps. */
  private def replayFull(table: Path): (Replay, Long) = prof("txlog.replayFull") {
    val (commits, _) = listVersions(table)
    val r = Replay(scala.collection.mutable.LinkedHashMap.empty,
      scala.collection.mutable.LinkedHashMap.empty, Nil)
    for (v <- commits) readActions(commitFile(table, v)).foreach(applyAction(r, _))
    (r, commits.lastOption.getOrElse(-1L))
  }

  /** Atomically publish `actions` as the next version after `readVersion`.
    * Throws [[TxConflict]] if any other writer committed since `readVersion`
    * was read — the caller re-reads and retries (optimistic concurrency).
    * The claim itself is create-new on the commit file: two writers racing
    * for the same version number cannot both win. */
  private def commit(table: Path, readVersion: Long, actions: Seq[Action]): Long = prof("txlog.commit") {
    Files.createDirectories(logDir(table))
    val next = readVersion + 1
    val tmp = logDir(table).resolve(f"$next%020d.json.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, actions.map(encode).mkString("\n").getBytes(StandardCharsets.UTF_8))
    try {
      // The version-number claim must be CREATE-NEW: rename(2) (and thus
      // Files.move, even with ATOMIC_MOVE) silently REPLACES an existing
      // target on POSIX, which would let a race loser destroy the winner's
      // commit. link(2) is the true create-new primitive — hard-linking the
      // staged temp file onto the commit path fails with EEXIST if any
      // writer already claimed this version.
      try Files.createLink(commitFile(table, next), tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        throw new TxConflict(s"version $next already committed by a concurrent writer")
      }
    } finally Files.deleteIfExists(tmp)
    maybeCheckpoint(table, next)
    next
  }

  private def maybeCheckpoint(table: Path, version: Long): Unit =
    if (version > 0 && version % checkpointInterval == 0) prof("txlog.checkpoint") {
      val snap = snapshot(table, version)
      val lines = (Meta(snap.partitionCols) +: snap.files).map(encode)
      val tmp = checkpointFile(table, version).resolveSibling(
        f"$version%020d.checkpoint.json.tmp")
      Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      // losing a checkpoint race is harmless (identical content); REPLACE
      Files.move(tmp, checkpointFile(table, version),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

  // ---- write paths ----

  /** Stage `df` as fresh immutable parquet files under data/ and return
    * their add-actions. Uses a private staging dir + move so a crashed
    * writer leaves only unreferenced garbage, never a half-visible file. */
  private def stage(table: Path, df: DataFrame,
                    partitionBy: Seq[String]): Seq[AddFile] = prof("txlog.stage") {
    val stagingId = java.util.UUID.randomUUID().toString.take(8)
    val staging = table.resolve(s"_staging_$stagingId")
    // NOTE (guide §6 file layout): stage writes `df` with whatever
    // distribution the caller chose. Unclustered input to a partitioned
    // write means every task writes a sliver into every partition directory
    // it holds (tasks × partitions files per commit) — the Warehouse write
    // paths repartition via distributeForWrite; direct TxLog callers must
    // cluster by the partition columns themselves.
    val writer = if (partitionBy.nonEmpty) df.write.partitionBy(partitionBy: _*) else df.write
    writer.mode("overwrite").parquet(staging.toString)
    Files.createDirectories(dataDir(table))
    val staged = Files.walk(staging)
    val adds = try {
      staged.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val rel = staging.relativize(p)
          val pvs = partitionValues(partitionBy, Option(rel.getParent).fold("")(_.toString))
          val dest = dataDir(table).resolve(s"$stagingId-${rel.toString.replace('/', '-')}")
          Files.move(p, dest)
          AddFile(table.relativize(dest).toString, pvs, -1L)
        }.toSeq
    } finally staged.close()
    graft.runtime.TempDirs.deleteTree(staging)
    adds
  }

  /** A file's partition values as an [[AddFile]] keeps them, from the
    * `k=v/…` directory path Spark's writer names them by: keyed by the
    * column's own name, which a read looks them up by, each value its
    * escaped directory segment. */
  def partitionValues(partitionBy: Seq[String], dir: String): Map[String, String] =
    partitionBy.zip(dir.split("/").map(d => d.drop(d.indexOf('=') + 1))).toMap

  /** Create or fully replace the table: tombstone every live file, add the
    * new ones. One atomic commit. */
  def overwrite(table: Path, df: DataFrame, partitionBy: Seq[String] = Nil): Long =
    retryingCommit(table) { snap =>
      val now = System.currentTimeMillis()
      val adds = stage(table, df, partitionBy)
      Meta(partitionBy) +: (snap.files.map(f => Remove(f.path, now)) ++ adds)
    }

  /** Append new files; nothing is removed. */
  def append(table: Path, df: DataFrame, partitionBy: Seq[String] = Nil): Long =
    retryingCommit(table) { snap =>
      val cols = if (snap.partitionCols.nonEmpty) snap.partitionCols else partitionBy
      val adds = stage(table, df, cols)
      Meta(cols) +: adds
    }

  /** Dynamic-partition overwrite: replace exactly the partitions present in
    * `df`, leave all others untouched — the reference's insert_overwrite
    * semantics, as one atomic commit (no reader ever sees a partition
    * half-swapped). */
  def overwritePartitions(table: Path, df: DataFrame, partitionBy: Seq[String]): Long =
    retryingCommit(table) { snap =>
      val now = System.currentTimeMillis()
      val adds = stage(table, df, partitionBy)
      val touched: Set[Map[String, String]] = adds.map(_.partitionValues).toSet
      val removes = snap.files.filter(f => touched.contains(f.partitionValues))
      Meta(partitionBy) +: (removes.map(f => Remove(f.path, now)) ++ adds)
    }

  private def retryingCommit(table: Path, maxRetries: Int = 5)
                            (actions: Snapshot => Seq[Action]): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = if (exists(table) && listVersions(table)._1.nonEmpty)
        snapshot(table) else Snapshot(-1L, Nil, Nil)
      try return commit(table, snap.version, actions(snap))
      catch { case _: TxConflict if attempt <= maxRetries => () }
    }
    -1L // unreachable
  }

  /** Read the live snapshot (or a historical one) as a DataFrame, from the
    * manifest's explicit file list through [[readSubset]]. */
  def read(spark: SparkSession, table: Path, asOf: Long = Long.MaxValue): DataFrame = {
    val snap = snapshot(table, asOf)
    readSubset(spark, table, snap.files, snap.partitionCols)
  }

  /** Read an explicit subset of manifest files through one
    * [[ManifestFileIndex]] in a `HadoopFsRelation`: the scan Spark plans for a
    * partitioned parquet directory, partition columns last. With `schema`
    * (the warehouse's canonical schema) the files are read with it, as the
    * warehouse reads a parquet table, and the partition columns take its
    * types. Without it the data schema is read on the driver, with no Spark
    * job, from the footer of the first file by path (the one
    * `spark.read.parquet` infers from), partition columns are strings, and
    * an empty file set fails. */
  def readSubset(spark: SparkSession, table: Path, files: Seq[AddFile],
                 partitionCols: Seq[String],
                 schema: Option[StructType] = None): DataFrame = {
    val full = schema.getOrElse {
      if (files.isEmpty)
        throw new IllegalStateException(s"txlog table $table has no files to infer a schema from")
      val first = files.map(filePath(table, _)).minBy(_.toString)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(first, spark.sessionState.newHadoopConf()), NO_FILTER)
      // converted under the session's parquet inference settings
      ParquetFileFormat.readSchemaFromFooter(new Footer(first, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
    val partitionSchema = StructType(partitionCols.map { c =>
      schema.flatMap(_.find(_.name == c)).getOrElse(StructField(c, StringType)).copy(nullable = true)
    })
    val dataSchema =
      org.apache.spark.graft.AsNullable(StructType(full.filterNot(f => partitionCols.contains(f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      ManifestFileIndex(table, files)(spark, partitionSchema),
      partitionSchema, dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Where a scan of [[ManifestFileIndex]] finds `f`. */
  def filePath(table: Path, f: AddFile): HPath = new HPath(table.resolve(f.path).toUri)

  /** File-level replace — the commit shape of a Delta MERGE: tombstone
    * exactly `removePaths` (manifest-relative) and add `df`'s freshly staged
    * files, in one atomic commit that must land at `readVersion`+1. Throws
    * [[TxConflict]] if a concurrent writer got there first; the caller
    * re-probes against the new snapshot and retries (its staged files are
    * left as unreferenced orphans for vacuum). */
  def replaceFiles(table: Path, readVersion: Long, removePaths: Seq[String],
                   df: DataFrame, partitionBy: Seq[String]): Long = {
    val now = System.currentTimeMillis()
    val adds = stage(table, df, partitionBy)
    commit(table, readVersion,
      Meta(partitionBy) +: (removePaths.map(Remove(_, now)) ++ adds))
  }

  /** Physically delete tombstoned files older than `retentionMs`, and the
    * leftovers no commit references: orphan files under `data/`, unclaimed
    * `.tmp` commit files and `_staging_*` directories. The log itself (commit
    * and checkpoint files) is never pruned, so every version stays
    * replayable; a version whose files were deleted no longer reads. Never
    * touches COMMITTED live files; a reader holding a snapshot newer than the
    * retention window is unaffected — this is Delta's VACUUM contract. Caveat (also Delta's): every pass that
    * reclaims possibly-in-flight artifacts — unreferenced files under
    * `data/` (stage() moves them there BEFORE the commit references them),
    * unclaimed `.tmp` commit files under `_txlog`, and `_staging_*` dirs —
    * is bounded by the write's wall-clock, not by retention policy, so a
    * vacuum run with ~0 retention concurrent with a live writer could
    * otherwise delete staged-but-not-yet-committed files that the imminent
    * commit then references, corrupting committed state. The floor below
    * enforces a conservative minimum for ALL those passes; only tombstoned
    * (logged-removed) files honor the caller's retention verbatim. Returns
    * the deleted file count. */
  def vacuum(table: Path, retentionMs: Long): Int = {
    // minimum retention for IN-FLIGHT artifact reclamation (unreferenced
    // data/ files, tmp commits, staging dirs): tombstoned files honor the
    // caller's retention verbatim (the log proves they were committed then
    // removed), but an unreferenced file may belong to a stage→commit window
    // still in flight — its age is bounded by write time, not policy — so
    // keep a 15-minute floor
    val inflightCutoffMs = math.max(retentionMs, 15L * 60 * 1000)
    val (r, _) = replayFull(table)
    val now = System.currentTimeMillis()
    val cutoff = now - retentionMs
    val inflightCutoff = now - inflightCutoffMs
    var deleted = 0
    for ((path, ts) <- r.tombstones if ts <= cutoff) {
      val p = table.resolve(path)
      if (Files.deleteIfExists(p)) deleted += 1
    }
    // orphans: files in data/ referenced by NO log action (a crashed or
    // race-losing writer's staging leftovers — OR a live writer's freshly
    // staged files whose commit has not landed yet: stage() moves parquet
    // into data/ before commit references it, with mtimes preserved from
    // write time, so this pass MUST use the in-flight floor, not the raw
    // retention). The one place vacuum lists the data directory; Delta's
    // VACUUM does the same.
    val referenced = r.files.keySet ++ r.tombstones.keySet
    if (Files.isDirectory(dataDir(table))) {
      val ls = Files.list(dataDir(table))
      try ls.iterator().asScala.foreach { p =>
        val rel = table.relativize(p).toString
        if (!referenced.contains(rel) &&
            Files.getLastModifiedTime(p).toMillis <= inflightCutoff &&
            Files.deleteIfExists(p)) deleted += 1
      } finally ls.close()
    }
    // crash leftovers the commit/stage protocols can strand (a kill between
    // staging and claim skips every `finally`): serialized-but-unclaimed
    // commit tmps in _txlog, and abandoned _staging_* spill dirs under the
    // table root. Both are invisible to readers (listVersions filters
    // *.tmp; readers never list data dirs) — reclaim past the same floor.
    val lsLog = Files.list(logDir(table))
    try lsLog.iterator().asScala.foreach { p =>
      if (p.getFileName.toString.endsWith(".tmp") &&
          Files.getLastModifiedTime(p).toMillis <= inflightCutoff &&
          Files.deleteIfExists(p)) deleted += 1
    } finally lsLog.close()
    val lsRoot = Files.list(table)
    try lsRoot.iterator().asScala.foreach { p =>
      if (p.getFileName.toString.startsWith("_staging_") && Files.isDirectory(p) &&
          Files.getLastModifiedTime(p).toMillis <= inflightCutoff) {
        graft.runtime.TempDirs.deleteTree(p); deleted += 1
      }
    } finally lsRoot.close()
    deleted
  }

  /** Compaction (Delta's OPTIMIZE): rewrite the live file set into
    * `targetFiles` coalesced files per partition-value group and commit
    * remove-all + add-few atomically. Append-heavy tables accumulate one
    * small file per commit; at 200 commits the ScaleProbe measured snapshot
    * RESOLUTION still flat (checkpointed) but the parquet READ dominated by
    * per-file open cost — exactly the lifecycle gap OPTIMIZE exists for.
    * Readers holding the pre-compaction snapshot keep working (the old
    * files are tombstones until vacuum); the table's rows are unchanged. */
  def compact(spark: SparkSession, table: Path, targetFiles: Int = 1): Long = {
    val snap = snapshot(table)
    val df = readSubset(spark, table, snap.files, snap.partitionCols)
      .coalesce(math.max(1, targetFiles))
    retryingCommit(table) { cur =>
      val now = System.currentTimeMillis()
      val adds = stage(table, df, cur.partitionCols)
      Meta(cur.partitionCols) +: (cur.files.map(f => Remove(f.path, now)) ++ adds)
    }
  }

  /** Commit history (version, action counts) — observability parity with
    * `DESCRIBE HISTORY`. */
  def history(table: Path): Seq[(Long, Int, Int)] = {
    val (commits, _) = listVersions(table)
    commits.map { v =>
      val actions = readActions(commitFile(table, v))
      (v, actions.count(_.isInstanceOf[AddFile]), actions.count(_.isInstanceOf[Remove]))
    }
  }
}

/** A [[FileIndex]] over an explicit list of [[TxLog]] manifest files: the log,
  * not a directory listing, names the files a read scans and their partition
  * values, so Spark prunes on `partitionSchema` as on a partitioned directory
  * and plans one scan at any file count, with one stat per file and no Spark
  * job. Equality is the case class's (table plus file list), so plans over one
  * snapshot compare equal. The manifest keeps each partition value, by column
  * name, as the path segment Spark wrote (escaped; `__HIVE_DEFAULT_PARTITION__`
  * for NULL); the index decodes it once per distinct value with Spark's own
  * partition-discovery cast, so log and parquet reads of the same rows agree. */
final case class ManifestFileIndex(table: Path, files: Seq[TxLog.AddFile])(
    spark: SparkSession, override val partitionSchema: StructType) extends FileIndex {

  private val statuses = files.map { f =>
    val a = Files.readAttributes(table.resolve(f.path), classOf[BasicFileAttributes])
    // replication 0 and block size 1, as Delta's own index builds its statuses
    f -> new FileStatus(a.size, false, 0, 1L, a.lastModifiedTime.toMillis, TxLog.filePath(table, f))
  }

  private val partitions: Seq[(InternalRow, Array[FileStatus])] = {
    val zone = DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
    statuses.groupBy(_._1.partitionValues).toSeq.map { case (pv, fs) =>
      InternalRow.fromSeq(partitionSchema.map(c => PartitioningUtils.castPartValueToDesiredType(
        c.dataType, pv.getOrElse(c.name, DEFAULT_PARTITION_NAME), zone))) -> fs.map(_._2).toArray
    }
  }

  override def rootPaths: Seq[HPath] = Seq(new HPath(table.toUri))

  /** Spark passes only predicates over partition columns here. */
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = partitionFilters.reduceOption(And).map(p => Predicate.createInterpreted(p.transform {
      case a: AttributeReference =>
        val i = partitionSchema.fieldIndex(a.name)
        BoundReference(i, partitionSchema(i).dataType, nullable = true)
    }))
    partitions.collect { case (row, fs) if keep.forall(_.eval(row)) => PartitionDirectory(row, fs) }
  }

  override def inputFiles: Array[String] = statuses.map(_._2.getPath.toString).toArray

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  /** The file set is the snapshot's; there is nothing to re-list. */
  override def refresh(): Unit = ()
}
