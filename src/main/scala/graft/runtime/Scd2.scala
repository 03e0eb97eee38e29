package graft.runtime

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD2 snapshot materialization — dbt snapshot semantics rebuilt Spark-first
  * (reference: 54 snapshots; snapshots/spark/b2b_mart/scd2_orders_v2_snapshot.sql:1-17
  * `strategy='timestamp', unique_key='_id', updated_at=..., invalidate_hard_deletes=True`;
  * check strategy incl. check_cols='all':
  * snapshots/spark/b2b_mart/scd2_offer_products_snapshot.sql:12).
  *
  * History columns: `dbt_valid_from` / `dbt_valid_to` (open = null), plus
  * dbt's other two snapshot meta columns `dbt_updated_at` / `dbt_scd_id`
  * (consumed verbatim by downstream models, e.g.
  * models/spark/b2b_mart/scd2/scd2_mongo_order.sql:69-72). Both are pure
  * functions of (unique_key, dbt_valid_from) — dbt sets dbt_updated_at to
  * the version's updated_at (timestamp strategy) / run start (check
  * strategy), which is exactly dbt_valid_from at insertion, and dbt_scd_id
  * to an md5 surrogate over key+updated_at — so every run recomputes
  * identical values and the bucket-pruned path stays byte-stable.
  * The update is ONE full-outer join of the staged snapshot against the open
  * rows on the unique key (closed history passes through untouched), then a
  * staged rewrite of the whole table ([[snapshot]]) or of the touched
  * buckets only ([[snapshotBucketed]]) — no Delta MERGE needed. At scale
  * both sides shuffle once on the key; history never re-shuffles.
  *
  * Requirement (same as dbt): `staged` must be unique per `uniqueKey`.
  */
object Scd2 {

  /** Version-change predicate between the previously-open row (`o.*`) and the
    * staged row (`n.*`). */
  private def changedPredicate(strategy: Scd2Strategy, payloadCols: Seq[String],
                               uniqueKey: String): Column = strategy match {
    case Scd2Strategy.Timestamp(updatedAt) =>
      col(s"n.$updatedAt").cast("timestamp") > col(s"o.$updatedAt").cast("timestamp")
    case Scd2Strategy.Check(checkCols) =>
      val cols = if (checkCols.nonEmpty) checkCols
                 else payloadCols.filterNot(_ == uniqueKey)
      cols.map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _)
  }

  /** dbt's remaining snapshot meta columns, derived from the version row
    * itself (see class scaladoc).
    *
    * dbt_scd_id here is md5 over `key|dbt_valid_from` — a DELIBERATE byte
    * divergence from dbt's own surrogate (md5 over key and updated_at in
    * dbt's coercion format). Every reference model treats dbt_scd_id as an
    * opaque version handle (uniqueness within the snapshot is the only
    * property consumed), so semantics are preserved; matching dbt's exact
    * bytes would buy nothing. A string key containing the `|` separator can
    * theoretically collide with another key/timestamp pair; dbt's own
    * concat-based surrogate shares this property. */
  private def withMetaCols(df: DataFrame, uniqueKey: String): DataFrame = df
    .withColumn("dbt_updated_at", col("dbt_valid_from"))
    .withColumn("dbt_scd_id", md5(concat_ws("|",
      col(uniqueKey).cast("string"), col("dbt_valid_from").cast("string"))))

  def snapshot(ctx: Ctx, name: String, staged: DataFrame, uniqueKey: String,
               strategy: Scd2Strategy, invalidateHardDeletes: Boolean,
               runTs: Timestamp): Unit =
    advance(ctx, name, staged, uniqueKey, strategy, invalidateHardDeletes, runTs, None)

  /** Internal bucket partition column of bucketed snapshot tables. */
  val BucketCol = "scd_bucket"

  /** Bucket-pruned SCD2 snapshot — the parquet answer to Delta's MERGE file
    * pruning (reference: 137 delta-format models; snapshots go through
    * `macros/spark_adapter_patch/create_table.sql:29-34` `create or replace` /
    * MERGE on delta). The plain [[snapshot]] rewrites the WHOLE table every
    * run; at 100 TB of history that is the dominant cost even when one key
    * changed. Here the table is partitioned by `scd_bucket =
    * pmod(xxhash64(unique_key), numBuckets)`, and a run rewrites ONLY the
    * bucket partitions that contain a new, changed, or hard-deleted key —
    * history in every other bucket is never read for payload nor rewritten
    * (same contract as MERGE touching only files with matched rowgroups).
    *
    * The touched-bucket set is collected to the driver — ≤ numBuckets ints,
    * metadata-scale like a dynamic-partition listing — so the literal `IN`
    * filter static-prunes the existing-table scan for pass-through rows.
    * An increment that changes nothing provably writes nothing.
    *
    * Semantics (history rows produced) are IDENTICAL to [[snapshot]]; a spec
    * asserts both paths emit the same history and that untouched bucket
    * directories' files are byte-identical after a run.
    */
  def snapshotBucketed(ctx: Ctx, name: String, staged: DataFrame, uniqueKey: String,
                       strategy: Scd2Strategy, invalidateHardDeletes: Boolean,
                       runTs: Timestamp, numBuckets: Int = 32): Unit =
    advance(ctx, name, staged, uniqueKey, strategy, invalidateHardDeletes, runTs,
      Some(numBuckets))

  /** One SCD2 run of either entry point; `buckets` is the bucket count of a
    * bucketed table. The two differ only in what they publish: the whole
    * history through `createTable`, or the touched buckets through
    * `insertOverwritePartitions`. */
  private def advance(ctx: Ctx, name: String, staged: DataFrame, uniqueKey: String,
                      strategy: Scd2Strategy, invalidateHardDeletes: Boolean,
                      runTs: Timestamp, buckets: Option[Int]): Unit = {
    val wh = ctx.warehouse
    val payloadCols = staged.columns.toSeq
    require(buckets.isEmpty || !payloadCols.contains(BucketCol),
      s"staged frame may not carry reserved column $BucketCol")
    def bucketOf(key: Column): Column = pmod(xxhash64(key), lit(buckets.get)).cast("int")
    def withBucket(df: DataFrame) =
      buckets.fold(df)(_ => df.withColumn(BucketCol, bucketOf(col(uniqueKey))))

    def validFrom(prefix: String) = strategy match {
      case Scd2Strategy.Timestamp(updatedAt) => col(s"$prefix.$updatedAt").cast("timestamp")
      case Scd2Strategy.Check(_) => lit(runTs)
    }
    val fresh = staged.alias("n")

    if (!wh.tableExists(name)) {
      wh.createTable(name, withBucket(withMetaCols(fresh
        .withColumn("dbt_valid_from", validFrom("n"))
        .withColumn("dbt_valid_to", lit(null).cast("timestamp")), uniqueKey)),
        partitionBy = buckets.map(_ => BucketCol).toSeq)
      return
    }

    val existing = wh.read(name)
    val open = existing.filter(col("dbt_valid_to").isNull).alias("o")
    val changed = changedPredicate(strategy, payloadCols, uniqueKey)
    val j = open.join(fresh, col(s"o.$uniqueKey") === col(s"n.$uniqueKey"), "full_outer")
    val oPresent = col(s"o.$uniqueKey").isNotNull
    val nPresent = col(s"n.$uniqueKey").isNotNull

    // a bucket needs rewriting iff it holds a new key, a changed key, or
    // (when invalidating) a hard-deleted key. Catalyst column-prunes this
    // aggregate's scan down to the key + compare columns.
    val touched: Option[Seq[Int]] = buckets.map { _ =>
      val touches = (nPresent && (!oPresent || changed)) ||
        (oPresent && !nPresent && lit(invalidateHardDeletes))
      j.filter(touches)
        .select(bucketOf(coalesce(col(s"n.$uniqueKey"), col(s"o.$uniqueKey"))).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
    }
    if (touched.exists(_.isEmpty)) return
    def inTouched(df: DataFrame) = touched.fold(df)(t => df.filter(col(BucketCol).isin(t: _*)))

    def side(prefix: String, from: Column, to: Column) =
      payloadCols.map(c => col(s"$prefix.$c").as(c)) :+ from.as("dbt_valid_from") :+
        to.as("dbt_valid_to")

    // unchanged / hard-delete handling of the previously-open row
    val keepOrClose = j.filter(oPresent).select(side("o",
      col("o.dbt_valid_from"),
      when(nPresent && changed, validFrom("n"))
        .when(!nPresent && lit(invalidateHardDeletes), lit(runTs))
        .otherwise(lit(null).cast("timestamp"))): _*)

    // brand-new keys and new versions of changed keys
    val opened = j.filter(nPresent && (!oPresent || changed))
      .select(side("n", validFrom("n"), lit(null).cast("timestamp")): _*)

    // closed history passes through untouched; in a bucketed table only the
    // rewritten buckets' rides along, and the literal IN over the partition
    // column static-prunes this scan
    val closed = inTouched(existing.filter(col("dbt_valid_to").isNotNull))
      .select(keepOrClose.columns.toSeq.map(col): _*)
    val result = withMetaCols(closed.unionByName(keepOrClose).unionByName(opened), uniqueKey)

    // both publishes stage the new files beside the live table, so reading
    // the old files while writing them is safe
    touched match {
      case None => wh.createTable(name, result)
      case Some(_) => wh.insertOverwritePartitions(name, inTouched(withBucket(result)),
        Seq(BucketCol), OnSchemaChange.Ignore)
    }
  }
}
