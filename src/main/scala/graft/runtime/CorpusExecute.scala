package graft.runtime

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.types._

/** Corpus-wide EXECUTE phase: actually run every reference model + snapshot
  * against *synthesized* source tables, in one combined dependency order —
  * the step past [[CorpusSweep]]'s config+render+parse proof. A model counts
  * as `executed` only when its full materialization (CTAS / view / first-run
  * incremental / SCD2 snapshot) completes against the warehouse; incremental
  * models are then run a SECOND time so the incremental path
  * (insert_overwrite / merge / append over `{{ this }}`) executes too.
  *
  * Source synthesis is error-driven schema negotiation, not guesswork: each
  * `source(schema, table)` resolves to an empty DataFrame whose StructType
  * starts from a regex pre-seed of alias-qualified column references in the
  * rendered SQL, then grows column-by-column from the analyzer's own typed
  * error conditions (UNRESOLVED_COLUMN → add column, UNRESOLVED_FIELD → add
  * struct field, DATATYPE_MISMATCH / INVALID_EXTRACT_* → retype,
  * AMBIGUOUS_REFERENCE → retract an over-eager add, TABLE_OR_VIEW_NOT_FOUND
  * → create the raw catalog table some models read without source()) until
  * analysis succeeds or no patch applies. Schemas accumulate globally and
  * the phase runs to a FIXPOINT (repeat passes until the executed set stops
  * growing): a retype discovered by a downstream model re-runs its upstream
  * producers, so struct/timestamp knowledge propagates back through ref()
  * chains. The discovered catalog is itself evidence of what the
  * reference's ~282 declared sources must minimally contain (reference:
  * models/spark/sources.yml et al. declare names only, never columns; dbt
  * resolves columns at run time exactly like this phase does).
  *
  * Scale note: everything here is metadata-plane work (analysis + 0-row
  * writes); at 100 TB the same code paths are the ones that matter —
  * negotiation happens once per deploy, not per byte.
  */
object CorpusExecute {
  /** Test-only: disables the shared-key (locality-rule) exemption in
    * incremental invalidation so WarLocalitySpec can assert the rule is
    * load-bearing. Never set outside tests. */
  private[graft] var testDisableLocalityRule = false


  final case class Item(name: String, kind: String, status: String,
                        detail: String = "", iterations: Int = 0,
                        secs: Double = 0.0)

  final case class Report(items: Seq[Item], sourceCatalog: Map[(String, String), StructType],
                          passes: Int) {
    def byStatus: Map[String, Int] =
      items.groupBy(i => i.status.split(":", 2).head).view.mapValues(_.size).toMap
    def executed: Seq[Item] = items.filter(_.status == "executed")
    def incrementalExecuted: Seq[Item] = items.filter(_.detail.contains("incremental-run=ok"))
    def describe: String = {
      val sb = new StringBuilder
      sb ++= s"nodes: ${items.size} (models+snapshots), passes to fixpoint: $passes\n"
      for ((s, n) <- byStatus.toSeq.sortBy(-_._2)) sb ++= s"  $s: $n\n"
      sb ++= s"incremental second-run executed: ${incrementalExecuted.size}\n"
      sb ++= s"synthesized source tables: ${sourceCatalog.size}, columns: ${sourceCatalog.valuesIterator.map(_.size).sum}\n"
      for (i <- items if i.status != "executed" && i.status != "reused")
        sb ++= s"  [${i.status}] ${i.name}: ${i.detail.take(200)}\n"
      sb.result()
    }
  }

  // ---- synthetic source catalog ------------------------------------------

  /** Evolving (schema, table) → StructType map behind a SourceRegistry.
    * Keys with schema == `rawCatalogMarker` mirror into real catalog tables
    * (models that read `db.table` without a source() call). */
  final class Synth(val spark: SparkSession) {
    val schemas = mutable.LinkedHashMap.empty[(String, String), StructType]
    /** bumped on every schema mutation — the fixpoint's progress signal */
    var version: Long = 0L
    /** per-table version: the global `version` at that table's last change —
      * lets fixpoint passes skip nodes whose source closure is unchanged */
    val keyVersions = mutable.Map.empty[(String, String), Long]
    /** columns retracted for a table after an ambiguity — never re-added */
    val tombstones = mutable.Set.empty[((String, String), String)]
    /** which node's analysis retracted each tombstone — the provenance the
      * incremental warm start uses: a tombstone whose owner sits in the
      * changed-file closure is dropped from the seed (tombstones stick by
      * design, so an unowned stale one would bias re-negotiation) */
    val tombstoneOwner = mutable.Map.empty[((String, String), String), String]
    /** which node's analysis first PLANTED each pin — invalidation
      * provenance ONLY, deliberately separate from [[pinned]]'s VALUE: the
      * ambiguity tie-break reads pinned values (own-claim / ~ambig: / raw
      * node forms) and retraction preferences must not change because the
      * warm start wants to know who to invalidate (feeding currentNode into
      * the pinned value flipped production_sales_stream_metrics's order_id
      * war onto a different keep and broke its negotiation) */
    val pinOwner = mutable.Map.empty[((String, String), String), String]
    /** raw-catalog keys whose backing table needs a re-save */
    val dirtyCatalog = mutable.Set.empty[(String, String)]
    val rawCatalogKeys = mutable.Set.empty[(String, String)]

    /** Node-scoped schema patches. Two models can need the SAME source
      * column at INCOMPATIBLE types — a real corpus condition:
      * `gold_orders.sql` reads `refund.merchant_reason` (struct) while
      * `base/orders.sql` reads `ROUND(refund, 3)` (numeric), and unqualified
      * column offers cross-pollinate the sources the two models share. No
      * single global schema satisfies both readers, so the later,
      * conflicting retype lands here — visible only to the node that
      * negotiated it (the registry serves that node a patched VIEW of the
      * table) — and the globally established type stays put. This is what
      * makes the fixpoint order-INsensitive: global knowledge only ever
      * grows, never ping-pongs. */
    val overlays = mutable.Map
      .empty[(String, (String, String)), mutable.LinkedHashMap[Seq[String], DataType]]
    /** The node whose materialization is currently resolving sources —
      * selects which overlay set the registry applies. */
    var currentNode: String = ""

    /** Record `path -> dt` in the current node's overlay for `key`; true if
      * the overlay changed (the caller's signal to re-analyze). */
    def overlayPatch(key: (String, String), path: Seq[String], dt: DataType): Boolean = {
      if (currentNode.isEmpty || path.isEmpty) return false
      val m = overlays.getOrElseUpdate((currentNode, key), mutable.LinkedHashMap.empty)
      if (m.get(path).contains(dt)) false
      else {
        if (CorpusExecute.debug)
          println(s"[synth] overlay($currentNode) ${key._1}.${key._2} " +
            s"${path.mkString(".")} -> ${dt.simpleString.take(60)}")
        m(path) = dt; true
      }
    }

    /** The current node's own overlay type at `path`, if any — patches must
      * be able to SEE (and correct) a stale overlay that applyOverlays would
      * otherwise re-impose on every rebuild. */
    def overlayTypeAt(key: (String, String), path: Seq[String]): Option[DataType] =
      overlays.get((currentNode, key)).flatMap(_.collectFirst {
        case (p, dt) if p.map(_.toLowerCase) == path.map(_.toLowerCase) => dt
      })

    /** The view of `key` served to [[currentNode]]: the global schema with
      * that node's overlay paths ensured and retyped. */
    private def applyOverlays(key: (String, String), st: StructType): StructType =
      overlays.get((currentNode, key)) match {
        case Some(m) => m.foldLeft(st) { case (s, (p, dt)) => retypeIn(mergePath(s, p), p, dt) }
        case None => st
      }

    val registry: SourceRegistry = new SourceRegistry(Some((sch, tbl) => {
      val st = applyOverlays((sch, tbl), schemas.getOrElseUpdate((sch, tbl), StructType(Nil)))
      // parquet cannot write an empty group: zero-column sources (and empty
      // struct promotions, see `emptyStruct`) carry a stub field instead
      val writable = if (st.isEmpty) StructType(Seq(StructField("_graft_stub", StringType))) else st
      spark.createDataFrame(java.util.Collections.emptyList[Row](), writable)
    }))

    def has(key: (String, String), col: String): Boolean =
      schemas.get(key).exists(_.fieldNames.exists(_.equalsIgnoreCase(col)))

    private def markDirty(key: (String, String)): Unit = {
      if (rawCatalogKeys.contains(key)) dirtyCatalog += key
      warnHuge(key)
    }

    /** Leaf-field count of a schema, capped — runaway nested growth (a patch
      * loop re-adding ever-deeper struct paths) shows up here long before it
      * OOMs the shared local-mode heap; the guard makes the failure mode a
      * visible log line + classification instead of a dead JVM. */
    private def leafCount(dt: DataType, cap: Int = 200000): Int = {
      var n = 0
      def walk(d: DataType): Unit = if (n < cap) d match {
        case s: StructType => s.fields.foreach(f => walk(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType => walk(a.elementType)
        case m: org.apache.spark.sql.types.MapType => walk(m.keyType); walk(m.valueType)
        case _ => n += 1
      }
      walk(dt); n
    }

    private val hugeWarned = mutable.Set.empty[(String, String)]
    private def warnHuge(key: (String, String)): Unit =
      schemas.get(key).foreach { st =>
        val n = leafCount(st)
        if (n > 20000 && hugeWarned.add(key))
          System.err.println(s"[corpus-huge] ${key._1}.${key._2} leaves=$n " +
            s"(runaway schema growth — check the patch loop feeding it)")
      }

    /** True when `key`'s schema is past the workable bound — callers treat
      * the node as a negotiation gap instead of materializing a plan whose
      * writer/codegen allocations would exhaust the shared heap (the parquet
      * writer alone allocates per-leaf-column buffers even for 0 rows; a
      * ~20k-leaf negotiated mongo schema OOMed a 24g heap in round 10). */
    def schemaOverBudget(key: (String, String)): Boolean =
      schemas.get(key).exists(st => leafCount(st) >= 8000)

    /** columns added by explicit table qualification, with the node that
      * claimed them — ambiguity retraction prefers dropping columns pinned
      * by OTHER nodes over the current node's own qualified claims */
    val pinned = mutable.Map.empty[((String, String), String), String]
    /** raw-catalog tables that mirror a warehouse node: tbl -> db */
    val mirrorTargets = mutable.Map.empty[String, String]
    /** per-node raw `db.tbl` keys its text references (computed in
      * executeNode) — the fixpoint staleness check must include these, or a
      * node reading ONLY raw catalog tables is skipped as 'unchanged' after
      * those tables' schemas grew */
    val nodeRawKeys = mutable.Map.empty[String, Seq[(String, String)]]
    private val dbLocations = mutable.Map.empty[String, String]

    /** Create db with a run-scoped temp LOCATION: managed tables land in a
      * fresh directory, never colliding with a previous JVM's leftovers
      * under ./spark-warehouse. */
    def ensureDb(db: String): Unit = {
      val loc = dbLocations.getOrElseUpdate(db, TempDirs.create(s"graft_db_$db").toString)
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db` LOCATION '$loc'")
    }

    /** A path with 3+ consecutive identical segments is a promotion feedback
      * loop, not a schema (a `Money{amount}` shape legitimately yields
      * `amount.amount` once — `amount.amount.amount` only ever comes from a
      * leaf-name promotion re-promoting its own output; round 10's
      * `price.amount` runaway deepened one level per iteration until the
      * schema budget killed the whole node). */
    private def selfNested(path: Seq[String]): Boolean =
      path.sliding(3).exists(w => w.size == 3 &&
        w.forall(_.equalsIgnoreCase(w.head)))

    /** Ensure `path` exists under `key` (nested parts become structs);
      * returns true if the schema changed. `force` = the attribution is
      * table-qualified: it overrides (and clears) a tombstone and pins the
      * column against future ambiguity retraction. */
    def addPath(key: (String, String), path: Seq[String], force: Boolean = false,
                by: String = ""): Boolean = {
      if (path.isEmpty || selfNested(path)) return false
      if (tombstones.contains((key, path.head))) {
        if (!force) return false
        if (CorpusExecute.debug)
          println(s"[synth] un-tombstone($currentNode by=$by) ${key._1}.${key._2} ${path.head}")
        tombstones -= ((key, path.head))
        tombstoneOwner -= ((key, path.head))
      }
      if (force) {
        // provenance ONLY on actual insertion: a node that merely re-touches
        // a pre-existing pin must not become its recorded planter (wrong
        // owner => future incremental runs invalidate the pin when the
        // WRONG node changes). A pin with no recorded owner is simply never
        // closure-invalidated — conservative, like the locality rule.
        val inserted = !pinned.contains((key, path.head))
        pinned.getOrElseUpdate((key, path.head), by)
        if (inserted && currentNode.nonEmpty)
          pinOwner.getOrElseUpdate((key, path.head), currentNode)
      }
      val st = schemas.getOrElseUpdate(key, StructType(Nil))
      // deepening through an ESTABLISHED non-string scalar (another node's
      // negotiated numeric/timestamp/…) is the shared-source conflict case:
      // it must not clobber the global type — divert to a node overlay
      if (conflictsEstablished(st, path))
        return overlayPatch(key, path, StringType)
      val updated = mergePath(st, path)
      if (updated == st) {
        if (CorpusExecute.debug)
          println(s"[synth] addPath no-op ${key._1}.${key._2} ${path.mkString(".")} " +
            s"(schema=${st.simpleString.take(120)})")
        false
      }
      else { schemas(key) = updated; version += 1; keyVersions(key) = version; markDirty(key); true }
    }

    /** Would merging `path` deepen through a field whose type was already
      * NEGOTIATED to a non-string scalar? StringType is the default guess
      * (promotion fair game); double/long/timestamp/boolean only ever exist
      * because some node's analysis required them. */
    private def conflictsEstablished(st: StructType, path: Seq[String]): Boolean =
      path.size >= 2 && st.fields.find(_.name.equalsIgnoreCase(path.head)).exists { f =>
        f.dataType match {
          case inner: StructType => conflictsEstablished(inner, path.tail)
          case ArrayType(inner: StructType, _) => conflictsEstablished(inner, path.tail)
          case MapType(_, inner: StructType, _) => conflictsEstablished(inner, path.tail)
          case StringType | _: ArrayType | _: MapType => false
          case _ => true
        }
      }

    /** Recursively add `field` (string) to every struct node under `key`
      * that lacks it — the FIELD_NOT_FOUND fallback when the analyzer names
      * only the field. When `havingFields` is given, ONLY structs whose
      * current (lowercased) field set equals it grow — the analyzer's
      * FIELD_NOT_FOUND lists the struct's existing fields, which identifies
      * the one struct it means. The untargeted spray was the round-10
      * runaway-schema mechanism (every missing field × every struct of a
      * shared mongo source → 20k-leaf schemas) and also planted impostor
      * fields in unrelated structs (`funnel_state.st` gaining `utms`). */
    def addFieldToAllStructs(key: (String, String), field: String,
                             havingFields: Option[Set[String]] = None): Boolean = {
      def matches(s: StructType): Boolean = havingFields match {
        case None => true
        case Some(have) => s.fieldNames.map(_.toLowerCase).toSet == have
      }
      def grow(dt: DataType): (DataType, Boolean) = dt match {
        case s: StructType =>
          val kids = s.fields.map { f =>
            val (ndt, ch) = grow(f.dataType); (f.copy(dataType = ndt), ch) }
          val withKids = StructType(kids.map(_._1))
          val kidChanged = kids.exists(_._2)
          if (withKids.fieldNames.exists(_.equalsIgnoreCase(field)) || !matches(s))
            (withKids, kidChanged)
          else (StructType(withKids.fields :+ StructField(field, StringType)), true)
        case ArrayType(inner, n) =>
          val (ndt, ch) = grow(inner); (ArrayType(ndt, n), ch)
        case MapType(mk, mv, n) => // struct-valued maps grow too
          val (nk, chk) = grow(mk); val (nv, chv) = grow(mv)
          (MapType(nk, nv, n), chk || chv)
        case other => (other, false)
      }
      schemas.get(key) match {
        case Some(st) =>
          val (grown, changed) = st.fields.foldLeft((Vector.empty[StructField], false)) {
            case ((acc, ch), f) =>
              if (f.dataType.isInstanceOf[StructType] || f.dataType.isInstanceOf[ArrayType]
                || f.dataType.isInstanceOf[MapType]) {
                val (ndt, c) = grow(f.dataType)
                (acc :+ f.copy(dataType = ndt), ch || c)
              } else (acc :+ f, ch)
          }
          if (changed) { schemas(key) = StructType(grown); version += 1; keyVersions(key) = version; markDirty(key) }
          changed
        case None => false
      }
    }

    private def mergePath(st: StructType, path: Seq[String]): StructType = {
      val (head, rest) = (path.head, path.tail)
      st.fields.indexWhere(_.name.equalsIgnoreCase(head)) match {
        case -1 =>
          val dt = rest.foldRight(StringType: DataType)((f, acc) =>
            StructType(Seq(StructField(f, acc))))
          StructType(st.fields :+ StructField(head, dt))
        case i =>
          if (rest.isEmpty) st
          else st.fields(i).dataType match {
            case inner: StructType =>
              val merged = mergePath(inner, rest)
              if (merged == inner) st
              else StructType(st.fields.updated(i, st.fields(i).copy(dataType = merged)))
            case ArrayType(inner: StructType, n) =>
              // fields reached through an exploded/array column
              val merged = mergePath(inner, rest)
              if (merged == inner) st
              else StructType(st.fields.updated(i,
                st.fields(i).copy(dataType = ArrayType(merged, n))))
            case MapType(mk, inner: StructType, n) =>
              // fields reached through an exploded map's value
              val merged = mergePath(inner, rest)
              if (merged == inner) st
              else StructType(st.fields.updated(i,
                st.fields(i).copy(dataType = MapType(mk, merged, n))))
            case _ => // promote scalar to struct carrying the needed field
              val dt = rest.foldRight(StringType: DataType)((f, acc) =>
                StructType(Seq(StructField(f, acc))))
              StructType(st.fields.updated(i, st.fields(i).copy(dataType = dt)))
          }
      }
    }

    /** Replace the type at `path` in `key`; true if changed. The current
      * node's OWN overlay at that path is dropped too — the node is actively
      * renegotiating the path, and a stale overlay would re-impose the old
      * type on every rebuild, masking the global change (the
      * `categories[0] = category_id` revert↔promote ping-pong). */
    /** array↔map flips per (key,path): two rules reading the SAME default
      * explode alias (`col` wants array-of-struct, `key`/`value` want map)
      * can tug one target back and forth forever when scope attribution
      * overreaches — after 2 reversals the path freezes on its current type
      * and the iteration budget goes to the rules' other candidates. */
    private val flips = mutable.Map.empty[((String, String), Seq[String]), Int]

    def retypePath(key: (String, String), path: Seq[String], dt: DataType): Boolean = {
      if (selfNested(path)) return false
      val lp = path.map(_.toLowerCase)
      val isFlip = (typeAt(key, path), dt) match {
        case (Some(_: MapType), _: ArrayType) => true
        case (Some(_: ArrayType), _: MapType) => true
        case _ => false
      }
      if (isFlip) {
        val n = flips.getOrElse((key, lp), 0)
        if (n >= 2) {
          if (CorpusExecute.debug)
            println(s"[synth] flip-budget ${key._1}.${key._2} ${path.mkString(".")} frozen")
          return false
        }
        flips((key, lp)) = n + 1
      }
      // retyping a field to a struct holding ONLY a same-named field is the
      // first step of the same loop (`amount` -> struct<amount>) — refuse
      // when the path already ends in a repeated segment
      dt match {
        case StructType(Array(f)) if path.size >= 2 &&
          f.name.equalsIgnoreCase(path.last) &&
          path(path.size - 2).equalsIgnoreCase(path.last) => return false
        case _ =>
      }
      val ovCleared = overlays.get((currentNode, key)).exists { m =>
        m.keys.find(p => p.map(_.toLowerCase) == path.map(_.toLowerCase))
          .exists { p => if (m(p) == dt) false else { m.remove(p); true } }
      }
      schemas.get(key) match {
        case Some(st) =>
          val updated = retypeIn(st, path, dt)
          if (updated == st) ovCleared
          else {
            if (CorpusExecute.debug)
              println(s"[synth] retype ${key._1}.${key._2} ${path.mkString(".")} -> ${dt.simpleString.take(60)}")
            schemas(key) = updated; version += 1; keyVersions(key) = version; markDirty(key); true
          }
        case None => ovCleared
      }
    }

    private def retypeIn(st: StructType, path: Seq[String], dt: DataType): StructType =
      st.fields.indexWhere(_.name.equalsIgnoreCase(path.head)) match {
        case -1 => st
        case i =>
          if (path.tail.isEmpty) {
            if (st.fields(i).dataType == dt) st
            else StructType(st.fields.updated(i, st.fields(i).copy(dataType = dt)))
          } else st.fields(i).dataType match {
            case inner: StructType =>
              val merged = retypeIn(inner, path.tail, dt)
              if (merged == inner) st
              else StructType(st.fields.updated(i, st.fields(i).copy(dataType = merged)))
            case ArrayType(inner: StructType, n) =>
              val merged = retypeIn(inner, path.tail, dt)
              if (merged == inner) st
              else StructType(st.fields.updated(i,
                st.fields(i).copy(dataType = ArrayType(merged, n))))
            case MapType(mk, inner: StructType, n) => // path through a map value
              val merged = retypeIn(inner, path.tail, dt)
              if (merged == inner) st
              else StructType(st.fields.updated(i,
                st.fields(i).copy(dataType = MapType(mk, merged, n))))
            case _ => st
          }
      }

    /** Current type at `path`, if present. */
    def typeAt(key: (String, String), path: Seq[String]): Option[DataType] = {
      def walk(dt: DataType, p: Seq[String]): Option[DataType] = (dt, p) match {
        case (t, Nil) => Some(t)
        case (s: StructType, h +: rest) =>
          s.fields.find(_.name.equalsIgnoreCase(h)).flatMap(f => walk(f.dataType, rest))
        case (ArrayType(s: StructType, _), h +: rest) =>
          s.fields.find(_.name.equalsIgnoreCase(h)).flatMap(f => walk(f.dataType, rest))
        case (MapType(_, s: StructType, _), h +: rest) => // map-value fields
          s.fields.find(_.name.equalsIgnoreCase(h)).flatMap(f => walk(f.dataType, rest))
        case _ => None
      }
      schemas.get(key).flatMap(walk(_, path))
    }

    /** Paths (top-level or nested) under `key` whose LAST element equals
      * `leaf`, with their current types — promotion/revert targets when the
      * analyzer names only a field, not its container. */
    def fieldPathsByLeaf(key: (String, String), leaf: String): Seq[(Seq[String], DataType)] = {
      val out = mutable.ArrayBuffer.empty[(Seq[String], DataType)]
      def walk(dt: DataType, prefix: Seq[String]): Unit = dt match {
        case s: StructType => s.fields.foreach { f =>
          val p = prefix :+ f.name
          if (f.name.equalsIgnoreCase(leaf)) out += ((p, f.dataType))
          walk(f.dataType, p)
        }
        case ArrayType(inner, _) => walk(inner, prefix)
        case MapType(k, v, _) => walk(k, prefix); walk(v, prefix)
        case _ =>
      }
      schemas.get(key).foreach(walk(_, Nil))
      out.toSeq
    }

    /** [[fieldPathsByLeaf]] restricted to string-typed fields — promotion
      * targets for field extraction over a nested scalar. */
    def stringFieldPaths(key: (String, String), leaf: String): Seq[Seq[String]] =
      fieldPathsByLeaf(key, leaf).collect { case (p, StringType) => p }

    /** Drop `col` from `key` and tombstone it; true if it was present. */
    def retract(key: (String, String), col: String): Boolean = {
      if (CorpusExecute.debug)
        println(s"[synth] retract($currentNode) ${key._1}.${key._2} $col")
      tombstones += ((key, col))
      if (currentNode.nonEmpty) tombstoneOwner((key, col)) = currentNode
      schemas.get(key) match {
        case Some(st) if st.fieldNames.exists(_.equalsIgnoreCase(col)) =>
          schemas(key) = StructType(st.fields.filterNot(_.name.equalsIgnoreCase(col)))
          version += 1; keyVersions(key) = version; markDirty(key); true
        case _ => false
      }
    }

    /** Re-create catalog-backed tables whose schema changed. */
    def flushCatalog(): Unit = {
      for (key @ (db, tbl) <- dirtyCatalog.toSeq) {
        ensureDb(db)
        val st = schemas.getOrElse(key, StructType(Nil))
        val writable = if (st.isEmpty) StructType(Seq(StructField("_graft_stub", StringType))) else st
        // an over-budget schema is left at its previous on-disk width: the
        // parquet writer's per-leaf-column buffers for a runaway schema are
        // what OOM the shared heap (even at 0 rows), and the nodes that
        // needed the new width classify as gap:schema-budget anyway
        if (!schemaOverBudget(key))
          try spark.createDataFrame(java.util.Collections.emptyList[Row](), writable)
            .write.mode("overwrite").saveAsTable(s"`$db`.`$tbl`")
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[corpus] flushCatalog($db.$tbl) failed: " +
              String.valueOf(e.getMessage).take(150))
          }
      }
      dirtyCatalog.clear()
    }
  }

  // ---- warm-start schema cache --------------------------------------------



  def cachePath(hash: String): Path =
    java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_CORPUS_CACHE_DIR", "/tmp/graft_corpus_cache"))
      .resolve(s"synth_$hash.parquet")

  private def sha16(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** STABLE cache key for the incremental warm start: the corpus LOCATION
    * (dir paths) + vars, NOT file contents. Content changes no longer miss
    * the cache — [[loadCacheIncremental]] diffs per-node content hashes
    * stored inside it and invalidates only the changed closure. */
  def stableCacheKey(dirs: Seq[Path], vars: Map[String, String]): String =
    // separators below are INVISIBLE NUL bytes (\u0000), not spaces — NUL
    // cannot appear in paths, var names, or var values, so the join is
    // unambiguous (r17: a reviewer misread them as plain ' '; this comment
    // prevents the next misread, same story as AnnDeterminismSpec's \u0001)
    sha16(dirs.map(_.toAbsolutePath.toString).mkString("\u0000") + "\u0000" +
      vars.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\u0000"))

  /** Hash of the CORE environment that affects every node's rendering and
    * has no finer-grained owner: seed file contents, vars, mode. A change
    * here makes the whole cache unusable (full cold run). Macro contents
    * are NOT fed here since r17 — they are tracked per-macro
    * ([[macroHashesOf]]) so a macro edit invalidates only its callers'
    * closure instead of cold-starting the corpus. */
  def envHashOf(seedsDir: Path, vars: Map[String, String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(s: String): Unit = md.update(s.getBytes("UTF-8"))
    for (dir <- Seq(seedsDir) if Files.isDirectory(dir)) {
      val walk = Files.walk(dir)
      val files =
        try walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
        finally walk.close()
      for (p <- files) {
        // NUL-separated (invisible \u0000, not spaces) + LENGTH-PREFIXED
        // content: even a file whose bytes contain NUL cannot alias a
        // neighboring (path, content) split
        val bytes = Files.readAllBytes(p)
        feed(dir.relativize(p).toString); feed("\u0000")
        feed(bytes.length.toString); feed(":")
        md.update(bytes); feed("\u0000")
      }
    }
    for ((k, v) <- vars.toSeq.sorted) { feed(k); feed("="); feed(v); feed("\u0000") }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Per-macro content hashes (name-level: nodes call macros by NAME, and
    * one file may define several). Input to the macro-granular incremental
    * warm start. */
  def macroHashesOf(macros: Map[String, SqlTemplater.MacroDef]): Map[String, String] =
    macros.map { case (name, d) =>
      name -> sha16(d.params.mkString("\u0000") + "\u0001" + d.body)
    }

  /** Which nodes a set of edited macros reaches: first close over
    * macro-in-macro references (a caller of an affected macro is affected),
    * then select every node whose raw SQL mentions an affected macro as a
    * call. Conservative by construction: a textual mention without a real
    * call only costs re-negotiation of that node's closure. NB the two
    * joins in macroHashesOf are invisible control chars (NUL / U+0001). */
  def nodesUsingMacros(changedMacros: Set[String],
                       macros: Map[String, SqlTemplater.MacroDef],
                       nodes: Seq[Node]): Set[String] = {
    if (changedMacros.isEmpty) return Set.empty
    def callRe(name: String) =
      ("(?<![\\w.])" + java.util.regex.Pattern.quote(name) + "\\s*\\(").r
    val affected = mutable.Set.empty[String] ++ changedMacros
    var grew = true
    while (grew) {
      grew = false
      for ((name, d) <- macros if !affected.contains(name)
           if affected.exists(a => callRe(a).findFirstIn(d.body).isDefined)) {
        affected += name; grew = true
      }
    }
    val res = affected.toSet
    nodes.iterator.filter(n =>
      res.exists(a => callRe(a).findFirstIn(n.rawSql).isDefined))
      .map(_.name).toSet
  }

  private val overlaySep = "\u0001" // a control char never present in identifiers

  /** Persist the converged negotiation state: source schemas, tombstones,
    * pin owners, raw-catalog keys, node-scoped overlays. Stored as parquet
    * (Spark round-trips StructType.json exactly); `seq` pins row order so
    * overlay insertion order — which applyOverlays relies on — survives. */
  def saveCache(synth: Synth, path: Path,
                nodeHashes: Map[String, String] = Map.empty,
                envHash: String = "",
                macroHashes: Map[String, String] = Map.empty): Unit = {
    val spark = synth.spark
    import spark.implicits._
    val rows: Seq[(String, String, String, String, String, String)] =
      synth.schemas.toSeq.map { case ((db, t), st) => ("schema", "", db, t, "", st.json) } ++
      synth.tombstones.toSeq.map { case ((db, t), c) =>
        ("tombstone", synth.tombstoneOwner.getOrElse(((db, t), c), ""), db, t, c, "") } ++
      // pinned rows: node = the pin VALUE (tie-break semantics), dt = the
      // PLANTING node (invalidation provenance; see Synth.pinOwner)
      synth.pinned.toSeq.map { case (((db, t), c), v) =>
        ("pinned", v, db, t, c, synth.pinOwner.getOrElse(((db, t), c), "")) } ++
      synth.rawCatalogKeys.toSeq.map { case (db, t) => ("rawkey", "", db, t, "", "") } ++
      synth.overlays.toSeq.flatMap { case ((node, (db, t)), m) =>
        m.toSeq.map { case (segs, dt) =>
          ("overlay", node, db, t, segs.mkString(overlaySep), dt.json) } } ++
      // per-node content hashes + the env hash: what loadCacheIncremental
      // diffs to decide which nodes' negotiation state is still valid
      nodeHashes.toSeq.map { case (n, h) => ("nodehash", n, "", "", "", h) } ++
      macroHashes.toSeq.map { case (n, h) => ("macrohash", n, "", "", "", h) } ++
      (if (envHash.nonEmpty) Seq(("envhash", "", "", "", "", envHash)) else Nil)
    Files.createDirectories(path.getParent)
    rows.zipWithIndex.map { case ((k, n, d, t, c, j), i) => (i.toLong, k, n, d, t, c, j) }
      .toDF("seq", "kind", "node", "db", "tbl", "name", "dt")
      .coalesce(1).write.mode("overwrite").parquet(path.toString)
  }

  /** Seed a fresh Synth from a saved cache; returns false (and leaves the
    * Synth cold) on any read problem. The cache is a HEAD START, never a
    * correctness input: a stale or partial seed is simply re-negotiated by
    * the same error-driven loop that built it. */
  def loadCache(synth: Synth, path: Path): Boolean = try {
    val rows = synth.spark.read.parquet(path.toString)
      .collect().sortBy(_.getAs[Long]("seq"))
    for (r <- rows) {
      val key = (r.getAs[String]("db"), r.getAs[String]("tbl"))
      val name = r.getAs[String]("name")
      r.getAs[String]("kind") match {
        case "schema" => DataType.fromJson(r.getAs[String]("dt")) match {
          case st: StructType => synth.schemas(key) = st
          case _ =>
        }
        case "tombstone" =>
          synth.tombstones += ((key, name))
          val owner = r.getAs[String]("node")
          if (owner != null && owner.nonEmpty) synth.tombstoneOwner((key, name)) = owner
        case "pinned" =>
          synth.pinned((key, name)) = r.getAs[String]("node")
          val po = r.getAs[String]("dt")
          if (po != null && po.nonEmpty) synth.pinOwner((key, name)) = po
        case "rawkey" => synth.rawCatalogKeys += key; synth.dirtyCatalog += key
        case "overlay" =>
          val m = synth.overlays.getOrElseUpdate(
            (r.getAs[String]("node"), key), mutable.LinkedHashMap.empty)
          m(name.split(overlaySep).toSeq) = DataType.fromJson(r.getAs[String]("dt"))
        case _ =>
      }
    }
    synth.flushCatalog() // raw-catalog tables exist before the first analysis
    true
  } catch { case scala.util.control.NonFatal(e) =>
    System.err.println(s"[corpus] warm-start load failed (running cold): " +
      String.valueOf(e.getMessage).take(160))
    false
  }

  /** Incremental warm start: seed `synth` from a cache written for a PRIOR
    * VERSION of the corpus, invalidating only the negotiation state owned by
    * changed nodes and their downstream closure. This is the reference's own
    * changed-only dev loop (`run.sh --changed-only`,
    * `infra/dbtjoom/find.py:9-46`): editing one mid-DAG model must not pay
    * the full-corpus cold renegotiation.
    *
    * What invalidation means, per state kind (provenance-guided):
    *  - overlays: node-scoped by construction — drop sets owned by closure
    *    nodes (the edited SQL may need entirely different patches);
    *  - pins: drop pins owned by closure nodes (incl. `~ambig:` tie-break
    *    keeps) AND remove the pinned top-level column from the seeded global
    *    schema — the edit may no longer claim it, and a pin is an imposition
    *    other nodes tie-break around, not re-derivable knowledge;
    *  - tombstones: STICK by design, so they are the state that could bias a
    *    re-negotiation — drop those whose recorded retracting node is in the
    *    closure, plus (conservatively) any unowned ones when anything
    *    changed at all;
    *  - source schemas / raw-catalog keys: keep — grown knowledge the
    *    error-driven loop re-verifies on every node anyway.
    *
    * LOCALITY RULE: pin/tombstone invalidation applies ONLY to keys no
    * node OUTSIDE the closure reads (`outsideReaders`). Negotiation state on
    * a shared relation is GLOBAL war-resolution knowledge: the first
    * real-corpus measurement dropped gold_orders' claims on shared mongo/
    * mart tables (gold_orders sat in the edited model's closure) and
    * re-kindled the product_id plant⇄retract war for product_nf_segment /
    * product_rating_segment — two nodes NOWHERE NEAR the closure — which
    * then exhausted their 200-iteration budgets against the asymmetric
    * partial seed (cold 475 executed -> incremental-warm 473, with a 6-key
    * retype oscillation across passes 3-8). Shared-key state kept stale is
    * at worst extra width the loop re-verifies; shared-key state DROPPED
    * re-fights wars whose choreography assumed the full cold sequence.
    *
    * Returns Some((changedNodes, invalidatedClosure)) when the cache was
    * usable (possibly with zero changes = plain full warm start); None when
    * the caller must run cold (missing/legacy cache, env change — macros,
    * seeds, vars or mode — or any read problem). Like loadCache, the seed is
    * a head start, never a correctness input: over-invalidation only costs
    * re-discovery iterations.
    */
  def loadCacheIncremental(synth: Synth, path: Path,
                           currentNodeHashes: Map[String, String],
                           envHash: String,
                           downstreamOf: Set[String] => Set[String],
                           outsideReaders: Set[String] => Set[(String, String)] =
                             _ => Set.empty,
                           currentMacroHashes: Map[String, String] = Map.empty,
                           nodesUsingMacros: Set[String] => Set[String] =
                             _ => Set.empty): Option[(Set[String], Set[String])] = try {
    if (!Files.exists(path)) return None
    val rows = synth.spark.read.parquet(path.toString)
      .collect().sortBy(_.getAs[Long]("seq"))
    def kindOf(r: Row) = r.getAs[String]("kind")
    def nodeOf(r: Row) = String.valueOf(r.getAs[String]("node"))
    val cachedEnv = rows.find(kindOf(_) == "envhash").map(_.getAs[String]("dt"))
    val cachedHashes = rows.filter(kindOf(_) == "nodehash")
      .map(r => nodeOf(r) -> r.getAs[String]("dt")).toMap
    if (cachedHashes.isEmpty || !cachedEnv.contains(envHash)) {
      System.err.println("[corpus] warm-start cache is legacy/env-mismatched — running cold")
      return None
    }
    val nodeChanged = (cachedHashes.keySet ++ currentNodeHashes.keySet)
      .filter(n => cachedHashes.get(n) != currentNodeHashes.get(n))
    // macro-granular invalidation (r17): a macro edit marks only its
    // callers' nodes changed (transitively through macro-in-macro calls)
    // instead of cold-starting the whole corpus. A cache that carries no
    // macrohash rows while the current corpus HAS macros is pre-r17 —
    // run cold once rather than silently skipping macro invalidation.
    val cachedMacroHashes = rows.filter(kindOf(_) == "macrohash")
      .map(r => nodeOf(r) -> r.getAs[String]("dt")).toMap
    if (cachedMacroHashes.isEmpty && currentMacroHashes.nonEmpty) {
      System.err.println("[corpus] warm-start cache predates macro hashes — running cold")
      return None
    }
    val changedMacros = (cachedMacroHashes.keySet ++ currentMacroHashes.keySet)
      .filter(n => cachedMacroHashes.get(n) != currentMacroHashes.get(n))
    val macroNodes = nodesUsingMacros(changedMacros)
    if (changedMacros.nonEmpty)
      System.err.println(s"[corpus] macro edit: ${changedMacros.size} macro(s) " +
        s"changed -> ${macroNodes.size} caller node(s) marked changed")
    val changed = nodeChanged ++ macroNodes
    val closure = if (changed.isEmpty) Set.empty[String] else downstreamOf(changed)
    // keys read by any node OUTSIDE the closure: shared-relation state is
    // exempt from invalidation (see the locality rule in the scaladoc)
    val sharedKeys: Set[(String, String)] =
      if (closure.isEmpty) Set.empty else outsideReaders(closure)
    // owner forms: "node", "~ambig:node" (tie-break keep), and
    // "snapshot-strategy:node"; an empty owner is unattributable state —
    // drop it whenever anything changed (over-invalidation only costs
    // re-discovery iterations, under-invalidation could bias convergence)
    def owned(owner: String): Boolean = {
      val o = owner.stripPrefix("~ambig:").stripPrefix("snapshot-strategy:")
      closure.contains(o) || (o.isEmpty && changed.nonEmpty)
    }
    // a pin's invalidation owner: the PLANTING node (dt column) when
    // recorded, else whatever node form the pin VALUE carries
    def pinOwnerOf(r: Row): String = {
      val po = r.getAs[String]("dt")
      if (po != null && po.nonEmpty) po else nodeOf(r)
    }
    // pins dropped by invalidation also narrow the seeded schema: collect
    // them first (rows are kind-ordered: schemas precede pins in seq, so a
    // single streaming pass could not see the drops in time)
    val droppedPins: Set[((String, String), String)] = rows.iterator
      .filter(r => kindOf(r) == "pinned" && owned(pinOwnerOf(r)) &&
        !sharedKeys.contains((r.getAs[String]("db"), r.getAs[String]("tbl"))))
      .map(r => ((r.getAs[String]("db"), r.getAs[String]("tbl")), r.getAs[String]("name")))
      .toSet
    for (r <- rows) {
      val key = (r.getAs[String]("db"), r.getAs[String]("tbl"))
      val name = r.getAs[String]("name")
      kindOf(r) match {
        case "schema" => DataType.fromJson(r.getAs[String]("dt")) match {
          case st: StructType =>
            val dropped = st.fields.filterNot(f => droppedPins.contains((key, f.name)) ||
              droppedPins.exists { case (k, c) => k == key && c.equalsIgnoreCase(f.name) })
            synth.schemas(key) = StructType(dropped)
          case _ =>
        }
        case "tombstone" =>
          if (!owned(nodeOf(r)) || sharedKeys.contains(key)) {
            synth.tombstones += ((key, name))
            if (nodeOf(r).nonEmpty) synth.tombstoneOwner((key, name)) = nodeOf(r)
          }
        case "pinned" =>
          if (!droppedPins.contains((key, name))) {
            synth.pinned((key, name)) = nodeOf(r)
            val po = r.getAs[String]("dt")
            if (po != null && po.nonEmpty) synth.pinOwner((key, name)) = po
          }
        case "rawkey" => synth.rawCatalogKeys += key; synth.dirtyCatalog += key
        case "overlay" =>
          if (!closure.contains(nodeOf(r))) {
            val m = synth.overlays.getOrElseUpdate(
              (nodeOf(r), key), mutable.LinkedHashMap.empty)
            m(name.split(overlaySep).toSeq) = DataType.fromJson(r.getAs[String]("dt"))
          }
        case _ =>
      }
    }
    synth.flushCatalog()
    Some((changed, closure))
  } catch { case scala.util.control.NonFatal(e) =>
    System.err.println(s"[corpus] incremental warm-start load failed (running cold): " +
      String.valueOf(e.getMessage).take(160))
    None
  }

  // ---- rendered-SQL introspection ----------------------------------------

  private val sqlKeywords = Set(
    "where", "on", "join", "left", "right", "inner", "full", "cross", "group",
    "order", "having", "union", "select", "lateral", "window", "limit",
    "qualify", "as", "set", "intersect", "except", "distribute", "cluster",
    "sort", "using", "pivot", "unpivot", "tablesample", "anti", "semi",
    "natural", "when", "then", "else", "end", "and", "or", "not", "is",
    "null", "true", "false", "from", "with", "values", "distinct", "interval",
    "case", "between", "like", "rlike", "in", "exists", "all", "any", "by")

  /** alias → source mapping from the rendered text: every occurrence of a
    * relation name optionally followed by `[AS] alias`. The relation name
    * itself always maps too (lowercased keys). */
  def aliasEntries(rendered: String, relName: String,
                   key: (String, String)): Seq[(String, (String, String))] = {
    val out = mutable.ArrayBuffer.empty[(String, (String, String))]
    out += relName.toLowerCase.replaceAll("[^a-z0-9_.]", "") -> key
    val re = ("(?i)(?<![\\w.`])" + java.util.regex.Pattern.quote(relName) +
      "(?!\\w)\\s*(?:AS\\s+)?([A-Za-z_]\\w*)?").r
    for (m <- re.findAllMatchIn(rendered); a <- Option(m.group(1))
         if !sqlKeywords.contains(a.toLowerCase))
      out += a.toLowerCase -> key
    out.toSeq
  }

  def aliasMap(rendered: String, sources: Seq[(String, String)]): Map[String, (String, String)] = {
    val entries = sources.flatMap(st => aliasEntries(rendered, SqlTemplater.sourceName(st._1, st._2), st))
    // an alias used for DIFFERENT relations in different scopes is ambiguous
    // evidence — attributing through it would pin columns onto the wrong
    // table; keep only single-target aliases (view-name identities always
    // have a single target by construction)
    entries.groupBy(_._1).collect {
      case (a, es) if es.map(_._2).distinct.size == 1 => a -> es.head._2
    }
  }

  /** Pre-seed: add every alias-qualified column path that literally appears
    * in the rendered SQL (`mi.medicine_id`, `o.payload.order.id`, …). */
  def preSeed(rendered: String, aliases: Map[String, (String, String)], synth: Synth): Unit = {
    // an alias that ALSO names a subquery or CTE output in this text is
    // ambiguous evidence: in `(SELECT id AS product_id, ... FROM
    // pharmacy_landing.medicine) AS medicine` (pzns_out_of_stock.sql:87-91)
    // the later `medicine.product_id` is a claim about the SUBQUERY's output,
    // not the raw table. Plant such paths UN-forced: the plant still lands
    // on first contact (0-row semantics, harmless), but another node's
    // retraction tombstone then STICKS instead of being force-replanted
    // every pass — the force/retract tug-of-war was the r13 fixpoint
    // plateau (101 nodes re-attempted per pass to the maxPasses ceiling).
    val cteNames = "(?i)(?:\\bWITH|,)\\s+([A-Za-z_]\\w*)\\s+AS\\s*\\(".r
      .findAllMatchIn(rendered).map(_.group(1).toLowerCase)
      .filterNot(sqlKeywords.contains).toSet
    // aliases REBOUND to a CTE reference (`FROM promocodes p` after `p`
    // aliased a raw source inside that CTE — fact_promocodes.sql:24,66):
    // `p.company_name` then claims the CTE's output, not the source's
    val cteBound = "(?i)\\b(?:FROM|JOIN)\\s+([A-Za-z_]\\w*)\\s+(?:AS\\s+)?([A-Za-z_]\\w*)".r
      .findAllMatchIn(rendered).collect {
        case m if cteNames.contains(m.group(1).toLowerCase) &&
          !sqlKeywords.contains(m.group(2).toLowerCase) => m.group(2).toLowerCase
      }.toSet
    // `) AS alias` shadows only when the paren closes a SUBQUERY (its
    // matching '(' is followed by SELECT): an ordinary expression alias —
    // `COUNT(x) AS total` — must not demote an unrelated table alias named
    // `total` from forced planting (the over-approximation silently weakened
    // un-tombstoning for that alias's columns)
    // paren matcher skips string literals ('' escape), double-quoted and
    // backticked identifiers, and -- / block comments: a paren inside a
    // literal would otherwise misalign openOf and misclassify shadowing
    val openOf: Map[Int, Int] = {
      val stack = mutable.ArrayBuffer.empty[Int]
      val m = mutable.Map.empty[Int, Int]
      var i = 0
      val n = rendered.length
      def skipTo(end: String, from: Int): Int = {
        val k = rendered.indexOf(end, from)
        if (k < 0) n else k + end.length
      }
      while (i < n) {
        rendered.charAt(i) match {
          case '\'' =>
            i += 1
            while (i < n && !(rendered.charAt(i) == '\'' &&
              (i + 1 >= n || rendered.charAt(i + 1) != '\''))) {
              if (rendered.charAt(i) == '\'' ) i += 2 else i += 1 // '' escape
            }
            i += 1
          case '"'  => i = skipTo("\"", i + 1)
          case '`'  => i = skipTo("`", i + 1)
          case '-' if i + 1 < n && rendered.charAt(i + 1) == '-' =>
            i = skipTo("\n", i + 2)
          case '/' if i + 1 < n && rendered.charAt(i + 1) == '*' =>
            i = skipTo("*/", i + 2)
          case '(' => stack += i; i += 1
          case ')' =>
            if (stack.nonEmpty) { m(i) = stack.last; stack.remove(stack.length - 1) }
            i += 1
          case _ => i += 1
        }
      }
      m.toMap
    }
    // a paren "opens a subquery" when the first token after it (skipping
    // whitespace AND comments) is SELECT or WITH — derived tables like
    // `( /* hint */ WITH x AS (...) SELECT ... ) AS a` shadow their alias too
    def opensSelect(closeIdx: Int): Boolean = openOf.get(closeIdx).exists { o =>
      var j = o + 1
      var moved = true
      while (moved) {
        moved = false
        while (j < rendered.length && rendered.charAt(j).isWhitespace) { j += 1; moved = true }
        if (j + 1 < rendered.length && rendered.charAt(j) == '-' && rendered.charAt(j + 1) == '-') {
          val k = rendered.indexOf('\n', j + 2); j = if (k < 0) rendered.length else k + 1; moved = true
        }
        if (j + 1 < rendered.length && rendered.charAt(j) == '/' && rendered.charAt(j + 1) == '*') {
          val k = rendered.indexOf("*/", j + 2); j = if (k < 0) rendered.length else k + 2; moved = true
        }
      }
      // word-boundary guard: `(within_range ...` or `(selected_flag ...` are
      // expressions, not subqueries — SELECT/WITH must end at a non-word char
      def kw(w: String): Boolean =
        rendered.regionMatches(true, j, w, 0, w.length) && {
          val e = j + w.length
          e >= rendered.length || {
            val c = rendered.charAt(e); !(c.isLetterOrDigit || c == '_')
          }
        }
      kw("select") || kw("with")
    }
    val shadowed = ("(?i)\\)\\s*(?:AS\\s+)?([A-Za-z_]\\w*)".r
      .findAllMatchIn(rendered).filter(m => opensSelect(m.start))
      .map(_.group(1).toLowerCase)
      .filterNot(sqlKeywords.contains).toSet) ++ cteNames ++ cteBound
    for ((alias, key) <- aliases) {
      val re = ("(?i)(?<![\\w.`'\"])" + java.util.regex.Pattern.quote(alias) +
        "\\s*\\.\\s*([A-Za-z_]\\w*(?:\\s*\\.\\s*[A-Za-z_]\\w*)*)").r
      val paths = re.findAllMatchIn(rendered).map(_.group(1)).toSeq.distinct
        .map(_.split("\\s*\\.\\s*").toSeq.filterNot(p => sqlKeywords.contains(p.toLowerCase)))
        .filter(_.nonEmpty)
      // longest paths first so `a.col.f` builds the struct before `a.col`;
      // force: a literal alias-qualified occurrence IS a qualified claim —
      // unless the alias is shadowed by a subquery/CTE of the same name
      val force = !shadowed.contains(alias)
      for (p <- paths.sortBy(-_.length)) synth.addPath(key, p, force = force)
    }
  }

  // ---- analyzer-error patching -------------------------------------------

  private def parts(quoted: String): Seq[String] = {
    val ticked = "`([^`]*)`".r.findAllMatchIn(quoted).map(_.group(1)).toSeq
    if (ticked.nonEmpty) ticked else quoted.split("\\.").toSeq.map(_.trim)
  }

  private def stripDq(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '"' && t.last == '"') t.substring(1, t.length - 1) else t
  }

  /** Promoted structs carry a stub field: parquet refuses empty groups. */
  private[runtime] val emptyStruct = StructType(Seq(StructField("_graft_stub", StringType)))

  /** Every node of `plan` INCLUDING CTE bodies and subquery-expression
    * plans: Spark 4's UnresolvedWith keeps `cteRelations` out of `children`,
    * so TreeNode.collect/foreach never enter them — a plan-scope walk using
    * bare `plan.collect` silently ignores everything defined in a WITH
    * clause (which is most of the corpus). */
  private def planNodes(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
    val buf = mutable.ArrayBuffer.empty[LogicalPlan]
    def go(p: LogicalPlan): Unit = {
      buf += p
      p match {
        case w: UnresolvedWith => w.cteRelations.foreach(r => go(r._2))
        case _ =>
      }
      p.expressions.foreach(_.foreach {
        case s: SubqueryExpression => go(s.plan)
        case _ =>
      })
      p.children.foreach(go)
    }
    go(plan); buf.toSeq
  }

  private def typeFor(required: String): Option[DataType] = {
    val r = required.toUpperCase
    if (r.contains("ARRAY")) Some(ArrayType(StringType))
    else if (r.contains("MAP")) Some(MapType(StringType, StringType))
    else if (r.contains("STRUCT")) Some(emptyStruct)
    else if (r.contains("TIMESTAMP")) Some(TimestampType)
    else if (r.replaceAll("\"", "").trim == "DATE")
      Some(DateType) // a bare DATE operand (e.g. `id >= DATE '…'`) is a date
    else if (r.contains("DATE") || r.contains("DATETIME") || r.contains("INTERVAL"))
      Some(TimestampType) // `x + INTERVAL` ⇒ x is a point in time
    else if (r.contains("BINARY")) Some(BinaryType)
    else if (r.contains("BOOLEAN")) Some(BooleanType)
    else if (r.contains("BIGINT") || r.contains("INT") || r.contains("INTEGRAL"))
      Some(LongType)
    else if (r.contains("NUMERIC") || r.contains("DOUBLE") || r.contains("FLOAT")
      || r.contains("DECIMAL")) Some(DoubleType)
    else if (r.contains("STRING")) Some(StringType) // last: every guess-revert
    else None
  }

  /** Intended type of a mixed-type expression, inferred from its literals:
    * `least(d - INTERVAL …, current_date())` wants dates,
    * `coalesce(x, false)` booleans, `coalesce(xs, array())` arrays. */
  private def typeFromExprShape(expr: String): Option[DataType] = {
    val e = expr.toUpperCase
    if (e.contains("CURRENT_DATE")) Some(DateType)
    else if (e.contains("CURRENT_TIMESTAMP") || e.contains("INTERVAL")) Some(TimestampType)
    else if (e.matches("(?s).*\\bTIMESTAMP\\s*'.*")) Some(TimestampType)
    else if (e.matches("(?s).*\\bDATE\\s*'.*")) Some(DateType)
    else if (e.contains("ARRAY(")) Some(ArrayType(StringType))
    else if (e.matches("(?s).*\\b(TRUE|FALSE|AND|OR|NOT)\\b.*")) Some(BooleanType)
    // a bare numeric literal argument (`coalesce(grade, 0)`,
    // `greatest(weight, 0.01)`) marks numeric intent — last priority so the
    // boolean/temporal shapes above win when both appear
    else if (e.matches("(?s).*[ (,]\\d+\\.\\d+\\s*[,)].*")) Some(DoubleType)
    else if (e.matches("(?s).*[ (,]\\d+\\s*[,)].*")) Some(LongType)
    else None
  }

  /** Identifier paths appearing in a failing sqlExpr snippet, longest first
    * (so `payload.reminderCancelled` is tried before `payload`). */
  private def identPaths(sqlExpr: String): Seq[Seq[String]] =
    "(?<![\\w.'\"`])[A-Za-z_]\\w*(?:\\.[A-Za-z_]\\w*)*".r
      .findAllIn(stripDq(sqlExpr)).toSeq.distinct
      .map(_.split("\\.").toSeq)
      .map(p => p.filterNot(x => sqlKeywords.contains(x.toLowerCase)))
      .filter(_.nonEmpty)
      .sortBy(-_.length)

  /** The per-model patch context: this model's sources + alias map + the
    * transitive source closure of its ref() subtree (columns that reach this
    * model THROUGH an upstream star-select attribute there; fixpoint passes
    * re-run the upstream), the rendered SQL (for explode-target detection),
    * and the global synth. */
  final case class PatchCtx(nodeName: String,
                            modelSources: Seq[(String, String)],
                            closureSources: Seq[(String, String)],
                            aliases: mutable.Map[String, (String, String)],
                            renderedSql: String,
                            synth: Synth,
                            warehouse: Option[Warehouse] = None,
                            depsSql: String = "",
                            nodeSchemas: Map[String, String] = Map.empty,
                            aliasAlts: Map[String, Seq[(String, String)]] = Map.empty,
                            // model sources that ALSO feed a ref() dep: a
                            // column can reach this node through the dep's
                            // star-select even when every DIRECT occurrence
                            // of the source in this plan is sealed
                            depFed: Seq[(String, String)] = Nil) {
    /** Text searched for `<path> AS name` alias definitions: this model's
      * rendered SQL plus its direct deps' raw SQL — a column this model
      * reads from a ref() is often a SELECT alias defined UPSTREAM
      * (`isTop AS is_top` in the dep), and the patch must retype the
      * upstream's source column. */
    def aliasSearchSql: String = renderedSql + "\n" + depsSql

    /** The UNRESOLVED logical plan of the rendered SQL — the lexical-scope
      * oracle for [[CorpusExecute.patch]]'s scoped attribution. Parsed once
      * per node negotiation. */
    lazy val parsedPlan: Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
      val r = scala.util.Try(synth.spark.sessionState.sqlParser.parsePlan(renderedSql))
      if (CorpusExecute.debug && r.isFailure)
        println(s"[corpus-debug] parsedPlan($nodeName) FAILED: " +
          r.failed.get.getMessage.linesIterator.take(1).mkString.take(160))
      r.toOption
    }
  }

  /** One patch step from a typed analyzer condition; true = schema changed,
    * retry the build. */
  def patch(e: AnalysisException, pc: PatchCtx): Boolean = {
    val cond = Option(e.getCondition).getOrElse("")
    val p = Option(e.getMessageParameters).map(_.asScala.toMap).getOrElse(Map.empty)
    import pc.{aliases, modelSources, closureSources, synth}
    val spark = synth.spark

    /** EVERY relation a qualifier names: the unambiguous binding plus any
      * multi-target alternates (an alias letter reused across relations —
      * `AS t` for a source view in one block and a raw catalog table in
      * another). Resolution sites must reach all of them. */
    def aliasKeysOf(head: String): Seq[(String, String)] =
      aliases.get(head.toLowerCase).toSeq ++
        pc.aliasAlts.getOrElse(head.toLowerCase, Nil)

    /** The source tables in the failing column's LEXICAL SCOPE, from Spark's
      * own parsed (unresolved) plan: the plan nodes whose expressions
      * reference the path, their UnresolvedRelations (CTE names expanded two
      * levels into their bodies), mapped through the alias map. Offering an
      * unqualified column only to its scope's relations — instead of every
      * source of the model — is what stops `refund.merchant_reason` (read
      * FROM dim_order) from planting a struct on star_order_2020 that the
      * same model reads numerically in another CTE. Empty when the scope
      * can't be determined (parse failure, ref-only scope) — caller falls
      * back to the offer-everywhere rule. */
    /** (source key, struct prefix) pairs in the failing column's lexical
      * scope. The prefix is non-empty when the column reaches the demand
      * through a QUALIFIED star (`select payload.* …`): the column must then
      * be planted INSIDE that struct — a top-level plant is an impostor the
      * star never exposes. */
    def scopedSources(path: Seq[String]): Seq[((String, String), Seq[String])] =
      scala.util.Try {
        import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
        import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
        val plan = pc.parsedPlan.getOrElse(return Nil)
        val nodes = planNodes(plan)
        val target = path.map(_.toLowerCase)
        val ctes: Map[String, LogicalPlan] = nodes.collect {
          case w: UnresolvedWith =>
            w.cteRelations.map(r => r._1.toLowerCase -> (r._2: LogicalPlan))
        }.flatten.toMap
        def refsTarget(p: LogicalPlan): Boolean =
          p.expressions.exists(_.collectFirst {
            case a: UnresolvedAttribute
              if { val np = a.nameParts.map(_.toLowerCase)
                   np == target || np.endsWith(target) } => a
          }.isDefined)
        nodes.filter(refsTarget)
          .flatMap(h => sealAwareRels(h, 2, target.last, ctes)).distinct
          .flatMap { case (n, pre) => aliases.get(n).map(_ -> pre) }.distinct
          .filter { case (k, _) => modelSources.contains(k) }
      }.getOrElse(Nil)

    /** Relations reachable from `p` WITHOUT crossing a sealing block: a
      * Project/Aggregate with an explicit star-free output list that does not
      * name `leaf` can never surface that column — `(select category_id,
      * name from category_levels) cat` must not absorb `friendlyId` offers
      * (round 10: that spray grew category_levels past the schema budget,
      * blocking the whole gold subtree). */
    def sealAwareRels(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                      depth: Int, leaf: String,
                      ctes: Map[String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Seq[(String, Seq[String])] = {
      import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation, UnresolvedStar}
      import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
      val lf = leaf.toLowerCase
      def stars(exprs: Seq[Expression]): Seq[UnresolvedStar] =
        exprs.flatMap(_.collect { case s: UnresolvedStar => s })
      def namesLeaf(exprs: Seq[Expression]): Boolean = exprs.exists { e =>
        (e match {
          case al: Alias => al.name.equalsIgnoreCase(lf)
          case _ => false
        }) || e.collectFirst {
          case a: UnresolvedAttribute if a.nameParts.last.equalsIgnoreCase(lf) => a
        }.isDefined
      }
      // a block whose SUBTREE references the leaf is not a seal for it: the
      // demand itself can live below an outer star-free projection
      // (`typed_prices AS (select fee … from (… explode(typedPricesOriginal) …))`)
      def subtreeRefs(n: LogicalPlan): Boolean =
        n.expressions.exists(_.collectFirst {
          case a: UnresolvedAttribute if a.nameParts.last.equalsIgnoreCase(lf) => a
        }.isDefined) || n.children.exists(subtreeRefs)
      def throughList(exprs: Seq[Expression], n: LogicalPlan, d: Int,
                      pre: Seq[String]): Seq[(String, Seq[String])] = {
        // prefix REBINDING: arriving with prefix `statuses` at a block whose
        // list defines `explode(slaTable) AS statuses` means the column
        // lives in slaTable's elements — swap the prefix for the generator's
        // (or plain path's) argument and keep walking
        val rebound: Option[Seq[(String, Seq[String])]] =
          if (pre.isEmpty) None
          else {
            import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
            val genNameRe = "(?i)(pos)?explode(_outer)?".r
            exprs.collectFirst {
              case al: Alias if al.name.equalsIgnoreCase(pre.head) => al
            }.flatMap { al =>
              val arg = al.child match {
                case f: UnresolvedFunction if genNameRe.matches(f.nameParts.last) =>
                  f.arguments.collectFirst { case a: UnresolvedAttribute => a.nameParts }
                case a: UnresolvedAttribute => Some(a.nameParts)
                case _ => None
              }
              arg.map(t => n.children.flatMap(walk(_, d, t ++ pre.tail)))
            }
          }
        rebound.getOrElse {
          val ss = stars(exprs)
          if (namesLeaf(exprs) || subtreeRefs(n))
            // pass-through / demand below: keep the current prefix
            n.children.flatMap(walk(_, d, pre))
          else if (ss.nonEmpty)
            // reached ONLY via stars: a qualified star (`payload.*`) shifts
            // the plant point inside that struct; an unqualified star keeps it
            ss.flatMap { s =>
              val t = s.target.getOrElse(Nil)
              n.children.flatMap(walk(_, d, pre ++ t))
            }.distinct
          else Nil // sealed: explicit star-free list not naming the leaf
        }
      }
      def walk(n: LogicalPlan, d: Int, pre: Seq[String]): Seq[(String, Seq[String])] = n match {
        case pr: Project => throughList(pr.projectList, pr, d, pre)
        case ag: Aggregate => throughList(ag.aggregateExpressions, ag, d, pre)
        case r: UnresolvedRelation =>
          val nm = r.multipartIdentifier.last.toLowerCase
          if (d > 0 && ctes.contains(nm)) (nm, pre) +: walk(ctes(nm), d - 1, pre)
          else Seq((nm, pre))
        case other => other.children.flatMap(walk(_, d, pre))
      }
      walk(p, depth, Nil)
    }

    /** Model sources that appear in the plan but are sealed away from `path`
      * EVERYWHERE (every occurrence sits behind a star-free block not naming
      * its leaf) — never valid targets for an unqualified-column offer. */
    def sealedSources(path: Seq[String]): Set[(String, String)] =
      scala.util.Try {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
        import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
        val plan = pc.parsedPlan.getOrElse(return Set.empty[(String, String)])
        val nodes = planNodes(plan)
        val ctes: Map[String, LogicalPlan] = nodes.collect {
          case w: UnresolvedWith =>
            w.cteRelations.map(r => r._1.toLowerCase -> (r._2: LogicalPlan))
        }.flatten.toMap
        val open = (sealAwareRels(plan, 2, path.last, ctes) ++
          ctes.valuesIterator.flatMap(sealAwareRels(_, 2, path.last, ctes)))
          .map(_._1).toSet
        val all = nodes.collect {
          case r: UnresolvedRelation => r.multipartIdentifier.last.toLowerCase
        }.toSet
        (all -- open).flatMap(aliases.get).filter(modelSources.contains)
      }.getOrElse(Set.empty)

    def attribute(path: Seq[String]): Boolean = path match {
      case head +: rest if rest.nonEmpty && (aliases.contains(head.toLowerCase) ||
          pc.aliasAlts.contains(head.toLowerCase)) =>
        // table-qualified: force through tombstones and pin — on EVERY
        // relation the alias names (multi-target aliases in aliasAlts)
        (aliases.get(head.toLowerCase).toSeq ++
          pc.aliasAlts.getOrElse(head.toLowerCase, Nil))
          .map(k => synth.addPath(k, rest, force = true, by = pc.nodeName))
          .exists(identity)
      case _ =>
        // unqualified (or qualifier is a CTE/lateral alias): offer the column
        // to every source of this model; ambiguity handling retracts extras.
        // Multi-part paths whose head is no known alias are USUALLY
        // `cteAlias.column` — try the tail as a plain column first, and only
        // if some source already carries the head as a column, grow it as a
        // struct (the mongo payload shape). If no local source takes it,
        // offer it to the ref-subtree closure — the column must flow in
        // through an upstream star-select.
        lazy val cteNames: Set[String] =
          ("(?i)(?<![\\w.])([A-Za-z_]\\w*)\\s+AS\\s*\\(").r
            .findAllMatchIn(pc.renderedSql).map(_.group(1).toLowerCase).toSet
        val candidates: Seq[Seq[String]] = path match {
          case head +: rest if rest.nonEmpty && aliases.contains(head.toLowerCase) => Seq(rest)
          case head +: rest if rest.nonEmpty =>
            if (modelSources.exists(k => synth.has(k, head))) Seq(path)
            // a CTE or subquery alias can never be a struct column — only
            // offer the tail (creating a `head` struct column would plant an
            // impostor that later makes the real relation ambiguous)
            else if (cteNames.contains(head.toLowerCase)) Seq(rest)
            else Seq(rest, path)
          case _ => Seq(path)
        }
        lazy val scoped = scopedSources(path)
        lazy val sealedSet = sealedSources(path)
        if (CorpusExecute.debug)
          println(s"[corpus-debug] attribute(${path.mkString(".")}) cands=" +
            candidates.map(_.mkString(".")).mkString("|") + " scoped=" +
            scoped.map { case (k, pre) => s"${k._2}" + (if (pre.nonEmpty) s"+${pre.mkString(".")}" else "") }.mkString(",") +
            " sealed=" + sealedSet.map(_._2).mkString(",") +
            " model=" + modelSources.map(_._2).mkString(",") +
            " closure=" + closureSources.map(_._2).mkString(","))
        candidates.iterator.map { cp =>
          // scope-restricted first: only the sources of the enclosing
          // SELECT block get the column; offer-everywhere is the fallback —
          // minus sources sealed behind star-free blocks, which can never
          // surface the column no matter what we plant on them.
          // If every scope-attributed source ALREADY carries the column, the
          // attribution provably missed the failing block (the analyzer
          // would have resolved it there) — a UNION of per-network insight
          // tables where only some declare campaign_id hits exactly this.
          // prefix check must be case-insensitive: `pre` comes from
          // parsed-SQL nameParts while `cp` comes from analyzer error
          // params — a case mismatch would double-plant the head
          // (payload.Payload.x), an impostor the selfNested guard can't see
          def underPrefix(cp: Seq[String], pre: Seq[String]): Boolean =
            cp.map(_.toLowerCase).startsWith(pre.map(_.toLowerCase))
          val scopedHit = scoped.map { case (k, pre) =>
            val full = if (underPrefix(cp, pre)) cp else pre ++ cp
            synth.addPath(k, full)
          }.exists(identity)
          val local = scopedHit ||
            ((scoped.isEmpty || scoped.forall { case (k, pre) =>
              val full = if (underPrefix(cp, pre)) cp else pre ++ cp
              synth.typeAt(k, full).isDefined || synth.has(k, cp.head)
            }) &&
              modelSources.filterNot(sealedSet.contains)
                .map(k => synth.addPath(k, cp)).exists(identity))
          local || closureSources.map(k => synth.addPath(k, cp)).exists(identity) ||
            // sealed here but feeding a ref() dep: the dep's star-select can
            // still surface the column (scd2 SELECT * snapshots)
            pc.depFed.filter(sealedSet.contains)
              .map(k => synth.addPath(k, cp)).exists(identity)
        }.find(identity).getOrElse {
          // every plain offer was a no-op. Two remaining explanations:
          // (a) an earlier ambiguity retraction tombstoned the column on
          //     every candidate — a later LEGITIMATE use must win: force it
          //     back onto the first tombstoned source (force clears the
          //     tombstone and pins against re-retraction);
          // (b) the column is already present top-level everywhere but the
          //     model reads it through an upstream ref's STRUCT star-expand
          //     (`SELECT payload.* …`) — inject it into every struct node so
          //     the upstream's star surfaces it (0-row tables: executability
          //     is the claim, placement is unobservable).
          val cp = candidates.headOption.getOrElse(path)
          val tombstoned = (modelSources ++ closureSources)
            .find(k => synth.tombstones.contains((k, cp.head)))
          tombstoned.exists(k => synth.addPath(k, cp, force = true, by = pc.nodeName)) ||
            // `EXPLODE(gradeInfoHistory) AS grade_info … grade_info.utms`:
            // the exploded array's ELEMENTS must be structs carrying the tail
            (path.size > 1 && {
              val re = ("(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)\\s+(?:AS\\s+)?" +
                java.util.regex.Pattern.quote(path.head) + "(?![\\w])").r
              val structT = path.tail.foldRight(StringType: DataType)((f, acc) =>
                StructType(Seq(StructField(f, acc))))
              re.findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct.map { t =>
                val tp = t.split("\\.").toSeq
                val resolved: Seq[((String, String), Seq[String])] = tp match {
                  case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
                    aliasKeysOf(h).map(_ -> r)
                  case _ => (modelSources ++ closureSources).map(_ -> tp)
                }
                resolved.map { case (k, pp) =>
                  synth.typeAt(k, pp) match {
                    case Some(ArrayType(StringType, _)) | Some(StringType) =>
                      synth.retypePath(k, pp, ArrayType(structT))
                    case _ => false
                  }
                }.exists(identity) ||
                  retypeLeafFields(tp,
                    tt => tt == ArrayType(StringType) || tt == StringType,
                    ArrayType(structT))
              }.exists(identity)
            }) ||
            // `grade_info.utms` where grade_info is a SELECT alias over a
            // NESTED scalar (`col.gradeInfo AS grade_info`): the underlying
            // field must become a struct carrying the requested tail.
            // `price.amount AS price` is NOT a def for resolving
            // `price.amount` itself — substituting it yields
            // `price.amount.amount`, the self-nesting loop
            (path.size > 1 && aliasDefPaths(path.head)
              .filterNot(ap => ap.map(_.toLowerCase) == path.map(_.toLowerCase)).map { ap =>
              val structFor = path.tail.foldRight(StringType: DataType)((f, acc) =>
                StructType(Seq(StructField(f, acc))))
              (modelSources.filterNot(sealedSet.contains) ++ closureSources).flatMap(k =>
                synth.fieldPathsByLeaf(k, ap.last).collect {
                  case (fp, StringType) => k -> fp
                })
                .map { case (k, fp) => synth.retypePath(k, fp, structFor) }
                .exists(identity)
            }.exists(identity)) || {
            // a bare column requested through a `col.*` star-expansion of an
            // UNALIASED explode (`select leadId, col.*, rn from (select
            // explode(notes) from src)` … outer block reads `text`): only
            // the exploded ELEMENT struct can surface it — the source's
            // top level is sealed and spraying closure structs just plants
            // garbage (tochka's star-expand loop)
            path.size == 1 && "(?i)(?<![\\w.`])col\\s*\\.\\s*\\*".r
              .findFirstIn(pc.renderedSql).isDefined && {
              bareExplodeTargets().map { t =>
                val resolved: Seq[((String, String), Seq[String])] = t match {
                  case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
                    aliasKeysOf(h).map(_ -> r)
                  case _ => (modelSources ++ closureSources).map(_ -> t)
                }
                resolved.map { case (k, pp) =>
                  synth.typeAt(k, pp) match {
                    case Some(_: ArrayType) | Some(_: MapType) =>
                      synth.addPath(k, pp :+ path.last)
                    case _ => false
                  }
                }.exists(identity)
              }.exists(identity)
            }
          } || {
            val leaf = path.last
            val local = modelSources.filterNot(sealedSet.contains)
              .map(synth.addFieldToAllStructs(_, leaf)).exists(identity)
            local || closureSources.map(synth.addFieldToAllStructs(_, leaf)).exists(identity)
          } || {
            if (CorpusExecute.debug)
              println(s"[corpus-debug] attribute-MISS ${pc.nodeName} path=" +
                path.mkString(".") + " state=" +
                (modelSources ++ closureSources).map { k =>
                  val has = synth.has(k, path.head)
                  val tomb = synth.tombstones.contains((k, path.head))
                  s"${k._1}.${k._2}:has=$has,tomb=$tomb"
                }.mkString(" "))
            false
          }
        }
    }

    /** Retype the table-qualified or best-effort-attributed `path` to `dt`.
      * Falls back to closure sources, then the unique global owner, then a
      * derived-alias trace (`<src path> AS name` in the rendered SQL), then
      * leaf-name nested retype — the cases where a downstream model learns
      * the type of a column its upstream ref only passed through (fixpoint
      * passes re-run upstream). */
    def retypeByPath(rawPath: Seq[String], dt: DataType, depth: Int = 2): Boolean = {
      if (depth <= 0) return false
      val path = rawPath match {
        case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
          return aliasKeysOf(head).map(k => synth.retypePath(k, rest, dt))
            .exists(identity)
        case _ => rawPath
      }
      val local = modelSources.map(k => synth.retypePath(k, path, dt)).exists(identity)
      lazy val inClosure = closureSources.map(k => synth.retypePath(k, path, dt)).exists(identity)
      if (local || inClosure) true
      else {
        // the name may be a SELECT-list alias over a real source path; last
        // resort, the path names a field of an exploded/lambda element
        // (`col.phones`, `product.variants`) — retype every string-typed
        // NESTED field with that leaf name. These rungs must ALSO run when
        // a single-owner retype no-ops (the owner can be a planted top-level
        // impostor whose retype already happened, while the failing read is
        // of a CTE alias over a nested source field).
        def aliasRungs: Boolean = {
          // a QUALIFIED path's head is often a CTE alias
          // (`cal_x_stock.number_of_products_in_stock`): the defining
          // `stocks.stock AS number_of_products_in_stock` is only findable
          // by the LEAF name
          val defs = (aliasDefPaths(path.mkString(".")) ++
            (if (path.size > 1) aliasDefPaths(path.last) else Nil))
            .filterNot(_.map(_.toLowerCase) == path.map(_.toLowerCase)).distinct
          if (CorpusExecute.debug)
            println(s"[corpus-debug] retypeByPath(${path.mkString(".")}) rungs: defs=" +
              defs.map(_.mkString(".")).mkString(",") +
              " stringFields=" + (modelSources ++ closureSources).flatMap(k =>
                synth.stringFieldPaths(k, path.last).map(p => s"${k._2}:${p.mkString(".")}")).mkString(","))
          defs.map(retypeByPath(_, dt, depth - 1))
            .exists(identity) ||
            (modelSources ++ closureSources).flatMap(k =>
              synth.stringFieldPaths(k, path.last).map(k -> _))
              .map { case (k, fp) => synth.retypePath(k, fp, dt) }
              .exists(identity)
        }
        val owners = synth.schemas.keys.filter(k => synth.typeAt(k, path).isDefined).toSeq
        owners match {
          case Seq(only) => synth.retypePath(only, path, dt) || aliasRungs
          case _ => aliasRungs
        }
      }
    }

    /** Scalar-vs-complex conflict resolver: this node's analysis proved
      * `path` must be the scalar `dt`, but an owner carries a COMPLEX type
      * (struct/array/map) another node negotiated for its own reading of the
      * shared source. Reverting globally would just ping-pong the type
      * between the two readers across fixpoint passes — record a node
      * overlay instead, so THIS node sees the scalar and the established
      * global stands. Only this model's own sources qualify (an overlay on
      * a closure source would never be seen: upstreams re-materialize under
      * their own node view). */
    /** Sources whose ALIAS qualifies `ident` as an argument of the failing
      * function in the rendered text: `round(refund, 3)` loses the `ord.`
      * qualifier the SQL actually wrote (`ROUND(ord.refund, 3)`) — recover
      * it so a scalar-conflict overlay lands only on the source the failing
      * call reads, not on a co-sourced table whose SAME-NAMED column this
      * very node legitimately reads as a struct (gold_orders: star_order's
      * numeric `refund` vs merchant_order's `refund.merchant_reason`). */
    def argQualifiedKeys(sqlExpr: String, ident: String): Seq[(String, String)] = {
      val fn = "^([A-Za-z_]\\w*)\\s*\\(".r
        .findFirstMatchIn(stripDq(sqlExpr).trim).map(_.group(1))
      fn.toSeq.flatMap { f =>
        ("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(f) +
          "\\s*\\(\\s*([A-Za-z_]\\w*)\\s*\\.\\s*" +
          java.util.regex.Pattern.quote(ident) + "(?![\\w])").r
          .findAllMatchIn(pc.renderedSql)
          .flatMap(m => aliases.get(m.group(1).toLowerCase)).toSeq
      }.distinct
    }

    def overlayScalarConflict(path: Seq[String], dt: DataType,
                              restrictTo: Seq[(String, String)] = Nil): Boolean = {
      val resolved: Seq[((String, String), Seq[String])] = path match {
        case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
          aliasKeysOf(head).map(_ -> rest)
        case _ if restrictTo.nonEmpty => restrictTo.map(_ -> path)
        case _ => modelSources.map(_ -> path)
      }
      resolved.map { case (k, pp) =>
        synth.typeAt(k, pp).exists {
          case _: StructType | _: ArrayType | _: MapType => synth.overlayPatch(k, pp, dt)
          case cur => cur != dt && cur != StringType && synth.overlayPatch(k, pp, dt)
        }
      }.exists(identity)
    }

    /** Retype every default-guessed identifier path of `sqlExpr` to `dt` —
      * the broad-brush rule for coercion mismatches where the analyzer
      * names only the failing expression. Default guesses are STRING (the
      * negotiation's starting type) and ARRAY<STRING> (an over-eager
      * explode/index promotion) — never an already-negotiated type. */
    def retypeIdentsIn(sqlExpr: String, dt: DataType): Boolean =
      identPaths(sqlExpr).map { path =>
        def guess(t: Option[DataType]): Boolean =
          t.contains(StringType) ||
            (t.contains(ArrayType(StringType)) && !dt.isInstanceOf[ArrayType])
        path match {
          case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
            aliasKeysOf(head).map(k =>
              guess(synth.typeAt(k, rest)) && synth.retypePath(k, rest, dt))
              .exists(identity)
          case _ =>
            // retype on EVERY owner where the path still carries a default
            // guess — `(categoryId = category_id)` joins a string-guessed
            // column on one table against an already-typed twin on another,
            // and the retype must land on the guessed one specifically
            val owners = (modelSources ++ closureSources)
              .filter(k => guess(synth.typeAt(k, path)))
            if (CorpusExecute.debug)
              println(s"[corpus-debug] retypeIdentsIn(${path.mkString(".")}, ${dt.simpleString}) " +
                "owners=" + owners.map(_._2).mkString(",") + " holders=" +
                (modelSources ++ closureSources).flatMap(k =>
                  synth.typeAt(k, path).map(t => s"${k._2}:${t.simpleString.take(25)}"))
                  .mkString(","))
            if (owners.nonEmpty)
              owners.map(k => synth.retypePath(k, path, dt)).exists(identity)
            else {
              // the ident may be a SELECT alias defined in an upstream dep
              // (`isTop AS is_top`) — trace the alias definition; failing
              // that, revert default-guessed NESTED fields with that leaf
              // name (`coalesce(grade, 0)` where gradeInfo.grade was
              // leaf-spray-arrayified to ARRAY<STRING>). A same-named but
              // differently-typed TOP-LEVEL column elsewhere must not block
              // this: the
              // analyzer's failing operand is provably a default guess, and
              // only string/array<string> guesses are ever overwritten.
              path.size == 1 &&
                (aliasDefPaths(path.head).map(retypeByPath(_, dt)).exists(identity) ||
                  (modelSources ++ closureSources).flatMap(k =>
                    synth.fieldPathsByLeaf(k, path.head).collect {
                      case (fp, t) if t == StringType || t == ArrayType(StringType) =>
                        k -> fp
                    }).map { case (k, fp) => synth.retypePath(k, fp, dt) }
                    .exists(identity))
            }
        }
      }.exists(identity)

    /** `SELECT key/value FROM (SELECT EXPLODE(x) …)` where x was guessed as
      * an array: the two-column output means x is really a MAP. */
    def explodedArrayToMap(): Boolean = {
      val targets = "(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)".r
        .findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct
      targets.map { t =>
        val path = t.split("\\.").toSeq
        val resolved: Seq[((String, String), Seq[String])] = path match {
          case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
            aliasKeysOf(head).map(_ -> rest)
          case _ => (modelSources ++ closureSources).map(_ -> path)
        }
        resolved.map { case (k, pp) =>
          synth.typeAt(k, pp) match {
            case Some(ArrayType(elem, _)) =>
              synth.retypePath(k, pp, MapType(StringType, elem))
            case _ => false
          }
        }.exists(identity)
      }.exists(identity)
    }

    /** The reverse: an exploded target guessed as a MAP is really an ARRAY
      * (a single explode alias was supplied for a two-column map explode). */
    def explodedMapToArray(): Boolean = {
      val targets = "(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)".r
        .findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct
      targets.map { t =>
        val path = t.split("\\.").toSeq
        val resolved: Seq[((String, String), Seq[String])] = path match {
          case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
            aliasKeysOf(head).map(_ -> rest)
          case _ => (modelSources ++ closureSources).map(_ -> path)
        }
        resolved.map { case (k, pp) =>
          synth.typeAt(k, pp) match {
            case Some(MapType(_, v, _)) => synth.retypePath(k, pp, ArrayType(v))
            case _ => false
          }
        }.exists(identity)
      }.exists(identity)
    }

    /** A container wrongly promoted to array<struct> makes EVERY field under
      * it read as array<…> (`payload.signInType` → ARRAY<STRING>): when the
      * analyzer proves a FIELD should be scalar, de-arrayify the PARENT. */
    def deArrayifyParent(path: Seq[String]): Boolean =
      path.size > 1 && {
        val parent = path.init
        val resolved: Seq[((String, String), Seq[String])] = parent match {
          case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
            aliasKeysOf(h).map(_ -> r)
          case _ => (modelSources ++ closureSources).map(_ -> parent)
        }
        resolved.map { case (k, pp) =>
          synth.typeAt(k, pp) match {
            case Some(ArrayType(s: StructType, _)) => synth.retypePath(k, pp, s)
            case _ => false
          }
        }.exists(identity)
      }

    /** Retype every nested field whose leaf name matches the LAST part of
      * `path`, when its current type satisfies `from` — the fallback when a
      * path's head is an explode alias or lambda variable this scope can't
      * resolve. */
    def retypeLeafFields(path: Seq[String], from: DataType => Boolean,
                         to: DataType): Boolean =
      // deliberately LEAF-ONLY matching: def paths routinely carry subquery
      // aliases this scope cannot resolve, so demanding a path suffix here
      // starves legitimate promotions (a round-11 experiment regressed
      // fact_quotes_variants/fbj_ff_rate/procurement_orders). The sibling-
      // leaf poison this rung once enabled (an `exwPerItem.amount` def
      // promoting `ddpPerItem.amount`) is blocked at its ENTRY instead:
      // promoteExtractBase only recurses into tail alias-defs for two-part
      // bases, so a 3-part base never reaches this rung with a same-named
      // output alias's def path.
      (modelSources ++ closureSources).flatMap(k =>
        synth.fieldPathsByLeaf(k, path.last).collect {
          case (fp, t) if from(t) => k -> fp
        })
        .map { case (k, fp) => synth.retypePath(k, fp, to) }
        .exists(identity)

    /** array<string> at `path` → array<struct> (field access through an
      * index / lambda / explode element). */
    def promoteArrayElems(rawPath: Seq[String], keyHint: Option[(String, String)] = None): Boolean = {
      val resolved: Seq[((String, String), Seq[String])] = keyHint match {
        case Some(k) => Seq(k -> rawPath)
        case None => rawPath match {
          case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
            aliasKeysOf(head).map(_ -> rest)
          case _ => (modelSources ++ closureSources).map(_ -> rawPath)
        }
      }
      resolved.map { case (k, path) =>
        synth.typeAt(k, path) match {
          case Some(ArrayType(StringType, _)) =>
            synth.retypePath(k, path, ArrayType(emptyStruct))
          case Some(StringType) => synth.retypePath(k, path, ArrayType(emptyStruct))
          case _ => false
        }
      }.exists(identity) ||
        // `posexplode(col.stagedPrices)` — the base is a field of an outer
        // explode's element, reachable only by leaf name
        retypeLeafFields(rawPath,
          t => t == ArrayType(StringType) || t == StringType, ArrayType(emptyStruct))
    }

    /** Promote the elements of every EXPLODE target that is currently an
      * array<string> — covers extraction from the default `col` alias. */
    def promoteExplodedElements(): Boolean = {
      val targets = "(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)".r
        .findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct
      targets.map(t => promoteArrayElems(t.split("\\.").toSeq)).exists(identity)
    }

    /** Explode sites with NO output alias — the only ones that can bind the
      * analyzer's default `col` name. An aliased `explode(roles) AS r` (or a
      * LATERAL VIEW, whose grammar forces aliases) never surfaces `col`, so
      * promoting it for a `col.<field>` error is pure contamination (the
      * admin_users.roles spray that caused the role=role type war). */
    def bareExplodeTargets(): Seq[Seq[String]] = {
      val stop = Set("FROM", "WHERE", "GROUP", "ORDER", "UNION", "JOIN", "LEFT",
        "RIGHT", "INNER", "CROSS", "FULL", "ON", "HAVING", "LIMIT", "AND", "OR",
        "WHEN", "THEN", "ELSE", "END")
      val re = "(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)".r
      re.findAllMatchIn(pc.renderedSql).flatMap { m =>
        val before = pc.renderedSql
          .substring(math.max(0, m.start - 160), m.start).toUpperCase
        val after = pc.renderedSql.substring(m.end).dropWhile(_.isWhitespace)
        val nextTok = "^[A-Za-z_]\\w*".r.findFirstIn(after)
        val aliased = nextTok.exists(t => t.equalsIgnoreCase("AS") ||
            !stop.contains(t.toUpperCase)) ||
          before.lastIndexOf("LATERAL VIEW") > before.lastIndexOf("SELECT")
        if (aliased) None else Some(m.group(1).split("\\.").toSeq)
      }.toSeq.distinct
    }

    /** First-argument paths of every higher-order function call in the
      * rendered SQL — the arrays a lambda iterates. */
    def lambdaTargets(): Seq[Seq[String]] =
      ("(?i)\\b(?:transform|filter|exists|forall|aggregate|reduce|zip_with|" +
        "array_sort|sort_array)\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*[,)]").r
        .findAllMatchIn(pc.renderedSql).map(_.group(1).split("\\.").toSeq).toSeq.distinct

    /** Retype the value (or key) side of every exploded MAP target whose
      * current side type is string to a struct — field extraction through
      * the map-explode `key`/`value` aliases. */
    def promoteMapSide(valueSide: Boolean): Boolean = {
      val targets = "(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)".r
        .findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct
      targets.map { t =>
        val path = t.split("\\.").toSeq
        val resolved: Seq[((String, String), Seq[String])] = path match {
          case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
            aliasKeysOf(head).map(_ -> rest)
          case _ => (modelSources ++ closureSources).map(_ -> path)
        }
        resolved.map { case (k, pp) =>
          synth.typeAt(k, pp) match {
            case Some(MapType(kt, StringType, _)) if valueSide =>
              synth.retypePath(k, pp, MapType(kt, emptyStruct))
            case Some(MapType(StringType, vt, _)) if !valueSide =>
              synth.retypePath(k, pp, MapType(emptyStruct, vt))
            case _ => false
          }
        }.exists(identity)
      }.exists(identity)
    }

    /** Definitions of a derived alias in the rendered text: `<path> AS name`
      * yields the underlying identifier path(s) — the negotiation's answer
      * to errors that name a SELECT-list alias rather than a source column
      * (`payload.orderids AS order_ids` … `EXPLODE(order_ids)`). */
    def aliasDefPaths(name: String, depth: Int = 2): Seq[Seq[String]] = {
      if (depth <= 0) return Nil
      val re = ("(?i)(?<![\\w.'\"`])([A-Za-z_]\\w*(?:\\s*\\.\\s*[A-Za-z_]\\w*)*)\\s+AS\\s+" +
        java.util.regex.Pattern.quote(name) + "(?![\\w])").r
      // also see through a single aggregate/function wrapper:
      // `MIN(t.payload.isHidden) AS is_hidden` defines the alias over the
      // wrapped path (the aggregate doesn't change the negotiated type for
      // min/max/first/last-style passthroughs)
      // also tolerate simple trailing args: `COALESCE(x, 0) AS n`,
      // `ROUND(t.amount, 3) AS n` define the alias over the first-arg path.
      // Aggregating COLLECTORS are excluded — `COLLECT_SET(x) AS xs` makes
      // xs an ARRAY OF x, not a type-passthrough of x
      val reAgg = ("(?i)\\b(?!(?:array_agg|collect_list|collect_set)\\s*\\()" +
        "[A-Za-z_]\\w*\\s*\\(\\s*([A-Za-z_]\\w*(?:\\s*\\.\\s*[A-Za-z_]\\w*)*)\\s*(?:,[^()]*)?\\)\\s+AS\\s+" +
        java.util.regex.Pattern.quote(name) + "(?![\\w])").r
      (re.findAllMatchIn(pc.aliasSearchSql).map(_.group(1)).toSeq ++
        reAgg.findAllMatchIn(pc.aliasSearchSql).map(_.group(1)).toSeq).distinct
        .map(_.split("\\s*\\.\\s*").toSeq)
        .filter(p => p != Seq(name)) // `x AS x` loops
        .flatMap { p =>
          val resolvable = (modelSources ++ closureSources)
            .exists(k => synth.typeAt(k, dropAliasHead(p)).isDefined) ||
            (p.size > 1 && aliases.contains(p.head.toLowerCase))
          if (resolvable) Seq(p)
          else if (p.size == 1) aliasDefPaths(p.head, depth - 1) // chain of aliases
          else Seq(p)
        }
    }

    def dropAliasHead(p: Seq[String]): Seq[String] = p match {
      case head +: rest if rest.nonEmpty && aliases.contains(head.toLowerCase) => rest
      case _ => p
    }

    /** Promote extraction bases whose CURRENT type equals the type the
      * analyzer reported (`other` param) — never escalate a base the error
      * is not about (the old any-rung ladder turned structs into arrays when
      * the true culprit was an unpromoted twin on another table). */
    def promoteExtractBase(rawPath: Seq[String], reported: Option[String],
                           want: Option[DataType] = None, depth: Int = 3): Boolean = {
      if (depth <= 0) return false
      val resolved: Seq[((String, String), Seq[String])] = rawPath match {
        case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
          aliasKeysOf(head).map(_ -> rest)
        case _ =>
          val ms = (modelSources ++ closureSources)
            .filter(k => synth.typeAt(k, rawPath).isDefined).map(_ -> rawPath)
          if (ms.nonEmpty) ms
          else synth.schemas.keys.filter(k => synth.typeAt(k, rawPath).isDefined)
            .toSeq match {
            case Seq(only) => Seq(only -> rawPath)
            case _ => Nil
          }
      }
      val wantString = reported.forall(_.toUpperCase.contains("STRING")) &&
        !reported.exists(_.toUpperCase.contains("ARRAY"))
      // the promoted type follows the SQL's own index-chain shape:
      // `base[currency]['exchangeRate']` (first key a dynamic IDENT) means
      // nested maps of the chain's depth, not a struct — computed from the
      // ORIGINAL failing name and threaded through alias-def recursion
      // (the underlying field is indexed via its alias, not its own name)
      val promotedT: DataType = want.getOrElse {
        // shape detection must see QUALIFIED chains too (`a.queues[0]`) —
        // only a word char blocks the match, a dot does not
        val chains = ("(?i)(?<!\\w)" + java.util.regex.Pattern.quote(rawPath.last) +
          "((?:\\s*\\[[^\\]\\[]+\\])+)").r.findAllMatchIn(pc.renderedSql).toSeq
        val dynFirst = chains.exists(_.group(1).trim.drop(1).trim.headOption
          .exists(c => c.isLetter || c == '_'))
        // `tags[0]` / `labels[0]['k']`: a NUMERIC first index means the base
        // is an ARRAY, not a struct (the struct guess produced the
        // INVALID_EXTRACT_FIELD_TYPE "0" dead end downstream)
        val numFirst = !dynFirst && chains.exists(_.group(1).trim.drop(1).trim
          .headOption.exists(_.isDigit))
        val depth = chains.map(_.group(1).count(_ == '[')).maxOption.getOrElse(0)
        if (dynFirst && depth >= 1)
          (1 to depth).foldLeft(StringType: DataType)((t, _) => MapType(StringType, t))
        else if (numFirst && depth >= 1)
          ArrayType((2 to depth).foldLeft(StringType: DataType)((t, _) =>
            MapType(StringType, t)))
        else emptyStruct
      }
      val step = resolved.map { case (k, path) =>
        synth.typeAt(k, path) match {
          case Some(StringType) if wantString => synth.retypePath(k, path, promotedT)
          case Some(ArrayType(StringType, _))
            if reported.exists(_.toUpperCase.contains("ARRAY")) =>
            synth.retypePath(k, path, ArrayType(emptyStruct))
          case Some(ArrayType(StringType, _)) if wantString =>
            // the reported STRING is the array's ELEMENT (the base is an
            // explode/lambda output): promote the element type
            synth.retypePath(k, path, ArrayType(promotedT))
          case _ => false
        }
      }.exists(identity)
      // the named base may itself be a SELECT alias over a source path —
      // which can live under a star-expanded struct (`payload.* …
      // currencies.companyRates AS company_rates`), reachable only by the
      // alias-def path's LEAF name. A TWO-part base also tries its tail's
      // alias-defs (the head may be a CTE alias: `po.procurement_statuses`
      // where the CTE selects `procurementStatuses AS procurement_statuses`)
      // — but never deeper paths, and never when the head is a
      // generator-output alias: in `col.prices.exwPerItem` (or
      // `col.sampleDDPPrice`) the tail is a FIELD of the exploded element,
      // and a same-named output alias (`col.sampleDDPPrice.amount AS
      // sampleDDPPrice`) is a coincidence whose def-path recursion promoted
      // the WRONG sibling's `.amount` (the round-11 ddpPerItem accretion
      // that poisoned `ddpPerItem / 1000000` downstream)
      val genAlias = Set("col", "key", "value", "pos")
      val defs = (aliasDefPaths(rawPath.mkString(".")) ++
        (if (rawPath.size == 2 && !genAlias.contains(rawPath.head.toLowerCase))
          aliasDefPaths(rawPath.last) else Nil))
        .filterNot(_ == rawPath)
      // `payload['rejectReasons'] AS reject_reasons … reject_reasons[0]['code']`:
      // the alias is a map VALUE — the map's value side must carry the
      // promoted shape
      val mapValDefFixed = {
        val leafName = rawPath.last
        val re = ("(?i)([A-Za-z_][\\w.]*)\\s*\\[\\s*'([^']+)'\\s*\\]\\s+AS\\s+" +
          java.util.regex.Pattern.quote(leafName) + "(?![\\w])").r
        re.findAllMatchIn(pc.aliasSearchSql).map(m => (m.group(1), m.group(2)))
          .toSeq.distinct.map { case (t, key) =>
          val tp = t.split("\\.").toSeq
          val res: Seq[((String, String), Seq[String])] = tp match {
            case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
              aliasKeysOf(h).map(_ -> r)
            case _ +: r =>
              (modelSources ++ closureSources).map(_ -> tp) ++
                (if (r.nonEmpty) (modelSources ++ closureSources).map(_ -> r) else Nil)
            case _ => (modelSources ++ closureSources).map(_ -> tp)
          }
          res.map { case (k, pp) =>
            synth.typeAt(k, pp) match {
              case Some(MapType(mk, StringType, _)) =>
                synth.retypePath(k, pp, MapType(mk, promotedT))
              case Some(StringType) =>
                synth.retypePath(k, pp, MapType(StringType, promotedT))
              case Some(_: StructType) =>
                // `payload['rejectReasons']` over an ESTABLISHED struct is a
                // FIELD access by literal name — promote that field
                synth.typeAt(k, pp :+ key) match {
                  case Some(StringType) | None =>
                    // addPath's result must survive even when the retype
                    // no-ops (flip budget frozen): reporting "no change"
                    // after a real schema mutation would let the caller's
                    // stall classifier fire mid-progress
                    val added = synth.addPath(k, pp :+ key)
                    synth.retypePath(k, pp :+ key, promotedT) || added
                  case _ => false
                }
              case _ => false
            }
          }.exists(identity) ||
            retypeLeafFields(tp, tt => tt == StringType,
              MapType(StringType, promotedT))
        }.exists(identity)
      }
      if (mapValDefFixed) return true
      // `ELEMENT_AT(inv.sh, 1) AS inv_sh_0 … inv.inv_sh_0.s`: the alias is an
      // ELEMENT of an array — the array's element type must carry the struct
      val elemDefFixed = {
        val leafName = rawPath.last
        // the index may be an INT COLUMN (`productVariants[variant_number]
        // AS variant`), not just a literal — quoted-string indexes (maps)
        // are handled by mapValDefFixed above
        val re = ("(?i)(?:element_at\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*,\\s*-?\\d+\\s*\\)|" +
          "([A-Za-z_][\\w.]*)\\s*\\[\\s*(?:-?\\d+|[A-Za-z_]\\w*)\\s*\\])\\s+AS\\s+" +
          java.util.regex.Pattern.quote(leafName) + "(?![\\w])").r
        re.findAllMatchIn(pc.aliasSearchSql)
          .flatMap(m => Option(m.group(1)).orElse(Option(m.group(2)))).toSeq.distinct
          .map { t =>
            val tp = t.split("\\.").toSeq
            val res: Seq[((String, String), Seq[String])] = tp match {
              case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
                aliasKeysOf(h).map(_ -> r)
              case _ +: r =>
                (modelSources ++ closureSources).map(_ -> tp) ++
                  (if (r.nonEmpty) (modelSources ++ closureSources).map(_ -> r) else Nil)
              case _ => (modelSources ++ closureSources).map(_ -> tp)
            }
            res.map { case (k, pp) =>
              synth.typeAt(k, pp) match {
                case Some(StringType) | Some(ArrayType(StringType, _)) =>
                  synth.retypePath(k, pp, ArrayType(emptyStruct))
                case _ => false
              }
            }.exists(identity) ||
              retypeLeafFields(tp,
                tt => tt == StringType || tt == ArrayType(StringType),
                ArrayType(emptyStruct))
          }.exists(identity)
      }
      if (elemDefFixed) return true
      step || defs.map { p =>
        promoteExtractBase(p, reported, Some(promotedT), depth - 1) ||
          (wantString && retypeLeafFields(p, _ == StringType, promotedT))
      }.exists(identity) ||
        // or `LATERAL VIEW EXPLODE(MAP_VALUES(x)) v AS item … item.field`:
        // x's map VALUE side must be a struct
        (rawPath.size == 1 && wantString && {
          val re = ("(?i)explode(?:_outer)?\\s*\\(\\s*map_values\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)\\s*\\)" +
            "\\s+(?:\\w+\\s+)?AS\\s+" + java.util.regex.Pattern.quote(rawPath.head) + "(?![\\w])").r
          re.findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct.map { t =>
            val tp = t.split("\\.").toSeq
            val res: Seq[((String, String), Seq[String])] = tp match {
              case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
                aliasKeysOf(h).map(_ -> r)
              case _ +: r =>
                // head may be a CTE/select alias (`filtered AS f` …
                // MAP_VALUES(f.distribution.byTx)): try the tail too
                (modelSources ++ closureSources).map(_ -> tp) ++
                  (if (r.nonEmpty) (modelSources ++ closureSources).map(_ -> r) else Nil)
              case _ => (modelSources ++ closureSources).map(_ -> tp)
            }
            res.map { case (k, pp) =>
              synth.typeAt(k, pp) match {
                case Some(MapType(mk, StringType, _)) =>
                  synth.retypePath(k, pp, MapType(mk, emptyStruct))
                case Some(StringType) =>
                  synth.retypePath(k, pp, MapType(StringType, emptyStruct))
                case _ => false
              }
            }.exists(identity) ||
              retypeLeafFields(tp, tt => tt == StringType,
                MapType(StringType, emptyStruct))
          }.exists(identity)
        }) ||
        // or `LATERAL VIEW EXPLODE(MAP_ENTRIES(x)) [t] AS pc … pc.value.f` /
        // `pc.key`: x is a MAP whose VALUE side must be a struct when the
        // model extracts through `.value`
        (rawPath.size >= 2 && wantString &&
          Set("key", "value").contains(rawPath(1).toLowerCase) && {
          val re = ("(?i)explode(?:_outer)?\\s*\\(\\s*map_entries\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)\\s*\\)" +
            "\\s+(?:\\w+\\s+)?AS\\s+" + java.util.regex.Pattern.quote(rawPath.head) + "(?![\\w])").r
          re.findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct.map { t =>
            val tp = t.split("\\.").toSeq
            val res: Seq[((String, String), Seq[String])] = tp match {
              case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
                aliasKeysOf(h).map(_ -> r)
              case _ +: r =>
                (modelSources ++ closureSources).map(_ -> tp) ++
                  (if (r.nonEmpty) (modelSources ++ closureSources).map(_ -> r) else Nil)
              case _ => (modelSources ++ closureSources).map(_ -> tp)
            }
            val wantValueStruct = rawPath(1).equalsIgnoreCase("value")
            res.map { case (k, pp) =>
              synth.typeAt(k, pp) match {
                case Some(MapType(mk, StringType, _)) if wantValueStruct =>
                  synth.retypePath(k, pp, MapType(mk, emptyStruct))
                case Some(StringType) =>
                  synth.retypePath(k, pp,
                    MapType(StringType, if (wantValueStruct) emptyStruct else StringType))
                case _ => false
              }
            }.exists(identity) ||
              // the map can live NESTED (products[].variants[].priceComponents):
              // reach it by leaf and fix the value side in place
              (modelSources ++ closureSources).flatMap(k =>
                synth.fieldPathsByLeaf(k, tp.last).collect {
                  case (fp, MapType(mk, StringType, _)) if wantValueStruct =>
                    (k, fp, MapType(mk, emptyStruct): DataType)
                  case (fp, StringType) =>
                    (k, fp, MapType(StringType,
                      if (wantValueStruct) emptyStruct else StringType): DataType)
                })
                .map { case (k, fp, dtn) => synth.retypePath(k, fp, dtn) }
                .exists(identity)
          }.exists(identity)
        }) ||
        // or an EXPLODE alias (`explode(items) AS item … item.price`): the
        // exploded target's ELEMENTS must be structs
        (rawPath.size == 1 && wantString && {
          val re = ("(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)\\s+(?:AS\\s+)?" +
            java.util.regex.Pattern.quote(rawPath.head) + "(?![\\w])").r
          re.findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct.map { t =>
            val tp = t.split("\\.").toSeq
            val res: Seq[((String, String), Seq[String])] = tp match {
              case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
                aliasKeysOf(h).map(_ -> r)
              case _ => (modelSources ++ closureSources).map(_ -> tp)
            }
            res.map { case (k, pp) =>
              synth.typeAt(k, pp) match {
                case Some(ArrayType(StringType, _)) | Some(StringType) =>
                  synth.retypePath(k, pp, ArrayType(emptyStruct))
                case _ => false
              }
            }.exists(identity)
          }.exists(identity)
        })
    }

    /** Resolve a generator-default-alias reference tail (`value.X` → `X`)
      * to concrete (source, full path) occurrences through the rendered
      * SQL's TEXTUAL explode targets: `explode(t)`'s `t` resolves via the
      * alias map, a top-level lookup, or by leaf (star-expanded targets),
      * and `X` rides through the map value / array element (typeAt and
      * retypePath walk those transparently). The occurrence-scoped
      * alternative to the leaf-name spray, which retyped every same-named
      * scalar corpus-wide (`boxes.l` contamination — the round-11
      * forecast_warehousing war). */
    def generatorFieldOccurrences(tail: Seq[String]): Seq[((String, String), Seq[String])] = {
      // only UNALIASED select-position explodes produce the default
      // key/value/col names — `explode(boxes) AS boxes` and every LATERAL
      // VIEW site name their outputs, so their targets must not be touched
      // (retyping them was this rung's own first contamination: boxes.l)
      val targets = ("(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)" +
        "(?!\\s*(?:as\\s+)?(?!from\\b|union\\b|where\\b|group\\b|order\\b|limit\\b|having\\b)[A-Za-z_`(])").r
        .findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct
        .filterNot(t => Set("value", "key", "col").contains(t.split("\\.")(0).toLowerCase))
      targets.flatMap { t =>
        val tp = t.split("\\.").toSeq
        val bases: Seq[((String, String), Seq[String])] = tp match {
          case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty => aliasKeysOf(h).map(_ -> r)
          case _ => (modelSources ++ closureSources).flatMap { k =>
            val direct = if (synth.typeAt(k, tp).isDefined) Seq(k -> tp) else Nil
            val byLeaf = synth.fieldPathsByLeaf(k, tp.last).map { case (fp, _) => k -> fp }
            direct ++ byLeaf
          }
        }
        bases.map { case (k, bp) => k -> (bp ++ tail) }
      }.distinct
    }

    /** The position-output aliases of posexplode sites (`lateral view
      * posexplode(xs) t AS n, x` → `n`; `posexplode(xs) AS (n, x)` → `n`).
      * `base[n]` with such an alias is positional ARRAY indexing, never a
      * struct-field or map-key access. */
    lazy val posexplodePositionAliases: Set[String] =
      ("(?i)posexplode(?:_outer)?\\s*\\([^)]*\\)\\s+(?:[A-Za-z_]\\w*\\s+)?as\\s+([A-Za-z_]\\w*)\\s*,".r
        .findAllMatchIn(pc.renderedSql).map(_.group(1).toLowerCase) ++
       "(?i)posexplode(?:_outer)?\\s*\\([^)]*\\)\\s+as\\s*\\(\\s*([A-Za-z_]\\w*)\\s*,".r
        .findAllMatchIn(pc.renderedSql).map(_.group(1).toLowerCase)).toSet

    /** `value.X[n]` / `(value.w)[n]` where `n` is a posexplode position
      * alias and `value` a generator output: `X` is an ARRAY (the
      * vectorized field extraction of a map<k, array<struct>> mongo shape,
      * e.g. forecast_warehousing's `packaging.phases`) — retype the
      * occurrence inside the binding target, never promote to a struct. */
    def posIndexedGeneratorField(name: String): Boolean = {
      val path = name.split("\\.").toSeq
      if (path.size < 2 || !Set("value", "key", "col").contains(path.head.toLowerCase))
        return false
      if (posexplodePositionAliases.isEmpty) return false
      val idxIdents = ("(?i)" + java.util.regex.Pattern.quote(name) +
        "\\s*\\)?\\s*\\[\\s*([A-Za-z_]\\w*)\\s*\\]").r
        .findAllMatchIn(pc.renderedSql).map(_.group(1).toLowerCase).toSet
      idxIdents.exists(posexplodePositionAliases.contains) &&
        generatorFieldOccurrences(path.tail)
          .filter { case (k, fp) =>
            synth.typeAt(k, fp).exists {
              case StringType => true
              // de-promote a stub struct a prior extract-base guess planted
              case s: StructType => s.catalogString.contains("_graft_stub")
              case _ => false
            }
          }
          .map { case (k, fp) => synth.retypePath(k, fp, ArrayType(StringType)) }
          .exists(identity)
    }

    cond match {
      case c if c.startsWith("UNRESOLVED_COLUMN") =>
        p.get("objectName").exists { n =>
          val path = parts(n)
          // (mapValueField — `value.id`, a field of an exploded MAP's value —
          // is defined lazily below, after the retype helpers it needs; it
          // still leads the rung chain, handled BEFORE attribute, which
          // would plant a top-level `value` impostor)
          // a model can hold BOTH an array explode (default alias `col`) and
          // a map explode (defaults `key`/`value`): flips must be selective
          // or they ping-pong — bind each default-alias reference to the
          // NEAREST PRECEDING explode call in the text (its lexical scope)
          def nearestExplodeTargetsBefore(refRegex: String): Seq[Seq[String]] = {
            val ex = "(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)".r
              .findAllMatchIn(pc.renderedSql).map(m => m.start -> m.group(1)).toSeq
            refRegex.r.findAllMatchIn(pc.renderedSql).map(_.start).toSeq.flatMap { pos =>
              ex.filter(_._1 < pos).sortBy(-_._1).headOption
                .map(_._2.split("\\.").toSeq)
            }.distinct
          }
          def retypeTarget(tp: Seq[String], f: DataType => Option[DataType]): Boolean = {
            val resolved: Seq[((String, String), Seq[String])] = tp match {
              case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
                aliasKeysOf(h).map(_ -> r)
              case _ => (modelSources ++ closureSources).map(_ -> tp)
            }
            resolved.map { case (k, pp) =>
              synth.typeAt(k, pp).flatMap(f).exists(synth.retypePath(k, pp, _))
            }.exists(identity) ||
              // the target can live under a star-expanded struct
              // (`payload.currencies.* … explode(rates)`): reach it by leaf
              (modelSources ++ closureSources).flatMap(k =>
                synth.fieldPathsByLeaf(k, tp.last).map(k -> _))
                .map { case (k, (fp, t)) => f(t).exists(synth.retypePath(k, fp, _)) }
                .exists(identity)
          }
          def withField(dt: DataType, field: String): StructType = dt match {
            case s: StructType if s.fieldNames.exists(_.equalsIgnoreCase(field)) => s
            case s: StructType => StructType(s.fields :+ StructField(field, StringType))
            case _ => StructType(Seq(StructField("_graft_stub", StringType),
              StructField(field, StringType)))
          }
          lazy val colField = path.size > 1 && path.head.equalsIgnoreCase("col") && {
            // `col.type`: an explode target must be an ARRAY of a struct
            // carrying `type` — a map guess there was wrong. Prefer the
            // producers in the referencing block's own plan subtree, then
            // the lexically nearest preceding explode; with nested
            // subqueries the producer can sit BELOW the reference, so fall
            // back to every explode target in the model.
            val fix: DataType => Option[DataType] = {
              case MapType(_, v, _) => Some(ArrayType(withField(v, path.last)))
              case ArrayType(StringType, _) | StringType =>
                Some(ArrayType(withField(emptyStruct, path.last)))
              case ArrayType(s: StructType, _)
                if !s.fieldNames.exists(_.equalsIgnoreCase(path.last)) =>
                Some(ArrayType(withField(s, path.last)))
              case _ => None
            }
            val scopedT = scopeGeneratorTargets("col")
            // scoped targets are authoritative: when the plan walk FOUND the
            // binding generator(s), a no-effect retype means the failure is
            // elsewhere (stale upstream) — falling through to nearest/all
            // would flip unrelated healthy targets (the rates-map vs
            // typedPrices-array war)
            if (scopedT.nonEmpty) scopedT.map(retypeTarget(_, fix)).exists(identity)
            else {
              val near = nearestExplodeTargetsBefore("(?i)(?<![\\w.`])col\\s*\\.")
                .map(retypeTarget(_, fix)).exists(identity)
              near || {
                val all = "(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)".r
                  .findAllMatchIn(pc.renderedSql).map(_.group(1).split("\\.").toSeq)
                  .toSeq.distinct
                all.map(retypeTarget(_, fix)).exists(identity)
              }
            }
          }
          // a bare `key`/`value` reference only implies a map explode when
          // the referencing block's own subtree holds a generator — `key`
          // can be a PLAIN COLUMN of another table (core_i18ndata's key/val),
          // and a cross-CTE textual-proximity flip corrupted the unrelated
          // explode's target (email_texts ping-pong)
          def scopeHasGenerator(refName: String): Boolean = scala.util.Try {
            import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedGenerator}
            import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, UnresolvedWith}
            val plan = pc.parsedPlan.getOrElse(return false)
            val nodes = planNodes(plan)
            val ctes: Map[String, LogicalPlan] = nodes.collect {
              case w: UnresolvedWith =>
                w.cteRelations.map(r => r._1.toLowerCase -> (r._2: LogicalPlan))
            }.flatten.toMap
            val genNameRe = "(?i)(pos)?explode(_outer)?".r
            def hasGen(p: LogicalPlan, depth: Int): Boolean =
              p.collectFirst { case g: Generate => g }.isDefined ||
                p.expressions.exists(_.collectFirst {
                  case g: UnresolvedGenerator => g
                  case f: UnresolvedFunction
                    if genNameRe.matches(f.nameParts.last) => f }.isDefined) ||
                (depth > 0 && p.collect {
                  case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
                    r.multipartIdentifier.last.toLowerCase
                }.exists(n => ctes.get(n).exists(hasGen(_, depth - 1))))
            val target = refName.toLowerCase
            nodes.filter(p => p.expressions.exists(_.collectFirst {
              case a: UnresolvedAttribute
                if a.nameParts.map(_.toLowerCase) == Seq(target) => a
            }.isDefined)).exists(hasGen(_, 2))
          }.getOrElse(true) // parse failure: keep the old permissive behavior
          /** Explode/posexplode ARGUMENT paths inside the subtree of every
            * plan node referencing `refName` (CTE bodies expanded two
            * levels) — the producers a `key`/`value`/`col` default-alias
            * reference can actually see. Textual nearest-explode guessing
            * flipped UNRELATED targets in multi-explode models
            * (fact_order_change's rates-map vs typedPrices-array war). */
          def scopeGeneratorTargets(refName: String): Seq[Seq[String]] = scala.util.Try {
            import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedGenerator, UnresolvedRelation, UnresolvedStar}
            import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LogicalPlan, Project, UnresolvedWith}
            import org.apache.spark.sql.catalyst.expressions.Expression
            val plan = pc.parsedPlan.getOrElse(return Nil)
            val nodes = planNodes(plan)
            val ctes: Map[String, LogicalPlan] = nodes.collect {
              case w: UnresolvedWith =>
                w.cteRelations.map(r => r._1.toLowerCase -> (r._2: LogicalPlan))
            }.flatten.toMap
            val genName = "(?i)(pos)?explode(_outer)?".r
            def fromExpr(e: Expression): Seq[Seq[String]] = e.collect {
              case f: UnresolvedFunction
                if genName.matches(f.nameParts.last) =>
                f.arguments.flatMap(_.collectFirst {
                  case a: UnresolvedAttribute => a.nameParts })
              case g: UnresolvedGenerator
                if genName.matches(g.name.funcName) =>
                g.children.flatMap(_.collectFirst {
                  case a: UnresolvedAttribute => a.nameParts })
            }.flatten
            def hasStar(exprs: Seq[Expression]): Boolean =
              exprs.exists(_.collectFirst { case s: UnresolvedStar => s }.isDefined)
            // The LEVELS of generator targets below `n`: the binder of a
            // default explode alias (`col`/`key`/`value`) is the FIRST
            // Project/Aggregate boundary below the demand block that holds a
            // generator; non-generator boundaries pass through only when
            // they star-select (their deeper generator outputs flow up).
            // Levels after the binder resolve relative chains
            // (`col.stagedPrices` -> <deeper target>.stagedPrices).
            def levelsBelow(n: LogicalPlan, d: Int): List[Seq[Seq[String]]] = {
              if (d <= 0) return Nil
              n match {
                case pr: Project =>
                  val own = pr.projectList.flatMap(fromExpr)
                  if (own.nonEmpty) own.toList.distinct :: pr.children.toList.flatMap(levelsBelow(_, d - 1)).take(6)
                  else if (hasStar(pr.projectList)) pr.children.toList.flatMap(levelsBelow(_, d - 1))
                  else Nil // sealed: explicit star-free list w/o generators
                case ag: Aggregate =>
                  val own = ag.aggregateExpressions.flatMap(fromExpr)
                  if (own.nonEmpty) own.toList.distinct :: ag.children.toList.flatMap(levelsBelow(_, d - 1)).take(6)
                  else if (hasStar(ag.aggregateExpressions)) ag.children.toList.flatMap(levelsBelow(_, d - 1))
                  else Nil
                case g: Generate =>
                  val own = (fromExpr(g.generator) ++ g.generator.children.flatMap(fromExpr)).distinct
                  own :: g.children.toList.flatMap(levelsBelow(_, d - 1)).take(6)
                case r: UnresolvedRelation =>
                  val nm = r.multipartIdentifier.last.toLowerCase
                  ctes.get(nm).map(levelsBelow(_, d - 1)).getOrElse(Nil)
                case other => other.children.toList.flatMap(levelsBelow(_, d - 1))
              }
            }
            // resolve relative heads (`col.x` at level i binds to level i+1)
            def resolveLevels(levels: List[Seq[Seq[String]]]): Seq[Seq[String]] =
              levels match {
                case Nil => Nil
                case g0 :: rest =>
                  val below = resolveLevels(rest)
                  g0.map { t =>
                    if (t.headOption.exists(h => h.equalsIgnoreCase("col") ||
                        h.equalsIgnoreCase(refName)) && t.size > 1)
                      below match {
                        case Seq(one) => one ++ t.tail
                        case _ => t
                      }
                    else t
                  }
              }
            val target = refName.toLowerCase
            val demandBlocks = nodes.filter(p => p.expressions.exists(_.collectFirst {
              case a: UnresolvedAttribute
                if a.nameParts.map(_.toLowerCase).lastOption.contains(target) ||
                  a.nameParts.map(_.toLowerCase).headOption.contains(target) => a
            }.isDefined))
            demandBlocks.flatMap { p =>
              val levels = p.children.toList.flatMap(levelsBelow(_, 8)) match {
                case Nil =>
                  // the demand may sit in the same Project as a LATERAL VIEW
                  // over this block (Generate wraps the Project's child)
                  List(p.expressions.flatMap(fromExpr).toSeq).filter(_.nonEmpty)
                case ls => ls
              }
              levels match {
                case Nil => Nil
                case binder :: deeper => resolveLevels(binder :: deeper).take(binder.size)
              }
            }.distinct
              .filterNot(_.map(_.toLowerCase) == Seq(refName.toLowerCase))
          }.getOrElse(Nil)
          // `value.id` — a field of an exploded MAP's value: the map's value
          // side must be a struct carrying it. The binding generator's
          // target may ALSO still be an ARRAY guess (its output alias was
          // `col`, so `key`/`value` never resolved): flip the SCOPED target
          // to a map carrying the field on the demanded side —
          // forecast_warehousing's `packaging.* … explode(phases) …
          // value.l`, where the target hides under a star-expansion (so
          // explodedArrayToMap's root-path probe misses it) and nothing in
          // the model references `col`.
          lazy val mapValueField = path.size > 1 &&
            Set("key", "value").contains(path.head.toLowerCase) && {
              val side = path.head.equalsIgnoreCase("value")
              def scopedArrayToMap(): Boolean = {
                val colFree = "(?i)(?<![\\w.`])col(?![\\w])".r
                  .findFirstIn(pc.renderedSql).isEmpty
                val fix: DataType => Option[DataType] = {
                  case ArrayType(s: StructType, _) if side =>
                    Some(MapType(StringType, withField(s, path.last)))
                  case ArrayType(StringType, _) | StringType if side =>
                    Some(MapType(StringType, withField(emptyStruct, path.last)))
                  case ArrayType(elem, _) if !side => Some(MapType(StringType, elem))
                  case _ => None
                }
                // a generator CONSUMING the map output is in the same scope
                // (`lateral view posexplode(value.l)`): its target path is
                // rooted at the output alias itself — and the scope walk may
                // RESOLVE that path through alias levels down to a bare leaf
                // (`l`), whose leaf-fallback retype sprays the map shape onto
                // every same-leaf field (the boxes.l contamination). Only
                // PRODUCER targets qualify: the flip target must itself be a
                // textual explode argument and not be rooted at a
                // generator-output alias.
                val textualTargets =
                  "(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)".r
                    .findAllMatchIn(pc.renderedSql)
                    .map(_.group(1).toLowerCase).toSet
                colFree && scopeGeneratorTargets(path.head.toLowerCase)
                  .filter(t => textualTargets.contains(
                    t.map(_.toLowerCase).mkString(".")))
                  .filterNot(t => Set("key", "value", "col")
                    .contains(t.head.toLowerCase))
                  .map(retypeTarget(_, fix)).exists(identity)
              }
              promoteMapSide(valueSide = side) | scopedArrayToMap() |
                (modelSources ++ closureSources)
                  .map(synth.addFieldToAllStructs(_, path.last)).exists(identity)
            }
          val keyValueFlip =
            Set("key", "value").contains(path.last.toLowerCase) && path.size == 1 && {
              val shg = scopeHasGenerator(path.last)
              if (CorpusExecute.debug)
                println(s"[corpus-debug] scopeHasGenerator(${path.last})=$shg")
              shg
            } && {
              // bare `key`/`value`: an explode target must be a MAP — try
              // the lexically nearest first, then every target (nested
              // subqueries put the producer BELOW the reference)
              val fix: DataType => Option[DataType] = {
                case ArrayType(elem, _) => Some(MapType(StringType, elem))
                case StringType => Some(MapType(StringType, StringType))
                case _ => None
              }
              val scopedT = scopeGeneratorTargets(path.last)
              if (CorpusExecute.debug)
                println(s"[corpus-debug] keyValueFlip(${path.last}) scopedT=" +
                  scopedT.map(_.mkString(".")).mkString(","))
              // scoped = authoritative (see colField): no nearest/all
              // fallback once the binding generator is known
              if (scopedT.nonEmpty) scopedT.map(retypeTarget(_, fix)).exists(identity)
              else {
                val near = nearestExplodeTargetsBefore(
                  "(?i)(?<![\\w.`])" + path.last.toLowerCase + "(?![\\w])")
                  .map(retypeTarget(_, fix)).exists(identity)
                near || {
                  val all = "(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)".r
                    .findAllMatchIn(pc.renderedSql).map(_.group(1).split("\\.").toSeq)
                    .toSeq.distinct
                  all.map(retypeTarget(_, fix)).exists(identity)
                }
              }
            }
          mapValueField || colField || keyValueFlip ||
            attribute(path) ||
            // `key`/`value` over an exploded column we guessed as array —
            // the real type is a map. Matches both a bare `value` (last) and
            // a `value.field` extraction (head): scd2_mongo_merchant_order's
            // `SELECT value.id FROM (SELECT explode(products) …)` reads the
            // map-explode output through a field path.
            ((Set("key", "value").contains(path.last.toLowerCase) ||
              Set("key", "value").contains(path.head.toLowerCase)) &&
              explodedArrayToMap())
        }
      case c if c.startsWith("UNRESOLVED_USING_COLUMN") =>
        // "USING column `x` cannot be resolved on the <side> side": one side
        // is a synthetic relation missing x — offer it everywhere it fits
        p.get("colName").orElse(p.get("objectName")).exists(n => attribute(parts(n)))
      case c if c.startsWith("UNRESOLVED_FIELD") =>
        (p.get("columnPath"), p.get("fieldName")) match {
          case (Some(cp), Some(f)) => attribute(parts(cp) ++ parts(f))
          case _ => false
        }
      case c if c.startsWith("AMBIGUOUS_REFERENCE") =>
        // a column we offered to several sources: keep one, retract the rest
        // (all synthetic; with 0 rows the placement is observationally
        // irrelevant — executability is the claim being proven). Retraction
        // preference: unpinned first, then columns pinned by OTHER nodes;
        // this node's own qualified claims are never retracted.
        def retractCol(col: String): Boolean = {
          val holders = (modelSources ++ closureSources).filter(k => synth.has(k, col))
          val own = holders.filter(k => synth.pinned.get((k, col)).contains(pc.nodeName))
          // an ambiguity-keep marker pin ("~ambig:<node>", set below) only
          // binds the node whose war placed it — to every OTHER node the
          // holder is ordinary (unpinned), so one node's tie-break can never
          // mislead another node's war
          def effectivePin(k: (String, String)): Boolean =
            synth.pinned.get((k, col)).exists(v =>
              !v.startsWith("~ambig:") || v == "~ambig:" + pc.nodeName)
          val foreignPinned = holders.filterNot(own.contains).filter(effectivePin)
          val unpinned = holders.filterNot(k => own.contains(k) || effectivePin(k))
          val toRetract =
            if (own.nonEmpty) foreignPinned ++ unpinned          // keep own claims
            // a SINGLE synth holder ambiguous against a non-synth relation
            // (a CTE of literals, a subquery alias): the synth plant is the
            // impostor — the reference resolves to the CTE column
            else if (holders.size == 1) holders
            else if (unpinned.nonEmpty && unpinned.size < holders.size)
              unpinned                                           // keep pinned ones
            else if (unpinned.nonEmpty) unpinned.drop(1)         // keep the first
            else holders.drop(1) // all foreign-pinned: still must break the tie
          // PIN the kept holders: without a pin the next unqualified plant
          // wave re-offers the column everywhere, the war re-arises, and a
          // DIFFERENT holder may win the next retraction — the product_id
          // plant⇄retract ping-pong that burned product_nf_segment's
          // 200-iteration budget. A pinned keep makes every later round
          // keep the SAME holder, so multi-block demands (one block
          // resolving on star_order_2020, another on
          // dim_published_product_min) converge instead of oscillating.
          // The pin carries a MARKER provenance (not pc.nodeName): it must
          // survive the unpinned-first preference yet stay tie-breakable —
          // pinning as "own" deadlocked when two keeps of the same name
          // later collided (own claims are never retracted).
          holders.filterNot(toRetract.contains)
            .foreach(k => synth.pinned.getOrElseUpdate((k, col), "~ambig:" + pc.nodeName))
          toRetract.map(synth.retract(_, col)).exists(identity)
        }
        /** The name shadows a RELATION (a source table or a ref'd node): a
          * column with that name is an artifact of an earlier unqualified
          * offer — the relation interpretation always wins, drop the column
          * from every holder. */
        def retractRelationImpostor(name: String): Boolean = {
          val isRelation = (modelSources ++ closureSources)
            .exists(_._2.equalsIgnoreCase(name)) ||
            ("(?i)(?:from|join)\\s+[`\"]?" + java.util.regex.Pattern.quote(name)).r
              .findFirstIn(pc.renderedSql).isDefined
          isRelation && {
            val holders = (modelSources ++ closureSources).filter(k => synth.has(k, name))
            holders.map(synth.retract(_, name)).exists(identity)
          }
        }
        p.get("name").map(parts) match {
          case Some(path) if path.size > 1 && aliases.contains(path.head.toLowerCase) =>
            // `alias.x` ambiguous because x ALSO exists as a struct column
            // elsewhere: the alias interpretation is the intended one —
            // retract the struct-column impostors (named like the alias).
            // For `i.history.status` the DUPLICATED name is the middle
            // component — try every component after the alias head too.
            retractCol(path.head) || path.tail.map(retractCol).exists(identity)
          case Some(path) if path.size > 1 =>
            // qualifier is no single-target alias: it may be a table name
            // shared by several sources (schema1.t / schema2.t) or a
            // multi-scope alias — the qualifier-named COLUMN impostors
            // (struct columns created from `t.col` paths) are what make the
            // reference ambiguous
            retractRelationImpostor(path.head) || retractCol(path.head) ||
              retractCol(path.last)
          case Some(path) => retractCol(path.last)
          case None => false
        }
      case c if c.startsWith("DATATYPE_MISMATCH.BINARY_OP") =>
        // "(a AND b)" / "(ts + INTERVAL ...)": retype the default-guessed
        // identifier operands to the type the operator needs. The strongest
        // signal is the (left, right) operand-type pair the analyzer
        // reports: when exactly one side is a default guess (STRING /
        // ARRAY<STRING>), the OTHER side's type is what the guess should be.
        def isGuess(t: String) = { val u = t.toUpperCase; u == "\"STRING\"" ||
          u == "STRING" || u.replaceAll("\"", "") == "ARRAY<STRING>" }
        // over-promotion revert: `(payload.signInType = phone)` comparing a
        // STRUCT against a string can only mean an earlier broad-brush
        // promotion hit a real string column — a struct=string comparison
        // could never analyze in the reference's own SQL either, so ANY
        // struct operand here is our artifact and reverting it is safe
        def stubRevert(): Boolean = {
          val sides = Seq(p.get("left"), p.get("right")).flatten
            .map(_.toUpperCase.replaceAll("\"", ""))
          // a stub struct compared against ANY scalar (string, int, bool…)
          // is our accretion artifact — the reference's own SQL could never
          // analyze a struct=scalar comparison
          val scalarSide = sides.find(s =>
            !s.contains("STRUCT") && !s.startsWith("ARRAY") && !s.startsWith("MAP"))
          def isStub(s: StructType): Boolean =
            s.isEmpty || (s.fieldNames.contains("_graft_stub") &&
              s.fields.forall(_.dataType == StringType))
          sides.exists(_.contains("STRUCT")) && scalarSide.isDefined &&
            p.get("sqlExpr").exists { expr =>
              val revertT = scalarSide.flatMap(typeFor).getOrElse(StringType)
              identPaths(expr).flatMap { raw =>
                // the ident may be an upstream SELECT alias
                // (`validationStatus as validation_status` in a dep), or
                // carry a relation-alias head the ambiguity-dropper removed
                val dropped = if (raw.size > 1) Seq(raw.tail) else Nil
                (raw +: dropped) ++ aliasDefPaths(raw.head).map(_ ++ raw.tail)
              }.map { path =>
                val owners = (modelSources ++ closureSources)
                  .filter(k => synth.typeAt(k, path).exists(_.isInstanceOf[StructType]))
                owners.map { k =>
                  synth.typeAt(k, path) match {
                    // stub-bearing all-string struct = this negotiation's
                    // own accretion, revert globally; a struct with real
                    // typed fields is another node's established reading —
                    // node overlay (own sources only)
                    case Some(s: StructType) if isStub(s) =>
                      synth.retypePath(k, path, revertT)
                    case _ =>
                      modelSources.contains(k) && synth.overlayPatch(k, path, revertT)
                  }
                }.exists(identity) || {
                  // the struct operand may be an ELEMENT of an indexed array
                  // (`categories[0] = category_id`): revert the array's stub
                  // element type to the scalar side, not the scalar to struct
                  val arrOwners = (modelSources ++ closureSources).filter(k =>
                    synth.typeAt(k, path).exists {
                      case ArrayType(s: StructType, _) => isStub(s)
                      case _ => false
                    })
                  arrOwners.map(k => synth.retypePath(k, path, ArrayType(revertT)))
                    .exists(identity)
                }
              }.exists(identity)
            }
        }
        /** `(payload.signInType = phone)` with ARRAY<…> vs STRING: same
          * argument — an array=string comparison proves the array guess
          * wrong; revert the array operand to plain STRING. */
        def arrayGuessRevert(): Boolean = {
          val sides = Seq(p.get("left"), p.get("right")).flatten
            .map(_.toUpperCase.replaceAll("\"", ""))
          sides.exists(_.startsWith("ARRAY")) && sides.exists(s => s == "STRING") &&
            p.get("sqlExpr").exists { expr =>
              identPaths(expr).map { path =>
                val owners = (modelSources ++ closureSources)
                  .filter(k => synth.typeAt(k, path).exists(_.isInstanceOf[ArrayType]))
                owners.map(k => synth.retypePath(k, path, StringType)).exists(identity) ||
                  // the array-ness may come from a wrongly-promoted PARENT
                  // container (payload: array<struct> → every field vectorizes)
                  deArrayifyParent(path)
              }.exists(identity)
            }
        }
        /** `(namedlambdavariable() = 1)`: the lambda's element type is wrong
          * — retype every higher-order target's array<string> elements to
          * the other operand's type. */
        def lambdaElemRetype(): Boolean =
          p.get("sqlExpr").exists(_.contains("namedlambdavariable()")) && {
            // the authoritative side is the one that is neither a plain
            // STRING guess nor one of our own stub accretions (a struct
            // carrying _graft_stub compared to a literal means the ELEMENT
            // was stub-grown into a struct it never was — merchant_order's
            // `TRANSFORM(srm, method -> CASE WHEN method = 1 …)`)
            val other = Seq(p.get("left"), p.get("right")).flatten
              .map(_.toUpperCase.replaceAll("\"", ""))
              .filterNot(s => s == "STRING" || s.contains("_GRAFT_STUB"))
            def retypableElem(et: DataType): Boolean = et match {
              case StringType => true
              case s: StructType => s.catalogString.contains("_graft_stub")
              case _ => false
            }
            // precise targeting: only arrays whose lambda BODY compares the
            // BARE variable to a literal can be the failing site — without
            // this, retyping every lambda target would clobber legitimately
            // struct-elemented arrays iterated elsewhere in the same model
            // (`FILTER(st.st, element -> element.s == 1)` next to
            // `TRANSFORM(srm, method -> CASE WHEN method = 1 …)`)
            def bareCompareTargets(): Seq[Seq[String]] = {
              val call = ("(?i)\\b(?:transform|filter|exists|forall)\\s*\\(\\s*" +
                "([A-Za-z_][\\w.]*)\\s*,\\s*([A-Za-z_]\\w*)\\s*->").r
              call.findAllMatchIn(pc.renderedSql).flatMap { m =>
                val body = pc.renderedSql.substring(m.end,
                  math.min(pc.renderedSql.length, m.end + 600))
                val cmp = ("(?<![\\w.])" + java.util.regex.Pattern.quote(m.group(2)) +
                  "\\s*(?:==?|!=|<>)\\s*[\\d']").r
                if (cmp.findFirstIn(body).isDefined)
                  Some(m.group(1).split("\\.").toSeq) else None
              }.toSeq.distinct
            }
            val precise = bareCompareTargets()
            val targets = if (precise.nonEmpty) precise else lambdaTargets()
            other.headOption.flatMap(typeFor).exists { dt =>
              targets.map { t =>
                val owners = (modelSources ++ closureSources)
                  .filter(k => synth.typeAt(k, t) match {
                    case Some(ArrayType(et, _)) => retypableElem(et)
                    case _ => false
                  })
                owners.map(k => synth.retypePath(k, t, ArrayType(dt))).exists(identity)
              }.exists(identity)
            }
          }
        // a side carrying our own `_graft_stub` marker is never authoritative:
        // it is either this negotiation's accretion (stubRevert's job) or a
        // STALE upstream table built before a revert — promoting the guess
        // side to match it re-freezes the bad type and starves the
        // refreshUpstreams path of its no-patch trigger
        def isStubType(t: String) = t.toUpperCase.contains("_GRAFT_STUB")
        val fromSides = (p.get("left"), p.get("right")) match {
          case (Some(l), Some(r)) if isGuess(l) && !isGuess(r) && !isStubType(r) => typeFor(r)
          case (Some(l), Some(r)) if isGuess(r) && !isGuess(l) && !isStubType(l) => typeFor(l)
          case _ => None
        }
        if (stubRevert() || arrayGuessRevert() || lambdaElemRetype()) return true
        val want: Option[DataType] =
          fromSides
            .orElse(p.get("requiredType").flatMap(typeFor))
            .orElse(p.get("inputType").flatMap(typeFor))
            .orElse(p.get("sqlExpr").flatMap(typeFromExprShape))
        want.exists { dt =>
          p.get("sqlExpr").exists { expr =>
            // `categories[0] = category_id`: the INDEXED ident's ELEMENT type
            // is what must change, not the array itself
            val indexed = "([A-Za-z_][\\w.]*)\\s*\\[\\s*\\d+\\s*\\]".r
              .findAllMatchIn(stripDq(expr)).map(_.group(1)).toSeq.distinct
            val indexedFixed = indexed.map { b =>
              val path = b.split("\\.").toSeq
              val owners = (modelSources ++ closureSources)
                .filter(k => synth.typeAt(k, path).contains(ArrayType(StringType)))
              owners.map(k => synth.retypePath(k, path, ArrayType(dt))).exists(identity)
            }.exists(identity)
            if (indexedFixed) true
            else if (dt == BooleanType) {
              // only BARE operands of AND/OR/NOT are boolean-valued — a
              // whole-expr retype would corrupt string columns that appear
              // inside already-consistent comparisons (`type = 'preview'`)
              val bare = "(?i)(?<=\\(|\\bAND |\\bOR |\\bNOT |^)\\s*([A-Za-z_][\\w.]*)\\s*(?=\\)|\\bAND\\b|\\bOR\\b|$)".r
                .findAllMatchIn(stripDq(expr)).map(_.group(1)).toSeq.distinct
              bare.map(b => retypeIdentsIn(b, dt)).exists(identity)
            } else retypeIdentsIn(expr, dt) ||
              // the operand is ESTABLISHED to a different scalar by other
              // readers of the shared source (dim_date.id: BIGINT for
              // key-join models, DATE for `id >= DATE '…'` models) — give
              // THIS node its own overlay view instead of flip-flopping the
              // global type
              identPaths(expr).map(overlayScalarConflict(_, dt)).exists(identity)
          }
        }
      case "DATATYPE_MISMATCH.SEQUENCE_WRONG_INPUT_TYPES" =>
        // sequence(start, stop[, step]) over string endpoints: dates
        p.get("sqlExpr").exists(expr => retypeIdentsIn(expr, DateType))
      case "DATATYPE_MISMATCH.DATA_DIFF_TYPES" | "DATATYPE_MISMATCH.BINARY_ARRAY_DIFF_TYPES"
         | "INCOMPATIBLE_COLUMN_TYPE" =>
        // UNION/EXCEPT/INTERSECT branch-ordinal mismatch (`operator=UNION`,
        // `columnOrdinalNumber=13th`, dataType1/2, no sqlExpr): resolve the
        // ordinal to the branches' output NAME through the parsed plan —
        // expanding a leading star through CTE/subquery indirection, the
        // shape the error actually arises from (`SELECT *, win… FROM
        // rfq_order UNION ALL … FROM rfq_deal`) — then retype the
        // string-guessed idents behind that name to the other side's type
        // (temp_rfq_deals_orders' is_top: BOOLEAN on one rfq snapshot, an
        // unconstrained STRING on its customer twin).
        val unionOrdinal = for {
          op <- p.get("operator")
          if Set("UNION", "EXCEPT", "INTERSECT").contains(op.toUpperCase)
          ordStr <- p.get("columnOrdinalNumber")
          ord <- "\\d+".r.findFirstIn(ordStr).map(_.toInt)
          t1 <- p.get("dataType1").map(stripDq)
            .flatMap(s => scala.util.Try(DataType.fromDDL(s)).toOption)
          t2 <- p.get("dataType2").map(stripDq)
            .flatMap(s => scala.util.Try(DataType.fromDDL(s)).toOption)
          want <- (t1, t2) match {
            case (StringType, t) if t != StringType => Some(t)
            case (t, StringType) if t != StringType => Some(t)
            case _ => None
          }
          plan <- pc.parsedPlan
        } yield {
          import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedRelation, UnresolvedStar}
          import org.apache.spark.sql.catalyst.expressions.Alias
          import org.apache.spark.sql.catalyst.plans.logical.{Distinct, LogicalPlan, Project, SubqueryAlias, Union, UnresolvedWith}
          val nodes = planNodes(plan)
          val ctes: Map[String, LogicalPlan] = nodes.collect {
            case w: UnresolvedWith =>
              w.cteRelations.map(r => r._1.toLowerCase -> (r._2: LogicalPlan))
          }.flatten.toMap
          def outNames(pl: LogicalPlan, depth: Int): Seq[String] = pl match {
            case _ if depth <= 0 => Nil
            case Project(items, child) => items.flatMap {
              case _: UnresolvedStar => outNames(child, depth - 1)
              case a: Alias => Seq(a.name)
              case ua: UnresolvedAlias => ua.child match {
                case u: UnresolvedAttribute => Seq(u.nameParts.last)
                case a: Alias => Seq(a.name)
                case _ => Seq("?")
              }
              case u: UnresolvedAttribute => Seq(u.nameParts.last)
              case _ => Seq("?")
            }
            case SubqueryAlias(_, c) => outNames(c, depth)
            case Distinct(c) => outNames(c, depth)
            case r: UnresolvedRelation =>
              ctes.get(r.multipartIdentifier.last.toLowerCase)
                .map(outNames(_, depth - 1)).getOrElse(Nil)
            case other => other.children match {
              case Seq(c) => outNames(c, depth) // Filter/Sort/Limit pass-throughs
              case _ => Nil
            }
          }
          nodes.collect { case u: Union => u }.flatMap(_.children)
            .flatMap(ch => outNames(ch, 6).drop(ord - 1).headOption)
            .filter(_ != "?").distinct
            .map(nm => retypeByPath(Seq(nm), want)).exists(identity)
        }
        if (unionOrdinal.contains(true)) return true
        // least/coalesce/union branches disagree: infer the intended type
        // from the expression's literals and retype its string identifiers
        // `arrays_overlap(labels.key, array('…'))` with labels.key typed
        // ARRAY<ARRAY<STRING>>: the nested `key` field was wrongly
        // array-promoted (the outer array-ness comes from the PARENT
        // array-of-structs) — de-nest the leaf
        val deNest = for {
          lt <- p.get("leftType").map(_.replaceAll("\"", "").toUpperCase)
          rt <- p.get("rightType").map(_.replaceAll("\"", "").toUpperCase)
          if lt.startsWith("ARRAY<ARRAY<")
          expr <- p.get("sqlExpr").map(stripDq)
          m <- "\\(\\s*([A-Za-z_][\\w.]*)".r.findFirstMatchIn(expr)
        } yield {
          val path = m.group(1).split("\\.").toSeq
          if (lt == s"ARRAY<$rt>")
            // `labels.key` through an array-of-structs parent: the FIELD's
            // array-promotion was the artifact — de-nest it one level
            retypeLeafFields(path, _ == ArrayType(StringType), StringType)
          else
            // `array_except(dangerous_kinds, array(0))` with the FIELD
            // itself double-arrayified: adopt the right side's full type —
            // but when the ident is an ARRAY_AGG/COLLECT alias, the
            // AGGREGATED column adopts the right side's ELEMENT type
            scala.util.Try((DataType.fromDDL(lt), DataType.fromDDL(rt))).toOption
              .exists { case (plt, prt) =>
                val aggDefRe = ("(?i)(?:array_agg|collect_list|collect_set)\\s*\\(\\s*(?:distinct\\s+)?" +
                  "([A-Za-z_][\\w.]*)\\s*\\)\\s+AS\\s+" +
                  java.util.regex.Pattern.quote(path.last) + "(?![\\w])").r
                val viaAgg = prt match {
                  case ArrayType(elem, _) =>
                    aggDefRe.findAllMatchIn(pc.aliasSearchSql).map(_.group(1)).toSeq.distinct
                      .map(d => retypeByPath(d.split("\\.").toSeq, elem))
                      .exists(identity)
                  case _ => false
                }
                viaAgg || retypeLeafFields(path, _ == plt, prt) ||
                  retypeByPath(path, prt)
              }
        }
        if (deNest.contains(true)) return true
        // `array_union(coalesce(gradeInfoHistory, array()), array(struct(…)))`
        // — one side's reported type is a real DDL shape: a default-guess
        // ident on the other side ADOPTS it wholesale
        // a shape where EVERY leaf is a string is still a default guess
        // (accreted field-by-field) — eligible for wholesale adoption
        def allStringLeaves(d: DataType): Boolean = d match {
          case StringType => true
          case s: StructType => s.fields.forall(f => allStringLeaves(f.dataType))
          case ArrayType(e, _) => allStringLeaves(e)
          case MapType(k2, v, _) => allStringLeaves(k2) && allStringLeaves(v)
          case _ => false
        }
        val adopt = for {
          expr <- p.get("sqlExpr").map(stripDq)
          parsed = (p.get("leftType").toSeq ++ p.get("rightType").toSeq)
            .map(s => stripDq(s).trim)
            .flatMap(s => scala.util.Try(DataType.fromDDL(s)).toOption)
            .filter(t => t != ArrayType(StringType) && t != StringType &&
              !String.valueOf(t.sql).toUpperCase.contains("_GRAFT_STUB"))
          if parsed.nonEmpty
        } yield {
          // a self-similar nested shape (an inner struct repeating its
          // ancestor's field set) is accreted garbage, never authoritative
          def selfSimilar(t: DataType): Boolean = {
            def fieldSets(d: DataType, anc: List[Set[String]]): Boolean = d match {
              case s: StructType =>
                val fs = s.fieldNames.map(_.toLowerCase).toSet
                anc.contains(fs) || s.fields.exists(f => fieldSets(f.dataType, fs :: anc))
              case ArrayType(e2, _) => fieldSets(e2, anc)
              case MapType(k2, v, _) => fieldSets(k2, anc) || fieldSets(v, anc)
              case _ => false
            }
            fieldSets(t, Nil)
          }
          // two array-of-struct sides whose field-name sets nest are the
          // SAME entity with an accreted extra field on one side (the
          // gradeInfoHistory `l` plant vs array(struct(gradeInfo.*))):
          // array_union demands exact element equality, so the subject may
          // adopt the other side even when its current type isn't a pure
          // all-string guess
          def structArrayFamily(a: DataType, b: DataType): Boolean = (a, b) match {
            case (ArrayType(x: StructType, _), ArrayType(y: StructType, _)) =>
              val xs = x.fieldNames.map(_.toLowerCase).toSet
              val ys = y.fieldNames.map(_.toLowerCase).toSet
              xs.subsetOf(ys) || ys.subsetOf(xs)
            case _ => false
          }
          // only the SUBJECT ident (first in text order, not a function
          // name) adopts — retyping every ident in the expr propagated the
          // shape onto struct fields that merely appear inside it
          val exprS = stripDq(expr)
          val subject = identPaths(expr)
            .map { p2 =>
              val ident = p2.mkString(".")
              val idx = ("(?<![\\w.])" + java.util.regex.Pattern.quote(ident) +
                "(?![\\w.])").r.findFirstMatchIn(exprS).map(_.start).getOrElse(-1)
              val isFn = idx >= 0 &&
                exprS.drop(idx + ident.length).trim.headOption.contains('(')
              (p2, idx, isFn)
            }
            .filter { case (_, idx, isFn) => idx >= 0 && !isFn }
            .sortBy(_._2).headOption.map(_._1)
          subject.exists { path =>
            val cur = (modelSources ++ closureSources).iterator
              .flatMap(k => synth.typeAt(k, path)).nextOption()
            // the authoritative side: never the subject's CURRENT type (an
            // adoption onto itself is a no-op that lets the fall-through
            // shape-spray fire — the gradeInfoHistory war), never a
            // self-similar accretion; prefer a non-all-string side
            val tOpt = parsed.filterNot(selfSimilar)
              .filter(t => cur.forall(_ != t))
              .sortBy(t => if (allStringLeaves(t)) 1 else 0)
              .headOption
            tOpt.exists { t =>
              // the subject may be a COLLECTOR alias (`COLLECT_SET(fo.x) AS
              // xs`): the collected column adopts the ELEMENT type
              val viaAgg = t match {
                case ArrayType(elem, _) =>
                  val aggDefRe = ("(?i)(?:array_agg|collect_list|collect_set)\\s*\\(\\s*(?:distinct\\s+)?" +
                    "([A-Za-z_][\\w.]*)\\s*\\)\\s+AS\\s+" +
                    java.util.regex.Pattern.quote(path.last) + "(?![\\w])").r
                  aggDefRe.findAllMatchIn(pc.aliasSearchSql).map(_.group(1)).toSeq.distinct
                    .map(d => retypeByPath(d.split("\\.").toSeq, elem))
                    .exists(identity)
                case _ => false
              }
              if (CorpusExecute.debug)
                println(s"[corpus-debug] adopt subject=${path.mkString(".")} t=${t.simpleString.take(40)} " +
                  s"cur=${cur.map(_.simpleString.take(40))} viaAgg=$viaAgg")
              viaAgg ||
                ((cur.isEmpty || cur.exists(allStringLeaves) ||
                  cur.exists(c => String.valueOf(c.sql).toUpperCase.contains("_GRAFT_STUB")) ||
                  cur.exists(c => structArrayFamily(c, t))) &&
                  retypeByPath(path, t))
            }
          }
        }
        if (adopt.contains(true)) return true
        // `CASE WHEN cond THEN a ELSE b END` branches disagree
        // (functionName=casewhen, dataType=["STRING","MAP<…>"]): the
        // authoritative type is the single non-guess entry and only the
        // BRANCH identifiers adopt it — falling through would let
        // typeFromExprShape see the condition's `= true` and brand every
        // ident BOOLEAN (the order_product_prices/procurement_orders
        // `variants` type war)
        val fnName = p.get("functionName").map(f => stripDq(f).toLowerCase)
        val caseAdopt = for {
          expr <- p.get("sqlExpr").map(stripDq)
          if fnName.exists(Set("casewhen", "coalesce")) ||
            "(?i)\\bCASE\\s+WHEN\\b".r.findFirstIn(expr).isDefined
          listed = (p.get("dataType").toSeq ++ p.get("leftType").toSeq ++
              p.get("rightType").toSeq)
            .flatMap(s => "\"([^\"]+)\"".r.findAllMatchIn(s).map(_.group(1)).toSeq
              match { case Nil => Seq(stripDq(s).trim); case quoted => quoted })
          parsed = listed.flatMap(s => scala.util.Try(DataType.fromDDL(s)).toOption)
          nonStr = parsed.filter(_ != StringType)
          clean = nonStr.filter(t => !allStringLeaves(t) &&
            !String.valueOf(t.sql).toUpperCase.contains("_GRAFT_STUB")).distinct
          // with no clean side, the richer GUESS (map/array accretion
          // encoding the model's own access pattern) still beats both the
          // plain-STRING branch and the fall-through's condition-derived
          // BOOLEAN — but a stub-marked plain STRUCT next to a scalar is the
          // self-nesting accretion (price.amount → struct<amount>), never
          // authoritative: revert it to the scalar instead (see below)
          auth = if (clean.nonEmpty) clean
            else nonStr.distinct.filterNot(t => t.isInstanceOf[StructType] &&
              String.valueOf(t.sql).toUpperCase.contains("_GRAFT_STUB"))
          if auth.size == 1
        } yield {
          val branchIdents =
            if (fnName.contains("coalesce"))
              identPaths(expr).map(_.mkString("."))
            else "(?i)\\b(?:THEN|ELSE)\\s+([A-Za-z_][\\w.]*)".r
              .findAllMatchIn(expr).map(_.group(1)).toSeq.distinct
              .filterNot(s => Set("null", "true", "false").contains(s.toLowerCase))
          branchIdents.map { ident =>
            val path = ident.split("\\.").toSeq
            val cur = (modelSources ++ closureSources).iterator
              .flatMap(k => synth.typeAt(k, path)).nextOption()
            (cur.isEmpty || cur.exists(allStringLeaves)) &&
              cur.forall(_ != auth.head) && retypeByPath(path, auth.head)
          }.exists(identity)
        }
        if (caseAdopt.contains(true)) return true
        // stub-marked STRUCT branch next to a SCALAR branch
        // (`coalesce(variant.price.amount, price.amount)` where price.amount
        // self-nested into struct<_graft_stub, amount…>): the struct is our
        // own accretion — revert the struct-typed ident to the scalar
        val stubBranchRevert = for {
          expr <- p.get("sqlExpr").map(stripDq)
          listed = p.get("dataType").toSeq
            .flatMap(s => "\"([^\"]+)\"".r.findAllMatchIn(s).map(_.group(1)).toSeq)
          parsed = listed.flatMap(s => scala.util.Try(DataType.fromDDL(s)).toOption)
          scalar <- parsed.find(t => !t.isInstanceOf[StructType] &&
            !t.isInstanceOf[ArrayType] && !t.isInstanceOf[MapType])
          if parsed.exists(t => t.isInstanceOf[StructType] &&
            String.valueOf(t.sql).toUpperCase.contains("_GRAFT_STUB"))
        } yield identPaths(expr).map { path =>
          val owners = (modelSources ++ closureSources).filter(k =>
            synth.typeAt(k, path).exists(t => t.isInstanceOf[StructType] &&
              String.valueOf(t.sql).toUpperCase.contains("_GRAFT_STUB")))
          owners.map(k => synth.retypePath(k, path, scalar)).exists(identity) ||
            retypeLeafFields(path, t => t.isInstanceOf[StructType] &&
              String.valueOf(t.sql).toUpperCase.contains("_GRAFT_STUB"), scalar)
        }.exists(identity)
        if (stubBranchRevert.contains(true)) return true
        // guessed ARRAY<STRING> branch next to a scalar (`coalesce(
        // current_grade, 0)` after a leaf spray arrayified the column):
        // the array-ness is the artifact — revert to the scalar
        val arrayBranchRevert = for {
          expr <- p.get("sqlExpr").map(stripDq)
          listed = p.get("dataType").toSeq
            .flatMap(s => "\"([^\"]+)\"".r.findAllMatchIn(s).map(_.group(1)).toSeq)
          parsed = listed.flatMap(s => scala.util.Try(DataType.fromDDL(s)).toOption)
          if parsed.contains(ArrayType(StringType))
          scalar <- parsed.filter(t => !t.isInstanceOf[StructType] &&
            !t.isInstanceOf[ArrayType] && !t.isInstanceOf[MapType] &&
            t != StringType).distinct match {
            case Seq(one) => Some(one); case _ => None
          }
        } yield identPaths(expr).map { path =>
          retypeByPath(path, scalar) ||
            retypeLeafFields(path, _ == ArrayType(StringType), scalar)
        }.exists(identity)
        if (arrayBranchRevert.contains(true)) return true
        p.get("sqlExpr").orElse(p.get("expr")).exists { expr =>
          typeFromExprShape(expr).exists(dt => retypeIdentsIn(expr, dt)) || {
            // the analyzer lists the disagreeing types (`["STRING", "DATE"]`):
            // with exactly one NON-string type among them, the strings are
            // default guesses — retype them to it
            val listed = "\"([A-Z<>,() ]+)\"".r
              .findAllMatchIn(String.valueOf(e.getMessage)).map(_.group(1)).toSeq
            val nonString = listed.filterNot(_ == "STRING").distinct
            (nonString.size == 1 && listed.contains("STRING") &&
              typeFor(nonString.head).exists(dt => retypeIdentsIn(expr, dt) ||
                // the string side may be a SELECT alias over an upstream
                // column — retypeByPath's alias-def rungs trace it
                identPaths(expr).map(retypeByPath(_, dt)).exists(identity) ||
                identPaths(expr).map(p2 => retypeLeafFields(p2,
                  _ == StringType, dt)).exists(identity)))
          } || {
            // `x IN (A, B, …)` where the list items are unquoted string
            // literals (the analyzer prints them bare) and x was mis-typed
            // by an earlier broad-brush retype: revert x to STRING
            val inList = "(?i)^\\(?\\s*([A-Za-z_][\\w.]*)\\s+IN\\s*\\(".r
              .findFirstMatchIn(stripDq(expr).trim).map(_.group(1))
            inList.exists { ident =>
              val path = ident.split("\\.").toSeq
              val cur = path match {
                case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
                  aliasKeysOf(head).iterator.flatMap(k => synth.typeAt(k, rest)).nextOption()
                case _ => (modelSources ++ closureSources).iterator
                  .flatMap(k => synth.typeAt(k, path)).nextOption()
              }
              cur.exists(_ != StringType) && retypeByPath(path, StringType)
            }
          }
        }
      case "DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION" | "DATATYPE_MISMATCH.CAST_WITH_SUGGESTION" =>
        // CAST(x AS T) where x carries a default guess (STRING / ARRAY<STRING>
        // from an over-eager promotion): x's real type is castable to T —
        // set it to T directly (0-row plans only need analyzability). An
        // ARRAY<x>→scalar cast (`CAST(payload.isSearchByImage AS BOOLEAN)`
        // reading ARRAY<BOOLEAN>) means the field's PARENT container was
        // wrongly array-promoted.
        (p.get("sqlExpr").map(stripDq), p.get("srcType"), p.get("targetType")) match {
          case (Some(expr), Some(src), Some(tgt))
            if src.toUpperCase.replaceAll("\"", "").matches("STRING|ARRAY<STRING>") =>
            typeFor(tgt).exists { dt =>
              identPaths(expr).map(retypeByPath(_, dt)).exists(identity) ||
                identPaths(expr).map(deArrayifyParent).exists(identity) ||
                // ARRAY<STRING> source whose array-ness is a wrongly
                // promoted NESTED field (statusHistory element's `ctms`
                // became array<string> from an array_position demand):
                // revert the leaf to the cast target
                (src.toUpperCase.contains("ARRAY") &&
                  identPaths(expr).map(p2 => retypeLeafFields(p2,
                    _ == ArrayType(StringType), dt)).exists(identity))
            }
          case (Some(expr), Some(src), Some(tgt))
            if src.toUpperCase.startsWith("\"ARRAY") || src.toUpperCase.startsWith("ARRAY") =>
            typeFor(tgt).exists { dt =>
              !dt.isInstanceOf[ArrayType] &&
                (identPaths(expr).map(deArrayifyParent).exists(identity) ||
                  // the FIELD itself was wrongly array-promoted (an
                  // `array_position(statusHistory.ctms, …)` demand landed on
                  // the element struct's field instead of relying on the
                  // array parent): revert the leaf to the cast's target
                  identPaths(expr).map(p2 => retypeLeafFields(p2,
                    _ == ArrayType(StringType), dt)).exists(identity))
            }
          case (Some(expr), Some(src), Some(tgt))
            if src.toUpperCase.contains("STRUCT") =>
            // CAST(struct AS scalar) can't analyze in the reference either.
            // A FIELDLESS stub struct is this negotiation's own artifact —
            // revert it globally; a struct with real fields is another
            // node's established reading of the shared source — divert to a
            // node overlay so the two readers stop ping-ponging the type.
            typeFor(tgt).exists { dt =>
              !dt.isInstanceOf[ArrayType] &&
                identPaths(expr).flatMap { raw =>
                  // the head may be an upstream SELECT alias
                  // (`funnelState as funnel_state` in a dep): trace the
                  // definition so the owner path is the source's own
                  raw +: aliasDefPaths(raw.head).map(_ ++ raw.tail)
                }.map { path =>
                  val owners = (modelSources ++ closureSources)
                    .filter(k => synth.typeAt(k, path).exists(_.isInstanceOf[StructType]))
                  owners.map { k =>
                    synth.typeAt(k, path) match {
                      // a stub-bearing struct of flat strings is this
                      // negotiation's own accretion (emptyStruct promotion +
                      // field sprays — `funnel_state.st` gaining `utms`),
                      // not any node's real reading: revert globally. (The
                      // old `s.isEmpty` check was vacuous — emptyStruct
                      // carries the `_graft_stub` field, so no struct here
                      // is ever field-less.)
                      case Some(s: StructType)
                        if s.isEmpty || (s.fieldNames.contains("_graft_stub") &&
                          s.fields.forall(_.dataType == StringType)) =>
                        synth.retypePath(k, path, dt)
                      // overlays only matter on the node's OWN sources — an
                      // upstream re-materializes under its own node view
                      case _ => modelSources.contains(k) && synth.overlayPatch(k, path, dt)
                    }
                  }.exists(identity)
                }.exists(identity)
            }
          case _ => false
        }
      case "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE" =>
        // a higher-order/collection function got a scalar where it needs a
        // collection (or vice versa) — three shapes observed in the corpus:
        val sqlExpr = p.get("sqlExpr").map(stripDq).getOrElse("")
        val inputSql = p.get("inputSql").map(stripDq).getOrElse("")
        val required = p.get("requiredType").map(_.toUpperCase.replaceAll("\"", "")).getOrElse("")
        // (1) `transform(namedlambdavariable().mps, …)` — a field of a lambda
        //     element must itself be an array: promote every string-typed
        //     nested field with that leaf name to array<struct>
        val nlvField = "namedlambdavariable\\(\\)\\.([A-Za-z_]\\w*)".r
          .findFirstMatchIn(inputSql).orElse(
            "namedlambdavariable\\(\\)\\.([A-Za-z_]\\w*)".r.findFirstMatchIn(sqlExpr))
          .map(_.group(1))
        // (2) `array_max(teamHistory[ctms])` — a map's VALUE side must be an
        //     array: retype map<k, string> to map<k, array<string>>
        val mapIndexBase = "^([A-Za-z_][\\w.]*)\\[".r.findFirstMatchIn(inputSql).map(_.group(1))
        // (3) `map_from_entries(utmLabels)` — needs array of key/value structs
        val wantsEntries = sqlExpr.toLowerCase.startsWith("map_from_entries")
        // (4) `payload[userId]` with payload guessed ARRAY: GetArrayItem
        //     wants an INTEGRAL ordinal, but userId is a string — the base
        //     is really a MAP (keyword-proof: parse sqlExpr directly)
        val ordinalMapBase =
          if (required.contains("INTEGRAL") && stripDq(inputSql).matches("[A-Za-z_][\\w.]*"))
            "^([A-Za-z_][\\w.]*)\\[".r.findFirstMatchIn(stripDq(sqlExpr)).map(_.group(1))
          else None
        // (0) `(id - 29)` resolved as timestamp-minus: date arithmetic with
        //     an integer literal means the ident is a DATE; a stale node
        //     overlay (an earlier TIMESTAMP guess) must be corrected first
        //     or applyOverlays re-imposes it on every rebuild
        val dateArithIdent =
          if (required.contains("TIMESTAMP") && inputSql.matches("-?\\d+"))
            "^\\(\\s*([A-Za-z_][\\w.]*)\\s*[-+]".r.findFirstMatchIn(sqlExpr).map(_.group(1))
          else if (required.contains("TIMESTAMP") && inputSql.matches("[A-Za-z_][\\w.]*") &&
            sqlExpr.toLowerCase.startsWith("date_trunc"))
            // date_trunc over a non-temporal guess: DATE satisfies BOTH
            // date_trunc and any later date arithmetic on the same column
            // (a TIMESTAMP overlay here breaks `(id - 29)` downstream)
            Some(inputSql)
          else None
        if (dateArithIdent.isDefined) {
          val path = dateArithIdent.get.split("\\.").toSeq
          (modelSources ++ closureSources)
            .filter(k => synth.overlayTypeAt(k, path).exists(_ != DateType))
            .map(k => synth.overlayPatch(k, path, DateType)).exists(identity) ||
            retypeByPath(path, DateType) || overlayScalarConflict(path, DateType)
        } else if (ordinalMapBase.isDefined) {
          val path = ordinalMapBase.get.split("\\.").toSeq
          retypeByPath(path, MapType(StringType, StringType)) ||
            // the base may be a nested array-guessed field (`payload.parsedUtm`)
            retypeLeafFields(path, t => t.isInstanceOf[ArrayType] || t == StringType,
              MapType(StringType, StringType))
        } else if (required.contains("STRING") && !required.contains("ARRAY")
          && !required.contains("MAP") && !required.contains("STRUCT")) {
          // over-promotion revert: `instr(payload.pageUrl, …)` needs STRING
          // but an earlier broad rule turned the column into ARRAY<STRING>
          // (or a stub struct) — set the default-guess artifacts back
          val direct = stripDq(inputSql).trim
          val paths =
            if (direct.matches("[A-Za-z_][\\w.]*")) Seq(direct.split("\\.").toSeq)
            else identPaths(inputSql)
          paths.map { path =>
            val owners = (modelSources ++ closureSources).filter { k =>
              val t = synth.typeAt(k, path)
              t.contains(ArrayType(StringType)) || t.contains(emptyStruct)
            }
            if (owners.nonEmpty)
              owners.map(k => synth.retypePath(k, path, StringType)).exists(identity)
            else deArrayifyParent(path) || retypeLeafFields(path,
              t => t == ArrayType(StringType) || t == emptyStruct, StringType) ||
              // another node's ESTABLISHED complex type on the shared
              // source: this node sees the scalar via its overlay
              overlayScalarConflict(path, StringType)
          }.exists(identity)
        } else if (required.contains("ARRAY") && nlvField.isDefined) {
          val leaf = nlvField.get
          (modelSources ++ closureSources).flatMap(k =>
            synth.stringFieldPaths(k, leaf).map(k -> _))
            .map { case (k, fp) => synth.retypePath(k, fp, ArrayType(emptyStruct)) }
            .exists(identity)
        } else if (required.contains("ARRAY") && wantsEntries) {
          // retype ONE table at a time: `map_from_entries(payload)` must not
          // blanket-retype the `payload` column of every co-sourced table —
          // if the first pick is wrong the error repeats and the next holder
          // is tried, while consumer-side reverts repair the mistaken one
          val entries = ArrayType(StructType(Seq(
            StructField("key", StringType), StructField("value", StringType))))
          val paths = (identPaths(inputSql) ++ identPaths(sqlExpr)).distinct
          paths.iterator.flatMap { path =>
            (modelSources ++ closureSources).iterator
              .filter(k => synth.typeAt(k, path).exists {
                case StringType => true
                case ArrayType(StringType, _) => true
                // a stub-grown element struct (e.g. from a col-star element
                // promotion) is still a guess — entries shape wins; and an
                // entries struct POLLUTED by a later having-targeted field
                // plant ({key,value} matched some other map-explode's field
                // set) gets cleaned back: map_from_entries requires exactly
                // the pair shape, so the error is authoritative
                case ArrayType(s: StructType, _) =>
                  s.catalogString.contains("_graft_stub") ||
                    (s.fieldNames.exists(_.equalsIgnoreCase("key")) &&
                      s.fieldNames.exists(_.equalsIgnoreCase("value")))
                case _ => false
              })
              .map(k => synth.retypePath(k, path, entries))
          }.find(identity).getOrElse(false)
        } else if (required.contains("ARRAY") && mapIndexBase.isDefined) {
          val path = mapIndexBase.get.split("\\.").toSeq
          val resolved: Seq[((String, String), Seq[String])] = path match {
            case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
              aliasKeysOf(head).map(_ -> rest)
            case _ => (modelSources ++ closureSources).map(_ -> path)
          }
          resolved.map { case (k, pp) =>
            synth.typeAt(k, pp) match {
              case Some(MapType(kt, StringType, _)) =>
                synth.retypePath(k, pp, MapType(kt, ArrayType(StringType)))
              case Some(StringType) =>
                synth.retypePath(k, pp, MapType(StringType, ArrayType(StringType)))
              case _ => false
            }
          }.exists(identity)
        } else if (required.contains("ARRAY")) {
          // plain ident that must be an array — parse the path directly so
          // keyword-named columns (`values`) survive the ident filter
          val direct = stripDq(inputSql).trim
          val paths =
            if (direct.matches("[A-Za-z_][\\w.]*")) Seq(direct.split("\\.").toSeq)
            else identPaths(inputSql)
          paths.map { path =>
            val cur = path match {
              case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
                aliasKeysOf(head).iterator.flatMap(k => synth.typeAt(k, rest)).nextOption()
              case _ => (modelSources ++ closureSources).iterator
                .flatMap(k => synth.typeAt(k, path)).nextOption()
            }
            (cur.contains(StringType) && retypeByPath(path, ArrayType(StringType))) ||
              // `element_at(teamHistory, <int>)` over a map or stub-struct
              // guess: really an array (of the value/struct type)
              cur.collect {
                case MapType(_, v, _) =>
                  val elem = if (v == StringType) emptyStruct else v
                  retypeByPath(path, ArrayType(elem))
                case s: StructType => retypeByPath(path, ArrayType(s))
              }.getOrElse(false) ||
              // `posexplode(value.l)`: the head is a generator output —
              // retype `l` INSIDE the textual explode target's map-value /
              // element struct (occurrence-scoped), never by bare leaf: the
              // leaf-spray fallback below retyped every same-named scalar
              // corpus-wide (round-11 forecast_warehousing war)
              (path.size > 1 &&
                Set("value", "key", "col").contains(path.head.toLowerCase) &&
                generatorFieldOccurrences(path.tail)
                  .filter { case (k, fp) => synth.typeAt(k, fp).contains(StringType) }
                  .map { case (k, fp) => synth.retypePath(k, fp, ArrayType(StringType)) }
                  .exists(identity)) ||
              // `explode(phase_array)` where the ident is the VALUE alias of
              // an explicit map explode (`explode(packaging.phases) AS
              // phase_key, phase_array`): the map's value side is an ARRAY —
              // and a struct-of-arrays guess a VECTORIZED reader negotiated
              // (forecast_warehousing's value.l) de-vectorizes into
              // array<struct<scalars>>, the one shape satisfying BOTH the
              // double-explode reader and field-extraction readers
              (path.size == 1 && {
                val mapSites = ("(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)\\s*" +
                  "(?:[A-Za-z_]\\w*\\s+)?AS\\s+\\(?\\s*(\\w+)\\s*,\\s*(\\w+)").r
                val targets = mapSites.findAllMatchIn(pc.renderedSql)
                  .filter(_.group(3).equalsIgnoreCase(path.head))
                  .map(_.group(1)).toSeq.distinct
                targets.map { t =>
                  val tp = t.split("\\.").toSeq
                  def scalarize(s: StructType): StructType =
                    StructType(s.fields.map { f => f.dataType match {
                      case ArrayType(e, _) if !e.isInstanceOf[StructType] =>
                        f.copy(dataType = e)
                      case _ => f
                    }})
                  def fix(curT: DataType): Option[DataType] = curT match {
                    case MapType(kt, s: StructType, _) =>
                      Some(MapType(kt, ArrayType(scalarize(s))))
                    case MapType(kt, StringType, _) =>
                      Some(MapType(kt, ArrayType(emptyStruct)))
                    case _ => None
                  }
                  val bases: Seq[((String, String), Seq[String])] = tp match {
                    case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
                      aliasKeysOf(h).map(_ -> r)
                    case _ => (modelSources ++ closureSources).flatMap { k =>
                      (if (synth.typeAt(k, tp).isDefined) Seq(k -> tp) else Nil) ++
                        synth.fieldPathsByLeaf(k, tp.last).map { case (fp, _) => k -> fp }
                    }
                  }
                  bases.map { case (k, fp) =>
                    synth.typeAt(k, fp).flatMap(fix).exists(synth.retypePath(k, fp, _))
                  }.exists(identity)
                }.exists(identity)
              }) ||
              // `explode(order_ids)` where order_ids is a SELECT alias
              // (`x.orderIds AS order_ids`) or a field of an exploded
              // element (`explode(col.phones)`): retypeByPath's alias-def
              // and leaf rungs reach the underlying column; then the plain
              // leaf fallback
              (cur.isEmpty && (retypeByPath(path, ArrayType(StringType)) ||
                retypeLeafFields(path, _ == StringType, ArrayType(StringType)))) ||
              // cur may be a same-named IMPOSTOR on an unrelated co-source
              // (already array): the failing occurrence reads a SELECT
              // alias over a different table's column — chase the alias def
              aliasDefPaths(path.mkString(".")).map(p =>
                retypeByPath(p, ArrayType(StringType))).exists(identity) ||
              // `FILTER(h, …)[0]['merchant_variant_prices'] AS mp` — the
              // alias is a quoted-FIELD extraction: that field (inside
              // whatever element struct carries it) must be the array
              (path.size == 1 && {
                val fieldRe = ("(?i)\\[\\s*'([A-Za-z_]\\w*)'\\s*\\]\\s+AS\\s+" +
                  java.util.regex.Pattern.quote(path.head) + "(?![\\w])").r
                fieldRe.findAllMatchIn(pc.aliasSearchSql).map(_.group(1)).toSeq.distinct
                  .map(f => retypeLeafFields(Seq(f), _ == StringType,
                    ArrayType(emptyStruct)))
                  .exists(identity)
              }) ||
              // the ident EXISTS as a string nested field even when a
              // top-level lookup resolved something else: retype the leaf
              retypeLeafFields(path, _ == StringType, ArrayType(StringType))
          }.exists(identity)
        } else {
          typeFor(required).exists { dt =>
            retypeIdentsIn(inputSql, dt) || retypeIdentsIn(sqlExpr, dt) || {
              // `IF(col.isPrime, …)` — the ident is a field of an exploded
              // element reachable only by leaf name
              val direct = stripDq(inputSql).trim
              direct.matches("[A-Za-z_][\\w.]*") &&
                retypeLeafFields(direct.split("\\.").toSeq, _ == StringType, dt)
            } || {
              // `ROUND(refund, 3)` needs NUMERIC but `refund` is the STRUCT
              // another model negotiated on the shared source — node overlay,
              // restricted to the alias-qualified source of the failing call
              // when the rendered text identifies one
              val direct = stripDq(inputSql).trim
              val paths =
                if (direct.matches("[A-Za-z_][\\w.]*")) Seq(direct.split("\\.").toSeq)
                else identPaths(inputSql)
              paths.map { path =>
                val restrict =
                  if (path.size == 1) argQualifiedKeys(sqlExpr, path.head) else Nil
                overlayScalarConflict(path, dt, restrict)
              }.exists(identity)
            }
          }
        }
      case "INVALID_EXTRACT_FIELD_TYPE" =>
        // "Field name should be a non-null string literal, but it's 0":
        // `base[0]` ordinal extraction over something promoted to STRUCT —
        // the base is really an ARRAY of that struct (and a map guess's
        // ordinal access means an array of its value type). When the
        // non-literal is an IDENT ("…but it's \"currency\""), the access is
        // dynamic-key: the struct guess is really a MAP.
        val dynKey = "but it's \"?([A-Za-z_]\\w*)\"?".r
          .findFirstMatchIn(String.valueOf(e.getMessage)).map(_.group(1))
          .filter(_.matches("[A-Za-z_]\\w*"))
        val dynFixed = dynKey.exists { keyName =>
          val dynBases = ("([A-Za-z_][\\w.]*)\\s*\\[\\s*`?" +
            java.util.regex.Pattern.quote(keyName) + "\\b").r
            .findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct
          // a posexplode POSITION alias as the key means ARRAY indexing,
          // not dynamic map access — de-promote the wrongly struct-promoted
          // generator field back to an array instead of flipping it to a map
          if (posexplodePositionAliases.contains(keyName.toLowerCase) &&
              dynBases.map(posIndexedGeneratorField).exists(identity))
            return true
          dynBases.map { b =>
            val path = b.split("\\.").toSeq
            val resolved: Seq[((String, String), Seq[String])] = path match {
              case head +: rest if rest.nonEmpty && aliasKeysOf(head).nonEmpty =>
                aliasKeysOf(head).map(_ -> rest)
              case _ +: rest =>
                // head may be a relation alias the ambiguity-dropper removed
                // from the alias map — try the tail as well (typeAt-guarded)
                (modelSources ++ closureSources).map(_ -> path) ++
                  (if (rest.nonEmpty) (modelSources ++ closureSources).map(_ -> rest) else Nil)
              case _ => (modelSources ++ closureSources).map(_ -> path)
            }
            resolved.map { case (k, pp) =>
              synth.typeAt(k, pp) match {
                case Some(_: StructType) | Some(StringType) =>
                  synth.retypePath(k, pp, MapType(StringType, StringType))
                case _ => false
              }
            }.exists(identity)
          }.exists(identity)
        }
        if (dynFixed) return true
        val bases = "([A-Za-z_][\\w.]*)\\s*\\[\\s*\\d+\\s*\\]".r
          .findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct
        bases.map { b =>
          val path = b.split("\\.").toSeq
          val resolved: Seq[((String, String), Seq[String])] = path match {
            case head +: rest if rest.nonEmpty && aliases.contains(head.toLowerCase) =>
              Seq(aliases(head.toLowerCase) -> rest) ++
                pc.aliasAlts.getOrElse(head.toLowerCase, Nil).map(_ -> rest)
            case _ +: rest =>
              // head may be a relation alias the ambiguity-dropper removed
              // from the alias map — try the tail as well (typeAt-guarded)
              (modelSources ++ closureSources).map(_ -> path) ++
                (if (rest.nonEmpty) (modelSources ++ closureSources).map(_ -> rest) else Nil)
            case _ => (modelSources ++ closureSources).map(_ -> path)
          }
          if (CorpusExecute.debug)
            println(s"[corpus-debug] extract-field base=$b resolved=" + resolved.map {
              case (k, pp) => s"${k._1}.${k._2}:${pp.mkString(".")}=" +
                synth.typeAt(k, pp).map(_.simpleString.take(30)).getOrElse("∅")
            }.mkString(" "))
          resolved.map { case (k, pp) =>
            synth.typeAt(k, pp) match {
              case Some(s: StructType) => synth.retypePath(k, pp, ArrayType(s))
              case Some(MapType(_, v, _)) => synth.retypePath(k, pp, ArrayType(v))
              case _ => false
            }
          }.exists(identity) ||
            // the base may be a nested field of an array element
            (modelSources ++ closureSources).flatMap(k =>
              synth.stringFieldPaths(k, path.last).map(k -> _))
              .map { case (k, fp) => synth.retypePath(k, fp, ArrayType(emptyStruct)) }
              .exists(identity) ||
            // `variant.attributes.value[0]`: `attributes` (found nested, by
            // leaf name) is a STRUCT carrying `value` — the mongo shape is
            // an ARRAY of that struct, whose field extraction vectorizes
            // into an indexable array
            (path.size >= 2 && {
              (modelSources ++ closureSources).flatMap { k =>
                synth.fieldPathsByLeaf(k, path.init.last).collect {
                  case (fp, s: StructType)
                    if s.fieldNames.exists(_.equalsIgnoreCase(path.last)) =>
                    (k, fp, s)
                }
              }.map { case (k, fp, s) => synth.retypePath(k, fp, ArrayType(s)) }
                .exists(identity)
            }) ||
            // `explode(statusChangedEvents) AS st … st.statuses[0]`: the
            // head is an explode-output alias — the exploded element's
            // field at the path tail must be an array (typeAt/retypePath
            // walk through the array element transparently)
            (path.size >= 2 && {
              val exRe = ("(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)\\s+(?:AS\\s+)?" +
                java.util.regex.Pattern.quote(path.head) + "(?![\\w])").r
              exRe.findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct.map { t =>
                val tp = t.split("\\.").toSeq
                val keys: Seq[((String, String), Seq[String])] = tp match {
                  case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
                    aliasKeysOf(h).map(_ -> r)
                  case _ => (modelSources ++ closureSources).map(_ -> tp)
                }
                keys.map { case (k, pp) =>
                  val full = pp ++ path.tail
                  synth.typeAt(k, full) match {
                    case Some(s: StructType) => synth.retypePath(k, full, ArrayType(s))
                    case Some(StringType) => synth.retypePath(k, full, ArrayType(emptyStruct))
                    case _ => false
                  }
                }.exists(identity)
              }.exists(identity)
            })
        }.exists(identity)
      case "_LEGACY_ERROR_TEMP_1050" =>
        // "Can only star expand struct data types. Attribute: `List(payload,
        // currencies)`" — `payload.currencies.*` needs a struct at that path
        "List\\(([^)]*)\\)".r.findFirstMatchIn(String.valueOf(e.getMessage)).exists { m =>
          val path = m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
          path.nonEmpty && {
            // `col.*` — the default EXPLODE alias star-expanded: the
            // UNALIASED explode targets' elements must be structs
            // (fact_psi / tochka `select col.*, _id from (select
            // explode(payloadNew), _id …)`)
            (path == Seq("col") &&
              bareExplodeTargets().map(promoteArrayElems(_)).exists(identity)) ||
            retypeByPath(path, emptyStruct) ||
            (modelSources ++ closureSources).flatMap(k =>
              synth.stringFieldPaths(k, path.last).map(k -> _))
              .map { case (k, fp) => synth.retypePath(k, fp, emptyStruct) }
              .exists(identity)
          }
        }
      case c if c.startsWith("DATATYPE_MISMATCH") =>
        // `map_from_entries(x)` requires ARRAY<STRUCT<key,value>> — the
        // generic ARRAY fallback (array<string>) can never satisfy it
        val mapEntries = for {
          expr <- p.get("sqlExpr").map(stripDq)
          m <- "(?i)^map_from_entries\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)$".r
            .findFirstMatchIn(expr)
        } yield retypeByPath(m.group(1).split("\\.").toSeq,
          ArrayType(StructType(Seq(StructField("key", StringType),
            StructField("value", StringType)))))
        if (mapEntries.contains(true)) return true
        // `(id - 29)` resolved as timestamp-minus because `id` carries a
        // TIMESTAMP (or was established numeric elsewhere): date arithmetic
        // with an integer literal means the ident is a DATE — overlay if the
        // global type is another reader's
        val dateArith = for {
          expr <- p.get("sqlExpr").map(stripDq)
          req <- p.get("requiredType") if req.toUpperCase.contains("TIMESTAMP")
          in <- p.get("inputSql").map(stripDq) if in.matches("-?\\d+")
          m <- "^\\(\\s*([A-Za-z_][\\w.]*)\\s*[-+]".r.findFirstMatchIn(expr)
        } yield {
          val path = m.group(1).split("\\.").toSeq
          // a stale node overlay (an earlier TIMESTAMP guess) would be
          // re-imposed by applyOverlays on every rebuild — correct it first
          (modelSources ++ closureSources)
            .filter(k => synth.overlayTypeAt(k, path).exists(_ != DateType))
            .map(k => synth.overlayPatch(k, path, DateType)).exists(identity) ||
            retypeByPath(path, DateType) || overlayScalarConflict(path, DateType)
        }
        if (dateArith.contains(true)) return true
        // `payload[userId]` where userId is a STRING column: the ordinal-
        // access guess (array) was wrong — the base is really a map
        val mapIndex = for {
          expr <- p.get("sqlExpr").map(stripDq)
          req <- p.get("requiredType") if req.contains("INTEGRAL")
          in <- p.get("inputSql").map(stripDq) if in.matches("[A-Za-z_][\\w.]*")
          m <- "^([A-Za-z_][\\w.]*)\\[".r.findFirstMatchIn(expr)
        } yield retypeByPath(m.group(1).split("\\.").toSeq, MapType(StringType, StringType))
        mapIndex.getOrElse {
          (p.get("inputSql"), p.get("requiredType")) match {
            case (Some(in), Some(req)) =>
              val name = stripDq(in)
              typeFor(req).exists { dt =>
                if (name.matches("[A-Za-z_][\\w.]*")) retypeByPath(name.split("\\.").toSeq, dt)
                else retypeIdentsIn(in, dt) // e.g. coalesce(aMs, bMs) needs INTEGRAL
              }
            case _ => false
          }
        }
      case "MISSING_AGGREGATION" =>
        // `CASE … END AS app_device_type` + `GROUP BY app_device_type` is a
        // group-by-alias; it breaks when an earlier unqualified offer
        // planted a COLUMN with the alias's name on a source — the alias
        // then resolves to the impostor and the CASE's inputs fall out of
        // the GROUP BY. Retract impostor columns named like GROUP BY'd
        // select aliases.
        val exprName = p.get("expression").map(stripDq)
          .flatMap("[A-Za-z_][\\w.]*".r.findFirstIn).getOrElse("")
        val aliasRe = "(?i)\\bAS\\s+([A-Za-z_]\\w*)".r
        val gbText = "(?is)GROUP\\s+BY\\b(.{0,2000})".r
          .findAllMatchIn(pc.renderedSql).map(_.group(1)).mkString("\n")
        val gbAliases = aliasRe.findAllMatchIn(pc.renderedSql).map(_.group(1))
          .filter(a => ("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(a) +
            "(?![\\w])").r.findFirstIn(gbText).isDefined)
          .toSeq.distinct
        gbAliases.map { a =>
          val planted = (modelSources ++ closureSources).filter(k => synth.has(k, a))
          val relevant = exprName.isEmpty || {
            // only retract when the alias's defining text mentions the
            // failing expression's column (or we can't tell)
            ("(?is)" + java.util.regex.Pattern.quote(exprName) +
              ".{0,600}?\\bAS\\s+" + java.util.regex.Pattern.quote(a) +
              "(?![\\w])").r.findFirstIn(pc.renderedSql).isDefined
          }
          relevant && planted.map(k => synth.retract(k, a)).exists(identity)
        }.exists(identity) || {
          // IMPLICIT alias: `SELECT lastContext.requestId … GROUP BY
          // requestId` — the dotted item's LEAF is its output name; a
          // planted top-level `requestId` impostor hijacks the GROUP BY
          // and the struct path falls out of the aggregation
          val implicitAliases =
            if (exprName.isEmpty) Nil
            else ("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(exprName) +
              "\\s*\\.\\s*([A-Za-z_]\\w*)").r
              .findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct
              .filter(a => ("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(a) +
                "(?![\\w])").r.findFirstIn(gbText).isDefined)
          implicitAliases.map { a =>
            (modelSources ++ closureSources).filter(k => synth.has(k, a))
              .map(k => synth.retract(k, a)).exists(identity)
          }.exists(identity)
        } || {
          // last resort: the failing expression IS a bare name an over-eager
          // unqualified offer planted where it shadows a grouped alias —
          // retract the unpinned plants of that name
          p.get("expression").orElse(p.get("sqlExpr")).map(stripDq) match {
            case Some(name) if name.matches("[A-Za-z_]\\w*") =>
              val holders = (modelSources ++ closureSources).filter(k => synth.has(k, name))
              val unpinned = holders.filterNot(k => synth.pinned.contains((k, name)))
              unpinned.map(synth.retract(_, name)).exists(identity)
            case _ => false
          }
        }
      case "INVALID_EXTRACT_BASE_FIELD_TYPE" =>
        p.get("base").map(stripDq) match {
          case Some(name) if name.matches("[A-Za-z_][\\w.]*") =>
            // position-indexed generator field (`value.X[n]`, n from a
            // posexplode) FIRST: promoteExtractBase would struct-promote X
            // and strand the model on INVALID_EXTRACT_FIELD_TYPE "n"
            posIndexedGeneratorField(name) ||
              promoteExtractBase(name.split("\\.").toSeq, p.get("other")) ||
              // `value`/`key` = the aliases of an exploded MAP: the map's
              // value (or key) side must be a struct for field extraction
              ((name.equalsIgnoreCase("value") || name.equalsIgnoreCase("key")) &&
                promoteMapSide(valueSide = name.equalsIgnoreCase("value"))) ||
              // base is a nested struct field (`product` inside an exploded
              // element): promote every string-typed field with that name
              (modelSources ++ closureSources).flatMap(k =>
                synth.stringFieldPaths(k, name.split("\\.").last).map(k -> _))
                .map { case (k, path) => synth.retypePath(k, path, emptyStruct) }
                .exists(identity) ||
              // `col` = the default EXPLODE output alias: the exploded array's
              // elements need to be structs, not strings — UNALIASED explode
              // sites first (the only producers of `col`); the all-targets
              // spray only as a last resort
              (name.equalsIgnoreCase("col") &&
                bareExplodeTargets().map(promoteArrayElems(_)).exists(identity)) ||
              promoteExplodedElements()
          case Some("current_user()") =>
            // `user['userId']` with no source carrying a `user` column:
            // Spark resolves the bare identifier to the niladic
            // current_user() FUNCTION, so the analyzer never reports an
            // unresolved column and the plant machinery starves. The model
            // means a column — plant `user`; the next iteration reports
            // base=`user` and promoteExtractBase struct-promotes it.
            (modelSources ++ closureSources)
              .map(k => synth.addPath(k, Seq("user"))).exists(identity) ||
              promoteExtractBase(Seq("user"), p.get("other"))
          case Some(idx) if idx.matches("[A-Za-z_][\\w.]*\\[\\d+\\]") =>
            // `labels[0]` scalar: labels is array<string>, elements must be structs
            val path = idx.takeWhile(_ != '[').split("\\.").toSeq
            promoteArrayElems(path)
          case Some("namedlambdavariable()") =>
            // a lambda over array elements extracts fields: if exactly one
            // array<string> column is in scope, its elements are structs;
            // otherwise promote every higher-order-function target whose
            // current guess is array<string> (or a plain string), then fall
            // back to explode targets
            val arrCols = (modelSources ++ closureSources).flatMap(k =>
              synth.schemas.getOrElse(k, StructType(Nil)).fields.collect {
                case f if f.dataType == ArrayType(StringType) => k -> Seq(f.name)
              })
            val one =
              if (arrCols.size == 1) promoteArrayElems(arrCols.head._2, Some(arrCols.head._1))
              else false
            one || lambdaTargets().map(promoteArrayElems(_)).exists(identity) ||
              promoteExplodedElements() ||
              // the lambda may run over a nested array field (`x.variants`):
              // promote string-typed NESTED fields named like any lambda
              // target's leaf
              lambdaTargets().flatMap(t =>
                (modelSources ++ closureSources).flatMap(k =>
                  synth.stringFieldPaths(k, t.last).map(k -> _)))
                .map { case (k, fp) => synth.retypePath(k, fp, ArrayType(emptyStruct)) }
                .exists(identity)
          case _ => false
        }
      case "FIELD_NOT_FOUND" =>
        // a struct exists but lacks the field. The error's `fields` list is
        // the struct's CURRENT field set — target exactly the structs that
        // look like that (the untargeted spray grew shared mongo schemas
        // without bound); fall back to the spray only if no struct matched.
        p.get("fieldName").map(f => parts(f).last) match {
          case Some(f) =>
            val having: Option[Set[String]] = p.get("fields").map { fs =>
              "`((?:[^`]|``)*)`".r.findAllMatchIn(fs).map(_.group(1).toLowerCase).toSet
            }.filter(_.nonEmpty)
            val targeted = having.exists(_ =>
              (modelSources ++ closureSources)
                .map(synth.addFieldToAllStructs(_, f, having)).exists(identity))
            targeted || {
              val local = modelSources.map(synth.addFieldToAllStructs(_, f)).exists(identity)
              local || closureSources.map(synth.addFieldToAllStructs(_, f)).exists(identity)
            }
          case None => false
        }
      case "UDTF_ALIAS_NUMBER_MISMATCH" =>
        // `LATERAL VIEW EXPLODE(x) t AS …` with an alias count that doesn't
        // match the UDTF's output arity. "Expected N aliases, but got a,b":
        // N = the columns the CURRENT guess produces, the name list = the
        // aliases the model wrote. 1-vs-2 ⇒ the array guess is really a map;
        // 2-vs-1 ⇒ the map guess is really an array.
        val msg = String.valueOf(e.getMessage)
        // Spark 4 supplies typed params: aliasesSize = the UDTF's output
        // arity, aliasesNames = the alias list the model wrote
        val expected = p.get("aliasesSize")
          .flatMap(s => scala.util.Try(stripDq(s).trim.toInt).toOption)
          .orElse("Expected (\\d+) aliases".r.findFirstMatchIn(msg)
            .map(_.group(1).toInt))
        val gotNames = p.get("aliasesNames")
          .map(stripDq(_).split(",").map(s => stripDq(s.trim)).filter(_.nonEmpty).toSeq)
          .filter(_.nonEmpty)
          .orElse("but got ([\\w,\\s]+)".r.findFirstMatchIn(msg)
            .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq))
          .getOrElse(Nil)
        // SELECTIVE flip: the alias list in the message identifies WHICH
        // explode call is wrong — a model holding both an array explode and
        // a map explode would ping-pong under a global flip
        def flipNamed(toMap: Boolean): Boolean = gotNames.nonEmpty && {
          // `AS a, b` and the parenthesized `AS (a, b)` are both valid
          val tgtRe = ("(?i)(?:pos)?explode(?:_outer)?\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*\\)\\s*" +
            "(?:[A-Za-z_]\\w*\\s+)?AS\\s+\\(?\\s*" +
            gotNames.map(java.util.regex.Pattern.quote).mkString("\\s*,\\s*")).r
          tgtRe.findAllMatchIn(pc.renderedSql).map(_.group(1)).toSeq.distinct.map { t =>
            val tp = t.split("\\.").toSeq
            val resolved: Seq[((String, String), Seq[String])] = tp match {
              case h +: r if r.nonEmpty && aliasKeysOf(h).nonEmpty =>
                aliasKeysOf(h).map(_ -> r)
              case h +: r if r.nonEmpty =>
                // the head may be a REF alias (`pr.pgs` over an upstream
                // model) whose column lives on the closure sources — but
                // ONLY when the full path (a struct field like
                // `productRoles.roles`) resolves nowhere: an unconditional
                // tail try flipped every same-leaf column corpus-wide
                // (admin_users.roles → map contamination)
                val full = (modelSources ++ closureSources).map(_ -> tp)
                if (full.exists { case (k, pp) => synth.typeAt(k, pp).isDefined }) full
                else full ++ (modelSources ++ closureSources).map(_ -> r)
              case _ => (modelSources ++ closureSources).map(_ -> tp)
            }
            resolved.map { case (k, pp) =>
              (synth.typeAt(k, pp), toMap) match {
                case (Some(ArrayType(elem, _)), true) =>
                  synth.retypePath(k, pp, MapType(StringType, elem))
                case (Some(StringType), true) =>
                  synth.retypePath(k, pp, MapType(StringType, StringType))
                case (Some(MapType(_, v, _)), false) =>
                  synth.retypePath(k, pp, ArrayType(v))
                case (Some(StringType), false) =>
                  synth.retypePath(k, pp, ArrayType(StringType))
                case _ => false
              }
            }.exists(identity)
          }.exists(identity)
        }
        (expected, gotNames.size) match {
          case (Some(n), g) if g > 0 && n < g => flipNamed(toMap = true) || explodedArrayToMap()
          case (Some(n), g) if g > 0 && n > g => flipNamed(toMap = false) || explodedMapToArray()
          case _ => explodedArrayToMap() || explodedMapToArray()
        }
      case "TABLE_OR_VIEW_NOT_FOUND" =>
        // a raw `db.table` read with no source() call: if the table names a
        // node this run has already materialized, mirror the REAL output
        // into the catalog; otherwise synthesize an empty negotiable table
        val named = p.get("relationName").map(parts).map {
          case Seq(_, db, tbl) => Seq(db, tbl) // leading catalog name
          case other => other
        }
        named match {
          case Some(Seq(db, tbl)) =>
            val key = (db, tbl)
            val wh = pc.warehouse
            // mirror ONLY when the db matches the node's configured schema:
            // `platform.fact_table_update` (an ops log) must not be shadowed
            // by the UNRELATED model fact_table_update (schema 'mart')
            val schemaMatches = pc.nodeSchemas.get(tbl).forall(_.equalsIgnoreCase(db))
            if (schemaMatches && wh.exists(_.tableExists(tbl))) {
              synth.ensureDb(db)
              wh.get.read(tbl).write.mode("overwrite").saveAsTable(s"`$db`.`$tbl`")
              val fresh = !synth.mirrorTargets.contains(tbl)
              synth.mirrorTargets(tbl) = db
              fresh
            } else if (synth.rawCatalogKeys.contains(key)) false
            else {
              synth.rawCatalogKeys += key
              synth.schemas.getOrElseUpdate(key, StructType(Nil))
              synth.dirtyCatalog += key
              // qualify future column errors through both `tbl` and `db.tbl`
              aliases(tbl.toLowerCase) = key
              aliases(s"$db.$tbl".toLowerCase) = key
              synth.flushCatalog()
              true
            }
          case _ => false
        }
      case _ => false
    }
  }

  // ---- the phase ----------------------------------------------------------

  final case class Node(name: String, kind: String, rawSql: String, deps: Seq[String],
                        model: () => Model) {
    /** Static source() calls of this node's own text. */
    lazy val ownSources: Seq[(String, String)] = SqlTemplater.staticSources(rawSql)
    /** Raw `FROM db.tbl` / `JOIN db.tbl` catalog reads (no source() call) —
      * the snapshots' dominant pattern. They become synth raw-catalog keys
      * at runtime, so they must flow into downstream closures exactly like
      * source() keys: dim_deal_products retypes `disabled` through
      * fact_offer_product → scd2_offer_products_snapshot → the snapshot's
      * raw mongo read, which ownSources alone can't see. */
    lazy val rawReads: Seq[(String, String)] = {
      val re = "(?i)(from|join)\\s+([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)".r
      re.findAllMatchIn(rawSql).flatMap { m =>
        // `EXTRACT(YEAR FROM t.col)` / `trim(both ' ' from t.name)`: a FROM
        // inside a function call is an expression keyword, not a relation
        // read — planting `t.col` as a synthetic raw-catalog source feeds
        // the retype machinery spurious relations. Reject a FROM whose
        // nearest unclosed '(' (bounded lookbehind) has no SELECT between
        // it and the keyword; subquery FROMs always do.
        // KNOWN BOUNDS of this heuristic (acceptable for a 0-row synthetic
        // catalog — a false positive plants a harmless extra stub table):
        // the scan looks back at most 200 chars, so a function-keyword FROM
        // whose first argument exceeds that window is misclassified; and
        // parens inside STRING LITERALS are not masked, so a quoted '(' can
        // fake an opener. Neither shape occurs in the corpus today; widen
        // the window / mask literals first if a future corpus trips this.
        val kw = m.start
        val winStart = math.max(0, kw - 200)
        var i = kw - 1; var depth = 0; var opener = -1
        while (i >= winStart && opener < 0) {
          rawSql.charAt(i) match {
            case ')' => depth += 1
            case '(' => if (depth == 0) opener = i else depth -= 1
            case _ =>
          }
          i -= 1
        }
        val inCall = opener >= 0 &&
          "(?i)\\bselect\\b".r.findFirstIn(rawSql.substring(opener, kw)).isEmpty
        if (inCall && m.group(1).equalsIgnoreCase("from")) None
        else Some((m.group(2).toLowerCase, m.group(3)))
      }.toSeq.distinct
    }
  }

  /** name → transitive source() closure of the node's ref() subtree
    * (raw catalog reads included; node-named raw reads are dep edges,
    * not sources). */
  def sourceClosures(byName: Map[String, Node]): Map[String, Seq[(String, String)]] = {
    val memo = mutable.Map.empty[String, Seq[(String, String)]]
    def go(name: String, seen: Set[String]): Seq[(String, String)] =
      if (seen.contains(name)) Nil
      else memo.getOrElseUpdate(name, byName.get(name) match {
        case Some(n) =>
          val raws = n.rawReads.filterNot { case (_, t) => byName.contains(t) }
          (n.ownSources ++ raws ++ n.deps.flatMap(go(_, seen + name))).distinct
        case None => Nil
      })
    byName.keys.foreach(go(_, Set.empty))
    memo.toMap
  }

  /** Set (e.g. via GRAFT_CORPUS_DEBUG=1) to print every negotiation step. */
  private[runtime] val debug: Boolean = sys.env.contains("GRAFT_CORPUS_DEBUG")

  /** Identifier-boundary "does the SQL mention this column" test used by
    * snapshot strategy-column seeding. NOT a substring test: a check_col
    * `status` must not be treated as mentioned because an unrelated
    * `order_status` / `statusHistory` appears somewhere in the body —
    * substring suppression would skip the seed and silently resurrect the
    * UNRESOLVED_COLUMN second-run failure the seeding exists to fix.
    * `sqlLower` must already be lowercased. */
  private[graft] def mentionsIdentifier(sqlLower: String, col: String): Boolean =
    java.util.regex.Pattern
      .compile("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(col.toLowerCase) +
        "(?![A-Za-z0-9_])")
      .matcher(sqlLower).find()

  /** The corpus node graph EXACTLY as the EXECUTE phase runs it:
    * unique-named defect-free models + every snapshot block, restricted to
    * `only`'s dependency closure when given, with raw `schema.node_name`
    * reads promoted to real dependency edges (so producers materialize
    * first and the TABLE_OR_VIEW patch can mirror their output). Factored
    * out of run() so the changed-only execution subset is testable against
    * the real manifest with the same edges. */
  final case class Graph(sweep: CorpusSweep.Report, nodes: Seq[Node],
                         nodeSchemas: Map[String, String])
  def corpusGraph(spark: SparkSession, modelsDir: Path, macrosDir: Path,
                  snapshotsDir: Path, seedsDir: Path,
                  macros: Map[String, SqlTemplater.MacroDef],
                  vars: Map[String, String],
                  only: Option[Set[String]] = None): Graph = {
    val sweep = CorpusSweep.sweep(spark, modelsDir, macrosDir, vars,
      extraRefTargets = CorpusSweep.refTargets(snapshotsDir, seedsDir))
    val modelNodes = sweep.passed.map { r =>
      val sql = Files.readString(java.nio.file.Paths.get(r.path))
      Node(r.name, "model", sql, r.refs,
        () => SqlTemplater.sqlModelAuto(r.name, sql, macros, vars))
    }
    val snapNodes = CorpusSweep.sqlFiles(snapshotsDir).flatMap { p =>
      val text = Files.readString(p)
      scala.util.Try(SqlTemplater.snapshotModel(text, macros)).toOption.map { m =>
        Node(m.name, "snapshot", text, m.deps, () => m)
      }
    }
    val allNodes = modelNodes ++ snapNodes
    // `only`: restrict to the transitive dependency closure of the given
    // names (a fast debugging subtree; dep edges still resolve)
    val nodes0 = only match {
      case Some(keep) =>
        val byN = allNodes.map(n => n.name -> n).toMap
        val need = mutable.Set.empty[String]
        def add(n: String): Unit = if (!need.contains(n)) {
          need += n; byN.get(n).foreach(_.deps.foreach(add))
        }
        keep.foreach(add)
        allNodes.filter(n => need.contains(n.name))
      case None => allNodes
    }
    val names0 = nodes0.map(_.name).toSet
    // each node's configured schema (the `schema=`/`target_schema=` of its
    // config block) — raw `db.tbl` reads only bind to a node when the db
    // matches, otherwise `platform.fact_table_update` (an ops log) would
    // alias the unrelated model fact_table_update (schema 'mart')
    val nodeSchemas: Map[String, String] = nodes0.flatMap { n =>
      "(?i)schema\\s*=\\s*['\"](\\w+)['\"]".r.findFirstMatchIn(n.rawSql)
        .map(m => n.name -> m.group(1))
    }.toMap
    val rawRefRe = "(?<![\\w.`'\"])([A-Za-z_]\\w*)\\.([A-Za-z_]\\w*)".r
    val nodes = nodes0.map { n =>
      val rawDeps = rawRefRe.findAllMatchIn(n.rawSql)
        .flatMap { m =>
          val (db, t) = (m.group(1), m.group(2))
          if (names0.contains(t) && t != n.name &&
            nodeSchemas.get(t).forall(_.equalsIgnoreCase(db))) Some(t) else None
        }
        .toSeq.distinct.filterNot(n.deps.contains)
      if (rawDeps.isEmpty) n else n.copy(deps = n.deps ++ rawDeps)
    }
    Graph(sweep, nodes, nodeSchemas)
  }

  /** Changed nodes + every transitive dependent — the changed-only
    * execution subset (reference `--changed-only` + all_children,
    * infra/dbtjoom/find.py:9-15; descendant-closed, so find.py's
    * fill_gaps pass adds nothing on it). */
  def descendantClosure(nodes: Seq[Node], changed: Set[String]): Set[String] = {
    val known = nodes.map(_.name).toSet
    val dependents = nodes.flatMap(n => n.deps.filter(known.contains).map(_ -> n.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seen = mutable.Set.empty[String]
    def add(n: String): Unit =
      if (seen.add(n)) dependents.getOrElse(n, Nil).foreach(add)
    changed.foreach(add)
    seen.toSet
  }

  def run(spark: SparkSession, modelsDir: Path, macrosDir: Path,
          snapshotsDir: Path, seedsDir: Path,
          vars: Map[String, String] = CorpusSweep.defaultVars ++ Map(
            "run_ts" -> "2025-10-01 00:00:00", "run_dow" -> "1"),
          maxIter: Int = 200, maxPasses: Int = 8,
          only: Option[Set[String]] = None,
          cacheOverride: Option[Path] = None,
          changedOnly: Boolean = false,
          warehouseDir: Option[Path] = None): Report = {
    val macros = CorpusSweep.loadMacros(macrosDir)
    val synth = new Synth(spark)
    // attribute the log-format tax: TxLog wall time shows up in Prof.summary
    // alongside materialize/incremental (parquet runs record ~nothing here)
    graft.plans.TxLog.profiler = (k, s) => Prof.add(k, s)
    // a PERSISTENT warehouse root (changed-only dev loop: the previous
    // deploy's tables back the nodes this run does not re-execute); default
    // stays a throwaway temp dir (full-corpus validation runs)
    val whRoot = warehouseDir match {
      case Some(p) => Files.createDirectories(p); p.toAbsolutePath.toString
      case None => TempDirs.create("graft_corpus_exec")
    }
    // the corpus's 197 `file_format='delta'` models (incl. the 54 snapshots)
    // and every keyed merge write the transaction log, the rest parquet
    // (reference: macros/spark_adapter_patch/create_table.sql:29-34)
    val wh = new Warehouse(spark, whRoot)
    val ctx = Ctx(spark, wh, synth.registry, vars, macros = macros)
    graft.functions.TimeFunctions.register(spark)

    // seeds: real CSVs, loaded up front — every ref() to a seed resolves
    if (Files.isDirectory(seedsDir)) {
      val walk = Files.walk(seedsDir)
      val seedFiles =
        try walk.iterator().asScala.filter(p =>
          p.toString.endsWith(".csv") && Files.isRegularFile(p)).toList.sortBy(_.toString)
        finally walk.close()
      for (p <- seedFiles) {
        val n = p.getFileName.toString.stripSuffix(".csv")
        try Seeds.load(ctx, n, p.toString)
        catch { case scala.util.control.NonFatal(_) => }
      }
    }

    // nodes: the corpus graph, factored into corpusGraph() so the
    // changed-only subset computation is pinned on the REAL manifest by
    // ChangedOnlySpec against the very same edges EXECUTE runs with
    val g = corpusGraph(spark, modelsDir, macrosDir, snapshotsDir, seedsDir,
      macros, vars, only)
    val sweep = g.sweep
    val skipNames = sweep.failed.map(_.name).toSet
    val nodes = g.nodes
    val nodeSchemas = g.nodeSchemas
    val byName = nodes.map(n => n.name -> n).toMap

    // combined Kahn order over models + snapshots (snapshots both ref models
    // and are ref'd by models, so one graph, not two phases)
    val known = byName.keySet
    val inDeg = mutable.Map(nodes.map(n => n.name -> n.deps.count(known.contains)): _*)
    val dependents = nodes.flatMap(n => n.deps.filter(known.contains).map(_ -> n.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val queue = mutable.PriorityQueue(
      inDeg.collect { case (n, 0) => n }.toSeq: _*)(Ordering[String].reverse)
    val order = mutable.ArrayBuffer.empty[String]
    while (queue.nonEmpty) {
      val n = queue.dequeue(); order += n
      for (d <- dependents.getOrElse(n, Nil)) {
        inDeg(d) -= 1; if (inDeg(d) == 0) queue.enqueue(d)
      }
    }
    order ++= known.diff(order.toSet).toSeq.sorted // cycle members still reported
    val closures = sourceClosures(byName)
    // alias-def tracing needs TWO dep levels: a pass-through column
    // (`product_dimensions,` re-selected by the direct dep) is DEFINED
    // (`info.uDimensions AS product_dimensions`) in the grand-dep
    def depsSqlOf(n: Node): String = {
      val d1 = n.deps.flatMap(byName.get)
      val d2 = d1.flatMap(_.deps).distinct.flatMap(byName.get)
      (d1 ++ d2).distinct.map(_.rawSql).mkString("\n")
    }

    // fixpoint passes: a later model's retype can change an earlier model's
    // source schema — keep re-running until the executed set stops growing
    var passResults = Map.empty[String, Item]
    val lastRunVersion = mutable.Map.empty[String, Long] // at successful materialize
    def closureKeysOf(name: String): Seq[(String, String)] = {
      val node = byName(name)
      node.ownSources ++ closures.getOrElse(name, Nil) ++
        synth.nodeRawKeys.getOrElse(name, Nil)
    }
    def refreshMirror(name: String): Unit = Prof.timed("mirror")(for (db <- synth.mirrorTargets.get(name)) {
      // a later node reads this one by raw `db.name`: keep the catalog
      // mirror current with the freshly materialized output
      try {
        synth.ensureDb(db)
        ctx.warehouse.read(name).write.mode("overwrite").saveAsTable(s"`$db`.`$name`")
      } catch { case scala.util.control.NonFatal(_) => () }
    })
    /** Intra-pass upstream propagation: while negotiating `name`, a schema
      * patch often lands on a source table feeding an already-materialized
      * UPSTREAM node, whose warehouse output is then stale — without this,
      * every such discovery costs a whole extra fixpoint pass (and deep
      * ref() chains exhaust maxPasses). Re-materialize, in topo order, every
      * transitive dep whose source closure changed since its last run;
      * returns true if anything was refreshed. */
    def refreshUpstreams(name: String): Boolean = Prof.timed("refresh") {
      val need = mutable.LinkedHashSet.empty[String]
      val seen = mutable.Set.empty[String]
      def visit(n: String): Unit = if (seen.add(n)) byName.get(n).foreach { nd =>
        nd.deps.filter(known.contains).foreach(visit)
        val stale = lastRunVersion.get(n).exists(v =>
          closureKeysOf(n).exists(k => synth.keyVersions.getOrElse(k, 0L) > v))
        if (stale) need += n
      }
      byName.get(name).foreach(_.deps.filter(known.contains).foreach(visit))
      var any = false
      val savedNode = synth.currentNode
      for (d <- need) {
        // move the current output ASIDE rather than dropping it: a failed
        // rebuild must leave the previous table readable, or every
        // downstream node burns iterations on PATH_NOT_FOUND recovery
        // until refreshNamed happens to succeed
        val tp = java.nio.file.Paths.get(ctx.warehouse.tablePath(d))
        val bak = tp.resolveSibling(tp.getFileName.toString + ".refreshbak")
        var movedAside = false
        try {
          // the dep re-materializes under ITS OWN overlay view — the same
          // one it originally executed with
          synth.currentNode = d
          val m = byName(d).model()
          // SCHEMA-NO-OP FAST PATH (the measured refresh hog: one node's
          // negotiation makes the same upstreams stale after every patch,
          // and most patches plant columns an upstream never selects): if
          // the re-analyzed output schema equals the on-disk table's, the
          // 0-row rebuild would be byte-identical — advance the version
          // bookkeeping and skip the move-aside/drop/write entirely.
          val schemaNoOp = ctx.warehouse.tableExists(d) &&
            (try normSchema(m.build(ctx.copy(isIncremental = false)).schema) ==
              normSchema(ctx.warehouse.read(d).schema)
             catch { case scala.util.control.NonFatal(_) => false })
          if (schemaNoOp) {
            lastRunVersion(d) = synth.version
            if (debug) println(s"[corpus-debug] refreshUpstream($d) schema-no-op")
          } else {
          if (Files.exists(bak)) TempDirs.deleteTree(bak)
          if (Files.exists(tp)) { Files.move(tp, bak); movedAside = true }
          ctx.warehouse.drop(d) // clears view + listing cache (files already moved);
                                // schema growth must not merge into narrower files
          new DagRunner(Seq(m)).materialize(ctx, m)
          lastRunVersion(d) = synth.version
          refreshMirror(d)
          if (movedAside) TempDirs.deleteTree(bak)
          if (debug) println(s"[corpus-debug] refreshUpstream($d) ok")
          any = true
          }
        } catch { case scala.util.control.NonFatal(e) =>
          if (movedAside && Files.exists(bak)) {
            if (Files.exists(tp)) TempDirs.deleteTree(tp) // discard partial rebuild
            Files.move(bak, tp)
            try ctx.spark.catalog.refreshByPath(tp.toString)
            catch { case scala.util.control.NonFatal(_) => }
          }
          if (debug) println(s"[corpus-debug] refreshUpstream($d) FAILED: " +
            s"${condOf(e)} ${String.valueOf(e.getMessage).take(120)}")
        } // next pass retries
        finally synth.currentNode = savedNode
      }
      any
    }

    /** Force one named node to re-materialize NOW, regardless of version
      * staleness — the PATH_NOT_FOUND recovery: a mid-pass upstream refresh
      * that dropped a table and then failed to rebuild it leaves downstream
      * readers staring at a missing directory; the schema knowledge has
      * usually moved on since, so an immediate rebuild succeeds. */
    def refreshNamed(dep: String): Boolean = byName.get(dep).exists { nd =>
      val savedNode = synth.currentNode
      try {
        // run the dep through full NEGOTIATION, not a bare materialize: a
        // shared source another node just re-typed can make the dep's plan
        // unanalyzable until its own node-scoped patches (overlays, reverts)
        // land — exactly what executeNode provides. Bounded iterations and
        // no nested refreshNode recursion.
        val item = executeNode(ctx, nd, macros, vars, synth, maxIter = 25,
          closures.getOrElse(dep, Nil),
          depsSql = depsSqlOf(nd),
          nodeSchemas = nodeSchemas)
        if (item.status == "executed") {
          lastRunVersion(dep) = synth.version
          refreshMirror(dep)
          true
        } else {
          if (debug) System.err.println(s"[corpus-debug] refreshNamed($dep) " +
            s"-> ${item.status}: ${item.detail.take(160)}")
          false
        }
      } catch { case scala.util.control.NonFatal(e) =>
        if (debug) System.err.println(s"[corpus-debug] refreshNamed($dep) FAILED: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(180))
        false
      }
      finally synth.currentNode = savedNode
    }
    // WARM START: full-corpus runs persist the converged negotiation state
    // keyed by a content hash of the corpus + vars; a rerun on an unchanged
    // corpus seeds pass 1 from it and skips the error-driven discovery cost
    // (the measured floor was pass-1 negotiation of the mongo subtree at
    // ~13 s/node). Correctness-neutral by construction: a stale/partial/
    // missing cache only changes how many analyzer errors the same loop
    // pays, never what it converges to. Subset (`only`) runs neither read
    // nor write (partial knowledge must not poison full runs); opt out with
    // GRAFT_CORPUS_COLD=1. `cacheOverride` forces an explicit path (and
    // bypasses the subset guard) — the sbt-gated warm-start test uses it
    // to pin the cold→warm protocol end-to-end on a small closure.
    val cacheFile: Option[Path] = cacheOverride.orElse {
      if (only.isDefined || sys.env.get("GRAFT_CORPUS_COLD").contains("1")) None
      else Some(cachePath(stableCacheKey(
        Seq(modelsDir, macrosDir, snapshotsDir, seedsDir), vars)))
    }
    // per-node content hashes + env hash: the incremental warm start's
    // change detector (see loadCacheIncremental — a one-model edit pays only
    // its downstream closure's re-negotiation, not the full cold run)
    val nodeHashes: Map[String, String] = nodes.map(n => n.name -> sha16(n.rawSql)).toMap
    val envHash = envHashOf(seedsDir, vars)
    val macroHashes = macroHashesOf(macros)
    def downstreamOf(changedNodes: Set[String]): Set[String] =
      descendantClosure(nodes, changedNodes)
    // shared-key exemption (locality rule): every source/raw key in the
    // transitive read set of any node OUTSIDE the closure.
    // testDisableLocalityRule exists ONLY so WarLocalitySpec can prove the
    // rule bites: with it set, shared-key pins/tombstones invalidate like
    // exclusive ones and the spec's plant-retract war must fail to converge.
    def outsideReaders(closure: Set[String]): Set[(String, String)] =
      if (testDisableLocalityRule) Set.empty
      else nodes.iterator.filterNot(n => closure.contains(n.name))
        .flatMap(n => n.ownSources ++ n.rawReads ++ closures.getOrElse(n.name, Nil))
        .toSet
    var warmInfo: Option[(Set[String], Set[String])] = None
    for (p <- cacheFile if Files.exists(p))
      loadCacheIncremental(synth, p, nodeHashes, envHash, downstreamOf, outsideReaders,
        macroHashes, changedMacros => nodesUsingMacros(changedMacros, macros, nodes)) match {
        case r @ Some((changed, closure)) =>
          warmInfo = r
          System.err.println(s"[corpus] warm start: ${synth.schemas.size} source schemas, " +
            s"${synth.overlays.size} overlay sets, ${synth.tombstones.size} tombstones from $p" +
            (if (changed.nonEmpty)
              s"; INCREMENTAL: ${changed.size} changed -> ${closure.size}-node closure invalidated"
            else ""))
        case None => // cold: missing/legacy cache, env change, or read failure
      }

    // CHANGED-ONLY EXECUTION (the reference's `run.sh --changed-only` dev
    // loop: run_dev selects changed models + all transitive children and
    // re-runs ONLY those; unchanged tables are reused from the previous
    // deploy — infra/dbtjoom/find.py:9-46, infra/get_tables_to_copy_from_prod.py).
    // Our selection = downstreamOf(changed), which INCLUDES the changed
    // nodes and is descendant-closed, so find.py's fill_gaps pass is a
    // no-op on it (any path between two selected nodes consists of
    // descendants of the first — already selected).
    // Requires a usable warm cache (the change detector) — without one
    // every node counts as changed and this degrades to the full run.
    val execSubset: Option[Set[String]] =
      if (!changedOnly) None
      else warmInfo match {
        case Some((changed, _)) => Some(downstreamOf(changed.filter(known.contains)))
        case None =>
          System.err.println("[corpus] changed-only requested but no usable warm cache — full run")
          None
      }

    // changed-only reuse pre-pass (topo order): every node OUTSIDE the
    // execution subset keeps its previous deploy's table (persistent
    // warehouse root) — by descendant-closure no reused node can depend on
    // a subset node, so reads stay consistent. Views have no on-disk
    // materialization: re-register their builders (analysis only, no data
    // write — the same thing their executeNode materialization does) and
    // fall back to normal execution if the build/analysis throws.
    for (es <- execSubset) {
      var reusedTables = 0; var reusedViews = 0
      for (name <- order if !es.contains(name)) {
        val node = byName(name)
        def markReused(detail: String): Unit = {
          passResults += name -> Item(name, node.kind, "reused", detail)
          lastRunVersion(name) = synth.version
        }
        if (ctx.warehouse.tableExists(name)) {
          markReused("changed-only:on-disk"); reusedTables += 1
        } else {
          val savedNode = synth.currentNode
          try {
            synth.currentNode = name
            val m = node.model()
            m.materialization match {
              case Materialization.View =>
                new DagRunner(Seq(m)).materialize(ctx, m)
                ctx.warehouse.read(name).schema // force analysis NOW, not in a reader
                markReused("changed-only:view-reregistered"); reusedViews += 1
              case _ => // table missing on disk: execute normally below
            }
          } catch { case scala.util.control.NonFatal(_) => () }
          finally synth.currentNode = savedNode
        }
      }
      System.err.println(s"[corpus] changed-only: subset=${es.size} " +
        s"reused-tables=$reusedTables reused-views=$reusedViews " +
        s"to-execute=${known.size - passResults.size}")
    }

    var passes = 0
    var grew = true
    while (grew && passes < maxPasses) {
      passes += 1
      val passT0 = System.nanoTime()
      var attempted = 0
      var skippedUnchanged = 0
      val versionAtPassStart = synth.version
      val keyVersionsAtStart = synth.keyVersions.toMap
      val failed = mutable.Set.empty[String]
      val results = mutable.Map.empty[String, Item]
      for (name <- order) {
        val node = byName(name)
        val unchanged = passResults.get(name)
          .exists(i => i.status == "executed" || i.status == "reused") &&
          closureKeysOf(name).forall(k =>
            synth.keyVersions.getOrElse(k, 0L) <= lastRunVersion.getOrElse(name, -1L)) &&
          // a mid-pass refresh may have dropped this node's table and then
          // failed to rebuild it — version bookkeeping alone would carry the
          // stale 'executed' forward forever while every reader hits
          // PATH_NOT_FOUND; verify the materialization is still on disk
          ctx.warehouse.tableExists(name)
        if (unchanged) {
          // already executed and no source in its closure changed since —
          // its warehouse output is still current, skip the re-run
          skippedUnchanged += 1
          results(name) = passResults(name)
        } else if (node.deps.exists(d => failed.contains(d) || skipNames.contains(d))) {
          failed += name
          results(name) = Item(name, node.kind, "skipped-upstream",
            node.deps.filter(d => failed.contains(d) || skipNames.contains(d)).mkString(","))
        } else {
          // progress line per attempted node: an OOM/hang mid-phase is
          // otherwise unattributable across 477 nodes × passes
          val t0 = System.nanoTime()
          System.err.println(s"[corpus] pass=$passes node=$name")
          val item = Prof.timed("exec_total")(executeNode(ctx, node, macros, vars, synth, maxIter,
            closures.getOrElse(name, Nil), refreshUpstreams,
            depsSql = depsSqlOf(node),
            nodeSchemas = nodeSchemas, refreshNode = refreshNamed,
            previouslyExecuted = passResults.get(name)
              .exists(i => i.status == "executed" || i.status == "reused")))
          val secs = (System.nanoTime() - t0) / 1e9
          attempted += 1
          if (secs > 10) System.err.println(f"[corpus]   $name: ${item.status} in $secs%.1f s")
          if (item.status != "executed") failed += name
          else { lastRunVersion(name) = synth.version; refreshMirror(name) }
          results(name) = item.copy(secs = secs)
        }
      }
      // NB: iterator first — Map.collect with a tuple-valued result would
      // rebuild a MAP and silently dedup the (db, table) keys by db
      val changedKeys = synth.keyVersions.iterator.collect {
        case (k, v) if keyVersionsAtStart.getOrElse(k, -1L) != v => k
      }.toVector
      System.err.println(s"[corpus] pass=$passes prof(cum): " + Prof.summary)
      System.err.println(f"[corpus] pass=$passes summary: attempted=$attempted " +
        f"skipped-unchanged=$skippedUnchanged wall=${(System.nanoTime() - passT0) / 1e9}%.1f s " +
        s"keysChanged=${changedKeys.size}" +
        (if (changedKeys.size <= 40 && changedKeys.nonEmpty)
          changedKeys.map { case (d, t) => s"$d.$t" }.sorted.mkString(" [", ",", "]")
        else ""))
      val prevExec = passResults.valuesIterator.count(_.status == "executed")
      val nowExec = results.valuesIterator.count(_.status == "executed")
      // progress = new executions OR new schema knowledge (deferred cross-ref
      // patches change schemas in a pass whose executed count is flat)
      grew = nowExec > prevExec || synth.version != versionAtPassStart
      passResults = results.toMap
    }

    for (p <- cacheFile) try {
      saveCache(synth, p, nodeHashes, envHash, macroHashes)
      System.err.println(s"[corpus] saved warm-start cache: ${synth.schemas.size} " +
        s"source schemas -> $p")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[corpus] cache save failed (harmless): " +
        String.valueOf(e.getMessage).take(160))
    }

    val items = sweep.failed.map(f => Item(f.name, "model", s"sweep:${f.phase}",
      f.error.getOrElse(""))) ++ order.map(passResults(_))
    Report(items, synth.schemas.toMap, passes)
  }

  /** Output-schema equivalence for the fast path: lowercase names, ignore
    * nullability at every nesting level (parquet round-trips flip both). */
  private def normSchema(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name.toLowerCase, normSchema(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(normSchema(a.elementType), containsNull = true)
    case m: MapType => MapType(normSchema(m.keyType), normSchema(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Coarse wall-time attribution across the fixpoint (printed per pass):
    * which phase of executeNode the 30-min corpus loop actually spends its
    * wall in — the measurement behind any wall-time optimization claim.
    * Keys overlap where phases nest (refresh re-enters executeNode); this
    * is attribution, not accounting. */
  private[runtime] object Prof {
    private val acc = mutable.Map.empty[String, Double]
    private val cnt = mutable.Map.empty[String, Long]
    def add(k: String, secs: Double): Unit = synchronized {
      acc(k) = acc.getOrElse(k, 0.0) + secs; cnt(k) = cnt.getOrElse(k, 0L) + 1
    }
    def timed[A](k: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally add(k, (System.nanoTime() - t0) / 1e9)
    }
    def summary: String = synchronized {
      acc.toSeq.sortBy(-_._2).map { case (k, s) =>
        f"$k=$s%.0fs/${cnt(k)}" }.mkString(" ")
    }
  }

  private def executeNode(ctx: Ctx, node: Node,
                          macros: Map[String, SqlTemplater.MacroDef],
                          vars: Map[String, String], synth: Synth,
                          maxIter: Int, closure: Seq[(String, String)],
                          refreshUpstreams: String => Boolean = _ => false,
                          depsSql: String = "",
                          nodeSchemas: Map[String, String] = Map.empty,
                          refreshNode: String => Boolean = _ => false,
                          previouslyExecuted: Boolean = false): Item = {
    synth.currentNode = node.name // selects the overlay view the registry serves
    // body for rendering introspection: snapshots negotiate over their block
    val body = if (node.kind == "snapshot")
      "(?s)\\{%-?\\s*snapshot\\s+\\w+\\s*-?%\\}(.*?)\\{%-?\\s*endsnapshot\\s*-?%\\}".r
        .findFirstMatchIn(node.rawSql).map(_.group(1)).getOrElse(node.rawSql)
    else node.rawSql
    val rendered = Prof.timed("render")(scala.util.Try(SqlTemplater.renderText(node.name, body, macros, vars,
      k => vars.getOrElse(k, ""), isIncremental = false)))
    val (aliases, srcs, renderedSql) = rendered match {
      case scala.util.Success(r) =>
        (mutable.Map(aliasMap(r.text, r.sources).toSeq: _*), r.sources, r.text)
      case _ => (mutable.Map.empty[String, (String, String)], Seq.empty[(String, String)], "")
    }
    // raw `db.tbl` catalog tables discovered in earlier passes/nodes: if this
    // node's text references one, alias + pre-seed + attribute through it
    val rawHere = Prof.timed("rawscan")(synth.rawCatalogKeys.toSeq.filter { case (db, tbl) =>
      renderedSql.toLowerCase.contains(s"$db.$tbl".toLowerCase) })
    synth.nodeRawKeys(node.name) = rawHere
    // an alias letter reused for SEVERAL relations (`… AS t` for two source
    // views, or a source view + a raw catalog table): aliasMap drops such
    // multi-target aliases, but qualified attribution still needs to reach
    // every relation the alias names (0-row semantics: planting the column
    // on all of them is harmless) — collect all targets here
    val aliasAlts = mutable.Map.empty[String, Seq[(String, String)]]
    Prof.timed("aliasalts") {
    for ((a, es) <- srcs.flatMap(st =>
           aliasEntries(renderedSql, SqlTemplater.sourceName(st._1, st._2), st)).groupBy(_._1)
         if es.map(_._2).distinct.size > 1)
      aliasAlts(a) = es.map(_._2).distinct
    }
    for (key @ (db, tbl) <- rawHere;
         e <- aliasEntries(renderedSql, s"$db.$tbl", key)) {
      if (aliases.get(e._1).exists(_ != e._2) || aliasAlts.contains(e._1))
        aliasAlts(e._1) = (aliasAlts.getOrElse(e._1, Nil) :+ e._2).distinct
      else aliases.getOrElseUpdate(e._1, e._2)
    }
    if (debug && rawHere.nonEmpty)
      println(s"[corpus-debug] ${node.name} rawHere=" +
        rawHere.map { case (d, t) => s"$d.$t" }.mkString(",") +
        " aliasKeys=" + aliases.keys.mkString(","))
    rendered.foreach(r => Prof.timed("preSeed")(preSeed(r.text, aliases.toMap, synth)))
    // preSeed can widen raw-catalog schemas (e.g. a raw `db.tbl AS alias`
    // whose columns appear qualified in the text): the on-disk stub must
    // reflect that BEFORE the first build, or the patcher sees an addPath
    // no-op against an already-widened in-memory schema and classifies a
    // gap the catalog table itself caused
    Prof.timed("flush")(synth.flushCatalog())
    // un-renderable Jinja left in the body (e.g. the reference's committed
    // unclosed-paren source() call) can never parse as SQL for any engine —
    // classify as a corpus defect rather than burning negotiation iterations
    if (renderedSql.contains("{{") || renderedSql.contains("{%"))
      return Item(node.name, node.kind, "corpus-defect:jinja",
        renderedSql.linesIterator.find(l => l.contains("{{") || l.contains("{%"))
          .getOrElse("").trim.take(200))
    val pc = PatchCtx(node.name, srcs ++ rawHere, closure.filterNot(srcs.contains),
      aliases, renderedSql, synth, Some(ctx.warehouse), depsSql = depsSql,
      nodeSchemas = nodeSchemas, aliasAlts = aliasAlts.toMap,
      depFed = closure.filter(srcs.contains))

    val model = try node.model() catch {
      case scala.util.control.NonFatal(e) =>
        return Item(node.name, node.kind, "gap:model-build", String.valueOf(e.getMessage).take(200))
    }

    // Snapshot strategy columns are demanded by the SCD2 ADVANCE pass, not
    // by the SELECT body: a bare `SELECT * FROM source(...)` (e.g.
    // /root/reference/snapshots/spark/b2b_mart/scd2_merchant_appendixes_snapshot.sql:13)
    // demands no columns, so error-driven negotiation never plants the
    // check_cols / updated_at / unique_key into the synthesized source
    // schema and the second run dies with UNRESOLVED_COLUMN. Seed the
    // strategy columns up front — only the ones the rendered SQL never
    // mentions (a snapshot with an explicit column list already demands
    // its own columns, and a check_col that is a derived SELECT alias
    // must not be planted onto the source).
    model.materialization match {
      case Materialization.Snapshot(uniqueKey, strategy, _) =>
        val need = uniqueKey +: (strategy match {
          case Scd2Strategy.Timestamp(updatedAt) => Seq(updatedAt)
          case Scd2Strategy.Check(checkCols) => checkCols
        })
        val lower = renderedSql.toLowerCase
        for (c <- need if !mentionsIdentifier(lower, c); key <- srcs)
          synth.addPath(key, Seq(c), force = true, by = s"snapshot-strategy:${node.name}")
        synth.flushCatalog()
      case _ =>
    }

    // refuse to materialize against a runaway-negotiated schema: the
    // serialized plan/schema would exhaust the shared local-mode heap and
    // kill the whole phase — classify instead (see Synth.schemaOverBudget)
    def budgetGap(): Option[Item] = Prof.timed("budget") {
      val over = (srcs ++ rawHere ++ closure).distinct.filter(synth.schemaOverBudget)
      if (over.isEmpty) None
      else Some(Item(node.name, node.kind, "gap:schema-budget",
        over.map { case (d, t) => s"$d.$t" }.mkString(",").take(200)))
    }
    budgetGap().foreach(return _)

    // FAST PATH for re-attempts: a node that EXECUTED in a previous pass is
    // re-run only because a closure key's schema changed — but with 0-row
    // outputs the materialization carries nothing except its SCHEMA, so if
    // the re-analyzed output schema equals the on-disk table's (names
    // case-insensitive, nullability ignored), rewriting it is a byte-level
    // no-op. Skip the first write; STILL run the incremental second pass so
    // the advance/overwrite path is re-validated against the grown sources.
    // Any analysis error falls through to the full drop-and-negotiate loop.
    // Snapshots are EXCLUDED explicitly (their SCD2-advance pass must always
    // re-run; schema inequality via dbt meta columns would also exclude them,
    // but that's incidental — don't depend on it) and views never match (no
    // on-disk table). For plain tables the skip validates analysis only, not
    // the write — flagged `write=skipped-schema-noop` in the Item detail so
    // the report distinguishes validated writes from skipped ones.
    val fastPathEligible = model.materialization match {
      case _: Materialization.Snapshot => false
      case _ => true
    }
    if (fastPathEligible && previouslyExecuted && ctx.warehouse.tableExists(node.name)) {
      val hit = try {
        val fresh = normSchema(model.build(ctx.copy(isIncremental = false)).schema)
        fresh == normSchema(ctx.warehouse.read(node.name).schema)
      } catch { case scala.util.control.NonFatal(_) => false }
      if (hit) {
        val incRun = model.materialization match {
          case _: Materialization.IncrementalInsertOverwrite
             | _: Materialization.IncrementalMerge
             | _: Materialization.IncrementalAppend =>
            try { Prof.timed("incremental")(new DagRunner(Seq(model)).materialize(ctx, model)); "incremental-run=ok" }
            catch { case scala.util.control.NonFatal(e) =>
              s"incremental-run=FAIL:${condOf(e)}" }
          case _ => "write=skipped-schema-noop"
        }
        if (!incRun.startsWith("incremental-run=FAIL"))
          return Item(node.name, node.kind, "executed", incRun, 0)
        // a failing advance means the fast path misjudged — full rebuild
      }
    }

    // fixpoint passes rebuild from scratch: schema growth must never merge
    // into (or SCD2-advance against) last pass's narrower files
    Prof.timed("drop")(ctx.warehouse.drop(node.name))

    var it = 0
    var lastCond = ""
    var lastMsg = ""
    var stall = 0
    var readRetries = 0
    while (it < maxIter) {
      it += 1
      budgetGap().foreach(return _)
      try {
        Prof.timed("materialize")(new DagRunner(Seq(model)).materialize(ctx, model))
        // incremental/snapshot second run: the table now exists, so the
        // insert_overwrite / merge / append / SCD2-advance path executes
        val incRun = model.materialization match {
          case _: Materialization.IncrementalInsertOverwrite
             | _: Materialization.IncrementalMerge
             | _: Materialization.IncrementalAppend
             | _: Materialization.Snapshot =>
            try { Prof.timed("incremental")(new DagRunner(Seq(model)).materialize(ctx, model)); "incremental-run=ok" }
            catch { case scala.util.control.NonFatal(e) =>
              s"incremental-run=FAIL:${condOf(e)}" }
          case _ => ""
        }
        return Item(node.name, node.kind, "executed", incRun, it)
      } catch {
        case e: AnalysisException =>
          if (debug) {
            val ps = Option(e.getMessageParameters).map(_.asScala.toMap).getOrElse(Map.empty)
            println(s"[corpus-debug] ${node.name} it=$it cond=${condOf(e)} " +
              ps.map { case (k, v) => s"$k=${String.valueOf(v).take(160)}" }.mkString(" | "))
          }
          // stale-upstream-first: never patch against a stale upstream
          // output. Any analysis error can be an artifact of a ref that
          // materialized before the latest schema knowledge landed on its
          // sources — refreshUpstreams is version-gated (a no-op when
          // nothing is stale), so rebuild-and-retry before letting the
          // patcher escalate to leaf-name promotions or explode flips that
          // corrupt healthy sources.
          if (refreshUpstreams(node.name)) {
            if (debug) println(s"[corpus-debug] ${node.name} it=$it stale-upstream refresh")
            lastMsg = ""; stall = 0
          } else {
          // a throw inside the patcher must classify, not kill the phase
          val changed = try Prof.timed("patch")(patch(e, pc)) catch {
            case scala.util.control.NonFatal(pe) =>
              return Item(node.name, node.kind, s"gap:patch-error:${condOf(e)}",
                String.valueOf(pe.getMessage).take(200), it)
          }
          if (!changed) {
            // PATH_NOT_FOUND on a known node's table: a failed mid-pass
            // upstream refresh left the directory dropped — rebuild that
            // node directly and retry (at most once per missing name)
            val missingNode = if (condOf(e) == "PATH_NOT_FOUND")
              Option(e.getMessageParameters).flatMap(m =>
                Option(m.get("path"))).map(_.split('/').last).filter(_ != lastMsg)
            else None
            if (missingNode.exists(refreshNode)) { lastMsg = missingNode.get; stall = 0 }
            // no patch applies, but the error may come from a STALE upstream
            // output (the schema knowledge already exists; the upstream just
            // hasn't re-materialized with it) — refresh and retry once
            else if (refreshUpstreams(node.name)) { lastMsg = ""; stall = 0 }
            else return Item(node.name, node.kind, s"gap:${condOf(e)}",
              String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | ").take(220), it)
          } else {
            Prof.timed("flush")(synth.flushCatalog()) // raw catalog tables must reflect new columns
            // an identical error despite schema changes means the patch landed
            // outside this model's own scope (a closure source feeding an
            // upstream ref) — re-materialize the stale upstreams inline and
            // keep negotiating; only defer to the next fixpoint pass if even
            // that leaves the error byte-identical
            val msg = Prof.timed("exmsg")(String.valueOf(e.getMessage).take(300))
            if (msg == lastMsg) {
              stall += 1
              // a byte-identical error despite a schema change can be fed by
              // the node's OWN partially-materialized table (a snapshot's
              // first-run CTAS from iteration 1 freezes the bad schema on
              // disk; the SCD2-advance query then re-reads it) — drop it so
              // the next attempt rebuilds from the fixed sources
              ctx.warehouse.drop(node.name)
            } else stall = 0
            if (stall >= 1 && refreshUpstreams(node.name)) { lastMsg = ""; stall = 0 }
            else if (stall >= 2)
              return Item(node.name, node.kind, s"gap:deferred:${condOf(e)}",
                msg.linesIterator.take(2).mkString(" | ").take(220), it)
            else { lastMsg = msg; lastCond = condOf(e) }
          }
          }
        case scala.util.control.NonFatal(e) =>
          // a stale shared file-listing (drop+rewrite race) resolves itself
          // once the metadata-cache TTL lapses — retry instead of gapping
          if (String.valueOf(e.getMessage).contains("FAILED_READ_FILE") &&
            readRetries < 3) {
            readRetries += 1
            Thread.sleep(2500)
          } else
            return Item(node.name, node.kind, s"gap:runtime:${e.getClass.getSimpleName}",
              String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | ").take(220), it)
      }
    }
    Item(node.name, node.kind, "gap:negotiation-limit", lastCond, it)
  }

  private def condOf(e: Throwable): String = e match {
    case a: AnalysisException => Option(a.getCondition).getOrElse(a.getClass.getSimpleName)
    case other => other.getClass.getSimpleName
  }
}
