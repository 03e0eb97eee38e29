package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join — the reference's SCD2 validity-range join pattern
  * (reference: macros/gold_active_users_and_devices_with_ephemeral.sql:338-341,
  * models/spark/mart/product_nf_segment.sql:141-142) — built scale-first.
  *
  * A naive non-equi range join (`l.t >= r.from AND l.t <= r.to`) is planned by
  * Catalyst as a broadcast-nested-loop or a sort-merge with residual — both
  * blow up on big×big inputs. Instead we union both sides tagged, sort once
  * per key, and carry the latest right payload forward with
  * `last(_, ignoreNulls)` over a running frame: ONE shuffle on the key, fully
  * whole-stage-codegen, no row-pair explosion. At 100TB this survives as long
  * as a single key's timeline fits one partition's external sort (Spark
  * spills), which is the same requirement any per-key window has.
  */
object AsOfJoin {

  /** For each left row, attach the latest right row with
    * `right(rightTime) <= left(leftTime)`, equi-matched on `keyCols`.
    *
    * Time columns must be numeric (epoch seconds/millis/nanos — cast
    * timestamps up front). Right must be unique per (keyCols, rightTime);
    * pre-aggregate if it is not, or results are tie-ambiguous.
    * Right's non-key columns are emitted prefixed (default `r_`), including
    * `<prefix><rightTime>` = the matched right timestamp (null if no match).
    */
  def backward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               leftTime: String, rightTime: String, prefix: String = "r_"): DataFrame = {
    val payload = right.columns.filterNot(c => keyCols.contains(c) || c == rightTime).toSeq
    val pStruct = struct((rightTime +: payload).map(col): _*)
    val r = right.select(
      keyCols.map(col) ++ Seq(
        col(rightTime).cast("long").as("__t"), lit(0).as("__side"), pStruct.as("__p")): _*)
    val leftCols = left.columns.toSeq
    val l = left
      .select(leftCols.map(col) ++ Seq(col(leftTime).cast("long").as("__t"), lit(1).as("__side")): _*)
      .withColumn("__p", lit(null).cast(r.schema("__p").dataType))
    // right rows sort before left rows at equal time => `<=` semantics
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        (rightTime +: payload).map(c => col("__m").getField(c).as(prefix + c)): _*)
  }

  /** Skew-armored `backward`: identical output, but a hot key no longer
    * serializes its whole timeline through ONE window partition.
    *
    * `backward` partitions the window by key, so a key holding 30% of all
    * rows sorts 30% of the data on one thread while the rest of the cluster
    * idles (measured ~2.5× over uniform at ×100 — SCALE.md "As-of join skew
    * envelope"). Two phases:
    *
    *  1. DETECT: a keyed aggregation over a `detectSample` fraction of the
    *     tagged union finds keys with ≥ `hotThreshold` rows (threshold
    *     scaled by the fraction with a 2× safety margin), with each hot
    *     key's approximate time range. Detection is a HINT, never a
    *     correctness input: a missed hot key degrades to `backward`'s
    *     single-partition sort for that key; a false positive or a shrunken
    *     time range still computes exact results (chunks are clamped to
    *     [0, splits) and the carry covers every listed key) — so a 1%
    *     sample scan, pruned to (key, time) columns, replaces a full pass.
    *     The collected result is bounded at ≤ sampledRows/scaledThreshold
    *     rows of driver metadata (a real corpus collects a handful of bot
    *     ids). No hot keys → plain `backward`, nothing paid downstream.
    *  2. SALT BY TIME CHUNK, hot keys only: a hot row's salt is
    *     `floor((t - tMinₖ) / spanₖ)` from ITS KEY's range (splits ways);
    *     cold rows take chunk 0, so their (key, 0) window partition holds
    *     their full timeline and phase 2 never touches them — bit-for-bit
    *     `backward`. The same union + running `last(_, ignoreNulls)` window
    *     runs partitioned by (key, chunk): the hot timeline sorts
    *     `splits`-wide. Rows whose match lives in an EARLIER chunk are
    *     served by a carry table built from the hot RIGHT rows only —
    *     latest payload per (key, chunk), densified to all `splits` chunks,
    *     carried forward EXCLUSIVE of the current chunk — ≤ |hot|·splits
    *     tiny rows injected as synthetic SEED right rows at each chunk's
    *     head (t = −∞): they ride the one big shuffle and the running
    *     `last` absorbs them — no second shuffle, no post-window join.
    *
    * Equal-time ties share a chunk and resolve by the same `__side` ordering,
    * so results are bit-identical to `backward`, incl. null/no-match rows
    * (OpsSpec fixture + OpsProperties randomized equivalence pin this; null
    * times are out of contract for both variants — cast epochs up front).
    *
    * Two rejected designs, both built and MEASURED at the ×100 skew30 probe
    * (20M rows, 32 threads, warm): (a) replicate the right timeline into S
    * salt buckets — 8.96 s vs 5.76 s unsalted (right×32 replication + salt
    * collisions outweigh the skew win); (b) chunk ALL keys globally — 7.60 s
    * (the (key, chunk) carry join forces a second sort+shuffle of the full
    * 20M rows). Hot-only chunking pays one pruned detect pass and balances
    * any hot key whose events spread over time — the SCD2 shape this targets
    * (reference: macros/gold_active_users_and_devices_with_ephemeral.sql:
    * 338-341, a bot device's event stream vs its validity ranges).
    * `backward` stays the default: unskewed inputs skip the detect pass too.
    */
  /** Dispatching entry point: `backward` when the inputs are too small for
    * key skew to matter, `backwardSalted` (detect pass + chunk salting, see
    * below) when they are big enough that one hot key could serialize the
    * window. The dispatch reads Catalyst's own size estimate
    * (`optimizedPlan.stats.sizeInBytes` — free, no job) so the 1% detect
    * scan is only paid when input stats suggest it could pay off; below
    * `minBytesForDetect` (default 1 GiB combined) even a fully-skewed input
    * sorts in seconds on one thread, so the detect pass would cost more
    * than it saves. Output is bit-identical on both paths (OpsSpec and
    * OpsProperties pin salted == backward).
    */
  def auto(left: DataFrame, right: DataFrame, keyCols: Seq[String],
           leftTime: String, rightTime: String, prefix: String = "r_",
           splits: Int = 32, hotThreshold: Long = 1000000L,
           detectSample: Double = 0.01,
           minBytesForDetect: Long = 1L << 30): DataFrame = {
    def sz(df: DataFrame): BigInt =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Exception => BigInt(Long.MaxValue) } // unknown => assume big
    if (sz(left) + sz(right) >= BigInt(minBytesForDetect))
      backwardSalted(left, right, keyCols, leftTime, rightTime, prefix,
        splits, hotThreshold, detectSample)
    else backward(left, right, keyCols, leftTime, rightTime, prefix)
  }

  def backwardSalted(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                     leftTime: String, rightTime: String, prefix: String = "r_",
                     splits: Int = 32, hotThreshold: Long = 1000000L,
                     detectSample: Double = 0.01): DataFrame = {
    require(splits >= 1, s"splits must be >= 1, got $splits")
    require(hotThreshold >= 1, s"hotThreshold must be >= 1, got $hotThreshold")
    require(detectSample > 0 && detectSample <= 1.0,
      s"detectSample must be in (0, 1], got $detectSample")
    if (splits == 1) return backward(left, right, keyCols, leftTime, rightTime, prefix)
    val spark = left.sparkSession
    val payload = right.columns.filterNot(c => keyCols.contains(c) || c == rightTime).toSeq
    val pStruct = struct((rightTime +: payload).map(col): _*)
    val r = right.select(
      keyCols.map(col) ++ Seq(
        col(rightTime).cast("long").as("__t"), lit(0).as("__side"), pStruct.as("__p")): _*)
    val leftCols = left.columns.toSeq
    val l = left
      .select(leftCols.map(col) ++ Seq(col(leftTime).cast("long").as("__t"), lit(1).as("__side")): _*)
      .withColumn("__p", lit(null).cast(r.schema("__p").dataType))
    val u = l.unionByName(r, allowMissingColumns = true)

    // phase 1: detect hot keys + their (approximate) per-key time spans on a
    // sample — a perf hint only, see scaladoc. Bounded collect:
    // ≤ sampled rows / scaled threshold rows.
    val detectSrc = if (detectSample >= 1.0) u else u.sample(detectSample, seed = 42L)
    val scaledThreshold =
      if (detectSample >= 1.0) hotThreshold
      else math.max(1L, (hotThreshold * detectSample / 2).toLong)
    val hotRows = detectSrc.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), min(col("__t")).as("__tmin"), max(col("__t")).as("__tmax"))
      .filter(col("__n") >= scaledThreshold && col("__tmin").isNotNull)
      .select(keyCols.map(col) :+ col("__tmin") :+
        greatest(floor((col("__tmax") - col("__tmin")) / lit(splits)) + 1, lit(1L))
          .cast("long").as("__span"): _*)
      .collect()
    if (hotRows.isEmpty) return backward(left, right, keyCols, leftTime, rightTime, prefix)
    val hot = spark.createDataFrame(
      spark.sparkContext.parallelize(hotRows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(
        u.select(keyCols.map(col): _*).schema.fields :+
          org.apache.spark.sql.types.StructField("__tmin", org.apache.spark.sql.types.LongType) :+
          org.apache.spark.sql.types.StructField("__span", org.apache.spark.sql.types.LongType)))

    // phase 2: chunk-salted window; cold rows keep chunk 0 (= backward).
    // The clamp makes SAMPLED time ranges safe: a row outside the estimated
    // [tmin, tmax] lands in chunk 0 or splits-1 — still monotone in t and
    // identical for equal t, which is all correctness needs.
    // Hot sets are normally a handful of ids, so the chunk assignment is
    // INLINED as a literal CASE over the collected rows — no broadcast join
    // before the big shuffle, the whole map side stays one codegen stage
    // (measured ~1 s/20M rows saved vs the join); past 64 hot keys a
    // broadcast join takes over (a deep literal CASE stops paying).
    def chunkExpr(tmin: Column, span: Column) =
      greatest(least(floor((col("__t") - tmin) / span), lit(splits - 1)), lit(0)).cast("int")
    def keyEq(row: org.apache.spark.sql.Row): Column =
      keyCols.zipWithIndex.map { case (kc, i) => col(kc) <=> lit(row.get(i)) }.reduce(_ && _)
    val inlineHot = hotRows.length <= 64
    def withChunk(df: DataFrame): DataFrame =
      if (inlineHot)
        df.withColumn("__c", hotRows.foldLeft(lit(0)) { (acc, row) =>
          when(keyEq(row),
            chunkExpr(lit(row.getLong(keyCols.length)), lit(row.getLong(keyCols.length + 1))))
            .otherwise(acc)
        })
      else
        df.join(broadcast(hot), keyCols, "left")
          .withColumn("__c", when(col("__span").isNotNull,
            chunkExpr(col("__tmin"), col("__span"))).otherwise(lit(0)))
          .drop("__tmin", "__span")
    val byChunk = (keyCols :+ "__c").map(col)
    val wIn = Window.partitionBy(byChunk: _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // cross-chunk carry from the HOT right rows only: latest payload per
    // (key, chunk), densified to every chunk so gap chunks inherit, carried
    // forward EXCLUSIVE of the current chunk (in-chunk matches are the
    // window's job). ≤ |hot|·splits tiny rows. Instead of joining this back
    // AFTER the window (an extra stage on the big side), each carry becomes
    // a synthetic SEED row at its chunk's head — (__t = Long.MinValue,
    // __side = -1 sorts before everything in the chunk) — unioned into the
    // main input: it rides the one big shuffle and the running
    // `last(_, ignoreNulls)` picks it up exactly where a cross-chunk match
    // is needed. One shuffle, one window, zero post-window joins.
    val rHot =
      if (inlineHot) r.filter(hotRows.map(keyEq).reduce(_ || _))
      else r.join(broadcast(hot), keyCols, "leftsemi")
    val rTails = withChunk(rHot).groupBy(byChunk: _*)
      .agg(max_by(col("__p"), col("__t")).as("__tail"))
    val dense = hot.select(keyCols.map(col): _*)
      .withColumn("__c", explode(sequence(lit(0), lit(splits - 1))))
    val wCarry = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seeds = dense.join(rTails, keyCols :+ "__c", "left")
      .withColumn("__p", last(col("__tail"), ignoreNulls = true).over(wCarry))
      .filter(col("__p").isNotNull)
      .select(keyCols.map(col) ++ Seq(
        lit(Long.MinValue).as("__t"), lit(-1).as("__side"), col("__p"), col("__c")): _*)

    withChunk(u).unionByName(seeds, allowMissingColumns = true)
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(wIn))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        (rightTime +: payload).map(c => col("__m").getField(c).as(prefix + c)): _*)
  }
}
