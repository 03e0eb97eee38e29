package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up probe: replicate the sf0.1 tables ~20× into /tmp (12M lineitem
  * rows) with shifted keys, re-run headline query shapes, and compare
  * per-row throughput against sf0.1 — checks that the plans scale linearly
  * (no accidental quadratic joins / driver collects) before the real 100TB
  * claim. Usage: runMain graft.ScaleProbe [factor]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(20)
    // "keep": reuse an existing /tmp/graft_scale replication (same factor)
    val keep = args.contains("keep")
    val spark = graft.runtime.Dialect.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val big = "/tmp/graft_scale"

    def timedEarly(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"SCALE $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }

    // `asof` arg: run ONLY the as-of skew probe. The union+window as-of
    // (ops/AsOfJoin.scala) serializes each key's timeline through one
    // window partition — this measures the partition-skew envelope at
    // ×factor events with a hot key holding 30% of ALL rows, against a
    // uniform twin on the same row count. Generated in-memory (range +
    // codegen'd exprs), deterministic, no disk.
    if (args.contains("asof")) {
      import graft.ops.AsOfJoin
      def mkEvents(n: Long, skewed: Boolean) = spark.range(n).select(
        (if (skewed)
          when(pmod(col("id"), lit(10)) < 3, lit("hot"))
            .otherwise(concat(lit("k"), pmod(col("id"), lit(100000)).cast("string")))
        else concat(lit("k"), pmod(col("id"), lit(100000)).cast("string"))).as("k"),
        col("id").as("t"))
      // best-of-N per configuration: a single local[32] run saturates all
      // cores, so wall time is hostage to whatever else the box does — the
      // MIN over warm reps is the schedulable cost the claim is about
      val best = scala.collection.mutable.Map.empty[String, Double]
      def timedBest(name: String, r: Int)(f: => Long): Unit = {
        val t0 = System.nanoTime(); val n = f
        val s = (System.nanoTime() - t0) / 1e9
        if (r > 1) best(name) = math.min(best.getOrElse(name, Double.MaxValue), s)
        println(f"SCALE $name (r$r): $s%.2f s ($n rows)")
      }
      val backwardCount = scala.collection.mutable.Map.empty[String, Long]
      for ((n, tag) <- Seq((200000L, "base"), (200000L * factor, s"x$factor"));
           r <- 1 to 4; skewed <- Seq(false, true)) {
        val left = mkEvents(n, skewed)
        val right = mkEvents(n / 50, skewed).withColumn("v", col("t") * 2)
        // aggregate the MATCHED payload so column pruning cannot drop the
        // window itself (a bare count() plans without computing the as-of)
        timedBest(s"asof_${if (skewed) "skew30" else "uniform"} $tag", r) {
          val c = AsOfJoin.backward(left, right, Seq("k"), "t", "t")
            .agg(count(col("r_v"))).head().getLong(0)
          backwardCount(tag + skewed) = c
          c
        }
        // the cost of DISPATCHING salted on inputs that don't need it: the
        // detect pass finds no hot key (threshold unreachable at uniform)
        // and falls back to plain backward — the delta vs asof_uniform IS
        // the auto-dispatch overhead SCALE.md records
        if (!skewed) timedBest(s"asof_uniform_saltedpath $tag", r) {
          val c = AsOfJoin.backwardSalted(left, right, Seq("k"), "t", "t",
              splits = 512, hotThreshold = 10000L)
            .agg(count(col("r_v"))).head().getLong(0)
          if (c != backwardCount(tag + false)) {
            println(s"SCALE DIVERGED asof_uniform_saltedpath $tag: salted=$c " +
              s"backward=${backwardCount(tag + false)}")
            sys.error(s"salted as-of diverged from backward at uniform $tag")
          }
          c
        }
        // the salted mitigation, timed on the SAME inputs — (a) its matched-
        // row count is ASSERTED equal to backward's (a divergence aborts the
        // probe loudly, not just a perf read) and (b) on skew30 it should
        // land near the uniform backward time (the hot key's sort spreads
        // over `splits` window partitions instead of one thread)
        if (skewed) timedBest(s"asof_skew30_salted $tag", r) {
          val c = AsOfJoin.backwardSalted(left, right, Seq("k"), "t", "t",
              splits = 512,
              hotThreshold = 10000L) // catches the 30% key at both scales
            .agg(count(col("r_v"))).head().getLong(0)
          if (c != backwardCount(tag + true)) {
            println(s"SCALE DIVERGED asof_skew30_salted $tag: salted=$c " +
              s"backward=${backwardCount(tag + true)}")
            sys.error(s"salted as-of diverged from backward at $tag")
          }
          c
        }
      }
      for ((name, s) <- best.toSeq.sortBy(_._1))
        println(f"SCALE BEST $name: $s%.2f s")
      spark.stop(); return
    }

    // `txhist` arg (r17): the LONG-HISTORY probe — one table driven through
    // ~1,000 MIXED commits (9 appends : 1 dynamic-partition overwrite, the
    // remove+add shape an incremental pipeline produces daily), measuring
    // at waypoints: latest-snapshot resolve, full read, and a mid-history
    // VERSION AS OF read. The claim under test: resolve cost is bounded by
    // (live manifest size + ≤checkpointInterval commit replays), i.e. FLAT
    // in table age — at 100 TB a table accumulates thousands of commits per
    // quarter and a linear replay would dominate planning. Closes with
    // vacuum (expired pre-checkpoint data files dropped) + a post-vacuum
    // latest read and a time-travel read inside the retention horizon.
    if (args.contains("txhist")) {
      import java.nio.file.Paths
      import graft.plans.TxLog
      val t = Paths.get(graft.runtime.TempDirs.create("graft_txhist")).resolve("t")
      val commits = if (factor >= 100) factor else 1000
      def slice(i: Int) = spark.range(i * 100L, i * 100L + 50)
        .selectExpr("id", "CAST(id % 7 AS STRING) AS p")
      TxLog.overwrite(t, slice(0), Seq("p"))
      val waypoints = Set(10, 100, 250, 500, commits)
      def bestOf3(f: => Long): Double = {
        var best = Double.MaxValue
        for (_ <- 1 to 3) {
          val t0 = System.nanoTime(); f
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        best
      }
      for (i <- 1 to commits) {
        if (i % 10 == 0) TxLog.overwritePartitions(t, slice(i), Seq("p"))
        else TxLog.append(t, slice(i))
        if (waypoints(i)) {
          val files = TxLog.snapshot(t).files.size
          val rs = bestOf3(TxLog.snapshot(t).version)
          val rd = bestOf3(TxLog.read(spark, t).count())
          val tt = bestOf3(TxLog.read(spark, t, asOf = i / 2).count())
          println(f"SCALE txhist commits=$i%4d liveFiles=$files%5d " +
            f"resolve=${rs}%.4f s read=${rd}%.3f s asOf(v${i / 2})=${tt}%.3f s")
        }
      }
      // replay-distance micro-curve: resolving asOf at distance d from the
      // preceding checkpoint replays exactly d commits — the worst case is
      // checkpointInterval-1, which bounds resolve latency by design
      for (d <- Seq(0, 3, 6, 9)) {
        val v = (commits / 2 / 10) * 10 + d
        val rs = bestOf3(TxLog.snapshot(t, asOf = v).version)
        println(f"SCALE txhist replay-distance d=$d (asOf v$v): ${rs}%.4f s")
      }
      locally {
        val before = TxLog.snapshot(t).files.size
        val removed = TxLog.vacuum(t, retentionMs = 0L)
        val rd = bestOf3(TxLog.read(spark, t).count())
        // retention-0 vacuum deletes every tombstoned file, which is the
        // retention CONTRACT: the latest snapshot stays fully readable,
        // while time travel to versions referencing tombstoned files is
        // destroyed (Delta's VACUUM has the same horizon semantics)
        val ttLost =
          try { TxLog.read(spark, t, asOf = commits - 2).count(); false }
          catch { case scala.util.control.NonFatal(_) => true }
        println(f"SCALE txhist vacuum: live=$before removedFiles=$removed " +
          f"postVacuumRead=${rd}%.3f s timeTravelPastHorizon=" +
          (if (ttLost) "destroyed-as-specified" else "still-readable"))
      }
      spark.stop(); return
    }

    def replicate(name: String, keyCols: Seq[String], keySpan: Long): Unit = {
      val base = Tables(spark, src, name)
      val out = (0 until factor).map { i =>
        keyCols.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * keySpan)))
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$big/$name.parquet")
    }
    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"SCALE $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }

    // `wide` arg: probe ONLY the two bench heavyweights — q72_orders_wide
    // (7 window/join stages over orders+lineitem+events, incremental
    // insert_overwrite by month, run TWICE incl. the lookback rewrite) and
    // q74_campaign_funnels (sessionized funnel over events × part dims) —
    // at sf0.1 and ×factor. Fact tables (orders, lineitem, customer,
    // events) replicate with ALIGNED key shifts so every per-replica join
    // keeps its sf0.1 fan-out (the workload grows linearly, as real data
    // would); dims (nation/region/part) copy through — they are broadcast
    // constants whose growth is not the claim. Wall time includes the
    // models' own warehouse materializations: the probe measures the
    // PIPELINE, not a bare query. SCALE.md records the scaling exponent
    // log(t_big/t_base)/log(factor) from the best-of-2 warm times.
    if (args.contains("wide")) {
      if (!keep) {
        replicate("orders", Seq("o_orderkey", "o_custkey"), 10000000L)
        replicate("lineitem", Seq("l_orderkey"), 10000000L)
        replicate("customer", Seq("c_custkey"), 10000000L)
        val ev = Tables(spark, src, "events")
        (0 until factor).map(i => ev
          .withColumn("user_id", col("user_id") + lit(i * 10000000L))
          .withColumn("event_id", col("event_id") + lit(i * 10000000L)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$big/events.parquet")
        for (t <- Seq("nation", "region", "part", "supplier"))
          Tables(spark, src, t).write.mode("overwrite").parquet(s"$big/$t.parquet")
        println(s"replicated x$factor (wide set)")
      }
      def q72(dir: String) = queries.GoldOrdersWide.q72OrdersWide(spark, dir).count()
      def q74(dir: String) = queries.CampaignFunnels.q74CampaignFunnels(spark, dir).count()
      // q30 (r17): the #3 wall-time heavyweight and the archetypal reference
      // pipeline (view + incremental insert_overwrite by month, run twice,
      // dup singular test) — orders x customer x nation x lineitem, one
      // output row per order, so xfactor rows must scale exactly xfactor
      def q30(dir: String) = queries.PipelineQueries.q30GoldOrdersPipeline(spark, dir).count()
      val counts = scala.collection.mutable.Map.empty[String, Long]
      for (r <- 1 to 2; (tag, dir) <- Seq(("sf0.1", src), (s"x$factor", big));
           (qn, f) <- Seq(("q72_orders_wide", q72 _), ("q74_campaign_funnels", q74 _),
             ("q30_gold_orders_pipeline", q30 _))) {
        timed(s"$qn $tag (r$r)") {
          val n = f(dir)
          // ×factor output must scale ×factor exactly (aligned key shifts
          // replicate the row structure) — a diverging count means the
          // replication broke a join, and the timing would be meaningless
          counts.get(s"$qn $tag").foreach(prev => assert(prev == n,
            s"$qn $tag row count unstable: $prev vs $n"))
          counts(s"$qn $tag") = n
          n
        }
      }
      // q72 emits one row per order -> must scale exactly ×factor; q74 emits
      // (date, platform, funnel) aggregates whose keyspace the replication
      // deliberately does NOT grow -> must stay exactly flat
      locally {
        val (b, g) = (counts("q72_orders_wide sf0.1"), counts(s"q72_orders_wide x$factor"))
        assert(g == b * factor,
          s"q72: x$factor rows $g != $factor * base rows $b — replication broke a join")
      }
      locally {
        val (b, g) = (counts("q30_gold_orders_pipeline sf0.1"), counts(s"q30_gold_orders_pipeline x$factor"))
        assert(g == b * factor,
          s"q30: x$factor rows $g != $factor * base rows $b — replication broke a join")
      }
      locally {
        val (b, g) = (counts("q74_campaign_funnels sf0.1"), counts(s"q74_campaign_funnels x$factor"))
        assert(g == b,
          s"q74: x$factor group count $g != base $b — replication leaked new group keys")
      }
      spark.stop(); return
    }

    // at 50×+ only the dedup/ANN family runs (the 100× probe target); the
    // TPC-H trio needs the full table set replicated, which at 100× spends
    // more time writing /tmp parquet than probing plans
    val fullSet = factor < 50
    if (fullSet && !keep) {
      replicate("lineitem", Seq("l_orderkey"), 10000000L)
      replicate("customer", Seq("c_custkey"), 10000000L)
    }
    // orders is replicated at EVERY factor: the merge probe below needs only
    // it, and at 100× it is still a small write (15M rows)
    if (!keep) replicate("orders", Seq("o_orderkey", "o_custkey"), 10000000L)

    // documents replicated with per-replica token salting: every token gets a
    // replica prefix, so the within-replica duplicate/near-dup structure is
    // preserved while cross-replica similarity drops to zero — the dedup
    // workload then grows LINEARLY with data, as a real corpus's would
    // (naive replication would instead multiply every dup group by `factor`
    // and grow candidate pairs quadratically, probing the wrong thing).
    val docs = Tables(spark, src, "documents")
    if (!keep) (0 until factor).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", regexp_replace(col("text"), "(^|\\s)", "$1r" + i + "x"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$big/documents.parquet")
    println(s"replicated x$factor")

    // embeddings replicated with shifted ids: only replica 0 keeps vec_id<10,
    // so the q38 probe holds the query set at 10 while the scanned corpus
    // grows ×factor — the broadcast-queries/one-corpus-pass scaling claim.
    if (!keep) {
      val emb = Tables(spark, src, "embeddings")
      (0 until factor).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
    }

    def q1(dir: String) = queries.CoreQueries.q1PricingSummary(spark, dir).count()
    def q3(dir: String) = queries.JoinQueries.q3RevenueByRegionMonth(spark, dir).count()
    def q2(dir: String) = queries.WindowQueries.q2LatestOrderPerCustomer(spark, dir).count()
    def qDedup(dir: String) = queries.NorthStarQueries.q31DedupExact(spark, dir).count()
    def qLsh(dir: String) = queries.NorthStarQueries.q33MinhashLsh(spark, dir).count()
    def qAnn(dir: String) = queries.NorthStarQueries.q38AnnBruteTopK(spark, dir).count()

    // nation/region not replicated: copy through for the join chain
    if (!keep)
      for (t <- Seq("nation", "region", "part", "supplier", "events"))
        Tables(spark, src, t).write.mode("overwrite").parquet(s"$big/$t.parquet")

    for (r <- 1 to 2) {
      if (fullSet) {
        timed(s"q1_agg sf0.1 (r$r)")(q1(src)); timed(s"q1_agg x$factor (r$r)")(q1(big))
        timed(s"q3_join sf0.1 (r$r)")(q3(src)); timed(s"q3_join x$factor (r$r)")(q3(big))
        timed(s"q2_window sf0.1 (r$r)")(q2(src)); timed(s"q2_window x$factor (r$r)")(q2(big))
      }
      timed(s"q31_dedup sf0.1 (r$r)")(qDedup(src)); timed(s"q31_dedup x$factor (r$r)")(qDedup(big))
      timed(s"q33_lsh sf0.1 (r$r)")(qLsh(src)); timed(s"q33_lsh x$factor (r$r)")(qLsh(big))
      timed(s"q38_ann sf0.1 (r$r)")(qAnn(src)); timed(s"q38_ann x$factor (r$r)")(qAnn(big))
    }

    // IVF quality/efficiency trade at ×factor vectors: recall@k vs nProbe
    // against the brute-force ground truth on the SAME corpus — the measured
    // counterpart of the LSH family's documented recall numbers. Probing
    // more cells buys recall linearly in scanned candidates; the table this
    // prints is the knob a 100 TB deployment tunes.
    locally {
      import graft.ops.Similarity
      // two axes, two corpora: the ×factor run measures TIME at scale (its
      // recall is trivially 1.0 — a replicated query's true neighbors are
      // its own replicas, co-located in its cell by construction); the
      // sf0.1 base run measures the real recall-vs-nProbe QUALITY curve on
      // genuinely diverse vectors.
      for ((dir, tag) <- Seq((big, s"x$factor"), (src, "sf0.1"))) {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val qs = emb.filter(col("vec_id") < 10)
        val k = 10
        val truth = Similarity.bruteForceTopK(emb, qs, k)
          .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val init = emb.orderBy("vec_id").limit(32)
        val cents = Similarity.kmeansOnSample(emb, init)
        for (nProbe <- Seq(1, 2, 4, 8)) {
          var hits = 0L
          timed(s"ivf_topk $tag nProbe=$nProbe") {
            val res = Similarity.ivfTopK(emb, qs, cents, k, nProbe)
              .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            hits = res.count(truth.contains).toLong
            res.length.toLong
          }
          println(f"SCALE ivf_recall@$k $tag nProbe=$nProbe: ${hits.toDouble / truth.size}%.3f")
        }
      }
    }

    // merge probe: cost must track the INCREMENT (one month's partitions),
    // not the table. Build a month-partitioned orders fact at 1× and ×factor,
    // then merge the same single-month increment into each.
    //  - pruned=true (incrementPartitionsOnly): the log manifest prunes the
    //    candidate files to the increment's month, so no data outside it is
    //    read; time should be ~flat as the table grows ×factor
    //  - pruned=false: the matched-key probe scans every live file, key
    //    columns only — grows with table size but only on the key bytes
    locally {
      import graft.runtime._
      def mergeProbe(dir: String, tag: String, pruned: Boolean): Unit = {
        val wh = new Warehouse(spark,
          graft.runtime.TempDirs.create(s"graft_mergeprobe"))
        // a keyed merge writes the log, so the table it merges into is a log table
        wh.routeFormat("fact", "parquet", keyedMerge = true)
        // replicas land in DISTINCT month partitions (suffix = replica id from
        // the shifted key range): the ×factor table models a longer history —
        // factor× as many partitions of the same size — while the increment
        // (one replica-0 month) stays fixed
        val orders = Tables(spark, dir, "orders")
          .select(col("o_orderkey").as("id"),
            concat(date_format(col("o_orderdate"), "yyyy-MM"),
              lit("_r"), (col("o_orderkey") / 10000000L).cast("long")).as("month"),
            col("o_totalprice").as("v"))
        wh.createTable("fact", orders, Seq("month"))
        // stage the increment first: deriving it scans the (×factor) source,
        // which is upstream cost, not merge cost — the timer must see only
        // the merge itself
        val incPath = s"${wh.root}/inc_staged"
        orders.filter(col("month") === "1997-06_r0").withColumn("v", col("v") * 2)
          .write.mode("overwrite").parquet(incPath)
        val inc = spark.read.parquet(incPath)
        val n = inc.count()
        timed(s"merge_$tag pruned=$pruned") {
          wh.mergeUpsert("fact", inc, Seq("id"), Seq("month"),
            incrementPartitionsOnly = pruned)
          n
        }
      }
      for (pruned <- Seq(true, false)) {
        mergeProbe(src, "sf0.1", pruned); mergeProbe(big, s"x$factor", pruned)
      }
    }

    // connected-components probe: adversarial PATH graphs (diameter = depth),
    // the case the large/small-star algorithm exists for — min-label
    // propagation needs O(depth) rounds (dupGroups caps at 30), two-phase
    // O(log depth). Scaled two ways: depth ×factor (hostile) and chain
    // count ×factor (the realistic many-small-components shape).
    def ccProbe(depth: Int, chains: Int, tag: String): Unit = {
      val edges = spark.range(chains).selectExpr("id AS c")
        .selectExpr("c", s"explode(sequence(0, ${depth - 1})) AS i")
        .selectExpr(s"c * ${depth + 1} + i AS id_a", s"c * ${depth + 1} + i + 1 AS id_b")
      timed(s"cc_twophase_$tag (depth=$depth chains=$chains)") {
        val groups = graft.ops.Dedup.dupGroupsTwoPhase(edges)
          .select(col("group_id")).distinct().count()
        require(groups == chains, s"expected $chains components, got $groups")
        groups
      }
    }
    ccProbe(100, 100, "base")
    ccProbe(100 * factor, 100, s"depth-x$factor")
    ccProbe(100, 100 * factor, s"width-x$factor")

    // txlog probe: snapshot resolution must stay flat in table AGE — the
    // checkpoint bounds replay to (latest checkpoint + ≤interval commits)
    // regardless of how many commits the table has accumulated. Grows only
    // with LIVE file count (manifest size), never commit count.
    locally {
      import java.nio.file.Paths
      import graft.plans.TxLog
      def txProbe(commits: Int): Unit = {
        val t = Paths.get(graft.runtime.TempDirs.create("graft_txprobe")).resolve("t")
        val seed = spark.range(1000).selectExpr("id", "id * 2 AS v")
        TxLog.overwrite(t, seed, Nil)
        for (i <- 1 to commits)
          TxLog.append(t, spark.range(i * 1000L, i * 1000L + 10).selectExpr("id", "id * 2 AS v"))
        timed(s"txlog_snapshot after $commits commits") {
          TxLog.snapshot(t).files.size.toLong
        }
        timed(s"txlog_read after $commits commits") {
          TxLog.read(spark, t).count()
        }
        TxLog.compact(spark, t, targetFiles = 4)
        timed(s"txlog_read after $commits commits + compact") {
          TxLog.read(spark, t).count()
        }
      }
      txProbe(20)
      txProbe(200)
    }

    // txlog FILE-COUNT probe: the 100 TB regime is 10k–100k LIVE files per
    // snapshot (not commit count — the checkpoint already bounds that).
    // Manifest parse is O(files) driver-side metadata (same order as
    // Spark's own directory listing would be); reads hand the manifest's
    // files and partition values to Spark through ManifestFileIndex, so a
    // reader plan is one scan whatever the file count and the partition
    // predicate prunes files before any footer is opened.
    locally {
      import java.nio.file.Paths
      import graft.plans.TxLog
      def fileProbe(tasks: Int): Unit = {
        val t = Paths.get(graft.runtime.TempDirs.create("graft_txfiles")).resolve("t")
        // 7 partition values × `tasks` writer tasks ≈ 7·tasks files
        val df = spark.range(tasks * 70L)
          .select(col("id"), (col("id") % 7).cast("string").as("p"))
          .repartition(tasks)
        TxLog.overwrite(t, df, Seq("p"))
        var n = 0L
        timed(s"txlog_manifest resolve (~${tasks * 7} files)") {
          n = TxLog.snapshot(t).files.size.toLong; n
        }
        timed(s"txlog_read manifest index + partition prune ($n files)") {
          TxLog.read(spark, t).filter(col("p") === "3").count()
        }
        timed(s"txlog_compact ($n files -> 7)") {
          TxLog.compact(spark, t, targetFiles = 7)
        }
        timed(s"txlog_read post-compact") {
          TxLog.read(spark, t).count()
        }
      }
      fileProbe(150)  // ~1k files
      fileProbe(1500) // ~10k files — the per-snapshot count a 100 TB table carries
    }

    spark.stop()
  }
}
