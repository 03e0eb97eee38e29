package graft
import org.apache.spark.sql.DataFrame

/** Benchmark main: one JSON line with per-query seconds at SPARK_GRAFT_SF_DIR.
  *
  * Timing discipline (round-2 verdict "What's wrong #1"): each query is run
  * once to warm (codegen caches, parquet footers, JIT), then timed 3× and the
  * MEDIAN reported. Materialization is a `noop`-sink write, which fully
  * evaluates every output column — a single cold `.count()` both undercounts
  * projection-only queries (Catalyst prunes unreferenced columns beneath a
  * count) and is far too noisy to adjudicate round-over-round deltas.
  */
object Bench {

  /** Fully materialize all output columns without collecting to the driver. */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    // q34's oracle stage is keyed by data dir, so a bench run at sf0.1 can
    // never clobber a verify run's sf0.01 stage — no skip plumbing needed
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.runtime.Dialect.local(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())
    // optional comma-separated name filter (also accepts main args) for
    // profiling individual queries without a full 79-query sweep
    val only: Set[String] =
      (args.toSeq ++ sys.env.get("SPARK_GRAFT_BENCH_ONLY").toSeq.flatMap(_.split(',')))
        .map(_.trim).filter(_.nonEmpty).toSet
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    def sweep(): Seq[(String, Double)] = selected.map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        materialize(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val sec =
        try {
          once() // warm-up run, untimed
          Seq(once(), once(), once()).sorted.apply(1)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e")
            -1.0 // explicit failure marker — never a silent fast timing
        }
      name -> sec
    }
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // A/B protocol (round-10 verdict): the full sweep runs TWICE
    // back-to-back and the artifact records both, plus the box's load
    // average around each — one contended run can no longer masquerade as a
    // regression (r10's driver artifact was 3.1× the same-code committed
    // run). Headline `value` = run A; `value_b`/`queries_b` adjudicate.
    val loadBefore = loadAvg()
    val results = sweep()
    val loadMid = loadAvg()
    val resultsB = if (only.nonEmpty) Nil else sweep()
    val loadAfter = loadAvg()
    def qjson(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = qjson(results)
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalB = resultsB.map(_._2).filter(_ >= 0).sum
    val failed = (results ++ resultsB).count(_._2 < 0)
    if (failed > 0) System.err.println(s"[bench] $failed query runs FAILED")
    val bPart = if (resultsB.nonEmpty)
      s""","value_b":$totalB,"queries_b":${qjson(resultsB)}""" else ""
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$bPart,""" +
      s""""load":[$loadBefore,$loadMid,$loadAfter],"cpus":"$cpus","sf":"$sfDir"}"""
    println(json)
    // the driver captures only the stdout TAIL (2,000 chars), which truncates
    // this line's head and has made per-query timings unreadable in every
    // round's BENCH artifact — persist the full JSON where it can be read
    // (path overridable; defaults to the working directory, not a hardcoded
    // absolute repo path)
    if (only.nonEmpty) { spark.stop(); return } // partial run: don't clobber BENCH_LAST
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json"))
        .toAbsolutePath, json + "\n")
    catch { case scala.util.control.NonFatal(_) => () } // stdout already has it
    spark.stop()
  }
}
