package graft
import java.nio.file.{Files, Path, Paths}
import org.json4s.{JObject, JString}
import graft.runtime.{Json, TempDirs}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // extra args = run only these queries (local iteration; driver passes 2)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the same execution configuration the bench times
    val spark = graft.runtime.Dialect.local(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def rmDir(d: Path): Unit = if (Files.exists(d)) TempDirs.deleteTree(d)
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // delete any stale output so a failed query can't pass on old files
        rmDir(Paths.get(s"$outDir/$name"))
        System.err.println(s"[verify] $name failed: $e")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[verify]   at $f"))
      }
    }
    // dual-formulation gate for the no-oracle sketch queries: recompute each
    // through its composable formulation, persist it for the driver, and on
    // ANY divergence delete the primary output so the driver's check fails —
    // these queries are machine-checkable even without a DuckDB oracle.
    AltFormulations.alt.filter(q => selected(q._1)).foreach { case (name, fn) =>
      val primaryDir = s"$outDir/$name"
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${name}__alt")
        if (Files.exists(Paths.get(primaryDir))) {
          val a = spark.read.parquet(primaryDir)
          val b = spark.read.parquet(s"$outDir/${name}__alt")
          val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
          if (diff != 0) {
            System.err.println(s"[verify] $name DUAL-FORMULATION MISMATCH ($diff rows differ) — failing query")
            rmDir(Paths.get(primaryDir))
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name alt formulation failed: $e — failing query")
        rmDir(Paths.get(primaryDir))
      }
    }

    // the `__alt` dual-formulation outputs get the PRIMARY query's genuine
    // DuckDB oracle (not a read-back of our own primary parquet): Verify has
    // already enforced alt == primary in-JVM (exceptAll, primary deleted on
    // any divergence), and the driver then independently recomputes the
    // oracle against the alt output too — so the alt rows stay verified even
    // if a future alt's primary were somehow mis-staged. Enforced: every alt
    // key MUST have a genuine oracle; a new alt without one fails loudly
    // here instead of silently emitting a circular self-read oracle.
    val altOracles: Map[String, String] =
      AltFormulations.alt.keys.filter(selected).map { name =>
        val genuine = SparkEntry.oracleSql.getOrElse(name,
          sys.error(s"AltFormulations key '$name' has no genuine " +
            "SparkEntry.oracleSql entry — alt rows must not be circular"))
        s"${name}__alt" -> genuine
      }.toMap
    // subset runs (`only` non-empty) emit oracle SQL ONLY for the selected
    // queries: unselected q33/q34/q39/q56 entries would otherwise point the
    // driver at a default-sf stage path never written this JVM while their
    // parquet outputs from a prior full run still exist
    val json = (SparkEntry.oracleSql.filter(q => selected(q._1)) ++ altOracles).toList
      .map { case (k, v) => k -> JString(v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(JObject(json)))
    spark.stop()
  }
}
