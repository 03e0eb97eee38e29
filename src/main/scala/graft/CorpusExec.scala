package graft

import java.nio.file.Paths

/** Corpus-wide EXECUTE phase runner: materialize every reference model +
  * snapshot against negotiated synthetic sources (see
  * [[graft.runtime.CorpusExecute]]) and print the per-status report —
  * the artifact behind CORPUS.md's `executed` counts. */
object CorpusExec {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.runtime.Dialect.local(cpus.toInt)
      .config("spark.sql.shuffle.partitions", "4") // 0-row plans: scheduling floor dominates
      // negotiation drops+rewrites the same table paths hundreds of times;
      // Spark's shared FileStatusCache has no TTL by default and
      // refreshByPath does not purge it — a stale listing makes readers
      // chase deleted part files (FAILED_READ_FILE)
      .config("spark.sql.metadataCacheTTLSeconds", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val only = if (args.isEmpty) None else Some(args.toSet)
    // GRAFT_CORPUS_DIR: run against a corpus COPY — the changed-only dev-loop
    // measurement edits one model file and reruns, which the read-only
    // reference checkout cannot host (the incremental warm-start cache is
    // keyed by corpus location, so a copy gets its own cache lineage)
    val base = sys.env.getOrElse("GRAFT_CORPUS_DIR", "/root/reference")
    // GRAFT_CORPUS_WAREHOUSE: persistent warehouse root — tables survive the
    // JVM so a later changed-only run can reuse them.
    // GRAFT_CHANGED_ONLY=1: execute only changed nodes + their transitive
    // children (run.sh --changed-only semantics); everything else is reused
    // from the persistent warehouse. Needs BOTH flags + a prior full run.
    val report = graft.runtime.CorpusExecute.run(spark,
      Paths.get(s"$base/models"), Paths.get(s"$base/macros"),
      Paths.get(s"$base/snapshots"), Paths.get(s"$base/seeds"),
      only = only,
      changedOnly = sys.env.get("GRAFT_CHANGED_ONLY").contains("1"),
      warehouseDir = sys.env.get("GRAFT_CORPUS_WAREHOUSE").map(Paths.get(_)))
    println(report.describe)
    println(f"wall: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    // persist the full report (all items incl. executed) for offline analysis;
    // subset (arg-filtered) runs write to a side file so a debugging rerun
    // never clobbers the full-corpus artifact CORPUS.md cites
    val lines = report.items.map(i =>
      f"${i.status}%s\t${i.name}%s\t${i.kind}%s\t${i.iterations}%d\t${i.detail}%s\t${i.secs}%.1f")
    val suffix = (if (only.isDefined) "_subset" else "") +
      (if (sys.env.get("GRAFT_CHANGED_ONLY").contains("1")) "_changedonly" else "")
    val out = s"target/corpus_exec_report$suffix.tsv"
    java.nio.file.Files.writeString(Paths.get(out), lines.mkString("\n") + "\n")
    spark.stop()
  }
}
