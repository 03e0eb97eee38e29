package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import graft.runtime.{Ctx, OnSchemaChange, Scd2, Scd2Strategy, SourceRegistry, TempDirs, Warehouse}

/** An incremental write into an existing table skips an increment whose
  * optimized plan is provably empty, on both table formats: no job, no file,
  * no log commit, no mutation. A 0-row increment that cannot be proven empty
  * and every full replace still write. */
class EmptyIncrementSpec extends SparkSpec {
  import spark.implicits._

  /** A source of keys 1..6 over partitions p0/p1, a warehouse holding it as
    * table `t` in `format` with docs, and a view over `t` counting its
    * derivations. */
  private final class Fixture(format: String) {
    private val dir = TempDirs.create("graft_empty_src")
    (1 to 6).map(k => (k, s"v$k", s"p${k % 2}")).toDF("k", "v", "p").write.parquet(s"$dir/src.parquet")
    val src: DataFrame = Tables(spark, dir, "src")
    val root: String = TempDirs.create("graft_empty_wh")
    val wh = new Warehouse(spark, root, logFormatEnabled = true)
    var derivations = 0
    def create(name: String, df: DataFrame, partitionBy: Seq[String]): Unit = {
      wh.routeFormat(name, format)
      wh.createTable(name, df, partitionBy)
    }
    create("t", src, Seq("p"))
    wh.setDocs("t", "table", Map("k" -> "key"))
    wh.registerView("over_t", () => { derivations += 1; wh.read("t") })

    /** Every file under the warehouse root: size, modification time and
      * content hash. */
    def files(): Map[Path, (Long, Long, Int)] = {
      val w = Files.walk(Paths.get(root))
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(f => f ->
        ((Files.size(f), Files.getLastModifiedTime(f).toMillis,
          java.util.Arrays.hashCode(Files.readAllBytes(f))))).toMap
      finally w.close()
    }
    def rows(name: String = "t"): Seq[String] =
      wh.read(name).collect().map(_.toString).sorted.toSeq
    def rederives(): Boolean = {
      val before = derivations
      wh.read("over_t")
      derivations > before
    }
    def ctx: Ctx = Ctx(spark, wh, SourceRegistry.overDir(spark, dir),
      Map("start_date_ymd" -> "2001-06-01"))
  }

  private val formats = Seq("parquet", "delta")
  private val writes: Seq[(String, (Warehouse, DataFrame, OnSchemaChange) => Unit)] = Seq(
    "insert_overwrite" -> ((wh, df, o) => wh.insertOverwritePartitions("t", df, Seq("p"), o)),
    "append" -> ((wh, df, _) => wh.append("t", df, Seq("p"))),
    "merge" -> ((wh, df, o) => wh.mergeUpsert("t", df, Seq("k"), Seq("p"), o)))

  for (format <- formats; (kind, write) <- writes) {
    test(s"$format $kind: a provably empty increment starts no job and changes no file") {
      val f = new Fixture(format)
      val (files, rows) = (f.files(), f.rows())
      f.rederives()
      assert(jobsStartedBy(write(f.wh, f.src.filter($"k" > 100), OnSchemaChange.Ignore)) == 0)
      assert(f.files() == files)
      assert(!f.rederives(), "the mutation epoch did not move")
      assert(f.rows() == rows)
    }

    test(s"$format $kind: a 0-row increment that cannot be proven empty still writes") {
      val f = new Fixture(format)
      val rows = f.rows()
      val increment = f.src.filter($"v" > "zzz")
      assert(increment.isEmpty)
      f.rederives()
      assert(jobsStartedBy(write(f.wh, increment, OnSchemaChange.Ignore)) > 0)
      assert(f.rederives(), "the mutation epoch moved")
      assert(f.rows() == rows)
    }
  }

  for (format <- formats; (kind, write) <- writes if kind != "append") {
    test(s"$format $kind: append_new_columns adds the column to the sidecar on a provably empty increment") {
      val f = new Fixture(format)
      val data = f.files().filter { case (p, _) => p.getFileName.toString != "_schema.json" }
      f.rederives()
      assert(jobsStartedBy(write(f.wh, f.src.filter($"k" > 100).withColumn("extra", lit(1)),
        OnSchemaChange.AppendNewColumns)) == 0)
      assert(f.wh.canonicalSchema("t").get.fieldNames.toSeq == Seq("k", "v", "p", "extra"))
      assert(f.files().filter { case (p, _) => p.getFileName.toString != "_schema.json" } == data)
      assert(f.rederives(), "a changed sidecar moves the mutation epoch")
      assert(f.wh.read("t").filter(col("extra").isNotNull).isEmpty)
      assert(f.wh.read("t").count() == 6)
    }
  }

  for (format <- formats) {
    test(s"$format: a full replace, an unpartitioned insert_overwrite and a snapshot still write a 0-row input") {
      val f = new Fixture(format)
      val empty = f.src.filter($"k" > 100)
      f.create("t", empty, Seq("p"))
      assert(f.rows().isEmpty)

      f.create("u", f.src, Nil)
      f.wh.insertOverwritePartitions("u", empty, Nil, OnSchemaChange.Ignore)
      assert(f.rows("u").isEmpty)

      f.wh.routeFormat("s", format)
      val strategy = Scd2Strategy.Check(Nil)
      Scd2.snapshot(f.ctx, "s", f.src, "k", strategy, invalidateHardDeletes = true,
        Timestamp.valueOf("2001-06-01 00:00:00"))
      Scd2.snapshot(f.ctx, "s", empty, "k", strategy, invalidateHardDeletes = true,
        Timestamp.valueOf("2001-06-02 00:00:00"))
      val s = f.wh.read("s")
      assert(s.count() == 6 && s.filter(col("dbt_valid_to").isNull).isEmpty)
    }
  }
}
