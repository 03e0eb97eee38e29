package graft

import org.apache.spark.sql.functions.col
import graft.queries.Scratch
import graft.runtime._

/** [[Scratch.run]] fails a declared query's run on any failed model, in any
  * of its runs, and on any singular test that returns rows. */
class ScratchSpec extends SparkSpec {

  private def ctx(): Ctx = Scratch.ctx(spark, TempDirs.create("graft_scratch_spec"))

  /** Builds fine on the full run and throws on every incremental one. */
  private val failsIncrementally = Model("fails_incrementally", c =>
    if (c.isIncremental) throw new IllegalStateException("incremental build broke")
    else spark.range(0, 3).toDF("id"),
    Materialization.IncrementalAppend())

  test("a model that fails only on its incremental run fails runs = 2, naming it") {
    assert(Scratch.run(ctx(), Seq(failsIncrementally)).ref("fails_incrementally").count() == 3)
    val e = intercept[RuntimeException](Scratch.run(ctx(), Seq(failsIncrementally), runs = 2))
    assert(e.getMessage.contains("fails_incrementally"), e.getMessage)
    assert(e.getMessage.contains("incremental build broke"), e.getMessage)
  }

  test("a singular test that returns rows fails the run") {
    val model = Model("dup_ids", _ => spark.range(0, 4).select((col("id") % 2).as("id")))
    val c = Scratch.run(ctx(), Seq(model), tests = Seq(GenericTests.notNull("dup_ids", "id")))
    assert(c.ref("dup_ids").count() == 4)
    val e = intercept[RuntimeException](
      Scratch.run(ctx(), Seq(model), tests = Seq(GenericTests.unique("dup_ids", "id"))))
    assert(e.getMessage.contains("dup_ids_id_unique"), e.getMessage)
  }
}
