package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.NorthStarQueries

/** Machine-checks the float-margin assumption q39's DuckDB oracle rests on.
  *
  * The oracle (NorthStarQueries.q39Oracle) re-derives nearest-cell
  * assignment, 2-probe selection, and the top-k rank in DuckDB from
  * `list_cosine_similarity`, while Spark computes the same cosines through
  * VecDot's left-to-right double folds. Two engines summing 64 doubles in
  * different orders agree to ~1e-13 relative — so the hash-exact gate is
  * sound ONLY if every assignment/probe/rank decision boundary has a gap
  * far above that noise. This spec measures those gaps on the actual sf0.01
  * data and FAILS if any ever drops below 1e-9 (≫ cross-engine float noise,
  * ≪ any real data gap), i.e. if a future testdata regeneration ever puts
  * two centroids or neighbors within flaking distance of a tie.
  *
  * Also pins the ROUND(cos, 6) output agreement: a cosine sitting exactly on
  * a x.xxxxxx5 rounding boundary could round differently across engines, so
  * the distance of every emitted cosine to the nearest boundary is asserted
  * > 1e-9 as well.
  */
class AnnMarginSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  // definitional cosine via built-in HOFs — an independent formulation is
  // fine for MEASURING margins (it agrees with VecDot to ~1e-13, and the
  // asserted floor is 1e-9)
  private def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (s, v) => s + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  private lazy val emb: DataFrame =
    Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  // the exact centroid set q39 USES: read from the stage q39AnnIvf writes
  // (regenerated here with q39's own code path, so a future parameter
  // change in q39AnnIvf can never leave this spec measuring stale geometry
  // while the oracle uses the new one)
  private lazy val cents: DataFrame = {
    NorthStarQueries.q39AnnIvf(spark, sfDir) // writes q39Stage.path(sfDir)
    spark.read.parquet(NorthStarQueries.q39Stage.path(sfDir))
      .select(col("vec_id").as("cent_id"), col("embedding").cast("array<double>").as("cv"))
  }

  /** per-id centroid sims ranked (cos DESC, cent_id) — the oracle's order */
  private def ranked(vecs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cent_id"))
    vecs.crossJoin(cents)
      .select(col("vec_id"), col("cent_id"), cosine(col("v"), col("cv")).as("cos"))
      .withColumn("rn", row_number().over(w))
  }

  private def minGap(df: DataFrame, loRank: Int): Double = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("rn"))
    df.filter(col("rn") <= loRank + 1)
      .withColumn("nxt", lead(col("cos"), 1).over(w))
      .filter(col("rn") === loRank && col("nxt").isNotNull)
      .agg(min(col("cos") - col("nxt"))).head().getDouble(0)
  }

  test("q39 corpus nearest-cell assignment margin is far above float noise") {
    val g = minGap(ranked(emb), 1)
    assert(g > 1e-9, s"rank1→rank2 centroid gap $g too small: the DuckDB " +
      "oracle's re-derived assignment could flake — stage corp_assign instead")
  }

  test("q39 query 2-probe selection margin is far above float noise") {
    val g = minGap(ranked(emb.filter(col("vec_id") < 10)), 2)
    assert(g > 1e-9, s"rank2→rank3 probe gap $g too small: the DuckDB " +
      "oracle's re-derived probe set could flake — stage q_assign instead")
  }

  test("q39 top-k rank boundary and ROUND(,6) boundaries have margin") {
    // replicate the scored set (probe-2 cells, max-cos dedup), unrounded
    val corpCell = ranked(emb).filter(col("rn") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cent_id"))
      .join(emb.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("v", "cv"),
        Seq("neighbor_id"))
    val qCell = ranked(emb.filter(col("vec_id") < 10)).filter(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("cent_id"))
      .join(emb.withColumnRenamed("vec_id", "query_id").withColumnRenamed("v", "qv"),
        Seq("query_id"))
    val scored = qCell.join(corpCell, Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(cosine(col("qv"), col("cv"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val top = scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 6)

    val wq = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val gap = top.withColumn("nxt", lead(col("cos"), 1).over(wq))
      .filter(col("rank") === 5 && col("nxt").isNotNull)
      .agg(min(col("cos") - col("nxt"))).head().getDouble(0)
    assert(gap > 1e-9, s"rank5→rank6 cos gap $gap too small: top-k rank " +
      "could flake across engines")

    // ROUND(cos, 6): distance (in cos units) to the nearest .5e-6 boundary
    val boundaryDist = top.filter(col("rank") <= 5)
      .select(abs(col("cos") * 1e6 - floor(col("cos") * 1e6) - 0.5).as("d"))
      .agg(min(col("d") / 1e6)).head().getDouble(0)
    assert(boundaryDist > 1e-9, s"an emitted cosine sits $boundaryDist from " +
      "a ROUND(,6) half-way boundary: cross-engine rounding could disagree")
  }
}
