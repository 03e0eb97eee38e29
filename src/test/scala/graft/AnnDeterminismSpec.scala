package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Determinism pins for the three stochastic-ANN queries (q33/q39/q56).
  * Since r15 these ARE oracle-gated (staged signatures/centroids/buckets
  * replayed in DuckDB); the pins remain to cover the one surface the
  * staging oracles cannot — the hash/projection/training kernels that
  * PRODUCE the staged values. That logic is seeded, so on FIXED input
  * (sf0.01) the output is a fixed row set: pinning
  * a content hash makes any silent change to shingling, banding, hyperplane
  * generation, k-means seeding, or probe selection fail loudly, alongside
  * the existing dual-formulation + ground-truth recall gates (which bound
  * quality but would not notice a quality-neutral logic change).
  *
  * The hash is order-insensitive (rows sorted) and float-robust (doubles
  * rounded to 1e-6 before formatting), so executor count / partition order
  * cannot flip it — only a real output change can. If a pin fails after an
  * INTENTIONAL algorithm change, re-pin from the printed actual value.
  */
class AnnDeterminismSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  private def contentHash(df: DataFrame): (String, Long) = {
    val schema = df.schema
    val cols = df.columns.sorted
    val idx = cols.map(schema.fieldIndex)
    val rows = df.collect().map { r =>
      idx.map { i =>
        schema(i).dataType match {
          case DoubleType | FloatType =>
            if (r.isNullAt(i)) "null"
            else BigDecimal(r.get(i).toString).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
          case _ => String.valueOf(r.get(i))
        }
      }.mkString("\u0001") // \u0001 separator: adjacent-field aliasing
                           // ("ab","c" vs "a","bc") must hash differently
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    (md.digest().map("%02x".format(_)).mkString.take(16), rows.length.toLong)
  }

  private def pin(name: String, expectedHash: String, expectedRows: Long): Unit = {
    val (h, n) = contentHash(SparkEntry.queries(name)(spark, sfDir))
    assert((h, n) == ((expectedHash, expectedRows)),
      s"$name content drifted: got hash=$h rows=$n, pinned ($expectedHash, $expectedRows) — " +
        "if the algorithm change was intentional, re-pin from this value")
  }

  test("q33 minhash+LSH output is hash-pinned at sf0.01") {
    pin("q33_minhash_lsh", "0d6080cde64ef5e3", 25L)
  }

  test("q39 IVF ANN output is hash-pinned at sf0.01") {
    pin("q39_ann_ivf", "c9774d906348edfc", 50L)
  }

  test("q56 sign-bucket LSH near-dup output is hash-pinned at sf0.01") {
    pin("q56_ann_lsh_neardup", "2bb14378150f6818", 202L)
  }
}
