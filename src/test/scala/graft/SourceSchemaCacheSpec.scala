package graft

import scala.util.Try

import org.apache.spark.sql.{AnalysisException, DataFrame}

/** [[Tables.readParquet]]: a source's schema is inferred once per
  * unchanged file set, and a changed file set or inference setting is
  * never served the old schema. */
class SourceSchemaCacheSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = runtime.TempDirs.create("graft_schema_cache")

  test("a second read of an unchanged source starts no Spark job") {
    val dir = tmpDir()
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/orders.parquet")
    assert(jobsStartedBy(Tables(spark, dir, "orders")) > 0, "the first read infers")
    var again: DataFrame = null
    assert(jobsStartedBy { again = Tables(spark, dir, "orders") } == 0)
    assert(again.as[(Int, String)].collect().sorted.toSeq == Seq((1, "a"), (2, "b")))
  }

  test("a file landing in a source directory re-infers and is read") {
    val dir = tmpDir()
    val path = s"$dir/orders.parquet"
    Seq((1, "a")).toDF("k", "v").write.parquet(path)
    Tables(spark, dir, "orders")
    assert(jobsStartedBy(Tables(spark, dir, "orders")) == 0)
    Seq((2, "b")).toDF("k", "v").write.mode("append").parquet(path)
    var df: DataFrame = null
    assert(jobsStartedBy { df = Tables(spark, dir, "orders") } > 0, "a new file re-infers")
    assert(df.as[(Int, String)].collect().sorted.toSeq == Seq((1, "a"), (2, "b")))
  }

  test("a rewritten source with an added column is read with the new column") {
    val dir = tmpDir()
    val path = s"$dir/orders.parquet"
    Seq((1, "a")).toDF("k", "v").write.parquet(path)
    assert(Tables(spark, dir, "orders").columns.toSeq == Seq("k", "v"))
    Seq((2, "b", 3.5)).toDF("k", "v", "extra").write.mode("overwrite").parquet(path)
    val df = Tables(spark, dir, "orders")
    assert(df.columns.toSeq == Seq("k", "v", "extra"))
    assert(df.as[(Int, String, Double)].collect().toSeq == Seq((2, "b", 3.5)))
  }

  test("flipping nanosAsLong re-resolves events.ts exactly as an uncached read") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nanos = 1700000000123456789L
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", nanos))
    finally writer.close()

    def outcome(df: => DataFrame): Either[String, (String, Seq[String])] =
      Try(df).map(d => (d.schema.simpleString, d.collect().map(_.toString).toSeq))
        .toEither.left.map(_.getMessage)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      val seen = Seq("true", "false", "true").map { v =>
        spark.conf.set(key, v)
        val cached = outcome(Tables(spark, dir, "events"))
        assert(cached == outcome(
          Tables.normalizeEvents(spark.read.parquet(s"$dir/events.parquet"))), s"nanosAsLong=$v")
        cached
      }
      assert(seen(0) == seen(2) && seen(0) != seen(1))
      spark.conf.set(key, "true")
      val r = Tables(spark, dir, "events").select("ts_ns").as[Long].head()
      assert(r == nanos)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a missing source fails with Spark's PATH_NOT_FOUND error") {
    val dir = s"${tmpDir()}/absent"
    val expected = intercept[AnalysisException](spark.read.parquet(s"$dir/orders.parquet"))
    val actual = intercept[AnalysisException](Tables(spark, dir, "orders"))
    assert(actual.getCondition == "PATH_NOT_FOUND")
    assert(actual.getMessage == expected.getMessage)
  }

  test("repeated rewrites keep one cache entry per path") {
    val dir = tmpDir()
    val path = s"$dir/orders.parquet"
    val before = Tables.schemaCacheSize
    (1 to 4).foreach { i =>
      (1 to i).map(k => (k, s"v$k")).toDF("k", "v")
        .withColumn(s"c$i", org.apache.spark.sql.functions.lit(i))
        .write.mode("overwrite").parquet(path)
      assert(Tables(spark, dir, "orders").columns.last == s"c$i")
    }
    assert(Tables.schemaCacheSize == before + 1)
  }

  private def relationOf(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
    case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
  }.get

  test("a hit reuses the held relation under a new LogicalRelation and starts no job") {
    val dir = tmpDir()
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/orders.parquet")
    val first = relationOf(Tables(spark, dir, "orders"))
    var again: DataFrame = null
    assert(jobsStartedBy { again = Tables(spark, dir, "orders") } == 0)
    val second = relationOf(again)
    assert(second.relation eq first.relation)
    assert(second ne first)
    assert(second.output.map(_.exprId).intersect(first.output.map(_.exprId)).isEmpty)
    assert(again.as[(Int, String)].collect().sorted.toSeq == Seq((1, "a"), (2, "b")))
  }

  test("a self-join of one source in one query returns the right rows") {
    val dir = tmpDir()
    Seq((1, 2), (2, 3), (3, 1)).toDF("k", "next").write.parquet(s"$dir/orders.parquet")
    Tables(spark, dir, "orders")
    val a = Tables(spark, dir, "orders")
    val b = Tables(spark, dir, "orders")
    assert(relationOf(a).relation eq relationOf(b).relation)
    val joined = a.as("a").join(b.as("b"), $"a.next" === $"b.k")
      .select($"a.k", $"b.next").as[(Int, Int)].collect().sorted.toSeq
    assert(joined == Seq((1, 3), (2, 1), (3, 2)))
    a.createOrReplaceTempView("self_join_src")
    assert(spark.sql("SELECT x.k, y.next FROM self_join_src x JOIN self_join_src y ON x.next = y.k")
      .as[(Int, Int)].collect().sorted.toSeq == joined)
  }

  test("a new session with a flipped inference setting never gets the other session's relation") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // written without Spark's schema metadata, so the setting decides the type
    val dir = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      "message orders { required int64 k; required int64 ts (TIMESTAMP(MICROS,false)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/orders.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("k", 1L).append("ts", 978404640000000L))
    finally writer.close()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val mine = Tables(spark, dir, "orders")
    val other = spark.newSession()
    other.conf.set(key, (!other.conf.get(key).toBoolean).toString)
    val theirs = Tables(other, dir, "orders")
    assert(relationOf(theirs).relation ne relationOf(mine).relation)
    assert(theirs.schema("ts").dataType != mine.schema("ts").dataType)
    assert(theirs.schema == other.read.parquet(s"$dir/orders.parquet").schema)
    assert(relationOf(Tables(spark, dir, "orders")).relation eq relationOf(mine).relation)
  }
}
