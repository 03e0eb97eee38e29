package graft

import java.util.concurrent.{CountDownLatch, Executors}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.{ArgCode, TextExpressions, TimeFunctions, VectorFunctions}

/** The engine's SQL functions register once per session: a repeated
  * `register` keeps each registry entry as it was, also when registers
  * overlap (builds that run concurrently each register). */
class SessionFunctionsSpec extends SparkSpec {

  private val names = Seq("vec_dot", "millis_to_ts", "millis_to_ts_msk", "word_shingles",
    "simhash64", "lang_id", "fingerprint64", "minhash_sig", "exact_min_by", "exact_max_by")

  private def registerAll(): Unit = {
    VectorFunctions.register(spark)
    TimeFunctions.register(spark)
    TextExpressions.register(spark)
    ArgCode.register(spark)
  }

  private def entries = {
    val reg = spark.sessionState.functionRegistry
    names.map(n => n -> reg.lookupFunctionBuilder(FunctionIdentifier(n))).toMap
  }

  test("a second register leaves every function resolvable and its entry unchanged") {
    registerAll()
    val first = entries
    assert(first.values.forall(_.isDefined), first)
    registerAll()
    val second = entries
    names.foreach(n => assert(second(n).get eq first(n).get, n))
    val r = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  CAST(millis_to_ts(0) AS STRING) AS t,
        |  CAST(millis_to_ts_msk(0) AS STRING) AS msk,
        |  size(word_shingles('a b c', 2)) AS n_sh,
        |  simhash64('a b c') = simhash64('a b c') AS sh,
        |  fingerprint64('x') = fingerprint64('x') AS fp,
        |  size(minhash_sig('abcdef', 3, 4)) AS n_mh,
        |  lang_id('hello world') IS NOT NULL AS lang""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getString(1) == "1970-01-01 00:00:00")
    assert(r.getString(2) == "1970-01-01 03:00:00")
    assert(r.getInt(3) > 0 && r.getInt(6) > 0)
    assert(r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(7))
  }

  test("concurrent registers on a fresh session keep the first entry of every function") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val shared = Seq("exact_min_by", "exact_max_by", "millis_to_ts", "millis_to_ts_msk")
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try for (_ <- 1 to 10) {
      val fresh = spark.newSession()
      val reg = fresh.sessionState.functionRegistry
      def entry(n: String) = {
        val id = FunctionIdentifier(n)
        (reg.lookupFunction(id).get, reg.lookupFunctionBuilder(id).get)
      }
      // each thread reads the entries its own register left; a second
      // registration of a name would replace what an earlier thread saw
      val go = new CountDownLatch(1)
      val seen = Future.sequence((0 until 8).map { i =>
        Future {
          go.await()
          if (i % 2 == 0) { ArgCode.register(fresh); TimeFunctions.register(fresh) }
          else { TimeFunctions.register(fresh); ArgCode.register(fresh) }
          shared.map(entry)
        }
      })
      go.countDown()
      val results = Await.result(seen, 30.seconds)
      val last = shared.map(entry)
      results.foreach(_.zip(last).zip(shared).foreach {
        case (((info, builder), (info0, builder0)), n) =>
          assert((info eq info0) && (builder eq builder0), s"$n registered twice")
      })
      val r = fresh.sql(
        """SELECT exact_min_by(s, o) AS lo, exact_max_by(s, o) AS hi,
          |  CAST(millis_to_ts(0) AS STRING) AS t, CAST(millis_to_ts_msk(0) AS STRING) AS msk
          |FROM VALUES ('a', 1), ('b', 0) AS v(s, o)""".stripMargin).head()
      assert(r.toSeq == Seq("b", "a", "1970-01-01 00:00:00", "1970-01-01 03:00:00"))
    } finally pool.shutdown()
  }
}
