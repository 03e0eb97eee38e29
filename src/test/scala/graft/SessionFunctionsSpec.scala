package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.{ArgCode, TextExpressions, TimeFunctions, VectorFunctions}

/** The engine's SQL functions register once per session: a repeated
  * `register` keeps each registry entry as it was. */
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
}
