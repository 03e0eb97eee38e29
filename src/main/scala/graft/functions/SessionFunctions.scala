package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder

/** Registers the engine's SQL functions once per session. A name the
  * session's registry already holds is skipped, so a repeated `register`
  * (e.g. on every `DagRunner.run`) neither replaces the entry nor logs
  * "replaced a previously registered function". The check and the
  * registration hold the registry's own lock, so builds that overlap
  * register each function once. */
private[functions] object SessionFunctions {
  def registerOnce(spark: SparkSession, fns: (String, FunctionBuilder)*): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.synchronized(fns.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    })
  }
}
