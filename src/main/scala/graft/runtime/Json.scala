package graft.runtime

import com.fasterxml.jackson.core.json.JsonReadFeature
import org.json4s.JValue
import org.json4s.jackson.JsonMethods

/** The engine's JSON codec for the metadata it writes itself: the
  * transaction log's actions ([[graft.plans.TxLog]]) and the docs sidecar
  * ([[Warehouse.setDocs]]). json4s values over the Jackson Spark ships, on a
  * private copy of json4s' mapper; output is compact. Reading accepts raw
  * control characters inside strings, which older docs sidecars hold
  * unescaped. */
object Json {
  private val mapper = JsonMethods.mapper.copy()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS.mappedFeature())

  def write(v: JValue): String = mapper.writeValueAsString(v)

  def read(s: String): JValue = mapper.readValue(s, classOf[JValue])
}
