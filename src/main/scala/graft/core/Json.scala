package graft.core

import com.fasterxml.jackson.databind.ObjectMapper

/** The one JSON codec of the engine's machine-read artifacts: snapshot
  * manifests ([[TableIO]]), the bench's error map and the verify dump.
  * Jackson escapes every key and value, so a name holding `"`, `\` or a
  * control character still yields valid JSON. */
object Json {

  val mapper = new ObjectMapper()

  /** A flat object of string values, keys in iteration order. */
  def obj(kvs: Iterable[(String, String)]): String = {
    val node = mapper.createObjectNode()
    kvs.foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }
}
