package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import scala.jdk.CollectionConverters._

/** The benchmark's own JSON files, read and written with Jackson (shipped
  * with Spark).
  */
object Json {
  private val mapper = new ObjectMapper()

  /** `s` as a quoted, escaped JSON string. */
  def str(s: String): String = mapper.writeValueAsString(s)

  def obj(): ObjectNode = mapper.createObjectNode()
  def arr(): ArrayNode = mapper.createArrayNode()

  /** Adds `d` to `o` with every digit; NaN and infinities become null. */
  def putNum(o: ObjectNode, k: String, d: Double): ObjectNode =
    if (d.isNaN || d.isInfinite) o.putNull(k) else o.put(k, d)

  def write(node: JsonNode): String = mapper.writeValueAsString(node)

  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)

  def strings(node: JsonNode): Seq[String] = node.elements().asScala.map(_.asText).toSeq

  def fields(node: JsonNode): Seq[(String, JsonNode)] =
    node.properties().asScala.map(e => e.getKey -> e.getValue).toSeq
}
