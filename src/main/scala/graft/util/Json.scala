package graft.util

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, BooleanNode, DoubleNode, JsonNodeFactory, LongNode, NullNode, ObjectNode, TextNode}
import scala.jdk.CollectionConverters._

/** Minimal JSON utilities over Jackson (ships in /opt/spark/jars — no new
  * dependency). Used for config parsing and for record-to-map conversion
  * in the HTTP fan-out; row data otherwise stays in Catalyst. */
object Json {
  private def mapper = new ObjectMapper()

  def parse(text: String): JsonNode = mapper.readTree(text)

  /** JsonNode → plain Scala value (String/Long/Double/Boolean/null/
    * Seq/Map), the same scalar universe as the reference's
    * serde_json::Value (SURVEY §1.2). */
  def toScala(node: JsonNode): Any = node match {
    case n if n.isNull => null
    case n if n.isTextual => n.asText()
    case n if n.isIntegralNumber => n.asLong()
    case n if n.isNumber => n.asDouble()
    case n if n.isBoolean => n.asBoolean()
    case a: ArrayNode => a.elements().asScala.map(toScala).toVector
    case o: ObjectNode =>
      o.properties().asScala.map(e => e.getKey -> toScala(e.getValue)).toMap
    case other => other.toString
  }

  /** Plain Scala value (the `toScala` universe) → compact JSON text,
    * formatted exactly as Jackson prints the node it came from. */
  def render(v: Any): String = toNode(v).toString

  private def toNode(v: Any): JsonNode = v match {
    case null => NullNode.instance
    case s: String => TextNode.valueOf(s)
    case l: Long => LongNode.valueOf(l)
    case i: Int => LongNode.valueOf(i.toLong)
    case d: Double => DoubleNode.valueOf(d)
    case b: Boolean => BooleanNode.valueOf(b)
    case m: Map[_, _] =>
      val o = JsonNodeFactory.instance.objectNode()
      m.foreach { case (k, x) => o.set[JsonNode](k.toString, toNode(x)) }
      o
    case xs: Iterable[_] =>
      val a = JsonNodeFactory.instance.arrayNode()
      xs.foreach(x => a.add(toNode(x)))
      a
    case other => TextNode.valueOf(other.toString)
  }

  /** Top-level fields of a JSON object as a Scala map. */
  def objectToMap(text: String): Map[String, Any] =
    toScala(parse(text)) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }

  /** Normalize an HTTP JSON body to one JSON object string per record:
    * array-of-objects → elements; single object → wrapped under
    * "response" (reference: simple_pipeline.rs:49-54). */
  def bodyToRecords(body: String): Seq[String] = {
    val root = parse(body)
    if (root.isArray) root.elements().asScala.map(_.toString).toVector
    else {
      val wrapper = mapper.createObjectNode()
      wrapper.set[ObjectNode]("response", root)
      Vector(wrapper.toString)
    }
  }
}
