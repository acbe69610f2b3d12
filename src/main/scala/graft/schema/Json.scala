package graft.schema

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator, JsonParser, JsonToken}
import java.io.StringWriter
import scala.collection.immutable.VectorBuilder

/** Minimal order-preserving JSON ADT used for schema definitions, defaults
  * and canonical-form export. Backed by Jackson streaming (ships with Spark)
  * so we add no dependencies. Object key order is preserved — required for
  * Avro Parsing Canonical Form (reference: fingerprint.lua:36–54).
  */
sealed trait JValue {
  def render: String = Json.write(this)
}
case object JNull extends JValue
final case class JBool(value: Boolean) extends JValue
final case class JLong(value: Long) extends JValue
final case class JDouble(value: Double) extends JValue
final case class JString(value: String) extends JValue
final case class JArray(items: Vector[JValue]) extends JValue
final case class JObject(fields: Vector[(String, JValue)]) extends JValue {
  lazy val asMap: Map[String, JValue] = fields.toMap
  def get(key: String): Option[JValue] = asMap.get(key)
}

object Json {
  private val factory = new JsonFactory()

  def parse(s: String): JValue = {
    val p = factory.createParser(s)
    try {
      p.nextToken()
      val v = read(p)
      v
    } finally p.close()
  }

  private def read(p: JsonParser): JValue = p.currentToken() match {
    case JsonToken.VALUE_NULL => JNull
    case JsonToken.VALUE_TRUE => JBool(true)
    case JsonToken.VALUE_FALSE => JBool(false)
    case JsonToken.VALUE_NUMBER_INT => JLong(p.getLongValue)
    case JsonToken.VALUE_NUMBER_FLOAT => JDouble(p.getDoubleValue)
    case JsonToken.VALUE_STRING => JString(p.getText)
    case JsonToken.START_ARRAY =>
      val b = new VectorBuilder[JValue]
      while (p.nextToken() != JsonToken.END_ARRAY) b += read(p)
      JArray(b.result())
    case JsonToken.START_OBJECT =>
      val b = new VectorBuilder[(String, JValue)]
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val k = p.currentName()
        p.nextToken()
        b += (k -> read(p))
      }
      JObject(b.result())
    case t => throw new IllegalArgumentException(s"Unexpected JSON token: $t")
  }

  /** `canonical = false` keeps a whole double's fraction (`1.0`), so a
    * reader that types numbers by their text (Spark's JSON inference)
    * reads a double back.
    */
  def write(v: JValue, canonical: Boolean = true): String = {
    val sw = new StringWriter()
    val g = factory.createGenerator(sw)
    writeTo(g, v, canonical)
    g.close()
    sw.toString
  }

  private def writeTo(g: JsonGenerator, v: JValue,
      canonical: Boolean): Unit = v match {
    case JNull => g.writeNull()
    case JBool(b) => g.writeBoolean(b)
    case JLong(n) => g.writeNumber(n)
    case JDouble(d) =>
      // Canonical form: integral doubles print as integers (matches the
      // reference's Lua number rendering for canonical JSON).
      if (canonical && d.isWhole && math.abs(d) < 1e15)
        g.writeNumber(d.toLong)
      else g.writeNumber(d)
    case JString(s) => g.writeString(s)
    case JArray(items) =>
      g.writeStartArray(); items.foreach(writeTo(g, _, canonical))
      g.writeEndArray()
    case JObject(fields) =>
      g.writeStartObject()
      fields.foreach { case (k, fv) =>
        g.writeFieldName(k); writeTo(g, fv, canonical) }
      g.writeEndObject()
  }
}
