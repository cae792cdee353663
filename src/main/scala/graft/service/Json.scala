package graft.service

import java.sql.Timestamp

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonParser,
  JsonProcessingException, JsonToken, StreamReadConstraints}

/** Pre-serialized JSON embedded verbatim (e.g. rows from
  * `Dataset.toJSON`) — never re-escaped. */
private[graft] final case class RawJson(json: String)

/** The one JSON writer: HTTP and MCP payloads and every bench and
  * correctness artifact. Values are plain JVM types; NaN/Infinity render
  * as null like FastAPI's `value != value` guard (api/main.py:325). */
private[graft] object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case r: RawJson => r.json
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.lang.Number => n.toString
    case t: Timestamp => quote(t.toString)
    case d: java.sql.Date => quote(d.toString)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(String.valueOf(k)) + ":" + render(x) }
        .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case arr: Array[_] => arr.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** The one JSON reader (HTTP bodies, MCP messages), on the Jackson
  * streaming parser that ships with Spark. Produces plain Scala values:
  * an insertion-ordered `ListMap[String, Any]` per object, `List[Any]`
  * per array, `String`, `java.lang.Boolean`, `java.lang.Long` for
  * integers in Long range and `Double` for every other number, `null`.
  * Any malformed input — trailing data included — is an
  * IllegalArgumentException, without Jackson's location text. */
private[service] object JsonParse {

  /** Nesting bound: deeper input is rejected before it can cost stack.
    * 64 is far beyond any real request or JSON-RPC message. */
  private val MaxDepth = 64

  private val factory = new JsonFactoryBuilder()
    .streamReadConstraints(
      StreamReadConstraints.builder().maxNestingDepth(MaxDepth).build())
    .build()

  def parse(s: String): Any = {
    val p = factory.createParser(s)
    try {
      val v = value(p, p.nextToken())
      require(p.nextToken() == null, "trailing data after the JSON value")
      v
    } catch {
      case e: JsonProcessingException =>
        throw new IllegalArgumentException(e.getOriginalMessage)
    } finally p.close()
  }

  private def value(p: JsonParser, t: JsonToken): Any = t match {
    case JsonToken.START_OBJECT =>
      val b = ListMap.newBuilder[String, Any]
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val k = p.currentName()
        b += (k -> value(p, p.nextToken()))
      }
      b.result()
    case JsonToken.START_ARRAY =>
      val b = List.newBuilder[Any]
      var next = p.nextToken()
      while (next != JsonToken.END_ARRAY) {
        b += value(p, next); next = p.nextToken()
      }
      b.result()
    case JsonToken.VALUE_STRING => p.getText
    case JsonToken.VALUE_NUMBER_INT
        if p.getNumberType != JsonParser.NumberType.BIG_INTEGER =>
      java.lang.Long.valueOf(p.getLongValue)
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
      p.getDoubleValue
    case JsonToken.VALUE_TRUE => java.lang.Boolean.TRUE
    case JsonToken.VALUE_FALSE => java.lang.Boolean.FALSE
    case JsonToken.VALUE_NULL => null
    case _ => throw new IllegalArgumentException("unexpected end of input")
  }
}
