package graft.service

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

/** The exact Scala values `JsonParse` returns — the shapes every HTTP
  * body, MCP message and svcbench response check casts to — and the
  * inputs it must reject as IllegalArgumentException. */
class JsonParseSpec extends AnyFunSuite {

  private def classes(v: Any): List[Class[_]] =
    v.asInstanceOf[List[Any]].map(_.getClass)

  test("objects are insertion-ordered ListMaps, arrays Lists, nested") {
    val v = JsonParse.parse(
      """{"b":1,"a":{"z":[],"y":{}},"c":[1,[2,[3,"x"]],{"k":null}]}""")
    assert(v.isInstanceOf[ListMap[_, _]])
    val m = v.asInstanceOf[ListMap[String, Any]]
    assert(m.keys.toList == List("b", "a", "c"))
    val a = m("a").asInstanceOf[ListMap[String, Any]]
    assert(a.keys.toList == List("z", "y"))
    assert(a("z") == Nil && a("y") == ListMap.empty)
    assert(a("y").isInstanceOf[ListMap[_, _]])
    val c = m("c").asInstanceOf[List[Any]]
    assert(c == List(1L, List(2L, List(3L, "x")), ListMap("k" -> null)))
    assert(c(1).isInstanceOf[List[_]] &&
      c(1).asInstanceOf[List[Any]](1).isInstanceOf[List[_]])
    assert(c(2).isInstanceOf[ListMap[_, _]])
    assert(JsonParse.parse("[]").isInstanceOf[List[_]])
  }

  test("integers in Long range are java.lang.Long, other numbers Double") {
    val v = JsonParse.parse("[0,-0,9223372036854775807," +
      "-9223372036854775808,9223372036854775808,1e2,1.5,-2.5E-3,7]")
    assert(classes(v) == List(classOf[java.lang.Long],
      classOf[java.lang.Long], classOf[java.lang.Long],
      classOf[java.lang.Long], classOf[java.lang.Double],
      classOf[java.lang.Double], classOf[java.lang.Double],
      classOf[java.lang.Double], classOf[java.lang.Long]))
    assert(v == List(0L, 0L, Long.MaxValue, Long.MinValue,
      9.223372036854775808e18, 100.0, 1.5, -0.0025, 7L))
  }

  test("strings decode every escape, \\u and surrogate pairs included") {
    val v = JsonParse.parse(
      "\"q\\\"b\\\\s\\/b\\bf\\fn\\nr\\rt\\t\\u00e9\\ud83d\\ude00 \"")
    assert(v == "q\"b\\s/b\bf\fn\nr\rt\t\u00e9\ud83d\ude00 ")
    assert(v.asInstanceOf[String].codePointAt(17) == 0x1F600)
  }

  test("booleans are java.lang.Boolean, null is null, whitespace skipped") {
    val v = JsonParse.parse(" \t\r\n[ true ,\nfalse\t, null ] \r\n")
    assert(classes(v.asInstanceOf[List[Any]].take(2)) ==
      List(classOf[java.lang.Boolean], classOf[java.lang.Boolean]))
    assert(v == List(java.lang.Boolean.TRUE, java.lang.Boolean.FALSE, null))
    assert(JsonParse.parse(" { \"a\" : [ 1 , 2 ] } ") ==
      ListMap("a" -> List(1L, 2L)))
    assert(JsonParse.parse("null") == null)
    assert(JsonParse.parse("\"\"") == "")
  }

  test("64 levels of nesting parse; malformed input is an " +
      "IllegalArgumentException") {
    assert(JsonParse.parse("[" * 64 + "]" * 64).isInstanceOf[List[_]])
    for (bad <- Seq(
        """{"a":1} x""", "1 2", "{}{}", "[1]]", // trailing data
        "", "   ", """{"a":""", "[1,2", "\"abc", """{"a" 1}""", // unterminated
        "\"\\x\"", "\"\\u12\"", // bad escapes
        "[" * 65 + "]" * 65, "[" * 50000 + "]" * 50000, // too deep
        "[1,]", "tru", "nul", "-", "{1:2}"))
      intercept[IllegalArgumentException](JsonParse.parse(bad))
  }
}
