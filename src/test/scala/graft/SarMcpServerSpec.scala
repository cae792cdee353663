package graft

import java.nio.file.Files
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.service.{SarMcpServer, SarTenants}

/** The MCP stdio shell, driven as a scripted JSON-RPC conversation:
  * handshake, tool discovery, and every engine tool against a temp
  * storage dir — same payloads the HTTP shell serves. */
class SarMcpServerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def resource(name: String): String = {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream(s"/sar/$name"), "UTF-8")
    try src.mkString finally src.close()
  }

  private def esc(s: String): String = s
    .replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")

  test("MCP shell: handshake, tools, and engine calls over JSON-RPC") {
    val base = Files.createTempDirectory("graft_mcp").toString
    val mcp = new SarMcpServer(new SarTenants(spark, base))

    // handshake: initialize is a request, initialized a silent notification
    val init = mcp.handleLine("""{"jsonrpc":"2.0","id":1,"method":
      "initialize","params":{"protocolVersion":"2025-06-18"}}"""
      .replace("\n      ", "")).get
    assert(init.contains(""""id":1""") &&
      init.contains(""""protocolVersion":"2025-06-18"""") &&
      init.contains(""""tools":{}"""))
    assert(mcp.handleLine(
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)

    // discovery lists every engine tool with a schema
    val list = mcp.handleLine(
      """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""").get
    for (t <- Seq("list_sar_files", "upload_sar_file", "delete_sar_file",
        "get_file_info", "get_header_details", "get_data", "get_statistics",
        "disk_usage", "cleanup_old_files"))
      assert(list.contains("\"" + t + "\""), s"missing tool $t")
    assert(list.contains(""""inputSchema":{"type":"object""""))

    def call(id: Int, tool: String, args: String): String =
      mcp.handleLine(s"""{"jsonrpc":"2.0","id":$id,"method":"tools/call",""" +
        s""""params":{"name":"$tool","arguments":$args}}""").get

    // upload → list → info → header details → data → statistics
    val up = call(3, "upload_sar_file",
      s"""{"name":"day1","content":"${esc(resource("sa_24h.txt"))}",""" +
        """"username":"alice"}""")
    assert(up.contains(""""isError":false""") && up.contains("""\"rows\":"""))
    assert(call(4, "list_sar_files", """{"username":"alice"}""")
      .contains("""\"files\":[\"day1\"]"""))
    assert(call(5, "list_sar_files", "{}")
      .contains("""\"files\":[]""")) // default tenant sees nothing
    assert(call(6, "get_file_info", """{"name":"day1","username":"alice"}""")
      .contains("""\"name\":\"day1\""""))
    // an unknown stored file is a tool error naming the file, as HTTP's 404
    val missing = call(18, "get_file_info",
      """{"name":"nosuch","username":"alice"}""")
    assert(missing.contains(""""isError":true""") &&
      missing.contains(""""text":"no stored file 'nosuch'""""))
    val hd = call(7, "get_header_details",
      """{"name":"day1","header":"CPU","username":"alice"}""")
    assert(hd.contains("""\"alias\":\"CPU\"""") &&
      hd.contains("""\"device_scoped\":true"""))
    val data = call(8, "get_data",
      """{"name":"day1","header":"CPU","metric":"%idle","limit":1,""" +
        """"username":"alice"}""")
    assert(data.contains("""\"device\":\"all\"""") &&
      data.contains("""\"truncated\":true""") &&
      data.contains("""\"%idle\""""))
    assert(call(9, "get_statistics",
      """{"name":"day1","header":"CPU","username":"alice"}""")
      .contains("""\"50%\":"""))
    assert(call(10, "disk_usage", "{}")
      .contains("""\"username\":\"alice\""""))

    // tool failures are isError results; protocol failures carry their
    // reserved JSON-RPC codes (clients feature-detect on them)
    assert(call(11, "get_data", """{"name":"day1","username":"alice"}""")
      .contains(""""isError":true"""))
    assert(call(12, "nope", "{}").contains(""""code":-32602"""))
    val notFound =
      mcp.handleLine("""{"jsonrpc":"2.0","id":13,"method":"bogus"}""").get
    assert(notFound.contains(""""code":-32601""") &&
      notFound.contains("method not found"))
    assert(mcp.handleLine("not json at all").get
      .contains(""""code":-32700"""))
    assert(mcp.handleLine("""[1,2,3]""").get.contains(""""code":-32600"""))
    // a nesting bomb is a clean parse error, not a StackOverflowError
    assert(mcp.handleLine("""{"jsonrpc":"2.0","id":14,"method":"ping",""" +
      """"params":""" + "[" * 50000 + "]" * 50000 + "}").get
      .contains(""""code":-32700"""))
    // version negotiation: an unsupported requested version gets the
    // server's latest supported version back, never an echo
    assert(mcp.handleLine("""{"jsonrpc":"2.0","id":16,"method":""" +
      """"initialize","params":{"protocolVersion":"2099-01-01"}}""").get
      .contains(""""protocolVersion":"2025-06-18""""))
    // a non-object `arguments` is invalid params (-32602), not an
    // internal cast error (-32603)
    assert(mcp.handleLine("""{"jsonrpc":"2.0","id":17,"method":""" +
      """"tools/call","params":{"name":"list_sar_files",""" +
      """"arguments":[1,2]}}""").get.contains(""""code":-32602"""))
    // notifications NEVER get a reply, not even when they fail
    assert(mcp.handleLine("""{"jsonrpc":"2.0","method":"bogus"}""").isEmpty)
    assert(mcp.handleLine(
      """{"jsonrpc":"2.0","method":"tools/call","params":""" +
        """{"name":"nope","arguments":{}}}""").isEmpty)

    // cleanup without username scopes to the default tenant — it must
    // never silently sweep alice's storage (all_users is the opt-in)
    val scoped = call(15, "cleanup_old_files",
      """{"days":1,"dry_run":true}""")
    assert(scoped.contains(""""isError":false""") &&
      !scoped.contains("alice"))

    // serve(): the same conversation over real streams, one line each way
    val script = Seq(
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""",
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""",
      """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":""" +
        """{"name":"list_sar_files","arguments":{"username":"alice"}}}""")
      .mkString("\n")
    val out = new java.io.ByteArrayOutputStream()
    mcp.serve(new java.io.ByteArrayInputStream(script.getBytes("UTF-8")), out)
    val lines = out.toString("UTF-8").trim.split("\n")
    assert(lines.length == 2) // notification produced no line
    assert(lines(0).contains(""""serverInfo"""") &&
      lines(1).contains("""\"day1\""""))

    assert(call(14, "delete_sar_file",
      """{"name":"day1","username":"alice"}""")
      .contains("""\"deleted\":true"""))
  }

  test("MCP tool failures other than client errors answer a generic text") {
    val base = Files.createTempDirectory("graft_mcp_err").toString
    val mcp = new SarMcpServer(new SarTenants(spark, base))
    def call(id: Int, tool: String, args: String): String =
      mcp.handleLine(s"""{"jsonrpc":"2.0","id":$id,"method":"tools/call",""" +
        s""""params":{"name":"$tool","arguments":$args}}""").get
    assert(call(1, "upload_sar_file",
      s"""{"name":"broken","content":"${esc(resource("sa_24h.txt"))}",""" +
        """"username":"alice"}""").contains(""""isError":false"""))
    // a corrupt stored parquet fails inside Spark: the tool text must
    // not echo the exception, which names the storage directory
    val dir = java.nio.file.Paths.get(base, "alice", "broken.parquet")
    val parts = scala.util.Using.resource(Files.list(dir)) { ps =>
      ps.iterator().asScala.filter(_.getFileName.toString
        .startsWith("part-")).toList
    }
    parts.foreach(Files.write(_, "not parquet".getBytes("UTF-8")))
    val info = call(2, "get_file_info",
      """{"name":"broken","username":"alice"}""")
    assert(info.contains(""""isError":true""") &&
      info.contains(""""text":"internal server error"""") &&
      !info.contains(base), info)
  }
}
