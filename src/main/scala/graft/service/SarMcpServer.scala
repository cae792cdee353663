package graft.service

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ListMap

/** MCP (Model Context Protocol) stdio shell: the reference exposes the
  * engine to LLM agents as MCP tools that proxy its HTTP API
  * (mcp_server/server.py:265-385); this serves the same tool surface
  * straight off [[SarTenants]] — newline-delimited JSON-RPC 2.0 over
  * stdio, zero dependencies (the MCP stdio transport is exactly that).
  *
  * Tool results carry the SAME payload shapes as the HTTP shell
  * ([[ServicePayloads]] is shared), rendered as JSON text content. Auth
  * tools (login/logout/whoami/create_user) are out of scope per SURVEY
  * §7.5 — each tool takes an optional `username` standing in for the
  * reference's per-session credentials; chart tools are presentation,
  * also scoped out.
  *
  * Protocol errors (unknown method, malformed request) are JSON-RPC
  * errors; tool execution failures are `isError: true` results, per the
  * MCP spec, whose text is the message of a client error (bad argument,
  * unknown stored file) or a generic "internal server error" otherwise.
  */
class SarMcpServer(tenants: SarTenants, serverName: String = "graft-sar") {

  /** Serve until EOF: one JSON-RPC message per line in, one per line out
    * (notifications produce no output). */
  def serve(in: InputStream, out: OutputStream): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, UTF_8))
    Iterator.continually(reader.readLine()).takeWhile(_ != null)
      .filter(_.trim.nonEmpty)
      .foreach { line =>
        handleLine(line).foreach { resp =>
          out.write((resp + "\n").getBytes(UTF_8)); out.flush()
        }
      }
  }

  /** Typed protocol failure → its reserved JSON-RPC code (-32601 method
    * not found, -32602 invalid params, -32600 invalid request); anything
    * else caught during dispatch is -32603 internal error. */
  private final class RpcError(val code: Long, msg: String)
    extends RuntimeException(msg)

  /** One message in, optional response out. A message WITHOUT an `id` is
    * a notification: per JSON-RPC it MUST get no reply — not even an
    * error — so failures there are swallowed (None). */
  def handleLine(line: String): Option[String] = {
    val (id, isRequest, result) = try {
      val msg = JsonParse.parse(line) match {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case _ => throw new RpcError(-32600, "request must be a JSON object")
      }
      val id = msg.get("id")
      try (id, msg.contains("id"), Right(dispatch(msg)))
      catch {
        case e: RpcError => (id, msg.contains("id"), Left((e.code, message(e))))
        case e: Exception =>
          (id, msg.contains("id"), Left((-32603L, message(e))))
      }
    } catch {
      case e: RpcError => (None, true, Left((e.code, message(e))))
      case e: Exception =>
        (None, true, Left((-32700L, s"parse error: ${message(e)}")))
    }
    result match {
      case Right(None) => None // notification method
      case Right(Some(r)) => Some(Json.render(ListMap(
        "jsonrpc" -> "2.0", "id" -> RawJson(renderId(id)), "result" -> r)))
      case Left(_) if !isRequest => None // failed notification: stay silent
      case Left((code, msg)) => Some(Json.render(ListMap(
        "jsonrpc" -> "2.0", "id" -> RawJson(renderId(id)),
        "error" -> ListMap("code" -> code, "message" -> msg))))
    }
  }

  private def renderId(id: Option[Any]): String =
    id.map(Json.render).getOrElse("null")

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** An unexpected tool failure's detail goes to the server log only;
    * the agent gets a generic text (exception messages carry storage
    * paths and Spark plan text), as the HTTP shell's 500 does. */
  private def internalError(tool: String, e: Exception): String = {
    log.error(s"tool $tool failed", e)
    "internal server error"
  }

  /** MCP revisions this server implements (max = the default answer). */
  private val supportedProtocolVersions =
    Set("2024-11-05", "2025-03-26", "2025-06-18")

  /** Returns Some(result) for requests, None for notifications. */
  private def dispatch(msg: Map[String, Any]): Option[Any] = {
    val params = msg.getOrElse("params", Map.empty) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any] // positional params: none defined
    }
    msg.getOrElse("method", "").toString match {
      case "initialize" => Some(ListMap(
        // version negotiation: confirm the client's version only when
        // the server supports it, else answer with the latest supported
        // one (echoing an arbitrary requested version would claim a
        // protocol this server does not implement)
        "protocolVersion" -> {
          val requested =
            params.getOrElse("protocolVersion", "").toString
          if (supportedProtocolVersions(requested)) requested
          else supportedProtocolVersions.max
        },
        "capabilities" -> ListMap("tools" -> ListMap.empty[String, Any]),
        "serverInfo" -> ListMap("name" -> serverName, "version" -> "1.0")))
      case "ping" => Some(ListMap.empty[String, Any])
      case "tools/list" => Some(ListMap("tools" -> tools.map {
        case (name, desc, schema, _) => ListMap("name" -> name,
          "description" -> desc, "inputSchema" -> schema)
      }))
      case "tools/call" =>
        val name = params.getOrElse("name", "").toString
        // a non-object `arguments` (e.g. a JSON array) is legal JSON-RPC
        // input and must surface as invalid params, not a cast crash
        // mapped to -32603 internal error
        val args = params.getOrElse("arguments", Map.empty) match {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          case null => Map.empty[String, Any]
          case _ =>
            throw new RpcError(-32602, "arguments must be an object")
        }
        val fn = tools.find(_._1 == name).map(_._4).getOrElse(
          throw new RpcError(-32602, s"unknown tool '$name'"))
        // tool failures are results, not protocol errors (MCP spec)
        def result(text: String, isError: Boolean) = ListMap(
          "content" -> Seq(ListMap("type" -> "text", "text" -> text)),
          "isError" -> isError)
        Some(try result(Json.render(fn(args)), isError = false) catch {
          case e @ (_: IllegalArgumentException | _: NoSuchStoredFile) =>
            result(message(e), isError = true)
          case e: Exception => result(internalError(name, e), isError = true)
        })
      case m if m.startsWith("notifications/") => None
      case m => throw new RpcError(-32601, s"method not found: $m")
    }
  }

  // ---- tool table ----------------------------------------------------

  private def str(args: Map[String, Any], k: String): Option[String] =
    args.get(k).collect { case v if v != null => v.toString }
  private def req(args: Map[String, Any], k: String): String =
    str(args, k).getOrElse(
      throw new IllegalArgumentException(s"argument '$k' is required"))
  private def int(args: Map[String, Any], k: String, dflt: Int): Int =
    args.get(k).map(v => v.toString.toDouble.toInt).getOrElse(dflt)
  private def bool(args: Map[String, Any], k: String, dflt: Boolean): Boolean =
    args.get(k).map(_.toString.toBoolean).getOrElse(dflt)
  private def svc(args: Map[String, Any]): SarService =
    tenants.forUser(str(args, "username").getOrElse("default"))

  private def schema(required: Seq[String], props: (String, String)*) =
    ListMap("type" -> "object",
      "properties" -> ListMap(props.map { case (k, t) =>
        k -> ListMap("type" -> t) }: _*),
      "required" -> required)

  private def metrics(args: Map[String, Any]): Seq[String] =
    str(args, "metric").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** (name, description, input schema, implementation) — names and
    * semantics mirror mcp_server/server.py's engine tools. */
  private val tools: Seq[(String, String, Any, Map[String, Any] => Any)] =
    Seq(
      ("list_sar_files", "List the uploaded SAR files.",
        schema(Nil, "username" -> "string"),
        args => ListMap("files" -> svc(args).listFiles())),
      ("upload_sar_file",
        "Upload a SAR report (sar text or sadf -j JSON) under a name.",
        schema(Seq("name", "content"), "name" -> "string",
          "content" -> "string", "username" -> "string"),
        { args =>
          val tmp = java.nio.file.Files.createTempFile("graft_mcp", ".txt")
          try {
            java.nio.file.Files.writeString(tmp, req(args, "content"))
            ServicePayloads.fileInfo(
              svc(args).upload(tmp.toString, req(args, "name")))
          } finally java.nio.file.Files.deleteIfExists(tmp)
        }),
      ("delete_sar_file", "Delete an uploaded SAR file.",
        schema(Seq("name"), "name" -> "string", "username" -> "string"),
        args => ListMap("deleted" -> svc(args).delete(req(args, "name")))),
      ("get_file_info",
        "Row count and section headers of an uploaded SAR file.",
        schema(Seq("name"), "name" -> "string", "username" -> "string"),
        args => ServicePayloads.fileInfo(svc(args), req(args, "name"))),
      ("get_header_details",
        "Metrics and sub-devices for one header (alias accepted).",
        schema(Seq("name", "header"), "name" -> "string",
          "header" -> "string", "username" -> "string"),
        args => ServicePayloads.headerDetail(svc(args), req(args, "name"),
          req(args, "header"))),
      ("get_data",
        "Time-series table for a header; optional metric/device/start/end.",
        schema(Seq("name", "header"), "name" -> "string",
          "header" -> "string", "metric" -> "string", "device" -> "string",
          "start" -> "string", "end" -> "string", "limit" -> "integer",
          "username" -> "string"),
        args => ServicePayloads.data(svc(args), req(args, "name"),
          req(args, "header"), str(args, "device"), str(args, "start"),
          str(args, "end"), metrics(args), int(args, "limit", 10000))),
      ("get_statistics",
        "describe() statistics for a header or a single metric.",
        schema(Seq("name", "header"), "name" -> "string",
          "header" -> "string", "metric" -> "string", "device" -> "string",
          "start" -> "string", "end" -> "string", "username" -> "string"),
        args => ServicePayloads.statistics(svc(args), req(args, "name"),
          req(args, "header"), str(args, "device"), str(args, "start"),
          str(args, "end"), metrics(args))),
      ("disk_usage", "Per-user storage usage, largest consumers first.",
        schema(Nil),
        _ => ServicePayloads.diskUsage(tenants)),
      ("cleanup_old_files",
        "Delete the user's uploads older than `days` days (dry run by " +
          "default); set all_users=true for the cross-tenant admin sweep.",
        schema(Nil, "days" -> "integer", "username" -> "string",
          "dry_run" -> "boolean", "all_users" -> "boolean"),
        { args =>
          val days = int(args, "days", 30)
          require(days >= 1, "days must be >= 1")
          // an omitted username scopes to the SAME default tenant every
          // other tool uses — sweeping all tenants must be an explicit
          // opt-in, never the silent default of a forgotten argument
          val scope = if (bool(args, "all_users", dflt = false)) None
            else Some(str(args, "username").getOrElse("default"))
          tenants.cleanupOldFiles(days, scope,
            dryRun = bool(args, "dry_run", dflt = true))
        }))
}

/** `sbt --error "runMain graft.service.McpMain <storageDir>"` — serve
  * MCP over stdio for an agent host (the command an MCP host's
  * server-config entry would launch; `--error` keeps sbt's own [info]
  * lines off the protocol stream). */
object McpMain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")
    val hub = new SarTenants(spark,
      args.headOption.getOrElse(sys.props("java.io.tmpdir") + "/graft_sar"))
    new SarMcpServer(hub).serve(System.in, System.out)
  }
}
