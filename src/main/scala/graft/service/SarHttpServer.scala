package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ListMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Thin HTTP shell over [[SarTenants]]: the reference serves its engine
  * over FastAPI (api/main.py:232-331); this maps the same routes and
  * response shapes straight onto the service layer with the JDK's
  * built-in `HttpServer` — zero added dependencies, every byte of query
  * logic stays in [[SarService]].
  *
  * Routes (all under `prefix`, default `/api/v1`):
  *   - `GET  /files`                      → `{"files": [...]}`
  *   - `PUT  /files/{name}` (raw body)    → 201 + file info; the body is
  *     any upload `XzIngest.readSarFile` accepts (text / xz / binary SAR).
  *   - `POST /files` (multipart/form-data) → 201 `{uploaded: [...],
  *     errors: [...]}` — the reference's batch upload
  *     (api/main.py:237-255); 400 only when every part failed.
  *   - `GET  /files/{name}`               → file info (rows, headers)
  *   - `DELETE /files/{name}`             → `{"deleted": name}`
  *   - `GET  /files/{name}/data?header=&device=&start=&end=&metrics=&format=`
  *     → `{header, alias, device, rows, data: [...]}` or CSV
  *   - `GET  /files/{name}/statistics?...` → `{header, alias, device,
  *     statistics: {metric: {stat: value}}}` or CSV
  *   - `POST /charts/single` `{file, header, metric?, device?, start?,
  *     end?, title?, max_points?}` → chart-DATA payload (api/charts.py:
  *     79-115 minus the figure): melted+downsampled series, y_range,
  *     restart markers, os_details, resolved meta. Render-side fields of
  *     the reference request (backend/format/width/height/font_size) are
  *     accepted and ignored — rendering is out of scope (SURVEY §7.5).
  *   - `POST /charts/overview` `{file, aliases?, start?, end?}` → one
  *     chart payload per header/device frame (api/charts.py:118-173)
  *   - `POST /charts/compare` (alias `/charts/multi`) `{files, header,
  *     metric, device?, mode?}` → per-file series, mode=overlay (24h
  *     axis rebase) | sequential (api/charts.py:176-253)
  *   - `GET  /admin/disk-usage`           → per-user usage, largest first
  *   - `POST /admin/cleanup?days=&username=&all_users=&dry_run=` →
  *     per-user stale file map (api/main.py:216-226; defaults days=30,
  *     dry_run=true, scope = caller's tenant unless all_users=true)
  *
  * Auth: pass a [[SarAuth]] to run the reference's bearer-token scheme
  * (api/auth.py, api/main.py:66-230) — `POST /token`
  * `{username, password}` issues a 24 h HMAC token, every other route
  * requires `Authorization: Bearer` (401 with `WWW-Authenticate` on
  * missing/expired/forged), the token's username selects the tenant,
  * and the user-management + maintenance routes demand the admin role
  * (403). Without a SarAuth (engine-demo mode, the specs' default), the
  * `X-User` header selects the tenant as before and the user routes
  * are absent. Service-layer `require` failures surface as 400 +
  * `{"detail": ...}`, matching FastAPI's error body shape; a read of a
  * file the tenant does not store is 404; any other failure is a 500
  * with a generic detail (the exception goes to the server log). JSON
  * request bodies are capped at 1 MiB (413 beyond).
  *
  * SSO (server-to-server, api/main.py:78-143): pass `ssoSecret` to
  * enable `POST /sso/token` — the support platform, having
  * authenticated the user itself, exchanges the shared secret
  * (`X-SSO-Secret` header, constant-time compared) for an api token
  * plus a redirect URL carrying a single-use short-lived UI token;
  * unknown users are provisioned just-in-time with role 'user' (their
  * tenant dir included) using `ssoDefaultPassword` or a random one.
  * `GET /sso/validate` validates AND CONSUMES the UI token from the
  * redirect (replay → 401) and returns `{username, role}` — the only
  * route that accepts a 'ui'-purpose bearer. Without `ssoSecret`,
  * `/sso/token` answers 503 "SSO is not configured" like the
  * reference. `uiBaseUrl` prefixes the redirect URL (default: relative
  * to this host).
  */
class SarHttpServer(tenants: SarTenants, port: Int = 0,
    prefix: String = "/api/v1", auth: Option[SarAuth] = None,
    ssoSecret: Option[String] = None,
    ssoDefaultPassword: Option[String] = None,
    uiBaseUrl: String = "") {

  // The JDK server writes a response's headers and body as two TCP
  // segments and leaves Nagle on: over a keep-alive connection the body
  // then waits for the client's delayed ACK (~40 ms on every response
  // under 64 KB). The JDK reads this property once, when its server
  // config loads at the first HttpServer.create of the JVM.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/", handle _)
  // small pool: the Spark driver is thread-safe for concurrent queries,
  // and request fan-out parallelism belongs to the cluster, not here
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  /** Start serving; returns the bound port (useful with `port = 0`). */
  def start(): Int = { server.start(); server.getAddress.getPort }

  /** HttpServer.stop does NOT shut down a user-supplied executor; its
    * threads are non-daemon, so leaving them alive pins the JVM. */
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath
      if (!path.startsWith(prefix + "/")) json(ex, 404, err("not found"))
      else {
        val segs = path.drop(prefix.length).split("/").filter(_.nonEmpty)
        val q = parseQuery(ex.getRequestURI.getRawQuery)
        (ex.getRequestMethod, segs.toList) match {
          // liveness probe, outside the bearer gate (api/main.py:458-460
          // declares no auth dependency — a load balancer hits it cold)
          case ("GET", List("health")) =>
            json(ex, 200, ListMap("status" -> "ok"))
          // the one route outside the bearer gate (api/main.py:68-73)
          case ("POST", List("token")) if auth.isDefined =>
            val a = auth.get
            val b = bodyJson(ex)
            val (u, pw) = (reqStr(b, "username"), reqStr(b, "password"))
            if (!a.login(u, pw))
              json(ex, 401, err("Invalid username or password"))
            else {
              val (tok, exp) = a.createToken(u)
              json(ex, 200, ListMap("access_token" -> tok,
                "token_type" -> "bearer", "expires_at" -> exp))
            }
          // SSO handshake (api/main.py:97-143): /sso/token sits behind
          // the shared secret, not the bearer gate; /sso/validate takes
          // the single-use 'ui' bearer the api gate would reject
          case ("POST", List("sso", "token")) if auth.isDefined =>
            ssoToken(ex)
          case ("GET", List("sso", "validate")) if auth.isDefined =>
            bearerOf(ex) match {
              case None => json(ex, 401, err("Missing bearer token"))
              case Some(t) => auth.get.decodeUi(t) match {
                case Left(detail) => json(ex, 401, err(detail))
                case Right(u) => json(ex, 200, ListMap("username" -> u,
                  "role" -> auth.get.role(u).orNull))
              }
            }
          case (method, routeSegs) => resolveUser(ex) match {
            case Left(detail) =>
              ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
              json(ex, 401, err(detail))
            case Right(user) => route(ex, method, routeSegs, q, user)
          }
        }
      }
    } catch {
      case e: HttpError => json(ex, e.status, err(e.detail))
      case e: NoSuchStoredFile => json(ex, 404, err(e.getMessage))
      case e: IllegalArgumentException => json(ex, 400, err(e.getMessage))
      case e: Exception => json(ex, 500, err(internalError(ex, e)))
    } finally ex.close()
  }

  /** Bearer token → username when auth is on (get_current_user,
    * api/auth.py:95-108); X-User stand-in otherwise. */
  private def resolveUser(ex: HttpExchange): Either[String, String] =
    auth match {
      case None => Right(Option(ex.getRequestHeaders.getFirst("X-User"))
        .getOrElse("default"))
      case Some(a) => bearerOf(ex) match {
        case None => Left("Missing bearer token")
        case Some(t) => a.decode(t)
      }
    }

  private def bearerOf(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer "))
      .map(_.stripPrefix("Bearer ").trim)

  /** sso_token (api/main.py:104-137): shared-secret exchange with
    * just-in-time provisioning. The secret compare is constant-time
    * (hmac.compare_digest); provisioning goes through addUser, so the
    * username pattern and role rules hold for SSO users too. */
  private def ssoToken(ex: HttpExchange): Unit = ssoSecret match {
    case None => json(ex, 503, err("SSO is not configured"))
    case Some(sec) =>
      val given = Option(ex.getRequestHeaders.getFirst("X-SSO-Secret"))
        .getOrElse("")
      if (!java.security.MessageDigest.isEqual(
          given.getBytes(UTF_8), sec.getBytes(UTF_8)))
        json(ex, 401, err("Invalid SSO secret"))
      else {
        val a = auth.get
        val b = bodyJson(ex)
        val u = reqStr(b, "username")
        val provisioned = a.role(u).isEmpty
        if (provisioned) {
          val pw = ssoDefaultPassword.getOrElse(
            java.util.UUID.randomUUID().toString)
          if (!a.addUser(u, pw, "user"))
            throw HttpError(500, s"Could not provision user '$u'")
          tenants.forUser(u) // user_dir (api/main.py:122)
        }
        val (apiTok, apiExp) = a.createToken(u)
        val (uiTok, uiExp) = a.createUiToken(u)
        def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
        val params = (Seq("sso_token" -> uiTok) ++
          optStr(b, "file").map("file" -> _))
          .map { case (k, v) => enc(k) + "=" + enc(v) }.mkString("&")
        json(ex, 200, ListMap(
          "username" -> u,
          "provisioned" -> provisioned,
          "api_token" -> ListMap("access_token" -> apiTok,
            "token_type" -> "bearer", "expires_at" -> apiExp),
          "ui_redirect_url" -> s"${uiBaseUrl.stripSuffix("/")}/?$params",
          "ui_token_expires_at" -> uiExp))
      }
  }

  /** require_admin (api/auth.py:87-90): no-op in engine-demo mode,
    * where the admin routes are already scoped to the caller. */
  private def requireAdmin(user: String): Unit =
    auth.foreach { a =>
      if (!a.isAdmin(user)) throw HttpError(403, "Admin role required")
    }

  private def route(ex: HttpExchange, method: String, segs: List[String],
      q: Map[String, String], user: String): Unit = {
    {
        (method, segs) match {
          case ("GET", List("files")) =>
            json(ex, 200, ListMap("files" -> tenants.forUser(user).listFiles()))
          case ("POST", List("files")) =>
            // the reference's multipart batch upload (api/main.py:237-
            // 255): per-file results and errors, 400 only when every
            // part failed
            val boundary = Multipart.boundaryOf(
              Option(ex.getRequestHeaders.getFirst("Content-Type"))
                .getOrElse("")).getOrElse(throw new IllegalArgumentException(
              "Content-Type must be multipart/form-data with a boundary"))
            val tmp = java.nio.file.Files.createTempFile("graft_mp", ".bin")
            try {
              java.nio.file.Files.copy(ex.getRequestBody, tmp,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              val parts = Multipart.fileParts(tmp, boundary)
              require(parts.nonEmpty, "no file parts in multipart body")
              try {
                val svc = tenants.forUser(user)
                val (uploaded, errors) = parts.foldLeft(
                    (Vector.empty[Any], Vector.empty[Any])) {
                  case ((ok, bad), (fname, p)) =>
                    try {
                      (ok :+ ServicePayloads.fileInfo(
                        svc.upload(p.toString, fname)), bad)
                    } catch {
                      case e: IllegalArgumentException =>
                        (ok, bad :+ ListMap("file" -> fname,
                          "detail" -> e.getMessage))
                      case e: Exception =>
                        (ok, bad :+ ListMap("file" -> fname,
                          "detail" -> internalError(ex, e)))
                    }
                }
                val status = if (uploaded.isEmpty && errors.nonEmpty) 400
                  else 201
                json(ex, status, ListMap("uploaded" -> uploaded,
                  "errors" -> errors))
              } finally parts.foreach(p =>
                java.nio.file.Files.deleteIfExists(p._2))
            } finally java.nio.file.Files.deleteIfExists(tmp)
          case ("PUT", List("files", name)) =>
            val tmp = java.nio.file.Files.createTempFile("graft_upload", ".bin")
            try {
              // stream straight to disk — readAllBytes would buffer the
              // whole upload on a server thread (4-thread pool: a few
              // large concurrent uploads would exhaust driver heap)
              java.nio.file.Files.copy(ex.getRequestBody, tmp,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              json(ex, 201, ServicePayloads.fileInfo(
                tenants.forUser(user).upload(tmp.toString, name)))
            } finally java.nio.file.Files.deleteIfExists(tmp)
          case ("GET", List("files", name)) =>
            json(ex, 200, ServicePayloads.fileInfo(tenants.forUser(user), name))
          case ("GET", List("files", name, "headers")) =>
            json(ex, 200,
              ServicePayloads.headerDetails(tenants.forUser(user), name))
          case ("GET", List("files", name, "headers", header)) =>
            json(ex, 200, ServicePayloads.headerDetail(
              tenants.forUser(user), name, header))
          case ("DELETE", List("files", name)) =>
            if (tenants.forUser(user).delete(name))
              json(ex, 200, ListMap("deleted" -> name))
            else throw new NoSuchStoredFile(name)
          case ("GET", List("files", name, "data")) =>
            data(ex, tenants.forUser(user), name, q)
          case ("GET", List("files", name, "statistics")) =>
            statistics(ex, tenants.forUser(user), name, q)
          case ("POST", List("charts", "single")) =>
            val b = bodyJson(ex)
            json(ex, 200, ServicePayloads.chartSingle(tenants.forUser(user),
              reqStr(b, "file"), reqStr(b, "header"), optStr(b, "metric"),
              optStr(b, "device"), optStr(b, "start"), optStr(b, "end"),
              optStr(b, "title"), budget(b)))
          case ("POST", List("charts", "overview")) =>
            val b = bodyJson(ex)
            json(ex, 200, ServicePayloads.chartOverview(
              tenants.forUser(user), reqStr(b, "file"),
              strList(b, "aliases"), optStr(b, "start"), optStr(b, "end"),
              budget(b)))
          case ("POST", List("charts", route))
              if route == "compare" || route == "multi" =>
            val b = bodyJson(ex)
            json(ex, 200, ServicePayloads.chartCompare(
              tenants.forUser(user), strList(b, "files"),
              reqStr(b, "header"), reqStr(b, "metric"),
              optStr(b, "device"),
              optStr(b, "mode").getOrElse("overlay"), budget(b)))
          case ("GET", List("users", "me")) if auth.isDefined =>
            json(ex, 200, ListMap("username" -> user,
              "role" -> auth.get.role(user).orNull))
          case ("GET", List("users")) if auth.isDefined =>
            requireAdmin(user)
            json(ex, 200, ListMap("users" -> auth.get.listUsers().map {
              case (u, r) => ListMap("username" -> u, "role" -> r)
            }))
          case ("POST", List("users")) if auth.isDefined =>
            requireAdmin(user)
            val b = bodyJson(ex)
            val (u, pw) = (reqStr(b, "username"), reqStr(b, "password"))
            val role = optStr(b, "role").getOrElse("user")
            if (!auth.get.addUser(u, pw, role))
              throw HttpError(409, s"User '$u' already exists")
            json(ex, 201, ListMap("created" -> u, "role" -> role))
          case ("GET", List("admin", "disk-usage")) =>
            requireAdmin(user)
            json(ex, 200, ServicePayloads.diskUsage(tenants))
          case ("POST", List("admin", "cleanup")) =>
            requireAdmin(user)
            val days = q.get("days").map(_.toInt).getOrElse(30)
            require(days >= 1, "days must be >= 1")
            // with auth on, this is an admin route and `username=` may
            // target any tenant (admin_cleanup, api/main.py:216-226);
            // in engine-demo mode the caller is unverified, so the
            // sweep is the CALLER's tenant only unless all_users=true —
            // a username override naming another tenant is rejected
            // rather than silently honored (ADVICE r4)
            val target =
              if (q.get("all_users").exists(_.toBoolean)) None
              else q.get("username") match {
                case Some(u) if auth.isEmpty && u != user =>
                  throw HttpError(403,
                    "cross-tenant cleanup requires all_users=true")
                case other => Some(other.getOrElse(user))
              }
            json(ex, 200, tenants.cleanupOldFiles(days, target,
              dryRun = q.get("dry_run").forall(_.toBoolean)))
          case _ => json(ex, 404, err("not found"))
        }
    }
  }

  // ---- JSON request bodies (chart routes are POST like the reference's;
  // FastAPI models map to plain field accessors here) -------------------

  /** Chart and token bodies are under 1 KB; this cap applies before
    * auth (POST /token reads a body unauthenticated). */
  private val maxJsonBody = 1 << 20

  private def bodyJson(ex: HttpExchange): Map[String, Any] = {
    val in = ex.getRequestBody
    val bytes = in.readNBytes(maxJsonBody + 1)
    if (bytes.length > maxJsonBody) {
      // discard, never buffer, up to 16 MiB more: closing a connection
      // with unread bytes resets it before the client reads the 413
      val sink = new Array[Byte](8192)
      Iterator.continually(in.read(sink)).takeWhile(_ > 0).take(2048)
        .foreach(_ => ())
      throw HttpError(413, s"request body exceeds $maxJsonBody bytes")
    }
    val text = new String(bytes, UTF_8)
    require(text.nonEmpty, "request body must be a JSON object")
    JsonParse.parse(text) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => throw new IllegalArgumentException(
        "request body must be a JSON object")
    }
  }

  private def optStr(m: Map[String, Any], k: String): Option[String] =
    m.get(k).collect { case s: String => s }

  private def reqStr(m: Map[String, Any], k: String): String =
    optStr(m, k).getOrElse(throw new IllegalArgumentException(
      s"field '$k' is required"))

  private def strList(m: Map[String, Any], k: String): Seq[String] =
    m.get(k) match {
      case Some(l: List[_]) => l.map(String.valueOf)
      case Some(null) | None => Nil
      case Some(other) => throw new IllegalArgumentException(
        s"field '$k' must be a list of strings, got $other")
    }

  /** Chart point budget. Clamped so the `4 * budget` series hard cap
    * downstream can never overflow Int; a non-numeric max_points is a
    * 400, not a silent default (ADVICE r4). */
  private def budget(m: Map[String, Any]): Int = m.get("max_points") match {
    case Some(n: java.lang.Number) =>
      val v = n.longValue()
      require(v >= 1 && v <= Int.MaxValue / 4,
        s"max_points must be in [1, ${Int.MaxValue / 4}]")
      v.toInt
    case None => ServicePayloads.chartBudget
    case Some(other) => throw new IllegalArgumentException(
      s"field 'max_points' must be a number, got $other")
  }

  private def tableArgs(q: Map[String, String])
      : (String, Option[String], Option[String], Option[String],
         Seq[String]) = {
    val header = q.getOrElse("header",
      throw new IllegalArgumentException("query parameter 'header' is required"))
    (header, q.get("device"), q.get("start"), q.get("end"),
      // the reference names the single-projection param `metric`
      // (api/main.py:279); `metrics` takes a comma list
      q.get("metrics").orElse(q.get("metric")).toSeq
        .flatMap(_.split(",")).filter(_.nonEmpty))
  }

  /** Response row cap (override per request with `?limit=`): a single
    * GET must not collect an unbounded table onto one server thread. The
    * `truncated` flag mirrors the S11 jsonRecords contract. */
  val defaultRowLimit = 10000

  private def data(ex: HttpExchange, svc: SarService, name: String,
      q: Map[String, String]): Unit = {
    val (header, device, start, end, metrics) = tableArgs(q)
    val limit = q.get("limit").map(_.toInt).getOrElse(defaultRowLimit)
    if (q.get("format").contains("csv")) {
      require(limit >= 1, "limit must be >= 1")
      val (table, _) = svc.getTableWithMeta(name, header, device,
        start.map(ServicePayloads.parseTs), end.map(ServicePayloads.parseTs),
        metrics)
      val cols = table.columns
      val lines = table.limit(limit).collect().map(r =>
        cols.indices.map(i => csvCell(r.get(i))).mkString(","))
      csv(ex, (cols.mkString(",") +: lines).mkString("\n"))
    } else json(ex, 200, ServicePayloads.data(svc, name, header, device,
      start, end, metrics, limit))
  }

  private def statistics(ex: HttpExchange, svc: SarService, name: String,
      q: Map[String, String]): Unit = {
    val (header, device, start, end, metrics) = tableArgs(q)
    if (q.get("format").contains("csv")) {
      val (stats, meta) = svc.statisticsWithMeta(name, header, device,
        start.map(ServicePayloads.parseTs), end.map(ServicePayloads.parseTs),
        metrics)
      csv(ex, svc.statisticsCsv(Seq(meta.alias -> stats)))
    } else json(ex, 200, ServicePayloads.statistics(svc, name, header,
      device, start, end, metrics))
  }

  // ---- plumbing -----------------------------------------------------

  /** Non-400 client errors (401/403/409), FastAPI's HTTPException. */
  private case class HttpError(status: Int, detail: String)
    extends RuntimeException(detail)

  private def err(detail: String) = ListMap("detail" -> detail)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** An unexpected failure's detail goes to the server log only; the
    * client gets a generic text (exception messages carry storage
    * paths). */
  private def internalError(ex: HttpExchange, e: Exception): String = {
    log.error(s"${ex.getRequestMethod} ${ex.getRequestURI.getPath} failed", e)
    "internal server error"
  }

  private def parseQuery(raw: String): Map[String, String] =
    Option(raw).getOrElse("").split("&").filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def csvCell(v: Any): String = v match {
    case null => ""
    case s: String if s.exists(",\"\n".contains(_)) =>
      "\"" + s.replace("\"", "\"\"") + "\""
    case other => other.toString
  }

  private def respond(ex: HttpExchange, status: Int, contentType: String,
      body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length)
    val out = ex.getResponseBody
    try out.write(bytes) finally out.close()
  }

  private def csv(ex: HttpExchange, body: String): Unit =
    respond(ex, 200, "text/csv", body)

  private def json(ex: HttpExchange, status: Int, value: Any): Unit =
    respond(ex, status, "application/json", Json.render(value))
}
