package graft

import java.nio.file.Files
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.service.{SarHttpServer, SarMcpServer, SarTenants}

/** Integration spec for the thin HTTP shell: a real server on an
  * ephemeral port, real requests, asserting the reference's response
  * shapes (api/main.py:232-331) against a temp storage dir. */
class SarHttpServerSpec extends AnyFunSuite {

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

  /** One request helper for every method: (status, body, contentType). */
  private def request(method: String, url: String, user: String,
      body: Array[Byte] = Array.emptyByteArray,
      headers: Map[String, String] = Map.empty): (Int, String, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setRequestProperty("X-User", user)
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    if (body.nonEmpty) {
      conn.setDoOutput(true)
      val out = conn.getOutputStream
      try out.write(body) finally out.close()
    }
    val status = conn.getResponseCode
    val stream =
      if (status >= 400) conn.getErrorStream else conn.getInputStream
    val text = Option(stream).map { s =>
      try new String(s.readAllBytes(), "UTF-8") finally s.close()
    }.getOrElse("")
    (status, text, String.valueOf(conn.getContentType))
  }

  private def get(url: String, user: String = "alice")
      : (Int, String, String) = request("GET", url, user)

  private def send(method: String, url: String, body: Array[Byte],
      user: String = "alice"): (Int, String) = {
    val (status, text, _) = request(method, url, user, body)
    (status, text)
  }

  private def delete(url: String, user: String = "alice"): Int =
    request("DELETE", url, user)._1

  /** A JSON string literal (the escapes the shells' renderer applies). */
  private def jsonString(s: String): String = "\"" + s
    .replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""

  test("HTTP shell: files / data / statistics round-trip the service") {
    val base = Files.createTempDirectory("graft_http").toString
    val tenants = new SarTenants(spark, base)
    val up = Files.createTempFile("sa_http", ".txt")
    Files.writeString(up, resource("sa_24h.txt"))
    tenants.forUser("alice").upload(up.toString, "day1")

    val server = new SarHttpServer(tenants)
    val port = server.start()
    val root = s"http://localhost:$port/api/v1"
    try {
      // files listing is per-tenant: alice sees her upload, bob nothing
      val (s1, files, ct1) = get(s"$root/files")
      assert(s1 == 200 && ct1.startsWith("application/json"))
      assert(files == """{"files":["day1"]}""")
      assert(get(s"$root/files", user = "bob")._2 == """{"files":[]}""")

      // file info carries rows + headers
      val (s2, info, _) = get(s"$root/files/day1")
      assert(s2 == 200 && info.contains(""""name":"day1"""") &&
        info.contains(""""rows":""") && info.contains("%idle"))

      // header details: full list, and the single-header route resolves
      // aliases through the same path as data/statistics
      val (sh1, allHeaders, _) = get(s"$root/files/day1/headers")
      assert(sh1 == 200 && allHeaders.contains(""""alias":"CPU"""") &&
        allHeaders.contains(""""device_scoped":true"""))
      val (sh2, oneHeader, _) = get(s"$root/files/day1/headers/CPU")
      assert(sh2 == 200 && oneHeader.contains(""""alias":"CPU"""") &&
        oneHeader.contains(""""devices":["""))
      assert(get(s"$root/files/day1/headers/NoSuchHeader")._1 == 400)

      // data: resolved meta + date-keyed records, CPU collapses to 'all'
      val (s3, data, _) = get(s"$root/files/day1/data?header=CPU")
      assert(s3 == 200)
      assert(data.contains(""""alias":"CPU"""") &&
        data.contains(""""device":"all"""") && data.contains(""""data":["""))
      // canonical S11 date shape (jsonRecords), truncation flag present
      assert(data.contains("\"2023-06-05 00:10:01\""))
      assert(data.contains(""""truncated":false"""))
      // a limit below the row count truncates and flags it
      val (sl, limited, _) =
        get(s"$root/files/day1/data?header=CPU&limit=1")
      assert(sl == 200 && limited.contains(""""rows":1""") &&
        limited.contains(""""truncated":true"""))
      // metric projection + CSV format
      val (s4, csvBody, ct4) =
        get(s"$root/files/day1/data?header=CPU&metrics=%25idle&format=csv")
      assert(s4 == 200 && ct4.startsWith("text/csv"))
      assert(csvBody.linesIterator.next() == "date,%idle")
      // the reference's singular `metric` param projects identically
      val (s4b, csvOne, _) =
        get(s"$root/files/day1/data?header=CPU&metric=%25idle&format=csv")
      assert(s4b == 200 && csvOne.linesIterator.next() == "date,%idle")

      // statistics: per-metric stat map, same meta block
      val (s5, stats, _) = get(s"$root/files/day1/statistics?header=CPU")
      assert(s5 == 200)
      assert(stats.contains(""""statistics":{""") &&
        stats.contains(""""%idle":{"count":""") && stats.contains(""""50%":"""))

      // service require()s surface as 400 + detail, FastAPI's error shape
      val (s6, badHeader, _) = get(s"$root/files/day1/data?header=nope")
      assert(s6 == 400 && badHeader.contains(""""detail":"""))
      assert(get(s"$root/files/day1/data")._1 == 400) // header required
      // tenant and storage-name validation guard the HTTP surface too
      assert(get(s"$root/files", user = "..")._1 == 400)
      assert(get(s"$root/files/.hidden/data?header=CPU")._1 == 400)
      assert(get(s"$root/nope")._1 == 404)

      // raw-body upload: bob PUTs sar text, sees it, alice does not
      val (s8, uploaded) = send("PUT", s"$root/files/2026-07-01_bobhost_x",
        resource("sa_24h.txt").getBytes("UTF-8"), user = "bob")
      assert(s8 == 201 && uploaded.contains(""""rows":"""))
      assert(get(s"$root/files", user = "bob")._2
        .contains("2026-07-01_bobhost_x"))
      assert(!get(s"$root/files")._2.contains("bobhost"))
      // the same text re-uploaded under the same name through the MCP
      // upload_sar_file tool replies with the PUT's exact payload
      val viaMcp = new SarMcpServer(tenants).handleLine(
        """{"jsonrpc":"2.0","id":1,"method":"tools/call","params":""" +
          """{"name":"upload_sar_file","arguments":{"name":""" +
          """"2026-07-01_bobhost_x","username":"bob","content":""" +
          jsonString(resource("sa_24h.txt")) + "}}}").get
      assert(viaMcp.contains(""""text":""" + jsonString(uploaded)), viaMcp)

      // admin cleanup is scoped to the CALLER's tenant by default — an
      // unauthenticated cross-tenant sweep must be an explicit opt-in
      val (s9a, dryA) = send("POST",
        s"$root/admin/cleanup?days=30&dry_run=true", Array.emptyByteArray)
      assert(s9a == 200 && !dryA.contains("bob"))
      // the explicit all_users sweep lists bob's stale upload (dry run)
      val (s9, dry) = send("POST",
        s"$root/admin/cleanup?days=30&all_users=true&dry_run=true",
        Array.emptyByteArray)
      assert(s9 == 200 && dry.contains(""""bob":["2026-07-01_bobhost_x"]"""))
      assert(get(s"$root/files", user = "bob")._2.contains("bobhost"))
      assert(send("POST", s"$root/admin/cleanup?days=0",
        Array.emptyByteArray)._1 == 400) // days >= 1

      // admin usage sees every tenant; delete is tenant-scoped
      val (s7, usage, _) = get(s"$root/admin/disk-usage")
      assert(s7 == 200 && usage.contains(""""username":"alice""""))
      assert(delete(s"$root/files/day1", user = "bob") == 404)
      assert(delete(s"$root/files/day1") == 200)
      assert(get(s"$root/files")._2 == """{"files":[]}""")
    } finally server.stop()
  }

  test("chart-data endpoints: single / overview / compare payloads") {
    val base = Files.createTempDirectory("graft_charts").toString
    val tenants = new SarTenants(spark, base)
    val up = Files.createTempFile("sa_chart", ".txt")
    Files.writeString(up, resource("sa_24h.txt"))
    tenants.forUser("alice").upload(up.toString, "day1")
    tenants.forUser("alice").upload(up.toString, "day2")

    val server = new SarHttpServer(tenants)
    val port = server.start()
    val root = s"http://localhost:$port/api/v1"
    def post(path: String, body: String): (Int, String) =
      send("POST", s"$root$path", body.getBytes("UTF-8"))
    try {
      // single, all metrics of the header: resolved meta + chart-layer
      // contracts (melted series, y_range, restart markers, os_details)
      val (s1, single) = post("/charts/single",
        """{"file":"day1","header":"CPU"}""")
      assert(s1 == 200, single)
      assert(single.contains(""""alias":"CPU"""") &&
        single.contains(""""device":"all"""") &&
        single.contains(""""title":"CPU all""""))
      assert(single.contains(""""os_details":"Linux 5.14.21"""))
      assert(single.contains(""""restarts":["2023-06-05 00:15:30"]"""))
      assert(single.contains(""""y_range":{"min":0.0,"max":"""))
      // the series rows are the reference's melted chart frame shape
      assert(single.contains(""""metrics":"%usr"""") &&
        single.contains(""""y":"""))
      assert(single.contains("\"date\":\"2023-06-05 00:10:01\""))
      // render-side reference fields are accepted and ignored
      assert(post("/charts/single",
        """{"file":"day1","header":"CPU","metric":"%idle",
           "backend":"bokeh","format":"png","width":1200}""")._1 == 200)
      // one-metric detail chart projects just that series
      val (s2, detail) = post("/charts/single",
        """{"file":"day1","header":"CPU","metric":"%idle"}""")
      assert(s2 == 200 && detail.contains(""""metric":"%idle"""") &&
        !detail.contains(""""metrics":"%usr""""))
      // unknown metric → 400 with the available list, like the reference
      val (s3, bad) = post("/charts/single",
        """{"file":"day1","header":"CPU","metric":"nope"}""")
      assert(s3 == 400 && bad.contains("available"))
      assert(post("/charts/single", """{"file":"day1"}""")._1 == 400)
      assert(post("/charts/single", "")._1 == 400)

      // overview: one payload per header/device frame — CPU collapses
      // to 'all', the device-scoped DEV section yields one per device
      val devHeader = "tps rkB/s wkB/s areq-sz aqu-sz await %util"
      val (s4, over) = post("/charts/overview",
        s"""{"file":"day1","aliases":["CPU","$devHeader"]}""")
      assert(s4 == 200, over)
      assert(over.contains(""""file":"day1"""") &&
        over.contains(""""charts":["""))
      assert(over.contains(""""device":"all"""") &&
        over.contains(""""device":"dev8-0""""))
      // a missing section errors like the reference's resolve_header
      assert(post("/charts/overview",
        """{"file":"day1","aliases":["NoSuch"]}""")._1 == 400)

      // compare overlay: per-file series on the rebased 24h axis
      val (s5, cmp) = post("/charts/compare",
        """{"files":["day1","day2"],"header":"CPU","metric":"%idle",
           "mode":"overlay"}""")
      assert(s5 == 200, cmp)
      assert(cmp.contains(""""mode":"overlay"""") &&
        cmp.contains(""""metric":"%idle"""") &&
        cmp.contains(""""file":"day1"""") && cmp.contains(""""file":"day2""""))
      assert(cmp.contains("\"aligned\":\"2000-01-01 00:10:01\""))
      // pooled y-range across files (padded, not zero-clamped: %idle
      // sits near 100 so the padded min stays positive)
      assert(cmp.contains(""""y_range":{"min":96.9"""))
      // sequential keeps the real time axis; /charts/multi is an alias
      val (s6, seq) = post("/charts/multi",
        """{"files":["day1","day2"],"header":"CPU","metric":"%idle",
           "mode":"sequential"}""")
      assert(s6 == 200 && seq.contains(""""mode":"sequential"""") &&
        !seq.contains("aligned"))
      // guards: <2 files, unknown mode
      assert(post("/charts/compare",
        """{"files":["day1"],"header":"CPU","metric":"%idle"}""")._1 == 400)
      assert(post("/charts/compare",
        """{"files":["day1","day2"],"header":"CPU","metric":"%idle",
           "mode":"spiral"}""")._1 == 400)
    } finally server.stop()
  }

  test("password hashes are wire-compatible with the reference's format") {
    import graft.service.SarAuth
    // generated by the reference's exact recipe (code/hashing.py:13-30,
    // hashlib.pbkdf2_hmac('sha512', pw, salt, 100000)) with salt 'a'*64 —
    // a stored hash from the reference's user DB must verify here
    val stored = "a" * 64 +
      "c29a211a2e3f545ba85fc8a203e4a720063f6b7680f61d7c58a6de942315f65" +
      "89fd4dc439095493b05742471cf611c90c772aae413e00e328c7e5766a7c964a6"
    assert(SarAuth.verifyPassword(stored, "linux"))
    assert(!SarAuth.verifyPassword(stored, "Linux"))
    assert(!SarAuth.verifyPassword("short", "linux"))
    // our own hashes round-trip and salt differently each time
    val h1 = SarAuth.hashPassword("pw1234")
    val h2 = SarAuth.hashPassword("pw1234")
    assert(h1 != h2 && SarAuth.verifyPassword(h1, "pw1234") &&
      SarAuth.verifyPassword(h2, "pw1234") &&
      !SarAuth.verifyPassword(h1, "pw1235"))
  }

  test("bearer-token auth: login, token checks, roles, admin gates") {
    import graft.service.SarAuth
    val base = Files.createTempDirectory("graft_auth").toString
    val tenants = new SarTenants(spark, base)
    val auth = new SarAuth(spark, base, secret = "spec-secret")
    auth.ensureUser("root", "adminpw", "admin")
    auth.ensureUser("alice", "alicepw")
    val server = new SarHttpServer(tenants, auth = Some(auth))
    val port = server.start()
    val root = s"http://localhost:$port/api/v1"
    def withTok(method: String, path: String, tok: String,
        body: String = ""): (Int, String) = {
      val (s, b, _) = request(method, s"$root$path", "ignored-x-user",
        body.getBytes("UTF-8"),
        if (tok.isEmpty) Map.empty else Map("Authorization" -> s"Bearer $tok"))
      (s, b)
    }
    try {
      // /health answers unauthenticated even with the bearer gate on
      // (api/main.py:458-460 — the liveness probe a load balancer hits)
      assert(withTok("GET", "/health", "") == (200, """{"status":"ok"}"""))

      // no token → 401 + WWW-Authenticate challenge
      val conn = new java.net.URL(s"$root/files").openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 401 &&
        conn.getHeaderField("WWW-Authenticate") == "Bearer")

      // login: wrong password and unknown user are the same 401
      assert(withTok("POST", "/token", "",
        """{"username":"alice","password":"nope"}""")._1 == 401)
      assert(withTok("POST", "/token", "",
        """{"username":"mallory","password":"nope"}""")._1 == 401)
      val (sT, tokBody) = withTok("POST", "/token", "",
        """{"username":"alice","password":"alicepw"}""")
      assert(sT == 200 && tokBody.contains(""""token_type":"bearer"""") &&
        tokBody.contains(""""expires_at":"""))
      val tok = tokBody.split(""""access_token":"""")(1).split('"')(0)

      // the token's user selects the tenant; X-User is dead weight now
      assert(withTok("GET", "/files", tok)._2 == """{"files":[]}""")
      val up = resource("sa_24h.txt").getBytes("UTF-8")
      assert(withTok("PUT", "/files/authday", tok,
        new String(up, "UTF-8"))._1 == 201)
      assert(withTok("GET", "/files", tok)._2 == """{"files":["authday"]}""")

      // forged / malformed / expired tokens are 401 with the reference's
      // detail strings (api/auth.py:60-83)
      val forged = tok.substring(0, tok.lastIndexOf('.')) + "." + "0" * 64
      assert(withTok("GET", "/files", forged)._2.contains("signature"))
      assert(withTok("GET", "/files", "garbage")._1 == 401)
      val (expired, _) = auth.createToken("alice", ttlSeconds = -1)
      assert(withTok("GET", "/files", expired)._2.contains("expired"))

      // roles: /users/me, admin-only listing/creation/maintenance
      assert(withTok("GET", "/users/me", tok)._2 ==
        """{"username":"alice","role":"user"}""")
      assert(withTok("GET", "/users", tok)._1 == 403)
      assert(withTok("GET", "/admin/disk-usage", tok)._1 == 403)
      assert(withTok("POST", "/admin/cleanup?days=30", tok)._1 == 403)
      val (sR, rootTokB) = withTok("POST", "/token", "",
        """{"username":"root","password":"adminpw"}""")
      assert(sR == 200)
      val rootTok = rootTokB.split(""""access_token":"""")(1).split('"')(0)
      assert(withTok("GET", "/users", rootTok)._2.contains(
        """{"username":"alice","role":"user"}"""))
      assert(withTok("GET", "/admin/disk-usage", rootTok)._1 == 200)
      // admin may scope cleanup to any tenant (api/main.py:216-226)
      assert(withTok("POST",
        "/admin/cleanup?days=30&username=alice&dry_run=true",
        rootTok)._1 == 200)

      // user creation: 201, duplicate 409, weak password / bad role 400
      assert(withTok("POST", "/users", rootTok,
        """{"username":"bob","password":"bobpw123"}""")._1 == 201)
      assert(auth.login("bob", "bobpw123"))
      assert(withTok("POST", "/users", rootTok,
        """{"username":"bob","password":"bobpw123"}""")._1 == 409)
      assert(withTok("POST", "/users", rootTok,
        """{"username":"carol","password":"x"}""")._1 == 400)
      assert(withTok("POST", "/users", rootTok,
        """{"username":"carol","password":"carolpw","role":"god"}""")._1
        == 400)
      assert(withTok("POST", "/users", tok,
        """{"username":"carol","password":"carolpw"}""")._1 == 403)

      // the store persists: a fresh SarAuth over the same dir sees bob
      val reloaded = new SarAuth(spark, base, secret = "spec-secret")
      assert(reloaded.login("bob", "bobpw123") &&
        reloaded.isAdmin("root") && !reloaded.isAdmin("bob"))
    } finally server.stop()
  }

  test("SSO handshake: secret exchange, JIT provisioning, single-use " +
      "UI token, purpose isolation") {
    import graft.service.SarAuth
    val base = Files.createTempDirectory("graft_sso").toString
    val tenants = new SarTenants(spark, base)
    val auth = new SarAuth(spark, base, secret = "spec-secret")
    auth.ensureUser("root", "adminpw", "admin")
    val server = new SarHttpServer(tenants, auth = Some(auth),
      ssoSecret = Some("sso-shared"), ssoDefaultPassword = Some("ssodefault"),
      uiBaseUrl = "http://ui.example")
    val port = server.start()
    val root = s"http://localhost:$port/api/v1"
    def call(method: String, path: String,
        headers: Map[String, String], body: String = ""): (Int, String) = {
      val (s, b, _) = request(method, s"$root$path", "ignored",
        body.getBytes("UTF-8"), headers)
      (s, b)
    }
    try {
      // missing / wrong shared secret → 401; never a provisioned user
      assert(call("POST", "/sso/token", Map.empty,
        """{"username":"eve"}""")._1 == 401)
      assert(call("POST", "/sso/token", Map("X-SSO-Secret" -> "nope"),
        """{"username":"eve"}""")._1 == 401)
      assert(auth.role("eve").isEmpty)

      // valid exchange provisions eve just-in-time with role 'user'
      val (s1, b1) = call("POST", "/sso/token",
        Map("X-SSO-Secret" -> "sso-shared"),
        """{"username":"eve","file":"day one"}""")
      assert(s1 == 200 && b1.contains(""""provisioned":true"""))
      assert(auth.role("eve").contains("user") &&
        auth.login("eve", "ssodefault"))
      // the redirect carries the url-encoded file preselect + UI token
      assert(b1.contains("http://ui.example/?sso_token=") &&
        b1.contains("file=day+one"))
      val apiTok = b1.split(""""access_token":"""")(1).split('"')(0)
      val uiTok = b1.split("sso_token=")(1).split('"')(0).split("&")(0)

      // the api token works on data routes, the UI token does NOT
      assert(call("GET", "/files",
        Map("Authorization" -> s"Bearer $apiTok"))._1 == 200)
      assert(call("GET", "/files",
        Map("Authorization" -> s"Bearer $uiTok"))._1 == 401)
      // /sso/validate consumes the UI token once; replay and api-token
      // use are both 401
      val (sv, bv) = call("GET", "/sso/validate",
        Map("Authorization" -> s"Bearer $uiTok"))
      assert(sv == 200 &&
        bv == """{"username":"eve","role":"user"}""")
      assert(call("GET", "/sso/validate",
        Map("Authorization" -> s"Bearer $uiTok"))._2.contains("already used"))
      assert(call("GET", "/sso/validate",
        Map("Authorization" -> s"Bearer $apiTok"))._2.contains(
        "Not an SSO UI token"))

      // second exchange: existing user is NOT re-provisioned
      val (s2, b2) = call("POST", "/sso/token",
        Map("X-SSO-Secret" -> "sso-shared"), """{"username":"eve"}""")
      assert(s2 == 200 && b2.contains(""""provisioned":false"""))

      // SSO users go through the same role system: eve is no admin
      val eveTok = b2.split(""""access_token":"""")(1).split('"')(0)
      assert(call("GET", "/users",
        Map("Authorization" -> s"Bearer $eveTok"))._1 == 403)
    } finally server.stop()

    // a server without a shared secret refuses the handshake
    val bare = new SarHttpServer(tenants, auth = Some(auth))
    val p2 = bare.start()
    try {
      val (s, b, _) = request("POST",
        s"http://localhost:$p2/api/v1/sso/token", "ignored",
        """{"username":"eve"}""".getBytes("UTF-8"),
        Map("X-SSO-Secret" -> "sso-shared"))
      assert(s == 503 && b.contains("SSO is not configured"))
    } finally bare.stop()
  }

  test("multipart POST /files: batch upload, per-file errors, all-fail 400") {
    val base = Files.createTempDirectory("graft_multipart").toString
    val tenants = new SarTenants(spark, base)
    val server = new SarHttpServer(tenants)
    val port = server.start()
    val root = s"http://localhost:$port/api/v1"
    val boundary = "GraftSpecBoundary42"
    def part(name: String, content: Array[Byte]): Array[Byte] =
      (s"--$boundary\r\nContent-Disposition: form-data; " +
        s"""name="files"; filename="$name"\r\n""" +
        "Content-Type: application/octet-stream\r\n\r\n").getBytes("UTF-8") ++
        content ++ "\r\n".getBytes("UTF-8")
    def multipart(parts: Array[Byte]*): Array[Byte] =
      parts.reduce(_ ++ _) ++ s"--$boundary--\r\n".getBytes("UTF-8")
    def post(body: Array[Byte], user: String = "alice"): (Int, String) = {
      val (s, b, _) = request("POST", s"$root/files", user, body,
        Map("Content-Type" -> s"multipart/form-data; boundary=$boundary"))
      (s, b)
    }
    try {
      val sar = resource("sa_24h.txt").getBytes("UTF-8")
      // two good files in one request — client paths reduce to basenames
      val (s1, body1) = post(multipart(
        part("C:\\logs\\mp_day1", sar), part("mp_day2", sar)))
      assert(s1 == 201, body1)
      assert(body1.contains(""""name":"mp_day1"""") &&
        body1.contains(""""name":"mp_day2"""") &&
        body1.contains(""""errors":[]"""))
      assert(get(s"$root/files")._2 == """{"files":["mp_day1","mp_day2"]}""")

      // a bad part fails alone; the good one still lands (binary junk is
      // neither sar text nor xz nor a binary sa file)
      val junk = Array.tabulate[Byte](64)(i => (i * 7 % 251).toByte)
      val (s2, body2) = post(multipart(
        part("mp_day3", sar), part("mp_bad", junk)))
      assert(s2 == 201, body2)
      assert(body2.contains(""""name":"mp_day3"""") &&
        body2.contains(""""file":"mp_bad"""") &&
        body2.contains(""""detail":"""))

      // every part failing is the reference's 400 shape
      val (s3, body3) = post(multipart(part("mp_bad2", junk)))
      assert(s3 == 400 && body3.contains(""""uploaded":[]"""), body3)

      // no boundary / no file parts are 400s
      val (s4, _, _) = request("POST", s"$root/files", "alice",
        "plain".getBytes("UTF-8"), Map("Content-Type" -> "text/plain"))
      assert(s4 == 400)
      val fieldOnly = (s"--$boundary\r\nContent-Disposition: form-data; " +
        "name=\"note\"\r\n\r\nhello\r\n").getBytes("UTF-8") ++
        s"--$boundary--\r\n".getBytes("UTF-8")
      assert(post(fieldOnly)._1 == 400)
    } finally server.stop()
  }

  test("engine-demo mode rejects cross-tenant cleanup via username param") {
    val base = Files.createTempDirectory("graft_demo_cleanup").toString
    val tenants = new SarTenants(spark, base)
    tenants.forUser("alice") // materialize the caller's tenant directory
    val server = new SarHttpServer(tenants)
    val port = server.start()
    val root = s"http://localhost:$port/api/v1"
    try {
      // without auth, username= may not silently target another tenant
      assert(send("POST", s"$root/admin/cleanup?days=30&username=bob",
        Array.emptyByteArray)._1 == 403)
      // naming yourself is fine
      assert(send("POST", s"$root/admin/cleanup?days=30&username=alice",
        Array.emptyByteArray)._1 == 200)
    } finally server.stop()
  }

  test("unknown stored file is a 404; other failures a generic 500") {
    val base = Files.createTempDirectory("graft_errors").toString
    val tenants = new SarTenants(spark, base)
    val up = Files.createTempFile("sa_err", ".txt")
    Files.writeString(up, resource("sa_24h.txt"))
    tenants.forUser("alice").upload(up.toString, "broken")
    val server = new SarHttpServer(tenants)
    val port = server.start()
    val root = s"http://localhost:$port/api/v1"
    try {
      val notFound = """{"detail":"no stored file 'nosuch'"}"""
      for (path <- Seq("/files/nosuch", "/files/nosuch/headers",
          "/files/nosuch/data?header=CPU",
          "/files/nosuch/statistics?header=CPU"))
        assert(get(root + path) == (404, notFound, "application/json"), path)
      assert(send("POST", s"$root/charts/single",
        """{"file":"nosuch","header":"CPU"}""".getBytes("UTF-8")) ==
        (404, notFound))

      // a corrupt stored parquet fails inside Spark: the body must not
      // echo the exception, which names the storage directory
      val dir = java.nio.file.Paths.get(base, "alice", "broken.parquet")
      val parts = scala.util.Using.resource(Files.list(dir)) { ps =>
        ps.iterator().asScala.filter(_.getFileName.toString
          .startsWith("part-")).toList
      }
      parts.foreach(Files.write(_, "not parquet".getBytes("UTF-8")))
      val (s, body, _) = get(s"$root/files/broken")
      assert(s == 500 && body == """{"detail":"internal server error"}""")
    } finally server.stop()
  }

  test("unknown metric on /data and /statistics is a 400 listing metrics") {
    val base = Files.createTempDirectory("graft_metric").toString
    val tenants = new SarTenants(spark, base)
    val up = Files.createTempFile("sa_metric", ".txt")
    Files.writeString(up, resource("sa_24h.txt"))
    tenants.forUser("alice").upload(up.toString, "day1")
    val server = new SarHttpServer(tenants)
    val port = server.start()
    val root = s"http://localhost:$port/api/v1/files/day1"
    try {
      for (path <- Seq("/data?header=CPU&metrics=nope",
          "/data?header=CPU&metrics=nope&format=csv",
          "/statistics?header=CPU&metrics=nope",
          "/statistics?header=CPU&metrics=nope&format=csv")) {
        val (s, body, _) = get(root + path)
        assert(s == 400 && body.contains("Unknown metric 'nope'") &&
          body.contains("available") && body.contains("%idle"),
          s"$path -> $s $body")
      }
    } finally server.stop()
    // the MCP shell answers the same input with a tool error
    val data = new SarMcpServer(tenants).handleLine(
      """{"jsonrpc":"2.0","id":1,"method":"tools/call","params":""" +
        """{"name":"get_data","arguments":{"name":"day1",""" +
        """"header":"CPU","metric":"nope","username":"alice"}}}""").get
    assert(data.contains(""""isError":true""") &&
      data.contains("Unknown metric 'nope'"), data)
  }

  test("JSON request bodies are capped at 1 MiB before auth") {
    import graft.service.SarAuth
    val base = Files.createTempDirectory("graft_cap").toString
    val auth = new SarAuth(spark, base, secret = "spec-secret")
    auth.ensureUser("alice", "alicepw")
    val server = new SarHttpServer(new SarTenants(spark, base),
      auth = Some(auth))
    val port = server.start()
    def login(body: String): Int = request("POST",
      s"http://localhost:$port/api/v1/token", "x", body.getBytes("UTF-8"))._1
    try {
      assert(login("""{"username":"alice","password":"""" +
        "x" * (2 << 20) + "\"}") == 413)
      assert(login("""{"username":"alice","password":"alicepw"}""") == 200)
    } finally server.stop()
  }
}
