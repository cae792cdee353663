package graft.service

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.Base64

import javax.crypto.{Mac, SecretKeyFactory}
import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}

import org.apache.spark.sql.SparkSession

/** Bearer-token auth for the HTTP shell, mirroring the reference's
  * stateless HMAC scheme and PBKDF2 user store:
  *
  *   - passwords: PBKDF2-HMAC-SHA512, 100k iterations, 64-hex-char salt
  *     prefix + 128-hex-char hash (code/hashing.py:13-30 byte-for-byte,
  *     so a stored hash from the reference's SQLite DB verifies here);
  *   - tokens: `base64url(username|expiry|purpose) + "." +
  *     hex(hmac_sha256(secret, payload))` with a 24 h TTL
  *     (api/auth.py:29-57) — stateless, so no token table to shard and
  *     nothing server-side to look up per request;
  *   - roles: `user` / `admin`; admin gates the user-management and
  *     maintenance routes (api/main.py:166-226).
  *
  * The user table is tiny operational metadata (like [[UserStatus]]),
  * so it lives in memory and persists to one parquet file under
  * `<baseDir>/config` on every change — login/role checks never run a
  * Spark job, only mutations do.
  *
  * Two token purposes, exactly api/auth.py:
  *   - 'api' — the regular bearer for every data endpoint; [[decode]]
  *     rejects anything else like get_current_user (api/auth.py:95-108);
  *   - 'ui'  — short-lived (180 s default) SINGLE-USE token carried in
  *     an SSO redirect URL and accepted only by `GET /sso/validate`
  *     ([[decodeUi]], consume_ui_token api/auth.py:110-124). A nonce in
  *     the payload makes each one unique; consumed nonces are tracked
  *     in-process (the reference's non-Redis fallback — the Redis copy
  *     is subsumed like S5).
  *
  * MULTI-INSTANCE NOTE: the default `secret` is a per-process random
  * UUID (api/auth.py:32's `secrets.token_hex` fallback) — fine for one
  * instance, but tokens then die with the process and won't validate on
  * a second instance behind a load balancer. Deployments with more than
  * one instance (or that must survive restarts) MUST pass the same
  * `secret` to every instance — the reference's `SAR_API_SECRET`
  * contract. Single-use UI-token tracking is per-process either way;
  * route `/sso/validate` to the issuing instance (sticky session) or
  * accept cross-instance replay within the 180 s TTL.
  */
class SarAuth(spark: SparkSession, baseDir: String,
    secret: String = java.util.UUID.randomUUID().toString,
    tokenTtlSeconds: Long = 24 * 3600,
    uiTokenTtlSeconds: Long = 180) {

  import SarAuth._

  val Roles: Set[String] = Set("user", "admin")

  private val usersPath = s"$baseDir/config/users.parquet"
  // username -> (pwhash, role)
  private var users: Map[String, (String, String)] = load()

  private def load(): Map[String, (String, String)] = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(usersPath)))
      Map.empty
    else spark.read.parquet(usersPath).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
  }

  private def persist(): Unit = {
    import spark.implicits._
    users.toSeq.map { case (u, (h, r)) => (u, h, r) }
      .toDF("username", "pwhash", "role")
      .coalesce(1).write.mode("overwrite").parquet(usersPath)
    spark.catalog.refreshByPath(usersPath)
  }

  /** add_userdata (sql_stuff.py:112): false when the user exists. */
  def addUser(username: String, password: String,
      role: String = "user"): Boolean = synchronized {
    require(Roles(role), s"unknown role '$role'; available: $Roles")
    require(username.matches(SarTenants.UserPattern),
      s"invalid username '$username'")
    require(password.length >= 6, "password must be at least 6 characters")
    if (users.contains(username)) false
    else {
      users += username -> (hashPassword(password), role)
      persist(); true
    }
  }

  /** Idempotent seeding (the API bootstrap's role): create-or-leave. */
  def ensureUser(username: String, password: String,
      role: String = "user"): Unit = synchronized {
    if (!users.contains(username)) addUser(username, password, role)
  }

  /** login_user (sql_stuff.py:103): hash verify, false for unknown. */
  def login(username: String, password: String): Boolean =
    synchronized(users.get(username))
      .exists { case (h, _) => verifyPassword(h, password) }

  def role(username: String): Option[String] =
    synchronized(users.get(username)).map(_._2)

  def isAdmin(username: String): Boolean = role(username).contains("admin")

  /** view_all_users (sql_stuff.py:94): (username, role), name-ordered. */
  def listUsers(): Seq[(String, String)] =
    synchronized(users).toSeq.map { case (u, (_, r)) => (u, r) }.sortBy(_._1)

  // ---- stateless tokens (api/auth.py:40-83) -------------------------

  /** Issue a signed bearer token; returns (token, expiresAtEpochSec). */
  def createToken(username: String,
      ttlSeconds: Long = tokenTtlSeconds): (String, Long) =
    issue(username, ttlSeconds, "api")

  /** Issue a single-use SSO UI token (create_token purpose='ui',
    * api/auth.py:44-57): short TTL, nonce appended so every token is
    * unique and can be consumed exactly once by [[decodeUi]]. */
  def createUiToken(username: String): (String, Long) =
    issue(username, uiTokenTtlSeconds, "ui")

  private def issue(username: String, ttlSeconds: Long,
      purpose: String): (String, Long) = {
    val expiry = System.currentTimeMillis() / 1000 + ttlSeconds
    val fields = Seq(username, expiry.toString, purpose) ++
      (if (purpose == "ui")
        Seq(Base64.getUrlEncoder.withoutPadding.encodeToString {
          val b = new Array[Byte](12)
          new java.security.SecureRandom().nextBytes(b); b
        })
      else Nil)
    val payload = fields.mkString("|")
    val b64 = Base64.getUrlEncoder.withoutPadding
      .encodeToString(payload.getBytes(UTF_8))
    (b64 + "." + sign(payload), expiry)
  }

  /** Verify signature + expiry + purpose; Left(detail) maps to 401. */
  def decode(token: String): Either[String, String] =
    verify(token).flatMap {
      case (user, "api", _) => Right(user)
      case _ => Left("This token is not valid for API access")
    }

  /** Verify AND CONSUME an SSO UI token (consume_ui_token,
    * api/auth.py:110-124): purpose must be 'ui' and the nonce must not
    * have been claimed before — a replayed redirect URL gets a 401. */
  def decodeUi(token: String): Either[String, String] =
    verify(token).flatMap {
      case (user, "ui", nonce) =>
        val key = if (nonce.nonEmpty) nonce else token
        val fresh = synchronized(usedUiNonces.add(key))
        if (fresh) Right(user) else Left("SSO token already used")
      case _ => Left("Not an SSO UI token")
    }

  private val usedUiNonces = scala.collection.mutable.Set.empty[String]

  /** Shared signature/expiry verification → (username, purpose, nonce);
    * a missing purpose field reads as 'api' for wire compatibility
    * (_decode, api/auth.py:60-83). */
  private def verify(token: String)
      : Either[String, (String, String, String)] = {
    val dot = token.lastIndexOf('.')
    if (dot < 0) return Left("Malformed token")
    val (b64, sig) = (token.substring(0, dot), token.substring(dot + 1))
    val payload = try new String(Base64.getUrlDecoder.decode(b64), UTF_8)
      catch { case _: IllegalArgumentException => return Left("Malformed token") }
    // constant-time compare, like hmac.compare_digest (api/auth.py:68)
    if (!java.security.MessageDigest.isEqual(
        sign(payload).getBytes(US_ASCII), sig.getBytes(US_ASCII)))
      return Left("Invalid token signature")
    payload.split("\\|", -1) match {
      case fields if fields.length >= 2 =>
        val purpose = if (fields.length > 2) fields(2) else "api"
        val nonce = if (fields.length > 3) fields(3) else ""
        fields(1).toLongOption match {
          case None => Left("Malformed token")
          case Some(exp) if exp < System.currentTimeMillis() / 1000 =>
            Left("Token expired")
          case Some(_) => Right((fields(0), purpose, nonce))
        }
      case _ => Left("Malformed token")
    }
  }

  private def sign(payload: String): String = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(secret.getBytes(UTF_8), "HmacSHA256"))
    hex(mac.doFinal(payload.getBytes(UTF_8)))
  }
}

object SarAuth {

  /** hash_password (code/hashing.py:13): 64-hex salt + pbkdf2 sha512. */
  def hashPassword(password: String): String = {
    val saltBytes = new Array[Byte](60)
    new java.security.SecureRandom().nextBytes(saltBytes)
    val salt = hex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(saltBytes))
    salt + pbkdf2(password, salt)
  }

  /** verify_password (code/hashing.py:22): recompute with stored salt. */
  def verifyPassword(stored: String, provided: String): Boolean = {
    if (stored.length < 64) return false
    val (salt, hash) = stored.splitAt(64)
    java.security.MessageDigest.isEqual(
      pbkdf2(provided, salt).getBytes(US_ASCII), hash.getBytes(US_ASCII))
  }

  private def pbkdf2(password: String, salt: String): String = {
    val spec = new PBEKeySpec(password.toCharArray,
      salt.getBytes(US_ASCII), 100000, 512)
    hex(SecretKeyFactory.getInstance("PBKDF2WithHmacSHA512")
      .generateSecret(spec).getEncoded)
  }

  private def hex(bytes: Array[Byte]): String =
    bytes.map("%02x".format(_)).mkString
}
