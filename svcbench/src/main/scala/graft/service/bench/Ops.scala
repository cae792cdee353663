package graft.service.bench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import scala.collection.immutable.ListMap

import graft.ops.SarOps
import graft.service.{Json, JsonParse, SarService, ServicePayloads}

/** One request of the benchmark's mix. `route` names it in every
  * metric; `tenant` is the user it runs as. */
sealed trait Op {
  def route: String
  def tenant: String
}

object Op {
  /** The overview's default sections, by the headers the generator writes. */
  val OverviewHeaders: Seq[String] = Seq(
    "%usr %nice %sys %iowait %steal %irq %soft %guest %gnice %idle",
    "dentunusd file-nr inode-nr pty-nr",
    "runq-sz plist-sz ldavg-1 ldavg-5 ldavg-15 blocked",
    "kbmemfree kbavail kbmemused %memused kbbuffers kbcached kbcommit " +
      "%commit kbactive kbinact kbdirty kbanonpg kbslab kbkstack kbpgtbl " +
      "kbvmused",
    "kbswpfree kbswpused %swpused kbswpcad %swpcad")

  /** Every route with per-route Spark counters, in report order. */
  val Routes: Seq[String] = Seq("info", "headers", "data_json", "data_csv",
    "stats_json", "stats_csv", "chart_single", "chart_overview",
    "chart_compare", "upload")

  /** The service's default device for a section: 'all' for CPU, else the
    * first device in plain sort order; None for scalar sections. */
  def defaultDevice(s: SectionTruth): Option[String] =
    if (!s.deviceScoped) None
    else if (s.devices.contains("all")) Some("all")
    else Some(s.devices.sorted.head)
}

/** A stored file as the service knows it: tenant, storage name and the
  * truth of the content last uploaded under that name. */
final case class Stored(tenant: String, name: String, truth: Truth)

final case class Info(f: Stored) extends Op {
  def route = "info"; def tenant = f.tenant
}
final case class Headers(f: Stored) extends Op {
  def route = "headers"; def tenant = f.tenant
}
final case class Data(f: Stored, header: String, csv: Boolean) extends Op {
  def route = if (csv) "data_csv" else "data_json"; def tenant = f.tenant
}
final case class Stats(f: Stored, header: String, csv: Boolean) extends Op {
  def route = if (csv) "stats_csv" else "stats_json"; def tenant = f.tenant
}
final case class ChartSingle(f: Stored, header: String, metric: String)
    extends Op {
  def route = "chart_single"; def tenant = f.tenant
}
final case class Overview(f: Stored) extends Op {
  def route = "chart_overview"; def tenant = f.tenant
}
final case class Compare(a: Stored, b: Stored, header: String,
    metric: String) extends Op {
  def route = "chart_compare"; def tenant = a.tenant
}
final case class Upload(f: Stored, path: String) extends Op {
  def route = "upload"; def tenant = f.tenant
}
final case class Delete(f: Stored) extends Op {
  def route = "delete"; def tenant = f.tenant
}

/** A closed-loop HTTP client of the service (one connection pool). */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port/api/v1"

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  private def query(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("?", "&", "")

  /** Runs one op; returns (status, body). */
  def send(op: Op): (Int, String) = {
    val (method, path, body) = op match {
      case Info(f) => ("GET", s"/files/${f.name}", None)
      case Headers(f) => ("GET", s"/files/${f.name}/headers", None)
      case Data(f, h, csv) => ("GET", s"/files/${f.name}/data" +
        query(Seq("header" -> h) ++ (if (csv) Seq("format" -> "csv")
          else Nil): _*), None)
      case Stats(f, h, csv) => ("GET", s"/files/${f.name}/statistics" +
        query(Seq("header" -> h) ++ (if (csv) Seq("format" -> "csv")
          else Nil): _*), None)
      case ChartSingle(f, h, m) => ("POST", "/charts/single",
        Some(Json.render(ListMap("file" -> f.name, "header" -> h,
          "metric" -> m))))
      case Overview(f) => ("POST", "/charts/overview",
        Some(Json.render(ListMap("file" -> f.name))))
      case Compare(a, b, h, m) => ("POST", "/charts/compare",
        Some(Json.render(ListMap("files" -> Seq(a.name, b.name),
          "header" -> h, "metric" -> m, "mode" -> "overlay"))))
      case Upload(f, _) => ("PUT", s"/files/${f.name}", None)
      case Delete(f) => ("DELETE", s"/files/${f.name}", None)
    }
    val publisher = op match {
      case Upload(_, p) => HttpRequest.BodyPublishers.ofFile(Paths.get(p))
      case _ => body.map(HttpRequest.BodyPublishers.ofString)
        .getOrElse(HttpRequest.BodyPublishers.noBody())
    }
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .header("X-User", op.tenant)
      .header("Content-Type", "application/json")
      .method(method, publisher).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
}

/** The same responses computed in-process: the payload builders the HTTP
  * routes call, rendered by the same JSON writer, with no HTTP around. */
object Direct {
  def call(op: Op, svc: SarService): (Int, String) = op match {
    case Info(f) => 200 -> Json.render(ServicePayloads.fileInfo(svc, f.name))
    case Headers(f) =>
      200 -> Json.render(ServicePayloads.headerDetails(svc, f.name))
    case Data(f, h, false) => 200 -> Json.render(ServicePayloads.data(svc,
      f.name, h, None, None, None, Nil, 10000))
    case Data(f, h, true) =>
      val (table, _) = svc.getTableWithMeta(f.name, h)
      200 -> csvTable(table.columns.toSeq, table.limit(10000).collect()
        .map(r => r.toSeq))
    case Stats(f, h, false) => 200 -> Json.render(ServicePayloads.statistics(
      svc, f.name, h, None, None, None, Nil))
    case Stats(f, h, true) =>
      val (stats, meta) = svc.statisticsWithMeta(f.name, h)
      200 -> svc.statisticsCsv(Seq(meta.alias -> stats))
    case ChartSingle(f, h, m) => 200 -> Json.render(
      ServicePayloads.chartSingle(svc, f.name, h, Some(m), None, None, None,
        None))
    case Overview(f) => 200 -> Json.render(
      ServicePayloads.chartOverview(svc, f.name, Nil, None, None))
    case Compare(a, b, h, m) => 200 -> Json.render(
      ServicePayloads.chartCompare(svc, Seq(a.name, b.name), h, m, None,
        "overlay"))
    case Upload(f, p) =>
      val fi = svc.upload(p, f.name)
      201 -> Json.render(ListMap("name" -> fi.name, "rows" -> fi.rows,
        "headers" -> fi.headers))
    case Delete(f) =>
      if (svc.delete(f.name)) 200 -> Json.render(ListMap("deleted" -> f.name))
      else 404 -> "{}"
  }

  /** The /data CSV body, cell for cell as the HTTP route writes it. */
  def csvTable(cols: Seq[String], rows: Seq[Seq[Any]]): String = {
    def cell(v: Any): String = v match {
      case null => ""
      case s: String if s.exists(",\"\n".contains(_)) =>
        "\"" + s.replace("\"", "\"\"") + "\""
      case other => other.toString
    }
    (cols.mkString(",") +: rows.map(_.map(cell).mkString(",")))
      .mkString("\n")
  }
}

/** Checks a response against the generator's ground truth. Returns the
  * first mismatch, or None when the response is right. */
object Validate {
  private def near(a: Double, b: Double, rel: Double = 1e-5) =
    math.abs(a - b) <= 1e-3 + rel * math.abs(b)

  private def num(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case s: String => s.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  private def obj(v: Any) = Truth.obj(v)
  private def list(v: Any) = Truth.list(v)

  /** The padded y-range the chart layer reports for [lo, hi]. */
  private def padded(lo: Double, hi: Double): (Double, Double) = {
    val span = hi - lo
    val p = if (span == 0.0) math.max(math.abs(hi) * 0.1, 1.0) else span * 0.1
    (if (lo >= 0.0) math.max(0.0, lo - p) else lo - p, hi + p)
  }

  private def metricTruth(t: Truth, header: String,
      metric: String): MetricTruth = {
    val s = t.section(header)
    s.metrics(Op.defaultDevice(s).getOrElse(""))(metric)
  }

  private def fail(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)

  private def all(checks: Iterable[Option[String]]): Option[String] =
    checks.iterator.flatten.nextOption()

  def apply(op: Op, status: Int, body: String): Option[String] = {
    val want = op match {
      case _: Upload => 201
      case _ => 200
    }
    if (status != want) return Some(s"${op.route}: HTTP $status: " +
      body.take(200))
    try check(op, body)
    catch { case e: Exception => Some(s"${op.route}: unreadable response: $e") }
  }

  /** A chart's series: n source rows, k metrics, strided to the budget. */
  private def seriesChecks(c: Map[String, Any], n: Long,
      k: Int): Seq[Option[String]] = {
    val step = SarOps.adaptiveStep(n, k)
    val points = list(c("series")).length
    val want = (n + step - 1) / step * k
    Seq(
      fail(num(c("rows")).toLong == n, s"chart rows ${c("rows")} != $n"),
      fail(num(c("step")).toInt == step, s"chart step ${c("step")} != $step"),
      fail(points == want, s"chart points $points != $want"))
  }

  private def check(op: Op, body: String): Option[String] = op match {
    case Info(f) =>
      val m = obj(JsonParse.parse(body))
      all(Seq(
        fail(num(m("rows")).toLong == f.truth.rows,
          s"info rows ${m("rows")} != ${f.truth.rows}"),
        fail(list(m("headers")).map(_.toString).toSet ==
          f.truth.sections.keySet, s"info headers ${m("headers")}")))
    case Headers(f) =>
      val ds = list(JsonParse.parse(body)).map(obj)
      all(fail(ds.map(_("header").toString).toSet == f.truth.sections.keySet,
        "header details: wrong header set") +: ds.map { d =>
        val s = f.truth.section(d("header").toString)
        val devices = list(d("devices")).map(_.toString)
        fail(d("device_scoped") == s.deviceScoped &&
          devices == SarOps.sortDevices(s.devices),
          s"header ${d("header")}: devices $devices")
      })
    case Data(f, h, csv) =>
      val s = f.truth.section(h)
      val rows = math.min(s.samples, 10000L)
      val m0 = h.split(" ").head
      val first = metricTruth(f.truth, h, m0).first
      if (!csv) {
        val m = obj(JsonParse.parse(body))
        val data = list(m("data")).map(obj)
        all(Seq(
          fail(num(m("rows")).toLong == rows && data.length == rows,
            s"data rows ${m("rows")} != $rows"),
          fail(m("truncated") == (s.samples > 10000), "data truncated flag"),
          fail(data.head("date") == f.truth.firstDate,
            s"data first date ${data.head("date")} != ${f.truth.firstDate}"),
          fail(near(num(data.head(m0)), first),
            s"data first $m0 ${data.head(m0)} != $first")))
      } else {
        val lines = body.split("\n")
        val cells = lines(1).split(",")
        all(Seq(
          fail(lines.length == rows + 1, s"csv lines ${lines.length}"),
          fail(lines(0) == ("date" +: h.split(" ").toSeq).mkString(","),
            s"csv header ${lines(0)}"),
          fail(cells(0).startsWith(f.truth.firstDate), s"csv date ${cells(0)}"),
          fail(near(cells(1).toDouble, first), s"csv first $m0 ${cells(1)}")))
      }
    case Stats(f, h, csv) =>
      val metrics = h.split(" ").toSeq
      val got: Map[String, Map[String, Double]] =
        if (!csv) obj(obj(JsonParse.parse(body))("statistics")).map {
          case (k, v) => k -> obj(v).collect {
            case (sn, x) if x != null => sn -> num(x)
          }
        }
        else {
          // label line, then "statistic,<metrics>", then one line per stat
          val lines = body.trim.split("\n").drop(1).map(_.split(",", -1))
          val names = lines.head.drop(1)
          names.zipWithIndex.map { case (mn, i) =>
            mn -> lines.drop(1).collect {
              case l if l(i + 1).nonEmpty => l(0) -> l(i + 1).toDouble
            }.toMap
          }.toMap
        }
      all(fail(got.keySet == metrics.toSet, s"stats metrics ${got.keySet}") +:
        metrics.map { mn =>
          val t = metricTruth(f.truth, h, mn)
          val g = got.getOrElse(mn, Map.empty)
          fail(g.get("count").contains(t.count.toDouble) &&
            g.get("min").exists(near(_, t.min)) &&
            g.get("max").exists(near(_, t.max)) &&
            g.get("mean").exists(near(_, t.sum / t.count, 1e-4)),
            s"stats $mn: $g vs $t")
        })
    case ChartSingle(f, h, mn) =>
      val c = obj(JsonParse.parse(body))
      val t = metricTruth(f.truth, h, mn)
      val (lo, hi) = padded(t.min, t.max)
      val yr = obj(c("y_range"))
      all(seriesChecks(c, f.truth.section(h).samples, 1) ++ Seq(
        fail(list(c("restarts")) == f.truth.restarts,
          s"chart restarts ${c("restarts")} != ${f.truth.restarts}"),
        fail(near(num(yr("min")), lo) && near(num(yr("max")), hi),
          s"chart y_range $yr vs ($lo, $hi)")))
    case Overview(f) =>
      val charts = list(obj(JsonParse.parse(body))("charts")).map(obj)
      all(fail(charts.map(_("header")) == Op.OverviewHeaders,
        s"overview headers ${charts.map(_("header"))}") +:
        charts.flatMap { c =>
          val h = c("header").toString
          seriesChecks(c, f.truth.section(h).samples, h.split(" ").length)
        })
    case Compare(a, b, h, mn) =>
      val c = obj(JsonParse.parse(body))
      val files = list(c("files")).map(obj)
      // each file's range is padded on its own, then pooled
      val rs = Seq(a, b).map { s =>
        val t = metricTruth(s.truth, h, mn)
        padded(t.min, t.max)
      }
      val (lo, hi) = (rs.map(_._1).min, rs.map(_._2).max)
      val yr = obj(c("y_range"))
      all(Seq(
        fail(files.map(_("file")) == Seq(a.name, b.name), "compare files"),
        fail(near(num(yr("min")), lo) && near(num(yr("max")), hi),
          s"compare y_range $yr vs ($lo, $hi)")) ++
        files.zip(Seq(a, b)).flatMap { case (fc, s) =>
          seriesChecks(fc, s.truth.section(h).samples, 1)
        })
    case Upload(f, _) =>
      val m = obj(JsonParse.parse(body))
      all(Seq(
        fail(num(m("rows")).toLong == f.truth.rows,
          s"upload rows ${m("rows")} != ${f.truth.rows}"),
        fail(list(m("headers")).map(_.toString).toSet ==
          f.truth.sections.keySet, "upload headers")))
    case Delete(f) =>
      fail(obj(JsonParse.parse(body))("deleted") == f.name, "delete body")
  }
}
