package graft.service.bench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame

import graft.ingest.{SarTextParser, XzIngest}
import graft.meta.HeaderMeta
import graft.ops.SarOps
import graft.service.{Json, RawJson, SarService, ServicePayloads}

/** The requests of [[Direct]] with a span around each public call they
  * make. Layer names are the repo's modules: ingest, store, cache, meta,
  * ops, stats, payload. File info, header details, `/data` and
  * `/statistics` call the same `SarService` functions as the HTTP route;
  * the chart payload builders have no public parts, so chart requests are
  * rebuilt from the calls `ServicePayloads` makes. [[TracedRun]] checks
  * that every traced request launches as many Spark jobs as the direct
  * one, and every response goes through the same [[Validate]] check. */
final class Traced(t: Tracer, svc: SarService) {
  private def sp[T](name: String)(body: => T): T = t.span(name)(body)

  def call(op: Op): (Int, String) = sp("request:" + op.route) {
    op match {
      case Upload(f, p) => 201 -> upload(f, p)
      case Delete(f) => sp("store.delete") {
        if (svc.delete(f.name)) 200 -> render(ListMap("deleted" -> f.name))
        else 404 -> "{}"
      }
      case _ =>
        // the frame the service loads first; every later load() of the
        // request finds it in the service's cache
        Traced.filesOf(op).foreach(f => sp("cache.load")(svc.load(f.name)))
        200 -> read(op)
    }
  }

  private def read(op: Op): String = op match {
    case Info(f) =>
      render(sp("meta.info")(ServicePayloads.fileInfo(svc, f.name)))
    case Headers(f) =>
      render(sp("meta.headers")(ServicePayloads.headerDetails(svc, f.name)))
    case Data(f, h, csv) =>
      val (table, meta) = sp("meta.table")(svc.getTableWithMeta(f.name, h))
      if (csv) {
        val rows = sp("ops.exec")(table.limit(10000).collect())
        sp("payload.render")(Direct.csvTable(table.columns.toSeq,
          rows.map(_.toSeq).toSeq))
      } else {
        val (rows, truncated) = sp("ops.exec")(svc.jsonRecords(table, 10000))
        render(ListMap("header" -> meta.header, "alias" -> meta.alias,
          "device" -> meta.device, "rows" -> rows.length,
          "truncated" -> truncated, "data" -> rows.map(RawJson)))
      }
    case Stats(f, h, csv) =>
      // section resolution and describe are one eager call; TracedRun
      // splits it by the call sites of its Spark jobs
      val (stats, meta) = sp("stats.statistics")(
        svc.statisticsWithMeta(f.name, h))
      if (csv) sp("payload.render")(svc.statisticsCsv(Seq(meta.alias -> stats)))
      else {
        val byMetric = sp("payload.render")(stats.collect()).map { r =>
          r.getString(0) -> ListMap(ServicePayloads.statNames.zipWithIndex
            .map { case (s, i) =>
              s -> (if (r.isNullAt(i + 1)) null else r.get(i + 1))
            }: _*)
        }
        render(ListMap("header" -> meta.header, "alias" -> meta.alias,
          "device" -> meta.device,
          "statistics" -> ListMap(byMetric.toIndexedSeq: _*)))
      }
    case ChartSingle(f, h, m) => render(chart(f.name, h, Some(m), None))
    case Overview(f) =>
      // ServicePayloads.chartOverview
      val charts = ServicePayloads.defaultOverviewAliases.flatMap { a =>
        val d = sp("meta.header_detail")(svc.headerDetail(f.name, a))
        val devices: Seq[Option[String]] =
          if (!d.deviceScoped) Seq(None)
          else if (HeaderMeta.isCpuLike(d.alias)) Seq(Some("all"))
          else d.devices.map(Some(_))
        devices.map(dev => chart(f.name, d.header, None, dev))
      }
      render(ListMap("file" -> f.name, "charts" -> charts))
    case Compare(a, b, h, m) =>
      // ServicePayloads.chartCompare, overlay mode
      val restarts = sp("meta.restarts")(
        svc.restartsByFile(Seq(a.name, b.name)))
      var alias = ""
      var ranges = Seq.empty[(Double, Double)]
      val perFile = Seq(a, b).map { f =>
        val (full, meta) = sp("meta.table")(svc.getTableWithMeta(f.name, h))
        alias = meta.alias
        val table = full.select("date", m)
        ranges ++= sp("ops.exec")(SarOps.yRange(table, Seq(m)))
        val aligned = SarOps.dayOverlayAlign(table, "date", "2000-01-01")
        val (rows, n, step, truncated) =
          series(aligned, Seq("date", "aligned"), Seq(m))
        ListMap("file" -> f.name, "device" -> meta.device,
          "restarts" -> restarts(f.name).map(fmtTs),
          "rows" -> n, "step" -> step, "truncated" -> truncated,
          "series" -> rows)
      }
      render(ListMap("header" -> h, "alias" -> alias, "metric" -> m,
        "mode" -> "overlay", "title" -> alias,
        "y_range" -> ListMap("min" -> ranges.map(_._1).min,
          "max" -> ranges.map(_._2).max),
        "files" -> perFile))
    case other => throw new IllegalArgumentException(s"not a read: $other")
  }

  /** Ingest layers are timed on the same bytes the upload reads; the
    * upload span's own time is then the store layer's (write, cache
    * invalidation). */
  private def upload(f: Stored, path: String): String = {
    val text = sp("ingest.read")(XzIngest.readSarFile(path))
    sp("ingest.parse")(SarTextParser.parseContent(text))
    val fi = sp("store.upload")(svc.upload(path, f.name))
    render(ListMap("name" -> fi.name, "rows" -> fi.rows,
      "headers" -> fi.headers))
  }

  private val tsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def fmtTs(t: java.sql.Timestamp): String =
    t.toLocalDateTime.format(tsFmt)

  private def render(v: Any): String = sp("payload.render")(Json.render(v))

  /** ServicePayloads.seriesRows: count, stride to the point budget, melt,
    * serialise. */
  private def series(table: DataFrame, idCols: Seq[String],
      valueCols: Seq[String]): (Seq[RawJson], Long, Int, Boolean) = {
    val budget = ServicePayloads.chartBudget
    val n = sp("ops.exec")(table.count())
    val step = SarOps.adaptiveStep(n, valueCols.length, budget)
    val strided =
      if (step == 1) table else SarOps.downsampleStride(table, "date", step)
    val melted = SarOps.melt(strided, idCols, valueCols)
    val (rows, truncated) = sp("ops.exec")(svc.jsonRecords(melted, 4 * budget))
    (rows.map(RawJson), n, step, truncated)
  }

  /** ServicePayloads.chartSingle. */
  private def chart(name: String, h: String, metric: Option[String],
      device: Option[String]): ListMap[String, Any] = {
    val (full, meta) = sp("meta.table")(svc.getTableWithMeta(name, h, device))
    val valueCols = metric.map(Seq(_))
      .getOrElse(full.columns.filterNot(_ == "date").toSeq)
    val table = metric.map(m => full.select("date", m)).getOrElse(full)
    val (rows, n, step, truncated) = series(table, Seq("date"), valueCols)
    val os = sp("meta.os_details")(SarOps.osDetails(svc.load(name)).trim)
    val restarts = sp("meta.restarts")(svc.restarts(name))
    val yr = sp("ops.exec")(SarOps.yRange(table, valueCols))
    ListMap("header" -> meta.header, "alias" -> meta.alias,
      "device" -> meta.device, "metric" -> metric.orNull,
      "title" -> (Seq(meta.alias) ++ meta.device ++ metric).mkString(" "),
      "os_details" -> os, "restarts" -> restarts.map(fmtTs),
      "y_range" -> yr.map { case (lo, hi) =>
        ListMap("min" -> lo, "max" -> hi) }.orNull,
      "rows" -> n, "step" -> step, "points" -> rows.length,
      "truncated" -> truncated, "series" -> rows)
  }
}

object Traced {
  /** The stored files a request reads or writes. */
  def filesOf(op: Op): Seq[Stored] = op match {
    case Info(f) => Seq(f)
    case Headers(f) => Seq(f)
    case Data(f, _, _) => Seq(f)
    case Stats(f, _, _) => Seq(f)
    case ChartSingle(f, _, _) => Seq(f)
    case Overview(f) => Seq(f)
    case Compare(a, b, _, _) => Seq(a, b)
    case Upload(f, _) => Seq(f)
    case Delete(f) => Seq(f)
  }
}
