package graft.service

import java.sql.Timestamp

import scala.collection.immutable.ListMap

import graft.ops.SarOps

/** The JSON payload shapes both protocol shells share: the HTTP server
  * (api/main.py:232-331) and the MCP tool server
  * (mcp_server/server.py:265-385) present the SAME engine responses —
  * one builder per response keeps the two surfaces contract-identical. */
private[service] object ServicePayloads {

  val statNames: Seq[String] = Seq("count", "null_count", "mean", "std",
    "min", "25%", "50%", "75%", "max")

  /** Accepts `yyyy-MM-dd[ HH:mm:ss]` with a space or ISO 'T'. */
  def parseTs(s: String): Timestamp =
    try {
      val t = s.replace('T', ' ')
      Timestamp.valueOf(if (t.length == 10) t + " 00:00:00" else t)
    } catch { case _: Exception =>
      throw new IllegalArgumentException(
        s"cannot parse timestamp '$s' (expected yyyy-MM-dd[ HH:mm:ss])")
    }

  /** `{name, rows, headers}`: the file-info payload, also the reply to
    * every upload (HTTP PUT, each multipart part, MCP upload_sar_file). */
  def fileInfo(fi: FileInfo): ListMap[String, Any] =
    ListMap("name" -> fi.name, "rows" -> fi.rows, "headers" -> fi.headers)

  def fileInfo(svc: SarService, name: String): ListMap[String, Any] =
    fileInfo(svc.fileInfo(name))

  private def detail(h: HeaderDetail): ListMap[String, Any] =
    ListMap("header" -> h.header, "alias" -> h.alias,
      "device_scoped" -> h.deviceScoped, "devices" -> h.devices)

  def headerDetails(svc: SarService, name: String): Seq[ListMap[String, Any]] =
    svc.headerDetails(name).map(detail)

  def headerDetail(svc: SarService, name: String,
      aliasOrHeader: String): ListMap[String, Any] =
    detail(svc.headerDetail(name, aliasOrHeader))

  def data(svc: SarService, name: String, header: String,
      device: Option[String], start: Option[String], end: Option[String],
      metrics: Seq[String], limit: Int): ListMap[String, Any] = {
    require(limit >= 1, "limit must be >= 1")
    val (table, meta) = svc.getTableWithMeta(name, header, device,
      start.map(parseTs), end.map(parseTs), metrics)
    // one serialization path for JSON records in the whole library:
    // the S11 sink (row cap, truncation flag, canonical date format)
    val (rows, truncated) = svc.jsonRecords(table, limit)
    ListMap("header" -> meta.header, "alias" -> meta.alias,
      "device" -> meta.device, "rows" -> rows.length,
      "truncated" -> truncated, "data" -> rows.map(RawJson))
  }

  def statistics(svc: SarService, name: String, header: String,
      device: Option[String], start: Option[String], end: Option[String],
      metrics: Seq[String]): ListMap[String, Any] = {
    val (stats, meta) = svc.statisticsWithMeta(name, header, device,
      start.map(parseTs), end.map(parseTs), metrics)
    val byMetric = stats.collect().map { r =>
      r.getString(0) -> ListMap(statNames.zipWithIndex.map {
        case (s, i) => s -> (if (r.isNullAt(i + 1)) null else r.get(i + 1))
      }: _*)
    }
    ListMap("header" -> meta.header, "alias" -> meta.alias,
      "device" -> meta.device,
      "statistics" -> ListMap(byMetric.toIndexedSeq: _*))
  }

  def diskUsage(tenants: SarTenants): Seq[ListMap[String, Any]] =
    tenants.diskUsage().map { case (u, bytes, files) =>
      ListMap("username" -> u, "bytes" -> bytes, "files" -> files)
    }

  // ---- chart-data payloads (api/charts.py:79-253, the data contracts
  // minus the figure: rendering stays out of scope per SURVEY §7.5, but
  // a client can feed these payloads straight into any plotting lib) ---

  /** The reference's chart point budget (bokeh_charts.py:88-111). */
  val chartBudget = 30000

  /** Default overview sections (api/services.py:31-37). */
  val defaultOverviewAliases: Seq[String] = Seq("CPU", "Kernel tables",
    "Load", "Memory utilization", "Swap utilization")

  private val tsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def fmtTs(t: Timestamp): String = t.toLocalDateTime.format(tsFmt)

  private def yRangeField(r: Option[(Double, Double)]): Any =
    r.map { case (lo, hi) => ListMap("min" -> lo, "max" -> hi) }.orNull

  /** Downsampled melted series rows for one wide chart frame: stride by
    * the reference's adaptive point budget (O4/O6), then wide→long melt
    * (R1) — the exact frame shape the reference's chart builders consume
    * (single_file_pl.py:228 .melt('date', var_name='metrics',
    * value_name='y')). Returns (rows, n_source_rows, step, truncated). */
  private def seriesRows(svc: SarService,
      table: org.apache.spark.sql.DataFrame, idCols: Seq[String],
      valueCols: Seq[String], budget: Int)
      : (Seq[RawJson], Long, Int, Boolean) = {
    val n = table.count()
    val step = SarOps.adaptiveStep(n, valueCols.length, budget)
    val strided =
      if (step == 1) table else SarOps.downsampleStride(table, "date", step)
    val melted = SarOps.melt(strided, idCols, valueCols)
    // stride already enforces the budget shape; the hard cap only guards
    // pathological series counts (adaptiveStep floors at 200/series)
    val (rows, truncated) = svc.jsonRecords(melted, 4 * budget)
    (rows.map(RawJson), n, step, truncated)
  }

  private def requireMetric(table: org.apache.spark.sql.DataFrame,
      metric: String): Unit = {
    val avail = table.columns.filterNot(_ == "date")
    require(avail.contains(metric),
      s"Unknown metric '$metric'; available: ${avail.mkString(", ")}")
  }

  /** POST /charts/single (api/main.py:348-385 minus render fields): one
    * metric → detail series, no metric → every metric of the header
    * (overview_v1's melted frame). Carries the same resolved meta block
    * as data/statistics plus the chart-layer contracts: y_range
    * (§2.11), restart markers (E4), os_details, title. */
  def chartSingle(svc: SarService, name: String, header: String,
      metric: Option[String], device: Option[String],
      start: Option[String], end: Option[String], title: Option[String],
      budget: Int = chartBudget): ListMap[String, Any] = {
    val (full, meta) = svc.getTableWithMeta(name, header, device,
      start.map(parseTs), end.map(parseTs))
    metric.foreach(requireMetric(full, _))
    val valueCols = metric.map(Seq(_))
      .getOrElse(full.columns.filterNot(_ == "date").toSeq)
    val table = metric.map(m => full.select("date", m)).getOrElse(full)
    val chartTitle = title.getOrElse(
      (Seq(meta.alias) ++ meta.device ++ metric).mkString(" "))
    val (rows, n, step, truncated) =
      seriesRows(svc, table, Seq("date"), valueCols, budget)
    ListMap("header" -> meta.header, "alias" -> meta.alias,
      "device" -> meta.device, "metric" -> metric.orNull,
      "title" -> chartTitle,
      "os_details" -> SarOps.osDetails(svc.load(name)).trim,
      "restarts" -> svc.restarts(name).map(fmtTs),
      "y_range" -> yRangeField(SarOps.yRange(table, valueCols)),
      "rows" -> n, "step" -> step, "points" -> rows.length,
      "truncated" -> truncated, "series" -> rows)
  }

  /** POST /charts/overview (api/main.py:402-418): the default (or
    * requested) header sections, one chart payload per header/device
    * frame — CPU-like sections collapse to 'all', other device-scoped
    * sections yield one frame per device, mirroring
    * prepare_header_frames (api/services.py:270-307). */
  def chartOverview(svc: SarService, name: String, aliases: Seq[String],
      start: Option[String], end: Option[String],
      budget: Int = chartBudget): ListMap[String, Any] = {
    val wanted =
      if (aliases.nonEmpty) aliases else defaultOverviewAliases
    val charts = wanted.flatMap { a =>
      val d = svc.headerDetail(name, a)
      val devices: Seq[Option[String]] =
        if (!d.deviceScoped) Seq(None)
        else if (graft.meta.HeaderMeta.isCpuLike(d.alias)) Seq(Some("all"))
        else d.devices.map(Some(_))
      devices.map(dev => chartSingle(svc, name, d.header, None, dev,
        start, end, None, budget))
    }
    ListMap("file" -> name, "charts" -> charts)
  }

  /** POST /charts/compare — the reference's /charts/multi
    * (api/main.py:438-452): one metric across ≥2 files.
    * mode=overlay rebases every file onto one 24h axis (F10, each
    * series row carries `aligned` next to its real date);
    * mode=sequential keeps real timestamps. Restart markers come from
    * the file they belong to (J7 restartsByFile), and y_range is pooled
    * across files so every series fits one shared axis. */
  def chartCompare(svc: SarService, files: Seq[String], header: String,
      metric: String, device: Option[String], mode: String,
      budget: Int = chartBudget): ListMap[String, Any] = {
    require(files.length >= 2,
      "At least two files are required for a comparison")
    require(mode == "overlay" || mode == "sequential",
      s"Unknown mode '$mode' (overlay|sequential)")
    val restarts = svc.restartsByFile(files)
    var alias = ""
    var ranges = Seq.empty[(Double, Double)]
    val perFile = files.map { f =>
      val (full, meta) = svc.getTableWithMeta(f, header, device)
      requireMetric(full, metric)
      alias = meta.alias
      val table = full.select("date", metric)
      ranges ++= SarOps.yRange(table, Seq(metric))
      val aligned =
        if (mode == "overlay")
          SarOps.dayOverlayAlign(table, "date", "2000-01-01")
        else table
      val idCols =
        if (mode == "overlay") Seq("date", "aligned") else Seq("date")
      val (rows, n, step, truncated) =
        seriesRows(svc, aligned, idCols, Seq(metric), budget)
      ListMap("file" -> f, "device" -> meta.device,
        "restarts" -> restarts(f).map(fmtTs),
        "rows" -> n, "step" -> step, "truncated" -> truncated,
        "series" -> rows)
    }
    val pooled =
      if (ranges.isEmpty) None
      else Some((ranges.map(_._1).min, ranges.map(_._2).max))
    val title = (Seq(alias) ++ device).mkString(" ")
    ListMap("header" -> header, "alias" -> alias, "metric" -> metric,
      "mode" -> mode, "title" -> title,
      "y_range" -> yRangeField(pooled), "files" -> perFile)
  }
}
