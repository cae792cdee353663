package graft.service

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{SarTextParser, XzIngest}
import graft.meta.HeaderMeta
import graft.model.SarLine
import graft.ops.SarOps
import graft.stats.DescribeStats

/** Headless service layer mirroring the reference's REST semantics
  * (api/services.py, SURVEY.md §3.2/§7.1.6): upload → parse-once →
  * parquet; then every query is filter+select+summary over the cached
  * long frame. No Redis — `Dataset.cache()` + parquet materialization
  * play that role (SURVEY §4).
  */
final case class FileInfo(name: String, rows: Long, headers: Seq[String])
/** The resolved (header, alias, effective device) a table request used —
  * the meta block the reference's data/statistics responses carry
  * (api/main.py:294-299). `device` is None for non-device sections. */
final case class TableMeta(header: String, alias: String,
    device: Option[String])
final case class HeaderDetail(header: String, alias: String,
    deviceScoped: Boolean, devices: Seq[String])

/** A read named a file that is not in the caller's storage. */
final class NoSuchStoredFile(name: String)
    extends RuntimeException(s"no stored file '$name'")

/** A stored file's cached frame and its fixed facts, built together on
  * first use and dropped together. Restarts are in file order;
  * `osDetails` is set when there are any. */
private final class Cached(val frame: DataFrame) {
  lazy val meta: FileMeta = {
    import frame.sparkSession.implicits._
    // one pass and no shuffle: as an aggregation this cost a cold read (the
    // first after an upload) more than the per-request probes it replaced
    val groups = frame.select("header", "data").as[(String, String)]
      .mapPartitions(Cached.rowsPerDevice).collect()
    val rs = SarOps.restartHeaders(frame)
    val os = if (rs.isEmpty) None else Some(SarOps.osDetails(frame))
    FileMeta(groups.map(_._3).sum, groups.map(_._1).distinct.toSeq.sorted,
      groups.filter(_._2 != null).groupBy(_._1)
        .map { case (h, gs) => h -> gs.map(_._2).distinct.sorted.toSeq },
      os.fold(Seq.empty[Timestamp])(SarOps.parseRestartTimestamps(rs, _)), os)
  }
}

private object Cached {
  /** One partition's rows per (header, device): the device is the first
    * data token, as toMetrics pops it, and null outside device-scoped
    * headers. */
  def rowsPerDevice(rows: Iterator[(String, String)])
      : Iterator[(String, String, Long)] = {
    val scoped = mutable.Map.empty[String, Boolean]
    val n = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    rows.foreach { case (h, d) =>
      n((h, if (scoped.getOrElseUpdate(h, HeaderMeta.isDeviceScoped(h)))
        d.takeWhile(_ != ' ') else null)) += 1
    }
    n.iterator.map { case ((h, dev), c) => (h, dev, c) }
  }
}

private final case class FileMeta(rows: Long, headers: Seq[String],
    devices: Map[String, Seq[String]], restarts: Seq[Timestamp],
    osDetails: Option[String])

class SarService(spark: SparkSession, storageDir: String) {
  import spark.implicits._

  Files.createDirectories(Paths.get(storageDir))
  // concurrent: this layer backs a REST surface (parallel load/upload)
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Cached]()

  /** Storage-name guard mirroring the reference's _validate_file_name
    * (api/services.py:39,73-77): ^[A-Za-z0-9._-]+$, no leading dot.
    * This layer backs a REST surface, so a caller-supplied name like
    * '../../x' must never reach the interpolated storage path — with
    * mode("overwrite") a traversal write also deletes the target. */
  private def validated(name: String): String = {
    require(name.matches("[A-Za-z0-9._-]+") && !name.startsWith("."),
      s"invalid file name '$name' (allowed: A-Za-z0-9._- with no leading dot)")
    name
  }

  /** Upload lifecycle (api/services.py:94-156): preprocess (xz → sadf-JSON
    * → text), eager parse, parquet materialization. */
  def upload(path: String, name: String): FileInfo =
    store(parse(path), name)

  private def parse(path: String): Seq[SarLine] =
    SarTextParser.parseContent(XzIngest.readSarFile(path))

  /** The store step both upload paths share: parquet write, then cache
    * invalidation. */
  private def store(rows: Seq[SarLine], name: String): FileInfo = {
    val target = s"$storageDir/${validated(name)}.parquet"
    spark.createDataset(rows).write.mode("overwrite").parquet(target)
    // drop BOTH cache layers or a re-upload serves stale rows: our map
    // AND Spark's plan cache (InMemoryFileIndex matches by root path)
    Option(cache.remove(name)).foreach(_.frame.unpersist())
    spark.catalog.refreshByPath(target)
    FileInfo(name, rows.length, rows.map(_.header).distinct.sorted)
  }

  def listFiles(): Seq[String] =
    Option(new java.io.File(storageDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet")).map(_.getName.stripSuffix(".parquet"))
      .toSeq.sorted

  /** Parse-once load with in-memory caching (S4; Redis layer dropped).
    * The one place a stored file is opened: a missing one is a
    * [[NoSuchStoredFile]], not Spark's path error. */
  private def entry(name: String): Cached =
    cache.computeIfAbsent(validated(name), _ => {
      val path = Paths.get(s"$storageDir/$name.parquet")
      if (!Files.exists(path)) throw new NoSuchStoredFile(name)
      new Cached(spark.read.parquet(path.toString).cache())
    })

  def load(name: String): DataFrame = entry(name).frame

  def fileInfo(name: String): FileInfo = {
    val m = entry(name).meta
    FileInfo(name, m.rows, m.headers)
  }

  def headerDetails(name: String): Seq[HeaderDetail] = {
    val m = entry(name).meta
    m.headers.map(mkDetail(m, _))
  }

  /** Details for ONE header, alias accepted — resolved through the SAME
    * path as getTable, so any header string getTable accepts, this
    * accepts. */
  def headerDetail(name: String, aliasOrHeader: String): HeaderDetail = {
    val m = entry(name).meta
    mkDetail(m, resolveHeader(m, name, aliasOrHeader))
  }

  /** Alias-or-header resolution (J1/J2): an exact header of the file
    * wins, otherwise the alias must map to one. */
  private def resolveHeader(m: FileMeta, name: String,
      aliasOrHeader: String): String = {
    val header =
      if (m.headers.contains(aliasOrHeader)) aliasOrHeader
      else HeaderMeta.aliasToHeader(aliasOrHeader, m.headers)
    require(m.headers.contains(header),
      s"header or alias '$aliasOrHeader' not found in $name")
    header
  }

  private def mkDetail(m: FileMeta, h: String): HeaderDetail = {
    val scoped = HeaderMeta.isDeviceScoped(h)
    val devices =
      if (scoped) SarOps.sortDevices(m.devices.getOrElse(h, Nil)) else Nil
    HeaderDetail(h, HeaderMeta.alias(h), scoped, devices)
  }

  /** services.get_table (api/services.py:310-338): alias-or-header
    * resolution (J1/J2), section slice (P1), metric arrays (A1-A4),
    * device path — CPU-like collapses to 'all' unless overridden —
    * time range (P4), optional metric projection. */
  def getTable(name: String, aliasOrHeader: String,
      device: Option[String] = None,
      start: Option[Timestamp] = None, end: Option[Timestamp] = None,
      metrics: Seq[String] = Nil): DataFrame =
    getTableWithMeta(name, aliasOrHeader, device, start, end, metrics)._1

  /** getTable plus the resolved meta block (header, alias, effective
    * device) — what an HTTP data response reports back alongside the rows
    * (api/main.py:294-299). */
  def getTableWithMeta(name: String, aliasOrHeader: String,
      device: Option[String] = None,
      start: Option[Timestamp] = None, end: Option[Timestamp] = None,
      metrics: Seq[String] = Nil): (DataFrame, TableMeta) = {
    val (t, meta) = getTableUnorderedWithMeta(name, aliasOrHeader, device,
      start, end, metrics)
    (t.orderBy("date"), meta)
  }

  /** getTableWithMeta without the trailing date sort — for aggregation
    * consumers (statistics), which discard row order anyway. */
  private def getTableUnorderedWithMeta(name: String, aliasOrHeader: String,
      device: Option[String] = None,
      start: Option[Timestamp] = None, end: Option[Timestamp] = None,
      metrics: Seq[String] = Nil): (DataFrame, TableMeta) = {
    val e = entry(name)
    val header = resolveHeader(e.meta, name, aliasOrHeader)
    val alias = HeaderMeta.alias(header)
    val scoped = HeaderMeta.isDeviceScoped(header)

    var m = SarOps.toMetrics(SarOps.selectHeader(e.frame, header), header, Some(scoped))
    var effectiveDevice: Option[String] = None
    if (scoped) {
      // reference get_table uses frames[0]: CPU-like collapse to 'all',
      // other device sections default to the first device in plain sort
      // order; an explicit unknown device is an error
      // (api/services.py:283-307)
      val devices = e.meta.devices.getOrElse(header, Nil)
      val dev = device match {
        case Some(d) =>
          require(devices.contains(d),
            s"Device '$d' not found for header '$alias'")
          d
        case None =>
          if (HeaderMeta.isCpuLike(alias)) "all" else devices.head
      }
      m = SarOps.forDevice(m, dev)
      effectiveDevice = Some(dev)
    }
    var wide = SarOps.createMetricsDf(m, header)
    (start, end) match {
      case (Some(s0), Some(e0)) => wide = SarOps.timeRange(wide, "date", s0, e0)
      case (Some(s0), None) => wide = SarOps.filterByRange(wide, "date", s0, "gt")
      case (None, Some(e0)) => wide = SarOps.filterByRange(wide, "date", e0, "lt")
      case _ =>
    }
    if (metrics.nonEmpty) {
      metrics.foreach(requireMetric(wide, _))
      wide = wide.select((col("date") +: metrics.map(col)): _*)
    }
    (wide, TableMeta(header, alias, effectiveDevice))
  }

  /** The one metric check: a requested metric must be a column of the
    * resolved table, else a client error listing what is available
    * (reads the schema only — no Spark job). */
  private[service] def requireMetric(table: DataFrame,
      metric: String): Unit = {
    val avail = table.columns.filterNot(_ == "date")
    require(avail.contains(metric),
      s"Unknown metric '$metric'; available: ${avail.mkString(", ")}")
  }

  /** Delete a stored file: parquet directory AND both cache layers
    * (reference delete_sar_file, api/services.py:159 — leaving the
    * cached frame behind would keep serving deleted data). Files go
    * first and the cache entry last, so a load() racing the delete can
    * only cache a frame that the final remove() then drops; a writer
    * racing the tree walk (re-upload of the same name) is retried a few
    * times before giving up. Returns whether anything existed. */
  def delete(name: String): Boolean = {
    val target = Paths.get(s"$storageDir/${validated(name)}.parquet")
    val existed = Files.exists(target)
    try {
      var attempts = 0
      while (Files.exists(target) && attempts < 3) {
        attempts += 1
        try scala.util.Using.resource(Files.walk(target)) { walk =>
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.reverse
            .foreach(Files.deleteIfExists(_))
        } catch {
          // concurrent writer added files between walk and delete →
          // loop re-walks; concurrent DELETER removed the tree first →
          // nothing left to do, the exists() check settles it
          case _: java.nio.file.DirectoryNotEmptyException => ()
          case _: java.nio.file.NoSuchFileException => ()
          case e: java.io.UncheckedIOException
            if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
        }
      }
      if (Files.exists(target))
        throw new java.io.IOException(
          s"could not delete $target (concurrent writes?)")
    } finally {
      // the cache entry dies even on a failed/partial delete — a stale
      // frame would keep serving a file that is partially gone on disk
      Option(cache.remove(name)).foreach(_.frame.unpersist())
      if (existed) spark.catalog.refreshByPath(target.toString)
    }
    existed
  }

  /** Age of a stored file in days, preferring the S13 upload-date
    * prefix over filesystem mtime (reference _file_age_days,
    * api/services.py:364-377: the name survives copies, mtime does
    * not). Non-convention names fall back to the parquet mtime. */
  def fileAgeDays(name: String,
      today: java.time.LocalDate = java.time.LocalDate.now()): Long = {
    validated(name)
    try {
      val uploadDate = java.time.LocalDate.parse(name.take(10))
      java.time.temporal.ChronoUnit.DAYS.between(uploadDate, today)
    } catch { case _: java.time.format.DateTimeParseException =>
      val p = Paths.get(s"$storageDir/$name.parquet")
      val mtime = Files.getLastModifiedTime(p).toInstant
      // same zone as the LocalDate.now() default — mixing UTC here with
      // a system-zone `today` yields negative/off-by-one ages
      java.time.temporal.ChronoUnit.DAYS.between(
        mtime.atZone(java.time.ZoneId.systemDefault()).toLocalDate, today)
    }
  }

  /** Age-based cleanup (reference cleanup_old_files,
    * api/services.py:524): stored files older than `days` are deleted —
    * through [[delete]] so caches drop too. `dryRun = true` (the
    * reference default) returns the identical candidate list without
    * touching anything. */
  def cleanupOldFiles(days: Int, dryRun: Boolean = true,
      today: java.time.LocalDate = java.time.LocalDate.now())
      : Seq[String] = {
    val stale = listFiles().filter(fileAgeDays(_, today) > days)
    if (!dryRun) stale.foreach(delete)
    stale
  }

  /** Per-file storage bytes, largest consumers first (reference
    * disk_usage_report, api/services.py:379 — single-tenant flavor:
    * this service instance manages one storage directory). */
  def diskUsage(): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    listFiles().map { n =>
      val p = Paths.get(s"$storageDir/$n.parquet")
      val bytes = scala.util.Using.resource(Files.walk(p)) {
        _.iterator().asScala
          .filter(Files.isRegularFile(_)).map(Files.size).sum
      }
      n -> bytes
    }.sortBy { case (n, b) => (-b, n) }
  }

  /** Restart (reboot) timestamps of a file — the engine-side data E4's
    * chart markers consume. */
  def restarts(name: String): Seq[Timestamp] = entry(name).meta.restarts

  /** S13 upload: store under the reference's rename convention
    * `<upload date>_<hostname>_<sar date>` derived from the parsed
    * os_details (helpers_pl.py:245-280). The convention is what makes
    * J7 restart matching and age-based cleanup possible. Returns the
    * FileInfo under the generated name. */
  def uploadWithConvention(path: String,
      uploadDate: java.time.LocalDate = java.time.LocalDate.now())
      : FileInfo = {
    val rows = parse(path)
    require(rows.nonEmpty, s"$path parsed to zero SAR rows")
    store(rows, SarNaming.uploadName(rows.head.os_details,
      uploadDate.toString))
  }

  /** J7: per-file restart markers for a multi-file view, gated by the
    * (hostname, sar date) filename match (multi_files_pl.py:303-310,
    * bokeh_charts.py:1028-1060). The reference pools all events and
    * re-attaches them by first filename match — which mis-attributes
    * markers when two selected files share a (hostname, date), e.g. the
    * same host's day re-uploaded twice. This engine has provenance
    * (each stored file carries its own restart rows), so a file shows
    * exactly its OWN markers, and only when its name matches its own
    * events' (hostname, date) — same outcome for convention-named
    * files, no cross-attribution ever. */
  def restartsByFile(files: Seq[String]): Map[String, Seq[Timestamp]] =
    files.map { f =>
      val m = entry(f).meta
      f -> (if (m.osDetails.exists(SarNaming.matchesFile(f, _))) m.restarts
        else Nil)
    }.toMap

  /** getTable with restart zero-rows inserted (E2) — the "Data tab"
    * variant whose stats include the inserted zeros (SURVEY §7.4.6). */
  def getTableWithRestarts(name: String, aliasOrHeader: String,
      device: Option[String] = None): DataFrame =
    SarOps.insertRestartZeros(
      getTable(name, aliasOrHeader, device), "date", restarts(name))

  /** GET /files/{name}/statistics (api/main.py:303-331): describe() of the
    * table with exact pandas-style quantiles at any row count, like the
    * reference's Polars describe() (see [[DescribeStats.describe]]). */
  def statistics(name: String, aliasOrHeader: String,
      device: Option[String] = None,
      start: Option[Timestamp] = None, end: Option[Timestamp] = None,
      metrics: Seq[String] = Nil): DataFrame =
    statisticsWithMeta(name, aliasOrHeader, device, start, end, metrics)._1

  /** statistics plus the resolved meta block — the HTTP statistics
    * response shape (api/main.py:316-331). */
  def statisticsWithMeta(name: String, aliasOrHeader: String,
      device: Option[String] = None,
      start: Option[Timestamp] = None, end: Option[Timestamp] = None,
      metrics: Seq[String] = Nil): (DataFrame, TableMeta) = {
    val (table, meta) = getTableUnorderedWithMeta(name, aliasOrHeader,
      device, start, end, metrics)
    val cols = table.columns.filterNot(_ == "date").toSeq
    (DescribeStats.describe(table, cols), meta)
  }

  /** Metric documentation from the sar.1-derived dimension (S12). */
  def metricDescription(metric: String): String =
    HeaderMeta.metricDescription(metric)

  /** Chart y-range for a table's series columns (§2.11); None means the
    * chart should auto-range (no numeric data). */
  def yRange(name: String, aliasOrHeader: String,
      device: Option[String] = None): Option[(Double, Double)] = {
    val t = getTable(name, aliasOrHeader, device)
    SarOps.yRange(t, t.columns.filterNot(_ == "date").toSeq)
  }

  /** Headers common to all selected files (J4, helpers_pl.merge_headers
    * semantics via set intersection). */
  def commonHeaders(files: Seq[String]): Seq[String] = {
    require(files.nonEmpty, "no files selected")
    files.map(entry(_).meta.headers.toSet).reduce(_ intersect _)
      .toSeq.sorted
  }

  /** Multi-file compare frame (§2.11 / multi_files_pl + api/charts
    * mode=overlay|sequential): one wide table per file union'd with a
    * `file` identity column. `overlay` additionally rebases every row
    * onto one 24h axis (F10) so files with different dates share an
    * x-axis; `sequential` keeps real timestamps. */
  def compareTable(files: Seq[String], aliasOrHeader: String,
      device: Option[String] = None,
      mode: String = "sequential"): DataFrame =
    compareFrames(files, mode)(getTable(_, aliasOrHeader, device))

  /** compareTable with each file's own restart zero-rows inserted
    * (E2 × J7): the multi-file Data-tab contract — zero rows and chart
    * markers come from the file they belong to, gated by the filename
    * convention (restartsByFile: a file shows its OWN events only, and
    * only when its name matches their (hostname, date); a file stored
    * outside the convention gets no markers). */
  def compareTableWithRestarts(files: Seq[String], aliasOrHeader: String,
      device: Option[String] = None,
      mode: String = "sequential"): DataFrame = {
    // resolved once, on the first file, after the argument checks
    lazy val byFile = restartsByFile(files)
    // zeros inserted BEFORE the identity column: insertRestartZeros
    // fills every non-date column with 0.0, which must not touch the
    // file label
    compareFrames(files, mode) { f =>
      val ts = byFile(f)
      SarOps.insertRestartZeros(getTable(f, aliasOrHeader, device), "date", ts)
    }
  }

  /** The compare tail both compare tables share: each file's frame
    * tagged with a `file` identity column, union'd, then overlay-aligned
    * or kept sequential and ordered. */
  private def compareFrames(files: Seq[String], mode: String)(
      frame: String => DataFrame): DataFrame = {
    require(files.nonEmpty, "no files selected")
    require(mode == "sequential" || mode == "overlay", s"bad mode $mode")
    val union = files.map(f => frame(f).withColumn("file", lit(f)))
      .reduce(_ unionByName _)
    if (mode == "overlay")
      SarOps.dayOverlayAlign(union, "date", "2000-01-01")
        .orderBy("file", "aligned")
    else union.orderBy("file", "date")
  }

  /** Pooled cross-file statistics for one section (G7). */
  def pooledStatistics(files: Seq[String], aliasOrHeader: String,
      device: Option[String] = None): DataFrame = {
    val t = compareTable(files, aliasOrHeader, device)
    DescribeStats.describe(t,
      t.columns.filterNot(Set("date", "file").contains).toSeq)
  }

  /** S10 stats CSV: one wide block per data set (statistic rows × metric
    * columns), label-prefixed, blank-line separated
    * (dia_overview_pl.py:85-111). */
  def statisticsCsv(blocks: Seq[(String, DataFrame)]): String = {
    val rendered = blocks.map { case (label, stats) =>
      val rows = stats.collect()
      val metricsCols = rows.map(_.getString(0))
      val header = ("statistic" +: metricsCols.toSeq).mkString(",")
      val lines = ServicePayloads.statNames.zipWithIndex.map { case (sn, i) =>
        val vals = rows.map(r => if (r.isNullAt(i + 1)) "" else r.get(i + 1).toString)
        (sn +: vals.toSeq).mkString(",")
      }
      (label +: header +: lines).mkString("\n")
    }
    rendered.mkString("\n\n") + "\n"
  }

  /** S11 JSON records sink: one JSON object per row, dates stringified
    * (api/main.py:292-300). */
  def jsonRecords(df: DataFrame, maxRows: Int = 200): (Seq[String], Boolean) = {
    val stringified = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampType)
        d.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd HH:mm:ss"))
      else d
    }
    val rows = stringified.limit(maxRows + 1).toJSON.collect().toSeq
    (rows.take(maxRows), rows.length > maxRows)
  }
}
