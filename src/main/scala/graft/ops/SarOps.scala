package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, TimestampType}

import graft.meta.HeaderMeta

/** The SURVEY.md §2 operator inventory as composable DataFrame → DataFrame
  * transforms. Every op stays a declarative plan (filters/projections reach
  * the parquet scan; no collect in the data path) so the same code runs on
  * a laptop slice or a 1000-executor cluster. Only device lists and restart
  * metadata (≤ #devices / #reboots rows) ever reach the driver.
  */
object SarOps {

  // ---- P1/P2/P3: header slicing -------------------------------------

  /** Slice the long frame to one section; `data` is renamed to the header
    * string (reference pl_helpers2.py:238-247). */
  def selectHeader(df: DataFrame, header: String): DataFrame =
    df.filter(col("header") === header)
      .select(col("date"), col("data").as(header))

  /** Multi-header slice via contains-regex (reference pl_helpers2.py:
    * 250-254). Tokens are regex-quoted: the reference joins raw headers
    * into the pattern, which breaks on a header containing `(` — the
    * intended semantics is substring containment, not regex. */
  def headerContains(df: DataFrame, headers: Seq[String]): DataFrame =
    df.filter(col("header").rlike(
      headers.map(java.util.regex.Pattern.quote).mkString("|")))

  /** Membership anti-filter on any column — the unwanted-section filter
    * of reference pl_helpers2.py:85-105 with `column = "header"`. */
  def excludeHeadersBy(df: DataFrame, column: String,
      unwanted: Seq[String]): DataFrame =
    df.filter(!col(column).isin(unwanted: _*))

  // ---- P4/P5: time ranges -------------------------------------------

  /** Closed-interval time filter (reference pl_helpers2.py:206-209). */
  def timeRange(df: DataFrame, column: String, start: Timestamp,
      end: Timestamp): DataFrame =
    df.filter(col(column) >= lit(start) && col(column) <= lit(end))

  /** One-sided range filter (reference pl_helpers2.py:256-263). */
  def filterByRange(df: DataFrame, column: String, cval: Timestamp,
      check: String = "lt"): DataFrame =
    if (check == "gt") df.filter(col(column) >= lit(cval))
    else df.filter(col(column) <= lit(cval))

  // ---- A1-A3: data string → typed array -----------------------------

  /** Split the section's data string into a Float32 array; device-scoped
    * sections pop element 0 into `sub_device`
    * (reference pl_helpers2.py:143-162 get_metrics_from_df). Non-numeric
    * tokens cast to null and are dropped, values round to 2dp. */
  def toMetrics(df: DataFrame, header: String,
      subDevice: Option[Boolean] = None): DataFrame = {
    val scoped = subDevice.getOrElse(HeaderMeta.isDeviceScoped(
      HeaderMeta.headerFromAlias(HeaderMeta.alias(header)).getOrElse(header)))
    val arr = split(col(header), " ")
    val base =
      if (scoped)
        df.withColumn("sub_device", element_at(arr, 1))
          .withColumn(header, slice(arr, lit(2), size(arr) - 1))
      else df.withColumn(header, arr)
    base.withColumn(header,
      filter(
        transform(col(header), x => round(x.cast(FloatType), 2)),
        _.isNotNull))
  }

  // ---- P6/G4/O2: devices --------------------------------------------

  /** Numeric-aware device ordering with 'all' pinned first (reference
    * helpers_pl.py:42-60 merge_headers). Driver-side: cardinality is
    * #CPUs/#disks. */
  def sortDevices(devices: Seq[String]): Seq[String] = {
    val arr = devices.sorted
    if (arr.contains("all")) {
      val rest = arr.filterNot(_ == "all")
      val nums = rest.filter(_.forall(_.isDigit)).map(_.toInt).sorted
      val sortedRest = if (nums.nonEmpty) nums.map(_.toString) else rest
      "all" +: sortedRest
    } else arr
  }

  /** Single-device slice (reference pl_helpers2.py:172-175). */
  def forDevice(df: DataFrame, device: String): DataFrame =
    df.filter(col("sub_device") === device)

  // ---- A4/A5: array → columns ---------------------------------------

  /** Unpack the metric array into one Float32 column per header token
    * (reference pl_helpers2.py:178-185 create_metrics_df). */
  def createMetricsDf(df: DataFrame, header: String): DataFrame = {
    val toks = header.split("\\s+")
    val cols = toks.zipWithIndex.map { case (t, i) =>
      element_at(col(header), i + 1).as(t)
    }
    df.select(col("date") +: cols.toSeq: _*)
  }

  /** Single metric by name; index = position of the token in the header
    * (reference pl_helpers2.py:188-203 create_metric_df). */
  def metricColumn(df: DataFrame, header: String, metric: String,
      keepDevice: Boolean = true): DataFrame = {
    val idx = header.split("\\s+").indexOf(metric)
    require(idx >= 0, s"metric $metric not in header $header")
    val value = element_at(col(header), idx + 1).as(metric)
    if (keepDevice && df.columns.contains("sub_device"))
      df.select(col("date"), col("sub_device").as("device"), value)
    else df.select(col("date"), value)
  }

  // ---- P7/A6: threshold band on an array element --------------------

  /** "All devices where metric i is within [min,max]" (reference
    * display_multi.py:132-135). */
  def thresholdBand(df: DataFrame, header: String, metricIdx: Int,
      lo: Double, hi: Double): DataFrame =
    df.filter(element_at(col(header), metricIdx + 1).between(lo, hi))

  // ---- P8/P9: probes ------------------------------------------------

  /** The first os_details line containing "Linux", "" when none does. */
  def osDetails(df: DataFrame): String =
    df.filter(col("os_details").contains("Linux"))
      .select("os_details").head(1).headOption.fold("")(_.getString(0))

  /** Restart strings, schema-safe (reference pl_helpers2.py:227-235). */
  def restartHeaders(df: DataFrame): Seq[String] =
    if (df.columns.contains("restart"))
      df.filter(col("restart").contains("RESTART"))
        .select("restart").collect().map(_.getString(0)).toSeq
    else Seq.empty

  /** E3: restart strings → timestamps, parsed against their file's
    * os_details (the day; reference bokeh_charts.py:114-147). Each
    * restart string carries its HH:MM:SS as the last token (appended at
    * parse). In AM/PM files the original line (preserved at the front
    * of the restart string) still holds the qualifier, so "12:05:00 AM"
    * resolves to 00:05 — the reference's format=mixed parse shifts such
    * restarts by 12h; this keeps the string format but not the bug. */
  def parseRestartTimestamps(restarts: Seq[String],
      osDetailsStr: String): Seq[Timestamp] = {
    if (restarts.isEmpty) return Seq.empty
    val (dateStr, fmt) =
      graft.ingest.SarTextParser.formatDate(osDetailsStr)
    restarts.map { r =>
      val toks = r.trim.split("\\s+")
      val t = toks.last
      val amPm = toks.lift(1).filter(x =>
        x.equalsIgnoreCase("AM") || x.equalsIgnoreCase("PM"))
      val (timePat, timeStr) = amPm match {
        case Some(q) => ("hh:mm:ss a", s"$t ${q.toUpperCase}")
        case None => ("HH:mm:ss", t)
      }
      val fmtr = java.time.format.DateTimeFormatter
        .ofPattern(s"$fmt $timePat", java.util.Locale.US)
      Timestamp.valueOf(
        java.time.LocalDateTime.parse(s"$dateStr $timeStr", fmtr))
    }
  }

  // ---- G3: arg-extrema ----------------------------------------------

  /** Timestamps of the min/max of a metric (reference
    * single_file_pl.py:219-224 idxmin/idxmax). */
  def argExtrema(df: DataFrame, metric: String,
      dateCol: String = "date"): DataFrame =
    df.agg(
      min_by(col(dateCol), col(metric)).as("argmin"),
      max_by(col(dateCol), col(metric)).as("argmax"),
      min(col(metric)).as("min"),
      max(col(metric)).as("max"))

  // ---- G5: keep-first dedup -----------------------------------------

  /** Deterministic keep-first dedup: first row per key in `orderCol` order
    * (reference pandas index.duplicated / polars drop_duplicates). */
  def dropDuplicatesKeepFirst(df: DataFrame, keys: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---- G6: min/max markers ------------------------------------------

  /** Flag per-column min/max rows (reference helpers_pl.py:304-334).
    * One extra agg pass broadcast back — no window over the whole frame. */
  def minMaxMarkers(df: DataFrame, valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val extrema = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(extrema))
    val flagged = valueCols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"is_min_$c", col(c) === col(s"__min_$c"))
        .withColumn(s"is_max_$c", col(c) === col(s"__max_$c"))
    }
    flagged.drop(valueCols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
  }

  // ---- R1: melt -----------------------------------------------------

  /** Wide → long (reference single_file_pl.py:228 pandas melt). */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
      varName: String = "metrics", valueName: String = "y"): DataFrame =
    df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray,
      varName, valueName)

  // ---- R3: per-hour tick list ---------------------------------------

  /** First sample of each hour, bounded by first/last sample (reference
    * dataframe_funcs_pl.py:39-48 translate_dates_into_list). */
  def hourTicks(df: DataFrame, dateCol: String = "date"): DataFrame = {
    val bounds = df.agg(min(col(dateCol)).as("mn"), max(col(dateCol)).as("mx"))
    val firstMinute = minute(col("mn"))
    val inner = df.crossJoin(broadcast(bounds))
      .filter(minute(col(dateCol)) <= firstMinute - 1)
      .select(col(dateCol))
    val first = bounds.select(col("mn").as(dateCol))
    val last = bounds.select(col("mx").as(dateCol))
    first.unionByName(inner).unionByName(last)
  }

  // ---- R4: hour grid ------------------------------------------------

  /** Hourly timestamp grid between start and end inclusive (reference
    * helpers_pl.py:424-447 pd.date_range(freq='h')). */
  def hourGrid(df: DataFrame, dateCol: String = "date"): DataFrame =
    df.agg(min(col(dateCol)).as("mn"), max(col(dateCol)).as("mx"))
      .select(explode(sequence(
        date_trunc("HOUR", col("mn")),
        col("mx"),
        expr("interval 1 hour"))).as("hour"))

  // ---- E2: restart zero-row insertion -------------------------------

  /** For each restart time insert a row of 0.0 for every metric column
    * (+1s when colliding with an existing sample), then re-sort — chart
    * lines drop to zero at reboots (reference dataframe_funcs_pl.py:50-78).
    * Restart metadata is tiny (≤ reboots/file); the collision probe is one
    * semi-join collect, the insert a literal unionByName. */
  def insertRestartZeros(df: DataFrame, dateCol: String,
      restartTimes: Seq[Timestamp]): DataFrame = {
    if (restartTimes.isEmpty) return df
    val spark = df.sparkSession
    val existing = df
      .filter(col(dateCol).isin(restartTimes.map(lit(_)): _*))
      .select(col(dateCol)).distinct()
      .collect().map(_.getTimestamp(0)).toSet
    val adjusted = restartTimes.map { t =>
      if (existing.contains(t)) new Timestamp(t.getTime + 1000L) else t
    }
    val metricCols = df.columns.filterNot(_ == dateCol)
    import spark.implicits._
    val zeroRows = adjusted.toDF(dateCol)
      .select(col(dateCol).cast(TimestampType).as(dateCol) +:
        metricCols.map(c => lit(0.0).cast(df.schema(c).dataType).as(c)).toSeq: _*)
    df.unionByName(zeroRows).orderBy(col(dateCol))
  }

  // ---- F10: day-overlay alignment -----------------------------------

  /** Map every day onto one 24h axis: base_day + (ts - floor_day(ts))
    * (reference bokeh_charts.py:1146-1151). */
  def dayOverlayAlign(df: DataFrame, dateCol: String, baseDay: String,
      outCol: String = "aligned"): DataFrame =
    df.withColumn(outCol, timestamp_micros(
      unix_micros(to_timestamp(lit(baseDay))) +
        (unix_micros(col(dateCol)) -
          unix_micros(date_trunc("DAY", col(dateCol))))))

  // ---- chart-layer data contracts (SURVEY §2.11) ---------------------

  /** Padded y-range from full-data min/max (reference bokeh_charts.py:
    * 336-376): one skipna agg pass over every series column; pad =
    * span·0.1 (span 0 ⇒ max(|max|·pad, 1.0)); non-negative data clamps
    * the lower bound to 0. None when there is no numeric data at all
    * (reference leaves the chart on auto-range). NaN values are ignored
    * like the reference's to_numeric/skipna coercion. */
  def yRange(df: DataFrame, valueCols: Seq[String],
      pad: Double = 0.1): Option[(Double, Double)] = {
    require(valueCols.nonEmpty, "yRange needs at least one series column")
    def numeric(c: String): Column = {
      val d = col(c).cast("double")
      when(isnan(d), lit(null)).otherwise(d)
    }
    val aggs = valueCols.map(c => min(numeric(c))) ++
      valueCols.map(c => max(numeric(c)))
    val r = df.agg(aggs.head, aggs.tail: _*).collect().head
    val mins = valueCols.indices.flatMap(i =>
      if (r.isNullAt(i)) None else Some(r.getDouble(i)))
    val maxs = valueCols.indices.flatMap { i =>
      val j = valueCols.length + i
      if (r.isNullAt(j)) None else Some(r.getDouble(j))
    }
    if (mins.isEmpty || maxs.isEmpty) return None
    val (lo, hi) = (mins.min, maxs.max)
    val span = hi - lo
    val p = if (span == 0.0) math.max(math.abs(hi) * pad, 1.0) else span * pad
    val start = if (lo >= 0.0) math.max(0.0, lo - p) else lo - p
    Some((start, hi + p))
  }

  // ---- as-of join (operator Spark lacks; composed per SURVEY §7.3(a)) --

  /** As-of join: for every left row, attach the latest right row with
    * `rightTime <= leftTime` within the same `partitionCols` key (align
    * metric samples to the most recent preceding event — DuckDB/kdb
    * ASOF JOIN semantics, inner flavor: unmatched left rows drop).
    *
    * Composed Spark-first instead of a custom SparkPlan: union both
    * sides tagged, one window pass carries the last right payload
    * forward in time order. One shuffle on the join key — the same cost
    * a dedicated sort-merge as-of implementation would pay — and the
    * window never holds more than the carry-forward struct per row. */
  def asOfJoin(left: DataFrame, right: DataFrame,
      partitionCols: Seq[String], leftTime: String, rightTime: String,
      payloadCols: Seq[String]): DataFrame = {
    val lTagged = left
      .withColumn("__t", col(leftTime))
      .withColumn("__isL", lit(1))
      .withColumn("__p", lit(null).cast(
        org.apache.spark.sql.types.StructType(payloadCols.map(c =>
          org.apache.spark.sql.types.StructField(c,
            right.schema(c).dataType)))))
    val rTagged = right
      .select(partitionCols.map(col) :+
        col(rightTime).as("__t") :+
        lit(0).as("__isL") :+
        struct(payloadCols.map(col): _*).as("__p"): _*)
    val lAligned = lTagged.select(rTagged.columns.map(col) ++
      left.columns.filterNot(c =>
        partitionCols.contains(c)).map(col): _*)
    val unioned = lAligned.unionByName(
      rTagged.select(rTagged.columns.map(col) ++
        left.columns.filterNot(c => partitionCols.contains(c))
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*))
    // right rows sort before left rows at the same instant (isL asc) so
    // an event AT the sample time is visible to it
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col("__t").asc, col("__isL").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = unioned.withColumn("__last",
      last(col("__p"), ignoreNulls = true).over(w))
    val out = carried.filter(col("__isL") === 1 && col("__last").isNotNull)
      .select(partitionCols.map(col) ++
        left.columns.filterNot(partitionCols.contains).map(col) ++
        payloadCols.map(c => col("__last").getField(c).as(c)): _*)
    out
  }

  // ---- O4/O5: downsampling ------------------------------------------

  /** Every step-th row in `orderCol` order (reference bokeh_charts.py:
    * 77-111 stride downsample). A global stride needs a global row
    * index; the Catalyst-native form is value-space bucketing with
    * per-bucket offsets (no RDD hop, no single-partition window):
    * quantile boundaries are collected ONCE and embedded as literals so
    * every pass buckets identically (range-partitioning's sampled
    * boundaries are not stable across re-executions), bucket counts
    * give cumulative offsets (metadata-scale collect), and the global
    * index is offset + per-bucket row_number — a hash shuffle on the
    * bucket key instead of a global range sort, all inside codegen'd
    * DataFrame operators. Tie order within equal orderCol values is
    * arbitrary (ties share a value, hence a bucket), as before. An
    * all-ties column degenerates to one bucket — the same worst case a
    * global sort has.
    *
    * Boundaries are quantiles of the double cast only for types whose
    * cast preserves the native ordering (numeric/timestamp/date); for
    * anything else (e.g. digit strings, where '10' < '2'
    * lexicographically but not numerically) they are sampled VALUES of
    * the column compared natively, so bucketing always agrees with
    * `orderBy(orderCol)`. Correctness never depends on the boundary
    * list's own order: bucketOf(v) = min{i : v <= b_i} is monotone in
    * the native ordering for ANY boundary list, so buckets are always
    * intervals — only balance depends on the sample. */
  def downsampleStride(df: DataFrame, orderCol: String, step: Int): DataFrame = {
    require(step >= 1)
    if (step == 1) return df
    val spark = df.sparkSession
    val nb = spark.sessionState.conf.numShufflePartitions
    import org.apache.spark.sql.types._
    val castKeepsOrder = df.schema(orderCol).dataType match {
      case _: NumericType | TimestampType | DateType | BooleanType => true
      case _ => false
    }
    // nulls sort first (bucket -1), then ascending value buckets
    val bucketOf: Column = if (castKeepsOrder) {
      val fracs = (1 until nb).map(_.toDouble / nb)
      val bRow = df.select(percentile_approx(col(orderCol).cast("double"),
        typedlit(fracs), lit(10000)).as("b")).head()
      val bounds: Seq[Double] =
        if (bRow.isNullAt(0)) Seq.empty else bRow.getSeq[Double](0)
      when(col(orderCol).isNull, lit(-1)).otherwise(
        bounds.distinct.zipWithIndex.foldRight(lit(bounds.distinct.length)) {
          case ((b, i), els) =>
            when(col(orderCol).cast("double") <= b, lit(i)).otherwise(els)
        })
    } else {
      // Deterministic uniform sample of native values: top-k by value
      // hash plans as TakeOrderedAndProject (per-partition pruning, no
      // global sort). Driver-side sort only spreads the boundaries; per
      // the monotonicity note above it cannot affect correctness.
      val per = 20
      val sample = df.select(col(orderCol).as("v"))
        .filter(col("v").isNotNull)
        .orderBy(xxhash64(col("v"))).limit(nb * per)
        .collect().map(_.get(0))
        .sortWith((a, b) =>
          a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
      val bounds = sample.indices
        .collect { case i if (i + 1) % per == 0 => sample(i) }
        .distinct
      when(col(orderCol).isNull, lit(-1)).otherwise(
        bounds.zipWithIndex.foldRight(lit(bounds.length)) {
          case ((b, i), els) =>
            when(col(orderCol) <= lit(b), lit(i)).otherwise(els)
        })
    }
    val withB = df.withColumn("__bkt", bucketOf)
    val counts = withB.groupBy("__bkt").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((Int.MinValue, 0L)) {
      case ((_, acc), (b, n)) => (b, acc + n)
    }.sliding(2).collect { case Array((_, off), (b, _)) => (b, off) }.toMap
    val offExpr = offsets.foldLeft(lit(0L)) { case (els, (b, off)) =>
      when(col("__bkt") === b, lit(off)).otherwise(els)
    }
    val w = Window.partitionBy(col("__bkt"))
      .orderBy(col(orderCol).asc_nulls_first)
    withB
      .withColumn("__idx",
        row_number().over(w).cast("long") - 1L + offExpr)
      .filter(col("__idx") % step === 0)
      .drop("__bkt", "__idx")
      .orderBy(col(orderCol))
  }

  /** Adaptive chart budget: stride step for a point budget per series
    * (reference bokeh_charts.py:88-111: 30k points, [200,1000]/series). */
  def adaptiveStep(totalRows: Long, seriesCount: Int,
      budget: Int = 30000): Int = {
    val perSeries = math.max(200, math.min(1000,
      budget / math.max(1, seriesCount)))
    math.max(1, math.ceil(totalRows.toDouble / perSeries).toInt)
  }

  /** The reference's size-tiered sample caps
    * (alt.py:42-73: >100k→2000, >50k→3000, else 5000). */
  def tierCap(totalRows: Long): Int =
    if (totalRows > 100000) 2000 else if (totalRows > 50000) 3000 else 5000

  /** Seeded sample with the reference's size-tiered caps
    * (reference alt.py:42-73, seed 42). Engine-RNG-dependent — kept as
    * the behavioral mirror; [[sampleTieredDeterministic]] is the
    * reproducible variant. */
  def sampleTiered(df: DataFrame, totalRows: Long, seed: Long = 42): DataFrame = {
    val cap = tierCap(totalRows)
    if (totalRows <= cap) df
    else df.sample(withReplacement = false,
      math.min(1.0, cap.toDouble * 1.1 / totalRows), seed)
      .limit(cap)
  }

  /** Deterministic tiered sample: the same size-tiered caps, but
    * selection by md5(id) order instead of an engine RNG — any engine
    * reproduces the identical row set bit-for-bit (the md5 of a decimal
    * id string is uniform, so this is an unbiased fixed-seed sample).
    * Plans as TakeOrderedAndProject: a distributed top-k with per-
    * partition pruning, never a materialized global sort. */
  def sampleTieredDeterministic(df: DataFrame, idCol: String,
      totalRows: Long): DataFrame = {
    val cap = tierCap(totalRows)
    if (totalRows <= cap) df
    else df.orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(cap)
  }
}
