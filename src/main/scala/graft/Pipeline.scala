package graft

import graft.ingest.BinanceSource
import graft.ingest.BinanceSource.{FetchSpec, Fetcher}
import graft.model.Schemas
import graft.ops.{Indicators, Normalize, Ohlc}
import graft.quality.Checks
import graft.store.Warehouse
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipeline — the reference DAG collapsed into one Spark
  * job graph in one driver (SURVEY.md §3.1): what Airflow ran as six
  * subprocesses with XCom dicts between them becomes function
  * composition over lazy DataFrames; the only wide stages are the
  * OHLC groupBy, the indicator window sort, and the dedup aggregate.
  *
  * Layout of the warehouse: plain parquet dirs under `root`:
  *   raw_prices/    (fact table; date-partitioned at scale)
  *   daily_metrics/ (aggregate table)
  *
  * Write path of a tick: `raw_prices` is append-only — a tick writes
  * O(batch) bytes, not O(table): first-wins is enforced by a probe
  * limited to the batch's (asset, ts_utc) key range, and only the fresh
  * rows land, as one file published by one rename (a replay publishes
  * nothing). `daily_metrics` is append-only on the in-order path too:
  * a day after the asset's last row lands as its one enriched row, in
  * one file, and leaves the table's `_enriched` stamp valid, so
  * `enrichIndicators` has nothing to do; a replay publishes nothing.
  * Out-of-order and restated days, and `backfillAll`, keep the staged
  * full rewrite. Empty-input guards are metrics observed on the writes
  * themselves, checked before anything is published, so they add no
  * Spark job and a failed guard leaves the tables as they were.
  */
final class Pipeline(spark: SparkSession, root: String, fetcher: Fetcher) {
  private val rawPath = s"$root/raw_prices"
  private val metricsPath = s"$root/daily_metrics"

  private def readOrEmpty(path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (BinanceSource.alreadyExtracted(spark, path)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** extract (dag_btc_daily.py:26-104): fetch → normalize → dedup →
    * sort → per-day CSV (S4), idempotent on re-run (S3). The fetched
    * day is one partition, declared as such (`coalesce(1)`), so the
    * dedup aggregate and the sort plan without an exchange and the CSV
    * lands in one job: no range-sampling pass for ≤24 rows.
    */
  def extract(asset: String, day: String): String = {
    val csvPath = s"$root/csv/${asset}_prices_$day"
    if (!BinanceSource.alreadyExtracted(spark, csvPath)) {
      val klines = BinanceSource.fetchDay(spark, fetcher, FetchSpec(asset, day)).coalesce(1)
      val prices = Normalize.klinesToPrices(klines)
      val clean = Normalize.sortBy(
        Normalize.dedupKeepFirst(prices.select(Normalize.tsToIso(col("ts_utc")).as("ts_utc"), col("price")),
          keys = Seq("ts_utc"), order = Seq("price")),
        "ts_utc")
      Warehouse.writeCsv(clean, csvPath, singleFile = true)
    }
    csvPath
  }

  /** load_raw (dag:107-161): CSV → typed rows → insert-if-absent into
    * the fact table (first-wins on (ts_utc, asset), S8), append-only:
    * one aggregate over the batch gives its size (the empty-input
    * guard) and key range; the existing keys are probed only inside
    * that (asset, ts_utc) range — exact for first-wins, since no key
    * outside it can collide — and only the fresh rows are appended
    * ([[Warehouse.appendAtomic]]), as one file. Both sides of the
    * anti-join are single partitions, so the probe runs inside the
    * write's own stage: two jobs per call, O(batch) bytes written.
    */
  def loadRaw(asset: String, csvPath: String): Unit = {
    val incoming = Warehouse.readCsv(spark, csvPath, Schemas.rawCsvSchema).select(
      to_timestamp(col("ts_utc"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts_utc"),
      lit(asset).as("asset"),
      col("price")).coalesce(1)
    val batch = incoming.agg(count(lit(1)), min("ts_utc"), max("ts_utc")).head()
    require(batch.getLong(0) > 0, s"empty input: csv $csvPath")
    val existing = readOrEmpty(rawPath, Schemas.rawPricesSchema)
      .filter(col("asset") === asset && col("ts_utc").between(lit(batch.get(1)), lit(batch.get(2))))
      .select(col("ts_utc"), col("asset"), lit(true).as("_seen")).coalesce(1)
    // anti-join spelled as outer join + IS NULL: the optimizer pushes a
    // left_anti join below the coalesce, which would put shuffles back
    val fresh = incoming.join(existing.hint("shuffle_hash"), Seq("ts_utc", "asset"), "left_outer")
      .filter(col("_seen").isNull).drop("_seen")
    Warehouse.appendAtomic(fresh, rawPath)
  }

  /** compute_daily_metrics (dag:164-233): OHLC for the day, upserted
    * into daily_metrics touching ONLY the OHLC columns (S9).
    *
    * An in-order day — after the asset's last row, or its first —
    * changes no earlier row, since the indicators are trailing
    * windows: its one row is enriched from the asset's tail
    * ([[Indicators.enrichFromTail]]) and appended
    * ([[Warehouse.appendAtomic]]), so the tick writes O(1) bytes, not
    * O(history). Unless the day takes the full path, that append is
    * the call's only Spark query: every input is one partition, so the
    * plan adds no exchange or broadcast, and which case the day is in
    * is read from counts observed on that write. A replay (the day is
    * already there with the same OHLC) publishes nothing. An
    * out-of-order or restated day (new OHLC for a held day, e.g. a thin
    * day that later got its missing hours) takes the full path: the S9
    * upsert and a staged rewrite, leaving the indicators to
    * [[enrichIndicators]].
    */
  def computeDailyMetrics(asset: String, day: String): Unit = {
    val raw = rawDay(asset, day).coalesce(1)
    val history = readOrEmpty(metricsPath, Schemas.dailyMetricsSchema)
      .filter(col("asset") === asset).select(DayCols.map(col): _*).coalesce(1)
    // what the table holds for the asset: its last date and the day's OHLC
    val held = history.groupBy("asset").agg(max("date").as("__last"),
      PriceCols.map(c => max(when(isDay(col("date"), day), col(c))).as(s"__$c")): _*)
    // the empty-input guard: the day's OHLC rows, counted during the write
    val (ohlcDay, days) = Warehouse.observeCount(Ohlc.daily(raw))
    // both join sides are one partition, as in loadRaw's probe, so the
    // shuffle-hash join plans no exchange; a replay is filtered out here
    val (changed, notReplays) = Warehouse.observeCount(
      ohlcDay.join(held.hint("shuffle_hash"), Seq("asset"), "left_outer")
        .filter(!PriceCols.map(c => col(c) <=> col(s"__$c")).reduce(_ && _)))
    val inOrder = changed.filter(col("__last").isNull || col("date") > col("__last"))
      .select(DayCols.map(col): _*)
    val wasEnriched = enriched()
    val appended = Warehouse.appendAtomic(
      Indicators.enrichFromTail(history, inOrder).select(Schemas.dailyMetricsSchema.fieldNames.map(col): _*),
      metricsPath)
    require(days() > 0, s"empty input: raw_prices $asset $day")
    if (appended > 0) { if (wasEnriched) stampEnriched() }
    else if (notReplays() > 0) upsertDay(asset, day)
  }

  private val PriceCols = Seq("open", "high", "low", "close")
  private val DayCols = Seq("date", "asset") ++ PriceCols

  /** The asset's raw_prices rows of one UTC day. */
  private def rawDay(asset: String, day: String): DataFrame =
    spark.read.schema(Schemas.rawPricesSchema).parquet(rawPath)
      .filter(col("asset") === asset && isDay(to_date(col("ts_utc")), day))

  /** `date` is `day`, compared as ISO text: Spark writes a date literal
    * into the generated code, so each new day compiled the tick's plans
    * afresh, while a string literal is passed by reference and the code
    * compiles once per JVM (an in-order computeDailyMetrics 592 -> 513
    * ms median, 4 cores, one JVM).
    */
  private def isDay(date: Column, day: String): Column = date.cast("string") === lit(day)

  /** The full path of [[computeDailyMetrics]]: upsert the day's OHLC
    * columns into the whole table and rewrite it (S9).
    */
  private def upsertDay(asset: String, day: String): Unit = {
    val ohlc = Ohlc.daily(rawDay(asset, day))
      .withColumn("ret", lit(null).cast("double"))
      .withColumn("ma7", lit(null).cast("double"))
      .withColumn("ma30", lit(null).cast("double"))
      .withColumn("vol30", lit(null).cast("double"))
      .select(Schemas.dailyMetricsSchema.fieldNames.map(col): _*)
    val existing = readOrEmpty(metricsPath, Schemas.dailyMetricsSchema)
    val merged = Warehouse.upsert(existing, ohlc, keys = Seq("date", "asset"),
      updateCols = PriceCols)
    Warehouse.rewriteAtomic(merged.select(Schemas.dailyMetricsSchema.fieldNames.map(col): _*), metricsPath)
  }

  /** enrich_indicators (dag:235-297): recompute ret/ma7/ma30/vol30
    * over the full (small) aggregate table, transactional rewrite
    * (S10). Same tiering as the reference: the expensive recompute
    * never touches raw data.
    *
    * A table known to be enriched is left alone, with no Spark job.
    * The proof is the `_enriched` stamp: a digest of the data-file
    * listing (name, length) that the last full enrich left, carried
    * forward by each in-order append to a table that was enriched
    * before it. Every other writer replaces the dir through
    * [[Warehouse.rewriteAtomic]], which drops the stamp, so a stale
    * stamp never matches; a crash between a publish and its stamp
    * costs one full recompute.
    */
  def enrichIndicators(): Unit = if (!enriched()) {
    val (metrics, rows) = Warehouse.observeCount(
      spark.read.schema(Schemas.dailyMetricsSchema).parquet(metricsPath))
    val recomputed = Indicators.enrich(metrics.select(DayCols.map(col): _*))
      .select(Schemas.dailyMetricsSchema.fieldNames.map(col): _*)
    Warehouse.rewriteAtomic(recomputed, metricsPath,
      check = () => require(rows() > 0, "empty input: daily_metrics"))
    stampEnriched()
  }

  private val stampPath = new Path(s"$metricsPath/_enriched")

  private def fs: FileSystem = stampPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** SHA-256 of daily_metrics' data-file listing: a digest rather than
    * the listing itself, so a stamp write stays O(1) bytes however many
    * files the appends have left. */
  private def listingDigest(): String = {
    val files = fs.listStatus(new Path(metricsPath))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .map(f => s"${f.getPath.getName}\t${f.getLen}\n").sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(files.mkString.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def enriched(): Boolean = fs.exists(stampPath) && {
    val in = fs.open(stampPath)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  } == listingDigest()

  private def stampEnriched(): Unit = {
    val out = fs.create(stampPath, true)
    try out.write(listingDigest().getBytes("UTF-8")) finally out.close()
  }

  /** plot_report (dag:300-371): the report DATASET — trailing 60
    * calendar days of close/ma7/ma30 for one asset (P7). Rendering to
    * PNG is out of analytic scope (SURVEY.md §2.1 S11); callers
    * collect this frame into any chart lib. The window is ≤ 61 rows,
    * so it is sorted as one partition: no range-sampling job.
    */
  def reportWindow(asset: String, day: String): DataFrame =
    spark.read.schema(Schemas.dailyMetricsSchema).parquet(metricsPath)
      .filter(col("asset") === asset)
      .filter(col("date").between(date_sub(lit(day).cast("date"), 60), lit(day).cast("date")))
      .select("date", "close", "ma7", "ma30")
      .coalesce(1)
      .orderBy("date")

  /** plot_report artifact (dag:300-371 savefig parity, S11): render
    * the report window to a line chart — raster PNG (the reference's
    * own artifact format, via java.awt + ImageIO) when `outPath` ends
    * in .png, vector SVG otherwise — + S12 existence/size check. The
    * collect is bounded (≤ 61 rows) by construction.
    */
  def renderReport(asset: String, day: String, outPath: String): String = {
    val rows = reportWindow(asset, day).collect()
    val dates = rows.map(_.getDate(0).toString).toSeq
    def series(i: Int) = rows.map(r => if (r.isNullAt(i)) None else Some(r.getDouble(i))).toSeq
    val named = Seq("close" -> series(1), "ma7" -> series(2), "ma30" -> series(3))
    val title = s"$asset $day close/ma7/ma30 (trailing 60d)"
    val bytes =
      if (outPath.endsWith(".png")) graft.report.PngChart.lineChart(dates, named, title)
      else graft.report.SvgChart.lineChart(dates, named, title)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val p = java.nio.file.Paths.get(outPath)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, bytes)
    Checks.requireFileNonEmpty(spark, outPath)
    outPath
  }

  /** quality_checks (dag:373-443): the artifact check on the file system,
    * then every table check in one job ([[Checks.requireDay]]).
    */
  def qualityChecks(asset: String, day: String, csvPath: String): Unit = {
    Checks.requireFileNonEmpty(spark, csvPath)
    val raw = rawDay(asset, day)
    val metrics = spark.read.schema(Schemas.dailyMetricsSchema).parquet(metricsPath)
    Checks.requireDay(raw.select(col("ts_utc"), col("asset"), col("price")), metrics, day, asset, 20)
  }

  /** One DagRun (dag:446-451): the six tasks in sequence. */
  def runDay(asset: String, day: String): Unit = {
    val csvPath = extract(asset, day)
    loadRaw(asset, csvPath)
    computeDailyMetrics(asset, day)
    enrichIndicators()
    renderReport(asset, day, s"$root/reports/${asset}_$day.png")
    qualityChecks(asset, day, csvPath)
  }

  /** Airflow catchup=True (dag:16): backfill a date range. runRange
    * preserves the reference's day-at-a-time replay semantics for
    * parity testing; `backfillAll` below is the set-based form.
    */
  def runRange(asset: String, fromDay: String, toDayIncl: String): Unit = {
    var d = java.time.LocalDate.parse(fromDay)
    val end = java.time.LocalDate.parse(toDayIncl)
    while (!d.isAfter(end)) {
      runDay(asset, d.toString)
      d = d.plusDays(1)
    }
  }

  /** The natural Spark form of catchup: ONE pass over the whole fact
    * table — ingest every day's rows, group-aggregate all daily OHLC
    * at once, window-enrich, one transactional rewrite. Equivalent to
    * runRange over the same days (asserted in PipelineSpec) but O(1)
    * jobs instead of O(days): at 100 TB the per-day replay is 365×
    * the scans and 365× the scheduler round-trips for the same
    * result.
    */
  def backfillAll(asset: String, days: Seq[String]): Unit = {
    days.foreach(d => loadRaw(asset, extract(asset, d)))
    val raw = spark.read.schema(Schemas.rawPricesSchema).parquet(rawPath)
      .filter(col("asset") === asset)
    val enriched = Indicators.enrich(Ohlc.daily(Warehouse.requireNonEmpty(raw, s"raw_prices $asset")))
      .select(Schemas.dailyMetricsSchema.fieldNames.map(col): _*)
    // replace only this asset's rows; other assets' metrics stay as they are
    val others = readOrEmpty(metricsPath, Schemas.dailyMetricsSchema)
      .filter(!(col("asset") <=> lit(asset)))
    Warehouse.rewriteAtomic(others.unionByName(enriched), metricsPath)
  }
}
