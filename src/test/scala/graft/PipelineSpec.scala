package graft

import graft.ingest.BinanceSource
import graft.ingest.BinanceSource.{FetchSpec, Fetcher, FixtureFetcher}
import graft.model.Schemas
import graft.store.Warehouse

/** Golden end-to-end: the whole DAG over a synthetic fixture, including
  * re-run idempotency (SURVEY.md §5).
  */
class PipelineSpec extends SparkSpec {

  test("runRange produces one metrics row per day and re-runs are idempotent") {
    val root = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val p = new Pipeline(spark, root, new FixtureFetcher())
    p.runRange("BTC-USD", "2024-01-01", "2024-01-08")

    val metrics = spark.read.parquet(s"$root/daily_metrics")
    assert(metrics.count() === 8)
    val byDate = metrics.collect().map(r => r.getDate(0).toString -> r).toMap
    // ret NULL on day 1, non-null day 2; ma7 first non-null day 7
    assert(byDate("2024-01-01").isNullAt(6))
    assert(!byDate("2024-01-02").isNullAt(6))
    (1 to 6).foreach(d => assert(byDate(f"2024-01-0$d").isNullAt(7), s"ma7 day $d"))
    assert(!byDate("2024-01-07").isNullAt(7) && !byDate("2024-01-08").isNullAt(7))

    // raw facts: 24 rows/day, no duplicate (ts, asset) keys
    val raw = spark.read.parquet(s"$root/raw_prices")
    assert(raw.count() === 8 * 24)

    // replay two days: byte-identical warehouse state
    val before = metrics.orderBy("date").collect().toSeq
    p.runDay("BTC-USD", "2024-01-03")
    p.runDay("BTC-USD", "2024-01-08")
    val after = spark.read.parquet(s"$root/daily_metrics").orderBy("date").collect().toSeq
    assert(after === before)
    assert(spark.read.parquet(s"$root/raw_prices").count() === 8 * 24)
  }

  test("backfillAll (set-based, one pass) equals runRange (per-day replay)") {
    val days = (1 to 8).map(d => f"2024-01-0$d")
    val rootA = java.nio.file.Files.createTempDirectory("graft_wh_a").toString
    new Pipeline(spark, rootA, new FixtureFetcher()).runRange("BTC-USD", days.head, days.last)
    val rootB = java.nio.file.Files.createTempDirectory("graft_wh_b").toString
    new Pipeline(spark, rootB, new FixtureFetcher()).backfillAll("BTC-USD", days)
    val a = spark.read.parquet(s"$rootA/daily_metrics").orderBy("date").collect().toSeq
    val b = spark.read.parquet(s"$rootB/daily_metrics").orderBy("date").collect().toSeq
    assert(a === b)
  }

  test("backfillAll of a second asset keeps the first asset's metrics") {
    val days = (1 to 4).map(d => f"2024-01-0$d")
    val root = java.nio.file.Files.createTempDirectory("graft_wh_two").toString
    val p = new Pipeline(spark, root, new FixtureFetcher())
    def rows(asset: String) = spark.read.parquet(s"$root/daily_metrics")
      .filter(s"asset = '$asset'").orderBy("date").collect().toSeq
    p.backfillAll("BTC-USD", days)
    val btc = rows("BTC-USD")
    assert(btc.size === 4)
    p.backfillAll("ETH-USD", days)
    assert(rows("BTC-USD") === btc)
    val alone = java.nio.file.Files.createTempDirectory("graft_wh_eth").toString
    new Pipeline(spark, alone, new FixtureFetcher()).backfillAll("ETH-USD", days)
    assert(rows("ETH-USD") === spark.read.parquet(s"$alone/daily_metrics").orderBy("date").collect().toSeq)
    assert(spark.read.parquet(s"$root/daily_metrics").count() === 8)
  }

  test("quality checks pass on the golden warehouse and catch a thin day") {
    val root = java.nio.file.Files.createTempDirectory("graft_wh2").toString
    val p = new Pipeline(spark, root, new FixtureFetcher())
    p.runDay("BTC-USD", "2024-02-01") // includes qualityChecks — must not throw
    // a day with 19 hourly rows: every task before the gate succeeds,
    // the completeness check (≥ 20 rows, dag:409) fails it
    val thin = new Pipeline(spark, root, new Fetcher {
      def fetch(spec: FetchSpec) = new FixtureFetcher().fetch(spec).take(19)
    })
    val e = intercept[quality.Checks.CheckFailure] { thin.runDay("BTC-USD", "2024-02-02") }
    assert(e.getMessage === "days with < 20 rows: [2024-02-02,BTC-USD,19]")
  }

  /** Every file and dir directly under `root` (name, size), and under
    * its table dirs — the state a failed or replayed task must leave
    * untouched. */
  private def state(root: String): Seq[(String, Long)] =
    Seq("", "raw_prices", "daily_metrics").flatMap { t =>
      val d = new java.io.File(s"$root/$t")
      if (!d.exists()) Nil
      else d.listFiles().map { f =>
        s"$t/${f.getName}".stripPrefix("/") -> (if (f.isDirectory) -1L else f.length())
      }.toSeq
    }.sorted

  private def staging(root: String): Seq[String] =
    state(root).map(_._1).filter(_.contains(".staging-"))

  test("guard failures leave the live tables as they were and no staging dirs") {
    val root = java.nio.file.Files.createTempDirectory("graft_guard").toString
    val p = new Pipeline(spark, root, new FixtureFetcher())
    p.runRange("BTC-USD", "2024-01-01", "2024-01-02")
    val before = state(root)

    // an empty fetch: extract throws before anything reaches Spark, no CSV
    val empty = new Pipeline(spark, root, new Fetcher { def fetch(spec: FetchSpec) = Seq.empty })
    val e1 = intercept[IllegalArgumentException] { empty.extract("BTC-USD", "2024-01-05") }
    assert(e1.getMessage === "requirement failed: empty input: klines BTC-USD 2024-01-05")
    assert(!new java.io.File(s"$root/csv/BTC-USD_prices_2024-01-05").exists())

    // loadRaw of an empty CSV
    val csv = java.nio.file.Files.createTempDirectory("graft_guard_csv").toString + "/empty"
    Warehouse.writeCsv(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.rawCsvSchema), csv, singleFile = true)
    val e2 = intercept[IllegalArgumentException] { p.loadRaw("BTC-USD", csv) }
    assert(e2.getMessage === s"requirement failed: empty input: csv $csv")

    // computeDailyMetrics for a day with no raw rows: the observed count
    // fails the staged write before the swap
    val e3 = intercept[IllegalArgumentException] { p.computeDailyMetrics("BTC-USD", "2024-01-09") }
    assert(e3.getMessage === "requirement failed: empty input: raw_prices BTC-USD 2024-01-09")

    assert(state(root) === before)
    assert(staging(root).isEmpty)

    // enrichIndicators over a daily_metrics table with no rows
    val bare = java.nio.file.Files.createTempDirectory("graft_guard_bare").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.dailyMetricsSchema)
      .write.parquet(s"$bare/daily_metrics")
    val bareBefore = state(bare)
    val e4 = intercept[IllegalArgumentException] {
      new Pipeline(spark, bare, new FixtureFetcher()).enrichIndicators()
    }
    assert(e4.getMessage === "requirement failed: empty input: daily_metrics")
    assert(state(bare) === bareBefore)
  }

  private def dataFiles(root: String, table: String): Seq[(String, Long)] =
    state(root).filter(_._1.startsWith(s"$table/part-"))

  test("a replayed tick appends nothing: raw_prices file listing and both tables unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val p = new Pipeline(spark, root, new FixtureFetcher())
    p.runRange("BTC-USD", "2024-01-01", "2024-01-03")
    def raw = state(root).filter(_._1.startsWith("raw_prices/"))
    def content(t: String) = spark.read.parquet(s"$root/$t").collect().map(_.toString).sorted.toSeq
    val (rawBefore, rowsBefore, metricsBefore) = (raw, content("raw_prices"), content("daily_metrics"))
    val metricsFilesBefore = dataFiles(root, "daily_metrics")
    assert(rawBefore.count(_._1.startsWith("raw_prices/part-")) === 3) // one file per loaded day
    p.runDay("BTC-USD", "2024-01-02")
    assert(raw === rawBefore)
    assert(dataFiles(root, "daily_metrics") === metricsFilesBefore)
    assert(content("raw_prices") === rowsBefore)
    assert(content("daily_metrics") === metricsBefore)
    assert(staging(root).isEmpty)
  }

  test("an in-order tick appends one daily_metrics file and leaves every existing file as it was") {
    val root = java.nio.file.Files.createTempDirectory("graft_inorder").toString
    val p = new Pipeline(spark, root, new FixtureFetcher())
    p.runRange("BTC-USD", "2024-01-01", "2024-01-03")
    val before = dataFiles(root, "daily_metrics")
    p.runDay("BTC-USD", "2024-01-04")
    val after = dataFiles(root, "daily_metrics")
    assert(before.forall(after.contains))
    assert(after.size === before.size + 1)
    assert(spark.read.parquet(s"$root/daily_metrics").count() === 4)
    assert(staging(root).isEmpty)
  }

  /** The `daily_metrics` of a fresh root that `backfillAll` filled
    * with `days` from `fetcher`: the full-recompute table. */
  private def fullRecompute(fetcher: Fetcher, days: Seq[String]): Seq[org.apache.spark.sql.Row] = {
    val fresh = java.nio.file.Files.createTempDirectory("graft_full").toString
    new Pipeline(spark, fresh, fetcher).backfillAll("BTC-USD", days)
    spark.read.parquet(s"$fresh/daily_metrics").orderBy("date").collect().toSeq
  }

  test("ticks equal the full recompute after in-order days, a replay, an out-of-order day and a restated day") {
    val root = java.nio.file.Files.createTempDirectory("graft_equiv").toString
    def metrics = spark.read.parquet(s"$root/daily_metrics").orderBy("date").collect().toSeq
    val full = new FixtureFetcher()
    val late = "2024-01-11"
    // the late day first arrives without its last 3 hours (21 rows: the
    // quality gate's 20-row floor still passes)
    val thin = new Fetcher {
      def fetch(spec: FetchSpec) = if (spec.day == late) full.fetch(spec).take(21) else full.fetch(spec)
    }
    val p = new Pipeline(spark, root, full)
    val inOrder = ((1 to 4) ++ (6 to 10)).map(d => f"2024-01-$d%02d") // 2024-01-05 comes later
    inOrder.foreach(p.runDay("BTC-USD", _))
    assert(metrics === fullRecompute(full, inOrder))

    p.runDay("BTC-USD", "2024-01-07") // replay
    assert(metrics === fullRecompute(full, inOrder))

    p.runDay("BTC-USD", "2024-01-05") // out of order
    val days = (1 to 10).map(d => f"2024-01-$d%02d")
    assert(metrics === fullRecompute(full, days))

    new Pipeline(spark, root, thin).runDay("BTC-USD", late) // in order, thin
    assert(metrics === fullRecompute(thin, days :+ late))
    // the source now has every hour: re-extract and re-tick, which
    // restates the day's OHLC (loadRaw is first-wins per hour)
    val thinClose = metrics.last.getAs[Double]("close")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$root/csv/BTC-USD_prices_$late"))
    p.runDay("BTC-USD", late)
    assert(metrics.last.getAs[Double]("close") !== thinClose)
    assert(metrics === fullRecompute(full, days :+ late))
    assert(staging(root).isEmpty)
  }

  test("an in-order tick writes as many daily_metrics bytes at 40 days of history as at 4") {
    def day(i: Int) = java.time.LocalDate.parse("2024-01-01").plusDays(i.toLong).toString
    /** Bytes of the daily_metrics files each tick creates or resizes,
      * ticking days `from until to` after a backfill of the days before
      * `from`. A table rewrite counts every file; an append only its own.
      */
    def bytesWritten(from: Int, to: Int): Seq[Long] = {
      val root = java.nio.file.Files.createTempDirectory("graft_hist").toString
      val p = new Pipeline(spark, root, new FixtureFetcher())
      p.backfillAll("BTC-USD", (0 until from).map(day))
      def files = state(root).filter(_._1.startsWith("daily_metrics/"))
      (from until to).map { i =>
        val before = files.toSet
        p.runDay("BTC-USD", day(i))
        files.filterNot(before).map(_._2).sum
      }
    }
    // the first tick after a backfill rewrites the table (the backfill
    // leaves it unstamped); every later tick is an in-order append
    val short = bytesWritten(3, 5).last // at 4 days of history
    val long = bytesWritten(33, 41).tail // at 34 to 40 days
    assert(long.max - long.min <= 8, s"bytes written at 34 to 40 days of history: $long")
    // the row at 4 days holds three NULL indicators, which parquet
    // stores with no value and no min/max statistics: that, not the
    // history, is the gap to the 40-day row (a rewrite at 40 days would
    // write 36 more rows)
    assert(short < long.last && long.last - short <= 256,
      s"bytes written: $short at 4 days of history, ${long.last} at 40")
  }

  test("renderReport writes PNG (reference savefig parity) and SVG chart artifacts (S11/S12)") {
    val root = java.nio.file.Files.createTempDirectory("graft_wh3").toString
    val p = new Pipeline(spark, root, new FixtureFetcher())
    p.runRange("BTC-USD", "2024-01-01", "2024-01-03")
    // runDay renders the reference's own artifact format: a raster PNG
    val f = new java.io.File(s"$root/reports/BTC-USD_2024-01-03.png")
    assert(f.exists() && f.length() > 0)
    val img = javax.imageio.ImageIO.read(f)
    assert(img != null, "report artifact is not a decodable PNG")
    assert(img.getWidth === 980 && img.getHeight === 420)
    assert((img.getRGB(2, 2) & 0xffffff) === 0xffffff) // white background
    // the close polyline must have put ink on the canvas in its series
    // color (antialiasing blends edges, so scan for near-matches)
    val c0 = graft.report.ChartGeom.SeriesColors.head
    def near(rgb: Int): Boolean = {
      def d(a: Int, b: Int, s: Int) = math.abs(((a >> s) & 0xff) - ((b >> s) & 0xff))
      d(rgb, c0, 16) < 64 && d(rgb, c0, 8) < 64 && d(rgb, c0, 0) < 64
    }
    val inked = (for { x <- (0 until img.getWidth).iterator; y <- 0 until img.getHeight }
      yield img.getRGB(x, y)).count(near)
    assert(inked > 50, s"expected a drawn close series, found $inked matching pixels")
    // the vector form stays available through the same sink
    p.renderReport("BTC-USD", "2024-01-03", s"$root/reports/BTC-USD_2024-01-03.svg")
    val svg = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/reports/BTC-USD_2024-01-03.svg")), "UTF-8")
    assert(svg.startsWith("<svg"))
    assert("<polyline ".r.findAllIn(svg).size === 3) // close, ma7, ma30
    assert(svg.contains("2024-01-01") && svg.contains("2024-01-03"))
    // ma7/ma30 all-null at day 3 → their polylines have no points, close does
    assert(svg.contains("close"))
  }

  test("retry: succeeds after transient failures, rethrows after exhaustion (S2)") {
    var calls = 0
    val v = BinanceSource.retry(attempts = 4, backoffMs = 1) {
      calls += 1
      if (calls < 3) sys.error("transient")
      "ok"
    }
    assert(v === "ok" && calls === 3)
    intercept[RuntimeException] {
      BinanceSource.retry(attempts = 2, backoffMs = 1) { sys.error("always") }
    }
  }

  test("fixture fetcher is deterministic and day-shaped") {
    val f = new FixtureFetcher()
    val a = f.fetch(FetchSpec("BTC-USD", "2024-01-01"))
    val b = f.fetch(FetchSpec("BTC-USD", "2024-01-01"))
    assert(a === b)
    assert(a.size === 24)
    assert(a.head._1 === 1704067200000L)
  }
}
