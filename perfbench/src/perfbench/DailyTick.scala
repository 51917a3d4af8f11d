package perfbench

import java.security.MessageDigest
import java.time.LocalDate

import graft.Pipeline
import graft.ingest.BinanceSource.{FetchSpec, Fetcher, Kline}
import graft.model.Schemas
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Hourly klines from a seeded price walk: every (asset, day) gets its
  * own stream derived from the run's seed, so a replay refetches the
  * same rows and a second seed gives different prices.
  */
final class SeededFetcher(seed: Long) extends Fetcher {
  @transient lazy val calls = new java.util.concurrent.atomic.AtomicLong()

  def closes(asset: String, day: String): IndexedSeq[Double] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L ^ (asset + day).hashCode.toLong * 7919L)
    val base = if (asset.startsWith("BTC")) 40000.0 else 2500.0
    val dayIdx = LocalDate.parse(day).toEpochDay
    var px = base * (1.0 + 0.2 * math.sin(dayIdx / 9.0 + (seed % 17)))
    (0 until 24).map { _ =>
      px *= 1.0 + (rnd.nextDouble() - 0.5) * 0.01
      BigDecimal(px).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  def fetch(spec: FetchSpec): Seq[Kline] = {
    calls.incrementAndGet()
    val dayStart = LocalDate.parse(spec.day).atStartOfDay(java.time.ZoneOffset.UTC)
    closes(spec.asset, spec.day).zipWithIndex.map { case (c, h) =>
      val t = dayStart.plusHours(h.toLong).toInstant.toEpochMilli
      val s = f"$c%.2f"
      (t, s, f"${c + 5}%.2f", f"${c - 5}%.2f", s, "1.0", t + 3599999L, "0", 100L, "0", "0", "0")
    }
  }
}

/** The reference DAG's daily tick (dag_btc_daily.py:446-451) through
  * `graft.Pipeline`'s six public task calls, on a history backfilled
  * with `Pipeline.backfillAll`. Write op = one tick for the next
  * (asset, day); the last of every five ticks replays an already-loaded
  * day, as Airflow retries and catchup do. Read op = the report window
  * of the ticked (asset, day), once after each tick. A cycle is five
  * ticks with their reads.
  *
  * Each asset has its own pipeline root: `backfillAll` rewrites
  * daily_metrics from the one asset it backfills, so on a shared root
  * a second asset's backfill drops the first asset's metrics.
  */
final class DailyTick(spark: SparkSession, seed: Long, trace: Trace) extends Workload {
  private val Assets = Seq("BTC-USD", "ETH-USD")
  private val BackfillDays = 2
  private val Day0 = LocalDate.parse("2024-01-01")
  private val fetcher = new SeededFetcher(seed)
  private val rnd = new java.util.Random(seed)
  private var root = ""
  private val pipes = mutable.Map.empty[String, Pipeline]
  private val loaded = mutable.LinkedHashSet.empty[(String, String)]
  private val nextDay = mutable.Map.empty[String, Int]
  private val TicksPerCycle = 5
  private var ticks = 0
  private var timedTicks = 0
  private var pendingRead: Option[(String, String)] = None

  private def day(i: Int) = Day0.plusDays(i.toLong).toString

  def setup(dir: String): Unit = {
    root = dir
    Assets.foreach { a =>
      pipes(a) = new Pipeline(spark, s"$dir/$a", fetcher)
      val days = (0 until BackfillDays).map(day)
      pipes(a).backfillAll(a, days)
      days.foreach(d => loaded += (a -> d))
      nextDay(a) = BackfillDays
    }
    // warm-up: one tick and one report read, untimed
    val (a, d) = newDay()
    tick(a, d)
    pipes(a).reportWindow(a, d).collect()
  }

  private def newDay(): (String, String) = {
    val a = Assets(ticks % Assets.size)
    val d = day(nextDay(a))
    nextDay(a) += 1
    (a, d)
  }

  private def tick(a: String, d: String): Unit = {
    val pipe = pipes(a)
    val csv = trace.span("ingest.extract")(pipe.extract(a, d))
    trace.span("store.load_raw")(pipe.loadRaw(a, csv))
    trace.span("store.daily_metrics")(pipe.computeDailyMetrics(a, d))
    trace.span("ops.indicators")(pipe.enrichIndicators())
    trace.span("report.render")(pipe.renderReport(a, d, s"$root/$a/reports/$d.png"))
    trace.span("quality.checks")(pipe.qualityChecks(a, d, csv))
    loaded += (a -> d)
    ticks += 1
  }

  private def priceRows(a: String, d: String): Seq[Seq[Any]] =
    fetcher.closes(a, d).zipWithIndex.map { case (c, h) =>
      Seq(f"${d}T$h%02d:00:00Z", a, c) }

  private def table(t: String) = {
    val s = if (t == "raw_prices") Schemas.rawPricesSchema else Schemas.dailyMetricsSchema
    Assets.map(a => spark.read.schema(s).parquet(s"$root/$a/$t")).reduce(_ unionByName _)
  }

  /** Content fingerprint of both tables: sha256 over their sorted CSV rendering. */
  private def fingerprint(): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Seq("raw_prices", "daily_metrics").foreach { t =>
      table(t).collect().map(_.mkString(",")).sorted
        .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def cycleDone: Boolean = pendingRead.isEmpty && timedTicks % TicksPerCycle == 0

  def next(): Op = pendingRead match {
    case Some((a, d)) =>
      pendingRead = None
      Op("read", "report_window", 0L,
        () => trace.span("graft.report_window")(pipes(a).reportWindow(a, d).collect()),
        res => checkWindow(a, d, res.asInstanceOf[Array[org.apache.spark.sql.Row]]))
    case None =>
      val replay = timedTicks % TicksPerCycle == TicksPerCycle - 1
      timedTicks += 1
      val (a, d) =
        if (replay) loaded.toIndexedSeq(rnd.nextInt(loaded.size)) else newDay()
      pendingRead = Some(a -> d)
      val before = if (replay) fingerprint() else ""
      val calls0 = fetcher.calls.get()
      val written0 = if (trace.on) Counters.bytesWritten() else 0L
      Op("write", "tick", Counters.csvBytes(priceRows(a, d)),
        () => {
          tick(a, d)
          if (trace.on) {
            if (replay) trace.count("ingest.extract_skipped", if (fetcher.calls.get() == calls0) 1 else 0)
            trace.count("store.bytes_written_per_tick", (Counters.bytesWritten() - written0).toDouble)
            // rewriteAtomic rewrites every raw row the asset's root holds
            trace.count("store.rewrite_useful_share",
              (if (replay) 0.0 else 24.0) / (loaded.count(_._1 == a) * 24L))
          }
        },
        _ => if (replay) {
          val after = fingerprint()
          require(after == before, s"replayed tick ($a, $d) changed the tables")
        })
  }

  private def checkWindow(a: String, d: String, rows: Array[org.apache.spark.sql.Row]): Unit = {
    val end = LocalDate.parse(d)
    val want = loaded.toSeq.filter { case (x, y) =>
      x == a && !LocalDate.parse(y).isAfter(end) && !LocalDate.parse(y).isBefore(end.minusDays(60)) }
      .map(_._2).sorted
    val got = rows.map(_.getDate(0).toString).toSeq
    require(got == want, s"report window ($a, $d): ${got.size} days, expected ${want.size}")
    rows.foreach { r =>
      val c = fetcher.closes(a, r.getDate(0).toString).last
      require(r.getDouble(1) == c, s"report window ($a, ${r.getDate(0)}): close ${r.getDouble(1)} != $c")
    }
  }

  def finish(): Finish = {
    val rawRows = table("raw_prices").collect()
    val metricRows = table("daily_metrics").collect()
    val perDay = rawRows.groupBy(r => (r.getString(1), r.getTimestamp(0).toInstant.toString.take(10)))
    val dupKeys = rawRows.length - rawRows.map(r => (r.getTimestamp(0), r.getString(1))).distinct.length
    val ohlc = metricRows.groupBy(r => (r.getString(1), r.getDate(0).toString))
    val badOhlc = loaded.toSeq.filter { case (a, d) =>
      val c = fetcher.closes(a, d)
      ohlc.get(a -> d) match {
        case Some(Array(r)) =>
          !(r.getAs[Double]("open") == c.head && r.getAs[Double]("high") == c.max &&
            r.getAs[Double]("low") == c.min && r.getAs[Double]("close") == c.last)
        case _ => true
      }
    }
    def err(ok: Boolean, msg: => String) = if (ok) "" else msg
    val checks = Seq(
      "raw_prices: 24 rows per loaded (asset, day)" -> err(
        perDay.keySet == loaded.toSet && perDay.values.forall(_.length == 24),
        s"${perDay.size} (asset, day) groups vs ${loaded.size} loaded, sizes ${perDay.values.map(_.length).toSet}"),
      "raw_prices: unique (ts_utc, asset)" -> err(dupKeys == 0, s"$dupKeys duplicate keys"),
      "daily_metrics: one row per (asset, day)" -> err(
        metricRows.length == loaded.size && ohlc.keySet == loaded.toSet,
        s"${metricRows.length} rows for ${loaded.size} loaded days"),
      "daily_metrics: OHLC matches the generated klines" -> err(badOhlc.isEmpty,
        s"${badOhlc.size} days differ, e.g. ${badOhlc.take(3)}"))
    val live = rawRows.map(r => Seq(r.getTimestamp(0).toInstant.toString, r.getString(1), r.getDouble(2))) ++
      metricRows.map(r => r.toSeq)
    Finish(checks, root, Counters.csvBytes(live.toSeq))
  }
}
