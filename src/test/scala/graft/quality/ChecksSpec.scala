package graft.quality

import graft.SparkSpec
import java.sql.{Date, Timestamp}

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  test("underfilledDays flags days below the row floor (dag:409, ≥20 rows)") {
    val full = (0 until 24).map(h => (Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"), "BTC", 1.0))
    val thin = (0 until 19).map(h => (Timestamp.valueOf(f"2024-01-02 $h%02d:00:00"), "BTC", 1.0))
    val bad = Checks.underfilledDays((full ++ thin).toDF("ts_utc", "asset", "price"), 20).collect()
    assert(bad.map(_.getDate(0).toString).toSeq === Seq("2024-01-02"))
  }

  test("requireOhlcPresent fails on missing day and on NULL OHLC (dag:413-424)") {
    val metrics = Seq(
      (Date.valueOf("2024-01-01"), "BTC", Some(1.0), Some(2.0), Some(0.5), Some(1.5)),
      (Date.valueOf("2024-01-02"), "BTC", None: Option[Double], Some(2.0), Some(0.5), Some(1.5))
    ).toDF("date", "asset", "open", "high", "low", "close")
    Checks.requireOhlcPresent(metrics, "2024-01-01", "BTC") // passes
    intercept[Checks.CheckFailure] { Checks.requireOhlcPresent(metrics, "2024-01-03", "BTC") }
    intercept[Checks.CheckFailure] { Checks.requireOhlcPresent(metrics, "2024-01-02", "BTC") }
  }

  test("indicatorGaps: NULL ma30 at row ≥30 / NULL vol30 at row ≥31 are violations (dag:426-435)") {
    val rows = (0 until 32).map { i =>
      val ma30 = if (i >= 29) Some(1.0) else None
      val vol30 = if (i >= 30 && i != 31) Some(0.1) else None // row 32 has a GAP
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), "BTC", ma30, vol30)
    }
    val bad = Checks.indicatorGaps(rows.toDF("date", "asset", "ma30", "vol30")).collect()
    assert(bad.map(_.getDate(0).toString).toSeq === Seq("2024-02-01")) // day 32 only
  }

  test("requireDay fails with the same message as the matching require* check") {
    def msg(body: => Unit): String = intercept[Checks.CheckFailure](body).getMessage
    val prices = (0 until 24).map(h => (Timestamp.valueOf(f"2024-01-31 $h%02d:00:00"), "BTC", 1.0))
      .toDF("ts_utc", "asset", "price")
    // 32 days of BTC; ETH rows must not count toward BTC's ≥ 30
    def metrics(day: Int => Option[Double], ma30: Int => Option[Double]) = ((0 until 32).map { i =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), "BTC",
        day(i), Some(2.0), Some(0.5), Some(1.5), ma30(i), if (i >= 30) Some(0.1) else None)
    } :+ ((Date.valueOf("2024-01-01"), "ETH", Some(1.0), Some(1.0), Some(1.0), Some(1.0),
      None: Option[Double], None: Option[Double])))
      .toDF("date", "asset", "open", "high", "low", "close", "ma30", "vol30")
    val warm = (i: Int) => if (i >= 29) Some(1.0) else None
    val good = metrics(_ => Some(1.0), warm)
    Checks.requireDay(prices, good, "2024-01-31", "BTC") // passes

    // missing (date, asset) row
    assert(msg(Checks.requireDay(prices, good, "2024-02-05", "BTC")) ===
      msg(Checks.requireOhlcPresent(good, "2024-02-05", "BTC")))
    // NULL OHLC on the day
    val nullOpen = metrics(i => if (i == 30) None else Some(1.0), warm)
    assert(msg(Checks.requireDay(prices, nullOpen, "2024-01-31", "BTC")) ===
      msg(Checks.requireOhlcPresent(nullOpen, "2024-01-31", "BTC")))
    // indicator gap past row 30
    val gap = metrics(_ => Some(1.0), i => if (i >= 29 && i != 30) Some(1.0) else None)
    val gapMsg = msg(Checks.requireDay(prices, gap, "2024-01-31", "BTC"))
    assert(gapMsg.startsWith("indicator gaps past warm-up: [2024-01-31,BTC,"))
    assert(gapMsg === msg(Checks.requireIndicatorsWarm(gap.filter("asset = 'BTC'"))))
    // a thin day, and the check order: completeness fails first
    val thin = prices.limit(19)
    assert(msg(Checks.requireDay(thin, gap, "2024-01-31", "BTC")) ===
      msg(Checks.requireDailyCompleteness(thin, 20)))
  }

  test("quarantine: first failing rule names the reason; NULL predicate is a failure") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (1, "click", Some(10.0)),  // valid
      (2, "error", Some(500.0)), // fails BOTH rules → first wins
      (3, "view", Some(500.0)),  // fails value_cap only
      (4, "view", None)          // NULL value: closed-world failure
    ).toDF("event_id", "event_type", "value")
    val rules = Seq(
      "no_error_events" -> (col("event_type") =!= "error"),
      "value_cap" -> (col("value") <= 400.0))
    val reasons = Checks.annotateQuarantine(rows, rules)
      .collect().map(r => r.getInt(0) -> Option(r.getString(3))).toMap
    assert(reasons === Map(1 -> None, 2 -> Some("no_error_events"),
      3 -> Some("value_cap"), 4 -> Some("value_cap")))
    val (valid, dead) = Checks.partitionQuarantine(rows, rules)
    assert(valid.columns.toSeq === rows.columns.toSeq) // schema unchanged
    assert(valid.collect().map(_.getInt(0)).toSeq === Seq(1))
    assert(dead.count() === 3)
  }
}
