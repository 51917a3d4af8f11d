package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Data-quality assertions — the reference's `quality_checks` task
  * (dag_btc_daily.py:373-443; README.md:101-109) as composable Dataset
  * checks. A failed check throws, like the reference's raised
  * exceptions failing the Airflow task.
  *
  * Thresholds come straight from the reference: ≥20 hourly rows per
  * day (dag:409, ≈83% completeness of 24), non-null OHLC for the day
  * (dag:421-424), ma30/vol30 non-null once ≥30 days of history
  * (dag:426-435).
  */
object Checks {
  final case class CheckFailure(msg: String) extends RuntimeException(msg)

  private def fail(msg: String): Nothing = throw CheckFailure(msg)

  /** dag:398-411 — per-(date, asset) row-count floor over raw prices.
    * Returns the offending groups (empty = pass); one aggregate pass,
    * no per-day loop.
    */
  def underfilledDays(prices: DataFrame, minRows: Long = 20): DataFrame =
    prices.groupBy(to_date(col("ts_utc")).as("date"), col("asset"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < minRows)

  def requireDailyCompleteness(prices: DataFrame, minRows: Long = 20): Unit = {
    val bad = underfilledDays(prices, minRows)
    if (!bad.isEmpty) fail(s"days with < $minRows rows: ${bad.limit(5).collect().mkString(", ")}")
  }

  /** dag:413-424 — the day's row exists with non-null OHLC. */
  def requireOhlcPresent(metrics: DataFrame, date: String, asset: String): Unit = {
    val row = metrics.filter(col("date") === lit(date) && col("asset") === lit(asset))
    if (row.isEmpty) fail(s"daily_metrics missing ($date, $asset)")
    val nulls = row.filter(Seq("open", "high", "low", "close").map(col(_).isNull).reduce(_ || _))
    if (!nulls.isEmpty) fail(s"NULL OHLC for ($date, $asset)")
  }

  /** dag:426-435 — once an asset has ≥30 days of history, its latest
    * row must have non-null ma30/vol30... i.e. no row past the warm-up
    * horizon may have a NULL 30-row indicator. Vectorized over all
    * assets: row_number per asset ≥ 31 (vol30 lags one row, SURVEY.md
    * §2.5 W4) with NULL ma30/vol30 is a violation.
    */
  def indicatorGaps(metrics: DataFrame): DataFrame =
    withRowNumber(metrics).filter(isGap).drop("_rn")

  private def withRowNumber(metrics: DataFrame): DataFrame =
    metrics.withColumn("_rn", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("asset").orderBy("date")))

  private val isGap: Column =
    (col("_rn") >= 30 && col("ma30").isNull) || (col("_rn") >= 31 && col("vol30").isNull)

  def requireIndicatorsWarm(metrics: DataFrame): Unit = {
    val bad = indicatorGaps(metrics)
    if (!bad.isEmpty) fail(s"indicator gaps past warm-up: ${bad.limit(5).collect().mkString(", ")}")
  }

  /** The daily quality gate (dag:398-435) as ONE job: the same checks,
    * failures and messages, in the same order, as
    * [[requireDailyCompleteness]] over `prices`, [[requireOhlcPresent]]
    * over `metrics`, then — once `asset` has ≥ 30 rows —
    * [[requireIndicatorsWarm]] over its rows. Both inputs are read as
    * single partitions (one day of prices, one asset's daily rows), so
    * the grouped count, the window and the summary aggregate plan
    * without an exchange; their two result branches are collected
    * together. Each `require*` alone costs 1-3 jobs.
    */
  def requireDay(prices: DataFrame, metrics: DataFrame, date: String, asset: String,
                 minRows: Long = 20): Unit = {
    val thin = underfilledDays(prices.coalesce(1), minRows).select(struct(col("*")).as("thin"))
    val mine = metrics.filter(col("asset") === lit(asset)).coalesce(1)
    val isDay = col("date") === lit(date)
    val summary = withRowNumber(mine).agg(
      count(lit(1)).as("rows"),
      count(when(isDay, lit(1))).as("day_rows"),
      count(when(isDay && Seq("open", "high", "low", "close").map(col(_).isNull).reduce(_ || _),
        lit(1))).as("day_null_ohlc"),
      slice(array_sort(collect_list(when(isGap, struct(mine.columns.map(col).toIndexedSeq: _*)))),
        1, 5).as("gaps"))
    val found = thin.unionByName(summary, allowMissingColumns = true).collect()
    val (thinRows, Array(s)) = found.partition(r => !r.isNullAt(r.fieldIndex("thin")))
    if (thinRows.nonEmpty)
      fail(s"days with < $minRows rows: ${thinRows.take(5).map(_.getAs[Row]("thin")).mkString(", ")}")
    if (s.getAs[Long]("day_rows") == 0) fail(s"daily_metrics missing ($date, $asset)")
    if (s.getAs[Long]("day_null_ohlc") > 0) fail(s"NULL OHLC for ($date, $asset)")
    val gaps = s.getSeq[Row](s.fieldIndex("gaps"))
    if (s.getAs[Long]("rows") >= 30 && gaps.nonEmpty)
      fail(s"indicator gaps past warm-up: ${gaps.mkString(", ")}")
  }

  /** Expectation-suite validation with quarantine — the dead-letter
    * pattern the throwing checks above can't express: instead of
    * failing the whole batch on the first bad row, ANNOTATE each row
    * with the first rule it fails (`_quarantine_reason`, NULL = valid)
    * so the good rows flow on and the bad ones land in a quarantine
    * table with their reason attached. Rules are ordered (name,
    * predicate) pairs; a predicate evaluating NULL counts as a FAILURE
    * — validation must be closed-world (`value >= 0` on a NULL value
    * is not a pass), which is why the rule is wrapped
    * `!coalesce(pred, false)`, not `!pred`.
    *
    * Scale: the whole suite is one chained CASE in a single projection
    * — zero shuffles, codegen'd, rule count only widens the
    * expression. The split form ([[partitionQuarantine]]) shares the
    * one annotated plan between both halves.
    */
  def annotateQuarantine(df: DataFrame,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "annotateQuarantine needs at least one rule")
    val reason = rules.foldRight(lit(null).cast("string")) {
      case ((name, pred), els) => when(!coalesce(pred, lit(false)), lit(name)).otherwise(els)
    }
    df.withColumn("_quarantine_reason", reason)
  }

  /** (valid rows, unchanged schema; quarantined rows + reason). */
  def partitionQuarantine(df: DataFrame,
      rules: Seq[(String, Column)]): (DataFrame, DataFrame) = {
    val annotated = annotateQuarantine(df, rules)
    (annotated.filter(col("_quarantine_reason").isNull).drop("_quarantine_reason"),
     annotated.filter(col("_quarantine_reason").isNotNull))
  }

  /** dag:394-395, 439-441 (S12) — file artifact exists and is non-empty. */
  def requireFileNonEmpty(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fail(s"missing artifact: $path")
    val status = fs.getFileStatus(p)
    val size = if (status.isDirectory) fs.getContentSummary(p).getLength else status.getLen
    if (size <= 0) fail(s"empty artifact: $path")
  }
}
