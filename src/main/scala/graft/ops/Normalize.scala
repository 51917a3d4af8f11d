package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Normalization operators — the reference's `extract` dataflow chain
  * (dag_btc_daily.py:83-95): timestamp derivation, casts, projection,
  * dedup, sort. All codegen'd built-ins; no UDFs.
  */
object Normalize {

  /** F1 (dag:83-85): Binance epoch-millis → UTC timestamp. */
  def epochMsToTs(c: Column): Column = timestamp_millis(c)

  /** F2 (dag:85): timestamp → ISO-8601 UTC string `%Y-%m-%dT%H:%M:%SZ`.
    * Kept only for byte-compatible CSV output; internal storage uses
    * real timestamps (SURVEY.md §1.2).
    */
  def tsToIso(c: Column): Column = date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** F7/P3 (dag:89): Binance sends prices as strings; cast to double. */
  def castPrice(c: Column): Column = c.cast("double")

  /** Kline payload → (ts_utc, price) rows, the full extract transform
    * chain F1+F2+P3+P1 (dag:83-92).
    */
  def klinesToPrices(klines: DataFrame): DataFrame =
    klines.select(
      epochMsToTs(col("open_time")).as("ts_utc"),
      castPrice(col("close")).as("price"))

  /** D1 (dag:93): drop_duplicates(subset=ks) with STRICT first-wins —
    * keeps the row with the smallest `order` tuple per key. The
    * reference relies on pandas "keep first in current order"; Spark's
    * dropDuplicates keeps an arbitrary row, so the deterministic form
    * is an argmin per group. Implemented as min_by over a struct of
    * the remaining columns ordered by `order` — a hash aggregate (two
    * shuffle-light passes with partial aggregation), NOT a
    * row_number window (which would sort every group).
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    val ordKey = struct(order.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(payload.map(col): _*), ordKey).as("_first"))
      .select(df.columns.map(c => if (keys.contains(c)) col(c) else col(s"_first.$c").as(c)): _*)
  }

  /** D2 (dag:94): total sort. A global sort is a range-partitioned
    * shuffle; at scale only use for final output ordering.
    */
  def sortBy(df: DataFrame, cols: String*): DataFrame = df.orderBy(cols.map(asc): _*)
}
