package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rolling-window indicators — the reference's `enrich_indicators`
  * (dag_btc_daily.py:264-267):
  *
  *   ret   = close.pct_change()                      (row-based lag, NOT calendar)
  *   ma7   = close.rolling(7,  min_periods=7).mean()
  *   ma30  = close.rolling(30, min_periods=30).mean()
  *   vol30 = ret.rolling(30,   min_periods=30).std()  (pandas ddof=1 → sample stddev)
  *
  * Subtleties preserved (SURVEY.md §2.5, the one place a naive Spark
  * translation is WRONG):
  *  - min_periods: a bare windowed avg would emit partial means for the
  *    first n-1 rows; the `count(...) >= n` guard nulls them out.
  *  - vol30's frame counts non-null `ret` values (pandas rolling count
  *    skips NaN), so vol30's first non-null row lags ma30's by one
  *    (the first ret is NULL).
  *  - stddev_samp = pandas default ddof=1.
  *  - pct_change is ROW-based: a gap in dates still yields a 1-row lag.
  *
  * Scale note: windows partition by asset. The reference is
  * single-asset (one global order — inherently serial); per-asset
  * partitioning restores parallelism at multi-asset scale, and the
  * input here is the daily aggregate table (one row per day per
  * asset), orders of magnitude smaller than raw data — the same
  * tiering the reference uses (recompute only over daily_metrics,
  * dag_btc_daily.py:254-258).
  */
object Indicators {

  /** daily must have (date, asset, close, ...); appends ret/ma7/ma30/vol30. */
  def enrich(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("asset").orderBy("date")
    val w7 = w.rowsBetween(-6, 0)
    val w30 = w.rowsBetween(-29, 0)
    daily
      .withColumn("ret", col("close") / lag("close", 1).over(w) - 1)
      .withColumn("ma7", guarded(avg(col("close")).over(w7), count(col("close")).over(w7), 7))
      .withColumn("ma30", guarded(avg(col("close")).over(w30), count(col("close")).over(w30), 30))
      .withColumn("vol30", guarded(stddev_samp(col("ret")).over(w30), count(col("ret")).over(w30), 30))
  }

  /** pandas min_periods: emit NULL until `cnt` non-null rows are in frame. */
  private def guarded(value: Column, cnt: Column, minPeriods: Int): Column =
    when(cnt >= minPeriods, value)

  /** Rows of history per asset that make an in-order enrich exact:
    * a new row's ma30/vol30 frame spans 29 prior rows, and the oldest
    * of those needs ITS predecessor for `ret`.
    */
  val TailRows = 31

  /** The in-order step of incremental maintenance: enrich each
    * asset's last [[TailRows]] rows of `history` together with
    * `fresh`, and keep only `fresh`'s rows. With every `fresh` row
    * after its asset's history, each window over a fresh row sees
    * precisely the rows the full recompute would, so the output is
    * bit-identical to it; assets with shorter history keep all their
    * rows, reproducing the min_periods NULL warm-up. The caller owns
    * that precondition. The fresh rows are told apart by a marker
    * column, not a join, so the step adds no exchange of its own.
    */
  def enrichFromTail(history: DataFrame, fresh: DataFrame): DataFrame = {
    val recent = Window.partitionBy("asset").orderBy(desc("date"))
    val tail = history.withColumn("__rn", row_number().over(recent))
      .filter(col("__rn") <= TailRows)
      .select(fresh.columns.map(col).toIndexedSeq: _*)
    enrich(tail.withColumn("__fresh", lit(false)).unionByName(fresh.withColumn("__fresh", lit(true))))
      .filter(col("__fresh"))
      .drop("__fresh")
  }

  /** Incremental daily indicator refresh — the at-scale form of the
    * reference's nightly full recompute (dag_btc_daily.py:254-267):
    * enrich ONLY the new day(s) from each asset's trailing
    * [[TailRows]] rows of history ([[enrichFromTail]]), never the whole
    * table; the output is bit-identical to the full recompute
    * (oracle-checked against the full-table window).
    *
    * `newDaily` must be strictly AFTER `history` per asset (the normal
    * append cadence; multi-day catch-up batches are fine — later new
    * days window over earlier ones inside the union). The precondition
    * is ENFORCED, not just documented: a replayed or overlapping batch
    * would put duplicate (date, asset) rows in the union and the
    * windows would silently return wrong indicators — the one failure
    * mode worse than failing. The guard compares per-asset
    * max(history.date) to min(newDaily.date) and is fused INTO the
    * returned plan as a broadcast one-row scalar probed by
    * `raise_error` — zero extra passes (an eager pre-check was
    * measured at +0.5 s/call of pure job-floor overhead), but any
    * action on the result fails with the offending asset named before
    * a single wrong row can be consumed — the same fail-fast outcome
    * as [[graft.store.Warehouse.mergeInto]]'s check. Compose with
    * [[graft.store.Warehouse.upsert]]/mergeInto to land the result.
    *
    * Scale: the tail is one per-asset window rank over the DAILY table
    * (already tiny relative to raw data) and the enrich runs over
    * |assets| × ≤[[TailRows]] + |new| rows — per-day cost is
    * O(assets), not O(history).
    */
  def enrichIncremental(history: DataFrame, newDaily: DataFrame): DataFrame = {
    // one row, always: count of precondition violations + a witness
    val guard = broadcast(
      history.groupBy("asset").agg(max(col("date")).as("__hmax"))
        .join(newDaily.groupBy("asset").agg(min(col("date")).as("__nmin")), Seq("asset"))
        .filter(col("__hmax") >= col("__nmin"))
        .agg(count(lit(1)).as("__viol"),
          first(col("asset")).as("__va"), first(col("__hmax")).as("__vh"),
          first(col("__nmin")).as("__vn")))
    enrichFromTail(history, newDaily)
      .crossJoin(guard)
      .filter(when(col("__viol") > 0, raise_error(concat(
        lit("enrichIncremental: newDaily must be strictly after history per asset, but asset "),
        col("__va"), lit(" has history through "), col("__vh").cast("string"),
        lit(" and new rows from "), col("__vn").cast("string"),
        lit(" — a replay/overlap would silently corrupt the windows; upsert the batch instead"))))
        .otherwise(lit(true)))
      .drop("__viol", "__va", "__vh", "__vn")
  }

  /** The backward-looking half of incremental maintenance
    * ([[enrichIncremental]] is the forward half): after a RESTATEMENT
    * of historical closes, recompute indicators for exactly the rows
    * whose windows can see a restated row — each restated row r
    * touches ma7/ma30 of rows [r, r+29] and, through ret's one-row
    * ripple, vol30 of rows [r, r+30]; everything else is provably
    * unchanged and never recomputed. The enrich runs over each
    * asset's contiguous [first − TailRows, last + 30] row envelope
    * (windows inside a contiguous slice see the same trailing rows as
    * over the full table, so the output is bit-identical to a full
    * recompute — oracle-checked), and the output keeps only rows
    * within 30 rows at or after a restated mark.
    *
    * `restated`: the already-corrected daily table; `restatedKeys`:
    * the (date, asset) rows that changed. Compose with
    * [[graft.store.Warehouse.upsert]] to land the corrections. Scale:
    * per restatement the cost is O(assets touched × ~61 rows), not
    * O(history) — the same bound as the forward refresh.
    */
  def enrichAffected(restated: DataFrame, restatedKeys: DataFrame): DataFrame = {
    val w = Window.partitionBy("asset").orderBy("date")
    val withRn = restated.withColumn("__rn", row_number().over(w))
    val marks = withRn.join(restatedKeys.select("date", "asset"), Seq("date", "asset"), "left_semi")
      .select(col("asset").as("__m_asset"), col("__rn").as("__m_rn"))
    val env = marks.groupBy("__m_asset")
      .agg((min(col("__m_rn")) - TailRows).as("__lo"), (max(col("__m_rn")) + 30).as("__hi"))
    val slice = withRn.join(broadcast(env),
      col("asset") === col("__m_asset") && col("__rn").between(col("__lo"), col("__hi")))
      .drop("__m_asset", "__lo", "__hi")
    enrich(slice)
      .join(broadcast(marks),
        col("asset") === col("__m_asset") &&
          col("__m_rn").between(col("__rn") - 30, col("__rn")), "left_semi")
      .drop("__rn")
  }

  /** Exact rolling median of price over the trailing `window` rows per
    * asset (min_periods = window, same guard discipline as ma30) — the
    * robust-center sibling of the mean indicators: outlier ticks move
    * ma30 but not med30. Rounded to 6 dp for engine portability.
    *
    * Shape: `collect_list` gathers the frame (a flat array append per
    * replayed row) and the median comes from one codegen'd
    * `array_sort` in the outer projection — NOT `percentile(0.5)` as a
    * window aggregate, whose per-row finalization builds and sorts a
    * counts hashmap on every frame shift. `collect_list` skips NULL
    * prices, so `size(frame) = window` IS the min_periods guard
    * (`count(price) OVER w >= window`). O(w) state per row, one sort
    * per output row on a w-element array. At tick grain with much
    * larger windows switch to `approx_percentile` over the frame —
    * mergeable sketch, constant memory (docs/SCALE.md).
    */
  def rollingMedian(prices: DataFrame, window: Int = 30): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val w = Window.partitionBy("asset").orderBy("ts_utc")
      .rowsBetween(-(window - 1), 0)
    // two-level select so the sort runs once per row: CollapseProject
    // refuses to inline a non-cheap producer with several references
    val sorted = col("__sorted")
    val med =
      if (window % 2 == 1) element_at(sorted, (window + 1) / 2)
      else (element_at(sorted, window / 2) + element_at(sorted, window / 2 + 1)) / 2.0
    prices
      // r17 session 2 (guide §2.5 stragglers): the per-row
      // collect_list+array_sort makes this window CPU-bound, but its
      // shuffle is tiny in bytes, so AQE coalesced the window stage to
      // 1-2 partitions (QueryProf: the whole query in a 2-task job).
      // An explicit keyed REPARTITION_BY_NUM is exempt from
      // coalescing; parallelism is still capped by the asset
      // cardinality, which is the partition key the window requires.
      .repartition(prices.sparkSession.sparkContext.defaultParallelism,
        col("asset"))
      .select(col("ts_utc"), col("asset"),
        array_sort(collect_list(col("price")).over(w)).as("__sorted"))
      .select(col("ts_utc"), col("asset"),
        when(size(sorted) === window, round(med, 6)).as(s"med$window"))
  }

  import graft.functions.native

  /** EMA/MACD family over the daily close — pandas `ewm(span,
    * adjust=False)` semantics via the [[graft.functions.SeededEwma]]
    * window recursion (seed = first close):
    *
    *   ema12  = EWMA(close, α=2/13)
    *   ema26  = EWMA(close, α=2/27)
    *   macd   = ema12 − ema26
    *   signal = EWMA(macd,  α=2/10)   (the "signal line", span 9)
    *   hist   = macd − signal
    *
    * Two Window passes over the SAME (asset, date) spec — the signal
    * line recurses on the derived macd column, so it cannot share the
    * first pass — but one sort and ZERO extra shuffles: the second
    * WindowExec reuses the child's ordering/distribution. Defined from
    * row 1 (no min_periods — the recursion warm-up is the indicator's
    * documented bias, as in pandas). Rounded to 6 dp for engine
    * portability.
    */
  def emaMacd(daily: DataFrame): DataFrame = {
    def ewma(x: Column, alpha: Double): Column =
      native.seededEwmaOver(x, alpha, 1, Seq(col("asset")), Seq(col("date")))
    val base = daily.select(col("date"), col("asset"), col("close"),
      ewma(col("close"), 2.0 / 13).as("ema12"),
      ewma(col("close"), 2.0 / 27).as("ema26"))
      .withColumn("macd", col("ema12") - col("ema26"))
    base
      .withColumn("signal", ewma(col("macd"), 2.0 / 10))
      .select(col("date"), col("asset"), col("close"),
        round(col("ema12"), 6).as("ema12"), round(col("ema26"), 6).as("ema26"),
        round(col("macd"), 6).as("macd"), round(col("signal"), 6).as("signal"),
        round(col("macd") - col("signal"), 6).as("hist"))
  }

  /** Wilder RSI(period) + ATR(period) over daily OHLC — both are the
    * same seeded-EWMA recursion (α = 1/period, seed = plain mean of
    * the first `period` values; Wilder's `(prev·(n−1)+x)/n` IS α=1/n
    * smoothing):
    *
    *   gain/loss = the positive/negative part of the close diff
    *               (NULL on each asset's first row — not a zero gain)
    *   rsi  = 100 − 100/(1 + avg_gain/avg_loss), 100 when avg_loss=0
    *   tr   = max(high−low, |high−prev_close|, |low−prev_close|)
    *          (high−low on the first row)
    *   atr  = WilderEWMA(tr)
    *
    * rsi's first value lands one row after atr's: gains start at row 2
    * (first diff is NULL) while tr exists from row 1 — the same
    * count-non-null min_periods discipline as vol30 vs ma30 above.
    * One Window pass, one shuffle on asset. Rounded to 6 dp.
    */
  def rsiAtr(daily: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val w = Window.partitionBy("asset").orderBy("date")
    val alpha = 1.0 / period
    def wilder(x: Column): Column =
      native.seededEwmaOver(x, alpha, period, Seq(col("asset")), Seq(col("date")))
    val diff = col("close") - lag(col("close"), 1).over(w)
    val prevClose = lag(col("close"), 1).over(w)
    val gl = daily.select(col("date"), col("asset"), col("close"),
      col("high"), col("low"),
      when(diff.isNull, lit(null)).when(diff > 0, diff).otherwise(lit(0.0)).as("gain"),
      when(diff.isNull, lit(null)).when(diff < 0, -diff).otherwise(lit(0.0)).as("loss"),
      when(prevClose.isNull, col("high") - col("low"))
        .otherwise(greatest(col("high") - col("low"),
          abs(col("high") - prevClose), abs(col("low") - prevClose))).as("tr"))
    gl.select(col("date"), col("asset"),
        wilder(col("gain")).as("avg_gain"),
        wilder(col("loss")).as("avg_loss"),
        wilder(col("tr")).as("atr"))
      .select(col("date"), col("asset"),
        round(when(col("avg_loss") === 0.0, lit(100.0))
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("avg_gain") / col("avg_loss"))), 6)
          .as(s"rsi$period"),
        round(col("atr"), 6).as(s"atr$period"))
  }

  /** Stochastic oscillator: %K = 100·(close − minN(low)) /
    * (maxN(high) − minN(low)) over the trailing `window` rows, %D =
    * the `smooth`-row mean of %K. min_periods-guarded like ma30; %K
    * is NULL when the channel is flat (max = min — division would be
    * 0/0). Pure built-in window aggregates, one shuffle on asset.
    */
  def stochastic(daily: DataFrame, window: Int = 14, smooth: Int = 3): DataFrame = {
    require(window >= 1 && smooth >= 1, s"window/smooth must be >= 1")
    val base = Window.partitionBy("asset").orderBy("date")
    val wN = base.rowsBetween(-(window - 1), 0)
    val wS = base.rowsBetween(-(smooth - 1), 0)
    val lowN = min(col("low")).over(wN)
    val highN = max(col("high")).over(wN)
    val k = when(count(col("close")).over(wN) >= window && highN =!= lowN,
      lit(100.0) * (col("close") - lowN) / (highN - lowN))
    val withK = daily.select(col("date"), col("asset"), col("close"), k.as("k"))
    withK.select(col("date"), col("asset"),
      round(col("k"), 6).as("stoch_k"),
      round(when(count(col("k")).over(wS) >= smooth, avg(col("k")).over(wS)), 6).as("stoch_d"))
  }

  /** Drawdown from the running peak: dd = close / cummax(close) − 1
    * (≤ 0, with 0 at every new high). The running max is a plain
    * unbounded-preceding window aggregate — O(1) per row.
    */
  def drawdown(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("asset").orderBy("date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(col("date"), col("asset"), col("close"),
      round(col("close") / max(col("close")).over(w) - 1, 6).as("drawdown"))
  }

  /** Per-asset performance summary in ONE aggregate pass over the
    * window-enriched daily closes:
    *
    *   total_return = last close / first close − 1  (arg_max/arg_min by date)
    *   ann_vol      = stddev_samp(daily ret) · √365 (crypto trades 365d)
    *   sharpe       = mean(ret)/stddev(ret) · √365  (rf = 0)
    *   max_drawdown = min over the running-peak drawdown
    *
    * The window pass (ret + running max) partitions by asset, so the
    * whole thing is one shuffle; the final agg is per-asset hash agg.
    */
  def perfStats(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("asset").orderBy("date")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val enriched = daily.select(col("date"), col("asset"), col("close"),
      (col("close") / lag(col("close"), 1).over(w) - 1).as("ret"),
      (col("close") / max(col("close")).over(wRun) - 1).as("dd"))
    val ann = sqrt(lit(365.0))
    enriched.groupBy("asset").agg(
      count(lit(1)).as("n_days"),
      round(max_by(col("close"), col("date")) / min_by(col("close"), col("date")) - 1, 6)
        .as("total_return"),
      round(stddev_samp(col("ret")) * ann, 6).as("ann_vol"),
      round(avg(col("ret")) / stddev_samp(col("ret")) * ann, 6).as("sharpe"),
      round(min(col("dd")), 6).as("max_drawdown"))
  }

  /** Bollinger bands: mid = trailing `window`-row mean of close,
    * upper/lower = mid ± k·stddev_samp, min_periods-guarded like ma30.
    * Pure built-in window aggregates — no recursion — so it shares
    * the one (asset, date) sort with everything else in this family.
    */
  /** On-balance volume over the daily tier: cumulative sum of
    * sign(Δclose)·volume per asset, OBV = 0 until the first close
    * change (the standard seeding). The testdata carries no per-trade
    * size, so volume is the day's tick count — the shape (one daily
    * hash-agg, then one per-asset window pass ≡ one shuffle) is
    * identical with a real volume column: swap `count(*)` for
    * `sum(trade_size)` in the aggregate.
    */
  def obv(prices: DataFrame): DataFrame = {
    val daily = prices.groupBy(to_date(col("ts_utc")).as("date"), col("asset"))
      .agg(max_by(col("price"), col("ts_utc")).as("close"),
        count(lit(1)).as("volume"))
    val w = Window.partitionBy("asset").orderBy("date")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val signed = signum(col("close") - lag(col("close"), 1).over(w)) * col("volume")
    daily
      .withColumn("signed", coalesce(signed, lit(0.0)))
      .select(col("date"), col("asset"), col("close"), col("volume"),
        sum(col("signed")).over(wRun).cast("long").as("obv"))
  }

  /** Moving-average crossover signals (golden / death cross): rows
    * where the sign of maFast−maSlow flips, with the MAs computed
    * here under the same min_periods guard as [[enrich]] (slow warm
    * implies fast warm for fast < slow). The NULL warm-up rows are
    * filtered BEFORE the lag, so the first warm day never compares
    * against a NULL state, and exact-tie days (state 0) emit nothing
    * but do advance the comparison state. All windows share ONE
    * (asset, date) sort — a single shuffle, like the rest of the
    * indicator family.
    */
  def maCross(daily: DataFrame, fast: Int = 7, slow: Int = 30): DataFrame = {
    require(fast >= 1 && slow > fast, s"need 1 <= fast < slow, got $fast/$slow")
    val w = Window.partitionBy("asset").orderBy("date")
    val wf = w.rowsBetween(-(fast - 1), 0)
    val ws = w.rowsBetween(-(slow - 1), 0)
    val maF = when(count(col("close")).over(wf) >= fast, avg(col("close")).over(wf))
    val maS = when(count(col("close")).over(ws) >= slow, avg(col("close")).over(ws))
    val state = when(maF > maS, 1).when(maF < maS, -1).otherwise(0)
    daily
      .select(col("date"), col("asset"), col("close"),
        state.as("state"), maS.isNotNull.as("warm"))
      .filter(col("warm"))
      .withColumn("prev", lag(col("state"), 1).over(w))
      .filter(col("prev").isNotNull && col("state") =!= col("prev")
        && col("state") =!= 0)
      .select(col("date"), col("asset"), col("close"),
        when(col("state") === 1, "golden").otherwise("death").as("signal"))
  }

  /** Additive seasonal decomposition (X217) — classic-decomposition
    * lite, the missing member of the indicator family: `value = trend
    * + seasonal + residual` per series.
    *
    *  - TREND: symmetric centered moving average over `period` rows
    *    (odd period; full windows only, the family's min_periods
    *    discipline — edges read NULL rather than a biased average).
    *  - SEASONAL: the mean detrended value of each PHASE (row position
    *    mod period within the series — calendar-agnostic, so gaps
    *    shift phase rather than silently mixing weekdays; gap-fill
    *    first via [[Relational.gapFill]] when calendar alignment
    *    matters), centered so the p phase effects sum to zero.
    *  - RESIDUAL: what's left; NULL wherever the trend is.
    *
    * Engine parity: every floating aggregate evaluates in a DECLARED
    * ORDER — the trend in frame order (the W2/W3 parity the ma7/ma30
    * oracles pin), and the phase/center means as ordered CUMULATIVE
    * sums whose last element is taken by `max_by` (sequential IEEE
    * adds, date order / phase order) — so any engine replaying the
    * same order lands the same bits; an unordered group sum would
    * wiggle with partitioning. Phase means broadcast back per
    * (series, phase) — series×period rows, never the data again.
    */
  def seasonalDecompose(daily: DataFrame, valueCol: String = "close",
                        period: Int = 7): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"period must be odd >= 3 (symmetric centered trend), got $period")
    val half = period / 2
    val w = Window.partitionBy("asset").orderBy("date")
    val frame = w.rowsBetween(-half, half)
    val base = daily.select(col("date"), col("asset"), col(valueCol))
      .withColumn("trend",
        when(count(col(valueCol)).over(frame) === period,
          avg(col(valueCol)).over(frame)))
      .withColumn("__phase", (row_number().over(w) - 1) % period)
      .withColumn("__det", col(valueCol) - col("trend"))
    // mean via ordered running sum: the LAST cumulative value divided
    // by the count — addition order is the declared sort order
    def orderedMean(src: DataFrame, keys: Seq[String], valCol: String,
                    ordCol: String, out: String): DataFrame = {
      val wo = Window.partitionBy(keys.map(col): _*).orderBy(col(ordCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rn = Window.partitionBy(keys.map(col): _*).orderBy(col(ordCol))
      src.withColumn("__cs", sum(col(valCol)).over(wo))
        .withColumn("__rn", row_number().over(rn))
        .groupBy(keys.map(col): _*)
        .agg((max_by(col("__cs"), col("__rn")) / count(lit(1))).as(out))
    }
    val phaseMeans = orderedMean(base.filter(col("__det").isNotNull),
      Seq("asset", "__phase"), "__det", "date", "__sraw")
    val centers = orderedMean(phaseMeans,
      Seq("asset"), "__sraw", "__phase", "__c")
    base
      .join(broadcast(phaseMeans), Seq("asset", "__phase"), "left")
      .join(broadcast(centers), Seq("asset"), "left")
      .withColumn("seasonal", col("__sraw") - col("__c"))
      .withColumn("residual", col(valueCol) - col("trend") - col("seasonal"))
      .select(col("date"), col("asset"), col(valueCol),
        col("trend"), col("seasonal"), col("residual"))
  }

  /** Autocorrelation function of daily returns (X225): per asset, the
    * Pearson correlation between the return series and its own ℓ-day
    * lag, for ℓ = 1..maxLag — the standard seasonality/momentum probe
    * (an ACF spike at 7 on daily data IS the weekly cycle) and the
    * diagnostic every forecasting model (X217 seasonal, Holt below) is
    * sanity-checked against.
    *
    * Plan: ONE window pass materializes all maxLag lag columns over
    * the same (asset, date) sort, a `stack` unpivot melts them to
    * (asset, lag, ret, ret_lag) rows, one hash aggregate computes
    * corr per (asset, lag). Two shuffles total, both asset-grain;
    * the unpivot is a projection, not a join — maxLag passes over
    * the series would be maxLag window sorts. `corr`'s unordered
    * float sums drift across engines, so values round to 6 dp on
    * both sides (the q_corr_matrix precedent); pairs with fewer than
    * `minPairs` overlapping rows report NULL (a 3-point correlation
    * is noise, and stddev-zero series divide by zero).
    */
  def autocorr(daily: DataFrame, maxLag: Int = 10, minPairs: Int = 10): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val w = Window.partitionBy("asset").orderBy("date")
    val rets = daily.select(col("date"), col("asset"),
      (col("close") / lag(col("close"), 1).over(w) - 1).as("ret"))
      .filter(col("ret").isNotNull)
    val withLags = rets.select(
      col("asset") +: col("ret") +:
        (1 to maxLag).map(l => lag(col("ret"), l).over(w).as(s"__l$l")): _*)
    val stacked = withLags.select(col("asset"), col("ret"),
      expr(s"stack(${maxLag}, " +
        (1 to maxLag).map(l => s"$l, __l$l").mkString(", ") +
        ") as (lag, ret_lag)"))
      .filter(col("ret_lag").isNotNull)
    // zero-variance guard (r13 ADVICE fix): a constant-price asset
    // makes corr's final `ck / sqrt(xMk·yMk)` divide by zero — under
    // ANSI (the Spark 4 default) that THROWS, and it cannot be
    // when()-guarded because every aggregate's result expression
    // evaluates unconditionally in the agg output projection. The
    // correlation is therefore computed EXPLICITLY as
    // covar_samp/(stddev·stddev) — the identical statistic; Spark's
    // component aggregates are internally If-guarded so they never
    // throw — with OUR division sitting in the post-aggregation
    // projection inside the when branch, where CaseWhen laziness
    // genuinely protects it. Degenerate series → NULL on both engines
    // (the oracle mirrors the same explicit formula); the 6-dp round
    // absorbs the ~1-ULP formula difference vs the fused corr.
    stacked.groupBy(col("asset"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        covar_samp(col("ret"), col("ret_lag")).as("__cv"),
        stddev_samp(col("ret")).as("__sx"),
        stddev_samp(col("ret_lag")).as("__sy"))
      .select(col("asset"), col("lag"), col("n_pairs"),
        when(col("n_pairs") >= minPairs && col("__sx") > 0 && col("__sy") > 0,
          round(col("__cv") / (col("__sx") * col("__sy")), 6)).as("acf"))
  }

  /** Holt double-exponential smoothing + one-step-ahead forecast
    * (X226) over the daily close — the [[graft.functions.HoltLinear]]
    * window recursion (level tracks the series, trend tracks the
    * slope, forecast = level + trend). The forecasting-family member
    * between the lagging EMA (X82) and the full seasonal decomposition
    * (X217). `fc_err` = close − previous row's forecast is the
    * walk-forward residual every smoothing-parameter sweep scores
    * (NULL on each asset's first row: no forecast existed before the
    * seed; from row 2 on it scores the previous forecast).
    * One window pass, one shuffle on asset; the recursion is serial
    * per series (inherent — any engine pays it), parallel across
    * assets. Rounded to 6 dp for engine portability; the oracle
    * replays the exact recurrence as a recursive CTE (the q_ema_macd
    * precedent).
    */
  def holt(daily: DataFrame, alpha: Double = 0.3, beta: Double = 0.1): DataFrame = {
    val h = native.holtLinearOver(col("close"), alpha, beta,
      Seq(col("asset")), Seq(col("date")))
    val w = Window.partitionBy("asset").orderBy("date")
    daily.select(col("date"), col("asset"), col("close"), h.as("__h"))
      .select(col("date"), col("asset"), col("close"),
        round(col("__h.level"), 6).as("level"),
        round(col("__h.trend"), 6).as("trend"),
        round(col("__h.forecast"), 6).as("forecast"),
        round(col("close") - lag(col("__h.forecast"), 1).over(w), 6).as("fc_err"))
  }

  /** Two-sided CUSUM change detection (X227) over daily returns — the
    * [[graft.functions.CusumState]] recursion per asset: s⁺/s⁻
    * accumulate sustained drift of the return mean beyond ±allowance
    * around `target` (0 = "returns should be flat") and reset at
    * zero; `alarm` flags rows where either side exceeds `h`. The
    * control-chart complement to the z-score spike detector (X125):
    * z-scores catch one big outlier, CUSUM catches many small ones in
    * the same direction. One window pass, one shuffle on asset.
    * Rounded to 6 dp; oracle = the same recurrence as a recursive CTE
    * with greatest(0, ·).
    */
  def cusum(daily: DataFrame, target: Double = 0.0, allowance: Double = 0.005,
            h: Double = 0.05): DataFrame = {
    val w = Window.partitionBy("asset").orderBy("date")
    val rets = daily.select(col("date"), col("asset"),
      (col("close") / lag(col("close"), 1).over(w) - 1).as("ret"))
    val c = native.cusumOver(col("ret"), target, allowance,
      Seq(col("asset")), Seq(col("date")))
    rets.select(col("date"), col("asset"), round(col("ret"), 6).as("ret"), c.as("__c"))
      .select(col("date"), col("asset"), col("ret"),
        round(col("__c.pos"), 6).as("cusum_pos"),
        round(col("__c.neg"), 6).as("cusum_neg"),
        (col("__c.pos") > h || col("__c.neg") > h).as("alarm"))
  }

  def bollinger(daily: DataFrame, window: Int = 20, k: Double = 2.0): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val w = Window.partitionBy("asset").orderBy("date")
      .rowsBetween(-(window - 1), 0)
    val n = count(col("close")).over(w)
    val mid = when(n >= window, avg(col("close")).over(w))
    val dev = when(n >= window, stddev_samp(col("close")).over(w))
    daily.select(col("date"), col("asset"), col("close"),
      round(mid, 6).as("bb_mid"),
      round(mid + lit(k) * dev, 6).as("bb_upper"),
      round(mid - lit(k) * dev, 6).as("bb_lower"))
  }
}
