package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.window.RollingOps

/** Technical / financial indicator windows over ordered per-key
  * series — the rolling-window compositions a user of the reference's
  * window surface (pandrs `src/series/window.rs` rolling + ewm)
  * builds by hand for price-like series, shipped as operators.
  *
  * Scale notes: every indicator is a per-partition window or EWM
  * fold — no shuffle beyond the one hash partition by key, no driver
  * involvement, and the rolling forms stay inside whole-stage
  * codegen. Exactness: callers pass scaled-integer (cents) values
  * where the oracle gate demands order-independent sums; the
  * Bollinger moments are integer window sums with the double
  * arithmetic applied once at the end in a fixed operation order.
  */
object TechnicalOps {

  private def w(partitionCols: Seq[String], orderCol: String) =
    Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))

  /** Running-peak drawdown: dd_t = (max_{s≤t} v_s − v_t) / max_{s≤t} v_s.
    * Emits the running peak and the drawdown fraction per row. */
  def drawdownSeries(df: DataFrame, valueCol: String, orderCol: String,
      partitionCols: Seq[String], outPrefix: String = "dd"): DataFrame = {
    val win = w(partitionCols, orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peak = max(col(valueCol)).over(win)
    df.filter(col(valueCol).isNotNull)
      .withColumn(s"${outPrefix}_peak", peak)
      .withColumn(outPrefix,
        when(col(s"${outPrefix}_peak") > 0,
          (col(s"${outPrefix}_peak") - col(valueCol)).cast("double") /
            col(s"${outPrefix}_peak").cast("double")))
  }

  /** Per-group maximum drawdown summary: the deepest peak-to-trough
    * fraction over the ordered series (selection over exact per-row
    * rationals — order-independent, safe under the oracle gate). */
  def maxDrawdown(df: DataFrame, valueCol: String, orderCol: String,
      partitionCols: Seq[String]): DataFrame =
    drawdownSeries(df, valueCol, orderCol, partitionCols)
      .groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        max(col(valueCol)).as("peak"),
        round(max(col("dd")), 6).as("max_drawdown"))

  /** Bollinger bands over an n-row trailing window: mid = SMA_n,
    * bands mid ± k·σ (sample σ), %B = (v − lower)/(upper − lower).
    * Rows with an incomplete window emit nulls. Moments are window
    * sums of the input column (exact for integral inputs); variance
    * uses the closed form (n·Σx² − (Σx)²)/(n(n−1)) evaluated in one
    * fixed order so an oracle can replay it bitwise. */
  def bollinger(df: DataFrame, valueCol: String, orderCol: String,
      partitionCols: Seq[String], n: Int = 20, k: Double = 2.0): DataFrame = {
    require(n >= 2, "window n >= 2")
    val win = w(partitionCols, orderCol).rowsBetween(-(n - 1), 0)
    val v = col(valueCol)
    val full = count(v).over(win) === n
    val s1 = sum(v).over(win)
    val s2 = sum(v * v).over(win)
    val mid = s1.cast("double") / n
    val variance = (lit(n.toLong) * s2 - s1 * s1).cast("double") /
      (n.toDouble * (n - 1).toDouble)
    val sd = sqrt(variance)
    val up = mid + lit(k) * sd
    val lo = mid - lit(k) * sd
    df.filter(v.isNotNull)
      .withColumn("bb_mid", when(full, mid))
      .withColumn("bb_up", when(full, up))
      .withColumn("bb_lo", when(full, lo))
      .withColumn("bb_pctb",
        when(full && sd > 0, (v.cast("double") - lo) / (up - lo)))
  }

  /** EWM RSI: Wilder-style relative strength on the EWM
    * (adjust=false, α = 1/period) of gains vs losses of the
    * first-difference series, seeded at the first difference.
    * rsi = 100·g/(g+l) ∈ [0,100]; null while the series is flat
    * (g+l = 0). Diffs are taken after null-filtering, so a missing
    * observation neither poisons nor resets the recurrence. */
  def rsi(df: DataFrame, valueCol: String, orderCol: String,
      partitionCols: Seq[String], period: Int = 14,
      outName: String = "rsi"): DataFrame = {
    require(period >= 1, "period >= 1")
    val alpha = 1.0 / period.toDouble
    val win = w(partitionCols, orderCol)
    val d = col(valueCol) - lag(col(valueCol), 1).over(win)
    val diffs = df.filter(col(valueCol).isNotNull)
      .withColumn("__gain__",
        when(d.isNotNull, greatest(d.cast("double"), lit(0.0))))
      .withColumn("__loss__",
        when(d.isNotNull, greatest(-d.cast("double"), lit(0.0))))
      .filter(col("__gain__").isNotNull)
    val g = RollingOps.ewmMean(diffs, "__gain__", orderCol, partitionCols,
      alpha, adjust = false, outName = "__g__")
    val gl = RollingOps.ewmMean(g, "__loss__", orderCol, partitionCols,
      alpha, adjust = false, outName = "__l__")
    gl.withColumn(outName,
      when(col("__g__") + col("__l__") > 0,
        lit(100.0) * col("__g__") / (col("__g__") + col("__l__"))))
      .drop("__gain__", "__loss__", "__g__", "__l__")
  }

  /** MACD(fast, slow, signal): EWM(adjust=false) fast/slow means of
    * the series (α = 2/(n+1), seeded at the first value), macd =
    * ema_fast − ema_slow, signal = EWM of the macd line (seeded at
    * the first macd, which is 0 by construction), hist = macd −
    * signal. Three sequential EWM passes per key — each a single
    * hash-partition pass, no driver involvement. */
  def macd(df: DataFrame, valueCol: String, orderCol: String,
      partitionCols: Seq[String], fast: Int = 12, slow: Int = 26,
      signal: Int = 9): DataFrame = {
    def a(n: Int): Double = 2.0 / (n + 1).toDouble
    val base = df.filter(col(valueCol).isNotNull)
    val e1 = RollingOps.ewmMean(base, valueCol, orderCol, partitionCols,
      a(fast), adjust = false, outName = "__ef__")
    val e2 = RollingOps.ewmMean(e1, valueCol, orderCol, partitionCols,
      a(slow), adjust = false, outName = "__es__")
      .withColumn("macd", col("__ef__") - col("__es__"))
    val sig = RollingOps.ewmMean(e2, "macd", orderCol, partitionCols,
      a(signal), adjust = false, outName = "macd_signal")
    sig.withColumn("macd_hist", col("macd") - col("macd_signal"))
      .drop("__ef__", "__es__")
  }
}
