package graft.timeseries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series layer (reference src/time_series/core.rs,
  * src/temporal/): date ranges, resampling, sessionization, seasonal
  * decomposition — all as distributed DataFrame transforms. The
  * pandas DateTimeIndex becomes an explicit timestamp column
  * (SURVEY §1.1); frequencies map to date_trunc/window buckets.
  */
object TimeSeriesOps {

  /** date_range (reference src/time_series/core.rs:140,
    * src/temporal/date_range/) as sequence + explode — generated
    * distributed, not on the driver. */
  def dateRange(spark: SparkSession, start: String, end: String,
      intervalExpr: String): DataFrame =
    spark.range(1).select(explode(sequence(
      to_timestamp(lit(start)), to_timestamp(lit(end)),
      expr(s"INTERVAL $intervalExpr"))).as("ts"))

  /** resample/downsample (core.rs:387-513, temporal/resample/mod.rs:21):
    * truncate to the frequency bucket and aggregate. One shuffle on
    * the bucket — at 100 TB this is the canonical pre-aggregation. */
  def resample(df: DataFrame, tsCol: String, freq: String,
      aggs: Seq[Column]): DataFrame =
    df.groupBy(date_trunc(freq, col(tsCol)).as("bucket"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("bucket")

  /** Mann–Kendall monotone-trend test per key (time-series family
    * extension): S = Σ_{i<j} sgn(x_j − x_i) over the time-ordered
    * series, tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18, continuity-corrected
    * z and two-sided normal p. Pairwise by construction — run it on
    * AGGREGATED series (resample first), like every single-series
    * diagnostic here; the self-join is per-key so many series still
    * parallelize across the cluster. */
  /** CUSUM changepoint scan per key: S_i = (Σ_{j≤i} x_j) − i·x̄ over
    * the orderCol-ordered integer series, reporting max|S|, the
    * FIRST order position attaining it, and the normalized statistic
    * max|S|/(σ̂_pop·√n) (≳1.36 rejects "no change" at ~5% by the
    * Brownian-bridge bound). Every ingredient is exact-or-mirrored:
    * the cumulative x is a Long window sum, i is row_number, and
    * x̄/σ̂ come from exact Long sufficient sums — so S_i is the same
    * double in any engine regardless of aggregation order. Windows
    * are per-key partitioned; valueCol must be integer-typed (cents
    * pattern). */
  def cusumChangepoint(df: DataFrame, valueCol: String,
      orderCol: String, keyCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(valueCol).isNotNull)
    val stats = base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n__"), sum(col(valueCol)).as("__sx__"),
        sum(col(valueCol) * col(valueCol)).as("__sxx__"))
    val joined = if (keyCols.isEmpty) base.crossJoin(broadcast(stats))
      else base.join(broadcast(stats), keyCols)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol))
    val wcum = w.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val nD = col("__n__").cast("double")
    val m = col("__sx__").cast("double") / nD
    val withS = joined
      .withColumn("__i__", row_number().over(w))
      .withColumn("__s__",
        sum(col(valueCol)).over(wcum).cast("double") -
          col("__i__").cast("double") * m)
      .withColumn("__abs__", abs(col("__s__")))
      .withColumn("__mx__", max(abs(col("__s__"))).over(
        Window.partitionBy(keyCols.map(col): _*)
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
    val sx = col("__sx__").cast("double")
    val sigma = sqrt((col("__sxx__") - sx * sx / nD) / nD)
    withS
      .groupBy((keyCols.map(col) :+ col("__n__") :+ col("__sx__") :+
        col("__sxx__")): _*)
      .agg(max(col("__abs__")).as("max_abs_s"),
        min(when(col("__abs__") === col("__mx__"), col(orderCol)))
          .as("t_at_max"))
      .select((keyCols.map(col) :+ col("__n__").as("n") :+
        round(col("max_abs_s"), 6).as("max_abs_s") :+
        col("t_at_max") :+
        round(col("max_abs_s") /
          when(sigma * sqrt(nD) > 0, sigma * sqrt(nD)), 6)
          .as("cusum_stat")): _*)
  }

  /** Pettitt changepoint test on an orderCol-ordered series via the
    * rank identity U_t = 2·Σ_{i≤t} r_i − t(n+1) (midranks for ties),
    * K = max|U_t|, first order position attaining it, and the
    * standard approximation p = 2·exp(−6K²/(n³+n²)). Runs on a
    * pre-aggregated bounded series (the timeseries-op precondition):
    * ranks and cumulative sums are plain windows there. */
  def pettitt(df: DataFrame, valueCol: String,
      orderCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(valueCol).isNotNull)
    val r = rank().over(Window.orderBy(col(valueCol))).cast("double") +
      (count(lit(1)).over(Window.partitionBy(col(valueCol)))
        .cast("double") - 1.0) / 2.0
    val wo = Window.orderBy(col(orderCol))
    val wcum = wo.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val withU = base.withColumn("__r__", r)
      .withColumn("__t__", row_number().over(wo))
      .withColumn("__n__", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("__u__", lit(2.0) * sum(col("__r__")).over(wcum) -
        col("__t__").cast("double") * (col("__n__").cast("double") + 1))
      .withColumn("__abs__", abs(col("__u__")))
      .withColumn("__mx__", max(abs(col("__u__"))).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val nD = col("n").cast("double")
    val p = lit(2.0) * exp(lit(-6.0) * col("k_stat") * col("k_stat") /
      (nD * nD * nD + nD * nD))
    withU
      .groupBy(col("__n__").as("n"))
      .agg(max(col("__abs__")).as("k_stat"),
        min(when(col("__abs__") === col("__mx__"), col(orderCol)))
          .as("change_at"))
      .select(col("n"), round(col("k_stat"), 6).as("k_stat"),
        col("change_at"),
        round(least(lit(1.0), p), 6).as("p_value"))
  }

  def mannKendall(df: DataFrame, tsCol: String, valueCol: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select((keyCols.map(col) :+ col(tsCol).as("__t__") :+
        col(valueCol).cast("double").as("__v__")): _*)
    val l = base.as("l"); val r = base.as("r")
    val keyEq = if (keyCols.isEmpty) lit(true)
      else keyCols.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val sTab = l.join(r, keyEq && col("l.__t__") < col("r.__t__"))
      .groupBy(keyCols.map(k => col(s"l.$k").as(k)): _*)
      .agg(sum(signum(col("r.__v__") - col("l.__v__"))).as("s"))
    val nTab = base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("double").as("n"))
    val tieTab = base.groupBy((keyCols.map(col) :+ col("__v__")): _*)
      .agg(count(lit(1)).cast("double").as("t"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
        .as("tsum"))
    val joined =
      if (keyCols.isEmpty) sTab.crossJoin(nTab).crossJoin(tieTab)
      else sTab.join(nTab, keyCols).join(tieTab, keyCols)
    val n = col("n")
    val varS = (n * (n - 1) * (n * 2 + 5) - col("tsum")) / 18.0
    val z = when(col("s") > 0, (col("s") - 1) / sqrt(varS))
      .when(col("s") < 0, (col("s") + 1) / sqrt(varS))
      .otherwise(0.0)
    joined.select((keyCols.map(col) :+
      col("s").cast("long").as("s_stat") :+
      n.cast("long").as("n") :+
      round(z, 6).as("z") :+
      round(lit(2.0) * (lit(1.0) -
        graft.stats.Distributions.normalCdfCol(abs(z))), 6)
        .as("p_value")): _*)
  }

  /** Page–Hinkley drift detection (the streaming-drift test used by
    * online-learning monitors; sequential sibling of
    * [[cusumChangepoint]]): m_T = Σ_{t≤T}(x_t − x̄_t − δ) with x̄_t
    * the RUNNING mean, PH_T = m_T − min_{t≤T} m_t; drift is flagged
    * where PH exceeds λ. Everything is expanding-window arithmetic
    * (per-key partitions at scale) — no iteration, no driver state.
    * Returns per key: max PH, the first order value where PH > λ
    * (null if never), and the flag. */
  def pageHinkley(df: DataFrame, valueCol: String, orderCol: String,
      delta: Double, lambda: Double,
      keyCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(valueCol).isNotNull)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol))
    val wcum = w.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val v = col(valueCol).cast("double")
    val runMean = sum(v).over(wcum) / count(lit(1)).over(wcum)
    val withPh = base
      .withColumn("__dev__", v - runMean - lit(delta))
      .withColumn("__m__", sum(col("__dev__")).over(wcum))
      .withColumn("__ph__",
        col("__m__") - min(col("__m__")).over(wcum))
    withPh.groupBy(keyCols.map(col): _*)
      .agg(round(max(col("__ph__")), 6).as("max_ph"),
        min(when(col("__ph__") > lambda, col(orderCol)))
          .as("drift_at"),
        max(when(col("__ph__") > lambda, 1L).otherwise(0L))
          .cast("boolean").as("drift"))
  }

  /** Newey–West HAC-robust standard error of the series mean
    * (statsmodels cov_hac parity): Bartlett-kernel long-run variance
    *   s²_NW = γ̂₀ + 2·Σ_{l≤L} (1 − l/(L+1))·γ̂_l,
    * autocovariances γ̂_l = Σ(c_t·c_{t+l})/n over the mean-centered
    * series. Reuses the [[acf]] bounded-lag join shape: L+1 keyed
    * aggregates, no O(n²) work. Emits the plain and HAC standard
    * errors plus the HAC t statistic of mean ≠ 0. */
  def neweyWestMean(df: DataFrame, valueCol: String, orderCol: String,
      maxLag: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxLag >= 1, "maxLag must be >= 1")
    val base = df.filter(col(valueCol).isNotNull)
    val meanTab = base.agg(avg(col(valueCol)).as("__m__"),
      count(lit(1)).cast("double").as("__n__"))
    val w = Window.orderBy(col(orderCol))
    val centered = base.crossJoin(broadcast(meanTab))
      .withColumn("__c__", col(valueCol) - col("__m__"))
      .withColumn("__rn__", row_number().over(w))
      .select(col("__c__"), col("__rn__"), col("__m__"), col("__n__"))
    val probes = centered
      .withColumn("lag", explode(sequence(lit(0), lit(maxLag))))
      .withColumn("__join_rn__", col("__rn__") + col("lag"))
    val b = centered.select(col("__c__").as("__cb__"),
      col("__rn__").as("__join_rn__"))
    val gam = probes.join(b, "__join_rn__")
      .groupBy(col("lag"))
      .agg(sum(col("__c__") * col("__cb__")).as("__g__"),
        first(col("__m__")).as("__m__"), first(col("__n__")).as("__n__"))
      .withColumn("__wt__",
        when(col("lag") === 0, lit(1.0))
          .otherwise(lit(2.0) *
            (lit(1.0) - col("lag").cast("double") / (maxLag + 1))))
    gam.agg(first(col("__m__")).as("mean"),
        first(col("__n__")).as("n"),
        sum(col("__wt__") * col("__g__")).as("__lrv__"),
        sum(when(col("lag") === 0, col("__g__"))).as("__g0__"))
      .select(round(col("mean"), 6).as("mean"),
        col("n").cast("long").as("n"),
        // n−1 denominator: the plain SE of a mean uses the SAMPLE
        // variance (statsmodels parity); γ̂₀/n would understate it
        round(sqrt(col("__g0__") / (col("n") - 1) / col("n")), 6)
          .as("se_iid"),
        round(sqrt(col("__lrv__") / col("n") / col("n")), 6)
          .as("se_hac"),
        round(col("mean") /
          sqrt(col("__lrv__") / col("n") / col("n")), 6).as("t_hac"))
  }

  /** Seasonal Mann–Kendall (Hirsch–Slack): the MK S and variance
    * computed WITHIN each season (pairs compared only between
    * same-season observations across cycles — a seasonal cycle can
    * no longer masquerade as trend), then summed across seasons;
    * z from the combined S with the ±1 continuity correction. The
    * pair join is season-bounded, so fan-out is Σ n_s² over seasons
    * — strictly less than the plain MK join. */
  def seasonalMannKendall(df: DataFrame, tsCol: String,
      valueCol: String, seasonCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull &&
        col(seasonCol).isNotNull)
      .select(col(seasonCol).as("__sn__"), col(tsCol).as("__t__"),
        col(valueCol).cast("double").as("__v__"))
    val l = base.as("l"); val r = base.as("r")
    val sTab = l.join(r, col("l.__sn__") === col("r.__sn__") &&
        col("l.__t__") < col("r.__t__"))
      .groupBy(col("l.__sn__").as("__sn__"))
      .agg(sum(signum(col("r.__v__") - col("l.__v__"))).as("s"))
    val nTab = base.groupBy(col("__sn__"))
      .agg(count(lit(1)).cast("double").as("n"))
    val tieTab = base.groupBy(col("__sn__"), col("__v__"))
      .agg(count(lit(1)).cast("double").as("t"))
      .groupBy(col("__sn__"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
        .as("tsum"))
    val perSeason = sTab.join(nTab, "__sn__").join(tieTab, "__sn__")
      .select(col("s"),
        ((col("n") * (col("n") - 1) * (col("n") * 2 + 5) -
          col("tsum")) / 18.0).as("vs"))
    val tot = perSeason.agg(count(lit(1)).as("n_seasons"),
      sum(col("s")).as("ss"), sum(col("vs")).as("vv"))
    val z = when(col("ss") > 0, (col("ss") - 1) / sqrt(col("vv")))
      .when(col("ss") < 0, (col("ss") + 1) / sqrt(col("vv")))
      .otherwise(0.0)
    tot.select(col("n_seasons"),
      col("ss").cast("long").as("s_stat"),
      round(z, 6).as("z"),
      round(lit(2.0) * (lit(1.0) -
        graft.stats.Distributions.normalCdfCol(abs(z))), 6)
        .as("p_value"))
  }

  /** Theil–Sen robust slope per key — the estimator that pairs with
    * [[mannKendall]]: median of all pairwise slopes
    * (x_j − x_i)/(t_j − t_i); intercept in the Conover form
    * median(x_i − slope·t_i), which stays robust when outliers shift
    * the plain value median. Same aggregated-series regime and
    * per-key self-join as MK. The time axis is cast to double (epoch
    * seconds for timestamps). */
  def theilSen(df: DataFrame, tsCol: String, valueCol: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select((keyCols.map(col) :+
        col(tsCol).cast("double").as("__t__") :+
        col(valueCol).cast("double").as("__v__")): _*)
    val l = base.as("l"); val r = base.as("r")
    val keyEq = if (keyCols.isEmpty) lit(true)
      else keyCols.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val slopes = l.join(r, keyEq && col("l.__t__") < col("r.__t__"))
      .groupBy(keyCols.map(k => col(s"l.$k").as(k)): _*)
      .agg(percentile((col("r.__v__") - col("l.__v__")) /
        (col("r.__t__") - col("l.__t__")), lit(0.5)).as("slope"))
    val withSlope = if (keyCols.isEmpty) base.crossJoin(broadcast(slopes))
      else base.join(broadcast(slopes), keyCols)
    withSlope.groupBy(keyCols.map(col): _*)
      .agg(first(col("slope")).as("slope"),
        percentile(col("__v__") - col("slope") * col("__t__"), lit(0.5))
          .as("__ic__"))
      .select((keyCols.map(col) :+
        round(col("slope"), 9).as("slope") :+
        round(col("__ic__"), 6).as("intercept")): _*)
  }

  /** pandas resample(freq).ohlc(): open/high/low/close per time
    * bucket (+ count), per optional key. Open/close are
    * min_by/max_by over a unique within-bucket ordering key
    * (micros-offset ⊕ tiebreak id — unique, so the result is
    * deterministic and engine-replayable), high/low plain min/max.
    * One hash aggregate — map-side combinable, scales like any
    * groupBy. */
  def resampleOhlc(df: DataFrame, tsCol: String, valueCol: String,
      freq: String, tiebreakCol: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val bucket = date_trunc(freq, col(tsCol))
    // unique scalar order key INSIDE a bucket: micros since bucket
    // start (≤ ~8.6e10 for a day bucket) * 2^23 + tiebreak id
    val ord = (unix_micros(col(tsCol)) - unix_micros(bucket)) *
      lit(8388608L) + col(tiebreakCol)
    val v = col(valueCol)
    df.filter(v.isNotNull)
      .groupBy((keyCols.map(col) :+ bucket.as("bucket")): _*)
      .agg(min_by(v, ord).as("open"), max(v).as("high"),
        min(v).as("low"), max_by(v, ord).as("close"),
        count(lit(1)).as("n"))
  }

  /** upsample to a regular grid with forward-fill: join the series
    * onto a generated calendar (one `ts` column), then ffill.
    * `keyCols` upsamples each key's series against the calendar with
    * a PARTITIONED fill window — pass them for multi-series data or
    * the single-series fill degenerates to one partition (fine only
    * for one bounded series; noted in SCALE.md). */
  def upsample(df: DataFrame, tsCol: String, valueCol: String,
      calendar: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val series = df.select((keyCols.map(col) :+
      col(tsCol).as("ts") :+ col(valueCol)): _*)
    val grid =
      if (keyCols.isEmpty) calendar
      else df.select(keyCols.map(col): _*).distinct().crossJoin(calendar)
    val joined = grid.join(series, keyCols :+ "ts", "left")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined.withColumn(valueCol,
      last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** sessionize: new session when the gap to the previous event of
    * the same key exceeds `gapSeconds`; session id = running count of
    * session starts. Single shuffle on the key. */
  def sessionize(df: DataFrame, tsCol: String, keyCol: String,
      gapSeconds: Long): DataFrame = {
    val wo = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val gap = col(tsCol).cast("double") -
      lag(col(tsCol), 1).over(wo).cast("double")
    val isStart = when(gap.isNull || gap > gapSeconds, 1).otherwise(0)
    df.withColumn("__start__", isStart)
      .withColumn("session_id", sum(col("__start__"))
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__start__")
  }

  /** Classical seasonal decomposition, additive
    * (reference src/time_series/decomposition.rs:62-552):
    * trend = centered moving average over one period;
    * seasonal = per-phase mean of detrended values;
    * resid = value − trend − seasonal. Two window passes + one
    * broadcastable per-phase aggregate. */
  def decomposeAdditive(df: DataFrame, tsCol: String, valueCol: String,
      period: Int, keyCols: Seq[String] = Nil): DataFrame = {
    val wAll = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    val half = period / 2
    // classical trend filter: odd period → centered m-point MA;
    // even period → 2×m MA (mean of the two half-shifted m-point
    // averages ⇒ half-weight endpoints), as in statsmodels
    val trendCol =
      if (period % 2 == 1) {
        val wMa = wAll.rowsBetween(-half, half)
        when(count(col(valueCol)).over(wMa) === period,
          avg(col(valueCol)).over(wMa))
      } else {
        val wA = wAll.rowsBetween(-half, half - 1)
        val wB = wAll.rowsBetween(-(half - 1), half)
        when(count(col(valueCol)).over(wA) === period &&
          count(col(valueCol)).over(wB) === period,
          (avg(col(valueCol)).over(wA) + avg(col(valueCol)).over(wB)) / 2)
      }
    val trended = df
      .withColumn("__rn__", row_number().over(wAll))
      .withColumn("trend", trendCol)
      .withColumn("__phase__", pmod(col("__rn__") - 1, lit(period)))
    // per-phase means of detrended values, re-centered to sum to zero
    // so the level stays in the trend component (per key when keyed)
    val phaseKeys = keyCols :+ "__phase__"
    val seasonal = trended
      .filter(col("trend").isNotNull)
      .groupBy(phaseKeys.map(col): _*)
      .agg(avg(col(valueCol) - col("trend")).as("__raw_seasonal__"))
    val meanS =
      if (keyCols.isEmpty)
        seasonal.agg(avg("__raw_seasonal__").as("__mean_s__"))
      else seasonal.groupBy(keyCols.map(col): _*)
        .agg(avg("__raw_seasonal__").as("__mean_s__"))
    val centered = (if (keyCols.isEmpty)
        seasonal.crossJoin(broadcast(meanS))
      else seasonal.join(broadcast(meanS), keyCols))
      .select((phaseKeys.map(col) :+
        (col("__raw_seasonal__") - col("__mean_s__")).as("seasonal")): _*)
    trended.join(broadcast(centered), phaseKeys, "left")
      .withColumn("resid", col(valueCol) - col("trend") - col("seasonal"))
      .drop("__rn__", "__phase__")
      .orderBy((keyCols :+ tsCol).map(col): _*)
  }

  /** Classical multiplicative decomposition (decomposition.rs
    * multiplicative model): value = trend · seasonal · resid. Same
    * window structure as [[decomposeAdditive]] with ratios instead of
    * differences; seasonal indices are normalized to mean 1. */
  def decomposeMultiplicative(df: DataFrame, tsCol: String,
      valueCol: String, period: Int,
      keyCols: Seq[String] = Nil): DataFrame = {
    val wAll = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    val half = period / 2
    val trendCol =
      if (period % 2 == 1) {
        val wMa = wAll.rowsBetween(-half, half)
        when(count(col(valueCol)).over(wMa) === period,
          avg(col(valueCol)).over(wMa))
      } else {
        val wA = wAll.rowsBetween(-half, half - 1)
        val wB = wAll.rowsBetween(-(half - 1), half)
        when(count(col(valueCol)).over(wA) === period &&
          count(col(valueCol)).over(wB) === period,
          (avg(col(valueCol)).over(wA) + avg(col(valueCol)).over(wB)) / 2)
      }
    val trended = df
      .withColumn("__rn__", row_number().over(wAll))
      .withColumn("trend", trendCol)
      .withColumn("__phase__", pmod(col("__rn__") - 1, lit(period)))
    val phaseKeys = keyCols :+ "__phase__"
    val seasonal = trended
      .filter(col("trend").isNotNull && col("trend") =!= 0)
      .groupBy(phaseKeys.map(col): _*)
      .agg(avg(col(valueCol) / col("trend")).as("__raw_seasonal__"))
    val meanS =
      if (keyCols.isEmpty)
        seasonal.agg(avg("__raw_seasonal__").as("__mean_s__"))
      else seasonal.groupBy(keyCols.map(col): _*)
        .agg(avg("__raw_seasonal__").as("__mean_s__"))
    val centered = (if (keyCols.isEmpty)
        seasonal.crossJoin(broadcast(meanS))
      else seasonal.join(broadcast(meanS), keyCols))
      .select((phaseKeys.map(col) :+
        (col("__raw_seasonal__") / col("__mean_s__")).as("seasonal")): _*)
    trended.join(broadcast(centered), phaseKeys, "left")
      .withColumn("resid",
        col(valueCol) / (col("trend") * col("seasonal")))
      .drop("__rn__", "__phase__")
      .orderBy((keyCols :+ tsCol).map(col): _*)
  }

  /** Breusch-Godfrey LM test for serial correlation up to `lags`
    * (stats.rs breusch_godfrey): auxiliary OLS of the series on its
    * own `lags` lagged values (treat the input as a residual series),
    * LM = n·R², p from χ²(lags). Cross-product sums are one
    * distributed aggregate; the (lags+1)-dim solve is driver math. */
  def breuschGodfrey(df: DataFrame, valueCol: String, orderCol: String,
      lags: Int): (Double, Double) = {
    require(lags >= 1, "lags >= 1")
    val w = Window.orderBy(col(orderCol))
    val lagged = (1 to lags).foldLeft(
        df.select(col(valueCol).cast("double").as("__y__"),
          col(orderCol)))((d, k) =>
      d.withColumn(s"__l${k}__", lag(col("__y__"), k).over(w)))
      .filter((1 to lags).map(k => col(s"__l${k}__").isNotNull)
        .reduce(_ && _))
    val names = "__y__" +: (1 to lags).map(k => s"__l${k}__")
    // all pairwise product sums in one aggregate
    val aggs = Seq(count(lit(1)).cast("double").as("n")) ++
      names.map(a => sum(col(a)).as(s"s_$a")) ++
      (for (a <- names; b <- names if a <= b)
        yield sum(col(a) * col(b)).as(s"s_${a}_$b"))
    val r = lagged.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Double]("n")
    def s1(a: String) = r.getAs[Double](s"s_$a")
    def s2(a: String, b: String) =
      if (a <= b) r.getAs[Double](s"s_${a}_$b")
      else r.getAs[Double](s"s_${b}_$a")
    // normal equations for y ~ const + lags
    val d = lags + 1
    val xtx = Array.tabulate(d, d) { (i, j) =>
      (i, j) match {
        case (0, 0) => n
        case (0, jj) => s1(names(jj))
        case (ii, 0) => s1(names(ii))
        case (ii, jj) => s2(names(ii), names(jj))
      }
    }
    val xty = Array.tabulate(d)(i =>
      if (i == 0) s1("__y__") else s2(names(i), "__y__"))
    val beta = solve(xtx, xty)
    // SSE = y'y − β'X'y ; SST = y'y − n·ȳ²
    val yy = s2("__y__", "__y__")
    val sse = yy - beta.zipWithIndex.map { case (b, i) => b * xty(i) }.sum
    val sst = yy - s1("__y__") * s1("__y__") / n
    val r2 = if (sst > 0) 1.0 - sse / sst else 0.0
    val lm = n * r2
    (lm, graft.stats.Distributions.chi2UpperP(lm, lags.toDouble))
  }

  /** Lag/rolling feature extraction (reference
    * src/time_series/features.rs): adds lag_k and rolling-mean
    * columns per key in one window pass. */
  def lagFeatures(df: DataFrame, valueCol: String, orderCol: String,
      keyCols: Seq[String], lags: Seq[Int],
      rollWindows: Seq[Int]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol))
    val withLags = lags.foldLeft(df)((d, k) =>
      d.withColumn(s"${valueCol}_lag$k", lag(col(valueCol), k).over(w)))
    rollWindows.foldLeft(withLags)((d, n) =>
      d.withColumn(s"${valueCol}_rollmean$n",
        avg(col(valueCol)).over(w.rowsBetween(-(n - 1), 0))))
  }

  /** Linear detrend (reference src/time_series/preprocessing.rs):
    * residual of the per-key OLS fit value ~ rownum, computed from
    * sufficient sums — two distributed passes, no driver collect.
    * `keyCols` detrends each series under a partitioned window; empty
    * keyCols is a single global series (one-partition row_number —
    * fine only for one bounded series; noted in SCALE.md). */
  def detrendLinear(df: DataFrame, valueCol: String, orderCol: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val wAll = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol))
    val withX = df.withColumn("__x__",
      row_number().over(wAll).cast("double"))
    val sums = withX.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("double").as("__n__"),
        sum(col("__x__")).as("__sx__"),
        sum(col(valueCol)).as("__sy__"),
        sum(col("__x__") * col("__x__")).as("__sxx__"),
        sum(col("__x__") * col(valueCol)).as("__sxy__"))
    val joined =
      if (keyCols.isEmpty) withX.crossJoin(broadcast(sums))
      else withX.join(broadcast(sums), keyCols)
    val slope = (col("__n__") * col("__sxy__") - col("__sx__") * col("__sy__")) /
      (col("__n__") * col("__sxx__") - col("__sx__") * col("__sx__"))
    val icept = (col("__sy__") - slope * col("__sx__")) / col("__n__")
    joined.withColumn(s"${valueCol}_detrended",
      col(valueCol) - (icept + slope * col("__x__")))
      .drop("__x__", "__n__", "__sx__", "__sy__", "__sxx__", "__sxy__")
  }

  /** Augmented Dickey-Fuller test statistic, lag order 0 (reference
    * src/time_series/stats.rs ADF): Δy_t = α + γ·y_{t−1} + ε; the
    * statistic is γ̂/se(γ̂). Sufficient sums via one aggregate; the
    * 2×2 normal-equation solve happens on the driver. */
  def adfStatistic(df: DataFrame, valueCol: String,
      orderCol: String): Double = {
    val w = Window.orderBy(col(orderCol))
    val d = df
      .withColumn("__yl__", lag(col(valueCol), 1).over(w))
      .withColumn("__dy__", col(valueCol) - col("__yl__"))
      .filter(col("__yl__").isNotNull)
    val s = d.agg(count(lit(1)).cast("double").as("n"),
      sum(col("__yl__")).as("sx"), sum(col("__dy__")).as("sy"),
      sum(col("__yl__") * col("__yl__")).as("sxx"),
      sum(col("__yl__") * col("__dy__")).as("sxy"),
      sum(col("__dy__") * col("__dy__")).as("syy")).head()
    val (n, sx, sy, sxx, sxy, syy) = (s.getDouble(0), s.getDouble(1),
      s.getDouble(2), s.getDouble(3), s.getDouble(4), s.getDouble(5))
    val gamma = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val alpha = (sy - gamma * sx) / n
    // SSE = Σ(dy − α − γ·yl)² expanded in sums
    val sse = syy - 2 * alpha * sy - 2 * gamma * sxy + n * alpha * alpha +
      2 * alpha * gamma * sx + gamma * gamma * sxx
    val s2 = sse / (n - 2)
    val seGamma = math.sqrt(s2 * n / (n * sxx - sx * sx))
    gamma / seGamma
  }

  /** KPSS stationarity statistic (reference src/time_series/stats.rs
    * kpss, level case): η = Σ S_t² / (n²·σ̂²_lr) where S_t are
    * partial sums of demeaned values and σ̂²_lr uses Bartlett
    * weights up to `lags`. Window cumsum + lag-covariance aggregates;
    * scalar finish on the driver. */
  def kpssStatistic(df0: DataFrame, valueCol: String, orderCol: String,
      lags: Int = 4): Double = {
    val df = df0.filter(col(valueCol).isNotNull)
    val w = Window.orderBy(col(orderCol))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mean = df.agg(avg(col(valueCol))).head().getDouble(0)
    val centered = df.withColumn("__e__", col(valueCol) - mean)
      .withColumn("__s__", sum(col("__e__")).over(wCum))
    val lagged = (1 to lags).foldLeft(centered)((d, k) =>
      d.withColumn(s"__el${k}__", lag(col("__e__"), k).over(w)))
    val aggs = Seq(count(lit(1)).cast("double").as("n"),
      sum(col("__s__") * col("__s__")).as("ss"),
      sum(col("__e__") * col("__e__")).as("g0")) ++
      (1 to lags).map(k =>
        sum(col("__e__") * col(s"__el${k}__")).as(s"g$k"))
    val r = lagged.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Double]("n")
    val g0 = r.getAs[Double]("g0") / n
    val lrVar = g0 + 2.0 * (1 to lags).map { k =>
      (1.0 - k / (lags + 1.0)) * (r.getAs[Double](s"g$k") / n)
    }.sum
    r.getAs[Double]("ss") / (n * n * lrVar)
  }

  /** Durbin-Watson statistic (reference src/time_series/stats.rs
    * durbin_watson): Σ(e_t − e_{t−1})² / Σe_t² — one lag window +
    * one aggregate. */
  def durbinWatson(df: DataFrame, valueCol: String,
      orderCol: String): Double = {
    val w = Window.orderBy(col(orderCol))
    val d = df.withColumn("__lag__", lag(col(valueCol), 1).over(w))
      .agg(
        sum(pow(col(valueCol) - col("__lag__"), 2)).as("num"),
        sum(pow(col(valueCol), 2)).as("den"))
      .head()
    d.getDouble(0) / d.getDouble(1)
  }

  /** Jarque-Bera normality test statistic (stats.rs jarque_bera):
    * n/6 (S² + K²/4) from one moment aggregate. */
  def jarqueBera(df: DataFrame, valueCol: String): Double = {
    val r = df.agg(count(lit(1)).cast("double").as("n"),
      skewness(col(valueCol)).as("s"),
      kurtosis(col(valueCol)).as("k")).head()
    val (n, s, k) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    n / 6.0 * (s * s + k * k / 4.0)
  }

  /** Autocorrelation function per key, lags 1..maxLag (the exposed
    * DataFrame form of the machinery inside [[ljungBox]]):
    * r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² with the per-key mean.
    * Positional lags (row_number within key, orderCol-sorted) joined
    * by index offset — one shuffle per key domain, maxLag× fan-out on
    * the lag join. Returns (keyCols…, lag, acf). */
  def acf(df: DataFrame, valueCol: String, orderCol: String,
      maxLag: Int, keyCols: Seq[String] = Nil): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val meanTab = (if (keyCols.isEmpty) df.groupBy()
      else df.groupBy(keyCols.map(col): _*))
      .agg(avg(col(valueCol)).as("__m__"))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol))
    val centered = (if (keyCols.isEmpty)
        df.crossJoin(broadcast(meanTab))
      else df.join(broadcast(meanTab), keyCols))
      .withColumn("__c__", col(valueCol) - col("__m__"))
      .withColumn("__rn__", row_number().over(w))
      .select((keyCols.map(col) :+ col("__c__") :+ col("__rn__")): _*)
    val c0 = centered.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__c__") * col("__c__")).as("__c0__"))
    val probes = centered
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .withColumn("__rn2__", col("__rn__") + col("lag"))
    val b = centered.select((keyCols.map(col) :+
      col("__c__").as("__cb__") :+ col("__rn__").as("__rnb__")): _*)
    val joinKeys = keyCols :+ "__join_rn__"
    val pairs = probes.withColumnRenamed("__rn2__", "__join_rn__")
      .join(b.withColumnRenamed("__rnb__", "__join_rn__"), joinKeys)
    val num = pairs.groupBy((keyCols.map(col) :+ col("lag")): _*)
      .agg(sum(col("__c__") * col("__cb__")).as("__num__"))
    (if (keyCols.isEmpty) num.crossJoin(broadcast(c0))
     else num.join(broadcast(c0), keyCols))
      .select((keyCols.map(col) :+ col("lag").cast("long").as("lag") :+
        round(col("__num__") / col("__c0__"), 6).as("acf")): _*)
  }

  /** Normalized periodogram at the first `maxK` Fourier frequencies
    * (reference: `src/time_series/stats.rs` spectral diagnostics; the
    * standard Schuster periodogram): for the mean-centered series c_t
    * (t = 0..n−1 in `orderCol` order),
    *   p(k) = [ (Σ c_t cos(2πkt/n))² + (Σ c_t sin(2πkt/n))² ] / Σ c_t²
    * — the fraction of variance at frequency k/n. A dominant seasonal
    * cycle of period P shows as a peak at k ≈ n/P.
    *
    * Plan: one broadcast mean, one row_number window (per-key at
    * scale via `keyCols`), then ONE hash-aggregate over the
    * (row × k) expansion — k is bounded (`maxK` ≤ 32), so the
    * expansion is a constant factor, not a join; no collect. */
  def periodogram(df: DataFrame, valueCol: String, orderCol: String,
      maxK: Int, keyCols: Seq[String] = Nil): DataFrame = {
    require(maxK >= 1 && maxK <= 32, "maxK must be in [1,32]")
    val meanTab = (if (keyCols.isEmpty) df.groupBy()
      else df.groupBy(keyCols.map(col): _*))
      .agg(avg(col(valueCol)).as("__m__"),
        count(lit(1)).cast("double").as("__n__"))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol))
    val centered = (if (keyCols.isEmpty)
        df.crossJoin(broadcast(meanTab))
      else df.join(broadcast(meanTab), keyCols))
      .withColumn("__c__", col(valueCol) - col("__m__"))
      .withColumn("__t__", (row_number().over(w) - 1).cast("double"))
    val expanded = centered
      .withColumn("k", explode(sequence(lit(1), lit(maxK))))
      .withColumn("__ang__",
        lit(2.0) * lit(math.Pi) * col("k") * col("__t__") / col("__n__"))
    expanded.groupBy((keyCols.map(col) :+ col("k")): _*)
      .agg(sum(col("__c__") * cos(col("__ang__"))).as("__cs__"),
        sum(col("__c__") * sin(col("__ang__"))).as("__sn__"),
        sum(col("__c__") * col("__c__")).as("__ss__"))
      .select((keyCols.map(col) :+ col("k").cast("long").as("k") :+
        round((col("__cs__") * col("__cs__") +
          col("__sn__") * col("__sn__")) / col("__ss__"), 6)
          .as("power")): _*)
  }

  /** Cross-correlation function between two aligned series at lags
    * −maxLag..maxLag (positive lag = y leads):
    *   r(l) = Σ (x_t−x̄)(y_{t+l}−ȳ) / √(Σ(x−x̄)²·Σ(y−ȳ)²),
    * same positional-join machinery as [[acf]]; per-key windows.
    * Rows where either side is null are dropped first so the two
    * series stay aligned. */
  def ccf(df0: DataFrame, xCol: String, yCol: String, orderCol: String,
      maxLag: Int, keyCols: Seq[String] = Nil): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val meanTab = (if (keyCols.isEmpty) df.groupBy()
      else df.groupBy(keyCols.map(col): _*))
      .agg(avg(col(xCol)).as("__mx__"), avg(col(yCol)).as("__my__"))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol))
    val centered = (if (keyCols.isEmpty)
        df.crossJoin(broadcast(meanTab))
      else df.join(broadcast(meanTab), keyCols))
      .withColumn("__cx__", col(xCol) - col("__mx__"))
      .withColumn("__cy__", col(yCol) - col("__my__"))
      .withColumn("__rn__", row_number().over(w))
      .select((keyCols.map(col) :+ col("__cx__") :+ col("__cy__") :+
        col("__rn__")): _*)
    val den = centered.groupBy(keyCols.map(col): _*)
      .agg(sqrt(sum(col("__cx__") * col("__cx__")) *
        sum(col("__cy__") * col("__cy__"))).as("__den__"))
    val probes = centered
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .withColumn("__join_rn__", col("__rn__") + col("lag"))
    val b = centered.select((keyCols.map(col) :+
      col("__cy__").as("__cyb__") :+
      col("__rn__").as("__join_rn__")): _*)
    val joinKeys = keyCols :+ "__join_rn__"
    val num = probes.join(b, joinKeys)
      .groupBy((keyCols.map(col) :+ col("lag")): _*)
      .agg(sum(col("__cx__") * col("__cyb__")).as("__num__"))
    (if (keyCols.isEmpty) num.crossJoin(broadcast(den))
     else num.join(broadcast(den), keyCols))
      .select((keyCols.map(col) :+ col("lag").cast("long").as("lag") :+
        round(col("__num__") / col("__den__"), 6).as("ccf")): _*)
  }

  /** Order-1 Granger causality (does x help predict y?): restricted
    * y_t ~ y_{t−1} vs unrestricted y_t ~ y_{t−1} + x_{t−1}, SSRs by
    * the 2-regressor closed form from EXACT Long sufficient sums of
    * the lagged triples, F = (SSR_r − SSR_u)/(SSR_u/(n−3)),
    * df = (1, n−3) — statistic and dfs mirrored Column arithmetic
    * (F p is driver-side, spec-anchored). Inputs integer-typed. */
  def grangerF(df0: DataFrame, xCol: String, yCol: String,
      orderCol: String): DataFrame = {
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val w = Window.orderBy(col(orderCol))
    val lagged = df
      .withColumn("__y1__", lag(col(yCol), 1).over(w))
      .withColumn("__x1__", lag(col(xCol), 1).over(w))
      .filter(col("__y1__").isNotNull && col("__x1__").isNotNull)
    val s = lagged.agg(count(lit(1)).as("n"),
      sum(col(yCol)).as("sy"), sum(col("__y1__")).as("sy1"),
      sum(col("__x1__")).as("sx1"),
      sum(col(yCol) * col(yCol)).as("syy"),
      sum(col("__y1__") * col("__y1__")).as("sy1y1"),
      sum(col("__x1__") * col("__x1__")).as("sx1x1"),
      sum(col(yCol) * col("__y1__")).as("syy1"),
      sum(col(yCol) * col("__x1__")).as("syx1"),
      sum(col("__y1__") * col("__x1__")).as("sy1x1"))
    val n = col("n").cast("double")
    def c(sab: String, sa: String, sb: String) =
      col(sab) - col(sa).cast("double") * col(sb).cast("double") / n
    val cyy = c("syy", "sy", "sy")
    val cy1y1 = c("sy1y1", "sy1", "sy1")
    val cx1x1 = c("sx1x1", "sx1", "sx1")
    val cyy1 = c("syy1", "sy", "sy1")
    val cyx1 = c("syx1", "sy", "sx1")
    val cy1x1 = c("sy1x1", "sy1", "sx1")
    val det = cy1y1 * cx1x1 - cy1x1 * cy1x1
    val b1 = (cyy1 * cx1x1 - cyx1 * cy1x1) / when(det =!= 0, det)
    val b2 = (cyx1 * cy1y1 - cyy1 * cy1x1) / when(det =!= 0, det)
    val ssrU = cyy - b1 * cyy1 - b2 * cyx1
    val ssrR = cyy - cyy1 * cyy1 / when(cy1y1 > 0, cy1y1)
    val den = ssrU / (n - 3)
    val f = (ssrR - ssrU) / when(den > 0, den)
    // driver-side F CDF finalization on the one aggregate row (the
    // cold-path udf pattern shared with the stats layer)
    val fP = udf((fv: Double, d2: Double) =>
      if (d2 <= 0 || fv.isNaN || d2.isNaN) Double.NaN
      else graft.stats.Distributions.fUpperP(fv, 1.0, d2))
    s.select(round(f, 6).as("f_stat"), lit(1L).as("df1"),
      (col("n") - 3).as("df2"),
      round(fP(f, n - 3), 6).as("p_value"))
  }

  /** Loud-capped driver-side series collect — the ONLY sanctioned
    * way a `Seq[Double]`-taking forecaster gets its input. The
    * contract everywhere else in the library (transpose, MMR, DFS)
    * is that driver-side materialization `require`s an explicit
    * bound; this applies it to aggregated time series: at most
    * `maxSeriesLen + 1` rows are ever shipped to the driver
    * (`limit`, not a post-hoc count — a decades-at-seconds series
    * fails loudly without being materialized first). */
  def collectSeries(series: DataFrame, valueCol: String,
      orderCol: String, maxSeriesLen: Int = 100000): Seq[Double] = {
    val capped = series.orderBy(col(orderCol))
      .limit(maxSeriesLen + 1)
      .select(col(valueCol).cast("double")).collect()
      .map(_.getDouble(0)).toSeq
    require(capped.length <= maxSeriesLen,
      s"aggregated series exceeds maxSeriesLen=$maxSeriesLen rows; " +
        "coarsen the bucketing or raise the cap explicitly")
    capped
  }

  /** Partial autocorrelation function per key via Durbin–Levinson on
    * the [[acf]] output — the ARIMA-order diagnostic companion.
    * The recursion is O(maxLag²) per key on the collected ACF table
    * (keys × maxLag rows — aggregation output, small by
    * construction), the same driver-side finalization pattern as the
    * forecasters. `maxCollectRows` bounds that collect loudly (the
    * limit is applied BEFORE the fetch, so a runaway key domain
    * fails without materializing). Returns (keyCols…, lag, pacf). */
  def pacf(df: DataFrame, valueCol: String, orderCol: String,
      maxLag: Int, keyCols: Seq[String] = Nil,
      maxCollectRows: Int = 200000): DataFrame = {
    val acfRows = acf(df, valueCol, orderCol, maxLag, keyCols)
      .limit(maxCollectRows + 1).collect()
    require(acfRows.length <= maxCollectRows,
      s"pacf: ACF table exceeds maxCollectRows=$maxCollectRows " +
        "(keys x maxLag); reduce the key domain or raise the cap")
    val byKey = acfRows.groupBy(r => keyCols.indices.map(r.get).toSeq)
    val out = byKey.toSeq.flatMap { case (key, rows) =>
      val rho = Array.fill(maxLag + 1)(0.0)
      rho(0) = 1.0
      rows.foreach { r =>
        val k = r.getLong(keyCols.size).toInt
        rho(k) = r.getDouble(keyCols.size + 1)
      }
      // Durbin–Levinson: phi(k)(k) is the lag-k PACF
      val phi = Array.ofDim[Double](maxLag + 1, maxLag + 1)
      val pacfs = (1 to maxLag).map { k =>
        if (k == 1) { phi(1)(1) = rho(1); phi(1)(1) }
        else {
          val num = rho(k) -
            (1 until k).map(j => phi(k - 1)(j) * rho(k - j)).sum
          val den = 1.0 -
            (1 until k).map(j => phi(k - 1)(j) * rho(j)).sum
          phi(k)(k) = if (math.abs(den) < 1e-12) 0.0 else num / den
          (1 until k).foreach(j =>
            phi(k)(j) = phi(k - 1)(j) - phi(k)(k) * phi(k - 1)(k - j))
          phi(k)(k)
        }
      }
      (1 to maxLag).map(k => (key, k.toLong, pacfs(k - 1)))
    }
    val spark = df.sparkSession
    import spark.implicits._
    val flat = out.map { case (key, k, p) =>
      (key.map(v => if (v == null) null else v.toString), k, p)
    }
    val asDf = flat.toDF("__key__", "lag", "pacf")
    if (keyCols.isEmpty) asDf.select(col("lag"), round(col("pacf"), 6).as("pacf"))
    else keyCols.zipWithIndex.foldLeft(asDf) { case (d, (k, i)) =>
        d.withColumn(k, element_at(col("__key__"), i + 1))
      }.select((keyCols.map(col) :+ col("lag") :+
        round(col("pacf"), 6).as("pacf")): _*)
  }

  /** Ljung-Box Q statistic up to maxLag (stats.rs ljung_box):
    * autocorrelations via lag windows, finalized on the driver. */
  def ljungBox(df: DataFrame, valueCol: String, orderCol: String,
      maxLag: Int): Double = {
    val w = Window.orderBy(col(orderCol))
    val mean = df.agg(avg(col(valueCol))).head().getDouble(0)
    val centered = df.withColumn("__c__", col(valueCol) - mean)
    val lagged = (1 to maxLag).foldLeft(centered)((d, k) =>
      d.withColumn(s"__l${k}__", lag(col("__c__"), k).over(w)))
    val aggs = sum(col("__c__") * col("__c__")).as("c0") +:
      (1 to maxLag).map(k =>
        sum(col("__c__") * col(s"__l${k}__")).as(s"c$k"))
    val r = lagged.agg(aggs.head, aggs.tail: _*).head()
    val n = df.count().toDouble
    val c0 = r.getAs[Double]("c0")
    (1 to maxLag).map { k =>
      val rho = r.getAs[Double](s"c$k") / c0
      rho * rho / (n - k)
    }.sum[Double] * n * (n + 2)
  }

  /** Phillips-Perron Z_tau statistic (reference
    * src/time_series/stats.rs phillips_perron): the ADF(0) regression
    * y_t = α + ρ·y_{t−1} + u, with the serial-correlation correction
    * applied nonparametrically via the Bartlett long-run variance of
    * the residuals instead of lagged-difference terms:
    *
    *   Z_tau = sqrt(γ0/λ²)·t_ρ − n·se(ρ̂)·(λ² − γ0) / (2·λ·s²)·s
    *
    * (Hamilton 17.6.8 form; for serially uncorrelated residuals
    * λ² = γ0 and Z_tau = t_ρ.) Same aggregate-then-finalize shape as
    * [[adfStatistic]]: one lag window + one aggregate + driver math. */
  def phillipsPerronStatistic(df: DataFrame, valueCol: String,
      orderCol: String, lags: Int = 4): Double = {
    val w = Window.orderBy(col(orderCol))
    val d = df
      .withColumn("__yl__", lag(col(valueCol), 1).over(w))
      .filter(col("__yl__").isNotNull)
    val s = d.agg(count(lit(1)).cast("double").as("n"),
      sum(col("__yl__")).as("sx"), sum(col(valueCol)).as("sy"),
      sum(col("__yl__") * col("__yl__")).as("sxx"),
      sum(col("__yl__") * col(valueCol)).as("sxy")).head()
    val (n, sx, sy, sxx, sxy) = (s.getDouble(0), s.getDouble(1),
      s.getDouble(2), s.getDouble(3), s.getDouble(4))
    val rho = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val alpha = (sy - rho * sx) / n
    // residuals u_t = y_t − α − ρ·y_{t−1}: second distributed pass for
    // the autocovariances of u (cannot be expanded in the sums above)
    val withU = d.withColumn("__u__",
      col(valueCol) - lit(alpha) - lit(rho) * col("__yl__"))
    val lagged = (1 to lags).foldLeft(withU)((acc, k) =>
      acc.withColumn(s"__ul${k}__", lag(col("__u__"), k).over(w)))
    val aggs = Seq(sum(col("__u__") * col("__u__")).as("g0")) ++
      (1 to lags).map(k =>
        sum(col("__u__") * col(s"__ul${k}__")).as(s"g$k"))
    val r = lagged.agg(aggs.head, aggs.tail: _*).head()
    val g0 = r.getAs[Double]("g0") / n
    val lambda2 = g0 + 2.0 * (1 to lags).map { k =>
      (1.0 - k / (lags + 1.0)) * (r.getAs[Double](s"g$k") / n)
    }.sum
    val sxxC = sxx - sx * sx / n
    val s2 = g0 * n / (n - 2) // regression variance
    val seRho = math.sqrt(s2 / sxxC)
    val tRho = (rho - 1.0) / seRho
    math.sqrt(g0 / lambda2) * tRho -
      n * seRho * (lambda2 - g0) / (2.0 * math.sqrt(lambda2) * s2) *
        math.sqrt(s2)
  }

  /** Box-Pierce Q statistic (stats.rs box_pierce): n·Σρ_k² — the
    * un-finite-sample-corrected Ljung-Box. Returns (Q, p) with
    * p from χ²(maxLag). */
  def boxPierce(df: DataFrame, valueCol: String, orderCol: String,
      maxLag: Int): (Double, Double) = {
    val w = Window.orderBy(col(orderCol))
    val mean = df.agg(avg(col(valueCol))).head().getDouble(0)
    val centered = df.withColumn("__c__", col(valueCol) - mean)
    val lagged = (1 to maxLag).foldLeft(centered)((d, k) =>
      d.withColumn(s"__l${k}__", lag(col("__c__"), k).over(w)))
    val aggs = Seq(count(col("__c__")).cast("double").as("n"),
      sum(col("__c__") * col("__c__")).as("c0")) ++
      (1 to maxLag).map(k =>
        sum(col("__c__") * col(s"__l${k}__")).as(s"c$k"))
    val r = lagged.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Double]("n"); val c0 = r.getAs[Double]("c0")
    val q = n * (1 to maxLag).map { k =>
      val rho = r.getAs[Double](s"c$k") / c0
      rho * rho
    }.sum
    (q, graft.stats.Distributions.chi2UpperP(q, maxLag.toDouble))
  }

  /** Ljung-Box with p-value: the existing statistic + χ²(maxLag). */
  def ljungBoxTest(df: DataFrame, valueCol: String, orderCol: String,
      maxLag: Int): (Double, Double) = {
    val q = ljungBox(df, valueCol, orderCol, maxLag)
    (q, graft.stats.Distributions.chi2UpperP(q, maxLag.toDouble))
  }

  private def normSInv(p: Double): Double =
    graft.stats.Distributions.normSInv(p)

  /** Shapiro-Wilk W and approximate p-value (stats.rs shapiro_wilk;
    * Royston's AS R94 algorithm, 7 ≤ n ≤ 5000). The series is
    * collected: W needs every order statistic against tabulated
    * normal scores, which is inherently single-node — acceptable here
    * because normality tests apply to (small) aggregated series, and
    * the reference is single-node throughout. */
  def shapiroWilk(values: Seq[Double]): (Double, Double) = {
    val n = values.size
    require(n >= 7 && n <= 5000, s"shapiroWilk needs 7 <= n <= 5000, got $n")
    val x = values.sorted.toArray
    // expected normal order statistics (Blom) and base coefficients
    val m = (1 to n).map(i => normSInv((i - 0.375) / (n + 0.25))).toArray
    val ssm = m.map(v => v * v).sum
    val rsn = 1.0 / math.sqrt(n)
    // Royston polynomial corrections for the two largest coefficients
    val c1 = Array(0.0, 0.221157, -0.147981, -2.071190, 4.434685, -2.706056)
    val c2 = Array(0.0, 0.042981, -0.293762, -1.752461, 5.682633, -3.582633)
    def poly(cs: Array[Double], u: Double): Double =
      cs.zipWithIndex.map { case (cc, i) => cc * math.pow(u, i) }.sum
    val a = new Array[Double](n)
    val an = m(n - 1) / math.sqrt(ssm) + poly(c1, rsn)
    val an1 = if (n > 5) m(n - 2) / math.sqrt(ssm) + poly(c2, rsn) else 0.0
    val (phi, lastTwo) =
      if (n > 5) ((ssm - 2 * m(n - 1) * m(n - 1) - 2 * m(n - 2) * m(n - 2)) /
        (1 - 2 * an * an - 2 * an1 * an1), 2)
      else ((ssm - 2 * m(n - 1) * m(n - 1)) / (1 - 2 * an * an), 1)
    (0 until n).foreach { i =>
      a(i) =
        if (i == n - 1) an
        else if (i == 0) -an
        else if (lastTwo == 2 && i == n - 2) an1
        else if (lastTwo == 2 && i == 1) -an1
        else m(i) / math.sqrt(phi)
    }
    val mean = x.sum / n
    val ssx = x.map(v => (v - mean) * (v - mean)).sum
    val wNum = x.zip(a).map { case (xi, ai) => ai * xi }.sum
    val wStat = wNum * wNum / ssx
    // Royston normalizing transform for the p-value (n >= 12 branch;
    // for 7 <= n < 12 the small-sample gamma transform)
    val p =
      if (n >= 12) {
        val lnN = math.log(n.toDouble)
        val mu = 0.0038915 * math.pow(lnN, 3) - 0.083751 * lnN * lnN -
          0.31082 * lnN - 1.5861
        val sigma = math.exp(0.0030302 * lnN * lnN - 0.082676 * lnN -
          0.4803)
        val z = (math.log(1 - wStat) - mu) / sigma
        1.0 - graft.stats.Distributions.normalCdf(z)
      } else {
        val g = -2.273 + 0.459 * n
        val mu = 0.5440 - 0.39978 * n + 0.025054 * n * n -
          0.0006714 * n * n * n
        val sigma = math.exp(1.3822 - 0.77857 * n + 0.062767 * n * n -
          0.0020322 * n * n * n)
        val z = (-math.log(g - math.log(1 - wStat)) - mu) / sigma
        1.0 - graft.stats.Distributions.normalCdf(z)
      }
    (wStat, math.min(1.0, math.max(0.0, p)))
  }

  /** Anderson-Darling normality statistic with the parameters-
    * estimated correction A*² = A²(1 + 0.75/n + 2.25/n²)
    * (stats.rs anderson_darling), in the single-pass form
    *
    *   A² = −n − (1/n)Σᵢ[(2i−1)·lnΦ(zᵢ) + (2n−2i+1)·ln(1−Φ(zᵢ))]
    *
    * over the sorted standardized values. NO global sort: tied values
    * share Φ(z), so the rank sums collapse per DISTINCT value —
    * Σ_{i=a..b}(2i−1) = c·(2·below+c) — and `below` comes from the
    * range-bucketed cumulative counts (StatsOps.distinctValueCumCounts,
    * no single-partition window). Reject normality at 5% when
    * A*² > 0.752 (both-parameters-estimated case). */
  def andersonDarling(df0: DataFrame, valueCol: String): Double = {
    val df = df0.filter(col(valueCol).isNotNull)
    val stats = df.agg(count(col(valueCol)).cast("double").as("n"),
      avg(col(valueCol)).as("m"),
      stddev_samp(col(valueCol)).as("s")).head()
    val (n, m, s) = (stats.getDouble(0), stats.getDouble(1),
      stats.getDouble(2))
    val counts = df.groupBy(col(valueCol)).agg(count(lit(1)).as("__c__"))
    val cum = graft.stats.StatsOps.distinctValueCumCounts(
      counts, valueCol, "__c__")
    val z = (col(valueCol) - lit(m)) / lit(s)
    val phi = graft.stats.Distributions.normalCdfCol(z)
    // clamp: the A&S polynomial can reach exactly 0/1 in the extreme
    // tails, where ln() diverges
    val phiC = least(greatest(phi, lit(1e-300)), lit(1.0 - 1e-16))
    val c = col("__c__").cast("double")
    val below = col("__below__").cast("double")
    val coefA = c * (lit(2.0) * below + c)
    val coefB = c * lit(2.0 * n + 1) - coefA - c
    val a2 = cum.withColumn("__phi__", phiC)
      .agg(sum(coefA * log(col("__phi__")) +
        coefB * log(lit(1.0) - col("__phi__"))).as("sum"))
      .head().getDouble(0)
    val aSq = -n - a2 / n
    aSq * (1.0 + 0.75 / n + 2.25 / (n * n))
  }

  /** Grubbs outlier test (stats.rs grubbs): G = max|x−x̄|/s with the
    * t-based p-value p = min(1, 2n·P(T_{n−2} ≥ t_G)),
    * t_G² = G²·n·(n−2) / ((n−1)² − n·G²). One aggregate + driver
    * finalization. Returns (G, p, offending value). */
  def grubbs(df: DataFrame, valueCol: String): (Double, Double, Double) = {
    val r = df.agg(count(col(valueCol)).cast("double").as("n"),
      avg(col(valueCol)).as("m"), stddev_samp(col(valueCol)).as("s"))
      .head()
    val (n, m, s) = (r.getAs[Double]("n"), r.getAs[Double]("m"),
      r.getAs[Double]("s"))
    val worst = df.agg(max_by(col(valueCol),
      abs(col(valueCol) - lit(m))).as("worst")).head().getDouble(0)
    val g = math.abs(worst - m) / s
    val t2 = g * g * n * (n - 2) / ((n - 1) * (n - 1) - n * g * g)
    val p =
      if (t2 <= 0) 1.0
      else math.min(1.0, 2 * n *
        (1.0 - graft.stats.Distributions.tCdf(math.sqrt(t2), n - 2)))
    (g, p, worst)
  }

  /** Wald-Wolfowitz runs test around the median (stats.rs runs_test):
    * sign per row, run starts via one lag window, normal z with
    * μ = 2·n1·n2/n + 1 and the standard σ². Returns (runs, z, p). */
  def runsTest(df: DataFrame, valueCol: String,
      orderCol: String): (Long, Double, Double) = {
    val med = df.agg(percentile(col(valueCol), lit(0.5))).head().getDouble(0)
    val signed = df.filter(col(valueCol) =!= med)
      .withColumn("__sgn__", when(col(valueCol) > med, 1).otherwise(0))
    val w = Window.orderBy(col(orderCol))
    val r = signed.withColumn("__prev__", lag(col("__sgn__"), 1).over(w))
      .agg(
        sum(when(col("__prev__").isNull ||
          col("__prev__") =!= col("__sgn__"), 1L).otherwise(0L)).as("runs"),
        sum(col("__sgn__")).cast("double").as("n1"),
        sum(lit(1) - col("__sgn__")).cast("double").as("n2")).head()
    val (runs, n1, n2) = (r.getAs[Long]("runs"), r.getAs[Double]("n1"),
      r.getAs[Double]("n2"))
    val n = n1 + n2
    val mu = 2 * n1 * n2 / n + 1
    val sigma = math.sqrt(2 * n1 * n2 * (2 * n1 * n2 - n) /
      (n * n * (n - 1)))
    val z = (runs - mu) / sigma
    (runs, z, graft.stats.Distributions.zTwoSidedP(z))
  }

  /** Lo-MacKinlay variance-ratio test, homoskedastic form
    * (stats.rs variance_ratio): VR(q) = Var(q-period diff)/(q·Var(1))
    * with OVERLAPPING q-differences, whose asymptotic variance is
    * φ(q) = 2(2q−1)(q−1)/(3q·n), so z = (VR−1)/sqrt(φ(q)). (The
    * simpler 2(q−1)/(nq) form applies only to non-overlapping
    * q-differences; the two coincide at q = 2.) Lag windows + one
    * aggregate. Returns (VR, z, p). */
  def varianceRatio(df: DataFrame, valueCol: String, orderCol: String,
      q: Int): (Double, Double, Double) = {
    require(q >= 2, "q >= 2")
    val w = Window.orderBy(col(orderCol))
    val d1 = col(valueCol) - lag(col(valueCol), 1).over(w)
    val dq = col(valueCol) - lag(col(valueCol), q).over(w)
    val r = df.withColumn("__d1__", d1).withColumn("__dq__", dq)
      .agg(count(col("__d1__")).cast("double").as("n"),
        var_pop(col("__d1__")).as("v1"),
        var_pop(col("__dq__")).as("vq")).head()
    val n = r.getAs[Double]("n")
    val vr = r.getAs[Double]("vq") / (q * r.getAs[Double]("v1"))
    val phi = 2.0 * (2.0 * q - 1) * (q - 1) / (3.0 * q * n)
    val z = (vr - 1.0) / math.sqrt(phi)
    (vr, z, graft.stats.Distributions.zTwoSidedP(z))
  }

  /** Simple-moving-average forecast (forecasting.rs:73): driver-side
    * finalization over an ALREADY AGGREGATED (small) series — the
    * only deliberate collect in the library (SURVEY §7.4.7). */
  def smaForecast(series: DataFrame, valueCol: String, orderCol: String,
      window: Int, steps: Int): Seq[Double] = {
    val tail = series.orderBy(col(orderCol).desc).limit(window)
      .collect().map(_.getAs[Double](valueCol))
    if (tail.isEmpty) Seq.empty
    else {
      val buf = scala.collection.mutable.ArrayBuffer(tail.reverse: _*)
      (0 until steps).map { _ =>
        val f = buf.takeRight(window).sum / math.min(window, buf.size)
        buf += f; f
      }
    }
  }

  /** Per-key linear-trend forecast: OLS of each key's series on its
    * time index, extrapolated h steps past the key's last
    * observation — the unsmoothed sibling of
    * [[groupedHoltForecast]]. One hash aggregate of exact sums per
    * key (the groupedLinearRegression shape), closed-form
    * extrapolation, no iteration. Degenerate keys (constant index or
    * n < 2) emit null forecasts. */
  def groupedTrendForecast(df: DataFrame, valueCol: String,
      orderCol: String, keyCols: Seq[String],
      steps: Int): DataFrame = {
    require(steps >= 1, "steps >= 1")
    val x = col(orderCol).cast("double")
    val y = col(valueCol).cast("double")
    val base = df.filter(col(valueCol).isNotNull &&
      col(orderCol).isNotNull)
    val g = base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("double").as("n"), sum(x).as("sx"),
        sum(y).as("sy"), sum(x * x).as("sxx"), sum(x * y).as("sxy"),
        max(x).as("tmax"))
    val varx = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = when(col("n") > 1 && varx =!= 0,
      (col("n") * col("sxy") - col("sx") * col("sy")) / varx)
    g.withColumn("__b__", slope)
      .withColumn("__a__",
        (col("sy") - col("__b__") * col("sx")) / col("n"))
      .withColumn("h", explode(sequence(lit(1), lit(steps))))
      .select(keyCols.map(col) :+ col("h").cast("long").as("h") :+
        round(col("__a__") + col("__b__") *
          (col("tmax") + col("h").cast("double")), 6)
          .as("forecast"): _*)
  }

  /** PER-KEY distributed Holt forecasting: the [[holtForecast]]
    * recurrence run as a sorted collect_list fold per key (a SQL
    * `aggregate` over the key's points) — one shuffle fits EVERY
    * key's model in parallel, no driver loop over groups. Emits
    * `steps` rows per key: (key…, h, forecast = level + h·trend).
    * Groups with a single point forecast flat (the driver-forecaster
    * convention); empty groups don't appear. Verified against a recursive-CTE
    * oracle. */
  def groupedHoltForecast(df: DataFrame, valueCol: String,
      orderCol: String, keyCols: Seq[String], alpha: Double,
      beta: Double, steps: Int, phi: Double = 1.0): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "alpha, beta in (0,1)")
    require(phi > 0 && phi <= 1, "phi in (0,1] (1 = undamped)")
    require(steps >= 1, "steps >= 1")
    val a = alpha; val b = beta
    val grouped = df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
        col(valueCol).cast("double").as("v")))).as("__pts__"))
    // φ-damped trend (Gardner–McKenzie); φ = 1 reduces EXACTLY to
    // plain Holt (1.0d * t is an IEEE identity)
    val t0 = "(p.v - acc.level)"
    val lvl1 = s"($a * p.v + (1.0d - $a) * (acc.level + $phi * $t0))"
    val tr1 = s"($b * ($lvl1 - acc.level) + (1.0d - $b) * $phi * $t0)"
    val lvl2 =
      s"($a * p.v + (1.0d - $a) * (acc.level + $phi * acc.trend))"
    val tr2 =
      s"($b * ($lvl2 - acc.level) + (1.0d - $b) * $phi * acc.trend)"
    val fold = expr(
      s"""aggregate(__pts__,
         |  struct(cast(0 as int) as i, cast(0.0 as double) as level,
         |         cast(0.0 as double) as trend),
         |  (acc, p) -> CASE
         |    WHEN acc.i = 0 THEN
         |      struct(cast(1 as int) as i, cast(p.v as double) as level,
         |        cast(0.0 as double) as trend)
         |    WHEN acc.i = 1 THEN
         |      struct(cast(2 as int) as i, cast($lvl1 as double) as level,
         |        cast($tr1 as double) as trend)
         |    ELSE
         |      struct(cast(acc.i + 1 as int) as i,
         |        cast($lvl2 as double) as level,
         |        cast($tr2 as double) as trend) END)""".stripMargin)
    grouped.withColumn("__st__", fold)
      .select(keyCols.map(col) :+
        col("__st__.level").as("level") :+
        col("__st__.trend").as("trend"): _*)
      .withColumn("h", explode(sequence(lit(1), lit(steps))))
      .select(keyCols.map(col) :+ col("h").cast("long").as("h") :+
        round(col("level") +
          (if (phi == 1.0) col("h").cast("double")
           else lit(phi) * (lit(1.0) - pow(lit(phi),
             col("h").cast("double"))) / (1.0 - phi)) *
          col("trend"), 6).as("forecast"): _*)
  }

  /** The three standard forecast BASELINES every forecaster must
    * beat (Hyndman & Athanasopoulos fpp): per key and horizon h,
    *  - naive: y_n,
    *  - seasonal naive: y_{n−m+1+((h−1) mod m)} (last full season),
    *  - drift: y_n + h·(y_n − y_1)/(n − 1).
    * One grouped sorted collect; picks are element_at on the bounded
    * series — trivially replayable. Keys shorter than the season (or
    * n = 1 for drift) emit nulls rather than wrapping around. */
  def groupedBaselineForecasts(df: DataFrame, valueCol: String,
      orderCol: String, keyCols: Seq[String], season: Int,
      steps: Int): DataFrame = {
    require(season >= 1 && steps >= 1, "season, steps >= 1")
    val grouped = df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
        col(valueCol).cast("double").as("v")))).as("__pts__"))
      .withColumn("n", size(col("__pts__")))
    val last = element_at(col("__pts__"), col("n")).getField("v")
    val first = element_at(col("__pts__"), lit(1)).getField("v")
    grouped.withColumn("h", explode(sequence(lit(1), lit(steps))))
      .withColumn("naive", last)
      .withColumn("snaive", when(col("n") >= season,
        element_at(col("__pts__"), col("n") - season + 1 +
          pmod(col("h") - 1, lit(season))).getField("v")))
      .withColumn("drift", when(col("n") >= 2,
        last + col("h").cast("double") * (last - first) /
          (col("n").cast("double") - 1)))
      .select(keyCols.map(col) ++ Seq(col("n").cast("long").as("n"),
        col("h").cast("long").as("h"), col("naive"), col("snaive"),
        col("drift")): _*)
  }

  /** Theta-method forecast (Assimakopoulos & Nikolopoulos 2000; the
    * M3 winner) in the Hyndman–Billah 2003 equivalent form — SES
    * with half the linear-trend drift:
    *   ŷ(h) = ℓ_n + (h − 1 + 1/α − (1−α)ⁿ/α) · b̂/2
    * with ℓ from the SES recurrence (ℓ₁ = y₁) and b̂ the OLS slope
    * of y on 1..n from exact sums (Σi, Σi² closed-form). The decay
    * factor (1−α)ⁿ is ACCUMULATED inside the fold (repeated
    * multiplication) so the recursive-CTE oracle replays it
    * bit-for-bit instead of trusting pow() parity. One grouped
    * sorted fold per key — the groupedHoltForecast shape. */
  def groupedThetaForecast(df: DataFrame, valueCol: String,
      orderCol: String, keyCols: Seq[String], alpha: Double,
      steps: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1): $alpha")
    require(steps >= 1, "steps >= 1")
    val a = alpha
    val grouped = df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
        col(valueCol).cast("double").as("v")))).as("__pts__"))
    val fold = expr(
      s"""aggregate(__pts__,
         |  struct(cast(0 as int) as i, cast(0.0 as double) as level,
         |         cast(0.0 as double) as sy, cast(0.0 as double) as siy,
         |         cast(1.0 as double) as w),
         |  (acc, pt) -> struct(
         |    cast(acc.i + 1 as int) as i,
         |    cast(CASE WHEN acc.i = 0 THEN pt.v
         |      ELSE $a * pt.v + (1.0d - $a) * acc.level END
         |      as double) as level,
         |    cast(acc.sy + pt.v as double) as sy,
         |    cast(acc.siy + cast(acc.i + 1 as double) * pt.v
         |      as double) as siy,
         |    cast(acc.w * (1.0d - $a) as double) as w))""".stripMargin)
    val n = col("__st__.i").cast("double")
    val si = n * (n + 1) / 2
    val sii = n * (n + 1) * (lit(2.0) * n + 1) / 6
    val slope = (n * col("__st__.siy") - si * col("__st__.sy")) /
      (n * sii - si * si)
    grouped.withColumn("__st__", fold)
      .withColumn("h", explode(sequence(lit(1), lit(steps))))
      .select(keyCols.map(col) ++ Seq(
        col("__st__.i").cast("long").as("n"),
        col("h").cast("long").as("h"),
        (col("__st__.level") +
          (col("h").cast("double") - 1 + lit(1.0 / a) -
            col("__st__.w") / lit(a)) * (slope / 2))
          .as("forecast")): _*)
  }

  /** Croston's method for intermittent demand (Croston 1972) with
    * the Syntetos–Boylan bias correction (SBA, 2005) — the standard
    * forecaster when most periods are zero (spare parts, rare-event
    * demand), where SES/Holt systematically lag: separate EWMAs of
    * the demand SIZE z and the inter-demand INTERVAL p (counted
    * inclusively in periods), per-period forecast z/p and SBA
    * (1−α/2)·z/p. Zero periods must be PRESENT as zeros — zero-fill
    * the calendar first; absence of demand is data.
    *
    * Distributed exactly like the other per-key folds
    * ([[groupedHoltForecast]]): ONE shuffle groups each bounded
    * series, the fold is a codegen'd `aggregate`, and a recursive
    * CTE replays it bit-for-bit. Keys with no demand at all emit
    * null forecasts. */
  def groupedCroston(df: DataFrame, valueCol: String, orderCol: String,
      keyCols: Seq[String], alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1): $alpha")
    val a = alpha
    val grouped = df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
          col(valueCol).cast("double").as("v")))).as("__pts__"),
        count(lit(1)).as("n_periods"))
    val fold = expr(
      s"""aggregate(__pts__,
         |  struct(cast(0 as int) as seen, cast(0.0 as double) as z,
         |         cast(0.0 as double) as p, cast(0.0 as double) as q,
         |         cast(0 as int) as d),
         |  (acc, pt) -> CASE
         |    WHEN pt.v > 0.0d AND acc.seen = 0 THEN
         |      struct(cast(1 as int) as seen,
         |        cast(pt.v as double) as z,
         |        cast(acc.q + 1.0d as double) as p,
         |        cast(0.0 as double) as q, cast(1 as int) as d)
         |    WHEN pt.v > 0.0d THEN
         |      struct(cast(1 as int) as seen,
         |        cast($a * pt.v + (1.0d - $a) * acc.z as double) as z,
         |        cast($a * (acc.q + 1.0d) + (1.0d - $a) * acc.p
         |          as double) as p,
         |        cast(0.0 as double) as q,
         |        cast(acc.d + 1 as int) as d)
         |    ELSE
         |      struct(cast(acc.seen as int) as seen,
         |        cast(acc.z as double) as z,
         |        cast(acc.p as double) as p,
         |        cast(acc.q + 1.0d as double) as q,
         |        cast(acc.d as int) as d) END)""".stripMargin)
    val ok = col("__st__.seen") === 1 && col("__st__.p") > 0
    grouped.withColumn("__st__", fold)
      .select(keyCols.map(col) ++ Seq(col("n_periods"),
        col("__st__.d").cast("long").as("n_demands"),
        col("__st__.z").as("size_ewma"),
        col("__st__.p").as("interval_ewma"),
        when(ok, col("__st__.z") / col("__st__.p")).as("croston"),
        when(ok, lit(1.0 - a / 2) *
          (col("__st__.z") / col("__st__.p"))).as("sba")): _*)
  }

  /** Per-key ONE-STEP-AHEAD Holt backtest — the forecast-accuracy
    * evaluation layer the forecaster family was missing: replay the
    * plain-Holt recurrence over each key's history, emit the h=1
    * forecast level+trend made BEFORE each observation (from the
    * 3rd point on — the first two initialize level=y1 then
    * level=y2, trend=y2−y1, the [[groupedHoltForecast]] init), and
    * aggregate the standard error suite per key:
    * MAE, RMSE, MAPE (|y|>0 rows), sMAPE, and MASE with the
    * in-sample naive scale mean|y_t − y_{t−1}| (Hyndman–Koehler
    * 2006 — scale-free, defined when y has zeros). Distributed
    * exactly like the other per-key folds: ONE shuffle groups each
    * bounded series, the fold is codegen'd, metrics are one more
    * grouped aggregate; the naive scale is a partitioned lag
    * window. Every recurrence step is IEEE +,−,×,÷ replayed
    * bit-exactly by a recursive-CTE oracle; only the final averages
    * carry summation-order ulps, absorbed by round(6). */
  def holtBacktestOneStep(df: DataFrame, valueCol: String,
      orderCol: String, keyCols: Seq[String], alpha: Double,
      beta: Double): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "alpha, beta in (0,1)")
    val a = alpha; val b = beta
    val oT = df.schema(orderCol).dataType.sql
    val grouped = df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
        col(valueCol).cast("double").as("v")))).as("__pts__"))
    val lvl1 = s"($a * p.v + ${1.0 - a} * (acc.level + (p.v - acc.level)))"
    val tr1 = s"($b * ($lvl1 - acc.level) + ${1.0 - b} * (p.v - acc.level))"
    val lvl2 = s"($a * p.v + ${1.0 - a} * (acc.level + acc.trend))"
    val tr2 = s"($b * ($lvl2 - acc.level) + ${1.0 - b} * acc.trend)"
    val fold = expr(
      s"""aggregate(__pts__,
         |  struct(cast(array() as array<struct<o: $oT, y: double,
         |           fc: double>>) as outp,
         |         cast(0 as int) as i,
         |         cast(0.0 as double) as level,
         |         cast(0.0 as double) as trend),
         |  (acc, p) -> CASE
         |    WHEN acc.i = 0 THEN
         |      struct(acc.outp as outp, cast(1 as int) as i,
         |        cast(p.v as double) as level,
         |        cast(0.0 as double) as trend)
         |    WHEN acc.i = 1 THEN
         |      struct(acc.outp as outp, cast(2 as int) as i,
         |        cast($lvl1 as double) as level,
         |        cast($tr1 as double) as trend)
         |    ELSE
         |      struct((acc.outp || array(struct(p.o as o,
         |        p.v as y, cast(acc.level + acc.trend as double) as fc)))
         |          as outp,
         |        cast(acc.i + 1 as int) as i,
         |        cast($lvl2 as double) as level,
         |        cast($tr2 as double) as trend) END)
         |  .outp""".stripMargin)
    val errs = grouped.withColumn("__e__", explode(fold))
      .select(keyCols.map(col) :+ col("__e__.y").as("y") :+
        col("__e__.fc").as("fc"): _*)
      .withColumn("err", col("y") - col("fc"))
    val metrics = errs.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_eval"),
        avg(abs(col("err"))).as("mae_raw"),
        sqrt(avg(col("err") * col("err"))).as("rmse_raw"),
        avg(when(abs(col("y")) > 0,
          abs(col("err")) / abs(col("y")))).as("mape_raw"),
        avg(when(abs(col("y")) + abs(col("fc")) > 0,
          lit(2.0) * abs(col("err")) /
            (abs(col("y")) + abs(col("fc"))))).as("smape_raw"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    val naive = df.filter(col(valueCol).isNotNull)
      .select(keyCols.map(col) :+ col(orderCol) :+
        col(valueCol).cast("double").as("__v__"): _*)
      .withColumn("__d__", col("__v__") - lag("__v__", 1).over(w))
      .filter(col("__d__").isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(avg(abs(col("__d__"))).as("naive_mae"))
    metrics.join(naive, keyCols)
      .select(keyCols.map(col) :+ col("n_eval") :+
        round(col("mae_raw"), 6).as("mae") :+
        round(col("rmse_raw"), 6).as("rmse") :+
        round(col("mape_raw"), 6).as("mape") :+
        round(col("smape_raw"), 6).as("smape") :+
        when(col("naive_mae") > 0,
          round(col("mae_raw") / col("naive_mae"), 6)).as("mase"): _*)
  }

  /** Per-key Kalman FILTER for the local-level state-space model
    * (random walk + noise: x_t = x_{t-1} + w_t, w~N(0,q);
    * y_t = x_t + v_t, v~N(0,r)) — the state-space smoothing layer the
    * reference exposes via its advanced time-series module
    * (reference src/time_series/advanced_forecasting.rs regime:
    * per-series recurrences). Distributed exactly like
    * [[groupedHoltForecast]] and the EWM folds: ONE shuffle groups
    * each key's series, a codegen'd higher-order fold replays the
    * filter recurrence, and the per-row filtered level + error
    * variance explode back 1:1 (left join preserves unfiltered rows
    * as null).
    *
    * Recurrence (predict → gain → update):
    *   Pp = P + q;  K = Pp/(Pp+r);  x' = x + K·(y − x);
    *   P' = (1−K)·Pp
    * initialized x₁ = first observation, P₁ = p0. Every step is
    * +,−,×,÷ on doubles — IEEE-deterministic — so a recursive-CTE
    * oracle replays it BIT-exactly (the q319 convention; no
    * rounding). Null values are excluded before the fold (discrete
    * observation index, the family convention). Groups are bounded
    * series (the documented EWM contract). The steady-state gain
    * converges geometrically to the Riccati fixpoint
    * P* = (−q + √(q²+4qr))/2 (spec'd).
    */
  def kalmanLocalLevel(df: DataFrame, valueCol: String,
      orderCol: String, partitionCols: Seq[String], q: Double,
      r: Double, p0: Double, outName: String = "kf_level",
      varName: String = "kf_var"): DataFrame = {
    require(q >= 0 && r > 0 && p0 >= 0, "need q >= 0, r > 0, p0 >= 0")
    val grouped = df.filter(col(valueCol).isNotNull)
      .groupBy(partitionCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
        col(valueCol).cast("double").as("v")))).as("__pts__"))
    val oT = df.schema(orderCol).dataType.sql
    val pp = s"(acc.p + ${q}d)"
    val k = s"($pp / ($pp + ${r}d))"
    val x1 = s"(acc.x + $k * (p.v - acc.x))"
    val p1 = s"((1.0d - $k) * $pp)"
    val fold = expr(
      s"""aggregate(__pts__,
         |  struct(cast(array() as array<struct<o: $oT, e: double,
         |           pe: double>>) as outp,
         |         cast(0 as int) as i,
         |         cast(0.0 as double) as x,
         |         cast(0.0 as double) as p),
         |  (acc, p) -> CASE WHEN acc.i = 0 THEN
         |      struct(acc.outp || array(struct(p.o as o,
         |          cast(p.v as double) as e, ${p0}d as pe)) as outp,
         |        cast(1 as int) as i, cast(p.v as double) as x,
         |        ${p0}d as p)
         |    ELSE
         |      struct(acc.outp || array(struct(p.o as o,
         |          cast($x1 as double) as e,
         |          cast($p1 as double) as pe)) as outp,
         |        cast(acc.i + 1 as int) as i, cast($x1 as double) as x,
         |        cast($p1 as double) as p) END).outp""".stripMargin)
    val exploded = grouped.withColumn("__kf__", explode(fold))
      .select(partitionCols.map(col) :+
        col("__kf__.o").as(orderCol) :+
        col("__kf__.e").as(outName) :+
        col("__kf__.pe").as(varName): _*)
    df.join(exploded, partitionCols :+ orderCol, "left")
  }

  /** Per-key Rauch–Tung–Striebel SMOOTHER for the local-level model:
    * the backward pass over [[kalmanLocalLevel]]'s filtered states,
    * giving the full-information estimate at every t (the filter is
    * causal; the smoother also sees the future). Same single-shuffle
    * shape — the forward fold stores (x_f, P_f) per point, a second
    * fold walks the REVERSED array:
    *   C = P_f/(P_f + q);  x_s = x_f + C·(x_s⁺ − x_f);
    *   P_s = P_f + C²·(P_s⁺ − (P_f + q))
    * (x_s⁺/P_s⁺ = smoothed state one step ahead; the last point's
    * smoothed state equals its filtered state). All +,−,×,÷ —
    * replayed bit-exactly by a DESCENDING recursive CTE over the
    * filter CTE (the q319 convention). Emits both filtered and
    * smoothed columns. */
  def kalmanSmoothLocalLevel(df: DataFrame, valueCol: String,
      orderCol: String, partitionCols: Seq[String], q: Double,
      r: Double, p0: Double, outName: String = "kf_smooth",
      filtName: String = "kf_level"): DataFrame = {
    require(q >= 0 && r > 0 && p0 >= 0, "need q >= 0, r > 0, p0 >= 0")
    val grouped = df.filter(col(valueCol).isNotNull)
      .groupBy(partitionCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
        col(valueCol).cast("double").as("v")))).as("__pts__"))
    val oT = df.schema(orderCol).dataType.sql
    val pp = s"(acc.p + ${q}d)"
    val k = s"($pp / ($pp + ${r}d))"
    val x1 = s"(acc.x + $k * (p.v - acc.x))"
    val p1 = s"((1.0d - $k) * $pp)"
    val fwd = expr(
      s"""aggregate(__pts__,
         |  struct(cast(array() as array<struct<o: $oT, xf: double,
         |           pf: double>>) as outp,
         |         cast(0 as int) as i,
         |         cast(0.0 as double) as x,
         |         cast(0.0 as double) as p),
         |  (acc, p) -> CASE WHEN acc.i = 0 THEN
         |      struct(acc.outp || array(struct(p.o as o,
         |          cast(p.v as double) as xf, ${p0}d as pf)) as outp,
         |        cast(1 as int) as i, cast(p.v as double) as x,
         |        ${p0}d as p)
         |    ELSE
         |      struct(acc.outp || array(struct(p.o as o,
         |          cast($x1 as double) as xf,
         |          cast($p1 as double) as pf)) as outp,
         |        cast(acc.i + 1 as int) as i, cast($x1 as double) as x,
         |        cast($p1 as double) as p) END).outp""".stripMargin)
    val cg = s"(e.pf / (e.pf + ${q}d))"
    val xs1 = s"(e.xf + $cg * (acc.xs - e.xf))"
    val ps1 = s"(e.pf + $cg * $cg * (acc.ps - (e.pf + ${q}d)))"
    val bwd = expr(
      s"""aggregate(
         |  slice(reverse(__fwd__), 2, greatest(size(__fwd__) - 1, 0)),
         |  struct(array(struct(element_at(__fwd__, -1).o as o,
         |      element_at(__fwd__, -1).xf as xf,
         |      element_at(__fwd__, -1).xf as xs,
         |      element_at(__fwd__, -1).pf as ps)) as outp,
         |    element_at(__fwd__, -1).xf as xs,
         |    element_at(__fwd__, -1).pf as ps),
         |  (acc, e) -> struct(
         |    acc.outp || array(struct(e.o as o, e.xf as xf,
         |      cast($xs1 as double) as xs,
         |      cast($ps1 as double) as ps)) as outp,
         |    cast($xs1 as double) as xs,
         |    cast($ps1 as double) as ps)).outp""".stripMargin)
    val exploded = grouped.withColumn("__fwd__", fwd)
      .filter(size(col("__fwd__")) > 0)
      .withColumn("__kf__", explode(bwd))
      .select(partitionCols.map(col) :+
        col("__kf__.o").as(orderCol) :+
        col("__kf__.xf").as(filtName) :+
        col("__kf__.xs").as(outName): _*)
    df.join(exploded, partitionCols :+ orderCol, "left")
  }

  /** Double (Holt) exponential smoothing forecast
    * (forecasting.rs:422-469) — driver-side on an aggregated series. */
  def holtForecast(values: Seq[Double], alpha: Double, beta: Double,
      steps: Int): Seq[Double] = {
    if (values.size < 2) return Seq.fill(steps)(values.headOption.getOrElse(0.0))
    var level = values.head
    var trend = values(1) - values.head
    values.tail.foreach { x =>
      val prevLevel = level
      level = alpha * x + (1 - alpha) * (level + trend)
      trend = beta * (level - prevLevel) + (1 - beta) * trend
    }
    (1 to steps).map(h => level + h * trend)
  }

  /** Simple exponential smoothing forecast (forecasting.rs:231):
    * level-only recurrence; the h-step forecast is flat. */
  def sesForecast(values: Seq[Double], alpha: Double,
      steps: Int): Seq[Double] = {
    if (values.isEmpty) return Seq.fill(steps)(0.0)
    var level = values.head
    values.tail.foreach(x => level = alpha * x + (1 - alpha) * level)
    Seq.fill(steps)(level)
  }

  /** Linear-trend forecast (forecasting.rs linear trend): OLS of the
    * series on its index, extrapolated. Driver-side on an aggregated
    * series like the other forecasters. */
  def linearTrendForecast(values: Seq[Double], steps: Int): Seq[Double] = {
    val n = values.size.toDouble
    if (values.size < 2) return Seq.fill(steps)(values.headOption.getOrElse(0.0))
    val xs = values.indices.map(_.toDouble)
    val sx = xs.sum; val sy = values.sum
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(values).map { case (x, y) => x * y }.sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val icept = (sy - slope * sx) / n
    (0 until steps).map(h => icept + slope * (n + h))
  }

  /** Triple (Holt-Winters) exponential smoothing, additive seasonality
    * (reference src/time_series/forecasting.rs:468-469) — driver-side
    * on an aggregated series like [[holtForecast]].
    *
    * Initialization: level = mean of season 1; trend = per-step
    * difference of the first two seasonal means; seasonal[i] =
    * x_i − mean(season 1). */
  def holtWintersForecast(values: Seq[Double], period: Int,
      alpha: Double, beta: Double, gamma: Double,
      steps: Int): Seq[Double] = {
    require(period >= 2, "period >= 2")
    if (values.size < 2 * period)
      return holtForecast(values, alpha, beta, steps)
    val m1 = values.take(period).sum / period
    val m2 = values.slice(period, 2 * period).sum / period
    var level = m1
    var trend = (m2 - m1) / period
    val seasonal = scala.collection.mutable.ArrayBuffer(
      values.take(period).map(_ - m1): _*)
    values.zipWithIndex.drop(period).foreach { case (x, i) =>
      val sOld = seasonal(i - period)
      val prevLevel = level
      level = alpha * (x - sOld) + (1 - alpha) * (level + trend)
      trend = beta * (level - prevLevel) + (1 - beta) * trend
      seasonal += gamma * (x - level) + (1 - gamma) * sOld
    }
    (1 to steps).map { h =>
      // last updated seasonal index for this phase
      val phase = seasonal.size - period + ((h - 1) % period)
      level + h * trend + seasonal(phase)
    }
  }

  // ---- ARIMA ---------------------------------------------------------

  /** Solve A·x = b by Gaussian elimination with partial pivoting
    * (tiny normal-equation systems, driver-side). */
  private def solve(a0: Array[Array[Double]],
      b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone); val b = b0.clone
    var i = 0
    while (i < n) {
      var p = i
      var j = i + 1
      while (j < n) { if (math.abs(a(j)(i)) > math.abs(a(p)(i))) p = j; j += 1 }
      val tmp = a(i); a(i) = a(p); a(p) = tmp
      val tb = b(i); b(i) = b(p); b(p) = tb
      require(math.abs(a(i)(i)) > 1e-12, "singular normal equations")
      j = i + 1
      while (j < n) {
        val f = a(j)(i) / a(i)(i)
        var k = i
        while (k < n) { a(j)(k) -= f * a(i)(k); k += 1 }
        b(j) -= f * b(i)
        j += 1
      }
      i += 1
    }
    val x = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = b(i)
      var k = i + 1
      while (k < n) { s -= a(i)(k) * x(k); k += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  /** OLS of y on the given regressor rows plus an intercept, with a
    * tiny ridge term (1e-8 of the mean diagonal) so near-degenerate
    * designs (e.g. differencing a perfect line leaves a constant)
    * stay solvable. Returns (intercept, coefs). */
  private def olsFit(xs: Array[Array[Double]],
      y: Array[Double]): (Double, Array[Double]) = {
    val k = xs.headOption.map(_.length).getOrElse(0)
    val d = k + 1
    val a = Array.fill(d, d)(0.0); val b = Array.fill(d)(0.0)
    xs.indices.foreach { r =>
      val row = Array(1.0) ++ xs(r)
      var i = 0
      while (i < d) {
        b(i) += row(i) * y(r)
        var j = 0
        while (j < d) { a(i)(j) += row(i) * row(j); j += 1 }
        i += 1
      }
    }
    val lam = 1e-8 * (0 until d).map(i => a(i)(i)).sum / d
    (0 until d).foreach(i => a(i)(i) += lam)
    val sol = solve(a, b)
    (sol(0), sol.drop(1))
  }

  /** Fitted ARIMA(p, d, q) model. */
  final case class ArimaModel(p: Int, d: Int, q: Int, intercept: Double,
      ar: Array[Double], ma: Array[Double], residuals: Array[Double],
      diffTail: Array[Double], lastValues: Array[Double])

  /** Fit ARIMA(p, d, q) on an aggregated series (reference
    * src/time_series/forecasting.rs:773 ArimaForecaster) — driver-side
    * like every forecaster here; the series is the OUTPUT of a
    * distributed aggregation, not row-level data.
    *
    * Estimation is Hannan-Rissanen: difference d times; fit a long
    * AR by OLS to estimate innovations; then OLS of the series on p
    * AR lags and q innovation lags. Deterministic (two linear solves,
    * no iterative optimizer). */
  def arimaFit(values: Seq[Double], p: Int, d: Int, q: Int): ArimaModel = {
    require(p >= 0 && d >= 0 && q >= 0 && p + q > 0, "need p+q > 0")
    var w = values.toArray
    (1 to d).foreach { _ =>
      w = w.sliding(2).map(s => s(1) - s(0)).toArray
    }
    val n = w.length
    require(n > 3 * (p + q) + 10,
      s"series too short after differencing: $n")
    // stage 1: long-AR residuals as innovation estimates
    val m = math.min(n / 4, math.max(2 * (p + q), 8))
    val xs1 = (m until n).map(t =>
      (1 to m).map(j => w(t - j)).toArray).toArray
    val y1 = (m until n).map(w).toArray
    val (c1, phi1) = olsFit(xs1, y1)
    val eps = new Array[Double](n)
    (m until n).foreach { t =>
      val pred = c1 + (1 to m).map(j => phi1(j - 1) * w(t - j)).sum
      eps(t) = w(t) - pred
    }
    // stage 2: OLS on p AR lags + q innovation lags
    val start = m + q
    val xs2 = (start until n).map { t =>
      ((1 to p).map(j => w(t - j)) ++
        (1 to q).map(j => eps(t - j))).toArray
    }.toArray
    val y2 = (start until n).map(w).toArray
    val (icept, coefs) = olsFit(xs2, y2)
    val ar = coefs.take(p); val ma = coefs.drop(p)
    // in-sample residuals of the final model (for forecast seeding)
    val resid = new Array[Double](n)
    (start until n).foreach { t =>
      val pred = icept + (1 to p).map(j => ar(j - 1) * w(t - j)).sum +
        (1 to q).map(j => ma(j - 1) * resid(t - j)).sum
      resid(t) = w(t) - pred
    }
    ArimaModel(p, d, q, icept, ar, ma, resid,
      w.takeRight(math.max(p, 1)),
      // d+1 tail values: anchor at difference level k needs the last
      // k+1 originals
      values.toArray.takeRight(math.max(d + 1, 1)))
  }

  /** Forecast `steps` ahead from a fitted model, integrating the d
    * differences back. */
  def arimaForecast(model: ArimaModel, steps: Int): Seq[Double] = {
    val histW = model.diffTail.toBuffer
    val histE = model.residuals.takeRight(math.max(model.q, 1)).toBuffer
    val fw = (1 to steps).map { _ =>
      val f = model.intercept +
        (1 to model.p).map(j =>
          model.ar(j - 1) * histW(histW.size - j)).sum +
        (1 to model.q).map(j =>
          model.ma(j - 1) * histE(histE.size - j)).sum
      histW += f
      histE += 0.0 // future innovations have expectation 0
      f
    }
    // integrate d times: each integration is a cumulative sum anchored
    // on the last observed value at that differencing level
    var out = fw.toArray
    if (model.d > 0) {
      // anchors: the last value at each differencing level (that is
      // all integration needs)
      var cur = model.lastValues
      var anchors = List.empty[Double]
      (1 to model.d).foreach { _ =>
        anchors = cur.last :: anchors
        cur =
          if (cur.length >= 2) cur.sliding(2).map(s => s(1) - s(0)).toArray
          else Array.empty[Double]
      }
      anchors.foreach { a =>
        var acc = a
        out = out.map { v => acc += v; acc }
      }
    }
    out.toSeq
  }

  /** Convenience: fit + forecast. */
  def arimaForecast(values: Seq[Double], p: Int, d: Int, q: Int,
      steps: Int): Seq[Double] =
    arimaForecast(arimaFit(values, p, d, q), steps)

  /** Fitted additive SARIMA(p,d,q)(P,D,Q)_s model (reference
    * src/time_series/advanced_forecasting.rs:19 SarimaForecaster).
    * `w` is the fully differenced working series, `values` the
    * original series (kept so forecasting can rebuild the
    * integration chain); `nEff`/`sse` feed the information criteria
    * (reference :230-253): log-likelihood of the residuals under
    * N(0, σ²) with σ² = SSE/n, k = p+q+P+Q+1 parameters. */
  final case class SarimaModel(p: Int, d: Int, q: Int, sp: Int,
      sd: Int, sq: Int, period: Int, intercept: Double,
      ar: Array[Double], sar: Array[Double], ma: Array[Double],
      sma: Array[Double], residuals: Array[Double], w: Array[Double],
      values: Array[Double], nEff: Int, sse: Double) {
    def nParams: Int = p + q + sp + sq + 1
    /** Gaussian log-likelihood at the MLE variance; −∞ on a
      * degenerate (σ² = 0) fit, so such models rank last — the
      * reference makes the same choice (:230). */
    def logLikelihood: Double = {
      val s2 = sse / nEff
      if (s2 <= 0.0) Double.NegativeInfinity
      else -0.5 * nEff * (math.log(2.0 * math.Pi) + math.log(s2) + 1.0)
    }
    def aic: Double = -2.0 * logLikelihood + 2.0 * nParams
    def bic: Double =
      -2.0 * logLikelihood + nParams * math.log(nEff.toDouble)
    def aicc: Double = {
      val k = nParams.toDouble; val n = nEff.toDouble
      if (n - k - 1.0 > 0.0) aic + 2.0 * k * (k + 1.0) / (n - k - 1.0)
      else aic
    }
  }

  /** Fit additive SARIMA(p,d,q)(P,D,Q)_s on an aggregated series
    * (reference advanced_forecasting.rs:271-390) — driver-side like
    * every forecaster here. Differencing order matches the
    * reference: d regular diffs first, then D seasonal (lag-s)
    * diffs. Estimation extends [[arimaFit]]'s Hannan–Rissanen to the
    * seasonal terms in ONE joint OLS — regressors are the p regular
    * + P seasonal (lag s·j) AR lags of w and the q regular + Q
    * seasonal innovation lags — where the reference fits each block
    * separately; joint estimation is deterministic (two linear
    * solves) and strictly tighter. */
  def sarimaFit(values: Seq[Double], p: Int, d: Int, q: Int,
      sp: Int, sd: Int, sq: Int, period: Int): SarimaModel = {
    require(p >= 0 && d >= 0 && q >= 0 && sp >= 0 && sd >= 0 &&
      sq >= 0, "orders must be >= 0")
    require(p + q + sp + sq > 0, "need at least one AR/MA term")
    require(sp + sd + sq == 0 || period >= 2,
      "seasonal terms need period >= 2")
    var w = values.toArray
    (1 to d).foreach { _ =>
      w = w.sliding(2).map(s => s(1) - s(0)).toArray
    }
    (1 to sd).foreach { _ =>
      require(w.length > period, "series too short to seasonal-diff")
      w = (period until w.length).map(i => w(i) - w(i - period)).toArray
    }
    val n = w.length
    val maxArLag = math.max(p, if (sp > 0) period * sp else 0)
    val maxMaLag = math.max(q, if (sq > 0) period * sq else 0)
    // stage 1 long-AR must span the deepest seasonal AR lag so the
    // innovation estimates see the seasonal structure
    val m = math.max(
      math.min(n / 4, math.max(2 * (p + q), 8)), maxArLag)
    require(n > m + maxMaLag + 3 * (p + q + sp + sq) + 5,
      s"series too short after differencing: $n")
    val xs1 = (m until n).map(t =>
      (1 to m).map(j => w(t - j)).toArray).toArray
    val y1 = (m until n).map(w).toArray
    val (c1, phi1) = olsFit(xs1, y1)
    val eps = new Array[Double](n)
    (m until n).foreach { t =>
      val pred = c1 + (1 to m).map(j => phi1(j - 1) * w(t - j)).sum
      eps(t) = w(t) - pred
    }
    val start = math.max(m + maxMaLag, maxArLag)
    val xs2 = (start until n).map { t =>
      ((1 to p).map(j => w(t - j)) ++
        (1 to sp).map(j => w(t - j * period)) ++
        (1 to q).map(j => eps(t - j)) ++
        (1 to sq).map(j => eps(t - j * period))).toArray
    }.toArray
    val y2 = (start until n).map(w).toArray
    val (icept, coefs) = olsFit(xs2, y2)
    val ar = coefs.take(p)
    val sar = coefs.slice(p, p + sp)
    val ma = coefs.slice(p + sp, p + sp + q)
    val sma = coefs.drop(p + sp + q)
    // in-sample residuals of the final model; innovations before
    // `start` are taken as 0 (deterministic seeding)
    val resid = new Array[Double](n)
    var sse = 0.0
    (start until n).foreach { t =>
      val pred = icept +
        (1 to p).map(j => ar(j - 1) * w(t - j)).sum +
        (1 to sp).map(j => sar(j - 1) * w(t - j * period)).sum +
        (1 to q).map(j => ma(j - 1) * resid(t - j)).sum +
        (1 to sq).map(j => sma(j - 1) * resid(t - j * period)).sum
      resid(t) = w(t) - pred
      sse += resid(t) * resid(t)
    }
    SarimaModel(p, d, q, sp, sd, sq, period, icept, ar, sar, ma, sma,
      resid, w, values.toArray, n - start, sse)
  }

  /** Forecast `steps` ahead from a fitted SARIMA model: run the
    * recurrence on the working series (future innovations = 0), then
    * integrate the D seasonal differences (each level adds back the
    * value one period earlier) and the d regular differences
    * (anchored cumulative sums), inverting the fit's differencing
    * order. */
  def sarimaForecast(model: SarimaModel, steps: Int): Seq[Double] = {
    import model._
    val histW = w.toBuffer
    val histE = residuals.toBuffer
    val fw = (1 to steps).map { _ =>
      val f = intercept +
        (1 to p).map(j => ar(j - 1) * histW(histW.size - j)).sum +
        (1 to sp).map(j =>
          sar(j - 1) * histW(histW.size - j * period)).sum +
        (1 to q).map(j => ma(j - 1) * histE(histE.size - j)).sum +
        (1 to sq).map(j =>
          sma(j - 1) * histE(histE.size - j * period)).sum
      histW += f
      histE += 0.0
      f
    }
    var out = fw.toArray
    if (sd > 0) {
      // rebuild the seasonal-level chain from the regular-diffed
      // series: u0 = Δ^d y, u_k = S^k u0; integrate deepest-first
      var v = values.toArray
      (1 to d).foreach { _ =>
        v = v.sliding(2).map(s => s(1) - s(0)).toArray
      }
      var chain = List(v)
      (1 to sd).foreach { _ =>
        val c = chain.head
        chain = (period until c.length)
          .map(i => c(i) - c(i - period)).toArray :: chain
      }
      // chain.head is w's level; each step up adds back lag-s values
      chain.tail.foreach { levelBelow =>
        val hist = levelBelow.toBuffer
        out = out.map { f =>
          val nv = f + hist(hist.size - period); hist += nv; nv
        }
      }
    }
    if (d > 0) {
      var cur = values.toArray
      var anchors = List.empty[Double]
      (1 to d).foreach { _ =>
        anchors = cur.last :: anchors
        cur =
          if (cur.length >= 2)
            cur.sliding(2).map(s => s(1) - s(0)).toArray
          else Array.empty[Double]
      }
      anchors.foreach { a =>
        var acc = a
        out = out.map { f => acc += f; acc }
      }
    }
    out.toSeq
  }

  /** Convenience: fit + forecast. */
  def sarimaForecast(values: Seq[Double], p: Int, d: Int, q: Int,
      sp: Int, sd: Int, sq: Int, period: Int,
      steps: Int): Seq[Double] =
    sarimaForecast(sarimaFit(values, p, d, q, sp, sd, sq, period),
      steps)

  /** PER-KEY distributed SARIMA — [[sarimaFit]] + [[sarimaForecast]]
    * with fixed orders run INSIDE executors, one group per key
    * (KeyValueGroupedDataset.flatMapGroups), the seasonal sibling of
    * [[groupedHoltForecast]]: a user forecasting millions of keys
    * gets every model fit in parallel after ONE shuffle on the key,
    * no driver collect (the reference's SARIMA at
    * advanced_forecasting.rs:271-390 is single-series only — this
    * exceeds it). Each key's series must fit in a task, the same
    * bounded-series contract as the EWM folds. A key whose series is
    * too short for the requested orders fails LOUDLY with the key in
    * the message — a silent skip would fabricate missing forecasts.
    * Null values are dropped (series = present points in orderCol
    * order). Keys group by their STRING form (numeric and string
    * keys both work; the output key column is string — cast back in
    * the caller if a numeric key type is needed). Output:
    * (keyCol, h = 1..steps, forecast), unrounded. */
  def groupedSarimaForecast(df: DataFrame, valueCol: String,
      orderCol: String, keyCol: String, p: Int, d: Int, q: Int,
      sp: Int, sd: Int, sq: Int, period: Int,
      steps: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(valueCol).isNotNull && col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("k"),
        col(orderCol).cast("long").as("o"),
        col(valueCol).cast("double").as("v"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val series =
          it.toArray.sortBy(_._2).map(_._3).toIndexedSeq
        val fc =
          try sarimaForecast(series, p, d, q, sp, sd, sq, period,
            steps)
          catch {
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(
                s"groupedSarimaForecast key=$k: ${e.getMessage}", e)
          }
        fc.iterator.zipWithIndex.map { case (f, i) =>
          (k, (i + 1).toLong, f)
        }
      }
      .toDF(keyCol, "h", "forecast")
  }

  /** PER-KEY distributed AutoArima — the order-selection sibling of
    * [[groupedSarimaForecast]]: the full deterministic
    * (p,d,q)(P,D,Q) grid search runs INSIDE each key's executor task
    * ([[autoArima]] per group), so a million keys each get their own
    * selected orders after one shuffle. Keys group by string form
    * (numeric and string keys both work). A key where every
    * candidate fails selects nothing and fails LOUDLY with the key
    * in the message. Output per key: h = 1..steps, the winner's
    * forecast, and the selected orders (p,d,q,sp,sd,sq). */
  def groupedAutoArima(df: DataFrame, valueCol: String,
      orderCol: String, keyCol: String, maxP: Int = 3, maxD: Int = 1,
      maxQ: Int = 3, period: Int = 0, maxSp: Int = 1, maxSd: Int = 1,
      maxSq: Int = 1, criterion: String = "aicc",
      steps: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(valueCol).isNotNull && col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("k"),
        col(orderCol).cast("long").as("o"),
        col(valueCol).cast("double").as("v"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val series =
          it.toArray.sortBy(_._2).map(_._3).toIndexedSeq
        val (best, _) = autoArima(series, maxP, maxD, maxQ, period,
          maxSp, maxSd, maxSq, criterion)
        val m = best.getOrElse(throw new IllegalStateException(
          s"groupedAutoArima key=$k: every candidate failed or " +
            "degenerated"))
        sarimaForecast(m, steps).iterator.zipWithIndex.map {
          case (f, i) =>
            (k, (i + 1).toLong, f, m.p.toLong, m.d.toLong,
              m.q.toLong, m.sp.toLong, m.sd.toLong, m.sq.toLong)
        }
      }
      .toDF(keyCol, "h", "forecast", "p", "d", "q", "sp", "sd", "sq")
  }

  /** One row of the AutoArima selection table (reference
    * advanced_forecasting.rs:584 ModelSelectionResult). */
  final case class SarimaCandidate(p: Int, d: Int, q: Int, sp: Int,
      sd: Int, sq: Int, period: Int, aic: Double, aicc: Double,
      bic: Double, ok: Boolean)

  /** AutoArima: exhaustive deterministic grid search over
    * (p,d,q)×(P,D,Q) ranked by an information criterion (reference
    * advanced_forecasting.rs:584 AutoArima; default AICc like the
    * reference). Ties break toward the SIMPLEST model
    * (fewest AR+MA terms, then lexicographic order), so selection is
    * reproducible. Returns the best fitted model (None when every
    * candidate fails or degenerates) plus the full candidate table.
    * Driver-side on an aggregated series like all forecasters. */
  def autoArima(values: Seq[Double], maxP: Int = 3, maxD: Int = 1,
      maxQ: Int = 3, period: Int = 0, maxSp: Int = 1, maxSd: Int = 1,
      maxSq: Int = 1, criterion: String = "aicc")
      : (Option[SarimaModel], Seq[SarimaCandidate]) = {
    require(Seq("aic", "aicc", "bic").contains(criterion),
      s"criterion=$criterion")
    val seasonal = period >= 2
    val grid = for {
      d <- 0 to maxD
      sdv <- 0 to (if (seasonal) maxSd else 0)
      p <- 0 to maxP
      q <- 0 to maxQ
      spv <- 0 to (if (seasonal) maxSp else 0)
      sqv <- 0 to (if (seasonal) maxSq else 0)
      if p + q + spv + sqv > 0
    } yield (p, d, q, spv, sdv, sqv)
    val cands = grid.map { case (p, d, q, spv, sdv, sqv) =>
      scala.util.Try(
        sarimaFit(values, p, d, q, spv, sdv, sqv,
          if (seasonal) period else 0)) match {
        case scala.util.Success(mo) =>
          (Option(mo), SarimaCandidate(p, d, q, spv, sdv, sqv,
            if (seasonal) period else 0,
            mo.aic, mo.aicc, mo.bic, ok = true))
        case scala.util.Failure(_) =>
          (Option.empty[SarimaModel],
            SarimaCandidate(p, d, q, spv, sdv, sqv,
              if (seasonal) period else 0,
              Double.NaN, Double.NaN, Double.NaN, ok = false))
      }
    }
    def crit(c: SarimaCandidate): Double = criterion match {
      case "aic" => c.aic
      case "bic" => c.bic
      case _ => c.aicc
    }
    val best = cands
      .filter { case (mo, c) =>
        mo.isDefined && !crit(c).isNaN && !crit(c).isInfinite }
      .sortBy { case (_, c) =>
        (crit(c), c.p + c.q + c.sp + c.sq,
          (c.p, c.d, c.q, c.sp, c.sd, c.sq)) }
      .headOption
    (best.flatMap(_._1), cands.map(_._2))
  }
}
