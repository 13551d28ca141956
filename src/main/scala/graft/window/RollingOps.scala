package graft.window

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StructField,
  StructType}

/** pandas-style moving windows (reference src/series/window.rs:111-756,
  * src/dataframe/groupby_window.rs:32-164) as Spark window specs.
  * All variants run in one window pass per aggregate — a single
  * shuffle on the partition keys, then sorted streaming within each
  * partition; scales linearly with data.
  */
object RollingOps {

  /** Frame for rolling(n): `center=false` → [-(n-1), 0];
    * `center=true` → pandas puts the extra element on the right for
    * even n: [-(n-1)/2 floor from left?] — pandas centers with
    * lo = -((n-1)/2), hi = n/2 (integer division). */
  private def frame(w: WindowSpec, n: Int, center: Boolean): WindowSpec =
    if (center) w.rowsBetween(-((n - 1) / 2), n / 2)
    else w.rowsBetween(-(n - 1), 0)

  private def base(orderCols: Seq[String],
      partitionCols: Seq[String]): WindowSpec =
    Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)

  /** rolling(n).agg with min_periods (src/series/window.rs:111-140):
    * result is null until the window holds >= minPeriods non-null
    * values. Pass enough orderCols to make the order deterministic —
    * running aggregates over an ambiguous order are undefined in any
    * engine. */
  def rolling(df: DataFrame, valueCol: String, n: Int,
      agg: Column => Column, orderCols: Seq[String],
      partitionCols: Seq[String] = Nil, minPeriods: Int = -1,
      center: Boolean = false,
      outName: String = "rolling"): DataFrame = {
    val mp = if (minPeriods < 0) n else minPeriods
    val w = frame(base(orderCols, partitionCols), n, center)
    val cnt = count(col(valueCol)).over(w)
    df.withColumn(outName,
      when(cnt >= mp, agg(col(valueCol)).over(w)))
  }

  /** pandas rolling(n).corr(other) / .cov(other) between two columns
    * (pairwise window statistics; reference rolling aggregates at
    * src/series/window.rs:111 stop at single-column aggs — this is
    * the pandas-parity extension). Pairwise-complete semantics: a row
    * contributes only when BOTH columns are non-null; result is null
    * until the window holds >= minPeriods complete pairs, and null
    * for zero-variance windows (corr) — matching pandas/SQL. One
    * partitioned window, five running sums, no extra shuffle. */
  def rollingCorr(df: DataFrame, xCol: String, yCol: String, n: Int,
      orderCols: Seq[String], partitionCols: Seq[String] = Nil,
      minPeriods: Int = -1, outName: String = "rolling_corr",
      sampleCov: Boolean = false, asCov: Boolean = false): DataFrame = {
    // n <= 0 = EXPANDING pairwise corr/cov (pandas expanding().corr)
    val mp = if (minPeriods >= 0) minPeriods else if (n > 0) n else 2
    val w =
      if (n > 0) frame(base(orderCols, partitionCols), n, center = false)
      else base(orderCols, partitionCols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bothOk = col(xCol).isNotNull && col(yCol).isNotNull
    val xm = when(bothOk, col(xCol).cast("double"))
    val ym = when(bothOk, col(yCol).cast("double"))
    val cnt = count(xm).over(w).cast("double")
    val sx = sum(xm).over(w); val sy = sum(ym).over(w)
    val sxx = sum(xm * xm).over(w); val syy = sum(ym * ym).over(w)
    val sxy = sum(xm * ym).over(w)
    val out =
      if (asCov) {
        // covariance: sample (n−1, pandas default) or population
        val denom = if (sampleCov) cnt - 1.0 else cnt
        when(denom > 0, (sxy - sx * sy / cnt) / denom)
      } else {
        val den = sqrt(cnt * sxx - sx * sx) * sqrt(cnt * syy - sy * sy)
        when(den > 0, (cnt * sxy - sx * sy) / den)
      }
    df.withColumn(outName, when(cnt >= mp, out))
  }

  def rollingCov(df: DataFrame, xCol: String, yCol: String, n: Int,
      orderCols: Seq[String], partitionCols: Seq[String] = Nil,
      minPeriods: Int = -1, outName: String = "rolling_cov"): DataFrame =
    rollingCorr(df, xCol, yCol, n, orderCols, partitionCols, minPeriods,
      outName, sampleCov = true, asCov = true)

  /** statsmodels RollingOLS parity: per-row trailing-window simple
    * regression y ~ x — slope, intercept, r² from the same five
    * running sums as [[rollingCorr]] (pairwise-complete, null until
    * minPeriods complete pairs, null slope/r² on zero-variance x).
    * All sums share one WindowSpec so Catalyst plans a single Window
    * operator — one partitioned sort, no extra shuffle. Feed
    * integral columns (cents pattern) and every window sum is exact,
    * so the finalized ratios replay identically in any engine. */
  def rollingOls(df: DataFrame, xCol: String, yCol: String, n: Int,
      orderCols: Seq[String], partitionCols: Seq[String] = Nil,
      minPeriods: Int = -1): DataFrame = {
    val mp = if (minPeriods >= 0) minPeriods else n
    val w = frame(base(orderCols, partitionCols), n, center = false)
    val bothOk = col(xCol).isNotNull && col(yCol).isNotNull
    val xm = when(bothOk, col(xCol).cast("double"))
    val ym = when(bothOk, col(yCol).cast("double"))
    val cnt = count(xm).over(w).cast("double")
    val sx = sum(xm).over(w); val sy = sum(ym).over(w)
    val sxx = sum(xm * xm).over(w); val syy = sum(ym * ym).over(w)
    val sxy = sum(xm * ym).over(w)
    val varx = cnt * sxx - sx * sx
    val vary = cnt * syy - sy * sy
    val covxy = cnt * sxy - sx * sy
    val slope = when(varx =!= 0, covxy / varx)
    df.withColumn("roll_slope", when(cnt >= mp, round(slope, 6)))
      .withColumn("roll_intercept",
        when(cnt >= mp, round((sy - slope * sx) / cnt, 6)))
      .withColumn("roll_r2",
        when(cnt >= mp && varx =!= 0 && vary =!= 0,
          round(covxy * covxy / (varx * vary), 6)))
  }

  /** pandas rolling(n).skew(): unbiased sample skewness
    * G1 = n·√(n−1)/(n−2) · Σ(x−μ)³ / (Σ(x−μ)²)^1.5 over each rows
    * window (pandas nanskew formula). `valueCol` must be
    * integer-valued (cents-scale upstream): the four running sums are
    * then exact Longs, so the finalized double replays identically in
    * any engine. Null until minPeriods non-null values, null on
    * zero-variance windows (pandas NaN semantics). One partitioned
    * window, no extra shuffle. */
  def rollingSkew(df: DataFrame, valueCol: String, n: Int,
      orderCols: Seq[String], partitionCols: Seq[String] = Nil,
      minPeriods: Int = -1, outName: String = "rolling_skew"):
      DataFrame = {
    val mp = if (minPeriods < 0) n else minPeriods
    val w = frame(base(orderCols, partitionCols), n, center = false)
    val v = col(valueCol).cast("long")
    val m = count(v).over(w).cast("double")
    val s1 = sum(v).over(w).cast("double")
    val s2 = sum(v * v).over(w).cast("double")
    val s3 = sum(v * v * v).over(w).cast("double")
    val mu = s1 / m
    val c2 = s2 - mu * s1                      // Σ(x−μ)² expanded
    val c3 = s3 - lit(3.0) * mu * s2 + lit(2.0) * mu * mu * s1
    df.withColumn(outName,
      when(count(v).over(w) >= mp && c2 > 0 && m > 2,
        (m * sqrt(m - lit(1.0)) / (m - lit(2.0))) *
          (c3 / pow(c2, 1.5))))
  }

  /** pandas rolling(n).kurt(): unbiased excess kurtosis
    * G2 = n(n+1)(n−1)·Σ(x−μ)⁴ / ((n−2)(n−3)·(Σ(x−μ)²)²)
    *      − 3(n−1)² / ((n−2)(n−3))
    * (pandas nankurt formula). Same exact-integer-sum contract as
    * [[rollingSkew]]; beware 4th-power magnitude — keep |x| ≤ ~50k so
    * x⁴·n fits a Long. */
  def rollingKurt(df: DataFrame, valueCol: String, n: Int,
      orderCols: Seq[String], partitionCols: Seq[String] = Nil,
      minPeriods: Int = -1, outName: String = "rolling_kurt"):
      DataFrame = {
    val mp = if (minPeriods < 0) n else minPeriods
    val w = frame(base(orderCols, partitionCols), n, center = false)
    val v = col(valueCol).cast("long")
    val m = count(v).over(w).cast("double")
    val s1 = sum(v).over(w).cast("double")
    val s2 = sum(v * v).over(w).cast("double")
    val s3 = sum(v * v * v).over(w).cast("double")
    val s4 = sum(v * v * v * v).over(w).cast("double")
    val mu = s1 / m
    val c2 = s2 - mu * s1
    val c4 = s4 - lit(4.0) * mu * s3 + lit(6.0) * mu * mu * s2 -
      lit(3.0) * mu * mu * mu * s1
    df.withColumn(outName,
      when(count(v).over(w) >= mp && c2 > 0 && m > 3,
        m * (m + lit(1.0)) * (m - lit(1.0)) * c4 /
          ((m - lit(2.0)) * (m - lit(3.0)) * c2 * c2) -
          lit(3.0) * (m - lit(1.0)) * (m - lit(1.0)) /
            ((m - lit(2.0)) * (m - lit(3.0)))))
  }

  /** pandas rolling(n).quantile(q, interpolation='linear') /
    * .median(): the window's non-null values are materialized as a
    * sorted array per row (collect_list over the rows frame — O(n)
    * state per row, so for the window sizes rolling stats are used at;
    * this is exactly the buffer any exact rolling quantile needs),
    * then linearly interpolated at rank h = (cnt−1)·q. Null until
    * minPeriods non-null values. */
  def rollingQuantile(df: DataFrame, valueCol: String, n: Int,
      q: Double, orderCols: Seq[String],
      partitionCols: Seq[String] = Nil, minPeriods: Int = -1,
      outName: String = "rolling_q"): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile q=$q must be in [0,1]")
    val mp = if (minPeriods < 0) n else minPeriods
    val w = frame(base(orderCols, partitionCols), n, center = false)
    val arr = array_sort(collect_list(col(valueCol).cast("double")).over(w))
    val cnt = size(arr)
    val h = (cnt - 1).cast("double") * lit(q)
    val lo = floor(h).cast("int")
    val vLo = element_at(arr, lo + 1)
    val vHi = element_at(arr, least(lo + 2, cnt))
    df.withColumn(outName,
      when(cnt >= mp, vLo + (h - lo.cast("double")) * (vHi - vLo)))
  }

  def rollingMedian(df: DataFrame, valueCol: String, n: Int,
      orderCols: Seq[String], partitionCols: Seq[String] = Nil,
      minPeriods: Int = -1,
      outName: String = "rolling_median"): DataFrame =
    rollingQuantile(df, valueCol, n, 0.5, orderCols, partitionCols,
      minPeriods, outName)

  /** Hampel outlier filter: flag x_i when
    * |x_i − med_i| > k·1.4826·MAD_i, with med_i / MAD_i the median
    * and median-absolute-deviation of the CENTERED n-window (the
    * robust despiking standard; 1.4826 makes MAD a σ estimate under
    * normality). One collect_list window buffer per row (the same
    * exact-quantile state [[rollingQuantile]] uses); the filtered
    * column replaces flagged points with the window median. Nulls
    * pass through unflagged. */
  def hampel(df: DataFrame, valueCol: String, n: Int,
      orderCols: Seq[String], partitionCols: Seq[String] = Nil,
      k: Double = 3.0): DataFrame = {
    val w = frame(base(orderCols, partitionCols), n, center = true)
    val v = col(valueCol).cast("double")
    def medOf(a: Column) = {
      val c = size(a)
      val h = (c - 1).cast("double") * lit(0.5)
      val lo = floor(h).cast("int")
      val vLo = element_at(a, lo + 1)
      val vHi = element_at(a, least(lo + 2, c))
      // guard the empty window (all-null values in the span):
      // element_at(a, 1) on an empty array throws under ANSI mode;
      // emit null med/MAD so null-only windows pass through unflagged
      when(c > 0, vLo + (h - lo.cast("double")) * (vHi - vLo))
    }
    // window results land in intermediate columns first: lambda
    // bodies cannot nest window expressions, outer refs are fine
    val med = col("__hmed__"); val mad = col("__hmad__")
    val flag = v.isNotNull &&
      abs(v - med) > lit(k) * lit(1.4826) * mad
    df.withColumn("__harr__", array_sort(collect_list(v).over(w)))
      .withColumn("__hmed__", medOf(col("__harr__")))
      .withColumn("__hmad__",
        medOf(array_sort(transform(col("__harr__"),
          x => abs(x - col("__hmed__"))))))
      .withColumn("hampel_outlier", flag)
      .withColumn("hampel_filtered",
        round(when(flag, med).otherwise(v), 6))
      .withColumn("hampel_median", round(med, 6))
      .withColumn("hampel_mad", round(mad, 6))
      .drop("__harr__", "__hmed__", "__hmad__")
  }

  /** expanding(minPeriods) (src/series/window.rs:359). */
  def expanding(df: DataFrame, valueCol: String, agg: Column => Column,
      orderCols: Seq[String], partitionCols: Seq[String] = Nil,
      minPeriods: Int = 1, outName: String = "expanding"): DataFrame = {
    val w = base(orderCols, partitionCols)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cnt = count(col(valueCol)).over(w)
    df.withColumn(outName, when(cnt >= minPeriods,
      agg(col(valueCol)).over(w)))
  }

  /** expanding(minPeriods).quantile(q) / .median(): the
    * [[rollingQuantile]] sorted-buffer machinery with an unbounded-
    * preceding frame — exact linear interpolation at h = (cnt−1)·q.
    * NOTE the state is inherently O(rows-per-partition) per row (an
    * exact expanding quantile needs every prior value); for long
    * unbounded series at scale, pre-bin the values (cents-style) or
    * resample first — same regime as the reference's single-node
    * expanding windows. */
  def expandingQuantile(df: DataFrame, valueCol: String, q: Double,
      orderCols: Seq[String], partitionCols: Seq[String] = Nil,
      minPeriods: Int = 1, outName: String = "expanding_q"): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile q=$q must be in [0,1]")
    val w = base(orderCols, partitionCols)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val arr = array_sort(collect_list(col(valueCol).cast("double")).over(w))
    val cnt = size(arr)
    val h = (cnt - 1).cast("double") * lit(q)
    val lo = floor(h).cast("int")
    val vLo = element_at(arr, lo + 1)
    val vHi = element_at(arr, least(lo + 2, cnt))
    df.withColumn(outName,
      when(cnt >= minPeriods, vLo + (h - lo.cast("double")) * (vHi - vLo)))
  }

  def expandingMedian(df: DataFrame, valueCol: String,
      orderCols: Seq[String], partitionCols: Seq[String] = Nil,
      minPeriods: Int = 1,
      outName: String = "expanding_median"): DataFrame =
    expandingQuantile(df, valueCol, 0.5, orderCols, partitionCols,
      minPeriods, outName)

  /** time-based rolling (src/dataframe/groupby_window.rs:100-164):
    * a range frame of `seconds` over the event-time ordering.
    * `closed` picks the window-edge semantics on the second-granular
    * range (reference WindowClosed, src/series/window.rs:140):
    * "both" = [t−w, t] (default), "right" = (t−w, t],
    * "left" = [t−w, t), "neither" = (t−w, t). */
  def rollingTime(df: DataFrame, valueCol: String, tsCol: String,
      seconds: Long, agg: Column => Column,
      partitionCols: Seq[String] = Nil,
      outName: String = "rolling", closed: String = "both"): DataFrame = {
    val (lo, hi) = closed match {
      case "both" => (-seconds, 0L)
      case "right" => (-seconds + 1, 0L)
      case "left" => (-seconds, -1L)
      case "neither" => (-seconds + 1, -1L)
      case other => throw new IllegalArgumentException(
        s"closed must be both/right/left/neither, got $other")
    }
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(tsCol).cast("long"))
      .rangeBetween(lo, hi)
    df.withColumn(outName, agg(col(valueCol)).over(w))
  }

  /** pandas/reference EWM decay parameterizations → alpha
    * (src/series/window.rs:567-596): span s → 2/(s+1), center of
    * mass c → 1/(1+c), half-life h → 1 − exp(ln(1/2)/h). */
  def alphaFromSpan(span: Double): Double = {
    require(span >= 1, "span >= 1"); 2.0 / (span + 1.0)
  }
  def alphaFromCom(com: Double): Double = {
    require(com >= 0, "com >= 0"); 1.0 / (1.0 + com)
  }
  def alphaFromHalflife(halflife: Double): Double = {
    require(halflife > 0, "halflife > 0")
    1.0 - math.exp(math.log(0.5) / halflife)
  }


  // ----- EWM: one engine ------------------------------------------
  // Every exact EWM name below runs on [[keyedPass]]: repartition by
  // key, sort within partitions, one O(n) stateful pass per partition
  // stepping the per-key state machines further down. The streaming
  // forms (graft.streaming.StreamOps.ewm*Stream) carry the same
  // machines across micro-batches.

  /** Exponentially-weighted moving mean with exact pandas semantics
    * (reference src/series/window.rs:555-715): the one moving window
    * Spark lacks as a primitive. The recurrence is sequential in event
    * order, so the parallel unit is the key: one keyed pass
    * ([[keyedPass]]) with rows sorted by (orderCol, value), the result
    * joined back on (partitionCols, orderCol). `partitionCols = Nil`
    * is pandas' plain `Series.ewm`: one series, one partition.
    *
    * adjust=true:  y_t = Σ w_i x_i / Σ w_i, w_i = (1-α)^(t-i)
    * adjust=false: y_t = (1-α) y_{t-1} + α x_t  (y_0 = x_0)
    *
    * ignoreNa=true (this library's historical default): nulls are
    * skipped entirely — a missing value neither poisons nor resets
    * the recurrence, and null rows emit null. ignoreNa=false is the
    * PANDAS DEFAULT (reference src/series/window.rs:555-602
    * `ignore_na`): weights decay by absolute POSITION, so a gap of g
    * missing rows multiplies every prior weight by (1-α)^g, and
    * missing rows emit the carried (last computed) value. */
  def ewmMean(df: DataFrame, valueCol: String, orderCol: String,
      partitionCols: Seq[String], alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = true,
      outName: String = "ewm"): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    // (partitionCols, orderCol) must uniquely identify rows: the
    // result is joined back on that key
    df.join(positionalPass(present(df, ignoreNa, valueCol), valueCol,
      orderCol, partitionCols, alpha, "mean", adjust, bias = false,
      ignoreNa, outName), partitionCols :+ orderCol, "left")
  }

  /** Exponentially-weighted moving variance (reference
    * src/series/window.rs:640-715 implements mean+std+var; we mirror
    * pandas adjust=true semantics). The [[ewmMean]] pass with four
    * accumulators:
    *
    *   den  = Σ w_i,  num  = Σ w_i x_i,
    *   num2 = Σ w_i x_i², den2 = Σ w_i²,   w_i = (1−α)^(t−i)
    *
    * biased var = num2/den − (num/den)²; bias=false applies the
    * reliability debias den²/(den²−den2) (null while den² = den2,
    * i.e. a single effective observation — pandas NaN).
    * ignoreNa=false: positional weight decay across null rows, which
    * emit the carried value (see [[ewmMean]]). */
  def ewmVar(df: DataFrame, valueCol: String, orderCol: String,
      partitionCols: Seq[String], alpha: Double, bias: Boolean = false,
      ignoreNa: Boolean = true,
      outName: String = "ewm_var"): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    df.join(positionalPass(present(df, ignoreNa, valueCol), valueCol,
      orderCol, partitionCols, alpha, "var", adjust = true, bias,
      ignoreNa, outName), partitionCols :+ orderCol, "left")
  }

  /** EWM standard deviation: sqrt of [[ewmVar]] (clamped at 0 so a
    * −1 ulp variance cannot produce NaN; nulls stay null — greatest()
    * alone would silently turn them into 0). */
  def ewmStd(df: DataFrame, valueCol: String, orderCol: String,
      partitionCols: Seq[String], alpha: Double, bias: Boolean = false,
      ignoreNa: Boolean = true,
      outName: String = "ewm_std"): DataFrame =
    ewmVar(df, valueCol, orderCol, partitionCols, alpha, bias,
      ignoreNa, outName)
      .withColumn(outName, when(col(outName).isNotNull,
        sqrt(greatest(col(outName), lit(0.0)))))

  /** Exponentially-weighted moving covariance / correlation between
    * two columns (pandas ewm().cov()/.corr() — the pairwise
    * extension of [[ewmVar]], reference src/series/window.rs stops at
    * single-series EWM). The [[ewmMean]] pass with seven accumulators
    * (Σw, Σw², Σwx, Σwy, Σwxy, Σwx², Σwy²), rows sorted by
    * (orderCol, x, y), pairwise-complete: a row where either column
    * is null adds no observation. ignoreNa=true (historical default):
    * such rows are dropped entirely and emit null — pandas
    * ignore_na=True semantics. ignoreNa=false (the PANDAS DEFAULT):
    * the gap still decays every weight by (1-α) and the row emits the
    * carried value. cov applies the den²/(den²−den2) debias unless
    * `bias`; corr is the biased ratio cov_b/√(varx_b·vary_b) — the
    * debias factors cancel, matching pandas. */
  def ewmCov(df: DataFrame, xCol: String, yCol: String,
      orderCol: String, partitionCols: Seq[String], alpha: Double,
      bias: Boolean = false, corr: Boolean = false,
      ignoreNa: Boolean = true,
      outName: String = "ewm_cov"): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    df.join(pairPass(present(df, ignoreNa, xCol, yCol), xCol, yCol,
      orderCol, partitionCols, alpha, bias, corr, ignoreNa,
      Seq(outName)), partitionCols :+ orderCol, "left")
  }

  /** pandas ewm().corr() — [[ewmCov]] with the biased-ratio
    * correlation output. */
  def ewmCorr(df: DataFrame, xCol: String, yCol: String,
      orderCol: String, partitionCols: Seq[String], alpha: Double,
      ignoreNa: Boolean = true,
      outName: String = "ewm_corr"): DataFrame =
    ewmCov(df, xCol, yCol, orderCol, partitionCols, alpha,
      corr = true, ignoreNa = ignoreNa, outName = outName)

  /** Time-decayed EWM mean — pandas `ewm(halflife=…, times=…)`
    * (exceeds the reference, whose EWM is positional only): an
    * observation's weight decays by 0.5^(Δt/halflife) per ELAPSED
    * TIME, so irregular sampling is handled exactly. `timeCol` is a
    * numeric time axis in the same unit as `halflife` (e.g.
    * unix_timestamp seconds); `orderCol` must uniquely key rows
    * within a partition (join-back key; also the tie-break for equal
    * times). pandas supports times with adjust=true mean only — same
    * here. Null values/times are skipped and emit null. The
    * [[ewmMean]] pass with rows sorted by (timeCol, orderCol, value)
    * and the previous time carried in the state. */
  def ewmMeanTime(df: DataFrame, valueCol: String, timeCol: String,
      orderCol: String, partitionCols: Seq[String], halflife: Double,
      outName: String = "ewm_t"): DataFrame = {
    require(halflife > 0, "halflife > 0")
    df.join(timePass(present(df, ignoreNa = true, valueCol, timeCol),
      Seq(valueCol), timeCol, orderCol, partitionCols, halflife, "mean",
      bias = false, corr = false, outName),
      partitionCols :+ orderCol, "left")
  }

  /** Time-decayed EWM variance — the var sibling of [[ewmMeanTime]]
    * (pandas `ewm(halflife=…, times=…).var()`): weights decay by
    * 0.5^(Δt/halflife) per elapsed time, with the [[ewmVar]]
    * accumulator family (num, den, num2, den2) where den2 carries
    * SQUARED weights (decays by the square of the per-step factor).
    * Biased var = num2/den − (num/den)²; bias=false applies the
    * den²/(den²−den2) reliability debias (null while a single
    * effective observation). With REGULAR spacing Δ it reduces
    * exactly to [[ewmVar]] at α = 1 − 0.5^(Δ/halflife) (spec'd).
    * Same pass and null conventions as [[ewmMeanTime]]. */
  def ewmVarTime(df: DataFrame, valueCol: String, timeCol: String,
      orderCol: String, partitionCols: Seq[String], halflife: Double,
      bias: Boolean = false,
      outName: String = "ewm_t_var"): DataFrame = {
    require(halflife > 0, "halflife > 0")
    df.join(timePass(present(df, ignoreNa = true, valueCol, timeCol),
      Seq(valueCol), timeCol, orderCol, partitionCols, halflife, "var",
      bias, corr = false, outName), partitionCols :+ orderCol, "left")
  }

  /** Time-decayed EWM standard deviation: sqrt of [[ewmVarTime]]
    * (clamped at 0; nulls stay null — the [[ewmStd]] convention). */
  def ewmStdTime(df: DataFrame, valueCol: String, timeCol: String,
      orderCol: String, partitionCols: Seq[String], halflife: Double,
      bias: Boolean = false,
      outName: String = "ewm_t_std"): DataFrame =
    ewmVarTime(df, valueCol, timeCol, orderCol, partitionCols,
      halflife, bias, outName)
      .withColumn(outName, when(col(outName).isNotNull,
        sqrt(greatest(col(outName), lit(0.0)))))

  /** Time-decayed EWM covariance / correlation — the pairwise member
    * of the halflife-over-times family ([[ewmMeanTime]] /
    * [[ewmVarTime]]): weights decay by 0.5^(Δt/halflife) per elapsed
    * time, with the seven pairwise accumulators of [[ewmCov]] (den2
    * decays by the SQUARE of the per-step factor). Pairwise-complete:
    * only rows with both values and a time present enter the
    * recurrence (the [[ewmMeanTime]] null convention); others emit
    * null. With REGULAR spacing Δ it reduces exactly to [[ewmCov]] at
    * α = 1 − 0.5^(Δ/halflife) (spec'd). corr is the biased ratio —
    * the debias factors cancel, matching the positional form. */
  def ewmCovTime(df: DataFrame, xCol: String, yCol: String,
      timeCol: String, orderCol: String, partitionCols: Seq[String],
      halflife: Double, bias: Boolean = false, corr: Boolean = false,
      outName: String = "ewm_t_cov"): DataFrame = {
    require(halflife > 0, "halflife > 0")
    df.join(timePass(present(df, ignoreNa = true, xCol, yCol, timeCol),
      Seq(xCol, yCol), timeCol, orderCol, partitionCols, halflife,
      "mean", bias, corr, outName), partitionCols :+ orderCol, "left")
  }

  /** The keyed pass of [[ewmMean]]/[[ewmVar]]/[[ewmStd]] without the
    * join back: every input row, null values included (they emit null
    * and do not advance the state under ignoreNa=true, decay and carry
    * under ignoreNa=false). `stat`: "mean" | "var" | "std"; var/std
    * use adjust=true weights like [[ewmVar]]. Output columns:
    * (partitionCols…, orderCol, outName). */
  def ewmScalable(df: DataFrame, valueCol: String, orderCol: String,
      partitionCols: Seq[String], alpha: Double, stat: String = "mean",
      adjust: Boolean = true, bias: Boolean = false,
      ignoreNa: Boolean = true,
      outName: String = "ewm"): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    require(Seq("mean", "var", "std").contains(stat), s"stat=$stat")
    require(partitionCols.nonEmpty, "partitionCols required")
    positionalPass(df, valueCol, orderCol, partitionCols, alpha, stat,
      adjust, bias, ignoreNa, outName)
  }

  /** The keyed pass of [[ewmCov]]/[[ewmCorr]] without the join back:
    * every input row; rows where either column is null follow
    * pairwise-complete semantics (skipped and null under
    * ignoreNa=true, decay-and-carry under ignoreNa=false). Output
    * columns: (partitionCols…, orderCol, outName). */
  def ewmCovScalable(df: DataFrame, xCol: String, yCol: String,
      orderCol: String, partitionCols: Seq[String], alpha: Double,
      bias: Boolean = false, corr: Boolean = false,
      ignoreNa: Boolean = true,
      outName: String = "ewm_cov"): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    require(partitionCols.nonEmpty, "partitionCols required")
    pairPass(df, xCol, yCol, orderCol, partitionCols, alpha, bias, corr,
      ignoreNa, Seq(outName))
  }

  /** pandas ewm().corr() without the join back — [[ewmCovScalable]]
    * with the biased-ratio correlation output. */
  def ewmCorrScalable(df: DataFrame, xCol: String, yCol: String,
      orderCol: String, partitionCols: Seq[String], alpha: Double,
      ignoreNa: Boolean = true,
      outName: String = "ewm_corr"): DataFrame =
    ewmCovScalable(df, xCol, yCol, orderCol, partitionCols, alpha,
      corr = true, ignoreNa = ignoreNa, outName = outName)

  /** ONE-PASS cov + corr: both statistics share the seven
    * [[EwmPairMachine]] accumulators, so a caller that needs cov AND
    * corr (the q333 shape) pays a single repartition + sort + O(n)
    * pass. Values equal [[ewmCovScalable]] / [[ewmCorrScalable]] run
    * separately — identical state advance, identical emit formulas.
    * Output columns: (partitionCols…, orderCol, covName, corrName). */
  def ewmCovCorrScalable(df: DataFrame, xCol: String, yCol: String,
      orderCol: String, partitionCols: Seq[String], alpha: Double,
      bias: Boolean = false, ignoreNa: Boolean = true,
      covName: String = "ewm_cov",
      corrName: String = "ewm_corr"): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    require(partitionCols.nonEmpty, "partitionCols required")
    pairPass(df, xCol, yCol, orderCol, partitionCols, alpha, bias,
      corr = false, ignoreNa, Seq(covName, corrName))
  }

  /** The keyed pass of [[ewmMeanTime]]/[[ewmVarTime]]/[[ewmStdTime]]
    * without the join back: every input row, sorted by
    * (timeCol, orderCol, value); rows with a null value or time emit
    * null and do not advance the state. Output:
    * (partitionCols…, orderCol, outName). */
  def ewmTimeScalable(df: DataFrame, valueCol: String,
      timeCol: String, orderCol: String, partitionCols: Seq[String],
      halflife: Double, stat: String = "mean", bias: Boolean = false,
      outName: String = "ewm_t"): DataFrame = {
    require(partitionCols.nonEmpty, "partitionCols required")
    timePass(df, Seq(valueCol), timeCol, orderCol, partitionCols,
      halflife, stat, bias, corr = false, outName)
  }

  /** The keyed pass of [[ewmCovTime]] without the join back: rows
    * with a missing value or time emit null and do not advance the
    * state. Output: (partitionCols…, orderCol, outName). */
  def ewmCovTimeScalable(df: DataFrame, xCol: String, yCol: String,
      timeCol: String, orderCol: String, partitionCols: Seq[String],
      halflife: Double, bias: Boolean = false, corr: Boolean = false,
      outName: String = "ewm_t_cov"): DataFrame = {
    require(partitionCols.nonEmpty, "partitionCols required")
    timePass(df, Seq(xCol, yCol), timeCol, orderCol, partitionCols,
      halflife, "mean", bias, corr, outName)
  }

  // rows whose `cols` are all present (every row when !ignoreNa)
  private def present(df: DataFrame, ignoreNa: Boolean,
      cols: String*): DataFrame =
    if (ignoreNa) df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    else df

  /** The EWM engine: `inputs` are cast to double and placed behind
    * (partitionCols…, orderCol); rows are hash-partitioned by key (one
    * partition when there is none) and sorted by key, then by
    * `sortCols` (orderCol and `inCol(i)`, the i-th input, in the order
    * the series is read: equal orders fall back to the values); one
    * `mapPartitions` then feeds each key's rows in order to a fresh
    * stepper from `newStep`, which reads input i at row position
    * partitionCols.size + 1 + i and writes the statistics named by
    * `outNames` into the output row from position partitionCols.size
    * + 1 on. O(n), constant memory per key. Output:
    * (partitionCols…, orderCol, outNames…), the key and order columns
    * keeping their input types and nullability. */
  private def keyedPass(df: DataFrame, partitionCols: Seq[String],
      orderCol: String, inputs: Seq[String], sortCols: Seq[String],
      outNames: Seq[String])(
      newStep: () => (Row, Array[Any]) => Unit): DataFrame = {
    val keys = partitionCols.map(col)
    val in = df.select(keys ++ (col(orderCol) +: inputs.indices.map(i =>
      col(inputs(i)).cast("double").as(inCol(i)))): _*)
    val sorted =
      (if (keys.isEmpty) in.repartition(1) else in.repartition(keys: _*))
        .sortWithinPartitions(keys ++ sortCols.map(col): _*)
    val nKeys = keys.size
    val nOut = nKeys + 1 + outNames.size
    val schema = StructType(in.schema.fields.take(nKeys + 1) ++
      outNames.map(StructField(_, DoubleType, nullable = true)))
    val floatKey = in.schema.fields.take(nKeys).map(f =>
      f.dataType == DoubleType || f.dataType == FloatType)
    sorted.mapPartitions { it =>
      var curKey: Array[Any] = null
      var step: (Row, Array[Any]) => Unit = null
      // floating keys compare by value, NaN equal to NaN: Spark's hash
      // partitioning and sort put -0.0 and 0.0 (and all NaNs) in one
      // key. Others compare element-deep: BinaryType keys are
      // Array[Byte], where plain equality is reference equality and
      // would reset the state on every row
      def sameKey(r: Row): Boolean = {
        if (curKey == null) return false
        var i = 0
        while (i < nKeys) {
          val a = curKey(i)
          val b = r.get(i)
          val same =
            if (floatKey(i) && a != null && b != null) {
              val x = a.asInstanceOf[Number].doubleValue
              val y = b.asInstanceOf[Number].doubleValue
              x == y || (x.isNaN && y.isNaN)
            } else java.util.Objects.deepEquals(a, b)
          if (!same) return false
          i += 1
        }
        true
      }
      it.map { r =>
        if (!sameKey(r)) {
          curKey = Array.tabulate(nKeys)(r.get)
          step = newStep()
        }
        val vals = new Array[Any](nOut)
        var i = 0
        while (i <= nKeys) { vals(i) = r.get(i); i += 1 }
        step(r, vals)
        new GenericRow(vals): Row
      }
    }(Encoders.row(schema))
  }

  private def inCol(i: Int): String = s"__in${i}__"

  // one [[EwmMachine]] statistic per row, rows sorted by (order, value)
  private def positionalPass(df: DataFrame, valueCol: String,
      orderCol: String, partitionCols: Seq[String], alpha: Double,
      stat: String, adjust: Boolean, bias: Boolean, ignoreNa: Boolean,
      outName: String): DataFrame = {
    val v = partitionCols.size + 1
    keyedPass(df, partitionCols, orderCol, Seq(valueCol),
      Seq(orderCol, inCol(0)), Seq(outName)) { () =>
      val m = new EwmMachine(alpha, stat, adjust, bias, ignoreNa)
      (r, out) => {
        val missing = r.isNullAt(v)
        out(v) = m.step(missing, if (missing) 0.0 else r.getDouble(v))
      }
    }
  }

  // [[EwmPairMachine]] per row, rows sorted by (order, x, y); two
  // `outNames` emit cov and corr from one advance
  private def pairPass(df: DataFrame, xCol: String, yCol: String,
      orderCol: String, partitionCols: Seq[String], alpha: Double,
      bias: Boolean, corr: Boolean, ignoreNa: Boolean,
      outNames: Seq[String]): DataFrame = {
    val x = partitionCols.size + 1
    val both = outNames.size == 2
    keyedPass(df, partitionCols, orderCol, Seq(xCol, yCol),
      Seq(orderCol, inCol(0), inCol(1)), outNames) { () =>
      val m = new EwmPairMachine(alpha, bias, corr, ignoreNa)
      (r, out) => {
        val incomplete = r.isNullAt(x) || r.isNullAt(x + 1)
        val xv = if (incomplete) 0.0 else r.getDouble(x)
        val yv = if (incomplete) 0.0 else r.getDouble(x + 1)
        if (both) {
          val (cov, cor) = m.stepBoth(incomplete, xv, yv)
          out(x) = cov; out(x + 1) = cor
        } else out(x) = m.step(incomplete, xv, yv)
      }
    }
  }

  // time-decayed: one value ([[EwmTimeMachine]]) or two
  // ([[EwmTimePairMachine]]), rows sorted by (time, order, values…);
  // a row missing its time or a value emits null, state unchanged
  private def timePass(df: DataFrame, valueCols: Seq[String],
      timeCol: String, orderCol: String, partitionCols: Seq[String],
      halflife: Double, stat: String, bias: Boolean, corr: Boolean,
      outName: String): DataFrame = {
    val t = partitionCols.size + 1
    val end = t + valueCols.size + 1
    keyedPass(df, partitionCols, orderCol, timeCol +: valueCols,
      inCol(0) +: orderCol +: valueCols.indices.map(i => inCol(i + 1)),
      Seq(outName)) { () =>
      val step: Row => Any =
        if (valueCols.size == 1) {
          val m = new EwmTimeMachine(halflife, stat, bias)
          r => m.step(r.getDouble(t), r.getDouble(t + 1))
        } else {
          val m = new EwmTimePairMachine(halflife, bias, corr)
          r => m.step(r.getDouble(t), r.getDouble(t + 1),
            r.getDouble(t + 2))
        }
      (r, out) => {
        var i = t
        while (i < end && !r.isNullAt(i)) i += 1
        out(t) = if (i < end) null else step(r)
      }
    }
  }

  // Spark SQL `x > 0.0` under its NaN-is-largest ordering — the guard
  // of the DuckDB CASE oracles, so a NaN moment emits NaN, not null
  @inline private def gtZeroSql(x: Double): Boolean =
    java.lang.Double.isNaN(x) || x > 0.0

  // var/std from the (num, den, num2, den2) accumulators; null while
  // den is 0 (a keepNa leading-null prefix) or the debias is undefined
  private def varEmit(num: Double, den: Double, num2: Double,
      den2: Double, bias: Boolean, std: Boolean): Any =
    if (!gtZeroSql(den)) null
    else {
      val biased = num2 / den - (num / den) * (num / den)
      val v: Any =
        if (bias) biased
        else if (gtZeroSql(den * den - den2))
          biased * (den * den) / (den * den - den2)
        else null
      if (std && v != null) math.sqrt(math.max(v.asInstanceOf[Double], 0.0))
      else v
    }

  // cov (debiased unless `bias`) or corr from the seven pairwise
  // accumulators; null while den is 0 (a keepNa leading prefix, where
  // the moments are 0/0) or the statistic is undefined
  private def pairEmit(den: Double, den2: Double, sx: Double,
      sy: Double, sxy: Double, sxx: Double, syy: Double, bias: Boolean,
      corr: Boolean): Any =
    if (!gtZeroSql(den)) null
    else {
      val covB = sxy / den - (sx / den) * (sy / den)
      if (corr) {
        val varxB = sxx / den - (sx / den) * (sx / den)
        val varyB = syy / den - (sy / den) * (sy / den)
        if (gtZeroSql(varxB * varyB)) covB / math.sqrt(varxB * varyB)
        else null
      } else if (bias) covB
      else if (gtZeroSql(den * den - den2))
        covB * (den * den) / (den * den - den2)
      else null
    }

  /** Per-point EWM state machine: the exact O(1)-per-row recurrence
    * behind [[ewmMean]]/[[ewmVar]]/[[ewmScalable]] (batch, one per key
    * in [[keyedPass]]) and [[graft.streaming.StreamOps.ewmStream]]
    * (flatMapGroupsWithState across micro-batches), so the streamed
    * sequence equals the batch one. */
  private[graft] final class EwmMachine(a: Double, stat: String,
      adjust: Boolean, bias: Boolean, ignoreNa: Boolean)
      extends Serializable {
    require(a > 0 && a < 1, "alpha in (0,1)")
    require(Seq("mean", "var", "std").contains(stat), s"stat=$stat")
    private val statMean = stat == "mean"
    private val statStd = stat == "std"
    var num = 0.0; var den = 0.0; var num2 = 0.0; var den2 = 0.0
    var prev = 0.0; var hasPrev = false // adjust=false mean state
    var prevOw = 0.0 // adjust=false ignore_na=false old_wt state
    def restore(n: Double, d: Double, n2: Double, d2: Double,
        p: Double, hp: Boolean, ow: Double): Unit = {
      num = n; den = d; num2 = n2; den2 = d2
      prev = p; hasPrev = hp; prevOw = ow
    }
    /** Advance on one point (`isNull` = missing value; `x` ignored
      * then) and return the emitted statistic, or null. */
    def step(isNull: Boolean, x: Double): Any =
      if (isNull && ignoreNa) null
      else if (isNull) {
        // ignore_na=false (pandas default): the gap decays every
        // accumulator without adding an observation; emit the
        // carried value
        num *= (1.0 - a); den *= (1.0 - a)
        num2 *= (1.0 - a); den2 *= (1.0 - a) * (1.0 - a)
        prevOw *= (1.0 - a)
        if (statMean && adjust) {
          if (gtZeroSql(den)) num / den else null
        } else if (statMean) {
          if (hasPrev) prev else null
        } else varEmit(num, den, num2, den2, bias, statStd)
      }
      else if (statMean && adjust) {
        num = (1.0 - a) * num + x
        den = (1.0 - a) * den + 1.0
        num / den
      } else if (statMean && ignoreNa) {
        // boolean init flag, NOT a NaN sentinel: a NaN data value
        // must poison the recurrence
        prev = if (!hasPrev) x else (1.0 - a) * prev + a * x
        hasPrev = true
        prev
      } else if (statMean) {
        // pandas old_wt recursion (new_wt = alpha)
        if (!hasPrev) { prev = x; prevOw = 1.0 }
        else {
          val ow = (1.0 - a) * prevOw
          prev = (ow * prev + a * x) / (ow + a)
          prevOw = 1.0
        }
        hasPrev = true
        prev
      } else {
        num = (1.0 - a) * num + x
        den = (1.0 - a) * den + 1.0
        num2 = (1.0 - a) * num2 + x * x
        den2 = (1.0 - a) * (1.0 - a) * den2 + 1.0
        varEmit(num, den, num2, den2, bias, statStd)
      }
  }

  /** Per-point PAIRWISE EWM state machine — cov/corr sibling of
    * [[EwmMachine]] with the seven accumulators of [[ewmCov]]
    * (Σw, Σw², Σwx, Σwy, Σwxy, Σwx², Σwy²), behind [[ewmCov]],
    * [[ewmCovScalable]] and the streaming ewmCovStream. */
  private[graft] final class EwmPairMachine(a: Double, bias: Boolean,
      corr: Boolean, ignoreNa: Boolean) extends Serializable {
    require(a > 0 && a < 1, "alpha in (0,1)")
    var den = 0.0; var den2 = 0.0
    var sx = 0.0; var sy = 0.0; var sxy = 0.0
    var sxx = 0.0; var syy = 0.0
    def restore(d: Double, d2: Double, x1: Double, y1: Double,
        xy: Double, xx: Double, yy: Double): Unit = {
      den = d; den2 = d2; sx = x1; sy = y1
      sxy = xy; sxx = xx; syy = yy
    }
    private def emit(corrOut: Boolean): Any =
      pairEmit(den, den2, sx, sy, sxy, sxx, syy, bias, corrOut)
    /** Advance the accumulators on one point without emitting. */
    private def advance(incomplete: Boolean, x: Double,
        y: Double): Unit =
      if (incomplete) {
        // pairwise-incomplete row under ignore_na=false: decay every
        // accumulator (den2 by (1-α)²) without adding, emit carried
        den *= (1.0 - a); den2 *= (1.0 - a) * (1.0 - a)
        sx *= (1.0 - a); sy *= (1.0 - a); sxy *= (1.0 - a)
        sxx *= (1.0 - a); syy *= (1.0 - a)
      } else {
        den = (1.0 - a) * den + 1.0
        den2 = (1.0 - a) * (1.0 - a) * den2 + 1.0
        sx = (1.0 - a) * sx + x
        sy = (1.0 - a) * sy + y
        sxy = (1.0 - a) * sxy + x * y
        sxx = (1.0 - a) * sxx + x * x
        syy = (1.0 - a) * syy + y * y
      }
    /** Advance on one point; `incomplete` = either side missing. */
    def step(incomplete: Boolean, x: Double, y: Double): Any =
      if (incomplete && ignoreNa) null
      else { advance(incomplete, x, y); emit(corr) }
    /** Advance ONCE, emit BOTH the cov (per `bias`) and the corr —
      * the two statistics share all seven accumulators, so a caller
      * needing both pays one pass instead of two. */
    def stepBoth(incomplete: Boolean, x: Double,
        y: Double): (Any, Any) =
      if (incomplete && ignoreNa) (null, null)
      else {
        advance(incomplete, x, y)
        (emit(corrOut = false), emit(corrOut = true))
      }
  }

  /** Per-point TIME-DECAYED EWM state machine — the halflife-over-
    * times analogue of [[EwmMachine]]: the decay factor is
    * 0.5^(Δt/halflife) per point instead of a constant (1−α), with
    * den2 decaying by its square. Behind [[ewmMeanTime]],
    * [[ewmVarTime]], [[ewmTimeScalable]] and the streaming
    * ewmTimeStream. */
  private[graft] final class EwmTimeMachine(halflife: Double,
      stat: String, bias: Boolean) extends Serializable {
    require(halflife > 0, "halflife > 0")
    require(Seq("mean", "var", "std").contains(stat), s"stat=$stat")
    private val statMean = stat == "mean"
    private val statStd = stat == "std"
    var num = 0.0; var den = 0.0; var num2 = 0.0; var den2 = 0.0
    var pt = 0.0; var hasPt = false
    def restore(n: Double, d: Double, n2: Double, d2: Double,
        t: Double, hp: Boolean): Unit = {
      num = n; den = d; num2 = n2; den2 = d2; pt = t; hasPt = hp
    }
    /** Advance on one VALID point (value and time present) and return
      * the emitted statistic, or null. StrictMath.pow, NOT Math.pow:
      * Spark's Pow expression (and so the DuckDB-checked gates'
      * power()) evaluates java.lang.StrictMath.pow, and the two differ
      * by 1 ulp on some inputs. */
    def step(t: Double, x: Double): Any = {
      val dec =
        if (!hasPt) 1.0
        else java.lang.StrictMath.pow(0.5, (t - pt) / halflife)
      num = dec * num + x
      den = dec * den + 1.0
      num2 = dec * num2 + x * x
      den2 = dec * dec * den2 + 1.0
      pt = t; hasPt = true
      if (statMean) num / den
      else varEmit(num, den, num2, den2, bias, statStd)
    }
  }

  /** Per-point TIME-DECAYED PAIRWISE EWM state machine — the
    * cov/corr member of the time family, behind [[ewmCovTime]],
    * [[ewmCovTimeScalable]] and the streaming ewmCovTimeStream
    * (StrictMath.pow: see [[EwmTimeMachine]]). */
  private[graft] final class EwmTimePairMachine(halflife: Double,
      bias: Boolean, corr: Boolean) extends Serializable {
    require(halflife > 0, "halflife > 0")
    var den = 0.0; var den2 = 0.0
    var sx = 0.0; var sy = 0.0; var sxy = 0.0
    var sxx = 0.0; var syy = 0.0
    var pt = 0.0; var hasPt = false
    def restore(d: Double, d2: Double, x1: Double, y1: Double,
        xy: Double, xx: Double, yy: Double, t: Double,
        hp: Boolean): Unit = {
      den = d; den2 = d2; sx = x1; sy = y1
      sxy = xy; sxx = xx; syy = yy; pt = t; hasPt = hp
    }
    /** Advance on one COMPLETE point (x, y, t present) and return the
      * emitted statistic, or null. */
    def step(t: Double, x: Double, y: Double): Any = {
      val dec =
        if (!hasPt) 1.0
        else java.lang.StrictMath.pow(0.5, (t - pt) / halflife)
      den = dec * den + 1.0
      den2 = dec * dec * den2 + 1.0
      sx = dec * sx + x
      sy = dec * sy + y
      sxy = dec * sxy + x * y
      sxx = dec * sxx + x * x
      syy = dec * syy + y * y
      pt = t; hasPt = true
      pairEmit(den, den2, sx, sy, sxy, sxx, syy, bias, corr)
    }
  }
}
