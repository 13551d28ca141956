package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Split-conformal prediction (Vovk et al. 2005; Lei et al. 2018,
  * JASA): distribution-free prediction intervals around ANY point
  * predictor. Rows are tagged calibration/test; the per-key
  * calibration score is the r-th smallest absolute residual with
  *   r = ceil((n_cal + 1) · (1 − α))
  * — the finite-sample-valid quantile — and every test row is covered
  * iff its |y − ŷ| ≤ q̂. Marginal coverage ≥ 1 − α holds by
  * exchangeability alone, no model or distribution assumption: this
  * is the uncertainty layer for the forecaster family (Holt/SARIMA
  * backtests q354/q320) and any regression output. The reference has
  * point forecasts with normal-theory bands
  * (`/root/reference/src/time_series/forecasting.rs`) but no
  * distribution-free interval machinery.
  *
  * α is taken as an exact rational `alphaNum/alphaDen` so the rank is
  * pure integer arithmetic — `ceil((n+1)(1−α))` through doubles turns
  * 90 into 91 when (1−α)·(n+1) lands on an unrepresentable 90.0...014,
  * and the off-by-one silently changes q̂. With integers both engines
  * (and the statistics) agree exactly.
  *
  * Scale shape: one filter + per-key window over CALIBRATION rows
  * only (partitioned by key — never global), one count aggregate, one
  * hash join of the per-key q̂ back to test rows, one per-key
  * aggregate. No driver collect; keys are independent.
  */
object Conformal {

  /** Per-key conformal quantile q̂ from the calibration rows:
    * (keys..., n_cal, rank, qhat). `qhat` is null when
    * rank > n_cal (too few calibration rows for the requested α). */
  def conformalQhat(df: DataFrame, keyCols: Seq[String], yCol: String,
      yhatCol: String, calCol: String,
      alphaNum: Int, alphaDen: Int): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"alpha must be in (0,1): $alphaNum/$alphaDen")
    val key = keyCols.map(col)
    val cal = df.filter(col(calCol))
      .withColumn("__r__", absResid(yCol, yhatCol))
    val w = Window.partitionBy(key: _*).orderBy(col("__r__"))
    val nCal = cal.groupBy(key: _*).agg(count(lit(1)).as("n_cal"))
      // rank = ceil((n+1)(den−num)/den) in exact integer arithmetic;
      // the double division is of exact <2^53 integers so floor is safe
      .withColumn("rank", floor(
        ((col("n_cal") + 1) * lit((alphaDen - alphaNum).toLong) +
          lit((alphaDen - 1).toLong)) / lit(alphaDen.toDouble))
        .cast("long"))
    val sel = cal.withColumn("__rk__", row_number().over(w))
      .join(nCal, keyCols)
      .filter(col("__rk__") === col("rank"))
      .select(key :+ col("__r__").as("qhat"): _*)
    // keys whose calibration set is smaller than the rank keep a row
    // with null qhat (vs silently vanishing)
    nCal.join(sel, keyCols, "left")
      .select(key ++ Seq(col("n_cal"), col("rank"), col("qhat")): _*)
  }

  /** Per-key summary of a full split-conformal run: calibration size,
    * rank, q̂, and the empirical coverage of [ŷ ± q̂] on the test
    * rows. Keys whose calibration set is too small for the rank carry
    * null qhat/coverage; keys with no test rows report n_test = 0. */
  def splitConformal(df0: DataFrame, keyCols: Seq[String], yCol: String,
      yhatCol: String, calCol: String,
      alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    val qhat = conformalQhat(df0, keyCols, yCol, yhatCol, calCol,
      alphaNum, alphaDen)
    df0.filter(!col(calCol))
      .withColumn("__r__", absResid(yCol, yhatCol))
      .join(qhat, keyCols, "right")
      .groupBy(keyCols.map(col): _*)
      .agg(first(col("n_cal")).as("n_cal"),
        first(col("rank")).as("rank"),
        first(col("qhat")).as("qhat"),
        count(col("__r__")).as("n_test"),
        // null qhat -> null coverage (not a spurious 0)
        sum(when(col("__r__") <= col("qhat"), 1L)
          .otherwise(when(col("qhat").isNotNull, 0L)))
          .as("n_covered"))
      .withColumn("coverage", when(col("n_test") > 0,
        col("n_covered").cast("double") / col("n_test")))
  }

  /** Row-level intervals: every non-calibration row of `df` with
    * `lo`/`hi` bounds ŷ ± q̂ attached (null when the key's q̂ is). */
  def conformalIntervals(df: DataFrame, keyCols: Seq[String],
      yCol: String, yhatCol: String, calCol: String,
      alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    val qhat = conformalQhat(df, keyCols, yCol, yhatCol, calCol,
      alphaNum, alphaDen).select(
      (keyCols.map(col) :+ col("qhat")): _*)
    df.filter(!col(calCol)).join(qhat, keyCols, "left")
      .withColumn("lo", col(yhatCol).cast("double") - col("qhat"))
      .withColumn("hi", col(yhatCol).cast("double") + col("qhat"))
      .drop("qhat")
  }

  private def absResid(yCol: String, yhatCol: String): Column =
    abs(col(yCol).cast("double") - col(yhatCol).cast("double"))

  /** Adaptive conformal radius tracking (the online companion to
    * [[splitConformal]], after Gibbs & Candès 2021): per key, walk
    * the series in `orderCol` order and update the interval radius
    *   q_{t+1} = q_t + γ·(miss_t − α),  miss_t = 1{|y_t − ŷ_t| > q_t}
    * so the long-run miss rate is driven to α even under
    * distribution shift — no exchangeability assumption, O(1) state.
    * Emits per key the final radius, the realized miss rate and n.
    * One grouped sorted fold (the EWM/Holt shape); a recursive CTE
    * replays it bit-for-bit. `q0` seeds the radius. */
  def adaptiveConformal(df: DataFrame, keyCols: Seq[String],
      yCol: String, yhatCol: String, orderCol: String,
      alpha: Double, gamma: Double, q0: Double = 0.0): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1): $alpha")
    require(gamma > 0, s"gamma must be > 0: $gamma")
    val grouped = df
      .filter(col(yCol).isNotNull && col(yhatCol).isNotNull)
      .withColumn("__r__", absResid(yCol, yhatCol))
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
        col("__r__").as("r")))).as("__pts__"))
    val fold = expr(
      s"""aggregate(__pts__,
         |  struct(cast($q0 as double) as q, cast(0 as int) as miss,
         |         cast(0 as int) as i),
         |  (acc, pt) -> struct(
         |    cast(acc.q + $gamma *
         |      ((CASE WHEN pt.r > acc.q THEN 1.0d ELSE 0.0d END)
         |        - $alpha) as double) as q,
         |    cast(acc.miss + (CASE WHEN pt.r > acc.q THEN 1
         |      ELSE 0 END) as int) as miss,
         |    cast(acc.i + 1 as int) as i))""".stripMargin)
    grouped.withColumn("__st__", fold)
      .select(keyCols.map(col) ++ Seq(
        col("__st__.i").cast("long").as("n"),
        col("__st__.miss").cast("long").as("n_miss"),
        (col("__st__.miss").cast("double") / col("__st__.i"))
          .as("miss_rate"),
        col("__st__.q").as("q_final")): _*)
  }
}
