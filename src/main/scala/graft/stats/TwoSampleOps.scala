package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.LocalStrategy

/** Two-sample distribution comparisons (reference src/stats — the
  * hypothesis-test family): Kolmogorov-Smirnov, Jensen-Shannon
  * divergence, Cliff's delta effect size, Hodges-Lehmann shift.
  *
  * Scale design mirrors [[StatsOps]]: everything reduces the data to
  * a DISTINCT-VALUE counts table first (one hash aggregate over the
  * full data), and all order statistics run on that bounded table via
  * the range-bucketed cumulative counts of
  * [[StatsOps.distinctValueCumCounts]] — no global single-partition
  * window over raw rows. For continuous doubles at 100 TB, quantize
  * the value column first (e.g. cents, or qcutApprox bins); the tests
  * are rank/ECDF-based so quantization is the standard practice. */
object TwoSampleOps {

  /** Two-sample Kolmogorov-Smirnov test: D = sup|F_a − F_b| over the
    * pooled distinct values, with the asymptotic two-sided p-value
    *   p = 2 Σ_{k≥1} (−1)^{k−1} exp(−2 k² n_e D²),  n_e = n_a·n_b/(n_a+n_b)
    * (Kolmogorov's series, truncated at 100 terms — pure column
    * arithmetic so an oracle engine reproduces it verbatim).
    * Returns one row (n_a, n_b, d, p_value). */
  def ksTwoSample(df: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    val pooled = df.filter(col(groupCol).isin(gA, gB) &&
      col(valueCol).isNotNull)
    val counts = pooled.groupBy(col(valueCol)).agg(
      sum(when(col(groupCol) === gA, 1L).otherwise(0L)).as("__ca__"),
      sum(when(col(groupCol) === gB, 1L).otherwise(0L)).as("__cb__"))
    val (cumA, cumB) = LocalStrategy.cached(counts) { counts =>
      (StatsOps.distinctValueCumCounts(counts, valueCol, "__ca__")
        .select(col(valueCol),
          (col("__below__") + col("__ca__")).as("__cuma__")),
        StatsOps.distinctValueCumCounts(counts, valueCol, "__cb__")
          .select(col(valueCol),
            (col("__below__") + col("__cb__")).as("__cumb__")))
    }
    val tot = counts.agg(
      sum(col("__ca__")).cast("double").as("na"),
      sum(col("__cb__")).cast("double").as("nb"))
    val d = cumA.join(cumB, Seq(valueCol))
      .crossJoin(broadcast(tot))
      .agg(max(abs(col("__cuma__") / col("na") -
        col("__cumb__") / col("nb"))).as("d"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
    val ne = col("na") * col("nb") / (col("na") + col("nb"))
    val series = (1 to 100).map { k =>
      lit(if (k % 2 == 1) 2.0 else -2.0) *
        exp(lit(-2.0 * k * k) * ne * col("d") * col("d"))
    }.reduce(_ + _)
    // the truncated alternating series oscillates to 0 at D=0 where
    // the true limit is 1 — guard exactly (oracle mirrors the CASE)
    d.select(col("na").cast("long").as("n_a"),
      col("nb").cast("long").as("n_b"),
      round(col("d"), 6).as("d"),
      round(when(col("d") === 0, 1.0)
        .otherwise(least(lit(1.0), greatest(lit(0.0), series))), 6)
        .as("p_value"))
  }

  /** Jensen-Shannon divergence (natural log, in [0, ln 2]) between
    * the `catCol` distributions of two cohorts, plus the metric
    * sqrt(JSD). Zero-probability categories contribute 0 to their
    * side. One hash aggregate over the data. */
  /** TOST equivalence test (Schuirmann 1987) on the mean difference
    * of two groups with a large-sample Welch z: the A/B question
    * "are these the SAME within ±margin" that a significance test
    * cannot answer. z_lo = (d+δ)/se tests H0: d ≤ −δ, z_hi =
    * (d−δ)/se tests H0: d ≥ +δ; p_tost = max of the two one-sided
    * normal p's — equivalence is declared when p_tost < α. One
    * grouping-free conditional-sum aggregate on exact integer input
    * (the diffInDiffMeans shape); Welch se from per-group
    * s²/n with s² = (Σy² − s²/n)/(n−1) on exact sums. */
  def tostEquivalence(df: DataFrame, valueCol: String,
      groupCol: String, groupA: String, groupB: String,
      margin: Double): DataFrame = {
    require(margin > 0, "margin > 0")
    val base = df.filter(col(valueCol).isNotNull &&
        col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).cast("long").as("y"),
        (col(groupCol) === groupA).as("isa"))
    def c(a: Boolean, e: Column) = sum(when(col("isa") === a, e))
    val agg0 = base.agg(
      c(true, col("y")).as("sa"), c(true, lit(1L)).as("na"),
      c(true, col("y") * col("y")).as("qa"),
      c(false, col("y")).as("sb"), c(false, lit(1L)).as("nb"),
      c(false, col("y") * col("y")).as("qb"))
    def varOf(s: String, q: String, n: String) =
      (col(q).cast("double") -
        col(s).cast("double") * col(s).cast("double") / col(n)) /
        (col(n) - lit(1.0))
    val d = col("sa").cast("double") / col("na") -
      col("sb").cast("double") / col("nb")
    val se = sqrt(varOf("sa", "qa", "na") / col("na") +
      varOf("sb", "qb", "nb") / col("nb"))
    agg0.select(d.as("d"), se.as("se"))
      .select(round(col("d"), 6).as("mean_diff"),
        round(col("se"), 6).as("se"),
        round((col("d") + lit(margin)) / col("se"), 6).as("z_lower"),
        round((col("d") - lit(margin)) / col("se"), 6).as("z_upper"),
        round(greatest(
          lit(1.0) - Distributions.normalCdfCol(
            (col("d") + lit(margin)) / col("se")),
          Distributions.normalCdfCol(
            (col("d") - lit(margin)) / col("se"))), 6).as("p_tost"))
  }

  def jensenShannon(df: DataFrame, catCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    val pooled = df.filter(col(groupCol).isin(gA, gB) &&
      col(catCol).isNotNull)
    val counts = pooled.groupBy(col(catCol)).agg(
      sum(when(col(groupCol) === gA, 1L).otherwise(0L)).as("__ca__"),
      sum(when(col(groupCol) === gB, 1L).otherwise(0L)).as("__cb__"))
    val tot = counts.agg(
      sum(col("__ca__")).cast("double").as("na"),
      sum(col("__cb__")).cast("double").as("nb"))
    val p = col("__ca__") / col("na")
    val q = col("__cb__") / col("nb")
    val m = (p + q) / 2
    val contrib =
      when(col("__ca__") > 0, p * log(p / m) / 2).otherwise(0.0) +
        when(col("__cb__") > 0, q * log(q / m) / 2).otherwise(0.0)
    counts.crossJoin(broadcast(tot))
      .agg(sum(contrib).as("__jsd__"))
      .select(round(col("__jsd__"), 6).as("jsd"),
        round(sqrt(greatest(col("__jsd__"), lit(0.0))), 6)
          .as("jsd_distance"))
  }

  /** Two-sample Cramér-von Mises criterion (Anderson 1962):
    *   U = n_a Σ_i (r_i − i)² + n_b Σ_j (s_j − j)²,
    *   T = U/(n_a n_b N) − (4 n_a n_b − 1)/(6N)
    * with midranks, plus the standardized z from the exact mean
    * (1 + 1/N)/6 and Anderson's variance.
    *
    * Exactness at scale: each group's Σ(r−i)² is accumulated ×4 in
    * LONG (doubled ranks make midranks integral; the per-distinct-
    * value run sums collapse to a closed form in integer arithmetic),
    * so the reduction is order-independent — no double accumulation
    * over raw rows. */
  def cramerVonMises(df: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    val pooled = df.filter(col(groupCol).isin(gA, gB) &&
      col(valueCol).isNotNull)
    val counts = pooled.groupBy(col(valueCol)).agg(
      sum(when(col(groupCol) === gA, 1L).otherwise(0L)).as("__ca__"),
      sum(when(col(groupCol) === gB, 1L).otherwise(0L)).as("__cb__"))
    val (belowA, belowB) = LocalStrategy.cached(counts) { counts =>
      (StatsOps.distinctValueCumCounts(counts, valueCol, "__ca__")
        .select(col(valueCol), col("__ca__"), col("__below__").as("__ba__")),
        StatsOps.distinctValueCumCounts(counts, valueCol, "__cb__")
          .select(col(valueCol), col("__cb__"),
            col("__below__").as("__bb__")))
    }
    // doubled overall midrank R = 2·below_tot + c_tot + 1 (integral);
    // Σ_{k=1..c}(R − 2·below_g − 2k)² = 4·Σ(r − i)² for the group —
    // closed form c·A² − 2A·c(c+1) + 2c(c+1)(2c+1)/3, all LONG ops
    def runSum(a2: Column, c: Column): Column =
      c * a2 * a2 - lit(2L) * a2 * c * (c + 1L) +
        ((lit(2L) * c * (c + 1L) * (lit(2L) * c + 1L)) / 3L)
          .cast("long")
    val joined = belowA.join(belowB, Seq(valueCol))
    val r2 = lit(2L) * (col("__ba__") + col("__bb__")) +
      col("__ca__") + col("__cb__") + 1L
    val sums = joined.agg(
      sum(col("__ca__")).cast("double").as("na"),
      sum(col("__cb__")).cast("double").as("nb"),
      sum(when(col("__ca__") > 0,
        runSum(r2 - lit(2L) * col("__ba__"), col("__ca__")))
        .otherwise(0L)).as("sa4"),
      sum(when(col("__cb__") > 0,
        runSum(r2 - lit(2L) * col("__bb__"), col("__cb__")))
        .otherwise(0L)).as("sb4"))
    val nn = col("na") + col("nb")
    val u = (col("na") * col("sa4").cast("double") +
      col("nb") * col("sb4").cast("double")) / 4.0
    val tStat = u / (col("na") * col("nb") * nn) -
      (lit(4.0) * col("na") * col("nb") - 1) / (lit(6.0) * nn)
    val meanT = (lit(1.0) + lit(1.0) / nn) / 6.0
    val varT = (nn + 1) / (lit(45.0) * nn * nn) *
      (lit(4.0) * col("na") * col("nb") * nn -
        lit(3.0) * (col("na") * col("na") + col("nb") * col("nb")) -
        lit(2.0) * col("na") * col("nb")) /
      (lit(4.0) * col("na") * col("nb"))
    sums.select(col("na").cast("long").as("n_a"),
      col("nb").cast("long").as("n_b"),
      round(tStat, 6).as("t_stat"),
      round((tStat - meanT) / sqrt(varT), 6).as("z"))
  }

  /** Cliff's delta ordinal effect size between two groups:
    * δ = (#(a>b) − #(a<b)) / (n_a n_b) = 2U_a/(n_a n_b) − 1 with the
    * tie-midrank U from [[StatsOps.mannWhitneyU]], plus the Romano
    * et al. magnitude label. One row
    * (n_a, n_b, u_a, delta, magnitude). */
  def cliffsDelta(df: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    val u = StatsOps.mannWhitneyU(df, valueCol, groupCol, gA, gB)
    val a = u.filter(col(groupCol) === gA)
      .select(col("n").as("n_a"), col("u").as("u_a"))
    val b = u.filter(col(groupCol) === gB).select(col("n").as("n_b"))
    val delta = lit(2.0) * col("u_a") /
      (col("n_a").cast("double") * col("n_b").cast("double")) - 1.0
    val mag = when(abs(col("delta")) < 0.147, "negligible")
      .when(abs(col("delta")) < 0.33, "small")
      .when(abs(col("delta")) < 0.474, "medium")
      .otherwise("large")
    a.crossJoin(b)
      .withColumn("delta", round(delta, 6))
      .select(col("n_a"), col("n_b"), col("u_a"),
        col("delta"), mag.as("magnitude"))
  }

  /** Hodges-Lehmann location shift between two groups: the median of
    * all pairwise differences a − b (even pair-count → mean of the
    * two middle order statistics, matching quantile_cont(0.5)).
    *
    * Runs on the distinct-value counts of each side — the pair table
    * is d_a·d_b WEIGHTED rows, never n_a·n_b raw rows; at 100 TB
    * quantize/bin the value column so d_a·d_b stays bounded. Returns
    * one row (n_pairs, median_diff). */
  def hodgesLehmannShift(df: DataFrame, valueCol: String,
      groupCol: String, gA: String, gB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pooled = df.filter(col(groupCol).isin(gA, gB) &&
      col(valueCol).isNotNull)
    val a = pooled.filter(col(groupCol) === gA)
      .groupBy(col(valueCol).as("__va__"))
      .agg(count(lit(1)).as("__wa__"))
    val b = pooled.filter(col(groupCol) === gB)
      .groupBy(col(valueCol).as("__vb__"))
      .agg(count(lit(1)).as("__wb__"))
    val diffs = a.crossJoin(b)
      .groupBy((col("__va__") - col("__vb__")).as("__d__"))
      .agg(sum(col("__wa__") * col("__wb__")).as("__w__"))
    // weighted exact median over the bounded distinct-diff table: a
    // diff covers positions (cum−w, cum]; the median is the mean of
    // the diffs covering positions ⌊(W+1)/2⌋ and ⌈(W+1)/2⌉
    val w = Window.orderBy(col("__d__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = diffs.withColumn("__cum__", sum(col("__w__")).over(w))
    val totals = cum.agg(max(col("__cum__")).as("W"))
    val p1 = floor((col("W") + 1) / 2)
    val p2 = ceil((col("W") + lit(1.0)) / lit(2.0))
    cum.crossJoin(broadcast(totals))
      .agg(first(col("W")).as("n_pairs"),
        ((sum(when(col("__cum__") - col("__w__") < p1 &&
            p1 <= col("__cum__"), col("__d__"))) +
          sum(when(col("__cum__") - col("__w__") < p2 &&
            p2 <= col("__cum__"), col("__d__")))) / 2.0)
          .as("median_diff"))
  }
}
