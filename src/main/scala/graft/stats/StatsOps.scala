package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.LocalStrategy

/** Statistics layer (reference src/stats/mod.rs:157-533,
  * src/optimized/split_dataframe/stats.rs): descriptive stats and
  * test statistics computed as Spark aggregations; only the final
  * closed-form arithmetic happens on the (tiny) aggregate row.
  * Nothing here collects row-level data.
  */
object StatsOps {

  // one-row finalizations: closed-form distribution CDFs applied to
  // the single aggregate row (never the row-level data), so a scalar
  // UDF here is a deliberate, cold-path choice. Degenerate inputs
  // (zero dof, NaN statistic from a 0/0) yield a NaN p-value instead
  // of aborting the job on the CDFs' domain checks.
  private val tPUdf = udf((t: Double, df: Double) =>
    if (df <= 0 || t.isNaN || df.isNaN) Double.NaN
    else Distributions.tTwoSidedP(t, df))
  private val chi2PUdf = udf((x: Double, df: Double) =>
    if (df <= 0 || x.isNaN || df.isNaN) Double.NaN
    else Distributions.chi2UpperP(x, df))
  private val fPUdf = udf((f: Double, d1: Double, d2: Double) =>
    if (d1 <= 0 || d2 <= 0 || f.isNaN || d1.isNaN || d2.isNaN) Double.NaN
    else Distributions.fUpperP(f, d1, d2))

  /** describe (stats.rs:50): count/mean/std/min/q1/median/q3/max per
    * numeric column, one aggregate pass + exact percentiles. */
  /** 2×2 difference-in-differences from ONE grouping-free aggregate
    * (8 conditional exact-integer sums — no shuffle beyond map-side
    * partials, the ideal 100 TB shape): effect = (m̄11−m̄10) −
    * (m̄01−m̄00), with the saturated-OLS large-sample inference
    * σ² = RSS/(n−4), SE = σ·sqrt(Σ 1/n_cell), z, two-sided normal
    * p (the Abramowitz–Stegun Φ both engines share). Pass an
    * integer-scaled y (cents) so cell sums are exact; RSS uses
    * Σy² − Σ s_c²/n_c on exact sums. */
  def diffInDiffMeans(df: DataFrame, yCol: String,
      treatedCol: String, postCol: String): DataFrame = {
    val base = df.filter(col(yCol).isNotNull &&
        col(treatedCol).isNotNull && col(postCol).isNotNull)
      .select(col(yCol).cast("long").as("y"),
        col(treatedCol).cast("boolean").as("t"),
        col(postCol).cast("boolean").as("p"))
    def cell(t: Boolean, p: Boolean, e: Column) =
      sum(when(col("t") === t && col("p") === p, e))
    val agg0 = base.agg(
      count(lit(1)).as("n"),
      sum(col("y") * col("y")).as("ssq"),
      cell(false, false, col("y")).as("s00"),
      cell(false, true, col("y")).as("s01"),
      cell(true, false, col("y")).as("s10"),
      cell(true, true, col("y")).as("s11"),
      cell(false, false, lit(1L)).as("n00"),
      cell(false, true, lit(1L)).as("n01"),
      cell(true, false, lit(1L)).as("n10"),
      cell(true, true, lit(1L)).as("n11"))
    def m(s: String, n: String) =
      col(s).cast("double") / col(n)
    def cellss(s: String, n: String) =
      col(s).cast("double") * col(s).cast("double") / col(n)
    val eff = (m("s11", "n11") - m("s10", "n10")) -
      (m("s01", "n01") - m("s00", "n00"))
    val rss = col("ssq").cast("double") -
      (cellss("s00", "n00") + cellss("s01", "n01") +
       cellss("s10", "n10") + cellss("s11", "n11"))
    val invN = lit(1.0) / col("n00") + lit(1.0) / col("n01") +
      lit(1.0) / col("n10") + lit(1.0) / col("n11")
    val withEff = agg0.select(col("n"),
      col("n00"), col("n01"), col("n10"), col("n11"),
      eff.as("eff"),
      sqrt(greatest(lit(0.0), rss / (col("n") - lit(4.0))) * invN)
        .as("se"))
    withEff.select(col("n").cast("long").as("n"),
      round(col("eff"), 6).as("did_effect"),
      round(col("se"), 6).as("se"),
      round(col("eff") / col("se"), 6).as("z"),
      round(lit(2.0) * (lit(1.0) -
        Distributions.normalCdfCol(abs(col("eff") / col("se")))), 6)
        .as("p_value"))
  }

  /** Deterministic two-sample PERMUTATION test for the difference in
    * means (Fisher randomization): R exact label permutations drawn
    * by ranking rows on md5(id, rep) — a uniform permutation per
    * rep, no RNG state, so ANY engine re-derives the identical
    * permutation set and the test is hash-reproducible (the
    * hashSample/md5-lottery idiom applied to resampling). Per rep,
    * the first n1 hash-ranked rows relabel as group 1; the rep
    * statistic is the relabeled mean difference; p = (1 + #{|d_r|
    * >= |d_obs|}) / (R + 1) (add-one, Phipson–Smyth 2010).
    *
    * Determinism contract: pass an INTEGER-scaled value column
    * (e.g. cents) — group sums are then exact, every d_r is the
    * same double in every engine, and the >= comparisons cannot
    * flip on summation-order ulps. Shape: explode ×R, one window
    * rank per rep partition, one (rep,label) aggregate — R·n
    * intermediate rows, for bounded analysis tables (sample first
    * at 100 TB; the test is inherently resampling-scale). `idCol`
    * must be row-unique. */
  def permutationTestMeanDiff(df: DataFrame, valueCol: String,
      groupCol: String, groupA: String, idCol: String,
      reps: Int = 199): DataFrame = {
    require(reps >= 1 && reps <= 10000, "reps in [1,10000]")
    val base = df.filter(col(valueCol).isNotNull &&
        col(groupCol).isNotNull)
      .select(col(idCol).cast("string").as("id"),
        col(valueCol).cast("long").as("v"),
        (col(groupCol) === groupA).as("isa"))
    val obs = base.agg(
      (sum(when(col("isa"), col("v"))).cast("double") /
        sum(when(col("isa"), 1L)) -
       sum(when(!col("isa"), col("v"))).cast("double") /
        sum(when(!col("isa"), 1L))).as("obs_diff"),
      sum(when(col("isa"), 1L)).as("n1"),
      count(lit(1)).as("n"))
    val reped = base.crossJoin(broadcast(obs))
      .select(col("id"), col("v"), col("n1"),
        explode(sequence(lit(1), lit(reps))).as("rep"))
      .withColumn("h", graft.llm.PipelineOps.hash48Unit(
        concat(col("id"), lit("#perm"), col("rep"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("rep").orderBy(col("h"), col("id"))
    val labeled = reped
      .withColumn("lab", row_number().over(w) <= col("n1"))
    val perRep = labeled.groupBy("rep")
      .agg((sum(when(col("lab"), col("v"))).cast("double") /
          sum(when(col("lab"), 1L)) -
        sum(when(!col("lab"), col("v"))).cast("double") /
          sum(when(!col("lab"), 1L))).as("d"))
    perRep.crossJoin(broadcast(obs))
      .agg(first(col("obs_diff")).as("od"),
        sum(when(abs(col("d")) >= abs(col("obs_diff")), 1L)
          .otherwise(0L)).as("n_ge"))
      .select(round(col("od"), 6).as("obs_diff"),
        col("n_ge").cast("long").as("n_ge"),
        round((col("n_ge") + lit(1.0)) / lit(reps + 1.0), 6)
          .as("p_value"))
  }

  /** Delete-one-GROUP jackknife for the global mean (Quenouille–
    * Tukey; the delete-a-partition form is how estimator variance is
    * assessed over sharded 100 TB data): pseudo-estimates θ_g =
    * mean over all rows except group g — computed from exact
    * integer totals minus per-group sums (one aggregate each, no
    * per-g rescans) — then SE² = (G−1)/G · Σ(θ_g − θ̄)². Integer-
    * scaled input keeps every θ_g engine-exact; only the final
    * moment sum carries ulps (round-absorbed). */
  def jackknifeMeanByGroup(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull &&
      col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
    val tot = base.agg(sum(col("v")).as("s_all"),
      count(lit(1)).as("n_all"))
    val per = base.groupBy("g")
      .agg(sum(col("v")).as("s_g"), count(lit(1)).as("n_g"))
      .crossJoin(broadcast(tot))
      .select(col("g"),
        ((col("s_all") - col("s_g")).cast("double") /
          (col("n_all") - col("n_g"))).as("theta_g"))
    val gstats = per.agg(count(lit(1)).as("gcount"),
      avg(col("theta_g")).as("theta_bar"),
      sum(col("theta_g") * col("theta_g")).as("ss"))
    gstats.select(col("gcount").cast("long").as("g_count"),
      round(col("theta_bar"), 6).as("theta_bar"),
      round(sqrt(greatest(lit(0.0),
        (col("gcount") - lit(1.0)) / col("gcount") *
        (col("ss") - col("gcount") * col("theta_bar") *
          col("theta_bar")))), 6).as("se_jack"))
  }

  /** Mergeable histogram-quantile sketch over EXPLICIT bounds: bin
    * counts of floor((x−lo)·bins/(hi−lo)) clamped into [0, bins−1]
    * — ONE hash aggregate, ≤ `bins` rows out, mergeable across
    * shards/days by summing counts (shared bounds make per-shard
    * histograms addable, the property GK/t-digest summaries lack
    * without custom merge code). Unlike approx_percentile this is a
    * pure deterministic function of the multiset, so a DuckDB
    * oracle replays it exactly. */
  def histogramBins(df: DataFrame, valueCol: String, bins: Int,
      lo: Double, hi: Double): DataFrame = {
    require(bins >= 1 && hi > lo, "need bins >= 1 and hi > lo")
    df.filter(col(valueCol).isNotNull)
      .select(least(lit(bins - 1), greatest(lit(0),
        floor((col(valueCol) - lit(lo)) * lit(bins.toDouble) /
          lit(hi - lo)).cast("int"))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates from a histogram sketch: two scans total
    * (min/max bounds, bin counts), then linear interpolation INSIDE
    * the containing bin from the ≤ `bins`-row cumulative table — the
    * way quantiles are read off 100 TB without a global sort. Each
    * requested q picks the unique bin with cum_before < q·N ≤ cum
    * (a ≤|qs|-row local relation joined against the bounded bin
    * table) and estimates lo + w·(bin + (q·N − cum_before)/cnt).
    * Error ≤ one bin width — tighten with `bins`, not passes. */
  def histogramQuantiles(df: DataFrame, valueCol: String,
      qs: Seq[Double], bins: Int = 64): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles in (0,1]")
    require(qs.size <= 32, "at most 32 quantiles per call")
    val spark = df.sparkSession
    import spark.implicits._
    val bounds = df.filter(col(valueCol).isNotNull)
      .agg(min(col(valueCol)).cast("double").as("lo"),
        max(col(valueCol)).cast("double").as("hi"),
        count(lit(1)).as("n"))
    val binned = df.filter(col(valueCol).isNotNull)
      .crossJoin(broadcast(bounds))
      .select(when(col("hi") === col("lo"), lit(0)).otherwise(
        least(lit(bins - 1), greatest(lit(0),
          floor((col(valueCol) - col("lo")) * lit(bins.toDouble) /
            (col("hi") - col("lo"))).cast("int")))).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    val cum = binned.withColumn("cum",
      sum("cnt").over(org.apache.spark.sql.expressions.Window
        .orderBy("bin").rowsBetween(Long.MinValue, 0)))
    qs.toDF("q").crossJoin(broadcast(bounds))
      .join(cum,
        col("cum") >= col("q") * col("n") &&
        col("cum") - col("cnt") < col("q") * col("n"))
      .select(col("q"),
        col("bin").cast("long").as("bin"),
        round(col("lo") + (col("hi") - col("lo")) / lit(bins.toDouble)
          * (col("bin") + (col("q") * col("n") -
             (col("cum") - col("cnt"))) / col("cnt")), 6)
          .as("quantile_est"))
  }

  def describeNum(df: DataFrame, c: String): DataFrame =
    df.agg(
      count(col(c)).as("count"),
      avg(col(c)).as("mean"),
      stddev_samp(col(c)).as("std"),
      min(col(c)).as("min"),
      percentile(col(c), lit(0.25)).as("q1"),
      percentile(col(c), lit(0.5)).as("median"),
      percentile(col(c), lit(0.75)).as("q3"),
      max(col(c)).as("max"))

  /** Pearson correlation + sample covariance (stats/mod.rs corr/cov)
    * — built-ins. */
  def corrCov(df: DataFrame, a: String, b: String): DataFrame =
    df.agg(corr(col(a), col(b)).as("corr"),
      covar_samp(col(a), col(b)).as("cov"))

  /** Pairwise Pearson correlation matrix in long form (stats/mod.rs
    * correlation_matrix): ONE aggregate pass collects n, Σx, Σx² and
    * every Σxy into a single row, then an explode reshapes to
    * (col_a, col_b, corr) — no per-pair jobs, no driver state. With
    * `exact` (default) sums are 128-bit-exact via 21-bit Long limbs
    * (see below) so integer-valued inputs (e.g. cents-scaled money)
    * are bit-reproducible across engines; `exact = false` sums plain
    * doubles — ~3× faster and off by at most a few ulps, the right
    * trade at 10¹²-row scale when nothing replays the sums. Columns
    * must be integer-typed — scale fractional data first (cents
    * pattern); for raw doubles use the per-pair `corrCov` built-in
    * instead. Rows with a null in ANY column are excluded (listwise
    * deletion, matching the reference's matrix semantics). */
  def corrMatrix(df0: DataFrame, cols: Seq[String],
      exact: Boolean = true): DataFrame = {
    val (one, recombine, nD) = pairMoments(df0, cols, exact, "corrMatrix")
    def corrExpr(a: String, b: String) = {
      val sx = recombine(s"s_$a")
      val sy = recombine(s"s_$b")
      val sxx = recombine(s"ss_$a")
      val syy = recombine(s"ss_$b")
      val sxy = recombine(s"sp_${a}_$b")
      round((nD * sxy - sx * sy) /
        (sqrt(nD * sxx - sx * sx) * sqrt(nD * syy - sy * sy)), 6)
    }
    val pairs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        corrExpr(a, b).as("corr"))
    }
    one.select(explode(array(pairs: _*)).as("p")).select(col("p.*"))
  }

  /** Pairwise sample-covariance matrix in long form — the same
    * one-pass exact-limb machinery as [[corrMatrix]], finalized as
    * cov = (n·Σxy − Σx·Σy) / (n·(n−1)) (round 6). Integer-typed
    * (cents-scaled) columns; listwise null deletion. */
  def covMatrix(df0: DataFrame, cols: Seq[String],
      exact: Boolean = true): DataFrame = {
    val (one, recombine, nD) = pairMoments(df0, cols, exact, "covMatrix")
    def covExpr(a: String, b: String) = {
      val sx = recombine(s"s_$a")
      val sy = recombine(s"s_$b")
      val sxy = recombine(s"sp_${a}_$b")
      round((nD * sxy - sx * sy) / (nD * (nD - lit(1.0))), 6)
    }
    val pairs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        covExpr(a, b).as("cov"))
    }
    one.select(explode(array(pairs: _*)).as("p")).select(col("p.*"))
  }

  /** Shared one-pass moment machinery: a single aggregate row with n,
    * every Σx, Σx², Σxy (exact 21-bit-limb Long sums when `exact`),
    * plus the recombiner and n-as-double. See [[corrMatrix]] doc for
    * the exactness analysis. */
  private def pairMoments(df0: DataFrame, cols: Seq[String],
      exact: Boolean, caller: String,
      pairsOpt: Option[Seq[(String, String)]] = None):
      (DataFrame, String => Column, Column) = {
    require(cols.size >= 2, s"$caller needs at least two columns")
    val pairList = pairsOpt.getOrElse(
      cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq)
    cols.foreach { c =>
      import org.apache.spark.sql.types._
      val ok = df0.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case d: DecimalType => d.scale == 0
        case _ => false
      }
      require(ok, s"$caller needs integer-typed columns; '$c' is " +
        s"${df0.schema(c).dataType.simpleString} — scale it to an " +
        "integer representation (e.g. cents) first")
    }
    val df = df0.na.drop(cols)
    // Exact integer sums WITHOUT Spark's decimal aggregate (the
    // BigDecimal path is ~4× slower than Long codegen): each product
    // a·b (must fit a signed Long — cents-scale inputs do by orders
    // of magnitude) is split into three 21-bit limbs summed as plain
    // Longs. Limb sums stay exact for ≤ 2^42 (~4·10^12) rows for ANY
    // Long-fitting products, and the one-row recombination below is
    // decimal — exact, so the result is bit-identical to a 128-bit
    // integer sum cast to double (what the DuckDB oracle computes).
    val B = 1L << 21
    def limbs(tag: String) = Seq(
      sum(shiftright(col(s"__p_$tag"), 42)).as(s"__h_$tag"),
      sum(shiftright(col(s"__p_$tag"), 21) -
        (shiftright(col(s"__p_$tag"), 42) * B)).as(s"__m_$tag"),
      sum(col(s"__p_$tag") - (shiftright(col(s"__p_$tag"), 21) * B))
        .as(s"__l_$tag"))
    def recombine(tag: String) =
      if (!exact) col(s"__d_$tag")
      else (col(s"__h_$tag").cast("decimal(38,0)") * lit(B * B) +
        col(s"__m_$tag").cast("decimal(38,0)") * lit(B) +
        col(s"__l_$tag").cast("decimal(38,0)")).cast("double")
    val lng = (c: String) =>
      col(c).cast(if (exact) "long" else "double")
    // products projected ONCE, then limb-summed as plain column refs
    // (keeps each product a single codegen'd multiply, not one per limb)
    val prods =
      cols.map(c => (s"s_$c", lng(c))) ++
        cols.map(c => (s"ss_$c", lng(c) * lng(c))) ++
        pairList.map { case (a, b) => (s"sp_${a}_$b", lng(a) * lng(b)) }
    val projected = df.select(
      prods.map { case (tag, e) => e.as(s"__p_$tag") }: _*)
    val sumExprs = Seq(count(lit(1)).as("__n__")) ++
      (if (exact) prods.flatMap { case (tag, _) => limbs(tag) }
       else prods.map { case (tag, _) =>
         sum(col(s"__p_$tag")).as(s"__d_$tag") })
    val one = projected.agg(sumExprs.head, sumExprs.tail: _*)
    val nD = col("__n__").cast("double")
    (one, recombine, nD)
  }

  /** Welch two-sample t-test (stats/mod.rs ttest): group stats in one
    * aggregate, t statistic + Welch df by closed form. */
  def ttestWelch(df: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    val v = col(valueCol)
    val stats = df.filter(col(groupCol).isin(gA, gB))
      .groupBy(groupCol)
      .agg(count(v).as("n"), avg(v).as("m"), var_samp(v).as("s2"))
    val a = stats.filter(col(groupCol) === gA).as("a")
    val b = stats.filter(col(groupCol) === gB).as("b")
    a.crossJoin(b).select(
      col("a.m").as("mean_a"), col("b.m").as("mean_b"),
      ((col("a.m") - col("b.m")) /
        sqrt(col("a.s2") / col("a.n") + col("b.s2") / col("b.n")))
        .as("t_stat"),
      (pow(col("a.s2") / col("a.n") + col("b.s2") / col("b.n"), 2) /
        (pow(col("a.s2") / col("a.n"), 2) / (col("a.n") - 1) +
         pow(col("b.s2") / col("b.n"), 2) / (col("b.n") - 1)))
        .as("welch_df"))
      .withColumn("p_value", tPUdf(col("t_stat"), col("welch_df")))
  }

  /** Chi-square independence test (stats/mod.rs chi_square_independence):
    * observed counts via pivot-free group, expected from margins,
    * χ² = Σ (O−E)²/E. All shuffles on the two categorical keys. */
  def chiSquare(df0: DataFrame, a: String, b: String): DataFrame = {
    // null categories are dropped (pandas crosstab semantics): a null
    // key can never join its own margin cell (SQL null ≠ null), which
    // would inflate the statistic
    val df = df0.filter(col(a).isNotNull && col(b).isNotNull)
    val obs = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("o"))
    val ma = df.groupBy(col(a)).agg(count(lit(1)).as("ra"))
    val mb = df.groupBy(col(b)).agg(count(lit(1)).as("rb"))
    val n = df.count()
    // full margin grid so empty observed cells still contribute (o−e)²/e;
    // margins multiplied in double (long*long would overflow at scale)
    ma.crossJoin(mb)
      .join(obs, Seq(a, b), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("e",
        col("ra").cast("double") * col("rb").cast("double") /
          lit(n.toDouble))
      .agg(sum(pow(col("o") - col("e"), 2) / col("e")).as("chi2"),
        ((countDistinct(a) - 1) * (countDistinct(b) - 1)).as("dof"))
      .withColumn("p_value",
        chi2PUdf(col("chi2"), col("dof").cast("double")))
  }

  /** Per-cell post-hoc residuals for the [[chiSquare]] contingency
    * table: standardized residual (O−E)/√E and Haberman's adjusted
    * residual (O−E)/√(E·(1−rowm/n)·(1−colm/n)) — which cells drive a
    * significant χ². Same two-key shuffles + margin grid as
    * chiSquare; |adj_res| > 2 flags the cell (the ~95% normal
    * criterion). */
  def chiSquareResiduals(df0: DataFrame, a: String,
      b: String): DataFrame = {
    val df = df0.filter(col(a).isNotNull && col(b).isNotNull)
    val obs = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("o"))
    val ma = df.groupBy(col(a)).agg(count(lit(1)).as("ra"))
    val mb = df.groupBy(col(b)).agg(count(lit(1)).as("rb"))
    val n = df.count().toDouble
    val e = col("ra").cast("double") * col("rb").cast("double") /
      lit(n)
    val stdRes = (col("o") - col("e")) / sqrt(col("e"))
    val adjRes = (col("o") - col("e")) /
      sqrt(col("e") * (lit(1.0) - col("ra").cast("double") / lit(n)) *
        (lit(1.0) - col("rb").cast("double") / lit(n)))
    ma.crossJoin(mb)
      .join(obs, Seq(a, b), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("e", e)
      .select(col(a), col(b), col("o"), round(col("e"), 6).as("e"),
        round(stdRes, 6).as("std_res"),
        round(adjRes, 6).as("adj_res"),
        (abs(adjRes) > 2.0).as("flagged"))
  }

  /** Standardized-mean-difference covariate balance table (the
    * causal-inference balance diagnostic; exceeds the reference's
    * stats stack): per covariate SMD = (m₁ − m₀)/√((v₁ + v₀)/2)
    * between two treatment groups, ONE aggregate of exact integral
    * sums for every covariate at once — no per-column scans.
    * |SMD| < 0.1 is the conventional balance criterion. */
  def smdBalance(df0: DataFrame, groupCol: String, treated: String,
      control: String, cols: Seq[String]): DataFrame = {
    val df = df0.filter(col(groupCol).isin(treated, control))
      .na.drop(cols)
    val isT = col(groupCol).cast("string") === treated
    def side(flag: Column, tag: String) = Seq(
      sum(when(flag, 1L).otherwise(0L)).as(s"n_$tag")) ++
      cols.flatMap(c => Seq(
        sum(when(flag, col(c)).otherwise(lit(0L))).cast("double")
          .as(s"s_${tag}_$c"),
        sum(when(flag, col(c) * col(c)).otherwise(lit(0L)))
          .cast("double").as(s"ss_${tag}_$c")))
    val aggs = side(isT, "t") ++ side(!isT, "c")
    val one = df.agg(aggs.head, aggs.tail: _*)
    def mv(tag: String, c: String) = {
      val nn = col(s"n_$tag").cast("double")
      val m = col(s"s_${tag}_$c") / nn
      val v = (col(s"ss_${tag}_$c") -
        col(s"s_${tag}_$c") * col(s"s_${tag}_$c") / nn) / (nn - 1)
      (m, v)
    }
    val rows = cols.map { c =>
      val (mt, vt) = mv("t", c)
      val (mc, vc) = mv("c", c)
      val smd = (mt - mc) / sqrt((vt + vc) / 2)
      struct(lit(c).as("covariate"), round(mt, 6).as("mean_treated"),
        round(mc, 6).as("mean_control"), round(smd, 6).as("smd"),
        (abs(smd) < 0.1).as("balanced"))
    }
    one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Chi-square goodness-of-fit (stats/mod.rs chi_square_test):
    * observed category counts vs expected probabilities (uniform over
    * the observed categories when `expected` is empty). One groupBy +
    * a tiny broadcast; df = k − 1.
    *
    * A non-empty `expected` map must cover every observed category and
    * sum to 1 — both are validated (against the already-aggregated,
    * tiny category counts) rather than letting a null expected
    * probability silently drop cells from the chi² sum. */
  def chiSquareGof(df0: DataFrame, c: String,
      expected: Map[String, Double] = Map.empty): DataFrame = {
    val df = df0.filter(col(c).isNotNull)
    val counts = df.groupBy(col(c)).agg(count(lit(1)).as("o"))
    if (expected.nonEmpty) {
      val s = expected.values.sum
      require(math.abs(s - 1.0) < 1e-9,
        s"chiSquareGof: expected probabilities must sum to 1, got $s")
      require(expected.values.forall(_ > 0.0),
        "chiSquareGof: expected probabilities must be positive")
      val missing = counts
        .filter(!col(c).cast("string").isin(expected.keys.toSeq: _*))
        .select(col(c).cast("string")).limit(5)
        .collect().map(_.getString(0))
      require(missing.isEmpty,
        "chiSquareGof: expected map is missing observed categories: " +
          missing.mkString(", "))
    }
    val tot = counts.agg(sum(col("o")).cast("double").as("n"),
      count(lit(1)).as("k"))
    val pExpr =
      if (expected.isEmpty) lit(1.0) / col("k")
      else element_at(
        map(expected.toSeq.flatMap { case (cat, p) =>
          Seq(lit(cat), lit(p)) }: _*), col(c).cast("string"))
    counts.crossJoin(broadcast(tot))
      .withColumn("e", pExpr * col("n"))
      .agg(sum(pow(col("o") - col("e"), 2) / col("e")).as("chi2"),
        (first(col("k")) - 1).as("dof"))
      .withColumn("p_value",
        chi2PUdf(col("chi2"), col("dof").cast("double")))
  }

  /** One-way ANOVA F statistic (stats/mod.rs anova,
    * categorical_anova): between/within sums of squares from per-group
    * sufficient sums — one aggregate pass. */
  def anovaOneWay(df0: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val df = df0.filter(v.isNotNull) // n must match the summed rows
    val g = df.groupBy(groupCol)
      .agg(count(lit(1)).cast("double").as("n"), sum(v).as("s1"),
        sum(v * v).as("s2"))
    g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(col("s1")).as("ts1"), sum(col("s2")).as("ts2"),
        sum(col("s1") * col("s1") / col("n")).as("sgm"))
      .select(
        ((col("sgm") - col("ts1") * col("ts1") / col("nn")) /
          (col("k") - 1)).as("ms_between"),
        ((col("ts2") - col("sgm")) / (col("nn") - col("k")))
          .as("ms_within"),
        (col("k") - 1).as("df_between"),
        (col("nn") - col("k")).cast("long").as("df_within"))
      .withColumn("f_stat", col("ms_between") / col("ms_within"))
      .withColumn("p_value", fPUdf(col("f_stat"),
        col("df_between").cast("double"), col("df_within").cast("double")))
  }

  /** ANOVA effect sizes from the same sufficient sums as
    * [[anovaOneWay]]: η² = SSB/SST (variance explained) and the
    * less-biased ω² = (SSB − (k−1)·MSW)/(SST + MSW). One hash
    * aggregate; integral inputs keep the sums exact. */
  def anovaEffectSizes(df0: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val df = df0.filter(col(valueCol).isNotNull &&
      col(groupCol).isNotNull)
    val g = df.groupBy(groupCol)
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col(valueCol)).cast("double").as("s1"),
        sum(col(valueCol) * col(valueCol)).cast("double").as("s2"))
    g.agg(count(lit(1)).cast("double").as("k"), sum(col("n")).as("nn"),
        sum(col("s1")).as("ts1"), sum(col("s2")).as("ts2"),
        sum(col("s1") * col("s1") / col("n")).as("sgm"))
      .select(col("k"), col("nn"),
        (col("sgm") - col("ts1") * col("ts1") / col("nn")).as("ssb"),
        (col("ts2") - col("ts1") * col("ts1") / col("nn")).as("sst"),
        (col("ts2") - col("sgm")).as("ssw"))
      .select(col("k").cast("long").as("k"),
        col("nn").cast("long").as("n"),
        round(col("ssb") / col("sst"), 6).as("eta2"),
        round((col("ssb") - (col("k") - 1) *
            (col("ssw") / (col("nn") - col("k")))) /
          (col("sst") + col("ssw") / (col("nn") - col("k"))), 6)
          .as("omega2"))
  }

  /** Beta-binomial Bayesian A/B test on conversion rates: posterior
    * Beta(α₀+s, β₀+n−s) per arm, posterior means, and P(B > A)
    * under the normal approximation of the posterior difference —
    * closed-form and engine-replayable (exact P(B>A) needs the
    * hypergeometric sum; the normal approx is standard at n ≫ 10).
    * ONE conditional-count aggregate over the data. */
  def bayesAb(df0: DataFrame, armCol: String, armA: String,
      armB: String, successCol: String, alpha0: Double = 1.0,
      beta0: Double = 1.0): DataFrame = {
    val df = df0.filter(col(armCol).isin(armA, armB) &&
      col(successCol).isNotNull)
    val isA = col(armCol).cast("string") === armA
    val succ = col(successCol).cast("boolean")
    val s = df.agg(
      sum(when(isA && succ, 1L).otherwise(0L)).cast("double").as("sa"),
      sum(when(isA, 1L).otherwise(0L)).cast("double").as("na"),
      sum(when(!isA && succ, 1L).otherwise(0L)).cast("double").as("sb"),
      sum(when(!isA, 1L).otherwise(0L)).cast("double").as("nb"))
    def post(sc: Column, n: Column) = {
      val a = lit(alpha0) + sc
      val b = lit(beta0) + (n - sc)
      val m = a / (a + b)
      val v = a * b / ((a + b) * (a + b) * (a + b + 1))
      (m, v)
    }
    val (ma, va) = post(col("sa"), col("na"))
    val (mb, vb) = post(col("sb"), col("nb"))
    val z = (mb - ma) / sqrt(va + vb)
    s.select(
      col("sa").cast("long").as("conv_a"), col("na").cast("long").as("n_a"),
      col("sb").cast("long").as("conv_b"), col("nb").cast("long").as("n_b"),
      round(ma, 6).as("post_mean_a"), round(mb, 6).as("post_mean_b"),
      round(mb - ma, 6).as("abs_lift"),
      round(Distributions.normalCdfCol(z), 6).as("prob_b_beats_a"))
  }

  /** Tukey HSD post-hoc after one-way ANOVA: for every group pair
    * the mean difference and the studentized-range statistic
    * q = |mᵢ − mⱼ| / √(MSW/2 · (1/nᵢ + 1/nⱼ)), with MSW from the same
    * within-group sums as [[anovaOneWay]]. Integral inputs (cents
    * pattern) keep the sufficient sums exact; the pair join runs over
    * the k-row group table. The studentized-range p-value has no
    * closed form — the statistic is the gated output (the chow-test
    * convention). */
  def tukeyHsd(df0: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val df = df0.filter(col(valueCol).isNotNull &&
      col(groupCol).isNotNull)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(dec(col(valueCol))).as("s1"),
        sum(dec(col(valueCol)) * dec(col(valueCol))).as("s2"))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum(col("s2")).as("ts2"),
      sum(col("s1").cast("double") * col("s1").cast("double") /
        col("n")).as("sgm"))
    val l = g.select(col(groupCol).cast("string").as("group_a"),
      col("n").as("na"), col("s1").as("sa"))
    val r = g.select(col(groupCol).cast("string").as("group_b"),
      col("n").as("nb"), col("s1").as("sb"))
    val pairs = l.join(r, col("group_a") < col("group_b"))
      .crossJoin(broadcast(tot))
    val msw = (col("ts2").cast("double") - col("sgm")) /
      (col("nn") - col("k"))
    val ma = col("sa").cast("double") / col("na")
    val mb = col("sb").cast("double") / col("nb")
    val se = sqrt(msw / 2 * (lit(1.0) / col("na") +
      lit(1.0) / col("nb")))
    pairs.select(col("group_a"), col("group_b"),
      round(ma - mb, 6).as("mean_diff"),
      round(abs(ma - mb) / se, 6).as("q_stat"))
  }

  /** Cronbach's alpha internal-consistency reliability over item
    * columns: α = k/(k−1) · (1 − Σᵢ varᵢ / var_total), sample
    * variances from one aggregate of exact integer sufficient sums
    * (integral items — the cents pattern). Rows with any null item
    * are excluded (complete-case, the standard convention). */
  def cronbachAlpha(df0: DataFrame,
      itemCols: Seq[String]): DataFrame = {
    val k = itemCols.size
    require(k >= 2, "cronbachAlpha needs >= 2 items")
    val df = df0.filter(itemCols.map(col(_).isNotNull).reduce(_ && _))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val t = itemCols.map(c => dec(col(c))).reduce(_ + _)
    val aggs = Seq(count(lit(1)).as("n"),
      sum(t).as("st"), sum(t * t).as("stt")) ++
      itemCols.zipWithIndex.flatMap { case (c, i) =>
        Seq(sum(dec(col(c))).as(s"sx$i"),
          sum(dec(col(c)) * dec(col(c))).as(s"sxx$i"))
      }
    val a = df.agg(aggs.head, aggs.tail: _*)
    val n = col("n").cast("double")
    def sVar(sx: Column, sxx: Column): Column =
      (sxx.cast("double") - sx.cast("double") * sx.cast("double") / n) /
        (n - 1)
    val sumVar = itemCols.indices
      .map(i => sVar(col(s"sx$i"), col(s"sxx$i"))).reduce(_ + _)
    val varTot = sVar(col("st"), col("stt"))
    a.select(col("n").cast("long").as("n"),
      lit(k.toLong).as("k"),
      round(lit(k.toDouble / (k - 1)) * (lit(1.0) - sumVar / varTot), 6)
        .as("alpha"))
  }

  /** Hellinger distance (and the Bhattacharyya coefficient) between
    * the categorical distributions of the two sides of a boolean
    * split: BC = Σ_c √(p_c·q_c), H = √(max(0, 1 − BC)). One bounded
    * groupBy; categories absent on one side contribute zero. */
  def hellinger(df0: DataFrame, catCol: String,
      sideCol: String): DataFrame = {
    val s = col(sideCol).cast("boolean")
    val df = df0.filter(col(catCol).isNotNull && s.isNotNull)
    val cells = df.groupBy(col(catCol))
      .agg(sum(when(s, 1L).otherwise(0L)).as("ca"),
        sum(when(s, 0L).otherwise(1L)).as("cb"))
    val tot = cells.agg(sum("ca").as("__na__"), sum("cb").as("__nb__"))
    cells.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_cats"),
        sum(sqrt((col("ca").cast("double") / col("__na__")) *
          (col("cb").cast("double") / col("__nb__")))).as("__bc__"))
      .select(col("n_cats"),
        round(col("__bc__"), 6).as("bc"),
        round(sqrt(greatest(lit(0.0), lit(1.0) - col("__bc__"))), 6)
          .as("hellinger"))
  }

  /** 1-D earth mover's (Wasserstein-1) distance between two groups'
    * distributions over an INTEGRAL (pre-binned) value column:
    * W₁ = Σᵢ |F_A(vᵢ) − F_B(vᵢ)|·(vᵢ₊₁ − vᵢ) over the sorted
    * distinct-bin table. The windows run over the bounded bin domain
    * (the PSI-class contract: bin continuous values first). */
  def emd1d(df0: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pooled = df0.filter(col(valueCol).isNotNull &&
      col(groupCol).isin(gA, gB))
    val cells = pooled.groupBy(col(valueCol).as("v"))
      .agg(sum(when(col(groupCol) === gA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === gB, 1L).otherwise(0L)).as("cb"))
    val tot = cells.agg(sum("ca").as("__na__"), sum("cb").as("__nb__"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.orderBy(col("v"))
    cells.crossJoin(broadcast(tot))
      .withColumn("__fa__",
        sum(col("ca")).over(w).cast("double") / col("__na__"))
      .withColumn("__fb__",
        sum(col("cb")).over(w).cast("double") / col("__nb__"))
      .withColumn("__gap__",
        (lead(col("v"), 1).over(wl) - col("v")).cast("double"))
      .filter(col("__gap__").isNotNull)
      .agg(round(sum(abs(col("__fa__") - col("__fb__")) *
        col("__gap__")), 6).as("emd"))
  }

  /** Krippendorff's alpha for NOMINAL data — the standard
    * inter-annotator agreement statistic for multi-rater labeling
    * with missing ratings (the annotation-QA half of a training-data
    * pipeline; exceeds the reference, whose agreement stats stop at
    * Cohen's kappa). Input: one row per (unit, rater, category)
    * rating; units with fewer than two ratings are dropped (they
    * carry no agreement information — Krippendorff 2011).
    *
    * Coincidence matrix o_{cc'} = Σ_units (ordered within-unit pairs
    * of c,c') / (m_u − 1); observed disagreement D_o =
    * Σ_{c≠c'} o_{cc'} / n; expected D_e = Σ_{c≠c'} n_c n_{c'} /
    * (n(n−1)); α = 1 − D_o/D_e (1.0 when D_e = 0 — a single
    * category everywhere is perfect agreement by convention).
    *
    * Scale shape: the only join is the within-unit rating self-join,
    * fan-out bounded by raters-per-unit (a panel, not data-scale);
    * everything else is two grouped aggregates over a
    * |categories|²-bounded table. One row out. */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
      raterCol: String, valueCol: String,
      metric: String = "nominal"): DataFrame = {
    require(Seq("nominal", "interval").contains(metric),
      s"metric=$metric (nominal or interval)")
    val nominal = metric == "nominal"
    val ratings = df
      .filter(col(unitCol).isNotNull && col(raterCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(unitCol).as("u"), col(raterCol).as("r"),
        (if (nominal) col(valueCol).cast("string")
         else col(valueCol).cast("double").cast("string")).as("c"))
    val mu = ratings.groupBy("u")
      .agg(count(lit(1)).as("mu")).filter(col("mu") >= 2)
    val rr = ratings.join(mu, Seq("u"))
    val o = rr.as("a").join(rr.as("b"),
        col("a.u") === col("b.u") && col("a.r") =!= col("b.r"))
      .select(col("a.c").as("c1"), col("b.c").as("c2"),
        (lit(1.0) / (col("a.mu") - 1).cast("double")).as("w"))
      .groupBy("c1", "c2").agg(sum("w").as("o"))
    // disagreement weight δ(c,c'): 0/1 for nominal, (c−c')² for
    // interval (Krippendorff's interval metric — categories must be
    // numeric)
    def delta(c1: Column, c2: Column): Column =
      if (nominal) when(c1 =!= c2, lit(1.0)).otherwise(lit(0.0))
      else {
        val d = c1.cast("double") - c2.cast("double")
        d * d
      }
    val nTot = o.agg(sum("o").as("n"))
    val nc = o.groupBy("c1").agg(sum("o").as("nc"))
    val dObs = o
      .agg(coalesce(sum(col("o") * delta(col("c1"), col("c2"))),
        lit(0.0)).as("dis"))
    // expected disagreement numerator Σ_{c,c'} n_c n_{c'} δ(c,c'):
    // nominal collapses to (Σn_c)² − Σn_c² (no cross-join);
    // interval expands to 2·(Σn_c)·(Σn_c v_c²)·... — use the
    // algebraic form Σ n_c n_c' (v_c − v_c')² =
    // 2·N·Σn_c v_c² − 2·(Σ n_c v_c)², three scalar aggregates
    val expAgg =
      if (nominal)
        nc.agg((coalesce(sum(col("nc")), lit(0.0)) *
          coalesce(sum(col("nc")), lit(0.0)) -
          coalesce(sum(col("nc") * col("nc")), lit(0.0))).as("exp"))
      else {
        val v = col("c1").cast("double")
        nc.agg((lit(2.0) * coalesce(sum(col("nc")), lit(0.0)) *
          coalesce(sum(col("nc") * v * v), lit(0.0)) -
          lit(2.0) * coalesce(sum(col("nc") * v), lit(0.0)) *
            coalesce(sum(col("nc") * v), lit(0.0))).as("exp"))
      }
    nTot.crossJoin(broadcast(dObs)).crossJoin(broadcast(expAgg))
      .select(col("n").cast("double").as("n_ratings"),
        round(col("dis") / col("n"), 6).as("d_o"),
        round(col("exp") / (col("n") * (col("n") - 1)), 6).as("d_e"),
        round(when(col("exp") === 0.0, lit(1.0))
          .otherwise(lit(1.0) - (col("dis") / col("n")) /
            (col("exp") / (col("n") * (col("n") - 1)))), 6)
          .as("alpha"))
  }

  /** Cramér's V association strength (stats/mod.rs cramers_v):
    * sqrt(χ²/(n·(k−1))). */
  def cramersV(df: DataFrame, a: String, b: String): DataFrame = {
    val n = df.count()
    chiSquare(df, a, b)
      .crossJoin(broadcast(df.agg(
        least(countDistinct(a), countDistinct(b)).as("kmin"))))
      .select(sqrt(col("chi2") / (lit(n.toDouble) * (col("kmin") - 1)))
        .as("cramers_v"))
  }

  /** Normalized mutual information of two categorical columns
    * (stats/mod.rs normalized_mutual_info): plug-in estimator from
    * joint/marginal counts, NMI = I(X;Y)/sqrt(H(X)H(Y)). */
  def normalizedMutualInfo(df: DataFrame, a: String, b: String): DataFrame = {
    val n = df.count().toDouble
    val joint = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("nxy"))
    val ma = df.groupBy(col(a)).agg(count(lit(1)).as("nx"))
    val mb = df.groupBy(col(b)).agg(count(lit(1)).as("ny"))
    val mi = joint.join(broadcast(ma), Seq(a)).join(broadcast(mb), Seq(b))
      .agg(sum((col("nxy") / n) *
        log((col("nxy") * n) / (col("nx") * col("ny")))).as("mi"))
    val hx = ma.agg((-sum((col("nx") / n) * log(col("nx") / n))).as("hx"))
    val hy = mb.agg((-sum((col("ny") / n) * log(col("ny") / n))).as("hy"))
    mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select((col("mi") / sqrt(col("hx") * col("hy"))).as("nmi"))
  }

  /** Paired t-test — one-sample t on the differences d = x − y:
    * t = d̄/(s_d/√n), dof = n−1, exact t-distribution p-value.
    * Companion to [[wilcoxonSignedRank]] for paired designs. */
  def pairedTTest(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val d = col(xCol).cast("double") - col(yCol).cast("double")
    val a = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(count(lit(1)).cast("double").as("n"),
        sum(d).as("s1"), sum(d * d).as("s2"))
    val m = col("s1") / col("n")
    val s2 = (col("s2") - col("s1") * col("s1") / col("n")) /
      (col("n") - 1)
    val tt = m / sqrt(s2 / col("n"))
    a.select(col("n").cast("long").as("n"),
      round(m, 6).as("mean_diff"), round(tt, 6).as("t_stat"),
      (col("n") - 1).cast("long").as("dof"),
      round(tPUdf(tt, col("n") - 1), 6).as("p_value"))
  }

  /** Two-proportion z-test (pooled) — the A/B-test workhorse (stats
    * family extension): success = `successCol` true, groups gA/gB of
    * `groupCol`; z = (p̂_A − p̂_B) / √(p̂(1−p̂)(1/n_A + 1/n_B)) with p̂
    * the pooled proportion; two-sided normal p. One aggregate. */
  def twoProportionZTest(df: DataFrame, successCol: String,
      groupCol: String, gA: String, gB: String): DataFrame = {
    val s = col(successCol).cast("boolean")
    val a = df.filter(col(groupCol).isin(gA, gB) && s.isNotNull)
      .agg(
        sum(when(col(groupCol) === gA, 1L).otherwise(0L))
          .cast("double").as("na"),
        sum(when(col(groupCol) === gA && s, 1L).otherwise(0L))
          .cast("double").as("xa"),
        sum(when(col(groupCol) === gB, 1L).otherwise(0L))
          .cast("double").as("nb"),
        sum(when(col(groupCol) === gB && s, 1L).otherwise(0L))
          .cast("double").as("xb"))
    val pa = col("xa") / col("na"); val pb = col("xb") / col("nb")
    val pp = (col("xa") + col("xb")) / (col("na") + col("nb"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("na") + lit(1.0) / col("nb")))
    val z = (pa - pb) / when(se > 0, se) // null (not throw) if degenerate
    a.select(round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      round(z, 6).as("z"),
      round(lit(2.0) * (lit(1.0) -
        Distributions.normalCdfCol(abs(z))), 6).as("p_value"))
  }

  /** Cohen's d effect size (pooled-SD form) between two groups —
    * companion to [[ttestWelch]]: d = (m_A − m_B)/s_p,
    * s_p = √(((n_A−1)s²_A + (n_B−1)s²_B)/(n_A+n_B−2)). */
  def cohensD(df: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats = df.filter(col(groupCol).isin(gA, gB) && v.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("n"), avg(v).as("m"),
        var_samp(v).as("s2"))
    val a = stats.filter(col(groupCol) === gA).as("a")
    val b = stats.filter(col(groupCol) === gB).as("b")
    val sp = sqrt(((col("a.n") - 1) * col("a.s2") +
      (col("b.n") - 1) * col("b.s2")) / (col("a.n") + col("b.n") - 2))
    a.crossJoin(b).select(
      round((col("a.m") - col("b.m")) / when(sp > 0, sp), 6).as("d"),
      col("a.n").cast("long").as("n_a"),
      col("b.n").cast("long").as("n_b"))
  }

  /** Power analysis for the two-sample mean comparison under the
    * normal approximation (the statsmodels `NormalIndPower` family —
    * the planning companion to [[ttestWelch]]/[[cohensD]]):
    * achieved power of the two-sided level-α z test at the OBSERVED
    * group statistics, and the per-group n required for
    * `targetPower` at the observed pooled effect size:
    *   power = Φ(dz − z₁₋α/₂) + Φ(−dz − z₁₋α/₂),
    *     dz  = |m_A − m_B| / √(s²_A/n_A + s²_B/n_B)
    *   n_req = ⌈2·((z₁₋α/₂ + z_pow)/d)²⌉,  d = |m_A − m_B|/s_p
    * z quantiles are driver-side Acklam Φ⁻¹ constants and Φ the
    * shared A&S polynomial, so an oracle with the identical literals
    * replays bit-exact. One aggregate over the two groups from exact
    * sufficient sums; two 1-row stat rows cross-joined (the ttest
    * shape). n_req is null when d < 1e-6 (no finite n achieves the
    * target against a vanishing effect; also keeps ⌈·⌉ in long
    * range). */
  def powerTwoSample(df: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String, alpha: Double = 0.05,
      targetPower: Double = 0.8): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1): $alpha")
    require(targetPower > 0 && targetPower < 1,
      s"targetPower in (0,1): $targetPower")
    val zcrit = Distributions.normSInv(1 - alpha / 2)
    val zpow = Distributions.normSInv(targetPower)
    val v = col(valueCol).cast("double")
    val stats = df.filter(col(groupCol).isin(gA, gB) && v.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("n"), sum(v).as("s1"),
        sum(v * v).as("s2"))
      .withColumn("m", col("s1") / col("n"))
      .withColumn("s2v", (col("s2") - col("s1") * col("s1") / col("n"))
        / (col("n") - 1))
    val a = stats.filter(col(groupCol) === gA).as("a")
    val b = stats.filter(col(groupCol) === gB).as("b")
    val se = sqrt(col("a.s2v") / col("a.n") + col("b.s2v") / col("b.n"))
    val dz = abs(col("a.m") - col("b.m")) / se
    val sp = sqrt(((col("a.n") - 1) * col("a.s2v") +
      (col("b.n") - 1) * col("b.s2v")) /
      (col("a.n") + col("b.n") - 2))
    val d = abs(col("a.m") - col("b.m")) / sp
    val power = Distributions.normalCdfCol(dz - lit(zcrit)) +
      Distributions.normalCdfCol(-dz - lit(zcrit))
    val zsum = lit(zcrit) + lit(zpow)
    a.crossJoin(b).select(
      col("a.n").cast("long").as("n_a"),
      col("b.n").cast("long").as("n_b"),
      round(col("a.m"), 6).as("mean_a"),
      round(col("b.m"), 6).as("mean_b"),
      round(d, 6).as("effect_d"),
      round(dz, 6).as("z_effect"),
      round(power, 6).as("power"),
      when(d >= 1e-6,
        ceil(lit(2.0) * (zsum / d) * (zsum / d)).cast("long"))
        .as("n_required"))
  }

  /** Coarsened exact matching (Iacus, King & Porro 2012) — the
    * observational-causal companion to [[diffInDiffMeans]]: units are
    * exact-matched within strata of caller-coarsened covariates,
    * strata lacking common support (no treated or no control unit)
    * are pruned, and the ATT is the treated-share-weighted sum of
    * within-stratum mean differences:
    *   ATT = Σ_s (n_t^s / M_t) · (ȳ_t^s − ȳ_c^s)
    * over matched strata (M_t = matched treated total). One
    * conditional-sum aggregate keyed by the strata (map-side
    * partials), one common-support filter, one 1-row broadcast for
    * M_t — the ideal 100 TB shape; no pairwise matching ever.
    * Returns one row per matched stratum with exact counts, sums and
    * the ATT contribution; [[cemAtt]] folds them to the estimate. */
  def cem(df0: DataFrame, treatCol: String, outcomeCol: String,
      strataCols: Seq[String]): DataFrame = {
    require(strataCols.nonEmpty, "cem needs at least one stratum key")
    // sums run in the INPUT type: pass an exact integer outcome
    // (cents) and every sum is order-free, so the double ratios below
    // are bit-deterministic and replayable (the diffInDiffMeans
    // exact-cell-sum convention)
    val y = col(outcomeCol)
    val t = col(treatCol).cast("boolean")
    val per = df0.filter(t.isNotNull && y.isNotNull)
      .groupBy(strataCols.map(col): _*)
      .agg(sum(when(t, 1L).otherwise(0L)).as("n_treat"),
        sum(when(!t, 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(t, y)).as("sy_treat"),
        sum(when(!t, y)).as("sy_ctrl"))
      .filter(col("n_treat") > 0 && col("n_ctrl") > 0)
    val mt = per.agg(sum("n_treat").cast("double").as("m_treat"))
    val meanT = col("sy_treat").cast("double") / col("n_treat")
    val meanC = col("sy_ctrl").cast("double") / col("n_ctrl")
    per.crossJoin(broadcast(mt))
      .select(strataCols.map(col) ++ Seq(
        col("n_treat"), col("n_ctrl"),
        meanT.as("mean_treat"), meanC.as("mean_ctrl"),
        (col("n_treat").cast("double") / col("m_treat") *
          (meanT - meanC)).as("att_contrib")): _*)
  }

  /** ATT + matching diagnostics from [[cem]]'s per-stratum rows:
    * matched counts and the pruned-unit shares a CEM report leads
    * with. `total` rows are the pre-matching universe. */
  def cemAtt(df0: DataFrame, treatCol: String, outcomeCol: String,
      strataCols: Seq[String]): DataFrame = {
    val t = col(treatCol).cast("boolean")
    val y = col(outcomeCol)
    val totals = df0.filter(t.isNotNull && y.isNotNull)
      .agg(sum(when(t, 1L).otherwise(0L)).as("tot_treat"),
        sum(when(!t, 1L).otherwise(0L)).as("tot_ctrl"))
    cem(df0, treatCol, outcomeCol, strataCols)
      .agg(count(lit(1)).as("n_strata"),
        sum("n_treat").as("matched_treat"),
        sum("n_ctrl").as("matched_ctrl"),
        sum("att_contrib").as("att"))
      .crossJoin(broadcast(totals))
      .select(col("n_strata"), col("matched_treat"),
        col("matched_ctrl"), col("tot_treat"), col("tot_ctrl"),
        col("att"))
  }

  /** Group-sequential experiment monitoring (the closed-form members
    * of the boundary family): at each interim look (ordered distinct
    * `lookCol` values) the two-arm Welch z is computed from
    * CUMULATIVE exact sufficient sums and compared against a
    * stopping boundary —
    *  - `bonferroni`: z₁₋α/(2K) constant across the K looks (the
    *    conservative closed form; K is read from the data via a
    *    1-row broadcast and the quantile is the in-plan Acklam Φ⁻¹,
    *    so the oracle replays it);
    *  - `haybittle-peto`: |z| ≥ 3 at interim looks, z₁₋α/₂ at the
    *    final look (Peto's rule — final inference undisturbed).
    * O'Brien–Fleming/Lan–DeMets spending needs iterative root
    * finding (no closed form) — documented out of scope; Bonferroni
    * dominates it in conservatism, never in validity.
    *
    * Shape: one per-(look) conditional-sum aggregate, a cumulative
    * window over the LOOK table (bounded by the number of looks, not
    * rows), a 1-row broadcast for K/the final look. Pass an exact
    * integer value column (cents) — the cumulative sums stay
    * order-free. */
  def sequentialLooks(df0: DataFrame, armCol: String, valueCol: String,
      lookCol: String, gA: String, gB: String, alpha: Double = 0.05,
      style: String = "bonferroni"): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1): $alpha")
    require(Seq("bonferroni", "haybittle-peto").contains(style),
      s"style must be bonferroni|haybittle-peto, got $style")
    val v = col(valueCol)
    val isA = col(armCol) === gA
    val cells = df0
      .filter(col(armCol).isin(gA, gB) && v.isNotNull &&
        col(lookCol).isNotNull)
      .groupBy(col(lookCol).as("look"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("ka"),
        sum(when(isA, v)).as("sa"),
        sum(when(isA, v * v)).as("qa"),
        sum(when(!isA, 1L).otherwise(0L)).as("kb"),
        sum(when(!isA, v)).as("sb"),
        sum(when(!isA, v * v)).as("qb"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("look")
      .rowsBetween(Long.MinValue, 0)
    val totals = cells.agg(count(lit(1)).cast("double").as("kk"),
      max("look").as("final_look"))
    val cum = cells.select(col("look"),
        sum("ka").over(wCum).as("na"), sum("sa").over(wCum).as("csa"),
        sum("qa").over(wCum).as("cqa"),
        sum("kb").over(wCum).as("nb"), sum("sb").over(wCum).as("csb"),
        sum("qb").over(wCum).as("cqb"))
      .crossJoin(broadcast(totals))
    def m(s: Column, n: Column) = s.cast("double") / n
    def va(q: Column, s: Column, n: Column) =
      (q.cast("double") - s.cast("double") * s.cast("double") / n) /
        (n - 1)
    val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
    val z = (m(col("csa"), naD) - m(col("csb"), nbD)) /
      sqrt(va(col("cqa"), col("csa"), naD) / naD +
        va(col("cqb"), col("csb"), nbD) / nbD)
    val boundary = style match {
      case "bonferroni" => Distributions.normSInvCol(
        lit(1.0) - lit(alpha) / (lit(2.0) * col("kk")))
      case _ => when(col("look") === col("final_look"),
        lit(Distributions.normSInv(1 - alpha / 2))).otherwise(lit(3.0))
    }
    cum.select(col("look"), col("na"), col("nb"),
      z.as("z"), boundary.as("boundary"),
      (abs(z) >= boundary).as("crossed"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013,
    * WSDM) — the industry-standard experiment sensitivity boost:
    * with a pre-experiment covariate x,
    *   θ = cov(x,y)/var(x) (pooled),  ŷ = y − θ·(x − x̄)
    * leaves every arm's expectation unchanged while cutting the
    * metric variance by ρ²(x,y). Emits one row per arm with exact n,
    * raw and adjusted means, plus the pooled θ and the variance-
    * reduction ratio ρ² on every row. All from ONE exact-sufficient-
    * sum aggregate per arm + a 1-row pooled broadcast; formulas in
    * fixed association order for the oracle replay. */
  def cupedByArm(df0: DataFrame, armCol: String, yCol: String,
      xCol: String): DataFrame = {
    // sums run in the INPUT type (exact-integer convention): pass y/x
    // as longs scaled so Σy², Σxy stay in long range (dollars, not
    // cents, for money — the q61 OLS precedent) and every sufficient
    // sum is order-free; only the final ratios are doubles
    val y = col(yCol)
    val x = col(xCol)
    val per = df0.filter(col(armCol).isNotNull && y.isNotNull &&
        x.isNotNull)
      .groupBy(col(armCol))
      .agg(count(lit(1)).as("n"),
        sum(y).as("sy"), sum(x).as("sx"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"),
        sum(y * y).as("syy"))
    val pooled = per.agg(sum("n").cast("double").as("n"),
        sum("sy").cast("double").as("sy"),
        sum("sx").cast("double").as("sx"),
        sum("sxy").cast("double").as("sxy"),
        sum("sxx").cast("double").as("sxx"),
        sum("syy").cast("double").as("syy"))
      .select(
        (col("sx") / col("n")).as("xbar"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n")))
          .as("theta"),
        (((col("sxy") - col("sx") * col("sy") / col("n")) *
          (col("sxy") - col("sx") * col("sy") / col("n"))) /
          ((col("sxx") - col("sx") * col("sx") / col("n")) *
            (col("syy") - col("sy") * col("sy") / col("n"))))
          .as("rho2"))
    val nD = col("n").cast("double")
    per.crossJoin(broadcast(pooled))
      .select(col(armCol),
        col("n").cast("long").as("n"),
        (col("sy").cast("double") / nD).as("y_mean"),
        (col("sy").cast("double") / nD - col("theta") *
          (col("sx").cast("double") / nD - col("xbar")))
          .as("y_cuped_mean"),
        col("theta"), col("rho2").as("var_reduction"))
  }

  /** Bartlett's test of variance homogeneity (the ANOVA companion;
    * stats family extension): from per-group sufficient sums,
    * χ² = [(N−k)·ln s_p² − Σ(n_i−1)·ln s_i²] / C with the standard
    * correction C = 1 + (Σ1/(n_i−1) − 1/(N−k)) / (3(k−1));
    * p from χ²(k−1). One aggregate pass + O(k) finalization. */
  def bartlett(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val g = df.filter(v.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("gn"), sum(v).as("s1"),
        sum(v * v).as("s2"))
      .withColumn("var",
        (col("s2") - col("s1") * col("s1") / col("gn")) /
          (col("gn") - 1))
    val a = g.agg(count(lit(1)).cast("double").as("k"),
      sum("gn").as("nn"),
      sum((col("gn") - 1) * col("var")).as("ssw"),
      sum((col("gn") - 1) * log(col("var"))).as("slv"),
      sum(lit(1.0) / (col("gn") - 1)).as("sinv"))
    val sp2 = col("ssw") / (col("nn") - col("k"))
    val c = lit(1.0) + (col("sinv") - lit(1.0) / (col("nn") - col("k"))) /
      (lit(3.0) * (col("k") - 1))
    val chi2 = ((col("nn") - col("k")) * log(sp2) - col("slv")) / c
    a.select(round(chi2, 6).as("chi2"),
      (col("k") - 1).cast("long").as("dof"),
      round(chi2PUdf(chi2, col("k") - 1), 6).as("p_value"))
  }

  /** Levene's test in the Brown–Forsythe (median-centered) form —
    * robust variance-homogeneity: z = |x − group median| (exact
    * per-group percentile), then the one-way ANOVA F on z. Returns
    * (w_stat, df_between, df_within). */
  def leveneBrownForsythe(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull && col(groupCol).isNotNull)
    val meds = base.groupBy(col(groupCol))
      .agg(percentile(v, lit(0.5)).as("__med__"))
    val z = base.join(broadcast(meds), Seq(groupCol))
      .withColumn("__z__", abs(v - col("__med__")))
    val g = z.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("gn"),
        sum(col("__z__")).as("s1"),
        sum(col("__z__") * col("__z__")).as("s2"))
    g.agg(count(lit(1)).as("k"), sum(col("gn")).as("nn"),
        sum(col("s1")).as("ts1"), sum(col("s2")).as("ts2"),
        sum(col("s1") * col("s1") / col("gn")).as("sgm"))
      .select(
        // zero within-group spread ⇒ W undefined: null, not an ANSI
        // divide-by-zero (divide by NULL to null-propagate)
        round(((col("sgm") - col("ts1") * col("ts1") / col("nn")) /
            (col("k") - 1)) /
          when((col("ts2") - col("sgm")) > 0,
            (col("ts2") - col("sgm")) / (col("nn") - col("k"))), 6)
          .as("w_stat"),
        (col("k") - 1).cast("long").as("df_between"),
        (col("nn") - col("k")).cast("long").as("df_within"))
  }

  /** Kruskal–Wallis H test — the k-group generalization of
    * Mann-Whitney (stats family extension): pooled average ranks from
    * the range-bucketed distinct-value table, H = 12/(N(N+1))·ΣR²/n −
    * 3(N+1), divided by the standard tie correction
    * 1 − Σ(t³−t)/(N³−N); p-value from the χ²(k−1) upper tail. One
    * groupBy(value), one broadcast join, one groupBy(group). */
  def kruskalWallis(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val pooled = df.filter(col(valueCol).isNotNull &&
      col(groupCol).isNotNull)
    val counts = pooled.groupBy(col(valueCol))
      .agg(count(lit(1)).as("__c__"))
    val ranks = distinctValueRanks(counts, valueCol, "__c__")
    val ties = counts.agg(
      sum(col("__c__") * col("__c__") * col("__c__") - col("__c__"))
        .cast("double").as("tie_t"))
    val g = pooled.join(broadcast(ranks), Seq(valueCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("gn"),
        sum(col("__r__")).as("rs"))
    val nn = col("nn")
    val h = lit(12.0) / (nn * (nn + 1)) * col("s") - lit(3.0) * (nn + 1)
    val hc = h / (lit(1.0) - col("tie_t") / (nn * nn * nn - nn))
    g.agg(count(lit(1)).cast("double").as("k"),
        sum("gn").as("nn"),
        sum(col("rs") * col("rs") / col("gn")).as("s"))
      .crossJoin(broadcast(ties))
      .select(round(hc, 6).as("h_stat"),
        (col("k") - 1).cast("long").as("dof"),
        round(chi2PUdf(hc, col("k") - 1), 6).as("p_value"))
  }

  /** Wilcoxon signed-rank test for PAIRED samples (the paired
    * counterpart of Mann-Whitney; stats family extension): zero
    * differences dropped, |d| ranked with average ranks, W⁺ = rank
    * sum of positive differences, normal approximation with the
    * standard tie correction (no continuity correction — mirrored
    * exactly by the oracle):
    *   z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48)
    * Ranks come from the range-bucketed distinct-|d| table
    * ([[distinctValueRanks]]) broadcast back — no global window. */
  def wilcoxonSignedRank(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val nz = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .withColumn("__d__",
        col(xCol).cast("double") - col(yCol).cast("double"))
      .filter(col("__d__") =!= 0.0)
    val counts = nz.groupBy(abs(col("__d__")).as("__ad__"))
      .agg(count(lit(1)).as("__c__"))
    val ranks = distinctValueRanks(counts, "__ad__", "__c__")
    val ties = counts.agg(
      sum(col("__c__") * col("__c__") * col("__c__") - col("__c__"))
        .cast("double").as("tie_t"))
    val base = nz.withColumn("__ad__", abs(col("__d__")))
      .join(broadcast(ranks), Seq("__ad__"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(when(col("__d__") > 0, col("__r__")).otherwise(0.0))
          .as("w_plus"))
      .crossJoin(broadcast(ties))
    val n = col("n")
    val z = (col("w_plus") - n * (n + 1) / 4) /
      sqrt(n * (n + 1) * (n * 2 + 1) / 24 - col("tie_t") / 48)
    base.select(n.cast("long").as("n"),
        round(col("w_plus"), 6).as("w_plus"), round(z, 6).as("z"),
        round(lit(2.0) * (lit(1.0) -
          Distributions.normalCdfCol(abs(z))), 6).as("p_value"))
  }

  /** Two-sample Kolmogorov–Smirnov test (stats family extension):
    * D = sup over the pooled distinct values of |F_A − F_B| (ECDFs),
    * with the asymptotic p-value 2Σ(−1)^{k−1}e^{−2k²λ²},
    * λ = (√n_e + 0.12 + 0.11/√n_e)·D, n_e = n_A·n_B/(n_A+n_B)
    * (the standard Numerical-Recipes form), series truncated at
    * k = 100 — an expression, not a driver loop, so the oracle can
    * replay it term-for-term.
    *
    * Scale shape: ECDFs come from per-side cumulative counts over the
    * DISTINCT-value table via the range-bucketed two-pass
    * ([[distinctValueCumCounts]]) — no global window, same machinery
    * as Mann-Whitney. */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    val pooled = df.filter(col(groupCol).isin(gA, gB) &&
      col(valueCol).isNotNull)
    val counts = pooled.groupBy(col(valueCol))
      .agg(sum(when(col(groupCol) === gA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === gB, 1L).otherwise(0L)).as("cb"))
    val (belowA, belowB) = LocalStrategy.cached(counts) { counts =>
      (distinctValueCumCounts(counts.select(col(valueCol), col("ca")),
          valueCol, "ca").withColumnRenamed("__below__", "ba"),
        distinctValueCumCounts(counts.select(col(valueCol), col("cb")),
          valueCol, "cb").withColumnRenamed("__below__", "bb"))
    }
    val d0 = counts.join(belowA.select(col(valueCol), col("ba")), Seq(valueCol))
      .join(belowB.select(col(valueCol), col("bb")), Seq(valueCol))
      .crossJoin(broadcast(counts.agg(
        sum("ca").cast("double").as("na"),
        sum("cb").cast("double").as("nb"))))
      .agg(max(abs((col("ba") + col("ca")) / col("na") -
          (col("bb") + col("cb")) / col("nb"))).as("d_stat"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
    // asymptotic p-value as a 100-term series expression
    val ne = col("na") * col("nb") / (col("na") + col("nb"))
    val lam = (sqrt(ne) + 0.12 + lit(0.11) / sqrt(ne)) * col("d_stat")
    val term = lit(2.0) * pow(lit(-1.0), col("k") - 1) *
      exp(lit(-2.0) * col("k") * col("k") * lam * lam)
    d0.withColumn("k", explode(sequence(lit(1), lit(100))))
      .groupBy("d_stat", "na", "nb")
      .agg(least(greatest(sum(term), lit(0.0)), lit(1.0)).as("p"))
      // the truncated alternating series is only valid for λ ≳ 0.03;
      // below that Q_KS is 1 to hundreds of digits (and the 100-term
      // sum would alternate to garbage) — clamp, same rule as the
      // oracle
      .withColumn("p", when(lam < 0.03, 1.0).otherwise(col("p")))
      .select(round(col("d_stat"), 9).as("d_stat"),
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        round(col("p"), 6).as("p_value"))
  }

  /** Categorical distribution divergence between two groups — the
    * data-mixing drift diagnostic (no reference counterpart; standard
    * information-theoretic definitions). Compares the MLE distribution
    * of `catCol` within group `gA` vs `gB` of `groupCol`:
    * KL(A‖B), KL(B‖A), Jensen–Shannon divergence (natural log; always
    * finite — zero-probability terms contribute 0 to JS), and each
    * side's Shannon entropy. One |categories|-row count aggregate +
    * O(1)-row finalization: scales to any corpus. A category absent
    * from the opposite side makes that direction's KL +∞ by
    * definition (the double arithmetic yields Infinity naturally). */
  def distributionDivergence(df: DataFrame, catCol: String,
      groupCol: String, gA: String, gB: String): DataFrame = {
    val counts = df
      .filter(col(groupCol).isin(gA, gB) && col(catCol).isNotNull)
      .groupBy(col(catCol))
      .agg(sum(when(col(groupCol) === gA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === gB, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum("ca").cast("double").as("na"),
      sum("cb").cast("double").as("nb"))
    // ANSI-safe probabilities: divide by NULL (not 0) when a side is
    // empty so the division yields NULL instead of throwing; every
    // consumer below guards on the corresponding count being > 0
    val pa = col("ca") / when(col("na") > 0, col("na"))
    val pb = col("cb") / when(col("nb") > 0, col("nb"))
    val pm = (coalesce(pa, lit(0.0)) + coalesce(pb, lit(0.0))) / 2.0
    val inf = lit(Double.PositiveInfinity)
    counts.crossJoin(broadcast(tot)).agg(
        round(sum(when(col("ca") > 0,
          when(col("cb") > 0, pa * log(pa / pb)).otherwise(inf))
          .otherwise(0.0)), 6).as("kl_ab"),
        round(sum(when(col("cb") > 0,
          when(col("ca") > 0, pb * log(pb / pa)).otherwise(inf))
          .otherwise(0.0)), 6).as("kl_ba"),
        round(sum(
          when(col("ca") > 0, pa * log(pa / pm)).otherwise(0.0) * 0.5 +
          when(col("cb") > 0, pb * log(pb / pm)).otherwise(0.0) * 0.5),
          6).as("js"),
        round(-sum(when(col("ca") > 0,
          pa * log(pa)).otherwise(0.0)), 6).as("entropy_a"),
        round(-sum(when(col("cb") > 0,
          pb * log(pb)).otherwise(0.0)), 6).as("entropy_b"))
  }

  /** OLS simple linear regression (stats/regression): slope/intercept
    * /r² from the five sufficient sums — one aggregate pass. */
  def linearRegression(df0: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    // pairwise-complete observations: n must count exactly the rows
    // the sums cover, or the normal equations mix inconsistent sums
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    df.agg(count(lit(1)).cast("double").as("n"), sum(x).as("sx"),
        sum(y).as("sy"), sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select(
        // degenerate designs (constant x and/or y) have zero centered
        // variance: emit null rather than an ANSI divide-by-zero
        (col("n") * col("sxy") - col("sx") * col("sy")).as("covxy"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vary"),
        col("n"), col("sx"), col("sy"))
      .select(
        when(col("varx") =!= 0, col("covxy") / col("varx")).as("slope"),
        col("n"), col("sx"), col("sy"), col("varx"), col("vary"),
        col("covxy"))
      .select(col("slope"),
        ((col("sy") - col("slope") * col("sx")) / col("n"))
          .as("intercept"),
        when(col("varx") =!= 0 && col("vary") =!= 0,
          col("covxy") * col("covxy") / (col("varx") * col("vary")))
          .as("r2"),
        col("n"))
      // slope t statistic via the simple-OLS identity
      // t² = r²(n−2)/(1−r²), sign(t) = sign(slope); df = n−2.
      // A perfect fit (r² = 1) has zero residual variance → t = ±∞,
      // p = 0 (guarded: ANSI mode treats the 0-divide as an error).
      .withColumn("slope_t",
        when(col("r2") < 1.0, signum(col("slope")) *
          sqrt(col("r2") * (col("n") - 2) / (lit(1.0) - col("r2"))))
        .otherwise(signum(col("slope")) * lit(Double.PositiveInfinity)))
      .withColumn("p_value", tPUdf(col("slope_t"), col("n") - 2))
      .drop("n")
  }

  /** Two-predictor multiple linear regression y ~ x1 + x2 with full
    * inference (reference src/stats/regression/mod.rs:16
    * linear_regression over multiple x_columns). The normal equations
    * for two centered predictors solve in closed form (Cramer), so —
    * unlike the reference's driver-side matrix inverse — coefficient
    * estimates, standard errors, t statistics, and p-values are all
    * straight-line Column arithmetic on ONE aggregate of ten
    * sufficient sums: fully distributed, engine-reproducible (feed
    * integer-valued columns), no collect. p-values use the large-n
    * normal approximation of the t distribution (A&S Φ — documented;
    * exact t needs an iterative continued fraction). Generic p > 2
    * designs go through MlOps.linearRegressionMl. Output: one row per
    * term (intercept, x1, x2): coef, std_err, t_stat, p_value. */
  def multipleRegression2(df0: DataFrame, yCol: String, x1Col: String,
      x2Col: String): DataFrame = {
    val df = df0.filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
      col(x2Col).isNotNull)
    val (y, x1, x2) = (col(yCol).cast("double"),
      col(x1Col).cast("double"), col(x2Col).cast("double"))
    val s = df.agg(count(lit(1)).cast("double").as("n"),
      sum(x1).as("s1"), sum(x2).as("s2"), sum(y).as("sy"),
      sum(x1 * x1).as("s11"), sum(x2 * x2).as("s22"),
      sum(x1 * x2).as("s12"), sum(x1 * y).as("s1y"),
      sum(x2 * y).as("s2y"), sum(y * y).as("syy"))
    val n = col("n")
    def cc(sab: Column, sa: Column, sb: Column) = sab - sa * sb / n
    val d = s
      .withColumn("c11", cc(col("s11"), col("s1"), col("s1")))
      .withColumn("c22", cc(col("s22"), col("s2"), col("s2")))
      .withColumn("c12", cc(col("s12"), col("s1"), col("s2")))
      .withColumn("c1y", cc(col("s1y"), col("s1"), col("sy")))
      .withColumn("c2y", cc(col("s2y"), col("s2"), col("sy")))
      .withColumn("cyy", cc(col("syy"), col("sy"), col("sy")))
      .withColumn("det",
        col("c11") * col("c22") - col("c12") * col("c12"))
      .withColumn("b1", (col("c1y") * col("c22") -
        col("c2y") * col("c12")) / col("det"))
      .withColumn("b2", (col("c2y") * col("c11") -
        col("c1y") * col("c12")) / col("det"))
      .withColumn("b0", (col("sy") - col("b1") * col("s1") -
        col("b2") * col("s2")) / n)
      .withColumn("sse", col("cyy") - col("b1") * col("c1y") -
        col("b2") * col("c2y"))
      .withColumn("sig2", col("sse") / (n - 3))
      .withColumn("se1", sqrt(col("sig2") * col("c22") / col("det")))
      .withColumn("se2", sqrt(col("sig2") * col("c11") / col("det")))
      .withColumn("se0", sqrt(col("sig2") * (lit(1.0) / n +
        (col("s1") / n * (col("s1") / n) * col("c22") -
          lit(2.0) * (col("s1") / n) * (col("s2") / n) * col("c12") +
          col("s2") / n * (col("s2") / n) * col("c11")) / col("det"))))
    def term(name: String, b: Column, se: Column) = {
      // a perfect fit (sse = 0) has se = 0: t/p are undefined → null
      // (ANSI mode would otherwise raise DIVIDE_BY_ZERO)
      val t = when(se =!= 0, b / se)
      struct(lit(name).as("term"), round(b, 6).as("coef"),
        round(se, 6).as("std_err"), round(t, 6).as("t_stat"),
        round(lit(2.0) * (lit(1.0) -
          Distributions.normalCdfCol(abs(t))), 6).as("p_value"))
    }
    d.select(explode(array(
        term("intercept", col("b0"), col("se0")),
        term("x1", col("b1"), col("se1")),
        term("x2", col("b2"), col("se2")))).as("r"))
      .select(col("r.term"), col("r.coef"), col("r.std_err"),
        col("r.t_stat"), col("r.p_value"))
  }

  /** Exact Shapley attribution for the 2-feature linear model
    * (Lundberg & Lee 2017: for a linear model on independent
    * features the Shapley value is φ_i(row) = b_i·(x_i − x̄_i),
    * closed-form — no sampling). Fits the same exact-Cramer OLS as
    * [[multipleRegression2]] from ONE aggregate of integer moments,
    * broadcasts the 1-row coefficient frame back, and emits per-row
    * contributions plus the shared baseline (ȳ) and reconstructed
    * prediction — a pure map-side second pass, the 100 TB
    * explainability shape (no per-row model evaluation service).
    * Feed integer-valued columns (cents pattern) so the coefficient
    * arithmetic is the same IEEE double in any engine. */
  def linearShap(df0: DataFrame, yCol: String, x1Col: String,
      x2Col: String, keepCols: Seq[String]): DataFrame = {
    val df = df0.filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
      col(x2Col).isNotNull)
    val (y, x1, x2) = (col(yCol).cast("double"),
      col(x1Col).cast("double"), col(x2Col).cast("double"))
    val s = df.agg(count(lit(1)).cast("double").as("n"),
      sum(x1).as("s1"), sum(x2).as("s2"), sum(y).as("sy"),
      sum(x1 * x1).as("s11"), sum(x2 * x2).as("s22"),
      sum(x1 * x2).as("s12"), sum(x1 * y).as("s1y"),
      sum(x2 * y).as("s2y"))
    val n = col("n")
    def cc(sab: Column, sa: Column, sb: Column) = sab - sa * sb / n
    val fit = s
      .withColumn("c11", cc(col("s11"), col("s1"), col("s1")))
      .withColumn("c22", cc(col("s22"), col("s2"), col("s2")))
      .withColumn("c12", cc(col("s12"), col("s1"), col("s2")))
      .withColumn("c1y", cc(col("s1y"), col("s1"), col("sy")))
      .withColumn("c2y", cc(col("s2y"), col("s2"), col("sy")))
      .withColumn("det",
        col("c11") * col("c22") - col("c12") * col("c12"))
      .withColumn("b1", (col("c1y") * col("c22") -
        col("c2y") * col("c12")) / col("det"))
      .withColumn("b2", (col("c2y") * col("c11") -
        col("c1y") * col("c12")) / col("det"))
      .select((col("s1") / n).as("__xb1__"),
        (col("s2") / n).as("__xb2__"), (col("sy") / n).as("__base__"),
        col("b1").as("__b1__"), col("b2").as("__b2__"))
    val phi1 = col("__b1__") * (x1 - col("__xb1__"))
    val phi2 = col("__b2__") * (x2 - col("__xb2__"))
    df.crossJoin(broadcast(fit))
      .select(keepCols.map(col) ++ Seq(
        col(x1Col).cast("long").as("x1"),
        col(x2Col).cast("long").as("x2"),
        round(phi1, 6).as("phi1"), round(phi2, 6).as("phi2"),
        round(col("__base__"), 6).as("baseline"),
        round(col("__base__") + phi1 + phi2, 6)
          .as("prediction")): _*)
  }

  /** Per-group OLS simple regression (pandas groupby().apply(ols)
    * parity): slope/intercept/r² per key from the five sufficient
    * sums — ONE hash aggregate regardless of group count, no
    * per-group iteration. Feed integer-valued x/y (cents pattern)
    * and the sums are exact doubles, so every derived ratio is the
    * same IEEE double in any engine. Degenerate groups (constant x
    * or y) emit null slope/r². */
  def groupedLinearRegression(df0: DataFrame, xCol: String,
      yCol: String, keyCols: Seq[String]): DataFrame = {
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("double").as("n"), sum(x).as("sx"),
        sum(y).as("sy"), sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select((keyCols.map(col) :+
        (col("n") * col("sxy") - col("sx") * col("sy")).as("covxy") :+
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varx") :+
        (col("n") * col("syy") - col("sy") * col("sy")).as("vary") :+
        col("n") :+ col("sx") :+ col("sy")): _*)
      .select((keyCols.map(col) :+
        when(col("varx") =!= 0, col("covxy") / col("varx"))
          .as("slope") :+
        col("n") :+ col("sx") :+ col("sy") :+ col("varx") :+
        col("vary") :+ col("covxy")): _*)
      .select((keyCols.map(col) :+
        col("n").cast("long").as("n") :+
        round(col("slope"), 6).as("slope") :+
        round((col("sy") - col("slope") * col("sx")) / col("n"), 6)
          .as("intercept") :+
        round(when(col("varx") =!= 0 && col("vary") =!= 0,
          col("covxy") * col("covxy") /
            (col("varx") * col("vary"))), 6).as("r2")): _*)
  }

  /** Strictly-below cumulative counts per distinct value, exact and
    * without a global window ([[PrefixSum.before]]): the core of
    * [[distinctValueRanks]], the ECDF tests and the order-statistic
    * sums. Input: counts(valueCol numeric, cntCol), one row per
    * distinct value. Output: valueCol, cntCol, __below__. */
  def distinctValueCumCounts(counts0: DataFrame, valueCol: String,
      cntCol: String): DataFrame =
    PrefixSum.before(counts0, valueCol, col(cntCol), "__below__")
      .select(col(valueCol), col(cntCol), col("__below__"))

  /** Average ranks of the distinct-value table, scale-safe.
    *
    * avg_rank(v) = #rows<v + 1 + (ties(v)−1)/2 needs a cumulative sum
    * over per-value counts in value order — naively a GLOBAL window
    * (single partition, O(distinct) on one executor; fine for bounded
    * domains, a scale-killer for continuous doubles where distinct ≈
    * rows). [[distinctValueCumCounts]] gives the exact #rows<v from
    * range-partitioned windows instead.
    *
    * Input: counts(valueCol numeric, cntCol). Output: valueCol, __r__.
    */
  def distinctValueRanks(counts0: DataFrame, valueCol: String,
      cntCol: String): DataFrame =
    distinctValueCumCounts(counts0, valueCol, cntCol)
      .withColumn("__r__",
        col("__below__") + 1 + (col(cntCol) - 1) / lit(2.0))
      .select(col(valueCol), col("__r__"))

  /** Mann-Whitney U (stats/nonparametric.rs): rank-sum with average
    * ranks for ties.
    *
    * Scale design: ranks come from the DISTINCT-VALUE table via
    * [[distinctValueRanks]] (range-partitioned cumulative counts — no
    * global window), broadcast-joined back. The only full-data
    * operations are a groupBy(value) and a join. */
  def mannWhitneyU(df: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    val pooled = df.filter(col(groupCol).isin(gA, gB))
    val counts = pooled.groupBy(col(valueCol)).agg(count(lit(1)).as("__c__"))
    val rankMap = distinctValueRanks(counts, valueCol, "__c__")
    pooled.join(broadcast(rankMap), Seq(valueCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum(col("__r__")).as("rank_sum"))
      .withColumn("u", col("rank_sum") -
        col("n").cast("double") * (col("n").cast("double") + 1) / 2)
  }

  /** Mann-Whitney U z-test (normal approximation, tie-corrected, no
    * continuity correction): one row with U (for group A), z and the
    * two-sided p-value. The p-value is pure Column arithmetic
    * (A&S 7.1.26 Φ) so an oracle engine can reproduce it verbatim. */
  def mannWhitneyUTest(df: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    val pooled = df.filter(col(groupCol).isin(gA, gB))
    val counts = pooled.groupBy(col(valueCol)).agg(count(lit(1)).as("__c__"))
    val rankMap = distinctValueRanks(counts, valueCol, "__c__")
    // tie term T = Σ(c³−c) over distinct values
    val ties = counts.agg(sum(col("__c__") * col("__c__") * col("__c__") -
      col("__c__")).cast("double").as("tie_t"))
    val g = pooled.join(broadcast(rankMap), Seq(valueCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum(col("__r__")).as("rs"))
    val a = g.filter(col(groupCol) === gA)
      .select(col("n").cast("double").as("na"), col("rs").as("rsa"))
    val b = g.filter(col(groupCol) === gB)
      .select(col("n").cast("double").as("nb"))
    val wide = a.crossJoin(b).crossJoin(broadcast(ties))
    val u = col("rsa") - col("na") * (col("na") + 1) / 2
    val nn = col("na") + col("nb")
    val mu = col("na") * col("nb") / 2
    val sigma = sqrt(col("na") * col("nb") / 12.0 *
      ((nn + 1) - col("tie_t") / (nn * (nn - 1))))
    val z = (u - mu) / sigma
    val p = lit(2.0) * (lit(1.0) - Distributions.normalCdfCol(abs(z)))
    wide.select(round(u, 6).as("u"), round(z, 6).as("z"),
      round(p, 6).as("p_value"))
  }

  /** Skewness / kurtosis (pandas-compat trait_def.rs:98-109) —
    * built-in aggregate expressions. */
  def skewKurt(df: DataFrame, c: String): DataFrame =
    df.agg(skewness(col(c)).as("skew"), kurtosis(col(c)).as("kurt"))

  /** Bootstrap distribution of a statistic (stats/mod.rs:310-328):
    * nResamples seeded with-replacement samples, each reduced by the
    * caller's aggregate — returns one row per resample. The resamples
    * run over the input cached for the call, and their nResamples
    * rows are collected before the cache is released, so the input is
    * scanned once. */
  def bootstrap(df: DataFrame, nResamples: Int, stat: Column,
      seed: Long = 42L): DataFrame = {
    import scala.jdk.CollectionConverters._
    LocalStrategy.cached(df) { cached =>
      val resamples = (0 until nResamples).map { i =>
        cached.sample(withReplacement = true, 1.0, seed + i)
          .agg(stat.as("stat")).withColumn("resample", lit(i))
      }.reduce(_ unionByName _)
      df.sparkSession.createDataFrame(resamples.collect().toSeq.asJava,
        resamples.schema)
    }
  }

  /** Outlier detection by z-score or IQR (stats/mod.rs:721):
    * flags rows; thresholds computed as scalar subquery-style
    * broadcast aggregates. */
  def outliersIqr(df: DataFrame, c: String, k: Double = 1.5): DataFrame = {
    val q = df.agg(percentile(col(c), lit(0.25)).as("q1"),
      percentile(col(c), lit(0.75)).as("q3"))
    df.crossJoin(broadcast(q))
      .withColumn("is_outlier",
        col(c) < col("q1") - (col("q3") - col("q1")) * k ||
        col(c) > col("q3") + (col("q3") - col("q1")) * k)
      .drop("q1", "q3")
  }

  /** Dunn's post-hoc test after Kruskal-Wallis: pairwise mean-rank
    * comparisons on the POOLED ranks (one distinct-value rank map),
    *   z_ij = (r̄_i − r̄_j) / √(V·(1/n_i + 1/n_j)),
    *   V = n(n+1)/12 − Σ(t³−t)/(12(n−1)),
    * two-sided normal p per pair, Benjamini-Hochberg adjusted across
    * the k(k−1)/2 pairs (via [[benjaminiHochberg]] — pair table is
    * metadata scale). Group pair order is lexicographic for
    * determinism. Rank sums are sums of halves — exact dyadic, so
    * they match across engines bit-for-bit. */
  def dunnTest(df0: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val pooled = df0.filter(col(valueCol).isNotNull &&
      col(groupCol).isNotNull)
    val counts = pooled.groupBy(col(valueCol))
      .agg(count(lit(1)).as("__c__"))
    val ranks = distinctValueRanks(counts, valueCol, "__c__")
    val ties = counts.agg(
      sum(col("__c__") * col("__c__") * col("__c__") - col("__c__"))
        .cast("double").as("tie_t"))
    val g = pooled.join(broadcast(ranks), Seq(valueCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("gn"),
        sum(col("__r__")).as("rs"))
    val tot = g.agg(sum("gn").as("nn"))
    val l = g.select(col(groupCol).as("group_a"),
      col("gn").as("na"), col("rs").as("ra"))
    val r = g.select(col(groupCol).as("group_b"),
      col("gn").as("nb"), col("rs").as("rb"))
    val pairs = l.join(r, col("group_a") < col("group_b"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
    val nn = col("nn")
    val v = nn * (nn + 1) / 12 - col("tie_t") / (lit(12.0) * (nn - 1))
    val z = (col("ra") / col("na") - col("rb") / col("nb")) /
      sqrt(v * (lit(1.0) / col("na") + lit(1.0) / col("nb")))
    val withP = pairs.select(col("group_a"), col("group_b"),
      round(z, 6).as("z"),
      (lit(2.0) * (lit(1.0) -
        Distributions.normalCdfCol(abs(z)))).as("p_raw"))
    benjaminiHochberg(withP, "p_raw")
      .select(col("group_a"), col("group_b"), col("z"),
        round(col("p_raw"), 6).as("p_value"),
        round(col("p_raw_adj"), 6).as("p_adj"))
  }

  /** Chow test for a structural break: OLS y~x fit on the pooled
    * data and on the two segments given by `splitCond`; with
    * SSR = Syy − Sxy²/Sxx from exact Long sufficient sums,
    *   F = ((SSR_p − SSR_1 − SSR_2)/2) / ((SSR_1 + SSR_2)/(n − 4)),
    * df = (2, n−4). The statistic and dfs are mirrored Column
    * arithmetic; the F p-value is a driver-side CDF
    * ([[Distributions.fUpperP]], spec-anchored). Inputs
    * integer-typed (cents pattern). */
  def chowTest(df0: DataFrame, xCol: String, yCol: String,
      splitCond: Column): DataFrame = {
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    def sums(d: DataFrame, tag: String) =
      d.agg(count(lit(1)).as(s"n$tag"),
        sum(col(xCol)).as(s"sx$tag"), sum(col(yCol)).as(s"sy$tag"),
        sum(col(xCol) * col(xCol)).as(s"sxx$tag"),
        sum(col(yCol) * col(yCol)).as(s"syy$tag"),
        sum(col(xCol) * col(yCol)).as(s"sxy$tag"))
    def ssr(tag: String) = {
      val n = col(s"n$tag").cast("double")
      val sx = col(s"sx$tag").cast("double")
      val sy = col(s"sy$tag").cast("double")
      val cxx = col(s"sxx$tag") - sx * sx / n
      val cyy = col(s"syy$tag") - sy * sy / n
      val cxy = col(s"sxy$tag") - sx * sy / n
      cyy - cxy * cxy / cxx
    }
    val wide = sums(df, "p")
      .crossJoin(broadcast(sums(df.filter(splitCond), "1")))
      .crossJoin(broadcast(sums(df.filter(!splitCond), "2")))
    val nD = col("np").cast("double")
    // perfect within-segment fits leave zero residual variance — the
    // statistic is undefined (null), not an ANSI 0-division
    val den = (ssr("1") + ssr("2")) / (nD - 4)
    val f = ((ssr("p") - ssr("1") - ssr("2")) / 2) /
      when(den > 0, den)
    wide.select(round(f, 6).as("f_stat"),
      lit(2L).as("df1"), (col("np") - 4).as("df2"),
      round(fPUdf(f, lit(2.0), nD - 4), 6).as("p_value"))
  }

  /** Kaplan-Meier survival estimator (lifelines KaplanMeierFitter
    * semantics): input is one row per subject with an integer
    * duration and a 0/1 event flag (0 = censored). Per distinct
    * duration t: d = events, c = censored, n = at-risk
    * (N − strictly-before exits, via [[distinctValueCumCounts]] — no
    * full-data window), and
    *   S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) = exp(Σ ln(1 − dᵢ/nᵢ))
    * as an ordered cumulative sum over the DISTINCT-duration table
    * (the documented Mann-Whitney distinct-domain regime — both
    * engines sum in the same order, so the doubles match). */
  def kaplanMeier(df0: DataFrame, durationCol: String,
      eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = df0.filter(col(durationCol).isNotNull &&
      col(eventCol).isNotNull)
    val t = df.groupBy(col(durationCol))
      .agg(sum(when(col(eventCol) =!= 0, 1L).otherwise(0L)).as("d"),
        sum(when(col(eventCol) === 0, 1L).otherwise(0L)).as("c"))
      .withColumn("__all__", col("d") + col("c"))
    val below = distinctValueCumCounts(
      t.select(col(durationCol), col("__all__")), durationCol, "__all__")
      .select(col(durationCol), col("__below__"))
    val tot = t.agg(sum("__all__").as("__n__"))
    val w = Window.orderBy(col(durationCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.join(below, Seq(durationCol)).crossJoin(broadcast(tot))
      .withColumn("n_risk", col("__n__") - col("__below__"))
      // the final event time can have d = n (factor 0); ln(0) is an
      // error in oracle engines, so clamp at 1e-300 — exp of the
      // running sum still rounds to exactly 0 from there on
      .withColumn("survival", exp(sum(
        log(greatest(lit(1.0) - col("d").cast("double") /
          when(col("n_risk") > 0, col("n_risk")), lit(1e-300))))
        .over(w)))
      .select(col(durationCol), col("d"), col("c"), col("n_risk"),
        round(col("survival"), 6).as("survival"))
  }

  /** Aalen-Johansen cumulative incidence under competing risks
    * (Aalen & Johansen 1978): with cause codes 0 = censored and
    * 1/2 = the two competing event types,
    *   CIF_j(t) = Σ_{s ≤ t} S(s−) · d_j(s) / n_risk(s)
    * where S is the all-cause Kaplan-Meier survival. Naive 1−KM per
    * cause over-estimates when risks compete — this is the correct
    * decomposition, with S(t) + CIF₁(t) + CIF₂(t) = 1 telescoping
    * exactly at every event time.
    *
    * Same engine-replayable shape as [[kaplanMeier]]: one groupBy to
    * the BOUNDED distinct-duration table, exp-of-log-sum running
    * product for S and its exclusive-frame lag S(s−), CIF as an
    * ascending-ordered window sum (fixed order ⇒ identical float
    * bits in both engines). */
  def aalenJohansen(df0: DataFrame, durationCol: String,
      causeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = df0.filter(col(durationCol).isNotNull &&
      col(causeCol).isNotNull)
    val t = df.groupBy(col(durationCol))
      .agg(sum(when(col(causeCol) === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(col(causeCol) === 2, 1L).otherwise(0L)).as("d2"),
        sum(when(col(causeCol) === 0, 1L).otherwise(0L)).as("c"))
      .withColumn("__all__", col("d1") + col("d2") + col("c"))
    val below = distinctValueCumCounts(
      t.select(col(durationCol), col("__all__")), durationCol,
      "__all__")
      .select(col(durationCol), col("__below__"))
    val tot = t.agg(sum("__all__").as("__n__"))
    val w = Window.orderBy(col(durationCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy(col(durationCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = t.join(below, Seq(durationCol))
      .crossJoin(broadcast(tot))
      .withColumn("n_risk", col("__n__") - col("__below__"))
    val logTerm = log(greatest(
      lit(1.0) - (col("d1") + col("d2")).cast("double") /
        when(col("n_risk") > 0, col("n_risk")), lit(1e-300)))
    def cifTerm(d: String) = col("surv_prev") *
      (col(d).cast("double") / when(col("n_risk") > 0, col("n_risk")))
    base
      .withColumn("surv", exp(sum(logTerm).over(w)))
      .withColumn("surv_prev",
        exp(coalesce(sum(logTerm).over(wPrev), lit(0.0))))
      .withColumn("cif1", sum(cifTerm("d1")).over(w))
      .withColumn("cif2", sum(cifTerm("d2")).over(w))
      .select(col(durationCol), col("d1"), col("d2"), col("c"),
        col("n_risk"),
        round(col("surv"), 6).as("survival"),
        round(col("cif1"), 6).as("cif1"),
        round(col("cif2"), 6).as("cif2"))
  }

  /** Restricted mean survival time RMST(τ) = ∫₀^τ S(t)dt (Royston &
    * Parmar 2013) — the step-function area under the [[kaplanMeier]]
    * curve up to the horizon τ: "expected survival time within the
    * first τ units", the model-free alternative to a hazard ratio.
    * Computed from the BOUNDED distinct-duration KM table: a virtual
    * (t=0, S=1) row, one lead window (default τ), per-step area
    * S·(min(next,τ) − min(t,τ)) clamped at 0, one sum. Uses the same
    * 6-dp survival the KM gate publishes so the oracle replay is
    * bit-identical. */
  def rmst(df0: DataFrame, durationCol: String, eventCol: String,
      tau: Double): DataFrame = {
    require(tau > 0, s"tau must be > 0, got $tau")
    import org.apache.spark.sql.expressions.Window
    val spark = df0.sparkSession
    import spark.implicits._
    val km = kaplanMeier(df0, durationCol, eventCol)
      .select(col(durationCol).cast("double").as("t"),
        col("survival").as("s"))
      .unionByName(Seq((0.0, 1.0)).toDF("t", "s"))
    // s DESC tiebreak: the virtual (0, 1.0) row sorts before a real
    // zero-duration step, so the lead segments are deterministic
    val w = Window.orderBy(col("t"), col("s").desc)
    km.withColumn("tn", coalesce(lead(col("t"), 1).over(w), lit(tau)))
      .withColumn("area", col("s") * greatest(lit(0.0),
        least(col("tn"), lit(tau)) - least(col("t"), lit(tau))))
      .agg(lit(tau).as("tau"), sum("area").as("rmst"),
        count(lit(1)).cast("long").as("n_steps"))
  }

  /** Nelson–Aalen cumulative hazard estimator (lifelines
    * NelsonAalenFitter semantics): H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ over the
    * same distinct-duration machinery as [[kaplanMeier]], with the
    * variance estimate Σ dᵢ/nᵢ². */
  def nelsonAalen(df0: DataFrame, durationCol: String,
      eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = df0.filter(col(durationCol).isNotNull &&
      col(eventCol).isNotNull)
    val t = df.groupBy(col(durationCol))
      .agg(sum(when(col(eventCol) =!= 0, 1L).otherwise(0L)).as("d"),
        sum(when(col(eventCol) === 0, 1L).otherwise(0L)).as("c"))
      .withColumn("__all__", col("d") + col("c"))
    val below = distinctValueCumCounts(
      t.select(col(durationCol), col("__all__")), durationCol, "__all__")
      .select(col(durationCol), col("__below__"))
    val tot = t.agg(sum("__all__").as("__n__"))
    val w = Window.orderBy(col(durationCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.join(below, Seq(durationCol)).crossJoin(broadcast(tot))
      .withColumn("n_risk", col("__n__") - col("__below__"))
      .withColumn("hazard", sum(
        col("d").cast("double") / col("n_risk")).over(w))
      .withColumn("hazard_var", sum(
        col("d").cast("double") /
          (col("n_risk").cast("double") * col("n_risk"))).over(w))
      .select(col(durationCol), col("d"), col("c"), col("n_risk"),
        round(col("hazard"), 6).as("hazard"),
        round(col("hazard_var"), 6).as("hazard_var"))
  }

  /** Two-group log-rank test (lifelines logrank_test): per distinct
    * event time, observed vs hypergeometric-expected events in group
    * A with the standard variance; χ²(1) = (O_A−E_A)²/V and
    * p = 2(1−Φ(√χ²)) as mirrored Column arithmetic. Same
    * distinct-duration machinery as [[kaplanMeier]]. */
  def logRank(df0: DataFrame, durationCol: String, eventCol: String,
      groupCol: String, gA: String, gB: String): DataFrame = {
    val df = df0.filter(col(durationCol).isNotNull &&
      col(eventCol).isNotNull && col(groupCol).isin(gA, gB))
    val t = df.groupBy(col(durationCol))
      .agg(
        sum(when(col(groupCol) === gA && col(eventCol) =!= 0, 1L)
          .otherwise(0L)).as("da"),
        sum(when(col(groupCol) === gA, 1L).otherwise(0L)).as("alla"),
        sum(when(col(groupCol) === gB && col(eventCol) =!= 0, 1L)
          .otherwise(0L)).as("db"),
        sum(when(col(groupCol) === gB, 1L).otherwise(0L)).as("allb"))
    val belowA = distinctValueCumCounts(
      t.select(col(durationCol), col("alla")), durationCol, "alla")
      .select(col(durationCol), col("__below__").as("ba"))
    val belowB = distinctValueCumCounts(
      t.select(col(durationCol), col("allb")), durationCol, "allb")
      .select(col(durationCol), col("__below__").as("bb"))
    val tot = t.agg(sum("alla").as("ta"), sum("allb").as("tb"))
    val terms = t.join(belowA, Seq(durationCol))
      .join(belowB, Seq(durationCol)).crossJoin(broadcast(tot))
      .withColumn("na", (col("ta") - col("ba")).cast("double"))
      .withColumn("nb", (col("tb") - col("bb")).cast("double"))
      .withColumn("dd", (col("da") + col("db")).cast("double"))
      .withColumn("nn", col("na") + col("nb"))
    val agg = terms.filter(col("dd") > 0)
      .agg(sum(col("da").cast("double")).as("oa"),
        sum(col("na") * col("dd") / col("nn")).as("ea"),
        sum(when(col("nn") > 1,
          col("na") * col("nb") * col("dd") * (col("nn") - col("dd")) /
            (col("nn") * col("nn") * (col("nn") - 1)))
          .otherwise(0.0)).as("v"))
    val chi2 = (col("oa") - col("ea")) * (col("oa") - col("ea")) /
      when(col("v") > 0, col("v"))
    agg.select(round(col("oa"), 6).as("observed_a"),
      round(col("ea"), 6).as("expected_a"),
      round(chi2, 6).as("chi2_stat"),
      round(lit(2.0) * (lit(1.0) -
        Distributions.normalCdfCol(sqrt(chi2))), 6).as("p_value"))
  }

  /** Theil T inequality index over positive values:
    *   T = Σᵢ (xᵢ/X)·ln(n·xᵢ/X),  X = Σx
    * — 0 at perfect equality, ln(n) at full concentration. One
    * aggregate for (n, X) broadcast back, one map-side term, one sum:
    * nothing rank-based, so it scales as a plain double aggregate
    * (companion to the exact [[gini]]). */
  def theilIndex(df0: DataFrame, valueCol: String): DataFrame = {
    val df = df0.filter(col(valueCol).isNotNull && col(valueCol) > 0)
    val tot = df.agg(count(lit(1)).cast("double").as("__n__"),
      sum(col(valueCol)).cast("double").as("__x__"))
    val x = col(valueCol).cast("double")
    df.crossJoin(broadcast(tot))
      .select((x / col("__x__") *
        log(col("__n__") * x / col("__x__"))).as("__t__"),
        col("__n__"))
      .groupBy(col("__n__").cast("long").as("n"))
      .agg(round(sum(col("__t__")), 6).as("theil_t"))
  }

  /** Exact trimmed mean (robust center, companion to the q172
    * winsorized mean): drop the k = floor(frac·n) smallest and
    * largest OBSERVATIONS (not distinct values — ties straddling the
    * cut contribute partially) and average the rest. Works on the
    * distinct-value table with range-bucketed strictly-below counts
    * ([[distinctValueCumCounts]] — no global window): each value
    * keeps clamp(min(below+c, n−k) − max(below, k), 0, c) copies.
    * Exact integer arithmetic until the final division. Output: n,
    * k_each, trimmed_mean. */
  def trimmedMean(df0: DataFrame, valueCol: String,
      frac: Double): DataFrame = {
    require(frac >= 0 && frac < 0.5, "trimmedMean: frac in [0, 0.5)")
    val counts = df0.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(count(lit(1)).as("__c__"))
    val below = distinctValueCumCounts(counts, valueCol, "__c__")
    val tot = counts.agg(sum("__c__").cast("long").as("__n__"))
    below.crossJoin(broadcast(tot))
      .withColumn("__k__", floor(lit(frac) * col("__n__")).cast("long"))
      .withColumn("__kc__", greatest(
        least(col("__below__") + col("__c__"), col("__n__") - col("__k__"))
          - greatest(col("__below__"), col("__k__")), lit(0L)))
      .groupBy(col("__n__"), col("__k__"))
      .agg(sum(col("__kc__") * col(valueCol)).as("__s__"),
        sum(col("__kc__")).as("__m__"))
      .select(col("__n__").as("n"), col("__k__").as("k_each"),
        round(col("__s__").cast("double") /
          col("__m__").cast("double"), 6).as("trimmed_mean"))
  }

  /** Brunner–Munzel test (Brunner & Munzel 2000) — the nonparametric
    * Behrens–Fisher solution: tests P(X<Y)+½P(X=Y) = ½ without the
    * equal-variance assumption Mann–Whitney secretly makes. Combined
    * and within-group midranks via the range-bucketed distinct-value
    * rank maps (no global window);
    *   Ŵ = n₁n₂(R̄₂−R̄₁)/(N·√(n₁v₁+n₂v₂)),
    *   v_k from Σ(R−r−R̄_k+(n_k+1)/2)² expanded over EXACT sums of
    *   2(R−r) (midranks are half-integers — doubled they are exact
    *   longs, so every sum is order-free),
    * Satterthwaite df, the common-language effect p̂, large-sample
    * two-sided normal p via the shared A&S Φ. Null Ŵ when both
    * variance terms vanish (all values identical). */
  def brunnerMunzel(df0: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String): DataFrame = {
    val pooled = df0
      .filter(col(groupCol).isin(gA, gB) && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).as("v"))
    val (rankAll, within) = LocalStrategy.cached(pooled) { pooled =>
      def withinRanks(gv: String) = {
        val c = pooled.filter(col("g") === gv).groupBy("v")
          .agg(count(lit(1)).as("__c__"))
        distinctValueRanks(c, "v", "__c__")
          .withColumnRenamed("__r__", "rwin").withColumn("g", lit(gv))
      }
      (distinctValueRanks(pooled.groupBy("v").agg(count(lit(1)).as("__c__")),
          "v", "__c__").withColumnRenamed("__r__", "rall"),
        withinRanks(gA).unionByName(withinRanks(gB)))
    }
    val stats = pooled.join(broadcast(rankAll), Seq("v"))
      .join(broadcast(within), Seq("g", "v"))
      .select(col("g"),
        (col("rall") * 2).cast("long").as("r2"),
        ((col("rall") - col("rwin")) * 2).cast("long").as("d2"))
      .groupBy("g")
      // sq4 = Σ(2(R−r))² is bounded by ~4N³, past Long at pooled
      // N ≳ 1.3M — accumulate in decimal(38,0): still exact and
      // order-free up to N ~ 1e12, no silent wraparound
      .agg(count(lit(1)).as("n"), sum("r2").as("sr2"),
        sum("d2").as("sd2"),
        sum(col("d2").cast("decimal(19,0)") * col("d2")).as("sq4"))
      .withColumn("m", col("sr2").cast("double") / (lit(2.0) * col("n")))
      .withColumn("cc",
        col("m") - (col("n").cast("double") + 1) / 2)
      .withColumn("vv",
        (col("sq4").cast("double") / 4 -
          lit(2.0) * col("cc") * (col("sd2").cast("double") / 2) +
          col("n") * col("cc") * col("cc")) / (col("n") - 1))
    val a = stats.filter(col("g") === gA).as("a")
    val b = stats.filter(col("g") === gB).as("b")
    val n1 = col("a.n").cast("double"); val n2 = col("b.n").cast("double")
    val nn = n1 + n2
    val varTerm = n1 * col("a.vv") + n2 * col("b.vv")
    val w = n1 * n2 * (col("b.m") - col("a.m")) / nn / sqrt(varTerm)
    val dfS = varTerm * varTerm /
      ((n1 * col("a.vv")) * (n1 * col("a.vv")) / (n1 - 1) +
        (n2 * col("b.vv")) * (n2 * col("b.vv")) / (n2 - 1))
    val phat = (col("b.m") - (n2 + 1) / 2) / n1
    a.crossJoin(b).select(
      col("a.n").as("n_a"), col("b.n").as("n_b"),
      phat.as("p_hat"),
      when(varTerm > 0, w).as("w_stat"),
      when(varTerm > 0, dfS).as("df"),
      when(varTerm > 0, lit(2.0) * (lit(1.0) -
        Distributions.normalCdfCol(abs(w)))).as("p_norm"))
  }

  /** Yuen's trimmed-mean t-test (Yuen 1974, Biometrika) — the robust
    * two-sample comparison the Welch t lacks under heavy tails: per
    * group trim the k = ⌊γn⌋ smallest/largest observations for the
    * trimmed mean, winsorize (clamp to the (k+1)-th / (n−k)-th order
    * statistics) for the variance, then
    *   t = (m_tA − m_tB)/√(d_A + d_B),
    *   d_g = s²_{w,g}(n_g−1)/(h_g(h_g−1)),  h = n − 2k,
    * Welch–Satterthwaite df on the d's, large-sample two-sided p via
    * the shared A&S Φ (the exact t CDF lives in
    * [[Distributions.tTwoSidedP]] for driver-side use; the normal
    * form is the engine-replayable one).
    *
    * Shape: one per-group window (rank), two rank-pick joins for the
    * winsor bounds, one conditional-sum aggregate — all keyed by the
    * group. Pass exact integers scaled so Σx² fits a long (dollars)
    * and every sum is order-free. */
  def yuenTTest(df0: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String, trim: Double = 0.2): DataFrame = {
    require(trim > 0 && trim < 0.5, s"trim in (0, 0.5): $trim")
    val base = df0
      .filter(col(groupCol).isin(gA, gB) && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).as("x"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("x"))
    val ranked = base.withColumn("rk", row_number().over(wRank))
    val ns = ranked.groupBy("g").agg(count(lit(1)).as("n"))
      .withColumn("k", floor(lit(trim) * col("n")).cast("long"))
    val j = ranked.join(ns, Seq("g"))
    val lo = j.filter(col("rk") === col("k") + 1)
      .select(col("g"), col("x").as("xlo"))
    val hi = j.filter(col("rk") === col("n") - col("k"))
      .select(col("g"), col("x").as("xhi"))
    val inTrim = col("rk") > col("k") && col("rk") <= col("n") - col("k")
    val xw = when(col("rk") <= col("k"), col("xlo"))
      .when(col("rk") > col("n") - col("k"), col("xhi"))
      .otherwise(col("x"))
    val stats = j.join(lo, Seq("g")).join(hi, Seq("g"))
      .groupBy("g")
      .agg(first("n").as("n"), first("k").as("k"),
        sum(when(inTrim, col("x"))).as("st"),
        sum(xw).as("sw"), sum(xw * xw).as("qw"))
      .withColumn("h", col("n") - lit(2) * col("k"))
      .withColumn("mt", col("st").cast("double") / col("h"))
      .withColumn("sw2",
        (col("qw").cast("double") -
          col("sw").cast("double") * col("sw").cast("double") /
            col("n")) / (col("n") - 1))
      .withColumn("d", col("sw2") * (col("n") - 1) /
        (col("h").cast("double") * (col("h") - 1)))
    val a = stats.filter(col("g") === gA).as("a")
    val b = stats.filter(col("g") === gB).as("b")
    val t = (col("a.mt") - col("b.mt")) /
      sqrt(col("a.d") + col("b.d"))
    val dfree = (col("a.d") + col("b.d")) * (col("a.d") + col("b.d")) /
      (col("a.d") * col("a.d") / (col("a.h") - 1) +
        col("b.d") * col("b.d") / (col("b.h") - 1))
    a.crossJoin(b).select(
      col("a.n").as("n_a"), col("b.n").as("n_b"),
      col("a.h").as("h_a"), col("b.h").as("h_b"),
      col("a.mt").as("tmean_a"), col("b.mt").as("tmean_b"),
      t.as("t_stat"), dfree.as("df"),
      (lit(2.0) * (lit(1.0) -
        Distributions.normalCdfCol(abs(t)))).as("p_norm"))
  }

  /** One-way random-effects intraclass correlation ICC(1,1)
    * (Shrout & Fleiss 1979) with the unbalanced-design k₀ of the
    * one-way ANOVA: how much of the variance lives BETWEEN groups —
    * the reliability/agreement measure for clustered measurements.
    *   MSB = SSB/(G−1), MSW = SSW/(N−G),
    *   k₀ = (N − Σn_i²/N)/(G−1),
    *   ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW).
    * One per-group exact-sum aggregate + one global aggregate; pass
    * an exact integer value (dollars) so Σx² stays a long.
    *
    * Determinism: Σ si²/ni is split into the exact BIGINT quotient
    * Σ(si² div ni) — an order-free integer sum — plus the bounded
    * fractional remainders Σ((si² mod ni)/ni), each in [0,1), whose
    * double-sum order error is O(G·ε) ≈ 1e-8 absolute against an
    * O(G·mean²) term, stable under 6-decimal rounding. Summing
    * si²/ni directly as doubles is partition-order-dependent and
    * hash-diverged from DuckDB at the last ulp (round-6 q375). */
  def iccOneWay(df0: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol)
    val per = df0.filter(col(groupCol).isNotNull && v.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("ni"), sum(v).as("si"),
        sum(v * v).as("qi"))
    val si2 = col("si") * col("si")
    val tot = per.agg(count(lit(1)).cast("double").as("g"),
      sum("ni").cast("double").as("n"),
      sum("si").cast("double").as("s"),
      sum("qi").cast("double").as("q"),
      sum(expr("si * si div ni")).as("sgq"),
      sum((si2 % col("ni")).cast("double") / col("ni")).as("sgf"),
      sum(col("ni") * col("ni")).cast("double").as("nn2"))
      .withColumn("sg", col("sgq").cast("double") + col("sgf"))
    val ssb = col("sg") - col("s") * col("s") / col("n")
    val ssw = col("q") - col("sg")
    val msb = ssb / (col("g") - 1)
    val msw = ssw / (col("n") - col("g"))
    val k0 = (col("n") - col("nn2") / col("n")) / (col("g") - 1)
    tot.select(col("g").cast("long").as("n_groups"),
      col("n").cast("long").as("n_obs"),
      msb.as("msb"), msw.as("msw"), k0.as("k0"),
      ((msb - msw) / (msb + (k0 - 1) * msw)).as("icc"))
  }

  /** Bland–Altman agreement analysis (Bland & Altman 1986, Lancet)
    * between two paired measurements: mean difference (bias), SD of
    * differences, the 95% limits of agreement d̄ ± z₀.₉₇₅·s_d, and
    * the share of pairs inside the limits. Differences are exact
    * integers when the inputs are (cents convention) so sums are
    * order-free; the z quantile is the Acklam constant so the
    * oracle replays it as a literal. One exact-sum aggregate + one
    * broadcast join back for the within-limits count. */
  def blandAltman(df0: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val d = col(xCol) - col(yCol)
    val z = Distributions.normSInv(0.975)
    val base = df0
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(d.as("__d__"))
    val s = base.agg(count(lit(1)).as("n"), sum("__d__").as("sd1"),
        sum(col("__d__") * col("__d__")).as("sd2"))
      .withColumn("mean_diff",
        col("sd1").cast("double") / col("n"))
      .withColumn("sd_diff", sqrt(
        (col("sd2").cast("double") -
          col("sd1").cast("double") * col("sd1").cast("double") /
            col("n")) / (col("n") - 1)))
      .withColumn("loa_lo", col("mean_diff") - lit(z) * col("sd_diff"))
      .withColumn("loa_hi", col("mean_diff") + lit(z) * col("sd_diff"))
    base.crossJoin(broadcast(s))
      .groupBy("n", "mean_diff", "sd_diff", "loa_lo", "loa_hi")
      .agg(sum(when(col("__d__") >= col("loa_lo") &&
          col("__d__") <= col("loa_hi"), 1L).otherwise(0L))
        .as("n_within"))
      .withColumn("pct_within",
        col("n_within").cast("double") / col("n"))
  }

  /** Herfindahl-Hirschman concentration index over group shares:
    * HHI = Σ_g (n_g/N)² — 1/k at uniform, 1 at monopoly. One
    * groupBy + one aggregate. */
  def herfindahl(df0: DataFrame, groupCol: String): DataFrame = {
    val counts = df0.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("__c__"))
    val tot = counts.agg(sum("__c__").cast("double").as("__t__"))
    counts.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("k"),
        round(sum(col("__c__") / col("__t__") *
          (col("__c__") / col("__t__"))), 6).as("hhi"))
  }

  /** Spearman correlation MATRIX (pandas corr(method='spearman') in
    * long form): each column is replaced by its DOUBLED average rank
    * (2r = 2·below + ties + 1 — an exact Long even at ties, pure
    * integer math end to end) and fed to the limb-exact [[corrMatrix]]
    * — the linear scaling 2r leaves Pearson-on-ranks unchanged, so
    * every sufficient sum is bit-reproducible. Listwise deletion
    * first, matching corrMatrix's documented semantics.
    *
    * Scale/latency design: ALL columns' distinct-value tables are
    * built in ONE stacked shuffle (explode to (cid, v) then groupBy)
    * instead of one groupBy per column, and one keyed
    * [[PrefixSum.before]] gives every column's rank cumsums: its
    * per-column quantile bounds and bucket offsets come from 2 small
    * driver round-trips in total, independent of column count.
    * Inputs are expected on the op's documented integer domains
    * (scaled cents / binned dollars), which both keeps the rank maps
    * compact and makes every rank arithmetic exact. */
  def corrMatrixSpearman(df0: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrixSpearman needs ≥ 2 columns")
    val df = df0.na.drop(cols)
    val stacked = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("cid"), col(c).cast("long").as("v"))): _*))
        .as("s"))
      .select(col("s.cid").as("cid"), col("s.v").as("v"))
      .groupBy("cid", "v").agg(count(lit(1)).as("c"))
    val ranked = PrefixSum.before(stacked, "v", col("c"), "__below__",
        key = Some("cid"))
      .withColumn("__rk2__", col("__below__") * 2 + col("c") + 1)
    val joined = cols.foldLeft(df) { (acc, cName) =>
      acc.join(broadcast(ranked.filter(col("cid") === cName)
          .select(col("v").as(s"__v_$cName"),
            col("__rk2__").as(s"__rk_$cName"))),
        acc(cName).cast("long") === col(s"__v_$cName"))
        .drop(s"__v_$cName")
    }
    corrMatrix(
      joined.select(cols.map(c => col(s"__rk_$c").as(c)): _*), cols)
  }

  /** Jonckheere-Terpstra test for an ORDERED alternative across k
    * independent groups (the independent-samples sibling of Page's
    * trend test): J = Σ_{i<j in the hypothesized order} U_ij with
    * U_ij = #{x_i < y_j} + ½·#{x_i = y_j}, computed from per-group
    * cumulative counts over the POOLED distinct-value table
    * ([[distinctValueCumCounts]] per group — range-bucketed, no
    * global window; the U's are exact up to the ½-tie halves).
    * z uses the standard no-tie moments
    *   E = (n² − Σn_j²)/4,  V = (n²(2n+3) − Σn_j²(2n_j+3))/72
    * (documented approximation under heavy ties), two-sided p. */
  def jonckheereTerpstra(df0: DataFrame, valueCol: String,
      groupCol: String, order: Seq[String]): DataFrame = {
    require(order.size >= 2, "jonckheereTerpstra: need ≥ 2 groups")
    val df = df0.filter(col(groupCol).isin(order: _*) &&
      col(valueCol).isNotNull)
    val counts = df.groupBy(col(valueCol))
      .agg(sum(when(col(groupCol) === order.head, 1L).otherwise(0L))
          .as("c0"),
        order.indices.tail.map(i =>
          sum(when(col(groupCol) === order(i), 1L).otherwise(0L))
            .as(s"c$i")): _*)
    val aligned = LocalStrategy.cached(counts) { counts =>
      order.indices.foldLeft(counts) { (acc, i) =>
        val bi = distinctValueCumCounts(
          counts.select(col(valueCol), col(s"c$i")), valueCol, s"c$i")
          .select(col(valueCol), col("__below__").as(s"b$i"))
        acc.join(bi, Seq(valueCol))
      }
    }
    val pairTerms = for {
      i <- order.indices; j <- order.indices if i < j
    } yield col(s"c$j") * col(s"b$i") +
      col(s"c$j") * col(s"c$i") / lit(2.0)
    val groupSizes = order.indices.map(i => sum(col(s"c$i")).as(s"n$i"))
    val agg = aligned.agg(
      sum(pairTerms.reduce(_ + _)).as("j_stat"), groupSizes: _*)
    val n = order.indices.map(i => col(s"n$i").cast("double"))
      .reduce(_ + _)
    val sumN2 = order.indices.map { i =>
      val d = col(s"n$i").cast("double"); d * d
    }.reduce(_ + _)
    val sumN23 = order.indices.map { i =>
      val d = col(s"n$i").cast("double"); d * d * (d * 2 + 3)
    }.reduce(_ + _)
    val e = (n * n - sumN2) / 4
    val v = (n * n * (n * 2 + 3) - sumN23) / 72
    val z = (col("j_stat") - e) / sqrt(when(v > 0, v))
    agg.select(round(col("j_stat"), 6).as("j_stat"),
      round(z, 6).as("z"),
      round(lit(2.0) * (lit(1.0) -
        Distributions.normalCdfCol(abs(z))), 6).as("p_value"))
  }

  /** Population Stability Index between two cohorts over EXPLICIT
    * bin breaks (the model-monitoring drift metric):
    *   PSI = Σ_bins (p_A − p_B)·ln(p_A/p_B),
    * shares clamped at `eps` so empty bins contribute finitely (the
    * standard convention, mirrored by the oracle). Caller supplies
    * breaks — deterministic and portable, no quantile drift between
    * runs. Returns per-bin rows with the total repeated. */
  def psi(df0: DataFrame, valueCol: String, groupCol: String,
      gA: String, gB: String, breaks: Seq[Double],
      eps: Double = 1e-6): DataFrame = {
    require(breaks.nonEmpty, "psi: need at least one break")
    val df = df0.filter(col(groupCol).isin(gA, gB) &&
      col(valueCol).isNotNull)
    val v = col(valueCol).cast("double")
    val bin = breaks.foldLeft(lit(0)) { (acc, b) =>
      acc + when(v > b, 1).otherwise(0)
    }
    val counts = df.withColumn("__bin__", bin)
      .groupBy("__bin__")
      .agg(sum(when(col(groupCol) === gA, 1L).otherwise(0L)).as("na"),
        sum(when(col(groupCol) === gB, 1L).otherwise(0L)).as("nb"))
    val tot = counts.agg(sum("na").cast("double").as("ta"),
      sum("nb").cast("double").as("tb"))
    val withP = counts.crossJoin(broadcast(tot))
      .withColumn("pa", greatest(col("na") / col("ta"), lit(eps)))
      .withColumn("pb", greatest(col("nb") / col("tb"), lit(eps)))
      .withColumn("contrib",
        (col("pa") - col("pb")) * log(col("pa") / col("pb")))
    val total = withP.agg(sum("contrib").as("psi"))
    withP.crossJoin(broadcast(total))
      .select(col("__bin__").as("bin"), col("na"), col("nb"),
        round(col("pa"), 6).as("p_a"), round(col("pb"), 6).as("p_b"),
        round(col("contrib"), 6).as("contrib"),
        round(col("psi"), 6).as("psi"))
  }

  /** Box–Cox profile log-likelihood over a λ grid (Box & Cox 1964):
    * for each candidate λ, t = (yᵡ−1)/λ (ln y at λ=0) and
    *   LL(λ) = −n/2·ln(σ̂²_t) + (λ−1)·Σ ln y,
    * emitted as one row per λ with the argmax flagged — the variance-
    * stabilizing power transform chosen the standard way. Positive
    * values only (rows with y ≤ 0 are dropped). One bounded-grid
    * cross join (|λ| rows) + one per-λ aggregate + a 1-row Σln y
    * broadcast. The canonical half-integer exponents
    * {−2,−1,−½,0,½,1,2} are computed via sqrt/division/multiply —
    * IEEE-exact and engine-identical; other λ fall back to pow(),
    * whose last-ulp may differ across engines (documented). */
  def boxCoxProfile(df0: DataFrame, valueCol: String,
      lambdas: Seq[Double] = Seq(-2.0, -1.0, -0.5, 0.0, 0.5, 1.0,
        2.0)): DataFrame = {
    require(lambdas.nonEmpty, "boxCoxProfile needs a lambda grid")
    import org.apache.spark.sql.expressions.Window
    val y = col(valueCol).cast("double")
    val base = df0.filter(y.isNotNull && y > 0)
    val slny = base.agg(sum(log(y)).as("slny"),
      count(lit(1)).cast("double").as("n"))
    val spark0 = df0.sparkSession
    import spark0.implicits._
    val grid = lambdas.toDF("lambda")
    def tFor(lam: Column): Column = {
      val p = when(lam === 0.5, sqrt(y))
        .when(lam === 2.0, y * y)
        .when(lam === -1.0, lit(1.0) / y)
        .when(lam === -0.5, lit(1.0) / sqrt(y))
        .when(lam === -2.0, lit(1.0) / (y * y))
        .when(lam === 1.0, y)
        .otherwise(pow(y, lam))
      when(lam === 0.0, log(y)).otherwise((p - 1) / lam)
    }
    val perLam = base.crossJoin(broadcast(grid))
      .withColumn("t", tFor(col("lambda")))
      .groupBy("lambda")
      .agg(count(lit(1)).as("nl"), sum("t").as("st"),
        sum(col("t") * col("t")).as("stt"))
      .crossJoin(broadcast(slny))
      .withColumn("ll",
        lit(-0.5) * col("n") * log((col("stt") -
          col("st") * col("st") / col("n")) / col("n")) +
          (col("lambda") - 1) * col("slny"))
    perLam.withColumn("is_best",
        col("ll") === max("ll").over(Window.partitionBy()))
      .select(col("lambda"), col("nl").cast("long").as("n"),
        col("ll"), col("is_best"))
  }

  /** Rank-based inverse-normal transform (RINT, Blom 1958 scores —
    * the GWAS/limma-standard normalization): per key, each distinct
    * value maps to Φ⁻¹((R̄ − 3/8)/(n + 1/4)) with R̄ the tie-averaged
    * midrank, forcing any distribution onto a standard normal while
    * preserving order. Returns the per-(key, value) table with
    * counts, midranks and the score (join back to rows as needed) —
    * bounded by the value domain, not the data. Midranks come from
    * a per-key window over the (key, value, count) table (keyed
    * shuffles only); Φ⁻¹ is the in-plan Acklam polynomial, replayed
    * verbatim by normSInvSql. */
  def rankInverseNormal(df0: DataFrame, valueCol: String,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "rankInverseNormal needs a key")
    import org.apache.spark.sql.expressions.Window
    val counts = df0.filter(col(valueCol).isNotNull)
      .groupBy((keyCols.map(col) :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("c"))
    val wBelow = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(valueCol)).rowsBetween(Long.MinValue, -1)
    val wTot = Window.partitionBy(keyCols.map(col): _*)
    val mid = coalesce(sum("c").over(wBelow), lit(0L)) + lit(1) +
      (col("c") - 1) / lit(2.0)
    counts
      .withColumn("n", sum("c").over(wTot))
      .withColumn("midrank", mid)
      .withColumn("rint", Distributions.normSInvCol(
        (col("midrank") - lit(0.375)) /
          (col("n").cast("double") + lit(0.25))))
  }

  /** Multi-feature drift report — the scheduled monitoring query
    * over a wide table: per feature, the PSI between two cohorts
    * over EXPLICIT per-feature breaks (the [[psi]] contract),
    * computed in ONE scan via `stack` (unpivot) + one (feature, bin)
    * aggregate + one bounded per-feature finalization. Returns one
    * row per feature: cohort sizes and the PSI (< 0.1 stable,
    * 0.1–0.25 moderate, > 0.25 major shift by the usual reading). */
  def driftReport(df0: DataFrame, cohortCol: String, gA: String,
      gB: String, features: Seq[(String, Seq[Double])],
      eps: Double = 1e-6): DataFrame = {
    require(features.nonEmpty && features.forall(_._2.nonEmpty),
      "driftReport needs features each with at least one break")
    val stackExpr = expr("stack(" + features.size + ", " +
      features.map { case (f, _) => s"'$f', cast($f as double)" }
        .mkString(", ") + ") as (feature, v)")
    val stacked = df0.filter(col(cohortCol).isin(gA, gB))
      .select(col(cohortCol).as("__g__"), stackExpr)
      .filter(col("v").isNotNull)
    def binOf(breaks: Seq[Double]) = breaks.foldLeft(lit(0)) {
      (acc, b) => acc + when(col("v") > b, 1).otherwise(0)
    }
    val bin = features.tail.foldLeft(
      when(col("feature") === features.head._1,
        binOf(features.head._2))) { case (acc, (f, brs)) =>
      acc.when(col("feature") === f, binOf(brs))
    }
    val counts = stacked.withColumn("__bin__", bin)
      .groupBy(col("feature"), col("__bin__"))
      .agg(sum(when(col("__g__") === gA, 1L).otherwise(0L)).as("na"),
        sum(when(col("__g__") === gB, 1L).otherwise(0L)).as("nb"))
    val tot = counts.groupBy("feature")
      .agg(sum("na").cast("double").as("ta"),
        sum("nb").cast("double").as("tb"))
    // when() guards keep ANSI mode happy if a cohort is empty for a
    // feature (clamps to eps, same as the division's limit would)
    counts.join(tot, Seq("feature"))
      .withColumn("pa", greatest(when(col("ta") > 0,
        col("na") / col("ta")).otherwise(lit(0.0)), lit(eps)))
      .withColumn("pb", greatest(when(col("tb") > 0,
        col("nb") / col("tb")).otherwise(lit(0.0)), lit(eps)))
      .withColumn("contrib",
        (col("pa") - col("pb")) * log(col("pa") / col("pb")))
      .groupBy("feature")
      .agg(sum("na").as("n_a"), sum("nb").as("n_b"),
        sum("contrib").as("psi"))
  }

  /** Gini coefficient over non-negative values — exact, tie-correct:
    * with the distinct-value table (value v, count c, strictly-below
    * cumulative count b from [[distinctValueCumCounts]] — range-
    * bucketed, no global window), the positional sum
    *   Σᵢ i·x₍ᵢ₎ = Σ_v v·(c·b + c(c+1)/2)
    * is an exact integer, and G = 2S/(n·Σx) − (n+1)/n.
    * Exact while max(v)·n² < 2⁶³ — rescale coarser units (dollars,
    * not cents) past ~10⁶ rows of large values. */
  def gini(df0: DataFrame, valueCol: String): DataFrame = {
    val df = df0.filter(col(valueCol).isNotNull && col(valueCol) >= 0)
    val counts = df.groupBy(col(valueCol))
      .agg(count(lit(1)).as("__c__"))
    val cum = distinctValueCumCounts(counts, valueCol, "__c__")
    // c(c+1)/2 kept integral (Spark `/` is double division; the cast
    // back is exact for c < 2²⁶) so the whole sum stays a Long
    val half = (col("__c__") * (col("__c__") + 1) / 2).cast("long")
    val agg = cum.agg(
      sum(col(valueCol) * (col("__c__") * col("__below__") + half))
        .as("s"),
      sum(col("__c__")).as("n"),
      sum(col(valueCol) * col("__c__")).as("sx"))
    val n = col("n").cast("double")
    val g = lit(2.0) * col("s") / (n * col("sx")) - (n + 1) / n
    agg.select(col("n"), round(g, 6).as("gini"))
  }

  /** Lorenz curve at `nBuckets` population deciles — the graphical
    * companion of [[gini]]: cumulative population share vs cumulative
    * value share, ascending by value. Bucket assignment is a pure
    * function of the strictly-below cumulative count
    * (floor(nB·b/n), capped) — deterministic under ties, no global
    * window; value sums stay integral in DECIMAL(38,0); the
    * cumulative window runs over ≤ nBuckets rows. */
  def lorenzDeciles(df0: DataFrame, valueCol: String,
      nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = df0.filter(col(valueCol).isNotNull && col(valueCol) >= 0)
    val counts = df.groupBy(col(valueCol))
      .agg(count(lit(1)).as("__c__"))
    val cum = distinctValueCumCounts(counts, valueCol, "__c__")
    val tot = cum.agg(sum(col("__c__")).as("__n__"),
      sum(col(valueCol).cast("decimal(38,0)") * col("__c__"))
        .as("__sv__"))
    val withTot = cum.crossJoin(broadcast(tot))
    val bucket = least(
      floor(col("__below__").cast("double") * nBuckets / col("__n__")),
      lit(nBuckets - 1)).cast("long")
    val perBucket = withTot.groupBy(bucket.as("decile"))
      .agg(sum(col("__c__")).cast("long").as("n"),
        sum(col(valueCol).cast("decimal(38,0)") * col("__c__"))
          .as("__v__"),
        first(col("__n__")).as("__n__"),
        first(col("__sv__")).as("__sv__"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("__cn__", sum(col("n")).over(w))
      .withColumn("__cv__", sum(col("__v__")).over(w))
      .select(col("decile"), col("n"),
        round(col("__cn__").cast("double") / col("__n__"), 6)
          .as("cum_pop_share"),
        round(col("__cv__").cast("double") /
          col("__sv__").cast("double"), 6).as("cum_value_share"))
  }

  /** Mantel-Haenszel pooled odds ratio across strata (the stratified
    * A/B effect estimate): per-stratum 2×2 cells from one groupBy,
    *   OR_MH = Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i),
    * plus the MH χ²(1) statistic (no continuity correction) from
    * E_i = r1_i·c1_i/n_i and V_i = r1_i·r2_i·c1_i·c2_i/(n_i²(n_i−1)),
    * p = 2(1−Φ(√χ²)) — all Column arithmetic the oracle replays.
    * Strata with n < 2 are excluded (V undefined). */
  def mantelHaenszel(df0: DataFrame, stratumCol: String, xCol: String,
      yCol: String): DataFrame = {
    val df = df0.filter(col(stratumCol).isNotNull &&
      col(xCol).isNotNull && col(yCol).isNotNull)
    val x1 = col(xCol) =!= 0; val y1 = col(yCol) =!= 0
    val cells = df.groupBy(col(stratumCol))
      .agg(sum(when(x1 && y1, 1L).otherwise(0L)).as("a"),
        sum(when(x1 && !y1, 1L).otherwise(0L)).as("b"),
        sum(when(!x1 && y1, 1L).otherwise(0L)).as("c"),
        sum(when(!x1 && !y1, 1L).otherwise(0L)).as("d"))
      .filter(col("a") + col("b") + col("c") + col("d") >= 2)
    val a = col("a").cast("double"); val b = col("b").cast("double")
    val c = col("c").cast("double"); val dd = col("d").cast("double")
    val n = a + b + c + dd
    val agg = cells.agg(
      sum(a * dd / n).as("s_ad"), sum(b * c / n).as("s_bc"),
      sum(a).as("s_a"),
      sum((a + b) * (a + c) / n).as("s_e"),
      sum((a + b) * (c + dd) * (a + c) * (b + dd) /
        (n * n * (n - 1))).as("s_v"))
    val orMh = when(col("s_bc") > 0, col("s_ad") / col("s_bc"))
    val chi2 = (col("s_a") - col("s_e")) * (col("s_a") - col("s_e")) /
      when(col("s_v") > 0, col("s_v"))
    agg.select(round(orMh, 6).as("or_mh"),
      round(chi2, 6).as("chi2_mh"),
      round(lit(2.0) * (lit(1.0) -
        Distributions.normalCdfCol(sqrt(chi2))), 6).as("p_value"))
  }

  /** CUPED variance reduction (the standard pre-experiment covariate
    * adjustment): θ = Cov(x,y)/Var(x) from exact Long sufficient
    * sums, then the map-side adjusted metric
    *   y_cuped = y − θ·(x − x̄).
    * Inputs integer-typed (cents pattern). Returns the input plus
    * y_cuped — mean(y_cuped) = mean(y) by construction and variance
    * shrinks by the squared correlation. */
  def cuped(df0: DataFrame, yCol: String, xCol: String,
      outName: String = "y_cuped"): DataFrame = {
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val s = df.agg(count(lit(1)).as("nn"),
      sum(col(xCol)).as("sx"), sum(col(yCol)).as("sy"),
      sum(col(xCol) * col(xCol)).as("sxx"),
      sum(col(xCol) * col(yCol)).as("sxy"))
    val n = col("nn").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val varX = n * col("sxx") - sx * sx
    val theta = when(varX > 0,
      (n * col("sxy") - sx * sy) / varX)
    val stats = s.select(theta.as("__theta__"),
      (sx / n).as("__xbar__"))
    df.crossJoin(broadcast(stats))
      .withColumn(outName,
        col(yCol) - col("__theta__") *
          (col(xCol) - col("__xbar__")))
      .drop("__theta__", "__xbar__")
  }

  /** First-order partial correlation r_xy·z — the correlation of x
    * and y with z controlled for:
    *   r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)).
    * ONE aggregate collects all exact Long sufficient sums (inputs
    * must be integer-typed — cents pattern, same contract as
    * corrMatrix); the pairwise r's and the closed form run in doubles
    * mirrored op-for-op by the oracle. */
  def partialCorr(df0: DataFrame, x: String, y: String,
      z: String): DataFrame = {
    val df = df0.filter(col(x).isNotNull && col(y).isNotNull &&
      col(z).isNotNull)
    val s = df.agg(count(lit(1)).as("n"),
      sum(col(x)).as("sx"), sum(col(y)).as("sy"), sum(col(z)).as("sz"),
      sum(col(x) * col(x)).as("sxx"), sum(col(y) * col(y)).as("syy"),
      sum(col(z) * col(z)).as("szz"), sum(col(x) * col(y)).as("sxy"),
      sum(col(x) * col(z)).as("sxz"), sum(col(y) * col(z)).as("syz"))
    val n = col("n").cast("double")
    def r(sab: String, sa: String, sb: String, saa: String,
        sbb: String) = {
      val da = col(sa).cast("double"); val db = col(sb).cast("double")
      (n * col(sab) - da * db) /
        (sqrt(n * col(saa) - da * da) * sqrt(n * col(sbb) - db * db))
    }
    val rxy = r("sxy", "sx", "sy", "sxx", "syy")
    val rxz = r("sxz", "sx", "sz", "sxx", "szz")
    val ryz = r("syz", "sy", "sz", "syy", "szz")
    val den = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    val pc = (rxy - rxz * ryz) / sqrt(when(den > 0, den))
    s.select(round(rxy, 6).as("r_xy"), round(rxz, 6).as("r_xz"),
      round(ryz, 6).as("r_yz"), round(pc, 6).as("r_xy_z"))
  }

  /** Winsorize: clip a column to its [lo, hi] exact percentiles
    * (scipy.stats.mstats.winsorize semantics on the value scale) —
    * one percentile aggregate broadcast back, map-side clip. */
  def winsorize(df: DataFrame, c: String, lo: Double = 0.05,
      hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, s"winsorize: [$lo,$hi]")
    val q = df.agg(percentile(col(c), lit(lo)).as("__qlo__"),
      percentile(col(c), lit(hi)).as("__qhi__"))
    df.crossJoin(broadcast(q))
      .withColumn(s"${c}_wins",
        least(greatest(col(c).cast("double"), col("__qlo__")),
          col("__qhi__")))
      .drop("__qlo__", "__qhi__")
  }

  /** Benjamini-Hochberg FDR adjustment over a p-value table:
    * p_adj(i) = min_{j ≥ i} min(1, n·p_(j)/j) for ascending ranks i.
    * Ties in p get identical adjusted values (the suffix-min absorbs
    * the rank ambiguity), so the result is deterministic.
    *
    * Scale note: a p-value table has one row per HYPOTHESIS —
    * metadata scale by construction — so the positional sort runs as
    * a plain global window by design (same documented regime as
    * transpose/DFS). */
  def benjaminiHochberg(df0: DataFrame, pCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = df0.filter(col(pCol).isNotNull)
    val ranked = df
      .withColumn("__i__", row_number().over(Window.orderBy(col(pCol))))
      .withColumn("__n__", count(lit(1)).over(
        Window.partitionBy(lit(1))))
    val wSuffix = Window.orderBy(col("__i__"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ranked
      .withColumn("__padj__",
        min(col(pCol) * col("__n__") / col("__i__")).over(wSuffix))
      .withColumn(s"${pCol}_adj", least(lit(1.0), col("__padj__")))
      .drop("__i__", "__n__", "__padj__")
  }

  /** Categorical feature screening: [[informationGain]] of the label
    * from EVERY listed feature, one row per feature ranked by
    * uncertainty coefficient — the categorical analogue of the
    * F-score table (featureScores). The feature list is bounded and
    * client-side; each feature costs one cell-bounded aggregate. */
  def informationGainMulti(df: DataFrame, features: Seq[String],
      labelCol: String): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    features.map { f =>
      informationGain(df, f, labelCol)
        .select(lit(f).as("feature"), col("h_y"),
          col("h_y_given_x"), col("info_gain"),
          col("uncertainty_coef"))
    }.reduce(_ unionByName _)
      .orderBy(col("uncertainty_coef").desc, col("feature"))
  }

  /** Importance-weighted mean with the Taylor-linearized standard
    * error (survey / importance-sampling estimation — how to read a
    * weighted sample of the corpus): x̄w = Σwx/Σw,
    * se = √(Σw²(x−x̄w)²)/Σw (Hájek linearization), and Kish's
    * effective sample size n_eff = (Σw)²/Σw². ONE aggregate of five
    * sums via the algebraic expansion Σw²(x−m)² = Σw²x² − 2m·Σw²x +
    * m²·Σw² — no second pass. Integral w/x (cents pattern) keep the
    * sums exact. */
  def weightedMeanSe(df0: DataFrame, valueCol: String,
      weightCol: String): DataFrame = {
    val df = df0.filter(col(valueCol).isNotNull &&
      col(weightCol).isNotNull && col(weightCol) > 0)
    val x = col(valueCol); val w = col(weightCol)
    val s = df.agg(count(lit(1)).cast("double").as("n"),
      sum(w).cast("double").as("sw"),
      sum(w * x).cast("double").as("swx"),
      sum(w * w).cast("double").as("sww"),
      sum(w * w * x).cast("double").as("swwx"),
      sum(w * w * x * x).cast("double").as("swwxx"))
    val m = col("swx") / col("sw")
    val lin = col("swwxx") - lit(2.0) * m * col("swwx") +
      m * m * col("sww")
    s.select(col("n").cast("long").as("n"),
      round(m, 6).as("weighted_mean"),
      round(sqrt(greatest(lit(0.0), lin)) / col("sw"), 6).as("se"),
      round(col("sw") * col("sw") / col("sww"), 6).as("n_eff"))
  }

  /** Information gain of Y from X over two categoricals: H(Y),
    * conditional H(Y|X) = −Σ (n_xy/n)·ln(n_xy/n_x), IG = H(Y) −
    * H(Y|X), and Theil's uncertainty coefficient U(Y|X) = IG/H(Y)
    * (the ASYMMETRIC sibling of [[normalizedMutualInfo]] — which
    * predictor tells you most about the label). One cell-count
    * aggregate bounded by |X|·|Y|. */
  def informationGain(df0: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    // no cache: every branch below lands in ONE final plan, so
    // Spark's ReuseExchange dedupes the cell-count shuffle; a cache
    // here would leak one persisted plan per screened feature when
    // called from informationGainMulti
    val cells = df.groupBy(col(xCol).as("__x__"), col(yCol).as("__y__"))
      .agg(count(lit(1)).cast("double").as("__c__"))
    val nTot = cells.agg(sum(col("__c__")).as("__n__"))
    val hx = cells.groupBy(col("__x__"))
      .agg(sum(col("__c__")).as("__nx__"))
    val hy = cells.groupBy(col("__y__"))
      .agg(sum(col("__c__")).as("__ny__"))
    val hOfY = hy.crossJoin(broadcast(nTot))
      .agg((-sum(col("__ny__") / col("__n__") *
        log(col("__ny__") / col("__n__")))).as("h_y"))
    val hCond = cells.join(broadcast(hx), Seq("__x__"))
      .crossJoin(broadcast(nTot))
      .agg((-sum(col("__c__") / col("__n__") *
        log(col("__c__") / col("__nx__")))).as("h_y_given_x"))
    hOfY.crossJoin(hCond)
      .select(round(col("h_y"), 6).as("h_y"),
        round(col("h_y_given_x"), 6).as("h_y_given_x"),
        round(col("h_y") - col("h_y_given_x"), 6).as("info_gain"),
        round(when(col("h_y") > 0,
          (col("h_y") - col("h_y_given_x")) / col("h_y"))
          .otherwise(lit(0.0)), 6).as("uncertainty_coef"))
  }

  /** Fano factor / index of dispersion per key: variance-to-mean
    * ratio of the per-bucket event counts — the burstiness
    * diagnostic (1 = Poisson, > 1 overdispersed/bursty, < 1
    * regular). Two keyed aggregates: bucket counts, then exact
    * moment sums per key. */
  def fanoFactor(df0: DataFrame, keyCol: String,
      bucketCol: String): DataFrame = {
    val df = df0.filter(col(keyCol).isNotNull &&
      col(bucketCol).isNotNull)
    val counts = df.groupBy(col(keyCol), col(bucketCol))
      .agg(count(lit(1)).as("__c__"))
    counts.groupBy(col(keyCol))
      .agg(count(lit(1)).cast("double").as("__k__"),
        sum(col("__c__")).cast("double").as("__s1__"),
        sum(col("__c__") * col("__c__")).cast("double").as("__s2__"))
      .filter(col("__k__") > 1)
      .select(col(keyCol), col("__k__").cast("long").as("n_buckets"),
        round(col("__s1__") / col("__k__"), 6).as("mean_count"),
        round(((col("__s2__") - col("__s1__") * col("__s1__") /
          col("__k__")) / (col("__k__") - 1)) /
          (col("__s1__") / col("__k__")), 6).as("fano"))
  }

  /** Modified z-score outliers (Iglewicz–Hoaglin): Mᵢ =
    * 0.6745·(xᵢ − med)/MAD with the GLOBAL median and median
    * absolute deviation — the robust replacement for ±3σ flagging
    * (|M| > 3.5 is the published criterion). Two exact-percentile
    * aggregates broadcast back; flagging is map-side. Zero-MAD
    * (≥ half the data identical) yields null scores, flagged only
    * when x ≠ med. */
  def modifiedZScore(df0: DataFrame, valueCol: String,
      threshold: Double = 3.5): DataFrame = {
    val v = col(valueCol).cast("double")
    val df = df0.filter(col(valueCol).isNotNull)
    val med1 = df.agg(percentile(v, lit(0.5)).as("__med__"))
    val withDev = df.crossJoin(broadcast(med1))
      .withColumn("__dev__", abs(v - col("__med__")))
    val mad1 = withDev.agg(
      percentile(col("__dev__"), lit(0.5)).as("__mad__"))
    withDev.crossJoin(broadcast(mad1))
      .withColumn("mod_z",
        when(col("__mad__") > 0,
          round(lit(0.6745) * (v - col("__med__")) / col("__mad__"), 6)))
      .withColumn("outlier",
        when(col("__mad__") > 0, abs(col("mod_z")) > threshold)
          .otherwise(v =!= col("__med__")))
      .drop("__med__", "__dev__", "__mad__")
  }

  /** Per-key Shannon entropy of a categorical mix (behavioral-
    * diversity profiling: how spread is each user's event mix):
    * H = −Σ p ln p over the key's category distribution, plus the
    * normalized H/ln(k_cats) in [0,1] and the category count. Two
    * keyed aggregates — (key, cat) counts then the per-key entropy
    * fold; both shuffle on the key, nothing global. */
  def groupEntropy(df0: DataFrame, keyCol: String,
      catCol: String): DataFrame = {
    val df = df0.filter(col(keyCol).isNotNull && col(catCol).isNotNull)
    val cc = df.groupBy(col(keyCol), col(catCol))
      .agg(count(lit(1)).cast("double").as("__c__"))
    val tot = cc.groupBy(col(keyCol))
      .agg(sum(col("__c__")).as("__n__"), count(lit(1)).as("__k__"))
    cc.join(tot, Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(first(col("__n__")).cast("long").as("n"),
        first(col("__k__")).as("k_cats"),
        (-sum(col("__c__") / col("__n__") *
          log(col("__c__") / col("__n__")))).as("__h__"))
      .select(col(keyCol), col("n"), col("k_cats"),
        round(col("__h__"), 6).as("entropy"),
        round(when(col("k_cats") > 1,
          col("__h__") / log(col("k_cats").cast("double")))
          .otherwise(lit(0.0)), 6).as("entropy_norm"))
  }

  /** Holm–Bonferroni step-down adjustment over a p-value table (the
    * FWER sibling of [[benjaminiHochberg]]): order p ascending,
    * adj_i = max_{j≤i} min(1, (m−j+1)·p_j) — a prefix cummax window
    * over the (metadata-scale) p table. Also emits the plain
    * Bonferroni m·p for reference. */
  def holmBonferroni(df0: DataFrame, pCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = df0.filter(col(pCol).isNotNull)
    val ranked = df
      .withColumn("__i__", row_number().over(Window.orderBy(col(pCol))))
      .withColumn("__n__", count(lit(1)).over(
        Window.partitionBy(lit(1))))
    val wPrefix = Window.orderBy(col("__i__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .withColumn("__step__",
        least(lit(1.0), col(pCol) * (col("__n__") - col("__i__") + 1)))
      .withColumn(s"${pCol}_holm", max(col("__step__")).over(wPrefix))
      .withColumn(s"${pCol}_bonferroni",
        least(lit(1.0), col(pCol) * col("__n__")))
      .drop("__i__", "__n__", "__step__")
  }

  /** Mood's median test across k groups: counts above / not-above
    * the POOLED median (exact percentile, broadcast back), χ² over
    * the 2×k table with the margin-expected counts; dof = k−1.
    * Robust to outliers, the coarse sibling of Kruskal–Wallis. */
  def moodsMedianTest(df0: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val df = df0.filter(col(valueCol).isNotNull &&
      col(groupCol).isNotNull)
    val medTab = df.agg(
      percentile(col(valueCol), lit(0.5)).as("__med__"))
    val flagged = df.crossJoin(broadcast(medTab))
      .withColumn("__ab__",
        (col(valueCol).cast("double") > col("__med__")).cast("long"))
    val g = flagged.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("__ab__")).cast("double").as("a"))
    val tot = g.agg(count(lit(1)).cast("double").as("k"),
      sum(col("n")).as("nn"), sum(col("a")).as("aa"))
    val e = g.crossJoin(broadcast(tot))
      .select(col("k"), col("nn"),
        // expected above = n * (aa/nn); chi2 adds both rows of the
        // 2xk table: (a-e)²/e + ((n-a)-(n-e))²/(n-e)
        ((col("a") - col("n") * (col("aa") / col("nn"))) *
          (col("a") - col("n") * (col("aa") / col("nn"))) /
          (col("n") * (col("aa") / col("nn"))) +
         ((col("n") - col("a")) -
           col("n") * (lit(1.0) - col("aa") / col("nn"))) *
          ((col("n") - col("a")) -
            col("n") * (lit(1.0) - col("aa") / col("nn"))) /
          (col("n") * (lit(1.0) - col("aa") / col("nn")))).as("cell"))
    e.groupBy(col("k"), col("nn"))
      .agg(sum(col("cell")).as("chi2"))
      .select(round(col("chi2"), 6).as("chi2"),
        (col("k") - 1).cast("long").as("dof"),
        col("nn").cast("long").as("n"))
      .withColumn("p_value",
        round(chi2PUdf(col("chi2"), (col("dof")).cast("double")), 6))
  }

  /** Cochran–Armitage trend test for a dose-ordered 2×k table
    * (proportion trend across ordered groups — the A/B dose-response
    * test): with group scores s_j, successes r_j, sizes n_j,
    *   T = Σ s_j (r_j − n_j·p̄),  Var = p̄(1−p̄)[Σ n_j s_j² −
    *       (Σ n_j s_j)²/N],  z = T/√Var.
    * One grouped conditional-count aggregate; the score column must
    * be numeric (dose order). */
  def cochranArmitage(df0: DataFrame, scoreCol: String,
      successCol: String): DataFrame = {
    val df = df0.filter(col(scoreCol).isNotNull &&
      col(successCol).isNotNull)
    val s = col(scoreCol).cast("double")
    val succ = col(successCol).cast("boolean")
    val g = df.groupBy(s.as("s"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(when(succ, 1L).otherwise(0L)).cast("double").as("r"))
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("r")).as("rr"))
    val e = g.crossJoin(broadcast(tot))
      .withColumn("pbar", col("rr") / col("nn"))
    val agg = e.agg(
      first(col("nn")).as("nn"), first(col("pbar")).as("pbar"),
      sum(col("s") * (col("r") - col("n") * col("pbar"))).as("t"),
      sum(col("n") * col("s") * col("s")).as("snss"),
      sum(col("n") * col("s")).as("sns"),
      count(lit(1)).as("k"))
    val varT = col("pbar") * (lit(1.0) - col("pbar")) *
      (col("snss") - col("sns") * col("sns") / col("nn"))
    val z = col("t") / sqrt(varT)
    agg.select(col("k").cast("long").as("k"),
        col("nn").cast("long").as("n"),
        round(col("t"), 6).as("t_stat"), round(z, 6).as("z"))
      .withColumn("p_value",
        round(lit(2.0) * (lit(1.0) -
          Distributions.normalCdfCol(abs(col("z")))), 6))
  }

  /** Per-group binomial proportion confidence intervals: Wald
    * p̂ ± z·√(p̂(1−p̂)/n) and Wilson score
    *   (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    * — the interval that behaves at extreme p̂ (the recommended
    * default). One conditional-count aggregate per group; z fixed at
    * 1.959964 (95%). */
  def proportionCi(df0: DataFrame, groupCol: String,
      successCol: String): DataFrame = {
    val zc = lit(1.959964)
    val df = df0.filter(col(groupCol).isNotNull &&
      col(successCol).isNotNull)
    val succ = col(successCol).cast("boolean")
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(when(succ, 1L).otherwise(0L)).cast("double").as("r"))
    val p = col("r") / col("n")
    val waldHalf = zc * sqrt(p * (lit(1.0) - p) / col("n"))
    val z2n = zc * zc / col("n")
    val center = (p + z2n / 2) / (lit(1.0) + z2n)
    val half = zc * sqrt(p * (lit(1.0) - p) / col("n") +
      zc * zc / (lit(4.0) * col("n") * col("n"))) / (lit(1.0) + z2n)
    g.select(col(groupCol), col("n").cast("long").as("n"),
      col("r").cast("long").as("successes"),
      round(p, 6).as("p_hat"),
      round(greatest(lit(0.0), p - waldHalf), 6).as("wald_lo"),
      round(least(lit(1.0), p + waldHalf), 6).as("wald_hi"),
      round(center - half, 6).as("wilson_lo"),
      round(center + half, 6).as("wilson_hi"))
  }

  /** Odds ratio of a 2×2 table of two 0/1 columns, with the Wald
    * 95% CI: OR = ad/bc, CI = exp(ln OR ± z·√(1/a+1/b+1/c+1/d)).
    * Any empty cell → null estimates (no Haldane fudge — callers who
    * want the +0.5 correction can add it to the inputs). */
  def oddsRatio(df0: DataFrame, xCol: String, yCol: String): DataFrame = {
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val x1 = col(xCol) =!= 0; val y1 = col(yCol) =!= 0
    val agg = df.agg(
      sum(when(x1 && y1, 1L).otherwise(0L)).as("a"),
      sum(when(x1 && !y1, 1L).otherwise(0L)).as("b"),
      sum(when(!x1 && y1, 1L).otherwise(0L)).as("c"),
      sum(when(!x1 && !y1, 1L).otherwise(0L)).as("d"))
    val a = col("a").cast("double"); val b = col("b").cast("double")
    val c = col("c").cast("double"); val dd = col("d").cast("double")
    val ok = least(a, b, c, dd) > 0
    val z975 = 1.959963984540054 // Φ⁻¹(0.975)
    val orr = when(ok, a * dd / (b * c))
    val logOr = when(ok, log(a * dd / (b * c)))
    val se = when(ok, sqrt(lit(1.0) / a + lit(1.0) / b +
      lit(1.0) / c + lit(1.0) / dd))
    agg.select(col("a"), col("b"), col("c"), col("d"),
      round(orr, 6).as("odds_ratio"),
      round(logOr, 6).as("log_or"),
      round(exp(logOr - lit(z975) * se), 6).as("ci_lo"),
      round(exp(logOr + lit(z975) * se), 6).as("ci_hi"))
  }

  /** McNemar test for PAIRED binary outcomes (2×2 within-subject):
    * with b = #(1→0) and c = #(0→1) discordant pairs,
    * χ² = (b−c)²/(b+c) (no continuity correction — mirrored by the
    * oracle), df = 1, so p = 2(1−Φ(√χ²)) — pure Column arithmetic an
    * oracle engine replays verbatim. One aggregate row. */
  def mcnemar(df0: DataFrame, xCol: String, yCol: String): DataFrame = {
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val agg = df.agg(
      sum(when(col(xCol) =!= 0 && col(yCol) === 0, 1L).otherwise(0L))
        .as("b"),
      sum(when(col(xCol) === 0 && col(yCol) =!= 0, 1L).otherwise(0L))
        .as("c"))
    val b = col("b").cast("double"); val c = col("c").cast("double")
    // no discordant pairs -> no evidence either way (null, not 0/0)
    val chi2 = (b - c) * (b - c) / when(b + c > 0, b + c)
    agg.select(col("b"), col("c"), round(chi2, 6).as("chi2_stat"),
      round(lit(2.0) * (lit(1.0) -
        Distributions.normalCdfCol(sqrt(chi2))), 6).as("p_value"))
  }

  /** Cochran's Q test for k REPEATED binary treatments over complete
    * blocks (the binary Friedman): with column totals C_j, row totals
    * R_i, grand total N,
    *   Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²),
    * df = k−1, χ² upper-tail p. Caller supplies one 0/1 measurement
    * per (block, treatment) — complete the grid with zeros first.
    * All sufficient statistics are exact Long sums. */
  def cochranQ(df0: DataFrame, blockCol: String, treatCol: String,
      xCol: String): DataFrame = {
    val df = df0.filter(col(blockCol).isNotNull &&
      col(treatCol).isNotNull && col(xCol).isNotNull)
      .withColumn("__x__", when(col(xCol) =!= 0, 1L).otherwise(0L))
    val colTot = df.groupBy(col(treatCol))
      .agg(sum(col("__x__")).as("cj"))
      .agg(count(lit(1)).cast("double").as("k"),
        sum(col("cj")).as("n_tot"),
        sum(col("cj") * col("cj")).as("sc2"))
    val rowTot = df.groupBy(col(blockCol))
      .agg(sum(col("__x__")).as("ri"))
      .agg(sum(col("ri") * col("ri")).as("sr2"))
    val wide = colTot.crossJoin(broadcast(rowTot))
    val k = col("k")
    val den = k * col("n_tot") - col("sr2")
    // every block constant (all-0/all-1 rows) -> undefined, null
    val q = (k - 1) * (k * col("sc2") - col("n_tot") * col("n_tot")) /
      when(den > 0, den)
    wide.select(round(q, 6).as("q_stat"),
      (k - 1).cast("long").as("dof"),
      round(chi2PUdf(q, k - 1), 6).as("p_value"))
  }

  /** Fisher's exact test on a 2×2 table of two 0/1 columns
    * (two-sided, scipy convention: sum P(table) over all tables with
    * the observed margins whose probability ≤ P(observed)·(1+1e-7)).
    * The hypergeometric tail runs as an EXPLODED expression over the
    * one aggregate row — each candidate table's log-probability is
    * Lanczos [[Distributions.lnGammaCol]] arithmetic, so the oracle
    * replays the identical doubles (no libm lgamma dependency). */
  def fisherExact(df0: DataFrame, xCol: String, yCol: String): DataFrame = {
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val x1 = col(xCol) =!= 0; val y1 = col(yCol) =!= 0
    val agg = df.agg(
      sum(when(x1 && y1, 1L).otherwise(0L)).as("a"),
      sum(when(x1 && !y1, 1L).otherwise(0L)).as("b"),
      sum(when(!x1 && y1, 1L).otherwise(0L)).as("c"),
      sum(when(!x1 && !y1, 1L).otherwise(0L)).as("d"))
    val r1 = (col("a") + col("b")).cast("double")
    val r2 = (col("c") + col("d")).cast("double")
    val c1 = (col("a") + col("c")).cast("double")
    val nn = r1 + r2
    def lg(e: Column) = Distributions.lnGammaCol(e)
    // log C(n, c1) is constant across candidate tables
    val logDen = lg(nn + 1) - lg(c1 + 1) - lg(nn - c1 + 1)
    def logP(i: Column) =
      lg(r1 + 1) - lg(i + 1) - lg(r1 - i + 1) +
        lg(r2 + 1) - lg(c1 - i + 1) - lg(r2 - c1 + i + 1) - logDen
    val iMin = greatest(lit(0.0), c1 - r2)
    val iMax = least(r1, c1)
    val obs = logP(col("a").cast("double"))
    val expanded = agg
      .withColumn("__i__",
        explode(sequence(iMin.cast("long"), iMax.cast("long"))))
      .withColumn("__lp__", logP(col("__i__").cast("double")))
    expanded
      .groupBy("a", "b", "c", "d")
      .agg(least(lit(1.0), sum(when(col("__lp__") <= obs +
          math.log1p(1e-7), exp(col("__lp__"))))).as("p"))
      .select(col("a"), col("b"), col("c"), col("d"),
        round(col("p"), 6).as("p_value"))
  }

  /** Spearman rank correlation (pandas corr(method='spearman')):
    * average ranks per column from the DISTINCT-value tables
    * ([[distinctValueRanks]] — range-bucketed, no global window),
    * broadcast back, then Pearson on the ranks from EXACT integer
    * sufficient statistics: doubled ranks 2r are integers even at
    * ties, so every sum is a Long and the only floating arithmetic is
    * the final closed form (mirrored in the oracle). Exact while
    * 4n³ < 2⁶³, i.e. n ≲ 1.3×10⁶ rows — beyond that, switch the sums
    * to the corrMatrix limb machinery. Emits rho_s and n; the
    * t-approximation p-value lives in [[spearmanP]] (spec-anchored —
    * no portable t CDF to mirror). */
  def spearmanCorr(df0: DataFrame, a: String, b: String): DataFrame = {
    val df = df0.filter(col(a).isNotNull && col(b).isNotNull)
    def doubledRanks(c: String, out: String) = {
      val counts = df.groupBy(col(c)).agg(count(lit(1)).as("__c__"))
      distinctValueRanks(counts, c, "__c__")
        .select(col(c), (col("__r__") * 2).cast("long").as(out))
    }
    val sums = df
      .join(broadcast(doubledRanks(a, "__ra__")), Seq(a))
      .join(broadcast(doubledRanks(b, "__rb__")), Seq(b))
      .agg(count(lit(1)).as("n"),
        sum(col("__ra__")).as("sa"), sum(col("__rb__")).as("sb"),
        sum(col("__ra__") * col("__ra__")).as("saa"),
        sum(col("__rb__") * col("__rb__")).as("sbb"),
        sum(col("__ra__") * col("__rb__")).as("sab"))
    // the sums themselves stay exact Longs; the closed form runs in
    // doubles (sa·sb ≈ n⁴ would overflow a Long) — identical op
    // order in the oracle, so the doubles match bit-for-bit
    val n = col("n").cast("double")
    val sa = col("sa").cast("double"); val sb = col("sb").cast("double")
    val rho = (n * col("sab") - sa * sb) /
      (sqrt(n * col("saa") - sa * sa) *
        sqrt(n * col("sbb") - sb * sb))
    sums.select(round(rho, 6).as("rho_s"), col("n"))
  }

  /** Two-sided t-approximation p-value for a Spearman rho:
    * t = ρ√((n−2)/(1−ρ²)), df = n−2. */
  def spearmanP(rho: Double, n: Long): Double = {
    val t = rho * math.sqrt((n - 2) / (1.0 - rho * rho))
    Distributions.tTwoSidedP(t, (n - 2).toDouble)
  }

  /** Kendall τ-b (pandas corr(method='kendall')): computed from the
    * DISTINCT joint-value table — concordant/discordant pair counts
    * are a d² self-join over the observed (a,b) cells, tie terms from
    * the marginals, all exact Long arithmetic:
    *   τ_b = (C − D) / √((n₀−n₁)(n₀−n₂)).
    * Scale regime: bounded-domain inputs (integer cents, codes —
    * same contract as Mann-Whitney); d distinct cells cost d² join
    * rows, so pre-bin continuous data first. */
  def kendallTauB(df0: DataFrame, a: String, b: String): DataFrame = {
    val df = df0.filter(col(a).isNotNull && col(b).isNotNull)
    val cells = df.groupBy(col(a).as("va"), col(b).as("vb"))
      .agg(count(lit(1)).as("c"))
    val l = cells.select(col("va").as("xa"), col("vb").as("ya"),
      col("c").as("c1"))
    val r = cells.select(col("va").as("xb"), col("vb").as("yb"),
      col("c").as("c2"))
    // every unordered cell pair once: xa < xb (equal-x pairs are
    // x-ties and contribute to neither C nor D)
    val pairs = l.join(r, col("xa") < col("xb"))
      .agg(
        coalesce(sum(when(col("ya") < col("yb"),
          col("c1") * col("c2"))), lit(0L)).as("cc"),
        coalesce(sum(when(col("ya") > col("yb"),
          col("c1") * col("c2"))), lit(0L)).as("dd"))
    val margX = cells.groupBy("va").agg(sum("c").as("tx"))
      .agg(coalesce(sum(col("tx") * (col("tx") - 1)), lit(0L)).as("t1x"))
    val margY = cells.groupBy("vb").agg(sum("c").as("ty"))
      .agg(coalesce(sum(col("ty") * (col("ty") - 1)), lit(0L)).as("t1y"))
    val tot = cells.agg(sum("c").as("nn"))
    val wide = pairs.crossJoin(broadcast(margX))
      .crossJoin(broadcast(margY)).crossJoin(broadcast(tot))
    val n = col("nn").cast("double")
    val n0x2 = n * (n - 1) // 2·n₀ — keep everything doubled, exact
    val tau = (col("cc") - col("dd")).cast("double") * 2 /
      (sqrt(n0x2 - col("t1x")) * sqrt(n0x2 - col("t1y")))
    wide.select(round(tau, 6).as("tau_b"),
      col("cc"), col("dd"), col("nn").as("n"))
  }

  /** Friedman test (repeated-measures nonparametric ANOVA — stats
    * family extension of the Kruskal-Wallis machinery): input has one
    * measurement per (block, treatment); values are ranked WITHIN each
    * block with average ranks for ties, then
    *   Q = 12/(n·k·(k+1)) · Σ_j R_j² − 3·n·(k+1)
    * with the standard tie correction
    *   C = 1 − Σ_blocks Σ_ties (t³−t) / (n·k·(k²−1)),
    * χ² = Q/C, df = k−1 (χ² upper-tail p).
    *
    * Scale shape: ranks come from per-BLOCK windows, whose width is
    * bounded by the treatment count k — no global window anywhere;
    * everything after the rank is a two-level aggregation. */
  def friedman(df0: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = df0.filter(col(blockCol).isNotNull &&
      col(treatCol).isNotNull && col(valueCol).isNotNull)
    val wOrd = Window.partitionBy(blockCol).orderBy(col(valueCol))
    val wTie = Window.partitionBy(col(blockCol), col(valueCol))
    val ranked = df.withColumn("__r__",
      rank().over(wOrd).cast("double") +
        (count(lit(1)).over(wTie).cast("double") - 1) / 2.0)
    // Σ(t³−t) over within-block tied values
    val ties = df.groupBy(col(blockCol), col(valueCol))
      .agg(count(lit(1)).as("__c__"))
      .agg(coalesce(sum(col("__c__") * col("__c__") * col("__c__") -
        col("__c__")), lit(0L)).cast("double").as("tie_t"))
    val perTreat = ranked.groupBy(col(treatCol))
      .agg(sum(col("__r__")).as("rs"))
      .agg(count(lit(1)).cast("double").as("k"),
        sum(col("rs") * col("rs")).as("s2"))
    val sizes = df.agg(
      countDistinct(col(blockCol)).cast("double").as("n"))
    val wide = perTreat.crossJoin(broadcast(sizes))
      .crossJoin(broadcast(ties))
    val n = col("n"); val k = col("k")
    val q = lit(12.0) / (n * k * (k + 1)) * col("s2") -
      lit(3.0) * n * (k + 1)
    val c = lit(1.0) - col("tie_t") / (n * k * (k * k - 1))
    val chi2 = q / c
    wide.select(round(chi2, 6).as("chi2_stat"),
      (k - 1).cast("long").as("dof"),
      round(chi2PUdf(chi2, k - 1), 6).as("p_value"))
  }

  /** Page's L trend test for ORDERED alternatives in a complete block
    * design (companion to [[friedman]], same per-block rank matrix):
    * treatments carry a hypothesized order 1..k via `orderOf`;
    * L = Σ_j order_j · R_j, and under H₀
    *   z = (L − n·k·(k+1)²/4) / √(n·k²·(k+1)·(k²−1)/144)
    * (one-sided upper-tail normal p — increasing trend). */
  def pageTrend(df0: DataFrame, blockCol: String, treatCol: String,
      valueCol: String, orderOf: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = df0.filter(col(blockCol).isNotNull &&
      col(treatCol).isNotNull && col(valueCol).isNotNull)
    val wOrd = Window.partitionBy(blockCol).orderBy(col(valueCol))
    val wTie = Window.partitionBy(col(blockCol), col(valueCol))
    val ranked = df.withColumn("__r__",
      rank().over(wOrd).cast("double") +
        (count(lit(1)).over(wTie).cast("double") - 1) / 2.0)
    val perTreat = ranked.groupBy(col(treatCol))
      .agg(sum(col("__r__")).as("rs"))
      .agg(count(lit(1)).cast("double").as("k"),
        sum(orderOf.cast("double") * col("rs")).as("l_stat"))
    val sizes = df.agg(
      countDistinct(col(blockCol)).cast("double").as("n"))
    val wide = perTreat.crossJoin(broadcast(sizes))
    val n = col("n"); val k = col("k")
    val z = (col("l_stat") - n * k * (k + 1) * (k + 1) / 4) /
      sqrt(n * k * k * (k + 1) * (k * k - 1) / 144)
    wide.select(round(col("l_stat"), 6).as("l_stat"), round(z, 6).as("z"),
      round(lit(1.0) - Distributions.normalCdfCol(z), 6).as("p_value"))
  }

  /** Benford first-digit audit (fraud/data-quality screen over any
    * positive integer-scaled measure): observed first-significant-
    * digit shares vs Benford's log₁₀(1+1/d), per-digit rows plus the
    * overall χ² (df=8) and mean-absolute-deviation repeated on each
    * row. The first digit comes from the decimal string of the BIGINT
    * value — exact, no log10-of-double boundary hazard; expected
    * shares are baked-in literals so every engine sees identical
    * doubles. One groupBy(digit) ≤ 9 rows — trivially scalable. */
  def benford(df0: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    val digits = df0.filter(col(valueCol).isNotNull && v > 0)
      .withColumn("digit",
        substring(v.cast("string"), 1, 1).cast("int"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val expP: Map[Int, Double] =
      (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap
    val expCol = (1 to 9).foldLeft(lit(Double.NaN)) { (acc, d) =>
      when(col("digit") === d, lit(expP(d))).otherwise(acc)
    }
    val tot = digits.agg(sum("n").cast("double").as("total"))
    // full 1..9 spine so absent digits contribute obs_p = 0 to χ²/MAD
    val spine = tot.select(
      explode(sequence(lit(1), lit(9))).as("digit"), col("total"))
    val perDigit = spine
      .join(digits, Seq("digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("obs_p", col("n").cast("double") / col("total"))
      .withColumn("exp_p", expCol)
    val summary = perDigit.agg(
      sum(col("total") * (col("obs_p") - col("exp_p")) *
        (col("obs_p") - col("exp_p")) / col("exp_p")).as("chi2"),
      (sum(abs(col("obs_p") - col("exp_p"))) / 9.0).as("mad"))
    perDigit.crossJoin(broadcast(summary))
      .select(col("digit"), col("n"),
        round(col("obs_p"), 6).as("obs_p"),
        round(col("exp_p"), 6).as("exp_p"),
        round(col("chi2"), 6).as("chi2_stat"),
        round(col("mad"), 6).as("mad"))
  }

  /** Weighted lower quantiles per key: the smallest value whose
    * cumulative weight reaches q·W (inverted-CDF definition, the
    * reference's weighted percentile semantics). One key-partitioned
    * window cumsum + one keyed aggregate — no global window, no
    * driver state; |qs| multiplies rows only through a bounded
    * explode. Use integer weights (cast upstream) for cross-engine
    * exact cumulative sums; `tieCol` makes the cumsum order total so
    * equal values accumulate identically everywhere. */
  def weightedQuantiles(df: DataFrame, valueCol: String,
      weightCol: String, qs: Seq[Double], keyCols: Seq[String],
      tieCol: String): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(valueCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(keyCols.map(col): _*)
    val cum = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .select(keyCols.map(col) ++ Seq(col(valueCol), col(tieCol),
        sum(col(weightCol)).over(w).as("__cw__"),
        sum(col(weightCol)).over(wTot).as("__tw__")): _*)
    cum.select(keyCols.map(col) ++ Seq(col(valueCol), col("__cw__"),
        col("__tw__"), explode(array(qs.map(lit): _*)).as("q")): _*)
      .filter(col("__cw__").cast("double") >=
        col("q") * col("__tw__").cast("double"))
      .groupBy(keyCols.map(col) :+ col("q"): _*)
      .agg(min(col(valueCol)).as("wq"))
  }

  /** Mahalanobis distance² per row against the dataset's own mean /
    * sample covariance (reference outlier detection semantics). One
    * exact-limb moment pass ([[pairMoments]]) finalized driver-side
    * (a d² scalar collect, the established test-statistic pattern),
    * then a pure map-side distance expression — nothing else
    * shuffles. d = 2 uses the closed-form inverse (oracle-mirrorable
    * arithmetic); d > 2 inverts via Gauss-Jordan on the driver.
    * Integer-typed (cents-scaled) columns. */
  def mahalanobis(df: DataFrame, cols: Seq[String],
      outName: String = "dist2"): DataFrame = {
    val d = cols.size
    val (one, recombine, nD) = pairMoments(df, cols, exact = true,
      "mahalanobis")
    val meanCov = one.select(
      (Seq(nD.as("n")) ++
        cols.map(c => recombine(s"s_$c").as(s"s_$c")) ++
        cols.map(c => recombine(s"ss_$c").as(s"ss_$c")) ++
        cols.combinations(2).toSeq.map { case Seq(a, b) =>
          recombine(s"sp_${a}_$b").as(s"sp_${a}_$b") }): _*)
      .head()
    val n = meanCov.getAs[Double]("n")
    require(n > d, s"mahalanobis needs more rows than dimensions")
    val s = cols.map(c => meanCov.getAs[Double](s"s_$c"))
    val mu = s.map(_ / n)
    def covOf(i: Int, j: Int): Double =
      if (i == j) {
        val ss = meanCov.getAs[Double](s"ss_${cols(i)}")
        (n * ss - s(i) * s(i)) / (n * (n - 1.0))
      } else {
        val (a, b) = if (i < j) (i, j) else (j, i)
        val sp = meanCov.getAs[Double](s"sp_${cols(a)}_${cols(b)}")
        (n * sp - s(a) * s(b)) / (n * (n - 1.0))
      }
    val dx = cols.zipWithIndex.map { case (c, i) =>
      col(c).cast("double") - lit(mu(i)) }
    val dist2 =
      if (d == 2) {
        val (a, b, c) = (covOf(0, 0), covOf(0, 1), covOf(1, 1))
        val det = a * c - b * b
        require(det != 0.0, "mahalanobis: singular covariance")
        (lit(c) * dx(0) * dx(0) - lit(2.0) * lit(b) * dx(0) * dx(1) +
          lit(a) * dx(1) * dx(1)) / lit(det)
      } else {
        val m = Array.tabulate(d, d)(covOf)
        val inv = invertGaussJordan(m)
        (for (i <- 0 until d; j <- 0 until d)
          yield lit(inv(i)(j)) * dx(i) * dx(j)).reduce(_ + _)
      }
    df.withColumn(outName, dist2)
  }

  /** Welch's heteroscedastic one-way ANOVA (the var-unequal
    * counterpart of [[anovaOneWay]]; reference
    * src/stats/hypothesis.rs anova + ttest var-unequal semantics
    * combined): weights w_j = n_j/s_j², weighted grand mean,
    *   F* = Σ w_j (m_j − x̄w)² / (k−1)
    *        ───────────────────────────────
    *        1 + 2(k−2)/(k²−1) · Λ,
    *   Λ = Σ (1 − w_j/W)²/(n_j − 1),  df₂ = (k²−1)/(3Λ).
    * Per-group moments come from ONE hash aggregate of exact
    * integral sums (cents pattern); Λ needs W = Σw, so the k-row
    * group table takes one broadcast of the scalar total — no
    * second scan of the data. p-value via the regularized-beta F
    * tail (spec-checked; the gate compares statistic + dofs, which
    * are closed-form in both engines). */
  def welchAnova(df0: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val df = df0.filter(col(valueCol).isNotNull &&
      col(groupCol).isNotNull)
    val g = df.groupBy(groupCol)
      // Long-exact group sums (integral inputs — cents pattern)
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col(valueCol)).cast("double").as("s1"),
        sum(col(valueCol) * col(valueCol)).cast("double").as("s2"))
      // groups of one row / zero variance carry no weight info:
      // excluded (vr = 0 → w = ∞), matching scipy's error-out domain
      .select(col("n"), (col("s1") / col("n")).as("m"),
        when(col("n") > 1,
          (col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1)).as("vr"))
      .filter(col("vr") > 0)
      .select(col("n"), col("m"), (col("n") / col("vr")).as("w"))
    val tot = g.agg(sum(col("w")).as("sw_tot"))
    g.crossJoin(broadcast(tot))
      .agg(count(lit(1)).cast("double").as("k"),
        first(col("sw_tot")).as("sw"),
        sum(col("w") * col("m")).as("swm"),
        sum(col("w") * col("m") * col("m")).as("swmm"),
        sum((lit(1.0) - col("w") / col("sw_tot")) *
          (lit(1.0) - col("w") / col("sw_tot")) / (col("n") - 1))
          .as("lam"))
      .select(col("k"), col("lam"),
        ((col("swmm") - col("swm") * col("swm") / col("sw")) /
          (col("k") - 1)).as("a"))
      .select(
        round(col("a") / (lit(1.0) + lit(2.0) * (col("k") - 2) /
          (col("k") * col("k") - 1) * col("lam")), 6).as("f_stat"),
        (col("k") - 1).cast("long").as("df1"),
        round((col("k") * col("k") - 1) / (lit(3.0) * col("lam")), 6)
          .as("df2"))
      .withColumn("p_value",
        round(fPUdf(col("f_stat"), col("df1").cast("double"),
          col("df2")), 6))
  }

  /** Games–Howell post-hoc after [[welchAnova]] (the
    * unequal-variance counterpart of [[tukeyHsd]]): per group pair
    * the mean difference, the studentized statistic
    * q = |mᵢ − mⱼ| / √((sᵢ²/nᵢ + sⱼ²/nⱼ)/2) and the Welch–
    * Satterthwaite df. Group moments from ONE exact-sum aggregate;
    * the pair join runs over the k-row group table. Statistic-only
    * (the studentized-range tail has no closed form — the tukeyHsd
    * convention). */
  def gamesHowell(df0: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val df = df0.filter(col(valueCol).isNotNull &&
      col(groupCol).isNotNull)
    val g = df.groupBy(groupCol)
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col(valueCol)).cast("double").as("s1"),
        sum(col(valueCol) * col(valueCol)).cast("double").as("s2"))
      .select(col(groupCol).cast("string").as("grp"), col("n"),
        (col("s1") / col("n")).as("m"),
        when(col("n") > 1,
          (col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1)).as("vr"))
      .filter(col("vr").isNotNull)
    val l = g.select(col("grp").as("group_a"), col("n").as("na"),
      col("m").as("ma"), col("vr").as("va"))
    val r = g.select(col("grp").as("group_b"), col("n").as("nb"),
      col("m").as("mb"), col("vr").as("vb"))
    val sa = col("va") / col("na"); val sb = col("vb") / col("nb")
    val df2 = (sa + sb) * (sa + sb) /
      (sa * sa / (col("na") - 1) + sb * sb / (col("nb") - 1))
    l.join(r, col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        round(col("ma") - col("mb"), 6).as("mean_diff"),
        round(abs(col("ma") - col("mb")) / sqrt((sa + sb) / 2), 6)
          .as("q_stat"),
        round(df2, 6).as("df"))
  }

  /** Variance inflation factors for a 3-column design (statsmodels
    * variance_inflation_factor parity; reference regression stack
    * src/stats/regression/mod.rs has no VIF — exceeds). For three
    * variables the auxiliary R²s are closed-form in the pairwise
    * correlations: with det = 1 + 2·r₁₂r₁₃r₂₃ − r₁₂² − r₁₃² − r₂₃²
    * (the correlation-matrix determinant), VIF_j = (1 − r_kl²)/det.
    * Correlations come from the one-pass exact-limb moment machinery
    * (integer-typed inputs, listwise null deletion), so the whole
    * result is straight-line Column arithmetic replayable by the
    * oracle. Degenerate designs (det ≤ 0 from a perfect collinearity)
    * emit null. */
  def vif3(df0: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size == 3, "vif3 takes exactly three columns " +
      "(closed-form inverse); larger designs go through " +
      "MlOps.linearRegressionMl residual fits")
    val (one, rec, nD) = pairMoments(df0, cols, exact = true, "vif3")
    def rr(a: String, b: String) = {
      val sx = rec(s"s_$a"); val sy = rec(s"s_$b")
      (nD * rec(s"sp_${a}_$b") - sx * sy) /
        (sqrt(nD * rec(s"ss_$a") - sx * sx) *
          sqrt(nD * rec(s"ss_$b") - sy * sy))
    }
    val Seq(c1, c2, c3) = cols
    // one projection per stage: each stage references the previous
    // one's columns more than once, so CollapseProject keeps them
    // apart and no generated method inlines the decimal recombinations
    // of every r into det and every v (one method grew past 64 KB)
    val (r12, r13, r23) = (col("r12"), col("r13"), col("r23"))
    val det = col("det")
    def v(rOther: Column) =
      round(when(det > 0, (lit(1.0) - rOther * rOther) / det), 6)
    one.select(rr(c1, c2).as("r12"), rr(c1, c3).as("r13"),
        rr(c2, c3).as("r23"))
      .select(r12, r13, r23, (lit(1.0) + lit(2.0) * r12 * r13 * r23 -
        r12 * r12 - r13 * r13 - r23 * r23).as("det"))
      .select(explode(array(
        struct(lit(c1).as("column"), v(r23).as("vif")),
        struct(lit(c2).as("column"), v(r13).as("vif")),
        struct(lit(c3).as("column"), v(r12).as("vif")))).as("r"))
      .select(col("r.column"), col("r.vif"))
  }

  /** Breusch–Pagan heteroscedasticity test of y ~ x (statsmodels
    * het_breuschpagan parity — exceeds the reference's regression
    * stack). Stage 1 fits the main OLS from exact integral sums
    * (slope/intercept are exact-double ratios); stage 2 broadcasts
    * the two scalars, squares the per-row residual u = (y−(a+bx))²,
    * and aggregates the auxiliary regression u ~ x in the same scan.
    * Emits the Koenker studentized statistic LM = n·R²_aux (the
    * modern default) and the original BP = ESS_aux/(2σ̂⁴); both are
    * χ²(1) under H₀, so p = 2(1−Φ(√stat)) closed-form in any engine.
    * Two passes over the data, zero driver state. */
  def breuschPagan(df0: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    // stage-1 sums run over the raw integral columns (Long-exact, so
    // the fitted a/b are the same IEEE doubles in any engine); keep
    // Σxy inside a signed Long — scale y to dollars, not cents, for
    // price-sized data
    val s1 = df.agg(count(lit(1)).cast("double").as("n"),
        sum(col(xCol)).cast("double").as("sx"),
        sum(col(yCol)).cast("double").as("sy"),
        sum(col(xCol) * col(xCol)).cast("double").as("sxx"),
        sum(col(xCol) * col(yCol)).cast("double").as("sxy"))
      .select(col("n"), col("sx"), col("sy"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("__b__"))
      .select(col("__b__"),
        ((col("sy") - col("__b__") * col("sx")) / col("n")).as("__a__"))
    val u = (y - (col("__a__") + col("__b__") * x)) *
      (y - (col("__a__") + col("__b__") * x))
    val agg = df.crossJoin(broadcast(s1))
      .select(x.as("xv"), u.as("u"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("xv")).as("sx"), sum(col("xv") * col("xv")).as("sxx"),
        sum(col("u")).as("su"), sum(col("u") * col("u")).as("suu"),
        sum(col("xv") * col("u")).as("sxu"))
    val cxx = agg("n") * col("sxx") - col("sx") * col("sx")
    val cxu = agg("n") * col("sxu") - col("sx") * col("su")
    val cuu = agg("n") * col("suu") - col("su") * col("su")
    val r2 = cxu * cxu / (cxx * cuu)
    // ESS of u~x in the centered form: cov²/varx scaled back by 1/n
    val ess = cxu * cxu / (col("n") * cxx)
    val sig2 = col("su") / col("n")
    agg.select(
        round((col("n") * r2), 6).as("lm_koenker"),
        round(ess / (lit(2.0) * sig2 * sig2), 6).as("bp_stat"),
        col("n"))
      .select(col("lm_koenker"), col("bp_stat"),
        lit(1L).as("dof"),
        round(lit(2.0) * (lit(1.0) -
          Distributions.normalCdfCol(sqrt(col("lm_koenker")))), 6)
          .as("p_koenker"),
        round(lit(2.0) * (lit(1.0) -
          Distributions.normalCdfCol(sqrt(col("bp_stat")))), 6)
          .as("p_bp"))
  }

  /** Per-row OLS influence diagnostics for y ~ x (statsmodels
    * OLSInfluence parity): leverage h_i = 1/n + (x_i−x̄)²/Sxx,
    * internally studentized residual r_i = e_i/(s√(1−h_i)), Cook's
    * distance D_i = r_i²·h_i/(p(1−h_i)) with p = 2. Every quantity
    * is a deterministic per-row closed form over the broadcast exact
    * sums — no FP accumulation order anywhere, so the top-k table is
    * engine-exact. Returns the k most influential rows by Cook's D
    * (TakeOrderedAndProject — no global sort), id columns first. */
  def olsInfluence(df0: DataFrame, xCol: String, yCol: String,
      idCols: Seq[String], topK: Int = 20): DataFrame = {
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    val df = df0.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    // Long-exact sufficient sums over the raw integral columns (same
    // contract as breuschPagan — size the scale so Σy² fits a Long)
    val s = df.agg(count(lit(1)).cast("double").as("n"),
        sum(col(xCol)).cast("double").as("sx"),
        sum(col(yCol)).cast("double").as("sy"),
        sum(col(xCol) * col(xCol)).cast("double").as("sxx"),
        sum(col(yCol) * col(yCol)).cast("double").as("syy"),
        sum(col(xCol) * col(yCol)).cast("double").as("sxy"))
      .select(col("n"), (col("sx") / col("n")).as("xbar"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("b"),
        (col("sxx") - col("sx") * col("sx") / col("n")).as("cxx"),
        col("sx"), col("sy"), col("syy"), col("sxy"))
      .select(col("n"), col("xbar"), col("b"), col("cxx"),
        ((col("sy") - col("b") * col("sx")) / col("n")).as("a"),
        // SSE via the centered identity; s² = SSE/(n−2)
        (((col("syy") - col("sy") * col("sy") / col("n")) -
          col("b") * (col("sxy") - col("sx") * col("sy") / col("n"))) /
          (col("n") - 2)).as("s2"))
    val h = lit(1.0) / col("n") +
      (x - col("xbar")) * (x - col("xbar")) / col("cxx")
    val e = y - (col("a") + col("b") * x)
    val rStud = e / sqrt(col("s2") * (lit(1.0) - h))
    val cook = rStud * rStud * h / (lit(2.0) * (lit(1.0) - h))
    df.crossJoin(broadcast(s))
      .select(idCols.map(col) ++ Seq(
        round(h, 6).as("leverage"), round(e, 6).as("resid"),
        round(rStud, 6).as("std_resid"),
        round(cook, 9).as("cooks_d")): _*)
      .orderBy(col("cooks_d").desc +: idCols.map(col): _*)
      .limit(topK)
  }

  /** pandas DataFrame.corrwith parity: column-wise Pearson
    * correlation of identically-named columns across two frames,
    * matched row-to-row on key columns (the Spark re-expression of
    * pandas index alignment). One equi-join, then ONE exact-limb
    * moment pass restricted to the matched (a, b) pairs — no
    * O(cols²) cross-pairs. Integer-typed inputs (cents pattern);
    * listwise null deletion across all compared columns (documented
    * deviation from pandas' per-pair completeness). */
  def corrWith(dfA: DataFrame, dfB: DataFrame, keyCols: Seq[String],
      cols: Seq[String]): DataFrame = {
    val a = dfA.select((keyCols.map(col) ++
      cols.map(c => col(c).as(s"${c}__a"))): _*)
    val b = dfB.select((keyCols.map(col) ++
      cols.map(c => col(c).as(s"${c}__b"))): _*)
    val joined = a.join(b, keyCols, "inner")
    val pairs = cols.map(c => (s"${c}__a", s"${c}__b"))
    val (one, rec, nD) = pairMoments(joined,
      cols.map(c => s"${c}__a") ++ cols.map(c => s"${c}__b"),
      exact = true, "corrWith", Some(pairs))
    val rows = cols.map { c =>
      val sx = rec(s"s_${c}__a"); val sy = rec(s"s_${c}__b")
      val den = sqrt(nD * rec(s"ss_${c}__a") - sx * sx) *
        sqrt(nD * rec(s"ss_${c}__b") - sy * sy)
      struct(lit(c).as("column"),
        round(when(den =!= 0,
          (nD * rec(s"sp_${c}__a_${c}__b") - sx * sy) / den), 6)
          .as("corr"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.column"), col("r.corr"))
  }

  /** pandas sem/mad parity per group: standard error of the mean
    * sem = s/√n from exact integral sums (deterministic), and mean
    * absolute deviation mad = Σ|x − x̄|/n. The group mean is an
    * exact ratio computed by a key-partitioned window in the SAME
    * shuffle the aggregate reuses — one exchange total, no join
    * back. */
  def semMad(df0: DataFrame, valueCol: String,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    val df = df0.filter(col(valueCol).isNotNull)
    val w = Window.partitionBy(keyCols.map(col): _*)
    // Long-exact sums (integral inputs); the group mean is an exact
    // ratio so each |x − x̄| is deterministic per row
    df.withColumn("__m__", sum(col(valueCol)).over(w).cast("double") /
        count(lit(1)).over(w))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col(valueCol)).cast("double").as("sx"),
        sum(col(valueCol) * col(valueCol)).cast("double").as("sxx"),
        sum(abs(v - col("__m__"))).as("sad"))
      .select(keyCols.map(col) ++ Seq(
        col("n").cast("long").as("n"),
        round(col("sx") / col("n"), 6).as("mean"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))) / sqrt(col("n")), 6).as("sem"),
        round(col("sad") / col("n"), 6).as("mad")): _*)
  }

  /** Inverse-propensity-weighted ATE with stratum-exact propensity
    * (Horvitz-Thompson within coarse strata; Rosenbaum & Rubin 1983
    * via subclassification): with ê_s = nt_s/n_s exact inside each
    * stratum, the IPW estimator algebraically reduces to the
    * n_s-weighted stratified mean difference
    *   ATE = (1/N) Σ_s n_s · (ȳ_t,s − ȳ_c,s)
    * over strata with BOTH arms present; off-support strata (one arm
    * empty) are excluded and reported loudly (the q388 dropped-block
    * convention). Complements [[cemAtt]], which weights by n_treat
    * (ATT).
    *
    * Determinism/scale: one groupBy; pass an exact-integer outcome
    * (cents) so per-stratum sums are order-free; each stratum term is
    * rounded to 12 decimals and DECIMAL-summed. */
  def ipwAte(df0: DataFrame, treatCol: String, outcomeCol: String,
      strataCols: Seq[String]): DataFrame = {
    require(strataCols.nonEmpty, "ipwAte needs at least one stratum")
    val t = col(treatCol).cast("boolean")
    val y = col(outcomeCol)
    val per = df0.filter(t.isNotNull && y.isNotNull)
      .groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("ns"),
        sum(when(t, 1L).otherwise(0L)).as("nt"),
        sum(when(t, y)).as("syt"),
        sum(when(!t, y)).as("syc"))
      .withColumn("nc", col("ns") - col("nt"))
    val matched = per.filter(col("nt") > 0 && col("nc") > 0)
    val term = col("ns").cast("double") *
      (col("syt").cast("double") / col("nt") -
        col("syc").cast("double") / col("nc"))
    val m = matched.agg(
      sum(col("ns")).as("n_matched"),
      count(lit(1)).as("n_strata"),
      sum(round(term, 12).cast("decimal(38,12)")).as("tsum"))
    val all = per.agg(count(lit(1)).as("n_strata_all"),
      sum(col("ns")).as("n_total"))
    m.crossJoin(broadcast(all))
      .select(col("n_total").cast("long").as("n_total"),
        col("n_matched").cast("long").as("n_matched"),
        (col("n_total") - col("n_matched")).cast("long")
          .as("n_off_support"),
        col("n_strata").cast("long").as("n_strata"),
        (col("n_strata_all") - col("n_strata")).cast("long")
          .as("n_strata_dropped"),
        (col("tsum").cast("double") / col("n_matched")).as("ate"))
  }

  /** Poisson overdispersion check per key: the dispersion index
    * D = s²/x̄ of a count column and the χ² statistic
    * (n−1)·D ~ χ²_{n−1} under H₀: Poisson, with the Wilson-Hilferty
    * normal approximation for the (typically large) df. D ≫ 1 is the
    * standard trigger for switching a count model to negative
    * binomial / quasi-Poisson.
    *
    * Determinism: with integer counts, n/Σy/Σy² are exact; D and the
    * statistic are single left-associated double expressions;
    * p uses the shared normalCdf polynomial (SQL twin). One
    * groupBy — scales. */
  def dispersionTest(df0: DataFrame, keyCols: Seq[String],
      valueCol: String): DataFrame = {
    val v = col(valueCol)
    val g = df0.filter(v.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(v).as("sy"),
        sum(v * v).as("syy"))
      .filter(col("n") > 1 && col("sy") > 0)
    val n = col("n").cast("double")
    val varS = (n * col("syy").cast("double") -
      col("sy").cast("double") * col("sy")) / (n * (n - 1))
    val mean = col("sy").cast("double") / col("n")
    val disp = g.select(keyCols.map(col) ++ Seq(
      col("n").cast("long").as("n"), mean.as("mean"),
      varS.as("variance"), (varS / mean).as("dispersion"),
      ((n - 1) * (varS / mean)).as("chi2"),
      (n - 1).as("dof")): _*)
    // Wilson-Hilferty: ((X²/df)^(1/3) − (1 − 2/(9df))) /
    //   sqrt(2/(9df)) ≈ N(0,1)
    val z = (pow(col("chi2") / col("dof"), lit(1.0) / 3) -
      (lit(1.0) - lit(2.0) / (lit(9.0) * col("dof")))) /
      sqrt(lit(2.0) / (lit(9.0) * col("dof")))
    disp.withColumn("z_wh", z)
      .withColumn("p_over",
        lit(1.0) - Distributions.normalCdfCol(col("z_wh")))
  }

  /** Fleiss' kappa (Fleiss 1971): multi-rater nominal agreement for
    * a FIXED rater count per subject — the classic IAA number next
    * to [[krippendorffAlpha]] (which additionally handles missing
    * ratings and non-nominal metrics). Input: one row per (unit,
    * rating); units with a deviating rater count are EXCLUDED and
    * counted loudly (the q388 convention — Fleiss is undefined for
    * them; use Krippendorff there).
    *   P_i = (Σ_c n_ic² − n) / (n(n−1)),  P̄ = mean_i P_i,
    *   P_e = Σ_c p_c²,  κ = (P̄ − P_e)/(1 − P_e)
    * Exact integer cell counts; per-unit and per-category terms
    * rounded to 12 decimals and DECIMAL-summed. Degenerate designs
    * yield NULL κ instead of an ANSI division error: P_e = 1
    * (every rating in one category — agreement carries no
    * information; 0/0 in the formula) and n_raters = 1 (P_i
    * undefined). */
  def fleissKappa(df: DataFrame, unitCol: String,
      ratingCol: String): DataFrame = {
    val cells = df.filter(col(unitCol).isNotNull &&
        col(ratingCol).isNotNull)
      .groupBy(col(unitCol).as("u"), col(ratingCol).as("c"))
      .agg(count(lit(1)).as("nic"))
    val perUnit = cells.groupBy("u")
      .agg(sum("nic").as("n"), sum(col("nic") * col("nic")).as("s2"))
    val nMode = perUnit.groupBy("n").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("n")).limit(1)
      .select(col("n").as("n_raters"))
    val kept = perUnit.join(broadcast(nMode),
      perUnit("n") === nMode("n_raters"))
    val dropped = perUnit.crossJoin(broadcast(nMode))
      .agg(sum(when(col("n") =!= col("n_raters"), 1L).otherwise(0L))
        .as("units_dropped"))
    val pbar = kept.select(
      when(col("n") > 1,
        round((col("s2") - col("n")).cast("double") /
          (col("n") * (col("n") - 1)), 12))
        .cast("decimal(38,12)").as("pi"))
      .agg(count(lit(1)).as("n_units"), sum("pi").as("psum"))
    val pe = cells
      .join(kept.select(col("u")), Seq("u"))
      .groupBy("c").agg(sum("nic").as("mc"))
      .crossJoin(broadcast(kept.agg(sum("n").as("tot"))))
      .select(round((col("mc").cast("double") / col("tot")) *
        (col("mc").cast("double") / col("tot")), 12)
        .cast("decimal(38,12)").as("pc2"))
      .agg(sum("pc2").as("pe"))
    pbar.crossJoin(broadcast(pe))
      .crossJoin(broadcast(dropped))
      .crossJoin(broadcast(nMode))
      .select(col("n_units").cast("long").as("n_units"),
        col("n_raters").cast("long").as("n_raters"),
        col("units_dropped").cast("long").as("units_dropped"),
        (col("psum").cast("double") / col("n_units")).as("p_bar"),
        col("pe").cast("double").as("p_e"),
        when(col("pe").cast("double") < 1.0,
          (col("psum").cast("double") / col("n_units") -
            col("pe").cast("double")) /
            (lit(1.0) - col("pe").cast("double"))).as("kappa"))
  }

  /** Hill tail-index estimator per key (Hill 1975): over the top
    * k+1 order statistics of a positive column,
    *   H = (1/k) Σ_{i=1..k} ln(x_(i) / x_(k+1)),  α̂ = 1/H
    * — the standard heavy-tail detector (α < 2: infinite variance;
    * α < 1: infinite mean) a pipeline runs on spend / token-count /
    * degree distributions before trusting means and z-scores.
    *
    * Per-key top-(k+1) via a PARTITIONED window (rank pushdown —
    * never a global sort); the value multiset of the top set is
    * tie-resolution-independent, each ln term is rounded to 12
    * decimals and DECIMAL-summed (order-free). Pass exact-integer
    * values (cents/counts) so both engines see identical ratios. */
  def hillTailIndex(df0: DataFrame, keyCols: Seq[String],
      valueCol: String, k: Int = 100): DataFrame = {
    require(k >= 2 && k <= 100000, s"k in [2,100000], got $k")
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(v.desc)
    val top = df0.filter(v.isNotNull && v > 0)
      .withColumn("__r__", row_number().over(w))
      .filter(col("__r__") <= k + 1)
    val xk1 = top.filter(col("__r__") === k + 1)
      .select((keyCols.map(col) :+
        v.cast("double").as("__xk1__")): _*)
    top.filter(col("__r__") <= k)
      .join(xk1, keyCols)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("k_used"),
        first(col("__xk1__")).as("x_k1"),
        sum(round(log(v.cast("double") / col("__xk1__")), 12)
          .cast("decimal(38,12)")).as("hsum"))
      .select(keyCols.map(col) ++ Seq(
        col("k_used").cast("long").as("k_used"), col("x_k1"),
        (col("hsum").cast("double") / col("k_used")).as("hill"),
        when(col("hsum") > 0, col("k_used").cast("double") /
          col("hsum").cast("double")).as("alpha")): _*)
  }

  /** Negative-binomial fit per key by method of moments (the
    * companion to [[dispersionTest]]: once D = s²/x̄ > 1 flags
    * overdispersion, this is the NB2 the count model switches to):
    *   r̂ = x̄² / (s² − x̄),   p̂ = r̂ / (r̂ + x̄)
    * Null r̂/p̂ when s² ≤ x̄ (un/equi-dispersed — NB undefined).
    * Exact n/Σy/Σy² sums; one groupBy. */
  def negbinMoM(df0: DataFrame, keyCols: Seq[String],
      valueCol: String): DataFrame = {
    val v = col(valueCol)
    val g = df0.filter(v.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(v).as("sy"),
        sum(v * v).as("syy"))
      .filter(col("n") > 1 && col("sy") > 0)
    val n = col("n").cast("double")
    val mean = col("sy").cast("double") / col("n")
    val varS = (n * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")) /
      (n * (n - 1))
    val r = mean * mean / (varS - mean)
    g.select(keyCols.map(col) ++ Seq(
      col("n").cast("long").as("n"), mean.as("mean"),
      varS.as("variance"),
      when(varS > mean, r).as("r_hat"),
      when(varS > mean, r / (r + mean)).as("p_hat")): _*)
  }

  /** Gauss-Jordan inverse with partial pivoting (driver-side, d×d
    * for small d). */
  private def invertGaussJordan(m0: Array[Array[Double]]):
      Array[Array[Double]] = {
    val d = m0.length
    val a = m0.map(_.clone())
    val inv = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (col0 <- 0 until d) {
      val piv = (col0 until d).maxBy(r => math.abs(a(r)(col0)))
      require(math.abs(a(piv)(col0)) > 1e-12,
        "mahalanobis: singular covariance")
      val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
      val tmpI = inv(col0); inv(col0) = inv(piv); inv(piv) = tmpI
      val p = a(col0)(col0)
      for (j <- 0 until d) { a(col0)(j) /= p; inv(col0)(j) /= p }
      for (r <- 0 until d if r != col0) {
        val f = a(r)(col0)
        if (f != 0.0)
          for (j <- 0 until d) {
            a(r)(j) -= f * a(col0)(j)
            inv(r)(j) -= f * inv(col0)(j)
          }
      }
    }
    inv
  }

}
