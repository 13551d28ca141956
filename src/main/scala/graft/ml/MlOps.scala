package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.classification.{DecisionTreeClassifier,
  GBTClassifier, LogisticRegression, MultilayerPerceptronClassifier,
  RandomForestClassifier}
import org.apache.spark.ml.feature.{PCA, VectorAssembler}
import org.apache.spark.ml.regression.{DecisionTreeRegressor,
  GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.LocalStrategy

/** ML layer (reference src/ml/: preprocessing/mod.rs:14-302,
  * clustering/mod.rs:46, dimension/mod.rs:17, models/linear.rs:16).
  * Scalers/encoders are pure DataFrame expressions (exact,
  * oracle-checkable); model fitting delegates to Spark MLlib — the
  * distributed implementations the reference's single-node ML layer
  * approximates. DBSCAN/agglomerative/TSNE/LOF have no MLlib
  * equivalent and are out of v1 scope (SURVEY §2.13).
  */
object MlOps {

  /** StandardScaler (preprocessing/mod.rs:14): per-group or global
    * z-score from exact sufficient statistics — one aggregate +
    * broadcast join, no MLlib fit round-trip. */
  def standardScale(df: DataFrame, valueCol: String,
      by: Seq[String] = Nil): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats =
      (if (by.isEmpty) df.groupBy() else df.groupBy(by.map(col): _*))
        .agg(count(v).cast("double").as("__n__"), // count NON-NULL rows
          sum(v).as("__s1__"), sum(v * v).as("__s2__"))
    val joined = if (by.isEmpty) df.crossJoin(broadcast(stats))
      else df.join(broadcast(stats), by)
    joined
      .withColumn("__m__", col("__s1__") / col("__n__"))
      .withColumn("__sd__", sqrt((col("__s2__") -
        col("__s1__") * col("__s1__") / col("__n__")) / (col("__n__") - 1)))
      .withColumn(s"${valueCol}_scaled",
        (v - col("__m__")) / col("__sd__"))
      .drop("__n__", "__s1__", "__s2__", "__m__", "__sd__")
  }

  /** MinMaxScaler (preprocessing/mod.rs:146). */
  def minMaxScale(df: DataFrame, valueCol: String,
      by: Seq[String] = Nil): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats =
      (if (by.isEmpty) df.groupBy() else df.groupBy(by.map(col): _*))
        .agg(min(v).as("__mn__"), max(v).as("__mx__"))
    val joined = if (by.isEmpty) df.crossJoin(broadcast(stats))
      else df.join(broadcast(stats), by)
    joined.withColumn(s"${valueCol}_scaled",
        when(col("__mx__") === col("__mn__"), 0.5)
          .otherwise((v - col("__mn__")) / (col("__mx__") - col("__mn__"))))
      .drop("__mn__", "__mx__")
  }

  /** RobustScaler (sklearn parity; reference preprocessing family):
    * (x − median) / IQR — outlier-insensitive where standard scaling
    * is dominated by extremes. Exact percentiles per (optional)
    * group; zero IQR scales to 0.0 (constant-ish column). */
  def robustScale(df: DataFrame, valueCol: String,
      by: Seq[String] = Nil): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats =
      (if (by.isEmpty) df.groupBy() else df.groupBy(by.map(col): _*))
        .agg(percentile(v, lit(0.5)).as("__med__"),
          percentile(v, lit(0.25)).as("__q1__"),
          percentile(v, lit(0.75)).as("__q3__"))
    val joined = if (by.isEmpty) df.crossJoin(broadcast(stats))
      else df.join(broadcast(stats), by)
    joined.withColumn(s"${valueCol}_scaled",
        when(col("__q3__") === col("__q1__"), 0.0)
          .otherwise((v - col("__med__")) /
            (col("__q3__") - col("__q1__"))))
      .drop("__med__", "__q1__", "__q3__")
  }

  /** Rank-gauss (inverse-normal / van-der-Waerden) transform — the
    * tabular-ML normalizer that maps any distribution onto N(0,1):
    * average rank r per value, p = r/(n+1), z = Φ⁻¹(p) (Acklam,
    * [[graft.stats.Distributions.normSInvCol]] — pure Column
    * arithmetic, oracle-replayable).
    *
    * Scale shape: ranks come from the DISTINCT-value table via
    * [[graft.stats.StatsOps.distinctValueRanks]] (range-bucketed
    * cumulative counts — no global window), broadcast back; the
    * transform itself is map-side. Nulls pass through as null. */
  def rankGauss(df: DataFrame, valueCol: String,
      outName: String = "gauss_rank"): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(count(lit(1)).as("__c__"))
    val ranks = graft.stats.StatsOps.distinctValueRanks(
      counts, valueCol, "__c__")
    val tot = counts.agg(sum("__c__").cast("double").as("__n__"))
    df.join(broadcast(ranks), Seq(valueCol), "left")
      .crossJoin(broadcast(tot))
      .withColumn(outName, graft.stats.Distributions.normSInvCol(
        col("__r__") / (col("__n__") + 1)))
      .drop("__r__", "__n__")
  }

  /** OneHotEncoder (preprocessing/mod.rs:302): indicator columns for
    * an explicit (bounded) category list — schema stays static, which
    * is what a 100 TB pipeline needs anyway. */
  def oneHot(df: DataFrame, catCol: String,
      categories: Seq[String]): DataFrame =
    categories.foldLeft(df)((d, c) =>
      d.withColumn(s"${catCol}_$c",
        when(col(catCol) === c, 1L).otherwise(0L)))

  /** factorize (reference src/series/categorical.rs:197): dense
    * integer codes by sorted category order — a broadcastable
    * dictionary join, not a global window. */
  def factorize(df: DataFrame, catCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codes = df.select(catCol).distinct()
      .withColumn(s"${catCol}_code",
        (dense_rank().over(Window.orderBy(col(catCol))) - 1).cast("long"))
    df.join(broadcast(codes), Seq(catCol))
  }

  private def assemble(df: DataFrame, features: Seq[String]): DataFrame =
    new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("features").transform(df)

  /** KMeans (clustering/mod.rs:46) via MLlib, deterministic seed. */
  def kmeans(df: DataFrame, features: Seq[String], k: Int,
      seed: Long = 42L): DataFrame = {
    val fitted = new KMeans().setK(k).setSeed(seed)
      .fit(assemble(df, features))
    fitted.transform(assemble(df, features))
      .withColumnRenamed("prediction", "cluster").drop("features")
  }

  /** PCA (dimension/mod.rs:17) via MLlib. */
  def pca(df: DataFrame, features: Seq[String], k: Int): DataFrame = {
    val assembled = assemble(df, features)
    new PCA().setInputCol("features").setOutputCol("pca")
      .setK(k).fit(assembled).transform(assembled).drop("features")
  }

  /** Isotonic regression (monotone least-squares via MLlib's
    * distributed pool-adjacent-violators): fits ŷ monotone
    * non-decreasing in `xCol`, appends `isotonic` predictions.
    * MLlib runs PAV per partition then merges on the driver over the
    * partition boundaries — the standard parallel PAV. */
  def isotonicRegression(df: DataFrame, xCol: String, yCol: String,
      outName: String = "isotonic"): DataFrame = {
    val assembled = df.withColumn("__feat__",
      col(xCol).cast("double"))
    val m = new org.apache.spark.ml.regression.IsotonicRegression()
      .setFeaturesCol("__feat__").setLabelCol(yCol).setIsotonic(true)
      .fit(assembled)
    m.setPredictionCol(outName).transform(assembled).drop("__feat__")
  }

  /** LinearRegression (models/linear.rs:16) via MLlib. */
  def linearRegressionMl(df: DataFrame, features: Seq[String],
      label: String): DataFrame = {
    val assembled = assemble(df, features)
    val m = new LinearRegression().setLabelCol(label)
      .setFeaturesCol("features").fit(assembled)
    m.transform(assembled).drop("features")
  }

  /** LogisticRegression (models/linear.rs:497) via MLlib. */
  def logisticRegressionMl(df: DataFrame, features: Seq[String],
      label: String): DataFrame = {
    val assembled = assemble(df, features)
    val m = new LogisticRegression().setLabelCol(label)
      .setFeaturesCol("features").fit(assembled)
    m.transform(assembled).select(df.columns.map(col) :+
      col("prediction"): _*)
  }

  /** Accelerated-failure-time survival regression (MLlib
    * AFTSurvivalRegression — the parametric survival model completing
    * the KM/Nelson-Aalen/log-rank family): log-duration ~ features
    * with right-censoring. One row: per-feature coefficients,
    * intercept, Weibull scale. Durations must be > 0 (filtered).
    * Distributed L-BFGS over per-row log-likelihood gradients. */
  def aftSurvival(df: DataFrame, features: Seq[String],
      durationCol: String, censorCol: String): DataFrame = {
    import org.apache.spark.ml.regression.AFTSurvivalRegression
    val spark = df.sparkSession
    import spark.implicits._
    val assembled = assemble(
      df.filter(col(durationCol) > 0), features)
    val m = new AFTSurvivalRegression().setLabelCol(durationCol)
      .setCensorCol(censorCol).setFeaturesCol("features")
      .fit(assembled)
    val terms = features :+ "intercept" :+ "scale"
    val vals = m.coefficients.toArray :+ m.intercept :+ m.scale
    terms.zip(vals).toSeq.toDF("term", "value")
  }

  /** One row per GLM term: coefficient, standard error, Wald z and
    * p-value (driver-side finalization of the tiny fitted summary —
    * the established MLlib-summary pattern). */
  def glmSummary(df: DataFrame, features: Seq[String], label: String,
      family: String = "poisson", link: String = "log",
      maxIter: Int = 25): DataFrame = {
    import org.apache.spark.ml.regression.GeneralizedLinearRegression
    val spark = df.sparkSession
    import spark.implicits._
    val assembled = assemble(df, features)
    val m = new GeneralizedLinearRegression().setLabelCol(label)
      .setFeaturesCol("features").setFamily(family).setLink(link)
      .setMaxIter(maxIter).fit(assembled)
    val s = m.summary
    val terms = features :+ "intercept"
    val coefs = m.coefficients.toArray :+ m.intercept
    terms.zip(coefs).zipWithIndex.map { case ((t, c), i) =>
      (t, c, s.coefficientStandardErrors(i), s.tValues(i), s.pValues(i))
    }.toDF("term", "coef", "std_err", "z_value", "p_value")
  }

  /** PORTABLE ORACLE TWIN of [[glmSummary]]'s Poisson/log fit (the
    * q322 Lloyd-unroll / q335 SARIMA-replay precedent): IRLS with
    * the standard GLM initialization μ⁰ = y + ½, unrolled for a
    * FIXED number of rounds, every step engine-replayable:
    *
    *  - per-round normal equations XᵀWX β = XᵀWz (W = diag(μ),
    *    working response z = η + (y−μ)/μ) accumulated as ORDER-FREE
    *    sums: each per-row term rounded to 12 decimals and summed
    *    as DECIMAL(38,12) — identical regardless of partitioning;
    *  - the only transcendental outputs (ln at init, exp per round)
    *    are rounded to 9 decimals — at η ≈ ln ȳ the double ulp is
    *    ~1e-15, so a last-ulp libm disagreement between engines
    *    cannot move the rounded value;
    *  - the 3×3 ridge-stabilized solve (+`ridge` on the diagonal)
    *    is Cramer's rule written as ONE textual expression mirrored
    *    in the SQL oracle — identical doubles in, identical out;
    *  - round-to-round β is a 1-row AGGREGATE broadcast onto the
    *    data (the stat-row pattern) — no driver collect, two keyed
    *    scans per round at any scale.
    *
    * Two features + intercept (the 3×3 Cramer case). Returns one
    * row (n_rounds, n, b0, b1, b2). The companion spec shows the
    * 2-round estimate already agrees with MLlib's converged GLM to
    * <1e-2 on a planted log-linear process. */
  def glmPoissonIrlsTwin(df: DataFrame, x1Col: String, x2Col: String,
      yCol: String, rounds: Int = 2, ridge: Double = 1e-6): DataFrame = {
    require(rounds >= 1 && rounds <= 4,
      s"rounds in [1,4] (fixed unroll, one oracle CTE each), got $rounds")
    val base = df
      .filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
        col(x2Col).isNotNull && col(yCol) >= 0)
      .select(col(yCol).cast("double").as("y"),
        col(x1Col).cast("double").as("x1"),
        col(x2Col).cast("double").as("x2"))

    // order-free decimal accumulation of one normal-equation cell
    def cell(c: Column, name: String) =
      sum(round(c, 12).cast("decimal(38,12)")).cast("double").as(name)

    // Cramer's rule for (A + ridge·I) b = c — single expression,
    // mirrored textually in the oracle SQL
    def solve(agg: DataFrame): DataFrame = {
      val l = lit(ridge)
      val (a11, a12, a13) = (col("a11") + l, col("a12"), col("a13"))
      val (a22, a23, a33) =
        (col("a22") + l, col("a23"), col("a33") + l)
      val det = a11 * (a22 * a33 - a23 * a23) -
        a12 * (a12 * a33 - a23 * a13) +
        a13 * (a12 * a23 - a22 * a13)
      agg.select(col("n"),
        round((col("c1") * (a22 * a33 - a23 * a23) -
          a12 * (col("c2") * a33 - a23 * col("c3")) +
          a13 * (col("c2") * a23 - a22 * col("c3"))) / det, 12)
          .as("b0"),
        round((a11 * (col("c2") * a33 - a23 * col("c3")) -
          col("c1") * (a12 * a33 - a23 * a13) +
          a13 * (a12 * col("c3") - col("c2") * a13)) / det, 12)
          .as("b1"),
        round((a11 * (a22 * col("c3") - col("c2") * a23) -
          a12 * (a12 * col("c3") - col("c2") * a13) +
          col("c1") * (a12 * a23 - a22 * a13)) / det, 12)
          .as("b2"))
    }

    def normalEq(rows: DataFrame): DataFrame = {
      // rows: y, x1, x2, w (= μ), z
      val (w, x1, x2, z) = (col("w"), col("x1"), col("x2"), col("z"))
      rows.agg(count(lit(1)).as("n"),
        cell(w, "a11"), cell(w * x1, "a12"), cell(w * x2, "a13"),
        cell(w * x1 * x1, "a22"), cell(w * x1 * x2, "a23"),
        cell(w * x2 * x2, "a33"),
        cell(w * z, "c1"), cell(w * x1 * z, "c2"),
        cell(w * x2 * z, "c3"))
    }

    // round 1: μ⁰ = y + ½ (exact), η⁰ = round(ln μ⁰, 9)
    val init = base.select(col("y"), col("x1"), col("x2"),
      (col("y") + 0.5).as("w"),
      (round(log(col("y") + 0.5), 9) - lit(0.5) / (col("y") + 0.5))
        .as("z"))
    var beta = solve(normalEq(init))
    // rounds 2..k: η = Xβ, μ = max(round(exp η, 9), 1e-6)
    for (_ <- 2 to rounds) {
      val eta = col("b0") + col("b1") * col("x1") +
        col("b2") * col("x2")
      val mu = greatest(round(exp(eta), 9), lit(1e-6))
      val rows = base.crossJoin(broadcast(beta))
        .select(col("y"), col("x1"), col("x2"), mu.as("w"),
          (eta + (col("y") - mu) / mu).as("z"))
      beta = solve(normalEq(rows))
    }
    beta.select(lit(rounds.toLong).as("n_rounds"), col("n"),
      col("b0"), col("b1"), col("b2"))
  }

  /** PORTABLE ORACLE TWIN of [[aftSurvival]] (Weibull AFT — the
    * q441 IRLS twin's sibling): Newton ascent on the extreme-value
    * log-likelihood, unrolled for a FIXED number of rounds over
    * parameters (b0, b1, u = ln σ), every step engine-replayable by
    * the q441 conventions (decimal order-free sums, 9-decimal
    * rounding on ln/exp outputs, Cramer 3×3 ridge solve mirrored
    * textually in SQL).
    *
    * Per row with ε = (ln t − b0 − b1·x)/σ and E = exp(ε):
    * ll_i = δ·ε − E − δ·u; gradient (E−δ)/σ·x_j and ε(E−δ)−δ;
    * negative Hessian E/σ²·x_i x_j (η block), (εE+E−δ)/σ·x_j
    * (cross), ε(E−δ)+ε²E (u,u). Init: b0 = mean ln t (decimal),
    * b1 = 0, u = 0. One feature + intercept + scale (the 3×3 Cramer
    * case). Returns (n_rounds, n, b0, b1, ln_sigma, sigma). */
  def aftNewtonTwin(df: DataFrame, xCol: String, durCol: String,
      censorCol: String, rounds: Int = 3,
      ridge: Double = 1e-6): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"rounds in [1,8] (fixed unroll, one oracle CTE each), got $rounds")
    // cache the prepared frame: every Newton round re-scans it, and
    // recomputing an expensive upstream (md5 lotteries, codecs) per
    // round dominates the fit (measured 4×+ at organic sf1). The
    // standard iterative-ML trade: MEMORY_AND_DISK, spill-safe, 3
    // slim columns.
    val prepared = df
      .filter(col(durCol).isNotNull && col(xCol).isNotNull &&
        col(censorCol).isNotNull && col(durCol) > 0)
      .select(round(log(col(durCol).cast("double")), 9).as("lnt"),
        col(xCol).cast("double").as("x"),
        col(censorCol).cast("double").as("d"))
    // a small parquet input arrives as ONE scan split, which would
    // run every Newton aggregate (9 BigDecimal cells/row) and the
    // upstream md5 lotteries single-threaded — measured 0.4s/round
    // at sf0.1. Repartition UP to the session's core count before
    // caching (never down: large inputs keep their splits); the
    // decimal sums are order-free by design so the result is
    // partitioning-invariant. The small-input check reads the
    // OPTIMIZER's size estimate, not .rdd.getNumPartitions — under
    // AQE, .rdd finalizes the physical plan and eagerly runs any
    // upstream query stages just to read a partition count
    // (round-10 advice).
    val par = df.sparkSession.sparkContext.defaultParallelism
    val smallInput = prepared.queryExecution.optimizedPlan.stats
      .sizeInBytes < BigInt(par.toLong) * (16L << 20)

    def cell(c: Column, name: String) =
      sum(round(c, 12).cast("decimal(38,12)")).cast("double").as(name)

    LocalStrategy.cached(
        if (smallInput) prepared.repartition(par) else prepared) { base =>
      // one Newton round: aggregate gradient + negative Hessian with
      // order-free decimal sums, Cramer ridge solve, θ += Δ
      def newtonRound(b0v: Double, b1v: Double,
          uv: Double): (Double, Double, Double) = {
        val sg = round(exp(lit(uv)), 9)
        val eps = (col("lnt") - lit(b0v) - lit(b1v) * col("x")) / sg
        val rows = base
          .select(col("x"), col("d"), sg.as("sg"), eps.as("eps"),
            least(round(exp(eps), 9), lit(1e12)).as("ee"))
        val (x, d, e, ep, sgc) = (col("x"), col("d"), col("ee"),
          col("eps"), col("sg"))
        val agg = rows.agg(
          cell((e - d) / sgc, "g1"),
          cell((e - d) / sgc * x, "g2"),
          cell(ep * (e - d) - d, "g3"),
          cell(e / (sgc * sgc), "a11"),
          cell(e / (sgc * sgc) * x, "a12"),
          cell((ep * e + e - d) / sgc, "a13"),
          cell(e / (sgc * sgc) * x * x, "a22"),
          cell((ep * e + e - d) / sgc * x, "a23"),
          cell(ep * (e - d) + ep * ep * e, "a33"))
        val l = lit(ridge)
        val (a11, a12, a13) = (col("a11") + l, col("a12"), col("a13"))
        val (a22, a23, a33) =
          (col("a22") + l, col("a23"), col("a33") + l)
        val det = a11 * (a22 * a33 - a23 * a23) -
          a12 * (a12 * a33 - a23 * a13) +
          a13 * (a12 * a23 - a22 * a13)
        // damped Newton: scale the WHOLE step so its ∞-norm is ≤ 0.5
        // (direction preserved — a per-component clamp distorts the
        // direction and provably diverges on this likelihood; the
        // flat σ start needs the damping, and convergence is by
        // round ~4 on planted data)
        val raw = agg.select(
          ((col("g1") * (a22 * a33 - a23 * a23) -
            a12 * (col("g2") * a33 - a23 * col("g3")) +
            a13 * (col("g2") * a23 - a22 * col("g3"))) / det).as("d1"),
          ((a11 * (col("g2") * a33 - a23 * col("g3")) -
            col("g1") * (a12 * a33 - a23 * a13) +
            a13 * (a12 * col("g3") - col("g2") * a13)) / det).as("d2"),
          ((a11 * (a22 * col("g3") - col("g2") * a23) -
            a12 * (a12 * col("g3") - col("g2") * a13) +
            col("g1") * (a12 * a23 - a22 * a13)) / det).as("d3"))
        val sc = least(lit(1.0), lit(0.5) / greatest(
          abs(col("d1")), abs(col("d2")), abs(col("d3"))))
        val stepped = raw.select(
          round(lit(b0v) + col("d1") * sc, 12).as("b0"),
          round(lit(b1v) + col("d2") * sc, 12).as("b1"),
          round(lit(uv) + col("d3") * sc, 12).as("u"))
          .head()
        (stepped.getDouble(0), stepped.getDouble(1), stepped.getDouble(2))
      }

      // init: b0 = decimal mean of ln t, b1 = 0, u = 0 (σ = 1).
      // θ is a SINGLE ROW per round; fetching it to the driver (the
      // repo's bounded 1-row-aggregate-collect convention) instead of
      // chaining it back in as a broadcast turns every Newton round
      // into ONE plain global aggregate over the cached base — the
      // before-plan nested 6 BroadcastExchange waits + 4-key
      // re-aggregations that existed only to carry 4 constants
      // (plans/r10/q444_aft_twin_before.txt). All per-row arithmetic
      // stays in Column expressions over lit() inputs, so every value
      // is bit-identical to the broadcast form (oracle re-verified).
      val initRow = base.agg(count(lit(1)).as("n"), cell(col("lnt"), "s"))
        .select(col("n"), round(col("s") / col("n"), 12).as("b0"))
        .head()
      val n0 = initRow.getLong(0)
      // empty post-filter input: return NULL theta — getDouble on
      // the NULL decimal mean silently unboxes to 0.0 and every
      // Newton round would fabricate numbers from it (round-10
      // advice; the old DataFrame-carried form propagated NULLs)
      if (n0 == 0) df.sparkSession.range(1).select(
        lit(rounds.toLong).as("n_rounds"), lit(0L).as("n"),
        lit(null).cast("double").as("b0"),
        lit(null).cast("double").as("b1"),
        lit(null).cast("double").as("ln_sigma"),
        lit(null).cast("double").as("sigma"))
      else {
        var theta = (initRow.getDouble(1), 0.0, 0.0) // (b0, b1, u)
        for (_ <- 1 to rounds)
          theta = newtonRound(theta._1, theta._2, theta._3)
        // theta is driver-held; nothing downstream reads the cache
        base.sparkSession.range(1).select(
          lit(rounds.toLong).as("n_rounds"), lit(n0).as("n"),
          lit(theta._1).as("b0"), lit(theta._2).as("b1"),
          lit(theta._3).as("ln_sigma"),
          round(exp(lit(theta._3)), 9).as("sigma"))
      }
    }
  }

  /** DecisionTree classifier/regressor (models/tree.rs:185,669) via
    * MLlib — distributed histogram-based splits, deterministic given
    * the seed. Returns the input plus a `prediction` column. */
  def decisionTreeMl(df: DataFrame, features: Seq[String],
      label: String, regression: Boolean = false, maxDepth: Int = 5,
      seed: Long = 42L): DataFrame = {
    val assembled = assemble(df, features)
    val out =
      if (regression)
        new DecisionTreeRegressor().setLabelCol(label)
          .setFeaturesCol("features").setMaxDepth(maxDepth)
          .setSeed(seed).fit(assembled).transform(assembled)
      else
        new DecisionTreeClassifier().setLabelCol(label)
          .setFeaturesCol("features").setMaxDepth(maxDepth)
          .setSeed(seed).fit(assembled).transform(assembled)
    out.select(df.columns.map(col) :+ col("prediction"): _*)
  }

  /** RandomForest classifier/regressor (models/ensemble.rs:131,367)
    * via MLlib. */
  def randomForestMl(df: DataFrame, features: Seq[String],
      label: String, regression: Boolean = false, numTrees: Int = 20,
      maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val assembled = assemble(df, features)
    val out =
      if (regression)
        new RandomForestRegressor().setLabelCol(label)
          .setFeaturesCol("features").setNumTrees(numTrees)
          .setMaxDepth(maxDepth).setSeed(seed)
          .fit(assembled).transform(assembled)
      else
        new RandomForestClassifier().setLabelCol(label)
          .setFeaturesCol("features").setNumTrees(numTrees)
          .setMaxDepth(maxDepth).setSeed(seed)
          .fit(assembled).transform(assembled)
    out.select(df.columns.map(col) :+ col("prediction"): _*)
  }

  /** Gradient-boosted trees (models/ensemble.rs:639,875) via MLlib. */
  def gbtMl(df: DataFrame, features: Seq[String], label: String,
      regression: Boolean = false, maxIter: Int = 20,
      maxDepth: Int = 5, seed: Long = 42L): DataFrame = {
    val assembled = assemble(df, features)
    val out =
      if (regression)
        new GBTRegressor().setLabelCol(label)
          .setFeaturesCol("features").setMaxIter(maxIter)
          .setMaxDepth(maxDepth).setSeed(seed)
          .fit(assembled).transform(assembled)
      else
        new GBTClassifier().setLabelCol(label)
          .setFeaturesCol("features").setMaxIter(maxIter)
          .setMaxDepth(maxDepth).setSeed(seed)
          .fit(assembled).transform(assembled)
    out.select(df.columns.map(col) :+ col("prediction"): _*)
  }

  /** MLP classifier (models/neural.rs:582) via MLlib — `layers` is
    * the full topology including input and output sizes. */
  def mlpClassifierMl(df: DataFrame, features: Seq[String],
      label: String, layers: Seq[Int], maxIter: Int = 100,
      seed: Long = 42L): DataFrame = {
    require(layers.size >= 2 && layers.head == features.size,
      "mlpClassifierMl: layers must start at the feature count")
    val assembled = assemble(df, features)
    val m = new MultilayerPerceptronClassifier().setLabelCol(label)
      .setFeaturesCol("features")
      .setLayers(layers.map(Integer.valueOf).toArray.map(_.intValue))
      .setMaxIter(maxIter).setSeed(seed).fit(assembled)
    m.transform(assembled)
      .select(df.columns.map(col) :+ col("prediction"): _*)
  }

  /** PolynomialFeatures (preprocessing/mod.rs:348): every monomial of
    * the given columns up to `degree` as new columns (x1, x2, x1^2,
    * x1*x2, …), or only cross-terms with `interactionOnly`. Pure
    * map-side codegen'd expressions — no fitting, no shuffle. Column
    * naming: factors joined by '*', powers flattened (x1*x1). */
  def polynomialFeatures(df: DataFrame, cols: Seq[String],
      degree: Int, interactionOnly: Boolean = false): DataFrame = {
    require(degree >= 2 && degree <= 4,
      "polynomialFeatures supports degree 2-4")
    def combos(d: Int): Seq[Seq[String]] =
      if (d == 1) cols.map(Seq(_))
      else combos(d - 1).flatMap(c =>
        cols.filter(_ >= c.last).map(c :+ _))
    val terms = (2 to degree).flatMap(combos)
      .filter(t => !interactionOnly || t.distinct.size == t.size)
    terms.foldLeft(df)((d, t) =>
      d.withColumn(t.mkString("*"),
        t.map(c => col(c).cast("double")).reduce(_ * _)))
  }

  /** Fitted preprocessing + model pipeline (reference
    * src/ml/pipeline/mod.rs:181 Pipeline): assemble → standard-scale →
    * estimator as ONE MLlib Pipeline, so the whole chain fits once and
    * applies as a single transform (Spark's Pipeline is the native
    * analogue of the reference's stage list — stages execute as
    * DataFrame transforms, distributed end to end). Returns the
    * prediction frame; classification when `classify`, else linear
    * regression. */
  def fitPredictPipeline(df: DataFrame, features: Seq[String],
      label: String, classify: Boolean = false,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
    import org.apache.spark.ml.classification.LogisticRegression
    val asm = new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("__raw__")
    val scaler = new StandardScaler().setInputCol("__raw__")
      .setOutputCol("features").setWithMean(true).setWithStd(true)
    val est =
      if (classify) new LogisticRegression().setLabelCol(label)
        .setFeaturesCol("features")
      else new LinearRegression().setLabelCol(label)
        .setFeaturesCol("features")
    new Pipeline().setStages(Array(asm, scaler, est)).fit(df)
      .transform(df).drop("__raw__", "features")
  }

  /** Imputer (preprocessing/mod.rs:447): fill nulls per column with a
    * fitted statistic. Strategies: "mean" (exact Σ/n), "median"
    * (exact percentile), "most_frequent" (mode, ties broken by
    * smallest value), "constant". The fit is one aggregate (mean) or
    * one TakeOrdered per column (mode) broadcast back — no driver
    * state beyond the tiny stat row, scales to any input. mean/median
    * cast the column to double (the statistic is fractional); mode
    * and constant preserve the column type. */
  def impute(df: DataFrame, cols: Seq[String],
      strategy: String = "mean", fillValue: Double = 0.0): DataFrame =
    strategy match {
      case "constant" =>
        cols.foldLeft(df)((d, c) =>
          d.withColumn(c, coalesce(col(c), lit(fillValue))))
      case "mean" | "median" =>
        val aggs = cols.map { c =>
          if (strategy == "mean")
            (sum(col(c)).cast("double") / count(col(c)).cast("double"))
              .as(s"__st_$c")
          else percentile(col(c), lit(0.5)).as(s"__st_$c")
        }
        val stats = df.agg(aggs.head, aggs.tail: _*)
        cols.foldLeft(df.crossJoin(broadcast(stats)))((d, c) =>
            d.withColumn(c, coalesce(col(c).cast("double"),
              col(s"__st_$c"))))
          .drop(cols.map(c => s"__st_$c"): _*)
      case "most_frequent" =>
        cols.foldLeft(df) { (d, c) =>
          val m = df.filter(col(c).isNotNull)
            .groupBy(col(c).as(s"__st_$c"))
            .agg(count(lit(1)).as("__c__"))
            .orderBy(col("__c__").desc, col(s"__st_$c").asc)
            .limit(1).drop("__c__")
          d.crossJoin(broadcast(m))
            .withColumn(c, coalesce(col(c), col(s"__st_$c")))
            .drop(s"__st_$c")
        }
      case other =>
        throw new IllegalArgumentException(s"impute: $other")
    }

  /** Group-wise mean imputation — the pandas
    * `fillna(groupby(keys)[col].transform("mean"))` idiom as one
    * operator: each null takes ITS GROUP's mean (falling back to the
    * global mean for all-null groups). One hash aggregate per fit +
    * an equi-join on the group keys — no windows over data, scales
    * with group count. mean is exact Σ/n of the non-nulls; the column
    * comes back double. */
  def imputeByGroup(df: DataFrame, valueCol: String,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "imputeByGroup needs group keys")
    val means = df.groupBy(keyCols.map(col): _*)
      .agg((sum(col(valueCol)).cast("double") /
        count(col(valueCol)).cast("double")).as("__gm__"))
    val glob = df.agg((sum(col(valueCol)).cast("double") /
      count(col(valueCol)).cast("double")).as("__m__"))
    df.join(means, keyCols, "left")
      .crossJoin(broadcast(glob))
      .withColumn(valueCol, coalesce(col(valueCol).cast("double"),
        col("__gm__"), col("__m__")))
      .drop("__gm__", "__m__")
  }

  /** Deterministic train/test split (model_selection.rs train_test_
    * split): membership is a pure function of the id — reproducible
    * across runs, partitionings and cluster sizes, unlike
    * `randomSplit` (which is partition-order sensitive). Returns
    * (train, test). */
  def trainTestSplit(df: DataFrame, idCol: String, testFrac: Double,
      salt: String = ""): (DataFrame, DataFrame) = {
    require(testFrac > 0 && testFrac < 1, "testFrac in (0,1)")
    // null ids hash to null; coalesce to 1.0 so they land in TRAIN
    // rather than silently vanishing from both sides
    val h = coalesce(graft.llm.PipelineOps.hash48Unit(
      concat(col(idCol).cast("string"), lit(salt))), lit(1.0))
    (df.filter(h >= testFrac), df.filter(h < testFrac))
  }

  /** Deterministic k-fold assignment (model_selection.rs
    * CrossValidationStrategy::KFold): adds a `fold` column in [0, k)
    * as a pure hash of the id — every engine and run derives the same
    * folds, and fold i's train set is `fold =!= i`. */
  def kFoldAssign(df: DataFrame, idCol: String, k: Int,
      salt: String = ""): DataFrame = {
    require(k >= 2, "kFoldAssign needs k >= 2")
    // null ids get fold 0 instead of a null fold
    val h = coalesce(graft.llm.PipelineOps.hash48Unit(
      concat(col(idCol).cast("string"), lit(salt))), lit(0.0))
    df.withColumn("fold", floor(h * k).cast("int"))
  }

  /** Smoothed mean target encoding (the feature-engineering
    * mean-encoder family, reference ml/feature_engineering.rs
    * AutoFeatureEngineer aggregations): for each category,
    * enc = (Σ_cat y + m·ȳ) / (n_cat + m) with smoothing weight `m`
    * pulling rare categories toward the global mean. The target is
    * accumulated as an exact integer (pass an integral column — the
    * cents pattern) so the encoding is bit-deterministic. One
    * groupBy + one broadcast of the (1-row) global mean. */
  def targetEncode(df0: DataFrame, catCol: String, targetCol: String,
      smoothing: Double = 10.0): DataFrame = {
    val df = df0.filter(col(catCol).isNotNull &&
      col(targetCol).isNotNull)
    val per = df.groupBy(col(catCol))
      .agg(count(lit(1)).as("n"), sum(col(targetCol)).as("sy"))
    val tot = per.agg(sum(col("n")).as("__n__"),
      sum(col("sy")).as("__sy__"))
    per.crossJoin(broadcast(tot))
      .select(col(catCol), col("n").cast("long").as("n"),
        round((col("sy").cast("double") + lit(smoothing) *
            (col("__sy__").cast("double") / col("__n__"))) /
          (col("n").cast("double") + lit(smoothing)), 6)
          .as("encoded"))
  }

  /** Weight of evidence + information value per category of a
    * binary target: WOE = ln((g/G)/(b/B)) computed as one ln of an
    * exact integer ratio (g·B)/(b·G); IV contribution
    * (g/G − b/B)·WOE. Zero cells get the standard ±0.5 continuity
    * adjustment so WOE stays finite. Counts shuffle once. */
  def woeIv(df0: DataFrame, catCol: String,
      labelCol: String): DataFrame = {
    val y = col(labelCol).cast("boolean")
    val df = df0.filter(col(catCol).isNotNull && y.isNotNull)
    val per = df.groupBy(col(catCol))
      .agg(sum(when(y, 1L).otherwise(0L)).as("g"),
        sum(when(y, 0L).otherwise(1L)).as("b"))
    val tot = per.agg(sum(col("g")).as("__g__"),
      sum(col("b")).as("__b__"))
    val gAdj = col("g").cast("double") +
      when(col("g") === 0 || col("b") === 0, 0.5).otherwise(0.0)
    val bAdj = col("b").cast("double") +
      when(col("g") === 0 || col("b") === 0, 0.5).otherwise(0.0)
    val woe = log((gAdj * col("__b__")) / (bAdj * col("__g__")))
    per.crossJoin(broadcast(tot))
      .select(col(catCol), col("g").cast("long").as("g"),
        col("b").cast("long").as("b"),
        round(woe, 6).as("woe"),
        round((gAdj / col("__g__") - bAdj / col("__b__")) * woe, 6)
          .as("iv_contrib"))
  }

  /** SelectKBest-style univariate feature scoring
    * (model_selection.rs:702 SelectKBest): squared (point-biserial)
    * Pearson correlation of each integral feature column with a
    * binary target, r² = (n·Σxy − Σx·Σy)² / ((n·Σxx − (Σx)²)
    * (n·Σyy − (Σy)²)), from one aggregate of exact DECIMAL(38,0)
    * sufficient sums — bit-deterministic, one pass for ALL features.
    * Returns (feature, score) sorted by score descending. */
  def featureScores(df0: DataFrame, features: Seq[String],
      labelCol: String): DataFrame = {
    require(features.nonEmpty, "featureScores needs >= 1 feature")
    val y = col(labelCol).cast("boolean")
    val df = df0.filter(y.isNotNull &&
      features.map(col(_).isNotNull).reduce(_ && _))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val yv = dec(when(y, 1L).otherwise(0L))
    val aggs = Seq(count(lit(1)).as("__n__"), sum(yv).as("__sy__")) ++
      features.zipWithIndex.flatMap { case (f, i) =>
        val x = dec(col(f))
        Seq(sum(x).as(s"__sx$i"), sum(x * x).as(s"__sxx$i"),
          sum(x * yv).as(s"__sxy$i"))
      }
    val a = df.agg(aggs.head, aggs.tail: _*)
    val n = col("__n__").cast("double")
    val sy = col("__sy__").cast("double")
    // y is 0/1 so Σy² = Σy
    val syy = sy
    val scored = features.zipWithIndex.map { case (f, i) =>
      val sx = col(s"__sx$i").cast("double")
      val sxx = col(s"__sxx$i").cast("double")
      val sxy = col(s"__sxy$i").cast("double")
      val num = n * sxy - sx * sy
      struct(lit(f).as("feature"),
        round((num * num) / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
          6).as("score"))
    }
    a.select(explode(array(scored: _*)).as("fs"))
      .select(col("fs.feature").as("feature"), col("fs.score").as("score"))
      .orderBy(col("score").desc, col("feature"))
  }

  /** Quantile normalization across aligned value columns (the
    * genomics / feature-preprocessing standard): each column is
    * ranked independently (ties broken by id — fully deterministic),
    * the reference distribution is the cross-column mean at each
    * rank, and every value is replaced by the reference value at its
    * rank. Positional ranks require a per-column global order, so
    * this is for AGGREGATED / bounded series (the ccf/granger gate
    * pattern); for full-scale per-row normalization use the
    * distribution-free rankGauss transform instead. */
  def quantileNormalize(df: DataFrame, idCol: String,
      valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(valueCols.size >= 2, "quantileNormalize needs >= 2 columns")
    val long = valueCols.map { c =>
      df.filter(valueCols.map(col(_).isNotNull).reduce(_ && _))
        .select(col(idCol).as("__id__"),
          col(c).cast("double").as("__v__"), lit(c).as("__col__"))
        .withColumn("__rk__", row_number().over(
          Window.partitionBy(lit(1))
            .orderBy(col("__v__"), col("__id__"))))
    }.reduce(_ unionByName _)
    val ref = long.groupBy("__rk__")
      .agg(round(avg(col("__v__")), 6).as("__m__"))
    val firsts = valueCols.map(c =>
      first(when(col("__col__") === c, col("__m__")), ignoreNulls = true)
        .as(s"${c}_qn"))
    long.join(broadcast(ref), "__rk__")
      .groupBy(col("__id__").as(idCol))
      .agg(firsts.head, firsts.tail: _*)
  }
}
