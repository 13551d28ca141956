package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.llm.PipelineOps

/** Model selection: k-fold cross-validation and grid search, Spark-first.
  *
  * Reference surface: `src/ml/model_selection.rs` (CrossValidationStrategy,
  * GridSearchCV, RandomizedSearchCV). The reference materializes fold
  * index vectors and refits per fold; at 100 TB that is k full training
  * passes. For linear models the refit collapses algebraically: simple
  * OLS/ridge coefficients are pure arithmetic on the sufficient
  * statistics (n, Σx, Σy, Σxx, Σyy, Σxy), and the train-split stats for
  * fold i are just (totals − fold i stats). So the ENTIRE k-fold CV — and
  * an entire hyperparameter grid — costs ONE hash-aggregate scan of the
  * data producing k tiny rows; everything downstream operates on k (or
  * k × |grid|) rows. Held-out error needs no second scan either:
  *   SSE_test = Σ(y−a−bx)² = syy − 2a·sy − 2b·sxy + 2ab·sx + a²n + b²sxx.
  *
  * Fold assignment is the repo's portable deterministic 48-bit md5 hash
  * (PipelineOps.hash48Unit): stable across runs, cluster sizes, and
  * engines — any engine can re-derive the exact folds, which is what
  * makes these operators oracle-checkable.
  *
  * Determinism rules (SURVEY §7.5): x and y must be integer-valued
  * (caller casts/scales); sufficient sums are then exact in doubles and
  * the derived coefficients follow the identical association order as
  * the oracle SQL.
  */
object ModelSelection {

  /** fold id in [0, k) from a deterministic portable hash of keyCol. */
  def foldOf(keyCol: Column, k: Int, salt: String): Column =
    floor(PipelineOps.hash48Unit(
      concat(keyCol.cast("string"), lit(salt))) * k).cast("int")

  /** Per-fold sufficient statistics for y ~ x. One partial+final hash
    * aggregate; output is k rows however large the input. */
  private def foldStats(df0: DataFrame, keyCol: String, xCol: String,
      yCol: String, k: Int, salt: String): DataFrame = {
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    df0.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(keyCol).isNotNull)
      .select(foldOf(col(keyCol), k, salt).as("fold"), x.as("x"),
        y.as("y"))
      .groupBy("fold")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
  }

  /** Fold stats joined with the complement (train = totals − fold).
    * The totals frame is one row; Spark broadcasts the nested-loop
    * join, so this is k rows of arithmetic. The totals branch reuses
    * the fold-stat aggregate's shuffle (ReusedExchange), so the base
    * data is scanned once. */
  private def withTrainStats(fs: DataFrame): DataFrame = {
    val tot = fs.agg(sum("n").as("tn0"), sum("sx").as("tsx0"),
      sum("sy").as("tsy0"), sum("sxx").as("tsxx0"),
      sum("syy").as("tsyy0"), sum("sxy").as("tsxy0"))
    fs.crossJoin(broadcast(tot))
      .withColumn("tn", col("tn0") - col("n"))
      .withColumn("tsx", col("tsx0") - col("sx"))
      .withColumn("tsy", col("tsy0") - col("sy"))
      .withColumn("tsxx", col("tsxx0") - col("sxx"))
      .withColumn("tsyy", col("tsyy0") - col("syy"))
      .withColumn("tsxy", col("tsxy0") - col("sxy"))
  }

  /** Held-out SSE of y = a + b·x against this fold's own stats. */
  private def testSse(a: Column, b: Column): Column =
    col("syy") - lit(2.0) * a * col("sy") -
      lit(2.0) * b * col("sxy") + lit(2.0) * a * b * col("sx") +
      a * a * col("n") + b * b * col("sxx")

  /** K-fold CV of simple OLS y ~ x: per fold, coefficients fit on the
    * other k−1 folds and RMSE/R² evaluated on the held-out fold.
    * Output: fold, n_train, n_test, slope, intercept, test_rmse,
    * test_r2 (rounded to 6, engine-portable). */
  def kFoldOlsCv(df0: DataFrame, keyCol: String, xCol: String,
      yCol: String, k: Int = 5, salt: String = "cv"): DataFrame = {
    require(k >= 2, "kFoldOlsCv needs k >= 2")
    val ts = withTrainStats(foldStats(df0, keyCol, xCol, yCol, k, salt))
    val varx = col("tn") * col("tsxx") - col("tsx") * col("tsx")
    val covxy = col("tn") * col("tsxy") - col("tsx") * col("tsy")
    val withAb = ts
      .withColumn("slope", covxy / varx)
      .withColumn("intercept",
        (col("tsy") - col("slope") * col("tsx")) / col("tn"))
    val sse = testSse(col("intercept"), col("slope"))
    val sstot = col("syy") - col("sy") * col("sy") / col("n")
    withAb
      .select(col("fold"),
        col("tn").cast("long").as("n_train"),
        col("n").cast("long").as("n_test"),
        round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"),
        round(sqrt(sse / col("n")), 6).as("test_rmse"),
        round(lit(1.0) - sse / sstot, 6).as("test_r2"))
  }

  /** GridSearchCV parity for ridge y ~ x (intercept unpenalized,
    * slope = Sxy_c / (Sxx_c + λ) on centered train stats). Every λ
    * reuses the same k fold-stat rows, so the whole grid still costs
    * one scan of the data. Score = pooled held-out RMSE over all
    * folds. Output: lambda, cv_rmse, rank (1 = best). */
  def ridgeGridCv(df0: DataFrame, keyCol: String, xCol: String,
      yCol: String, lambdas: Seq[Double], k: Int = 5,
      salt: String = "cv"): DataFrame = {
    require(k >= 2 && lambdas.nonEmpty)
    val ts = withTrainStats(foldStats(df0, keyCol, xCol, yCol, k, salt))
    val grid = ts.crossJoin(
      broadcast(ts.sparkSession.createDataFrame(
        lambdas.map(Tuple1(_))).toDF("lambda")))
    val sxxC = col("tsxx") - col("tsx") * col("tsx") / col("tn")
    val sxyC = col("tsxy") - col("tsx") * col("tsy") / col("tn")
    val scored = grid
      .withColumn("slope", sxyC / (sxxC + col("lambda")))
      .withColumn("intercept",
        (col("tsy") - col("slope") * col("tsx")) / col("tn"))
      .withColumn("sse", testSse(col("intercept"), col("slope")))
    val pooled = scored.groupBy("lambda")
      .agg(sum("sse").as("sse"), sum("n").as("nn"))
      .select(col("lambda"),
        round(sqrt(col("sse") / col("nn")), 6).as("cv_rmse"))
    // |grid| rows: the global rank window is a few rows, not a scale
    // hazard.
    pooled.withColumn("rank",
      rank().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cv_rmse"), col("lambda"))).cast("int"))
  }

  /** AutoML-lite regression leaderboard (reference src/ml/automl.rs:
    * 341 AutoML::fit over a ModelSearchSpace): fit a fixed seeded
    * search space of MLlib regressors on a deterministic hash
    * train split, score each on the holdout, rank by RMSE. The
    * driver loop is over MODELS (4 iterations), never over data —
    * each fit/score is a distributed MLlib job. Output: model,
    * rmse, mae, r2, rank (1 = best). Not oracle-expressible (MLlib
    * internals), so gated rows-only + by recovery specs. */
  def autoMlRegression(df: DataFrame, idCol: String,
      features: Seq[String], label: String, testFrac: Double = 0.25,
      salt: String = "aml", seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.{DecisionTreeRegressor,
      GBTRegressor, LinearRegression, RandomForestRegressor}
    val (train0, test0) = MlOps.trainTestSplit(df, idCol, testFrac, salt)
    val asm = new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("features")
    val (train, test) = (asm.transform(train0), asm.transform(test0))
    val candidates = Seq(
      "linear_regression" -> new LinearRegression()
        .setLabelCol(label).setFeaturesCol("features"),
      "decision_tree" -> new DecisionTreeRegressor()
        .setLabelCol(label).setFeaturesCol("features").setSeed(seed),
      "random_forest" -> new RandomForestRegressor()
        .setLabelCol(label).setFeaturesCol("features")
        .setNumTrees(20).setSeed(seed),
      "gbt" -> new GBTRegressor()
        .setLabelCol(label).setFeaturesCol("features")
        .setMaxIter(20).setSeed(seed))
    val scored = candidates.map { case (name, est) =>
      val pred = est.fit(train).transform(test)
      MlMetrics.regressionMetrics(pred, label, "prediction")
        .select(lit(name).as("model"), col("rmse"), col("mae"),
          col("r2"))
    }.reduce(_ union _)
    scored.withColumn("rank",
      rank().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("rmse"), col("model"))).cast("int"))
  }

  /** PORTABLE ORACLE TWIN of [[autoMlRegression]] (the q441/q442/
    * q444 ledger-twin series): the same select-by-holdout-RMSE
    * harness with every candidate engine-replayable —
    *
    *   mean       intercept-only (decimal mean of train y)
    *   linear_x1  ridge OLS on (1, x1): 2×2 Cramer
    *   linear_x1_x2  ridge OLS on (1, x1, x2): the q441 3×3 Cramer
    *
    * Split is the portable md5-48 lottery on the id (+ salt);
    * normal equations and test SSE accumulate as order-free
    * 12-decimal DECIMAL(38,12) sums; RMSE = sqrt (IEEE-exact, no
    * rounding needed) of the decimal mean, rounded to 9. Returns
    * one row per candidate: (model, n_train, n_test, rmse,
    * selected) — selected = argmin rmse with the model-name
    * tiebreak. The MLlib harness stays the production API; this is
    * its hash-matchable image. */
  def autoMlTwin(df: DataFrame, idCol: String, x1Col: String,
      x2Col: String, yCol: String, testFrac: Double = 0.25,
      salt: String = "amt", ridge: Double = 1e-6): DataFrame = {
    require(testFrac > 0 && testFrac < 1, "testFrac in (0,1)")
    val h = coalesce(PipelineOps.hash48Unit(
      concat(col(idCol).cast("string"), lit(salt))), lit(1.0))
    val base = df
      .filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
        col(x2Col).isNotNull)
      .select(col(yCol).cast("double").as("y"),
        col(x1Col).cast("double").as("x1"),
        col(x2Col).cast("double").as("x2"),
        (h < testFrac).as("is_test"))

    def cell(c: Column, name: String) =
      sum(round(c, 12).cast("decimal(38,12)")).cast("double").as(name)
    val (y, x1, x2) = (col("y"), col("x1"), col("x2"))

    // ONE scan: train normal-equation cells + test cross-moments
    // (test SSE is pure algebra on these — no per-model second scan)
    def side(c: Column, isTest: Boolean) =
      when(col("is_test") === isTest, c).otherwise(lit(0.0))
    val s = base.agg(
      sum(when(!col("is_test"), 1L).otherwise(0L)).as("ntr"),
      sum(when(col("is_test"), 1L).otherwise(0L)).as("nte"),
      cell(side(y, false), "sy"), cell(side(x1, false), "sx1"),
      cell(side(x2, false), "sx2"),
      cell(side(x1 * x1, false), "s11"),
      cell(side(x1 * x2, false), "s12"),
      cell(side(x2 * x2, false), "s22"),
      cell(side(x1 * y, false), "s1y"),
      cell(side(x2 * y, false), "s2y"),
      cell(side(y, true), "ty"), cell(side(x1, true), "tx1"),
      cell(side(x2, true), "tx2"),
      cell(side(x1 * x1, true), "t11"),
      cell(side(x1 * x2, true), "t12"),
      cell(side(x2 * x2, true), "t22"),
      cell(side(x1 * y, true), "t1y"),
      cell(side(x2 * y, true), "t2y"),
      cell(side(y * y, true), "tyy"))

    val l = lit(ridge)
    // mean: b0 = sy/ntr
    val mB0 = round(col("sy") / col("ntr"), 12)
    // linear_x1: (ntr+λ)b0 + sx1·b1 = sy ; sx1·b0 + (s11+λ)b1 = s1y
    val det1 = (col("ntr") + l) * (col("s11") + l) -
      col("sx1") * col("sx1")
    val l1B0 = round((col("sy") * (col("s11") + l) -
      col("sx1") * col("s1y")) / det1, 12)
    val l1B1 = round(((col("ntr") + l) * col("s1y") -
      col("sy") * col("sx1")) / det1, 12)
    // linear_x1_x2: the q441 3×3 Cramer with A = [[ntr,sx1,sx2],
    // [sx1,s11,s12],[sx2,s12,s22]] + λI, c = (sy,s1y,s2y)
    val (a11, a12, a13) = (col("ntr") + l, col("sx1"), col("sx2"))
    val (a22, a23, a33) = (col("s11") + l, col("s12"), col("s22") + l)
    val det = a11 * (a22 * a33 - a23 * a23) -
      a12 * (a12 * a33 - a23 * a13) +
      a13 * (a12 * a23 - a22 * a13)
    val l2B0 = round((col("sy") * (a22 * a33 - a23 * a23) -
      a12 * (col("s1y") * a33 - a23 * col("s2y")) +
      a13 * (col("s1y") * a23 - a22 * col("s2y"))) / det, 12)
    val l2B1 = round((a11 * (col("s1y") * a33 - a23 * col("s2y")) -
      col("sy") * (a12 * a33 - a23 * a13) +
      a13 * (a12 * col("s2y") - col("s1y") * a13)) / det, 12)
    val l2B2 = round((a11 * (a22 * col("s2y") - col("s1y") * a23) -
      a12 * (a12 * col("s2y") - col("s1y") * a13) +
      col("sy") * (a12 * a23 - a22 * a13)) / det, 12)

    // test SSE(b0,b1,b2) = tyy − 2b0·ty − 2b1·t1y − 2b2·t2y
    //   + b0²·nte + 2b0b1·tx1 + 2b0b2·tx2 + b1²·t11 + 2b1b2·t12
    //   + b2²·t22  (every term a decimal-summed cross-moment)
    def sse(b0: Column, b1: Column, b2: Column): Column =
      col("tyy") - lit(2.0) * b0 * col("ty") -
        lit(2.0) * b1 * col("t1y") - lit(2.0) * b2 * col("t2y") +
        b0 * b0 * col("nte") + lit(2.0) * b0 * b1 * col("tx1") +
        lit(2.0) * b0 * b2 * col("tx2") + b1 * b1 * col("t11") +
        lit(2.0) * b1 * b2 * col("t12") + b2 * b2 * col("t22")
    def rmse(b0: Column, b1: Column, b2: Column): Column =
      round(sqrt(greatest(sse(b0, b1, b2), lit(0.0)) /
        col("nte")), 9)

    val scored = s.select(col("ntr"), col("nte"),
      rmse(mB0, lit(0.0), lit(0.0)).as("rmse_mean"),
      rmse(l1B0, l1B1, lit(0.0)).as("rmse_lin1"),
      rmse(l2B0, l2B1, l2B2).as("rmse_lin2"))
    val rows = Seq(
      ("linear_x1", "rmse_lin1"), ("linear_x1_x2", "rmse_lin2"),
      ("mean", "rmse_mean")).map { case (name, c) =>
      scored.select(lit(name).as("model"), col("ntr").as("n_train"),
        col("nte").as("n_test"), col(c).as("rmse"),
        (col(c) === least(col("rmse_mean"), col("rmse_lin1"),
          col("rmse_lin2")) &&
          // name tiebreak: selected only if no alphabetically
          // earlier model achieves the same minimum
          !Seq(("linear_x1", "rmse_lin1"), ("linear_x1_x2",
            "rmse_lin2"), ("mean", "rmse_mean"))
            .filter(_._1 < name).map { case (_, oc) =>
              col(oc) === least(col("rmse_mean"), col("rmse_lin1"),
                col("rmse_lin2"))
            }.foldLeft(lit(false))(_ || _)).as("selected"))
    }.reduce(_ unionByName _)
    rows
  }
}
