package graft

import org.apache.spark.sql.functions._
import graft.stats.StatsOps

/** Round-4 inference additions: Welch's ANOVA, VIF, Breusch–Pagan,
  * OLS influence, corrwith, sem/mad. */
class StatsInferenceR4Spec extends SparkSpecBase {
  import spark.implicits._

  // local closed-form reference for Welch's ANOVA (independent code
  // path: plain Scala over the raw groups)
  private def welchRef(groups: Seq[Seq[Double]]): (Double, Double) = {
    val st = groups.map { g =>
      val n = g.size.toDouble; val m = g.sum / n
      val vr = g.map(x => (x - m) * (x - m)).sum / (n - 1)
      (n, m, n / vr)
    }
    val k = st.size.toDouble
    val sw = st.map(_._3).sum
    val xw = st.map { case (_, m, w) => w * m }.sum / sw
    val a = st.map { case (_, m, w) => w * (m - xw) * (m - xw) }.sum /
      (k - 1)
    val lam = st.map { case (n, _, w) =>
      (1.0 - w / sw) * (1.0 - w / sw) / (n - 1) }.sum
    val f = a / (1.0 + 2.0 * (k - 2) / (k * k - 1) * lam)
    val df2 = (k * k - 1) / (3.0 * lam)
    (f, df2)
  }

  test("welchAnova matches the closed form and detects a shift") {
    val g1 = Seq(10L, 12L, 11L, 13L, 9L, 11L)
    val g2 = Seq(20L, 25L, 15L, 22L, 18L)
    val g3 = Seq(11L, 10L, 12L, 11L, 13L, 10L, 12L)
    val df = (g1.map(("a", _)) ++ g2.map(("b", _)) ++ g3.map(("c", _)))
      .toDF("g", "v")
    val r = StatsOps.welchAnova(df, "v", "g").head()
    val (f, df2) = welchRef(Seq(g1, g2, g3).map(_.map(_.toDouble)))
    r.getAs[Double]("f_stat") shouldBe f +- 1e-5
    r.getAs[Long]("df1") shouldBe 2L
    r.getAs[Double]("df2") shouldBe df2 +- 1e-5
    r.getAs[Double]("p_value") should be < 0.05
    // no shift -> F near zero, large p
    val same = (g1.map(("a", _)) ++ g1.map(("b", _))).toDF("g", "v")
    val r2 = StatsOps.welchAnova(same, "v", "g").head()
    r2.getAs[Double]("f_stat") shouldBe 0.0 +- 1e-9
    r2.getAs[Double]("p_value") should be > 0.9
  }

  test("vif3: independent columns ~1, collinear column explodes") {
    // no interpreted fallback: a generated method that Janino cannot
    // compile (one over 64 KB) fails the test instead of running slow
    val fallback = "spark.sql.codegen.fallback"
    val old = spark.conf.getOption(fallback)
    spark.conf.set(fallback, "false")
    try vif3Cases()
    finally old.fold(spark.conf.unset(fallback))(spark.conf.set(fallback, _))
  }

  private def vif3Cases(): Unit = {
    // x1, x2 constructed orthogonal-ish via deterministic residues
    val rows = (0 until 400).map { i =>
      val x1 = (i * 37) % 101L
      val x2 = (i * 59) % 97L
      (x1, x2, x1 + x2) // x3 perfectly collinear
    }
    val ind = rows.map { case (a, b, _) =>
      (a, b, ((a * 17 + b * 3) % 89)) }.toDF("x1", "x2", "x3")
    val vifs = StatsOps.vif3(ind, Seq("x1", "x2", "x3"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("vif")).toMap
    all(vifs.values) should be < 1.2
    all(vifs.values) should be >= 1.0
    val coll = rows.toDF("x1", "x2", "x3")
    val v3 = StatsOps.vif3(coll, Seq("x1", "x2", "x3")).collect()
      .map(r => Option(r.get(1)).map(_.asInstanceOf[Double]))
    // perfect collinearity: det -> 0 (FP): either null or enormous
    v3.foreach(v => assert(v.isEmpty || v.get > 100.0))
  }

  test("breuschPagan: flat noise accepts, scale-with-x noise rejects") {
    // deterministic pseudo-noise with period 19, x has period 50 —
    // over a full 950-cycle every (x, ε) pair appears once (CRT), so
    // cov(x, ε) and cov(x, ε²) are exactly zero under H₀
    def eps(i: Int): Long = ((i * 37) % 19) - 9
    val homo = (1 to 950).map(i => (i.toLong % 50 + 1,
      3 * (i.toLong % 50 + 1) + eps(i))).toDF("x", "y")
    val r1 = StatsOps.breuschPagan(homo, "x", "y").head()
    r1.getAs[Double]("p_koenker") should be > 0.05
    val hetero = (1 to 950).map { i =>
      val x = i.toLong % 50 + 1
      (x, 3 * x + eps(i) * x) // residual scale grows with x
    }.toDF("x", "y")
    val r2 = StatsOps.breuschPagan(hetero, "x", "y").head()
    r2.getAs[Double]("lm_koenker") should be >
      r1.getAs[Double]("lm_koenker")
    r2.getAs[Double]("p_koenker") should be < 0.01
  }

  test("olsInfluence: leverage closed form + planted outlier tops") {
    // exact line except one far point: that row dominates Cook's D
    val base = (1 to 50).map(i => (i.toLong, i.toLong, 3 * i + 5L))
    val outlier = (999L, 30L, 500L) // id 999, x=30, y far off the line
    val df = (base :+ outlier).toDF("id", "x", "y")
    val top = StatsOps.olsInfluence(df, "x", "y", Seq("id"), topK = 3)
      .head()
    top.getAs[Long]("id") shouldBe 999L
    math.abs(top.getAs[Double]("std_resid")) should be > 3.0
    // exact h for n=3, x=[0,1,2]: h(x=0) = 1/3 + 1/2 = 5/6
    val tiny = Seq((1L, 0L, 0L), (2L, 1L, 1L), (3L, 2L, 4L))
      .toDF("id", "x", "y")
    val all3 = StatsOps.olsInfluence(tiny, "x", "y", Seq("id"), 3)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Double]("leverage")).toMap
    all3(1L) shouldBe 5.0 / 6.0 +- 1e-6
    all3(2L) shouldBe 1.0 / 3.0 +- 1e-6
    all3(3L) shouldBe 5.0 / 6.0 +- 1e-6
  }

  test("corrWith: perfect, inverted and named alignment") {
    val a = (1 to 40).map(i =>
      (i.toLong, i.toLong, i.toLong, (i * 13 % 7).toLong))
      .toDF("k", "u", "v", "w")
    val b = (1 to 40).map(i =>
      (i.toLong, 2 * i + 1L, 100L - i, (i * 5 % 11).toLong))
      .toDF("k", "u", "v", "w")
    val m = StatsOps.corrWith(a, b, Seq("k"), Seq("u", "v", "w"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("corr"))
      .toMap
    m("u") shouldBe 1.0 +- 1e-9
    m("v") shouldBe -1.0 +- 1e-9
    math.abs(m("w")) should be < 0.5
  }

  test("gamesHowell: hand-computed pair for two groups") {
    // a: [1,2,3] n=3 m=2 vr=1 ; b: [10,14] n=2 m=12 vr=8
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L),
      ("b", 14L)).toDF("g", "v")
    val r = StatsOps.gamesHowell(df, "v", "g").head()
    r.getAs[String]("group_a") shouldBe "a"
    r.getAs[String]("group_b") shouldBe "b"
    r.getAs[Double]("mean_diff") shouldBe -10.0
    // se2 = 1/3 + 8/2 = 13/3 ; q = 10/sqrt(13/6)
    r.getAs[Double]("q_stat") shouldBe
      10.0 / math.sqrt(13.0 / 6.0) +- 1e-6
    // df = (13/3)^2 / ((1/3)^2/2 + 4^2/1)
    r.getAs[Double]("df") shouldBe
      math.pow(13.0 / 3.0, 2) / ((1.0 / 9.0) / 2.0 + 16.0) +- 1e-6
  }

  test("chiSquareResiduals: independence -> ~0, planted excess flags") {
    // 2x2 with a strong diagonal: cell (a,x) overrepresented
    val rows = Seq.fill(80)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(20)(("b", "x")) ++ Seq.fill(80)(("b", "y"))
    val df = rows.toDF("g", "c")
    val r = StatsOps.chiSquareResiduals(df, "g", "c").collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    // E = 50 everywhere; std_res(a,x) = 30/sqrt(50)
    r(("a", "x")).getAs[Double]("e") shouldBe 50.0
    r(("a", "x")).getAs[Double]("std_res") shouldBe
      30.0 / math.sqrt(50.0) +- 1e-6
    r(("a", "x")).getAs[Boolean]("flagged") shouldBe true
    r(("a", "y")).getAs[Double]("std_res") should be < 0.0
    // uniform table: residuals exactly 0, nothing flagged
    val flat = (Seq.fill(25)(("a", "x")) ++ Seq.fill(25)(("a", "y")) ++
      Seq.fill(25)(("b", "x")) ++ Seq.fill(25)(("b", "y"))).toDF("g", "c")
    StatsOps.chiSquareResiduals(flat, "g", "c").collect().foreach { x =>
      x.getAs[Double]("std_res") shouldBe 0.0
      x.getAs[Boolean]("flagged") shouldBe false
    }
  }

  test("smdBalance: shifted covariate unbalanced, same one balanced") {
    val t0 = (1 to 60).map(i => ("t", (i % 20) + 30L, i % 7L))
    val c0 = (1 to 60).map(i => ("c", (i % 20).toLong, i % 7L))
    val df = (t0 ++ c0).toDF("g", "x", "z")
    val m = StatsOps.smdBalance(df, "g", "t", "c", Seq("x", "z"))
      .collect().map(r => r.getString(0) -> r).toMap
    m("x").getAs[Double]("smd") should be > 1.0
    m("x").getAs[Boolean]("balanced") shouldBe false
    m("z").getAs[Double]("smd") shouldBe 0.0 +- 1e-9
    m("z").getAs[Boolean]("balanced") shouldBe true
    m("x").getAs[Double]("mean_treated") shouldBe
      m("x").getAs[Double]("mean_control") + 30.0 +- 1e-6
  }

  test("triangleCounts: K4 plus a pendant path") {
    // K4 on 1..4 (4 triangles, 3 per vertex) + pendant edge 4-5
    val k4 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (i.toLong, j.toLong)
    val edges = (k4 :+ (4L, 5L)).toDF("src", "dst")
    val r = graft.graphops.GraphOps.triangleCounts(edges).collect()
      .map(x => x.getLong(0) -> x).toMap
    (1 to 3).foreach { v =>
      r(v.toLong).getAs[Long]("triangles") shouldBe 3L
      // d=3, T=3: clustering = 6/(3*2) = 1
      r(v.toLong).getAs[Double]("clustering") shouldBe 1.0
    }
    r(4L).getAs[Long]("triangles") shouldBe 3L
    r(4L).getAs[Double]("clustering") shouldBe 0.5 // d=4: 6/12
    r(5L).getAs[Long]("triangles") shouldBe 0L
    r(5L).getAs[Double]("clustering") shouldBe 0.0
    // duplicate/reversed/self edges don't change the counts
    val noisy = (k4 ++ k4.map(_.swap) :+ (4L, 5L) :+ (2L, 2L))
      .toDF("src", "dst")
    val r2 = graft.graphops.GraphOps.triangleCounts(noisy).collect()
      .map(x => x.getLong(0) -> x.getAs[Long]("triangles")).toMap
    r2(1L) shouldBe 3L
    r2(5L) shouldBe 0L
  }

  test("ewmCov(x,x) == ewmVar; ewmCorr of a linear map is 1") {
    import graft.window.RollingOps
    val df = Seq((1, 3.0), (2, 7.0), (3, 2.0), (4, 9.0), (5, 4.0))
      .map { case (i, v) => ("k", i, v, 2.0 * v + 3.0) }
      .toDF("k", "ord", "x", "y")
    val v = RollingOps.ewmVar(df, "x", "ord", Seq("k"), alpha = 0.3)
      .orderBy("ord").select("ewm_var").collect()
    val c = RollingOps.ewmCov(df, "x", "x", "ord", Seq("k"),
        alpha = 0.3).orderBy("ord").select("ewm_cov").collect()
    v.zip(c).foreach { case (a, b) =>
      if (a.isNullAt(0)) b.isNullAt(0) shouldBe true
      else b.getDouble(0) shouldBe a.getDouble(0) +- 1e-12
    }
    val r = RollingOps.ewmCorr(df, "x", "y", "ord", Seq("k"),
        alpha = 0.3).orderBy("ord").select("ewm_corr").collect()
    r.head.isNullAt(0) shouldBe true // single point: zero variance
    r.tail.foreach(_.getDouble(0) shouldBe 1.0 +- 1e-12)
    // anti-correlated map -> -1
    val neg = RollingOps.ewmCorr(
      df.withColumn("y", -col("x")), "x", "y", "ord", Seq("k"),
      alpha = 0.3).orderBy("ord").select("ewm_corr").collect()
    neg.tail.foreach(_.getDouble(0) shouldBe -1.0 +- 1e-12)
  }

  test("expandingNunique counts first occurrences, skips nulls") {
    val df = Seq((1, "a"), (2, "b"), (3, "a"), (4, null), (5, "c"),
      (6, "b")).map { case (i, v) => ("u", i, v) }
      .toDF("k", "ord", "v")
    val r = graft.ops.PandasOps.expandingNunique(df, "v", Seq("ord"),
      Seq("k")).orderBy("ord").select("expanding_nunique").collect()
      .map(_.getLong(0)).toSeq
    r shouldBe Seq(1L, 2L, 2L, 2L, 3L, 3L)
  }

  test("glmSummary recovers a log-linear Poisson process") {
    val df = (0 until 200).map { i =>
      val x = (i % 40) / 10.0
      (x, math.round(math.exp(0.4 + 0.7 * x)).toDouble)
    }.toDF("x1", "y")
    val coefs = graft.ml.MlOps.glmSummary(df, Seq("x1"), "y",
      family = "poisson", link = "log").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    coefs("x1") shouldBe 0.7 +- 0.1
    coefs("intercept") shouldBe 0.4 +- 0.2
  }

  test("anovaEffectSizes: clean separation -> 1, no separation -> <= 0") {
    val clean = Seq(("a", 0L), ("a", 0L), ("b", 2L), ("b", 2L))
      .toDF("g", "v")
    val r = StatsOps.anovaEffectSizes(clean, "v", "g").head()
    r.getAs[Double]("eta2") shouldBe 1.0
    r.getAs[Double]("omega2") shouldBe 1.0
    val flat = Seq(("a", 1L), ("a", 3L), ("b", 1L), ("b", 3L))
      .toDF("g", "v")
    val r2 = StatsOps.anovaEffectSizes(flat, "v", "g").head()
    r2.getAs[Double]("eta2") shouldBe 0.0
    r2.getAs[Double]("omega2") should be <= 0.0
  }

  test("bayesAb: symmetric arms -> 0.5, planted winner -> ~1") {
    val sym = (Seq.fill(50)(("a", true)) ++ Seq.fill(50)(("a", false)) ++
      Seq.fill(50)(("b", true)) ++ Seq.fill(50)(("b", false)))
      .toDF("arm", "succ")
    val r = StatsOps.bayesAb(sym, "arm", "a", "b", "succ").head()
    r.getAs[Double]("prob_b_beats_a") shouldBe 0.5
    r.getAs[Long]("conv_a") shouldBe 50L
    val skew = (Seq.fill(10)(("a", true)) ++ Seq.fill(90)(("a", false)) ++
      Seq.fill(60)(("b", true)) ++ Seq.fill(40)(("b", false)))
      .toDF("arm", "succ")
    val r2 = StatsOps.bayesAb(skew, "arm", "a", "b", "succ").head()
    r2.getAs[Double]("prob_b_beats_a") should be > 0.999
    r2.getAs[Double]("abs_lift") shouldBe 0.49 +- 0.02
  }

  test("sequentialPatterns finds ordered, gap-tolerant pairs") {
    // u1: a b c ; u2: a c b ; u3: b a c
    val df = Seq(("u1", 1, "a"), ("u1", 2, "b"), ("u1", 3, "c"),
      ("u2", 1, "a"), ("u2", 2, "c"), ("u2", 3, "b"),
      ("u3", 1, "b"), ("u3", 2, "a"), ("u3", 3, "c"))
      .toDF("u", "o", "i")
    val m = graft.analytics.BasketOps.sequentialPatterns(
      df, "u", "o", "i", minSupport = 0.6, maxLen = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a..c (gap-tolerant) in all three; a..b in u1 AND u2 (a at 1,
    // b at 3 — gap-tolerant); b..c in u1+u3; c..a nowhere
    m("a>c") shouldBe 3L
    m("b>c") shouldBe 2L
    m("a>b") shouldBe 2L
    m.get("c>a") shouldBe None
    m("a") shouldBe 3L
  }

  test("aftSurvival recovers a log-linear duration model") {
    // dur = exp(1 + 0.5x) * mild deterministic noise, uncensored
    val df = (0 until 300).map { i =>
      val x = (i % 30) / 10.0
      val noise = math.exp(0.05 * math.sin(i * 1.7))
      (x, math.exp(1.0 + 0.5 * x) * noise, 1.0)
    }.toDF("x1", "dur", "ev")
    val m = graft.ml.MlOps.aftSurvival(df, Seq("x1"), "dur", "ev")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    m("x1") shouldBe 0.5 +- 0.05
    m("intercept") shouldBe 1.0 +- 0.1
  }

  test("seasonalMannKendall: within-season trend detected, pure seasonality not") {
    // 4 seasons x 12 cycles, monotone within season:
    // S = 4 * C(12,2) = 264, no ties
    val trend = for (s0 <- 0 until 4; c <- 0 until 12)
      yield (s0, c * 4 + s0, s0 * 100.0 + c)
    val r = graft.timeseries.TimeSeriesOps.seasonalMannKendall(
      trend.toDF("season", "t", "v"), "t", "v", "season").head()
    r.getAs[Long]("s_stat") shouldBe 264L
    r.getAs[Long]("n_seasons") shouldBe 4L
    r.getAs[Double]("p_value") should be < 0.01
    // strong seasonal cycle, alternating +-1 within season: |S| small
    val flat = for (s0 <- 0 until 4; c <- 0 until 12)
      yield (s0, c * 4 + s0, s0 * 100.0 + (if (c % 2 == 0) 1.0 else -1.0))
    val r2 = graft.timeseries.TimeSeriesOps.seasonalMannKendall(
      flat.toDF("season", "t", "v"), "t", "v", "season").head()
    // alternating series: |S| = 6 per season x 4 = 24 << 264
    math.abs(r2.getAs[Long]("s_stat")) should be < 30L
    r2.getAs[Double]("p_value") should be > 0.2
  }

  test("pageHinkley flags a level shift and stays quiet when stable") {
    import graft.timeseries.TimeSeriesOps
    val shifted = ((1 to 50).map(i => ("k", i, 10.0)) ++
      (51 to 100).map(i => ("k", i, 60.0))).toDF("g", "t", "v")
    val r = TimeSeriesOps.pageHinkley(shifted, "v", "t",
      delta = 1.0, lambda = 200.0, keyCols = Seq("g")).head()
    r.getAs[Boolean]("drift") shouldBe true
    r.getAs[Int]("drift_at") should be > 50
    val flat = (1 to 100).map(i =>
      ("k", i, 10.0 + (i % 2))).toDF("g", "t", "v")
    val r2 = TimeSeriesOps.pageHinkley(flat, "v", "t",
      delta = 1.0, lambda = 200.0, keyCols = Seq("g")).head()
    r2.getAs[Boolean]("drift") shouldBe false
    r2.isNullAt(r2.fieldIndex("drift_at")) shouldBe true
  }

  test("neweyWestMean: HAC se inflates under autocorrelation only") {
    import graft.timeseries.TimeSeriesOps
    // alternating series: negative lag-1 autocovariance -> se_hac < se_iid
    val alt = (1 to 200).map(i =>
      (i, if (i % 2 == 0) 10.0 else -10.0)).toDF("t", "v")
    val r = TimeSeriesOps.neweyWestMean(alt, "v", "t", maxLag = 4)
      .head()
    r.getAs[Double]("se_hac") should be < r.getAs[Double]("se_iid")
    // slow square wave: strong positive autocorrelation -> inflation
    val slow = (1 to 200).map(i =>
      (i, if ((i / 25) % 2 == 0) 10.0 else -10.0)).toDF("t", "v")
    val r2 = TimeSeriesOps.neweyWestMean(slow, "v", "t", maxLag = 4)
      .head()
    r2.getAs[Double]("se_hac") should be > r2.getAs[Double]("se_iid")
  }

  test("holmBonferroni: hand-computed step-down on [.01,.02,.04]") {
    val df = Seq(("a", 0.01), ("b", 0.02), ("c", 0.04)).toDF("t", "p")
    val m = StatsOps.holmBonferroni(df, "p").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Double]("p_holm"), r.getAs[Double]("p_bonferroni")))
      .toMap
    m("a")._1 shouldBe 0.03 +- 1e-12 // .01*3
    m("b")._1 shouldBe 0.04 +- 1e-12 // max(.03, .02*2)
    m("c")._1 shouldBe 0.04 +- 1e-12 // max(.04, .04*1)
    m("a")._2 shouldBe 0.03 +- 1e-12
    m("c")._2 shouldBe 0.12 +- 1e-12
  }

  test("moodsMedianTest: planted shift detected, identical groups not") {
    val shift = ((1 to 40).map(i => ("a", i.toLong)) ++
      (1 to 40).map(i => ("b", i + 100L))).toDF("g", "v")
    val r = StatsOps.moodsMedianTest(shift, "v", "g").head()
    r.getAs[Long]("dof") shouldBe 1L
    r.getAs[Double]("p_value") should be < 0.001
    val same = ((1 to 40).map(i => ("a", i.toLong)) ++
      (1 to 40).map(i => ("b", i.toLong))).toDF("g", "v")
    val r2 = StatsOps.moodsMedianTest(same, "v", "g").head()
    r2.getAs[Double]("chi2") shouldBe 0.0 +- 1e-9
    r2.getAs[Double]("p_value") should be > 0.9
  }

  test("cochranArmitage: monotone dose-response detected, flat not") {
    // doses 0..3, success rate rises with dose
    val up = (0 until 4).flatMap { dose =>
      val nSucc = 10 + dose * 10 // 10,20,30,40 of 50
      (1 to nSucc).map(_ => (dose.toLong, true)) ++
        (1 to (50 - nSucc)).map(_ => (dose.toLong, false))
    }.toDF("dose", "succ")
    val r = StatsOps.cochranArmitage(up, "dose", "succ").head()
    r.getAs[Long]("k") shouldBe 4L
    r.getAs[Double]("z") should be > 3.0
    r.getAs[Double]("p_value") should be < 0.001
    val flat = (0 until 4).flatMap { dose =>
      (1 to 25).map(_ => (dose.toLong, true)) ++
        (1 to 25).map(_ => (dose.toLong, false))
    }.toDF("dose", "succ")
    val r2 = StatsOps.cochranArmitage(flat, "dose", "succ").head()
    r2.getAs[Double]("z") shouldBe 0.0 +- 1e-9
    r2.getAs[Double]("p_value") shouldBe 1.0 +- 1e-6
  }

  test("proportionCi: Wilson stays in [0,1] and brackets p_hat") {
    val df = (Seq.fill(3)(("a", true)) ++ Seq.fill(97)(("a", false)) ++
      Seq.fill(45)(("b", true)) ++ Seq.fill(55)(("b", false)))
      .toDF("g", "s")
    val m = StatsOps.proportionCi(df, "g", "s").collect()
      .map(r => r.getString(0) -> r).toMap
    val a = m("a")
    a.getAs[Double]("p_hat") shouldBe 0.03
    // Wald at small p dips toward 0; Wilson lower bound stays > 0
    a.getAs[Double]("wilson_lo") should be > 0.0
    a.getAs[Double]("wilson_lo") should be <
      a.getAs[Double]("p_hat")
    a.getAs[Double]("wilson_hi") should be >
      a.getAs[Double]("p_hat")
    val b = m("b")
    b.getAs[Double]("wald_lo") shouldBe
      0.45 - 1.959964 * math.sqrt(0.45 * 0.55 / 100.0) +- 1e-6
  }

  test("groupedHoltForecast matches the driver recurrence per key") {
    import graft.timeseries.TimeSeriesOps
    val s1 = Seq(10.0, 12.0, 15.0, 14.0, 18.0, 21.0)
    val s2 = Seq(100.0, 90.0, 85.0, 70.0)
    val df = (s1.zipWithIndex.map { case (v, i) => ("a", i, v) } ++
      s2.zipWithIndex.map { case (v, i) => ("b", i, v) })
      .toDF("k", "t", "v")
    val got = TimeSeriesOps.groupedHoltForecast(df, "v", "t",
      Seq("k"), alpha = 0.4, beta = 0.3, steps = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Double]("forecast")).toMap
    val e1 = TimeSeriesOps.holtForecast(s1, 0.4, 0.3, 2)
    val e2 = TimeSeriesOps.holtForecast(s2, 0.4, 0.3, 2)
    got(("a", 1L)) shouldBe e1(0) +- 1e-6
    got(("a", 2L)) shouldBe e1(1) +- 1e-6
    got(("b", 1L)) shouldBe e2(0) +- 1e-6
    got(("b", 2L)) shouldBe e2(1) +- 1e-6
    // single-point group forecasts flat
    val flat = TimeSeriesOps.groupedHoltForecast(
      Seq(("c", 0, 7.0)).toDF("k", "t", "v"), "v", "t", Seq("k"),
      0.4, 0.3, 3).collect().map(_.getAs[Double]("forecast"))
    flat.toSeq shouldBe Seq(7.0, 7.0, 7.0)
  }

  test("mergeIndicator labels join provenance like pandas") {
    import graft.ops.PandasOps._
    val l = Seq((1L, "a"), (2L, "b")).toDF("k", "lv")
    val r = Seq((2L, "B"), (3L, "C")).toDF("k", "rv")
    val m = l.mergeIndicator(r, Seq("k")).collect()
      .map(x => x.getLong(0) -> x.getAs[String]("_merge")).toMap
    m(1L) shouldBe "left_only"
    m(2L) shouldBe "both"
    m(3L) shouldBe "right_only"
  }

  test("kCore peels to the dense core exactly") {
    import graft.graphops.GraphOps
    // K4 on 1..4 plus a chain 4-5-6: 3-core = K4, 2-core adds nothing
    val k4 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (i.toLong, j.toLong)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val core3 = GraphOps.kCore(edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    core3.keySet shouldBe Set(1L, 2L, 3L, 4L)
    all(core3.values) shouldBe 3L
    // 2-core: the chain 5-6 peels (degree-1 endpoints cascade)
    val core2 = GraphOps.kCore(edges, 2).collect().map(_.getLong(0)).toSet
    core2 shouldBe Set(1L, 2L, 3L, 4L)
    // k larger than any core -> empty
    GraphOps.kCore(edges, 4).count() shouldBe 0L
  }

  test("groupEntropy: uniform mix -> ln k, single category -> 0") {
    val df = (Seq.fill(10)(("u1", "a")) ++ Seq.fill(10)(("u1", "b")) ++
      Seq.fill(10)(("u1", "c")) ++ Seq.fill(7)(("u2", "a")))
      .toDF("u", "c")
    val m = StatsOps.groupEntropy(df, "u", "c").collect()
      .map(r => r.getString(0) -> r).toMap
    m("u1").getAs[Double]("entropy") shouldBe math.log(3.0) +- 1e-6
    m("u1").getAs[Double]("entropy_norm") shouldBe 1.0 +- 1e-6
    m("u2").getAs[Double]("entropy") shouldBe 0.0
    m("u2").getAs[Double]("entropy_norm") shouldBe 0.0
    m("u2").getAs[Long]("k_cats") shouldBe 1L
  }

  test("damped Holt pulls long-horizon forecasts toward the level") {
    import graft.timeseries.TimeSeriesOps
    val up = (0 until 20).map(i => ("k", i, 10.0 + 3.0 * i))
      .toDF("k", "t", "v")
    def fc(phi: Double) = TimeSeriesOps.groupedHoltForecast(
      up, "v", "t", Seq("k"), 0.4, 0.3, steps = 3, phi = phi)
      .orderBy("h").collect().map(_.getAs[Double]("forecast"))
    val plain = fc(1.0); val damped = fc(0.8)
    // rising series: damped forecasts sit below the undamped line,
    // and the gap widens with the horizon
    (0 until 3).foreach(i => damped(i) should be < plain(i))
    (plain(2) - damped(2)) should be > (plain(0) - damped(0))
    // phi = 1 exactly matches the driver recurrence
    plain(0) shouldBe TimeSeriesOps.holtForecast(
      (0 until 20).map(i => 10.0 + 3.0 * i), 0.4, 0.3, 1).head +- 1e-9
  }

  test("modifiedZScore flags a planted spike, robust to it") {
    val df = ((1 to 99).map(i => (i.toLong, 50L + i % 5)) :+
      (999L, 5000L)).toDF("id", "v")
    val r = StatsOps.modifiedZScore(df, "v").collect()
      .map(x => x.getLong(0) -> x).toMap
    r(999L).getAs[Boolean]("outlier") shouldBe true
    r(999L).getAs[Double]("mod_z") should be > 100.0
    (1 to 99).foreach(i =>
      r(i.toLong).getAs[Boolean]("outlier") shouldBe false)
  }

  test("groupedTrendForecast extrapolates exact lines per key") {
    import graft.timeseries.TimeSeriesOps
    val df = ((0 until 10).map(i => ("a", i.toLong, 5.0 + 2.0 * i)) ++
      (0 until 10).map(i => ("b", i.toLong, 100.0 - 3.0 * i)))
      .toDF("k", "t", "v")
    val m = TimeSeriesOps.groupedTrendForecast(df, "v", "t",
      Seq("k"), steps = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Double]("forecast")).toMap
    m(("a", 1L)) shouldBe 5.0 + 2.0 * 10 +- 1e-9
    m(("a", 2L)) shouldBe 5.0 + 2.0 * 11 +- 1e-9
    m(("b", 2L)) shouldBe 100.0 - 3.0 * 11 +- 1e-9
    // constant index -> null forecast
    val const = Seq(("c", 1L, 1.0), ("c", 1L, 2.0)).toDF("k", "t", "v")
    TimeSeriesOps.groupedTrendForecast(const, "v", "t", Seq("k"), 1)
      .head().isNullAt(2) shouldBe true
  }

  test("fanoFactor: regular counts -> 0, bursty -> > 1") {
    // key r: 5 events in each of 6 buckets (variance 0)
    val regular = for (b <- 1 to 6; _ <- 1 to 5) yield ("r", b)
    // key s: extreme burst: 20 in one bucket, 1 in five others
    val bursty = (1 to 20).map(_ => ("s", 1)) ++
      (2 to 6).map(b => ("s", b))
    val df = (regular ++ bursty).toDF("k", "b")
    val m = StatsOps.fanoFactor(df, "k", "b").collect()
      .map(r => r.getString(0) -> r).toMap
    m("r").getAs[Double]("fano") shouldBe 0.0
    m("r").getAs[Double]("mean_count") shouldBe 5.0
    m("s").getAs[Double]("fano") should be > 1.0
    m("s").getAs[Long]("n_buckets") shouldBe 6L
  }

  test("informationGain: perfect predictor -> U=1, independent -> ~0") {
    // x fully determines y
    val perfect = (Seq.fill(30)(("a", "u")) ++ Seq.fill(20)(("b", "v")))
      .toDF("x", "y")
    val r = StatsOps.informationGain(perfect, "x", "y").head()
    r.getAs[Double]("h_y_given_x") shouldBe 0.0
    r.getAs[Double]("uncertainty_coef") shouldBe 1.0
    r.getAs[Double]("info_gain") shouldBe r.getAs[Double]("h_y")
    // balanced independence: every (x, y) cell equal
    val indep = (for (x0 <- Seq("a", "b"); y0 <- Seq("u", "v");
      _ <- 1 to 10) yield (x0, y0)).toDF("x", "y")
    val r2 = StatsOps.informationGain(indep, "x", "y").head()
    r2.getAs[Double]("info_gain") shouldBe 0.0 +- 1e-9
    r2.getAs[Double]("h_y") shouldBe math.log(2.0) +- 1e-6
  }

  test("weightedMeanSe: hand-computed Hajek estimates") {
    // x=[1,3], w=[3,1]: mean 1.5, lin = 9*.25 + 1*2.25 = 4.5,
    // se = sqrt(4.5)/4, n_eff = 16/10
    val df = Seq((1L, 3L), (3L, 1L)).toDF("x", "w")
    val r = StatsOps.weightedMeanSe(df, "x", "w").head()
    r.getAs[Double]("weighted_mean") shouldBe 1.5
    r.getAs[Double]("se") shouldBe math.sqrt(4.5) / 4.0 +- 1e-6
    r.getAs[Double]("n_eff") shouldBe 1.6 +- 1e-9
    // uniform weights: n_eff = n, mean = plain mean
    val u = Seq((2L, 5L), (4L, 5L), (6L, 5L)).toDF("x", "w")
    val r2 = StatsOps.weightedMeanSe(u, "x", "w").head()
    r2.getAs[Double]("weighted_mean") shouldBe 4.0
    r2.getAs[Double]("n_eff") shouldBe 3.0
    // zero/negative weights are dropped
    val z = Seq((1L, 0L), (9L, 2L)).toDF("x", "w")
    StatsOps.weightedMeanSe(z, "x", "w").head()
      .getAs[Double]("weighted_mean") shouldBe 9.0
  }

  test("semMad: hand-computed group values") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 10L), ("b", 10L)).toDF("g", "v")
    val m = StatsOps.semMad(df, "v", Seq("g")).collect()
      .map(r => r.getString(0) -> r).toMap
    m("a").getAs[Long]("n") shouldBe 4L
    m("a").getAs[Double]("mean") shouldBe 2.5
    // std = sqrt(5/3), sem = std/2
    m("a").getAs[Double]("sem") shouldBe
      math.sqrt(5.0 / 3.0) / 2.0 +- 1e-6
    m("a").getAs[Double]("mad") shouldBe 1.0
    m("b").getAs[Double]("sem") shouldBe 0.0
    m("b").getAs[Double]("mad") shouldBe 0.0
  }
}
