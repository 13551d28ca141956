package graft

import org.apache.spark.sql.functions._
import graft.window.RollingOps
import EwmOracle.Pt

/** Window semantics pinned against pandas-documented formulas
  * (reference src/series/window.rs tests; FIXTURES §B.3). */
class RollingEwmSpec extends SparkSpecBase {
  import spark.implicits._

  private def series(vs: Double*) =
    vs.zipWithIndex.map { case (v, i) => (i + 1, v) }.toDF("ord", "v")

  test("rolling(3) mean with min_periods=3 is null until window fills") {
    val df = series(1, 2, 3, 4, 5)
    val out = RollingOps.rolling(df, "v", 3, c => avg(c), Seq("ord"),
      minPeriods = 3, outName = "m")
      .orderBy("ord").select("m").as[Option[Double]].collect()
    out shouldBe Array(None, None, Some(2.0), Some(3.0), Some(4.0))
  }

  test("rolling(3) with min_periods=1 emits partial windows") {
    val df = series(1, 2, 3)
    val out = RollingOps.rolling(df, "v", 3, c => avg(c), Seq("ord"),
      minPeriods = 1, outName = "m")
      .orderBy("ord").select("m").as[Double].collect()
    out shouldBe Array(1.0, 1.5, 2.0)
  }

  test("rolling(3, center=true) centers the window like pandas") {
    val df = series(1, 2, 3, 4, 5)
    // pandas: rolling(3, center=True).sum() = [na,6,9,12,na] w/ mp=3
    val out = RollingOps.rolling(df, "v", 3, c => sum(c), Seq("ord"),
      minPeriods = 3, center = true, outName = "s")
      .orderBy("ord").select("s").as[Option[Double]].collect()
    out shouldBe Array(None, Some(6.0), Some(9.0), Some(12.0), None)
  }

  test("expanding mean matches pandas expanding().mean()") {
    val df = series(2, 4, 6, 8)
    val out = RollingOps.expanding(df, "v", c => avg(c), Seq("ord"))
      .orderBy("ord").select("expanding").as[Double].collect()
    out shouldBe Array(2.0, 3.0, 4.0, 5.0)
  }

  test("rollingTime uses a trailing time-range frame") {
    val df = Seq((1L, 1.0), (5L, 2.0), (6L, 4.0), (20L, 8.0))
      .toDF("t", "v").withColumn("ts", timestamp_seconds($"t"))
    val out = RollingOps.rollingTime(df, "v", "ts", 5, c => sum(c),
      outName = "s").orderBy("t").select("s").as[Double].collect()
    // windows: [t-5, t] → 1; 1+2; 2+4(+1 at t=1? 6-5=1 inclusive → 1+2+4); 8
    out shouldBe Array(1.0, 3.0, 7.0, 8.0)
  }

  test("rollingTime closed edge semantics") {
    val df = Seq((1L, 1.0), (5L, 2.0), (6L, 4.0), (20L, 8.0))
      .toDF("t", "v").withColumn("ts", timestamp_seconds($"t"))
    def run(closed: String) = RollingOps.rollingTime(df, "v", "ts", 5,
        c => sum(c), outName = "s", closed = closed)
      .orderBy("t").select("s").as[Double].collect()
    run("both") shouldBe Array(1.0, 3.0, 7.0, 8.0)
    // right = (t-5, t]: at t=6 the t=1 row (6-5=1) falls out
    run("right") shouldBe Array(1.0, 3.0, 6.0, 8.0)
    // left = [t-5, t): current row excluded; empty frames -> null->0?
    val left = RollingOps.rollingTime(df, "v", "ts", 5,
        c => sum(c), outName = "s", closed = "left")
      .orderBy("t").select("s").as[Option[Double]].collect()
    left shouldBe Array(None, Some(1.0), Some(3.0), None)
    intercept[IllegalArgumentException] {
      RollingOps.rollingTime(df, "v", "ts", 5, c => sum(c),
        closed = "sideways")
    }
  }

  test("EWM alpha parameterizations match pandas formulas") {
    RollingOps.alphaFromSpan(9.0) shouldBe 0.2 +- 1e-12
    RollingOps.alphaFromCom(4.0) shouldBe 0.2 +- 1e-12
    // halflife h: (1-alpha)^h = 0.5
    val a = RollingOps.alphaFromHalflife(3.0)
    math.pow(1.0 - a, 3.0) shouldBe 0.5 +- 1e-12
  }

  test("ewm adjust=true matches pandas weights") {
    // pandas: ewm(alpha=0.5, adjust=True).mean() of [1,2,3]
    //  y0=1, y1=(2 + 0.5*1)/(1+0.5)=1.666667, y2=(3+0.5*2+0.25*1)/1.75
    val df = series(1, 2, 3).withColumn("k", lit("g"))
    val out = RollingOps.ewmMean(df, "v", "ord", Seq("k"), 0.5,
      adjust = true, outName = "e")
      .orderBy("ord").select("e").as[Double].collect()
    approx(out(0), 1.0)
    approx(out(1), (2 + 0.5 * 1) / 1.5, 1e-9)
    approx(out(2), (3 + 0.5 * 2 + 0.25 * 1) / 1.75, 1e-9)
  }

  test("ewm adjust=false is the recursive form") {
    // y0=1; y1=0.5*1+0.5*2=1.5; y2=0.5*1.5+0.5*3=2.25
    val df = series(1, 2, 3).withColumn("k", lit("g"))
    val out = RollingOps.ewmMean(df, "v", "ord", Seq("k"), 0.5,
      adjust = false, outName = "e")
      .orderBy("ord").select("e").as[Double].collect()
    out.map(v => math.round(v * 1e9) / 1e9) shouldBe
      Array(1.0, 1.5, 2.25)
  }

  test("ewm skips nulls without poisoning or resetting the recurrence") {
    val df = Seq(("g", 1, Some(1.0)), ("g", 2, None), ("g", 3, Some(3.0)))
      .toDF("k", "ord", "v")
    val out = RollingOps.ewmMean(df, "v", "ord", Seq("k"), 0.5,
      adjust = false).orderBy("ord").select("ewm")
      .as[Option[Double]].collect()
    out(0) shouldBe Some(1.0)
    out(1) shouldBe None // null row carries no EWM value
    out(2).get shouldBe 2.0 +- 1e-9 // 0.5*1 + 0.5*3 — history kept
  }

  test("ewm runs per group independently") {
    val df = Seq(("a", 1, 1.0), ("a", 2, 3.0), ("b", 1, 10.0))
      .toDF("k", "ord", "v")
    val out = RollingOps.ewmMean(df, "v", "ord", Seq("k"), 0.5)
      .orderBy("k", "ord").select("ewm").as[Double].collect()
    approx(out(0), 1.0)
    approx(out(1), (3 + 0.5) / 1.5)
    approx(out(2), 10.0)
  }

  /** brute-force pandas-semantics EWM var (adjust=true): weighted
    * moments over the full prefix with w_i = (1-a)^(t-i). */
  private def refEwmVar(xs: Seq[Double], a: Double,
      bias: Boolean): Seq[Option[Double]] =
    xs.indices.map { t =>
      val w = (0 to t).map(i => math.pow(1 - a, t - i))
      val den = w.sum
      val num = w.zip(xs.take(t + 1)).map { case (wi, x) => wi * x }.sum
      val num2 = w.zip(xs.take(t + 1)).map { case (wi, x) => wi * x * x }.sum
      val den2 = w.map(wi => wi * wi).sum
      val biased = num2 / den - (num / den) * (num / den)
      if (bias) Some(biased)
      else if (den * den - den2 > 0)
        Some(biased * (den * den) / (den * den - den2))
      else None
    }

  test("ewmVar matches the weighted-moments reference; [1,3] -> [null,2]") {
    val xs = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 4.0, 7.0)
    val df = xs.zipWithIndex.map { case (x, i) => ("g", i, x) }
      .toDF("k", "ord", "v")
    val got = RollingOps.ewmVar(df, "v", "ord", Seq("k"), 0.3)
      .orderBy("ord").select("ewm_var").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val want = refEwmVar(xs, 0.3, bias = false)
    got.head shouldBe None // single observation: debias undefined
    got.zip(want).foreach {
      case (Some(g), Some(w)) => g shouldBe w +- 1e-9
      case (g, w) => g shouldBe w
    }
    // ewm var of the first two points is the ordinary sample variance
    val two = RollingOps.ewmVar(Seq(("g", 0, 1.0), ("g", 1, 3.0))
      .toDF("k", "ord", "v"), "v", "ord", Seq("k"), 0.5)
      .orderBy("ord").select("ewm_var").collect()
    two(1).getDouble(0) shouldBe 2.0 +- 1e-12
  }

  test("ewmStd is sqrt of ewmVar; constant series has zero variance") {
    val df = Seq(("g", 0, 4.0), ("g", 1, 4.0), ("g", 2, 4.0))
      .toDF("k", "ord", "v")
    val stds = RollingOps.ewmStd(df, "v", "ord", Seq("k"), 0.4)
      .orderBy("ord").select("ewm_std").collect()
    stds(0).isNullAt(0) shouldBe true // debias undefined, NOT 0.0
    stds(1).getDouble(0) shouldBe 0.0 +- 1e-12
    stds(2).getDouble(0) shouldBe 0.0 +- 1e-12
  }

  test("ewmScalable streaming pass is bit-equal to the fold forms") {
    val xs = (1 to 50).map(i => math.sin(i * 0.9) * 7 + (i % 5))
    // null values interleaved: must emit null and NOT advance state,
    // exactly like the fold's null-skipping join-back
    val rows = xs.zipWithIndex.map { case (x, i) =>
        ("a", i, if (i % 7 == 3) None else Some(x)) } ++
      xs.zipWithIndex.take(20).map { case (x, i) =>
        ("b", i, Some(x * 2)) }
    val df = rows.toDF("k", "ord", "v")
    val pts = rows.map { case (k, i, v) => Pt(k, i, v) }
    def col2(d: org.apache.spark.sql.DataFrame, c: String) =
      d.orderBy("k", "ord").select(c).as[Option[Double]].collect().toSeq
    // mean adjust=true and false
    for (adj <- Seq(true, false)) {
      val want = EwmOracle.run(EwmOracle.meanMode(adj, ignoreNa = true),
        0.35, pts)
      col2(RollingOps.ewmMean(df, "v", "ord", Seq("k"), 0.35,
        adjust = adj, outName = "e"), "e") shouldBe want
      col2(RollingOps.ewmScalable(df, "v", "ord", Seq("k"),
        0.35, stat = "mean", adjust = adj, outName = "e"), "e") shouldBe want
    }
    // var and std
    val wantVar = EwmOracle.run(EwmOracle.Var, 0.35, pts)
    col2(RollingOps.ewmVar(df, "v", "ord", Seq("k"), 0.35,
      outName = "e"), "e") shouldBe wantVar
    col2(RollingOps.ewmScalable(df, "v", "ord", Seq("k"),
      0.35, stat = "var", outName = "e"), "e") shouldBe wantVar
    val wantStd = wantVar.map(_.map(v => math.sqrt(math.max(v, 0))))
    col2(RollingOps.ewmScalable(df, "v", "ord", Seq("k"),
      0.35, stat = "std", outName = "e"), "e") shouldBe wantStd
    col2(RollingOps.ewmStd(df, "v", "ord", Seq("k"), 0.35,
      outName = "e"), "e") shouldBe wantStd
  }
  test("rollingCorr/Cov: pandas pairwise semantics") {
    // y = 2x + noise-free within each window of 3 -> corr exactly 1
    val lin = (0 until 10).map(i => (i, i.toDouble, 2.0 * i + 5))
      .toDF("ord", "x", "y")
    val rc = RollingOps.rollingCorr(lin, "x", "y", n = 3,
      orderCols = Seq("ord")).orderBy("ord")
      .select("rolling_corr").collect()
    rc.take(2).foreach(_.isNullAt(0) shouldBe true) // min_periods = n
    rc.drop(2).foreach(_.getDouble(0) shouldBe 1.0 +- 1e-9)
    // cov of window {(x,2x+5)}: sample cov = 2 * var(x); x=i -> var=1
    val cv = RollingOps.rollingCov(lin, "x", "y", n = 3,
      orderCols = Seq("ord")).orderBy("ord")
      .select("rolling_cov").collect()
    cv.drop(2).foreach(_.getDouble(0) shouldBe 2.0 +- 1e-9)
    // a null in either column excludes the PAIR; count respects pairs
    val withNull = Seq((0, Some(1.0), Some(2.0)),
      (1, None, Some(9.0)), (2, Some(2.0), Some(4.0)),
      (3, Some(3.0), Some(6.0))).toDF("ord", "x", "y")
    val rn = RollingOps.rollingCorr(withNull, "x", "y", n = 3,
      orderCols = Seq("ord"), minPeriods = 2).orderBy("ord")
      .select("rolling_corr").collect()
    rn(1).isNullAt(0) shouldBe true  // only 1 complete pair in window
    rn(2).getDouble(0) shouldBe 1.0 +- 1e-9 // pairs (0,2): collinear
    // zero variance -> null, not an error
    val const = (0 until 5).map(i => (i, 1.0, i.toDouble))
      .toDF("ord", "x", "y")
    RollingOps.rollingCorr(const, "x", "y", n = 3,
        orderCols = Seq("ord")).orderBy("ord")
      .select("rolling_corr").collect().foreach(_.isNullAt(0) shouldBe true)
  }

  test("rollingQuantile: pandas linear interpolation semantics") {
    // window {10, 20, 31}: median = 20, q0.25 = (10+20)/2 = 15
    val df = Seq((1, 10.0), (2, 20.0), (3, 31.0), (4, 2.0))
      .toDF("ord", "v")
    val med = RollingOps.rollingMedian(df, "v", n = 3,
      orderCols = Seq("ord"), minPeriods = 1).orderBy("ord")
      .select("rolling_median").as[Double].collect()
    med shouldBe Array(10.0, 15.0, 20.0, 20.0)
    val q25 = RollingOps.rollingQuantile(df, "v", n = 3, q = 0.25,
      orderCols = Seq("ord"), minPeriods = 1).orderBy("ord")
      .select("rolling_q").as[Double].collect()
    q25(2) shouldBe 15.0 +- 1e-9 // h = 2*0.25 = 0.5 between 10 and 20
    // q = 1.0 is the max (index boundary must not overflow)
    val qmax = RollingOps.rollingQuantile(df, "v", n = 3, q = 1.0,
      orderCols = Seq("ord"), minPeriods = 1).orderBy("ord")
      .select("rolling_q").as[Double].collect()
    qmax shouldBe Array(10.0, 20.0, 31.0, 31.0)
    // min_periods defaults to n: first n-1 rows are null
    val strict = RollingOps.rollingMedian(df, "v", n = 3,
      orderCols = Seq("ord")).orderBy("ord")
      .select("rolling_median").collect()
    strict.take(2).foreach(_.isNullAt(0) shouldBe true)
  }

  test("expandingQuantile matches brute-force prefixes") {
    val vals = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("ord", "v")
    def brute(prefix: Seq[Double], q: Double): Double = {
      val s = prefix.sorted
      val h = (s.length - 1) * q
      val lo = h.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
    for (q <- Seq(0.0, 0.25, 0.5, 0.75, 1.0)) {
      val got = RollingOps.expandingQuantile(df, "v", q, Seq("ord"),
        outName = "eq").orderBy("ord").select("eq").collect()
      got.zipWithIndex.foreach { case (r, i) =>
        r.getDouble(0) shouldBe brute(vals.take(i + 1), q) +- 1e-12
      }
    }
    // minPeriods gates the first rows; median helper = q 0.5
    val mp = RollingOps.expandingMedian(df, "v", Seq("ord"),
      minPeriods = 3).orderBy("ord").select("expanding_median").collect()
    mp(0).isNullAt(0) shouldBe true
    mp(1).isNullAt(0) shouldBe true
    mp(2).getDouble(0) shouldBe 4.0 +- 1e-12
    // per-partition independence
    val two = (vals.map(("a", _)) ++ vals.map(("b", _))).zipWithIndex
      .map { case ((k, v), i) => (k, i, v) }.toDF("k", "ord", "v")
    val per = RollingOps.expandingQuantile(two, "v", 0.5, Seq("ord"),
      Seq("k"), outName = "eq")
      .filter(col("k") === "b").orderBy("ord").select("eq").collect()
    per.zipWithIndex.foreach { case (r, i) =>
      r.getDouble(0) shouldBe brute(vals.take(i + 1), 0.5) +- 1e-12
    }
  }

  test("rollingOls recovers an exact line and gates minPeriods") {
    import spark.implicits._
    // y = 3x + 7 exactly: slope/intercept exact, r2 = 1 in-window
    val df = (1 to 30).map(i => (i, i.toLong % 11, 3 * (i.toLong % 11) + 7))
      .toDF("ord", "x", "y")
    val r = RollingOps.rollingOls(df, "x", "y", n = 5, Seq("ord"))
      .orderBy("ord").collect()
    (0 until 4).foreach(i => r(i).isNullAt(3) shouldBe true)
    (4 until 30).foreach { i =>
      r(i).getAs[Double]("roll_slope") shouldBe 3.0
      r(i).getAs[Double]("roll_intercept") shouldBe 7.0
      r(i).getAs[Double]("roll_r2") shouldBe 1.0
    }
    // constant x inside the window -> null slope/r2
    val flat = (1 to 6).map(i => (i, 4L, i.toLong)).toDF("ord", "x", "y")
    val fr = RollingOps.rollingOls(flat, "x", "y", n = 5, Seq("ord"))
      .orderBy("ord").collect()
    fr(5).isNullAt(3) shouldBe true
    fr(5).isNullAt(5) shouldBe true
  }

  test("hampel flags a planted spike and replaces it with the median") {
    import spark.implicits._
    // gentle sawtooth with one huge spike at ord=10
    val df = (1 to 20).map(i =>
      (i, if (i == 10) 1000L else 50L + (i % 3))).toDF("ord", "v")
    val r = RollingOps.hampel(df, "v", n = 7, Seq("ord"))
      .orderBy("ord").collect()
    val byOrd = r.map(x => x.getInt(0) -> x).toMap
    byOrd(10).getAs[Boolean]("hampel_outlier") shouldBe true
    // replaced by the local median (~51)
    byOrd(10).getAs[Double]("hampel_filtered") should be < 60.0
    (1 to 20).filter(_ != 10).foreach { i =>
      byOrd(i).getAs[Boolean]("hampel_outlier") shouldBe false
      byOrd(i).getAs[Double]("hampel_filtered") shouldBe
        (50.0 + (i % 3))
    }
  }

  test("ewm ignore_na=false: positional weights diverge from " +
      "ignore_na=true on a gappy series (pandas-pinned)") {
    import spark.implicits._
    val df = Seq((1, Some(1.0)), (2, Option.empty[Double]),
      (3, Some(2.0))).toDF("ord", "v").withColumn("g", lit(1))
    // pandas ewm(alpha=0.5, adjust=True, ignore_na=False).mean():
    // [1.0, 1.0 (carried), (0.25*1 + 1*2)/1.25 = 1.8]
    val pos = RollingOps.ewmMean(df, "v", "ord", Seq("g"), 0.5,
      adjust = true, ignoreNa = false, outName = "m")
      .orderBy("ord").select("m").as[Option[Double]].collect()
    pos shouldBe Array(Some(1.0), Some(1.0), Some(1.8))
    // ignore_na=True: (0.5*1 + 2)/1.5 = 5/3, null row emits null
    val skip = RollingOps.ewmMean(df, "v", "ord", Seq("g"), 0.5,
      adjust = true, ignoreNa = true, outName = "m")
      .orderBy("ord").select("m").as[Option[Double]].collect()
    skip(0) shouldBe Some(1.0)
    skip(1) shouldBe None
    skip(2).get shouldBe (5.0 / 3.0 +- 1e-12)
  }

  test("ewm adjust=false ignore_na=false matches the pandas " +
      "old_wt recursion across a gap") {
    import spark.implicits._
    val df = Seq((1, Some(1.0)), (2, Option.empty[Double]),
      (3, Some(2.0))).toDF("ord", "v").withColumn("g", lit(1))
    // pandas ewm(alpha=0.5, adjust=False, ignore_na=False).mean():
    // old_wt decays to 0.25 across the gap ->
    // (0.25*1 + 0.5*2)/0.75 = 5/3
    val r = RollingOps.ewmMean(df, "v", "ord", Seq("g"), 0.5,
      adjust = false, ignoreNa = false, outName = "m")
      .orderBy("ord").select("m").as[Option[Double]].collect()
    r(0) shouldBe Some(1.0)
    r(1) shouldBe Some(1.0)
    r(2).get shouldBe (5.0 / 3.0 +- 1e-12)
    // leading nulls emit null until the first observation
    val lead = Seq((1, Option.empty[Double]), (2, Some(4.0)))
      .toDF("ord", "v").withColumn("g", lit(1))
    val r2 = RollingOps.ewmMean(lead, "v", "ord", Seq("g"), 0.5,
      adjust = false, ignoreNa = false, outName = "m")
      .orderBy("ord").select("m").as[Option[Double]].collect()
    r2 shouldBe Array(None, Some(4.0))
  }

  test("ewmVar ignore_na=false: pandas-pinned on [1, null, 2]") {
    import spark.implicits._
    val df = Seq((1, Some(1.0)), (2, Option.empty[Double]),
      (3, Some(2.0))).toDF("ord", "v").withColumn("g", lit(1))
    // pandas ewm(alpha=0.5, ignore_na=False).var():
    // [NaN, NaN (single obs), 0.5]
    val r = RollingOps.ewmVar(df, "v", "ord", Seq("g"), 0.5,
      ignoreNa = false, outName = "vv")
      .orderBy("ord").select("vv").as[Option[Double]].collect()
    r(0) shouldBe None
    r(1) shouldBe None
    r(2).get shouldBe (0.5 +- 1e-12)
  }

  test("ewmCov(x,x) ignore_na=false equals ewmVar ignore_na=false") {
    import spark.implicits._
    val df = Seq((1, Some(3.0)), (2, Option.empty[Double]),
      (3, Some(5.0)), (4, Some(1.0)), (5, Option.empty[Double]),
      (6, Some(7.0))).toDF("ord", "v").withColumn("g", lit(1))
    val v = RollingOps.ewmVar(df, "v", "ord", Seq("g"), 0.3,
      ignoreNa = false, outName = "a")
      .orderBy("ord").select("a").as[Option[Double]].collect()
    val c = RollingOps.ewmCov(df.withColumn("w", col("v")), "v", "w",
      "ord", Seq("g"), 0.3, ignoreNa = false, outName = "a")
      .orderBy("ord").select("a").as[Option[Double]].collect()
    v.zip(c).foreach {
      case (Some(a), Some(b)) => a shouldBe (b +- 1e-12)
      case (a, b) => a shouldBe b
    }
  }

  test("ewmMeanTime: halflife decay over irregular times " +
      "(pandas ewm(times=...) pinned)") {
    import spark.implicits._
    // times 0, 10, 30 with halflife 10: weights at t=30 are
    // 0.125, 0.25, 1 -> (0.125*1 + 0.25*2 + 3)/1.375
    val df = Seq((1, 0.0, 1.0), (2, 10.0, 2.0), (3, 30.0, 3.0))
      .toDF("id", "tm", "v").withColumn("g", lit(1))
    val out = RollingOps.ewmMeanTime(df, "v", "tm", "id", Seq("g"),
      halflife = 10.0, outName = "e")
      .orderBy("id").select("e").as[Double].collect()
    out(0) shouldBe 1.0 +- 1e-12
    out(1) shouldBe (2.5 / 1.5) +- 1e-12
    out(2) shouldBe (3.625 / 1.375) +- 1e-12
    // regular unit spacing with halflife h reduces to positional
    // EWM with alpha = 1 - 0.5^(1/h)
    val reg = (1 to 50).map(i => (i, i.toDouble, math.sin(i) * 5))
      .toDF("id", "tm", "v").withColumn("g", lit(1))
    val a = 1.0 - math.pow(0.5, 1.0 / 7.0)
    val viaTime = RollingOps.ewmMeanTime(reg, "v", "tm", "id",
      Seq("g"), halflife = 7.0, outName = "e")
      .orderBy("id").select("e").as[Double].collect()
    val viaAlpha = RollingOps.ewmMean(reg, "v", "id", Seq("g"), a,
      adjust = true, outName = "e")
      .orderBy("id").select("e").as[Double].collect()
    viaTime.zip(viaAlpha).foreach { case (x, y) =>
      x shouldBe y +- 1e-9 }
  }

  test("ewmScalable ignore_na=false is bit-equal to the fold forms " +
      "on a gappy series (mean adjust=true/false, var)") {
    import spark.implicits._
    val rows = Seq((1, Some(3.0)), (2, Option.empty[Double]),
      (3, Some(5.0)), (4, Option.empty[Double]),
      (5, Option.empty[Double]), (6, Some(1.0)), (7, Some(7.0)))
    val df = rows.toDF("ord", "v").withColumn("g", lit(1))
    val pts = rows.map { case (i, v) => Pt(1, i, v) }
    def col6(d: org.apache.spark.sql.DataFrame, c: String) =
      d.orderBy("ord").select(c).as[Option[Double]].collect().toSeq
    for (adj <- Seq(true, false)) {
      val want = EwmOracle.run(
        EwmOracle.meanMode(adj, ignoreNa = false), 0.3, pts)
      col6(RollingOps.ewmScalable(df, "v", "ord", Seq("g"), 0.3,
        stat = "mean", adjust = adj, ignoreNa = false, outName = "e"),
        "e") shouldBe want
      col6(RollingOps.ewmMean(df, "v", "ord", Seq("g"), 0.3,
        adjust = adj, ignoreNa = false, outName = "e"), "e") shouldBe want
    }
    // unbiased var
    val wantVar = EwmOracle.run(EwmOracle.VarKeepNa, 0.3, pts)
    col6(RollingOps.ewmScalable(df, "v", "ord", Seq("g"), 0.3,
      stat = "var", ignoreNa = false, outName = "e"), "e") shouldBe wantVar
    col6(RollingOps.ewmVar(df, "v", "ord", Seq("g"), 0.3,
      ignoreNa = false, outName = "e"), "e") shouldBe wantVar
  }
  test("ewmCovScalable streaming pass is bit-equal to the ewmCov " +
      "fold (cov/corr, bias, both ignore_na variants)") {
    import spark.implicits._
    // two keys; pairwise-incomplete rows interleaved on EACH side
    val rows = (1 to 40).flatMap { i =>
      val x = if (i % 7 == 3) None else Some(math.sin(i * 0.8) * 5 + i % 4)
      val y = if (i % 11 == 5) None else Some(math.cos(i * 0.6) * 3 - i % 3)
      Seq(("a", i, x, y), ("b", i, y, x))
    }
    val df = rows.toDF("k", "ord", "x", "y")
    val pts = rows.sortBy(r => (r._1, r._2))
      .map { case (k, i, x, y) => Pt(k, i, x, y) }
    def c(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("k", "ord").select("e").as[Option[Double]]
        .collect().toSeq
    for (ina <- Seq(true, false); (bias, corr) <-
        Seq((false, false), (true, false), (false, true))) {
      val want = EwmOracle.run(EwmOracle.covMode(bias, corr, ina), 0.3,
        pts)
      c(RollingOps.ewmCovScalable(df, "x", "y", "ord", Seq("k"), 0.3,
        bias = bias, corr = corr, ignoreNa = ina,
        outName = "e")) shouldBe want
      c(RollingOps.ewmCov(df, "x", "y", "ord", Seq("k"), 0.3,
        bias = bias, corr = corr, ignoreNa = ina,
        outName = "e")) shouldBe want
    }
    // the corr names are ewmCov(corr = true)
    c(RollingOps.ewmCorrScalable(df, "x", "y", "ord", Seq("k"), 0.3,
      outName = "e")) shouldBe EwmOracle.run(EwmOracle.CorrPos, 0.3, pts)
    c(RollingOps.ewmCorr(df, "x", "y", "ord", Seq("k"), 0.3,
      ignoreNa = false, outName = "e")) shouldBe
      EwmOracle.run(EwmOracle.CorrPosKeepNa, 0.3, pts)
  }
  test("ewmCov/ewmCorr ignore_na=false with a LEADING pairwise-" +
      "incomplete prefix emit null (not NaN) and stay bit-equal " +
      "to the scalable pass") {
    import spark.implicits._
    // first pair has a null side: the keepNa recurrence decays den
    // from 0 to 0, where the biased moments are 0/0 — the guard must
    // emit null, like the SQL CASE WHEN den > 0 of the oracles
    val rows = Seq(
      (1, Option.empty[Double], Some(2.0)),
      (2, Some(1.0), Option.empty[Double]),
      (3, Some(4.0), Some(3.0)),
      (4, Some(2.0), Some(5.0)),
      (5, Option.empty[Double], Some(1.0)),
      (6, Some(6.0), Some(2.0)))
    val df = rows.toDF("ord", "x", "y").withColumn("g", lit(1))
    val pts = rows.map { case (i, x, y) => Pt(1, i, x, y) }
    def c(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("ord").select("e").as[Option[Double]]
        .collect().toSeq
    // biased cov: rows 1-2 must be None, never NaN
    val covB = c(RollingOps.ewmCov(df, "x", "y", "ord", Seq("g"),
      0.5, bias = true, ignoreNa = false, outName = "e"))
    covB(0) shouldBe None
    covB(1) shouldBe None
    covB.foreach(_.foreach(v => assert(!v.isNaN)))
    covB shouldBe EwmOracle.run(EwmOracle.CovPosBiasedKeepNa, 0.5, pts)
    covB shouldBe c(RollingOps.ewmCovScalable(df, "x", "y", "ord",
      Seq("g"), 0.5, bias = true, ignoreNa = false, outName = "e"))
    // corr: same leading prefix, fold == scalable == oracle
    val corr = c(RollingOps.ewmCorr(df, "x", "y", "ord", Seq("g"),
      0.5, ignoreNa = false, outName = "e"))
    corr(0) shouldBe None
    corr(1) shouldBe None
    corr.foreach(_.foreach(v => assert(!v.isNaN)))
    corr shouldBe EwmOracle.run(EwmOracle.CorrPosKeepNa, 0.5, pts)
    corr shouldBe c(RollingOps.ewmCorrScalable(df, "x", "y", "ord",
      Seq("g"), 0.5, ignoreNa = false, outName = "e"))
    // unbiased cov was already guarded by den²−den2 > 0; pin it too
    val cov = c(RollingOps.ewmCov(df, "x", "y", "ord", Seq("g"), 0.5,
      ignoreNa = false, outName = "e"))
    cov shouldBe EwmOracle.run(EwmOracle.CovPosKeepNa, 0.5, pts)
    cov shouldBe c(RollingOps.ewmCovScalable(df, "x", "y", "ord",
      Seq("g"), 0.5, ignoreNa = false, outName = "e"))
  }
  test("ewmCovCorrScalable one-pass emits BOTH columns bit-equal " +
      "to the separate scalable ops (both ignore_na variants)") {
    import spark.implicits._
    val rows = (1 to 30).flatMap { i =>
      val x = if (i % 5 == 2) None else Some(math.sin(i * 0.7) * 4 + i % 3)
      val y = if (i % 7 == 4) None else Some(math.cos(i * 0.9) * 2 - i % 5)
      Seq(("a", i, x, y), ("b", i, y, x))
    }
    val df = rows.toDF("k", "ord", "x", "y")
    val pts = rows.sortBy(r => (r._1, r._2))
      .map { case (k, i, x, y) => Pt(k, i, x, y) }
    def c(d: org.apache.spark.sql.DataFrame, n: String) =
      d.orderBy("k", "ord").select(n).as[Option[Double]]
        .collect().toSeq
    for (ina <- Seq(true, false)) {
      val both = RollingOps.ewmCovCorrScalable(df, "x", "y", "ord",
        Seq("k"), 0.4, ignoreNa = ina)
      val cov = c(both, "ewm_cov")
      cov shouldBe EwmOracle.run(
        EwmOracle.covMode(bias = false, corr = false, ina), 0.4, pts)
      cov shouldBe
        c(RollingOps.ewmCovScalable(df, "x", "y", "ord", Seq("k"),
          0.4, ignoreNa = ina, outName = "e"), "e")
      val corr = c(both, "ewm_corr")
      corr shouldBe EwmOracle.run(
        EwmOracle.covMode(bias = false, corr = true, ina), 0.4, pts)
      corr shouldBe
        c(RollingOps.ewmCorrScalable(df, "x", "y", "ord", Seq("k"),
          0.4, ignoreNa = ina, outName = "e"), "e")
    }
  }
  test("ewmVarTime reduces to positional ewmVar on a regular grid " +
      "and ewmStdTime is its sqrt") {
    import spark.implicits._
    // Δ = halflife -> per-step decay exactly 0.5 -> α = 0.5
    val reg = (0 until 25).map(i =>
        (1, i, i.toDouble * 7.0, math.sin(i * 1.3) * 9 + 2))
      .toDF("g", "id", "tm", "v")
    val viaTime = RollingOps.ewmVarTime(reg, "v", "tm", "id",
      Seq("g"), halflife = 7.0, outName = "e")
      .orderBy("id").select("e").as[Option[Double]].collect()
    val viaAlpha = RollingOps.ewmVar(reg, "v", "id", Seq("g"), 0.5,
      outName = "e")
      .orderBy("id").select("e").as[Option[Double]].collect()
    viaTime.zip(viaAlpha).foreach {
      case (Some(x), Some(y)) => x shouldBe y +- 1e-9
      case (x, y) => x.isEmpty shouldBe y.isEmpty
    }
    // first point: single effective observation -> debias undefined
    viaTime(0).isEmpty shouldBe true
    // biased var of the first point is 0
    RollingOps.ewmVarTime(reg, "v", "tm", "id", Seq("g"), 7.0,
      bias = true, outName = "e")
      .orderBy("id").select("e").as[Option[Double]].head() shouldBe
      Some(0.0)
    val stds = RollingOps.ewmStdTime(reg, "v", "tm", "id", Seq("g"),
      halflife = 7.0, outName = "e")
      .orderBy("id").select("e").as[Option[Double]].collect()
    stds.zip(viaTime).foreach {
      case (Some(s), Some(v)) => s shouldBe math.sqrt(math.max(v, 0.0))
      case (s, v) => s.isEmpty shouldBe v.isEmpty
    }
  }

  test("ewmCovTime reduces to positional ewmCov/ewmCorr on a " +
      "regular grid") {
    import spark.implicits._
    val reg = (0 until 25).map(i =>
        (1, i, i.toDouble * 7.0, math.sin(i * 1.3) * 9 + 2,
          math.cos(i * 0.7) * 4 - 1))
      .toDF("g", "id", "tm", "x", "y")
    def c(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").select("e").as[Option[Double]].collect()
    val covT = c(RollingOps.ewmCovTime(reg, "x", "y", "tm", "id",
      Seq("g"), halflife = 7.0, outName = "e"))
    val covP = c(RollingOps.ewmCov(reg, "x", "y", "id", Seq("g"),
      0.5, outName = "e"))
    covT.zip(covP).foreach {
      case (Some(a), Some(b)) => a shouldBe b +- 1e-9
      case (a, b) => a.isEmpty shouldBe b.isEmpty
    }
    val corT = c(RollingOps.ewmCovTime(reg, "x", "y", "tm", "id",
      Seq("g"), halflife = 7.0, corr = true, outName = "e"))
    val corP = c(RollingOps.ewmCorr(reg, "x", "y", "id", Seq("g"),
      0.5, outName = "e"))
    corT.zip(corP).foreach {
      case (Some(a), Some(b)) => a shouldBe b +- 1e-9
      case (a, b) => a.isEmpty shouldBe b.isEmpty
    }
    // corr is scale-free and bounded
    corT.flatten.foreach(v => math.abs(v) should be <= 1.0 + 1e-12)
  }

  test("ewmTimeScalable streaming pass is bit-equal to the " +
      "time-decayed fold forms (mean/var/std, irregular times, " +
      "nulls, two keys)") {
    import spark.implicits._
    // irregular gaps, interleaved null values, a null time
    val rows = (1 to 60).flatMap { i =>
      val t = if (i % 13 == 5) None
        else Some(i * 37.0 + (i % 7) * 11.0)
      val v = if (i % 9 == 4) None
        else Some(math.sin(i * 0.7) * 13 + (i % 5))
      Seq(("a", i.toLong, t, v), ("b", i.toLong, t.map(_ * 2), v))
    }
    val df = rows.toDF("k", "ord", "tm", "v")
    val pts = rows.sortBy(r => (r._1, r._2))
      .map { case (k, i, t, v) => Pt(k, i, v, t = t) }
    def c(d: org.apache.spark.sql.DataFrame, col0: String) =
      d.orderBy("k", "ord").select(col0).as[Option[Double]]
        .collect().toSeq
    val wantMean = EwmOracle.run(EwmOracle.TimeMean, 97.0, pts)
    c(RollingOps.ewmTimeScalable(df, "v", "tm", "ord", Seq("k"),
      halflife = 97.0, stat = "mean", outName = "e"), "e") shouldBe wantMean
    c(RollingOps.ewmMeanTime(df, "v", "tm", "ord", Seq("k"),
      halflife = 97.0, outName = "e"), "e") shouldBe wantMean
    val wantVar = EwmOracle.run(EwmOracle.TimeVar, 97.0, pts)
    c(RollingOps.ewmTimeScalable(df, "v", "tm", "ord", Seq("k"),
      halflife = 97.0, stat = "var", outName = "e"), "e") shouldBe wantVar
    c(RollingOps.ewmVarTime(df, "v", "tm", "ord", Seq("k"),
      halflife = 97.0, outName = "e"), "e") shouldBe wantVar
    val wantStd = wantVar.map(_.map(v => math.sqrt(math.max(v, 0.0))))
    c(RollingOps.ewmTimeScalable(df, "v", "tm", "ord", Seq("k"),
      halflife = 97.0, stat = "std", outName = "e"), "e") shouldBe wantStd
    c(RollingOps.ewmStdTime(df, "v", "tm", "ord", Seq("k"),
      halflife = 97.0, outName = "e"), "e") shouldBe wantStd
  }
  test("ewmVarTime irregular spacing: hand-computed two-step check") {
    import spark.implicits._
    // points (t=0, x=10), (t=600, x=20) with halflife 600:
    // dec = 0.5; den = .5*1+1 = 1.5, num = .5*10+20 = 25,
    // num2 = .5*100+400 = 450, den2 = .25*1+1 = 1.25
    // biased = 450/1.5 - (25/1.5)^2 = 300 - 277.77... = 22.2222...
    // debias = biased * 2.25 / (2.25-1.25) = 50.0
    val df = Seq((1, 1L, 0.0, 10.0), (1, 2L, 600.0, 20.0))
      .toDF("g", "id", "tm", "v")
    val out = RollingOps.ewmVarTime(df, "v", "tm", "id", Seq("g"),
      halflife = 600.0, outName = "e")
      .orderBy("id").select("e").as[Option[Double]].collect()
    out(0).isEmpty shouldBe true
    out(1).get shouldBe 50.0 +- 1e-9
  }

  test("hampel: all-null window emits null med/mad, no ANSI crash") {
    import spark.implicits._
    // a lone non-null far from a cluster of nulls: the centered
    // 3-windows around ords 5..7 contain ONLY nulls -> empty
    // collect_list; must pass through unflagged with null median
    // (not throw INVALID_INDEX_OF_ZERO under ANSI mode)
    val df = Seq((1, Some(10.0)), (2, Some(11.0)), (3, None),
      (4, None), (5, None), (6, None), (7, None))
      .toDF("ord", "v")
    val r = RollingOps.hampel(df, "v", n = 3, Seq("ord"))
      .orderBy("ord").collect()
    val byOrd = r.map(x => x.getInt(0) -> x).toMap
    byOrd(6).getAs[Boolean]("hampel_outlier") shouldBe false
    byOrd(6).isNullAt(byOrd(6).fieldIndex("hampel_median")) shouldBe true
    byOrd(6).isNullAt(byOrd(6).fieldIndex("hampel_filtered")) shouldBe true
    // non-null points unaffected
    byOrd(1).getAs[Double]("hampel_filtered") shouldBe 10.0
  }

  test("NaN and ±Inf values and times: every EWM mode, join-back " +
      "and scalable forms, is bit-equal to the oracle") {
    import spark.implicits._
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    // per key one poisoning value (NaN, +Inf, -Inf) or time, a null
    // in each column, and a clean key for contrast
    val rows = Seq(
      ("a", 1, Some(1.0), Some(2.0), Some(0.0)),
      ("a", 2, Some(nan), Some(1.0), Some(10.0)),
      ("a", 3, Some(4.0), Some(3.0), Some(20.0)),
      ("a", 4, Some(2.0), Some(5.0), Some(30.0)),
      ("b", 1, Some(1.0), Some(1.0), Some(0.0)),
      ("b", 2, Some(inf), Some(2.0), Some(nan)),
      ("b", 3, Some(4.0), Some(3.0), Some(20.0)),
      ("c", 1, Option.empty[Double], Some(1.0), Some(5.0)),
      ("c", 2, Some(-inf), Some(2.0), Some(0.0)),
      ("c", 3, Some(2.0), Option.empty[Double], Some(inf)),
      ("c", 4, Some(3.0), Some(5.0), Some(10.0)),
      ("c", 5, Some(1.0), Some(4.0), Some(-inf)),
      ("d", 1, Some(2.0), Some(inf), Option.empty[Double]),
      ("d", 2, Some(3.0), Some(1.0), Some(1.0)),
      ("d", 3, Some(1.0), Some(2.0), Some(nan)),
      ("e", 1, Some(3.0), Some(1.0), Some(0.0)),
      ("e", 2, Some(5.0), Some(2.0), Some(7.0)),
      ("e", 3, Some(4.0), Some(4.0), Some(9.0)))
    val df = rows.toDF("k", "ord", "x", "y", "tm")
    val pts = rows.map { case (k, i, x, y, t) => Pt(k, i, x, y, t) }
    def c(d: org.apache.spark.sql.DataFrame) = EwmOracle.bits(
      d.orderBy("k", "ord").select("e").as[Option[Double]].collect()
        .toSeq)
    def want(mode: Int, param: Double) =
      EwmOracle.bits(EwmOracle.run(mode, param, pts))
    val a = 0.3
    val h = 10.0
    for (ina <- Seq(true, false)) {
      for (adj <- Seq(true, false)) {
        val w = want(EwmOracle.meanMode(adj, ina), a)
        withClue(s"mean adjust=$adj ignoreNa=$ina") {
          c(RollingOps.ewmMean(df, "x", "ord", Seq("k"), a, adj, ina,
            "e")) shouldBe w
          c(RollingOps.ewmScalable(df, "x", "ord", Seq("k"), a, "mean",
            adj, ignoreNa = ina, outName = "e")) shouldBe w
        }
      }
      for (bias <- Seq(true, false)) {
        val w = want(EwmOracle.varMode(bias, ina), a)
        withClue(s"var bias=$bias ignoreNa=$ina") {
          c(RollingOps.ewmVar(df, "x", "ord", Seq("k"), a, bias, ina,
            "e")) shouldBe w
          c(RollingOps.ewmScalable(df, "x", "ord", Seq("k"), a, "var",
            bias = bias, ignoreNa = ina, outName = "e")) shouldBe w
        }
      }
      for ((bias, corr) <- Seq((false, false), (true, false),
          (false, true))) {
        val w = want(EwmOracle.covMode(bias, corr, ina), a)
        withClue(s"cov bias=$bias corr=$corr ignoreNa=$ina") {
          c(RollingOps.ewmCov(df, "x", "y", "ord", Seq("k"), a, bias,
            corr, ina, "e")) shouldBe w
          c(RollingOps.ewmCovScalable(df, "x", "y", "ord", Seq("k"), a,
            bias, corr, ina, "e")) shouldBe w
        }
      }
    }
    withClue("time mean") {
      val w = want(EwmOracle.TimeMean, h)
      c(RollingOps.ewmMeanTime(df, "x", "tm", "ord", Seq("k"), h,
        "e")) shouldBe w
      c(RollingOps.ewmTimeScalable(df, "x", "tm", "ord", Seq("k"), h,
        "mean", outName = "e")) shouldBe w
    }
    for (bias <- Seq(true, false)) {
      withClue(s"time var bias=$bias") {
        val w = want(EwmOracle.timeMode("var", bias, corr = false), h)
        c(RollingOps.ewmVarTime(df, "x", "tm", "ord", Seq("k"), h, bias,
          "e")) shouldBe w
        c(RollingOps.ewmTimeScalable(df, "x", "tm", "ord", Seq("k"), h,
          "var", bias, "e")) shouldBe w
      }
    }
    for ((bias, corr) <- Seq((false, false), (true, false),
        (false, true))) {
      withClue(s"time cov bias=$bias corr=$corr") {
        val w = want(EwmOracle.timeMode("cov", bias, corr), h)
        c(RollingOps.ewmCovTime(df, "x", "y", "tm", "ord", Seq("k"), h,
          bias, corr, "e")) shouldBe w
        c(RollingOps.ewmCovTimeScalable(df, "x", "y", "tm", "ord",
          Seq("k"), h, bias, corr, "e")) shouldBe w
      }
    }
  }

  test("EWM with partitionCols = Nil runs the whole frame as one " +
      "series (pandas Series.ewm)") {
    import spark.implicits._
    val rows = (1 to 30).map { i =>
      (i, if (i % 6 == 2) None else Some(math.sin(i * 0.5) * 3 + i % 4),
        Some(math.cos(i * 0.3) * 2), Some(i * 3.0 + (i % 3)))
    }
    val df = rows.toDF("ord", "x", "y", "tm")
    val pts = rows.map { case (i, x, y, t) => Pt(null, i, x, y, t) }
    // the oracle runs a null key like any other; with no key column
    // every row is in that one series
    def want(mode: Int, param: Double) =
      EwmOracle.run(mode, param, pts, joinBack = false)
    def c(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("ord").select("e").as[Option[Double]].collect().toSeq
    c(RollingOps.ewmMean(df, "x", "ord", Nil, 0.4, adjust = false,
      ignoreNa = false, outName = "e")) shouldBe
      want(EwmOracle.MeanRecKeepNa, 0.4)
    c(RollingOps.ewmVar(df, "x", "ord", Nil, 0.4, outName = "e")) shouldBe
      want(EwmOracle.Var, 0.4)
    c(RollingOps.ewmCorr(df, "x", "y", "ord", Nil, 0.4,
      outName = "e")) shouldBe want(EwmOracle.CorrPos, 0.4)
    c(RollingOps.ewmVarTime(df, "x", "tm", "ord", Nil, 5.0,
      outName = "e")) shouldBe want(EwmOracle.TimeVar, 5.0)
    c(RollingOps.ewmCovTime(df, "x", "y", "tm", "ord", Nil, 5.0,
      outName = "e")) shouldBe want(EwmOracle.TimeCov, 5.0)
    // the scalable forms keep requiring a key
    an[IllegalArgumentException] should be thrownBy
      RollingOps.ewmScalable(df, "x", "ord", Nil, 0.4)
  }

  test("EWM keys: string keys run independently; a null key gets " +
      "null from the join-back forms and its own series from the " +
      "scalable forms") {
    import spark.implicits._
    val keys = Seq("alpha", "beta", null, "gamma")
    val rows = for {
      (k, j) <- keys.zipWithIndex
      i <- 1 to 12
    } yield (k, i, Some(math.sin(i * 0.9 + j) * 5 + j),
      Some(math.cos(i * 0.4 - j) * 3), Some(i * 4.0 + j))
    val df = rows.toDF("k", "ord", "x", "y", "tm")
    // Spark sorts a null key first
    val pts = rows.sortBy(r => (Option(r._1), r._2))
      .map { case (k, i, x, y, t) => Pt(k, i, x, y, t) }
    def c(d: org.apache.spark.sql.DataFrame, n: String = "e") =
      d.orderBy("k", "ord").select(n).as[Option[Double]].collect().toSeq
    def both(mode: Int, param: Double) =
      (EwmOracle.run(mode, param, pts),
        EwmOracle.run(mode, param, pts, joinBack = false))
    val (meanJ, meanS) = both(EwmOracle.MeanAdj, 0.3)
    meanJ.take(12).forall(_.isEmpty) shouldBe true
    meanS.take(12).forall(_.nonEmpty) shouldBe true
    c(RollingOps.ewmMean(df, "x", "ord", Seq("k"), 0.3,
      outName = "e")) shouldBe meanJ
    c(RollingOps.ewmScalable(df, "x", "ord", Seq("k"), 0.3,
      outName = "e")) shouldBe meanS
    val (covJ, covS) = both(EwmOracle.CovPosKeepNa, 0.3)
    c(RollingOps.ewmCov(df, "x", "y", "ord", Seq("k"), 0.3,
      ignoreNa = false, outName = "e")) shouldBe covJ
    c(RollingOps.ewmCovScalable(df, "x", "y", "ord", Seq("k"), 0.3,
      ignoreNa = false, outName = "e")) shouldBe covS
    val (tJ, tS) = both(EwmOracle.TimeMean, 6.0)
    c(RollingOps.ewmMeanTime(df, "x", "tm", "ord", Seq("k"), 6.0,
      outName = "e")) shouldBe tJ
    c(RollingOps.ewmTimeScalable(df, "x", "tm", "ord", Seq("k"), 6.0,
      outName = "e")) shouldBe tS
  }

  test("EWM floating keys: -0.0 and 0.0 are one key, as are NaNs " +
      "(Spark's partitioning and sort)") {
    import spark.implicits._
    // key 0.0 written as -0.0 on every even order, so a pass that
    // told the two apart would restart the series on every row
    val keys: Seq[Int => Double] =
      Seq(i => if (i % 2 == 0) -0.0 else 0.0, _ => 1.5, _ => Double.NaN)
    val rows = for {
      (k, j) <- keys.zipWithIndex
      i <- 1 to 12
    } yield (k(i), i, Some(math.sin(i * 0.7 + j) * 4 + j),
      Some(math.cos(i * 0.3 + j) * 2), Some(i * 3.0 + j))
    val df = rows.toDF("k", "ord", "x", "y", "tm")
    // the oracle's key: one value for ±0.0, one for every NaN
    val pts = rows.map { case (k, i, x, y, t) =>
      Pt(java.lang.Double.doubleToLongBits(k + 0.0), i, x, y, t) }
    def c(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("k", "ord").select("e").as[Option[Double]].collect().toSeq
    def both(mode: Int, param: Double) =
      (EwmOracle.run(mode, param, pts),
        EwmOracle.run(mode, param, pts, joinBack = false))
    val (varJ, varS) = both(EwmOracle.varMode(false, true), 0.3)
    c(RollingOps.ewmVar(df, "x", "ord", Seq("k"), 0.3,
      outName = "e")) shouldBe varJ
    c(RollingOps.ewmScalable(df, "x", "ord", Seq("k"), 0.3, stat = "var",
      outName = "e")) shouldBe varS
    val (covJ, covS) = both(EwmOracle.CovPos, 0.3)
    c(RollingOps.ewmCov(df, "x", "y", "ord", Seq("k"), 0.3,
      outName = "e")) shouldBe covJ
    c(RollingOps.ewmCovScalable(df, "x", "y", "ord", Seq("k"), 0.3,
      outName = "e")) shouldBe covS
    val (tJ, tS) = both(EwmOracle.TimeMean, 5.0)
    c(RollingOps.ewmMeanTime(df, "x", "tm", "ord", Seq("k"), 5.0,
      outName = "e")) shouldBe tJ
    c(RollingOps.ewmTimeScalable(df, "x", "tm", "ord", Seq("k"), 5.0,
      outName = "e")) shouldBe tS
  }

  test("EWM order ties break by value, then the time family by " +
      "(time, order, value)") {
    import spark.implicits._
    // ord 2 and ord 4 are tied; the join-back forms pair each tied
    // row with every value emitted at its (key, ord)
    val rows = Seq((1, 5.0, 3.0), (2, 4.0, 1.0), (2, 1.0, 1.0),
      (3, 2.0, 0.0), (4, 7.0, 4.0), (4, -3.0, 4.0), (5, 6.0, 6.0))
    val df = rows.toDF("ord", "x", "tm").withColumn("k", lit("g"))
    val pts = rows.map { case (i, x, t) => Pt("g", i, Some(x),
      t = Some(t)) }
    type R = (Int, Double, Option[Double])
    def joined(mode: Int, param: Double): Seq[R] = {
      val em = EwmOracle.emitted(mode, param, pts)
      pts.flatMap(p => em.collect { case (q, e) if q.ord == p.ord =>
        (p.ord.toInt, p.x.get, e) })
    }
    def scaled(mode: Int, param: Double): Seq[R] =
      EwmOracle.emitted(mode, param, pts).map { case (p, e) =>
        (p.ord.toInt, 0.0, e) }
    def sorted(r: Seq[R]) = r.sortBy(t => (t._1, t._2, t._3))(
      Ordering.Tuple3(Ordering.Int, Ordering.Double.TotalOrdering,
        Ordering.Option(Ordering.Double.TotalOrdering)))
    def c(d: org.apache.spark.sql.DataFrame, withX: Boolean) = sorted(
      d.select(col("ord"), if (withX) col("x") else lit(0.0), col("e"))
        .as[(Int, Double, Option[Double])].collect().toSeq)
    for (mode <- Seq(EwmOracle.MeanAdj, EwmOracle.MeanRec,
        EwmOracle.Var)) {
      val (stat, adj) = mode match {
        case EwmOracle.MeanAdj => ("mean", true)
        case EwmOracle.MeanRec => ("mean", false)
        case _ => ("var", true)
      }
      val fold =
        if (stat == "mean") RollingOps.ewmMean(df, "x", "ord", Seq("k"),
          0.4, adjust = adj, outName = "e")
        else RollingOps.ewmVar(df, "x", "ord", Seq("k"), 0.4,
          outName = "e")
      c(fold, withX = true) shouldBe sorted(joined(mode, 0.4))
      c(RollingOps.ewmScalable(df, "x", "ord", Seq("k"), 0.4, stat,
        adj, outName = "e"), withX = false) shouldBe
        sorted(scaled(mode, 0.4))
    }
    // time: tm decreases while ord increases at ord 3; ord 4's two
    // rows tie on (tm, ord)
    c(RollingOps.ewmMeanTime(df, "x", "tm", "ord", Seq("k"), 2.0,
      outName = "e"), withX = true) shouldBe
      sorted(joined(EwmOracle.TimeMean, 2.0))
    c(RollingOps.ewmTimeScalable(df, "x", "tm", "ord", Seq("k"), 2.0,
      stat = "var", outName = "e"), withX = false) shouldBe
      sorted(scaled(EwmOracle.TimeVar, 2.0))
  }
}
