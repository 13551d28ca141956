package graft.stats

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Distribution functions (reference src/stats/distributions.rs:
  * normal/t/chi²/F pdf+cdf, 787 LoC) — the closed-form approximations
  * every test statistic needs to become a p-value.
  *
  * Scalar forms are driver-side pure math used to finalize the (tiny)
  * aggregate row of a test; `normalCdfCol` additionally exists as a
  * Column expression (Abramowitz-Stegun 7.1.26 polynomial, plain
  * arithmetic) so normal-approximation p-values can be reproduced
  * verbatim in oracle SQL.
  *
  * Accuracy: erf poly |ε| ≤ 1.5e-7 (A&S 7.1.26); incomplete
  * gamma/beta iterate series / Lentz continued fractions to 1e-14
  * relative — standard numerical-methods formulations from the open
  * literature.
  */
object Distributions {

  // ---- error function / normal ------------------------------------

  private val ErfP = 0.3275911
  private val ErfA = Array(0.254829592, -0.284496736, 1.421413741,
    -1.453152027, 1.061405429)

  /** A&S 7.1.26 polynomial erf, |ε| ≤ 1.5e-7. Branches exactly like
    * [[normalCdfCol]] (negative → mirrored), so scalar and Column
    * forms agree bit-for-bit, including at x = 0. */
  def erf(x: Double): Double = {
    val ax = math.abs(x)
    val t = 1.0 / (1.0 + ErfP * ax)
    val poly = ((((ErfA(4) * t + ErfA(3)) * t + ErfA(2)) * t +
      ErfA(1)) * t + ErfA(0)) * t
    val e = 1.0 - poly * math.exp(-ax * ax)
    if (x < 0) -e else e
  }

  def normalCdf(x: Double): Double = 0.5 * (1.0 + erf(x / math.sqrt(2.0)))

  /** Column form of [[normalCdf]] — IDENTICAL operation order to the
    * scalar form so Spark and an oracle engine running the same
    * arithmetic produce the same doubles. */
  def normalCdfCol(x: Column): Column = {
    val z = x / math.sqrt(2.0)
    val ax = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(ErfP) * ax)
    val poly = ((((lit(ErfA(4)) * t + lit(ErfA(3))) * t + lit(ErfA(2))) * t +
      lit(ErfA(1))) * t + lit(ErfA(0))) * t
    val erfAbs = lit(1.0) - poly * exp(-ax * ax)
    val erfSigned = when(z < 0, -erfAbs).otherwise(erfAbs)
    lit(0.5) * (lit(1.0) + erfSigned)
  }

  /** The same A&S erf/Φ pipeline as DuckDB SQL text over an input
    * expression, for oracle queries that emit normal-approximation
    * p-values. */
  def normalCdfSql(x: String): String = {
    val z = s"(($x) / sqrt(2.0))"
    val ax = s"abs($z)"
    val t = s"(1.0 / (1.0 + $ErfP * $ax))"
    val poly = s"((((${ErfA(4)} * $t + ${ErfA(3)}) * $t + ${ErfA(2)}) " +
      s"* $t + ${ErfA(1)}) * $t + ${ErfA(0)}) * $t"
    val erfAbs = s"(1.0 - ($poly) * exp(-($ax) * ($ax)))"
    val erfSigned = s"(CASE WHEN $z < 0 THEN -$erfAbs ELSE $erfAbs END)"
    s"(0.5 * (1.0 + $erfSigned))"
  }

  /** Inverse normal CDF (Acklam's rational approximation,
    * |ε| < 1.15e-9) — expected normal order statistics, quantile
    * z-scores. */
  def normSInv(p: Double): Double = {
    require(p > 0 && p < 1, s"normSInv domain: $p")
    val a = AckA; val b = AckB; val c = AckC; val dd = AckD
    val pl = AckPl
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    }
  }

  private val AckA = Array(-3.969683028665376e+01, 2.209460984245205e+02,
    -2.759285104469687e+02, 1.383577518672690e+02,
    -3.066479806614716e+01, 2.506628277459239e+00)
  private val AckB = Array(-5.447609879822406e+01, 1.615858368580409e+02,
    -1.556989798598866e+02, 6.680131188771972e+01,
    -1.328068155288572e+01)
  private val AckC = Array(-7.784894002430293e-03, -3.223964580411365e-01,
    -2.400758277161838e+00, -2.549732539343734e+00,
    4.374664141464968e+00, 2.938163982698783e+00)
  private val AckD = Array(7.784695709041462e-03, 3.224671290700398e-01,
    2.445134137142996e+00, 3.754408661907416e+00)
  private val AckPl = 0.02425

  /** Column form of [[normSInv]] (Acklam) — IDENTICAL operation order
    * to the scalar form, branch for branch, so Spark, the scalar
    * finalizers and an oracle engine running the same arithmetic
    * produce the same doubles. Caller guarantees 0 < p < 1 (CaseWhen
    * is lazy per-row, so the untaken branches' log/sqrt never see an
    * out-of-domain value). */
  def normSInvCol(p: Column): Column = {
    val ql = sqrt(lit(-2.0) * log(p))
    val lo = (((((lit(AckC(0)) * ql + AckC(1)) * ql + AckC(2)) * ql +
      AckC(3)) * ql + AckC(4)) * ql + AckC(5)) /
      ((((lit(AckD(0)) * ql + AckD(1)) * ql + AckD(2)) * ql +
        AckD(3)) * ql + 1)
    val qc = p - 0.5
    val r = qc * qc
    val mid = (((((lit(AckA(0)) * r + AckA(1)) * r + AckA(2)) * r +
      AckA(3)) * r + AckA(4)) * r + AckA(5)) * qc /
      (((((lit(AckB(0)) * r + AckB(1)) * r + AckB(2)) * r +
        AckB(3)) * r + AckB(4)) * r + 1)
    val qh = sqrt(lit(-2.0) * log(lit(1.0) - p))
    val hi = -(((((lit(AckC(0)) * qh + AckC(1)) * qh + AckC(2)) * qh +
      AckC(3)) * qh + AckC(4)) * qh + AckC(5)) /
      ((((lit(AckD(0)) * qh + AckD(1)) * qh + AckD(2)) * qh +
        AckD(3)) * qh + 1)
    when(p < AckPl, lo).when(p <= 1 - AckPl, mid).otherwise(hi)
  }

  /** The same Acklam pipeline as DuckDB SQL text over an input
    * expression (evaluated once per branch via CASE), for oracle
    * queries that replay the inverse-normal transform. */
  def normSInvSql(p: String): String = {
    def cPoly(q: String) =
      s"(((((${AckC(0)} * $q + ${AckC(1)}) * $q + ${AckC(2)}) * $q + " +
        s"${AckC(3)}) * $q + ${AckC(4)}) * $q + ${AckC(5)})"
    def dPoly(q: String) =
      s"((((${AckD(0)} * $q + ${AckD(1)}) * $q + ${AckD(2)}) * $q + " +
        s"${AckD(3)}) * $q + 1)"
    val ql = s"sqrt(-2 * ln($p))"
    val lo = s"(${cPoly(ql)} / ${dPoly(ql)})"
    val r = s"(($p - 0.5) * ($p - 0.5))"
    val mid = s"((((((${AckA(0)} * $r + ${AckA(1)}) * $r + ${AckA(2)}) " +
      s"* $r + ${AckA(3)}) * $r + ${AckA(4)}) * $r + ${AckA(5)}) * " +
      s"($p - 0.5) / (((((${AckB(0)} * $r + ${AckB(1)}) * $r + " +
      s"${AckB(2)}) * $r + ${AckB(3)}) * $r + ${AckB(4)}) * $r + 1))"
    val qh = s"sqrt(-2 * ln(1.0 - ($p)))"
    val hi = s"(-${cPoly(qh)} / ${dPoly(qh)})"
    s"(CASE WHEN $p < $AckPl THEN $lo WHEN $p <= ${1 - AckPl} " +
      s"THEN $mid ELSE $hi END)"
  }

  // ---- log-gamma / incomplete gamma --------------------------------

  private val LanczosG = 7.0
  private val LanczosC = Array(
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)

  /** Column form of [[lnGamma]] — the same Lanczos series as pure
    * Column arithmetic (for x ≥ 1 integer-ish arguments in exact-test
    * tail sums), so an oracle engine can replay it term-for-term
    * instead of relying on its libm lgamma. */
  def lnGammaCol(x: Column): Column = {
    val xm = x - 1.0
    val t = xm + (LanczosG + 0.5)
    val a = (1 until 9).foldLeft(lit(LanczosC(0))) { (acc, i) =>
      acc + lit(LanczosC(i)) / (xm + i)
    }
    lit(0.5 * math.log(2.0 * math.Pi)) + (xm + 0.5) * log(t) - t + log(a)
  }

  /** The same Lanczos log-gamma as DuckDB SQL text over an input
    * expression. */
  def lnGammaSql(x: String): String = {
    val xm = s"(($x) - 1.0)"
    val t = s"($xm + ${LanczosG + 0.5})"
    val a = (1 until 9).foldLeft(s"${LanczosC(0)}") { (acc, i) =>
      s"($acc + ${LanczosC(i)} / ($xm + $i))"
    }
    s"(${0.5 * math.log(2.0 * math.Pi)} + ($xm + 0.5) * ln($t) - $t + " +
      s"ln($a))"
  }

  /** Lanczos log-gamma for x > 0. */
  def lnGamma(x: Double): Double = {
    val xm = x - 1.0
    var a = LanczosC(0)
    val t = xm + LanczosG + 0.5
    var i = 1
    while (i < 9) { a += LanczosC(i) / (xm + i); i += 1 }
    0.5 * math.log(2.0 * math.Pi) + (xm + 0.5) * math.log(t) - t +
      math.log(a)
  }

  /** Regularized lower incomplete gamma P(a, x): series for x < a+1,
    * continued fraction (modified Lentz) otherwise. */
  def regGammaP(a: Double, x: Double): Double = {
    require(a > 0 && x >= 0, s"regGammaP domain: a=$a x=$x")
    if (x == 0.0) 0.0
    else if (x < a + 1.0) {
      // series: P = x^a e^-x / Γ(a) * Σ x^n / (a(a+1)...(a+n))
      var ap = a; var sum = 1.0 / a; var del = sum
      var n = 0
      while (n < 500 && math.abs(del) >= math.abs(sum) * 1e-15) {
        ap += 1.0; del *= x / ap; sum += del; n += 1
      }
      sum * math.exp(-x + a * math.log(x) - lnGamma(a))
    } else {
      // continued fraction for Q(a, x), P = 1 - Q
      val tiny = 1e-300
      var b = x + 1.0 - a; var c = 1.0 / tiny; var d = 1.0 / b
      var h = d
      var i = 1
      var done = false
      while (i <= 500 && !done) {
        val an = -i * (i - a)
        b += 2.0
        d = an * d + b; if (math.abs(d) < tiny) d = tiny
        c = b + an / c; if (math.abs(c) < tiny) c = tiny
        d = 1.0 / d
        val del = d * c
        h *= del
        if (math.abs(del - 1.0) < 1e-15) done = true
        i += 1
      }
      1.0 - math.exp(-x + a * math.log(x) - lnGamma(a)) * h
    }
  }

  // ---- incomplete beta ---------------------------------------------

  private def betacf(a: Double, b: Double, x: Double): Double = {
    val tiny = 1e-300
    val qab = a + b; val qap = a + 1.0; val qam = a - 1.0
    var c = 1.0
    var d = 1.0 - qab * x / qap
    if (math.abs(d) < tiny) d = tiny
    d = 1.0 / d
    var h = d
    var m = 1
    var done = false
    while (m <= 500 && !done) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
      d = 1.0 + aa * d; if (math.abs(d) < tiny) d = tiny
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      d = 1.0 / d
      h *= d * c
      aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
      d = 1.0 + aa * d; if (math.abs(d) < tiny) d = tiny
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < 1e-15) done = true
      m += 1
    }
    h
  }

  /** Regularized incomplete beta I_x(a, b) (continued fraction with
    * the symmetry transform for convergence). */
  def regBeta(a: Double, b: Double, x: Double): Double = {
    require(x >= 0 && x <= 1, s"regBeta domain: x=$x")
    if (x == 0.0) 0.0
    else if (x == 1.0) 1.0
    else {
      val front = math.exp(lnGamma(a + b) - lnGamma(a) - lnGamma(b) +
        a * math.log(x) + b * math.log(1.0 - x))
      if (x < (a + 1.0) / (a + b + 2.0)) front * betacf(a, b, x) / a
      else 1.0 - front * betacf(b, a, 1.0 - x) / b
    }
  }

  // ---- distribution CDFs -------------------------------------------

  /** Student-t CDF (df may be fractional — Welch). */
  def tCdf(t: Double, df: Double): Double = {
    val ib = regBeta(df / 2.0, 0.5, df / (df + t * t))
    if (t >= 0) 1.0 - ib / 2.0 else ib / 2.0
  }

  def chi2Cdf(x: Double, df: Double): Double =
    if (x <= 0) 0.0 else regGammaP(df / 2.0, x / 2.0)

  def fCdf(f: Double, d1: Double, d2: Double): Double =
    if (f <= 0) 0.0 else regBeta(d1 / 2.0, d2 / 2.0, d1 * f / (d1 * f + d2))

  // ---- p-value helpers ---------------------------------------------

  /** two-sided p for a t statistic. */
  def tTwoSidedP(t: Double, df: Double): Double =
    2.0 * (1.0 - tCdf(math.abs(t), df))

  /** upper-tail p for a χ² statistic. */
  def chi2UpperP(x: Double, df: Double): Double = 1.0 - chi2Cdf(x, df)

  /** upper-tail p for an F statistic. */
  def fUpperP(f: Double, d1: Double, d2: Double): Double =
    1.0 - fCdf(f, d1, d2)

  /** two-sided p for a z statistic. */
  def zTwoSidedP(z: Double): Double = 2.0 * (1.0 - normalCdf(math.abs(z)))
}
