package graft

/** Driver-side reference for the EWM family of
  * `graft.window.RollingOps`: the recurrences written a second time,
  * as one fold over a key's sorted points, for the bit-equal specs and
  * properties to compare the library's keyed pass against. No Spark
  * job runs.
  *
  * [[fold]] is the arithmetic: identical accumulator updates in
  * identical IEEE evaluation order, null points under ignore_na=false
  * decaying without adding, emitted values computed from the
  * post-update accumulators, and Spark SQL's NaN-is-largest `> 0`
  * inside every guard (the DuckDB CASE oracles of the gates agree).
  * [[run]] adds what a public name does around it: per key, drop the
  * rows the statistic skips, sort as Spark sorts (order then values;
  * time then order then values for the time family), fold. */
object EwmOracle {
  // positional mean: adjust=true (num/den) / adjust=false recursive,
  // each with ignore_na=true (nulls dropped) or =false (null decays
  // without adding)
  val MeanAdj = 0
  val MeanAdjKeepNa = 1
  val MeanRec = 2
  val MeanRecKeepNa = 3
  // positional variance: debiased (den²/(den²−den2)) / biased
  val Var = 4
  val VarKeepNa = 5
  val VarBiased = 6
  val VarBiasedKeepNa = 7
  // positional pairwise: cov debiased / biased / corr (biased ratio);
  // KeepNa variants decay on a null in EITHER column
  val CovPos = 8
  val CovPosBiased = 9
  val CorrPos = 10
  val CovPosKeepNa = 11
  val CovPosBiasedKeepNa = 12
  val CorrPosKeepNa = 13
  // time-decayed family (param = halflife, weight 0.5^(Δt/halflife))
  val TimeMean = 14
  val TimeVar = 15
  val TimeVarBiased = 16
  val TimeCov = 17
  val TimeCovBiased = 18
  val TimeCorr = 19

  def meanMode(adjust: Boolean, ignoreNa: Boolean): Int =
    if (adjust) (if (ignoreNa) MeanAdj else MeanAdjKeepNa)
    else if (ignoreNa) MeanRec else MeanRecKeepNa
  def varMode(bias: Boolean, ignoreNa: Boolean): Int =
    if (bias) (if (ignoreNa) VarBiased else VarBiasedKeepNa)
    else if (ignoreNa) Var else VarKeepNa
  def covMode(bias: Boolean, corr: Boolean, ignoreNa: Boolean): Int =
    (if (corr) CorrPos else if (bias) CovPosBiased else CovPos) +
      (if (ignoreNa) 0 else CovPosKeepNa - CovPos)
  def timeMode(stat: String, bias: Boolean, corr: Boolean): Int =
    stat match {
      case "mean" => TimeMean
      case "var" => if (bias) TimeVarBiased else TimeVar
      case "cov" =>
        if (corr) TimeCorr else if (bias) TimeCovBiased else TimeCov
    }

  private def isTime(mode: Int) = mode >= TimeMean
  private def isPair(mode: Int) = (mode >= CovPos && mode <= CorrPosKeepNa) ||
    mode >= TimeCov
  private def keepNa(mode: Int) = mode == MeanAdjKeepNa ||
    mode == MeanRecKeepNa || mode == VarKeepNa ||
    mode == VarBiasedKeepNa || (mode >= CovPosKeepNa && mode <= CorrPosKeepNa)

  /** One input row: `key` may be null, `y` is read by the pairwise
    * modes only and `t` by the time modes only; None is SQL null. */
  final case class Pt(key: Any, ord: Long, x: Option[Double],
      y: Option[Double] = None, t: Option[Double] = None)

  // Spark SQL `> 0.0d` under NaN-is-largest ordering
  private def gtZeroSql(x: Double): Boolean =
    java.lang.Double.isNaN(x) || x > 0.0

  /** The fold over one key's points, already sorted and filtered;
    * `param` is alpha for positional modes, halflife for time modes.
    * One emitted value per point. */
  def fold(mode: Int, param: Double, pts: Seq[Pt]): Seq[Option[Double]] = {
    val a = param
    val hl = param
    var num = 0.0; var den = 0.0; var num2 = 0.0; var den2 = 0.0
    var prev = 0.0; var prevSet = false; var ow = 0.0
    var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0
    var syy = 0.0
    var pt = 0.0; var ptSet = false
    def covEmit(m: Int): Option[Double] = {
      val covB = sxy / den - (sx / den) * (sy / den)
      if (m == CorrPos || m == CorrPosKeepNa || m == TimeCorr) {
        val varxB = sxx / den - (sx / den) * (sx / den)
        val varyB = syy / den - (sy / den) * (sy / den)
        if (gtZeroSql(varxB * varyB))
          Some(covB / math.sqrt(varxB * varyB))
        else None
      } else if (m == CovPosBiased || m == CovPosBiasedKeepNa ||
          m == TimeCovBiased) Some(covB)
      else {
        val dd = den * den - den2
        if (gtZeroSql(dd)) Some(covB * (den * den) / dd) else None
      }
    }
    pts.map { p =>
      var e: Option[Double] = None
      mode match {
        case MeanAdj =>
          val v = p.x.get
          num = (1.0 - a) * num + v
          den = (1.0 - a) * den + 1.0
          e = Some(num / den)
        case MeanAdjKeepNa =>
          if (p.x.isEmpty) {
            num = (1.0 - a) * num; den = (1.0 - a) * den
          } else {
            num = (1.0 - a) * num + p.x.get
            den = (1.0 - a) * den + 1.0
          }
          if (gtZeroSql(den)) e = Some(num / den)
        case MeanRec =>
          val v = p.x.get
          val nv = if (prevSet) (1.0 - a) * prev + a * v else v
          prev = nv; prevSet = true
          e = Some(nv)
        case MeanRecKeepNa =>
          if (p.x.isEmpty) {
            if (prevSet) e = Some(prev)
            ow = (1.0 - a) * ow
          } else if (!prevSet) {
            prev = p.x.get; prevSet = true; ow = 1.0
            e = Some(prev)
          } else {
            val v = p.x.get
            val nv = ((1.0 - a) * ow * prev + a * v) /
              ((1.0 - a) * ow + a)
            prev = nv; ow = 1.0
            e = Some(nv)
          }
        case Var | VarBiased | VarKeepNa | VarBiasedKeepNa =>
          val kna = mode == VarKeepNa || mode == VarBiasedKeepNa
          if (kna && p.x.isEmpty) {
            den = (1.0 - a) * den
            num = (1.0 - a) * num
            num2 = (1.0 - a) * num2
            den2 = (1.0 - a) * (1.0 - a) * den2
          } else {
            val v = p.x.get
            den = (1.0 - a) * den + 1.0
            num = (1.0 - a) * num + v
            num2 = (1.0 - a) * num2 + v * v
            den2 = (1.0 - a) * (1.0 - a) * den2 + 1.0
          }
          val biasedDefined = !kna || gtZeroSql(den)
          if (mode == VarBiased || mode == VarBiasedKeepNa) {
            if (biasedDefined)
              e = Some(num2 / den - (num / den) * (num / den))
          } else {
            val dd = den * den - den2
            if (gtZeroSql(dd) && biasedDefined)
              e = Some((num2 / den - (num / den) * (num / den)) *
                (den * den) / dd)
          }
        case CovPos | CovPosBiased | CorrPos | CovPosKeepNa |
            CovPosBiasedKeepNa | CorrPosKeepNa =>
          val kna = mode >= CovPosKeepNa
          if (kna && (p.x.isEmpty || p.y.isEmpty)) {
            den = (1.0 - a) * den
            den2 = (1.0 - a) * (1.0 - a) * den2
            sx = (1.0 - a) * sx; sy = (1.0 - a) * sy
            sxy = (1.0 - a) * sxy; sxx = (1.0 - a) * sxx
            syy = (1.0 - a) * syy
          } else {
            val x = p.x.get; val y = p.y.get
            den = (1.0 - a) * den + 1.0
            den2 = (1.0 - a) * (1.0 - a) * den2 + 1.0
            sx = (1.0 - a) * sx + x
            sy = (1.0 - a) * sy + y
            sxy = (1.0 - a) * sxy + x * y
            sxx = (1.0 - a) * sxx + x * x
            syy = (1.0 - a) * syy + y * y
          }
          // a keepNa leading pairwise-incomplete prefix decays den
          // from 0 to 0, where the moments are 0/0: emit null
          if (!kna || gtZeroSql(den)) e = covEmit(mode)
        case TimeMean =>
          val t = p.t.get; val v = p.x.get
          val dec =
            if (ptSet) java.lang.StrictMath.pow(0.5, (t - pt) / hl) else 1.0
          num = dec * num + v
          den = dec * den + 1.0
          pt = t; ptSet = true
          e = Some(num / den)
        case TimeVar | TimeVarBiased =>
          val t = p.t.get; val v = p.x.get
          val dec =
            if (ptSet) java.lang.StrictMath.pow(0.5, (t - pt) / hl) else 1.0
          num = dec * num + v
          den = dec * den + 1.0
          num2 = dec * num2 + v * v
          den2 = dec * dec * den2 + 1.0
          pt = t; ptSet = true
          if (mode == TimeVarBiased)
            e = Some(num2 / den - (num / den) * (num / den))
          else {
            val dd = den * den - den2
            if (gtZeroSql(dd))
              e = Some((num2 / den - (num / den) * (num / den)) *
                (den * den) / dd)
          }
        case TimeCov | TimeCovBiased | TimeCorr =>
          val t = p.t.get
          val x = p.x.get; val y = p.y.get
          val dec =
            if (ptSet) java.lang.StrictMath.pow(0.5, (t - pt) / hl) else 1.0
          den = dec * den + 1.0
          den2 = dec * dec * den2 + 1.0
          sx = dec * sx + x
          sy = dec * sy + y
          sxy = dec * sxy + x * y
          sxx = dec * sxx + x * x
          syy = dec * syy + y * y
          pt = t; ptSet = true
          e = covEmit(mode)
      }
      e
    }
  }

  // Spark's ascending order on a nullable double: null first, NaN
  // last, -0.0 equal to 0.0
  private val sqlDouble: Ordering[Option[Double]] =
    new Ordering[Option[Double]] {
      def compare(l: Option[Double], r: Option[Double]): Int =
        (l, r) match {
          case (None, None) => 0
          case (None, _) => -1
          case (_, None) => 1
          case (Some(a), Some(b)) =>
            if (a == b) 0 else java.lang.Double.compare(a, b)
        }
    }

  private def sortKey(mode: Int)(p: Pt): (Option[Double], Long,
      Option[Double], Option[Double]) =
    if (isTime(mode)) (p.t, p.ord, p.x, p.y)
    else (None, p.ord, p.x, p.y)

  /** Every emitted (point, value) of one statistic, per key in sorted
    * order: the keyed pass of the library before any join back. A
    * null key is a key of its own. */
  def emitted(mode: Int, param: Double,
      rows: Seq[Pt]): Seq[(Pt, Option[Double])] = {
    val kept = rows.filter { p =>
      (keepNa(mode) || (p.x.nonEmpty && (!isPair(mode) || p.y.nonEmpty))) &&
        (!isTime(mode) || p.t.nonEmpty)
    }
    implicit val ord: Ordering[(Option[Double], Long, Option[Double],
      Option[Double])] =
      Ordering.Tuple4(sqlDouble, Ordering.Long, sqlDouble, sqlDouble)
    kept.groupBy(p => Option(p.key)).values.toSeq.flatMap { g =>
      val sorted = g.sortBy(sortKey(mode))
      sorted.zip(fold(mode, param, sorted))
    }
  }

  /** One value per row of `rows` ((key, ord) unique), as the public
    * name returns it: the join-back forms (`joinBack`, e.g. ewmMean)
    * give null to a null key, the `*Scalable` forms compute a null key
    * like any other. A row the statistic skips gets null. */
  def run(mode: Int, param: Double, rows: Seq[Pt],
      joinBack: Boolean = true): Seq[Option[Double]] = {
    val byRow = emitted(mode, param, rows)
      .map { case (p, e) => (Option(p.key), p.ord) -> e }.toMap
    rows.map { p =>
      if (joinBack && p.key == null) None
      else byRow.getOrElse((Option(p.key), p.ord), None)
    }
  }

  /** `v` with every double as its bits: NaN equals NaN, so a NaN
    * result compares bit-for-bit. */
  def bits(v: Seq[Option[Double]]): Seq[Option[Long]] =
    v.map(_.map(java.lang.Double.doubleToLongBits))
}
