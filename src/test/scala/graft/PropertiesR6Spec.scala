package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

import graft.window.RollingOps
import EwmOracle.Pt

/** ScalaCheck invariants for the EWM keyed pass: the `*Scalable`
  * forms and the join-back forms must be BIT-equal to the driver-side
  * fold of [[EwmOracle]] on arbitrary gappy series — not just the
  * handpicked spec fixtures. */
object PropertiesR6Spec extends Properties("graft-r6") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val seriesGen: Gen[List[Option[Double]]] =
    Gen.listOfN(40, Gen.frequency(
      (4, Gen.chooseNum(-50.0, 50.0).map(v =>
        Some(math.rint(v * 100) / 100))),
      (1, Gen.const(Option.empty[Double]))))

  private def col1(d: org.apache.spark.sql.DataFrame): Seq[Option[Double]] =
    d.orderBy("ord").select("e").as[Option[Double]].collect().toSeq

  property("ewmCovScalable is bit-equal to the ewmCov fold on " +
      "random gappy pairs (cov and corr)") =
    forAllNoShrink(seriesGen, seriesGen, Gen.chooseNum(0.05, 0.95)) {
      (xs, ys, a) =>
        val rows = xs.zipAll(ys, None, None).zipWithIndex
          .map { case ((x, y), i) => (1, i, x, y) }
        val df = rows.toDF("k", "ord", "x", "y")
        val pts = rows.map { case (k, i, x, y) => Pt(k, i, x, y) }
        val cov = EwmOracle.run(EwmOracle.CovPos, a, pts)
        val cor = EwmOracle.run(EwmOracle.CorrPos, a, pts)
        val sCov = col1(RollingOps.ewmCovScalable(df, "x", "y", "ord",
          Seq("k"), a, outName = "e"))
        val fCov = col1(RollingOps.ewmCov(df, "x", "y", "ord",
          Seq("k"), a, outName = "e"))
        val sCor = col1(RollingOps.ewmCorrScalable(df, "x", "y",
          "ord", Seq("k"), a, outName = "e"))
        val fCor = col1(RollingOps.ewmCorr(df, "x", "y", "ord",
          Seq("k"), a, outName = "e"))
        sCov == cov && fCov == cov && sCor == cor && fCor == cor
    }

  property("ewmTimeScalable is bit-equal to the time-decayed folds " +
      "on random irregular times") =
    forAllNoShrink(seriesGen, Gen.listOfN(40, Gen.chooseNum(1.0, 500.0)),
      Gen.chooseNum(10.0, 900.0)) { (vs, gaps, h) =>
      // strictly increasing integer-valued times from positive gaps
      val ts = gaps.scanLeft(0.0)((acc, g) => acc + math.rint(g)).tail
      val rows = vs.zip(ts).zipWithIndex
        .map { case ((v, t), i) => (1, i, t, v) }
      val df = rows.toDF("k", "ord", "tm", "v")
      val pts = rows.map { case (k, i, t, v) => Pt(k, i, v, t = Some(t)) }
      val mean = EwmOracle.run(EwmOracle.TimeMean, h, pts)
      val vr = EwmOracle.run(EwmOracle.TimeVar, h, pts)
      val sMean = col1(RollingOps.ewmTimeScalable(df, "v", "tm",
        "ord", Seq("k"), h, stat = "mean", outName = "e"))
      val fMean = col1(RollingOps.ewmMeanTime(df, "v", "tm", "ord",
        Seq("k"), h, outName = "e"))
      val sVar = col1(RollingOps.ewmTimeScalable(df, "v", "tm",
        "ord", Seq("k"), h, stat = "var", outName = "e"))
      val fVar = col1(RollingOps.ewmVarTime(df, "v", "tm", "ord",
        Seq("k"), h, outName = "e"))
      sMean == mean && fMean == mean && sVar == vr && fVar == vr
    }

  property("ewmCovTimeScalable is bit-equal to the ewmCovTime fold " +
      "on random irregular times (cov and corr)") =
    forAllNoShrink(seriesGen, seriesGen,
      Gen.listOfN(40, Gen.chooseNum(1.0, 500.0)),
      Gen.chooseNum(10.0, 900.0)) { (xs, ys, gaps, h) =>
      val ts = gaps.scanLeft(0.0)((acc, g) => acc + math.rint(g)).tail
      val rows = xs.zipAll(ys, None, None).zip(ts).zipWithIndex
        .map { case (((x, y), t), i) => (1, i, t, x, y) }
      val df = rows.toDF("k", "ord", "tm", "x", "y")
      val pts = rows.map { case (k, i, t, x, y) =>
        Pt(k, i, x, y, Some(t)) }
      val cov = EwmOracle.run(EwmOracle.TimeCov, h, pts)
      val cor = EwmOracle.run(EwmOracle.TimeCorr, h, pts)
      val sCov = col1(RollingOps.ewmCovTimeScalable(df, "x", "y",
        "tm", "ord", Seq("k"), h, outName = "e"))
      val fCov = col1(RollingOps.ewmCovTime(df, "x", "y", "tm",
        "ord", Seq("k"), h, outName = "e"))
      val sCor = col1(RollingOps.ewmCovTimeScalable(df, "x", "y",
        "tm", "ord", Seq("k"), h, corr = true, outName = "e"))
      val fCor = col1(RollingOps.ewmCovTime(df, "x", "y", "tm",
        "ord", Seq("k"), h, corr = true, outName = "e"))
      sCov == cov && fCov == cov && sCor == cor && fCor == cor
    }
}
