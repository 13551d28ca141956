package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import org.apache.spark.sql.functions._

/** ScalaCheck invariants for the round-8 twins: stump-forest root
  * splits against a brute-force exact-Gini reference, IRLS round 1
  * against plain weighted least squares, AutoML holdout RMSE
  * against a direct per-row computation. */
object PropertiesR8Spec extends Properties("graft-r8") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // small integer-feature labeled datasets: f0 ∈ 0..3, f1 ∈ 0..4,
  // f2 ∈ 0..2, y ∈ {0,1}
  private val rowsGen: Gen[List[(Long, Long, Long, Long, Long)]] =
    for {
      n <- Gen.chooseNum(8, 60)
      rows <- Gen.listOfN(n, for {
        f0 <- Gen.chooseNum(0L, 3L)
        f1 <- Gen.chooseNum(0L, 4L)
        f2 <- Gen.chooseNum(0L, 2L)
        y <- Gen.chooseNum(0L, 1L)
      } yield (f0, f1, f2, y))
    } yield rows.zipWithIndex.map { case ((a, b, c, y), i) =>
      (i.toLong, a, b, c, y)
    }

  property("giniStumpForestTwin root split equals the brute-force " +
      "exact-Gini argmax on the tree-0 bag") =
    forAllNoShrink(rowsGen) { rows =>
      val df = rows.toDF("id", "f0", "f1", "f2", "y")
      val grids = Seq((0 to 2).toList, (0 to 3).toList,
        (0 to 1).toList)
      val forest = graft.ml.ForestTwin.giniStumpForestTwin(
        df, "id", Seq("f0", "f1", "f2"), "y",
        thresholds = grids, trees = 1, bagRate = 1.0)
        .collect()
      val roots = forest.filter(_.getAs[String]("node") == "root")
      // tree 0 sees (f0, f1) with bagRate 1.0 => the whole dataset
      val cand = for {
        (f, grid) <- Seq((0, grids(0)), (1, grids(1)))
        thr <- grid
      } yield (f.toLong, thr.toLong)
      def fval(r: (Long, Long, Long, Long, Long), f: Long) =
        if (f == 0) r._2 else if (f == 1) r._3 else r._4
      val scored = cand.flatMap { case (f, thr) =>
        val (l, r) = rows.partition(x => fval(x, f) <= thr)
        if (l.isEmpty || r.isEmpty) None
        else {
          def part(side: Seq[(Long, Long, Long, Long, Long)]) = {
            val n = side.size.toLong
            val p = side.count(_._5 == 1L).toLong
            (p * p + (n - p) * (n - p)).toDouble / n
          }
          Some(((math.rint((part(l) + part(r)) * 1e9) / 1e9,
            -f, -thr), (f, thr)))
        }
      }
      if (scored.isEmpty) roots.isEmpty
      else {
        val want = scored.maxBy(_._1)._2
        roots.length == 1 && {
          val r = roots.head
          (r.getAs[Long]("feature"), r.getAs[Long]("threshold")) ==
            want
        }
      }
    }

  private val glmGen: Gen[List[(Double, Double, Double)]] = for {
    n <- Gen.chooseNum(10, 80)
    rows <- Gen.listOfN(n, for {
      y <- Gen.chooseNum(0, 30)
      x1 <- Gen.chooseNum(0, 10)
      x2 <- Gen.chooseNum(0, 10)
    } yield (y.toDouble, x1 / 10.0, x2 / 10.0))
  } yield rows

  property("glmPoissonIrlsTwin round 1 equals plain weighted least " +
      "squares with w = y + 1/2 (the GLM init)") =
    forAllNoShrink(glmGen) { rows =>
      val df = rows.toDF("y", "x1", "x2")
      val got = graft.ml.MlOps
        .glmPoissonIrlsTwin(df, "x1", "x2", "y", rounds = 1).head()
      // brute force: solve (XᵀWX + λI)b = XᵀWz exactly as specified
      val lam = 1e-6
      var (a11, a12, a13, a22, a23, a33) = (lam, 0.0, 0.0, lam, 0.0, lam)
      var (c1, c2, c3) = (0.0, 0.0, 0.0)
      rows.foreach { case (y, x1, x2) =>
        val w = y + 0.5
        val z = math.rint(math.log(y + 0.5) * 1e9) / 1e9 -
          0.5 / (y + 0.5)
        a11 += w; a12 += w * x1; a13 += w * x2
        a22 += w * x1 * x1; a23 += w * x1 * x2; a33 += w * x2 * x2
        c1 += w * z; c2 += w * x1 * z; c3 += w * x2 * z
      }
      val det = a11 * (a22 * a33 - a23 * a23) -
        a12 * (a12 * a33 - a23 * a13) +
        a13 * (a12 * a23 - a22 * a13)
      val b0 = (c1 * (a22 * a33 - a23 * a23) -
        a12 * (c2 * a33 - a23 * c3) +
        a13 * (c2 * a23 - a22 * c3)) / det
      val b1 = (a11 * (c2 * a33 - a23 * c3) -
        c1 * (a12 * a33 - a23 * a13) +
        a13 * (a12 * c3 - c2 * a13)) / det
      val b2 = (a11 * (a22 * c3 - c2 * a23) -
        a12 * (a12 * c3 - c2 * a13) +
        c1 * (a12 * a23 - a22 * a13)) / det
      // the twin's decimal sums round each TERM to 12 decimals; the
      // naive double fold does not, so compare with a loose bound
      math.abs(got.getAs[Double]("b0") - b0) < 1e-6 &&
        math.abs(got.getAs[Double]("b1") - b1) < 1e-6 &&
        math.abs(got.getAs[Double]("b2") - b2) < 1e-6
    }

  private val amlGen: Gen[List[(Long, Double, Double, Double)]] =
    for {
      n <- Gen.chooseNum(30, 120)
      rows <- Gen.listOfN(n, for {
        x1 <- Gen.chooseNum(0, 8)
        x2 <- Gen.chooseNum(0, 6)
        e <- Gen.chooseNum(-100, 100)
      } yield (x1.toDouble, x2.toDouble, e / 100.0))
    } yield rows.zipWithIndex.map { case ((x1, x2, e), i) =>
      (i.toLong, x1, x2, 2.0 + x1 - 0.5 * x2 + e)
    }

  property("autoMlTwin 'mean' candidate RMSE equals the direct " +
      "per-row holdout computation") =
    forAllNoShrink(amlGen) { rows =>
      val df = rows.toDF("id", "x1", "x2", "y")
      val out = graft.ml.ModelSelection
        .autoMlTwin(df, "id", "x1", "x2", "y").collect()
      val meanRow = out.find(_.getAs[String]("model") == "mean").get
      // replicate the md5 split exactly through the library helper
      val split = graft.llm.PipelineOps
        .hashSample(df, "id", rate = 0.25, salt = "amt")
        .select("id").as[Long].collect().toSet
      val (test, train) = rows.partition(r => split.contains(r._1))
      (train.nonEmpty && test.nonEmpty) ==> {
        val b0 = train.map(_._4).sum / train.size
        val rmse = math.sqrt(
          test.map(r => (r._4 - b0) * (r._4 - b0)).sum / test.size)
        meanRow.getAs[Long]("n_train") == train.size.toLong &&
          meanRow.getAs[Long]("n_test") == test.size.toLong &&
          math.abs(meanRow.getAs[Double]("rmse") - rmse) < 1e-6
      }
    }
}
