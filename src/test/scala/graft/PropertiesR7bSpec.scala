package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import org.apache.spark.sql.functions._

/** ScalaCheck invariants for the late-round-7 surface: link
  * prediction against a brute-force reference, uplift conservation,
  * fairness cell algebra, Fleiss bounds, LCS metric laws. */
object PropertiesR7bSpec extends Properties("graft-r7b") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val edgesGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.chooseNum(2, 24)
    es <- Gen.listOfN(n, for {
      a <- Gen.chooseNum(1L, 8L)
      b <- Gen.chooseNum(1L, 8L)
    } yield (a, b))
  } yield es.filter(e => e._1 != e._2)

  property("linkPredict equals the brute-force common-neighbor " +
      "reference on arbitrary small graphs") =
    forAllNoShrink(edgesGen) { es =>
      es.nonEmpty ==> {
        val sym: Set[(Long, Long)] = (es.map(e => (e._1, e._2)) ++
          es.map(e => (e._2, e._1))).toSet
        val adj: Map[Long, Set[Long]] =
          sym.groupBy(_._1).map { case (v, s) => v -> s.map(_._2) }
        val got = graft.graphops.GraphOps
          .linkPredict(es.toDF("src", "dst"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) ->
            (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        val verts = adj.keySet.toSeq.sorted
        val want = (for {
          u <- verts; v <- verts; if u < v
          common = (adj(u) intersect adj(v)).size
          if common >= 1
        } yield (u, v) ->
          ((common.toLong, adj(u).size.toLong, adj(v).size.toLong)))
          .toMap
        got == want
      }
    }

  private val upliftGen: Gen[List[(Boolean, Boolean, Double)]] = for {
    n <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(n, for {
      t <- Gen.oneOf(true, false)
      y <- Gen.oneOf(true, false)
      p <- Gen.chooseNum(0, 1023).map(_ / 1024.0)
    } yield (t, y, p))
  } yield rows

  property("upliftCurve conserves rows and responders in the last " +
      "cumulative bucket") =
    forAllNoShrink(upliftGen) { rows =>
      val df = rows.toDF("t", "y", "p")
      val r = graft.ml.MlMetrics.upliftCurve(df, "t", "y", "p")
        .orderBy(desc("bucket")).limit(1).collect()(0)
      val nt = rows.count(_._1).toLong
      val nc = rows.size - nt
      val rt = rows.count(x => x._1 && x._2).toLong
      val rc = rows.count(x => !x._1 && x._2).toLong
      r.getAs[Long]("cum_nt") == nt && r.getAs[Long]("cum_nc") == nc &&
        r.getAs[Long]("cum_rt") == rt && r.getAs[Long]("cum_rc") == rc
    }

  property("fairnessReport cells partition each group and ppm " +
      "rates stay in [0, 1e6]") =
    forAllNoShrink(Gen.listOfN(40, for {
      g <- Gen.oneOf("a", "b", "c")
      y <- Gen.oneOf(true, false)
      p <- Gen.oneOf(true, false)
    } yield (g, y, p))) { rows =>
      val r = graft.ml.MlMetrics
        .fairnessReport(rows.toDF("g", "y", "p"), "g", "y", "p")
        .collect()
      r.forall { x =>
        val ok1 = x.getAs[Long]("tp") + x.getAs[Long]("fp") +
          x.getAs[Long]("fn") + x.getAs[Long]("tn") ==
          x.getAs[Long]("n")
        val ppm = x.getAs[Long]("pos_rate_ppm")
        ok1 && ppm >= 0L && ppm <= 1000000L
      }
    }

  private val ratingGen: Gen[List[(Long, Long)]] = for {
    units <- Gen.chooseNum(2, 12)
    raters <- Gen.chooseNum(2, 5)
    rows <- Gen.sequence[List[(Long, Long)], (Long, Long)](
      (for (u <- 1 to units; _ <- 1 to raters) yield
        Gen.chooseNum(0L, 2L).map(c => (u.toLong, c))).toList)
  } yield rows

  property("fleissKappa stays in [-1, 1] and drops nothing on " +
      "balanced designs") =
    forAllNoShrink(ratingGen) { rows =>
      val r = graft.stats.StatsOps
        .fleissKappa(rows.toDF("u", "rating"), "u", "rating")
        .collect()(0)
      // degenerate all-one-category draws yield NULL kappa (P_e = 1)
      val kOk = r.isNullAt(r.fieldIndex("kappa")) || {
        val k = r.getAs[Double]("kappa")
        k.isNaN || (k >= -1.0 - 1e-9 && k <= 1.0 + 1e-9)
      }
      r.getAs[Long]("units_dropped") == 0L && kOk
    }

  private val tokGen: Gen[Seq[String]] = for {
    n <- Gen.chooseNum(0, 15)
    ts <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
  } yield ts

  property("word_lcs obeys metric laws: bounded by both lengths, " +
      "symmetric, identity on equal inputs") =
    forAllNoShrink(tokGen, tokGen) { (a, b) =>
      import graft.sqlext.WordLcs
      val l = WordLcs.lcsOf(a, b)
      val df = Seq((a, b)).toDF("a", "b")
      val got = df.select(WordLcs.word_lcs(col("a"), col("b")))
        .collect()(0).getInt(0)
      got == l && l <= math.min(a.length, b.length) &&
        WordLcs.lcsOf(b, a) == l &&
        WordLcs.lcsOf(a, a) == a.length
    }
}
