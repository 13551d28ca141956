package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import org.apache.spark.sql.functions._

/** ScalaCheck invariants for the round-7 surface: multi-pass
  * blocking must equal the brute-force pair union with first-pass
  * attribution on arbitrary data, HITS totals must obey the edge
  * identity, and the funnel must be monotone. */
object PropertiesR7Spec extends Properties("graft-r7") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowsGen: Gen[List[(Long, Option[String], Option[String])]] =
    for {
      n <- Gen.chooseNum(2, 40)
      rows <- Gen.listOfN(n, for {
        a <- Gen.frequency((5, Gen.chooseNum(0, 3).map(i => Some(s"a$i"))),
          (1, Gen.const(Option.empty[String])))
        b <- Gen.frequency((5, Gen.chooseNum(0, 3).map(i => Some(s"b$i"))),
          (1, Gen.const(Option.empty[String])))
      } yield (a, b))
    } yield rows.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }

  property("blockPairsMulti equals brute-force union with " +
      "first-kept-pass attribution (incl. nulls and drops)") =
    forAllNoShrink(rowsGen, Gen.chooseNum(2, 6)) { (rows, maxBlock) =>
      val df = rows.toDF("id", "ka", "kb")
      val passes = Seq(Seq("ka"), Seq("kb"))
      val got = graft.analytics.RecordLinkage
        .blockPairsMulti(df, "id", passes, maxBlock)
        .select("l_id", "r_id", "block_pass").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      // brute force: per pass, kept keys are those with <= maxBlock
      // occupants; a pair belongs to its FIRST kept agreeing pass
      def keyOf(r: (Long, Option[String], Option[String]), p: Int) =
        if (p == 0) r._2 else r._3
      val kept = (0 to 1).map { p =>
        rows.groupBy(r => keyOf(r, p)).collect {
          case (Some(k), g) if g.size <= maxBlock => k
        }.toSet
      }
      val expect = (for {
        x <- rows; y <- rows if x._1 < y._1
        p = (0 to 1).find(p => (keyOf(x, p), keyOf(y, p)) match {
          case (Some(a), Some(b)) => a == b && kept(p)(a)
          case _ => false
        })
        if p.isDefined
      } yield (x._1, y._1) -> p.get).toMap
      got == expect
    }

  property("hits: sum of round-r auth equals sum over edges of " +
      "round-(r-1) hub (the mutual-reinforcement identity)") =
    forAllNoShrink(Gen.listOfN(25, for {
      s <- Gen.chooseNum(0, 5); d <- Gen.chooseNum(0, 5)
    } yield (s"u$s", s"v$d"))) { edges0 =>
      val edges = edges0.distinct
      edges.nonEmpty ==> {
        val df = edges.toDF("src", "dst")
        val r1 = graft.graphops.GraphOps.hits(df, rounds = 1)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2))).toMap
        // round 1: auth(v) = indeg(v); hub(u) = sum of auth over
        // successors = sum of indeg(dst)
        val indeg = edges.groupBy(_._2).map { case (v, g) =>
          v -> g.size.toLong }
        val hub = edges.groupBy(_._1).map { case (u, g) =>
          u -> g.map(e => indeg(e._2)).sum }
        edges.map(_._2).distinct.forall(v => r1(v)._1 == indeg(v)) &&
          edges.map(_._1).distinct.forall(u => r1(u)._2 == hub(u))
      }
    }

  property("isotonicFit equals the quadratic minimax reference, is " +
      "monotone, and preserves block means") =
    forAllNoShrink(Gen.listOfN(25, for {
      x <- Gen.chooseNum(0, 9); y <- Gen.chooseNum(-50L, 50L)
    } yield (x.toDouble, y.toDouble))) { pts =>
      pts.nonEmpty ==> {
        val df = pts.zipWithIndex.map { case ((x, y), i) =>
          ("k", x, y) }.toDF("k", "x", "y")
        val got = graft.ml.Isotonic.isotonicFit(df, "k", "x", "y")
          .orderBy("x").collect()
          .map(r => (r.getDouble(1), r.getDouble(4)))
        // reference: pool per x, fitted(i) = max_{j<=i} min_{k>=i}
        // mean(j..k) on exact sums
        val pooled = pts.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (x, g) => (x, g.map(_._2).sum, g.size.toLong) }
        val n = pooled.length
        val ref = (0 until n).map { i =>
          val cand = for (j <- 0 to i) yield (i until n).map { k =>
            val s = (j to k).map(pooled(_)._2).sum
            val c = (j to k).map(pooled(_)._3).sum
            s / c
          }.min
          (pooled(i)._1, cand.max)
        }
        val matches = got.toSeq == ref
        val monotone = got.map(_._2).sliding(2).forall {
          case Array(a, b) => a <= b
          case _ => true
        }
        matches && monotone
      }
    }

  property("pipelineFunnel: docs_out monotone non-increasing, " +
      "docs_in chains, tokens_out <= stage-0 budget") =
    forAllNoShrink(Gen.listOfN(30, for {
      t <- Gen.chooseNum(0L, 20L); f <- Gen.oneOf(true, false)
    } yield (t, f))) { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((t, f), i) =>
        (i.toLong, t, f) }
      val df = rows.toDF("id", "tok", "flag")
      val out = graft.llm.PipelineOps.pipelineFunnel(df, Seq(
        ("a", col("tok") >= 3L), ("b", col("flag")),
        ("c", col("tok") <= 15L)), col("tok"))
        .orderBy("stage_idx").collect()
      val chain = out.sliding(2).forall {
        case Array(x, y) => y.getLong(2) == x.getLong(3)
        case _ => true
      }
      val monotone = out.sliding(2).forall {
        case Array(x, y) => y.getLong(3) <= x.getLong(3)
        case _ => true
      }
      val tokMonotone = out.sliding(2).forall {
        case Array(x, y) => y.getLong(5) <= x.getLong(5)
        case _ => true
      }
      out.head.getLong(2) == rows.size && chain && monotone &&
        tokMonotone
    }
}
