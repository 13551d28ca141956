package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

/** ScalaCheck invariants (our addition beyond the reference's
  * hand-written cases, SURVEY §5): algebraic laws that must hold for
  * any input frame regardless of partitioning. */
object PropertiesSpec extends Properties("graft") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowGen = for {
    k <- Gen.oneOf("a", "b", "c", "d")
    v <- Gen.chooseNum(-1000L, 1000L)
  } yield (k, v)

  private val frameGen = Gen.listOfN(60, rowGen)

  property("groupBy-sum total equals global sum under any partitioning") =
    forAllNoShrink(frameGen, Gen.chooseNum(1, 6)) { (rows, nPart) =>
      val df = rows.toDF("k", "v").repartition(nPart)
      val grouped = df.groupBy("k").sum("v")
        .agg(org.apache.spark.sql.functions.sum("sum(v)"))
        .head().let(r => if (r.isNullAt(0)) 0L else r.getLong(0))
      val total = rows.map(_._2).sum
      grouped == total
    }

  property("inner+anti join row counts partition the left side") =
    forAllNoShrink(frameGen, frameGen) { (l, r) =>
      val left = l.toDF("k", "v")
      val right = r.map(_._1).distinct.toDF("k")
      val semi = left.join(right, Seq("k"), "left_semi").count()
      val anti = left.join(right, Seq("k"), "left_anti").count()
      semi + anti == l.size
    }

  property("union count = sum of counts; distinct ≤ union") =
    forAllNoShrink(frameGen, frameGen) { (a, b) =>
      val da = a.toDF("k", "v"); val db = b.toDF("k", "v")
      val u = da.union(db)
      u.count() == a.size + b.size &&
        u.distinct().count() <= a.size + b.size
    }

  property("orderBy is a permutation: sorted multiset equals input") =
    forAllNoShrink(frameGen) { rows =>
      val sorted = rows.toDF("k", "v")
        .orderBy("v", "k").as[(String, Long)].collect().toList
      sorted == rows.sortBy(t => (t._2, t._1)) ||
        sorted.sorted == rows.sorted // tie-order free comparison
    }

  property("dropDuplicatesKeep keeps exactly one row per key") = {
    import graft.ops.PandasOps._
    forAllNoShrink(frameGen) { rows =>
      rows.isEmpty || {
        val df = rows.zipWithIndex
          .map { case ((k, v), i) => (k, v, i.toLong) }
          .toDF("k", "v", "ord")
        val out = df.dropDuplicatesKeep(Seq("k"), "ord")
        out.count() == rows.map(_._1).distinct.size &&
          // keep=first: the kept ord is the minimum per key
          out.select("k", "ord").as[(String, Long)].collect().forall {
            case (k, ord) =>
              ord == rows.zipWithIndex.filter(_._1._1 == k).map(_._2).min
          }
      }
    }
  }

  property("streaming EWM is bit-equal to the fold for any series") =
    forAllNoShrink(Gen.listOfN(40, Gen.chooseNum(-500, 500)),
      Gen.chooseNum(1, 9)) { (vals, a10) =>
      val alpha = a10 / 10.0
      val rows = vals.zipWithIndex.map { case (v, i) => ("g", i, v.toDouble) }
      val df = rows.toDF("k", "ord", "v")
      // the driver-side fold: the reference both forms must equal
      val want = EwmOracle.run(EwmOracle.MeanAdj, alpha,
        rows.map { case (k, i, v) => EwmOracle.Pt(k, i, Some(v)) })
        .flatten
      val fold = graft.window.RollingOps
        .ewmMean(df, "v", "ord", Seq("k"), alpha, adjust = true, outName = "e")
        .orderBy("ord").select("e").as[Double].collect().toSeq
      val stream = graft.window.RollingOps
        .ewmScalable(df, "v", "ord", Seq("k"), alpha, "mean", true,
          outName = "e")
        .orderBy("ord").select("e").as[Double].collect().toSeq
      // bitwise: identical recurrence
      vals.isEmpty || (fold == want && stream == want)
    }

  property("distinct-value rank sums always total n(n+1)/2") =
    forAllNoShrink(Gen.listOfN(80, Gen.chooseNum(-20L, 20L))) { vals =>
      vals.isEmpty || {
        val df = vals.map(v => (v, "x")).toDF("v", "g")
        val counts = df.groupBy($"v")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("c"))
        val ranks = graft.stats.StatsOps
          .distinctValueRanks(counts, "v", "c")
        val got = ranks.join(counts, "v")
          .select($"v", $"__r__", $"c").as[(Long, Double, Long)].collect()
        val total = got.map { case (_, r, c) => r * c }.sum
        val n = vals.size.toDouble
        // driver-side midrank: #values below v, plus (ties + 1) / 2
        val midrank = vals.distinct.map { v =>
          v -> (vals.count(_ < v) + (vals.count(_ == v) + 1) / 2.0)
        }.toMap
        math.abs(total - n * (n + 1) / 2) < 1e-6 &&
          got.length == midrank.size &&
          got.forall { case (v, r, _) => midrank.get(v).contains(r) }
      }
    }

  property("connectedComponents equals a union-find on random graphs") =
    forAllNoShrink(Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(0L, 24L), Gen.chooseNum(0L, 24L)))) { es =>
      val edges = es.filter { case (a, b) => a != b }
      edges.isEmpty || {
        // driver-side union-find ground truth
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(v => v -> find(v)).toMap
        val got = graft.graphops.GraphOps
          .connectedComponents(edges.toDF("src", "dst"))
          .as[(Long, Long)].collect().toMap
        // same partition AND the label is the component min (find
        // roots are mins because union keeps the smaller id as root)
        got == expected
      }
    }

  property("redactPii is idempotent and leaves clean text unchanged") =
    forAllNoShrink(Gen.listOfN(10, Gen.oneOf(
      "plain words only", "x@y.com mail", "ip 1.2.3.4 here",
      "tel 555-123-4567", "mixed a@b.co 9.9.9.9 555-987-6543"))) {
      texts =>
        val df = texts.toDF("t")
        val once = df.select(graft.functions.TextFunctions
          .redactPii($"t").as("r"))
        val twice = once.select(graft.functions.TextFunctions
          .redactPii($"r").as("r"))
        once.as[String].collect().toSeq ==
          twice.as[String].collect().toSeq &&
          once.filter($"r".contains("@") ||
            $"r".rlike("\\d{3}-\\d{3}-\\d{4}")).count() == 0
    }

  property("saltedJoin equals the plain join for any data and salt count") =
    forAllNoShrink(Gen.listOfN(50, Gen.zip(Gen.chooseNum(0L, 8L),
        Gen.chooseNum(0L, 999L))),
      Gen.listOfN(8, Gen.chooseNum(0L, 12L)),
      Gen.chooseNum(1, 6)) { (factRows, dimKeys, salts) =>
      val fact = factRows.toDF("k", "rid")
      val dim = dimKeys.distinct.toDF("dk")
      val salted = graft.ops.SkewOps
        .saltedJoin(fact, dim, "k", "dk", "rid", salts)
        .select("k", "rid", "dk")
      val plain = fact.join(dim, fact("k") === dim("dk"))
        .select("k", "rid", "dk")
      salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty
    }

  property("stratifiedHashSample with a uniform rate equals hashSample") =
    forAllNoShrink(Gen.listOfN(80, Gen.zip(Gen.chooseNum(0L, 5000L),
        Gen.oneOf("s0", "s1", "s2"))),
      Gen.oneOf(0.0, 0.3, 0.7, 1.0)) { (rows, rate) =>
      val df = rows.distinct.toDF("id", "src")
      val strat = graft.llm.PipelineOps.stratifiedHashSample(df, "id",
          "src", Map("s0" -> rate, "s1" -> rate, "s2" -> rate),
          defaultRate = rate, salt = "p")
        .select("id").as[Long].collect().toSet
      val plain = graft.llm.PipelineOps.hashSample(df, "id", rate, "p")
        .select("id").as[Long].collect().toSet
      strat == plain
    }

  property("decontaminate against itself flags every doc with an n-gram") = {
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val docGen = Gen.chooseNum(0, 7).flatMap(k =>
      Gen.listOfN(k, wordGen).map(_.mkString(" ")))
    forAllNoShrink(Gen.listOfN(12, docGen), Gen.chooseNum(2, 4)) { (texts, n) =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.llm.PipelineOps
        .decontaminate(docs, docs, "text", "doc_id", n, minOverlap = 1L)
        .as[(Long, Long, Boolean)].collect()
      // a doc is contaminated by itself iff it has ≥ n words
      out.forall { case (id, _, flagged) =>
        flagged == (texts(id.toInt).split("\\s+")
          .count(_.nonEmpty) >= n)
      }
    }
  }

  property("combineFirst is idempotent: df.combineFirst(df) == df") = {
    import graft.ops.PandasOps._
    val rowGen2 = for {
      id <- Gen.chooseNum(0L, 40L)
      v <- Gen.option(Gen.chooseNum(-100L, 100L))
      s <- Gen.option(Gen.oneOf("x", "y"))
    } yield (id, v, s)
    forAllNoShrink(Gen.listOfN(30, rowGen2)) { rows0 =>
      val rows = rows0.distinctBy(_._1) // unique key
      val df = rows.toDF("id", "v", "s")
      val out = df.combineFirst(df, Seq("id"))
      out.exceptAll(df).isEmpty && df.exceptAll(out).isEmpty
    }
  }

  property("paragraphDedup keeps each distinct line exactly once") = {
    val lineGen = Gen.listOfN(3,
      Gen.oneOf("aa bb", "cc dd", "ee ff", "gg hh", "ii jj"))
      .map(_.mkString("\n"))
    forAllNoShrink(Gen.listOfN(12, lineGen)) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.llm.PipelineOps
        .paragraphDedup(docs, "text", "doc_id")
      val kept = out.agg(org.apache.spark.sql.functions.sum("n_kept"))
        .head().getLong(0)
      val distinctLines = texts.flatMap(_.split("\n")).distinct.size
      kept == distinctLines.toLong
    }
  }

  property("packSequences conserves tokens and bounds pack starts") = {
    val docGen = for {
      id <- Gen.chooseNum(0L, 10000L)
      words <- Gen.chooseNum(1, 12)
    } yield (id, Seq.fill(words)("w").mkString(" "))
    forAllNoShrink(Gen.listOfN(25, docGen)) { docs0 =>
      val docs = docs0.distinctBy(_._1)
      val df = docs.toDF("doc_id", "text")
      val out = graft.llm.PipelineOps
        .packSequences(df, "text", "doc_id", capacity = 8, buckets = 3)
        .collect()
      val totalTokens = docs.map(_._2.split(" ").length.toLong).sum
      out.map(_.getLong(4)).sum == totalTokens &&
        out.forall(r => r.getLong(2) == r.getLong(3) / 8) &&
        out.length == docs.size
    }
  }

  private implicit class Let[A](private val a: A) {
    def let[B](f: A => B): B = f(a)
  }
}
