package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

import graft.llm.CorpusOps
import graft.ml.{MlOps, ModelSelection}
import graft.stats.StatsOps

/** ScalaCheck invariants for the round-4 operators: laws that must
  * hold for any input regardless of partitioning. */
object PropertiesR4Spec extends Properties("graft-r4") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  property("chunkDocs covers every token contiguously, no gaps") =
    forAllNoShrink(Gen.chooseNum(1, 120), Gen.chooseNum(2, 16),
      Gen.chooseNum(0, 8)) { (n, ct, ov0) =>
      val ov = math.min(ov0, ct - 1)
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val chunks = CorpusOps.chunkDocs(Seq((1L, text)).toDF("id", "t"),
          "t", "id", ct, ov)
        .orderBy("chunk_id")
        .select("start_tok", "n_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val step = ct - ov
      val starts = chunks.map(_._1)
      val covered = chunks.flatMap { case (s, len) => s until (s + len) }
        .toSet
      starts.head == 0L &&
        starts.zip(starts.tail).forall { case (a, b) => b - a == step } &&
        covered == (0L until n).toSet &&
        chunks.forall { case (s, len) => len == math.min(ct, n - s) }
    }

  property("foldOf is deterministic and lands in [0, k)") =
    forAllNoShrink(Gen.listOfN(40, Gen.alphaNumStr.suchThat(_.nonEmpty)),
      Gen.chooseNum(2, 10)) { (keys, k) =>
      val df = keys.distinct.toDF("key")
      val folds = df.select(ModelSelection.foldOf(col("key"), k, "s")
        .as("f")).collect().map(_.getInt(0))
      val again = df.select(ModelSelection.foldOf(col("key"), k, "s")
        .as("f")).collect().map(_.getInt(0))
      folds.forall(f => f >= 0 && f < k) && folds.sameElements(again)
    }

  property("trimmedMean lies within [min, max] and k = floor(frac*n)") =
    forAllNoShrink(Gen.listOfN(30, Gen.chooseNum(-500L, 500L)),
      Gen.chooseNum(0.0, 0.45)) { (vs, frac) =>
      val r = StatsOps.trimmedMean(vs.toDF("v"), "v", frac).collect()(0)
      val tm = r.getAs[Double]("trimmed_mean")
      r.getAs[Long]("n") == vs.size &&
        r.getAs[Long]("k_each") == math.floor(frac * vs.size).toLong &&
        tm >= vs.min.toDouble && tm <= vs.max.toDouble
    }

  property("jsonNormalize inverts to_json(struct) exactly") =
    forAllNoShrink(Gen.listOfN(15, for {
      a <- Gen.chooseNum(-1000L, 1000L)
      c <- Gen.alphaNumStr.map(_.take(8))
      e <- Gen.chooseNum(-100, 100).map(_ / 4.0)
    } yield (a, c, e))) { rows =>
      import org.apache.spark.sql.types._
      val df = rows.toDF("a", "c", "e")
      val js = df.select(to_json(struct(col("a"),
        struct(col("c"), col("e")).as("b"))).as("payload"))
      val schema = StructType(Seq(
        StructField("a", LongType),
        StructField("b", StructType(Seq(
          StructField("c", StringType),
          StructField("e", DoubleType))))))
      val back = graft.sources.Sources.jsonNormalize(js, "payload",
          schema)
        .select(col("a"), col("`b.c`").as("c"), col("`b.e`").as("e"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getDouble(2))).sorted
      back.toSeq == rows.sorted
    }

  property("betweenTime range and its complement partition the rows") =
    forAllNoShrink(Gen.listOfN(25, Gen.chooseNum(0, 86399)),
      Gen.chooseNum(0, 86398), Gen.chooseNum(0, 86398)) {
      (secsOfDay, s0, e0) =>
      val fmt = (s: Int) => f"${s / 3600}%02d:${s % 3600 / 60}%02d:${s % 60}%02d"
      val df = secsOfDay.map(s =>
        java.sql.Timestamp.valueOf(s"2024-05-05 ${fmt(s)}")).toDF("ts")
      val (s, e) = (s0, e0)
      // degenerate: when e = s-1 (mod day) the range is the whole day
      // and the "complement" is too — skip that single configuration
      if ((e + 1) % 86400 == s) true
      else {
        // complement of [s, e] in seconds-of-day is [e+1, s-1] (wrap)
        val inRange = df.filter(graft.functions.DtOps.betweenTime(
          col("ts"), fmt(s), fmt(e))).count()
        val comp = df.filter(graft.functions.DtOps.betweenTime(
          col("ts"), fmt((e + 1) % 86400), fmt((s + 86399) % 86400)))
          .count()
        inRange + comp == secsOfDay.size
      }
    }

  property("imputeByGroup preserves rows and leaves no nulls behind") =
    forAllNoShrink(Gen.listOfN(30, for {
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.option(Gen.chooseNum(-100L, 100L))
    } yield (k, v)).suchThat(_.exists(_._2.isDefined))) { rows =>
      val df = rows.toDF("k", "v")
      val out = MlOps.imputeByGroup(df, "v", Seq("k"))
      out.count() == rows.size &&
        out.filter(col("v").isNull).count() == 0L
    }

  property("triangleCounts matches brute force on random small graphs") =
    forAllNoShrink(Gen.chooseNum(3, 9), Gen.listOfN(24,
      Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(0, 8)))) { (nv, es0) =>
      val es = es0.map { case (a, b) => (a.toLong % nv, b.toLong % nv) }
        .filter { case (a, b) => a != b }
      es.isEmpty || {
        val und = es.map { case (a, b) => (a min b, a max b) }.toSet
        def adj(x: Long, y: Long) = und.contains((x min y, x max y))
        val verts = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
        val brute = verts.map { v =>
          v -> verts.combinations(2).count { case Seq(a, b) =>
            a != v && b != v && adj(v, a) && adj(v, b) && adj(a, b) }
        }.toMap
        val got = graft.graphops.GraphOps.triangleCounts(
            es.toDF("src", "dst")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        verts.forall(v => got.getOrElse(v, 0L) == brute(v).toLong)
      }
    }

  property("corrWith(df, df) on itself is 1 for non-constant columns") =
    forAllNoShrink(Gen.listOfN(25, Gen.zip(Gen.chooseNum(-50L, 50L),
      Gen.chooseNum(-50L, 50L)))) { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((a, b), i) =>
        (i.toLong, a, b) }
      val df = rows.toDF("k", "x", "y")
      val distinctX = rows.map(_._2).distinct.size > 1
      val distinctY = rows.map(_._3).distinct.size > 1
      val m = StatsOps.corrWith(df, df, Seq("k"), Seq("x", "y"))
        .collect().map(r => r.getString(0) ->
          Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
      (m("x"), m("y")) match {
        case (mx, my) =>
          (!distinctX || mx.contains(1.0)) &&
            (!distinctY || my.contains(1.0)) &&
            (distinctX || mx.isEmpty) && (distinctY || my.isEmpty)
      }
    }

  property("quantizeInt8 codes bounded and monotone per dimension") =
    forAllNoShrink(Gen.listOfN(12, Gen.listOfN(4,
      Gen.chooseNum(-100, 100).map(_ / 7.0f)))) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val rows = graft.llm.Similarity.quantizeInt8(df, "v", "id")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val ok = rows.values.forall(cs =>
        cs.length == 4 && cs.forall(c => c >= 0 && c <= 255))
      // monotone: higher raw value in a dim never gets a lower code
      val mono = (0 until 4).forall { d =>
        val pairs = vecs.zipWithIndex.map { case (v, i) =>
          (v(d), rows(i.toLong)(d)) }.sortBy(_._1)
        pairs.zip(pairs.tail).forall { case ((_, c1), (_, c2)) =>
          c1 <= c2 }
      }
      ok && mono
    }
}
