package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

import org.apache.spark.sql.functions._
import graft.llm.UrlOps

/** ScalaCheck invariants for the round-8 crawl-curation ops:
  * URL canonicalization laws, Hamilton apportionment exactness,
  * journey conservation, CDC chunk-size bound. */
object PropertiesR8bSpec extends Properties("graft-r8b") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val hostGen: Gen[String] = for {
    labels <- Gen.chooseNum(1, 4)
    parts <- Gen.listOfN(labels,
      Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(6).mkString))
  } yield parts.mkString(".")

  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTP", "HTTPS")
    host <- hostGen
    up <- Gen.oneOf(true, false)
    port <- Gen.oneOf("", ":443", ":80", ":8080")
    path <- Gen.oneOf("", "/", "/a/b", "/Mixed/Case")
    params <- Gen.someOf(Seq("a=1", "z=2", "utm_source=x",
      "ref=rss", "b=3"))
  } yield scheme + "://" + (if (up) host.toUpperCase else host) +
    port + path +
    (if (params.isEmpty) "" else "?" + params.mkString("&"))

  property("canonicalizeUrl is idempotent for any messy URL") =
    forAllNoShrink(Gen.listOfN(10, urlGen)) { urls =>
      urls.nonEmpty ==> {
        val df = urls.toDF("u")
        val once = UrlOps.canonicalizeUrl(col("u"))
        val r = df.select(once.as("c1"))
          .select(col("c1"),
            UrlOps.canonicalizeUrl(col("c1")).as("c2"))
          .collect()
        r.forall(x => x.getString(0) == x.getString(1))
      }
    }

  property("registeredDomain is idempotent and never longer than " +
      "its input") =
    forAllNoShrink(Gen.listOfN(12, hostGen)) { hosts =>
      hosts.nonEmpty ==> {
        val r = hosts.toDF("h")
          .select(UrlOps.registeredDomain(col("h")).as("d"), col("h"))
          .select(col("d"), col("h"),
            UrlOps.registeredDomain(col("d")).as("dd"))
          .collect()
        r.forall(x => x.getString(2) == x.getString(0) &&
          x.getString(0).length <= x.getString(1).length)
      }
    }

  property("apportion hands out EXACTLY the requested total and " +
      "every allocation is base or base+1") =
    forAllNoShrink(for {
      n <- Gen.chooseNum(1, 12)
      ws <- Gen.listOfN(n, Gen.chooseNum(1L, 500L))
      total <- Gen.chooseNum(0L, 1000L)
    } yield (ws, total)) { case (ws, total) =>
      val df = ws.zipWithIndex
        .map { case (w, i) => (s"k$i", w) }.toDF("k", "w")
      val a = UrlOps.apportion(df, "k", "w", total).collect()
      val allocSum = a.map(_.getAs[Long]("alloc")).sum
      allocSum == total && a.forall { r =>
        val bonus = r.getAs[Long]("bonus")
        bonus == 0L || bonus == 1L
      }
    }

  property("apportionDHondt seats sum to the total and are " +
      "monotone in weight") =
    forAllNoShrink(for {
      n <- Gen.chooseNum(1, 8)
      ws <- Gen.listOfN(n, Gen.chooseNum(1L, 300L))
      total <- Gen.chooseNum(1, 60)
    } yield (ws, total)) { case (ws, total) =>
      val df = ws.zipWithIndex
        .map { case (w, i) => (s"k$i", w) }.toDF("k", "w")
      val a = UrlOps.apportionDHondt(df, "k", "w", total)
        .collect().map(r => r.getAs[Long]("w") ->
          r.getAs[Long]("seats"))
      val sorted = a.sortBy(_._1)
      a.map(_._2).sum == total.toLong &&
        // weight-monotone: a strictly heavier key never gets fewer
        // seats; equal weights differ by at most the tie-break seat
        sorted.zip(sorted.drop(1)).forall {
          case ((w1, s1), (w2, s2)) =>
            if (w1 == w2) math.abs(s1 - s2) <= 1 else s1 <= s2
        }
    }

  property("journeyPatterns conserves events (journey length == " +
      "n_events) and is input-order invariant") =
    forAllNoShrink(for {
      n <- Gen.chooseNum(1, 40)
      evs <- Gen.listOfN(n, for {
        u <- Gen.oneOf("u1", "u2", "u3")
        t <- Gen.chooseNum(1L, 20L)
        ty <- Gen.oneOf("view", "click", "purchase", "signup",
          "error")
      } yield (u, t, ty))
    } yield evs.zipWithIndex.map { case ((u, t, ty), i) =>
      (u, t, i.toLong, ty)
    }) { evs =>
      val df = evs.toDF("u", "ts", "id", "ty")
      val shuffled = scala.util.Random.shuffle(evs)
        .toDF("u", "ts", "id", "ty")
      def run(d: org.apache.spark.sql.DataFrame) =
        graft.analytics.EventOps.journeyPatterns(d, "u", "ts",
          "ty", "id", Seq("np" -> "v+p"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getString(2), r.getLong(3))).toSet
      val a = run(df)
      a == run(shuffled) &&
        a.forall { case (_, n, j, _) => j.length.toLong == n }
    }

  property("cdcChunksFast never emits a chunk longer than maxLen " +
      "and chunks tile the document") =
    forAllNoShrink(for {
      base <- Gen.oneOf("ab", "xyz ", "repeat me ")
      reps <- Gen.chooseNum(1, 120)
      tail <- Gen.alphaStr.map(_.take(30))
    } yield base * reps + tail) { text =>
      text.nonEmpty ==> {
        val df = Seq((1L, text)).toDF("id", "t")
        val ch = graft.llm.Dedup
          .cdcChunksFast(df, "id", "t", maxLen = 128)
          .orderBy("chunk_idx").collect()
        val lens = ch.map(_.getAs[Long]("chunk_len"))
        lens.forall(_ <= 128L) && lens.sum == text.length.toLong &&
          ch.head.getAs[Long]("chunk_start") == 1L
      }
    }
}
