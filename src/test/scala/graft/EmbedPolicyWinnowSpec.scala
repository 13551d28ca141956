package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, EmbeddingStats}
import graft.ml.MlMetrics

/** Round-7 additions: embedding class separability, off-policy
  * evaluation (IPS/SNIPS), winnowing fingerprints. */
class EmbedPolicyWinnowSpec extends SparkSpecBase {
  import spark.implicits._

  test("classSeparability: separating dim scores F >> noise dim") {
    val df = Seq(
      (0, Array(0.0f, 5.0f)), (0, Array(0.0f, 7.0f)),
      (1, Array(1.0f, 5.0f)), (1, Array(1.0f, 7.0f)))
      .toDF("label", "embedding")
    val r = EmbeddingStats
      .classSeparability(df, "embedding", "label")
      .orderBy("dim").collect()
    r.length shouldBe 2
    val d1 = r(0)
    d1.getAs[Long]("n") shouldBe 4L
    d1.getAs[Long]("k") shouldBe 2L
    // dim 1 separates perfectly: SSB = 1, SSW = 0 -> F undefined
    approx(d1.getAs[Double]("ssb"), 1.0, 1e-8)
    approx(d1.getAs[Double]("ssw"), 0.0, 1e-8)
    d1.isNullAt(d1.fieldIndex("f_stat")) shouldBe true
    // dim 2 has identical class means: SSB = 0, SSW = 4 -> F = 0
    val d2 = r(1)
    approx(d2.getAs[Double]("ssb"), 0.0, 1e-8)
    approx(d2.getAs[Double]("ssw"), 4.0, 1e-8)
    approx(d2.getAs[Double]("f_stat"), 0.0, 1e-8)
  }

  test("labelCentroids: exact per-label per-dim means") {
    val df = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 4.0f)),
      (1, Array(10.0f, 20.0f)))
      .toDF("label", "embedding")
    val c = EmbeddingStats.labelCentroids(df, "embedding", "label")
      .orderBy("lbl", "dim").collect()
      .map(x => ((x.getInt(0), x.getInt(1)), x.getAs[Double]("centroid")))
      .toMap
    approx(c((0, 1)), 2.0)
    approx(c((0, 2)), 3.0)
    approx(c((1, 1)), 10.0)
    approx(c((1, 2)), 20.0)
  }

  test("ipsEvaluation: hand-computed IPS/SNIPS/ESS") {
    val df = Seq(
      (1L, 0.5, 1L, 1L), // matched, w=2, wr=2
      (0L, 0.25, 1L, 1L), // not matched
      (2L, 0.25, 0L, 2L), // matched, w=4, wr=0
      (3L, 0.5, 1L, 1L)) // not matched
      .toDF("act", "prop", "reward", "tgt")
    val r = MlMetrics
      .ipsEvaluation(df, "act", "prop", "reward", "tgt")
      .collect()(0)
    r.getAs[Long]("n") shouldBe 4L
    r.getAs[Long]("n_matched") shouldBe 2L
    approx(r.getAs[Double]("v_ips"), 2.0 / 4)
    approx(r.getAs[Double]("v_snips"), 2.0 / 6)
    approx(r.getAs[Double]("ess"), 36.0 / 20)
  }

  test("ipsEvaluation: uniform logging + always-matched policy " +
    "recovers the mean reward exactly") {
    val df = (0 until 100)
      .map(i => (1L, 0.25, (i % 3).toLong, 1L))
      .toDF("act", "prop", "reward", "tgt")
    val r = MlMetrics
      .ipsEvaluation(df, "act", "prop", "reward", "tgt")
      .collect()(0)
    // w = 4 for every row: SNIPS = mean(r); ESS = n
    approx(r.getAs[Double]("v_snips"),
      (0 until 100).map(_ % 3).sum / 100.0)
    approx(r.getAs[Double]("ess"), 100.0)
  }

  /** Pure-Scala replay of the masked polynomial + rightmost-min
    * winnowing, for bit-level comparison. */
  private def winnowReplay(t: String, k: Int, w: Int): Set[(Long, Long)] = {
    val mask = (1L << 40) - 1
    val hs = (0 to t.length - k).map { i =>
      t.substring(i, i + k).foldLeft(549755813881L)((acc, c) =>
        (31 * acc + c.toInt) & mask)
    }
    (0 to hs.length - w).flatMap { p =>
      val win = hs.slice(p, p + w)
      val m = win.min
      val pos = p + win.lastIndexOf(m) + 1 // 1-based k-gram index
      Some((pos.toLong, m))
    }.toSet
  }

  test("winnowingFingerprints matches the scalar replay bit-for-bit") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val got = DedupOracle.winnowingFingerprints(docs, "doc_id", "text",
        k = 8, w = 4)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map(r => (r.getLong(1), r.getLong(2))).toSet
      }
    got(1L) shouldBe winnowReplay(
      "the quick brown fox jumps over the lazy dog", 8, 4)
    got(2L) shouldBe winnowReplay(
      "pack my box with five dozen liquor jugs", 8, 4)
  }

  test("winnowing guarantee: docs sharing a substring of length >= " +
    "w + k - 1 share a fingerprint") {
    val shared = "zzcommonsharedpassagezz" // 23 chars >= 8 + 4 - 1
    val docs = Seq(
      (1L, "alpha alpha " + shared + " tail one xxxxx"),
      (2L, "completely different head " + shared + " yyy"))
      .toDF("doc_id", "text")
    val fps = DedupOracle.winnowingFingerprints(docs, "doc_id", "text",
      k = 8, w = 4)
    val j = fps.filter(col("doc_id") === 1L).select("fp")
      .intersect(fps.filter(col("doc_id") === 2L).select("fp"))
    j.count() should be >= 1L
  }

  test("drEvaluation: hand-computed doubly-robust value") {
    // q̂(0) = q̂(1) = 0.5 from the log itself
    val df = Seq(
      (1L, 0.5, 1L, 1L), // matched: 0.5 + (1-0.5)/0.5   = 1.5
      (0L, 0.5, 0L, 1L), // unmatched: q̂(1)              = 0.5
      (1L, 0.25, 0L, 0L), // unmatched: q̂(0)             = 0.5
      (0L, 0.25, 1L, 0L)) // matched: 0.5 + (1-0.5)/0.25 = 2.5
      .toDF("act", "prop", "reward", "tgt")
    val r = MlMetrics
      .drEvaluation(df, "act", "prop", "reward", "tgt")
      .collect()(0)
    r.getAs[Long]("n") shouldBe 4L
    r.getAs[Long]("n_matched") shouldBe 2L
    approx(r.getAs[Double]("v_dr"), 5.0 / 4)
  }

  test("drEvaluation: a perfect reward model zeroes the IPS " +
    "correction — v_dr is exactly the direct estimate") {
    // reward depends only on the action -> q̂(a) = r exactly
    val df = (0 until 200).map { i =>
      val act = (i % 2).toLong
      val tgt = (i % 4 / 2).toLong
      (act, if (i % 3 == 0) 0.25 else 0.5, act, tgt)
    }.toDF("act", "prop", "reward", "tgt")
    val r = MlMetrics
      .drEvaluation(df, "act", "prop", "reward", "tgt")
      .collect()(0)
    // direct estimate: mean of q̂(tgt) = fraction of tgt = 1
    approx(r.getAs[Double]("v_dr"), 0.5, 1e-9)
  }

  test("winnowingPairs finds the shared passage and caps " +
    "boilerplate fingerprints") {
    val shared = "zzcommonsharedpassagewithlength"
    val docs = Seq(
      (1L, "alpha head " + shared + " one tail xxxxxxx"),
      (2L, "different beginning " + shared + " yy end"),
      (3L, "nothing in common here at all qqqqqqqqq"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(docs, "doc_id", "text",
      k = 8, w = 4, minShared = 2, maxDf = 100)
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got should contain((1L, 2L))
    got.exists(p => p._1 == 3L || p._2 == 3L) shouldBe false
    // boilerplate cap: 5 identical docs, maxDf = 3 -> every fp
    // exceeds the document-frequency cap -> no pairs at all
    val boiler = (1L to 5L)
      .map(i => (i, "identical boilerplate text shared by all"))
      .toDF("doc_id", "text")
    Dedup.winnowingPairs(boiler, "doc_id", "text",
      k = 8, w = 4, minShared = 1, maxDf = 3).count() shouldBe 0L
  }

  test("negbinMoM: hand-computed NB2 moments; null when not " +
    "overdispersed") {
    val df = Seq(("k", 1L), ("k", 2L), ("k", 3L), ("k", 6L),
      ("u", 2L), ("u", 2L), ("u", 2L))
      .toDF("key", "c")
    val r = graft.stats.StatsOps.negbinMoM(df, Seq("key"), "c")
      .collect().map(x => x.getString(0) -> x).toMap
    val kk = r("k")
    val varS = 56.0 / 12
    val rr = 9.0 / (varS - 3.0)
    approx(kk.getAs[Double]("r_hat"), rr, 1e-9)
    approx(kk.getAs[Double]("p_hat"), rr / (rr + 3.0), 1e-9)
    // constant counts: variance 0 <= mean -> NB undefined
    r("u").isNullAt(r("u").fieldIndex("r_hat")) shouldBe true
  }

  test("winnowingFingerprintsFast (native expression) is " +
    "bit-identical to the SQL-lambda form, including non-ASCII") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "aaaaaaaaaaaaaaaaaaaaaa"), // all-ties stress
      (3L, "abcabcabcabcabcabcabcabc"), // periodic
      (4L, "héllo wörld ünïcode çôdepoints in the mix here"),
      (5L, "日本語のテキストでも同一のコードポイント領域で一致する"))
      .toDF("doc_id", "text")
    for ((k, w) <- Seq((8, 4), (5, 3), (2, 1), (4, 8))) {
      val slow = DedupOracle.winnowingFingerprints(docs, "doc_id", "text",
        k, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val fast = Dedup.winnowingFingerprintsFast(docs, "doc_id",
        "text", k, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      withClue(s"k=$k w=$w: ") { fast shouldBe slow }
    }
  }

  test("winnow_fps registers through GraftExtensions-style SQL use") {
    graft.sqlext.WinnowFingerprints.register(spark)
    val r = spark.sql(
      "SELECT winnow_fps('the quick brown fox jumps', 8, 4) AS v")
      .collect()(0).getSeq[Long](0)
    r should not be empty
    all(r.map(_ & ((1L << 40) - 1))) should be >= 0L
  }

  test("winnowing: too-short documents yield no fingerprints") {
    val docs = Seq((1L, "tiny"), (2L, "exactly11ch"))
      .toDF("doc_id", "text")
    DedupOracle.winnowingFingerprints(docs, "doc_id", "text", k = 8, w = 4)
      .groupBy("doc_id").count().collect()
      .map(_.getLong(0)).toSet shouldBe Set(2L)
  }
}
