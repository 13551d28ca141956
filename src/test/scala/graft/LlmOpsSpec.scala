package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.llm.{Dedup, DedupPipeline, Similarity}
import graft.sqlext.WordShingles

/** Dedup / similarity / text-analysis operators (north-star extras). */
class LlmOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "a"),
    (2L, "the quick brown fox jumps over the lazy dog", "a"), // exact dup
    (3L, "the quick brown fox leaps over the lazy dog", "a"), // near dup
    (4L, "completely different content about spark engines", "a"),
    (5L, "dog lazy the over jumps fox brown quick the", "b") // reordered
  ).toDF("id", "text", "src")

  test("exact dedup keeps smallest id per identical text") {
    val kept = Dedup.exact(docs, "text", "id")
      .select("id").as[Long].collect().sorted
    kept shouldBe Array(1L, 3L, 4L, 5L)
    val groups = Dedup.exactDupGroups(docs, "text", "id")
    rows(groups) shouldBe Seq(Seq(
      groups.select("text_md5").head().getString(0), 2L, 1L))
  }

  test("fingerprint is word-order insensitive") {
    val fp = docs.select($"id",
      TextFunctions.fingerprint($"text").as("fp"))
      .as[(Long, String)].collect().toMap
    fp(1L) shouldBe fp(5L) // same word multiset, different order
    fp(1L) should not be fp(4L)
  }

  test("minhash LSH surfaces exact and near duplicates") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "id",
      numHashes = 12, bands = 6, shingleSize = 3)
      .as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L)) // identical → identical signature
    // near-dup (1,3) differs in one word: likely but not guaranteed per
    // band; with 6 bands of 2 rows it collides with high probability
    pairs should contain((1L, 3L))
    pairs should not contain ((1L, 4L))
  }

  test("short docs (fewer words than shingle size) do not cross-pair") {
    // pre-guard behavior: empty shingle set → all-null signature → all
    // short docs shared one band bucket and cross-paired spuriously
    val short = Seq(
      (1L, "hi"), (2L, "yo"), (3L, "ok then"),
      (4L, "hi"), // identical short doc → legitimate pair with 1
      (5L, "the quick brown fox jumps high")
    ).toDF("id", "text")
    val pairs = Dedup.minhashLshPairs(short, "text", "id")
      .as[(Long, Long)].collect().toSet
    pairs shouldBe Set((1L, 4L))
  }

  test("null texts never pair: no signature, no shared empty bucket") {
    val withNulls = Seq((1L, "the quick brown fox jumps"),
      (2L, null), (3L, null), (4L, "the quick brown fox jumps"))
      .toDF("id", "text")
    val pairs = Dedup.minhashLshPairs(withNulls, "text", "id")
      .as[(Long, Long)].collect().toSet
    pairs shouldBe Set((1L, 4L)) // null-text docs (2,3) pair with nothing
  }

  test("hot LSH buckets are capped: pathological corpus stays bounded") {
    // 1000 identical docs → one band bucket of 1000 members per band;
    // uncapped that is O(m²) = 499500 join pairs, the skew shape that
    // dominates a 100 TB run. maxBucket drops the bucket entirely.
    val boiler = (1L to 1000L).map(i => (i, "boilerplate header text " +
      "repeated across the whole crawl corpus")).toDF("id", "text")
    Dedup.minhashLshPairs(boiler, "text", "id", maxBucket = 100)
      .count() shouldBe 0L
    Dedup.minhashLshPairs(boiler, "text", "id",
      maxBucket = Long.MaxValue).count() shouldBe 499500L
    Dedup.simhashPairs(boiler, "text", "id", maxBucket = 100)
      .count() shouldBe 0L
  }

  test("fast minhash signature: identical texts identical, stable length") {
    val sig = docs.select($"id",
      WordShingles.minhash_sig(lower($"text"), 12, 3).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    sig(1L) shouldBe sig(2L)
    sig(1L).length shouldBe 12
    sig(1L) should not be sig(4L)
  }

  test("portable 48-bit simhash: identical equal, near-dups close") {
    val sims = docs.select($"id",
      Dedup.simhash48Portable($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    sims(1L) shouldBe sims(2L)
    sims.values.foreach { s =>
      s should be >= 0L
      s should be < (1L << 48)
    }
    java.lang.Long.bitCount(sims(1L) ^ sims(3L)) should be <= 12
    java.lang.Long.bitCount(sims(1L) ^ sims(4L)) should be > 12
  }

  test("simhash of identical texts has hamming 0; different texts differ") {
    val sims = docs.select($"id", Dedup.simhash64($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    sims(1L) shouldBe sims(2L)
    java.lang.Long.bitCount(sims(1L) ^ sims(4L)) should be > 8
  }

  test("word-set jaccard pairs within blocks") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "id", "src",
      n = 1, threshold = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    pairs((1L, 2L)) shouldBe 1.0
    // 1 vs 3: words {the,quick,brown,fox,jumps/leaps,over,lazy,dog}
    // inter=7 union=9 → 0.777778
    approx(pairs((1L, 3L)), 7.0 / 9.0, 1e-6)
    pairs.keySet should not contain ((1L, 4L))
    pairs.keySet should not contain ((1L, 5L)) // different block
  }

  test("jaccard maxDf drops ubiquitous tokens from the join only") {
    // with maxDf=2, tokens in ≥3 docs of block a (the,quick,brown,fox,
    // over,lazy,dog) leave the postings join; docs 1,2 still share
    // "jumps" (df=2) → inter=1 while union sizes stay 8+8 → 1/15
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "id", "src",
      n = 1, threshold = 0.01, maxDf = 2)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    approx(pairs((1L, 2L)), 1.0 / 15.0, 1e-6)
  }

  test("dedupCorpus collapses exact and transitive near-duplicates") {
    // bands = 12 (one hash per band): doc 3's SHINGLE jaccard vs doc
    // 1 is only 4/10 (one changed word breaks 3 of 7 shingles), so
    // per-band collision is J^rowsPerBand — at the old bands=6 the
    // miss probability was ~35% per hash family (the md5 family
    // happened to collide; xxhash64 happened not to). One row per
    // band makes recall structural (miss 0.6^12 ≈ 0.2%), and the
    // kernel is deterministic so green here is green forever.
    val out = DedupPipeline.dedupCorpus(docs, "text", "id",
      bands = 12, jaccardThreshold = 0.7)
    val rows = out.select("id", "keep", "dup_group")
      .as[(Long, Boolean, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    rows(1L) shouldBe ((true, 1L)) // group representative
    rows(2L)._1 shouldBe false // exact dup of 1
    rows(2L)._2 shouldBe 1L
    rows(3L)._1 shouldBe false // near dup of 1 (jaccard 7/9 ≥ 0.7)
    rows(3L)._2 shouldBe 1L
    rows(4L) shouldBe ((true, 4L)) // unique survives
    // 5 is a word-REORDER of 1: 3-gram shingles all differ, so the
    // order-sensitive minhash pipeline keeps it (by design — the
    // order-insensitive fingerprint dedup is the tool for reorders)
    rows(5L) shouldBe ((true, 5L))
  }

  test("cosine and dot products are exact on known vectors") {
    val df = Seq((1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)),
      (3L, Seq(1.0f, 2.0f), Seq(2.0f, 4.0f)))
      .toDF("id", "a", "b")
    val out = df.select($"id", Similarity.cosine($"a", $"b").as("c"))
      .orderBy("id").as[(Long, Double)].collect().map(_._2)
    approx(out(0), 1.0)
    approx(out(1), 0.0)
    approx(out(2), 1.0)
  }

  test("bruteForceTopK returns k nearest by cosine") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(-1.0f, 0.0f)))
      .toDF("id", "vec")
    val top = Similarity.bruteForceTopK(df, "vec", "id",
      Seq(1.0f, 0.0f), 2).select("id").as[Long].collect()
    top shouldBe Array(1L, 2L)
  }

  test("ivfTopK finds the same neighbors as brute force on separable data") {
    val vecs = (0 until 40).map { i =>
      val base = if (i < 20) 0.0f else 10.0f
      (i.toLong, Seq(base + i * 0.01f, base - i * 0.01f, 1.0f))
    }.toDF("id", "vec")
    val q = Seq(0.1f, -0.1f, 1.0f)
    val brute = Similarity.bruteForceTopK(vecs, "vec", "id", q, 5)
      .select("id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(vecs, "vec", "id", q, 5,
      nLists = 2, nProbe = 1).select("id").as[Long].collect().toSet
    ivf shouldBe brute // probe hits the near cluster
  }

  test("native CosineSimilarity matches the composed form bit-for-bit") {
    val df = (0 until 50).map { i =>
      (i.toLong, (0 until 16).map(j => (math.sin(i * 17 + j) * 3).toFloat),
        (0 until 16).map(j => (math.cos(i * 13 + j) * 2).toFloat))
    }.toDF("id", "a", "b")
    val out = df.select(
      Similarity.cosine($"a", $"b").as("native"),
      Similarity.cosineComposed($"a", $"b").as("composed"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, c) => n shouldBe c } // exact equality
    // length mismatch → null, same as the composed form
    val bad = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    bad.select(Similarity.cosine($"a", $"b")).head().isNullAt(0) shouldBe true
    bad.select(Similarity.cosineComposed($"a", $"b")).head()
      .isNullAt(0) shouldBe true
    // SQL registration path
    graft.sqlext.CosineSimilarity.register(spark)
    df.createOrReplaceTempView("cos_t")
    spark.sql("SELECT cosine_similarity(a, b) FROM cos_t WHERE id = 7")
      .as[Double].head() shouldBe out(7)._1
  }

  test("hyperplaneBucket is deterministic and stable") {
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 2.0f)))
      .toDF("id", "vec")
    val b = df.select(Similarity.hyperplaneBucket($"vec", 8).as("b"))
      .as[Int].collect()
    b(0) shouldBe b(1)
    b(0) should (be >= 0 and be < 256)
  }

  test("portable IVF probing every list equals brute force") {
    val vecs = (1L to 40L).map { i =>
      (i, Seq.tabulate(6)(d =>
        (((i * 23 + d * 11) % 13).toFloat - 6f) / 6f))
    }.toDF("id", "vec")
    val q = Seq.tabulate(6)(d => ((d % 4).toFloat - 1.5f) / 1.5f)
    val brute = Similarity.bruteForceTopK(vecs, "vec", "id", q, 7)
      .as[(Long, Double)].collect()
    // nProbe = nLists probes everything: list assignment must be a
    // true partition of the rows (nothing silently dropped)
    val full = Similarity.ivfTopKPortable(vecs, "vec", "id", q, 7,
        nLists = 4, nProbe = 4)
      .as[(Long, Double)].collect()
    full shouldBe brute
    // a narrower probe returns a subset of the full candidate set
    val narrow = Similarity.ivfTopKPortable(vecs, "vec", "id", q, 40,
        nLists = 4, nProbe = 1).select("id").as[Long].collect().toSet
    val all = Similarity.ivfTopKPortable(vecs, "vec", "id", q, 40,
        nLists = 4, nProbe = 4).select("id").as[Long].collect().toSet
    narrow.subsetOf(all) shouldBe true
    narrow.size should be < all.size
  }

  test("portable LSH buckets agree between any query and its clone") {
    val vecs = (1L to 30L).map { i =>
      (i, Seq.tabulate(8)(d =>
        (((i * 29 + d * 13) % 17).toFloat - 8f) / 8f))
    }
    val query = vecs(4)._2 // an existing vector IS the query
    val df = vecs.toDF("id", "vec")
    val out = Similarity.lshTopKPortable(df, "vec", "id", query, 5,
        planes = 4)
      .as[(Long, Double)].collect()
    // the clone always shares the query's bucket: identical projections
    // give identical signs — so it is returned, at cosine 1, rank 1
    out.head shouldBe ((5L, 1.0))
    // bucket fn deterministic across evaluations
    val b1 = df.select(
      Similarity.hyperplaneBucketPortable($"vec", 6).as("b"))
      .as[Int].collect()
    val b2 = df.select(
      Similarity.hyperplaneBucketPortable($"vec", 6).as("b"))
      .as[Int].collect()
    b1 shouldBe b2
    b1.foreach(b => b should (be >= 0 and be < 64))
  }

  test("multi-table LSH OR-probe candidates are a superset of one table") {
    val vecs = (1L to 40L).map { i =>
      (i, Seq.tabulate(8)(d =>
        (((i * 31 + d * 17) % 19).toFloat - 9f) / 9f))
    }.toDF("id", "vec")
    val query = Seq.tabulate(8)(d => ((d % 5).toFloat - 2f) / 2f)
    def ids(tables: Int): Set[Long] =
      Similarity.lshTopK(vecs, "vec", "id", query, k = 40,
        planes = 4, tables = tables)
        .select("id").as[Long].collect().toSet
    val one = ids(1); val three = ids(3)
    three should contain allElementsOf one
    three.size should be >= one.size
  }

  test("lof flags a planted outlier, inliers stay near 1") {
    // tight cluster around (1, 0, ...) plus one far-off outlier
    val cluster = (1L to 30L).map { i =>
      val eps = i.toFloat / 100f // distinct per point: LOF's duplicate
      (i, Seq(1.0f, eps, 0.1f + eps, 0.0f)) // degeneracy (lrd=inf) is
    } // a documented caveat, not under test here
    val outlier = (99L, Seq(-1.0f, 0.9f, -0.7f, 0.5f))
    val df = (cluster :+ outlier).toDF("id", "vec")
    val scores = Similarity.lof(df, "vec", "id", k = 5, planes = 0)
      .as[(Long, Double)].collect().toMap
    scores(99L) should be > 2.0
    cluster.map(_._1).foreach { id =>
      scores(id) should be < 1.6
    }
  }

  test("language id picks the stopword-heavy language") {
    val df = Seq(
      ("the cat and the dog of a house", "en"),
      ("le chat et le chien est la", "fr"),
      ("el gato y el perro es los", "es"))
      .toDF("text", "expected")
    val out = df.select(TextFunctions.languageId($"text").as("l"),
      $"expected").as[(String, String)].collect()
    out.foreach { case (got, exp) => got shouldBe exp }
  }

  test("tokenCount/shingles/ngrams handle short and empty text") {
    val df = Seq("", "ab", "one two three").toDF("t")
    val asize = org.apache.spark.sql.functions.size(_: org.apache.spark.sql.Column)
    df.select(TextFunctions.tokenCount($"t")).as[Int].collect() shouldBe
      Array(0, 1, 3)
    df.select(asize(TextFunctions.shingles($"t", 3))).as[Int]
      .collect() shouldBe Array(1, 1, 11)
    df.select(asize(TextFunctions.wordNgrams($"t", 2))).as[Int]
      .collect() shouldBe Array(0, 0, 2)
  }

  test("semanticDedup drops planted near-duplicates, keeps first") {
    // two tight groups along different axes + one isolated vector;
    // ids chosen so the quantizer (2 lowest ids) spans both groups
    def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val rows = Seq(
      (1L, vec(1.0, 0.01, 0.0)),   // group A rep (kept, lowest id)
      (2L, vec(0.0, 1.0, 0.02)),   // group B rep (kept)
      (3L, vec(1.0, 0.02, 0.0)),   // ~dup of 1 -> dropped
      (4L, vec(0.99, 0.0, 0.01)),  // ~dup of 1 -> dropped
      (5L, vec(0.0, 0.98, 0.0)),   // ~dup of 2 -> dropped
      (6L, vec(0.0, 0.0, 1.0)))    // isolated -> kept
      .toDF("id", "v")
    val out = Similarity.semanticDedup(rows, "v", "id", nLists = 2,
        simThreshold = 0.95)
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    out(1L) shouldBe true
    out(2L) shouldBe true
    out(3L) shouldBe false
    out(4L) shouldBe false
    out(5L) shouldBe false
    out(6L) shouldBe true
    // idempotent: running on the kept set drops nothing further
    val kept = Similarity.semanticDedup(rows, "v", "id", 2, 0.95)
      .filter($"keep")
    val again = Similarity.semanticDedup(
      rows.join(kept.select("id"), "id"), "v", "id", 2, 0.95)
    again.filter(!$"keep").count() shouldBe 0L
  }

  test("duplicateSpans finds maximal cross-doc duplicated runs") {
    // doc 1 is the source; doc 2 repeats tokens 10..21 of doc 1 at its
    // positions 5..16 plus an unrelated tail; doc 3 is clean
    val src = (0 until 40).map(i => s"w$i").mkString(" ")
    val copied = (10 to 21).map(i => s"w$i").mkString(" ")
    val d2 = "x0 x1 x2 x3 x4 " + copied + " y0 y1 y2 y3 y4 y5 y6 y7"
    val d3 = (0 until 20).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, src), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val spans = graft.llm.Dedup.duplicateSpans(docs, "text", "doc_id",
        w = 8)
      .select("doc_id", "start_tok", "end_tok", "n_shingles")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the 12 copied tokens at positions 5..16 host 5 duplicated
    // 8-shingles (starts 5..9) merging into ONE span [5, 16]
    spans shouldBe Set((2L, 5L, 16L, 5L))
    // larger w than the duplicated run -> nothing flagged
    graft.llm.Dedup.duplicateSpans(docs, "text", "doc_id", w = 13)
      .count() shouldBe 0L
    // clipping removes exactly the span tokens; clean docs unchanged
    val spansDf = graft.llm.Dedup.duplicateSpans(docs, "text",
      "doc_id", w = 8)
    val clipped = graft.llm.Dedup.clipSpans(docs, spansDf, "text",
        "doc_id")
      .select("doc_id", "n_kept", "text_clean")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    clipped(2L)._1 shouldBe (5 + 12 + 8 - 12).toLong
    clipped(2L)._2 shouldBe
      ("x0 x1 x2 x3 x4 " + "y0 y1 y2 y3 y4 y5 y6 y7")
    clipped(1L)._2 shouldBe src
    clipped(3L)._2 shouldBe d3
  }
}
