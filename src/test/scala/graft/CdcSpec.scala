package graft

import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** Content-defined chunking (q461/q462). */
class CdcSpec extends SparkSpecBase {
  import spark.implicits._

  private val longText = (1 to 60)
    .map(i => s"word$i block${i % 7} tail${i % 11}").mkString(" ")

  test("chunks partition the document exactly: contiguous starts, " +
      "lengths sum to the text length") {
    val df = Seq((1L, longText), (2L, "tiny"), (3L, "x")).toDF("id", "t")
    val ch = DedupOracle.cdcChunks(df, "id", "t")
      .orderBy("doc_id", "chunk_idx").collect()
    val byDoc = ch.groupBy(_.getLong(0))
    for ((id, rows) <- byDoc) {
      val expectLen = if (id == 1L) longText.length
        else if (id == 2L) 4 else 1
      rows.map(_.getLong(3)).sum shouldBe expectLen.toLong
      // contiguity: each chunk starts right after the previous one
      rows.sliding(2).foreach {
        case Array(a, b) =>
          b.getLong(2) shouldBe a.getLong(2) + a.getLong(3)
        case _ =>
      }
      rows.head.getLong(2) shouldBe 1L
    }
    // short docs yield exactly one whole-doc chunk
    byDoc(2L).length shouldBe 1
    byDoc(3L).length shouldBe 1
  }

  test("chunk hashes identify content: reconstructing each chunk's " +
      "substring re-hashes to chunk_md5") {
    val df = Seq((1L, longText)).toDF("id", "t")
    val ok = DedupOracle.cdcChunks(df, "id", "t")
      .withColumn("re", md5(expr(
        "substring('" + longText + "', cast(chunk_start as int), " +
          "cast(chunk_len as int))")))
      .filter(col("re") =!= col("chunk_md5")).count()
    ok shouldBe 0L
  }

  test("insertion resilience: a character inserted near the front " +
      "shifts offsets but most chunk CONTENT re-synchronizes " +
      "(fixed-size chunking would lose everything after the edit)") {
    val edited = longText.substring(0, 5) + "Z" + longText.substring(5)
    val df = Seq((1L, longText), (2L, edited)).toDF("id", "t")
    val ch = DedupOracle.cdcChunks(df, "id", "t").collect()
    val orig = ch.filter(_.getLong(0) == 1L).map(_.getString(4)).toSeq
    val edit = ch.filter(_.getLong(0) == 2L).map(_.getString(4)).toSet
    val shared = orig.count(edit.contains)
    // everything after the first post-edit boundary must match
    shared should be >= orig.length - 3
    shared should be >= 1
    // fixed-size chunking reference: 64-char blocks after the edit
    // all differ (offset shift) — compute and assert the contrast
    def fixedChunks(s: String) =
      s.grouped(64).map(x => java.security.MessageDigest
        .getInstance("MD5").digest(x.getBytes("UTF-8")).toSeq).toSeq
    val fOrig = fixedChunks(longText)
    val fEdit = fixedChunks(edited).toSet
    val fShared = fOrig.count(fEdit.contains)
    fShared should be < shared
  }

  test("cdcChunksFast (codegen kernel) is bit-equal to the portable " +
      "lambda chain on varied strings incl. unicode and short docs") {
    val rng = new scala.util.Random(7)
    val alphabet = "abcdefgh .,!\nxyz" + "é漢"
    val docs = (0 until 120).map { i =>
      val len = rng.nextInt(300)
      (i.toLong, (0 until len)
        .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
    }.filter(_._2.nonEmpty).toDF("id", "t")
    val slow = DedupOracle.cdcChunks(docs, "id", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val fast = Dedup.cdcChunksFast(docs, "id", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    fast shouldBe slow
  }

  test("cdc_cuts is callable from SQL text via GraftExtensions " +
      "(the thrift-server route), cuts ascend and end at doc length") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.sqlext.GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftSqlBridge
      .applyInjectedFunctions(ext, spark)
    val text = "hello world, a longer test string for chunking here"
    val cuts = spark.sql(s"select cdc_cuts('$text', 8, 2, 256) as c")
      .head().getSeq[Long](0)
    cuts.last shouldBe text.length.toLong
    cuts shouldBe cuts.sorted
    cuts.distinct.length shouldBe cuts.length
    // and word_levenshtein reached SQL too
    spark.sql("select word_levenshtein(array('a','b'), array('a'))")
      .head().getInt(0) shouldBe 1
  }

  test("cdcPairs surfaces docs sharing planted passages with a " +
      "conservative jaccard; boilerplate chunks beyond maxDf are " +
      "excluded from pair generation") {
    // long enough that boundaries (expected every ~64 chars) occur
    // INSIDE both the passage and the boilerplate
    val passage =
      "a planted shared passage of meaningful length " * 12
    val boiler = "common footer everywhere " * 10
    val docs = Seq(
      (1L, passage + " unique tail one " + boiler),
      (2L, passage + " unique tail two " + boiler),
      (3L, "completely different content here " + boiler),
      (4L, "another unrelated doc " + boiler)
    ).toDF("id", "t")
    val pairs = Dedup.cdcPairs(docs, "id", "t", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(5))).toMap
    // docs 1-2 share the passage chunks
    pairs.keySet should contain((1L, 2L))
    val (shared, jac) = pairs((1L, 2L))
    shared should be >= 1L
    jac should (be > 0.0 and be <= 1.0)
    // with only 4 docs the boilerplate survives maxDf=64; tighten
    // maxDf below the boilerplate df and 3-4 pairs vanish
    val tight = Dedup.cdcPairs(docs, "id", "t", maxDf = 3,
      minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    tight should not contain ((3L, 4L))
    tight should contain((1L, 2L))
  }

  test("metaDirectives flags robots noindex/nofollow and extracts " +
      "the canonical link ('' when absent)") {
    val df = Seq(
      (1L, "<html><head><meta name=\"robots\" " +
        "content=\"noindex,nofollow\"></head><body>x</body></html>"),
      (2L, "<html><head><meta name=\"robots\" " +
        "content=\"noindex\"><link rel=\"canonical\" " +
        "href=\"https://a.com/c\"></head><body>y</body></html>"),
      (3L, "<html><head></head><body>z</body></html>")
    ).toDF("id", "html")
    val r = graft.llm.UrlOps.metaDirectives(df, "html")
      .collect().map(x => x.getLong(0) ->
        (x.getBoolean(2), x.getBoolean(3), x.getString(4))).toMap
    r(1L) shouldBe ((true, true, ""))
    r(2L) shouldBe ((true, false, "https://a.com/c"))
    r(3L) shouldBe ((false, false, ""))
  }

  test("cdcDedupReport finds planted duplicate content and prices " +
      "the savings") {
    val dup = "shared passage that repeats verbatim across documents " * 4
    val df = Seq((1L, dup), (2L, dup), (3L, dup), (4L, "unique text"))
      .toDF("id", "t")
    val rep = Dedup.cdcDedupReport(df, "id", "t").collect()
    rep.length should be >= 1
    rep.foreach { r =>
      r.getAs[Long]("n_copies") should be >= 2L
      r.getAs[Long]("bytes_saved") shouldBe
        (r.getAs[Long]("n_copies") - 1) * r.getAs[Long]("chunk_len")
    }
    // the three identical docs share ALL their chunks
    val total = rep.map(_.getAs[Long]("n_copies")).sum
    total should be >= 3L
  }
}
