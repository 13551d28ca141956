package graft

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.functions.TextFunctions
import graft.llm.Dedup
import graft.sqlext.WordShingles

/** Differential spec of the native word-shingle kernels
  * (`word_ngrams`, `minhash_sig`) and every rewired caller against
  * the SQL-lambda and window forms they replaced, which live on here
  * as oracles. Every case runs twice: fully generated code
  * (CODEGEN_ONLY, whole-stage on) and fully interpreted (NO_CODEGEN,
  * whole-stage off), so both `doGenCode` and `eval` are pinned. */
class WordShinglesSpec extends SparkSpecBase {

  // ------------------------------------------------------------ oracles

  private def oldTokens(t: Column): Column =
    filter(split(trim(t), "\\s+"), x => F.length(x) > 0)

  private def oldWordNgrams(text: Column, n: Int): Column = {
    val ts = oldTokens(lower(text))
    when(F.size(ts) >= n,
      array_distinct(transform(sequence(lit(1), F.size(ts) - (n - 1)),
        i => array_join(slice(ts, i, lit(n)), " "))))
      .otherwise(array())
  }

  /** The multiplicity-preserving form (CorpusOps.rawBigrams at n = 2). */
  private def oldPositionalNgrams(text: Column, n: Int): Column = {
    val ts = oldTokens(lower(text))
    when(F.size(ts) >= n,
      transform(sequence(lit(1), F.size(ts) - (n - 1)),
        i => array_join(slice(ts, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** posexplode + lead-window shingling + numHashes min(xxhash64)
    * aggregates: (id, h0 .. h{numHashes-1}). */
  private def oldMinhashTable(df: DataFrame, numHashes: Int,
      k: Int): DataFrame = {
    val base = df.filter(col("text").isNotNull)
      .select(col("id"), oldTokens(lower(col("text"))).as("__tk__"))
    val w = Window.partitionBy("id").orderBy("__p__")
    val leadCols = (1 until k).map(j =>
      lead(col("__t__"), j).over(w).as(s"__l${j}__"))
    val longSh = base.filter(F.size(col("__tk__")) >= k)
      .select(col("id"),
        posexplode(col("__tk__")).as(Seq("__p__", "__t__")))
      .select((col("id") +: col("__t__") +: leadCols): _*)
      .filter(col(s"__l${k - 1}__").isNotNull)
      .select(col("id"), concat_ws(" ",
        col("__t__") +: (1 until k).map(j => col(s"__l${j}__")): _*)
        .as("__s__"))
    val shortSh = base.filter(F.size(col("__tk__")) < k)
      .select(col("id"), array_join(col("__tk__"), " ").as("__s__"))
    longSh.union(shortSh).groupBy("id")
      .agg(min(xxhash64(lit(0), col("__s__"))).as("h0"),
        (1 until numHashes).map(seed =>
          min(xxhash64(lit(seed), col("__s__"))).as(s"h$seed")): _*)
  }

  private def oldBanded(df: DataFrame, numHashes: Int = 12,
      bands: Int = 4, k: Int = 3): DataFrame = {
    val r = numHashes / bands
    oldMinhashTable(df, numHashes, k)
      .select(col("id"), posexplode(array((0 until bands).map { b =>
        xxhash64((b * r until (b + 1) * r).map(i => col(s"h$i")): _*)
      }: _*)))
      .toDF("id", "band", "bucket")
  }

  private def oldLshPairs(df: DataFrame, maxBucket: Long): DataFrame = {
    val banded = oldBanded(df)
      .withColumn("__bc__", count(lit(1))
        .over(Window.partitionBy("band", "bucket")))
      .filter(col("__bc__") <= maxBucket).drop("__bc__")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  private def oldDuplicateSpans(docs: DataFrame, w: Int): DataFrame = {
    val toks = docs.select(col("id").as("doc_id"),
      oldTokens(lower(col("text"))).as("tk"))
    val sh = toks.filter(F.size(col("tk")) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), F.size(col("tk")) - (w - 1)),
          i => md5(array_join(slice(col("tk"), i, lit(w)), " ")))))
      .toDF("doc_id", "pos", "h")
    val dup = sh
      .withColumn("f", min(struct(col("doc_id"), col("pos")))
        .over(Window.partitionBy("h")))
      .filter(!(col("doc_id") === col("f.doc_id") &&
        col("pos") === col("f.pos")))
      .select("doc_id", "pos")
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("brk",
        when(lag(col("pos"), 1).over(wOrd).isNull ||
          col("pos") - lag(col("pos"), 1).over(wOrd) =!= 1, lit(1))
          .otherwise(lit(0)))
      .withColumn("g", sum(col("brk")).over(
        Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "g")
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + (w - 1)).cast("long").as("end_tok"),
        count(lit(1)).cast("long").as("n_shingles"))
      .drop("g")
  }

  // ------------------------------------------------------------ inputs

  /** The LlmOpsSpec corpus. */
  private val llmDocs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox leaps over the lazy dog",
    "completely different content about spark engines",
    "dog lazy the over jumps fox brown quick the")

  private val edgeTexts = Seq(
    "\n\tleading newline and tab",
    "\t\n  \nleading whitespace only before\ttokens",
    "vertical\u000Btab form\ffeed carriage\rreturn\r\nline",
    "runs   of     spaces    between   words   ",
    "   ",
    "\u000B\f\r",
    "nbsp\u00A0stays\u00A0inside one token",
    "\u00A0 lone nbsp token \u00A0",
    "Café naïve RÉSUMÉ Ünïcödé façade",
    "日本語 テキスト 中文 字符 한국어 텍스트",
    "emoji 😀 🎉 mixed 👍🏽 text 👨‍👩‍👧 family",
    "MiXeD CaSe WoRdS mixed case words",
    "", null, "one", "two words", "three word text",
    "a b a b a b a b a b",
    "x y z x y z x y z x y z",
    "the the the the the the the the the")

  /** Seeded pseudo-random texts over a tiny vocabulary and mixed
    * separators: dense repeats, shared spans across docs. */
  private val randomTexts = {
    val rnd = new scala.util.Random(20261017)
    val vocab = Seq("a", "b", "the", "Fox", "naïve", "日本", "😀",
      "x\u00A0y", "dog", "DOG")
    val seps = Seq(" ", "  ", "\t", "\n", "\r\n", "\u000B", "\f")
    (1 to 120).map { _ =>
      val n = rnd.nextInt(30)
      val body = (0 until n).map { _ =>
        vocab(rnd.nextInt(vocab.size)) + seps(rnd.nextInt(seps.size))
      }.mkString
      (if (rnd.nextBoolean()) seps(rnd.nextInt(seps.size)) else "") + body
    }
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  /** An RDD scan, not a LocalRelation: the optimizer cannot fold the
    * expressions on the driver, so they run in the mode under test. */
  private def frame(texts: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong + 1, t) }, 3),
      schema)

  private lazy val corpus = frame(llmDocs ++ edgeTexts ++ randomTexts)
  /** A NOT NULL text column: the old forms' declared nullability
    * follows the text's, and so must the kernel's. */
  private lazy val notNullCorpus = spark.createDataFrame(
    corpus.filter(col("text").isNotNull).rdd,
    StructType(schema.fields.map(_.copy(nullable = false))))
  private lazy val llmCorpus = frame(llmDocs)

  private val modes = Seq("CODEGEN_ONLY", "NO_CODEGEN")

  private def inMode(mode: String)(body: => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.factoryMode",
      "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), mode)
    spark.conf.set(keys(1), mode == "CODEGEN_ONLY")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** Same column schema (type, containsNull, nullable) and rows. */
  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    got.schema shouldBe want.schema
    sortedRows(got) shouldBe sortedRows(want)
  }

  private def perId(c: Column, df: DataFrame = corpus): DataFrame =
    df.select(col("id"), c.as("v"))

  // -------------------------------------------------------------- specs

  for (mode <- modes) {
    test(s"tokens: array_remove form equals the filter lambda [$mode]") {
      inMode(mode) {
        assertSame(perId(TextFunctions.tokens(col("text"))),
          perId(oldTokens(col("text"))))
        for (df <- Seq(corpus, notNullCorpus))
          assertSame(perId(TextFunctions.tokens(lower(col("text"))), df),
            perId(oldTokens(lower(col("text"))), df))
      }
    }

    test(s"word_ngrams distinct equals the transform/slice form [$mode]") {
      inMode(mode) {
        for (n <- Seq(1, 2, 3, 8); df <- Seq(corpus, notNullCorpus))
          assertSame(perId(TextFunctions.wordNgrams(col("text"), n), df),
            perId(oldWordNgrams(col("text"), n), df))
      }
    }

    test(s"word_ngrams positional equals the rawBigrams form [$mode]") {
      inMode(mode) {
        for (n <- Seq(1, 2, 3, 8))
          sortedRows(perId(WordShingles.word_ngrams(lower(col("text")), n,
            distinct = false))) shouldBe
            sortedRows(perId(oldPositionalNgrams(col("text"), n)))
      }
    }

    test(s"minhash_sig equals the lead-window min(xxhash64) table [$mode]") {
      inMode(mode) {
        for ((h, k) <- Seq((12, 3), (5, 2), (7, 8))) {
          val got = perId(WordShingles.minhash_sig(lower(col("text")), h,
            k))
          got.schema("v").dataType.simpleString shouldBe "array<bigint>"
          val want = oldMinhashTable(corpus, h, k)
            .select(col("id"), array((0 until h).map(i => col(s"h$i")): _*)
              .as("v"))
          sortedRows(got.filter(col("v").isNotNull)) shouldBe
            sortedRows(want)
          // a null text has no signature
          got.filter(col("v").isNull).count() shouldBe
            corpus.filter(col("text").isNull).count()
        }
      }
    }

    test(s"bandedSignatures, minhashLshPairsFast and duplicateSpans " +
        s"equal their old plans [$mode]") {
      inMode(mode) {
        for (df <- Seq(llmCorpus, corpus)) {
          assertSame(Dedup.bandedSignatures(df, "text", "id"), oldBanded(df))
          for (cap <- Seq(1000L, 3L))
            assertSame(Dedup.minhashLshPairsFast(df, "text", "id",
              maxBucket = cap), oldLshPairs(df, cap))
          for (w <- Seq(2, 3, 8))
            assertSame(Dedup.duplicateSpans(df, "text", "id", w),
              oldDuplicateSpans(df, w))
        }
        // the LlmOpsSpec corpus is not vacuous: its exact copies
        // (ids 1, 2) pair, and all of id 2 is one duplicated span
        sortedRows(Dedup.minhashLshPairsFast(llmCorpus, "text", "id")) should
          contain("[1,2]")
        sortedRows(Dedup.duplicateSpans(llmCorpus, "text", "id", 3)) should
          contain("[2,0,8,7]")
      }
    }

    test(s"bandedSignatures bands every row, also under a repeated or " +
        s"null id, like the md5 twin [$mode]") {
      inMode(mode) {
        val texts = Seq(
          (Option(1L), "the quick brown fox jumps"),
          (Option(1L), "completely different words here"),
          (Option(1L), "the quick brown fox jumps"),
          (Option.empty[Long], "a null id row"),
          (Option.empty[Long], "another null id row text"),
          (Option(2L), "a unique id row"))
        val nullableId = StructType(Seq(
          StructField("id", LongType, nullable = true),
          StructField("text", StringType, nullable = true)))
        def rows(ts: Seq[(Option[Long], String)]): DataFrame =
          spark.createDataFrame(spark.sparkContext.parallelize(
            ts.map { case (i, t) => Row(i.map(Long.box).orNull, t) }, 2), nullableId)
        for (fast <- Seq(true, false)) {
          val all = Dedup.bandedSignatures(rows(texts), "text", "id",
            fast = fast)
          // each row's band rows are exactly those of its text alone
          sortedRows(all) shouldBe texts.flatMap(r => sortedRows(
            Dedup.bandedSignatures(rows(Seq(r)), "text", "id",
              fast = fast))).sorted
        }
        // one set of band rows per input row, the same (id, band)
        // multiset as the md5 twin: 6 rows x 4 bands
        val fastIdBand = sortedRows(Dedup.bandedSignatures(rows(texts),
          "text", "id").select("id", "band"))
        fastIdBand.size shouldBe 24
        fastIdBand shouldBe sortedRows(Dedup.bandedSignatures(rows(texts),
          "text", "id", fast = false).select("id", "band"))
      }
    }
  }

  test("word_ngrams and minhash_sig resolve from SQL text, through " +
      "register(spark) and through GraftExtensions") {
    import org.apache.spark.sql.{GraftSqlBridge, SparkSessionExtensions}
    WordShingles.register(spark)
    corpus.createOrReplaceTempView("ws_t")
    val sqlRows = spark.sql("SELECT id, word_ngrams(lower(text), 3, " +
      "true) AS g, word_ngrams(lower(text), 2, false) AS p, " +
      "minhash_sig(lower(text), 12, 3) AS m FROM ws_t")
    val colRows = corpus.select(col("id"),
      WordShingles.word_ngrams(lower(col("text")), 3, distinct = true)
        .as("g"),
      WordShingles.word_ngrams(lower(col("text")), 2, distinct = false)
        .as("p"),
      WordShingles.minhash_sig(lower(col("text")), 12, 3).as("m"))
    assertSame(sqlRows, colRows)
    // the spark.sql.extensions path
    val ext = new SparkSessionExtensions
    new graft.sqlext.GraftExtensions().apply(ext)
    val s2 = spark.newSession()
    GraftSqlBridge.applyInjectedFunctions(ext, s2)
    s2.sql("SELECT word_ngrams('A b\tc  d', 2, true) AS g")
      .head().getSeq[String](0) shouldBe Seq("A b", "b c", "c d")
    s2.sql("SELECT size(minhash_sig('a b c', 4, CAST(2 AS BIGINT))) AS n")
      .head().getInt(0) shouldBe 4
    // scalar arguments are validated at analysis time
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    def rejects(q: String, msg: String): Unit = {
      val err = intercept[Throwable](s2.sql(q).collect())
      assert(messages(err).exists(_.contains(msg)),
        s"$q: ${messages(err).mkString(" | ")}")
    }
    rejects("SELECT word_ngrams(v, n, true) FROM (SELECT 'a b' AS v, " +
      "2 AS n)", "must be an integer literal")
    rejects("SELECT word_ngrams('a b', 2, 'yes')",
      "must be a boolean literal")
    rejects("SELECT minhash_sig('a b', 12)", "takes 3 arguments")
  }
}
