package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-level analytics for training-data curation: importance
  * weighting toward a target distribution (the hashed-n-gram DSIR
  * scheme, Xie et al. 2023), cross-source n-gram overlap, Zipf
  * power-law fit, and lexical-diversity statistics. Like the rest of
  * the llm package these are engine-portable (48-bit md5 hashing) so
  * every decision replays exactly in the DuckDB oracle, and every
  * operator is groupBy/join-shaped — no driver state, no global
  * windows over full data. */
object CorpusOps {

  /** Multiplicity-preserving word bigrams (unlike
    * [[TextFunctions.wordNgrams]], which distincts per doc) — DSIR
    * counts features with repetition. */
  private def rawBigrams(text: Column): Column =
    graft.sqlext.WordShingles.word_ngrams(lower(text), 2, distinct = false)

  /** Temperature-scaled domain resampling — the data-mixing
    * primitive of large-LM training recipes (sampling mass ∝ n_k^α,
    * α < 1 upweights small domains/languages): allocate `total`
    * sample slots across the values of `keyCol` proportionally to
    * n_k^α via largest-remainder apportionment
    * ([[UrlOps.apportion]]), then select each key's documents by a
    * deterministic md5-48 lottery (per-key rank ≤ quota).
    *
    * Exactness: α must be dyadic — `alphaNum`/64 — because
    * n^(a/2^m) then factors into a FIXED-ORDER product of iterated
    * square roots (s_i = n^(1/2^i); both sqrt and multiply are
    * exactly-rounded IEEE ops), so the weight doubles are
    * bit-identical in any engine; they enter apportionment as
    * floor(2^20 · n^α) integers and everything downstream is the
    * exact integer Hamilton + rank arithmetic the oracle replays.
    *
    * Quota semantics: alloc_k is a QUOTA, not a guarantee — a key
    * whose corpus is smaller than its quota contributes ALL its docs
    * and the shortfall (visible as alloc vs n_key in the output) is
    * the multi-epoch signal a training recipe turns into repeat
    * factors. Scale: one bounded-key aggregate + one broadcast quota
    * join + one per-key ranking window (partitioned by key — never
    * global). Output: one row per SELECTED doc
    * (key, id, rank, alloc, n_key). */
  def temperatureMix(df: DataFrame, keyCol: String, idCol: String,
      total: Long, alphaNum: Int = 32, salt: String = "tmix"):
      DataFrame = {
    val quota = temperatureQuota(df, keyCol, total, alphaNum)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key")
      .orderBy(UrlOps.h48Long(concat(col("id").cast("string"),
        lit("#"), lit(salt))).asc, col("id").asc)
    df.select(col(keyCol).as("key"), col(idCol).as("id"))
      .join(broadcast(quota), Seq("key"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= col("alloc"))
      .select(col("key"), col("id"), col("rank"), col("alloc"),
        col("n_key"))
  }

  /** Shared quota derivation for the temperature-mix family: per-key
    * counts, the dyadic-α sqrt-product weight (see
    * [[temperatureMix]]'s exactness note), Hamilton apportionment.
    * Returns the bounded key table (key, alloc, n_key). */
  private def temperatureQuota(df: DataFrame, keyCol: String,
      total: Long, alphaNum: Int): DataFrame = {
    require(total >= 0, s"total >= 0, got $total")
    require(alphaNum >= 1 && alphaNum <= 64,
      s"alphaNum in [1,64] (alpha = alphaNum/64), got $alphaNum")
    val keys = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_key"))
    // n^(alphaNum/64) = prod over set bits i (1-based from the
    // binary point) of s_i = n^(1/2^i), multiplied in ascending-i
    // order; alphaNum = 64 is n itself
    val powAlpha: Column =
      if (alphaNum == 64) col("n_key").cast("double")
      else {
        val roots = Iterator.iterate(col("n_key").cast("double"))(
          (x: Column) => sqrt(x)).drop(1).take(6).toSeq // s_1 .. s_6
        val factors = (1 to 6).collect {
          case i if ((alphaNum >> (6 - i)) & 1) == 1 => roots(i - 1)
        }
        factors.reduceLeft(_ * _)
      }
    val weighted = keys.withColumn("__w__",
      floor(powAlpha * lit(1048576.0)).cast("long"))
    UrlOps.apportion(weighted, "key", "__w__", total)
      .join(weighted.select(col("key"), col("n_key")), Seq("key"))
      .select(col("key"), col("alloc"), col("n_key"))
  }

  /** Multi-epoch completion of [[temperatureMix]]: instead of
    * truncating each key at its quota, emit EVERY document with an
    * integer `repeats` count such that Σ repeats per key = alloc_k
    * EXACTLY — the repeat-factor table a training recipe actually
    * consumes (a doc appears `repeats` times in the epoch mix).
    * Rule: repeats = alloc div n + 1 for the first (alloc mod n)
    * docs of the key's md5-48 lottery order, alloc div n for the
    * rest — the largest-remainder idea applied a second time, inside
    * the key. When alloc ≤ n this degenerates to repeats ∈ {0,1}
    * and `repeats = 1` is precisely the [[temperatureMix]]
    * selection; when alloc > n (a small domain upweighted past its
    * corpus) every doc repeats ⌊alloc/n⌋+ times instead of
    * silently truncating. Same exactness story (integer arithmetic
    * on Hamilton quotas + lottery ranks); same plan shape (bounded
    * key aggregate + broadcast join + per-key window). */
  def temperatureMixRepeats(df: DataFrame, keyCol: String,
      idCol: String, total: Long, alphaNum: Int = 32,
      salt: String = "tmix"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key")
      .orderBy(UrlOps.h48Long(concat(col("id").cast("string"),
        lit("#"), lit(salt))).asc, col("id").asc)
    val quota = temperatureQuota(df, keyCol, total, alphaNum)
    df.select(col(keyCol).as("key"), col(idCol).as("id"))
      .join(broadcast(quota), Seq("key"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("repeats",
        expr("alloc div n_key") +
          when(col("rank") <= pmod(col("alloc"), col("n_key")), 1L)
            .otherwise(0L))
      .select(col("key"), col("id"), col("rank"), col("repeats"),
        col("alloc"), col("n_key"))
  }

  /** DSIR-style importance weights: hash every word bigram into
    * `nBuckets` buckets (power of two, so floor(h48·B) is exact in a
    * double and replays in any engine), estimate add-one-smoothed
    * bucket distributions for the target (isTargetCol true) and
    * source (rest) slices, and score each document by the
    * log-likelihood ratio Σ_b c_db·(ln p̂_t[b] − ln p̂_s[b]).
    * High weight = looks like the target distribution — sample
    * source docs proportionally to shift the mixture.
    *
    * Scale: one explode + two bounded-key groupBys; the ≤ nBuckets
    * log-ratio table broadcasts; per-doc weights are one more
    * groupBy. Docs with no bigram get weight 0 and n_grams 0. */
  def dsirWeights(docs: DataFrame, textCol: String, idCol: String,
      isTargetCol: String, nBuckets: Int = 1024): DataFrame = {
    require(nBuckets >= 2 && (nBuckets & (nBuckets - 1)) == 0,
      "nBuckets must be a power of two (exact floor(h48*B) replay)")
    val g = docs
      .filter(col(idCol).isNotNull && col(isTargetCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        col(isTargetCol).cast("boolean").as("__t__"),
        explode(rawBigrams(col(textCol))).as("g"))
    val b = g.withColumn("__b__",
      floor(PipelineOps.hash48Unit(col("g")) * nBuckets).cast("long"))
    val bucketCounts = b.groupBy("__b__").agg(
      sum(when(col("__t__"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("__t__"), 0L).otherwise(1L)).as("cs"))
    val tot = bucketCounts.agg(sum("ct").as("__tt__"),
      sum("cs").as("__ts__"))
    val lr = bucketCounts.crossJoin(broadcast(tot))
      .select(col("__b__"),
        (log((col("ct") + 1).cast("double") /
            (col("__tt__") + nBuckets)) -
          log((col("cs") + 1).cast("double") /
            (col("__ts__") + nBuckets))).as("__lr__"))
    val perDoc = b.groupBy(col("doc_id"), col("__b__"))
      .agg(count(lit(1)).as("__c__"))
      .join(broadcast(lr), "__b__")
      .groupBy("doc_id")
      .agg(sum(col("__c__")).as("n_grams"),
        sum(col("__c__") * col("__lr__")).as("__w__"))
    docs.filter(col(idCol).isNotNull && col(isTargetCol).isNotNull)
      .select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).cast("long").as("n_grams"),
        round(coalesce(col("__w__"), lit(0.0)), 6).as("weight"))
  }

  /** Pairwise n-gram Jaccard between sources: |A∩B| from a self-join
    * of the DISTINCT (source, gram) table on gram (a gram in k
    * sources emits C(k,2) ≤ C(|sources|,2) pairs — bounded by the
    * source count, not the corpus), |A∪B| by inclusion-exclusion
    * from per-source distinct counts. */
  def sourceNgramOverlap(docs: DataFrame, textCol: String,
      sourceCol: String, n: Int = 3): DataFrame = {
    val pairs = docs.filter(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("src"),
        explode(TextFunctions.wordNgrams(col(textCol), n)).as("g"))
      .distinct()
    val sizes = pairs.groupBy("src").agg(count(lit(1)).as("nd"))
    val inter = pairs.as("a")
      .join(pairs.as("b"),
        col("a.g") === col("b.g") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("src").as("src_a"),
        col("nd").as("__na__"))), "src_a")
      .join(broadcast(sizes.select(col("src").as("src_b"),
        col("nd").as("__nb__"))), "src_b")
      .select(col("src_a"), col("src_b"),
        col("n_common").cast("long").as("n_common"),
        round(col("n_common").cast("double") /
          (col("__na__") + col("__nb__") - col("n_common")), 6)
          .as("jaccard"))
  }

  /** Zipf power-law fit over the top-`topK` terms: OLS of
    * ln(count) ~ ln(rank) (rank by count desc, term asc — fully
    * tie-broken), alpha = −slope, with the fit r². The top-K is a
    * TakeOrdered (per-partition top-k, no global sort); the rank
    * window and OLS run over K rows. */
  def zipfFit(docs: DataFrame, textCol: String,
      topK: Int = 100): DataFrame = {
    val terms = docs
      .select(explode(TextFunctions.tokens(lower(col(textCol))))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val top = terms.orderBy(col("c").desc, col("w")).limit(topK)
    val ranked = top.withColumn("__r__",
      row_number().over(Window.orderBy(col("c").desc, col("w"))))
    val lx = log(col("__r__").cast("double"))
    val ly = log(col("c").cast("double"))
    val a = ranked.agg(count(lit(1)).cast("double").as("n"),
      sum(lx).as("sx"), sum(ly).as("sy"),
      sum(lx * lx).as("sxx"), sum(lx * ly).as("sxy"),
      sum(ly * ly).as("syy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val r2 = (num * num) /
      ((col("n") * col("sxx") - col("sx") * col("sx")) *
        (col("n") * col("syy") - col("sy") * col("sy")))
    a.select(col("n").cast("long").as("n_terms"),
      round(-slope, 6).as("alpha"), round(r2, 6).as("r2"))
  }

  /** Per-source lexical diversity: token count N, vocabulary V,
    * type-token ratio V/N, hapax fraction (share of the vocabulary
    * seen exactly once), and the Heaps'-law exponent ln V / ln N.
    * Exact integer aggregates; two bounded groupBys. */
  def lexicalStats(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val w = docs.filter(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("src"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
    val tc = w.groupBy("src", "w").agg(count(lit(1)).as("c"))
    tc.groupBy("src").agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("__h__"))
      .select(col("src"), col("n_tokens"), col("vocab"),
        round(col("vocab").cast("double") / col("n_tokens"), 6)
          .as("ttr"),
        round(col("__h__").cast("double") / col("vocab"), 6)
          .as("hapax_frac"),
        round(log(col("vocab").cast("double")) /
          log(col("n_tokens").cast("double")), 6).as("heaps_beta"))
  }

  /** Fixed-size token chunking with overlap — the context-window prep
    * step that SPLITS long documents (the packing dual of
    * [[PipelineOps.packSequences]], which concatenates short ones).
    * Chunk starts step every (chunkTokens − overlap); the final chunk
    * keeps the tail (may be short). Number of chunks, starts, and
    * slices are all exact integer arithmetic, so any engine replays
    * the same chunking. Pure map-side explode — no shuffle, scales
    * linearly. Output: idCol, chunk_id, start_tok, n_tokens, chunk. */
  def chunkDocs(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      "chunkDocs: need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t__"))
      .withColumn("__n__", size(col("__t__")))
      .filter(col("__n__") > 0)
      .withColumn("__k__", lit(1) + greatest(lit(0),
        expr(s"(__n__ - $chunkTokens + ${step - 1}) DIV $step")))
      .select(col(idCol), col("__t__"), col("__n__"),
        explode(sequence(lit(0), col("__k__") - 1)).as("__i__"))
      .select(col(idCol),
        col("__i__").cast("int").as("chunk_id"),
        (col("__i__") * step).cast("long").as("start_tok"),
        least(lit(chunkTokens), col("__n__") - col("__i__") * step)
          .cast("long").as("n_tokens"),
        array_join(slice(col("__t__"), col("__i__") * step + 1,
          lit(chunkTokens)), " ").as("chunk"))
  }

  /** Train word embeddings on the corpus (MLlib Word2Vec skip-gram
    * with negative sampling — the on-cluster embedding-training leg
    * of the pipeline; downstream ANN/semantic-dedup consume the
    * vectors). Deterministic given the seed. Returns the word →
    * vector table as (word, vector array<double>). At 100 TB the
    * shape holds: training distributes by partition with periodic
    * weight averaging (MLlib's implementation), vocabulary is
    * frequency-pruned via minCount. */
  def word2vec(docs: DataFrame, textCol: String, dim: Int = 16,
      minCount: Int = 5, seed: Long = 42L,
      maxIter: Int = 1): DataFrame = {
    import org.apache.spark.ml.feature.Word2Vec
    val toks = docs.select(
      TextFunctions.tokens(lower(col(textCol))).as("tokens"))
    val m = new Word2Vec().setInputCol("tokens").setOutputCol("vec")
      .setVectorSize(dim).setMinCount(minCount).setSeed(seed)
      .setMaxIter(maxIter)
      .fit(toks)
    m.getVectors.select(col("word"),
      org.apache.spark.ml.functions.vector_to_array(col("vector"))
        .as("vector"))
  }

  /** Greedy left-to-right application of one BPE merge (a,b)→ab to a
    * symbol array, as a codegen'd fold: append each symbol, fusing
    * it with the previous one when they spell the pair. Replays the
    * classic non-overlapping scan ((a,a) on [a,a,a] → [aa,a]); the
    * merged symbol can never re-fuse in the same pass because it is
    * strictly longer than `a`. Symbols are restricted to [a-z]+ by
    * [[bpeTrain]]'s word filter, so inlining them in the SQL literal
    * is safe. */
  private def mergeApplyExpr(a: String, b: String): String =
    s"""aggregate(syms, cast(array() as array<string>),
       |  (acc, s) -> CASE WHEN size(acc) > 0
       |      AND element_at(acc, -1) = '$a' AND s = '$b'
       |    THEN slice(acc, 1, size(acc) - 1) || array('$a$b')
       |    ELSE acc || array(s) END)""".stripMargin

  /** Distributed byte-pair-encoding MERGE TRAINING (Sennrich et al.
    * 2016) — the tokenizer-learning step of a training pipeline,
    * run on-cluster. The corpus-scale work is exactly ONE shuffle
    * (lowercased word counts); every merge round then runs on the
    * VOCAB table (distinct words — domain-bounded, millions of rows
    * at 100 TB, not trillions): count adjacent symbol pairs weighted
    * by word frequency (one bounded groupBy), pick the most frequent
    * pair with the deterministic (count desc, pair asc) tie-break
    * (one driver-collected row per round — the kCore loop shape),
    * and apply the merge map-side via [[mergeApplyExpr]]. Words are
    * restricted to ^[a-z]{1,12}$ so symbols stay ASCII and the
    * DuckDB oracle can replay the whole run on a
    * separator-encoded string form ('abc' → ' a  b  c '; merge =
    * one non-overlapping replace — verified equivalent to the
    * greedy fold). Returns the merge table (merge_round, mleft,
    * mright, pair_count). */
  def bpeTrain(docs: DataFrame, textCol: String,
      merges: Int): DataFrame = {
    require(merges >= 1 && merges <= 64, "merges in [1,64]")
    val spark = docs.sparkSession
    var vocab = docs.select(explode(
        TextFunctions.tokens(lower(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z]{1,12}$"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("syms", expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
      .select("syms", "cnt")
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= merges && !done) {
      // guard single-symbol words: Spark sequence(1, 0) DESCENDS
      val top = vocab
        .select(col("cnt"), explode(expr(
          """CASE WHEN size(syms) >= 2 THEN
            |  transform(sequence(1, size(syms) - 1),
            |    i -> struct(element_at(syms, i) as a,
            |                element_at(syms, i + 1) as b))
            |ELSE cast(array() as array<struct<a: string, b: string>>)
            |END""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("c"))
        .orderBy(desc("c"), col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        out += ((r, a, b, c))
        vocab = vocab
          .withColumn("syms", expr(mergeApplyExpr(a, b)))
          .localCheckpoint(true)
        r += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("merge_round", "mleft", "mright", "pair_count")
      .select(col("merge_round").cast("long").as("merge_round"),
        col("mleft"), col("mright"), col("pair_count"))
  }

  /** Apply a learned merge list to text map-side: tokenize each word
    * to characters and fold the merges in ORDER (the BPE inference
    * rule). Emits (original word, its BPE segmentation) per distinct
    * word — join back to the corpus for per-doc token ids. */
  def bpeSegment(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty && merges.size <= 64,
      "1 to 64 merges")
    require(merges.forall { case (a, b) =>
      (a + b).matches("^[a-z]+$") }, "merges must be [a-z]+ symbols")
    var v = docs.select(explode(
        TextFunctions.tokens(lower(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z]{1,12}$"))
      .distinct()
      .withColumn("syms", expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    merges.foreach { case (a, b) =>
      v = v.withColumn("syms", expr(mergeApplyExpr(a, b)))
    }
    v.select(col("w"), col("syms"))
  }

  /** Jensen–Shannon divergence between the unigram distributions of
    * two corpus slices (Lin 1991) — the symmetric, always-finite
    * corpus-mixture comparison a curation pipeline reports when
    * deciding how much of source B to blend into source A:
    * JSD = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2, in nats, bounded by
    * ln 2. Zero-count words are exact (no ε clamps — the q·ln(q/m)
    * term vanishes and the other side contributes p·ln 2 at most).
    *
    * One explode + one word-keyed count aggregate (bounded by
    * vocabulary, not corpus size); per-word terms are rounded to 12
    * decimals and summed as DECIMAL so the reduction is order-free
    * and engine-replayable. Emits one row: vocab sizes, token
    * totals, KL halves and the JSD. */
  def jsDivergence(docs: DataFrame, textCol: String,
      groupCol: String, gA: String, gB: String): DataFrame = {
    val toks = docs.filter(col(groupCol).isin(gA, gB))
      .select(col(groupCol).as("g"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
    val counts = toks.groupBy("w")
      .agg(sum(when(col("g") === gA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === gB, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val p = col("ca").cast("double") / col("na")
    val q = col("cb").cast("double") / col("nb")
    val m = (p + q) / 2
    val termA = when(col("ca") > 0, p * log(p / m)).otherwise(lit(0.0))
    val termB = when(col("cb") > 0, q * log(q / m)).otherwise(lit(0.0))
    counts.crossJoin(broadcast(tot))
      .select(col("ca"), col("cb"),
        round(termA, 12).cast("decimal(30,12)").as("ta"),
        round(termB, 12).cast("decimal(30,12)").as("tb"),
        col("na"), col("nb"))
      .groupBy("na", "nb")
      .agg(count(lit(1)).as("n_vocab"),
        sum(when(col("ca") > 0, 1L).otherwise(0L)).as("vocab_a"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("vocab_b"),
        sum("ta").as("kla"), sum("tb").as("klb"))
      .select(col("n_vocab"), col("vocab_a"), col("vocab_b"),
        col("na").as("tokens_a"), col("nb").as("tokens_b"),
        col("kla").cast("double").as("kl_pm"),
        col("klb").cast("double").as("kl_qm"),
        ((col("kla") + col("klb")).cast("double") / 2).as("jsd"))
  }

  /** Good-Turing vocabulary-coverage report per corpus slice: token
    * total N, vocabulary V, hapax/dis legomena counts n₁/n₂, and the
    * Good-Turing unseen-mass estimate P(next token is NEW) ≈ n₁/N —
    * the "how much of this source's vocabulary have we actually
    * seen" number a curation pass reads before deciding a slice is
    * exhausted. Exact integers + exact-ppm integer division; one
    * word-keyed count aggregate (vocabulary-bounded). */
  def goodTuringCoverage(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val counts = docs
      .filter(col(groupCol).isNotNull && col(textCol).isNotNull)
      .select(col(groupCol).as("g"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
      .groupBy("g", "w").agg(count(lit(1)).as("c"))
    counts.groupBy("g")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
      .withColumn("unseen_ppm", expr("n1 * 1000000 div n_tokens"))
      .withColumn("hapax_share_ppm", expr("n1 * 1000000 div vocab"))
  }

  /** Tokenizer fertility of a FIXED merge list (the number every
    * tokenizer-vs-corpus fit review leads with: BPE tokens per
    * word): apply [[bpeSegment]]'s merges to the corpus vocabulary,
    * join segment sizes back to the word counts, and report per
    * slice the exact token/word totals, fertility in ppm
    * (tokens·10⁶ div words) and the share of words left unmerged as
    * a single piece... the lower the fertility, the better the
    * merges fit the slice. */
  def bpeFertility(docs: DataFrame, textCol: String,
      groupCol: String, merges: Seq[(String, String)]): DataFrame = {
    val seg = bpeSegment(docs, textCol, merges)
      .select(col("w"), size(col("syms")).cast("long").as("pieces"))
    val words = docs
      .filter(col(groupCol).isNotNull && col(textCol).isNotNull)
      .select(col(groupCol).as("g"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z]{1,12}$"))
      .groupBy("g", "w").agg(count(lit(1)).as("c"))
    words.join(seg, Seq("w"))
      .groupBy("g")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("pieces")).as("n_tokens"),
        sum(when(col("pieces") === 1, col("c")).otherwise(0L))
          .as("n_single"))
      .withColumn("fertility_ppm",
        expr("n_tokens * 1000000 div n_words"))
      .withColumn("single_piece_ppm",
        expr("n_single * 1000000 div n_words"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): build the
    * adjacent-word co-occurrence graph over the corpus (lowercased
    * whitespace tokens, stopwords and short words dropped,
    * undirected distinct edges) and rank words by
    * [[graft.graphops.GraphOps.pageRankExact]] — the EXACT-integer
    * PageRank, so the scores (and therefore the keyword ranking and
    * its tie-breaks) are engine-replayable bit-for-bit. Top `topN`
    * by (score desc, word asc).
    *
    * Scale: pair generation is a pure map (transform over each doc's
    * token array — no positional self-join); the graph is
    * vocabulary-bounded, so the per-round join+agg shuffles are
    * small regardless of corpus size; top-N is a TakeOrdered. */
  def textRankKeywords(df: DataFrame, textCol: String,
      stops: Seq[String], topN: Int = 20, rounds: Int = 3,
      minLen: Int = 3): DataFrame = {
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val pairs = df.select(toks.as("__tk__"))
      .filter(size(col("__tk__")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__tk__) - 1), " +
          "i -> struct(__tk__[i-1] AS a, __tk__[i] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val ok = (c: Column) => length(c) >= minLen && !c.isin(stops: _*)
    val und = pairs
      .filter(ok(col("a")) && ok(col("b")) && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"),
        greatest(col("a"), col("b")).as("dst"))
      .distinct()
    val sym = und.union(und.select(col("dst").as("src"),
      col("src").as("dst")))
    graft.graphops.GraphOps.pageRankExact(sym, rounds = rounds)
      .orderBy(col("pr").desc, col("id").asc)
      .limit(topN)
      .select(col("id").as("word"), col("pr"))
  }

  /** PORTABLE ORACLE TWIN of [[word2vec]]'s neighborhood structure
    * (the q441–q445 ledger-twin series): Levy & Goldberg (2014)
    * showed SGNS implicitly factorizes the shifted PPMI matrix, so
    * the EXPLICIT PPMI row vectors are the deterministic member of
    * the word2vec family — no RNG, no SGD order-dependence, and the
    * cosine neighborhoods they induce are engine-replayable:
    *
    *  - symmetric ±`window` co-occurrence counts (pure map + one
    *    vocab-bounded aggregation; counts exact BIGINTs),
    *  - PPMI(w,c) = max(0, ln(n_wc·N / (n_w·n_c))) with the ln
    *    output rounded at 9 decimals (the q441 convention),
    *  - vectors restricted to the top-`dims` contexts by marginal
    *    count (ties by name) — the bounded explicit embedding,
    *  - for the top-`focus` words: top-`topK` cosine neighbors
    *    among words with marginal count ≥ `minCount`, every
    *    dot/norm term 12-decimal DECIMAL-summed (order-free),
    *    ranked by (cosine desc, word asc).
    *
    * Everything is vocab-bounded aggregation + an equi-join of a
    * (focus × dims)-row broadcast against the vector table — the
    * 100 TB shape. Returns (focus_word, rank, neighbor, cosine). */
  def ppmiEmbed(df: DataFrame, textCol: String, dims: Int = 32,
      minCount: Int = 5, focus: Int = 10, topK: Int = 3,
      window: Int = 2): DataFrame = {
    require(window >= 1 && window <= 4, s"window in [1,4], got $window")
    require(dims >= 2 && dims <= 256, s"dims in [2,256], got $dims")
    require(focus >= 1 && focus <= 100 && topK >= 1 && topK <= 20,
      "focus in [1,100], topK in [1,20]")
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val pairs = df.filter(col(textCol).isNotNull)
      .select(toks.as("__tk__"))
      .filter(size(col("__tk__")) >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(1, $window), d ->
           |  CASE WHEN size(__tk__) > d THEN
           |    transform(sequence(1, size(__tk__) - d),
           |      i -> struct(__tk__[i-1] AS w, __tk__[i+d-1] AS c))
           |  ELSE array_repeat(
           |    struct(__tk__[0] AS w, __tk__[0] AS c), 0)
           |  END))""".stripMargin)).as("p"))
      .select(col("p.w").as("w"), col("p.c").as("c"))
    val sym = pairs.union(
      pairs.select(col("c").as("w"), col("w").as("c")))
    val nwc = sym.groupBy("w", "c").agg(count(lit(1)).as("nwc"))
    val nw = nwc.groupBy("w").agg(sum("nwc").as("nw"))
    val ncm = nwc.groupBy("c").agg(sum("nwc").as("nc"))
    val tot = nwc.agg(sum("nwc").as("nn"))
    val ppmi = nwc.join(nw, "w").join(ncm, "c")
      .crossJoin(broadcast(tot))
      .select(col("w"), col("c"),
        round(log((col("nwc").cast("double") * col("nn")) /
          (col("nw").cast("double") * col("nc"))), 9).as("pp"))
      .filter(col("pp") > 0)
    val dimsT = ncm.orderBy(col("nc").desc, col("c").asc)
      .limit(dims).select(col("c"))
    val vecs = ppmi.join(dimsT, "c")
    val norms = vecs.groupBy("w")
      .agg(sum(round(col("pp") * col("pp"), 12)
        .cast("decimal(38,12)")).cast("double").as("n2"))
      .filter(col("n2") > 0)
    val focusT = nw.orderBy(col("nw").desc, col("w").asc)
      .limit(focus).select(col("w").as("f"))
    val fv = vecs.join(focusT, col("w") === col("f"))
      .select(col("f"), col("c"), col("pp").as("pf"))
    val cand = vecs.join(nw.filter(col("nw") >= minCount)
      .select(col("w")), "w")
    val dots = fv.join(cand, Seq("c"))
      .filter(col("w") =!= col("f"))
      .groupBy("f", "w")
      .agg(sum(round(col("pf") * col("pp"), 12)
        .cast("decimal(38,12)")).cast("double").as("dot"))
    val scored = dots
      .join(norms.select(col("w").as("f"), col("n2").as("nf")),
        Seq("f"))
      .join(norms, Seq("w"))
      .select(col("f"), col("w"),
        round(col("dot") / (sqrt(col("nf")) * sqrt(col("n2"))), 9)
          .as("cosine"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("f").orderBy(col("cosine").desc, col("w").asc)
    scored.withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= topK)
      .select(col("f").as("focus_word"),
        col("rank").cast("long").as("rank"),
        col("w").as("neighbor"), col("cosine"))
  }
}
