package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.stats.PrefixSum
import graft.functions.TextFunctions

/** Training-data pipeline operators beyond dedup/similarity: exact
  * reproducible sampling, cardinality sketching, TF-IDF keywording,
  * boilerplate detection, and bloom-prefiltered joins (north-star
  * extras per BASELINE.json; no reference counterpart — the reference
  * stops at the dataframe surface).
  *
  * Everything here is engine-portable where feasible: the hash
  * primitive is the first 48 bits of md5 (exact in a double), so the
  * DuckDB oracle can replay sampling and sketch decisions bit-for-bit
  * — the same property the minhash/simhash portable variants use.
  */
object PipelineOps {

  private val Two48 = 281474976710656.0 // 2^48

  /** Engine-portable uniform hash in [0, 1): first 12 hex chars of
    * md5 as a 48-bit integer over 2^48. Exact in a double (48 < 53
    * mantissa bits), so the division is exact and any comparison
    * against it is reproducible across engines. */
  def hash48Unit(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10)
      .cast("double") / lit(Two48)

  /** Deterministic hash sampling: keep a row iff
    * hash(key || salt) < rate. The sample is a pure map-side filter
    * (no shuffle, no RNG state), stable across runs/cluster sizes,
    * and re-derivable by any engine — the correct way to sample a
    * 100 TB corpus reproducibly. Vary `salt` to draw independent
    * samples. Rows whose key is null are excluded (their hash is
    * undefined) — filter or coalesce the key first to keep them. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double,
      salt: String = ""): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, "rate must be in [0,1]")
    df.filter(
      hash48Unit(concat(col(keyCol).cast("string"), lit(salt))) < rate)
  }

  /** KMV (k minimum values) distinct-count sketch: hash every value,
    * keep the k smallest distinct hashes; if fewer than k distinct
    * hashes exist the count is exact, otherwise the estimator is
    * (k−1)/h_k with h_k the k-th smallest hash in [0,1). The k-min
    * set is a TakeOrdered (per-partition top-k, no global sort) and
    * the result is one row — scales to any input. Standard error is
    * ~1/sqrt(k−2). Unlike HLL, the estimate is a deterministic pure
    * function of the value set, so it is oracle-checkable. */
  def kmvDistinct(df: DataFrame, valueCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 2, "kmvDistinct needs k >= 2")
    val h = df.filter(col(valueCol).isNotNull)
      .select(hash48Unit(col(valueCol)).as("h"))
      .distinct()
    h.orderBy("h").limit(k)
      .agg(count(lit(1)).as("k_seen"), max(col("h")).as("hk"))
      .select(
        col("k_seen").cast("long").as("k_seen"),
        round(when(col("k_seen") < k, col("k_seen").cast("double"))
          .otherwise(lit(k - 1.0) / col("hk")), 6)
          .as("distinct_estimate"))
  }

  /** 48-bit md5 hash of a (key, salt-row) pair as an exact BIGINT —
    * the integer sibling of [[hash48Unit]], for modular bucket
    * addressing (< 2^48, so every engine's arithmetic is exact). */
  private def hash48Long(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  private def cmsBucket(key: Column, row: Column,
      width: Int): Column =
    pmod(hash48Long(concat(key.cast("string"), lit("#cms"),
      row.cast("string"))), lit(width.toLong))

  /** Count-min sketch (Cormode–Muthukrishnan 2005): `depth`
    * md5-derived hash rows × `width` buckets. The sketch is a
    * (r, bucket, cnt) table built by ONE explode + groupBy shuffle
    * (map-side partial aggregation; ≤ depth·width rows out), and is
    * MERGEABLE across corpus shards/days by summing counts — the
    * streaming-friendly frequency summary for 100 TB key spaces
    * where exact per-key counts don't fit. Deterministic portable
    * hashing (the hash48 idiom), so any engine — including the
    * DuckDB oracle — re-derives identical buckets: the sketch is a
    * pure function of the multiset, not of RNG state. */
  def countMinSketch(df: DataFrame, keyCol: String, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth in [1,16]")
    require(width >= 2, "width >= 2")
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("k"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("r"), cmsBucket(col("k"), col("r"), width)
        .as("bucket"))
      .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimate keys against a count-min sketch: address each
    * key's `depth` buckets and take the MIN count (CMS never
    * underestimates; overestimate ≤ e·N/width with prob
    * 1−e^(−depth)). Broadcast-friendly: the sketch is ≤ depth·width
    * rows. */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth in [1,16]")
    require(width >= 2, "width >= 2")
    keys.select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
      .select(col(keyCol),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", cmsBucket(col(keyCol), col("r"), width))
      .join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_count"))
  }

  /** The k-smallest-distinct-hash KMV sketch as a 1-column
    * DataFrame (h in [0,1)) — the set-operable form of
    * [[kmvDistinct]] (theta-sketch, Dasgupta et al. 2016). ≤ k rows
    * out via TakeOrdered (per-partition top-k, no global sort);
    * deterministic md5 hashing, so two engines build the identical
    * sketch. */
  def kmvSketchDf(df: DataFrame, valueCol: String,
      k: Int = 128): DataFrame = {
    require(k >= 2, "kmvSketchDf needs k >= 2")
    df.filter(col(valueCol).isNotNull)
      .select(hash48Unit(col(valueCol)).as("h"))
      .distinct().orderBy("h").limit(k)
  }

  /** Distinct-count SET ALGEBRA over two KMV sketches without
    * rescanning either input — the theta-sketch estimator: theta =
    * min of the per-sketch k-th smallest hash (1.0 when a sketch is
    * exact, i.e. holds < k hashes); every hash < theta is a uniform
    * rate-theta sample of its set, so |A∩B| ≈ |{h ∈ both, h <
    * theta}| / theta, |A∪B| ≈ |{h ∈ either, h < theta}| / theta,
    * and Jaccard is their sample ratio. This is how 100 TB overlap
    * questions (users in BOTH cohorts, docs in BOTH crawls) are
    * answered from per-shard sketches: merge ≤ k-row tables, never
    * the raw keys. All arithmetic is on exact 48-bit dyadic hashes —
    * a DuckDB oracle replays the whole estimate. One row out. */
  def kmvSetEstimate(a: DataFrame, b: DataFrame,
      k: Int = 128): DataFrame = {
    require(k >= 2, "kmvSetEstimate needs k >= 2")
    def thetaOf(s: DataFrame) = s.agg(
      when(count(lit(1)) < k, lit(1.0)).otherwise(max(col("h")))
        .as("th"))
    val theta = thetaOf(a).crossJoin(broadcast(thetaOf(b).
      withColumnRenamed("th", "th_b")))
      .select(least(col("th"), col("th_b")).as("theta"))
    val sampU = a.union(b).distinct()
      .crossJoin(broadcast(theta)).filter(col("h") < col("theta"))
    val sampI = a.join(b, Seq("h"))
      .crossJoin(broadcast(theta)).filter(col("h") < col("theta"))
    val nU = sampU.agg(count(lit(1)).as("n_union"))
    val nI = sampI.agg(count(lit(1)).as("n_inter"))
    theta.crossJoin(broadcast(nU)).crossJoin(broadcast(nI))
      .select(round(col("theta"), 6).as("theta"),
        col("n_inter").cast("long").as("n_inter"),
        col("n_union").cast("long").as("n_union"),
        round(col("n_inter") / col("theta"), 4).as("est_inter"),
        round(col("n_union") / col("theta"), 4).as("est_union"),
        round(when(col("n_union") > 0,
          col("n_inter").cast("double") / col("n_union"))
          .otherwise(lit(0.0)), 6).as("est_jaccard"))
  }

  /** Standard HLL bias constant alpha_m (Flajolet et al. 2007 §4):
    * tabulated for small m, 0.7213/(1+1.079/m) above. */
  def hllAlpha(p: Int): Double = (1 << p) match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case m  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** HyperLogLog register table (Flajolet–Fusy–Gandouet–Meunier
    * 2007) with the same deterministic md5 addressing as
    * [[countMinSketch]], so the sketch is a pure function of the
    * value SET (not RNG state) and a DuckDB oracle re-derives it
    * bit-for-bit. The 48-bit hash splits into p register bits +
    * W = 48−p rank bits; rho = leading zeros of the rank bits + 1 is
    * computed EXACTLY via integer bit-length (length(bin(w)) — no
    * floating log2, whose ulp error flips floor() at powers of two).
    * One groupBy(register).max shuffle with map-side partials, ≤ 2^p
    * rows out; registers no value hashed into are simply absent
    * (= rank 0, handled by [[hllEstimate]]). MERGEABLE across
    * corpus shards/days by max per register ([[hllMerge]]) — the
    * standard distinct-count summary where exact sets don't fit. */
  def hllSketch(df: DataFrame, valueCol: String,
      p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    val w = 48 - p
    val h = hash48Long(concat(col(valueCol).cast("string"),
      lit("#hll")))
    df.filter(col(valueCol).isNotNull)
      .select(shiftright(h, w).as("register"),
        pmod(h, lit(1L << w)).as("wbits"))
      .select(col("register"),
        when(col("wbits") === 0, lit(w + 1))
          .otherwise(lit(w + 1) - length(bin(col("wbits"))))
          .cast("int").as("rho"))
      .groupBy("register").agg(max(col("rho")).as("rho_max"))
  }

  /** Merge HLL sketches over the same p: max per register — the
    * property that makes HLL the 100 TB distinct counter (per-shard
    * sketches union with no rescan). */
  def hllMerge(sketches: DataFrame*): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy("register").agg(max(col("rho_max")).as("rho_max"))

  /** Per-group HLL registers — ONE groupBy(group, register) shuffle
    * with map-side partials, ≤ 2^p rows per group out. The realistic
    * 100 TB shape ("distinct users per day/segment over a year"):
    * group cardinality × 2^p summary rows instead of group × user
    * exact sets. Estimate with [[hllEstimateGrouped]]; merge across
    * shards by max per (group, register). */
  def hllSketchGrouped(df: DataFrame, groupCol: String,
      valueCol: String, p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    val w = 48 - p
    val h = hash48Long(concat(col(valueCol).cast("string"),
      lit("#hll")))
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"), shiftright(h, w).as("register"),
        pmod(h, lit(1L << w)).as("wbits"))
      .select(col("grp"), col("register"),
        when(col("wbits") === 0, lit(w + 1))
          .otherwise(lit(w + 1) - length(bin(col("wbits"))))
          .cast("int").as("rho"))
      .groupBy("grp", "register").agg(max(col("rho")).as("rho_max"))
  }

  /** Per-group HLL estimates from a [[hllSketchGrouped]] table: the
    * [[hllEstimate]] formula applied per group in one ≤ 2^p-rows-per-
    * group aggregate. */
  def hllEstimateGrouped(sketch: DataFrame, p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    val m = 1 << p
    val alpha = hllAlpha(p)
    sketch.groupBy("grp")
      .agg(count(lit(1)).as("regs_set"),
        sum(pow(lit(2.0), -col("rho_max"))).as("z_set"))
      .select(col("grp"),
        (lit(m) - col("regs_set")).cast("long").as("v_zero"),
        (col("z_set") + (lit(m) - col("regs_set"))).as("z"))
      .select(col("grp"), col("v_zero"),
        round(
          when(col("v_zero") > 0 &&
              lit(alpha * m.toDouble * m) / col("z") <= lit(2.5 * m),
            lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero")))
          .otherwise(lit(alpha * m.toDouble * m) / col("z")), 4)
          .as("hll_estimate"))
  }

  /** HLL cardinality estimate from a [[hllSketch]] register table:
    * raw = alpha_m·m²/Z with Z = Σ 2^(−M[j]) (absent registers
    * contribute 2^0 = 1 via the zero-register count), plus the
    * standard small-range correction (V>0 and raw ≤ 2.5m → linear
    * counting m·ln(m/V)). Z is a sum of ≤ 2^p dyadic rationals of
    * scale ≥ 2^(−49), so both engines compute it EXACTLY — the only
    * cross-engine freedom is the final ln/divide ulp, absorbed by
    * the 6-dp round convention. One ≤ 2^p-row aggregate. */
  def hllEstimate(sketch: DataFrame, p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    val m = 1 << p
    val alpha = hllAlpha(p)
    sketch
      .agg(count(lit(1)).as("regs_set"),
        sum(pow(lit(2.0), -col("rho_max"))).as("z_set"))
      .select(lit(m).cast("long").as("m"),
        (lit(m) - col("regs_set")).cast("long").as("v_zero"),
        (col("z_set") + (lit(m) - col("regs_set"))).as("z"))
      .select(col("m"), col("v_zero"), round(col("z"), 6).as("z"),
        round(
          when(col("v_zero") > 0 &&
              lit(alpha * m.toDouble * m) / (col("z")) <= lit(2.5 * m),
            lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero")))
          .otherwise(lit(alpha * m.toDouble * m) / col("z")), 4)
          .as("hll_estimate"))
  }

  /** TF-IDF top terms per document: tf from one grouped count, df
    * from one more, idf = ln((N+1)/(df+1)) + 1 (smooth), top `topN`
    * terms per doc by tfidf (ranked on the 6-dp rounded score with a
    * term-name tiebreak, so ordering is reproducible across engines'
    * last-ulp ln differences). Two hash aggregations + one window
    * partitioned by doc — no global sort, no driver state. */
  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String,
      topN: Int = 5): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(
      countDistinct(col(idCol)).cast("double").as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") *
        (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topN)
      .select(col("doc_id"), col("term"), col("tf").cast("long"),
        col("df").cast("long"), col("tfidf"),
        col("rn").cast("long").as("rn"))
  }

  /** Adjacent-bigram PMI collocations over the corpus:
    *   pmi(a,b) = ln( (c_ab / N_bi) / ((c_a / N_uni)·(c_b / N_uni)) )
    * with c_ab the count of the adjacent pair, c_* unigram counts,
    * N_bi / N_uni the total bigram / token counts. Emits pairs with
    * c_ab ≥ `minCount`. Two hash aggregations over exploded tokens /
    * bigrams — shuffle keys are vocabulary-bounded, scales to any
    * corpus; no window, no driver state. */
  def pmiCollocations(docs: DataFrame, textCol: String,
      minCount: Long = 5L): DataFrame = {
    val arr = docs.select(
      TextFunctions.tokens(lower(col(textCol))).as("__a__"))
    val uni = arr.select(explode(col("__a__")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).cast("double").as("n_uni"))
    val bi = arr.filter(size(col("__a__")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__a__")) - 1),
        i => struct(element_at(col("__a__"), i).as("w1"),
          element_at(col("__a__"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val nBi = bi.agg(sum(col("c_ab")).cast("double").as("n_bi"))
    bi.filter(col("c_ab") >= minCount)
      .join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("c", "c_a")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("c", "c_b")), "w2")
      .crossJoin(broadcast(nBi)).crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_ab").cast("long").as("c_ab"),
        round(log((col("c_ab") / col("n_bi")) /
          ((col("c_a") / col("n_uni")) * (col("c_b") / col("n_uni")))),
          6).as("pmi"))
  }

  /** BM25 document ranking for a bag of query terms (Okapi BM25,
    * k1/b defaults 1.2/0.75):
    *   score(d) = Σ_q idf(q) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    *   idf(q) = ln(1 + (N−df+0.5)/(df+0.5)).
    * Top `topN` docs ranked on the 6-dp rounded score with a doc-id
    * tiebreak (reproducible across engines). Two hash aggregations +
    * a TakeOrdered top-k — no global sort. */
  def bm25Rank(docs: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], topN: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Rank needs at least one term")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    val dl = toks.groupBy("doc_id")
      .agg(count(lit(1)).cast("double").as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    val qt = toks.filter(col("term").isin(queryTerms: _*))
    val tf = qt.groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = qt.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("__idf__",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5)))
      .withColumn("__s__", col("__idf__") *
        (col("tf") * (k1 + 1.0)) /
        (col("tf") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("__s__")), 6).as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(topN)
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): each row draws u = hash48(key‖salt)
    * ∈ (0,1) and keeps key u^(1/w); the `n` largest keys are the
    * weighted sample. Pure map-side scoring + one TakeOrdered top-k —
    * no RNG state, stable across runs and cluster sizes, and
    * re-derivable by any engine (same md5-derived u as
    * [[hashSample]]). Rows with null key or non-positive weight are
    * excluded. */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      n: Int, salt: String = ""): DataFrame = {
    val u = hash48Unit(concat(col(keyCol).cast("string"), lit(salt)))
    df.filter(col(keyCol).isNotNull && col(weightCol) > 0)
      .withColumn("__k__", pow(u, lit(1.0) / col(weightCol)))
      .orderBy(col("__k__").desc, col(keyCol))
      .limit(n).drop("__k__")
  }

  /** Deterministic stratified sampling: the `nPerStratum` rows of
    * each stratum with the smallest md5-derived hash of key‖salt.
    * One window partitioned by stratum ordered by the EXACT 48-bit
    * hash (ties broken by key) — per-stratum streaming top-k after a
    * stratum shuffle, no RNG state, identical selection on any engine
    * or cluster size. Null keys are excluded. */
  def stratifiedSample(df: DataFrame, strataCol: String,
      keyCol: String, nPerStratum: Int, salt: String = ""): DataFrame = {
    val u = hash48Unit(concat(col(keyCol).cast("string"), lit(salt)))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(u.asc, col(keyCol).asc)
    df.filter(col(keyCol).isNotNull)
      .withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") <= nPerStratum).drop("__rn__")
  }

  /** Per-document boilerplate fraction: a word n-gram is boilerplate
    * when it occurs in ≥ `minDocs` distinct documents; each doc
    * reports what share of its distinct n-grams are boilerplate.
    * One explode + two grouped aggregations; the n-gram df shuffle is
    * bounded by vocabulary, not corpus size. Docs shorter than n
    * words have no n-grams and report fraction 0 over 0 shingles. */
  def boilerplateFraction(docs: DataFrame, textCol: String,
      idCol: String, n: Int = 3, minDocs: Long = 2L): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.wordNgrams(col(textCol), n)).as("g"))
    val dfreq = sh.groupBy("g")
      .agg(countDistinct("doc_id").as("ndocs"))
    val perDoc = sh.join(dfreq, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("ndocs") >= minDocs, 1L).otherwise(0L))
          .as("n_boiler"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).cast("long")
          .as("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).cast("long").as("n_boiler"),
        round(when(col("n_shingles").isNull || col("n_shingles") === 0,
            0.0)
          .otherwise(col("n_boiler").cast("double") /
            col("n_shingles").cast("double")), 6).as("boiler_frac"))
  }

  /** Exact heavy hitters: values with support > n/k (the classic
    * frequent-items threshold). One partial-aggregated shuffle on the
    * value column plus a broadcast of the single-row total — at
    * 100 TB the map-side combine collapses each partition to its
    * distinct values before the exchange, so the shuffle is bounded
    * by cardinality, not row count. */
  def heavyHitters(df: DataFrame, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "heavyHitters needs k >= 2")
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast("double").as("n"))
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") > col("n") / k)
      .select(col(valueCol), col("cnt").cast("long").as("cnt"))
  }

  /** One-pass approximate frequent items (Spark's stat.freqItems,
    * a Karp-Papadimitriou-Shenker sketch): returns a SUPERSET of the
    * values with support > 1/k in a single scan with O(k) state per
    * partition — the streaming/huge-cardinality fallback when the
    * exact shuffle above is too wide. Verify candidates exactly with
    * a second targeted count if needed. */
  def frequentItemsSketch(df: DataFrame, valueCol: String,
      support: Double): Seq[Any] =
    df.stat.freqItems(Seq(valueCol), support)
      .head().getSeq[Any](0)

  /** Bloom-prefiltered join for long keys: build a bloom filter over
    * the dimension side's join keys, broadcast it, and filter the
    * fact side BEFORE its shuffle. At 100 TB this is the standard
    * semi-join reduction — a selective dimension too big to broadcast
    * outright still compresses to a few MB of bloom bits, and the
    * fact side sheds non-matching rows at scan time instead of
    * shuffling them. False positives are eliminated by the real join
    * that follows, so the result is exactly the plain join's. */
  def bloomPrefilterJoin(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String, expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val bf = dim.stat.bloomFilter(dimKey, expectedItems, fpp)
    val bc = fact.sparkSession.sparkContext.broadcast(bf)
    val might = udf((k: java.lang.Long) =>
      k != null && bc.value.mightContainLong(k))
    fact.filter(might(col(factKey)))
      .join(dim, col(factKey) === dim(dimKey))
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥
    * `minOverlap` distinct word `n`-grams with any benchmark
    * document (the standard eval-leakage guard — long n-grams are
    * near-unique, so a hit means verbatim overlap, not topical
    * similarity). Shape: explode n-grams on both sides, equi-join on
    * the n-gram, one grouped count per corpus doc. The join is
    * bounded by the BENCHMARK's n-gram vocabulary — benchmarks are
    * eval sets, orders of magnitude smaller than the corpus — so at
    * 100 TB the corpus side sheds non-matching n-grams at the join
    * and never shuffles whole documents. Every corpus doc is
    * returned (n_overlap 0 when clean) so the output doubles as a
    * keep/drop mask. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 8,
      minOverlap: Long = 1L): DataFrame = {
    val corpusG = corpus.select(col(idCol).as("doc_id"),
      explode(TextFunctions.wordNgrams(col(textCol), n)).as("g"))
    val benchG = benchmark
      .select(explode(TextFunctions.wordNgrams(col(textCol), n)).as("g"))
      .distinct()
    val hits = corpusG.join(benchG, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap")) // corpus n-grams are distinct per doc
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).cast("long").as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap)
          .as("contaminated"))
  }

  /** Gopher-style repetition flags: per-document duplicate-line
    * fraction, duplicate-line CHARACTER fraction, and top-word
    * fraction, with a combined keep/drop flag at the classic
    * thresholds. One explode per signal, grouped per doc — entirely
    * map-side + bounded per-doc shuffles, no cross-document state.
    * Empty/whitespace-only docs report zero fractions and pass. */
  def repetitionFlags(docs: DataFrame, textCol: String, idCol: String,
      maxDupLineFrac: Double = 0.3, maxDupLineCharFrac: Double = 0.2,
      maxTopWordFrac: Double = 0.2): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("line"))
      .filter(length(trim(col("line"))) > 0)
    // per (doc, line) multiplicity, then: duplicate lines are the
    // occurrences beyond each first; their chars likewise
    val perLine = lines.groupBy("doc_id", "line")
      .agg(count(lit(1)).as("c"))
    val lineStats = perLine.groupBy("doc_id").agg(
      sum(col("c")).as("n_lines"),
      sum(col("c") - 1).as("n_dup_lines"),
      sum(col("c") * length(col("line"))).as("n_line_chars"),
      sum((col("c") - 1) * length(col("line"))).as("n_dup_chars"))
    val words = docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val wordStats = words.groupBy("doc_id").agg(
      sum(col("c")).as("n_words"), max(col("c")).as("top_word_c"))
    val frac = (num: Column, den: Column) =>
      round(when(den.isNull || den === 0, 0.0)
        .otherwise(num.cast("double") / den.cast("double")), 6)
    docs.select(col(idCol).as("doc_id"))
      .join(lineStats, Seq("doc_id"), "left")
      .join(wordStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).cast("long").as("n_lines"),
        frac(col("n_dup_lines"), col("n_lines")).as("dup_line_frac"),
        frac(col("n_dup_chars"), col("n_line_chars"))
          .as("dup_line_char_frac"),
        coalesce(col("n_words"), lit(0L)).cast("long").as("n_words"),
        frac(col("top_word_c"), col("n_words")).as("top_word_frac"))
      .withColumn("keep",
        col("dup_line_frac") <= maxDupLineFrac &&
        col("dup_line_char_frac") <= maxDupLineCharFrac &&
        col("top_word_frac") <= maxTopWordFrac)
  }

  /** Stratified deterministic sampling: per-stratum keep rates over
    * the same engine-portable 48-bit hash as [[hashSample]] — the
    * source-mixing primitive (e.g. keep 100% of books, 10% of
    * common-crawl). Pure map-side filter: the rate lookup is a
    * literal when-chain (strata sets are small by definition), no
    * shuffle, no RNG, reproducible across runs and cluster sizes.
    * Strata missing from `rates` keep `defaultRate`. */
  def stratifiedHashSample(df: DataFrame, keyCol: String,
      stratumCol: String, rates: Map[String, Double],
      defaultRate: Double = 1.0, salt: String = ""): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rate $r must be in [0,1]"))
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (s, r)) => when(col(stratumCol) === s, r).otherwise(acc)
    }
    df.filter(
      hash48Unit(concat(col(keyCol).cast("string"), lit(salt))) < rate)
  }

  /** Temperature-weighted (α-)sampling across sources — the standard
    * multilingual/multi-source mixing law: source s gets mixture
    * weight w_s = n_s^α / Σ n_t^α (α < 1 upsamples small sources),
    * and a deterministic per-source keep rate
    * r_s = min(1, targetFrac·N·w_s / n_s) applied through the
    * engine-portable 48-bit hash. Rates are rounded to 9 dp before
    * the comparison (the [[weightedHashSample]] pow-ulp convention)
    * so the selection replays bit-for-bit in any engine. One
    * source-count aggregate broadcasts; the filter is map-side. */
  def alphaSampleMix(df: DataFrame, sourceCol: String, keyCol: String,
      alpha: Double, targetFrac: Double,
      salt: String = ""): DataFrame = {
    require(alpha > 0, "alpha must be > 0")
    require(targetFrac > 0 && targetFrac <= 1.0,
      "targetFrac must be in (0,1]")
    val counts = df.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("__n__"))
    val tot = counts.agg(sum(col("__n__")).as("__nn__"),
      sum(pow(col("__n__").cast("double"), alpha)).as("__sp__"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col(sourceCol),
        round(least(lit(1.0),
          lit(targetFrac) * col("__nn__") *
            pow(col("__n__").cast("double"), alpha) /
            col("__sp__") / col("__n__")), 9).as("__rate__"))
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(hash48Unit(concat(col(keyCol).cast("string"),
        lit(salt))) < col("__rate__"))
      .drop("__rate__")
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis),
    * deterministic: each row's sample key is u^(1/w) with
    * u = hash48Unit(key‖salt), and the k largest keys win — rows with
    * weight w are selected with the exact ES inclusion law, but the
    * draw is a pure function of (key, salt), reproducible across
    * runs, cluster sizes, and engines. The k-max set is a TakeOrdered
    * (per-partition top-k, no global sort). The sample key is rounded
    * to 9 dp before ordering (ties broken by key column): Math.pow is
    * not correctly rounded and differs from other engines' libm by an
    * ulp — rounding makes the selection engine-portable. Rows with
    * weight ≤ 0 or null are excluded. */
  def weightedHashSample(df: DataFrame, keyCol: String,
      weightCol: String, k: Int, salt: String = ""): DataFrame = {
    require(k > 0, "k must be > 0")
    val u = hash48Unit(concat(col(keyCol).cast("string"), lit(salt)))
    df.filter(col(weightCol).isNotNull &&
        col(weightCol).cast("double") > 0.0)
      .withColumn("__esk__",
        round(pow(u, lit(1.0) / col(weightCol).cast("double")), 9))
      .orderBy(col("__esk__").desc, col(keyCol))
      .limit(k)
      .drop("__esk__")
  }

  /** Exact global budget cut WITHOUT a global window: order the
    * corpus by (score desc, tiebreak id), take documents until the
    * running token total reaches `budget` (a document is kept iff its
    * first token starts inside the budget — the concat-and-chunk
    * boundary rule). The global running token total is
    * [[graft.stats.PrefixSum.before]] in descending score order:
    * score ranges from approximate quantile bounds (equal scores
    * always share a range), per-range token totals as driver-side
    * offsets, and a window within each range — the scale pattern
    * behind the Mann-Whitney ranks. Returns the kept rows +
    * (start_tok, n_tokens). */
  def takeByBudget(docs: DataFrame, scoreCol: String, tokenCol: String,
      idCol: String, budget: Long): DataFrame = {
    val base = docs
      .filter(col(scoreCol).isNotNull && col(tokenCol).isNotNull)
      .withColumn("__tok__", col(tokenCol).cast("long"))
    PrefixSum.before(base, scoreCol, col("__tok__"), "start_tok",
        descending = true, tieBreak = Seq(col(idCol)))
      .filter(col("start_tok") < budget)
      .withColumnRenamed("__tok__", "n_tokens")
  }

  /** C4-style corpus-level paragraph dedup with reassembly: split
    * each document on `sep`, keep only the globally FIRST occurrence
    * of every distinct non-blank paragraph (first = smallest
    * (id, position)), and rebuild each document from its surviving
    * paragraphs in original order.
    *
    * Scale shape: two shuffles total. First-occurrence is an
    * unordered-frame min-struct WINDOW over `partition by paragraph`
    * — every copy of a paragraph must move once no matter what (a
    * groupBy+join-back formulation shuffles the same rows a second
    * time for the join), and a paragraph duplicated a million times
    * is a single linear streaming min in one task, not a hot join
    * key. Then one groupBy(id) reassembles. No driver state.
    *
    * `salted = true` switches to the skew-safe two-stage form for
    * corpora where one paragraph dominates a partition (boilerplate
    * repeated billions of times): partial min per (paragraph, salt)
    * via map-side-combinable groupBy, then the final min per
    * paragraph, then a join back to the lines. Identical output
    * (spec-asserted); costs one extra shuffle of the line rows, so
    * the default stays the window form — measured at organic 30×
    * the window form wins (see SCALE.md round 9: shuffle volume,
    * not per-task skew, dominates this operator at every probed
    * scale because the paragraph partitions stay balanced).
    *
    * Returns (idCol, n_lines, n_kept, text_clean) where text_clean is
    * null when every paragraph of the document was seen earlier. */
  def paragraphDedup(docs: DataFrame, textCol: String, idCol: String,
      sep: String = "\n", salted: Boolean = false,
      saltBuckets: Int = 64): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets >= 1, got $saltBuckets")
    val lines = docs
      .select(col(idCol).as("__id__"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("__pos__", "__l__")))
      .filter(length(trim(col("__l__"))) > 0)
    val withFirst = if (!salted) {
      val wLine = Window.partitionBy(col("__l__"))
      lines.withColumn("__first__",
        min(struct(col("__id__"), col("__pos__"))).over(wLine))
    } else {
      val partial = lines
        .withColumn("__salt__",
          pmod(xxhash64(col("__id__"), col("__pos__")),
            lit(saltBuckets.toLong)))
        .groupBy("__l__", "__salt__")
        .agg(min(struct(col("__id__"), col("__pos__"))).as("__m__"))
      val firsts = partial.groupBy("__l__")
        .agg(min(col("__m__")).as("__first__"))
      lines.join(firsts, "__l__")
    }
    withFirst
      .withColumn("__keep__",
        col("__id__") === col("__first__.__id__") &&
          col("__pos__") === col("__first__.__pos__"))
      .groupBy(col("__id__").as(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__keep__"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("__keep__"),
          struct(col("__pos__"), col("__l__"))))).as("__ls__"))
      .withColumn("text_clean",
        when(size(col("__ls__")) > 0,
          concat_ws(sep, transform(col("__ls__"), x => x("__l__")))))
      .drop("__ls__")
  }

  /** Corpus-fit word-bigram language-model score: the CCNet/KenLM
    * quality signal re-expressed self-contained — fit the MLE bigram
    * model P(w₂|w₁) = c(w₁w₂)/c(w₁·) on the corpus itself (c(w₁·)
    * counts bigram STARTS, so the conditional sums to 1 exactly),
    * then score every document by its mean log-probability. Unusually
    * low scores ⇒ gibberish; unusually high ⇒ boilerplate — the
    * standard two-sided filter.
    *
    * Two count aggregates (map-side combinable), two equi-joins on
    * bounded vocab keys, one per-doc aggregate — every stage scales.
    * Returns (idCol, n_bigrams, avg_logprob round 6); documents with
    * fewer than two tokens score null. */
  def bigramLmScore(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val bg = docs
      .select(col(idCol).as("__id__"), explode(
        when(size(toks) >= 2, transform(sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("w1"),
            concat_ws(" ", element_at(toks, i),
              element_at(toks, i + 1)).as("big"))))
          .otherwise(array())).as("g"))
      .select(col("__id__"), col("g.w1"), col("g.big"))
    val bigC = bg.groupBy("big").agg(count(lit(1)).as("cb"))
    val uniC = bg.groupBy("w1").agg(count(lit(1)).as("cu"))
    val scored = bg.join(bigC, "big").join(uniC, "w1")
      .groupBy(col("__id__"))
      .agg(count(lit(1)).as("n_bigrams"),
        avg(log(col("cb").cast("double") / col("cu")))
          .as("__lp__"))
    docs.select(col(idCol).as("__id__")).distinct()
      .join(scored, Seq("__id__"), "left")
      .select(col("__id__").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("__lp__"), 6).as("avg_logprob"))
  }

  /** Held-out bigram-LM perplexity — the production quality-filter
    * shape ([[bigramLmScore]] scores WITHIN the corpus; this trains
    * on a deterministic hash split and scores the held-out docs
    * against the TRAINED model, the way a reference LM filters a
    * candidate crawl): add-1 (Laplace) smoothed bigram probabilities
    *   p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)
    * with V the trained unigram-context vocabulary, so unseen
    * bigrams and unseen contexts score 1/(c+V) and 1/V instead of
    * blowing up. Per-doc log-probs are summed as round-12 DECIMAL
    * terms (order-free — engine-replayable at any parallelism);
    * outputs n_bigrams, avg log-prob and perplexity exp(−avg).
    * Scale: two vocab-bounded count aggregates + one (gram-keyed)
    * left join per side; the split is a pure map. */
  def lmPerplexity(docs: DataFrame, textCol: String, idCol: String,
      trainFrac: Double = 0.7, salt: String = "#lm"): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1,
      s"lmPerplexity needs 0 < trainFrac < 1, got $trainFrac")
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val isTrain = hash48Unit(concat(col(idCol).cast("string"),
      lit(salt))) < trainFrac
    val bg = docs
      .select(col(idCol).as("__id__"), isTrain.as("__train__"),
        explode(when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1),
            i => struct(element_at(toks, i).as("w1"),
              concat_ws(" ", element_at(toks, i),
                element_at(toks, i + 1)).as("big"))))
          .otherwise(array())).as("g"))
      .select(col("__id__"), col("__train__"),
        col("g.w1"), col("g.big"))
    val train = bg.filter(col("__train__"))
    val bigC = train.groupBy("big").agg(count(lit(1)).as("cb"))
    val uniC = train.groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = train.agg(
      countDistinct(col("w1")).cast("double").as("__v__"))
    val lp = log((coalesce(col("cb"), lit(0L)).cast("double") + 1.0) /
      (coalesce(col("cu"), lit(0L)).cast("double") + col("__v__")))
    val scored = bg.filter(!col("__train__"))
      .join(bigC, Seq("big"), "left")
      .join(uniC, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col("__id__"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(round(lp, 12).cast("decimal(38,12)")).cast("double") /
          count(lit(1))).as("__avg__"))
    docs.select(col(idCol).as("__id__"), isTrain.as("__train__"))
      .filter(!col("__train__")).select("__id__").distinct()
      .join(scored, Seq("__id__"), "left")
      .select(col("__id__").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("__avg__"), 9).as("avg_logprob"),
        round(exp(-col("__avg__")), 6).as("perplexity"))
  }

  /** Interpolated Kneser–Ney held-out perplexity (Kneser & Ney 1995;
    * the industry-standard n-gram smoothing — [[lmPerplexity]]'s
    * add-1 sibling): with discount d = 0.75,
    *   p(w2|w1) = max(c(w1w2)−d, 0)/c(w1)
    *            + d·N1+(w1·)/c(w1) · p_cont(w2)        (seen w1)
    *   p(w2|w1) = p_cont(w2)                            (unseen w1)
    * where the continuation probability is Laplace-guarded so an
    * unseen continuation stays finite without an ε clamp:
    *   p_cont(w2) = (N1+(·w2) + 1) / (B + V)
    * (N1+(w1·)/N1+(·w2) = distinct right/left neighbors in train,
    * B = distinct train bigram types, V = distinct train contexts).
    * Same deterministic split, exact integer counts, and round-12
    * DECIMAL order-free term sums as [[lmPerplexity]]. Scale: three
    * vocab-bounded aggregates + gram-keyed left joins. */
  def lmPerplexityKn(docs: DataFrame, textCol: String, idCol: String,
      trainFrac: Double = 0.7, salt: String = "#lm"): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1,
      s"lmPerplexityKn needs 0 < trainFrac < 1, got $trainFrac")
    val d = 0.75
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val isTrain = hash48Unit(concat(col(idCol).cast("string"),
      lit(salt))) < trainFrac
    val bg = docs
      .select(col(idCol).as("__id__"), isTrain.as("__train__"),
        explode(when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1),
            i => struct(element_at(toks, i).as("w1"),
              element_at(toks, i + 1).as("w2"),
              concat_ws(" ", element_at(toks, i),
                element_at(toks, i + 1)).as("big"))))
          .otherwise(array())).as("g"))
      .select(col("__id__"), col("__train__"),
        col("g.w1"), col("g.w2"), col("g.big"))
    val train = bg.filter(col("__train__"))
    val bigC = train.groupBy("big").agg(count(lit(1)).as("cb"))
    val ctxC = train.groupBy("w1").agg(count(lit(1)).as("cu"),
      countDistinct(col("big")).as("n1f"))
    val contC = train.groupBy("w2")
      .agg(countDistinct(col("w1")).as("n1b"))
    val tots = train.agg(
      countDistinct(col("big")).cast("double").as("__b__"),
      countDistinct(col("w1")).cast("double").as("__v__"))
    val pc = (coalesce(col("n1b"), lit(0L)).cast("double") + 1.0) /
      (col("__b__") + col("__v__"))
    val cuD = col("cu").cast("double")
    val seen = greatest(coalesce(col("cb"), lit(0L)).cast("double") -
      d, lit(0.0)) / cuD +
      ((lit(d) * col("n1f").cast("double")) / cuD) * pc
    val lp = log(when(col("cu").isNotNull, seen).otherwise(pc))
    val scored = bg.filter(!col("__train__"))
      .join(bigC, Seq("big"), "left")
      .join(ctxC, Seq("w1"), "left")
      .join(contC, Seq("w2"), "left")
      .crossJoin(broadcast(tots))
      .groupBy(col("__id__"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(round(lp, 12).cast("decimal(38,12)")).cast("double") /
          count(lit(1))).as("__avg__"))
    docs.select(col(idCol).as("__id__"), isTrain.as("__train__"))
      .filter(!col("__train__")).select("__id__").distinct()
      .join(scored, Seq("__id__"), "left")
      .select(col("__id__").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("__avg__"), 9).as("avg_logprob"),
        round(exp(-col("__avg__")), 6).as("perplexity"))
  }

  /** Pretraining sequence packing (concat-and-chunk): documents are
    * hash-bucketed (the distributed analog of a global shuffle),
    * deterministically ordered within each bucket by the portable
    * hash, virtually concatenated, and chunked into fixed
    * `capacity`-token context windows; a document's pack is the
    * window its first token lands in. One window cumsum per bucket —
    * buckets bound partition size, so the plan has no global sort and
    * scales with the bucket count. Returns
    * (idCol, bucket, pack, start_tok, n_tokens). */
  def packSequences(docs: DataFrame, textCol: String, idCol: String,
      capacity: Int, buckets: Int, salt: String = ""): DataFrame = {
    require(capacity > 0 && buckets > 0, "capacity and buckets must be > 0")
    val h = hash48Unit(concat(col(idCol).cast("string"), lit(salt)))
    val d = docs.select(col(idCol).as("__id__"), h.as("__h__"),
      size(TextFunctions.tokens(col(textCol))).cast("long")
        .as("n_tokens"))
      .withColumn("bucket", floor(col("__h__") * buckets).cast("long"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("__h__"), col("__id__"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack", floor(col("start_tok").cast("double") / capacity)
        .cast("long"))
      .select(col("__id__").as(idCol), col("bucket"), col("pack"),
        col("start_tok"), col("n_tokens"))
  }

  /** Fuzzy string matching by edit distance (entity-resolution /
    * vocab-alignment primitive): pairs within `maxDist` Levenshtein
    * edits, with a length-difference prefilter that cuts the O(len²)
    * distance computation before it runs (|len a − len b| > k ⇒
    * dist > k). Broadcast the smaller side; for two LARGE sides,
    * block first (length band via the interval join, or a
    * first-n-gram key) — edit distance is inherently pairwise. */
  def fuzzyMatch(left: DataFrame, right: DataFrame, lCol: String,
      rCol: String, maxDist: Int): DataFrame =
    left.join(broadcast(right),
        abs(length(col(lCol)) - length(col(rCol))) <= maxDist &&
          levenshtein(col(lCol), col(rCol)) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col(lCol), col(rCol)).cast("long"))

  /** Water-filling budget allocation across sources: give source i
    * a_i = min(cap_i, λ·w_i) tokens with λ solving Σa = min(budget,
    * Σcap) — proportional-to-weight mixing under per-source caps,
    * the allocation step of a capped data-mixture recipe. Closed
    * form via the classic sort: order sources by cap/weight
    * ascending; walking that order, λ_j = (B − Σ_{<j} cap) /
    * (Σ_{≥j} w), and the first j with λ_j ≤ cap_j/w_j fixes λ (all
    * earlier sources are capped). One window pass over the SOURCE
    * table (metadata scale — one row per source/domain, never row
    * scale) + a broadcast of the pivot. Zero-weight sources get
    * min(cap, 0) = 0 unless everything is capped. */
  def budgetAllocation(df: DataFrame, keyCol: String,
      weightCol: String, capCol: String, budget: Double): DataFrame = {
    require(budget >= 0, "budget >= 0")
    val base = df.select(col(keyCol),
        col(weightCol).cast("double").as("w"),
        col(capCol).cast("double").as("c"))
      .filter(col("w") >= 0 && col("c") >= 0)
    // zero-weight sources sort LAST (r = ∞): under scarcity they
    // absorb λ·0 = 0; with surplus budget (no pivot) they cap like
    // everyone else
    val r = when(col("w") > 0, col("c") / col("w"))
      .otherwise(lit(Double.MaxValue))
    val ord = Window.orderBy(col("__r__"), col(keyCol))
    val wPrior = ord.rowsBetween(Window.unboundedPreceding, -1)
    val ranked = base.withColumn("__r__", r)
      .withColumn("__i__", row_number().over(ord))
      .withColumn("__cumc__",
        coalesce(sum(col("c")).over(wPrior), lit(0.0)))
      .withColumn("__cumw__",
        coalesce(sum(col("w")).over(wPrior), lit(0.0)))
    val tots = base.agg(sum(col("w")).as("__wt__"),
      sum(col("c")).as("__ct__"))
    val cand = ranked.crossJoin(broadcast(tots))
      .withColumn("__lam__",
        when(col("__wt__") - col("__cumw__") > 0,
          (lit(budget) - col("__cumc__")) /
            (col("__wt__") - col("__cumw__"))))
    // pivot = FIRST source (sorted order) whose candidate λ stops
    // the capping cascade; none ⇒ budget ≥ Σcap ⇒ everything capped
    val pivot = cand
      .filter(col("__lam__").isNotNull && col("__lam__") <= col("__r__"))
      .agg(min(struct(col("__i__"), col("__lam__"))).as("__p__"))
      .select(col("__p__.__i__").as("__pi__"),
        col("__p__.__lam__").as("__plam__"))
    cand.crossJoin(broadcast(pivot))
      .select(col(keyCol), col("w").as("weight"), col("c").as("cap"),
        round(
          when(col("__pi__").isNull || col("__i__") < col("__pi__"),
            col("c"))
            .otherwise(greatest(lit(0.0), col("__plam__") * col("w"))),
          6).as("allocation"),
        (col("__pi__").isNull || col("__i__") < col("__pi__"))
          .as("capped"))
  }

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic keyword
    * extraction from individual documents") re-expressed Spark-first:
    * candidate phrases are maximal stopword-free alphanumeric token
    * runs; word score = deg(w)/freq(w) with deg(w) = Σ over phrases
    * containing w of the phrase length; phrase score = Σ member word
    * scores (with multiplicity). Returns the corpus top-N distinct
    * phrases by (rounded score, count, phrase).
    *
    * Scale shape: phrase segmentation is a per-document window
    * (running count of stopword breaks — partition key = document,
    * never global); word statistics are vocabulary-bounded groupBys;
    * the final top-N is a TakeOrdered. Rounding to 6 dp BEFORE the
    * ordering makes the top-N engine-replayable. */
  def rakeKeywords(df: DataFrame, textCol: String, idCol: String,
      stopwords: Seq[String], topN: Int = 20,
      minPhraseCount: Long = 1L): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
        posexplode(filter(split(lower(col(textCol)), "[^a-z0-9]+"),
          t => length(t) > 0)).as(Seq("pos", "tok")))
      .withColumn("stop", col("tok").isin(stopwords: _*))
    val wDoc = Window.partitionBy("doc").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phrased = toks
      .withColumn("pid", sum(when(col("stop"), 1).otherwise(0)).over(wDoc))
      .filter(!col("stop"))
    val phrases = phrased.groupBy("doc", "pid")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("phrase"),
        count(lit(1)).as("plen"))
    val words = phrased.select(col("doc"), col("pid"), col("tok"))
      .join(phrases.select(col("doc"), col("pid"), col("plen")),
        Seq("doc", "pid"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore",
        col("deg").cast("double") / col("freq").cast("double"))
    val scored = phrased.select(col("doc"), col("pid"), col("tok"))
      .join(words.select(col("tok"), col("wscore")), Seq("tok"))
      .groupBy("doc", "pid").agg(sum(col("wscore")).as("pscore"))
      .join(phrases, Seq("doc", "pid"))
    scored.groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"),
        round(first(col("pscore")), 6).as("score"))
      .filter(col("n_occ") >= minPhraseCount)
      .orderBy(col("score").desc, col("n_occ").desc, col("phrase"))
      .limit(topN)
  }

  /** Deterministic negative sampling for contrastive training: each
    * id draws `k` pseudo-random negatives from a bounded candidate
    * POOL — the `poolSize` ids with the smallest salted hash (a
    * deterministic lottery, so the pool is a uniform sample that any
    * engine re-derives). Draw i for id is pool[floor(h48(id‖i‖salt)
    * · |pool|)]; accidental self-draws are filtered (an id may thus
    * yield k−1 rows — documented, countable). The pool is ≤ 1000
    * rows by contract, so its rank window is provably bounded
    * (PlanLint's GlobalLimit rule) and the draw join broadcasts.
    * Everything is md5-48 arithmetic — the oracle replays the exact
    * sample. One TakeOrdered + one broadcast join; no global
    * shuffle of the corpus. */
  def negativeSample(df: DataFrame, idCol: String, k: Int,
      poolSize: Int = 1000, salt: String = ""): DataFrame = {
    require(k >= 1 && k <= 100, s"k in [1,100], got $k")
    require(poolSize >= 2 && poolSize <= 1000,
      s"poolSize in [2,1000] (bounded-pool contract), got $poolSize")
    val ids = df.select(col(idCol)).filter(col(idCol).isNotNull)
      .distinct()
    val pool = ids.select(col(idCol).as("__pid__"),
        hash48Unit(concat(col(idCol).cast("string"),
          lit("#pool" + salt))).as("__h__"))
      .orderBy("__h__").limit(poolSize)
    val indexed = pool.withColumn("__ix__",
      row_number().over(Window.orderBy("__h__")) - 1)
    val cnt = indexed.agg(count(lit(1)).as("__pn__"))
    val draws = ids
      .withColumn("draw", explode(sequence(lit(1), lit(k))))
      .crossJoin(broadcast(cnt))
      .withColumn("__ix__", floor(
        hash48Unit(concat(col(idCol).cast("string"), lit("#neg"),
          col("draw").cast("string"), lit(salt))) * col("__pn__"))
        .cast("int"))
    draws.join(broadcast(indexed.select(col("__ix__"),
        col("__pid__"))), Seq("__ix__"))
      .filter(col("__pid__") =!= col(idCol))
      .select(col(idCol), col("draw"), col("__pid__").as("neg_id"))
  }

  /** Data-pipeline funnel report: cumulative row-local stage
    * predicates evaluated in ONE scan (a single conditional-sum
    * aggregate — no per-stage passes), emitting per stage the
    * docs in/out, exact ppm keep rate (integer div, engine-exact)
    * and the surviving token budget. Stage predicates must be
    * row-local; make dedup row-local first by precomputing a
    * first-copy flag (row_number over the content hash). The report
    * a 100 TB filter chain prints before anyone trains on its
    * output. */
  def pipelineFunnel(df: DataFrame, stages: Seq[(String, Column)],
      tokensCol: Column): DataFrame = {
    require(stages.nonEmpty, "pipelineFunnel needs at least one stage")
    val cum = stages.scanLeft(lit(true))((acc, s) => acc && s._2).tail
    val aggs = count(lit(1)).as("__n0") +:
      cum.zipWithIndex.flatMap { case (p, i) =>
        Seq(sum(when(p, 1L).otherwise(0L)).as(s"__n${i + 1}"),
          sum(when(p, tokensCol.cast("long")).otherwise(0L))
            .as(s"__t${i + 1}"))
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    stages.zipWithIndex.map { case ((name, _), i) =>
      one.select(lit(i).as("stage_idx"), lit(name).as("stage"),
        col(s"__n$i").as("docs_in"),
        col(s"__n${i + 1}").as("docs_out"),
        expr(s"CASE WHEN `__n$i` > 0 THEN " +
          s"`__n${i + 1}` * 1000000 div `__n$i` END").as("kept_ppm"),
        col(s"__t${i + 1}").as("tokens_out"))
    }.reduce(_ unionByName _)
  }

  /** Dataset card ("datasheets for datasets", Gebru et al. 2021) —
    * the one-page numeric summary a corpus release ships with,
    * computed in a handful of exact aggregates and emitted as
    * (metric, value) rows: sizes, exact-duplicate rate, slice
    * entropies (how concentrated the language/source mix is), and
    * the hapax share (vocabulary freshness). Every number is either
    * an exact integer, an exact-ppm integer division, or a round-12
    * DECIMAL-summed entropy — engine-replayable end to end. */
  def datasetCard(docs: DataFrame, textCol: String, langCol: String,
      sourceCol: String): DataFrame = {
    val t = col(textCol)
    val base = docs.filter(t.isNotNull)
    val tk = graft.functions.TextFunctions.tokens(lower(t))
    val sizes = base.agg(
      count(lit(1)).as("n_docs"),
      sum(length(t).cast("long")).as("n_chars"),
      sum(size(tk).cast("long")).as("n_tokens"),
      countDistinct(md5(t)).as("n_distinct"))
    def entropyOf(keyCol: String, name: String) = {
      val c = base.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      val tot = c.agg(sum("c").as("n"))
      val p = col("c").cast("double") / col("n")
      c.crossJoin(broadcast(tot))
        .select(round(-p * log(p), 12).cast("decimal(38,12)")
          .as("h"))
        .agg(sum("h").as("hs"))
        .select(lit(name).as("metric"),
          col("hs").cast("double").as("value"))
    }
    val hapax = base
      .select(explode(tk).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"))
      .select(lit("hapax_share_ppm").as("metric"),
        expr("n1 * 1000000 div vocab").cast("double").as("value"))
    val sizeRows = Seq(
      ("n_docs", col("n_docs")),
      ("n_chars", col("n_chars")),
      ("n_tokens", col("n_tokens")),
      ("exact_dup_ppm",
        expr("(n_docs - n_distinct) * 1000000 div n_docs")),
      ("mean_chars", expr("n_chars div n_docs"))).map {
      case (name, c) => sizes.select(lit(name).as("metric"),
        c.cast("double").as("value"))
    }
    (sizeRows :+ entropyOf(langCol, "lang_entropy_nats") :+
      entropyOf(sourceCol, "source_entropy_nats") :+ hapax)
      .reduce(_ unionByName _)
  }

  /** Code-vs-prose heuristic score per document — the cheap "is
    * this code?" router a mixed web corpus applies before language
    * ID (code wants different dedup/quality rules than prose):
    * exact counts of code-ish characters ({}[]();=<>#) and code
    * keywords, combined into an exact integer score in ppm
    * (codechar share + 2x keyword share, each a cross-multiplied
    * integer ratio — no floats anywhere). `is_code` = score above
    * the threshold. Map-side only. */
  def codeScore(df: DataFrame, idCol: String, textCol: String,
      thresholdPpm: Long = 100000L): DataFrame = {
    val t = col(textCol)
    def cnt(cls: String) =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    val kw = Seq("def", "return", "import", "class", "void", "int",
      "var", "const", "function")
    val tk = graft.functions.TextFunctions.tokens(lower(t))
    val kwHits = size(filter(tk, w => w.isin(kw: _*))).cast("long")
    val words = size(tk).cast("long")
    df.filter(t.isNotNull && length(t) > 0)
      .select(col(idCol), length(t).cast("long").as("n_chars"),
        cnt("[{}\\[\\]();=<>#]").as("n_codechar"),
        kwHits.as("n_kw"), words.as("n_words"))
      // score = codechar share + 2x keyword share, both in ppm
      .withColumn("score_ppm",
        expr("n_codechar * 1000000 div n_chars") +
          when(col("n_words") > 0,
            expr("n_kw * 2000000 div n_words")).otherwise(0L))
      .withColumn("is_code", col("score_ppm") >= thresholdPpm)
  }

  /** Leakage-safe train/test split by GROUP: every row of a group
    * (user, document cluster, session) lands on the same side, so no
    * entity straddles the boundary — the split bug that silently
    * inflates eval scores. Deterministic md5-48 lottery on the group
    * key (pure map-side filter, replayable, stable under
    * re-partitioning and data growth: a group's side never changes
    * as data is appended). `testPermille` of the group-hash space
    * goes to 'test'. */
  def groupSplit(df: DataFrame, groupCol: String, testPermille: Int,
      salt: String = ""): DataFrame = {
    require(testPermille >= 0 && testPermille <= 1000,
      s"testPermille in [0,1000], got $testPermille")
    df.withColumn("split",
      when(hash48Unit(concat(col(groupCol).cast("string"),
        lit(salt))) * 1000 < testPermille, lit("test"))
        .otherwise(lit("train")))
  }

  /** Character-class composition audit per document — the cheap
    * garbage detector (mojibake, binary spill, wrong-script
    * contamination) a web-corpus pipeline runs before language ID:
    * exact per-class character counts (letters, digits, whitespace,
    * punctuation-ish remainder) and exact-ppm shares via integer
    * div. One scan, map-side only. */
  def scriptMix(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(cls: String) =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    val total = length(t).cast("long")
    df.filter(t.isNotNull && length(t) > 0)
      .select(col(idCol), total.as("n_chars"),
        cnt("[a-zA-Z]").as("n_alpha"),
        cnt("[0-9]").as("n_digit"),
        cnt("[ \\t\\n\\r]").as("n_space"))
      .withColumn("n_other", col("n_chars") - col("n_alpha") -
        col("n_digit") - col("n_space"))
      .withColumn("alpha_ppm",
        expr("n_alpha * 1000000 div n_chars"))
      .withColumn("digit_ppm",
        expr("n_digit * 1000000 div n_chars"))
      .withColumn("other_ppm",
        expr("n_other * 1000000 div n_chars"))
  }

  /** Gopher quality rules (Rae et al. 2021, Appendix A — the
    * standard web-corpus repetition/shape filter set), evaluated in
    * ONE scan with exact integer arithmetic (bound checks
    * cross-multiplied, never divided):
    *   1. word count within [minWords, maxWords]
    *   2. mean word length within [3, 10]   (3w ≤ letters ≤ 10w)
    *   3. symbol-to-word ratio ≤ 10%        (10·symbols ≤ words;
    *      symbols = '#', '…', and ASCII '...' — tracked as 3× the
    *      count so the check stays pure-integer: 10·s₃ ≤ 3·words)
    *   4. ≥ 80% of words contain a letter   (5·alphaWords ≥ 4·words)
    *   5. ≥ 2 of the canonical stop words present
    * Returns one row per rule with pass counts and exact-ppm pass
    * rate, plus an 'all_rules' row. */
  def gopherRules(df: DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have",
      "with")
    val lowered = lower(col(textCol))
    val tk = graft.functions.TextFunctions.tokens(lowered)
    val words = size(tk).cast("long")
    val letters = (length(col(textCol)) - length(regexp_replace(
      col(textCol), "[a-zA-Z]", ""))).cast("long")
    // 3x the symbol count, kept integral (no division): 3 per '#'
    // or '…' char, plus the chars deleted by removing each literal
    // non-overlapping '...' (3 per occurrence in both engines)
    val symbols3 = lit(3L) * (length(col(textCol)) -
      length(regexp_replace(col(textCol), "[#…]", ""))).cast("long") +
      (length(col(textCol)) - length(replace(col(textCol),
        lit("..."), lit("")))).cast("long")
    val alphaWords = size(filter(tk,
      w => w.rlike("[a-z]"))).cast("long")
    val stopHits = size(filter(tk,
      w => w.isin(stops: _*))).cast("long")
    val rules: Seq[(String, Column)] = Seq(
      ("word_count", words >= minWords && words <= maxWords),
      ("mean_word_len", lit(3L) * words <= letters &&
        letters <= lit(10L) * words),
      ("symbol_ratio", lit(10L) * symbols3 <= lit(3L) * words),
      ("alpha_words", lit(5L) * alphaWords >= lit(4L) * words),
      ("stop_words", stopHits >= 2))
    val all = rules.map(_._2).reduce(_ && _)
    val aggs = (rules :+ ("all_rules", all)).map { case (n, p) =>
      sum(when(p, 1L).otherwise(0L)).as(s"__$n")
    } :+ count(lit(1)).as("__n")
    val one = df.filter(col(textCol).isNotNull)
      .agg(aggs.head, aggs.tail: _*)
    (rules :+ ("all_rules", all)).zipWithIndex.map { case ((n, _), i) =>
      one.select(lit(i).as("rule_idx"), lit(n).as("rule"),
        col("__n").as("n_docs"), col(s"__$n").as("n_pass"),
        expr(s"`__$n` * 1000000 div `__n`").as("pass_ppm"))
    }.reduce(_ unionByName _)
  }
}
