package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sqlext.WordShingles

/** Deduplication operators for training-data pipelines (north-star
  * extras per BASELINE.json). Every variant is a pure
  * shuffle-partitioned DataFrame pipeline: no driver-side state, no
  * O(rows) collect — the shapes that survive a 1000-executor 100 TB
  * run. The expensive step is always a groupBy/join on a bounded
  * key (hash, band signature, LSH bucket), never an all-pairs
  * comparison.
  */
object Dedup {

  /** Exact dedup on content hash: one hash-shuffle, keep the
    * smallest id per identical text. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1).drop("__rn__")
  }

  /** Groups of exact duplicates (size > 1). */
  def exactDupGroups(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))
      .filter(col("n_dups") > 1)

  /** Word shingles with a short-document guard: texts with fewer than
    * shingleSize words would yield an EMPTY shingle set, making every
    * signature slot null — all short docs would then share identical
    * band buckets (one giant spurious O(m²) bucket). Fall back to the
    * whole tokenized text as a single shingle instead, so short docs
    * only pair with identically-worded short docs. */
  private def guardedShingles(text: Column, shingleSize: Int): Column = {
    val sh = TextFunctions.wordNgrams(text, shingleSize)
    when(size(sh) > 0, sh)
      .otherwise(array(array_join(TextFunctions.tokens(lower(text)), " ")))
  }

  /** MinHash signatures from word shingles. Hashing is md5-based
    * (ASCII-hex compared lexicographically) so signatures are
    * engine-portable and deterministic; numHashes independent
    * permutations are simulated by salting. Signature computation is
    * per-row (map-side only). The xxhash64 production twin is the
    * native [[WordShingles.minhash_sig]] over `lower(text)`. */
  def minhashSignature(text: Column, numHashes: Int,
      shingleSize: Int = 3): Column = {
    val sh = guardedShingles(text, shingleSize)
    array((0 until numHashes).map { seed =>
      array_min(transform(sh, s => md5(concat(s, lit(":" + seed)))))
    }: _*)
  }

  /** Drop LSH buckets with more than maxBucket members before the
    * self-join. A hot bucket (boilerplate-heavy corpora, near-identical
    * band signatures) otherwise emits O(m²) candidate pairs and one
    * skewed key can dominate a 100 TB run — same skew rationale as the
    * maxDf postings guard in [[ngramJaccardPairs]].
    *
    * DROP vs SAMPLE is a deliberate choice: dropping the whole bucket
    * is deterministic and engine-replayable (a sampled bucket would
    * need a seeded lottery in both engines and still emits
    * maxBucket² pairs of mostly-boilerplate matches), and its recall
    * cost is backstopped twice — docs in a dropped bucket can still
    * pair through their OTHER bands, and the staged pipeline's
    * exact-hash stage 1 has already collapsed identical texts, so a
    * hot bucket is overwhelmingly boilerplate that exact dedup
    * missed by a token. Corpora where hot buckets carry real
    * near-dups should raise maxBucket (cost grows quadratically) or
    * add bands (cost grows linearly) rather than sample. */
  private def capBuckets(banded: DataFrame, maxBucket: Long,
      keys: String*): DataFrame =
    if (maxBucket == Long.MaxValue) banded
    else banded.withColumn("__bc__", count(lit(1))
        .over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bc__") <= maxBucket).drop("__bc__")

  /** MinHash + LSH banding: rows sharing any band bucket become
    * candidate pairs. bands*rowsPerBand = signature length. The
    * band-bucket groupBy is the only shuffle; candidate verification
    * joins back only the surviving pairs. */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 12, bands: Int = 4, shingleSize: Int = 3,
      maxBucket: Long = 1000L): DataFrame = {
    val rowsPerBand = numHashes / bands
    // NULL texts produce an all-null signature whose band bucket would
    // collapse to md5("") (array_join skips nulls) — cross-pairing
    // every null-text doc. They carry no content to match on: drop.
    val sig = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        minhashSignature(col(textCol), numHashes, shingleSize).as("sig"))
    val banded = capBuckets(sig.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => md5(array_join(
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), "|")))))
      .toDF("id", "band", "bucket"), maxBucket, "band", "bucket")
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Incremental exact dedup against an existing corpus — the first
    * pass of "dedup the new crawl shard against the 100 TB corpus":
    * every new doc is flagged `known` when its exact content hash
    * already exists in the corpus. One md5-keyed join (the corpus
    * side reduces to distinct hashes — persist that table once and
    * every future shard joins against it); null texts carry no
    * content and are excluded by contract (filter upstream).
    * Returns (idCol, text_md5, known). */
  /** Modality-neutral incremental exact dedup on a PRECOMPUTED
    * fingerprint column — the [[exactAgainst]] shape for media:
    * flag each new row whose fingerprint (image aHash, audio energy
    * hash, simhash, …) already exists in the corpus. The corpus
    * side reduces to its distinct-fingerprint set (persist that
    * table once; every future batch joins it), so per-batch work is
    * O(batch + corpus-side shuffle of one long column) — and the
    * fingerprint itself was computed once at ingest, never
    * recomputed here. Null fingerprints (undecodable media) are
    * excluded, matching the decode contract. */
  def fingerprintAgainst(newDf: DataFrame, corpus: DataFrame,
      idCol: String, fpCol: String): DataFrame = {
    val ck = corpus.filter(col(fpCol).isNotNull)
      .select(col(fpCol).as("fp")).distinct()
      .withColumn("__known__", lit(true))
    newDf.filter(col(fpCol).isNotNull)
      .select(col(idCol), col(fpCol).as("fp"))
      .join(ck, Seq("fp"), "left")
      .select(col(idCol), col("fp"),
        coalesce(col("__known__"), lit(false)).as("known"))
  }

  def exactAgainst(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val ch = corpus.filter(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("text_md5")).distinct()
      .withColumn("__known__", lit(true))
    newDocs.filter(col(textCol).isNotNull)
      .select(col(idCol), md5(col(textCol)).as("text_md5"))
      .join(ch, Seq("text_md5"), "left")
      .select(col(idCol), col("text_md5"),
        coalesce(col("__known__"), lit(false)).as("known"))
  }

  /** Bloom-PRUNED incremental exact dedup — same EXACT output as
    * [[exactAgainst]] (same oracle), different 100 TB cost shape:
    * a Bloom filter over the corpus hashes is built once (one
    * aggregation; ~1.2 MB per 1M distinct hashes at 1% fpp) and
    * broadcast, so the new shard is probed MAP-SIDE and only the
    * `mightContain` survivors (true dups + fpp false positives,
    * i.e. ~|dups| rows instead of |shard| rows) pay the verifying
    * shuffle join against the corpus hash table. At a 3% duplicate
    * rate that turns the dominant shuffle of the per-shard pipeline
    * into a ~3%-of-shard join; the Bloom filter itself is the
    * persist-once artifact a production corpus keeps alongside its
    * distinct-hash table. The UDF is the linted broadcast-probe
    * pattern (a Bloom bit test has no Column form). `expectedItems`
    * sizes the filter — pass the corpus's (approximate) distinct
    * count; an undersized filter only raises the false-positive
    * rate, never breaks exactness.
    *
    * CROSSOVER (measured, SCALE.md round 10): at small corpora the
    * plain [[exactAgainst]] join wins (100× organic probe: 0.32 s
    * vs 0.86 s — the bloom build + probe costs more than the small
    * join it avoids). Use this form when the corpus hash table is
    * large enough that the verifying join's shuffle dominates —
    * the billions-of-hashes regime this exists for. */
  def exactAgainstBloom(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    require(expectedItems >= 1, s"expectedItems >= 1: $expectedItems")
    require(fpp > 0.0 && fpp < 1.0, s"fpp in (0,1): $fpp")
    val ch = corpus.filter(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("text_md5")).distinct()
    val bf = ch.stat.bloomFilter("text_md5", expectedItems, fpp)
    val bfB = newDocs.sparkSession.sparkContext.broadcast(bf)
    val mightContain =
      udf((s: String) => s != null && bfB.value.mightContain(s))
    val probed = newDocs.filter(col(textCol).isNotNull)
      .select(col(idCol), md5(col(textCol)).as("text_md5"))
      .withColumn("__maybe__", mightContain(col("text_md5")))
    // verify ONLY the bloom survivors (bounded by dup mass + fpp);
    // definite negatives never shuffle
    val verified = probed.filter(col("__maybe__"))
      .join(ch.withColumn("__known__", lit(true)),
        Seq("text_md5"), "left")
      .select(col(idCol), col("text_md5"),
        coalesce(col("__known__"), lit(false)).as("known"))
    val negative = probed.filter(!col("__maybe__"))
      .select(col(idCol), col("text_md5"),
        lit(false).as("known"))
    verified.unionByName(negative)
  }

  /** Shared banding step of the md5-portable MinHash-LSH: per-row
    * signature -> (id, band, bucket) rows. */
  private def mhBanded(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        minhashSignature(col(textCol), numHashes, shingleSize)
          .as("sig"))
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => md5(array_join(
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            "|")))))
      .toDF("id", "band", "bucket")
  }

  /** Incremental MinHash-LSH near-dup against an existing corpus:
    * band the new batch AND the corpus with the same signature
    * recipe and join buckets ACROSS the two tables — candidates are
    * (new_id, corpus_id) pairs, never new×new or corpus×corpus (the
    * self-join variant [[minhashLshPairs]] covers within-batch
    * dups). Hot-bucket cap applies to the CORPUS side (the side
    * that accumulates boilerplate mass); the production deployment
    * persists the corpus banding once and each shard only bands
    * itself and joins. */
  def minhashLshAgainst(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, numHashes: Int = 12,
      bands: Int = 4, shingleSize: Int = 3,
      maxBucket: Long = 1000L): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val n = mhBanded(newDocs, textCol, idCol, numHashes, bands,
      shingleSize)
    val c = capBuckets(mhBanded(corpus, textCol, idCol, numHashes,
      bands, shingleSize), maxBucket, "band", "bucket")
    n.as("n").join(c.as("c"),
        col("n.band") === col("c.band") &&
          col("n.bucket") === col("c.bucket"))
      .select(col("n.id").as("new_id"), col("c.id").as("corpus_id"))
      .distinct()
  }

  /** Production-speed twin of [[minhashLshAgainst]]: xxhash64
    * signatures (codegen'd — the md5 recipe is interpreted hex-string
    * work that measured ~80 s at sf0.1 where this runs in ~1 s; the
    * same kernel-vs-portable split as winnowingFingerprintsFast /
    * cdcChunksFast). Identical banding, cap and cross-table join;
    * the md5 variant remains the engine-portable oracle twin. */
  def minhashLshAgainstFast(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, numHashes: Int = 12,
      bands: Int = 4, shingleSize: Int = 3,
      maxBucket: Long = 1000L): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val n = fastBanded(newDocs, textCol, idCol, numHashes, bands,
      shingleSize)
    val c = capBuckets(fastBanded(corpus, textCol, idCol, numHashes,
      bands, shingleSize), maxBucket, "band", "bucket")
    n.as("n").join(c.as("c"),
        col("n.band") === col("c.band") &&
          col("n.bucket") === col("c.bucket"))
      .select(col("n.id").as("new_id"), col("c.id").as("corpus_id"))
      .distinct()
  }

  /** Public banding accessor: the (id, band, bucket) LSH rows for
    * each doc — the persist-once corpus artifact of the incremental
    * pipeline (a production corpus stores this table alongside its
    * distinct-hash table so each new shard only bands ITSELF and
    * joins; re-banding a 100 TB corpus per shard would be O(corpus)
    * per batch = quadratic over the corpus lifetime).
    * `fast = true` → xxhash64 codegen kernel ([[fastBanded]]);
    * `false` → the md5 engine-portable oracle kernel. */
  def bandedSignatures(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 12, bands: Int = 4, shingleSize: Int = 3,
      fast: Boolean = true): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    if (fast) fastBanded(df, textCol, idCol, numHashes, bands,
      shingleSize)
    else mhBanded(df, textCol, idCol, numHashes, bands, shingleSize)
  }

  /** ONE micro-shard step of the continuously-growing-corpus dedup —
    * the kernel both the per-shard batch job and
    * [[graft.streaming.StreamOps.streamingIncrementalDedup]] run.
    * Semantics are batch-granular arrival order:
    *
    *   1. in-batch exact collapse — min `idCol` per text md5;
    *   2. exact-vs-corpus — drop docs whose md5 is in `priorHashes`;
    *   3. (if `lshStage`) near-dup — drop docs sharing an LSH band
    *      bucket with `priorBands` (corpus side hot-bucket-capped,
    *      the [[capBuckets]] argument) OR with a SMALLER-id exact
    *      survivor of the same batch (the dominated rule: candidate
    *      pairs are not transitive, so within a batch the larger id
    *      of every candidate pair is dropped rather than chasing
    *      chains — deterministic and one anti-join).
    *
    * Returns (kept docs in the input schema, their `text_md5` rows,
    * their band rows) — append the latter two to the corpus side
    * tables so the NEXT shard's stages 2–3 stay O(shard), never
    * O(corpus). Null texts carry no content and are excluded, as in
    * [[exactAgainst]]. */
  def incrementalDedupStep(newDocs: DataFrame, textCol: String,
      idCol: String, priorHashes: Option[DataFrame],
      priorBands: Option[DataFrame], numHashes: Int = 12,
      bands: Int = 4, shingleSize: Int = 3,
      maxBucket: Long = 1000L, fast: Boolean = true,
      lshStage: Boolean = true,
      bloomExpectedItems: Option[Long] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val inCols = newDocs.columns.map(col).toSeq
    val withH = newDocs.filter(col(textCol).isNotNull)
      .withColumn("__md5__", md5(col(textCol)))
    // 1. in-batch exact representative
    val rep = withH.groupBy("__md5__")
      .agg(min(col(idCol)).as("__rep__"))
    val inBatch = withH.join(rep, "__md5__")
      .filter(col(idCol) === col("__rep__")).drop("__rep__")
    // 2. exact vs corpus (anti-join on the distinct-hash table).
    // With bloomExpectedItems set, the exactAgainstBloom cost shape
    // instead: a corpus bloom filter is built once per batch and
    // broadcast, the batch is probed MAP-SIDE, and only `mightContain`
    // survivors (true dups + fpp) pay the verifying anti-join — at
    // billions of corpus hashes the anti-join's corpus-side shuffle
    // is the dominant per-batch term and this bounds it by dup mass.
    // Exactness is unconditional (bloom negatives are definite).
    val afterExact = priorHashes match {
      case Some(h) =>
        val ch = h.select(col("text_md5").as("__md5__")).distinct()
        bloomExpectedItems match {
          case Some(n) =>
            require(n >= 1, s"bloomExpectedItems >= 1: $n")
            val bf = ch.stat.bloomFilter("__md5__", n, 0.01)
            val bfB = newDocs.sparkSession.sparkContext.broadcast(bf)
            val mightContain =
              udf((s: String) => s != null && bfB.value.mightContain(s))
            val probed = inBatch.withColumn("__maybe__",
              mightContain(col("__md5__")))
            probed.filter(col("__maybe__"))
              .join(ch, Seq("__md5__"), "left_anti")
              .unionByName(probed.filter(!col("__maybe__")))
              .drop("__maybe__")
          case None =>
            inBatch.join(ch, Seq("__md5__"), "left_anti")
        }
      case None => inBatch
    }
    // 3. near-dup vs corpus bands + the in-batch dominated rule
    val kept =
      if (!lshStage) afterExact
      else {
        val nb = bandedSignatures(afterExact, textCol, idCol,
          numHashes, bands, shingleSize, fast)
        // hot-bucket cap on the SELF-join only (batch-sized window —
        // bounded); the corpus side below is capped by count filter
        val nbc = capBuckets(nb, maxBucket, "band", "bucket")
        val inBatchDup = nbc.as("a").join(nbc.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.id") > col("b.id"))
          .select(col("a.id").as("__dup__"))
        val dups = priorBands match {
          case Some(pb) =>
            // bucket EXISTENCE is all this stage needs (we drop the
            // new doc, we never emit the pair), so the corpus side
            // collapses to a hash-aggregated (band, bucket, cnt)
            // table — map-side partial agg, no sort — with the hot-
            // bucket cap as a count filter. The first version ran
            // capBuckets (a window SORT) over the full corpus band
            // table per batch, an O(corpus)-per-batch term (SCALE.md,
            // "streaming incremental corpus dedup — the deployment
            // capstone").
            val c = pb.groupBy("band", "bucket")
              .agg(count(lit(1)).as("__bc__"))
              .filter(col("__bc__") <= maxBucket)
              .select("band", "bucket")
            nb.join(c, Seq("band", "bucket"), "left_semi")
              .select(col("id").as("__dup__"))
              .unionByName(inBatchDup)
          case None => inBatchDup
        }
        afterExact.join(dups.distinct(),
          col(idCol) === col("__dup__"), "left_anti")
      }
    val keptDocs = kept.select(inCols: _*)
    val keptHashes = kept.select(col("__md5__").as("text_md5"))
    val keptBands = bandedSignatures(keptDocs, textCol, idCol,
      numHashes, bands, shingleSize, fast)
    (keptDocs, keptHashes, keptBands)
  }

  /** Production-speed SELF-join LSH pairs — the codegen twin of the
    * md5-portable [[minhashLshPairs]], with the same banding, cap
    * and pair semantics but the [[fastBanded]] signature plan (one
    * native-kernel projection; see SCALE.md, "native word-shingle
    * kernels"). Use this in pipelines; the md5 variant remains the
    * oracle form. */
  def minhashLshPairsFast(df: DataFrame, textCol: String,
      idCol: String, numHashes: Int = 12, bands: Int = 4,
      shingleSize: Int = 3, maxBucket: Long = 1000L): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val banded = capBuckets(fastBanded(df, textCol, idCol, numHashes,
      bands, shingleSize), maxBucket, "band", "bucket")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** All-codegen MinHash banding: (id, band, bucket) rows from ONE
    * map-side projection. The native [[WordShingles.minhash_sig]]
    * kernel tokenizes each lower-cased text once and keeps the
    * running minimum of xxhash64(j, shingle) per slot j while it
    * walks the shingles in place — no shingle array is materialized,
    * nothing shuffles, and the whole stage stays in whole-stage
    * codegen. Each band then hashes its rowsPerBand slots with
    * xxhash64. Short docs (< shingleSize tokens) hash the whole
    * tokenized text as one shingle, matching guardedShingles. Like
    * the md5 twin [[mhBanded]], every input row gets its own
    * signature: a repeated (or null) id yields one set of band rows
    * per row, not one merged signature per id. */
  private def fastBanded(df: DataFrame, textCol: String,
      idCol: String, numHashes: Int, bands: Int,
      shingleSize: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sig = col("__sig__")
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), WordShingles.minhash_sig(
        lower(col(textCol)), numHashes, shingleSize).as("__sig__"))
      .select(col("id"), posexplode(array((0 until bands).map { b =>
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => sig(i)): _*)
      }: _*)))
      .toDF("id", "band", "bucket")
  }

  /** n-gram Jaccard similarity pairs >= threshold, restricted to a
    * blocking key (e.g. same source/lang) so the candidate space is
    * per-block instead of all-pairs. Token-postings join + exact
    * set algebra: |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, n: Int, threshold: Double,
      maxDf: Long = Long.MaxValue): DataFrame = {
    val allToks = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      explode(TextFunctions.wordNgrams(col(textCol), n)).as("g"))
    // skew control for the postings join: n-grams appearing in more
    // than maxDf docs of a block generate O(df²) candidate pairs and
    // carry almost no Jaccard signal — drop them from the JOIN side
    // but keep them in the set sizes so Jaccard stays a lower bound.
    val toks = if (maxDf == Long.MaxValue) allToks else {
      val hot = allToks.groupBy("blk", "g").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("blk", "g")
      allToks.join(hot, Seq("blk", "g"), "left_anti")
    }
    val sizes = allToks.groupBy("blk", "id").agg(count(lit(1)).as("sz"))
    val inter = toks.as("x").join(toks.as("y"),
        col("x.blk") === col("y.blk") && col("x.g") === col("y.g") &&
        col("x.id") < col("y.id"))
      .groupBy(col("x.blk").as("blk_i"), col("x.id").as("id_a"),
        col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("blk_i") === col("sa.blk") &&
        col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("blk_i") === col("sb.blk") &&
        col("id_b") === col("sb.id"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sa.sz") + col("sb.sz") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs (Broder 1997's second
    * resemblance measure): c(A⊆B) = |A∩B| / |A|. Catches the dup
    * class symmetric Jaccard structurally misses — a short document
    * EMBEDDED in a long one scores Jaccard ≈ |A|/|B| (arbitrarily
    * small) but containment 1.0; quote-inclusion and page-wrapping
    * dups in web corpora are exactly this shape. Same bounded
    * postings-join skeleton as [[ngramJaccardPairs]] (per-block
    * candidates, maxDf hot-gram drop so containment stays a lower
    * bound); each unordered pair is emitted once with BOTH
    * directions, kept when the larger direction clears `threshold`.
    * Reference jaccard scope: /root/reference/src/text/mod.rs (the
    * reference has Jaccard only; containment is the scale-dedup
    * extension). */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, n: Int, threshold: Double,
      maxDf: Long = Long.MaxValue): DataFrame = {
    val allToks = df.select(col(blockCol).as("blk"),
      col(idCol).as("id"),
      explode(TextFunctions.wordNgrams(col(textCol), n)).as("g"))
    val toks = if (maxDf == Long.MaxValue) allToks else {
      val hot = allToks.groupBy("blk", "g").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("blk", "g")
      allToks.join(hot, Seq("blk", "g"), "left_anti")
    }
    val sizes = allToks.groupBy("blk", "id").agg(count(lit(1)).as("sz"))
    val inter = toks.as("x").join(toks.as("y"),
        col("x.blk") === col("y.blk") && col("x.g") === col("y.g") &&
        col("x.id") < col("y.id"))
      .groupBy(col("x.blk").as("blk_i"), col("x.id").as("id_a"),
        col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("blk_i") === col("sa.blk") &&
        col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("blk_i") === col("sb.blk") &&
        col("id_b") === col("sb.id"))
      .withColumn("contain_a_in_b",
        round(col("inter").cast("double") / col("sa.sz"), 6))
      .withColumn("contain_b_in_a",
        round(col("inter").cast("double") / col("sb.sz"), 6))
      .filter(greatest(col("contain_a_in_b"), col("contain_b_in_a"))
        >= threshold)
      .select(col("id_a"), col("id_b"),
        col("contain_a_in_b"), col("contain_b_in_a"))
  }

  /** SimHash-64: per-token xxhash64, majority vote per bit, packed to
    * one long. Near-dups differ in few bits (hamming distance).
    * Entirely map-side per row. */
  def simhash64(text: Column): Column = {
    val toks = TextFunctions.tokens(lower(text))
    val hashes = transform(toks, t => xxhash64(t))
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, bit) => acc + when(
        aggregate(hashes, lit(0L),
          (v, h) => v + when(call_function("shiftright", h, bit)
            .bitwiseAND(lit(1L)) === 1, lit(1L)).otherwise(lit(-1L))) > 0,
        call_function("shiftleft", lit(1L), bit)).otherwise(lit(0L)))
  }

  /** Engine-portable 48-bit SimHash: per-token hash = first 12 hex
    * chars of md5 (48 bits — exactly representable in a double, so an
    * oracle engine can parse it with plain arithmetic), majority vote
    * per bit. The xxhash64 variant above is the production fast path;
    * this one exists for cross-engine verification, mirroring the
    * minhash md5/fast split. */
  def simhash48Portable(text: Column): Column = {
    val toks = TextFunctions.tokens(lower(text))
    val hashes = transform(toks, t =>
      conv(substring(md5(t), 1, 12), 16, 10).cast("long"))
    aggregate(
      sequence(lit(0), lit(47)),
      lit(0L),
      (acc, bit) => acc + when(
        aggregate(hashes, lit(0L),
          (v, h) => v + when(call_function("shiftright", h, bit)
            .bitwiseAND(lit(1L)) === 1, lit(1L)).otherwise(lit(-1L))) > 0,
        call_function("shiftleft", lit(1L), bit)).otherwise(lit(0L)))
  }

  /** SimHash near-dup candidate pairs by banding the 64-bit hash into
    * 4 × 16-bit bands (any equal band → candidate, catches pairs
    * within hamming distance 3 guaranteed per pigeonhole). */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxBucket: Long = 1000L): DataFrame = {
    val withSim = df.select(col(idCol).as("id"),
      simhash64(col(textCol)).as("sim"))
    val banded = capBuckets(withSim.select(col("id"), col("sim"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sim"), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .toDF("id", "sim", "band", "bucket"), maxBucket, "band", "bucket")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
  }

  /** Engine-portable SimHash near-dup candidate pairs: bands the
    * 48-bit [[simhash48Portable]] into 4 × 12-bit bands (pigeonhole:
    * any pair within hamming distance 3 shares a band). The
    * cross-engine twin of [[simhashPairs]] — every step (md5 token
    * hash, majority vote, banding, bucket join, hamming) replays in
    * plain SQL, so the pairs themselves are oracle-checkable. */
  def simhashPairsPortable(df: DataFrame, textCol: String,
      idCol: String, maxBucket: Long = 1000L): DataFrame = {
    val withSim = df.select(col(idCol).as("id"),
      simhash48Portable(col(textCol)).as("sim"))
    val banded = capBuckets(withSim.select(col("id"), col("sim"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sim"), b * 12).bitwiseAND(0xFFFL)): _*)))
      .toDF("id", "sim", "band", "bucket"), maxBucket, "band", "bucket")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
  }

  /** Embedding cosine near-dup pairs within LSH buckets (see
    * Similarity.hyperplaneBucket): bucket join, then exact cosine on
    * candidates only. */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String,
      idCol: String, planes: Int, threshold: Double,
      maxBucket: Long = 1000L): DataFrame = {
    val b = capBuckets(df.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.hyperplaneBucket(col(vecCol), planes).as("bucket")),
      maxBucket, "bucket")
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos",
        Similarity.cosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Cross-document duplicate-SPAN detection — the exact-substring
    * dedup of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2022) re-expressed Spark-first. Instead of a
    * suffix array (inherently sequential), every w-token window is
    * hashed positionally; a window whose (doc, pos) is not the global
    * first occurrence of its hash is a duplicated shingle, and runs
    * of consecutive duplicated shingles merge into maximal per-doc
    * spans [start_tok, end_tok] (inclusive, 0-based token indices).
    *
    * Scale shape: shingle hashing is map-side (one row per token:
    * the native [[WordShingles.word_ngrams]] kernel emits the
    * positional w-token windows, md5 hashes each); first-occurrence
    * is ONE hash shuffle (min(struct(doc,pos)) aggregate); the
    * mark-back join is 1:1 per shingle instance so hot shingles
    * cannot blow up output; span merging is a per-doc window
    * (partitioned by doc_id, never global). Returns (doc_id, start_tok, end_tok, n_shingles);
    * callers drop or clip the spans from the text. */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
      w: Int = 8): DataFrame = {
    require(w >= 2, "duplicateSpans needs w >= 2")
    val sh = docs.select(col(idCol).as("doc_id"),
        posexplode(WordShingles.word_ngrams(lower(col(textCol)), w,
          distinct = false)).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), md5(col("g")).as("h"))
    // first-occurrence filter as ONE unordered window over the hash
    // partition instead of aggregate + self-join: the agg's partial
    // exchange and the join's full exchange carried the shingle
    // table TWICE (the exchanges differ, so nothing was reused) —
    // the window shuffles it once and keeps the identical
    // min(struct(doc_id, pos)) semantics
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

  /** Companion to [[duplicateSpans]]: rebuild each document's text
    * with the duplicated spans removed (the "drop the repeated
    * substring, keep the first occurrence" step of substring dedup).
    * Tokens are dropped iff their position falls inside one of the
    * doc's spans; remaining tokens rejoin in order. Per-doc range
    * anti-join (spans per doc are few and non-overlapping by
    * construction) + one per-doc aggregate — no global state. Docs
    * without spans pass through unchanged (normalized to the same
    * lower/whitespace canon as the span detector). */
  def clipSpans(docs: DataFrame, spans: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(lower(col(textCol)))))
      .toDF("doc_id", "pos", "tok")
    val kept = toks.join(spans.select(col("doc_id"), col("start_tok"),
        col("end_tok")).as("sp"),
      toks("doc_id") === col("sp.doc_id") &&
        toks("pos") >= col("sp.start_tok") &&
        toks("pos") <= col("sp.end_tok"),
      "left_anti")
    kept.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("pos"), col("tok")))), x => x("tok")), " ")
          .as("text_clean"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS local fingerprinting scheme): hash every
    * character k-gram, slide a window of `w` consecutive hashes, and
    * select the minimum of each window (rightmost on ties). The
    * selected (position, hash) set is a provably-dense local
    * fingerprint: any substring shared between two documents of
    * length ≥ w + k − 1 contributes at least one IDENTICAL selected
    * fingerprint to both — so a plain fp-keyed equi-join finds all
    * long shared passages (plagiarism / quote / near-dup spans)
    * without an all-pairs comparison. Emits (doc_id, pos, fp).
    *
    * The k-gram hash is base-31 polynomial over code points with a
    * 40-bit mask applied EVERY step (plain BIGINT in the DuckDB
    * oracle, bit-identical); 40-bit values keep the birthday
    * collision odds negligible at corpus scale while the
    * min-ordering runs over nonnegative values. Documents shorter
    * than w + k − 1 produce no fingerprints (filtered). The
    * per-document kernel is a true O(len) rolling hash + monotonic
    * deque inside whole-stage codegen (`WinnowFingerprints`); the
    * O(len·k) SQL-lambda form the oracle replays is the test oracle
    * `DedupOracle.winnowingFingerprints`, bit-equal on every input. */
  def winnowingFingerprintsFast(df: DataFrame, idCol: String,
      textCol: String, k: Int = 8, w: Int = 4): DataFrame = {
    df.select(col(idCol).as("doc_id"), col(textCol).as("__t__"))
      .filter(col("__t__").isNotNull &&
        length(col("__t__")) >= k + w - 1)
      .select(col("doc_id"),
        explode(graft.sqlext.WinnowFingerprints
          .winnow_fps(col("__t__"), k, w)).as("pk"))
      .select(col("doc_id"),
        expr("pk >> 40").as("pos"),
        expr("pk & 1099511627775").as("fp"))
  }

  /** Quality-aware canonical selection for duplicate groups: where
    * [[exact]] keeps the smallest id, real pipelines keep the BEST
    * copy of each duplicate cluster (longest / highest quality
    * score — duplicates often differ by truncation or boilerplate).
    * Canonical = argmax (score, then smallest id) per content-hash
    * group, resolved with ONE min(struct) aggregation (no window
    * over the group): min over (−score, id) is score-desc then
    * id-asc, and the id itself is never negated so ANY orderable id
    * type works (string ids included). `scoreCol` must be numeric.
    * Emits every member of each multi-member group with its
    * canonical id and keep flag. */
  def canonicalByQuality(df: DataFrame, textCol: String,
      idCol: String, scoreCol: String): DataFrame = {
    val h = md5(col(textCol))
    val base = df.filter(col(textCol).isNotNull &&
        col(idCol).isNotNull)
      .select(h.as("__h__"), col(idCol).as("doc_id"),
        col(scoreCol).as("score"))
    val best = base.groupBy("__h__")
      .agg(count(lit(1)).as("group_size"),
        min(struct((col("score") * -1).as("negscore"),
          col("doc_id").as("id"))).as("b"))
      .filter(col("group_size") >= 2)
      .select(col("__h__"), col("group_size"),
        col("b.id").as("canonical_id"))
    base.join(best, Seq("__h__"))
      .select(col("doc_id"), col("canonical_id"), col("group_size"),
        col("score"), (col("doc_id") === col("canonical_id"))
          .as("is_canonical"))
  }

  /** MinHash-LSH parameter planner: the detection-probability curve
    * p(s) = 1 − (1 − s^r)^b over a similarity grid for a (bands b,
    * rows-per-band r) configuration, plus the 50%-detection
    * threshold s* = (1/b)^(1/r) — how the q44 banding parameters
    * get CHOSEN before a corpus-scale dedup run. Powers are expanded
    * as explicit repeated multiplication (left-associated — the
    * identical float expression tree in any engine; no libm pow in
    * the curve), so the table is engine-replayable bit-for-bit. */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, bands: Int,
      rowsPerBand: Int, steps: Int = 20): DataFrame = {
    require(bands >= 1 && bands <= 64, s"bands in [1,64], got $bands")
    require(rowsPerBand >= 1 && rowsPerBand <= 32,
      s"rowsPerBand in [1,32], got $rowsPerBand")
    require(steps >= 2 && steps <= 1000,
      s"steps in [2,1000], got $steps")
    import spark.implicits._
    val base = (1 until steps).toDF("i")
      .select(col("i"), (col("i").cast("double") / steps).as("s"))
    val sR = Seq.fill(rowsPerBand)(col("s")).reduce(_ * _)
    val oneMinus = lit(1.0) - sR
    val miss = Seq.fill(bands)(oneMinus).reduce(_ * _)
    val sStar = math.pow(1.0 / bands, 1.0 / rowsPerBand)
    base.select(col("i"), col("s"),
      (lit(1.0) - miss).as("p_detect"),
      lit(sStar).as("s_half"),
      (lit(1.0) - miss >= 0.5).as("above_half"))
  }

  /** Chunk-emit tail of [[cdcChunksFast]] and of its test oracle:
    * expects (doc_id, __t__, __ac__=ascending cut ends). */
  private[graft] def emitCdcChunks(df: DataFrame): DataFrame = {
    val chunks = expr(
      """transform(sequence(1, size(__ac__)), j -> struct(
        |  cast(j as bigint) as idx,
        |  case when j = 1 then 1L
        |       else element_at(__ac__, j - 1) + 1L end as st,
        |  element_at(__ac__, j) as en))""".stripMargin)
    df.select(col("doc_id"), col("__t__"),
        explode(chunks).as("c"))
      .select(col("doc_id"), col("c.idx").as("chunk_idx"),
        col("c.st").as("chunk_start"),
        (col("c.en") - col("c.st") + 1L).as("chunk_len"),
        md5(expr("""substring(__t__, cast(c.st as int),
          cast(c.en - c.st + 1 as int))"""))
          .as("chunk_md5"))
  }

  /** Content-defined chunking (the storage-dedup primitive — FastCDC
    * /LBFS family): boundaries fall where the k-gram rolling hash ≡ 0
    * (mod 2^b), so an insertion early in a document shifts offsets
    * but the boundary positions RE-SYNCHRONIZE at the next content
    * match — unlike fixed-size chunking, which invalidates every
    * later chunk (spec'd). Hash is the repo's base-31 masked
    * polynomial (q414 convention: 40-bit mask EVERY step,
    * ANSI-overflow-safe, plain BIGINT in the oracle). A boundary at
    * gram start i cuts AFTER character i+k−1; the document end is
    * always a cut, and a gap of `maxLen` characters without one is
    * cut every `maxLen`. Docs shorter than k yield one whole-doc
    * chunk. Emits (doc_id, chunk_idx, chunk_start, chunk_len,
    * chunk_md5) — pure per-doc map, no shuffle. Average chunk ≈ 2^b
    * chars. Boundary detection is one codegen'd expression
    * (`CdcCuts`); the O(len·k) SQL-lambda chain the DuckDB oracle
    * replays is the test oracle `DedupOracle.cdcChunks`, bit-equal
    * on every input. */
  def cdcChunksFast(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, modBits: Int = 6, maxLen: Int = 256): DataFrame = {
    require(k >= 2 && k <= 64, s"k in [2,64], got $k")
    require(modBits >= 1 && modBits <= 20,
      s"modBits in [1,20], got $modBits")
    df.select(col(idCol).as("doc_id"), col(textCol).as("__t__"))
      .filter(col("__t__").isNotNull && length(col("__t__")) >= 1)
      .withColumn("__ac__",
        graft.sqlext.CdcCuts.cdc_cuts(col("__t__"), k, modBits,
          maxLen))
      .transform(emitCdcChunks)
  }

  /** Cross-corpus duplicate-chunk report over [[cdcChunksFast]]: every
    * chunk content stored more than once, with copy count, distinct
    * holding docs, and the bytes a content-addressed store saves.
    * ONE groupBy on the chunk hash — the dedup-ratio estimator for
    * a 100 TB blob store. */
  def cdcDedupReport(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, modBits: Int = 6, maxLen: Int = 256): DataFrame =
    cdcChunksFast(df, idCol, textCol, k, modBits, maxLen)
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        first(col("chunk_len")).as("chunk_len"),
        ((count(lit(1)) - 1L) * first(col("chunk_len")))
          .as("bytes_saved"))
      .filter(col("n_copies") > 1)

  /** Shared-content candidate pairs from [[cdcChunksFast]] — the
    * chunk-level sibling of [[winnowingPairs]]: documents sharing at
    * least `minShared` chunk content-ids become a pair with their
    * chunk-Jaccard. Chunks held by more than `maxDf` docs are
    * boilerplate and excluded from pair generation (bounds the
    * bucket fan-out — the all-pairs trap guard); per-doc totals
    * count ALL distinct chunks, so the reported jaccard is
    * conservative under boilerplate exclusion (the winnowingPairs
    * convention, documented there). One chunk-keyed shuffle. */
  def cdcPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, modBits: Int = 6, maxLen: Int = 256,
      maxDf: Int = 64, minShared: Int = 2): DataFrame = {
    require(maxDf >= 2, s"maxDf >= 2, got $maxDf")
    require(minShared >= 1, s"minShared >= 1, got $minShared")
    val ch = cdcChunksFast(df, idCol, textCol, k, modBits, maxLen)
      .select(col("doc_id"), col("chunk_md5")).distinct()
    val totals = ch.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"))
    val keptHashes = ch.groupBy("chunk_md5")
      .agg(count(lit(1)).as("__df__"))
      .filter(col("__df__") >= 2 && col("__df__") <= maxDf)
      .select("chunk_md5")
    val kept = ch.join(keptHashes, "chunk_md5")
    val pairs = kept.as("a")
      .join(kept.as("b"), col("a.chunk_md5") === col("b.chunk_md5") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(totals.select(col("doc_id").as("doc_a"),
        col("n_chunks").as("na")), "doc_a")
      .join(totals.select(col("doc_id").as("doc_b"),
        col("n_chunks").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("na"), col("nb"),
        round(col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")), 6)
          .as("chunk_jaccard"))
  }

  /** Shared-passage candidate pairs from [[winnowingFingerprintsFast]]:
    * documents sharing ≥ `minShared` selected fingerprints, with
    * fingerprint-set Jaccard. The postings self-join is keyed on the
    * fingerprint; `maxDf` drops boilerplate fingerprints present in
    * more than that many documents (a fingerprint shared by
    * everything carries no pair signal and would fan out as df² —
    * the q45 n-gram maxDf argument). One fp-keyed shuffle + one
    * pair-keyed aggregation — no all-pairs comparison.
    *
    * `fp_jaccard` is deliberately asymmetric about the df filter:
    * n_shared counts only fingerprints surviving df ∈ [2, maxDf],
    * while nfp_a/nfp_b count ALL per-doc fingerprints — "shared
    * non-boilerplate over full fingerprint union". This
    * under-estimates raw set overlap when boilerplate is dropped,
    * which is the conservative direction for dedup (boilerplate
    * cannot inflate similarity) and keeps the denominator stable as
    * maxDf moves. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 2,
      maxDf: Int = 100): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    // the native O(len) kernel — bit-identical to the lambda form
    val fps = winnowingFingerprintsFast(df, idCol, textCol, k, w)
      .select(col("doc_id"), col("fp")).distinct()
    val perDoc = fps.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val post = fps.join(keep.select(col("fp")), Seq("fp"))
    post.as("a").join(post.as("b"),
        col("a.fp") === col("b.fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(perDoc.select(col("doc_id").as("id_a"),
        col("nfp").as("nfp_a")), Seq("id_a"))
      .join(perDoc.select(col("doc_id").as("id_b"),
        col("nfp").as("nfp_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("nfp_a"), col("nfp_b"),
        (col("n_shared").cast("double") /
          (col("nfp_a") + col("nfp_b") - col("n_shared")))
          .as("fp_jaccard"))
  }
}
