package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`). Baseline: brute-force cosine top-k — a
  * single scan with a codegen'd higher-order dot product, planned as
  * TakeOrderedAndProject (no full sort, no driver collect of the
  * scan). Scale path: random-hyperplane LSH bucketing so the probe
  * only scans matching buckets — the bucket id is a deterministic
  * per-row map-side computation, the probe is a bucket-equi-join.
  */
object Similarity {

  /** dot product of two float-array columns, accumulated in double,
    * sequential left-to-right (deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine over float arrays: fused native codegen expression
    * (graft.sqlext.CosineSimilarity) — one pass, no intermediate
    * array, same sequential double accumulation as the composed
    * form (bit-identical results). */
  def cosine(a: Column, b: Column): Column =
    graft.sqlext.CosineSimilarity.cosine_similarity(a, b)

  /** Composed fallback for non-float arrays. */
  def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Brute-force cosine top-k against one query vector (as a literal
    * array). One scan; Catalyst plans a top-k, not a global sort. */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.select(col(idCol),
        round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse
    * any number of rankings of the same id space —
    * score(id) = Σ_lists 1/(k + rank_list(id)) — the standard way to
    * combine lexical (BM25) and embedding retrieval without score
    * calibration. Input rows are (listCol, idCol, scoreCol); ranks
    * are derived per list by (score desc, id asc) via a PARTITIONED
    * window (one shuffle on the list id — each list is a bounded
    * candidate set, never a full corpus). Emits (id, rrf_score,
    * n_lists); take the fused top-k downstream with orderBy+limit
    * (TakeOrdered). With ≤2 lists the double sum is exactly
    * order-independent (IEEE addition is commutative). */
  def rrfFuse(scores: DataFrame, listCol: String, idCol: String,
      scoreCol: String, k: Int = 60): DataFrame = {
    require(k >= 1, "k >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(listCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    scores.withColumn("__rk__", row_number().over(w))
      .groupBy(idCol)
      .agg(sum(lit(1.0) / (lit(k.toDouble) + col("__rk__")))
        .as("rrf_score"),
        count(lit(1)).cast("long").as("n_lists"))
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dim i weight
    * derived from a hash — stable across runs/engines, no RNG state.
    * Returns the sign-pattern bucket id (int, < 2^planes).
    * `seedOffset` selects an independent plane set (used for
    * multi-table LSH: table t uses offset t*planes). */
  def hyperplaneBucket(vec: Column, planes: Int,
      seedOffset: Int = 0): Column = {
    val terms = (0 until planes).map { p =>
      // w_{p,i} in [-1, 1): derived from xxhash64(p + seedOffset, i)
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (v, i) =>
          v.cast("double") *
            (pmod(xxhash64(lit(p + seedOffset), i), lit(1000L))
              .cast("double") / 500.0 - 1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1 << p)).otherwise(lit(0))
    }
    terms.reduce(_ + _)
  }

  /** Engine-portable variant of [[hyperplaneBucket]]: plane weights
    * from the 48-bit md5 primitive ([[PipelineOps.hash48Unit]] of
    * "p&lt;plane&gt;d&lt;dim&gt;") instead of xxhash64, so an external
    * engine can replay bucket assignment — the ANN twin of the
    * portable simhash (q91). Weights are w ∈ [-1, 1). */
  def hyperplaneBucketPortable(vec: Column, planes: Int): Column = {
    val terms = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (v, i) =>
          v.cast("double") *
            (PipelineOps.hash48Unit(concat(lit(s"p${p}d"),
              i.cast("string"))) * 2.0 - 1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1 << p)).otherwise(lit(0))
    }
    terms.reduce(_ + _)
  }

  /** [[lshTopK]] over the portable plane set (single table). */
  def lshTopKPortable(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, planes: Int = 8): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.filter(hyperplaneBucketPortable(col(vecCol), planes) ===
        hyperplaneBucketPortable(q, planes))
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Incremental nearest-existing report — the embedding side of
    * shard-vs-corpus dedup (SemDeDup's deployment shape): for every
    * NEW vector, its closest CORPUS vector among hyperplane-LSH
    * bucket mates (exact cosine, round 6; ties to the smallest
    * corpus id; new vectors whose bucket has no corpus mate are
    * absent — they are by construction not near-duplicates at the
    * probe's recall). Corpus-side hot buckets capped at `maxBucket`
    * (the side that accumulates boilerplate mass). One bucket
    * equi-join + one per-new-id top-1 window — never all-pairs.
    * `portable = true` uses the md5-derived planes so an external
    * engine replays bucket assignment (the oracle form). */
  def nearestExisting(newDocs: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, planes: Int = 8,
      maxBucket: Long = 1000L,
      portable: Boolean = false): DataFrame = {
    def bucketOf(v: Column) =
      if (portable) hyperplaneBucketPortable(v, planes)
      else hyperplaneBucket(v, planes)
    val n = newDocs.select(col(idCol).as("new_id"),
      col(vecCol).as("__nv__"), bucketOf(col(vecCol)).as("__b__"))
    val c0 = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("__cv__"), bucketOf(col(vecCol)).as("__b__"))
    val c = c0.withColumn("__bc__", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__b__")))
      .filter(col("__bc__") <= maxBucket).drop("__bc__")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("new_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    n.join(c, "__b__")
      .withColumn("cosine",
        round(cosine(col("__nv__"), col("__cv__")), 6))
      .withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1)
      .select(col("new_id"), col("corpus_id"), col("cosine"))
  }

  /** LSH-bucketed top-k: probe only rows whose bucket matches the
    * query's bucket in ANY of the `tables` independent hash tables
    * (each table = its own hash-derived plane set, OR-probe) — recall
    * rises with `tables` at proportionally more rows scanned. At
    * 100 TB the bucketed table is written partitioned by the table-0
    * bucket so the dominant probe is a partition-pruned scan. */
  def lshTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, planes: Int = 8,
      tables: Int = 1): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    val matchAny = (0 until tables).map { t =>
      hyperplaneBucket(col(vecCol), planes, t * planes) ===
        hyperplaneBucket(q, planes, t * planes)
    }.reduce(_ || _)
    df.filter(matchAny)
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** IVF with a FIXED coarse quantizer: the `nLists` lowest-id
    * vectors serve as list centroids — no iterative training, so an
    * external engine can replay the index end-to-end (the oracle-able
    * twin of [[ivfTopK]], whose MLlib kmeans|| centroids are internal
    * float state). Assignment = argmax round(cosine, 6) over the
    * centroids (ties → lowest centroid index); probe = the `nProbe`
    * lists nearest the query by the same rule. Same probe mechanics
    * and partition-pruning story as ivfTopK; list balance depends on
    * the data rather than on Lloyd refinement. */
  def ivfTopKPortable(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, nLists: Int = 8,
      nProbe: Int = 2): DataFrame = {
    val cents = df.orderBy(col(idCol)).limit(nLists)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0)).zipWithIndex
    require(cents.nonEmpty, "ivfTopKPortable: empty input")
    def centArr(c: Seq[Float]): Column = array(c.map(lit): _*)
    // argmax over (rounded cosine, -index): struct max picks the
    // highest similarity, then the lowest centroid index
    val assign = array_max(array(cents.map { case (c, ci) =>
      struct(round(cosine(col(vecCol), centArr(c)), 6).as("s"),
        lit(-ci).as("negc"))
    }: _*)).getField("negc") * -1
    val q = array(query.map(lit): _*)
    val probe = cents.map { case (c, ci) =>
      val cos = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        c.zip(query).foreach { case (a, b) =>
          dot += a.toDouble * b.toDouble
          na += a.toDouble * a.toDouble; nb += b.toDouble * b.toDouble
        }
        BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      (cos, ci)
    }.sortBy { case (cos, ci) => (-cos, ci) }.take(nProbe).map(_._2)
    df.withColumn("ivf_list", assign)
      .filter(col("ivf_list").isin(probe: _*))
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** IVF-style ANN: k-means centroids define inverted lists; probes
    * scan only the nProbe nearest lists. Centroids are tiny (k×dim,
    * driver-held literals); assignment is a map-side expression. At
    * rest, write the table partitioned by `ivf_list` so a probe is a
    * partition-pruned scan (SCALE.md). */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, nLists: Int = 16,
      nProbe: Int = 2, fitFraction: Double = 1.0): DataFrame = {
    import graft.ml.MlOps
    // dim comes from the query vector (must match the embedding dim) —
    // no extra head() scan of the table.
    val dim = query.length
    val feats = (0 until dim).map(i =>
      element_at(col(vecCol), i + 1).cast("double").as(s"f$i"))
    val flat = df.select((col(idCol) +: col(vecCol).as("__v__") +: feats): _*)
    // At 100 TB fit the centroids on a sample (fitFraction < 1) and
    // assign the full data — k-means quality needs only a sketch of
    // the distribution, not every row.
    val fitDf = if (fitFraction >= 1.0) flat
      else flat.sample(withReplacement = false, fitFraction, seed = 42L)
    val centroids = MlOps.kmeans(fitDf.drop(idCol, "__v__"),
      (0 until dim).map(i => s"f$i"), nLists)
      .groupBy("cluster")
      .agg(avg(col("f0")).as("c0"),
        (1 until dim).map(i => avg(col(s"f$i")).as(s"c$i")): _*)
      .collect()
      .map(r => r.getAs[Int]("cluster") ->
        (0 until dim).map(i => r.getAs[Double](s"c$i")))
    def nearestLists(v: Seq[Double], n: Int): Seq[Int] =
      centroids.sortBy { case (_, c) =>
        c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
      }.take(n).map(_._1).toSeq
    val assignExpr = centroids.map { case (cid, c) =>
      val dist = c.zipWithIndex.map { case (cv, i) =>
        (element_at(col("__v__"), i + 1).cast("double") - cv) *
          (element_at(col("__v__"), i + 1).cast("double") - cv)
      }.reduce(_ + _)
      struct(dist.as("d"), lit(cid).as("c"))
    }
    val q = query.map(_.toDouble)
    val probeLists = nearestLists(q, nProbe)
    val qArr = array(query.map(v => lit(v)): _*)
    flat.withColumn("ivf_list",
        array_min(array(assignExpr: _*)).getField("c"))
      .filter(col("ivf_list").isin(probeLists: _*))
      .select(col(idCol),
        round(cosine(col("__v__"), qArr), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs top-k neighbors per vector within LSH buckets
    * (k-NN graph construction). `planes = 0` disables bucketing and
    * builds the EXACT graph (all-pairs — only for small or sampled
    * data; the LSH default is the scale path). */
  def knnGraph(df: DataFrame, vecCol: String, idCol: String, k: Int,
      planes: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketCol =
      if (planes > 0) hyperplaneBucket(col(vecCol), planes) else lit(0)
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      bucketCol.as("bucket"))
    val pairs = b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nbr"),
        round(cosine(col("a.v"), col("b.v")), 6).as("cosine"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("nbr"))
    pairs.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") <= k).drop("__rn__")
  }

  /** Local Outlier Factor (reference src/ml/anomaly/mod.rs:204)
    * composed on [[knnGraph]] with cosine distance d = 1 − cos:
    *
    *   k-dist(p)      = max distance to p's k neighbors
    *   reach(p, o)    = max(k-dist(o), d(p, o))
    *   lrd(p)         = k / Σ reach(p, ·)
    *   LOF(p)         = avg(lrd(o)) / lrd(p)
    *
    * Every step is a groupBy/join keyed on the vector id — bounded
    * shuffles that scale with the graph, no driver state. LOF ≈ 1 for
    * inliers, ≫ 1 for outliers. */
  def lof(df: DataFrame, vecCol: String, idCol: String, k: Int,
      planes: Int = 6): DataFrame = {
    val g = knnGraph(df, vecCol, idCol, k, planes)
      .withColumn("dist", lit(1.0) - col("cosine"))
    val kdist = g.groupBy("id").agg(max(col("dist")).as("k_dist"))
    val reach = g.join(kdist.select(col("id").as("nbr"),
        col("k_dist").as("nbr_kdist")), "nbr")
      .select(col("id"), col("nbr"),
        greatest(col("nbr_kdist"), col("dist")).as("reach"))
    // duplicate-heavy neighborhoods can have Σreach = 0 → lrd = ∞
    val lrd = reach.groupBy("id")
      .agg(count(lit(1)).cast("double").as("deg"),
        sum(col("reach")).as("rsum"))
      .select(col("id"), when(col("rsum") > 0, col("deg") / col("rsum"))
        .otherwise(lit(Double.PositiveInfinity)).as("lrd"))
    reach.join(lrd.select(col("id").as("nbr"), col("lrd").as("nbr_lrd")),
        "nbr")
      .groupBy("id").agg(avg(col("nbr_lrd")).as("avg_nbr_lrd"))
      .join(lrd, "id")
      .select(col("id"), (col("avg_nbr_lrd") / col("lrd")).as("lof"))
  }

  /** SemDeDup-style semantic deduplication: cluster the embeddings
    * with a coarse quantizer, compare pairs only WITHIN a cluster,
    * and drop every vector that has a near-duplicate (rounded cosine
    * ≥ simThreshold) with a smaller id — the deterministic
    * keep-first-occurrence policy shared with paragraph dedup.
    * Returns every row as (idCol, cluster, keep).
    *
    * Quantizer = the nLists lowest-id vectors — deterministic and
    * engine-replayable (the q116 portable-IVF convention); at scale
    * swap in sample-fit k-means centroids, the plumbing is identical.
    * Scale shape: assignment is map-side against broadcast centroid
    * literals; the pair join is cluster-bounded (never all-pairs);
    * the published SemDeDup recipe caps cluster sizes the same way —
    * skewed clusters inherit the hot-bucket guidance in SCALE.md. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
      nLists: Int = 8, simThreshold: Double = 0.9): DataFrame = {
    val cents = df.orderBy(col(idCol)).limit(nLists)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0)).zipWithIndex
    require(cents.nonEmpty, "semanticDedup: empty input")
    def centArr(c: Seq[Float]): Column = array(c.map(lit): _*)
    // argmax over (rounded cosine, -index): highest similarity, then
    // lowest centroid index — same convention as ivfTopKPortable
    val assign = array_max(array(cents.map { case (c, ci) =>
      struct(round(cosine(col(vecCol), centArr(c)), 6).as("s"),
        lit(-ci).as("negc"))
    }: _*)).getField("negc") * -1
    val assigned = df
      .select(col(idCol), col(vecCol))
      .withColumn("cluster", assign.cast("long"))
    val l = assigned.select(col("cluster"), col(idCol).as("__ida__"),
      col(vecCol).as("__va__"))
    val r = assigned.select(col("cluster"), col(idCol).as("__idb__"),
      col(vecCol).as("__vb__"))
    val dropped = l.join(r, Seq("cluster"))
      .filter(col("__ida__") < col("__idb__") &&
        round(cosine(col("__va__"), col("__vb__")), 6) >= simThreshold)
      .select(col("__idb__").as("__dup__")).distinct()
    assigned
      .join(dropped, assigned(idCol) === dropped("__dup__"), "left")
      .select(col(idCol), col("cluster"),
        col("__dup__").isNull.as("keep"))
  }

  /** Per-dimension int8 scalar-quantization parameters: (dim, lo,
    * hi) from ONE posexplode + dim-bounded hash aggregate (shuffle
    * keys = vector dimensionality, never row count). */
  def int8QuantParams(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))

  /** Int8 scalar quantization of an embedding column — the 100 TB
    * memory/IO scale path for ANN (4× smaller vectors, integer
    * distance kernels). code_d = round((x−lo_d)/(hi_d−lo_d)·255)
    * clamped to [0, 255]; constant dimensions map to 0. The
    * per-dim ranges ride along as two broadcast array literals in a
    * one-row frame (no driver collect of row data); codes are a
    * deterministic map-side transform, engine-replayable bit-exact.
    * Returns (idCol, codes array<int>). */
  def quantizeInt8(df: DataFrame, vecCol: String,
      idCol: String): DataFrame = {
    val packed = int8QuantParams(df, vecCol).agg(
      transform(array_sort(collect_list(struct(col("dim"), col("lo")))),
        s => s.getField("lo")).as("__los__"),
      transform(array_sort(collect_list(struct(col("dim"), col("hi")))),
        s => s.getField("hi")).as("__his__"))
    df.crossJoin(broadcast(packed))
      .select(col(idCol),
        transform(col(vecCol), (x, i) => {
          val lo = element_at(col("__los__"), i + 1)
          val hi = element_at(col("__his__"), i + 1)
          when(hi > lo,
            least(greatest(round((x.cast("double") - lo) /
              (hi - lo) * 255).cast("int"), lit(0)), lit(255)))
            .otherwise(lit(0))
        }).as("codes"),
        col("__los__").as("los"), col("__his__").as("his"))
  }

  /** ANN top-k over int8-quantized codes with asymmetric distance:
    * the corpus is scanned as codes (4× less IO at rest), each code
    * is dequantized on the fly (lo_d + c·(hi_d−lo_d)/255) and scored
    * against the FULL-precision query — the standard SQ8 recipe.
    * Same TakeOrderedAndProject shape as [[bruteForceTopK]]; at
    * scale, persist [[quantizeInt8]]'s output and scan that instead
    * of the float column. */
  def quantizedTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    val quant = quantizeInt8(df, vecCol, idCol)
    def deq(c: Column, i: Column) =
      element_at(col("los"), i + 1) + c.cast("double") *
        (element_at(col("his"), i + 1) -
          element_at(col("los"), i + 1)) / 255.0
    val dotq = aggregate(
      transform(col("codes"), (c, i) => deq(c, i) * element_at(q, i + 1)),
      lit(0.0), (acc, v) => acc + v)
    val normDeq = sqrt(aggregate(
      transform(col("codes"), (c, i) => deq(c, i) * deq(c, i)),
      lit(0.0), (acc, v) => acc + v))
    val normQ = sqrt(aggregate(q, lit(0.0),
      (acc, v) => acc + v * v))
    quant
      .select(col(idCol),
        round(dotq / (normDeq * normQ), 6).as("qcosine"))
      .orderBy(col("qcosine").desc, col(idCol))
      .limit(k)
  }

  /** ANN index quality against exact search — the measurement loop
    * [[RetrievalEval]] exists for: `truth` is the exact top-k
    * (graded rel = k+1−rank so NDCG weighs early ranks), `run` is
    * the index's top-k; emits the trec_eval row (recall@k = how much
    * of the exact answer the index found, plus MRR/AP/NDCG). Both
    * inputs are (id, cosine) top-k frames (the bruteForceTopK /
    * lshTopK / ivfTopK output shape); ranks derive from
    * (cosine desc, id) over the k-row inputs — bounded by
    * construction. */
  def annRecall(truth: DataFrame, run: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cosine").desc, col(idCol))
    val qrels = truth.withColumn("rank", row_number().over(w))
      .select(lit(0L).as("qid"), col(idCol).as("did"),
        (lit(k + 1) - col("rank")).as("rel"))
    val runr = run.withColumn("rank", row_number().over(w))
      .select(lit(0L).as("qid"), col(idCol).as("did"), col("rank"))
    graft.llm.RetrievalEval.rankEval(runr, qrels, k)
  }

  /** Maximal-marginal-relevance (MMR, Carbonell & Goldstein 1998)
    * diverse top-k: greedily select k items maximizing
    * λ·rel(i) − (1−λ)·max_{s∈S} sim(i, s) — the standard
    * diversity-aware selection for curation/retrieval (exceeds the
    * reference). Scale shape: relevance top-`candidates` is the
    * distributed TakeOrdered scan; the greedy loop then runs on that
    * BOUNDED pool driver-side (k·|pool| cosines — the guarded
    * driver-op pattern). All cosines are rounded to 6 decimals
    * before comparison so the selection replays exactly in a SQL
    * oracle (the q115/q116 convention). Ties break to the lowest
    * id. Returns (rank, id, relevance, mmr_score). */
  def mmrSelect(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, lambda: Double = 0.5,
      candidates: Int = 200, maxCandidates: Int = 10000): DataFrame = {
    require(k >= 1 && candidates >= k, "need candidates >= k >= 1")
    // The relevance pool is distributed (codegen'd cosine +
    // TakeOrderedAndProject), but the greedy MMR selection collects
    // the pool and runs O(k · |pool| · dim) on the driver — inherent
    // to the sequential argmax. Cap it loudly (the tsne/transpose
    // maxN convention) so candidates=10^7 fails fast, not OOM.
    require(candidates <= maxCandidates,
      s"mmrSelect greedy stage is driver-side O(k*candidates*dim); " +
        s"candidates=$candidates > maxCandidates=$maxCandidates — " +
        "raise maxCandidates explicitly if the pool truly fits")
    val spark = df.sparkSession
    val q = array(query.map(v => lit(v)): _*)
    val pool = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("v"),
        round(cosine(col(vecCol), q), 6).as("rel"))
      .orderBy(col("rel").desc, col("id"))
      .limit(candidates)
      .collect()
    // HALF_UP to match Spark round() and DuckDB round()
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else r6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    final case class Cand(id: Long, vec: Array[Double], rel: Double)
    val cands = pool.map(r => Cand(r.getLong(0),
      r.getSeq[Float](1).map(_.toDouble).toArray, r.getDouble(2)))
    val selected =
      scala.collection.mutable.ArrayBuffer[(Cand, Double)]()
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.map { c =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.map(s => cos(c.vec, s._1.vec)).max
        (c, lambda * c.rel - (1.0 - lambda) * maxSim)
      }
      val best = scored.maxBy { case (c, sc) => (sc, -c.id) }
      selected += best
      remaining -= best._1
    }
    import spark.implicits._
    selected.zipWithIndex.map { case ((c, sc), i) =>
      (i + 1, c.id, c.rel, r6(sc)) }.toSeq
      .toDF("rank", "id", "relevance", "mmr_score")
  }

  /** Hard-negative mining for contrastive training: for each query
    * embedding, the k most cosine-similar candidates with a
    * DIFFERENT label — the negatives that actually teach the
    * decision boundary (vs [[PipelineOps.negativeSample]]'s random
    * draws). Per-query top-k via a PARTITIONED window with the
    * (cosine desc, id asc) tie-break on 6-dp-rounded cosines (the
    * q47 replay convention).
    *
    * Brute-force contract: cost is |queries| × |candidates| fused
    * codegen cosines — bound the QUERY side (e.g. `.limit(n)`, which
    * also lets Catalyst broadcast it); at corpus scale shortlist
    * candidates through [[ivfTopK]] / [[lshTopK]] and re-rank the
    * shortlist here. */
  def hardNegatives(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv__"),
      col(labelCol).as("__ql__")))
    val c = candidates.select(col(idCol).as("neg_id"),
      col(vecCol).as("__cv__"), col(labelCol).as("neg_label"))
    val scored = c.join(q,
        col("neg_label") =!= col("__ql__") &&
          col("neg_id") =!= col("query_id"))
      .select(col("query_id"), col("neg_id"), col("neg_label"),
        round(cosine(col("__cv__"), col("__qv__")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neg_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neg_id"),
        col("neg_label"), col("cosine"))
  }
}
