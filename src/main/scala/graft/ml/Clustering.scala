package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.LocalStrategy

/** Density clustering (reference src/ml/clustering/mod.rs:535 DBSCAN).
  *
  * Distributed DBSCAN via grid-cell blocking: each point lands in the
  * cell `floor(f_i/eps)` per dimension, and any eps-neighbor must lie
  * in one of the 3^d adjacent cells — so the candidate join is
  * cell-key-equi, never all-pairs. Pipeline:
  *
  *  1. explode each point to its 3^d probe cells, equi-join against
  *     points keyed by home cell, keep pairs with ‖a−b‖ ≤ eps;
  *  2. core points: ≥ minPts − 1 neighbors (the point itself counts);
  *  3. clusters: connected components over CORE-CORE edges
  *     (min-label propagation — cluster id = smallest core id);
  *  4. border points attach to the smallest adjacent core cluster;
  *     everything else is noise (cluster null).
  *
  * The 3^d probe fan-out limits this to low-dimensional feature
  * spaces (d ≲ 8) — the classical DBSCAN regime. For high-dim
  * embeddings compose the same steps 2-4 over
  * `Dedup.embeddingNearDupPairs` (cosine-LSH candidates) instead.
  */
object Clustering {

  def dbscan(df: DataFrame, featureCols: Seq[String], idCol: String,
      eps: Double, minPts: Int): DataFrame = {
    require(featureCols.nonEmpty && featureCols.size <= 8,
      "dbscan grid blocking needs 1-8 feature columns")
    val d = featureCols.size
    val feats = featureCols.zipWithIndex.map { case (c, i) =>
      col(c).cast("double").as(s"__f$i")
    }
    val pts = df.select(col(idCol).as("id") +: feats: _*)
    val cell = array(featureCols.indices.map(i =>
      floor(col(s"__f$i") / eps).cast("long")): _*)
    val home = pts.withColumn("__cell__", cell)
    val offsets = featureCols.indices.foldLeft(Seq(Seq.empty[Long]))(
      (acc, _) => for (a <- acc; v <- Seq(-1L, 0L, 1L)) yield a :+ v)
    val probe = home.withColumn("__pcell__",
      explode(array(offsets.map(o =>
        zip_with(col("__cell__"), array(o.map(lit): _*), _ + _)): _*)))
    val distSq = featureCols.indices.map(i =>
      (col(s"a.__f$i") - col(s"b.__f$i")) *
        (col(s"a.__f$i") - col(s"b.__f$i"))).reduce(_ + _)
    val pairs = probe.as("a").join(home.as("b"),
        col("a.__pcell__") === col("b.__cell__") &&
        col("a.id") =!= col("b.id") && distSq <= lit(eps * eps))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val degrees = pairs.groupBy(col("id_a").as("id"))
      .agg(count(lit(1)).as("__deg__"))
    val core = degrees.filter(col("__deg__") >= minPts - 1)
      .select(col("id"))
    val coreEdges = pairs
      .join(core.withColumnRenamed("id", "id_a"), "id_a")
      .join(core.withColumnRenamed("id", "id_b"), "id_b")
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comps = graft.graphops.GraphOps.connectedComponents(coreEdges,
        vertices = Some(core))
      .withColumnRenamed("component", "__cluster__")
    val coreLabeled = core.join(comps, "id")
      .withColumn("is_core", lit(true))
    // border: non-core with >=1 core neighbor -> smallest such cluster
    val border = pairs.join(core.withColumnRenamed("id", "id_a"),
        Seq("id_a"), "left_anti") // id_a not core
      .join(comps.withColumnRenamed("id", "id_b"), "id_b")
      .groupBy(col("id_a").as("id"))
      .agg(min(col("__cluster__")).as("__cluster__"))
      .withColumn("is_core", lit(false))
    val labeled = coreLabeled.select("id", "__cluster__", "is_core")
      .unionByName(border.select("id", "__cluster__", "is_core"))
    pts.select("id").join(labeled, Seq("id"), "left")
      .select(col("id"), col("__cluster__").as("cluster"),
        coalesce(col("is_core"), lit(false)).as("is_core"))
  }

  /** Deterministic Lloyd k-means: initial centroids are the k rows
    * with the smallest ids; `iters` fixed assign/update rounds. Each
    * assignment is a map-side argmin over k broadcast centroid
    * literals (ties → smallest cluster index); each update is one
    * groupBy whose k×dim result is collected (centroids are tiny by
    * definition). With integer features every centroid is an exact
    * integer-sum / count — fully reproducible across engines, which
    * is the point: MLlib's kmeans|| stays the production path, this
    * variant is the declarative, oracle-verifiable formulation.
    * Empty clusters keep their previous centroid. Returns
    * (id, cluster).
    *
    * Strategy ([[graft.LocalStrategy]]): a point table at most
    * `spark.sql.autoBroadcastJoinThreshold` (rows × row width) is
    * collected once and the rounds run on the driver with the same
    * argmin (a null distance sorts first, NaN last, ties to the
    * lowest index) and the same sums, returning a local DataFrame.
    * A larger one runs distributed over the point table materialized
    * once and released on return; the answer is checkpointed first. */
  def kmeansLloyd(df: DataFrame, featureCols: Seq[String],
      idCol: String, k: Int, iters: Int): DataFrame = {
    val pts = df.select(col(idCol).as("id") +:
      featureCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("double").as(s"__f$i") }: _*)
    val d = featureCols.size
    def assignExpr(centroids: Seq[Seq[Double]]): Column = {
      val scored = centroids.zipWithIndex.map { case (c, ci) =>
        val dist = (0 until d).map(i =>
          (col(s"__f$i") - c(i)) * (col(s"__f$i") - c(i))).reduce(_ + _)
        struct(dist.as("d"), lit(ci).as("c"))
      }
      array_min(array(scored: _*)).getField("c")
    }
    def assigned(p: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
      p.withColumn("cluster", assignExpr(centroids))
        .select(col("id"), col("cluster").cast("long").as("cluster"))
    def features(r: Row): IndexedSeq[Double] =
      (0 until d).map(i => r.getDouble(i + 1))
    LocalStrategy.run(pts, "id") { rows =>
      val centroids = kmeansLocal(rows, d, k, iters, features)
      val out = rows.map(r => Row(r.get(0),
        nearest(r, d, centroids).map(c => Long.box(c.toLong)).orNull))
      // analysis only: the distributed plan's schema (and its error
      // when there is no centroid)
      val schema = assigned(pts, centroids).schema
      df.sparkSession.createDataFrame(out.toSeq.asJava, schema)
    } { cachedPts =>
      LocalStrategy.cached(cachedPts) { p =>
        var centroids: Seq[Seq[Double]] =
          p.orderBy("id").limit(k).collect().toSeq.map(features)
        (1 to iters).foreach { _ =>
          val sums = p.withColumn("cluster", assignExpr(centroids))
            .groupBy("cluster")
            .agg(count(lit(1)).cast("double").as("n"),
              (0 until d).map(i => sum(col(s"__f$i")).as(s"s$i")): _*)
            .collect()
            .map(r => r.getAs[Int]("cluster") ->
              (0 until d).map(i => r.getAs[Double](s"s$i") /
                r.getAs[Double]("n")))
            .toMap
          centroids = centroids.indices.map(ci =>
            sums.getOrElse(ci, centroids(ci)))
        }
        // materialized before the point cache is released
        assigned(p, centroids).localCheckpoint(eager = true)
      }
    }
  }

  /** The Lloyd rounds of [[kmeansLloyd]] on collected (id, features)
    * rows: initial centroids are the features of the k smallest ids
    * (nulls first, as `orderBy`), each update the per-cluster sum of
    * the non-null values over the cluster's row count. */
  private def kmeansLocal(rows: Array[Row], d: Int, k: Int, iters: Int,
      features: Row => IndexedSeq[Double]): Seq[Seq[Double]] = {
    var centroids: Seq[Seq[Double]] = rows
      .sortBy(_.get(0))(LocalStrategy.keyOrdering).take(k).toSeq
      .map(features)
    (1 to iters).foreach { _ =>
      val n = new Array[Long](centroids.size)
      val s = Array.ofDim[Double](centroids.size, d)
      rows.foreach { r =>
        nearest(r, d, centroids).foreach { ci =>
          n(ci) += 1
          (0 until d).foreach { i =>
            if (!r.isNullAt(i + 1)) s(ci)(i) += r.getDouble(i + 1)
          }
        }
      }
      centroids = centroids.indices.map(ci =>
        if (n(ci) == 0) centroids(ci)
        else s(ci).toSeq.map(_ / n(ci).toDouble))
    }
    centroids
  }

  /** `array_min(array(struct(dist, ci)))` of [[kmeansLloyd]]: a null
    * feature makes every distance null, which sorts first, so index 0
    * wins; otherwise the smallest distance under Spark's double order
    * (NaN largest) with ties to the lowest index. None without
    * centroids. */
  private def nearest(r: Row, d: Int,
      centroids: Seq[Seq[Double]]): Option[Int] =
    if (centroids.isEmpty) None
    else if ((1 to d).exists(r.isNullAt)) Some(0)
    else {
      def lt(a: Double, b: Double) = !a.isNaN && (b.isNaN || a < b)
      var best = -1
      var bestD = 0.0
      centroids.zipWithIndex.foreach { case (c, ci) =>
        var dist = 0.0
        var i = 0
        while (i < d) {
          val t = r.getDouble(i + 1) - c(i)
          dist = if (i == 0) t * t else dist + t * t
          i += 1
        }
        if (best < 0 || lt(dist, bestD)) { best = ci; bestD = dist }
      }
      Some(best)
    }

  /** Agglomerative hierarchical clustering (reference
    * src/ml/clustering agglomerative): nearest-neighbor-chain with
    * Lance-Williams updates — O(n²) time and memory, inherently
    * sequential merging, so DRIVER-SIDE on collected points with a
    * hard `maxN` guard (mirrors the guarded transpose pattern; the
    * reference is single-node here too). Cut at `k` clusters by
    * replaying the dendrogram merges in height order. Linkage:
    * "single" | "complete" | "average". Returns (id, cluster) with
    * cluster = smallest member id. */
  def agglomerative(df: DataFrame, featureCols: Seq[String],
      idCol: String, k: Int, linkage: String = "average",
      maxN: Int = 2000): DataFrame = {
    require(Seq("single", "complete", "average").contains(linkage),
      s"unknown linkage $linkage")
    val rows = df.select(col(idCol).cast("long") +:
        featureCols.map(c => col(c).cast("double")): _*)
      .collect()
    val n = rows.length
    require(n <= maxN, s"agglomerative is O(n²) single-node; " +
      s"n=$n > maxN=$maxN — cluster a sample or use dbscan/kmeans")
    require(k >= 1 && k <= n, s"k=$k out of range")
    val ids = rows.map(_.getLong(0))
    val pts = rows.map(r => Array.tabulate(featureCols.size)(i =>
      r.getDouble(i + 1)))
    // full distance matrix
    val d = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        var s = 0.0; var f = 0
        while (f < pts(i).length) {
          val df0 = pts(i)(f) - pts(j)(f); s += df0 * df0; f += 1
        }
        val dist = math.sqrt(s); d(i)(j) = dist; d(j)(i) = dist
        j += 1
      }
      i += 1
    }
    val size = Array.fill(n)(1)
    val active = Array.fill(n)(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Double)]
    // NN-chain: grow a chain of nearest neighbors until two clusters
    // are mutual NNs, then merge via Lance-Williams
    val chain = scala.collection.mutable.ArrayBuffer.empty[Int]
    var remaining = n
    def nearest(x: Int): Int = {
      var best = -1; var bd = Double.MaxValue
      var y = 0
      while (y < n) {
        if (y != x && active(y) &&
            (d(x)(y) < bd || (d(x)(y) == bd && y < best))) {
          bd = d(x)(y); best = y
        }
        y += 1
      }
      best
    }
    while (remaining > 1) {
      if (chain.isEmpty) {
        var s0 = 0; while (!active(s0)) s0 += 1
        chain += s0
      }
      val top = chain.last
      val nn = nearest(top)
      if (chain.size >= 2 && nn == chain(chain.size - 2)) {
        // mutual nearest neighbors: merge nn into top's slot (keep
        // the smaller index as the surviving cluster slot)
        val (a, b) = (math.min(top, nn), math.max(top, nn))
        merges += ((a, b, d(a)(b)))
        val (na, nb) = (size(a).toDouble, size(b).toDouble)
        var y = 0
        while (y < n) {
          if (active(y) && y != a && y != b) {
            val upd = linkage match {
              case "single" => math.min(d(a)(y), d(b)(y))
              case "complete" => math.max(d(a)(y), d(b)(y))
              case _ => (na * d(a)(y) + nb * d(b)(y)) / (na + nb)
            }
            d(a)(y) = upd; d(y)(a) = upd
          }
          y += 1
        }
        size(a) += size(b); active(b) = false
        chain.remove(chain.size - 1); chain.remove(chain.size - 1)
        remaining -= 1
      } else {
        chain += nn
      }
    }
    // cut: replay merges in height order until k clusters remain
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    merges.sortBy { case (a, b, h) => (h, a, b) }
      .take(n - k)
      .foreach { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    val label = (0 until n).map { x =>
      val root = find(x)
      // cluster id = smallest member's external id
      (0 until n).filter(y => find(y) == root).map(ids).min
    }
    val spark = df.sparkSession
    import spark.implicits._
    ids.zip(label).toSeq.toDF("id", "cluster")
  }
}
