package graft.graphops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LocalStrategy

/** Graph algorithms over vertex/edge DataFrames (GraphFrames
  * pattern; reference src/graph/: core.rs:179, traversal.rs,
  * components.rs:70, centrality.rs, path.rs:101). Iterative
  * algorithms are join-per-superstep with early termination and
  * periodic localCheckpoint to cut lineage — the standard Pregel-ish
  * shape that scales with the cluster. pageRankExact,
  * personalizedPageRank and kCore run those supersteps on the driver
  * instead when the edge table is small ([[graft.LocalStrategy]]).
  *
  * Edges: DataFrame(src, dst[, weight]); undirected algorithms
  * symmetrize internally.
  */
object GraphOps {

  /** degree / in-degree / out-degree (centrality.rs:33). */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("out_degree"))
    val in = edges.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("id"), "full")
      .na.fill(0, Seq("out_degree", "in_degree"))
      .withColumn("degree", col("out_degree") + col("in_degree"))
  }

  /** Connected components by min-label propagation with pointer
    * jumping (components.rs:70): each superstep (a) takes the min
    * label over every vertex's neighborhood, then (b) shortcuts each
    * label to its label's label. The jump halves the label-tree height
    * every round, so convergence is O(log diameter) supersteps — a
    * 100 TB path graph converges in ~40 rounds where plain
    * propagation would need one round per hop.
    *
    * Runs until a fixpoint (changed == 0). `maxIter` is a safety cap
    * only: hitting it before the fixpoint throws IllegalStateException
    * rather than silently returning partial labels — composed
    * consumers (dbscan, dedup group collapse) must never see an
    * unconverged labeling.
    *
    * The vertex set is derived from the edges, so an isolated vertex
    * (no incident edge) does not appear in the output — pass
    * `vertices` (one `id` column) to include isolated vertices as
    * their own singleton components. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 60,
      vertices: Option[DataFrame] = None): DataFrame =
    LocalStrategy.cached(symmetrize(edges)) { sym =>
      val ids = vertices match {
        case Some(v) => sym.select(col("src").as("id"))
          .union(v.select(col("id"))).distinct()
        case None => sym.select(col("src").as("id")).distinct()
      }
      var labels = ids.withColumn("component", col("id"))
      var changed = 1L
      var i = 0
      while (changed > 0 && i < maxIter) {
        // neighborhood min as groupBy + left join with least() — the
        // equivalent union-then-min shape trips a Catalyst Union
        // constraint-rewrite bug when iterated. Checkpointing here cuts
        // lineage and flattens the plan so the pointer-jump self-join
        // below runs over a plain LogicalRDD.
        val nbrMin = sym
          .join(labels, sym("dst") === labels("id"))
          .groupBy(sym("src").as("id")).agg(min("component").as("nc"))
        val propagated = labels
          .join(nbrMin.withColumnRenamed("id", "nid"),
            labels("id") === col("nid"), "left")
          .select(labels("id"),
            least(col("component"), coalesce(col("nc"), col("component")))
              .as("component"))
          .localCheckpoint(eager = true)
        // pointer jump: component <- label(component). A label is always
        // the id of a vertex in the same component (it is a min over
        // same-component ids), so the self-join resolves every label.
        val next = propagated.as("l")
          .join(propagated.select(col("id").as("cid"),
              col("component").as("cc")).as("m"),
            col("l.component") === col("m.cid"), "left")
          .select(col("l.id").as("id"),
            least(col("l.component"),
              coalesce(col("m.cc"), col("l.component"))).as("component"))
          .localCheckpoint(eager = true)
        changed = next.join(labels.withColumnRenamed("component", "old"),
          Seq("id")).filter(col("component") =!= col("old")).count()
        labels = next
        i += 1
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter supersteps " +
            s"($changed labels still changing) — raise maxIter")
      labels
    }

  /** PageRank (centrality.rs:250): power iteration with damping;
    * contributions shuffle on dst. Dangling (sink) mass is folded in
    * via a broadcast one-row aggregate — no driver-side collect
    * inside the loop, so each superstep is a pure distributed plan. */
  def pageRank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    LocalStrategy.cached(edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()) { vertices =>
    LocalStrategy.cached(edges.join(outDeg, "src")) { links =>
    LocalStrategy.cached(vertices.join(outDeg.select(col("src").as("id")),
        Seq("id"), "left_anti")) { sinks =>
      val n = vertices.count().toDouble
      var ranks = vertices.withColumn("rank", lit(1.0 / n))
      for (_ <- 1 to iterations) {
        val contribs = links.join(ranks, links("src") === ranks("id"))
          .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
          .groupBy("id").agg(sum("c").as("c"))
        val dangling = sinks.join(ranks, Seq("id"))
          .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
        val next = vertices.join(contribs, Seq("id"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("id"), (lit((1 - damping) / n) +
            lit(damping) * (coalesce(col("c"), lit(0.0)) +
              col("dm") / n)).as("rank"))
        ranks = next.localCheckpoint(eager = true)
      }
      ranks
    }}}
  }

  /** Dijkstra / weighted single-source shortest paths
    * (path.rs:101,176) by distributed Bellman-Ford relaxation —
    * Dijkstra's priority queue doesn't distribute, so each superstep
    * relaxes every edge (join + min); converges in O(longest path)
    * rounds with early exit, which is the standard Pregel SSSP. */
  def shortestPaths(edges: DataFrame, sourceId: Any,
      maxIter: Int = 20): DataFrame = {
    val e = edges.select(col("src"), col("dst"),
      col("weight").cast("double"))
    LocalStrategy.cached(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()) { vertices =>
      var dist = vertices.withColumn("dist",
        when(col("id") === lit(sourceId), 0.0))
      var changed = 1L
      var i = 0
      while (changed > 0 && i < maxIter) {
        val relaxed = e.join(dist.filter(col("dist").isNotNull),
            e("src") === col("id"))
          .select(e("dst").as("id"), (col("dist") + col("weight")).as("nd"))
          .groupBy("id").agg(min("nd").as("nd"))
        val next = dist.join(relaxed, Seq("id"), "left")
          .select(col("id"), least(
            coalesce(col("dist"), lit(Double.MaxValue)),
            coalesce(col("nd"), lit(Double.MaxValue))).as("d2"))
          .select(col("id"),
            when(col("d2") =!= Double.MaxValue, col("d2")).as("dist"))
          .localCheckpoint(eager = true)
        changed = next.join(dist.withColumnRenamed("dist", "old"), Seq("id"))
          .filter(!(col("dist") <=> col("old"))).count()
        dist = next
        i += 1
      }
      dist
    }
  }

  /** Batched multi-source BFS with shortest-path counts (σ): one
    * frontier DataFrame carries EVERY source simultaneously, so S
    * sources cost the same number of supersteps as one. Returns
    * (source, id, dist, sigma) for every reached vertex. State is
    * O(S·V) rows — bounded by the source sample size. */
  def multiSourceBfs(edges: DataFrame, sources: Seq[Any],
      maxIter: Int = 15): DataFrame =
    LocalStrategy.cached(symmetrize(edges))(
      multiSourceBfsOn(_, sources, maxIter))

  /** Symmetrize with HALF the distinct-shuffle rows (the kCore
    * canonical trick, round-11): dedup the (least, greatest)
    * canonical form, union both directions AFTER the exchange. An
    * explicit non-proper-edge branch keeps self-loops (and any
    * null-endpoint rows) byte-identical to the old
    * union-then-distinct form — BFS/CC/SSSP retain (x,x) once
    * (reachability-neutral; pinned by KCoreSelfLoopSpec). */
  private def symmetrize(edges: DataFrame): DataFrame = {
    val base = edges.select("src", "dst")
    val proper = base.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    // src = dst, or a null endpoint: symmetrized verbatim —
    // least/greatest would corrupt a (null, x) row into (x, x). The
    // null test must be explicit: for a null endpoint both `=!=` and
    // its negation are null, so the row would fail this filter AND
    // `proper`'s and vanish. Tiny by construction; its own distinct
    // keeps the output set-identical to the old form (which kept
    // BOTH orientations of a null-endpoint row).
    val rest = base.filter(col("src").isNull || col("dst").isNull ||
      col("src") === col("dst"))
    proper
      .union(proper.select(col("dst").as("src"), col("src").as("dst")))
      .union(rest
        .union(rest.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
  }

  private def multiSourceBfsOn(sym: DataFrame, sources: Seq[Any],
      maxIter: Int): DataFrame = {
    // derive the source rows from the vertex set itself so the id
    // type is preserved (no stringification)
    val srcDf = sym.select(col("src").as("source")).distinct()
      .filter(col("source").isin(sources: _*))
    var state = srcDf.select(col("source"), col("source").as("id"),
      lit(0).as("dist"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    var frontier = state
    var i = 0
    while (i < maxIter && frontier.limit(1).count() > 0) {
      val expanded = frontier.join(sym, frontier("id") === sym("src"))
        .select(col("source"), sym("dst").as("id"),
          (col("dist") + 1).as("dist"), col("sigma"))
        .groupBy("source", "id")
        .agg(min("dist").as("dist"), sum("sigma").as("sigma"))
      val next = expanded.join(state.select("source", "id"),
          Seq("source", "id"), "left_anti")
        .localCheckpoint(true)
      state = state.union(next).localCheckpoint(true)
      frontier = next
      i += 1
    }
    state
  }

  /** Closeness centrality, exact or sampled (reference
    * src/graph/centrality.rs:109). Exact closeness needs all-pairs
    * distances; the scalable estimator (Eppstein-Wang) runs the
    * batched BFS from a vertex SAMPLE and scales:
    *
    *   ĉ(v) = |S|·(n−1) / (n·Σ_{s∈S} d(s, v))
    *
    * With S = all vertices this is exactly (n−1)/Σd. Undirected. */
  def closenessCentrality(edges: DataFrame,
      sources: Seq[Any], nVertices: Long,
      maxIter: Int = 15): DataFrame = {
    val bfs = multiSourceBfs(edges, sources, maxIter)
    val s = sources.size.toDouble
    val n = nVertices.toDouble
    bfs.filter(col("dist") > 0)
      .groupBy("id")
      .agg(sum(col("dist")).cast("double").as("dsum"),
        count(lit(1)).as("n_reached"))
      .select(col("id"),
        (lit(s * (n - 1)) / (lit(n) * col("dsum"))).as("closeness"),
        col("n_reached"))
  }

  /** Betweenness centrality by Brandes' dependency accumulation,
    * batched over a source sample (reference
    * src/graph/centrality.rs:152). Forward pass: [[multiSourceBfs]]
    * (dist + σ per source). Backward pass: walk BFS levels deepest-
    * first; a vertex v at level L−1 accumulates
    * δ(v) += σ_v/σ_w · (1 + δ(w)) over its level-L neighbors w.
    * Unnormalized pair counts (undirected: each pair halved); for a
    * sample multiply by n/|S| for the standard estimate. */
  def betweennessCentrality(edges: DataFrame, sources: Seq[Any],
      maxIter: Int = 15): DataFrame = {
    // one symmetrized edge set shared by the forward BFS and the
    // backward accumulation (no second union+distinct shuffle)
    LocalStrategy.cached(symmetrize(edges)) { sym =>
      val state = multiSourceBfsOn(sym, sources, maxIter)
        .localCheckpoint(true)
      val maxL = state.agg(max("dist")).head().getInt(0)
      // delta rows exist for levels already processed (deepest first)
      var delta = state.filter(col("dist") === maxL)
        .select(col("source"), col("id"), lit(0.0).as("delta"))
        .localCheckpoint(true)
      var l = maxL
      while (l >= 1) {
        val wLevel = state.filter(col("dist") === l).as("w")
          .join(delta.as("dw"), Seq("source", "id"), "left")
          .select(col("source"), col("id").as("w_id"),
            col("w.sigma").as("sigma_w"),
            coalesce(col("dw.delta"), lit(0.0)).as("delta_w"))
        val prev = state.filter(col("dist") === l - 1)
          .select(col("source"), col("id").as("v_id"),
            col("sigma").as("sigma_v"))
        val contrib = wLevel
          .join(sym, col("w_id") === sym("dst"))
          .select(col("source"), sym("src").as("v_id"),
            col("sigma_w"), col("delta_w"))
          .join(prev, Seq("source", "v_id"))
          .groupBy(col("source"), col("v_id").as("id"))
          .agg(sum(col("sigma_v").cast("double") / col("sigma_w") *
            (lit(1.0) + col("delta_w"))).as("delta"))
        delta = delta.union(contrib).localCheckpoint(true)
        l -= 1
      }
      // exclude the source's own row; halve for undirected pair double-count
      delta.join(state.select("source", "id", "dist"), Seq("source", "id"))
        .filter(col("dist") > 0)
        .groupBy("id")
        .agg((sum(col("delta")) / 2.0).as("betweenness"))
    }
  }

  /** DFS preorder from a source (traversal.rs dfs): the stack
    * discipline is inherently sequential, so this runs driver-side on
    * the collected edge list with a hard guard — same honest pattern
    * as the guarded transpose. Neighbors are visited in ascending
    * order (deterministic). Returns (id, dfs_order). */
  def dfsOrder(edges: DataFrame, source: Any,
      maxEdges: Long = 5000000L): DataFrame = {
    val cnt = edges.count()
    require(cnt <= maxEdges, s"dfs is sequential by definition; " +
      s"$cnt edges > maxEdges=$maxEdges — use bfsDistances for " +
      "distributed traversal")
    val sym = edges.select(col("src").cast("string"),
        col("dst").cast("string"))
      .union(edges.select(col("dst").cast("string").as("src"),
        col("src").cast("string").as("dst")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val adj: Map[String, Seq[String]] = sym.groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSeq.sorted }
    val visited = scala.collection.mutable.LinkedHashSet.empty[String]
    val stack = scala.collection.mutable.Stack(source.toString)
    while (stack.nonEmpty) {
      val x = stack.pop()
      if (!visited.contains(x)) {
        visited += x
        // push in reverse so the SMALLEST neighbor pops first
        adj.getOrElse(x, Seq.empty).reverseIterator
          .filterNot(visited.contains(_)).foreach(stack.push)
      }
    }
    val spark = edges.sparkSession
    import spark.implicits._
    visited.toSeq.zipWithIndex
      .map { case (id, i) => (id, i.toLong) }
      .toDF("id", "dfs_order")
  }

  /** BFS shortest hop-distance from a source set (traversal.rs:62,
    * shortest_path_bfs :116): frontier expansion per superstep. */
  def bfsDistances(edges: DataFrame, sourceIds: Seq[Any],
      maxIter: Int = 15): DataFrame = {
    LocalStrategy.cached(symmetrize(edges)) { sym =>
      var dist = sym.select(col("src").as("id")).distinct()
        .withColumn("dist",
          when(col("id").isin(sourceIds: _*), 0).otherwise(lit(null)))
      var i = 0
      var frontier = dist.filter(col("dist") === i).count()
      while (frontier > 0 && i < maxIter) {
        val reached = sym.join(dist.filter(col("dist") === i),
            sym("src") === col("id"))
          .select(sym("dst").as("id"), lit(i + 1).as("nd"))
          .distinct()
        dist = dist.join(reached, Seq("id"), "left")
          .select(col("id"), coalesce(col("dist"), col("nd")).as("dist"))
          .localCheckpoint(eager = true)
        i += 1
        frontier = dist.filter(col("dist") === i).count()
      }
      dist
    }
  }

  /** k-core decomposition membership: iteratively peel vertices of
    * degree < k until a fixpoint — the surviving subgraph is the
    * k-core (dense-region extraction; community seeding). Each
    * superstep is one degree aggregate + two semi-joins with a
    * localCheckpoint lineage cut — the CC/Pregel shape; iterations
    * are bounded by the peel depth, not the vertex count. Operates
    * on the SIMPLE graph: self-loops are excluded and contribute no
    * degree (pinned by KCoreSelfLoopSpec). Returns the surviving
    * vertices with their in-core degree.
    *
    * Strategy ([[graft.LocalStrategy]]): an edge table at most
    * `spark.sql.autoBroadcastJoinThreshold` (rows × row width) is
    * collected once and peeled on the driver with the same rounds,
    * convergence test and `maxIter` error; a larger one is peeled
    * distributed over the table materialized once. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    require(k >= 1, "k >= 1")
    val e = edges.select(col("src"), col("dst"))
    LocalStrategy.run(e, "src", "dst")(
      LocalGraph.kCore(e, _, k, maxIter))(kCoreImpl(_, k, maxIter))
  }

  /** Synchronous label-propagation community detection (reference
    * src/graph's community surface; the GraphX LabelPropagation
    * contract): labels init to vertex ids; every round each vertex
    * adopts the most frequent label among its neighbors with ties
    * broken by the SMALLEST label — fully deterministic, no RNG.
    * Synchronous LPA need not converge (bipartite two-coloring
    * oscillates), so the bounded-round form IS the algorithm; run a
    * fixed `rounds` supersteps. Each superstep is one labels→edges
    * join, one (vertex,label) count shuffle, and one argmax
    * aggregate — all distributed, lineage cut per round (the CC
    * convention). The deterministic argmax is max(struct(count,
    * −label)), which a row_number replay in SQL reproduces exactly —
    * the whole run is oracle-able by unrolled MATERIALIZED CTE
    * rounds (the q324 k-core precedent). Operates on the SIMPLE
    * graph: self-loops are excluded — a loop casts no neighborhood
    * vote (pinned by KCoreSelfLoopSpec). Returns (id, lbl). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, "rounds in [1,20]")
    // canonical-form distinct + union of both directions: see
    // kCoreImpl — same edge set, half the distinct-shuffle bytes
    val canonLp = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    val sym = canonLp
      .union(canonLp.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    for (_ <- 1 to rounds) {
      val nbr = sym
        .join(labels.select(col("id").as("nid"), col("lbl")),
          col("dst") === col("nid"))
        .groupBy(col("src").as("vid"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("vid")
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("vid"), (-col("m.nl")).as("nlbl"))
      labels = labels.join(nbr, labels("id") === nbr("vid"), "left")
        .select(col("id"),
          coalesce(col("nlbl"), col("lbl")).as("lbl"))
        .localCheckpoint(eager = true)
    }
    labels
  }

  private def kCoreImpl(edges: DataFrame, k: Int,
      maxIter: Int): DataFrame = {
    // HALF-EDGE peel (round-11, guide §2.3 shuffle/materialize fewer
    // bytes): peel on the canonical (least, greatest) edge table
    // directly instead of the symmetrized 2× table. degree(v) =
    // #canon rows containing v on EITHER side, and a round keeps an
    // edge iff BOTH endpoints survive — exactly the symmetric peel,
    // with every per-round join and lineage-cut materialization on
    // HALF the rows. Self-loops are dropped (documented contract:
    // a self-loop is not an edge of the simple graph this peels;
    // see KCoreSelfLoopSpec).
    var canon = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
      .localCheckpoint(true)
    // convergence by EDGE count, not distinct-vertex count: each
    // round's survivor set is a row-subset of the previous edge set,
    // so equal cardinality ⇔ identical set ⇔ unchanged degrees ⇔
    // fixpoint (same test, one full distinct shuffle per round
    // cheaper — count() over the just-checkpointed partitions is a
    // scan-free job). Measured on the q324 stress gate: see
    // OPTIMIZATION_r10.md.
    var nEdges = canon.count()
    var done = nEdges == 0
    var i = 0
    while (!done && i < maxIter) {
      val keep = canon.select(col("src").as("v"))
        .union(canon.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("__d__"))
        .filter(col("__d__") >= k).select(col("v"))
      val next = canon.join(keep.select(col("v").as("src")), "src")
        .join(keep.select(col("v").as("dst")), "dst")
        .select("src", "dst")
        .localCheckpoint(true)
      val nNext = next.count()
      done = nNext == nEdges || nNext == 0
      nEdges = nNext
      canon = next
      i += 1
    }
    if (i >= maxIter && !done)
      throw new IllegalStateException(
        s"kCore did not converge in $maxIter supersteps")
    canon.select(col("src").as("id"))
      .union(canon.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("core_degree"))
  }

  /** Per-vertex and total triangle counts on the undirected simple
    * graph (clustering-coefficient building block; exceeds the
    * reference's graph stack). The classic two-join shape with the
    * DEGREE-ORDERED orientation: orient every edge from the
    * lower-(degree, id) endpoint to the higher one, so each wedge is
    * enumerated at its lowest-degree apex — the join fan-out is
    * Σ d_min(e) ≈ O(m^1.5) instead of Σ d(v)² which a hub vertex
    * would make quadratic. Every triangle is found exactly once;
    * per-vertex counts come from one explode of the three corners.
    * Self-loops and duplicate/reverse edges are removed first. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // und feeds the degree table twice and the orientation join once;
    // deg feeds the orientation and the final per-vertex join —
    // materialize both (eager localCheckpoint, round-11: a lineage
    // cut leaves NO cache entry pinned after the call returns,
    // unlike .cache(); the blocks are freed when the frames are
    // GC'd) or the upstream edge-normalization replays four times
    val und = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint(eager = true)
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
      .localCheckpoint(eager = true)
    // orientation key: (degree, id) — total order, hub-safe
    val oriented = und
      .join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("lo"), col("b").as("hi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi")))
          .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
      .localCheckpoint(eager = true)
    // wedges at the low endpoint, closed by an oriented edge between
    // the two high endpoints (either orientation)
    val w = oriented.select(col("lo"), col("hi").as("x"))
      .join(oriented.select(col("lo"), col("hi").as("y")), Seq("lo"))
      .filter(col("x") < col("y"))
    val tri = w.join(oriented.select(col("lo").as("x"),
        col("hi").as("y")), Seq("x", "y"))
      .union(w.join(oriented.select(col("hi").as("x"),
        col("lo").as("y")), Seq("x", "y")))
      .select(col("lo").as("v1"), col("x").as("v2"), col("y").as("v3"))
    tri.select(explode(array(col("v1"), col("v2"), col("v3")))
        .as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
      .join(deg, Seq("id"), "right")
      .na.fill(0, Seq("triangles"))
      .select(col("id"), col("triangles"),
        // local clustering coefficient: 2T / (d(d-1)); degree-1
        // vertices have no wedge -> 0
        when(col("d") > 1, col("triangles").cast("double") * 2 /
          (col("d").cast("double") * (col("d").cast("double") - 1)))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Newman modularity of a vertex partition (Newman & Girvan 2004)
    * over the undirected simple graph induced by `edges`: one row per
    * community with exact counts and its additive contribution
    *   dq = m_c/m − (d_c/(2m))²
    * so the graph-level Q is `sum(dq)` ([[modularityScore]]). This is
    * the quality metric for any community output (label propagation,
    * connected components, an external attribute) — the reference has
    * community detection but no partition-quality score.
    *
    * `partition` is (id, comm) with one row per vertex; vertices
    * missing from the map are dropped from the metric (inner join on
    * both endpoints), isolated mapped vertices count toward n_nodes
    * with zero degree. Self-loops and duplicate/reversed edges are
    * normalized away.
    *
    * Scale shape: edge normalization, one degree aggregate, two hash
    * joins against the partition map (broadcast when small), one
    * per-community aggregate; the global edge count rides a 1-row
    * broadcast cross join. No window, no driver loop. The dq double
    * is computed in one fixed association order so a DuckDB replay
    * over the same integer counts hash-matches. */
  def modularity(edges: DataFrame, partition: DataFrame,
      idCol: String = "id", commCol: String = "comm"): DataFrame = {
    val pmap = partition.select(col(idCol).as("id"),
      col(commCol).as("comm"))
    val und = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val m = und.agg(count(lit(1)).cast("double").as("m"))
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // per-community node count + degree mass (isolated vertices d=0)
    val nodes = pmap.join(deg, Seq("id"), "left")
      .na.fill(0L, Seq("d"))
      .groupBy("comm")
      .agg(count(lit(1)).as("n_nodes"), sum("d").as("degree_sum"))
    // internal edges: both endpoints mapped to the same community
    val internal = und
      .join(pmap.select(col("id").as("a"), col("comm").as("ca")),
        Seq("a"))
      .join(pmap.select(col("id").as("b"), col("comm").as("cb")),
        Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comm"))
      .agg(count(lit(1)).as("internal_edges"))
    nodes.join(internal, Seq("comm"), "left")
      .na.fill(0L, Seq("internal_edges"))
      .crossJoin(broadcast(m))
      .select(col("comm"), col("n_nodes"), col("degree_sum"),
        col("internal_edges"),
        (col("internal_edges").cast("double") / col("m") -
          (col("degree_sum").cast("double") / (lit(2.0) * col("m"))) *
          (col("degree_sum").cast("double") / (lit(2.0) * col("m"))))
          .as("dq"))
  }

  /** Degree assortativity coefficient (Newman 2002, PRL): the
    * Pearson correlation of endpoint degrees over the undirected
    * edge list,
    *   r = [S_jk/M − (S_j+k/2M)²] / [S_j²+k²/2M − (S_j+k/2M)²]
    * with exact long sums S over edges (j,k endpoint degrees) and
    * doubles only in the final closed form — hubs-link-to-hubs r>0,
    * hub-and-spoke r<0. Null when degrees are constant (zero
    * variance). One degree aggregate + two hash joins + ONE global
    * sum — the modularity shape; no window, no driver loop. */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val sums = und
      .join(deg.select(col("id").as("a"), col("d").as("dj")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("dk")), Seq("b"))
      .agg(count(lit(1)).as("m_edges"),
        sum(col("dj") * col("dk")).as("sjk"),
        sum(col("dj") + col("dk")).as("ssum"),
        sum(col("dj") * col("dj") + col("dk") * col("dk")).as("ssq"))
    val m = col("m_edges").cast("double")
    val mean = col("ssum").cast("double") / (lit(2.0) * m)
    val num = col("sjk").cast("double") / m - mean * mean
    val den = col("ssq").cast("double") / (lit(2.0) * m) - mean * mean
    sums.select(col("m_edges"), col("sjk"), col("ssum"), col("ssq"),
      when(den =!= 0.0, num / den).as("assortativity"))
  }

  /** Graph-level modularity Q = Σ_c dq of [[modularity]]'s output —
    * the single number a community-detection loop maximizes. */
  def modularityScore(edges: DataFrame, partition: DataFrame,
      idCol: String = "id", commCol: String = "comm"): DataFrame =
    modularity(edges, partition, idCol, commCol)
      .agg(sum("dq").as("modularity"))

  /** Adamic–Adar link prediction (Adamic & Adar 2003): for every
    * non-adjacent... in fact every vertex pair with ≥1 common
    * neighbor, score = Σ_w 1/ln(deg(w)) over common neighbors w —
    * the standard "who should be connected" feature. Distributed as
    * a postings self-join on the shared neighbor (the n-gram-pairs
    * shape): sym edges keyed by w produce (u,v,w) triples in one
    * shuffle; `maxDeg` drops hub neighbors (a w with deg d yields
    * d² pairs and contributes only 1/ln d — the maxDf convention,
    * same recall/cost trade as blocking).
    *
    * Determinism: each 1/ln(deg) term is rounded to 12 decimals and
    * summed as DECIMAL(28,12) — decimal sums are order-free, so the
    * score is partition-order-independent and engine-replayable
    * (the q375 lesson applied up front). */
  def adamicAdar(edges: DataFrame, maxDeg: Int = 10000): DataFrame = {
    require(maxDeg >= 2, s"maxDeg must be >= 2, got $maxDeg")
    val sym = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src").as("w"))
      .agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDeg && col("d") >= 2)
    val post = sym.select(col("src").as("w"), col("dst").as("u"))
      .join(deg, Seq("w"))
    post.as("a").join(post.as("b"),
        col("a.w") === col("b.w") && col("a.u") < col("b.u"))
      .select(col("a.u").as("src"), col("b.u").as("dst"),
        round(lit(1.0) / log(col("a.d").cast("double")), 12)
          .cast("decimal(28,12)").as("t"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("n_common"),
        sum(col("t")).as("aa_dec"))
      .withColumn("aa_score", col("aa_dec").cast("double"))
      .drop("aa_dec")
  }

  /** HITS hubs & authorities (Kleinberg 1999) by EXACT integer power
    * iteration: `rounds` unnormalized mutual-reinforcement rounds —
    * auth ← Σ_{u→v} hub(u), hub ← Σ_{u→v} auth(v) — starting from
    * hub = 1. All sums are BIGINT (order-free, engine-replayable,
    * the repo's exact-sum convention; growth is bounded by
    * (max degree)^(2·rounds), guarded); L1 normalization happens
    * ONCE at the end as a single float divide per row. Two keyed
    * join+agg shuffles per round. */
  def hits(edges: DataFrame, rounds: Int = 2): DataFrame = {
    require(rounds >= 1 && rounds <= 4,
      s"rounds in [1,4] (integer scores grow as deg^(2*rounds)), got $rounds")
    // round-11 (guide §2.4, §5): HITS alternates src- and dst-keyed
    // joins, so ONE cached copy of the edge table was re-exchanged
    // on every half-round (4 full edge shuffles at rounds=2). Keep
    // TWO loop-invariant cached copies — e hash-partitioned on src
    // (the single exchange also serving the dedup, see
    // personalizedPageRank) and eDst on dst — so each half-round
    // shuffles only the vertex-sized rank table. The vertex table
    // (previously recomputed from the edge cache on every join) is
    // materialized once; per-round state is lineage-cut instead of
    // leaking one cache entry per half-round.
    LocalStrategy.cached(edges.select(col("src"), col("dst"))
        .repartition(col("src")).distinct()) { e =>
    LocalStrategy.cached(e.repartition(col("dst"))) { eDst =>
      val verts = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .localCheckpoint(eager = true)
      var hub = verts.withColumn("hub", lit(1L))
      var auth: DataFrame = null
      for (_ <- 1 to rounds) {
        val aAgg = e.join(hub.select(col("id").as("src"), col("hub")),
            Seq("src"))
          .groupBy(col("dst").as("id")).agg(sum("hub").as("auth"))
        auth = verts.join(aAgg, Seq("id"), "left")
          .select(col("id"), coalesce(col("auth"), lit(0L)).as("auth"))
          .localCheckpoint(eager = true)
        val hAgg = eDst.join(
            auth.select(col("id").as("dst"), col("auth")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(sum("auth").as("hub"))
        hub = verts.join(hAgg, Seq("id"), "left")
          .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub"))
          .localCheckpoint(eager = true)
      }
      val totals = auth.agg(sum("auth").as("ta"))
        .crossJoin(hub.agg(sum("hub").as("th")))
      auth.join(hub, Seq("id"))
        .crossJoin(broadcast(totals))
        .select(col("id"), col("auth"), col("hub"),
          when(col("ta") > 0,
            col("auth").cast("double") / col("ta")).as("auth_norm"),
          when(col("th") > 0,
            col("hub").cast("double") / col("th")).as("hub_norm"))
    }}
  }

  /** Link-prediction score suite over an undirected graph
    * (Liben-Nowell & Kleinberg 2003): for every vertex pair with at
    * least one common neighbor, emit common-neighbor count, both
    * degrees, Jaccard, cosine (Salton), and preferential-attachment
    * scores. Same postings-join shape as [[adamicAdar]]: one
    * neighbor-keyed shuffle whose fan-out is bounded by the `maxDeg`
    * hub cap (a vertex adjacent to everything carries no pairwise
    * signal and would otherwise contribute deg² candidate pairs).
    *
    * Determinism: counts and degrees are exact BIGINTs; jaccard /
    * cosine are ONE final correctly-rounded double expression from
    * exact integers — order-free and engine-replayable. */
  def linkPredict(edges: DataFrame, maxDeg: Int = 10000): DataFrame = {
    require(maxDeg >= 2, s"maxDeg must be >= 2, got $maxDeg")
    val sym = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src").as("w"))
      .agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDeg)
    val post = sym.select(col("src").as("w"), col("dst").as("u"))
      .join(deg.select(col("w")), Seq("w"))
    val common = post.as("a").join(post.as("b"),
        col("a.w") === col("b.w") && col("a.u") < col("b.u"))
      .groupBy(col("a.u").as("src"), col("b.u").as("dst"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(deg.select(col("w").as("src"), col("d").as("deg_src")),
        Seq("src"))
      .join(deg.select(col("w").as("dst"), col("d").as("deg_dst")),
        Seq("dst"))
      .select(col("src"), col("dst"), col("n_common"),
        col("deg_src"), col("deg_dst"),
        (col("n_common").cast("double") /
          (col("deg_src") + col("deg_dst") - col("n_common")))
          .as("jaccard"),
        (col("n_common").cast("double") /
          sqrt((col("deg_src") * col("deg_dst")).cast("double")))
          .as("cosine"),
        (col("deg_src") * col("deg_dst")).as("pref_attach"))
  }

  /** Personalized PageRank (random walk with restart to a source
    * set) by EXACT integer power iteration — the repo's order-free
    * convention for iterative graph scores (see [[hits]]): every
    * vertex state is a BIGINT "mass" on a fixed `scale` lattice, a
    * round is
    *   r'(v) = (damp · Σ_{u→v} (r(u) div outdeg(u))) div 100
    *         + ((100−damp) · scale) div 100 · 1{v ∈ sources}
    * with integer (truncating) division replayed identically by the
    * oracle; mass through dangling vertices is dropped (documented —
    * the restart term keeps the walk anchored). Integer sums are
    * partition-order-free, so `rounds` unrolls exactly as SQL CTEs.
    * Cost: one keyed join+agg shuffle per round.
    *
    * Returns (id, ppr BIGINT, ppr_norm) with ppr_norm the single
    * final float divide by the total retained mass.
    *
    * Strategy ([[graft.LocalStrategy]]): an edge table at most
    * `spark.sql.autoBroadcastJoinThreshold` (rows × row width) is
    * collected once and iterated on the driver with the same integer
    * arithmetic (ANSI overflow raises), returning a local DataFrame;
    * a larger one runs the plan below over the table materialized
    * once. Source membership is Spark's own `isin`, evaluated on the
    * local vertex table. */
  def personalizedPageRank(edges: DataFrame, sources: Seq[Any],
      rounds: Int = 3, dampPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 6,
      s"rounds in [1,6] (each unrolls as an oracle CTE), got $rounds")
    require(dampPct >= 1 && dampPct <= 99,
      s"dampPct in [1,99], got $dampPct")
    require(sources.nonEmpty, "sources must be non-empty")
    val in = edges.select(col("src"), col("dst"))
    LocalStrategy.run(in, "src", "dst")(LocalGraph.exactRank(in, _, rounds,
      dampPct, scale, Some(sources), "ppr"))(
      pprDistributed(_, sources, rounds, dampPct, scale))
  }

  private def pprDistributed(edges: DataFrame, sources: Seq[Any],
      rounds: Int, dampPct: Int, scale: Long): DataFrame = {
    // ONE exchange builds the whole loop-invariant edge side
    // (round-11, guide §2.4): repartition the RAW edge rows by src
    // FIRST — HashPartitioning(src) satisfies the distinct's
    // ClusteredDistribution(src, dst), the degree aggregate's
    // ClusteredDistribution(src), AND the loop's join requirement,
    // so the dedup, the out-degree count, the (edge ⋈ deg) join and
    // every round's rank join all reuse that single exchange (the
    // old shape paid a distinct exchange + an explicit repartition)
    val restart = lit((100 - dampPct).toLong * scale / 100)
    val isSrc = col("id").isin(sources: _*)
    val r = LocalStrategy.cached(edges.select(col("src"), col("dst"))
        .repartition(col("src")).distinct()) { e =>
    LocalStrategy.cached(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()) { verts =>
    LocalStrategy.cached(e.join(
        e.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))) { eDeg =>
      var r = verts.select(col("id"),
        when(isSrc, lit(scale)).otherwise(lit(0L)).as("ppr"))
      for (_ <- 1 to rounds) {
        val contrib = r.select(col("id").as("src"), col("ppr"))
          .join(eDeg, Seq("src"))
          .select(col("dst").as("id"),
            expr("ppr div deg").as("c"))
          .groupBy("id").agg(sum("c").as("c"))
        r = verts.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (expr(s"(${dampPct}L * coalesce(c, 0L)) div 100") +
              when(isSrc, restart).otherwise(lit(0L))).as("ppr"))
          .localCheckpoint(eager = true)
      }
      r
    }}}
    val total = r.agg(sum("ppr").as("tot"))
    r.crossJoin(broadcast(total))
      .select(col("id"), col("ppr"),
        when(col("tot") > 0,
          col("ppr").cast("double") / col("tot")).as("ppr_norm"))
  }

  /** Standard PageRank as EXACT integer power iteration — the
    * [[personalizedPageRank]] recursion with the restart mass paid
    * to EVERY vertex (uniform teleport), on the same fixed `scale`
    * lattice with truncating integer division replayed by the
    * oracle. Complements the float [[pageRank]] (which converges
    * further but is not engine-replayable): use this form when the
    * result must hash-match across engines — e.g. TextRank keyword
    * scoring, where only the ranking matters and 2-4 rounds
    * separate keywords fine. Dangling mass is dropped (documented);
    * the per-vertex restart keeps every score positive.
    *
    * Strategy: as [[personalizedPageRank]] — local on the driver when
    * the edge table is at most `spark.sql.autoBroadcastJoinThreshold`,
    * else the plan below over the table materialized once. */
  def pageRankExact(edges: DataFrame, rounds: Int = 3,
      dampPct: Int = 85, scale: Long = 1000000000000L): DataFrame = {
    require(rounds >= 1 && rounds <= 6,
      s"rounds in [1,6] (each unrolls as an oracle CTE), got $rounds")
    require(dampPct >= 1 && dampPct <= 99,
      s"dampPct in [1,99], got $dampPct")
    val in = edges.select(col("src"), col("dst"))
    LocalStrategy.run(in, "src", "dst")(LocalGraph.exactRank(in, _, rounds,
      dampPct, scale, None, "pr"))(
      pageRankExactDistributed(_, rounds, dampPct, scale))
  }

  private def pageRankExactDistributed(edges: DataFrame, rounds: Int,
      dampPct: Int, scale: Long): DataFrame = {
    // single-exchange loop-invariant build — see personalizedPageRank
    val restart = lit((100 - dampPct).toLong * scale / 100)
    val r = LocalStrategy.cached(edges.select(col("src"), col("dst"))
        .repartition(col("src")).distinct()) { e =>
    LocalStrategy.cached(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()) { verts =>
    LocalStrategy.cached(e.join(
        e.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))) { eDeg =>
      var r = verts.select(col("id"), lit(scale).as("pr"))
      for (_ <- 1 to rounds) {
        val contrib = r.select(col("id").as("src"), col("pr"))
          .join(eDeg, Seq("src"))
          .select(col("dst").as("id"), expr("pr div deg").as("c"))
          .groupBy("id").agg(sum("c").as("c"))
        r = verts.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (expr(s"(${dampPct}L * coalesce(c, 0L)) div 100") +
              restart).as("pr"))
          .localCheckpoint(eager = true)
      }
      r
    }}}
    val total = r.agg(sum("pr").as("tot"))
    r.crossJoin(broadcast(total))
      .select(col("id"), col("pr"),
        when(col("tot") > 0,
          col("pr").cast("double") / col("tot")).as("pr_norm"))
  }

  /** Per-edge triangle support — the number of triangles each
    * undirected edge participates in (the k-truss building block).
    * Triangles are enumerated once via the canonical orientation
    * a < b < c (each triangle appears exactly once as the join
    * e(a,b) ⋈ e(b,c) ⋈ e(a,c)), then each triangle credits its 3
    * edges. Input edges are canonicalized to (least, greatest) and
    * deduped; self-loops dropped. Exact BIGINT counts — order-free.
    *
    * Scale: the wedge join fans out as Σ_b out-deg(b)²  under the
    * a<b<c orientation; at 100 TB orient by (degree, id) instead if
    * key order correlates with degree — here the canonical key
    * orientation keeps the oracle SQL identical. */
  def edgeSupport(edges: DataFrame): DataFrame = {
    val canon = canonEdges(edges).localCheckpoint(eager = true)
    triEdgeCredits(triangles3(canon))
      .groupBy("u", "v").agg(count(lit(1)).as("support"))
  }

  /** The 3 canonical (u < v) edges of each (a, b, c) triangle —
    * the apex c is (degree, id)-smallest, not id-smallest, so the
    * c-edges re-canonicalize by id here. */
  private def triEdgeCredits(tri: DataFrame): DataFrame =
    tri.select(col("a").as("u"), col("b").as("v"))
      .union(tri.select(least(col("a"), col("c")).as("u"),
        greatest(col("a"), col("c")).as("v")))
      .union(tri.select(least(col("b"), col("c")).as("u"),
        greatest(col("b"), col("c")).as("v")))

  private def canonEdges(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Enumerate each triangle exactly once by compact-forward
    * degree orientation (Latapy 2008): orient every edge from its
    * (degree, id)-smaller endpoint, generate wedges only from
    * out-edges, close against the canonical edge set. The
    * orientation is acyclic, so each triangle is found exactly once
    * — from its order-smallest vertex — and Σ out-deg² is bounded
    * by O(m^1.5) REGARDLESS of hubs (the key-order a<b<c join blows
    * up quadratically on a vertex that co-occurs with everything;
    * degree orientation caps any vertex's wedge budget at √(2m)).
    * Emits the triangle's three vertices (a, b, c) with a < b the
    * canonical closing edge and c the wedge apex. */
  private def triangles3(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("a").as("v"))
      .union(canon.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val oriented = canon
      .join(deg.select(col("v").as("a"), col("dg").as("da")),
        Seq("a"))
      .join(deg.select(col("v").as("b"), col("dg").as("db")),
        Seq("b"))
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t")))
          .otherwise(struct(col("b").as("s"), col("a").as("t")))
          .as("o"))
      .select(col("o.s").as("s"), col("o.t").as("t"))
      .localCheckpoint(eager = true)
    oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .join(canon.as("e3"),
        col("e3.a") === col("e1.t") && col("e3.b") === col("e2.t"))
      .select(col("e1.t").as("a"), col("e2.t").as("b"),
        col("e1.s").as("c"))
  }

  /** k-truss (Cohen 2008): the maximal subgraph where every edge is
    * supported by ≥ k−2 triangles. Iteratively recomputes support on
    * the SURVIVING edge set and drops under-supported edges.
    *
    * `rounds >= 1` runs that many synchronous prune rounds — each
    * unrolls exactly as an oracle CTE (the bounded-unroll precedent
    * of [[hits]] / label propagation); `rounds = -1` iterates to the
    * true fixpoint with early exit (the path for unbounded prune
    * depth; lineage cut per round). Returns surviving canonical
    * edges with their final-round support. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = -1,
      maxIter: Int = 50): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds == -1 || rounds >= 1,
      s"rounds must be >= 1 or -1 for fixpoint, got $rounds")
    var cur = canonEdges(edges).localCheckpoint(eager = true)
    var last: DataFrame = null
    var n = if (rounds == -1) cur.count() else -1L
    var it = 0
    val limit = if (rounds == -1) maxIter else rounds
    var converged = false
    while (it < limit && !converged) {
      val sup = triEdgeCredits(triangles3(cur))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
      last = cur.join(
          sup.select(col("u").as("a"), col("v").as("b"),
            col("support")),
          Seq("a", "b"))
        .filter(col("support") >= k - 2)
        .localCheckpoint(eager = true)
      if (rounds == -1) {
        val n2 = last.select("a", "b").count()
        converged = n2 == n
        n = n2
      }
      cur = last.select(col("a"), col("b"))
      it += 1
    }
    if (last == null) cur.withColumn("support", lit(null).cast("long"))
    else last
  }
}
