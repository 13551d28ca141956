package graft

import org.apache.spark.sql.functions._
import graft.graphops.GraphOps

/** Self-loop semantics pinned per the round-10 advice: kCore and
  * labelPropagation operate on the SIMPLE graph — a self-loop (x,x)
  * contributes no degree and no neighborhood label (the old
  * union-then-distinct form admitted it once via the unfiltered
  * reversed arm; exclusion is the documented fix of that asymmetry).
  * BFS/CC keep self-loops (reachability-neutral, retained once) —
  * their canonical symmetrize has an explicit loops branch. */
class KCoreSelfLoopSpec extends SparkSpecBase {
  import spark.implicits._

  private def edges(es: (Long, Long)*) =
    es.toDF("src", "dst")

  test("kCore: a self-loop adds NO degree (simple-graph contract)") {
    // triangle {1,2,3} plus vertex 4 hanging off 1, with self-loops
    // on 1 and 4; k=2 keeps exactly the triangle either way — the
    // loops must not rescue vertex 4 (degree 1) or inflate vertex 1
    val g = edges((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L),
      (1L, 1L), (4L, 4L))
    val core = GraphOps.kCore(g, 2).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    core shouldBe Array((1L, 2L), (2L, 2L), (3L, 2L))
  }

  test("kCore half-edge peel equals the brute-force peel on a " +
      "mixed graph with duplicates and reversed duplicates") {
    // deterministic pseudo-random graph incl. duplicate and
    // reversed-duplicate edges; brute-force peel on the driver
    val raw = (1 to 120).flatMap { i =>
      val a = (i * 37) % 23; val b = (i * 53) % 23
      Seq((a.toLong, b.toLong), (b.toLong, a.toLong))
    }.filter { case (a, b) => a != b }
    val k = 4
    // driver-side brute force
    var es = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    var changed = true
    while (changed) {
      val deg = es.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, xs) => v -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != es.size
      es = next
    }
    val want = es.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, xs) => (v, xs.size.toLong) }
      .toSeq.sorted
    val got = GraphOps.kCore(raw.toDF("src", "dst"), k)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    got shouldBe want
  }

  test("labelPropagation: a self-loop vertex with no proper edge " +
      "is absent; loops add no label votes") {
    // triangle {1,5,6} with a loop on 1, one synchronous round. The
    // contract (most frequent neighbor label, ties to the smallest)
    // gives 1 -> 5 (votes 5, 6), 5 -> 1 and 6 -> 1; a counted
    // self-vote would add label 1 to vertex 1's tie and keep 1 -> 1.
    // (A bipartite pair is no fixture for this: synchronous labels
    // swap on it every round.)
    val g = edges((1L, 5L), (5L, 6L), (6L, 1L), (1L, 1L), (9L, 9L))
    val out = GraphOps.labelPropagation(g, rounds = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // vertex 9 has only a self-loop -> not part of the simple graph
    out.toSeq shouldBe Seq((1L, 5L), (5L, 1L), (6L, 1L))
  }

  test("connectedComponents and bfsDistances KEEP self-loop " +
      "vertices (loops branch of the canonical symmetrize)") {
    val g = edges((1L, 1L), (2L, 3L))
    val cc = GraphOps.connectedComponents(g)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    cc shouldBe Array((1L, 1L), (2L, 2L), (3L, 2L))
    val bfs = GraphOps.bfsDistances(g, Seq(1L))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
    bfs shouldBe Array((1L, 0), (2L, -1), (3L, -1))
  }

  test("connectedComponents and bfsDistances keep BOTH orientations " +
      "of a null-endpoint edge") {
    // (null, 4): the old union-then-distinct symmetrize kept (null,4)
    // and (4,null), so vertex 4 and a null-id vertex both appear
    val g = Seq((Option(1L), Option(1L)), (Option(2L), Option(3L)),
      (None, Option(4L))).toDF("src", "dst")
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Any] =
      if (r.isNullAt(i)) None else Some(r.get(i))
    val cc = GraphOps.connectedComponents(g).collect()
      .map(r => (opt(r, 0), opt(r, 1))).toSet
    cc shouldBe Set((Some(1L), Some(1L)), (Some(2L), Some(2L)),
      (Some(3L), Some(2L)), (Some(4L), Some(4L)), (None, None))
    val bfs = GraphOps.bfsDistances(g, Seq(1L)).collect()
      .map(r => (opt(r, 0), opt(r, 1))).toSet
    bfs shouldBe Set((Some(1L), Some(0)), (Some(2L), None),
      (Some(3L), None), (Some(4L), None), (None, None))
  }
}
