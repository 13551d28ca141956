package graft.graphops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Driver-side twins of the exact GraphOps driver loops, run by
  * [[graft.LocalStrategy]] when the edge table is small. Each follows
  * its distributed plan row for row: `distinct` keeps one null, equi-
  * joins never match a null key, `div` truncates toward zero, and long
  * overflow raises under ANSI (the Spark 4 default) and wraps
  * otherwise. */
private[graphops] object LocalGraph {

  /** pageRankExact (`sources` None: every vertex starts with `scale`
    * and restarts) and personalizedPageRank on collected (src, dst)
    * rows: `rounds` of
    *   r'(v) = (damp · Σ_{u→v} (r(u) div outdeg(u))) div 100 + restart(v)
    * over the distinct pairs, where outdeg counts an (x, null) pair
    * that the rank join then drops. Source membership is Spark's own
    * `isin`, evaluated on a local vertex table. Returns (id, <score>,
    * <score>_norm), the norm being one float divide by the total. */
  def exactRank(in: DataFrame, rows: Array[Row], rounds: Int,
      dampPct: Int, scale: Long, sources: Option[Seq[Any]],
      score: String): DataFrame = {
    val spark = in.sparkSession
    val ansi = spark.sessionState.conf.ansiEnabled
    def add(a: Long, b: Long) = if (ansi) Math.addExact(a, b) else a + b
    def mul(a: Long, b: Long) = if (ansi) Math.multiplyExact(a, b) else a * b

    val slot = mutable.HashMap.empty[Any, Int]
    val ids = mutable.ArrayBuffer.empty[Any]
    def of(v: Any): Int = slot.getOrElseUpdate(v, { ids += v; ids.size - 1 })
    val pairs = rows.iterator.map(r => (r.get(0), r.get(1))).distinct.toArray
    pairs.foreach { case (s, d) => of(s); of(d) }
    val outDeg = new Array[Long](ids.size)
    pairs.foreach { case (s, _) => if (s != null) outDeg(slot(s)) += 1 }
    val links = pairs.collect {
      case (s, d) if s != null && d != null => (slot(s), slot(d))
    }
    val idType = in.schema("src").dataType
    val isSrc = sources.fold(Array.fill(ids.size)(true))(s =>
      spark.createDataFrame(ids.map(Row(_)).asJava,
          StructType(Seq(StructField("id", idType))))
        .select(coalesce(col("id").isin(s: _*), lit(false)))
        .collect().map(_.getBoolean(0)))
    val restart = (100 - dampPct).toLong * scale / 100

    var r = isSrc.map(if (_) scale else 0L)
    for (_ <- 1 to rounds) {
      val c = new Array[Long](r.length)
      links.foreach { case (s, d) => c(d) = add(c(d), r(s) / outDeg(s)) }
      r = Array.tabulate(r.length)(v =>
        add(mul(dampPct.toLong, c(v)) / 100, if (isSrc(v)) restart else 0L))
    }
    val total = r.foldLeft(0L)(add)
    val out = ids.indices.map(v => Row(ids(v), r(v),
      if (total > 0) r(v).toDouble / total.toDouble else null))
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("id", idType,
        in.schema("src").nullable || in.schema("dst").nullable),
      StructField(score, LongType, nullable = true),
      StructField(s"${score}_norm", DoubleType, nullable = true))))
  }

  /** The k-core peel on the simple graph (no self-loops, no null
    * endpoints, duplicates and reversals merged), with the distributed
    * plan's convergence test and iteration cap. Returns (id,
    * core_degree). */
  def kCore(in: DataFrame, rows: Array[Row], k: Int,
      maxIter: Int): DataFrame = {
    val slot = mutable.HashMap.empty[Any, Int]
    val ids = mutable.ArrayBuffer.empty[Any]
    def of(v: Any): Long =
      slot.getOrElseUpdate(v, { ids += v; ids.size - 1 }).toLong
    // canonical undirected edge: (low slot << 32) | high slot
    var edges = rows.iterator.map(r => (r.get(0), r.get(1)))
      .collect { case (s, d) if s != null && d != null && s != d =>
        val (a, b) = (of(s), of(d))
        (math.min(a, b) << 32) | math.max(a, b)
      }.distinct.toArray
    def degrees(es: Array[Long]): Array[Long] = {
      val deg = new Array[Long](ids.size)
      es.foreach { e => deg((e >>> 32).toInt) += 1; deg(e.toInt) += 1 }
      deg
    }
    var nEdges = edges.length
    var done = nEdges == 0
    var i = 0
    while (!done && i < maxIter) {
      val deg = degrees(edges)
      val next = edges.filter(e =>
        deg((e >>> 32).toInt) >= k && deg(e.toInt) >= k)
      done = next.length == nEdges || next.isEmpty
      nEdges = next.length
      edges = next
      i += 1
    }
    if (i >= maxIter && !done)
      throw new IllegalStateException(
        s"kCore did not converge in $maxIter supersteps")
    val deg = degrees(edges)
    val out = ids.indices.filter(deg(_) > 0).map(v => Row(ids(v), deg(v)))
    in.sparkSession.createDataFrame(out.asJava, StructType(Seq(
      StructField("id", in.schema("src").dataType,
        in.schema("src").nullable && in.schema("dst").nullable),
      StructField("core_degree", LongType, nullable = false))))
  }
}
