package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LocalStrategy

/** Probabilistic record linkage (Fellegi & Sunter 1969, JASA):
  * blocked candidate generation + log₂ match-weight scoring from
  * per-field m/u probabilities, the machinery behind Splink/dedupe-
  * style entity resolution. The reference ships fuzzy string matching
  * (`/root/reference/src/text/` similarity kernels, exercised by
  * q186) but no decision-theoretic linkage layer on top; this adds
  * the standard one.
  *
  * Scale shape (100 TB): candidate pairs come ONLY from equality
  * blocks — one size aggregate, a size filter dropping
  * over-`maxBlock` blocks (the `maxDf` hot-key convention: a
  * degenerate block like a null zip code would otherwise explode
  * quadratically), then a block-keyed self-join. Scoring is pure
  * map-side column arithmetic; weights are driver-computed constants.
  */
object RecordLinkage {

  /** log₂ agreement weight log₂(m/u). */
  def agreeWeight(m: Double, u: Double): Double =
    math.log(m / u) / math.log(2.0)

  /** log₂ disagreement weight log₂((1−m)/(1−u)). */
  def disagreeWeight(m: Double, u: Double): Double =
    math.log((1.0 - m) / (1.0 - u)) / math.log(2.0)

  /** Candidate pairs: self-join within equality blocks on
    * `blockCols`, one row per unordered pair (l_id < r_id), all
    * non-block columns duplicated with `l_`/`r_` prefixes. Blocks
    * larger than `maxBlock` are dropped (documented skew guard —
    * quadratic in block size, so a hot block must be split by a
    * finer key, not joined). */
  def blockPairs(df0: DataFrame, idCol: String,
      blockCols: Seq[String], maxBlock: Int = 10000): DataFrame = {
    require(blockCols.nonEmpty, "blockPairs needs at least one block key")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val ok = df0.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__bn__"))
      .filter(col("__bn__") <= maxBlock).drop("__bn__")
    val base = df0.join(ok, blockCols)
    def side(p: String) = base.select(base.columns.map(c =>
      col(c).as(if (blockCols.contains(c)) c else p + c)): _*)
    side("l_").join(side("r_"), blockCols)
      .filter(col("l_" + idCol) < col("r_" + idCol))
  }

  /** Multi-pass blocking: the scale-honest candidate generator. One
    * fixed equality key makes block size grow linearly with data and
    * candidate pairs quadratically (the round-6 organic-sf1 finding:
    * 23.6× wall at 10× data on a (brand,size) key); the standard fix
    * (Splink/Fellegi-Sunter practice) is a UNION of several NARROW
    * block keys, each with data-independent expected block size, so
    * recall comes from key diversity instead of key width.
    *
    * Each pass `passes(i)` is one equality block key (a column set).
    * A pair is emitted by its FIRST generating pass only (canonical-
    * pass dedup, the `SkewOps.intervalJoin` canonical-bucket trick):
    * pass i keeps a pair iff for every earlier pass q the two rows
    * do NOT share a kept pass-q block. The dedup predicate is pure
    * map-side column arithmetic — rows are pre-enriched with one
    * boolean `kept` flag per pass (one count aggregate + one keyed
    * join each), so no pair-level dedup shuffle is ever needed.
    *
    * Output: every input column duplicated with `l_`/`r_` prefixes
    * plus `block_pass` (the generating pass index). Oversized blocks
    * (> `maxBlock`) are dropped per pass — use [[blockAudit]] to make
    * that recall loss LOUD instead of silent. */
  def blockPairsMulti(df0: DataFrame, idCol: String,
      passes: Seq[Seq[String]], maxBlock: Int = 10000): DataFrame = {
    require(passes.nonEmpty, "blockPairsMulti needs at least one pass")
    passes.foreach(p =>
      require(p.nonEmpty, "each blocking pass needs at least one key"))
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val orig = df0.columns.toSeq
    var base = df0
    passes.zipWithIndex.foreach { case (keys, i) =>
      // null-safe enrichment join: a row with a NULL pass-i key can
      // never pair in pass i (=== semantics below) but must still
      // participate in the other passes, so it may not be dropped.
      val ok = df0.groupBy(keys.map(col): _*)
        .agg((count(lit(1)) <= maxBlock).as(s"__kept$i"))
        .select(keys.map(k => col(k).as(s"__ok${i}_$k")) :+
          col(s"__kept$i"): _*)
      val cond = keys.map(k => col(k) <=> col(s"__ok${i}_$k"))
        .reduce(_ && _)
      base = base.join(ok, cond)
        .drop(keys.map(k => s"__ok${i}_$k"): _*)
    }
    // cut the plan here: the enriched base (input rows + one kept
    // flag per pass) feeds BOTH sides of EVERY pass's self-join, and
    // the per-pass block keys differ so none of those exchanges are
    // reusable — without the cut the enrichment joins replay
    // 2x passes times. Input-sized, eager per invocation.
    base = base.localCheckpoint(true)
    def side(p: String) = base.select(base.columns.map(c =>
      col(c).as(p + c)): _*)
    val l = side("l_")
    val r = side("r_")
    passes.zipWithIndex.map { case (keys, i) =>
      val eq = keys.map(k => col("l_" + k) === col("r_" + k))
        .reduce(_ && _)
      val canonical = (0 until i).map { q =>
        val agreeQ = passes(q).map(k => col("l_" + k) === col("r_" + k))
          .reduce(_ && _)
        !(coalesce(agreeQ, lit(false)) && col(s"l___kept$q"))
      }.foldLeft(lit(true))(_ && _)
      l.join(r, eq && col(s"l___kept$i") &&
          col("l_" + idCol) < col("r_" + idCol) && canonical)
        .select(orig.flatMap(c =>
          Seq(col("l_" + c), col("r_" + c))) :+
          lit(i).as("block_pass"): _*)
    }.reduce(_ unionByName _)
  }

  /** Per-pass blocking audit — the loud companion to the silent
    * `maxBlock` guard: how many blocks each pass has, how many were
    * dropped for being oversized, how many rows sat in those dropped
    * blocks (the recall a user silently lost), and the largest block
    * seen. One count aggregate per pass; emit this next to any
    * production linkage run. */
  def blockAudit(df0: DataFrame, passes: Seq[Seq[String]],
      maxBlock: Int = 10000): DataFrame = {
    require(passes.nonEmpty, "blockAudit needs at least one pass")
    passes.zipWithIndex.map { case (keys, i) =>
      df0.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__bn__"))
        .agg(lit(i).as("block_pass"),
          count(lit(1)).as("n_blocks"),
          sum(when(col("__bn__") > maxBlock, 1L).otherwise(0L))
            .as("n_blocks_dropped"),
          sum(when(col("__bn__") > maxBlock, col("__bn__"))
            .otherwise(0L)).as("n_rows_dropped"),
          max("__bn__").as("max_block"))
    }.reduce(_ unionByName _)
  }

  /** Fellegi–Sunter score + decision for candidate pairs that carry
    * boolean per-field agreement columns: each field contributes its
    * agreement weight when true, disagreement weight when false, and
    * 0 when null (comparison impossible — a missing value carries no
    * evidence). `fields` is (agreementCol, m, u) with m = P(agree |
    * match), u = P(agree | non-match); scores ≥ `upper` classify
    * `match`, ≤ `lower` `non_match`, else `possible` (the clerical-
    * review band). Weights sum left-to-right in field order so a SQL
    * replay with the same literal weights is bit-identical. */
  def fellegiSunter(pairs: DataFrame,
      fields: Seq[(String, Double, Double)],
      upper: Double, lower: Double): DataFrame = {
    require(fields.nonEmpty, "fellegiSunter needs at least one field")
    require(lower <= upper, s"thresholds inverted: $lower > $upper")
    fields.foreach { case (c, m, u) =>
      require(m > 0 && m < 1 && u > 0 && u < 1 && m > u,
        s"field $c needs 0 < u < m < 1, got m=$m u=$u")
    }
    val score = fields.map { case (c, m, u) =>
      when(col(c).isNull, lit(0.0))
        .when(col(c), lit(agreeWeight(m, u)))
        .otherwise(lit(disagreeWeight(m, u)))
    }.reduce(_ + _)
    pairs.withColumn("fs_score", score)
      .withColumn("fs_class",
        when(col("fs_score") >= upper, "match")
          .when(col("fs_score") <= lower, "non_match")
          .otherwise("possible"))
  }

  /** Entity ids from matched pairs: `rounds` synchronous rounds of
    * min-label propagation over the match graph (labels start as the
    * vertex's own id; each round every vertex takes the min over
    * itself and its neighbors) — deterministic and UNROLLABLE, so an
    * oracle replays it exactly. Matched components are near-cliques
    * inside blocks, so tiny diameters; `rounds` = 3 covers diameter
    * ≤ 3, and for unbounded components use
    * [[graft.graphops.GraphOps.connectedComponents]] (fixpoint,
    * pointer jumping) instead. Each round is two hash joins + one
    * min aggregate — keyed shuffles only. */
  def entityIds(pairs: DataFrame, idACol: String, idBCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 || rounds == -1,
      s"rounds must be >= 1, or -1 for the fixpoint path, got $rounds")
    if (rounds == -1) {
      // Fixpoint fallback for components of unbounded diameter: the
      // pointer-jumping connected-components loop converges in
      // O(log d) rounds and needs no diameter bound, at the price of
      // a convergence check per round (not oracle-unrollable).
      return graft.graphops.GraphOps.connectedComponents(
        pairs.select(col(idACol).as("src"), col(idBCol).as("dst")))
        .select(col("id"), col("component").as("entity"))
    }
    val lbl = LocalStrategy.cached(pairs.select(col(idACol).as("a"),
        col(idBCol).as("b")).distinct()) { edges =>
      val verts = edges.select(col("a").as("id"))
        .union(edges.select(col("b").as("id"))).distinct()
      var lbl = verts.withColumn("lbl", col("id"))
      for (_ <- 1 to rounds) {
        val msgs = edges
          .join(lbl.select(col("id").as("a"), col("lbl")), Seq("a"))
          .select(col("b").as("id"), col("lbl"))
          .union(edges
            .join(lbl.select(col("id").as("b"), col("lbl")), Seq("b"))
            .select(col("a").as("id"), col("lbl")))
          .union(lbl)
        // materialize each round (eager localCheckpoint): lbl is
        // referenced 3x by the next round, so an unmaterialized
        // lineage replays round r-1's plan 3^r times (the classic
        // iterative-join DAG blow-up). A lineage cut, not a cache:
        // bounded rounds, and no chain of per-round cache entries.
        lbl = msgs.groupBy("id").agg(min("lbl").as("lbl"))
          .localCheckpoint(eager = true)
      }
      lbl
    }
    lbl.select(col("id"), col("lbl").as("entity"))
  }
}
