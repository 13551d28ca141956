package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LocalStrategy

/** Strength estimation from pairwise comparisons — the
  * preference-data fit behind RLHF reward baselines, ranker A/Bs and
  * tournament analytics. Elo is inherently SEQUENTIAL (each update
  * depends on both players' current ratings — a global serial fold
  * that cannot distribute); Bradley-Terry is the batch form: fit
  * P(i beats j) = p_i / (p_i + p_j) to the aggregate win matrix by
  * Hunter's (2004) MM iteration
  *   p'_i = W_i / Σ_{j≠i} n_ij / (p_i + p_j)
  * which is one pair-keyed join + one player-keyed aggregation per
  * round — the Pregel-ish shape that scales.
  */
object PairwiseRank {

  /** Fit Bradley-Terry strengths with `rounds` MM iterations from
    * p = 1 (each round unrolls exactly as an oracle CTE: every
    * opponent term is rounded to 12 decimals and DECIMAL-summed, so
    * the per-round strengths are order-free and engine-replayable).
    * Input: one row per ordered pair (winner, loser, wins ≥ 1) —
    * aggregate duplicates upstream. Players with zero wins stay at
    * strength 0 in the MM limit; they are kept (W_i = 0 ⇒ p' = 0)
    * and reported. Returns (id, wins, strength, share) with share
    * the final normalization over the DECIMAL-summed total. */
  def bradleyTerry(pairs: DataFrame, winnerCol: String,
      loserCol: String, winsCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 6,
      s"rounds in [1,6] (each unrolls as an oracle CTE), got $rounds")
    val e = pairs.select(col(winnerCol).as("w"),
        col(loserCol).as("l"), col(winsCol).cast("long").as("k"))
      .filter(col("k") > 0 && col("w") =!= col("l"))
      .groupBy("w", "l").agg(sum("k").as("k"))
    // n_ij (total games between i and j) and W_i (total wins of i),
    // both built from one cached e
    val games = e.select(col("w").as("a"), col("l").as("b"), col("k"))
      .union(e.select(col("l").as("a"), col("w").as("b"), col("k")))
      .groupBy("a", "b").agg(sum("k").as("n"))
    val winsOf = games.select(col("a").as("id")).distinct()
      .join(e.groupBy(col("w").as("id")).agg(sum("k").as("wins")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("wins"), lit(0L)).as("wins"))
    val p = LocalStrategy.cached(e) { _ =>
    LocalStrategy.cached(games) { games =>
    LocalStrategy.cached(winsOf) { winsOf =>
      var p = winsOf.select(col("id"), col("wins"), lit(1.0).as("p"))
      for (_ <- 1 to rounds) {
        val denom = games
          .join(p.select(col("id").as("a"), col("p").as("pa")),
            Seq("a"))
          .join(p.select(col("id").as("b"), col("p").as("pb")),
            Seq("b"))
          .select(col("a").as("id"),
            round(col("n").cast("double") / (col("pa") + col("pb")),
              12).cast("decimal(38,12)").as("t"))
          .groupBy("id").agg(sum("t").as("den"))
        // wins rides along, so the answer reads only this checkpoint
        p = winsOf.join(denom, Seq("id"), "left")
          .select(col("id"), col("wins"),
            when(col("den").isNotNull && col("den") > 0,
              col("wins").cast("double") / col("den").cast("double"))
              .otherwise(lit(0.0)).as("p"))
          .localCheckpoint(eager = true)
      }
      p
    }}}
    val tot = p.agg(sum(round(col("p"), 12).cast("decimal(38,12)"))
      .as("tp"))
    p.crossJoin(broadcast(tot))
      .select(col("id"), col("wins"), col("p").as("strength"),
        when(col("tp") > 0,
          col("p") / col("tp").cast("double")).as("share"))
  }
}
