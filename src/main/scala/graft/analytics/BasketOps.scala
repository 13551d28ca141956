package graft.analytics

import org.apache.spark.ml.fpm.FPGrowth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LocalStrategy

/** Market-basket mining: frequent itemsets (FP-Growth) and
  * single-item association rules, over baskets built from a keyed
  * item stream (e.g. each user's set of event types).
  *
  * Scale notes: basket build is one distinct + collect_set keyed
  * shuffle. FP-Growth is MLlib's parallel PFP — conditional trees are
  * mined per group-id partition, so mining distributes; with a small
  * item vocabulary (typical for event-type/category domains) the tree
  * depth is bounded and output size is capped by 2^|vocab|, not rows.
  * Rules finalize from the itemset table alone (joins on bounded
  * itemset counts, no second data pass). */
object BasketOps {

  /** Baskets: one row per key with the DISTINCT item set. */
  def baskets(df: DataFrame, keyCol: String, itemCol: String):
      DataFrame =
    df.filter(col(keyCol).isNotNull && col(itemCol).isNotNull)
      .select(col(keyCol), col(itemCol)).distinct()
      .groupBy(col(keyCol))
      .agg(collect_set(col(itemCol)).as("items"))

  /** Frequent itemsets at `minSupport` (fraction of baskets):
    * (itemset: sorted comma-joined string, freq). The string form
    * makes results engine-portable for the oracle gate. */
  def frequentItemsets(df: DataFrame, keyCol: String, itemCol: String,
      minSupport: Double): DataFrame = {
    val b = baskets(df, keyCol, itemCol)
    new FPGrowth().setItemsCol("items").setMinSupport(minSupport)
      .setMinConfidence(0.0).fit(b)
      .freqItemsets
      .select(array_join(array_sort(col("items")), ",").as("itemset"),
        col("freq"))
  }

  /** Single-antecedent → single-consequent association rules from the
    * frequent pair/item counts: confidence = supp(a,b)/supp(a),
    * lift = confidence / (supp(b)/N). Derived from the itemset table
    * (so thresholds inherit `minSupport`); round 6. */
  def pairRules(df: DataFrame, keyCol: String, itemCol: String,
      minSupport: Double): DataFrame = {
    val (n, freq) = LocalStrategy.cached(baskets(df, keyCol, itemCol)) {
      b =>
        (b.count().toDouble, new FPGrowth().setItemsCol("items")
          .setMinSupport(minSupport).setMinConfidence(0.0).fit(b)
          .freqItemsets)
    }
    val singles = freq.filter(size(col("items")) === 1)
      .select(col("items").getItem(0).as("item"), col("freq"))
    val pairs = freq.filter(size(col("items")) === 2)
      .select(array_sort(col("items")).as("is"), col("freq").as("fab"))
      .select(col("is").getItem(0).as("i1"),
        col("is").getItem(1).as("i2"), col("fab"))
    // emit both directions a->b and b->a
    val both = pairs.select(col("i1").as("antecedent"),
        col("i2").as("consequent"), col("fab"))
      .unionByName(pairs.select(col("i2").as("antecedent"),
        col("i1").as("consequent"), col("fab")))
    both
      .join(singles.withColumnRenamed("item", "antecedent")
        .withColumnRenamed("freq", "fa"), "antecedent")
      .join(singles.withColumnRenamed("item", "consequent")
        .withColumnRenamed("freq", "fb"), "consequent")
      .select(col("antecedent"), col("consequent"), col("fab"),
        round(col("fab").cast("double") / col("fa"), 6)
          .as("confidence"),
        round(col("fab").cast("double") / col("fa") /
          (col("fb").cast("double") / lit(n)), 6).as("lift"))
  }

  /** Sequential pattern mining (MLlib PrefixSpan — the ORDERED
    * sibling of [[frequentItemsets]]): frequent subsequences of each
    * key's item stream in `orderCol` order, support = number of
    * sequences containing the pattern (not necessarily adjacently —
    * the PrefixSpan semantics, vs q244's contiguous n-grams). With
    * maxLen ≤ 2 the result is fully oracle-able: pattern <a,b> holds
    * for a sequence iff ∃ positions i < j with s_i = a, s_j = b.
    * Output: (pattern items joined by '>', freq), deterministic.
    *
    * Scale: sequence build is one keyed sort aggregate; PrefixSpan
    * distributes by prefix projection (MLlib's parallel impl); with a
    * bounded item vocabulary the pattern lattice is vocabulary-, not
    * row-, bounded. */
  def sequentialPatterns(df: DataFrame, keyCol: String,
      orderCol: String, itemCol: String, minSupport: Double,
      maxLen: Int = 2): DataFrame = {
    import org.apache.spark.ml.fpm.PrefixSpan
    val seqs = df.filter(col(keyCol).isNotNull && col(itemCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(expr(s"transform(array_sort(collect_list(" +
        s"struct($orderCol as o, $itemCol as i))), p -> array(p.i))")
        .as("sequence"))
    new PrefixSpan().setSequenceCol("sequence")
      .setMinSupport(minSupport).setMaxPatternLength(maxLen)
      .findFrequentSequentialPatterns(seqs)
      .select(
        array_join(expr("transform(sequence, s -> s[0])"), ">")
          .as("pattern"),
        col("freq"))
  }
}
