package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.LocalStrategy

/** An exact cumulative sum without a global window: the one trick
  * behind the rank, ECDF and cumulative operators (Mann-Whitney, KS,
  * Cramér-von Mises, survival curves, `aucRoc`, `gini`, Spearman,
  * budget cuts).
  *
  * A global running sum is a window with no partition key, which
  * Spark runs in one task. [[before]] splits the order into range
  * buckets instead: two eager passes collect approximate quantile
  * bounds per key, then the weight total of every (key, bucket).
  * Buckets never split a run of equal sort values, so the running sum
  * is the driver-side prefix of the totals before a row's bucket plus
  * a window within its bucket. The result is exact wherever the
  * bounds fall; they only set the parallelism.
  *
  * The bounds and offsets reach the returned plan as array (and map)
  * literals, which Spark binds to the generated code by reference.
  * A `when(... lit(b) ...)` chain would inline every bound into the
  * generated Java and compile new classes for every call on new data.
  * The bounds are not computed inside the plan: two evaluations of
  * one approximate quantile can disagree. */
private[graft] object PrefixSum {

  /** Buckets per key. */
  private val Buckets = 32

  /** `df` with `out`: the sum of `weight` (integral) over the rows
    * that come strictly before each row when its `key` group (a
    * string column) is sorted by `sortCol` (numeric, nulls first;
    * descending if `descending`) and then `tieBreak`; 0 for a group's
    * first row. */
  def before(df: DataFrame, sortCol: String, weight: Column, out: String,
      descending: Boolean = false, tieBreak: Seq[Column] = Nil,
      key: Option[String] = None): DataFrame = {
    val v = col(sortCol).cast("double")
    val k = key.fold(lit(""))(col)
    def lookup(m: Column, orElse: Column) = coalesce(element_at(m, k), orElse)
    // a null sort value matches no bound, so it lands in bucket 0,
    // where both sort directions put it (nulls first)
    def bucket(bounds: Column): Column =
      size(filter(bounds, b => if (descending) b >= v else v > b))
    val probs = (1 until Buckets).map(_.toDouble / Buckets).toArray
    val (bounds, offsets) = LocalStrategy.cached(df) { m =>
      val bounds = m.filter(v.isNotNull).groupBy(k.as("k"))
        .agg(percentile_approx(v, lit(probs), lit(1000)))
        .collect().filter(!_.isNullAt(0))
        .map(r => r.getString(0) -> r.getSeq[Double](1).distinct).toMap
      val inPlan = lookup(typedLit(bounds), typedLit(Seq.empty[Double]))
      val totals = m.groupBy(k.as("k"), bucket(inPlan).as("b"))
        .agg(sum(weight)).collect().filter(!_.isNullAt(0))
        .groupBy(_.getString(0))
      // offsets(b) = the weight of buckets 0 until b
      val offsets = totals.map { case (g, rows) =>
        val t = new Array[Long](bounds.getOrElse(g, Nil).size + 1)
        rows.foreach(r => if (!r.isNullAt(2)) t(r.getInt(1)) = r.getLong(2))
        g -> t.scanLeft(0L)(_ + _).init.toSeq
      }
      (inPlan, offsets)
    }
    val order = (if (descending) col(sortCol).desc_nulls_first
      else col(sortCol).asc_nulls_first) +: tieBreak
    val w = Window.partitionBy(key.map(col).toSeq :+ col("__bkt__"): _*)
      .orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)
    val offset = element_at(lookup(typedLit(offsets), typedLit(Seq(0L))),
      col("__bkt__") + 1)
    df.withColumn("__bkt__", bucket(bounds))
      .withColumn(out, offset + coalesce(sum(weight).over(w), lit(0L)))
      .drop("__bkt__")
  }
}
