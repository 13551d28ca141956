package graft

import graft.stats.{PrefixSum, StatsOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The range-bucketed prefix sum against the global window it
  * replaces. The oracle runs every row through one unpartitioned
  * window, which is exactly the single-task plan the library avoids. */
class PrefixSumSpec extends SparkSpecBase {
  import spark.implicits._

  test("distinctValueCumCounts equals a global window on nulls, NaN, " +
      "±Inf, -0.0/0.0 and heavily repeated values") {
    val rnd = new scala.util.Random(7)
    // 300 distinct values, so all 32 ranges are in use; 1.0 and 2.5
    // repeat hundreds of times, and every bound is one of the values
    val raw: Seq[Option[Double]] =
      (0 until 300).map(i => Some(i / 4.0 - 30)) ++
      Seq.fill(400)(Some(1.0)) ++ Seq.fill(250)(Some(2.5)) ++
      Seq.fill(60)(Some(rnd.nextInt(40) - 20.0)) ++
      Seq(None, None, Some(Double.NaN), Some(Double.NaN),
        Some(Double.PositiveInfinity), Some(Double.NegativeInfinity),
        Some(-0.0), Some(0.0), Some(-0.0))
    val counts = raw.toDF("v").repartition(3).groupBy("v").count()
    val oracle = counts.withColumn("below", coalesce(sum("count").over(
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L)))
    val got = StatsOps.distinctValueCumCounts(counts, "v", "count")
    got.schema("__below__").nullable shouldBe false
    // NaN = NaN in Spark's join, so every value, NaN included, joins
    // once; null joins through the null-safe equality
    val cmp = got.join(oracle, got("v") <=> oracle("v"))
      .select(got("v"), got("__below__"), oracle("below"))
      .as[(Option[Double], Long, Long)].collect()
    cmp.length shouldBe counts.count()
    cmp.filter { case (_, a, b) => a != b } shouldBe empty
  }

  test("PrefixSum.before per key, descending with a tiebreak, equals " +
      "a window per key") {
    val rnd = new scala.util.Random(11)
    // scores repeat across range bounds; null keys and null scores too
    val rows = (0 until 600).map { i =>
      (i.toLong, if (i % 7 == 0) None else Some(s"k${i % 3}"),
        if (i % 11 == 0) None else Some(rnd.nextInt(12).toDouble),
        rnd.nextInt(9).toLong)
    }
    val df = rows.toDF("id", "k", "s", "w").repartition(3)
    val got = PrefixSum.before(df, "s", col("w"), "before",
        descending = true, tieBreak = Seq(col("id")), key = Some("k"))
      .select("id", "before").as[(Long, Long)].collect().toMap
    val oracle = df.withColumn("before", coalesce(sum("w").over(
        Window.partitionBy("k").orderBy(col("s").desc_nulls_first, col("id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("id", "before").as[(Long, Long)].collect().toMap
    got shouldBe oracle
  }
}
