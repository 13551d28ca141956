package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import graft.vis.VisOps

/** Text-vis parity (reference src/vis/ascii, src/vis/direct
  * sparkline): plot tables with exact integer rendering math. */
class VisOpsSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("histogram bins, edges, and integer-scaled bars") {
    // 10 values in [0,10): 6 in bin 0 ([0,5)), 4 in bin 1 ([5,10))
    val df = Seq(0.0, 1.0, 2.0, 3.0, 4.0, 4.9, 5.0, 6.0, 7.0, 9.9)
      .toDF("v")
    val h = VisOps.histogram(df, "v", 0.0, 10.0, 2, barWidth = 6)
      .orderBy("bin").collect()
    h.map(_.getAs[Long]("cnt")).toSeq shouldBe Seq(6L, 4L)
    h.map(_.getAs[Double]("lo_edge")).toSeq shouldBe Seq(0.0, 5.0)
    h.map(_.getAs[Double]("hi_edge")).toSeq shouldBe Seq(5.0, 10.0)
    // bars: 6*6/6=6 hashes, 4*6/6=4 hashes (integer division)
    h.map(_.getAs[String]("bar")).toSeq shouldBe Seq("######", "####")
  }

  test("histogram reads its uncached bin aggregate through one shuffle") {
    // the rule for a table the returned plan reads twice: no cache,
    // Spark reuses the aggregate's exchange (AQE on, the session
    // default)
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    val h = VisOps.histogram(spark.range(0, 1000).select(
      (col("id") % 97).cast("double").as("v")), "v", 0.0, 100.0, 10)
    h.agg(sum("cnt")).head().getLong(0) shouldBe 1000L
    h.collect().length shouldBe 10
    collect(h.queryExecution.executedPlan) {
      case r: ReusedExchangeExec => r
    } should not be empty
  }

  test("histogram drops out-of-range and null values") {
    val df = Seq(Some(-1.0), Some(0.0), Some(9.0), Some(10.0), None)
      .toDF("v")
    val h = VisOps.histogram(df, "v", 0.0, 10.0, 2)
    h.agg(sum("cnt")).collect()(0).getLong(0) shouldBe 2L // 0.0 and 9.0
  }

  test("sparkline maps a monotone series to rising glyphs") {
    // one key, 8 days, strictly increasing values, width 8 ->
    // one bucket per day, levels 0..7
    val df = (0 until 8).map(i =>
      ("a", java.sql.Date.valueOf(s"2024-01-0${i + 1}"), (i + 1) * 10L))
      .toDF("k", "dt", "v")
    val out = VisOps.sparkline(df, "k", "dt", "v", width = 8).collect()
    out.length shouldBe 1
    out(0).getAs[String]("spark") shouldBe "▁▂▃▄▅▆▇█"
  }

  test("sparkline is flat-bottom glyph for a constant series") {
    val df = (0 until 5).map(i =>
      ("c", java.sql.Date.valueOf(s"2024-02-0${i + 1}"), 42L))
      .toDF("k", "dt", "v")
    val out = VisOps.sparkline(df, "k", "dt", "v", width = 5).collect()
    out(0).getAs[String]("spark") shouldBe "▁▁▁▁▁"
  }

  test("boxplotStats five-number summary and Tukey outliers") {
    // group a: 1..100 plus outliers -50 and 500; group b: constant
    val rows = ((1 to 100).map(i => ("a", i.toLong)) ++
      Seq(("a", -500L), ("a", 500L)) ++
      (1 to 10).map(_ => ("b", 7L))).toDF("g", "v")
    val st = graft.vis.VisOps.boxplotStats(rows, "v", Seq("g"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = st("a")
    a.getAs[Long]("n") shouldBe 102L
    a.getAs[Long]("min_v") shouldBe -500L
    // rule: first v with cum-count >= q*n (n=102)
    a.getAs[Long]("q1") shouldBe 25L // first v with cw >= 25.5
    a.getAs[Long]("median") shouldBe 50L
    a.getAs[Long]("q3") shouldBe 76L // cw(v)=v+1 >= 76.5
    a.getAs[Long]("max_v") shouldBe 500L
    a.getAs[Long]("n_outliers") shouldBe 2L
    val b = st("b")
    b.getAs[Long]("q1") shouldBe 7L
    b.getAs[Long]("n_outliers") shouldBe 0L
  }

  test("histogramAuto covers [min, max] with FD-derived bins") {
    val df = (1L to 1000L).map(v => Tuple1(v)).toDF("v")
    val h = graft.vis.VisOps.histogramAuto(df, "v")
    val total = h.agg(sum("cnt")).head().getLong(0)
    total shouldBe 1000L // every value (incl. max) falls in a bin
    val nb = h.count()
    nb should be >= 1L
    nb should be <= 200L
  }

  test("pairCounts bins every pair; totals match in-range rows") {
    val df = Seq((1.0, 10.0, 0.5), (2.0, 20.0, 1.5), (9.0, 90.0, 9.9),
      (11.0, 50.0, 5.0)).toDF("a", "b", "c") // a=11 out of range
    val pc = graft.vis.VisOps.pairCounts(df, Seq("a", "b", "c"),
      Map("a" -> (0.0, 10.0), "b" -> (0.0, 100.0), "c" -> (0.0, 10.0)),
      nBins = 5)
    pc.filter(col("col_x") === "a" && col("col_y") === "b")
      .agg(sum("cnt")).head().getLong(0) shouldBe 3L
    pc.filter(col("col_x") === "b" && col("col_y") === "c")
      .agg(sum("cnt")).head().getLong(0) shouldBe 4L
    pc.filter(col("col_x") === "a" && col("col_y") === "b" &&
      col("bx") === 0 && col("by") === 0).head().getLong(4) shouldBe 1L
  }

  test("isMonotonic detects direction and strictness per key") {
    val df = Seq(("up", 1, 1L), ("up", 2, 2L), ("up", 3, 5L),
      ("flat", 1, 4L), ("flat", 2, 4L),
      ("down", 1, 9L), ("down", 2, 3L),
      ("mixed", 1, 1L), ("mixed", 2, 9L), ("mixed", 3, 2L))
      .toDF("k", "o", "v")
    val m = graft.ops.PandasOps.isMonotonic(df, "v", "o", Seq("k"))
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
          r.getBoolean(4))).toMap
    m("up") shouldBe ((true, false, true, false))
    m("flat") shouldBe ((true, true, false, false))
    m("down") shouldBe ((false, true, false, true))
    m("mixed") shouldBe ((false, false, false, false))
  }
}
