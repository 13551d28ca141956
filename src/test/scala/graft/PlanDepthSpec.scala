package graft

import org.apache.spark.sql.catalyst.expressions.Expression

/** Expression-DEPTH lint — the round-10 lesson made mechanical: a
  * 30-deep nested binary concat fold put Catalyst's transformDown /
  * orderCommutative passes at 100+ seconds of DRIVER time per
  * micro-batch (jstack-confirmed; SCALE.md round 10). Column
  * builders must emit flat n-ary nodes (`concat_ws`, `greatest`,
  * `aggregate`) instead of folding into deep binary trees — depth,
  * not width, is the driver-side scale axis. This spec walks every
  * gate's ANALYZED plan (sf0.001) and bounds the deepest expression
  * tree. Only the plan is inspected, but building a gate is not free:
  * about 100 gates run Spark jobs while they are built (a collect of
  * fitted parameters, quantile bounds or a driver-side model; about
  * 1075 jobs in all), so most of this spec's time is gate
  * construction, not the walk. The bound is
  * set from the measured repo-wide maximum plus headroom; a new
  * gate tripping it is almost certainly a nested fold that wants a
  * flat n-ary rewrite, not a raise of the bound. */
class PlanDepthSpec extends SparkSpecBase {

  // measured repo-wide max is q239_ks_test at 112 (the asymptotic
  // p-value's scalar arithmetic chain — deep but cheap; the gate
  // plans in milliseconds). The bound leaves ~1.4× headroom; a
  // nested fold regression lands in the hundreds, not here.
  private val MaxDepth = 160

  private def depth(e: Expression): Int =
    1 + (if (e.children.isEmpty) 0 else e.children.map(depth).max)

  test(s"no gate's analyzed plan nests expressions deeper than $MaxDepth") {
    val dir = "/root/testdata/sf0.001"
    val offenders = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    var deepest = ("", 0)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, f) =>
      val plan = f(spark, dir).queryExecution.analyzed
      val d = plan.collect { case p =>
        (p.expressions.map(depth) :+ 0).max
      }.max
      if (d > deepest._2) deepest = (name, d)
      if (d > MaxDepth) offenders += name -> d
    }
    info(s"deepest gate: ${deepest._1} at ${deepest._2}")
    withClue(s"gates over depth $MaxDepth (flatten the fold): " +
        offenders.map { case (n, d) => s"$n=$d" }.mkString(", ")) {
      offenders shouldBe empty
    }
  }
}
