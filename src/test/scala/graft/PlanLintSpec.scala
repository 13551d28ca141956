package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{count, lit, row_number}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Permanent regression guard for the per-query plan audits: every
  * gate in [[SparkEntry.queries]] is planned against sf0.001 and the
  * physical plan must not contain a CartesianProduct or
  * BroadcastNestedLoopJoin — UNLESS one side is provably tiny
  * (a grouping-free global aggregate or a <=32-row local relation:
  * the scalar fit-then-apply broadcast and bounded-grid shapes), or
  * the query is on the explicit allow-list below. Catches the
  * classic scale-killer (an unkeyed join slipping into a hot path)
  * at spec time instead of at 100 TB. */
class PlanLintSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose cartesian/BNL shape is deliberate and bounded
    * (each audited in the round-4 plan review): the joined sides are
    * single-group stat rows (groupBy + filter-to-one-group),
    * domain-bounded distinct-value / cell / group-pair tables, or
    * the explicit cross-join gate itself. */
  private val allow: Map[String, String] = Map(
    "q07_join_cross" -> "the explicit cross-join gate",
    "q59_ttest" -> "two single-group stat rows (filter-to-one-group)",
    "q363_power_analysis" ->
      "two single-group stat rows (filter-to-one-group, q59 shape)",
    "q84_mwu_ztest" -> "bounded rank/tie tables of two groups",
    "q86_lof" -> ("all-pairs kNN baseline on the bounded supplier " +
      "set; the LSH-bucketed kNN graph is the documented scale path"),
    "q122_cramers_v" -> "|X|x|Y|-bounded cell table x scalar margins",
    "q152_cohens_d" -> "two single-group stat rows",
    "q163_kendall" -> "domain-bounded distinct-value pair tables",
    "q186_fuzzy_match" -> ("distinct-vocab x distinct-vocab edit-" +
      "distance compare, both sides bounded by vocabulary"),
    "q205_tukey_hsd" -> "k x k group-pair comparison table",
    "q242_cliffs_delta" -> "two domain-bounded group value tables",
    "q243_hodges_lehmann" -> "pairwise diffs of bounded value tables",
    "q285_chi2_residuals" -> "cell table x scalar margin rows"
  )

  private def tinySide(p: SparkPlan): Boolean = p.collectFirst {
    case h: HashAggregateExec if h.groupingExpressions.isEmpty => ()
    case s: SortAggregateExec if s.groupingExpressions.isEmpty => ()
    case o: ObjectHashAggregateExec
        if o.groupingExpressions.isEmpty => ()
    case l: LocalTableScanExec if l.rows.lengthCompare(32) <= 0 => ()
    // a deduped broadcast of an already-seen scalar exchange: the
    // reused node carries no children, so accept it (the original
    // exchange was linted where it first appeared)
    case _: org.apache.spark.sql.execution.exchange
        .ReusedExchangeExec => ()
    // a small top-k / limit bounds its side just like an aggregate
    // (the boundedBelow convention): ≤1000 rows in a BNL is a
    // broadcastable constant-size side, not a scale risk
    case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
        if t.limit <= 1000 => ()
    case g: org.apache.spark.sql.execution.GlobalLimitExec
        if g.limit <= 1000 => ()
  }.isDefined

  /** Gates whose GLOBAL (empty-partitionSpec) window runs over input
    * that is not provably bounded by plan structure — each audited,
    * with the written bound. This is the other scale-killer class
    * (a Window.orderBy with no partitionBy funnels ALL rows through
    * one task); anything new that trips this must either partition,
    * pre-aggregate, or be justified here. */
  private val allowGlobalWindow: Map[String, String] = Map(
    "q30_ntile_qcut" -> ("exact qcut/ntile is DOCUMENTED " +
      "single-series scope (PandasOps.scala qcut doc); qcutApprox " +
      "(approx_percentile) is the scale path, agreement-spec'd"),
    "q169_bh_fdr" -> ("Benjamini–Hochberg is INHERENTLY a global " +
      "order statistic over one p-value per hypothesis — input is " +
      "hypothesis-count-sized (suppliers here), not data-row-sized; " +
      "at larger m, partition by test family")
  )

  /** Is every leafward path below `p` capped by an aggregation /
    * tiny local relation before reaching a scan? If so, a global
    * window above it sees domain-bounded rows (distinct values,
    * group keys, calendar days …), not data-scale rows. Joins/unions
    * require ALL branches bounded: a bounded × raw join is raw-sized.
    * A final WindowGroupLimit with a small k also bounds (≤k rows
    * reach the downstream global window — the rank-pushdown shape). */
  private def boundedBelow(p: SparkPlan): Boolean = p match {
    case _: HashAggregateExec | _: SortAggregateExec |
        _: ObjectHashAggregateExec => true
    case l: LocalTableScanExec => l.rows.lengthCompare(32) <= 0
    case _: org.apache.spark.sql.execution.exchange
        .ReusedExchangeExec => true
    case w: WindowGroupLimitExec if w.limit <= 1000 => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec |
        _: org.apache.spark.sql.execution.LocalLimitExec |
        _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
      true
    // a cached intermediate is a physical-plan LEAF — descend into
    // the plan that produced it (a table that a caller or an earlier
    // suite cached; no library call caches a table its returned plan
    // reads)
    case m: InMemoryTableScanExec => boundedBelow(m.relation.cachedPlan)
    // a cache entry materialized while AQE was on (e.g. by an earlier
    // suite planning the same gate) wraps its plan in an adaptive
    // LEAF node; once run, its executedPlan is the final query stage
    case a: AdaptiveSparkPlanExec => boundedBelow(a.executedPlan)
    // a query stage (result, shuffle, broadcast, table cache) is
    // itself a LEAF — the operators it ran sit in its `plan`
    case q: QueryStageExec => boundedBelow(q.plan)
    case n if n.children.nonEmpty => n.children.forall(boundedBelow)
    case _ => false // a leaf scan: data-scale input
  }

  /** Runs `body` with AQE set to `on`, then puts back the value the
    * session had (or unsets the key if it was unset). */
  private def withAqe[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getAll.get(key)
    spark.conf.set(key, on.toString)
    try body finally prior.fold(spark.conf.unset(key))(
      spark.conf.set(key, _))
  }

  test("boundedBelow sees through the query stages of a cache " +
      "materialized under AQE") {
    val ev = Tables.load(spark, dir, "events")
    val agg = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
    val raw = ev.repartition(4)
    // built and run with AQE on, each cache entry holds an adaptive
    // plan whose executedPlan is a childless ResultQueryStageExec
    withAqe(on = true) {
      agg.cache().count()
      raw.cache().count()
    }
    try withAqe(on = false) {
      def globalWindowInput(df: DataFrame): SparkPlan =
        df.withColumn("__r__", row_number().over(Window.orderBy("user_id")))
          .queryExecution.executedPlan
          .collectFirst { case w: WindowExec if w.partitionSpec.isEmpty =>
            w.child
          }.get
      // the shape under test: the window reads the cache, and the
      // cached plan has already been cut into query stages
      def readsStagedCache(p: SparkPlan): Boolean = p.collectFirst {
        case m: InMemoryTableScanExec => m.relation.cachedPlan
      }.exists {
        case a: AdaptiveSparkPlanExec =>
          a.executedPlan.isInstanceOf[QueryStageExec]
        case _ => false
      }
      val aggIn = globalWindowInput(agg)
      val rawIn = globalWindowInput(raw)
      withClue(aggIn.treeString) {
        readsStagedCache(aggIn) shouldBe true
        boundedBelow(aggIn) shouldBe true
      }
      withClue(rawIn.treeString) {
        readsStagedCache(rawIn) shouldBe true
        boundedBelow(rawIn) shouldBe false
      }
    } finally {
      agg.unpersist(blocking = true)
      raw.unpersist(blocking = true)
    }
  }

  test("no gate runs a globally-ordered window over unbounded input") {
    withAqe(on = false) {
      val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          if (allowGlobalWindow.contains(name)) None
          else try {
            val plan = fn(spark, dir).queryExecution.executedPlan
            val offenders = plan.collect {
              case w: WindowExec
                  if w.partitionSpec.isEmpty &&
                    !boundedBelow(w.child) =>
                s"WindowExec over:\n${w.child.treeString.take(800)}"
            }
            if (offenders.nonEmpty)
              Some(s"$name: global ${offenders.distinct.mkString(",")}")
            else None
          } catch {
            case e: Throwable =>
              Some(s"$name: PLANNING FAILED ${e.toString.take(120)}")
          }
      }
      withClue(bad.mkString("\n")) { bad shouldBe empty }
    }
  }

  test("no gate plans an unbounded cartesian or nested-loop join") {
    // AQE off so queryExecution.executedPlan is the concrete
    // physical plan rather than an adaptive wrapper
    withAqe(on = false) {
      val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          if (allow.contains(name)) None
          else try {
            val plan = fn(spark, dir).queryExecution.executedPlan
            val offenders = plan.collect {
              case j: BroadcastNestedLoopJoinExec
                  if !tinySide(j.left) && !tinySide(j.right) =>
                "BroadcastNestedLoopJoin"
              case c: CartesianProductExec
                  if !tinySide(c.left) && !tinySide(c.right) =>
                "CartesianProduct"
            }
            if (offenders.nonEmpty)
              Some(s"$name: ${offenders.distinct.mkString(", ")}")
            else None
          } catch {
            case e: Throwable =>
              Some(s"$name: PLANNING FAILED ${e.toString.take(120)}")
          }
      }
      withClue(bad.mkString("\n")) { bad shouldBe empty }
    }
  }
}
