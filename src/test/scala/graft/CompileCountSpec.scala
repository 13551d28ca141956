package graft

import graft.llm.PipelineOps
import graft.ops.PandasOps._
import graft.stats.StatsOps
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Generated code that does not change with the data: once an
  * operator has run, a call on different data of the same shape
  * compiles no class. Spark inlines a primitive literal into the
  * generated Java, so an operator that folds collected values
  * (quantile bounds, prefix offsets) into `lit` chains misses the
  * codegen cache and compiles again on every call with new data.
  * The count is Spark's own: one `METRIC_COMPILATION_TIME` update per
  * compiled class. */
class CompileCountSpec extends SparkSpecBase {
  import spark.implicits._

  private def compiled(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Seeded rows of (id, group, v, w, s, tok): the same row count,
    * value ranges and groups for every seed, different values (and
    * different minima and maxima of the wide columns v and w). */
  private def frame(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until 400).map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", rnd.nextInt(20001) - 10000L,
        rnd.nextInt(5000).toLong, rnd.nextInt(1000) / 10.0,
        1L + rnd.nextInt(20))
    }.toDF("id", "g", "v", "w", "s", "tok").repartition(2)
  }

  /** Each case has seeds of its own, so no case meets data that an
    * earlier one already compiled for. */
  private def secondCallCompilesNothing(seed: Int)(
      op: DataFrame => DataFrame): Unit = {
    op(frame(seed)).collect()
    val before = compiled()
    op(frame(seed + 1)).collect()
    (compiled() - before) shouldBe 0L
  }

  test("distinctValueRanks: a second call on new data compiles no class") {
    secondCallCompilesNothing(10) { df =>
      StatsOps.distinctValueRanks(
        df.groupBy("v").count(), "v", "count")
    }
  }

  test("mannWhitneyUTest: a second call on new data compiles no class") {
    secondCallCompilesNothing(20) { df =>
      StatsOps.mannWhitneyUTest(df, "v", "g", "a", "b")
    }
  }

  test("takeByBudget: a second call on new data compiles no class") {
    secondCallCompilesNothing(30) { df =>
      PipelineOps.takeByBudget(df, "s", "tok", "id", 2000L)
    }
  }

  test("corrMatrixSpearman: a second call on new data compiles no class") {
    secondCallCompilesNothing(40) { df =>
      StatsOps.corrMatrixSpearman(df, Seq("v", "w", "tok"))
    }
  }

  test("qcutApprox: a second call on new data compiles no class") {
    secondCallCompilesNothing(50)(_.qcutApprox("s", 4))
  }
}
