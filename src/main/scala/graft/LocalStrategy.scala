package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** The second physical strategy of the driver-loop algorithms
  * (`GraphOps.pageRankExact`, `personalizedPageRank`, `kCore`,
  * `Clustering.kmeansLloyd`), chosen from the measured input size the
  * way Spark chooses a broadcast over a shuffle join.
  *
  * Each superstep of those loops costs a few Spark jobs, and on a small
  * input the per-job driver overhead is the whole cost (about 24 jobs
  * per call on a 12K-edge graph, with task cores mostly idle). [[run]]
  * materializes the input ONCE (cache + count) and estimates its size
  * as rows × `schema.defaultSize`:
  *
  *  - at most `spark.sql.autoBroadcastJoinThreshold`: the rows are
  *    collected and `local` runs the supersteps on the driver with the
  *    distributed plan's exact arithmetic, returning a local DataFrame
  *    with the distributed plan's schema (two jobs, one count and one
  *    collect, on top of the input plan's own);
  *  - larger: `distributed` runs the existing plan over the
  *    materialized table, so the input plan is never evaluated twice.
  *
  * There is no knob of its own: a threshold of −1 (Spark's "never
  * broadcast") skips the materialization and runs the distributed plan
  * exactly as before. Key columns whose values the driver cannot
  * compare the way Spark does (collated strings, floating point,
  * nested types, or src/dst of different types) force the distributed
  * plan too.
  *
  * It also owns the one cache rule of `src/main`: no call leaks a
  * cache. [[cached]] is the only place the library caches. A table
  * that only the call's own actions read (a loop invariant, a sample
  * measured before a write) is used inside a `cached` scope, which
  * releases it when the call returns or throws. A table that the
  * returned DataFrame reads is not cached at all: the call's eager
  * actions run inside `cached`, the returned plan reads the uncached
  * frame, and Spark reuses the shuffle of an aggregate that the plan
  * reads twice. */
private[graft] object LocalStrategy {

  def run[T](df: DataFrame, keyCols: String*)(local: Array[Row] => T)(
      distributed: DataFrame => T): T = {
    val threshold =
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0 || !driverKeys(df.schema, keyCols)) distributed(df)
    else cached(df) { m =>
      // builds the cache and counts in one job (Dataset.count adds an
      // aggregate, and AQE a separate cache-building stage, to that)
      val rows = m.queryExecution.toRdd.count()
      if (rows <= threshold / math.max(1, df.schema.defaultSize))
        local(m.collect())
      else distributed(m)
    }
  }

  /** `f` over `df` cached for the duration of the call. A cache the
    * caller already holds is used and kept; one made here is released
    * when `f` returns or throws. `f` may return a plan that reads `df`
    * as long as no action ran on that plan inside the scope: executed
    * later, it reads `df` uncached. */
  def cached[T](df: DataFrame)(f: DataFrame => T): T = {
    val owned = df.storageLevel == StorageLevel.NONE
    val m = if (owned) df.cache() else df
    try f(m) finally if (owned) m.unpersist()
  }

  /** One key type whose collected values compare (and hash) on the
    * driver exactly as Spark compares them in joins, grouping and
    * ordering. */
  private def driverKeys(schema: StructType, cols: Seq[String]): Boolean = {
    val types = cols.map(c => schema(c).dataType).distinct
    types.size <= 1 && types.forall {
      case ByteType | ShortType | IntegerType | LongType => true
      case s: StringType => s.collationId == StringType.collationId
      case _ => false
    }
  }

  /** Spark's ascending order over driver-key values, nulls first (the
    * default of `orderBy`): integral by value, strings by UTF-8 bytes. */
  val keyOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case (x: Number, y: Number) =>
        java.lang.Long.compare(x.longValue, y.longValue)
      case _ => throw new IllegalArgumentException(
        s"not a driver key: ${a.getClass} vs ${b.getClass}")
    }
  }
}
