package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is configured. `Verify`, `Explain`, the
  * perfbench harness and the specs' shared test session all build
  * their session here, so what the specs check is what users and the
  * benchmark run. The settings the library depends on:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong` — required to read
  *    TIMESTAMP(NANOS) parquet (`Tables.load` rebuilds micros);
  *  - UTC session timezone — all datetime semantics and the DuckDB
  *    oracle comparisons assume it;
  *  - shuffle partitions sized to the core count, not the 200
  *    default — on a real cluster size to ~2-3× total cores and let
  *    AQE coalesce (see SCALE.md);
  *  - AQE on — runtime re-planning (skew splits, broadcast demotion)
  *    is part of the 100 TB design;
  *  - a generated-class cache large enough for a whole workload's
  *    plans (Spark's default of 100 entries evicts classes that later
  *    queries of the same shape compile again; see SCALE.md). It is
  *    JVM-wide and fixed by the first session that compiles code;
  *  - whole-stage classes named without their codegen stage id. AQE
  *    numbers a query's stages in the order they are planned, which
  *    follows the order earlier stages finish, so with the id in the
  *    name one plan run twice compiles its stages again under new
  *    names (CompileCountSpec).
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int,
      extensions: Boolean = false): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      // BYTES-AWARE scan-parallelism floor (guide §6): a table that
      // fits in one <128 MB parquet file arrives as ONE scan split,
      // so every map-heavy plan over it runs on one core regardless
      // of cluster width. minPartitionNum = cores asks the planner
      // to split such files, and openCostInBytes = 16 MB bounds the
      // granularity: maxSplitBytes = max(openCost, bytes/cores), so
      // a scan yields ~min(cores, ceil(bytes/16MB)) splits — a 5 MB
      // table stays ONE task (the round-10 floor fragmented every
      // small scan and cost 10-25% across ~36 sub-second queries —
      // driver-measured, VERDICT r10), a 1 GB file still fans out to
      // every core. Scale-adaptive by construction: derived from
      // bytes and requested parallelism, inert at real scale where
      // inputs already carry more splits than cores.
      .config("spark.sql.files.minPartitionNum",
        shufflePartitions.toString)
      .config("spark.sql.files.openCostInBytes",
        (16 * 1024 * 1024).toString)
    if (extensions)
      b.config("spark.sql.extensions",
        classOf[graft.sqlext.GraftExtensions].getName)
    else b
  }

  /** local[cores] session for the mains and ad-hoc use. */
  def local(cores: Int, extensions: Boolean = false): SparkSession = {
    val s = builder(s"local[$cores]", cores, extensions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
