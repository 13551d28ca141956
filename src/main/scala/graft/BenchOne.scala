package graft

/** Targeted timing harness: time only the queries named on the command
  * line (min of 3 runs each, same session settings as Bench's
  * flagship ops). For plan iteration during development — the graded
  * benchmark remains graft.Bench.
  *
  * Every run, the warm-up included, is preceded by
  * `spark.catalog.clearCache()` so an operator-internal `.cache()`
  * (this query's or the previous one's) cannot carry earlier work
  * into a timed run — the round-10 lesson: warm min-of-3 numbers
  * systematically flattered cache-heavy plans vs the driver's cold
  * interleaved bench. The first (codegen-warm-up) run is reported as
  * `first=` for a cold-JVM-ish upper bound. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    spark.conf.set("spark.sql.adaptive.enabled", true)
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // the previous query's operator caches would flatter first=
      spark.catalog.clearCache()
      val t00 = System.nanoTime()
      fn(spark, sfDir).count() // warm-up: codegen + file listing
      val first = (System.nanoTime() - t00) / 1e9
      val ts = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"BENCHONE $name min=${ts.min}%.3f first=$first%.3f " +
        s"runs=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
