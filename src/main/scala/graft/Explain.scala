package graft

/** Plan-audit utility: prints the executed physical plan of the named
  * `SparkEntry.queries` (all flagship bench queries if none given) so
  * shuffle/broadcast/pushdown shape can be reviewed per SCALE.md.
  * The session is [[GraftSession.local]], so these are the plans users
  * run, AQE included (an adaptive plan prints its initial form until
  * it has executed).
  * Usage: runMain graft.Explain [sfDir] q01_groupby_agg ...
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (dir, names) =
      if (args.nonEmpty && args.head.startsWith("/"))
        (args.head, args.tail.toSeq)
      else ("/root/testdata/sf0.01", args.toSeq)
    val spark = GraftSession.local(4)
    val qs = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    qs.foreach { q =>
      println(s"===== $q")
      println(SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan)
    }
    spark.stop()
  }
}
