package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.avg
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._
import graft.graphops.GraphOps
import graft.llm.PipelineOps
import graft.ml.Clustering
import graft.stats.{StatsOps, TwoSampleOps}

/** The two physical strategies of pageRankExact, personalizedPageRank,
  * kCore and kmeansLloyd (graft.LocalStrategy) must be
  * indistinguishable: the same schema (names, types, nullability) and
  * the same rows, whether the input is collected and iterated on the
  * driver (the default threshold) or run distributed (threshold −1).
  * Also the cache rule that LocalStrategy owns: `cached` is the only
  * cache in `src/main`, and no call leaves one behind. */
class LocalStrategySpec extends SparkSpecBase {
  import spark.implicits._

  private val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(f: => T): T = {
    val old = spark.conf.getOption(thresholdKey)
    spark.conf.set(thresholdKey, v)
    try f finally old.fold(spark.conf.unset(thresholdKey))(
      spark.conf.set(thresholdKey, _))
  }

  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** the answer of `f` under both strategies, checked equal */
  private def sameUnderBoth(f: => DataFrame): (StructType, Map[Row, Int]) = {
    val local = f
    val (distSchema, distRows) = withThreshold("-1") {
      val d = f
      (d.schema, bag(d))
    }
    local.schema shouldBe distSchema
    val localRows = bag(local)
    localRows shouldBe distRows
    (local.schema, localRows)
  }

  /** duplicate and reversed edges, self-loops, null endpoints, a
    * dangling vertex (5) and a vertex reached only from a null (7) */
  private val messy: Seq[(Option[Long], Option[Long])] = Seq(
    (1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 3L),
    (1L, 4L), (4L, 2L), (2L, 4L), (4L, 5L), (3L, 4L), (6L, 1L),
  ).map { case (a, b) => (Option(a), Option(b)) } ++ Seq(
    (Some(6L), None), (None, Some(7L)), (None, None), (Some(8L), Some(8L)))

  private def nullableLongs = messy.toDF("src", "dst")
  private def strings = messy.map { case (a, b) =>
    (a.map(v => s"v$v"), b.map(v => s"v$v")) }.toDF("src", "dst")
  private def plainLongs = messy.collect { case (Some(a), Some(b)) => (a, b) }
    .toDF("src", "dst")
  private def ints = messy.collect { case (Some(a), Some(b)) =>
    (a.toInt, b.toInt) }.toDF("src", "dst")
  private def graphs = Seq("nullable long" -> (() => nullableLongs),
    "string" -> (() => strings), "non-null long" -> (() => plainLongs),
    "int" -> (() => ints))

  for ((name, g) <- graphs) {
    test(s"pageRankExact: local = distributed on $name ids") {
      val (schema, rows) = sameUnderBoth(GraphOps.pageRankExact(g(), rounds = 3))
      schema.fieldNames shouldBe Array("id", "pr", "pr_norm")
      rows.values.sum should be > 5
    }

    test(s"personalizedPageRank: local = distributed on $name ids") {
      val sources: Seq[Any] =
        if (name == "string") Seq("v1", "v6") else Seq(1L, 6L)
      sameUnderBoth(GraphOps.personalizedPageRank(g(), sources, rounds = 4))
      // Spark's isin coercion decides membership on both paths
      if (name != "string")
        sameUnderBoth(GraphOps.personalizedPageRank(g(), Seq(1, 3), rounds = 2))
    }

    test(s"kCore: local = distributed on $name ids") {
      for (k <- 1 to 4) sameUnderBoth(GraphOps.kCore(g(), k))
    }
  }

  test("the local results are the documented values on a known graph") {
    // (x, null) counts toward x's out-degree: vertex 6 splits its mass
    // between 1 and the null endpoint, so 1 receives r(6) div 2
    val g = Seq((Option(6L), Option(1L)), (Option(6L), None))
      .toDF("src", "dst")
    val pr = GraphOps.pageRankExact(g, rounds = 1, scale = 100L)
      .collect().map(r => Option(r.get(0)) -> r.getLong(1)).toMap
    // restart (100-85)*100/100 = 15; vertex 1: 85*(100 div 2) div 100 + 15
    pr shouldBe Map(Some(6L) -> 15L, Some(1L) -> 57L, None -> 15L)
    GraphOps.kCore(plainLongs, 2).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L))
  }

  test("ANSI overflow raises on both strategies") {
    def overflows(f: => DataFrame): Unit = {
      val e = intercept[Exception](f.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]) shouldBe true
    }
    val star = (2L to 40L).map(v => (v, 1L)).toDF("src", "dst")
    overflows(GraphOps.pageRankExact(star, rounds = 2, scale = Long.MaxValue / 4))
    withThreshold("-1")(overflows(
      GraphOps.pageRankExact(star, rounds = 2, scale = Long.MaxValue / 4)))
  }

  test("kCore raises the same error when maxIter is too small") {
    // a path peels one vertex from each end per round
    val path = (1L to 12L).map(v => (v, v + 1)).toDF("src", "dst")
    intercept[IllegalStateException](GraphOps.kCore(path, 2, maxIter = 2))
    withThreshold("-1")(intercept[IllegalStateException](
      GraphOps.kCore(path, 2, maxIter = 2)))
    sameUnderBoth(GraphOps.kCore(path, 2, maxIter = 6))
  }

  /** integer features. The first centroids (ids 1, 2, 3) are (0,0),
    * (0,0) and (4,0): centroid 1 ties with centroid 0 everywhere, so
    * its cluster is empty and keeps its centroid through the first
    * update; point 11 is equidistant from all three; a null feature
    * makes every distance null and goes to cluster 0 */
  private val points = Seq[(Option[Long], Option[Double], Option[Double])](
    (Some(1L), Some(0.0), Some(0.0)), (Some(2L), Some(0.0), Some(0.0)),
    (Some(3L), Some(4.0), Some(0.0)), (Some(4L), Some(10.0), Some(0.0)),
    (Some(5L), Some(10.0), Some(2.0)), (Some(6L), Some(0.0), Some(2.0)),
    (Some(7L), Some(20.0), Some(20.0)), (Some(8L), None, Some(3.0)),
    (Some(9L), Some(21.0), Some(19.0)), (Some(10L), Some(-4.0), Some(1.0)),
    (Some(11L), Some(2.0), Some(0.0)))
    .toDF("pid", "x", "y")

  test("kmeansLloyd: local = distributed, ties to the lowest index") {
    for (k <- 1 to 4; iters <- 0 to 3)
      sameUnderBoth(Clustering.kmeansLloyd(points, Seq("x", "y"), "pid", k, iters))
    val (_, rows) = sameUnderBoth(
      Clustering.kmeansLloyd(points, Seq("x", "y"), "pid", 3, 0))
    val cluster = rows.keys.map(r => r.getLong(0) -> r.getLong(1)).toMap
    cluster.values.toSet shouldBe Set(0L, 2L) // cluster 1 is empty
    cluster(11L) shouldBe 0L
    cluster(8L) shouldBe 0L
  }

  test("kmeansLloyd: string ids in UTF-8 order, null id, NaN feature") {
    // "B" < "a" < "é" in UTF-8 byte order: the first centroid is B's
    val pts = Seq[(String, Double, Double)](("a", 1, 1), ("B", 9, 9),
      ("é", 4, 4), ("c", 8, 8), (null, 2, 2), ("n", Double.NaN, 0),
      ("d", 1, 2)).toDF("pid", "x", "y")
    for (k <- 1 to 3) sameUnderBoth(
      Clustering.kmeansLloyd(pts, Seq("x", "y"), "pid", k, 2))
    val ints = Seq((3, 1L, 0L), (1, 5L, 5L), (2, 0L, 0L)).toDF("pid", "x", "y")
    sameUnderBoth(Clustering.kmeansLloyd(ints, Seq("x", "y"), "pid", 2, 1))
  }

  /** Spark jobs started by `f`, counted through a listener; a marker
    * job in its own group flushes the listener bus. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"local-strategy-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds)) {
        seen.asScala.toSeq should contain(group + "-end")
      }
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("the local strategy adds at most 3 jobs to the input plan's") {
    val calls = Seq[() => DataFrame](
      () => GraphOps.pageRankExact(nullableLongs),
      () => GraphOps.personalizedPageRank(strings, Seq("v1")),
      () => GraphOps.kCore(plainLongs, 2),
      () => Clustering.kmeansLloyd(points, Seq("x", "y"), "pid", 3, 3))
    for (call <- calls) {
      // the fixtures are local relations: their own plan starts no job
      jobsOf(nullableLongs.collect()) shouldBe 0
      val local = jobsOf(call().collect())
      withClue(call().schema.simpleString)(local should be <= 3)
      withThreshold("-1")(jobsOf(call().collect())) should be > local
    }
  }

  test("kmeansLloyd leaves no persistent RDD behind on either strategy") {
    val sc = spark.sparkContext
    def run(): Unit =
      Clustering.kmeansLloyd(points, Seq("x", "y"), "pid", 3, 3).collect()
    val before = sc.getPersistentRDDs.keySet
    run()
    sc.getPersistentRDDs.keySet -- before shouldBe empty
    // distributed: the points cache is released and the answer's own
    // checkpoint goes with the answer
    withThreshold("-1")(run())
    eventually(timeout(30.seconds)) {
      System.gc()
      sc.getPersistentRDDs.keySet -- before shouldBe empty
    }
  }

  test("a cache the caller holds is used and kept") {
    val e = nullableLongs.select("src", "dst").cache()
    try {
      e.count()
      GraphOps.kCore(e, 2).collect()
      e.storageLevel should not be org.apache.spark.storage.StorageLevel.NONE
    } finally e.unpersist()
  }

  test("no call leaves a cache behind, also when it throws") {
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val sample = Seq(("a", 1L), ("a", 3L), ("b", 2L), ("b", 3L), ("a", 5L),
      ("b", 7L), ("a", 3L), ("b", 9L)).toDF("g", "v")
    val docs = (1 to 40).map(i => (i.toLong, (i * 7 % 13).toDouble, i % 5 + 1))
      .toDF("id", "score", "tokens")
    val path = (1L to 12L).map(v => (v, v + 1)).toDF("src", "dst")
    val partition = (1L to 13L).map(v => (v, v % 3)).toDF("id", "comm")
    val calls = Seq[(String, () => Unit)](
      "mannWhitneyUTest" -> (() =>
        StatsOps.mannWhitneyUTest(sample, "v", "g", "a", "b").collect()),
      "ksTest" -> (() => StatsOps.ksTest(sample, "v", "g", "a", "b").collect()),
      "ksTwoSample" -> (() =>
        TwoSampleOps.ksTwoSample(sample, "v", "g", "a", "b").collect()),
      "takeByBudget" -> (() =>
        PipelineOps.takeByBudget(docs, "score", "tokens", "id", 50L).collect()),
      "heavyHitters" -> (() =>
        PipelineOps.heavyHitters(sample, "v", 4).collect()),
      "modularity" -> (() => GraphOps.modularity(path, partition).collect()),
      "bootstrap" -> (() => StatsOps.bootstrap(sample, 5, avg("v")).collect()),
      // a path graph does not converge in one superstep
      "connectedComponents throws" -> (() => intercept[IllegalStateException](
        GraphOps.connectedComponents(path, maxIter = 1))))
    val sc = spark.sparkContext
    for ((name, call) <- calls) {
      cm.isEmpty shouldBe true
      val before = sc.getPersistentRDDs.keySet
      call()
      withClue(s"$name left a cache entry: ")(cm.isEmpty shouldBe true)
      // nor a block that outlives its frames (a checkpoint is freed
      // with the frame that reads it)
      eventually(timeout(30.seconds)) {
        System.gc()
        withClue(s"$name: ")(
          sc.getPersistentRDDs.keySet -- before shouldBe empty)
      }
    }
  }

  /** the code of a Scala source: comments dropped and string literals
    * emptied, line breaks kept so that line numbers still match */
  private def codeOf(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def skipTo(end: String, keep: String => String): Unit = {
      val j = src.indexOf(end, i)
      val e = if (j < 0) src.length else j + end.length
      out ++= keep(src.substring(i, e))
      i = e
    }
    val breaks = (s: String) => s.filter(_ == '\n')
    while (i < src.length) {
      if (src.startsWith("//", i)) skipTo("\n", breaks)
      else if (src.startsWith("/*", i)) skipTo("*/", breaks)
      else if (src.startsWith("\"\"\"", i)) {
        i += 3
        skipTo("\"\"\"", s => "\"\"\"" + breaks(s) + "\"\"\"")
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        out ++= "\"\""
        i = j + 1
      } else if (src(i) == '\'' && src.startsWith("'", i + 2)) {
        i += 3 // a character literal such as '"'
      } else if (src.startsWith("'\\", i) && src.startsWith("'", i + 3)) {
        i += 4 // an escaped one such as '\"'
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  test("LocalStrategy.cached is the only cache in src/main") {
    val root = Paths.get("src/main/scala")
    val call = raw"\.(cache|persist|unpersist)\b".r
    val sites = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") &&
        f.getFileName.toString != "LocalStrategy.scala")
      .flatMap { f =>
        codeOf(Files.readString(f)).split("\n", -1).iterator.zipWithIndex
          .collect { case (line, n) if call.findFirstIn(line).nonEmpty =>
            s"${root.relativize(f)}:${n + 1}: ${line.trim}" }
      }.toList
    sites shouldBe empty
    // the lint sees through comments and strings, not past code
    codeOf("x.cache() // y.persist()\n/* z.unpersist() */ \"a.cache\"")
      .split("\n").map(l => call.findAllIn(l).size).toSeq shouldBe Seq(1, 0)
    call.findFirstIn(codeOf("x.localCheckpoint(eager = true)")) shouldBe None
  }
}
