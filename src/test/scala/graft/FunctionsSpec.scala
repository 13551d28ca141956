package graft

import org.apache.spark.sql.functions._
import graft.functions.{CustomAggregators, DtOps, StrOps}
import graft.ops.PandasOps._
import graft.sqlext.RollingHash64

/** String/datetime accessor parity, custom Aggregators, and the
  * native codegen expression. */
class FunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("string accessor family matches Python semantics") {
    val df = Seq("hello world", "ABC", "a1b2", "  pad  ").toDF("s")
    val r = df.select(
      StrOps.title($"s"), StrOps.capitalize($"s"), StrOps.swapcase($"s"),
      StrOps.isalpha($"s"), StrOps.isdigit($"s"), StrOps.isalnum($"s"),
      StrOps.countMatches($"s", "[0-9]"), StrOps.strip($"s"))
      .collect()
    r(0).toSeq shouldBe Seq("Hello World", "Hello world", "HELLO WORLD",
      false, false, false, 0, "hello world")
    r(1).toSeq shouldBe Seq("Abc", "Abc", "abc", true, false, true, 0, "ABC")
    r(2).toSeq shouldBe Seq("A1b2", "A1b2", "A1B2", false, false, true,
      2, "a1b2")
    // the pandas-named aliases; str.strip/lstrip/rstrip strip every
    // whitespace character, not only spaces
    val ws = Seq("hello world", "ABC", "a1b2", "  pad  ", "\tx y\n",
      " \t\n").toDF("s")
    ws.select(StrOps.startswith($"s", "a"), StrOps.endswith($"s", "d"),
      StrOps.strip($"s"), StrOps.lstrip($"s"), StrOps.rstrip($"s"),
      StrOps.isspace($"s"), StrOps.islower($"s"), StrOps.isupper($"s"))
      .collect().map(_.toSeq).toSeq shouldBe Seq(
      Seq(false, true, "hello world", "hello world", "hello world",
        false, true, false),
      Seq(false, false, "ABC", "ABC", "ABC", false, false, true),
      Seq(true, false, "a1b2", "a1b2", "a1b2", false, true, false),
      Seq(false, false, "pad", "pad  ", "  pad", false, true, false),
      Seq(false, false, "x y", "x y\n", "\tx y", false, true, false),
      Seq(false, false, "", "", "", true, false, false))
  }

  test("pad left/right/both; longer strings pass through untruncated") {
    val df = Seq("ab").toDF("s")
    df.select(StrOps.pad($"s", 5), StrOps.pad($"s", 5, "right"),
      StrOps.pad($"s", 5, "both", "*")).head().toSeq shouldBe
      Seq("   ab", "ab   ", "*ab**")
    val long = Seq("abcdef").toDF("s")
    long.select(StrOps.pad($"s", 3), StrOps.pad($"s", 3, "right"),
      StrOps.pad($"s", 3, "both")).head().toSeq shouldBe
      Seq("abcdef", "abcdef", "abcdef")
  }

  test("findall extracts all regex matches") {
    Seq("a1 b22 c333").toDF("s")
      .select(StrOps.findall($"s", "[0-9]+"))
      .as[Seq[String]].head() shouldBe Seq("1", "22", "333")
  }

  test("datetime accessor family") {
    val df = Seq("2024-02-29 13:45:30").toDF("s")
      .select(to_timestamp($"s").as("t"))
    val r = df.select(
      DtOps.year($"t"), DtOps.quarter($"t"), DtOps.weekday($"t"),
      DtOps.isWeekend($"t"), DtOps.daysInMonth($"t"),
      DtOps.isLeapYear($"t"), DtOps.normalize($"t").cast("string"),
      DtOps.roundTo($"t", "hour").cast("string")).head()
    r.toSeq shouldBe Seq(2024, 1, 3, false, 29, true,
      "2024-02-29 00:00:00", "2024-02-29 14:00:00")
    // arithmetic from a leap day clamps to the month's end, as pandas'
    // DateOffset does; the session time zone is UTC
    df.select(
      DtOps.addDays($"t", 1).cast("string"),
      DtOps.addHours($"t", 11).cast("string"),
      DtOps.addMonths($"t", 1).cast("string"),
      DtOps.addYears($"t", 1).cast("string"),
      DtOps.epochSeconds($"t"),
      DtOps.tzConvert($"t", "America/New_York").cast("string"),
      DtOps.tzLocalize($"t", "America/New_York").cast("string"))
      .head().toSeq shouldBe Seq("2024-03-01", "2024-03-01 00:45:30",
      "2024-03-29", "2025-02-28", 1709214330L, "2024-02-29 08:45:30",
      "2024-02-29 18:45:30")
  }

  test("businessDayCount counts Mon-Fri between dates") {
    val df = Seq(("2024-01-01", "2024-01-15")).toDF("a", "b") // Mon → Mon
      .select(to_timestamp($"a").as("a"), to_timestamp($"b").as("b"))
    df.select(DtOps.businessDayCount($"a", $"b")).as[Long]
      .head() shouldBe 10L
  }

  test("isBusinessDay honors an explicit holiday calendar") {
    // 2024-01-01 is a Monday; 2024-01-06 a Saturday
    val df = Seq("2024-01-01", "2024-01-02", "2024-01-06")
      .toDF("d").select(to_timestamp($"d").as("d"))
    val out = df.select(
      DtOps.isBusinessDay($"d", Seq("2024-01-01")).as("b"))
      .as[Boolean].collect()
    out shouldBe Array(false, true, false)
    // empty calendar = weekday rule only
    df.select(DtOps.isBusinessDay($"d", Nil).as("b"))
      .as[Boolean].collect() shouldBe Array(true, true, false)
  }

  test("custom Aggregators distribute and match closed forms") {
    val df = Seq(("a", 2.0), ("a", 8.0), ("b", 3.0), ("b", 27.0))
      .toDF("k", "v").repartition(4)
    val out = df.groupBy("k").agg(
      CustomAggregators.geomMean($"v").as("gm"),
      CustomAggregators.coefVariation($"v").as("cv"))
      .orderBy("k").collect()
    approx(out(0).getAs[Double]("gm"), 4.0, 1e-9)
    approx(out(1).getAs[Double]("gm"), 9.0, 1e-9)
    // cv of (2,8): mean 5, sd sqrt(18) → cv = sqrt(18)/5
    approx(out(0).getAs[Double]("cv"), math.sqrt(18.0) / 5.0, 1e-9)
  }

  test("custom Aggregators usable from SQL after registration") {
    CustomAggregators.registerAll(spark)
    Seq(2.0, 8.0).toDF("v").createOrReplaceTempView("gm_t")
    spark.sql("SELECT geom_mean(v) FROM gm_t").as[Double]
      .head() shouldBe 4.0 +- 1e-9
  }

  test("RollingHash64 codegen matches interpreted eval and reference") {
    val df = Seq("", "abc", "the quick brown fox", "日本語").toDF("s")
    val got = df.select(RollingHash64.rolling_hash64($"s"))
      .as[Long].collect()
    val exp = Seq("", "abc", "the quick brown fox", "日本語")
      .map(RollingHash64.hashOf)
    got.toSeq shouldBe exp
    // registered SQL path
    RollingHash64.register(spark)
    df.createOrReplaceTempView("rh_t")
    spark.sql("SELECT rolling_hash64(s) FROM rh_t WHERE s = 'abc'")
      .as[Long].head() shouldBe RollingHash64.hashOf("abc")
  }

  test("GraftExtensions injects native functions via the config path") {
    import org.apache.spark.sql.{GraftSqlBridge, SparkSessionExtensions}
    // simulate spark.sql.extensions=graft.sqlext.GraftExtensions: the
    // injector populates an extensions object, whose functions land in
    // a fresh session's registry
    val ext = new SparkSessionExtensions
    new graft.sqlext.GraftExtensions().apply(ext)
    val s2 = spark.newSession()
    GraftSqlBridge.applyInjectedFunctions(ext, s2)
    s2.sql("SELECT rolling_hash64('abc') AS h")
      .collect().head.getLong(0) shouldBe RollingHash64.hashOf("abc")
    s2.sql("""SELECT cosine_similarity(
        |  array(CAST(3.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c"""
        .stripMargin)
      .collect().head.getDouble(0) shouldBe 1.0 +- 1e-9
    // DESCRIBE FUNCTION sees the injected ExpressionInfo
    val desc = s2.sql("DESCRIBE FUNCTION rolling_hash64")
      .collect().map(_.getString(0)).mkString("\n")
    desc should include("rolling_hash64")
  }

  test("groupFilter keeps whole groups by aggregate predicate") {
    val df = Seq(("a", 1), ("a", 9), ("b", 2), ("b", 3)).toDF("k", "v")
    df.groupFilter(Seq("k"), sum($"v") > 5)
      .select("k").distinct().as[String].collect() shouldBe Array("a")
  }

  test("groupTransform broadcasts group aggregates to rows") {
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("k", "v")
    val out = df.groupTransform(Seq("k"), avg($"v"), "gmean")
      .withColumn("centered", $"v" - $"gmean")
      .groupBy("k").agg(sum("centered").as("s"))
      .select("s").as[Double].collect()
    out.foreach(s => approx(s, 0.0, 1e-9))
  }

  test("aggNamed mirrors pandas agg dict") {
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 5.0)).toDF("k", "v")
    val out = df.aggNamed(Seq("k"),
      "total" -> sum($"v"), "n" -> count(lit(1)), "avg_v" -> avg($"v"))
    out.columns shouldBe Array("k", "total", "n", "avg_v")
    out.filter($"k" === "a").head().toSeq shouldBe Seq("a", 4.0, 2L, 2.0)
    // population skewness and excess kurtosis of 1, 3, 5: deviations
    // -2, 0, 2 give m3 = 0 and m4 / m2² = (32/3) / (8/3)² = 1.5
    graft.stats.StatsOps.skewKurt(df, "v").head().toSeq shouldBe
      Seq(0.0, -1.5)
  }

  test("betweenTime selects inclusive time-of-day, wraps midnight") {
    val df = Seq("2024-03-01 09:29:59", "2024-03-01 09:30:00",
      "2024-03-01 12:00:00", "2024-03-01 16:00:00",
      "2024-03-01 16:00:01", "2024-03-01 23:30:00",
      "2024-03-02 01:00:00")
      .map(java.sql.Timestamp.valueOf).toDF("ts")
    df.filter(graft.functions.DtOps.betweenTime($"ts", "09:30",
      "16:00")).count() shouldBe 3 // both endpoints inclusive
    // wrapping range selects across midnight
    df.filter(graft.functions.DtOps.betweenTime($"ts", "22:00",
      "02:00")).count() shouldBe 2
    df.filter(graft.functions.DtOps.atTime($"ts", "12:00"))
      .count() shouldBe 1
  }
}
