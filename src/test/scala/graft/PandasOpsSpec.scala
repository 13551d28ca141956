package graft

import org.apache.spark.sql.functions._
import graft.ops.PandasOps._

/** Mirrors the reference's operator unit tests (SURVEY §5,
  * FIXTURES §B): tiny literal frames, hand-computed expectations. */
class PandasOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("reindex completes the key set, fills gaps, drops extras") {
    val df = Seq((1L, 10.0), (3L, 30.0), (9L, 90.0)).toDF("k", "v")
    val idx = Seq(1L, 2L, 3L).toDF("k")
    val out = df.reindex(idx, "k", fill = Some(0.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out shouldBe Map(1L -> 10.0, 2L -> 0.0, 3L -> 30.0)
  }

  test("alignOuter keeps both key sets with suffixed columns") {
    val a = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val b = Seq((2L, 200.0), (3L, 300.0)).toDF("k", "v")
    val out = a.alignOuter(b, "k")
    out.columns.toSeq shouldBe Seq("k", "v_x", "v_y")
    out.count() shouldBe 3L
    out.filter(col("k") === 2L).select("v_x", "v_y")
      .collect().head.toSeq shouldBe Seq(20.0, 200.0)
  }

  test("query string predicate filters like the reference query engine") {
    val df = Seq(("alice", 30, 50000.0), ("bob", 25, 80000.0),
      ("carol", 35, 60000.0)).toDF("name", "age", "salary")
    df.query("age > 25 AND salary < 80000").as[(String, Int, Double)]
      .collect().map(_._1).sorted shouldBe Array("alice", "carol")
  }

  test("valueCounts orders by frequency then value") {
    val df = Seq("A", "B", "A", "C", "A", "B").toDF("k")
    rows(df.valueCounts("k")) shouldBe
      Seq(Seq("A", 3L), Seq("B", 2L), Seq("C", 1L))
  }

  test("dropDuplicatesKeep keep=first and keep=last") {
    val df = Seq(("A", 1, 10.0), ("A", 2, 20.0), ("B", 3, 30.0))
      .toDF("k", "ord", "v")
    df.dropDuplicatesKeep(Seq("k"), "ord")
      .select("ord").as[Int].collect().sorted shouldBe Array(1, 3)
    df.dropDuplicatesKeep(Seq("k"), "ord", keepLast = true)
      .select("ord").as[Int].collect().sorted shouldBe Array(2, 3)
  }

  test("melt produces long format") {
    val df = Seq((1, 10.0, 100.0), (2, 20.0, 200.0))
      .toDF("id", "a", "b")
    val m = df.melt(Seq("id"), Seq("a", "b"))
    m.columns shouldBe Array("id", "variable", "value")
    m.count() shouldBe 4
    m.filter($"id" === 1 && $"variable" === "b")
      .select("value").as[Double].head() shouldBe 100.0
  }

  test("melt preserves value types: uniform, mixed-numeric, strings") {
    import org.apache.spark.sql.types._
    // uniform longs stay long (previously force-cast to double)
    val longs = Seq((1, 10L, 100L)).toDF("id", "a", "b")
      .melt(Seq("id"), Seq("a", "b"))
    longs.schema("value").dataType shouldBe LongType
    // mixed numerics widen to double
    val mixed = Seq((1, 10L, 2.5)).toDF("id", "a", "b")
      .melt(Seq("id"), Seq("a", "b"))
    mixed.schema("value").dataType shouldBe DoubleType
    // strings melt as strings, not NaN
    val strs = Seq((1, "x", "y")).toDF("id", "a", "b")
      .melt(Seq("id"), Seq("a", "b"))
    strs.schema("value").dataType shouldBe StringType
    strs.select("value").as[String].collect().sorted shouldBe
      Array("x", "y")
    // string + numeric falls back to string
    val both = Seq((1, "x", 2.5)).toDF("id", "a", "b")
      .melt(Seq("id"), Seq("a", "b"))
    both.schema("value").dataType shouldBe StringType
  }

  test("ffill/bfill fill along the order column per partition") {
    val df = Seq(("u", 1, Some(10.0)), ("u", 2, None), ("u", 3, None),
      ("u", 4, Some(40.0)), ("v", 1, None)).toDF("k", "ord", "v")
    val f = df.ffill(Seq("v"), "ord", Seq("k"))
      .orderBy("k", "ord").select("v").as[Option[Double]].collect()
    f shouldBe Array(Some(10.0), Some(10.0), Some(10.0), Some(40.0), None)
    val b = df.bfill(Seq("v"), "ord", Seq("k"))
      .orderBy("k", "ord").select("v").as[Option[Double]].collect()
    b shouldBe Array(Some(10.0), Some(40.0), Some(40.0), Some(40.0), None)
  }

  test("interpolateLinear: interior linear, trailing held, leading stays null") {
    val df = Seq((0, None), (1, Some(10.0)), (2, None), (3, None),
      (4, Some(40.0)), (5, None)).toDF("ord", "v")
    val out = df.interpolateLinear("v", "ord")
      .orderBy("ord").select("v").as[Option[Double]].collect()
    out shouldBe Array(None, Some(10.0), Some(20.0), Some(30.0),
      Some(40.0), Some(40.0))
  }

  test("rankBy implements pandas rank methods") {
    val df = Seq(10.0, 20.0, 20.0, 30.0).toDF("v")
    def ranks(m: String) = df.rankBy("v", m).orderBy("v", "rank")
      .select("rank").as[Double].collect().toSeq
    ranks("min") shouldBe Seq(1.0, 2.0, 2.0, 4.0)
    ranks("dense") shouldBe Seq(1.0, 2.0, 2.0, 3.0)
    ranks("first") shouldBe Seq(1.0, 2.0, 3.0, 4.0)
    ranks("max") shouldBe Seq(1.0, 3.0, 3.0, 4.0)
    ranks("average") shouldBe Seq(1.0, 2.5, 2.5, 4.0)
  }

  test("rankBy leaves nulls unranked without shifting real ranks") {
    val df = Seq(Some(30.0), None, Some(10.0), None, Some(20.0))
      .toDF("v")
    val out = df.rankBy("v", "min").orderBy($"v".asc_nulls_last)
      .select("rank").as[Option[Double]].collect()
    out shouldBe Array(Some(1.0), Some(2.0), Some(3.0), None, None)
  }

  test("cumprod handles zeros and negatives") {
    val df = Seq((1, 2.0), (2, -3.0), (3, 4.0), (4, 0.0), (5, 5.0))
      .toDF("ord", "v")
    val out = df.cumprod("v", "ord").orderBy("ord")
      .select("v_cumprod").as[Double].collect()
    out(0) shouldBe 2.0 +- 1e-9
    out(1) shouldBe -6.0 +- 1e-9
    out(2) shouldBe -24.0 +- 1e-9
    out(3) shouldBe 0.0
    out(4) shouldBe 0.0
  }

  test("cut bins with right-closed pandas intervals") {
    val df = Seq(0.5, 1.0, 1.5, 2.0, 9.0).toDF("v")
    val out = df.cut("v", Seq(0.0, 1.0, 2.0, 3.0))
      .orderBy("v").select("v_bin").collect().map(r =>
        if (r.isNullAt(0)) -1 else r.getInt(0))
    out shouldBe Array(0, 0, 1, 1, -1)
  }

  test("merge applies suffixes to overlapping columns") {
    val l = Seq((1, "x"), (2, "y")).toDF("id", "name")
    val r = Seq((1, "xx"), (3, "zz")).toDF("id", "name")
    val m = l.merge(r, Seq("id"), "outer")
    m.columns.sorted shouldBe Array("id", "name_x", "name_y")
    m.count() shouldBe 3
  }

  test("asofJoin picks most recent right row at-or-before left time") {
    val trades = Seq(("A", 3L), ("A", 7L), ("B", 2L))
      .toDF("sym", "t")
    val quotes = Seq(("A", 1L, 100.0), ("A", 5L, 105.0),
      ("A", 7L, 107.0), ("B", 4L, 50.0)).toDF("sym", "qt", "px")
    val out = trades.asofJoin(quotes, "sym", "t", "qt", "px")
      .orderBy("sym", "t").select("px_asof")
      .as[Option[Double]].collect()
    out shouldBe Array(Some(100.0), Some(107.0), None)
  }

  test("asofJoin forward and nearest directions") {
    val trades = Seq(("A", 3L), ("A", 7L), ("A", 20L), ("B", 2L))
      .toDF("sym", "t")
    val quotes = Seq(("A", 1L, 100.0), ("A", 5L, 105.0),
      ("A", 7L, 107.0), ("B", 4L, 50.0)).toDF("sym", "qt", "px")
    // forward: earliest quote at-or-after the trade
    val fwd = trades.asofJoin(quotes, "sym", "t", "qt", "px", "forward")
      .orderBy("sym", "t").select("px_asof")
      .as[Option[Double]].collect()
    // A@3 -> 5 (105); A@7 -> exact 7 (107); A@20 -> none; B@2 -> 4 (50)
    fwd shouldBe Array(Some(105.0), Some(107.0), None, Some(50.0))
    // nearest: closer of backward/forward, ties -> backward
    val near = trades.asofJoin(quotes, "sym", "t", "qt", "px", "nearest")
      .orderBy("sym", "t").select("px_asof")
      .as[Option[Double]].collect()
    // A@3: back=1 (d2) vs fwd=5 (d2) tie -> backward 100;
    // A@7 exact 107; A@20 back 107; B@2 only fwd 50
    near shouldBe Array(Some(100.0), Some(107.0), Some(107.0),
      Some(50.0))
    // tolerance drops matches farther than the bound (pandas
    // merge_asof tolerance), in every direction
    val tolB = trades.asofJoin(quotes, "sym", "t", "qt", "px",
        "backward", tolerance = Some(2.0))
      .orderBy("sym", "t").select("px_asof")
      .as[Option[Double]].collect()
    // A@3 back=1 d2 ok; A@7 exact d0; A@20 back=7 d13 DROPPED; B@2 none
    tolB shouldBe Array(Some(100.0), Some(107.0), None, None)
    val tolN = trades.asofJoin(quotes, "sym", "t", "qt", "px",
        "nearest", tolerance = Some(1.0))
      .orderBy("sym", "t").select("px_asof")
      .as[Option[Double]].collect()
    // A@3 nearest d2 > 1 dropped; A@7 d0; A@20 d13 dropped; B@2 d2 dropped
    tolN shouldBe Array(None, Some(107.0), None, None)
  }

  test("qcutApprox buckets into near-equal populations without a global window") {
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val counts = df.qcutApprox("v", 4, relErr = 0.0001)
      .groupBy("v_qbin").count().orderBy("v_qbin")
      .select("count").as[Long].collect()
    counts.length shouldBe 4
    counts.foreach(c => c.toDouble shouldBe 250.0 +- 10.0)
  }

  test("qcut and qcutApprox agree per-row on a well-separated " +
      "continuous column (the documented 100TB-path contract)") {
    // deterministic continuous values with no ties: the exact ntile
    // assignment and the GK-bound assignment may only disagree
    // within relErr*n rows of each boundary
    val n = 4000
    val df = (1 to n).map(i => (i, i * 7.0 + math.sin(i) * 0.3))
      .toDF("id", "v")
    val q = 8
    val relErr = 0.001
    val exact = df.qcut("v", q, tiebreak = "id")
      .select(col("id"), col("v_qbin").as("b_exact"))
    val approx = df.qcutApprox("v", q, relErr)
      .select(col("id"), col("v_qbin").as("b_approx"))
    val joined = exact.join(approx, "id")
    val disagree = joined
      .filter(col("b_exact") =!= col("b_approx")).count()
    // q-1 boundaries, each may shift by at most ~relErr*n rows
    disagree.toDouble should be <= (q - 1) * relErr * n + q
    // bin populations within the same bound of n/q
    val counts = df.qcutApprox("v", q, relErr)
      .groupBy("v_qbin").count().select("count").as[Long].collect()
    counts.length shouldBe q
    counts.foreach(c =>
      c.toDouble shouldBe (n.toDouble / q) +- (2 * relErr * n + q))
  }

  test("qcutApprox bins equal the first bound at or above each value, " +
      "null and NaN staying null") {
    // the bound chain qcutApprox replaced, rebuilt from the same bounds
    val vals: Seq[Option[Double]] = (1 to 200).map(i => Some((i % 50) / 2.0)) ++
      Seq(None, Some(Double.NaN), Some(Double.PositiveInfinity),
        Some(Double.NegativeInfinity), Some(-0.0), Some(0.0))
    val df = vals.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
    val q = 5
    val bounds = df.stat.approxQuantile("v",
      (1 until q).map(_.toDouble / q).toArray, 0.001)
    val chain = bounds.zipWithIndex.foldRight(lit(q - 1)) {
      case ((b, i), acc) => when($"v" <= b, lit(i)).otherwise(acc)
    }
    val expected = df.select($"id", when($"v".isNull || isnan($"v"),
        lit(null)).otherwise(chain).as("b"))
      .as[(Int, Option[Int])].collect().toMap
    val got = df.qcutApprox("v", q).select("id", "v_qbin")
      .as[(Int, Option[Int])].collect().toMap
    got shouldBe expected
    got(200) shouldBe None
    got(201) shouldBe None
    got(202) shouldBe Some(q - 1)
    got(203) shouldBe Some(0)
  }

  test("pivotTable: index × pivot-value grid, with and without values") {
    val df = Seq(("a", "x", 1.0), ("a", "x", 3.0), ("b", "x", 5.0),
      ("a", "y", 4.0)).toDF("k", "p", "v")
    val all = df.pivotTable(Seq("k"), "p", sum($"v")).orderBy("k")
    all.columns.toSeq shouldBe Seq("k", "x", "y")
    rows(all) shouldBe Seq(Seq("a", 4.0, 4.0), Seq("b", 5.0, null))
    rows(df.pivotTable(Seq("k"), "p", sum($"v"), values = Seq("y"))
      .orderBy("k")) shouldBe Seq(Seq("a", 4.0), Seq("b", null))
  }

  test("crosstab2 counts each (a, b) pair, null where a pair is absent") {
    val df = Seq((1, "u"), (1, "u"), (1, "v"), (2, "v")).toDF("a", "b")
    val out = df.crosstab2("a", "b").orderBy("a")
    out.columns.toSeq shouldBe Seq("a", "u", "v")
    rows(out) shouldBe Seq(Seq(1, 2L, 1L), Seq(2, null, 1L))
  }

  test("shiftCol, diffCol and pctChange look one row back per partition") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 35.0),
      ("b", 1, 5.0), ("b", 2, 4.0)).toDF("g", "ord", "v")
    def col1(d: org.apache.spark.sql.DataFrame, c: String) =
      d.orderBy("g", "ord").select(c).as[Option[Double]].collect().toSeq
    col1(df.shiftCol("v", 1, "ord", Seq("g")), "v_shift") shouldBe
      Seq(None, Some(10.0), Some(20.0), None, Some(5.0))
    col1(df.shiftCol("v", 2, "ord", Seq("g")), "v_shift") shouldBe
      Seq(None, None, Some(10.0), None, None)
    col1(df.diffCol("v", "ord", Seq("g")), "v_diff") shouldBe
      Seq(None, Some(10.0), Some(15.0), None, Some(-1.0))
    val pct = col1(df.pctChange("v", "ord", Seq("g")), "v_pct_change")
    pct.map(_.isEmpty) shouldBe Seq(true, false, false, true, false)
    pct(1).get shouldBe 1.0
    pct(2).get shouldBe 0.75
    pct(4).get shouldBe -0.2 +- 1e-12
    // no partition columns: one series over the whole frame
    df.filter($"g" === "a").diffCol("v", "ord").orderBy("ord")
      .select("v_diff").as[Option[Double]].collect().toSeq shouldBe
      Seq(None, Some(10.0), Some(15.0))
  }

  test("cummin is the running minimum per partition") {
    val df = Seq(("a", 1, 3), ("a", 2, 1), ("a", 3, 2), ("b", 1, 5),
      ("b", 2, 7)).toDF("g", "ord", "v")
    df.cummin("v", "ord", Seq("g")).orderBy("g", "ord")
      .select("v_cummin").as[Int].collect().toSeq shouldBe
      Seq(3, 1, 1, 5, 5)
  }

  test("applyNumeric replaces each named column by f of it") {
    val df = Seq((1, 2.5, "s"), (-3, 0.5, "t")).toDF("x", "y", "z")
    val out = df.applyNumeric(c => c * 2, Seq("x", "y"))
    out.columns.toSeq shouldBe Seq("x", "y", "z")
    rows(out.orderBy("z")) shouldBe Seq(Seq(2, 5.0, "s"), Seq(-6, 1.0, "t"))
  }

  test("nlargest is deterministic with tiebreak") {
    val df = Seq((1, 5.0), (2, 5.0), (3, 1.0)).toDF("id", "v")
    df.nlargest(2, "v", "id").select("id").as[Int].collect() shouldBe
      Array(1, 2)
  }

  test("valueCounts normalize emits proportions summing to 1") {
    val df = Seq("a", "a", "a", "b", null).toDF("v")
    val out = df.valueCounts("v", normalize = true).collect()
    out.map(_.getString(0)) shouldBe Array("a", "b") // null dropped
    out.map(_.getAs[Double]("proportion")).sum shouldBe 1.0 +- 1e-9
    out.head.getAs[Double]("proportion") shouldBe 0.75 +- 1e-9
    df.valueCounts("v", dropna = false).count() shouldBe 3
  }

  test("pivotTableMargins re-aggregates underlying rows, not cells") {
    val df = Seq(("a", "x", 1.0), ("a", "x", 3.0), ("b", "x", 5.0),
      ("a", "y", 4.0)).toDF("k", "p", "v")
    val out = df.pivotTableMargins(Seq("k"), "p", avg($"v"),
        values = Seq("x", "y"))
      .orderBy("k").collect()
    out.map(_.getString(0)) shouldBe Array("All", "a", "b")
    val all = out(0); val a = out(1); val b = out(2)
    a.getDouble(a.fieldIndex("x")) shouldBe 2.0
    a.getDouble(a.fieldIndex("y")) shouldBe 4.0
    a.getDouble(a.fieldIndex("All")) shouldBe 8.0 / 3 +- 1e-9
    b.isNullAt(b.fieldIndex("y")) shouldBe true
    b.getDouble(b.fieldIndex("All")) shouldBe 5.0
    // margin of x is avg(1,3,5)=3 — NOT the cell average (2+5)/2=3.5
    all.getDouble(all.fieldIndex("x")) shouldBe 3.0
    all.getDouble(all.fieldIndex("All")) shouldBe 3.25
  }

  test("stringAgg joins sorted distinct values, skipping nulls") {
    val df = Seq(("a", Some("z")), ("a", Some("m")), ("a", Some("z")),
      ("a", None), ("b", Some("q"))).toDF("k", "v")
    val out = df.stringAgg(Seq("k"), "v", sep = "|")
      .as[(String, String)].collect().toMap
    out shouldBe Map("a" -> "m|z", "b" -> "q")
    // keep duplicates when distinct = false
    df.stringAgg(Seq("k"), "v", sep = "|", distinct = false)
      .as[(String, String)].collect().toMap
      .apply("a") shouldBe "m|z|z"
  }

  test("combineFirst patches nulls and missing rows from the other frame") {
    val a = Seq((1L, Some(10.0), "x1"), (2L, None, "x2"))
      .toDF("id", "v", "only_a")
    val b = Seq((2L, Some(200.0), true), (3L, Some(300.0), false))
      .toDF("id", "v", "only_b")
    val out = a.combineFirst(b, Seq("id")).orderBy("id").collect()
    out.map(_.getLong(0)) shouldBe Array(1L, 2L, 3L)
    // shared column: a wins where present, b patches the null and the
    // missing row
    out.map(r => Option(r.get(r.fieldIndex("v")))) shouldBe
      Array(Some(10.0), Some(200.0), Some(300.0))
    // one-sided columns pass through with nulls elsewhere
    out.map(r => Option(r.get(r.fieldIndex("only_a")))) shouldBe
      Array(Some("x1"), Some("x2"), None)
    out.map(r => Option(r.get(r.fieldIndex("only_b")))) shouldBe
      Array(None, Some(true), Some(false))
  }

  test("sampleNPerGroup keeps exactly min(n, group size) rows per group") {
    val df = (1L to 100L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
      .unionByName(Seq((1000L, "tiny")).toDF("id", "g"))
    val out = df.sampleNPerGroup(Seq("g"), "id", 5, "x")
    out.groupBy("g").count().as[(String, Long)].collect().toMap shouldBe
      Map("g0" -> 5L, "g1" -> 5L, "g2" -> 5L, "tiny" -> 1L)
    // deterministic across runs; different salt redraws
    val again = df.sampleNPerGroup(Seq("g"), "id", 5, "x")
      .select("id").as[Long].collect().sorted
    again shouldBe out.select("id").as[Long].collect().sorted
    val redraw = df.sampleNPerGroup(Seq("g"), "id", 5, "y")
      .select("id").as[Long].collect().sorted
    redraw should not be again
  }

  test("pipe chains and memoryUsage estimates per column") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    df.pipe(_.filter($"id" > 1)).count() shouldBe 1
    val mu = df.memoryUsage().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    mu("id") shouldBe 16L // 8 bytes x 2 rows
    mu("s") should be > 0L
  }

  test("profile reports nulls, exact distinct, numeric stats") {
    val df = Seq(
      (Some(1L), Some(2.0), Some("a")),
      (Some(2L), None, Some("b")),
      (Some(2L), Some(6.0), None),
      (None, Some(4.0), Some("a")))
      .toDF("i", "d", "s")
    val out = graft.ops.PandasOps.profile(df, Seq("i", "d", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val i = out("i")
    i.getAs[Long]("n_total") shouldBe 4L
    i.getAs[Long]("n_null") shouldBe 1L
    i.getAs[Long]("n_distinct") shouldBe 2L
    i.getAs[Double]("min_v") shouldBe 1.0
    i.getAs[Double]("max_v") shouldBe 2.0
    val d = out("d")
    d.getAs[Long]("n_null") shouldBe 1L
    d.getAs[Double]("mean_v") shouldBe 4.0 +- 1e-9
    val s = out("s")
    s.getAs[Long]("n_distinct") shouldBe 2L
    s.isNullAt(s.fieldIndex("min_v")) shouldBe true
    s.isNullAt(s.fieldIndex("mean_v")) shouldBe true
  }

  test("jsonExtract pulls typed fields, missing paths become null") {
    val df = Seq(
      (1L, """{"k": 7, "tag": "x", "nested": {"v": 1.5}}"""),
      (2L, """{"tag": "y"}"""),
      (3L, null.asInstanceOf[String]))
      .toDF("id", "props")
    val out = graft.ops.PandasOps.jsonExtract(df, "props", Seq(
        ("$.k", "long", "k"),
        ("$.tag", "string", "tag"),
        ("$.nested.v", "double", "nv")))
      .orderBy("id").collect()
    out(0).getAs[Long]("k") shouldBe 7L
    out(0).getAs[String]("tag") shouldBe "x"
    out(0).getAs[Double]("nv") shouldBe 1.5
    out(1).isNullAt(out(1).fieldIndex("k")) shouldBe true
    out(1).getAs[String]("tag") shouldBe "y"
    out(2).isNullAt(out(2).fieldIndex("k")) shouldBe true
  }
}
