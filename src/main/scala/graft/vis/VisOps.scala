package graft.vis

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text visualization parity (reference `src/vis/ascii`, `src/vis/text`,
  * `src/vis/direct/sparkline.rs`): ASCII histograms and Unicode
  * sparklines as DataFrame results rather than terminal side effects —
  * the Spark-native shape is "compute the tiny plot table distributed,
  * render strings in the result set".
  *
  * Scale: the histogram is one hash aggregate over the fact table into
  * nBins rows; the sparkline is one aggregate into (keys × width)
  * bucket rows then a per-key fold. Windows only ever run over ≤nBins /
  * ≤width rows per partition. All rendering arithmetic is exact
  * integer math (bar lengths via integer division, bucket ids via
  * integer day math) so results are engine-reproducible.
  */
object VisOps {

  /** Fixed-width histogram of valueCol over [lo, hi) with an ASCII bar
    * per bin (longest bar = barWidth chars, integer-scaled). Output:
    * bin, lo_edge, hi_edge, cnt, bar. */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      nBins: Int, barWidth: Int = 40): DataFrame = {
    require(nBins > 0 && hi > lo)
    val width = (hi - lo) / nBins
    val v = col(valueCol).cast("double")
    // the max branch reads the same aggregate: Spark plans it once
    // and reuses its shuffle (ReusedExchange), so the base is scanned
    // once
    val binned = df
      .filter(v.isNotNull && v >= lo && v < hi)
      .select(floor((v - lit(lo)) / lit(width)).cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    // nBins rows from here on: the 1-row max broadcast is a
    // constant-size plot table, not a data-scale shuffle.
    binned
      .crossJoin(broadcast(binned.agg(max("cnt").as("mx"))))
      .select(col("bin"),
        round(lit(lo) + col("bin") * lit(width), 6).as("lo_edge"),
        round(lit(lo) + (col("bin") + 1) * lit(width), 6).as("hi_edge"),
        col("cnt").cast("long").as("cnt"),
        expr(s"repeat('#', CAST(cnt * $barWidth DIV mx AS INT))")
          .as("bar"))
  }

  private val Blocks = "▁▂▃▄▅▆▇█"

  /** Per-key Unicode sparkline of a daily value series compressed to
    * `width` time buckets. Bucketing is exact integer day math over
    * the global [min_day, max_day] span; each bucket's mean (exact
    * integer sums, one double division) is mapped to one of 8 block
    * glyphs by its position inside the key's own [min, max] mean
    * range. Output: keyCol, spark (string of ≤width glyphs). */
  def sparkline(df: DataFrame, keyCol: String, dateCol: String,
      valueCol: String, width: Int = 20): DataFrame = {
    require(width > 0)
    val day = datediff(col(dateCol).cast("date"),
      lit("1970-01-01").cast("date")).cast("long")
    // ONE full-data pass: aggregate straight to the (key, day) table
    // (bounded by keys × days) and derive both the global span and
    // the bucket means from those rows — the span branch reuses the
    // aggregate's shuffle instead of scanning the base data again.
    val daily = df
      .filter(col(keyCol).isNotNull && col(dateCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).as("k"), day.as("d"),
        col(valueCol).cast("long").as("v"))
      .groupBy("k", "d")
      .agg(sum("v").as("sv"), count(lit(1)).as("cv"))
    val span = daily.agg(min("d").as("mind"), max("d").as("maxd"))
    val buckets = daily.crossJoin(broadcast(span))
      .select(col("k"),
        expr(s"CAST((d - mind) * $width DIV (maxd - mind + 1) AS INT)")
          .as("bucket"),
        col("sv"), col("cv"))
      .groupBy("k", "bucket")
      .agg(sum("sv").as("sv"), sum("cv").as("cv"))
      .select(col("k"), col("bucket"),
        (col("sv").cast("double") / col("cv").cast("double")).as("m"))
    // per-key fold over <= width bucket rows
    val levelled = buckets
      .withColumn("mn", min("m").over(Window.partitionBy("k")))
      .withColumn("mx", max("m").over(Window.partitionBy("k")))
      .withColumn("lvl",
        when(col("mx") === col("mn"), lit(0)).otherwise(
          least(lit(7), floor((col("m") - col("mn")) /
            (col("mx") - col("mn")) * 8).cast("int"))))
      .withColumn("ch", expr(s"substring('$Blocks', lvl + 1, 1)"))
    levelled.groupBy(col("k").as(keyCol))
      .agg(array_join(transform(array_sort(
        collect_list(struct(col("bucket"), col("ch")))),
        x => x.getField("ch")), "").as("spark"))
  }

  /** Grouped box-plot statistics table (reference
    * `src/vis/plotters/mod.rs` grouped_box_plots rendered as data):
    * per group the five-number summary — min, Q1, median, Q3, max —
    * plus Tukey-fence outlier count at k·IQR. Quantiles use the
    * repo's distinct-value rank-map idiom: one groupBy(keys, value)
    * count, a per-group window cumsum over DISTINCT values (bounded
    * by the value domain, never the row count), then
    * first-value-reaching-q·n — exact on integral columns, identical
    * to the q220 weighted-quantile rule with weight = multiplicity.
    * The outlier count reuses the same distinct-value table (sum of
    * multiplicities outside the fences), so the base is scanned
    * exactly once. */
  def boxplotStats(df: DataFrame, valueCol: String,
      keyCols: Seq[String], k: Double = 1.5): DataFrame = {
    val v = col(valueCol)
    val vc = df.filter(v.isNotNull)
      .groupBy(keyCols.map(col) :+ v.as("v"): _*)
      .agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy(keyCols.map(col): _*).orderBy(col("v"))
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val cum = vc
      .withColumn("cw", sum(col("c")).over(wOrd))
      .withColumn("n", sum(col("c")).over(wAll))
    def qAt(q: Double) = min(when(
      col("cw").cast("double") >= lit(q) * col("n").cast("double"),
      col("v")))
    val stats = cum.groupBy(keyCols.map(col): _*)
      .agg(max(col("n")).cast("long").as("n"),
        min(col("v")).as("min_v"), qAt(0.25).as("q1"),
        qAt(0.5).as("median"), qAt(0.75).as("q3"),
        max(col("v")).as("max_v"))
      .withColumn("lo_fence", col("q1").cast("double") -
        lit(k) * (col("q3") - col("q1")).cast("double"))
      .withColumn("hi_fence", col("q3").cast("double") +
        lit(k) * (col("q3") - col("q1")).cast("double"))
    val outliers = vc
      .join(stats.select(keyCols.map(col) :+ col("lo_fence") :+
        col("hi_fence"): _*), keyCols)
      .filter(col("v").cast("double") < col("lo_fence") ||
        col("v").cast("double") > col("hi_fence"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("c")).cast("long").as("n_outliers"))
    stats.join(outliers, keyCols, "left")
      .select(keyCols.map(col) ++ Seq(col("n"), col("min_v"),
        col("q1"), col("median"), col("q3"), col("max_v"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers")): _*)
  }

  /** Histogram with the bin count chosen by the Freedman-Diaconis
    * rule (reference `optimal_bins`): nb = ceil((max−min) /
    * (2·IQR·n^(−1/3))), clamped to [1, maxBins], falling back to
    * Sturges ceil(log2 n)+1 when IQR = 0. The IQR comes from the same
    * cumulative-count quantile rule as [[boxplotStats]]; the three
    * scalars (min, max, nb) finalize driver-side (one tiny row) and
    * parameterize the distributed [[histogram]] aggregate. */
  def histogramAuto(df: DataFrame, valueCol: String,
      maxBins: Int = 200, barWidth: Int = 40): DataFrame = {
    val st = boxplotStats(df, valueCol, Seq()).head()
    val n = st.getAs[Long]("n").toDouble
    val (mn, mx) = (st.getAs[Long]("min_v").toDouble,
      st.getAs[Long]("max_v").toDouble)
    val iqr = (st.getAs[Long]("q3") - st.getAs[Long]("q1")).toDouble
    val sturges = math.ceil(math.log(n) / math.log(2.0)).toInt + 1
    val nb0 =
      if (iqr > 0.0)
        math.ceil((mx - mn) / (2.0 * iqr * math.pow(n, -1.0 / 3.0))).toInt
      else sturges
    val nb = math.max(1, math.min(maxBins, nb0))
    // hi is nudged past max so the max value lands in the last bin
    // under the [lo, hi) contract (relative nudge, reproducible in
    // any IEEE engine)
    val hi = mx + math.max(math.abs(mx - mn), 1.0) * 1e-9
    histogram(df, valueCol, mn, hi, nb, barWidth)
  }

  /** Pair-plot table (reference pair_plot rendered as data): for every
    * ordered pair of `cols`, a 2-D histogram of the joint
    * distribution over fixed per-column [lo, hi) ranges. One stacked
    * aggregate: each row contributes one (pair, bin_x, bin_y) key per
    * column pair — nPairs·nBins² output rows max, exact integer
    * binning, no sampling and no driver-side scatter. */
  def pairCounts(df: DataFrame, cols: Seq[String],
      ranges: Map[String, (Double, Double)], nBins: Int): DataFrame = {
    require(cols.size >= 2 && nBins > 0)
    def bin(c: String) = {
      val (lo, hi) = ranges(c)
      val v = col(c).cast("double")
      when(v.isNotNull && v >= lo && v < hi,
        floor((v - lit(lo)) / lit((hi - lo) / nBins)).cast("int"))
    }
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield struct(lit(cols(i)).as("col_x"), lit(cols(j)).as("col_y"),
      bin(cols(i)).as("bx"), bin(cols(j)).as("by"))
    df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_x").as("col_x"), col("p.col_y").as("col_y"),
        col("p.bx").as("bx"), col("p.by").as("by"))
      .filter(col("bx").isNotNull && col("by").isNotNull)
      .groupBy("col_x", "col_y", "bx", "by")
      .agg(count(lit(1)).cast("long").as("cnt"))
  }
}
