package graft.queries

import org.apache.spark.sql.functions._
import graft.ml.MlOps
import graft.ops.PandasOps._
import graft.window.RollingOps
import Q._

/** Extended coverage: EWM (the custom moving window), interpolation,
  * factorize/encoders/scalers (§2.13 preprocessing as exact
  * expressions), clip/replace. */
object QueriesExt {

  val queries: Map[String, QueryFn] = Map[String, QueryFn](

    // §2.5a EWM adjust=false — the one window Spark lacks natively;
    // verified against a recursive-CTE oracle
    "q57_ewm" -> ((s, d) =>
      RollingOps.ewmMean(
        t(s, d, "events").select("event_id", "user_id", "value"),
        "value", "event_id", Seq("user_id"), alpha = 0.5,
        adjust = false, outName = "ewm")
        // no rounding: both engines run the bitwise-identical
        // recurrence; alpha=0.5 yields exact binary fractions that sit
        // ON the .5 rounding boundary, where round() semantics differ
        .select(col("event_id"), col("user_id"), col("ewm"))),

    // §2.5a EWM variance (adjust=true, bias=false) — same keyed pass
    // as q57, four accumulators; verified against a recursive-CTE oracle
    // carrying (num, den, num2, den2). No rounding (see q57 note).
    "q85_ewm_var" -> ((s, d) =>
      RollingOps.ewmVar(
        t(s, d, "events").select("event_id", "user_id", "value"),
        "value", "event_id", Seq("user_id"), alpha = 0.5,
        outName = "ewm_var")
        .select(col("event_id"), col("user_id"), col("ewm_var"))),

    // §2.5a EWM covariance + correlation (pandas ewm().cov/.corr):
    // the pairwise pass with seven accumulators, verified against a
    // recursive-CTE oracle. No rounding (q57 note).
    "q290_ewm_cov" -> ((s, d) => {
      val base = t(s, d, "events")
        .select("event_id", "event_type", "value", "user_id")
      val c1 = RollingOps.ewmCov(base, "value", "user_id",
        "event_id", Seq("event_type"), alpha = 0.5)
      RollingOps.ewmCorr(c1, "value", "user_id", "event_id",
        Seq("event_type"), alpha = 0.5)
        .select("event_id", "event_type", "ewm_cov", "ewm_corr")
    }),

    // §2.5a the pairwise-EWM pass without the join back (secondary
    // sort + mapPartitions, EwmPairMachine) — the q290 pass, so it
    // shares the same recursive-CTE oracle
    "q333_ewm_cov_scalable" -> ((s, d) => {
      val base = t(s, d, "events")
        .select("event_id", "event_type", "value", "user_id")
      // round-11: ONE repartition+sort pass emits both statistics
      // (they share the machine's accumulators) instead of two
      // identical passes joined back on the key — bit-equal values,
      // same columns, oracle re-verified (hash-match)
      RollingOps.ewmCovCorrScalable(base, "value", "user_id",
          "event_id", Seq("event_type"), alpha = 0.5,
          covName = "ewm_cov", corrName = "ewm_corr")
        .select("event_id", "event_type", "ewm_cov", "ewm_corr")
    }),

    // §2.5a EWM with ignore_na=false — the PANDAS DEFAULT positional
    // weighting (reference src/series/window.rs:555-602): a gap of g
    // null rows decays every prior weight by (1-α)^g and null rows
    // emit the carried value. Three outputs in one gate: adjust=true
    // mean, adjust=false recursive mean, adjust=true unbiased var —
    // each replayed by the recursive-CTE oracle over ALL rows
    // (nulls included). No rounding (q57 note).
    "q319_ewm_ignorena" -> ((s, d) => {
      val base = t(s, d, "events")
        .select("event_id", "user_id", "value")
      val m1 = RollingOps.ewmMean(base, "value", "event_id",
        Seq("user_id"), alpha = 0.5, adjust = true,
        ignoreNa = false, outName = "ewm_adj")
      val m2 = RollingOps.ewmMean(m1, "value", "event_id",
        Seq("user_id"), alpha = 0.5, adjust = false,
        ignoreNa = false, outName = "ewm_rec")
      RollingOps.ewmVar(m2, "value", "event_id", Seq("user_id"),
        alpha = 0.5, ignoreNa = false, outName = "ewm_var")
        .select("event_id", "user_id", "ewm_adj", "ewm_rec",
          "ewm_var")
    }),

    // §2.5a TIME-decayed EWM (pandas ewm(halflife, times=...)):
    // weight halves every 600 s of elapsed event time, replayed by a
    // recursive-CTE oracle carrying (num, den, prev_t). Whole-second
    // time axis (unix_timestamp ↔ epoch) so both engines feed pow()
    // identical arguments; comparator tolerance absorbs the ≤1-ulp
    // libm pow differences.
    "q327_ewm_time" -> ((s, d) =>
      RollingOps.ewmMeanTime(
        t(s, d, "events")
          .withColumn("tsec", unix_timestamp(col("ts")))
          .select("event_id", "user_id", "value", "tsec"),
        "value", "tsec", "event_id", Seq("user_id"),
        halflife = 600.0, outName = "ewm_t")
        .select(col("event_id"), col("user_id"), col("ewm_t"))),

    // §2.5a TIME-decayed EWM unbiased VARIANCE (pandas
    // ewm(halflife, times).var()): the q327 recurrence extended with
    // (num2, den2) squared-weight accumulators, replayed by the same
    // recursive-CTE oracle shape. Whole-second axis (q327 note).
    "q332_ewm_time_var" -> ((s, d) =>
      RollingOps.ewmVarTime(
        t(s, d, "events")
          .withColumn("tsec", unix_timestamp(col("ts")))
          .select("event_id", "user_id", "value", "tsec"),
        "value", "tsec", "event_id", Seq("user_id"),
        halflife = 600.0, outName = "ewm_t_var")
        .select(col("event_id"), col("user_id"), col("ewm_t_var"))),

    // §2.5a TIME-decayed pairwise EWM cov + corr — the halflife
    // family completed (mean q327, var q332, cov/corr here), same
    // recursive-CTE replay with seven accumulators + prev-time
    "q337_ewm_time_cov" -> ((s, d) => {
      val base = t(s, d, "events")
        .withColumn("tsec", unix_timestamp(col("ts")))
        .select("event_id", "event_type", "value", "user_id", "tsec")
      val c1 = RollingOps.ewmCovTime(base, "value", "user_id",
        "tsec", "event_id", Seq("event_type"), halflife = 600.0,
        outName = "ewm_t_cov")
      RollingOps.ewmCovTime(c1, "value", "user_id", "tsec",
        "event_id", Seq("event_type"), halflife = 600.0,
        corr = true, outName = "ewm_t_corr")
        .select("event_id", "event_type", "ewm_t_cov", "ewm_t_corr")
    }),

    // §2.13 DBSCAN on 1-D supplier balances (cents): the grid-cell
    // candidate join degenerates to exact pairs, so the whole chain
    // (degrees → cores → CC clusters → border attach) is oracle-able
    "q87_dbscan" -> ((s, d) =>
      graft.ml.Clustering.dbscan(
        t(s, d, "supplier").withColumn("bal_c", dbl(cents(col("s_acctbal")))),
        Seq("bal_c"), "s_suppkey", eps = 20000.0, minPts = 3)
        .select(col("id").as("s_suppkey"), col("cluster"),
          col("is_core"))),

    // §2.5a the EWM pass without the join back (secondary sort +
    // mapPartitions) — the q57 pass, so it shares q57's
    // recursive-CTE oracle semantics
    "q93_ewm_scalable" -> ((s, d) =>
      RollingOps.ewmScalable(
        t(s, d, "events").select("event_id", "user_id", "value"),
        "value", "event_id", Seq("user_id"), alpha = 0.5,
        stat = "mean", adjust = false, outName = "ewm")
        .select(col("event_id"), col("user_id"), col("ewm"))),

    // §2.13 deterministic Lloyd k-means on integer-cents features:
    // every centroid is an exact integer-sum / count, so the oracle
    // replays the 3 unrolled assign/update rounds exactly
    "q94_kmeans_lloyd" -> ((s, d) =>
      graft.ml.Clustering.kmeansLloyd(
        t(s, d, "events").select(col("event_id"),
          dbl(cents(col("value"))).as("f0"),
          dbl(pmod(col("user_id"), lit(7))).as("f1")),
        Seq("f0", "f1"), "event_id", k = 3, iters = 3)
        .groupBy("cluster").agg(count(lit(1)).as("n"),
          min(col("id")).as("min_id"))),

    // §2.13 t-SNE embedding (driver-side guarded, deterministic PCA
    // init — no RNG). Iterative float optimization has no SQL oracle;
    // rows-only gate + the blob-separation/reproducibility specs.
    "q108_tsne" -> ((s, d) =>
      graft.ml.Manifold.tsne(
        // cap the embedded set: t-SNE is the guarded driver-side op,
        // so the gate query bounds its own input at any scale factor
        t(s, d, "supplier").filter(col("s_suppkey") <= 400)
          .select(col("s_suppkey"),
          dbl(cents(col("s_acctbal"))).as("f0"),
          dbl(col("s_nationkey")).as("f1"),
          dbl(pmod(col("s_suppkey"), lit(10))).as("f2")),
        Seq("f0", "f1", "f2"), "s_suppkey",
        perplexity = 12.0, iters = 250)
        .select(col("id").as("s_suppkey"), col("tsne_0"),
          col("tsne_1"))),

    // §2.13 linear one-class SVM: deterministic full-batch fit,
    // distributed expression scoring. Iterative fit ⇒ rows-only gate
    // + planted-outlier spec.
    "q109_ocsvm" -> ((s, d) =>
      graft.ml.Anomaly.oneClassSvm(
        t(s, d, "events").select(col("event_id"),
          dbl(cents(col("value"))).as("f0"),
          dbl(pmod(col("user_id"), lit(7))).as("f1")),
        Seq("f0", "f1"), nu = 0.1)
        .groupBy("is_inlier").agg(count(lit(1)).as("n"))),

    // §2.13 factorize: dense codes by sorted category order
    "q67_factorize" -> ((s, d) =>
      MlOps.factorize(t(s, d, "events"), "event_type")
        .groupBy("event_type", "event_type_code")
        .agg(count(lit(1)).as("n"))),

    // §2.13 StandardScaler per group from exact sums
    "q68_scaler" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("x", col("l_quantity").cast("long"))
      val stats = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("x").as("s1"),
          sum(col("x") * col("x")).as("s2"))
      li.join(broadcast(stats), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber").cast("long"),
          col("l_returnflag"), col("x").as("qty"),
          round((dbl(col("x")) - dbl(col("s1")) / dbl(col("n"))) /
            sqrt((dbl(col("s2")) - dbl(col("s1")) * dbl(col("s1")) / dbl(col("n")))
              / (dbl(col("n")) - 1)), 6).as("z"))
    }),

    // §2.13 RobustScaler: (x − median)/IQR per return flag
    // data-profiling report: per-column totals/nulls/exact distinct
    // + numeric min/max/mean
    "q178_profile" -> ((s, d) =>
      graft.ops.PandasOps.profile(
        t(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_linestatus"))
        .select(col("column"), col("n_total"), col("n_null"),
          col("n_distinct"),
          round(col("min_v"), 6).as("min_v"),
          round(col("max_v"), 6).as("max_v"),
          round(col("mean_v"), 6).as("mean_v"))),

    // §2.13 rank-gauss (inverse-normal) transform of quantity cents:
    // distinct-value average ranks → Φ⁻¹(r/(n+1)), Acklam in both
    // engines
    "q159_rank_gauss" -> ((s, d) =>
      graft.ml.MlOps.rankGauss(
        t(s, d, "lineitem").withColumn("qc", cents(col("l_quantity"))),
        "qc")
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("qc"), round(col("gauss_rank"), 6).as("gr"))),

    "q150_robust_scale" -> ((s, d) =>
      MlOps.robustScale(
        t(s, d, "lineitem")
          .withColumn("qty", col("l_quantity").cast("long")),
        "qty", by = Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long")
            .as("l_linenumber"), col("l_returnflag"), col("qty"),
          round(col("qty_scaled"), 6).as("scaled"))),

    // §2.9 linear interpolation of nulls (window-based, no collect)
    "q69_interpolate" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("v",
          when(col("value") >= 20, dbl(cents(col("value")))))
        .interpolateLinear("v", "event_id", Seq("user_id"))
        .select(col("event_id"), col("user_id"),
          round(col("v"), 6).as("interp_c"))),

    // §2.9 clip + replace
    "q70_clip_replace" -> ((s, d) =>
      t(s, d, "lineitem")
        .clip("l_quantity", 5, 45)
        .replaceValues("l_returnflag",
          Map("A" -> "ACCEPTED", "R" -> "RETURNED"))
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("clipped_qty"),
          count(lit(1)).as("n"))),

    // §2.13 one-hot encoding (static category list)
    "q71_onehot" -> ((s, d) =>
      MlOps.oneHot(t(s, d, "orders"), "o_orderstatus", Seq("O", "F", "P"))
        .groupBy("o_orderpriority")
        .agg(sum("o_orderstatus_O").as("n_open"),
          sum("o_orderstatus_F").as("n_finished"),
          sum("o_orderstatus_P").as("n_pending"))),

    // §2.13 KMeans via MLlib (seeded; rows-only — centroid label ids
    // are implementation-defined)
    // §2.9 pandas reindex: daily purchase revenue onto the complete
    // day range with fill
    "q211_reindex" -> ((s, d) => {
      import graft.ops.PandasOps._
      val daily = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("rev"))
      val idx = daily.agg(min("day").as("lo"), max("day").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      daily.reindex(idx, "day", fill = Some(0.0))
    }),

    // §2.3 pandas align(outer) of hourly click vs purchase series
    "q212_align" -> ((s, d) => {
      import graft.ops.PandasOps._
      def hourly(tpe: String) = t(s, d, "events")
        .filter(col("event_type") === tpe)
        .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
          .cast("long").as("hr"))
        .agg(sum(cents(col("value"))).as("v"))
      hourly("click").alignOuter(hourly("purchase"), "hr")
    }),

    // §2.13 tree-ensemble models via MLlib (rows-only: no DuckDB
    // counterpart; the spec verifies exact recovery on separable data)
    "q210_forest" -> ((s, d) =>
      MlOps.randomForestMl(
        t(s, d, "events").select(
          (col("value") >= 50.0).cast("double").as("label"),
          dbl(pmod(col("user_id"), lit(7))).as("f0"),
          dbl(hour(col("ts"))).as("f1"),
          dbl(col("value")).as("f2")),
        Seq("f0", "f1", "f2"), "label", numTrees = 10)
        .groupBy(col("prediction")).agg(count(lit(1)).as("n"))),

    // §2.13 the PORTABLE Lloyd twin of q72 on the same embedding
    // dims (micro-scaled to exact integers so centroid sums replay
    // bit-exactly in DuckDB): lowest-id seeding, 3 unrolled rounds —
    // q94's pattern on the embeddings table. Closes the q72
    // no-oracle gap per the round-4 verdict.
    "q322_kmeans_embed" -> ((s, d) => {
      def f(i: Int) = round(element_at(col("embedding"), i)
        .cast("double") * 1e6, 0).cast("long").cast("double")
      graft.ml.Clustering.kmeansLloyd(
        t(s, d, "embeddings").select(col("vec_id"),
          f(1).as("f0"), f(2).as("f1"), f(3).as("f2")),
        Seq("f0", "f1", "f2"), "vec_id", k = 4, iters = 3)
        .groupBy("cluster").agg(count(lit(1)).as("n"),
          min(col("id")).as("min_id"))
    }),

    "q72_kmeans" -> ((s, d) =>
      MlOps.kmeans(
        t(s, d, "embeddings").select(col("vec_id"),
          element_at(col("embedding"), 1).cast("double").as("f1"),
          element_at(col("embedding"), 2).cast("double").as("f2"),
          element_at(col("embedding"), 3).cast("double").as("f3")),
        Seq("f1", "f2", "f3"), k = 4)
        .groupBy("cluster").agg(count(lit(1)).as("n"))),

    // §2.2 seeded sample — size check only (rows-only; RNG is
    // engine-specific)
    "q73_sample" -> ((s, d) =>
      t(s, d, "lineitem").sampleSeed(0.1, seed = 42L)
        .select("l_orderkey", "l_linenumber")),

    // §2.12 one-way ANOVA from exact integer sums
    "q78_anova" -> ((s, d) => {
      val e = t(s, d, "events").withColumn("vc", cents(col("value")))
      val g = e.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("s1"),
          sum(col("vc") * col("vc")).as("s2"))
      // only the F ratio is emitted as a double: the sum-of-group-terms
      // has engine-dependent FP order, but the ratio's relative error
      // (~1e-11) is far inside the 6-decimal round
      g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
          sum(col("s1")).as("ts1"), sum(col("s2")).as("ts2"),
          sum(dbl(col("s1")) * dbl(col("s1")) / dbl(col("n"))).as("sgm"))
        .select(col("k"), col("nn"),
          round(((col("sgm") - dbl(col("ts1")) * dbl(col("ts1")) / dbl(col("nn"))) /
            (dbl(col("k")) - 1)) /
            ((dbl(col("ts2")) - col("sgm")) /
              (dbl(col("nn")) - dbl(col("k")))), 6).as("f_stat"))
    }),

    // bucketized interval-overlap join (no theta/BNL join): order
    // subsets as [date, date+30d] vs [date, date+15d] epoch-day spans
    "q134_interval_join" -> ((s, d) => {
      val days = (c: org.apache.spark.sql.Column) =>
        datediff(c.cast("date"), to_date(lit("1970-01-01")))
      val a = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_orderkey").as("a_key"),
          days(col("o_orderdate")).cast("long").as("sa"))
        .withColumn("ea", col("sa") + 30)
      val b = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(89)) === 0)
        .select(col("o_orderkey").as("b_key"),
          days(col("o_orderdate")).cast("long").as("sb"))
        .withColumn("eb", col("sb") + 15)
      graft.ops.SkewOps.intervalJoin(a, b, "sa", "ea", "sb", "eb",
          bucketWidth = 32L)
        .select("a_key", "b_key", "sa", "sb")
    }),

    // scalable global percent_rank via range-bucketed distinct-value
    // cumulative counts — no single-partition window
    "q135_pct_rank" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("vc", cents(col("value")))
        .percentRankScalable("vc")
        .select(col("event_id"), col("vc"),
          round(col("pct_rank"), 9).as("pct_rank"))),

    // §2.9 unstack (long-to-wide, inverse of melt)
    // §2.6 pandas groupby().nlargest: top-3 orders by price per
    // priority (partitioned window, no global sort)
    "q262_group_topk" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_c"))
        .nlargestPerGroup(3, "price_c", Seq("o_orderpriority"),
          "o_orderkey")),

    "q79_unstack" -> ((s, d) => {
      val long = t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("qty"))
      long.unstack(Seq("l_returnflag"), "l_linestatus", "qty")
    }),

    // §2.3 non-equi (range/theta) join: fact rows against a
    // broadcast band dimension — exceeds the reference (equi-only)
    "q75_band_join" -> ((s, d) => {
      import s.implicits._
      val bands = Seq(("low", 0.0, 80000.0),
        ("mid", 80000.0, 160000.0),
        ("high", 160000.0, 1e9)).toDF("band", "lo", "hi")
      t(s, d, "orders")
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") &&
            col("o_totalprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("sum_c"))
    }),

    // §2.4 hierarchical groupby navigation: rollup + decoded level
    "q76_rollup_levels" -> ((s, d) =>
      t(s, d, "lineitem").rollupLevels(
        Seq("l_returnflag", "l_linestatus"),
        count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))),

    // north star: IVF ANN probe (kmeans lists — rows-only, centroid
    // assignment is implementation-defined)
    "q77_embed_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      graft.llm.Similarity.ivfTopK(emb.filter(col("vec_id") =!= 0),
        "embedding", "vec_id", q, k = 10, nLists = 8, nProbe = 3)
    }),

    // §2.3 pandas merge with overlap suffixes
    "q80_merge_suffixes" -> ((s, d) => {
      val ca = t(s, d, "customer")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      val sa = t(s, d, "supplier")
        .groupBy(col("s_nationkey").as("c_nationkey"))
        .agg(count(lit(1)).as("n"))
      ca.merge(sa, Seq("c_nationkey"), "outer")
        .select(col("c_nationkey").cast("long"), col("n_x"), col("n_y"))
    }),

    // §2.5a pandas rank methods (average + dense) over grouped data
    "q81_rank_methods" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .groupBy("l_suppkey").agg(sum("l_quantity").as("q"))
      li.rankBy("q", "average").withColumnRenamed("rank", "avg_rank")
        .rankBy("q", "dense").withColumnRenamed("rank", "dense_rank")
        .select(col("l_suppkey"), col("q"), col("avg_rank"),
          col("dense_rank"))
    }),

    // §2.8 calendar functions: weekday convention, weekend flag,
    // days-in-month, leap year
    "q82_calendar" -> ((s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        weekday(col("o_orderdate")).cast("long").as("wd"),
        dayofweek(col("o_orderdate")).isin(1, 7).as("is_weekend"),
        dayofmonth(last_day(col("o_orderdate"))).cast("long")
          .as("days_in_month"),
        ((year(col("o_orderdate")) % 4 === 0 &&
          year(col("o_orderdate")) % 100 =!= 0) ||
          year(col("o_orderdate")) % 400 === 0).as("is_leap"))),

    // north star: full staged dedup pipeline (exact hash → LSH →
    // Jaccard verify → CC) — oracled and hash-matched since r9
    "q83_dedup_pipeline" -> ((s, d) =>
      graft.llm.DedupPipeline.dedupCorpus(
        t(s, d, "documents"), "text", "doc_id", jaccardThreshold = 0.8)
        .groupBy("keep").agg(count(lit(1)).as("n"),
          countDistinct(col("dup_group")).as("n_groups"))),

    // §7.3 native codegen expression in a full plan (rows-only —
    // the hash constant is ours, not DuckDB's)
    "q74_rolling_hash" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("source"),
          graft.sqlext.RollingHash64.rolling_hash64(col("text")).as("h"))
        .groupBy("source")
        .agg(countDistinct(col("h")).as("n_distinct_hashes"),
          count(lit(1)).as("n_docs")))
  ) ++ mlMetricQueries

  // §2.13 model-evaluation + feature-engineering gates (round-3
  // additions: reference ml/metrics, ml/model_selection, ml/
  // feature_engineering)
  private def mlMetricQueries: Map[String, QueryFn] = Map(

    // tie-aware ROC-AUC of value-cents as a purchase score —
    // rank-sum identity over the distinct-score table
    "q191_roc_auc" -> ((s, d) =>
      graft.ml.MlMetrics.aucRoc(
        t(s, d, "events").select(cents(col("value")).as("score"),
          (col("event_type") === "purchase").as("y")),
        "score", "y")),

    // log-loss + Brier of a deterministic rational probability
    // p = (user_id mod 97 + .5)/97 against the purchase label
    "q192_log_loss" -> ((s, d) =>
      graft.ml.MlMetrics.logLossBrier(
        t(s, d, "events").select(
          ((pmod(col("user_id"), lit(97)) + 0.5) / 97.0).as("p"),
          (col("event_type") === "purchase").as("y")),
        "p", "y")),

    // Cohen's kappa + MCC of the high-value rule as a purchase
    // classifier
    "q193_kappa_mcc" -> ((s, d) =>
      graft.ml.MlMetrics.kappaMcc(
        t(s, d, "events").select(
          (col("event_type") === "purchase").as("y"),
          (col("value") >= 50.0).as("pred")),
        "y", "pred")),

    // smoothed mean target encoding of event_type on value cents
    "q194_target_encode" -> ((s, d) =>
      graft.ml.MlOps.targetEncode(
        t(s, d, "events").select(col("event_type"),
          cents(col("value")).as("tc")),
        "event_type", "tc", smoothing = 10.0)),

    // decile lift/gain table of value-cents scoring purchases
    "q195_lift_table" -> ((s, d) =>
      graft.ml.MlMetrics.liftTable(
        t(s, d, "events").select(cents(col("value")).as("score"),
          (col("event_type") === "purchase").as("y")),
        "score", "y")),

    // Lorenz curve deciles over lineitem price cents (companion of
    // the q176 exact Gini)
    "q196_lorenz" -> ((s, d) =>
      graft.stats.StatsOps.lorenzDeciles(
        t(s, d, "lineitem").select(
          cents(col("l_extendedprice")).as("vc")),
        "vc")),

    // quantile normalization across hourly click/view/purchase cents
    // series (aggregated-series op, ccf-gate pattern)
    "q197_quantile_norm" -> ((s, d) => {
      val hourly = t(s, d, "events")
        .filter(col("event_type").isin("click", "view", "purchase"))
        .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
          .cast("long").as("hr"))
        .agg(sum(when(col("event_type") === "click",
            cents(col("value")))).as("c"),
          sum(when(col("event_type") === "view",
            cents(col("value")))).as("v"),
          sum(when(col("event_type") === "purchase",
            cents(col("value")))).as("p"))
      graft.ml.MlOps.quantileNormalize(hourly, "hr", Seq("c", "v", "p"))
    }),

    // reliability/calibration table of the q192 probability
    "q198_calibration" -> ((s, d) =>
      graft.ml.MlMetrics.calibrationBins(
        t(s, d, "events").select(
          ((pmod(col("user_id"), lit(97)) + 0.5) / 97.0).as("p"),
          (col("event_type") === "purchase").as("y")),
        "p", "y")),

    // SelectKBest-style univariate scores: point-biserial r² of four
    // integral lineitem features vs the returned flag
    "q199_select_k_best" -> ((s, d) =>
      graft.ml.MlOps.featureScores(
        t(s, d, "lineitem").select(
          cents(col("l_extendedprice")).as("ep"),
          col("l_quantity").cast("long").as("qty"),
          cents(col("l_discount")).as("disc"),
          cents(col("l_tax")).as("tax"),
          (col("l_returnflag") === "R").as("y")),
        Seq("disc", "ep", "qty", "tax"), "y")),

    // weight of evidence + IV of event_type for the high-value flag
    "q200_woe_iv" -> ((s, d) =>
      graft.ml.MlOps.woeIv(
        t(s, d, "events").select(col("event_type"),
          (col("value") >= 50.0).as("y")),
        "event_type", "y"))
  )

  private val ewmRecursiveOracle: String =
    """WITH RECURSIVE base AS (
      |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events),
      |r AS (
      |  SELECT user_id, event_id, rn, x AS y FROM base WHERE rn = 1
      |  UNION ALL
      |  SELECT b.user_id, b.event_id, b.rn,
      |    (1.0 - 0.5) * r.y + 0.5 * b.x
      |  FROM base b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1)
      |SELECT event_id, user_id, y AS ewm FROM r""".stripMargin

  /** Generic Lloyd-unroll oracle: `ptsSql` must yield (id, f0..f_{nf-1})
    * with exactly-representable (integer-valued double) features so
    * every centroid sum replays bit-exactly cross-engine; seeds are
    * the k lowest ids ([[graft.ml.Clustering.kmeansLloyd]]'s
    * deterministic seeding), ties break to the lowest cluster index
    * like the Scala array_min(struct(dist, c)). */
  private def kmeansOracleSql(ptsSql: String, k: Int, nf: Int,
      iters: Int): String = {
    val fs = (0 until nf).map(i => s"f$i")
    def assign(i: Int): String = {
      val dist = fs.map(f =>
        s"(p.$f - cx.$f) * (p.$f - cx.$f)").mkString(" +\n        ")
      s"""a$i AS (
         |  SELECT id, ${fs.mkString(", ")}, c AS cluster FROM (
         |    SELECT p.id, ${fs.map("p." + _).mkString(", ")}, cx.c,
         |      row_number() OVER (PARTITION BY p.id ORDER BY
         |        $dist, cx.c) AS rn
         |    FROM pts p CROSS JOIN c$i cx)
         |  WHERE rn = 1)""".stripMargin
    }
    def update(i: Int): String = {
      val cols = fs.zipWithIndex.map { case (f, j) =>
        s"coalesce(s.s$j / s.n, prev.$f) AS $f" }.mkString(",\n    ")
      val sums = fs.zipWithIndex.map { case (f, j) =>
        s"sum($f) AS s$j" }.mkString(", ")
      s"""c${i + 1} AS (
         |  SELECT prev.c,
         |    $cols
         |  FROM c$i prev LEFT JOIN (
         |    SELECT cluster AS c, CAST(count(*) AS DOUBLE) AS n,
         |      $sums FROM a$i GROUP BY 1) s
         |    ON s.c = prev.c)""".stripMargin
    }
    val rounds = (0 until iters).map(i =>
      assign(i) + ",\n" + update(i)).mkString(",\n")
    s"""WITH pts AS ($ptsSql),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY id) - 1 AS c,
       |    ${fs.mkString(", ")}
       |  FROM (SELECT id, ${fs.mkString(", ")} FROM pts
       |        ORDER BY id LIMIT $k)),
       |$rounds,
       |${assign(iters)}
       |SELECT CAST(cluster AS BIGINT) AS cluster,
       |  CAST(count(*) AS BIGINT) AS n, min(id) AS min_id
       |FROM a$iters GROUP BY 1""".stripMargin
  }

  private val kmeansLloydOracle: String = kmeansOracleSql(
    """SELECT event_id AS id,
      |    CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) AS f0,
      |    CAST(user_id % 7 AS DOUBLE) AS f1
      |  FROM events""".stripMargin, k = 3, nf = 2, iters = 3)

  /** q322: the same unroll on micro-scaled embedding dims (×1e6
    * rounded to integers — exact in doubles, so sums replay). */
  private val kmeansEmbedOracle: String = kmeansOracleSql(
    """SELECT vec_id AS id,
      |    CAST(CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000)
      |      AS BIGINT) AS DOUBLE) AS f0,
      |    CAST(CAST(round(CAST(embedding[2] AS DOUBLE) * 1000000)
      |      AS BIGINT) AS DOUBLE) AS f1,
      |    CAST(CAST(round(CAST(embedding[3] AS DOUBLE) * 1000000)
      |      AS BIGINT) AS DOUBLE) AS f2
      |  FROM embeddings""".stripMargin, k = 4, nf = 3, iters = 3)

  val oracle: Map[String, String] = Map(

    "q262_group_topk" ->
      """SELECT o_orderpriority, o_orderkey, price_c FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
        |        o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q211_reindex" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |span AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |idx AS (SELECT CAST(unnest(generate_series(lo, hi,
        |  INTERVAL 1 DAY)) AS DATE) AS day FROM span)
        |SELECT idx.day, CAST(coalesce(rev, 0) AS BIGINT) AS rev
        |FROM idx LEFT JOIN daily ON idx.day = daily.day""".stripMargin,

    "q212_align" ->
      """WITH c AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT)
        |      AS hr,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS v_x
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT)
        |      AS hr,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS v_y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT coalesce(c.hr, p.hr) AS hr, c.v_x, p.v_y
        |FROM c FULL OUTER JOIN p ON c.hr = p.hr""".stripMargin,

    // the native codegen expression replayed in SQL: the base-31
    // UTF-8 byte fold mod 2^64, stepped in HUGEINT (DuckDB integer
    // overflow errors rather than wraps, so the mod is explicit per
    // step). ord == byte because the corpus is ASCII at every sf
    // (verified); distinct-count over the unsigned fold equals
    // distinct-count over Java's signed wrap (bijection).
    "q74_rolling_hash" ->
      """WITH h AS (
        |  SELECT source,
        |    list_reduce(
        |      list_prepend(CAST(1125899906842597 AS HUGEINT),
        |        list_transform(range(1, length(text) + 1),
        |          i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1))
        |            AS HUGEINT))),
        |      (acc, b) -> (31 * acc + b) % 18446744073709551616) AS hv
        |  FROM documents)
        |SELECT source,
        |  CAST(count(DISTINCT hv) AS BIGINT) AS n_distinct_hashes,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM h GROUP BY 1""".stripMargin,

    "q94_kmeans_lloyd" -> kmeansLloydOracle,

    "q322_kmeans_embed" -> kmeansEmbedOracle,

    // the full staged pipeline reproduced in SQL: exact-md5 dedup,
    // the shared MinHash-LSH CTEs over the survivors, word-set
    // Jaccard verification, transitive closure via a recursive
    // min-label-propagation CTE.
    "q83_dedup_pipeline" ->
      s"""WITH RECURSIVE
         |doc AS (SELECT doc_id, text, md5(text) AS h FROM documents),
         |rep AS (SELECT h, min(doc_id) AS exact_rep FROM doc GROUP BY h),
         |exact AS (SELECT d.doc_id, d.text, d.h, r.exact_rep
         |  FROM doc d JOIN rep r USING (h)),
         |surv AS (SELECT doc_id, text FROM exact WHERE doc_id = exact_rep),
         |${QueriesText.minhashCtes("surv")},
         |ws AS (SELECT doc_id, list_sort(list_distinct(tk)) AS w FROM toks),
         |conf AS (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  JOIN ws wa ON wa.doc_id = id_a
         |  JOIN ws wb ON wb.doc_id = id_b
         |  WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
         |        len(list_distinct(list_concat(wa.w, wb.w))) >= 0.8),
         |und AS (SELECT src AS a, dst AS b FROM conf
         |  UNION SELECT dst, src FROM conf),
         |comp(id, c) AS (
         |  SELECT DISTINCT a, a FROM und
         |  UNION
         |  SELECT u.b, comp.c FROM comp JOIN und u ON u.a = comp.id
         |  WHERE comp.c < u.b),
         |cc AS (SELECT id, min(c) AS near_rep FROM comp GROUP BY id),
         |final AS (
         |  SELECT e.doc_id, coalesce(cc.near_rep, e.exact_rep) AS dup_group
         |  FROM exact e LEFT JOIN cc ON cc.id = e.exact_rep)
         |SELECT doc_id = dup_group AS keep, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT dup_group) AS BIGINT) AS n_groups
         |FROM final GROUP BY 1""".stripMargin,

    "q80_merge_suffixes" ->
      """SELECT CAST(coalesce(ca.c_nationkey, sa.s_nationkey) AS BIGINT)
        |    AS c_nationkey,
        |  ca.n AS n_x, sa.n AS n_y
        |FROM (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n
        |      FROM customer GROUP BY 1) ca
        |FULL JOIN (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n
        |      FROM supplier GROUP BY 1) sa
        |  ON ca.c_nationkey = sa.s_nationkey""".stripMargin,

    "q81_rank_methods" ->
      """SELECT l_suppkey, q,
        |  CAST(rank() OVER (ORDER BY q) AS DOUBLE) +
        |    (CAST(count(*) OVER (PARTITION BY q) AS DOUBLE) - 1) / 2.0
        |    AS avg_rank,
        |  CAST(dense_rank() OVER (ORDER BY q) AS DOUBLE) AS dense_rank
        |FROM (SELECT l_suppkey, sum(l_quantity) AS q
        |      FROM lineitem GROUP BY 1)""".stripMargin,

    "q82_calendar" ->
      """SELECT o_orderkey,
        |  CAST(isodow(o_orderdate) - 1 AS BIGINT) AS wd,
        |  isodow(o_orderdate) IN (6, 7) AS is_weekend,
        |  CAST(dayofmonth(last_day(CAST(o_orderdate AS DATE))) AS BIGINT)
        |    AS days_in_month,
        |  (year(o_orderdate) % 4 = 0 AND year(o_orderdate) % 100 <> 0)
        |    OR year(o_orderdate) % 400 = 0 AS is_leap
        |FROM orders""".stripMargin,

    "q78_anova" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(vc) AS BIGINT) AS s1,
        |    CAST(sum(vc * vc) AS BIGINT) AS s2
        |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
        |    FROM events) GROUP BY 1),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(s1) AS BIGINT) AS ts1, CAST(sum(s2) AS BIGINT) AS ts2,
        |    sum(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS sgm
        |  FROM g)
        |SELECT k, nn,
        |  round(((sgm - CAST(ts1 AS DOUBLE) * CAST(ts1 AS DOUBLE) / CAST(nn AS DOUBLE))
        |      / (CAST(k AS DOUBLE) - 1)) /
        |    ((CAST(ts2 AS DOUBLE) - sgm) / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))), 6)
        |    AS f_stat
        |FROM t""".stripMargin,

    "q134_interval_join" ->
      """WITH a AS (
        |  SELECT o_orderkey AS a_key,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |      AS BIGINT) AS sa
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |b AS (
        |  SELECT o_orderkey AS b_key,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
        |      AS BIGINT) AS sb
        |  FROM orders WHERE o_orderkey % 89 = 0)
        |SELECT a_key, b_key, sa, sb
        |FROM a JOIN b ON sa <= sb + 15 AND sb <= sa + 30""".stripMargin,

    "q135_pct_rank" ->
      """WITH e AS (
        |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |r AS (
        |  SELECT event_id,
        |    round(CAST(percent_rank() OVER (ORDER BY vc) AS DOUBLE), 9)
        |      AS pct_rank
        |  FROM e WHERE vc IS NOT NULL)
        |SELECT e.event_id, e.vc, r.pct_rank
        |FROM e LEFT JOIN r USING (event_id)""".stripMargin,

    "q79_unstack" ->
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F' THEN qty END) AS F,
        |  sum(CASE WHEN l_linestatus = 'O' THEN qty END) AS O
        |FROM (SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty
        |  FROM lineitem GROUP BY 1, 2)
        |GROUP BY 1""".stripMargin,

    "q75_band_join" ->
      """SELECT band, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_c
        |FROM orders
        |JOIN (VALUES ('low', 0.0, 80000.0), ('mid', 80000.0, 160000.0),
        |      ('high', 160000.0, 1e9)) AS bands(band, lo, hi)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY 1""".stripMargin,

    "q76_rollup_levels" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(2 - (CASE WHEN GROUPING(l_returnflag) = 1 THEN 1 ELSE 0 END
        |          + CASE WHEN GROUPING(l_linestatus) = 1 THEN 1 ELSE 0 END)
        |    AS INTEGER) AS level
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    // ONE oracle string for both EWM gates: q57 (join-back form) and
    // q93 (the same pass without the join back) are bit-equal by
    // construction, and sharing the constant keeps them from drifting
    // apart
    "q93_ewm_scalable" -> ewmRecursiveOracle,

    "q57_ewm" -> ewmRecursiveOracle,

    "q87_dbscan" ->
      """WITH RECURSIVE p AS (
        |  SELECT s_suppkey AS id,
        |    CAST(CAST(round(s_acctbal * 100) AS BIGINT) AS DOUBLE) AS f
        |  FROM supplier),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b FROM p a JOIN p b
        |  ON a.id <> b.id
        |  AND (a.f - b.f) * (a.f - b.f) <= 20000.0 * 20000.0),
        |deg AS (SELECT id_a AS id, count(*) AS deg FROM pairs GROUP BY 1),
        |core AS (SELECT id FROM deg WHERE deg >= 2),
        |ce AS (SELECT id_a AS a, id_b AS b FROM pairs
        |  WHERE id_a IN (SELECT id FROM core)
        |    AND id_b IN (SELECT id FROM core)),
        |comp(id, c) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT u.b, comp.c FROM comp JOIN ce u ON u.a = comp.id
        |  WHERE comp.c < u.b),
        |cc AS (SELECT id, min(c) AS cluster FROM comp GROUP BY 1),
        |border AS (
        |  SELECT pr.id_a AS id, min(cc.cluster) AS cluster
        |  FROM pairs pr JOIN cc ON cc.id = pr.id_b
        |  WHERE pr.id_a NOT IN (SELECT id FROM core)
        |  GROUP BY 1),
        |lab AS (
        |  SELECT cc.id, cc.cluster, TRUE AS is_core FROM cc
        |  UNION ALL
        |  SELECT border.id, border.cluster, FALSE FROM border)
        |SELECT p.id AS s_suppkey, lab.cluster AS cluster,
        |  coalesce(lab.is_core, FALSE) AS is_core
        |FROM p LEFT JOIN lab ON lab.id = p.id""".stripMargin,

    "q327_ewm_time" ->
      """WITH RECURSIVE base AS (
        |  SELECT user_id, event_id,
        |    CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS t,
        |    CAST(value AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE),
        |        event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT user_id, event_id, rn,
        |    x AS num, CAST(1.0 AS DOUBLE) AS den, t AS pt
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_id, b.rn,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.num + b.x,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.den + 1.0,
        |    b.t
        |  FROM base b JOIN r ON b.user_id = r.user_id
        |    AND b.rn = r.rn + 1)
        |SELECT e.event_id, e.user_id, r.num / r.den AS ewm_t
        |FROM events e LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.event_id = r.event_id""".stripMargin,

    "q332_ewm_time_var" ->
      """WITH RECURSIVE base AS (
        |  SELECT user_id, event_id,
        |    CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS t,
        |    CAST(value AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE),
        |        event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT user_id, event_id, rn,
        |    x AS num, CAST(1.0 AS DOUBLE) AS den,
        |    x * x AS num2, CAST(1.0 AS DOUBLE) AS den2, t AS pt
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_id, b.rn,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.num + b.x,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.den + 1.0,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.num2 + b.x * b.x,
        |    power(0.5, (b.t - r.pt) / 600.0) *
        |      power(0.5, (b.t - r.pt) / 600.0) * r.den2 + 1.0,
        |    b.t
        |  FROM base b JOIN r ON b.user_id = r.user_id
        |    AND b.rn = r.rn + 1)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN r.den * r.den - r.den2 > 0.0
        |    THEN (r.num2 / r.den - (r.num / r.den) * (r.num / r.den)) *
        |      (r.den * r.den) / (r.den * r.den - r.den2) END
        |    AS ewm_t_var
        |FROM events e LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.event_id = r.event_id""".stripMargin,

    // ignore_na=false replay: the CTE walks EVERY row (nulls
    // included), decaying accumulators without adding on null rows —
    // identical 0.5-multiplier arithmetic to the Scala pass, so no
    // rounding is needed (q57 note)
    "q319_ewm_ignorena" ->
      """WITH RECURSIVE base AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, rn,
        |    CASE WHEN x IS NULL THEN CAST(0.0 AS DOUBLE) ELSE x END
        |      AS num,
        |    CASE WHEN x IS NULL THEN CAST(0.0 AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) END AS den,
        |    CASE WHEN x IS NULL THEN CAST(0.0 AS DOUBLE)
        |         ELSE x * x END AS num2,
        |    CASE WHEN x IS NULL THEN CAST(0.0 AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) END AS den2,
        |    x AS prev,
        |    CASE WHEN x IS NULL THEN CAST(0.0 AS DOUBLE)
        |         ELSE CAST(1.0 AS DOUBLE) END AS ow
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_id, b.rn,
        |    CASE WHEN b.x IS NULL THEN 0.5 * r.num
        |         ELSE 0.5 * r.num + b.x END,
        |    CASE WHEN b.x IS NULL THEN 0.5 * r.den
        |         ELSE 0.5 * r.den + 1.0 END,
        |    CASE WHEN b.x IS NULL THEN 0.5 * r.num2
        |         ELSE 0.5 * r.num2 + b.x * b.x END,
        |    CASE WHEN b.x IS NULL THEN 0.5 * 0.5 * r.den2
        |         ELSE 0.5 * 0.5 * r.den2 + 1.0 END,
        |    CASE WHEN b.x IS NULL THEN r.prev
        |         WHEN r.prev IS NULL THEN b.x
        |         ELSE (0.5 * r.ow * r.prev + 0.5 * b.x) /
        |              (0.5 * r.ow + 0.5) END,
        |    CASE WHEN b.x IS NULL THEN 0.5 * r.ow
        |         ELSE CAST(1.0 AS DOUBLE) END
        |  FROM base b JOIN r ON b.user_id = r.user_id
        |    AND b.rn = r.rn + 1)
        |SELECT event_id, user_id,
        |  CASE WHEN den > 0.0 THEN num / den END AS ewm_adj,
        |  prev AS ewm_rec,
        |  CASE WHEN den * den - den2 > 0.0
        |    THEN (CASE WHEN den > 0.0
        |            THEN num2 / den - (num / den) * (num / den) END) *
        |      (den * den) / (den * den - den2)
        |  END AS ewm_var
        |FROM r""".stripMargin,

    "q85_ewm_var" ->
      """WITH RECURSIVE base AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events),
        |r AS (
        |  -- the recursive CTE's column types come from the base case:
        |  -- bare 1.0 would be DECIMAL and quantize the recursion
        |  SELECT user_id, event_id, rn,
        |    x AS num, CAST(1.0 AS DOUBLE) AS den,
        |    x * x AS num2, CAST(1.0 AS DOUBLE) AS den2
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_id, b.rn,
        |    (1.0 - 0.5) * r.num + b.x,
        |    (1.0 - 0.5) * r.den + 1.0,
        |    (1.0 - 0.5) * r.num2 + b.x * b.x,
        |    (1.0 - 0.5) * (1.0 - 0.5) * r.den2 + 1.0
        |  FROM base b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1)
        |SELECT event_id, user_id,
        |  CASE WHEN den * den - den2 > 0.0
        |    THEN (num2 / den - (num / den) * (num / den)) *
        |      (den * den) / (den * den - den2)
        |    ELSE NULL END AS ewm_var
        |FROM r""".stripMargin,

    "q290_ewm_cov" ->
      """WITH RECURSIVE base AS (
        |  SELECT event_type, event_id, CAST(value AS DOUBLE) AS x,
        |    CAST(user_id AS DOUBLE) AS y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY event_id)
        |      AS rn
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, event_id, rn,
        |    CAST(1.0 AS DOUBLE) AS den, CAST(1.0 AS DOUBLE) AS den2,
        |    x AS sx, y AS sy, x * y AS sxy, x * x AS sxx, y * y AS syy
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.event_type, b.event_id, b.rn,
        |    (1.0 - 0.5) * r.den + 1.0,
        |    (1.0 - 0.5) * (1.0 - 0.5) * r.den2 + 1.0,
        |    (1.0 - 0.5) * r.sx + b.x,
        |    (1.0 - 0.5) * r.sy + b.y,
        |    (1.0 - 0.5) * r.sxy + b.x * b.y,
        |    (1.0 - 0.5) * r.sxx + b.x * b.x,
        |    (1.0 - 0.5) * r.syy + b.y * b.y
        |  FROM base b JOIN r
        |    ON b.event_type = r.event_type AND b.rn = r.rn + 1),
        |f AS (
        |  SELECT event_type, event_id,
        |    sxy / den - (sx / den) * (sy / den) AS covb,
        |    sxx / den - (sx / den) * (sx / den) AS varxb,
        |    syy / den - (sy / den) * (sy / den) AS varyb,
        |    den, den2
        |  FROM r)
        |SELECT e.event_id, e.event_type,
        |  CASE WHEN f.den * f.den - f.den2 > 0.0
        |    THEN f.covb * (f.den * f.den) / (f.den * f.den - f.den2)
        |  END AS ewm_cov,
        |  CASE WHEN f.varxb * f.varyb > 0.0
        |    THEN f.covb / sqrt(f.varxb * f.varyb)
        |  END AS ewm_corr
        |FROM events e LEFT JOIN f
        |  ON e.event_type = f.event_type AND e.event_id = f.event_id""".stripMargin,

    "q337_ewm_time_cov" ->
      """WITH RECURSIVE base AS (
        |  SELECT event_type, event_id,
        |    CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS t,
        |    CAST(value AS DOUBLE) AS x, CAST(user_id AS DOUBLE) AS y,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE),
        |        event_id) AS rn
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, event_id, rn,
        |    CAST(1.0 AS DOUBLE) AS den, CAST(1.0 AS DOUBLE) AS den2,
        |    x AS sx, y AS sy, x * y AS sxy, x * x AS sxx,
        |    y * y AS syy, t AS pt
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.event_type, b.event_id, b.rn,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.den + 1.0,
        |    power(0.5, (b.t - r.pt) / 600.0) *
        |      power(0.5, (b.t - r.pt) / 600.0) * r.den2 + 1.0,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.sx + b.x,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.sy + b.y,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.sxy + b.x * b.y,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.sxx + b.x * b.x,
        |    power(0.5, (b.t - r.pt) / 600.0) * r.syy + b.y * b.y,
        |    b.t
        |  FROM base b JOIN r ON b.event_type = r.event_type
        |    AND b.rn = r.rn + 1),
        |f AS (
        |  SELECT event_type, event_id,
        |    sxy / den - (sx / den) * (sy / den) AS covb,
        |    sxx / den - (sx / den) * (sx / den) AS varxb,
        |    syy / den - (sy / den) * (sy / den) AS varyb,
        |    den, den2
        |  FROM r)
        |SELECT e.event_id, e.event_type,
        |  CASE WHEN f.den * f.den - f.den2 > 0.0
        |    THEN f.covb * (f.den * f.den) / (f.den * f.den - f.den2)
        |  END AS ewm_t_cov,
        |  CASE WHEN f.varxb * f.varyb > 0.0
        |    THEN f.covb / sqrt(f.varxb * f.varyb)
        |  END AS ewm_t_corr
        |FROM events e LEFT JOIN f
        |  ON e.event_type = f.event_type
        |  AND e.event_id = f.event_id""".stripMargin,

    // identical replay to q290 — the scalable form is the q290 pass
    // without the join back, so the same recurrence oracles both
    "q333_ewm_cov_scalable" ->
      """WITH RECURSIVE base AS (
        |  SELECT event_type, event_id, CAST(value AS DOUBLE) AS x,
        |    CAST(user_id AS DOUBLE) AS y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY event_id)
        |      AS rn
        |  FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, event_id, rn,
        |    CAST(1.0 AS DOUBLE) AS den, CAST(1.0 AS DOUBLE) AS den2,
        |    x AS sx, y AS sy, x * y AS sxy, x * x AS sxx, y * y AS syy
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.event_type, b.event_id, b.rn,
        |    (1.0 - 0.5) * r.den + 1.0,
        |    (1.0 - 0.5) * (1.0 - 0.5) * r.den2 + 1.0,
        |    (1.0 - 0.5) * r.sx + b.x,
        |    (1.0 - 0.5) * r.sy + b.y,
        |    (1.0 - 0.5) * r.sxy + b.x * b.y,
        |    (1.0 - 0.5) * r.sxx + b.x * b.x,
        |    (1.0 - 0.5) * r.syy + b.y * b.y
        |  FROM base b JOIN r
        |    ON b.event_type = r.event_type AND b.rn = r.rn + 1),
        |f AS (
        |  SELECT event_type, event_id,
        |    sxy / den - (sx / den) * (sy / den) AS covb,
        |    sxx / den - (sx / den) * (sx / den) AS varxb,
        |    syy / den - (sy / den) * (sy / den) AS varyb,
        |    den, den2
        |  FROM r)
        |SELECT e.event_id, e.event_type,
        |  CASE WHEN f.den * f.den - f.den2 > 0.0
        |    THEN f.covb * (f.den * f.den) / (f.den * f.den - f.den2)
        |  END AS ewm_cov,
        |  CASE WHEN f.varxb * f.varyb > 0.0
        |    THEN f.covb / sqrt(f.varxb * f.varyb)
        |  END AS ewm_corr
        |FROM events e LEFT JOIN f
        |  ON e.event_type = f.event_type AND e.event_id = f.event_id""".stripMargin,

    "q67_factorize" ->
      """SELECT event_type,
        |  CAST(dense_rank() OVER (ORDER BY event_type) - 1 AS BIGINT)
        |    AS event_type_code,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q68_scaler" ->
      """WITH stats AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l.l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |  round((CAST(l_quantity AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1)), 6) AS z
        |FROM lineitem l JOIN stats USING (l_returnflag)""".stripMargin,

    "q178_profile" -> {
      def branch(c: String, isNum: Boolean) = {
        val (mn, mx, av) =
          if (isNum) (s"round(min(CAST($c AS DOUBLE)), 6)",
            s"round(max(CAST($c AS DOUBLE)), 6)",
            s"round(avg(CAST($c AS DOUBLE)), 6)")
          else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            "CAST(NULL AS DOUBLE)")
        s"""SELECT '$c' AS "column", count(*) AS n_total,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  $mn AS min_v, $mx AS max_v, $av AS mean_v
           |FROM lineitem""".stripMargin
      }
      (Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .map(branch(_, isNum = true)) ++
        Seq("l_returnflag", "l_linestatus")
          .map(branch(_, isNum = false)))
        .mkString("\nUNION ALL\n")
    },

    "q159_rank_gauss" -> {
      val inv = graft.stats.Distributions.normSInvSql("(r / (n + 1))")
      s"""WITH p AS (
         |  SELECT l_orderkey,
         |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |    CAST(round(l_quantity * 100) AS BIGINT) AS qc
         |  FROM lineitem),
         |r AS (
         |  SELECT l_orderkey, l_linenumber, qc,
         |    CAST(rank() OVER (ORDER BY qc) AS DOUBLE) +
         |      (CAST(count(*) OVER (PARTITION BY qc) AS DOUBLE) - 1.0)
         |      / 2.0 AS r,
         |    CAST(count(*) OVER () AS DOUBLE) AS n
         |  FROM p)
         |SELECT l_orderkey, l_linenumber, qc, round($inv, 6) AS gr
         |FROM r""".stripMargin
    },

    "q150_robust_scale" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS med,
        |    quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS q1,
        |    quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS q3
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l.l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |  round(CASE WHEN q3 = q1 THEN 0.0
        |    ELSE (CAST(l_quantity AS DOUBLE) - med) / (q3 - q1) END, 6)
        |    AS scaled
        |FROM lineitem l JOIN s USING (l_returnflag)""".stripMargin,

    "q69_interpolate" ->
      """WITH base AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN value >= 20
        |      THEN CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) END AS v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events),
        |marked AS (
        |  SELECT event_id, user_id, v, rn,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER wp AS pn,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER wn AS nn
        |  FROM base
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY rn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY user_id ORDER BY rn
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, round(CASE
        |    WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NULL THEN NULL
        |    WHEN nv IS NULL THEN pv
        |    ELSE pv + (nv - pv) * (rn - pn) / (nn - pn) END, 6) AS interp_c
        |FROM marked""".stripMargin,

    "q70_clip_replace" ->
      """SELECT CASE WHEN l_returnflag = 'A' THEN 'ACCEPTED'
        |    WHEN l_returnflag = 'R' THEN 'RETURNED'
        |    ELSE l_returnflag END AS l_returnflag,
        |  sum(least(greatest(l_quantity, 5), 45)) AS clipped_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q71_onehot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
        |FROM orders GROUP BY 1""".stripMargin,

    // rank-sum AUC: doubled positive rank sum stays integral
    // (2R = Σ np(2·below + c + 1)), formulas mirrored term-for-term
    "q191_roc_auc" ->
      """WITH pts AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT s, count(*) AS c, sum(y) AS np FROM pts GROUP BY 1),
        |o AS (SELECT c, np,
        |  coalesce(sum(c) OVER (ORDER BY s ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM g),
        |a AS (SELECT sum(np * (below * 2 + c + 1)) AS two_r,
        |  sum(np) AS n1, sum(c) AS n FROM o)
        |SELECT CAST(n1 AS BIGINT) AS n_pos,
        |  CAST(n - n1 AS BIGINT) AS n_neg,
        |  round(CAST(two_r - n1 * (n1 + 1) AS DOUBLE) /
        |    CAST(n1 * (n - n1) * 2 AS DOUBLE), 6) AS auc
        |FROM a""".stripMargin,

    "q192_log_loss" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  round(-avg(y * ln(p) + (1 - y) * ln(1 - p)), 6) AS log_loss,
        |  round(avg((p - y) * (p - y)), 6) AS brier
        |FROM (SELECT ((user_id % 97) + 0.5) / 97.0 AS p,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL) q""".stripMargin,

    "q193_kappa_mcc" ->
      """WITH c0 AS (
        |  SELECT event_type = 'purchase' AS y, value >= 50.0 AS pr
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN y AND pr THEN 1 ELSE 0 END) AS BIGINT) AS tpl,
        |    CAST(sum(CASE WHEN NOT y AND pr THEN 1 ELSE 0 END) AS BIGINT) AS fpl,
        |    CAST(sum(CASE WHEN y AND NOT pr THEN 1 ELSE 0 END) AS BIGINT) AS fnl,
        |    CAST(sum(CASE WHEN NOT y AND NOT pr THEN 1 ELSE 0 END) AS BIGINT) AS tnl
        |  FROM c0),
        |d AS (SELECT tpl, fpl, fnl, tnl,
        |  CAST(tpl AS DOUBLE) AS tp, CAST(fpl AS DOUBLE) AS fp,
        |  CAST(fnl AS DOUBLE) AS fn, CAST(tnl AS DOUBLE) AS tn
        |  FROM c)
        |SELECT tpl AS tp, fpl AS fp, fnl AS fn, tnl AS tn,
        |  round(((tp + tn) / (tp + fp + fn + tn) -
        |    ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) /
        |      ((tp + fp + fn + tn) * (tp + fp + fn + tn))) /
        |    (1.0 - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) /
        |      ((tp + fp + fn + tn) * (tp + fp + fn + tn))), 6) AS kappa,
        |  round((tp * tn - fp * fn) /
        |    sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)), 6) AS mcc
        |FROM d""".stripMargin,

    "q194_target_encode" ->
      """WITH per AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |  CAST(sum(sy) AS BIGINT) AS ssy FROM per)
        |SELECT event_type, n,
        |  round((CAST(sy AS DOUBLE) + 10.0 * (CAST(ssy AS DOUBLE) / nn)) /
        |    (CAST(n AS DOUBLE) + 10.0), 6) AS encoded
        |FROM per, tot""".stripMargin,

    // descending-score deciles as a pure function of the
    // strictly-above count — deterministic under ties, no ntile
    "q195_lift_table" ->
      """WITH pts AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT s, count(*) AS c, sum(y) AS np FROM pts GROUP BY 1),
        |o AS (SELECT c, np,
        |  coalesce(sum(c) OVER (ORDER BY s ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM g),
        |t AS (SELECT sum(c) AS tn, sum(np) AS tpos FROM o),
        |b AS (SELECT CAST(least(floor(
        |    CAST(tn - below - c AS DOUBLE) * 10 / tn), 9) AS BIGINT)
        |    AS bucket, c, np
        |  FROM o, t),
        |pb AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS nb,
        |  CAST(sum(np) AS BIGINT) AS pos FROM b GROUP BY 1),
        |cg AS (SELECT bucket, nb, pos,
        |  sum(pos) OVER (ORDER BY bucket ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos FROM pb)
        |SELECT bucket, nb AS n, pos,
        |  round(CAST(pos AS DOUBLE) / nb, 6) AS rate,
        |  round((CAST(pos AS DOUBLE) * tn) /
        |    (CAST(nb AS DOUBLE) * tpos), 6) AS lift,
        |  round(CAST(cum_pos AS DOUBLE) / tpos, 6) AS cum_gain
        |FROM cg, t""".stripMargin,

    "q196_lorenz" ->
      """WITH p AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL
        |    AND CAST(round(l_extendedprice * 100) AS BIGINT) >= 0),
        |g AS (SELECT v, count(*) AS c FROM p GROUP BY 1),
        |o AS (SELECT v, c,
        |  coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM g),
        |t AS (SELECT sum(c) AS tn,
        |  sum(CAST(v AS HUGEINT) * c) AS sv FROM o),
        |b AS (SELECT CAST(least(floor(
        |    CAST(below AS DOUBLE) * 10 / tn), 9) AS BIGINT) AS decile,
        |  c, v FROM o, t),
        |pb AS (SELECT decile, CAST(sum(c) AS BIGINT) AS n,
        |  sum(CAST(v AS HUGEINT) * c) AS vv FROM b GROUP BY 1),
        |cw AS (SELECT decile, n,
        |  sum(n) OVER (ORDER BY decile ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
        |  sum(vv) OVER (ORDER BY decile ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS cv FROM pb)
        |SELECT decile, n,
        |  round(CAST(cn AS DOUBLE) / tn, 6) AS cum_pop_share,
        |  round(CAST(cv AS DOUBLE) / CAST(sv AS DOUBLE), 6)
        |    AS cum_value_share
        |FROM cw, t""".stripMargin,

    // per-column row_number ranks (hr tiebreak), cross-column mean at
    // each rank as the reference distribution
    "q197_quantile_norm" ->
      """WITH hourly AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT)
        |      AS hr,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN event_type = 'view'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS p
        |  FROM events WHERE event_type IN ('click', 'view', 'purchase')
        |  GROUP BY 1),
        |f AS (SELECT hr, c, v, p FROM hourly
        |  WHERE c IS NOT NULL AND v IS NOT NULL AND p IS NOT NULL),
        |lg AS (
        |  SELECT hr, CAST(c AS DOUBLE) AS vv, 'c' AS cn,
        |    row_number() OVER (ORDER BY CAST(c AS DOUBLE), hr) AS rk
        |  FROM f
        |  UNION ALL
        |  SELECT hr, CAST(v AS DOUBLE), 'v',
        |    row_number() OVER (ORDER BY CAST(v AS DOUBLE), hr) FROM f
        |  UNION ALL
        |  SELECT hr, CAST(p AS DOUBLE), 'p',
        |    row_number() OVER (ORDER BY CAST(p AS DOUBLE), hr) FROM f),
        |ref AS (SELECT rk, round(avg(vv), 6) AS m FROM lg GROUP BY rk)
        |SELECT hr,
        |  max(CASE WHEN cn = 'c' THEN m END) AS c_qn,
        |  max(CASE WHEN cn = 'v' THEN m END) AS v_qn,
        |  max(CASE WHEN cn = 'p' THEN m END) AS p_qn
        |FROM lg JOIN ref USING (rk)
        |GROUP BY hr""".stripMargin,

    "q198_calibration" ->
      """SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(avg(p), 6) AS mean_p,
        |  round(avg(CASE WHEN y THEN 1.0 ELSE 0.0 END), 6) AS frac_pos
        |FROM (SELECT ((user_id % 97) + 0.5) / 97.0 AS p,
        |    event_type = 'purchase' AS y
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL) q
        |GROUP BY 1""".stripMargin,

    // point-biserial r² per feature from exact integer sufficient
    // sums; y is 0/1 so Σy² = Σy
    "q199_select_k_best" ->
      """WITH b AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS ep,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tax,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_tax IS NOT NULL),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(ep) AS DOUBLE) AS sx_ep,
        |    CAST(sum(ep * ep) AS DOUBLE) AS sxx_ep,
        |    CAST(sum(ep * y) AS DOUBLE) AS sxy_ep,
        |    CAST(sum(qty) AS DOUBLE) AS sx_qty,
        |    CAST(sum(qty * qty) AS DOUBLE) AS sxx_qty,
        |    CAST(sum(qty * y) AS DOUBLE) AS sxy_qty,
        |    CAST(sum(disc) AS DOUBLE) AS sx_disc,
        |    CAST(sum(disc * disc) AS DOUBLE) AS sxx_disc,
        |    CAST(sum(disc * y) AS DOUBLE) AS sxy_disc,
        |    CAST(sum(tax) AS DOUBLE) AS sx_tax,
        |    CAST(sum(tax * tax) AS DOUBLE) AS sxx_tax,
        |    CAST(sum(tax * y) AS DOUBLE) AS sxy_tax
        |  FROM b)
        |SELECT 'ep' AS feature,
        |  round(((n * sxy_ep - sx_ep * sy) * (n * sxy_ep - sx_ep * sy)) /
        |    ((n * sxx_ep - sx_ep * sx_ep) * (n * sy - sy * sy)), 6)
        |    AS score FROM a
        |UNION ALL SELECT 'qty',
        |  round(((n * sxy_qty - sx_qty * sy) * (n * sxy_qty - sx_qty * sy)) /
        |    ((n * sxx_qty - sx_qty * sx_qty) * (n * sy - sy * sy)), 6)
        |  FROM a
        |UNION ALL SELECT 'disc',
        |  round(((n * sxy_disc - sx_disc * sy) * (n * sxy_disc - sx_disc * sy)) /
        |    ((n * sxx_disc - sx_disc * sx_disc) * (n * sy - sy * sy)), 6)
        |  FROM a
        |UNION ALL SELECT 'tax',
        |  round(((n * sxy_tax - sx_tax * sy) * (n * sxy_tax - sx_tax * sy)) /
        |    ((n * sxx_tax - sx_tax * sx_tax) * (n * sy - sy * sy)), 6)
        |  FROM a""".stripMargin,

    "q200_woe_iv" ->
      """WITH per AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS g,
        |    CAST(sum(CASE WHEN value >= 50.0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS b
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(g) AS BIGINT) AS gg,
        |  CAST(sum(b) AS BIGINT) AS bb FROM per),
        |d AS (SELECT event_type, g, b,
        |  CAST(g AS DOUBLE) +
        |    CASE WHEN g = 0 OR b = 0 THEN 0.5 ELSE 0.0 END AS ga,
        |  CAST(b AS DOUBLE) +
        |    CASE WHEN g = 0 OR b = 0 THEN 0.5 ELSE 0.0 END AS ba
        |  FROM per)
        |SELECT event_type, g, b,
        |  round(ln((ga * bb) / (ba * gg)), 6) AS woe,
        |  round((ga / gg - ba / bb) * ln((ga * bb) / (ba * gg)), 6)
        |    AS iv_contrib
        |FROM d, t""".stripMargin
  )
}
