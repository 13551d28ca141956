package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

object Checks {
  def rows(df: DataFrame): (Seq[String], Seq[Row]) =
    (df.columns.toSeq, df.collect().toSeq)

  def oracle(exp: Map[String, (Seq[String], Seq[Seq[Any]])], name: String)(
      r: Any): Option[String] = r match {
    case (cols: Seq[_], rows: Seq[_]) => exp.get(name) match {
      case Some(e) => Expected.diff(cols.map(_.toString),
        rows.asInstanceOf[Seq[Row]], e)
      case None => Some(s"no oracle rows for $name")
    }
    case other => Some(s"unexpected result $other")
  }

  def equal(what: String, want: Any)(got: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got want $want")

  def tableRows(dir: String): Map[String, Long] = {
    val f = new java.io.File(s"$dir/sizes.json")
    if (!f.exists()) Map.empty else {
      import scala.jdk.CollectionConverters._
      val n = Expected.json(f.getPath)
      n.fieldNames().asScala.map(k => k -> n.get(k).asLong).toMap
    }
  }
}

/** TPC-H-shaped and pandas-compatible queries over a generated star
  * schema, BASELINE.md's five 1M-row micro-ops, and four graph and ML
  * calls, so that `graphops` and `ml` are measured on this workload
  * too. */
final class Olap(dir: String, cores: Int) extends ClosedLoop {
  private val queries = Spec.olapQueries
  // tables each query scans, for input_rows_per_s
  private val scans = Map(
    "q01_groupby_agg" -> Seq("lineitem"),
    "q03_join_revenue_by_nation" -> Seq("customer", "lineitem", "nation", "orders"),
    "q08_topk" -> Seq("customer", "events", "lineitem", "nation", "orders", "supplier"),
    "q20_median" -> Seq("lineitem"),
    "q25_window_rank" -> Seq("orders"),
    "q39_resample" -> Seq("events"),
    "q473_q2_min_cost" -> Seq("lineitem", "nation", "part", "supplier"),
    "q491_q5_local_supplier" -> Seq("customer", "lineitem", "nation", "orders", "supplier"),
    "q486_q13_order_histogram" -> Seq("customer", "orders"),
    "q474_q15_top_supplier" -> Seq("lineitem", "supplier"),
    "q475_q20_part_share" -> Seq("lineitem", "supplier"),
    "q451_q21_sole_returner" -> Seq("lineitem", "orders", "supplier"))
  private val microRows = Spec.microRows
  private val sizes = Checks.tableRows(dir)
  /** the graph and ML calls run on a small power-law graph of their own */
  private val graph = new GraphMix(s"$dir/graph")
  private val expected = Expected.load(s"$dir/expected.json")
  private var liC: DataFrame = _
  private var ordC: DataFrame = _

  private val csvSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private def csv(spark: SparkSession): DataFrame =
    spark.read.option("header", "true").schema(csvSchema)
      .csv(s"$dir/micro_lineitem.csv")

  def setup(spark: SparkSession): Unit = {
    // exactly 1M lineitem rows (repeated as needed), in memory
    liC = spark.read.parquet(s"$dir/micro_lineitem.parquet")
      .repartition(math.min(cores, 16))
    ordC = Tables.load(spark, dir, "orders").repartition(math.min(cores, 16))
    Tables.load(spark, dir, "lineitem").count()
  }

  /** BASELINE.md times its operators over in-memory frames: the
    * micro-op inputs are the only cached data, re-cached untimed */
  override def beforePass(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    liC.cache().count()
    ordC.cache().count()
  }

  override def keepsCache(op: Op): Boolean = op.layer == "ops"

  private def micro(name: String, rows: Long, aqe: Boolean,
      parts: Int)(f: => Any)(check: Any => Option[String])(
      implicit spark: SparkSession): Op =
    Op(name, "ops", rows, () => {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try f finally {
        spark.conf.set("spark.sql.adaptive.enabled", true)
        spark.conf.set("spark.sql.shuffle.partitions", cores)
      }
    }, check)

  def pass(s: SparkSession): Seq[Op] = {
    implicit val spark: SparkSession = s
    val nOrd = sizes.getOrElse("orders", 0L)
    // AQE off and 8 post-shuffle partitions for groupby_sum follow
    // graft.Bench, the published BASELINE.md comparison settings
    val micros = Seq(
      micro("csv_read", microRows, aqe = false, cores)(
        csv(spark).count())(Checks.equal("rows", microRows)),
      micro("groupby_sum", microRows, aqe = false, 8)(
        Checks.rows(liC.groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").as("q"), sum("l_extendedprice").as("p"))))(
        Checks.oracle(expected, "micro_groupby_sum")),
      micro("join", microRows + nOrd, aqe = false, cores)(
        liC.join(broadcast(ordC), liC("l_orderkey") === col("o_orderkey"))
          .count())(r => Checks.equal("rows",
            expected.get("micro_join").map(_._2.head.head).orNull)(r)),
      // string_ops and rolling_window aggregate what they compute, so
      // column pruning cannot drop the work
      micro("string_ops", microRows, aqe = false, cores)(
        Checks.rows(liC.filter(col("l_returnflag").isin("A", "N", "R"))
          .select(concat(upper(col("l_returnflag")), lit("_"),
            lower(col("l_linestatus"))).as("s"))
          .agg(count(lit(1)).as("n"), sum(length(col("s"))).as("len"),
            min("s").as("lo"), max("s").as("hi"))))(
        Checks.oracle(expected, "micro_string_ops")),
      micro("rolling_window", microRows, aqe = false, cores)({
        // the full key order makes the windows deterministic
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
          .rowsBetween(-6, 0)
        Checks.rows(liC.select(avg("l_quantity").over(w).as("m"))
          .agg(count(col("m")).as("n"), sum(col("m")).as("s")))
      })(Checks.oracle(expected, "micro_rolling_window")))
    val qs = queries.map(q => Op(q, "queries",
      scans(q).map(sizes.getOrElse(_, 0L)).sum,
      () => Checks.rows(graft.SparkEntry.queries(q)(spark, dir)),
      Checks.oracle(expected, q)))
    val nEvt = sizes.getOrElse("events", 0L)
    def events = Tables.load(spark, dir, "events")
    val modules = Seq(
      Op("rolling", "window", nEvt, () => Checks.rows(
        graft.window.RollingOps.rolling(
          events.select("event_id", "user_id", "ts", "value"), "value", 5,
          c => avg(c), Seq("ts", "event_id"), Seq("user_id"))
          .agg(count(col("rolling")).as("n"), sum(col("rolling")).as("s"))),
        Checks.oracle(expected, "window_rolling")),
      Op("resample", "timeseries", nEvt, () => Checks.rows(
        graft.timeseries.TimeSeriesOps.resample(events, "ts", "hour",
          Seq(count(lit(1)).as("n"), sum("value").as("s")))),
        Checks.oracle(expected, "timeseries_resample")),
      Op("corr", "stats", sizes.getOrElse("lineitem", 0L), () => Checks.rows(
        graft.stats.StatsOps.corrCov(Tables.load(spark, dir, "lineitem"),
          "l_quantity", "l_extendedprice")),
        Checks.oracle(expected, "stats_corr")))
    micros ++ qs ++ modules ++ Spec.olapGraphAlgos.map(graph.op(spark, _))
  }

  override def layerMetrics(rec: Recorder, tracer: Tracer): Map[String, Double] = {
    val p50 = rec.samples.groupBy(_.op).view.mapValues(s =>
      Main.median(s.map(_.seconds).toSeq)).toMap
    queries.map(q => s"queries.$q.p50_s" -> p50.getOrElse(q, Double.NaN)).toMap ++
      Seq("csv_read", "groupby_sum", "join", "string_ops", "rolling_window")
        .map(m => s"ops.${m}_s" -> p50.getOrElse(m, Double.NaN)) ++
      Map("window.rolling_s" -> p50.getOrElse("rolling", Double.NaN),
        "timeseries.resample_s" -> p50.getOrElse("resample", Double.NaN),
        "stats.corr_s" -> p50.getOrElse("corr", Double.NaN)) ++
      graph.layerMetrics(rec, tracer)
  }
}

/** The LLM data pipeline over a generated corpus with planted
  * duplicates, each stage materialized for the next. */
final class LlmDedup(dir: String, work: String) extends ClosedLoop {
  private val truth = Expected.json(s"$dir/truth.json")
  private def t(k: String) = truth.get(k).asLong
  private def idSet(k: String): Set[Long] = {
    import scala.jdk.CollectionConverters._
    truth.get(k).elements().asScala.map(_.asLong).toSet
  }
  private val nearPairs: Set[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    truth.get("near_pairs").elements().asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
  }
  private val out = s"$work/llm"
  private var docs: DataFrame = _
  private var bench: DataFrame = _
  /** figures from the most recent LSH stage */
  @volatile var lastRecall = Double.NaN
  @volatile var lastPrecision = Double.NaN
  @volatile var lastExactRecall = Double.NaN

  def setup(spark: SparkSession): Unit = {
    docs = spark.read.parquet(s"$dir/documents.parquet")
    bench = spark.read.parquet(s"$dir/benchmark.parquet")
    docs.count()
    bench.count()
  }

  def pass(spark: SparkSession): Seq[Op] = {
    val nDocs = t("n_docs")
    val nQ = t("quality_kept")
    val nS = t("survivors")
    def read(stage: String) = spark.read.parquet(s"$out/$stage")
    def ids(df: DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    Seq(
      Op("quality", "functions", nDocs, () => {
        docs.filter(graft.functions.TextFunctions.qualityScore(col("text")) >=
            Spec.qualityMin)
          .write.mode("overwrite").parquet(s"$out/quality")
        read("quality").count()
      }, Checks.equal("kept", nQ)),
      Op("nfc", "sqlext", nQ, () => {
        read("quality").withColumn("text",
            graft.sqlext.NfcNormalize.nfc(col("text")))
          .write.mode("overwrite").parquet(s"$out/nfc")
        // the corpus plants decomposed accents; none may remain
        val r = read("nfc").agg(count(lit(1)), count(when(
          col("text").rlike("[\\u0300-\\u036f]"), 1))).head()
        (r.getLong(0), r.getLong(1))
      }, Checks.equal("rows and rows with combining marks", (nQ, 0L))),
      Op("exact", "llm", nQ, () => {
        graft.llm.Dedup.exact(read("nfc"), "text", "doc_id")
          .write.mode("overwrite").parquet(s"$out/exact")
        read("exact").agg(count(lit(1)), sum("doc_id")).head()
      }, r => {
        val row = r.asInstanceOf[Row]
        lastExactRecall = (nQ - row.getLong(0)).toDouble / (nQ - nS)
        Checks.equal("survivors", (nS, t("survivor_id_sum")))(
          (row.getLong(0), row.getLong(1)))
      }),
      Op("minhash_lsh", "llm", nS, () =>
        graft.llm.Dedup.minhashLshPairsFast(read("exact"), "text", "doc_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet, r => {
        val got = r.asInstanceOf[Set[(Long, Long)]]
        val canon = got.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        val hit = nearPairs.count(canon.contains)
        lastRecall = hit.toDouble / math.max(1, nearPairs.size)
        lastPrecision = hit.toDouble / math.max(1, canon.size)
        if (lastRecall >= 0.9) None
        else Some(s"near-dup recall $lastRecall < 0.9")
      }),
      Op("paragraph", "llm", nS, () =>
        graft.llm.PipelineOps.paragraphDedup(read("exact"), "text", "doc_id")
          .agg(sum("n_kept")).head().getLong(0),
        Checks.equal("distinct paragraphs", t("distinct_paragraphs"))),
      Op("decontaminate", "llm", nS, () =>
        ids(graft.llm.PipelineOps.decontaminate(read("exact"), bench,
          "text", "doc_id", n = Spec.ngram).filter(col("contaminated"))
          .select("doc_id")),
        Checks.equal("contaminated", idSet("contaminated"))),
      Op("spans", "llm", nS, () =>
        ids(graft.llm.Dedup.duplicateSpans(read("exact"), "text", "doc_id",
          w = Spec.ngram).select("doc_id").distinct()),
        Checks.equal("docs with duplicate spans", idSet("span_docs"))),
      Op("rolling_hash", "sqlext", nS, () =>
        read("exact").select(graft.sqlext.RollingHash64
            .rolling_hash64(col("text")).as("h"))
          .agg(countDistinct("h")).head().getLong(0),
        Checks.equal("distinct hashes", nS)),
      Op("winnow", "sqlext", nS, () =>
        graft.llm.Dedup.winnowingFingerprintsFast(read("exact"), "doc_id",
          "text").agg(countDistinct("doc_id")).head().getLong(0),
        Checks.equal("fingerprinted docs", nS)),
      Op("pack", "llm", nS, () => {
        val r = graft.llm.PipelineOps.packSequences(read("exact"), "text",
          "doc_id", capacity = 2048, buckets = 16)
          .agg(count(lit(1)), sum("n_tokens")).head()
        (r.getLong(0), r.getLong(1))
      }, Checks.equal("packed docs and tokens", (nS, t("survivor_tokens")))),
      Op("ingest", "streaming", nQ, () =>
        Ingest.run(spark, read("nfc"), s"$out/ingest", Spec.ingestIncrements),
        Checks.equal("ingested survivors, their id sum, distinct paragraphs",
          (nS, t("survivor_id_sum"), t("distinct_paragraphs")))))
  }

  override def layerMetrics(rec: Recorder, tracer: Tracer): Map[String, Double] = {
    val by = rec.samples.groupBy(_.op).view.mapValues(s =>
      (Main.median(s.map(_.seconds).toSeq), s.head.rows)).toMap
    def p50(op: String) = by.get(op).map(_._1).getOrElse(Double.NaN)
    def rate(op: String) = by.get(op).map(x => x._2 / x._1).getOrElse(Double.NaN)
    Seq("quality", "nfc", "exact", "minhash_lsh", "paragraph",
      "decontaminate", "spans", "winnow", "pack")
      .map(s => s"llm.${s}_s" -> p50(s)).toMap ++ Map(
      "streaming.ingest_s" -> p50("ingest"),
      "sqlext.nfc_rows_per_s" -> rate("nfc"),
      "sqlext.rolling_hash_rows_per_s" -> rate("rolling_hash"),
      "sqlext.winnow_rows_per_s" -> rate("winnow"),
      "llm.minhash_rows_per_s" -> rate("minhash_lsh"),
      "functions.quality_score_rows_per_s" -> rate("quality"),
      "llm.lsh_candidate_precision" -> lastPrecision,
      "llm.near_dup_recall" -> lastRecall,
      "llm.exact_dup_recall" -> lastExactRecall)
  }
}

/** Iterative graph algorithms and Lloyd k-means on a generated
  * power-law co-purchase graph, each edge set built the way the
  * repo's graph queries build theirs, checked against those queries'
  * DuckDB oracles (components and k-core against union-find and
  * peeling). */
final class GraphMix(dir: String) {
  private val expected = Expected.load(s"$dir/expected.json")
  private val truth = Expected.json(s"$dir/truth.json")
  private val nEdges = truth.get("edges").asLong
  private val oracleOf = Spec.graphAlgos.toMap

  /** parts ordered together (q287/q309/q344/q402) */
  private def partsUnd(spark: SparkSession): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_partkey")
    l.as("x").join(l.as("y"), col("x.l_orderkey") === col("y.l_orderkey") &&
        col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
  }

  private def sym(und: DataFrame): DataFrame =
    und.union(und.select(col("dst").as("src"), col("src").as("dst")))

  def op(spark: SparkSession, algo: String): Op = {
    import graft.graphops.GraphOps
    def q(layer: String)(f: => DataFrame) =
      Op(algo, layer, nEdges, () => Checks.rows(f),
        Checks.oracle(expected, oracleOf(algo)))
    algo match {
      case "pagerank" => q("graphops") {
        val l = Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_suppkey")
        val und = l.as("x").join(l.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_suppkey") < col("y.l_suppkey"))
          .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
          .distinct()
        GraphOps.pageRankExact(sym(und), rounds = 3)
          .select(col("id").cast("long").as("id"), col("pr"),
            round(col("pr_norm"), 9).as("pr_norm"))
      }
      case "ppr" => q("graphops") {
        GraphOps.personalizedPageRank(sym(partsUnd(spark)),
            sources = Seq(1L, 2L, 3L), rounds = 3)
          .select(col("id").cast("long").as("id"), col("ppr"),
            round(col("ppr_norm"), 9).as("ppr_norm"))
      }
      case "kcore" => Op(algo, "graphops", nEdges, () =>
        GraphOps.kCore(partsUnd(spark), k = 3).select(col("id").cast("long"))
          .collect().map(_.getLong(0)).toSet, r => {
        import scala.jdk.CollectionConverters._
        Checks.equal("3-core", truth.get("kcore3").elements().asScala
          .map(_.asLong).toSet)(r)
      })
      case "cc" => Op(algo, "graphops", nEdges, () => {
        val r = GraphOps.connectedComponents(partsUnd(spark))
          .agg(countDistinct("component"), sum(col("component").cast("long")))
          .head()
        (r.getLong(0), r.getLong(1))
      }, Checks.equal("components and label sum",
        (truth.get("components").asLong, truth.get("component_label_sum").asLong)))
      case "hits" => q("graphops") {
        val e = Tables.load(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.load(spark, dir, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
          .distinct()
        GraphOps.hits(e, rounds = 2)
          .select(col("id"), col("auth"), col("hub"),
            round(col("auth_norm"), 9).as("auth_norm"),
            round(col("hub_norm"), 9).as("hub_norm"))
      }
      case "lpa" => q("graphops") {
        GraphOps.labelPropagation(partsUnd(spark), rounds = 4)
          .select(col("id").cast("long").as("id"), col("lbl").cast("long").as("lbl"))
      }
      case "triangles" => q("graphops") {
        GraphOps.triangleCounts(partsUnd(spark))
          .select(col("id"), col("triangles"),
            round(col("clustering"), 6).as("clustering"))
      }
      case "kmeans" => q("ml") {
        graft.ml.Clustering.kmeansLloyd(
          Tables.load(spark, dir, "events").select(col("event_id"),
            round(col("value") * 100).cast("long").cast("double").as("f0"),
            pmod(col("user_id"), lit(7)).cast("double").as("f1")),
          Seq("f0", "f1"), "event_id", k = 3, iters = 3)
          .groupBy("cluster").agg(count(lit(1)).as("n"),
            min(col("id")).as("min_id"))
      }
    }
  }

  /** p50 of each graph and ML op the recorder saw, and Spark jobs per
    * graph call */
  def layerMetrics(rec: Recorder, tracer: Tracer): Map[String, Double] = {
    val algos = Spec.graphAlgos.map(_._1).toSet
    val p50 = rec.samples.filter(s => algos(s.op)).groupBy(_.op).view
      .mapValues(s => Main.median(s.map(_.seconds).toSeq)).toMap
    val graphSpans = tracer.spans.filter(_.layer == "graphops")
    val jobs = graphSpans.map(s => tracer.counters(s.id).jobs.get).sum
    p50.collect {
      case ("kmeans", v) => "ml.kmeans_s" -> v
      case (a, v) => s"graphops.${a}_s" -> v
    } + ("graphops.jobs_per_call" ->
      jobs.toDouble / math.max(1, graphSpans.size))
  }
}

/** Every graph algorithm and k-means, one pass after another. */
final class GraphMl(dir: String) extends ClosedLoop {
  private val graph = new GraphMix(dir)

  def setup(spark: SparkSession): Unit = {
    Tables.load(spark, dir, "lineitem").count()
  }

  def pass(spark: SparkSession): Seq[Op] =
    Spec.graphAlgos.map { case (a, _) => graph.op(spark, a) }

  override def layerMetrics(rec: Recorder, tracer: Tracer): Map[String, Double] =
    graph.layerMetrics(rec, tracer)
}
