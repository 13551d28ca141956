package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** The op mixes, their parameters and input sizes, in one place. The
  * harness runs them; `run.py` and `gen.py` read them from the JSON
  * `dump` writes, to generate inputs of these sizes and compute the
  * DuckDB oracle answers the harness checks against. */
object Spec {
  /** star schema of `olap_tpch` (sf0.1 = 600K lineitem rows) */
  val olapSf = 0.05
  /** BASELINE.md publishes its micro-ops at exactly 1M rows */
  val microRows = 1000000L
  val llmDocs = 3000
  /** the power-law co-purchase graph: its lineitem scale and Zipf
    * exponent of l_partkey */
  val graphSf = 0.005
  val graphZipf = 1.3

  val qualityMin = 0.5
  /** n-gram of `decontaminate` and window of `duplicateSpans` */
  val ngram = 8
  /** micro-batches `llm_dedup`'s streaming ingest feeds the corpus in */
  val ingestIncrements = 3

  val olapQueries = Seq("q01_groupby_agg", "q03_join_revenue_by_nation",
    "q08_topk", "q20_median", "q25_window_rank", "q39_resample",
    "q473_q2_min_cost", "q491_q5_local_supplier",
    "q486_q13_order_histogram", "q474_q15_top_supplier",
    "q475_q20_part_share", "q451_q21_sole_returner")

  /** graph algorithm -> the repo query whose edge set and oracle it
    * uses (kcore and cc are checked against gen.py's reference) */
  val graphAlgos = Seq("pagerank" -> "q410_pagerank_exact",
    "ppr" -> "q402_ppr", "kcore" -> "", "cc" -> "",
    "hits" -> "q392_hits", "lpa" -> "q344_label_prop",
    "triangles" -> "q287_triangles", "kmeans" -> "q94_kmeans_lloyd")
  /** the graph and ML calls `olap_tpch` carries, so `graphops` and
    * `ml` are measured on it too */
  val olapGraphAlgos = Seq("pagerank", "ppr", "kcore", "kmeans")

  /** DuckDB SQL for the harness's own `olap_tpch` ops; `micro_lineitem`
    * is the 1M-row micro-op input */
  val olapOpOracles = Map(
    "micro_groupby_sum" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q,
        |  sum(l_extendedprice) AS p FROM micro_lineitem GROUP BY 1, 2""",
    "micro_join" ->
      """SELECT count(*) AS n FROM micro_lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey""",
    "micro_string_ops" ->
      """SELECT count(*) AS n, sum(length(s)) AS len, min(s) AS lo,
        |  max(s) AS hi FROM (
        |  SELECT upper(l_returnflag) || '_' || lower(l_linestatus) AS s
        |  FROM micro_lineitem WHERE l_returnflag IN ('A', 'N', 'R'))""",
    "micro_rolling_window" ->
      """SELECT count(m) AS n, sum(m) AS s FROM (
        |  SELECT avg(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS m
        |  FROM micro_lineitem)""",
    "window_rolling" ->
      """SELECT count(r) AS n, sum(r) AS s FROM (
        |  SELECT CASE WHEN count(value) OVER w >= 5
        |    THEN avg(value) OVER w END AS r
        |  FROM events WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))""",
    "stats_corr" ->
      """SELECT corr(l_quantity, l_extendedprice) AS corr,
        |  covar_samp(l_quantity, l_extendedprice) AS cov FROM lineitem""",
    "timeseries_resample" ->
      """SELECT date_trunc('hour', ts) AS bucket, count(*) AS n,
        |  sum(value) AS s FROM events GROUP BY 1""")
    .view.mapValues(_.stripMargin).toMap

  def dump(path: String): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("olap_sf", olapSf)
    root.put("micro_rows", microRows)
    root.put("llm_docs", llmDocs)
    root.put("graph_sf", graphSf)
    root.put("graph_zipf", graphZipf)
    root.put("quality_min", qualityMin)
    root.put("ngram", ngram)
    val oracle = root.putObject("oracle")
    val olap = oracle.putObject("olap_tpch")
    olapQueries.foreach(q => olap.put(q, graft.SparkEntry.oracleSql(q)))
    olapOpOracles.foreach { case (k, v) => olap.put(k, v) }
    val graph = oracle.putObject("graph")
    graphAlgos.map(_._2).filter(_.nonEmpty)
      .foreach(q => graph.put(q, graft.SparkEntry.oracleSql(q)))
    m.writeValue(new java.io.File(path), root)
  }
}
