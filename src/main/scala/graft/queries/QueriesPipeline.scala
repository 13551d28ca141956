package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.llm.PipelineOps
import Q._

/** Training-data pipeline operators round 2 (north-star extras):
  * PII redaction, reproducible hash sampling, KMV cardinality
  * sketch, TF-IDF keywording, bloom-prefiltered join, boilerplate
  * detection. All six are DuckDB-oracled — the hash-driven ones via
  * the portable 48-bit md5 primitive. */
object QueriesPipeline {

  /** Stopword list for the RAKE gate — shared literal so the oracle
    * SQL below carries the identical set. */
  val rakeStops: Seq[String] = Seq("the", "and", "of", "to", "a",
    "in", "is", "it", "for", "on", "with", "as", "was", "at", "by",
    "an", "be", "this", "that", "from", "or", "are", "but", "not")
  private val rakeStopsSql: String =
    rakeStops.map(s => s"'$s'").mkString(", ")

  /** Fellegi-Sunter m/u probabilities for the q362 linkage gate —
    * shared with the oracle, which inlines the derived log2 weights
    * as Scala-printed double literals so both engines sum identical
    * bits. */
  private val fsFields: Seq[(String, Double, Double)] = Seq(
    ("type_eq", 0.95, 0.02),
    ("name1_eq", 0.85, 0.01), ("price_band", 0.80, 0.20))
  private val fsScoreSql: String = fsFields.map { case (c, m, u) =>
    s"(CASE WHEN $c THEN ${graft.analytics.RecordLinkage
      .agreeWeight(m, u)} ELSE ${graft.analytics.RecordLinkage
      .disagreeWeight(m, u)} END)"
  }.mkString(" + ")

  /** Full BPE training replay: vocab as separator-encoded strings
    * ('abc' → ' a  b  c '), pairs via list_zip on the double-space
    * split, per-round argmax with (count desc, a, b) tie-break, and
    * the merge applied as ONE non-overlapping replace — byte-for-
    * byte the greedy fold's semantics (left-to-right, no rescan of
    * the merged output). */
  private val bpeOracle: String = {
    val rounds = (1 to 8).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT z[1] AS a, z[2] AS b, sum(cnt) AS c FROM (
         |    SELECT cnt, unnest(list_zip(l, l[2:])) AS z FROM (
         |      SELECT cnt, string_split(trim(s), '  ') AS l
         |      FROM v${r - 1}) q1) q2
         |  WHERE z[2] IS NOT NULL GROUP BY 1, 2),
         |t$r AS MATERIALIZED (
         |  SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT cnt, replace(s,
         |    ' ' || (SELECT a FROM t$r) || '  ' ||
         |      (SELECT b FROM t$r) || ' ',
         |    ' ' || (SELECT a FROM t$r) ||
         |      (SELECT b FROM t$r) || ' ') AS s
         |  FROM v${r - 1})""".stripMargin
    }.mkString(",\n")
    val sel = (1 to 8).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_round, a AS mleft,
         |  b AS mright, CAST(c AS BIGINT) AS pair_count
         |FROM t$r""".stripMargin).mkString("\nUNION ALL\n")
    raw"""WITH v0 AS MATERIALIZED (
       |  SELECT regexp_replace(w, '(.)', ' \1 ', 'g') AS s,
       |    count(*) AS cnt
       |  FROM (SELECT unnest(list_filter(regexp_split_to_array(
       |      trim(lower(text)), '\s+'), x -> length(x) > 0)) AS w
       |    FROM documents) tw
       |  WHERE regexp_matches(w, '^[a-z]{1,12}$$')
       |  GROUP BY 1),
       |""".stripMargin + rounds + "\n" + sel +
      "\nORDER BY merge_round"
  }

  /** DuckDB rendition of PipelineOps.hash48Unit over expression `e`
    * (must already be VARCHAR): first 12 md5 hex chars as a 48-bit
    * integer over 2^48 — double-exact arithmetic in both engines. */
  private def h48(e: String): String =
    s"""list_sum(list_transform(range(1, 13),
       |    i -> (strpos('0123456789abcdef', substr(md5($e), i, 1)) - 1)
       |      * power(16, 12 - i))) / 281474976710656.0""".stripMargin

  /** DuckDB IN-list of UrlOps.TwoLevelSuffixes (shared literal). */
  private def suffixesSql: String =
    graft.llm.UrlOps.TwoLevelSuffixes.map(s => s"'$s'").mkString(", ")

  /** DuckDB rendition of syntheticUrls: the identical deterministic
    * crawl-URL construction (h48 lottery domain pick, ?ref for ~half
    * the docs) so the URL gates replay end-to-end. */
  private def urlsSqlCte: String = {
    val domList = graft.queries.QueriesPipeline.urlDomains
      .map(s => s"'$s'").mkString(", ")
    raw"""WITH urls AS (
       |  SELECT doc_id, n_chars,
       |    'https://' || source || '.' ||
       |    ([$domList])[CAST(floor((${h48("doc_id::VARCHAR || '#dom'")}) * 8) AS INT) + 1] ||
       |    '/' || lang || '/doc/' || doc_id ||
       |    CASE WHEN (${h48("doc_id::VARCHAR || '#q'")}) < 0.5
       |      THEN '?ref=' || (n_chars % 97) ELSE '' END AS url
       |  FROM documents)""".stripMargin
  }

  /** DuckDB rendition of syntheticHtml (extends urlsSqlCte). */
  private def htmlSqlCte: String = {
    val domList = graft.queries.QueriesPipeline.urlDomains
      .map(s => s"'$s'").mkString(", ")
    urlsSqlCte + ",\n" + raw"""html AS (
       |  SELECT d.doc_id, u.url,
       |    '<html><head><title>Doc ' || d.doc_id ||
       |    '</title></head><body><h1>' || d.lang ||
       |    ' &amp; more</h1><p>' || d.text ||
       |    ' &lt;tail&gt;</p><a href="' || u.url || '">self</a>' ||
       |    CASE WHEN (${h48("d.doc_id::VARCHAR || '#l2'")}) < 0.5
       |      THEN '<a href="https://w.' ||
       |        ([$domList])[CAST(floor((${h48("d.doc_id::VARCHAR || '#l2'")}) * 8) AS INT) + 1] ||
       |        '/x">out</a>'
       |      ELSE '' END ||
       |    '</body></html>' AS html
       |  FROM documents d JOIN urls u USING (doc_id))""".stripMargin
  }

  /** Shared CTE chain replaying Dedup.cdcChunksFast (k=8, mod 64): the
    * base-31 masked rolling hash, boundary cuts, and per-chunk
    * (idx, start, end) structs. Gates append their own final
    * SELECT. */
  private def cdcChunksOracle: String =
    """WITH d AS (
      |  SELECT doc_id, text AS t FROM documents
      |  WHERE text IS NOT NULL AND length(text) >= 1),
      |h AS (
      |  SELECT doc_id, t,
      |    list_transform(
      |      range(1, greatest(length(t) - 8 + 1, 0) + 1),
      |      i -> list_reduce(
      |        list_prepend(CAST(549755813881 AS BIGINT),
      |          list_transform(range(i, i + 8),
      |            j -> CAST(ord(substr(t, CAST(j AS INTEGER),
      |              1)) AS BIGINT))),
      |        (acc, b) -> (31 * acc + b) & 1099511627775)) AS hs
      |  FROM d),
      |ce AS (
      |  SELECT doc_id, t,
      |    list_transform(list_filter(range(1, len(hs) + 1),
      |        i -> hs[CAST(i AS INTEGER)] % 64 = 0),
      |      i -> CAST(i + 7 AS BIGINT)) AS ce0
      |  FROM h),
      |ac AS (
      |  SELECT doc_id, t,
      |    CASE WHEN coalesce(ce0[-1], -1) != length(t)
      |      THEN list_append(ce0, CAST(length(t) AS BIGINT))
      |      ELSE ce0 END AS ac0
      |  FROM ce),
      |ex AS (
      |  SELECT doc_id, t,
      |    flatten(list_transform(range(1, len(ac0) + 1), j ->
      |      list_append(
      |        CASE WHEN (ac0[CAST(j AS INTEGER)] -
      |            (CASE WHEN j = 1 THEN 0
      |             ELSE ac0[CAST(j - 1 AS INTEGER)] END) - 1) >= 256
      |          THEN list_transform(range(1,
      |              CAST((ac0[CAST(j AS INTEGER)] -
      |                (CASE WHEN j = 1 THEN 0
      |                 ELSE ac0[CAST(j - 1 AS INTEGER)] END) - 1)
      |                // 256 AS BIGINT) + 1),
      |            f -> (CASE WHEN j = 1 THEN 0
      |              ELSE ac0[CAST(j - 1 AS INTEGER)] END) + f * 256)
      |          ELSE CAST([] AS BIGINT[]) END,
      |        ac0[CAST(j AS INTEGER)]))) AS acx
      |  FROM ac),
      |ch AS (
      |  SELECT doc_id, t,
      |    unnest(list_transform(range(1, len(acx) + 1), j ->
      |      struct_pack(
      |        idx := CAST(j AS BIGINT),
      |        st := CASE WHEN j = 1 THEN CAST(1 AS BIGINT)
      |              ELSE acx[CAST(j - 1 AS INTEGER)] + 1 END,
      |        en := acx[CAST(j AS INTEGER)]))) AS c
      |  FROM ex)""".stripMargin

  /** DuckDB rendition of UrlOps.hostOfAuthority over a URL
    * expression `e`: extract the authority (case-insensitive
    * scheme), strip `user@` userinfo and `:port`, lowercase — the
    * exact expression chain registeredDomain/parseUrl apply, so the
    * oracle replays identical host identities on hostile inputs
    * (ports, userinfo, uppercase schemes/hosts). Plain (non-
    * interpolated) Scala string so the regex `$` anchors survive. */
  private def hostSql(e: String): String =
    "lower(split_part(split_part(regexp_extract(" + e +
      ", '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)," +
      " '@', -1), ':', 1))"

  /** DuckDB rendition of UrlOps.registeredDomain over a split-host
    * list expression `l`. */
  private def regDomSql(l: String): String =
    s"""CASE WHEN len($l) >= 3 AND
       |      array_to_string($l[greatest(len($l)-1,1):], '.')
       |        IN ($suffixesSql)
       |    THEN array_to_string($l[greatest(len($l)-2,1):], '.')
       |    ELSE array_to_string($l[greatest(len($l)-1,1):], '.')
       |  END""".stripMargin

  /** Spark-side derived multi-line corpus: the synthetic documents
    * are single-line, so chunk each doc's words into 4-word lines —
    * the oracle builds the identical corpus with list slicing. */
  private def chunkedDocs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val words = TextFunctions.tokens(col("text"))
    t(s, d, "documents").select(col("doc_id"),
      concat_ws("\n", transform(
        sequence(lit(0), ceil(size(words) / lit(4.0)).cast("int") - 1),
        i => concat_ws(" ", slice(words, i * 4 + 1, lit(4))))).as("text"))
  }

  /** Registered domains for the synthetic-crawl URL gates — a mix of
    * plain and two-level-suffix sites so registeredDomain's both
    * branches are exercised. Shared literal with the oracle SQL. */
  val urlDomains: Seq[String] = Seq("example.com", "data.co.uk",
    "corpus.org", "mirror-site.net", "archive.gov.uk",
    "texts.com.au", "sample-data.io", "crawl.co.jp")

  /** Deterministic synthetic crawl URLs over the documents table:
    * subdomain = source, domain by md5 lottery, path from lang +
    * doc_id, query string present for ~half the docs. The oracle
    * rebuilds the identical strings (h48 arithmetic is exact). */
  /** The deterministic synthetic-URL EXPRESSION over a documents row
    * (doc_id, source, lang, n_chars) — shared by [[syntheticUrls]]
    * and [[syntheticHtml]] so the html builder can inline it instead
    * of joining the two scans back together on doc_id. */
  private def syntheticUrlCol: org.apache.spark.sql.Column = {
    val domArr = array(urlDomains.map(lit): _*)
    val uDom = PipelineOps.hash48Unit(
      concat(col("doc_id").cast("string"), lit("#dom")))
    val uQ = PipelineOps.hash48Unit(
      concat(col("doc_id").cast("string"), lit("#q")))
    concat(lit("https://"), col("source"), lit("."),
      element_at(domArr, (floor(uDom * 8) + 1).cast("int")),
      lit("/"), col("lang"), lit("/doc/"),
      col("doc_id").cast("string"),
      when(uQ < 0.5, concat(lit("?ref="),
        pmod(col("n_chars"), lit(97L)).cast("string")))
        .otherwise(lit("")))
  }

  private def syntheticUrls(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    t(s, d, "documents").select(col("doc_id"), col("n_chars"),
      syntheticUrlCol.as("url"))

  /** Deterministic synthetic HTML over the documents table: title +
    * h1 with literal entities, the doc text in a <p>, a self link to
    * the q447 synthetic URL, and an outbound link to a second
    * md5-lottery domain for ~half the docs. The oracle rebuilds the
    * identical markup. */
  private def syntheticHtml(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val domArr = array(urlDomains.map(lit): _*)
    val u2 = PipelineOps.hash48Unit(
      concat(col("doc_id").cast("string"), lit("#l2")))
    val dom2 = element_at(domArr, (floor(u2 * 8) + 1).cast("int"))
    // url INLINED via syntheticUrlCol: the previous
    // join(syntheticUrls, "doc_id") re-joined two scans of the same
    // table just to attach a deterministic expression — an exchange
    // pair + SMJ in every crawl gate's plan for nothing
    t(s, d, "documents").select(col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      .withColumn("url", syntheticUrlCol)
      .select(col("doc_id"), col("url"), concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><h1>"), col("lang"),
        lit(" &amp; more</h1><p>"), col("text"),
        lit(" &lt;tail&gt;</p><a href=\""), col("url"),
        lit("\">self</a>"),
        when(u2 < 0.5, concat(lit("<a href=\"https://w."), dom2,
          lit("/x\">out</a>"))).otherwise(lit("")),
        lit("</body></html>")).as("html"))
  }

  val queries: Map[String, QueryFn] = Map(

    // C4-style paragraph-level dedup with document reassembly over
    // the chunked corpus (~450 duplicate lines at sf0.001)
    "q128_paragraph_dedup" -> ((s, d) =>
      PipelineOps.paragraphDedup(chunkedDocs(s, d), "text", "doc_id")),

    // the skew-safe SALTED variant of q128: two-stage
    // (paragraph, salt) partial-min + join-back instead of the
    // paragraph window — same output (same oracle), one extra
    // shuffle; benchmarked against q128 at organic 30x in SCALE.md
    "q476_paragraph_dedup_salted" -> ((s, d) =>
      PipelineOps.paragraphDedup(chunkedDocs(s, d), "text", "doc_id",
        salted = true)),

    // exact duplicate-SPAN detection (Lee et al. 2022 substring
    // dedup): maximal runs of 8-token windows whose hash already
    // occurred earlier in the corpus
    "q271_dup_spans" -> ((s, d) =>
      graft.llm.Dedup.duplicateSpans(t(s, d, "documents"), "text",
        "doc_id", w = 8)),

    // span-clipped reconstruction: q271's duplicated spans removed
    // from each doc, remaining tokens rejoined in order
    "q272_clip_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.llm.Dedup.clipSpans(docs,
        graft.llm.Dedup.duplicateSpans(docs, "text", "doc_id", w = 8),
        "text", "doc_id")
    }),

    // corpus-fit bigram LM quality score (the CCNet/KenLM signal)
    "q129_bigram_lm" -> ((s, d) =>
      PipelineOps.bigramLmScore(t(s, d, "documents"), "text", "doc_id")),

    // pretraining sequence packing: 256-token windows, 8 hash buckets
    "q130_pack_sequences" -> ((s, d) =>
      PipelineOps.packSequences(t(s, d, "documents"), "text", "doc_id",
        capacity = 256, buckets = 8, salt = "pk")),

    // context-window chunking: 64-token chunks, 16-token overlap —
    // the splitting dual of q130's packing (map-side explode, exact
    // integer chunk arithmetic)
    "q257_chunk_docs" -> ((s, d) =>
      graft.llm.CorpusOps.chunkDocs(t(s, d, "documents"), "text",
        "doc_id", chunkTokens = 64, overlap = 16)),

    // FLAGSHIP composition: the full preprocessing pipeline in one
    // plan — quality filter → corpus paragraph dedup (reassembled)
    // → stratified source-mix sample → sequence packing. Every stage
    // is engine-portable, so the WHOLE pipeline has one exact oracle.
    "q139_preprocess_pipeline" -> ((s, d) => {
      val keep = t(s, d, "documents")
        .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
        .select("doc_id", "source")
      val deduped = PipelineOps.paragraphDedup(
          chunkedDocs(s, d).join(keep.select("doc_id"), "doc_id"),
          "text", "doc_id")
        .filter(col("text_clean").isNotNull)
      val sampled = PipelineOps.stratifiedHashSample(
        deduped.join(keep, "doc_id"), "doc_id", "source",
        Map("src0" -> 1.0), defaultRate = 0.5, salt = "pp")
      PipelineOps.packSequences(
        sampled.select(col("doc_id"), col("text_clean").as("text")),
        "text", "doc_id", capacity = 128, buckets = 4, salt = "pp2")
    }),

    // Efraimidis–Spirakis weighted sample: 100 docs, weight = n_chars
    "q132_weighted_sample" -> ((s, d) =>
      PipelineOps.weightedHashSample(t(s, d, "documents"), "doc_id",
          "n_chars", k = 100, salt = "ws")
        .select("doc_id", "lang", "source")),

    // exact global token-budget cut ordered by (n_chars desc, id) —
    // the running token total is PrefixSum.before (score ranges, their
    // totals as offsets, a window per range), no global window
    "q133_budget_take" -> ((s, d) =>
      PipelineOps.takeByBudget(
        t(s, d, "documents").withColumn("tokcnt",
          TextFunctions.tokenCount(col("text"))),
        "n_chars", "tokcnt", "doc_id", budget = 10000L)
        .select("doc_id", "start_tok", "n_tokens")),

    // PII redaction: emails / IPv4 / phone numbers synthesized from
    // row fields (the corpus itself is clean word soup), then redacted
    "q95_pii_redact" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextFunctions.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          (col("doc_id") % 200).cast("string"),
          lit(".7 call 555-123-4567"))).as("redacted"))),

    // deterministic hash sampling — reproducible map-side filter
    "q96_hash_sample" -> ((s, d) =>
      PipelineOps.hashSample(t(s, d, "documents"), "doc_id", 0.25, "s1")
        .select("doc_id", "lang", "source")),

    // the PORTABLE twin of q73's 10% lineitem sample: same md5
    // 48-bit lottery on the composite row key, so the exact sampled
    // row set hash-matches cross-engine (closes the q73 no-oracle
    // gap per the round-4 verdict; q73 keeps pinning the engine-RNG
    // sampleSeed surface)
    "q323_lineitem_sample" -> ((s, d) =>
      PipelineOps.hashSample(
        t(s, d, "lineitem").withColumn("rk",
          concat_ws("-", col("l_orderkey"), col("l_linenumber"))),
        "rk", 0.1, "s73")
        .select("l_orderkey", "l_linenumber", "l_quantity")),

    // fuzzy vocabulary alignment: src0 vs src1 distinct tokens
    // within 2 edits (entity-resolution primitive)
    "q186_fuzzy_match" -> ((s, d) => {
      val toks = t(s, d, "documents").select(col("source"),
        explode(graft.functions.TextFunctions.tokens(
          lower(col("text")))).as("w"))
      val a = toks.filter(col("source") === "src0")
        .select(col("w").as("wa")).distinct()
      val b = toks.filter(col("source") === "src1")
        .select(col("w").as("wb")).distinct()
      PipelineOps.fuzzyMatch(a, b, "wa", "wb", 2)
        .select(col("wa"), col("wb"), col("edit_dist"))
    }),

    // Fellegi-Sunter probabilistic record linkage over the part
    // catalog, MULTI-PASS blocked (the round-6 scale fix): a fixed
    // (brand, size) key grows blocks linearly with data and pairs
    // quadratically (23.6x wall at 10x organic data), so candidates
    // now come from the union of two NARROW passes — (brand, size,
    // name1) and (brand, size, type) — each with a data-independent
    // expected block size, deduped map-side by canonical pass.
    // Recall is preserved for every pair that can reach 'match'
    // (match needs name1_eq AND type_eq under these weights, so
    // pass 0 alone covers the match set). Oversized blocks dropped
    // per the maxDf convention, surfaced LOUDLY by the q388 audit.
    // Three boolean agreement fields, log2 m/u weights summed in
    // field order, three-way decision; the gate emits the decision
    // surface per generating pass with pair counts
    "q362_record_linkage" -> ((s, d) => {
      val parts = t(s, d, "part").select(col("p_partkey"),
        col("p_brand"), col("p_type"), col("p_size"),
        split(col("p_name"), " ").getItem(0).as("name1"),
        cents(col("p_retailprice")).as("pc"))
      val pairs = graft.analytics.RecordLinkage.blockPairsMulti(
        parts, "p_partkey",
        Seq(Seq("p_brand", "p_size", "name1"),
          Seq("p_brand", "p_size", "p_type")), maxBlock = 1000)
      val ag = pairs
        .withColumn("type_eq", col("l_p_type") === col("r_p_type"))
        .withColumn("name1_eq", col("l_name1") === col("r_name1"))
        .withColumn("price_band",
          abs(col("l_pc") - col("r_pc")) <= lit(10000L))
      graft.analytics.RecordLinkage
        .fellegiSunter(ag, fsFields, upper = 5.0, lower = 0.0)
        .groupBy("block_pass", "type_eq", "name1_eq", "price_band",
          "fs_class")
        .agg(round(min("fs_score"), 6).as("fs_score"),
          count(lit(1)).as("n_pairs"))
        .orderBy("block_pass", "type_eq", "name1_eq", "price_band")
    }),

    // the loud companion to q362's maxBlock guard: per-pass block
    // counts, oversized-block drops and the rows (recall) lost in
    // them — the audit a production linkage run emits next to its
    // pairs so silent recall collapse is impossible
    "q388_linkage_block_audit" -> ((s, d) => {
      val parts = t(s, d, "part").select(col("p_partkey"),
        col("p_brand"), col("p_type"), col("p_size"),
        split(col("p_name"), " ").getItem(0).as("name1"))
      graft.analytics.RecordLinkage.blockAudit(parts,
        Seq(Seq("p_brand", "p_size", "name1"),
          Seq("p_brand", "p_size", "p_type")), maxBlock = 1000)
        .orderBy("block_pass")
    }),

    // Adamic-Adar link prediction on the supplier co-order graph:
    // postings self-join on the shared neighbor, BINDING hub cap
    // (maxDeg=300 -- Sigma deg^2 explodes on co-occurrence graphs
    // whose density grows with data; a shared-by-everyone hub
    // carries ~no signal, so the principled cutoff is also the
    // scale guard -- measured: uncapped organic sf1 ran away at
    // ~4e10 candidate triples), each
    // 1/ln(deg) term rounded to 12 decimals and summed as DECIMAL
    // (order-free, the q375 lesson applied up front)
    "q391_adamic_adar" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"))
      val edges = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"),
          col("y.l_suppkey").as("dst"))
        .distinct()
      graft.graphops.GraphOps.adamicAdar(edges, maxDeg = 300)
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"), col("n_common"),
          round(col("aa_score"), 6).as("aa_score"))
        .orderBy("src", "dst")
    }),

    // HITS hubs & authorities on the customer->supplier purchase
    // graph: 2 rounds of EXACT BIGINT mutual reinforcement (hub
    // starts at 1), L1-normalized once at the end — order-free
    // integer sums, so the oracle unrolls the rounds as CTEs
    "q392_hits" -> ((s, d) => {
      val e = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey").cast("string"))
          .as("src"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
        .distinct()
      graft.graphops.GraphOps.hits(e, rounds = 2)
        .select(col("id"), col("auth"), col("hub"),
          round(col("auth_norm"), 9).as("auth_norm"),
          round(col("hub_norm"), 9).as("hub_norm"))
        .orderBy("id")
    }),

    // Murphy decomposition of the Brier score on a dyadic-lattice
    // probability (floor(h48*1024)/1024 -> every sum exact) vs the
    // 'F' order-status outcome; REL/RES bin terms rounded to 12
    // decimals and summed as DECIMAL (order-free)
    "q393_brier_decomp" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        (floor(graft.llm.PipelineOps.hash48Unit(col("o_orderkey")) *
          1024) / 1024).as("p"),
        (col("o_orderstatus") === "F").as("y"))
      graft.ml.MlMetrics.brierDecomposition(o, "p", "y", bins = 10)
        .select(col("n"), round(col("brier"), 9).as("brier"),
          round(col("reliability"), 9).as("reliability"),
          round(col("resolution"), 9).as("resolution"),
          round(col("uncertainty"), 9).as("uncertainty"))
    }),

    // training-data pipeline funnel: 4 cumulative stages (nonempty,
    // token length band, stopword ratio via exact integer cross-
    // multiplication, exact-dedup first copy) evaluated in ONE scan;
    // per-stage doc counts, exact ppm keep rate, surviving tokens
    "q394_pipeline_funnel" -> ((s, d) => {
      val stops = Seq("the", "and", "of", "to", "a", "in", "is", "it")
      val tk = graft.functions.TextFunctions.tokens(lower(col("text")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
        .withColumn("tok", size(tk).cast("long"))
        .withColumn("stopc",
          size(filter(tk, x => x.isInCollection(stops))).cast("long"))
        .withColumn("first_copy", row_number().over(w) === 1)
      graft.llm.PipelineOps.pipelineFunnel(base, Seq(
        ("nonempty", length(trim(col("text"))) > 0),
        ("len_5_500", col("tok").between(5L, 500L)),
        ("stopword_ratio", col("stopc") * 20L >= col("tok")),
        ("first_copy", col("first_copy"))), col("tok"))
        .orderBy("stage_idx")
    }),

    // perceptual average-hash over REAL synthesized PNGs (rows-only:
    // no engine-portable PNG decoder exists in DuckDB; the pixel
    // contract is spec'd — PNG/BMP re-encode invariance, planted
    // same-dimension duplicates recovered at hamming 0)
    "q396_image_ahash" -> ((s, d) => {
      val m = t(s, d, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          (lit(32) + pmod(col("doc_id"), lit(16)).cast("int"))
            .as("w"),
          (lit(24) + pmod(col("doc_id"), lit(12)).cast("int"))
            .as("h"))
      graft.llm.Multimodal
        .partitionForPayload(m, avgBytesPerRow = 4096,
          targetPartitionBytes = 4L * 1024 * 1024)
        .withColumn("png", graft.llm.Multimodal
          .encodePng(col("w"), col("h")))
        .withColumn("ahash", graft.llm.Multimodal
          .imageAHash(col("png")))
        .select(col("doc_id"), col("w"), col("h"), col("ahash"))
        .orderBy("doc_id")
    }),

    // temperature-scaling calibration profile (Guo et al. 2017) on a
    // label-shifted dyadic-lattice probability: bounded grid, exact
    // lattice sums, per-row NLL terms round-12 DECIMAL-summed
    "q397_temperature" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        (floor(graft.llm.PipelineOps.hash48Unit(col("o_orderkey")) *
          512) / 1024 +
          when(col("o_orderstatus") === "F", 0.5).otherwise(0.0))
          .as("p"),
        (col("o_orderstatus") === "F").as("y"))
      graft.ml.MlMetrics.temperatureScaling(o, "p", "y")
        .select(col("temp"), col("n"), round(col("nll"), 9).as("nll"),
          col("is_best"))
        .orderBy("temp")
    }),

    // isotonic regression (PAV) of monthly pooled order value per
    // priority: exact (sum,count) blocks + cross-multiplied
    // violation tests, so the fit is bit-identical to the closed
    // minimax form max_{j<=i} min_{k>=i} mean(j..k) the oracle
    // computes from exact prefix sums
    "q398_isotonic" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        col("o_orderpriority").as("prio"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
          - 1).as("xm"),
        cents(col("o_totalprice")).as("yc"))
      graft.ml.Isotonic.isotonicFit(o, "prio", "xm", "yc")
        .select(col("prio"), col("xm").cast("long").as("xm"),
          col("n_pooled"), col("y_sum").cast("long").as("y_sum"),
          round(col("fitted"), 6).as("fitted"))
        .orderBy("prio", "xm")
    }),

    // audio energy fingerprint over REAL synthesized WAVs — fully
    // ORACLED since round 10: the kernel is exact-integer
    // (64·blockEnergy > totalEnergy, two's-complement bit assembly)
    // and the synthetic PCM is a closed form of the frame index, so
    // DuckDB replays the entire encode→decode→hash path without a
    // codec
    "q399_audio_hash" -> ((s, d) => {
      val m = t(s, d, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          (lit(100) + pmod(col("doc_id"), lit(7)) * 50).cast("int")
            .as("frames"))
      graft.llm.Multimodal
        .partitionForPayload(m, avgBytesPerRow = 2048,
          targetPartitionBytes = 4L * 1024 * 1024)
        .withColumn("wav", graft.llm.Multimodal
          .encodeWav(lit(8000), col("frames")))
        .withColumn("ahash", graft.llm.Multimodal
          .audioEnergyHash(col("wav")))
        .select(col("doc_id"), col("frames"), col("ahash"))
        .orderBy("doc_id")
    }),

    // aHash kernel twin on BLOCK-CONSTANT PNGs: every aHash block is
    // one constant color, so the block means are integers and the
    // threshold test collapses to 64·luma > Σluma — the oracle
    // replays PNG encode → ImageIO decode → luma → threshold → bit
    // order in exact integer arithmetic (the q396 mixed-pixel path
    // keeps its invariance specs; this twin pins the hash math +
    // codec round-trip)
    "q508_image_ahash_twin" -> ((s, d) => {
      val m = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          (lit(32) + pmod(col("doc_id"), lit(3)) * 8).cast("int")
            .as("side"))
      graft.llm.Multimodal
        .partitionForPayload(m, avgBytesPerRow = 4096,
          targetPartitionBytes = 4L * 1024 * 1024)
        .withColumn("png", graft.llm.Multimodal
          .encodePngBlocks(col("doc_id"), col("side")))
        .withColumn("ahash", graft.llm.Multimodal
          .imageAHash(col("png")))
        .select(col("doc_id"), col("side"), col("ahash"))
        .orderBy("doc_id")
    }),

    // temperature-scaled language resampling (sampling mass ∝
    // n_lang^0.75 — the LM data-mixing recipe): dyadic α so the
    // weight is a fixed-order product of IEEE sqrts (bit-identical
    // in any engine), integer Hamilton quotas, md5-48 per-key
    // lottery — every selected doc_id exact
    "q509_temperature_mix" -> ((s, d) =>
      graft.llm.CorpusOps.temperatureMix(
        t(s, d, "documents"), "lang", "doc_id", total = 200L,
        alphaNum = 48)
        .orderBy("key", "rank")),

    // incremental EXACT media dedup (the fingerprintAgainst shape):
    // corpus PNGs at one resolution, new batch re-encodes half its
    // docs' content at a DIFFERENT resolution — block-constant
    // aHash is resolution-invariant, so those flag known=true; the
    // oracle replays both sides' hashes closed-form (q508 math)
    "q511_incremental_image_exact" -> ((s, d) => {
      val corpus = t(s, d, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"),
          (lit(32) + pmod(col("doc_id"), lit(3)) * 8).cast("int")
            .as("side"))
        .withColumn("ahash", graft.llm.Multimodal.imageAHash(
          graft.llm.Multimodal.encodePngBlocks(col("doc_id"),
            col("side"))))
      val newB = t(s, d, "documents")
        .filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            pmod(col("doc_id"), lit(75))).otherwise(col("doc_id"))
            .as("__content__"),
          (lit(32) + pmod(col("doc_id"), lit(2)) * 16).cast("int")
            .as("side"))
        .withColumn("ahash", graft.llm.Multimodal.imageAHash(
          graft.llm.Multimodal.encodePngBlocks(col("__content__"),
            col("side"))))
      graft.llm.Dedup.fingerprintAgainst(newB, corpus,
        "doc_id", "ahash").orderBy("doc_id")
    }),

    // incremental NEAR-DUP media dedup: new docs carry a corpus
    // image's hash with ≤ 2 deterministic bit flips — the 8×8-bit
    // pigeonhole must recover every pair within hamming ≤ 7; both
    // sides' hashes and the flips replay closed-form
    "q512_incremental_image_neardup" -> ((s, d) => {
      val corpus = t(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          (lit(32) + pmod(col("doc_id"), lit(3)) * 8).cast("int")
            .as("side"))
        .withColumn("ahash", graft.llm.Multimodal.imageAHash(
          graft.llm.Multimodal.encodePngBlocks(col("doc_id"),
            col("side"))))
      val mask = expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 64 AS INT))")
        .bitwiseOR(expr(
          "shiftleft(CAST(1 AS BIGINT), CAST(doc_id * 7 % 64 AS INT))"))
      val newB = t(s, d, "documents")
        .filter(col("doc_id") >= 300 && col("doc_id") < 350)
        .select(col("doc_id"), pmod(col("doc_id"), lit(50))
          .as("__content__"))
        .withColumn("ahash", graft.llm.Multimodal.imageAHash(
          graft.llm.Multimodal.encodePngBlocks(col("__content__"),
            lit(32))).bitwiseXOR(mask))
      graft.llm.Multimodal.imageNearDupAgainst(newB, corpus,
        "doc_id", "ahash").orderBy("new_id", "corpus_id")
    }),

    // multi-epoch repeat factors (Σ repeats per lang = its Hamilton
    // quota EXACTLY; total 800 > corpus size so upweighted langs
    // repeat docs — the training-mix unit of work): integer
    // largest-remainder inside each key over the md5-48 lottery
    "q510_temperature_repeats" -> ((s, d) =>
      graft.llm.CorpusOps.temperatureMixRepeats(
        t(s, d, "documents"), "lang", "doc_id", total = 800L,
        alphaNum = 32)
        .orderBy("key", "rank")),

    // deterministic negative sampling over the documents corpus:
    // bounded 500-id lottery pool, 3 draws per doc, md5-48 index
    // arithmetic replayed exactly by the oracle
    "q400_negative_sampling" -> ((s, d) =>
      graft.llm.PipelineOps.negativeSample(
        t(s, d, "documents").select(col("doc_id")),
        "doc_id", k = 3, poolSize = 500, salt = "r7")
        .orderBy("doc_id", "draw")),

    // per-dimension ANOVA class separability of the embeddings
    // table: which dimensions carry label signal — round-9 DECIMAL
    // element sums, round-12 per-label moment terms
    "q412_embed_separability" -> ((s, d) =>
      graft.llm.EmbeddingStats.classSeparability(
        t(s, d, "embeddings"), "embedding", "label")
        .select(col("dim"), col("n"), col("k"),
          round(col("ssb"), 6).as("ssb"),
          round(col("ssw"), 6).as("ssw"),
          round(col("f_stat"), 6).as("f_stat"))
        .orderBy("dim")),

    // off-policy evaluation (IPS/SNIPS/ESS) of a deterministic
    // target policy from hash-logged bandit rows: lattice
    // propensities, 0/1 rewards — every term exact, DECIMAL-summed
    "q413_ips_eval" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        floor(PipelineOps.hash48Unit(concat(col("o_orderkey")
          .cast("string"), lit("#a"))) * 4).cast("long").as("act"),
        ((lit(1) + floor(PipelineOps.hash48Unit(concat(
          col("o_orderkey").cast("string"), lit("#p"))) * 512)) /
          lit(1024.0)).as("prop"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L)
          .as("reward"),
        floor(PipelineOps.hash48Unit(concat(col("o_custkey")
          .cast("string"), lit("#pi"))) * 4).cast("long").as("tgt"))
      graft.ml.MlMetrics.ipsEvaluation(o, "act", "prop", "reward",
          "tgt")
        .select(col("n"), col("n_matched"),
          round(col("v_ips"), 9).as("v_ips"),
          round(col("v_snips"), 9).as("v_snips"),
          round(col("ess"), 6).as("ess"))
    }),

    // winnowing (MOSS) fingerprints over the first 300 docs, via
    // the NATIVE codegen expression (O(len) rolling hash + deque;
    // property-spec'd bit-equal to the SQL-lambda form the oracle
    // replays) — the oracle hash-match therefore validates the
    // native kernel itself
    "q414_winnowing" -> ((s, d) =>
      graft.llm.Dedup.winnowingFingerprintsFast(
        t(s, d, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", k = 8, w = 4)
        .orderBy("doc_id", "pos")),

    // multiclass Matthews correlation (Gorodkin R_K) on the q426
    // hash task — the imbalance-robust single number
    "q440_multiclass_mcc" -> ((s, d) => {
      val lbl = floor(PipelineOps.hash48Unit(concat(
        col("o_orderkey").cast("string"), lit("#mc"))) * 4)
        .cast("long")
      val alt = floor(PipelineOps.hash48Unit(concat(
        col("o_orderkey").cast("string"), lit("#mp"))) * 4)
        .cast("long")
      val agree = PipelineOps.hash48Unit(concat(
        col("o_orderkey").cast("string"), lit("#ag"))) < 0.7
      val o = t(s, d, "orders").select(lbl.as("y"),
        when(agree, lbl).otherwise(alt).as("p"))
      graft.ml.MlMetrics.multiclassMcc(
          graft.ml.MlMetrics.multiclassReport(o, "y", "p"))
        .select(col("n"), col("n_correct"),
          round(col("mcc"), 9).as("mcc"))
    }),

    // the PORTABLE ORACLE TWIN of q210's random forest (q441's IRLS
    // precedent): md5-lottery bagging, fixed feature-subset schedule,
    // exact-Gini depth-2 splits over BIGINT cells — the trained
    // forest emitted node by node and replayed in SQL. Closes the
    // q210 no-oracle ledger row.
    "q442_forest_twin" -> ((s, d) =>
      graft.ml.ForestTwin.giniStumpForestTwin(
        t(s, d, "events")
          .filter(col("ts").isNotNull)
          .select(col("event_id"),
            pmod(col("user_id"), lit(7)).cast("long").as("f0"),
            hour(col("ts")).cast("long").as("f1"),
            least(greatest(floor(col("value") / 10.0).cast("long"),
              lit(0L)), lit(9L)).as("f2"),
            (col("event_type") === "purchase").cast("long").as("y")),
        "event_id", Seq("f0", "f1", "f2"), "y",
        thresholds = Seq((0 to 5).toList, (0 to 22).toList,
          (0 to 8).toList), trees = 5)),

    // the PORTABLE ORACLE TWIN of q296's AFT survival fit: a planted
    // Weibull process (ln T = 0.5 + 0.8·x + 0.4·W, W a standard
    // minimum-extreme-value draw from the md5 lottery; 20% of rows
    // right-censored at 0.6·T) recovered by 6 unrolled ∞-norm-damped
    // Newton rounds on the extreme-value log-likelihood —
    // gradient/Hessian as order-free decimal sums, Cramer ridge
    // solve, all replayed in SQL. Closes the q296 no-oracle ledger
    // row.
    "q444_aft_twin" -> ((s, d) => {
      val key = col("c_custkey").cast("string")
      val u1 = greatest(PipelineOps.hash48Unit(
        concat(key, lit("aftu"))), lit(1e-12))
      val w = round(log(-log(lit(1.0) - u1)), 9)
      val x = pmod(col("c_custkey"), lit(5)).cast("double") * 0.2
      val t0 = round(exp(lit(0.5) + lit(0.8) * x + lit(0.4) * w), 9)
      val ev = PipelineOps.hash48Unit(
        concat(key, lit("aftc"))) < 0.8
      val planted = t(s, d, "customer").select(
        x.as("x"),
        when(ev, t0).otherwise(round(t0 * 0.6, 9)).as("t"),
        when(ev, 1.0).otherwise(0.0).as("d"))
      graft.ml.MlOps.aftNewtonTwin(planted, "x", "t", "d",
        rounds = 6)
    }),

    // the PORTABLE ORACLE TWIN of q258's AutoML-lite selection: the
    // same pick-by-holdout-RMSE harness with engine-replayable
    // candidates (mean / ridge-OLS x1 / ridge-OLS x1+x2, all exact
    // Cramer solves on decimal sufficient statistics, ONE scan).
    // Planted linear process => linear_x1_x2 must win. Closes the
    // q258 no-oracle ledger row.
    "q445_automl_twin" -> ((s, d) => {
      val key = col("c_custkey").cast("string")
      val x1 = pmod(col("c_custkey"), lit(10)).cast("double")
      val x2 = pmod(expr("c_custkey div 10"), lit(8)).cast("double")
      val noise = (PipelineOps.hash48Unit(concat(key, lit("amln")))
        - 0.5) * 2.0
      val planted = t(s, d, "customer").select(
        col("c_custkey").as("id"), x1.as("x1"), x2.as("x2"),
        (lit(3.0) + lit(2.0) * x1 - x2 + noise).as("y"))
      graft.ml.ModelSelection.autoMlTwin(planted, "id", "x1", "x2",
        "y")
    }),

    // the PORTABLE ORACLE TWIN of q297's word2vec neighborhoods:
    // explicit PPMI vectors (Levy–Goldberg 2014 — the matrix SGNS
    // implicitly factorizes) over a ±2 window, top-32 context dims,
    // cosine top-3 neighbors of the 10 most frequent words — every
    // count exact, ln rounded at 9, dot/norm terms decimal-summed.
    // Closes the q297 no-oracle ledger row.
    "q446_ppmi_embed" -> ((s, d) =>
      graft.llm.CorpusOps.ppmiEmbed(t(s, d, "documents"), "text")),

    // URL provenance parsing + registered-domain extraction over a
    // deterministic synthetic crawl (md5-lottery domain pick, so the
    // oracle rebuilds the identical URLs): scheme/host/path/query by
    // portable regexes, site identity via the two-level-suffix rule
    "q447_url_parse" -> ((s, d) =>
      graft.llm.UrlOps.parseUrl(syntheticUrls(s, d), "url")
        .select("doc_id", "url", "url_scheme", "url_host",
          "url_domain", "url_path", "url_query")),

    // per-registered-domain corpus rollup (docs, chars, exact-ppm
    // share) — the first audit of any crawl curation run
    "q448_domain_rollup" -> ((s, d) =>
      graft.llm.UrlOps.domainRollup(syntheticUrls(s, d), "url",
        "n_chars")),

    // resharding audit: keys moved when a 10-shard corpus grows to
    // 11 under mod-hash vs interval (consistent) assignment — the
    // quantified case for interval sharding at re-bucket time
    "q449_shard_plan" -> ((s, d) =>
      graft.llm.UrlOps.shardMoveReport(t(s, d, "documents"),
        "doc_id", 10, 11)),

    // held-out add-1 bigram-LM perplexity: train on the 70% hash
    // split, score the held-out docs against the trained model —
    // the reference-LM quality-filter shape
    "q454_lm_perplexity" -> ((s, d) =>
      PipelineOps.lmPerplexity(t(s, d, "documents"), "text",
        "doc_id")),

    // interpolated Kneser-Ney (d=0.75) on the same held-out split —
    // the industry-standard smoothing next to q454's add-1
    "q455_lm_kneser_ney" -> ((s, d) =>
      PipelineOps.lmPerplexityKn(t(s, d, "documents"), "text",
        "doc_id")),

    // HTML -> text cleaning over a deterministic synthetic crawl:
    // tag strip, fixed-order entity decode, whitespace collapse,
    // plus href extraction (count + joined list)
    "q456_html_strip" -> ((s, d) => {
      val links = graft.llm.UrlOps.extractLinks(col("html"))
      syntheticHtml(s, d).select(col("doc_id"),
        graft.llm.UrlOps.stripHtml(col("html")).as("text_clean"),
        size(links).cast("long").as("n_links"),
        concat_ws("|", links).as("links_joined"))
    }),

    // domain-level web graph from the same synthetic crawl — one
    // (src_domain, dst_domain, count) edge list, the PageRank/HITS
    // input builder
    "q457_link_graph" -> ((s, d) =>
      graft.llm.UrlOps.linkGraph(syntheticHtml(s, d), "url",
        "html")),

    // URL canonicalization + dedup groups: each doc contributes its
    // clean URL and a messy variant (case/port/tracking lotteries);
    // canonicalization must collapse every pair
    "q458_url_canonical" -> ((s, d) => {
      val clean = syntheticUrls(s, d).select("doc_id", "url")
      val m1 = PipelineOps.hash48Unit(
        concat(col("doc_id").cast("string"), lit("#m1"))) < 0.5
      val m2 = PipelineOps.hash48Unit(
        concat(col("doc_id").cast("string"), lit("#m2"))) < 0.5
      val m3 = PipelineOps.hash48Unit(
        concat(col("doc_id").cast("string"), lit("#m3"))) < 0.5
      val hostEnd = regexp_extract(col("url"),
        graft.llm.UrlOps.HostRe, 1)
      val path = regexp_extract(col("url"),
        graft.llm.UrlOps.PathRe, 1)
      val qref = regexp_extract(col("url"),
        graft.llm.UrlOps.QueryRe, 1)
      val params = when(m3, when(qref === "",
          lit("utm_source=news"))
          .otherwise(concat(qref, lit("&utm_source=news"))))
        .otherwise(qref)
      val messy = concat(
        when(m1, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(m1, upper(hostEnd)).otherwise(hostEnd),
        when(m2, lit(":443")).otherwise(lit("")),
        path,
        when(params === "", lit(""))
          .otherwise(concat(lit("?"), params)))
      val both = clean.select(col("url"))
        .union(clean.select(messy.as("url")))
      graft.llm.UrlOps.urlDedupGroups(both, "url")
    }),

    // per-target-domain anchor-text counts over the synthetic crawl
    // — the off-page relevance signal table
    "q459_anchor_text" -> ((s, d) =>
      graft.llm.UrlOps.anchorText(syntheticHtml(s, d), "html")),

    // the full URL dedup-identity composition: pages declaring a
    // <link rel=canonical> adopt that target, everyone else keeps
    // their own URL, then canonicalizeUrl normalizes — the identity
    // a crawler groups by before content dedup (q458 + q466 joined)
    "q470_url_identity" -> ((s, d) => {
      val u1 = PipelineOps.hash48Unit(
        concat(col("doc_id").cast("string"), lit("#nx")))
      val u2 = PipelineOps.hash48Unit(
        concat(col("doc_id").cast("string"), lit("#cn")))
      val html = concat(lit("<html><head>"),
        when(u1 < 0.3, lit(
          "<meta name=\"robots\" content=\"noindex,nofollow\">"))
          .when(u1 < 0.5,
            lit("<meta name=\"robots\" content=\"noindex\">"))
          .otherwise(lit("")),
        when(u2 < 0.4, concat(
          lit("<link rel=\"canonical\" href=\"https://canon.example.com/doc/"),
          col("doc_id").cast("string"), lit("\">")))
          .otherwise(lit("")),
        lit("</head><body><p>"), substring(col("text"), 1, 60),
        lit("</p></body></html>"))
      val base = t(s, d, "documents").select(col("doc_id"),
          col("text"))
        .withColumn("html", html)
        .join(syntheticUrls(s, d).select("doc_id", "url"), "doc_id")
      val withMeta = graft.llm.UrlOps.metaDirectives(base, "html")
      val identity = graft.llm.UrlOps.canonicalizeUrl(
        when(col("canonical_href") =!= "", col("canonical_href"))
          .otherwise(col("url")))
      withMeta.select(col("doc_id"),
        (col("canonical_href") =!= "").as("has_canonical"),
        identity.as("url_identity"))
    }),

    // robots.txt end-to-end: synthesize per-domain robots bodies
    // (lottery Disallow lines), parse to rules, gate every crawl URL
    // by prefix match — doc_id join gives a deterministic output key
    "q468_robots" -> ((s, d) => {
      val domDf = t(s, d, "documents").sparkSession
        .createDataFrame(urlDomains.map(Tuple1(_)))
        .toDF("domain")
      def lot(salt: String) = PipelineOps.hash48Unit(
        concat(col("domain"), lit(salt)))
      val robots = domDf.select(col("domain"), concat(
        lit("User-agent: *\n"),
        when(lot("#r1") < 0.5, lit("Disallow: /en\n"))
          .otherwise(lit("")),
        when(lot("#r2") < 0.4, lit("Disallow: /de/doc\n"))
          .otherwise(lit("")),
        when(lot("#r3") < 0.25, lit("Disallow: /\n"))
          .otherwise(lit(""))).as("robots_txt"))
      val rules = graft.llm.UrlOps.robotsRules(robots, "domain",
        "robots_txt")
      graft.llm.UrlOps.robotsAllowed(
          syntheticUrls(s, d).select("doc_id", "url"), "url",
          rules)
        .select("url", "url_domain", "url_path",
          "n_rules_matched", "allowed")
    }),

    // hostile-input URL parsing: uppercase schemes/hosts, user:pw@
    // userinfo, explicit ports — the inputs a real crawl frontier
    // carries; proves parseUrl's strip+lowercase semantics (the
    // round-9 hardening) hash-exactly against the oracle
    "q471_url_parse_hard" -> ((s, d) => {
      val key = col("doc_id").cast("string")
      def u(salt: String) = PipelineOps.hash48Unit(
        concat(key, lit(salt)))
      val domArr = array(urlDomains.map(lit): _*)
      val dom = element_at(domArr, (floor(u("#hd") * 8) + 1)
        .cast("int"))
      val scheme = when(u("#hs") < 0.33, lit("HTTP"))
        .when(u("#hs") < 0.66, lit("https")).otherwise(lit("Ftp"))
      val userinfo = when(u("#hu") < 0.3, lit("user:pw@"))
        .otherwise(lit(""))
      val host0 = concat(col("source"), lit("."), dom)
      val host = when(u("#hc") < 0.5, upper(host0)).otherwise(host0)
      val port = when(u("#hp") < 0.3, lit(":8080"))
        .when(u("#hp") < 0.5, lit(":443")).otherwise(lit(""))
      val qs = when(u("#hq") < 0.5, concat(lit("?ref="),
        pmod(col("n_chars"), lit(97L)).cast("string")))
        .otherwise(lit(""))
      val url = concat(scheme, lit("://"), userinfo, host, port,
        lit("/"), col("lang"), lit("/doc/"), key, qs)
      graft.llm.UrlOps.parseUrl(
          t(s, d, "documents").select(col("doc_id"), url.as("url")),
          "url")
        .select("doc_id", "url", "url_scheme", "url_host",
          "url_domain", "url_path", "url_query")
    }),

    // RFC 9309 robots end-to-end: Allow/Disallow with * wildcards
    // and $ anchors over CRLF bodies, longest-match precedence
    // (Allow wins ties), match target = path + query — supersedes
    // q468's Disallow-prefix-only v1 semantics. Directive keys are
    // deliberately mixed-case (disallow/ALLOW/DisAllow): RFC 9309
    // §2.1 keys are case-insensitive and real files write lowercase
    "q472_robots_rep" -> ((s, d) => {
      val domDf = t(s, d, "documents").sparkSession
        .createDataFrame(urlDomains.map(Tuple1(_)))
        .toDF("domain")
      def lot(salt: String) = PipelineOps.hash48Unit(
        concat(col("domain"), lit(salt)))
      val robots = domDf.select(col("domain"), concat(
        lit("user-agent: *\r\n"),
        when(lot("#a1") < 0.5, lit("disallow: /en\r\n"))
          .otherwise(lit("")),
        when(lot("#a2") < 0.5, lit("allow: /en/doc\r\n"))
          .otherwise(lit("")),
        when(lot("#a3") < 0.4, lit("DISALLOW: /*/doc/*7$\r\n"))
          .otherwise(lit("")),
        when(lot("#a4") < 0.3, lit("Allow: /de\r\n"))
          .otherwise(lit("")),
        when(lot("#a5") < 0.35, lit("DisAllow: /de*c\r\n"))
          .otherwise(lit("")),
        when(lot("#a6") < 0.2, lit("disallow: /\r\n"))
          .otherwise(lit(""))).as("robots_txt"))
      val rules = graft.llm.UrlOps.robotsRulesRep(robots, "domain",
        "robots_txt")
      graft.llm.UrlOps.robotsAllowedRep(
          syntheticUrls(s, d).select("doc_id", "url"), "url", rules)
        .select("url", "url_domain", "match_target", "best_score",
          "n_rules_matched", "allowed")
    }),

    // RFC 9309 §2.2.1 multi-agent group selection: bodies carry
    // graftbot / * / otherbot groups (lottery-included); the gate
    // crawls as 'GraftBot' (case-insensitive token match) — exact
    // groups govern where present, else the * group; otherbot's
    // Disallow-all must never leak
    "q477_robots_agent" -> ((s, d) => {
      val domDf = t(s, d, "documents").sparkSession
        .createDataFrame(urlDomains.map(Tuple1(_)))
        .toDF("domain")
      def lot(salt: String) = PipelineOps.hash48Unit(
        concat(col("domain"), lit(salt)))
      val robots = domDf.select(col("domain"), concat(
        when(lot("#g1") < 0.5, concat(
          lit("user-agent: GraftBot\r\ndisallow: /en\r\n"),
          when(lot("#g2") < 0.5, lit("ALLOW: /en/doc\r\n"))
            .otherwise(lit("")))).otherwise(lit("")),
        lit("User-agent: *\r\nDisallow: /de\r\n"),
        when(lot("#g3") < 0.4,
          lit("USER-AGENT: otherbot\r\ndisallow: /\r\n"))
          .otherwise(lit(""))).as("robots_txt"))
      val rules = graft.llm.UrlOps.robotsRulesRepAgent(robots,
        "domain", "robots_txt", "GraftBot")
      graft.llm.UrlOps.robotsAllowedRep(
          syntheticUrls(s, d).select("doc_id", "url"), "url", rules)
        .select("url", "url_domain", "match_target", "best_score",
          "n_rules_matched", "allowed")
    }),

    // registered domain against a FULL public-suffix table
    // (longest-match PSL rule via bounded explode + broadcast join)
    // over hostile authorities: userinfo, ports, uppercase, and a
    // deliberate 3-level suffix the fixed two-level rule can't see
    "q478_psl_domain" -> ((s, d) => {
      val key = col("doc_id").cast("string")
      def u(salt: String) = PipelineOps.hash48Unit(
        concat(key, lit(salt)))
      val domArr = array(urlDomains.map(lit): _*)
      val base = element_at(domArr, (floor(u("#pd") * 8) + 1)
        .cast("int"))
      val core = when(u("#p3") < 0.25,
        concat(col("source"), lit(".static.example.com")))
        .otherwise(concat(col("source"), lit("."), base))
      val sub = when(u("#p1") < 0.3, concat(lit("w."), core))
        .otherwise(core)
      val cased = when(u("#p2") < 0.5, upper(sub)).otherwise(sub)
      val auth = concat(
        when(u("#p4") < 0.2, lit("user@")).otherwise(lit("")),
        cased,
        when(u("#p5") < 0.2, lit(":8080")).otherwise(lit("")))
      val hosts = t(s, d, "documents")
        .select(col("doc_id"), auth.as("host"))
      val sufDf = t(s, d, "documents").sparkSession.createDataFrame(
        (graft.llm.UrlOps.TwoLevelSuffixes ++
          Seq("com", "org", "net", "io", "jp", "uk", "au",
            "static.example.com")).map(Tuple1(_))).toDF("suffix")
      graft.llm.UrlOps.registeredDomainPsl(hosts, "host", sufDf)
        .select("doc_id", "host", "reg_domain")
    }),

    // sitemap XML parsing (sitemaps.org): per-<url> loc + optional
    // lastmod extraction over synthesized urlset bodies — entry
    // order, missing lastmod, lastmod-before-loc and entities all
    // exercised; the step between q481's discovery and the frontier
    "q506_sitemap_parse" -> ((s, d) => {
      val domDf = t(s, d, "documents").sparkSession
        .createDataFrame(urlDomains.map(Tuple1(_)))
        .toDF("domain")
      def lot(salt: String) = PipelineOps.hash48Unit(
        concat(col("domain"), lit(salt)))
      val entry1 = concat(lit("<url><loc>https://"), col("domain"),
        lit("/</loc>"),
        when(lot("#x1") < 0.5, concat(lit("<lastmod>2026-0"),
          (floor(lot("#x2") * 9) + 1).cast("long").cast("string"),
          lit("-01</lastmod>"))).otherwise(lit("")),
        lit("</url>"))
      val entry2 = when(lot("#x3") < 0.7,
        concat(lit("<url><loc>https://"), col("domain"),
          lit("/news</loc></url>"))).otherwise(lit(""))
      val entry3 = when(lot("#x4") < 0.3,
        concat(lit("<url><lastmod>2026-01-02</lastmod><loc>https://"),
          col("domain"), lit("/a?b=1&amp;c=2</loc></url>")))
        .otherwise(lit(""))
      val xml = concat(lit("<?xml version=\"1.0\"?><urlset>"),
        entry1, entry2, entry3, lit("</urlset>"))
      graft.llm.UrlOps.sitemapUrls(
        domDf.select(col("domain"), xml.as("xml")), "domain", "xml")
    }),

    // INCREMENTAL URL-identity dedup: the new frontier batch is
    // messy refetch variants of crawled URLs (case/port/tracking
    // lotteries — must flag known) plus genuinely novel URLs (must
    // not); the canonical-form join is the pre-fetch dedup a
    // crawler runs before spending bandwidth
    "q505_incremental_url" -> ((s, d) => {
      val all = syntheticUrls(s, d).select("doc_id", "url")
      val corpus = all.filter(pmod(col("doc_id"), lit(10)) < 7)
      val m1 = PipelineOps.hash48Unit(
        concat(col("doc_id").cast("string"), lit("#f1"))) < 0.5
      val m2 = PipelineOps.hash48Unit(
        concat(col("doc_id").cast("string"), lit("#f2"))) < 0.5
      val m3 = PipelineOps.hash48Unit(
        concat(col("doc_id").cast("string"), lit("#f3"))) < 0.5
      val hostEnd = regexp_extract(col("url"),
        graft.llm.UrlOps.HostRe, 1)
      val path = regexp_extract(col("url"),
        graft.llm.UrlOps.PathRe, 1)
      val qref = regexp_extract(col("url"),
        graft.llm.UrlOps.QueryRe, 1)
      val params = when(m3, when(qref === "",
          lit("utm_source=feed"))
          .otherwise(concat(qref, lit("&utm_source=feed"))))
        .otherwise(qref)
      val messy = concat(
        when(m1, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(m1, upper(hostEnd)).otherwise(hostEnd),
        when(m2, lit(":443")).otherwise(lit("")),
        path,
        when(params === "", lit(""))
          .otherwise(concat(lit("?"), params)))
      val refetch = corpus.filter(PipelineOps.hash48Unit(
          concat(col("doc_id").cast("string"), lit("#rf"))) < 0.5)
        .select(messy.as("url"))
      val novel = all.filter(pmod(col("doc_id"), lit(10)) >= 7)
        .select("url")
      graft.llm.UrlOps.urlDedupAgainst(refetch.union(novel),
        corpus, "url")
    }),

    // the COMPLETE publicsuffix.org algorithm: wildcard rules
    // (*.ck — any leftmost label) and exception rules (!www.ck —
    // beats every match, suffix = rule minus leftmost label) over
    // hostile cased/ported authorities; extends q478's plain-rule
    // longest-match
    "q503_psl_wildcard" -> ((s, d) => {
      val key = col("doc_id").cast("string")
      def u(salt: String) = PipelineOps.hash48Unit(
        concat(key, lit(salt)))
      val domArr = array(urlDomains.map(lit): _*)
      val base = element_at(domArr, (floor(u("#wd") * 8) + 1)
        .cast("int"))
      val core = when(u("#w1") < 0.25,
        concat(col("source"), lit(".platform.ck")))
        .when(u("#w1") < 0.40, lit("www.ck"))
        .when(u("#w1") < 0.50, concat(col("source"), lit(".www.ck")))
        .otherwise(concat(col("source"), lit("."), base))
      val sub = when(u("#w2") < 0.3, concat(lit("m."), core))
        .otherwise(core)
      val cased = when(u("#w3") < 0.5, upper(sub)).otherwise(sub)
      val auth = concat(cased,
        when(u("#w5") < 0.2, lit(":8443")).otherwise(lit("")))
      val hosts = t(s, d, "documents")
        .select(col("doc_id"), auth.as("host"))
      val sufDf = t(s, d, "documents").sparkSession.createDataFrame(
        (graft.llm.UrlOps.TwoLevelSuffixes ++
          Seq("com", "org", "net", "io", "jp", "uk", "au",
            "static.example.com", "*.ck", "!www.ck"))
          .map(Tuple1(_))).toDF("suffix")
      graft.llm.UrlOps.registeredDomainPsl(hosts, "host", sufDf)
        .select("doc_id", "host", "reg_domain")
    }),

    // politeness-constrained fetch schedule: per-domain Crawl-delay
    // directives (lottery 1-5s, default 2) space the frontier —
    // slot k fetches at k*delay, priority = corpus chars
    "q479_crawl_schedule" -> ((s, d) => {
      val domDf = t(s, d, "documents").sparkSession
        .createDataFrame(urlDomains.map(Tuple1(_)))
        .toDF("domain")
      def lot(salt: String) = PipelineOps.hash48Unit(
        concat(col("domain"), lit(salt)))
      val robots = domDf.select(col("domain"), concat(
        lit("User-agent: *\r\n"),
        when(lot("#cd") < 0.6, concat(lit("crawl-delay: "),
          (floor(lot("#cv") * 5) + 1).cast("long").cast("string"),
          lit("\r\n"))).otherwise(lit(""))).as("robots_txt"))
      val delays = graft.llm.UrlOps.robotsCrawlDelay(robots,
        "domain", "robots_txt")
      graft.llm.UrlOps.crawlSchedule(syntheticUrls(s, d), "url",
        "n_chars", delays)
    }),

    // crawl-seed discovery: Sitemap directives extracted from
    // robots.txt bodies (file-wide per RFC 9309 §2.4)
    "q481_sitemaps" -> ((s, d) => {
      val domDf = t(s, d, "documents").sparkSession
        .createDataFrame(urlDomains.map(Tuple1(_)))
        .toDF("domain")
      def lot(salt: String) = PipelineOps.hash48Unit(
        concat(col("domain"), lit(salt)))
      val robots = domDf.select(col("domain"), concat(
        lit("User-agent: *\r\nDisallow: /x\r\n"),
        when(lot("#s1") < 0.7, concat(lit("sitemap: https://"),
          col("domain"), lit("/sitemap.xml\r\n")))
          .otherwise(lit("")),
        when(lot("#s2") < 0.3, concat(lit("SITEMAP: https://"),
          col("domain"), lit("/news-sitemap.xml\r\n")))
          .otherwise(lit(""))).as("robots_txt"))
      graft.llm.UrlOps.robotsSitemaps(robots, "domain",
        "robots_txt")
    }),

    // END-TO-END CRAWL FRONTIER PLANNER — the composition a crawler
    // actually runs before fetching: domain authority (exact-integer
    // PageRank over the raw-HTML link graph, q460), crawl budget
    // (Hamilton apportionment of 300 slots by corpus chars, q467),
    // robots REP gating (q472's Allow/wildcard/anchor bodies), then
    // per-domain priority ranking — fetched iff rank <= alloc
    "q482_url_frontier" -> ((s, d) => {
      val edges = graft.llm.UrlOps.linkGraph(syntheticHtml(s, d),
          "url", "html")
        .filter(col("src_domain") =!= col("dst_domain"))
        .select(col("src_domain").as("src"),
          col("dst_domain").as("dst"))
      val pr = graft.graphops.GraphOps.pageRankExact(edges,
          rounds = 2)
        .select(col("id").as("url_domain"), col("pr"))
      val roll = graft.llm.UrlOps.domainRollup(syntheticUrls(s, d),
        "url", "n_chars")
      val alloc = graft.llm.UrlOps.apportion(roll, "url_domain",
          "n_chars_total", 300L)
        .select(col("key").as("url_domain"), col("alloc"))
      val domDf = t(s, d, "documents").sparkSession
        .createDataFrame(urlDomains.map(Tuple1(_)))
        .toDF("domain")
      def lot(salt: String) = PipelineOps.hash48Unit(
        concat(col("domain"), lit(salt)))
      val robots = domDf.select(col("domain"), concat(
        lit("user-agent: *\r\n"),
        when(lot("#a1") < 0.5, lit("disallow: /en\r\n"))
          .otherwise(lit("")),
        when(lot("#a2") < 0.5, lit("allow: /en/doc\r\n"))
          .otherwise(lit("")),
        when(lot("#a3") < 0.4, lit("DISALLOW: /*/doc/*7$\r\n"))
          .otherwise(lit("")),
        when(lot("#a4") < 0.3, lit("Allow: /de\r\n"))
          .otherwise(lit("")),
        when(lot("#a5") < 0.35, lit("DisAllow: /de*c\r\n"))
          .otherwise(lit("")),
        when(lot("#a6") < 0.2, lit("disallow: /\r\n"))
          .otherwise(lit(""))).as("robots_txt"))
      val rules = graft.llm.UrlOps.robotsRulesRep(robots, "domain",
        "robots_txt")
      val allowedUrls = graft.llm.UrlOps.robotsAllowedRep(
          syntheticUrls(s, d).select("url"), "url", rules)
        .filter(col("allowed")).select("url", "url_domain")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("url_domain")
        .orderBy(col("n_chars").desc, col("url").asc)
      allowedUrls
        .join(syntheticUrls(s, d).select("url", "n_chars"), "url")
        .join(pr, Seq("url_domain"), "left")
        .join(alloc, Seq("url_domain"), "left")
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("fetched",
          col("rank") <= coalesce(col("alloc"), lit(0L)))
        .select("url", "url_domain", "pr", "alloc", "rank",
          "fetched")
    }),

    // D'Hondt divisor apportionment of 97 slots over the same
    // domain weights — the large-weight-favoring sibling of q467
    "q469_dhondt" -> ((s, d) => {
      val roll = graft.llm.UrlOps.domainRollup(
        syntheticUrls(s, d), "url", "n_chars")
      graft.llm.UrlOps.apportionDHondt(roll, "url_domain",
        "n_chars_total", 97)
    }),

    // largest-remainder (Hamilton) crawl-budget apportionment:
    // 10000 fetch slots across registered domains by corpus chars —
    // exact integer quotas, remainder ranking over the key table
    "q467_crawl_budget" -> ((s, d) => {
      val roll = graft.llm.UrlOps.domainRollup(
        syntheticUrls(s, d), "url", "n_chars")
      graft.llm.UrlOps.apportion(roll, "url_domain",
          "n_chars_total", 10000L)
        .select(col("key").as("url_domain"), col("w"),
          col("base"), col("bonus"), col("alloc"))
    }),

    // chunk-level near-dup pairs from CDC content ids (boilerplate
    // chunks df>maxDf excluded; conservative jaccard)
    "q465_cdc_pairs" -> ((s, d) =>
      graft.llm.Dedup.cdcPairs(t(s, d, "documents"), "doc_id",
        "text")),

    // robots-meta + canonical-link extraction over HTML with
    // lottery-injected directives — the crawl keep/drop gate
    "q466_meta_directives" -> ((s, d) => {
      val u1 = PipelineOps.hash48Unit(
        concat(col("doc_id").cast("string"), lit("#nx")))
      val u2 = PipelineOps.hash48Unit(
        concat(col("doc_id").cast("string"), lit("#cn")))
      val html = concat(lit("<html><head>"),
        when(u1 < 0.3, lit(
          "<meta name=\"robots\" content=\"noindex,nofollow\">"))
          .when(u1 < 0.5,
            lit("<meta name=\"robots\" content=\"noindex\">"))
          .otherwise(lit("")),
        when(u2 < 0.4, concat(
          lit("<link rel=\"canonical\" href=\"https://canon.example.com/doc/"),
          col("doc_id").cast("string"), lit("\">")))
          .otherwise(lit("")),
        lit("</head><body><p>"), substring(col("text"), 1, 60),
        lit("</p></body></html>"))
      graft.llm.UrlOps.metaDirectives(
          t(s, d, "documents").select(col("doc_id"),
            col("text")).withColumn("html", html), "html")
        .select("doc_id", "meta_noindex", "meta_nofollow",
          "canonical_href")
    }),

    // Unicode NFC normalization over synthesized decomposed text
    // (combining acute/tilde) — the crawl-cleaning staple; native
    // codegen expression vs DuckDB's utf8proc nfc_normalize
    "q464_nfc_normalize" -> ((s, d) => {
      val mess = concat(lit("Cafe"), lit("́"), lit(" nin"),
        lit("o"), lit("̃"), lit(" "),
        substring(col("text"), 1, 40))
      val norm = graft.sqlext.NfcNormalize.nfc(mess)
      t(s, d, "documents").select(col("doc_id"),
        length(mess).cast("long").as("len_raw"),
        length(norm).cast("long").as("len_nfc"),
        norm.as("text_nfc"))
    }),

    // content-defined chunking (FastCDC/LBFS family): rolling-hash
    // boundaries over each doc, chunk table with md5 content ids —
    // the storage-dedup primitive (insert-resilient, spec'd)
    "q461_cdc_chunks" -> ((s, d) =>
      graft.llm.Dedup.cdcChunksFast(t(s, d, "documents"), "doc_id",
        "text")),

    // cross-corpus duplicate-chunk report: dedup ratio a
    // content-addressed store achieves on this corpus
    "q462_cdc_dedup" -> ((s, d) =>
      graft.llm.Dedup.cdcDedupReport(t(s, d, "documents"), "doc_id",
        "text")),

    // end-to-end crawl ranking composition: HTML -> hrefs -> domain
    // graph -> exact-integer PageRank (2 rounds, oracle-unrolled) —
    // the full "rank sites from raw pages" pipeline in one gate
    "q460_domain_pagerank" -> ((s, d) => {
      val e = graft.llm.UrlOps.linkGraph(syntheticHtml(s, d),
          "url", "html")
        .filter(col("src_domain") =!= col("dst_domain"))
        .select(col("src_domain").as("src"),
          col("dst_domain").as("dst"))
      graft.graphops.GraphOps.pageRankExact(e, rounds = 2)
        .select(col("id").as("domain"), col("pr"),
          round(col("pr_norm"), 9).as("pr_norm"))
    }),

    // Fleiss' kappa over synthesized 5-rater 3-category annotations
    // with a 60% agreement bias toward a per-unit base category
    "q439_fleiss_kappa" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").as("u"))
        .withColumn("rater",
          explode(sequence(lit(1), lit(5))))
      val base = floor(PipelineOps.hash48Unit(concat(col("u")
        .cast("string"), lit("#base"))) * 3).cast("long")
      val indep = floor(PipelineOps.hash48Unit(concat(col("u")
        .cast("string"), lit("#r"), col("rater").cast("string")))
        * 3).cast("long")
      val agree = PipelineOps.hash48Unit(concat(col("u")
        .cast("string"), lit("#ag"),
        col("rater").cast("string"))) < 0.6
      val ann = o.select(col("u"),
        when(agree, base).otherwise(indep).as("rating"))
      graft.stats.StatsOps.fleissKappa(ann, "u", "rating")
        .select(col("n_units"), col("n_raters"),
          col("units_dropped"),
          round(col("p_bar"), 9).as("p_bar"),
          round(col("p_e"), 9).as("p_e"),
          round(col("kappa"), 9).as("kappa"))
    }),

    // CIDEr-D over the adjacent-doc pairs (idf from the reference
    // side, clipped length-penalized cosine per n, mean over n=1..4)
    "q438_cider_d" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def trunc(c: org.apache.spark.sql.Column) = concat_ws(" ",
        slice(graft.functions.TextFunctions.tokens(c), 1, 25))
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pid"),
          trunc(col("a.text")).as("cand"),
          trunc(col("b.text")).as("ref"))
      graft.llm.TextEval.ciderD(pairs, "pid", "cand", "ref",
          maxN = 4)
        .select(col("id").as("pid"), col("lc"), col("lr"),
          round(col("cider_d"), 9).as("cider_d"))
        .orderBy("pid")
    }),

    // Bradley-Terry strengths from supplier price duels (per order,
    // the higher-priced line wins) — 3 MM rounds, exact-count win
    // matrix, round-12 DECIMAL opponent sums per round
    "q437_bradley_terry" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"), cents(col("l_extendedprice")).as("pc"))
      val duels = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") =!= col("y.l_suppkey") &&
            col("x.pc") > col("y.pc"))
        .select(col("x.l_suppkey").as("winner"),
          col("y.l_suppkey").as("loser"))
        .groupBy("winner", "loser").agg(count(lit(1)).as("k"))
      graft.analytics.PairwiseRank.bradleyTerry(duels,
          "winner", "loser", "k", rounds = 3)
        .select(col("id").cast("long").as("id"), col("wins"),
          round(col("strength"), 9).as("strength"),
          round(col("share"), 9).as("share"))
        .orderBy("id")
    }),

    // ROUGE-L over adjacent-doc pairs (truncated to 25 tokens, the
    // q345 WER pairing): LCS via the native WordLcs codegen kernel,
    // replayed by the oracle's prefix-max DP recursive CTE
    "q436_rouge_l" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def trunc(c: org.apache.spark.sql.Column) = concat_ws(" ",
        slice(graft.functions.TextFunctions.tokens(c), 1, 25))
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pid"),
          trunc(col("a.text")).as("cand"),
          trunc(col("b.text")).as("ref"))
      graft.llm.TextEval.rougeL(pairs, "pid", "cand", "ref")
        .select(col("pid"), col("lcs"), col("n_cand"), col("n_ref"),
          round(col("rouge_l_p"), 9).as("rouge_l_p"),
          round(col("rouge_l_r"), 9).as("rouge_l_r"),
          round(col("rouge_l_f"), 9).as("rouge_l_f"))
        .orderBy("pid")
    }),

    // quality-aware duplicate retention: keep the longest copy
    // (tie -> smallest id) of every exact-dup cluster
    "q435_dedup_retention" -> ((s, d) =>
      graft.llm.Dedup.canonicalByQuality(
        t(s, d, "documents"), "text", "doc_id", "n_chars")
        .select(col("doc_id"), col("canonical_id"),
          col("group_size"), col("score").cast("long").as("score"),
          col("is_canonical"))
        .orderBy("doc_id")),

    // entropy l-diversity + t-closeness per (segment, priority)
    // quasi-identifier class, sensitive = order status
    "q432_l_diversity" -> ((s, d) => {
      val o = t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("o_orderpriority").as("pri"),
          col("o_orderstatus").as("status"))
      graft.llm.Privacy.diversityCloseness(o, Seq("seg", "pri"),
          "status")
        .select(col("seg"), col("pri"), col("n"), col("l_distinct"),
          round(col("entropy_nats"), 9).as("entropy_nats"),
          round(col("entropy_l"), 9).as("entropy_l"),
          round(col("t_closeness"), 9).as("t_closeness"))
        .orderBy("seg", "pri")
    }),

    // dataset card: sizes, exact-dup rate, slice entropies, hapax
    // share as (metric, value) rows — the release datasheet
    "q433_dataset_card" -> ((s, d) =>
      PipelineOps.datasetCard(t(s, d, "documents"), "text", "lang",
        "source").orderBy("metric")),

    // code-vs-prose router score per source: exact integer signal
    // counts and ppm scores, no floats anywhere
    "q429_code_score" -> ((s, d) =>
      PipelineOps.codeScore(t(s, d, "documents"), "doc_id", "text")
        .join(t(s, d, "documents").select(col("doc_id"),
          col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_code"), 1L).otherwise(0L)).as("n_code"),
          sum(col("score_ppm")).as("score_sum"),
          sum(col("n_codechar")).as("codechars"))
        .withColumn("mean_score_ppm",
          expr("score_sum div n_docs"))
        .orderBy("source")),

    // MinHash-LSH parameter planner for the q44 (16 bands x 8 rows)
    // configuration: detection curve by repeated multiplication
    // (identical float tree both engines)
    "q430_lsh_plan" -> ((s, d) =>
      graft.llm.Dedup.lshPlan(s, bands = 16, rowsPerBand = 8,
        steps = 20)
        .select(col("i"), round(col("s"), 9).as("s"),
          round(col("p_detect"), 9).as("p_detect"),
          round(col("s_half"), 9).as("s_half"),
          col("above_half"))
        .orderBy("i")),

    // Hill tail-index of order spend per priority class — the
    // heavy-tail detector before trusting means/z-scores
    "q431_hill" -> ((s, d) =>
      graft.stats.StatsOps.hillTailIndex(
        t(s, d, "orders").select(col("o_orderpriority").as("pri"),
          cents(col("o_totalprice")).as("vc")),
        Seq("pri"), "vc", k = 100)
        .select(col("pri"), col("k_used"), col("x_k1"),
          round(col("hill"), 9).as("hill"),
          round(col("alpha"), 9).as("alpha"))
        .orderBy("pri")),

    // multiclass one-vs-rest report over a 4-class hash task where
    // the prediction agrees with the label 70% of the time
    "q426_multiclass" -> ((s, d) => {
      val lbl = floor(PipelineOps.hash48Unit(concat(
        col("o_orderkey").cast("string"), lit("#mc"))) * 4)
        .cast("long")
      val alt = floor(PipelineOps.hash48Unit(concat(
        col("o_orderkey").cast("string"), lit("#mp"))) * 4)
        .cast("long")
      val agree = PipelineOps.hash48Unit(concat(
        col("o_orderkey").cast("string"), lit("#ag"))) < 0.7
      val o = t(s, d, "orders").select(lbl.as("y"),
        when(agree, lbl).otherwise(alt).as("p"))
      graft.ml.MlMetrics.multiclassReport(o, "y", "p")
        .select(col("cls"), col("support"), col("predicted"),
          col("tp"), col("fp"), col("fn"),
          round(col("precision"), 9).as("precision"),
          round(col("recall"), 9).as("recall"),
          round(col("f1"), 9).as("f1"))
        .orderBy("cls")
    }),

    // macro/micro summary of the same task (zero_division=0,
    // round-12 DECIMAL per-class term sums)
    "q427_multiclass_macro" -> ((s, d) => {
      val lbl = floor(PipelineOps.hash48Unit(concat(
        col("o_orderkey").cast("string"), lit("#mc"))) * 4)
        .cast("long")
      val alt = floor(PipelineOps.hash48Unit(concat(
        col("o_orderkey").cast("string"), lit("#mp"))) * 4)
        .cast("long")
      val agree = PipelineOps.hash48Unit(concat(
        col("o_orderkey").cast("string"), lit("#ag"))) < 0.7
      val o = t(s, d, "orders").select(lbl.as("y"),
        when(agree, lbl).otherwise(alt).as("p"))
      graft.ml.MlMetrics.multiclassMacro(
          graft.ml.MlMetrics.multiclassReport(o, "y", "p"))
        .select(col("n_classes"), col("n"), col("accuracy_ppm"),
          round(col("macro_precision"), 9).as("macro_precision"),
          round(col("macro_recall"), 9).as("macro_recall"),
          round(col("macro_f1"), 9).as("macro_f1"))
    }),

    // ROC operating points over the dyadic score lattice with
    // Youden-J and cost-optimal threshold flags (cost FN = 4x FP)
    "q428_roc_youden" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        (col("o_orderstatus") === "F").as("y"),
        (floor(PipelineOps.hash48Unit(concat(col("o_orderkey")
          .cast("string"), lit("#s"))) * 1024) / 1024).as("p"))
      graft.ml.MlMetrics.rocThresholds(o, "p", "y",
          costFp = 1.0, costFn = 4.0)
        .select(col("threshold"), col("tp"), col("fp"), col("fn"),
          round(col("tpr"), 9).as("tpr"),
          round(col("fpr"), 9).as("fpr"),
          round(col("youden_j"), 9).as("youden_j"),
          round(col("exp_cost"), 6).as("exp_cost"),
          col("is_j_best"), col("is_cost_best"))
        .orderBy("threshold")
    }),

    // rank-biased overlap between the cosine neighborhoods of two
    // query embeddings: per-depth overlap (exact ints) + cumulative
    // RBO with Scala-inlined geometric weights
    "q423_rbo" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      def ranking(qid: Int, name: String) = {
        // 1-row agg (not a bare filter) so the broadcast stat-row
        // side is structurally bounded for the plan lint
        val q = e.filter(col("vec_id") === qid)
          .agg(first(col("embedding")).as("qv"))
        e.filter(col("vec_id") =!= qid).crossJoin(broadcast(q))
          .select(lit(name).as("list"), col("vec_id").as("id"),
            round(graft.llm.Similarity.cosine(col("embedding"),
              col("qv")), 6).as("score"))
      }
      graft.llm.RetrievalEval.rbo(
          ranking(0, "qa").union(ranking(1, "qb")),
          "list", "id", "score", "qa", "qb", p = 0.9, k = 10)
        .select(col("d"), col("overlap"),
          round(col("agreement"), 9).as("agreement"),
          round(col("rbo"), 9).as("rbo"))
        .orderBy("d")
    }),

    // Good-Turing vocabulary coverage per source: unseen-mass
    // estimate n1/N in exact ppm
    "q424_good_turing" -> ((s, d) =>
      graft.llm.CorpusOps.goodTuringCoverage(
        t(s, d, "documents"), "text", "source")
        .orderBy("g")),

    // tokenizer fertility of a fixed 5-merge BPE list per source —
    // exact token/word totals via the oracle-replayable merge fold
    "q425_bpe_fertility" -> ((s, d) =>
      graft.llm.CorpusOps.bpeFertility(
        t(s, d, "documents"), "text", "source",
        Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
          ("o", "n")))
        .orderBy("g")),

    // leakage-safe group split of events by user: per-split row and
    // user counts PLUS a structural leakage check (max splits any
    // user touches — must be 1)
    "q418_group_split" -> ((s, d) => {
      val sp = PipelineOps.groupSplit(t(s, d, "events"), "user_id",
        testPermille = 200, salt = "gs")
      val perUser = sp.groupBy("user_id")
        .agg(countDistinct(col("split")).as("k"))
        .agg(max(col("k")).as("max_splits_per_user"))
      sp.groupBy("split")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .crossJoin(broadcast(perUser))
        .orderBy("split")
    }),

    // confident-learning label-noise audit on the dyadic-lattice
    // score vs the 'F' label
    "q419_label_noise" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        (col("o_orderstatus") === "F").as("y"),
        (floor(PipelineOps.hash48Unit(concat(col("o_orderkey")
          .cast("string"), lit("#s"))) * 1024) / 1024).as("p"))
      graft.ml.MlMetrics.labelNoiseAudit(o, "y", "p", tau = 0.9)
        .orderBy("label")
    }),

    // character-class composition audit (garbage/mojibake detector):
    // per-source totals of the per-doc exact ppm shares
    "q420_script_mix" -> ((s, d) =>
      PipelineOps.scriptMix(t(s, d, "documents"), "doc_id", "text")
        .join(t(s, d, "documents").select(col("doc_id"),
          col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          sum(col("n_alpha")).as("alpha"),
          sum(col("n_digit")).as("digit"),
          sum(col("n_space")).as("space"),
          sum(col("n_other")).as("other"))
        .withColumn("alpha_ppm", expr("alpha * 1000000 div chars"))
        .withColumn("other_ppm", expr("other * 1000000 div chars"))
        .orderBy("source")),

    // Gopher quality rule-set report in ONE scan — per-rule pass
    // counts and exact-ppm rates over the corpus
    "q421_gopher" -> ((s, d) =>
      PipelineOps.gopherRules(t(s, d, "documents"), "text",
        minWords = 30, maxWords = 100000)
        .orderBy("rule_idx")),

    // hard-negative mining: for 20 query embeddings, the 3 nearest
    // different-label candidates by fused-codegen cosine (6-dp
    // replay convention); query side bounded via limit (broadcast)
    "q422_hard_negatives" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val queries = e.orderBy("vec_id").limit(20)
      graft.llm.Similarity.hardNegatives(queries, e,
          "vec_id", "embedding", "label", k = 3)
        .orderBy("query_id", "rank")
    }),

    // shared-passage pairs from winnowing fingerprints: fp-keyed
    // postings join with boilerplate maxDf cap, fingerprint-set
    // Jaccard — plagiarism/quote detection without all-pairs
    "q415_winnow_pairs" -> ((s, d) =>
      graft.llm.Dedup.winnowingPairs(
        t(s, d, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", k = 8, w = 4, minShared = 2, maxDf = 100)
        .select(col("id_a"), col("id_b"), col("n_shared"),
          col("nfp_a"), col("nfp_b"),
          round(col("fp_jaccard"), 9).as("fp_jaccard"))
        .orderBy("id_a", "id_b")),

    // negative-binomial MoM fit of per-user event counts — the
    // model the q408 dispersion audit says to switch to
    "q416_negbin" -> ((s, d) => {
      val counts = t(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
      graft.stats.StatsOps.negbinMoM(counts, Seq("event_type"), "c")
        .select(col("event_type"), col("n"),
          round(col("mean"), 9).as("mean"),
          round(col("variance"), 9).as("variance"),
          round(col("r_hat"), 9).as("r_hat"),
          round(col("p_hat"), 9).as("p_hat"))
        .orderBy("event_type")
    }),

    // doubly-robust off-policy value with the per-action empirical
    // reward model — same logged-bandit rows as q413
    "q417_dr_eval" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        floor(PipelineOps.hash48Unit(concat(col("o_orderkey")
          .cast("string"), lit("#a"))) * 4).cast("long").as("act"),
        ((lit(1) + floor(PipelineOps.hash48Unit(concat(
          col("o_orderkey").cast("string"), lit("#p"))) * 512)) /
          lit(1024.0)).as("prop"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L)
          .as("reward"),
        floor(PipelineOps.hash48Unit(concat(col("o_custkey")
          .cast("string"), lit("#pi"))) * 4).cast("long").as("tgt"))
      graft.ml.MlMetrics.drEvaluation(o, "act", "prop", "reward",
          "tgt")
        .select(col("n"), col("n_matched"),
          round(col("v_dr"), 9).as("v_dr"))
    }),

    // Aalen-Johansen cumulative incidence under competing risks:
    // hash-derived durations (50 distinct times) and cause codes
    // {0=censored,1,2}; exp-of-log-sum survival + fixed-ascending-
    // order CIF window sums (the q183 KM replay convention)
    "q409_cif" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        (lit(1) + floor(PipelineOps.hash48Unit(concat(
          col("o_orderkey").cast("string"), lit("#d"))) * 50))
          .cast("long").as("dur"),
        floor(PipelineOps.hash48Unit(concat(
          col("o_orderkey").cast("string"), lit("#c"))) * 3)
          .cast("long").as("cause"))
      graft.stats.StatsOps.aalenJohansen(o, "dur", "cause")
        .orderBy("dur")
    }),

    // exact-integer PageRank on the supplier co-purchase graph —
    // the engine-replayable twin of the float q54 gate
    "q410_pagerank_exact" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"))
      val und = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"),
          col("y.l_suppkey").as("dst"))
        .distinct()
      val edges = und.union(und.select(col("dst").as("src"),
        col("src").as("dst")))
      graft.graphops.GraphOps.pageRankExact(edges, rounds = 3)
        .select(col("id").cast("long").as("id"), col("pr"),
          round(col("pr_norm"), 9).as("pr_norm"))
        .orderBy("id")
    }),

    // TextRank keywords over the documents corpus: adjacent-word
    // graph (stopwords + <3-char words dropped), exact-integer
    // PageRank, top-20 by (score desc, word) — ranking replayable
    // bit-for-bit
    "q411_textrank" -> ((s, d) =>
      graft.llm.CorpusOps.textRankKeywords(
        t(s, d, "documents"), "text", rakeStops, topN = 20,
        rounds = 3)),

    // uplift/Qini evaluation: unit-level treatment from the customer
    // hash bit, dyadic-lattice model score, 'F'-status outcome —
    // exact integer bucket counts, single-expression uplift/qini
    "q405_uplift" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        (PipelineOps.hash48Unit(concat(col("o_custkey")
          .cast("string"), lit("#t"))) < 0.5).as("treat"),
        (col("o_orderstatus") === "F").as("y"),
        (floor(PipelineOps.hash48Unit(concat(col("o_orderkey")
          .cast("string"), lit("#s"))) * 1024) / 1024).as("p"))
      graft.ml.MlMetrics.upliftCurve(o, "treat", "y", "p",
          buckets = 10)
        .select(col("bucket"), col("nt"), col("nc"), col("rt"),
          col("rc"), col("cum_nt"), col("cum_nc"), col("cum_rt"),
          col("cum_rc"),
          round(col("uplift"), 9).as("uplift"),
          round(col("cum_uplift"), 9).as("cum_uplift"),
          round(col("qini"), 9).as("qini"))
        .orderBy("bucket")
    }),

    // group-fairness audit (demographic parity + equalized odds ppm
    // gaps) by customer nation — entirely exact integer arithmetic
    "q406_fairness" -> ((s, d) => {
      val o = t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("grp"),
          (col("o_orderstatus") === "F").as("y"),
          (PipelineOps.hash48Unit(concat(col("o_orderkey")
            .cast("string"), lit("#f"))) >= 0.5).as("pred"))
      graft.ml.MlMetrics.fairnessReport(o, "grp", "y", "pred")
        .orderBy("grp")
    }),

    // IPW ATE with stratum-exact propensity over order priority —
    // off-support strata excluded AND counted (loud-drop convention)
    "q407_ipw" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        col("o_orderpriority").as("strat"),
        (PipelineOps.hash48Unit(concat(col("o_custkey")
          .cast("string"), lit("#t"))) < 0.5).as("treat"),
        cents(col("o_totalprice")).as("yc"))
      graft.stats.StatsOps.ipwAte(o, "treat", "yc", Seq("strat"))
        .select(col("n_total"), col("n_matched"),
          col("n_off_support"), col("n_strata"),
          col("n_strata_dropped"), round(col("ate"), 6).as("ate"))
    }),

    // Poisson overdispersion audit of per-user event counts by
    // event type — the switch-to-negative-binomial trigger; exact
    // count sums, Wilson-Hilferty p via the shared normal polynomial
    "q408_dispersion" -> ((s, d) => {
      val counts = t(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("c"))
      graft.stats.StatsOps.dispersionTest(counts,
          Seq("event_type"), "c")
        .select(col("event_type"), col("n"),
          round(col("mean"), 9).as("mean"),
          round(col("variance"), 9).as("variance"),
          round(col("dispersion"), 9).as("dispersion"),
          round(col("chi2"), 6).as("chi2"),
          col("dof").cast("long").as("dof"),
          round(col("z_wh"), 9).as("z_wh"),
          round(col("p_over"), 9).as("p_over"))
        .orderBy("event_type")
    }),

    // Jensen-Shannon divergence between the src0/src1 unigram
    // distributions: the symmetric corpus-mixture comparison for
    // blending decisions; per-word terms round-12 DECIMAL-summed
    "q395_js_divergence" -> ((s, d) =>
      graft.llm.CorpusOps.jsDivergence(
        t(s, d, "documents"), "text", "source", "src0", "src1")
        .select(col("n_vocab"), col("vocab_a"), col("vocab_b"),
          col("tokens_a"), col("tokens_b"),
          round(col("kl_pm"), 6).as("kl_pm"),
          round(col("kl_qm"), 6).as("kl_qm"),
          round(col("jsd"), 6).as("jsd"))),

    // end-to-end entity resolution: the q362 multi-pass blocked FS
    // pipeline's 'match' pairs clustered into entities by 3 unrolled
    // rounds of synchronous min-label propagation (near-clique
    // components inside blocks -> tiny diameter; the q344 unroll
    // precedent). The match set is provably identical to the old
    // single-pass (brand,size) blocking: 'match' requires name1_eq
    // AND type_eq under the fsFields weights, and every such pair is
    // generated by pass 0 — so the oracle SQL is unchanged.
    // entityIds(rounds = -1) is the documented fixpoint path for
    // unbounded-diameter components (pointer-jumping CC).
    "q382_entity_resolution" -> ((s, d) => {
      val parts = t(s, d, "part").select(col("p_partkey"),
        col("p_brand"), col("p_type"), col("p_size"),
        split(col("p_name"), " ").getItem(0).as("name1"),
        cents(col("p_retailprice")).as("pc"))
      val pairs = graft.analytics.RecordLinkage.blockPairsMulti(
        parts, "p_partkey",
        Seq(Seq("p_brand", "p_size", "name1"),
          Seq("p_brand", "p_size", "p_type")), maxBlock = 1000)
      val ag = pairs
        .withColumn("type_eq", col("l_p_type") === col("r_p_type"))
        .withColumn("name1_eq", col("l_name1") === col("r_name1"))
        .withColumn("price_band",
          abs(col("l_pc") - col("r_pc")) <= lit(10000L))
      val matches = graft.analytics.RecordLinkage
        .fellegiSunter(ag, fsFields, upper = 5.0, lower = 0.0)
        .filter(col("fs_class") === "match")
        .select(col("l_p_partkey"), col("r_p_partkey"))
      graft.analytics.RecordLinkage
        .entityIds(matches, "l_p_partkey", "r_p_partkey", rounds = 3)
        .select(col("id").cast("long").as("part"),
          col("entity").cast("long").as("entity"))
        .orderBy("part")
    }),

    // k-anonymity / l-diversity audit (Sweeney 2002): equivalence
    // classes of the (nation, segment) quasi-identifier with class
    // size, distinct sensitive values (exact-cents balance) and the
    // below-k flag — the pre-release re-identification screen
    "q366_k_anonymity" -> ((s, d) =>
      graft.llm.Privacy.kAnonymityClasses(
        t(s, d, "customer").select(col("c_nationkey"),
          col("c_mktsegment"),
          cents(col("c_acctbal")).as("bal")),
        Seq("c_nationkey", "c_mktsegment"), "bal", k = 5)
        .orderBy("c_nationkey", "c_mktsegment")),

    // epsilon-DP noisy group counts (Laplace mechanism): portable
    // md5-lottery entropy keyed by (salt, group) so the release is
    // reproducible AND the oracle replays the exact noise draw
    "q367_dp_count" -> ((s, d) =>
      graft.llm.Privacy.dpGroupCount(
        t(s, d, "orders").select(col("o_orderstatus").as("status")),
        Seq("status"), epsilon = 0.5, salt = "release1")
        .select(col("status"), col("n"),
          round(col("noise"), 6).as("noise"),
          round(col("n_dp"), 6).as("n_dp"))
        .orderBy("status")),

    // epsilon-DP noisy group sums with sensitivity clamping
    // (quantity in [-50, 50], scale 50/eps); integral clamped values
    // keep the true sum order-free
    "q368_dp_sum" -> ((s, d) =>
      graft.llm.Privacy.dpGroupSum(
        t(s, d, "lineitem").select(col("l_returnflag").as("rf"),
          col("l_quantity").cast("long").as("qty")),
        Seq("rf"), "qty", sensitivity = 50.0, epsilon = 1.0,
        salt = "release2")
        .select(col("rf"), col("n"),
          round(col("sum_clamped"), 6).as("sum_clamped"),
          round(col("noise"), 6).as("noise"),
          round(col("sum_dp"), 6).as("sum_dp"))
        .orderBy("rf")),

    // key-skew heavy hitters: the pre-shuffle audit as a query —
    // top-20 supplier keys of lineitem by load with exact ppm
    // shares (TakeOrdered plan, deterministic key tie-break)
    "q369_skew_hitters" -> ((s, d) =>
      graft.ops.DataChecks.skewHeavyHitters(
        t(s, d, "lineitem").select(col("l_suppkey")),
        Seq("l_suppkey"), topK = 20)),

    // one-row skew summary (max/mean load ratio + top-1 ppm share)
    "q370_skew_summary" -> ((s, d) =>
      graft.ops.DataChecks.skewSummary(
        t(s, d, "lineitem").select(col("l_suppkey")),
        Seq("l_suppkey"))
        .select(col("n_rows"), col("n_keys"), col("max_key_rows"),
          round(col("skew_ratio"), 6).as("skew_ratio"),
          col("top1_ppm"))),

    // Benjamini-Hochberg FDR adjustment over a per-supplier p-value
    // table (portable-hash pseudo p-values — the CORRECTION is the
    // operator under test; any hypothesis table plugs in)
    "q169_bh_fdr" -> ((s, d) =>
      graft.stats.StatsOps.benjaminiHochberg(
        t(s, d, "supplier").select(col("s_suppkey"),
          PipelineOps.hash48Unit(col("s_suppkey").cast("string"))
            .as("p")),
        "p")
        .select(col("s_suppkey"), round(col("p"), 9).as("p"),
          round(col("p_adj"), 9).as("p_adj"))),

    // KMV distinct-count sketch of lineitem part keys
    "q97_kmv_distinct" -> ((s, d) =>
      PipelineOps.kmvDistinct(t(s, d, "lineitem"), "l_partkey", 128)),

    // count-min sketch frequency estimates: 500 folded user keys
    // through a deliberately tight 4×64 sketch (collisions are the
    // point — the min-over-rows does real work) vs the exact counts;
    // deterministic md5 bucketing, so the oracle re-derives the
    // sketch itself, not just the answer
    "q346_cms" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        .select(pmod(col("user_id"), lit(500)).cast("long").as("k"))
      val sketch = PipelineOps.countMinSketch(ev, "k",
        depth = 4, width = 64)
      val exact = ev.groupBy("k")
        .agg(count(lit(1)).cast("long").as("true_count"))
      PipelineOps.cmsEstimate(sketch, ev, "k", depth = 4, width = 64)
        .join(exact, Seq("k"))
        .select(col("k"), col("cms_count").cast("long").as("cms_count"),
          col("true_count"))
    }),

    // ranked-retrieval evaluation (trec_eval family) — P@10/R@10/
    // MRR/AP@10/NDCG@10 per query. Deterministic harness: queries =
    // nations, the "run" ranks each nation's customers by md5 order
    // (a fixed pseudo-retrieval both engines replay byte-identically)
    // and qrels grade customers by exact-cents balance bands
    // (>=7500 -> rel 2, >=5000 -> rel 1). The METRICS are the unit
    // under test; every count is exact and the double formulas share
    // one association order with the oracle.
    "q359_rank_eval" -> ((s, d) => {
      val c = t(s, d, "customer")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("h"), col("did"))
      val run = c.select(col("c_nationkey").cast("long").as("qid"),
          col("c_custkey").cast("long").as("did"),
          md5(col("c_custkey").cast("string")).as("h"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("qid", "did", "rank")
      val bal = cents(col("c_acctbal"))
      val qrels = c.select(col("c_nationkey").cast("long").as("qid"),
          col("c_custkey").cast("long").as("did"),
          when(bal >= 750000L, 2).when(bal >= 500000L, 1).as("rel"))
        .filter(col("rel").isNotNull)
      graft.llm.RetrievalEval.rankEval(run, qrels, k = 10)
    }),

    // HyperLogLog distinct-count sketch of lineitem part keys
    // (p=6 → 64 registers; same value set as the KMV gate q97 so the
    // two sketch families are directly comparable). The gate emits
    // the FULL register table — every (register, rho_max) row is an
    // exact integer the oracle re-derives from the same md5 bit
    // split — carrying the estimate + exact distinct on each row via
    // two 1-row broadcast scalar joins (the tinySide pattern).
    "q349_hll" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val sk = PipelineOps.hllSketch(li, "l_partkey", p = 6)
      val est = PipelineOps.hllEstimate(sk, p = 6)
      val exact = li.filter(col("l_partkey").isNotNull)
        .agg(countDistinct(col("l_partkey")).cast("long")
          .as("exact_distinct"))
      sk.crossJoin(broadcast(est)).crossJoin(broadcast(exact))
        .select(col("register").cast("long").as("register"),
          col("rho_max").cast("long").as("rho_max"),
          col("m"), col("v_zero"), col("z"), col("hll_estimate"),
          col("exact_distinct"))
    }),

    // theta-sketch set algebra over two KMV sketches: distinct
    // R-orders vs N-orders and their intersection/union/Jaccard,
    // estimated from two 128-row sketches (never the raw keys) —
    // deterministic md5 hashing, so the oracle replays sketch
    // construction AND the theta estimator
    "q351_kmv_setops" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val a = PipelineOps.kmvSketchDf(
        li.filter(col("l_returnflag") === "R"), "l_orderkey", 128)
      val b = PipelineOps.kmvSketchDf(
        li.filter(col("l_returnflag") === "N"), "l_orderkey", 128)
      PipelineOps.kmvSetEstimate(a, b, 128)
    }),

    // per-group HLL distinct users by event type (the "distinct per
    // segment at 100 TB" shape: group × 64 register rows, not group
    // × user sets), joined with the exact per-group answer
    "q352_hll_grouped" -> ((s, d) => {
      val ev = t(s, d, "events")
      val est = PipelineOps.hllEstimateGrouped(
        PipelineOps.hllSketchGrouped(ev, "event_type", "user_id",
          p = 6), p = 6)
      val exact = ev.filter(col("user_id").isNotNull &&
          col("event_type").isNotNull)
        .groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("user_id")).cast("long")
          .as("exact_distinct"))
      est.join(exact, Seq("grp"))
        .select(col("grp").as("event_type"), col("v_zero"),
          col("hll_estimate"), col("exact_distinct"))
    }),

    // TF-IDF top-3 terms per document
    "q98_tfidf" -> ((s, d) =>
      PipelineOps.tfidfTopTerms(t(s, d, "documents"), "text", "doc_id",
        topN = 3)),

    // distributed BPE merge training: 8 merge rounds over the
    // documents word-count vocab (one corpus shuffle, then
    // vocab-bounded rounds; deterministic (count desc, pair asc)
    // tie-break). The oracle replays the ENTIRE training run on a
    // separator-encoded string vocab (' a  b  c '; merge = one
    // non-overlapping replace — the greedy-equivalence is verified
    // in BpeSpec)
    "q348_bpe" -> ((s, d) =>
      graft.llm.CorpusOps.bpeTrain(t(s, d, "documents"), "text",
        merges = 8)),

    // bloom-prefiltered fact-dim join; bloom is transparent to the
    // result, so the oracle is the plain join
    "q99_bloom_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val sup = t(s, d, "supplier").filter(col("s_acctbal") > 5000)
      PipelineOps.bloomPrefilterJoin(li, sup, "l_suppkey", "s_suppkey")
        .groupBy(col("s_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("n_items"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"))
    }),

    // boilerplate word-3-gram detection + per-doc fraction
    "q100_boilerplate" -> ((s, d) =>
      PipelineOps.boilerplateFraction(t(s, d, "documents"), "text",
        "doc_id", n = 3, minDocs = 5L)),

    // exact heavy hitters: part keys with support > n/5000
    "q102_heavy_hitters" -> ((s, d) =>
      PipelineOps.heavyHitters(t(s, d, "lineitem"), "l_partkey", 5000)),

    // salted skew-safe join: salting is transparent to the result,
    // so the oracle is the plain join + aggregate
    "q103_salted_join" -> ((s, d) =>
      graft.ops.SkewOps.saltedJoin(t(s, d, "lineitem"),
          t(s, d, "supplier"), "l_suppkey", "s_suppkey",
          saltFrom = "l_orderkey", salts = 4)
        .groupBy(col("s_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("n_items"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"))),

    // correlation matrix over cents-scaled lineitem measures: one
    // aggregate pass, exact integer sums, portable double formula
    "q104_corr_matrix" -> ((s, d) =>
      graft.stats.StatsOps.corrMatrix(
        t(s, d, "lineitem").select(
          cents(col("l_quantity")).as("qty_c"),
          cents(col("l_extendedprice")).as("price_c"),
          cents(col("l_discount")).as("disc_c")),
        Seq("qty_c", "price_c", "disc_c"))),

    // the Spearman twin of q104: rank maps feed the limb-exact
    // corrMatrix. Price is binned to DOLLARS — the op's documented
    // practice for continuous domains (rank maps stay compact; rank
    // correlation is invariant to the monotone re-binning up to
    // within-dollar ties)
    "q179_spearman_matrix" -> ((s, d) =>
      graft.stats.StatsOps.corrMatrixSpearman(
        t(s, d, "lineitem").select(
          cents(col("l_quantity")).as("qty_c"),
          round(col("l_extendedprice")).cast("long").as("price_d"),
          cents(col("l_discount")).as("disc_c")),
        Seq("qty_c", "price_d", "disc_c"))),

    // benchmark decontamination: corpus docs sharing ≥2 distinct
    // word 5-grams with the deterministic "benchmark" subset
    // (doc_id % 17 = 0) are flagged as eval leakage
    "q110_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      PipelineOps.decontaminate(docs,
        docs.filter(pmod(col("doc_id"), lit(17)) === 0),
        "text", "doc_id", n = 5, minOverlap = 2L)
    }),

    // Gopher-style repetition flags over text with deterministically
    // synthesized duplicate lines (the corpus itself is single-line)
    "q111_repetition" -> ((s, d) =>
      PipelineOps.repetitionFlags(
        t(s, d, "documents").select(col("doc_id"),
          concat(col("text"), lit("\nrepeat line\nrepeat line"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit("\nrepeat line"))
              .otherwise(lit(""))).as("text")),
        "text", "doc_id")),

    // stratified source-mixing sample: per-source keep rates over the
    // portable 48-bit hash (defaultRate for the unlisted strata)
    "q112_stratified_sample" -> ((s, d) =>
      PipelineOps.stratifiedHashSample(t(s, d, "documents"), "doc_id",
        "source", Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultRate = 0.1, salt = "mix1")
        .select("doc_id", "source", "lang")),

    // Morton Z-value for layout clustering (bit-exact across engines)
    "q144_zorder" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .withColumn("z", graft.sources.Sources.zValue2(
          col("l_partkey"), col("l_suppkey")))),

    // pandas crosstab(normalize='index'): row-share contingency
    "q142_crosstab_norm" -> ((s, d) => {
      import graft.ops.PandasOps._
      t(s, d, "lineitem")
        .crosstabNormalized("l_returnflag", "l_linestatus", "index")
    }),

    // pandas expanding().corr + .cov per event type
    "q143_expanding_corr" -> ((s, d) => {
      val base = t(s, d, "events")
        .withColumn("vc", cents(col("value")))
      val c1 = graft.window.RollingOps.rollingCorr(base, "vc", "user_id",
        n = 0, orderCols = Seq("ts", "event_id"),
        partitionCols = Seq("event_type"), minPeriods = 5,
        outName = "exp_corr")
      graft.window.RollingOps.rollingCorr(c1, "vc", "user_id",
          n = 0, orderCols = Seq("ts", "event_id"),
          partitionCols = Seq("event_type"), minPeriods = 5,
          outName = "exp_cov", sampleCov = true, asCov = true)
        .select(col("event_id"), col("event_type"),
          round(col("exp_corr"), 6).as("exp_corr"),
          round(col("exp_cov"), 6).as("exp_cov"))
    }),

    // pandas groupby().cumcount() + ngroup(): position within group
    // and dense group index
    "q141_cumcount" -> ((s, d) => {
      import graft.ops.PandasOps._
      t(s, d, "events")
        .cumcount(Seq("event_type"), Seq("ts", "event_id"))
        .ngroup(Seq("event_type"))
        .select("event_id", "event_type", "cumcount", "ngroup")
    }),

    // group filter (pandas groupby().filter): whole ROWS of groups
    // passing an aggregate predicate survive — verified through
    // row-level aggregates of the filtered frame
    "q119_group_filter" -> ((s, d) => {
      import graft.ops.PandasOps._
      t(s, d, "lineitem")
        .withColumn("qc", cents(col("l_quantity")))
        .groupFilter(Seq("l_suppkey"), sum(col("qc")) > 800000)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_suppkey")).as("n_suppliers"),
          sum(col("qc")).as("sum_qc"))
    }),

    // idxmax/idxmin per group over a collision-free ranking metric
    // (cents * 2^40 + id keeps the argmax unique, so max_by is
    // deterministic and cross-engine comparable)
    "q120_idxmax" -> ((s, d) => {
      val m = cents(col("value")) * lit(1099511627776L) + col("event_id")
      t(s, d, "events")
        .groupBy("event_type")
        .agg(max_by(col("event_id"), m).as("idx_of_max"),
          min_by(col("event_id"), m).as("idx_of_min"))
    }),

    // pivot_table margins=True: All row/column re-aggregate the
    // underlying rows (exact integer cents)
    "q118_pivot_margins" -> ((s, d) => {
      import graft.ops.PandasOps._
      t(s, d, "lineitem")
        .withColumn("qc", cents(col("l_quantity")))
        .pivotTableMargins(Seq("l_returnflag"), "l_linestatus",
          sum(col("qc")), values = Seq("F", "O"))
    }),

    // grouped string concatenation, sorted for determinism
    "q117_string_agg" -> ((s, d) => {
      import graft.ops.PandasOps._
      t(s, d, "events")
        .withColumn("bucket", pmod(col("user_id"), lit(17)))
        .stringAgg(Seq("event_type"), "bucket")
    }),

    // pandas combine_first: patch the even-id slice with the doubled
    // full table — shared column coalesces, extra column passes through
    "q114_combine_first" -> ((s, d) => {
      import graft.ops.PandasOps._
      val ev = t(s, d, "events")
      val a = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id"), col("value").as("v"))
      val b = ev.select(col("event_id"), (col("value") * 2).as("v"),
        col("user_id"))
      a.combineFirst(b, Seq("event_id"))
    }),

    // pandas groupby().sample(n) as a deterministic md5 lottery:
    // 7 events per type, portable across engines
    "q113_group_sample" -> ((s, d) => {
      import graft.ops.PandasOps._
      t(s, d, "events").sampleNPerGroup(Seq("event_type"), "event_id",
          n = 7, salt = "s")
        .select("event_id", "event_type", "user_id")
    }),

    // forward as-of semantics: next signup value at-or-after each
    // event (the forward twin of q41's backward as-of)
    "q107_asof_forward" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      t(s, d, "events")
        .withColumn("next_signup_c",
          first(when(col("event_type") === "signup",
            cents(col("value"))), ignoreNulls = true).over(w))
        .select("event_id", "user_id", "next_signup_c")
    }),

    // regression metrics vs a naive flat-price predictor, from exact
    // cents sums
    "q105_regression_metrics" -> ((s, d) =>
      graft.ml.MlMetrics.regressionMetrics(
        t(s, d, "lineitem").select(
          cents(col("l_extendedprice")).as("y"),
          (cents(col("l_quantity")) * 1000).as("yhat")),
        "y", "yhat")),

    // classification metrics for a deterministic predicate predictor
    "q106_classification_metrics" -> ((s, d) =>
      graft.ml.MlMetrics.classificationMetrics(
        t(s, d, "lineitem").select(
          (col("l_returnflag") === "R").as("label"),
          (col("l_discount") >= 0.05).as("pred")),
        "label", "pred")),

    // REAL media codec round-trip (JDK ImageIO + javax.sound): encode
    // a PNG and a WAV per row from closed-form parameters, decode them
    // back with the production decoders, emit the recovered headers —
    // the oracle states the closed form, so a hash match proves the
    // encode→decode path bit-exactly recovers every parameter
    "q101_media_roundtrip" -> ((s, d) => {
      val ps = t(s, d, "documents").select(col("doc_id"),
        (lit(8) + pmod(col("doc_id"), lit(32))).cast("int").as("w"),
        (lit(8) + pmod(col("doc_id"), lit(24))).cast("int").as("h"),
        (lit(8000) + pmod(col("doc_id"), lit(3)) * 4000).cast("int")
          .as("rate"),
        (lit(1000) + pmod(col("doc_id"), lit(500))).cast("int")
          .as("frames"))
      ps.withColumn("png",
          graft.llm.Multimodal.encodePng(col("w"), col("h")))
        .withColumn("wav",
          graft.llm.Multimodal.encodeWav(col("rate"), col("frames")))
        .select(col("doc_id"),
          graft.llm.Multimodal.decodeImage(col("png")).as("img"),
          graft.llm.Multimodal.decodeWav(col("wav")).as("aud"))
        .select(col("doc_id"),
          col("img.format").as("img_format"),
          col("img.width").cast("long").as("img_w"),
          col("img.height").cast("long").as("img_h"),
          col("aud.sample_rate").cast("long").as("wav_rate"),
          col("aud.channels").cast("long").as("wav_channels"),
          col("aud.frames").cast("long").as("wav_frames"),
          // raw double: frames/rate often lands exactly on a .5
          // round-6 boundary (e.g. 1005/16000), where Spark and
          // DuckDB round opposite ways — both engines compute the
          // identical division, so emit it unrounded
          col("aud.duration_s").as("wav_duration"))
    }),

    // REAL MP4/ISO-BMFF metadata round-trip (the q101 pattern for
    // video): synthesize genuine box structure per row from
    // closed-form parameters, walk it back with the pure-JDK parser,
    // emit brand/timescale/duration/tracks/codecs — the oracle
    // states the closed form, so a hash match proves the box walk
    "q326_mp4_metadata" -> ((s, d) => {
      val ps = t(s, d, "documents").select(col("doc_id"),
        lit(1000).as("ts"),
        (lit(500) + pmod(col("doc_id"), lit(9000)))
          .cast("long").as("dur"),
        (lit(1) + pmod(col("doc_id"), lit(2))).cast("int").as("nt"))
      ps.withColumn("mp4", graft.llm.Multimodal.encodeMp4(
          col("ts"), col("dur"), col("nt")))
        .select(col("doc_id"),
          graft.llm.Multimodal.parseMp4Meta(col("mp4")).as("m"))
        .select(col("doc_id"),
          col("m.brand").as("brand"),
          col("m.timescale").cast("long").as("timescale"),
          col("m.duration_ticks").as("duration_ticks"),
          // raw double (q101 note): x/1000 can land on a round-6
          // boundary; both engines run the identical division
          col("m.duration_s").as("duration_s"),
          col("m.n_tracks").cast("long").as("n_tracks"),
          concat_ws(",", col("m.handlers")).as("handlers"),
          concat_ws(",", col("m.codecs")).as("codecs"))
    }),

    // ROUGE-2 over consecutive-doc pairs (candidate = doc d,
    // reference = doc d+1): clipped bigram overlap, the distributed
    // (id, gram) count-join shape — eval metrics for the training
    // pipeline, fully SQL-replayed
    "q328_rouge2" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pid"),
          col("a.text").as("cand"), col("b.text").as("ref"))
      graft.llm.TextEval.rougeN(pairs, "pid", "cand", "ref", n = 2)
        .withColumnRenamed("precision", "prec")
        .withColumnRenamed("recall", "rec")
        .withColumnRenamed("id", "pid")
    }),

    // sentence BLEU (maxN=4, smoothing 0) over the same pairs:
    // modified precisions, brevity penalty, geometric mean
    "q329_bleu" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pid"),
          col("a.text").as("cand"), col("b.text").as("ref"))
      graft.llm.TextEval.bleu(pairs, "pid", "cand", "ref", maxN = 4)
        .withColumnRenamed("id", "pid")
    }),

    // sentence BLEU with Chen–Cherry smoothing 1 (NLTK method1,
    // ε=0.1): zero clipped counts become ε/c_tot, so short or
    // low-overlap candidates score > 0 — the sacrebleu-style default
    "q331_bleu_smooth" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pid"),
          col("a.text").as("cand"), col("b.text").as("ref"))
      graft.llm.TextEval.bleu(pairs, "pid", "cand", "ref", maxN = 4,
          smoothing = 1)
        .withColumnRenamed("id", "pid")
    }),

    // Chen-Cherry smoothing method 2: add-one on both clipped count
    // and total for every n >= 2 (p1 raw, so an all-miss unigram
    // still zeroes the score)
    "q389_bleu_smooth2" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pid"),
          col("a.text").as("cand"), col("b.text").as("ref"))
      graft.llm.TextEval.bleu(pairs, "pid", "cand", "ref", maxN = 4,
          smoothing = 2)
        .withColumnRenamed("id", "pid")
    }),

    // Chen-Cherry smoothing method 3 (NLTK method3, the sacrebleu
    // exp-decay family): the k-th zero precision in n order becomes
    // 1/(2^k * c_n)
    "q390_bleu_smooth3" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pid"),
          col("a.text").as("cand"), col("b.text").as("ref"))
      graft.llm.TextEval.bleu(pairs, "pid", "cand", "ref", maxN = 4,
          smoothing = 3)
        .withColumnRenamed("id", "pid")
    }),

    // BLEU with Chen–Cherry smoothing 4 (NLTK method4, K = 5):
    // method 3's exponential floor scaled by ln(candidate length) —
    // completes the smoothing family 0–4
    "q443_bleu_smooth4" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 2)
        .select(col("a.doc_id").as("pid"),
          col("a.text").as("cand"), col("b.text").as("ref"))
      graft.llm.TextEval.bleu(pairs, "pid", "cand", "ref", maxN = 4,
          smoothing = 4)
        .withColumnRenamed("id", "pid")
    }),

    // Self-BLEU corpus-diversity metric (Zhu et al. 2018): each doc
    // as a multi-reference BLEU candidate against its next 3
    // neighbors — max-over-refs clipping, closest-ref-length brevity
    "q340_self_bleu" -> ((s, d) =>
      graft.llm.TextEval.selfBleu(t(s, d, "documents"), "doc_id",
        "text", k = 3)),

    // WER over adjacent-doc pairs: TOKEN-level Levenshtein via the
    // codegen'd WordLevenshtein expression (Spark's builtin is
    // char-level) / reference length. Texts truncated to their first
    // 25 tokens so the oracle's bijective word→char encoding stays in
    // a compact codepoint range (edit distance is invariant under
    // bijective relabeling — the oracle maps each pair's ≤50-word
    // vocab to single-byte chr(33+i) — DuckDB levenshtein is
    // BYTE-level, so the encoding must stay ASCII);
    // the operator itself takes full texts.
    "q345_wer" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def trunc(c: org.apache.spark.sql.Column) = concat_ws(" ", slice(
        graft.functions.TextFunctions.tokens(c), 1, 25))
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pid"),
          trunc(col("a.text")).as("cand"),
          trunc(col("b.text")).as("ref"))
      graft.llm.TextEval.wer(pairs, "pid", "cand", "ref")
    }),

    // chrF (Popović 2015): character n-gram F-score, n=1..6, β=2 —
    // the third sacrebleu metric (BLEU q329, corpus BLEU q336)
    "q338_chrf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pid"),
          col("a.text").as("cand"), col("b.text").as("ref"))
      graft.llm.TextEval.chrF(pairs, "pid", "cand", "ref")
        .withColumnRenamed("id", "pid")
    }),

    // CORPUS-level BLEU (sacrebleu default): clipped counts summed
    // over all pairs before the ratio, corpus-total brevity penalty
    "q336_corpus_bleu" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = docs.as("a").join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pid"),
          col("a.text").as("cand"), col("b.text").as("ref"))
      graft.llm.TextEval.corpusBleu(pairs, "pid", "cand", "ref",
        maxN = 4)
    }),

    // corpus analytics (round-3 additions, graft.llm.CorpusOps)

    // DSIR importance weights toward src0 as the target slice
    "q201_dsir_weights" -> ((s, d) =>
      graft.llm.CorpusOps.dsirWeights(
        t(s, d, "documents")
          .withColumn("is_t", col("source") === "src0"),
        "text", "doc_id", "is_t", nBuckets = 1024)),

    // pairwise 3-gram Jaccard between sources
    "q202_source_overlap" -> ((s, d) =>
      graft.llm.CorpusOps.sourceNgramOverlap(
        t(s, d, "documents"), "text", "source", n = 3)),

    // Zipf power-law fit over the top-100 terms
    "q203_zipf" -> ((s, d) =>
      graft.llm.CorpusOps.zipfFit(t(s, d, "documents"), "text",
        topK = 100)),

    // per-source lexical diversity (TTR, hapax share, Heaps beta)
    "q204_lexical_stats" -> ((s, d) =>
      graft.llm.CorpusOps.lexicalStats(t(s, d, "documents"), "text",
        "source")),

    // temperature-weighted source mixing (alpha-sampling): kept
    // counts per event type at alpha=0.5, target 40%
    "q214_alpha_mix" -> ((s, d) =>
      graft.llm.PipelineOps.alphaSampleMix(
        t(s, d, "events").select(col("event_type"), col("event_id")),
        "event_type", "event_id", alpha = 0.5, targetFrac = 0.4)
        .groupBy("event_type").agg(count(lit(1)).as("n_kept"))),

    // adjacent-bigram PMI collocations over the corpus
    // capped water-filling budget allocation across sources
    // (weight = doc count, cap = total chars, 1M-char budget)
    "q310_budget_alloc" -> ((s, d) =>
      graft.llm.PipelineOps.budgetAllocation(
        t(s, d, "documents").filter(col("source").isNotNull)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars")),
        "source", "n_docs", "chars", budget = 1000000.0)
        .orderBy("source")),

    // on-cluster word-embedding training (MLlib Word2Vec skip-gram;
    // rows-only — SGD internals; neighborhood-structure spec'd).
    // Gate output is projected to sortable SCALARS (word, rounded
    // L2 norm) — the raw array<float> vector column crashes the
    // driver's pandas row-sorter (round-4 verdict item 1).
    "q297_word2vec" -> ((s, d) =>
      graft.llm.CorpusOps.word2vec(
        t(s, d, "documents"), "text", dim = 8, minCount = 10)
        .select(col("word"),
          round(sqrt(aggregate(col("vector"), lit(0.0d),
            (acc, x) => acc + x * x)), 6).as("l2_norm"))),

    // RAKE keyword extraction: top-20 stopword-delimited phrases by
    // deg/freq word scores, appearing >= 3 times
    "q289_rake" -> ((s, d) =>
      graft.llm.PipelineOps.rakeKeywords(
        t(s, d, "documents"), "text", "doc_id",
        QueriesPipeline.rakeStops, topN = 20, minPhraseCount = 3L)),

    "q232_pmi" -> ((s, d) =>
      graft.llm.PipelineOps.pmiCollocations(t(s, d, "documents"),
        "text", minCount = 50L)),

    // Okapi BM25 top-10 docs for a 3-term query
    "q233_bm25" -> ((s, d) =>
      graft.llm.PipelineOps.bm25Rank(t(s, d, "documents"), "text",
        "doc_id", Seq("join", "window", "scan"), topN = 10)),

    // deterministic weighted sample (A-ES, weight = doc length)
    "q234_weighted_sample" -> ((s, d) =>
      graft.llm.PipelineOps.weightedSample(t(s, d, "documents"),
        "doc_id", "n_chars", n = 100, salt = "w1")
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // deterministic stratified sample: 6 docs per language by the
    // portable 48-bit md5 lottery
    "q235_stratified_sample" -> ((s, d) =>
      graft.llm.PipelineOps.stratifiedSample(t(s, d, "documents"),
        "lang", "doc_id", nPerStratum = 6, salt = "z")
        .select(col("doc_id"), col("lang"), col("source"))),

    // expectation-suite row checks over lineitem in ONE scan:
    // three named predicates -> (check, n_rows, n_violations, ppm)
    "q236_row_checks" -> ((s, d) =>
      graft.ops.DataChecks.rowChecks(t(s, d, "lineitem"), Seq(
        "qty_le_45" -> (col("l_quantity") <= 45),
        "disc_lt_tax" -> (col("l_discount") < col("l_tax")),
        "price_pos" -> (col("l_extendedprice") > 0)))),

    // key-uniqueness check: every repeat of an o_custkey beyond the
    // first is a violation
    "q237_unique_check" -> ((s, d) =>
      graft.ops.DataChecks.uniqueCheck(t(s, d, "orders"),
        Seq("o_custkey"), "cust_unique")),

    // referential integrity: lineitem suppliers vs a deliberately
    // holed parent (every 3rd supplier dropped) -> ~1/3 orphans
    "q238_ref_integrity" -> ((s, d) =>
      graft.ops.DataChecks.refIntegrityCheck(
        t(s, d, "lineitem"), "l_suppkey",
        t(s, d, "supplier").filter(pmod(col("s_suppkey"), lit(3)) =!= 0),
        "s_suppkey", "supp_fk")))

  // q442: the stump-forest twin's candidate grid (the SAME schedule
  // the Scala twin builds: tree t mod 3 -> 2-feature subset, fixed
  // per-feature threshold grids) inlined as VALUES, plus the two
  // argmax levels as windowed CTEs
  private val forestTwinOracle: String = {
    val candRows = (for {
      t <- 0 until 5
      f <- Seq(Seq(0, 1), Seq(1, 2), Seq(0, 2))(t % 3)
      thr <- Seq(0 to 5, 0 to 22, 0 to 8)(f)
    } yield s"($t,$f,$thr)").mkString(",")
    def scoreCte(src: String, keys: String) =
      s"""SELECT $keys, feat, thr,
         |    CAST(sum(CASE WHEN fv <= thr THEN n ELSE 0 END)
         |      AS BIGINT) AS nl,
         |    CAST(sum(CASE WHEN fv <= thr THEN pos ELSE 0 END)
         |      AS BIGINT) AS pl,
         |    CAST(sum(CASE WHEN fv > thr THEN n ELSE 0 END)
         |      AS BIGINT) AS nr,
         |    CAST(sum(CASE WHEN fv > thr THEN pos ELSE 0 END)
         |      AS BIGINT) AS pr
         |  FROM (SELECT l.*, c.feat, c.thr,
         |      CASE WHEN c.feat = 0 THEN l.f0
         |           WHEN c.feat = 1 THEN l.f1 ELSE l.f2 END AS fv
         |    FROM $src l JOIN cand c ON c.tree = l.tree)
         |  GROUP BY ALL""".stripMargin
    def argmaxCte(src: String, part: String) =
      s"""SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY $part
         |      ORDER BY score DESC, feat ASC, thr ASC) AS rn
         |  FROM (SELECT *,
         |      round(CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE)
         |          / nl +
         |        CAST(pr * pr + (nr - pr) * (nr - pr) AS DOUBLE)
         |          / nr, 9) AS score
         |    FROM $src WHERE nl > 0 AND nr > 0))
         |  WHERE rn = 1""".stripMargin
    s"""WITH base AS (
       |  SELECT CAST(event_id AS VARCHAR) AS id,
       |    CAST(user_id % 7 AS BIGINT) AS f0,
       |    CAST(hour(ts) AS BIGINT) AS f1,
       |    least(greatest(CAST(floor(value / 10.0) AS BIGINT), 0), 9)
       |      AS f2,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
       |  FROM events
       |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
       |    AND ts IS NOT NULL AND value IS NOT NULL
       |    AND event_type IS NOT NULL),
       |bags AS (
       |  SELECT CAST(t.tree AS BIGINT) AS tree, b.*
       |  FROM base b CROSS JOIN range(0, 5) t(tree)
       |  WHERE ${h48("b.id || '-' || CAST(t.tree AS VARCHAR) " +
        "|| 'bf8'")} < 0.7),
       |cells AS (
       |  SELECT tree, f0, f1, f2, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS pos
       |  FROM bags GROUP BY ALL),
       |cand AS (
       |  SELECT CAST(tree AS BIGINT) AS tree,
       |    CAST(feat AS BIGINT) AS feat, CAST(thr AS BIGINT) AS thr
       |  FROM (VALUES $candRows) v(tree, feat, thr)),
       |rootsc AS (${scoreCte("cells", "tree")}),
       |roots AS (${argmaxCte("rootsc", "tree")}),
       |sided AS (
       |  SELECT l.tree, l.f0, l.f1, l.f2, l.n, l.pos,
       |    CASE WHEN (CASE WHEN r.feat = 0 THEN l.f0
       |      WHEN r.feat = 1 THEN l.f1 ELSE l.f2 END) <= r.thr
       |      THEN 'l' ELSE 'r' END AS side
       |  FROM cells l JOIN roots r ON r.tree = l.tree),
       |childsc AS (${scoreCte("sided", "tree, side")}),
       |childs AS (${argmaxCte("childsc", "tree, side")}),
       |leaves AS (
       |  SELECT s.tree,
       |    s.side || (CASE WHEN (CASE WHEN c.feat = 0 THEN s.f0
       |      WHEN c.feat = 1 THEN s.f1 ELSE s.f2 END) <= c.thr
       |      THEN 'l' ELSE 'r' END) AS leaf,
       |    CAST(sum(s.n) AS BIGINT) AS n,
       |    CAST(sum(s.pos) AS BIGINT) AS n_pos
       |  FROM sided s JOIN childs c
       |    ON c.tree = s.tree AND c.side = s.side
       |  GROUP BY ALL)
       |SELECT tree, 'root' AS node, feat AS feature,
       |  thr AS threshold, score, nl + nr AS n, pl + pr AS n_pos,
       |  CAST(NULL AS BOOLEAN) AS pred
       |FROM roots
       |UNION ALL
       |SELECT tree, side, feat, thr, score, nl + nr, pl + pr,
       |  CAST(NULL AS BOOLEAN)
       |FROM childs
       |UNION ALL
       |SELECT tree, leaf, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |  CAST(NULL AS DOUBLE), n, n_pos, n_pos * 2 > n
       |FROM leaves""".stripMargin
  }

  // q444: the AFT Newton twin — planted Weibull construction plus
  // one (per-row, aggregate, solve) CTE triple per unrolled round,
  // mirroring MlOps.aftNewtonTwin exactly
  private val aftTwinOracle: String = {
    def cell(term: String, name: String) =
      s"CAST(sum(CAST(round($term, 12) AS DECIMAL(38,12))) " +
        s"AS DOUBLE) AS $name"
    val dt = "((a11 + 1e-6) * ((a22 + 1e-6) * (a33 + 1e-6) " +
      "- a23 * a23) - a12 * (a12 * (a33 + 1e-6) - a23 * a13) " +
      "+ a13 * (a12 * a23 - (a22 + 1e-6) * a13))"
    def newtonCtes(i: Int): String = {
      val prev = if (i == 1) "t0c" else s"t${i - 1}"
      s"""w$i AS (
         |  SELECT t.n, t.b0, t.b1, t.u, b.x, b.d,
         |    round(exp(t.u), 9) AS sg,
         |    (b.lnt - t.b0 - t.b1 * b.x) / round(exp(t.u), 9) AS eps,
         |    least(round(exp((b.lnt - t.b0 - t.b1 * b.x) /
         |      round(exp(t.u), 9)), 9), 1e12) AS ee
         |  FROM base b CROSS JOIN $prev t),
         |g$i AS (
         |  SELECT n, b0, b1, u,
         |    ${cell("(ee - d) / sg", "g1")},
         |    ${cell("(ee - d) / sg * x", "g2")},
         |    ${cell("eps * (ee - d) - d", "g3")},
         |    ${cell("ee / (sg * sg)", "a11")},
         |    ${cell("ee / (sg * sg) * x", "a12")},
         |    ${cell("(eps * ee + ee - d) / sg", "a13")},
         |    ${cell("ee / (sg * sg) * x * x", "a22")},
         |    ${cell("(eps * ee + ee - d) / sg * x", "a23")},
         |    ${cell("eps * (ee - d) + eps * eps * ee", "a33")}
         |  FROM w$i GROUP BY 1, 2, 3, 4),
         |s$i AS (
         |  SELECT n, b0, b1, u,
         |    (g1 * ((a22 + 1e-6) * (a33 + 1e-6) - a23 * a23) -
         |      a12 * (g2 * (a33 + 1e-6) - a23 * g3) +
         |      a13 * (g2 * a23 - (a22 + 1e-6) * g3)) / $dt AS d1,
         |    ((a11 + 1e-6) * (g2 * (a33 + 1e-6) - a23 * g3) -
         |      g1 * (a12 * (a33 + 1e-6) - a23 * a13) +
         |      a13 * (a12 * g3 - g2 * a13)) / $dt AS d2,
         |    ((a11 + 1e-6) * ((a22 + 1e-6) * g3 - g2 * a23) -
         |      a12 * (a12 * g3 - g2 * a13) +
         |      g1 * (a12 * a23 - (a22 + 1e-6) * a13)) / $dt AS d3
         |  FROM g$i),
         |t$i AS (
         |  SELECT n,
         |    round(b0 + d1 * least(1.0, 0.5 /
         |      greatest(abs(d1), abs(d2), abs(d3))), 12) AS b0,
         |    round(b1 + d2 * least(1.0, 0.5 /
         |      greatest(abs(d1), abs(d2), abs(d3))), 12) AS b1,
         |    round(u + d3 * least(1.0, 0.5 /
         |      greatest(abs(d1), abs(d2), abs(d3))), 12) AS u
         |  FROM s$i)""".stripMargin
    }
    val key = "CAST(c_custkey AS VARCHAR)"
    s"""WITH c0 AS (
       |  SELECT CAST(c_custkey % 5 AS DOUBLE) * 0.2 AS x,
       |    greatest(${h48(s"$key || 'aftu'")}, 1e-12) AS uu,
       |    ${h48(s"$key || 'aftc'")} < 0.8 AS ev
       |  FROM customer),
       |c1 AS (
       |  SELECT x, ev,
       |    round(exp(0.5 + 0.8 * x +
       |      0.4 * round(ln(-ln(1.0 - uu)), 9)), 9) AS t0
       |  FROM c0),
       |c2 AS (
       |  SELECT x,
       |    CASE WHEN ev THEN t0 ELSE round(t0 * 0.6, 9) END AS t,
       |    CASE WHEN ev THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(0.0 AS DOUBLE) END AS d
       |  FROM c1),
       |base AS (
       |  SELECT round(ln(t), 9) AS lnt, x, d FROM c2 WHERE t > 0),
       |t0c AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    round(CAST(sum(CAST(round(lnt, 12) AS DECIMAL(38,12)))
       |      AS DOUBLE) / count(*), 12) AS b0,
       |    CAST(0.0 AS DOUBLE) AS b1, CAST(0.0 AS DOUBLE) AS u
       |  FROM base),
       |${(1 to 6).map(newtonCtes).mkString(",\n")}
       |SELECT CAST(6 AS BIGINT) AS n_rounds, n, b0, b1,
       |  u AS ln_sigma, round(exp(u), 9) AS sigma
       |FROM t6""".stripMargin
  }

  // q445: the AutoML twin — ONE aggregate of train/test sufficient
  // statistics, Cramer fits, algebraic holdout SSE, argmin-by-name
  private val autoMlTwinOracle: String = {
    def cell(term: String, name: String) =
      "CAST(sum(CAST(round(CASE WHEN is_test = " +
        s"${if (name.startsWith("t")) "true" else "false"} " +
        s"THEN $term ELSE 0.0 END, 12) AS DECIMAL(38,12))) " +
        s"AS DOUBLE) AS $name"
    def rmse(b0: String, b1: String, b2: String) =
      s"round(sqrt(greatest(tyy - 2.0 * $b0 * ty - 2.0 * $b1 * t1y" +
        s" - 2.0 * $b2 * t2y + $b0 * $b0 * nte" +
        s" + 2.0 * $b0 * $b1 * tx1 + 2.0 * $b0 * $b2 * tx2" +
        s" + $b1 * $b1 * t11 + 2.0 * $b1 * $b2 * t12" +
        s" + $b2 * $b2 * t22, 0.0) / nte), 9)"
    val dt = "((ntr + 1e-6) * ((s11 + 1e-6) * (s22 + 1e-6) " +
      "- s12 * s12) - sx1 * (sx1 * (s22 + 1e-6) - s12 * sx2) " +
      "+ sx2 * (sx1 * s12 - (s11 + 1e-6) * sx2))"
    val minv = "least(rmse_mean, rmse_lin1, rmse_lin2)"
    s"""WITH planted AS (
       |  SELECT c_custkey AS id,
       |    CAST(c_custkey % 10 AS DOUBLE) AS x1,
       |    CAST((c_custkey // 10) % 8 AS DOUBLE) AS x2,
       |    3.0 + 2.0 * CAST(c_custkey % 10 AS DOUBLE)
       |      - CAST((c_custkey // 10) % 8 AS DOUBLE)
       |      + (${h48("CAST(c_custkey AS VARCHAR) || 'amln'")}
       |        - 0.5) * 2.0 AS y
       |  FROM customer),
       |base AS (
       |  SELECT y, x1, x2,
       |    coalesce(${h48("CAST(id AS VARCHAR) || 'amt'")}, 1.0)
       |      < 0.25 AS is_test
       |  FROM planted
       |  WHERE y IS NOT NULL AND x1 IS NOT NULL AND x2 IS NOT NULL),
       |s AS (
       |  SELECT
       |    CAST(sum(CASE WHEN NOT is_test THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ntr,
       |    CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nte,
       |    ${cell("y", "sy")}, ${cell("x1", "sx1")},
       |    ${cell("x2", "sx2")}, ${cell("x1 * x1", "s11")},
       |    ${cell("x1 * x2", "s12")}, ${cell("x2 * x2", "s22")},
       |    ${cell("x1 * y", "s1y")}, ${cell("x2 * y", "s2y")},
       |    ${cell("y", "ty")}, ${cell("x1", "tx1")},
       |    ${cell("x2", "tx2")}, ${cell("x1 * x1", "t11")},
       |    ${cell("x1 * x2", "t12")}, ${cell("x2 * x2", "t22")},
       |    ${cell("x1 * y", "t1y")}, ${cell("x2 * y", "t2y")},
       |    ${cell("y * y", "tyy")}
       |  FROM base),
       |b AS (
       |  SELECT *,
       |    round(sy / ntr, 12) AS mb0,
       |    round((sy * (s11 + 1e-6) - sx1 * s1y) /
       |      ((ntr + 1e-6) * (s11 + 1e-6) - sx1 * sx1), 12) AS b01,
       |    round(((ntr + 1e-6) * s1y - sy * sx1) /
       |      ((ntr + 1e-6) * (s11 + 1e-6) - sx1 * sx1), 12) AS b11,
       |    round((sy * ((s11 + 1e-6) * (s22 + 1e-6) - s12 * s12) -
       |      sx1 * (s1y * (s22 + 1e-6) - s12 * s2y) +
       |      sx2 * (s1y * s12 - (s11 + 1e-6) * s2y)) / $dt, 12)
       |      AS b02,
       |    round(((ntr + 1e-6) * (s1y * (s22 + 1e-6) - s12 * s2y) -
       |      sy * (sx1 * (s22 + 1e-6) - s12 * sx2) +
       |      sx2 * (sx1 * s2y - s1y * sx2)) / $dt, 12) AS b12,
       |    round(((ntr + 1e-6) * ((s11 + 1e-6) * s2y - s1y * s12) -
       |      sx1 * (sx1 * s2y - s1y * sx2) +
       |      sy * (sx1 * s12 - (s11 + 1e-6) * sx2)) / $dt, 12)
       |      AS b22
       |  FROM s),
       |sc AS (
       |  SELECT ntr, nte,
       |    ${rmse("mb0", "0.0", "0.0")} AS rmse_mean,
       |    ${rmse("b01", "b11", "0.0")} AS rmse_lin1,
       |    ${rmse("b02", "b12", "b22")} AS rmse_lin2
       |  FROM b)
       |SELECT 'linear_x1' AS model, ntr AS n_train, nte AS n_test,
       |  rmse_lin1 AS rmse, rmse_lin1 = $minv AS selected FROM sc
       |UNION ALL
       |SELECT 'linear_x1_x2', ntr, nte, rmse_lin2,
       |  rmse_lin2 = $minv AND NOT (rmse_lin1 = $minv) FROM sc
       |UNION ALL
       |SELECT 'mean', ntr, nte, rmse_mean,
       |  rmse_mean = $minv AND NOT (rmse_lin1 = $minv)
       |    AND NOT (rmse_lin2 = $minv) FROM sc""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "q442_forest_twin" -> forestTwinOracle,

    "q444_aft_twin" -> aftTwinOracle,

    "q445_automl_twin" -> autoMlTwinOracle,

    "q446_ppmi_embed" ->
      raw"""WITH toks AS (
        |  SELECT list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS l
        |  FROM documents WHERE text IS NOT NULL),
        |p1 AS (
        |  SELECT z[1] AS w, z[2] AS c FROM (
        |    SELECT unnest(list_zip(l, l[2:])) AS z
        |    FROM toks WHERE len(l) >= 2) q
        |  WHERE z[2] IS NOT NULL),
        |p2 AS (
        |  SELECT z[1] AS w, z[2] AS c FROM (
        |    SELECT unnest(list_zip(l, l[3:])) AS z
        |    FROM toks WHERE len(l) >= 3) q
        |  WHERE z[2] IS NOT NULL),
        |pairs AS (SELECT w, c FROM p1 UNION ALL
        |          SELECT w, c FROM p2),
        |sym AS (SELECT w, c FROM pairs UNION ALL
        |        SELECT c AS w, w AS c FROM pairs),
        |nwc AS (SELECT w, c, CAST(count(*) AS BIGINT) AS nwc
        |        FROM sym GROUP BY 1, 2),
        |nw AS (SELECT w, CAST(sum(nwc) AS BIGINT) AS nw
        |       FROM nwc GROUP BY 1),
        |ncm AS (SELECT c, CAST(sum(nwc) AS BIGINT) AS nc
        |        FROM nwc GROUP BY 1),
        |tot AS (SELECT CAST(sum(nwc) AS BIGINT) AS nn FROM nwc),
        |ppos AS (
        |  SELECT * FROM (
        |    SELECT x.w, x.c,
        |      round(ln((CAST(x.nwc AS DOUBLE) * t.nn) /
        |        (CAST(a.nw AS DOUBLE) * b.nc)), 9) AS pp
        |    FROM nwc x JOIN nw a ON a.w = x.w
        |    JOIN ncm b ON b.c = x.c CROSS JOIN tot t)
        |  WHERE pp > 0),
        |dims AS (SELECT c FROM ncm ORDER BY nc DESC, c ASC LIMIT 32),
        |vecs AS (SELECT p.w, p.c, p.pp
        |         FROM ppos p JOIN dims d ON d.c = p.c),
        |norms0 AS (
        |  SELECT w, CAST(sum(CAST(round(pp * pp, 12)
        |    AS DECIMAL(38,12))) AS DOUBLE) AS n2
        |  FROM vecs GROUP BY 1),
        |norms AS (SELECT * FROM norms0 WHERE n2 > 0),
        |focust AS (SELECT w AS f FROM nw
        |           ORDER BY nw DESC, w ASC LIMIT 10),
        |fv AS (SELECT t.f, v.c, v.pp AS pf
        |       FROM vecs v JOIN focust t ON v.w = t.f),
        |cand AS (SELECT v.w, v.c, v.pp FROM vecs v
        |         JOIN nw a ON a.w = v.w AND a.nw >= 5),
        |dots AS (
        |  SELECT fv.f, cand.w,
        |    CAST(sum(CAST(round(fv.pf * cand.pp, 12)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS dot
        |  FROM fv JOIN cand ON cand.c = fv.c
        |  WHERE cand.w <> fv.f GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.f, d.w,
        |    round(d.dot / (sqrt(nf.n2) * sqrt(nn2.n2)), 9) AS cosine
        |  FROM dots d JOIN norms nf ON nf.w = d.f
        |  JOIN norms nn2 ON nn2.w = d.w),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY f
        |    ORDER BY cosine DESC, w ASC) AS rank FROM scored)
        |SELECT f AS focus_word, CAST(rank AS BIGINT) AS rank,
        |  w AS neighbor, cosine
        |FROM rk WHERE rank <= 3""".stripMargin,

    "q454_lm_perplexity" ->
      raw"""WITH toks AS (
        |  SELECT doc_id,
        |    (${h48("doc_id::VARCHAR || '#lm'")}) < 0.7 AS tr,
        |    list_filter(
        |      regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> length(x) > 0) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, tr, tk[i] AS w1,
        |    tk[i] || ' ' || tk[i+1] AS big
        |  FROM toks, unnest(range(1, CAST(len(tk) AS INT))) AS t(i)),
        |bc AS (SELECT big, count(*) AS cb FROM bg WHERE tr GROUP BY 1),
        |uc AS (SELECT w1, count(*) AS cu FROM bg WHERE tr GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w1) AS DOUBLE) AS vv
        |  FROM bg WHERE tr),
        |sc AS (
        |  SELECT g.doc_id,
        |    CAST(round(ln((CAST(coalesce(bc.cb, 0) AS DOUBLE) + 1.0)
        |      / (CAST(coalesce(uc.cu, 0) AS DOUBLE) + v.vv)), 12)
        |      AS DECIMAL(38,12)) AS lp
        |  FROM bg g LEFT JOIN bc USING (big)
        |  LEFT JOIN uc USING (w1) CROSS JOIN v
        |  WHERE NOT g.tr),
        |ag AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(lp) AS DOUBLE) / count(*) AS av
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(ag.n_bigrams, 0) AS n_bigrams,
        |  round(ag.av, 9) AS avg_logprob,
        |  round(exp(-ag.av), 6) AS perplexity
        |FROM (SELECT DISTINCT doc_id FROM toks WHERE NOT tr) d
        |LEFT JOIN ag USING (doc_id)""".stripMargin,

    "q455_lm_kneser_ney" ->
      raw"""WITH toks AS (
        |  SELECT doc_id,
        |    (${h48("doc_id::VARCHAR || '#lm'")}) < 0.7 AS tr,
        |    list_filter(
        |      regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> length(x) > 0) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, tr, tk[i] AS w1, tk[i+1] AS w2,
        |    tk[i] || ' ' || tk[i+1] AS big
        |  FROM toks, unnest(range(1, CAST(len(tk) AS INT))) AS t(i)),
        |bc AS (SELECT big, count(*) AS cb FROM bg WHERE tr GROUP BY 1),
        |cx AS (SELECT w1, count(*) AS cu,
        |    count(DISTINCT big) AS n1f
        |  FROM bg WHERE tr GROUP BY 1),
        |ct AS (SELECT w2, count(DISTINCT w1) AS n1b
        |  FROM bg WHERE tr GROUP BY 1),
        |tt AS (SELECT CAST(count(DISTINCT big) AS DOUBLE) AS bb,
        |    CAST(count(DISTINCT w1) AS DOUBLE) AS vv
        |  FROM bg WHERE tr),
        |sc AS (
        |  SELECT g.doc_id,
        |    CAST(round(ln(CASE WHEN cx.cu IS NOT NULL THEN
        |      greatest(CAST(coalesce(bc.cb, 0) AS DOUBLE) - 0.75, 0.0)
        |        / CAST(cx.cu AS DOUBLE)
        |      + ((0.75 * CAST(cx.n1f AS DOUBLE))
        |          / CAST(cx.cu AS DOUBLE))
        |        * ((CAST(coalesce(ct.n1b, 0) AS DOUBLE) + 1.0)
        |            / (tt.bb + tt.vv))
        |      ELSE (CAST(coalesce(ct.n1b, 0) AS DOUBLE) + 1.0)
        |            / (tt.bb + tt.vv) END), 12)
        |      AS DECIMAL(38,12)) AS lp
        |  FROM bg g LEFT JOIN bc USING (big)
        |  LEFT JOIN cx USING (w1) LEFT JOIN ct USING (w2)
        |  CROSS JOIN tt
        |  WHERE NOT g.tr),
        |ag AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(lp) AS DOUBLE) / count(*) AS av
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(ag.n_bigrams, 0) AS n_bigrams,
        |  round(ag.av, 9) AS avg_logprob,
        |  round(exp(-ag.av), 6) AS perplexity
        |FROM (SELECT DISTINCT doc_id FROM toks WHERE NOT tr) d
        |LEFT JOIN ag USING (doc_id)""".stripMargin,

    "q456_html_strip" ->
      raw"""$htmlSqlCte,
        |links AS (SELECT doc_id,
        |    regexp_extract_all(html, 'href="([^"]*)"', 1) AS ls
        |  FROM html),
        |clean AS (SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<', 'g'),
        |      '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'),
        |      '&nbsp;', ' ', 'g'),
        |      '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS text_clean
        |  FROM html)
        |SELECT c.doc_id, c.text_clean,
        |  CAST(len(l.ls) AS BIGINT) AS n_links,
        |  array_to_string(l.ls, '|') AS links_joined
        |FROM clean c JOIN links l USING (doc_id)""".stripMargin,

    "q457_link_graph" ->
      raw"""$htmlSqlCte,
        |lk AS (SELECT doc_id, url,
        |    unnest(regexp_extract_all(html, 'href="([^"]*)"', 1))
        |      AS link
        |  FROM html),
        |hosts AS (SELECT
        |    string_split(${hostSql("url")}, '.') AS sl,
        |    string_split(${hostSql("link")}, '.') AS dl
        |  FROM lk),
        |doms AS (SELECT
        |  ${regDomSql("sl")} AS src_domain,
        |  ${regDomSql("dl")} AS dst_domain
        |  FROM hosts)
        |SELECT src_domain, dst_domain,
        |  CAST(count(*) AS BIGINT) AS n_links
        |FROM doms GROUP BY 1, 2""".stripMargin,

    "q458_url_canonical" ->
      raw"""$urlsSqlCte,
        |messy AS (
        |  SELECT doc_id, url,
        |    (${h48("doc_id::VARCHAR || '#m1'")}) < 0.5 AS m1,
        |    (${h48("doc_id::VARCHAR || '#m2'")}) < 0.5 AS m2,
        |    (${h48("doc_id::VARCHAR || '#m3'")}) < 0.5 AS m3,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS h,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
        |    regexp_extract(url, '\?([^#]*)', 1) AS qref
        |  FROM urls),
        |mv AS (
        |  SELECT doc_id, url,
        |    CASE WHEN m3 THEN
        |      CASE WHEN qref = '' THEN 'utm_source=news'
        |           ELSE qref || '&utm_source=news' END
        |    ELSE qref END AS params,
        |    m1, m2, h, pth
        |  FROM messy),
        |allu AS (
        |  SELECT url FROM urls
        |  UNION ALL
        |  SELECT (CASE WHEN m1 THEN 'HTTPS' ELSE 'https' END ||
        |    '://' || (CASE WHEN m1 THEN upper(h) ELSE h END) ||
        |    (CASE WHEN m2 THEN ':443' ELSE '' END) || pth ||
        |    (CASE WHEN params = '' THEN ''
        |          ELSE '?' || params END)) AS url
        |  FROM mv),
        |kq AS (
        |  SELECT url, list_sort(list_filter(
        |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |      x -> length(x) > 0 AND NOT regexp_matches(x,
        |        '^(utm_[^=]*|fbclid|gclid|ref|mc_cid|mc_eid)=')))
        |    AS kept
        |  FROM allu),
        |canon AS (
        |  SELECT url AS raw,
        |    regexp_extract(lower(url),
        |      '^([a-z][a-z0-9+.-]*)://', 1) || '://' ||
        |    regexp_replace(regexp_extract(lower(url),
        |      '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
        |      ':(80|443)$$', '') ||
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) ||
        |    CASE WHEN len(kept) > 0
        |      THEN '?' || array_to_string(kept, '&') ELSE '' END
        |    AS cu
        |  FROM kq)
        |SELECT cu AS url_canonical,
        |  CAST(count(*) AS BIGINT) AS n_variants,
        |  min(raw) AS keeper
        |FROM canon GROUP BY 1""".stripMargin,

    "q470_url_identity" ->
      raw"""$urlsSqlCte,
        |cn AS (
        |  SELECT doc_id, url,
        |    CASE WHEN (${h48("doc_id::VARCHAR || '#cn'")}) < 0.4
        |      THEN 'https://canon.example.com/doc/' || doc_id
        |      ELSE '' END AS canonical_href
        |  FROM urls),
        |pick AS (
        |  SELECT doc_id, canonical_href <> '' AS has_canonical,
        |    CASE WHEN canonical_href <> '' THEN canonical_href
        |         ELSE url END AS u
        |  FROM cn),
        |kq AS (
        |  SELECT doc_id, has_canonical, u, list_sort(list_filter(
        |      string_split(regexp_extract(u, '\?([^#]*)', 1), '&'),
        |      x -> length(x) > 0 AND NOT regexp_matches(x,
        |        '^(utm_[^=]*|fbclid|gclid|ref|mc_cid|mc_eid)=')))
        |    AS kept
        |  FROM pick)
        |SELECT doc_id, has_canonical,
        |  regexp_extract(lower(u),
        |    '^([a-z][a-z0-9+.-]*)://', 1) || '://' ||
        |  regexp_replace(regexp_extract(lower(u),
        |    '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
        |    ':(80|443)$$', '') ||
        |  regexp_extract(u,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) ||
        |  CASE WHEN len(kept) > 0
        |    THEN '?' || array_to_string(kept, '&') ELSE '' END
        |  AS url_identity
        |FROM kq""".stripMargin,

    "q468_robots" -> {
      val domList = graft.queries.QueriesPipeline.urlDomains
        .map(s => s"'$s'").mkString(", ")
      raw"""$urlsSqlCte,
        |doms AS (SELECT unnest([$domList]) AS domain),
        |rob AS (SELECT domain,
        |  'User-agent: *' || chr(10) ||
        |  CASE WHEN (${h48("domain || '#r1'")}) < 0.5
        |    THEN 'Disallow: /en' || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#r2'")}) < 0.4
        |    THEN 'Disallow: /de/doc' || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#r3'")}) < 0.25
        |    THEN 'Disallow: /' || chr(10) ELSE '' END AS robots_txt
        |  FROM doms),
        |lines AS (SELECT domain,
        |    unnest(string_split(robots_txt, chr(10))) AS line
        |  FROM rob),
        |rules AS (SELECT domain,
        |    regexp_extract(line, '^Disallow: (.+)$$', 1) AS p
        |  FROM lines
        |  WHERE regexp_extract(line, '^Disallow: (.+)$$', 1) <> ''),
        |uu AS (SELECT url,
        |    string_split(${hostSql("url")}, '.') AS l,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth
        |  FROM urls),
        |ud AS (SELECT url, pth, ${regDomSql("l")} AS dom FROM uu),
        |j AS (SELECT ud.url, ud.dom, ud.pth, r.p
        |  FROM ud LEFT JOIN rules r ON r.domain = ud.dom)
        |SELECT url, dom AS url_domain, pth AS url_path,
        |  CAST(sum(CASE WHEN p IS NOT NULL AND starts_with(pth, p)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_rules_matched,
        |  sum(CASE WHEN p IS NOT NULL AND starts_with(pth, p)
        |    THEN 1 ELSE 0 END) = 0 AS allowed
        |FROM j GROUP BY 1, 2, 3""".stripMargin
    },

    "q471_url_parse_hard" -> {
      val domList = graft.queries.QueriesPipeline.urlDomains
        .map(s => s"'$s'").mkString(", ")
      raw"""WITH hard AS (
        |  SELECT doc_id,
        |    (CASE WHEN (${h48("doc_id::VARCHAR || '#hs'")}) < 0.33
        |        THEN 'HTTP'
        |      WHEN (${h48("doc_id::VARCHAR || '#hs'")}) < 0.66
        |        THEN 'https' ELSE 'Ftp' END) || '://' ||
        |    (CASE WHEN (${h48("doc_id::VARCHAR || '#hu'")}) < 0.3
        |      THEN 'user:pw@' ELSE '' END) ||
        |    (CASE WHEN (${h48("doc_id::VARCHAR || '#hc'")}) < 0.5
        |      THEN upper(source || '.' ||
        |        ([$domList])[CAST(floor((${h48("doc_id::VARCHAR || '#hd'")}) * 8) AS INT) + 1])
        |      ELSE source || '.' ||
        |        ([$domList])[CAST(floor((${h48("doc_id::VARCHAR || '#hd'")}) * 8) AS INT) + 1]
        |      END) ||
        |    (CASE WHEN (${h48("doc_id::VARCHAR || '#hp'")}) < 0.3
        |        THEN ':8080'
        |      WHEN (${h48("doc_id::VARCHAR || '#hp'")}) < 0.5
        |        THEN ':443' ELSE '' END) ||
        |    '/' || lang || '/doc/' || doc_id ||
        |    (CASE WHEN (${h48("doc_id::VARCHAR || '#hq'")}) < 0.5
        |      THEN '?ref=' || (n_chars % 97) ELSE '' END) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |  lower(regexp_extract(url,
        |    '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS url_scheme,
        |  ${hostSql("url")} AS url_host,
        |  regexp_extract(url,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        |    AS url_path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS url_query
        |  FROM hard),
        |lab AS (SELECT p.*, string_split(url_host, '.') AS l FROM p)
        |SELECT doc_id, url, url_scheme, url_host,
        |  ${regDomSql("l")} AS url_domain, url_path, url_query
        |FROM lab""".stripMargin
    },

    "q472_robots_rep" -> {
      val domList = graft.queries.QueriesPipeline.urlDomains
        .map(s => s"'$s'").mkString(", ")
      raw"""$urlsSqlCte,
        |doms AS (SELECT unnest([$domList]) AS domain),
        |rob AS (SELECT domain,
        |  'user-agent: *' || chr(13) || chr(10) ||
        |  CASE WHEN (${h48("domain || '#a1'")}) < 0.5
        |    THEN 'disallow: /en' || chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#a2'")}) < 0.5
        |    THEN 'allow: /en/doc' || chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#a3'")}) < 0.4
        |    THEN 'DISALLOW: /*/doc/*7' || chr(36) || chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#a4'")}) < 0.3
        |    THEN 'Allow: /de' || chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#a5'")}) < 0.35
        |    THEN 'DisAllow: /de*c' || chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#a6'")}) < 0.2
        |    THEN 'disallow: /' || chr(13) || chr(10) ELSE '' END
        |  AS robots_txt FROM doms),
        |lines AS (SELECT domain,
        |    unnest(string_split(replace(robots_txt, chr(13), ''),
        |      chr(10))) AS line
        |  FROM rob),
        |rr AS (SELECT domain,
        |    regexp_extract(line, '(?i)^(Allow|Disallow): *(.*)$$', 1)
        |      AS dir,
        |    regexp_extract(line, '(?i)^(Allow|Disallow): *(.*)$$', 2)
        |      AS pattern
        |  FROM lines),
        |rules0 AS (SELECT domain, lower(dir) = 'allow' AS is_allow,
        |    pattern
        |  FROM rr WHERE dir <> '' AND pattern <> ''),
        |comp AS (SELECT domain, is_allow, pattern,
        |    CAST(length(pattern) AS BIGINT) AS plen,
        |    ends_with(pattern, '$$') AS anch,
        |    CASE WHEN ends_with(pattern, '$$')
        |      THEN substr(pattern, 1, length(pattern) - 1)
        |      ELSE pattern END AS core
        |  FROM rules0),
        |rx AS (SELECT domain, is_allow, plen,
        |    '^' || regexp_replace(regexp_replace(core,
        |      '([.^$$+?(){}|\[\]\\])', '\\\1', 'g'),
        |      '\*', '.*', 'g') ||
        |    CASE WHEN anch THEN '$$' ELSE '' END AS re
        |  FROM comp),
        |uu AS (SELECT url,
        |    string_split(${hostSql("url")}, '.') AS l,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        |      AS pth,
        |    regexp_extract(url, '\?([^#]*)', 1) AS qq
        |  FROM urls),
        |ut AS (SELECT url, ${regDomSql("l")} AS dom,
        |    (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
        |    (CASE WHEN qq <> '' THEN '?' || qq ELSE '' END)
        |      AS target
        |  FROM uu),
        |j AS (SELECT ut.url, ut.dom, ut.target, r.is_allow, r.plen,
        |    r.re
        |  FROM ut LEFT JOIN rx r ON r.domain = ut.dom),
        |sc AS (SELECT url, dom, target,
        |    CASE WHEN re IS NOT NULL AND regexp_matches(target, re)
        |      THEN plen * 2 +
        |        CASE WHEN is_allow THEN 1 ELSE 0 END END AS score
        |  FROM j),
        |ag AS (SELECT url, dom, target,
        |    CAST(coalesce(max(score), -1) AS BIGINT) AS best_score,
        |    CAST(count(score) AS BIGINT) AS n_rules_matched
        |  FROM sc GROUP BY 1, 2, 3)
        |SELECT url, dom AS url_domain, target AS match_target,
        |  best_score, n_rules_matched,
        |  (best_score = -1 OR best_score % 2 = 1) AS allowed
        |FROM ag""".stripMargin
    },

    "q477_robots_agent" -> {
      val domList = graft.queries.QueriesPipeline.urlDomains
        .map(s => s"'$s'").mkString(", ")
      raw"""$urlsSqlCte,
        |doms AS (SELECT unnest([$domList]) AS domain),
        |rob AS (SELECT domain,
        |  CASE WHEN (${h48("domain || '#g1'")}) < 0.5
        |    THEN 'user-agent: GraftBot' || chr(13) || chr(10) ||
        |      'disallow: /en' || chr(13) || chr(10) ||
        |      CASE WHEN (${h48("domain || '#g2'")}) < 0.5
        |        THEN 'ALLOW: /en/doc' || chr(13) || chr(10)
        |        ELSE '' END
        |    ELSE '' END ||
        |  'User-agent: *' || chr(13) || chr(10) ||
        |  'Disallow: /de' || chr(13) || chr(10) ||
        |  CASE WHEN (${h48("domain || '#g3'")}) < 0.4
        |    THEN 'USER-AGENT: otherbot' || chr(13) || chr(10) ||
        |      'disallow: /' || chr(13) || chr(10)
        |    ELSE '' END AS robots_txt
        |  FROM doms),
        |ls AS (SELECT domain,
        |    string_split(replace(robots_txt, chr(13), ''), chr(10))
        |      AS arr
        |  FROM rob),
        |lines AS (SELECT domain, i AS pos,
        |    arr[CAST(i AS INTEGER)] AS line
        |  FROM ls, unnest(range(1, len(arr) + 1)) AS t(i)),
        |marked AS (SELECT domain, pos, line,
        |    lower(trim(regexp_extract(line,
        |      '(?i)^User-agent: *(.*)$$', 1))) AS ua
        |  FROM lines),
        |lagd AS (SELECT domain, pos, line, ua, ua <> '' AS is_ua,
        |    coalesce(lag(ua <> '') OVER (PARTITION BY domain
        |      ORDER BY pos), false) AS prev_ua
        |  FROM marked),
        |grp AS (SELECT domain, pos, line, ua, is_ua,
        |    sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY domain ORDER BY pos) AS g
        |  FROM lagd),
        |flags AS (SELECT domain, g,
        |    max(CASE WHEN ua = 'graftbot' THEN 1 ELSE 0 END)
        |      AS has_exact,
        |    max(CASE WHEN ua = '*' THEN 1 ELSE 0 END) AS has_star
        |  FROM grp WHERE is_ua GROUP BY 1, 2),
        |anyx AS (SELECT domain, max(has_exact) AS any_exact
        |  FROM flags GROUP BY 1),
        |govern AS (SELECT f.domain, f.g
        |  FROM flags f JOIN anyx a USING (domain)
        |  WHERE CASE WHEN a.any_exact = 1 THEN f.has_exact = 1
        |        ELSE f.has_star = 1 END),
        |rules0 AS (SELECT grp.domain,
        |    lower(regexp_extract(line,
        |      '(?i)^(Allow|Disallow): *(.*)$$', 1))
        |      = 'allow' AS is_allow,
        |    regexp_extract(line, '(?i)^(Allow|Disallow): *(.*)$$', 2)
        |      AS pattern
        |  FROM grp JOIN govern
        |    ON grp.domain = govern.domain AND grp.g = govern.g
        |  WHERE regexp_extract(line,
        |      '(?i)^(Allow|Disallow): *(.*)$$', 1) <> ''
        |    AND regexp_extract(line,
        |      '(?i)^(Allow|Disallow): *(.*)$$', 2) <> ''),
        |comp AS (SELECT domain, is_allow, pattern,
        |    CAST(length(pattern) AS BIGINT) AS plen,
        |    ends_with(pattern, '$$') AS anch,
        |    CASE WHEN ends_with(pattern, '$$')
        |      THEN substr(pattern, 1, length(pattern) - 1)
        |      ELSE pattern END AS core
        |  FROM rules0),
        |rx AS (SELECT domain, is_allow, plen,
        |    '^' || regexp_replace(regexp_replace(core,
        |      '([.^$$+?(){}|\[\]\\])', '\\\1', 'g'),
        |      '\*', '.*', 'g') ||
        |    CASE WHEN anch THEN '$$' ELSE '' END AS re
        |  FROM comp),
        |uu AS (SELECT url,
        |    string_split(${hostSql("url")}, '.') AS l,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        |      AS pth,
        |    regexp_extract(url, '\?([^#]*)', 1) AS qq
        |  FROM urls),
        |ut AS (SELECT url, ${regDomSql("l")} AS dom,
        |    (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
        |    (CASE WHEN qq <> '' THEN '?' || qq ELSE '' END)
        |      AS target
        |  FROM uu),
        |j AS (SELECT ut.url, ut.dom, ut.target, r.is_allow, r.plen,
        |    r.re
        |  FROM ut LEFT JOIN rx r ON r.domain = ut.dom),
        |sc AS (SELECT url, dom, target,
        |    CASE WHEN re IS NOT NULL AND regexp_matches(target, re)
        |      THEN plen * 2 +
        |        CASE WHEN is_allow THEN 1 ELSE 0 END END AS score
        |  FROM j),
        |ag AS (SELECT url, dom, target,
        |    CAST(coalesce(max(score), -1) AS BIGINT) AS best_score,
        |    CAST(count(score) AS BIGINT) AS n_rules_matched
        |  FROM sc GROUP BY 1, 2, 3)
        |SELECT url, dom AS url_domain, target AS match_target,
        |  best_score, n_rules_matched,
        |  (best_score = -1 OR best_score % 2 = 1) AS allowed
        |FROM ag""".stripMargin
    },

    "q478_psl_domain" -> {
      val domList = graft.queries.QueriesPipeline.urlDomains
        .map(s => s"'$s'").mkString(", ")
      val sufList = (graft.llm.UrlOps.TwoLevelSuffixes ++
        Seq("com", "org", "net", "io", "jp", "uk", "au",
          "static.example.com")).map(s => s"'$s'").mkString(", ")
      raw"""WITH hard AS (
        |  SELECT doc_id,
        |    (CASE WHEN (${h48("doc_id::VARCHAR || '#p4'")}) < 0.2
        |      THEN 'user@' ELSE '' END) ||
        |    (CASE WHEN (${h48("doc_id::VARCHAR || '#p2'")}) < 0.5
        |      THEN upper(sub) ELSE sub END) ||
        |    (CASE WHEN (${h48("doc_id::VARCHAR || '#p5'")}) < 0.2
        |      THEN ':8080' ELSE '' END) AS host
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN (${h48("doc_id::VARCHAR || '#p1'")}) < 0.3
        |        THEN 'w.' || core ELSE core END AS sub
        |    FROM (
        |      SELECT doc_id,
        |        CASE WHEN (${h48("doc_id::VARCHAR || '#p3'")}) < 0.25
        |          THEN source || '.static.example.com'
        |          ELSE source || '.' ||
        |            ([$domList])[CAST(floor((${h48("doc_id::VARCHAR || '#pd'")}) * 8) AS INT) + 1]
        |        END AS core
        |      FROM documents))),
        |sufs AS (SELECT unnest([$sufList]) AS suffix),
        |hosts AS (SELECT doc_id, host,
        |    string_split(lower(split_part(split_part(host,
        |      '@', -1), ':', 1)), '.') AS l
        |  FROM hard),
        |cand AS (SELECT doc_id, k,
        |    array_to_string(l[len(l)-CAST(k AS INT)+1:], '.')
        |      AS cand
        |  FROM hosts,
        |    unnest(range(1, least(len(l) - 1, 4) + 1)) AS t(k)),
        |m AS (SELECT doc_id, max(k) AS bk
        |  FROM cand JOIN sufs ON cand.cand = sufs.suffix
        |  GROUP BY 1)
        |SELECT h.doc_id, h.host,
        |  CASE WHEN m.bk IS NOT NULL
        |    THEN array_to_string(
        |      l[greatest(len(l) - CAST(bk AS INT), 1):], '.')
        |    ELSE array_to_string(l[greatest(len(l) - 1, 1):], '.')
        |  END AS reg_domain
        |FROM hosts h LEFT JOIN m USING (doc_id)""".stripMargin
    },

    "q506_sitemap_parse" -> {
      val domList = graft.queries.QueriesPipeline.urlDomains
        .map(s => s"'$s'").mkString(", ")
      raw"""WITH doms AS (SELECT unnest([$domList]) AS domain),
        |xmls AS (SELECT domain,
        |  '<?xml version="1.0"?><urlset>' ||
        |  '<url><loc>https://' || domain || '/</loc>' ||
        |  CASE WHEN (${h48("domain || '#x1'")}) < 0.5
        |    THEN '<lastmod>2026-0' || CAST(CAST(floor(
        |        (${h48("domain || '#x2'")}) * 9) AS BIGINT) + 1
        |        AS VARCHAR) || '-01</lastmod>'
        |    ELSE '' END ||
        |  '</url>' ||
        |  CASE WHEN (${h48("domain || '#x3'")}) < 0.7
        |    THEN '<url><loc>https://' || domain ||
        |      '/news</loc></url>' ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#x4'")}) < 0.3
        |    THEN '<url><lastmod>2026-01-02</lastmod><loc>https://'
        |      || domain || '/a?b=1&amp;c=2</loc></url>'
        |    ELSE '' END ||
        |  '</urlset>' AS xml
        |  FROM doms),
        |entries AS (SELECT domain,
        |    unnest(string_split(xml, '</url>')) AS e
        |  FROM xmls)
        |SELECT domain,
        |  regexp_extract(e, '<loc>([^<]*)</loc>', 1) AS loc,
        |  regexp_extract(e, '<lastmod>([^<]*)</lastmod>', 1)
        |    AS lastmod
        |FROM entries
        |WHERE regexp_extract(e, '<loc>([^<]*)</loc>', 1) <> ''""".stripMargin
    },

    "q505_incremental_url" -> {
      def canonCtes(src: String, tag: String) =
        raw"""kq$tag AS (
          |  SELECT url, list_sort(list_filter(
          |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
          |      x -> length(x) > 0 AND NOT regexp_matches(x,
          |        '^(utm_[^=]*|fbclid|gclid|ref|mc_cid|mc_eid)=')))
          |    AS kept
          |  FROM $src),
          |canon$tag AS (
          |  SELECT url AS raw,
          |    regexp_extract(lower(url),
          |      '^([a-z][a-z0-9+.-]*)://', 1) || '://' ||
          |    regexp_replace(regexp_extract(lower(url),
          |      '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1),
          |      ':(80|443)$$', '') ||
          |    regexp_extract(url,
          |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) ||
          |    CASE WHEN len(kept) > 0
          |      THEN '?' || array_to_string(kept, '&') ELSE '' END
          |    AS cu
          |  FROM kq$tag)""".stripMargin
      raw"""$urlsSqlCte,
        |corp AS (SELECT doc_id, url FROM urls WHERE doc_id % 10 < 7),
        |mvb AS (
        |  SELECT doc_id, url,
        |    (${h48("doc_id::VARCHAR || '#f1'")}) < 0.5 AS m1,
        |    (${h48("doc_id::VARCHAR || '#f2'")}) < 0.5 AS m2,
        |    (${h48("doc_id::VARCHAR || '#f3'")}) < 0.5 AS m3,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS h,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
        |    regexp_extract(url, '\?([^#]*)', 1) AS qref
        |  FROM corp
        |  WHERE (${h48("doc_id::VARCHAR || '#rf'")}) < 0.5),
        |mv AS (
        |  SELECT CASE WHEN m3 THEN
        |      CASE WHEN qref = '' THEN 'utm_source=feed'
        |           ELSE qref || '&utm_source=feed' END
        |    ELSE qref END AS params, m1, m2, h, pth
        |  FROM mvb),
        |fresh AS (
        |  SELECT (CASE WHEN m1 THEN 'HTTPS' ELSE 'https' END ||
        |    '://' || (CASE WHEN m1 THEN upper(h) ELSE h END) ||
        |    (CASE WHEN m2 THEN ':443' ELSE '' END) || pth ||
        |    (CASE WHEN params = '' THEN ''
        |          ELSE '?' || params END)) AS url
        |  FROM mv
        |  UNION ALL
        |  SELECT url FROM urls WHERE doc_id % 10 >= 7),
        |${canonCtes("corp", "_c")},
        |ckset AS (SELECT DISTINCT cu FROM canon_c),
        |${canonCtes("fresh", "_f")}
        |SELECT f.raw AS url, f.cu AS url_canonical,
        |  k.cu IS NOT NULL AS known
        |FROM canon_f f LEFT JOIN ckset k ON f.cu = k.cu""".stripMargin
    },

    "q503_psl_wildcard" -> {
      val domList = graft.queries.QueriesPipeline.urlDomains
        .map(s => s"'$s'").mkString(", ")
      val sufList = (graft.llm.UrlOps.TwoLevelSuffixes ++
        Seq("com", "org", "net", "io", "jp", "uk", "au",
          "static.example.com", "*.ck", "!www.ck"))
        .map(s => s"'$s'").mkString(", ")
      raw"""WITH hard AS (
        |  SELECT doc_id,
        |    (CASE WHEN (${h48("doc_id::VARCHAR || '#w3'")}) < 0.5
        |      THEN upper(sub) ELSE sub END) ||
        |    (CASE WHEN (${h48("doc_id::VARCHAR || '#w5'")}) < 0.2
        |      THEN ':8443' ELSE '' END) AS host
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN (${h48("doc_id::VARCHAR || '#w2'")}) < 0.3
        |        THEN 'm.' || core ELSE core END AS sub
        |    FROM (
        |      SELECT doc_id,
        |        CASE WHEN (${h48("doc_id::VARCHAR || '#w1'")}) < 0.25
        |          THEN source || '.platform.ck'
        |        WHEN (${h48("doc_id::VARCHAR || '#w1'")}) < 0.40
        |          THEN 'www.ck'
        |        WHEN (${h48("doc_id::VARCHAR || '#w1'")}) < 0.50
        |          THEN source || '.www.ck'
        |          ELSE source || '.' ||
        |            ([$domList])[CAST(floor((${h48("doc_id::VARCHAR || '#wd'")}) * 8) AS INT) + 1]
        |        END AS core
        |      FROM documents))),
        |sufs AS (SELECT unnest([$sufList]) AS suffix),
        |hosts AS (SELECT doc_id, host,
        |    string_split(lower(split_part(split_part(host,
        |      '@', -1), ':', 1)), '.') AS l
        |  FROM hard),
        |cand AS (SELECT doc_id, k,
        |    array_to_string(l[len(l)-CAST(k AS INT)+1:], '.') AS cp,
        |    CASE WHEN k >= 2 THEN '*.' ||
        |      array_to_string(l[len(l)-CAST(k AS INT)+2:], '.') END
        |      AS cw
        |  FROM hosts,
        |    unnest(range(1, least(len(l) - 1, 4) + 1)) AS t(k)),
        |forms AS (
        |  SELECT doc_id, k, FALSE AS exc, cp AS key FROM cand
        |  UNION ALL
        |  SELECT doc_id, k, FALSE, cw FROM cand WHERE cw IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, k, TRUE, '!' || cp FROM cand),
        |m AS (SELECT doc_id,
        |    max(CASE WHEN exc THEN k + 1000 ELSE k END) AS best
        |  FROM forms JOIN sufs ON forms.key = sufs.suffix
        |  GROUP BY 1),
        |sl AS (SELECT doc_id,
        |    CASE WHEN best >= 1000 THEN best - 1001 ELSE best END
        |      AS slen
        |  FROM m)
        |SELECT h.doc_id, h.host,
        |  CASE WHEN sl.slen IS NOT NULL
        |    THEN array_to_string(
        |      l[greatest(len(l) - CAST(slen AS INT), 1):], '.')
        |    ELSE array_to_string(l[greatest(len(l) - 1, 1):], '.')
        |  END AS reg_domain
        |FROM hosts h LEFT JOIN sl USING (doc_id)""".stripMargin
    },

    "q479_crawl_schedule" -> {
      val domList = graft.queries.QueriesPipeline.urlDomains
        .map(s => s"'$s'").mkString(", ")
      raw"""$urlsSqlCte,
        |doms AS (SELECT unnest([$domList]) AS domain),
        |rob AS (SELECT domain,
        |  'User-agent: *' || chr(13) || chr(10) ||
        |  CASE WHEN (${h48("domain || '#cd'")}) < 0.6
        |    THEN 'crawl-delay: ' || CAST(CAST(floor(
        |        (${h48("domain || '#cv'")}) * 5) AS BIGINT) + 1
        |        AS VARCHAR) || chr(13) || chr(10)
        |    ELSE '' END AS robots_txt
        |  FROM doms),
        |lines AS (SELECT domain,
        |    unnest(string_split(replace(robots_txt, chr(13), ''),
        |      chr(10))) AS line
        |  FROM rob),
        |dly AS (SELECT domain,
        |    min(CAST(regexp_extract(line,
        |      '(?i)^Crawl-delay: *([0-9]+)$$', 1) AS BIGINT))
        |      AS crawl_delay_s
        |  FROM lines
        |  WHERE regexp_extract(line,
        |    '(?i)^Crawl-delay: *([0-9]+)$$', 1) <> ''
        |  GROUP BY 1),
        |uu AS (SELECT url, n_chars,
        |    string_split(${hostSql("url")}, '.') AS l
        |  FROM urls),
        |ud AS (SELECT url, n_chars, ${regDomSql("l")} AS url_domain
        |  FROM uu),
        |rn AS (SELECT url, url_domain,
        |    CAST(row_number() OVER (PARTITION BY url_domain
        |      ORDER BY n_chars DESC, url ASC) AS BIGINT) - 1
        |      AS slot
        |  FROM ud)
        |SELECT rn.url, rn.url_domain, rn.slot,
        |  rn.slot * coalesce(d.crawl_delay_s, 2) AS fetch_offset_s
        |FROM rn LEFT JOIN dly d ON d.domain = rn.url_domain""".stripMargin
    },

    "q481_sitemaps" -> {
      val domList = graft.queries.QueriesPipeline.urlDomains
        .map(s => s"'$s'").mkString(", ")
      raw"""WITH doms AS (SELECT unnest([$domList]) AS domain),
        |rob AS (SELECT domain,
        |  'User-agent: *' || chr(13) || chr(10) ||
        |  'Disallow: /x' || chr(13) || chr(10) ||
        |  CASE WHEN (${h48("domain || '#s1'")}) < 0.7
        |    THEN 'sitemap: https://' || domain || '/sitemap.xml' ||
        |      chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#s2'")}) < 0.3
        |    THEN 'SITEMAP: https://' || domain ||
        |      '/news-sitemap.xml' || chr(13) || chr(10)
        |    ELSE '' END AS robots_txt
        |  FROM doms),
        |lines AS (SELECT domain,
        |    unnest(string_split(replace(robots_txt, chr(13), ''),
        |      chr(10))) AS line
        |  FROM rob)
        |SELECT domain,
        |  trim(regexp_extract(line, '(?i)^Sitemap: *(.*)$$', 1))
        |    AS sitemap_url
        |FROM lines
        |WHERE trim(regexp_extract(line, '(?i)^Sitemap: *(.*)$$', 1))
        |  <> ''""".stripMargin
    },

    "q482_url_frontier" -> {
      val domList = graft.queries.QueriesPipeline.urlDomains
        .map(s => s"'$s'").mkString(", ")
      def rnd(i: Int): String =
        s"""r$i AS MATERIALIZED (
           |  SELECT v.id,
           |    CAST((85 * coalesce(s.c, 0)) // 100 AS BIGINT) +
           |    150000000000 AS pr
           |  FROM v LEFT JOIN (
           |    SELECT e.dst AS id, sum(r.pr // d.deg) AS c
           |    FROM e JOIN r${i - 1} r ON r.id = e.src
           |    JOIN deg d ON d.id = e.src GROUP BY 1) s
           |    ON s.id = v.id)""".stripMargin
      raw"""$htmlSqlCte,
        |lk AS (SELECT url,
        |    unnest(regexp_extract_all(html, 'href="([^"]*)"', 1))
        |      AS link
        |  FROM html),
        |hosts2 AS (SELECT
        |    string_split(${hostSql("url")}, '.') AS sl,
        |    string_split(${hostSql("link")}, '.') AS dl
        |  FROM lk),
        |gg AS (SELECT DISTINCT
        |  ${regDomSql("sl")} AS src,
        |  ${regDomSql("dl")} AS dst
        |  FROM hosts2),
        |e AS (SELECT src, dst FROM gg WHERE src <> dst),
        |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM e GROUP BY 1),
        |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr
        |  FROM v),
        |""".stripMargin + rnd(1) + ",\n" + rnd(2) + ",\n" +
        raw"""lab AS (SELECT string_split(${hostSql("url")}, '.')
        |    AS l, n_chars
        |  FROM urls),
        |dom AS (SELECT
        |  ${regDomSql("l")} AS url_domain, n_chars FROM lab),
        |per AS (SELECT url_domain,
        |    CAST(sum(n_chars) AS BIGINT) AS w
        |  FROM dom GROUP BY 1),
        |tw AS (SELECT CAST(sum(w) AS BIGINT) AS ww FROM per),
        |qb AS (SELECT url_domain, w,
        |    (w * 300) // ww AS base,
        |    (w * 300) % ww AS rem
        |  FROM per CROSS JOIN tw),
        |rkq AS (SELECT *, row_number() OVER (
        |    ORDER BY rem DESC, url_domain ASC) AS rk FROM qb),
        |bsum AS (SELECT CAST(sum(base) AS BIGINT) AS b FROM qb),
        |alc AS (SELECT url_domain,
        |    CAST(base + CASE WHEN rk <= 300 - bsum.b
        |      THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |  FROM rkq CROSS JOIN bsum),
        |doms AS (SELECT unnest([$domList]) AS domain),
        |rob AS (SELECT domain,
        |  'user-agent: *' || chr(13) || chr(10) ||
        |  CASE WHEN (${h48("domain || '#a1'")}) < 0.5
        |    THEN 'disallow: /en' || chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#a2'")}) < 0.5
        |    THEN 'allow: /en/doc' || chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#a3'")}) < 0.4
        |    THEN 'DISALLOW: /*/doc/*7' || chr(36) || chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#a4'")}) < 0.3
        |    THEN 'Allow: /de' || chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#a5'")}) < 0.35
        |    THEN 'DisAllow: /de*c' || chr(13) || chr(10) ELSE '' END ||
        |  CASE WHEN (${h48("domain || '#a6'")}) < 0.2
        |    THEN 'disallow: /' || chr(13) || chr(10) ELSE '' END
        |  AS robots_txt FROM doms),
        |rlines AS (SELECT domain,
        |    unnest(string_split(replace(robots_txt, chr(13), ''),
        |      chr(10))) AS line
        |  FROM rob),
        |rr AS (SELECT domain,
        |    regexp_extract(line, '(?i)^(Allow|Disallow): *(.*)$$', 1)
        |      AS dir,
        |    regexp_extract(line, '(?i)^(Allow|Disallow): *(.*)$$', 2)
        |      AS pattern
        |  FROM rlines),
        |rules0 AS (SELECT domain, lower(dir) = 'allow' AS is_allow,
        |    pattern
        |  FROM rr WHERE dir <> '' AND pattern <> ''),
        |comp AS (SELECT domain, is_allow, pattern,
        |    CAST(length(pattern) AS BIGINT) AS plen,
        |    ends_with(pattern, '$$') AS anch,
        |    CASE WHEN ends_with(pattern, '$$')
        |      THEN substr(pattern, 1, length(pattern) - 1)
        |      ELSE pattern END AS core
        |  FROM rules0),
        |rx AS (SELECT domain, is_allow, plen,
        |    '^' || regexp_replace(regexp_replace(core,
        |      '([.^$$+?(){}|\[\]\\])', '\\\1', 'g'),
        |      '\*', '.*', 'g') ||
        |    CASE WHEN anch THEN '$$' ELSE '' END AS re
        |  FROM comp),
        |uu AS (SELECT url,
        |    string_split(${hostSql("url")}, '.') AS l,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        |      AS pth,
        |    regexp_extract(url, '\?([^#]*)', 1) AS q2
        |  FROM urls),
        |ut AS (SELECT url, ${regDomSql("l")} AS udom,
        |    (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
        |    (CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END)
        |      AS target
        |  FROM uu),
        |j AS (SELECT ut.url, ut.udom, ut.target, r.is_allow, r.plen,
        |    r.re
        |  FROM ut LEFT JOIN rx r ON r.domain = ut.udom),
        |sc AS (SELECT url, udom, target,
        |    CASE WHEN re IS NOT NULL AND regexp_matches(target, re)
        |      THEN plen * 2 +
        |        CASE WHEN is_allow THEN 1 ELSE 0 END END AS score
        |  FROM j),
        |ag AS (SELECT url, udom,
        |    CAST(coalesce(max(score), -1) AS BIGINT) AS best_score
        |  FROM sc GROUP BY 1, 2),
        |alw AS (SELECT url, udom AS url_domain FROM ag
        |  WHERE best_score = -1 OR best_score % 2 = 1),
        |up AS (SELECT a.url, a.url_domain, u.n_chars
        |  FROM alw a JOIN urls u ON u.url = a.url),
        |rnk AS (SELECT url, url_domain,
        |    CAST(row_number() OVER (PARTITION BY url_domain
        |      ORDER BY n_chars DESC, url ASC) AS BIGINT) AS rank
        |  FROM up)
        |SELECT r.url, r.url_domain, p.pr, a.alloc, r.rank,
        |  r.rank <= coalesce(a.alloc, 0) AS fetched
        |FROM rnk r
        |LEFT JOIN r2 p ON p.id = r.url_domain
        |LEFT JOIN alc a ON a.url_domain = r.url_domain""".stripMargin
    },

    "q469_dhondt" ->
      raw"""$urlsSqlCte,
        |lab AS (SELECT string_split(${hostSql("url")}, '.') AS l, n_chars
        |  FROM urls),
        |dom AS (SELECT
        |  ${regDomSql("l")} AS key, n_chars FROM lab),
        |per AS (SELECT key, CAST(sum(n_chars) AS BIGINT) AS w
        |  FROM dom GROUP BY 1 HAVING sum(n_chars) > 0),
        |quo AS (SELECT key, w, unnest(range(1, 98)) AS d FROM per),
        |q2 AS (SELECT key, w, d, CAST(w AS DOUBLE) / d AS q
        |  FROM quo),
        |r AS (SELECT *, row_number() OVER (
        |    ORDER BY q DESC, key ASC, d ASC) AS rk FROM q2)
        |SELECT key, w, CAST(count(*) AS BIGINT) AS seats
        |FROM r WHERE rk <= 97 GROUP BY 1, 2""".stripMargin,

    "q467_crawl_budget" ->
      raw"""$urlsSqlCte,
        |lab AS (SELECT string_split(${hostSql("url")}, '.') AS l, n_chars
        |  FROM urls),
        |dom AS (SELECT
        |  ${regDomSql("l")} AS url_domain, n_chars FROM lab),
        |per AS (SELECT url_domain,
        |    CAST(sum(n_chars) AS BIGINT) AS w
        |  FROM dom GROUP BY 1),
        |tw AS (SELECT CAST(sum(w) AS BIGINT) AS ww FROM per),
        |q AS (SELECT url_domain, w,
        |    (w * 10000) // ww AS base,
        |    (w * 10000) % ww AS rem
        |  FROM per CROSS JOIN tw),
        |r AS (SELECT *, row_number() OVER (
        |    ORDER BY rem DESC, url_domain ASC) AS rk FROM q),
        |b AS (SELECT CAST(sum(base) AS BIGINT) AS bb FROM q)
        |SELECT url_domain, w, CAST(base AS BIGINT) AS base,
        |  CAST(CASE WHEN rk <= 10000 - b.bb THEN 1 ELSE 0 END
        |    AS BIGINT) AS bonus,
        |  CAST(base + CASE WHEN rk <= 10000 - b.bb THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM r CROSS JOIN b""".stripMargin,

    "q465_cdc_pairs" -> (cdcChunksOracle + """,
        |cu AS (SELECT DISTINCT doc_id,
        |    md5(substr(t, CAST(c.st AS INTEGER),
        |      CAST(c.en - c.st + 1 AS INTEGER))) AS chunk_md5
        |  FROM ch),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        |  FROM cu GROUP BY 1),
        |keep AS (SELECT chunk_md5 FROM cu GROUP BY 1
        |  HAVING count(*) >= 2 AND count(*) <= 64),
        |kt AS (SELECT cu.doc_id, cu.chunk_md5
        |  FROM cu JOIN keep USING (chunk_md5)),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kt a JOIN kt b ON a.chunk_md5 = b.chunk_md5
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pr.doc_a, pr.doc_b, pr.n_shared,
        |  ta.n_chunks AS na, tb.n_chunks AS nb,
        |  round(CAST(pr.n_shared AS DOUBLE) /
        |    (ta.n_chunks + tb.n_chunks - pr.n_shared), 6)
        |    AS chunk_jaccard
        |FROM pr JOIN tot ta ON ta.doc_id = pr.doc_a
        |JOIN tot tb ON tb.doc_id = pr.doc_b""".stripMargin),

    "q466_meta_directives" ->
      raw"""WITH m AS (
        |  SELECT doc_id,
        |    '<html><head>' ||
        |    CASE WHEN (${h48("doc_id::VARCHAR || '#nx'")}) < 0.3
        |      THEN '<meta name="robots" content="noindex,nofollow">'
        |    WHEN (${h48("doc_id::VARCHAR || '#nx'")}) < 0.5
        |      THEN '<meta name="robots" content="noindex">'
        |    ELSE '' END ||
        |    CASE WHEN (${h48("doc_id::VARCHAR || '#cn'")}) < 0.4
        |      THEN '<link rel="canonical" href="https://canon.example.com/doc/'
        |        || doc_id || '">'
        |    ELSE '' END ||
        |    '</head><body><p>' || substr(text, 1, 60) ||
        |    '</p></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_matches(html,
        |    '<meta name="robots" content="[^"]*noindex')
        |    AS meta_noindex,
        |  regexp_matches(html,
        |    '<meta name="robots" content="[^"]*nofollow')
        |    AS meta_nofollow,
        |  regexp_extract(html,
        |    '<link rel="canonical" href="([^"]*)"', 1)
        |    AS canonical_href
        |FROM m""".stripMargin,

    "q464_nfc_normalize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    'Cafe' || chr(769) || ' nin' || 'o' || chr(771) || ' '
        |      || substr(text, 1, 40) AS mess
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(mess) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(mess)) AS BIGINT) AS len_nfc,
        |  nfc_normalize(mess) AS text_nfc
        |FROM m""".stripMargin,

    "q461_cdc_chunks" -> (cdcChunksOracle + """
        |SELECT doc_id, c.idx AS chunk_idx, c.st AS chunk_start,
        |  c.en - c.st + 1 AS chunk_len,
        |  md5(substr(t, CAST(c.st AS INTEGER),
        |    CAST(c.en - c.st + 1 AS INTEGER))) AS chunk_md5
        |FROM ch""".stripMargin),

    "q462_cdc_dedup" -> (cdcChunksOracle + """,
        |tab AS (
        |  SELECT md5(substr(t, CAST(c.st AS INTEGER),
        |      CAST(c.en - c.st + 1 AS INTEGER))) AS chunk_md5,
        |    doc_id, c.en - c.st + 1 AS chunk_len
        |  FROM ch)
        |SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(min(chunk_len) AS BIGINT) AS chunk_len,
        |  CAST((count(*) - 1) * min(chunk_len) AS BIGINT)
        |    AS bytes_saved
        |FROM tab GROUP BY 1 HAVING count(*) > 1""".stripMargin),

    "q460_domain_pagerank" -> {
      def rnd(i: Int): String =
        s"""r$i AS MATERIALIZED (
           |  SELECT v.id,
           |    CAST((85 * coalesce(s.c, 0)) // 100 AS BIGINT) +
           |    150000000000 AS pr
           |  FROM v LEFT JOIN (
           |    SELECT e.dst AS id, sum(r.pr // d.deg) AS c
           |    FROM e JOIN r${i - 1} r ON r.id = e.src
           |    JOIN deg d ON d.id = e.src GROUP BY 1) s
           |    ON s.id = v.id)""".stripMargin
      raw"""$htmlSqlCte,
        |lk AS (SELECT url,
        |    unnest(regexp_extract_all(html, 'href="([^"]*)"', 1))
        |      AS link
        |  FROM html),
        |hosts AS (SELECT
        |    string_split(${hostSql("url")}, '.') AS sl,
        |    string_split(${hostSql("link")}, '.') AS dl
        |  FROM lk),
        |gg AS (SELECT DISTINCT
        |  ${regDomSql("sl")} AS src,
        |  ${regDomSql("dl")} AS dst
        |  FROM hosts),
        |e AS (SELECT src, dst FROM gg WHERE src <> dst),
        |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM e GROUP BY 1),
        |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr
        |  FROM v),
        |""".stripMargin + rnd(1) + ",\n" + rnd(2) + ",\n" +
        raw"""tot AS (SELECT sum(pr) AS tot FROM r2)
        |SELECT r2.id AS domain, r2.pr,
        |  round(CAST(r2.pr AS DOUBLE) / tot.tot, 9) AS pr_norm
        |FROM r2 CROSS JOIN tot""".stripMargin
    },

    "q459_anchor_text" ->
      raw"""$htmlSqlCte,
        |an AS (SELECT unnest(regexp_extract_all(html,
        |    '<a href="([^"]*)"[^>]*>([^<]*)</a>', 0)) AS a
        |  FROM html),
        |parts AS (SELECT
        |    string_split(
        |      ${hostSql("regexp_extract(a, '<a href=\"([^\"]*)\"', 1)")},
        |      '.') AS dl,
        |    regexp_extract(a, '>([^<]*)</a>', 1) AS anchor
        |  FROM an)
        |SELECT ${regDomSql("dl")} AS dst_domain, anchor,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM parts GROUP BY 1, 2""".stripMargin,

    "q447_url_parse" ->
      raw"""$urlsSqlCte,
        |p AS (SELECT doc_id, url,
        |  lower(regexp_extract(url,
        |    '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS url_scheme,
        |  ${hostSql("url")} AS url_host,
        |  regexp_extract(url,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        |    AS url_path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS url_query
        |  FROM urls),
        |lab AS (SELECT p.*, string_split(url_host, '.') AS l FROM p)
        |SELECT doc_id, url, url_scheme, url_host,
        |  CASE WHEN len(l) >= 3 AND
        |      array_to_string(l[greatest(len(l)-1,1):], '.')
        |        IN ($suffixesSql)
        |    THEN array_to_string(l[greatest(len(l)-2,1):], '.')
        |    ELSE array_to_string(l[greatest(len(l)-1,1):], '.')
        |  END AS url_domain,
        |  url_path, url_query
        |FROM lab""".stripMargin,

    "q448_domain_rollup" ->
      raw"""$urlsSqlCte,
        |lab AS (SELECT string_split(${hostSql("url")}, '.') AS l, n_chars
        |  FROM urls),
        |dom AS (SELECT
        |  CASE WHEN len(l) >= 3 AND
        |      array_to_string(l[greatest(len(l)-1,1):], '.')
        |        IN ($suffixesSql)
        |    THEN array_to_string(l[greatest(len(l)-2,1):], '.')
        |    ELSE array_to_string(l[greatest(len(l)-1,1):], '.')
        |  END AS url_domain, n_chars FROM lab),
        |per AS (SELECT url_domain,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |  FROM dom GROUP BY 1)
        |SELECT url_domain, n_docs, n_chars_total,
        |  CAST(n_docs * 1000000 //
        |    CAST((SELECT sum(n_docs) FROM per) AS BIGINT) AS BIGINT)
        |    AS docs_ppm
        |FROM per""".stripMargin,

    "q449_shard_plan" ->
      """WITH keys AS (SELECT DISTINCT doc_id FROM documents),
        |w AS (
        |  SELECT
        |    CAST(list_sum(list_transform(range(1, 13),
        |      i -> (strpos('0123456789abcdef',
        |        substr(md5(doc_id::VARCHAR), i, 1)) - 1)
        |        * power(16, 12 - i))) AS BIGINT) AS hh,
        |    list_transform(range(0, 10), s ->
        |      CAST(list_sum(list_transform(range(1, 13),
        |        i -> (strpos('0123456789abcdef', substr(md5(
        |          doc_id::VARCHAR || '#shard' || s), i, 1)) - 1)
        |          * power(16, 12 - i))) AS BIGINT)) AS w10,
        |    list_transform(range(0, 11), s ->
        |      CAST(list_sum(list_transform(range(1, 13),
        |        i -> (strpos('0123456789abcdef', substr(md5(
        |          doc_id::VARCHAR || '#shard' || s), i, 1)) - 1)
        |          * power(16, 12 - i))) AS BIGINT)) AS w11
        |  FROM keys),
        |m AS (
        |  SELECT hh,
        |    list_position(w10, list_max(w10)) - 1 AS h10,
        |    list_position(w11, list_max(w11)) - 1 AS h11
        |  FROM w)
        |SELECT CAST(10 AS BIGINT) AS n_from,
        |  CAST(11 AS BIGINT) AS n_to,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(CASE WHEN hh % 10 <> hh % 11 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS moved_mod,
        |  CAST(sum(CASE WHEN hh % 10 <> hh % 11 THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS moved_mod_ppm,
        |  CAST(sum(CASE WHEN h10 <> h11 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS moved_hrw,
        |  CAST(sum(CASE WHEN h10 <> h11 THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS moved_hrw_ppm
        |FROM m""".stripMargin,

    // full metric replay: identical md5 pseudo-run, exact-cents
    // qrels, the same hit-cumulative window and gain/discount
    // association order; doubles rounded at 6 dp on both sides
    "q359_rank_eval" ->
      """WITH run0 AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS qid,
        |    CAST(c_custkey AS BIGINT) AS did,
        |    md5(CAST(c_custkey AS VARCHAR)) AS h
        |  FROM customer),
        |run AS (
        |  SELECT qid, did, rnk FROM (
        |    SELECT qid, did, row_number() OVER (
        |      PARTITION BY qid ORDER BY h, did) AS rnk
        |    FROM run0)
        |  WHERE rnk <= 10),
        |qrels AS (
        |  SELECT qid, did, rel FROM (
        |    SELECT CAST(c_nationkey AS BIGINT) AS qid,
        |      CAST(c_custkey AS BIGINT) AS did,
        |      CASE
        |        WHEN CAST(round(c_acctbal * 100) AS BIGINT) >= 750000
        |          THEN 2.0
        |        WHEN CAST(round(c_acctbal * 100) AS BIGINT) >= 500000
        |          THEN 1.0 END AS rel
        |    FROM customer)
        |  WHERE rel IS NOT NULL),
        |j AS (
        |  SELECT r.qid, r.rnk, coalesce(q.rel, 0.0) AS rel
        |  FROM run r LEFT JOIN qrels q
        |    ON q.qid = r.qid AND q.did = r.did),
        |jc AS (
        |  SELECT qid, rnk, rel,
        |    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY qid ORDER BY rnk) AS hc
        |  FROM j),
        |pq AS (
        |  SELECT qid, count(*) AS n_ret,
        |    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits,
        |    sum((power(2.0, rel) - 1.0) / log2(rnk + 1.0)) AS dcg,
        |    sum(CASE WHEN rel > 0 THEN CAST(hc AS DOUBLE) / rnk
        |      ELSE 0.0 END) AS ap_num,
        |    min(CASE WHEN rel > 0 THEN rnk END) AS first_rel
        |  FROM jc GROUP BY 1),
        |ideal AS (
        |  SELECT qid, count(*) AS n_rel,
        |    sum(CASE WHEN pos <= 10 THEN
        |      (power(2.0, rel) - 1.0) / log2(pos + 1.0) END) AS idcg
        |  FROM (
        |    SELECT qid, rel, row_number() OVER (
        |      PARTITION BY qid ORDER BY rel DESC, did) AS pos
        |    FROM qrels)
        |  GROUP BY 1)
        |SELECT p.qid, CAST(n_ret AS BIGINT) AS n_ret,
        |  CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel,
        |  CAST(hits AS BIGINT) AS hits,
        |  round(CAST(hits AS DOUBLE) / 10, 6) AS p_at_k,
        |  CASE WHEN coalesce(n_rel, 0) > 0
        |    THEN round(CAST(hits AS DOUBLE) / n_rel, 6) END AS r_at_k,
        |  round(coalesce(1.0 / first_rel, 0.0), 6) AS rr,
        |  CASE WHEN coalesce(n_rel, 0) > 0
        |    THEN round(ap_num / least(n_rel, 10), 6) END AS ap_at_k,
        |  CASE WHEN idcg > 0
        |    THEN round(dcg / idcg, 6) END AS ndcg_at_k
        |FROM pq p LEFT JOIN ideal i ON i.qid = p.qid""".stripMargin,

    "q271_dup_spans" ->
      raw"""WITH toks AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS tk FROM documents),
        |sh0 AS (SELECT doc_id, CASE WHEN len(tk) >= 8 THEN
        |    list_transform(range(1, len(tk) - 6),
        |      i -> struct_pack(pos := i - 1,
        |        h := md5(array_to_string(list_slice(tk, i, i + 7),
        |          ' '))))
        |  ELSE [] END AS ss FROM toks),
        |sh AS (SELECT doc_id, unnest(ss, recursive := true) FROM sh0),
        |f AS (SELECT h, min(struct_pack(d := doc_id, p := pos)) AS f
        |  FROM sh GROUP BY h),
        |dup AS (SELECT s.doc_id, s.pos FROM sh s JOIN f USING (h)
        |  WHERE NOT (s.doc_id = f.f.d AND s.pos = f.f.p)),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL
        |        OR pos - lag(pos) OVER w <> 1
        |      THEN 1 ELSE 0 END AS brk
        |  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |grp AS (SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
        |  CAST(max(pos) + 7 AS BIGINT) AS end_tok,
        |  CAST(count(*) AS BIGINT) AS n_shingles
        |FROM grp GROUP BY doc_id, g""".stripMargin,

    "q272_clip_spans" ->
      raw"""WITH toks AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS tk FROM documents),
        |sh0 AS (SELECT doc_id, CASE WHEN len(tk) >= 8 THEN
        |    list_transform(range(1, len(tk) - 6),
        |      i -> struct_pack(pos := i - 1,
        |        h := md5(array_to_string(list_slice(tk, i, i + 7),
        |          ' '))))
        |  ELSE [] END AS ss FROM toks),
        |sh AS (SELECT doc_id, unnest(ss, recursive := true) FROM sh0),
        |f AS (SELECT h, min(struct_pack(d := doc_id, p := pos)) AS f
        |  FROM sh GROUP BY h),
        |dup AS (SELECT s.doc_id, s.pos FROM sh s JOIN f USING (h)
        |  WHERE NOT (s.doc_id = f.f.d AND s.pos = f.f.p)),
        |isl AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL
        |        OR pos - lag(pos) OVER w <> 1
        |      THEN 1 ELSE 0 END AS brk
        |  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |grp AS (SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl),
        |spans AS (SELECT doc_id, min(pos) AS start_tok,
        |    max(pos) + 7 AS end_tok FROM grp GROUP BY doc_id, g),
        |tokpos AS (SELECT doc_id, unnest(list_transform(
        |    range(1, len(tk) + 1),
        |    i -> struct_pack(pos := i - 1, tok := tk[i])),
        |    recursive := true) FROM toks),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tokpos t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = t.doc_id
        |      AND t.pos BETWEEN sp.start_tok AND sp.end_tok))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(tok, ' ' ORDER BY pos) AS text_clean
        |FROM kept GROUP BY doc_id""".stripMargin,

    "q128_paragraph_dedup" ->
      raw"""WITH words AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(text), '\s+'),
        |    x -> length(x) > 0) AS w
        |  FROM documents),
        |chunked AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(w[i*4+1 : i*4+4], ' ') AS line
        |  FROM words,
        |    unnest(range(0, CAST(ceil(len(w) / 4.0) AS INT))) AS t(i)),
        |nz AS (SELECT * FROM chunked WHERE length(trim(line)) > 0),
        |k AS (
        |  SELECT doc_id, pos, line, row_number() OVER (
        |    PARTITION BY line ORDER BY doc_id, pos) AS rn
        |  FROM nz)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
        |    ORDER BY pos) AS text_clean
        |FROM k GROUP BY 1""".stripMargin,

    // the salted variant must produce byte-identical output — the
    // SAME oracle as q128 proves the skew-safe rewrite exactly
    "q476_paragraph_dedup_salted" ->
      raw"""WITH words AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(text), '\s+'),
        |    x -> length(x) > 0) AS w
        |  FROM documents),
        |chunked AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(w[i*4+1 : i*4+4], ' ') AS line
        |  FROM words,
        |    unnest(range(0, CAST(ceil(len(w) / 4.0) AS INT))) AS t(i)),
        |nz AS (SELECT * FROM chunked WHERE length(trim(line)) > 0),
        |k AS (
        |  SELECT doc_id, pos, line, row_number() OVER (
        |    PARTITION BY line ORDER BY doc_id, pos) AS rn
        |  FROM nz)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
        |    ORDER BY pos) AS text_clean
        |FROM k GROUP BY 1""".stripMargin,

    "q139_preprocess_pipeline" ->
      s"""WITH q AS (
         |  SELECT doc_id, source FROM (
         |    SELECT doc_id, source, round((
         |      least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) +
         |      (CASE WHEN (CASE WHEN n_tok > 0
         |          THEN CAST(length(text) AS DOUBLE) / n_tok
         |          ELSE 0.0 END) BETWEEN 3.0 AND 10.0
         |        THEN 1.0 ELSE 0.5 END) +
         |      (CASE WHEN length(text) > 0
         |        THEN CAST(length(regexp_replace(text,
         |          '[^A-Za-z\\s]', '', 'g')) AS DOUBLE) / length(text)
         |        ELSE 0.0 END)) / 3.0, 6) AS quality
         |    FROM (SELECT doc_id, source, text,
         |        CAST(length(list_filter(
         |          regexp_split_to_array(trim(text), '\\s+'),
         |          x -> length(x) > 0)) AS DOUBLE) AS n_tok
         |      FROM documents))
         |  WHERE quality >= 0.5),
         |words AS (
         |  SELECT d.doc_id, list_filter(
         |    regexp_split_to_array(trim(d.text), '\\s+'),
         |    x -> length(x) > 0) AS w
         |  FROM documents d JOIN q USING (doc_id)),
         |chunked AS (
         |  SELECT doc_id, i AS pos,
         |    array_to_string(w[i*4+1 : i*4+4], ' ') AS line
         |  FROM words,
         |    unnest(range(0, CAST(ceil(len(w) / 4.0) AS INT))) AS t(i)),
         |nz AS (SELECT * FROM chunked WHERE length(trim(line)) > 0),
         |k AS (
         |  SELECT doc_id, pos, line, row_number() OVER (
         |    PARTITION BY line ORDER BY doc_id, pos) AS rn
         |  FROM nz),
         |surv AS (
         |  SELECT doc_id, string_agg(CASE WHEN rn = 1 THEN line END,
         |    chr(10) ORDER BY pos) AS text_clean
         |  FROM k GROUP BY 1),
         |survt AS (
         |  SELECT doc_id, CAST(length(list_filter(
         |    regexp_split_to_array(trim(text_clean), '\\s+'),
         |    x -> length(x) > 0)) AS BIGINT) AS n_tokens
         |  FROM surv WHERE text_clean IS NOT NULL),
         |samp AS (
         |  SELECT s.doc_id, s.n_tokens
         |  FROM survt s JOIN q USING (doc_id)
         |  WHERE ${h48("CAST(doc_id AS VARCHAR) || 'pp'")} <
         |    CASE source WHEN 'src0' THEN 1.0 ELSE 0.5 END),
         |d2 AS (
         |  SELECT doc_id,
         |    ${h48("CAST(doc_id AS VARCHAR) || 'pp2'")} AS h,
         |    n_tokens
         |  FROM samp),
         |b2 AS (
         |  SELECT doc_id, CAST(floor(h * 4) AS BIGINT) AS bucket, h,
         |    n_tokens
         |  FROM d2),
         |c2 AS (
         |  SELECT doc_id, bucket, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY bucket
         |      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens
         |      AS BIGINT) AS start_tok
         |  FROM b2)
         |SELECT doc_id, bucket,
         |  CAST(floor(CAST(start_tok AS DOUBLE) / 128) AS BIGINT)
         |    AS pack,
         |  start_tok, n_tokens
         |FROM c2""".stripMargin,

    "q132_weighted_sample" ->
      s"""SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source, row_number() OVER (
         |    ORDER BY round(power(
         |      ${h48("CAST(doc_id AS VARCHAR) || 'ws'")},
         |      1.0 / n_chars), 9) DESC, doc_id) AS rn
         |  FROM documents WHERE n_chars > 0)
         |WHERE rn <= 100""".stripMargin,

    "q133_budget_take" ->
      raw"""WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(list_filter(
        |      regexp_split_to_array(trim(text), '\s+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_tok
        |  FROM d)
        |SELECT doc_id, start_tok, n_tok AS n_tokens
        |FROM c WHERE start_tok < 10000""".stripMargin,

    "q129_bigram_lm" ->
      raw"""WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, tk[i] AS w1, tk[i] || ' ' || tk[i+1] AS big
        |  FROM toks, unnest(range(1, CAST(len(tk) AS INT))) AS t(i)),
        |bc AS (SELECT big, count(*) AS cb FROM bg GROUP BY 1),
        |uc AS (SELECT w1, count(*) AS cu FROM bg GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, ln(CAST(cb AS DOUBLE) / cu) AS lp
        |  FROM bg JOIN bc USING (big) JOIN uc USING (w1)),
        |ag AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    round(avg(lp), 6) AS avg_logprob
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(ag.n_bigrams, 0) AS n_bigrams,
        |  ag.avg_logprob
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN ag USING (doc_id)""".stripMargin,

    "q257_chunk_docs" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |      regexp_split_to_array(trim(text), '\s+'),
        |      x -> length(x) > 0) AS tk
        |  FROM documents),
        |n AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n
        |  FROM t WHERE len(tk) > 0),
        |k AS (SELECT doc_id, tk, n,
        |    1 + greatest(0, (n - 64 + 47) // 48) AS nchunks
        |  FROM n),
        |g AS (SELECT doc_id, tk, n,
        |    unnest(range(0, CAST(nchunks AS BIGINT))) AS i
        |  FROM k)
        |SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |  CAST(i * 48 AS BIGINT) AS start_tok,
        |  CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens,
        |  array_to_string(tk[i * 48 + 1 : i * 48 + 64], ' ') AS chunk
        |FROM g""".stripMargin,

    "q130_pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    ${h48("CAST(doc_id AS VARCHAR) || 'pk'")} AS h,
         |    CAST(len(list_filter(
         |      regexp_split_to_array(trim(text), '\\s+'),
         |      x -> length(x) > 0)) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, CAST(floor(h * 8) AS BIGINT) AS bucket,
         |    h, n_tokens
         |  FROM d),
         |c AS (
         |  SELECT doc_id, bucket, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY bucket
         |      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens
         |      AS BIGINT) AS start_tok
         |  FROM b)
         |SELECT doc_id, bucket,
         |  CAST(floor(CAST(start_tok AS DOUBLE) / 256) AS BIGINT)
         |    AS pack,
         |  start_tok, n_tokens
         |FROM c""".stripMargin,

    "q110_decontaminate" ->
      raw"""WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS tk
        |  FROM documents),
        |gs0 AS (
        |  SELECT doc_id, CASE WHEN len(tk) >= 5 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 3),
        |        i -> array_to_string(list_slice(tk, i, i + 4), ' ')))
        |    ELSE [] END AS gs
        |  FROM toks),
        |cg AS (SELECT doc_id, unnest(gs) AS g FROM gs0),
        |bg AS (SELECT DISTINCT g FROM cg WHERE doc_id % 17 = 0),
        |hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM cg JOIN bg USING (g) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(h.n_overlap, 0) AS n_overlap,
        |  coalesce(h.n_overlap, 0) >= 2 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin,

    "q111_repetition" ->
      raw"""WITH src AS (
        |  SELECT doc_id, text || chr(10) || 'repeat line' || chr(10)
        |    || 'repeat line' || CASE WHEN doc_id % 3 = 0
        |      THEN chr(10) || 'repeat line' ELSE '' END AS t
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id, line FROM (
        |    SELECT doc_id, unnest(string_split(t, chr(10))) AS line
        |    FROM src)
        |  WHERE length(trim(line)) > 0),
        |pl AS (SELECT doc_id, line, count(*) AS c FROM ln GROUP BY 1, 2),
        |ls AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |    sum(c - 1) AS n_dup,
        |    sum(c * length(line)) AS n_chars,
        |    sum((c - 1) * length(line)) AS n_dupc
        |  FROM pl GROUP BY 1),
        |pw AS (
        |  SELECT doc_id, w, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      regexp_split_to_array(trim(lower(t)), '\s+'),
        |      x -> length(x) > 0)) AS w
        |    FROM src)
        |  GROUP BY 1, 2),
        |ws AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    max(c) AS top_c
        |  FROM pw GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(ls.n_lines, 0) AS n_lines,
        |  round(CASE WHEN coalesce(ls.n_lines, 0) = 0 THEN 0.0
        |    ELSE CAST(ls.n_dup AS DOUBLE) / ls.n_lines END, 6)
        |    AS dup_line_frac,
        |  round(CASE WHEN coalesce(ls.n_chars, 0) = 0 THEN 0.0
        |    ELSE CAST(ls.n_dupc AS DOUBLE) / ls.n_chars END, 6)
        |    AS dup_line_char_frac,
        |  coalesce(ws.n_words, 0) AS n_words,
        |  round(CASE WHEN coalesce(ws.n_words, 0) = 0 THEN 0.0
        |    ELSE CAST(ws.top_c AS DOUBLE) / ws.n_words END, 6)
        |    AS top_word_frac,
        |  (round(CASE WHEN coalesce(ls.n_lines, 0) = 0 THEN 0.0
        |      ELSE CAST(ls.n_dup AS DOUBLE) / ls.n_lines END, 6) <= 0.3
        |    AND round(CASE WHEN coalesce(ls.n_chars, 0) = 0 THEN 0.0
        |      ELSE CAST(ls.n_dupc AS DOUBLE) / ls.n_chars END, 6) <= 0.2
        |    AND round(CASE WHEN coalesce(ws.n_words, 0) = 0 THEN 0.0
        |      ELSE CAST(ws.top_c AS DOUBLE) / ws.n_words END, 6) <= 0.2)
        |    AS keep
        |FROM documents d
        |LEFT JOIN ls ON d.doc_id = ls.doc_id
        |LEFT JOIN ws ON d.doc_id = ws.doc_id""".stripMargin,

    "q112_stratified_sample" ->
      s"""SELECT doc_id, source, lang FROM documents
         |WHERE ${h48("CAST(doc_id AS VARCHAR) || 'mix1'")} <
         |  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |    WHEN 'src2' THEN 0.25 ELSE 0.1 END""".stripMargin,

    "q144_zorder" ->
      """WITH s AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |c0 AS (SELECT l_partkey, l_suppkey,
        |  l_partkey & 4294967295 AS va,
        |  l_suppkey & 4294967295 AS vb FROM s),
        |c1 AS (SELECT l_partkey, l_suppkey,
        |  (va | (va << 16)) & 281470681808895 AS va,
        |  (vb | (vb << 16)) & 281470681808895 AS vb FROM c0),
        |c2 AS (SELECT l_partkey, l_suppkey,
        |  (va | (va << 8)) & 71777214294589695 AS va,
        |  (vb | (vb << 8)) & 71777214294589695 AS vb FROM c1),
        |c3 AS (SELECT l_partkey, l_suppkey,
        |  (va | (va << 4)) & 1085102592571150095 AS va,
        |  (vb | (vb << 4)) & 1085102592571150095 AS vb FROM c2),
        |c4 AS (SELECT l_partkey, l_suppkey,
        |  (va | (va << 2)) & 3689348814741910323 AS va,
        |  (vb | (vb << 2)) & 3689348814741910323 AS vb FROM c3),
        |c5 AS (SELECT l_partkey, l_suppkey,
        |  (va | (va << 1)) & 6148914691236517205 AS va,
        |  (vb | (vb << 1)) & 6148914691236517205 AS vb FROM c4)
        |SELECT l_partkey, l_suppkey, va | (vb << 1) AS z
        |FROM c5""".stripMargin,

    "q142_crosstab_norm" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (SELECT l_returnflag, sum(n) AS d FROM c GROUP BY 1)
        |SELECT c.l_returnflag, c.l_linestatus,
        |  round(CAST(c.n AS DOUBLE) / m.d, 6) AS share
        |FROM c JOIN m USING (l_returnflag)""".stripMargin,

    "q143_expanding_corr" ->
      """WITH e AS (
        |  SELECT event_id, event_type, ts, user_id,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |s AS (
        |  SELECT event_id, event_type,
        |    CAST(count(CASE WHEN vc IS NOT NULL AND user_id IS NOT NULL
        |      THEN 1 END) OVER w AS DOUBLE) AS n,
        |    sum(CASE WHEN user_id IS NOT NULL
        |      THEN CAST(vc AS DOUBLE) END) OVER w AS sx,
        |    sum(CASE WHEN vc IS NOT NULL
        |      THEN CAST(user_id AS DOUBLE) END) OVER w AS sy,
        |    sum(CASE WHEN user_id IS NOT NULL
        |      THEN CAST(vc AS DOUBLE) * vc END) OVER w AS sxx,
        |    sum(CASE WHEN vc IS NOT NULL
        |      THEN CAST(user_id AS DOUBLE) * user_id END) OVER w AS syy,
        |    sum(CAST(vc AS DOUBLE) * user_id) OVER w AS sxy
        |  FROM e
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type,
        |  CASE WHEN n >= 5 AND
        |      sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
        |    THEN round((n * sxy - sx * sy) /
        |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        |  END AS exp_corr,
        |  CASE WHEN n >= 5 AND n > 1
        |    THEN round((sxy - sx * sy / n) / (n - 1), 6)
        |  END AS exp_cov
        |FROM s""".stripMargin,

    "q141_cumcount" ->
      """SELECT event_id, event_type,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY ts, event_id) - 1 AS BIGINT) AS cumcount,
        |  CAST(dense_rank() OVER (ORDER BY event_type) - 1 AS BIGINT)
        |    AS ngroup
        |FROM events""".stripMargin,

    "q119_group_filter" ->
      """WITH keep AS (
        |  SELECT l_suppkey FROM (
        |    SELECT l_suppkey,
        |      sum(CAST(round(l_quantity * 100) AS BIGINT)) AS s
        |    FROM lineitem GROUP BY 1)
        |  WHERE s > 800000)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_qc
        |FROM lineitem l JOIN keep k ON l.l_suppkey = k.l_suppkey""".stripMargin,

    "q120_idxmax" ->
      """WITH m AS (
        |  SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) * 1099511627776
        |      + event_id AS mv
        |  FROM events)
        |SELECT event_type,
        |  arg_max(event_id, mv) AS idx_of_max,
        |  arg_min(event_id, mv) AS idx_of_min
        |FROM m GROUP BY 1""".stripMargin,

    "q118_pivot_margins" ->
      """WITH src AS (
        |  SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qc
        |  FROM lineitem)
        |SELECT rf AS l_returnflag,
        |  CAST(sum(CASE WHEN ls = 'F' THEN qc END) AS BIGINT) AS F,
        |  CAST(sum(CASE WHEN ls = 'O' THEN qc END) AS BIGINT) AS O,
        |  CAST(sum(qc) AS BIGINT) AS "All"
        |FROM src GROUP BY 1
        |UNION ALL
        |SELECT 'All',
        |  CAST(sum(CASE WHEN ls = 'F' THEN qc END) AS BIGINT),
        |  CAST(sum(CASE WHEN ls = 'O' THEN qc END) AS BIGINT),
        |  CAST(sum(qc) AS BIGINT)
        |FROM src""".stripMargin,

    "q117_string_agg" ->
      """SELECT event_type, string_agg(v, ',' ORDER BY v) AS bucket_agg
        |FROM (SELECT DISTINCT event_type,
        |        CAST(user_id % 17 AS VARCHAR) AS v
        |      FROM events WHERE user_id IS NOT NULL)
        |GROUP BY 1""".stripMargin,

    "q114_combine_first" ->
      """WITH a AS (
        |  SELECT event_id, value AS v FROM events WHERE event_id % 2 = 0),
        |b AS (SELECT event_id, value * 2 AS v, user_id FROM events)
        |SELECT event_id, COALESCE(a.v, b.v) AS v, user_id
        |FROM a FULL OUTER JOIN b USING (event_id)""".stripMargin,

    "q113_group_sample" ->
      """SELECT event_id, event_type, user_id FROM (
        |  SELECT event_id, event_type, user_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR) || 's'), event_id)
        |      AS rn
        |  FROM events)
        |WHERE rn <= 7""".stripMargin,

    "q95_pii_redact" ->
      raw"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com from 10.0.' || CAST(doc_id % 200 AS VARCHAR) ||
        |    '.7 call 555-123-4567',
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "q96_hash_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${h48("CAST(doc_id AS VARCHAR) || 's1'")} < 0.25"""
        .stripMargin,

    "q323_lineitem_sample" ->
      s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         |WHERE ${h48(
        "CAST(l_orderkey AS VARCHAR) || '-' || " +
          "CAST(l_linenumber AS VARCHAR) || 's73'")} < 0.1"""
        .stripMargin,

    // same multi-pass pipeline as q362 keeping the pair ids, then
    // the 3 label rounds unrolled as MATERIALIZED CTEs
    "q382_entity_resolution" -> {
      val rounds = (1 to 3).map { r =>
        s"""l$r AS MATERIALIZED (
           |  SELECT id, min(lbl) AS lbl FROM (
           |    SELECT m.b AS id, l.lbl FROM m JOIN l${r - 1} l
           |      ON l.id = m.a
           |    UNION ALL
           |    SELECT m.a AS id, l.lbl FROM m JOIN l${r - 1} l
           |      ON l.id = m.b
           |    UNION ALL
           |    SELECT id, lbl FROM l${r - 1}) q
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (
         |  SELECT p_partkey, p_brand, p_type, p_size,
         |    split_part(p_name, ' ', 1) AS name1,
         |    CAST(round(p_retailprice * 100) AS BIGINT) AS pc
         |  FROM part),
         |k0 AS (
         |  SELECT p_brand, p_size, name1,
         |    count(*) <= 1000 AS kept0
         |  FROM base GROUP BY 1, 2, 3),
         |k1 AS (
         |  SELECT p_brand, p_size, p_type,
         |    count(*) <= 1000 AS kept1
         |  FROM base GROUP BY 1, 2, 3),
         |b AS (
         |  SELECT base.*, k0.kept0, k1.kept1
         |  FROM base
         |  JOIN k0 ON k0.p_brand = base.p_brand
         |    AND k0.p_size = base.p_size AND k0.name1 = base.name1
         |  JOIN k1 ON k1.p_brand = base.p_brand
         |    AND k1.p_size = base.p_size AND k1.p_type = base.p_type),
         |p0 AS (
         |  SELECT l.p_partkey AS ia, r.p_partkey AS ib,
         |    l.p_type = r.p_type AS type_eq,
         |    l.name1 = r.name1 AS name1_eq,
         |    abs(l.pc - r.pc) <= 10000 AS price_band
         |  FROM b l JOIN b r ON l.p_brand = r.p_brand
         |    AND l.p_size = r.p_size AND l.name1 = r.name1
         |    AND l.p_partkey < r.p_partkey
         |  WHERE l.kept0),
         |p1 AS (
         |  SELECT l.p_partkey AS ia, r.p_partkey AS ib,
         |    l.p_type = r.p_type AS type_eq,
         |    l.name1 = r.name1 AS name1_eq,
         |    abs(l.pc - r.pc) <= 10000 AS price_band
         |  FROM b l JOIN b r ON l.p_brand = r.p_brand
         |    AND l.p_size = r.p_size AND l.p_type = r.p_type
         |    AND l.p_partkey < r.p_partkey
         |  WHERE l.kept1 AND NOT (l.name1 = r.name1 AND l.kept0)),
         |pairs AS (
         |  SELECT * FROM p0 UNION ALL SELECT * FROM p1),
         |m AS (
         |  SELECT DISTINCT ia AS a, ib AS b FROM pairs
         |  WHERE $fsScoreSql >= 5.0),
         |verts AS (
         |  SELECT DISTINCT id FROM (
         |    SELECT a AS id FROM m UNION ALL SELECT b FROM m) v),
         |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM verts),
         |$rounds
         |SELECT CAST(id AS BIGINT) AS part,
         |  CAST(lbl AS BIGINT) AS entity
         |FROM l3""".stripMargin
    },

    "q366_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT))
        |    AS BIGINT) AS l_diversity,
        |  count(*) < 5 AS below_k
        |FROM customer GROUP BY 1, 2""".stripMargin,

    // identical md5-lottery draw (length-prefixed injective key
    // encoding) and Laplace inverse CDF with the 2^-49 clamp, noise
    // computed once and reused for the release value
    "q367_dp_count" -> {
      val u = h48("'release1|' || CAST(length(status) AS VARCHAR)" +
        " || ':' || status")
      val lo = math.pow(2.0, -49)
      s"""WITH g AS (
         |  SELECT o_orderstatus AS status,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders GROUP BY 1),
         |x AS (SELECT status, n,
         |  greatest($lo, least(${1.0 - lo}, $u)) AS u FROM g),
         |no AS (
         |  SELECT status, n,
         |    -2.0 * (CASE WHEN u - 0.5 > 0 THEN 1.0
         |      WHEN u - 0.5 < 0 THEN -1.0 ELSE 0.0 END) *
         |      ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
         |  FROM x)
         |SELECT status, n, round(noise, 6) AS noise,
         |  round(n + noise, 6) AS n_dp
         |FROM no""".stripMargin
    },

    "q368_dp_sum" -> {
      val u = h48("'release2|' || CAST(length(rf) AS VARCHAR)" +
        " || ':' || rf")
      val lo = math.pow(2.0, -49)
      s"""WITH li AS (
         |  SELECT l_returnflag AS rf,
         |    greatest(-50.0, least(50.0,
         |      CAST(CAST(l_quantity AS BIGINT) AS DOUBLE))) AS q
         |  FROM lineitem),
         |g AS (
         |  SELECT rf, sum(q) AS sc, CAST(count(*) AS BIGINT) AS n
         |  FROM li GROUP BY 1),
         |x AS (SELECT rf, sc, n,
         |  greatest($lo, least(${1.0 - lo}, $u)) AS u FROM g),
         |no AS (
         |  SELECT rf, sc, n,
         |    -50.0 * (CASE WHEN u - 0.5 > 0 THEN 1.0
         |      WHEN u - 0.5 < 0 THEN -1.0 ELSE 0.0 END) *
         |      ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
         |  FROM x)
         |SELECT rf, n, round(sc, 6) AS sum_clamped,
         |  round(noise, 6) AS noise, round(sc + noise, 6) AS sum_dp
         |FROM no""".stripMargin
    },

    "q369_skew_hitters" ->
      """WITH c AS (
        |  SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(n) AS tt FROM c),
        |top AS (
        |  SELECT l_suppkey, CAST(n AS BIGINT) AS n FROM c
        |  ORDER BY n DESC, l_suppkey LIMIT 20)
        |SELECT l_suppkey, n,
        |  CAST(n * 1000000 // tt AS BIGINT) AS share_ppm
        |FROM top CROSS JOIN t""".stripMargin,

    "q370_skew_summary" ->
      """WITH c AS (
        |  SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(max(n) AS BIGINT) AS max_key_rows,
        |  round(CAST(max(n) AS DOUBLE) * count(*) /
        |    CAST(sum(n) AS DOUBLE), 6) AS skew_ratio,
        |  CAST(max(n) * 1000000 // sum(n) AS BIGINT) AS top1_ppm
        |FROM c""".stripMargin,

    // identical multi-pass blocking: per-pass kept flags (HAVING-
    // free so dropped-block state is explicit), pass-0 (brand, size,
    // name1) and pass-1 (brand, size, type) self-joins, canonical-
    // pass dedup (a pass-1 pair is kept only when the rows do NOT
    // share a kept pass-0 block), and the same left-to-right weight
    // sum with Scala-printed double literals
    "q362_record_linkage" ->
      s"""WITH base AS (
         |  SELECT p_partkey, p_brand, p_type, p_size,
         |    split_part(p_name, ' ', 1) AS name1,
         |    CAST(round(p_retailprice * 100) AS BIGINT) AS pc
         |  FROM part),
         |k0 AS (
         |  SELECT p_brand, p_size, name1,
         |    count(*) <= 1000 AS kept0
         |  FROM base GROUP BY 1, 2, 3),
         |k1 AS (
         |  SELECT p_brand, p_size, p_type,
         |    count(*) <= 1000 AS kept1
         |  FROM base GROUP BY 1, 2, 3),
         |b AS (
         |  SELECT base.*, k0.kept0, k1.kept1
         |  FROM base
         |  JOIN k0 ON k0.p_brand = base.p_brand
         |    AND k0.p_size = base.p_size AND k0.name1 = base.name1
         |  JOIN k1 ON k1.p_brand = base.p_brand
         |    AND k1.p_size = base.p_size AND k1.p_type = base.p_type),
         |p0 AS (
         |  SELECT 0 AS block_pass,
         |    l.p_type = r.p_type AS type_eq,
         |    l.name1 = r.name1 AS name1_eq,
         |    abs(l.pc - r.pc) <= 10000 AS price_band
         |  FROM b l JOIN b r ON l.p_brand = r.p_brand
         |    AND l.p_size = r.p_size AND l.name1 = r.name1
         |    AND l.p_partkey < r.p_partkey
         |  WHERE l.kept0),
         |p1 AS (
         |  SELECT 1 AS block_pass,
         |    l.p_type = r.p_type AS type_eq,
         |    l.name1 = r.name1 AS name1_eq,
         |    abs(l.pc - r.pc) <= 10000 AS price_band
         |  FROM b l JOIN b r ON l.p_brand = r.p_brand
         |    AND l.p_size = r.p_size AND l.p_type = r.p_type
         |    AND l.p_partkey < r.p_partkey
         |  WHERE l.kept1 AND NOT (l.name1 = r.name1 AND l.kept0)),
         |pairs AS (
         |  SELECT * FROM p0 UNION ALL SELECT * FROM p1),
         |scored AS (
         |  SELECT *, $fsScoreSql AS s FROM pairs)
         |SELECT CAST(block_pass AS INTEGER) AS block_pass,
         |  type_eq, name1_eq, price_band,
         |  CASE WHEN s >= 5.0 THEN 'match'
         |       WHEN s <= 0.0 THEN 'non_match'
         |       ELSE 'possible' END AS fs_class,
         |  round(min(s), 6) AS fs_score,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM scored GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    // same postings join on the shared co-order neighbor, identical
    // deg window [2, 300], per-term round-12 DECIMAL sum
    "q391_adamic_adar" ->
      """WITH und AS (
        |  SELECT DISTINCT x.l_suppkey AS src, y.l_suppkey AS dst
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey
        |   AND x.l_suppkey < y.l_suppkey),
        |sym AS (SELECT src, dst FROM und
        |        UNION SELECT dst, src FROM und),
        |deg AS (
        |  SELECT src AS w, count(*) AS d FROM sym
        |  GROUP BY 1 HAVING count(*) >= 2 AND count(*) <= 300),
        |post AS (
        |  SELECT s.src AS w, s.dst AS u, deg.d
        |  FROM sym s JOIN deg ON deg.w = s.src),
        |pairs AS (
        |  SELECT a.u AS src, b.u AS dst,
        |    CAST(round(1.0 / ln(a.d), 12) AS DECIMAL(28,12)) AS t
        |  FROM post a JOIN post b ON a.w = b.w AND a.u < b.u)
        |SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
        |  CAST(count(*) AS BIGINT) AS n_common,
        |  round(CAST(sum(t) AS DOUBLE), 6) AS aa_score
        |FROM pairs GROUP BY 1, 2""".stripMargin,

    // identical exact-BIGINT power iteration, 2 unrolled rounds,
    // single L1 normalization
    "q392_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |    's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |v AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e) q),
        |h0 AS (SELECT id, CAST(1 AS BIGINT) AS hub FROM v),
        |a1 AS (
        |  SELECT v.id, CAST(coalesce(s.a, 0) AS BIGINT) AS auth
        |  FROM v LEFT JOIN (
        |    SELECT e.dst AS id, sum(h.hub) AS a
        |    FROM e JOIN h0 h ON h.id = e.src GROUP BY 1) s
        |    ON s.id = v.id),
        |h1 AS (
        |  SELECT v.id, CAST(coalesce(s.h, 0) AS BIGINT) AS hub
        |  FROM v LEFT JOIN (
        |    SELECT e.src AS id, sum(a.auth) AS h
        |    FROM e JOIN a1 a ON a.id = e.dst GROUP BY 1) s
        |    ON s.id = v.id),
        |a2 AS (
        |  SELECT v.id, CAST(coalesce(s.a, 0) AS BIGINT) AS auth
        |  FROM v LEFT JOIN (
        |    SELECT e.dst AS id, sum(h.hub) AS a
        |    FROM e JOIN h1 h ON h.id = e.src GROUP BY 1) s
        |    ON s.id = v.id),
        |h2 AS (
        |  SELECT v.id, CAST(coalesce(s.h, 0) AS BIGINT) AS hub
        |  FROM v LEFT JOIN (
        |    SELECT e.src AS id, sum(a.auth) AS h
        |    FROM e JOIN a2 a ON a.id = e.dst GROUP BY 1) s
        |    ON s.id = v.id),
        |t AS (SELECT
        |  (SELECT CAST(sum(auth) AS BIGINT) FROM a2) AS ta,
        |  (SELECT CAST(sum(hub) AS BIGINT) FROM h2) AS th)
        |SELECT a2.id, a2.auth, h2.hub,
        |  CASE WHEN ta > 0 THEN
        |    round(CAST(a2.auth AS DOUBLE) / ta, 9) END AS auth_norm,
        |  CASE WHEN th > 0 THEN
        |    round(CAST(h2.hub AS DOUBLE) / th, 9) END AS hub_norm
        |FROM a2 JOIN h2 ON h2.id = a2.id CROSS JOIN t""".stripMargin,

    // identical dyadic lattice, bin sums from exact integers,
    // round-12 DECIMAL REL/RES term sums
    "q393_brier_decomp" -> {
      val u = h48("CAST(o_orderkey AS VARCHAR)")
      s"""WITH o AS (
         |  SELECT floor($u * 1024) / 1024 AS p,
         |    o_orderstatus = 'F' AS y
         |  FROM orders),
         |b AS (
         |  SELECT CAST(least(floor(p * 10), 9) AS INTEGER) AS bin,
         |    p, CASE WHEN y THEN 1 ELSE 0 END AS yy
         |  FROM o),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nn,
         |    CAST(sum(yy) AS BIGINT) AS ny,
         |    sum((p - yy) * (p - yy)) AS bs
         |  FROM b),
         |bins AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS nb,
         |    sum(p) AS ps, CAST(sum(yy) AS BIGINT) AS ys
         |  FROM b GROUP BY 1),
         |terms AS (
         |  SELECT
         |    CAST(round(nb * (ps / nb - CAST(ys AS DOUBLE) / nb) *
         |      (ps / nb - CAST(ys AS DOUBLE) / nb), 12)
         |      AS DECIMAL(30,12)) AS rel_t,
         |    CAST(round(nb * (CAST(ys AS DOUBLE) / nb -
         |      CAST(ny AS DOUBLE) / nn) *
         |      (CAST(ys AS DOUBLE) / nb - CAST(ny AS DOUBLE) / nn),
         |      12) AS DECIMAL(30,12)) AS res_t
         |  FROM bins CROSS JOIN tot),
         |s AS (SELECT sum(rel_t) AS rs, sum(res_t) AS os FROM terms)
         |SELECT nn AS n, round(bs / nn, 9) AS brier,
         |  round(CAST(rs AS DOUBLE) / nn, 9) AS reliability,
         |  round(CAST(os AS DOUBLE) / nn, 9) AS resolution,
         |  round(CAST(ny AS DOUBLE) / nn *
         |    (1.0 - CAST(ny AS DOUBLE) / nn), 9) AS uncertainty
         |FROM tot CROSS JOIN s""".stripMargin
    },

    // identical one-scan funnel: cumulative predicates over the same
    // token/stopword/first-copy columns, integer // keep rates
    "q394_pipeline_funnel" ->
      raw"""WITH d AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> length(x) > 0) AS tk
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text, CAST(len(tk) AS BIGINT) AS tok,
        |    CAST(len(list_filter(tk, t -> t IN ('the','and','of',
        |      'to','a','in','is','it'))) AS BIGINT) AS stopc,
        |    row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY doc_id) AS rn,
        |    length(trim(text)) > 0 AS p1
        |  FROM d),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |    CAST(count(CASE WHEN p1 THEN 1 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN p1 THEN tok ELSE 0 END) AS BIGINT)
        |      AS t1,
        |    CAST(count(CASE WHEN p1 AND tok BETWEEN 5 AND 500
        |      THEN 1 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN p1 AND tok BETWEEN 5 AND 500
        |      THEN tok ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(count(CASE WHEN p1 AND tok BETWEEN 5 AND 500
        |      AND stopc * 20 >= tok THEN 1 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN p1 AND tok BETWEEN 5 AND 500
        |      AND stopc * 20 >= tok THEN tok ELSE 0 END) AS BIGINT)
        |      AS t3,
        |    CAST(count(CASE WHEN p1 AND tok BETWEEN 5 AND 500
        |      AND stopc * 20 >= tok AND rn = 1 THEN 1 END) AS BIGINT)
        |      AS n4,
        |    CAST(sum(CASE WHEN p1 AND tok BETWEEN 5 AND 500
        |      AND stopc * 20 >= tok AND rn = 1 THEN tok ELSE 0 END)
        |      AS BIGINT) AS t4
        |  FROM f)
        |SELECT CAST(0 AS INTEGER) AS stage_idx, 'nonempty' AS stage,
        |  n0 AS docs_in, n1 AS docs_out,
        |  CASE WHEN n0 > 0 THEN n1 * 1000000 // n0 END AS kept_ppm,
        |  t1 AS tokens_out FROM g
        |UNION ALL SELECT CAST(1 AS INTEGER), 'len_5_500', n1, n2,
        |  CASE WHEN n1 > 0 THEN n2 * 1000000 // n1 END, t2 FROM g
        |UNION ALL SELECT CAST(2 AS INTEGER), 'stopword_ratio', n2, n3,
        |  CASE WHEN n2 > 0 THEN n3 * 1000000 // n2 END, t3 FROM g
        |UNION ALL SELECT CAST(3 AS INTEGER), 'first_copy', n3, n4,
        |  CASE WHEN n3 > 0 THEN n4 * 1000000 // n3 END, t4 FROM g"""
        .stripMargin,

    // the closed minimax identity: fitted(i) = max_{j<=i} of the
    // suffix-min over k>=i of mean(j..k), every mean one correctly-
    // rounded division of exact BIGINT prefix-sum differences —
    // bit-identical to the PAV fit (rounding is monotone, so min/max
    // commute with it)
    "q398_isotonic" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS prio,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS xm,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS yc
        |  FROM orders),
        |p AS (
        |  SELECT prio, xm, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(yc) AS BIGINT) AS s
        |  FROM o GROUP BY 1, 2),
        |r AS (
        |  SELECT prio, xm, c, s,
        |    row_number() OVER (PARTITION BY prio ORDER BY xm) AS i
        |  FROM p),
        |pre AS (
        |  SELECT prio, i, xm, c, s,
        |    CAST(sum(s) OVER (PARTITION BY prio ORDER BY i)
        |      AS BIGINT) AS ps,
        |    CAST(sum(c) OVER (PARTITION BY prio ORDER BY i)
        |      AS BIGINT) AS pc
        |  FROM r),
        |jk AS (
        |  SELECT a.prio, a.i AS j, b.i AS k,
        |    CAST(b.ps - a.ps + a.s AS DOUBLE) /
        |      (b.pc - a.pc + a.c) AS m
        |  FROM pre a JOIN pre b
        |    ON b.prio = a.prio AND b.i >= a.i),
        |mn AS (
        |  SELECT prio, j, k AS i,
        |    min(m) OVER (PARTITION BY prio, j ORDER BY k DESC) AS mn
        |  FROM jk),
        |fit AS (
        |  SELECT prio, i, max(mn) AS f
        |  FROM mn GROUP BY prio, i)
        |SELECT r.prio, CAST(r.xm AS BIGINT) AS xm, r.c AS n_pooled,
        |  r.s AS y_sum, round(fit.f, 6) AS fitted
        |FROM r JOIN fit ON fit.prio = r.prio AND fit.i = r.i"""
        .stripMargin,

    // identical lattice, clamp literals, logit/re-squash per grid
    // temperature, round-12 DECIMAL NLL term sums, argmin flag
    "q397_temperature" -> {
      val u = h48("CAST(o_orderkey AS VARCHAR)")
      val lo = 1e-6
      val hi = 1.0 - 1e-6
      s"""WITH o AS (
         |  SELECT floor($u * 512) / 1024 +
         |    CASE WHEN o_orderstatus = 'F' THEN 0.5 ELSE 0.0 END AS p,
         |    o_orderstatus = 'F' AS y
         |  FROM orders),
         |b AS (
         |  SELECT ln(pc / (1.0 - pc)) AS z,
         |    CASE WHEN y THEN 1.0 ELSE 0.0 END AS yy
         |  FROM (SELECT greatest($lo, least($hi, p)) AS pc, y
         |        FROM o) q),
         |g AS (SELECT unnest([0.25, 0.5, 0.75, 1.0, 1.5, 2.0, 4.0])
         |  AS temp),
         |terms AS (
         |  SELECT temp,
         |    CAST(round(-(yy * ln(1.0 / (1.0 + exp(-z / temp))) +
         |      (1.0 - yy) *
         |      ln(1.0 - 1.0 / (1.0 + exp(-z / temp)))), 12)
         |      AS DECIMAL(30,12)) AS t
         |  FROM b CROSS JOIN g),
         |prof AS (
         |  SELECT temp, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(t) AS DOUBLE) / count(*) AS nll
         |  FROM terms GROUP BY 1)
         |SELECT temp, n, round(nll, 9) AS nll,
         |  nll = min(nll) OVER () AS is_best
         |FROM prof""".stripMargin
    },

    // full closed-form replay of the WAV energy hash: the PCM is a
    // modular function of the frame index, block assignment is
    // integer division, the bit test is the kernel's own exact
    // cross-multiplication, and the 64-bit hash reassembles via
    // two's complement (blk 0 contributes -2^63)
    "q399_audio_hash" ->
      raw"""WITH m AS (
        |  SELECT doc_id,
        |    CAST(100 + (doc_id % 7) * 50 AS INT) AS frames
        |  FROM documents WHERE doc_id < 300),
        |s AS (
        |  SELECT doc_id, frames,
        |    CAST((i * 64) // frames AS INT) AS blk,
        |    abs((i * 2731) % 65536 - 32768) AS e
        |  FROM m, unnest(range(0, CAST(frames AS BIGINT))) AS t(i)),
        |b AS (
        |  SELECT doc_id, frames, blk, CAST(sum(e) AS BIGINT) AS se
        |  FROM s GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT doc_id, CAST(sum(se) AS BIGINT) AS te
        |  FROM b GROUP BY 1),
        |bits AS (
        |  SELECT b.doc_id, b.frames, b.blk,
        |    CASE WHEN b.se * 64 > t.te THEN 1 ELSE 0 END AS bit
        |  FROM b JOIN tot t USING (doc_id))
        |SELECT doc_id, first(frames) AS frames,
        |  CAST(sum(CASE
        |    WHEN bit = 1 AND blk = 0 THEN -9223372036854775808
        |    WHEN bit = 1 THEN CAST(1 AS BIGINT) << (63 - blk)
        |    ELSE 0 END) AS BIGINT) AS ahash
        |FROM bits GROUP BY doc_id""".stripMargin,

    // block-constant aHash twin: luma per block from the generator's
    // modular color formulas; bit test 64·luma > Σluma (exact — see
    // the gate comment); two's-complement hash reassembly as q399
    "q508_image_ahash_twin" ->
      raw"""WITH m AS (
        |  SELECT doc_id,
        |    CAST(32 + (doc_id % 3) * 8 AS INT) AS side
        |  FROM documents WHERE doc_id < 200),
        |g AS (
        |  SELECT doc_id, side, CAST(blk AS INT) AS blk,
        |    299 * ((doc_id * 13 + blk * 7) % 256)
        |      + 587 * ((doc_id * 29 + blk * 11) % 256)
        |      + 114 * ((doc_id * 5 + blk * 3) % 256) AS luma
        |  FROM m, unnest(range(0, 64)) AS t(blk)),
        |tot AS (
        |  SELECT doc_id, CAST(sum(luma) AS BIGINT) AS tl
        |  FROM g GROUP BY 1),
        |bits AS (
        |  SELECT g.doc_id, g.side, g.blk,
        |    CASE WHEN g.luma * 64 > t.tl THEN 1 ELSE 0 END AS bit
        |  FROM g JOIN tot t USING (doc_id))
        |SELECT doc_id, first(side) AS side,
        |  CAST(sum(CASE
        |    WHEN bit = 1 AND blk = 0 THEN -9223372036854775808
        |    WHEN bit = 1 THEN CAST(1 AS BIGINT) << (63 - blk)
        |    ELSE 0 END) AS BIGINT) AS ahash
        |FROM bits GROUP BY doc_id""".stripMargin,

    // exact replay of the whole temperature-mix pipeline: per-lang
    // counts, the SAME fixed-order sqrt product for n^0.75 (IEEE
    // sqrt/multiply are exactly rounded — bit-identical doubles),
    // floor(2^20·w) integer weights, the q467 Hamilton shape, and
    // the md5-48 integer lottery rank
    "q509_temperature_mix" -> {
      val h48i = "CAST(list_sum(list_transform(range(1, 13), " +
        "i -> (strpos('0123456789abcdef', " +
        "substr(md5(CAST(doc_id AS VARCHAR) || '#tmix'), i, 1)) - 1)" +
        " * power(16, 12 - i))) AS BIGINT)"
      raw"""WITH per AS (
        |  SELECT lang AS key, CAST(count(*) AS BIGINT) AS n_key
        |  FROM documents GROUP BY 1),
        |wt AS (
        |  SELECT key, n_key,
        |    CAST(floor(1048576.0 * (sqrt(CAST(n_key AS DOUBLE)) *
        |      sqrt(sqrt(CAST(n_key AS DOUBLE))))) AS BIGINT) AS w
        |  FROM per),
        |tw AS (SELECT CAST(sum(w) AS BIGINT) AS ww FROM wt),
        |q AS (SELECT key, n_key, w,
        |    (w * 200) // ww AS base, (w * 200) % ww AS rem
        |  FROM wt CROSS JOIN tw),
        |r AS (SELECT *, row_number() OVER (
        |    ORDER BY rem DESC, key ASC) AS rk FROM q),
        |b AS (SELECT CAST(sum(base) AS BIGINT) AS bb FROM q),
        |al AS (SELECT key, n_key,
        |    CAST(base + CASE WHEN rk <= 200 - b.bb THEN 1 ELSE 0 END
        |      AS BIGINT) AS alloc
        |  FROM r CROSS JOIN b),
        |lot AS (
        |  SELECT lang AS key, doc_id AS id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY $h48i ASC, doc_id ASC) AS rank0
        |  FROM documents)
        |SELECT l.key, l.id, CAST(l.rank0 AS BIGINT) AS rank,
        |  a.alloc, a.n_key
        |FROM lot l JOIN al a USING (key)
        |WHERE l.rank0 <= a.alloc""".stripMargin
    },

    // both sides' hashes replayed closed-form (q508 block math);
    // known = fingerprint EXISTS in the corpus's distinct-hash set —
    // resolution invariance falls out of the math (side never
    // appears in the hash)
    "q511_incremental_image_exact" ->
      raw"""WITH cid AS (
        |  SELECT doc_id AS cid FROM documents WHERE doc_id < 150),
        |cg AS (
        |  SELECT cid, blk,
        |    299 * ((cid * 13 + blk * 7) % 256)
        |      + 587 * ((cid * 29 + blk * 11) % 256)
        |      + 114 * ((cid * 5 + blk * 3) % 256) AS luma
        |  FROM cid, unnest(range(0, 64)) AS t(blk)),
        |ct AS (SELECT cid, CAST(sum(luma) AS BIGINT) AS tl
        |  FROM cg GROUP BY 1),
        |chash AS (
        |  SELECT g.cid, CAST(sum(CASE
        |    WHEN g.luma * 64 > t.tl AND g.blk = 0
        |      THEN -9223372036854775808
        |    WHEN g.luma * 64 > t.tl
        |      THEN CAST(1 AS BIGINT) << (63 - g.blk)
        |    ELSE 0 END) AS BIGINT) AS fp
        |  FROM cg g JOIN ct t USING (cid) GROUP BY 1),
        |cfp AS (SELECT DISTINCT fp, TRUE AS known0 FROM chash),
        |nid AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id % 75
        |      ELSE doc_id END AS c
        |  FROM documents WHERE doc_id >= 300 AND doc_id < 400),
        |ng AS (
        |  SELECT doc_id, blk,
        |    299 * ((c * 13 + blk * 7) % 256)
        |      + 587 * ((c * 29 + blk * 11) % 256)
        |      + 114 * ((c * 5 + blk * 3) % 256) AS luma
        |  FROM nid, unnest(range(0, 64)) AS t(blk)),
        |nt AS (SELECT doc_id, CAST(sum(luma) AS BIGINT) AS tl
        |  FROM ng GROUP BY 1),
        |nhash AS (
        |  SELECT g.doc_id, CAST(sum(CASE
        |    WHEN g.luma * 64 > t.tl AND g.blk = 0
        |      THEN -9223372036854775808
        |    WHEN g.luma * 64 > t.tl
        |      THEN CAST(1 AS BIGINT) << (63 - g.blk)
        |    ELSE 0 END) AS BIGINT) AS fp
        |  FROM ng g JOIN nt t USING (doc_id) GROUP BY 1)
        |SELECT n.doc_id, n.fp, coalesce(k.known0, FALSE) AS known
        |FROM nhash n LEFT JOIN cfp k USING (fp)""".stripMargin,

    // closed-form corpus hashes, new hashes = corpus content hash
    // XOR a ≤2-bit deterministic mask; 8×8-bit banding + exact
    // hamming — pure integer bit arithmetic in both engines
    "q512_incremental_image_neardup" ->
      raw"""WITH cid AS (
        |  SELECT doc_id AS cid FROM documents WHERE doc_id < 100),
        |cg AS (
        |  SELECT cid, blk,
        |    299 * ((cid * 13 + blk * 7) % 256)
        |      + 587 * ((cid * 29 + blk * 11) % 256)
        |      + 114 * ((cid * 5 + blk * 3) % 256) AS luma
        |  FROM cid, unnest(range(0, 64)) AS t(blk)),
        |ct AS (SELECT cid, CAST(sum(luma) AS BIGINT) AS tl
        |  FROM cg GROUP BY 1),
        |chash AS (
        |  SELECT g.cid, CAST(sum(CASE
        |    WHEN g.luma * 64 > t.tl AND g.blk = 0
        |      THEN -9223372036854775808
        |    WHEN g.luma * 64 > t.tl
        |      THEN CAST(1 AS BIGINT) << (63 - g.blk)
        |    ELSE 0 END) AS BIGINT) AS ch
        |  FROM cg g JOIN ct t USING (cid) GROUP BY 1),
        |nid AS (
        |  SELECT doc_id, doc_id % 50 AS c,
        |    CAST(doc_id % 64 AS INT) AS b1,
        |    CAST(doc_id * 7 % 64 AS INT) AS b2
        |  FROM documents WHERE doc_id >= 300 AND doc_id < 350),
        |ng AS (
        |  SELECT doc_id, blk,
        |    299 * ((c * 13 + blk * 7) % 256)
        |      + 587 * ((c * 29 + blk * 11) % 256)
        |      + 114 * ((c * 5 + blk * 3) % 256) AS luma
        |  FROM nid, unnest(range(0, 64)) AS t(blk)),
        |nt AS (SELECT doc_id, CAST(sum(luma) AS BIGINT) AS tl
        |  FROM ng GROUP BY 1),
        |nhash0 AS (
        |  SELECT g.doc_id, CAST(sum(CASE
        |    WHEN g.luma * 64 > t.tl AND g.blk = 0
        |      THEN -9223372036854775808
        |    WHEN g.luma * 64 > t.tl
        |      THEN CAST(1 AS BIGINT) << (63 - g.blk)
        |    ELSE 0 END) AS BIGINT) AS h0
        |  FROM ng g JOIN nt t USING (doc_id) GROUP BY 1),
        |nh AS (
        |  SELECT n.doc_id AS new_id,
        |    xor(h.h0,
        |      CASE WHEN n.b1 = 63 THEN (-9223372036854775808)::BIGINT
        |        ELSE CAST(1 AS BIGINT) << n.b1 END |
        |      CASE WHEN n.b2 = 63 THEN (-9223372036854775808)::BIGINT
        |        ELSE CAST(1 AS BIGINT) << n.b2 END) AS new_hash
        |  FROM nid n JOIN nhash0 h USING (doc_id)),
        |nb AS (
        |  SELECT new_id, new_hash, b AS band,
        |    (new_hash >> (CAST(b AS INT) * 8)) & 255 AS bucket
        |  FROM nh, unnest(range(0, 8)) AS t(b)),
        |cb AS (
        |  SELECT cid AS corpus_id, ch AS corpus_hash, b AS band,
        |    (ch >> (CAST(b AS INT) * 8)) & 255 AS bucket
        |  FROM chash, unnest(range(0, 8)) AS t(b)),
        |pairs AS (
        |  SELECT DISTINCT new_id, corpus_id, new_hash, corpus_hash
        |  FROM nb JOIN cb USING (band, bucket))
        |SELECT new_id, corpus_id, new_hash, corpus_hash,
        |  CAST(bit_count(xor(new_hash, corpus_hash)) AS INT)
        |    AS hamming
        |FROM pairs
        |WHERE bit_count(xor(new_hash, corpus_hash)) <= 7""".stripMargin,

    // q509's quota pipeline with the sqrt-only (alpha = 1/2) weight
    // plus the in-key largest-remainder repeats rule — all integer
    "q510_temperature_repeats" -> {
      val h48i = "CAST(list_sum(list_transform(range(1, 13), " +
        "i -> (strpos('0123456789abcdef', " +
        "substr(md5(CAST(doc_id AS VARCHAR) || '#tmix'), i, 1)) - 1)" +
        " * power(16, 12 - i))) AS BIGINT)"
      raw"""WITH per AS (
        |  SELECT lang AS key, CAST(count(*) AS BIGINT) AS n_key
        |  FROM documents GROUP BY 1),
        |wt AS (
        |  SELECT key, n_key,
        |    CAST(floor(1048576.0 * sqrt(CAST(n_key AS DOUBLE)))
        |      AS BIGINT) AS w
        |  FROM per),
        |tw AS (SELECT CAST(sum(w) AS BIGINT) AS ww FROM wt),
        |q AS (SELECT key, n_key, w,
        |    (w * 800) // ww AS base, (w * 800) % ww AS rem
        |  FROM wt CROSS JOIN tw),
        |r AS (SELECT *, row_number() OVER (
        |    ORDER BY rem DESC, key ASC) AS rk FROM q),
        |b AS (SELECT CAST(sum(base) AS BIGINT) AS bb FROM q),
        |al AS (SELECT key, n_key,
        |    CAST(base + CASE WHEN rk <= 800 - b.bb THEN 1 ELSE 0 END
        |      AS BIGINT) AS alloc
        |  FROM r CROSS JOIN b),
        |lot AS (
        |  SELECT lang AS key, doc_id AS id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY $h48i ASC, doc_id ASC) AS rank0
        |  FROM documents)
        |SELECT l.key, l.id, CAST(l.rank0 AS BIGINT) AS rank,
        |  CAST(a.alloc // a.n_key +
        |    CASE WHEN l.rank0 <= a.alloc % a.n_key THEN 1 ELSE 0 END
        |    AS BIGINT) AS repeats,
        |  a.alloc, a.n_key
        |FROM lot l JOIN al a USING (key)""".stripMargin
    },

    // identical lottery pool (ORDER BY h LIMIT 500, rank index),
    // identical md5-48 draw index arithmetic, self-draw filter
    "q400_negative_sampling" -> {
      val hp = h48("CAST(doc_id AS VARCHAR) || '#poolr7'")
      val hn = h48("CAST(doc_id AS VARCHAR) || '#neg' || " +
        "CAST(d AS VARCHAR) || 'r7'")
      s"""WITH ids AS (
         |  SELECT DISTINCT doc_id FROM documents
         |  WHERE doc_id IS NOT NULL),
         |pool AS (
         |  SELECT doc_id AS pid, $hp AS h
         |  FROM ids ORDER BY h LIMIT 500),
         |ix AS (
         |  SELECT pid, row_number() OVER (ORDER BY h) - 1 AS ixv
         |  FROM pool),
         |pn AS (SELECT CAST(count(*) AS BIGINT) AS pn FROM ix),
         |draws AS (
         |  SELECT doc_id, d,
         |    CAST(floor($hn * pn) AS BIGINT) AS ixv
         |  FROM ids
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS d) g
         |  CROSS JOIN pn)
         |SELECT doc_id, CAST(d AS INTEGER) AS draw,
         |  CAST(pid AS BIGINT) AS neg_id
         |FROM draws JOIN ix USING (ixv)
         |WHERE pid <> doc_id""".stripMargin
    },

    // identical posexplode → per-(label,dim) round-9 DECIMAL sums →
    // per-dim round-12 moment terms → identical F expression
    "q412_embed_separability" ->
      """WITH x0 AS (
        |  SELECT label AS lbl,
        |    unnest(list_transform(range(1, len(embedding) + 1),
        |      i -> struct_pack(dim := i,
        |        vd := CAST(embedding[CAST(i AS INTEGER)]
        |          AS DOUBLE)))) AS z
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |x AS (SELECT lbl, z.dim AS dim, z.vd AS vd FROM x0),
        |pl AS (
        |  SELECT dim, lbl, CAST(count(*) AS BIGINT) AS nl,
        |    sum(CAST(round(vd, 9) AS DECIMAL(28,9))) AS sl,
        |    sum(CAST(round(vd * vd, 9) AS DECIMAL(28,9))) AS ssl
        |  FROM x GROUP BY 1, 2),
        |pd AS (
        |  SELECT dim, CAST(sum(nl) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k,
        |    sum(sl) AS g, sum(ssl) AS sstot,
        |    sum(CAST(round(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
        |      / nl, 12) AS DECIMAL(38,12))) AS usum
        |  FROM pl GROUP BY 1)
        |SELECT dim, n, k,
        |  round(CAST(usum AS DOUBLE) -
        |    CAST(g AS DOUBLE) * CAST(g AS DOUBLE) / n, 6) AS ssb,
        |  round(CAST(sstot AS DOUBLE) - CAST(usum AS DOUBLE), 6)
        |    AS ssw,
        |  CASE WHEN CAST(sstot AS DOUBLE) - CAST(usum AS DOUBLE)
        |      > 0 THEN
        |    round((CAST(usum AS DOUBLE) -
        |      CAST(g AS DOUBLE) * CAST(g AS DOUBLE) / n) / (k - 1) /
        |      ((CAST(sstot AS DOUBLE) - CAST(usum AS DOUBLE)) /
        |        (n - k)), 6) END AS f_stat
        |FROM pd WHERE k > 1 AND n > k""".stripMargin,

    // identical hash actions/propensities/targets, identical
    // round-12 DECIMAL w / w·r / w² sums
    "q413_ips_eval" -> {
      val ha = h48("CAST(o_orderkey AS VARCHAR) || '#a'")
      val hp = h48("CAST(o_orderkey AS VARCHAR) || '#p'")
      val hpi = h48("CAST(o_custkey AS VARCHAR) || '#pi'")
      s"""WITH o AS (
         |  SELECT CAST(floor($ha * 4) AS BIGINT) AS act,
         |    (1 + floor($hp * 512)) / 1024.0 AS prop,
         |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS r,
         |    CAST(floor($hpi * 4) AS BIGINT) AS tgt
         |  FROM orders),
         |b AS (
         |  SELECT CASE WHEN act = tgt THEN 1 ELSE 0 END AS m,
         |    prop AS p, CAST(r AS DOUBLE) AS r
         |  FROM o WHERE prop > 0 AND prop <= 1),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(m) AS BIGINT) AS n_matched,
         |    sum(CAST(round(m / p, 12) AS DECIMAL(38,12))) AS wsum,
         |    sum(CAST(round((m / p) * r, 12) AS DECIMAL(38,12)))
         |      AS wrsum,
         |    sum(CAST(round((m / p) * (m / p), 12)
         |      AS DECIMAL(38,12))) AS w2sum
         |  FROM b)
         |SELECT n, n_matched,
         |  round(CAST(wrsum AS DOUBLE) / n, 9) AS v_ips,
         |  CASE WHEN wsum > 0 THEN
         |    round(CAST(wrsum AS DOUBLE) / CAST(wsum AS DOUBLE), 9)
         |    END AS v_snips,
         |  CASE WHEN w2sum > 0 THEN
         |    round(CAST(wsum AS DOUBLE) * CAST(wsum AS DOUBLE) /
         |      CAST(w2sum AS DOUBLE), 6) END AS ess
         |FROM a""".stripMargin
    },

    // identical per-step 40-bit-masked polynomial k-gram hashes
    // (BIGINT & == Spark's ANSI-safe masked recurrence), identical
    // rightmost-min window selection
    "q414_winnowing" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < 300 AND text IS NOT NULL
        |    AND length(text) >= 11),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 8 + 2),
        |      i -> list_reduce(
        |        list_prepend(CAST(549755813881 AS BIGINT),
        |          list_transform(range(i, i + 8),
        |            j -> CAST(ord(substr(text, CAST(j AS INTEGER),
        |              1)) AS BIGINT))),
        |        (acc, b) -> (31 * acc + b) & 1099511627775)) AS hs
        |  FROM d),
        |sel0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(hs) - 4 + 2), p ->
        |      struct_pack(
        |        pos := p + list_max(list_filter(range(0, 4),
        |          q -> hs[CAST(p + q AS INTEGER)] =
        |            list_min(hs[p : p + 3]))),
        |        fp := list_min(hs[p : p + 3])))) AS z
        |  FROM h)
        |SELECT DISTINCT doc_id, CAST(z.pos AS BIGINT) AS pos,
        |  CAST(z.fp AS BIGINT) AS fp
        |FROM sel0""".stripMargin,

    // same per-class cells as q426, identical R_K expression with
    // the two separate sqrt factors
    "q440_multiclass_mcc" -> {
      val hm = h48("CAST(o_orderkey AS VARCHAR) || '#mc'")
      val hp = h48("CAST(o_orderkey AS VARCHAR) || '#mp'")
      val ha = h48("CAST(o_orderkey AS VARCHAR) || '#ag'")
      s"""WITH o AS (
         |  SELECT CAST(floor($hm * 4) AS BIGINT) AS y,
         |    CASE WHEN $ha < 0.7 THEN CAST(floor($hm * 4) AS BIGINT)
         |      ELSE CAST(floor($hp * 4) AS BIGINT) END AS p
         |  FROM orders),
         |cls AS (SELECT DISTINCT y AS cls FROM o
         |        UNION SELECT DISTINCT p FROM o),
         |tp AS (SELECT y AS cls, CAST(count(*) AS BIGINT) AS tp
         |       FROM o WHERE y = p GROUP BY 1),
         |sup AS (SELECT y AS cls, CAST(count(*) AS BIGINT) AS support
         |        FROM o GROUP BY 1),
         |prd AS (SELECT p AS cls, CAST(count(*) AS BIGINT)
         |          AS predicted FROM o GROUP BY 1),
         |j AS (
         |  SELECT c.cls, coalesce(s.support, 0) AS support,
         |    coalesce(pr.predicted, 0) AS predicted,
         |    coalesce(t.tp, 0) AS tp
         |  FROM cls c LEFT JOIN tp t USING (cls)
         |  LEFT JOIN sup s USING (cls) LEFT JOIN prd pr USING (cls)),
         |a AS (
         |  SELECT CAST(sum(support) AS BIGINT) AS n,
         |    CAST(sum(tp) AS BIGINT) AS c,
         |    CAST(sum(support * predicted) AS BIGINT) AS pt,
         |    CAST(sum(predicted * predicted) AS BIGINT) AS p2,
         |    CAST(sum(support * support) AS BIGINT) AS t2
         |  FROM j)
         |SELECT n, c AS n_correct,
         |  CASE WHEN n * n - p2 > 0 AND n * n - t2 > 0 THEN
         |    round(CAST(c * n - pt AS DOUBLE) /
         |      (sqrt(CAST(n * n - p2 AS DOUBLE)) *
         |       sqrt(CAST(n * n - t2 AS DOUBLE))), 9) END AS mcc
         |FROM a""".stripMargin
    },

    // identical synthesized annotations, identical mode-n keep rule,
    // round-12 DECIMAL P_i / p_c² sums
    "q439_fleiss_kappa" -> {
      val hb = h48("CAST(u AS VARCHAR) || '#base'")
      val hr = h48("CAST(u AS VARCHAR) || '#r' || CAST(rater AS VARCHAR)")
      val ha = h48("CAST(u AS VARCHAR) || '#ag' || CAST(rater AS VARCHAR)")
      s"""WITH o AS (
         |  SELECT o_orderkey AS u, r.rater
         |  FROM orders CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5])
         |    AS rater) r
         |  WHERE o_orderkey < 2000),
         |ann AS (
         |  SELECT u, CASE WHEN $ha < 0.6
         |    THEN CAST(floor($hb * 3) AS BIGINT)
         |    ELSE CAST(floor($hr * 3) AS BIGINT) END AS rating
         |  FROM o),
         |cells AS (
         |  SELECT u, rating AS c, CAST(count(*) AS BIGINT) AS nic
         |  FROM ann GROUP BY 1, 2),
         |perunit AS (
         |  SELECT u, CAST(sum(nic) AS BIGINT) AS n,
         |    CAST(sum(nic * nic) AS BIGINT) AS s2
         |  FROM cells GROUP BY 1),
         |nmode AS (
         |  SELECT n AS n_raters FROM (
         |    SELECT n, count(*) AS cnt FROM perunit GROUP BY 1)
         |  ORDER BY cnt DESC, n LIMIT 1),
         |kept AS (SELECT p.* FROM perunit p JOIN nmode
         |         ON p.n = nmode.n_raters),
         |dropped AS (
         |  SELECT CAST(sum(CASE WHEN p.n <> nmode.n_raters
         |    THEN 1 ELSE 0 END) AS BIGINT) AS units_dropped
         |  FROM perunit p CROSS JOIN nmode),
         |pbar AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_units,
         |    sum(CAST(round(CAST(s2 - n AS DOUBLE) /
         |      (n * (n - 1)), 12) AS DECIMAL(38,12))) AS psum
         |  FROM kept),
         |pe AS (
         |  SELECT sum(CAST(round((CAST(mc AS DOUBLE) / tot) *
         |    (CAST(mc AS DOUBLE) / tot), 12) AS DECIMAL(38,12)))
         |    AS pe
         |  FROM (SELECT c, CAST(sum(nic) AS BIGINT) AS mc
         |    FROM cells JOIN kept USING (u) GROUP BY 1) q
         |  CROSS JOIN (SELECT CAST(sum(n) AS BIGINT) AS tot
         |    FROM kept) t)
         |SELECT n_units, n_raters, units_dropped,
         |  round(CAST(psum AS DOUBLE) / n_units, 9) AS p_bar,
         |  round(CAST(pe AS DOUBLE), 9) AS p_e,
         |  round((CAST(psum AS DOUBLE) / n_units -
         |    CAST(pe AS DOUBLE)) / (1.0 - CAST(pe AS DOUBLE)), 9)
         |    AS kappa
         |FROM pbar CROSS JOIN pe CROSS JOIN dropped
         |CROSS JOIN nmode""".stripMargin
    },

    // identical n-gram count vectors, reference-side idf, clipped
    // dot / norms as round-12 DECIMAL sums, identical penalty and
    // association order everywhere
    "q438_cider_d" ->
      raw"""WITH tk AS (
        |  SELECT a.doc_id AS pid,
        |    list_transform(list_filter(regexp_split_to_array(
        |      trim(a.text), '\s+'), t -> len(t) > 0)[1:25],
        |      t -> lower(t)) AS ct,
        |    list_transform(list_filter(regexp_split_to_array(
        |      trim(b.text), '\s+'), t -> len(t) > 0)[1:25],
        |      t -> lower(t)) AS rt
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS nrefs FROM tk),
        |ng AS (SELECT pid, ct, rt, unnest([1, 2, 3, 4]) AS n
        |       FROM tk),
        |gr AS (
        |  SELECT pid, n,
        |    CASE WHEN len(ct) >= n THEN
        |      list_transform(range(1, len(ct) - n + 2), i ->
        |        array_to_string(ct[CAST(i AS INTEGER) :
        |          CAST(i + n - 1 AS INTEGER)], ' '))
        |      ELSE [] END AS cg,
        |    CASE WHEN len(rt) >= n THEN
        |      list_transform(range(1, len(rt) - n + 2), i ->
        |        array_to_string(rt[CAST(i AS INTEGER) :
        |          CAST(i + n - 1 AS INTEGER)], ' '))
        |      ELSE [] END AS rg
        |  FROM ng),
        |cc AS (SELECT pid, n, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT pid, n, unnest(cg) AS g FROM gr) q
        |  GROUP BY 1, 2, 3),
        |rc AS (SELECT pid, n, g, CAST(count(*) AS BIGINT) AS r
        |  FROM (SELECT pid, n, unnest(rg) AS g FROM gr) q
        |  GROUP BY 1, 2, 3),
        |idf AS (
        |  SELECT n, g, ln(CAST(nrefs AS DOUBLE) / df) AS idf
        |  FROM (SELECT n, g, CAST(count(*) AS BIGINT) AS df
        |    FROM rc GROUP BY 1, 2) q CROSS JOIN nn),
        |fullv AS (
        |  SELECT pid, n, g, coalesce(cc.c, 0) AS c,
        |    coalesce(rc.r, 0) AS r,
        |    coalesce(idf.idf, ln(CAST(nn.nrefs AS DOUBLE))) AS w
        |  FROM cc FULL JOIN rc USING (pid, n, g)
        |  LEFT JOIN idf USING (n, g) CROSS JOIN nn),
        |pern AS (
        |  SELECT pid, n,
        |    sum(CAST(round(CAST(least(c, r) AS DOUBLE) * r * w * w,
        |      12) AS DECIMAL(38,12))) AS dot,
        |    sum(CAST(round(CAST(c AS DOUBLE) * c * w * w, 12)
        |      AS DECIMAL(38,12))) AS c2,
        |    sum(CAST(round(CAST(r AS DOUBLE) * r * w * w, 12)
        |      AS DECIMAL(38,12))) AS r2
        |  FROM fullv GROUP BY 1, 2),
        |lens AS (SELECT pid, CAST(len(ct) AS BIGINT) AS lc,
        |         CAST(len(rt) AS BIGINT) AS lr FROM tk),
        |sc AS (
        |  SELECT p.pid,
        |    CASE WHEN c2 > 0 AND r2 > 0 THEN
        |      exp(CAST(lc - lr AS DOUBLE) * (lc - lr) *
        |        (-1.0 / 72)) * CAST(dot AS DOUBLE) /
        |        (sqrt(CAST(c2 AS DOUBLE)) * sqrt(CAST(r2 AS DOUBLE)))
        |      ELSE 0.0 END AS score_n
        |  FROM pern p JOIN lens USING (pid))
        |SELECT s.pid, lc, lr,
        |  round(10.0 * CAST(sum(CAST(round(score_n, 12)
        |    AS DECIMAL(38,12))) AS DOUBLE) / 4, 9) AS cider_d
        |FROM sc s JOIN lens USING (pid) GROUP BY 1, 2, 3""".stripMargin,

    // identical duel counts, 3 unrolled MM rounds with round-12
    // DECIMAL opponent sums, identical final normalization
    "q437_bradley_terry" -> {
      def rnd(i: Int): String =
        s"""d$i AS MATERIALIZED (
           |  SELECT g.a AS id,
           |    sum(CAST(round(CAST(g.n AS DOUBLE) /
           |      (pa.p + pb.p), 12) AS DECIMAL(38,12))) AS den
           |  FROM games g
           |  JOIN p${i - 1} pa ON pa.id = g.a
           |  JOIN p${i - 1} pb ON pb.id = g.b
           |  GROUP BY 1),
           |p$i AS MATERIALIZED (
           |  SELECT w.id,
           |    CASE WHEN d.den IS NOT NULL AND d.den > 0 THEN
           |      CAST(w.wins AS DOUBLE) / CAST(d.den AS DOUBLE)
           |      ELSE 0.0 END AS p
           |  FROM winsof w LEFT JOIN d$i d ON d.id = w.id)""".stripMargin
      s"""WITH e AS (
         |  SELECT x.l_suppkey AS w, y.l_suppkey AS l,
         |    CAST(count(*) AS BIGINT) AS k
         |  FROM lineitem x JOIN lineitem y
         |    ON x.l_orderkey = y.l_orderkey
         |   AND x.l_suppkey <> y.l_suppkey
         |   AND CAST(round(x.l_extendedprice * 100) AS BIGINT) >
         |       CAST(round(y.l_extendedprice * 100) AS BIGINT)
         |  GROUP BY 1, 2),
         |games AS (
         |  SELECT a, b, CAST(sum(k) AS BIGINT) AS n FROM (
         |    SELECT w AS a, l AS b, k FROM e
         |    UNION ALL SELECT l, w, k FROM e) q
         |  GROUP BY 1, 2),
         |players AS (SELECT DISTINCT a AS id FROM games),
         |winsof AS (
         |  SELECT p.id, CAST(coalesce(s.wins, 0) AS BIGINT) AS wins
         |  FROM players p LEFT JOIN (
         |    SELECT w AS id, CAST(sum(k) AS BIGINT) AS wins
         |    FROM e GROUP BY 1) s ON s.id = p.id),
         |p0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS p FROM players),
         |${rnd(1)},
         |${rnd(2)},
         |${rnd(3)},
         |tot AS (SELECT sum(CAST(round(p, 12) AS DECIMAL(38,12)))
         |        AS tp FROM p3)
         |SELECT CAST(w.id AS BIGINT) AS id, w.wins,
         |  round(p3.p, 9) AS strength,
         |  CASE WHEN tp > 0 THEN
         |    round(p3.p / CAST(tp AS DOUBLE), 9) END AS share
         |FROM winsof w JOIN p3 ON p3.id = w.id CROSS JOIN tot""".stripMargin
    },

    // LCS replayed as a recursive-CTE DP over rows-as-lists with
    // the prefix-max reformulation (new[j] = max(old[j],
    // max_{k<=j}(old[k-1] + eq_k)) — the left-to-right dependency
    // eliminated, so each row is one list_transform)
    "q436_rouge_l" ->
      raw"""WITH RECURSIVE
        |tk AS (
        |  SELECT a.doc_id AS pid,
        |    list_transform(list_filter(regexp_split_to_array(
        |      trim(a.text), '\s+'), t -> len(t) > 0)[1:25],
        |      t -> lower(t)) AS ct,
        |    list_transform(list_filter(regexp_split_to_array(
        |      trim(b.text), '\s+'), t -> len(t) > 0)[1:25],
        |      t -> lower(t)) AS rt
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 1),
        |dims AS (SELECT pid, ct, rt, len(ct) AS n, len(rt) AS m
        |         FROM tk),
        |dp(pid, i, row) AS (
        |  SELECT pid, 0, list_transform(range(0, m + 1),
        |    x -> CAST(0 AS BIGINT)) FROM dims
        |  UNION ALL
        |  SELECT d.pid, dp.i + 1,
        |    list_transform(range(0, d.m + 1), j ->
        |      CASE WHEN j = 0 THEN CAST(0 AS BIGINT) ELSE
        |        greatest(dp.row[CAST(j + 1 AS INTEGER)],
        |          list_max(list_transform(
        |            range(1, CAST(j + 1 AS INTEGER)), k ->
        |            dp.row[CAST(k AS INTEGER)] +
        |            CASE WHEN d.rt[CAST(k AS INTEGER)] =
        |              d.ct[CAST(dp.i + 1 AS INTEGER)]
        |              THEN 1 ELSE 0 END)))
        |      END)
        |  FROM dp JOIN dims d USING (pid) WHERE dp.i < d.n),
        |fin AS (
        |  SELECT pid, coalesce(row[-1], 0) AS lcs, n, m
        |  FROM dp JOIN dims USING (pid) WHERE i = n)
        |SELECT pid, CAST(lcs AS BIGINT) AS lcs,
        |  CAST(n AS BIGINT) AS n_cand, CAST(m AS BIGINT) AS n_ref,
        |  CASE WHEN n > 0 THEN
        |    round(CAST(lcs AS DOUBLE) / n, 9) END AS rouge_l_p,
        |  CASE WHEN m > 0 THEN
        |    round(CAST(lcs AS DOUBLE) / m, 9) END AS rouge_l_r,
        |  CASE WHEN n + m > 0 THEN
        |    round(2.0 * lcs / (n + m), 9) END AS rouge_l_f
        |FROM fin""".stripMargin,

    // identical content-hash groups, identical (score, -id) argmax
    "q435_dedup_retention" ->
      """WITH base AS (
        |  SELECT md5(text) AS h, doc_id, n_chars AS score
        |  FROM documents
        |  WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        |best AS (
        |  SELECT h, CAST(count(*) AS BIGINT) AS group_size,
        |    max(struct_pack(s := score, n := -doc_id)) AS bb
        |  FROM base GROUP BY 1 HAVING count(*) >= 2)
        |SELECT b.doc_id, -((bb).n) AS canonical_id, group_size,
        |  CAST(b.score AS BIGINT) AS score,
        |  b.doc_id = -((bb).n) AS is_canonical
        |FROM base b JOIN best USING (h)""".stripMargin,

    // identical cell/global counts, round-12 DECIMAL entropy and
    // TVD term sums
    "q432_l_diversity" ->
      """WITH o AS (
        |  SELECT c_mktsegment AS seg, o_orderpriority AS pri,
        |    o_orderstatus AS status
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderstatus IS NOT NULL),
        |cell AS (
        |  SELECT seg, pri, status, CAST(count(*) AS BIGINT) AS ns
        |  FROM o GROUP BY 1, 2, 3),
        |gcnt AS (SELECT status, CAST(count(*) AS BIGINT) AS gs
        |         FROM o GROUP BY 1),
        |tot AS (SELECT CAST(sum(gs) AS BIGINT) AS g FROM gcnt),
        |cl AS (SELECT seg, pri, CAST(sum(ns) AS BIGINT) AS nc
        |       FROM cell GROUP BY 1, 2),
        |terms AS (
        |  SELECT c.seg, c.pri, cl.nc, c.ns,
        |    CAST(round(-(CAST(c.ns AS DOUBLE) / cl.nc) *
        |      ln(CAST(c.ns AS DOUBLE) / cl.nc), 12)
        |      AS DECIMAL(38,12)) AS h,
        |    CAST(round(abs(CAST(c.ns AS DOUBLE) / cl.nc -
        |      CAST(gl.gs AS DOUBLE) / t.g), 12)
        |      AS DECIMAL(38,12)) AS dd
        |  FROM cell c
        |  JOIN cl ON cl.seg = c.seg AND cl.pri = c.pri
        |  JOIN gcnt gl ON gl.status = c.status
        |  CROSS JOIN tot t)
        |SELECT seg, pri, CAST(any_value(nc) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS l_distinct,
        |  round(CAST(sum(h) AS DOUBLE), 9) AS entropy_nats,
        |  round(exp(CAST(sum(h) AS DOUBLE)), 9) AS entropy_l,
        |  round(CAST(sum(dd) AS DOUBLE) / 2, 9) AS t_closeness
        |FROM terms GROUP BY 1, 2""".stripMargin,

    // each card metric replayed with the identical exact recipe
    "q433_dataset_card" ->
      raw"""WITH base AS (
        |  SELECT text, lang, source,
        |    list_filter(regexp_split_to_array(trim(lower(text)),
        |      '\s+'), x -> length(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |sizes AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |    CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
        |  FROM base),
        |langent AS (
        |  SELECT CAST(sum(h) AS DOUBLE) AS v FROM (
        |    SELECT CAST(round(-(CAST(c AS DOUBLE) / n) *
        |      ln(CAST(c AS DOUBLE) / n), 12) AS DECIMAL(38,12)) AS h
        |    FROM (SELECT lang, CAST(count(*) AS BIGINT) AS c
        |          FROM base WHERE lang IS NOT NULL GROUP BY 1) q
        |    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n
        |          FROM base WHERE lang IS NOT NULL) t)),
        |srcent AS (
        |  SELECT CAST(sum(h) AS DOUBLE) AS v FROM (
        |    SELECT CAST(round(-(CAST(c AS DOUBLE) / n) *
        |      ln(CAST(c AS DOUBLE) / n), 12) AS DECIMAL(38,12)) AS h
        |    FROM (SELECT source, CAST(count(*) AS BIGINT) AS c
        |          FROM base WHERE source IS NOT NULL GROUP BY 1) q
        |    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n
        |          FROM base WHERE source IS NOT NULL) t)),
        |hap AS (
        |  SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) *
        |    1000000 // count(*) AS BIGINT) AS v
        |  FROM (SELECT w, count(*) AS c FROM (
        |    SELECT unnest(tk) AS w FROM base) q GROUP BY 1))
        |SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value
        |  FROM sizes
        |UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE)
        |  FROM sizes
        |UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE)
        |  FROM sizes
        |UNION ALL SELECT 'exact_dup_ppm',
        |  CAST((n_docs - n_distinct) * 1000000 // n_docs AS DOUBLE)
        |  FROM sizes
        |UNION ALL SELECT 'mean_chars',
        |  CAST(n_chars // n_docs AS DOUBLE) FROM sizes
        |UNION ALL SELECT 'lang_entropy_nats', v FROM langent
        |UNION ALL SELECT 'source_entropy_nats', v FROM srcent
        |UNION ALL SELECT 'hapax_share_ppm', CAST(v AS DOUBLE)
        |  FROM hap""".stripMargin,

    // identical regexp/keyword counts, identical integer ppm score
    "q429_code_score" ->
      raw"""WITH per AS (
        |  SELECT doc_id, source, length(text) AS nc,
        |    length(text) - length(regexp_replace(text,
        |      '[{}\[\]();=<>#]', '', 'g')) AS ncc,
        |    len(list_filter(list_filter(
        |      regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> length(x) > 0),
        |      w -> w IN ('def', 'return', 'import', 'class', 'void',
        |        'int', 'var', 'const', 'function'))) AS nkw,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)),
        |      '\s+'), x -> length(x) > 0)) AS nw
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0),
        |sc AS (
        |  SELECT source,
        |    CAST(ncc * 1000000 // nc AS BIGINT) +
        |    CAST(CASE WHEN nw > 0 THEN nkw * 2000000 // nw
        |      ELSE 0 END AS BIGINT) AS score_ppm,
        |    ncc
        |  FROM per)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN score_ppm >= 100000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_code,
        |  CAST(sum(score_ppm) AS BIGINT) AS score_sum,
        |  CAST(sum(ncc) AS BIGINT) AS codechars,
        |  CAST(sum(score_ppm) // count(*) AS BIGINT)
        |    AS mean_score_ppm
        |FROM sc GROUP BY 1""".stripMargin,

    // identical repeated-multiplication power expansion, inlined
    // s_half literal from the same Scala computation
    "q430_lsh_plan" -> {
      val sStar = math.pow(1.0 / 16, 1.0 / 8)
      val s8 = Seq.fill(8)("s").mkString(" * ")
      val m16 = Seq.fill(16)("(1.0 - s8)").mkString(" * ")
      s"""WITH g AS (
         |  SELECT CAST(i AS INTEGER) AS i,
         |    CAST(i AS DOUBLE) / 20 AS s
         |  FROM generate_series(1, 19) AS t(i)),
         |x AS (SELECT i, s, $s8 AS s8 FROM g),
         |y AS (SELECT i, s, 1.0 - ($m16) AS p FROM x)
         |SELECT i, round(s, 9) AS s, round(p, 9) AS p_detect,
         |  round($sStar, 9) AS s_half,
         |  p >= 0.5 AS above_half
         |FROM y""".stripMargin
    },

    // identical per-key top-(k+1) value multiset, round-12 DECIMAL
    // ln-ratio sums
    "q431_hill" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS vc
        |  FROM orders
        |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |rk AS (
        |  SELECT pri, vc, row_number() OVER (PARTITION BY pri
        |    ORDER BY vc DESC) AS r
        |  FROM o),
        |xk1 AS (SELECT pri, CAST(vc AS DOUBLE) AS xk1
        |        FROM rk WHERE r = 101),
        |top AS (SELECT pri, vc FROM rk WHERE r <= 100)
        |SELECT t.pri, CAST(count(*) AS BIGINT) AS k_used,
        |  any_value(xk1) AS x_k1,
        |  round(CAST(sum(CAST(round(ln(CAST(vc AS DOUBLE) / xk1),
        |    12) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 9)
        |    AS hill,
        |  CASE WHEN sum(CAST(round(ln(CAST(vc AS DOUBLE) / xk1), 12)
        |    AS DECIMAL(38,12))) > 0 THEN
        |    round(CAST(count(*) AS DOUBLE) /
        |      CAST(sum(CAST(round(ln(CAST(vc AS DOUBLE) / xk1), 12)
        |        AS DECIMAL(38,12))) AS DOUBLE), 9) END AS alpha
        |FROM top t JOIN xk1 USING (pri) GROUP BY 1""".stripMargin,

    // identical hash task, identical one-vs-rest cell algebra
    "q426_multiclass" -> {
      val hm = h48("CAST(o_orderkey AS VARCHAR) || '#mc'")
      val hp = h48("CAST(o_orderkey AS VARCHAR) || '#mp'")
      val ha = h48("CAST(o_orderkey AS VARCHAR) || '#ag'")
      s"""WITH o AS (
         |  SELECT CAST(floor($hm * 4) AS BIGINT) AS y,
         |    CASE WHEN $ha < 0.7 THEN CAST(floor($hm * 4) AS BIGINT)
         |      ELSE CAST(floor($hp * 4) AS BIGINT) END AS p
         |  FROM orders),
         |cls AS (SELECT DISTINCT y AS cls FROM o
         |        UNION SELECT DISTINCT p FROM o),
         |tp AS (SELECT y AS cls, CAST(count(*) AS BIGINT) AS tp
         |       FROM o WHERE y = p GROUP BY 1),
         |sup AS (SELECT y AS cls, CAST(count(*) AS BIGINT) AS support
         |        FROM o GROUP BY 1),
         |prd AS (SELECT p AS cls, CAST(count(*) AS BIGINT)
         |          AS predicted FROM o GROUP BY 1),
         |j AS (
         |  SELECT c.cls, coalesce(s.support, 0) AS support,
         |    coalesce(pr.predicted, 0) AS predicted,
         |    coalesce(t.tp, 0) AS tp
         |  FROM cls c LEFT JOIN tp t USING (cls)
         |  LEFT JOIN sup s USING (cls) LEFT JOIN prd pr USING (cls))
         |SELECT cls, support, predicted, tp,
         |  predicted - tp AS fp, support - tp AS fn,
         |  CASE WHEN predicted > 0 THEN
         |    round(CAST(tp AS DOUBLE) / predicted, 9) END
         |    AS precision,
         |  CASE WHEN support > 0 THEN
         |    round(CAST(tp AS DOUBLE) / support, 9) END AS recall,
         |  CASE WHEN support + predicted > 0 THEN
         |    round(2.0 * tp / (support + predicted), 9) END AS f1
         |FROM j""".stripMargin
    },

    // same per-class cells, round-12 DECIMAL macro sums,
    // zero_division -> 0
    "q427_multiclass_macro" -> {
      val hm = h48("CAST(o_orderkey AS VARCHAR) || '#mc'")
      val hp = h48("CAST(o_orderkey AS VARCHAR) || '#mp'")
      val ha = h48("CAST(o_orderkey AS VARCHAR) || '#ag'")
      s"""WITH o AS (
         |  SELECT CAST(floor($hm * 4) AS BIGINT) AS y,
         |    CASE WHEN $ha < 0.7 THEN CAST(floor($hm * 4) AS BIGINT)
         |      ELSE CAST(floor($hp * 4) AS BIGINT) END AS p
         |  FROM orders),
         |cls AS (SELECT DISTINCT y AS cls FROM o
         |        UNION SELECT DISTINCT p FROM o),
         |tp AS (SELECT y AS cls, CAST(count(*) AS BIGINT) AS tp
         |       FROM o WHERE y = p GROUP BY 1),
         |sup AS (SELECT y AS cls, CAST(count(*) AS BIGINT) AS support
         |        FROM o GROUP BY 1),
         |prd AS (SELECT p AS cls, CAST(count(*) AS BIGINT)
         |          AS predicted FROM o GROUP BY 1),
         |j AS (
         |  SELECT c.cls, coalesce(s.support, 0) AS support,
         |    coalesce(pr.predicted, 0) AS predicted,
         |    coalesce(t.tp, 0) AS tp
         |  FROM cls c LEFT JOIN tp t USING (cls)
         |  LEFT JOIN sup s USING (cls) LEFT JOIN prd pr USING (cls)),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k,
         |    CAST(sum(support) AS BIGINT) AS n,
         |    CAST(sum(tp) AS BIGINT) AS tpsum,
         |    sum(CAST(round(coalesce(CASE WHEN predicted > 0 THEN
         |      CAST(tp AS DOUBLE) / predicted END, 0.0), 12)
         |      AS DECIMAL(38,12))) AS ps,
         |    sum(CAST(round(coalesce(CASE WHEN support > 0 THEN
         |      CAST(tp AS DOUBLE) / support END, 0.0), 12)
         |      AS DECIMAL(38,12))) AS rs,
         |    sum(CAST(round(coalesce(CASE WHEN support + predicted
         |      > 0 THEN 2.0 * tp / (support + predicted) END, 0.0),
         |      12) AS DECIMAL(38,12))) AS fs
         |  FROM j)
         |SELECT k AS n_classes, n,
         |  CAST(tpsum * 1000000 // n AS BIGINT) AS accuracy_ppm,
         |  round(CAST(ps AS DOUBLE) / k, 9) AS macro_precision,
         |  round(CAST(rs AS DOUBLE) / k, 9) AS macro_recall,
         |  round(CAST(fs AS DOUBLE) / k, 9) AS macro_f1
         |FROM a""".stripMargin
    },

    // identical distinct-threshold cumulative cells; best flags ==
    // row_number over the identical tie-break
    "q428_roc_youden" -> {
      val hs = h48("CAST(o_orderkey AS VARCHAR) || '#s'")
      s"""WITH o AS (
         |  SELECT (o_orderstatus = 'F') AS y,
         |    floor($hs * 1024) / 1024 AS p
         |  FROM orders),
         |per AS (
         |  SELECT p AS threshold,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
         |      AS posc,
         |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT)
         |      AS negc
         |  FROM o GROUP BY 1),
         |tot AS (SELECT CAST(sum(posc) AS BIGINT) AS np,
         |        CAST(sum(negc) AS BIGINT) AS nn FROM per),
         |cum AS (
         |  SELECT threshold, np, nn,
         |    CAST(sum(posc) OVER w AS BIGINT) AS tp,
         |    CAST(sum(negc) OVER w AS BIGINT) AS fp
         |  FROM per CROSS JOIN tot
         |  WINDOW w AS (ORDER BY threshold DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |x AS (
         |  SELECT threshold, tp, fp, np - tp AS fn,
         |    CASE WHEN np > 0 THEN CAST(tp AS DOUBLE) / np END
         |      AS tpr,
         |    CASE WHEN nn > 0 THEN CAST(fp AS DOUBLE) / nn END
         |      AS fpr,
         |    CASE WHEN np > 0 THEN CAST(tp AS DOUBLE) / np END -
         |      CASE WHEN nn > 0 THEN CAST(fp AS DOUBLE) / nn END
         |      AS youden_j,
         |    1.0 * fp + 4.0 * (np - tp) AS exp_cost
         |  FROM cum)
         |SELECT threshold, tp, fp, fn,
         |  round(tpr, 9) AS tpr, round(fpr, 9) AS fpr,
         |  round(youden_j, 9) AS youden_j,
         |  round(exp_cost, 6) AS exp_cost,
         |  row_number() OVER (ORDER BY youden_j DESC,
         |    threshold ASC) = 1 AS is_j_best,
         |  row_number() OVER (ORDER BY exp_cost ASC,
         |    threshold ASC) = 1 AS is_cost_best
         |FROM x""".stripMargin
    },

    // both neighborhoods replayed with the q47 cosine, identical
    // (score desc, id) ranks, Scala-printed geometric weight
    // literals, round-12 DECIMAL depth-term cumsum
    "q423_rbo" -> {
      val weights = Array.iterate(1.0, 10)(_ * 0.9)
      val wCase = weights.zipWithIndex.map { case (wv, i) =>
        s"WHEN ${i + 1} THEN ${wv}"
      }.mkString(" ")
      s"""WITH sc AS (
         |  SELECT l, id,
         |    round(list_dot_product(ev, qv) /
         |      (sqrt(list_dot_product(ev, ev)) *
         |       sqrt(list_dot_product(qv, qv))), 6) AS score
         |  FROM (
         |    SELECT 'qa' AS l, e.vec_id AS id,
         |      CAST(e.embedding AS DOUBLE[]) AS ev,
         |      CAST(q.embedding AS DOUBLE[]) AS qv
         |    FROM embeddings e, embeddings q
         |    WHERE q.vec_id = 0 AND e.vec_id <> 0
         |    UNION ALL
         |    SELECT 'qb', e.vec_id,
         |      CAST(e.embedding AS DOUBLE[]),
         |      CAST(q.embedding AS DOUBLE[])
         |    FROM embeddings e, embeddings q
         |    WHERE q.vec_id = 1 AND e.vec_id <> 1)),
         |rk AS (
         |  SELECT l, id, row_number() OVER (PARTITION BY l
         |    ORDER BY score DESC, id ASC) AS r
         |  FROM sc),
         |j AS (
         |  SELECT greatest(a.r, b.r) AS mind
         |  FROM (SELECT id, r FROM rk WHERE l = 'qa' AND r <= 10) a
         |  JOIN (SELECT id, r FROM rk WHERE l = 'qb' AND r <= 10) b
         |    USING (id)),
         |hist AS (
         |  SELECT mind AS d0, CAST(count(*) AS BIGINT) AS c
         |  FROM j GROUP BY 1),
         |per AS (
         |  SELECT g.d AS d,
         |    CAST(sum(coalesce(h.c, 0)) OVER (ORDER BY g.d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS overlap
         |  FROM generate_series(1, 10) AS g(d)
         |  LEFT JOIN hist h ON h.d0 = g.d),
         |t AS (
         |  SELECT CAST(d AS INTEGER) AS d, overlap,
         |    CAST(overlap AS DOUBLE) / d AS agreement,
         |    CAST(round((CASE d $wCase END) * overlap / d, 12)
         |      AS DECIMAL(38,12)) AS tt
         |  FROM per)
         |SELECT d, overlap, round(agreement, 9) AS agreement,
         |  round((1.0 - 0.9) * CAST(sum(tt) OVER (ORDER BY d
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS DOUBLE), 9) AS rbo
         |FROM t""".stripMargin
    },

    // identical word-keyed counts, exact hapax/ppm arithmetic
    "q424_good_turing" ->
      raw"""WITH toks AS (
        |  SELECT source AS g, unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0)) AS w
        |  FROM documents
        |  WHERE source IS NOT NULL AND text IS NOT NULL),
        |c AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
        |      FROM toks GROUP BY 1, 2)
        |SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n1,
        |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n2,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 //
        |    sum(c) AS BIGINT) AS unseen_ppm,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 //
        |    count(*) AS BIGINT) AS hapax_share_ppm
        |FROM c GROUP BY 1""".stripMargin,

    // segmentation replayed as the q348-verified non-overlapping
    // replace chain on the separator-encoded form, exact counts
    "q425_bpe_fertility" ->
      raw"""WITH words AS (
        |  SELECT source AS g, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(list_filter(
        |      regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> length(x) > 0)) AS w
        |    FROM documents
        |    WHERE source IS NOT NULL AND text IS NOT NULL) q
        |  WHERE regexp_matches(w, '^[a-z]{1,12}$$')
        |  GROUP BY 1, 2),
        |seg AS (
        |  SELECT w, CAST(len(string_split(trim(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(w, '(.)', ' \1 ', 'g'),
        |      ' t  h ', ' th '),
        |      ' th  e ', ' the '),
        |      ' i  n ', ' in '),
        |      ' a  n ', ' an '),
        |      ' o  n ', ' on ')), '  ')) AS BIGINT) AS pieces
        |  FROM (SELECT DISTINCT w FROM words))
        |SELECT g, CAST(sum(c) AS BIGINT) AS n_words,
        |  CAST(sum(c * pieces) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN pieces = 1 THEN c ELSE 0 END)
        |    AS BIGINT) AS n_single,
        |  CAST(sum(c * pieces) * 1000000 // sum(c) AS BIGINT)
        |    AS fertility_ppm,
        |  CAST(sum(CASE WHEN pieces = 1 THEN c ELSE 0 END) *
        |    1000000 // sum(c) AS BIGINT) AS single_piece_ppm
        |FROM words JOIN seg USING (w) GROUP BY 1""".stripMargin,

    // identical md5-lottery group assignment, identical counts and
    // structural leakage bound
    "q418_group_split" -> {
      val hg = h48("CAST(user_id AS VARCHAR) || 'gs'")
      s"""WITH sp AS (
         |  SELECT user_id,
         |    CASE WHEN $hg * 1000 < 200 THEN 'test'
         |      ELSE 'train' END AS split
         |  FROM events),
         |pu AS (
         |  SELECT CAST(max(k) AS BIGINT) AS max_splits_per_user
         |  FROM (SELECT user_id, count(DISTINCT split) AS k
         |        FROM sp GROUP BY 1))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  max_splits_per_user
         |FROM sp CROSS JOIN pu GROUP BY 1, 4""".stripMargin
    },

    // identical dyadic score, identical confident/flagged predicates
    "q419_label_noise" -> {
      val hs = h48("CAST(o_orderkey AS VARCHAR) || '#s'")
      s"""WITH o AS (
         |  SELECT (o_orderstatus = 'F') AS y,
         |    floor($hs * 1024) / 1024 AS p
         |  FROM orders),
         |g AS (
         |  SELECT y AS label, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN p >= 0.9 OR p <= 0.1
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_confident,
         |    CAST(sum(CASE WHEN (y AND p <= 0.1) OR
         |      (NOT y AND p >= 0.9) THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_flagged
         |  FROM o WHERE p >= 0 AND p <= 1 GROUP BY 1)
         |SELECT label, n, n_confident, n_flagged,
         |  CAST(n_flagged * 1000000 // n AS BIGINT) AS flagged_ppm
         |FROM g""".stripMargin
    },

    // identical regexp char-class counts, exact ppm via `//`
    "q420_script_mix" ->
      """WITH per AS (
        |  SELECT source, length(text) AS nc,
        |    length(text) - length(regexp_replace(text,
        |      '[a-zA-Z]', '', 'g')) AS na,
        |    length(text) - length(regexp_replace(text,
        |      '[0-9]', '', 'g')) AS nd,
        |    length(text) - length(regexp_replace(text,
        |      '[ \t\n\r]', '', 'g')) AS ns
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS chars,
        |  CAST(sum(na) AS BIGINT) AS alpha,
        |  CAST(sum(nd) AS BIGINT) AS digit,
        |  CAST(sum(ns) AS BIGINT) AS space,
        |  CAST(sum(nc - na - nd - ns) AS BIGINT) AS other,
        |  CAST(sum(na) * 1000000 // sum(nc) AS BIGINT) AS alpha_ppm,
        |  CAST(sum(nc - na - nd - ns) * 1000000 // sum(nc)
        |    AS BIGINT) AS other_ppm
        |FROM per GROUP BY 1""".stripMargin,

    // identical tokenization, cross-multiplied rule predicates,
    // exact ppm pass rates
    "q421_gopher" ->
      raw"""WITH d AS (
        |  SELECT text,
        |    list_filter(regexp_split_to_array(trim(lower(text)),
        |      '\s+'), x -> length(x) > 0) AS tk,
        |    length(text) - length(regexp_replace(text,
        |      '[a-zA-Z]', '', 'g')) AS letters,
        |    3 * (length(text) - length(regexp_replace(text,
        |      '[#…]', '', 'g')))
        |      + (length(text) - length(replace(text, '...', '')))
        |      AS symbols3
        |  FROM documents WHERE text IS NOT NULL),
        |f AS (
        |  SELECT len(tk) AS words, letters, symbols3,
        |    len(list_filter(tk, w -> regexp_matches(w, '[a-z]')))
        |      AS alphawords,
        |    len(list_filter(tk, w -> w IN ('the', 'be', 'to', 'of',
        |      'and', 'that', 'have', 'with'))) AS stophits
        |  FROM d),
        |p AS (
        |  SELECT
        |    (words >= 30 AND words <= 100000) AS r0,
        |    (3 * words <= letters AND letters <= 10 * words) AS r1,
        |    (10 * symbols3 <= 3 * words) AS r2,
        |    (5 * alphawords >= 4 * words) AS r3,
        |    (stophits >= 2) AS r4
        |  FROM f),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN r0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |    CAST(sum(CASE WHEN r4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
        |    CAST(sum(CASE WHEN r0 AND r1 AND r2 AND r3 AND r4
        |      THEN 1 ELSE 0 END) AS BIGINT) AS call
        |  FROM p)
        |SELECT * FROM (
        |  SELECT 0 AS rule_idx, 'word_count' AS rule, n AS n_docs,
        |    c0 AS n_pass, CAST(c0 * 1000000 // n AS BIGINT)
        |    AS pass_ppm FROM a
        |  UNION ALL SELECT 1, 'mean_word_len', n, c1,
        |    CAST(c1 * 1000000 // n AS BIGINT) FROM a
        |  UNION ALL SELECT 2, 'symbol_ratio', n, c2,
        |    CAST(c2 * 1000000 // n AS BIGINT) FROM a
        |  UNION ALL SELECT 3, 'alpha_words', n, c3,
        |    CAST(c3 * 1000000 // n AS BIGINT) FROM a
        |  UNION ALL SELECT 4, 'stop_words', n, c4,
        |    CAST(c4 * 1000000 // n AS BIGINT) FROM a
        |  UNION ALL SELECT 5, 'all_rules', n, call,
        |    CAST(call * 1000000 // n AS BIGINT) FROM a)""".stripMargin,

    // the q47 cosine replay per (query, candidate) with different
    // labels, per-query (cosine desc, id) top-3
    "q422_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id,
        |    CAST(embedding AS DOUBLE[]) AS qv, label AS ql
        |  FROM embeddings ORDER BY vec_id LIMIT 20),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neg_id,
        |    e.label AS neg_label,
        |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |      q.qv) /
        |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |        CAST(e.embedding AS DOUBLE[]))) *
        |       sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.label <> q.ql AND e.vec_id <> q.query_id),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neg_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neg_id,
        |  neg_label, cosine
        |FROM rk WHERE rank <= 3""".stripMargin,

    // the q414 fingerprint CTEs + identical postings join, maxDf
    // cap, and single-expression Jaccard
    "q415_winnow_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < 300 AND text IS NOT NULL
        |    AND length(text) >= 11),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 8 + 2),
        |      i -> list_reduce(
        |        list_prepend(CAST(549755813881 AS BIGINT),
        |          list_transform(range(i, i + 8),
        |            j -> CAST(ord(substr(text, CAST(j AS INTEGER),
        |              1)) AS BIGINT))),
        |        (acc, b) -> (31 * acc + b) & 1099511627775)) AS hs
        |  FROM d),
        |sel0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(hs) - 4 + 2), p ->
        |      list_min(hs[p : p + 3]))) AS fp
        |  FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM sel0),
        |perdoc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
        |  FROM fps GROUP BY 1),
        |keep AS (
        |  SELECT fp FROM fps GROUP BY fp
        |  HAVING count(*) >= 2 AND count(*) <= 100),
        |post AS (SELECT f.doc_id, f.fp FROM fps f
        |         JOIN keep USING (fp)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM post a JOIN post b
        |    ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT id_a, id_b, n_shared, pa.nfp AS nfp_a,
        |  pb.nfp AS nfp_b,
        |  round(CAST(n_shared AS DOUBLE) /
        |    (pa.nfp + pb.nfp - n_shared), 9) AS fp_jaccard
        |FROM pairs
        |JOIN perdoc pa ON pa.doc_id = id_a
        |JOIN perdoc pb ON pb.doc_id = id_b""".stripMargin,

    // identical exact count sums, NB2 moment equations, nulls on
    // non-overdispersed keys
    "q416_negbin" ->
      """WITH counts AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS sy,
        |    CAST(sum(c * c) AS BIGINT) AS syy
        |  FROM counts GROUP BY 1),
        |d AS (
        |  SELECT event_type, n,
        |    CAST(sy AS DOUBLE) / n AS mean,
        |    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
        |      AS variance
        |  FROM g WHERE n > 1 AND sy > 0)
        |SELECT event_type, n, round(mean, 9) AS mean,
        |  round(variance, 9) AS variance,
        |  CASE WHEN variance > mean THEN
        |    round(mean * mean / (variance - mean), 9) END AS r_hat,
        |  CASE WHEN variance > mean THEN
        |    round((mean * mean / (variance - mean)) /
        |      ((mean * mean / (variance - mean)) + mean), 9)
        |    END AS p_hat
        |FROM d""".stripMargin,

    // identical per-action exact-ratio reward model, identical
    // round-12 DECIMAL DR term sum
    "q417_dr_eval" -> {
      val ha = h48("CAST(o_orderkey AS VARCHAR) || '#a'")
      val hp = h48("CAST(o_orderkey AS VARCHAR) || '#p'")
      val hpi = h48("CAST(o_custkey AS VARCHAR) || '#pi'")
      s"""WITH o AS (
         |  SELECT CAST(floor($ha * 4) AS BIGINT) AS act,
         |    (1 + floor($hp * 512)) / 1024.0 AS p,
         |    CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
         |      AS DOUBLE) AS r,
         |    CAST(floor($hpi * 4) AS BIGINT) AS tgt
         |  FROM orders WHERE (1 + floor($hp * 512)) / 1024.0 > 0),
         |q AS (
         |  SELECT act, sum(r) / count(*) AS qv
         |  FROM o GROUP BY 1),
         |j AS (
         |  SELECT o.*, qa.qv AS q_act, coalesce(qt.qv, 0.0) AS q_tgt,
         |    CASE WHEN o.act = o.tgt THEN 1 ELSE 0 END AS m
         |  FROM o JOIN q qa ON qa.act = o.act
         |  LEFT JOIN q qt ON qt.act = o.tgt),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(m) AS BIGINT) AS n_matched,
         |    sum(CAST(round(q_tgt + m * (r - q_act) / p, 12)
         |      AS DECIMAL(38,12))) AS tsum
         |  FROM j)
         |SELECT n, n_matched,
         |  round(CAST(tsum AS DOUBLE) / n, 9) AS v_dr
         |FROM a""".stripMargin
    },

    // identical hash-derived durations/causes, identical
    // exp-of-ln-sum survival and ascending-order CIF window sums
    "q409_cif" -> {
      val hd = h48("CAST(o_orderkey AS VARCHAR) || '#d'")
      val hc = h48("CAST(o_orderkey AS VARCHAR) || '#c'")
      s"""WITH o AS (
         |  SELECT CAST(1 + floor($hd * 50) AS BIGINT) AS dur,
         |    CAST(floor($hc * 3) AS BIGINT) AS cause
         |  FROM orders),
         |t AS (
         |  SELECT dur,
         |    CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d1,
         |    CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d2,
         |    CAST(sum(CASE WHEN cause = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c,
         |    CAST(count(*) AS BIGINT) AS alln
         |  FROM o GROUP BY 1),
         |tot AS (SELECT CAST(sum(alln) AS BIGINT) AS n FROM t),
         |b AS (
         |  SELECT t.*, n - CAST(coalesce(sum(alln) OVER
         |    (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND
         |     1 PRECEDING), 0) AS BIGINT) AS n_risk
         |  FROM t CROSS JOIN tot),
         |s AS (
         |  SELECT *, ln(greatest(1.0 - CAST(d1 + d2 AS DOUBLE) /
         |    (CASE WHEN n_risk > 0 THEN n_risk END), 1e-300)) AS lt
         |  FROM b),
         |x AS (
         |  SELECT *, exp(sum(lt) OVER w) AS surv,
         |    exp(coalesce(sum(lt) OVER wp, 0.0)) AS surv_prev
         |  FROM s WINDOW
         |    w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW),
         |    wp AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING)),
         |y AS (
         |  SELECT *,
         |    sum(surv_prev * (CAST(d1 AS DOUBLE) /
         |      (CASE WHEN n_risk > 0 THEN n_risk END))) OVER w
         |      AS cif1,
         |    sum(surv_prev * (CAST(d2 AS DOUBLE) /
         |      (CASE WHEN n_risk > 0 THEN n_risk END))) OVER w
         |      AS cif2
         |  FROM x WINDOW
         |    w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW))
         |SELECT dur, d1, d2, c, n_risk,
         |  round(surv, 6) AS survival,
         |  round(cif1, 6) AS cif1, round(cif2, 6) AS cif2
         |FROM y""".stripMargin
    },

    // identical exact-integer mass propagation with uniform restart
    // (every vertex), 3 unrolled rounds
    "q410_pagerank_exact" -> {
      def rnd(i: Int): String =
        s"""r$i AS MATERIALIZED (
           |  SELECT v.id,
           |    CAST((85 * coalesce(s.c, 0)) // 100 AS BIGINT) +
           |    150000000000 AS pr
           |  FROM v LEFT JOIN (
           |    SELECT e.dst AS id, sum(r.pr // d.deg) AS c
           |    FROM e JOIN r${i - 1} r ON r.id = e.src
           |    JOIN deg d ON d.id = e.src GROUP BY 1) s
           |    ON s.id = v.id)""".stripMargin
      s"""WITH und AS (
         |  SELECT DISTINCT x.l_suppkey AS src, y.l_suppkey AS dst
         |  FROM lineitem x JOIN lineitem y
         |    ON x.l_orderkey = y.l_orderkey
         |   AND x.l_suppkey < y.l_suppkey),
         |e AS (SELECT src, dst FROM und
         |      UNION ALL SELECT dst, src FROM und),
         |v AS (SELECT DISTINCT src AS id FROM e),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |        FROM e GROUP BY 1),
         |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr
         |       FROM v),
         |${rnd(1)},
         |${rnd(2)},
         |${rnd(3)},
         |t AS (SELECT CAST(sum(pr) AS BIGINT) AS tot FROM r3)
         |SELECT CAST(id AS BIGINT) AS id, pr,
         |  CASE WHEN tot > 0 THEN
         |    round(CAST(pr AS DOUBLE) / tot, 9) END AS pr_norm
         |FROM r3 CROSS JOIN t""".stripMargin
    },

    // identical adjacent-pair word graph (list_zip — the BPE oracle
    // precedent), identical uniform-restart integer PageRank,
    // identical (pr DESC, word) top-20
    "q411_textrank" -> {
      def rnd(i: Int): String =
        s"""r$i AS MATERIALIZED (
           |  SELECT v.id,
           |    CAST((85 * coalesce(s.c, 0)) // 100 AS BIGINT) +
           |    150000000000 AS pr
           |  FROM v LEFT JOIN (
           |    SELECT e.dst AS id, sum(r.pr // d.deg) AS c
           |    FROM e JOIN r${i - 1} r ON r.id = e.src
           |    JOIN deg d ON d.id = e.src GROUP BY 1) s
           |    ON s.id = v.id)""".stripMargin
      raw"""WITH toks AS (
        |  SELECT list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS l
        |  FROM documents),
        |pairs AS (
        |  SELECT z[1] AS a, z[2] AS b FROM (
        |    SELECT unnest(list_zip(l, l[2:])) AS z
        |    FROM toks WHERE len(l) >= 2) q
        |  WHERE z[2] IS NOT NULL),
        |flt AS (
        |  SELECT a, b FROM pairs
        |  WHERE length(a) >= 3 AND length(b) >= 3
        |    AND a NOT IN ($rakeStopsSql)
        |    AND b NOT IN ($rakeStopsSql) AND a <> b),
        |und AS (SELECT DISTINCT least(a, b) AS src,
        |        greatest(a, b) AS dst FROM flt),
        |e AS (SELECT src, dst FROM und
        |      UNION ALL SELECT dst, src FROM und),
        |v AS (SELECT DISTINCT src AS id FROM e),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY 1),
        |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr
        |       FROM v),
        |${rnd(1)},
        |${rnd(2)},
        |${rnd(3)}
        |SELECT id AS word, pr FROM r3
        |ORDER BY pr DESC, word LIMIT 20""".stripMargin
    },

    // identical treatment bit / dyadic score, exact integer bucket
    // counts, identical left-associated uplift/qini expressions
    "q405_uplift" -> {
      val ht = h48("CAST(o_custkey AS VARCHAR) || '#t'")
      val hs = h48("CAST(o_orderkey AS VARCHAR) || '#s'")
      s"""WITH o AS (
         |  SELECT ($ht < 0.5) AS t,
         |    (o_orderstatus = 'F') AS y,
         |    floor($hs * 1024) / 1024 AS p
         |  FROM orders),
         |b AS (
         |  SELECT CAST(least(floor(p * 10), 9) AS INTEGER) AS bin,
         |    CASE WHEN t THEN 1 ELSE 0 END AS tt,
         |    CASE WHEN y THEN 1 ELSE 0 END AS yy
         |  FROM o WHERE p >= 0 AND p <= 1),
         |g AS (
         |  SELECT 9 - bin AS bucket,
         |    CAST(sum(tt) AS BIGINT) AS nt,
         |    CAST(count(*) - sum(tt) AS BIGINT) AS nc,
         |    CAST(sum(tt * yy) AS BIGINT) AS rt,
         |    CAST(sum((1 - tt) * yy) AS BIGINT) AS rc
         |  FROM b GROUP BY 1),
         |c AS (
         |  SELECT bucket, nt, nc, rt, rc,
         |    CAST(sum(nt) OVER w AS BIGINT) AS cum_nt,
         |    CAST(sum(nc) OVER w AS BIGINT) AS cum_nc,
         |    CAST(sum(rt) OVER w AS BIGINT) AS cum_rt,
         |    CAST(sum(rc) OVER w AS BIGINT) AS cum_rc
         |  FROM g WINDOW w AS (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT bucket, nt, nc, rt, rc,
         |  cum_nt, cum_nc, cum_rt, cum_rc,
         |  CASE WHEN nt > 0 AND nc > 0 THEN
         |    round(CAST(rt AS DOUBLE) / nt -
         |      CAST(rc AS DOUBLE) / nc, 9) END AS uplift,
         |  CASE WHEN cum_nt > 0 AND cum_nc > 0 THEN
         |    round(CAST(cum_rt AS DOUBLE) / cum_nt -
         |      CAST(cum_rc AS DOUBLE) / cum_nc, 9) END AS cum_uplift,
         |  CASE WHEN cum_nc > 0 THEN
         |    round(CAST(cum_rt AS DOUBLE) -
         |      CAST(cum_rc AS DOUBLE) * cum_nt / cum_nc, 9)
         |    END AS qini
         |FROM c""".stripMargin
    },

    // identical confusion cells per nation, exact ppm via `//`
    // (== Spark integer div on nonnegatives), signed gaps vs the
    // overall rates
    "q406_fairness" -> {
      val hf = h48("CAST(o_orderkey AS VARCHAR) || '#f'")
      s"""WITH o AS (
         |  SELECT CAST(c_nationkey AS BIGINT) AS grp,
         |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         |    CASE WHEN $hf >= 0.5 THEN 1 ELSE 0 END AS p
         |  FROM orders JOIN customer ON o_custkey = c_custkey),
         |per AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(p) AS BIGINT) AS npp,
         |    CAST(sum(y * p) AS BIGINT) AS tp,
         |    CAST(sum((1 - y) * p) AS BIGINT) AS fp,
         |    CAST(sum(y * (1 - p)) AS BIGINT) AS fn,
         |    CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn
         |  FROM o GROUP BY 1),
         |ov AS (
         |  SELECT
         |    CAST(sum(p) * 1000000 // count(*) AS BIGINT) AS o_ppr,
         |    CASE WHEN sum(y) > 0 THEN CAST(sum(y * p) * 1000000 //
         |      sum(y) AS BIGINT) END AS o_tpr,
         |    CASE WHEN sum(1 - y) > 0 THEN
         |      CAST(sum((1 - y) * p) * 1000000 //
         |        sum(1 - y) AS BIGINT) END AS o_fpr
         |  FROM o)
         |SELECT grp, n, tp, fp, fn, tn,
         |  CAST(npp * 1000000 // n AS BIGINT) AS pos_rate_ppm,
         |  CASE WHEN tp + fn > 0 THEN
         |    CAST(tp * 1000000 // (tp + fn) AS BIGINT)
         |    END AS tpr_ppm,
         |  CASE WHEN fp + tn > 0 THEN
         |    CAST(fp * 1000000 // (fp + tn) AS BIGINT)
         |    END AS fpr_ppm,
         |  CAST(npp * 1000000 // n - o_ppr AS BIGINT) AS dp_gap_ppm,
         |  CAST(CASE WHEN tp + fn > 0 THEN
         |    tp * 1000000 // (tp + fn) END - o_tpr AS BIGINT)
         |    AS tpr_gap_ppm,
         |  CAST(CASE WHEN fp + tn > 0 THEN
         |    fp * 1000000 // (fp + tn) END - o_fpr AS BIGINT)
         |    AS fpr_gap_ppm
         |FROM per CROSS JOIN ov""".stripMargin
    },

    // identical per-stratum exact sums, round-12 DECIMAL term sum,
    // final divide by the matched population
    "q407_ipw" -> {
      val ht = h48("CAST(o_custkey AS VARCHAR) || '#t'")
      s"""WITH o AS (
         |  SELECT o_orderpriority AS strat,
         |    ($ht < 0.5) AS t,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS yc
         |  FROM orders),
         |per AS (
         |  SELECT strat, CAST(count(*) AS BIGINT) AS ns,
         |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nt,
         |    CAST(sum(CASE WHEN t THEN yc END) AS BIGINT) AS syt,
         |    CAST(sum(CASE WHEN NOT t THEN yc END) AS BIGINT) AS syc
         |  FROM o GROUP BY 1),
         |per2 AS (SELECT *, ns - nt AS nc FROM per),
         |m AS (
         |  SELECT CAST(sum(ns) AS BIGINT) AS n_matched,
         |    CAST(count(*) AS BIGINT) AS n_strata,
         |    sum(CAST(round(CAST(ns AS DOUBLE) *
         |      (CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / nc),
         |      12) AS DECIMAL(38,12))) AS tsum
         |  FROM per2 WHERE nt > 0 AND nc > 0),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_strata_all,
         |  CAST(sum(ns) AS BIGINT) AS n_total FROM per2)
         |SELECT n_total, n_matched,
         |  n_total - n_matched AS n_off_support,
         |  n_strata, n_strata_all - n_strata AS n_strata_dropped,
         |  round(CAST(tsum AS DOUBLE) / n_matched, 6) AS ate
         |FROM m CROSS JOIN a""".stripMargin
    },

    // identical exact count sums, identical variance/dispersion
    // expression tree, Wilson-Hilferty z, shared Phi polynomial
    "q408_dispersion" -> {
      val phi = graft.stats.Distributions.normalCdfSql("z_wh")
      s"""WITH counts AS (
         |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |g AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(c) AS BIGINT) AS sy,
         |    CAST(sum(c * c) AS BIGINT) AS syy
         |  FROM counts GROUP BY 1),
         |d AS (
         |  SELECT event_type, n,
         |    CAST(sy AS DOUBLE) / n AS mean,
         |    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
         |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
         |      AS variance
         |  FROM g WHERE n > 1 AND sy > 0),
         |e AS (
         |  SELECT event_type, n, mean, variance,
         |    variance / mean AS dispersion,
         |    (CAST(n AS DOUBLE) - 1) * (variance / mean) AS chi2,
         |    CAST(n AS DOUBLE) - 1 AS dofd
         |  FROM d),
         |f AS (
         |  SELECT *,
         |    (pow(chi2 / dofd, 1.0 / 3) -
         |      (1.0 - 2.0 / (9.0 * dofd))) /
         |      sqrt(2.0 / (9.0 * dofd)) AS z_wh
         |  FROM e)
         |SELECT event_type, n, round(mean, 9) AS mean,
         |  round(variance, 9) AS variance,
         |  round(dispersion, 9) AS dispersion,
         |  round(chi2, 6) AS chi2,
         |  CAST(dofd AS BIGINT) AS dof,
         |  round(z_wh, 9) AS z_wh,
         |  round(1.0 - ($phi), 9) AS p_over
         |FROM f""".stripMargin
    },

    // identical word-keyed counts, per-word round-12 DECIMAL terms,
    // halved at the end
    "q395_js_divergence" ->
      raw"""WITH toks AS (
        |  SELECT source AS g, unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0)) AS w
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |c AS (
        |  SELECT w,
        |    CAST(sum(CASE WHEN g = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN g = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM toks GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb
        |  FROM c),
        |terms AS (
        |  SELECT ca, cb, na, nb,
        |    CAST(round(CASE WHEN ca > 0 THEN
        |      (CAST(ca AS DOUBLE) / na) *
        |      ln((CAST(ca AS DOUBLE) / na) /
        |        ((CAST(ca AS DOUBLE) / na +
        |          CAST(cb AS DOUBLE) / nb) / 2))
        |      ELSE 0.0 END, 12) AS DECIMAL(30,12)) AS ta,
        |    CAST(round(CASE WHEN cb > 0 THEN
        |      (CAST(cb AS DOUBLE) / nb) *
        |      ln((CAST(cb AS DOUBLE) / nb) /
        |        ((CAST(ca AS DOUBLE) / na +
        |          CAST(cb AS DOUBLE) / nb) / 2))
        |      ELSE 0.0 END, 12) AS DECIMAL(30,12)) AS tb
        |  FROM c CROSS JOIN tot)
        |SELECT CAST(count(*) AS BIGINT) AS n_vocab,
        |  CAST(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_a,
        |  CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_b,
        |  CAST(max(na) AS BIGINT) AS tokens_a,
        |  CAST(max(nb) AS BIGINT) AS tokens_b,
        |  round(CAST(sum(ta) AS DOUBLE), 6) AS kl_pm,
        |  round(CAST(sum(tb) AS DOUBLE), 6) AS kl_qm,
        |  round(CAST(sum(ta) + sum(tb) AS DOUBLE) / 2, 6) AS jsd
        |FROM terms""".stripMargin,

    // per-pass block-size distribution with the oversized-drop
    // accounting mirrored exactly
    "q388_linkage_block_audit" ->
      """WITH base AS (
        |  SELECT p_brand, p_size, p_type,
        |    split_part(p_name, ' ', 1) AS name1
        |  FROM part),
        |a0 AS (
        |  SELECT count(*) AS bn FROM base
        |  GROUP BY p_brand, p_size, name1),
        |a1 AS (
        |  SELECT count(*) AS bn FROM base
        |  GROUP BY p_brand, p_size, p_type)
        |SELECT CAST(0 AS INTEGER) AS block_pass,
        |  CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(CASE WHEN bn > 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_blocks_dropped,
        |  CAST(sum(CASE WHEN bn > 1000 THEN bn ELSE 0 END) AS BIGINT)
        |    AS n_rows_dropped,
        |  CAST(max(bn) AS BIGINT) AS max_block
        |FROM a0
        |UNION ALL
        |SELECT CAST(1 AS INTEGER),
        |  CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN bn > 1000 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN bn > 1000 THEN bn ELSE 0 END) AS BIGINT),
        |  CAST(max(bn) AS BIGINT)
        |FROM a1""".stripMargin,

    "q186_fuzzy_match" ->
      raw"""WITH ta AS (
        |  SELECT DISTINCT unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0)) AS wa
        |  FROM documents WHERE source = 'src0'),
        |tb AS (
        |  SELECT DISTINCT unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0)) AS wb
        |  FROM documents WHERE source = 'src1')
        |SELECT wa, wb, CAST(levenshtein(wa, wb) AS BIGINT)
        |  AS edit_dist
        |FROM ta, tb
        |WHERE abs(length(wa) - length(wb)) <= 2
        |  AND levenshtein(wa, wb) <= 2""".stripMargin,

    "q169_bh_fdr" ->
      s"""WITH p AS (
         |  SELECT s_suppkey,
         |    ${h48("CAST(s_suppkey AS VARCHAR)")} AS p
         |  FROM supplier),
         |r AS (
         |  SELECT s_suppkey, p,
         |    row_number() OVER (ORDER BY p) AS i,
         |    count(*) OVER () AS n
         |  FROM p),
         |a AS (
         |  SELECT s_suppkey, p,
         |    min(p * n / i) OVER (ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |      AS padj
         |  FROM r)
         |SELECT s_suppkey, round(p, 9) AS p,
         |  round(least(1.0, padj), 9) AS p_adj
         |FROM a""".stripMargin,

    "q97_kmv_distinct" ->
      s"""WITH h AS (
         |  SELECT DISTINCT ${h48("CAST(l_partkey AS VARCHAR)")} AS h
         |  FROM lineitem WHERE l_partkey IS NOT NULL),
         |km AS (SELECT h FROM h ORDER BY h LIMIT 128)
         |SELECT CAST(count(*) AS BIGINT) AS k_seen,
         |  round(CASE WHEN count(*) < 128 THEN CAST(count(*) AS DOUBLE)
         |    ELSE 127.0 / max(h) END, 6) AS distinct_estimate
         |FROM km""".stripMargin,

    // full sketch replay: identical md5 bucket addressing (48-bit
    // integer hash mod 64 — exact in both engines), identical
    // (r, bucket) counts, min-over-rows estimate
    "q346_cms" ->
      s"""WITH ev AS (
         |  SELECT CAST(user_id % 500 AS BIGINT) AS k
         |  FROM events WHERE user_id IS NOT NULL),
         |b AS (
         |  SELECT k, r,
         |    CAST(list_sum(list_transform(range(1, 13),
         |      i -> (strpos('0123456789abcdef', substr(md5(
         |        CAST(k AS VARCHAR) || '#cms' || CAST(r AS VARCHAR)),
         |        i, 1)) - 1) * power(16, 12 - i))) AS BIGINT) % 64
         |      AS bucket
         |  FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rs),
         |sk AS (
         |  SELECT r, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
         |kb AS (SELECT DISTINCT k, r, bucket FROM b),
         |est AS (
         |  SELECT kb.k, min(coalesce(sk.cnt, 0)) AS cms_count
         |  FROM kb LEFT JOIN sk USING (r, bucket) GROUP BY kb.k),
         |ex AS (SELECT k, count(*) AS true_count FROM ev GROUP BY 1)
         |SELECT est.k, CAST(est.cms_count AS BIGINT) AS cms_count,
         |  CAST(ex.true_count AS BIGINT) AS true_count
         |FROM est JOIN ex ON est.k = ex.k""".stripMargin,

    "q348_bpe" -> bpeOracle,

    // full theta-sketch replay: identical 48-bit md5 unit hashes,
    // identical 128-row k-min sketches (hashes are distinct, so the
    // ORDER BY h LIMIT k set is engine-independent), then the same
    // theta = min(kth-smallest) estimator arithmetic on exact dyadic
    // doubles
    "q351_kmv_setops" ->
      s"""WITH ha AS (
         |  SELECT DISTINCT ${h48("CAST(l_orderkey AS VARCHAR)")} AS h
         |  FROM lineitem
         |  WHERE l_returnflag = 'R' AND l_orderkey IS NOT NULL),
         |a AS (SELECT h FROM ha ORDER BY h LIMIT 128),
         |hb AS (
         |  SELECT DISTINCT ${h48("CAST(l_orderkey AS VARCHAR)")} AS h
         |  FROM lineitem
         |  WHERE l_returnflag = 'N' AND l_orderkey IS NOT NULL),
         |b AS (SELECT h FROM hb ORDER BY h LIMIT 128),
         |th AS (SELECT least(
         |  (SELECT CASE WHEN count(*) < 128 THEN 1.0
         |     ELSE max(h) END FROM a),
         |  (SELECT CASE WHEN count(*) < 128 THEN 1.0
         |     ELSE max(h) END FROM b)) AS theta),
         |u AS (
         |  SELECT count(*) AS n_union
         |  FROM (SELECT h FROM a UNION SELECT h FROM b) s, th
         |  WHERE s.h < th.theta),
         |i AS (
         |  SELECT count(*) AS n_inter
         |  FROM a JOIN b USING (h), th WHERE a.h < th.theta)
         |SELECT round(theta, 6) AS theta,
         |  CAST(n_inter AS BIGINT) AS n_inter,
         |  CAST(n_union AS BIGINT) AS n_union,
         |  round(n_inter / theta, 4) AS est_inter,
         |  round(n_union / theta, 4) AS est_union,
         |  round(CASE WHEN n_union > 0
         |    THEN CAST(n_inter AS DOUBLE) / n_union
         |    ELSE 0.0 END, 6) AS est_jaccard
         |FROM th, u, i""".stripMargin,

    // per-group HLL replay: the q349 pipeline with event_type as a
    // grouping key on both the register build and the estimate
    "q352_hll_grouped" ->
      s"""WITH v AS (
         |  SELECT DISTINCT event_type AS grp,
         |    CAST(user_id AS VARCHAR) AS s
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
         |h AS (
         |  SELECT grp, CAST(list_sum(list_transform(range(1, 13),
         |    i -> (strpos('0123456789abcdef', substr(
         |      md5(s || '#hll'), i, 1)) - 1) * power(16, 12 - i)))
         |    AS BIGINT) AS h
         |  FROM v),
         |sk AS (
         |  SELECT grp, h // 4398046511104 AS register,
         |    max(CASE WHEN h % 4398046511104 = 0 THEN 43
         |      ELSE 43 - length(bin(h % 4398046511104)) END) AS rho_max
         |  FROM h GROUP BY 1, 2),
         |e0 AS (
         |  SELECT grp, count(*) AS regs_set,
         |    sum(power(2.0, -rho_max)) AS z_set
         |  FROM sk GROUP BY 1),
         |e1 AS (
         |  SELECT grp, CAST(64 - regs_set AS BIGINT) AS v_zero,
         |    z_set + (64 - regs_set) AS z_raw
         |  FROM e0),
         |e2 AS (
         |  SELECT grp, v_zero,
         |    round(CASE WHEN v_zero > 0
         |        AND 0.709 * 64.0 * 64.0 / z_raw <= 160.0
         |      THEN 64.0 * ln(64.0 / v_zero)
         |      ELSE 0.709 * 64.0 * 64.0 / z_raw END, 4)
         |      AS hll_estimate
         |  FROM e1),
         |ex AS (
         |  SELECT event_type AS grp,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
         |  GROUP BY 1)
         |SELECT e2.grp AS event_type, e2.v_zero, e2.hll_estimate,
         |  ex.exact_distinct
         |FROM e2 JOIN ex ON e2.grp = ex.grp""".stripMargin,

    // full HLL replay: identical md5 48-bit split (top 6 register
    // bits / 42 rank bits), rho via exact integer bit-length
    // (length(bin(w)) — no floating log2), register max, then the
    // same alpha_64·m²/Z estimate with linear-counting correction.
    // Z is a sum of dyadic rationals — exact in both engines; the
    // estimate shares only ln/divide ulps, absorbed by round().
    "q349_hll" ->
      s"""WITH v AS (
         |  SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS s
         |  FROM lineitem WHERE l_partkey IS NOT NULL),
         |h AS (
         |  SELECT CAST(list_sum(list_transform(range(1, 13),
         |    i -> (strpos('0123456789abcdef', substr(
         |      md5(s || '#hll'), i, 1)) - 1) * power(16, 12 - i)))
         |    AS BIGINT) AS h
         |  FROM v),
         |rr AS (
         |  SELECT h // 4398046511104 AS register,
         |    h % 4398046511104 AS wbits
         |  FROM h),
         |sk AS (
         |  SELECT register, max(CASE WHEN wbits = 0 THEN 43
         |    ELSE 43 - length(bin(wbits)) END) AS rho_max
         |  FROM rr GROUP BY 1),
         |e0 AS (
         |  SELECT count(*) AS regs_set,
         |    sum(power(2.0, -rho_max)) AS z_set
         |  FROM sk),
         |e1 AS (
         |  SELECT CAST(64 AS BIGINT) AS m,
         |    CAST(64 - regs_set AS BIGINT) AS v_zero,
         |    z_set + (64 - regs_set) AS z_raw
         |  FROM e0),
         |e2 AS (
         |  SELECT m, v_zero, round(z_raw, 6) AS z,
         |    round(CASE WHEN v_zero > 0
         |        AND 0.709 * 64.0 * 64.0 / z_raw <= 160.0
         |      THEN 64.0 * ln(64.0 / v_zero)
         |      ELSE 0.709 * 64.0 * 64.0 / z_raw END, 4)
         |      AS hll_estimate
         |  FROM e1),
         |ex AS (
         |  SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)
         |    AS exact_distinct
         |  FROM lineitem WHERE l_partkey IS NOT NULL)
         |SELECT CAST(sk.register AS BIGINT) AS register,
         |  CAST(sk.rho_max AS BIGINT) AS rho_max,
         |  e2.m, e2.v_zero, e2.z, e2.hll_estimate, ex.exact_distinct
         |FROM sk CROSS JOIN e2 CROSS JOIN ex""".stripMargin,

    "q98_tfidf" ->
      raw"""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0)) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |n AS (
        |  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6)
        |      AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rn AS BIGINT) AS rn
        |FROM ranked WHERE rn <= 3""".stripMargin,

    "q99_bloom_join" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nation,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_price_cents
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_acctbal > 5000
        |GROUP BY 1""".stripMargin,

    "q100_boilerplate" ->
      raw"""WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS tk
        |  FROM documents),
        |sh0 AS (
        |  SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> array_to_string(list_slice(tk, i, i + 2), ' ')))
        |    ELSE [] END AS gs
        |  FROM toks),
        |sh AS (SELECT doc_id, unnest(gs) AS g FROM sh0),
        |dfreq AS (
        |  SELECT g, count(DISTINCT doc_id) AS ndocs
        |  FROM sh GROUP BY 1),
        |perdoc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(CASE WHEN ndocs >= 5 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_boiler
        |  FROM sh JOIN dfreq USING (g) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(p.n_shingles, 0) AS n_shingles,
        |  coalesce(p.n_boiler, 0) AS n_boiler,
        |  round(CASE WHEN coalesce(p.n_shingles, 0) = 0 THEN 0.0
        |    ELSE CAST(p.n_boiler AS DOUBLE) / p.n_shingles END, 6)
        |    AS boiler_frac
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)"""
        .stripMargin,

    "q107_asof_forward" ->
      """SELECT event_id, user_id,
        |  first_value(CASE WHEN event_type = 'signup'
        |      THEN CAST(round(value * 100) AS BIGINT) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |    AS next_signup_c
        |FROM events""".stripMargin,

    "q105_regression_metrics" ->
      """WITH c AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
        |    CAST(round(l_quantity * 100) AS BIGINT) * 1000 AS yhat
        |  FROM lineitem),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) AS DOUBLE) AS nd,
        |    CAST(sum(y - yhat) AS DOUBLE) AS sd,
        |    CAST(sum((y - yhat) * (y - yhat)) AS DOUBLE) AS sdd,
        |    CAST(sum(abs(y - yhat)) AS DOUBLE) AS sad,
        |    CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM c)
        |SELECT n,
        |  round(sdd / nd, 6) AS mse,
        |  round(sad / nd, 6) AS mae,
        |  round(sqrt(sdd / nd), 6) AS rmse,
        |  round(1.0 - sdd / (syy - sy * sy / nd), 6) AS r2,
        |  round(1.0 - (sdd - sd * sd / nd) / (syy - sy * sy / nd), 6)
        |    AS explained_variance
        |FROM a""".stripMargin,

    "q106_classification_metrics" ->
      """WITH a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN l_returnflag = 'R'
        |      AND l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN l_returnflag <> 'R'
        |      AND l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN l_returnflag = 'R'
        |      AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN l_returnflag <> 'R'
        |      AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM lineitem)
        |SELECT tp, fp, fn, tn,
        |  round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6)
        |    AS accuracy,
        |  round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
        |  round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
        |  round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
        |FROM a""".stripMargin,

    "q179_spearman_matrix" ->
      """WITH c AS (
        |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice) AS BIGINT) AS p,
        |    CAST(round(l_discount * 100) AS BIGINT) AS dd
        |  FROM lineitem),
        |r AS (
        |  SELECT
        |    CAST(2 * (rank() OVER (ORDER BY q)) +
        |      (count(*) OVER (PARTITION BY q)) - 1 AS BIGINT) AS rq,
        |    CAST(2 * (rank() OVER (ORDER BY p)) +
        |      (count(*) OVER (PARTITION BY p)) - 1 AS BIGINT) AS rp,
        |    CAST(2 * (rank() OVER (ORDER BY dd)) +
        |      (count(*) OVER (PARTITION BY dd)) - 1 AS BIGINT) AS rd
        |  FROM c),
        |s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(rq) AS DOUBLE) AS sq,
        |    CAST(sum(rp) AS DOUBLE) AS sp,
        |    CAST(sum(rd) AS DOUBLE) AS sd,
        |    CAST(sum(rq * rq) AS DOUBLE) AS sqq,
        |    CAST(sum(rp * rp) AS DOUBLE) AS spp,
        |    CAST(sum(rd * rd) AS DOUBLE) AS sdd,
        |    CAST(sum(rq * rp) AS DOUBLE) AS sqp,
        |    CAST(sum(rq * rd) AS DOUBLE) AS sqd,
        |    CAST(sum(rp * rd) AS DOUBLE) AS spd
        |  FROM r)
        |SELECT 'qty_c' AS col_a, 'price_d' AS col_b,
        |  round((n * sqp - sq * sp) /
        |    (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6)
        |    AS corr FROM s
        |UNION ALL
        |SELECT 'qty_c', 'disc_c',
        |  round((n * sqd - sq * sd) /
        |    (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd)), 6)
        |  FROM s
        |UNION ALL
        |SELECT 'price_d', 'disc_c',
        |  round((n * spd - sp * sd) /
        |    (sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd)), 6)
        |  FROM s""".stripMargin,

    "q104_corr_matrix" ->
      """WITH c AS (
        |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
        |    CAST(round(l_discount * 100) AS BIGINT) AS dd
        |  FROM lineitem),
        |s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(p) AS DOUBLE) AS sp,
        |    CAST(sum(dd) AS DOUBLE) AS sd,
        |    CAST(sum(q * q) AS DOUBLE) AS sqq,
        |    CAST(sum(p * p) AS DOUBLE) AS spp,
        |    CAST(sum(dd * dd) AS DOUBLE) AS sdd,
        |    CAST(sum(q * p) AS DOUBLE) AS sqp,
        |    CAST(sum(q * dd) AS DOUBLE) AS sqd,
        |    CAST(sum(p * dd) AS DOUBLE) AS spd
        |  FROM c)
        |SELECT 'qty_c' AS col_a, 'price_c' AS col_b,
        |  round((n * sqp - sq * sp) /
        |    (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6)
        |    AS corr FROM s
        |UNION ALL
        |SELECT 'qty_c', 'disc_c',
        |  round((n * sqd - sq * sd) /
        |    (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd)), 6)
        |  FROM s
        |UNION ALL
        |SELECT 'price_c', 'disc_c',
        |  round((n * spd - sp * sd) /
        |    (sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd)), 6)
        |  FROM s""".stripMargin,

    "q103_salted_join" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nation,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_price_cents
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin,

    "q102_heavy_hitters" ->
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem WHERE l_partkey IS NOT NULL
        |GROUP BY 1
        |HAVING count(*) > (SELECT CAST(count(*) AS DOUBLE) / 5000
        |  FROM lineitem WHERE l_partkey IS NOT NULL)"""
        .stripMargin,

    "q101_media_roundtrip" ->
      """SELECT doc_id, 'png' AS img_format,
        |  CAST(8 + doc_id % 32 AS BIGINT) AS img_w,
        |  CAST(8 + doc_id % 24 AS BIGINT) AS img_h,
        |  CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS wav_rate,
        |  CAST(1 AS BIGINT) AS wav_channels,
        |  CAST(1000 + doc_id % 500 AS BIGINT) AS wav_frames,
        |  CAST(1000 + doc_id % 500 AS DOUBLE) /
        |    (8000 + (doc_id % 3) * 4000) AS wav_duration
        |FROM documents""".stripMargin,

    "q328_rouge2" ->
      raw"""WITH pairs AS (
        |  SELECT a.doc_id AS id, a.text AS ctext, b.text AS rtext
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 1),
        |tk AS (
        |  SELECT id,
        |    list_filter(regexp_split_to_array(trim(lower(ctext)), '\s+'),
        |      x -> length(x) > 0) AS ct,
        |    list_filter(regexp_split_to_array(trim(lower(rtext)), '\s+'),
        |      x -> length(x) > 0) AS rt
        |  FROM pairs),
        |gr AS (
        |  SELECT id,
        |    CASE WHEN len(ct) >= 2 THEN list_transform(range(1, len(ct)),
        |      i -> ct[i] || ' ' || ct[i + 1]) ELSE [] END AS cg,
        |    CASE WHEN len(rt) >= 2 THEN list_transform(range(1, len(rt)),
        |      i -> rt[i] || ' ' || rt[i + 1]) ELSE [] END AS rg
        |  FROM tk),
        |cc AS (SELECT id, g, count(*) AS c
        |  FROM (SELECT id, unnest(cg) AS g FROM gr) GROUP BY 1, 2),
        |rc AS (SELECT id, g, count(*) AS c
        |  FROM (SELECT id, unnest(rg) AS g FROM gr) GROUP BY 1, 2),
        |m AS (SELECT cc.id, sum(least(cc.c, rc.c)) AS m
        |  FROM cc JOIN rc ON cc.id = rc.id AND cc.g = rc.g GROUP BY 1),
        |tot AS (SELECT id, len(cg) AS c_tot, len(rg) AS r_tot FROM gr)
        |SELECT t.id AS pid,
        |  CAST(coalesce(m.m, 0) AS BIGINT) AS matches,
        |  CAST(c_tot AS BIGINT) AS cand_ngrams,
        |  CAST(r_tot AS BIGINT) AS ref_ngrams,
        |  CASE WHEN c_tot > 0
        |    THEN round(CAST(coalesce(m.m, 0) AS DOUBLE) / c_tot, 6)
        |  END AS prec,
        |  CASE WHEN r_tot > 0
        |    THEN round(CAST(coalesce(m.m, 0) AS DOUBLE) / r_tot, 6)
        |  END AS rec,
        |  CASE WHEN c_tot + r_tot > 0
        |    THEN round(2.0 * coalesce(m.m, 0) / (c_tot + r_tot), 6)
        |  END AS f1
        |FROM tot t LEFT JOIN m ON m.id = t.id""".stripMargin,

    "q329_bleu" ->
      raw"""WITH pairs AS (
        |  SELECT a.doc_id AS id, a.text AS ctext, b.text AS rtext
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 1),
        |tk AS (
        |  SELECT id,
        |    list_filter(regexp_split_to_array(trim(lower(ctext)), '\s+'),
        |      x -> length(x) > 0) AS ct,
        |    list_filter(regexp_split_to_array(trim(lower(rtext)), '\s+'),
        |      x -> length(x) > 0) AS rt
        |  FROM pairs),
        |nn AS (SELECT id, ct, rt, unnest([1, 2, 3, 4]) AS n FROM tk),
        |gr AS (
        |  SELECT id, n,
        |    CASE WHEN len(ct) >= n
        |      THEN list_transform(range(1, len(ct) - n + 2),
        |        i -> array_to_string(list_slice(ct, i, i + n - 1), ' '))
        |      ELSE [] END AS cg,
        |    CASE WHEN len(rt) >= n
        |      THEN list_transform(range(1, len(rt) - n + 2),
        |        i -> array_to_string(list_slice(rt, i, i + n - 1), ' '))
        |      ELSE [] END AS rg
        |  FROM nn),
        |cc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(cg) AS g FROM gr) GROUP BY 1, 2, 3),
        |rc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(rg) AS g FROM gr) GROUP BY 1, 2, 3),
        |m AS (SELECT cc.id, cc.n, sum(least(cc.c, rc.c)) AS m
        |  FROM cc JOIN rc ON cc.id = rc.id AND cc.n = rc.n
        |    AND cc.g = rc.g GROUP BY 1, 2),
        |tot AS (SELECT id, n, len(cg) AS c_tot FROM gr),
        |p AS (
        |  SELECT t.id, t.n,
        |    CASE WHEN c_tot > 0
        |      THEN CAST(coalesce(m.m, 0) AS DOUBLE) / c_tot END AS p
        |  FROM tot t LEFT JOIN m ON m.id = t.id AND m.n = t.n),
        |agg AS (
        |  SELECT id,
        |    count(CASE WHEN p IS NOT NULL THEN 1 END) AS n_defined,
        |    count(CASE WHEN p = 0.0 THEN 1 END) AS n_zero,
        |    sum(CASE WHEN p > 0 THEN ln(p) END) AS sum_ln,
        |    max(CASE WHEN n = 1 THEN p END) AS p1,
        |    max(CASE WHEN n = 2 THEN p END) AS p2,
        |    max(CASE WHEN n = 3 THEN p END) AS p3,
        |    max(CASE WHEN n = 4 THEN p END) AS p4
        |  FROM p GROUP BY 1),
        |lens AS (SELECT id, CAST(len(ct) AS DOUBLE) AS clen,
        |  CAST(len(rt) AS DOUBLE) AS rlen FROM tk)
        |SELECT l.id AS pid,
        |  round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round(p3, 6) AS p3, round(p4, 6) AS p4,
        |  round(CASE WHEN clen >= rlen THEN 1.0
        |    ELSE exp(1.0 - rlen / clen) END, 6) AS bp,
        |  CASE WHEN n_defined < 4 THEN NULL
        |       WHEN n_zero > 0 THEN 0.0
        |       ELSE round((CASE WHEN clen >= rlen THEN 1.0
        |         ELSE exp(1.0 - rlen / clen) END) *
        |         exp(sum_ln / 4), 6) END AS bleu
        |FROM lens l LEFT JOIN agg USING (id)""".stripMargin,

    "q340_self_bleu" ->
      raw"""WITH pairs AS (
        |  SELECT a.doc_id AS id, a.text AS ctext, b.text AS rtext
        |  FROM documents a
        |  CROSS JOIN range(1, 4) r(j)
        |  JOIN documents b ON b.doc_id = a.doc_id + r.j),
        |tk AS (
        |  SELECT id, rtext,
        |    list_filter(regexp_split_to_array(trim(lower(ctext)), '\s+'),
        |      x -> length(x) > 0) AS ct,
        |    list_filter(regexp_split_to_array(trim(lower(rtext)), '\s+'),
        |      x -> length(x) > 0) AS rt
        |  FROM pairs),
        |lens AS (
        |  SELECT id, CAST(min(len(ct)) AS DOUBLE) AS clen,
        |    CAST(min(abs(len(rt) - len(ct)) * 1000000 + len(rt))
        |      % 1000000 AS DOUBLE) AS rlen
        |  FROM tk GROUP BY 1),
        |cand AS (
        |  SELECT id,
        |    list_filter(regexp_split_to_array(trim(lower(ctext)), '\s+'),
        |      x -> length(x) > 0) AS ct
        |  FROM (SELECT DISTINCT id, ctext FROM pairs)),
        |cn AS (SELECT id, ct, unnest([1, 2, 3, 4]) AS n FROM cand),
        |cg AS (
        |  SELECT id, n,
        |    CASE WHEN len(ct) >= n
        |      THEN list_transform(range(1, len(ct) - n + 2),
        |        i -> array_to_string(list_slice(ct, i, i + n - 1), ' '))
        |      ELSE [] END AS cg
        |  FROM cn),
        |cc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(cg) AS g FROM cg) GROUP BY 1, 2, 3),
        |rn AS (SELECT id, rtext, rt, unnest([1, 2, 3, 4]) AS n
        |  FROM tk),
        |rg AS (
        |  SELECT id, rtext, n,
        |    CASE WHEN len(rt) >= n
        |      THEN list_transform(range(1, len(rt) - n + 2),
        |        i -> array_to_string(list_slice(rt, i, i + n - 1), ' '))
        |      ELSE [] END AS rg
        |  FROM rn),
        |mrc AS (
        |  SELECT id, n, g, max(c) AS mrc FROM (
        |    SELECT id, rtext, n, g, count(*) AS c
        |    FROM (SELECT id, rtext, n, unnest(rg) AS g FROM rg)
        |    GROUP BY 1, 2, 3, 4)
        |  GROUP BY 1, 2, 3),
        |m AS (SELECT cc.id, cc.n, sum(least(cc.c, mrc.mrc)) AS m
        |  FROM cc JOIN mrc ON mrc.id = cc.id AND mrc.n = cc.n
        |    AND mrc.g = cc.g GROUP BY 1, 2),
        |tot AS (SELECT id, n, len(cg) AS c_tot FROM cg),
        |p AS (
        |  SELECT t.id, t.n,
        |    CASE WHEN c_tot > 0
        |      THEN CAST(coalesce(m.m, 0) AS DOUBLE) / c_tot END AS p
        |  FROM tot t LEFT JOIN m ON m.id = t.id AND m.n = t.n),
        |agg AS (
        |  SELECT id,
        |    count(CASE WHEN p IS NOT NULL THEN 1 END) AS n_defined,
        |    count(CASE WHEN p = 0.0 THEN 1 END) AS n_zero,
        |    sum(CASE WHEN p > 0 THEN ln(p) END) AS sum_ln,
        |    max(CASE WHEN n = 1 THEN p END) AS p1,
        |    max(CASE WHEN n = 2 THEN p END) AS p2,
        |    max(CASE WHEN n = 3 THEN p END) AS p3,
        |    max(CASE WHEN n = 4 THEN p END) AS p4
        |  FROM p GROUP BY 1)
        |SELECT l.id AS doc_id,
        |  round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round(p3, 6) AS p3, round(p4, 6) AS p4,
        |  round(CASE WHEN clen >= rlen THEN 1.0
        |    ELSE exp(1.0 - rlen / clen) END, 6) AS bp,
        |  CASE WHEN n_defined < 4 THEN NULL
        |       WHEN n_zero > 0 THEN 0.0
        |       ELSE round((CASE WHEN clen >= rlen THEN 1.0
        |         ELSE exp(1.0 - rlen / clen) END) *
        |         exp(sum_ln / 4), 6) END AS bleu
        |FROM lens l LEFT JOIN agg USING (id)""".stripMargin,

    // word-level edit distance replayed through a bijective
    // word→char encoding: each pair's vocab maps to ASCII chr(33+i)
    // (DuckDB levenshtein is BYTE-level — multibyte codepoints would
    // inflate distances), and levenshtein on the encoded strings IS the
    // token-level distance (invariant under bijective relabeling;
    // list_distinct's ordering is irrelevant for the same reason)
    "q345_wer" ->
      raw"""WITH tk AS (
        |  SELECT a.doc_id AS pid,
        |    list_transform(list_filter(regexp_split_to_array(
        |      trim(a.text), '\s+'), t -> len(t) > 0)[1:25],
        |      t -> lower(t)) AS ct,
        |    list_transform(list_filter(regexp_split_to_array(
        |      trim(b.text), '\s+'), t -> len(t) > 0)[1:25],
        |      t -> lower(t)) AS rt
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 1),
        |enc AS (
        |  SELECT pid, ct, rt,
        |    list_distinct(list_concat(ct, rt)) AS vocab
        |  FROM tk),
        |s AS (
        |  SELECT pid,
        |    coalesce(list_aggregate(list_transform(ct,
        |      t -> chr(33 + list_position(vocab, t))),
        |      'string_agg', ''), '') AS cs,
        |    coalesce(list_aggregate(list_transform(rt,
        |      t -> chr(33 + list_position(vocab, t))),
        |      'string_agg', ''), '') AS rs,
        |    len(rt) AS n_ref
        |  FROM enc)
        |SELECT pid, CAST(levenshtein(cs, rs) AS BIGINT) AS n_edits,
        |  CAST(n_ref AS BIGINT) AS n_ref,
        |  CASE WHEN n_ref > 0
        |    THEN CAST(levenshtein(cs, rs) AS DOUBLE) / n_ref
        |  END AS wer
        |FROM s""".stripMargin,

    "q338_chrf" ->
      raw"""WITH pairs AS (
        |  SELECT a.doc_id AS id, a.text AS ctext, b.text AS rtext
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 1),
        |st AS (
        |  SELECT id,
        |    regexp_replace(lower(trim(ctext)), '\s+', '', 'g') AS cs,
        |    regexp_replace(lower(trim(rtext)), '\s+', '', 'g') AS rs
        |  FROM pairs),
        |nn AS (SELECT id, cs, rs, unnest([1, 2, 3, 4, 5, 6]) AS n
        |  FROM st),
        |gr AS (
        |  SELECT id, n,
        |    CASE WHEN length(cs) >= n
        |      THEN list_transform(range(1, length(cs) - n + 2),
        |        i -> substr(cs, CAST(i AS INT), n))
        |      ELSE [] END AS cg,
        |    CASE WHEN length(rs) >= n
        |      THEN list_transform(range(1, length(rs) - n + 2),
        |        i -> substr(rs, CAST(i AS INT), n))
        |      ELSE [] END AS rg
        |  FROM nn),
        |cc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(cg) AS g FROM gr) GROUP BY 1, 2, 3),
        |rc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(rg) AS g FROM gr) GROUP BY 1, 2, 3),
        |m AS (SELECT cc.id, cc.n, sum(least(cc.c, rc.c)) AS m
        |  FROM cc JOIN rc ON cc.id = rc.id AND cc.n = rc.n
        |    AND cc.g = rc.g GROUP BY 1, 2),
        |tot AS (SELECT id, n, len(cg) AS c_tot, len(rg) AS r_tot
        |  FROM gr),
        |pr AS (
        |  SELECT t.id,
        |    CAST(coalesce(m.m, 0) AS DOUBLE) / c_tot AS p,
        |    CAST(coalesce(m.m, 0) AS DOUBLE) / r_tot AS r
        |  FROM tot t LEFT JOIN m ON m.id = t.id AND m.n = t.n
        |  WHERE c_tot > 0 AND r_tot > 0),
        |agg AS (
        |  SELECT id, avg(p) AS chrp, avg(r) AS chrr
        |  FROM pr GROUP BY 1)
        |SELECT s.id AS pid,
        |  round(chrp, 6) AS chrp, round(chrr, 6) AS chrr,
        |  CASE WHEN chrp IS NULL THEN NULL
        |       WHEN 4.0 * chrp + chrr = 0.0 THEN 0.0
        |       ELSE round(5.0 * chrp * chrr /
        |         (4.0 * chrp + chrr), 6) END AS chrf
        |FROM st s LEFT JOIN agg ON agg.id = s.id""".stripMargin,

    "q336_corpus_bleu" ->
      raw"""WITH pairs AS (
        |  SELECT a.doc_id AS id, a.text AS ctext, b.text AS rtext
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 1),
        |tk AS (
        |  SELECT id,
        |    list_filter(regexp_split_to_array(trim(lower(ctext)), '\s+'),
        |      x -> length(x) > 0) AS ct,
        |    list_filter(regexp_split_to_array(trim(lower(rtext)), '\s+'),
        |      x -> length(x) > 0) AS rt
        |  FROM pairs),
        |nn AS (SELECT id, ct, rt, unnest([1, 2, 3, 4]) AS n FROM tk),
        |gr AS (
        |  SELECT id, n,
        |    CASE WHEN len(ct) >= n
        |      THEN list_transform(range(1, len(ct) - n + 2),
        |        i -> array_to_string(list_slice(ct, i, i + n - 1), ' '))
        |      ELSE [] END AS cg,
        |    CASE WHEN len(rt) >= n
        |      THEN list_transform(range(1, len(rt) - n + 2),
        |        i -> array_to_string(list_slice(rt, i, i + n - 1), ' '))
        |      ELSE [] END AS rg
        |  FROM nn),
        |cc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(cg) AS g FROM gr) GROUP BY 1, 2, 3),
        |rc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(rg) AS g FROM gr) GROUP BY 1, 2, 3),
        |m AS (SELECT cc.n, sum(least(cc.c, rc.c)) AS m
        |  FROM cc JOIN rc ON cc.id = rc.id AND cc.n = rc.n
        |    AND cc.g = rc.g GROUP BY 1),
        |tot AS (SELECT n, sum(len(cg)) AS c_tot FROM gr GROUP BY 1),
        |p AS (
        |  SELECT t.n,
        |    CASE WHEN c_tot > 0
        |      THEN CAST(coalesce(m.m, 0) AS DOUBLE) / c_tot END AS p
        |  FROM tot t LEFT JOIN m ON m.n = t.n),
        |agg AS (
        |  SELECT
        |    count(CASE WHEN p IS NOT NULL THEN 1 END) AS n_defined,
        |    count(CASE WHEN p = 0.0 THEN 1 END) AS n_zero,
        |    sum(CASE WHEN p > 0 THEN ln(p) END) AS sum_ln,
        |    max(CASE WHEN n = 1 THEN p END) AS p1,
        |    max(CASE WHEN n = 2 THEN p END) AS p2,
        |    max(CASE WHEN n = 3 THEN p END) AS p3,
        |    max(CASE WHEN n = 4 THEN p END) AS p4
        |  FROM p),
        |lens AS (SELECT CAST(sum(len(ct)) AS DOUBLE) AS clen,
        |  CAST(sum(len(rt)) AS DOUBLE) AS rlen FROM tk)
        |SELECT
        |  round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round(p3, 6) AS p3, round(p4, 6) AS p4,
        |  round(CASE WHEN clen >= rlen THEN 1.0
        |    ELSE exp(1.0 - rlen / clen) END, 6) AS bp,
        |  CASE WHEN n_defined < 4 THEN NULL
        |       WHEN n_zero > 0 THEN 0.0
        |       ELSE round((CASE WHEN clen >= rlen THEN 1.0
        |         ELSE exp(1.0 - rlen / clen) END) *
        |         exp(sum_ln / 4), 6) END AS bleu
        |FROM lens, agg""".stripMargin,

    "q331_bleu_smooth" ->
      raw"""WITH pairs AS (
        |  SELECT a.doc_id AS id, a.text AS ctext, b.text AS rtext
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 1),
        |tk AS (
        |  SELECT id,
        |    list_filter(regexp_split_to_array(trim(lower(ctext)), '\s+'),
        |      x -> length(x) > 0) AS ct,
        |    list_filter(regexp_split_to_array(trim(lower(rtext)), '\s+'),
        |      x -> length(x) > 0) AS rt
        |  FROM pairs),
        |nn AS (SELECT id, ct, rt, unnest([1, 2, 3, 4]) AS n FROM tk),
        |gr AS (
        |  SELECT id, n,
        |    CASE WHEN len(ct) >= n
        |      THEN list_transform(range(1, len(ct) - n + 2),
        |        i -> array_to_string(list_slice(ct, i, i + n - 1), ' '))
        |      ELSE [] END AS cg,
        |    CASE WHEN len(rt) >= n
        |      THEN list_transform(range(1, len(rt) - n + 2),
        |        i -> array_to_string(list_slice(rt, i, i + n - 1), ' '))
        |      ELSE [] END AS rg
        |  FROM nn),
        |cc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(cg) AS g FROM gr) GROUP BY 1, 2, 3),
        |rc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(rg) AS g FROM gr) GROUP BY 1, 2, 3),
        |m AS (SELECT cc.id, cc.n, sum(least(cc.c, rc.c)) AS m
        |  FROM cc JOIN rc ON cc.id = rc.id AND cc.n = rc.n
        |    AND cc.g = rc.g GROUP BY 1, 2),
        |tot AS (SELECT id, n, len(cg) AS c_tot FROM gr),
        |p AS (
        |  SELECT t.id, t.n,
        |    CASE WHEN c_tot > 0 THEN
        |      CASE WHEN coalesce(m.m, 0) = 0 THEN 0.1 / c_tot
        |           ELSE CAST(m.m AS DOUBLE) / c_tot END
        |    END AS p
        |  FROM tot t LEFT JOIN m ON m.id = t.id AND m.n = t.n),
        |agg AS (
        |  SELECT id,
        |    count(CASE WHEN p IS NOT NULL THEN 1 END) AS n_defined,
        |    sum(CASE WHEN p > 0 THEN ln(p) END) AS sum_ln,
        |    max(CASE WHEN n = 1 THEN p END) AS p1,
        |    max(CASE WHEN n = 2 THEN p END) AS p2,
        |    max(CASE WHEN n = 3 THEN p END) AS p3,
        |    max(CASE WHEN n = 4 THEN p END) AS p4
        |  FROM p GROUP BY 1),
        |lens AS (SELECT id, CAST(len(ct) AS DOUBLE) AS clen,
        |  CAST(len(rt) AS DOUBLE) AS rlen FROM tk)
        |SELECT l.id AS pid,
        |  round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round(p3, 6) AS p3, round(p4, 6) AS p4,
        |  round(CASE WHEN clen >= rlen THEN 1.0
        |    ELSE exp(1.0 - rlen / clen) END, 6) AS bp,
        |  CASE WHEN n_defined < 4 THEN NULL
        |       ELSE round((CASE WHEN clen >= rlen THEN 1.0
        |         ELSE exp(1.0 - rlen / clen) END) *
        |         exp(sum_ln / 4), 6) END AS bleu
        |FROM lens l LEFT JOIN agg USING (id)""".stripMargin,

    // Chen-Cherry method 2: (m+1)/(c_tot+1) for n >= 2, raw p1 —
    // so the n_zero -> 0 branch returns
    "q389_bleu_smooth2" ->
      raw"""WITH pairs AS (
        |  SELECT a.doc_id AS id, a.text AS ctext, b.text AS rtext
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 1),
        |tk AS (
        |  SELECT id,
        |    list_filter(regexp_split_to_array(trim(lower(ctext)), '\s+'),
        |      x -> length(x) > 0) AS ct,
        |    list_filter(regexp_split_to_array(trim(lower(rtext)), '\s+'),
        |      x -> length(x) > 0) AS rt
        |  FROM pairs),
        |nn AS (SELECT id, ct, rt, unnest([1, 2, 3, 4]) AS n FROM tk),
        |gr AS (
        |  SELECT id, n,
        |    CASE WHEN len(ct) >= n
        |      THEN list_transform(range(1, len(ct) - n + 2),
        |        i -> array_to_string(list_slice(ct, i, i + n - 1), ' '))
        |      ELSE [] END AS cg,
        |    CASE WHEN len(rt) >= n
        |      THEN list_transform(range(1, len(rt) - n + 2),
        |        i -> array_to_string(list_slice(rt, i, i + n - 1), ' '))
        |      ELSE [] END AS rg
        |  FROM nn),
        |cc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(cg) AS g FROM gr) GROUP BY 1, 2, 3),
        |rc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(rg) AS g FROM gr) GROUP BY 1, 2, 3),
        |m AS (SELECT cc.id, cc.n, sum(least(cc.c, rc.c)) AS m
        |  FROM cc JOIN rc ON cc.id = rc.id AND cc.n = rc.n
        |    AND cc.g = rc.g GROUP BY 1, 2),
        |tot AS (SELECT id, n, len(cg) AS c_tot FROM gr),
        |p AS (
        |  SELECT t.id, t.n,
        |    CASE WHEN c_tot > 0 THEN
        |      CASE WHEN t.n > 1 THEN
        |        CAST(coalesce(m.m, 0) + 1 AS DOUBLE) / (c_tot + 1)
        |      ELSE CAST(coalesce(m.m, 0) AS DOUBLE) / c_tot END
        |    END AS p
        |  FROM tot t LEFT JOIN m ON m.id = t.id AND m.n = t.n),
        |agg AS (
        |  SELECT id,
        |    count(CASE WHEN p IS NOT NULL THEN 1 END) AS n_defined,
        |    count(CASE WHEN p = 0 THEN 1 END) AS n_zero,
        |    sum(CASE WHEN p > 0 THEN ln(p) END) AS sum_ln,
        |    max(CASE WHEN n = 1 THEN p END) AS p1,
        |    max(CASE WHEN n = 2 THEN p END) AS p2,
        |    max(CASE WHEN n = 3 THEN p END) AS p3,
        |    max(CASE WHEN n = 4 THEN p END) AS p4
        |  FROM p GROUP BY 1),
        |lens AS (SELECT id, CAST(len(ct) AS DOUBLE) AS clen,
        |  CAST(len(rt) AS DOUBLE) AS rlen FROM tk)
        |SELECT l.id AS pid,
        |  round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round(p3, 6) AS p3, round(p4, 6) AS p4,
        |  round(CASE WHEN clen >= rlen THEN 1.0
        |    ELSE exp(1.0 - rlen / clen) END, 6) AS bp,
        |  CASE WHEN n_defined < 4 THEN NULL
        |       WHEN n_zero > 0 THEN 0.0
        |       ELSE round((CASE WHEN clen >= rlen THEN 1.0
        |         ELSE exp(1.0 - rlen / clen) END) *
        |         exp(sum_ln / 4), 6) END AS bleu
        |FROM lens l LEFT JOIN agg USING (id)""".stripMargin,

    // Chen-Cherry method 3: k-th zero precision (cumulative zero
    // count over n, window per id) -> 1/(2^k * c_tot)
    "q390_bleu_smooth3" ->
      raw"""WITH pairs AS (
        |  SELECT a.doc_id AS id, a.text AS ctext, b.text AS rtext
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 1),
        |tk AS (
        |  SELECT id,
        |    list_filter(regexp_split_to_array(trim(lower(ctext)), '\s+'),
        |      x -> length(x) > 0) AS ct,
        |    list_filter(regexp_split_to_array(trim(lower(rtext)), '\s+'),
        |      x -> length(x) > 0) AS rt
        |  FROM pairs),
        |nn AS (SELECT id, ct, rt, unnest([1, 2, 3, 4]) AS n FROM tk),
        |gr AS (
        |  SELECT id, n,
        |    CASE WHEN len(ct) >= n
        |      THEN list_transform(range(1, len(ct) - n + 2),
        |        i -> array_to_string(list_slice(ct, i, i + n - 1), ' '))
        |      ELSE [] END AS cg,
        |    CASE WHEN len(rt) >= n
        |      THEN list_transform(range(1, len(rt) - n + 2),
        |        i -> array_to_string(list_slice(rt, i, i + n - 1), ' '))
        |      ELSE [] END AS rg
        |  FROM nn),
        |cc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(cg) AS g FROM gr) GROUP BY 1, 2, 3),
        |rc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(rg) AS g FROM gr) GROUP BY 1, 2, 3),
        |m AS (SELECT cc.id, cc.n, sum(least(cc.c, rc.c)) AS m
        |  FROM cc JOIN rc ON cc.id = rc.id AND cc.n = rc.n
        |    AND cc.g = rc.g GROUP BY 1, 2),
        |tot AS (SELECT id, n, len(cg) AS c_tot FROM gr),
        |pz AS (
        |  SELECT t.id, t.n, t.c_tot, coalesce(m.m, 0) AS m,
        |    sum(CASE WHEN t.c_tot > 0 AND coalesce(m.m, 0) = 0
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY t.id ORDER BY t.n) AS kz
        |  FROM tot t LEFT JOIN m ON m.id = t.id AND m.n = t.n),
        |p AS (
        |  SELECT id, n,
        |    CASE WHEN c_tot > 0 THEN
        |      CASE WHEN m = 0 THEN 1.0 / (power(2.0, kz) * c_tot)
        |           ELSE CAST(m AS DOUBLE) / c_tot END
        |    END AS p
        |  FROM pz),
        |agg AS (
        |  SELECT id,
        |    count(CASE WHEN p IS NOT NULL THEN 1 END) AS n_defined,
        |    sum(CASE WHEN p > 0 THEN ln(p) END) AS sum_ln,
        |    max(CASE WHEN n = 1 THEN p END) AS p1,
        |    max(CASE WHEN n = 2 THEN p END) AS p2,
        |    max(CASE WHEN n = 3 THEN p END) AS p3,
        |    max(CASE WHEN n = 4 THEN p END) AS p4
        |  FROM p GROUP BY 1),
        |lens AS (SELECT id, CAST(len(ct) AS DOUBLE) AS clen,
        |  CAST(len(rt) AS DOUBLE) AS rlen FROM tk)
        |SELECT l.id AS pid,
        |  round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round(p3, 6) AS p3, round(p4, 6) AS p4,
        |  round(CASE WHEN clen >= rlen THEN 1.0
        |    ELSE exp(1.0 - rlen / clen) END, 6) AS bp,
        |  CASE WHEN n_defined < 4 THEN NULL
        |       ELSE round((CASE WHEN clen >= rlen THEN 1.0
        |         ELSE exp(1.0 - rlen / clen) END) *
        |         exp(sum_ln / 4), 6) END AS bleu
        |FROM lens l LEFT JOIN agg USING (id)""".stripMargin,

    "q443_bleu_smooth4" ->
      raw"""WITH pairs AS (
        |  SELECT a.doc_id AS id, a.text AS ctext, b.text AS rtext
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id + 2),
        |tk AS (
        |  SELECT id,
        |    list_filter(regexp_split_to_array(trim(lower(ctext)), '\s+'),
        |      x -> length(x) > 0) AS ct,
        |    list_filter(regexp_split_to_array(trim(lower(rtext)), '\s+'),
        |      x -> length(x) > 0) AS rt
        |  FROM pairs),
        |lens AS (SELECT id, CAST(len(ct) AS DOUBLE) AS clen,
        |  CAST(len(rt) AS DOUBLE) AS rlen FROM tk),
        |nn AS (SELECT id, ct, rt, unnest([1, 2, 3, 4]) AS n FROM tk),
        |gr AS (
        |  SELECT id, n,
        |    CASE WHEN len(ct) >= n
        |      THEN list_transform(range(1, len(ct) - n + 2),
        |        i -> array_to_string(list_slice(ct, i, i + n - 1), ' '))
        |      ELSE [] END AS cg,
        |    CASE WHEN len(rt) >= n
        |      THEN list_transform(range(1, len(rt) - n + 2),
        |        i -> array_to_string(list_slice(rt, i, i + n - 1), ' '))
        |      ELSE [] END AS rg
        |  FROM nn),
        |cc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(cg) AS g FROM gr) GROUP BY 1, 2, 3),
        |rc AS (SELECT id, n, g, count(*) AS c
        |  FROM (SELECT id, n, unnest(rg) AS g FROM gr) GROUP BY 1, 2, 3),
        |m AS (SELECT cc.id, cc.n, sum(least(cc.c, rc.c)) AS m
        |  FROM cc JOIN rc ON cc.id = rc.id AND cc.n = rc.n
        |    AND cc.g = rc.g GROUP BY 1, 2),
        |tot AS (SELECT id, n, len(cg) AS c_tot FROM gr),
        |pz AS (
        |  SELECT t.id, t.n, t.c_tot, coalesce(m.m, 0) AS m,
        |    sum(CASE WHEN t.c_tot > 0 AND coalesce(m.m, 0) = 0
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY t.id ORDER BY t.n) AS kz
        |  FROM tot t LEFT JOIN m ON m.id = t.id AND m.n = t.n),
        |p AS (
        |  SELECT pz.id, pz.n,
        |    CASE WHEN c_tot > 0 THEN
        |      CASE WHEN m = 0 AND clen > 1 THEN
        |        ln(clen) / (power(2.0, kz) * 5.0 * c_tot)
        |           ELSE CAST(m AS DOUBLE) / c_tot END
        |    END AS p
        |  FROM pz JOIN lens ON lens.id = pz.id),
        |agg AS (
        |  SELECT id,
        |    count(CASE WHEN p IS NOT NULL THEN 1 END) AS n_defined,
        |    count(CASE WHEN p = 0 THEN 1 END) AS n_zero,
        |    sum(CASE WHEN p > 0 THEN ln(p) END) AS sum_ln,
        |    max(CASE WHEN n = 1 THEN p END) AS p1,
        |    max(CASE WHEN n = 2 THEN p END) AS p2,
        |    max(CASE WHEN n = 3 THEN p END) AS p3,
        |    max(CASE WHEN n = 4 THEN p END) AS p4
        |  FROM p GROUP BY 1)
        |SELECT l.id AS pid,
        |  round(p1, 6) AS p1, round(p2, 6) AS p2,
        |  round(p3, 6) AS p3, round(p4, 6) AS p4,
        |  round(CASE WHEN clen >= rlen THEN 1.0
        |    ELSE exp(1.0 - rlen / clen) END, 6) AS bp,
        |  CASE WHEN n_defined < 4 THEN NULL
        |       WHEN n_zero > 0 THEN 0.0
        |       ELSE round((CASE WHEN clen >= rlen THEN 1.0
        |         ELSE exp(1.0 - rlen / clen) END) *
        |         exp(sum_ln / 4), 6) END AS bleu
        |FROM lens l LEFT JOIN agg USING (id)""".stripMargin,

    "q326_mp4_metadata" ->
      """SELECT doc_id, 'isom' AS brand,
        |  CAST(1000 AS BIGINT) AS timescale,
        |  CAST(500 + doc_id % 9000 AS BIGINT) AS duration_ticks,
        |  CAST(500 + doc_id % 9000 AS DOUBLE) / 1000 AS duration_s,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS n_tracks,
        |  CASE WHEN doc_id % 2 = 0 THEN 'vide'
        |       ELSE 'vide,soun' END AS handlers,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avc1'
        |       ELSE 'avc1,mp4a' END AS codecs
        |FROM documents""".stripMargin,

    // DSIR replayed: raw (multiplicity-kept) bigrams, portable
    // 48-bit bucket hash (exact floor(h48*1024)), add-one-smoothed
    // log-ratio per bucket, per-doc dot product
    "q201_dsir_weights" ->
      raw"""WITH d AS (
        |  SELECT doc_id, source = 'src0' AS t,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> length(x) > 0) AS tk
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IS NOT NULL),
        |g0 AS (SELECT doc_id, t, CASE WHEN len(tk) >= 2 THEN
        |    list_transform(range(1, len(tk)),
        |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))
        |  ELSE [] END AS gs FROM d),
        |g AS (SELECT doc_id, t, unnest(gs) AS g FROM g0),
        |b AS (SELECT doc_id, t,
        |  CAST(floor((${h48("g")}) * 1024) AS BIGINT) AS bk FROM g),
        |bc AS (SELECT bk,
        |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |  CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS cs
        |  FROM b GROUP BY 1),
        |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS stt,
        |  CAST(sum(cs) AS BIGINT) AS sts FROM bc),
        |lr AS (SELECT bk,
        |  ln(CAST(ct + 1 AS DOUBLE) / (stt + 1024)) -
        |    ln(CAST(cs + 1 AS DOUBLE) / (sts + 1024)) AS lr
        |  FROM bc, tt),
        |pd AS (SELECT doc_id, bk, count(*) AS c FROM b GROUP BY 1, 2),
        |wz AS (SELECT pd.doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |    sum(c * lr.lr) AS w
        |  FROM pd JOIN lr USING (bk) GROUP BY 1)
        |SELECT d0.doc_id,
        |  CAST(coalesce(w.n_grams, 0) AS BIGINT) AS n_grams,
        |  round(coalesce(w.w, 0.0), 6) AS weight
        |FROM (SELECT doc_id FROM documents
        |  WHERE doc_id IS NOT NULL AND source IS NOT NULL) d0
        |LEFT JOIN wz w USING (doc_id)""".stripMargin,

    "q214_alpha_mix" ->
      s"""WITH c AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |  sum(power(CAST(n AS DOUBLE), 0.5)) AS sp FROM c),
         |r AS (SELECT event_type,
         |  round(least(1.0, 0.4 * nn * power(CAST(n AS DOUBLE), 0.5)
         |    / sp / n), 9) AS rate FROM c, t)
         |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_kept
         |FROM events e JOIN r USING (event_type)
         |WHERE ${h48("CAST(event_id AS VARCHAR)")} < rate
         |GROUP BY 1""".stripMargin,

    "q202_source_overlap" ->
      raw"""WITH p AS (
        |  SELECT DISTINCT src, g FROM (
        |    SELECT source AS src, unnest(CASE WHEN len(tk) >= 3 THEN
        |        list_distinct(list_transform(range(1, len(tk) - 1),
        |          i -> array_to_string(list_slice(tk, i, i + 2), ' ')))
        |      ELSE [] END) AS g
        |    FROM (SELECT source, list_filter(
        |        regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> length(x) > 0) AS tk
        |      FROM documents WHERE source IS NOT NULL) t0) t1),
        |s AS (SELECT src, CAST(count(*) AS BIGINT) AS nd
        |  FROM p GROUP BY 1),
        |i AS (SELECT a.src AS src_a, b.src AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM p a JOIN p b ON a.g = b.g AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common,
        |  round(CAST(n_common AS DOUBLE) /
        |    (sa.nd + sb.nd - n_common), 6) AS jaccard
        |FROM i JOIN s sa ON i.src_a = sa.src
        |JOIN s sb ON i.src_b = sb.src""".stripMargin,

    "q203_zipf" ->
      raw"""WITH w AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0)) AS w
        |  FROM documents),
        |tc AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
        |top AS (SELECT c,
        |    row_number() OVER (ORDER BY c DESC, w) AS r
        |  FROM tc ORDER BY c DESC, w LIMIT 100),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(ln(CAST(r AS DOUBLE))) AS sx,
        |    sum(ln(CAST(c AS DOUBLE))) AS sy,
        |    sum(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))) AS sxx,
        |    sum(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))) AS sxy,
        |    sum(ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE))) AS syy
        |  FROM top)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6)
        |    AS alpha,
        |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM a""".stripMargin,

    "q204_lexical_stats" ->
      raw"""WITH w AS (
        |  SELECT source AS src, unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0)) AS w
        |  FROM documents WHERE source IS NOT NULL),
        |tc AS (SELECT src, w, count(*) AS c FROM w GROUP BY 1, 2)
        |SELECT src, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
        |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS hapax_frac,
        |  round(ln(CAST(count(*) AS DOUBLE)) /
        |    ln(CAST(sum(c) AS DOUBLE)), 6) AS heaps_beta
        |FROM tc GROUP BY 1""".stripMargin,

    "q310_budget_alloc" ->
      """WITH src AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS w,
        |    CAST(sum(n_chars) AS DOUBLE) AS c
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |rr AS (
        |  SELECT source, w, c,
        |    CASE WHEN w > 0 THEN c / w
        |      ELSE 1.7976931348623157e308 END AS r
        |  FROM src),
        |o AS (
        |  SELECT source, w, c, r,
        |    row_number() OVER (ORDER BY r, source) AS i,
        |    coalesce(sum(c) OVER (ORDER BY r, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
        |      AS cumc,
        |    coalesce(sum(w) OVER (ORDER BY r, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
        |      AS cumw
        |  FROM rr),
        |t AS (SELECT sum(w) AS wt FROM src),
        |cand AS (
        |  SELECT o.source, o.w, o.c, o.r, o.i, o.cumc, o.cumw,
        |    CASE WHEN wt - cumw > 0
        |      THEN (1000000.0 - cumc) / (wt - cumw) END AS lam
        |  FROM o, t),
        |piv AS (
        |  SELECT min(i) AS pi FROM cand
        |  WHERE lam IS NOT NULL AND lam <= r),
        |piv2 AS (
        |  SELECT pi,
        |    (SELECT lam FROM cand WHERE i = (SELECT pi FROM piv))
        |      AS plam
        |  FROM piv)
        |SELECT source, w AS weight, c AS cap,
        |  round(CASE WHEN pi IS NULL OR i < pi THEN c
        |    ELSE greatest(0.0, plam * w) END, 6) AS allocation,
        |  (pi IS NULL OR i < pi) AS capped
        |FROM cand, piv2 ORDER BY source""".stripMargin,

    "q289_rake" ->
      raw"""WITH raw0 AS (
        |  SELECT doc_id AS doc,
        |    string_split_regex(lower(text), '[^a-z0-9]+') AS ts
        |  FROM documents),
        |t1 AS (
        |  SELECT doc, unnest(ts) AS tok,
        |    generate_subscripts(ts, 1) AS pos
        |  FROM raw0),
        |t2 AS (
        |  SELECT doc, tok, pos, tok IN ($rakeStopsSql) AS stop
        |  FROM t1 WHERE tok <> ''),
        |t3 AS (
        |  SELECT doc, tok, pos, stop,
        |    sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY doc ORDER BY pos
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
        |  FROM t2),
        |t4 AS (SELECT doc, tok, pos, pid FROM t3 WHERE NOT stop),
        |phrases AS (
        |  SELECT doc, pid, string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |    CAST(count(*) AS BIGINT) AS plen
        |  FROM t4 GROUP BY 1, 2),
        |words AS (
        |  SELECT t4.tok, CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(p.plen) AS BIGINT) AS deg
        |  FROM t4 JOIN phrases p USING (doc, pid) GROUP BY 1),
        |w2 AS (
        |  SELECT tok, CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
        |    AS wscore
        |  FROM words),
        |ps AS (
        |  SELECT t4.doc, t4.pid, sum(w2.wscore) AS pscore
        |  FROM t4 JOIN w2 USING (tok) GROUP BY 1, 2),
        |sc AS (
        |  SELECT p.phrase, ps.pscore
        |  FROM ps JOIN phrases p USING (doc, pid))
        |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
        |  round(any_value(pscore), 6) AS score
        |FROM sc GROUP BY 1
        |HAVING count(*) >= 3
        |ORDER BY score DESC, n_occ DESC, phrase LIMIT 20""".stripMargin,

    "q232_pmi" ->
      raw"""WITH arr AS (
        |  SELECT list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0) AS a
        |  FROM documents),
        |uni AS (SELECT w, count(*) AS c FROM (
        |    SELECT unnest(a) AS w FROM arr) GROUP BY 1),
        |nu AS (SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM uni),
        |bic AS (SELECT w1, w2, count(*) AS c_ab FROM (
        |    SELECT unnest(a[1:len(a) - 1]) AS w1,
        |      unnest(a[2:len(a)]) AS w2
        |    FROM arr) GROUP BY 1, 2),
        |nb AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bi FROM bic)
        |SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
        |  round(ln((c_ab / n_bi) /
        |    ((ca.c / n_uni) * (cb.c / n_uni))), 6) AS pmi
        |FROM bic
        |JOIN uni ca ON ca.w = bic.w1
        |JOIN uni cb ON cb.w = bic.w2, nu, nb
        |WHERE c_ab >= 50""".stripMargin,

    "q233_bm25" ->
      raw"""WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> length(x) > 0)) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |  FROM toks GROUP BY 1),
        |st AS (SELECT avg(dl) AS avgdl,
        |    CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
        |qt AS (SELECT * FROM toks
        |  WHERE term IN ('join', 'window', 'scan')),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM qt GROUP BY 1, 2),
        |dfreq AS (SELECT term,
        |    CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
        |  FROM qt GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      (tf * 2.2) /
        |      (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS s
        |  FROM tf JOIN dfreq USING (term)
        |  JOIN dl ON dl.doc_id = tf.doc_id, st)
        |SELECT doc_id, round(sum(s), 6) AS score
        |FROM scored GROUP BY 1
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q234_weighted_sample" ->
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE doc_id IS NOT NULL AND n_chars > 0
         |ORDER BY pow(${h48("CAST(doc_id AS VARCHAR) || 'w1'")},
         |  1.0 / n_chars) DESC, doc_id
         |LIMIT 100""".stripMargin,

    "q235_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h48("CAST(doc_id AS VARCHAR) || 'z'")},
         |        doc_id) AS rn
         |  FROM documents WHERE doc_id IS NOT NULL)
         |WHERE rn <= 6""".stripMargin,

    "q236_row_checks" ->
      """WITH t AS (SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN coalesce(l_quantity <= 45, false)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v1,
        |  CAST(sum(CASE WHEN coalesce(l_discount < l_tax, false)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v2,
        |  CAST(sum(CASE WHEN coalesce(l_extendedprice > 0, false)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v3
        |  FROM lineitem)
        |SELECT 'qty_le_45' AS "check", n AS n_rows, v1 AS n_violations,
        |  CAST(v1 * 1000000 // n AS BIGINT) AS violation_ppm FROM t
        |UNION ALL
        |SELECT 'disc_lt_tax', n, v2, CAST(v2 * 1000000 // n AS BIGINT) FROM t
        |UNION ALL
        |SELECT 'price_pos', n, v3, CAST(v3 * 1000000 // n AS BIGINT) FROM t""".stripMargin,

    "q237_unique_check" ->
      """SELECT 'cust_unique' AS "check", count(*) AS n_rows,
        |  count(*) - count(DISTINCT o_custkey) AS n_violations,
        |  (count(*) - count(DISTINCT o_custkey)) * 1000000 // count(*)
        |    AS violation_ppm
        |FROM orders""".stripMargin,

    "q238_ref_integrity" ->
      """WITH p AS (SELECT DISTINCT s_suppkey FROM supplier
        |           WHERE s_suppkey % 3 <> 0),
        |  c AS (SELECT count(*) AS n FROM lineitem),
        |  o AS (SELECT count(*) AS v FROM lineitem l
        |        LEFT JOIN p ON l.l_suppkey = p.s_suppkey
        |        WHERE p.s_suppkey IS NULL)
        |SELECT 'supp_fk' AS "check", n AS n_rows, v AS n_violations,
        |  v * 1000000 // n AS violation_ppm
        |FROM c, o""".stripMargin)
}
