package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.Dedup
import graft.streaming.StreamOps

/** The streaming incremental-corpus-dedup composition
  * (StreamOps.streamingIncrementalDedup): an unbounded document feed
  * deduplicated per micro-batch against the corpus accepted so far,
  * with survivors (and their hash/band side tables) appended to the
  * corpus. Verified three ways:
  *   1. semantics — planted in-batch exact dups, in-batch near-dups
  *      (dominated rule), cross-batch exact dups and cross-batch
  *      near-dups are each dropped; uniques survive;
  *   2. machinery — the streaming run equals a manual sequential
  *      fold of the shared kernel (Dedup.incrementalDedupStep) over
  *      the same batches;
  *   3. recovery — stop between micro-batches, let a batch land
  *      while down, restart on the same checkpoint: no batch lost,
  *      none double-accepted, corpus identical to an uninterrupted
  *      run.
  * The LSH banding kernels the step builds on are themselves
  * DuckDB-oracled (q44/q484); the streaming exact-only path is
  * oracle-gated end-to-end as q507.
  */
class StreamingIncrementalDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  // 30-word base texts; near-dups change only the final word so the
  // shingle sets overlap on 27/28 trigrams (deterministic fixtures —
  // bucket collisions are a pure function of the fixed texts)
  private def words(tag: String): String =
    (1 to 29).map(i => s"$tag word$i").take(29).mkString(" ")
  private val textA = words("alpha") + " tail"
  private val textAnear = words("alpha") + " changed"
  private val textB = (1 to 30).map(i => s"beta$i").mkString(" ")
  private val textC = (1 to 30).map(i => s"gamma$i").mkString(" ")
  private val textCnear =
    (1 to 29).map(i => s"gamma$i").mkString(" ") + " delta"
  private val textD = (1 to 30).map(i => s"epsilon$i").mkString(" ")

  //  b0: 1=A, 2=B, 3=exact copy of A (in-batch exact), 4=near-A
  //      (in-batch dominated)
  //  b1: 5=exact A (cross-batch exact), 6=near-A (cross-batch LSH),
  //      7=C, 8=null text (excluded by contract)
  //  b2: 9=near-C (cross-batch LSH), 10=D
  private val batches: Seq[Seq[(java.lang.Long, String)]] = Seq(
    Seq((1L, textA), (2L, textB), (3L, textA), (4L, textAnear)),
    Seq((5L, textA), (6L, textAnear), (7L, textC), (8L, null)),
    Seq((9L, textCnear), (10L, textD)))

  private def batchDf(b: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        batches(b).map(r => org.apache.spark.sql.Row(r._1, r._2))),
      schema)

  /** reference: fold the shared kernel over the batches manually
    * (lazy val — all three tests compare against the same fold). */
  private lazy val sequentialKeptIds: Seq[Long] = {
    var hashes: Option[DataFrame] = None
    var bands: Option[DataFrame] = None
    var kept = Seq.empty[Long]
    batches.indices.foreach { b =>
      val (k, h, bd) = Dedup.incrementalDedupStep(
        batchDf(b), "text", "doc_id", hashes, bands)
      kept ++= k.select("doc_id").as[Long].collect().toSeq
      hashes = Some(hashes.map(_.unionByName(h)).getOrElse(h)
        .localCheckpoint(true))
      bands = Some(bands.map(_.unionByName(bd)).getOrElse(bd)
        .localCheckpoint(true))
    }
    kept.sorted
  }

  test("planted dups: in-batch exact, in-batch dominated near-dup, " +
      "cross-batch exact and cross-batch near-dup are all dropped; " +
      "uniques survive the sequential fold") {
    sequentialKeptIds shouldBe Seq(1L, 2L, 7L, 10L)
  }

  test("streaming run equals the sequential fold of the shared " +
      "kernel, batch by batch (file source + foreachBatch + " +
      "corpus side tables)") {
    val root = tmp("graft_sid_")
    val inDir = s"$root/in"
    val corpusDir = s"$root/corpus"; val ckpt = s"$root/ckpt"
    def writeBatch(b: Int): Unit =
      batchDf(b).coalesce(1).write.mode("append").parquet(inDir)
    writeBatch(0)
    val q = StreamOps.streamingIncrementalDedup(
      spark.readStream.schema(schema).parquet(inDir),
      "text", "doc_id", corpusDir, ckpt)
    try {
      q.processAllAvailable()
      writeBatch(1); q.processAllAvailable()
      writeBatch(2); q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(s"$corpusDir/docs")
    got.select("doc_id").as[Long].collect().sorted.toSeq shouldBe
      sequentialKeptIds
    // the side tables stay consistent with the docs table
    spark.read.parquet(s"$corpusDir/hashes").count() shouldBe 4
    val bandRows = spark.read.parquet(s"$corpusDir/bands")
    bandRows.select("id").distinct().as[Long].collect().sorted
      .toSeq shouldBe Seq(1L, 2L, 7L, 10L)
    // survivors kept their content (exact text equality per id)
    got.filter(col("doc_id") === 7L).select("text")
      .as[String].head() shouldBe textC
  }

  test("bloom-pruned stage 2 (bloomExpectedItems) keeps EXACTLY the " +
      "same docs as the plain anti-join path — bloom negatives are " +
      "definite, positives are verified") {
    var hashes: Option[DataFrame] = None
    var bands: Option[DataFrame] = None
    var kept = Seq.empty[Long]
    batches.indices.foreach { b =>
      val (k, h, bd) = Dedup.incrementalDedupStep(
        batchDf(b), "text", "doc_id", hashes, bands,
        bloomExpectedItems = Some(1000L))
      kept ++= k.select("doc_id").as[Long].collect().toSeq
      hashes = Some(hashes.map(_.unionByName(h)).getOrElse(h)
        .localCheckpoint(true))
      bands = Some(bands.map(_.unionByName(bd)).getOrElse(bd)
        .localCheckpoint(true))
    }
    kept.sorted shouldBe sequentialKeptIds
  }

  test("no window sorts the corpus band table: stage 3 reads the " +
      "prior bands through a count aggregate, and only the batch's " +
      "own hot-bucket cap is a window") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
      Window}
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val bandsDir = tmp("graft_sid_prior_") + "/bands"
    val (_, _, bd0) = Dedup.incrementalDedupStep(
      batchDf(0), "text", "doc_id", None, None)
    bd0.write.parquet(bandsDir)
    val (k, _, _) = Dedup.incrementalDedupStep(batchDf(1), "text",
      "doc_id", None, Some(spark.read.parquet(bandsDir)))
    def readsPriorBands(p: LogicalPlan): Boolean = p.exists {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation =>
          r.location.rootPaths.exists(_.toUri.getPath == bandsDir)
        case _ => false
      }
      case _ => false
    }
    val plan = k.queryExecution.optimizedPlan
    readsPriorBands(plan) shouldBe true
    val windows = plan.collect { case w: Window => w }
    windows should not be empty
    windows.filter(readsPriorBands) shouldBe empty
  }

  test("bucketed side tables: same corpus as the parquet path, and " +
      "the corpus-side stage-2/stage-3 reads plan with ZERO shuffles " +
      "(the growing join side never pays a per-batch exchange)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def shuffles(df: DataFrame): Int = {
      df.collect() // finalize AQE
      def cnt(p: org.apache.spark.sql.execution.SparkPlan): Int = {
        val self = p match {
          case _: ShuffleExchangeExec => 1; case _ => 0
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case o => o.children ++ o.subqueries.map(_.asInstanceOf[
            org.apache.spark.sql.execution.SparkPlan])
        }
        self + kids.map(cnt).sum
      }
      cnt(df.queryExecution.executedPlan)
    }
    val root = tmp("graft_sid_bucketed_")
    val inDir = s"$root/in"
    val corpusDir = s"$root/corpus"; val ckpt = s"$root/ckpt"
    def writeBatch(b: Int): Unit =
      batchDf(b).coalesce(1).write.mode("append").parquet(inDir)
    writeBatch(0)
    val q = StreamOps.streamingIncrementalDedup(
      spark.readStream.schema(schema).parquet(inDir),
      "text", "doc_id", corpusDir, ckpt,
      bucketSideTables = Some(4), tablePrefix = "sid_bspec")
    try {
      q.processAllAvailable()
      writeBatch(1); q.processAllAvailable()
      writeBatch(2); q.processAllAvailable()
    } finally q.stop()

    // identical corpus to the parquet-path / sequential-fold result
    spark.read.parquet(s"$corpusDir/docs").select("doc_id")
      .as[Long].collect().sorted.toSeq shouldBe sequentialKeptIds
    // side tables agree with the docs table (per-batch partition
    // drop + append = the parquet path's Overwrite idempotence)
    spark.table("sid_bspec_hashes").count() shouldBe 4
    spark.table("sid_bspec_bands").select("id").distinct()
      .as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L, 7L, 10L)
    // the exact corpus consultations the kernel performs, rebuilt
    // statically: both must need NO shuffle on the corpus side —
    // the distinct-hash aggregate and the (band, bucket) count
    // aggregate land on the bucket layout as-is
    val ch = spark.table("sid_bspec_hashes").drop("batch")
      .select(col("text_md5").as("__md5__")).distinct()
    shuffles(ch) shouldBe 0
    val bc = spark.table("sid_bspec_bands").drop("batch")
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
    shuffles(bc) shouldBe 0
  }

  test("restart recovery: stop between micro-batches, a batch lands " +
      "while down, restart on the same checkpoint — no loss, no " +
      "double-accept, corpus equal to the uninterrupted run") {
    val root = tmp("graft_sid_restart_")
    val inDir = s"$root/in"
    val corpusDir = s"$root/corpus"; val ckpt = s"$root/ckpt"
    def writeBatch(b: Int): Unit =
      batchDf(b).coalesce(1).write.mode("append").parquet(inDir)
    def start() = StreamOps.streamingIncrementalDedup(
      spark.readStream.schema(schema).parquet(inDir),
      "text", "doc_id", corpusDir, ckpt)

    writeBatch(0)
    val q1 = start()
    try {
      q1.processAllAvailable()
      writeBatch(1); q1.processAllAvailable()
    } finally q1.stop() // simulated failure between micro-batches
    writeBatch(2)       // arrives while the pipeline is down
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(s"$corpusDir/docs")
    got.select("doc_id").as[Long].collect().sorted.toSeq shouldBe
      sequentialKeptIds
    // exactly one accepted row per surviving id — nothing was
    // re-accepted across the restart
    got.groupBy("doc_id").count().filter(col("count") > 1)
      .count() shouldBe 0L
  }
}
