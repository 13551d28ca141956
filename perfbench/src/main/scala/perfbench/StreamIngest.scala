package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.streaming.StreamOps

/** Open loop: one generator thread writes stamped event and document
  * files on a fixed 100 ms schedule at a few fixed offered rates; four
  * streaming queries consume them (watermark dedup, EWM and HLL
  * monitors, incremental corpus dedup that writes side tables). */
final class StreamIngest(work: String, seed: Long) extends Workload {
  /** offered event rates (rows/s), run in this order */
  val rates = Seq(1000, 4000, 16000)
  val tickMs = 100
  val docsPerTick = 20
  val watermark = "5 seconds"
  private val root = s"$work/stream"
  private val evIn = s"$root/events"
  private val docIn = s"$root/docs"
  private val rng = new java.util.SplittableRandom(seed)

  // ground truth kept by the generator
  private val genRows = new AtomicLong
  private val uniqueIds = new AtomicLong
  private val docTexts = mutable.HashSet[String]()
  private val usersByType = mutable.Map[String, mutable.HashSet[Long]]()
  private var nextId = 0L
  private var nextDoc = 0L
  private val recent = mutable.ArrayBuffer[(Long, Long, String, Double)]()
  private val pastDocs = mutable.ArrayBuffer[String]()
  private var fileNo = 0

  // what the queries emitted
  private val dedupOut = new AtomicLong
  private val ewmOut = new AtomicLong
  private val hllLast = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val inputRows = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  /** (emitted at ms, newest event stamp ms, rows) per dedup batch */
  private val emitted = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  private var queries = Seq.empty[StreamingQuery]
  private var listener: StreamingQueryListener = _

  private val evSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_ms", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val types = Seq("signup", "click", "error", "view", "purchase")

  private def inputOf(q: String): Long =
    Option(inputRows.get(q)).map(_.get).getOrElse(0L)

  private def writeFile(dir: String, lines: Iterable[String]): Unit = {
    fileNo += 1
    val tmp = new File(s"$root/tmp-$fileNo.json")
    val w = new PrintWriter(tmp)
    try lines.foreach(w.println) finally w.close()
    // the rename makes the file appear whole to the file source
    tmp.renameTo(new File(dir, f"part-$fileNo%07d.json"))
  }

  private def word(): String = {
    val r = rng.nextInt(4000)
    "w" + Integer.toString(r * 7919 % 100003, 36)
  }

  /** `n` events stamped `dueMs`; one in twenty re-sends a recent event
    * id, which the watermark dedup must drop */
  private def events(n: Int, dueMs: Long): Unit = {
    val lines = (0 until n).map { _ =>
      if (recent.nonEmpty && rng.nextInt(20) == 0) {
        val (id, user, tpe, v) = recent(rng.nextInt(recent.size))
        s"""{"event_id":$id,"ts_ms":$dueMs,"user_id":$user,"event_type":"$tpe","value":$v}"""
      } else {
        val id = nextId; nextId += 1
        val user = rng.nextInt(5000).toLong
        val tpe = types(rng.nextInt(types.size))
        val v = math.round(-50.0 * math.log(1.0 - rng.nextDouble()) * 100) / 100.0
        recent += ((id, user, tpe, v))
        if (recent.size > 200) recent.remove(0)
        uniqueIds.incrementAndGet()
        usersByType.getOrElseUpdate(tpe, mutable.HashSet()) += user
        s"""{"event_id":$id,"ts_ms":$dueMs,"user_id":$user,"event_type":"$tpe","value":$v}"""
      }
    }
    genRows.addAndGet(n)
    writeFile(evIn, lines)
  }

  /** documents; one in ten repeats an earlier document exactly */
  private def docs(n: Int): Unit = {
    val lines = (0 until n).map { _ =>
      val text = if (pastDocs.nonEmpty && rng.nextInt(10) == 0)
        pastDocs(rng.nextInt(pastDocs.size))
      else (0 until 40).map(_ => word()).mkString(" ")
      pastDocs += text
      if (pastDocs.size > 500) pastDocs.remove(0)
      docTexts += text
      val id = nextDoc; nextDoc += 1
      s"""{"doc_id":$id,"text":"$text"}"""
    }
    writeFile(docIn, lines)
  }

  /** blocks until every query has processed every file written so far */
  private def drain(): Unit = queries.foreach(_.processAllAvailable())

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteDirectory(new File(root))
    Seq(evIn, docIn).foreach(d => new File(d).mkdirs())
    genRows.set(0); uniqueIds.set(0); dedupOut.set(0); ewmOut.set(0)
    docTexts.clear(); usersByType.clear(); recent.clear()
    pastDocs.clear(); hllLast.clear(); inputRows.clear(); emitted.clear()
    spark.catalog.clearCache()
    listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.name != null)
          inputRows.computeIfAbsent(p.name, _ => new AtomicLong)
            .addAndGet(p.numInputRows)
      }
    }
    spark.streams.addListener(listener)
    // the warm-up files exist before the queries start
    events(200, System.currentTimeMillis())
    docs(docsPerTick)

    val ev = spark.readStream.schema(evSchema).json(evIn)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val dedup = StreamOps.dedupeStreamWithinWatermark(ev, "ts", watermark,
      Seq("event_id"))
    val q1 = dedup.writeStream.queryName("dedup")
      .option("checkpointLocation", s"$root/ckpt-dedup")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val r = b.agg(count(lit(1)), max(col("ts_ms"))).head()
        val n = r.getLong(0)
        if (n > 0) {
          dedupOut.addAndGet(n)
          emitted.add((System.currentTimeMillis(), r.getLong(1), n))
        }
        ()
      }.start()
    val ewmIn: Dataset[(String, Long, Option[Double])] = ev
      .select(col("user_id").cast("string"), col("ts_ms"), col("value"))
      .as[(String, Long, Option[Double])]
    val q2 = StreamOps.ewmStream(ewmIn, alpha = 0.3).writeStream
      .queryName("ewm").option("checkpointLocation", s"$root/ckpt-ewm")
      .foreachBatch { (b: Dataset[StreamOps.EwmStreamOut], _: Long) =>
        ewmOut.addAndGet(b.count()); ()
      }.start()
    val hllIn: Dataset[(String, String)] = ev
      .select(col("event_type"), col("user_id").cast("string"))
      .as[(String, String)]
    val q3 = StreamOps.hllStream(hllIn, p = 10).writeStream
      .queryName("hll").option("checkpointLocation", s"$root/ckpt-hll")
      .foreachBatch { (b: Dataset[StreamOps.HllStreamOut], _: Long) =>
        b.collect().foreach(o => hllLast.put(o.key, o.hllEstimate)); ()
      }.start()
    val q4 = StreamOps.streamingIncrementalDedup(
      spark.readStream.schema(docSchema).json(docIn), "text", "doc_id",
      s"$root/corpus", s"$root/ckpt-ingest")
    queries = Seq(q1, q2, q3, q4)
    drain()
  }

  override def teardown(spark: SparkSession): Unit = {
    queries.foreach(q => try q.stop() catch { case _: Throwable => () })
    queries = Nil
    if (listener != null) spark.streams.removeListener(listener)
  }

  def run(spark: SparkSession, tracer: Tracer, rec: Recorder,
      seconds: Double): Unit = {
    val phaseMs = math.max(1000L, (seconds * 1000 / rates.size).toLong)
    val t0 = System.currentTimeMillis()
    val lags = mutable.ArrayBuffer[Double]()
    val backlogs = mutable.ArrayBuffer[Long]()
    var sustainable = 0.0
    val emittedBefore = emitted.size
    val rowsBefore = inputOf("dedup")
    tracer.record(spark)(tracer.span("streaming", "ingest") {
      var start = t0
      rates.foreach { rate =>
        val ticks = (phaseMs / tickMs).toInt
        // backlog (rows offered, not yet read) before each tick
        val backlog = (0 until ticks).map { k =>
          val due = start + k * tickMs
          val now = System.currentTimeMillis()
          if (due > now) Thread.sleep(due - now)
          lags += (System.currentTimeMillis() - due) / 1000.0
          val b = genRows.get - inputOf("dedup")
          events(rate * tickMs / 1000, due)
          if (k % 5 == 0) docs(docsPerTick)
          b
        }
        start += ticks * tickMs
        backlogs ++= backlog
        // micro-batches drain the backlog in a saw-tooth; it does not
        // grow when the second half of the phase peaks no higher than
        // the first half (plus one tick of input)
        val (first, second) = backlog.splitAt(ticks / 2)
        if (second.max <= first.max + rate * tickMs / 1000)
          sustainable = rate.toDouble
      }
      drain()
    })
    val wall = (System.currentTimeMillis() - t0) / 1000.0
    rec.passes += 1
    rec.elapsed += wall
    val mine = emitted.asScala.drop(emittedBefore).toSeq
    mine.foreach { case (at, newest, n) =>
      rec.samples += Sample("batch", (at - newest) / 1000.0, n, ok = true,
        tracer.enabled)
    }
    System.gc()
    rec.liveHeapMb = math.max(rec.liveHeapMb, Env.heapUsedMb())
    rec.extra("rows") = (inputOf("dedup") - rowsBefore).toDouble
    rec.extra("ops") = rec.extra.getOrElse("ops", 0.0) + mine.size
    rec.extra("streaming.sustainable_rows_per_s") = sustainable
    rec.extra("streaming.backlog_rows") = backlogs.max.toDouble
    rec.extra("bench.generator_lag_p90_s") = Main.quantile(lags.toSeq, 0.9)
    rec.extra("stream_ops") = rec.extra.getOrElse("stream_ops", 0.0) + 4

    // planted truth
    if (dedupOut.get != uniqueIds.get)
      rec.fail("dedup", s"emitted ${dedupOut.get} unique ${uniqueIds.get}")
    if (ewmOut.get != genRows.get)
      rec.fail("ewm", s"emitted ${ewmOut.get} rows for ${genRows.get} inputs")
    usersByType.foreach { case (tpe, users) =>
      val est = Option(hllLast.get(tpe)).getOrElse(0.0)
      if (math.abs(est - users.size) > 0.15 * users.size)
        rec.fail("hll", s"$tpe estimate $est for ${users.size} distinct users")
    }
    val kept = spark.read.parquet(s"$root/corpus/docs").count()
    if (kept != docTexts.size)
      rec.fail("ingest", s"kept $kept docs of ${docTexts.size} distinct texts")
  }

  override def layerMetrics(rec: Recorder, tracer: Tracer): Map[String, Double] =
    rec.extra.filter(_._1.contains(".")).toMap +
      ("streaming.latency_p90_s" ->
        Main.quantile(rec.samples.filter(_.traced).map(_.seconds).toSeq, 0.9))
}

object Streaming {
  /** micro-batch figures from the StreamingQueryListener */
  def metrics(tracer: Tracer): Map[String, Double] = {
    val bs = tracer.batches.asScala.toSeq
    val secs = bs.map(_.batchMs / 1000.0)
    def maxOf(f: BatchProgress => Long) =
      if (bs.isEmpty) 0.0 else bs.map(f).max.toDouble
    Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.batch_s_p50" -> Main.median(secs),
      "streaming.batch_s_p90" -> Main.quantile(secs, 0.9),
      "streaming.query_planning_s" -> bs.map(_.planningMs).sum / 1000.0,
      "streaming.wal_commit_s" -> bs.map(_.walMs).sum / 1000.0,
      "streaming.state_rows" -> maxOf(_.stateRows),
      "streaming.state_bytes" -> maxOf(_.stateBytes),
      "streaming.late_rows_dropped" -> bs.map(_.lateDropped).sum.toDouble)
  }
}

/** Incremental ingest of a document set as a stream: the documents
  * arrive as `increments` files in doc-id order, one micro-batch each.
  * `streamingIncrementalDedup` dedups every batch against the corpus
  * accepted so far and writes the corpus side tables;
  * `streamingParagraphDedup` keeps the first copy of every paragraph in
  * watermark state (all rows carry one stamp, so nothing expires). */
object Ingest {
  /** (accepted docs, their id sum, paragraphs emitted) */
  def run(spark: SparkSession, docs: DataFrame, root: String,
      increments: Int): (Long, Long, Long) = {
    org.apache.commons.io.FileUtils.deleteDirectory(new File(root))
    val in = new File(s"$root/in")
    in.mkdirs()
    val src = spark.readStream.schema(docs.schema).parquet(in.getPath)
    val corpus = StreamOps.streamingIncrementalDedup(src, "text", "doc_id",
      s"$root/corpus", s"$root/ckpt-corpus", lshStage = false)
    val paragraphs = new AtomicLong
    val paras = StreamOps.streamingParagraphDedup(
        src.withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))),
        "text", "doc_id",
        "ts", "1 hour")
      .writeStream.option("checkpointLocation", s"$root/ckpt-paragraphs")
      .foreachBatch { (b: DataFrame, _: Long) =>
        paragraphs.addAndGet(b.count()); ()
      }.start()
    val queries = Seq(corpus, paras)
    try {
      val r = docs.agg(min("doc_id"), max("doc_id")).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val step = (hi - lo) / increments + 1
      (0 until increments).foreach { i =>
        val tmp = s"$root/tmp-$i"
        docs.filter(col("doc_id") >= lo + i * step &&
            col("doc_id") < lo + (i + 1) * step)
          .coalesce(1).write.parquet(tmp)
        // the rename makes the file appear whole to the file source
        new File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach(f => f.renameTo(new File(in, f"inc-$i%03d.parquet")))
        queries.foreach(_.processAllAvailable())
      }
    } finally queries.foreach(_.stop())
    queries.foreach(_.exception.foreach(e => throw e))
    val kept = spark.read.parquet(s"$root/corpus/docs")
      .agg(count(lit(1)), sum("doc_id")).head()
    (kept.getLong(0), kept.getLong(1), paragraphs.get)
  }
}
