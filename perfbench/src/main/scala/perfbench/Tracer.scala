package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer's public function, as the harness saw it. */
final case class Span(id: Int, parent: Int, run: Int, layer: String,
    name: String, startNs: Long, var endNs: Long = 0L)

/** Spark engine counters, accumulated from outside the program by a
  * SparkListener (jobs, stages, tasks, shuffle), a
  * QueryExecutionListener (Catalyst phase times, plan sizes, scan
  * time) and a StreamingQueryListener (micro-batch progress). */
final class EngineCounters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val taskBusyNs = new AtomicLong
  val schedWaitMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleFetchWaitMs = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val bytesWritten = new AtomicLong
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong
  val planNodes = new AtomicLong
  val scanMs = new AtomicLong
  val writeMs = new AtomicLong
}

/** Per-micro-batch figures from StreamingQueryProgress. */
final case class BatchProgress(query: String, batchMs: Long,
    planningMs: Long, walMs: Long, inputRows: Long, stateRows: Long,
    stateBytes: Long, lateDropped: Long)

/** Spans are kept in memory and written out when the run ends. Spans
  * and engine counters are recorded only inside `record` windows; a
  * tracer that is not `enabled` records nothing. */
final class Tracer(val enabled: Boolean, val runId: Int) {
  @volatile private var on = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val nextId = new AtomicInteger(1)
  @volatile private var sc: org.apache.spark.SparkContext = _

  val total = new EngineCounters
  /** job, stage and task counters attributed to a span through the
    * job group the span sets on the client thread */
  val bySpan = new ConcurrentHashMap[Int, EngineCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  private val markerSeen = new ConcurrentHashMap[String, java.lang.Boolean]()

  def counters(spanId: Int): EngineCounters =
    bySpan.computeIfAbsent(spanId, _ => new EngineCounters)

  /** Times `f` as a span of `layer`; the span's Spark jobs carry its
    * id as their job group. */
  def span[T](layer: String, name: String)(f: => T): T = {
    if (!on) return f
    val parent = stack.headOption
    val s = Span(nextId.getAndIncrement(), parent.map(_.id).getOrElse(0),
      runId, layer, name, System.nanoTime())
    spans += s
    stack = s :: stack
    if (sc != null) sc.setJobGroup(s"span-${s.id}", name, false)
    try f
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (sc != null) parent match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Runs `f` with recording on; listener events still in flight are
    * drained on both sides, so counters hold exactly `f`'s work. */
  def record[T](spark: SparkSession)(f: => T): T = {
    if (!enabled) return f
    drain(spark)
    on = true
    try f finally {
      drain(spark)
      on = false
    }
  }

  /** Listener events arrive asynchronously; run a marker job and wait
    * until its end event has been delivered, so every earlier event
    * has been counted. */
  def drain(spark: SparkSession): Unit = {
    val tag = s"marker-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(tag, tag, false)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 20000000000L
    while (!markerSeen.containsKey(tag) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  private def spanOfProps(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.drop(5).toInt).getOrElse(0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Option(e.properties).flatMap(x =>
          Option(x.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("marker-"))
        .foreach(g => markerJobs.put(e.jobId, g))
      if (!on || markerJobs.containsKey(e.jobId)) return
      val sid = spanOfProps(e.properties)
      e.stageIds.foreach(st => stageSpan.put(st, sid))
      total.jobs.incrementAndGet()
      counters(sid).jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(markerJobs.remove(e.jobId)).foreach(g =>
        markerSeen.put(g, true))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmit.put(e.stageInfo.stageId, t))
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stageFirstLaunch.putIfAbsent(e.stageId, e.taskInfo.launchTime)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = e.stageInfo.stageId
      if (!stageSpan.containsKey(st)) return
      val sid = stageSpan.getOrDefault(st, 0)
      val wait = for {
        s <- Option(stageSubmit.get(st)); l <- Option(stageFirstLaunch.get(st))
      } yield math.max(0L, l - s)
      Seq(total, counters(sid)).foreach { c =>
        c.stages.incrementAndGet()
        wait.foreach(w => c.schedWaitMs.addAndGet(w))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (!stageSpan.containsKey(e.stageId)) return
      val sid = stageSpan.getOrDefault(e.stageId, 0)
      val m = e.taskMetrics
      val info = e.taskInfo
      Seq(total, counters(sid)).foreach { c =>
        c.tasks.incrementAndGet()
        if (info.failed || info.killed) c.failedTasks.incrementAndGet()
        if (m != null) {
          c.taskBusyNs.addAndGet(m.executorRunTime * 1000000L)
          val delay = info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime
          c.schedWaitMs.addAndGet(math.max(0L, delay))
          c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.shuffleFetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
          c.spillBytes.addAndGet(m.diskBytesSpilled)
          c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  private def planStats(p: SparkPlan): (Long, Long) = {
    // (nodes, scan ms) over the final adaptive plan and its stages
    var nodes = 0L
    var scanMs = 0L
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        nodes += 1
        other match {
          case f: FileSourceScanExec =>
            f.metrics.get("scanTime").foreach(m => scanMs += m.value)
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
    (nodes, scanMs)
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(funcName, qe, 0L)
    private def record(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      if (!on) return
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      total.analysisMs.addAndGet(ms("analysis"))
      total.optimizationMs.addAndGet(ms("optimization"))
      total.planningMs.addAndGet(ms("planning"))
      try {
        val (n, scan) = planStats(qe.executedPlan)
        total.planNodes.addAndGet(n)
        total.scanMs.addAndGet(scan)
      } catch { case _: Throwable => () }
      if (funcName == "command" || funcName.startsWith("save") ||
          funcName.startsWith("insert"))
        total.writeMs.addAndGet(durationNs / 1000000L)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (!on) return
      val d = p.durationMs.asScala
      def g(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0)
        batches.add(BatchProgress(Option(p.name).getOrElse(""),
          g("triggerExecution"), g("queryPlanning"), g("walCommit"),
          p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum,
          p.stateOperators.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  /** Self time: the span's duration minus the time its child spans
    * cover (children of one client thread never overlap). */
  def selfNs: Map[Int, Long] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0)
      childNs(s.parent) += s.endNs - s.startNs)
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs(s.id))).toMap
  }

  def writeSpans(path: String): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      val n = m.createObjectNode()
      n.put("id", s.id)
      n.put("parent", s.parent)
      n.put("run", s.run)
      n.put("layer", s.layer)
      n.put("name", s.name)
      n.put("start_ns", s.startNs)
      n.put("end_ns", s.endNs)
      w.println(m.writeValueAsString(n))
    } finally w.close()
  }
}
