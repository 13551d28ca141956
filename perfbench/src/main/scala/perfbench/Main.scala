package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of a closed-loop workload: `run` produces the
  * result inside the timed span, `check` validates it afterwards. */
final case class Op(name: String, layer: String, rows: Long,
    run: () => Any, check: Any => Option[String])

final case class Sample(op: String, seconds: Double, rows: Long,
    ok: Boolean, traced: Boolean)

/** What one timed phase measured. */
final class Recorder {
  val samples = mutable.ArrayBuffer[Sample]()
  var passes = 0
  val failures = mutable.LinkedHashMap[String, String]()
  var leakedEntries = 0L
  /** the most heap still live at the end of a pass, found by a full GC */
  var liveHeapMb = 0.0
  var elapsed = 0.0
  /** workload-specific figures (stream rows and ops, per-layer values) */
  val extra = mutable.LinkedHashMap[String, Double]()

  def fail(op: String, why: String): Unit =
    if (!failures.contains(op)) failures(op) = why.take(300)
}

trait Workload {
  /** registers inputs and warms up; timed as set-up */
  def setup(spark: SparkSession): Unit
  /** runs the workload for `seconds` seconds */
  def run(spark: SparkSession, tracer: Tracer, rec: Recorder,
      seconds: Double): Unit
  def teardown(spark: SparkSession): Unit = ()
  /** per-layer figures this workload derives from a traced phase */
  def layerMetrics(rec: Recorder, tracer: Tracer): Map[String, Double] =
    Map.empty
}

/** Closed loop, one client: whole passes over a fixed op mix until
  * time is up, so every run measures the same mix. The cache is
  * cleared before every op, so no op reads another op's (or its own
  * earlier) `.cache()` output. */
abstract class ClosedLoop extends Workload {
  def pass(spark: SparkSession): Seq[Op]
  /** untimed work before each pass (re-caching declared inputs) */
  def beforePass(spark: SparkSession): Unit = ()
  /** ops that read the inputs `beforePass` cached keep the cache */
  def keepsCache(op: Op): Boolean = false

  def run(spark: SparkSession, tracer: Tracer, rec: Recorder,
      seconds: Double): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val sc = spark.sparkContext
    var untracedS, tracedS = 0.0
    do {
      beforePass(spark)
      pass(spark).zipWithIndex.foreach { case (op, i) =>
        // traced runs time every op twice, untraced and traced, in
        // alternating order so neither side gets the warmer cache
        val modes = if (!tracer.enabled) Seq(false)
          else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        modes.foreach { traced =>
          if (!keepsCache(op)) spark.catalog.clearCache()
          val before = sc.getPersistentRDDs.size
          val (res, dt) = if (traced) tracer.record(spark)(timed(tracer, op))
            else timed(tracer, op)
          if (traced) tracedS += dt else untracedS += dt
          rec.leakedEntries += math.max(0, sc.getPersistentRDDs.size - before)
          val ok = res match {
            case Left(e) =>
              rec.fail(op.name, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
              false
            case Right(r) =>
              val bad = try op.check(r)
                catch { case e: Throwable => Some(s"check threw $e") }
              bad.foreach(b => rec.fail(op.name, b))
              bad.isEmpty
          }
          rec.samples += Sample(op.name, dt, op.rows, ok, traced)
          System.err.println(
            f"[perfbench] ${op.name}%-28s $dt%.3f s ok=$ok traced=$traced")
        }
      }
      rec.passes += 1
      System.gc()
      rec.liveHeapMb = math.max(rec.liveHeapMb, Env.heapUsedMb())
    } while (System.nanoTime() < deadline)
    spark.catalog.clearCache()
    rec.elapsed += (System.nanoTime() - t0) / 1e9
    if (tracer.enabled) {
      rec.extra("traced_s") = tracedS
      rec.extra("bench.trace_overhead_ratio") = tracedS / untracedS
    }
  }

  private def timed(tracer: Tracer, op: Op): (Either[Throwable, Any], Double) = {
    val s0 = System.nanoTime()
    val res = try Right(tracer.span(op.layer, op.name)(op.run()))
      catch { case e: Throwable => Left(e) }
    (res, (System.nanoTime() - s0) / 1e9)
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump-spec")) return Spec.dump(args(1))
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val setups = 5
    val cores = Runtime.getRuntime.availableProcessors()
    val envStart = Env.snapshot()
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime

    val w: Workload = workload match {
      case "olap_tpch" => new Olap(data, cores)
      case "llm_dedup" => new LlmDedup(data, work)
      case "graph_ml_iterative" => new GraphMl(data)
      case "stream_ingest" => new StreamIngest(work, seed)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up, five times: the first from JVM start, the rest from a
    // stopped session; the median is reported
    var spark: SparkSession = null
    val setupS = (1 to setups).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) { w.teardown(spark); spark.stop() }
      spark = graft.GraftSession.local(cores)
      spark.sparkContext.setLogLevel("ERROR")
      w.setup(spark)
      val s = if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1000.0
        else (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup $i $s%.3f s")
      s
    }

    val gc0 = Env.gcMs()
    val rec = new Recorder
    val tracer = new Tracer(trace, seed.toInt)
    if (trace) tracer.attach(spark)
    w.run(spark, tracer, rec, seconds)
    if (trace) tracer.writeSpans(s"$work/spans.jsonl")
    val gcS = (Env.gcMs() - gc0) / 1000.0
    val layer = if (trace) w.layerMetrics(rec, tracer) else Map.empty[String, Double]
    w.teardown(spark)
    spark.stop()
    val envEnd = Env.snapshot()

    val lat = rec.samples.filter(!_.traced).map(_.seconds).toSeq
    val attempted = rec.samples.size + rec.extra.getOrElse("stream_ops", 0.0).toLong
    val failed = rec.samples.count(!_.ok) + rec.failures.keySet
      .count(k => !rec.samples.exists(_.op == k))
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setupS) -> "s"),
      // the timed phase's wall time, per pass over the mix
      "wall_s" -> (rec.elapsed / rec.passes -> "s"),
      // geometric mean over ops, as TPC-H's power metric: every op
      // weighs the same, however long it runs
      "latency_geomean_s" -> (math.exp(lat.map(math.log).sum / lat.size) -> "s"),
      "ops_per_s" -> (rec.extra.getOrElse("ops", lat.size.toDouble) /
        rec.elapsed -> "1/s"),
      "input_rows_per_s" -> (rec.extra.getOrElse("rows",
        rec.samples.filter(!_.traced).map(_.rows).sum.toDouble) / rec.elapsed -> "rows/s"))

    val pl = mutable.LinkedHashMap[String, Double]()
    if (trace) {
      val t = tracer.total
      // the time spent inside recording windows
      val wallS = rec.extra.getOrElse("traced_s", rec.elapsed)
      val busyS = t.taskBusyNs.get / 1e9
      val catalystS = (t.analysisMs.get + t.optimizationMs.get +
        t.planningMs.get) / 1000.0
      pl ++= Seq(
        "catalyst.analysis_s" -> t.analysisMs.get / 1000.0,
        "catalyst.optimization_s" -> t.optimizationMs.get / 1000.0,
        "catalyst.planning_s" -> t.planningMs.get / 1000.0,
        "catalyst.plan_nodes" -> t.planNodes.get.toDouble,
        "catalyst.share" -> catalystS / wallS,
        "spark.jobs" -> t.jobs.get.toDouble,
        "spark.stages" -> t.stages.get.toDouble,
        "spark.tasks" -> t.tasks.get.toDouble,
        "spark.task_busy_s" -> busyS,
        "spark.core_util" -> busyS / (wallS * cores),
        "spark.gc_s" -> gcS,
        "spark.shuffle_write_bytes" -> t.shuffleWriteBytes.get.toDouble,
        "spark.shuffle_fetch_wait_s" -> t.shuffleFetchWaitMs.get / 1000.0,
        "spark.spill_bytes" -> t.spillBytes.get.toDouble,
        "spark.failed_tasks" -> t.failedTasks.get.toDouble,
        "spark.sched_wait_s" -> t.schedWaitMs.get / 1000.0,
        "spark.sched_wait_share" -> t.schedWaitMs.get / 1000.0 / (wallS * cores),
        "cache.entries_leaked" -> rec.leakedEntries.toDouble,
        "sources.scan_s" -> t.scanMs.get / 1000.0,
        "sources.input_bytes" -> t.inputBytes.get.toDouble,
        "sources.write_s" -> t.writeMs.get / 1000.0,
        "sources.bytes_written" -> t.bytesWritten.get.toDouble)
      // self time per layer, as a share of all span time
      val self = tracer.selfNs
      val byLayer = tracer.spans.groupBy(_.layer).view
        .mapValues(_.map(s => self(s.id)).sum.toDouble).toMap
      val all = byLayer.values.sum
      Layers.modules.foreach(l =>
        pl(s"$l.self_share") = byLayer.getOrElse(l, 0.0) / all)
      pl ++= Streaming.metrics(tracer)
      pl ++= layer
      pl("bench.trace_overhead_ratio") =
        rec.extra.getOrElse("bench.trace_overhead_ratio", Double.NaN)
    }
    pl("bench.vm_hwm_mb") = Env.peakRssKb() / 1024.0
    pl("bench.live_heap_mb") = rec.liveHeapMb
    pl("bench.failed_ops_ratio") = failed.toDouble / math.max(1, attempted)
    pl("bench.latency_p50_s") = median(lat)
    pl("bench.latency_samples") = lat.size.toDouble
    pl("bench.loadavg_start") = envStart.loadavg
    pl("bench.loadavg_end") = envEnd.loadavg
    pl("bench.other_jvms") = math.max(envStart.otherJvms, envEnd.otherJvms).toDouble

    Report.write(a("out"), rec.failures.isEmpty && failed == 0, attempted,
      failed, e2e.toMap, pl.toMap, rec.failures.toMap, setupS)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Layers {
  /** this repo's modules that the workloads call into */
  val modules = Seq("sources", "queries", "ops", "window", "timeseries",
    "stats", "llm", "sqlext", "functions", "graphops", "ml", "streaming")
}

final case class EnvSnap(loadavg: Double, otherJvms: Int)

object Env {
  /** loadavg and the count of other JVMs: a contended run describes
    * itself */
  def snapshot(): EnvSnap = {
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val self = ProcessHandle.current().pid()
    val jvms = try {
      new java.io.File("/proc").listFiles().count { f =>
        f.getName.forall(_.isDigit) && f.getName.toLong != self && {
          val comm = new java.io.File(f, "comm")
          try {
            val src = scala.io.Source.fromFile(comm)
            try src.mkString.trim == "java" finally src.close()
          } catch { case _: Throwable => false }
        }
      }
    } catch { case _: Throwable => -1 }
    EnvSnap(load, jvms)
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def heapUsedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

  /** VmHWM of this process, in kB */
  def peakRssKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    finally src.close()
  }
}

object Report {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** NaN and infinities, which JSON cannot hold, are written as null */
  private def num(d: Double): java.lang.Double =
    if (d.isNaN || d.isInfinite) null else d

  def write(path: String, correct: Boolean, attempted: Long, failed: Long,
      e2e: Map[String, (Double, String)], perLayer: Map[String, Double],
      failures: Map[String, String], setups: Seq[Double]): Unit = {
    val root = mapper.createObjectNode()
    root.put("correct", correct)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val e = root.putObject("end_to_end")
    e2e.toSeq.sortBy(_._1).foreach { case (k, (v, u)) =>
      val m = e.putObject(k)
      m.put("value", num(v))
      m.put("unit", u)
    }
    val p = root.putObject("per_layer")
    perLayer.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, num(v)) }
    val f = root.putObject("failures")
    failures.foreach { case (k, v) => f.put(k, v) }
    val s = root.putArray("setup_samples_s")
    setups.foreach(x => s.add(num(x)))
    mapper.writeValue(new java.io.File(path), root)
  }
}
