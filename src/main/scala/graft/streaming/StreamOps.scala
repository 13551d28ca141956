package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface matching the reference's streaming
  * layer (src/streaming/mod.rs:136-926, window.rs:23-938): tumbling /
  * sliding / session windows with watermarks and allowed lateness,
  * plus count-based windows via flatMapGroupsWithState (Spark has no
  * count-window primitive — SURVEY §7.4.5). Backpressure maps to
  * engine config (maxOffsetsPerTrigger etc.), not code.
  */
object StreamOps {

  /** tumbling window agg with watermark
    * (reference WindowType::Tumbling, src/streaming/window.rs:23;
    * watermark_delay :151). */
  def tumbling(df: DataFrame, tsCol: String, size: String,
      watermark: String, keyCols: Seq[String],
      aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), size) +: keyCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** sliding window agg (WindowType::Sliding). */
  def sliding(df: DataFrame, tsCol: String, size: String, slide: String,
      watermark: String, keyCols: Seq[String],
      aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), size, slide) +: keyCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** session window with gap (WindowType::Session,
    * src/streaming/window.rs:103-131). Spark's session_window covers
    * the gap semantics; the reference's max_duration cap needs the
    * stateful path below. */
  def session(df: DataFrame, tsCol: String, gap: String,
      watermark: String, keyCols: Seq[String],
      aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap) +: keyCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  case class SessionCapState(start: Long, last: Long, n: Long, sum: Double)
  case class SessionCapOut(key: String, startMs: Long, endMs: Long,
      n: Long, sum: Double, closedBy: String)

  /** Session windows with BOTH a gap and a max-duration cap
    * (reference src/streaming/window.rs:115,133 — Spark's
    * session_window has gap only; SURVEY §7.4.5). Stateful per-key
    * logic: a session closes when the gap is exceeded, when the
    * running duration would exceed maxDuration, or on event-time
    * timeout at the watermark. Input df needs (keyCol: string,
    * tsCol: timestamp, valueCol: double). */
  def sessionWithCap(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, watermark: String, gapMs: Long,
      maxDurationMs: Long)(
      implicit e: Encoder[SessionCapOut],
      se: Encoder[SessionCapState]): Dataset[SessionCapOut] =
    df.withWatermark(tsCol, watermark)
      .select(col(keyCol), col(tsCol), col(valueCol).cast("double"))
      .as[(String, java.sql.Timestamp, Double)](
        Encoders.tuple(Encoders.STRING,
          Encoders.TIMESTAMP, Encoders.scalaDouble))
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[SessionCapState, SessionCapOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String,
         rows: Iterator[(String, java.sql.Timestamp, Double)],
         state: GroupState[SessionCapState]) =>
          val out = scala.collection.mutable.ListBuffer[SessionCapOut]()
          if (state.hasTimedOut) {
            state.getOption.foreach { s =>
              out += SessionCapOut(key, s.start, s.last, s.n, s.sum,
                "watermark")
            }
            state.remove()
          } else {
            var cur = state.getOption
            rows.toSeq.sortBy(_._2.getTime)
              .foreach { case (_, tsv, v) =>
                val ts = tsv.getTime
              cur match {
                case Some(s) if ts - s.last > gapMs =>
                  out += SessionCapOut(key, s.start, s.last, s.n, s.sum,
                    "gap")
                  cur = Some(SessionCapState(ts, ts, 1, v))
                case Some(s) if ts - s.start >= maxDurationMs =>
                  out += SessionCapOut(key, s.start, s.last, s.n, s.sum,
                    "max_duration")
                  cur = Some(SessionCapState(ts, ts, 1, v))
                case Some(s) =>
                  cur = Some(SessionCapState(s.start, ts, s.n + 1,
                    s.sum + v))
                case None =>
                  cur = Some(SessionCapState(ts, ts, 1, v))
              }
              }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
          }
          out.iterator
      }

  case class CountWindowState(buf: List[Double], emitted: Long)
  case class CountWindowOut(key: String, windowSeq: Long, count: Int,
      sum: Double, mean: Double)

  /** count-based windows (WindowType::Count): emit an aggregate every
    * `n` records per key — no Spark primitive, implemented with
    * flatMapGroupsWithState keyed state. State is O(n) per key;
    * windowSeq is a monotone per-key window index persisted in state
    * (survives micro-batch boundaries). */
  def countWindow(ds: Dataset[(String, Double)], n: Int)(
      implicit e: Encoder[CountWindowOut],
      se: Encoder[CountWindowState]): Dataset[CountWindowOut] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[CountWindowState, CountWindowOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Double)],
         state: GroupState[CountWindowState]) =>
          val st = state.getOption.getOrElse(CountWindowState(Nil, 0L))
          var buf = st.buf
          var emitted = st.emitted
          val out = scala.collection.mutable.ListBuffer[CountWindowOut]()
          rows.foreach { case (_, v) =>
            buf = v :: buf
            if (buf.size >= n) {
              emitted += 1
              out += CountWindowOut(key, emitted, buf.size, buf.sum,
                buf.sum / buf.size)
              buf = Nil
            }
          }
          state.update(CountWindowState(buf, emitted))
          out.iterator
      }

  case class EwmStreamState(num: Double, den: Double, num2: Double,
      den2: Double, prev: Double, hasPrev: Boolean, prevOw: Double)
  case class EwmStreamOut(key: String, ord: Long, ewm: Option[Double])

  /** Streaming EWM — the real-time-metrics story (reference
    * src/streaming/mod.rs:719-926 RealTimeAnalytics keeps running
    * exponential statistics over a live feed): per-key EWM
    * mean/var/std carried ACROSS micro-batches with
    * flatMapGroupsWithState. The state is the
    * [[graft.window.RollingOps.EwmMachine]] accumulator set — the
    * SAME state machine the batch keyed pass of
    * [[graft.window.RollingOps.ewmMean]] / `ewmScalable` runs, so the
    * streamed sequence is bit-equal to the batch forms over the
    * concatenated input (spec'd cross-batch).
    *
    * Contract: per key, `ord` must be non-decreasing across batches
    * (append-only sources; rows within a batch are sorted here).
    * A null value follows the chosen ignore_na semantics exactly like
    * the batch forms. State is O(1) per key and never evicted — key
    * cardinality bounds memory, the right trade for always-on
    * metrics; add a TTL wrapper if keys churn. */
  def ewmStream(ds: Dataset[(String, Long, Option[Double])],
      alpha: Double, stat: String = "mean", adjust: Boolean = true,
      bias: Boolean = false, ignoreNa: Boolean = true)(
      implicit e: Encoder[EwmStreamOut],
      se: Encoder[EwmStreamState]): Dataset[EwmStreamOut] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[EwmStreamState, EwmStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, Option[Double])],
         state: GroupState[EwmStreamState]) =>
          val m = new graft.window.RollingOps.EwmMachine(
            alpha, stat, adjust, bias, ignoreNa)
          state.getOption.foreach(s => m.restore(s.num, s.den, s.num2,
            s.den2, s.prev, s.hasPrev, s.prevOw))
          val out = rows.toSeq.sortBy(_._2).map { case (_, ord, v) =>
            val e = m.step(v.isEmpty, v.getOrElse(0.0))
            EwmStreamOut(key, ord,
              Option(e).map(_.asInstanceOf[Double]))
          }
          state.update(EwmStreamState(m.num, m.den, m.num2, m.den2,
            m.prev, m.hasPrev, m.prevOw))
          out.iterator
      }

  case class AciStreamState(q: Double, miss: Long, n: Long)
  case class AciStreamOut(key: String, ord: Long, q: Double,
      miss: Boolean)

  /** Streaming adaptive conformal radius — the live-uncertainty
    * companion to [[graft.ml.Conformal.adaptiveConformal]]: per-key
    * interval radius q ← q + γ·(miss − α) carried ACROSS
    * micro-batches with flatMapGroupsWithState, emitting the
    * post-update radius and miss flag per row. The update is the
    * identical double arithmetic the batch fold runs, so the
    * streamed q sequence is bit-equal to the batch walk over the
    * concatenated input (spec'd cross-batch). Same contract as
    * [[ewmStream]]: per-key non-decreasing `ord`, O(1) state. */
  def adaptiveConformalStream(ds: Dataset[(String, Long, Double)],
      alpha: Double, gamma: Double, q0: Double = 0.0)(
      implicit e: Encoder[AciStreamOut],
      se: Encoder[AciStreamState]): Dataset[AciStreamOut] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[AciStreamState, AciStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[AciStreamState]) =>
          var s = state.getOption.getOrElse(AciStreamState(q0, 0L, 0L))
          val out = rows.toSeq.sortBy(_._2).map { case (_, ord, r) =>
            val m = r > s.q
            s = AciStreamState(
              s.q + gamma * ((if (m) 1.0 else 0.0) - alpha),
              s.miss + (if (m) 1L else 0L), s.n + 1L)
            AciStreamOut(key, ord, s.q, m)
          }
          state.update(s)
          out.iterator
      }

  case class EwmTimeStreamState(num: Double, den: Double,
      num2: Double, den2: Double, pt: Double, hasPt: Boolean)
  case class EwmTimeStreamOut(key: String, ord: Long,
      ewm: Option[Double])

  /** Streaming TIME-DECAYED EWM — the halflife-over-times member of
    * the streaming family: per-key state carried across
    * micro-batches running the SAME
    * [[graft.window.RollingOps.EwmTimeMachine]] as the batch
    * [[graft.window.RollingOps.ewmMeanTime]] / `ewmTimeScalable`
    * pass, so the streamed sequence is bit-equal to the batch forms.
    * Input rows are (key, ord, timeSeconds, value); within a batch
    * rows sort by
    * (time, ord) — the batch sort contract — and across batches
    * event times must be non-decreasing per key (append-only
    * sources). Rows with a missing time or value emit null and do
    * not advance state. */
  def ewmTimeStream(
      ds: Dataset[(String, Long, Option[Double], Option[Double])],
      halflife: Double, stat: String = "mean",
      bias: Boolean = false)(
      implicit e: Encoder[EwmTimeStreamOut],
      se: Encoder[EwmTimeStreamState]): Dataset[EwmTimeStreamOut] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[EwmTimeStreamState, EwmTimeStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String,
         rows: Iterator[(String, Long, Option[Double], Option[Double])],
         state: GroupState[EwmTimeStreamState]) =>
          val m = new graft.window.RollingOps.EwmTimeMachine(
            halflife, stat, bias)
          state.getOption.foreach(s => m.restore(s.num, s.den,
            s.num2, s.den2, s.pt, s.hasPt))
          val out = rows.toSeq
            .sortBy(r => (r._3.getOrElse(Double.NegativeInfinity),
              r._2))
            .map { case (_, ord, t, v) =>
              val e: Any =
                if (t.isEmpty || v.isEmpty) null
                else m.step(t.get, v.get)
              EwmTimeStreamOut(key, ord,
                Option(e).map(_.asInstanceOf[Double]))
            }
          state.update(EwmTimeStreamState(m.num, m.den, m.num2,
            m.den2, m.pt, m.hasPt))
          out.iterator
      }

  case class EwmCovStreamState(den: Double, den2: Double, sx: Double,
      sy: Double, sxy: Double, sxx: Double, syy: Double)
  case class EwmCovStreamOut(key: String, ord: Long,
      ewm: Option[Double])

  /** Streaming pairwise EWM covariance / correlation — the
    * two-column sibling of [[ewmStream]]: per-key state carried
    * across micro-batches via flatMapGroupsWithState, running the
    * SAME [[graft.window.RollingOps.EwmPairMachine]] the batch
    * [[graft.window.RollingOps.ewmCov]] / `ewmCovScalable` pass runs,
    * so the streamed sequence is bit-equal to the batch forms over
    * the concatenated input. Same ordering contract and O(1)-per-key
    * state as [[ewmStream]]. */
  def ewmCovStream(
      ds: Dataset[(String, Long, Option[Double], Option[Double])],
      alpha: Double, bias: Boolean = false, corr: Boolean = false,
      ignoreNa: Boolean = true)(
      implicit e: Encoder[EwmCovStreamOut],
      se: Encoder[EwmCovStreamState]): Dataset[EwmCovStreamOut] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[EwmCovStreamState, EwmCovStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String,
         rows: Iterator[(String, Long, Option[Double], Option[Double])],
         state: GroupState[EwmCovStreamState]) =>
          val m = new graft.window.RollingOps.EwmPairMachine(
            alpha, bias, corr, ignoreNa)
          state.getOption.foreach(s => m.restore(s.den, s.den2, s.sx,
            s.sy, s.sxy, s.sxx, s.syy))
          val out = rows.toSeq.sortBy(_._2).map { case (_, ord, x, y) =>
            val incomplete = x.isEmpty || y.isEmpty
            val e = m.step(incomplete, x.getOrElse(0.0),
              y.getOrElse(0.0))
            EwmCovStreamOut(key, ord,
              Option(e).map(_.asInstanceOf[Double]))
          }
          state.update(EwmCovStreamState(m.den, m.den2, m.sx, m.sy,
            m.sxy, m.sxx, m.syy))
          out.iterator
      }

  case class EwmCovTimeStreamState(den: Double, den2: Double,
      sx: Double, sy: Double, sxy: Double, sxx: Double, syy: Double,
      pt: Double, hasPt: Boolean)

  /** Streaming TIME-DECAYED pairwise EWM cov/corr — completes the
    * streaming EWM matrix (positional [[ewmStream]]/[[ewmCovStream]],
    * time-decayed [[ewmTimeStream]] and this). Same
    * [[graft.window.RollingOps.EwmTimePairMachine]] as the batch
    * pass, bit-equal across micro-batches; same ordering contract as
    * [[ewmTimeStream]]. Input rows: (key, ord, timeSeconds, x, y). */
  def ewmCovTimeStream(
      ds: Dataset[(String, Long, Option[Double], Option[Double],
        Option[Double])],
      halflife: Double, bias: Boolean = false, corr: Boolean = false)(
      implicit e: Encoder[EwmCovStreamOut],
      se: Encoder[EwmCovTimeStreamState]): Dataset[EwmCovStreamOut] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[EwmCovTimeStreamState, EwmCovStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String,
         rows: Iterator[(String, Long, Option[Double], Option[Double],
           Option[Double])],
         state: GroupState[EwmCovTimeStreamState]) =>
          val m = new graft.window.RollingOps.EwmTimePairMachine(
            halflife, bias, corr)
          state.getOption.foreach(s => m.restore(s.den, s.den2, s.sx,
            s.sy, s.sxy, s.sxx, s.syy, s.pt, s.hasPt))
          val out = rows.toSeq
            .sortBy(r => (r._3.getOrElse(Double.NegativeInfinity),
              r._2))
            .map { case (_, ord, t, x, y) =>
              val e: Any =
                if (t.isEmpty || x.isEmpty || y.isEmpty) null
                else m.step(t.get, x.get, y.get)
              EwmCovStreamOut(key, ord,
                Option(e).map(_.asInstanceOf[Double]))
            }
          state.update(EwmCovTimeStreamState(m.den, m.den2, m.sx,
            m.sy, m.sxy, m.sxx, m.syy, m.pt, m.hasPt))
          out.iterator
      }

  // ----- streaming sketches: the mergeable-state family -----------
  // CMS/HLL/KMV exist as batch aggregates (PipelineOps.scala); these
  // carry the SAME deterministic md5-48 sketch state across
  // micro-batches with flatMapGroupsWithState, so a 100 TB pipeline
  // maintains rolling distinct / heavy-hitter estimates without ever
  // rescanning history. Hashing replays PipelineOps.hash48Unit /
  // hash48Long bit-for-bit (first 6 md5 bytes as a 48-bit integer),
  // so streamed state == the batch sketch over the concatenated
  // input (spec'd cross-batch in StreamingSketchSpec).

  /** First 12 md5 hex chars (= 6 bytes) of the UTF-8 string as a
    * 48-bit long — the JVM twin of [[graft.llm.PipelineOps]]'s
    * hash48Long column expression. */
  private def md5Hash48(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.take(6).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  /** Spark's round(col, scale) semantics on a double (Catalyst uses
    * BigDecimal HALF_UP) — so streamed estimates are bit-equal to
    * the batch columns. */
  private def roundHalfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  case class HllStreamState(regs: Map[Long, Int], totalRows: Long)
  case class HllStreamOut(key: String, batchRows: Long,
      totalRows: Long, regsSet: Int, vZero: Long, hllEstimate: Double)

  /** Streaming HyperLogLog: per-key register map (≤ 2^p entries)
    * carried across micro-batches, one output row per (key, batch)
    * with the post-update cardinality estimate — identical
    * addressing, rho computation, Z sum (exact: dyadic terms) and
    * small-range correction as the batch
    * [[graft.llm.PipelineOps.hllSketch]]/hllEstimate pair. State is
    * O(2^p) per key, never evicted (always-on metric shape). */
  def hllStream(ds: Dataset[(String, String)], p: Int = 6)(
      implicit e: Encoder[HllStreamOut],
      se: Encoder[HllStreamState]): Dataset[HllStreamOut] = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    val w = 48 - p
    val m = 1 << p
    val alpha = graft.llm.PipelineOps.hllAlpha(p)
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[HllStreamState, HllStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[HllStreamState]) =>
          val prev = state.getOption
            .getOrElse(HllStreamState(Map.empty, 0L))
          var regs = prev.regs
          var nBatch = 0L
          rows.foreach { case (_, v) =>
            if (v != null) {
              nBatch += 1
              val h = md5Hash48(v + "#hll")
              val reg = h >>> w
              val wbits = h & ((1L << w) - 1)
              val rho =
                if (wbits == 0) w + 1
                else w + 1 -
                  (64 - java.lang.Long.numberOfLeadingZeros(wbits))
              if (regs.getOrElse(reg, 0) < rho) regs += reg -> rho
            }
          }
          val total = prev.totalRows + nBatch
          state.update(HllStreamState(regs, total))
          val vZero = (m - regs.size).toLong
          val z = regs.valuesIterator
            .map(r => math.pow(2.0, -r)).sum + vZero
          val raw = alpha * m.toDouble * m / z
          val est =
            if (vZero > 0 && raw <= 2.5 * m)
              m.toDouble * math.log(m.toDouble / vZero)
            else raw
          Iterator.single(HllStreamOut(key, nBatch, total,
            regs.size, vZero, roundHalfUp(est, 4)))
      }
  }

  case class KmvStreamState(hs: Seq[Double])
  case class KmvStreamOut(key: String, kSeen: Long,
      distinctEstimate: Double)

  /** Streaming KMV distinct-count: the k smallest distinct 48-bit
    * value hashes per key carried across micro-batches; one output
    * row per (key, batch) with the post-update estimate — identical
    * hash, (k−1)/h_k estimator and rounding as the batch
    * [[graft.llm.PipelineOps.kmvDistinct]]. State ≤ k doubles per
    * key. */
  def kmvStream(ds: Dataset[(String, String)], k: Int = 256)(
      implicit e: Encoder[KmvStreamOut],
      se: Encoder[KmvStreamState]): Dataset[KmvStreamOut] = {
    require(k >= 2, "kmvStream needs k >= 2")
    val two48 = math.pow(2.0, 48)
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[KmvStreamState, KmvStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[KmvStreamState]) =>
          val prev = state.getOption.map(_.hs).getOrElse(Seq.empty)
          val incoming = rows.collect {
            case (_, v) if v != null => md5Hash48(v).toDouble / two48
          }.toSet
          val hs = (prev.toSet ++ incoming).toSeq.sorted.take(k)
          state.update(KmvStreamState(hs))
          val kSeen = hs.length.toLong
          val est =
            if (kSeen < k) kSeen.toDouble
            else (k - 1.0) / hs.last
          Iterator.single(KmvStreamOut(key, kSeen,
            roundHalfUp(est, 6)))
      }
  }

  case class CmsStreamState(cnt: Map[Long, Long])
  case class CmsStreamOut(key: String, ord: Long, item: String,
      cmsCount: Long)

  /** Streaming count-min sketch: per-key depth×width counter map
    * carried across micro-batches; emits, for EVERY arriving item,
    * its post-update CMS frequency estimate (min over the depth
    * rows) — the rolling heavy-hitter shape. Identical md5 bucket
    * addressing as the batch
    * [[graft.llm.PipelineOps.countMinSketch]]/cmsEstimate pair, so
    * the streamed estimate for an item equals the batch estimate
    * over everything seen so far (all-integer, spec'd cross-batch).
    * Rows are processed in `ord` order within a batch; state is
    * O(depth·width) per key. */
  def cmsStream(ds: Dataset[(String, Long, String)], depth: Int = 4,
      width: Int = 1024)(
      implicit e: Encoder[CmsStreamOut],
      se: Encoder[CmsStreamState]): Dataset[CmsStreamOut] = {
    require(depth >= 1 && depth <= 16, "depth in [1,16]")
    require(width >= 2, "width >= 2")
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[CmsStreamState, CmsStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, String)],
         state: GroupState[CmsStreamState]) =>
          var cnt = state.getOption.map(_.cnt).getOrElse(Map.empty)
          val out = rows.toSeq.sortBy(_._2).collect {
            case (_, ord, item) if item != null =>
              val slots = (0 until depth).map { r =>
                val b = java.lang.Long.remainderUnsigned(
                  md5Hash48(item + "#cms" + r), width.toLong)
                r.toLong * width + b
              }
              slots.foreach(s => cnt += s -> (cnt.getOrElse(s, 0L) + 1))
              CmsStreamOut(key, ord, item,
                slots.map(cnt(_)).min)
          }
          state.update(CmsStreamState(cnt))
          out.iterator
      }
  }

  case class HhStreamState(cnt: Map[Long, Long], total: Long,
    cand: Map[String, Long])
  case class HhStreamOut(key: String, asof: Long, item: String,
    est: Long, total: Long)

  /** Streaming top-k heavy hitters — [[cmsStream]] composed into the
    * always-on monitor shape of the batch
    * [[graft.llm.PipelineOps.heavyHitters]] (q102) + q346 CMS
    * estimate pair: per monitor key the state is the CMS counter map
    * + the running total + a BOUNDED candidate set (≤ `maxCandidates`
    * items, lowest-estimate entries pruned first — the space-saving
    * device), and after every micro-batch it emits the items whose
    * CMS estimate clears the classical φ = 1/k support threshold
    * (est·k > total), stamped with the max `ord` seen ("as of").
    *
    * Identical md5 `#cms` bucket addressing as the batch pair, so
    * with `maxCandidates` ≥ distinct items the emitted set equals
    * the batch computation over everything seen so far EXACTLY
    * (spec'd cross-batch). With a tight candidate budget the usual
    * space-saving caveat applies: an item pruned while cold
    * re-enters with its FULL CMS estimate on its next arrival (the
    * sketch never forgets), so only an item that stops arriving
    * entirely can be missed. State is O(depth·width + maxCandidates)
    * per key — the fixed-size mergeable shape a 100 TB/day stream
    * needs. */
  def heavyHittersStream(ds: Dataset[(String, Long, String)],
      k: Int, depth: Int = 4, width: Int = 1024,
      maxCandidates: Int = 1024)(
      implicit e: Encoder[HhStreamOut],
      se: Encoder[HhStreamState]): Dataset[HhStreamOut] = {
    require(k >= 2, "heavyHittersStream needs k >= 2")
    require(depth >= 1 && depth <= 16, "depth in [1,16]")
    require(width >= 2, "width >= 2")
    require(maxCandidates >= k,
      s"maxCandidates ($maxCandidates) must be >= k ($k)")
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[HhStreamState, HhStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, String)],
         state: GroupState[HhStreamState]) =>
          val prev = state.getOption
            .getOrElse(HhStreamState(Map.empty, 0L, Map.empty))
          var cnt = prev.cnt
          var total = prev.total
          var cand = prev.cand
          var asof = Long.MinValue
          def slots(item: String): Seq[Long] =
            (0 until depth).map { r =>
              val b = java.lang.Long.remainderUnsigned(
                md5Hash48(item + "#cms" + r), width.toLong)
              r.toLong * width + b
            }
          rows.toSeq.sortBy(_._2).foreach {
            case (_, ord, item) if item != null =>
              val ss = slots(item)
              ss.foreach(s => cnt += s -> (cnt.getOrElse(s, 0L) + 1))
              total += 1
              if (ord > asof) asof = ord
              cand += item -> ss.map(cnt(_)).min
              if (cand.size > maxCandidates)
                // prune lowest estimates (ties: larger item first,
                // so the KEPT side is deterministic)
                cand = cand.toSeq.sortBy { case (it, c) => (-c, it) }
                  .take(maxCandidates).toMap
            case _ => ()
          }
          state.update(HhStreamState(cnt, total, cand))
          if (asof == Long.MinValue) Iterator.empty
          else cand.toSeq.collect {
            // refresh estimates: a candidate's buckets may have been
            // bumped by other items since its last arrival
            case (item, _)
                if slots(item).map(cnt(_)).min * k > total =>
              HhStreamOut(key, asof, item,
                slots(item).map(cnt(_)).min, total)
          }.sortBy(o => (-o.est, o.item)).iterator
      }
  }

  case class PhStreamState(n: Long, sumX: Double, m: Double,
      minM: Double, maxPh: Double, driftAt: Long, hasDrift: Boolean)
  case class PhStreamOut(key: String, ord: Long, ph: Double,
      maxPh: Double, drift: Boolean, driftAt: Option[Long])

  /** Streaming Page–Hinkley drift detector — the live companion to
    * the batch [[graft.timeseries.TimeSeriesOps.pageHinkley]]: per
    * key, the running-mean deviation accumulator
    *   m_T = Σ_{t≤T}(x_t − x̄_t − δ),  PH_T = m_T − min_{t≤T} m_t
    * carried ACROSS micro-batches with flatMapGroupsWithState,
    * emitting the post-update PH, running max and first-drift order
    * per row. The fold runs the identical double-arithmetic sequence
    * the batch window pass produces (running mean = sum/count
    * including the current row, dev accumulated in order), so the
    * streamed PH walk is bit-equal to the batch computation over the
    * concatenated input (spec'd cross-batch). Same contract as
    * [[ewmStream]]: per-key non-decreasing `ord` across batches
    * (rows within a batch are sorted here), O(1) state per key. */
  def phStream(ds: Dataset[(String, Long, Double)], delta: Double,
      lambda: Double)(
      implicit e: Encoder[PhStreamOut],
      se: Encoder[PhStreamState]): Dataset[PhStreamOut] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[PhStreamState, PhStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[PhStreamState]) =>
          var s = state.getOption.getOrElse(
            PhStreamState(0L, 0.0, 0.0, Double.PositiveInfinity,
              Double.NegativeInfinity, 0L, hasDrift = false))
          val out = rows.toSeq.sortBy(_._2).map { case (_, ord, x) =>
            val n = s.n + 1
            val sumX = s.sumX + x
            val dev = x - sumX / n - delta
            val m = s.m + dev
            val minM = math.min(s.minM, m)
            val ph = m - minM
            val maxPh = math.max(s.maxPh, ph)
            val drifted = s.hasDrift || ph > lambda
            val driftAt = if (s.hasDrift) s.driftAt
              else if (ph > lambda) ord else 0L
            s = PhStreamState(n, sumX, m, minM, maxPh, driftAt,
              drifted)
            PhStreamOut(key, ord, ph, maxPh, ph > lambda,
              if (drifted) Some(driftAt) else None)
          }
          state.update(s)
          out.iterator
      }

  case class JourneyStreamState(journey: String, n: Long)
  case class JourneyStreamOut(key: String, batchEvents: Long,
      nEvents: Long, journey: String,
      patternCounts: Map[String, Long])

  /** Streaming journey-pattern monitor — the live companion to the
    * batch [[graft.analytics.EventOps.journeyPatterns]]: per key,
    * the chronological event-initial string accumulates across
    * micro-batches with flatMapGroupsWithState and every batch
    * re-counts the named regex patterns over the CURRENT journey
    * (non-overlapping left-to-right — the same Java-regex semantics
    * the batch op's regexp_extract_all uses, so the streamed counts
    * equal the batch computation on the concatenated input, spec'd
    * cross-batch). Contract: per-key non-decreasing `ord` across
    * batches (rows within a batch are sorted here); state is the
    * journey string — bounded by per-key activity and guarded by a
    * LOUD `maxJourneyLen` require (cap entity activity upstream for
    * adversarially hot keys). */
  def journeyStream(ds: Dataset[(String, Long, String)],
      patterns: Seq[(String, String)], maxJourneyLen: Int = 100000)(
      implicit e: Encoder[JourneyStreamOut],
      se: Encoder[JourneyStreamState]): Dataset[JourneyStreamOut] = {
    require(patterns.nonEmpty, "journeyStream needs >= 1 pattern")
    val compiled = patterns.map { case (n, p) => (n, p) }
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[JourneyStreamState, JourneyStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, String)],
         state: GroupState[JourneyStreamState]) =>
          val prev = state.getOption
            .getOrElse(JourneyStreamState("", 0L))
          val sortedRows = rows.toSeq.sortBy(_._2)
          // null/empty event types contribute an empty initial —
          // matching the batch twin's SQL substring semantics (which
          // maps ''/null to '') instead of throwing: an unguarded
          // substring here is a poison pill that permanently fails
          // the streaming query and recurs on restart
          val inis = sortedRows.map(r => Option(r._3)
            .filter(_.nonEmpty).map(_.substring(0, 1))
            .getOrElse("")).mkString
          val j = prev.journey + inis
          require(j.length <= maxJourneyLen,
            s"journeyStream: key '$key' journey exceeds " +
              s"$maxJourneyLen events — cap activity upstream")
          val n = prev.n + sortedRows.length
          state.update(JourneyStreamState(j, n))
          val counts = compiled.map { case (name, pat) =>
            name -> pat.r.findAllMatchIn(j).size.toLong
          }.toMap
          Iterator.single(JourneyStreamOut(key,
            sortedRows.length.toLong, n, j, counts))
      }
  }

  case class PsiStreamState(counts: Map[Int, Long], totalRows: Long)
  case class PsiStreamOut(key: String, batchRows: Long,
      totalRows: Long, psi: Double)

  /** Streaming PSI drift monitor — the live companion to the batch
    * [[graft.stats.StatsOps.psi]] / driftReport (q384): per feature
    * key, observed bin counts accumulate across micro-batches
    * (fixed explicit `breaks`, the portable-binning convention) and
    * every batch emits the CURRENT Population Stability Index of the
    * accumulated stream against the static `baselineCounts`
    * histogram (bin shares clamped at `eps`, same formula/ordering
    * as the batch op: Σ_bins (p_obs − p_base)·ln(p_obs/p_base),
    * summed in bin order — deterministic). State is O(bins) per
    * key; the alerting shape for "has this feature drifted since
    * the model shipped". */
  def psiStream(ds: Dataset[(String, Double)], breaks: Seq[Double],
      baselineCounts: Map[String, Seq[Long]], eps: Double = 1e-6)(
      implicit e: Encoder[PsiStreamOut],
      se: Encoder[PsiStreamState]): Dataset[PsiStreamOut] = {
    require(breaks.nonEmpty, "psiStream: need at least one break")
    require(eps > 0, "psiStream: eps > 0")
    val nBins = breaks.length + 1
    baselineCounts.foreach { case (k, cs) =>
      require(cs.length == nBins,
        s"baseline for '$k' has ${cs.length} bins, expected $nBins")
    }
    val sortedBreaks = breaks.toArray
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[PsiStreamState, PsiStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Double)],
         state: GroupState[PsiStreamState]) =>
          val prev = state.getOption
            .getOrElse(PsiStreamState(Map.empty, 0L))
          var counts = prev.counts
          var nBatch = 0L
          rows.foreach { case (_, v) =>
            nBatch += 1
            // same bin rule as the batch op: count of breaks < v
            var b = 0
            var i = 0
            while (i < sortedBreaks.length) {
              if (v > sortedBreaks(i)) b += 1
              i += 1
            }
            counts += b -> (counts.getOrElse(b, 0L) + 1L)
          }
          val total = prev.totalRows + nBatch
          state.update(PsiStreamState(counts, total))
          val base = baselineCounts.getOrElse(key,
            Seq.fill(nBins)(0L))
          val tBase = base.sum.toDouble
          var psi = 0.0
          var b = 0
          while (b < nBins) {
            val po = math.max(
              counts.getOrElse(b, 0L).toDouble / total, eps)
            val pb = math.max(
              if (tBase > 0) base(b) / tBase else 0.0, eps)
            psi += (po - pb) * math.log(po / pb)
            b += 1
          }
          Iterator.single(PsiStreamOut(key, nBatch, total, psi))
      }
  }

  case class QuantStreamState(counts: Map[Int, Long],
    totalRows: Long)
  case class QuantStreamOut(key: String, batchRows: Long,
    totalRows: Long, q: Double, quantileEst: Double)

  /** Streaming quantile monitor — the live companion to the batch
    * [[graft.stats.StatsOps.histogramQuantiles]], on the
    * [[psiStream]] state shape: per key, counts over a FIXED
    * explicit `edges` grid accumulate across micro-batches
    * (values clamped into the end bins — the portable-binning
    * convention: no data-dependent bounds, so any engine and any
    * prefix bins identically), and every batch emits the CURRENT
    * interpolated quantile estimates of the accumulated stream for
    * each requested q:
    *   est = left(bin) + width(bin) · (q·N − cum_before)/cnt
    * over the unique bin with cum_before < q·N ≤ cum. Error ≤ one
    * bin width, exactly like the batch op — tighten with more
    * edges, never with a sort. State is O(|edges|) per key: the
    * p50/p95/p99 latency-dashboard shape at any stream volume. */
  def quantileStream(ds: Dataset[(String, Double)],
      edges: Seq[Double], qs: Seq[Double])(
      implicit e: Encoder[QuantStreamOut],
      se: Encoder[QuantStreamState]): Dataset[QuantStreamOut] = {
    require(edges.length >= 2, "quantileStream: need >= 2 edges")
    require(edges == edges.sorted && edges.distinct == edges,
      "quantileStream: edges must be strictly ascending")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles in (0,1]")
    val eArr = edges.toArray
    val nBins = eArr.length - 1
    val qArr = qs.toArray
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[QuantStreamState, QuantStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Double)],
         state: GroupState[QuantStreamState]) =>
          val prev = state.getOption
            .getOrElse(QuantStreamState(Map.empty, 0L))
          var counts = prev.counts
          var nBatch = 0L
          rows.foreach { case (_, v) =>
            nBatch += 1
            var b = 0
            var i = 1
            // bin = count of interior edges <= v, clamped to the
            // end bins (same rule any engine replays)
            while (i < nBins) {
              if (v >= eArr(i)) b += 1
              i += 1
            }
            counts += b -> (counts.getOrElse(b, 0L) + 1L)
          }
          val total = prev.totalRows + nBatch
          state.update(QuantStreamState(counts, total))
          if (nBatch == 0L || total == 0L) Iterator.empty
          else {
            val cum = new Array[Long](nBins)
            var acc = 0L
            var b = 0
            while (b < nBins) {
              acc += counts.getOrElse(b, 0L); cum(b) = acc; b += 1
            }
            qArr.iterator.map { q =>
              val rank = q * total
              var bin = 0
              while (bin < nBins - 1 && cum(bin) < rank) bin += 1
              val before = if (bin == 0) 0L else cum(bin - 1)
              val cnt = counts.getOrElse(bin, 0L)
              val est =
                if (cnt == 0L) eArr(bin)
                else eArr(bin) + (eArr(bin + 1) - eArr(bin)) *
                  ((rank - before) / cnt)
              QuantStreamOut(key, nBatch, total, q,
                math.rint(est * 1e9) / 1e9)
            }
          }
      }
  }

  case class FairnessStreamState(n: Long, npp: Long, tp: Long,
      fp: Long, fn: Long, tn: Long)
  case class FairnessStreamOut(grp: String, nBatch: Long, n: Long,
      tp: Long, fp: Long, fn: Long, tn: Long, posRatePpm: Long,
      tprPpm: Option[Long], fprPpm: Option[Long])

  /** Streaming rendition of
    * [[graft.ml.MlMetrics.fairnessReport]]'s per-group counts: the
    * confusion cells accumulate per sensitive group across
    * micro-batches (6 longs of state per group —
    * flatMapGroupsWithState, the ewmStream shape) and every batch
    * emits the CUMULATIVE predicted-positive/TPR/FPR in the same
    * exact-ppm integer arithmetic as the batch audit — so a
    * fairness regression in a live scoring pipeline is visible at
    * the batch boundary it happens, not at the next batch job.
    * Input: (group, label, predicted). */
  def fairnessStream(ds: Dataset[(String, Boolean, Boolean)])(
      implicit e: Encoder[FairnessStreamOut],
      se: Encoder[FairnessStreamState]): Dataset[FairnessStreamOut] = {
    ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[FairnessStreamState, FairnessStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Boolean, Boolean)],
         state: GroupState[FairnessStreamState]) =>
          val prev = state.getOption
            .getOrElse(FairnessStreamState(0L, 0L, 0L, 0L, 0L, 0L))
          var (n, npp, tp, fp, fn, tn) =
            (prev.n, prev.npp, prev.tp, prev.fp, prev.fn, prev.tn)
          var nBatch = 0L
          rows.foreach { case (_, y, p) =>
            nBatch += 1; n += 1
            if (p) npp += 1
            (y, p) match {
              case (true, true) => tp += 1
              case (false, true) => fp += 1
              case (true, false) => fn += 1
              case (false, false) => tn += 1
            }
          }
          state.update(FairnessStreamState(n, npp, tp, fp, fn, tn))
          val tpr = if (tp + fn > 0) Some(tp * 1000000L / (tp + fn))
            else None
          val fpr = if (fp + tn > 0) Some(fp * 1000000L / (fp + tn))
            else None
          Iterator.single(FairnessStreamOut(key, nBatch, n, tp, fp,
            fn, tn, npp * 1000000L / n, tpr, fpr))
      }
  }

  case class UpliftStreamState(nt: Long, nc: Long, rt: Long, rc: Long)
  case class UpliftStreamOut(bucket: Int, nBatch: Long, nt: Long,
      nc: Long, rt: Long, rc: Long, uplift: Option[Double])

  /** Streaming rendition of
    * [[graft.ml.MlMetrics.upliftCurve]]'s per-bucket cells: the
    * treated/control responder counts accumulate per score bucket
    * across micro-batches (4 longs of state — the fairnessStream
    * shape) and every batch emits the CUMULATIVE per-bucket uplift —
    * the live read on whether the treatment is still lifting while
    * an experiment runs. Input: (bucket, treated, outcome). The
    * cumulative-across-buckets Qini view stays a batch query over
    * the emitted cells (one ≤buckets-row frame). */
  def upliftStream(ds: Dataset[(Int, Boolean, Boolean)])(
      implicit e: Encoder[UpliftStreamOut],
      se: Encoder[UpliftStreamState]): Dataset[UpliftStreamOut] = {
    ds.groupByKey(_._1)(Encoders.scalaInt)
      .flatMapGroupsWithState[UpliftStreamState, UpliftStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bucket: Int, rows: Iterator[(Int, Boolean, Boolean)],
         state: GroupState[UpliftStreamState]) =>
          val prev = state.getOption
            .getOrElse(UpliftStreamState(0L, 0L, 0L, 0L))
          var (nt, nc, rt, rc) = (prev.nt, prev.nc, prev.rt, prev.rc)
          var nBatch = 0L
          rows.foreach { case (_, t, y) =>
            nBatch += 1
            if (t) { nt += 1; if (y) rt += 1 }
            else { nc += 1; if (y) rc += 1 }
          }
          state.update(UpliftStreamState(nt, nc, rt, rc))
          val uplift = if (nt > 0 && nc > 0)
            Some(rt.toDouble / nt - rc.toDouble / nc) else None
          Iterator.single(UpliftStreamOut(bucket, nBatch, nt, nc,
            rt, rc, uplift))
      }
  }

  /** Batch-equivalent of the streaming tumbling aggregation — used to
    * verify window semantics against the oracle on static data. */
  def tumblingBatch(df: DataFrame, tsCol: String, size: String,
      keyCols: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), size) +: keyCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Streaming rendition of
    * [[graft.analytics.AlertOps.thresholdAlerts]] (reference
    * src/analytics/alerts.rs fires its thresholds over a live metric
    * feed): tumbling-window average of `metricCol` per key with the
    * static rule table broadcast-joined BEFORE the aggregation — a
    * stateless stream-static join, so the query stays append-mode
    * with bounded state (watermark evicts closed windows). Severity
    * labeling is identical to the batch operator; alerts emit once
    * per (key, window) when the watermark closes the window. */
  def thresholdAlerts(df: DataFrame, tsCol: String, keyCols: Seq[String],
      metricCol: String, rules: DataFrame, size: String,
      watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .join(broadcast(rules), keyCols)
      .groupBy(keyCols.map(col) ++ Seq(window(col(tsCol), size),
        col("warn"), col("crit")): _*)
      .agg((sum(col(metricCol)).cast("long").cast("double") /
        count(col(metricCol)).cast("double")).as("metric"))
      .withColumn("severity",
        when(col("metric") >= col("crit"), lit("critical"))
          .when(col("metric") >= col("warn"), lit("warning")))
      .filter(col("severity").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("window"), col("metric"),
        col("severity")): _*)

  /** Stream-stream interval join: equi-key plus an event-time band
    * `leftTs ≤ rightTs ≤ leftTs + within`. Both sides carry
    * watermarks, so the state store evicts rows once they can no
    * longer match — bounded state, the production shape for
    * impression↔click style correlation. `joinType` may be "inner"
    * or "leftOuter" (outer emits unmatched left rows only after the
    * watermark proves no match can arrive). Column names must be
    * disjoint across the two inputs. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      leftWatermark: String, rightWatermark: String, within: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, leftWatermark)
    val r = right.withWatermark(rightTs, rightWatermark)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"),
      joinType)
  }

  /** Streaming exact deduplication on `keyCols`: state is kept
    * forever for keys without the event-time column, so the variant
    * including `tsCol` plus a watermark is the scale-safe default —
    * a key's state is dropped once its event time passes the
    * watermark (the LLM-ingest dedup shape: doc fingerprint + arrival
    * time, bounded state). */
  def dedupeStream(df: DataFrame, tsCol: String, watermark: String,
      keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** Streaming dedup where duplicates may carry DIFFERENT event
    * times: keeps the first row per key and suppresses any duplicate
    * arriving within the watermark delay of it, with state evicted
    * afterwards (Spark's dropDuplicatesWithinWatermark). The right
    * tool when re-crawled documents get fresh timestamps. */
  def dedupeStreamWithinWatermark(df: DataFrame, tsCol: String,
      watermark: String, keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming twin of the batch C4 paragraph dedup
    * ([[graft.llm.PipelineOps.paragraphDedup]]): documents arrive as
    * a stream, each is split into non-blank paragraphs, and only the
    * FIRST arrival of each distinct paragraph (by md5, within the
    * watermark-bounded state window) survives. Emits the kept
    * paragraphs as (doc id, pos, paragraph, ts) — reassembly is a
    * per-doc batch concern (foreachBatch + groupBy id), not stream
    * state. State is bounded: a paragraph hash is evicted once the
    * watermark passes its first arrival. */
  def streamingParagraphDedup(docs: DataFrame, textCol: String,
      idCol: String, tsCol: String, watermark: String,
      sep: String = "\n"): DataFrame = {
    val paras = docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "paragraph")))
      .filter(length(trim(col("paragraph"))) > 0)
      .withColumn("phash", md5(col("paragraph")))
    paras.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("phash")
      .drop("phash")
  }

  /** Streaming CDC fold: consume a stream of change rows
    * (opCol ∈ {"u","d"} + key + payload) and maintain a materialized
    * target table by folding every micro-batch through
    * [[graft.versioning.VersionOps.applyChanges]] — the streaming
    * MERGE INTO pattern (foreachBatch is exactly how Delta/Iceberg
    * upsert sinks run on Spark). Within a batch, later changes win
    * via a per-key max-(batch-position) pre-collapse so replays are
    * deterministic. The target lives in `store` (checkpoint your
    * sink for production restarts; the spec injects an in-memory
    * store). Returns the StreamingQuery. */
  def streamingCdcFold(changes: DataFrame, keyCols: Seq[String],
      opCol: String, seqCol: String,
      store: java.util.concurrent.atomic.AtomicReference[DataFrame])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    changes.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // collapse to the LAST change per key within the batch
          val w = Window.partitionBy(keyCols.map(col): _*)
            .orderBy(col(seqCol).desc)
          val collapsed = batch
            .withColumn("__rn__", row_number().over(w))
            .filter(col("__rn__") === 1).drop("__rn__", seqCol)
          val next = graft.versioning.VersionOps.applyChanges(
            store.get(), collapsed, keyCols, opCol)
          // materialize before the next fold so lineage stays flat
          store.set(next.localCheckpoint(true))
        }
        ()
      }
      .start()
  }

  /** Streaming incremental corpus dedup — the deployment shape of
    * the r9/r10 incremental family ([[graft.llm.Dedup.exactAgainst]]
    * / [[graft.llm.Dedup.minhashLshAgainstFast]]): an unbounded feed
    * of new documents is deduplicated micro-batch by micro-batch
    * against the corpus accepted SO FAR, and each batch's survivors
    * join the corpus. Per batch it runs
    * [[graft.llm.Dedup.incrementalDedupStep]] and persists three
    * growing side tables under `corpusDir`:
    *
    *   - `docs/batch=N`   — accepted documents,
    *   - `hashes/batch=N` — their text md5s (stage-2 input),
    *   - `bands/batch=N`  — their LSH band rows (stage-3 input),
    *
    * so every batch's work is O(batch + matched buckets), never
    * O(corpus): the corpus is consulted through its persisted hash
    * and band tables, not re-scanned or re-banded (re-banding per
    * batch would be quadratic over the corpus lifetime — the 100 TB
    * trap this layout exists to avoid; at billions of corpus hashes
    * set `bloomExpectedItems` to switch stage 2 to the
    * [[graft.llm.Dedup.exactAgainstBloom]] broadcast-probe shape so
    * only ~dup-mass rows pay the verifying anti-join).
    *
    * Exactly-once: each batch writes `batch=<batchId>` subdirs with
    * Overwrite (idempotent on foreachBatch replay) and prior-state
    * reads filter `batch < batchId`, so a half-written dir from a
    * failed attempt is never consulted and is fully overwritten by
    * the retry. Restart with the same `checkpointDir` resumes at
    * the failed batch with no loss and no double-accept (spec:
    * StreamingIncrementalDedupSpec). Survivor artifacts are derived
    * by RE-READING the just-written docs dir, so the side tables are
    * always consistent with what is actually on disk.
    *
    * `bucketSideTables = Some(n)` switches the hash/band side tables
    * from plain parquet dirs to BUCKETED catalog tables
    * (`<tablePrefix>_hashes` bucketed on text_md5,
    * `<tablePrefix>_bands` on (band, bucket), both partitioned by
    * batch, data under `corpusDir`) — the billion-hash deployment
    * shape: the per-batch stage-2 anti-join and stage-3 bucket
    * aggregate/semi-join then read the CORPUS side pre-hashed into
    * its bucket layout, so only the batch side shuffles and the
    * growing side of the join never pays a per-batch exchange
    * (BucketingSpec's co-location argument applied to the one join
    * in this pipeline that grows with the corpus). Idempotence is
    * preserved by dropping the batch's partition before re-append
    * (ALTER TABLE … DROP PARTITION + append ≡ the parquet path's
    * per-batch Overwrite); the docs table — the source of truth —
    * keeps the original layout either way. */
  def streamingIncrementalDedup(newDocs: DataFrame, textCol: String,
      idCol: String, corpusDir: String, checkpointDir: String,
      numHashes: Int = 12, bands: Int = 4, shingleSize: Int = 3,
      maxBucket: Long = 1000L, fast: Boolean = true,
      lshStage: Boolean = true,
      bloomExpectedItems: Option[Long] = None,
      bucketSideTables: Option[Int] = None,
      tablePrefix: String = "graft_dedup")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    bucketSideTables.foreach(n => require(n >= 1 && n <= 100000,
      s"bucketSideTables in [1,100000], got $n"))
    newDocs.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          def priorDir(name: String): Option[DataFrame] = {
            val p = new org.apache.hadoop.fs.Path(s"$corpusDir/$name")
            val fs = p.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (fs.exists(p))
              Some(spark.read.parquet(p.toString)
                .filter(col("batch") < batchId))
            else None
          }
          def priorTable(name: String): Option[DataFrame] =
            if (spark.catalog.tableExists(name))
              Some(spark.table(name).filter(col("batch") < batchId)
                .drop("batch"))
            else None
          // bucketed catalog write with per-batch idempotence: drop
          // the batch's partition (no-op on first attempt), append —
          // equivalent to the parquet path's Overwrite-per-batch
          def writeSide(df: DataFrame, name: String, sub: String,
              keys: Seq[String], n: Int): Unit = {
            val full = df.withColumn("batch", lit(batchId))
            if (!spark.catalog.tableExists(name)) {
              full.write.mode("overwrite").format("parquet")
                .option("path", s"$corpusDir/$sub")
                .partitionBy("batch")
                .bucketBy(n, keys.head, keys.tail: _*)
                .sortBy(keys.head, keys.tail: _*)
                .saveAsTable(name)
            } else {
              spark.sql(s"ALTER TABLE `$name` DROP IF EXISTS " +
                s"PARTITION (batch=$batchId)")
              full.write.mode("append").format("parquet")
                .partitionBy("batch")
                .bucketBy(n, keys.head, keys.tail: _*)
                .sortBy(keys.head, keys.tail: _*)
                .saveAsTable(name)
            }
          }
          val (priorHashes, priorBands) = bucketSideTables match {
            case Some(_) => (priorTable(s"${tablePrefix}_hashes"),
              priorTable(s"${tablePrefix}_bands"))
            case None => (priorDir("hashes"), priorDir("bands"))
          }
          val (kept, _, _) = graft.llm.Dedup.incrementalDedupStep(
            batch, textCol, idCol, priorHashes, priorBands,
            numHashes, bands, shingleSize, maxBucket, fast, lshStage,
            bloomExpectedItems)
          kept.write.mode("overwrite")
            .parquet(s"$corpusDir/docs/batch=$batchId")
          // derive the side tables from the on-disk survivors (one
          // cheap re-read of a batch-sized dir) so they can never
          // drift from the docs table across retries
          val keptR =
            spark.read.parquet(s"$corpusDir/docs/batch=$batchId")
          val hashes = keptR.select(md5(col(textCol)).as("text_md5"))
          val bandRows =
            if (lshStage)
              Some(graft.llm.Dedup.bandedSignatures(keptR, textCol,
                idCol, numHashes, bands, shingleSize, fast))
            else None
          bucketSideTables match {
            case Some(n) =>
              writeSide(hashes, s"${tablePrefix}_hashes",
                "hashes_bucketed", Seq("text_md5"), n)
              bandRows.foreach(b => writeSide(b,
                s"${tablePrefix}_bands", "bands_bucketed",
                Seq("band", "bucket"), n))
            case None =>
              hashes.write.mode("overwrite")
                .parquet(s"$corpusDir/hashes/batch=$batchId")
              bandRows.foreach(_.write.mode("overwrite")
                .parquet(s"$corpusDir/bands/batch=$batchId"))
          }
        }
        ()
      }
      .start()
  }
}
