package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Dsl._

/** SURVEY.md §2.J — the true Structured Streaming formulations.
  *
  * The reference is an event-stream processor [PK]: gates (acknowledged
  * ingress), flows (per-event instruction chains), signals (stateful
  * alerting). Here each maps to Structured Streaming over an unbounded
  * DataFrame of events; the batch twins registered in SparkEntry share the
  * same aggregation bodies, and StreamingSpec asserts stream ≡ batch on the
  * events table replayed through a streaming source.
  *
  * Scale notes: all operators are keyed by user_id/window so state is
  * partitioned across executors; watermarks bound state growth; no
  * driver-side materialization anywhere.
  */
object StreamOps {

  /** One event as a typed row (for stateful ops). */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Emitted alert: user raised N consecutive errors. */
  case class Alert(user_id: Long, event_id: Long, run_length: Int)

  /** Per-user state for the consecutive-error machine (event time in µs —
    * the same precision Spark's ts column carries, so the machine, the
    * batch twin, and the oracle share one arithmetic domain). */
  case class ErrorRun(count: Int, lastTsMicros: Long)

  /** Timestamp → exact epoch µs (getTime alone truncates to ms). */
  def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Epoch µs → UTC day number, FLOORING (the batch keys' date_trunc
    * semantics): plain long division rounds pre-epoch timestamps toward
    * zero and would merge 1969-12-31 into day 0. One definition for every
    * day-grain processor. */
  def epochDay(us: Long): Long =
    Math.floorDiv(Math.floorDiv(us, 1000000L), 86400L)

  /** Epoch µs → UTC minute number, flooring (see [[epochDay]]). */
  def epochMinute(us: Long): Long =
    Math.floorDiv(Math.floorDiv(us, 1000000L), 60L)

  /** Tumbling 1h gauge with late-data tolerance (watermark). */
  def tumblingAgg(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"),
        col("total_value"))

  /** Sliding 1h windows every 15m: the overlapping-window state shape —
    * each event is live in 4 windows, so the watermark closes 4× the
    * per-key state of the tumbling case. Stream twin of
    * `stream_sliding_agg`; stream ≡ batch pinned in StreamingSpec. */
  def slidingAgg(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))

  /** Session gauge: 30-min inactivity gap, keyed by user. */
  def sessionAgg(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"),
        dsum(col("value")).as("session_value"))
      .select(col("user_id"), col("n_events"), col("first_event_id"),
        col("last_event_id"), col("session_value"))

  /** At-least-once → exactly-once: drop replayed event_ids inside the
    * watermark horizon (gate ack/dedup semantics). */
  def dedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming DAU — the live twin of `evt_active_users`' dau column:
    * watermarked dedup on (user_id, day) holds one state row per active
    * user-day (bounded by the watermark horizon, not the stream), then a
    * per-day count aggregates the distinct pairs. */
  def dailyActiveUsers(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withColumn("day", date_trunc("DAY", col("ts")))
      .withWatermark("day", watermark)
      .dropDuplicates("user_id", "day")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))

  /** Signal state machine: raise an alert on every 3rd-and-beyond
    * consecutive 'error' per user. A non-error event OR an event-time gap
    * over 24 hours clears the run (the gap rule makes the semantics
    * deterministic and lets the 24h state timeout double as a pure GC —
    * after removal the next event starts at run 0, exactly what the gap
    * rule dictates). The reference's signal levels [PK] re-expressed as
    * flatMapGroupsWithState with event-time timeout. */
  val GapResetMicros: Long = 24L * 3600L * 1000000L

  def statefulAlert(events: Dataset[Event], threshold: Int = 3): Dataset[Alert] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ErrorRun, Alert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[Event], state: GroupState[ErrorRun]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // Events inside one micro-batch group arrive unordered — impose
            // deterministic (ts, event_id) order before running the machine.
            val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var (run, lastTs) = state.getOption
              .map(s => (s.count, s.lastTsMicros)).getOrElse((0, Long.MinValue))
            val out = Seq.newBuilder[Alert]
            sorted.foreach { e =>
              val t = micros(e.ts)
              if (lastTs != Long.MinValue && t - lastTs > GapResetMicros) run = 0
              if (e.event_type == "error") {
                run += 1
                if (run >= threshold) out += Alert(e.user_id, e.event_id, run)
              } else run = 0
              lastTs = t
            }
            state.update(ErrorRun(run, lastTs))
            // GC: once the watermark passes lastTs + gap, the run is dead
            // by the gap rule anyway — removal is semantically free.
            state.setTimeoutTimestamp(lastTs / 1000L + GapResetMicros / 1000L)
            out.result().iterator
          }
      }
  }

  /** Watermark drop semantics, observable: rows older than the watermark at
    * arrival are dropped by the streaming aggregation. */
  def lateDataCounts(events: DataFrame, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("n"))

  /** One attributed conversion: purchase `event_id` credited to `channel`. */
  case class Attribution(user_id: Long, event_id: Long, channel: String,
      value: Double)

  /** Last-touch attribution as an EVENT-TIME-ROBUST streaming state
    * machine (the streaming twin of `evt_attribution`'s window
    * formulation). Per-user state: a ListState buffer of not-yet-final
    * events plus a ValueState carrying the last non-purchase touch at or
    * below the finalized frontier. Nothing is attributed on arrival —
    * events are buffered, and only once the watermark passes an event is
    * it folded into the machine, in the batch twin's global
    * (ts, event_id) order. This makes emission ≡ the batch twin for ANY
    * arrival order whose disorder is bounded by the watermark (a late
    * touch or purchase in a later micro-batch lands in the buffer and
    * still sorts into its true position before finalization); arrival
    * beyond the watermark is dropped upstream like every event-time
    * operator. State per user is the ≤watermark-delay tail of its events
    * plus one string — bounded by delay × rate, partitioned by user_id
    * across executors (a deployment would add TTLConfig matched to its
    * attribution window to bound idle users). */
  class AttributionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, Attribution] {
    @transient private var buf:
      org.apache.spark.sql.streaming.ListState[Event] = _
    @transient private var carry:
      org.apache.spark.sql.streaming.ValueState[String] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[Event]("attr_buf",
        org.apache.spark.sql.Encoders.product[Event],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      carry = getHandle.getValueState[String]("attr_carry",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    /** Finalize every buffered event STRICTLY below the watermark, in
      * (ts, event_id) order; re-buffer the rest. Strict `<` matters: an
      * on-time event may still arrive with ts == watermark, and it must
      * be able to sort before a same-ts buffered event — all equal-ts
      * events finalize atomically in one later flush. */
    private def flush(watermarkMs: Long): Iterator[Attribution] = {
      val events = {
        val it = buf.get()
        val b = Seq.newBuilder[Event]
        while (it.hasNext) b += it.next()
        b.result().sortBy(e => (micros(e.ts), e.event_id))
      }
      if (events.isEmpty) return Iterator.empty
      val (fin, open) = events.partition(e =>
        micros(e.ts) < watermarkMs * 1000L)
      val out = Seq.newBuilder[Attribution]
      fin.foreach { e =>
        if (e.event_type == "purchase")
          out += Attribution(e.user_id, e.event_id,
            Option(carry.get()).getOrElse("(none)"), e.value)
        else carry.update(e.event_type)
      }
      buf.clear()
      if (open.nonEmpty) {
        open.foreach(buf.appendValue)
        // +1ms past the open tail's max ts: the timer fires once the
        // watermark is strictly beyond it (ms watermark vs µs events).
        getHandle.registerTimer(micros(open.last.ts) / 1000L + 1L)
      }
      out.result().iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Attribution] = {
      // drop late-beyond-watermark rows (the uniform ingest guard): a
      // stale touch folding in now would overwrite `carry` AFTER later
      // events already advanced it, mis-attributing the next purchase
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      rows.foreach(e => if (micros(e.ts) >= wmUs) buf.appendValue(e))
      flush(timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[Attribution] =
      // Stale timers from earlier batches fire too — flush is idempotent
      // against the CURRENT watermark, so a stale fire just re-arms.
      flush(timerValues.getCurrentWatermarkInMs())
  }

  def attributionTws(events: Dataset[Event]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** The shared CEP alert pattern (stream_pattern_alert's batch twin and
    * [[patternAlertTws]] compile the SAME Cep grammar string). */
  val PatternAlert: String = "view>(view|click)>purchase"

  /** The WITHIN bound shared by [[patternWithinTws]], its batch twin
    * (stream_pattern_within) and the oracle: 24 h in µs. */
  val PatternWithinUs: Long = 86400L * 1000000L

  /** The shared QUANTIFIED pattern (stream_pattern_quantified's batch
    * twin and [[patternQuantifiedTws]] expand the SAME grammar string at
    * the same bound). */
  val PatternQuantified: String = "view>click*>purchase"
  val PatternMaxRep: Int = 2

  /** The PERMUTE pattern shared by [[patternPermuteTws]], its batch twin
    * (stream_pattern_permute) and the oracle. */
  val PatternPermute: String = "view>click>purchase"

  /** One CEP hit: the event that completes a contiguous pattern match. */
  case class PatternHit(user_id: Long, event_id: Long)

  /** One CEP match SPAN: the MEASURES payload — which events matched.
    * first/last ids bound the contiguous window; span_us is exact µs. */
  case class PatternSpan(user_id: Long, first_event_id: Long,
      last_event_id: Long, span_us: Long)

  /** Per-user state of the CEP machine: the user's last maxK−1 events as
    * aligned (type, event_id, µs ts) columns — CONSTANT-size per key, the
    * property that makes CEP viable on an unbounded stream. */
  case class PatternTail(types: Seq[String], ids: Seq[Long], tss: Seq[Long])

  object PatternTail {
    val Empty: PatternTail = PatternTail(Nil, Nil, Nil)
  }

  /** The CEP machine's fold — pure, so tests drive it without Spark. A
    * pattern is a set of literal step sequences (one for a literal
    * pattern, Cep.expandedSteps' repetitions for a quantified one,
    * Cep.permuteSteps' orderings for PERMUTE). One user's micro-batch
    * folds in deterministic (ts, event_id) order, so emission ≡ the batch
    * twins' lag-window formulation across micro-batch seams. An event
    * completes a match when ANY expansion's k-event window ENDING at it
    * matches — existential, one hit per completing event — and spans
    * ts_last − ts_first ≤ withinUs (Long.MaxValue = unbounded), measured
    * over the SAVED timestamps, so a match straddling a restart exercises
    * the restored tss, not just the restored types. A hit's span is that
    * of the first matching expansion: unambiguous only for a single
    * expansion, which is why [[patternSpanTws]] takes a literal pattern.
    * Each event pays |expansions| suffix checks over the constant
    * buffer — O(1) for a bounded pattern. */
  def patternStep(exps: Seq[Seq[Option[Seq[String]]]], withinUs: Long,
      tail: PatternTail, batch: Seq[Event]): (PatternTail, Seq[PatternSpan]) = {
    val keep = exps.map(_.length).max - 1
    val out = Seq.newBuilder[PatternSpan]
    val end = batch.sortBy(e => (micros(e.ts), e.event_id)).foldLeft(tail) {
      (t, e) =>
        val types = t.types :+ e.event_type
        val ids = t.ids :+ e.event_id
        val tss = t.tss :+ micros(e.ts)
        val n = types.size
        exps.find { steps =>
          val k = steps.length
          n >= k && tss(n - 1) - tss(n - k) <= withinUs &&
            steps.zip(types.drop(n - k)).forall { case (a, x) => a.forall(_.contains(x)) }
        }.foreach { steps =>
          val k = steps.length
          out += PatternSpan(e.user_id, ids(n - k), e.event_id, tss(n - 1) - tss(n - k))
        }
        PatternTail(types.takeRight(keep), ids.takeRight(keep), tss.takeRight(keep))
    }
    (end, out.result())
  }

  /** Streaming CEP — the `cep` flow op's stateful sibling and the ONE
    * machine behind every pattern preset below: [[patternStep]] over each
    * user's event stream, with the [[PatternTail]] in a RocksDB-backed
    * ValueState. A production deployment would add a TTLConfig to GC
    * long-idle users (maxK−1 triples each, so NONE here is deliberate). */
  class PatternMachine(exps: Seq[Seq[Option[Seq[String]]]], withinUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, PatternSpan] {
    @transient private var tailState:
      org.apache.spark.sql.streaming.ValueState[PatternTail] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      tailState = getHandle.getValueState[PatternTail]("tail",
        org.apache.spark.sql.Encoders.product[PatternTail],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[PatternSpan] = {
      val (tail, out) = patternStep(exps, withinUs,
        Option(tailState.get()).getOrElse(PatternTail.Empty), rows.toSeq)
      tailState.update(tail)
      out.iterator
    }
  }

  private def patternSpans(events: Dataset[Event],
      exps: Seq[Seq[Option[Seq[String]]]], withinUs: Long): Dataset[PatternSpan] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new PatternMachine(exps, withinUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  private def patternHits(events: Dataset[Event],
      exps: Seq[Seq[Option[Seq[String]]]],
      withinUs: Long = Long.MaxValue): Dataset[PatternHit] = {
    import events.sparkSession.implicits._
    patternSpans(events, exps, withinUs)
      .map(h => PatternHit(h.user_id, h.last_event_id))
  }

  /** Quantifier-free pattern (alternations + wildcards). */
  def patternAlertTws(events: Dataset[Event],
      pattern: String = PatternAlert): Dataset[PatternHit] =
    patternHits(events, Seq(graft.flow.Cep.literalSteps(pattern)))

  /** "A then B then C within W" — the reference-style signal bound. */
  def patternWithinTws(events: Dataset[Event],
      pattern: String = PatternAlert,
      withinUs: Long = PatternWithinUs): Dataset[PatternHit] =
    patternHits(events, Seq(graft.flow.Cep.literalSteps(pattern)), withinUs)

  /** MEASURES emission: a hit reports WHICH events matched (the
    * MATCH_RECOGNIZE MEASURES the batch cep_spans op extracts) — the row
    * a notification sink actually routes. */
  def patternSpanTws(events: Dataset[Event],
      pattern: String = PatternAlert): Dataset[PatternSpan] =
    patternSpans(events, Seq(graft.flow.Cep.literalSteps(pattern)), Long.MaxValue)

  /** Bounded quantifiers (Cep.expandedSteps; >maxRep runs are not hits,
    * the flow count mode's documented truncation). */
  def patternQuantifiedTws(events: Dataset[Event],
      pattern: String = PatternQuantified,
      maxRep: Int = PatternMaxRep): Dataset[PatternHit] =
    patternHits(events, graft.flow.Cep.expandedSteps(pattern, maxRep))

  /** Quantifiers AND the time bound in one machine — where checkpoint
    * bugs hide (StreamPipelineSpec kills mid-pattern on that seam). */
  def patternQuantifiedWithinTws(events: Dataset[Event],
      pattern: String = PatternQuantified,
      maxRep: Int = PatternMaxRep,
      withinUs: Long = PatternWithinUs): Dataset[PatternHit] =
    patternHits(events, graft.flow.Cep.expandedSteps(pattern, maxRep), withinUs)

  /** MATCH_RECOGNIZE's `PERMUTE(view, click, purchase)`: the k! orderings
    * (Cep.permuteSteps — same 64-ordering cap as the flow op). */
  def patternPermuteTws(events: Dataset[Event],
      pattern: String = PatternPermute): Dataset[PatternHit] =
    patternHits(events, graft.flow.Cep.permuteSteps(pattern))

  /** One finished session (the gate/flow sessionization signal). */
  case class SessionOut(user_id: Long, n_events: Long, first_event_id: Long,
      last_event_id: Long, session_value: Double)

  /** Session windows on the arbitrary-state API: demonstrates the full
    * `transformWithState` surface — a ListState event buffer PLUS a
    * ValueState timer-bookkeeping var (multiple state variables per key),
    * with event-time timers driving emission. A session closes when the
    * watermark passes its last event + the 30-min gap; the buffer then
    * splits on gaps, closed sessions emit, and the open tail stays
    * buffered. Emission-time semantics match the built-in
    * `session_window` aggregation (StreamingSpec pins stream ≡ batch).
    *
    * session_value replicates the batch twin's decimal discipline
    * (Dsl.dsum: per-value DECIMAL(18,4) HALF_UP, exact decimal sum, one
    * final cast to double) so the parity check is bit-exact. */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SessionOut] {
    @transient private var buf:
      org.apache.spark.sql.streaming.ListState[Event] = _
    @transient private var timerAt:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[Event]("buf",
        org.apache.spark.sql.Encoders.product[Event],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long]("timerAt",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def sessionValue(events: Seq[Event]): Double =
      events.foldLeft(java.math.BigDecimal.ZERO) { (acc, e) =>
        // valueOf (shortest-decimal repr), NOT new BigDecimal(double):
        // Spark's double→DECIMAL cast goes through Decimal(BigDecimal(d))
        // which is toString-based — the exact-expansion constructor rounds
        // 4dp ties the other way (SURVEY §7.4 decimal-tie rule).
        acc.add(java.math.BigDecimal.valueOf(e.value)
          .setScale(4, java.math.RoundingMode.HALF_UP))
      }.doubleValue

    /** Emit every session fully closed at `watermarkMs`; re-buffer the
      * open tail and (re)arm a timer for its eventual close. */
    private def flush(key: Long, watermarkMs: Long): Iterator[SessionOut] = {
      val events = {
        val it = buf.get()
        val b = Seq.newBuilder[Event]
        while (it.hasNext) b += it.next()
        b.result().sortBy(e => (micros(e.ts), e.event_id))
      }
      if (events.isEmpty) return Iterator.empty
      // split on >gap between consecutive events
      val sessions = Seq.newBuilder[Seq[Event]]
      var cur = Seq.newBuilder[Event]
      var last = Long.MinValue
      events.foreach { e =>
        val t = micros(e.ts)
        if (last != Long.MinValue && t - last > gapMs * 1000L) {
          sessions += cur.result(); cur = Seq.newBuilder[Event]
        }
        cur += e
        last = t
      }
      sessions += cur.result()
      val all = sessions.result()
      // Close in exact µs, STRICTLY past the boundary: the session rule
      // splits only on gap > 30min (equal-gap extends, matching the batch
      // twin's `> 1800s`), so an on-time event may still arrive with
      // ts == last + gap — the session closes only once the watermark is
      // strictly beyond that instant. A floor-ms or >= comparison would
      // close up to 1ms early and split a session the twin merges.
      def closeUs(sess: Seq[Event]): Long = micros(sess.last.ts) + gapMs * 1000L
      val (closed, open) = all.partition(sess =>
        watermarkMs * 1000L > closeUs(sess))
      // keep open events (at most the tail session plus later stragglers)
      buf.clear()
      open.flatten.foreach(buf.appendValue)
      // arm at the first whole ms strictly past the earliest close
      val armAt = if (open.nonEmpty)
        open.map(sess => closeUs(sess) / 1000L + 1L).min
      else Long.MinValue
      // timer bookkeeping via the second state var: drop the superseded
      // pending timer, arm the new close time (0 = no timer recorded;
      // event-time ms are never 0 for real data)
      val prev = timerAt.get() // primitive decode: empty state reads as 0L
      if (armAt == Long.MinValue) {
        if (prev != 0L) { getHandle.deleteTimer(prev); timerAt.clear() }
      } else if (prev != armAt) {
        if (prev != 0L) getHandle.deleteTimer(prev)
        getHandle.registerTimer(armAt)
        timerAt.update(armAt)
      }
      closed.iterator.map { sess =>
        // min/max ids (not positional head/last): the batch twin reports
        // min(event_id)/max(event_id), which differs when ids are not
        // monotone with event time.
        val ids = sess.map(_.event_id)
        SessionOut(key, sess.length.toLong, ids.min, ids.max,
          sessionValue(sess))
      }
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      // drop late-beyond-watermark rows (the uniform ingest guard): a
      // stale event would immediately close as a spurious 1-event session
      // the batch twin merges into an existing one
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      rows.foreach(e => if (micros(e.ts) >= wmUs) buf.appendValue(e))
      // Skip the O(N log N) buffer rewrite when nothing can close yet:
      // the earliest close time is non-decreasing as events arrive, so if
      // the watermark hasn't reached the armed timer there is nothing to
      // emit — just append (the timer will drive the flush).
      val wm = timerValues.getCurrentWatermarkInMs()
      val armed = timerAt.get()
      if (armed == 0L || wm >= armed) flush(key, wm) else Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] =
      flush(key, timerValues.getCurrentWatermarkInMs())
  }

  def sessionTws(events: Dataset[Event], gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes * 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** One document in flight through the streaming near-dedup pipeline. */
  case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** A document's membership in one LSH band bucket. */
  case class BandDoc(band: Long, bkey: String, doc_id: Long,
      ts: java.sql.Timestamp)

  /** A streaming near-duplicate hit: `doc_id` collided with the bucket's
    * leader (its first/minimal document) on LSH band `band`. */
  case class DedupHit(band: Long, bkey: String, doc_id: Long, leader: Long)

  private[streaming] case class PendingDoc(doc_id: Long, tsUs: Long)
  private[streaming] case class BucketLeader(id: Long)

  /** Stateless per-row twin of `DedupOps.md5Bands`: each document maps to
    * its 4 MinHash LSH band keys with NO shuffle — signatures come from
    * `array_min(transform(...))` over the in-row shingle array instead of
    * the batch path's explode→groupBy (min over the multiset ≡ min over the
    * distinct set). This is what makes the dedup streamable: band
    * derivation is a map, all state lives keyed by (band, bkey). Docs with
    * < 3 words produce no shingles and drop out (nothing to collide on),
    * exactly as in the batch twin. */
  def docBands(docs: DataFrame): DataFrame = {
    val sigCols = (0 until 8).map { k =>
      array_min(transform(col("shingles"),
        s => md5(concat(lit(s"$k:"), s)))).as(s"sig$k")
    }
    val signed = docs
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      // r18 OPTIMIZATION: interpreted shingle transform → native Shingles3
      // (same arrays; TextFeatureSpec parity)
      .withColumn("shingles",
        graft.functions.TextFeatureExpressions.shingles3(docs.sparkSession)(
          col("words")))
      .select(col("doc_id") +: col("ts") +: sigCols: _*)
    val bandCol = explode(array((0 until 4).map { b =>
      struct(lit(b.toLong).as("band"),
        concat_ws("_", col(s"sig${2 * b}"), col(s"sig${2 * b + 1}")).as("bkey"))
    }: _*)).as("bk")
    signed.select(col("doc_id"), col("ts"), bandCol)
      .select(col("bk.band").as("band"), col("bk.bkey").as("bkey"),
        col("doc_id"), col("ts"))
  }

  /** Streaming near-duplicate dedup, keyed by LSH band bucket: the first
    * document to arrive in a bucket (by event time, ties by doc_id) is the
    * bucket LEADER; every later document in the same bucket emits a
    * [[DedupHit]] against that leader. With ingest time monotone in doc_id
    * (the replay contract — a production pipeline's doc ids are
    * arrival-ordered), the final hit set equals the batch twin
    * (`stream_near_dedup`: leader = min doc_id per bucket), including
    * out-of-order delivery bounded by the watermark: a document only
    * FINALIZES (becomes leader or emits a hit) once the watermark passes
    * its event time, so an earlier-ts/smaller-id straggler still wins the
    * bucket as long as it arrives inside the watermark.
    *
    * State per bucket: a ListState buffer of un-finalized docs + a
    * ValueState leader + the timer-bookkeeping ValueState (the
    * SessionProcessor pattern). The leader entry is the persistent
    * keep-set — production bounds it with a TTL sized to the dedup
    * horizon; compose [[dedup]] (dropDuplicatesWithinWatermark on doc_id)
    * upstream for at-least-once replay of the same document. */
  class NearDedupProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, String), BandDoc, DedupHit] {
    @transient private var pending:
      org.apache.spark.sql.streaming.ListState[PendingDoc] = _
    @transient private var leader:
      org.apache.spark.sql.streaming.ValueState[BucketLeader] = _
    @transient private var timerAt:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      pending = getHandle.getListState[PendingDoc]("pending",
        org.apache.spark.sql.Encoders.product[PendingDoc],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      leader = getHandle.getValueState[BucketLeader]("leader",
        org.apache.spark.sql.Encoders.product[BucketLeader],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long]("timerAt",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    /** Finalize every pending doc whose event time the watermark has
      * strictly passed, in (tsUs, doc_id) order; first finalized doc in
      * bucket lifetime becomes leader, the rest emit hits. */
    private def flush(key: (Long, String), wmMs: Long): Iterator[DedupHit] = {
      val wmUs = wmMs * 1000L
      val all = {
        val it = pending.get()
        val b = Seq.newBuilder[PendingDoc]
        while (it.hasNext) b += it.next()
        // distinct: an at-least-once replay inside the watermark must not
        // double-count a doc within one flush
        b.result().distinct.sortBy(d => (d.tsUs, d.doc_id))
      }
      if (all.isEmpty) return Iterator.empty
      val (fin, open) = all.partition(d => wmUs > d.tsUs)
      var lead = Option(leader.get()).map(_.id).getOrElse(Long.MinValue)
      val out = Seq.newBuilder[DedupHit]
      fin.foreach { d =>
        if (lead == Long.MinValue) lead = d.doc_id
        else if (d.doc_id != lead) out += DedupHit(key._1, key._2, d.doc_id, lead)
      }
      if (lead != Long.MinValue) leader.update(BucketLeader(lead))
      pending.clear()
      open.foreach(pending.appendValue)
      // (re)arm at the first whole ms strictly past the earliest open ts;
      // same bookkeeping discipline as SessionProcessor (0 = none armed)
      val armAt = if (open.nonEmpty) open.map(_.tsUs / 1000L + 1L).min
        else Long.MinValue
      val prev = timerAt.get()
      if (armAt == Long.MinValue) {
        if (prev != 0L) { getHandle.deleteTimer(prev); timerAt.clear() }
      } else if (prev != armAt) {
        if (prev != 0L) getHandle.deleteTimer(prev)
        getHandle.registerTimer(armAt)
        timerAt.update(armAt)
      }
      out.result().iterator
    }

    override def handleInputRows(key: (Long, String), rows: Iterator[BandDoc],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[DedupHit] = {
      // drop late-beyond-watermark rows (the uniform ingest guard): a
      // stale doc folding in now would be marked the DUPLICATE of a doc
      // that arrived after it, inverting the original/dup roles the batch
      // twin assigns in global ts order
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      rows.foreach { r =>
        val us = micros(r.ts)
        if (us >= wmUs) pending.appendValue(PendingDoc(r.doc_id, us))
      }
      flush(key, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: (Long, String),
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[DedupHit] =
      flush(key, timerValues.getCurrentWatermarkInMs())
  }

  def nearDedupStream(docs: DataFrame,
      watermark: String = "10 minutes"): Dataset[DedupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docBands(docs)
      .withWatermark("ts", watermark)
      .as[BandDoc]
      .groupByKey(b => (b.band, b.bkey))
      .transformWithState(new NearDedupProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** STREAMING semantic dedup (r16) — the vector twin of
    * [[nearDedupStream]]: an ingest stream of (vec_id, embedding) rows
    * checked per micro-batch against a STATIC base corpus's cell-sized
    * two-level index (graft.operators.Ivf.baseIndex in its resident form
    * — the same (base, delta) core `llm_ivf2_dedup_incremental` proves
    * under the oracle); both frames are raw (vec_id, embedding).
    * foreachBatch is the deliberate shape, not a fallback:
    * each trigger's batch IS the delta, so the window ranks and keyed
    * joins of the two-level assignment run as ordinary batch plans per
    * trigger, and per-batch output lands idempotently (batch-id
    * directory overwrite — the Sinks.foreachBatchParquet replay
    * discipline). Verdicts are row-local against the committed base, so
    * micro-batch boundaries cannot change them (StreamingSpec pins
    * stream ≡ batch across 3 seams) and there is ZERO cross-batch
    * streaming state — the only state is the published index
    * generation, which is what makes the shape safe at 100 TB ingest:
    * a new base generation is a republish + restart, never a state
    * migration. */
  def semanticDedupStream(vecs: DataFrame, base: DataFrame, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // the RESIDENT index: built and pinned ONCE at stream setup, reused
    // by every micro-batch — per-batch work is delta-sized + one keyed
    // base join, and the pin count stays constant over an unbounded
    // stream (building it inside foreachBatch would localCheckpoint new
    // RDDs every trigger: the monotone-registry leak the soaks catch)
    val index = graft.operators.Ivf.baseIndex(
      graft.operators.IvfSpec.CellSized, base, resident = true)
    vecs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // the micro-batch executes under a CLONED session state — the
        // graft expression registry must exist there too, or the
        // call_function("graft_dot_f") nodes fail analysis
        graft.functions.GraftFunctions.registerAll(batch.sparkSession)
        graft.operators.DedupOps.dupFlagsOn(index, batch)
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    }
  }

  /** Stream–stream interval join (the reference's cross-stream correlation
    * signal [PK]): each purchase joined to the same user's clicks in the
    * preceding hour. Both sides carry watermarks and the join condition
    * bounds event time on both ends, so Spark can expire state — the only
    * formulation that survives unbounded streams. */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "10 minutes", joinType: String = "inner"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    // leftOuter: an unmatched purchase is emitted null-padded once the
    // watermark guarantees no matching click can still arrive.
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") < col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      joinType)
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
  }

  /** Stream–static enrichment — the most common streaming join: each
    * event picks up its dimension row (here the synthetic user→nation
    * segment, user_id % 25) from a BROADCAST static table. Stateless
    * (no watermark, no state store): the dim snapshot ships once per
    * micro-batch plan, which is exactly the 100 TB pattern for
    * dimension tables that fit an executor; works identically on a
    * batch frame (the oracled `stream_static_enrich` twin). */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim),
        events("user_id") % 25 === dim("n_nationkey"))
      .select(events("event_id"), events("user_id"),
        dim("n_name").as("segment"), events("value"))

  /** One event exploded onto a trailing-window grid day (see
    * [[wauSketchStream]]); `ts` rides along as the watermark column. */
  case class GridEvent(gday: Long, user_id: Long, ts: java.sql.Timestamp)

  /** One finalized trailing-7-day distinct-user estimate. */
  case class WauEstimate(day: java.sql.Timestamp, wau_est: Long)

  /** Streaming WAU through RE-AGGREGATABLE SKETCH STATE — the streaming
    * twin of `evt_active_users`' wau column. Exact trailing-7-day
    * distinct users is unbounded state (every (user, day) pair of the
    * window); the scale path is an HLL sketch per grid day. The grid
    * trick is the SAME rewrite the batch key uses: each event serves the
    * ≤7 trailing windows ending on days d..d+6, so it explodes onto
    * those grid days and the processor keyed by gday absorbs user_id
    * into a 2^p-register HLL (4 KiB at p=12 — fixed, per key, forever;
    * insertion is idempotent, which is exactly the DISTINCT property,
    * and register-max merging is what would re-aggregate per-executor
    * partials on a cluster). A day's estimate is final once the
    * watermark passes its end (every contributing event has ts before
    * end-of-day by construction), driven by an event-time timer;
    * relative error ~1.04/sqrt(2^p) ≈ 1.6%, pinned against the exact
    * batch WAU in StreamingSpec. Hash is splitmix64 (public-domain
    * finalizer) of user_id; small cardinalities take the standard
    * linear-counting correction. */
  class WauSketchProcessor(p: Int = 12)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, GridEvent, WauEstimate] {
    private val m = 1 << p
    @transient private var regs:
      org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      regs = getHandle.getValueState[Array[Byte]]("wau_regs",
        org.apache.spark.sql.Encoders.BINARY,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    override def handleInputRows(key: Long, rows: Iterator[GridEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[WauEstimate] = {
      val r = Option(regs.get()).getOrElse(new Array[Byte](m))
      rows.foreach { e =>
        val h = mix64(e.user_id)
        val idx = (h >>> (64 - p)).toInt
        // rank of the first 1-bit among the remaining 64-p bits (1-based;
        // all-zero tail gets the max rank 64-p+1)
        val tail = h << p
        val rank = (java.lang.Long.numberOfLeadingZeros(tail) + 1).min(64 - p + 1)
        if (rank > r(idx)) r(idx) = rank.toByte
      }
      regs.update(r)
      // final once the watermark passes this grid day's end
      getHandle.registerTimer((key + 1) * 86400000L)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[WauEstimate] =
      Option(regs.get()) match {
        case None => Iterator.empty // duplicate timer after state cleared
        case Some(r) =>
          regs.clear()
          // standard HLL estimator + linear-counting small-range correction
          val alpha = 0.7213 / (1.0 + 1.079 / m)
          var sum = 0.0
          var zeros = 0
          r.foreach { b =>
            sum += java.lang.Math.pow(2.0, -b.toDouble)
            if (b == 0) zeros += 1
          }
          val raw = alpha * m * m / sum
          val est =
            if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
            else raw
          Iterator.single(WauEstimate(
            new java.sql.Timestamp(key * 86400000L), math.round(est)))
      }
  }

  /** Running per-user streak aggregate as of finalized day `upto_dayn`. */
  case class StreakOut(user_id: Long, active_days: Long, longest_streak: Long,
      n_streaks: Long, upto_dayn: Long)

  private case class StreakAgg(lastDayn: Long, curLen: Long, activeDays: Long,
      maxLen: Long, nStreaks: Long)

  /** Streaming gaps-and-islands streaks — the transformWithState twin of
    * `evt_streaks`. Day numbers buffer in ListState until the watermark
    * passes their day's END (a day's distinct-activity bit is only final
    * once no event of that day can still arrive — the same buffered
    * event-time discipline as [[AttributionProcessor]]); finalized days
    * then fold, deduped and in order, into an O(1) per-user aggregate
    * (last day, current run, longest run, streak count) — the state never
    * holds the event stream, only ≤watermark-delay of pending day numbers
    * plus five longs. Each flush that consumes days emits the updated
    * running aggregate stamped with `upto_dayn`; once the watermark
    * passes the corpus the LAST emission per user equals the batch key
    * exactly (StreamingSpec pins it). */
  class StreakProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, StreakOut] {
    @transient private var pending:
      org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var agg:
      org.apache.spark.sql.streaming.ValueState[StreakAgg] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      pending = getHandle.getListState[Long]("streak_pending",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      agg = getHandle.getValueState[StreakAgg]("streak_agg",
        org.apache.spark.sql.Encoders.product[StreakAgg],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def flush(key: Long, watermarkMs: Long): Iterator[StreakOut] = {
      // a day is final only STRICTLY past its end (ms watermark, µs
      // events): finality key = the day's end in µs
      val (fin0, _) = drainFinalized(pending, getHandle, watermarkMs,
        dedupeOpen = true)(dayn => (dayn + 1) * 86400000000L)
      val fin = fin0.distinct.sorted
      if (fin.isEmpty) return Iterator.empty
      var a = Option(agg.get()).getOrElse(StreakAgg(Long.MinValue, 0, 0, 0, 0))
      fin.foreach { dayn =>
        if (dayn > a.lastDayn) { // cross-batch duplicate days fold once
          val run = if (dayn == a.lastDayn + 1) a.curLen + 1 else 1
          a = StreakAgg(dayn, run, a.activeDays + 1,
            math.max(a.maxLen, run),
            if (run == 1) a.nStreaks + 1 else a.nStreaks)
        }
      }
      agg.update(a)
      Iterator.single(StreakOut(key, a.activeDays,
        math.max(a.maxLen, a.curLen), a.nStreaks, a.lastDayn))
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[StreakOut] = {
      // per-batch dedup: one Long per DISTINCT day, not per event — a hot
      // key's 50k same-day events must not buffer 50k state entries.
      // Days the watermark already finalized are dropped at append (the
      // fold's dayn > lastDayn guard already ignores them; the drop also
      // stops the no-op duplicate re-emission of the current aggregate).
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      rows.map(e => epochDay(micros(e.ts))).toSeq.distinct
        .filter(dayn => (dayn + 1) * 86400000000L >= wmUs)
        .foreach(pending.appendValue)
      flush(key, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[StreakOut] =
      flush(key, timerValues.getCurrentWatermarkInMs())
  }

  /** One gap-filled calendar row (the streaming twin of a batch
    * `evt_gap_fill` output row). */
  case class GapFillOut(user_id: Long, day: java.sql.Timestamp,
      n_events: Long, purchase_value: Option[Double],
      filled_value: Option[Double])

  private case class PendingDay(dayn: Long, n: Long, hasP: Boolean, pvQ: Long)

  private case class FillProgress(nextDayn: Long, filled: Double,
      hasFilled: Boolean)

  /** Streaming gap-fill — the transformWithState twin of `evt_gap_fill`.
    * Per-batch partial day aggregates (event count + exact DECIMAL(18,4)
    * purchase sum as an unscaled long) buffer in ListState; a day
    * finalizes once the watermark passes its end, and because watermark
    * finalization is prefix-closed in day order, the per-user calendar
    * can be emitted LEFT TO RIGHT exactly once: when an observed day
    * finalizes, every grid day since the previous observed day emits —
    * gap days as (0, null, carried filled_value), the observed day with
    * its aggregate and an updated carry. Trailing days beyond the last
    * observed day never emit, matching the batch grid's min..max span.
    * State per user is O(watermark-delay) pending partials plus three
    * scalars — never the event stream, never the calendar. */
  class GapFillProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, GapFillOut] {
    @transient private var pending:
      org.apache.spark.sql.streaming.ListState[PendingDay] = _
    @transient private var prog:
      org.apache.spark.sql.streaming.ValueState[FillProgress] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      pending = getHandle.getListState[PendingDay]("gf_pending",
        org.apache.spark.sql.Encoders.product[PendingDay],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      prog = getHandle.getValueState[FillProgress]("gf_prog",
        org.apache.spark.sql.Encoders.product[FillProgress],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    /** value → DECIMAL(18,4) unscaled long (the Dsl.dsum discipline:
      * valueOf = shortest-decimal repr, HALF_UP at 4dp, exact long sum). */
    private def quant(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()

    private def flush(key: Long, watermarkMs: Long): Iterator[GapFillOut] = {
      val (fin, _) = drainFinalized(pending, getHandle, watermarkMs)(
        p => (p.dayn + 1) * 86400000000L)
      if (fin.isEmpty) return Iterator.empty
      val merged = fin.groupBy(_.dayn).toSeq.sortBy(_._1).map {
        case (dayn, ps) =>
          (dayn, ps.map(_.n).sum, ps.exists(_.hasP), ps.map(_.pvQ).sum)
      }
      var p = Option(prog.get()).getOrElse(FillProgress(Long.MinValue, 0.0, false))
      val out = Seq.newBuilder[GapFillOut]
      def ts(dayn: Long) = new java.sql.Timestamp(dayn * 86400000L)
      def carried = if (p.hasFilled) Some(p.filled) else None
      merged.foreach { case (dayn, n, hasP, pvQ) =>
        var d = if (p.nextDayn == Long.MinValue) dayn else p.nextDayn
        while (d < dayn) { // gap rows up to the observed day
          out += GapFillOut(key, ts(d), 0L, None, carried)
          d += 1
        }
        val pv = if (hasP) Some(
          java.math.BigDecimal.valueOf(pvQ, 4).doubleValue) else None
        pv.foreach(v => p = p.copy(filled = v, hasFilled = true))
        out += GapFillOut(key, ts(dayn), n, pv, carried)
        p = p.copy(nextDayn = dayn + 1)
      }
      prog.update(p)
      out.result().iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[GapFillOut] = {
      val byDay = scala.collection.mutable.Map.empty[Long, (Long, Boolean, Long)]
      rows.foreach { e =>
        val dayn = epochDay(micros(e.ts))
        val (n, hasP, pvQ) = byDay.getOrElse(dayn, (0L, false, 0L))
        val isP = e.event_type == "purchase"
        byDay(dayn) = (n + 1, hasP || isP, if (isP) pvQ + quant(e.value) else pvQ)
      }
      // drop days the watermark already finalized (finality key = the
      // day's end in µs, same as flush): a late day would otherwise rewind
      // nextDayn and re-emit the already-published gap-fill sequence
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      byDay.foreach { case (dayn, (n, hasP, pvQ)) =>
        if ((dayn + 1) * 86400000000L >= wmUs)
          pending.appendValue(PendingDay(dayn, n, hasP, pvQ))
      }
      flush(key, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[GapFillOut] =
      flush(key, timerValues.getCurrentWatermarkInMs())
  }

  def gapFillStream(events: Dataset[Event]): Dataset[GapFillOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new GapFillProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  def streaksStream(events: Dataset[Event]): Dataset[StreakOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new StreakProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** One CLOSED SCD-2 validity interval (the streaming twin of an
    * `evt_scd2_state` row with is_current = false; the open interval lives
    * in state and is never emitted — append mode emits each closed
    * interval exactly once). */
  case class Scd2Out(user_id: Long, version: Long, state: String,
      valid_from_us: Long, valid_to_us: Long, n_events: Long)

  private case class Scd2Pending(tsUs: Long, eventId: Long, etype: String)

  private case class Scd2Open(version: Long, state: String, fromUs: Long,
      n: Long)

  /** Streaming SCD-2 state-history build — the transformWithState twin of
    * `evt_scd2_state`. Event-time-robust the way the session/attribution
    * processors are: events buffer in ListState until the watermark passes
    * their timestamp, then fold into the open island in exact (ts,
    * event_id) order — so cross-batch arrival order CANNOT diverge from
    * the batch twin's global sort (the r4 attribution lesson). A state
    * change closes the open island and emits it with valid_to = the new
    * island's open edge, version numbers increment per user exactly as the
    * batch running sum does. State per user is O(watermark-delay) pending
    * events plus one 4-field open island — never the history. */
  class Scd2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, Scd2Out] {
    @transient private var pending:
      org.apache.spark.sql.streaming.ListState[Scd2Pending] = _
    @transient private var open:
      org.apache.spark.sql.streaming.ValueState[Scd2Open] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      pending = getHandle.getListState[Scd2Pending]("scd2_pending",
        org.apache.spark.sql.Encoders.product[Scd2Pending],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      open = getHandle.getValueState[Scd2Open]("scd2_open",
        org.apache.spark.sql.Encoders.product[Scd2Open],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def flush(key: Long, wmMs: Long): Iterator[Scd2Out] = {
      // an event is final only once the ms watermark is strictly past its
      // µs timestamp (the same strictness the day-grain processors use)
      val (fin, _) = drainFinalized(pending, getHandle, wmMs)(_.tsUs)
      if (fin.isEmpty) return Iterator.empty
      val out = Seq.newBuilder[Scd2Out]
      var cur = Option(open.get())
      fin.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
        cur match {
          case None =>
            cur = Some(Scd2Open(1L, e.etype, e.tsUs, 1L))
          case Some(o) if o.state == e.etype =>
            cur = Some(o.copy(n = o.n + 1))
          case Some(o) =>
            out += Scd2Out(key, o.version, o.state, o.fromUs, e.tsUs, o.n)
            cur = Some(Scd2Open(o.version + 1L, e.etype, e.tsUs, 1L))
        }
      }
      cur.foreach(open.update)
      out.result().iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Scd2Out] = {
      // drop late-beyond-watermark rows (the ThrottleProcessor guard): a
      // stale event folding into the version chain would close the open
      // version against an EARLIER timestamp and corrupt every version
      // number after it
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      rows.foreach { e =>
        val us = micros(e.ts)
        if (us >= wmUs)
          pending.appendValue(Scd2Pending(us, e.event_id, e.event_type))
      }
      flush(key, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[Scd2Out] =
      flush(key, timerValues.getCurrentWatermarkInMs())
  }

  def scd2Stream(events: Dataset[Event]): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new Scd2Processor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Current CDC winner per key (streaming twin of `stream_cdc_apply`'s
    * batch recompute): event time + id of the latest op, the op itself
    * (D tombstones RETAINED — the compaction rule evt_cdc_apply pins),
    * and its payload. */
  case class CdcCur(tsUs: Long, eventId: Long, op: String, value: Double)
  case class CdcOut(user_id: Long, cur_event_id: Long, op: String,
      value: Double, ts_us: Long)

  /** Streaming CDC apply — the keyed UPSERT state machine: every event is
    * an I/U/D op (the evt_cdc_apply mapping) and state holds only the
    * per-key WINNER by (event time, event id). The fold is a monotone MAX,
    * so it is commutative and order-insensitive: out-of-order and even
    * late-beyond-watermark rows cannot corrupt it (a stale row simply
    * loses the comparison) — which is why this processor needs NO pending
    * buffer, no timers, and no watermark-drop guard, unlike the
    * order-sensitive fold processors above. Emits the new current row on
    * every winner change (the changelog a downstream materialized view
    * consumes); state is one tuple per live key. */
  class CdcApplyProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, CdcOut] {
    @transient private var cur:
      org.apache.spark.sql.streaming.ValueState[CdcCur] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      cur = getHandle.getValueState[CdcCur]("cdc_cur",
        org.apache.spark.sql.Encoders.product[CdcCur],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CdcOut] = {
      var c = Option(cur.get())
      var changed = false
      rows.foreach { e =>
        val us = micros(e.ts)
        val newer = c.forall(o =>
          us > o.tsUs || (us == o.tsUs && e.event_id > o.eventId))
        if (newer) {
          val op = e.event_type match {
            case "error"  => "D"
            case "signup" => "I"
            case _        => "U"
          }
          c = Some(CdcCur(us, e.event_id, op, e.value))
          changed = true
        }
      }
      if (changed) {
        val w = c.get
        cur.update(w)
        Iterator.single(CdcOut(key, w.eventId, w.op, w.value, w.tsUs))
      } else Iterator.empty
    }
  }

  def cdcApplyStream(events: Dataset[Event]): Dataset[CdcOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new CdcApplyProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** One completed task rollup (the streaming twin of an
    * `evt_aggregate_task` output row; the open task lives in state and is
    * never emitted — the Logstash aggregate filter's timeout-discard). */
  case class TaskOut(user_id: Long, end_event_id: Long, n_steps: Long,
      value_sum: Double, duration_s: Long)

  /** Shared pending-buffer drain for the watermark-buffered processors:
    * pull every buffered record, finalize those strictly behind the ms
    * watermark (µs event time), re-buffer the rest and arm a timer just
    * past the earliest open record. One definition so the finality
    * strictness and timer granularity cannot drift between processors. */
  private def drainFinalized[P](
      pending: org.apache.spark.sql.streaming.ListState[P],
      handle: org.apache.spark.sql.streaming.StatefulProcessorHandle,
      wmMs: Long, dedupeOpen: Boolean = false)(tsUs: P => Long)
      : (Seq[P], Seq[P]) = {
    val b = Seq.newBuilder[P]
    val it = pending.get()
    while (it.hasNext) b += it.next()
    val evs = b.result()
    if (evs.isEmpty) return (Nil, Nil)
    val (fin, rest0) = evs.partition(e => wmMs * 1000L > tsUs(e))
    // dedupeOpen: processors whose records are VALUES (streak day
    // numbers) compact the re-buffered open set so cross-batch re-appends
    // cannot grow state; processors whose records are PARTIALS (gap-fill
    // day aggregates) must keep every entry — two identical partials are
    // two contributions.
    val rest = if (dedupeOpen) rest0.distinct else rest0
    pending.clear()
    rest.foreach(pending.appendValue)
    if (rest.nonEmpty)
      handle.registerTimer(rest.map(tsUs).min / 1000L + 1L)
    (fin, rest)
  }

  private case class TaskPending(tsUs: Long, eventId: Long, etype: String,
      value: Double)

  /** Throttle's pending record: only what its fold reads (ts + id) — a
    * full TaskPending would persist an unused string and double per
    * buffered event into the state store. */
  private case class ThrPending(tsUs: Long, eventId: Long)

  /** Open-task accumulator: step count, floor(value*10000) long sum (the
    * batch key's vq discipline), and the task's first event time in µs. */
  private case class TaskAcc(steps: Long, vq: Long, minUs: Long)

  /** Streaming task correlation — the transformWithState twin of
    * `evt_aggregate_task` [PK: Logstash aggregate filter with
    * push_map_as_event_on_timeout=false: accumulate per task, emit on the
    * end event]. The Scd2Processor discipline end to end: events buffer in
    * ListState until the watermark is strictly past their µs timestamp,
    * finalized events fold in exact (ts, event_id) order through an O(1)
    * ValueState accumulator, and each purchase emits its task's rollup
    * exactly once (append mode) and resets the accumulator. State per user
    * is ≤watermark-delay of pending events plus three longs — never the
    * task's event list, so a mega-task cannot grow state. */
  class AggregateTaskProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, TaskOut] {
    @transient private var pending:
      org.apache.spark.sql.streaming.ListState[TaskPending] = _
    @transient private var acc:
      org.apache.spark.sql.streaming.ValueState[TaskAcc] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      pending = getHandle.getListState[TaskPending]("task_pending",
        org.apache.spark.sql.Encoders.product[TaskPending],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      acc = getHandle.getValueState[TaskAcc]("task_acc",
        org.apache.spark.sql.Encoders.product[TaskAcc],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def flush(key: Long, wmMs: Long): Iterator[TaskOut] = {
      val (fin, _) = drainFinalized(pending, getHandle, wmMs)(_.tsUs)
      if (fin.isEmpty) return Iterator.empty
      val out = Seq.newBuilder[TaskOut]
      var cur = Option(acc.get())
      fin.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
        val a = cur.getOrElse(TaskAcc(0L, 0L, e.tsUs))
        if (e.etype == "purchase") {
          out += TaskOut(key, e.eventId, a.steps, a.vq / 10000.0,
            (e.tsUs - a.minUs) / 1000000L)
          cur = None
        } else {
          cur = Some(TaskAcc(a.steps + 1L,
            a.vq + math.floor(e.value * 10000).toLong, a.minUs))
        }
      }
      cur match {
        case Some(a) => acc.update(a)
        case None    => acc.clear()
      }
      out.result().iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TaskOut] = {
      // Late-beyond-watermark rows are dropped (standard watermark
      // contract): the fold below the watermark is already final, and
      // folding a stale event into the current open task would corrupt
      // the monotone (ts, event_id) order the flush relies on.
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      rows.foreach { e =>
        val us = micros(e.ts)
        if (us >= wmUs) pending.appendValue(
          TaskPending(us, e.event_id, e.event_type, e.value))
      }
      flush(key, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[TaskOut] =
      flush(key, timerValues.getCurrentWatermarkInMs())
  }

  /** One throttle-passed event (the streaming twin of an `evt_throttle`
    * output row; suppressed events are simply never emitted). */
  case class ThrottleOut(event_id: Long, user_id: Long,
      bucket: java.sql.Timestamp, n_in_window: Long)

  /** Throttle counter: current UTC day number and events passed so far. */
  private case class DayCount(dayn: Long, n: Long)

  /** Streaming rate limit — the transformWithState twin of `evt_throttle`
    * [PK: Logstash throttle filter, before_count semantics]: each user's
    * first 3 events per UTC day pass, the rest drop. The
    * AggregateTaskProcessor discipline: events buffer in ListState until
    * the watermark is strictly past their µs timestamp, then fold in
    * exact (ts, event_id) order through a 2-long (day, count) ValueState —
    * crossing a day boundary resets the counter, an event with count ≤ 3
    * emits exactly once (append mode). State per user is ≤watermark-delay
    * of pending events plus two longs — the gate itself is O(1). */
  class ThrottleProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, ThrottleOut] {
    @transient private var pending:
      org.apache.spark.sql.streaming.ListState[ThrPending] = _
    @transient private var cnt:
      org.apache.spark.sql.streaming.ValueState[DayCount] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      // _v2: the r9 ThrPending slim-down narrowed this state's schema; a
      // new name makes the checkpoint break explicit instead of failing
      // transformWithState's schema compatibility check mid-restore
      pending = getHandle.getListState[ThrPending]("thr_pending_v2",
        org.apache.spark.sql.Encoders.product[ThrPending],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      cnt = getHandle.getValueState[DayCount]("thr_cnt",
        org.apache.spark.sql.Encoders.product[DayCount],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def flush(key: Long, wmMs: Long): Iterator[ThrottleOut] = {
      val (fin, _) = drainFinalized(pending, getHandle, wmMs)(_.tsUs)
      if (fin.isEmpty) return Iterator.empty
      val out = Seq.newBuilder[ThrottleOut]
      var c = Option(cnt.get()).getOrElse(DayCount(Long.MinValue, 0L))
      fin.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
        val dayn = epochDay(e.tsUs)
        c = if (dayn != c.dayn) DayCount(dayn, 1L) else c.copy(n = c.n + 1L)
        if (c.n <= 3L)
          out += ThrottleOut(e.eventId, key,
            new java.sql.Timestamp(dayn * 86400000L), c.n)
      }
      cnt.update(c)
      out.result().iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ThrottleOut] = {
      // Drop late-beyond-watermark rows (see AggregateTaskProcessor): a
      // late event from an earlier day would reset DayCount backward and
      // let an already-finalized day emit extra (>3) rows.
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      rows.foreach { e =>
        val us = micros(e.ts)
        if (us >= wmUs) pending.appendValue(ThrPending(us, e.event_id))
      }
      flush(key, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[ThrottleOut] =
      flush(key, timerValues.getCurrentWatermarkInMs())
  }

  def throttleStream(events: Dataset[Event]): Dataset[ThrottleOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new ThrottleProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  def aggregateTaskStream(events: Dataset[Event]): Dataset[TaskOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new AggregateTaskProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  def wauSketchStream(events: Dataset[Event], p: Int = 12): Dataset[WauEstimate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(explode(expr("sequence(date_trunc('DAY', ts), " +
        "date_trunc('DAY', ts) + INTERVAL 6 DAYS, INTERVAL 1 DAY)")).as("g"),
        col("user_id"), col("ts"))
      .select(expr("cast(g as long) div 86400").as("gday"),
        col("user_id"), col("ts"))
      .as[GridEvent]
      .groupByKey(_.gday)
      .transformWithState(new WauSketchProcessor(p),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** One event mapped to its tumbling day (see [[heavyHitterStream]]). */
  case class DayEvent(dayn: Long, event_type: String, ts: java.sql.Timestamp)

  /** One finalized per-day heavy hitter (exact when |types| <= k). */
  case class HeavyHitter(day: java.sql.Timestamp, event_type: String, n: Long)

  private case class MgState(items: Seq[String], counts: Seq[Long],
      total: Long)

  /** Streaming per-day heavy hitters through a k-counter Misra-Gries
    * summary — the second re-aggregatable-sketch twin (after the WAU HLL):
    * exact per-type counts per day are unbounded state in the type
    * cardinality, while the MG summary is k counters per day key, forever.
    * MG with k counters guarantees every type with true frequency >
    * total/(k+1) survives the stream (k=9 covers the 1/10 emission
    * threshold exactly — the same k the batch MisraGries aggregate uses),
    * and each surviving counter undercounts by at most the number of
    * global decrements. When type cardinality <= k no decrement ever
    * fires, the summary is exact, and StreamingSpec pins stream == batch
    * twin under that (asserted) condition. Counter merging
    * (pairwise add, then keep top-k after a uniform subtraction) is what
    * would re-aggregate per-executor partials on a cluster. A day is final
    * once the watermark passes its end, driven by an event-time timer. */
  class MisraGriesProcessor(k: Int = 9)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, DayEvent, HeavyHitter] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[MgState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[MgState]("mg",
        org.apache.spark.sql.Encoders.product[MgState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[DayEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[HeavyHitter] = {
      val s0 = Option(st.get()).getOrElse(MgState(Nil, Nil, 0L))
      val m = scala.collection.mutable.LinkedHashMap(
        s0.items.zip(s0.counts): _*)
      var total = s0.total
      rows.foreach { e =>
        total += 1
        m.get(e.event_type) match {
          case Some(c) => m(e.event_type) = c + 1
          case None if m.size < k => m(e.event_type) = 1L
          case None =>
            // classic MG decrement: all counters -1, drop zeros
            m.keys.toSeq.foreach { it =>
              val c = m(it) - 1
              if (c == 0) m.remove(it) else m(it) = c
            }
        }
      }
      st.update(MgState(m.keys.toSeq, m.values.toSeq, total))
      // final once the watermark passes this day's end
      getHandle.registerTimer((key + 1) * 86400000L)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[HeavyHitter] =
      Option(st.get()) match {
        case None => Iterator.empty // duplicate timer after state cleared
        case Some(s) =>
          st.clear()
          s.items.zip(s.counts).sortBy(_._1).iterator
            .collect { case (t, n) if n * 10 > s.total =>
              HeavyHitter(new java.sql.Timestamp(key * 86400000L), t, n)
            }
      }
  }

  def heavyHitterStream(events: Dataset[Event], k: Int = 9)
      : Dataset[HeavyHitter] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(expr("cast(date_trunc('DAY', ts) as long) div 86400").as("dayn"),
        col("event_type"), col("ts"))
      .as[DayEvent]
      .groupByKey(_.dayn)
      .transformWithState(new MisraGriesProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** One per-minute metrics gauge row (the streaming twin of an
    * `evt_metrics_rates` output row). */
  case class MetricsOut(event_type: String, m: Long, rate_1m: Long,
      rate_5m: Double, ewma_rate: Double)

  private case class PendingMinute(m: Long, n: Long)

  /** Tap line: the minute AFTER the last emitted one, plus the last four
    * finalized per-minute counts (t1 = most recent). O(1) per key. */
  private case class TapState(nextM: Long, t1: Long, t2: Long, t3: Long,
      t4: Long)

  /** Streaming flow-rate metrics — the transformWithState twin of
    * `evt_metrics_rates` [PK: the Logstash metrics filter as a live
    * gauge]. Per-batch partial minute counts buffer in ListState; a
    * minute finalizes once the watermark passes its end, and because
    * finalization is prefix-closed in minute order the per-type gauge
    * emits LEFT TO RIGHT exactly once: when an observed minute
    * finalizes, every grid minute since the last emitted one emits first
    * as a zero row (silent minutes pull the rates down — the batch key's
    * zero-filled-grid semantics), then the observed minute with its
    * count. After the LAST pending minute the gauge runs out for up to 4
    * more watermark-closed minutes — until every tap is zero — then goes
    * quiescent (emission == the batch grid trimmed to
    * [first-active, last-active + 4] per type; StreamingSpec pins it
    * bit-exact, the EWMA arithmetic being the same single integer
    * combination ÷ 31.0). State per type is O(watermark-delay) pending
    * partials + 5 longs — never the events, never the calendar. */
  class MetricsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Event, MetricsOut] {
    @transient private var pending:
      org.apache.spark.sql.streaming.ListState[PendingMinute] = _
    @transient private var taps:
      org.apache.spark.sql.streaming.ValueState[TapState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      pending = getHandle.getListState[PendingMinute]("mx_pending",
        org.apache.spark.sql.Encoders.product[PendingMinute],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      taps = getHandle.getValueState[TapState]("mx_taps",
        org.apache.spark.sql.Encoders.product[TapState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    /** Emit one finalized minute and shift the tap line. */
    private def emit(key: String, t: TapState, m: Long, n: Long)
        : (TapState, MetricsOut) = {
      val num16 = n * 16 + t.t1 * 8 + t.t2 * 4 + t.t3 * 2 + t.t4
      val sum5 = n + t.t1 + t.t2 + t.t3 + t.t4
      (TapState(m + 1, n, t.t1, t.t2, t.t3),
        MetricsOut(key, m, n, sum5.toDouble / 5.0, num16.toDouble / 31.0))
    }

    private def flush(key: String, watermarkMs: Long): Iterator[MetricsOut] = {
      val (fin, open) = drainFinalized(pending, getHandle, watermarkMs)(
        p => (p.m + 1) * 60000000L)
      var t = Option(taps.get()).getOrElse(TapState(Long.MinValue, 0L, 0L, 0L, 0L))
      val out = Seq.newBuilder[MetricsOut]
      fin.groupBy(_.m).toSeq.sortBy(_._1).foreach { case (m, ps) =>
        var g = if (t.nextM == Long.MinValue) m else t.nextM
        while (g < m) { // zero rows for the silent minutes in between
          val (t2, row) = emit(key, t, g, 0L); t = t2; out += row; g += 1
        }
        val (t2, row) = emit(key, t, m, ps.map(_.n).sum); t = t2; out += row
      }
      // run-out: with no pending minutes left, drain the decay tail over
      // minutes the watermark has already closed; stop when quiet. If
      // momentum remains but the watermark hasn't reached it yet, a timer
      // picks the drain back up (or new data does).
      if (open.isEmpty && t.nextM != Long.MinValue) {
        while ((t.t1 | t.t2 | t.t3 | t.t4) != 0L &&
            watermarkMs > (t.nextM + 1) * 60000L) {
          val (t2, row) = emit(key, t, t.nextM, 0L); t = t2; out += row
        }
        if ((t.t1 | t.t2 | t.t3 | t.t4) != 0L)
          getHandle.registerTimer((t.nextM + 1) * 60000L + 1L)
      }
      taps.update(t)
      out.result().iterator
    }

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[MetricsOut] = {
      val byMin = scala.collection.mutable.Map.empty[Long, Long]
      rows.foreach { e =>
        val m = epochMinute(micros(e.ts))
        byMin(m) = byMin.getOrElse(m, 0L) + 1L
      }
      // drop minutes the watermark already finalized (finality key = the
      // minute's end in µs, same as flush): a late minute would rewind
      // the tap line and re-emit closed minutes
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      byMin.foreach { case (m, n) =>
        if ((m + 1) * 60000000L >= wmUs) pending.appendValue(PendingMinute(m, n))
      }
      flush(key, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[MetricsOut] =
      flush(key, timerValues.getCurrentWatermarkInMs())
  }

  def metricsStream(events: Dataset[Event]): Dataset[MetricsOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.event_type)
      .transformWithState(new MetricsProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }
}
