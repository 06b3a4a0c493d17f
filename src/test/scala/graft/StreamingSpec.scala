package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Alert, Event}

/** SURVEY §2.J strategy: every streaming op's final state must equal its
  * batch twin on the same events (stream ≡ batch). Events are fed through
  * MemoryStream; results read from the memory sink after
  * processAllAvailable() (final state only, SURVEY §7.4.6). */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private lazy val batchEvents: DataFrame =
    T(spark, sf001, "events").select($"event_id", $"ts", $"user_id",
      $"event_type", $"value")

  private lazy val typedEvents: Seq[Event] =
    batchEvents.as[Event].collect().toSeq.sortBy(_.event_id)

  /** Runs a streaming transform over the events fed in `chunks` batches and
    * returns the final memory-sink table. */
  private def runStream(name: String, chunks: Int, complete: Boolean = true)(
      build: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = build(mem.toDF())
      .writeStream
      .outputMode(if (complete) "complete" else "append")
      .format("memory").queryName(name)
      .start()
    val size = math.max(1, typedEvents.size / chunks)
    typedEvents.grouped(size).foreach(mem.addData(_))
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("stream tumbling agg == batch tumbling agg (3 batches)") {
    val got = runStream("t_tumb", 3)(df => StreamOps.tumblingAgg(df))
      .orderBy($"bucket", $"event_type").collect()
    val want = SparkEntry.queries("evt_tumbling_window_batch")(spark, sf001).collect()
    assert(got.toSeq == want.toSeq)
  }

  test("stream sliding agg == batch sliding agg (3 batches)") {
    val got = runStream("t_slide", 3)(df => StreamOps.slidingAgg(df))
      .orderBy($"wstart", $"event_type").collect()
    val want = SparkEntry.queries("stream_sliding_agg")(spark, sf001).collect()
    assert(got.toSeq == want.toSeq)
  }

  test("flow config compiles streaming too: stream == batch for the shared spec") {
    // ONE JSON spec (FlowOps.streamAggSpec) drives both sides: here it
    // compiles onto a MemoryStream as a Structured Streaming pipeline; the
    // registered flow_compiled_stream_agg key compiles the same spec onto
    // the batch frame (where watermark is Spark's own no-op).
    val got = runStream("t_flow_stream", 3)(df =>
      graft.flow.Flow.compileOn(spark, sf001, df,
        graft.operators.FlowOps.streamAggSpec))
      .orderBy($"bucket").collect()
    val want = SparkEntry.queries("flow_compiled_stream_agg")(spark, sf001)
      .collect()
    assert(want.nonEmpty)
    assert(got.toSeq == want.toSeq)
  }

  test("stream dq monitor == batch twin (3 batches)") {
    val got = runStream("t_dqm", 3)(df => graft.operators.DqOps.dqMonitorStream(df))
      .orderBy($"bucket").collect()
    val want = SparkEntry.queries("stream_dq_monitor")(spark, sf001).collect()
    assert(got.toSeq == want.toSeq)
  }

  test("stream session window == batch sessionize (3 batches)") {
    val got = runStream("t_sess", 3)(df => StreamOps.sessionAgg(df))
      .groupBy($"user_id").agg(
        count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
      .orderBy($"user_id").collect()
    val want = SparkEntry.queries("evt_sessionize_batch")(spark, sf001)
      .groupBy($"user_id").agg(
        count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
      .orderBy($"user_id").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("streaming DAU == batch DAU (3 batches)") {
    val got = runStream("t_dau", 3)(df => StreamOps.dailyActiveUsers(df))
      .select($"day", $"dau").orderBy($"day").collect()
    val want = SparkEntry.queries("evt_active_users")(spark, sf001)
      .select($"day", $"dau").orderBy($"day").collect()
    assert(got.toSeq == want.toSeq)
  }

  // SURVEY §7.4.5 boundary pin: at a gap of EXACTLY 30:00.000 Spark's
  // session_window still MERGES (measured here — its close condition is
  // next > prev + gap, not the half-open [start, start+gap) the survey
  // hypothesized), which matches the batch rule "split only on gap > 30min"
  // exactly. stream ≡ batch therefore holds at the knife-edge too.
  test("session boundary at exactly 30min: batch and session_window both keep") {
    val base = 1704067200000L
    def ev(id: Long, sec: Long) =
      Event(id, new java.sql.Timestamp(base + sec * 1000L), 5L, "click", 1.0)
    val three = Seq(ev(1, 0), ev(2, 1800), ev(3, 3600))
    // batch rule: gaps == 1800.0 keep the session open -> 1 session
    val batchDf = three.toDF()
      .withColumn("prev_ts", lag($"ts", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
          .orderBy($"ts", $"event_id")))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          $"ts".cast("double") - $"prev_ts".cast("double") > 1800.0, 1L).otherwise(0L))
    assert(batchDf.agg(sum($"new_session")).head().getLong(0) == 1L)
    // streaming session_window merges events landing exactly at prev+gap
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.sessionAgg(mem.toDF()).writeStream
      .outputMode("complete").format("memory").queryName("t_boundary").start()
    mem.addData(three)
    q.processAllAvailable()
    q.stop()
    assert(spark.table("t_boundary").count() == 1L)
  }

  test("stream dedup drops exact replays (at-least-once -> exactly-once)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.dedup(mem.toDF()).writeStream
      .outputMode("append").format("memory").queryName("t_dedup").start()
    val sample = typedEvents.take(200)
    mem.addData(sample)
    mem.addData(sample) // replay the whole gate buffer
    q.processAllAvailable()
    q.stop()
    assert(spark.table("t_dedup").count() == 200)
  }

  test("stateful alert machine == batch twin (single batch)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.statefulAlert(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_alert").start()
    mem.addData(typedEvents)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_alert").as[Alert].collect()
      .map(a => (a.user_id, a.event_id)).sorted.toSeq
    val want = SparkEntry.queries("stream_stateful_alert")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want)
    assert(want.nonEmpty, "fixture should produce at least one alert")
  }

  test("stateful alert run persists across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // 2024-01-01 UTC
    def ev(id: Long, minute: Long, typ: String) =
      Event(id, new java.sql.Timestamp(base + minute * 60000L), 7L, typ, 1.0)
    val mem = MemoryStream[Event]
    val q = StreamOps.statefulAlert(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_alert2").start()
    mem.addData(Seq(ev(1, 0, "error"), ev(2, 1, "error")))
    q.processAllAvailable()
    mem.addData(Seq(ev(3, 2, "error"), ev(4, 3, "view"), ev(5, 4, "error")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_alert2").as[Alert].collect().map(_.event_id).sorted
    assert(got.toSeq == Seq(3L)) // run of 3 completes across the batch seam
  }

  test("transformWithState CEP pattern machine == batch twin") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val q = StreamOps.patternAlertTws(mem.toDS()).writeStream
        .outputMode("append").format("memory").queryName("t_cep").start()
      // feed in thirds so pattern windows straddle micro-batch seams
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      q.stop()
      val got = spark.table("t_cep").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = SparkEntry.queries("stream_pattern_alert")(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(want.nonEmpty, "fixture should produce at least one CEP hit")
      assert(got == want)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState WITHIN-bounded CEP machine == batch twin") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val q = StreamOps.patternWithinTws(mem.toDS()).writeStream
        .outputMode("append").format("memory").queryName("t_cepw").start()
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      q.stop()
      val got = spark.table("t_cepw").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = SparkEntry.queries("stream_pattern_within")(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val unbounded = SparkEntry.queries("stream_pattern_alert")(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(want.nonEmpty, "the 24h bound should still fire on the fixture")
      assert(want.size < unbounded.size, "the 24h bound should exclude hits")
      assert(got == want)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState MEASURES span machine == batch twin") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val q = StreamOps.patternSpanTws(mem.toDS()).writeStream
        .outputMode("append").format("memory").queryName("t_cepm").start()
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      q.stop()
      val got = spark.table("t_cepm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      val want = SparkEntry.queries("stream_pattern_measures")(spark, sf001)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      assert(want.nonEmpty, "fixture should produce at least one span")
      assert(got == want)
      // the span payload pairs 1:1 with the boolean-alert machine's hits
      val alerts = SparkEntry.queries("stream_pattern_alert")(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(want.map(s => (s._1, s._3)) == alerts)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState quantified-pattern machine == batch twin") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val q = StreamOps.patternQuantifiedTws(mem.toDS()).writeStream
        .outputMode("append").format("memory").queryName("t_cepq").start()
      // feed in thirds so expansion windows straddle micro-batch seams
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      q.stop()
      val got = spark.table("t_cepq").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = SparkEntry.queries("stream_pattern_quantified")(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(want.nonEmpty, "fixture should produce at least one hit")
      assert(got == want)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState quantified-WITHIN machine == batch twin") {
    // The composed machine over the REAL events fixture (the kill/restart
    // seam is pinned separately in StreamPipelineSpec): expansion windows
    // AND their per-length spans must agree with the lag-window twin
    // across micro-batch seams.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val q = StreamOps.patternQuantifiedWithinTws(mem.toDS()).writeStream
        .outputMode("append").format("memory").queryName("t_cepqw").start()
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      q.stop()
      val got = spark.table("t_cepqw").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = SparkEntry.queries("stream_pattern_quantified_within")(
          spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(want.nonEmpty, "fixture should produce at least one hit")
      assert(got == want)
      // composition sanity: the bound can only REMOVE hits relative to
      // the unbounded quantified machine, never add them
      val unbounded = SparkEntry.queries("stream_pattern_quantified")(
          spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.toSet.subsetOf(unbounded))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState permute-pattern machine == batch twin") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val q = StreamOps.patternPermuteTws(mem.toDS()).writeStream
        .outputMode("append").format("memory").queryName("t_cepp").start()
      // feed in thirds so any-order windows straddle micro-batch seams
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      q.stop()
      val got = spark.table("t_cepp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = SparkEntry.queries("stream_pattern_permute")(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(want.nonEmpty, "fixture should produce at least one hit")
      assert(got == want)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("WITHIN bound excludes a too-slow pattern across a micro-batch seam") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val base = 1704067200000L
      def ev(id: Long, minute: Long, typ: String) =
        Event(id, new java.sql.Timestamp(base + minute * 60000L), 9L, typ, 1.0)
      val mem = MemoryStream[Event]
      // 30-minute window: the fast chain fits, the slow one must not fire
      val q = StreamOps.patternWithinTws(mem.toDS(), withinUs = 30L * 60000000L)
        .writeStream
        .outputMode("append").format("memory").queryName("t_cepw2").start()
      mem.addData(Seq(ev(1, 0, "view"), ev(2, 5, "click")))
      q.processAllAvailable()
      // completes at minute 10 (span 10 min <= 30) → fires across the seam
      mem.addData(Seq(ev(3, 10, "purchase")))
      q.processAllAvailable()
      // a second chain whose span (31+ min) exceeds the bound
      mem.addData(Seq(ev(4, 100, "view"), ev(5, 110, "click")))
      q.processAllAvailable()
      mem.addData(Seq(ev(6, 140, "purchase"))) // span 40 min > 30
      q.processAllAvailable()
      q.stop()
      val got = spark.table("t_cepw2").collect().map(_.getLong(1)).sorted
      assert(got.toSeq == Seq(3L),
        "only the within-bound chain may fire; the slow chain must not")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("CEP pattern completes across a micro-batch seam") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val base = 1704067200000L
      def ev(id: Long, minute: Long, typ: String) =
        Event(id, new java.sql.Timestamp(base + minute * 60000L), 9L, typ, 1.0)
      val mem = MemoryStream[Event]
      val q = StreamOps.patternAlertTws(mem.toDS()).writeStream
        .outputMode("append").format("memory").queryName("t_cep2").start()
      mem.addData(Seq(ev(1, 0, "view"), ev(2, 1, "click")))
      q.processAllAvailable()
      mem.addData(Seq(ev(3, 2, "purchase"), ev(4, 3, "purchase")))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("t_cep2").collect().map(_.getLong(1)).sorted
      // view>click>purchase completes at id 3 across the seam; the second
      // purchase does not re-fire (the window has slid past the click)
      assert(got.toSeq == Seq(3L))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState attribution == batch twin incl. late cross-batch touch") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Event]
      val q = StreamOps.attributionTws(mem.toDS()).writeStream
        .outputMode("append").format("memory").queryName("t_attr").start()
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      // The failure mode the buffered design exists for: a touch whose ts
      // PRECEDES an already-arrived purchase lands a micro-batch LATER
      // (within the 10-min watermark). An eager machine would credit the
      // purchase '(none)' the moment it arrives; the event-time machine
      // must hold it until the watermark passes and credit 'click'.
      val t0 = typedEvents.map(e => StreamOps.micros(e.ts)).max / 1000L
      def syn(id: Long, offMin: Long, typ: String, v: Double) = Event(id,
        new java.sql.Timestamp(t0 + offMin * 60000L), 777777L, typ, v)
      mem.addData(Seq(syn(600002L, 5, "purchase", 9.0)))
      q.processAllAvailable()
      mem.addData(Seq(syn(600001L, 1, "click", 1.0))) // earlier ts, later batch
      q.processAllAvailable()
      // Event-time finalization needs the watermark pushed past every real
      // event; two far-future sentinel batches (watermark from batch N
      // applies in batch N+1).
      val far = t0 + 7L * 24 * 3600 * 1000
      mem.addData(Seq(Event(999901L, new java.sql.Timestamp(far), 999999L, "view", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(999902L, new java.sql.Timestamp(far + 1000L), 999999L, "view", 0.0)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("t_attr").filter($"user_id" =!= 999999L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      // batch twin: evt_attribution's per-purchase window formulation over
      // the fixture PLUS the synthetic late-touch pair
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Long.MinValue, -1)
      val want = batchEvents
        .unionByName(Seq(syn(600001L, 1, "click", 1.0),
          syn(600002L, 5, "purchase", 9.0)).toDF()
          .select($"event_id", $"ts", $"user_id", $"event_type", $"value"))
        .withColumn("channel", coalesce(
          last(when($"event_type" =!= "purchase", $"event_type"),
            ignoreNulls = true).over(w), lit("(none)")))
        .filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"channel", $"value")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got.nonEmpty && got == want)
      // the late touch must have won: purchase 600002 credited to 'click'
      assert(got.find(_._2 == 600002L).map(_._3).contains("click"))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState sessions (ListState + timers) == session_window batch") {
    // multiple state variables = multiple column families ⇒ RocksDB store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.sessionTws(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_sess_tws").start()
    try {
    typedEvents.grouped(math.max(1, typedEvents.size / 3))
      .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
    // Out-of-order ids within one session: first/last must be min/max of
    // event_id, not positional order by time (the fixture is ts-monotone,
    // so this synthetic user is what actually exercises the rule).
    val t0 = typedEvents.map(e => StreamOps.micros(e.ts)).max
    def syn(id: Long, offsetMin: Long) = Event(id,
      new java.sql.Timestamp(t0 / 1000L + offsetMin * 60000L), 888888L, "view", 1.0)
    mem.addData(Seq(syn(500002L, 1), syn(500001L, 6))) // later ts, smaller id
    q.processAllAvailable()
    // Event-time timers only fire once the watermark passes the last open
    // session's close; push it with two far-future sentinel batches (the
    // watermark computed from batch N applies in batch N+1).
    val far = typedEvents.map(e => StreamOps.micros(e.ts)).max / 1000L +
      7L * 24 * 3600 * 1000
    mem.addData(Seq(Event(999901L, new java.sql.Timestamp(far), 999999L, "view", 0.0)))
    q.processAllAvailable()
    mem.addData(Seq(Event(999902L, new java.sql.Timestamp(far + 1000L), 999999L, "view", 0.0)))
    q.processAllAvailable()
    val synRow = spark.table("t_sess_tws").filter($"user_id" === 888888L)
      .select($"n_events", $"first_event_id", $"last_event_id")
      .collect().toSeq
    assert(synRow.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((2L, 500001L, 500002L)),
      s"out-of-order ids must report min/max: $synRow")
    val got = spark.table("t_sess_tws")
      .filter($"user_id" =!= 999999L && $"user_id" =!= 888888L)
      .select($"user_id", $"n_events", $"first_event_id", $"last_event_id",
        $"session_value")
      .orderBy($"user_id", $"first_event_id").collect().toSeq
    val want = SparkEntry.queries("stream_session_window")(spark, sf001)
      .select($"user_id", $"n_events", $"first_event_id", $"last_event_id",
        $"session_value")
      .orderBy($"user_id", $"first_event_id").collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
    } finally {
      // stop in finally: a failed processAllAvailable must not leak a
      // running RocksDB-backed query into later tests
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming gap-fill (transformWithState) == evt_gap_fill batch, bit-exact") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.gapFillStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_gapfill").start()
    try {
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      val far = typedEvents.map(e => StreamOps.micros(e.ts)).max / 1000L +
        30L * 24 * 3600 * 1000
      mem.addData(Seq(Event(999901L, new java.sql.Timestamp(far), 999999L, "view", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(999902L, new java.sql.Timestamp(far + 1000L), 999999L, "view", 0.0)))
      q.processAllAvailable()
      def norm(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getTimestamp(1),
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))
      // every grid row emits exactly once; bit-exact incl. the decimal
      // purchase sums and the carried filled_value
      val got = spark.table("t_gapfill").filter($"user_id" =!= 999999L)
        .select($"user_id", $"day", $"n_events", $"purchase_value", $"filled_value")
        .collect().map(norm).sortBy(t => (t._1, t._2.getTime)).toSeq
      val want = SparkEntry.queries("evt_gap_fill")(spark, sf001)
        .collect().map(norm).sortBy(t => (t._1, t._2.getTime)).toSeq
      assert(got.nonEmpty && got == want)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming CDC apply (transformWithState) final state == batch recompute") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.cdcApplyStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_cdc").start()
    try {
      // deliver OUT OF ORDER (reverse event order, 3 chunks): the monotone
      // max fold must converge to the same winners regardless
      typedEvents.reverse.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      // last emission per key IS the current state (changelog contract)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts_us".desc, $"cur_event_id".desc)
      val got = spark.table("t_cdc")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"user_id", $"cur_event_id", $"op", $"value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).sortBy(_._1).toSeq
      val want = SparkEntry.queries("stream_cdc_apply")(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).toSeq
      assert(got.nonEmpty && got == want)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-static broadcast enrichment == batch twin (3 batches)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val dim = T(spark, sf001, "nation")
    val q = StreamOps.enrichWithDim(mem.toDF(), dim).writeStream
      .outputMode("append").format("memory").queryName("t_enrich").start()
    try {
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      val got = spark.table("t_enrich")
        .orderBy($"event_id").collect().toSeq
      val want = SparkEntry.queries("stream_static_enrich")(spark, sf001)
        .collect().toSeq
      assert(got.nonEmpty && got == want)
    } finally q.stop()
  }

  test("streaming SCD-2 (transformWithState) closed intervals == stream_scd2 batch") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.scd2Stream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_scd2").start()
    try {
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      // push the watermark far past the fixture so every closable
      // interval closes (the per-user OPEN interval stays in state)
      val far = typedEvents.map(e => StreamOps.micros(e.ts)).max / 1000L +
        30L * 24 * 3600 * 1000
      mem.addData(Seq(Event(999901L, new java.sql.Timestamp(far), 999999L, "view", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(999902L, new java.sql.Timestamp(far + 1000L), 999999L, "view", 0.0)))
      q.processAllAvailable()
      def norm(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))
      // each closed interval emits exactly once, in the batch twin's exact
      // (version, state, bounds, count) shape
      val got = spark.table("t_scd2").filter($"user_id" =!= 999999L)
        .select($"user_id", $"version", $"state", $"valid_from_us",
          $"valid_to_us", $"n_events")
        .collect().map(norm).sortBy(t => (t._1, t._2)).toSeq
      val want = SparkEntry.queries("stream_scd2")(spark, sf001)
        .collect().map(norm).sortBy(t => (t._1, t._2)).toSeq
      assert(got.nonEmpty && got == want)
      // a late-beyond-watermark event must be DROPPED, not folded into the
      // version chain (it would close the open interval against an earlier
      // timestamp and corrupt every version number after it)
      val victim = typedEvents.head
      mem.addData(Seq(Event(888801L, victim.ts, victim.user_id, "error", 0.0)))
      q.processAllAvailable()
      val after = spark.table("t_scd2").filter($"user_id" =!= 999999L)
        .collect().map(norm).sortBy(t => (t._1, t._2)).toSeq
      assert(after == got, "late event mutated the closed-interval history")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming task aggregate (transformWithState) == stream_aggregate_task batch") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.aggregateTaskStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_task").start()
    try {
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      // push the watermark past the fixture so every purchase-closed task
      // emits (the per-user OPEN task stays in state — never emitted)
      val far = typedEvents.map(e => StreamOps.micros(e.ts)).max / 1000L +
        30L * 24 * 3600 * 1000
      mem.addData(Seq(Event(999901L, new java.sql.Timestamp(far), 999999L, "view", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(999902L, new java.sql.Timestamp(far + 1000L), 999999L, "view", 0.0)))
      q.processAllAvailable()
      def norm(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getLong(4))
      val got = spark.table("t_task").filter($"user_id" =!= 999999L)
        .select($"user_id", $"end_event_id", $"n_steps", $"value_sum",
          $"duration_s")
        .collect().map(norm).sortBy(t => (t._1, t._2)).toSeq
      val want = SparkEntry.queries("stream_aggregate_task")(spark, sf001)
        .collect().map(norm).sortBy(t => (t._1, t._2)).toSeq
      assert(got.nonEmpty && got == want)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("routesOn fans a live stream into per-branch sinks == batch filters") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val spec =
      """{"steps":[
        |{"op":"filter","where":"value > 0"},
        |{"op":"route","branches":[
        | {"name":"purchases","when":"event_type = 'purchase'"},
        | {"name":"errors","when":"event_type = 'error'"}],
        |"otherwise":[]}
        |]}""".stripMargin
    val branches = graft.flow.Flow.routesOn(spark, sf001, mem.toDF(), spec)
    assert(branches.map(_._1) == Seq("purchases", "errors", "otherwise"))
    val queries = branches.map { case (n, df) =>
      df.writeStream.outputMode("append").format("memory")
        .queryName(s"t_rt_$n").start()
    }
    try {
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk)
          queries.foreach(_.processAllAvailable()) }
      val ev = T(spark, sf001, "events").filter("value > 0")
      assert(spark.table("t_rt_purchases").count() ==
        ev.filter("event_type = 'purchase'").count())
      assert(spark.table("t_rt_errors").count() ==
        ev.filter("event_type = 'error'").count())
      // first-match-wins remainder: everything else, exactly once
      assert(spark.table("t_rt_otherwise").count() ==
        ev.filter("event_type NOT IN ('purchase', 'error')").count())
      assert(spark.table("t_rt_purchases").count() > 0)
    } finally queries.foreach(_.stop())
  }

  test("streaming throttle (transformWithState) == stream_throttle batch") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.throttleStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_thr").start()
    try {
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      val far = typedEvents.map(e => StreamOps.micros(e.ts)).max / 1000L +
        30L * 24 * 3600 * 1000
      mem.addData(Seq(Event(999901L, new java.sql.Timestamp(far), 999999L, "view", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(999902L, new java.sql.Timestamp(far + 1000L), 999999L, "view", 0.0)))
      q.processAllAvailable()
      def norm(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime, r.getLong(3))
      val got = spark.table("t_thr").filter($"user_id" =!= 999999L)
        .select($"event_id", $"user_id", $"bucket", $"n_in_window")
        .collect().map(norm).sortBy(_._1).toSeq
      val want = SparkEntry.queries("stream_throttle")(spark, sf001)
        .collect().map(norm).sortBy(_._1).toSeq
      assert(got.nonEmpty && got == want)
      // late-beyond-watermark row: the watermark now sits ~30 days past
      // the corpus; an event from the original range must be DROPPED,
      // not folded backward into an already-finalized day (which would
      // reset DayCount and let a closed day emit a 4th row)
      val victim = typedEvents.head
      mem.addData(Seq(Event(888801L, victim.ts, victim.user_id, "view", 0.0)))
      q.processAllAvailable()
      assert(spark.table("t_thr").filter($"event_id" === 888801L).isEmpty)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming streaks (transformWithState) final state == evt_streaks batch") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.streaksStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_streaks").start()
    try {
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      // push the watermark past every fixture day's end
      val far = typedEvents.map(e => StreamOps.micros(e.ts)).max / 1000L +
        30L * 24 * 3600 * 1000
      mem.addData(Seq(Event(999901L, new java.sql.Timestamp(far), 999999L, "view", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(999902L, new java.sql.Timestamp(far + 1000L), 999999L, "view", 0.0)))
      q.processAllAvailable()
      // running aggregates re-emit as days finalize: the LAST emission per
      // user (max upto_dayn) is the final state
      val got = spark.table("t_streaks").filter($"user_id" =!= 999999L)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"user_id").orderBy($"upto_dayn".desc)))
        .filter($"rn" === 1)
        .select($"user_id", $"active_days", $"longest_streak", $"n_streaks")
        .orderBy($"user_id").collect().toSeq
      val want = SparkEntry.queries("evt_streaks")(spark, sf001)
        .orderBy($"user_id").collect().toSeq
      assert(got.nonEmpty && got == want)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming Misra-Gries heavy hitters == exact batch twin (3 batches)") {
    // fixture precondition for MG exactness: type cardinality <= k (no
    // decrement ever fires) — asserted, not assumed
    val nTypes = batchEvents.select($"event_type").distinct().count()
    assert(nTypes <= 9, s"fixture has $nTypes event types; MG k=9 pin invalid")
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.heavyHitterStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_mg_hh").start()
    try {
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      // push the watermark past every fixture day's end
      val far = typedEvents.map(e => StreamOps.micros(e.ts)).max / 1000L +
        30L * 24 * 3600 * 1000
      mem.addData(Seq(Event(999901L, new java.sql.Timestamp(far), 999999L, "view", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(999902L, new java.sql.Timestamp(far + 1000L), 999999L, "view", 0.0)))
      q.processAllAvailable()
      // the two watermark-push sentinel events land on a post-corpus day
      // whose own window may finalize too — restrict to the batch grid
      val got = spark.table("t_mg_hh")
        .orderBy($"day", $"event_type")
        .collect().toSeq
      val want = SparkEntry.queries("stream_heavy_hitters")(spark, sf001)
        .collect().toSeq
      val wantDays = want.map(_.getTimestamp(0)).toSet
      assert(want.nonEmpty)
      assert(got.filter(r => wantDays(r.getTimestamp(0))) == want)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming WAU sketch == exact batch WAU within HLL tolerance") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.wauSketchStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_wau_sk").start()
    try {
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      // push the watermark past every fixture grid day's end (+6d horizon)
      val far = typedEvents.map(e => StreamOps.micros(e.ts)).max / 1000L +
        30L * 24 * 3600 * 1000
      mem.addData(Seq(Event(999901L, new java.sql.Timestamp(far), 999999L, "view", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(999902L, new java.sql.Timestamp(far + 1000L), 999999L, "view", 0.0)))
      q.processAllAvailable()
      val got = spark.table("t_wau_sk")
        .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      // exact batch WAU (the equi-join key), on the observed-day grid; the
      // stream also emits trailing estimates for post-corpus horizon days,
      // which the batch key's observed-day semi-join excludes — compare on
      // the batch grid
      val want = SparkEntry.queries("evt_active_users")(spark, sf001)
        .select($"day", $"wau")
        .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toSeq
      assert(want.nonEmpty)
      want.foreach { case (day, exact) =>
        val est = got.getOrElse(day, fail(s"no streaming estimate for $day"))
        assert(math.abs(est - exact).toDouble / exact <= 0.1,
          s"day $day: sketch $est vs exact $exact drifts past 10%")
      }
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming near-dedup (transformWithState) == batch band twin incl. out-of-order") {
    // ListState + 2 ValueStates per key = multiple column families ⇒ RocksDB
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    // Ingest contract: ts monotone in doc_id (arrival-ordered ids), 1s apart
    val docs = T(spark, sf001, "documents").select($"doc_id", $"text").collect()
      .map(r => StreamOps.Doc(r.getLong(0), r.getString(1),
        new java.sql.Timestamp(base + r.getLong(0) * 1000L)))
      .sortBy(_.doc_id).toSeq
    val mem = MemoryStream[StreamOps.Doc]
    val q = StreamOps.nearDedupStream(mem.toDF()).writeStream
      .outputMode("append").format("memory").queryName("t_ndd").start()
    try {
      // Out-of-order delivery, bounded by the 10-min watermark: each chunk
      // arrives REVERSED (≈2.8 min of disorder inside one batch) and its 5
      // smallest-id docs are deferred a full micro-batch (cross-batch
      // stragglers that must still win their buckets as leaders).
      var deferred = Seq.empty[StreamOps.Doc]
      docs.grouped(math.max(1, docs.size / 3)).foreach { chunk =>
        val (defer, now) = chunk.splitAt(5)
        mem.addData(now.reverse ++ deferred)
        deferred = defer
        q.processAllAvailable()
      }
      if (deferred.nonEmpty) { mem.addData(deferred); q.processAllAvailable() }
      // two far-future sentinels push the watermark past every real doc
      // (the watermark computed from batch N applies in batch N+1)
      val far = base + 10L * 24 * 3600 * 1000
      mem.addData(Seq(StreamOps.Doc(9000001L, "sentinel doc alpha beta",
        new java.sql.Timestamp(far))))
      q.processAllAvailable()
      mem.addData(Seq(StreamOps.Doc(9000002L, "sentinel doc gamma delta",
        new java.sql.Timestamp(far + 1000L))))
      q.processAllAvailable()
      val got = spark.table("t_ndd").filter($"doc_id" < 9000000L)
        .select($"band", $"bkey", $"doc_id", $"leader").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      val want = SparkEntry.queries("stream_near_dedup")(spark, sf001).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      assert(want.nonEmpty, "fixture should produce near-dup hits")
      assert(got == want)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream semantic dedup == batch twin across 3 micro-batch seams") {
    // The vector twin of the near-dedup stream pin: delta embeddings
    // arrive in 3 micro-batches and are checked per batch against the
    // STATIC base generation's two-level index (foreachBatch — the
    // golden-table ingest shape, zero cross-batch state). Verdicts are
    // row-local vs the base, so the union of per-batch outputs must
    // equal the batch twin EXACTLY regardless of where the seams fall.
    implicit val sqlCtx = spark.sqlContext
    val emb = T(spark, sf001, "embeddings")
    val base = emb.filter($"vec_id" % 10 < 8)
    val deltas = emb.filter($"vec_id" % 10 >= 8)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    val mem = MemoryStream[(Long, Array[Float])]
    val out = java.nio.file.Files.createTempDirectory("ssd_out").toString
    val q = StreamOps.semanticDedupStream(
      mem.toDF().toDF("vec_id", "embedding"), base, out)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ssd_cp").toString)
      .start()
    try {
      deltas.grouped(math.max(1, deltas.size / 3)).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("batch_")).map(_.getPath)
    assert(dirs.length >= 3, s"expected >=3 batch dirs, got ${dirs.length}")
    val got = spark.read.parquet(dirs.toIndexedSeq: _*)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq
    val want = SparkEntry.queries("stream_semantic_dedup")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq
    assert(want.exists(_._2) && want.exists(!_._2),
      "fixture should produce both dups and survivors")
    assert(got == want)
  }

  test("stream semantic dedup: base REPUBLISH serves the new generation, old pins released") {
    // r17 verdict #4 — the resident index's documented production story
    // is "new base generation = republish + restart", pinned here
    // end-to-end in one JVM: (a) after the restart, verdicts reflect the
    // NEW base (the same probe flips survivor → duplicate), and (b) the
    // old generation's pinned RDDs are released on republish, so the
    // persistent-RDD registry returns to a one-index-generation count —
    // the cross-restart analogue of the per-batch leak the soaks catch.
    // The republish hook is Scale.releasePins (the graft-scoped sweep):
    // stop the stream, release, rebuild the index at stream setup.
    implicit val sqlCtx = spark.sqlContext
    graft.operators.Scale.releasePins(spark, blocking = true)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    def vec(i: Int): Array[Float] = {
      val a = Array.fill(64)(0f); a(i) = 1f; a
    }
    // the regenerated base reuses the id space (ids 0..7 — the
    // id-threshold codebook rule keys on ids, as a republished
    // generation does) but carries DIFFERENT content
    val gen1 = (0 until 8).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val gen2 = (0 until 8).map(i => (i.toLong, vec(20 + i)))
      .toDF("vec_id", "embedding")
    val probe = Seq((9000L, vec(21))) // orthogonal to gen1, copy in gen2
    def runOnce(base: org.apache.spark.sql.DataFrame, tag: String)
        : Map[Long, Boolean] = {
      val mem = MemoryStream[(Long, Array[Float])]
      val out = java.nio.file.Files.createTempDirectory(s"ssd_rp_$tag").toString
      val q = StreamOps.semanticDedupStream(
        mem.toDF().toDF("vec_id", "embedding"), base, out)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"ssd_rpcp_$tag").toString)
        .start()
      try { mem.addData(probe); q.processAllAvailable() } finally q.stop()
      val dirs = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("batch_")).map(_.getPath)
      spark.read.parquet(dirs.toIndexedSeq: _*)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    val v1 = runOnce(gen1, "g1")
    val pinsG1 = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(pinsG1.nonEmpty, "the resident index should pin RDDs")
    assert(v1(9000L) == false, "probe must survive against generation 1")
    // REPUBLISH: stop (done), release the old generation, restart on gen2
    graft.operators.Scale.releasePins(spark, blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline).isEmpty,
      "old generation's pinned RDDs must be released on republish")
    val v2 = runOnce(gen2, "g2")
    val pinsG2 = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(v2(9000L) == true,
      "probe must be flagged duplicate against generation 2")
    assert(pinsG2.size == pinsG1.size,
      s"registry footprint grew across republish: ${pinsG1.size} -> ${pinsG2.size}")
  }

  test("stream-stream interval join == batch formulation (3 batches)") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = StreamOps.clickToPurchase(clicks.toDF(), purchases.toDF())
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("t_ssj").start()
    val cs = typedEvents.filter(_.event_type == "click")
    val ps = typedEvents.filter(_.event_type == "purchase")
    (cs.grouped(math.max(1, cs.size / 3)).toSeq
      .zipAll(ps.grouped(math.max(1, ps.size / 3)).toSeq, Seq.empty, Seq.empty))
      .foreach { case (cb, pb) =>
        if (cb.nonEmpty) clicks.addData(cb)
        if (pb.nonEmpty) purchases.addData(pb)
        q.processAllAvailable()
      }
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_ssj")
      .select($"purchase_id", $"click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val e = batchEvents
    val want = e.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("pid"), $"ts".as("pts"))
      .join(e.filter($"event_type" === "click")
        .select($"user_id".as("cu"), $"event_id".as("cid"), $"ts".as("cts")),
        $"pu" === $"cu" && $"cts" < $"pts" &&
          $"cts" >= $"pts" - expr("INTERVAL 1 HOUR"))
      .select($"pid", $"cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(want.nonEmpty, "fixture should produce joined pairs")
    assert(got == want)
  }

  test("stream-stream LEFT OUTER join null-pads unmatched once watermark closes") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    def ev(id: Long, minute: Long, typ: String, user: Long = 3L) =
      Event(id, new java.sql.Timestamp(base + minute * 60000L), user, typ, 1.0)
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.clickToPurchase(clicks.toDF(), purchases.toDF(),
      joinType = "leftOuter").writeStream
      .outputMode("append").format("memory").queryName("t_ssj_lo").start()
    clicks.addData(Seq(ev(1, 0, "click")))
    purchases.addData(Seq(
      ev(10, 30, "purchase"),        // matched: click 30min before
      ev(11, 200, "purchase", 9L)))  // no click for user 9 -> null-padded
    q.processAllAvailable()
    // push the watermark far past purchase 11 + 1h so its join state closes
    clicks.addData(Seq(ev(2, 600, "click")))
    purchases.addData(Seq(ev(12, 600, "purchase", 7L)))
    q.processAllAvailable()
    clicks.addData(Seq(ev(3, 2000, "click")))
    purchases.addData(Seq(ev(13, 2000, "purchase", 8L)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_ssj_lo")
      .collect().map(r => (r.getLong(1), Option(r.get(2)))).toMap
    assert(rows(10L).contains(1L), s"matched purchase lost: $rows")
    assert(rows.contains(11L) && rows(11L).isEmpty,
      s"unmatched purchase not null-padded after watermark close: $rows")
  }

  test("late rows beyond the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    def ev(id: Long, minute: Long) =
      Event(id, new java.sql.Timestamp(base + minute * 60000L), 1L, "click", 1.0)
    val mem = MemoryStream[Event]
    val q = StreamOps.lateDataCounts(mem.toDF(), "10 minutes").writeStream
      .outputMode("append").format("memory").queryName("t_late").start()
    mem.addData(Seq(ev(1, 0), ev(2, 30), ev(3, 59)))   // hour 0 open
    q.processAllAvailable()
    mem.addData(Seq(ev(4, 200)))                        // watermark -> 190min
    q.processAllAvailable()
    mem.addData(Seq(ev(5, 20)))                         // 20min < watermark: late
    q.processAllAvailable()
    mem.addData(Seq(ev(6, 400)))                        // close hour-3 window
    q.processAllAvailable()
    q.stop()
    val hour0 = spark.table("t_late")
      .filter($"bucket" === new java.sql.Timestamp(base)).select($"n").collect()
    assert(hour0.map(_.getLong(0)).toSeq == Seq(3L),
      "late event must not be counted in the closed hour-0 window")
  }

  test("Trigger.AvailableNow backfill: bounded catch-up == batch, then terminates") {
    // The catch-up / gate-replay shape: a file-source stream started over
    // an already-populated directory drains EVERYTHING that exists in
    // bounded micro-batches (maxFilesPerTrigger throttles each one), then
    // self-terminates instead of idling — the batch-backfill half of a
    // lambda-free pipeline.
    val dir = java.nio.file.Files.createTempDirectory("graft_backfill").toString
    val e = batchEvents
    e.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = stream.groupBy($"event_type").count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("t_backfill")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000),
      "AvailableNow query must drain the backlog and self-terminate")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "maxFilesPerTrigger=1 over 4 files must take multiple micro-batches")
    val got = spark.table("t_backfill").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = e.groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"backfill $got != batch $want")
  }

  test("streaming metrics gauge (transformWithState) == evt_metrics_rates batch, bit-exact") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.metricsStream(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("t_metrics").start()
    try {
      typedEvents.grouped(math.max(1, typedEvents.size / 3))
        .foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      // sentinel on a type NOT in the fixture: advances the (global)
      // watermark so every real type's grid + decay tail finalizes,
      // without adding counts to any compared key
      val far = typedEvents.map(e => StreamOps.micros(e.ts)).max / 1000L +
        30L * 24 * 3600 * 1000
      mem.addData(Seq(Event(999901L, new java.sql.Timestamp(far), 1L,
        "zz_sentinel", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(999902L, new java.sql.Timestamp(far + 1000L), 1L,
        "zz_sentinel", 0.0)))
      q.processAllAvailable()
      // batch twin trimmed to each type's live span: the stream cannot
      // know the GLOBAL grid min (leading zeros before a type's first
      // event) and goes quiescent 4 minutes after its last activity (all
      // EWMA taps zero) — inside [first-active, min(last-active + 4,
      // grid max)] the values must agree bit-exactly (same integer taps
      // ÷ 31.0 / 5.0). The stream's decay tail can run PAST the batch
      // grid's global max (the batch grid simply ends there), so both
      // sides cap at gmax.
      val batch = SparkEntry.queries("evt_metrics_rates")(spark, sf001)
      val gmax = batch.agg(max($"m")).head().getLong(0)
      val spans = batch.filter($"rate_1m" > 0)
        .groupBy($"event_type".as("et"))
        .agg(min($"m").as("lo"), max($"m").as("hi"))
      def trim(df: org.apache.spark.sql.DataFrame) = df
        .join(spans, df("event_type") === spans("et"))
        .filter($"m" >= $"lo" && $"m" <= $"hi" + 4 && $"m" <= gmax)
        .select(df("event_type"), df("m"), df("rate_1m"), df("rate_5m"),
          df("ewma_rate"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4)))
        .sortBy(t => (t._1, t._2)).toSeq
      val got = trim(spark.table("t_metrics")
        .filter($"event_type" =!= "zz_sentinel"))
      val want = trim(batch)
      assert(got.nonEmpty && got == want,
        s"stream metrics != batch (got ${got.size} rows, want ${want.size})")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
