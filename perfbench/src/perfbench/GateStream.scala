package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.flow.Flow
import graft.streaming.{GateTopic, UpsertSink}

/** agent → gate → flow → sink. A 4-partition `GateTopic` topic is read
  * with `format("gatetopic")`, passed through the benchmark's flow spec
  * with `Flow.compileOn` and upserted latest-per-user through
  * `UpsertSink.applyBatch` in `foreachBatch`.
  *
  * Drain phase: a pre-filled backlog is consumed under
  * `Trigger.AvailableNow` (`wall_s`, the drain time). Open-loop phase: one
  * generator thread appends segment files at a fixed offered rate while
  * the query triggers every `TriggerMs` (back to back once a batch takes
  * longer); an event's latency is its due time (its `ts`) to the commit of
  * the upsert epoch that holds it. */
final class GateStream(ctx: Ctx, spark: SparkSession, rec: Option[Recorder]) {
  import GateStream._

  private val runDir = ctx.out.getParent
  private val spec = new String(Files.readAllBytes(
    ctx.root.resolve("perfbench/flows/gate_stream.json")), "UTF-8")
  private val users: Array[Long] = {
    val r = new scala.util.Random(ctx.seed)
    Array.fill(Users)(r.nextInt(1000000).toLong)
  }

  /** Event `id`: user, type and value are a pure function of (seed, id). */
  private def event(id: Long): (Long, String, Double) = {
    val r = new scala.util.Random(ctx.seed * 7919L + id)
    (users(r.nextInt(Users)), Types(r.nextInt(Types.length)), r.nextInt(100000) / 100.0)
  }

  /** Fixture: events [from, from + n) with 1 ms-spaced timestamps. */
  private def fixture(dir: String, from: Long, n: Int): Unit = {
    import spark.implicits._
    val rows = (from until from + n).map { id =>
      val (u, t, v) = event(id)
      (id, BaseUs + id * 1000L, u, t, v)
    }
    GateTopic.write(rows.toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value")),
      dir, Partitions, segmentRows = 2000)
  }

  private val compileUs = mutable.ArrayBuffer.empty[Long]
  /** batchId -> (apply start, apply end), epoch µs. */
  private val commits = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()

  private def start(tag: String, topic: String, sink: String, ckpt: String,
      trigger: Trigger): StreamingQuery = {
    spark.sparkContext.setLocalProperty(Recorder.SpanProp, s"stream:$tag")
    val src = spark.readStream.format("gatetopic").option("path", topic)
      .option("rowsPerBatch", RowsPerBatch.toLong).load()
    val c0 = Clock.us()
    val flowed = Flow.compileOn(spark, ctx.data, src, spec)
    compileUs += Clock.us() - c0
    val q = flowed.writeStream.option("checkpointLocation", ckpt).trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val a0 = Clock.us()
        UpsertSink.applyBatch(sink, id, b, Seq("user_id"), Seq("ts", "event_id"))
        commits.put(id, (a0, Clock.us()))
        ()
      }.start()
    spark.sparkContext.setLocalProperty(Recorder.SpanProp, null)
    q
  }

  /** Runs an AvailableNow query to its end within the budget. */
  private def drain(tag: String, topic: String, sink: String, ckpt: String): StreamingQuery = {
    val q = start(tag, topic, sink, ckpt, Trigger.AvailableNow())
    if (!q.awaitTermination(ctx.budgetS * 1000L)) {
      q.stop()
      throw new IllegalStateException(s"$tag: not drained within ${ctx.budgetS} s")
    }
    q
  }

  def run(): Unit = {
    graft.Preflight(spark, ctx.data)
    ctx.mark("preflight")
    val topic = runDir.resolve("topic").toString
    val sink = runDir.resolve("sink").toString
    val ckpt = runDir.resolve("ckpt").toString
    fixture(topic, 0L, Backlog)
    ctx.mark("fixture")
    // warm-up: the same pipeline over a small topic of its own
    val warm = runDir.resolve("warm")
    fixture(warm.resolve("topic").toString, WarmFrom, WarmEvents)
    drain("warm", warm.resolve("topic").toString, warm.resolve("sink").toString,
      warm.resolve("ckpt").toString)
    commits.clear()
    compileUs.clear()
    ctx.mark("warm_up")

    val d0 = Clock.us()
    ctx.put("setup_s", (d0 / 1000.0 - ctx.launchMs) / 1000.0, "s", 1)
    val q1 = drain("drain", topic, sink, ckpt)
    val drainS = (Clock.us() - d0) / 1e6
    val drained = q1.recentProgress.toSeq
    ctx.mark("drain")

    val q2 = start("open", topic, sink, ckpt, Trigger.ProcessingTime(TriggerMs))
    awaitIdle(q2)
    ctx.mark("open_idle")
    val firstId = Backlog.toLong
    // drain and open loop share the run's --seconds
    val openS = math.max(4, math.round(ctx.seconds - drainS).toInt)
    val gen = new Generator(runDir.resolve("topic"), firstId, OfferedEps, openS,
      Array.fill(Partitions)(Backlog.toLong / Partitions), event)
    gen.start()
    gen.join((openS + 30) * 1000L)
    val generated = gen.emitted
    ctx.mark("generator")
    // let the stream commit what the generator produced, within a grace period
    val graceEnd = Clock.us() + GraceS * 1000000L
    def consumed = q2.recentProgress.map(_.numInputRows).sum
    while (consumed < generated && q2.isActive && Clock.us() < graceEnd) Thread.sleep(20)
    q2.stop()
    val open = q2.recentProgress.toSeq
    q2.exception.foreach(e => ctx.problem(s"open-loop query failed: $e"))
    ctx.mark("open_stop")

    // ---- metrics (clocks stopped) ----
    val lat = latencies(open, gen)
    ctx.put("wall_s", drainS, "s", 1)
    ctx.put("latency_p50_ms", Stats.quantile(lat, 0.5), "ms", lat.size)
    ctx.put("latency_p90_ms", Stats.quantile(lat, 0.9), "ms", lat.size)
    val total = Backlog + generated
    val consumedAll = (drained ++ open).map(_.numInputRows).sum
    ctx.attempted = total
    ctx.failed = math.max(0L, total - consumedAll)
    ctx.detail("drain_eps") = Backlog / drainS
    ctx.detail("offered_eps") = OfferedEps.toDouble
    ctx.detail("generated") = generated
    ctx.detail("open_loop_events_latency_n") = lat.size
    val backlog = backlogSeries(open, gen)
    ctx.detail("backlog_first_third_max") = thirdMax(backlog, 0)
    ctx.detail("backlog_last_third_max") = thirdMax(backlog, 2)

    check(topic, sink, total, consumedAll, drained ++ open)
    ctx.mark("check")
    rec.foreach(layers(_, q1.id, drained ++ open, backlog, gen, sink, total))
  }

  /** Waits until the open-loop query has started and found nothing to do. */
  private def awaitIdle(q: StreamingQuery): Unit = {
    val end = Clock.us() + 5000000L
    while (Clock.us() < end && !(q.isActive && !q.status.isTriggerActive &&
        q.status.message.startsWith("Waiting"))) Thread.sleep(10)
  }

  /** Due time → commit time, per open-loop event, in ms. */
  private def latencies(open: Seq[StreamingQueryProgress], gen: Generator): Seq[Double] =
    open.filter(_.numInputRows > 0).flatMap { p =>
      val commitUs = Option(commits.get(p.batchId)).map(_._2).getOrElse(
        sys.error(s"batch ${p.batchId} reported progress without a commit"))
      val s = offsets(p.sources.head.startOffset)
      val e = offsets(p.sources.head.endOffset)
      e.toSeq.flatMap { case (part, end) =>
        (s.getOrElse(part, 0L) until end).map(o => (commitUs - gen.dueUs(part, o)) / 1000.0)
      }
    }

  /** (time, generated − committed) at each generator tick. */
  private def backlogSeries(open: Seq[StreamingQueryProgress], gen: Generator): Seq[(Long, Long)] = {
    val done = open.filter(_.numInputRows > 0).map(p =>
      (commits.get(p.batchId)._2, p.numInputRows)).sortBy(_._1)
    val cum = done.scanLeft((Long.MinValue, 0L)) { case ((_, c), (t, n)) => (t, c + n) }
    gen.ticks.asScala.toSeq.map { case (t, g) =>
      (t, g - cum.takeWhile(_._1 <= t).last._2)
    }
  }

  private def thirdMax(xs: Seq[(Long, Long)], k: Int): Long = {
    val n = xs.size / 3
    val part = xs.slice(k * n, if (k == 2) xs.size else (k + 1) * n)
    if (part.isEmpty) 0L else part.map(_._2).max
  }

  private def latestPerUser(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Untimed: the final upsert state equals the same flow plus
    * latest-per-user computed in batch over the topic, and every event was
    * consumed exactly once. */
  private def check(topic: String, sink: String, total: Long, consumed: Long,
      progress: Seq[StreamingQueryProgress]): Unit = {
    // one read of the topic (a task per segment file) serves every check
    val batch = GateTopic.readBatch(spark, topic).coalesce(ctx.cores).cache()
    val ids = batch.agg(count(lit(1)), countDistinct(col("event_id"))).head()
    if (ids.getLong(0) != total || ids.getLong(1) != total)
      ctx.problem(s"topic holds ${ids.getLong(0)} records / ${ids.getLong(1)} ids, expected $total")
    if (consumed != total)
      ctx.problem(s"stream consumed $consumed records, the topic holds $total")
    val lastEnd = progress.filter(_.numInputRows > 0).lastOption
      .map(p => offsets(p.sources.head.endOffset)).getOrElse(Map.empty)
    val ends = batch.groupBy(col("partition")).agg(max(col("off")) + 1).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (lastEnd != ends) ctx.problem(s"committed offsets $lastEnd != topic ends $ends")
    val want = latestPerUser(Flow.compileOn(spark, ctx.data, batch, spec))
    val got = UpsertSink.readState(spark, sink)
    val cols = want.columns.sorted.map(col).toSeq
    if (got.columns.sorted.toSeq != want.columns.sorted.toSeq)
      ctx.problem(s"sink columns ${got.columns.mkString(",")} != ${want.columns.mkString(",")}")
    else {
      val extra = got.select(cols: _*).exceptAll(want.select(cols: _*)).count()
      val missing = want.select(cols: _*).exceptAll(got.select(cols: _*)).count()
      if (extra + missing > 0)
        ctx.problem(s"sink state differs from the batch twin: $extra extra, $missing missing rows")
    }
    batch.unpersist(blocking = true)
  }

  private def layers(r: Recorder, queryId: java.util.UUID, ps: Seq[StreamingQueryProgress],
      backlog: Seq[(Long, Long)], gen: Generator, sink: String, total: Long): Unit = {
    r.drain()
    val listened = r.progress.asScala.toSeq.filter(p => p.id == queryId && p.numInputRows > 0)
    listened.foreach { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val id = s"b${p.batchId}"
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      r.span(Span("batch", id, "", t0, t0 + dur.getOrElse("triggerExecution", 0L) * 1000L,
        Map("rows" -> p.numInputRows)))
      dur.filter(_._1 != "triggerExecution").foreach { case (k, ms) =>
        r.span(Span(k, id, "batch", t0, t0 + ms * 1000L))
      }
      Option(commits.get(p.batchId)).foreach { case (a0, a1) =>
        r.span(Span("sink_apply", id, "addBatch", a0, a1))
      }
    }
    def phaseP(k: String, q: Double) = Stats.quantile(listened.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)), q)
    val n = listened.size
    ctx.put("flow.compile_ms", compileUs.sum / 1000.0 / compileUs.size.max(1), "ms", compileUs.size)
    ctx.put("streaming.batches", n, "count", n)
    ctx.put("streaming.rows_per_batch_p50", Stats.median(listened.map(_.numInputRows.toDouble)), "count", n)
    ctx.put("streaming.latest_offset_ms_p50", phaseP("latestOffset", 0.5), "ms", n)
    ctx.put("streaming.get_batch_ms_p50", phaseP("getBatch", 0.5), "ms", n)
    ctx.put("streaming.query_planning_ms_p50", phaseP("queryPlanning", 0.5), "ms", n)
    ctx.put("streaming.add_batch_ms_p50", phaseP("addBatch", 0.5), "ms", n)
    ctx.put("streaming.wal_commit_ms_p50", phaseP("walCommit", 0.5), "ms", n)
    ctx.put("streaming.trigger_ms_p50", phaseP("triggerExecution", 0.5), "ms", n)
    ctx.put("streaming.trigger_ms_p90", phaseP("triggerExecution", 0.9), "ms", n)
    val apply = ps.filter(_.numInputRows > 0).flatMap(p => Option(commits.get(p.batchId)))
      .map { case (a0, a1) => (a1 - a0) / 1000.0 }
    ctx.put("streaming.sink_apply_ms_p50", Stats.quantile(apply, 0.5), "ms", apply.size)
    ctx.put("streaming.sink_apply_ms_p90", Stats.quantile(apply, 0.9), "ms", apply.size)
    ctx.put("streaming.sink_target_rows", UpsertSink.readState(spark, sink).count().toDouble, "count", 1)
    val epochs = UpsertSink.committedEpochs(sink).map(e => dirBytes(Paths.get(sink, s"epoch=$e")))
    ctx.put("streaming.sink_epoch_bytes", epochs.lastOption.getOrElse(0L).toDouble, "bytes", 1)
    ctx.put("streaming.sink_bytes_per_event", epochs.sum.toDouble / total.max(1L), "bytes", total)
    ctx.put("streaming.backlog_events_max", backlog.map(_._2).maxOption.getOrElse(0L).toDouble,
      "count", backlog.size)
    ctx.put("streaming.generator_late_ms_max", gen.lateUsMax / 1000.0, "ms", gen.ticks.size)

    val triggerUs = listened.map(p => p.durationMs.get("triggerExecution").longValue * 1000L).sum
    Exec.put(ctx, r.stagesWhere(s => s == "stream:drain" || s == "stream:open"),
      r.jobsWhere(s => s == "stream:drain" || s == "stream:open"), triggerUs, n)
    TableOpen.probe(ctx, spark, r)
    Layers.notExercised(ctx, Layers.operators ++ Layers.planning :+ ("trace.span_coverage_min" -> "ratio"))
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}

object GateStream {
  val Partitions = 4
  val Users = 500
  val Types: Array[String] = Array("click", "view", "purchase", "error", "signup", "heartbeat")
  /** Pre-filled backlog for the drain phase, and the admission bound. */
  val Backlog = 20000
  val RowsPerBatch = 4000
  val WarmFrom = 1000000000L
  val WarmEvents = 4000
  /** Open-loop offered rate, events/s: about half the drain rate measured
    * at the commit that introduced this benchmark (4 local cores). */
  val OfferedEps = 2500
  val TriggerMs = 1000L
  val GraceS = 20
  val BaseUs = 1767225600000000L // 2026-01-01T00:00:00Z

  /** `{"0":12,"1":40}` → partition → offset. */
  def offsets(json: String): Map[Int, Long] =
    if (json == null) Map.empty
    else "\"(\\d+)\":(\\d+)".r.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
}

/** Appends one segment file per partition per tick, in the topic layout
  * (`p=N/<20-digit base offset>.log`, one tab-separated record per line),
  * written aside and renamed into place so a reader never sees a partial
  * segment. Event `i` is due at `start + i / rate`; its `ts` is that due
  * time. */
final class Generator(topic: java.nio.file.Path, firstId: Long, rate: Int,
    seconds: Int, nextOff: Array[Long],
    event: Long => (Long, String, Double)) extends Thread("perfbench-generator") {
  setDaemon(true)
  private val parts = nextOff.length
  private val base = nextOff.clone()
  private val dues = Array.fill(parts)(mutable.ArrayBuffer.empty[Long])
  /** (time, events emitted so far) after each tick. */
  val ticks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var emitted = 0L
  @volatile var lateUsMax = 0L
  @volatile private var startUs = 0L

  def dueUs(p: Int, off: Long): Long = dues(p)((off - base(p)).toInt)

  override def run(): Unit = {
    startUs = Clock.us()
    val endUs = startUs + seconds * 1000000L
    var now = startUs
    while (now < endUs) {
      val due = ((now - startUs) * rate / 1000000L).min(seconds.toLong * rate)
      if (due > emitted) {
        val lines = Array.fill(parts)(new StringBuilder)
        val counts = new Array[Int](parts)
        (emitted until due).foreach { i =>
          val id = firstId + i
          val p = java.lang.Math.floorMod(id, parts.toLong).toInt
          val dueUs = startUs + i * 1000000L / rate
          val (u, t, v) = event(id)
          lines(p).append(s"$id\t$dueUs\t$u\t$t\t$v\n")
          dues(p) += dueUs
          counts(p) += 1
        }
        (0 until parts).filter(counts(_) > 0).foreach { p =>
          val dir = topic.resolve(s"p=$p")
          val name = "%020d.log".formatLocal(java.util.Locale.ROOT, nextOff(p))
          val tmp = dir.resolve(s".$name.tmp")
          Files.write(tmp, lines(p).toString.getBytes("UTF-8"))
          Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          nextOff(p) += counts(p)
        }
        val firstDue = startUs + emitted * 1000000L / rate
        lateUsMax = math.max(lateUsMax, Clock.us() - firstDue)
        emitted = due
      }
      ticks.add((Clock.us(), emitted))
      Thread.sleep(TickMs)
      now = Clock.us()
    }
  }

  private val TickMs = 50L
}
