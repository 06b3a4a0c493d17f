package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.Scale

/** The closed-loop batch workload: one client runs the workload's fixed
  * query mix, pass after pass, each query being the registry call plus a
  * `noop` write. Set-up ends with an untimed warm-up pass that also
  * writes every key's output for the digest check. Timed passes follow;
  * another one starts while the mean pass still fits in `--seconds`. */
final class BatchLoop(ctx: Ctx, spark: SparkSession, rec: Option[Recorder]) {
  private val mix = Workloads.mixes(ctx.workload)
  private val fns = graft.SparkEntry.queries
  private val guard = new Guard(spark, ctx.budgetS)
  private var snapshotReads = 0
  private val WarmLanes = 2

  /** Per-pass key order of the timed passes: a pure function of the seed. */
  private def order(pass: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(mix)

  private def setSpan(s: String): Unit =
    spark.sparkContext.setLocalProperty(Recorder.SpanProp, s)

  /** One timed query: spans in epoch µs. */
  private final case class Q(id: String, key: String, q0: Long, c0: Long,
      c1: Long, e1: Long, r0: Long, r1: Long)

  def run(): Unit = {
    graft.Preflight(spark, ctx.data)
    ctx.mark("preflight")
    warmUpPass()
    val start = Clock.us()
    ctx.mark("warm_up")
    ctx.put("setup_s", (start / 1000.0 - ctx.launchMs) / 1000.0, "s", 1)

    val done = mutable.ArrayBuffer.empty[Q]
    val passWallUs = mutable.ArrayBuffer.empty[Long]
    val errors = mutable.ArrayBuffer.empty[String]
    var n = 0
    var pass = 1
    def meanPassUs = passWallUs.sum / passWallUs.size
    while (pass == 1 || Clock.us() - start + meanPassUs <= ctx.seconds * 1000000L) {
      val ps = Clock.us()
      order(pass).foreach { key =>
        n += 1
        val id = s"q$n"
        val q0 = Clock.us()
        val r = guard.run(s"$id:$key") {
          setSpan(s"$id:construct")
          val c0 = Clock.us()
          val df = fns(key)(spark, ctx.data)
          val c1 = Clock.us()
          setSpan(s"$id:execute")
          df.write.format("noop").mode("overwrite").save()
          (c0, c1, Clock.us())
        }
        setSpan(s"$id:release_pins")
        val r0 = Clock.us()
        Scale.releasePins(spark, blocking = true)
        val r1 = Clock.us()
        setSpan(null)
        if (Scale.drainSnapshotReads()) {
          snapshotReads += 1
          ctx.problem(s"$id $key read a committed snapshot")
        }
        ctx.attempted += 1
        r match {
          case Right((c0, c1, e1)) => done += Q(id, key, q0, c0, c1, e1, r0, r1)
          case Left(msg) => ctx.failed += 1; errors += msg
        }
      }
      passWallUs += Clock.us() - ps
      pass += 1
    }
    guard.close()

    // wall_s is the mean pass: it uses every timed query, so one slow
    // repetition moves it least.
    val lat = done.map(q => (q.e1 - q.c0) / 1000.0).toSeq
    ctx.put("wall_s", passWallUs.sum / 1e6 / passWallUs.size, "s", passWallUs.size)
    ctx.put("latency_p50_ms", Stats.quantile(lat, 0.5), "ms", lat.size)
    ctx.put("latency_p90_ms", Stats.quantile(lat, 0.9), "ms", lat.size)
    ctx.detail("passes") = passWallUs.size
    ctx.detail("errors") = errors.toSeq
    ctx.detail("latency_ms_by_key") = done.groupBy(_.key).map { case (k, qs) =>
      k -> qs.map(q => (q.e1 - q.c0) / 1000.0).toSeq
    }
    rec.foreach(layers(_, done.toSeq))
  }

  /** Untimed set-up pass, in `WarmLanes` concurrent lanes (one query at a
    * time uses a fraction of the cores). Every lane runs every key, in a
    * rotated order, so each key runs `WarmLanes` times and the JVM's JIT
    * and the codegen caches are warm when the clock starts; one of those
    * runs writes the key's output as parquet for the launcher's digest
    * check. No `coalesce(1)`: it would run the whole last stage in one
    * task. Every mixed key ends in a global ORDER BY, so the part files,
    * taken in name order, hold the rows in query order. */
  private def warmUpPass(): Unit = {
    // the same order in every run: which key runs first shapes what the
    // JIT compiles, so a seed-dependent order would add run-to-run spread
    val keys = mix
    val lanes = (0 until WarmLanes).map { lane =>
      val t = new Thread(() => {
        val g = new Guard(spark, ctx.budgetS)
        keys.indices.map(i => (i + lane) % keys.size).foreach { i =>
          val key = keys(i)
          val check = i % WarmLanes == lane
          val path = ctx.out.resolve("check").resolve(key).toString
          g.run(s"warm$lane:$key") {
            setSpan(s"warm$lane:$key")
            val w = fns(key)(spark, ctx.data).write.mode("overwrite")
            if (check) w.parquet(path) else w.format("noop").save()
          } match {
            case Right(_) => if (check) ctx.synchronized(ctx.checkOutputs(key) = path)
            case Left(msg) => ctx.synchronized(ctx.problem(s"warm-up pass: $msg"))
          }
        }
        g.close()
      }, s"perfbench-warm-$lane")
      t.start()
      t
    }
    lanes.foreach(_.join())
    Scale.releasePins(spark, blocking = true)
    if (Scale.drainSnapshotReads()) ctx.problem("warm-up pass: a key read a committed snapshot")
  }

  /** Per-layer metrics from the spans and the listeners (traced run only). */
  private def layers(r: Recorder, qs: Seq[Q]): Unit = {
    val nq = qs.size.max(1).toDouble
    qs.foreach { q =>
      r.span(Span("query", q.id, "", q.q0, q.r1, Map("key" -> q.key)))
      r.span(Span("construct", q.id, "query", q.c0, q.c1))
      r.span(Span("execute", q.id, "query", q.c1, q.e1))
      r.span(Span("release_pins", q.id, "query", q.r0, q.r1))
    }
    TableOpen.probe(ctx, spark, r)
    r.drain()

    def phase(p: String)(sp: String) = sp.endsWith(s":$p") && sp.startsWith("q")
    val cStages = r.stagesWhere(phase("construct"))
    ctx.put("operators.construct_s", qs.map(q => q.c1 - q.c0).sum / 1e6 / nq, "s", qs.size)
    ctx.put("operators.construct_jobs", r.jobsWhere(phase("construct")) / nq, "count", qs.size)
    ctx.put("operators.construct_stages", cStages.size / nq, "count", qs.size)
    ctx.put("operators.construct_task_s", cStages.map(_.runMs.get).sum / 1e3 / nq, "s", qs.size)
    ctx.put("operators.release_pins_s", qs.map(q => q.r1 - q.r0).sum / 1e6 / nq, "s", qs.size)
    ctx.put("operators.snapshot_reads", snapshotReads, "count", qs.size)

    // Catalyst phases of every executed QueryExecution, attributed to the
    // query whose construct..execute interval holds the phase start.
    val byStart = qs.sortBy(_.c0).toArray
    val starts = byStart.map(_.c0)
    val phaseUs = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
    r.planning.asScala.foreach { case (p, startMs, durMs) =>
      val t = startMs * 1000L
      val i = java.util.Arrays.binarySearch(starts, t) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && t <= byStart(i).e1 + 1000L && phaseUs.contains(p))
        phaseUs(p) += durMs * 1000L
    }
    ctx.put("planning.analysis_s", phaseUs("analysis") / 1e6 / nq, "s", qs.size)
    ctx.put("planning.optimization_s", phaseUs("optimization") / 1e6 / nq, "s", qs.size)
    ctx.put("planning.physical_s", phaseUs("planning") / 1e6 / nq, "s", qs.size)
    val latUs = qs.map(q => q.e1 - q.c0).sum.max(1L)
    ctx.put("planning.share", phaseUs.values.sum.toDouble / latUs, "ratio", qs.size)

    val execUs = qs.map(q => q.e1 - q.c1).sum
    val eStages = r.stagesWhere(phase("execute"))
    Exec.put(ctx, eStages, r.jobsWhere(phase("execute")), execUs, qs.size)

    val coverage = qs.map(q =>
      ((q.c1 - q.c0) + (q.e1 - q.c1) + (q.r1 - q.r0)).toDouble / (q.r1 - q.q0).max(1L))
    ctx.put("trace.span_coverage_min", if (coverage.isEmpty) 0.0 else coverage.min,
      "ratio", coverage.size)
    if (coverage.exists(_ < 0.95))
      ctx.problem(f"construct+execute+release_pins cover only ${coverage.min}%.3f of a query span")
    Layers.notExercised(ctx, Layers.flow ++ Layers.streaming)
  }
}

/** `exec.*` from the stages of the execute phase (queries or micro-batches). */
object Exec {
  def put(ctx: Ctx, st: Seq[StageRec], jobs: Int, execUs: Long, ops: Int): Unit = {
    val n = ops.max(1).toDouble
    val taskS = st.map(_.runMs.get).sum / 1e3
    ctx.put("exec.s", execUs / 1e6 / n, "s", ops)
    ctx.put("exec.jobs", jobs / n, "count", ops)
    ctx.put("exec.stages", st.size / n, "count", ops)
    ctx.put("exec.tasks", st.map(_.tasks.get).sum / n, "count", ops)
    val stageMs = st.filter(s => s.submitMs >= 0 && s.completeMs >= s.submitMs)
      .map(s => (s.completeMs - s.submitMs).toDouble)
    ctx.put("exec.stage_ms_p50", Stats.quantile(stageMs, 0.5), "ms", stageMs.size)
    val delay = st.filter(s => s.submitMs >= 0 && s.firstLaunchMs.get != Long.MaxValue)
      .map(s => (s.firstLaunchMs.get - s.submitMs).max(0L)).sum
    ctx.put("exec.scheduler_delay_s", delay / 1e3 / n, "s", st.size)
    ctx.put("exec.task_s", taskS / n, "s", ops)
    ctx.put("exec.core_util", taskS / (ctx.cores * (execUs / 1e6)).max(1e-9), "ratio", ops)
    ctx.put("exec.gc_s", st.map(_.gcMs.get).sum / 1e3 / n, "s", ops)
    ctx.put("exec.shuffle_write_mb", st.map(_.shuffleWrite.get).sum / 1048576.0 / n, "MB", ops)
    ctx.put("exec.shuffle_read_mb", st.map(_.shuffleRead.get).sum / 1048576.0 / n, "MB", ops)
    ctx.put("exec.spill_mb", st.map(_.spill.get).sum / 1048576.0 / n, "MB", ops)
  }
}

/** `core.*`: one timed `T.apply` + `.schema` per table, with the jobs each
  * call launches. */
object TableOpen {
  def probe(ctx: Ctx, spark: SparkSession, r: Recorder): Unit = {
    val ms = graft.T.names.map { t =>
      spark.sparkContext.setLocalProperty(Recorder.SpanProp, s"open:$t")
      val t0 = Clock.us()
      graft.T(spark, ctx.data, t).schema
      val t1 = Clock.us()
      r.span(Span("table_open", s"open:$t", "", t0, t1))
      (t1 - t0) / 1000.0
    }
    spark.sparkContext.setLocalProperty(Recorder.SpanProp, null)
    r.drain()
    val jobs = r.jobsWhere(_.startsWith("open:"))
    ctx.put("core.table_open_ms", ms.sum / ms.size, "ms", ms.size)
    ctx.put("core.table_open_jobs", jobs.toDouble / ms.size, "count", ms.size)
  }
}

/** Per-layer metric groups a workload may not exercise; reported as 0 with
  * no samples so every traced run carries every per-layer name. */
object Layers {
  val operators: Seq[(String, String)] = Seq(
    "operators.construct_s" -> "s", "operators.construct_jobs" -> "count",
    "operators.construct_stages" -> "count", "operators.construct_task_s" -> "s",
    "operators.release_pins_s" -> "s", "operators.snapshot_reads" -> "count")
  val planning: Seq[(String, String)] = Seq(
    "planning.analysis_s" -> "s", "planning.optimization_s" -> "s",
    "planning.physical_s" -> "s", "planning.share" -> "ratio")
  val flow: Seq[(String, String)] = Seq("flow.compile_ms" -> "ms")
  val streaming: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count",
    "streaming.latest_offset_ms_p50" -> "ms", "streaming.get_batch_ms_p50" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms", "streaming.trigger_ms_p50" -> "ms",
    "streaming.trigger_ms_p90" -> "ms", "streaming.sink_apply_ms_p50" -> "ms",
    "streaming.sink_apply_ms_p90" -> "ms", "streaming.sink_target_rows" -> "count",
    "streaming.sink_epoch_bytes" -> "bytes", "streaming.sink_bytes_per_event" -> "bytes",
    "streaming.backlog_events_max" -> "count", "streaming.generator_late_ms_max" -> "ms")

  def notExercised(ctx: Ctx, ms: Seq[(String, String)]): Unit =
    ms.foreach { case (k, u) => ctx.put(k, 0.0, u, 0) }
}

object Stats {
  /** Linear-interpolated quantile (the numpy default); 0 when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
