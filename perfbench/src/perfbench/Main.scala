package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric as measured: value, unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Long)

/** Everything one run needs. `launchMs` is the epoch time the launcher
  * started this JVM's process, so `setup_s` includes process start. */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, out: Path, root: Path, cores: Int, launchMs: Long,
    budgetS: Int) {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Parquet outputs the launcher digests against the reference digests. */
  val checkOutputs = mutable.LinkedHashMap.empty[String, String]

  def put(name: String, value: Double, unit: String, n: Long): Unit =
    metrics(name) = Metric(value, unit, n)

  /** Seconds since process launch at the end of each step of the run. */
  private val marks = mutable.LinkedHashMap.empty[String, Double]
  def mark(step: String): Unit = {
    marks(step) = (Clock.us() / 1000.0 - launchMs) / 1000.0
    detail("marks_s") = marks.toMap
  }

  /** A correctness problem: recorded, printed, and it fails the run. */
  def problem(msg: String): Unit = {
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
    problems += msg
  }
}

/** JVM entry of the benchmark; `perfbench/run.py` launches it and owns the
  * final result line. Writes `result.json` (and, traced, `spans.jsonl`)
  * into `--out`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val out = Paths.get(arg("out"))
    Files.createDirectories(out)
    if (arg("mode") == "oracle-sql") { dumpOracleSql(out); return }
    val ctx = Ctx(arg("workload"), arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", arg("data"), out, Paths.get(arg("root")),
      arg("cores").toInt, arg("launch-ms").toLong, a.getOrElse("budget-s", "60").toInt)
    val spark = session(ctx)
    ctx.mark("session")
    val rec = if (ctx.trace) Some(new Recorder(spark)) else None
    rec.foreach(_.install())
    try {
      ctx.workload match {
        case w if Workloads.mixes.contains(w) => new BatchLoop(ctx, spark, rec).run()
        case "gate_stream" => new GateStream(ctx, spark, rec).run()
        case w => sys.error(s"unknown workload '$w'")
      }
      rec.foreach { r =>
        r.remove()
        r.writeJsonl(out.resolve("spans.jsonl"))
        val self = Recorder.selfTimesUs(r.spans.toArray(Array.empty[Span]).toSeq)
        ctx.detail("self_s") = self.map { case (k, v) => k -> v / 1e6 }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        ctx.problem(s"run aborted: $e")
    } finally {
      ctx.put("peak_rss_mb", peakRssMb(), "MB", 1)
      writeResult(ctx)
      spark.stop()
    }
  }

  /** The one session shape every run uses: `local[cores]`, shuffle
    * partitions = cores, UTC — as `graft.Bench` builds it — plus run-local
    * scratch so no run reads another run's files. */
  def session(ctx: Ctx): SparkSession = {
    val runDir = ctx.out.getParent
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.graft.flow.dir", ctx.root.resolve("conf/flows").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** High-water resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toLong / 1024.0
  }

  private def writeResult(ctx: Ctx): Unit = {
    val metrics = ctx.metrics.toSeq.map { case (k, m) =>
      k -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n)
    }
    val json = Json.obj(Seq(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "cores" -> ctx.cores,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "problems" -> ctx.problems.toSeq,
      "check_outputs" -> ctx.checkOutputs.toMap,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*),
      "detail" -> ctx.detail.toMap))
    Files.writeString(ctx.out.resolve("result.json"), json + "\n")
    ctx.metrics.foreach { case (k, m) =>
      System.err.println(String.format(Locale.ROOT, "[perfbench] %-36s %14.6f %-8s n=%d",
        k, Double.box(m.value), m.unit, Long.box(m.n)))
    }
  }

  /** Oracle SQL of every mixed key, for `perfbench/make_refs.py`. */
  private def dumpOracleSql(out: Path): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val keys = Workloads.mixes.values.flatten.toSeq.sorted
    val missing = keys.filterNot(oracle.contains)
    require(missing.isEmpty, s"keys without an oracle twin: ${missing.mkString(", ")}")
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(keys.map(k => k -> oracle(k))) + "\n")
  }
}
