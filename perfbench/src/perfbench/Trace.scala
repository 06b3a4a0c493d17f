package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `id` is shared by every span of one query or
  * micro-batch; `parent` names the enclosing span (empty for a root). */
final case class Span(name: String, id: String, parent: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty) {
  def us: Long = endUs - startUs
}

/** Wall clock in epoch microseconds, from the monotonic clock: span
  * boundaries and listener timestamps (epoch ms) share one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** Per-stage record assembled from listener events. */
final class StageRec(val stageId: Int, val span: String) {
  @volatile var submitMs: Long = -1L
  @volatile var completeMs: Long = -1L
  val firstLaunchMs = new AtomicLong(Long.MaxValue)
  val tasks = new AtomicLong(0L)
  val runMs = new AtomicLong(0L)
  val gcMs = new AtomicLong(0L)
  val shuffleWrite = new AtomicLong(0L)
  val shuffleRead = new AtomicLong(0L)
  val spill = new AtomicLong(0L)
}

/** In-memory trace of one run. Tracing off = no recorder, no listeners:
  * the benchmark's timed path then only reads clocks. The listeners are
  * registered from here, never through engine configuration, and attach
  * jobs and stages to spans through the `perfbench.span` local property
  * the benchmark sets before each phase. */
final class Recorder(spark: SparkSession) {
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** jobId -> (span, submit ms, end ms) */
  val jobs = new ConcurrentHashMap[Int, (String, Long, Long)]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  /** (phase, startMs, durationMs) per executed QueryExecution. */
  val planning = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  def span(s: Span): Unit = spans.add(s): Unit

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Recorder.SpanProp))).getOrElse("")
      jobs.put(e.jobId, (sp, e.time, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => (j._1, j._2, e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val sp = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Recorder.SpanProp))).getOrElse("")
      val r = stages.computeIfAbsent(e.stageInfo.stageId, id => new StageRec(id, sp))
      r.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stages.get(e.stageId)).foreach(_.firstLaunchMs
        .accumulateAndGet(e.taskInfo.launchTime, math.min))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { r =>
        r.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          r.runMs.addAndGet(m.executorRunTime)
          r.gcMs.addAndGet(m.jvmGCTime)
          r.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          r.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          r.spill.addAndGet(m.diskBytesSpilled)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach(r =>
        r.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        planning.add((phase, s.startTimeMs, s.durationMs))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress): Unit
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Blocks until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.waitUntilEmpty(spark.sparkContext)

  def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Jobs and stages whose span satisfies `p`. */
  def jobsWhere(p: String => Boolean): Int = jobs.values.asScala.count(j => p(j._1))
  def stagesWhere(p: String => Boolean): Seq[StageRec] =
    stages.values.asScala.filter(r => p(r.span)).toSeq

  /** Job and stage spans, parented to the span named by their `id:phase`
    * local property. */
  def listenerSpans(): Seq[Span] = {
    def split(sp: String) = sp.split(":", 2) match {
      case Array(id, phase) => (id, phase)
      case _ => (sp, "")
    }
    jobs.asScala.toSeq.collect { case (jobId, (sp, s, e)) if e >= s =>
      val (id, phase) = split(sp)
      Span("job", id, phase, s * 1000L, e * 1000L, Map("job_id" -> jobId))
    } ++ stages.values.asScala.toSeq.collect {
      case r if r.submitMs >= 0 && r.completeMs >= r.submitMs =>
        val (id, phase) = split(r.span)
        Span("stage", id, phase, r.submitMs * 1000L, r.completeMs * 1000L,
          Map("stage_id" -> r.stageId, "tasks" -> r.tasks.get, "task_ms" -> r.runMs.get))
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try (spans.asScala.toSeq ++ listenerSpans()).sortBy(_.startUs).foreach { s =>
      w.write(Json.obj(Seq("name" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "start_us" -> s.startUs, "end_us" -> s.endUs) ++ s.attrs.toSeq))
      w.newLine()
    } finally w.close()
  }
}

object Recorder {
  val SpanProp = "perfbench.span"

  /** Self time per span name: its own duration minus its children's
    * (children are matched by id and parent name). */
  def selfTimesUs(spans: Seq[Span]): Map[String, Long] = {
    val childUs = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    spans.filter(_.parent.nonEmpty).foreach(s => childUs((s.id, s.parent)) += s.us)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.us - childUs((s.id, s.name))).sum
    }
  }
}
