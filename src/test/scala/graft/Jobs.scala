package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The Spark jobs and completed stages one block of test code runs.
  * Only jobs started from the calling thread count (a local property tags
  * them), so a stream another suite left running cannot leak in. */
object Jobs {
  final case class Stage(id: Int, tasks: Int, runMs: Long)
  final case class Record(jobs: Int, stages: Seq[Stage])

  private val Tag = "graft.test.jobs"

  def record[A](spark: SparkSession)(body: => A): (A, Record) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val stages = new ConcurrentHashMap[Int, Stage]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stageIds.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        if (stageIds.contains(i.stageId))
          stages.put(i.stageId, Stage(i.stageId, i.numTasks, i.taskMetrics.executorRunTime))
      }
    }
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try {
      val a = body
      org.apache.spark.graft.Bus.waitUntilEmpty(sc)
      (a, Record(jobs.get, stages.values.asScala.toSeq.sortBy(_.id)))
    } finally {
      sc.setLocalProperty(Tag, prior)
      sc.removeSparkListener(listener)
    }
  }
}
