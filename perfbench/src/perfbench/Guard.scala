package perfbench

import java.util.concurrent.{ExecutionException, ExecutorService, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

/** Runs each operation on a worker thread in its own job group, with a
  * time budget. Past the budget the calling thread cancels the job group
  * and abandons the worker, so a hang costs one operation, not the run. */
final class Guard(spark: SparkSession, budgetS: Int) {
  private def newWorker(): ExecutorService = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-op")
    t.setDaemon(true)
    t
  }
  private var worker = newWorker()

  def run[A](group: String)(body: => A): Either[String, A] = {
    val sc = spark.sparkContext
    val f = worker.submit(() => {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    })
    try Right(f.get(budgetS.toLong, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        f.cancel(true)
        worker.shutdownNow()
        worker = newWorker()
        Left(s"$group: timed out after $budgetS s")
      case e: ExecutionException => Left(s"$group: ${e.getCause}")
    }
  }

  def close(): Unit = worker.shutdownNow(): Unit
}
