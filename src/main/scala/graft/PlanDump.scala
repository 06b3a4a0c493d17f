package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Optimization-round instrumentation: dumps `.explain("formatted")` for the
  * named keys into an output dir (`plans/r18/<key>_<tag>.txt`), plus a
  * stderr line per key with its exchange count. Read-only with respect to
  * the registry — never changes what a key computes.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> key1,key2,...
  *        (keys = "all" dumps every registry key)
  */
object PlanDump {

  /** Shuffle and broadcast exchange nodes in the pre-execution plan,
    * subqueries included. AQE's initial plan is fixed before any stage
    * runs, so the count does not move with the runtime join choices of the
    * final plan, and reused exchanges (a later stage's re-read of an
    * earlier one) are not nodes of their own. */
  private[graft] def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.initialPlan)
    case p =>
      val own = p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
        case _ => 0
      }
      own + (p.children ++ p.subqueries).map(exchanges).sum
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, keysCsv) = args.take(4)
    val keys: Seq[String] =
      if (keysCsv == "all") SparkEntry.queries.keys.toSeq.sorted
      else keysCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = keys.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    val spark = Session()
    Preflight(spark, sfDir)
    // capture pre-pin segment plans too: a pinned chain's real plan shape
    // lives in the segments the lineage cuts hide from the final explain
    spark.conf.set("spark.graft.plan.audit", "true")
    new java.io.File(outDir).mkdirs()
    keys.foreach { name =>
      try {
        graft.operators.Scale.drainAuditPlans(): Unit
        val df = SparkEntry.queries(name)(spark, sfDir)
        val planned = df.queryExecution.executedPlan // forces analysis+optimization+planning
        val segs = graft.operators.Scale.drainAuditPlans()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode) +
          segs.zipWithIndex.map { case (p, i) =>
            s"\n===== pinned segment ${i + 1}/${segs.size} (pre-cut plan) =====\n" +
              p.treeString
          }.mkString
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        System.err.println(s"[plandump] $name " +
          s"exchanges=${(planned +: segs).map(exchanges).sum} " +
          s"plan_lines=${txt.linesIterator.size}")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      graft.operators.Scale.releasePins(spark)
    }
    spark.stop()
  }
}
