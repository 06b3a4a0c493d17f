package graft
import java.nio.file.{Files, Paths}

/** Optimization-round instrumentation: dumps `.explain("formatted")` for the
  * named keys into an output dir (`plans/r18/<key>_<tag>.txt`), plus a
  * stderr line per key with (plan-build ms, first-noop-exec ms) so planning
  * cost and execution cost can be attributed separately. Read-only with
  * respect to the registry — never changes what a key computes.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> key1,key2,...
  *        (keys = "all" dumps every registry key)
  */
object PlanDump {
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
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val planned = df.queryExecution.executedPlan // forces analysis+optimization+planning
        val t1 = System.nanoTime()
        val segs = graft.operators.Scale.drainAuditPlans()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode) +
          segs.zipWithIndex.map { case (p, i) =>
            s"\n===== pinned segment ${i + 1}/${segs.size} (pre-cut plan) =====\n" +
              p.treeString
          }.mkString
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        val exchanges = txt.linesIterator.count(_.contains("Exchange"))
        System.err.println(f"[plandump] $name plan_ms=${(t1 - t0) / 1e6}%.0f " +
          f"exec_ms=${(t2 - t1) / 1e6}%.0f exchanges=$exchanges " +
          f"plan_lines=${txt.linesIterator.size} ok=${planned != null}")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      graft.operators.Scale.releasePins(spark)
    }
    spark.stop()
  }
}
