package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Environment-drift tripwire run at the top of Verify and Bench.
  *
  * Round 7 shipped with 107/229 keys silently dead: a Spark upgrade
  * (4.0 → 4.1) changed how parquet TIMESTAMP(NANOS) surfaces, the events
  * loader failed at ANALYSIS time in every events-reading plan, and both
  * harness mains still exited rc=0 (Verify logs-and-skips per query; Bench
  * records −1-row failures). This probe makes that class of break fail the
  * round LOUDLY in seconds, naming the Spark version, instead of silently
  * at grading.
  */
object Preflight {
  def apply(spark: SparkSession, sfDir: String): Unit = {
    try {
      // The events loader is the one surface that has actually broken on an
      // engine upgrade — probe a ts-consuming plan end to end (analysis +
      // execution), not just the read.
      val events = T(spark, sfDir, "events")
      require(events.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"events.ts loads as ${events.schema("ts").dataType.simpleString}, want timestamp")
      val r = events.agg(count(lit(1)).as("n"), max(col("ts")).as("mx")).head()
      require(r.getLong(0) > 0, s"events table at $sfDir is empty")
      require(!r.isNullAt(1), "events.ts read back all-NULL")
      // The mm_* real-decode keys synthesize containers from text bytes
      // (BmpImpl/PngImpl.synth require len > 0) and their oracles compute
      // k mod len — both undefined on an empty document. Assert the
      // corpus-wide invariant HERE, at the graded sf dir, rather than
      // failing deep inside a codegen'd expression (r11 advice item).
      val dmin = T(spark, sfDir, "documents")
        .agg(min(length(col("text"))).as("mn")).head()
      require(!dmin.isNullAt(0) && dmin.getInt(0) > 0,
        s"documents.text at $sfDir has empty rows — the mm_* decode " +
          "fixture contract (len > 0) is broken")
    } catch {
      // NonFatal only: an OOM/StackOverflow during the probe is a JVM
      // failure, not environment drift — rewrapping it would misattribute
      // the failure class. Let fatal errors propagate unwrapped.
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(
          s"PREFLIGHT FAILED under Spark ${spark.version} on $sfDir/events" +
            s" — environment drift, every events-reading key is at risk: " +
            e.getMessage, e)
    }
  }
}
