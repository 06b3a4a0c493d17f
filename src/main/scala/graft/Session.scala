package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the engine's mains (Bench, Verify, PlanDump,
  * ScaleProbe): `local[$SPARK_GRAFT_CPUS]` (4 cores when unset), shuffle
  * partitions = cores, UTC session time zone (the µs-truncated
  * `events.ts` mapping in [[T]] relies on it), no UI, WARN logging. */
object Session {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
