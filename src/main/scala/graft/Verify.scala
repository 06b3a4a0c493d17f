package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: restrict to a key subset (local iteration only;
    // the driver always passes exactly two args → full run). A typo'd key
    // must fail loudly, not produce an empty run that looks green.
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    val spark = Session()
    Preflight(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written FIRST (r18 verdict #1a): it used to be the
    // loop's final act, which made one hang or kill anywhere in the 383-key
    // loop erase the ENTIRE round's correctness record (no oracle file →
    // the driver's json.load has nothing → {}). The SQL map is static
    // (SparkEntry.oracleSql), so writing it before any query runs turns a
    // worst-case mid-loop death into per-key failures for the keys whose
    // parquet never landed — every completed key still grades.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // NonFatal only (the Bench discipline): a VirtualMachineError must
        // crash the dump, not demote to a per-key note beside a corrupted JVM
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // pin lifecycle (r13 verdict #2): a key's pinned scratch frames
        // are dead once its parquet is written — release them so a full
        // 374-key session never accumulates block-manager storage
        graft.operators.Scale.releasePins(spark)
      }
    spark.stop()
  }
}
