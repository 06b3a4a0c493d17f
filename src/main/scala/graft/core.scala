package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructType}

/** One declared operator: the Spark query plus (optionally) its DuckDB
  * oracle SQL twin. Oracle SQL uses bare table names (`lineitem`, `events`,
  * ...) per the driver contract; the driver binds them to the sf-dir parquet.
  *
  * Determinism rules (SURVEY.md §7.4): every oracled query ends in ORDER BY
  * over a unique key set; money/double sums go through DECIMAL(18,4) and are
  * cast back to DOUBLE; computed integers are cast to BIGINT in both engines;
  * `events.ts` (parquet ns) is never emitted raw — only bucketed/derived.
  */
final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

object Q {
  def apply(fn: (SparkSession, String) => DataFrame, oracle: String): Q =
    Q(fn, Some(oracle))
}

/** Table loader: one parquet file per table under the sf dir. */
object T {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark 4.1 reads as
    // TimestampNTZType. Normalize it to a µs-truncated TimestampType — the
    // same truncation every oracle assumes (SURVEY §7.4.2). The NTZ
    // wall-clock maps to the same instants because the session TZ is UTC
    // (every graft entry point configures UTC); Preflight fails loudly if
    // a Spark upgrade changes how the column surfaces.
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** (application id, path, last-modified) → parquet schema. Parquet
    * schema inference is a Spark job per read; a table's schema is
    * resolved once per application and per version of its files, and
    * every later open reads with it. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long), StructType]()

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a table directory's files are rewritten under new names, so its
    // newest entry stamps the version
    val st = fs.getFileStatus(p)
    val stamp = (if (st.isDirectory) st +: fs.listStatus(p).toSeq else Seq(st))
      .map(_.getModificationTime).max
    schemas.computeIfAbsent((spark.sparkContext.applicationId, path, stamp),
      _ => spark.read.parquet(path).schema)
  }

  /** The partition count of [[byKey]] and [[byOrder]]:
    * `spark.sql.shuffle.partitions`, which every graft session sets to its
    * core count. An explicit count is one AQE never coalesces. */
  private def parts(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Spreads a table that scans as one split (events at the graded scales
    * is one row group) over every core: hash-partitioned on `key`. The
    * exchange satisfies every later window and aggregate clustered on
    * `key`, so a per-key chain gains no Exchange. */
  def byKey(df: DataFrame, key: Column): DataFrame = df.repartition(parts(df), key)

  /** [[byKey]]'s ordered form: range-partitioned on `order`, which also
    * satisfies the chain's final ORDER BY on that column, so the range
    * sampler reads the scan, not the expensive per-row work above it. */
  def byOrder(df: DataFrame, order: Column): DataFrame =
    df.repartitionByRange(parts(df), order)
}

/** Shared determinism helpers (SURVEY.md §7.4). */
object Dsl {

  /** Full MD5 hex of a string — shared by every place that needs a stable
    * content tag (scratch-table dir tags, grok temp-function names). */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  val Money: DecimalType = DecimalType(18, 4)

  /** Cast a double money/measure column to exact decimal before summing. */
  def dec(c: Column): Column = c.cast(Money)

  /** Deterministic SUM over a double column: exact decimal sum → double. */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Deterministic AVG: exact decimal sum / count, computed in double.
    * Oracle twin: CAST(SUM(CAST(c AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*). */
  def davg(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(lit(1))

  /** Computed ints are BIGINT in both engines (DuckDB fns return BIGINT). */
  def big(c: Column): Column = c.cast(LongType)

  /** 60-bit value from the first 15 hex chars of md5 — the cross-engine
    * uniform-hash idiom (60 bits so the BIGINT parse is exact in both
    * engines; md5 hex is byte-identical). [[md5Bits60Sql]] is its DuckDB
    * twin; the two MUST stay paired — simhash signatures and the
    * priority-sample uniform both ride this one definition. */
  def md5Bits60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** DuckDB twin of [[md5Bits60]] over an SQL expression string. */
  def md5Bits60Sql(inner: String): String =
    s"('0x' || substr(md5($inner), 1, 15))::BIGINT"

  /** SURVEY §7.4.2: Spark reads events.ts µs-truncated (see T), so every
    * oracle whose semantics touch ts must compare µs-truncated values too —
    * DuckDB otherwise keeps the parquet ns precision and a comparison can
    * flip within 1µs of a boundary. Rewrites the oracle to read from a
    * µs-truncated CTE of the events table. */
  /** Prepend one CTE to a query, folding an existing WITH chain and
    * hoisting a caller's RECURSIVE to the front of the merged list
    * (DuckDB scopes the keyword to the whole WITH; non-recursive members
    * are unaffected). ONE definition of the CTE-merge rule — shared by
    * [[usEvents]] and MultimodalOps.mmGuard, so neither can drift into
    * the 'WITH guard, RECURSIVE x' syntax error (r13 review finding). */
  def prependCte(cte: String, sql: String): String =
    if (sql.startsWith("WITH RECURSIVE "))
      s"WITH RECURSIVE $cte, " + sql.stripPrefix("WITH RECURSIVE ")
    else if (sql.startsWith("WITH "))
      s"WITH $cte, " + sql.stripPrefix("WITH ")
    else s"WITH $cte $sql"

  def usEvents(sql: String): String = {
    val rewritten =
      sql.replace("FROM events", "FROM events_us").replace("JOIN events", "JOIN events_us")
    // Fail loudly at registry-construction time rather than silently keeping
    // ns-precision reads: a spacing/casing/comma-join variant that dodges the
    // replace would produce a subtly wrong oracle, not an error.
    require(rewritten != sql,
      s"usEvents: no 'FROM events'/'JOIN events' occurrence rewritten in: $sql")
    prependCte(
      "events_us AS (SELECT event_id, date_trunc('microseconds', ts) AS ts, " +
        "user_id, event_type, value, props FROM events)",
      rewritten)
  }
}
