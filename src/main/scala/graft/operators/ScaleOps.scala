package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, T}
import graft.operators.PinSyntax._
import graft.Dsl._
import graft.streaming.StreamOps

/** Declared query keys for the 100 TB scale levers in [[Scale]] and the
  * stream–stream join in [[graft.streaming.StreamOps]]: each key's RESULT is
  * oracle-checked against the plain formulation, proving the scale technique
  * is a pure physical rewrite; the PLAN properties (no exchange under the
  * bucketed join, salted two-phase shape, partition pruning) are asserted in
  * ScaleSpec.
  */
object ScaleOps {

  /** One cloned session per (SparkContext, tag) for keys that need demo-
    * scale thresholds: a fresh `newSession()` per invocation would build
    * (and never release) a full SessionState each time the key runs —
    * bench reps would accumulate them. The thresholds are fixed, so one
    * isolated session per JVM per tag is the whole requirement, and the
    * clone keeps them out of every other key's plans. */
  private val isoSessions = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.SparkContext, String), org.apache.spark.sql.SparkSession]()

  private def isoSession(s0: org.apache.spark.sql.SparkSession, tag: String)(
      confs: (String, String)*) =
    isoSessions.computeIfAbsent((s0.sparkContext, tag), _ => {
      val s = s0.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    })

  private def skewSession(s0: org.apache.spark.sql.SparkSession) =
    isoSession(s0, "skew")(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      // the agg above the join wants the join's hash partitioning back,
      // which a skew split breaks — force the split anyway (the agg's
      // extra exchange is the documented price of the lever)
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Runtime bloom-filter injection wants the application-side scan above
    * 10 GB by default — a cluster-scale bar the demo lowers to one byte;
    * broadcast is disabled because the lever only applies to shuffle
    * joins (a broadcast build IS already a row filter). */
  private def bloomSession(s0: org.apache.spark.sql.SparkSession) =
    isoSession(s0, "bloom")(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1B",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Sorted-layout scratch path for input dir `d` (exposed for ScaleSpec's
    * parquet-footer audit). */
  def sortedLayoutDir(d: String): String =
    Scale.scratchDir("sorted_layout", d)

  /** Z-order-layout scratch path for input dir `d` (exposed for ScaleSpec's
    * two-dimensional parquet-footer audit). */
  def zorderLayoutDir(d: String): String =
    Scale.scratchDir("zorder_layout", d)

  /** Compacted hive-partitioned scratch path for input dir `d` (exposed for
    * ScaleSpec's one-file-per-partition audit). */
  def compactLayoutDir(d: String): String =
    Scale.scratchDir("compact_layout", d)

  /** Two-generation evolved-layout lake for `scale_partition_evolution`
    * (exposed for ScaleSpec's pruning audit): gen=0 day-partitioned with
    * hour as a data column, gen=1 (day, hour)-partitioned. */
  def evolveLayoutDir(d: String): String =
    Scale.scratchDir("evolve_layout", d)

  /** One read schema for BOTH generations of the evolved lake: explicit
    * so the hive-inferred partition columns (INT by default) come back as
    * the same LongType the data columns carry — the reader-side spec
    * normalization partition evolution requires (and without a cast that
    * would sit between the filter and partition pruning). */
  val evolveSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("hour",
        org.apache.spark.sql.types.LongType)))

  /** Builds the evolved lake once per (application, input dir) and returns the
    * NORMALIZED union of both generations — shared by the graded key and
    * ScaleSpec's plan audit. */
  def evolvedLake(s0: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val p = evolveLayoutDir(d)
    Scale.writeOnce(p) {
      val ev = T(s0, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hour"))
      // generation 0: the table's FIRST partition spec — day only; hour
      // is an ordinary data column inside the files
      ev.filter(col("event_id") % 10 < 8)
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$p/gen=0")
      // generation 1: the EVOLVED spec — (day, hour); old files are NOT
      // rewritten (the whole point of partition evolution)
      ev.filter(col("event_id") % 10 >= 8)
        .repartition(col("day"), col("hour"))
        .write.mode("overwrite").partitionBy("day", "hour")
        .parquet(s"$p/gen=1")
    }
    s0.read.schema(evolveSchema).parquet(s"$p/gen=0")
      .unionByName(s0.read.schema(evolveSchema).parquet(s"$p/gen=1"))
  }

  /** The 2-D box filter `scale_zorder_scan` scans with: [5%, 15%] of each
    * key's max, in exact integer math (`max*k/100` in Long space — the
    * oracle computes the identical `(k*max(..))//100`), so the box is
    * selective at EVERY scale factor without data-dependent literals in
    * the SQL text. The driver-side fetch is two scalar maxes — O(1) rows. */
  def zorderBox(df: org.apache.spark.sql.DataFrame): (Long, Long, Long, Long) = {
    val r = df.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (mp, ms) = (r.getLong(0), r.getLong(1))
    (mp * 5 / 100, mp * 15 / 100, ms * 5 / 100, ms * 15 / 100)
  }

  /** Stats'd catalog tables + the deliberately mis-ordered star join,
    * shared by scale_cbo_reorder and ScaleSpec's plan assertions. The
    * declared order joins the two FACTS first (orders ⋈ customer) with
    * the selective dim (nation, filtered 1/25) LAST — the shape CBO's DP
    * reorderer must fix. `cbo = false` returns the same query on the
    * plain session (the negative twin the spec compares against). */
  def cboQuery(s0: org.apache.spark.sql.SparkSession, d: String,
      cbo: Boolean = true): org.apache.spark.sql.DataFrame = {
    val tag = Scale.dirTag(d)
    val (to, tc, tn) = (s"graft_cbo_orders_$tag",
      s"graft_cbo_customer_$tag", s"graft_cbo_nation_$tag")
    Scale.writeOnce(s"cbo_tables|$d") {
      // a previous JVM's warehouse dir survives while the (per-JVM)
      // metastore forgot the table — clear both or saveAsTable dies with
      // LOCATION_ALREADY_EXISTS (the bucketedTable discipline)
      Seq(to, tc, tn).foreach { t =>
        s0.sql(s"DROP TABLE IF EXISTS $t")
        val whConf = s0.conf.get("spark.sql.warehouse.dir")
        val whPath = Option(new java.net.URI(whConf).getPath)
          .filter(_.nonEmpty).getOrElse(whConf)
        val wh = new java.io.File(whPath, t)
        if (wh.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(): Unit
          }
          rm(wh)
        }
      }
      T(s0, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        .write.mode("overwrite").saveAsTable(to)
      T(s0, d, "customer").select(col("c_custkey"), col("c_nationkey"))
        .write.mode("overwrite").saveAsTable(tc)
      T(s0, d, "nation").select(col("n_nationkey"), col("n_name"))
        .write.mode("overwrite").saveAsTable(tn)
      // the metastore numbers a lake maintains per snapshot; the DP
      // reorderer costs joins from rowCount + column NDVs
      Seq(to, tc, tn).foreach(t =>
        s0.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"): Unit)
    }
    val s = if (cbo) isoSession(s0, "cbo")(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    else s0
    s.table(to)
      .join(s.table(tc), col("o_custkey") === col("c_custkey"))
      .join(s.table(tn).filter(col("n_name") === "NATION_7"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        big(countDistinct(col("o_custkey"))).as("n_customers"))
      .orderBy(col("o_orderpriority"))
  }

  val defs: Seq[(String, Q)] = Seq(

    // Co-located join: both sides written bucketed+sorted on the join key,
    // so the join itself needs NO shuffle at read time — at 100 TB this is
    // the lever that turns a nightly fact-to-fact join into a map-side
    // merge. Result == plain join (the oracle proves it).
    "scale_bucketed_join" -> Q(
      (s, d) => {
        val li = T(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        val o = T(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
        Scale.bucketedJoin(s, li, o, "l_orderkey", 8,
            "graft_scale_li", "graft_scale_o", memoKey = d)
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_orderkey"))
      },
      "SELECT l.l_orderkey, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "GROUP BY 1 ORDER BY 1"),

    // Shuffle-FREE aggregation via bucketed layout (round-10) — the agg
    // sibling of scale_bucketed_join: events saved bucketed by user_id mean
    // a groupBy(user_id) consumes the bucket hash distribution directly and
    // the plan has NO Exchange at all (ScaleSpec asserts it). At 100 TB
    // this is the difference between an aggregation that reshuffles the
    // corpus every run and one that only ever reads co-located files —
    // the amortize-the-layout-once pattern every nightly rollup wants.
    "scale_bucketed_agg" -> Q(
      (s, d) => {
        val ev = T(s, d, "events")
          .select(col("user_id"), col("value"), col("event_id"))
        Scale.bucketedTable(s, ev, "user_id", 8, "graft_scale_ev_agg",
            memoKey = d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"),
            min(col("event_id")).as("first_event"))
          .orderBy(col("user_id"))
      },
      usEvents("SELECT user_id, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value, " +
        "MIN(event_id) AS first_event FROM events " +
        "GROUP BY 1 ORDER BY user_id")),

    // Skew-safe two-phase aggregation: 5 hot group keys spread over 16
    // salts before combining. Result == plain GROUP BY; decimal partials
    // keep the two-phase double sum exact.
    "scale_salted_agg" -> Q(
      (s, d) => Scale.saltedSumCount(T(s, d, "events"),
          col("event_type"), dec(col("value")), 16)
        .select(col("k").as("event_type"),
          col("total").cast("double").as("total_value"), col("n"))
        .orderBy(col("event_type")),
      "SELECT event_type, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value, " +
        "COUNT(*) AS n FROM events GROUP BY 1 ORDER BY 1"),

    // Partition pruning: events written partitioned by event_type, read
    // back with a partition filter — the scan touches 1/5 of the files
    // (plan-asserted in ScaleSpec). Result == plain filtered scan.
    "scan_partition_pruned" -> Q(
      (s, d) => {
        val p = Scale.scratchDir("scan_partitioned_events", d)
        Scale.writeOnce(p) {
          T(s, d, "events")
            .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
            .write.mode("overwrite").partitionBy("event_type").parquet(p)
        }
        s.read.parquet(p)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value"))
          .orderBy(col("event_id"))
      },
      "SELECT event_id, user_id, value FROM events " +
        "WHERE event_type = 'purchase' ORDER BY event_id"),

    // Batch twin of the watermarked stream–stream interval join
    // (StreamOps.clickToPurchase; stream ≡ batch asserted in
    // StreamingSpec): purchases joined to same-user clicks in the
    // preceding hour. withWatermark is a no-op on batch frames.
    "stream_join_interval" -> Q(
      (s, d) => {
        val e = T(s, d, "events")
        StreamOps.clickToPurchase(
            e.filter(col("event_type") === "click"),
            e.filter(col("event_type") === "purchase"))
          .orderBy(col("user_id"), col("purchase_id"), col("click_id"))
      },
      usEvents("SELECT p.user_id, p.event_id AS purchase_id, " +
        "c.event_id AS click_id FROM events p JOIN events c " +
        "ON p.user_id = c.user_id AND c.ts < p.ts " +
        "AND c.ts >= p.ts - INTERVAL 1 HOUR " +
        "WHERE p.event_type = 'purchase' AND c.event_type = 'click' " +
        "ORDER BY p.user_id, purchase_id, click_id")),

    // LEFT-OUTER batch twin (round-8 addendum): "purchases that never saw
    // a click" — the question the inner join can't answer. Streaming side
    // is the SAME StreamOps.clickToPurchase with joinType=leftOuter: both
    // inputs watermarked and the condition bounds event time on both ends,
    // so unmatched purchases emit null-padded exactly when the watermark
    // proves no matching click can still arrive, and join state evicts
    // (StreamingSpec pins the null-pad-after-watermark-close behavior).
    // Null click_id sorts need an explicit NULLS FIRST pin — Spark asc
    // defaults NULLS FIRST, DuckDB asc defaults NULLS LAST (§7.4.3).
    "stream_join_left_outer" -> Q(
      (s, d) => {
        val e = T(s, d, "events")
        StreamOps.clickToPurchase(
            e.filter(col("event_type") === "click"),
            e.filter(col("event_type") === "purchase"),
            joinType = "leftOuter")
          .orderBy(col("user_id"), col("purchase_id"),
            col("click_id").asc_nulls_first)
      },
      usEvents("SELECT p.user_id, p.event_id AS purchase_id, " +
        "c.event_id AS click_id FROM events p LEFT JOIN events c " +
        "ON p.user_id = c.user_id AND c.ts < p.ts " +
        "AND c.ts >= p.ts - INTERVAL 1 HOUR " +
        "AND c.event_type = 'click' " +
        "WHERE p.event_type = 'purchase' " +
        "ORDER BY p.user_id, purchase_id, click_id NULLS FIRST")),

    // Batch twin of StreamOps.enrichWithDim (stream–static broadcast
    // enrichment; stream ≡ batch asserted in StreamingSpec). The dim is
    // the synthetic user→nation segment map — broadcast, stateless.
    "stream_static_enrich" -> Q(
      (s, d) => StreamOps.enrichWithDim(T(s, d, "events"), T(s, d, "nation"))
        .orderBy(col("event_id")),
      "SELECT e.event_id, e.user_id, n.n_name AS segment, e.value " +
        "FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey " +
        "ORDER BY e.event_id"),

    // Interval join as a bucketed EQUI-join: probe side explodes to its
    // hour bucket and the next one, build side keys on its own bucket, so
    // the (0, 1h] range residual rides a hash join on (user_id, bucket)
    // instead of a sort-merge with an unbounded range frontier. Probe
    // amplification is exactly 2×; each qualifying pair matches in exactly
    // one bucket (the build row's own), so no dedup is needed. At 100 TB
    // this bounds both the shuffle key space and per-task match windows.
    // Result ≡ join_theta_range (same oracle text).
    "scale_range_bucket_join" -> Q(
      (s, d) => {
        val e = T(s, d, "events")
          .withColumn("bk", expr("unix_micros(ts) div 3600000000"))
        val probe = e
          .select(col("user_id"), col("event_id").as("a_id"),
            col("ts").as("a_ts"), col("bk"))
          .withColumn("bk", explode(array(col("bk"), col("bk") + 1)))
        val build = e.select(col("user_id").as("b_user"),
          col("event_id").as("b_id"), col("ts").as("b_ts"), col("bk").as("b_bk"))
        probe.join(build,
            col("user_id") === col("b_user") && col("bk") === col("b_bk") &&
              col("b_ts") > col("a_ts") &&
              col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("a_id"), col("b_id"))
          .orderBy(col("user_id"), col("a_id"), col("b_id"))
      },
      usEvents("SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id " +
        "FROM events a JOIN events b ON a.user_id = b.user_id " +
        "AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR " +
        "ORDER BY a.user_id, a_id, b_id")),

    // AQE skew-join — the lever an operator flips FIRST at 100 TB before
    // reaching for manual salting (scale_salted_agg is the by-hand twin).
    // A quarter of the fact rows collapse onto one hot key, the join is
    // forced to sort-merge (broadcast would hide the skew), and
    // spark.sql.adaptive.skewJoin splits the hot partition at runtime,
    // replicating the matching build rows to each split. Runs in a CLONED
    // session (same SparkContext, isolated conf) because demonstrating a
    // split at test scale needs tiny skew thresholds that must not leak
    // into other keys' plans. Result ≡ the plain join+agg (the oracle
    // proves the runtime rewrite is purely physical); ScaleSpec asserts
    // the executed plan actually split the hot partition.
    "scale_skew_join" -> Q(
      (s0, d) => {
        val s = skewSession(s0)
        val k = when(col("user_id") % 4 === 0, 0L).otherwise(col("user_id"))
        // AQE splits a skewed partition at MAP-OUTPUT-BLOCK granularity, so
        // the probe side must have >1 mapper feeding the join exchange — a
        // single-file local parquet scan is one map task and nothing can
        // split (a 100 TB fact has thousands of mappers; the round-robin
        // repartition models that, same as VectorSim.pairs).
        val fact = T(s, d, "events").select(k.as("k"), col("value"))
          .repartition(s.sparkContext.defaultParallelism)
        // localCheckpoint: OptimizeSkewedJoin pattern-matches SMJ whose
        // children are Sort-over-ShuffleStage DIRECTLY; the distinct's
        // HashAggregate between shuffle and sort would otherwise hide the
        // build side from the rule.
        val dim = T(s, d, "events").select(k.as("k")).distinct()
          .withColumn("dim", pmod(col("k"), lit(7L)))
          .pinned
        fact.join(dim.hint("merge"), "k")
          .groupBy(col("k"), col("dim"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
          .orderBy(col("k"))
      },
      "SELECT k, k % 7 AS dim, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value " +
        "FROM (SELECT CASE WHEN user_id % 4 = 0 THEN 0 ELSE user_id END AS k, " +
        "value FROM events) e GROUP BY k ORDER BY k"),

    // Dynamic partition pruning — the other half of the partition story
    // (scan_partition_pruned is the STATIC half). The fact is laid out
    // partitioned by o_year (the one-time ETL step writeOnce models); the
    // filter arrives on the DIM side only, so a static planner must scan
    // every fact partition. DPP turns the broadcast dim into a runtime
    // partition filter on the fact scan — at 100 TB this is the difference
    // between reading 2 year-partitions and reading all of them. Result ≡
    // filtering the fact directly (the oracle); ScaleSpec asserts the
    // executed plan carries the dynamicpruning subquery.
    "scale_dpp_join" -> Q(
      (s, d) => {
        val factDir = Scale.scratchDir("dpp_fact", d)
        val dimDir = Scale.scratchDir("dpp_dim", d)
        Scale.writeOnce(factDir) {
          T(s, d, "orders").withColumn("o_year", year(col("o_orderdate")))
            .write.mode("overwrite").partitionBy("o_year").parquet(factDir)
          // DPP's benefit estimator skips local relations, so the dim must
          // be file-backed too (same reason as ScaleSpec's probe).
          import s.implicits._
          (1990 to 2005).map(y => (y, s"era_${y / 2 * 2}")).toDF("dy", "label")
            .write.mode("overwrite").parquet(dimDir)
        }
        val fact = s.read.parquet(factDir)
        val dim = s.read.parquet(dimDir).filter(col("label") === "era_1996")
        fact.join(broadcast(dim), col("o_year") === col("dy"))
          .groupBy(big(col("o_year")).as("o_year"), col("label"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
          .orderBy(col("o_year"))
      },
      "SELECT year(o_orderdate) AS o_year, 'era_1996' AS label, " +
        "COUNT(*) AS n_orders, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price " +
        "FROM orders WHERE year(o_orderdate) IN (1996, 1997) " +
        "GROUP BY 1 ORDER BY o_year"),

    // Distributed global row numbering — the scale-safe replacement for
    // ROW_NUMBER() OVER (ORDER BY key) with no PARTITION BY (which runs as
    // ONE task — the exact trap evt_rfm_segments_approx removed). Three
    // steps, all parallel over data rows: (1) deterministic range bucketing
    // from the key's min/max (exact integer div — no sampling, so the two
    // consumers of `bucketed` cannot disagree on boundaries); (2) per-bucket
    // counts → cumulative offsets (a window over ≤16 ROWS, bounded by the
    // bucket count, never by data); (3) broadcast the offsets back and
    // number within each bucket. gid ≡ the global ROW_NUMBER (the oracle).
    "scale_global_ids" -> Q(
      (s, d) => {
        val nb = 16
        val docs = T(s, d, "documents").select(col("doc_id"), col("n_chars"))
        val bounds = docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        val bucketed = docs.crossJoin(broadcast(bounds))
          .withColumn("bk", expr(s"((doc_id - lo) * $nb) div (hi - lo + 1)"))
        val offsets = bucketed.groupBy(col("bk"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("off", coalesce(sum(col("cnt")).over(
            Window.orderBy(col("bk"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("bk"), col("off"))
        bucketed.join(broadcast(offsets), "bk")
          .select(col("doc_id"), col("n_chars"),
            (col("off") + row_number().over(
              Window.partitionBy(col("bk")).orderBy(col("doc_id"))))
              .cast("long").as("gid"))
          .orderBy(col("doc_id"))
      },
      "SELECT doc_id, n_chars, ROW_NUMBER() OVER (ORDER BY doc_id) AS gid " +
        "FROM documents ORDER BY doc_id"),

    // Runtime bloom-filter join pruning — the ROW-level sibling of
    // scale_dpp_join's partition-level pruning. The dim side carries a
    // selective filter; Spark's InjectRuntimeFilter builds a bloom filter
    // over the surviving dim keys and applies might_contain() at the FACT
    // SCAN, so non-matching fact rows die before the join shuffle instead
    // of after it. At 100 TB this shrinks the big side's exchange by the
    // dim filter's selectivity (~1/5 here). Forced to a shuffle join —
    // broadcast would already filter rows — in a cloned session because
    // the 10 GB application-side bar must stay cluster-scale everywhere
    // else. Result ≡ the plain join (oracle); ScaleSpec asserts the
    // might_contain filter sits on the fact scan.
    "scale_bloom_join" -> Q(
      (s0, d) => {
        val s = bloomSession(s0)
        val li = T(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"))
        val o = T(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderdate"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(big(year(col("o_orderdate"))).as("o_year"))
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_year"))
      },
      "SELECT year(o_orderdate) AS o_year, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderpriority = '1-URGENT' GROUP BY 1 ORDER BY o_year"),

    // Sorted data layout → parquet row-group skipping: the one-time ETL
    // sort that buys every future time-range scan its pruning. The fact is
    // range-partitioned then sorted WITHIN files on l_shipdate, so each
    // row group's [min,max] stats span a narrow slice and a pushed date
    // predicate skips whole row groups at read (footer-audited in
    // ScaleSpec). Two demo-vs-prod notes encoded here: Spark still writes
    // INT96 timestamps by default, which carry NO parquet stats — the
    // cloned session switches to TIMESTAMP_MICROS (the conf a 100 TB
    // deployment flips); and the tiny block size only forces multiple row
    // groups at test scale. Result ≡ the plain filtered scan (oracle).
    "scale_sorted_layout_scan" -> Q(
      (s0, d) => {
        val p = sortedLayoutDir(d)
        Scale.writeOnce(p) {
          val s = isoSession(s0, "layout")(
            "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
          T(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_shipdate"), col("l_quantity"))
            .repartitionByRange(4, col("l_shipdate"))
            .sortWithinPartitions(
              col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
            .write.mode("overwrite")
            .option("parquet.block.size", "65536")
            .option("parquet.page.size", "16384")
            .parquet(p)
        }
        s0.read.parquet(p)
          .filter(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
            col("l_shipdate") < expr("TIMESTAMP '1996-07-01 00:00:00'"))
          .groupBy(date_trunc("MONTH", col("l_shipdate")).as("month"))
          .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("month"))
      },
      "SELECT date_trunc('month', l_shipdate) AS month, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1996-07-01' GROUP BY 1 ORDER BY month"),

    // Z-ORDER data layout → row-group skipping on TWO dimensions at once.
    // A single-column sort (scale_sorted_layout_scan) buys pruning on one
    // predicate; interleaving the bits of (l_partkey, l_suppkey) into a
    // Morton code and sorting on THAT clusters the file along both axes,
    // so each row group's [min,max] stats are narrow on both columns and a
    // 2-D box filter skips most of the file whichever dimension it cuts —
    // the lever behind Delta/Iceberg `OPTIMIZE ZORDER BY` for fact tables
    // queried along two independent dimensions. The Morton code is pure
    // codegen'd bitwise ops (Scale.morton16, no UDF). morton16's
    // precondition is inputs < 2^16, so each key is first NORMALIZED into
    // 16-bit space by integer-dividing by ceil((max+1)/2^16) — computed
    // from a driver-side O(1) max fetch (the same fetch zorderBox already
    // does). At test sf the divisor is 1 (max partkey 20,000) and the code
    // is bit-identical to the raw interleave; at 100 TB key ranges the
    // division keeps the TOP bits of the actual range instead of silently
    // dropping the high bits — clustering degrades gracefully (coarser
    // cells) rather than collapsing. The box bounds are [5%,15%] of each
    // key's max in exact integer math so the key stays selective and
    // oracle-green at every sf. Result ≡ the plain filtered scan (the
    // oracle proves the rewrite is pure layout); the two-axis footer
    // audit lives in ScaleSpec.
    "scale_zorder_scan" -> Q(
      (s0, d) => {
        val p = zorderLayoutDir(d)
        Scale.writeOnce(p) {
          val mr = T(s0, d, "lineitem")
            .agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
          val (pDiv, sDiv) = (mr.getLong(0) / 65536L + 1L,
            mr.getLong(1) / 65536L + 1L)
          T(s0, d, "lineitem")
            .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
            .withColumn("zcode", Scale.morton16(
              expr(s"l_partkey div ${pDiv}L"), expr(s"l_suppkey div ${sDiv}L")))
            .repartitionByRange(4, col("zcode"))
            .sortWithinPartitions(col("zcode"))
            .drop("zcode")
            .write.mode("overwrite")
            .option("parquet.block.size", "65536")
            .option("parquet.page.size", "16384")
            .parquet(p)
        }
        val (pLo, pHi, sLo, sHi) = zorderBox(T(s0, d, "lineitem"))
        s0.read.parquet(p)
          .filter(col("l_partkey").between(pLo, pHi) &&
            col("l_suppkey").between(sLo, sHi))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy(col("l_suppkey"))
      },
      "SELECT l_suppkey, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price " +
        "FROM lineitem WHERE " +
        "l_partkey BETWEEN (SELECT 5*max(l_partkey)//100 FROM lineitem) " +
        "AND (SELECT 15*max(l_partkey)//100 FROM lineitem) " +
        "AND l_suppkey BETWEEN (SELECT 5*max(l_suppkey)//100 FROM lineitem) " +
        "AND (SELECT 15*max(l_suppkey)//100 FROM lineitem) " +
        "GROUP BY 1 ORDER BY l_suppkey"),

    // Interval-overlap join WITHOUT the nested loop: "which sessions
    // overlapped each campaign window" is a range-range join, which Spark
    // plans as BroadcastNestedLoopJoin (O(n·m) comparisons — dead at
    // 100 TB when both sides are large). The scale rewrite BINS both
    // interval sets to the days they cover (sequence+explode), equi-joins
    // on the day bucket — a plain hash join — and re-checks the exact
    // overlap on candidates. Each overlapping pair is emitted EXACTLY
    // once, with no distinct pass, via the count-once predicate: only the
    // bucket holding the later of the two interval starts counts (that day
    // is covered by both intervals, so the pair is guaranteed to meet
    // there and nowhere earlier). Blowup is bounded by interval span
    // (sessions ≤2 days, campaigns 3), not table size. ScaleSpec asserts
    // the plan carries a hash join and no nested loop.
    "scale_interval_bin_join" -> Q(
      (s, d) => {
        val sess = EventOps.sessionized(s, d)
          .groupBy(col("user_id"), col("session_seq"))
          .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
          .withColumn("s_d0", floor(col("s_start").cast("double") / 86400))
          .withColumn("s_d1", floor(col("s_end").cast("double") / 86400))
        val camp = T(s, d, "events")
          .select(date_trunc("DAY", col("ts")).as("c_start")).distinct()
          .filter(dayofmonth(col("c_start")) % 3 === 1)
          .withColumn("c_d0", floor(col("c_start").cast("double") / 86400))
        sess.withColumn("dn", explode(sequence(col("s_d0"), col("s_d1"))))
          .join(broadcast(camp.withColumn("dn",
            explode(sequence(col("c_d0"), col("c_d0") + 2)))), "dn")
          .filter(col("s_start") < col("c_start") + expr("INTERVAL 3 DAYS") &&
            col("c_start") <= col("s_end") &&
            col("dn") === greatest(col("s_d0"), col("c_d0")))
          .groupBy(col("c_start"))
          .agg(count(lit(1)).as("n_sessions"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("c_start"))
      },
      usEvents("WITH sess AS (SELECT user_id, session_seq, " +
        "MIN(ts) AS s_start, MAX(ts) AS s_end FROM (" +
        "SELECT user_id, event_id, ts, SUM(CASE WHEN prev_ts IS NULL OR " +
        "epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1 ELSE 0 END::BIGINT) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq " +
        "FROM (SELECT user_id, event_id, ts, lag(ts, 1) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts " +
        "FROM events) x) y GROUP BY 1, 2), " +
        "camp AS (SELECT DISTINCT date_trunc('day', ts) AS c_start " +
        "FROM events WHERE day(date_trunc('day', ts)) % 3 = 1) " +
        "SELECT c_start, COUNT(*) AS n_sessions, " +
        "COUNT(DISTINCT user_id)::BIGINT AS n_users " +
        "FROM sess JOIN camp ON s_start < c_start + INTERVAL 3 DAY " +
        "AND c_start <= s_end GROUP BY 1 ORDER BY c_start")),

    // The third AQE lever (skew split and runtime filters are the other
    // two): partition COALESCING. A two-level rollup shuffles on a
    // high-cardinality key first — at 100 TB that exchange wants thousands
    // of partitions — then the second, tiny exchange would waste a task
    // per configured partition; AQE merges the post-shuffle splits down to
    // the advisory size at runtime (AQEShuffleRead coalesced,
    // plan-asserted in ScaleSpec). No session clone needed: coalescing is
    // on by default — the key demonstrates the default doing its job.
    "scale_aqe_coalesce" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        // uv stays DECIMAL through both levels (a per-user double would
        // re-introduce order-dependent summation at the rollup)
        .agg(sum(dec(col("value"))).as("uv"), count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("uv")).cast("double").as("total_value"),
          sum(col("n")).as("n_events"))
        .orderBy(col("event_type")),
      "SELECT event_type, COUNT(*) AS n_users, " +
        "CAST(SUM(uv) AS DOUBLE) AS total_value, SUM(n)::BIGINT AS n_events " +
        "FROM (SELECT user_id, event_type, " +
        "SUM(CAST(value AS DECIMAL(18,4))) AS uv, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2) t GROUP BY 1 ORDER BY event_type"),

    // Join-key skew diagnosis — the measurement that DECIDES between the
    // plain, salted (scale_salted_agg) and AQE-split (scale_skew_join)
    // strategies: a log2-bucketed counts-of-counts histogram of rows per
    // key (bucket b holds keys seen [2^b, 2^(b+1)) times). Two hash aggs:
    // the corpus-sized per-key count (map-side combinable) then a ≤64-row
    // bucket rollup — NEVER a percentile over the per-key frame (exact
    // percentiles buffer the keys-sized frame in one task; at 1e9 keys
    // that is the OOM this key exists to prevent). Share is one double
    // division against a broadcast 1-row total.
    "scale_skew_profile" -> Q(
      (s, d) => {
        val perKey = T(s, d, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        val tot = perKey.agg(sum(col("cnt")).as("total"))
        perKey
          .withColumn("bucket", big(length(bin(col("cnt"))) - 1))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
            max(col("cnt")).as("max_cnt"))
          .crossJoin(broadcast(tot))
          .withColumn("row_share",
            round(col("n_rows").cast("double") / col("total"), 4))
          .select(col("bucket"), col("n_keys"), col("n_rows"),
            col("max_cnt"), col("row_share"))
          .orderBy(col("bucket"))
      },
      "WITH pk AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1), " +
        "t AS (SELECT SUM(cnt)::BIGINT AS total FROM pk) " +
        "SELECT (length(bin(cnt)) - 1)::BIGINT AS bucket, " +
        "COUNT(*)::BIGINT AS n_keys, SUM(cnt)::BIGINT AS n_rows, " +
        "MAX(cnt)::BIGINT AS max_cnt, " +
        "round(CAST(SUM(cnt) AS DOUBLE) / MAX(total), 4) AS row_share " +
        "FROM pk CROSS JOIN t GROUP BY 1 ORDER BY bucket"),

    // Small-file compaction on a hive-partitioned write — the #1
    // operational failure mode of a 100 TB lake: a naive
    // `df.write.partitionBy(k)` emits one file per (task × key), so a
    // 1000-task stage over 5 keys lands 5,000 files and the NEXT job's
    // planning chokes on footers. The fix is ONE hash shuffle on the
    // partition key before the write — every key's rows land in exactly
    // one task, so each hive directory holds exactly one file (asserted
    // against the written tree in ScaleSpec). The oracle proves the
    // shuffle+layout is a pure rewrite: the compacted lake reads back ≡
    // the plain table. ts is excluded from the payload (parquet ns
    // round-trip is a different key's concern, §7.4.2).
    "scale_compact_write" -> Q(
      (s0, d) => {
        val p = compactLayoutDir(d)
        Scale.writeOnce(p) {
          T(s0, d, "events")
            .select(col("event_id"), col("user_id"), col("value"),
              col("event_type"))
            .repartition(col("event_type"))
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(p)
        }
        s0.read.parquet(p)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"),
            max(col("event_id")).as("max_id"), dsum(col("value")).as("total"))
          .orderBy(col("event_type"))
      },
      "SELECT event_type, COUNT(*) AS n, MIN(event_id) AS min_id, " +
        "MAX(event_id) AS max_id, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total " +
        "FROM events GROUP BY 1 ORDER BY event_type"),

    // PARTITION EVOLUTION on read (r13) — the Iceberg/Delta lake reality
    // scale_compact_write's single-spec layout doesn't cover: a table's
    // partition spec CHANGES mid-life (day → (day, hour)) and history is
    // NOT rewritten — old files keep the old layout forever and readers
    // must plan across both. The scratch lake has gen=0 day-partitioned
    // (hour an ordinary data column) and gen=1 (day, hour)-partitioned;
    // the reader normalizes both generations to one logical table under
    // ONE explicit schema (hive-inferred partition ints would otherwise
    // come back a different type than the data columns — and a
    // normalizing cast would sit between the filter and pruning). A
    // (day, hour) predicate then becomes TWO-level PartitionFilters on
    // the evolved generation and day-pruning + a pushed data filter on
    // the legacy one — Iceberg's residual-filter semantics, ScaleSpec
    // plan-asserts exactly that split. The graded read is a full
    // per-(day, hour) rollup; the oracle proves the two-layout lake is a
    // pure re-layout of the events table (values identical).
    "scale_partition_evolution" -> Q(
      (s0, d) => evolvedLake(s0, d)
        .groupBy(col("day"), col("hour"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy(col("day"), col("hour")),
      usEvents("SELECT epoch_us(ts) // 86400000000 AS day, " +
        "(epoch_us(ts) // 3600000000) % 24 AS hour, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total " +
        "FROM events GROUP BY 1, 2 ORDER BY day, hour")),

    // AQE lever three (after the skew split and partition coalescing):
    // runtime JOIN-STRATEGY SWITCH. The static planner cannot know the
    // filtered dim's size (static broadcast is disabled outright in the
    // cloned session: autoBroadcastJoinThreshold = -1, so it MUST plan a
    // shuffle join); after the dim side's shuffle stage materializes, AQE
    // reads its actual bytes and rewrites the SMJ into a broadcast hash
    // join (adaptive.autoBroadcastJoinThreshold) — the fact side's
    // remaining shuffle is skipped. This is the 100 TB lever for
    // "dimension filtered to nothing at runtime": plan-asserted in
    // ScaleSpec (BroadcastHashJoin in the FINAL adaptive plan despite
    // static broadcast being off), oracled ≡ the plain join.
    "scale_aqe_broadcast_switch" -> Q(
      (s0, d) => {
        val s = isoSession(s0, "aqebhj")(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB")
        val o = T(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        T(s, d, "lineitem").join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy(col("l_returnflag"))
      },
      "SELECT l_returnflag, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) " +
        "AS sum_price FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderpriority = '1-URGENT' GROUP BY 1 ORDER BY l_returnflag"),

    // Schema evolution on read — the lake reality that half a pipeline's
    // history predates a column: batch 1 lands WITHOUT `value`, batch 2
    // adds it; `mergeSchema` unions the footers and null-fills the old
    // files. The aggregate proves the evolved read end-to-end (old rows
    // count, only new rows carry values) against an oracle that derives
    // the same split from the plain table. mergeSchema costs a
    // footer-union at planning time — the reason it is OFF by default at
    // 100 TB file counts and ON here explicitly, per-read, not globally.
    "source_schema_evolution" -> Q(
      (s0, d) => {
        val p = Scale.scratchDir("schema_evo", d)
        Scale.writeOnce(p) {
          val e = T(s0, d, "events")
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"))
          e.filter(col("event_id") % 2 === 0).drop("value")
            .write.mode("overwrite").parquet(s"$p/batch=1")
          e.filter(col("event_id") % 2 === 1)
            .write.mode("overwrite").parquet(s"$p/batch=2")
        }
        s0.read.option("mergeSchema", "true").parquet(p)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("value")).as("n_with_value"),
            dsum(coalesce(col("value"), lit(0.0))).as("total_value"))
          .orderBy(col("event_type"))
      },
      "SELECT event_type, COUNT(*) AS n_rows, " +
        "SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT " +
        "AS n_with_value, " +
        "CAST(SUM(CASE WHEN event_id % 2 = 1 " +
        "THEN CAST(value AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE) " +
        "AS total_value " +
        "FROM events GROUP BY 1 ORDER BY event_type"),

    // Exchange (shuffle-stage) reuse — the scale lever that makes
    // multi-consumer reports cheap: an extremes report (top-5 AND
    // bottom-5 users by event count) consumes the per-user aggregate
    // TWICE, and AQE materializes the scan + partial agg + shuffle ONCE,
    // feeding the second consumer a ReusedExchange of the same stage
    // (plan-asserted in ScaleSpec). At 100 TB that's one corpus scan
    // instead of two for every "summary + extremes" dashboard. The two
    // consumers must be canonically IDENTICAL subtrees: a join on a
    // TRANSFORMED key (e.g. day = day + 1) pushes different isnotnull
    // filters below each agg copy and silently kills the reuse — the
    // negative shape this key's comment exists to warn about. Each
    // limit rides TakeOrderedAndProject (per-partition top-k, never a
    // global sort).
    "scale_exchange_reuse" -> Q(
      (s, d) => {
        val agg = T(s, d, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        val top = agg.orderBy(col("n").desc, col("user_id")).limit(5)
          .withColumn("which", lit("top"))
        val bottom = agg.orderBy(col("n").asc, col("user_id")).limit(5)
          .withColumn("which", lit("bottom"))
        top.unionAll(bottom)
          .orderBy(col("which"), col("n").desc, col("user_id"))
      },
      usEvents("WITH c AS (SELECT user_id, COUNT(*) AS n FROM events " +
        "GROUP BY 1), " +
        "t AS (SELECT user_id, n, 'top' AS which FROM c " +
        "ORDER BY n DESC, user_id LIMIT 5), " +
        "b AS (SELECT user_id, n, 'bottom' AS which FROM c " +
        "ORDER BY n ASC, user_id LIMIT 5) " +
        "SELECT user_id, n, which FROM (SELECT * FROM t UNION ALL " +
        "SELECT * FROM b) u ORDER BY which, n DESC, user_id")),

    // Rendezvous (highest-random-weight) sharding (round-9 addendum): the
    // shard-assignment discipline a 100 TB corpus store actually wants —
    // doc → argmax over shards of md5(doc:shard), so REMOVING a shard
    // moves ONLY the docs that lived on it (1/N of the corpus) instead of
    // rehash-everything's (N-1)/N. The key materializes both worlds (full
    // 8-shard ring, then shard 7 drained) and rolls up the transition
    // matrix; every off-diagonal row must have shard_full = 7 — the
    // minimal-movement invariant, asserted in ScaleSpec. Shape at scale:
    // assignment is a PURE per-row expression (an 8-entry struct array →
    // array_max, whole-stage codegen, zero shuffle, no per-shard explode);
    // only the |shards|²-bounded rollup shuffles. The oracle reaches the
    // same argmax through an unnest + QUALIFY row_number formulation —
    // different plan, same math, so the equivalence is semantic, not
    // copied. Ties are impossible in practice (128-bit hash equality);
    // the struct comparator breaks them by shard index deterministically.
    "scale_rendezvous_shard" -> Q(
      (s, d) => {
        def hrw(n: Int): org.apache.spark.sql.Column =
          array_max(array((0 until n).map(i =>
          struct(
            md5(concat_ws(":", col("doc_id"), lit(i))).as("h"),
            lit(i.toLong).as("shard"))): _*)).getField("shard")
        T(s, d, "documents")
          .select(hrw(8).as("shard_full"), hrw(7).as("shard_drained"))
          .groupBy(col("shard_full"), col("shard_drained"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("shard_full"), col("shard_drained"))
      },
      "WITH a8 AS (SELECT doc_id, shard AS shard_full FROM (" +
        "SELECT d.doc_id, s.shard, row_number() OVER (PARTITION BY d.doc_id " +
        "ORDER BY md5(d.doc_id::VARCHAR || ':' || s.shard::VARCHAR) DESC, s.shard DESC) AS rn " +
        "FROM documents d CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS shard) s) t " +
        "WHERE rn = 1), " +
        "a7 AS (SELECT doc_id, shard AS shard_drained FROM (" +
        "SELECT d.doc_id, s.shard, row_number() OVER (PARTITION BY d.doc_id " +
        "ORDER BY md5(d.doc_id::VARCHAR || ':' || s.shard::VARCHAR) DESC, s.shard DESC) AS rn " +
        "FROM documents d CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS shard) s) t " +
        "WHERE rn = 1) " +
        "SELECT shard_full, shard_drained, COUNT(*)::BIGINT AS n_docs " +
        "FROM a8 JOIN a7 USING (doc_id) GROUP BY 1, 2 ORDER BY 1, 2"),

    // FILE-level manifest pruning (round-11) — the data-skipping core of
    // Iceberg/Delta, one level above scale_sorted_layout_scan's row-group
    // skipping: a per-file [min,max] stats MANIFEST decides which files
    // are read AT ALL. Layout: lineitem range-partitioned 8 ways on
    // l_orderkey (one-time ETL, writeOnce); manifest: ONE stats pass over
    // the layout (amortized — a real table maintains it incrementally on
    // write), output one row per FILE. Planning happens on the METADATA
    // plane, exactly as an Iceberg/Delta planner does: the driver reads
    // the file-count-sized manifest (this is the repo's one collect(),
    // and it is collect-of-metadata by construction — never data rows;
    // the scalar broadcast-back note in VERDICT r10 covers the same
    // boundary) and constructs the scan over ONLY the files whose range
    // intersects the predicate — at 100 TB with daily layouts this is
    // what turns a full-table listing into a handful of file opens.
    // Bounds are [30%, 45%] of max key in exact integer math (the
    // zorderBox discipline) so the key is selective and oracle-green at
    // every sf; result ≡ the plain filtered scan (oracle); the
    // files-actually-skipped assertion lives in ScaleSpec.
    // Cost-based join REORDER (round-12) — the optimizer lever the rest
    // of the scale family doesn't cover: with table/column statistics
    // (ANALYZE TABLE, the metastore numbers a lake keeps per snapshot)
    // and spark.sql.cbo.joinReorder on, Catalyst's DP reorderer rewrites
    // a DELIBERATELY bad declared order — fact ⋈ fact first, selective
    // dim last — into the selective-first shape. At 100 TB the declared
    // order of a 5-way analyst join is routinely wrong by orders of
    // magnitude of intermediate rows; stats + CBO is how the engine
    // stops paying for it. The three tables land once per JVM as
    // stats'd catalog tables (writeOnce — at scale this is the
    // metastore, maintained by the lake, not per query); the query runs
    // on an isolated CBO-enabled session so the flag never leaks into
    // sibling keys. ScaleSpec asserts the reorder actually happened
    // (the optimized plan joins customer⋈nation before orders, and the
    // no-CBO twin plan differs); the oracle proves values are unchanged.
    "scale_cbo_reorder" -> Q(
      (s0, d) => cboQuery(s0, d),
      "SELECT o_orderpriority, COUNT(*) AS n_orders, " +
        "COUNT(DISTINCT o_custkey)::BIGINT AS n_customers " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE n_name = 'NATION_7' GROUP BY 1 ORDER BY o_orderpriority"),

    // Snapshot TIME TRAVEL (round-12) — the AS OF read every versioned
    // lake table (Delta/Iceberg) offers, on the engine's own marker-last
    // epoch protocol: published epochs are immutable directories, so an
    // old version stays byte-stable while newer versions land beside it,
    // and a reader that pins epoch 0 is isolated from concurrent upserts
    // for free — no locks, the immutability IS the isolation. The key
    // publishes two versions of a rollup (epoch 0 = the first three
    // order loads, o_orderkey % 4 != 3; epoch 1 = all four), reads
    // epoch 0 via readEpoch (time travel), epoch 1 via readLatest, and
    // emits the per-priority version diff — the audit query ("what did
    // this table say last week?") that motivates time travel. Replays
    // are served by Scale.writeOnce. Both snapshots are |priorities|-row
    // aggregates: versioned state is rollup-sized, never corpus-sized.
    "scale_time_travel" -> Q(
      (s, d) => {
        val dir = Scale.scratchDir("timetravel", d)
        val KSP = graft.streaming.KeepSetPublish
        Scale.writeOnce(dir) {
          val v0 = T(s, d, "orders")
            .filter(col("o_orderkey") % 4 =!= 3)
            .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
          val v1 = T(s, d, "orders")
            .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
          KSP.publish(v0, dir, 0L)
          KSP.publish(v1, dir, 1L)
        }
        val old = KSP.readEpoch(s, dir, 0L)
          .select(col("o_orderpriority"), col("n").as("n_v0"))
        val cur = KSP.readLatest(s, dir)
          .select(col("o_orderpriority"), col("n").as("n_v1"))
        old.join(cur, "o_orderpriority")
          .withColumn("n_added", col("n_v1") - col("n_v0"))
          .orderBy(col("o_orderpriority"))
      },
      "SELECT o_orderpriority, " +
        "SUM(CASE WHEN o_orderkey % 4 <> 3 THEN 1 ELSE 0 END)::BIGINT AS n_v0, " +
        "COUNT(*) AS n_v1, " +
        "SUM(CASE WHEN o_orderkey % 4 = 3 THEN 1 ELSE 0 END)::BIGINT AS n_added " +
        "FROM orders GROUP BY 1 ORDER BY o_orderpriority"),

    "scale_manifest_prune" -> Q(
      (s0, d) => {
        val (files, _, (lo, hi)) = manifestPlan(s0, d)
        s0.read.parquet(files: _*)
          .filter(col("l_orderkey").between(lo, hi))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_orderkey BETWEEN (SELECT max(l_orderkey) * 30 // 100 " +
        "FROM lineitem) AND (SELECT max(l_orderkey) * 45 // 100 FROM lineitem) " +
        "ORDER BY l_orderkey, l_linenumber"),

    // Snapshot EXPIRY (round-12) — the expire_snapshots maintenance that
    // completes the epoch lifecycle (publish → time travel → EXPIRE):
    // without retention GC a versioned table's storage grows without
    // bound, which at 100 TB is the difference between a lake and a
    // landfill. Three progressive loads publish as epochs 0/1/2, then
    // expire(keepLast=1) retires 0 and 1 MARKER-FIRST (readers stop
    // trusting before bytes vanish — the exact inverse of the marker-last
    // publish, so a crash anywhere leaves live-or-invisible, never
    // half-trusted) and drops tombstones that (a) make the audit count
    // replay-stable and (b) retire the ids forever — republishing an
    // expired id is rejected, or a pinned time-travel reader would
    // silently read different data. The oracle recomputes the surviving
    // epoch's rollup and pins epochs_expired=2 — the protocol's exact
    // cumulative ledger on every run, first or replayed. ScaleSpec
    // asserts the filesystem half: dirs gone, latest intact, readEpoch
    // on a retired id throws, reuse throws.
    "scale_snapshot_expire" -> Q(
      (s, d) => {
        val dir = Scale.scratchDir("snapexpire", d)
        val KSP = graft.streaming.KeepSetPublish
        Scale.writeOnce(dir) {
          // a retried failed run is self-healing: publish() no-ops on
          // committed epochs, and expire runs only once all three landed
          for (e <- 0L to 2L) {
            val v = T(s, d, "orders")
              .filter(col("o_orderkey") % 4 <= e)
              .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
            KSP.publish(v, dir, e): Unit
          }
          KSP.expire(dir, keepLast = 1): Unit
        }
        KSP.readLatest(s, dir)
          .select(col("o_orderpriority"), col("n"),
            lit(KSP.expiredEpochs(dir).size.toLong).as("epochs_expired"))
          .orderBy(col("o_orderpriority"))
      },
      "SELECT o_orderpriority, " +
        "SUM(CASE WHEN o_orderkey % 4 <= 2 THEN 1 ELSE 0 END)::BIGINT AS n, " +
        "2::BIGINT AS epochs_expired " +
        "FROM orders GROUP BY 1 ORDER BY o_orderpriority"),
  )

  /** Manifest-layout scratch path for input dir `d` (exposed for
    * ScaleSpec's file-skip audit). */
  def manifestLayoutDir(d: String): String =
    Scale.scratchDir("manifest_layout", d)

  /** The metadata-plane planning step of `scale_manifest_prune`: writes
    * the range-partitioned layout once, builds the per-file [min,max]
    * manifest, and returns (files intersecting the bounds, total file
    * count, bounds). Exposed so ScaleSpec can assert real file skipping. */
  def manifestPlan(s0: org.apache.spark.sql.SparkSession,
      d: String): (Seq[String], Long, (Long, Long)) = {
    val p = manifestLayoutDir(d)
    Scale.writeOnce(p) {
      T(s0, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
        .write.mode("overwrite").parquet(p)
    }
    val manifest = s0.read.parquet(p)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min(col("l_orderkey")).as("min_k"),
        max(col("l_orderkey")).as("max_k"))
      .orderBy(col("file"))
      .collect() // metadata plane: one row per FILE, never data rows
    val mx = T(s0, d, "lineitem").agg(max(col("l_orderkey"))).head().getLong(0)
    val (lo, hi) = (mx * 30 / 100, mx * 45 / 100)
    val selected = manifest.toSeq
      .filter(r => r.getLong(2) >= lo && r.getLong(1) <= hi)
      .map(_.getString(0))
    (selected, manifest.length.toLong, (lo, hi))
  }
}
