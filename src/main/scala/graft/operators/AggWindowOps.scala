package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, T}
import graft.Dsl._
import graft.operators.PinSyntax._

/** SURVEY.md §2.D aggregations + §2.E window functions.
  *
  * Reference semantics ([PK]): gauge rollups, unique-key gauges, top-N
  * gauges, delta-between-events and running-gauge signals. All map to Spark
  * hash aggregates (partial+final, map-side combine free) and window execs.
  * Determinism: decimal-cast double sums, unique tie-breakers in every
  * window ORDER BY (SURVEY §7.4).
  */
object AggWindowOps {

  // Per-user event window, deterministically ordered (event_id tiebreak).
  private def userW = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  val defs: Seq[(String, Q)] = Seq(

    // ---- §2.D aggregations --------------------------------------------
    // TPC-H Q1 shape — also the flagship `entry` query.
    "agg_group_sums" -> Q(
      (s, d) => T(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price, " +
        "CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    "agg_global" -> Q(
      (s, d) => T(s, d, "lineitem")
        .agg(
          dsum(col("l_extendedprice")).as("total_price"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("n_rows")),
      "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price, " +
        "MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty, COUNT(*) AS n_rows " +
        "FROM lineitem"),

    "agg_count_distinct" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      "SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // KMV raw-buffer sketch (TypedImperativeAggregate, SURVEY §2.L): exact
    // below k=256 distinct, bounded-error above; partition-order-independent.
    // Engine-specific sketch, so no oracle; KmvSpec pins it to exact counts.
    "agg_kmv_distinct" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvDistinct.kmvDistinct(s)(col("user_id"))
          .as("kmv_users"))
        .orderBy(col("event_type")),
      None),

    // HLL++ sketch — non-portable across engines, so no oracle (SURVEY §2.D).
    "agg_approx_distinct" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("event_type"))
        .agg(big(approx_count_distinct(col("user_id"))).as("approx_users"))
        .orderBy(col("event_type")),
      None),

    // RE-AGGREGATABLE sketch columns (DataSketches HLL, SURVEY §2.L): the
    // 100 TB pattern is to persist per-(key, day) sketches and UNION them
    // at query time instead of rescanning raw data — a lossless merge, so
    // the two-level plan's estimate is BIT-EQUAL to the single-level one
    // (pinned in PropertySpec). Binary sketches are engine-specific ⇒ no
    // DuckDB oracle.
    // Heavy hitters via Misra–Gries sketch + exact recount: the sketch
    // pass holds O(k) counters per partition and guarantees every item
    // with freq > n/(k+1) survives as a candidate; the recount join then
    // filters candidates by the exact integer threshold (10·n > total for
    // k=9), so the END RESULT is deterministic and equals the plain
    // GROUP BY/HAVING — which is exactly what the oracle runs. At 100 TB
    // the sketch is what makes the first pass bounded-memory.
    "agg_heavy_hitters" -> Q(
      (s, d) => {
        val e = T(s, d, "events")
        val cand = e
          .agg(graft.functions.MisraGries.mgCandidates(s, 9)(col("event_type"))
            .as("cands"))
          .select(explode(col("cands")).as("event_type"))
        // total = sum over the already-grouped counts (a window over a
        // handful of post-agg rows) — NOT a third scan of events
        e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
          .withColumn("total",
            sum(col("n")).over(org.apache.spark.sql.expressions.Window
              .partitionBy()))
          .join(cand, "event_type")
          .filter(col("n") * 10 > col("total"))
          .select(col("event_type"), col("n"))
          .orderBy(col("event_type"))
      },
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1 " +
        "HAVING COUNT(*) * 10 > (SELECT COUNT(*) FROM events) ORDER BY 1"),

    "agg_hll_sketch_union" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk")) // stage 1: daily sketch
        .groupBy(col("event_type")) // stage 2: merge sketches, not rows
        .agg(big(hll_sketch_estimate(hll_union_agg(col("sk"))))
          .as("approx_users"))
        .orderBy(col("event_type")),
      None),

    "agg_grouping_sets" -> Q(
      (s, d) => T(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"),
          big(grouping(col("l_returnflag"))).as("g_rf"),
          big(grouping(col("l_linestatus"))).as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
        "GROUPING(l_returnflag)::BIGINT AS g_rf, GROUPING(l_linestatus)::BIGINT AS g_ls " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    // Period-over-period change (round-10) — the growth metric every
    // dashboard leads with: each user-day's event count vs the user's
    // previous ACTIVE day, as an exact rational (delta and base emitted
    // as BIGINTs, plus the conventional percentage as ONE IEEE division —
    // identical both engines). First active day has no base → NULLs.
    "win_pct_change" -> Q(
      (s, d) => {
        val daily = T(s, d, "events")
          .groupBy(col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("dayn"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("dayn"))
        daily
          .withColumn("prev_n", lag(col("n"), 1).over(w))
          .select(col("user_id"), col("dayn"), col("n"), col("prev_n"),
            (col("n") - col("prev_n")).as("delta"),
            ((col("n") - col("prev_n")).cast("double") * 100.0 /
              col("prev_n").cast("double")).as("pct_change"))
          .orderBy(col("user_id"), col("dayn"))
      },
      usEvents("SELECT user_id, dayn, n, prev_n, (n - prev_n)::BIGINT " +
        "AS delta, CAST(n - prev_n AS DOUBLE) * 100.0 / " +
        "CAST(prev_n AS DOUBLE) AS pct_change FROM (" +
        "SELECT user_id, dayn, n, lag(n) OVER (PARTITION BY user_id " +
        "ORDER BY dayn) AS prev_n FROM (" +
        "SELECT user_id, epoch_us(ts) // 86400000000 AS dayn, " +
        "COUNT(*)::BIGINT AS n FROM events GROUP BY 1, 2) daily) t " +
        "ORDER BY user_id, dayn")),

    // Rolling MEDIAN (round-10) — the robust-trend window the moving
    // average family lacks (one spike ruins a mean; the median shrugs):
    // per user, the median of the last 5 event values. Spark has no
    // windowed median, so the frame's values are collected (bounded: ≤ 5
    // elements), sorted, and the middle picked explicitly — odd count
    // takes the middle element, even count averages the two middles,
    // matching DuckDB's continuous-interpolation `median() OVER` exactly.
    // Values quantized to 0.1-cent integers first so the only double ever
    // produced is ONE exact-integer halving. Bounded frame ⇒ O(5 log 5)
    // per row, shuffle only on user_id.
    "win_rolling_median" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
        T(s, d, "events")
          .select(col("event_id"), col("user_id"),
            floor(col("value") * 10000).cast("long").as("vq"), col("ts"))
          .withColumn("arr", sort_array(collect_list(col("vq")).over(w)))
          .withColumn("n", size(col("arr")).cast("long"))
          .select(col("event_id"), col("user_id"), col("n").as("n_in_frame"),
            when(col("n") % 2 === 1,
              element_at(col("arr"), ((col("n") + 1L) / 2L).cast("int"))
                .cast("double"))
              .otherwise((element_at(col("arr"), (col("n") / 2L).cast("int")) +
                element_at(col("arr"), (col("n") / 2L + 1L).cast("int")))
                .cast("double") / 2.0).as("median_q"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, user_id, " +
        "COUNT(*) OVER w AS n_in_frame, median(vq) OVER w AS median_q " +
        "FROM (SELECT event_id, user_id, ts, " +
        "CAST(floor(value * 10000) AS BIGINT) AS vq FROM events) t " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) ORDER BY event_id")),

    // EXPLICIT grouping sets (round-10) — the third of the trio: CUBE is
    // every subset, ROLLUP is hierarchy prefixes, GROUPING SETS is an
    // arbitrary hand-picked list — here ((rf), (ls), ()): per-flag totals,
    // per-status totals, and the grand total, WITHOUT the (rf, ls) cross
    // stratum either sibling would force. Same single-scan Expand plan.
    "agg_grouping_sets_explicit" -> Q(
      (s, d) => T(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"),
          big(grouping(col("l_returnflag"))).as("g_rf"),
          big(grouping(col("l_linestatus"))).as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
        "GROUPING(l_returnflag)::BIGINT AS g_rf, " +
        "GROUPING(l_linestatus)::BIGINT AS g_ls FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) " +
        "ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, " +
        "l_linestatus ASC NULLS FIRST"),

    // ROLLUP over a time HIERARCHY (round-10) — the sibling of the CUBE key
    // above: year ⊃ month subtotals plus the grand total, the report shape
    // every finance rollup ships. Distinct surface from CUBE: rollup emits
    // only the hierarchy's prefixes (no month-without-year stratum), which
    // is what makes it correct for nested dimensions. Same Expand-based
    // plan (one scan, partial aggs per grouping set) and the same
    // grouping-id + NULLS FIRST ordering discipline as agg_grouping_sets.
    "agg_rollup_hierarchy" -> Q(
      (s, d) => T(s, d, "orders")
        .select(big(year(col("o_orderdate"))).as("yr"),
          big(month(col("o_orderdate"))).as("mo"), col("o_totalprice"))
        .rollup(col("yr"), col("mo"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"),
          big(grouping(col("yr"))).as("g_yr"), big(grouping(col("mo"))).as("g_mo"))
        .orderBy(col("g_yr"), col("g_mo"),
          col("yr").asc_nulls_first, col("mo").asc_nulls_first),
      "SELECT yr, mo, COUNT(*) AS n_orders, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue, " +
        "GROUPING(yr)::BIGINT AS g_yr, GROUPING(mo)::BIGINT AS g_mo FROM (" +
        "SELECT year(o_orderdate)::BIGINT AS yr, " +
        "month(o_orderdate)::BIGINT AS mo, o_totalprice FROM orders) t " +
        "GROUP BY ROLLUP(yr, mo) " +
        "ORDER BY g_yr, g_mo, yr ASC NULLS FIRST, mo ASC NULLS FIRST"),

    "agg_having" -> Q(
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
        .filter(col("n_orders") >= 15)
        .orderBy(col("o_custkey")),
      "SELECT o_custkey, COUNT(*) AS n_orders, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend " +
        "FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15 ORDER BY o_custkey"),

    "agg_distinct_rows" -> Q(
      (s, d) => T(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem " +
        "ORDER BY l_returnflag, l_linestatus"),

    // Ordered per-user event trail, emitted as a CSV string so the cross-
    // engine compare avoids array-type hashing differences.
    "agg_collect_sorted" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("user_id"))
        .agg(concat_ws(",",
          transform(
            sort_array(collect_list(struct(col("event_id"), col("event_type")))),
            x => x.getField("event_type"))).as("trail"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id")),
      "SELECT user_id, string_agg(event_type, ',' ORDER BY event_id) AS trail, " +
        "COUNT(*) AS n FROM events GROUP BY user_id ORDER BY user_id"),

    // Exact interpolated median per group: midpoint of the two middle
    // values — (a+b)/2 is exact IEEE in both engines.
    "agg_percentile_median" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("median_value"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      "SELECT event_type, median(value) AS median_value, COUNT(*) AS n " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // Quartile spread per group: exact interpolated p25/p75 + IQR (Spark
    // percentile == DuckDB quantile_cont linear interpolation).
    "agg_percentile_multi" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.25)").as("p25"),
          expr("percentile(value, 0.75)").as("p75"),
          (expr("percentile(value, 0.75)") - expr("percentile(value, 0.25)"))
            .as("iqr"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      "SELECT event_type, quantile_cont(value, 0.25) AS p25, " +
        "quantile_cont(value, 0.75) AS p75, " +
        "quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr, " +
        "COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type"),

    // Pivot: per-user event-type rollup to columns (ref: dashboard gauge
    // matrix). Oracle uses the portable CASE formulation.
    "agg_pivot" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "error", "signup"))
        .agg(sum(dec(col("value"))).cast("double"))
        .na.fill(0.0)
        .orderBy(col("user_id")),
      "SELECT user_id, " +
        Seq("click", "view", "purchase", "error", "signup").map(t =>
          s"COALESCE(CAST(SUM(CAST(CASE WHEN event_type = '$t' THEN value END " +
            s"AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS $t").mkString(", ") +
        " FROM events GROUP BY user_id ORDER BY user_id"),

    // Null-handling suite: coalesce / nullif / fill on a sparsified column.
    "fn_null_handling" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("v_or_null", when(col("value") > 100.0, col("value")))
        .select(col("event_id"),
          col("v_or_null"),
          coalesce(col("v_or_null"), lit(-1.0)).as("v_coalesced"),
          nullif(col("event_type"), lit("error")).as("type_nullif"),
          col("v_or_null").isNull.as("was_null"))
        .orderBy(col("event_id")),
      "SELECT event_id, v_or_null, COALESCE(v_or_null, -1.0) AS v_coalesced, " +
        "NULLIF(event_type, 'error') AS type_nullif, v_or_null IS NULL AS was_null " +
        "FROM (SELECT event_id, event_type, CASE WHEN value > 100.0 THEN value END " +
        "AS v_or_null FROM events) t ORDER BY event_id"),

    // ---- §2.E window functions ----------------------------------------
    "win_rank_topk_group" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("rn", big(row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("value").desc, col("event_id")))))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("rn"), col("event_id"), col("value"))
        .orderBy(col("event_type"), col("rn")),
      "SELECT event_type, rn, event_id, value FROM (" +
        "SELECT event_type, event_id, value, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY value DESC, event_id)::BIGINT AS rn " +
        "FROM events) t WHERE rn <= 3 ORDER BY event_type, rn"),

    "win_rank_dense" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          big(rank().over(Window.partitionBy(col("event_type"))
            .orderBy(col("value").desc, col("event_id")))).as("rnk"),
          big(dense_rank().over(Window.partitionBy(col("event_type"))
            .orderBy(col("value").desc, col("event_id")))).as("drnk"))
        .orderBy(col("event_id")),
      "SELECT event_id, event_type, value, " +
        "rank() OVER (PARTITION BY event_type ORDER BY value DESC, event_id)::BIGINT AS rnk, " +
        "dense_rank() OVER (PARTITION BY event_type ORDER BY value DESC, event_id)::BIGINT AS drnk " +
        "FROM events ORDER BY event_id"),

    "win_lag_lead" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(userW).as("prev_value"),
          lead(col("value"), 1).over(userW).as("next_value"))
        .orderBy(col("event_id")),
      usEvents("SELECT event_id, user_id, value, " +
        "lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value, " +
        "lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value " +
        "FROM events ORDER BY event_id")),

    "win_running_sum" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          sum(dec(col("value"))).over(userW.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double").as("running_value"))
        .orderBy(col("event_id")),
      usEvents("SELECT event_id, user_id, value, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS DOUBLE) AS running_value FROM events ORDER BY event_id")),

    // 3-event moving average = exact decimal sum over the frame / frame count.
    "win_moving_avg" -> Q(
      (s, d) => {
        val frame = userW.rowsBetween(-2, 0)
        T(s, d, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            (sum(dec(col("value"))).over(frame).cast("double") /
              count(lit(1)).over(frame)).as("mavg"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, user_id, value, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) / COUNT(*) OVER w AS mavg " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) ORDER BY event_id")),

    // RANGE frame over event-time seconds: per-user 1h trailing sum — the
    // time-based sibling of the ROWS running sum.
    "win_range_frame" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("epoch_s"))
          .rangeBetween(-3600L, 0L)
        T(s, d, "events")
          .withColumn("epoch_s", expr("unix_micros(ts) div 1000000"))
          .select(col("event_id"), col("user_id"), col("epoch_s"),
            sum(dec(col("value"))).over(w).cast("double").as("trailing_1h"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, user_id, epoch_s, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id " +
        "ORDER BY epoch_s RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) " +
        "AS DOUBLE) AS trailing_1h FROM " +
        "(SELECT event_id, user_id, value, epoch_us(ts) // 1000000 AS epoch_s " +
        "FROM events) t ORDER BY event_id")),

    // percent_rank/cume_dist: exact rationals — single divisions of ints.
    "win_percent_rank" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id"))
        T(s, d, "events")
          .select(col("event_id"), col("event_type"), col("value"),
            percent_rank().over(w).as("prank"),
            cume_dist().over(w).as("cdist"))
          .orderBy(col("event_id"))
      },
      "SELECT event_id, event_type, value, " +
        "percent_rank() OVER w AS prank, cume_dist() OVER w AS cdist " +
        "FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id) " +
        "ORDER BY event_id"),

    // Keep-best selection: value of each type's latest event (unique order
    // key => deterministic arg_max in both engines).
    "agg_arg_max" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("event_type"))
        .agg(max_by(col("value"), col("event_id")).as("latest_value"),
          min_by(col("value"), col("event_id")).as("first_value"),
          max(col("event_id")).as("last_event_id"))
        .orderBy(col("event_type")),
      "SELECT event_type, arg_max(value, event_id) AS latest_value, " +
        "arg_min(value, event_id) AS first_value, MAX(event_id) AS last_event_id " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    "win_ntile_first_last" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          big(ntile(4).over(userW)).as("tile"),
          first(col("value")).over(userW.rowsBetween(Window.unboundedPreceding, 0))
            .as("first_value"),
          last(col("value")).over(
            userW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("last_value"))
        .orderBy(col("event_id")),
      usEvents("SELECT event_id, user_id, value, " +
        "ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS tile, " +
        "first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value, " +
        "last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value " +
        "FROM events ORDER BY event_id")),

    // IGNORE NULLS navigation: previous/first/2nd non-error value per user
    // (the reference's carry-last-good-reading gauge [PK]). DuckDB spells
    // IGNORE NULLS inside the call parens; frames pinned to ROWS in both.
    "win_ignore_nulls" -> Q(
      (s, d) => {
        val okValue = when(col("event_type") === "error", lit(null))
          .otherwise(col("value"))
        val cum = userW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T(s, d, "events")
          .withColumn("ok_value", okValue)
          .select(col("event_id"), col("user_id"), col("ok_value"),
            lag(col("ok_value"), 1, null, ignoreNulls = true).over(userW)
              .as("prev_ok"),
            first(col("ok_value"), ignoreNulls = true).over(cum).as("first_ok"),
            nth_value(col("ok_value"), 2, ignoreNulls = true).over(cum)
              .as("second_ok"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, user_id, ok_value, " +
        "lag(ok_value, 1 IGNORE NULLS) OVER w AS prev_ok, " +
        "first_value(ok_value IGNORE NULLS) OVER wc AS first_ok, " +
        "nth_value(ok_value, 2 IGNORE NULLS) OVER wc AS second_ok " +
        "FROM (SELECT event_id, user_id, ts, " +
        "CASE WHEN event_type = 'error' THEN NULL ELSE value END AS ok_value " +
        "FROM events) e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id), " +
        "wc AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id")),

    // Correlation / covariance / stddev per group from EXACT integer moment
    // sums (quantity is integral; price becomes exact cents; the y² sum
    // needs 128-bit — DECIMAL(38,0) in both engines). The final formulas run
    // on identical IEEE-double expression trees over identical inputs, so
    // results are bit-exact cross-engine — no accumulation-order drift, no
    // rounding fudge. Integer-valued (scale-0) decimals convert to double
    // identically; fractional-scale decimals would not (SURVEY §7.4).
    "agg_corr_regr" -> Q(
      (s, d) => {
        val moments = T(s, d, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("xq"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("yc"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("xq")).as("sx"), sum(col("yc")).as("sy"),
            sum(col("xq") * col("xq")).as("sxx"),
            sum(col("xq") * col("yc")).as("sxy"),
            sum(col("yc").cast("decimal(19,0)") * col("yc").cast("decimal(19,0)"))
              .as("syy"))
        moments.select(col("l_returnflag"), col("n"),
            (col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")).as("cov_num"),
            (col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")).as("var_x"),
            (col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double")).as("var_y"))
          .select(col("l_returnflag"), col("n"),
            (col("cov_num") / (sqrt(col("var_x")) * sqrt(col("var_y"))))
              .as("corr_qty_price"),
            (col("cov_num") / (col("n").cast("double") *
              (col("n").cast("double") - 1.0))).as("covar_samp_cents"),
            sqrt(col("var_x") / (col("n").cast("double") *
              (col("n").cast("double") - 1.0))).as("stddev_qty"))
          .orderBy(col("l_returnflag"))
      },
      "SELECT l_returnflag, n, " +
        "cov_num / (sqrt(var_x) * sqrt(var_y)) AS corr_qty_price, " +
        "cov_num / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS covar_samp_cents, " +
        "sqrt(var_x / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS stddev_qty " +
        "FROM (SELECT l_returnflag, n, " +
        "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_num, " +
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS var_x, " +
        "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS var_y " +
        "FROM (SELECT l_returnflag, COUNT(*) AS n, SUM(xq) AS sx, SUM(yc) AS sy, " +
        "SUM(xq * xq) AS sxx, SUM(xq * yc) AS sxy, " +
        "SUM(yc19 * yc19) AS syy " +
        "FROM (SELECT l_returnflag, l_quantity::BIGINT AS xq, " +
        "round(l_extendedprice * 100, 0)::BIGINT AS yc, " +
        "round(l_extendedprice * 100, 0)::DECIMAL(19,0) AS yc19 " +
        "FROM lineitem) t GROUP BY l_returnflag) m) f ORDER BY l_returnflag"),

    // Skewness / excess kurtosis per group from exact integer raw moments
    // (same discipline as agg_corr_regr: scale-0 decimal sums of the
    // quantized values' powers are exact, convert to double identically in
    // both engines, and the combining formulas are written as the same
    // left-associated tree on both sides — bit-exact, no accumulation-
    // order drift). PropertySpec cross-checks against Spark's built-in
    // skewness/kurtosis within 1e-6.
    "agg_moments_skew" -> Q(
      (s, d) => {
        val vq19 = col("vq").cast("decimal(19,0)")
        val m = T(s, d, "events")
          .select(col("event_type"), floor(col("value") * 10000).cast("long").as("vq"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vq")).as("sx"),
            sum(vq19 * vq19).as("sxx"),
            sum(vq19 * vq19 * vq19).as("sxxx"),
            sum(vq19 * vq19 * vq19 * vq19).as("sxxxx"))
        val nD = col("n").cast("double")
        val sxD = col("sx").cast("double")
        val sxxD = col("sxx").cast("double")
        val sxxxD = col("sxxx").cast("double")
        val sxxxxD = col("sxxxx").cast("double")
        val var0 = sxxD - sxD * sxD / nD
        // pow() is NOT correctly rounded and differs between Math.pow and
        // libm — compose from * and sqrt (both correctly rounded):
        // var^1.5 = var*sqrt(var), var^2 = var*var.
        m.select(col("event_type"), col("n"),
            (sxD / nD).as("mean_q"),
            (sqrt(nD) * (sxxxD - lit(3.0) * sxD * sxxD / nD +
              lit(2.0) * sxD * sxD * sxD / (nD * nD)) / (var0 * sqrt(var0)))
              .as("skew"),
            (nD * (sxxxxD - lit(4.0) * sxD * sxxxD / nD +
              lit(6.0) * sxD * sxD * sxxD / (nD * nD) -
              lit(3.0) * sxD * sxD * sxD * sxD / (nD * nD * nD)) /
              (var0 * var0) - lit(3.0)).as("kurt"))
          .orderBy(col("event_type"))
      },
      "WITH q AS (SELECT event_type, floor(value*10000)::BIGINT AS vq FROM events), " +
        "m AS (SELECT event_type, COUNT(*) AS n, SUM(vq) AS sx, " +
        "SUM(vq::HUGEINT * vq) AS sxx, SUM(vq::HUGEINT * vq * vq) AS sxxx, " +
        "SUM(vq::HUGEINT * vq * vq * vq) AS sxxxx FROM q GROUP BY 1) " +
        "SELECT event_type, CAST(n AS BIGINT) AS n, " +
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q, " +
        "sqrt(CAST(n AS DOUBLE)) * (CAST(sxxx AS DOUBLE) - " +
        "3.0 * CAST(sx AS DOUBLE) * CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) + " +
        "2.0 * CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / " +
        "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / " +
        "CAST(n AS DOUBLE)) * sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * " +
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS skew, " +
        "CAST(n AS DOUBLE) * (CAST(sxxxx AS DOUBLE) - " +
        "4.0 * CAST(sx AS DOUBLE) * CAST(sxxx AS DOUBLE) / CAST(n AS DOUBLE) + " +
        "6.0 * CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) * CAST(sxx AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) - " +
        "3.0 * CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) * " +
        "CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * " +
        "CAST(n AS DOUBLE))) / " +
        "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / " +
        "CAST(n AS DOUBLE)) * (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * " +
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0 AS kurt " +
        "FROM m ORDER BY event_type"),

    // Boolean and bitwise aggregates per event type (ref: all-healthy /
    // any-alarm gauge rollups plus permission-mask folds [PK]).
    "agg_bool_bit" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("event_type"))
        .agg(expr("bool_and(value > 1)").as("all_gt1"),
          expr("bool_or(value > 500)").as("any_gt500"),
          expr("bit_and(user_id)").as("uid_and"),
          expr("bit_or(user_id)").as("uid_or"),
          expr("bit_xor(user_id)").as("uid_xor"))
        .orderBy(col("event_type")),
      "SELECT event_type, bool_and(value > 1) AS all_gt1, " +
        "bool_or(value > 500) AS any_gt500, bit_and(user_id) AS uid_and, " +
        "bit_or(user_id) AS uid_or, bit_xor(user_id) AS uid_xor " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // t-digest-style approximate percentile (sketch family, like
    // agg_approx_distinct): mergeable across partitions — the shape that
    // answers quantile gauges at 100 TB without a global sort. Not
    // oracle-able (sketch internals are engine-specific); accuracy is
    // pinned against the exact percentile in PropertySpec.
    "agg_approx_percentile" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("event_type"))
        .agg(expr("approx_percentile(value, 0.5, 1000)").as("approx_median"),
          expr("approx_percentile(value, 0.95, 1000)").as("approx_p95"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      None),

    // Conditional counting without a pre-filter (one scan, many gauges).
    "agg_count_if" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("event_type"))
        .agg(expr("count_if(value > 100)").as("n_gt100"),
          expr("count_if(props IS NULL)").as("n_noprops"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      "SELECT event_type, count_if(value > 100)::BIGINT AS n_gt100, " +
        "count_if(props IS NULL)::BIGINT AS n_noprops, COUNT(*) AS n " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // Equi-width histogram (the distribution gauge behind every data-
    // profiling pass): 20 buckets between the column's min and max, bucket
    // edges emitted alongside counts. Bounds come from one O(1) scalar agg
    // broadcast back onto the stream; the bucket expression is the SAME
    // double tree in both engines ((x−mn)·20/(mx−mn), floored, max pinned
    // into bucket 19), so assignment is bit-identical. The groupBy shuffles
    // 20 keys — nothing about this changes at 100 TB.
    "agg_histogram" -> Q(
      (s, d) => {
        val li = T(s, d, "lineitem")
        val bounds = li.agg(min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"))
        li.crossJoin(broadcast(bounds))
          .withColumn("bucket", least(
            floor((col("l_extendedprice") - col("mn")) * lit(20.0) /
              (col("mx") - col("mn"))), lit(19L)))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
          .orderBy(col("bucket"))
      },
      "WITH b AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx " +
        "FROM lineitem) " +
        "SELECT least(floor((l_extendedprice - mn) * 20.0 / (mx - mn)), 19)::BIGINT " +
        "AS bucket, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total " +
        "FROM lineitem, b GROUP BY 1 ORDER BY bucket"),

    // cume_dist + nth_value — the two §2.E navigation functions the window
    // family didn't yet cover. cume_dist over the unique (ts, event_id)
    // order is the exact rational k/n (one double division per row, same
    // op both engines, rounded 4dp); nth_value frame pinned to ROWS in
    // both so the 3rd value only appears once three rows exist.
    "win_cume_dist_nth" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          round(cume_dist().over(userW), 4).as("cd"),
          nth_value(col("value"), 3).over(
            userW.rowsBetween(Window.unboundedPreceding, 0)).as("third_value"))
        .orderBy(col("event_id")),
      usEvents("SELECT event_id, user_id, value, " +
        "round(cume_dist() OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) " +
        "AS cd, " +
        "nth_value(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_value " +
        "FROM events ORDER BY event_id")),

    // Deterministic MODE per group (most frequent floor(value) bucket,
    // smallest bucket on count ties — never the engine's arbitrary pick):
    // counts → per-group max count → tie-break by MIN over the equal-count
    // buckets. Three hash aggs and one broadcast-sized join on the
    // (group, max) frame; no windows, no value-domain assumptions beyond
    // the bucket floor. The shape every "top value per segment" report
    // compiles to at scale.
    "agg_mode" -> Q(
      (s, d) => {
        val cnts = T(s, d, "events")
          .groupBy(col("event_type"), floor(col("value")).cast("long").as("vb"))
          .agg(count(lit(1)).as("cnt"))
        val best = cnts.groupBy(col("event_type")).agg(max(col("cnt")).as("mc"))
        cnts.join(broadcast(best), "event_type")
          .filter(col("cnt") === col("mc"))
          .groupBy(col("event_type"))
          .agg(min(col("vb")).as("mode_bucket"), max(col("mc")).as("n_mode"))
          .orderBy(col("event_type"))
      },
      usEvents("WITH c AS (SELECT event_type, floor(value)::BIGINT AS vb, " +
        "COUNT(*) AS cnt FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, MAX(cnt) AS mc FROM c GROUP BY 1) " +
        "SELECT c.event_type, MIN(c.vb) AS mode_bucket, " +
        "MAX(m.mc)::BIGINT AS n_mode " +
        "FROM c JOIN m ON c.event_type = m.event_type AND c.cnt = m.mc " +
        "GROUP BY 1 ORDER BY c.event_type")),

    // LISTAGG / string_agg with a DETERMINISTIC element order (the report
    // column every BI export wants): collect → sort → join, so the csv is
    // identical whatever the partitioning; DuckDB's ORDER BY inside the
    // aggregate mirrors it. The collected group here is dimension-sized
    // (nations per region); the same shape over a data-sized group would
    // be the collect_list OOM the centroid rewrite killed — the in-code
    // rule is "listagg only over dimension-bounded groups".
    "agg_string_concat" -> Q(
      (s, d) => T(s, d, "nation")
        .join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("nations_csv"))
        .orderBy(col("r_name")),
      "SELECT r_name, COUNT(*) AS n_nations, " +
        "string_agg(n_name, ',' ORDER BY n_name) AS nations_csv " +
        "FROM nation JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name"),

    // Quantity-weighted average price per return flag — the weighted-mean
    // discipline: weight×value products and the weight total both
    // accumulate as EXACT decimals (a double product sum is
    // addend-order-dependent), the mean is one final double division,
    // floor-quantized. Map-side-combinable hash agg; nothing changes at
    // scale.
    "agg_weighted_avg" -> Q(
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_quantity")))
          .as("wsum"),
          sum(dec(col("l_quantity"))).as("wtot"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          col("wtot").cast("double").as("total_qty"),
          (floor(col("wsum").cast("double") / col("wtot").cast("double") *
            10000).cast("long") / 10000.0).as("weighted_avg_price"))
        .orderBy(col("l_returnflag")),
      "SELECT l_returnflag, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty, " +
        "floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
        "CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) * 10000)" +
        "::BIGINT / 10000.0 AS weighted_avg_price " +
        "FROM lineitem GROUP BY 1 ORDER BY l_returnflag"),

    // Count-min sketch estimate (round-9 addendum) — the ONE sketch key
    // with an exact oracle: a d=4 × w=16 CMS is pure integer arithmetic
    // over md5-derived buckets, so Spark and DuckDB agree bit-for-bit
    // (unlike HLL/KMV, whose register layouts are engine-private — the 7
    // no_oracle keys). Update shape is the real streaming-sketch path:
    // each event fans out to its d (row, bucket) cells and the 64-cell
    // table hash-aggregates with map-side combine — state is O(d·w)
    // regardless of domain cardinality, the entire point of CMS at 100 TB
    // (the exact groupBy beside it is the audit, affordable only because
    // this domain is small). Estimate = min over rows of the keyed cell —
    // the classic overestimate-only guarantee, asserted est >= exact in
    // the spec. Bucket = hex-digit position lookup (strpos semantics
    // shared by both engines) — no conv()/from_hex dialect divergence.
    "agg_count_min_est" -> Q(
      (s, d) => {
        // pinned: both the 64-cell rollup and the distinct type→bucket map
        // consume this frame — unpinned, the ×4 corpus fan-out + md5 would
        // run twice (the pagerank edge-frame lesson)
        val pairs = T(s, d, "events")
          .select(col("event_type"),
            explode(array((0 until 4).map(j => lit(j)): _*)).as("rw"))
          .withColumn("bucket", expr(
            "instr('0123456789abcdef', " +
              "substr(md5(concat_ws(':', rw, event_type)), 1, 1)) - 1"))
          .pinned
        val cells = pairs.groupBy(col("rw"), col("bucket"))
          .agg(count(lit(1)).as("c"))
        val typeBuckets = pairs.select(col("event_type"), col("rw"),
          col("bucket")).distinct()
        val est = typeBuckets.join(broadcast(cells), Seq("rw", "bucket"))
          .groupBy(col("event_type")).agg(min(col("c")).as("est_n"))
        T(s, d, "events").groupBy(col("event_type"))
          .agg(count(lit(1)).as("exact_n"))
          .join(est, Seq("event_type"))
          .orderBy(col("event_type"))
      },
      "WITH p AS (SELECT event_type, rw, strpos('0123456789abcdef', " +
        "substr(md5(rw::VARCHAR || ':' || event_type), 1, 1)) - 1 AS bucket " +
        "FROM events CROSS JOIN " +
        "(SELECT unnest(generate_series(0, 3)) AS rw) r), " +
        "cells AS (SELECT rw, bucket, COUNT(*) AS c FROM p GROUP BY 1, 2), " +
        "tb AS (SELECT DISTINCT event_type, rw, bucket FROM p), " +
        "est AS (SELECT event_type, MIN(c)::BIGINT AS est_n FROM tb " +
        "JOIN cells USING (rw, bucket) GROUP BY 1), " +
        "ex AS (SELECT event_type, COUNT(*)::BIGINT AS exact_n " +
        "FROM events GROUP BY 1) " +
        "SELECT event_type, exact_n, est_n FROM ex JOIN est " +
        "USING (event_type) ORDER BY event_type"),

    // Incremental materialized-view maintenance (round-10) — THE
    // foundational 100-TB pattern the other agg keys assume but none
    // demonstrated: a per-user rollup maintained as yesterday's SNAPSHOT
    // merged with today's DELTA, never a full recompute. The mergeable
    // state is count / DECIMAL(18,4)-exact sum / min / max — each merges
    // with one (+ / least / greatest) per key; avg is deliberately NOT
    // merged (partial avgs don't merge) but re-derived from the merged
    // sum and count — the algebraic-vs-distributive distinction that
    // decides what a snapshot may store. The split predicate is
    // event_id % 3 (regen-proof, arbitrary), because merge correctness
    // must not depend on HOW the corpus was partitioned. The ORACLE is
    // the full single-pass recompute: the hash match certifies
    // merge(snapshot, delta) == recompute(all), which is the entire
    // contract of incremental maintenance. Scale shape: both partials
    // are map-side-combined hash aggs sharing one scan-partitioned
    // exchange; the merge is a keyed full-outer join of two
    // aggregate-sized (not corpus-sized) frames.
    // Incremental SKETCH-CUBE maintenance (round-12) — agg_incremental_mv's
    // approximate sibling and the epoch protocol's sketch composition: the
    // CMS cell table (d=4 × w=16 integer cells, the agg_count_min_est
    // sketch) is published via marker-last epochs. Epoch 0 = cells over
    // the base loads (event_id % 3 != 2); the incremental run computes
    // cells over ONLY the delta (event_id % 3 = 2) and cell-wise ADDS
    // them to the persisted epoch-0 READ-BACK — never rescanning base
    // history — exactly what CMS mergeability (sketch(A)+sketch(B) ==
    // sketch(A∪B), spec-pinned since r9) is FOR. Because cells are
    // additive, the merged estimate is bit-identical to a full-corpus
    // build, so the oracle just computes the full-corpus sketch
    // relationally. The probe side derives type→bucket rows from the
    // |types|-sized distinct frame, not a corpus rescan; the exact_n
    // column is the verification twin.
    "agg_sketch_upsert" -> Q(
      (s, d) => {
        val dir = Scale.scratchDir("cmscube", d)
        val KSP = graft.streaming.KeepSetPublish
        def cellsOf(df: org.apache.spark.sql.DataFrame) = df
          .select(col("event_type"),
            explode(array((0 until 4).map(j => lit(j)): _*)).as("rw"))
          .withColumn("bucket", expr(
            "instr('0123456789abcdef', " +
              "substr(md5(concat_ws(':', rw, event_type)), 1, 1)) - 1"))
          .groupBy(col("rw"), col("bucket"))
          .agg(count(lit(1)).as("c"))
        Scale.writeOnce(dir) {
          KSP.publish(cellsOf(
            T(s, d, "events").filter(col("event_id") % 3 =!= 2)), dir, 0L)
          val delta = cellsOf(
            T(s, d, "events").filter(col("event_id") % 3 === 2))
          val merged = KSP.readEpoch(s, dir, 0L).unionByName(delta)
            .groupBy(col("rw"), col("bucket")).agg(sum(col("c")).as("c"))
          KSP.publish(merged, dir, 1L)
        }
        val cells = KSP.readLatest(s, dir)
        val typeBuckets = T(s, d, "events")
          .select(col("event_type")).distinct()
          .select(col("event_type"),
            explode(array((0 until 4).map(j => lit(j)): _*)).as("rw"))
          .withColumn("bucket", expr(
            "instr('0123456789abcdef', " +
              "substr(md5(concat_ws(':', rw, event_type)), 1, 1)) - 1"))
        val est = typeBuckets.join(broadcast(cells), Seq("rw", "bucket"))
          .groupBy(col("event_type")).agg(min(col("c")).as("est_n"))
        T(s, d, "events").groupBy(col("event_type"))
          .agg(count(lit(1)).as("exact_n"))
          .join(est, Seq("event_type"))
          .orderBy(col("event_type"))
      },
      // cells are additive ⇒ merged-from-deltas ≡ full-corpus build
      "WITH p AS (SELECT event_type, rw, strpos('0123456789abcdef', " +
        "substr(md5(rw::VARCHAR || ':' || event_type), 1, 1)) - 1 AS bucket " +
        "FROM events CROSS JOIN " +
        "(SELECT unnest(generate_series(0, 3)) AS rw) r), " +
        "cells AS (SELECT rw, bucket, COUNT(*) AS c FROM p GROUP BY 1, 2), " +
        "tb AS (SELECT DISTINCT event_type, rw, bucket FROM p), " +
        "est AS (SELECT event_type, MIN(c)::BIGINT AS est_n FROM tb " +
        "JOIN cells USING (rw, bucket) GROUP BY 1), " +
        "ex AS (SELECT event_type, COUNT(*)::BIGINT AS exact_n " +
        "FROM events GROUP BY 1) " +
        "SELECT event_type, exact_n, est_n FROM ex JOIN est " +
        "USING (event_type) ORDER BY event_type"),

    "agg_incremental_mv" -> Q(
      (s, d) => {
        val ev = T(s, d, "events")
        def mv(part: org.apache.spark.sql.DataFrame, tag: String) =
          part.groupBy(col("user_id")).agg(
            count(lit(1)).as(s"n_$tag"),
            sum(dec(col("value"))).as(s"q_$tag"), // DECIMAL state, exact
            min(col("event_id")).as(s"f_$tag"),
            max(col("event_id")).as(s"l_$tag"))
        val snap  = mv(ev.filter(col("event_id") % 3 =!= 0), "b")
        val delta = mv(ev.filter(col("event_id") % 3 === 0), "d")
        val zeroQ = lit(0).cast("decimal(28,4)")
        snap.join(delta, Seq("user_id"), "full_outer")
          .select(col("user_id"),
            (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
              .as("n"),
            (coalesce(col("q_b"), zeroQ) + coalesce(col("q_d"), zeroQ))
              .cast("double").as("total"),
            least(col("f_b"), col("f_d")).as("first_id"), // least skips nulls
            greatest(col("l_b"), col("l_d")).as("last_id"))
          .withColumn("avg_value", col("total") / col("n"))
          .orderBy(col("user_id"))
      },
      usEvents("SELECT user_id, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total, " +
        "MIN(event_id) AS first_id, MAX(event_id) AS last_id, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) " +
        "AS avg_value FROM events GROUP BY 1 ORDER BY user_id")),

    // TIME-based window frames (round-11) — RANGE BETWEEN INTERVAL, the
    // frame mode the row-count keys (win_moving_avg etc.) cannot express:
    // "everything in the trailing hour" follows the EVENT-TIME axis, so
    // sparse and bursty users get correct physics (a ROWS 5 PRECEDING
    // frame spans minutes for a bot and weeks for a lurker). Both engines
    // bound the frame by ts-peers identically (ties are frame peers in
    // RANGE mode — included on both sides), the count is integer, and the
    // moving sum runs in DECIMAL so the engines' different frame-
    // aggregation internals (sliding vs segment tree) cannot diverge.
    // Scale shape: user-partitioned frames, one window pass, no global
    // ordering anywhere but the output sort.
    "win_time_range_sum" -> Q(
      (s, d) => {
        val frame = "OVER (PARTITION BY user_id ORDER BY ts " +
          "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
        T(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          .select(col("event_id"),
            expr(s"cast(count(*) $frame as bigint)").as("n_1h"),
            expr("cast(sum(cast(value as decimal(18,4))) " +
              s"$frame as double)").as("sum_1h"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, COUNT(*) OVER w ::BIGINT AS n_1h, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts " +
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id")),
  )
}
