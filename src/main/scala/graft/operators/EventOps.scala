package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.{Q, T}
import graft.operators.PinSyntax._
import graft.Dsl._

/** SURVEY.md §2.I event-analytics composites + §2.J streaming batch twins.
  *
  * The reference's reason to exist [PK]: session correlation, multi-stage
  * funnel signals, gauge time buckets. Batch formulations here are pure
  * window/agg compositions; the true Structured Streaming versions live in
  * graft.streaming.StreamOps and are asserted stream≡batch in the test
  * suite (SURVEY §2.J strategy note).
  *
  * Session rule (SURVEY §7.4.5): gap > 30 minutes splits; gap <= 30 min
  * keeps the session open.
  */
object EventOps {

  private def arrivalW = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  /** SCD-2 interval frame (user_id, version, state, valid_from_us,
    * valid_to_us, n_events) shared by `evt_scd2_state` (full history) and
    * `stream_scd2` (closed intervals — the streaming twin's emission). */
  private def scd2Intervals(s: SparkSession, d: String): DataFrame = {
    val islands = T.byKey(T(s, d, "events"), col("user_id"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(arrivalW))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(
        arrivalW.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state"),
        min(unix_micros(col("ts"))).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy(col("user_id")).orderBy(col("version"))
    islands.withColumn("valid_to_us",
      lead(col("valid_from_us"), 1).over(byVersion))
  }

  /** Per-user sessionization: lag-gap flag → running sum = session seq.
    * Spread on user_id ([[T.byKey]]), so every per-user and per-session
    * stage above it runs on every core. */
  def sessionized(s: SparkSession, d: String): DataFrame =
    T.byKey(T(s, d, "events"), col("user_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(arrivalW))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800.0, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(arrivalW.rowsBetween(Window.unboundedPreceding, 0)))

  /** Each session's first 8 events, `rn` = arrival position: the bound
    * the path and pattern keys put on a session BEFORE collecting it, so a
    * bot session with 10^6 events contributes 8 rows, not 10^6. */
  private def sessionHead(s: SparkSession, d: String): DataFrame = {
    val bySession = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    sessionized(s, d)
      .withColumn("rn", row_number().over(bySession))
      .filter(col("rn") <= 8)
  }

  /** A grouped session head's event types in arrival order, `>`-joined. */
  private def headTypes: Column = concat_ws(">", transform(
    sort_array(collect_list(struct(col("rn"), col("event_type")))),
    x => x.getField("event_type")))

  /** (user_id, session_seq, path): the session head as a `>`-terminated
    * token path, the field the flow `cep` op matches. */
  private def sessionPaths(s: SparkSession, d: String): DataFrame =
    sessionHead(s, d).groupBy(col("user_id"), col("session_seq"))
      .agg(concat(headTypes, lit(">")).as("path"))

  /** DuckDB twin of [[sessionized]]: opens a WITH with the `se` CTE. */
  private val sessionCte =
    "WITH se AS (SELECT user_id, event_id, event_type, ts, " +
      "SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0 " +
      "THEN 1 ELSE 0 END::BIGINT) OVER (PARTITION BY user_id " +
      "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      "CURRENT ROW) AS session_seq FROM (SELECT user_id, event_id, " +
      "event_type, ts, lag(ts, 1) OVER (PARTITION BY user_id " +
      "ORDER BY ts, event_id) AS prev_ts FROM events) x), "

  /** The `rn` CTE: each event's arrival position in its session. */
  private val rankCte =
    "rn AS (SELECT user_id, session_seq, event_type, row_number() OVER " +
      "(PARTITION BY user_id, session_seq ORDER BY ts, event_id) AS rn " +
      "FROM se), "

  /** DuckDB twin of [[sessionPaths]]: the se, rn and `p` (path) CTEs. */
  private val pathCtes = sessionCte + rankCte +
    "p AS (SELECT user_id, session_seq, string_agg(event_type || '>', '' " +
    "ORDER BY rn) AS path FROM rn WHERE rn <= 8 GROUP BY 1, 2)"

  /** [[pathCtes]] plus `tk`, each path split back into its token list. */
  private val tokCtes = pathCtes +
    ", tk AS (SELECT list_filter(string_split(path, '>'), x -> x != '') " +
    "AS toks FROM p), "

  private val sessionizeSql: String = usEvents(
    "SELECT user_id, session_seq::BIGINT AS session_seq, COUNT(*) AS n_events, " +
      "MIN(event_id) AS first_event_id, MAX(event_id) AS last_event_id, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value " +
      "FROM (SELECT user_id, event_id, value, " +
      " SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0 " +
      "  THEN 1 ELSE 0 END::BIGINT) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq " +
      " FROM (SELECT user_id, event_id, value, ts, " +
      "  lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts " +
      "  FROM events) x) y " +
      "GROUP BY user_id, session_seq ORDER BY user_id, session_seq")

  private def sessionAgg(s: SparkSession, d: String): DataFrame =
    sessionized(s, d)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"),
        dsum(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_seq"))

  /** Tumbling 1h event-time buckets; window start == date_trunc('hour'). */
  private def tumbling(s: SparkSession, d: String): DataFrame =
    T(s, d, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"),
        col("total_value"))
      .orderBy(col("bucket"), col("event_type"))

  private val tumblingSql: String = usEvents(
    "SELECT date_trunc('hour', ts)::TIMESTAMP AS bucket, event_type, COUNT(*) AS n, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value " +
      "FROM events GROUP BY 1, 2 ORDER BY bucket, event_type")

  private def sliding(s: SparkSession, d: String): DataFrame =
    T(s, d, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
      .orderBy(col("wstart"), col("event_type"))

  private val slidingSql: String = usEvents(
    "SELECT TIMESTAMP '1970-01-01' + CAST(floor(epoch(ts) / 900) * 900 - k.k * 900 " +
      "AS BIGINT) * INTERVAL 1 SECOND AS wstart, event_type, COUNT(*) AS n " +
      "FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k " +
      "GROUP BY 1, 2 ORDER BY wstart, event_type")

  /** Shared RFM rollup: per-user (recency_us, freq, monetary). Recency is
    * exact integer µs from the corpus max-ts; monetary goes through the
    * decimal sum discipline. Shared by the exact-ntile and
    * boundary-broadcast quartile keys so the rollup cannot drift. */
  private def rfmBase(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint: every consumer of the rollup (gmax, the approx key's
    // sampled bounds pass, the main assignment pass) would otherwise
    // re-plan the events scan + per-user shuffle — at 100 TB that's the
    // dominant cost paid 2–4×. Checkpointed, the big table is read and
    // shuffled exactly ONCE per query; everything downstream reads the
    // ~|users| rollup.
    val perUser = T(s, d, "events").groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"),
        count(lit(1)).as("freq"),
        dsum(col("value")).as("monetary"))
      .pinned
    val gmax = perUser.agg(max(col("last_ts")).as("gmax"))
    perUser.crossJoin(broadcast(gmax))
      .withColumn("recency_us",
        big(expr("unix_micros(gmax) - unix_micros(last_ts)")))
      .select(col("user_id"), col("recency_us"), col("freq"), col("monetary"))
  }

  /** x, n rows earlier in the user's (ts, event_id) order. */
  private def lagOf(c: Column, n: Int): Column =
    if (n == 0) c else lag(c, n).over(arrivalW)

  /** Exact µs from the event k−1 rows back to this one. */
  private def spanUs(k: Int): Column =
    unix_micros(col("ts")) - unix_micros(lagOf(col("ts"), k - 1))

  /** The hit column of every stream_pattern_* twin: ANY expansion's
    * k-event window ENDING at this row matches — and, when bounded, spans
    * at most withinUs — exactly the fold StreamOps.patternStep runs.
    * NULL lags from short histories AND/OR to a dropped row. */
  private def patternHit(exps: Seq[Seq[Option[Seq[String]]]],
      withinUs: Long = Long.MaxValue): Column =
    exps.map { steps =>
      val k = steps.length
      val types = steps.zipWithIndex.map { case (atoms, j) =>
        val c = lagOf(col("event_type"), k - 1 - j)
        atoms.map(alts => c.isin(alts: _*)).getOrElse(c.isNotNull)
      }.reduce(_ && _)
      if (withinUs == Long.MaxValue) types else types && spanUs(k) <= withinUs
    }.reduce(_ || _)

  private def patternHits(s: SparkSession, d: String,
      exps: Seq[Seq[Option[Seq[String]]]],
      withinUs: Long = Long.MaxValue): DataFrame =
    T(s, d, "events")
      .withColumn("hit", patternHit(exps, withinUs))
      .filter(col("hit"))
      .select(col("user_id"), col("event_id"))
      .orderBy(col("user_id"), col("event_id"))

  private val alertSteps =
    graft.flow.Cep.literalSteps(graft.streaming.StreamOps.PatternAlert)
  private val quantifiedExps = graft.flow.Cep.expandedSteps(
    graft.streaming.StreamOps.PatternQuantified,
    graft.streaming.StreamOps.PatternMaxRep)
  private val permuteExps =
    graft.flow.Cep.permuteSteps(graft.streaming.StreamOps.PatternPermute)

  private val patternW =
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t "

  /** DuckDB twin of one expansion's type test in [[patternHit]]; `ref(n)`
    * names the column holding event_type n rows back. */
  private def stepsSql(steps: Seq[Option[Seq[String]]],
      ref: Int => String): String = {
    val k = steps.length
    steps.zipWithIndex.map { case (atoms, j) =>
      val r = if (j == k - 1) "event_type" else ref(k - 1 - j)
      atoms.map(a => s"$r IN (${a.map(x => s"'$x'").mkString(", ")})")
        .getOrElse(s"$r IS NOT NULL")
    }.mkString(" AND ")
  }

  private val alertSpanSql =
    s"epoch_us(ts) - epoch_us(lag(ts, ${alertSteps.length - 1}) OVER w) AS span_us"

  /** Oracle of a single-expansion twin: lag columns `s0..s(k−2)` plus
    * `extra` columns, filtered by the type test and `where`. */
  private def literalSql(steps: Seq[Option[Seq[String]]], out: String,
      extra: Seq[String], where: String, orderBy: String): String = {
    val k = steps.length
    val lags = (0 until k - 1).map(j => s"lag(event_type, ${k - 1 - j}) OVER w AS s$j")
    usEvents(s"SELECT $out FROM (" +
      s"SELECT user_id, event_id, event_type, ${(lags ++ extra).mkString(", ")} " +
      "FROM events " + patternW +
      s"WHERE ${stepsSql(steps, n => s"s${k - 1 - n}")}$where " +
      s"ORDER BY user_id, $orderBy")
  }

  /** Oracle of an any-expansion twin: one `l<n>` lag column per distance
    * serves every expansion; a bounded one adds `sp<n>` spans (sp0 rides
    * along so a length-1 expansion's `sp0 <= within` stays total). */
  private def anySql(exps: Seq[Seq[Option[Seq[String]]]],
      withinUs: Long = Long.MaxValue): String = {
    val maxLag = exps.map(_.length).max - 1
    val lags = (1 to maxLag).map(n => s"lag(event_type, $n) OVER w AS l$n")
    val cols =
      if (withinUs == Long.MaxValue) lags
      else Seq("ts", "0 AS sp0") ++ lags ++ (1 to maxLag)
        .map(n => s"epoch_us(ts) - epoch_us(lag(ts, $n) OVER w) AS sp$n")
    val ors = exps.map { steps =>
      val types = stepsSql(steps, n => s"l$n")
      if (withinUs == Long.MaxValue) s"($types)"
      else s"($types AND sp${steps.length - 1} <= $withinUs)"
    }.mkString(" OR ")
    usEvents("SELECT user_id, event_id FROM (" +
      s"SELECT user_id, event_id, event_type, ${cols.mkString(", ")} FROM events " +
      patternW + s"WHERE $ors ORDER BY user_id, event_id")
  }

  val defs: Seq[(String, Q)] = Seq(

    // ---- §2.I composites ---------------------------------------------
    "evt_sessionize_batch" -> Q(sessionAgg _, sessionizeSql),

    "evt_funnel" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("signup_ts"),
          max(when(col("event_type") === "purchase", col("ts"))).as("last_purchase_ts"))
        .select(col("user_id"),
          col("signup_ts").isNotNull.as("did_signup"),
          (col("signup_ts").isNotNull && col("last_purchase_ts").isNotNull &&
            col("last_purchase_ts") >= col("signup_ts")).as("converted"))
        .orderBy(col("user_id")),
      usEvents("SELECT user_id, signup_ts IS NOT NULL AS did_signup, " +
        "(signup_ts IS NOT NULL AND last_purchase_ts IS NOT NULL AND " +
        "last_purchase_ts >= signup_ts) AS converted FROM " +
        "(SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts, " +
        "MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase_ts " +
        "FROM events GROUP BY user_id) t ORDER BY user_id")),

    "evt_tumbling_window_batch" -> Q(tumbling _, tumblingSql),

    // 1h window sliding by 15m: each event lands in 4 epoch-aligned windows,
    // exactly Spark's window(ts, '1 hour', '15 minutes') semantics.
    "evt_sliding_window_batch" -> Q(sliding _, slidingSql),

    // ---- §2.J streaming batch twins ----------------------------------
    // Same aggregation the streaming tumbling query emits after watermark
    // close; stream≡batch equivalence asserted in StreamingSpec.
    "stream_tumbling_agg" -> Q(tumbling _, tumblingSql),

    // Streaming twin of the sliding window (round-10): the overlapping-
    // window shape is where streaming state sizing actually bites — each
    // event lives in 4 open windows at once, so watermark eviction must
    // close 4× the state of the tumbling case. StreamOps.slidingAgg is the
    // streaming side; StreamingSpec pins stream ≡ batch over 3 chunked
    // MemoryStream batches.
    "stream_sliding_agg" -> Q(sliding _, slidingSql),

    "stream_session_window" -> Q(sessionAgg _, sessionizeSql),

    // Exactly-once twin: earliest event per (user_id, event_type) — the
    // deterministic formulation of streaming dropDuplicates.
    "stream_dedup" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id"), col("event_type"))
            .orderBy(col("event_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("event_type")),
      "SELECT user_id, event_type, event_id, value FROM (" +
        "SELECT user_id, event_type, event_id, value, row_number() OVER " +
        "(PARTITION BY user_id, event_type ORDER BY event_id) AS rn FROM events) t " +
        "WHERE rn = 1 ORDER BY user_id, event_type"),

    // Alert on 3 consecutive errors per user (order = ts, event_id), where
    // an event-time gap > 24h resets the run — identical semantics to the
    // flatMapGroupsWithState machine in StreamOps.statefulAlert (its state
    // timeout doubles as this gap rule). Gap math in exact integer µs so
    // machine, batch twin, and oracle share one arithmetic domain.
    "stream_stateful_alert" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("ts_us", expr("unix_micros(ts)"))
        .withColumn("p1", lag(col("event_type"), 1).over(arrivalW))
        .withColumn("p2", lag(col("event_type"), 2).over(arrivalW))
        .withColumn("g1", col("ts_us") - lag(col("ts_us"), 1).over(arrivalW))
        .withColumn("g2", lag(col("ts_us"), 1).over(arrivalW) -
          lag(col("ts_us"), 2).over(arrivalW))
        .filter(col("event_type") === "error" && col("p1") === "error" &&
          col("p2") === "error" &&
          col("g1") <= 86400000000L && col("g2") <= 86400000000L)
        .select(col("user_id"), col("event_id"))
        .orderBy(col("user_id"), col("event_id")),
      usEvents("SELECT user_id, event_id FROM (" +
        "SELECT user_id, event_id, event_type, " +
        "lag(event_type, 1) OVER w AS p1, lag(event_type, 2) OVER w AS p2, " +
        "epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS g1, " +
        "epoch_us(lag(ts, 1) OVER w) - epoch_us(lag(ts, 2) OVER w) AS g2 " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t " +
        "WHERE event_type = 'error' AND p1 = 'error' AND p2 = 'error' " +
        "AND g1 <= 86400000000 AND g2 <= 86400000000 ORDER BY user_id, event_id")),

    // The six stream_pattern_* keys are the batch twins of StreamOps'
    // CEP machine: each shared Cep grammar string (StreamOps.Pattern*)
    // compiles once for twin, machine, and oracle, and is matched over
    // each user's (ts, event_id)-ordered stream with one lag window per
    // distance (patternHit); the hit is the completing event. StreamingSpec
    // pins the transformWithState machine to exactly these rows across
    // micro-batch seams.
    "stream_pattern_alert" -> Q(
      (s, d) => patternHits(s, d, Seq(alertSteps)),
      literalSql(alertSteps, "user_id, event_id", Nil, "", "event_id")),

    // WITHIN bound (round-12): a hit only fires when the span from the
    // pattern's first to last event fits StreamOps.PatternWithinUs (24 h)
    // — ONE extra lag over ts, integer µs in both engines.
    "stream_pattern_within" -> Q(
      (s, d) => patternHits(s, d, Seq(alertSteps),
        graft.streaming.StreamOps.PatternWithinUs),
      literalSql(alertSteps, "user_id, event_id", Seq(alertSpanSql),
        s" AND span_us <= ${graft.streaming.StreamOps.PatternWithinUs}",
        "event_id")),

    // MEASURES emission (round-12): every hit of the alert pattern reports
    // WHICH events matched (first/last event id, exact µs span — the
    // payload a notification sink routes); two extra lags at distance k−1,
    // so every row here pairs 1:1 with a stream_pattern_alert hit.
    "stream_pattern_measures" -> Q(
      (s, d) => {
        val k = alertSteps.length
        T(s, d, "events")
          .withColumn("hit", patternHit(Seq(alertSteps)))
          .withColumn("first_event_id", lagOf(col("event_id"), k - 1))
          .withColumn("span_us", spanUs(k))
          .filter(col("hit"))
          .select(col("user_id"), col("first_event_id"),
            col("event_id").as("last_event_id"), col("span_us"))
          .orderBy(col("user_id"), col("last_event_id"))
      },
      literalSql(alertSteps,
        "user_id, first_event_id, event_id AS last_event_id, span_us",
        Seq(s"lag(event_id, ${alertSteps.length - 1}) OVER w AS first_event_id",
          alertSpanSql), "", "last_event_id")),

    // QUANTIFIED pattern (round-12): the grammar string expands once
    // (Cep.expandedSteps, the flow count mode's bounded expansion) and an
    // event is a hit when ANY expansion's window ending at it matches —
    // one hit per completing event; runs longer than the bound are not
    // hits (the documented truncation).
    "stream_pattern_quantified" -> Q(
      (s, d) => patternHits(s, d, quantifiedExps),
      anySql(quantifiedExps)),

    // The COMPOSED quantifiers + WITHIN condition (r13): each expansion of
    // length k needs its types AND ts − lag(ts, k−1) ≤ withinUs — the span
    // per CANDIDATE LENGTH. StreamPipelineSpec drives the machine through
    // a kill/restart where the bound must bite on restored timestamps.
    "stream_pattern_quantified_within" -> Q(
      (s, d) => patternHits(s, d, quantifiedExps,
        graft.streaming.StreamOps.PatternWithinUs),
      anySql(quantifiedExps, graft.streaming.StreamOps.PatternWithinUs)),

    // PERMUTE (round-12): the k! orderings (Cep.permuteSteps, the list the
    // flow op's "permute" flag compiles) — the quantified twin with a
    // different expansion source.
    "stream_pattern_permute" -> Q(
      (s, d) => patternHits(s, d, permuteExps),
      anySql(permuteExps)),

    // Batch twin of StreamOps.attributionTws (the per-purchase frame under
    // evt_attribution's channel rollup): one trailing-frame window carries
    // the last non-purchase touch onto each purchase. StreamingSpec pins
    // the transformWithState processor's emission to exactly this frame.
    "stream_attribution" -> Q(
      (s, d) => {
        val w = arrivalW.rowsBetween(Window.unboundedPreceding, -1)
        T(s, d, "events")
          .withColumn("channel", coalesce(
            last(when(col("event_type") =!= "purchase", col("event_type")),
              ignoreNulls = true).over(w), lit("(none)")))
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("channel"), col("value"))
          .orderBy(col("user_id"), col("event_id"))
      },
      usEvents("SELECT user_id, event_id, channel, value FROM (" +
        "SELECT user_id, event_id, event_type, value, " +
        "coalesce(last_value(CASE WHEN event_type <> 'purchase' " +
        "THEN event_type END IGNORE NULLS) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "1 PRECEDING), '(none)') AS channel FROM events) t " +
        "WHERE event_type = 'purchase' ORDER BY user_id, event_id")),

    // Out-of-order arrivals per user: ts behind the running max in arrival
    // (event_id) order — what a watermark would count as late.
    "stream_late_data" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("max_prev_ts", max(col("ts")).over(
          Window.partitionBy(col("user_id")).orderBy(col("event_id"))
            .rowsBetween(Window.unboundedPreceding, -1)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("ts") < col("max_prev_ts"), 1L).otherwise(0L)).as("n_late"))
        .orderBy(col("user_id")),
      usEvents("SELECT user_id, COUNT(*) AS n_events, " +
        "SUM(CASE WHEN ts < max_prev_ts THEN 1 ELSE 0 END)::BIGINT AS n_late FROM " +
        "(SELECT user_id, ts, max(ts) OVER (PARTITION BY user_id ORDER BY event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev_ts " +
        "FROM events) t GROUP BY user_id ORDER BY user_id")),

    // Cohort retention: users bucketed by first-active day, counted on each
    // later active day (ref: the engagement dashboard a gauge feeds [PK]).
    // Two keyed aggregations + one equi-join — the per-(cohort, offset)
    // matrix is tiny at any scale; the user-day distinct is the only
    // data-sized shuffle. Day-level buckets are immune to the ns→µs
    // truncation (an event within 1µs below midnight truncates to the
    // same day in both engines).
    "evt_retention_cohort" -> Q(
      (s, d) => {
        val act = T(s, d, "events")
          .select(col("user_id"), to_date(date_trunc("DAY", col("ts"))).as("day"))
          .distinct()
        val first = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
        act.join(first, "user_id")
          .groupBy(
            // DATE round-trips as python date from Spark parquet but as a
            // Timestamp from DuckDB's .df() — emit TIMESTAMP in both
            // (same convention as fn_date_arith).
            col("cohort_day").cast("timestamp").as("cohort_day"),
            datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_day"), col("day_offset"))
      },
      "WITH act AS (SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day " +
        "FROM events), " +
        "fst AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id) " +
        "SELECT f.cohort_day::TIMESTAMP AS cohort_day, " +
        "date_diff('day', f.cohort_day, a.day)::BIGINT AS day_offset, " +
        "count(DISTINCT a.user_id)::BIGINT AS n_users " +
        "FROM act a JOIN fst f ON a.user_id = f.user_id " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // Event-type transition counts (path bigrams): the 2-step funnel matrix
    // a path-analysis view renders. One window pass + one small aggregate.
    "evt_path_bigrams" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_type"),
          lag(col("event_type"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
            .as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("curr_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("prev_type"), col("curr_type")),
      usEvents("SELECT prev_type, event_type AS curr_type, COUNT(*)::BIGINT AS n " +
        "FROM (SELECT event_type, lag(event_type, 1) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events) t " +
        "WHERE prev_type IS NOT NULL GROUP BY 1, 2 " +
        "ORDER BY n DESC, prev_type, curr_type")),

    // Elapsed time between consecutive events per user (the reference's
    // elapsed filter [PK]): timestamp→double is µs-exact in both engines.
    "evt_elapsed" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("user_id"),
          (col("ts").cast("double") -
            lag(col("ts"), 1).over(
              Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
              .cast("double")).as("elapsed_s"))
        .orderBy(col("event_id")),
      usEvents("SELECT event_id, user_id, " +
        "epoch(ts) - epoch(lag(ts, 1) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id)) AS elapsed_s " +
        "FROM events ORDER BY event_id")),

    // Markov transition matrix: bigram counts normalized per source state
    // (exact counts, one division, identical trees — bit-exact p).
    "evt_markov_transition" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_type"),
          lag(col("event_type"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
            .as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("curr_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type"))))
        .orderBy(col("prev_type"), col("curr_type")),
      usEvents("SELECT prev_type, curr_type, n, " +
        "CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type) AS p FROM (" +
        "SELECT prev_type, event_type AS curr_type, COUNT(*)::BIGINT AS n FROM (" +
        "SELECT event_type, lag(event_type, 1) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events) t " +
        "WHERE prev_type IS NOT NULL GROUP BY 1, 2) c " +
        "ORDER BY prev_type, curr_type")),

    // Z-score anomaly flags (ref: threshold *signal* with a learned
    // baseline [PK]): events more than 3 population-stddevs from their
    // type's mean. Values are quantized to exact 0.1-cent integers so the
    // moment sums are exact and the z expression evaluates bit-identically
    // in both engines (same discipline as agg_corr_regr — the per-type
    // stats frame is 5 rows and broadcasts back onto the stream).
    "evt_anomaly_zscore" -> Q(
      (s, d) => {
        val q = T(s, d, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 10000).cast("long").as("vq"))
        val m = q.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vq")).as("sx"),
            sum(col("vq").cast("decimal(19,0)") * col("vq").cast("decimal(19,0)"))
              .as("sxx"))
        val z = (col("vq").cast("double") -
          col("sx").cast("double") / col("n").cast("double")) /
          sqrt((col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") /
              col("n").cast("double")) / col("n").cast("double"))
        q.join(broadcast(m), "event_type")
          .withColumn("z", z)
          .filter(abs(col("z")) > 3)
          .select(col("event_id"), col("event_type"), col("z"))
          .orderBy(col("event_id"))
      },
      "WITH q AS (SELECT event_id, event_type, floor(value*10000)::BIGINT AS vq " +
        "FROM events), " +
        "m AS (SELECT event_type, COUNT(*) AS n, SUM(vq) AS sx, " +
        "SUM(vq::DECIMAL(19,0) * vq::DECIMAL(19,0)) AS sxx FROM q GROUP BY 1), " +
        "s AS (SELECT q.event_id, q.event_type, " +
        "(CAST(q.vq AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE)) / " +
        "sqrt((CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / " +
        "CAST(m.n AS DOUBLE)) / CAST(m.n AS DOUBLE)) AS z " +
        "FROM q JOIN m ON q.event_type = m.event_type) " +
        "SELECT event_id, event_type, z FROM s WHERE abs(z) > 3 ORDER BY event_id"),

    // Top-2 busiest sessions per user: sessionization composed with the
    // ranked-window top-k pattern (ref: "worst incidents per host" view).
    "evt_top_sessions" -> Q(
      (s, d) => sessionAgg(s, d)
        .withColumn("rn", big(row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("n_events").desc, col("session_seq")))))
        .filter(col("rn") <= 2)
        .select(col("user_id"), col("rn"), col("session_seq"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("rn")),
      usEvents("SELECT user_id, rn, session_seq, n_events, session_value FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY user_id " +
        "ORDER BY n_events DESC, session_seq)::BIGINT AS rn FROM (" +
        "SELECT user_id, session_seq::BIGINT AS session_seq, COUNT(*) AS n_events, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value " +
        "FROM (SELECT user_id, event_id, value, " +
        " SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0 " +
        "  THEN 1 ELSE 0 END::BIGINT) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq " +
        " FROM (SELECT user_id, event_id, value, ts, " +
        "  lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts " +
        "  FROM events) x) y " +
        "GROUP BY user_id, session_seq) sess) z " +
        "WHERE rn <= 2 ORDER BY user_id, rn")),

    // RFM segmentation (recency/frequency/monetary quartiles) — the
    // classic event-analytics cohort view. Recency in exact integer µs
    // from the corpus max; ntile(4) ordered with a user_id tie-break so
    // quartile assignment is deterministic in both engines; monetary
    // through the decimal sum discipline. The quartile windows run over
    // the PER-USER rollup (events already reduced by a keyed agg), but
    // ntile's global ordering is still a single-task window — at ≫1e8
    // users a deployment swaps it for approx_percentile boundary
    // assignment (value-threshold quartiles), trading exact equal-count
    // buckets for full parallelism.
    "evt_rfm_segments" -> Q(
      (s, d) => {
        def quart(order: org.apache.spark.sql.Column) =
          big(ntile(4).over(Window.orderBy(order, col("user_id"))))
        rfmBase(s, d)
          .withColumn("r_q", quart(col("recency_us")))
          .withColumn("f_q", quart(col("freq").desc))
          .withColumn("m_q", quart(col("monetary").desc))
          .select(col("user_id"), col("recency_us"), col("freq"),
            col("monetary"), col("r_q"), col("f_q"), col("m_q"),
            concat(col("r_q"), col("f_q"), col("m_q")).as("segment"))
          .orderBy(col("user_id"))
      },
      usEvents("SELECT user_id, recency_us, freq, monetary, r_q, f_q, m_q, " +
        "(r_q::VARCHAR || f_q::VARCHAR || m_q::VARCHAR) AS segment FROM (" +
        "SELECT user_id, recency_us, freq, monetary, " +
        "ntile(4) OVER (ORDER BY recency_us, user_id)::BIGINT AS r_q, " +
        "ntile(4) OVER (ORDER BY freq DESC, user_id)::BIGINT AS f_q, " +
        "ntile(4) OVER (ORDER BY monetary DESC, user_id)::BIGINT AS m_q FROM (" +
        "SELECT user_id, " +
        "(SELECT epoch_us(MAX(ts)) FROM events) - epoch_us(MAX(ts)) AS recency_us, " +
        "COUNT(*) AS freq, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS monetary " +
        "FROM events GROUP BY user_id) b) q ORDER BY user_id")),

    // RFM segmentation at 100 TB shape: the exact key's ntile(4) is an
    // ORDER BY window with no PARTITION BY — ONE task sorts the whole
    // per-user rollup. This sibling computes the three quartile CUT POINTS
    // with percentile_disc (SQL-standard discrete percentile: smallest
    // value whose cume_dist >= q — an actual data value, so no
    // cross-engine interpolation arithmetic) over a DETERMINISTIC ~1/8
    // hash sample of users (the sample_hash_deterministic predicate, so
    // the boundary stage's single merge buffer is bounded at any corpus
    // size and both engines sample identically), broadcasts the 1-row
    // bounds frame, and assigns quartiles with a CASE — full parallelism,
    // no global sort, O(sample) boundary memory. Semantics vs exact
    // ntile: value-threshold quartiles from sampled cut points — equal
    // values land in the same quartile, bucket counts are approximate.
    // Descending metrics (freq, monetary) are negated so one ascending
    // boundary rule serves all three axes.
    "evt_rfm_segments_approx" -> Q(
      (s, d) => {
        val base = rfmBase(s, d)
        def pd(q: Double, c: String) =
          expr(s"percentile_disc($q) WITHIN GROUP (ORDER BY $c)")
        val bounds = base
          .filter(md5(col("user_id").cast("string")) < "2")
          .select(col("recency_us"), negate(col("freq")).as("nfreq"),
            negate(col("monetary")).as("nmon"))
          .agg(
            pd(0.25, "recency_us").as("r1"), pd(0.5, "recency_us").as("r2"),
            pd(0.75, "recency_us").as("r3"),
            pd(0.25, "nfreq").as("f1"), pd(0.5, "nfreq").as("f2"),
            pd(0.75, "nfreq").as("f3"),
            pd(0.25, "nmon").as("m1"), pd(0.5, "nmon").as("m2"),
            pd(0.75, "nmon").as("m3"))
        def bucket(v: org.apache.spark.sql.Column, b1: String, b2: String,
            b3: String) =
          big(when(v <= col(b1), 1).when(v <= col(b2), 2)
            .when(v <= col(b3), 3).otherwise(4))
        base.crossJoin(broadcast(bounds))
          .withColumn("r_q", bucket(col("recency_us"), "r1", "r2", "r3"))
          .withColumn("f_q", bucket(negate(col("freq")), "f1", "f2", "f3"))
          .withColumn("m_q", bucket(negate(col("monetary")), "m1", "m2", "m3"))
          .select(col("user_id"), col("recency_us"), col("freq"),
            col("monetary"), col("r_q"), col("f_q"), col("m_q"),
            concat(col("r_q"), col("f_q"), col("m_q")).as("segment"))
          .orderBy(col("user_id"))
      },
      usEvents("WITH b AS (SELECT user_id, " +
        "(SELECT epoch_us(MAX(ts)) FROM events) - epoch_us(MAX(ts)) AS recency_us, " +
        "COUNT(*) AS freq, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS monetary " +
        "FROM events GROUP BY user_id), " +
        "q AS (SELECT " +
        "percentile_disc(0.25) WITHIN GROUP (ORDER BY recency_us) AS r1, " +
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY recency_us) AS r2, " +
        "percentile_disc(0.75) WITHIN GROUP (ORDER BY recency_us) AS r3, " +
        "percentile_disc(0.25) WITHIN GROUP (ORDER BY -freq) AS f1, " +
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY -freq) AS f2, " +
        "percentile_disc(0.75) WITHIN GROUP (ORDER BY -freq) AS f3, " +
        "percentile_disc(0.25) WITHIN GROUP (ORDER BY -monetary) AS m1, " +
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY -monetary) AS m2, " +
        "percentile_disc(0.75) WITHIN GROUP (ORDER BY -monetary) AS m3 " +
        "FROM b WHERE md5(user_id::VARCHAR) < '2') " +
        "SELECT user_id, recency_us, freq, monetary, r_q, f_q, m_q, " +
        "(r_q::VARCHAR || f_q::VARCHAR || m_q::VARCHAR) AS segment FROM (" +
        "SELECT user_id, recency_us, freq, monetary, " +
        "(CASE WHEN recency_us <= r1 THEN 1 WHEN recency_us <= r2 THEN 2 " +
        "WHEN recency_us <= r3 THEN 3 ELSE 4 END)::BIGINT AS r_q, " +
        "(CASE WHEN -freq <= f1 THEN 1 WHEN -freq <= f2 THEN 2 " +
        "WHEN -freq <= f3 THEN 3 ELSE 4 END)::BIGINT AS f_q, " +
        "(CASE WHEN -monetary <= m1 THEN 1 WHEN -monetary <= m2 THEN 2 " +
        "WHEN -monetary <= m3 THEN 3 ELSE 4 END)::BIGINT AS m_q " +
        "FROM b CROSS JOIN q) t ORDER BY user_id")),

    // Time-series densify + forward fill (gauge gap-filling [PK]): every
    // user gets a complete daily grid from their first to last active day
    // (sequence+explode — no driver-side calendar), gap days join as
    // n_events = 0, and the last known purchase total carries forward via
    // last(…, ignoreNulls) over a running frame. All stages keyed on
    // user_id — grid generation, the grid↔daily join, and the fill window
    // all partition by user, so the densify never concentrates on one
    // task regardless of corpus size.
    "evt_gap_fill" -> Q(
      (s, d) => {
        val daily = T(s, d, "events")
          .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"),
            dsum(when(col("event_type") === "purchase", col("value")))
              .as("purchase_value"))
        val grid = daily.groupBy(col("user_id"))
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        grid.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            col("purchase_value"),
            last(col("purchase_value"), ignoreNulls = true).over(
              Window.partitionBy(col("user_id")).orderBy(col("day"))
                .rowsBetween(Window.unboundedPreceding, 0))
              .as("filled_value"))
          .orderBy(col("user_id"), col("day"))
      },
      usEvents("WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day, " +
        "COUNT(*) AS n_events, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN " +
        "CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS purchase_value " +
        "FROM events GROUP BY 1, 2), " +
        "span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 " +
        "FROM daily GROUP BY 1), " +
        "grid AS (SELECT user_id, " +
        "unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span) " +
        "SELECT g.user_id, g.day, coalesce(d.n_events, 0) AS n_events, " +
        "d.purchase_value, last_value(d.purchase_value IGNORE NULLS) OVER " +
        "(PARTITION BY g.user_id ORDER BY g.day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value " +
        "FROM grid g LEFT JOIN daily d USING (user_id, day) " +
        "ORDER BY 1, 2")),

    // Strictly-ORDERED funnel with a completion window (evt_funnel is the
    // unordered 2-step): signup → first click AFTER the signup → first
    // purchase AFTER that click, converted iff the chain completes within
    // 7 days of signup. Each stage is a per-user min over an equi-joined
    // slice — three keyed aggs, no window functions, no event
    // re-ordering; the event table is scanned once per stage with the
    // stage predicate pushed to the scan. first-ts chaining (min-after-
    // min) is the textbook formulation a funnel engine compiles to.
    "evt_funnel_ordered" -> Q(
      (s, d) => {
        val e = T(s, d, "events")
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val s2 = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"))
          .join(s1, "user_id").filter(col("ts") > col("t1"))
          .groupBy(col("user_id"))
          .agg(min(col("t1")).as("t1"), min(col("ts")).as("t2"))
        val s3 = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
          .join(s2.select(col("user_id"), col("t2")), "user_id")
          .filter(col("ts") > col("t2"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        s1.join(s2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
          .join(s3, Seq("user_id"), "left")
          .select(col("user_id"),
            col("t2").isNotNull.as("reached_click"),
            col("t3").isNotNull.as("reached_purchase"),
            (col("t3").isNotNull &&
              col("t3") <= col("t1") + expr("INTERVAL 7 DAYS"))
              .as("converted_7d"))
          .orderBy(col("user_id"))
      },
      usEvents("WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
        "WHERE event_type = 'signup' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(s1.t1) AS t1, min(e.ts) AS t2 " +
        "FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1 " +
        "WHERE e.event_type = 'click' GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(e.ts) AS t3 " +
        "FROM events e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2 " +
        "WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT s1.user_id, s2.user_id IS NOT NULL AS reached_click, " +
        "s3.user_id IS NOT NULL AS reached_purchase, " +
        "(s3.user_id IS NOT NULL AND s3.t3 <= s1.t1 + INTERVAL 7 DAY) " +
        "AS converted_7d " +
        "FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id " +
        "LEFT JOIN s3 ON s3.user_id = s1.user_id ORDER BY s1.user_id")),

    // Landing/exit analysis: each session's ENTRY and EXIT event types —
    // the session-report staple next to evt_top_sessions. Composes the
    // shared sessionizer, then one keyed agg: entry/exit come from
    // min/max over (ts, event_id, event_type) structs, whose unique
    // (ts, event_id) prefix makes the lexicographic min/max pick exactly
    // the first/last event — no second window pass over the events, and
    // the struct agg combines map-side like any min/max.
    "evt_session_entry_exit" -> Q(
      (s, d) => sessionized(s, d)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(struct(col("ts"), col("event_id"), col("event_type"))).as("fst"),
          max(struct(col("ts"), col("event_id"), col("event_type"))).as("lst"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_seq"),
          col("fst.event_type").as("entry_type"),
          col("lst.event_type").as("exit_type"), col("n_events"))
        .orderBy(col("user_id"), col("session_seq")),
      usEvents("SELECT user_id, session_seq::BIGINT AS session_seq, " +
        "min(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type, " +
        "min(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type, " +
        "COUNT(*) AS n_events FROM (" +
        "SELECT user_id, event_type, session_seq, " +
        "row_number() OVER (PARTITION BY user_id, session_seq " +
        "ORDER BY ts, event_id) AS rn_a, " +
        "row_number() OVER (PARTITION BY user_id, session_seq " +
        "ORDER BY ts DESC, event_id DESC) AS rn_d FROM (" +
        "SELECT user_id, event_id, event_type, ts, " +
        "SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0 " +
        "THEN 1 ELSE 0 END::BIGINT) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS session_seq FROM (" +
        "SELECT user_id, event_id, event_type, ts, lag(ts, 1) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts " +
        "FROM events) x) y) z " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // DAU/WAU — the engagement staple. Exact trailing-7-day distinct
    // users cannot ride a window frame (no DISTINCT over RANGE frames),
    // and a day BETWEEN gday-6 AND gday band join has no equi-key, so
    // Spark would plan a BroadcastNestedLoopJoin — O(|days| * |pairs|)
    // predicate evaluations, pure wasted compute at 100 TB. Instead each
    // deduped user-day pair is EXPLODED into the <=7 grid days it serves
    // (sequence(day, day+6)) and equi-joined to the observed-day grid:
    // 7x row amplification on an ids-only frame, then one hash
    // shuffle on gday for the distinct count. The grid semi-join is
    // calendar-sized, hence broadcast. DAU is a plain keyed agg over the
    // same deduped pairs.
    "evt_active_users" -> Q(
      (s, d) => {
        val ud = T(s, d, "events")
          .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
          .distinct()
        val days = ud.select(col("day")).distinct()
        val dau = ud.groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("dau"))
        val wau = ud
          .select(col("user_id"), explode(expr(
            "sequence(day, day + INTERVAL 6 DAYS, INTERVAL 1 DAY)")).as("gday"))
          .join(broadcast(days.select(col("day").as("gday"))),
            Seq("gday"), "left_semi")
          .groupBy(col("gday").as("day"))
          .agg(countDistinct(col("user_id")).as("wau"))
        dau.join(wau, "day").orderBy(col("day"))
      },
      usEvents("WITH ud AS (SELECT DISTINCT user_id, " +
        "date_trunc('day', ts) AS day FROM events), " +
        "days AS (SELECT DISTINCT day FROM ud), " +
        "dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau " +
        "FROM ud GROUP BY 1), " +
        "wau AS (SELECT g.day, COUNT(DISTINCT u.user_id) AS wau " +
        "FROM days g JOIN ud u ON u.day BETWEEN g.day - INTERVAL 6 DAY " +
        "AND g.day GROUP BY 1) " +
        "SELECT dau.day, dau.dau, wau.wau FROM dau JOIN wau USING (day) " +
        "ORDER BY day")),

    // Robust anomaly flags — the median/MAD sibling of evt_anomaly_zscore
    // (outliers cannot drag the center the way they drag a mean/stddev).
    // Same exact-arithmetic discipline: values quantize to integers, both
    // medians are interpolated percentiles over identical multisets
    // (Spark percentile ≡ DuckDB quantile_cont — the proven
    // agg_percentile_median pattern), and the 3×MAD comparison runs on
    // identically-derived doubles. Two aggregation passes by necessity
    // (a median is holistic — it cannot fold into one pass like moments);
    // each per-type stats frame broadcasts back.
    "evt_anomaly_mad" -> Q(
      (s, d) => {
        val q = T(s, d, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 10000).cast("long").as("vq"))
        val med = q.groupBy(col("event_type"))
          .agg(expr("percentile(vq, 0.5)").as("med"))
        val dev = q.join(broadcast(med), "event_type")
          .withColumn("dev", abs(col("vq").cast("double") - col("med")))
        val mad = dev.groupBy(col("event_type"))
          .agg(expr("percentile(dev, 0.5)").as("mad"))
        dev.join(broadcast(mad), "event_type")
          .filter(col("dev") > col("mad") * 3)
          .select(col("event_id"), col("event_type"), col("dev"), col("mad"))
          .orderBy(col("event_id"))
      },
      usEvents("WITH q AS (SELECT event_id, event_type, " +
        "floor(value*10000)::BIGINT AS vq FROM events), " +
        "med AS (SELECT event_type, CAST(median(vq) AS DOUBLE) AS med " +
        "FROM q GROUP BY 1), " +
        "dev AS (SELECT q.event_id, q.event_type, " +
        "abs(CAST(q.vq AS DOUBLE) - med.med) AS dev " +
        "FROM q JOIN med USING (event_type)), " +
        "mad AS (SELECT event_type, CAST(median(dev) AS DOUBLE) AS mad " +
        "FROM dev GROUP BY 1) " +
        "SELECT dev.event_id, dev.event_type, dev.dev, mad.mad " +
        "FROM dev JOIN mad USING (event_type) WHERE dev.dev > mad.mad * 3 " +
        "ORDER BY event_id")),

    // Last-touch conversion attribution: each purchase is credited to the
    // most recent PRECEDING non-purchase event by the same user (its
    // "channel"), '(none)' when the purchase opens the stream. One
    // user-partitioned window (last over a trailing frame, ignoreNulls)
    // carries the touch forward — no self-join, no per-conversion scan —
    // then a channel-keyed agg; (ts, event_id) ordering makes the window
    // deterministic. At 100 TB this stays one shuffle on user_id plus the
    // 5-row channel rollup.
    "evt_attribution" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        T(s, d, "events")
          .withColumn("touch",
            last(when(col("event_type") =!= "purchase", col("event_type")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy(coalesce(col("touch"), lit("(none)")).as("channel"))
          .agg(count(lit(1)).as("n_conversions"),
            countDistinct(col("user_id")).as("n_users"),
            dsum(col("value")).as("total_value"))
          .orderBy(col("channel"))
      },
      usEvents("SELECT coalesce(touch, '(none)') AS channel, " +
        "COUNT(*) AS n_conversions, COUNT(DISTINCT user_id)::BIGINT AS n_users, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value FROM (" +
        "SELECT user_id, event_type, value, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END " +
        "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch " +
        "FROM events) t WHERE event_type = 'purchase' " +
        "GROUP BY 1 ORDER BY channel")),

    // Overlapping-interval MERGE (round-10) — the second classic interval
    // primitive (evt_streaks is gaps-and-islands on a day grid; this is
    // the continuous-time version): per (user, event_type) session bounds
    // become per-user interval sets that may overlap across types, and
    // overlapping intervals coalesce into maximal islands via the
    // running-max trick — an interval starts a new island iff its start
    // exceeds the cummax of all PRIOR ends. Two windows + two keyed aggs,
    // all integer µs; the (start, end, type) ordering tuple is a total
    // order so the island numbering is deterministic on both engines.
    "evt_interval_merge" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("tus"), col("event_id"))
        val iv = T(s, d, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            expr("unix_micros(ts)").as("tus"))
          .withColumn("ns", when(lag(col("tus"), 1).over(w).isNull ||
            col("tus") - lag(col("tus"), 1).over(w) > 1800000000L, 1L)
            .otherwise(0L))
          .withColumn("sid", sum(col("ns")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("event_type"), col("sid"))
          .agg(min(col("tus")).as("st"), max(col("tus")).as("en"))
        val byStart = Window.partitionBy(col("user_id"))
          .orderBy(col("st"), col("en"), col("event_type"))
        val prior = byStart.rowsBetween(Window.unboundedPreceding, -1)
        iv.withColumn("new_island",
            when(max(col("en")).over(prior).isNull ||
              col("st") > max(col("en")).over(prior), 1L).otherwise(0L))
          .withColumn("island", sum(col("new_island")).over(
            byStart.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("island"))
          .agg(min(col("st")).as("merged_start_us"),
            max(col("en")).as("merged_end_us"),
            count(lit(1)).as("n_source_intervals"))
          .orderBy(col("user_id"), col("island"))
      },
      usEvents("WITH o AS (SELECT user_id, event_type, event_id, " +
        "epoch_us(ts) AS tus FROM events), " +
        "f AS (SELECT user_id, event_type, tus, CASE WHEN " +
        "lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS ns FROM o WINDOW w AS " +
        "(PARTITION BY user_id, event_type ORDER BY tus, event_id)), " +
        "s AS (SELECT user_id, event_type, tus, SUM(ns) OVER " +
        "(PARTITION BY user_id, event_type ORDER BY tus " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM f), " +
        "iv AS (SELECT user_id, event_type, sid, MIN(tus) AS st, " +
        "MAX(tus) AS en FROM s GROUP BY 1, 2, 3), " +
        "m AS (SELECT user_id, event_type, st, en, CASE WHEN " +
        "MAX(en) OVER p IS NULL OR st > MAX(en) OVER p THEN 1 ELSE 0 END " +
        "AS new_island FROM iv WINDOW p AS (PARTITION BY user_id " +
        "ORDER BY st, en, event_type " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
        "isl AS (SELECT user_id, st, en, SUM(new_island) OVER " +
        "(PARTITION BY user_id ORDER BY st, en, event_type " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS island FROM m) " +
        "SELECT user_id, island, MIN(st)::BIGINT AS merged_start_us, " +
        "MAX(en)::BIGINT AS merged_end_us, " +
        "COUNT(*)::BIGINT AS n_source_intervals FROM isl " +
        "GROUP BY 1, 2 ORDER BY user_id, island")),

    // Dwell time per event type (round-10) — the screen-time metric: the
    // gap to a user's NEXT event is attributed to the current event's type
    // (the page you were on is the page you dwelt on); a user's last event
    // contributes nothing (no observed exit). One lead window per user,
    // exact integer µs everywhere, then a type-keyed rollup with a
    // DECIMAL-exact mean — one shuffle on user_id, 5-row output.
    "evt_dwell_time" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))
        T(s, d, "events")
          .select(col("event_type"), expr("unix_micros(ts)").as("tus"),
            col("user_id"), col("event_id"))
          .withColumn("dwell_us", lead(col("tus"), 1).over(w) - col("tus"))
          .filter(col("dwell_us").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_dwells"),
            sum(col("dwell_us")).as("total_dwell_us"),
            max(col("dwell_us")).as("max_dwell_us"))
          // FLOOR division on both engines (Spark div ≡ DuckDB //): a
          // double-divide-then-cast would truncate in Spark but ROUND in
          // DuckDB — the half-even trap §7.4 warns about
          .withColumn("mean_dwell_us",
            expr("total_dwell_us div n_dwells"))
          .select(col("event_type"), col("n_dwells"), col("total_dwell_us"),
            col("mean_dwell_us"), col("max_dwell_us"))
          .orderBy(col("event_type"))
      },
      usEvents("SELECT event_type, COUNT(*) AS n_dwells, " +
        "SUM(dwell_us)::BIGINT AS total_dwell_us, " +
        "SUM(dwell_us)::BIGINT // COUNT(*) AS mean_dwell_us, " +
        "MAX(dwell_us) AS max_dwell_us FROM (" +
        "SELECT event_type, lead(epoch_us(ts)) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) - epoch_us(ts) AS dwell_us FROM events) t " +
        "WHERE dwell_us IS NOT NULL GROUP BY 1 ORDER BY event_type")),

    // Bot detection by inter-arrival regularity (round-10) — the abuse
    // heuristic every event pipeline runs: humans are bursty, scripts are
    // metronomes, so a LOW coefficient of variation of per-user gaps flags
    // automation. All moments are exact integer sums (the agg_corr_regr
    // discipline) and the CV² comparison is cross-multiplied —
    // n·Σg² − (Σg)² < τ²·(Σg)² flags CV < τ — so no division or sqrt ever
    // enters either engine and the flag is bit-identical. Overflow
    // discipline (r11): gaps are winsorized at one week (a longer gap is a
    // dormancy boundary, not bot cadence — and it bounds Σg² at BIGINT
    // scale to ~2.5e7 gaps/user), and the cross-multiplied comparison runs
    // in DECIMAL(38,0) here / HUGEINT in the oracle, exact past 1e12 gaps
    // per user. One window pass + one keyed agg; user-sized output.
    "evt_bot_detect" -> Q(
      (s, d) => {
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        T(s, d, "events")
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("tus"))
          // gaps in SECONDS for the moment math: a multi-day µs gap
          // squared overflows BIGINT (and Spark would wrap silently where
          // DuckDB errors); second-grain squares stay far inside 2^63
          .withColumn("gap_s",
            least(expr("(tus - lag(tus, 1) OVER (PARTITION BY user_id " +
              "ORDER BY tus, event_id)) div 1000000"), lit(604800L)))
          .filter(col("gap_s").isNotNull)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_gaps"),
            sum(col("gap_s")).as("sum_g"),
            sum((col("gap_s") * col("gap_s")).cast(d38)).as("sum_g2"))
          .filter(col("n_gaps") >= 5)
          .select(col("user_id"), col("n_gaps"),
            expr("sum_g div n_gaps").as("mean_gap_s"),
            // CV < 0.5  ⇔  4·n·Σg² < 5·(Σg)²  (128-bit-exact integer space)
            (col("n_gaps").cast(d38) * col("sum_g2") * 4L
              < col("sum_g").cast(d38) * col("sum_g").cast(d38) * 5L)
              .as("bot_like"))
          .orderBy(col("user_id"))
      },
      usEvents("SELECT user_id, n_gaps, sum_g // n_gaps AS mean_gap_s, " +
        "n_gaps::HUGEINT * sum_g2 * 4 < sum_g::HUGEINT * sum_g * 5 AS bot_like " +
        "FROM (SELECT user_id, COUNT(*)::BIGINT AS n_gaps, " +
        "SUM(gap_s)::BIGINT AS sum_g, " +
        "SUM(gap_s * gap_s)::HUGEINT AS sum_g2 FROM (" +
        "SELECT user_id, LEAST((epoch_us(ts) - lag(epoch_us(ts)) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id)) // 1000000, 604800) AS gap_s " +
        "FROM events) g WHERE gap_s IS NOT NULL GROUP BY 1) t " +
        "WHERE n_gaps >= 5 ORDER BY user_id")),

    // Linear MULTI-touch attribution (round-10) — evt_attribution's
    // sibling: instead of the last touch taking everything, every touch in
    // the conversion path (all non-purchase events since the previous
    // purchase) shares the credit equally. Credit is integer micro-units —
    // each channel's share is ONE floor division (cnt·1e6 div n_touches),
    // so both engines produce identical integers and a path's credit never
    // exceeds 1e6 (floor loss is deterministic). A touchless conversion
    // credits '(none)'. Same scale shape as the aggregate-task family:
    // one user-partitioned window to number conversion paths, then keyed
    // aggs — one shuffle on user_id, channel-sized output.
    "evt_attribution_linear" -> Q(
      (s, d) => {
        val priorW = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val ev = T(s, d, "events")
          .withColumn("task", coalesce(
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .over(priorW), lit(0L)))
        val tasks = ev.groupBy(col("user_id"), col("task"))
          .agg(max(when(col("event_type") === "purchase", col("event_id")))
            .as("conv_id"),
            sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L))
              .as("n_touches"))
          .filter(col("conv_id").isNotNull)
        val touches = ev.filter(col("event_type") =!= "purchase")
          .groupBy(col("user_id"), col("task"),
            col("event_type").as("channel"))
          .agg(count(lit(1)).as("cnt"))
        val credited = touches.join(tasks, Seq("user_id", "task"))
          .select(col("channel"),
            expr("(cnt * 1000000) div n_touches").as("credit"))
        val none = tasks.filter(col("n_touches") === 0)
          .select(lit("(none)").as("channel"), lit(1000000L).as("credit"))
        credited.unionByName(none)
          .groupBy(col("channel"))
          .agg(sum(col("credit")).as("credit_micro"),
            count(lit(1)).as("n_task_channels"))
          .orderBy(col("channel"))
      },
      usEvents("WITH ev AS (SELECT user_id, event_id, event_type, " +
        "COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS task " +
        "FROM events), " +
        "tasks AS (SELECT user_id, task, " +
        "MAX(CASE WHEN event_type = 'purchase' THEN event_id END) AS conv_id, " +
        "SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)::BIGINT " +
        "AS n_touches FROM ev GROUP BY 1, 2), " +
        "t2 AS (SELECT * FROM tasks WHERE conv_id IS NOT NULL), " +
        "touches AS (SELECT user_id, task, event_type AS channel, " +
        "COUNT(*)::BIGINT AS cnt FROM ev WHERE event_type <> 'purchase' " +
        "GROUP BY 1, 2, 3), " +
        "cr AS (SELECT channel, (cnt * 1000000) // n_touches AS credit " +
        "FROM touches JOIN t2 USING (user_id, task) " +
        "UNION ALL SELECT '(none)', 1000000 FROM t2 WHERE n_touches = 0) " +
        "SELECT channel, SUM(credit)::BIGINT AS credit_micro, " +
        "COUNT(*)::BIGINT AS n_task_channels FROM cr " +
        "GROUP BY 1 ORDER BY channel")),

    // Gaps-and-islands: longest consecutive-day activity streak per user.
    // The classic integer trick — day_number − row_number is constant
    // within a run of consecutive days — turns streak detection into two
    // keyed aggs and ONE user-partitioned window over the deduped
    // user×day frame (bounded by users × calendar, far smaller than the
    // event stream). All integer math end to end.
    "evt_streaks" -> Q(
      (s, d) => {
        val days = T(s, d, "events")
          .select(col("user_id"),
            floor(col("ts").cast("double") / 86400).cast("long").as("dayn"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("dayn"))
        days
          .withColumn("island", col("dayn") - row_number().over(w))
          .groupBy(col("user_id"), col("island"))
          .agg(count(lit(1)).as("len"))
          .groupBy(col("user_id"))
          .agg(sum(col("len")).as("active_days"),
            max(col("len")).as("longest_streak"),
            count(lit(1)).as("n_streaks"))
          .orderBy(col("user_id"))
      },
      usEvents("WITH days AS (SELECT DISTINCT user_id, " +
        "floor(epoch(ts) / 86400)::BIGINT AS dayn FROM events), " +
        "runs AS (SELECT user_id, dayn - row_number() OVER " +
        "(PARTITION BY user_id ORDER BY dayn) AS island FROM days), " +
        "streaks AS (SELECT user_id, island, COUNT(*) AS len " +
        "FROM runs GROUP BY 1, 2) " +
        "SELECT user_id, SUM(len)::BIGINT AS active_days, " +
        "MAX(len) AS longest_streak, COUNT(*) AS n_streaks " +
        "FROM streaks GROUP BY 1 ORDER BY user_id")),

    // Welch two-sample t statistic per event_type — the experimentation
    // staple (is variant A's mean value different from B's?). Variant is
    // the deterministic user-parity split (user_id % 2 — the hash-split
    // every A/B system uses; no rand()). EVERY aggregate is exact:
    // values quantize to floor(value·1e4) longs, sums of squares
    // accumulate in DECIMAL(38,0) ≡ DuckDB's HUGEINT SUM (a long sum of
    // vq² would overflow ~1e7 rows before the corpus does), and the t
    // statistic is ONE double expression over those exact sums with a
    // textually identical formula in both engines (the moments-from-
    // exact-sums discipline of agg_moments_skew). One map-side-
    // combinable hash agg on event_type — 5 groups at any scale.
    "evt_ab_ttest" -> Q(
      (s, d) => {
        val q = T(s, d, "events").select(col("event_type"),
          (col("user_id") % 2 === 0).as("is_a"),
          floor(col("value") * 10000).cast("long").as("vq"))
        q.groupBy(col("event_type"))
          .agg(
            sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
            sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
            sum(when(col("is_a"), col("vq")).otherwise(0L)).as("s_a"),
            sum(when(!col("is_a"), col("vq")).otherwise(0L)).as("s_b"),
            sum(when(col("is_a"),
              col("vq").cast("decimal(38,0)") * col("vq").cast("decimal(38,0)"))
              .otherwise(lit(0).cast("decimal(38,0)"))).as("qa"),
            sum(when(!col("is_a"),
              col("vq").cast("decimal(38,0)") * col("vq").cast("decimal(38,0)"))
              .otherwise(lit(0).cast("decimal(38,0)"))).as("qb"))
          .withColumn("mean_a", col("s_a").cast("double") / 10000.0 / col("n_a"))
          .withColumn("mean_b", col("s_b").cast("double") / 10000.0 / col("n_b"))
          .withColumn("var_a",
            (col("qa").cast("double") / 100000000.0
              - col("n_a") * col("mean_a") * col("mean_a")) / (col("n_a") - 1))
          .withColumn("var_b",
            (col("qb").cast("double") / 100000000.0
              - col("n_b") * col("mean_b") * col("mean_b")) / (col("n_b") - 1))
          .select(col("event_type"), col("n_a"), col("n_b"),
            col("mean_a"), col("mean_b"),
            round((col("mean_a") - col("mean_b")) /
              sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 4)
              .as("t_welch"))
          .orderBy(col("event_type"))
      },
      usEvents("SELECT event_type, n_a, n_b, mean_a, mean_b, " +
        "round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 4) " +
        "AS t_welch FROM (" +
        "SELECT event_type, n_a, n_b, mean_a, mean_b, " +
        "(qa / 100000000.0 - n_a * mean_a * mean_a) / (n_a - 1) AS var_a, " +
        "(qb / 100000000.0 - n_b * mean_b * mean_b) / (n_b - 1) AS var_b " +
        "FROM (SELECT event_type, n_a, n_b, " +
        "CAST(s_a AS DOUBLE) / 10000.0 / n_a AS mean_a, " +
        "CAST(s_b AS DOUBLE) / 10000.0 / n_b AS mean_b, " +
        "CAST(sq_a AS DOUBLE) AS qa, CAST(sq_b AS DOUBLE) AS qb " +
        "FROM (SELECT event_type, " +
        "SUM(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a, " +
        "SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n_b, " +
        "SUM(CASE WHEN is_a THEN vq ELSE 0 END)::BIGINT AS s_a, " +
        "SUM(CASE WHEN NOT is_a THEN vq ELSE 0 END)::BIGINT AS s_b, " +
        // HUGEINT squares mirror the Spark side's DECIMAL(38,0): plain
        // BIGINT vq*vq would overflow at |value| >= ~304k while Spark kept
        // going — a silent cross-engine divergence at larger fixtures.
        "SUM(CASE WHEN is_a THEN CAST(vq AS HUGEINT) * vq ELSE 0 END) AS sq_a, " +
        "SUM(CASE WHEN NOT is_a THEN CAST(vq AS HUGEINT) * vq ELSE 0 END) AS sq_b " +
        "FROM (SELECT event_type, user_id % 2 = 0 AS is_a, " +
        "floor(value * 10000)::BIGINT AS vq FROM events) v " +
        "GROUP BY 1) g) m) t ORDER BY event_type")),

    // SCD-2 (type-2 slowly-changing-dimension) state history: collapse each
    // user's event stream into validity intervals of consecutive identical
    // event_type — the dimension-table build every warehouse runs nightly
    // (user_id, version, state, valid_from, valid_to, is_current).
    // Gaps-and-islands: lag detects the state change, the running sum of
    // change flags IS the 1-based version number, islands group-by, lead
    // closes each interval with the next one's open edge. Every window is
    // partitioned by user_id (per-user frames are session-sized, never
    // corpus-sized — the partitioning that holds at 100 TB); timestamps
    // emit as epoch-µs BIGINTs (events.ts is µs-truncated on read, §7.4.2).
    "evt_scd2_state" -> Q(
      (s, d) => scd2Intervals(s, d)
        .withColumn("is_current", col("valid_to_us").isNull)
        .select(col("user_id"), col("version"), col("state"),
          col("valid_from_us"), col("valid_to_us"), col("n_events"),
          col("is_current"))
        .orderBy(col("user_id"), col("version")),
      usEvents("WITH c AS (SELECT user_id, ts, event_id, event_type, " +
        "CASE WHEN lag(event_type) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) IS DISTINCT FROM event_type " +
        "THEN 1 ELSE 0 END AS chg FROM events), " +
        "v AS (SELECT user_id, ts, event_type, " +
        "SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS version FROM c), " +
        "i AS (SELECT user_id, version, MIN(event_type) AS state, " +
        "MIN(epoch_us(ts))::BIGINT AS valid_from_us, " +
        "COUNT(*)::BIGINT AS n_events FROM v GROUP BY 1, 2) " +
        "SELECT user_id, version, state, valid_from_us, " +
        "lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)" +
        "::BIGINT AS valid_to_us, n_events, " +
        "lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) " +
        "IS NULL AS is_current " +
        "FROM i ORDER BY user_id, version")),

    // POINT-IN-TIME dimension lookup against the SCD2 intervals
    // (round-10) — the warehouse query the versioned dim exists for:
    // "what state was this user in an hour before this event?". Probes
    // (every 7th event, shifted back 1h) join the validity intervals on
    // user equality + a half-open range [valid_from, valid_to); probes
    // before the user's first version surface state NULL via the left
    // join. Scale shape: the equi-key (user_id) carries the join — the
    // range is a residual filter over that user's FEW versions, so this
    // is one keyed shuffle, never a theta join (and the plan audit would
    // catch a BNLJ regression).
    "join_scd2_pointintime" -> Q(
      (s, d) => {
        val dim = scd2Intervals(s, d)
        val probes = T(s, d, "events")
          .filter(col("event_id") % 7 === 0)
          .select(col("event_id"), col("user_id").as("p_uid"),
            (unix_micros(col("ts")) - 3600000000L).as("probe_us"))
        probes.join(dim,
            probes("p_uid") === dim("user_id") &&
              probes("probe_us") >= dim("valid_from_us") &&
              (dim("valid_to_us").isNull ||
                probes("probe_us") < dim("valid_to_us")),
            "left")
          .select(col("event_id"), col("p_uid").as("user_id"),
            col("probe_us"), col("state").as("state_at_probe"),
            col("version"))
          .orderBy(col("event_id"))
      },
      usEvents("WITH c AS (SELECT user_id, ts, event_id, event_type, " +
        "CASE WHEN lag(event_type) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) IS DISTINCT FROM event_type " +
        "THEN 1 ELSE 0 END AS chg FROM events), " +
        "v AS (SELECT user_id, ts, event_type, " +
        "SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS version FROM c), " +
        "i AS (SELECT user_id, version, MIN(event_type) AS state, " +
        "MIN(epoch_us(ts))::BIGINT AS valid_from_us " +
        "FROM v GROUP BY 1, 2), " +
        "dim AS (SELECT user_id, version, state, valid_from_us, " +
        "lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)" +
        "::BIGINT AS valid_to_us FROM i), " +
        "p AS (SELECT event_id, user_id AS p_uid, " +
        "epoch_us(ts) - 3600000000 AS probe_us FROM events " +
        "WHERE event_id % 7 = 0) " +
        "SELECT p.event_id, p.p_uid AS user_id, p.probe_us, " +
        "dim.state AS state_at_probe, dim.version FROM p " +
        "LEFT JOIN dim ON p.p_uid = dim.user_id " +
        "AND p.probe_us >= dim.valid_from_us " +
        "AND (dim.valid_to_us IS NULL OR p.probe_us < dim.valid_to_us) " +
        "ORDER BY event_id")),

    // Batch twin of StreamOps.scd2Stream: the CLOSED intervals of
    // evt_scd2_state (is_current = false) — exactly what the streaming
    // processor emits in append mode; the open interval lives in state.
    // Stream ≡ batch is pinned in StreamingSpec.
    "stream_scd2" -> Q(
      (s, d) => scd2Intervals(s, d)
        .filter(col("valid_to_us").isNotNull)
        .select(col("user_id"), col("version"), col("state"),
          col("valid_from_us"), col("valid_to_us"), col("n_events"))
        .orderBy(col("user_id"), col("version")),
      usEvents("WITH c AS (SELECT user_id, ts, event_id, event_type, " +
        "CASE WHEN lag(event_type) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) IS DISTINCT FROM event_type " +
        "THEN 1 ELSE 0 END AS chg FROM events), " +
        "v AS (SELECT user_id, ts, event_type, " +
        "SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS version FROM c), " +
        "i AS (SELECT user_id, version, MIN(event_type) AS state, " +
        "MIN(epoch_us(ts))::BIGINT AS valid_from_us, " +
        "COUNT(*)::BIGINT AS n_events FROM v GROUP BY 1, 2), " +
        "x AS (SELECT user_id, version, state, valid_from_us, " +
        "lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)" +
        "::BIGINT AS valid_to_us, n_events FROM i) " +
        "SELECT user_id, version, state, valid_from_us, valid_to_us, " +
        "n_events FROM x WHERE valid_to_us IS NOT NULL " +
        "ORDER BY user_id, version")),

    // Cohort LTV matrix — evt_retention_cohort's revenue sibling: per
    // (signup-day cohort × day offset) the active users, period value, the
    // RUNNING cumulative value, and LTV per original cohort member. Money
    // stays DECIMAL(18,4) through every sum including the running window
    // (a double running sum would be addend-order-dependent); the two
    // per-row divisions are single double ops rounded 4dp. Scale shape:
    // the heavy aggs key on (user, day) and (cohort, offset) — both hash
    // aggs; the running-sum window partitions by cohort_day with an
    // offsets-sized frame (≤ calendar days, BOUNDED — never user- or
    // event-sized); cohort sizes are a days-sized broadcast.
    "evt_cohort_ltv" -> Q(
      (s, d) => {
        val uday = T(s, d, "events")
          .groupBy(col("user_id"), to_date(date_trunc("DAY", col("ts"))).as("day"))
          .agg(sum(dec(col("value"))).as("dv"))
        val first = uday.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
        val sizes = first.groupBy(col("cohort_day"))
          .agg(count(lit(1)).as("cohort_users"))
        val cell = uday.join(first, "user_id")
          .groupBy(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
          .agg(count(lit(1)).as("n_active"), sum(col("dv")).as("pv"))
        val byOffset = Window.partitionBy(col("cohort_day"))
          .orderBy(col("day_offset"))
          .rowsBetween(Window.unboundedPreceding, 0)
        cell.join(broadcast(sizes), "cohort_day")
          .withColumn("cum", sum(col("pv")).over(byOffset))
          .select(col("cohort_day").cast("timestamp").as("cohort_day"),
            col("day_offset"), col("n_active"), col("cohort_users"),
            col("pv").cast("double").as("period_value"),
            col("cum").cast("double").as("cum_value"),
            // floor-quantized, not round(): the decimal-exact cum divided
            // by an integer lands on 5th-digit ties where Spark rounds
            // half-up and DuckDB half-even (§7.4) — floor has no tie.
            (floor(col("cum").cast("double") / col("cohort_users") * 10000)
              .cast("long") / 10000.0).as("ltv"))
          .orderBy(col("cohort_day"), col("day_offset"))
      },
      usEvents("WITH uday AS (SELECT user_id, date_trunc('day', ts)::DATE AS day, " +
        "SUM(CAST(value AS DECIMAL(18,4))) AS dv FROM events GROUP BY 1, 2), " +
        "fst AS (SELECT user_id, MIN(day) AS cohort_day FROM uday GROUP BY 1), " +
        "sz AS (SELECT cohort_day, COUNT(*)::BIGINT AS cohort_users FROM fst " +
        "GROUP BY 1), " +
        "cell AS (SELECT f.cohort_day, " +
        "date_diff('day', f.cohort_day, u.day)::BIGINT AS day_offset, " +
        "COUNT(*)::BIGINT AS n_active, SUM(u.dv) AS pv " +
        "FROM uday u JOIN fst f ON u.user_id = f.user_id GROUP BY 1, 2) " +
        "SELECT c.cohort_day::TIMESTAMP AS cohort_day, c.day_offset, " +
        "c.n_active, s.cohort_users, CAST(c.pv AS DOUBLE) AS period_value, " +
        "CAST(SUM(c.pv) OVER (PARTITION BY c.cohort_day ORDER BY c.day_offset " +
        "ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value, " +
        "floor(CAST(SUM(c.pv) OVER (PARTITION BY c.cohort_day " +
        "ORDER BY c.day_offset ROWS UNBOUNDED PRECEDING) AS DOUBLE) " +
        "/ s.cohort_users * 10000)::BIGINT / 10000.0 AS ltv " +
        "FROM cell c JOIN sz s ON c.cohort_day = s.cohort_day " +
        "ORDER BY cohort_day, day_offset")),

    // Audience overlap: pairwise Jaccard of the user sets behind each
    // event_type (the segment-overlap report behind every campaign
    // planner). The intersection comes from a per-user self-join of the
    // distinct (user, type) frame — each user contributes at most
    // C(|types|, 2) = 10 pairs, so the join amplifies by a CONSTANT, never
    // quadratically in users; set sizes are a |types|-row broadcast; the
    // Jaccard is one double division rounded 4dp.
    "evt_user_overlap_jaccard" -> Q(
      (s, d) => {
        val ut = T(s, d, "events")
          .select(col("user_id"), col("event_type")).distinct()
        val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val inter = ut.as("a")
          .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_both"))
        inter
          .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
            .withColumnRenamed("n", "n_a")), "type_a")
          .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
            .withColumnRenamed("n", "n_b")), "type_b")
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("n_both"),
            round(col("n_both").cast("double") /
              (col("n_a") + col("n_b") - col("n_both")), 4).as("jaccard"))
          .orderBy(col("type_a"), col("type_b"))
      },
      usEvents("WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "sz AS (SELECT event_type, COUNT(*)::BIGINT AS n FROM ut GROUP BY 1), " +
        "iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "COUNT(*)::BIGINT AS n_both FROM ut a JOIN ut b " +
        "ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "GROUP BY 1, 2) " +
        "SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both, " +
        "round(CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both), 4) " +
        "AS jaccard " +
        "FROM iv i JOIN sz sa ON i.type_a = sa.event_type " +
        "JOIN sz sb ON i.type_b = sb.event_type " +
        "ORDER BY type_a, type_b")),

    // Time-to-convert distribution: for every purchase, the µs delay since
    // the SAME user's most recent prior view (a per-user running max of
    // view timestamps — one window pass, no self-join), reported as a
    // log2-bucketed delay histogram. The histogram — not a percentile —
    // is deliberate: exact percentiles over the corpus-sized delay frame
    // buffer it in one task (the anti-pattern scale_skew_profile documents);
    // the bit-length bucket keeps the output ≤64 rows at any scale with
    // exact integer math. Delay sums stay in exact longs; the mean is the
    // single final division.
    "evt_time_to_convert" -> Q(
      (s, d) => {
        val runW = arrivalW.rowsBetween(Window.unboundedPreceding, 0)
        T(s, d, "events")
          .withColumn("last_view_us",
            max(when(col("event_type") === "view", unix_micros(col("ts"))))
              .over(runW))
          .filter(col("event_type") === "purchase" &&
            col("last_view_us").isNotNull)
          .withColumn("delay_us", unix_micros(col("ts")) - col("last_view_us"))
          .withColumn("bucket", big(length(bin(col("delay_us"))) - 1))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_conversions"),
            min(col("delay_us")).as("min_delay_us"),
            max(col("delay_us")).as("max_delay_us"),
            (sum(col("delay_us")).cast("double") / count(lit(1)))
              .as("avg_delay_us"))
          .orderBy(col("bucket"))
      },
      usEvents("WITH pv AS (SELECT event_type, " +
        "MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS last_view_us, " +
        "epoch_us(ts) AS ts_us FROM events), " +
        "dl AS (SELECT ts_us - last_view_us AS delay_us FROM pv " +
        "WHERE event_type = 'purchase' AND last_view_us IS NOT NULL) " +
        "SELECT (length(bin(delay_us)) - 1)::BIGINT AS bucket, " +
        "COUNT(*)::BIGINT AS n_conversions, " +
        "MIN(delay_us)::BIGINT AS min_delay_us, " +
        "MAX(delay_us)::BIGINT AS max_delay_us, " +
        "CAST(SUM(delay_us) AS DOUBLE) / COUNT(*) AS avg_delay_us " +
        "FROM dl GROUP BY 1 ORDER BY bucket")),

    // New-vs-returning daily split — the acquisition report next to DAU:
    // a user counts as new on their first active day, returning after.
    // Same two hash aggs evt_retention_cohort pays ((user, day) distinct,
    // then per-user min); the daily rollup keys on the calendar. new_share
    // is the single double division, floor-quantized (no round ties).
    "evt_new_vs_returning" -> Q(
      (s, d) => {
        val act = T(s, d, "events")
          .select(col("user_id"), to_date(date_trunc("DAY", col("ts"))).as("day"))
          .distinct()
        val first = act.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
        act.join(first, "user_id")
          // flag BEFORE the rollup: after the grouping alias re-types day
          // to timestamp, a day=first_day comparison would be ambiguous
          .select(col("day"),
            when(col("day") === col("first_day"), 1L).otherwise(0L).as("isn"))
          .groupBy(col("day").cast("timestamp").as("day"))
          .agg(sum(col("isn")).as("n_new"),
            sum(lit(1L) - col("isn")).as("n_returning"),
            count(lit(1)).as("n_active"))
          .withColumn("new_share",
            floor(col("n_new").cast("double") / col("n_active") * 10000)
              .cast("long") / 10000.0)
          .orderBy(col("day"))
      },
      usEvents("WITH act AS (SELECT DISTINCT user_id, " +
        "date_trunc('day', ts)::DATE AS day FROM events), " +
        "fst AS (SELECT user_id, MIN(day) AS first_day FROM act GROUP BY 1) " +
        "SELECT day::TIMESTAMP AS day, " +
        "SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)::BIGINT AS n_new, " +
        "SUM(CASE WHEN day <> first_day THEN 1 ELSE 0 END)::BIGINT " +
        "AS n_returning, COUNT(*)::BIGINT AS n_active, " +
        "floor(CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) " +
        "AS DOUBLE) / COUNT(*) * 10000)::BIGINT / 10000.0 AS new_share " +
        "FROM act a JOIN fst f ON a.user_id = f.user_id " +
        "GROUP BY a.day ORDER BY day")),

    // DAU/MAU stickiness — the engagement headline. Same exploded-grid
    // equi-join shape the WAU rewrite proved (each user-day serves its
    // ≤30 trailing grid days; hash join on gday, never a BETWEEN nested
    // loop): 30× amplification of the DEDUPED user-day frame, the
    // documented exact path — at extreme scale the HLL sketch twin
    // (StreamOps.wauSketchStream's machinery) replaces it. Stickiness is
    // one division, floor-quantized.
    "evt_mau_stickiness" -> Q(
      (s, d) => {
        val ud = T(s, d, "events")
          .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
          .distinct()
        val days = ud.select(col("day")).distinct()
        val dau = ud.groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("dau"))
        val mau = ud
          .select(col("user_id"), explode(expr(
            "sequence(day, day + INTERVAL 29 DAYS, INTERVAL 1 DAY)")).as("gday"))
          .join(broadcast(days.select(col("day").as("gday"))),
            Seq("gday"), "left_semi")
          .groupBy(col("gday").as("day"))
          .agg(countDistinct(col("user_id")).as("mau"))
        dau.join(mau, "day")
          .select(col("day"), col("dau"), col("mau"),
            (floor(col("dau").cast("double") / col("mau") * 10000)
              .cast("long") / 10000.0).as("stickiness"))
          .orderBy(col("day"))
      },
      usEvents("WITH ud AS (SELECT DISTINCT user_id, " +
        "date_trunc('day', ts) AS day FROM events), " +
        "days AS (SELECT DISTINCT day FROM ud), " +
        "dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau " +
        "FROM ud GROUP BY 1), " +
        "mau AS (SELECT g.day, COUNT(DISTINCT u.user_id) AS mau " +
        "FROM days g JOIN ud u ON u.day BETWEEN g.day - INTERVAL 29 DAY " +
        "AND g.day GROUP BY 1) " +
        "SELECT dau.day, dau.dau, mau.mau, " +
        "floor(CAST(dau.dau AS DOUBLE) / mau.mau * 10000)::BIGINT / 10000.0 " +
        "AS stickiness FROM dau JOIN mau USING (day) ORDER BY day")),

    // Day-of-week × hour activity heatmap — the ops-dashboard staple.
    // One hash agg on a 7×24-bounded key. Calendar parity pinned
    // explicitly: Spark dayofweek is 1-based Sunday=1, DuckDB dow is
    // 0-based Sunday=0 — the Spark side subtracts 1 rather than leaving
    // an off-by-one for the reader to discover.
    "evt_dow_hour_heatmap" -> Q(
      (s, d) => T(s, d, "events")
        .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("dow"), col("hr")),
      usEvents("SELECT dayofweek(ts)::BIGINT AS dow, hour(ts)::BIGINT AS hr, " +
        "COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value " +
        "FROM events GROUP BY 1, 2 ORDER BY dow, hr")),

    // Retention RATES — the triangle report rendered from
    // evt_retention_cohort's counts: each cell as a share of its cohort's
    // size (day-0 active = the cohort, since the first active day is by
    // definition active). Same two hash aggs as the counts key plus a
    // days-sized broadcast of cohort sizes; rates floor-quantized.
    "evt_retention_rates" -> Q(
      (s, d) => {
        val act = T(s, d, "events")
          .select(col("user_id"), to_date(date_trunc("DAY", col("ts"))).as("day"))
          .distinct()
        val first = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
        val sizes = first.groupBy(col("cohort_day"))
          .agg(count(lit(1)).as("cohort_size"))
        act.join(first, "user_id")
          .groupBy(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .join(broadcast(sizes), "cohort_day")
          .select(col("cohort_day").cast("timestamp").as("cohort_day"),
            col("day_offset"), col("n_users"), col("cohort_size"),
            (floor(col("n_users").cast("double") / col("cohort_size") * 10000)
              .cast("long") / 10000.0).as("retention_rate"))
          .orderBy(col("cohort_day"), col("day_offset"))
      },
      "WITH act AS (SELECT DISTINCT user_id, date_trunc('day', ts)::DATE " +
        "AS day FROM events), " +
        "fst AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1), " +
        "sz AS (SELECT cohort_day, COUNT(*)::BIGINT AS cohort_size FROM fst " +
        "GROUP BY 1), " +
        "cell AS (SELECT f.cohort_day, " +
        "date_diff('day', f.cohort_day, a.day)::BIGINT AS day_offset, " +
        "COUNT(DISTINCT a.user_id)::BIGINT AS n_users " +
        "FROM act a JOIN fst f ON a.user_id = f.user_id GROUP BY 1, 2) " +
        "SELECT c.cohort_day::TIMESTAMP AS cohort_day, c.day_offset, " +
        "c.n_users, s.cohort_size, " +
        "floor(CAST(c.n_users AS DOUBLE) / s.cohort_size * 10000)::BIGINT " +
        "/ 10000.0 AS retention_rate " +
        "FROM cell c JOIN sz s ON c.cohort_day = s.cohort_day " +
        "ORDER BY cohort_day, day_offset"),

    // Market-basket event pairs WITHIN a session: co-occurrence counts and
    // lift (P(ab)/(P(a)P(b)), support = sessions). The pair join rides the
    // per-session distinct-type frame — ≤C(5,2)=10 pairs per session, a
    // CONSTANT amplification like evt_user_overlap_jaccard's; type sizes
    // and the session total broadcast; lift is one textually identical
    // double chain floor-quantized (no round ties). The cross-session
    // sibling of the overlap key: "clicked AND errored in the SAME visit".
    "evt_session_basket" -> Q(
      (s, d) => {
        val st = sessionized(s, d)
          .select(col("user_id"), col("session_seq"), col("event_type"))
          .distinct()
        val nSess = st.select(col("user_id"), col("session_seq")).distinct()
          .agg(count(lit(1)).as("n_sessions"))
        val sizes = st.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        st.as("a")
          .join(st.as("b"), col("a.user_id") === col("b.user_id") &&
            col("a.session_seq") === col("b.session_seq") &&
            col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_both"))
          .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
            .withColumnRenamed("n", "n_a")), "type_a")
          .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
            .withColumnRenamed("n", "n_b")), "type_b")
          .crossJoin(broadcast(nSess))
          .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
            col("n_b"),
            (floor(expr("CAST(n_both AS DOUBLE) * n_sessions / n_a / n_b") *
              10000).cast("long") / 10000.0).as("lift"))
          .orderBy(col("type_a"), col("type_b"))
      },
      usEvents("WITH st AS (SELECT DISTINCT user_id, session_seq, event_type " +
        "FROM (SELECT user_id, event_type, " +
        " SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800.0 " +
        "  THEN 1 ELSE 0 END::BIGINT) OVER (PARTITION BY user_id " +
        "  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "  CURRENT ROW) AS session_seq " +
        " FROM (SELECT user_id, event_id, event_type, ts, " +
        "  lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "  AS prev_ts FROM events) x) y), " +
        "ns AS (SELECT COUNT(*)::BIGINT AS n_sessions FROM " +
        "(SELECT DISTINCT user_id, session_seq FROM st) u), " +
        "sz AS (SELECT event_type, COUNT(*)::BIGINT AS n FROM st GROUP BY 1), " +
        "pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "COUNT(*)::BIGINT AS n_both FROM st a JOIN st b " +
        "ON a.user_id = b.user_id AND a.session_seq = b.session_seq " +
        "AND a.event_type < b.event_type GROUP BY 1, 2) " +
        "SELECT p.type_a, p.type_b, p.n_both, sa.n AS n_a, sb.n AS n_b, " +
        "floor(CAST(n_both AS DOUBLE) * n_sessions / sa.n / sb.n * 10000)" +
        "::BIGINT / 10000.0 AS lift " +
        "FROM pr p JOIN sz sa ON p.type_a = sa.event_type " +
        "JOIN sz sb ON p.type_b = sb.event_type CROSS JOIN ns " +
        "ORDER BY type_a, type_b")),

    // Top user-flow paths — the "user flows" report. Path = the first <=8
    // event types of a session in (ts, event_id) order. The rn <= 8 cap is
    // applied BEFORE collect_list so the per-group buffer is bounded at 8
    // structs regardless of session length (a bot session with 10^6 events
    // contributes 8 rows, not 10^6 — the same bounded-buffer rule
    // agg_string_concat documents). Top-10 ties break on path text.
    "evt_top_paths" -> Q(
      (s, d) => {
        sessionHead(s, d)
          .groupBy(col("user_id"), col("session_seq"))
          .agg(headTypes.as("path"))
          .groupBy(col("path")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path")).limit(10)
      },
      usEvents(sessionCte + rankCte +
        "p AS (SELECT user_id, session_seq, string_agg(event_type, '>' " +
        "ORDER BY rn) AS path FROM rn WHERE rn <= 8 GROUP BY 1, 2) " +
        "SELECT path, COUNT(*) AS n FROM p GROUP BY 1 " +
        "ORDER BY n DESC, path LIMIT 10")),

    // Per-series linear trend + next-day forecast — the capacity-planning
    // staple. Daily counts are exact longs; the OLS moments (sx, sy, sxx,
    // sxy over day numbers) stay in exact integer space through the second
    // hash agg (days-bounded groups), convert to double ONCE, and slope/
    // intercept/forecast are the same left-associated double expressions
    // in both engines (the agg_corr_regr discipline) — no rounding needed.
    "evt_trend_forecast" -> Q(
      (s, d) => {
        val daily = T(s, d, "events")
          .groupBy(col("event_type"),
            expr("unix_date(to_date(ts))").cast("long").as("dayn"))
          .agg(count(lit(1)).as("cnt"))
        daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"),
            sum(col("dayn")).as("sx"), sum(col("cnt")).as("sy"),
            sum(col("dayn") * col("dayn")).as("sxx"),
            sum(col("dayn") * col("cnt")).as("sxy"),
            max(col("dayn")).as("mx"))
          .select(col("event_type"), col("n_days"),
            col("n_days").cast("double").as("nd"),
            col("sx").cast("double").as("sxd"),
            col("sy").cast("double").as("syd"),
            col("sxx").cast("double").as("sxxd"),
            col("sxy").cast("double").as("sxyd"), col("mx"))
          .withColumn("slope",
            (col("nd") * col("sxyd") - col("sxd") * col("syd")) /
              (col("nd") * col("sxxd") - col("sxd") * col("sxd")))
          .withColumn("intercept",
            (col("syd") - col("slope") * col("sxd")) / col("nd"))
          .withColumn("forecast_next",
            col("intercept") + col("slope") *
              (col("mx") + lit(1L)).cast("double"))
          .select(col("event_type"), col("n_days"), col("slope"),
            col("intercept"), col("forecast_next"))
          .orderBy(col("event_type"))
      },
      usEvents("WITH daily AS (SELECT event_type, date_diff('day', " +
        "DATE '1970-01-01', CAST(ts AS DATE)) AS dayn, COUNT(*) AS cnt " +
        "FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, COUNT(*) AS n_days, " +
        "CAST(COUNT(*) AS DOUBLE) AS nd, CAST(SUM(dayn) AS DOUBLE) AS sxd, " +
        "CAST(SUM(cnt) AS DOUBLE) AS syd, " +
        "CAST(SUM(dayn * dayn) AS DOUBLE) AS sxxd, " +
        "CAST(SUM(dayn * cnt) AS DOUBLE) AS sxyd, MAX(dayn) AS mx " +
        "FROM daily GROUP BY 1), " +
        "sl AS (SELECT event_type, n_days, nd, sxd, syd, mx, " +
        "(nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope FROM m), " +
        "ic AS (SELECT event_type, n_days, slope, mx, " +
        "(syd - slope * sxd) / nd AS intercept FROM sl) " +
        "SELECT event_type, n_days, slope, intercept, " +
        "intercept + slope * CAST(mx + 1 AS DOUBLE) AS forecast_next " +
        "FROM ic ORDER BY event_type")),

    // Batch twin of StreamOps.heavyHitterStream: per-day event types with
    // frequency > day_total / 10, exact counts. The day-total window runs
    // over the POST-agg frame (days x types rows, dimension-bounded), not
    // the events. The streaming side holds a k-counter Misra-Gries summary
    // per day key (fixed state, never the stream); with |types| <= k the
    // summary is exact and StreamingSpec pins stream == this twin.
    "stream_heavy_hitters" -> Q(
      (s, d) => {
        val c = T(s, d, "events")
          .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        c.withColumn("tot",
            sum(col("n")).over(Window.partitionBy(col("day"))))
          .filter(col("n") * 10 > col("tot"))
          .select(col("day"), col("event_type"), col("n"))
          .orderBy(col("day"), col("event_type"))
      },
      usEvents("WITH c AS (SELECT date_trunc('day', ts) AS day, event_type, " +
        "COUNT(*) AS n FROM events GROUP BY 1, 2) " +
        "SELECT day, event_type, n FROM (SELECT day, event_type, n, " +
        "SUM(n) OVER (PARTITION BY day) AS tot FROM c) t " +
        "WHERE n * 10 > tot ORDER BY day, event_type")),

    // Day-of-week seasonality index per event_type: (dow daily average) /
    // (overall daily average) — >1 means the dow over-indexes. All counts
    // exact longs through two hash aggs (the second over the types×7
    // frame); per-type totals ride a window over that bounded frame; the
    // index is one textually identical double chain in both engines.
    // Calendar parity: Spark dayofweek is 1-based Sunday=1, DuckDB dow is
    // 0-based Sunday=0 — Spark subtracts 1 (the dow_hour_heatmap pin).
    "evt_seasonal_index" -> Q(
      (s, d) => {
        val daily = T(s, d, "events")
          .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val byDow = daily
          .groupBy(col("event_type"),
            (dayofweek(col("day")) - 1).cast("long").as("dow"))
          .agg(sum(col("n")).as("sum_c"), count(lit(1)).as("n_days"))
        val w = Window.partitionBy(col("event_type"))
        byDow
          .withColumn("tot_c", sum(col("sum_c")).over(w))
          .withColumn("tot_days", sum(col("n_days")).over(w))
          .withColumn("idx",
            (col("sum_c").cast("double") / col("n_days")) /
              (col("tot_c").cast("double") / col("tot_days")))
          .select(col("event_type"), col("dow"), col("n_days"),
            col("sum_c"), col("idx"))
          .orderBy(col("event_type"), col("dow"))
      },
      usEvents("WITH daily AS (SELECT date_trunc('day', ts) AS day, " +
        "event_type, COUNT(*) AS n FROM events GROUP BY 1, 2), " +
        "bd AS (SELECT event_type, dayofweek(day)::BIGINT AS dow, " +
        "SUM(n)::BIGINT AS sum_c, COUNT(*) AS n_days FROM daily " +
        "GROUP BY 1, 2), " +
        "t AS (SELECT event_type, dow, n_days, sum_c, " +
        "SUM(sum_c) OVER (PARTITION BY event_type) AS tot_c, " +
        "SUM(n_days) OVER (PARTITION BY event_type) AS tot_days FROM bd) " +
        "SELECT event_type, dow, n_days, sum_c, " +
        "(CAST(sum_c AS DOUBLE) / n_days) / " +
        "(CAST(tot_c AS DOUBLE) / tot_days) AS idx " +
        "FROM t ORDER BY event_type, dow")),

    // Throttle (round-8 addendum; the Logstash `throttle` filter): rate-
    // limit to the FIRST 3 events per (user, DAY) in event-time order,
    // dropping the rest — the alert-fatigue / abuse-control primitive.
    // Day windows so the limit actually bites on this fixture (~2.2
    // events/user/day ⇒ ~14% dropped at sf0.01; hourly windows would
    // pass every event and never exercise the drop path). One
    // window pass partitioned by (user, day): frames are bounded by a
    // user-day (never corpus-sized), the shuffle key is the composite,
    // and the pass-through row carries its within-window sequence so a
    // downstream can see how close to the limit each key ran.
    "evt_throttle" -> throttleQ,

    // Streaming twin registration (the stream_metrics_rates discipline):
    // same batch formulation; the live machinery is
    // StreamOps.throttleStream — a transformWithState processor folding
    // watermark-finalized events in event-time order through a 2-long
    // (day, count) ValueState, passing each day's first 3 through and
    // dropping the rest — the Logstash throttle filter as a live gate.
    // StreamingSpec pins its emission bit-exact against this key.
    "stream_throttle" -> throttleQ,

    // Survival curve (round-8 addendum): share of users still active t
    // days after their first event — the product-limit (Kaplan-Meier)
    // estimator specialised to full observation (every lifetime is
    // observed inside the fixture's window, no censoring), where it
    // reduces exactly to the empirical survival function
    // S(t) = |{users: lifetime >= t}| / |users|. Scale shape: ONE
    // map-side-combinable min/max agg shuffling on user_id, then the
    // users-sized lifetime frame explodes into at most 30 offset rows per
    // user (bounded by CALENDAR, not by users) and rolls up on a 30-key
    // hash agg; the user total rides a 1-row broadcast. Day arithmetic
    // only, so ns-vs-µs ts precision cannot flip any value (the
    // retention-keys precedent) — no usEvents CTE needed. The division is
    // floor-quantized to 4dp (§7.4: floor has no tie modes).
    "evt_survival_curve" -> Q(
      (s, d) => {
        val life = T(s, d, "events")
          .groupBy(col("user_id"))
          .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
            .as("lifetime"))
        val surv = life
          .select(explode(sequence(lit(0), least(col("lifetime"), lit(29))))
            .as("offset_day"))
          .groupBy(col("offset_day"))
          .agg(count(lit(1)).as("survivors"))
        val tot = life.agg(count(lit(1)).as("at_risk"))
        s.range(0, 30).select(col("id").cast("int").as("offset_day"))
          .join(surv, Seq("offset_day"), "left")
          .na.fill(0L, Seq("survivors"))
          .crossJoin(broadcast(tot))
          .select(big(col("offset_day")).as("offset_day"),
            big(col("at_risk")).as("at_risk"),
            big(col("survivors")).as("survivors"),
            (floor(col("survivors").cast("double") / col("at_risk") * 10000)
              .cast("long") / 10000.0).as("survival"))
          .orderBy(col("offset_day"))
      },
      "WITH life AS (SELECT user_id, " +
        "date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) " +
        "AS lifetime FROM events GROUP BY 1), " +
        "spine AS (SELECT unnest(generate_series(0, 29))::BIGINT AS offset_day), " +
        "surv AS (SELECT o.offset_day, COUNT(l.user_id)::BIGINT AS survivors " +
        "FROM spine o LEFT JOIN life l ON l.lifetime >= o.offset_day " +
        "GROUP BY 1), " +
        "tot AS (SELECT COUNT(*)::BIGINT AS at_risk FROM life) " +
        "SELECT s.offset_day, t.at_risk, s.survivors, " +
        "floor(CAST(s.survivors AS DOUBLE) / t.at_risk * 10000)::BIGINT " +
        "/ 10000.0 AS survival " +
        "FROM surv s CROSS JOIN tot t ORDER BY offset_day"),

    // Flow-rate metrics (round-9 addendum) [PK: Logstash metrics filter —
    // rate_1m / rate_5m / EWMA gauges]: per event_type per minute, the
    // 1-minute rate, the trailing-5-minute average, and a 5-tap EWMA with
    // alpha=1/2. Gap minutes matter (a silent minute must pull the rate
    // DOWN), so counts land on a zero-filled calendar grid first — the
    // evt_gap_fill discipline: distinct types × global [min,max] minute
    // sequence, a frame bounded by CALENDAR × |types|, never by events.
    // Determinism: EWMA weights are binary fractions, so the weighted sum
    // is computed as ONE integer combination (16,8,4,2,1 — exact longs)
    // with a single division by 31.0 at the end; rate_5m likewise
    // integer-sum / 5.0. Floor-to-minute is coarser than the ns/µs ts
    // precision split, so no usEvents CTE is needed (the survival-curve
    // precedent). One events pass (hash agg) + one bounded window.
    "evt_metrics_rates" -> metricsRatesQ,

    // Streaming twin registration (the stream_tumbling_agg discipline:
    // same batch formulation, the live machinery is
    // StreamOps.metricsStream — a transformWithState per-type gauge whose
    // emission StreamingSpec pins bit-exact against this key on the
    // [first-active, last-active + 4] per-type grid).
    "stream_metrics_rates" -> metricsRatesQ,

    // Task correlation (round-9 addendum) [PK: Logstash aggregate filter —
    // accumulate fields across the events of one task, emit the rollup on
    // the task's end event, discard tasks that never end]: here a task is
    // a user's activity run CLOSED by a purchase (the end-event marker),
    // so task index = count of PRIOR purchases in arrival order — one
    // window pass assigns it, one keyed hash agg folds each task, and the
    // trailing run with no purchase drops (end_event_id IS NULL), exactly
    // the filter's timeout-discard. Scale: the window and the agg shuffle
    // once on user_id (hash-partition, arbitrary user cardinality); state
    // per task is O(1) counters, never the event list. Determinism: value
    // folds as floor(value*10000) longs (the vq discipline), duration in
    // integer µs → floor seconds; µs-truncated ts via usEvents.
    "evt_aggregate_task" -> aggregateTaskQ,

    // Streaming twin registration (the stream_metrics_rates discipline):
    // same batch formulation; the live machinery is
    // StreamOps.aggregateTaskStream — a transformWithState processor whose
    // per-user ListState buffers only ≤watermark-delay of pending events,
    // folding watermark-finalized events in event-time order through an
    // O(1) ValueState accumulator that emits-and-resets on each purchase.
    // StreamingSpec pins its emission bit-exact against this key.
    "stream_aggregate_task" -> aggregateTaskQ,

    // Iterative link analysis over the type-transition graph — see
    // [[pagerankQ]] for the full design rationale.
    "evt_pagerank_transitions" -> pagerankQ,

    // CDC changelog apply (round-10) — the lakehouse UPSERT/MERGE
    // primitive, sibling of agg_incremental_mv: a keyed SNAPSHOT has a
    // CHANGELOG of I/U/D ops applied onto it, latest-op-wins by
    // (ts, event_id), a D tombstone deleting the key. The design point
    // the key exists to pin: the snapshot must RETAIN tombstones (a
    // compacted snapshot that dropped its D rows would let an OLDER
    // changelog row resurrect a deleted key — the classic CDC-compaction
    // bug), which is why `snap` below keeps op='D' rows and the filter
    // runs only AFTER the merge. Ops are synthesized from event_type
    // (error→D, signup→I, else U) and the snapshot/changelog split is
    // the regen-proof event_id % 3. The ORACLE is the full recompute
    // (latest op per user over ALL events, tombstones filtered last):
    // hash match == apply(snapshot, changelog) ≡ recompute(all), the
    // entire MERGE INTO contract. Scale shape: two row_number windows
    // and a union, all hash-partitioned on user_id, aggregate-sized
    // frames after the first window.
    "evt_cdc_apply" -> Q(
      (s, d) => {
        val ev = T(s, d, "events").select(col("user_id"), col("event_id"),
          col("ts"), col("value"),
          when(col("event_type") === "error", "D")
            .when(col("event_type") === "signup", "I")
            .otherwise("U").as("op"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        def latest(part: org.apache.spark.sql.DataFrame) =
          part.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn")
        val snap = latest(ev.filter(col("event_id") % 3 =!= 0)) // keeps D!
        val chg = ev.filter(col("event_id") % 3 === 0)
        latest(snap.unionByName(chg))
          .filter(col("op") =!= "D") // tombstones drop AFTER the merge
          .select(col("user_id"), col("event_id").as("cur_event_id"),
            col("op"), col("value"))
          .orderBy(col("user_id"))
      },
      usEvents("SELECT user_id, event_id AS cur_event_id, op, value FROM (" +
        "SELECT user_id, event_id, value, CASE event_type " +
        "WHEN 'error' THEN 'D' WHEN 'signup' THEN 'I' ELSE 'U' END AS op, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) t " +
        "WHERE rn = 1 AND op <> 'D' ORDER BY user_id")),

    // Max concurrent sessions per day (round-10) — the sweep-line / interval
    // scheduling primitive: how many 30-min-gap sessions overlap at the
    // busiest instant of each day. The naive formulation is ONE global
    // ordered running sum (a single-partition window — the classic 100-TB
    // bottleneck); instead sessions are CLIPPED to day segments
    // (explode(sequence(st_day, en_day)) — bounded by session span), so the
    // sweep windows partition by day and every day sweeps in parallel. A
    // session alive at a day boundary contributes +1 at the day start, which
    // is exactly the carry-in the global sweep would have accumulated — the
    // per-day result is identical, the shuffle is keyed. Determinism: the
    // running sum orders by the unique tuple (t, delta DESC, user, sid)
    // with an explicit ROWS frame; +1 sorts before −1 at equal t, making
    // the interval inclusive [st, en] on both engines.
    "evt_concurrency_sweep" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))
        val o = T(s, d, "events")
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("tus"))
        val flagged = o.withColumn("ns",
          when(lag(col("tus"), 1).over(w).isNull ||
            col("tus") - lag(col("tus"), 1).over(w) > 1800000000L, 1L)
            .otherwise(0L))
        val sess = flagged
          .withColumn("sid", sum(col("ns")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("tus")).as("st"), max(col("tus")).as("en"))
        val seg = sess
          .withColumn("dayn", explode(sequence(
            expr("st div 86400000000"), expr("en div 86400000000"))))
          .select(col("user_id"), col("sid"), col("dayn"),
            greatest(col("st"), expr("dayn * 86400000000")).as("sg"),
            least(col("en"), expr("(dayn + 1) * 86400000000 - 1")).as("eg"))
        val pts = seg.select(col("dayn"), col("sg").as("t"),
            lit(1L).as("delta"), col("user_id"), col("sid"))
          .unionByName(seg.select(col("dayn"), col("eg").as("t"),
            lit(-1L).as("delta"), col("user_id"), col("sid")))
        val sweep = Window.partitionBy(col("dayn"))
          .orderBy(col("t"), col("delta").desc, col("user_id"), col("sid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pts.withColumn("conc", sum(col("delta")).over(sweep))
          .groupBy(col("dayn"))
          .agg(max(col("conc")).as("max_concurrent"))
          .orderBy(col("dayn"))
      },
      usEvents("WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tus " +
        "FROM events), " +
        "f AS (SELECT user_id, event_id, tus, CASE WHEN " +
        "lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS ns FROM o " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)), " +
        "s AS (SELECT user_id, tus, SUM(ns) OVER (PARTITION BY user_id " +
        "ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f), " +
        "b AS (SELECT user_id, sid, MIN(tus) AS st, MAX(tus) AS en " +
        "FROM s GROUP BY 1, 2), " +
        "seg AS (SELECT user_id, sid, d.dayn, " +
        "GREATEST(st, d.dayn * 86400000000) AS sg, " +
        "LEAST(en, (d.dayn + 1) * 86400000000 - 1) AS eg FROM b, " +
        "unnest(generate_series(b.st // 86400000000, " +
        "b.en // 86400000000)) AS d(dayn)), " +
        "pts AS (SELECT dayn, sg AS t, 1 AS delta, user_id, sid FROM seg " +
        "UNION ALL SELECT dayn, eg, -1, user_id, sid FROM seg), " +
        "run AS (SELECT dayn, SUM(delta) OVER (PARTITION BY dayn " +
        "ORDER BY t, delta DESC, user_id, sid ROWS UNBOUNDED PRECEDING) " +
        "AS conc FROM pts) " +
        "SELECT dayn, MAX(conc)::BIGINT AS max_concurrent FROM run " +
        "GROUP BY 1 ORDER BY dayn")),

    // Streaming CDC apply, batch twin (round-10) — evt_cdc_apply proves
    // merge(snapshot, changelog) ≡ recompute; THIS key is the recompute
    // with tombstones RETAINED (op='D' rows emitted, not filtered), which
    // is exactly the final state StreamOps.CdcApplyProcessor's monotone
    // max fold converges to — StreamingSpec pins the stream's last
    // emission per key against this frame. One row_number window over
    // user_id, hash-partitioned, aggregate-sized output.
    "stream_cdc_apply" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"),
          when(col("event_type") === "error", "D")
            .when(col("event_type") === "signup", "I")
            .otherwise("U").as("op"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("cur_event_id"),
          col("op"), col("value"))
        .orderBy(col("user_id")),
      usEvents("SELECT user_id, event_id AS cur_event_id, op, value FROM (" +
        "SELECT user_id, event_id, value, CASE event_type " +
        "WHEN 'error' THEN 'D' WHEN 'signup' THEN 'I' ELSE 'U' END AS op, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) t " +
        "WHERE rn = 1 ORDER BY user_id")),

    // Changepoint detection over the daily event-count series (round-10) —
    // the first step of binary segmentation (Scott & Knott / PELT family):
    // for every candidate split day d, score how far the mean level before
    // d departs from the mean after d. The score is the |difference of
    // means| as an EXACT rational — numerator and denominator are BIGINT
    // products of prefix sums (|S_d·(n−d) − (S_n−S_d)·d| over d·(n−d)) —
    // and only the final ranking division is a double (bit-identical IEEE
    // division in both engines). Scale shape: the series is day-grained
    // (corpus-sized agg once, then a ~30-row frame at any sf), the prefix
    // sums are one tiny ordered window, and the global n/S_n ride along as
    // a broadcast 1-row aggregate — never a driver scalar.
    "evt_changepoint_split" -> Q(
      (s, d) => {
        val daily = T(s, d, "events")
          .groupBy(expr("unix_micros(ts) div 86400000000").as("dayn"))
          .agg(count(lit(1)).as("x"))
        val w = Window.orderBy(col("dayn"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pre = daily
          .withColumn("cum", sum(col("x")).over(w))
          .withColumn("idx", row_number().over(Window.orderBy(col("dayn"))))
        val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sn"))
        pre.crossJoin(broadcast(tot))
          .filter(col("idx") < col("n")) // a split needs a non-empty right side
          .select(col("dayn"), col("x"), col("cum"),
            abs(col("cum") * (col("n") - col("idx")) -
              (col("sn") - col("cum")) * col("idx")).as("score_num"),
            (col("idx") * (col("n") - col("idx"))).as("score_den"))
          .withColumn("score",
            col("score_num").cast("double") / col("score_den").cast("double"))
          .withColumn("is_changepoint",
            col("score") === max(col("score")).over(
              Window.partitionBy(lit(1))))
          .orderBy(col("dayn"))
      },
      usEvents("WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS dayn, " +
        "COUNT(*)::BIGINT AS x FROM events GROUP BY 1), " +
        "pre AS (SELECT dayn, x, " +
        "SUM(x) OVER (ORDER BY dayn ROWS UNBOUNDED PRECEDING)::BIGINT AS cum, " +
        "row_number() OVER (ORDER BY dayn)::BIGINT AS idx FROM daily), " +
        "tot AS (SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sn FROM daily), " +
        "sc AS (SELECT dayn, x, cum, " +
        "abs(cum * (n - idx) - (sn - cum) * idx)::BIGINT AS score_num, " +
        "(idx * (n - idx))::BIGINT AS score_den " +
        "FROM pre CROSS JOIN tot WHERE idx < n), " +
        "s2 AS (SELECT *, CAST(score_num AS DOUBLE) / CAST(score_den AS DOUBLE) " +
        "AS score FROM sc) " +
        "SELECT dayn, x, cum, score_num, score_den, score, " +
        "score = MAX(score) OVER () AS is_changepoint FROM s2 ORDER BY dayn")),

    // General sequence-pattern matching (round-11) — the CEP form of the
    // reference's signal correlation [PK] and the general operator behind
    // evt_funnel/evt_funnel_ordered's hard-coded patterns: CONFIGURABLE
    // `a>(b|c)*>d` patterns (graft.flow.Cep grammar) matched CONTIGUOUSLY
    // within each session. The patterns arrive via the Flow config path
    // (the flow_compiled_parse discipline — a `cep` instruction per
    // pattern compiles to regexp_like inside codegen; no NFA interpreter,
    // no per-row state object). The per-session token string is bounded
    // by the evt_top_paths rn≤8 cap BEFORE collect, so a bot session
    // contributes 8 tokens, not 10⁶, and the regex input is ≤ ~72 chars.
    // The SAME compiled regexes (Cep.compile at registry-build time) are
    // embedded in the oracle — Java and RE2 evaluate the emitted subset
    // (alternation, non-capturing groups, greedy quantifiers) identically.
    // Scale shape: one session window + one keyed agg build the paths;
    // both regex matches ride ONE projection; output is 4 rows.
    "evt_pattern_match" -> Q(
      (s, d) => {
        val paths = sessionPaths(s, d)
        val cepSpec =
          """{"steps":[
            |{"op":"cep","field":"path","as":"m_browse_buy",
            | "pattern":"view>(view|click)*>purchase"},
            |{"op":"cep","field":"path","as":"m_error_recovery",
            | "pattern":"error>.*>purchase"},
            |{"op":"agg","groupBy":["m_browse_buy","m_error_recovery"],
            | "aggs":["count(*) AS n_sessions"]}
            |]}""".stripMargin
        graft.flow.Flow.compileOn(s, d, paths, cepSpec)
          .orderBy(col("m_browse_buy"), col("m_error_recovery"))
      },
      usEvents(pathCtes + " SELECT regexp_matches(path, '" +
        graft.flow.Cep.compile("view>(view|click)*>purchase") +
        "') AS m_browse_buy, regexp_matches(path, '" +
        graft.flow.Cep.compile("error>.*>purchase") +
        "') AS m_error_recovery, COUNT(*) AS n_sessions FROM p " +
        "GROUP BY 1, 2 ORDER BY m_browse_buy, m_error_recovery")),

    // Pattern OCCURRENCE counting (round-11) — evt_pattern_match's
    // quantitative sibling: how MANY times does a (quantifier-free)
    // sequence occur per session, rolled up to corpus totals + session
    // reach. Counting uses START-POSITION semantics over the bounded
    // token array (every index whose k-token window matches — the `cep`
    // op's count mode; Cep.literalSteps documents why regex counting
    // cannot be boundary-exact under RE2), so adjacent and overlapping
    // runs count naturally and both engines agree exactly. Same rn≤8
    // bound, same config path; the count is one filter/size HOF per
    // pattern inside one projection; output is ONE row.
    "evt_pattern_count" -> Q(
      (s, d) => {
        val paths = sessionPaths(s, d)
        val spec =
          """{"steps":[
            |{"op":"cep","field":"path","as":"c_vc","mode":"count",
            | "pattern":"view>click"},
            |{"op":"cep","field":"path","as":"c_eb","mode":"count",
            | "pattern":"error>.>purchase"},
            |{"op":"agg","groupBy":[],
            | "aggs":["count(*) AS n_sessions",
            |  "CAST(sum(c_vc) AS BIGINT) AS view_click_total",
            |  "CAST(sum(CASE WHEN c_vc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS view_click_sessions",
            |  "CAST(sum(c_eb) AS BIGINT) AS err_buy_total",
            |  "CAST(sum(CASE WHEN c_eb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS err_buy_sessions"]}
            |]}""".stripMargin
        graft.flow.Flow.compileOn(s, d, paths, spec)
      },
      usEvents(tokCtes +
        "c AS (SELECT " +
        "CASE WHEN len(toks) >= 2 THEN len(list_filter(" +
        "generate_series(1, len(toks) - 1), i -> toks[i] = 'view' AND " +
        "toks[i+1] = 'click')) ELSE 0 END AS c_vc, " +
        "CASE WHEN len(toks) >= 3 THEN len(list_filter(" +
        "generate_series(1, len(toks) - 2), i -> toks[i] = 'error' AND " +
        "toks[i+2] = 'purchase')) ELSE 0 END AS c_eb FROM tk) " +
        "SELECT COUNT(*) AS n_sessions, " +
        "SUM(c_vc)::BIGINT AS view_click_total, " +
        "SUM(CASE WHEN c_vc > 0 THEN 1 ELSE 0 END)::BIGINT AS view_click_sessions, " +
        "SUM(c_eb)::BIGINT AS err_buy_total, " +
        "SUM(CASE WHEN c_eb > 0 THEN 1 ELSE 0 END)::BIGINT AS err_buy_sessions " +
        "FROM c")),

    // Pattern WITHIN time bound (round-12) — the clause the r11 verdict
    // flagged missing: "A then B WITHIN W", SQL MATCH_RECOGNIZE's pattern
    // window and the CEP staple. Extends the flow `cep` count op with
    // `within_s` + an `epochs` array (µs timestamps built from the SAME
    // sorted collect as the token path, so the two sequences align by
    // construction): an occurrence counts only when the span from its
    // first to its last matched step fits the window. The compare is
    // integer µs on both engines — no float enters it. The key counts
    // `view>.` occurrences bounded at 600 s next to the unbounded count
    // (CepSpec pins bounded ≤ unbounded and the 0/∞ degenerate bounds);
    // same rn≤8 cap, one session window + one keyed agg, output ONE row.
    "evt_pattern_within" -> Q(
      (s, d) => {
        val paths = sessionHead(s, d)
          .groupBy(col("user_id"), col("session_seq"))
          .agg(concat(headTypes, lit(">")).as("path"),
            transform(
              sort_array(collect_list(struct(col("rn"),
                unix_micros(col("ts")).as("eus")))),
              x => x.getField("eus")).as("eps"))
        val spec =
          """{"steps":[
            |{"op":"cep","field":"path","as":"c_unb","mode":"count",
            | "pattern":"view>."},
            |{"op":"cep","field":"path","as":"c_w600","mode":"count",
            | "pattern":"view>.","within_s":600,"epochs":"eps"},
            |{"op":"agg","groupBy":[],
            | "aggs":["count(*) AS n_sessions",
            |  "CAST(sum(c_unb) AS BIGINT) AS unbounded_total",
            |  "CAST(sum(c_w600) AS BIGINT) AS within_600s_total",
            |  "CAST(sum(CASE WHEN c_w600 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS within_600s_sessions"]}
            |]}""".stripMargin
        graft.flow.Flow.compileOn(s, d, paths, spec)
      },
      usEvents(sessionCte +
        "rn AS (SELECT user_id, session_seq, event_type, epoch_us(ts) AS eus, " +
        "row_number() OVER (PARTITION BY user_id, session_seq " +
        "ORDER BY ts, event_id) AS rn FROM se), " +
        "p AS (SELECT user_id, session_seq, " +
        "list(event_type ORDER BY rn) AS toks, " +
        "list(eus ORDER BY rn) AS eps " +
        "FROM rn WHERE rn <= 8 GROUP BY 1, 2), " +
        "c AS (SELECT " +
        "CASE WHEN len(toks) >= 2 THEN len(list_filter(" +
        "generate_series(1, len(toks) - 1), i -> toks[i] = 'view')) " +
        "ELSE 0 END AS c_unb, " +
        "CASE WHEN len(toks) >= 2 THEN len(list_filter(" +
        "generate_series(1, len(toks) - 1), i -> toks[i] = 'view' AND " +
        "eps[i+1] - eps[i] <= 600000000)) ELSE 0 END AS c_w600 FROM p) " +
        "SELECT COUNT(*) AS n_sessions, " +
        "SUM(c_unb)::BIGINT AS unbounded_total, " +
        "SUM(c_w600)::BIGINT AS within_600s_total, " +
        "SUM(CASE WHEN c_w600 > 0 THEN 1 ELSE 0 END)::BIGINT " +
        "AS within_600s_sessions FROM c")),

    // Pattern MEASURES — matched-span extraction (round-12; the r11
    // verdict's other CEP gap): occurrences stop being booleans/counts
    // and report WHICH events matched, MATCH_RECOGNIZE's MEASURES clause
    // (FIRST(...)/LAST(...) over the match span). Every occurrence of
    // `(view|click)>.` WITHIN 900 s emits its start position, the two
    // matched types, the first/last event ids and the exact µs duration —
    // the row shape downstream alerting/attribution joins on. The matched
    // spans come from the same aligned (toks, eids, eps) arrays (ONE
    // sorted collect per session); the explode is bounded by matches per
    // ≤8-token session, never corpus-quadratic. Integer µs everywhere.
    "evt_pattern_measures" -> Q(
      (s, d) => {
        sessionHead(s, d)
          .groupBy(col("user_id"), col("session_seq"))
          .agg(sort_array(collect_list(struct(col("rn"), col("event_type"),
            col("event_id"), unix_micros(col("ts")).as("eus")))).as("seq"))
          .filter(size(col("seq")) >= 2)
          .withColumn("toks", transform(col("seq"), x => x.getField("event_type")))
          .withColumn("eids", transform(col("seq"), x => x.getField("event_id")))
          .withColumn("eps", transform(col("seq"), x => x.getField("eus")))
          .withColumn("i", explode(expr(
            "filter(sequence(1, size(toks) - 1), i -> " +
              "element_at(toks, i) IN ('view', 'click') AND " +
              "element_at(eps, i + 1) - element_at(eps, i) <= 900000000L)")))
          .select(col("user_id"), col("session_seq"),
            big(col("i")).as("start_rn"),
            expr("element_at(toks, i)").as("first_type"),
            expr("element_at(toks, i + 1)").as("next_type"),
            expr("element_at(eids, i)").as("first_event_id"),
            expr("element_at(eids, i + 1)").as("last_event_id"),
            big(expr("element_at(eps, i + 1) - element_at(eps, i)"))
              .as("duration_us"))
          .orderBy(col("user_id"), col("session_seq"), col("start_rn"))
      },
      usEvents(sessionCte +
        "rn AS (SELECT user_id, session_seq, event_type, event_id, " +
        "epoch_us(ts) AS eus, row_number() OVER (PARTITION BY user_id, " +
        "session_seq ORDER BY ts, event_id) AS rn FROM se), " +
        "p AS (SELECT user_id, session_seq, " +
        "list(event_type ORDER BY rn) AS toks, " +
        "list(event_id ORDER BY rn) AS eids, " +
        "list(eus ORDER BY rn) AS eps " +
        "FROM rn WHERE rn <= 8 GROUP BY 1, 2), " +
        "m AS (SELECT user_id, session_seq, toks, eids, eps, " +
        "unnest(list_filter(generate_series(1, len(toks) - 1), i -> " +
        "toks[i] IN ('view', 'click') AND " +
        "eps[i+1] - eps[i] <= 900000000)) AS i " +
        "FROM p WHERE len(toks) >= 2) " +
        // session_seq is a window-SUM (HUGEINT in DuckDB) — cast back to
        // BIGINT or the pandas bridge floats it and the schema check fails
        "SELECT user_id, session_seq::BIGINT AS session_seq, " +
        "i::BIGINT AS start_rn, " +
        "toks[i] AS first_type, toks[i+1] AS next_type, " +
        "eids[i] AS first_event_id, eids[i+1] AS last_event_id, " +
        "(eps[i+1] - eps[i])::BIGINT AS duration_us " +
        "FROM m ORDER BY user_id, session_seq, start_rn")),

    // AFTER MATCH SKIP semantics (round-12) — the occurrence-counting
    // ambiguity MATCH_RECOGNIZE resolves with its AFTER MATCH clause,
    // now a first-class `skip` option on the flow cep op: the default
    // counts every start position (overlap-friendly; a 3-run of browse
    // events holds TWO `(view|click)>(view|click)` occurrences), while
    // `skip: past_last` counts greedy non-overlapping matches (the same
    // 3-run holds ONE — the second starts inside the first match). The
    // non-overlap scan is ONE fold over the ascending start positions
    // with (nextAllowed, count) packed into a single long, identical
    // arithmetic as aggregate() in Spark and list_reduce() in DuckDB —
    // no NFA, no per-row state object, still one codegen projection.
    // CepSpec pins overlap ≥ nonoverlap and the exact greedy scan.
    "evt_pattern_nonoverlap" -> Q(
      (s, d) => {
        val paths = sessionPaths(s, d)
        val spec =
          """{"steps":[
            |{"op":"cep","field":"path","as":"c_all","mode":"count",
            | "pattern":"(view|click)>(view|click)"},
            |{"op":"cep","field":"path","as":"c_noov","mode":"count",
            | "pattern":"(view|click)>(view|click)","skip":"past_last"},
            |{"op":"agg","groupBy":[],
            | "aggs":["count(*) AS n_sessions",
            |  "CAST(sum(c_all) AS BIGINT) AS overlap_total",
            |  "CAST(sum(c_noov) AS BIGINT) AS nonoverlap_total",
            |  "CAST(sum(CASE WHEN c_noov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS match_sessions"]}
            |]}""".stripMargin
        graft.flow.Flow.compileOn(s, d, paths, spec)
      },
      usEvents(tokCtes +
        "st AS (SELECT toks, CASE WHEN len(toks) >= 2 THEN " +
        "list_filter(generate_series(1, len(toks) - 1), i -> " +
        "toks[i] IN ('view', 'click') AND toks[i+1] IN ('view', 'click')) " +
        "ELSE []::BIGINT[] END AS starts FROM tk), " +
        "c AS (SELECT len(starts) AS c_all, " +
        "list_reduce(list_prepend(1000000::BIGINT, starts), (acc, p) -> " +
        "CASE WHEN p >= acc // 1000000 THEN (p + 2) * 1000000 + " +
        "acc % 1000000 + 1 ELSE acc END) % 1000000 AS c_noov FROM st) " +
        "SELECT COUNT(*) AS n_sessions, " +
        "SUM(c_all)::BIGINT AS overlap_total, " +
        "SUM(c_noov)::BIGINT AS nonoverlap_total, " +
        "SUM(CASE WHEN c_noov > 0 THEN 1 ELSE 0 END)::BIGINT " +
        "AS match_sessions FROM c")),

    // QUANTIFIED pattern counting (round-12; the r11 verdict's last CEP
    // gap): `?`/`*`/`+` reach count mode via bounded expansion —
    // Cep.expandedSteps turns each quantifier into explicit repetition
    // counts (max_rep, default 2) and the cartesian product into a SET
    // of literal step sequences; a start position counts when ANY
    // expansion matches there (existential — one count per start even
    // when several lengths match, the well-defined generalization of
    // the position count; runs longer than max_rep are NOT counted, the
    // documented truncation RE2 applies to bounded repetition). The
    // whole family is still ONE codegen'd HOF per pattern — longer
    // expansions CASE-guard their window so ANSI element_at never reads
    // out of range. `view>click*>purchase` (the browse-run funnel) and
    // `error>.?>purchase` (recovery with at most one step between)
    // expand to 3 + 2 sequences; same rn≤8 session bound; ONE row out.
    "evt_pattern_quantified" -> Q(
      (s, d) => {
        val paths = sessionPaths(s, d)
        val spec =
          """{"steps":[
            |{"op":"cep","field":"path","as":"c_bb","mode":"count",
            | "pattern":"view>click*>purchase","max_rep":2},
            |{"op":"cep","field":"path","as":"c_rec","mode":"count",
            | "pattern":"error>.?>purchase"},
            |{"op":"agg","groupBy":[],
            | "aggs":["count(*) AS n_sessions",
            |  "CAST(sum(c_bb) AS BIGINT) AS browse_buy_total",
            |  "CAST(sum(CASE WHEN c_bb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS browse_buy_sessions",
            |  "CAST(sum(c_rec) AS BIGINT) AS recovery_total",
            |  "CAST(sum(CASE WHEN c_rec > 0 THEN 1 ELSE 0 END) AS BIGINT) AS recovery_sessions"]}
            |]}""".stripMargin
        graft.flow.Flow.compileOn(s, d, paths, spec)
      },
      usEvents(tokCtes +
        // the same existential OR over the expansions, with the same
        // CASE-guarded windows for the longer ones
        "c AS (SELECT " +
        "CASE WHEN len(toks) >= 2 THEN len(list_filter(" +
        "generate_series(1, len(toks) - 1), i -> " +
        "(toks[i] = 'view' AND toks[i+1] = 'purchase') OR " +
        "(CASE WHEN i + 2 <= len(toks) THEN toks[i] = 'view' AND " +
        "toks[i+1] = 'click' AND toks[i+2] = 'purchase' ELSE false END) OR " +
        "(CASE WHEN i + 3 <= len(toks) THEN toks[i] = 'view' AND " +
        "toks[i+1] = 'click' AND toks[i+2] = 'click' AND " +
        "toks[i+3] = 'purchase' ELSE false END))) ELSE 0 END AS c_bb, " +
        "CASE WHEN len(toks) >= 2 THEN len(list_filter(" +
        "generate_series(1, len(toks) - 1), i -> " +
        "(toks[i] = 'error' AND toks[i+1] = 'purchase') OR " +
        "(CASE WHEN i + 2 <= len(toks) THEN toks[i] = 'error' AND " +
        "toks[i+2] = 'purchase' ELSE false END))) ELSE 0 END AS c_rec " +
        "FROM tk) " +
        "SELECT COUNT(*) AS n_sessions, " +
        "SUM(c_bb)::BIGINT AS browse_buy_total, " +
        "SUM(CASE WHEN c_bb > 0 THEN 1 ELSE 0 END)::BIGINT " +
        "AS browse_buy_sessions, " +
        "SUM(c_rec)::BIGINT AS recovery_total, " +
        "SUM(CASE WHEN c_rec > 0 THEN 1 ELSE 0 END)::BIGINT " +
        "AS recovery_sessions FROM c")),

    // PERMUTE counting (round-12) — SQL MATCH_RECOGNIZE's
    // `PERMUTE(view, click, purchase)`: the three steps CONTIGUOUSLY in
    // ANY order, the "did the user do all of these together, order
    // unknown" question order-sensitive patterns cannot ask. The flow
    // cep op's `"permute": true` feeds all 3! orderings into the same
    // existential position count as the quantifier expansions (one
    // count per start even when several orderings match a palindromic
    // window); all orderings share one window length, so the HOF needs
    // no range guards. The oracle derives its 6-branch OR from the SAME
    // Scala permutation list the Spark side compiles — one source of
    // truth for the ordering set. Same rn≤8 session bound; ONE row out.
    "evt_pattern_permute" -> Q(
      (s, d) => {
        val paths = sessionPaths(s, d)
        val spec =
          """{"steps":[
            |{"op":"cep","field":"path","as":"c_perm","mode":"count",
            | "pattern":"view>click>purchase","permute":true},
            |{"op":"agg","groupBy":[],
            | "aggs":["count(*) AS n_sessions",
            |  "CAST(sum(c_perm) AS BIGINT) AS permute_total",
            |  "CAST(sum(CASE WHEN c_perm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS permute_sessions"]}
            |]}""".stripMargin
        graft.flow.Flow.compileOn(s, d, paths, spec)
      },
      usEvents {
        val orBranches = Seq("view", "click", "purchase").permutations
          .map(p => "(" + p.zipWithIndex.map { case (t, j) =>
            s"toks[i+$j] = '$t'"
          }.mkString(" AND ") + ")")
          .mkString(" OR ")
        tokCtes +
          "c AS (SELECT CASE WHEN len(toks) >= 3 THEN len(list_filter(" +
          "generate_series(1, len(toks) - 2), i -> " +
          orBranches + ")) ELSE 0 END AS c_perm FROM tk) " +
          "SELECT COUNT(*) AS n_sessions, " +
          "SUM(c_perm)::BIGINT AS permute_total, " +
          "SUM(CASE WHEN c_perm > 0 THEN 1 ELSE 0 END)::BIGINT " +
          "AS permute_sessions FROM c"
      }),
  )

  /** PageRank over the event-type transition graph (round-9 addendum) —
    * the iterative link-analysis family (distinct from the dedup keys'
    * connected components): nodes = event types, edges = per-user arrival
    * bigram counts (the evt_markov_transition graph), 3 damped iterations
    * of r(v) ← 0.15/N + 0.85·Σ r(u)·w(u,v)/out(u). Scale shape: the
    * corpus pays ONE window pass to build the edge list; every iteration
    * after that joins a |V|-bounded rank frame against |E| edges — state
    * is graph-sized, never corpus-sized, and the iteration count is a
    * constant (the power-method truncation), so the plan is 3 keyed
    * hash joins over tiny frames. Determinism: ranks are integer
    * micro-units (1e6 = mass 1) and each edge contribution is ONE integer
    * division floor((r·85·cnt) / (100·out)) — both engines floor
    * per-edge identically, so no float ever enters the recursion. The
    * 1/N seed and 0.15/N damping base are DERIVED from |V| on both
    * engines (floor(1e6/N), floor(15e4/N) — a broadcast 1-row count
    * riding the rank frame on the Spark side, scalar subselects in the
    * oracle), so a changed type-universe keeps the ranks a stochastic
    * distribution instead of silently breaking a shared literal, and the
    * plan stays fully lazy (no driver-side count at build time). */
  private lazy val pagerankQ: Q = Q(
      (s, d) => {
        val edges = T(s, d, "events")
          .withColumn("prev", lag(col("event_type"), 1).over(arrivalW))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev").as("src"), col("event_type").as("dst"))
          .agg(count(lit(1)).as("cnt"))
        val outc = edges.groupBy(col("src")).agg(sum(col("cnt")).as("outc"))
        // pin the |E|-sized edge frame: three iterations consume it, and
        // without the pin each re-derives the corpus window pass (the
        // fuzzy-join lesson; Scale.pin honors spark.graft.pin.mode)
        val e = edges.join(outc, "src").pinnedLazy // r18: cut, no pin job
        val nodes = T(s, d, "events")
          .select(col("event_type").as("node")).distinct().pinnedLazy
        // |V| rides as a broadcast 1-row aggregate (the scalar-broadcast
        // pattern — LAZY, unlike a driver-side count() at plan-build
        // time): seed = floor(1e6/N) micro-units, base = floor(0.15e6/N),
        // both integer divisions the oracle's scalar subselects mirror
        val nn = nodes.agg(count(lit(1)).as("nN"))
        val seeded = nodes.crossJoin(broadcast(nn))
        var rank = seeded.select(col("node"),
          expr("1000000 div nN").as("r"), col("nN"))
        for (_ <- 1 to 3) {
          val contrib = e
            .join(rank.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node"))
            .agg(sum(expr("(r * 85 * cnt) div (100 * outc)")).as("inflow"))
          rank = seeded.join(contrib, Seq("node"), "left")
            .select(col("node"),
              (coalesce(col("inflow"), lit(0L)) +
                expr("150000 div nN")).as("r"), col("nN"))
        }
        rank.select(col("node").as("event_type"),
          col("r").as("rank_micro")).orderBy(col("event_type"))
      },
      usEvents {
        val base = "WITH ed AS (SELECT prev AS src, event_type AS dst, " +
          "COUNT(*) AS cnt FROM (SELECT event_type, lag(event_type) OVER " +
          "(PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events) t " +
          "WHERE prev IS NOT NULL GROUP BY 1, 2), " +
          "oc AS (SELECT src, SUM(cnt)::BIGINT AS outc FROM ed GROUP BY 1), " +
          "e AS (SELECT ed.src, ed.dst, ed.cnt, oc.outc FROM ed " +
          "JOIN oc USING (src)), " +
          "n AS (SELECT DISTINCT event_type AS node FROM events), " +
          "nn AS (SELECT COUNT(*)::BIGINT AS nN FROM n), " +
          "r0 AS (SELECT node, (1000000 // (SELECT nN FROM nn))::BIGINT " +
          "AS r FROM n)"
        val iters = (1 to 3).map { i =>
          s"r$i AS (SELECT n.node, (COALESCE(f.inflow, 0) + " +
            s"(150000 // (SELECT nN FROM nn)))::BIGINT " +
            s"AS r FROM n LEFT JOIN (SELECT e.dst AS node, " +
            s"SUM((r.r * 85 * e.cnt) // (100 * e.outc))::BIGINT AS inflow " +
            s"FROM e JOIN r${i - 1} r ON e.src = r.node GROUP BY 1) f " +
            s"USING (node))"
        }.mkString(", ")
        base + ", " + iters +
          " SELECT node AS event_type, r AS rank_micro FROM r3 ORDER BY 1"
      })

  private lazy val throttleQ: Q = Q(
      (s, d) => {
        val w = Window
          .partitionBy(col("user_id"), date_trunc("DAY", col("ts")))
          .orderBy(col("ts"), col("event_id"))
        T(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("event_id"), col("user_id"),
            date_trunc("DAY", col("ts")).as("bucket"),
            big(col("rn")).as("n_in_window"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, user_id, bucket, rn AS n_in_window FROM (" +
        "SELECT event_id, user_id, date_trunc('day', ts) AS bucket, " +
        "row_number() OVER (PARTITION BY user_id, date_trunc('day', ts) " +
        "ORDER BY ts, event_id) AS rn FROM events) t " +
        "WHERE rn <= 3 ORDER BY event_id"))

  private lazy val aggregateTaskQ: Q = Q(
      (s, d) => {
        val priorW = arrivalW.rowsBetween(Window.unboundedPreceding, -1)
        val isEnd = col("event_type") === "purchase"
        T(s, d, "events")
          .withColumn("ts_us", expr("unix_micros(ts)"))
          .withColumn("task", coalesce(
            sum(when(isEnd, 1L).otherwise(0L)).over(priorW), lit(0L)))
          .groupBy(col("user_id"), col("task"))
          .agg(
            max(when(isEnd, col("event_id"))).as("end_event_id"),
            sum(when(!isEnd, 1L).otherwise(0L)).as("steps"),
            sum(when(!isEnd, floor(col("value") * 10000).cast("long"))
              .otherwise(0L)).as("vq"),
            max(when(isEnd, col("ts_us"))).as("p_us"),
            min(col("ts_us")).as("min_us"))
          .filter(col("end_event_id").isNotNull)
          .select(col("user_id"), col("end_event_id"),
            big(col("steps")).as("n_steps"),
            (col("vq") / 10000.0).as("value_sum"),
            expr("(p_us - min_us) div 1000000").cast("long").as("duration_s"))
          .orderBy(col("user_id"), col("end_event_id"))
      },
      usEvents("SELECT user_id, end_event_id, n_steps, " +
        "vq / 10000.0 AS value_sum, (p_us - min_us) // 1000000 AS duration_s " +
        "FROM (SELECT user_id, " +
        "max(CASE WHEN event_type = 'purchase' THEN event_id END) AS end_event_id, " +
        "SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_steps, " +
        "SUM(CASE WHEN event_type <> 'purchase' " +
        "THEN floor(value * 10000)::BIGINT ELSE 0 END)::BIGINT AS vq, " +
        "max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us, " +
        "min(epoch_us(ts)) AS min_us " +
        "FROM (SELECT *, coalesce(SUM(CASE WHEN event_type = 'purchase' " +
        "THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS task " +
        "FROM events) t GROUP BY user_id, task) g " +
        "WHERE end_event_id IS NOT NULL ORDER BY user_id, end_event_id"))

  private lazy val metricsRatesQ: Q = Q(
      (s, d) => {
        val ev = T(s, d, "events").select(col("event_type"),
          expr("unix_timestamp(ts) div 60").as("m"))
        val counts = ev.groupBy(col("event_type"), col("m"))
          .agg(count(lit(1)).as("cnt"))
        val bounds = ev.agg(min(col("m")).as("mn"), max(col("m")).as("mx"))
        val grid = ev.select(col("event_type")).distinct()
          .crossJoin(broadcast(bounds))
          .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("m"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("m"))
        def l(k: Int) = lag(col("cnt"), k, 0).over(w)
        grid.join(counts, Seq("event_type", "m"), "left")
          .na.fill(0L, Seq("cnt"))
          .withColumn("sum5", col("cnt") + l(1) + l(2) + l(3) + l(4))
          .withColumn("num16",
            col("cnt") * 16 + l(1) * 8 + l(2) * 4 + l(3) * 2 + l(4))
          .select(col("event_type"), big(col("m")).as("m"),
            big(col("cnt")).as("rate_1m"),
            (col("sum5").cast("double") / 5.0).as("rate_5m"),
            (col("num16").cast("double") / 31.0).as("ewma_rate"))
          .orderBy(col("event_type"), col("m"))
      },
      "WITH ev AS (SELECT event_type, floor(epoch(ts))::BIGINT // 60 AS m " +
        "FROM events), " +
        "c AS (SELECT event_type, m, COUNT(*) AS cnt FROM ev GROUP BY 1, 2), " +
        "b AS (SELECT MIN(m) AS mn, MAX(m) AS mx FROM ev), " +
        "g AS (SELECT t.event_type, gs.m FROM " +
        "(SELECT DISTINCT event_type FROM ev) t CROSS JOIN " +
        "(SELECT unnest(generate_series(b.mn, b.mx)) AS m FROM b) gs), " +
        "f AS (SELECT g.event_type, g.m, COALESCE(c.cnt, 0)::BIGINT AS cnt " +
        "FROM g LEFT JOIN c USING (event_type, m)), " +
        "x AS (SELECT event_type, m, cnt, " +
        "cnt + lag(cnt, 1, 0) OVER w + lag(cnt, 2, 0) OVER w + " +
        "lag(cnt, 3, 0) OVER w + lag(cnt, 4, 0) OVER w AS sum5, " +
        "cnt * 16 + (lag(cnt, 1, 0) OVER w) * 8 + (lag(cnt, 2, 0) OVER w) * 4 + " +
        "(lag(cnt, 3, 0) OVER w) * 2 + lag(cnt, 4, 0) OVER w AS num16 " +
        "FROM f WINDOW w AS (PARTITION BY event_type ORDER BY m)) " +
        "SELECT event_type, m, cnt AS rate_1m, " +
        "CAST(sum5 AS DOUBLE) / 5.0 AS rate_5m, " +
        "CAST(num16 AS DOUBLE) / 31.0 AS ewma_rate " +
        "FROM x ORDER BY event_type, m")
}
