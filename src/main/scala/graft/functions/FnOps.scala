package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, T}
import graft.Dsl._

/** SURVEY.md §2.H — scalar function suites reproducing the reference's
  * mutate-style instructions [PK]: grok (regex extract), date (parse/bucket),
  * split (fan-out), replace (string rewrite), json field access.
  *
  * Dialect traps handled per SURVEY §7.4: DuckDB regexp_replace needs the
  * 'g' flag for replace-all; Spark ceil/floor(double) return BIGINT (cast in
  * DuckDB); weekday()+1 == DuckDB isodow; round only after DECIMAL cast;
  * date math on DATE-cast values in both engines.
  */
object FnOps {

  /** Grok expression for `fn_grok_patterns`: every major pattern family —
    * ISO timestamp, log level, IPv4, username, typed int + float. */
  private val GrokLogLine: String =
    "%{TIMESTAMP_ISO8601:ts_str} %{LOGLEVEL:level} %{IP:client_ip} " +
      "user=%{USERNAME:username} req_id=%{INT:req_id:int} " +
      "took=%{NUMBER:took:float}"

  /** Format list for `fn_grok_dispatch` — Logstash grok's multi-pattern
    * first-match-wins mode. Anchored (`^…$`): both engines match regex as
    * substrings, so anchors are what make "no format matched" decidable.
    * `username` appears in two formats (same coercion — the union rule). */
  private val GrokFormats: Seq[String] = Seq(
    // access-log line: ip, user, request, status, bytes
    "^%{IPV4:client_ip} - %{USER:username} " +
      "\"%{WORD:method} %{UNIXPATH:path} HTTP/%{BASE10NUM}\" " +
      "%{INT:status:int} %{INT:bytes:int}$",
    // app-log line: iso ts, level, kv fields
    "^%{TIMESTAMP_ISO8601:ts_str} %{LOGLEVEL:level} svc=%{WORD:svc} " +
      "user=%{USERNAME:username} took=%{NUMBER:took:float}$",
    // metric line: host, metric, value
    "^host=%{NOTSPACE:host} metric=%{WORD:metric} value=%{NUMBER:value:float}$")

  /** Multibyte probe for `fn_text_normalize`, appended to every fixture
    * doc: composed é (U+00E9) vs decomposed e+combining-acute (U+0301) —
    * the pair NFC must merge — plus cased accents, Greek, and CJK+digits.
    * One constant shared by the Spark plan and the DuckDB oracle literal
    * so both engines see byte-identical input. No quotes/control chars
    * (it is spliced into a SQL literal and JSON). */
  private val MultibyteProbe: String =
    "Café Café ÜNÏCODÉ " +
      "Ελλάδα 数据123 mixed_CASE!"

  val defs: Seq[(String, Q)] = Seq(

    "fn_string_suite" -> Q(
      (s, d) => T(s, d, "part")
        .select(col("p_partkey"),
          lower(col("p_name")).as("name_lc"),
          upper(col("p_brand")).as("brand_uc"),
          substring(col("p_type"), 1, 5).as("type5"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), " ", "_").as("name_snake"),
          trim(lit("  pad  ")).as("trimmed"),
          big(length(col("p_name"))).as("name_len"))
        .orderBy(col("p_partkey")),
      "SELECT p_partkey, lower(p_name) AS name_lc, upper(p_brand) AS brand_uc, " +
        "substring(p_type, 1, 5) AS type5, concat_ws('-', p_brand, p_type) AS brand_type, " +
        "regexp_replace(p_name, ' ', '_', 'g') AS name_snake, " +
        "trim('  pad  ') AS trimmed, length(p_name)::BIGINT AS name_len " +
        "FROM part ORDER BY p_partkey"),

    "fn_grok_extract" -> Q(
      (s, d) => T.byOrder(T(s, d, "part"), col("p_partkey"))
        .select(col("p_partkey"), col("p_type"),
          regexp_extract(col("p_type"), "^(\\w+) (\\w+)", 1).as("type_word1"),
          regexp_extract(col("p_type"), "^(\\w+) (\\w+)", 2).as("type_word2"))
        .orderBy(col("p_partkey")),
      "SELECT p_partkey, p_type, " +
        "regexp_extract(p_type, '^(\\w+) (\\w+)', 1) AS type_word1, " +
        "regexp_extract(p_type, '^(\\w+) (\\w+)', 2) AS type_word2 " +
        "FROM part ORDER BY p_partkey"),

    // The grok PATTERN LIBRARY (the reference's flagship instruction): a
    // log line is synthesized from events columns, then parsed back through
    // a %{NAME:field:type} expression compiled by graft.functions.Grok into
    // one regex whose capture groups drive codegen'd regexp_extract —
    // timestamp, log level, IPv4, username, typed int and float fields.
    // The oracle runs the IDENTICAL compiled regex in DuckDB (RE2), so the
    // dictionary, the compiler, and both engines' extraction semantics are
    // all under the correctness gate.
    "fn_grok_patterns" -> Q(
      (s, d) => {
        val lvl = when(col("event_type") === "click", "INFO")
          .when(col("event_type") === "view", "DEBUG")
          .when(col("event_type") === "purchase", "NOTICE")
          .when(col("event_type") === "error", "ERROR").otherwise("WARN")
        val msg = concat_ws(" ",
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lvl,
          concat(lit("10."), (col("user_id") % 250).cast("string"),
            lit(".0."), (col("event_id") % 250).cast("string")),
          concat(lit("user=u"), col("user_id").cast("string")),
          concat(lit("req_id="), col("event_id").cast("string")),
          concat(lit("took="), (col("event_id") % 100).cast("string"),
            lit("."), (col("user_id") % 10).cast("string")))
        T.byOrder(T(s, d, "events"), col("event_id")).withColumn("msg", msg)
          .select(col("event_id") +:
            Grok.columnsOnePass(s)(col("msg"), GrokLogLine): _*)
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, " +
        Grok.duckExprs(
          "(strftime(ts, '%Y-%m-%dT%H:%M:%S') || ' ' || " +
            "CASE event_type WHEN 'click' THEN 'INFO' WHEN 'view' THEN 'DEBUG' " +
            "WHEN 'purchase' THEN 'NOTICE' WHEN 'error' THEN 'ERROR' " +
            "ELSE 'WARN' END || " +
            "' 10.' || (user_id % 250) || '.0.' || (event_id % 250) || " +
            "' user=u' || user_id || ' req_id=' || event_id || " +
            "' took=' || (event_id % 100) || '.' || (user_id % 10))",
          GrokLogLine).mkString(", ") +
        " FROM events ORDER BY event_id")),

    // Multi-format grok dispatch (Logstash's pattern-LIST mode): a mixed
    // corpus of three synthesized log formats PLUS a genuinely non-matching
    // line class (every 4th row), dispatched first-match-wins to a
    // format_id and the UNION of all formats' fields (null where the
    // winning format doesn't define a field; all-null + format_id=-1 for
    // no-match rows — the ""→null coercion path under the oracle). Each
    // format extracts via its own one-pass GrokCapture, evaluated only on
    // its winning rows; the oracle runs the identical compiled regexes.
    "fn_grok_dispatch" -> Q(
      (s, d) => {
        val lvl = when(col("event_type") === "click", "INFO")
          .when(col("event_type") === "view", "DEBUG")
          .when(col("event_type") === "purchase", "NOTICE")
          .when(col("event_type") === "error", "ERROR").otherwise("WARN")
        val status = when(col("event_type") === "error", 500L).otherwise(200L)
        val msg = when(col("event_id") % 4 === 0, concat(
            lit("10."), (col("user_id") % 250).cast("string"),
            lit(".0."), (col("event_id") % 250).cast("string"),
            lit(" - u"), col("user_id").cast("string"),
            lit(" \"GET /api/"), col("event_type"), lit(" HTTP/1.1\" "),
            status.cast("string"), lit(" "),
            (col("event_id") % 5000).cast("string")))
          .when(col("event_id") % 4 === 1, concat(
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit(" "), lvl,
            lit(" svc="), col("event_type"),
            lit(" user=u"), col("user_id").cast("string"),
            lit(" took="), (col("event_id") % 100).cast("string"),
            lit("."), (col("user_id") % 10).cast("string")))
          .when(col("event_id") % 4 === 2, concat(
            lit("host=h"), (col("user_id") % 50).cast("string"),
            lit(" metric="), col("event_type"),
            lit(" value="), (col("event_id") % 1000).cast("string"),
            lit("."), (col("user_id") % 10).cast("string")))
          .otherwise(concat(lit("!!corrupt record "),
            col("event_id").cast("string"), lit("!!")))
        // r18 OPTIMIZATION: one-pass dispatch — a single GrokDispatch per
        // row (first-match-wins short circuit) replaces the N rlike + N
        // capture-array evaluations, all of which codegen subexpression
        // elimination ran eagerly per row. Same fmt/caps semantics
        // (GrokSpec parity pin); oracle unchanged.
        // Spread in event_id order (T.byOrder): grok runs on every core, and
        // the final ORDER BY's range sampler reads the scan, not the grok.
        T.byOrder(T(s, d, "events"), col("event_id")).withColumn("msg", msg)
          .withColumn("dx", Grok.dispatchStruct(s)(col("msg"), GrokFormats))
          .withColumn("format_id", col("dx.fmt"))
          .select(col("event_id") +: col("format_id") +:
            Grok.dispatchFieldsFromStruct(col("dx"), GrokFormats): _*)
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, fmt::BIGINT AS format_id, " +
        Grok.duckDispatchFields("msg", "fmt", GrokFormats).mkString(", ") +
        " FROM (SELECT event_id, " +
        Grok.duckDispatchFormatId("msg", GrokFormats) + " AS fmt, msg FROM (" +
        "SELECT event_id, CASE " +
        "WHEN event_id % 4 = 0 THEN '10.' || (user_id % 250) || '.0.' || " +
        "(event_id % 250) || ' - u' || user_id || ' \"GET /api/' || " +
        "event_type || ' HTTP/1.1\" ' || " +
        "(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END) || ' ' || " +
        "(event_id % 5000) " +
        "WHEN event_id % 4 = 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S') || ' ' || " +
        "(CASE event_type WHEN 'click' THEN 'INFO' WHEN 'view' THEN 'DEBUG' " +
        "WHEN 'purchase' THEN 'NOTICE' WHEN 'error' THEN 'ERROR' " +
        "ELSE 'WARN' END) || " +
        "' svc=' || event_type || ' user=u' || user_id || " +
        "' took=' || (event_id % 100) || '.' || (user_id % 10) " +
        "WHEN event_id % 4 = 2 THEN 'host=h' || (user_id % 50) || " +
        "' metric=' || event_type || ' value=' || (event_id % 1000) || " +
        "'.' || (user_id % 10) " +
        "ELSE '!!corrupt record ' || event_id || '!!' END AS msg " +
        "FROM events) t) t2 ORDER BY event_id")),

    // Schema'd JSON parse (SURVEY §1.1/§1.2 `from_json(schema)` promise):
    // a NESTED JSON document is synthesized per event (embedding the real
    // `props` object), then parsed back through a typed StructType with
    // PERMISSIVE corrupt-record capture — every 7th row is deliberately
    // truncated mid-object, and must surface as is_corrupt=true with null
    // fields rather than an error. Oracle: DuckDB json_extract twins per
    // field, null-guarded by json_valid.
    "fn_json_struct" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types._
        val good = concat(lit("{\"meta\":{\"src\":\""), col("event_type"),
          lit("\",\"v\":"), (col("event_id") % 5).cast("string"),
          lit("},\"user\":{\"id\":"), col("user_id").cast("string"),
          lit("},\"orig\":"), col("props"), lit("}"))
        val js = when(col("event_id") % 7 === 0,
          concat(lit("{\"meta\": broken "), col("props"))).otherwise(good)
        val schema = StructType(Seq(
          StructField("meta", StructType(Seq(
            StructField("src", StringType), StructField("v", LongType)))),
          StructField("user", StructType(Seq(StructField("id", LongType)))),
          StructField("orig", StructType(Seq(StructField("k", LongType)))),
          StructField("_corrupt_record", StringType)))
        T(s, d, "events").withColumn("js", js)
          .withColumn("p", from_json(col("js"), schema,
            Map("mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> "_corrupt_record")))
          .select(col("event_id"),
            col("p.meta.src").as("src"), col("p.meta.v").as("v"),
            col("p.user.id").as("uid"), col("p.orig.k").as("k"),
            col("p._corrupt_record").isNotNull.as("is_corrupt"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, " +
        "CASE WHEN ok THEN json_extract_string(js, '$.meta.src') END AS src, " +
        "CASE WHEN ok THEN TRY_CAST(json_extract_string(js, '$.meta.v') AS BIGINT) END AS v, " +
        "CASE WHEN ok THEN TRY_CAST(json_extract_string(js, '$.user.id') AS BIGINT) END AS uid, " +
        "CASE WHEN ok THEN TRY_CAST(json_extract_string(js, '$.orig.k') AS BIGINT) END AS k, " +
        // COALESCE: a NULL props row makes js NULL ⇒ json_valid NULL; Spark's
        // _corrupt_record.isNotNull is false there, so false here too.
        "COALESCE(NOT ok, FALSE) AS is_corrupt FROM (" +
        "SELECT event_id, js, json_valid(js) AS ok FROM (" +
        "SELECT event_id, CASE WHEN event_id % 7 = 0 " +
        "THEN '{\"meta\": broken ' || props " +
        "ELSE '{\"meta\":{\"src\":\"' || event_type || '\",\"v\":' || (event_id % 5) || " +
        "'},\"user\":{\"id\":' || user_id || '},\"orig\":' || props || '}' END AS js " +
        "FROM events) t) t2 ORDER BY event_id")),

    "fn_string_suite2" -> Q(
      (s, d) => T(s, d, "part")
        .select(col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("brand_lpad"),
          rpad(col("p_brand"), 12, ".").as("brand_rpad"),
          reverse(col("p_name")).as("name_rev"),
          expr("repeat(p_brand, 2)").as("brand_x2"),
          expr("left(p_type, 4)").as("type_left4"),
          expr("right(p_type, 4)").as("type_right4"),
          translate(col("p_name"), "aeiou", "AEIOU").as("name_vowels_uc"))
        .orderBy(col("p_partkey")),
      "SELECT p_partkey, lpad(p_brand, 12, '*') AS brand_lpad, " +
        "rpad(p_brand, 12, '.') AS brand_rpad, reverse(p_name) AS name_rev, " +
        "repeat(p_brand, 2) AS brand_x2, left(p_type, 4) AS type_left4, " +
        "right(p_type, 4) AS type_right4, " +
        "translate(p_name, 'aeiou', 'AEIOU') AS name_vowels_uc " +
        "FROM part ORDER BY p_partkey"),

    "fn_bitwise" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"),
          col("event_id").bitwiseAND(lit(0xFFL)).as("lo_byte"),
          col("event_id").bitwiseOR(lit(1L)).as("set_lsb"),
          col("event_id").bitwiseXOR(col("user_id")).as("xored"),
          shiftleft(col("event_id"), 2).as("shl2"),
          shiftright(col("event_id"), 3).as("shr3"))
        .orderBy(col("event_id")),
      "SELECT event_id, event_id & 255 AS lo_byte, event_id | 1 AS set_lsb, " +
        "xor(event_id, user_id) AS xored, event_id << 2 AS shl2, " +
        "event_id >> 3 AS shr3 FROM events ORDER BY event_id"),

    "fn_date_arith" -> Q(
      (s, d) => T(s, d, "orders")
        .select(col("o_orderkey"),
          (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("plus_30d"),
          (col("o_orderdate") - expr("INTERVAL 1 HOUR")).as("minus_1h"),
          // emit TIMESTAMP not DATE: engines' DATE types hash differently
          last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
          greatest(col("o_orderdate").cast("date"), lit("1998-01-01").cast("date"))
            .cast("timestamp").as("clamped"))
        .orderBy(col("o_orderkey")),
      "SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY AS plus_30d, " +
        "o_orderdate - INTERVAL 1 HOUR AS minus_1h, " +
        "last_day(o_orderdate::DATE)::TIMESTAMP AS month_end, " +
        "greatest(o_orderdate::DATE, DATE '1998-01-01')::TIMESTAMP AS clamped " +
        "FROM orders ORDER BY o_orderkey"),

    // IANA timezone conversion (round-10) — the log-pipeline date filter's
    // timezone mode [PK: Logstash date filter `timezone`]: UTC instants
    // rendered into named zones (DST-aware, so New York flips -300/-240
    // offsets across the fixture's 7 years) and zone-local wall clocks
    // lifted back to UTC. Everything is emitted as epoch-second BIGINTs:
    // Spark's from/to_utc_timestamp wall-clock arithmetic maps exactly onto
    // DuckDB's timezone() (ICU) under the UTC session both harnesses pin,
    // and integers dodge every timestamp-hashing pitfall. Pure codegen
    // projections; the tz lookup is a per-row O(1) zone-rules probe.
    // ENGINE-COUPLING NOTE (r11, the probed-engine-gap convention): the
    // DST-sensitive legs assume the JVM tzdata and DuckDB's ICU tzdata
    // agree on America/New_York's historical transitions — true on this
    // image (probed), but a tzdata version skew on another machine could
    // flip an offset near a transition instant with both engines
    // individually "correct". The fixture's o_orderdate instants are all
    // midnight UTC (= 19:00/20:00 NY prev-day, hours from any 02:00 local
    // transition), so only a rule change to the DST calendar itself — not
    // a minor tzdata rev — could break the hash.
    "fn_timezone_suite" -> Q(
      (s, d) => T(s, d, "orders")
        .select(col("o_orderkey"),
          big(unix_timestamp(from_utc_timestamp(col("o_orderdate"),
            "America/New_York"))).as("ny_wall_s"),
          big(unix_timestamp(to_utc_timestamp(col("o_orderdate"),
            "Asia/Tokyo"))).as("tokyo_as_utc_s"),
          big(hour(from_utc_timestamp(col("o_orderdate"), "Asia/Tokyo")))
            .as("tokyo_hour"),
          ((big(unix_timestamp(from_utc_timestamp(col("o_orderdate"),
            "America/New_York"))) -
            big(unix_timestamp(col("o_orderdate")))) / 60L)
            .cast("long").as("ny_offset_min"))
        .orderBy(col("o_orderkey")),
      "SELECT o_orderkey, " +
        "epoch_us(timezone('America/New_York', o_orderdate::TIMESTAMPTZ)) " +
        "// 1000000 AS ny_wall_s, " +
        "epoch_us(timezone('UTC', timezone('Asia/Tokyo', o_orderdate))) " +
        "// 1000000 AS tokyo_as_utc_s, " +
        "hour(timezone('Asia/Tokyo', o_orderdate::TIMESTAMPTZ))::BIGINT " +
        "AS tokyo_hour, " +
        "((epoch_us(timezone('America/New_York', o_orderdate::TIMESTAMPTZ)) " +
        "// 1000000 - epoch_us(o_orderdate) // 1000000) // 60)::BIGINT " +
        "AS ny_offset_min FROM orders ORDER BY o_orderkey"),

    // printf-family formatting (round-10): both engines implement C-style
    // printf (Spark format_string = java.util.Formatter, DuckDB printf =
    // fmt's printf mode) — width, zero-pad, precision, hex/octal, left
    // justification, sign all render identically (probed before this key
    // was declared); thousands grouping via Spark format_number ≡ DuckDB
    // format('{:,}') on INTEGERS only (floats are unsupported there, a
    // documented engine gap, so the money column goes through %.2f). One
    // codegen projection, no UDF.
    "fn_format_suite" -> Q(
      (s, d) => T(s, d, "part")
        .select(col("p_partkey"),
          format_string("%05d|%.2f|%s", col("p_size"),
            col("p_retailprice"), col("p_brand")).as("padded"),
          format_string("%x|%o|%X", col("p_partkey"), col("p_partkey"),
            col("p_partkey")).as("radix"),
          format_string("[%8s]|[%-8s]", col("p_brand"), col("p_brand"))
            .as("justified"),
          format_number(col("p_partkey") * 1000L + col("p_size"), 0)
            .as("grouped"),
          format_string("%+d", col("p_size") - 25).as("signed"))
        .orderBy(col("p_partkey")),
      "SELECT p_partkey, " +
        "printf('%05d|%.2f|%s', p_size, p_retailprice, p_brand) AS padded, " +
        "printf('%x|%o|%X', p_partkey, p_partkey, p_partkey) AS radix, " +
        "printf('[%8s]|[%-8s]', p_brand, p_brand) AS justified, " +
        "format('{:,}', p_partkey * 1000 + p_size) AS grouped, " +
        "printf('%+d', p_size - 25) AS signed " +
        "FROM part ORDER BY p_partkey"),

    "fn_date_suite" -> Q(
      (s, d) => T(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          big(year(col("o_orderdate"))).as("yr"),
          big(month(col("o_orderdate"))).as("mo"),
          big(weekday(col("o_orderdate")) + 1).as("isodow"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          big(datediff(lit("1998-01-01").cast("date"),
            col("o_orderdate").cast("date"))).as("days_to_1998"))
        .orderBy(col("o_orderkey")),
      "SELECT o_orderkey, o_orderdate, year(o_orderdate)::BIGINT AS yr, " +
        "month(o_orderdate)::BIGINT AS mo, isodow(o_orderdate)::BIGINT AS isodow, " +
        "date_trunc('month', o_orderdate) AS month_start, " +
        "date_diff('day', o_orderdate::DATE, DATE '1998-01-01')::BIGINT AS days_to_1998 " +
        "FROM orders ORDER BY o_orderkey"),

    "fn_math_suite" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("value"),
          abs(col("value")).as("abs_v"),
          big(ceil(col("value"))).as("ceil_v"),
          big(floor(col("value"))).as("floor_v"),
          sqrt(abs(col("value"))).as("sqrt_v"),
          round(dec(col("value")), 2).cast("double").as("round_v"),
          (col("value") * col("value")).as("sq_v"))
        .orderBy(col("event_id")),
      "SELECT event_id, value, abs(value) AS abs_v, ceil(value)::BIGINT AS ceil_v, " +
        "floor(value)::BIGINT AS floor_v, sqrt(abs(value)) AS sqrt_v, " +
        "CAST(round(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE) AS round_v, " +
        "value * value AS sq_v FROM events ORDER BY event_id"),

    // One document → one row per word. Output ordered by (doc_id, word):
    // duplicate words make identical rows, so the order is still total.
    "fn_split_explode" -> Q(
      (s, d) => T(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .orderBy(col("doc_id"), col("word")),
      "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents " +
        "ORDER BY doc_id, word"),

    "fn_array_suite" -> Q(
      (s, d) => T(s, d, "embeddings")
        .select(col("vec_id"),
          big(size(col("embedding"))).as("n_dims"),
          element_at(col("embedding"), 1).cast("double").as("e1"),
          element_at(col("embedding"), 64).cast("double").as("e64"),
          array_min(col("embedding")).cast("double").as("emin"),
          array_max(col("embedding")).cast("double").as("emax"),
          (element_at(col("embedding"), 1).cast("double") * 2.0).as("e1_x2"))
        .orderBy(col("vec_id")),
      "SELECT vec_id, len(embedding)::BIGINT AS n_dims, " +
        "embedding[1]::DOUBLE AS e1, embedding[64]::DOUBLE AS e64, " +
        "list_min(embedding)::DOUBLE AS emin, list_max(embedding)::DOUBLE AS emax, " +
        "embedding[1]::DOUBLE * 2.0 AS e1_x2 FROM embeddings ORDER BY vec_id"),

    // Map build + access. DuckDB map extraction returns a LIST, so the oracle
    // states the equivalent scalar values directly.
    "fn_map_entries" -> Q(
      (s, d) => {
        val m = map(lit("v"), col("value"), lit("v2"), col("value") * 2.0)
        T(s, d, "events")
          .select(col("event_id"),
            element_at(m, "v").as("mv"),
            element_at(m, "v2").as("mv2"),
            concat_ws(",", map_keys(m)).as("keys_csv"))
          .orderBy(col("event_id"))
      },
      "SELECT event_id, value AS mv, value * 2.0 AS mv2, 'v,v2' AS keys_csv " +
        "FROM events ORDER BY event_id"),

    "fn_json_extract" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("props"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy(col("event_id")),
      "SELECT event_id, props, json_extract_string(props, '$.k')::BIGINT AS k " +
        "FROM events ORDER BY event_id"),

    // Nested-JSON document round trip (round-10) — the struct/array JSON
    // surface fn_json_extract's flat path probe doesn't touch: per-user
    // events are rolled into ONE nested document (struct with an
    // array-of-structs), serialized with to_json, parsed back with an
    // explicit from_json schema, and EXPLODED back to rows. The oracle is
    // the identity (the original rows straight from the table), so the
    // hash match certifies serialize→parse→explode loses nothing — the
    // contract every JSON event-envelope pipeline depends on.
    // Determinism: collect_list order is pinned by sort_array over the
    // (event_id-first) struct. Scale: one keyed agg + per-row generate —
    // both hash-partitioned, no driver state.
    "fn_json_nested_roundtrip" -> Q(
      (s, d) => {
        val nested = T(s, d, "events")
          .groupBy(col("user_id"))
          .agg(sort_array(collect_list(
            struct(col("event_id"), col("event_type")))).as("evs"))
        val js = nested.select(col("user_id"),
          to_json(struct(col("user_id"), col("evs"))).as("doc"))
        val schema = "user_id BIGINT, " +
          "evs ARRAY<STRUCT<event_id: BIGINT, event_type: STRING>>"
        js.select(from_json(col("doc"), schema, Map.empty[String, String])
            .as("o"))
          .select(col("o.user_id").as("user_id"), explode(col("o.evs")).as("e"))
          .select(col("user_id"), col("e.event_id").as("event_id"),
            col("e.event_type").as("event_type"))
          .orderBy(col("user_id"), col("event_id"))
      },
      "SELECT user_id, event_id, event_type FROM events " +
        "ORDER BY user_id, event_id"),

    "fn_case_when" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("value") > 200, "high")
            .when(col("value") > 50, "mid")
            .otherwise("low").as("value_band"),
          when(col("event_type") === "purchase", lit(2L))
            .when(col("event_type") === "signup", lit(1L))
            .otherwise(lit(0L)).as("type_code"))
        .orderBy(col("event_id")),
      "SELECT event_id, event_type, value, " +
        "CASE WHEN value > 200 THEN 'high' WHEN value > 50 THEN 'mid' ELSE 'low' END AS value_band, " +
        "CASE WHEN event_type = 'purchase' THEN 2 WHEN event_type = 'signup' THEN 1 " +
        "ELSE 0 END::BIGINT AS type_code " +
        "FROM events ORDER BY event_id"),

    // Higher-order-function suite: filter/exists/forall/aggregate lambdas
    // over the embedding arrays vs DuckDB list_* lambdas. Determinism: the
    // fold sums exact BIGINTs (floor of the float scaled by 1000 — floor,
    // not round: a float*1000 can land exactly on .5 and the engines break
    // ties differently). HOFs don't codegen, which is why they live HERE
    // and are banned from hot paths (PERF.md); this key is the semantics
    // coverage for the occasional cold-path use.
    "fn_hof_suite" -> Q(
      (s, d) => T(s, d, "embeddings")
        .select(col("vec_id"),
          expr("cast(size(filter(embedding, x -> x > 0D)) as bigint)")
            .as("n_pos"),
          expr("exists(embedding, x -> x > 2D)").as("any_gt2"),
          expr("forall(embedding, x -> abs(x) < 100D)").as("all_small"),
          expr("aggregate(embedding, 0L, (acc, x) -> " +
            "acc + cast(floor(cast(x as double) * 1000) as bigint))").as("isum"))
        .orderBy(col("vec_id")),
      "SELECT vec_id, " +
        "len(list_filter(embedding::DOUBLE[], x -> x > 0))::BIGINT AS n_pos, " +
        "(len(list_filter(embedding::DOUBLE[], x -> x > 2.0)) > 0) AS any_gt2, " +
        "(len(list_filter(embedding::DOUBLE[], x -> NOT (abs(x) < 100))) = 0) AS all_small, " +
        "list_sum(list_transform(embedding::DOUBLE[], x -> floor(x * 1000)::BIGINT))::BIGINT AS isum " +
        "FROM embeddings ORDER BY vec_id"),

    // Array generation: sequence/generate_series parity (the reference's
    // synthetic-fanout instruction [PK]) — folded/joined to scalars so the
    // comparison never ships raw array columns across engines.
    "fn_sequence_array" -> Q(
      (s, d) => T(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"),
          expr("cast(size(sequence(0, n_regionkey)) as bigint)").as("seq_len"),
          expr("cast(aggregate(sequence(0, n_regionkey + 2), 0L, " +
            "(acc, x) -> acc + x) as bigint)").as("seq_sum"),
          expr("array_join(transform(sequence(1, 3), x -> cast(x as string)), ',')")
            .as("seq_str"))
        .orderBy(col("n_nationkey")),
      "SELECT n_nationkey, n_name, " +
        "len(generate_series(0, n_regionkey))::BIGINT AS seq_len, " +
        "list_sum(generate_series(0, n_regionkey + 2))::BIGINT AS seq_sum, " +
        "array_to_string(generate_series(1, 3), ',') AS seq_str " +
        "FROM nation ORDER BY n_nationkey"),

    // URL parsing (the reference's log-pipeline URL/useragent filters
    // [PK]): host / path / query-param extraction. Spark has parse_url,
    // but identical regexes in both engines keep the oracle portable —
    // and the regexes ARE the semantics being claimed.
    "fn_url_suite" -> Q(
      (s, d) => T(s, d, "documents")
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/"), col("lang"), lit("/"), col("doc_id"),
          lit("?q="), col("lang"), lit("&n="), col("n_chars")))
        .select(col("doc_id"), col("url"),
          regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"),
          regexp_extract(col("url"), "^https?://[^/]+(/[^?]*)", 1).as("path"),
          regexp_extract(col("url"), "[?&]q=([^&]*)", 1).as("q_param"))
        .orderBy(col("doc_id")),
      "SELECT doc_id, url, regexp_extract(url, '^https?://([^/]+)', 1) AS host, " +
        "regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path, " +
        "regexp_extract(url, '[?&]q=([^&]*)', 1) AS q_param " +
        "FROM (SELECT doc_id, 'https://' || source || '.example.com/' || lang " +
        "|| '/' || doc_id || '?q=' || lang || '&n=' || n_chars AS url " +
        "FROM documents) t ORDER BY doc_id"),

    // URL CANONICALIZATION (round-10) — the normalize step url-keyed dedup
    // depends on (llm_url_dedup hashes urls; this key makes equivalent
    // urls hash equal first): lowercase scheme+host, strip the default
    // port and any fragment, drop a trailing slash, and SORT the query
    // parameters (a=1&b=2 ≡ b=2&a=1 — sort_array over the split pairs,
    // the same canonical form both engines produce). Fixture urls are
    // synthesized messy on purpose: uppercased scheme/host, :443, shuffled
    // params, #fragment. One codegen projection chain, no UDF.
    "fn_url_normalize" -> Q(
      (s, d) => {
        val raw = T(s, d, "documents").select(col("doc_id"),
          concat(lit("HTTPS://WWW.Example.COM:443/"), col("lang"), lit("/"),
            col("doc_id").cast("string"),
            lit("/?z="), col("n_chars").cast("string"),
            lit("&a="), col("lang"), lit("#frag")).as("url"))
        raw.select(col("doc_id"), col("url"),
            concat(
              lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)),
              lit("://"),
              lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/:?#]+)", 1)),
              regexp_replace(
                regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]*(/[^?#]*)?", 1),
                "/$", ""),
              when(regexp_extract(col("url"), "\\?([^#]*)", 1) === "", lit(""))
                .otherwise(concat(lit("?"), array_join(sort_array(
                  split(regexp_extract(col("url"), "\\?([^#]*)", 1), "&")),
                  "&")))).as("canonical"))
          .orderBy(col("doc_id"))
      },
      "SELECT doc_id, url, " +
        "lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' || " +
        "lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) || " +
        "regexp_replace(regexp_extract(url, " +
        "'^[A-Za-z]+://[^/?#]*(/[^?#]*)?', 1), '/$', '') || " +
        "CASE WHEN regexp_extract(url, '\\?([^#]*)', 1) = '' THEN '' " +
        "ELSE '?' || array_to_string(list_sort(string_split(" +
        "regexp_extract(url, '\\?([^#]*)', 1), '&')), '&') END AS canonical " +
        "FROM (SELECT doc_id, 'HTTPS://WWW.Example.COM:443/' || lang || '/' " +
        "|| doc_id || '/?z=' || n_chars || '&a=' || lang || '#frag' AS url " +
        "FROM documents) t ORDER BY doc_id"),

    // Safe-cast contract (round-10) — ingestion's type gate: TRY_CAST
    // semantics across the legs where Spark and DuckDB provably agree
    // (probed): clean ints, garbage → NULL, scientific-notation doubles,
    // whitespace-trimmed ints, out-of-range BIGINT → NULL, invalid
    // calendar dates → NULL, and try_divide's divide-by-zero → NULL
    // (DuckDB twin: x / NULLIF(y, 0)). Deliberately EXCLUDES non-integer
    // strings cast to ints — DuckDB rounds ('4.5' → 5) and accepts
    // scientific notation ('4.5e2' → 450) where Spark returns NULL — those
    // legs are engine divergences, not a contract, so the scientific leg
    // is masked out of the BIGINT column on BOTH sides identically.
    "fn_try_cast_suite" -> Q(
      (s, d) => T(s, d, "nation")
        .select(col("n_nationkey"), col("n_regionkey"),
          when(col("n_nationkey") % 5 === 0,
            concat(lit("garbage-"), col("n_nationkey").cast("string")))
            .when(col("n_nationkey") % 5 === 1, col("n_nationkey").cast("string"))
            .when(col("n_nationkey") % 5 === 2, lit("4.5e2"))
            .when(col("n_nationkey") % 5 === 3,
              concat(lit(" "), col("n_nationkey").cast("string"), lit(" ")))
            .otherwise(lit("99999999999999999999")).as("raw"))
        .select(col("n_nationkey"), col("raw"),
          when(col("n_nationkey") % 5 === 2, lit(null))
            .otherwise(col("raw")).try_cast("bigint").as("as_bigint"),
          col("raw").try_cast("double").as("as_double"),
          lit("2024-13-01").try_cast("date").cast("timestamp").as("bad_date"),
          try_divide(col("n_regionkey"), col("n_nationkey") % 3).as("safe_div"))
        .orderBy(col("n_nationkey")),
      "SELECT n_nationkey, raw, TRY_CAST(CASE WHEN n_nationkey % 5 = 2 " +
        "THEN NULL ELSE raw END AS BIGINT) AS as_bigint, " +
        "TRY_CAST(raw AS DOUBLE) AS as_double, " +
        "TRY_CAST('2024-13-01' AS DATE)::TIMESTAMP AS bad_date, " +
        "n_regionkey / NULLIF(n_nationkey % 3, 0) AS safe_div FROM (" +
        "SELECT n_nationkey, n_regionkey, CASE n_nationkey % 5 " +
        "WHEN 0 THEN 'garbage-' || n_nationkey " +
        "WHEN 1 THEN n_nationkey::VARCHAR " +
        "WHEN 2 THEN '4.5e2' " +
        "WHEN 3 THEN ' ' || n_nationkey || ' ' " +
        "ELSE '99999999999999999999' END AS raw FROM nation) t " +
        "ORDER BY n_nationkey"),

    // Multiline log reassembly (round-10) [PK: Logstash multiline codec] —
    // stack traces arrive as N physical lines, continuation lines marked
    // by leading whitespace, and must be re-glued into one logical event.
    // Lines are synthesized from events (errors emit a 3-line trace,
    // everything else one line), then reassembled: a line starts a new
    // message iff it has no leading space, message id = running count of
    // starts PER SOURCE SHARD (user_id) — reassembly is inherently
    // sequential per source, so the window partitions by shard and scales
    // with shard count, never one global sort. (event_id, line_no) is the
    // total order; output is one row per logical message with its glued
    // md5.
    "fn_multiline_assemble" -> Q(
      (s, d) => {
        val lines = T(s, d, "events")
          .select(col("user_id"), col("event_id"),
            posexplode(when(col("event_type") === "error",
              array(
                concat(lit("ERR "), col("event_id").cast("string"), lit(" boom")),
                concat(lit("  at frame1:"), col("event_id").cast("string")),
                concat(lit("  at frame2:"), col("event_id").cast("string"))))
              .otherwise(array(
                concat(lit("INFO "), col("event_id").cast("string"), lit(" ok"))))))
          .withColumnRenamed("pos", "line_no")
          .withColumnRenamed("col", "line")
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("event_id"), col("line_no"))
        lines
          .withColumn("is_start",
            when(!col("line").startsWith(" "), 1L).otherwise(0L))
          .withColumn("msg_id", sum(col("is_start")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("msg_id"))
          .agg(min(col("event_id")).as("start_event_id"),
            count(lit(1)).as("n_lines"),
            // collect_list order is NOT guaranteed — pin it by collecting
            // the (event_id, line_no, line) structs and sorting before glue
            md5(concat_ws("\n", transform(sort_array(collect_list(
              struct(col("event_id"), col("line_no"), col("line")))),
              x => x.getField("line")))).as("msg_md5"))
          .orderBy(col("user_id"), col("msg_id"))
      },
      usEvents("WITH l AS (SELECT user_id, event_id, ln.line_no, ln.line " +
        "FROM events, LATERAL (" +
        "SELECT unnest(generate_series(0, CASE WHEN event_type = 'error' " +
        "THEN 2 ELSE 0 END)) AS line_no, " +
        "unnest(CASE WHEN event_type = 'error' THEN " +
        "['ERR ' || event_id || ' boom', '  at frame1:' || event_id, " +
        "'  at frame2:' || event_id] " +
        "ELSE ['INFO ' || event_id || ' ok'] END) AS line) ln), " +
        "m AS (SELECT user_id, event_id, line_no, line, " +
        "SUM(CASE WHEN line NOT LIKE ' %' THEN 1 ELSE 0 END) OVER (" +
        "PARTITION BY user_id ORDER BY event_id, line_no " +
        "ROWS UNBOUNDED PRECEDING)::BIGINT AS msg_id FROM l) " +
        "SELECT user_id, msg_id, MIN(event_id) AS start_event_id, " +
        "COUNT(*)::BIGINT AS n_lines, " +
        "md5(string_agg(line, chr(10) ORDER BY event_id, line_no)) AS msg_md5 " +
        "FROM m GROUP BY 1, 2 ORDER BY user_id, msg_id")),

    // Key=value parsing (the Logstash-class kv filter [PK]): build a kv
    // string, parse it back. Spark uses the native str_to_map; the oracle
    // parses with regexes — equal results prove the map semantics. Doubles
    // rendered to text round-trip on shortest-representation in both
    // engines (same guarantee source_json_roundtrip relies on).
    "fn_kv_parse" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("kv", concat(lit("user="), col("user_id"),
          lit(" type="), col("event_type"), lit(" val="), col("value")))
        .select(col("event_id"), col("kv"),
          expr("cast(element_at(str_to_map(kv, ' ', '='), 'user') as bigint)")
            .as("user_parsed"),
          expr("element_at(str_to_map(kv, ' ', '='), 'type')").as("type_parsed"),
          expr("cast(element_at(str_to_map(kv, ' ', '='), 'val') as double)")
            .as("val_parsed"))
        .orderBy(col("event_id")),
      "SELECT event_id, kv, regexp_extract(kv, 'user=([0-9]+)', 1)::BIGINT AS user_parsed, " +
        "regexp_extract(kv, 'type=([a-z]+)', 1) AS type_parsed, " +
        "regexp_extract(kv, 'val=([-0-9.]+)', 1)::DOUBLE AS val_parsed " +
        "FROM (SELECT event_id, 'user=' || user_id || ' type=' || event_type " +
        "|| ' val=' || value AS kv FROM events) t ORDER BY event_id"),

    // Encoding suite (the reference's codec mutate instructions [PK]):
    // base64 round-trip, hex (both engines emit uppercase A–F), ascii
    // codes, chr.
    "fn_encode_suite" -> Q(
      (s, d) => T(s, d, "part")
        .select(col("p_partkey"),
          base64(col("p_name").cast("binary")).as("name_b64"),
          hex(col("p_partkey")).as("key_hex"),
          ascii(col("p_name")).as("first_code"),
          expr("chr(65 + p_size % 26)").as("size_chr"),
          expr("decode(unbase64(base64(cast(p_name as binary))), 'UTF-8')")
            .as("roundtrip"))
        .orderBy(col("p_partkey")),
      "SELECT p_partkey, base64(p_name::BLOB) AS name_b64, " +
        "to_hex(p_partkey) AS key_hex, ascii(p_name) AS first_code, " +
        "chr(65 + (p_size % 26)) AS size_chr, " +
        "decode(from_base64(base64(p_name::BLOB))) AS roundtrip " +
        "FROM part ORDER BY p_partkey"),

    // Edit-distance fuzzy matching (dedup/entity-resolution primitive;
    // both engines implement the same Wagner–Fischer distance).
    "fn_fuzzy_levenshtein" -> Q(
      (s, d) => T(s, d, "nation").crossJoin(T(s, d, "region"))
        .select(col("n_nationkey"), col("r_regionkey"), col("n_name"),
          col("r_name"),
          levenshtein(col("n_name"), col("r_name")).cast("long").as("dist"))
        .orderBy(col("n_nationkey"), col("r_regionkey")),
      "SELECT n_nationkey, r_regionkey, n_name, r_name, " +
        "levenshtein(n_name, r_name)::BIGINT AS dist " +
        "FROM nation CROSS JOIN region ORDER BY n_nationkey, r_regionkey"),

    // Delimited-line parsing (the reference's csv filter [PK]): build a
    // CSV line, parse it back through Spark's native from_csv; the oracle
    // re-splits with string ops. Doubles round-trip on shortest repr.
    "fn_csv_parse" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("line",
          concat_ws(",", col("user_id"), col("event_type"), col("value")))
        .withColumn("parsed",
          from_csv(col("line"), org.apache.spark.sql.types.StructType.fromDDL(
            "uid BIGINT, etype STRING, val DOUBLE"), Map.empty[String, String]))
        .select(col("event_id"), col("line"), col("parsed.uid").as("uid"),
          col("parsed.etype").as("etype"), col("parsed.val").as("val"))
        .orderBy(col("event_id")),
      "SELECT event_id, line, string_split(line, ',')[1]::BIGINT AS uid, " +
        "string_split(line, ',')[2] AS etype, " +
        "string_split(line, ',')[3]::DOUBLE AS val " +
        "FROM (SELECT event_id, user_id || ',' || event_type || ',' || value " +
        "AS line FROM events) t ORDER BY event_id"),

    // XML parsing (the reference's xml filter [PK]): build an XML
    // fragment, parse it back through Spark's native from_xml; the oracle
    // extracts the same fields with regexes.
    "fn_xml_parse" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("xml", concat(lit("<e><u>"), col("user_id"),
          lit("</u><t>"), col("event_type"), lit("</t></e>")))
        .withColumn("parsed", from_xml(col("xml"),
          org.apache.spark.sql.types.StructType.fromDDL("u BIGINT, t STRING"),
          new java.util.HashMap[String, String]()))
        .select(col("event_id"), col("xml"), col("parsed.u").as("u_parsed"),
          col("parsed.t").as("t_parsed"))
        .orderBy(col("event_id")),
      "SELECT event_id, xml, " +
        "regexp_extract(xml, '<u>([0-9]+)</u>', 1)::BIGINT AS u_parsed, " +
        "regexp_extract(xml, '<t>([a-z]+)</t>', 1) AS t_parsed " +
        "FROM (SELECT event_id, '<e><u>' || user_id || '</u><t>' || " +
        "event_type || '</t></e>' AS xml FROM events) t ORDER BY event_id"),

    // IP/CIDR handling (the reference's cidr filter [PK]): /24 subnet mask
    // and the packed 32-bit integer form of a synthesized dotted quad.
    "fn_ip_mask" -> Q(
      (s, d) => {
        // r19 (guide §1.2 step 2): subnet and ip_int straight from the
        // numeric octets — the old path re-parsed the just-built ip string
        // (a regexp_extract + a split + 4 casts per row). The octet
        // expressions ARE the string's components, so both outputs are
        // byte-identical and the string-parsing oracle twin still matches.
        T(s, d, "events")
          .withColumn("ip", concat_ws(".",
            col("user_id") % 224, col("event_id") % 256,
            (col("user_id") * 7) % 256, (col("event_id") * 13) % 256))
          .select(col("event_id"), col("ip"),
            concat(concat_ws(".",
              col("user_id") % 224, col("event_id") % 256,
              (col("user_id") * 7) % 256), lit(".0/24")).as("subnet"),
            ((col("user_id") % 224).cast("long") * 16777216L +
              (col("event_id") % 256).cast("long") * 65536L +
              ((col("user_id") * 7) % 256).cast("long") * 256L +
              ((col("event_id") * 13) % 256).cast("long")).as("ip_int"))
          .orderBy(col("event_id"))
      },
      "SELECT event_id, ip, " +
        "regexp_extract(ip, '^([0-9]+\\.[0-9]+\\.[0-9]+)\\.', 1) || '.0/24' AS subnet, " +
        "(string_split(ip, '.')[1]::BIGINT * 16777216 + " +
        "string_split(ip, '.')[2]::BIGINT * 65536 + " +
        "string_split(ip, '.')[3]::BIGINT * 256 + " +
        "string_split(ip, '.')[4]::BIGINT) AS ip_int " +
        "FROM (SELECT event_id, (user_id % 224) || '.' || (event_id % 256) || " +
        "'.' || ((user_id * 7) % 256) || '.' || ((event_id * 13) % 256) AS ip " +
        "FROM events) t ORDER BY event_id"),

    // GeoIP-style range enrich (round-8 addendum; the Logstash `geoip`
    // filter): each event's ip_int (fn_ip_mask's synth) picks up its
    // country from a RANGE-keyed block dim. The geo database is a STUB
    // (7 first-octet blocks; a real build swaps in the MaxMind-style
    // block table with the same schema), but the join shape is the
    // SCALE-SAFE one, not the naive range join: a raw
    // `ip BETWEEN start AND end` predicate plans as
    // BroadcastNestedLoopJoin — O(events × blocks) predicate evals, dead
    // against a real ~3M-row block table. Instead the dim's ranges
    // EXPLODE into the /16 buckets they cover (sequence over
    // ip DIV 2^16 — MaxMind blocks are mostly ≥/16, so blowup ≈ 1 row
    // per block; our /8 stub spans 256 buckets each), the probe side
    // derives its single /16 bucket, and the join is a plain EQUI-join
    // on the bucket with the exact range re-checked on candidates only.
    // Each ip has exactly ONE bucket and each block lists a bucket once,
    // so no pair can duplicate — no distinct pass (the
    // scale_interval_bin_join discipline; count-once is free here).
    // No broadcast hint: Catalyst broadcasts the 1.8k-row exploded stub
    // on stats, and a 3M-row real table falls back to a keyed shuffle
    // hash join on the same plan. GraftFunctionsSpec plan-asserts no
    // BroadcastNestedLoopJoin survives.
    "fn_geoip_range_join" -> Q(
      (s, d) => {
        import s.implicits._
        val dim = Seq((0L, 31L, "US"), (32L, 63L, "DE"), (64L, 95L, "JP"),
          (96L, 127L, "BR"), (128L, 159L, "IN"), (160L, 191L, "GB"),
          (192L, 223L, "AU"))
          .toDF("o_start", "o_end", "country")
          .select((col("o_start") * 16777216L).as("ip_start"),
            ((col("o_end") + 1L) * 16777216L - 1L).as("ip_end"),
            col("country"))
          .withColumn("bucket", explode(sequence(
            expr("ip_start DIV 65536"), expr("ip_end DIV 65536"))))
        T(s, d, "events")
          .withColumn("ip", concat_ws(".",
            col("user_id") % 224, col("event_id") % 256,
            (col("user_id") * 7) % 256, (col("event_id") * 13) % 256))
          // r19 (guide §1.2 step 2 — per-task work): ip_int straight from
          // the numeric octets — the old string round-trip (split the
          // just-concatenated ip, cast 4 substrings back) spent the key's
          // probe-side time re-parsing what the line above computed.
          // Arithmetically identical (the octets ARE these expressions),
          // so the oracle twin — which still parses its string — matches.
          .withColumn("ip_int",
            (col("user_id") % 224).cast("long") * 16777216L +
              (col("event_id") % 256).cast("long") * 65536L +
              ((col("user_id") * 7) % 256).cast("long") * 256L +
              ((col("event_id") * 13) % 256).cast("long"))
          .withColumn("bucket", expr("ip_int DIV 65536"))
          .join(dim, Seq("bucket"))
          .filter(col("ip_int").between(col("ip_start"), col("ip_end")))
          .select(col("event_id"), col("ip"), col("country"))
          .orderBy(col("event_id"))
      },
      "WITH t AS (SELECT event_id, (user_id % 224) || '.' || (event_id % 256) " +
        "|| '.' || ((user_id * 7) % 256) || '.' || ((event_id * 13) % 256) AS ip " +
        "FROM events), " +
        "ii AS (SELECT event_id, ip, " +
        "string_split(ip, '.')[1]::BIGINT * 16777216 + " +
        "string_split(ip, '.')[2]::BIGINT * 65536 + " +
        "string_split(ip, '.')[3]::BIGINT * 256 + " +
        "string_split(ip, '.')[4]::BIGINT AS ip_int FROM t), " +
        "dim(o_start, o_end, country) AS (VALUES (0, 31, 'US'), (32, 63, 'DE'), " +
        "(64, 95, 'JP'), (96, 127, 'BR'), (128, 159, 'IN'), (160, 191, 'GB'), " +
        "(192, 223, 'AU')) " +
        "SELECT i.event_id, i.ip, d.country FROM ii i JOIN dim d " +
        "ON i.ip_int BETWEEN d.o_start::BIGINT * 16777216 " +
        "AND (d.o_end::BIGINT + 1) * 16777216 - 1 ORDER BY i.event_id"),

    // Unicode-aware tokenization: lower-case fold → NFC normalize (the
    // graft_nfc native expression; Spark has no normalizer built-in) →
    // split on non-letter/non-number runs, empties dropped. The fixture
    // corpus is ASCII, so each doc gets the multibyte probe appended —
    // composed Café vs decomposed Cafe+U+0301, Greek, CJK — built from
    // ONE Scala constant so both engines receive identical codepoints;
    // NFC is what merges the composed/decomposed pair into one distinct
    // token (n_distinct pins it; GraftFunctionsSpec pins the expression).
    // The 17 other text keys deliberately keep the simple whitespace
    // tokenizer: their oracle twins tokenize with DuckDB string_split,
    // and shingle/vocab/surprisal semantics only need token IDENTITY to
    // agree cross-engine, which whitespace gives on the ASCII corpus at
    // zero regex cost. This key is the normalizing front door a
    // multilingual corpus would route through first.
    "fn_text_normalize" -> Q(
      (s, d) => {
        val nfc = graft.functions.TextNormalize.nfc(s) _
        T(s, d, "documents")
          .select(col("doc_id"), nfc(lower(
            concat(col("text"), lit(" " + MultibyteProbe)))).as("norm"))
          .select(col("doc_id"), filter(
            split(col("norm"), "[^\\p{L}\\p{N}]+"), x => x =!= "").as("toks"))
          .select(col("doc_id"),
            big(size(col("toks"))).as("n_tokens"),
            big(size(array_distinct(col("toks")))).as("n_distinct"),
            element_at(col("toks"), 1).as("tok_first"),
            element_at(col("toks"), -1).as("tok_last"))
          .orderBy(col("doc_id"))
      },
      "SELECT doc_id, len(toks)::BIGINT AS n_tokens, " +
        "len(list_distinct(toks))::BIGINT AS n_distinct, " +
        "toks[1] AS tok_first, toks[-1] AS tok_last FROM (" +
        "SELECT doc_id, list_filter(regexp_split_to_array(" +
        "nfc_normalize(lower(text || ' " + MultibyteProbe + "')), " +
        "'[^\\p{L}\\p{N}]+'), x -> x <> '') AS toks FROM documents) t " +
        "ORDER BY doc_id"),

    // Winsorization (percentile clipping) — the outlier-taming mutate a
    // metrics pipeline applies before aggregating heavy-tailed values:
    // per event_type, values clip to [p01, p99] (Spark percentile ≡
    // DuckDB quantile_cont linear interpolation, the established
    // agg_percentile parity) and the rollup reports clip counts plus the
    // exact-decimal sum of the clipped column. The percentile frame is
    // per-type (5 rows), broadcast back — the corpus pays one shuffle
    // for the percentile agg and one for the final rollup.
    "fn_winsorize" -> Q(
      (s, d) => {
        val ev = T(s, d, "events")
        val pct = ev.groupBy(col("event_type"))
          .agg(expr("percentile(value, 0.01)").as("p01"),
            expr("percentile(value, 0.99)").as("p99"))
        ev.join(broadcast(pct), "event_type")
          .withColumn("clipped",
            least(greatest(col("value"), col("p01")), col("p99")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            count(when(col("value") < col("p01"), 1)).as("n_clip_low"),
            count(when(col("value") > col("p99"), 1)).as("n_clip_high"),
            dsum(col("clipped")).as("clipped_sum"))
          .orderBy(col("event_type"))
      },
      usEvents("WITH pct AS (SELECT event_type, " +
        "quantile_cont(value, 0.01) AS p01, quantile_cont(value, 0.99) AS p99 " +
        "FROM events GROUP BY 1) " +
        "SELECT e.event_type, COUNT(*) AS n, " +
        "COUNT(CASE WHEN e.value < p.p01 THEN 1 END) AS n_clip_low, " +
        "COUNT(CASE WHEN e.value > p.p99 THEN 1 END) AS n_clip_high, " +
        "CAST(SUM(CAST(least(greatest(e.value, p.p01), p.p99) " +
        "AS DECIMAL(18,4))) AS DOUBLE) AS clipped_sum " +
        "FROM events e JOIN pct p USING (event_type) " +
        "GROUP BY 1 ORDER BY 1")),

    // Dissect-style positional parse (round-9 addendum) [PK: Logstash
    // dissect filter]: %{field} tokens between literal separators compile
    // to locate/substring chains — no regex in the hot path (see
    // functions/Dissect.scala). The synth reuses the dead-letter trick:
    // 'signup' lines lose their bracket section, so the separator search
    // fails and every field nulls (all-or-nothing, routed like a grok
    // no-match). took= carries floor(value*100) — an exact BIGINT in both
    // engines; raw double→string would diverge on formatting. The oracle
    // states the same parse as the equivalent LAZY regex (leftmost-
    // minimal capture ≡ leftmost literal search; Dissect scaladoc pins
    // the equivalence).
    "fn_dissect" -> Q(
      (s, d) => {
        val cents = floor(col("value") * 100).cast("long").cast("string")
        val line = when(col("event_type") === "signup",
          concat(col("event_id").cast("string"), lit(" "), col("event_type"),
            lit(" took="), cents))
          .otherwise(concat(col("event_id").cast("string"), lit(" "),
            col("event_type"), lit(" [u"), col("user_id").cast("string"),
            lit("] took="), cents))
        val fs = Dissect.fields(col("line"),
          "%{id} %{type} [%{user}] took=%{cents}")
        T(s, d, "events").withColumn("line", line)
          .select(col("event_id") +: fs.map { case (n, c) => c.as(n) }: _*)
          .orderBy(col("event_id"))
      },
      usEvents("WITH raw AS (SELECT event_id, CASE WHEN event_type = 'signup' " +
        "THEN event_id::VARCHAR || ' ' || event_type || ' took=' || " +
        "floor(value*100)::BIGINT::VARCHAR " +
        "ELSE event_id::VARCHAR || ' ' || event_type || ' [u' || " +
        "user_id::VARCHAR || '] took=' || floor(value*100)::BIGINT::VARCHAR " +
        "END AS line FROM events) " +
        "SELECT event_id, " +
        "CASE WHEN regexp_matches(line, '^(.*?) (.*?) \\[(.*?)\\] took=(.*)$') " +
        "THEN regexp_extract(line, '^(.*?) (.*?) \\[(.*?)\\] took=(.*)$', 1) END AS id, " +
        "CASE WHEN regexp_matches(line, '^(.*?) (.*?) \\[(.*?)\\] took=(.*)$') " +
        "THEN regexp_extract(line, '^(.*?) (.*?) \\[(.*?)\\] took=(.*)$', 2) END AS type, " +
        "CASE WHEN regexp_matches(line, '^(.*?) (.*?) \\[(.*?)\\] took=(.*)$') " +
        "THEN regexp_extract(line, '^(.*?) (.*?) \\[(.*?)\\] took=(.*)$', 3) END AS user, " +
        "CASE WHEN regexp_matches(line, '^(.*?) (.*?) \\[(.*?)\\] took=(.*)$') " +
        "THEN regexp_extract(line, '^(.*?) (.*?) \\[(.*?)\\] took=(.*)$', 4) END AS cents " +
        "FROM raw ORDER BY event_id")),

    // Dictionary enrich (round-9 addendum) [PK: Logstash translate
    // filter]: a config-supplied key→value dict with a default. The dict
    // compiles to a MAP LITERAL + element_at + coalesce — the lookup
    // rides inside whole-stage codegen in every task: no join, no
    // shuffle, no broadcast variable. Config dicts are dim-sized by
    // nature (they are typed into a file); a lookup too big to inline is
    // a broadcast-join enrich instead. Config-reachable as the Flow
    // 'translate' instruction (flow/Flow.scala; FlowSpec pins the
    // instruction compiles to this same shape).
    "fn_translate" -> Q(
      (s, d) => {
        val dict = Seq("purchase" -> "revenue", "error" -> "ops",
          "signup" -> "growth")
        val lookup = element_at(
          map(dict.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
          col("event_type"))
        T(s, d, "events")
          .select(col("event_id"), col("event_type"),
            coalesce(lookup, lit("engagement")).as("tier"))
          .groupBy(col("tier"))
          .agg(count(lit(1)).as("n"), min(col("event_id")).as("first_id"))
          .orderBy(col("tier"))
      },
      usEvents("SELECT CASE event_type WHEN 'purchase' THEN 'revenue' " +
        "WHEN 'error' THEN 'ops' WHEN 'signup' THEN 'growth' " +
        "ELSE 'engagement' END AS tier, COUNT(*) AS n, " +
        "MIN(event_id) AS first_id FROM events GROUP BY 1 ORDER BY tier")),

    // CIDR containment (round-9 addendum) [PK: Logstash cidr filter /
    // network() conditionals]: each configured block compiles AT BUILD
    // TIME to (divisor = 2^(32-prefix), network-prefix constant), so the
    // per-row test is ONE integer division + equality riding whole-stage
    // codegen — no string ops, no per-row CIDR parsing, no join. First
    // match wins (the Logstash conditional-chain discipline). The same
    // arithmetic appears verbatim in the oracle (`//` is DuckDB BIGINT
    // floor division; both operands are non-negative so div ≡ //).
    "fn_cidr_match" -> Q(
      (s, d) => {
        val blocks = Seq("10.0.0.0/8", "20.16.0.0/12", "100.64.0.0/10")
        val compiled = blocks.map { c =>
          val Array(net, p) = c.split("/")
          val oct = net.split("\\.").map(_.toLong)
          val ipInt = oct(0) * 16777216L + oct(1) * 65536L + oct(2) * 256L + oct(3)
          val div = 1L << (32 - p.toInt)
          (c, div, ipInt / div)
        }
        val ipped = T(s, d, "events")
          .select(col("event_id"),
            ((col("user_id") % 224) * 16777216L +
              (col("event_id") % 256) * 65536L +
              ((col("user_id") * 7) % 256) * 256L +
              (col("event_id") * 13) % 256).as("ip_int"))
        val network = compiled.foldRight(lit("unmatched")) {
          case ((c, div, pref), elseCol) =>
            when(expr(s"ip_int div $div") === lit(pref), lit(c)).otherwise(elseCol)
        }
        ipped.select(col("event_id"), col("ip_int"), network.as("network"))
          .orderBy(col("event_id"))
      },
      "SELECT event_id, ip_int, CASE " +
        "WHEN ip_int // 16777216 = 10 THEN '10.0.0.0/8' " +
        "WHEN ip_int // 1048576 = 321 THEN '20.16.0.0/12' " +
        "WHEN ip_int // 4194304 = 401 THEN '100.64.0.0/10' " +
        "ELSE 'unmatched' END AS network " +
        "FROM (SELECT event_id, (user_id % 224) * 16777216 + " +
        "(event_id % 256) * 65536 + ((user_id * 7) % 256) * 256 + " +
        "(event_id * 13) % 256 AS ip_int FROM events) t ORDER BY event_id"),

    // Syslog priority decode (round-9 addendum) [PK: Logstash syslog_pri
    // filter]: pri = facility*8 + severity per RFC 3164/5424; labels via
    // element_at over LITERAL arrays (codegen lookup, the fn_translate
    // discipline — never a join for a 24-entry standard table). The
    // facility list is the RFC order; DuckDB's list_extract is the same
    // 1-based indexing as Spark element_at.
    "fn_syslog_pri" -> Q(
      (s, d) => {
        val fac = Seq("kern", "user", "mail", "daemon", "auth", "syslog",
          "lpr", "news", "uucp", "cron", "authpriv", "ftp", "ntp",
          "security", "console", "solaris-cron", "local0", "local1",
          "local2", "local3", "local4", "local5", "local6", "local7")
        val sev = Seq("emergency", "alert", "critical", "error", "warning",
          "notice", "informational", "debug")
        val base = T(s, d, "events")
          .select(col("event_id"),
            ((col("event_id") * 7 + col("user_id")) % 192).as("pri"))
          .withColumn("facility", expr("pri div 8"))
          .withColumn("severity", col("pri") % 8)
        base.select(col("event_id"), col("pri"), col("facility"), col("severity"),
            element_at(array(fac.map(lit): _*),
              (col("facility") + 1).cast("int")).as("facility_label"),
            element_at(array(sev.map(lit): _*),
              (col("severity") + 1).cast("int")).as("severity_label"))
          .orderBy(col("event_id"))
      },
      "SELECT event_id, pri, pri // 8 AS facility, pri % 8 AS severity, " +
        "list_extract(['kern','user','mail','daemon','auth','syslog','lpr'," +
        "'news','uucp','cron','authpriv','ftp','ntp','security','console'," +
        "'solaris-cron','local0','local1','local2','local3','local4','local5'," +
        "'local6','local7'], (pri // 8 + 1)::INT) AS facility_label, " +
        "list_extract(['emergency','alert','critical','error','warning'," +
        "'notice','informational','debug'], (pri % 8 + 1)::INT) AS severity_label " +
        "FROM (SELECT event_id, (event_id * 7 + user_id) % 192 AS pri " +
        "FROM events) t ORDER BY event_id"),

    // Range tagging (round-9 addendum) [PK: Logstash range filter]: tag
    // events whose fields fall inside configured ranges; multiple ranges
    // can tag one event, so the result is a TAG ARRAY — built as a fixed
    // CASE-per-range array then null-compacted with filter() (DuckDB
    // list_filter twin). Construction order is the config order in both
    // engines; the array is emitted in its joined-string form (the
    // fn_array_suite convention — oracled outputs stay scalar so the
    // driver's value hashing never depends on list-encoding parity).
    // One projection pass, all codegen.
    "fn_range_tag" -> Q(
      (s, d) => {
        T(s, d, "events")
          .select(col("event_id"), col("value"),
            filter(array(
              when(col("value") < 10, lit("value_low")),
              when(col("value") >= 10 && col("value") < 100, lit("value_mid")),
              when(col("value") >= 100, lit("value_high")),
              when(length(col("event_type")) >= 6, lit("longtype"))),
              x => x.isNotNull).as("tag_arr"))
          .select(col("event_id"), col("value"),
            array_join(col("tag_arr"), ",").as("tags"),
            size(col("tag_arr")).cast("long").as("n_tags"))
          .orderBy(col("event_id"))
      },
      "WITH tagged AS (SELECT event_id, value, list_filter([" +
        "CASE WHEN value < 10 THEN 'value_low' END, " +
        "CASE WHEN value >= 10 AND value < 100 THEN 'value_mid' END, " +
        "CASE WHEN value >= 100 THEN 'value_high' END, " +
        "CASE WHEN length(event_type) >= 6 THEN 'longtype' END], " +
        "x -> x IS NOT NULL) AS tag_arr FROM events) " +
        "SELECT event_id, value, array_to_string(tag_arr, ',') AS tags, " +
        "len(tag_arr)::BIGINT AS n_tags FROM tagged ORDER BY event_id"),

    // Field prune + de_dot (round-9 addendum) [PK: Logstash prune +
    // de_dot filters]: dynamic event fields live in a MAP column; prune
    // keeps keys matching the config whitelist via map_filter, de_dot
    // rewrites '.' to '_' in the SURVIVING key names via transform_keys —
    // both Catalyst HOFs, no UDF, no explode/re-agg round trip. The
    // result is emitted as the sorted 'k=v;…' entry string (map column
    // ordering is engine-internal, the string is the deterministic form).
    // The oracle constructs the same kept entries directly from the same
    // synth — the Spark side is what exercises the HOF machinery.
    "fn_field_prune" -> Q(
      (s, d) => {
        val m = map(
          lit("k"), get_json_object(col("props"), "$.k"),
          lit("user.name"), concat(lit("u"), col("user_id").cast("string")),
          lit("dbg.trace"), concat(lit("t"), col("event_id").cast("string")))
        // whitelist as anchored prefix/equality tests and de_dot as a
        // char translate — not regexes: the HOF lambdas run per key per
        // row outside whole-stage codegen, so the per-call op matters
        T(s, d, "events")
          .withColumn("m2", transform_keys(
            map_filter(m, (k, _) => k === "k" || k.startsWith("user.")),
            (k, _) => translate(k, ".", "_")))
          .select(col("event_id"),
            expr("array_join(transform(array_sort(map_entries(m2)), " +
              "e -> concat(e.key, '=', e.value)), ';')").as("fields"),
            size(col("m2")).cast("long").as("n_kept"))
          .orderBy(col("event_id"))
      },
      "SELECT event_id, 'k=' || json_extract_string(props, '$.k') || " +
        "';user_name=u' || user_id::VARCHAR AS fields, 2::BIGINT AS n_kept " +
        "FROM events ORDER BY event_id"),

    // Semi-structured VARIANT path (round-9 addendum) — Spark 4's answer
    // to dynamic JSON fields [PK: the reference's schemaless event
    // payloads]: parse ONCE into the binary VARIANT encoding, then typed
    // path extraction (`variant_get`) per field — vs fn_json_extract's
    // per-field string re-parse, this is the columnar-friendly form a
    // 100 TB event lake stores. A nested payload is synthesized around
    // the fixture's props so the path walk ('$.u.id') and the
    // missing-path null (try_variant_get) are both exercised. The oracle
    // runs DuckDB's JSON path functions over the identical synth — same
    // values, engine-native semi-structured machinery on each side.
    "fn_variant_json" -> Q(
      (s, d) => {
        val payload = concat(lit("{\"k\":"),
          get_json_object(col("props"), "$.k"),
          lit(",\"u\":{\"id\":"), col("user_id").cast("string"),
          lit(",\"t\":\""), col("event_type"), lit("\"}}"))
        T(s, d, "events")
          .withColumn("v", parse_json(payload))
          .select(col("event_id"),
            expr("variant_get(v, '$.k', 'bigint')").as("k_val"),
            expr("variant_get(v, '$.u.id', 'bigint')").as("uid"),
            expr("variant_get(v, '$.u.t', 'string')").as("ut"),
            expr("try_variant_get(v, '$.missing', 'bigint')").as("absent"))
          .orderBy(col("event_id"))
      },
      "SELECT event_id, " +
        "json_extract(payload, '$.k')::BIGINT AS k_val, " +
        "json_extract(payload, '$.u.id')::BIGINT AS uid, " +
        "json_extract_string(payload, '$.u.t') AS ut, " +
        "json_extract(payload, '$.missing')::BIGINT AS absent " +
        "FROM (SELECT event_id, '{\"k\":' || json_extract_string(props, '$.k') || " +
        "',\"u\":{\"id\":' || user_id::VARCHAR || ',\"t\":\"' || event_type || " +
        "'\"}}' AS payload FROM events) t ORDER BY event_id"),

    // Deterministic event UUIDs (round-9 addendum) [PK: Logstash uuid
    // filter, pinned to name-based RFC 4122 v3 so replays mint the SAME
    // id — the idempotent-sink prerequisite; a random v4 would break
    // exactly-once re-publish]: md5 of a namespaced name, formatted
    // 8-4-4-4-12 with the version nibble forced to '3' and the variant
    // nibble to [89ab] (hex-index arithmetic through a strpos lookup —
    // the agg_count_min_est bucket discipline, no conv()/from_hex
    // dialect). One codegen projection pass, no shuffle but the sort.
    "fn_uuid_ns" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("h", md5(concat_ws(":", lit("graft-evt"), col("event_id"))))
        .select(col("event_id"), concat(
          substring(col("h"), 1, 8), lit("-"),
          substring(col("h"), 9, 4), lit("-3"),
          substring(col("h"), 14, 3), lit("-"),
          expr("substr('89ab', " +
            "(instr('0123456789abcdef', substr(h, 17, 1)) - 1) % 4 + 1, 1)"),
          substring(col("h"), 18, 3), lit("-"),
          substring(col("h"), 21, 12)).as("uuid"))
        .orderBy(col("event_id")),
      "SELECT event_id, substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-3' || " +
        "substr(h, 14, 3) || '-' || substr('89ab', " +
        "(strpos('0123456789abcdef', substr(h, 17, 1)) - 1) % 4 + 1, 1) || " +
        "substr(h, 18, 3) || '-' || substr(h, 21, 12) AS uuid " +
        "FROM (SELECT event_id, md5('graft-evt:' || event_id::VARCHAR) AS h " +
        "FROM events) t ORDER BY event_id"),

    // Percent-decoding (round-10) [PK: Logstash urldecode filter]: the
    // encoded string is SYNTHESIZED from table data (multibyte %C3%A9,
    // space, slash, equals — the escape families a query string carries),
    // decoded by Spark's native url_decode in one codegen projection.
    // DuckDB has no url_decode, so the oracle decodes the synthesized
    // escape set via replace chains — exact over this controlled domain,
    // which is precisely what makes the key oracle-able.
    "fn_urldecode" -> Q(
      (s, d) => T(s, d, "events")
        .withColumn("enc", concat(lit("caf%C3%A9%20"), col("event_type"),
          lit("%2Fuser%3D"), col("user_id").cast("string")))
        .select(col("event_id"), col("enc"),
          expr("url_decode(enc)").as("dec"))
        .orderBy(col("event_id")),
      usEvents("SELECT event_id, enc, replace(replace(replace(replace(enc, " +
        "'%C3%A9', 'é'), '%20', ' '), '%2F', '/'), '%3D', '=') AS dec " +
        "FROM (SELECT event_id, 'caf%C3%A9%20' || event_type || " +
        "'%2Fuser%3D' || user_id::VARCHAR AS enc FROM events) t " +
        "ORDER BY event_id")),

    // Field clipping (round-10) [PK: Logstash truncate filter]: cap a
    // field at N characters, carrying the original length and a clipped
    // flag (the filter's add-tag analogue) so downstream consumers can
    // tell clipped rows apart. Character semantics, not bytes — the
    // Spark-portable reading; both engines' length()/substring count
    // codepoints identically. One codegen projection.
    "fn_truncate" -> Q(
      (s, d) => T(s, d, "documents")
        .select(col("doc_id"),
          substring(col("text"), 1, 64).as("clipped"),
          length(col("text")).cast("long").as("orig_len"),
          (length(col("text")) > 64).as("was_truncated"))
        .orderBy(col("doc_id")),
      "SELECT doc_id, left(text, 64) AS clipped, " +
        "length(text)::BIGINT AS orig_len, " +
        "length(text) > 64 AS was_truncated " +
        "FROM documents ORDER BY doc_id"),

    // Keyed deterministic pseudonymization (round-10) [PK: Logstash
    // anonymize/fingerprint filter, key mode]: HMAC-style masking —
    // sha2(key || 0x1f-style separator || value) with the key from
    // session conf (`spark.graft.anonymize.key`), so the SAME key replays
    // to the SAME token (joinable pseudonyms, the governance property
    // llm_pii_redact's unkeyed masking lacks) and rotating the key
    // re-keys every token (FnSpec pins both). Single keyed digest, not
    // the RFC-2104 nested construction — equivalent strength for
    // fixed-length keys and expressible identically on both engines; the
    // separator prevents key/value boundary ambiguity. One codegen
    // projection, no shuffle but the sort.
    "fn_anonymize_hmac" -> Q(
      (s, d) => {
        val key = s.conf.get("spark.graft.anonymize.key", "graft-default-key")
        T(s, d, "events")
          .select(col("event_id"), col("event_type"),
            sha2(concat_ws("|", lit(key),
              col("user_id").cast("string")), 256).as("user_tok"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, event_type, " +
        "sha256('graft-default-key|' || user_id::VARCHAR) AS user_tok " +
        "FROM events ORDER BY event_id")),

    // Human-readable byte-size parsing (round-11) [PK: Logstash `bytes`
    // filter]: "10 MB" / "1.5GiB" / "300kB" → a BIGINT byte count. SI
    // units are 1000-based, IEC (…iB) 1024-based; the numeric part may
    // carry a decimal fraction, so the multiply runs in DECIMAL — exact
    // in both engines (DECIMAL(20,6) × DECIMAL(15,0) stays inside both
    // engines' 38-digit cap) — and floors to BIGINT. An unknown unit
    // yields NULL bytes (the filter's tag-on-failure analogue), pinned by
    // the 'XB' fixture case. Fixture strings are synthesized
    // deterministically from part (mixed casing/spacing/fractions cover
    // the real grammar); the parse itself is ONE codegen projection —
    // anchored regexp_extracts + a CASE ladder, no UDF, no shuffle but
    // the output sort.
    "fn_bytes_parse" -> Q(
      (s, d) => {
        val pat = "^([0-9]+[.]?[0-9]*)[ ]?([A-Za-z]+)$"
        val sizeStr = when(col("p_partkey") % 7 === 0,
            concat(col("p_size").cast("string"), lit(" B")))
          .when(col("p_partkey") % 7 === 1,
            concat(col("p_size").cast("string"), lit("kB")))
          .when(col("p_partkey") % 7 === 2,
            concat(col("p_size").cast("string"), lit(".5 MiB")))
          .when(col("p_partkey") % 7 === 3,
            concat(col("p_size").cast("string"), lit(" GB")))
          .when(col("p_partkey") % 7 === 4, lit("1.5GiB"))
          .when(col("p_partkey") % 7 === 5,
            concat(col("p_size").cast("string"), lit(" XB")))
          .otherwise(concat(col("p_size").cast("string"), lit(" TiB")))
        val unit = regexp_extract(col("size_str"), pat, 2)
        T(s, d, "part")
          .select(col("p_partkey"), sizeStr.as("size_str"))
          .withColumn("num",
            regexp_extract(col("size_str"), pat, 1)
              .cast(org.apache.spark.sql.types.DecimalType(20, 6)))
          .withColumn("mult",
            when(unit === "B", 1L).when(unit.isin("kB", "KB"), 1000L)
              .when(unit === "KiB", 1024L)
              .when(unit === "MB", 1000000L).when(unit === "MiB", 1048576L)
              .when(unit === "GB", 1000000000L)
              .when(unit === "GiB", 1073741824L)
              .when(unit === "TB", 1000000000000L)
              .when(unit === "TiB", 1099511627776L)
              .cast(org.apache.spark.sql.types.DecimalType(15, 0)))
          .select(col("p_partkey"), col("size_str"),
            floor(col("num") * col("mult")).cast("long").as("bytes"))
          .orderBy(col("p_partkey"))
      },
      "SELECT p_partkey, size_str, " +
        "CAST(floor(CAST(regexp_extract(size_str, " +
        "'^([0-9]+[.]?[0-9]*)[ ]?([A-Za-z]+)$', 1) AS DECIMAL(20,6)) * " +
        "(CASE regexp_extract(size_str, " +
        "'^([0-9]+[.]?[0-9]*)[ ]?([A-Za-z]+)$', 2) " +
        "WHEN 'B' THEN 1 WHEN 'kB' THEN 1000 WHEN 'KB' THEN 1000 " +
        "WHEN 'KiB' THEN 1024 WHEN 'MB' THEN 1000000 " +
        "WHEN 'MiB' THEN 1048576 WHEN 'GB' THEN 1000000000 " +
        "WHEN 'GiB' THEN 1073741824 WHEN 'TB' THEN 1000000000000 " +
        "WHEN 'TiB' THEN 1099511627776 END)::DECIMAL(15,0)) AS BIGINT) " +
        "AS bytes FROM (" +
        "SELECT p_partkey, CASE p_partkey % 7 " +
        "WHEN 0 THEN p_size::VARCHAR || ' B' " +
        "WHEN 1 THEN p_size::VARCHAR || 'kB' " +
        "WHEN 2 THEN p_size::VARCHAR || '.5 MiB' " +
        "WHEN 3 THEN p_size::VARCHAR || ' GB' " +
        "WHEN 4 THEN '1.5GiB' " +
        "WHEN 5 THEN p_size::VARCHAR || ' XB' " +
        "ELSE p_size::VARCHAR || ' TiB' END AS size_str FROM part) t " +
        "ORDER BY p_partkey"),

    // XML field extraction (round-11) [PK: Logstash xml filter]: an XML
    // payload is synthesized from nation (element text, nested element,
    // and an ATTRIBUTE — the three access shapes), then parsed back with
    // Spark's built-in xpath functions (xpath_string / xpath_int — real
    // XPath evaluation, codegen projection, no UDF). DuckDB has no XPath,
    // so the oracle states the expected extraction straight from the
    // source columns (the source_csv_permissive discipline): the hash
    // match certifies the synthesize→parse round trip exactly. The corpus
    // nation names are [A-Z ]-safe (no XML escaping needed — asserted by
    // the synthesis being injective on that alphabet).
    "fn_xml_extract" -> Q(
      (s, d) => T(s, d, "nation")
        .withColumn("xml", concat(
          lit("<rec id=\""), col("n_nationkey").cast("string"),
          lit("\"><name>"), col("n_name"), lit("</name><region>"),
          col("n_regionkey").cast("string"), lit("</region></rec>")))
        .select(col("n_nationkey"),
          expr("xpath_string(xml, '/rec/name')").as("name"),
          big(expr("xpath_int(xml, '/rec/region')")).as("region"),
          big(expr("xpath_int(xml, '/rec/@id')")).as("id_attr"))
        .orderBy(col("n_nationkey")),
      "SELECT n_nationkey, n_name AS name, n_regionkey::BIGINT AS region, " +
        "n_nationkey::BIGINT AS id_attr FROM nation ORDER BY n_nationkey"),

    // User-agent parsing (round-11) [PK: Logstash useragent filter]: four
    // realistic UA strings (Chrome/Linux, Safari/macOS, Firefox/Windows,
    // curl — the bot case) are synthesized per order and parsed back with
    // the precedence ladder a real UA parser needs (Chrome claims the
    // Safari token, so Chrome tests FIRST; Safari's version lives in
    // `Version/`, not the `Safari/` build id), plus OS family and a bot
    // flag. Anchored RE2-safe regexes in one codegen projection. The
    // oracle states the expected parse from the synthesis key (the
    // source_csv_permissive round-trip discipline).
    "fn_useragent_parse" -> Q(
      (s, d) => {
        val ua = when(col("o_custkey") % 4 === 0, lit(
            "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 " +
              "Chrome/103.0.5060.53 Safari/537.36"))
          .when(col("o_custkey") % 4 === 1, lit(
            "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) " +
              "Version/15.5 Safari/605.1.15"))
          .when(col("o_custkey") % 4 === 2, lit(
            "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:102.0) " +
              "Gecko/20100101 Firefox/102.0"))
          .otherwise(lit("curl/7.84.0"))
        T(s, d, "orders")
          .select(col("o_orderkey"), ua.as("ua"))
          .withColumn("family",
            when(col("ua").contains("Chrome/"), "chrome")
              .when(col("ua").contains("Firefox/"), "firefox")
              .when(col("ua").contains("Version/") &&
                col("ua").contains("Safari/"), "safari")
              .when(col("ua").startsWith("curl/"), "curl")
              .otherwise("other"))
          .withColumn("major",
            when(col("family") === "chrome",
              regexp_extract(col("ua"), "Chrome/([0-9]+)", 1))
              .when(col("family") === "firefox",
                regexp_extract(col("ua"), "Firefox/([0-9]+)", 1))
              .when(col("family") === "safari",
                regexp_extract(col("ua"), "Version/([0-9]+)", 1))
              .when(col("family") === "curl",
                regexp_extract(col("ua"), "curl/([0-9]+)", 1))
              .otherwise(lit(null)).cast("long"))
          .withColumn("os",
            when(col("ua").contains("X11"), "linux")
              .when(col("ua").contains("Mac OS X"), "macos")
              .when(col("ua").contains("Windows NT"), "windows")
              .otherwise("(none)"))
          .withColumn("is_bot", col("family") === "curl")
          .select(col("o_orderkey"), col("family"), col("major"),
            col("os"), col("is_bot"))
          .orderBy(col("o_orderkey"))
      },
      "SELECT o_orderkey, " +
        "CASE o_custkey % 4 WHEN 0 THEN 'chrome' WHEN 1 THEN 'safari' " +
        "WHEN 2 THEN 'firefox' ELSE 'curl' END AS family, " +
        "CASE o_custkey % 4 WHEN 0 THEN 103 WHEN 1 THEN 15 WHEN 2 THEN 102 " +
        "ELSE 7 END::BIGINT AS major, " +
        "CASE o_custkey % 4 WHEN 0 THEN 'linux' WHEN 1 THEN 'macos' " +
        "WHEN 2 THEN 'windows' ELSE '(none)' END AS os, " +
        "o_custkey % 4 = 3 AS is_bot " +
        "FROM orders ORDER BY o_orderkey"),
  )
}
