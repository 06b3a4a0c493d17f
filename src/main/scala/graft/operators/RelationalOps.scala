package graft.operators

import org.apache.spark.sql.functions._
import graft.{Q, T}
import graft.Dsl._

/** SURVEY.md §2.A scans/sources/sinks, §2.B projection/filter, §2.C joins,
  * §2.F sorts/limits, §2.G set operations.
  *
  * Reference semantics ([PK], tree empty — see SURVEY.md §0): gate replay,
  * field whitelist, enrich/replace mutate instructions, flow branch
  * conditions, enrich-from-table joins. Each re-expressed as a declarative
  * Spark plan so Catalyst handles pushdown/pruning/join selection.
  */
object RelationalOps {

  /** A user's forward as-of frame `[current, +∞)` in (ts, event_id) order,
    * run as the running frame of the reverse order: `(ts, event_id)` is
    * unique per user, so both frames hold the same rows, and `first` over
    * the forward frame is `last` over this one. Spark re-aggregates an
    * unbounded-following frame for every row (O(n²) per user); a running
    * frame is one pass. */
  private val forwardW = org.apache.spark.sql.expressions.Window
    .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    .rowsBetween(Long.MinValue, 0)

  val defs: Seq[(String, Q)] = Seq(

    // ---- §2.A scans --------------------------------------------------
    // NOTE on lineitem ordering, here and below: (l_orderkey, l_linenumber)
    // is NOT unique in the synthetic data (~24% dup pairs, all sfs);
    // (l_orderkey, l_linenumber, l_quantity, l_extendedprice) IS (verified
    // at sf0.001/0.01/0.1). Sorts below append enough keys that any
    // remaining tie is between identical emitted rows — round-1 passes
    // relied on both engines' sorts happening to be stable.
    "scan_parquet" -> Q(
      (s, d) => T(s, d, "lineitem").orderBy(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice")),
      "SELECT * FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"),

    "scan_projected" -> Q(
      (s, d) => T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity"),

    // Batch replay twin of the streaming rate/gate source (real streaming
    // ingestion lives in graft.streaming and its specs).
    "source_rate_stream" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id")),
      "SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id"),

    // Durable sink: write to a temp parquet dir, read it back (round-trip).
    "sink_parquet" -> Q(
      (s, d) => {
        val tmp = Scale.scratchDir("sink_parquet_events", d)
        T(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp).orderBy(col("event_id"))
      },
      "SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id"),

    // Batch twin of the foreachBatch sink: the per-batch rollup it would emit.
    "sink_foreachbatch" -> Q(
      (s, d) => T(s, d, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("event_type")),
      "SELECT event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // Keyed-UPSERT sink (r13 verdict #3) — the ES `_id` / Influx series-key
    // idempotence shape [PK: the reference's primary sinks]: three
    // micro-batches of the events table (split by event_id % 3 — NOT
    // version order, so the merge discipline is what makes the result
    // right) drive the REAL graft.streaming.UpsertSink epoch protocol,
    // upserting by user_id with external version (ts, event_id); the key
    // returns the read-back of the live target state. Every run after the
    // first in an application is a pure snapshot read (Scale.writeOnce);
    // crash/replay/restart exactly-once is pinned in
    // UpsertSinkSpec. Oracle: the pure-relational twin — each user's
    // highest-version event — which is exactly what a keyed external store
    // would hold after ANY at-least-once delivery of these events.
    "sink_upsert_keyed" -> Q(
      (s, d) => {
        import graft.streaming.UpsertSink
        val dir = Scale.scratchDir("upsert_k", d)
        // writeOnce runs the batches once per application; a failed run is
        // retried, and applyBatch's per-batch marker check resumes it at the
        // first uncommitted epoch instead of trusting a partial target.
        Scale.writeOnce(dir) {
          val ev = T(s, d, "events").select(col("user_id"), col("event_id"),
            col("ts"), col("event_type"), col("value"))
          for (b <- 0 to 2)
            UpsertSink.applyBatch(dir, b.toLong,
              ev.filter(pmod(col("event_id"), lit(3)) === b),
              keyCols = Seq("user_id"),
              versionCols = Seq("ts", "event_id")): Unit
        }
        UpsertSink.readState(s, dir)
          .select(col("user_id"), col("event_id"),
            big(unix_micros(col("ts"))).as("ts_us"),
            col("event_type"), col("value"))
          .orderBy(col("user_id"))
      },
      usEvents("SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "event_type, value FROM events " +
        "QUALIFY row_number() OVER (PARTITION BY user_id " +
        "ORDER BY ts DESC, event_id DESC) = 1 ORDER BY user_id")),

    // Tombstone variant of the keyed-upsert sink (r14) — the DELETE half
    // of the ES `_id` surface: every event carries an op ('D' when
    // event_id % 7 == 0, else 'U'); a delete is an ordinary row that WINS
    // the version merge and is hidden from the live view (readLive), while
    // the stored tombstone blocks an older redelivered upsert from
    // resurrecting the key and a genuinely newer upsert still can (the
    // evt_cdc_apply retention discipline; resurrection-blocking is pinned
    // in UpsertSinkSpec). Same three %3 batches through the same
    // applyBatch; the oracle is the relational twin — each user's
    // highest-version event, emitted only when it isn't a delete.
    "sink_upsert_tombstone" -> Q(
      (s, d) => {
        import graft.streaming.UpsertSink
        val dir = Scale.scratchDir("upsert_ts", d)
        Scale.writeOnce(dir) {
          val ev = T(s, d, "events").select(col("user_id"), col("event_id"),
            col("ts"), col("event_type"), col("value"),
            when(pmod(col("event_id"), lit(7)) === 0, lit("D"))
              .otherwise(lit("U")).as("op"))
          for (b <- 0 to 2)
            UpsertSink.applyBatch(dir, b.toLong,
              ev.filter(pmod(col("event_id"), lit(3)) === b),
              keyCols = Seq("user_id"),
              versionCols = Seq("ts", "event_id")): Unit
        }
        UpsertSink.readLive(s, dir, "op")
          .select(col("user_id"), col("event_id"),
            big(unix_micros(col("ts"))).as("ts_us"),
            col("event_type"), col("value"))
          .orderBy(col("user_id"))
      },
      usEvents("SELECT user_id, event_id, ts_us, event_type, value FROM (" +
        "SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value, " +
        "event_id % 7 = 0 AS del, row_number() OVER (PARTITION BY user_id " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) t " +
        "WHERE rn = 1 AND NOT del ORDER BY user_id")),

    // CSV source surface: schema-explicit read-back of a written extract
    // (the reference's file-tailing agent reads delimited logs [PK]).
    // ORC source surface: Spark's second native columnar format. Unlike
    // the csv/json text round-trips, every type here survives BINARY
    // exact (doubles included) — the oracle is the original table.
    "source_orc_roundtrip" -> Q(
      (s, d) => {
        val tmp = Scale.scratchDir("source_orc_supplier", d)
        T(s, d, "supplier").write.mode("overwrite").orc(tmp)
        s.read.orc(tmp).orderBy(col("s_suppkey"))
      },
      "SELECT * FROM supplier ORDER BY s_suppkey"),

    // Avro container-file round trip over the common log-pipeline wire
    // format, via graft.sources.AvroIO (the avro CORE jar ships with
    // Spark; the spark-avro connector does not in this environment, so
    // this is a distributed DataFileWriter/DataFileReader pair — one
    // container file per partition out, one task per file back).
    "source_avro_roundtrip" -> Q(
      (s, d) => {
        val tmp = Scale.scratchDir("source_avro_supplier", d)
        val sup = T(s, d, "supplier")
        graft.sources.AvroIO.write(sup, tmp)
        graft.sources.AvroIO.read(s, tmp, sup.schema)
          .orderBy(col("s_suppkey"))
      },
      "SELECT * FROM supplier ORDER BY s_suppkey"),

    // Kafka-shaped topic round trip (round-10; the r9 verdict's #1
    // missing shape): produce the events table into a partitioned-offset
    // topic directory (p=N subdirs, base-offset-named segment files,
    // keyed routing event_id % 4 — graft.streaming.GateTopic), read it
    // back WITH (partition, off) provenance. The oracle restates the
    // producer contract in SQL — partition = key mod N, offset = dense
    // rank within the partition's log order — so the hash match certifies
    // routing, log order, and offset density all at once. The streaming
    // consumer over the same layout (GateTopicSource: per-partition
    // offsets, mid-segment resume, AvailableNow backfill) is pinned in
    // GateSourceSpec.
    "source_gate_topic" -> Q(
      (s, d) => {
        val tmp = Scale.scratchDir("source_gate_topic", d)
        graft.streaming.GateTopic.write(T(s, d, "events"), tmp, 4,
          segmentRows = 1024)
        graft.streaming.GateTopic.readBatch(s, tmp)
          .orderBy(col("partition"), col("off"))
      },
      usEvents("SELECT (event_id % 4)::INT AS partition, " +
        "(ROW_NUMBER() OVER (PARTITION BY event_id % 4 ORDER BY event_id) " +
        "- 1)::BIGINT AS off, event_id, ts, user_id, event_type, value " +
        "FROM events ORDER BY partition, off")),

    // Event-time aggregation over the topic (round-10): per-(partition,
    // day) counts off GateTopic.readBatch — the BATCH TWIN of streaming
    // the same topic through the same agg (GateSourceSpec pins
    // stream ≡ batch, and pins the config-flow variant: ONE Flow spec
    // over the topic runs as backfill streaming AND as this batch shape).
    // The oracle recomputes partitions from the producer contract, so a
    // routing bug would break this key even if readBatch were
    // self-consistent.
    "stream_topic_agg" -> Q(
      (s, d) => {
        // own scratch dir (NOT source_gate_topic's): sharing would let
        // this key's rewrite race that key's lazy read of the same files
        val tmp = Scale.scratchDir("stream_topic_agg", d)
        graft.streaming.GateTopic.write(T(s, d, "events"), tmp, 4,
          segmentRows = 1024)
        graft.streaming.GateTopic.readBatch(s, tmp)
          .groupBy(col("partition"), date_trunc("DAY", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("partition"), col("day"))
      },
      usEvents("SELECT (event_id % 4)::INT AS partition, " +
        "date_trunc('day', ts) AS day, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2 ORDER BY partition, day")),

    "source_csv_roundtrip" -> Q(
      (s, d) => {
        val tmp = Scale.scratchDir("source_csv_nation", d)
        T(s, d, "nation").write.mode("overwrite")
          .option("header", "true").csv(tmp)
        s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
          .option("header", "true").csv(tmp)
          .orderBy(col("n_nationkey"))
      },
      "SELECT * FROM nation ORDER BY n_nationkey"),

    // Malformed-input CSV contract (round-10) — ingestion's first real-world
    // problem: a feed where some rows don't parse. PERMISSIVE mode must (a)
    // keep every parseable field of a bad row, (b) null only the malformed
    // field, and (c) capture the raw line in the corrupt-record column —
    // this key pins all three AT ROW LEVEL (per-key parsed values + corrupt
    // flag), so a silent fallback to DROPMALFORMED/FAILFAST semantics breaks
    // the hash. The bad rows are synthesized deterministically from nation
    // (every 5th key gets an unparseable n_regionkey), so the oracle needs
    // no CSV reader at all: it states the expected parse outcome straight
    // from the clean table. Scale: the scratch write is line-shaped and the
    // read is a plain distributed CSV scan — per-row parse, no driver state.
    "source_csv_permissive" -> Q(
      (s, d) => {
        val tmp = Scale.scratchDir("source_csv_malformed", d)
        T(s, d, "nation").select(concat_ws(",",
            col("n_nationkey"), col("n_name"),
            when(col("n_nationkey") % 5 === 0, lit("xx"))
              .otherwise(col("n_regionkey").cast("string"))).as("value"))
          .write.mode("overwrite").text(tmp)
        s.read
          .schema("n_nationkey INT, n_name STRING, n_regionkey INT, _bad STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .csv(tmp)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
            col("_bad").isNotNull.as("is_corrupt"))
          .orderBy(col("n_nationkey"))
      },
      "SELECT n_nationkey, n_name, " +
        "CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_regionkey END " +
        "AS n_regionkey, n_nationkey % 5 = 0 AS is_corrupt " +
        "FROM nation ORDER BY n_nationkey"),

    // Whole-file binary ingestion (round-10) — the `binaryFile` DSv2
    // source: one row per FILE (path, length, opaque content bytes), the
    // ingress shape for the multimodal family (mm_* keys consume binary
    // COLUMNS; this key is where such columns come from). Fixture: the
    // documents corpus is laid out as one text blob per lang
    // (sortWithinPartitions from a single upstream partition ⇒ exactly one
    // deterministically-ordered file per lang dir — the write is
    // fixture-shaped; production only READS binary files). The key emits
    // (lang, total length, md5 over the path-ordered concatenation of the
    // lang's files), and the oracle recomputes both from the documents
    // table alone — so the hash match certifies the entire
    // write→binary-read chain byte-for-byte, newlines included. The read
    // side AGGREGATES per lang (r11): if a file-splitting conf
    // (maxRecordsPerFile, codec suffixes) ever shards a lang dir into
    // several files, the within-task shard names still sort in write order
    // (part-…-c000 < c001), so the path-ordered concat — and the key —
    // stay byte-identical at any file count.
    "source_binary_files" -> Q(
      (s, d) => {
        val tmp = Scale.scratchDir("source_binary_langs", d)
        T(s, d, "documents").select(col("lang"), col("text"), col("doc_id"))
          .repartition(1)
          .sortWithinPartitions(col("lang"), col("doc_id"))
          .select(col("lang"), col("text"))
          .write.mode("overwrite").partitionBy("lang").text(tmp)
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.txt")
          .load(tmp)
          .select(
            regexp_extract(col("path"), "lang=([^/]+)/", 1).as("lang"),
            col("path"), col("length"), col("content"))
          .groupBy(col("lang"))
          .agg(sum(col("length")).as("length"),
            md5(concat_ws("",
              transform(
                array_sort(collect_list(struct(col("path"), col("content")))),
                f => f.getField("content").cast("string"))))
              .as("content_md5"))
          .orderBy(col("lang"))
      },
      "SELECT lang, " +
        "(SUM(strlen(text)) + COUNT(*))::BIGINT AS length, " + // bytes, not chars
        "md5(string_agg(text, chr(10) ORDER BY doc_id) || chr(10)) " +
        "AS content_md5 FROM documents GROUP BY lang ORDER BY lang"),

    // JSON-lines source surface (the reference's native event encoding).
    // Doubles survive: Spark writes shortest round-trip representations.
    "source_json_roundtrip" -> Q(
      (s, d) => {
        val tmp = Scale.scratchDir("source_json_part", d)
        T(s, d, "part").write.mode("overwrite").json(tmp)
        s.read.schema("p_partkey LONG, p_name STRING, p_brand STRING, " +
            "p_type STRING, p_size INT, p_retailprice DOUBLE").json(tmp)
          .select(col("p_partkey"), col("p_name"), col("p_brand"),
            col("p_type"), col("p_size"), col("p_retailprice"))
          .orderBy(col("p_partkey"))
      },
      "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice " +
        "FROM part ORDER BY p_partkey"),

    // Line-oriented text source (the reference's file-tailing agent reads
    // raw log lines [PK]): write "id<TAB>text" lines, read them back with
    // spark.read.text, re-split on the first tab. Corpus is tab-free
    // single-line text (verified: round-trip is identity).
    "source_text_roundtrip" -> Q(
      (s, d) => {
        val tmp = Scale.scratchDir("source_text_documents", d)
        T(s, d, "documents")
          .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
          .write.mode("overwrite").text(tmp)
        s.read.text(tmp)
          .select(
            split(col("value"), "\t", 2).getItem(0).cast("long").as("doc_id"),
            split(col("value"), "\t", 2).getItem(1).as("text"))
          .orderBy(col("doc_id"))
      },
      "SELECT doc_id, text FROM documents ORDER BY doc_id"),

    // Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    // each other instead of dropping (ref: enrich on an optional field).
    // nullif folds one region key to NULL on both sides so the NULL↔NULL
    // match path is actually exercised.
    "join_null_safe" -> Q(
      (s, d) => {
        val n = T(s, d, "nation")
        val r = T(s, d, "region")
        n.join(r, nullif(n("n_regionkey"), lit(2)) <=> nullif(r("r_regionkey"), lit(2)))
          .select(col("n_nationkey"), col("n_name"), col("r_name"))
          .orderBy(col("n_nationkey"), col("r_name"))
      },
      "SELECT n.n_nationkey, n.n_name, r.r_name FROM nation n JOIN region r " +
        "ON nullif(n.n_regionkey, 2) IS NOT DISTINCT FROM nullif(r.r_regionkey, 2) " +
        "ORDER BY n_nationkey, r_name"),

    // SQL-text entry path: the same engine via spark.sql over temp views
    // (TPC-H Q5 shape — local-supplier revenue per nation).
    "sql_text_star_join" -> Q(
      (s, d) => {
        Seq("region", "nation", "customer", "orders", "lineitem", "supplier")
          .foreach(t => T(s, d, t).createOrReplaceTempView(s"v_$t"))
        s.sql(
          """SELECT n.n_name,
            |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
            |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
            |  COUNT(*) AS n_lineitems
            |FROM v_customer c
            |JOIN v_orders o ON c.c_custkey = o.o_custkey
            |JOIN v_lineitem l ON o.o_orderkey = l.l_orderkey
            |JOIN v_supplier s ON l.l_suppkey = s.s_suppkey
            |JOIN v_nation n ON s.s_nationkey = n.n_nationkey
            |JOIN v_region r ON n.n_regionkey = r.r_regionkey
            |WHERE r.r_name = 'ASIA'
            |GROUP BY n.n_name
            |ORDER BY revenue DESC, n.n_name""".stripMargin)
      },
      "SELECT n.n_name, CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) " +
        "AS DECIMAL(18,4))) AS DOUBLE) AS revenue, COUNT(*) AS n_lineitems " +
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey " +
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
        "JOIN nation n ON s.s_nationkey = n.n_nationkey " +
        "JOIN region r ON n.n_regionkey = r.r_regionkey " +
        "WHERE r.r_name = 'ASIA' GROUP BY n.n_name ORDER BY revenue DESC, n.n_name"),

    // SQL-text entry #2 — windowed top-N: the analytic-SQL shape (GROUP
    // BY under a ranking window under an outer rank filter) arriving as
    // TEXT, planned by Spark's parser/Catalyst like any DataFrame query
    // (WindowGroupLimit pushes the rank filter below the exchange).
    "sql_text_window_topn" -> Q(
      (s, d) => {
        T(s, d, "events").createOrReplaceTempView("v_events")
        s.sql(
          """SELECT user_id, event_type, n, rn FROM (
            |  SELECT user_id, event_type, COUNT(*) AS n,
            |    ROW_NUMBER() OVER (PARTITION BY user_id
            |      ORDER BY COUNT(*) DESC, event_type) AS rn
            |  FROM v_events GROUP BY user_id, event_type) t
            |WHERE rn <= 2 ORDER BY user_id, rn""".stripMargin)
      },
      usEvents("SELECT user_id, event_type, n, rn FROM (" +
        "SELECT user_id, event_type, COUNT(*) AS n, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY COUNT(*) DESC, event_type) AS rn " +
        "FROM events GROUP BY user_id, event_type) t " +
        "WHERE rn <= 2 ORDER BY user_id, rn")),

    // SQL-text entry #3 — correlated scalar subquery as TEXT: orders more
    // than twice their customer's average (exact decimal sum / count, one
    // double division — the cross-engine float discipline inside SQL
    // text). Catalyst decorrelates to an aggregate + join, not a per-row
    // subquery.
    "sql_text_correlated_sub" -> Q(
      (s, d) => {
        T(s, d, "orders").createOrReplaceTempView("v_orders")
        s.sql(
          """SELECT o_orderkey, o_custkey, o_totalprice FROM v_orders o
            |WHERE o_totalprice > 2 * (
            |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4)))
            |    AS DOUBLE) / COUNT(*)
            |  FROM v_orders o2 WHERE o2.o_custkey = o.o_custkey)
            |ORDER BY o_orderkey""".stripMargin)
      },
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders o " +
        "WHERE o_totalprice > 2 * (" +
        "SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) " +
        "/ COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey) " +
        "ORDER BY o_orderkey"),

    // SQL-text entry #4 (round-9) — WITH RECURSIVE as TEXT: a hierarchy
    // walk to root (every customer's ancestor chain under the synthetic
    // parent(c) = c div 10 org-tree), planned by Spark 4's UnionLoop
    // recursion (spark.sql.cteRecursionLevelLimit guards runaways). Each
    // iteration is a keyed equi-join against the customer table and the
    // frontier SHRINKS 10x per level (depth ~ log10(customers), ~5 at
    // sf0.1 — recursion depth is hierarchy-bounded, not data-bounded, so
    // the shape survives scale). depth is cast BIGINT in the anchor so
    // both engines agree on the recursion's column types (§7.4).
    "sql_text_recursive_cte" -> Q(
      (s, d) => {
        T(s, d, "customer").createOrReplaceTempView("v_customer")
        s.sql(
          """WITH RECURSIVE walk(c_custkey, anc, depth) AS (
            |  SELECT c_custkey, c_custkey, CAST(0 AS BIGINT) FROM v_customer
            |  UNION ALL
            |  SELECT w.c_custkey, p.c_custkey div 10, w.depth + 1
            |  FROM walk w JOIN v_customer p ON p.c_custkey = w.anc
            |  WHERE w.anc >= 10
            |) SELECT c_custkey, anc AS root_id, depth
            |FROM walk WHERE anc < 10
            |ORDER BY c_custkey""".stripMargin)
      },
      "WITH RECURSIVE walk(c_custkey, anc, depth) AS (" +
        "SELECT c_custkey, c_custkey, CAST(0 AS BIGINT) FROM customer " +
        "UNION ALL SELECT w.c_custkey, p.c_custkey // 10, w.depth + 1 " +
        "FROM walk w JOIN customer p ON p.c_custkey = w.anc " +
        "WHERE w.anc >= 10) " +
        "SELECT c_custkey, anc AS root_id, depth FROM walk WHERE anc < 10 " +
        "ORDER BY c_custkey"),

    // ---- §2.B projection / filter -----------------------------------
    "project_compute" -> Q(
      (s, d) => T(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .withColumn("revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice")),
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, " +
        "l_extendedprice * (1.0 - l_discount) AS revenue FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"),

    "filter_predicate" -> Q(
      (s, d) => T(s, d, "lineitem")
        .filter(col("l_quantity") > 24 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem " +
        "WHERE l_quantity > 24 AND l_returnflag = 'R' " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity"),

    "filter_regex" -> Q(
      (s, d) => T(s, d, "part")
        .filter(col("p_type").rlike("^PROMO"))
        .select(col("p_partkey"), col("p_type"))
        .orderBy(col("p_partkey")),
      "SELECT p_partkey, p_type FROM part WHERE regexp_matches(p_type, '^PROMO') " +
        "ORDER BY p_partkey"),

    "filter_in_null" -> Q(
      (s, d) => T(s, d, "events")
        .filter(col("event_type").isin("click", "view") && col("props").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id")),
      "SELECT event_id, event_type, value, props FROM events " +
        "WHERE event_type IN ('click','view') AND props IS NOT NULL " +
        "ORDER BY event_id"),

    "drop_rename" -> Q(
      (s, d) => T(s, d, "lineitem")
        .drop("l_partkey", "l_suppkey", "l_extendedprice", "l_discount",
          "l_tax", "l_shipdate", "l_linestatus")
        .withColumnRenamed("l_orderkey", "order_id")
        .withColumnRenamed("l_quantity", "qty")
        .orderBy(col("order_id"), col("l_linenumber"), col("qty"),
          col("l_returnflag")),
      "SELECT l_orderkey AS order_id, l_linenumber, qty, l_returnflag FROM " +
        "(SELECT l_orderkey, l_linenumber, l_quantity AS qty, l_returnflag " +
        "FROM lineitem) t ORDER BY order_id, l_linenumber, qty, l_returnflag"),

    // ---- §2.C joins ---------------------------------------------------
    "join_inner_hash" -> Q(
      (s, d) => {
        val li = T(s, d, "lineitem")
        val o = T(s, d, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
            col("o_orderstatus"), col("l_quantity"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      },
      "SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_orderstatus, " +
        "l.l_quantity FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "ORDER BY l.l_orderkey, l.l_linenumber, l.l_quantity"),

    "join_left_outer" -> Q(
      (s, d) => {
        val c = T(s, d, "customer")
        val o = T(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_totalprice"))
          .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
      },
      "SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice " +
        "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey " +
        "ORDER BY c.c_custkey ASC, o.o_orderkey ASC NULLS FIRST"),

    // Full outer over two per-status rollups so BOTH sides have unmatched keys.
    "join_full_outer" -> Q(
      (s, d) => {
        val o = T(s, d, "orders")
        val a = o.filter(col("o_orderstatus") === "O").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("o_cnt")).withColumnRenamed("o_custkey", "ck_o")
        val b = o.filter(col("o_orderstatus") === "F").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("f_cnt")).withColumnRenamed("o_custkey", "ck_f")
        a.join(b, a("ck_o") === b("ck_f"), "full")
          .orderBy(coalesce(col("ck_o"), col("ck_f")))
      },
      "SELECT a.ck_o, a.o_cnt, b.ck_f, b.f_cnt FROM " +
        "(SELECT o_custkey AS ck_o, COUNT(*) AS o_cnt FROM orders " +
        " WHERE o_orderstatus = 'O' GROUP BY 1) a FULL JOIN " +
        "(SELECT o_custkey AS ck_f, COUNT(*) AS f_cnt FROM orders " +
        " WHERE o_orderstatus = 'F' GROUP BY 1) b ON a.ck_o = b.ck_f " +
        "ORDER BY COALESCE(a.ck_o, b.ck_f)"),

    // RIGHT outer — the mirror completing the outer-join family: every
    // nation row survives, null-padded where no customer slice matches.
    // The build side is the dimension, so the planner is free to
    // broadcast it even for the right join (Spark flips it to a left
    // build internally).
    "join_right_outer" -> Q(
      (s, d) => {
        val c = T(s, d, "customer").filter(col("c_acctbal") > 9000)
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_rich"))
        c.join(T(s, d, "nation"), col("c_nationkey") === col("n_nationkey"),
            "right")
          .select(col("n_nationkey"), col("n_name"), col("n_rich"))
          .orderBy(col("n_nationkey"))
      },
      "SELECT n_nationkey, n_name, n_rich FROM " +
        "(SELECT c_nationkey, COUNT(*) AS n_rich FROM customer " +
        "WHERE c_acctbal > 9000 GROUP BY 1) c " +
        "RIGHT JOIN nation ON c_nationkey = n_nationkey " +
        "ORDER BY n_nationkey"),

    "join_semi" -> Q(
      (s, d) => {
        val c = T(s, d, "customer")
        val o = T(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      "SELECT c_custkey, c_name FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) " +
        "ORDER BY c_custkey"),

    "join_anti" -> Q(
      (s, d) => {
        val c = T(s, d, "customer")
        val o = T(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) " +
        "ORDER BY c_custkey"),

    // NULL-AWARE anti join (round-10) — NOT IN's tri-state truth table,
    // which join_anti (NOT EXISTS) deliberately sidesteps: one NULL in the
    // subquery annihilates the whole result, and a NULL probe is UNKNOWN,
    // never TRUE. The three legs pin all three rows of the table with
    // counts, so a future planner change that silently falls back to
    // NOT-EXISTS semantics breaks the hash. Spark plans the single-column
    // NOT IN as a null-aware BroadcastHashJoin LeftAnti
    // (spark.sql.optimizeNullAwareAntiJoin, default on) — broadcast-sized
    // build side here, no BNLJ (PlanAuditSpec sweeps this key like every
    // other). Goes through spark.sql because the DataFrame API's left_anti
    // is NOT null-aware — the SQL surface IS the operator.
    "join_anti_null_aware" -> Q(
      (s, d) => {
        T(s, d, "events").createOrReplaceTempView("v_events_naaj")
        s.sql(
          """SELECT 'not_in_clean' AS leg, COUNT(*) AS n FROM v_events_naaj
            |WHERE user_id NOT IN
            |  (SELECT user_id FROM v_events_naaj WHERE event_type = 'error')
            |UNION ALL
            |SELECT 'not_in_null_poisoned', COUNT(*) FROM v_events_naaj
            |WHERE user_id NOT IN
            |  (SELECT CASE WHEN event_type = 'error' THEN user_id END
            |   FROM v_events_naaj WHERE event_type IN ('error', 'signup'))
            |UNION ALL
            |SELECT 'null_probe_dropped', COUNT(*) FROM v_events_naaj
            |WHERE CASE WHEN event_id % 11 = 0 THEN NULL ELSE user_id END
            |  NOT IN
            |  (SELECT user_id FROM v_events_naaj WHERE event_type = 'error')
            |ORDER BY leg""".stripMargin)
      },
      usEvents("SELECT 'not_in_clean' AS leg, COUNT(*) AS n FROM events " +
        "WHERE user_id NOT IN " +
        "(SELECT user_id FROM events WHERE event_type = 'error') " +
        "UNION ALL SELECT 'not_in_null_poisoned', COUNT(*) FROM events " +
        "WHERE user_id NOT IN " +
        "(SELECT CASE WHEN event_type = 'error' THEN user_id END " +
        "FROM events WHERE event_type IN ('error', 'signup')) " +
        "UNION ALL SELECT 'null_probe_dropped', COUNT(*) FROM events " +
        "WHERE CASE WHEN event_id % 11 = 0 THEN NULL ELSE user_id END " +
        "NOT IN (SELECT user_id FROM events WHERE event_type = 'error') " +
        "ORDER BY leg")),

    "join_broadcast" -> Q(
      (s, d) => {
        val li = T(s, d, "lineitem")
        val p = T(s, d, "part")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
            col("l_quantity"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
            col("l_quantity"))
      },
      "SELECT l.l_orderkey, l.l_linenumber, p.p_brand, l.l_quantity " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey " +
        "ORDER BY l.l_orderkey, l.l_linenumber, p.p_brand, l.l_quantity"),

    // Band self-join: same user, strictly-later event within one hour.
    // Equi-key user_id keeps it a hash/SMJ join with a range residual, not BNLJ.
    "join_theta_range" -> Q(
      (s, d) => {
        val e = T(s, d, "events")
        val a = e.select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
        val b = e.select(col("user_id").as("b_user"), col("event_id").as("b_id"),
          col("ts").as("b_ts"))
        a.join(b, col("user_id") === col("b_user") &&
            col("b_ts") > col("a_ts") &&
            col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("a_id"), col("b_id"))
          .orderBy(col("user_id"), col("a_id"), col("b_id"))
      },
      usEvents("SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id " +
        "FROM events a JOIN events b ON a.user_id = b.user_id " +
        "AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR " +
        "ORDER BY a.user_id, a_id, b_id")),

    // As-of enrich: carry the latest preceding 'error' value per user onto
    // every event (window formulation, identical in both engines).
    "join_asof" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Long.MinValue, 0)
        T(s, d, "events")
          .withColumn("last_error_value",
            last(when(col("event_type") === "error", col("value")), ignoreNulls = true)
              .over(w))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("last_error_value"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, user_id, event_type, " +
        "last_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_error_value " +
        "FROM events ORDER BY event_id")),

    // As-of enrich with a TOLERANCE (pandas/polars merge_asof's max-gap):
    // the carried error value expires once it is more than 1 hour old.
    // Same single window pass as join_asof plus a running max of error
    // timestamps (in the processed order the running max IS the last
    // error's ts) — the gap test is exact integer µs; no extra join, no
    // second shuffle.
    "join_asof_tolerance" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Long.MinValue, 0)
        T(s, d, "events")
          .withColumn("le_val",
            last(when(col("event_type") === "error", col("value")),
              ignoreNulls = true).over(w))
          .withColumn("le_us",
            max(when(col("event_type") === "error", unix_micros(col("ts"))))
              .over(w))
          .select(col("event_id"), col("user_id"), col("event_type"),
            when(col("le_us") >= unix_micros(col("ts")) - 3600000000L,
              col("le_val")).as("last_error_value_1h"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, user_id, event_type, " +
        "CASE WHEN le_us >= ts_us - 3600000000 THEN le_val END " +
        "AS last_error_value_1h FROM (" +
        "SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, " +
        "last_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS le_val, " +
        "MAX(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS le_us " +
        "FROM events) t ORDER BY event_id")),

    // Same as-of semantics through the NATIVE custom operator
    // (graft.plans.AsOfJoin: custom LogicalPlan + planner Strategy +
    // one-pass merge SparkPlan — no union, no window exec; plan asserted
    // in AsOfJoinSpec). Same oracle as join_asof: the two formulations
    // are interchangeable by construction.
    "join_asof_native" -> Q(
      (s, d) => {
        val e = T(s, d, "events")
        val errors = e.filter(col("event_type") === "error")
          .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
            col("event_id").as("r_tie"), col("value").as("r_value"))
        graft.plans.AsOfJoin(e, errors, "user_id", "ts", "event_id",
            "r_user", "r_ts", "r_tie")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("r_value").as("last_error_value"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, user_id, event_type, " +
        "last_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_error_value " +
        "FROM events ORDER BY event_id")),

    // As-of FORWARD direction (round-8 addendum; pandas/polars
    // merge_asof(direction='forward')): the EARLIEST following 'error'
    // value at-or-after each event — the mirror of join_asof's frame
    // (first_value ignore-nulls over [CURRENT ROW, UNBOUNDED FOLLOWING]).
    // Same single per-user window pass, same scale shape: one shuffle on
    // user_id, frames bounded by the per-user stream. DuckDB's native
    // ASOF JOIN is backward-only, so BOTH engines run the window
    // formulation (the join_asof precedent). Spark runs the forward frame
    // as its running mirror (see [[forwardW]]).
    "join_asof_forward" -> Q(
      (s, d) => {
        T.byKey(T(s, d, "events"), col("user_id"))
          .withColumn("next_error_value",
            last(when(col("event_type") === "error", col("value")),
              ignoreNulls = true).over(forwardW))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("next_error_value"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, user_id, event_type, " +
        "first_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_error_value " +
        "FROM events ORDER BY event_id")),

    // As-of NEAREST direction (round-8 addendum): whichever of the latest
    // preceding / earliest following 'error' is closer in event time, tie
    // → the PRECEDING one (documented rule; exact integer µs so the tie
    // test cannot wobble). Two frames over ONE window sort — the backward
    // running (max ts, carried value) and its forward mirror — then a
    // branch-free pick; still a single shuffle on user_id and no join.
    "join_asof_nearest" -> Q(
      (s, d) => {
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Long.MinValue, 0)
        T.byKey(T(s, d, "events"), col("user_id"))
          .withColumn("le_val",
            last(when(col("event_type") === "error", col("value")),
              ignoreNulls = true).over(wb))
          .withColumn("le_us",
            max(when(col("event_type") === "error", unix_micros(col("ts"))))
              .over(wb))
          .withColumn("ne_val",
            last(when(col("event_type") === "error", col("value")),
              ignoreNulls = true).over(forwardW))
          .withColumn("ne_us",
            min(when(col("event_type") === "error", unix_micros(col("ts"))))
              .over(forwardW))
          .select(col("event_id"), col("user_id"), col("event_type"),
            when(col("le_us").isNull, col("ne_val"))
              .when(col("ne_us").isNull, col("le_val"))
              .when(unix_micros(col("ts")) - col("le_us") <=
                col("ne_us") - unix_micros(col("ts")), col("le_val"))
              .otherwise(col("ne_val")).as("nearest_error_value"))
          .orderBy(col("event_id"))
      },
      usEvents("SELECT event_id, user_id, event_type, " +
        "CASE WHEN le_us IS NULL THEN ne_val " +
        "WHEN ne_us IS NULL THEN le_val " +
        "WHEN ts_us - le_us <= ne_us - ts_us THEN le_val " +
        "ELSE ne_val END AS nearest_error_value FROM (" +
        "SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, " +
        "last_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS le_val, " +
        "MAX(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS le_us, " +
        "first_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ne_val, " +
        "MIN(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ne_us " +
        "FROM events) t ORDER BY event_id")),

    // TPC-H Q3-shaped star join: customer ⋈ orders ⋈ lineitem.
    "join_multiway" -> Q(
      (s, d) => {
        val c = T(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = T(s, d, "orders")
        val li = T(s, d, "lineitem")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(li, o("o_orderkey") === li("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      "SELECT o.o_orderkey, CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) " +
        "AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey " +
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE c.c_mktsegment = 'BUILDING' GROUP BY o.o_orderkey " +
        "ORDER BY revenue DESC, o.o_orderkey LIMIT 10"),

    // ---- §2.F sorts / limits -----------------------------------------
    "sort_multi_key" -> Q(
      (s, d) => T(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderpriority").asc_nulls_last,
          col("o_totalprice").desc_nulls_last, col("o_orderkey").asc),
      "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders " +
        "ORDER BY o_orderpriority ASC NULLS LAST, o_totalprice DESC NULLS LAST, " +
        "o_orderkey ASC"),

    "topk_limit" -> Q(
      (s, d) => T(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy(col("value").desc, col("event_id"))
        .limit(20),
      "SELECT event_id, event_type, value FROM events " +
        "ORDER BY value DESC, event_id LIMIT 20"),

    // ---- §2.G set operations ------------------------------------------
    "set_union_all" -> Q(
      (s, d) => {
        val e = T(s, d, "events").select(col("event_id"), col("event_type"), col("value"))
        e.filter(col("event_type") === "click")
          .unionByName(e.filter(col("event_type") === "view"))
          .orderBy(col("event_id"))
      },
      "SELECT * FROM (" +
        "SELECT event_id, event_type, value FROM events WHERE event_type = 'click' " +
        "UNION ALL " +
        "SELECT event_id, event_type, value FROM events WHERE event_type = 'view') t " +
        "ORDER BY event_id"),

    "set_union_distinct" -> Q(
      (s, d) => {
        val o = T(s, d, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
          .union(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .distinct()
          .orderBy(col("o_custkey"))
      },
      "SELECT * FROM (" +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
        "UNION " +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t " +
        "ORDER BY o_custkey"),

    "join_cross" -> Q(
      (s, d) => T(s, d, "region").crossJoin(T(s, d, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name")),
      "SELECT r_name, n_name FROM region CROSS JOIN nation " +
        "ORDER BY r_name, n_name"),

    "set_intersect" -> Q(
      (s, d) => {
        val o = T(s, d, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
          .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .orderBy(col("o_custkey"))
      },
      "SELECT * FROM (" +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
        "INTERSECT " +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t " +
        "ORDER BY o_custkey"),

    // Symmetric difference (round-10) — the set-op family's last member:
    // customers who bought in exactly ONE of two status slices, with a
    // side tag saying which. Two EXCEPT legs unioned; each leg is the
    // proven distinct + anti-join shape, and the tag makes the output
    // self-describing for the downstream diff report.
    "set_symmetric_diff" -> Q(
      (s, d) => {
        val o = T(s, d, "orders")
        val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        val fin = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        open.except(fin).select(col("o_custkey"), lit("open_only").as("side"))
          .unionByName(fin.except(open)
            .select(col("o_custkey"), lit("finished_only").as("side")))
          .orderBy(col("o_custkey"), col("side"))
      },
      "SELECT o_custkey, side FROM (" +
        "SELECT o_custkey, 'open_only' AS side FROM (" +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' EXCEPT " +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') a " +
        "UNION ALL SELECT o_custkey, 'finished_only' FROM (" +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' EXCEPT " +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') b) t " +
        "ORDER BY o_custkey, side"),

    "set_except" -> Q(
      (s, d) => {
        val o = T(s, d, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
          .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .orderBy(col("o_custkey"))
      },
      "SELECT * FROM (" +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
        "EXCEPT " +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t " +
        "ORDER BY o_custkey"),

    // Bag (multiset) semantics: duplicates preserved per multiplicity —
    // ties under the sort are identical single-column rows, so the order
    // is total for hashing purposes.
    "set_intersect_all" -> Q(
      (s, d) => {
        val o = T(s, d, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
          .intersectAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .orderBy(col("o_custkey"))
      },
      "SELECT * FROM (" +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
        "INTERSECT ALL " +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t " +
        "ORDER BY o_custkey"),

    "set_except_all" -> Q(
      (s, d) => {
        val o = T(s, d, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
          .exceptAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .orderBy(col("o_custkey"))
      },
      "SELECT * FROM (" +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
        "EXCEPT ALL " +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t " +
        "ORDER BY o_custkey"),
  )
}
