package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale

/** Evidence for the 100 TB levers: salting preserves aggregate semantics
  * and bucketing removes the join-time shuffle. */
class ScaleSpec extends SparkSpec {

  import spark.implicits._

  test("salted two-phase sum/count == plain groupBy (skew-safe plan)") {
    val events = T(spark, sf001, "events")
    val salted = Scale.saltedSumCount(events, $"event_type", Dsl.dec($"value"))
      .select($"k", $"total".cast("double"), $"n")
      .orderBy($"k").collect().toSeq
    val plain = events.groupBy($"event_type")
      .agg(sum(Dsl.dec($"value")).cast("double").as("total"), count(lit(1)).as("n"))
      .orderBy($"event_type").collect().toSeq
    assert(salted.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))) ==
      plain.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))))
  }

  test("dynamic partition pruning reaches a partitioned fact scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val o = T(spark, sf001, "orders").withColumn("o_year", year($"o_orderdate"))
    o.write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val fact = spark.read.parquet(dir)
    // DPP wants a FILTERED, file-backed dim side (the filter becomes the
    // runtime partition-pruning subquery on the fact scan; local relations
    // are skipped by the benefit estimator).
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    (1990 to 2005).map(y => (y, s"era_${y / 2 * 2}")).toDF("dy", "label")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.hint("broadcast").filter($"label" === "era_1996"),
      $"o_year" === $"dy")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no DPP subquery in partition filters:\n$plan")
    assert(joined.count() ==
      o.filter($"o_year".isin(1996, 1997)).count())
  }

  test("bucketed join plans without a shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh")
    val li = T(spark, sf001, "lineitem").select($"l_orderkey", $"l_quantity")
    val o = T(spark, sf001, "orders").select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    val joined = Scale.bucketedJoin(spark, li, o, "l_orderkey", 8,
      "graft_b_lineitem", "graft_b_orders")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    // and it still computes the right thing
    assert(joined.count() == li.join(o, "l_orderkey").count())
    spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    spark.sql("DROP TABLE IF EXISTS graft_b_orders")
  }

  test("bucketed aggregation plans without any exchange") {
    val ev = T(spark, sf001, "events")
      .select($"user_id", $"value", $"event_id")
    val agg = Scale.bucketedTable(spark, ev, "user_id", 8, "graft_b_ev")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    // the bucket hash distribution must satisfy the aggregation outright:
    // no shuffle of any kind between scan and final HashAggregate
    assert(!plan.contains("Exchange"),
      s"bucketed agg still shuffles:\n$plan")
    assert(agg.count() == ev.select($"user_id").distinct().count())
    spark.sql("DROP TABLE IF EXISTS graft_b_ev")
  }

  test("AQE splits a skewed join partition at runtime") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key carrying ~90% of the left side
      val left = spark.range(200000)
        .select(when($"id" % 10 === 0, lit(7L)).otherwise($"id").as("k"),
          $"id".as("payload"))
      val right = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("dim"))
      val joined = left.join(right, "k")
      // collect() (not count(), which plans its own aggregate) so THIS
      // QueryExecution runs and its adaptive plan finalizes.
      // hot key 7: 20000 (id%10==0) + id==7 itself = 20001 rows; plus
      // ids 1..999 excluding multiples of 10 and 7 = 899 rows
      assert(joined.collect().length == 20001 + 899)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew-split in final AQE plan:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("memoized scratch tables are input-dir-distinct (no cross-dir aliasing)") {
    // Same JVM, two input dirs, then BACK to the first: the third run's
    // memo hit must still read the FIRST dir's data, not the second's.
    def rows(d: String): Long =
      SparkEntry.queries("scale_bucketed_join")(spark, d).count()
    val a1 = rows(sf001)
    val b = rows(sf01)
    val a2 = rows(sf001)
    assert(a1 == a2, s"memo hit returned wrong-dir data: $a1 vs $a2")
    assert(a1 != b, "sf0.001 and sf0.01 should differ (sanity)")

    def pruned(d: String): Long =
      SparkEntry.queries("scan_partition_pruned")(spark, d).count()
    val p1 = pruned(sf001)
    val pb = pruned(sf01)
    assert(pruned(sf001) == p1 && p1 != pb)
  }

  test("range-bucket join rides a HASH join keyed on (user_id, bucket)") {
    val plan = SparkEntry.queries("scale_range_bucket_join")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the point of the rewrite: the interval residual hangs off an
    // equi-join whose key includes the time bucket, not a nested loop
    assert(!plan.contains("NestedLoop"), s"range join fell back to BNLJ:\n$plan")
    val hashJoinLine = plan.linesIterator
      .find(l => l.contains("HashJoin") && l.contains("bk"))
    assert(hashJoinLine.isDefined,
      s"no hash join keyed on the time bucket:\n$plan")
  }

  test("evt_rfm_segments_approx plans no window at all (vs the exact key's global ntile)") {
    // The exact key's ntile(4) over a partition-less ORDER BY is the one
    // single-task construct left in the registry; the approx sibling must
    // plan with NO window operator — quartiles come from broadcast
    // percentile_disc cut points and a CASE.
    val approx = SparkEntry.queries("evt_rfm_segments_approx")(spark, sf001)
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"approx RFM must not plan a window:\n$plan")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"bounds frame should broadcast:\n$plan")
    val exact = SparkEntry.queries("evt_rfm_segments")(spark, sf001)
    assert(exact.queryExecution.executedPlan.toString.contains("Window"))
    assert(approx.count() == exact.count())
  }

  test("scale_dpp_join key: runtime partition pruning reaches the fact scan") {
    val df = SparkEntry.queries("scale_dpp_join")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"scale_dpp_join's fact scan carries no DPP subquery:\n$plan")
    // and the pruned result still equals filtering the fact directly
    val expect = T(spark, sf001, "orders")
      .filter(year($"o_orderdate").isin(1996, 1997)).count()
    assert(df.agg(sum($"n_orders")).as[Long].head() == expect)
  }

  test("scale_global_ids: the partition-less window runs over bucket counts, not data rows") {
    val df = SparkEntry.queries("scale_global_ids")(spark, sf001)
    val winLines = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.size == 2, s"expected exactly 2 windows:\n${winLines.mkString("\n")}")
    // the data-row numbering must be PARTITIONED (by bucket) …
    val rn = winLines.find(_.contains("row_number()")).get
    assert(rn.contains("windowspecdefinition(bk"),
      s"row_number window is not partitioned by bk:\n$rn")
    // … and the only global (orderBy-only) window may touch the per-bucket
    // count frame (≤16 rows), never doc-level columns
    val global = winLines.find(!_.contains("row_number()")).get
    assert(global.contains("sum(cnt") && !global.contains("doc_id"),
      s"global window touches data rows:\n$global")
    // gid ≡ the naive single-task global row_number
    import org.apache.spark.sql.expressions.Window
    val naive = T(spark, sf001, "documents")
      .select($"doc_id", row_number().over(Window.orderBy($"doc_id"))
        .cast("long").as("gid"))
    assert(df.select($"doc_id", $"gid").except(naive).isEmpty)
  }

  test("scale_bloom_join key: a runtime bloom filter guards the fact scan") {
    val df = SparkEntry.queries("scale_bloom_join")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("might_contain"),
      s"no runtime bloom filter on the fact side:\n$plan")
    // the bloom filter is built from the FILTERED dim keys via a subquery
    assert(plan.toLowerCase.contains("bloom_filter_agg") ||
      plan.contains("Subquery"), s"no bloom-building subquery:\n$plan")
    // and the cloned-session thresholds must not leak into the shared session
    assert(spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .forall(_ != "1B"), "bloom-key session conf leaked into the shared session")
  }

  test("partition evolution: evolved gen prunes hour, legacy gen pushes it") {
    // The Iceberg residual-filter contract: one logical (day, hour)
    // predicate must become two-level partition pruning on the evolved
    // generation and day-pruning + a pushed DATA filter on the legacy
    // one — old files are never rewritten, so the reader carries both
    // plans forever.
    val lake = graft.operators.ScaleOps.evolvedLake(spark, sf001)
    val cell = lake.groupBy($"day", $"hour").count()
      .orderBy($"day", $"hour").head()
    val (dy, hr) = (cell.getLong(0), cell.getLong(1))
    val q = lake.filter($"day" === dy && $"hour" === hr)
    // the lake lives under the per-application scratch root, whose path
    // outruns the default 100-char location string: print it whole so
    // each scan names its generation dir
    val mx = "spark.sql.maxMetadataStringLength"
    spark.conf.set(mx, "1000")
    val chunks = try q.queryExecution.executedPlan.toString
      .split("FileScan parquet").drop(1)
    finally spark.conf.unset(mx)
    def seg(c: String, k: String): String = {
      val i = c.indexOf(k)
      assert(i >= 0, s"no $k in scan chunk:\n$c")
      c.substring(i, c.indexOf("]", i) max i)
    }
    val g0 = chunks.find(_.contains("gen=0"))
    val g1 = chunks.find(_.contains("gen=1"))
    assert(g0.nonEmpty && g1.nonEmpty,
      s"expected one scan per generation:\n${chunks.mkString("\n----\n")}")
    assert(seg(g1.get, "PartitionFilters:").contains("hour") &&
      seg(g1.get, "PartitionFilters:").contains("day"),
      "evolved generation must prune on BOTH partition levels")
    assert(seg(g0.get, "PartitionFilters:").contains("day") &&
      !seg(g0.get, "PartitionFilters:").contains("hour"),
      "legacy generation prunes day only")
    assert(seg(g0.get, "PushedFilters:").contains("hour") ||
      seg(g0.get, "DataFilters:").contains("hour"),
      "legacy generation must carry hour as a residual data filter")
    // and the rollup itself stays correct across the spec change
    assert(q.count() == cell.getLong(2))
    // generation split covers 100% of events exactly once (%10<8 ∪ %10>=8)
    val evN = T(spark, sf001, "events").count()
    assert(lake.count() == evN,
      "evolved lake must be a pure re-layout: every event exactly once")
  }

  test("scale_sorted_layout_scan: row-group stats are narrow and mostly prunable") {
    // sf0.01 (60k rows) so the demo block size yields several row groups.
    val df = SparkEntry.queries("scale_sorted_layout_scan")(spark, sf01)
    assert(df.count() > 0)
    // the date predicate must reach the parquet scan
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_shipdate"),
      s"no pushed shipdate filter on the layout scan:\n$scan")
    // footer audit: sorted TIMESTAMP_MICROS layout ⇒ INT64 stats exist and
    // most row groups lie wholly outside the 1996-H1 filter window
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = new java.io.File(graft.operators.ScaleOps.sortedLayoutDir(sf01))
      .listFiles().filter(_.getName.endsWith(".parquet"))
    val ranges = files.toSeq.flatMap { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == "l_shipdate").get
          val st = c.getStatistics
          assert(st != null && st.hasNonNullValue,
            s"no stats on l_shipdate in ${f.getName} (INT96 leak?)")
          (st.genericGetMin.asInstanceOf[Long], st.genericGetMax.asInstanceOf[Long])
        }
      } finally r.close()
    }
    assert(ranges.size >= 4, s"expected several row groups, got ${ranges.size}")
    val lo = 820454400000000L  // 1996-01-01T00:00Z micros
    val hi = 836179200000000L  // 1996-07-01T00:00Z micros
    val prunable = ranges.count { case (mn, mx) => mx < lo || mn >= hi }
    assert(prunable * 2 > ranges.size,
      s"sorted layout should let most row groups skip the 1996-H1 filter: " +
        s"$prunable of ${ranges.size}")
  }

  test("scale_zorder_scan: z-order layout prunes row groups on BOTH dimensions") {
    val df = SparkEntry.queries("scale_zorder_scan")(spark, sf01)
    assert(df.count() > 0)
    // both box predicates must reach the parquet scan
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_partkey") &&
      scan.contains("l_suppkey"),
      s"box predicates not pushed to the z-order layout scan:\n$scan")
    // footer audit: the Morton sort must leave each row group narrow on
    // BOTH columns, so most row groups fall wholly outside the 2-D box on
    // at least one axis
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = new java.io.File(graft.operators.ScaleOps.zorderLayoutDir(sf01))
      .listFiles().filter(_.getName.endsWith(".parquet"))
    val ranges = files.toSeq.flatMap { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toString), conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.toSeq.map { b =>
          def mm(name: String): (Long, Long) = {
            val st = b.getColumns.asScala
              .find(_.getPath.toDotString == name).get.getStatistics
            assert(st != null && st.hasNonNullValue, s"no stats on $name")
            (st.genericGetMin.asInstanceOf[Long],
              st.genericGetMax.asInstanceOf[Long])
          }
          (mm("l_partkey"), mm("l_suppkey"))
        }
      } finally r.close()
    }
    assert(ranges.size >= 4, s"expected several row groups, got ${ranges.size}")
    val (pLo, pHi, sLo, sHi) =
      graft.operators.ScaleOps.zorderBox(graft.T(spark, sf01, "lineitem"))
    val prunable = ranges.count { case ((pMin, pMax), (sMin, sMax)) =>
      pMax < pLo || pMin > pHi || sMax < sLo || sMin > sHi
    }
    assert(prunable * 2 > ranges.size,
      s"z-order layout should let most row groups skip the 2-D box: " +
        s"$prunable of ${ranges.size}")
  }

  test("scale_interval_bin_join: overlap join rides a hash join, not a nested loop") {
    val df = SparkEntry.queries("scale_interval_bin_join")(spark, sf01)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"),
      s"interval join fell back to a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no hash/merge join on the day bucket:\n$plan")
  }

  test("evt_active_users: WAU rides the exploded-grid equi-join, not a nested loop") {
    // The day BETWEEN gday-6 AND gday band has no equi-key, so the naive
    // formulation plans BroadcastNestedLoopJoin — O(|days| * |pairs|)
    // predicate evaluations at 100 TB. The shipped key explodes each
    // user-day pair into its <=7 grid days and equi-joins on gday.
    val df = SparkEntry.queries("evt_active_users")(spark, sf001)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"),
      s"WAU fell back to a nested-loop band join:\n$plan")
    assert(plan.contains("Generate"), // the sequence+explode grid
      s"WAU lost its exploded day grid:\n$plan")
  }

  test("scale_aqe_coalesce: AQE merges the small post-shuffle partitions") {
    val df = SparkEntry.queries("scale_aqe_coalesce")(spark, sf01)
    // collect() (not count()) so THIS QueryExecution finalizes its
    // adaptive plan and the coalesced shuffle read is visible.
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"no coalesced AQE shuffle read in final plan:\n$plan")
  }

  test("scale_skew_join key: AQE splits its hot partition in the final plan") {
    // sf0.01: the hot key carries ~15k of 60k rows — well past the key's
    // 8KB split threshold; sf0.001 partitions are too small to trip it.
    val df = SparkEntry.queries("scale_skew_join")(spark, sf01)
    // collect() (not count()) so THIS QueryExecution finalizes its
    // adaptive plan and the skew reader is visible.
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"scale_skew_join's final AQE plan shows no skew split:\n$plan")
    // and the isolated-session confs must not leak into the shared session
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "skew-key session conf leaked into the shared session")
  }

  test("scale_aqe_broadcast_switch: AQE turns the static SMJ into a broadcast join") {
    val df = SparkEntry.queries("scale_aqe_broadcast_switch")(spark, sf01)
    // collect() so THIS QueryExecution finalizes its adaptive plan
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    // static broadcast is OFF (threshold -1) in the key's cloned session,
    // so a BroadcastHashJoin in the final plan proves the runtime switch
    assert(plan.contains("BroadcastHashJoin"),
      s"AQE did not switch the join to broadcast:\n$plan")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "broadcast-switch session conf leaked into the shared session")
  }

  test("scale_compact_write: each hive partition dir holds exactly one file") {
    assert(SparkEntry.queries("scale_compact_write")(spark, sf01).count() > 0)
    val root = new java.io.File(graft.operators.ScaleOps.compactLayoutDir(sf01))
    val dirs = root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("event_type="))
    assert(dirs.nonEmpty, s"no hive partition dirs under $root")
    dirs.foreach { dir =>
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${dir.getName}: expected 1 compacted file, found ${files.length}")
    }
  }

  test("scale_exchange_reuse: second consumer rides a ReusedExchange") {
    val df = SparkEntry.queries("scale_exchange_reuse")(spark, sf001)
    // collect() so THIS QueryExecution runs and the AQE plan finalizes —
    // exchange reuse only materializes at stage scheduling time
    assert(df.collect().length == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"top/bottom consumers did not share the agg shuffle stage:\n$plan")
  }

  test("scale_rendezvous_shard: draining shard 7 moves ONLY shard 7's docs") {
    val df = SparkEntry.queries("scale_rendezvous_shard")(spark, sf001)
    val rows = df.collect().toSeq
    assert(rows.nonEmpty)
    // the HRW minimal-movement invariant: every doc whose full-ring and
    // drained-ring assignments differ must have lived on the drained shard
    val moved = rows.filter(r => r.getLong(0) != r.getLong(1))
    assert(moved.nonEmpty, "no docs lived on shard 7 — fixture too small?")
    assert(moved.forall(_.getLong(0) == 7L),
      s"docs moved off a surviving shard: $moved")
    // and the movement share is ~1/8 of the corpus, not (N-1)/N
    val total = rows.map(_.getLong(2)).sum
    val nMoved = moved.map(_.getLong(2)).sum
    assert(nMoved * 4 < total, s"moved $nMoved of $total — not minimal")
    // assignment is pure per-row math: the only shuffles are the
    // |shards|^2-bounded rollup + the final sort — the corpus itself is
    // never exchanged on doc_id (AQE prints initial+final plans, so count
    // exchange KEYS, not occurrences)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"HRW assignment shuffled the corpus on doc_id:\n$plan")
    assert(plan.contains("hashpartitioning(shard_full"),
      s"expected only the rollup shuffle:\n$plan")
  }

  test("CMS cells are mergeable: sketch(half A) + sketch(half B) == sketch(all)") {
    // the property that makes a sketch distributed-correct: cell-wise SUM
    // of independently-built partial sketches equals the whole-corpus
    // sketch, so map-side partials / per-executor sketches / cross-day
    // unions all compose without re-reading data. Rebuilds the key's cell
    // derivation inline (a pin, the CDC-spec discipline) on an event_id
    // parity split.
    import org.apache.spark.sql.functions._
    def cells(where: String) = T(spark, sf001, "events").filter(where)
      .select(col("event_type"),
        explode(array((0 until 4).map(j => lit(j)): _*)).as("rw"))
      .withColumn("bucket", expr(
        "instr('0123456789abcdef', " +
          "substr(md5(concat_ws(':', rw, event_type)), 1, 1)) - 1"))
      .groupBy(col("rw"), col("bucket")).agg(count(lit(1)).as("c"))
    val merged = cells("event_id % 2 = 0")
      .unionAll(cells("event_id % 2 = 1"))
      .groupBy(col("rw"), col("bucket")).agg(sum(col("c")).as("c"))
      .collect().map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue) -> r.getAs[Number](2).longValue).toMap
    val whole = cells("true")
      .collect().map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue) -> r.getAs[Number](2).longValue).toMap
    assert(merged == whole, "partial CMS sketches did not merge to the whole")
  }

  test("scale_manifest_prune: the manifest plans a strict subset of files") {
    val (files, total, (lo, hi)) =
      graft.operators.ScaleOps.manifestPlan(spark, sf001)
    assert(total >= 4, s"layout should produce several files, got $total")
    assert(files.nonEmpty, "pruning must keep at least one intersecting file")
    assert(files.size < total,
      s"manifest pruning skipped nothing (${files.size}/$total files read " +
        s"for bounds [$lo, $hi]) — the [30%,45%] box must not cover every range")
    // the pruned scan misses no rows: pruned+filtered ≡ direct filtered scan
    val pruned = spark.read.parquet(files: _*)
      .filter(org.apache.spark.sql.functions.col("l_orderkey").between(lo, hi))
      .count()
    val direct = graft.T(spark, sf001, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_orderkey").between(lo, hi))
      .count()
    assert(pruned == direct, s"pruned=$pruned direct=$direct")
  }

  test("agg_count_min_est: CMS estimate dominates the exact count") {
    val rows = SparkEntry.queries("agg_count_min_est")(spark, sf001)
      .collect().toSeq
    assert(rows.nonEmpty)
    // the CMS one-sided error guarantee: est >= exact, always
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      s"CMS underestimated ${r.getString(0)}: est=${r.getLong(2)} " +
        s"exact=${r.getLong(1)}"))
  }

  test("scale_cbo_reorder: stats + CBO rewrite the fact-fact-first declared order") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val withCbo = graft.operators.ScaleOps.cboQuery(spark, sf001)
    val noCbo = graft.operators.ScaleOps.cboQuery(spark, sf001, cbo = false)
    def deepestJoin(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.last
    // declared order: orders joins customer at the bottom; CBO must move
    // the selective customer-nation join down instead
    assert(deepestJoin(noCbo).toString.contains("graft_cbo_orders"),
      "negative twin: without CBO the declared fact-first order persists")
    assert(!deepestJoin(withCbo).toString.contains("graft_cbo_orders"),
      s"CBO should join customer x nation first, got:\n${deepestJoin(withCbo)}")
    // and the rewrite must not change values
    val a = withCbo.collect().map(_.toSeq).toSeq
    val b = noCbo.collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("scale_time_travel: old epoch stays pinned, uncommitted epochs rejected") {
    SparkEntry.queries("scale_time_travel")(spark, sf001).collect() // publish
    val dir = graft.operators.Scale.scratchDir("timetravel", sf001)
    val KSP = graft.streaming.KeepSetPublish
    val v0 = KSP.readEpoch(spark, dir, 0L).agg(sum("n")).head().getLong(0)
    val v1 = KSP.readLatest(spark, dir).agg(sum("n")).head().getLong(0)
    assert(v0 < v1, "the pinned old version must predate the latest")
    intercept[IllegalArgumentException](KSP.readEpoch(spark, dir, 99L))
  }

  test("scale_snapshot_expire: marker-first GC retires old epochs for good") {
    SparkEntry.queries("scale_snapshot_expire")(spark, sf001).collect()
    val dir = graft.operators.Scale.scratchDir("snapexpire", sf001)
    val KSP = graft.streaming.KeepSetPublish
    // epochs 0 and 1 are gone — dirs, markers, and reader trust
    for (e <- Seq(0L, 1L)) {
      assert(!new java.io.File(dir, s"epoch=$e").exists(), s"dir $e survives")
      assert(!new java.io.File(dir, s"epoch_$e.commit").exists(),
        s"marker $e survives")
      intercept[IllegalArgumentException](KSP.readEpoch(spark, dir, e))
    }
    // the latest epoch is intact and readable
    assert(KSP.latestEpoch(dir).contains(2L))
    assert(KSP.readLatest(spark, dir).count() > 0)
    // the tombstone ledger is replay-stable and ids are retired forever
    assert(KSP.expiredEpochs(dir) == Seq(0L, 1L))
    assert(KSP.expire(dir, 1).isEmpty, "replayed expire must be a no-op")
    intercept[IllegalArgumentException](
      KSP.publish(spark.range(1).toDF(), dir, 0L))
  }

  test("publish-style keys: after a scratch reset, a second run publishes from empty") {
    // the nine keys that publish through KeepSetPublish/UpsertSink epochs;
    // Bench resets scratch before every rep, so a rep after the first must
    // publish again instead of replaying the first one's epochs
    val root = new java.io.File(
      org.apache.spark.SparkFiles.getRootDirectory(), "graft_scratch")
    Seq("scale_time_travel", "scale_snapshot_expire", "agg_sketch_upsert",
      "llm_ann_index_upsert", "llm_ivf_index_upsert", "llm_keepset_upsert",
      "llm_pq_index_upsert", "sink_upsert_keyed", "sink_upsert_tombstone")
      .foreach { k =>
        val first = SparkEntry.queries(k)(spark, sf001).count()
        Scale.resetScratch()
        assert(!root.exists, s"$k: scratch survives the reset")
        Scale.drainSnapshotReads(): Unit
        val second = SparkEntry.queries(k)(spark, sf001).count()
        assert(!Scale.drainSnapshotReads(), s"$k: read a snapshot after the reset")
        assert(second == first, s"$k: the second publish changed the answer")
        // a replay in the same rep is still served and counted
        SparkEntry.queries(k)(spark, sf001).collect()
        assert(Scale.drainSnapshotReads(), s"$k: replay not counted")
      }
  }

  test("scratch lives under the application root, never in java.io.tmpdir") {
    val t0 = System.currentTimeMillis()
    val legacy = new java.io.File(sys.props("java.io.tmpdir"), "graft_scratch")
    def tree(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(tree)
    // one key per kind: publish-style, writeOnce layout and a flow's
    // write step, each with the scratch name it materializes
    val kinds = Seq(
      "sink_upsert_keyed" -> "upsert_k",
      "scale_sorted_layout_scan" -> "sorted_layout",
      "flow_compiled_sink_roundtrip" -> "flow_sink_roundtrip")
    kinds.foreach { case (k, _) => SparkEntry.queries(k)(spark, sf001).collect() }
    // nothing new: no entry created or written below the legacy root
    val touched = if (legacy.exists) tree(legacy).filter(_.lastModified >= t0) else Nil
    assert(touched.isEmpty, s"legacy scratch written: ${touched.take(5)}")
    val root = new java.io.File(
      org.apache.spark.SparkFiles.getRootDirectory()).getCanonicalPath
    kinds.foreach { case (k, name) =>
      val dir = new java.io.File(Scale.scratchDir(name, sf001))
      assert(dir.isDirectory, s"$k: no scratch dir $dir")
      assert(dir.getCanonicalPath.startsWith(root + java.io.File.separator),
        s"$k: $dir is not under the application root $root")
    }
  }
}
