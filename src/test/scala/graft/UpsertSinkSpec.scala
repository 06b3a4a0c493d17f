package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.UpsertSink

/** Keyed-upsert sink (r13 verdict #3 — the ES `_id`-idempotence shape):
  * at-most-one live row per key, higher external version wins, replays and
  * crash/restart leave exactly the state a single clean delivery would. */
class UpsertSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def state(dir: String): Seq[(Long, Long, String)] =
    UpsertSink.readState(spark, dir)
      .select($"k", $"v", $"payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq

  test("higher version wins; equal version keeps the target row") {
    val dir = tmpDir("upsert_vers")
    assert(UpsertSink.applyBatch(dir, 0L,
      Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "v", "payload"),
      Seq("k"), Seq("v")))
    // batch 1: key 1 advances (v=20), key 2 arrives STALE (v=5 < 10),
    // key 3 inserts
    assert(UpsertSink.applyBatch(dir, 1L,
      Seq((1L, 20L, "a2"), (2L, 5L, "stale"), (3L, 7L, "c"))
        .toDF("k", "v", "payload"),
      Seq("k"), Seq("v")))
    assert(state(dir) == Seq((1L, 20L, "a2"), (2L, 10L, "b"), (3L, 7L, "c")))
    // batch 2: same-version redelivery of key 1 with DIFFERENT payload —
    // external versioning keeps the live document (no same-version churn)
    assert(UpsertSink.applyBatch(dir, 2L,
      Seq((1L, 20L, "imposter")).toDF("k", "v", "payload"),
      Seq("k"), Seq("v")))
    assert(state(dir) == Seq((1L, 20L, "a2"), (2L, 10L, "b"), (3L, 7L, "c")))
  }

  test("final state is independent of batching (version order, not arrival)") {
    val rows = Seq((1L, 3L, "x3"), (1L, 1L, "x1"), (2L, 2L, "y2"),
      (2L, 9L, "y9"), (3L, 4L, "z4"))
    val oneShot = tmpDir("upsert_oneshot")
    assert(UpsertSink.applyBatch(oneShot, 0L,
      rows.toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    val shuffled = tmpDir("upsert_shuffled")
    // deliver in an order that puts the WINNING versions first
    assert(UpsertSink.applyBatch(shuffled, 0L,
      Seq(rows(0), rows(3)).toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    assert(UpsertSink.applyBatch(shuffled, 1L,
      Seq(rows(1), rows(2), rows(4)).toDF("k", "v", "payload"),
      Seq("k"), Seq("v")))
    assert(state(oneShot) == state(shuffled))
    assert(state(oneShot) == Seq((1L, 3L, "x3"), (2L, 9L, "y9"), (3L, 4L, "z4")))
  }

  test("replayed batch is a no-op before any job; older replays too") {
    val dir = tmpDir("upsert_replay")
    assert(UpsertSink.applyBatch(dir, 0L,
      Seq((1L, 1L, "a")).toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    assert(UpsertSink.applyBatch(dir, 1L,
      Seq((2L, 1L, "b")).toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    val before = state(dir)
    // replay of the LAST batch (checkpoint restart redelivery)
    assert(!UpsertSink.applyBatch(dir, 1L,
      Seq((9L, 9L, "junk")).toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    // replay of an OLDER batch while newer epochs exist
    assert(!UpsertSink.applyBatch(dir, 0L,
      Seq((9L, 9L, "junk")).toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    assert(state(dir) == before)
    assert(UpsertSink.committedEpochs(dir) == Seq(0L, 1L))
  }

  test("epochs read back with the marker's schema: no inference job") {
    val dir = tmpDir("upsert_schema")
    assert(UpsertSink.applyBatch(dir, 0L,
      Seq((1L, 1L, "a")).toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    val (df, rec) = Jobs.record(spark)(UpsertSink.readState(spark, dir))
    assert(rec.jobs == 0, s"reading an epoch ran ${rec.jobs} job(s)")
    assert(df.columns.toSeq == Seq("k", "v", "payload"))
  }

  test("a batch whose schema differs from the stored one fails loudly, naming both") {
    val dir = tmpDir("upsert_schema_drift")
    assert(UpsertSink.applyBatch(dir, 0L,
      Seq((1L, 1L, "a")).toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    val drifted = Seq(
      Seq((2L, 2L)).toDF("k", "v"), // a stored column is missing
      Seq((2L, 2L, "b", 1)).toDF("k", "v", "payload", "extra"),
      Seq((2L, 2, "b")).toDF("k", "v", "payload")) // v: bigint → int
    drifted.foreach { b =>
      val ex = intercept[IllegalStateException](
        UpsertSink.applyBatch(dir, 1L, b, Seq("k"), Seq("v")))
      assert(ex.getMessage.contains(b.schema.simpleString) &&
        ex.getMessage.contains("struct<k:bigint,v:bigint,payload:string>"), ex.getMessage)
    }
    assert(UpsertSink.committedEpochs(dir) == Seq(0L))
    // the same columns in another order are the same schema
    assert(UpsertSink.applyBatch(dir, 1L,
      Seq(("c", 3L, 3L)).toDF("payload", "v", "k"), Seq("k"), Seq("v")))
    assert(state(dir) == Seq((1L, 1L, "a"), (3L, 3L, "c")))
  }

  test("a marker without a schema does not load") {
    val dir = tmpDir("upsert_old_marker")
    assert(UpsertSink.applyBatch(dir, 0L,
      Seq((1L, 1L, "a")).toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    Files.write(new File(dir, "epoch_0.commit").toPath,
      "committed\n".getBytes(StandardCharsets.UTF_8))
    val ex = intercept[IllegalStateException](UpsertSink.readState(spark, dir))
    assert(ex.getMessage.contains("holds no schema"), ex.getMessage)
  }

  test("crashed unmarked epoch is invisible; the retry commits exactly once") {
    val dir = tmpDir("upsert_crash")
    assert(UpsertSink.applyBatch(dir, 0L,
      Seq((1L, 1L, "a")).toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    // crash mid-publish of batch 1: unmarked epoch dir with garbage
    val crashed = new File(dir, "epoch=1")
    crashed.mkdirs()
    Files.write(new File(crashed, "part-junk.parquet").toPath,
      "not parquet".getBytes(StandardCharsets.UTF_8))
    assert(state(dir) == Seq((1L, 1L, "a")),
      "readers must keep trusting the last committed epoch")
    // the retry merges against epoch 0 (not the garbage) and commits
    assert(UpsertSink.applyBatch(dir, 1L,
      Seq((1L, 2L, "a2")).toDF("k", "v", "payload"), Seq("k"), Seq("v")))
    assert(state(dir) == Seq((1L, 2L, "a2")))
    assert(!new File(crashed, "part-junk.parquet").exists(),
      "crashed attempt's files must not leak into the committed epoch")
  }

  test("tombstones delete, block stale resurrection, allow newer resurrection") {
    val dir = tmpDir("upsert_tomb")
    def live(): Seq[(Long, Long, String)] =
      UpsertSink.readLive(spark, dir, "op")
        .select($"k", $"v", $"payload")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sorted.toSeq
    // batch 0: two live keys
    assert(UpsertSink.applyBatch(dir, 0L,
      Seq((1L, 10L, "a", "U"), (2L, 10L, "b", "U"))
        .toDF("k", "v", "payload", "op"), Seq("k"), Seq("v")))
    // batch 1: delete key 1 at v=20 — it disappears from the live view
    assert(UpsertSink.applyBatch(dir, 1L,
      Seq((1L, 20L, "", "D")).toDF("k", "v", "payload", "op"),
      Seq("k"), Seq("v")))
    assert(live() == Seq((2L, 10L, "b")))
    // the tombstone is STORED (not dropped): a redelivered STALE upsert
    // (v=15 < 20) loses the merge and cannot resurrect the key
    assert(UpsertSink.applyBatch(dir, 2L,
      Seq((1L, 15L, "stale", "U")).toDF("k", "v", "payload", "op"),
      Seq("k"), Seq("v")))
    assert(live() == Seq((2L, 10L, "b")),
      "a stale upsert must not resurrect a deleted key")
    assert(UpsertSink.readState(spark, dir).filter($"k" === 1L).count() == 1,
      "the tombstone must remain in stored state")
    // a genuinely NEWER upsert (v=30) resurrects
    assert(UpsertSink.applyBatch(dir, 3L,
      Seq((1L, 30L, "reborn", "U")).toDF("k", "v", "payload", "op"),
      Seq("k"), Seq("v")))
    assert(live() == Seq((1L, 30L, "reborn"), (2L, 10L, "b")))
  }

  test("tombstone GC: expired tombstone opens the resurrection window; " +
      "retention >= replay horizon keeps it shut") {
    // The r14 verdict's ask: pin the DOCUMENTED retention contract, not
    // just the happy path. Two identical targets diverge only in whether
    // tombstone retention covers the upstream replay horizon (v >= 20
    // here: the replay can redeliver versions up to 15).
    def seed(dir: String): Unit = {
      assert(UpsertSink.applyBatch(dir, 0L,
        Seq((1L, 10L, "a", "U"), (2L, 10L, "b", "U"))
          .toDF("k", "v", "payload", "op"), Seq("k"), Seq("v")))
      assert(UpsertSink.applyBatch(dir, 1L,
        Seq((1L, 20L, "", "D")).toDF("k", "v", "payload", "op"),
        Seq("k"), Seq("v")))
    }
    def live(dir: String): Seq[(Long, Long, String)] =
      UpsertSink.readLive(spark, dir, "op")
        .select($"k", $"v", $"payload")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sorted.toSeq

    // (a) retention TOO SHORT (expire everything: horizon 0 < replay
    // horizon): the late stale upsert v=15 beats nothing and SILENTLY
    // RESURRECTS the deleted key — the failure mode the doc warns about.
    val short = tmpDir("upsert_gc_short")
    seed(short)
    assert(UpsertSink.gcTombstones(spark, short, 2L, "op", expired = lit(true)))
    assert(UpsertSink.readState(spark, short).filter($"k" === 1L).count() == 0,
      "GC must drop the expired tombstone from stored state")
    assert(UpsertSink.applyBatch(short, 3L,
      Seq((1L, 15L, "stale", "U")).toDF("k", "v", "payload", "op"),
      Seq("k"), Seq("v")))
    assert(live(short) == Seq((1L, 15L, "stale"), (2L, 10L, "b")),
      "retention < replay horizon must exhibit the documented resurrection")

    // (b) retention COVERS the horizon (only tombstones with v < 20
    // expire; ours is v = 20): the same stale upsert still loses.
    val ok = tmpDir("upsert_gc_ok")
    seed(ok)
    assert(UpsertSink.gcTombstones(spark, ok, 2L, "op", expired = $"v" < 20L))
    assert(UpsertSink.readState(spark, ok).filter($"k" === 1L).count() == 1,
      "an in-horizon tombstone must survive GC")
    assert(UpsertSink.applyBatch(ok, 3L,
      Seq((1L, 15L, "stale", "U")).toDF("k", "v", "payload", "op"),
      Seq("k"), Seq("v")))
    assert(live(ok) == Seq((2L, 10L, "b")),
      "with retention >= replay horizon the stale upsert must stay dead")
    // replayed GC is an ordinary replayed batch: marker short-circuit
    assert(!UpsertSink.gcTombstones(spark, ok, 2L, "op", expired = lit(true)))
    assert(UpsertSink.readState(spark, ok).filter($"k" === 1L).count() == 1)
  }

  test("fresh checkpoint against an existing target fails loudly, not no-ops") {
    // r14 advice: batch ids are per-checkpoint; a NEW checkpoint restarts
    // at 0, so against a target holding epoch > 0 every batch would no-op
    // against the old epochs — silent data loss. The sink must refuse.
    val out = tmpDir("upsert_fresh_out")
    def run(cp: String, maxRows: Long): Unit = {
      val q = UpsertSink.foreachBatchUpsert(
        spark.readStream.format("graft.streaming.GateSource")
          .option("rowsPerBatch", 100).option("maxRows", maxRows)
          .option("numPartitions", 2).load(),
        out, keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"))
        .option("checkpointLocation", cp).start()
      try { q.processAllAvailable(); () } finally { q.stop() }
    }
    run(tmpDir("upsert_fresh_cp1"), 300) // commits epochs 0..2
    assert(UpsertSink.committedEpochs(out).max > 0)
    val before = UpsertSink.committedEpochs(out)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(tmpDir("upsert_fresh_cp2"), 300) // FRESH checkpoint, same target
    }
    assert(e.getCause.getMessage.contains("FRESH checkpoint"),
      s"unexpected failure: ${e.getCause}")
    assert(UpsertSink.committedEpochs(out) == before,
      "the refused stream must not have touched the target")
  }

  test("PROPERTY: any rows, any batching — live state is the per-key version winner") {
    // The PropertySpec discipline (hand-rolled deterministic generation —
    // no scalacheck bridge offline): for many random row sets, random
    // batch splits, and random tombstone placement, the live view must
    // equal the relational winner-per-key (max (version, -src-order)
    // row, deletes hidden) — i.e. delivery shape NEVER affects state.
    (1 to 12).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 1 + rnd.nextInt(40)).map { i =>
        (rnd.nextInt(6).toLong, // key (collisions on purpose)
          rnd.nextInt(20).toLong * 2, // version (even ⇒ ties impossible
          // across distinct rows of one key only when payloads differ —
          // the tie rule is target-wins, so ties must be SAME logical row;
          // unique-ify by folding i into the version's low bit)
          s"p$i",
          if (rnd.nextInt(5) == 0) "D" else "U")
      }.zipWithIndex.map { case ((k, v, p, op), i) => (k, v + (i % 2), p, op) }
        // one winner per (k, v): drop later duplicates of the same version
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val dir = tmpDir(s"upsert_prop_$seed")
      // random contiguous batch split (1..4 batches), arrival order shuffled
      val shuffled = rnd.shuffle(rows)
      val nBatches = 1 + rnd.nextInt(4)
      val per = math.max(1, shuffled.size / nBatches)
      shuffled.grouped(per).zipWithIndex.foreach { case (chunk, b) =>
        UpsertSink.applyBatch(dir, b.toLong,
          chunk.toDF("k", "v", "payload", "op"), Seq("k"), Seq("v")): Unit
      }
      val live = UpsertSink.readLive(spark, dir, "op")
        .select($"k", $"v", $"payload")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sorted.toSeq
      // relational winner: per key, the max-version row; hidden if delete
      val want = rows.groupBy(_._1).toSeq.flatMap { case (_, g) =>
        val w = g.maxBy(_._2)
        if (w._4 == "D") None else Some((w._1, w._2, w._3))
      }.sorted
      assert(live == want, s"seed=$seed: live=$live want=$want")
    }
  }

  test("streaming kill/restart: no dup, no loss, state equals the relational twin") {
    val out = tmpDir("upsert_stream_out")
    val cp = tmpDir("upsert_stream_cp")
    def run(maxRows: Long): Unit = {
      val q = UpsertSink.foreachBatchUpsert(
        spark.readStream.format("graft.streaming.GateSource")
          .option("rowsPerBatch", 100).option("maxRows", maxRows)
          .option("numPartitions", 4).load(),
        out, keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"))
        .option("checkpointLocation", cp).start()
      q.processAllAvailable()
      q.stop()
    }
    run(300) // first run, then the job "dies"
    run(600) // restart from the same checkpoint: batch replays must no-op
    // relational twin over a clean one-shot replay of the same source
    val replay = spark.readStream.format("graft.streaming.GateSource")
      .option("rowsPerBatch", 600).option("maxRows", 600)
      .option("numPartitions", 4).load()
      .writeStream.outputMode("append").format("memory")
      .queryName("upsert_twin").start()
    replay.processAllAvailable()
    replay.stop()
    val expected = spark.table("upsert_twin")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
          .orderBy($"ts".desc, $"event_id".desc)))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = UpsertSink.readState(spark, out)
      .select($"user_id", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == expected)
    assert(got.map(_._1).distinct.size == got.size,
      "at most one live row per key")
  }
}
