package graft

import graft.operators.Scale

/** Pins for the conf-gated pin switch (Scale.pin / spark.graft.pin.mode)
  * and the committed-snapshot compute-once contract (Scale.snapshotOnce).
  * Cluster guidance lives in MIGRATION.md; here each mode must produce
  * the same answers and the snapshot must never recompute on replay. */
class PinModeSpec extends SparkSpec {

  private def withPinMode[A](mode: String)(body: => A): A = {
    spark.conf.set("spark.graft.pin.mode", mode)
    try body finally spark.conf.unset("spark.graft.pin.mode")
  }

  test("a pinned key returns identical rows under every pin mode") {
    // llm_simhash_hamming_join pins the signer frame feeding both
    // self-join sides — the canonical pin site.
    def run() = SparkEntry.queries("llm_simhash_hamming_join")(spark, sf001)
      .collect().toSeq
    val local = run() // default mode
    val persist = withPinMode("persist")(run())
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    val reliable = withPinMode("reliable")(run())
    // `none` = identity pin (full lineage kept): the audit mode
    // PlanAuditSpec's full-lineage sweep runs under (r15). Every pin is a
    // pure performance lever, so results must be identical without one.
    val none = withPinMode("none")(run())
    assert(persist == local, "persist mode changed results")
    assert(reliable == local, "reliable mode changed results")
    assert(none == local, "none mode changed results")
    withPinMode("bogus") {
      intercept[RuntimeException](run())
    }
  }

  test("releasePins drains graft pins; a released key re-runs clean") {
    // r13 verdict #2's regression pin: the Bench/Verify loops release every
    // pinned block after a key completes, so a long session cannot
    // accumulate localCheckpoint storage. Baseline-relative assertions:
    // releasePins is scoped to pin-created entries (r14 advice), so caches
    // other suites created outside Scale.pin are deliberately out of reach.
    Scale.releasePins(spark)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val first = SparkEntry.queries("graph_kcore_peel")(spark, sf001).count()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline).nonEmpty,
      "expected the peel to register pinned blocks")
    // ...release drains the pins it tracked (unpersist deregisters
    // immediately; block deletion may be async — blocking is the Bench
    // loop's call)...
    Scale.releasePins(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline).isEmpty,
      "releasePins must deregister every pin-created RDD")
    // ...and the key rebuilds from source afterwards, same answer (pins are
    // per-key scratch — nothing downstream may depend on a released block).
    assert(SparkEntry.queries("graph_kcore_peel")(spark, sf001).count() == first)
  }

  test("releasePins leaves a host application's own cache alone") {
    // r14 advice: the sweep used to unpersist EVERY registry entry; a host
    // app's cache — created outside Scale.pin — must survive a release
    // (an unpersisted localCheckpoint'd frame would be unrecoverable).
    val host = spark.range(100).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    host.count() // materialize so the registry entry is live
    try {
      SparkEntry.queries("graph_kcore_peel")(spark, sf001).count(): Unit
      Scale.releasePins(spark, blocking = true)
      assert(host.storageLevel.useMemory || host.storageLevel.useDisk,
        "releasePins must not unpersist a cache it did not create")
      assert(host.count() == 100)
    } finally host.unpersist(blocking = true): Unit
  }

  test("snapshotOnce computes once; replays and siblings read the commit") {
    val input = java.nio.file.Files.createTempDirectory("snap_in").toString
    var computes = 0
    def call(n: Int) = Scale.snapshotOnce(spark, "spec_probe", input) {
      computes += 1
      spark.range(n).toDF("id")
    }
    assert(call(5).count() == 5 && computes == 1)
    // second call must NOT evaluate the compute thunk — the committed
    // epoch satisfies it (so it returns the OLD 5 rows, not 9)
    assert(call(9).count() == 5 && computes == 1)
    // a sibling name sharing a prefix is its own snapshot
    val other = Scale.snapshotOnce(spark, "spec_probe_other", input) {
      spark.range(3).toDF("id")
    }
    assert(other.count() == 3)
    assert(Scale.snapshotOnce(spark, "spec_probe", input) {
      sys.error("must not recompute")
    }.count() == 5)
    assert(Scale.snapshotOnce(spark, "spec_probe_other", input) {
      sys.error("must not recompute")
    }.count() == 3)
  }
}
