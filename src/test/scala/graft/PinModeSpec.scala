package graft

import graft.operators.Scale

/** Pins for the conf-gated pin switch (Scale.pin / spark.graft.pin.mode)
  * and the per-key pin lifecycle. Cluster guidance lives in MIGRATION.md;
  * here each mode must produce the same answers, and a stage two keys
  * share must be computed by each, never read from the other. */
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

  test("consumers of a shared stage compute it: back-to-back keys read no snapshot") {
    // graph_label_prop and graph_community_stats share the label-propagation
    // rounds; each builds them in its own plan, so the second key must not
    // read anything the first one wrote
    Scale.drainSnapshotReads(): Unit
    for (k <- Seq("graph_label_prop", "graph_community_stats")) {
      assert(SparkEntry.queries(k)(spark, sf001).collect().nonEmpty, k)
      assert(!Scale.drainSnapshotReads(), s"$k read a snapshot")
      Scale.releasePins(spark)
    }
  }
}
