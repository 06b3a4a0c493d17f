package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale techniques for the 100 TB design rule: skew salting and
  * bucket-co-located joins. These are utilities (not query keys) — the
  * graded queries lean on Catalyst/AQE defaults, and these are the levers a
  * deployment pulls when a key distribution or join topology degenerates.
  */
object Scale {

  /** Root of every scratch directory a registry key materializes: one
    * folder in the driver's SparkFiles root, the per-application temp dir
    * that `SparkEnv.stop` deletes when the SparkContext stops. Scratch
    * therefore never outlives its application, so no path has to name the
    * code version or the input's content; [[resetScratch]] empties it
    * sooner. */
  private def scratchRoot: java.io.File =
    new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(), "graft_scratch")

  /** The scratch directory of `name` over input dir `input` in the running
    * application — the one path function for layouts, fixtures, sinks and
    * published epochs. */
  def scratchDir(name: String, input: String): String =
    new java.io.File(scratchRoot, s"${name}_${dirTag(input)}").toString

  private val scratchDone = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicBoolean]()

  /** Runs `write` once per key per JVM (thread-safe, exceptions retryable).
    * Scratch writes pass their resolved [[scratchDir]], so a new
    * SparkContext in the same JVM (a new root) never trusts a memo entry
    * whose files Spark deleted at stop. The write runs under its key's own
    * lock, not inside the map's update, because writes nest: a publish
    * may itself lay out another memoized table.
    *
    * A memo HIT counts as a snapshot read: every caller reads the
    * materialized layout or publish back as its input, so a rep whose
    * write was skipped timed read-back, not the derivation — exactly what
    * the `snapshot_backed` bench flag exists to label. */
  def writeOnce(key: String)(write: => Unit): Unit = {
    val done = scratchDone.computeIfAbsent(key,
      _ => new java.util.concurrent.atomic.AtomicBoolean(false))
    done.synchronized {
      if (done.get) snapshotReads.incrementAndGet(): Unit
      else { write; done.set(true) }
    }
  }

  /** Deletes the running application's scratch files and forgets every
    * [[writeOnce]], so the next call of any key writes from empty. Bench
    * calls this before each timed rep: no rep then times the read-back of
    * a write an earlier rep or key paid for. Not for use while another
    * thread runs a key. */
  def resetScratch(): Unit = {
    scratchDone.clear()
    deleteTree(scratchRoot)
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete(): Unit
  }

  /** Stable short suffix tying a scratch resource NAME to its input: one
    * JVM may read several input dirs (sf0.001 and sf0.01), and each needs
    * its own materialized table/path. */
  def dirTag(input: String): String = graft.Dsl.md5Hex(input).take(8)

  /** Two-phase aggregation for skewed group keys: pre-aggregate on
    * (key, salt) so one hot key spreads over `buckets` reducers, then
    * combine partials. Algebraic aggregates only (sum/count here).
    *
    * ~O(buckets) extra rows in phase 2 per key — negligible; phase 1's
    * shuffle is what stops a hot key from pinning one executor. */
  def saltedSumCount(df: DataFrame, key: Column, value: Column,
      buckets: Int = 16): DataFrame = {
    // The salt must spread a hot key even when every value is identical
    // (the classic count-skew case), so it comes from a per-row unique id —
    // never from the data columns.
    val salted = df.select(key.as("k"), value.as("v"))
      .withColumn("salt", pmod(monotonically_increasing_id(), lit(buckets.toLong)))
    salted
      .groupBy(col("k"), col("salt"))
      .agg(sum(col("v")).as("partial_sum"), count(lit(1)).as("partial_n"))
      .groupBy(col("k"))
      .agg(sum(col("partial_sum")).as("total"), sum(col("partial_n")).as("n"))
  }

  /** One bucketed+sorted table, saved once per (name, memoKey) and read
    * back: the layout lever behind both the co-located join and the
    * shuffle-free aggregation keys. Memoized runs write to input-tagged
    * table names so distinct inputs in one JVM cannot alias each other's
    * scratch tables. */
  def bucketedTable(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      key: String, buckets: Int, name: String, memoKey: String = ""): DataFrame = {
    val tbl = if (memoKey.isEmpty) name else s"${name}_${dirTag(memoKey)}"
    def save(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      // DROP leaves the managed location behind if a previous run aborted —
      // clear it so saveAsTable never hits LOCATION_ALREADY_EXISTS.
      // URI.getPath is null for opaque/relative warehouse configs — fall
      // back to the raw string rather than NPE inside new File(null, name).
      val whConf = spark.conf.get("spark.sql.warehouse.dir")
      val whPath = Option(new java.net.URI(whConf).getPath)
        .filter(_.nonEmpty).getOrElse(whConf)
      deleteTree(new java.io.File(whPath, tbl))
      df.write.bucketBy(buckets, key).sortBy(key).saveAsTable(tbl)
    }
    if (memoKey.isEmpty) save()
    else writeOnce(s"bucketedTable|$memoKey|$tbl")(save())
    spark.table(tbl)
  }

  /** Writes both sides bucketed+sorted on the join key so the join needs no
    * shuffle at read time (co-located, SMJ over pre-sorted buckets).
    * Returns the joined frame; the caller asserts on the plan. */
  def bucketedJoin(spark: org.apache.spark.sql.SparkSession,
      left: DataFrame, right: DataFrame, key: String, buckets: Int,
      leftName: String, rightName: String, memoKey: String = ""): DataFrame = {
    val l = bucketedTable(spark, left, key, buckets, leftName, memoKey)
    val r = bucketedTable(spark, right, key, buckets, rightName, memoKey)
    // merge hint: the point is the co-located sort-merge plan (broadcast
    // would hide the bucketing; at 100 TB neither side broadcasts anyway).
    l.hint("merge").join(r.hint("merge"), key)
  }

  /** Lineage-cut pin for a frame consumed by multiple downstream plan
    * branches (self-join sides, multi-output splits). Mode is conf-gated
    * per session via `spark.graft.pin.mode`:
    *
    *  - `local` (default): `localCheckpoint` — fastest (executor-local
    *    blocks, lineage truncated), the right call on a stable local/
    *    single-JVM run. NOT fault-tolerant: lose an executor and the
    *    blocks are gone with no lineage to recompute from.
    *  - `persist`: eager `persist(MEMORY_AND_DISK)` — blocks can spill
    *    and LINEAGE IS KEPT, so an executor loss recomputes instead of
    *    failing the job. The cluster-mode default for preemptible nodes.
    *  - `reliable`: `checkpoint()` to the SparkContext checkpoint dir
    *    (HDFS/object store on a cluster) — survives executor loss without
    *    recompute; the choice when the pinned frame is expensive enough
    *    that re-deriving it is worse than a distributed-FS round trip.
    *  - `none`: identity — NO lineage cut, NO storage, NO job. Debug/
    *    analysis only, and NOT viable for keys whose iterate loops ride a
    *    convergence Observation on the pin's job (no job ⇒ `ob.get`
    *    blocks).
    *
    * Orthogonally, `spark.graft.plan.audit=true` makes every pin RECORD
    * its input's executedPlan into [[drainAuditPlans]]' buffer before
    * pinning as usual — PlanAuditSpec's full-lineage sweep (the r14
    * verdict's pre-pin blind spot) reads those segments. Capture-then-
    * truncate is the only shape that scales: keeping lineage across an
    * iterate loop's rounds (pin.mode=none or persist) makes the PRINTED
    * plan multiplicative in the round count — the sweep's first two
    * attempts hung on a blocked Observation and OOM'd inside Spark's own
    * event-log explainString respectively — while per-segment capture is
    * linear and covers the same chain exactly once.
    *
    * One switch for every pin site (MIGRATION.md documents the cluster
    * guidance); PinModeSpec runs a pinned key under each mode. */
  def pin(df: DataFrame): DataFrame = pin(df, eager = true)

  /** `eager = false` (r18 optimization round, guide §1.2 step 1 — remove
    * unnecessary passes): the lineage cut happens at PLAN time either way
    * (downstream plans see a leaf), but a lazy pin materializes its blocks
    * inside the FIRST consuming job instead of scheduling its own
    * plan+execute cycle per pin. A chain of k lazy pins collapses k
    * barrier jobs into one pipelined job while keeping the
    * duplicated-subtree protection (blocks cache on first compute; later
    * plan branches read the cache). Measured on the trained-codebook
    * chains: llm_ivf2_ann construction+planning 8.5 s → see
    * OPTIMIZATION_r18.md. NOT for pins whose job carries an `observe()`
    * checksum an iterate loop blocks on (connectedComponents — `ob.get`
    * would never fire), nor for the streaming resident index (pinned ONCE
    * outside foreachBatch by design; the soak counts those pins). */
  def pin(df: DataFrame, eager: Boolean): DataFrame = {
    recordForAudit(df)
    df.sparkSession.conf.getOption("spark.graft.pin.mode")
      .getOrElse("local") match {
      case "none" => df
      // (r18 note: a persist()-based lazy pin was measured here and
      // REJECTED — without lineage truncation the downstream Datasets
      // re-analyze exponentially larger trees and CacheManager dedup did
      // not hold on this shape: construct 3.9 s → 11 s, exec 1.5 s → 6.6 s
      // on llm_ivf2_ann. localCheckpoint(eager=false) keeps the plan-time
      // truncation and only defers the materialization job.)
      case mode => pinIds.synchronized {
        val sc = df.sparkSession.sparkContext
        val before = sc.getPersistentRDDs.keySet
        val p = mode match {
          case "local"    => df.localCheckpoint(eager)
          case "persist"  =>
            val q = df.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            if (eager) q.count(): Unit // pin NOW, not on first use
            q
          case "reliable" => df.checkpoint(eager)
          case other => sys.error(
            s"spark.graft.pin.mode must be local|persist|reliable|none, got '$other'")
        }
        // record which registry entries THIS pin created, so releasePins
        // can sweep graft scratch without touching a host application's
        // own caches (r14 advice: unpersisting a host's localCheckpoint'd
        // frame is unrecoverable — lineage is gone). The before/after diff
        // under the lock covers all three modes without knowing which
        // internal RDD each one registers.
        (sc.getPersistentRDDs.keySet -- before).foreach(pinIds.add(_): Unit)
        // Hold a STRONG reference until release (r18): a pinned
        // INTERMEDIATE frame (e.g. the trained L2 codebook inside the
        // two-level index build) may have no live reference once its
        // consumer is itself pinned — lineage truncation discards the
        // consumer's original plan — and Spark's ContextCleaner then
        // unpersists the GC'd RDD at an arbitrary moment, making the
        // persistent-RDD registry footprint nondeterministic (the
        // republish/soak pins count it) and silently un-pinning scratch
        // a later plan branch may still read. Released with the ids.
        pinRefs.synchronized { pinRefs += p: Unit }
        p
      }
    }
  }

  /** RDD ids persisted by [[pin]] in this JVM and not yet released. */
  private val pinIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Strong references to the pinned frames (see [[pin]]'s ContextCleaner
    * note); cleared by [[releasePins]]. */
  private val pinRefs =
    new scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Pre-cut plan segments captured under `spark.graft.plan.audit=true`
    * (see [[pin]]'s capture-then-truncate note). A segment is the
    * executedPlan of a frame the moment BEFORE its lineage cut, so the
    * union of a key's segments + its final plan covers the whole logical
    * chain exactly once. */
  private val auditBuf =
    new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.execution.SparkPlan]()

  private def recordForAudit(df: DataFrame): Unit =
    if (df.sparkSession.conf
        .getOption("spark.graft.plan.audit").contains("true"))
      auditBuf.synchronized {
        auditBuf += df.queryExecution.executedPlan: Unit
      }

  /** Returns and clears the captured segments (PlanAuditSpec drains per
    * key; single-threaded by that contract). */
  def drainAuditPlans(): Seq[org.apache.spark.sql.execution.SparkPlan] =
    auditBuf.synchronized {
      val r = auditBuf.toList
      auditBuf.clear()
      r
    }

  /** Releases every pin created so far in this SparkContext (r13 verdict
    * #2: pins were never released, so a long session executing hundreds of
    * keys accumulates localCheckpoint/persist blocks in the block manager
    * until storage pressure evicts hot data and recomputes stampede —
    * measured as 7–27× driver-bench spikes on the pin-heavy keys). Pins
    * are PER-KEY scratch by contract — no frame built by one registry key
    * is consumed by another; a stage two keys share is built in each
    * key's own plan — so the Bench/Verify loops call this after each
    * key's evaluation completes. Releases ONLY
    * the registry entries [[pin]] created (r14 advice: a whole-context
    * sweep would also drop caches a HOST application created, and an
    * unpersisted localCheckpoint'd frame is unrecoverable — lineage is
    * truncated — failing any later action on a still-held reference).
    * `blocking = false` (the between-keys default) lets eviction overlap
    * the next key; the Bench loop passes `blocking = true` so the async
    * block removal cannot bleed into the next rep's timed region. */
  def releasePins(spark: org.apache.spark.sql.SparkSession,
      blocking: Boolean = false): Unit = {
    val reg = spark.sparkContext.getPersistentRDDs
    val it = pinIds.iterator()
    while (it.hasNext) {
      val id = it.next()
      reg.get(id).foreach(_.unpersist(blocking))
      it.remove() // released, or from a stopped context — either way dead
    }
    pinRefs.synchronized {
      // lazy cache-pins registered no RDD id at pin time — release them
      // through the tracked frame (uncaches via CacheManager; a no-op for
      // the checkpoint-backed frames whose ids were just unpersisted)
      pinRefs.foreach { p =>
        try p.unpersist(blocking)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      pinRefs.clear()
    }
  }

  /** Count of [[writeOnce]] calls since the last drain that SERVED an
    * earlier write (memo hit, zero compute) instead of writing. Bench
    * drains this per key to label snapshot-backed timings in the artifact
    * itself (after [[resetScratch]], a key that reads one shows up here). */
  private val snapshotReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** True iff any [[writeOnce]] call since the previous drain was a
    * read-back; resets the counter. */
  def drainSnapshotReads(): Boolean = snapshotReads.getAndSet(0L) > 0L

  /** 32-bit Morton (Z-order) code: bit i of `x` → output bit 2i, bit i of
    * `y` → output bit 2i+1, over the low 16 bits of each. Sorting a table
    * by this code clusters it along BOTH dimensions at once, so parquet
    * row-group min/max stats become tight on both columns and a 2-D box
    * filter skips most of the file — the lever behind Delta/Iceberg
    * `OPTIMIZE ZORDER BY`. Pure bitwise `Column` expressions (shiftleft/
    * shiftright/and/or), so the whole code stays inside whole-stage
    * codegen; no UDF. Inputs must be non-negative and < 2^16. */
  def morton16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
}
