package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** Keyed-UPSERT external-sink analogue [PK: the reference ships its events
  * to Elasticsearch/InfluxDB, where the document `_id` (ES) / series key
  * (Influx) makes redelivery idempotent: writing the same key twice leaves
  * one live document]. This is that contract on storage Spark owns:
  *
  *  - **Keyed**: the target holds AT MOST ONE live row per key; an
  *    incoming row replaces the target row iff its VERSION is higher
  *    (ES external-versioning semantics — `version_type=external`), so
  *    the final state is independent of how rows were batched or
  *    redelivered. Version order must be total per key (callers end the
  *    version columns with a unique tie-break).
  *  - **Exactly-once across replays**: each applied micro-batch publishes
  *    the merged state as a new [[KeepSetPublish]] epoch (two-phase,
  *    marker-last), keyed by the streaming `batchId`. An at-least-once
  *    upstream replaying a committed batch is a no-op BEFORE any job runs
  *    — the same short-circuit the keep-set upsert key uses.
  *
  * Scale note: this demo publishes the FULL merged state per epoch — the
  * honest local stand-in for what a lake-table MERGE does per partition.
  * At 100 TB the same protocol applies per hash-bucket of the key (only
  * buckets containing batch keys rewrite; the epoch marker then commits a
  * manifest of bucket files instead of one directory) or maps 1:1 onto
  * Delta/Iceberg MERGE INTO with `txnAppId`/`txnVersion` = batchId —
  * MIGRATION.md §sinks documents the swap. */
object UpsertSink {

  /** Applies one micro-batch: merge-by-key (higher version wins; target
    * wins ties, so re-applying identical rows is stable), publish as epoch
    * `batchId`. Returns false — touching nothing — when `batchId` or any
    * later batch already committed (replay after restart). */
  def applyBatch(dir: String, batchId: Long, batch: DataFrame,
      keyCols: Seq[String], versionCols: Seq[String]): Boolean = {
    require(keyCols.nonEmpty && versionCols.nonEmpty,
      "UpsertSink.applyBatch: key and version columns are required")
    // Replay guard on the MARKER, not just the latest epoch: a replayed
    // batch 1 while epoch 2 exists must no-op too (monotone batch ids are
    // the streaming contract, so any committed epoch >= batchId means this
    // batch's effects are already folded into the live state). One
    // listing serves the guard and the read.
    val latest = KeepSetPublish.latestEpoch(dir)
    if (latest.exists(_ >= batchId)) return false
    val spark = batch.sparkSession
    val prev: DataFrame = latest match {
      case Some(e) =>
        val stored = KeepSetPublish.readEpoch(spark, dir, e)
        // a changed batch schema would silently widen types or fail deep
        // in the union; a missing column must never read back as nulls
        if (columns(stored.schema) != columns(batch.schema))
          throw new IllegalStateException(
            s"UpsertSink: batch $batchId schema ${batch.schema.simpleString} " +
              s"differs from the stored schema ${stored.schema.simpleString} " +
              s"of epoch $e under $dir")
        stored
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], batch.schema)
    }
    // At EQUAL version the target row survives (_src: target=0 < batch=1,
    // ascending tie-break after version DESC) — ES external-versioning
    // rejects same-version writes for the same reason: a byte-identical
    // redelivery must not churn the live document.
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(versionCols.map(c => col(c).desc) :+ col("_src").asc: _*)
    val merged = prev.withColumn("_src", lit(0))
      .unionByName(batch.withColumn("_src", lit(1)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
    KeepSetPublish.publish(merged, dir, batchId)
  }

  /** Column name → type, nullability aside (parquet reads every column
    * back nullable). */
  private def columns(s: StructType): Map[String, DataType] = {
    def nullable(t: DataType): DataType = t match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, nullable(f.dataType))))
      case a: ArrayType => ArrayType(nullable(a.elementType))
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType))
      case other => other
    }
    s.fields.map(f => f.name -> nullable(f.dataType)).toMap
  }

  /** Structured Streaming wiring: `writeStream` → foreachBatch upsert.
    * The stream's batchId is the epoch id, so a checkpoint restart that
    * redelivers the last batch hits the marker and re-publishes nothing.
    *
    * FRESH-CHECKPOINT GUARD (r14 advice): batch ids are per-CHECKPOINT,
    * so pointing a new checkpoint (ids restart at 0) at an existing
    * target would make every batch hit the old epochs' replay guard and
    * no-op — silent data loss. Batch 0 arriving while an epoch > 0 is
    * committed can only mean that mismatch (one checkpoint's ids are
    * monotone, and a genuine replay of batch 0 implies nothing after
    * epoch 0 ever committed), so it fails loudly: a new checkpoint
    * requires a new target dir. Batch-layer replays that re-run a whole
    * id sequence against their own target (the sink_upsert_keyed shape)
    * call [[applyBatch]] directly and are not affected. */
  def foreachBatchUpsert(stream: DataFrame, dir: String,
      keyCols: Seq[String], versionCols: Seq[String]): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (batchId == 0L && KeepSetPublish.latestEpoch(dir).exists(_ > 0L))
        throw new IllegalStateException(
          s"UpsertSink: batch 0 arrived but '$dir' already holds epoch " +
            s"${KeepSetPublish.latestEpoch(dir).get} — this stream runs on " +
            "a FRESH checkpoint against an EXISTING target; every batch " +
            "would no-op against the old epochs (silent data loss). Point " +
            "a new checkpoint at a new target dir (or restore the old " +
            "checkpoint).")
      applyBatch(dir, batchId, batch, keyCols, versionCols): Unit
    }

  /** Live target state (latest committed epoch). Includes tombstones when
    * the stream carries them — see [[readLive]]. */
  def readState(spark: SparkSession, dir: String): DataFrame =
    KeepSetPublish.readLatest(spark, dir)

  /** Live view over a target whose rows carry an operation column
    * (`'U'` upsert / `'D'` delete — the ES delete-by-`_id` surface): a
    * delete is just a row that WINS the version merge and is then hidden
    * from readers. Tombstones stay IN the stored state on purpose — the
    * evt_cdc_apply discipline: if a delete were dropped from storage, an
    * older upsert redelivered later would beat nothing and silently
    * resurrect the key; against the retained tombstone its lower version
    * loses, and a genuinely NEWER upsert still wins and resurrects.
    * Retention GC of old tombstones is [[gcTombstones]] — and its horizon
    * must cover the upstream replay horizon (see there). */
  def readLive(spark: SparkSession, dir: String, opCol: String,
      deleteOp: String = "D"): DataFrame =
    readState(spark, dir).filter(col(opCol) =!= deleteOp)

  /** Committed epoch ids, ascending (test/audit surface) — delegates to
    * the marker protocol's owner. */
  def committedEpochs(dir: String): Seq[Long] =
    KeepSetPublish.committedEpochs(dir)

  /** TOMBSTONE RETENTION GC (r15, the r14 verdict's ask) — the compaction
    * every tombstone-keeping store runs (ES `index.gc_deletes`, Cassandra
    * `gc_grace_seconds`): publishes epoch `batchId` = current state minus
    * tombstone rows matching `expired`. A tombstone only exists to make a
    * LATE STALE upsert lose the version merge, so it may be dropped once
    * no replay can deliver one — i.e. the retention horizon `expired`
    * encodes MUST BE ≥ the upstream replay horizon. If it is not, a stale
    * upsert arriving after GC beats nothing and SILENTLY RESURRECTS the
    * deleted key — that failure mode is pinned in UpsertSinkSpec, not just
    * documented. Replay-guarded like any batch (marker short-circuit), so
    * a replayed GC is a no-op. Old EPOCH DIRS are a separate axis —
    * [[KeepSetPublish.expire]] retires those. */
  def gcTombstones(spark: SparkSession, dir: String, batchId: Long,
      opCol: String, expired: org.apache.spark.sql.Column,
      deleteOp: String = "D"): Boolean = {
    if (KeepSetPublish.latestEpoch(dir).exists(_ >= batchId)) return false
    KeepSetPublish.publish(
      readState(spark, dir).filter(!(col(opCol) === deleteOp && expired)),
      dir, batchId)
  }
}
