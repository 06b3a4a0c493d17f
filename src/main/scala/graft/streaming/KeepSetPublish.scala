package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Exactly-once snapshot publishing for the dedup KEEP-SET — the missing
  * write-back half of `llm_dedup_incremental` (which only READS an
  * existing keep-set). A daily pipeline merges yesterday's keep-set with
  * today's survivors and must publish the result so that a crashed and
  * replayed job never double-publishes or exposes a half-written
  * snapshot. Same two-phase, MARKER-LAST protocol as [[GateSink]], at the
  * batch layer:
  *
  *  1. the snapshot is written as parquet into an uncommitted
  *     `_tmp_epoch_<id>` directory;
  *  2. the temp dir is renamed to `epoch=<id>/` (one atomic directory
  *     move on POSIX) and the `epoch_<id>.commit` marker is dropped LAST.
  *     The marker holds the snapshot's schema (Spark's JSON form), so a
  *     read runs no parquet schema-inference job.
  *
  * A replay finds the marker and returns without running ANY job; a
  * crashed attempt leaves an unmarked dir that readers never trust and
  * the retry clears. Local `java.nio` ops keep the test surface hermetic;
  * a cluster deployment swaps in the Hadoop FileSystem API with the same
  * rename-last protocol.
  */
object KeepSetPublish {

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    Files.deleteIfExists(f.toPath): Unit
  }

  /** Publishes `df` as epoch `epochId` under `dir`. Returns true when this
    * call performed the publish, false when the epoch was already
    * committed (replay ⇒ no-op, no Spark job runs). */
  def publish(df: DataFrame, dir: String, epochId: Long): Boolean = {
    val root = new File(dir)
    root.mkdirs()
    // a retired id must not be re-published: a time-travel reader that
    // pinned it would silently read different data (see [[expire]])
    require(!new File(root, s"epoch_$epochId.expired").exists(),
      s"KeepSetPublish.publish: epoch $epochId was expired under $dir — " +
        "retired ids cannot be reused")
    val marker = new File(root, s"epoch_$epochId.commit")
    if (marker.exists()) return false
    val tmp = new File(root, s"_tmp_epoch_$epochId")
    deleteRecursively(tmp) // crashed attempt's temp, if any
    df.write.mode("overwrite").parquet(tmp.toString)
    // parquet writers drop _SUCCESS etc. alongside parts; the marker-last
    // protocol is ours, so strip nothing — readers go through the marker.
    val epochDir = new File(root, s"epoch=$epochId")
    // No marker ⇒ any existing epochDir is from an attempt that crashed
    // mid-rename; readers never trusted it, clearing it is safe (the
    // GateSink.commit argument, verbatim).
    deleteRecursively(epochDir)
    Files.move(tmp.toPath, epochDir.toPath, StandardCopyOption.ATOMIC_MOVE)
    Files.write(marker.toPath, df.schema.json.getBytes(StandardCharsets.UTF_8))
    true
  }

  /** The schema epoch `epochId` was published with, from its marker.
    * Fails loudly on an uncommitted epoch (an unmarked dir is a crashed
    * attempt, never data) and on a marker that holds no schema. */
  private def epochSchema(dir: String, epochId: Long): StructType = {
    val marker = new File(dir, s"epoch_$epochId.commit")
    require(marker.exists(),
      s"KeepSetPublish: epoch $epochId not committed under $dir")
    val text = new String(Files.readAllBytes(marker.toPath), StandardCharsets.UTF_8)
    scala.util.Try(DataType.fromJson(text)).toOption match {
      case Some(st: StructType) => st
      case _ => throw new IllegalStateException(
        s"KeepSetPublish: marker $marker holds no schema (a marker written " +
          "before markers carried the snapshot schema) — write the epoch " +
          "directory's schema JSON into it, or publish to a new dir")
    }
  }

  /** All committed epoch ids under `dir`, ascending — committed means the
    * marker exists; unmarked dirs are invisible. The ONE definition of the
    * marker-listing scan (latestEpoch / expire / UpsertSink audits all go
    * through it, so the marker naming has a single owner). */
  def committedEpochs(dir: String): Seq[Long] = {
    val re = "^epoch_([0-9]+)\\.commit$".r
    Option(new File(dir).listFiles()).toSeq.flatten
      .flatMap(f => re.findFirstMatchIn(f.getName).map(_.group(1).toLong))
      .sorted
  }

  /** Latest committed epoch id under `dir`, if any. */
  def latestEpoch(dir: String): Option[Long] =
    committedEpochs(dir).lastOption

  /** Reads the latest committed snapshot. Fails loudly when nothing has
    * ever committed — an empty keep-set and a missing one are different
    * states, and silently returning empty would un-dedup the next batch. */
  def readLatest(spark: SparkSession, dir: String): DataFrame = {
    val epoch = latestEpoch(dir).getOrElse(throw new IllegalStateException(
      s"KeepSetPublish.readLatest: no committed epoch under $dir"))
    readEpoch(spark, dir, epoch)
  }

  /** TIME TRAVEL (round-12): reads a SPECIFIC committed epoch — the AS OF
    * read every snapshot-versioned lake table offers. Because publishes
    * are immutable dirs gated by markers, an old epoch stays intact and
    * byte-stable while newer epochs land beside it; readers pin a version
    * and are isolated from concurrent upserts for free. Fails loudly on
    * an uncommitted epoch (an unmarked dir is a crashed attempt, never
    * data). */
  def readEpoch(spark: SparkSession, dir: String, epochId: Long): DataFrame =
    spark.read.schema(epochSchema(dir, epochId))
      .parquet(Paths.get(dir, s"epoch=$epochId").toString)

  /** RETENTION GC (round-12) — the expire_snapshots maintenance every
    * versioned lake runs, on the same marker protocol: every committed
    * epoch EXCEPT the newest `keepLast` is deleted MARKER-FIRST — the
    * exact inverse of publish's marker-last, so readers stop trusting an
    * epoch before any of its bytes vanish and a crash at any point
    * leaves either a fully-live epoch or an invisible dir (never a
    * half-trusted one). Each expiry drops an `epoch_<id>.expired`
    * tombstone so (a) the audit ledger survives replays — a re-run
    * expires nothing new and still reports the same cumulative count via
    * [[expiredEpochs]] — and (b) an expired id is recorded as retired;
    * publishing a NEW epoch under a retired id is a protocol violation
    * (time travel to it would silently read different data) and is
    * rejected by [[publish]]. Returns the ids expired by THIS call. */
  def expire(dir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1,
      s"KeepSetPublish.expire: keepLast must be >= 1, got $keepLast")
    val toExpire = committedEpochs(dir).dropRight(keepLast)
    toExpire.foreach { id =>
      Files.deleteIfExists(new File(dir, s"epoch_$id.commit").toPath): Unit
      deleteRecursively(new File(dir, s"epoch=$id"))
      Files.write(new File(dir, s"epoch_$id.expired").toPath,
        "expired\n".getBytes(StandardCharsets.UTF_8)): Unit
    }
    toExpire
  }

  /** Ids retired by [[expire]] under `dir` (the tombstone ledger). */
  def expiredEpochs(dir: String): Seq[Long] = {
    val re = "^epoch_([0-9]+)\\.expired$".r
    Option(new File(dir).listFiles()).toSeq.flatten
      .flatMap(f => re.findFirstMatchIn(f.getName).map(_.group(1).toLong))
      .sorted
  }
}
