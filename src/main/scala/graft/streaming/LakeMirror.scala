package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sink.{LakeTable, MergeWriter}

/** Continuous lake-to-lake replication: any table this library can tail
  * (`graft-delta` / `graft-iceberg` / `graft-hudi`) mirrored into a
  * graft lake table, a REAL Iceberg table, or a REAL Hudi COW table
  * over its streaming change feed.
  *
  * Per micro-batch: change rows `(version, change_type, row-json)` are
  * parsed ONCE against the user schema (localCheckpointed — counts and
  * both merge inputs derive from the same materialization, no repeated
  * json re-parse of the batch), elected LATEST-PER-KEY by source
  * version with the change classes ranked so the post-state wins a
  * same-version tie (`update_preimage` < `delete` < insert/upsert/
  * `update_postimage`), and applied as one keyed commit. The election
  * is version-aware in BOTH directions: a delete at v6 beats an upsert
  * at v5 of the same key even when one admitted batch spans both
  * versions (a version-blind "drop deletes whose key is upserted"
  * would resurrect the row).
  *
  * Exactly-once across checkpointed at-least-once replay:
  *  - graft target: [[MergeWriter]]'s idempotent keyed merges with the
  *    source VERSION as the precombine.
  *  - Iceberg / Hudi targets: commit identities (snapshot ids /
  *    timeline instants) derive from a PER-STREAM identity (hash of the
  *    caller's `streamId` — the checkpoint path in [[LakeMirrorApp]])
  *    plus the epoch, so two streams mirroring into one target cannot
  *    collide, and a replayed epoch's duplicate id is refused by the
  *    committer BEFORE any byte is written. An epoch BEHIND what this
  *    stream already mirrored fails loudly — that is a restarted
  *    checkpoint (epochs reset to 0), and silently skipping those
  *    batches as "replays" would drop live data.
  *
  * Scale shape: everything is per-batch DataFrame work — json parse is
  * a codegen projection, the election a map-side `max_by` aggregate,
  * a graft-lake replica takes one keyed commit per batch (one delta
  * commit on MOR, one rewrite on COW), and the tails'
  * `maxFilesPerTrigger` bounds a batch, so a backfill of a 10⁶-file
  * history streams through bounded increments. */
object LakeMirror {

  /** change classes admitted as upserts across the three tails. */
  private val UpsertTypes = Seq("insert", "upsert", "update_postimage")

  /** One codegen projection: change rows parsed against the user schema. */
  private def parseChanges(batch: DataFrame, rowSchema: StructType): DataFrame =
    batch
      .select(col("version"), col("change_type"),
        from_json(col("row"), rowSchema).as("r"))
      .select(Seq(col("version"), col("change_type")) ++
        rowSchema.fieldNames.toSeq.map(n => col(s"r.`$n`")): _*)

  /** Latest change per key by (version, class rank): within one version
    * a rewrite emits delete+insert and a CDF update pre+postimage for
    * the SAME key — the post-state wins the tie; across versions the
    * higher version wins outright. */
  private def electLatest(parsed: DataFrame, keyNames: Seq[String]): DataFrame = {
    val rank = when(col("change_type") === "update_preimage", 0)
      .when(col("change_type") === "delete", 1)
      .otherwise(2) // insert / upsert / update_postimage
    MergeWriter.latestByKey(parsed, keyNames, Seq(col("version"), rank))
  }

  /** Apply one micro-batch of change rows to the graft-lake replica as
    * ONE keyed commit ([[MergeWriter.applyChanges]]). */
  def applyBatch(spark: SparkSession, batch: DataFrame, lake: LakeTable,
                 rowSchema: StructType): Unit = {
    val parsed = parseChanges(batch, rowSchema).localCheckpoint(false)
    val latest = electLatest(parsed, lake.recordKeyFields).localCheckpoint(false)
    val ups = latest.where(col("change_type").isin(UpsertTypes: _*))
      .drop("change_type")
    val dels = latest.where(col("change_type") === "delete")
    MergeWriter.applyChanges(spark, lake, Some(ups), Some(dels))
  }

  /** Per-stream identity hash (20 bits): the namespace that keeps two
    * mirror streams' commit ids apart in one target table. */
  private def streamHash(streamId: String): Long =
    java.lang.Math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(streamId, 0x6d697272), 1 << 20)
      .toLong

  /** Iceberg snapshot id for (stream, epoch): stream hash in the high
    * bits, `2*epoch` (+1 for the delete commit) in the low 32. */
  private[streaming] def icebergSnapshotId(streamId: String, epochId: Long): Long = {
    require(epochId >= 0 && epochId < (1L << 31), s"epoch $epochId out of range")
    ((streamHash(streamId) + 1L) << 32) | (epochId * 2)
  }

  /** Hudi instant for (stream, epoch): 18 digits, `9` + 5-digit stream
    * hash + 12-digit `2*epoch` (+1 for the delete commit) — numeric,
    * lexicographically monotone in epoch within one stream, and above
    * any real 17-digit Hudi timestamp. */
  private[streaming] def hudiInstant(streamId: String, epochId: Long): String = {
    require(epochId >= 0 && epochId * 2 < 1000000000000L,
      s"epoch $epochId out of range")
    f"9${streamHash(streamId) % 100000}%05d${epochId * 2}%012d"
  }

  /** Fail loudly when `epochId` is BEHIND the newest epoch this stream
    * already mirrored into the target (`maxMirrored` = the largest
    * already-committed epoch for this stream, None when the stream has
    * never written): a replay of the LAST epoch is normal (foreachBatch
    * retries exactly that one and the committer skips it); anything
    * older means the CHECKPOINT was reset and silently treating live
    * batches as replays would drop data. */
  private def guardEpochRegression(target: String, streamId: String,
                                   epochId: Long,
                                   maxMirrored: Option[Long]): Unit =
    maxMirrored.filter(_ > epochId).foreach { m =>
      throw new IllegalStateException(
        s"mirror stream '$streamId' into $target: incoming epoch $epochId " +
          s"is behind already-mirrored epoch $m — the checkpoint was reset " +
          "(or reused for a different source); refusing to silently skip " +
          "live batches as replays. Resume with the original checkpoint, " +
          "or mirror into a fresh target / with a new streamId.")
    }

  /** Apply one micro-batch INTO AN ICEBERG TABLE — continuous
    * format-to-format replication (the XTable idea as a live stream):
    * changes are elected latest-per-key by source version, upserts land
    * through [[graft.sink.IcebergWrite.upsert]] (equality-delete + data
    * at one sequence number) and hard deletes through
    * [[graft.sink.IcebergWrite.deleteKeys]]. Exactly-once across
    * replays comes from snapshot-id idempotence: each (stream, epoch)
    * commits deterministic snapshot ids, a replayed epoch's duplicate
    * id is refused by the committer and SKIPPED here, and an epoch
    * REGRESSION (reset checkpoint) fails loudly. */
  def applyBatchIceberg(spark: SparkSession, batch: DataFrame, target: String,
                        keyNames: Seq[String],
                        fields: Seq[(Int, String, String)],
                        rowSchema: StructType, epochId: Long,
                        streamId: String = ""): Unit = {
    import graft.sink.IcebergWrite
    val upsertSnap = icebergSnapshotId(streamId, epochId)
    val streamBase = upsertSnap >> 32 // stream namespace (hash + 1)
    guardEpochRegression(target, streamId, epochId,
      maxMirroredIcebergEpoch(spark, target, streamBase))
    val parsed = parseChanges(batch, rowSchema).localCheckpoint(false)
    val latest = electLatest(parsed, keyNames).localCheckpoint(false)
    val ups = latest.where(col("change_type").isin(UpsertTypes: _*))
      .drop("version", "change_type")
      .select(rowSchema.fieldNames.toSeq.map(col): _*)
    val dels = latest.where(col("change_type") === "delete")
      .select(keyNames.map(col): _*)
    // upsert/deleteKeys skip replayed snapshot ids BEFORE writing bytes
    if (!ups.isEmpty)
      IcebergWrite.upsert(ups, target, keyNames, fields,
        snapshotId = upsertSnap, sequenceNumber = upsertSnap): Unit
    if (!dels.isEmpty)
      IcebergWrite.deleteKeys(dels, target, keyNames, fields,
        snapshotId = upsertSnap + 1, sequenceNumber = upsertSnap + 1): Unit
  }

  /** Largest epoch this stream namespace already committed to `target`
    * (None for a fresh target / stream) — one metadata read. */
  private def maxMirroredIcebergEpoch(spark: SparkSession, target: String,
                                      streamBase: Long): Option[Long] = {
    val hint = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(target, "metadata"), "version-hint.text")
    val fs = hint.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hint)) return None
    graft.sources.IcebergRead.snapshotManifests(spark, target)
      .map(_.id).filter(id => (id >> 32) == streamBase)
      .map(id => (id & 0xffffffffL) / 2).maxOption
  }

  /** Apply one micro-batch INTO A REAL-LAYOUT DELTA TABLE — the fourth
    * target next to the graft lake, Iceberg, and Hudi, closing any→any
    * across all four layouts: latest-per-key election, then ONE keyed
    * [[graft.sink.DeltaWrite.merge]] commit per epoch (upserts +
    * deletes together, MERGE-class cdc emission on, so the replica is
    * itself CDF-tailable — chains compose through a Delta middle too).
    * Exactly-once rides Delta's OWN SetTransaction mechanism: the appId
    * derives from the stream identity, a replayed epoch is skipped
    * before any byte is written, and an epoch behind the watermark
    * fails loudly (reset checkpoint) — the guard lives in the
    * committer. A first batch against a bare path creates the table. */
  def applyBatchDelta(spark: SparkSession, batch: DataFrame, target: String,
                      keyNames: Seq[String], rowSchema: StructType,
                      epochId: Long, streamId: String = ""): Unit = {
    import graft.sink.DeltaWrite
    val parsed = parseChanges(batch, rowSchema).localCheckpoint(false)
    val latest = electLatest(parsed, keyNames).localCheckpoint(false)
    val ups = latest.where(col("change_type").isin(UpsertTypes: _*))
      .select(rowSchema.fieldNames.toSeq.map(col): _*)
    val dels = latest.where(col("change_type") === "delete")
      .select(keyNames.map(col): _*)
    val log = new org.apache.hadoop.fs.Path(target, "_delta_log")
    if (!log.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(log))
      DeltaWrite.create(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), rowSchema),
        target, Nil)
    DeltaWrite.merge(ups, dels, target, keyNames,
      appId = s"graft-mirror-$streamId", txnVersion = epochId): Unit
  }

  /** Apply one micro-batch INTO A REAL-LAYOUT HUDI COW TABLE — the
    * third target next to the graft lake and Iceberg: latest-per-key
    * election like [[applyBatchIceberg]], upserts through
    * [[graft.sink.HudiCowWrite.upsert]] and hard deletes through
    * [[graft.sink.HudiCowWrite.deleteKeys]]; exactly-once from the
    * timeline's instant-uniqueness (deterministic per-(stream, epoch)
    * instants, replays skipped before any byte is written, epoch
    * regressions loud). `partitionField` routes rows into hive-style
    * partitions via [[graft.sink.HudiCowWrite.upsertPartitioned]] (the
    * CDC rows must carry the partition column — deletes too). */
  def applyBatchHudi(spark: SparkSession, batch: DataFrame, target: String,
                     keyCol: String, rowSchema: StructType,
                     epochId: Long, partition: String = "part=0",
                     streamId: String = "",
                     partitionField: Option[String] = None): Unit = {
    import graft.sink.HudiCowWrite
    val upsertInstant = hudiInstant(streamId, epochId)
    guardEpochRegression(target, streamId, epochId,
      maxMirroredHudiEpoch(spark, target, upsertInstant.take(6)))
    val parsed = parseChanges(batch, rowSchema).localCheckpoint(false)
    val latest = electLatest(parsed, Seq(keyCol))
      .localCheckpoint(false)
    val ups = latest.where(col("change_type").isin(UpsertTypes: _*))
      .select(rowSchema.fieldNames.toSeq.map(col): _*)
    val dels = latest.where(col("change_type") === "delete")
    val delInstant = (BigInt(upsertInstant) + 1).toString
    partitionField match {
      case Some(pf) =>
        if (!ups.isEmpty)
          HudiCowWrite.upsertPartitioned(ups, target, keyCol, pf,
            upsertInstant): Unit
        if (!dels.isEmpty)
          HudiCowWrite.deleteKeysPartitioned(
            dels.select(col(keyCol), col(pf)), target, keyCol, pf,
            delInstant): Unit
      case None =>
        if (!ups.isEmpty)
          HudiCowWrite.upsert(ups, target, keyCol, upsertInstant,
            partition): Unit
        if (!dels.isEmpty)
          HudiCowWrite.deleteKeys(dels.select(col(keyCol)), target, keyCol,
            delInstant, partition): Unit
    }
  }

  /** Apply one micro-batch INTO A REAL-LAYOUT HUDI MOR TABLE — the
    * PRODUCTION Hudi streaming-ingest shape (`MERGE_ON_READ` +
    * deltacommits): the elected batch lands as ONE log-block delta
    * commit, no base rewrite
    * ([[graft.sink.HudiMorWrite.appendLogDistributed]] — executor-side
    * block writes, one task per touched partition), with deletes as
    * `_hoodie_is_deleted` tombstone rows that the merge-on-read
    * election honours (a later re-insert wins). Run
    * [[graft.sink.HudiCompact]] periodically to fold logs into bases.
    * Exactly-once like [[applyBatchHudi]]: per-(stream, epoch)
    * instants, replays skipped on the timeline, epoch regressions
    * loud. `partitionField` routes rows into hive-style partition
    * directories (the column STAYS in the payload — MOR log records
    * carry full rows). */
  def applyBatchHudiMor(spark: SparkSession, batch: DataFrame, target: String,
                        keyCol: String, rowSchema: StructType,
                        epochId: Long, streamId: String = "",
                        partitionField: Option[String] = None): Unit = {
    import graft.sink.HudiMorWrite
    val instant = hudiInstant(streamId, epochId)
    guardEpochRegression(target, streamId, epochId,
      maxMirroredHudiEpoch(spark, target, instant.take(6)))
    val parsed = parseChanges(batch, rowSchema).localCheckpoint(false)
    val latest = electLatest(parsed, Seq(keyCol))
    val partDir = partitionField match {
      case Some(pf) => concat(lit(s"$pf="),
        when(col(pf).isNull, raise_error(lit(
          s"applyBatchHudiMor: null $pf value"))).otherwise(col(pf).cast("string")))
      case None => lit("part=0")
    }
    val rows = latest
      .withColumn("_hoodie_is_deleted", col("change_type") === "delete")
      .withColumn("_hoodie_record_key", col(keyCol).cast("string"))
      .withColumn("_hoodie_commit_time", lit(instant))
      .withColumn("__mor_part", partDir)
      .select(Seq(col("_hoodie_record_key"), col("_hoodie_commit_time"),
        col("_hoodie_is_deleted"), col("__mor_part")) ++
        rowSchema.fieldNames.toSeq.map(col): _*)
    if (!rows.isEmpty)
      HudiMorWrite.appendLogDistributed(rows, target, "__mor_part",
        instant): Unit
  }

  /** Largest epoch this stream prefix already committed to the Hudi
    * target's timeline (None for a fresh table / stream). */
  private def maxMirroredHudiEpoch(spark: SparkSession, target: String,
                                   prefix: String): Option[Long] = {
    val hoodie = new org.apache.hadoop.fs.Path(target, ".hoodie")
    val fs = hoodie.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hoodie)) return None
    graft.sources.HudiRead.completedInstants(spark, target)
      .filter(i => i.length == 18 && i.startsWith(prefix))
      .map(_.drop(6).toLong / 2).maxOption
  }

  /** Start the mirror stream. `format` is `delta`/`iceberg`/`hudi`;
    * `sourceOptions` pass through to the tail (`maxFilesPerTrigger`,
    * `startingVersion`, ...). `availableNow` drains the backlog to the
    * pinned tip and finishes (backfill); otherwise a processing-time
    * trigger keeps following the source. */
  def start(spark: SparkSession, format: String, source: String,
            lake: LakeTable, rowSchema: StructType, checkpoint: String,
            sourceOptions: Map[String, String] = Map.empty,
            availableNow: Boolean = false,
            triggerSeconds: Int = 60): StreamingQuery = {
    require(Seq("delta", "iceberg", "hudi").contains(format),
      s"unsupported mirror format '$format' (delta|iceberg|hudi)")
    val stream = spark.readStream.format(s"graft-$format")
      .option("path", source).options(sourceOptions).load()
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(s"$triggerSeconds seconds"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        applyBatch(spark, b, lake, rowSchema)
      }
      .start()
  }
}
