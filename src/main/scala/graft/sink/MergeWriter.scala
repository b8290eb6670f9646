package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** W1 — Hudi-equivalent keyed merge semantics over partitioned parquet
  * (reference writes `format("hudi").mode(Append)` with recordkey/precombine/
  * partitionpath options, e.g. HoodieJDBCImporter.scala:117-121; option corpus
  * hudi_mongodb_batch.properties:9-19).
  *
  * Semantics reproduced (Hudi 0.9 `OverwriteWithLatestAvroPayload`, the
  * default payload class the reference never overrides):
  *  - within an incoming batch, duplicates on the record key are resolved by
  *    MAX precombine value (deterministic tie-break on the remaining columns
  *    so re-runs and the DuckDB oracle agree);
  *  - an incoming record REPLACES the stored record with the same key
  *    (no cross-batch precombine comparison — last write wins, exactly the
  *    reference's observable behavior);
  *  - ONE keyed commit per batch: [[applyChanges]] lands a batch's upserts
  *    and deletes under one commit marker ([[upsert]] and [[delete]] are
  *    its one-sided calls); a key on both sides keeps its upsert; a
  *    partition left without rows by deletes disappears;
  *  - `insert`/`bulk_insert` append without merging (bulk_insert is the
  *    reference's high-throughput path, hudi_mongodb_batch.properties:15-16).
  *
  * Scale design (100 TB):
  *  - a COPY_ON_WRITE commit without deletes reads and rewrites only the
  *    batch's partitions (plan-time pruned read, dynamic partition
  *    overwrite); delete keys carry no partition, so a commit with deletes
  *    rewrites the whole table;
  *  - MERGE_ON_READ appends the batch as ONE delta log `_delta/commit=N/`
  *    (payload rows and `_graft_deleted` tombstones together); `readView`
  *    resolves key conflicts at read time by (commit DESC, payload above
  *    tombstone, precombine DESC); `compact()` folds logs into the base.
  *    Write amplification is O(batch), not O(table);
  *  - the only shuffles are the unavoidable hash-partition on the record key
  *    for dedup and the final partition-path clustering before write;
  *    every table rewrite goes through one [[rewrite]], whose lineage
  *    barrier (localCheckpoint — on a real cluster a reliable checkpoint /
  *    staging dir) lets us overwrite a path we just read.
  */
object MergeWriter {

  /** Hudi write operations (hoodie.datasource.write.operation). */
  val Upsert = "upsert"
  val Insert = "insert"
  val BulkInsert = "bulk_insert"
  val Delete = "delete"

  /** Tombstone flag of a MOR delta-log row (true = the key is deleted). */
  private val DeletedCol = "_graft_deleted"

  /** Hudi-style per-record meta columns (`_hoodie_commit_time` /
    * `_hoodie_record_key` analogs, cf. `hoodie.populate.meta.fields`),
    * stamped on write when `table.metaFields` is set. Commit provenance on
    * every record is what makes incremental pull work on COPY_ON_WRITE. */
  val CommitTimeCol = "_graft_commit_time"
  val RecordKeyCol = "_graft_record_key"

  // ---------------------------------------------------------------- dedup

  /** The latest row of `df` per key by the lexicographic `order`, with
    * `df`'s columns. A `max_by` aggregate, not a row_number window: its
    * map-side partial combine reduces a hot key to ONE row per input
    * partition instead of sorting every duplicate in one window task. */
  private[graft] def latestByKey(df: DataFrame, keys: Seq[String],
                                 order: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(df.columns.toIndexedSeq.map(col): _*),
        struct(order: _*)).as("_r"))
      .select(col("_r.*"))

  /** Max precombine, then the stringified `others`: tied rows are then
    * identical, so the winner is deterministic across retries (Hudi leaves
    * ties unspecified; our oracle needs determinism). */
  private def precombineOrder(precombine: String, others: Seq[String]): Seq[Column] =
    col(precombine) +: others.map(c => col(c).cast("string"))

  /** Resolve intra-batch duplicates: keep the row with max precombine per
    * key, ties broken by the remaining columns (see [[precombineOrder]]). */
  def dedupByPrecombine(df: DataFrame, keys: Seq[String], precombine: String): DataFrame =
    latestByKey(df, keys,
      precombineOrder(precombine, df.columns.filterNot(keys.contains).toSeq))

  /** Pure merge of a (already deduped) batch into existing rows:
    * incoming replaces stored on key match; stored rows with unmatched keys
    * survive. Exposed separately so tests and the oracle can target it.
    *
    * Schema evolution (Hudi-style additive): a column present on only one
    * side is null-filled on the other, so a batch can add columns to a
    * table (and an old-schema batch can still merge into an evolved one). */
  def mergeBatch(existing: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame = {
    val survivors = existing
      .join(batch.select(keys.map(col): _*), keys, "left_anti")
    survivors.unionByName(batch, allowMissingColumns = true)
  }

  // ---------------------------------------------------------------- write

  def write(spark: SparkSession, batch: DataFrame, table: LakeTable,
            operation: String = Upsert): Unit = operation match {
    case Upsert     => upsert(spark, batch, table)
    case Delete     => delete(spark, batch, table)
    case Insert | BulkInsert => append(batch, table)
    case other => throw new IllegalArgumentException(
      s"unsupported ${LakeTable.OperationKey}: $other")
  }

  /** Stamp the Hudi-analog meta columns (no-op unless enabled). */
  private def stampMeta(df: DataFrame, table: LakeTable, commit: Long): DataFrame =
    if (!table.metaFields) df
    else df
      .withColumn(CommitTimeCol, lit(commit))
      .withColumn(RecordKeyCol,
        concat_ws(":", table.recordKeyFields.map(c => col(c).cast("string")): _*))

  /** insert/bulk_insert: straight partitioned append, no merge, no key
    * shuffle — the 100 TB bulk-load path. */
  def append(batch: DataFrame, table: LakeTable): Unit = {
    val spark = batch.sparkSession
    val commit = nextCommit(spark, table)
    partitionedWriter(stampMeta(batch, table, commit), table)
      .mode(SaveMode.Append).parquet(dataPath(table))
    writeCommitMarker(spark, table, commit)
  }

  /** upsert: [[applyChanges]] with no deletes — one keyed commit whose
    * rows (deduped by precombine) replace the stored rows with their keys. */
  def upsert(spark: SparkSession, batch: DataFrame, table: LakeTable): Unit =
    applyChanges(spark, table, Some(batch), None)

  /** delete: [[applyChanges]] with no upserts — one keyed commit dropping
    * the keys of `batch`; a partition left without rows disappears. */
  def delete(spark: SparkSession, batch: DataFrame, table: LakeTable): Unit =
    applyChanges(spark, table, None, Some(batch))

  /** Apply one batch as ONE keyed commit (one write, one marker) from
    * `upserts` (deduped by precombine; each replaces the stored row with
    * its key) and `deletes` (only their key columns are read); either side
    * may be absent, not both. A key on both sides keeps its upsert; a
    * partition left without rows disappears. MOR writes one delta commit
    * of payload rows and tombstones; COW anti-joins the base on all the
    * batch's keys, unions the upserts and rewrites once (see the object
    * doc for which partitions). So a crash cannot leave a batch's upserts
    * applied without its deletes. */
  def applyChanges(spark: SparkSession, table: LakeTable,
                   upserts: Option[DataFrame], deletes: Option[DataFrame]): Unit = {
    require(upserts.isDefined || deletes.isDefined,
      "applyChanges needs upserts, deletes or both")
    val keys = table.recordKeyFields
    val commit = nextCommit(spark, table)
    val ups = upserts.map(b =>
      stampMeta(dedupByPrecombine(b, keys, table.precombineField), table, commit))
    val delKeys = deletes.map(_.select(keys.map(col): _*))
    if (table.tableType == LakeTable.MergeOnRead) {
      // payload rows carry a null flag, which readLog reads as false
      val tombstones = delKeys.map(_.withColumn(DeletedCol, lit(true)))
      (ups ++ tombstones).reduce(_.unionByName(_, allowMissingColumns = true))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"${table.path}/_delta/commit=$commit")
    } else cowCommit(spark, table, ups, delKeys)
    writeCommitMarker(spark, table, commit)
  }

  /** COW side of [[applyChanges]]: one anti-join of the base on every key
    * of the batch, one union with the upserts, one rewrite. */
  private def cowCommit(spark: SparkSession, table: LakeTable,
                        ups: Option[DataFrame], delKeys: Option[DataFrame]): Unit =
    readBase(spark, table) match {
      case None =>
        ups.foreach(partitionedWriter(_, table)
          .mode(SaveMode.Overwrite).parquet(dataPath(table)))
      case Some(existing) =>
        val keys = table.recordKeyFields
        // without deletes `ups` is defined (applyChanges requires a side)
        val scope = if (delKeys.isEmpty && table.isPartitioned)
          affectedPartitions(existing, ups.get, table) else existing
        val batchKeys = (ups.map(_.select(keys.map(col): _*)) ++ delKeys).reduce(_ union _)
        val survivors = scope.join(batchKeys, keys, "left_anti")
        rewrite(spark, table,
          ups.fold(survivors)(survivors.unionByName(_, allowMissingColumns = true)),
          whole = delKeys.isDefined)
    }

  /** The rows of `existing` in the partitions `batch` touches. Its distinct
    * partition tuples are small; as a STATIC disjunction they prune at scan
    * PLANNING time, where a runtime semi join would scan the whole table.
    * Above the cap (near-unpartitioned layouts) the broadcast semi join is
    * the safer plan. */
  private def affectedPartitions(existing: DataFrame, batch: DataFrame,
                                 table: LakeTable): DataFrame = {
    val parts = batch.select(table.partitionFields.map(col): _*).distinct()
    val partRows = parts.limit(1001).collect()
    if (partRows.length <= 1000) {
      val cond = partRows.iterator.map { r =>
        table.partitionFields.zipWithIndex
          .map { case (f, i) => col(f) <=> lit(r.get(i)) }
          .reduce(_ && _)
      }.reduceOption(_ || _).getOrElse(lit(false))
      existing.where(cond)
    } else existing.join(broadcast(parts), table.partitionFields, "left_semi")
  }

  /** The one table rewrite (COW commits, compaction, clustering): `df`,
    * materialized first as a lineage barrier, replaces the partitions it
    * holds rows for — or with `whole` the entire table. The dynamic
    * overwrite swaps in each partition that received rows at job commit;
    * one that received none keeps its old files, so with `whole` those
    * partitions are deleted after the job commits (the data directory too
    * when none is left), before the caller writes its commit marker. */
  private[sink] def rewrite(spark: SparkSession, table: LakeTable, df: DataFrame,
                            whole: Boolean): Unit = {
    val before = if (whole && table.isPartitioned) dataFiles(spark, table) else Set.empty[String]
    partitionedWriter(df.localCheckpoint(true), table)
      .mode(SaveMode.Overwrite).parquet(dataPath(table))
    if (before.nonEmpty) {
      // an old file that survived the swap lies in a partition df left empty
      val after = dataFiles(spark, table)
      val stale = after.intersect(before)
      val root = new org.apache.hadoop.fs.Path(dataPath(table))
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (stale == after) fs.delete(root, true)
      else stale.map(f => new org.apache.hadoop.fs.Path(f).getParent)
        .foreach(fs.delete(_, true))
    }
  }

  /** File-slice COW upsert — the Hudi BLOOM-index write path
    * (`hoodie.index.type=BLOOM`): instead of rewriting every affected
    * PARTITION, rewrite only the FILES whose bloom might contain one of the
    * batch's keys. At 100 TB with clustered keys this is the difference
    * between a partition-sized and a batch-sized write amplification.
    *
    * Sequence: prune touched files via the distributed bloom probe
    * (batch keys never reach the driver), merge the batch with ONLY those
    * files, append the merged slices as new files, then delete the obsolete
    * ones, then mark the commit, then maintain the index incrementally
    * (bloom the new files only). New slices land before old ones go, so a
    * crash mid-write leaves duplicates — detectable as data files newer
    * than the last commit marker — never lost rows.
    *
    * Falls back to the partition-pruned [[upsert]] when the table or bloom
    * index is missing/stale, or when the batch evolves the schema (an
    * untouched file cannot learn a new column). */
  def upsertIndexed(spark: SparkSession, batch: DataFrame, table: LakeTable,
                    expectedKeysPerFile: Int = 100000, fpp: Double = 0.01): Unit = {
    require(table.tableType != LakeTable.MergeOnRead,
      "upsertIndexed is the COW write path; MOR appends delta logs already")
    val deduped = dedupByPrecombine(batch, table.recordKeyFields, table.precombineField)
    val base = readBase(spark, table)
    val metaCols = Set(CommitTimeCol, RecordKeyCol)
    val schemaStable = base.exists(b =>
      (b.columns.toSet -- metaCols) == stampMeta(deduped, table, 0L).columns.toSet -- metaCols)
    if (base.isEmpty || !BloomIndex.isFresh(spark, table) || !schemaStable) {
      // fall back to the partition-pruned rewrite, then (re)build the index
      // so the NEXT batch takes the file-slice path — the index stays in
      // sync as a side effect of writing, like Hudi's
      upsert(spark, batch, table)
      BloomIndex.rebuild(spark, table, expectedKeysPerFile, fpp)
      return
    }
    val keyDf = deduped.select(BloomIndex.keyExpr(table).as("_key"))
    val touched = BloomIndex.pruneFilesForKeyDf(spark, table, keyDf)
    val commit = nextCommit(spark, table)
    val stamped = stampMeta(deduped, table, commit)
    val before = dataFiles(spark, table)
    val slices = if (touched.isEmpty) stamped else mergeBatch(
      spark.read.option("basePath", dataPath(table)).parquet(touched: _*),
      stamped, table.recordKeyFields)
    // append reads the touched files while writing NEW part files — no
    // input is overwritten, so no lineage barrier is needed here
    partitionedWriter(slices, table).mode(SaveMode.Append).parquet(dataPath(table))
    val fs = new org.apache.hadoop.fs.Path(dataPath(table))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
    writeCommitMarker(spark, table, commit)
    val added = (dataFiles(spark, table) -- before).toSeq
    BloomIndex.maintain(spark, table, added, touched, expectedKeysPerFile, fpp)
  }

  /** All data files of the table (normalized absolute paths), recursive
    * over partition directories. Driver-side listing — the same cardinality
    * every scan's file index handles. */
  private def dataFiles(spark: SparkSession, table: LakeTable): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(dataPath(table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Set.empty
    else {
      val it = fs.listFiles(root, true)
      val out = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) out += f.getPath.toUri.getPath
      }
      out.result()
    }
  }

  private def partitionedWriter(df: DataFrame, table: LakeTable) = {
    val w = df.write
    if (table.isPartitioned)
      // per-write option, NOT session config: overwrite must only replace
      // the partitions present in the frame regardless of how the caller's
      // session is configured — static mode would silently drop every
      // untouched partition of the table
      w.partitionBy(table.partitionFields: _*)
        .option("partitionOverwriteMode", "dynamic")
    else w
  }

  // ---------------------------------------------------------------- read

  private def dataPath(table: LakeTable): String = s"${table.path}/data"

  private def readBase(spark: SparkSession, table: LakeTable): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dataPath(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(dataPath(table))) else None
  }

  /** MOR delta-log commits (directory listing under `_delta/`). */
  private def listCommits(spark: SparkSession, table: LakeTable): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"${table.path}/_delta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("commit=")).map(_.stripPrefix("commit=").toLong).sorted
  }

  /** Commit timeline markers (`_commits/<n>`), written by every write op on
    * both table types. They survive MOR compaction (which clears `_delta/`),
    * keeping the commit counter monotonic — the analog of Hudi's
    * `.hoodie/` timeline instants. */
  private def listMarkers(spark: SparkSession, table: LakeTable): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"${table.path}/_commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .flatMap(n => scala.util.Try(n.toLong).toOption).sorted
  }

  private def writeCommitMarker(spark: SparkSession, table: LakeTable, commit: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"${table.path}/_commits/$commit")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** Latest commit on the table's timeline (0 = empty table). */
  def latestCommit(spark: SparkSession, table: LakeTable): Long =
    (listCommits(spark, table) ++ listMarkers(spark, table))
      .foldLeft(0L)(math.max)

  private def nextCommit(spark: SparkSession, table: LakeTable): Long =
    latestCommit(spark, table) + 1L

  /** Snapshot view: base ∪ delta logs with key conflicts resolved in
    * [[logOrder]] and tombstones applied. For COW tables this is the base. */
  def readView(spark: SparkSession, table: LakeTable): DataFrame =
    readViewUpTo(spark, table, Long.MaxValue)

  /** Time travel (MERGE_ON_READ): the snapshot as of `commit` — base plus
    * delta commits ≤ `commit`. Valid for the still-uncompacted part of the
    * timeline (compaction folds logs into the base, like Hudi after its
    * retained-commit horizon). On COPY_ON_WRITE the base is the only
    * snapshot, so this returns it unchanged. */
  def readAsOf(spark: SparkSession, table: LakeTable, commit: Long): DataFrame =
    readViewUpTo(spark, table, commit)

  /** The MOR delta log of `commits` as ONE relation, for every log reader.
    * A tombstone-only commit carries just the keys and `_graft_deleted`,
    * so the read merges schemas — else Spark takes one file's schema and
    * the payload or the flag vanishes from the whole chain.
    * `_graft_deleted` is false on payload rows. */
  private def readLog(spark: SparkSession, table: LakeTable,
                      commits: Seq[Long]): DataFrame = {
    val logs = spark.read
      .option("basePath", s"${table.path}/_delta")
      .option("mergeSchema", "true")
      .parquet(commits.map(c => s"${table.path}/_delta/commit=$c"): _*)
    logs.withColumn(DeletedCol,
      if (logs.columns.contains(DeletedCol)) coalesce(col(DeletedCol), lit(false))
      else lit(false))
  }

  /** Election order of delta-log rows: later commit first; within one
    * commit a payload row above a tombstone, so an upsert wins a key the
    * same commit also deletes; then precombine and the stringified
    * payload as tie-breaks. */
  private def logOrder(table: LakeTable, payloadCols: Seq[String]): Seq[Column] =
    col("commit") +: not(col(DeletedCol)) +: precombineOrder(table.precombineField,
      payloadCols.filterNot(table.recordKeyFields.contains))

  /** Snapshot resolution, shaped for 100 TB: conflicts are resolved with
    * [[latestByKey]] over the DELTA LOG ONLY (in [[logOrder]] — a log
    * record always supersedes the base, so the base never needs to enter
    * the shuffle), and base rows merely anti-join the distinct delta keys
    * (broadcastable while the uncompacted log is small — exactly the
    * window Hudi keeps MOR logs in). Read cost is O(base scan) + O(delta
    * shuffle), not O(table shuffle). */
  private def readViewUpTo(spark: SparkSession, table: LakeTable, upTo: Long): DataFrame = {
    val base = readBase(spark, table)
    if (table.tableType != LakeTable.MergeOnRead)
      return base.getOrElse(spark.emptyDataFrame)
    val commits = listCommits(spark, table).filter(_ <= upTo)
    if (commits.isEmpty) return base.getOrElse(spark.emptyDataFrame)
    val logs = readLog(spark, table, commits)
    val schemaCols: Seq[String] =
      base.map(_.columns.toSeq).getOrElse(logs.columns.toSeq.filterNot(
        c => c == "commit" || c == DeletedCol))
    // align payload columns to the base (a log written before a base
    // column existed lacks it)
    val aligned = logs.select(schemaCols.map(c =>
      if (logs.columns.contains(c)) col(c) else lit(null).as(c)) :+
      col("commit") :+ col(DeletedCol): _*)
    val keys = table.recordKeyFields
    val deltaLatest = latestByKey(aligned, keys, logOrder(table, schemaCols))
    val deltaAlive = deltaLatest.filter(!col(DeletedCol))
      .select(schemaCols.map(col): _*)
    base match {
      case None => deltaAlive
      case Some(b) =>
        // base survives only where the delta has no record for the key
        // (alive OR tombstoned — either way the log owns that key now)
        b.select(schemaCols.map(col): _*)
          .join(deltaLatest.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(deltaAlive)
    }
  }

  /** Incremental query (Hudi incremental pull): the latest state of every
    * record changed AFTER `sinceCommit`, stamped with its commit number in
    * `_graft_commit_time`.
    *
    *  - MERGE_ON_READ: resolved from delta commits > `sinceCommit` only —
    *    reads O(changed data), never the base. Tombstoned keys are excluded.
    *  - COPY_ON_WRITE: requires `metaFields` — the per-record commit stamp
    *    is filtered directly, exactly how Hudi filters
    *    `_hoodie_commit_time > begin.instanttime`.
    */
  def incremental(spark: SparkSession, table: LakeTable, sinceCommit: Long): DataFrame = {
    if (table.tableType == LakeTable.MergeOnRead) {
      val commits = listCommits(spark, table).filter(_ > sinceCommit)
      if (commits.isEmpty) return spark.emptyDataFrame
      val logs = readLog(spark, table, commits)
      val schemaCols: Seq[String] = logs.columns.toSeq.filterNot(c =>
        c == "commit" || c == DeletedCol || c == CommitTimeCol || c == RecordKeyCol)
      latestByKey(logs, table.recordKeyFields, logOrder(table, schemaCols))
        .filter(!col(DeletedCol))
        .select(schemaCols.map(col) :+ col("commit").as(CommitTimeCol): _*)
    } else {
      require(table.metaFields,
        s"incremental on COPY_ON_WRITE requires metaFields " +
          s"(${LakeTable.MetaFieldsKey}=true) so records carry $CommitTimeCol")
      readBase(spark, table)
        .map(_.filter(col(CommitTimeCol) > sinceCommit))
        .getOrElse(spark.emptyDataFrame)
    }
  }

  /** MOR compaction: fold all delta commits into the base with one
    * whole-table [[rewrite]] of the snapshot, then clear the log. A
    * partition whose rows were all deleted disappears with its files. */
  def compact(spark: SparkSession, table: LakeTable): Unit =
    if (table.tableType == LakeTable.MergeOnRead && listCommits(spark, table).nonEmpty) {
      rewrite(spark, table, readView(spark, table), whole = true)
      val p = new org.apache.hadoop.fs.Path(s"${table.path}/_delta")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
    }
}
