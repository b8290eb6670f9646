package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  *  - `delete` operation removes keys; `insert`/`bulk_insert` append without
  *    merging (bulk_insert is the reference's high-throughput path,
  *    hudi_mongodb_batch.properties:15-16).
  *
  * Scale design (100 TB):
  *  - COPY_ON_WRITE upsert only touches AFFECTED partitions: the batch's
  *    partition values are collected (small — distinct partition tuples, not
  *    rows), the existing table is read partition-pruned to those values, and
  *    the merged result is written with dynamic partition overwrite
  *    (`spark.sql.sources.partitionOverwriteMode=dynamic`) so untouched
  *    partitions are never rewritten or even scanned.
  *  - MERGE_ON_READ appends the batch as a commit-stamped delta log under
  *    `_delta/commit=N/`; `readView` resolves key conflicts at read time by
  *    (commit DESC, precombine DESC); `compact()` folds logs into the base.
  *    Write amplification is O(batch), not O(table).
  *  - the only shuffles are the unavoidable hash-partition on the record key
  *    for dedup and the final partition-path clustering before write;
  *    a lineage barrier (localCheckpoint — on a real cluster a reliable
  *    checkpoint / staging dir) lets us overwrite a path we just read.
  */
object MergeWriter {

  /** Hudi write operations (hoodie.datasource.write.operation). */
  val Upsert = "upsert"
  val Insert = "insert"
  val BulkInsert = "bulk_insert"
  val Delete = "delete"

  private val CommitCol = "_graft_commit"

  /** Hudi-style per-record meta columns (`_hoodie_commit_time` /
    * `_hoodie_record_key` analogs, cf. `hoodie.populate.meta.fields`),
    * stamped on write when `table.metaFields` is set. Commit provenance on
    * every record is what makes incremental pull work on COPY_ON_WRITE. */
  val CommitTimeCol = "_graft_commit_time"
  val RecordKeyCol = "_graft_record_key"

  // ---------------------------------------------------------------- dedup

  /** Resolve intra-batch duplicates: keep the row with max precombine per key.
    * Ties broken deterministically by the stringified remaining columns so the
    * result is stable across retries/partitionings (Hudi leaves ties
    * unspecified; determinism is required by our oracle).
    *
    * Implemented as `max_by` over an orderable (precombine, tie-break…)
    * struct rather than a row_number window: a hash aggregate gets map-side
    * partial combine, so a hot key reduces ONE pre-combined row per input
    * partition instead of sorting every duplicate in a single window task —
    * the difference between O(dups) on one executor and O(partitions) at
    * 100 TB skew. */
  def dedupByPrecombine(df: DataFrame, keys: Seq[String], precombine: String): DataFrame = {
    val others = df.columns.filterNot(keys.contains).toSeq
    // field-lexicographic struct ordering == the old (precombine DESC,
    // others-as-string DESC) sort; including every column makes ties
    // identical rows, so max_by's tie choice is immaterial
    val ordKey = struct((col(precombine) +: others.map(c => col(c).cast("string"))): _*)
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ordKey).as("_r"))
      .select(col("_r.*"))
  }

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

  def upsert(spark: SparkSession, batch: DataFrame, table: LakeTable): Unit = {
    val deduped = dedupByPrecombine(batch, table.recordKeyFields, table.precombineField)
    val commit = nextCommit(spark, table)
    val stamped = stampMeta(deduped, table, commit)
    if (table.tableType == LakeTable.MergeOnRead) {
      stamped.write.mode(SaveMode.Overwrite)
        .parquet(s"${table.path}/_delta/commit=$commit")
    } else cowRewrite(spark, stamped, table, isDelete = false)
    writeCommitMarker(spark, table, commit)
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
    if (touched.isEmpty) {
      partitionedWriter(stamped, table).mode(SaveMode.Append).parquet(dataPath(table))
    } else {
      val touchedDf = spark.read.option("basePath", dataPath(table)).parquet(touched: _*)
      val merged = mergeBatch(touchedDf, stamped, table.recordKeyFields)
      // append reads the touched files while writing NEW part files — no
      // input is overwritten, so no lineage barrier is needed here
      partitionedWriter(merged, table).mode(SaveMode.Append).parquet(dataPath(table))
      val fs = new org.apache.hadoop.fs.Path(dataPath(table))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
    }
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

  /** delete: drop the batch's keys from the table. */
  def delete(spark: SparkSession, batch: DataFrame, table: LakeTable): Unit = {
    val keysDf = batch.select(table.recordKeyFields.map(col): _*).distinct()
    val commit = nextCommit(spark, table)
    if (table.tableType == LakeTable.MergeOnRead) {
      // tombstone log entry: null payload marker column
      keysDf.withColumn("_graft_deleted", lit(true))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"${table.path}/_delta/commit=$commit")
    } else {
      readBase(spark, table) match {
        case Some(e) =>
          val remaining = e.join(keysDf, table.recordKeyFields, "left_anti")
          overwriteAll(spark, remaining, table)
        case None => ()
      }
    }
    writeCommitMarker(spark, table, commit)
  }

  /** COW: read ONLY affected partitions of the existing table, merge, rewrite
    * ONLY those partitions (dynamic partition overwrite). */
  private def cowRewrite(spark: SparkSession, deduped: DataFrame,
                         table: LakeTable, isDelete: Boolean): Unit = {
    readBase(spark, table) match {
      case None =>
        partitionedWriter(deduped, table)
          .mode(SaveMode.Overwrite).parquet(dataPath(table))
      case Some(existing) if table.isPartitioned =>
        // distinct partition tuples of the batch — small, collectable.
        // As a STATIC disjunction they prune at scan PLANNING time (the
        // read touches only affected partition directories); a runtime
        // semi join would scan the whole table to filter it. Above the
        // cap (degenerate near-unpartitioned layouts) the broadcast
        // semi join is the safer plan.
        val parts = deduped.select(table.partitionFields.map(col): _*).distinct()
        val partRows = parts.limit(1001).collect()
        val affected =
          if (partRows.length <= 1000) {
            val cond = partRows.iterator.map { r =>
              table.partitionFields.zipWithIndex
                .map { case (f, i) => col(f) <=> lit(r.get(i)) }
                .reduce(_ && _)
            }.reduceOption(_ || _).getOrElse(lit(false))
            existing.where(cond)
          } else existing.join(broadcast(parts), table.partitionFields, "left_semi")
        val merged = mergeBatch(affected, deduped, table.recordKeyFields)
        // lineage barrier: we overwrite partitions we just read
        val materialized = merged.localCheckpoint(true)
        partitionedWriter(materialized, table)
          .mode(SaveMode.Overwrite).parquet(dataPath(table))
      case Some(existing) =>
        val merged = mergeBatch(existing, deduped, table.recordKeyFields)
        overwriteAll(spark, merged, table)
    }
  }

  private def overwriteAll(spark: SparkSession, df: DataFrame, table: LakeTable): Unit = {
    val materialized = df.localCheckpoint(true)
    partitionedWriter(materialized, table)
      .mode(SaveMode.Overwrite).parquet(dataPath(table))
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

  /** Snapshot view: base ∪ delta logs with key conflicts resolved by
    * (commit DESC, precombine DESC) and tombstones applied. For COW tables
    * this is just the base. */
  def readView(spark: SparkSession, table: LakeTable): DataFrame =
    readViewUpTo(spark, table, Long.MaxValue)

  /** Time travel (MERGE_ON_READ): the snapshot as of `commit` — base plus
    * delta commits ≤ `commit`. Valid for the still-uncompacted part of the
    * timeline (compaction folds logs into the base, like Hudi after its
    * retained-commit horizon). On COPY_ON_WRITE the base is the only
    * snapshot, so this returns it unchanged. */
  def readAsOf(spark: SparkSession, table: LakeTable, commit: Long): DataFrame =
    readViewUpTo(spark, table, commit)

  /** The MOR delta log of `commits` as ONE relation, for every log
    * reader (snapshot, time travel, compaction, incremental pull).
    * Commits differ in shape — an upsert carries the payload, a
    * tombstone-only commit carries the keys and `_graft_deleted` — so the
    * read merges their schemas; without it Spark takes one file's schema,
    * and either the payload or the tombstone flag vanishes from the whole
    * chain. `_graft_deleted` is false on upsert rows. */
  private def readLog(spark: SparkSession, table: LakeTable,
                      commits: Seq[Long]): DataFrame = {
    val logs = spark.read
      .option("basePath", s"${table.path}/_delta")
      .option("mergeSchema", "true")
      .parquet(commits.map(c => s"${table.path}/_delta/commit=$c"): _*)
    logs.withColumn("_graft_deleted",
      if (logs.columns.contains("_graft_deleted"))
        coalesce(col("_graft_deleted"), lit(false))
      else lit(false))
  }

  /** Snapshot resolution, shaped for 100 TB: conflicts are resolved with a
    * skew-resistant max_by aggregate over the DELTA LOG ONLY (ordered by
    * commit DESC then precombine DESC — a log record always supersedes the
    * base, so the base never needs to enter the shuffle), and base rows
    * merely anti-join the distinct delta keys (broadcastable while the
    * uncompacted log is small — exactly the window Hudi keeps MOR logs in).
    * Read cost is O(base scan) + O(delta shuffle), not O(table shuffle). */
  private def readViewUpTo(spark: SparkSession, table: LakeTable, upTo: Long): DataFrame = {
    val base = readBase(spark, table)
    if (table.tableType != LakeTable.MergeOnRead)
      return base.getOrElse(spark.emptyDataFrame)
    val commits = listCommits(spark, table).filter(_ <= upTo)
    if (commits.isEmpty) return base.getOrElse(spark.emptyDataFrame)
    val logs = readLog(spark, table, commits)
    val schemaCols: Seq[String] =
      base.map(_.columns.toSeq).getOrElse(logs.columns.toSeq.filterNot(
        c => c == "commit" || c == "_graft_deleted"))
    // align payload columns to the base (a log written before a base
    // column existed lacks it), stamp the commit
    val logFlagged = schemaCols.foldLeft(logs) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null))
    }.select((schemaCols.map(col) :+ col("commit").as(CommitCol) :+
      col("_graft_deleted")): _*)
    val keys = table.recordKeyFields
    // same skew-resistant max_by aggregation as dedupByPrecombine, ordered
    // by (commit DESC, precombine DESC, tie-breaks) — delta rows only
    val ordKey = struct(
      (col(CommitCol) +: col(table.precombineField) +:
        schemaCols.filterNot(keys.contains).map(c => col(c).cast("string"))): _*)
    val payload = struct((schemaCols.map(col) :+ col("_graft_deleted")): _*)
    val deltaLatest = logFlagged.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ordKey).as("_r"))
    val deltaAlive = deltaLatest
      .filter(!col("_r._graft_deleted"))
      .select(schemaCols.map(c => col(s"_r.$c").as(c)): _*)
    base match {
      case None => deltaAlive
      case Some(b) =>
        // base survives only where the delta has no record for the key
        // (alive OR tombstoned — either way the log owns that key now)
        val deltaKeys = deltaLatest.select(keys.map(col): _*)
        b.select(schemaCols.map(col): _*)
          .join(deltaKeys, keys, "left_anti")
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
        c == "commit" || c == "_graft_deleted" ||
          c == CommitTimeCol || c == RecordKeyCol)
      val keys = table.recordKeyFields
      val ordKey = struct(
        (col("commit") +: col(table.precombineField) +:
          schemaCols.filterNot(keys.contains).map(c => col(c).cast("string"))): _*)
      val payload = struct((schemaCols.map(col) :+
        col("_graft_deleted").as("_del") :+ col("commit").as("_c")): _*)
      logs.groupBy(keys.map(col): _*)
        .agg(max_by(payload, ordKey).as("_r"))
        .filter(!col("_r._del"))
        .select(schemaCols.map(c => col(s"_r.$c").as(c)) :+
          col("_r._c").as(CommitTimeCol): _*)
    } else {
      require(table.metaFields,
        s"incremental on COPY_ON_WRITE requires metaFields " +
          s"(${LakeTable.MetaFieldsKey}=true) so records carry $CommitTimeCol")
      readBase(spark, table)
        .map(_.filter(col(CommitTimeCol) > sinceCommit))
        .getOrElse(spark.emptyDataFrame)
    }
  }

  /** MOR compaction: fold all delta commits into the base, clear the log.
    * At scale this is the same partition-pruned COW rewrite driven by the
    * log's partition footprint. */
  def compact(spark: SparkSession, table: LakeTable): Unit = {
    if (table.tableType != LakeTable.MergeOnRead) return
    val commits = listCommits(spark, table)
    if (commits.isEmpty) return
    val view = readView(spark, table).localCheckpoint(true)
    partitionedWriter(view, table).mode(SaveMode.Overwrite).parquet(dataPath(table))
    val p = new org.apache.hadoop.fs.Path(s"${table.path}/_delta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }
}
