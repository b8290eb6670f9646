package graft.sink

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.sources.{BucketedLake, StaticFileIndex}
import graft.sources.BucketedLake.ManifestEntry

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
  *    and deletes as one data commit ([[upsert]] and [[delete]] are its
  *    one-sided calls); a key on both sides keeps its upsert; a partition
  *    left without rows by deletes disappears;
  *  - `insert`/`bulk_insert` append without merging (bulk_insert is the
  *    reference's high-throughput path, hudi_mongodb_batch.properties:15-16).
  *
  * Commit protocol ([[publish]]), for every write: new part files land in
  * `data/` (base) or `_delta/commit=N/` (MOR log), never over an old file;
  * then ONE [[BucketedLake]] manifest version lists the live files and
  * carries the data-commit number ([[latestCommit]]; compaction and
  * clustering keep it). Its pointer flip is the COMMIT POINT. Only then are
  * the files under `data/` and `_delta/` it does not reference deleted,
  * with emptied directories and the superseded manifest. A commit that
  * throws leaves the old snapshot; its replay lands and reclaims the
  * failed attempt's files. Readers take the version's file list; direct
  * listers of `data/` ([[CatalogSync]]'s Hive location, specs) see exactly
  * the snapshot once a commit has finished. Every base read, query and
  * commit alike, is one [[readFiles]], which builds Spark's parquet relation
  * from the version's entries: their sizes stand in for a stat, Spark's
  * own partition discovery types the columns from the directories under
  * `data/`, and one footer read on the driver gives the schema — no
  * listing, no Spark job, and two reads of one version are one relation
  * to the cache. Its trade-offs, the same as the Delta, Hudi and Iceberg
  * readers': `_metadata.file_modification_time` reads 0, and splits carry
  * no block locations. A commit's files are the ones
  * its write added to the listing, so a table takes ONE writer at a time
  * (Hudi's single-writer mode); a second writer's publish fails the
  * version gate, but files it wrote meanwhile may be taken as the first
  * writer's. A table written before commits published versions (no
  * pointer) reads its listing, as the old readers did, and its next
  * commit adopts those files into its first version.
  *
  * Scale design (100 TB): a COPY_ON_WRITE commit picks ONE list of
  * candidate base files and reads and rewrites only those; the version
  * keeps every other file. An upsert-only batch into a partitioned table
  * takes the files under its partitions, any other batch every base file
  * (delete keys carry no partition); a fresh key index ([[BloomIndex]])
  * narrows that to the files whose bloom may hold a batch key — batch-sized
  * write amplification, deletes included. MERGE_ON_READ
  * appends the batch as ONE delta log of payload rows and `_graft_deleted`
  * tombstones, resolved at read time by (commit DESC, payload above
  * tombstone, precombine DESC) until `compact()` folds it into the base —
  * O(batch) write amplification. The only shuffle is the key shuffle of
  * the dedup. */
object MergeWriter {

  /** Hudi write operations (hoodie.datasource.write.operation). */
  val Upsert = "upsert"
  val Insert = "insert"
  val BulkInsert = "bulk_insert"
  val Delete = "delete"

  /** Tombstone flag of a MOR delta-log row (true = the key is deleted). */
  private val DeletedCol = "_graft_deleted"

  /** Hudi-style per-record meta columns (`hoodie.populate.meta.fields`),
    * stamped when `table.metaFields` is set: commit provenance on every
    * record is what makes incremental pull work on COPY_ON_WRITE. */
  val CommitTimeCol = "_graft_commit_time"
  val RecordKeyCol = "_graft_record_key"

  /** The manifest txn entry carrying the table's data-commit number. */
  private val CommitTxn = "_graft_commit"
  private val DataDir = "data"
  private val DeltaDir = "_delta"

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

  /** Pure merge of a (deduped) batch into existing rows: incoming replaces
    * stored on key match. Exposed separately so tests and the oracle can
    * target it. Additive schema evolution: a column present on one side
    * only is null-filled on the other, so a batch can add columns (and an
    * old-schema batch still merges into an evolved table). */
  def mergeBatch(existing: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame = {
    val survivors = existing
      .join(batch.select(keys.map(col): _*), keys, "left_anti")
    survivors.unionByName(batch, allowMissingColumns = true)
  }

  // --------------------------------------------------------------- commit

  /** One published version: manifest version (0 before the first commit),
    * data-commit number and live files (table-relative). */
  private final case class Snapshot(version: Long, commit: Long, entries: Seq[ManifestEntry]) {
    def base: Seq[ManifestEntry] = entries.filter(_.rel.startsWith(s"$DataDir/"))
    /** MOR log files (`_delta/commit=N/...`) of the commits `p` accepts. */
    def log(p: Long => Boolean): Seq[ManifestEntry] =
      entries.filter(e => e.rel.startsWith(DeltaDir) && p(logCommit(e.rel)))
  }

  private def logCommit(rel: String): Long = rel.split('/')(1).stripPrefix("commit=").toLong

  private def snapshot(spark: SparkSession, table: LakeTable): Snapshot = {
    val v = BucketedLake.currentVersion(spark, table.path)
    try v.flatMap(n => BucketedLake.readManifestFull(spark, table.path, Some(n))
      .map(m => Snapshot(n, m.txns.getOrElse(CommitTxn, 0L), m.entries)))
      .getOrElse(unpublished(fsOf(spark, table), table))
    catch { // a commit published past `v` and reclaimed its manifest
      case _: IllegalArgumentException if BucketedLake.currentVersion(spark, table.path) != v =>
        snapshot(spark, table)
    }
  }

  private def fsOf(spark: SparkSession, table: LakeTable): FileSystem =
    new Path(table.path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rootOf(spark: SparkSession, table: LakeTable): Path =
    fsOf(spark, table).makeQualified(new Path(table.path))

  /** Table-relative path of a file of `table` (a manifest entry's `rel`). */
  private[sink] def relOf(spark: SparkSession, table: LakeTable): Path => String = {
    val root = rootOf(spark, table).toUri.getPath
    _.toUri.getPath.stripPrefix(s"$root/")
  }

  /** The `entries` among `files`, given as `_metadata.file_path` values
    * (what the side indexes record). */
  private[sink] def entriesOf(spark: SparkSession, table: LakeTable,
                              entries: Seq[ManifestEntry],
                              files: Iterable[String]): Seq[ManifestEntry] = {
    val rel = relOf(spark, table)
    val named = files.iterator.map(f => rel(new Path(new java.net.URI(f)))).toSet
    entries.filter(e => named(e.rel))
  }

  /** Every file under `data/` and `_delta/` by table-relative path, with
    * its size; directories Spark hides (`_temporary`) are skipped. */
  private def listFiles(fs: FileSystem, table: LakeTable): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(p: Path, rel: String): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (!st.isDirectory) out += s"$rel/$name" -> st.getLen
      else if (!(name.startsWith("_") && !name.contains("=")) && !name.startsWith("."))
        walk(st.getPath, s"$rel/$name")
    }
    for (dir <- Seq(DataDir, DeltaDir) if fs.exists(new Path(table.path, dir)))
      walk(new Path(table.path, dir), dir)
    out.result()
  }

  /** A table without a published version: its parquet listing, which
    * is what readers took before versions existed, and as data commit the
    * highest of its `_delta/commit=N` logs and of the `_commits/N` markers
    * those writers kept (read only here, never written). A new table
    * lists nothing and starts at commit 0. */
  private def unpublished(fs: FileSystem, table: LakeTable): Snapshot = {
    val files = listFiles(fs, table).toSeq.collect { case (rel, size)
      if rel.endsWith(".parquet") => ManifestEntry(0, -1L, size, rel) }
    val markers = new Path(table.path, "_commits")
    val marked = if (!fs.exists(markers)) Nil
      else fs.listStatus(markers).toSeq.flatMap(_.getPath.getName.toLongOption)
    val logged = files.collect { case e if e.rel.startsWith(DeltaDir) => logCommit(e.rel) }
    Snapshot(0L, (marked ++ logged).foldLeft(0L)(math.max), files)
  }

  private def parents(rel: String): Seq[String] =
    rel.split('/').toSeq.inits.drop(1).filter(_.nonEmpty).map(_.mkString("/")).toSeq

  /** The commit protocol (object doc): `write` adds files, the listings
    * around it tell which (a failed attempt's never count), and the
    * version lists them after the `keep`ed `prior` entries. */
  private def publish(spark: SparkSession, table: LakeTable, prior: Snapshot,
                      commit: Long, keep: Seq[ManifestEntry])(write: => Unit): Unit = {
    val fs = fsOf(spark, table)
    val before = listFiles(fs, table)
    write
    val listed = listFiles(fs, table)
    // row counts stay unknown (-1): filling them would read every footer
    val added = listed.toSeq.collect { case (rel, size)
      if rel.endsWith(".parquet") && !before.contains(rel) => ManifestEntry(0, -1L, size, rel) }
    val entries = keep ++ added
    val base = prior.version
    BucketedLake.writeManifest(spark, table.path, entries, base = Some(base),
      txns = Map(CommitTxn -> commit))
    // committed: reclaiming is best effort, and what a failed delete leaves
    // is unreferenced, so the next commit reclaims it
    val live = entries.map(_.rel).toSet
    val doomed = (prior.entries.map(_.rel) ++ listed.keys).toSet -- live
    def attempt(p: Path): Unit = scala.util.Try(fs.delete(p, false)): Unit
    doomed.foreach(r => attempt(new Path(table.path, r)))
    (doomed.flatMap(parents) -- live.flatMap(parents)).toSeq.sortBy(-_.length)
      .foreach(d => attempt(new Path(table.path, d)))
    if (base > 0) attempt(new Path(table.path, BucketedLake.versionedManifest(base)))
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

  /** Append `df` to the base as new part files. */
  private def writeBase(df: DataFrame, table: LakeTable): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (table.isPartitioned) w.partitionBy(table.partitionFields: _*) else w)
      .parquet(s"${table.path}/$DataDir")
  }

  /** insert/bulk_insert: straight partitioned append, no merge, no key
    * shuffle — the 100 TB bulk-load path. Its rows take the base's columns;
    * a batch adding one rewrites the base ([[rewrite]]). */
  def append(batch: DataFrame, table: LakeTable): Unit = {
    val spark = batch.sparkSession
    val prior = snapshot(spark, table)
    val commit = prior.commit + 1L
    val stamped = stampMeta(batch, table, commit)
    rewrite(spark, table, prior, commit, Some(stamped), Nil)(
      _.unionByName(stamped, allowMissingColumns = true))
  }

  /** upsert: [[applyChanges]] with no deletes — one keyed commit whose
    * rows (deduped by precombine) replace the stored rows with their keys. */
  def upsert(spark: SparkSession, batch: DataFrame, table: LakeTable): Unit =
    applyChanges(spark, table, Some(batch), None)

  /** delete: [[applyChanges]] with no upserts — one keyed commit dropping
    * the keys of `batch`; a partition left without rows disappears. */
  def delete(spark: SparkSession, batch: DataFrame, table: LakeTable): Unit =
    applyChanges(spark, table, None, Some(batch))

  /** Apply one batch as ONE keyed commit from `upserts` (deduped by
    * precombine; each replaces the stored row with its key) and `deletes`
    * (key columns only); either side may be absent, not both. A key on
    * both sides keeps its upsert. MOR writes one delta commit of payload
    * rows and tombstones; COW anti-joins the base on all the batch's keys,
    * unions the upserts and rewrites once. */
  def applyChanges(spark: SparkSession, table: LakeTable,
                   upserts: Option[DataFrame], deletes: Option[DataFrame]): Unit = {
    require(upserts.isDefined || deletes.isDefined,
      "applyChanges needs upserts, deletes or both")
    val keys = table.recordKeyFields
    val prior = snapshot(spark, table)
    val commit = prior.commit + 1L
    val ups = upserts.map(b =>
      stampMeta(dedupByPrecombine(b, keys, table.precombineField), table, commit))
    val delKeys = deletes.map(_.select(keys.map(col): _*))
    if (table.tableType == LakeTable.MergeOnRead) {
      // payload rows carry a null flag, which readLog reads as false
      val tombstones = delKeys.map(_.withColumn(DeletedCol, lit(true)))
      publish(spark, table, prior, commit, prior.entries)(
        (ups ++ tombstones).reduce(_.unionByName(_, allowMissingColumns = true))
          .write.mode(SaveMode.Append)
          .parquet(s"${table.path}/$DeltaDir/commit=$commit"))
    } else cowCommit(spark, table, prior, commit, ups, delKeys)
  }

  /** COW side of [[applyChanges]]: ONE list of candidate base files, then
    * one [[rewrite]] that anti-joins them on every key of the batch and
    * unions the upserts. The candidates start as every base file. An
    * upsert-only batch into a partitioned table takes the files under its
    * partitions, matched by directory name (so a key moved to another
    * partition keeps its old copy there, as under Hudi's non-global index);
    * delete keys carry no partition. A fresh [[BloomIndex]] keeps only the
    * files whose key bloom may hold a batch key, and the commit then
    * maintains it. */
  private def cowCommit(spark: SparkSession, table: LakeTable, prior: Snapshot,
                        commit: Long, ups: Option[DataFrame],
                        delKeys: Option[DataFrame]): Unit = {
    val keys = table.recordKeyFields
    val batchKeys = (ups.map(_.select(keys.map(col): _*)) ++ delKeys).reduce(_ union _)
    val scoped = ups match {
      case Some(u) if delKeys.isEmpty && table.isPartitioned && prior.base.nonEmpty =>
        val dirs = partitionDirs(u, table)
        prior.base.filter(e => dirs(parents(e.rel).head.stripPrefix(s"$DataDir/")))
      case _ => prior.base
    }
    val indexed = prior.base.nonEmpty && BloomIndex.isFresh(spark, table)
    val candidates = if (!indexed) scoped
      else entriesOf(spark, table, scoped, BloomIndex.pruneFilesForKeyDf(spark, table,
        batchKeys.select(BloomIndex.keyExpr(table).as("_key"))))
    rewrite(spark, table, prior, commit, ups, candidates) { existing =>
      val survivors = existing.join(batchKeys, keys, "left_anti")
      ups.fold(survivors)(survivors.unionByName(_, allowMissingColumns = true))
    }
    // the index is an accelerator: a failed upkeep leaves it stale, and a
    // stale index is never consulted
    if (indexed) scala.util.Try(BloomIndex.maintain(spark, table)): Unit
  }

  /** The partition directories (`a=1/b=x`) `batch` writes, named as Spark's
    * writer names them: each value's string cast, escaped. */
  private def partitionDirs(batch: DataFrame, table: LakeTable): Set[String] = {
    val fields = table.partitionFields
    batch.select(fields.map(f => col(f).cast("string")): _*).distinct().collect()
      .map(r => fields.indices.map(i =>
        ExternalCatalogUtils.getPartitionPathString(fields(i), r.getString(i))).mkString("/"))
      .toSet
  }

  /** The one base write: the `candidates` (prior base files) are read and
    * `merge` turns them into the rows that replace them; the published
    * version keeps every other prior file. Every live base file has the
    * table's columns (Spark takes a table's schema from ONE file), which
    * the candidates' footers tell, or with none one base file's: a `batch`
    * with a column the base lacks makes every base file a candidate, and
    * rows written beside untouched files are aligned to the base's columns
    * (NULL where the batch lacks one). */
  private def rewrite(spark: SparkSession, table: LakeTable, prior: Snapshot, commit: Long,
                      batch: Option[DataFrame], candidates: Seq[ManifestEntry])(
                      merge: DataFrame => DataFrame): Unit = {
    val probe = Option.when(prior.base.nonEmpty)(
      readFiles(spark, table, if (candidates.nonEmpty) candidates else prior.base.take(1)))
    val evolves = probe.exists(p => batch.exists(_.columns.exists(c => !p.columns.contains(c))))
    val files = if (evolves) prior.base else candidates
    val rows =
      if (evolves) Some(merge(readFiles(spark, table, files)))
      else if (files.nonEmpty) probe.map(merge)
      else batch.map(b => probe.fold(b)(p =>
        merge(spark.createDataFrame(java.util.List.of[Row](), p.schema))))
    val gone = files.map(_.rel).toSet
    publish(spark, table, prior, commit, prior.entries.filterNot(e => gone(e.rel)))(
      rows.foreach(writeBase(_, table)))
  }

  /** Rewrite the current view through `f`, replacing every prior file and
    * keeping the data commit (compaction, clustering); a table without
    * files is left alone. */
  private[sink] def rewriteView(spark: SparkSession, table: LakeTable)(
                                f: DataFrame => DataFrame): Unit = {
    val prior = snapshot(spark, table)
    if (prior.entries.nonEmpty) publish(spark, table, prior, prior.commit, Nil)(
      writeBase(f(view(spark, table, prior, Long.MaxValue)), table))
  }

  // ---------------------------------------------------------------- read

  /** The one read of base `files` (object doc): a relation built from
    * the entries, partition columns from their directories under `data/`,
    * the schema from the first file's footer. */
  private[sink] def readFiles(spark: SparkSession, table: LakeTable,
                              files: Seq[ManifestEntry]): DataFrame = {
    val root = rootOf(spark, table)
    StaticFileIndex.listedParquet(spark, new Path(root, DataDir), files.map(e =>
      new FileStatus(e.size, false, 1, 128L << 20, 0L, new Path(root, e.rel))))
  }

  private def readBase(spark: SparkSession, table: LakeTable,
                       snap: Snapshot): Option[DataFrame] =
    Option.when(snap.base.nonEmpty)(readFiles(spark, table, snap.base))

  /** The current manifest version (0 = none; compaction and clustering
    * advance it, unlike [[latestCommit]]) and its base files — what the
    * side indexes build from and record. */
  private[sink] def baseFiles(spark: SparkSession,
                              table: LakeTable): (Long, Seq[ManifestEntry]) = {
    val snap = snapshot(spark, table)
    (snap.version, snap.base)
  }

  /** Latest data commit on the table's timeline (0 = empty table). */
  def latestCommit(spark: SparkSession, table: LakeTable): Long =
    snapshot(spark, table).commit

  /** Snapshot view: base ∪ delta logs with key conflicts resolved in
    * [[logOrder]] and tombstones applied. For COW tables this is the base. */
  def readView(spark: SparkSession, table: LakeTable): DataFrame =
    view(spark, table, snapshot(spark, table), Long.MaxValue)

  /** MOR time travel: base plus delta commits ≤ `commit` (the uncompacted
    * part of the timeline; compaction folds logs into the base, like Hudi
    * after its retained-commit horizon). On COPY_ON_WRITE this is the base. */
  def readAsOf(spark: SparkSession, table: LakeTable, commit: Long): DataFrame =
    view(spark, table, snapshot(spark, table), commit)

  /** The MOR log `files` as ONE relation. Schemas merge: a tombstone-only
    * commit carries just the keys and `_graft_deleted`, and without the
    * merge Spark takes one file's schema, so the payload or the flag would
    * vanish from the entire chain. `_graft_deleted` is false on payload. */
  private def readLog(spark: SparkSession, table: LakeTable,
                      files: Seq[ManifestEntry]): DataFrame = {
    val logs = spark.read
      .option("basePath", s"${table.path}/$DeltaDir")
      .option("mergeSchema", "true")
      .parquet(files.map(e => new Path(table.path, e.rel).toString): _*)
    logs.withColumn(DeletedCol,
      if (logs.columns.contains(DeletedCol)) coalesce(col(DeletedCol), lit(false))
      else lit(false))
  }

  /** Log election order: later commit, then a payload row above a
    * tombstone (an upsert wins a key its commit also deletes), then
    * precombine and the stringified payload. */
  private def logOrder(table: LakeTable, payloadCols: Seq[String]): Seq[Column] =
    col("commit") +: not(col(DeletedCol)) +: precombineOrder(table.precombineField,
      payloadCols.filterNot(table.recordKeyFields.contains))

  /** Snapshot resolution: [[latestByKey]] over the DELTA LOG ONLY (a log
    * record supersedes the base, so the base never enters the shuffle),
    * base rows anti-join the distinct delta keys (broadcastable while the
    * uncompacted log is small) — O(base scan) + O(delta shuffle), not
    * O(table shuffle). */
  private def view(spark: SparkSession, table: LakeTable, snap: Snapshot,
                   upTo: Long): DataFrame = {
    val base = readBase(spark, table, snap)
    val commits = snap.log(_ <= upTo)
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

  /** Hudi incremental pull: the latest state of every record changed
    * AFTER `sinceCommit`, with its commit in `_graft_commit_time`. MOR
    * reads only the delta commits after it (tombstoned keys excluded); COW
    * needs `metaFields` and filters the per-record commit stamp. */
  def incremental(spark: SparkSession, table: LakeTable, sinceCommit: Long): DataFrame = {
    val snap = snapshot(spark, table)
    if (table.tableType == LakeTable.MergeOnRead) {
      val commits = snap.log(_ > sinceCommit)
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
      readBase(spark, table, snap)
        .map(_.filter(col(CommitTimeCol) > sinceCommit))
        .getOrElse(spark.emptyDataFrame)
    }
  }

  /** MOR compaction: fold the log into the base with one rewrite of
    * the entire view ([[rewriteView]]), keeping [[latestCommit]]. */
  def compact(spark: SparkSession, table: LakeTable): Unit =
    if (table.tableType == LakeTable.MergeOnRead &&
        snapshot(spark, table).log(_ => true).nonEmpty) rewriteView(spark, table)(identity)
}
