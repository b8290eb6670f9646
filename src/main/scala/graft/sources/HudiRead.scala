package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ParquetReadShim
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Snapshot / time-travel / incremental reader for REAL Apache Hudi
  * tables, copy-on-write AND merge-on-read — the reference system's
  * native storage format (table layout per the published Hudi spec: a
  * `.hoodie/` timeline of instant files, base parquet files named
  * `<fileId>_<writeToken>_<instantTime>.parquet` inside partition
  * directories, and for MOR, hidden Avro log files
  * `.<fileId>_<baseInstant>.log.<version>_<writeToken>` parsed by
  * [[HudiLogFormat]]; meta columns `_hoodie_commit_time` /
  * `_hoodie_record_key` / … in every row). A user of the reference can
  * point this library at the tables they already have.
  *
  * Semantics:
  *  - snapshot (COW, or MOR read-optimized when no visible logs): for
  *    every file group (fileId within its partition path), read the
  *    newest base file whose instant is ≤ the latest COMPLETED commit
  *    (`.commit` / `.deltacommit` / `.replacecommit` timeline files;
  *    `.inflight` / `.requested` are in-progress and invisible, exactly
  *    Hudi's read isolation). File groups replaced by clustering
  *    (`.replacecommit` JSON `partitionToReplaceFileIds`) are excluded.
  *  - snapshot (MOR with logs): per file group, base ∪ visible log
  *    records merged by `_hoodie_record_key`, the LATEST record winning
  *    (ordered by instant, then log position — Hudi's
  *    OverwriteWithLatestAvroPayload); `_hoodie_is_deleted = true`
  *    records drop out after the election. Log blocks are visible only
  *    if their INSTANT_TIME header is a completed delta commit ≤ the
  *    ceiling, so a snapshot taken with a PENDING compaction still sees
  *    log records stacked on the old base, and the post-compaction
  *    snapshot (new base file, logs folded in) reads identically.
  *  - time travel: same with the instant ceiling `asOf`.
  *  - incremental: rows whose `_hoodie_commit_time` is in
  *    `(begin, end]` — on COW file-pruned first (only base files written
  *    by an instant in range are scanned) then row-filtered; on MOR the
  *    merged view is row-filtered (log records carry their delta-commit
  *    time).
  *
  * Row deletes are fully supported both ways Hudi expresses them:
  * `_hoodie_is_deleted` payloads, and DELETE log blocks in the 0.9
  * vintage the reference stack writes (Kryo `HoodieKey[]` payload,
  * [[HudiLogFormat.deleteKeys]]) — tombstones participate in the
  * latest-wins election, so a re-insert after a delete survives. Newer
  * delete-block serializations fail loudly rather than resurrect rows.
  *
  * Scale notes: only file LISTINGS and log-block metadata touch the
  * driver, bounded by `maxFiles`; tables with many partition directories
  * are listed IN PARALLEL on executors (the InMemoryFileIndex approach —
  * a 10⁶-file COW table on object storage would take minutes of serial
  * `listStatus` calls otherwise). The base-file data path is a plain
  * multi-file parquet scan (pushdown/pruning/AQE apply); MOR log records
  * are decoded partition-wise on executors, one task per file group, and
  * the per-key election is a map-side-combined hash aggregate, never a
  * window. */
object HudiRead {

  private val BaseFileRe = """([^_/]+)_([^_/]+)_(\d+)(?:-\d+-\d+)?\.parquet""".r

  /** Log-record ceiling for broadcasting the merged log side of a MOR
    * read (≈ a few hundred MB of rows — comfortably inside the 8 GB
    * broadcast limit while covering any healthily-compacted table). */
  private val MaxBroadcastLogRecords = 4000000L

  final case class BaseFile(partition: String, fileId: String,
                            instant: String, path: String,
                            size: Long = -1L)
  final case class LogFile(partition: String, fileId: String,
                           baseInstant: String, version: Int,
                           writeToken: String, path: String)

  /** Order key for commit instants ACROSS WIDTH GENERATIONS: instants
    * are timestamps (`yyyyMMddHHmmss` in old tables, `…SSS` with millis
    * in new ones, 18-digit synthetic instants from [[graft.streaming
    * .LakeMirror]]), so a shorter instant is a TRUNCATED timestamp:
    * right-padding with zeros compares them on the shared timeline
    * (numeric/left-padded comparison would rank every 17-digit instant
    * above every 14-digit one regardless of time), and the 2-digit
    * width suffix breaks a `X` vs `X000` tie deterministically
    * (shorter-format first, the raw-lexicographic prefix rule) so the
    * key stays a STRICT total order — no two distinct instants compare
    * equal. */
  private[graft] def instantKey(instant: String): String =
    instant.padTo(24, '0') + f"${instant.length}%02d"

  /** [[instantKey]] as a Catalyst expression, for row-level
    * `_hoodie_commit_time` range checks on the same padded timeline. */
  private[graft] def instantKeyCol(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat(rpad(c, 24, "0"), lpad(length(c).cast("string"), 2, "0"))

  /** Completed commit instants on the timeline, ascending (`.commit` =
    * COW write or MOR compaction, `.deltacommit` = MOR log write,
    * `.replacecommit` = clustering/overwrite). */
  def completedInstants(spark: SparkSession, table: String): Seq[String] = {
    val dir = new Path(table, ".hoodie")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) throw new IllegalArgumentException(
      s"$table is not a Hudi table (no .hoodie directory)")
    fs.listStatus(dir).iterator.map(_.getPath.getName).collect {
      case n if n.endsWith(".commit") => n.stripSuffix(".commit")
      case n if n.endsWith(".deltacommit") => n.stripSuffix(".deltacommit")
      case n if n.endsWith(".replacecommit") => n.stripSuffix(".replacecommit")
    }.filter(_.forall(_.isDigit)).toSeq.sortBy(instantKey)
  }

  /** One [[timeline]] row: instant time, action, and lifecycle state. */
  final case class TimelineInstant(instant: String, action: String,
                                   state: String)

  /** The `.hoodie` TIMELINE — Hudi's history/observability surface: one
    * row per instant file, `state` ∈ completed/inflight/requested, in
    * instant order (completed last within an instant). Covers every
    * action this engine writes or reads: commit, deltacommit,
    * replacecommit, compaction, clean, rollback. SQL spelling:
    * `SELECT * FROM graft_hudi_timeline('/t')`. */
  def timeline(spark: SparkSession, table: String): DataFrame = {
    val dir = new Path(table, ".hoodie")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) throw new IllegalArgumentException(
      s"$table is not a Hudi table (no .hoodie directory)")
    val states = Set("inflight", "requested")
    val rows = fs.listStatus(dir).iterator
      .filter(!_.isDirectory).map(_.getPath.getName)
      .flatMap { n =>
        n.split('.') match {
          case Array(ts, action) if ts.nonEmpty && ts.forall(_.isDigit) =>
            Some(TimelineInstant(ts, action, "completed"))
          case Array(ts, action, st) if ts.nonEmpty &&
              ts.forall(_.isDigit) && states(st) =>
            Some(TimelineInstant(ts, action, st))
          case _ => None // hoodie.properties, markers, sidecars
        }
      }.toSeq.sortBy(t => (instantKey(t.instant), t.action, t.state))
    spark.createDataFrame(rows)
  }

  /** fileIds removed by clustering/overwrite replacecommits ≤ ceiling. */
  private[graft] def replacedFileIds(spark: SparkSession, table: String,
                                     ceiling: String): Set[(String, String)] = {
    val dir = new Path(table, ".hoodie")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).iterator.map(_.getPath).filter { p =>
      p.getName.endsWith(".replacecommit") &&
        instantKey(p.getName.stripSuffix(".replacecommit")) <= instantKey(ceiling)
    }.flatMap { p =>
      val in = fs.open(p)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      val node = DocPushdown.jsonMapper.readTree(json)
      Option(node.get("partitionToReplaceFileIds")).toSeq.flatMap { m =>
        import scala.jdk.CollectionConverters._
        m.fields().asScala.flatMap { e =>
          e.getValue.elements().asScala.map(fid => (e.getKey, fid.asText()))
        }.toSeq
      }
    }.toSet
  }

  /** One listed file: partition-relative dir, file name, absolute path. */
  private[graft] type Listed = ParallelListing.Listed

  /** All data files of the table, LISTING-FREE when the timeline allows
    * it: every completed commit's `partitionToWriteStats` (the same
    * `.hoodie/` JSONs the reader already parses for replacecommits)
    * names every file the table ever committed, so the file view builds
    * from O(instants) metadata reads with ZERO directory listings — at
    * 10⁶ cloud-store objects the listing is the read-path bottleneck
    * the real Hudi reader avoids via its metadata table, and commit
    * metadata serves that role here. Falls back to the executor-parallel
    * [[ParallelListing]] walk (wall-time bounded by partitions/
    * parallelism) when the timeline cannot vouch for the full file set:
    * any completed instant without write stats (foreign writers, "{}"
    * fixtures), or a `.clean` that does not record its deleted paths
    * (graft cleans do — the metadata view subtracts them, so cleaned
    * tables KEEP the listing-free path). Only completed-instant files
    * are returned on the metadata path — exactly the set visibility
    * filtering keeps anyway. */
  private[graft] def listAllFiles(spark: SparkSession, table: String,
                                  maxFiles: Int): Seq[Listed] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(root, ".hoodie")))
      throw new IllegalArgumentException(
        s"$table is not a Hudi table (no .hoodie directory)")
    filesFromCommitMetadata(spark, table) match {
      case Some(files) =>
        require(files.size <= maxFiles,
          s"$table's commit metadata names more than $maxFiles files — " +
            "raise maxFiles (driver memory) or operate on specific partitions")
        files
      case None => ParallelListing.listFiles(spark, table, _ == ".hoodie", maxFiles)
    }
  }

  /** The table's data files as named by completed commit metadata —
    * `None` when the timeline cannot vouch for the full set (see
    * [[listAllFiles]]). Duplicate paths across commits (replays) fold. */
  private[graft] def filesFromCommitMetadata(spark: SparkSession,
                                             table: String): Option[Seq[Listed]] = {
    val dir = new Path(table, ".hoodie")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val names = fs.listStatus(dir).filterNot(_.isDirectory)
      .map(_.getPath.getName)
    // cleans delete files old commits still name — graft cleans record
    // the deleted paths in their marker, so the metadata view SUBTRACTS
    // them; a clean without that record (foreign/legacy) means only a
    // listing can see what survived
    val deleted = scala.collection.mutable.HashSet.empty[String]
    names.filter(_.endsWith(".clean")).foreach { n =>
      val in = fs.open(new Path(dir, n))
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      Option(DocPushdown.jsonMapper.readTree(json).get("deletedPaths"))
        .filterNot(_.isNull) match {
        case None => return None // pre-round-12 or foreign clean marker
        case Some(arr) =>
          import scala.jdk.CollectionConverters._
          arr.elements().asScala.foreach(p => deleted += p.asText())
      }
    }
    val commits = names.filter { n =>
      val parts = n.split('.')
      parts.length == 2 && parts(0).nonEmpty && parts(0).forall(_.isDigit) &&
        (parts(1) == "commit" || parts(1) == "deltacommit" ||
          parts(1) == "replacecommit")
    }
    // an empty timeline proves nothing about the directory tree
    if (commits.isEmpty) return None
    val ordered = commits.sortBy(n => instantKey(n.split('.')(0))).toSeq
    // parse one commit body → its (table-relative path, size) stats, or
    // None when the commit cannot vouch for its files (no/malformed stats)
    def parse(json: String): Option[Seq[(String, Long)]] = {
      val stats = Option(DocPushdown.jsonMapper.readTree(json)
        .get("partitionToWriteStats")).filterNot(_.isNull)
      stats.flatMap { node =>
        import scala.jdk.CollectionConverters._
        val entries = node.fields().asScala.flatMap { e =>
          e.getValue.elements().asScala.map { st =>
            Option(st.get("path")).map { p =>
              (p.asText(), Option(st.get("fileSizeInBytes"))
                .filterNot(_.isNull).map(_.asLong()).getOrElse(-1L))
            }
          }
        }.toSeq
        if (entries.exists(_.isEmpty)) None else Some(entries.flatten)
      }
    }
    def slurp(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    // active timelines are small; a long un-archived one parses
    // EXECUTOR-PARALLEL so the listing-free path never trades a
    // directory walk for a serial driver loop over 10k instant files
    val perCommit: Seq[Option[Seq[(String, Long)]]] =
      if (ordered.size <= 64)
        ordered.map(n => parse(slurp(fs, new Path(dir, n))))
      else {
        import scala.jdk.CollectionConverters._
        val props = spark.sparkContext.broadcast(
          spark.sparkContext.hadoopConfiguration.iterator().asScala
            .map(e => (e.getKey, e.getValue)).toArray)
        val dirStr = dir.toString
        spark.sparkContext
          .parallelize(ordered.zipWithIndex, math.min(ordered.size,
            spark.sparkContext.defaultParallelism * 2))
          .map { case (n, i) =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            props.value.foreach { case (k, v) => conf.set(k, v) }
            val p = new Path(dirStr, n)
            (i, parse(slurp(p.getFileSystem(conf), p)))
          }.collect().sortBy(_._1).map(_._2).toSeq
      }
    if (perCommit.exists(_.isEmpty)) return None // fall back to listing
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Listed]
    perCommit.flatten.flatten.foreach { case (rel, size) =>
      val slash = rel.lastIndexOf('/')
      val (relDir, name) =
        if (slash < 0) ("", rel)
        else (rel.substring(0, slash), rel.substring(slash + 1))
      // later commits win (a replayed stat with a fresher size)
      out.put(rel, ParallelListing.Listed(relDir, name,
        new Path(table, rel).toString, size))
    }
    deleted.foreach(out.remove) // clean-deleted slices are gone from disk
    Some(out.values.toSeq)
  }

  /** Every base and log file of the table — the planning input for the
    * clean service ([[graft.sink.HudiClean]]). */
  private[graft] def allDataFiles(spark: SparkSession, table: String,
                                  maxFiles: Int): (Seq[BaseFile], Seq[LogFile]) =
    parseFiles(listAllFiles(spark, table, maxFiles))

  private def parseFiles(listed: Seq[Listed]): (Seq[BaseFile], Seq[LogFile]) = {
    val bases = scala.collection.mutable.ArrayBuffer.empty[BaseFile]
    val logs = scala.collection.mutable.ArrayBuffer.empty[LogFile]
    listed.foreach { l =>
      l.name match {
        case BaseFileRe(fileId, _, instant) =>
          bases += BaseFile(l.rel, fileId, instant, l.path, l.size)
        case _ => HudiLogFormat.parseLogFileName(l.name).foreach {
          case (fileId, baseInstant, version, token) =>
            logs += LogFile(l.rel, fileId, baseInstant, version, token, l.path)
        }
      }
    }
    (bases.toSeq, logs.toSeq)
  }

  /** The newest base file per file group with instant ≤ ceiling, replaced
    * groups excluded. A file is visible only if its instant is a
    * COMPLETED commit — a data file landed by a still-inflight write must
    * stay invisible even when a LATER commit raises the ceiling past it
    * (Hudi's read isolation is timeline membership, not a timestamp
    * comparison). */
  private def visibleSlices(bases: Seq[BaseFile], logs: Seq[LogFile],
                            ceiling: String, completed: Set[String],
                            replaced: Set[(String, String)])
      : (Seq[BaseFile], Map[(String, String), Seq[LogFile]]) = {
    val chosen = bases
      .filter(b => instantKey(b.instant) <= instantKey(ceiling) &&
        completed.contains(b.instant) &&
        !replaced.contains((b.partition, b.fileId)))
      .groupBy(b => (b.partition, b.fileId))
      .map { case (_, files) => files.maxBy(b => instantKey(b.instant)) }
      .toSeq
    val baseInstantOf = chosen.map(b => (b.partition, b.fileId) -> b.instant).toMap
    // logs stack on the chosen base (baseInstant ≥ its instant covers the
    // pending-compaction case, where new logs reference the compaction
    // instant before its base file exists); log-only groups have no base
    // at all. Block-level instant filtering happens at decode time.
    val applicableLogs = logs
      .filter(l => !replaced.contains((l.partition, l.fileId)) &&
        instantKey(l.baseInstant) <= instantKey(ceiling) &&
        baseInstantOf.get((l.partition, l.fileId))
          .forall(b => instantKey(b) <= instantKey(l.baseInstant)))
      .groupBy(l => (l.partition, l.fileId))
      .view.mapValues(_.sortBy(l =>
        (instantKey(l.baseInstant), l.version, l.writeToken)))
      .toMap
    (chosen, applicableLogs)
  }

  /** The file slices a compaction at `ceiling` folds: every log-carrying
    * visible group's (partition, fileId, base path if any, ordered log
    * paths) — the planning half of [[graft.sink.HudiCompact]]. */
  private[graft] def compactionSlices(spark: SparkSession, table: String,
                                      ceiling: String, maxFiles: Int)
      : Seq[(String, String, Option[String], Seq[String])] = {
    val completed = completedInstants(spark, table).toSet
    val (bases, logs) = parseFiles(listAllFiles(spark, table, maxFiles))
    val (chosen, logGroups) = visibleSlices(bases, logs, ceiling, completed,
      replacedFileIds(spark, table, ceiling))
    val baseOf = chosen.map(b => (b.partition, b.fileId) -> b.path).toMap
    logGroups.toSeq.map { case ((part, fid), lfs) =>
      (part, fid, baseOf.get((part, fid)), lfs.map(_.path))
    }
  }

  /** Snapshot at the latest completed commit (or `asOf` for time travel —
    * pass an instant from [[completedInstants]] or any timestamp string;
    * the ceiling is inclusive). */
  /** The minimum safe read CEILING recorded by past clean services
    * ([[graft.sink.HudiClean]]): a time-travel / pinned-incremental
    * ceiling BELOW it would select a cleaned file slice and silently
    * shrink results — readers gate on it loudly instead. */
  private[graft] def cleanHorizon(spark: SparkSession,
                                  table: String): Option[String] = {
    val dir = new Path(table, ".hoodie")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    fs.listStatus(dir).iterator.map(_.getPath)
      .filter(_.getName.endsWith(".clean"))
      .flatMap { p =>
        val in = fs.open(p)
        val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        // pre-horizon markers ("{}" bodies) carry no ceiling
        Option(DocPushdown.jsonMapper.readTree(json).get("minSafeCeiling"))
          .filterNot(_.isNull).map(_.asText())
      }.toSeq.maxByOption(instantKey)
  }

  private def gateCleanHorizon(spark: SparkSession, table: String,
                               ceiling: String, what: String): Unit =
    cleanHorizon(spark, table).foreach(h =>
      require(instantKey(ceiling) >= instantKey(h),
        s"$what at instant $ceiling is below the clean horizon $h — the " +
          "file slices serving that instant were deleted by a clean " +
          "service; read at or above the horizon"))

  def snapshot(spark: SparkSession, table: String, asOf: Option[String] = None,
               maxFiles: Int = 1000000): DataFrame = {
    val instants = completedInstants(spark, table)
    require(instants.nonEmpty, s"$table has no completed commits")
    val ceiling = asOf.getOrElse(instants.last)
    asOf.foreach(a => gateCleanHorizon(spark, table, a, "time travel"))
    val completed = instants.toSet
    val (bases, logs) = parseFiles(listAllFiles(spark, table, maxFiles))
    val (chosen, logGroups) =
      visibleSlices(bases, logs, ceiling, completed, replacedFileIds(spark, table, ceiling))
    if (logGroups.isEmpty) {
      if (chosen.isEmpty) spark.emptyDataFrame
      else partitionedScan(spark, table, chosen).getOrElse(
        spark.read.parquet(chosen.map(_.path): _*))
    } else mergedSnapshot(spark, chosen, logGroups, ceiling, completed)
  }

  /** PARTITION-PRUNED COW scan: when every visible base file sits in a
    * hive-style partition directory (`k=v` segments, one shared key
    * set), the scan is built over a [[StaticFileIndex]] whose typed
    * partition columns come from the DIRECTORY NAMES — partition
    * predicates then prune FILES at planning time instead of filtering
    * rows post-scan, Hudi's own partition-pruning contract. Hudi data
    * files usually repeat the partition columns in-row; the data schema
    * excludes them (projection skips the stored copy) and the values
    * come from the index, typed per the file schema when the column
    * exists there (string otherwise). Non-hive layouts (date paths,
    * unpartitioned tables) return None — the plain scan stays the
    * correctness path. File lengths ride along from the listing, so the
    * index costs zero extra filesystem calls. */
  private[graft] def partitionedScan(spark: SparkSession, table: String,
                              chosen: Seq[BaseFile]): Option[DataFrame] = {
    def parse(p: String): Option[Seq[(String, String)]] = {
      if (p.isEmpty) return None
      val kvs = p.split("/").toSeq.map(_.split("=", 2))
      if (kvs.nonEmpty && kvs.forall(a => a.length == 2 && a(0).nonEmpty))
        Some(kvs.map(a => a(0) -> a(1)))
      else None
    }
    val parsed = chosen.map(b => parse(b.partition))
    if (parsed.exists(_.isEmpty)) return None
    val tuples = parsed.flatten
    val keys = tuples.head.map(_._1)
    if (!tuples.forall(_.map(_._1) == keys)) return None
    if (chosen.exists(_.size < 0L)) return None // listing without lengths
    def status(b: BaseFile) =
      new org.apache.hadoop.fs.FileStatus(b.size, false, 1, 128L << 20, 0L, new Path(b.path))
    // one driver footer read types the partition columns (and the data
    // schema): no Spark job
    val fileSchema = ParquetReadShim.footerSchema(spark, status(chosen.head))
    val partitionSchema = StructType(keys.map(k =>
      fileSchema.fields.find(_.name == k)
        .map(f => StructField(k, f.dataType, f.nullable))
        .getOrElse(StructField(k, org.apache.spark.sql.types.StringType))))
    val dataSchema = StructType(
      fileSchema.fields.filterNot(f => keys.contains(f.name)).toSeq)
    val partitions = chosen.zip(tuples).groupBy(_._2).toSeq
      .sortBy(_._1.map(_._2).mkString("/"))
      .map { case (pv, group) =>
        val row: org.apache.spark.sql.catalyst.InternalRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            pv.zip(partitionSchema.fields).map { case ((_, v), f) =>
              StaticFileIndex.partitionValue(v, f.dataType)
            }.toArray[Any])
        (row, group.map { case (b, _) => status(b) }.toArray)
      }
    // declared order when the files repeat the partition columns (the
    // usual Hudi layout); hive-style files without them append the
    // partition columns after the data columns
    val outOrder =
      if (keys.forall(fileSchema.fieldNames.contains))
        fileSchema.fieldNames.toSeq
      else dataSchema.fieldNames.toSeq ++ keys
    Some(StaticFileIndex.parquetRelation(spark, new Path(table),
        dataSchema, partitionSchema, partitions)
      .select(outOrder.map(col): _*))
  }

  /** MOR merged view: base rows overridden by the latest visible log
    * record per `_hoodie_record_key`, `_hoodie_is_deleted` respected. */
  private def mergedSnapshot(spark: SparkSession, bases: Seq[BaseFile],
                             logGroups: Map[(String, String), Seq[LogFile]],
                             ceiling: String, completed: Set[String]): DataFrame = {
    val baseDf = if (bases.isEmpty) None
                 else Some(spark.read.parquet(bases.map(_.path): _*))
    val schema: StructType = baseDf.map(_.schema).getOrElse {
      // log-only table: one bounded driver read of the first log file's
      // first block yields the Avro write schema
      val first = logGroups.values.head.head
      val p = new Path(first.path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      val blocks = try HudiLogFormat.readBlocks(in) finally in.close()
      val avro = blocks.collectFirst {
        case b if b.blockType == HudiLogFormat.TypeAvroData =>
          b.header(HudiLogFormat.HeaderSchema)
      }.getOrElse(throw new IllegalStateException(
        s"log-only Hudi table with no Avro data block in ${first.path}"))
      AvroConvert.toSparkType(
        new org.apache.avro.Schema.Parser().parse(avro)).asInstanceOf[StructType]
    }
    require(schema.fieldNames.contains("_hoodie_record_key"),
      "MOR merge requires Hudi meta fields (_hoodie_record_key); " +
        "this table was written with hoodie.populate.meta.fields=false")

    // decode log records on EXECUTORS, one task per file group. DELETE
    // blocks (0.9-vintage Kryo HoodieKey[] payload, HudiLogFormat
    // .deleteKeys) become tombstone rows that PARTICIPATE in the
    // latest-wins election: a delete kills earlier records of its key,
    // a later re-insert wins over the delete — exactly the log-merge
    // order Hudi applies.
    import scala.jdk.CollectionConverters._
    val props = spark.sparkContext.broadcast(
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray)
    val visibleB = spark.sparkContext.broadcast(
      completed.filter(i => instantKey(i) <= instantKey(ceiling)))
    val groups = logGroups.toSeq.map { case (_, files) => files.map(_.path) }
    // tombstone rows carry nulls in the data columns → everything nullable
    val rowSchema = StructType(schema.fields.map(_.copy(nullable = true)) :+
      StructField("_graft_log_seq", LongType, nullable = false) :+
      StructField("_graft_log_del", org.apache.spark.sql.types.BooleanType,
        nullable = false))
    val logRows = spark.sparkContext
      .parallelize(groups, math.max(1, groups.size))
      .flatMap { paths =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        props.value.foreach { case (k, v) => conf.set(k, v) }
        val blocks = paths.flatMap { path =>
          val p = new Path(path)
          val fs = p.getFileSystem(conf)
          val in = fs.open(p)
          try HudiLogFormat.readBlocks(in) finally in.close()
        }
        // rollbacks applied, then block-level read isolation: only blocks
        // whose instant is a completed delta commit ≤ ceiling are visible
        val visible = HudiLogFormat.effectiveBlocks(blocks)
          .filter(b => visibleB.value.contains(
            b.header.getOrElse(HudiLogFormat.HeaderInstantTime, "")))
          .sortBy(b => b.header.getOrElse(HudiLogFormat.HeaderInstantTime, ""))
        visible.iterator.zipWithIndex.flatMap { case (b, blockIdx) =>
          def seq(recIdx: Int) = blockIdx.toLong << 32 | recIdx.toLong
          if (b.blockType == HudiLogFormat.TypeDelete)
            HudiLogFormat.deleteKeys(b).iterator.zipWithIndex.map {
              case ((key, part), recIdx) =>
                val vals = schema.fields.map(_.name match {
                  case "_hoodie_record_key" => key
                  case "_hoodie_partition_path" => part
                  case _ => null
                })
                Row.fromSeq(vals.toSeq :+ seq(recIdx) :+ true)
            }
          else
            HudiLogFormat.avroRecords(b).iterator.zipWithIndex.map {
              case (rec, recIdx) =>
                val base = AvroConvert.toRow(rec, schema)
                Row.fromSeq(base.toSeq :+ seq(recIdx) :+ false)
            }
        }
      }
    val logDf = spark.createDataFrame(logRows, rowSchema)
    // latest-wins election: map-side-combined hash aggregate (max_by over
    // the within-group sequence), never a window over the key. Tombstones
    // are elected like any record — an elected tombstone still SHADOWS
    // the base row (anti join below) but emits nothing.
    val payload = struct((schema.fieldNames :+ "_graft_log_del").map(col): _*)
    val elected = logDf
      .groupBy(col("_hoodie_record_key").as("_graft_key"))
      .agg(max_by(payload, col("_graft_log_seq")).as("_graft_row"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val latest = elected.where(!col("_graft_row._graft_log_del"))
      .select(schema.fieldNames.map(n => col(s"_graft_row.$n").as(n)): _*)
    // The log side is SMALL by the MOR contract (uncompacted deltas only —
    // that's why compaction exists), so broadcast it while it fits and the
    // base scan never shuffles; a table sitting on an overdue compaction
    // falls back to a shuffle join rather than OOMing the driver.
    val nLog = elected.count()
    val keys = elected.select(col("_graft_key").as("_hoodie_record_key"))
    val keySide = if (nLog <= MaxBroadcastLogRecords) broadcast(keys) else keys
    val merged = baseDf match {
      case Some(b) =>
        b.join(keySide, Seq("_hoodie_record_key"), "left_anti")
          .select(schema.fieldNames.map(col): _*)
          .unionByName(latest)
      case None => latest
    }
    if (schema.fieldNames.contains("_hoodie_is_deleted"))
      merged.where(!coalesce(col("_hoodie_is_deleted"), lit(false)))
    else merged
  }

  /** Rows committed in `(beginInstant, endInstant ?: latest]`: on COW,
    * base files pruned to instants in range then row-filtered on
    * `_hoodie_commit_time` (a COW rewrite copies old rows into the new
    * file, so the filter removes carried-over rows — Hudi's own
    * incremental semantics); on MOR, the merged view row-filtered. */
  /** The base files a COW incremental read of `(begin, end]` scans: per
    * file group the newest visible base, pruned to instants in range.
    * MOR tables (visible log groups) throw — their merge is not
    * per-file-expressible; the `graft-hudi` STREAMING source uses this
    * and gates MOR to the batch [[incremental]]. */
  /** Visible base files at the latest completed instant — the COW
    * planning state of the WRITE side ([[graft.sink.HudiCowWrite]]);
    * Nil for a table with no commits. MOR log-carrying tables throw:
    * a COW upsert over un-compacted logs would lose their records. */
  private[graft] def visibleBaseFiles(spark: SparkSession, table: String,
                                      maxFiles: Int = 1000000): Seq[BaseFile] = {
    val instants = completedInstants(spark, table)
    if (instants.isEmpty) return Nil
    val completed = instants.toSet
    val (bases, logs) = parseFiles(listAllFiles(spark, table, maxFiles))
    val (chosen, logGroups) = visibleSlices(bases, logs, instants.last,
      completed, replacedFileIds(spark, table, instants.last))
    require(logGroups.isEmpty,
      s"$table has visible MOR log files — COW upsert requires a " +
        "compacted table (run HudiCompact first)")
    chosen
  }

  /** Base-file counts per COMPLETED commit instant, ascending — the
    * admission-control unit of the `graft-hudi` tail's
    * `maxFilesPerTrigger`. One executor-parallel listing, no visibility
    * selection: counting RAW bases per instant over-counts groups later
    * rewritten (a rewritten base is invisible when the batch end lands
    * past the rewrite), so the cap errs CONSERVATIVE — a batch never
    * plans more base files of an instant than counted here. Files of
    * inflight/aborted instants are EXCLUDED: admitting one as the batch
    * end would cursor past data that is not readable yet. */
  private[graft] def baseFileCountsByInstant(spark: SparkSession,
                                             table: String,
                                             maxFiles: Int = 1000000)
      : Seq[(String, Int)] = {
    val completed = completedInstants(spark, table).toSet
    val (bases, _) = parseFiles(listAllFiles(spark, table, maxFiles))
    bases.filter(b => completed.contains(b.instant))
      .groupBy(_.instant).view.mapValues(_.size).toSeq
      .sortBy(p => instantKey(p._1))
  }

  private[graft] def incrementalBaseFiles(spark: SparkSession, table: String,
                                          beginInstant: String, endInstant: String,
                                          maxFiles: Int = 1000000): Seq[BaseFile] = {
    val completed = completedInstants(spark, table).toSet
    val (bases, logs) = parseFiles(listAllFiles(spark, table, maxFiles))
    val (chosen, logGroups) = visibleSlices(bases, logs, endInstant, completed,
      replacedFileIds(spark, table, endInstant))
    require(logGroups.isEmpty,
      s"$table has visible MOR log files — the per-file streaming tail " +
        "supports COW tables; use HudiRead.incremental for MOR")
    chosen.filter(b => instantKey(b.instant) > instantKey(beginInstant))
  }

  def incremental(spark: SparkSession, table: String, beginInstant: String,
                  endInstant: Option[String] = None,
                  maxFiles: Int = 1000000): DataFrame = {
    val instants = completedInstants(spark, table)
    require(instants.nonEmpty, s"$table has no completed commits")
    val end = endInstant.getOrElse(instants.last)
    endInstant.foreach(e =>
      gateCleanHorizon(spark, table, e, "incremental pull pinned"))
    val completed = instants.toSet
    val (bases, logs) = parseFiles(listAllFiles(spark, table, maxFiles))
    val (chosen, logGroups) =
      visibleSlices(bases, logs, end, completed, replacedFileIds(spark, table, end))
    // row-level range check on the SAME padded timeline as the file
    // pruning (mixed-width instants: see [[instantKey]])
    val inRange = (df: DataFrame) =>
      df.where(instantKeyCol(col("_hoodie_commit_time")) >
          instantKey(beginInstant) &&
        instantKeyCol(col("_hoodie_commit_time")) <= instantKey(end))
    if (logGroups.isEmpty) {
      val files = chosen.filter(b =>
        instantKey(b.instant) > instantKey(beginInstant))
      if (files.isEmpty) spark.emptyDataFrame
      else inRange(spark.read.parquet(files.map(_.path): _*))
    } else
      inRange(mergedSnapshot(spark, chosen, logGroups, end, completed))
  }
}
