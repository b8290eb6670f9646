package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ParquetReadShim
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Bucketed graft-lake tables + STORAGE-PARTITIONED JOINS (SPJ): two
  * tables hash-bucketed on their join key by the SAME function join with
  * ZERO shuffle — at 100 TB the exchange under a fact-fact join is
  * usually THE dominant cost, and pre-bucketed layouts delete it.
  *
  * Write side ([[BucketedLake.write]]): rows route to
  * `bucket = pmod(xxhash64(key), n)` directories in one shuffled job,
  * and a MANIFEST of per-file record counts/sizes lands next to them
  * ([[ManifestEntry]]) — scans discover files in ONE metadata read and
  * a bare `COUNT(*)` answers with zero per-file IO. Read side: a
  * DataSource V2 catalog (`spark.sql.catalog.<name> =
  * graft.sources.GraftBucketCatalog`, tables addressed as
  * ``<name>.`/path` ``) whose scan reports
  * [[KeyGroupedPartitioning]]`(bucket(n, key), n)` with one input
  * partition per bucket ([[HasPartitionKey]] = the bucket ordinal; an
  * UNFILTERED scan reports ALL n buckets so two tables' partition
  * values align even when buckets are empty, while key-equality/IN
  * predicates BUCKET-PRUNE the scan to the matching partitions —
  * a point lookup reads 1 of n buckets). The catalog doubles as a
  * [[FunctionCatalog]] serving the `bucket` function — Catalyst resolves
  * the transform against it, and `EnsureRequirements` then recognizes
  * both sides as co-partitioned (same canonical function, same bucket
  * count, same partition values) and plans the join WITHOUT exchanges
  * (requires `spark.sql.sources.v2.bucketing.enabled=true`; pinned by
  * BucketedLakeSpec's plan contract).
  *
  * Parquet decode rides Spark's own reader via
  * [[org.apache.spark.sql.graftshim.ParquetReadShim]] (vectorized,
  * footer-pruned), with column pruning pushed through
  * [[SupportsPushDownRequiredColumns]]. Mismatched bucket counts are
  * still CORRECT — Spark simply falls back to a shuffled join. */
object BucketedLake {

  private val SpecFile = "_bucket_spec.txt"
  private val ManifestFile = "_bucket_manifest.txt"
  private[sources] val BucketDir = "__bucket"

  /** One manifest line: bucket ordinal, parquet record count, byte
    * size, table-root-relative path, and OPTIONAL per-column min/max
    * statistics (`stats` — a one-line JSON of
    * `{"col":{"lo":..,"hi":..,"n":nulls}}` in [[StatsPruning]]'s
    * canonical value space). The manifest is written at WRITE
    * time (when the row counts are known for free) and is the scan's
    * source of truth when present: file discovery is ONE metadata read
    * instead of O(buckets) directory listings, and a bare `COUNT(*)`
    * answers from the summed `rows` with ZERO per-file IO — at 10⁶
    * files the difference between a manifest read and a driver footer
    * loop is minutes of serial remote opens. The stats give DATA
    * SKIPPING on ARBITRARY atomic columns (beyond the key/partition
    * axes): a range predicate drops every file whose min/max window
    * cannot hold a match, before any footer is opened. Tables written
    * before the manifest existed fall back to executor-parallel
    * listing/footer sweeps ([[footerSweep]]). */
  final case class ManifestEntry(bucket: Int, rows: Long, size: Long,
                                 rel: String, stats: Option[String] = None)

  /** A fully-parsed manifest version: the layout header the entries
    * were written under, the OPERATION that produced this version
    * (`append` / `replace` / `truncate` / `compact` / `create` /
    * `merge` — the change-data-feed's dispatch key; `None` on versions
    * written before op tagging), the streaming txn watermarks, and the
    * file entries. */
  /** `bloom` = the table-root-relative dir of the version's BLOOM
    * SIDECAR ([[buildBloomIndex]]) — per-(file, column) bloom filters
    * for equality skipping, carried forward by data-preserving commits
    * (file names are write-once, so a sidecar row can never mismatch
    * its file's content; files absent from the sidecar simply don't
    * skip). */
  final case class ManifestData(
      layout: Option[(String, Int, Seq[String])],
      op: Option[String],
      txns: Map[String, Long],
      entries: Seq[ManifestEntry],
      bloom: Option[String] = None,
      // col -> base64 HLL of keys written since the last full replace
      // ([[NdvSketch]]) — the distinctCount column statistic
      ndv: Map[String, String] = Map.empty,
      // the VERSION's per-file key-sortedness claim (`#sorted` header):
      // rides the manifest so it flips ATOMICALLY with the file set it
      // describes — the spec file's `sorted` flag is a separate write,
      // and a scan that read the spec before a cluster() but the
      // manifest after it would claim key order on Z-ordered files
      // (silently wrong sort-free SMJ). `None` (pre-claim manifests)
      // falls back to the spec flag; time-travel reads get each
      // version's OWN claim (a pre-cluster snapshot stays sort-free-
      // joinable after the claim drops at HEAD).
      sortedClaim: Option[Boolean] = None)

  private val CurrentPointer = "_bucket_manifest.current"

  /** The `_file` METADATA COLUMN (table-root-relative path of the row's
    * file) — the group identity for copy-on-write row-level DML (SQL
    * MERGE/UPDATE/DELETE read it to decide which files to rewrite; the
    * runtime group filter's IN-subquery flows these values back into
    * the row-level scan), and a user-facing provenance column
    * (`SELECT _file, * FROM t`). Relative, not absolute: it matches
    * manifest entry rels exactly, so the replace-commit needs no path
    * canonicalization. */
  val FileMetaCol = "_file"
  private[sources] object FileMetadataColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name: String = FileMetaCol
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment: String =
      "table-root-relative path of the file holding the row"
  }
  private[graft] def versionedManifest(v: Long) =
    f"_bucket_manifest.v$v%06d.txt"
  /** Version-addressed PRECISE change rows (a merge's row-level CDC
    * files — the Delta CDF design): written next to the commit they
    * describe, read back by [[changes]], reclaimed by [[vacuum]] with
    * their manifest version. */
  private[sources] def changeDirOf(v: Long) = f"_change/v$v%06d"

  /** MVCC: manifests are IMMUTABLE versioned files and the tiny
    * `_bucket_manifest.current` pointer is the COMMIT POINT — appends
    * and compactions add files and flip the pointer, so a reader that
    * resolved version N keeps a consistent file set for its whole scan
    * while maintenance publishes N+1 next to it (no dir swap, no
    * read-while-replace window; [[vacuum]] reclaims unreferenced files
    * later). Pre-MVCC tables' single `_bucket_manifest.txt` still
    * reads; the next write upgrades them. */
  private[graft] def currentVersion(spark: SparkSession,
                                    path: String): Option[Long] = {
    val p = new Path(path, CurrentPointer)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    @annotation.tailrec
    def resolve(attempt: Int): Option[Long] = {
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      // read to EOF — a single read() may legally return a PREFIX of the
      // file on HDFS/object-store streams, and a truncated version digit
      // would silently resolve the wrong manifest (the single most
      // correctness-critical read in the MVCC design)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 64, false)
        new String(buf.toByteArray, UTF_8).trim
      } finally in.close()
      text.toLongOption match {
        case some @ Some(_) => some
        case None if attempt < 3 => // mid-flip empty window: brief retry
          Thread.sleep(20L << attempt); resolve(attempt + 1)
        case None => throw new IllegalStateException(
          s"unreadable MVCC commit pointer at $p (content: '$text') — " +
            "refusing to fall back to a listing, which would double-count " +
            "superseded files; restore the pointer or rewrite the table")
      }
    }
    resolve(0)
  }

  /** One manifest read, fully parsed ([[ManifestData]]) — every
    * consumer that needs more than one part MUST use this (a manifest
    * can list 10^6 entries; on an object store each re-read is a full
    * GET). TRUNCATION-LOUD: a format-v2 manifest (leading
    * `#graft\t2` line) must close with a matching `#end\t<count>`
    * terminator — a crash mid-write (HDFS exposes unclosed-file
    * prefixes; a local-FS crash leaves partials) produces a file
    * whose line-independent records PARSE cleanly with silently fewer
    * entries, so completeness must be declared, not inferred. A
    * manifest that declares v2 but lacks the matching terminator
    * fails HERE, loudly, on every read path; pre-terminator legacy
    * manifests (no `#graft` line) stay readable. Recovery paths that
    * must tolerate partials ([[repair]], [[vacuum]]) use
    * [[slurpManifestLenient]] and act conservatively. */
  /** Strict parse of ONE fragment — FRAGMENT-LOCAL: on a delta this
    * returns only the adds + full headers; entry-set consumers go
    * through [[resolveManifest]]. Kept for the legacy single-file
    * manifest (never a delta) and header-only reads (txns). */
  private[sources] def slurpManifest(fs: org.apache.hadoop.fs.FileSystem,
                                     p: Path): ManifestData = {
    val raw = slurpRawLenient(fs, p)
    if (raw.truncated) throw new IllegalStateException(
      s"truncated manifest at $p: the file declares format v2 but its " +
        "#end terminator is missing or disagrees with the entry count — " +
        "a crash interrupted the manifest write; run repair() to " +
        "re-point the table at the highest COMPLETE version")
    raw.data
  }

  /** Resolve version `v`'s EFFECTIVE manifest: walk the delta chain
    * down to its full checkpoint and apply removes/adds forward. Depth
    * is bounded by the checkpoint interval. LOUD on a truncated
    * fragment, a missing chain link, or a base that is not `v-1` —
    * every failure names repair() rather than silently resolving a
    * partial file set. */
  private[sources] def resolveManifest(fs: org.apache.hadoop.fs.FileSystem,
                                       path: String, v: Long)
      : ManifestData = {
    val p = new Path(path, versionedManifest(v))
    if (!fs.exists(p)) throw new IllegalStateException(
      s"manifest v$v at $path is missing but a higher delta fragment " +
        "chains through it — the retention closure was violated " +
        "(manual deletion?); run repair() or rewrite the table")
    val raw = slurpRawLenient(fs, p)
    if (raw.truncated) throw new IllegalStateException(
      s"truncated manifest at $p: the fragment's #end/#rmend framing is " +
        "missing or disagrees with its line counts — a crash " +
        "interrupted the manifest write; run repair() to re-point the " +
        "table at the highest COMPLETE version")
    raw.deltaBase match {
      case None => raw.data
      case Some(b) =>
        if (b != v - 1L) throw new IllegalStateException(
          s"manifest v$v at $path declares delta base $b (expected " +
            s"${v - 1L}) — corrupt chain; run repair()")
        val base = resolveManifest(fs, path, b)
        val rm = raw.removes.toSet
        val merged = base.entries.filterNot(e => rm.contains(e.rel)) ++
          raw.data.entries
        // headers come WHOLE from the fragment itself; entries sort the
        // same way a full write would, so resolution is shape-identical
        raw.data.copy(entries = merged.sortBy(e => (e.bucket, e.rel)))
    }
  }

  /** [[resolveManifest]] that returns `None` instead of throwing when
    * the chain is truncated, broken, or incomplete — the conservative
    * primitive repair()/vacuum() act on. */
  private[sources] def resolveManifestLenient(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long): Option[ManifestData] =
    try Some(resolveManifest(fs, path, v))
    // NonFatal, not just IllegalStateException: a corrupt header line
    // (e.g. a non-numeric '#layout' count) must report None here, never
    // throw out of the documented never-throws lenient paths
    catch { case scala.util.control.NonFatal(_) => None }

  /** ONE-FRAGMENT DIFF for the streaming tail: when version `v`
    * committed as a DELTA on `v-1`, its fragment's entry list IS
    * exactly the version's added files and its headers carry the op —
    * `Some((op, removes, adds))` from a single O(changed)-byte read,
    * no chain resolution, no predecessor diff (at 10^6 files the
    * resolve-two-manifests diff is two checkpoint slurps per
    * microbatch step; this is a few hundred bytes). `None` when the
    * fragment is full, torn, missing, or chains a different base — the
    * caller falls back to the resolved diff, so this is PURELY an
    * optimization with identical results. */
  private[graft] def deltaDiffOf(spark: SparkSession, path: String, v: Long)
      : Option[(String, Seq[String], Seq[ManifestEntry])] = {
    val p = new Path(path, versionedManifest(v))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val raw =
      try { if (!fs.exists(p)) return None; slurpRawLenient(fs, p) }
      catch { case scala.util.control.NonFatal(_) => return None }
    if (raw.truncated || !raw.deltaBase.contains(v - 1L)) None
    else raw.data.op.map(op => (op, raw.removes, raw.data.entries))
  }

  /** Header-only probe of a fragment's FIRST bytes — `(chain depth,
    * delta base)`. `#chain`/`#delta` are written immediately after
    * `#graft`, so 1 KiB always covers them: the writer learns the
    * previous fragment's chain depth without slurping a checkpoint
    * that may list 10^6 entries. */
  private[sources] def readPrelude(fs: org.apache.hadoop.fs.FileSystem,
                                   p: Path): (Int, Option[Long]) = {
    val in = fs.open(p)
    val buf = new Array[Byte](1024)
    val read = try {
      var off = 0
      var n = 0
      while (off < buf.length && n >= 0) {
        n = in.read(buf, off, buf.length - off)
        if (n > 0) off += n
      }
      off
    } finally in.close()
    var chain = 0
    var deltaBase: Option[Long] = None
    // a line cut at the buffer boundary ('#delta\t12' truncated from
    // '#delta\t123') would parse a WRONG base silently for foreign-
    // written manifests with long preludes — drop the final line unless
    // the read reached EOF (buffer not filled = whole file seen)
    val lines = new String(buf, 0, read, UTF_8).split("\n", -1)
    val usable = if (read == buf.length) lines.dropRight(1) else lines
    usable.foreach { l =>
      if (l.startsWith("#chain\t"))
        chain = l.stripPrefix("#chain\t").trim.toIntOption.getOrElse(0)
      else if (l.startsWith("#delta\t"))
        deltaBase = l.stripPrefix("#delta\t").trim.toLongOption
    }
    (chain, deltaBase)
  }

  /** One PHYSICAL manifest fragment, pre-resolution. A fragment is
    * either FULL (`deltaBase` empty: `data.entries` IS the live set) or
    * a DELTA (`#delta\t<v-1>` header: `data.entries` are the ADDED
    * entries, `removes` the dropped rels, applied atop the previous
    * version's RESOLVED set — Delta-log-style incremental commits, so
    * an append to a 10^6-file table writes O(changed) bytes, not a
    * full rewrite). `chain` = delta-chain depth (0 = full checkpoint);
    * the writer cuts a fresh full manifest every
    * `spark.graft.bucketed.manifestCheckpointEvery` commits, bounding
    * resolution depth. HEADERS (layout/op/txns/bloom/ndv/sorted) are
    * written FULL in every fragment — they are metadata-sized, and
    * keeping them whole means txn watermarks and skipping indexes
    * never need chain resolution. */
  private[sources] final case class RawManifest(
      data: ManifestData, deltaBase: Option[Long],
      removes: Seq[String], chain: Int, truncated: Boolean,
      pqRel: Option[String] = None)

  /** PARQUET CHECKPOINTS: a full checkpoint at 10^6 files is ~47 MB of
    * text — columnar + dictionary + snappy shrinks the same entry list
    * ~10× and keeps the driver-side slurp cheap (the exact move Delta's
    * log made). Above `spark.graft.bucketed.manifestParquetMinEntries`
    * (default 65536) a CHECKPOINT commit writes its entry list to
    * `_manifest/ckpt-v<N>-<uuid>.parquet` and the text fragment carries
    * a `#pq\t<rel>\t<count>` header instead of entry lines — headers,
    * framing, preludes, deltas and every reader stay text; only the
    * bulk entry list moves. Framing: the parquet's row count must match
    * the declared count or the fragment reads as TORN (same loudness as
    * a cut `#end`). Small tables keep all-text manifests (zero format
    * change below the floor). IO is the parquet-hadoop Group API —
    * driver-side, no Spark job, usable from the (fs, path)-only parse
    * layer. */
  private val CkptSchema = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("""message graft_ckpt {
      required int32 bucket; required int64 rows; required int64 size;
      required binary rel (UTF8); optional binary stats (UTF8); }""")

  private[sources] def writeCkptParquet(
      fs: org.apache.hadoop.fs.FileSystem, tableRoot: Path, rel: String,
      entries: Seq[ManifestEntry]): Unit = {
    val abs = new Path(tableRoot, rel)
    fs.mkdirs(abs.getParent): Unit
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(abs, fs.getConf))
      .withType(CkptSchema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      CkptSchema)
    try entries.foreach { e =>
      val g = gf.newGroup()
      g.add("bucket", e.bucket); g.add("rows", e.rows); g.add("size", e.size)
      g.add("rel", e.rel)
      e.stats.foreach(s => g.add("stats", s))
      w.write(g)
    } finally w.close()
  }

  /** None on ANY failure (missing file, corrupt footer, schema drift) —
    * the caller marks the fragment torn; strict paths then fail loudly
    * naming repair(), lenient paths over-retain. */
  private[sources] def readCkptParquet(
      fs: org.apache.hadoop.fs.FileSystem, tableRoot: Path,
      rel: String): Option[Seq[ManifestEntry]] =
    try {
      val abs = new Path(tableRoot, rel)
      if (!fs.exists(abs)) return None
      val r = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          abs)
        .withConf(fs.getConf)
        .build()
      val out = Seq.newBuilder[ManifestEntry]
      try {
        var g = r.read()
        while (g != null) {
          out += ManifestEntry(
            g.getInteger("bucket", 0), g.getLong("rows", 0),
            g.getLong("size", 0), g.getString("rel", 0),
            if (g.getFieldRepetitionCount("stats") > 0)
              Some(g.getString("stats", 0))
            else None)
          g = r.read()
        }
      } finally r.close()
      Some(out.result())
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Lenient parse of ONE fragment: `truncated` is true iff the
    * manifest declares format v2 (`#graft\t2` first line — written
    * before any entry, so any non-pathological truncation keeps it)
    * but the closing `#end\t<count>` is absent or counts a different
    * number of entries than survived — and, on delta fragments, the
    * same for `#rmend\t<count>` vs the `#rm` lines. */
  private[sources] def slurpRawLenient(
      fs: org.apache.hadoop.fs.FileSystem,
      p: Path): RawManifest = {
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      new String(buf.toByteArray, UTF_8)
    } finally in.close()
    var layout: Option[(String, Int, Seq[String])] = None
    var op: Option[String] = None
    var bloom: Option[String] = None
    var sortedClaim: Option[Boolean] = None
    var declaresV2 = false
    var torn = false
    var endCount: Option[Long] = None
    var deltaBase: Option[Long] = None
    var chain = 0
    var rmEndCount: Option[Long] = None
    var pq: Option[(String, Long)] = None
    val removes = Seq.newBuilder[String]
    var nRm = 0L
    val ndv = Map.newBuilder[String, String]
    val txns = Map.newBuilder[String, Long]
    val entries = Seq.newBuilder[ManifestEntry]
    var n = 0L
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).foreach { l =>
      if (l.startsWith("#graft\t")) {
        declaresV2 = l.split("\t", 2)(1).toIntOption.exists(_ >= 2)
      } else if (l.startsWith("#delta\t")) {
        deltaBase = l.split("\t", 2)(1).toLongOption
        if (deltaBase.isEmpty) torn = true
      } else if (l.startsWith("#chain\t")) {
        chain = l.split("\t", 2)(1).toIntOption.getOrElse(0)
      } else if (l.startsWith("#rm\t")) {
        removes += l.split("\t", 2)(1); nRm += 1L
      } else if (l.startsWith("#rmend\t")) {
        rmEndCount = l.split("\t", 2)(1).toLongOption
      } else if (l.startsWith("#layout\t")) {
        // lenient parse means LENIENT: a corrupt numeric here marks the
        // fragment torn instead of throwing NumberFormatException out of
        // a path documented as never-throws (fragments(), vacuum, repair)
        val parts = l.split("\t")
        if (parts.length >= 3 && parts(2).toIntOption.isDefined)
          layout = Some((parts(1), parts(2).toInt,
            parts.drop(3).filter(_.nonEmpty).toSeq))
        else torn = true
      } else if (l.startsWith("#op\t")) {
        op = Some(l.split("\t", 2)(1))
      } else if (l.startsWith("#bloom\t")) {
        bloom = Some(l.split("\t", 2)(1))
      } else if (l.startsWith("#sorted\t")) {
        sortedClaim = l.split("\t", 2)(1).toBooleanOption
      } else if (l.startsWith("#txn\t")) {
        val parts = l.split("\t", 3)
        if (parts.length == 3 && parts(2).toLongOption.isDefined)
          txns += (parts(1) -> parts(2).toLong)
        else torn = true // corrupt epoch: torn, never NumberFormatException
      } else if (l.startsWith("#ndv\t")) {
        val parts = l.split("\t", 3)
        if (parts.length == 3) ndv += (parts(1) -> parts(2))
      } else if (l.startsWith("#pq\t")) {
        val parts = l.split("\t", 3)
        if (parts.length == 3 && parts(2).toLongOption.isDefined)
          pq = Some((parts(1), parts(2).toLong))
        else torn = true
      } else if (l.startsWith("#end\t")) {
        endCount = l.split("\t", 2)(1).toLongOption
      } else if (!l.startsWith("#")) {
        // 4 fields before stats existed; 5th (optional) = stats JSON —
        // the JSON encoder escapes control chars, so no raw tab inside
        val parts = l.split("\t", 5)
        if (parts.length >= 4 && parts(0).toIntOption.isDefined &&
            parts(1).toLongOption.isDefined &&
            parts(2).toLongOption.isDefined) {
          entries += ManifestEntry(parts(0).toInt, parts(1).toLong,
            parts(2).toLong, parts(3),
            if (parts.length > 4 && parts(4).nonEmpty) Some(parts(4))
            else None)
          n += 1L
        } else torn = true // a cut-mid-line tail — incomplete in ANY format
      }
    }
    // delta-fragment framing: the remove list must be declared-complete
    // too (a torn tail could silently drop `#rm` lines, resurrecting
    // deleted files on resolution); `#rm` lines outside a declared
    // delta are corrupt
    // materialize a parquet checkpoint's entry list: inline entry lines
    // next to a #pq header are corrupt (two sources of truth), a delta
    // cannot be parquet-bodied, and a missing/short/overlong parquet
    // reads as TORN — never as a silently smaller table
    var allEntries = entries.result()
    pq match {
      case Some((rel, declared)) =>
        if (n > 0L || deltaBase.isDefined) torn = true
        else readCkptParquet(fs, p.getParent, rel) match {
          case Some(es) if es.size.toLong == declared => allEntries = es
          case _ => torn = true
        }
      case None => ()
    }
    val truncated = (declaresV2 && !endCount.contains(n)) || torn ||
      (deltaBase.isDefined && !rmEndCount.contains(nRm)) ||
      (deltaBase.isEmpty && nRm > 0L)
    RawManifest(
      ManifestData(layout, op, txns.result(), allEntries, bloom,
        ndv.result(), sortedClaim),
      deltaBase, removes.result(), chain, truncated, pq.map(_._1))
  }

  /** Streaming-writer watermarks carried IN the manifest (the
    * SetTransaction pattern): `#txn\t<appId>\t<epoch>` header lines,
    * committed ATOMICALLY with the file set they gate — a replayed
    * micro-batch can never append twice, because the watermark and the
    * append share one pointer flip. */
  private def slurpTxns(fs: org.apache.hadoop.fs.FileSystem,
                        p: Path): Map[String, Long] =
    slurpManifest(fs, p).txns

  /** The layout header a manifest version carries
    * (`#layout\t<key>\t<buckets>\t<partColOrEmpty>`) — the layout the
    * entries' bucket ordinals and dir segments were WRITTEN under.
    * `None` on manifests written before the header existed. */
  /** [[readManifestFull]] pinned to a SINGLE resolved version — the
    * scan's entry point: the layout header and the entries it guards
    * MUST come from one pointer resolution (two reads could straddle a
    * re-layout commit and defeat the guard). `None` = no manifest
    * (legacy listing fallback). */
  private[sources] def pinnedManifest(spark: SparkSession, path: String,
                                      asOf: Option[Long])
      : Option[ManifestData] =
    // resolving the pointer HERE pins the read: readManifestFull with an
    // explicit version reads exactly that file (None only when no
    // manifest exists at all — the legacy-listing fallback)
    readManifestFull(spark, path, asOf.orElse(currentVersion(spark, path)))

  /** Resolve + parse ONE manifest version completely
    * ([[ManifestData]]) in a single read. `asOf` pins a retained
    * version (loud failure when vacuumed); otherwise the current
    * pointer, falling back to the pre-MVCC legacy manifest. `None` =
    * no manifest at all (callers fall back to listing). */
  private[graft] def readManifestFull(spark: SparkSession, path: String,
                                      asOf: Option[Long] = None)
      : Option[ManifestData] = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    asOf.foreach { v =>
      val vp = new Path(path, versionedManifest(v))
      if (!fs.exists(vp)) throw new IllegalArgumentException(
        s"no manifest version $v at $path — either it never existed or " +
          "vacuum reclaimed it (time travel reaches only retained versions; " +
          s"versions: ${versions(spark, path).mkString(", ")})")
      return Some(resolveManifest(fs, path, v))
    }
    currentVersion(spark, path) match {
      case Some(v) =>
        Some(resolveManifest(fs, path, v))
      case None =>
        val legacy = new Path(path, ManifestFile)
        if (fs.exists(legacy)) Some(slurpManifest(fs, legacy)) else None
    }
  }

  /** The CURRENT manifest's per-appId committed-epoch watermarks. */
  private[graft] def readTxns(spark: SparkSession,
                              path: String): Map[String, Long] = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    currentVersion(spark, path) match {
      case Some(v) => slurpTxns(fs, new Path(path, versionedManifest(v)))
      case None => Map.empty
    }
  }

  private[graft] def readManifest(spark: SparkSession, path: String,
                                  asOf: Option[Long] = None)
      : Option[Seq[ManifestEntry]] =
    readManifestFull(spark, path, asOf).map(_.entries)

  /** Publish `entries` as the next manifest version: the versioned file
    * lands first (invisible), then the pointer flips — the write's
    * atomic commit point. Commits are OPTIMISTIC and CONFLICT-LOUD,
    * the semantics Hudi/Delta/Iceberg share:
    *
    *  - `base = Some(v)` is the OCC READ GATE: `entries` were derived
    *    from manifest version v, so any commit that landed since makes
    *    this one stale — it fails with [[ConcurrentCommitException]]
    *    BEFORE writing (the caller re-reads and retries; the V2 append
    *    commit does this automatically). Without the gate a compaction
    *    racing an append could silently drop the append's files from
    *    the merged manifest.
    *  - the versioned file is created with `overwrite = false`, so two
    *    racing committers that both passed the gate still serialize:
    *    the loser gets the exception HERE, its staged files stay
    *    unreferenced (vacuumable) instead of silently orphaning the
    *    winner's.
    *  - a post-flip pointer readback catches the residual race on
    *    filesystems without atomic create-no-overwrite. A readback
    *    AHEAD of `next` is success, not conflict: with the version
    *    gate, a later committer can only have built on a pointer that
    *    already carried this commit.
    *
    * `base = None` = replace semantics (full [[write]]): the commit
    * does not depend on prior state, last writer wins, the loser's
    * files stay vacuumable. */
  /** Same-JVM committers serialize on a per-table lock: local
    * filesystems implement `create(overwrite = false)` as a non-atomic
    * exists-then-create, so two threads in one driver could both pass
    * the check and clobber one manifest. In-process is exactly the
    * deployment shape where that race is likely (all of a driver's
    * writers share the JVM); ACROSS processes the guard is the store's
    * own atomic create-no-overwrite (HDFS namenode; object stores with
    * conditional put). */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Returns the COMMITTED version number — the caller's handle for
    * version-addressed side data (e.g. a merge's precise change files
    * land under `_change/v<returned>/`). `op` tags the version with the
    * operation that produced it — the change-data-feed's dispatch key
    * ([[changes]]); the default `replace` is the CONSERVATIVE tag (CDF
    * renders a replace as a full old-vs-new diff, correct for any
    * commit). */
  private[graft] def writeManifest(spark: SparkSession, path: String,
                                   entries: Seq[ManifestEntry],
                                   base: Option[Long] = None,
                                   txns: Map[String, Long] = Map.empty,
                                   layout: Option[(String, Int, Seq[String])] = None,
                                   op: String = "replace",
                                   bloom: Option[String] = None,
                                   ndv: Map[String, String] = Map.empty,
                                   sortedClaim: Option[Boolean] = None,
                                   prior: Option[ManifestData] = None)
      : Long = {
    val lock = commitLocks.computeIfAbsent(
      new Path(path).toUri.toString, _ => new Object)
    lock.synchronized {
      writeManifestLocked(spark, path, entries, base, txns, layout, op,
        bloom, ndv, sortedClaim, prior)
    }
  }

  private def writeManifestLocked(spark: SparkSession, path: String,
                                  entries: Seq[ManifestEntry],
                                  base: Option[Long],
                                  txns: Map[String, Long],
                                  layout: Option[(String, Int, Seq[String])],
                                  op: String,
                                  bloom: Option[String],
                                  ndv: Map[String, String],
                                  sortedClaim: Option[Boolean],
                                  // the RESOLVED manifest at `base`, when the
                                  // caller has it in hand (every OCC-gated
                                  // commit does): enables an incremental
                                  // DELTA fragment — commit bytes
                                  // O(changed files), not O(table)
                                  prior: Option[ManifestData]): Long = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cur = currentVersion(spark, path)
    base.foreach { b =>
      val c = cur.getOrElse(0L)
      if (c != b) throw new ConcurrentCommitException(
        s"concurrent commit detected at $path: the manifest advanced from " +
          s"v$b to v$c since this commit's snapshot was read — re-read " +
          "the table and retry", null)
    }
    val next = base.orElse(cur).getOrElse(0L) + 1L
    require(!op.exists(c => c == '\t' || c == '\n'),
      s"manifest op tag cannot contain tab/newline: '$op'")
    require(!bloom.exists(b => b.exists(c => c == '\t' || c == '\n')),
      s"bloom sidecar rel cannot contain tab/newline: $bloom")
    require(ndv.keys.forall(c => !c.exists(ch => ch == '\t' || ch == '\n')),
      s"ndv column names cannot contain tab/newline: ${ndv.keys}")
    // INCREMENTAL DELTA DECISION: with the resolved prior in hand and a
    // meaningfully smaller diff, write only the changed lines
    // (`#delta\t<base>` + adds + `#rm` removes) — at 10^5-10^6 files a
    // full rewrite per APPEND is hundreds of MB of text; the delta is
    // O(changed). Full checkpoints cut every `manifestCheckpointEvery`
    // commits (bounding read-side resolution depth), small tables
    // (< manifestDeltaMinEntries) stay full for simplicity, and a diff
    // that isn't at least half the size of the full set writes full
    // (nothing saved). HEADERS are always written whole.
    val checkpointEvery = spark.conf
      .get("spark.graft.bucketed.manifestCheckpointEvery", "16").toInt
    val minEntries = spark.conf
      .get("spark.graft.bucketed.manifestDeltaMinEntries", "1024").toInt
    val deltaPlan: Option[(Seq[ManifestEntry], Seq[String], Int)] =
      (prior, cur) match {
        case (Some(pm), Some(cv)) if base.contains(cv) &&
            entries.size >= minEntries =>
          val prevByRel = pm.entries.iterator.map(e => e.rel -> e).toMap
          val newRels = entries.iterator.map(_.rel).toSet
          val adds = entries.filterNot(e => prevByRel.get(e.rel).contains(e))
          // a mutated entry (same rel, new stats/size) removes + re-adds
          val removes = pm.entries.iterator.map(_.rel)
            .filterNot(newRels.contains).toSeq ++
            adds.iterator.map(_.rel).filter(prevByRel.contains)
          if ((adds.size + removes.size) * 2 >= entries.size) None
          else {
            val prevChain =
              try readPrelude(fs, new Path(path, versionedManifest(cv)))._1
              catch { case _: java.io.IOException => Int.MaxValue }
            if (prevChain >= checkpointEvery || prevChain == Int.MaxValue)
              None
            else Some((adds, removes, prevChain + 1))
          }
        case _ => None
      }
    val outEntries = deltaPlan.fold(entries)(_._1)
    val outRemoves = deltaPlan.fold(Seq.empty[String])(_._2)
    val chain = deltaPlan.fold(0)(_._3)
    val sortedOut = outEntries.sortBy(e => (e.bucket, e.rel))
    // parquet-bodied CHECKPOINT above the entry floor (deltas and small
    // tables stay all-text); written BEFORE the create-exclusive txt so
    // a torn sequence leaves an orphan parquet (vacuumed later), never
    // a committed pointer to a missing body
    val pqFloor = spark.conf
      .get("spark.graft.bucketed.manifestParquetMinEntries", "65536").toInt
    val pqPlan: Option[String] =
      if (deltaPlan.isEmpty && sortedOut.size >= pqFloor)
        Some(s"_manifest/ckpt-v$next-" +
          s"${java.util.UUID.randomUUID().toString.take(8)}.parquet")
      else None
    pqPlan.foreach(rel => writeCkptParquet(fs, new Path(path), rel, sortedOut))
    // format v2 frames the file: `#graft\t2` leads (written before any
    // entry, so any real truncation keeps it) and `#end\t<count>`
    // closes (`#rmend\t<count>` frames a delta's remove list the same
    // way) — slurpManifest REJECTS a v2 manifest whose terminators are
    // missing or miscount, turning a torn write from silent row loss
    // into a loud failure (see repair()). `#chain`/`#delta` land
    // immediately after `#graft` so readPrelude's 1 KiB probe covers
    // them.
    val vp = new Path(path, versionedManifest(next))
    val out =
      try fs.create(vp, false)
      catch { case e: java.io.IOException if fs.exists(vp) =>
        // lost the race: reclaim this attempt's checkpoint body eagerly
        pqPlan.foreach(rel =>
          try fs.delete(new Path(path, rel), false): Unit
          catch { case scala.util.control.NonFatal(_) => () })
        throw new ConcurrentCommitException(
          s"concurrent commit detected at $path: manifest v$next already " +
            "exists — another writer committed first; re-read the table " +
            "and retry against the new version", e)
      }
    try out.write((Seq("#graft\t2", s"#chain\t$chain") ++
      deltaPlan.map(_ => s"#delta\t${next - 1L}").toSeq ++
      layout.toSeq.map { case (k, n, pcs) =>
      s"#layout\t$k\t$n\t${pcs.mkString("\t")}" } ++
      Seq(s"#op\t$op") ++
      bloom.toSeq.map(b => s"#bloom\t$b") ++
      sortedClaim.toSeq.map(s => s"#sorted\t$s") ++
      ndv.toSeq.sorted.map { case (c, b64) => s"#ndv\t$c\t$b64" } ++
      txns.toSeq.sorted
      .map { case (app, epoch) => s"#txn\t$app\t$epoch" } ++
      pqPlan.toSeq.map(rel => s"#pq\t$rel\t${sortedOut.size}") ++
      outRemoves.sorted.map(r => s"#rm\t$r") ++
      (if (pqPlan.isDefined) Nil
       else sortedOut
        .map(e => s"${e.bucket}\t${e.rows}\t${e.size}\t${e.rel}" +
          e.stats.fold("")(s => s"\t$s"))) ++
      deltaPlan.map(_ => s"#rmend\t${outRemoves.size}").toSeq ++
      Seq(s"#end\t${if (pqPlan.isDefined) 0 else outEntries.size}"))
      .mkString("", "\n", "\n").getBytes(UTF_8))
    finally out.close()
    try flipPointer(spark, fs, path, next)
    catch { case e: Exception =>
      // a manifest above a pointer that never reached it would fail every
      // later commit's create-exclusive: the writer that made it (and no
      // other, so a foreign writer's in-flight manifest is never touched)
      // removes it. A process that dies here leaves it to repair()
      if (!scala.util.Try(currentVersion(spark, path)).toOption.flatten.contains(next)) {
        (vp +: pqPlan.toSeq.map(new Path(path, _)))
          .foreach(p => scala.util.Try(fs.delete(p, false)))
        throw e
      }
    }
    val readback = currentVersion(spark, path)
    if (readback.forall(_ < next)) throw new ConcurrentCommitException(
      s"commit pointer readback mismatch at $path: wrote v$next, " +
        s"read ${readback.fold("nothing")(v => s"v$v")} — a concurrent " +
        "writer raced the flip", null)
    // the legacy single-file manifest is superseded; leaving it behind
    // would resurrect a stale view if the pointer were ever lost. The
    // commit has landed, so a failed delete must not report it as failed
    scala.util.Try(fs.delete(new Path(path, ManifestFile), false)): Unit
    next
  }

  /** Flip the commit pointer ATOMICALLY where the store allows it:
    * write a temp file, FileContext-rename it over the pointer
    * (overwrite rename is atomic on HDFS and local) — no reader ever
    * sees an empty/partial pointer. Stores without an
    * AbstractFileSystem binding fall back to the in-place rewrite,
    * where readers ride [[currentVersion]]'s bounded retry. */
  private def flipPointer(spark: SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          path: String, next: Long): Unit = {
    val ptr = new Path(path, CurrentPointer)
    val tmp = new Path(path, s".ptr-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes(UTF_8)) finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(fc.makeQualified(tmp), fc.makeQualified(ptr),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: Exception =>
        val out2 = fs.create(ptr, true)
        try out2.write(next.toString.getBytes(UTF_8)) finally out2.close()
        // flipped: a leftover temp file is harmless, a thrown commit is not
        scala.util.Try(fs.delete(tmp, false)): Unit
    }
  }

  /** A racing manifest commit lost to another writer — the loser's
    * files are unreferenced (vacuumable), never silently adopted. */
  final class ConcurrentCommitException(msg: String, cause: Throwable)
      extends java.io.IOException(msg, cause)

  /** Move a write's staged files into the two-axis layout under their
    * task-unique names and return their manifest entries — the
    * IDEMPOTENT half of every V2 commit (append, overwrite, and the
    * SQL row-level DML rewrite); only the manifest publication after
    * it ever retries or conflicts. */
  private[sources] def adoptStaged(f: org.apache.hadoop.fs.FileSystem,
      path: String,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Seq[ManifestEntry] = {
    val fresh = Seq.newBuilder[ManifestEntry]
    messages.foreach {
      case GraftBucketCommit(files, _) =>
        files.foreach { case (b, seg, staged, rows, stats) =>
          val prefix = if (seg.isEmpty) "" else s"$seg/"
          val dir = new Path(s"$path/data/${prefix}__bucket=$b")
          f.mkdirs(dir)
          val src = new Path(staged)
          val dest = new Path(dir, src.getName)
          if (!f.rename(src, dest))
            throw new java.io.IOException(s"commit failed moving $staged")
          fresh += ManifestEntry(b, rows, f.getFileStatus(dest).getLen,
            s"data/${prefix}__bucket=$b/${src.getName}", stats)
        }
      case other => throw new IllegalStateException(s"foreign message $other")
    }
    fresh.result()
  }

  /** What a [[vacuum]] pass deleted — or WOULD delete under
    * `dryRun = true` (operators at 100 TB never delete blind).
    * `manifests` counts superseded manifest versions and their change
    * dirs; reclaimed INDEX sidecars (bloom dirs no retained manifest
    * references) report separately as `indexDirs` — folding them into
    * `manifests` would misstate what a pass actually removed. */
  final case class VacuumReport(files: Int, bytes: Long, manifests: Int,
                                stagingDirs: Int, indexDirs: Int = 0)

  /** DISASTER RECOVERY for a lost/corrupt COMMIT POINTER — the escape
    * hatch [[currentVersion]]'s loud failure points at. The pointer is
    * the only mutable file in the MVCC design; the versioned manifests
    * are immutable and complete, so recovery is PRECISE: re-point at
    * the highest version on disk (exactly the last commit that fully
    * landed — a higher-numbered manifest missing means that commit
    * never finished its flip, and its files are unreferenced/
    * vacuumable as always). Returns the restored version. Never
    * guesses from a data-dir listing: a listing would adopt superseded
    * files from unvacuumed history and double-count rows — if the
    * versioned manifests are gone too, the table needs a full
    * [[write]] from upstream, and this fails loudly saying so. */
  def repair(spark: SparkSession, path: String): Long = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val versionsOnDisk = fs.listStatus(new Path(path)).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_bucket_manifest.v") && n.endsWith(".txt"))
        n.stripPrefix("_bucket_manifest.v").stripSuffix(".txt").toLongOption
      else None
    }
    require(versionsOnDisk.nonEmpty,
      s"repair($path): no versioned manifests on disk — the pointer " +
        "cannot be reconstructed (a data-dir listing would adopt " +
        "superseded files and double-count); rewrite the table from " +
        "upstream with write()")
    // walk DOWN from the top: the crash that lost the pointer may also
    // have truncated the in-flight manifest (HDFS exposes unclosed-file
    // prefixes), and a truncated manifest parses cleanly with silently
    // fewer entries — blessing it would re-point the table at a partial
    // file set, losing rows in exactly the disaster repair() exists
    // for. Only a version whose #end terminator matches (or a legacy
    // pre-terminator manifest, which was only ever visible after a full
    // close) may take the pointer; truncated higher versions are
    // crashed commits — unreferenced, vacuumable as always.
    // a DELTA version is only blessable if its WHOLE chain resolves —
    // a complete delta atop a truncated checkpoint is still a partial
    // file set (resolveManifestLenient walks the chain)
    val top = versionsOnDisk.sorted(Ordering[Long].reverse).find { v =>
      scala.util.Try(resolveManifestLenient(fs, path, v))
        .toOption.exists(_.isDefined)
    }.getOrElse(throw new IllegalStateException(
      s"repair($path): every versioned manifest on disk is truncated or " +
        "unreadable — no complete commit to re-point at; rewrite the " +
        "table from upstream with write()"))
    flipPointer(spark, fs, path, top)
    top
  }

  /** (Re)build the key-NDV header from the CURRENT snapshot
    * ([[NdvSketch]]): ONE column-pruned executor scan of the live
    * files, one OCC-gated header-only commit. Two jobs it does that
    * the incremental folds cannot: it BOOTSTRAPS tables whose history
    * predates the header (the commit paths stay silent there rather
    * than under-estimate), and it TIGHTENS the running over-estimate
    * back to exact-live after heavy deletes (HLL cannot subtract, but
    * a fresh scan of what survives can). SQL spelling:
    * `CALL cat.system.analyze('<path>')`. Returns the estimate. */
  /** `cols` extends the sketch to NON-KEY columns (one shared
    * column-pruned pass over the live files): joins on dimension
    * attributes other than the bucket key then get cardinality-driven
    * broadcast decisions too. Non-key sketches are snapshot-accurate at
    * analyze time and survive only DATA-PRESERVING commits
    * (compact/cluster/index/header commits carry the whole `#ndv` map);
    * data-CHANGING commits re-derive the KEY sketch and DROP the rest —
    * a stale non-key sketch could under-estimate after new values land,
    * the unsafe broadcast direction, so absence (re-run analyze) beats
    * staleness. Returns the per-column estimates (key always present).
    * SQL: `CALL cat.system.analyze('<path>'[, 'col1,col2'])`.
    *
    * DELIBERATELY TABLE-WIDE (no `partitionValues` scope, unlike
    * compact/cluster): the header is ONE table-level HLL per column,
    * and HLL union can only ADD — a scoped pass could not merge with
    * the "unscoped remainder" because no per-partition remainder sketch
    * exists, and unioning fresh-scope INTO the old table-wide sketch
    * would re-include every value deleted from the scope, defeating the
    * tightening that is this procedure's whole point. A sound scoped
    * analyze needs per-partition sketch storage (manifest growth
    * O(partitions × columns)) — not worth it while the full pass is one
    * column-pruned scan. */
  def analyzeNdv(spark: SparkSession, path: String,
                 cols: Seq[String] = Nil): Map[String, Long] = {
    val spec = readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path"))
    val base = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(
        s"analyze requires an MVCC manifest at $path — run compact() " +
          "once to upgrade a legacy table"))
    require(NdvSketch.trackable(spec.schema(spec.keyCol).dataType),
      s"key '${spec.keyCol}' " +
        s"(${spec.schema(spec.keyCol).dataType.simpleString}) is not " +
        "NDV-trackable")
    cols.foreach { c =>
      require(spec.schema.fieldNames.contains(c),
        s"no column '$c' to analyze")
      require(NdvSketch.trackable(spec.schema(c).dataType),
        s"column '$c' (${spec.schema(c).dataType.simpleString}) is not " +
          "NDV-trackable")
    }
    val full = readManifestFull(spark, path, Some(base)).get
    val allCols = (spec.keyCol +: cols).distinct
    // value = "<b64>:<nullCount>" — the exact null count rides along
    // because CBO trusts a column only with BOTH stats (hasCountStats)
    val sketches: Map[String, String] =
      if (full.entries.isEmpty)
        allCols.map(_ -> NdvSketch.encode(
          NdvSketch.toB64(NdvSketch.newSketch()), Some(0L))).toMap
      else NdvSketch.sketchColumns(
        spark.read.schema(StructType(
            allCols.map(c => spec.schema(spec.schema.fieldIndex(c)))))
          .parquet(full.entries.map(e => s"$path/${e.rel}"): _*),
        allCols).map { case (c, (b, nulls)) =>
          c -> NdvSketch.encode(b, Some(nulls)) }
    writeManifest(spark, path, full.entries, base = Some(base),
      txns = full.txns,
      layout = Some((spec.keyCol, spec.buckets, spec.partCols)),
      op = "compact", bloom = full.bloom,
      ndv = sketches,
      sortedClaim = full.sortedClaim, prior = Some(full)): Unit
    sketches.view.mapValues(b =>
      NdvSketch.estimate(b).getOrElse(0L)).toMap
  }

  /** Default retention: 7 days (Delta VACUUM's default) — an in-flight
    * reader pinned to a just-superseded version keeps its files as long
    * as the retention covers the longest scan. `minAgeMs = 0` is the
    * FORCE flag: it defeats MVCC isolation for any concurrent reader. */
  val DefaultRetentionMs: Long = 7L * 24L * 60L * 60L * 1000L

  /** Reclaim files no longer referenced by the CURRENT manifest — the
    * GC half of MVCC (old manifest versions and crashed-write staging
    * directories reclaimed too). `minAgeMs` is the retention guard:
    * unreferenced files MODIFIED within the window survive. The
    * retention checks and deletes run EXECUTOR-PARALLEL (after a large
    * compaction the doomed set is O(pre-compaction files) — a driver
    * loop of remote getFileStatus/delete calls would serialize it);
    * `dryRun = true` reports (files, bytes, manifests, stagingDirs)
    * without deleting anything. */
  def vacuum(spark: SparkSession, path: String,
             minAgeMs: Long = DefaultRetentionMs,
             dryRun: Boolean = false): VacuumReport = {
    val cur = currentVersion(spark, path).getOrElse(
      // legacy/no-manifest tables have no unreferenced files
      return VacuumReport(0, 0L, 0, 0))
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val horizon = System.currentTimeMillis() - minAgeMs
    // RETENTION IS SUPERSESSION-TIME, NOT FILE AGE: a file written long
    // ago but superseded a minute ago is exactly what a just-pinned
    // reader is scanning. A data file survives while ANY retained
    // manifest version references it — old manifests age out by THEIR
    // mtime (≈ when the version was superseded by the next commit), and
    // only then do their exclusive files become unreferenced. This also
    // makes every retained version time-travel-safe by construction.
    val manifestStatus = fs.listStatus(new Path(path)).filter { st =>
      val n = st.getPath.getName
      n.startsWith("_bucket_manifest.v") && n.endsWith(".txt")
    }
    // a version is superseded when its SUCCESSOR commits — THAT mtime
    // starts the retention clock, never the version's own creation time
    // (a month-old version replaced a minute ago is exactly what a
    // just-pinned reader is scanning). Versions ABOVE the pointer are
    // crashed/lost commits no reader can pin: their own age applies.
    val byVersion = manifestStatus.flatMap(st =>
      st.getPath.getName.stripPrefix("_bucket_manifest.v")
        .stripSuffix(".txt").toLongOption.map(_ -> st)).sortBy(_._1)
    val agedOut: Set[Long] = byVersion.zipWithIndex.collect {
      case ((v, st), i) if v != cur &&
          (minAgeMs <= 0L ||
            (if (v > cur) st.getModificationTime <= horizon
             else byVersion.drop(i + 1).headOption
               .exists(_._2.getModificationTime <= horizon))) => v
    }.toSet
    // CHAIN CLOSURE: a retained DELTA fragment needs its base (v-1) to
    // resolve, transitively down to its full checkpoint — an aged
    // fragment a retained chain passes through must survive, or every
    // read of the retained version breaks. Preludes (1 KiB header
    // probes) answer is-a-delta without slurping checkpoints.
    // a FAILED probe must read as IS-A-DELTA: treating an unreadable
    // fragment as full would stop the keep walk at it, dooming the base
    // manifest a retained chain still resolves through — one transient
    // IO error would then permanently break every read of that version.
    // As-delta only ever extends chains (keeps MORE), so the doomed set
    // stays a subset of the truly-unreferenced set.
    var preludeFailed = false
    val isDelta: Map[Long, Boolean] = byVersion.map { case (v, st) =>
      v -> (try readPrelude(fs, st.getPath)._2.isDefined
            catch { case _: java.io.IOException =>
              preludeFailed = true; true })
    }.toMap
    val kept = scala.collection.mutable.Set.empty[Long]
    byVersion.map(_._1).sorted(Ordering[Long].reverse).foreach { v =>
      if (!agedOut(v) || kept.contains(v)) {
        kept += v
        var w = v
        while (isDelta.getOrElse(w, false) &&
            isDelta.contains(w - 1L) && !kept.contains(w - 1L)) {
          kept += (w - 1L); w -= 1L
        }
      }
    }
    val doomedManifests = byVersion.collect {
      case (v, st) if agedOut(v) && !kept.contains(v) => st
    }
    val doomedNames = doomedManifests.map(_.getPath.getName).toSet
    // stream version-by-version ASCENDING, applying deltas forward:
    // only the rel/bloom SETS stay resident, never several versions'
    // full entry lists at once. Lenient: a TRUNCATED retained fragment
    // (a crash tore an in-flight commit above the pointer) or a broken
    // chain must make vacuum OVER-RETAIN, never over-delete — the
    // referenced-set is incomplete, so data-file deletion is disabled
    // for the whole pass (repair()/the next commit resolves the
    // partial; a later pass reclaims normally)
    val relB = Set.newBuilder[String]
    val bloomB = Set.newBuilder[String]
    val pqB = Set.newBuilder[String]
    var sawTruncated = false
    var runningV = Long.MinValue
    var running: Set[String] = null
    byVersion.iterator
      .filterNot { case (_, st) => doomedNames.contains(st.getPath.getName) }
      .foreach { case (v, st) =>
        val raw = slurpRawLenient(fs, st.getPath)
        if (raw.truncated) sawTruncated = true
        bloomB ++= raw.data.bloom
        pqB ++= raw.pqRel
        raw.deltaBase match {
          case None =>
            running = raw.data.entries.iterator.map(_.rel).toSet
          case Some(b) =>
            if (!raw.truncated && running != null && b == runningV &&
                b == v - 1L) {
              running = running -- raw.removes ++
                raw.data.entries.iterator.map(_.rel)
            } else { // unresolvable chain: incomplete referenced-set
              sawTruncated = true
              running = null
            }
        }
        runningV = v
        if (running != null) relB ++= running
      }
    val referenced = relB.result()
    // a bloom sidecar lives while ANY retained manifest's header names
    // it (headers carry forward, so one sidecar can back many versions)
    val referencedBlooms = bloomB.result()
    val candidates =
      if (sawTruncated) Nil // over-retain: incomplete referenced-set
      else listDataFiles(spark, path)
        .filterNot(f => referenced.contains(f._4))
        .map(f => (f._2, f._3))
    val (nData, dataBytes) =
      if (candidates.isEmpty) (0, 0L)
      else {
        import scala.jdk.CollectionConverters._
        val props = spark.sparkContext.broadcast(
          spark.sparkContext.hadoopConfiguration.iterator().asScala
            .map(e => (e.getKey, e.getValue)).toArray)
        val doDelete = !dryRun
        spark.sparkContext
          .parallelize(candidates, math.min(candidates.size,
            spark.sparkContext.defaultParallelism * 2))
          .map { case (abs, size) =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            props.value.foreach { case (k, v) => conf.set(k, v) }
            val p = new Path(abs)
            val f = p.getFileSystem(conf)
            val eligible = minAgeMs <= 0L ||
              f.getFileStatus(p).getModificationTime <= horizon
            if (eligible && doDelete) f.delete(p, false): Unit
            if (eligible) (1, size) else (0, 0L)
          }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      }
    // manifests + staging dirs: driver-side, bounded by commit churn
    // (the doomed-manifest set was computed above, before `referenced`).
    // A doomed version's _change/v<N>/ feed dies with its manifest —
    // the change feed reaches exactly the retained versions.
    val doomedChangeDirs = doomedManifests.flatMap(st =>
      st.getPath.getName.stripPrefix("_bucket_manifest.v")
        .stripSuffix(".txt").toLongOption)
      .map(v => new Path(path, changeDirOf(v)))
      .filter(fs.exists)
    // unreferenced bloom sidecars (superseded builds, crashed builds):
    // retention-guarded like staging — an in-flight build's dir is
    // younger than the horizon
    val bloomRoot = new Path(path, "_index/bloom")
    val doomedBlooms =
      if (!fs.exists(bloomRoot)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(bloomRoot).filter { st =>
        st.isDirectory &&
          !referencedBlooms.contains(s"_index/bloom/${st.getPath.getName}") &&
          (minAgeMs <= 0L || st.getModificationTime <= horizon)
      }
    // unreferenced parquet checkpoint bodies (superseded or orphaned by
    // a lost OCC race): reclaim age-guarded, but ONLY when the
    // referenced set is complete — a torn retained fragment may hide
    // its #pq pointer, so over-retain on sawTruncated like data files
    val ckptRoot = new Path(path, "_manifest")
    val referencedCkpts = pqB.result()
    val doomedCkpts =
      if (!fs.exists(ckptRoot) || sawTruncated || preludeFailed)
        Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(ckptRoot).filter { st =>
        st.isFile &&
          !referencedCkpts.contains(s"_manifest/${st.getPath.getName}") &&
          (minAgeMs <= 0L || st.getModificationTime <= horizon)
      }
    // mirror the data-file over-retain rule: if ANY prelude probe
    // failed, the keep-set was computed from incomplete information —
    // retain every manifest this pass; the next vacuum reclaims
    if (!dryRun && !preludeFailed) {
      doomedManifests.foreach(st => fs.delete(st.getPath, false): Unit)
      doomedChangeDirs.foreach(p => fs.delete(p, true): Unit)
      doomedBlooms.foreach(st => fs.delete(st.getPath, true): Unit)
      doomedCkpts.foreach(st => fs.delete(st.getPath, false): Unit)
    }
    // leftovers of crashed writes/compactions/merges; the retention
    // window is what keeps an IN-FLIGHT write's staging alive
    val rootStatus = fs.listStatus(new Path(path))
    val doomedStaging = rootStatus.filter { st =>
      val n = st.getPath.getName
      ((st.isDirectory &&
        (n.startsWith(".write-") || n.startsWith(".compact-") ||
          n.startsWith(".stage-") || n.startsWith(".merge-") ||
          n.startsWith(".cluster-"))) ||
        (st.isFile && n.startsWith(".ptr-"))) &&
        (minAgeMs <= 0L || st.getModificationTime <= horizon)
    }
    if (!dryRun)
      doomedStaging.foreach(st => fs.delete(st.getPath, true): Unit)
    VacuumReport(nData, dataBytes,
      if (preludeFailed) 0
      else doomedManifests.length + doomedChangeDirs.length +
        doomedCkpts.length,
      doomedStaging.length,
      if (preludeFailed) 0 else doomedBlooms.length)
  }

  /** Rebuild manifest entries from the files themselves: one
    * executor-parallel listing of the data dir plus one executor-
    * parallel footer sweep for the record counts — the LEGACY path for
    * tables written before the manifest existed; wall-time is bounded
    * by files/parallelism, never a driver loop. */
  private[graft] def footerSweep(spark: SparkSession,
                                   path: String): Seq[ManifestEntry] =
    footerSweepFiles(spark, listDataFiles(spark, path),
      readSpec(spark, path).map(_.schema))

  /** Footer-count a specific `(bucket, absPath, size, relPath)` file
    * set — executor-parallel, shared by the legacy sweep and the
    * snapshot-atomic [[write]] (which must count ONLY its own staged
    * files, never the superseded ones still on disk). With a schema,
    * per-column min/max/null stats ride the SAME footer read
    * ([[FileStats.fromFooter]]) — data skipping costs no extra IO. */
  private[graft] def footerSweepFiles(spark: SparkSession,
                                      listed: Seq[(Int, String, Long, String)],
                                      statsSchema: Option[StructType] = None,
                                      trusted: Boolean = false)
      : Seq[ManifestEntry] = {
    if (listed.isEmpty) return Nil
    import scala.jdk.CollectionConverters._
    val props = spark.sparkContext.broadcast(
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray)
    spark.sparkContext
      .parallelize(listed, math.min(listed.size,
        spark.sparkContext.defaultParallelism * 2))
      .map { case (b, abs, size, rel) =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        props.value.foreach { case (k, v) => conf.set(k, v) }
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(abs), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val (rows, stats) = try {
          (r.getRecordCount,
            statsSchema.flatMap(s =>
              FileStats.encode(FileStats.fromFooter(r.getFooter, s,
                trusted))))
        } finally r.close()
        ManifestEntry(b, rows, size, rel, stats)
      }.collect().toSeq
  }

  /** Scan-visible listing fallback for tables with no manifest at all. */
  private[sources] def listDataFilesFor(spark: SparkSession, path: String)
      : Seq[(Int, String, String, Long)] =
    listDataFiles(spark, path).map(f => (f._1, f._4, f._2, f._3))

  /** `(bucket, absPath, size, relPath)` of every data parquet —
    * executor-parallel past a handful of buckets ([[ParallelListing]]). */
  private def listDataFiles(spark: SparkSession,
                            path: String): Seq[(Int, String, Long, String)] = {
    val data = new Path(path, "data")
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(data)) return Nil
    ParallelListing.listFiles(spark, data.toString, _ => false, Int.MaxValue)
      .filter(_.name.endsWith(".parquet"))
      .flatMap { l =>
        l.rel.split("/").last match {
          case s if s.startsWith(s"$BucketDir=") =>
            Some((s.stripPrefix(s"$BucketDir=").toInt, l.path, l.size,
              s"data/${l.rel}/${l.name}"))
          case _ => None
        }
      }
  }

  /** Table layout metadata: key column, bucket count, schema (json),
    * whether bucket files are key-sorted (written that way by
    * [[write]] — lets the scan report its ordering so co-located SMJs
    * skip their sorts too), and an optional PARTITION column: the
    * two-axis layout `data/__part=<v>/__bucket=<b>/` every real 100 TB
    * ingest lake uses — date-range predicates prune whole partition
    * directories while key predicates still prune to 1-of-n buckets,
    * and SPJ/DPP hold unchanged (the scan's partitioning stays
    * per-bucket; partition pruning only trims each bucket's file list). */
  final case class Spec(keyCol: String, buckets: Int, schema: StructType,
                        sorted: Boolean, partCols: Seq[String] = Nil)

  private[sources] val PartDir = "__part"
  private[sources] val NullPartName = "__HIVE_DEFAULT_PARTITION__"

  /** Dir-level name of partition axis `i`: `__part`, `__part2`,
    * `__part3`, ... — the composite layout
    * `data/__part=<v1>/__part2=<v2>/__bucket=<b>/` a (dt, region)-
    * partitioned ingest lake uses. The `=` in the prefix match keeps
    * `__part` and `__part2` unambiguous. */
  private[sources] def partDirName(i: Int): String =
    if (i == 0) PartDir else s"$PartDir${i + 1}"

  /** A manifest entry's partition value ON AXIS `axis` in
    * [[PartPruning]]'s canonical space: outer `None` = undecidable
    * (bucket-only layout, legacy rel without the segment, unparsable
    * value), `Some(None)` = the null partition, `Some(Some(v))` = a
    * canonical value. Shared by the scan's pruning, [[merge]]'s group
    * routing, and the overwrite / metadata-delete commit paths — one
    * parse, one strictness rule. */
  private[sources] def entryPartCanon(rel: String, dt: DataType,
                                      axis: Int = 0)
      : Option[Option[Any]] = partValueRawAt(rel, axis) match {
    case None => None
    case Some(None) => Some(None)
    case Some(Some(s)) => PartPruning.parseDirValue(s, dt).map(Some(_))
  }

  /** Every axis's canonical dir value for a rel, bound to its column —
    * the [[PartPruning.matchesAll]] input every multi-axis decision
    * (scan pruning, overwrite scoping, metadata delete, merge routing)
    * shares. */
  private[sources] def entryBindings(rel: String,
                                     axes: Seq[(String, DataType)])
      : Seq[(String, DataType, Option[Option[Any]])] =
    axes.zipWithIndex.map { case ((c, dt), i) =>
      (c, dt, entryPartCanon(rel, dt, i)) }

  /** The raw (unescaped) dir value a manifest rel carries on axis `i` —
    * `None` when the path has no such level, `Some(None)` for the null
    * partition, `Some(Some(v))` otherwise. Partition values are ALSO
    * regular data columns inside every file (RLE makes the duplication
    * ~free), so the directory levels are purely a pruning index —
    * readers never re-inject values from dir names. */
  private[sources] def partValueRawAt(rel: String, i: Int)
      : Option[Option[String]] = {
    val pfx = s"${partDirName(i)}="
    rel.split("/").find(_.startsWith(pfx)).map { seg =>
      val s = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.stripPrefix(pfx))
      if (s == NullPartName) None else Some(s)
    }
  }

  private[sources] def partValueRaw(rel: String): Option[Option[String]] =
    partValueRawAt(rel, 0)

  /** The write-side routing expression — MUST stay in lockstep with
    * [[GraftBucketFunction.produceResult]] (read-side identity). */
  def bucketExpr(keyCol: String, buckets: Int) =
    pmod(xxhash64(col(keyCol)), lit(buckets)).cast("int")

  /** Write `df` hash-bucketed by `keyCol` into `path`: one shuffled job,
    * rows clustered per bucket directory. NULL keys are REJECTED (task
    * failure with a clear message) — the layout's single null contract,
    * shared with the V2 append writer and the V2 `bucket` function: a
    * null key has no bucket, so it can neither be written nor probed.
    *
    * CREATE-OR-REPLACE is SNAPSHOT-ATOMIC: files land in a write-unique
    * staging dir, move into the live bucket dirs under write-unique
    * names, and the manifest pointer flip is the commit — a reader
    * pinned to the previous version keeps a consistent (pre-replace)
    * file set for its whole scan; superseded files stay on disk until
    * [[vacuum]]'s retention lapses. The same MVCC isolation as the V2
    * append path and [[compact]]. */
  /** `maxRowsPerFile`: cap each output file — at 100 TB a bucket is
    * tens of GB, and a single file per bucket is unmanageable (no
    * parallel read within a bucket beyond row groups, whole-file
    * rewrite amplification on merge). Capped writes produce several
    * KEY-SORTED RUNS per bucket (each file a contiguous key range —
    * stats windows stay tight, skipping works); the scan's single-file
    * ordering claim simply withdraws. `None` keeps the one-file-per-
    * bucket layout (sort-free SMJ). NOTE: [[compact]] folds multi-file
    * groups back to ONE file (its purpose is restoring the sort-free
    * join); on a bounded-file table use [[cluster]](keyCol,
    * maxRowsPerFile) as the compaction, which preserves the bound. */
  /** `partitionCols`: the COMPOSITE partition axes, outermost first —
    * `Seq("dt", "region")` lays out
    * `__part=<dt>/__part2=<region>/__bucket=<b>`, and conjuncts on any
    * prefix of the axes prune directories independently
    * ([[PartPruning.matchesAll]]). `partitionCol` remains as the
    * single-axis spelling; setting both is an error. */
  def write(df: DataFrame, path: String, keyCol: String, buckets: Int,
            partitionCol: Option[String] = None,
            maxRowsPerFile: Option[Long] = None,
            partitionCols: Seq[String] = Nil): Unit = {
    require(partitionCol.isEmpty || partitionCols.isEmpty,
      "set partitionCol OR partitionCols, not both")
    val pcols = if (partitionCols.nonEmpty) partitionCols
                else partitionCol.toSeq
    require(df.columns.contains(keyCol), s"no column '$keyCol' to bucket by")
    require(buckets >= 1, "buckets must be >= 1")
    require(maxRowsPerFile.forall(_ >= 1L), "maxRowsPerFile must be >= 1")
    require(pcols.distinct == pcols, s"duplicate partition column: $pcols")
    pcols.foreach { pc =>
      require(df.columns.contains(pc), s"no column '$pc' to partition by")
      require(pc != keyCol, "partition column must differ from the bucket key")
    }
    val spark = df.sparkSession
    // every bucket lands in exactly ONE task (repartition on the bucket
    // value), key-sorted within it -> one key-sorted file per bucket.
    // With a partition column the unit is (partition value, bucket): the
    // dir level is a COPY (`__part`) so the real column stays in the
    // data files and readers never re-inject values from dir names.
    val routed = when(col(keyCol).isNotNull, bucketExpr(keyCol, buckets))
      .otherwise(raise_error(lit(
        s"bucketed write: null '$keyCol' (null keys have no bucket)"))
        .cast("int"))
    val staging = s"$path/.write-${java.util.UUID.randomUUID()}"
    val base = df.withColumn(BucketDir, routed)
    def capped(w: org.apache.spark.sql.DataFrameWriter[
        org.apache.spark.sql.Row]) =
      maxRowsPerFile.fold(w)(n => w.option("maxRecordsPerFile", n))
    if (pcols.isEmpty) {
      capped(base.repartition(buckets, col(BucketDir))
        .sortWithinPartitions(col(BucketDir), col(keyCol))
        .write.mode("overwrite")).partitionBy(BucketDir).parquet(staging)
    } else {
      val dirCols = pcols.indices.map(partDirName)
      val withDirs = pcols.zip(dirCols).foldLeft(base) {
        case (d, (pc, dn)) => d.withColumn(dn, col(pc)) }
      val shuffleCols = dirCols.map(col) :+ col(BucketDir)
      capped(withDirs.repartition(shuffleCols: _*)
        .sortWithinPartitions(shuffleCols :+ col(keyCol): _*)
        .write.mode("overwrite"))
        .partitionBy(dirCols :+ BucketDir: _*)
        .parquet(staging)
    }
    val moved = moveStagedIntoLayout(spark, path, staging, "write")
    // spec lands BEFORE the manifest flip: a reader resolving the new
    // version must see the layout that wrote it (pinned readers hold
    // their Spec in memory — a replace never mutates their view)
    writeSpec(spark, path,
      Spec(keyCol, buckets, df.schema, sorted = true, pcols))
    // write-time manifest over ONLY this write's files: per-file record
    // counts while they are one executor-parallel sweep — scans and the
    // COUNT(*) pushdown then never touch a footer or a directory
    // listing. Streaming watermarks carry forward: a replace does not
    // license a replayed micro-batch to double-append.
    // key-NDV sketch for join planning ([[NdvSketch]]): ONE
    // column-pruned read-back of the just-written files — a full
    // replace starts the sketch fresh
    val ndvHeader =
      if (moved.isEmpty) Map.empty[String, String]
      else NdvSketch.sketchColumn(
        spark.read.schema(StructType(Seq(df.schema(keyCol))))
          .parquet(moved.map(_._2): _*), keyCol)
        .map(b => keyCol -> b).toMap
    writeManifest(spark, path,
      footerSweepFiles(spark, moved, Some(df.schema), trusted = true),
      txns = readTxns(spark, path),
      layout = Some((keyCol, buckets, pcols)), op = "replace",
      ndv = ndvHeader, sortedClaim = Some(true)): Unit
  }

  /** Shuffle `df` (already carrying a `BucketDir` column) into the
    * composite `__part*=/__bucket=` layout under `staging` — the shared
    * rewrite shape of [[compact]]/[[cluster]]/[[merge]]. One task per
    * rewrite group (`numParts`), rows sorted `(dirs..., bucket,
    * tailOrder...)` within it. */
  private def stageComposite(df: DataFrame, pcols: Seq[String],
                             numParts: Int, tailOrder: Seq[Column],
                             staging: String,
                             maxRowsPerFile: Option[Long] = None): Unit = {
    val dirCols = pcols.indices.map(partDirName)
    val withDirs = pcols.zip(dirCols).foldLeft(df) {
      case (d, (pc, dn)) => d.withColumn(dn, col(pc)) }
    val shuffleCols = dirCols.map(col) :+ col(BucketDir)
    val sorted = withDirs.repartition(numParts, shuffleCols: _*)
      .sortWithinPartitions(shuffleCols ++ tailOrder: _*)
    val w0 = sorted.write.mode("overwrite")
    val w = maxRowsPerFile.fold(w0)(n => w0.option("maxRecordsPerFile", n))
    w.partitionBy(dirCols :+ BucketDir: _*).parquet(staging)
  }

  /** A rel's FULL composite partition prefix (`__part=a/__part2=b`,
    * "" on bucket-only layouts) — the rewrite-group segment key shared
    * by compact/cluster. */
  private def compositeSegOf(rel: String): String =
    rel.split("/").filter(seg =>
      seg.startsWith(PartDir) && seg.contains("=") &&
        !seg.startsWith(s"$BucketDir=")).mkString("/")

  /** Walk the staged `(__part=<v>/)?__bucket=<b>/` parquet and move each
    * file into the live layout under a `<tag>-<stamp>-`-unique name —
    * the shared landing step of [[write]] and [[merge]] (staged files
    * are INVISIBLE until the manifest pointer flips; a crashed caller's
    * leftovers are vacuumable, never adopted). Returns
    * `(bucket, absPath, size, relPath)` per moved file. */
  private def moveStagedIntoLayout(spark: SparkSession, path: String,
                                   staging: String, tag: String)
      : Seq[(Int, String, Long, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val moved = Seq.newBuilder[(Int, String, Long, String)]
    def moveBuckets(dir: Path, relPrefix: String): Unit =
      fs.listStatus(dir)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"$BucketDir="))
        .foreach { d =>
          val b = d.getPath.getName.stripPrefix(s"$BucketDir=").toInt
          val destDir = new Path(s"$path/data/$relPrefix$BucketDir=$b")
          fs.mkdirs(destDir)
          fs.listStatus(d.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .foreach { st =>
              val name = s"$tag-$stamp-${st.getPath.getName}"
              val dest = new Path(destDir, name)
              if (!fs.rename(st.getPath, dest))
                throw new java.io.IOException(
                  s"$tag move failed for bucket $b: ${st.getPath}")
              moved += ((b, dest.toString, st.getLen,
                s"data/$relPrefix$BucketDir=$b/$name"))
            }
        }
    // recurse through every `__part*=` level (one per composite axis)
    // before the bucket dirs — staging mirrors the live layout exactly
    def walk(dir: Path, relPrefix: String): Unit = {
      moveBuckets(dir, relPrefix)
      fs.listStatus(dir)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(PartDir))
        .foreach(p => walk(p.getPath, s"$relPrefix${p.getPath.getName}/"))
    }
    walk(new Path(staging), "")
    fs.delete(new Path(staging), true): Unit
    moved.result()
  }

  private[sources] def writeSpec(spark: SparkSession, path: String,
                                 spec: Spec): Unit = {
    val p = new Path(path, SpecFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((s"${spec.keyCol}\n${spec.buckets}\n${spec.schema.json}\n" +
      (if (spec.sorted) "sorted=true\n" else "") +
      // one line per composite axis, outermost first — a single-axis
      // table round-trips byte-identically with the legacy format
      spec.partCols.map(pc => s"partition=$pc\n").mkString).getBytes(UTF_8))
    finally out.close()
  }

  /** CREATE an empty bucketed table — the SQL DDL path
    * (`CREATE TABLE cat.`/p` (...) PARTITIONED BY (dt, bucket(8, k))`):
    * spec + an empty manifest version, so the table is MVCC from birth
    * and `INSERT INTO` (the V2 append writer) is the first commit. */
  def createEmpty(spark: SparkSession, path: String, keyCol: String,
                  buckets: Int, schema: StructType,
                  partitionCol: Option[String] = None,
                  partitionCols: Seq[String] = Nil): Unit = {
    require(partitionCol.isEmpty || partitionCols.isEmpty,
      "set partitionCol OR partitionCols, not both")
    val pcols = if (partitionCols.nonEmpty) partitionCols
                else partitionCol.toSeq
    require(schema.fieldNames.contains(keyCol),
      s"no column '$keyCol' to bucket by")
    require(buckets >= 1, "buckets must be >= 1")
    require(pcols.distinct == pcols, s"duplicate partition column: $pcols")
    pcols.foreach { pc =>
      require(schema.fieldNames.contains(pc),
        s"no column '$pc' to partition by")
      require(pc != keyCol, "partition column must differ from the bucket key")
    }
    require(readSpec(spark, path).isEmpty,
      s"a bucketed table already exists at $path")
    writeSpec(spark, path,
      Spec(keyCol, buckets, schema, sorted = true, pcols))
    writeManifest(spark, path, Nil,
      layout = Some((keyCol, buckets, pcols)), op = "create",
      sortedClaim = Some(true)): Unit
  }

  /** ADDITIVE schema evolution: append nullable columns to the table
    * schema — the same evolution every other layout in the repo
    * supports (MergeWriter.mergeBatch, Delta mergeSchema, Iceberg spec
    * evolution). Old files stay untouched; scans null-fill the missing
    * columns (Spark's parquet reader resolves by name), new appends
    * carry the full schema. Everything layout-derived is UNAFFECTED:
    * the bucket key and partition column cannot change, so SPJ,
    * bucket/partition pruning, the manifest, and the COUNT(*) pushdown
    * hold as before. Any non-additive change (drop, retype, rename,
    * reorder, non-nullable add) fails loudly. */
  def evolveSchema(spark: SparkSession, path: String,
                   newSchema: StructType): Unit = {
    val spec = readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path"))
    val old = spec.schema
    require(newSchema.fields.length >= old.fields.length,
      s"incompatible evolution: cannot drop columns " +
        s"(${old.fields.length} -> ${newSchema.fields.length})")
    old.fields.zip(newSchema.fields.take(old.fields.length)).foreach {
      case (o, n) =>
        require(o.name == n.name && o.dataType == n.dataType,
          s"incompatible evolution: column '${o.name}' " +
            s"(${o.dataType.catalogString}) cannot become '${n.name}' " +
            s"(${n.dataType.catalogString}) — only ADDITIVE evolution " +
            "(append nullable columns) is supported")
    }
    newSchema.fields.drop(old.fields.length).foreach(f =>
      require(f.nullable,
        s"new column '${f.name}' must be nullable — old files can only " +
          "null-fill it"))
    writeSpec(spark, path, spec.copy(schema = newSchema))
  }

  private[graft] def readSpec(spark: SparkSession, path: String): Option[Spec] = {
    val p = new Path(path, SpecFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      new String(buf.toByteArray, UTF_8)
    } finally in.close()
    val lines = text.split("\n").map(_.trim)
    val Array(key, n, schemaJson) = lines.take(3)
    val sorted = lines.drop(3).contains("sorted=true")
    // every `partition=` line, file order = axis order (legacy
    // single-line specs parse as the one-axis composite)
    val partCols = lines.drop(3).filter(_.startsWith("partition="))
      .map(_.stripPrefix("partition=")).filter(_.nonEmpty).toSeq
    Some(Spec(key, n.toInt,
      DataType.fromJson(schemaJson).asInstanceOf[StructType], sorted,
      partCols))
  }

  /** Fold multi-file buckets (appends) back to ONE key-sorted file each,
    * restoring the scan's sort-free-join claim. MVCC: the new files land
    * in the live bucket dirs under compaction-unique names, the old
    * files are NOT touched, and the new manifest version's pointer flip
    * is the commit — a reader that resolved the previous manifest keeps
    * a consistent file set for its whole scan (no dir swap, no
    * read-while-replace window). Superseded files stay on disk until
    * [[vacuum]], exactly the snapshot-expiry shape of any MVCC lake. */
  def compact(spark: SparkSession, path: String): Unit =
    compact(spark, path, Map.empty[String, String])

  /** `partitionValues` SCOPES the fold to matching partition dirs —
    * the `OPTIMIZE ... WHERE` shape every lakehouse maintenance story
    * needs at 100 TB: yesterday's hot partition compacts in minutes
    * while the other 10^3 partitions' files are carried through the
    * manifest untouched (zero data IO outside the scope). Values match
    * the RAW dir strings (exactly what `graft_bucketed_files` shows in
    * `partition`); unknown columns are loud; an empty map folds the
    * whole table. SQL: `CALL cat.system.compact('/p'[, 'dt=2024-01-02,
    * region=eu'])`. */
  def compact(spark: SparkSession, path: String,
              partitionValues: Map[String, String]): Unit = {
    val spec = readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path"))
    partitionValues.keys.foreach { c =>
      require(spec.partCols.contains(c),
        s"'$c' is not a partition column of $path " +
          s"(axes: ${spec.partCols.mkString(", ")})")
    }
    val scopeAxes: Seq[(Int, String)] = partitionValues.toSeq.map {
      case (c, v) => (spec.partCols.indexOf(c), v) }
    def inScope(rel: String): Boolean = scopeAxes.forall { case (i, v) =>
      partValueRawAt(rel, i).flatten.contains(v) }
    // the OCC base: every entry below derives from THIS version — a
    // concurrent commit (e.g. an append) after this point makes the
    // compaction stale, and the write gate fails it loudly instead of
    // silently dropping the append's files from the merged manifest.
    // ONE pinned read serves the version, the entries, AND the txn
    // carry-forward.
    val occBaseOpt = currentVersion(spark, path)
    val occBase = Some(occBaseOpt.getOrElse(0L))
    val full = readManifestFull(spark, path, occBaseOpt)
    // legacy tables materialize a manifest FIRST (pre-compaction file
    // set) — after the new files land, only the manifest can tell the
    // live set apart from superseded files
    val baseEntries = full.map(_.entries).getOrElse(footerSweep(spark, path))
    // the fold unit is (partition dir segment, bucket) — "" when the
    // layout has no partition axis; partition values live in the data
    // files too, so the rewrite reproduces identical dir segments
    val byGroup = baseEntries.groupBy(e => (compositeSegOf(e.rel), e.bucket))
    val multi = byGroup.filter { case ((_, _), es) =>
      es.length > 1 && inScope(es.head.rel) }.toSeq.sortBy(_._1)
    val carryTxns = full.map(_.txns).getOrElse(Map.empty[String, Long])
    val layout = Some((spec.keyCol, spec.buckets, spec.partCols))
    if (multi.isEmpty) {
      if (occBaseOpt.isEmpty) // still upgrade to MVCC
        writeManifest(spark, path, baseEntries, occBase, carryTxns, layout,
          op = "compact", bloom = full.flatMap(_.bloom),
          ndv = full.map(_.ndv).getOrElse(Map.empty),
          sortedClaim = full.flatMap(_.sortedClaim), prior = full): Unit
      return
    }
    val staging = s"$path/.compact-${java.util.UUID.randomUUID()}"
    val folded = spark.read.schema(spec.schema)
      .parquet(multi.flatMap(_._2.map(e => s"$path/${e.rel}")): _*)
      .withColumn(BucketDir, bucketExpr(spec.keyCol, spec.buckets))
    stageComposite(folded, spec.partCols, multi.length,
      Seq(col(spec.keyCol)), staging)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val fresh = multi.map { case ((seg, b), olds) =>
      val prefix = if (seg.isEmpty) "" else s"$seg/"
      val stagedDir = new Path(s"$staging/$prefix$BucketDir=$b")
      val staged = fs.listStatus(stagedDir)
        .filter(_.getPath.getName.endsWith(".parquet"))
      require(staged.length == 1,
        s"compaction produced ${staged.length} files for group ($seg, $b)")
      val name = s"compact-$stamp-${staged.head.getPath.getName}"
      val dest = new Path(s"$path/data/$prefix$BucketDir=$b/$name")
      if (!fs.rename(staged.head.getPath, dest))
        throw new java.io.IOException(
          s"compaction move failed for group ($seg, $b)")
      // a compaction rewrite preserves rows: sum of the folded entries;
      // stats merge the same way (exact, zero reads) — a column
      // survives only if every folded input tracked it
      ManifestEntry(b, olds.map(_.rows).sum, staged.head.getLen,
        s"data/$prefix$BucketDir=$b/$name",
        FileStats.merge(olds.map(_.stats), spec.schema))
    }
    fs.delete(new Path(staging), true): Unit
    val compacted = multi.map(_._1).toSet
    val kept = baseEntries.filterNot(e =>
      compacted.contains((compositeSegOf(e.rel), e.bucket)))
    // a bloom-indexed table extends its sidecar over the folded files
    // (one pruned pass over ONLY the rewrite scope) so skipping never
    // decays through maintenance; the new header commits in the flip
    val bloomHdr = bloomCarryThroughRewrite(spark, path, spec.schema,
      full, kept ++ fresh, fresh)
    // pointer flip = commit; OCC-gated on the snapshot this fold read;
    // streaming watermarks and the layout header carry forward untouched
    writeManifest(spark, path, kept ++ fresh, occBase, carryTxns, layout,
      op = "compact", bloom = bloomHdr,
      ndv = full.map(_.ndv).getOrElse(Map.empty),
      sortedClaim = full.flatMap(_.sortedClaim), prior = full): Unit
  }

  /** CLUSTER the table for DATA SKIPPING: rewrite every (partition,
    * bucket) group with rows ordered by `cols` and split into files of
    * at most `maxRowsPerFile` — each output file then covers a TIGHT
    * min/max window on the clustered columns, so the manifest's third
    * pruning axis drops most of a bucket under range/equality
    * predicates (the OPTIMIZE/ZORDER shape of Delta and Hudi
    * clustering, on this layout — at 100 TB a bucket is many GB, and
    * without clustering its files' windows all span the whole value
    * range: skipping never fires inside a bucket). One column orders
    * by the column itself (exact runs); several interleave the
    * columns' QUANTILE RANKS bit-by-bit into a Z-VALUE, keeping every
    * clustered column skippable at once. Cut points come from a
    * bounded sample — approximation only affects how tight the windows
    * get, NEVER correctness (filters stay residual above the scan).
    *
    * Physical reorganization only: rows unchanged, commit op `compact`
    * (CDF-invisible), MVCC (pinned readers keep the pre-cluster
    * snapshot; superseded files reclaimed by [[vacuum]]), OCC-gated
    * against racing commits. Clustering by anything but the bucket key
    * gives up per-file KEY order, so the spec's `sorted` flag drops
    * and the scan's sort-free-SMJ claim withdraws — correctness first;
    * a full [[write]] restores it. */
  /** `partitionValues` SCOPES the rewrite to matching partition dirs —
    * the same OPTIMIZE-one-partition surface as [[compact]]: cluster
    * yesterday's hot partition in minutes while every other partition's
    * files carry through the manifest untouched (zero data IO outside
    * the scope). Unknown columns are loud; an empty map rewrites the
    * whole table. A PARTIAL key-cluster cannot upgrade the sortedness
    * claim (out-of-scope files decide it), and any non-key cluster
    * still drops it — correctness first. SQL:
    * `CALL cat.system.cluster('/p', 'price,dt'[, maxRows[,
    * 'dt=2024-01-02']])`. */
  def cluster(spark: SparkSession, path: String, cols: Seq[String],
              maxRowsPerFile: Long = 1L << 20,
              partitionValues: Map[String, String] = Map.empty): Unit = {
    val spec = readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path"))
    require(cols.nonEmpty, "cluster needs at least one column")
    require(maxRowsPerFile >= 1L, "maxRowsPerFile must be >= 1")
    cols.foreach { c =>
      require(spec.schema.fieldNames.contains(c),
        s"no column '$c' to cluster by")
      require(FileStats.trackable(spec.schema(c).dataType),
        s"column '$c' (${spec.schema(c).dataType.simpleString}) carries " +
          "no min/max window — clustering it cannot enable skipping")
    }
    partitionValues.keys.foreach { c =>
      require(spec.partCols.contains(c),
        s"'$c' is not a partition column of $path " +
          s"(axes: ${spec.partCols.mkString(", ")})")
    }
    val scopeAxes: Seq[(Int, String)] = partitionValues.toSeq.map {
      case (c, v) => (spec.partCols.indexOf(c), v) }
    def inScope(rel: String): Boolean = scopeAxes.forall { case (i, v) =>
      partValueRawAt(rel, i).flatten.contains(v) }
    val occBaseOpt = currentVersion(spark, path)
    val full = readManifestFull(spark, path, occBaseOpt)
    val baseEntries = full.map(_.entries).getOrElse(footerSweep(spark, path))
    if (baseEntries.isEmpty) return
    val (scoped, carried) = baseEntries.partition(e => inScope(e.rel))
    if (scoped.isEmpty) return
    val carryTxns = full.map(_.txns).getOrElse(Map.empty[String, Long])
    val layout = Some((spec.keyCol, spec.buckets, spec.partCols))
    val df = spark.read.schema(spec.schema)
      .parquet(scoped.map(e => s"$path/${e.rel}"): _*)
    val order: Column =
      if (cols.sizeIs == 1) col(cols.head)
      else zOrderValue(df, cols, spec.schema,
        scoped.iterator.map(_.rows).sum)
    val nGroups = scoped
      .map(e => (compositeSegOf(e.rel), e.bucket)).distinct.size
    val staging = s"$path/.cluster-${java.util.UUID.randomUUID()}"
    val routed = df.withColumn(BucketDir, bucketExpr(spec.keyCol, spec.buckets))
    stageComposite(routed, spec.partCols, nGroups, Seq(order), staging,
      maxRowsPerFile = Some(maxRowsPerFile))
    val moved = moveStagedIntoLayout(spark, path, staging, "cluster")
    val fresh = footerSweepFiles(spark, moved, Some(spec.schema),
      trusted = true)
    // the rewrite preserves rows — a count mismatch means a racing
    // writer or a broken read; fail BEFORE publishing anything
    require(fresh.iterator.map(_.rows).sum ==
        scoped.iterator.map(_.rows).sum,
      s"cluster row-count drift at $path — refusing to commit")
    // the sortedness claim rides the MANIFEST (atomic with the file
    // flip): a FULL key-cluster rewrites every file as a key-sorted
    // run (claim true); a PARTIAL key-cluster leaves out-of-scope
    // files as they were (claim unchanged); anything else Z-orders
    // and the claim drops IN THE SAME COMMIT — a lost OCC race below
    // changes nothing, so the claim (and the spec flag) survive intact
    val keyClustered = cols == Seq(spec.keyCol)
    val claim: Option[Boolean] =
      if (!keyClustered) Some(false)
      else if (carried.isEmpty) Some(true)
      else full.flatMap(_.sortedClaim)
    // clustering rewrites every IN-SCOPE file: extend the sidecar over
    // them or equality skipping goes dark until a manual rebuild
    val bloomHdr = bloomCarryThroughRewrite(spark, path, spec.schema,
      full, carried ++ fresh, fresh)
    writeManifest(spark, path, carried ++ fresh,
      base = Some(occBaseOpt.getOrElse(0L)), txns = carryTxns,
      layout = layout, op = "compact",
      bloom = bloomHdr,
      ndv = full.map(_.ndv).getOrElse(Map.empty),
      sortedClaim = claim, prior = full): Unit
    // sync the legacy spec flag AFTER the commit succeeded — display
    // surfaces and pre-claim readers fall back to it; scans trust the
    // pinned manifest's own claim, so this late write can never
    // mis-order a join
    if (!keyClustered && spec.sorted)
      writeSpec(spark, path, spec.copy(sorted = false))
  }

  /** The Z-VALUE column: each clustered column's quantile rank
    * (`bits` wide, from sampled cut points), bit-interleaved round-
    * robin so every column contributes equally at every scale. Rank
    * lookup is a broadcast binary search (a maintenance rewrite runs
    * it once per row); the interleave itself is pure codegen'd
    * bit-arithmetic. Nulls rank 0 — they cluster together, and
    * null-count stats already price IS [NOT] NULL. */
  private def zOrderValue(df: DataFrame, cols: Seq[String],
                          schema: StructType, totalRows: Long): Column = {
    import org.apache.spark.sql.types._
    val m = cols.length
    // 12 bits = 4096 ranks per column: resolution far beyond any real
    // file count (windows can't get tighter than one file), while the
    // quantile pass stays cheap
    val bits = math.max(1, math.min(12, 63 / m))
    val levels = 1 << bits
    val probs = (1 until levels).map(_.toDouble / levels).toArray
    // rank lookup is [[graft.functions.RankInCuts]] — a codegen'd
    // binary search over the driver-computed cut points, NOT a Scala
    // udf: the one per-row hot loop of the maintenance rewrite stays
    // inside whole-stage codegen
    def rankCol(child: Column, cuts: Array[AnyRef]): Column =
      org.apache.spark.sql.graftshim.ColumnShim.column(
        graft.functions.RankInCuts(
          org.apache.spark.sql.graftshim.ColumnShim.expression(child),
          cuts))
    val ranks: Seq[Column] = cols.map { c =>
      schema(c).dataType match {
        case StringType =>
          val frac =
            if (totalRows <= 0L) 1.0
            else math.min(1.0, 100000.0 / totalRows.toDouble)
          // sample capped by BYTES too: long string values could turn
          // a 100k-row sample into GBs on the driver — truncating each
          // sampled value to a 64-byte prefix keeps cut points small
          // while preserving their ordering role (ranking by prefix is
          // still a total preorder; files just share windows when
          // values collide past 64 bytes)
          val sampled = df.select(substring(col(c), 1, 64)).na.drop()
            .sample(withReplacement = false, frac, seed = 42L)
            .collect().map(_.getString(0))
          val cutsU: Array[AnyRef] = {
            val u = sampled.map(org.apache.spark.unsafe.types.UTF8String
              .fromString): Array[AnyRef]
            // sort in UTF8String's own (binary) order — the SAME
            // comparator the expression's binary search uses
            java.util.Arrays.sort(u)
            if (u.isEmpty) Array.empty[AnyRef]
            else {
              val picked = probs.map(p => u(
                math.min(u.length - 1, (p * u.length).toInt))).distinct
              java.util.Arrays.sort(picked)
              picked
            }
          }
          rankCol(substring(col(c), 1, 64), cutsU)
        case dt =>
          val asD: Column = dt match {
            case DateType => unix_date(col(c)).cast("double")
            case BooleanType => col(c).cast("int").cast("double")
            case _ => col(c).cast("double")
          }
          val named = df.select(asD.as("__zc")).na.drop()
          val cuts = named.stat.approxQuantile("__zc", probs, 0.01)
            .distinct.sorted
          rankCol(asD,
            cuts.map(java.lang.Double.valueOf): Array[AnyRef])
      }
    }
    var z: Column = lit(0L)
    for (bit <- 0 until bits; j <- 0 until m)
      z = z.bitwiseOR(shiftleft(
        shiftright(ranks(j).cast("long"), bit).bitwiseAND(lit(1L)),
        bit * m + j))
    z
  }

  /** The bloom hash seed — [[bucketExpr]]'s xxhash64 seed, shared so
    * the probe side ([[BucketPruning.catalystKey]] +
    * `XxHash64Function.hash`) reproduces the build side bit-exactly. */
  private[sources] val BloomSeed = 42L

  /** Kirsch–Mitzenmacher-style k positions derived from ONE 64-bit
    * value hash (remixed per probe) — build and probe share this. */
  private[sources] def bloomSetBits(bits: Array[Byte], hash64: Long,
                                    m: Int, k: Int): Unit = {
    var h = hash64; var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h, m.toLong).toInt
      bits(pos >> 3) = (bits(pos >> 3) | (1 << (pos & 7))).toByte
      h = h * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
      i += 1
    }
  }

  private[sources] def bloomMightContain(bits: Array[Byte], hash64: Long,
                                         m: Int, k: Int): Boolean = {
    var h = hash64; var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h, m.toLong).toInt
      if ((bits(pos >> 3) & (1 << (pos & 7))) == 0) return false
      h = h * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
      i += 1
    }
    true
  }

  /** Types the bloom axis indexes — exactly [[BucketPruning
    * .catalystKey]]'s set, so every probe literal canonicalizes to the
    * value the build hashed (STRICT: a mismatched literal type never
    * probes; the file is kept). */
  private[sources] def bloomSupported(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType | FloatType | DoubleType | DateType => true
      case _ => false
    }
  }

  /** The bloom sidecar's EXPLICIT schema — every sidecar read MUST use
    * it instead of inference. Two failure modes inference invites:
    * (1) an EMPTY sidecar dir (`_SUCCESS`, zero parquet) throws
    * "Unable to infer schema" and bricks every bloom-reading path on a
    * live table; (2) `col` is a PARTITION DIRECTORY (`partitionBy`
    * at write), so a column legally named `123` or `2024-01-01`
    * re-infers as int/date and `getString` throws — the explicit
    * StringType pins the partition value's type. */
  private[sources] val BloomSidecarSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("rel",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("m",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("bits",
      org.apache.spark.sql.types.BinaryType, nullable = false),
    org.apache.spark.sql.types.StructField("col",
      org.apache.spark.sql.types.StringType, nullable = false)))

  /** Open a bloom sidecar CONSERVATIVELY: explicit schema (see
    * [[BloomSidecarSchema]]), `None` when the dir is missing or the
    * read cannot even plan — an index is an OPTIMIZATION, so every
    * caller maps `None` to "no skip / no coverage", never to a failed
    * query. (Row-level corruption surfaces at action time; callers
    * that collect wrap that too.) */
  private[sources] def readBloomSidecar(spark: SparkSession,
                                        abs: String): Option[DataFrame] = {
    val p = new Path(abs)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else
      try Some(spark.read.schema(BloomSidecarSchema).parquet(abs))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** BLOOM SKIPPING INDEX — the FOURTH pruning axis, for EQUALITY
    * probes on high-cardinality NON-key columns where min/max windows
    * are useless (a uuid/email/session-id lookup in a 100 TB log lake:
    * every file's window spans the whole value space, but a per-file
    * bloom answers "definitely not here" for all but ~fpp of the
    * files). Writes one sidecar parquet per build
    * (`_index/bloom/<uuid>/`, partitioned by column so a probe reads
    * only its column's slice), sized per FILE from the manifest's row
    * counts, built EXECUTOR-PARALLEL with column-pruned reads; the
    * commit is a manifest flip whose `#bloom` header names the sidecar
    * (MVCC: time travel sees each version's own index; op `compact` —
    * no logical change).
    *
    * The header CARRIES FORWARD through data-preserving commits: file
    * names are write-once, so a sidecar row can never mismatch its
    * file's content — files appended/compacted AFTER the build are
    * simply absent from the sidecar and never skip (re-run the build
    * to cover them). Hash = xxhash64(value, seed 42) on BOTH sides;
    * probe literals canonicalize via the bucket-pruning rules, so a
    * type-mismatched literal keeps the file. [[vacuum]] reclaims
    * sidecars no retained manifest references. */
  /** `incremental = true` (the DEFAULT): reuse the current sidecar's
    * rows for files it already covers and read ONLY the uncovered
    * (file, column) pairs — maintenance cost is O(files added since
    * the last build), not O(table). Sound because file names are
    * write-once: a covering sidecar row can never mismatch its file.
    * The sidecar copy-forward is metadata-sized IO (bloom bytes), no
    * data file is re-read. `incremental = false` forces a full
    * rebuild (e.g. after changing `fpp`). */
  def buildBloomIndex(spark: SparkSession, path: String,
                      cols: Seq[String], fpp: Double = 0.01,
                      incremental: Boolean = true): Unit = {
    val spec = readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path"))
    require(cols.nonEmpty, "bloom index needs at least one column")
    require(fpp > 0d && fpp < 1d, s"fpp must be in (0, 1): $fpp")
    cols.foreach { c =>
      require(spec.schema.fieldNames.contains(c), s"no column '$c' to index")
      require(bloomSupported(spec.schema(c).dataType),
        s"column '$c' (${spec.schema(c).dataType.simpleString}) is not " +
          "bloom-indexable (equality probes cannot canonicalize)")
    }
    val occBaseOpt = currentVersion(spark, path)
    val full = readManifestFull(spark, path, occBaseOpt).getOrElse(
      throw new IllegalStateException(
        s"bloom index on $path requires a manifest — write() or " +
          "compact() the table first"))
    // an empty table (e.g. after a full metadata DELETE) has nothing to
    // index: `partitionBy` on zero rows would write a FILE-LESS sidecar
    // dir whose `#bloom` header then carries forward and breaks every
    // later sidecar read — skip BOTH the write and the header commit
    // (re-run the build once data exists; scans on an empty table have
    // no files to skip anyway)
    if (full.entries.isEmpty) return
    val sidecarRel = s"_index/bloom/${java.util.UUID.randomUUID()}"
    val sidecarAbs = s"$path/$sidecarRel"
    // (rel, col) pairs the CURRENT sidecar already covers — a covered
    // file is copied forward, never re-read. An UNREADABLE prior
    // sidecar degrades to a full rebuild (covered = ∅, no copy-
    // forward): the incremental path SELF-HEALS instead of failing.
    val priorDf: Option[(DataFrame, Set[(String, String)])] =
      (if (incremental) full.bloom else None)
        .flatMap(rel => readBloomSidecar(spark, s"$path/$rel"))
        .flatMap { df =>
          // action-time corruption ALSO degrades to a full rebuild
          // (covered = ∅, no copy-forward), not a failed maintenance run
          try Some((df, df.select("rel", "col").collect()
            .map(r => (r.getString(0), r.getString(1))).toSet))
          catch { case scala.util.control.NonFatal(_) => None }
        }
    val covered: Set[(String, String)] =
      priorDf.fold(Set.empty[(String, String)])(_._2)
    // files needing a read: at least one requested column uncovered
    val toBuild = full.entries
      .map(e => (e, cols.filterNot(c => covered((e.rel, c)))))
      .filter(_._2.nonEmpty)
    val freshDf: DataFrame =
      bloomBuildRows(spark, path, spec.schema, toBuild, cols, fpp)
    // copy the prior sidecar's rows forward for files STILL LIVE —
    // metadata-sized IO, no data read; dead rels drop, so the sidecar
    // never outgrows the table
    val sidecar: DataFrame = priorDf match {
      case Some((df, _)) =>
        val liveDf = spark.createDataset(full.entries.map(_.rel))(
          org.apache.spark.sql.Encoders.STRING).toDF("rel")
        df.select("rel", "m", "k", "bits", "col")
          .join(liveDf, Seq("rel"), "left_semi")
          .unionByName(freshDf)
      case None => freshDf
    }
    sidecar.write.partitionBy("col").parquet(sidecarAbs)
    // commit: same entries, new header — invisible until the flip
    writeManifest(spark, path, full.entries,
      base = Some(occBaseOpt.getOrElse(0L)), txns = full.txns,
      layout = Some((spec.keyCol, spec.buckets, spec.partCols)),
      op = "compact", bloom = Some(sidecarRel), ndv = full.ndv,
      sortedClaim = full.sortedClaim, prior = Some(full)): Unit
  }

  /** Executor-parallel bloom-bit build for `(entry, columns-to-read)`
    * pairs: one column-pruned pass per file through the vectorized
    * parquet reader, per-file sizing from the manifest row counts.
    * Shared by [[buildBloomIndex]] and the rewrite carry-through in
    * [[compact]]/[[cluster]]. */
  private def bloomBuildRows(spark: SparkSession, path: String,
                             schema: StructType,
                             toBuild: Seq[(ManifestEntry, Seq[String])],
                             cols: Seq[String],
                             fpp: Double): DataFrame = {
    val outSchema = BloomSidecarSchema
    if (toBuild.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val fields = cols.map(c =>
      (c, schema.fieldIndex(c), schema(c).dataType)).toArray
    val required = StructType(cols.map(c => schema(schema.fieldIndex(c))))
    val readerFn = org.apache.spark.sql.graftshim.ParquetReadShim
      .readerFor(spark, schema, required, Nil)
    // required-schema ordinals differ from table ordinals
    val reqIdx = cols.zipWithIndex.toMap
    val files = toBuild.map { case (e, cs) =>
      (e.rel, s"$path/${e.rel}", e.size, e.rows, cs) }
    val rows = spark.sparkContext
      .parallelize(files, math.min(files.size,
        spark.sparkContext.defaultParallelism * 2))
      .flatMap { case (rel, abs, size, nRows, buildCols) =>
        val (m, k) = graft.sink.BloomIndex.sizing(
          math.max(1L, math.min(nRows, 64_000_000L)).toInt, fpp)
        val build = buildCols.toSet
        val bits = fields.map(f =>
          if (build.contains(f._1)) new Array[Byte](m >> 3) else null)
        val it = org.apache.spark.sql.graftshim.ParquetReadShim.rows(
          readerFn(org.apache.spark.sql.graftshim.ParquetReadShim
            .partitionedFile(abs, size)))
        while (it.hasNext) {
          val row = it.next()
          var i = 0
          while (i < fields.length) {
            if (bits(i) != null) {
              val (c, _, dt) = fields(i)
              val ri = reqIdx(c)
              if (!row.isNullAt(ri)) {
                val h = org.apache.spark.sql.catalyst.expressions
                  .XxHash64Function.hash(row.get(ri, dt), dt, BloomSeed)
                bloomSetBits(bits(i), h, m, k)
              }
            }
            i += 1
          }
        }
        fields.indices.filter(bits(_) != null)
          .map(i => org.apache.spark.sql.Row(
            rel, m, k, bits(i), fields(i)._1))
      }
    spark.createDataFrame(rows, outSchema)
  }

  /** BLOOM COVERAGE THROUGH REWRITES: a data-preserving rewrite
    * (compact/cluster) supersedes files the sidecar covered — carrying
    * the OLD header forward would silently drop bloom skipping on every
    * rewritten file until someone re-runs the build (conservative
    * no-skip, but a coverage decay the stats axis doesn't suffer:
    * column stats merge exactly at rewrite). This builds bloom bits for
    * the FRESH files over the columns the index already tracks — one
    * extra column-pruned pass over ONLY the rewritten scope, while
    * still-covered rows copy forward as metadata-sized IO — and writes
    * a new sidecar whose rel commits in the SAME manifest flip as the
    * rewrite. Returns the header to commit: the new sidecar, the old
    * one when there's nothing to extend, or None when no index exists.
    * Rewrite-built entries size at the default fpp (the original
    * build's fpp isn't recorded; a later full rebuild re-homogenizes).
    * An unreadable prior sidecar keeps the OLD header — same
    * conservative no-skip a plain carry-forward gives. */
  private def bloomCarryThroughRewrite(spark: SparkSession, path: String,
                                       schema: StructType,
                                       prior: Option[ManifestData],
                                       liveEntries: Seq[ManifestEntry],
                                       freshEntries: Seq[ManifestEntry])
      : Option[String] = {
    val priorRel = prior.flatMap(_.bloom)
    if (priorRel.isEmpty || freshEntries.isEmpty) return priorRel
    val priorSidecar = readBloomSidecar(spark, s"$path/${priorRel.get}")
      .getOrElse(return priorRel)
    // the indexed column set (and coverage) come from the sidecar itself
    val (indexedCols, covered) =
      try {
        val pairs = priorSidecar.select("rel", "col").collect()
          .map(r => (r.getString(0), r.getString(1)))
        (pairs.map(_._2).distinct.toSeq.sorted, pairs.toSet)
      } catch {
        case scala.util.control.NonFatal(_) => return priorRel
      }
    if (indexedCols.isEmpty) return priorRel
    val toBuild = freshEntries
      .map(e => (e, indexedCols.filterNot(c => covered((e.rel, c)))))
      .filter(_._2.nonEmpty)
    val freshDf = bloomBuildRows(spark, path, schema, toBuild, indexedCols,
      fpp = 0.01)
    val sidecarRel = s"_index/bloom/${java.util.UUID.randomUUID()}"
    val liveDf = spark.createDataset(liveEntries.map(_.rel))(
      org.apache.spark.sql.Encoders.STRING).toDF("rel")
    priorSidecar.select("rel", "m", "k", "bits", "col")
      .join(liveDf, Seq("rel"), "left_semi")
      .unionByName(freshDf)
      .write.partitionBy("col").parquet(s"$path/$sidecarRel")
    Some(sidecarRel)
  }

  /** EXACTLY-ONCE STREAMING INGEST into a bucketed table: each
    * micro-batch appends through the V2 writer under the transactional
    * watermark `(appId, epochId)` — the watermark line commits in the
    * SAME manifest pointer flip as the batch's files, so a micro-batch
    * Spark re-delivers after a crash (checkpoint commit lost) is a
    * clean no-op, never a double append. Combined with the OCC retry,
    * several streams (distinct appIds) can ingest one table
    * concurrently. The table must exist ([[write]], [[createEmpty]],
    * or SQL `CREATE TABLE`). */
  def streamInto(stream: DataFrame, path: String, appId: String,
                 checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val catName = "graft_bucketed_stream"
    stream.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, epochId: Long) =>
        val s = b.sparkSession
        s.conf.set(s"spark.sql.catalog.$catName",
          classOf[GraftBucketCatalog].getName)
        b.writeTo(s"$catName.`$path`")
          .option("graft.txnAppId", appId)
          .option("graft.txnEpoch", epochId.toString)
          .append()
      }.start()
  }

  /** Retained-history summary — one row per retained manifest version:
    * `(version, files, rows, bytes, txn_watermarks)`. Metadata-bounded
    * (one manifest read per retained version); the SQL spelling is
    * `graft_bucketed_history('/p')` — operators at 100 TB inspect the
    * timeline before they vacuum or time-travel. */
  /** ONE-ROW table summary (DESCRIBE DETAIL shape): layout (key,
    * buckets, partition axes, sorted claim), live file/row/byte
    * totals, the key's NDV estimate ([[NdvSketch]] header; null when
    * the table predates it — `CALL system.analyze` bootstraps), and
    * the bloom-indexed sidecar rel. Pure metadata: one pointer
    * resolution + one manifest read, zero data IO at any table size.
    * SQL: `graft_bucketed_stats('/p'[, version])`. */
  def stats(spark: SparkSession, path: String,
            asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val spec = readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path"))
    val v = asOf.orElse(currentVersion(spark, path))
    val m = readManifestFull(spark, path, v).getOrElse(
      throw new IllegalArgumentException(
        s"no bucketed-lake manifest at $path"))
    Seq((v.getOrElse(0L), spec.keyCol, spec.buckets,
      spec.partCols.mkString(","), spec.sorted,
      m.entries.size.toLong, m.entries.map(_.rows).sum,
      m.entries.map(_.size).sum,
      m.ndv.get(spec.keyCol).flatMap(NdvSketch.estimate)
        .map(java.lang.Long.valueOf).orNull,
      m.bloom.orNull))
      .toDF("version", "key", "buckets", "partition_cols", "sorted",
        "files", "rows", "bytes", "key_ndv", "bloom_index")
  }

  /** FRAGMENT-LEVEL manifest observability — one row per retained
    * manifest FILE (the physical unit the incremental-delta layer
    * writes): whether it is a full checkpoint or a delta, its chain
    * depth and base, the add/remove line counts, the fragment's
    * on-disk bytes, and the RESOLVED live-file count (null when the
    * chain is torn/broken — exactly the health signal that says "run
    * repair()"). At 100 TB this is how an operator audits checkpoint
    * cadence and commit-size behavior: an append writing O(table)
    * bytes shows up here as a fat fragment. SQL:
    * `graft_bucketed_fragments('/p')`. Metadata-bounded: one parse per
    * retained fragment (lenient — a torn fragment reports, never
    * throws). */
  def fragments(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    versions(spark, path).map { v =>
      val p = new Path(path, versionedManifest(v))
      val bytes = fs.getFileStatus(p).getLen
      val raw = slurpRawLenient(fs, p)
      val live: Option[Long] =
        if (raw.truncated) None
        else if (raw.deltaBase.isEmpty) Some(raw.data.entries.size.toLong)
        else resolveManifestLenient(fs, path, v)
          .map(_.entries.size.toLong)
      // a parquet-bodied checkpoint's true commit cost is txt + body
      val bodyBytes = raw.pqRel.flatMap { rel =>
        try Some(fs.getFileStatus(new Path(path, rel)).getLen)
        catch { case scala.util.control.NonFatal(_) => None }
      }
      (v,
        if (raw.deltaBase.isDefined) "delta" else "full",
        if (raw.pqRel.isDefined) "parquet" else "text",
        raw.chain,
        raw.deltaBase.map(java.lang.Long.valueOf).orNull,
        raw.data.entries.size.toLong,
        raw.removes.size.toLong,
        live.map(java.lang.Long.valueOf).orNull,
        bytes + bodyBytes.getOrElse(0L),
        raw.truncated)
    }.toDF("version", "kind", "body", "chain", "base", "adds", "removes",
      "live_files", "bytes", "truncated")
  }

  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    versions(spark, path).map { v =>
      val m = resolveManifest(fs, path, v)
      (v, m.op.getOrElse(""), m.entries.size.toLong,
        m.entries.map(_.rows).sum, m.entries.map(_.size).sum,
        m.txns.toSeq.sorted.map { case (a, e) => s"$a=$e" }.mkString(","))
    }.toDF("version", "operation", "files", "rows", "bytes",
      "txn_watermarks")
  }

  /** FILE-LEVEL metadata view (Iceberg's `files` table shape): one row
    * per live data file of the pinned snapshot — bucket ordinal,
    * partition-dir value (null when absent), manifest row/byte counts,
    * whether the file carries data-skipping stats, and which columns
    * its bloom sidecar covers. Metadata-bounded: ONE manifest read
    * plus (when a bloom header exists) one rel/col-projected scan of
    * the sidecar — never a data file. SQL:
    * `graft_bucketed_files('/p'[, version])` — operators at 100 TB
    * audit layout and skipping health from here (files too small →
    * compact/cluster; bloom_cols empty on fresh files → rebuild the
    * index). */
  def files(spark: SparkSession, path: String,
            asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val m = readManifestFull(spark, path, asOf).getOrElse(
      throw new IllegalArgumentException(
        s"no bucketed-lake manifest at $path"))
    // explicit-schema read; a missing/unreadable sidecar reports "no
    // coverage" (empty bloom_cols) — the audit view must never fail on
    // the very degradation it exists to surface
    val bloomCov: Map[String, String] = m.bloom.flatMap { rel =>
      readBloomSidecar(spark, s"$path/$rel").flatMap { df =>
        try Some(df.select("rel", "col")
          .collect().groupBy(_.getString(0)).view
          .mapValues(_.map(_.getString(1)).sorted.mkString(",")).toMap)
        catch { case scala.util.control.NonFatal(_) => None }
      }
    }.getOrElse(Map.empty)
    m.entries.map { e =>
      val part: Option[String] = partValueRaw(e.rel).flatten
      (e.rel, e.bucket, part.orNull, e.rows, e.size, e.stats.isDefined,
        bloomCov.getOrElse(e.rel, ""))
    }.toDF("file", "bucket", "partition", "rows", "bytes", "has_stats",
      "bloom_cols")
  }

  /** Rows of a manifest-entry set under the table schema — old files
    * null-fill evolved columns (Spark's by-name parquet resolution);
    * `None` for an empty set. */
  private def readRels(spark: SparkSession, path: String, schema: StructType,
                       entries: Seq[ManifestEntry]): Option[DataFrame] =
    if (entries.isEmpty) None
    else Some(spark.read.schema(schema)
      .parquet(entries.map(e => s"$path/${e.rel}"): _*))

  /** The CHANGE DATA FEED between two retained MVCC versions
    * (`fromVersion` EXCLUSIVE, `toVersion` inclusive — Delta CDF's
    * interval convention for "what changed since the snapshot I
    * read"): table columns + `_change_type` + `_commit_version`.
    * Version-by-version dispatch on the commit's op tag:
    *
    *  - `append` — the added files' rows are EXACTLY the inserted rows
    *    (a file-level diff of two manifests: pure metadata, reads only
    *    the new files);
    *  - `compact` — physical reorganization, NO logical change: skip;
    *  - `merge` — the PRECISE row-level feed the merge wrote next to
    *    its commit (`_change/v<N>/`: delete + update pre/postimage +
    *    insert rows); falls back to the file diff (rewritten files
    *    surface as delete+insert churn — coarser, same net effect) if
    *    the change files were lost after a crash between commit and
    *    publish;
    *  - `replace`/`truncate` — a full old-vs-new diff (every old row a
    *    delete, every new row an insert);
    *  - `delete` (the metadata DELETE: entries dropped, no files
    *    added) — the same file diff renders it as pure deletes;
    *  - an UNTAGGED version (written before op tagging) fails loudly —
    *    guessing an op could fabricate or hide changes.
    *
    * Applying the feed (inserts add, deletes remove, postimages replace
    * preimages) to the `fromVersion` snapshot reproduces the
    * `toVersion` snapshot exactly — the IVM/replication contract; the
    * randomized spec pins it. All versions in `[fromVersion,
    * toVersion]` must still be retained (vacuum trims the feed's
    * reach, loudly). */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
              toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val spec = readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path"))
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val retained = versions(spark, path).toSet
    ((fromVersion max 1L) to toVersion).foreach(v =>
      require(retained.contains(v),
        s"manifest version $v at $path is not retained (vacuumed?) — " +
          s"the change feed reaches only retained versions: " +
          s"${retained.toSeq.sorted.mkString(", ")}"))
    def manifestAt(v: Long): ManifestData =
      if (v == 0L) ManifestData(None, None, Map.empty, Nil)
      else resolveManifest(fs, path, v)
    def tagged(df: DataFrame, ct: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(ct))
        .withColumn("_commit_version", lit(v))
    def fileDiff(prev: ManifestData, cur: ManifestData, v: Long)
        : Seq[DataFrame] = {
      val prevRels = prev.entries.map(_.rel).toSet
      val curRels = cur.entries.map(_.rel).toSet
      val removed = prev.entries.filterNot(e => curRels.contains(e.rel))
      val added = cur.entries.filterNot(e => prevRels.contains(e.rel))
      readRels(spark, path, spec.schema, removed)
        .map(tagged(_, "delete", v)).toSeq ++
        readRels(spark, path, spec.schema, added)
          .map(tagged(_, "insert", v)).toSeq
    }
    val frames = ((fromVersion + 1L) to toVersion).flatMap { v =>
      val cur = manifestAt(v)
      val op = cur.op.getOrElse(throw new IllegalStateException(
        s"manifest version $v at $path carries no operation tag " +
          "(written before op tagging) — the change feed cannot classify " +
          "it; rewrite the table or start the feed after this version"))
      op match {
        case "compact" | "create" => Nil
        case "append" =>
          val prevRels = manifestAt(v - 1L).entries.map(_.rel).toSet
          val added = cur.entries.filterNot(e => prevRels.contains(e.rel))
          readRels(spark, path, spec.schema, added)
            .map(tagged(_, "insert", v)).toSeq
        case "merge" if fs.exists(new Path(path, changeDirOf(v))) =>
          Seq(spark.read
            .schema(spec.schema.add("_change_type",
              org.apache.spark.sql.types.StringType, nullable = false))
            .parquet(s"$path/${changeDirOf(v)}")
            .withColumn("_commit_version", lit(v)))
        case _ => // replace / truncate / change-file-less merge
          fileDiff(manifestAt(v - 1L), cur, v)
      }
    }
    frames.reduceOption(_ unionByName _).getOrElse {
      val empty = spec.schema
        .add("_change_type", org.apache.spark.sql.types.StringType,
          nullable = false)
        .add("_commit_version", org.apache.spark.sql.types.LongType,
          nullable = false)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        empty)
    }
  }

  /** What a [[merge]] commit did: row classes, the copy-on-write blast
    * radius, and the committed version (its change feed lives at
    * `_change/v<version>/`). */
  final case class MergeStats(updated: Long, deleted: Long, inserted: Long,
                              rewrittenGroups: Int, rewrittenFiles: Int,
                              version: Long)

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  /** ROW-LEVEL MERGE (upsert + delete) — copy-on-write at
    * `(partition, bucket)` GROUP granularity, the mutation primitive a
    * CDC-fed lake needs. The bucket layout IS the merge index: an
    * upsert/delete key hashes to exactly one bucket, so only the
    * key-holding groups rewrite — a batch touching k keys rewrites at
    * most k groups' files, never the table (at 100 TB this is the
    * difference between a MERGE and a full rewrite; same shape as the
    * repo's Hudi/Delta merge legs, with the bucket hash replacing their
    * key indexes).
    *
    * Semantics (key-unique upsert contract, like every keyed lake):
    *  - an upsert row REPLACES every current row with its key, or
    *    inserts if the key is absent (a key moving partition rewrites
    *    both its old and new group);
    *  - `deleteKeys` rows (column `keyCol`) hard-delete; null delete
    *    keys match nothing and are dropped;
    *  - duplicate upsert keys and upsert∩delete overlap fail LOUDLY
    *    (ambiguous outcomes never guessed).
    *
    * MVCC + OCC: the rewrite derives from ONE pinned manifest, new
    * files land invisibly, and the manifest flip (op=`merge`, gated on
    * the pinned version) is the commit — a concurrent commit fails this
    * merge loudly ([[ConcurrentCommitException]]; merges do not
    * commute, so there is no auto-retry) and its files stay
    * vacuumable. A PRECISE row-level change feed (delete /
    * update_preimage / update_postimage / insert) publishes to
    * `_change/v<version>/` for [[changes]]; pinned readers and time
    * travel see the pre-merge snapshot untouched.
    *
    * Driver collects are metadata-bounded: the touched-bucket set
    * (≤ buckets) and the rewrite-group set (≤ touched partitions ×
    * buckets). */
  def merge(spark: SparkSession, path: String, upserts: DataFrame,
            deleteKeys: DataFrame): MergeStats = {
    val spec = readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path"))
    val base = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(
        s"merge requires an MVCC manifest at $path — run compact() once " +
          "to upgrade a legacy table"))
    val m = readManifestFull(spark, path, Some(base)).get
    m.layout.foreach { case (k, n, pc) =>
      require(k == spec.keyCol && n == spec.buckets && pc == spec.partCols,
        s"bucketed table $path layout changed under this merge — re-read " +
          "and retry")
    }
    val key = spec.keyCol
    val n = spec.buckets
    val inCols = upserts.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val declared = spec.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(inCols == declared,
      s"merge upserts must match the table schema " +
        s"${spec.schema.simpleString}, got ${upserts.schema.simpleString}")
    require(deleteKeys.columns.contains(key),
      s"deleteKeys needs a '$key' column, got " +
        deleteKeys.columns.mkString(", "))
    // ambiguity gates — bounded by the BATCH size, not the table
    require(upserts.where(col(key).isNull).isEmpty,
      "merge: null upsert key (null keys have no bucket)")
    val upK = upserts.select(col(key))
    require(upK.distinct().count() == upserts.count(),
      "merge: duplicate upsert keys — resolve (precombine) before merging")
    val delK = deleteKeys.select(col(key)).where(col(key).isNotNull)
      .distinct()
    require(upK.join(delK, Seq(key), "left_semi").isEmpty,
      "merge: a key appears in both upserts and deleteKeys — ambiguous")

    // ---- blast radius: touched buckets, then rewrite groups ----------
    val allKeys = upK.unionByName(delK).distinct()
    // bounded collect: ≤ `buckets` ordinals
    val touchedBuckets = allKeys.select(bucketExpr(key, n).as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val touchedEntries = m.entries.filter(e =>
      touchedBuckets.contains(e.bucket))
    val partDt: Seq[(String, DataType)] = spec.partCols.map(pc =>
      (pc, spec.schema.fields(spec.schema.fieldIndex(pc)).dataType))
    // group id = (canonical partition values per axis, bucket);
    // bucket-only layouts use (Nil, bucket). Entry side parses the dir
    // segments — if ANY touched entry cannot parse (legacy path, exotic
    // partition type), fall back to whole-BUCKET granularity: coarser
    // rewrite, identical results.
    def entryGroup(e: ManifestEntry): Option[Seq[Option[Any]]] = {
      val per = partDt.zipWithIndex.map { case ((_, dt), i) =>
        entryPartCanon(e.rel, dt, i) }
      if (per.exists(_.isEmpty)) None else Some(per.flatten)
    }
    val entryGroups = touchedEntries.map(e => e -> entryGroup(e))
    // the data side (dataGroups → None) catches partition types the
    // canonical space cannot represent — both sides must agree to use
    // group granularity
    val groupable = entryGroups.forall(_._2.isDefined)
    // data-side group of a row, in the SAME canonical space (the
    // parse/render identity is property-tested on every key type)
    def dataGroups(df: DataFrame): Option[Set[(Seq[Option[Any]], Int)]] = {
      val cols = partDt.map(p => col(p._1)) :+
        bucketExpr(key, n).as("__b")
      // bounded collect: ≤ touched partitions × buckets distinct groups
      val rows = df.select(cols: _*).distinct().collect()
      val groups = rows.map { r =>
        val per: Seq[Option[Option[Any]]] = partDt.zipWithIndex.map {
          case ((_, dt), i) =>
            val raw = r.get(i)
            if (raw == null) Some(None)
            else PartPruning.canonical(raw, dt).map(Some(_))
        }
        if (per.exists(_.isEmpty)) None
        else Some((per.flatten, r.getInt(r.length - 1)))
      }
      if (groups.exists(_.isEmpty)) None else Some(groups.flatten.toSet)
    }
    val touchedDf = readRels(spark, path, spec.schema, touchedEntries)
    val matchedGroupsOpt = touchedDf match {
      case None => Some(Set.empty[(Seq[Option[Any]], Int)])
      case Some(df) => dataGroups(df.join(allKeys, Seq(key), "left_semi"))
    }
    val rewriteEntries: Seq[ManifestEntry] =
      (matchedGroupsOpt, dataGroups(upserts)) match {
        case (Some(mg), Some(ug)) if groupable =>
          val rewriteGroups = mg ++ ug
          entryGroups.collect {
            case (e, Some(g)) if rewriteGroups.contains((g, e.bucket)) => e
          }
        case _ => touchedEntries // bucket-granularity fallback
      }

    // ---- the rewrite ------------------------------------------------
    val oldRewritten = readRels(spark, path, spec.schema, rewriteEntries)
      .getOrElse(emptyFrame(spark, spec.schema))
    val carried = oldRewritten.join(allKeys, Seq(key), "left_anti")
    val newData = carried.unionByName(upserts)
    val staging = s"$path/.merge-${java.util.UUID.randomUUID()}"
    val routed = newData.withColumn(BucketDir, bucketExpr(key, n))
    val groupCount = math.max(1, rewriteEntries.size + 1)
    stageComposite(routed, spec.partCols, groupCount, Seq(col(key)),
      staging)
    val moved = moveStagedIntoLayout(spark, path, staging, "merge")
    val freshEntries = footerSweepFiles(spark, moved, Some(spec.schema),
      trusted = true)

    // ---- the PRECISE change feed (Delta-CDF shape), staged ----------
    val keyClass = upK.withColumn("__cls", lit("u"))
      .unionByName(delK.withColumn("__cls", lit("d")))
    val preClassed = oldRewritten.join(keyClass, Seq(key))
    val ct = "_change_type"
    val pre = preClassed.withColumn(ct,
        when(col("__cls") === "d", lit("delete"))
          .otherwise(lit("update_preimage"))).drop("__cls")
    val oldUpsertKeys = preClassed.where(col("__cls") === "u")
      .select(col(key)).distinct()
    val post = upserts.join(oldUpsertKeys, Seq(key), "left_semi")
      .withColumn(ct, lit("update_postimage"))
    val ins = upserts.join(oldUpsertKeys, Seq(key), "left_anti")
      .withColumn(ct, lit("insert"))
    val orderedCols = spec.schema.fieldNames.map(col) :+ col(ct)
    val changeRows = pre.select(orderedCols: _*)
      .unionByName(post.select(orderedCols: _*))
      .unionByName(ins.select(orderedCols: _*))
    // the dot-dir is the vacuumable staging unit; the rows live in a
    // NON-hidden child so Spark's hidden-path filter never trips on it
    val chgParent = s"$path/.merge-${java.util.UUID.randomUUID()}-chg"
    val chgStaging = s"$chgParent/rows"
    changeRows.write.mode("overwrite").parquet(chgStaging)
    val counts = spark.read.parquet(chgStaging).groupBy(ct).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // ---- commit: manifest flip, then publish the change files -------
    val removedRels = rewriteEntries.map(_.rel).toSet
    val kept = m.entries.filterNot(e => removedRels.contains(e.rel))
    // NDV carry + union with the REWRITTEN FILES' keys: fresh files
    // hold carried ∪ upserted rows and carried ⊆ prior, so
    // prior ∪ fresh-keys = prior ∪ upsert-keys exactly — and sketching
    // the just-written files (column-pruned read) never re-executes
    // the caller's upserts plan. Deletes leave an over-estimate (HLL
    // cannot subtract) — the safe direction for a broadcast decision.
    // Coverage guard: only publish atop an existing header (or an
    // empty table) — a batch-only sketch would under-estimate.
    val mergedNdv: Map[String, String] =
      if (!(m.ndv.contains(key) || m.entries.isEmpty) || moved.isEmpty)
        m.ndv
      else NdvSketch.sketchColumn(
        spark.read.schema(StructType(Seq(spec.schema(key))))
          .parquet(moved.map(_._2): _*), key) match {
        case Some(fresh) => Map(key -> NdvSketch.unionAll(
          m.ndv.get(key).toSeq :+ fresh, Nil).get)
        case None => m.ndv
      }
    val committed = writeManifest(spark, path, kept ++ freshEntries,
      base = Some(base), txns = m.txns,
      layout = Some((spec.keyCol, spec.buckets, spec.partCols)),
      op = "merge", bloom = m.bloom, ndv = mergedNdv,
      sortedClaim = m.sortedClaim, prior = Some(m))
    // a crash BETWEEN flip and publish degrades this version's feed to
    // the file diff (documented in [[changes]]) — never wrong, coarser
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val chgDest = new Path(path, changeDirOf(committed))
    fs.mkdirs(chgDest.getParent)
    if (!fs.rename(new Path(chgStaging), chgDest))
      throw new java.io.IOException(
        s"merge committed v$committed but publishing its change feed " +
          s"failed ($chgStaging -> $chgDest); the feed for this version " +
          "falls back to the file diff")
    fs.delete(new Path(chgParent), true): Unit // the empty staging shell
    MergeStats(
      updated = counts.getOrElse("update_postimage", 0L),
      deleted = counts.getOrElse("delete", 0L),
      inserted = counts.getOrElse("insert", 0L),
      rewrittenGroups = rewriteEntries.map(e =>
        (entryGroup(e), e.bucket)).distinct.size,
      rewrittenFiles = rewriteEntries.size,
      version = committed)
  }

  /** Predicate DELETE: `deleteWhere(spark, path, $"status" === "dead")`
    * — evaluates the predicate on the CURRENT snapshot, then merges the
    * matching keys out. Copy-on-write blast radius = the matching
    * keys' groups (the predicate scan itself enjoys the scan's three
    * pruning axes when the predicate allows). */
  def deleteWhere(spark: SparkSession, path: String,
                  condition: org.apache.spark.sql.Column): MergeStats = {
    val spec = readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path"))
    val entries = readManifest(spark, path).getOrElse(
      footerSweep(spark, path))
    val keys = readRels(spark, path, spec.schema, entries)
      .getOrElse(emptyFrame(spark, spec.schema))
      .where(condition).select(spec.keyCol)
    merge(spark, path, emptyFrame(spark, spec.schema), keys)
  }

  /** Predicate UPDATE: `updateWhere(spark, path, cond,
    * Map("price" -> $"price" * 2))` — transformed matching rows merge
    * back as upserts. The bucket KEY cannot change (a rekeyed row is a
    * delete+insert, not an update); the PARTITION value can (the row
    * moves group — both groups rewrite). Key-unique contract: two
    * matching rows sharing a key fail loudly in [[merge]]. */
  def updateWhere(spark: SparkSession, path: String,
                  condition: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column]): MergeStats = {
    val spec = readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path"))
    require(!set.contains(spec.keyCol),
      s"updateWhere cannot change the bucket key '${spec.keyCol}' — " +
        "delete + insert instead")
    set.keys.foreach(c => require(spec.schema.fieldNames.contains(c),
      s"updateWhere: no column '$c' in ${spec.schema.simpleString}"))
    val entries = readManifest(spark, path).getOrElse(
      footerSweep(spark, path))
    val ups = readRels(spark, path, spec.schema, entries)
      .getOrElse(emptyFrame(spark, spec.schema))
      .where(condition)
      .select(spec.schema.fieldNames.map(nm =>
        set.getOrElse(nm, col(nm)).cast(
          spec.schema.fields(spec.schema.fieldIndex(nm)).dataType)
          .as(nm)): _*)
    merge(spark, path, ups, emptyFrame(spark,
      StructType(Seq(spec.schema.fields(
        spec.schema.fieldIndex(spec.keyCol))))))
  }

  /** Retained manifest versions at `path`, ascending — the TIME-TRAVEL
    * surface: every version still on disk (vacuum trims the tail) is a
    * consistent snapshot [[tableFor]] can pin. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith("_bucket_manifest.v") && n.endsWith(".txt"))
      .flatMap(_.stripPrefix("_bucket_manifest.v").stripSuffix(".txt")
        .toLongOption)
      .toSeq.sorted
  }

  /** The V2 [[Table]] at `path` — the SQL TVF's entry point
    * (`graft_bucketed('/p')`) and a programmatic alternative to
    * configuring a catalog. `asOf` pins the scan to a retained manifest
    * version (TIME TRAVEL over the MVCC history): the snapshot is
    * consistent for the whole scan and fails loudly if vacuum reclaimed
    * it. */
  def tableFor(spark: SparkSession, path: String, asOf: Option[Long] = None)
      : org.apache.spark.sql.connector.catalog.Table =
    new GraftBucketedTable(spark, path, readSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no bucketed table at $path")),
      asOf)

  /** `(path, length)` of every parquet file in bucket `b` (possibly none). */
  private[sources] def bucketFiles(spark: SparkSession, path: String,
                                   b: Int): Array[(String, Long)] = {
    val dir = new Path(s"$path/data/$BucketDir=$b")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.toString, f.getLen))
  }
}

/** `TableCatalog` + `FunctionCatalog` plugin: path-addressed bucketed
  * tables plus the `bucket` V2 function the SPJ transform resolves to. */
class GraftBucketCatalog extends TableCatalog with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catName: String = "graft_bucketed"

  /** `CALL <cat>.system.<proc>(...)` — the SQL spelling of the lake's
    * table services ([[BucketedProcedures]]): compact, cluster,
    * build_bloom_index, vacuum. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val found =
      if (BucketedProcedures.namespaceOk(ident.namespace()))
        BucketedProcedures.load(ident.name())
      else None
    found.getOrElse(throw new org.apache.spark.sql.AnalysisException(
      errorClass = "ROUTINE_NOT_FOUND",
      messageParameters = Map("routineName" ->
        (ident.namespace() :+ ident.name()).mkString("`", "`.`", "`"))))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (BucketedProcedures.namespaceOk(namespace))
      BucketedProcedures.names
        .map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name
  override def name(): String = catName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  override def loadTable(ident: Identifier): Table = {
    val spark = SparkSession.active
    val path = (ident.namespace() :+ ident.name()).mkString("/")
    BucketedLake.readSpec(spark, path) match {
      case Some(spec) => new GraftBucketedTable(spark, path, spec)
      case None => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    }
  }

  /** SQL TIME TRAVEL — `SELECT ... FROM cat.`/p` VERSION AS OF <v>`:
    * pin the scan to a retained MVCC manifest version (the same
    * snapshot surface [[BucketedLake.tableFor]] and the `graft_bucketed`
    * TVF expose). Missing/vacuumed versions fail loudly with the
    * retained list. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val spark = SparkSession.active
    val path = (ident.namespace() :+ ident.name()).mkString("/")
    val v = version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF on $path takes a numeric manifest version, " +
          s"got '$version'"))
    val spec = BucketedLake.readSpec(spark, path).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))
    // loud existence check NOW (analysis time), not at first scan
    BucketedLake.readManifestFull(spark, path, Some(v)): Unit
    new GraftBucketedTable(spark, path, spec, asOf = Some(v))
  }

  /** `TIMESTAMP AS OF <t>` (micros): the newest version whose COMMIT
    * (manifest mtime ≈ pointer-flip time) is at or before `t` — the
    * Delta/Iceberg timestamp-travel convention. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val spark = SparkSession.active
    val path = (ident.namespace() :+ ident.name()).mkString("/")
    val spec = BucketedLake.readSpec(spark, path).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))
    val horizonMs = timestampMicros / 1000L
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val eligible = BucketedLake.versions(spark, path).filter { v =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(path,
        BucketedLake.versionedManifest(v))).getModificationTime <= horizonMs
    }
    require(eligible.nonEmpty,
      s"TIMESTAMP AS OF on $path: no retained version committed at or " +
        s"before ${java.time.Instant.ofEpochMilli(horizonMs)} — retained: " +
        s"${BucketedLake.versions(spark, path).mkString(", ")}")
    new GraftBucketedTable(spark, path, spec, asOf = Some(eligible.max))
  }

  /** SQL DDL: `CREATE TABLE cat.`/path` (...) PARTITIONED BY
    * ([cols...,] bucket(n, key))` — the bucket transform is required
    * (it IS the layout); every identity transform adds a composite
    * partition axis, in PARTITIONED BY order. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val spark = SparkSession.active
    val path = (ident.namespace() :+ ident.name()).mkString("/")
    var bucket: Option[(Int, String)] = None
    val parts = Seq.newBuilder[String]
    partitions.foreach { t =>
      t.name() match {
        case "bucket" =>
          require(bucket.isEmpty, "exactly one bucket transform expected")
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value().toString.toInt
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform without a bucket count: ${t.describe()}"))
          bucket = Some((n, t.references().head.fieldNames().mkString(".")))
        case "identity" =>
          // every identity transform is a composite partition axis, in
          // PARTITIONED BY order (outermost first)
          parts += t.references().head.fieldNames().mkString(".")
        case other => throw new UnsupportedOperationException(
          s"bucketed tables support PARTITIONED BY ([cols,] bucket(n, key))" +
            s", got transform '$other'")
      }
    }
    val (n, key) = bucket.getOrElse(throw new IllegalArgumentException(
      "bucketed tables require a bucket(n, key) transform in PARTITIONED BY"))
    BucketedLake.createEmpty(spark, path, key, n, schema,
      partitionCols = parts.result())
    loadTable(ident)
  }
  /** `ALTER TABLE ... ADD COLUMN(S)` — the one supported change class
    * (additive evolution, [[BucketedLake.evolveSchema]]); everything
    * else fails loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spark = SparkSession.active
    val path = (ident.namespace() :+ ident.name()).mkString("/")
    val spec = BucketedLake.readSpec(spark, path).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "bucketed tables support only top-level ADD COLUMN")
        org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), a.isNullable)
      case other => throw new UnsupportedOperationException(
        s"bucketed tables support only additive evolution (ADD COLUMN), " +
          s"got $other")
    }
    BucketedLake.evolveSchema(spark, path,
      StructType(spec.schema.fields ++ adds))
    loadTable(ident)
  }
  override def dropTable(ident: Identifier): Boolean = false
  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("bucketed tables are immutable")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") new GraftBucketFunction.Unbound
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
}

/** The `bucket(n, key)` V2 function — read-side identity of
  * [[BucketedLake.bucketExpr]]: `floorMod(xxhash64(key), n)` with
  * Spark's xxhash64 seed (42). */
object GraftBucketFunction {
  final class Unbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "graft bucket routing: pmod(xxhash64(key), n)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2,
        s"bucket(numBuckets, key) expects 2 args, got ${inputType.length}")
      new Bound(inputType.fields(1).dataType)
    }
  }

  /** `ReducibleFunction`: `floorMod(h, kn) = b` implies
    * `floorMod(h, n) = b mod n`, so a `kn`-bucket side REDUCES onto an
    * `n`-bucket side by `b mod n` — Spark's compatible-transform SPJ
    * (`spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled`)
    * then joins divisible bucket counts WITHOUT shuffling either side. */
  final class Bound(keyType: DataType) extends ScalarFunction[Integer]
      with org.apache.spark.sql.connector.catalog.functions
        .ReducibleFunction[Integer, Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String =
      s"graft.bucket(${keyType.catalogString})"
    override def reducer(thisNumBuckets: Int,
                         otherFn: org.apache.spark.sql.connector.catalog
                           .functions.ReducibleFunction[_, _],
                         otherNumBuckets: Int)
        : org.apache.spark.sql.connector.catalog.functions.Reducer[Integer, Integer] =
      otherFn match {
        case _: Bound if otherNumBuckets < thisNumBuckets &&
            thisNumBuckets % otherNumBuckets == 0 =>
          new BucketReducer(otherNumBuckets)
        case _ => null // equal counts or non-divisible: no reduction
      }
    override def produceResult(input: InternalRow): Integer = {
      val n = input.getInt(0)
      val v = input.get(1, keyType)
      // null keys exist in NO bucket (both write paths reject them), so
      // a null probe hashes nowhere — SQL null semantics drop the row
      if (v == null) return null
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(v, keyType, 42L)
      Integer.valueOf(java.lang.Math.floorMod(h, n.toLong).toInt)
    }
  }
}

/** Filter → bucket-set translation shared by the plan-time pushdown
  * ([[GraftBucketScanBuilder]]) and the runtime (DPP) filtering on the
  * scan ([[GraftBucketScan.filter]]). */
private[sources] object BucketPruning {

  /** The bucket set a filter confines `keyCol` to — `None` when the
    * filter cannot prune (safe: all buckets scanned; every filter is
    * residual, so a conservative answer is always correct). */
  def bucketSetOf(f: org.apache.spark.sql.sources.Filter, keyCol: String,
                  keyType: DataType, buckets: Int): Option[Set[Int]] = {
    import org.apache.spark.sql.sources._
    def hashOf(v: Any): Option[Int] = catalystKey(v, keyType).map { cv =>
      java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(cv, keyType, 42L), buckets.toLong).toInt
    }
    def rec(f: org.apache.spark.sql.sources.Filter): Option[Set[Int]] = f match {
      case EqualTo(c, v) if c == keyCol => hashOf(v).map(Set(_))
      case EqualNullSafe(c, null) if c == keyCol => Some(Set.empty)
      case EqualNullSafe(c, v) if c == keyCol => hashOf(v).map(Set(_))
      case In(c, vs) if c == keyCol =>
        val hs = vs.filter(_ != null).map(hashOf)
        if (hs.forall(_.isDefined)) Some(hs.flatten.toSet) else None
      case IsNull(c) if c == keyCol => Some(Set.empty)
      case And(a, b) => (rec(a), rec(b)) match {
        case (Some(x), Some(y)) => Some(x intersect y)
        case (x, y) => x.orElse(y)
      }
      case Or(a, b) => for { x <- rec(a); y <- rec(b) } yield x union y
      case _ => None
    }
    rec(f)
  }

  /** External filter value → the catalyst value [[BucketedLake
    * .bucketExpr]] hashed at write time. STRICT on type: a literal
    * whose runtime class does not exactly match the key type yields
    * `None` (no pruning) — a tolerant coercion that hashed differently
    * from the write path would silently skip matching buckets. */
  def catalystKey(v: Any, keyType: DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    (v, keyType) match {
      case (null, _) => None
      case (s: String, StringType) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case (i: java.lang.Integer, IntegerType) => Some(i.intValue)
      case (l: java.lang.Long, LongType) => Some(l.longValue)
      case (s: java.lang.Short, ShortType) => Some(s.shortValue)
      case (b: java.lang.Byte, ByteType) => Some(b.byteValue)
      case (b: java.lang.Boolean, BooleanType) => Some(b.booleanValue)
      case (f: java.lang.Float, FloatType) => Some(f.floatValue)
      case (d: java.lang.Double, DoubleType) => Some(d.doubleValue)
      case (d: java.sql.Date, DateType) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
      case (d: java.time.LocalDate, DateType) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d))
      case _ => None
    }
  }
}

/** Filter → partition-directory pruning for the two-axis layout:
  * evaluates pushed/runtime predicates on the PARTITION column against
  * each file's `__part=<v>` dir value, so a date-range scan reads only
  * the matching partition dirs' files. Strictly typed like
  * [[BucketPruning]]: any value/type shape it cannot canonicalize means
  * "cannot prune" — every filter stays residual above the scan, so a
  * conservative answer is always correct. */
private[sources] object PartPruning {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types._

  /** External filter literal → a canonical comparable (Long, Double,
    * String, Boolean) — `None` when the literal's runtime class does
    * not match the partition type (no pruning; a tolerant coercion that
    * compared differently from the write path could skip matches). */
  def canonical(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (null, _) => None
    case (s: String, StringType) => Some(s)
    case (i: java.lang.Integer, IntegerType) => Some(i.longValue)
    case (l: java.lang.Long, LongType) => Some(l.longValue)
    case (s: java.lang.Short, ShortType) => Some(s.longValue)
    case (b: java.lang.Byte, ByteType) => Some(b.longValue)
    case (b: java.lang.Boolean, BooleanType) => Some(b.booleanValue)
    case (f: java.lang.Float, FloatType) => Some(f.doubleValue)
    case (d: java.lang.Double, DoubleType) => Some(d.doubleValue)
    case (d: java.sql.Date, DateType) => Some(d.toLocalDate.toEpochDay)
    case (d: java.time.LocalDate, DateType) => Some(d.toEpochDay)
    case _ => None
  }

  /** Unescaped partition-dir string → the same canonical space. */
  def parseDirValue(s: String, dt: DataType): Option[Any] = dt match {
    case StringType => Some(s)
    case IntegerType | LongType | ShortType | ByteType => s.toLongOption
    case BooleanType => s.toBooleanOption
    // FLOAT dirs must parse as Float THEN widen — "0.1" parsed as
    // Double (0.1d) differs from the literal side's 0.1f.doubleValue
    // (0.100000001...), and the mismatch would PRUNE files that hold
    // matches
    case FloatType => s.toFloatOption.map(_.toDouble)
    case DoubleType => s.toDoubleOption
    case DateType =>
      try Some(java.time.LocalDate.parse(s).toEpochDay)
      catch { case _: java.time.format.DateTimeParseException => None }
    case _ => None
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  /** Compare two values in the shared canonical space — `None` for
    * mixed/foreign kinds. (The aggregate pushdown folds per-file
    * windows with it.) */
  private[sources] def cmpCanonical(a: Any, b: Any): Option[Int] = cmp(a, b)

  /** Whether a file whose partition value canonicalizes to `part`
    * (`None` = the null partition) can hold rows matching `f` —
    * `None` when the filter shape/type cannot decide (keep the file).
    * SQL three-valued semantics: any comparison against the null
    * partition is false (those rows can never match), only
    * IsNull/null-safe-equality select it. */
  def matches(part: Option[Any], partCol: String, dt: DataType,
              f: Filter): Option[Boolean] =
    matchesAll(Seq((partCol, dt, Some(part))), f)

  /** MULTI-AXIS file decision — the composite-partition generalization
    * of [[matches]]. `bindings` carries, per partition axis, the
    * column, its type, and the FILE's canonical dir value (outer
    * `None` = this axis undecidable for the file — predicates on it
    * stay unknown; `Some(None)` = the null partition). A conjunction
    * spanning axes (`dt = X AND region = 'EU'`) decides when each leaf
    * decides on its own axis; predicates on non-partition columns are
    * unknown, so `And` short-circuits only on a definite false and the
    * whole answer degrades to `None` (keep) otherwise — strict-or-keep
    * on every axis at once. */
  def matchesAll(bindings: Seq[(String, DataType, Option[Option[Any]])],
                 f: Filter): Option[Boolean] = {
    def decide(c: String)(
        eval: (DataType, Option[Any]) => Option[Boolean]): Option[Boolean] =
      bindings.find(_._1 == c).flatMap { case (_, dt, canonOpt) =>
        canonOpt.flatMap(part => eval(dt, part)) }
    def ordered(c: String, v: Any, ok: Int => Boolean): Option[Boolean] =
      decide(c) { (dt, part) => part match {
        case None => Some(false)
        case Some(p) =>
          for {cv <- canonical(v, dt); cc <- cmp(p, cv)} yield ok(cc)
      }}
    f match {
      case EqualTo(c, v) => ordered(c, v, _ == 0)
      case EqualNullSafe(c, null) => decide(c)((_, p) => Some(p.isEmpty))
      case EqualNullSafe(c, v) => ordered(c, v, _ == 0)
      case In(c, vs) => decide(c) { (dt, part) => part match {
        case None => Some(false)
        case Some(p) =>
          val canon = vs.filter(_ != null).map(canonical(_, dt))
          if (canon.exists(_.isEmpty)) None
          else Some(canon.flatten.exists(cv => cmp(p, cv).contains(0)))
      }}
      case GreaterThan(c, v) => ordered(c, v, _ > 0)
      case GreaterThanOrEqual(c, v) => ordered(c, v, _ >= 0)
      case LessThan(c, v) => ordered(c, v, _ < 0)
      case LessThanOrEqual(c, v) => ordered(c, v, _ <= 0)
      case IsNull(c) => decide(c)((_, p) => Some(p.isEmpty))
      case IsNotNull(c) => decide(c)((_, p) => Some(p.nonEmpty))
      case And(a, b) =>
        (matchesAll(bindings, a), matchesAll(bindings, b)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(a, b) =>
        (matchesAll(bindings, a), matchesAll(bindings, b)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case _ => None
    }
  }
}

/** Fold a finer bucket ordinal onto an `n`-bucket layout. */
private[sources] final class BucketReducer(n: Int)
    extends org.apache.spark.sql.connector.catalog.functions.Reducer[Integer, Integer]
    with Serializable {
  override def reduce(bucket: Integer): Integer =
    Integer.valueOf(bucket.intValue() % n)
}

private[sources] class GraftBucketedTable(spark: SparkSession, path: String,
                                          spec: BucketedLake.Spec,
                                          asOf: Option[Long] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** `_file` (the row's file, table-root-relative) — provenance for
    * users, the GROUP IDENTITY for SQL row-level DML. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(BucketedLake.FileMetadataColumn)

  /** SQL `MERGE INTO` / `UPDATE` / row-level `DELETE` — the
    * copy-on-write GROUP-BASED row-level operation (group = file):
    * Spark's own rewrite rules read the candidate files (pruned
    * statically on all four axes, then narrowed at runtime by the
    * group-filter IN-subquery on `_file`) and hand back the groups'
    * complete replacement rows; the commit swaps exactly the scanned
    * files for the new ones in ONE OCC-gated manifest flip. Partition-
    * axis DELETEs still take the zero-IO metadata path
    * ([[canDeleteWhere]] — Spark's OptimizeMetadataOnlyDeleteFromTable
    * prefers it over the rewrite). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty,
      s"cannot run ${info.command} against a time-travel snapshot of $path")
    () => new GraftRowLevelOperation(spark, path, spec, info.command)
  }

  /** METADATA DELETE (`DELETE FROM cat.`/p` WHERE <partition pred>`):
    * legal only when every live file decides the whole conjunction via
    * its partition-dir value — then the delete is dropping manifest
    * entries, zero data IO, snapshot-atomic, OCC-gated. Anything
    * row-level (key/value predicates) reports `false` here and Spark
    * refuses the statement — [[BucketedLake.deleteWhere]] is the
    * row-level path (copy-on-write + precise change feed). */
  /** `Some(kept entries)` when every entry decides the whole
    * conjunction via its partition-dir value; `None` = not a metadata
    * delete. */
  private def keptAfterDelete(
      entries: Seq[BucketedLake.ManifestEntry],
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[Seq[BucketedLake.ManifestEntry]] = {
    if (spec.partCols.isEmpty) return None
    val axes = spec.partCols.map(pc =>
      (pc, spec.schema.fields(spec.schema.fieldIndex(pc)).dataType))
    val decisions = entries.map { e =>
      val bindings = BucketedLake.entryBindings(e.rel, axes)
      val each = filters.map(f => PartPruning.matchesAll(bindings, f))
      if (each.exists(_.isEmpty)) None
      else Some(e -> each.forall(_.contains(true)))
    }
    if (decisions.exists(_.isEmpty)) None
    else Some(decisions.flatten.filterNot(_._2).map(_._1))
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOf.isEmpty &&
      keptAfterDelete(
        BucketedLake.readManifest(spark, path).getOrElse(Nil),
        filters).isDefined

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(asOf.isEmpty, "cannot delete from a time-travel snapshot")
    // decisions and the commit derive from ONE pinned read; OCC-gated
    val baseOpt = BucketedLake.currentVersion(spark, path)
    val full = BucketedLake.readManifestFull(spark, path, baseOpt)
      .getOrElse(throw new IllegalStateException(
        s"DELETE on $path requires an MVCC manifest"))
    val kept = keptAfterDelete(full.entries, filters).getOrElse(
      throw new IllegalArgumentException(
        s"DELETE on $path: the predicate is not decidable per-file on " +
          s"the partition axis — use BucketedLake.deleteWhere for " +
          "row-level deletes"))
    BucketedLake.writeManifest(spark, path, kept,
      base = baseOpt, txns = full.txns,
      layout = Some((spec.keyCol, spec.buckets, spec.partCols)),
      op = "delete", bloom = full.bloom, ndv = full.ndv,
      sortedClaim = full.sortedClaim, prior = Some(full)): Unit
  }
  override def name(): String =
    asOf.fold(path)(v => s"$path@v$v")
  override def schema(): StructType = spec.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)
  override def partitioning(): Array[Transform] =
    (spec.partCols.map(pc => Expressions.identity(pc)) :+
      Expressions.bucket(spec.buckets, spec.keyCol)).toArray
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftBucketScanBuilder(spark, path, spec, asOf)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty, "cannot write to a time-travel snapshot")
    val in = info.schema().fields.map(f => (f.name, f.dataType)).toSeq
    val declared = spec.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(in == declared,
      s"bucketed table $path expects schema ${spec.schema.simpleString}, " +
        s"got ${info.schema().simpleString}")
    // streaming idempotence: .option("graft.txnAppId", app)
    // .option("graft.txnEpoch", e) makes this append a transactional
    // watermarked commit — replays of an applied epoch become no-ops
    val txn = Option(info.options().get("graft.txnAppId")).map { app =>
      val e = Option(info.options().get("graft.txnEpoch")).getOrElse(
        throw new IllegalArgumentException(
          "graft.txnAppId requires graft.txnEpoch"))
      (app, e.toLong)
    }
    // .option("graft.maxRowsPerFile", n): rotate output files inside a
    // (partition, bucket) group — bounded files for huge batch INSERTs
    // (each rotated file is a contiguous key-sorted run, so stats
    // windows stay tight; the single-file ordering claim withdraws)
    val maxRows = Option(info.options().get("graft.maxRowsPerFile"))
      .map { s =>
        val n = s.toLong
        require(n >= 1L, s"graft.maxRowsPerFile must be >= 1: $n")
        n
      }
    new GraftBucketWriteBuilder(spark, path, spec, txn, maxRows)
  }
}

/** V2 write path: `df.writeTo("cat.`/path`").append()` and SQL
  * `INSERT INTO` / `INSERT OVERWRITE`. The write REQUIRES a clustered
  * distribution on `bucket(n, key)` with a `(bucket, key)` in-partition
  * order — Spark plans the shuffle+sort itself, each bucket lands
  * wholly in one task as one key-sorted run, and the writer just cuts a
  * new file at each bucket transition. Files stage under a
  * write-unique directory and move into the layout on driver commit
  * (truncate swaps the whole data dir). Appends may give a bucket a
  * second file — the scan's ordering claim then withdraws itself
  * (single-file guard), correctness unaffected. */
/** The commit's REPLACE SCOPE: what the write supersedes besides
  * adding its own files. */
private[sources] sealed trait ReplaceScope
private[sources] object ReplaceScope {
  /** Plain append — nothing superseded. */
  case object Append extends ReplaceScope
  /** Full truncate (`INSERT OVERWRITE` with no/always-true filter). */
  case object Truncate extends ReplaceScope
  /** `replaceWhere` / static `INSERT OVERWRITE ... PARTITION (p=v)`:
    * supersede exactly the files whose PARTITION VALUE matches every
    * filter. File-level decisions are EXACT only for partition-column
    * predicates (all of a file's rows share its partition value) — any
    * undecidable (entry, filter) pair fails the commit loudly rather
    * than deleting too much or too little. */
  final case class ByFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      extends ReplaceScope
  /** Dynamic partition overwrite: supersede every partition the new
    * data touches (Delta/Hive dynamic semantics; partition axis
    * required). */
  case object DynamicPartitions extends ReplaceScope
}

private[sources] class GraftBucketWriteBuilder(spark: SparkSession,
                                               path: String,
                                               spec: BucketedLake.Spec,
                                               txn: Option[(String, Long)] = None,
                                               maxRows: Option[Long] = None)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private var scope: ReplaceScope = ReplaceScope.Append
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    scope = ReplaceScope.Truncate; this
  }
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    scope =
      if (filters.isEmpty ||
          filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
        ReplaceScope.Truncate
      else ReplaceScope.ByFilters(filters)
    this
  }
  override def overwriteDynamicPartitions()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(spec.partCols.nonEmpty,
      s"bucketed table $path has no partition axis — dynamic partition " +
        "overwrite is undefined; use INSERT OVERWRITE (truncate) or " +
        "BucketedLake.merge for row-level replacement")
    scope = ReplaceScope.DynamicPartitions; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new GraftBucketWrite(spark, path, spec, scope, txn, maxRows)
}

private[sources] class GraftBucketWrite(spark: SparkSession, path: String,
                                        spec: BucketedLake.Spec,
                                        scope: ReplaceScope,
                                        txn: Option[(String, Long)] = None,
                                        maxRows: Option[Long] = None)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.expressions.{SortDirection => SD}

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      (spec.partCols
        .map(pc => Expressions.identity(pc)
          : org.apache.spark.sql.connector.expressions.Expression) :+
        (Expressions.bucket(spec.buckets, spec.keyCol)
          : org.apache.spark.sql.connector.expressions.Expression)).toArray)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    (spec.partCols.map(pc =>
      Expressions.sort(Expressions.column(pc), SD.ASCENDING)) ++ Seq(
      Expressions.sort(Expressions.bucket(spec.buckets, spec.keyCol),
        SD.ASCENDING),
      Expressions.sort(Expressions.column(spec.keyCol), SD.ASCENDING)))
      .toArray

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new GraftBucketBatchWrite(spark, path, spec, scope,
      s"$path/.stage-${java.util.UUID.randomUUID()}", txn, maxRows)
}

/** Per-task commit message: `(bucket, partitionDirSegment, stagedPath,
  * rows, statsJson)` per file (segment "" on bucket-only layouts) —
  * the row counts AND column min/max stats ride the commit so the
  * manifest updates with ZERO reads (the writer saw every row anyway;
  * [[FileStats.Tracker]]). */
private[sources] final case class GraftBucketCommit(
    files: Seq[(Int, String, String, Long, Option[String])],
    // compact HLL of this task's keys ([[NdvSketch]]) — ≤4 KB
    ndvSketch: Option[Array[Byte]] = None)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] class GraftBucketBatchWrite(spark: SparkSession, path: String,
                                             spec: BucketedLake.Spec,
                                             scope: ReplaceScope,
                                             staging: String,
                                             txn: Option[(String, Long)] = None,
                                             maxRows: Option[Long] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val handle = org.apache.spark.sql.graftshim.ParquetWriteShim
      .prepare(spark, spec.schema)
    val keyIdx = spec.schema.fieldIndex(spec.keyCol)
    val parts = spec.partCols.map(pc => (spec.schema.fieldIndex(pc),
      spec.schema.fields(spec.schema.fieldIndex(pc)).dataType))
    new GraftBucketWriterFactory(handle, staging, keyIdx,
      spec.schema.fields(keyIdx).dataType, spec.buckets, parts, maxRows)
  }

  override def commit(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val dataDir = new Path(s"$path/data")
    val f = fs(dataDir)
    // transactional-watermark pre-check: a replayed epoch (appId already
    // at or past it) is a clean NO-OP before any byte moves — the
    // watermark commits atomically with the manifest below, so the
    // check is exactly-once, not best-effort
    val preTxns = BucketedLake.readTxns(spark, path)
    if (txn.exists { case (app, epoch) =>
          preTxns.get(app).exists(_ >= epoch) }) {
      f.delete(new Path(staging), true): Unit
      return
    }
    // TRUNCATE (INSERT OVERWRITE) is snapshot-atomic like write(): the
    // old files are NOT deleted — the fresh-entries-only manifest flip
    // below is the commit, pinned readers keep their version, vacuum
    // reclaims the superseded files after retention
    val freshEntries = BucketedLake.adoptStaged(f, path, messages)
    val txnUpdate = txn.map { case (app, epoch) => app -> epoch }.toMap
    val layout = Some((spec.keyCol, spec.buckets, spec.partCols))
    // SCOPED OVERWRITES decide per FILE via the partition-dir value —
    // exact, because every row of a file shares it; any undecidable
    // (file, filter) pair fails LOUDLY (an approximate overwrite would
    // delete too much or too little). The commit is OCC-gated on the
    // pointer it read (overwrites don't commute — no auto-retry).
    def partAxes: Seq[(String, org.apache.spark.sql.types.DataType)] = {
      require(spec.partCols.nonEmpty,
        s"bucketed table $path has no partition axis — scoped overwrite " +
          "needs the two-axis layout (or use BucketedLake.merge)")
      spec.partCols.map(pc =>
        (pc, spec.schema.fields(spec.schema.fieldIndex(pc)).dataType))
    }
    // every axis of a file's composite value, canonical — loud when a
    // file cannot decide (an approximate overwrite would delete too
    // much or too little)
    def exactCanons(e: BucketedLake.ManifestEntry,
                    axes: Seq[(String, org.apache.spark.sql.types.DataType)])
        : Seq[Option[Any]] =
      axes.zipWithIndex.map { case ((_, dt), i) =>
        BucketedLake.entryPartCanon(e.rel, dt, i).getOrElse(
          throw new IllegalArgumentException(
            s"scoped overwrite on $path: file ${e.rel} has no decidable " +
              "partition value — rewrite the table with write() first"))
      }
    def scopedReplace(): Unit = {
      val baseOpt = BucketedLake.currentVersion(spark, path)
      val full = BucketedLake.readManifestFull(spark, path, baseOpt)
      val priorTxns = full.map(_.txns).getOrElse(preTxns)
      val freshRels = freshEntries.map(_.rel).toSet
      val old = full.map(_.entries)
        .getOrElse(BucketedLake.footerSweep(spark, path))
        .filterNot(e => freshRels.contains(e.rel))
      val kept: Seq[BucketedLake.ManifestEntry] = scope match {
        case ReplaceScope.Truncate => Nil
        case ReplaceScope.ByFilters(filters) =>
          val axes = partAxes
          def decide(e: BucketedLake.ManifestEntry): Boolean = {
            val canons = exactCanons(e, axes)
            val bindings = axes.zip(canons).map { case ((c, dt), v) =>
              (c, dt, Some(v): Option[Option[Any]]) }
            filters.forall(f =>
              PartPruning.matchesAll(bindings, f).getOrElse(
                throw new IllegalArgumentException(
                  s"replaceWhere/INSERT OVERWRITE on $path: filter $f " +
                    s"cannot be decided per-file against partitions " +
                    s"${axes.map(_._1).mkString(", ")} — overwrite " +
                    "filters must be exact partition-column predicates " +
                    "(for row-level replacement use BucketedLake.merge)")))
          }
          // every INSERTED file must land INSIDE the replaced region —
          // otherwise the write would both replace partition A and
          // silently append to partition B (Delta's replaceWhere guard)
          freshEntries.foreach(e => require(decide(e),
            s"replaceWhere on $path: written file ${e.rel} falls " +
              "OUTSIDE the replaced region — the overwrite filter must " +
              "cover every written row's partition"))
          old.filterNot(decide)
        case ReplaceScope.DynamicPartitions =>
          val axes = partAxes
          val touched = freshEntries.map(e => exactCanons(e, axes)).toSet
          old.filterNot(e => touched.contains(exactCanons(e, axes)))
        case ReplaceScope.Append => throw new IllegalStateException(
          "scopedReplace on an append") // unreachable
      }
      // NDV: a TRUNCATE starts the sketch fresh from this write's
      // tasks; scoped/dynamic overwrites union (HLL cannot subtract
      // the replaced region — over-estimate, the safe direction)
      val taskSketches = messages.toSeq.collect {
        case GraftBucketCommit(_, Some(b)) => b }
      val priorNdv =
        if (scope == ReplaceScope.Truncate) None
        else full.flatMap(_.ndv.get(spec.keyCol))
      // a non-truncate overwrite atop unsketched history cannot claim
      // coverage of the kept files' keys — stay silent rather than
      // under-estimate
      val covered = scope == ReplaceScope.Truncate || old.isEmpty ||
        priorNdv.isDefined
      val ndvHeader =
        if (!covered) Map.empty[String, String]
        else NdvSketch.unionAll(priorNdv.toSeq, taskSketches)
          .map(b => spec.keyCol -> b).toMap
      BucketedLake.writeManifest(spark, path, kept ++ freshEntries,
        base = baseOpt.map(identity), txns = priorTxns ++ txnUpdate,
        layout = layout,
        op = if (scope == ReplaceScope.Truncate) "truncate"
             else "replace",
        bloom = full.flatMap(_.bloom), ndv = ndvHeader,
        sortedClaim = full.flatMap(_.sortedClaim), prior = full): Unit
    }
    if (scope != ReplaceScope.Append) {
      scopedReplace()
    } else {
      // OPTIMISTIC COMMIT with bounded retry: appends COMMUTE (they
      // only add files), so losing the race just means re-reading the
      // winner's manifest and merging on top of it — concurrent appends
      // all land, none silently orphaned. The base-version gate makes a
      // stale merge impossible; a crashed committer's orphan manifest
      // file keeps conflicting until vacuum reclaims it (loud, never
      // wrong).
      var attempt = 0
      var done = false
      while (!done) {
        // ONE pointer resolution per attempt: base and the manifest it
        // gates come from the SAME version (resolving twice could
        // straddle a racer's commit — the merge would build on the
        // winner's entries yet carry the stale base, burning a retry on
        // a conflict that was already resolved)
        val baseOpt = BucketedLake.currentVersion(spark, path)
        val base = baseOpt.getOrElse(0L)
        val full = BucketedLake.readManifestFull(spark, path, baseOpt)
        val priorTxns = full.map(_.txns).getOrElse(Map.empty[String, Long])
        // a racer may have committed THIS epoch while we retried: the
        // moved files become unreferenced (vacuumable), never duplicated
        if (txn.exists { case (app, epoch) =>
              priorTxns.get(app).exists(_ >= epoch) }) { done = true }
        else {
          // exclude this commit's fresh names from the base set on BOTH
          // branches: the legacy footerSweep sees them on disk already,
          // and on a legacy table a RACING committer's sweep may have
          // adopted them into the manifest it published — merging them
          // again would double-count every row
          val freshRels = freshEntries.map(_.rel).toSet
          val existing = full.map(_.entries)
            .getOrElse(BucketedLake.footerSweep(spark, path))
            .filterNot(e => freshRels.contains(e.rel))
          try {
            val taskSketches = messages.toSeq.collect {
              case GraftBucketCommit(_, Some(b)) => b }
            // publish only when the union covers EVERY live key: prior
            // header present, or the table was empty before this
            // commit — a tasks-only sketch atop unsketched history
            // would UNDER-estimate, the unsafe broadcast direction
            val covered = existing.isEmpty ||
              full.exists(_.ndv.contains(spec.keyCol))
            val ndvHeader =
              if (!covered) Map.empty[String, String]
              else NdvSketch.unionAll(
                full.flatMap(_.ndv.get(spec.keyCol)).toSeq, taskSketches)
                .map(b => spec.keyCol -> b).toMap
            BucketedLake.writeManifest(spark, path,
              existing ++ freshEntries, Some(base),
              priorTxns ++ txnUpdate, layout, op = "append",
              bloom = full.flatMap(_.bloom), ndv = ndvHeader,
              sortedClaim = full.flatMap(_.sortedClaim),
              prior = full): Unit
            done = true
          } catch {
            case e: BucketedLake.ConcurrentCommitException =>
              attempt += 1
              if (attempt > 5) throw e
              Thread.sleep(25L << attempt)
          }
        }
      }
    }
    f.delete(new Path(staging), true): Unit
  }

  override def abort(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    fs(new Path(staging)).delete(new Path(staging), true): Unit
}

private[sources] class GraftBucketWriterFactory(
    handle: org.apache.spark.sql.graftshim.ParquetWriteShim.WriterHandle,
    staging: String, keyIdx: Int, keyType: DataType, buckets: Int,
    parts: Seq[(Int, DataType)] = Nil,
    maxRows: Option[Long] = None)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {

  /** Catalyst partition value → its partition-dir string (the same
    * rendering Spark's own partitionBy produces for these types). */
  private def dirString(v: Any, dt: DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => v.toString // UTF8String
      case DateType =>
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
      case _ => v.toString // integral / boolean / float / double
    }
  }

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private var bucket = -1
      private var seg: String = null
      private var rowsInFile = 0L
      private var sink: org.apache.spark.sql.graftshim.ParquetWriteShim.RowSink = _
      private val written =
        Seq.newBuilder[(Int, String, String, Long, Option[String])]
      private var pending: (Int, String, String) = _
      // per-FILE min/max/null tracking — the writer sees every row
      // anyway, so data-skipping stats ride the commit with zero IO
      private val statFields = FileStats.trackerFields(handle.schema)
      private var tracker: FileStats.Tracker = _
      // per-task key-NDV sketch — the writer sees every key anyway
      private val ndvSk =
        if (NdvSketch.trackable(keyType)) Some(NdvSketch.newSketch())
        else None

      private def flush(): Unit = if (sink != null) {
        sink.close()
        written += ((pending._1, pending._2, pending._3, rowsInFile,
          tracker.result()))
        sink = null
      }

      override def write(row: InternalRow): Unit = {
        val v = row.get(keyIdx, keyType)
        require(v != null,
          "bucketed write: null bucket key (null keys have no bucket)")
        val b = java.lang.Math.floorMod(
          org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(v, keyType, 42L), buckets.toLong).toInt
        val s =
          if (parts.isEmpty) ""
          else parts.zipWithIndex.map { case ((i, dt), axis) =>
            val pv = row.get(i, dt)
            val str = if (pv == null) BucketedLake.NullPartName
              else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .escapePathName(dirString(pv, dt))
            s"${BucketedLake.partDirName(axis)}=$str"
          }.mkString("/")
        // rows arrive (part, bucket, key)-sorted: group transitions cut
        // a new file, and the optional row cap ROTATES within a group —
        // each rotated file is a contiguous key-sorted run (tight stats
        // windows; bounded files for huge batch INSERTs)
        if (b != bucket || s != seg ||
            (sink != null && maxRows.exists(rowsInFile >= _))) {
          flush()
          val dir = if (s.isEmpty) s"$staging/$b" else s"$staging/$s/$b"
          sink = org.apache.spark.sql.graftshim.ParquetWriteShim
            .open(handle, dir, partitionId)
          pending = (b, s, sink.path())
          rowsInFile = 0L
          tracker = new FileStats.Tracker(statFields)
          bucket = b
          seg = s
        }
        sink.write(row)
        tracker.update(row)
        ndvSk.foreach(NdvSketch.update(_, v, keyType))
        rowsInFile += 1
      }
      override def commit()
          : org.apache.spark.sql.connector.write.WriterCommitMessage = {
        flush()
        GraftBucketCommit(written.result(),
          ndvSk.map(_.toCompactByteArray))
      }
      override def abort(): Unit = if (sink != null) sink.close()
      override def close(): Unit = ()
    }
}

private[sources] class GraftBucketScanBuilder(spark: SparkSession, path: String,
                                              spec: BucketedLake.Spec,
                                              asOf: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  private[sources] var required: StructType = spec.schema
  private[sources] var pruned: Option[Set[Int]] = None // None = scan all buckets
  private[sources] var accepted: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** ONE pointer resolution serves the whole scan build: the exact-
    * filter decision, the aggregate pushdown, AND the scan's file
    * lists ([[GraftBucketScan]] receives this value) — separate reads
    * could straddle a commit and claim a filter exact against one
    * version while scanning another. */
  private[sources] lazy val pinnedAtBuild: Option[BucketedLake.ManifestData] =
    BucketedLake.pinnedManifest(spark, path, asOf)

  /** BUCKET PRUNING: the layout determines which bucket holds any given
    * key, so key-equality / IN predicates reduce the scan to the
    * matching bucket partition(s) — a point lookup reads 1 of n buckets
    * instead of the whole table. Filters stay RESIDUAL (Spark
    * re-evaluates rows above the scan) with ONE exception: a
    * PARTITION-AXIS predicate that every live file DECIDES WHOLLY
    * (`Some(true)`/`Some(false)` per file — all of a file's rows share
    * its partition value) is claimed HANDLED, so no Filter node
    * survives above the scan: partition-pruned scans skip per-row
    * re-evaluation, and a filtered aggregate can still reach the
    * metadata path. Any file that cannot decide (bucket-only layout,
    * legacy path, unparsable dir) keeps the filter residual —
    * correctness never rests on a guess. Null key probes prune to
    * ZERO buckets — both write paths reject null keys. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val sets = filters.flatMap(bucketSetOf) // top level is a conjunction
    if (sets.nonEmpty) pruned = Some(sets.reduce(_ intersect _))
    accepted = filters // every filter also forwards to parquet pushdown
    exactHandled = (spec.partCols.map(pc =>
      (pc, spec.schema(pc).dataType)), pinnedAtBuild) match {
      case (axes, Some(m))
          // the dir values' MEANING is the layout's partition columns —
          // only a layout-consistent manifest can decide
          if axes.nonEmpty && m.layout.forall(l =>
            l._1 == spec.keyCol && l._2 == spec.buckets &&
              l._3 == spec.partCols) =>
        // a filter is claimed only when EVERY live file decides it
        // wholly via its composite dir values (any undecidable axis
        // degrades that filter to residual, never to a guess)
        val bindings = m.entries.map(e =>
          BucketedLake.entryBindings(e.rel, axes))
        filters.filter(f => bindings.forall(bs =>
          PartPruning.matchesAll(bs, f).isDefined)).toSet
      case _ => Set.empty
    }
    filters.filterNot(exactHandled)
  }
  private var exactHandled: Set[org.apache.spark.sql.sources.Filter] =
    Set.empty
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    accepted

  private def bucketSetOf(f: org.apache.spark.sql.sources.Filter)
      : Option[Set[Int]] =
    BucketPruning.bucketSetOf(f, spec.keyCol,
      spec.schema.fields(spec.schema.fieldIndex(spec.keyCol)).dataType,
      spec.buckets)

  /** METADATA-ONLY AGGREGATES: `COUNT(*)`, `COUNT(col)`, `MIN(col)`,
    * `MAX(col)` — optionally `GROUP BY <partition column>` — answer
    * from the write-time manifest in ONE metadata read, no row ever
    * decoded, no per-file IO (at 100 TB, `SELECT dt, count(*), max(v)
    * GROUP BY dt` priced like a `ls`). Exactness rules (pushdown
    * DECLINES — normal scan — on any doubt):
    *
    *  - no filters and no bucket pruning (a filtered aggregate must
    *    see rows);
    *  - `COUNT(col)` needs every file's null count; `MIN`/`MAX` need
    *    every file's window for the column (an all-null file
    *    contributes nothing — its windowless entry confirms it);
    *  - `MIN`/`MAX` on strings never push: a FOREIGN parquet file
    *    adopted by the legacy sweep may carry TRUNCATED binary footer
    *    stats — valid bounds for skipping, not necessarily values
    *    (numeric/date/boolean footer stats are always exact);
    *  - float/double files containing NaN dropped their window at
    *    write time, so NaN semantics (`MAX` = NaN) never reach this
    *    path — the pushdown declines;
    *  - grouping only on the PARTITION column, and only when every
    *    file's dir value decodes canonically (each file belongs to
    *    exactly one group);
    *  - bare `COUNT(*)` on a pre-manifest table still pushes (one
    *    executor-parallel footer sweep); everything else needs the
    *    manifest. */
  private def planAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow], String)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, DoubleType, FloatType, LongType, ShortType, StringType, StructField}
    // filters are allowed ONLY when every one was claimed exact (the
    // whole-file partition decisions): the aggregate then folds just
    // the matching files. Anything residual needs rows.
    if (pruned.nonEmpty) return None
    if (accepted.exists(f => !exactHandled.contains(f))) return None
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, DataType)] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
          spec.schema.fieldNames.contains(nr.fieldNames()(0)) =>
        val n = nr.fieldNames()(0)
        Some((n, spec.schema.fields(spec.schema.fieldIndex(n)).dataType))
      case _ => None
    }
    // grouping axis: none, or exactly ONE of the partition columns
    // (each file belongs to exactly one group on any single axis)
    val groupBy: Option[Option[(String, DataType)]] =
      agg.groupByExpressions() match {
        case Array() => Some(None)
        case Array(e) => fieldOf(e) match {
          case some @ Some((n, _)) if spec.partCols.contains(n) => Some(some)
          case _ => None
        }
        case _ => None
      }
    if (groupBy.isEmpty) return None
    def axisOf(n: String): Int = spec.partCols.indexOf(n)
    // per aggregate: (render, result type, nullable,
    //                 per-entry-stats → per-group fold)
    sealed trait AggPlan { def render: String; def dt: DataType
                           def nullable: Boolean }
    final case class CountPlan(render: String, col: Option[String])
        extends AggPlan { val dt: DataType = LongType
                          val nullable = false }
    final case class EdgePlan(render: String, col: String, dt: DataType,
                              wantLo: Boolean)
        extends AggPlan { val nullable = true }
    // strings are admitted HERE but gated per-entry in the fold: only
    // EXACT (writer-tracked) windows may answer MIN/MAX — a foreign
    // footer's binary stats are bounds, not necessarily values
    val minMaxOk: DataType => Boolean = FileStats.trackable
    // COUNT(DISTINCT <partition col>): the distinct set IS the set of
    // partition-dir values — exact from the manifest alone when every
    // file's dir decodes (nulls excluded per SQL COUNT semantics)
    final case class DistinctPartPlan(render: String, col: String,
                                      colDt: DataType, axis: Int)
        extends AggPlan {
      val dt: DataType = LongType; val nullable = false
    }
    val plans: Seq[AggPlan] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => CountPlan("COUNT(*)", None)
      case c: Count if c.isDistinct =>
        fieldOf(c.column) match {
          case Some((n, cdt)) if spec.partCols.contains(n) =>
            DistinctPartPlan(s"COUNT(DISTINCT $n)", n, cdt, axisOf(n))
          case _ => return None
        }
      case c: Count if !c.isDistinct =>
        fieldOf(c.column) match {
          case Some((n, dt)) if FileStats.trackable(dt) =>
            CountPlan(s"COUNT($n)", Some(n))
          case _ => return None
        }
      case m: Min => fieldOf(m.column) match {
        case Some((n, dt)) if minMaxOk(dt) =>
          EdgePlan(s"MIN($n)", n, dt, wantLo = true)
        case _ => return None
      }
      case m: Max => fieldOf(m.column) match {
        case Some((n, dt)) if minMaxOk(dt) =>
          EdgePlan(s"MAX($n)", n, dt, wantLo = false)
        case _ => return None
      }
      case _ => return None
    }
    val bareCountStar = groupBy.contains(None) && plans.sizeIs == 1 &&
      plans.head == CountPlan("COUNT(*)", None) && accepted.isEmpty
    val manifestOpt = pinnedAtBuild
    // layout guard, GROUPED path only: grouping reads partition-dir
    // values, whose MEANING is the layout's partition column — a
    // manifest written under a different layout (time travel across a
    // re-partition) must not price THIS spec's groups. Ungrouped
    // COUNT/MIN/MAX fold per-file row counts and value windows, which
    // are intrinsic to the files — layout-independent, so a version
    // behind a re-layout still answers (the row scan would refuse it
    // loudly, but the metadata answer is exact by construction).
    if (groupBy.flatten.isDefined)
      manifestOpt.flatMap(_.layout).foreach { case (k, n, pc) =>
        if (k != spec.keyCol || n != spec.buckets || pc != spec.partCols)
          return None
      }
    val entriesOpt = manifestOpt.map(_.entries)
    val render = plans.map(_.render).mkString(", ") +
      groupBy.flatten.fold("")(g => s" GROUP BY ${g._1}")
    val outSchema = StructType(
      groupBy.flatten.toSeq.map { case (n, dt) =>
        StructField(n, dt, nullable = true) } ++
      plans.map(p => StructField(
        p.render.toLowerCase.replaceAll("[^a-z0-9_]+", "_"), p.dt,
        p.nullable)))
    if (bareCountStar && entriesOpt.isEmpty)
      // pre-manifest table: defer the total to an executor-parallel
      // footer sweep at plan time (the pre-MVCC behavior, spec-pinned)
      return Some((outSchema, null, render))
    // claimed-exact filters restrict the fold to whole-file matches —
    // the SAME decision the row scan's pruning would make off the SAME
    // pinned manifest
    val axes = spec.partCols.map(pc => (pc, spec.schema(pc).dataType))
    val entries = entriesOpt.getOrElse(return None).filter { e =>
      accepted.isEmpty || {
        val bindings = BucketedLake.entryBindings(e.rel, axes)
        axes.nonEmpty && accepted.forall(f =>
          PartPruning.matchesAll(bindings, f).contains(true))
      }
    }
    val renderF =
      if (accepted.isEmpty) render
      else s"$render WHERE ${accepted.mkString(" AND ")}"
    // one stats decode per entry, shared by every aggregate
    val needStats = plans.exists { case CountPlan(_, Some(_)) => true
                                   case _: EdgePlan => true; case _ => false }
    val decoded: Seq[(BucketedLake.ManifestEntry, Map[String, FileStats.ColStat])] =
      entries.map(e => e -> (if (needStats)
        e.stats.map(FileStats.decode(_, spec.schema))
          .getOrElse(Map.empty[String, FileStats.ColStat])
        else Map.empty[String, FileStats.ColStat]))
    // group key: the file's canonical partition value (None = the null
    // partition); every file must decode or the pushdown declines
    val grouped: Seq[(Option[Any], Seq[(BucketedLake.ManifestEntry, Map[String, FileStats.ColStat])])] =
      groupBy.flatten match {
        case None => Seq((None, decoded))
        case Some((gn, dt)) =>
          val gAxis = axisOf(gn)
          val keyed = decoded.map { case (e, st) =>
            BucketedLake.entryPartCanon(e.rel, dt, gAxis) match {
              case Some(k) => (k, (e, st))
              case None => return None
            }
          }
          keyed.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
            .map { case (k, es) => (k: Option[Any], es) }
      }
    def canonToInternal(v: Any, dt: DataType): Any = dt match {
      case IntegerType | DateType => v.asInstanceOf[Long].toInt
      case LongType => v.asInstanceOf[Long]
      case ShortType => v.asInstanceOf[Long].toShort
      case ByteType => v.asInstanceOf[Long].toByte
      case FloatType => v.asInstanceOf[Double].toFloat
      case DoubleType => v.asInstanceOf[Double]
      case BooleanType => v.asInstanceOf[Boolean]
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(
          v.asInstanceOf[String])
      case other => throw new IllegalStateException(
        s"unreachable: canonical value for untrackable type $other")
    }
    val rows = grouped.sortBy(_._1.map(_.toString)).map { case (gk, es) =>
      val aggVals: Seq[Any] = plans.map {
        case DistinctPartPlan(_, _, cdt, axis) =>
          val vals = scala.collection.mutable.Set[Any]()
          es.foreach { case (e, _) =>
            BucketedLake.entryPartCanon(e.rel, cdt, axis) match {
              case Some(Some(v)) => vals += v
              case Some(None) => () // nulls excluded by COUNT semantics
              case None => return None
            }
          }
          vals.size.toLong
        case CountPlan(_, None) => es.iterator.map(_._1.rows).sum
        case CountPlan(_, Some(c)) =>
          var total = 0L
          es.foreach { case (e, st) =>
            val nulls = st.get(c).flatMap(_.nulls).getOrElse(return None)
            total += e.rows - nulls
          }
          total
        case EdgePlan(_, c, dt, wantLo) =>
          var best: Option[Any] = None
          es.foreach { case (_, st) =>
            val cs = st.getOrElse(c, return None)
            // string MIN/MAX needs ATTAINED edges: decline on any
            // footer-derived (inexact) window
            if (dt == StringType && !cs.exact &&
                (cs.lo.nonEmpty || cs.hi.nonEmpty)) return None
            (if (wantLo) cs.lo else cs.hi) match {
              case Some(v) =>
                if (best.isEmpty || PartPruning.cmpCanonical(v, best.get)
                      .getOrElse(return None)
                      .sign == (if (wantLo) -1 else 1)) best = Some(v)
              case None if cs.lo.isEmpty && cs.hi.isEmpty => // all-null file
              case None => return None // half-open window: cannot price
            }
          }
          best.map(canonToInternal(_, dt)).orNull
      }
      val gkVals: Seq[Any] = groupBy.flatten.toSeq.map { case (_, dt) =>
        gk.map(canonToInternal(_, dt)).orNull }
      InternalRow.fromSeq(gkVals ++ aggVals)
    }.toArray
    Some((outSchema, rows, renderF))
  }

  // memoized per Aggregation instance: supportCompletePushDown and
  // pushAggregation arrive back-to-back with the same object — one
  // manifest read serves both
  private var lastAgg
      : org.apache.spark.sql.connector.expressions.aggregate.Aggregation = _
  private var lastPlan: Option[(StructType, Array[InternalRow], String)] =
    None
  private var pushedAgg: Option[(StructType, Array[InternalRow], String)] =
    None
  private def planCached(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow], String)] = {
    if (!(agg eq lastAgg)) { lastAgg = agg; lastPlan = planAggregate(agg) }
    lastPlan
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = planCached(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    pushedAgg = planCached(agg)
    pushedAgg.isDefined
  }

  /** LIMIT pushdown (IO trim only — `isPartiallyPushed`, so Spark's
    * own Limit still applies): with every filter claimed exact (all
    * rows of every kept file match) and manifest row counts in hand,
    * the scan keeps just enough files to cover the limit —
    * `SELECT * FROM t LIMIT 10` reads one file, not one per bucket.
    * Residual or runtime filters disable the trim (a kept file's rows
    * might not match — trimming could under-produce). */
  private var limitOpt: Option[Int] = None
  override def pushLimit(limit: Int): Boolean = {
    limitOpt = Some(limit); true
  }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = pushedAgg match {
    case Some((schema, rows, render)) =>
      new GraftBucketAggScan(spark, path, schema, rows, render, asOf)
    case None =>
      new GraftBucketScan(spark, path, spec, required, pruned, accepted,
        asOf, Some(pinnedAtBuild),
        limit = limitOpt.filter(_ =>
          accepted.forall(exactHandled.contains)))
  }
}

/** Manifest-backed aggregates: the builder already folded the manifest
  * into final per-group rows — ONE metadata read, zero per-file IO,
  * wall-time FLAT in file count. `rows == null` is the deferred bare
  * `COUNT(*)` on a pre-manifest table: one executor-parallel footer
  * sweep at plan time (never a driver loop over remote opens). */
private[sources] class GraftBucketAggScan(spark: SparkSession, path: String,
                                          schema: StructType,
                                          rows: Array[InternalRow],
                                          render: String,
                                          asOf: Option[Long] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-bucketed $path [PushedAggregates: $render from manifest]"
  override def planInputPartitions(): Array[InputPartition] = {
    val served =
      if (rows != null) rows
      else Array(InternalRow(
        BucketedLake.footerSweep(spark, path).iterator.map(_.rows).sum))
    Array(GraftBucketAggPartition(served))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it =
            p.asInstanceOf[GraftBucketAggPartition].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) { cur = it.next(); true } else false
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

private[sources] final case class GraftBucketAggPartition(
    rows: Array[InternalRow]) extends InputPartition

private[sources] class GraftBucketScan(spark: SparkSession, path: String,
                                       spec: BucketedLake.Spec,
                                       required: StructType,
                                       pruned: Option[Set[Int]],
                                       pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                                       asOf: Option[Long] = None,
                                       // Some(x) = the builder's pinned
                                       // read (claimed-exact filters were
                                       // decided against x — the scan
                                       // MUST use the same snapshot);
                                       // None = resolve here
                                       prePinned: Option[Option[BucketedLake.ManifestData]] = None,
                                       // only set when every pushed
                                       // filter is claimed exact
                                       limit: Option[Int] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The partition columns' (name, type), outermost first — the
    * composite layout's directory pruning axes; empty on bucket-only
    * tables. */
  private val partAxes: Seq[(String, DataType)] =
    spec.partCols.map(pc =>
      (pc, spec.schema.fields(spec.schema.fieldIndex(pc)).dataType))

  /** A file's per-axis canonical dir values bound to their columns —
    * an undecidable axis (bucket-only layout, legacy path without the
    * segment, unparsable dir value) binds `None`: predicates on it
    * stay unknown, the file keeps; filters stay residual, so keeping
    * is always correct. */
  private def bindingsOf(rel: String)
      : Seq[(String, DataType, Option[Option[Any]])] =
    BucketedLake.entryBindings(rel, partAxes)

  private def partKeep(bindings: Seq[(String, DataType, Option[Option[Any]])],
                       filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean =
    bindings.isEmpty || filters.forall(f =>
      PartPruning.matchesAll(bindings, f).getOrElse(true))

  /** DATA SKIPPING (the third pruning axis): a file whose manifest
    * min/max window provably holds no filter match is dropped — rows
    * from the manifest entry, stats decoded against the table schema.
    * Strict-or-keep like the other two axes; filters stay residual. */
  private def statsKeep(stats: Option[String], rows: Long,
                        filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean =
    stats.isEmpty || rows < 0L || filters.forall(f =>
      FileStats.keep(stats, rows, spec.schema, f).getOrElse(true))

  /** One kept file after plan-time pruning: manifest-sourced size,
    * rows (-1 on the legacy listing fallback), the partition value in
    * canonical space, the data-skipping stats JSON, and the
    * root-relative path (the bloom sidecar's join key). */
  private[sources] final case class KeptFile(bucket: Int, abs: String, size: Long,
                                    rows: Long,
                                    partBindings: Seq[(String, DataType, Option[Option[Any]])],
                                    stats: Option[String],
                                    rel: String)

  /** Per-bucket kept files after PLAN-TIME pruning on all three axes:
    * bucket pruning dropped non-matching buckets, partition predicates
    * drop non-matching partition dirs' files, and per-file min/max
    * stats drop files whose windows cannot hold a match. */
  /** ONE pointer resolution + ONE manifest read serves the layout
    * guard, the file lists, AND the statistics — separate reads could
    * straddle a re-layout commit and validate one version's header
    * against another's entries (or price the stats off a different
    * snapshot than the scan reads). A layout/spec mismatch means the
    * table was re-bucketed/re-partitioned since this scan resolved it
    * (or the time-travel version predates the change): pruning under
    * the wrong layout silently drops rows, so fail LOUDLY instead. */
  /** ONE pinned manifest serves keptFiles, the NDV column stats, and
    * the bloom header — shared resolution, no straddle. */
  private lazy val pinnedData: Option[BucketedLake.ManifestData] =
    prePinned.getOrElse(BucketedLake.pinnedManifest(spark, path, asOf))
  private def pinnedNdv: Map[String, String] =
    pinnedData.map(_.ndv).getOrElse(Map.empty)

  private[sources] lazy val keptFiles: Seq[KeptFile] = {
    val pinned = pinnedData
    pinned.flatMap(_.layout).foreach { case (k, n, pc) =>
      require(k == spec.keyCol && n == spec.buckets && pc == spec.partCols,
        s"bucketed table $path layout changed: manifest written under " +
          s"(key=$k, buckets=$n, partition=$pc) but the resolved spec is " +
          s"(key=${spec.keyCol}, buckets=${spec.buckets}, " +
          s"partition=${spec.partCols}) — re-resolve the table" +
          asOf.fold("")(v => s" (version $v predates the layout change)"))
    }
    val metas: Seq[KeptFile] = pinned match {
      case Some(m) =>
        m.entries.map(e => KeptFile(e.bucket, s"$path/${e.rel}", e.size,
          e.rows, bindingsOf(e.rel), e.stats, e.rel))
      case None => // (bucket, rel, abs, size) — rows unknown
        BucketedLake.listDataFilesFor(spark, path)
          .map(f => KeptFile(f._1, f._3, f._4, -1L, bindingsOf(f._2), None,
            f._2))
    }
    val kept3 = metas.filter(k =>
      pruned.forall(_.contains(k.bucket)) && partKeep(k.partBindings, pushed) &&
        statsKeep(k.stats, k.rows, pushed))
    bloomPrune(kept3, pinned.flatMap(_.bloom))
  }

  /** BLOOM PRUNING (the fourth axis): for top-level equality / IN
    * conjuncts on bloom-indexed columns, drop every candidate file
    * whose sidecar bloom says NO probe value can be present. The probe
    * runs as ONE small executor job over the sidecar's probed-column
    * slice (partition-pruned parquet) — the driver ships candidate
    * rels + literal hashes out and collects only the rels to DROP, so
    * the payload stays O(definite misses), never O(files × bloom
    * bytes). Files absent from the sidecar (appended after the build),
    * a vacuumed/missing sidecar, or an unhashable literal all KEEP —
    * filters stay residual, so keeping is always correct. Plan-time
    * only (runtime/DPP filters skip this axis: launching a job inside
    * execution-time re-planning is not worth the latency). */
  private def bloomPrune(candidates: Seq[KeptFile],
                         sidecarRel: Option[String]): Seq[KeptFile] = {
    val rel = sidecarRel.getOrElse(return candidates)
    if (candidates.isEmpty) return candidates
    // col -> xxhash64 of each probe literal (strict canonicalization)
    val probes: Map[String, Array[Long]] = {
      import org.apache.spark.sql.sources._
      val b = scala.collection.mutable.Map[String, Array[Long]]()
      def hashesOf(c: String, vs: Seq[Any]): Option[Array[Long]] = {
        if (!spec.schema.fieldNames.contains(c)) return None
        val dt = spec.schema(c).dataType
        if (!BucketedLake.bloomSupported(dt)) return None
        val hs = vs.map(v => BucketPruning.catalystKey(v, dt).map(cv =>
          org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(cv, dt, BucketedLake.BloomSeed)))
        if (hs.exists(_.isEmpty)) None else Some(hs.flatten.toArray)
      }
      pushed.foreach {
        case EqualTo(c, v) if v != null =>
          hashesOf(c, Seq(v)).foreach(b(c) = _)
        case EqualNullSafe(c, v) if v != null =>
          hashesOf(c, Seq(v)).foreach(b(c) = _)
        case In(c, vs) if vs != null && vs.exists(_ != null) =>
          hashesOf(c, vs.toSeq.filter(_ != null)).foreach(b(c) = _)
        case _ => ()
      }
      b.toMap
    }
    if (probes.isEmpty) return candidates
    // explicit-schema read; an unreadable sidecar means NO SKIP (keep
    // every candidate) — the index is an optimization and must never
    // fail the scan it serves
    val sidecarDf = BucketedLake.readBloomSidecar(spark, s"$path/$rel")
      .getOrElse(return candidates)
    val bCands = spark.sparkContext.broadcast(candidates.map(_.rel).toSet)
    val bProbes = spark.sparkContext.broadcast(probes)
    val drops: Set[String] =
      try {
        sidecarDf
          .where(col("col").isin(probes.keySet.toSeq: _*))
          .select("rel", "col", "m", "k", "bits")
          .rdd.mapPartitions { iter =>
            iter.flatMap { r =>
              val fileRel = r.getString(0)
              if (!bCands.value.contains(fileRel)) Iterator.empty
              else {
                val c = r.getString(1)
                val m = r.getInt(2); val k = r.getInt(3)
                val bits = r.getAs[Array[Byte]](4)
                val anyMaybe = bProbes.value(c).exists(h =>
                  BucketedLake.bloomMightContain(bits, h, m, k))
                if (anyMaybe) Iterator.empty else Iterator.single(fileRel)
              }
            }
          }.collect().toSet
      } catch {
        // action-time sidecar corruption = no skip, never a failed scan
        case scala.util.control.NonFatal(_) => Set.empty[String]
      } finally { bCands.destroy(); bProbes.destroy() }
    if (drops.isEmpty) candidates
    else candidates.filterNot(k => drops.contains(k.rel))
  }

  private lazy val keptMeta: Map[Int, Array[KeptFile]] =
    keptFiles.groupBy(_.bucket).view.mapValues(_.toArray).toMap

  /** EXACT table statistics, free from the manifest (pruned buckets
    * and pruned partition dirs excluded): without them a V2 scan
    * defaults to "unknown = huge" and a small bucketed dimension can
    * never auto-broadcast — the optimizer would shuffle a fact table
    * against a 1 MB side. Legacy tables report bytes from the listing
    * (rows unknown). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    // priced off the SAME pinned manifest read the scan uses — no second
    // GET, no straddle with a concurrent commit
    val bytes = java.util.OptionalLong.of(keptFiles.map(_.size).sum)
    val rows =
      if (keptFiles.exists(_.rows < 0L)) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(keptFiles.map(_.rows).sum)
    // COLUMN statistics for CBO's cardinality estimation: the key's
    // NDV sketch estimate from the manifest header (nulls rejected at
    // write, so nullCount = 0), plus EXACT distinct counts for every
    // partition axis (the dir-value sets the manifest already knows).
    // transformV2Stats hands these to the optimizer: a GROUP BY key on
    // a wide-but-low-NDV dimension estimates NDV output rows and the
    // join above it flips to broadcast on CARDINALITY, not bytes.
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    // every sketched column the projection keeps contributes — the key
    // (null-free by the write contract) plus any columns a
    // `CALL system.analyze(path, 'col,...')` added, so joins/groupings
    // on non-key dimension attributes price on cardinality too
    pinnedNdv.keysIterator
      .filter(required.fieldNames.contains)
      .foreach { c =>
        pinnedNdv.get(c).flatMap(NdvSketch.estimate).foreach { n =>
          colStats.put(Expressions.column(c),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(math.max(1L, n))
              override def nullCount(): java.util.OptionalLong =
                if (c == spec.keyCol) java.util.OptionalLong.of(0L)
                else pinnedNdv.get(c).flatMap(NdvSketch.nullCountOf)
                  .fold(java.util.OptionalLong.empty())(
                    java.util.OptionalLong.of)
            })
        }
      }
    partAxes.zipWithIndex.foreach { case ((pc, _), axis) =>
      if (required.fieldNames.contains(pc)) {
        val canons = keptFiles.map(k =>
          k.partBindings.lift(axis).flatMap(_._3))
        if (canons.nonEmpty && canons.forall(_.isDefined)) {
          val vals = canons.flatten
          val nulls = vals.count(_.isEmpty)
          val distinct = vals.flatten.distinct.size.toLong
          colStats.put(Expressions.column(pc),
            new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(math.max(1L, distinct))
              override def nullCount(): java.util.OptionalLong =
                if (nulls == 0 && keptFiles.forall(_.rows >= 0))
                  java.util.OptionalLong.of(0L)
                else java.util.OptionalLong.empty()
            })
        }
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = bytes
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }
  override def description(): String = {
    val p = pruned.fold("")(s => s", prunedTo=${s.size}/${spec.buckets}")
    val pp = if (spec.partCols.isEmpty) ""
             else s", partitionBy=${spec.partCols.mkString(",")}"
    val f = if (pushed.isEmpty) ""
            else s", PushedFilters: [${pushed.mkString(", ")}]"
    s"graft-bucketed $path (buckets=${spec.buckets}, key=${spec.keyCol}$pp$p$f)"
  }

  /** Unfiltered scans report ALL n buckets — empty ones included, so
    * two tables' partition-value sets are always identical and SPJ
    * never needs partition-value push-down/padding. Key-filtered scans
    * report only the buckets that can hold a match (the builder's
    * bucket pruning); a mismatched partition-value set on one join side
    * simply fails SPJ's compatibility check and falls back to a
    * shuffle — correctness unaffected. Partition-axis predicates trim
    * each bucket's FILE LIST (never the bucket set), so two-axis
    * pruning composes with SPJ. File discovery is ONE manifest read
    * (executor-parallel listing for legacy tables), never per-bucket
    * driver listings. */
  private lazy val partitions: Array[InputPartition] =
    (0 until spec.buckets)
      .filter(b => pruned.forall(_.contains(b)))
      .map(b => GraftBucketPartition(b,
        keptMeta.getOrElse(b, Array.empty[KeptFile])
          .map(k => (k.abs, k.size))))
      .toArray[InputPartition]

  /** RUNTIME (DPP-style) bucket pruning: a selective join side hands
    * the scan an `IN (join keys)` filter at execution time, and every
    * bucket that can hold no key gets its FILE LIST EMPTIED — at 100 TB
    * a fact-side scan joined to a filtered dimension reads only the
    * key-holding buckets' bytes. Partitions are emptied, never dropped:
    * the partition-KEY set stays exactly what [[outputPartitioning]]
    * reported at plan time, so SPJ's key-grouped contract (and Spark's
    * partitioning-immutability check) holds. */
  @volatile private var runtimeKeep: Option[Set[Int]] = None
  @volatile private var runtimePushed
      : Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // Spark resolves these against the scan OUTPUT — a column pruned
    // away by projection cannot anchor a runtime filter. The partition
    // column anchors DPP too: a join on it empties non-matching
    // partition dirs' files at execution time.
    (spec.keyCol +: spec.partCols)
      .filter(required.fieldNames.contains)
      .map(Expressions.column).toArray
  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val keyType =
      spec.schema.fields(spec.schema.fieldIndex(spec.keyCol)).dataType
    val sets = filters.flatMap(
      BucketPruning.bucketSetOf(_, spec.keyCol, keyType, spec.buckets))
    if (sets.nonEmpty) runtimeKeep = Some(sets.reduce(_ intersect _))
    // the surviving buckets' files also get the runtime predicate at the
    // parquet layer (row-group/dictionary pruning) — Spark re-evaluates
    // the join anyway, so forwarding is correctness-free
    runtimePushed = filters
  }

  /** LIMIT trim: keep just enough files (by manifest row counts) to
    * cover the pushed limit; every other partition empties (the
    * partition-KEY set stays intact for the partitioning contract).
    * Only reached when every pushed filter was claimed exact — all
    * rows of every kept file qualify, so `limit` rows are guaranteed
    * — and only on the no-runtime-filter branch (a runtime filter
    * could drop rows below the limit; it implies a join, which never
    * co-occurs with a pushed limit, but the guard costs nothing). */
  private lazy val limitTrimmed: Array[InputPartition] = limit match {
    case Some(n) if keptFiles.nonEmpty && keptFiles.forall(_.rows >= 0L) =>
      var remaining = n.toLong
      val keepAbs = scala.collection.mutable.Set[String]()
      val it = keptFiles.iterator
      while (remaining > 0 && it.hasNext) {
        val k = it.next(); keepAbs += k.abs; remaining -= k.rows
      }
      partitions.map { case p: GraftBucketPartition =>
        val kept = p.files.filter { case (abs, _) => keepAbs.contains(abs) }
        if (kept.length == p.files.length) p else p.copy(files = kept)
      }
    case _ => partitions
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (runtimeKeep.isEmpty && runtimePushed.isEmpty) limitTrimmed
    else partitions.map { case p: GraftBucketPartition =>
      if (runtimeKeep.exists(k => !k.contains(p.bucket)))
        p.copy(files = Array.empty)
      else {
        // runtime partition-axis + data-skipping pruning: empty the
        // files whose partition dir or min/max window can hold no
        // runtime-filter match
        val metas = keptMeta.getOrElse(p.bucket, Array.empty[KeptFile])
        val kept = metas.filter(k => partKeep(k.partBindings, runtimePushed) &&
          statsKeep(k.stats, k.rows, runtimePushed))
        if (kept.length == metas.length) p
        else p.copy(files = kept.map(k => (k.abs, k.size)))
      }
    }

  /** Key-sorted buckets report their ordering, so a co-located SMJ skips
    * its SortExecs too — guarded on the writer's sorted flag, on every
    * bucket still being a SINGLE file (a multi-file bucket has no global
    * order), and on the key surviving column pruning.
    *
    * CORRECTNESS GATE: the claim holds PER INPUT PARTITION, but Spark's
    * partition-GROUPING SPJ modes (compatible-transform bucket
    * coalescing, partially-clustered distribution) may concatenate two
    * sorted buckets into one task — the concatenation is NOT sorted, and
    * a stale ordering claim there silently drops join matches. When
    * either grouping mode is on in the session, the scan withholds its
    * ordering (sorts come back; results stay right). */
  override def outputOrdering(): Array[org.apache.spark.sql.connector
      .expressions.SortOrder] = {
    def off(key: String): Boolean =
      !spark.conf.get(key, "false").toBoolean
    val groupingSafe =
      off("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled") &&
        off("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    // the pinned manifest's OWN claim wins (atomic with the file set —
    // see [[BucketedLake.ManifestData.sortedClaim]]); pre-claim
    // manifests and the legacy listing path fall back to the spec flag
    val sortedNow = pinnedData.flatMap(_.sortedClaim).getOrElse(spec.sorted)
    if (groupingSafe && sortedNow &&
        required.fieldNames.contains(spec.keyCol) &&
        partitions.forall(
          _.asInstanceOf[GraftBucketPartition].files.length <= 1))
      Array(Expressions.sort(Expressions.column(spec.keyCol),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    else Array.empty
  }

  override def outputPartitioning(): Partitioning =
    if (partitions.isEmpty) // pruned to nothing (e.g. a null-key probe)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    else new KeyGroupedPartitioning(
      Array(Expressions.bucket(spec.buckets, spec.keyCol)), partitions.length)

  override def createReaderFactory(): PartitionReaderFactory = {
    // driver-side: broadcasts a fresh per-scan conf; serializable fns.
    // plan-time AND runtime filters reach parquet's row-group/page
    // pruning — a range predicate on the (sorted) key skips whole row
    // groups by stats (the factory builds after filter(), so runtime
    // predicates are in hand). When the projection supports it, the
    // scan serves COLUMNAR batches (the vectorized reader's native
    // unit) and the ColumnarToRow hop lands inside whole-stage codegen.
    // `_file` metadata projection: the parquet layer reads only REAL
    // columns; the per-file constant is spliced into each row by the
    // reader (row path only — a constant column is not worth losing
    // the vectorized read for data-only scans, and `_file` scans are
    // the row-level-DML/provenance path, parquet-IO-bound anyway)
    val fileIdx = required.fieldNames.indexOf(BucketedLake.FileMetaCol)
    val dataRequired =
      if (fileIdx < 0) required
      else StructType(required.fields.filterNot(
        _.name == BucketedLake.FileMetaCol))
    // only filters whose every referenced column survives the
    // projection reach the parquet reader — a CLAIMED partition filter
    // needs no re-evaluation, so its column may be pruned away, and a
    // predicate on an unread column would zero the vectorized read
    val filters = (pushed ++ runtimePushed).toSeq
      .filter(_.references.forall(dataRequired.fieldNames.contains))
    val readerFn = ParquetReadShim.readerFor(spark, spec.schema,
      dataRequired, filters)
    val batchFn =
      if (fileIdx < 0 && ParquetReadShim.supportsBatch(spark, required))
        Some(ParquetReadShim.batchReaderFor(spark, spec.schema, required,
          filters))
      else None
    new GraftBucketReaderFactory(readerFn, batchFn,
      if (fileIdx < 0) None
      else Some((fileIdx, dataRequired.fields.map(_.dataType), s"$path/")))
  }
}

private[graft] final case class GraftBucketPartition(
    bucket: Int, files: Array[(String, Long)])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

private[graft] class GraftBucketReaderFactory(
    readerFn: org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[InternalRow],
    batchFn: Option[org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = None,
    // Some((spliceIdx, dataFieldTypes, tableRootPrefix)): emit the
    // `_file` metadata column at spliceIdx (value = the file's
    // table-root-relative path, the manifest's rel key)
    fileSplice: Option[(Int, Array[DataType], String)] = None)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    batchFn.isDefined

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftBucketPartition]
    new PartitionReader[InternalRow] {
      private val it = p.files.iterator.flatMap { case (f, len) =>
        val base = ParquetReadShim.rows(
          readerFn(ParquetReadShim.partitionedFile(f, len)))
        fileSplice match {
          case None => base
          case Some((idx, dts, prefix)) =>
            val rel = org.apache.spark.unsafe.types.UTF8String.fromString(
              if (f.startsWith(prefix)) f.substring(prefix.length) else f)
            base.map { r =>
              val out = new Array[Any](dts.length + 1)
              var i = 0; var j = 0
              while (i < out.length) {
                if (i == idx) out(i) = rel
                else { out(i) = r.get(j, dts(j)); j += 1 }
                i += 1
              }
              new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(out): InternalRow
            }
        }
      }
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val fn = batchFn.getOrElse(throw new IllegalStateException(
      "columnar read requested without batch support"))
    val p = partition.asInstanceOf[GraftBucketPartition]
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private val it = p.files.iterator.flatMap { case (f, len) =>
        fn(ParquetReadShim.partitionedFile(f, len))
      }
      private var cur: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = cur
      override def close(): Unit = ()
    }
  }
}
