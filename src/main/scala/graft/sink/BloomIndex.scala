package graft.sink

import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

import graft.sources.BucketedLake.ManifestEntry

/** Per-file Bloom filter over the record key — the analog of Hudi's BLOOM
  * index (`hoodie.index.type=BLOOM`: per-file key blooms consulted before
  * an upsert/lookup touches the file).
  *
  * Build: ONE map-side-combined aggregation pass grouped by
  * `_metadata.file_path` — each file's keys fold into a fixed-size bitset
  * via a typed [[Aggregator]] (Kirsch-Mitzenmacher double hashing: k
  * positions from two murmur hashes). One small row per file, stored as
  * parquet under `<table>/_index/key_bloom` with the build parameters,
  * stamped (`as_of_commit`) with the manifest version whose files it
  * covers — compaction and clustering publish a version too, so they
  * stale the index although they keep the data-commit number. A
  * COPY_ON_WRITE commit over a fresh index rewrites only the files whose
  * bloom may hold a batch key and then [[maintain]]s it.
  *
  * Query: for a batch of lookup keys, keep files whose bloom might contain
  * ANY of them — evaluated DISTRIBUTED (index ⋈ broadcast keys + a
  * membership UDF over the index rows only, never the data), so the driver
  * sees just the surviving file list. False positives only cost an extra
  * file scan; false negatives cannot happen for a fresh index, and a stale
  * or missing index falls back to the filtered full scan — accelerator,
  * never a correctness dependency (same contract as [[ColumnStats]]). */
object BloomIndex {

  def indexPath(table: LakeTable): String = s"${table.path}/_index/key_bloom"

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Standard sizing: m = -n ln p / (ln 2)^2 bits, k = (m/n) ln 2 hashes. */
  def sizing(expectedKeysPerFile: Int, fpp: Double): (Int, Int) = {
    require(expectedKeysPerFile > 0 && fpp > 0 && fpp < 1, "bad bloom sizing")
    val ln2 = math.log(2)
    val m0 = math.ceil(-expectedKeysPerFile * math.log(fpp) / (ln2 * ln2)).toInt
    val m = math.max(64, (m0 + 7) / 8 * 8) // whole bytes
    val k = math.max(1, math.round(m.toDouble / expectedKeysPerFile * ln2).toInt)
    (m, k)
  }

  /** Kirsch-Mitzenmacher position stream: two murmur seeds, positions
    * (h1 + i*h2) mod m. Deterministic across JVMs (murmur3 of the UTF-16
    * chars — no locale, no env). */
  private def setBits(bits: Array[Byte], key: String, m: Int, k: Int): Unit = {
    val h1 = MurmurHash3.stringHash(key, 0x9747b28c)
    val h2 = MurmurHash3.stringHash(key, 0x5bd1e995) | 1 // odd => full cycle
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h1 + i * h2, m)
      bits(pos >> 3) = (bits(pos >> 3) | (1 << (pos & 7))).toByte
      i += 1
    }
  }

  /** True iff the bloom MIGHT contain `key` (no false negatives). */
  def mightContain(bits: Array[Byte], key: String, m: Int, k: Int): Boolean = {
    val h1 = MurmurHash3.stringHash(key, 0x9747b28c)
    val h2 = MurmurHash3.stringHash(key, 0x5bd1e995) | 1
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h1 + i * h2, m)
      if ((bits(pos >> 3) & (1 << (pos & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** Typed aggregator folding keys into one bitset; buffers merge by OR. */
  private class BloomAgg(m: Int, k: Int)
      extends Aggregator[String, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](m >> 3)
    override def reduce(b: Array[Byte], key: String): Array[Byte] = {
      if (key != null) setBits(b, key, m, k)
      b
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** The concatenated record key, exactly as [[MergeWriter]] stamps it. */
  private[sink] def keyExpr(table: LakeTable) =
    concat_ws(":", table.recordKeyFields.map(c => col(c).cast("string")): _*)

  /** (Re)build the index over the current version's base files: one
    * aggregation pass, one row per file. */
  def rebuild(spark: SparkSession, table: LakeTable,
              expectedKeysPerFile: Int = 100000, fpp: Double = 0.01): Unit = {
    val (version, files) = MergeWriter.baseFiles(spark, table)
    if (files.isEmpty) return
    val (m, k) = sizing(expectedKeysPerFile, fpp)
    blooms(spark, table, files, m, k)
      .withColumn("as_of_commit", lit(version))
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(indexPath(table))
  }

  /** One index row per base file of `files`: its key bloom and row count. */
  private def blooms(spark: SparkSession, table: LakeTable, files: Seq[ManifestEntry],
                     m: Int, k: Int): DataFrame =
    MergeWriter.readFiles(spark, table, files)
      .select(col("_metadata.file_path").as("file"), keyExpr(table).as("_key"))
      .groupBy("file")
      .agg(udaf(new BloomAgg(m, k), Encoders.STRING)(col("_key")).as("bloom"),
        count(lit(1)).as("rows"))
      .withColumn("m_bits", lit(m)).withColumn("k_hashes", lit(k))

  def stats(spark: SparkSession, table: LakeTable): Option[DataFrame] =
    if (exists(spark, indexPath(table))) Some(spark.read.parquet(indexPath(table)))
    else None

  /** True iff the index covers the table's current manifest version. An
    * index without rows (no version) or one that a failed write left
    * unreadable is not fresh. */
  def isFresh(spark: SparkSession, table: LakeTable): Boolean =
    scala.util.Try(stats(spark, table).exists { s =>
      s.agg(min("as_of_commit")).head.get(0) == MergeWriter.baseFiles(spark, table)._1
    }).getOrElse(false)

  /** The membership probe as a NATIVE codegen'd expression
    * ([[graft.functions.BloomMightContain]] — no udf boxing in the
    * index-join hot path). */
  private def contains(spark: SparkSession)(bloom: org.apache.spark.sql.Column,
                       key: org.apache.spark.sql.Column,
                       m: org.apache.spark.sql.Column,
                       k: org.apache.spark.sql.Column) = {
    graft.functions.TextFunctions.ensureRegistered(spark)
    graft.functions.TextFunctions.bloomMightContain(bloom, key, m, k)
  }

  /** Surviving files for a key batch as a DataFrame (one `file` column) —
    * stays distributed; [[pruneFilesForKeys]] collects it. */
  def pruneFilesForKeysDf(spark: SparkSession, table: LakeTable,
                          keys: Seq[String]): DataFrame = {
    val idx = stats(spark, table).getOrElse(
      throw new IllegalStateException(s"no key_bloom index at ${indexPath(table)}"))
    import spark.implicits._
    idx.join(broadcast(keys.toDF("_key")),
        contains(spark)(col("bloom"), col("_key"), col("m_bits"),
          col("k_hashes")), "left_semi")
      .select("file")
  }

  /** Files whose bloom might contain ANY of `keys`. Membership runs over
    * the index rows (one per file) joined to the broadcast key list — the
    * driver only collects the surviving file names. */
  def pruneFilesForKeys(spark: SparkSession, table: LakeTable,
                        keys: Seq[String]): Seq[String] =
    pruneFilesForKeysDf(spark, table, keys)
      .collect().map(_.getString(0)).toSeq

  /** [[pruneFilesForKeys]] for a DISTRIBUTED key set (a commit's batch keys):
    * the small index is broadcast against the key frame, so millions of
    * batch keys never reach the driver — only the surviving file list
    * does (bounded by the file count). */
  def pruneFilesForKeyDf(spark: SparkSession, table: LakeTable,
                         keys: DataFrame): Seq[String] = {
    val idx = stats(spark, table).getOrElse(
      throw new IllegalStateException(s"no key_bloom index at ${indexPath(table)}"))
    keys.select(col("_key")).distinct()
      .join(broadcast(idx),
        contains(spark)(col("bloom"), col("_key"), col("m_bits"),
          col("k_hashes")))
      .select("file").distinct().collect().map(_.getString(0)).toSeq
  }

  /** Bring an index that was fresh before a commit to the version the
    * commit published: drop the rows of files the version no longer lists,
    * bloom ONLY the files it added (O(batch), not O(table)) with the
    * index's own bloom size and hash count, and restamp it. */
  def maintain(spark: SparkSession, table: LakeTable): Unit = {
    val idx = stats(spark, table).getOrElse(
      throw new IllegalStateException(s"no key_bloom index at ${indexPath(table)}"))
    val indexed = idx.select("file", "m_bits", "k_hashes").collect()
    val (m, k) = (indexed.head.getInt(1), indexed.head.getInt(2))
    val (version, files) = MergeWriter.baseFiles(spark, table)
    val rel = MergeWriter.relOf(spark, table)
    val live = files.map(_.rel).toSet
    val known = indexed.map(_.getString(0)).map(f => rel(new Path(new URI(f))) -> f).toMap
    val kept = idx.filter(col("file").isin(known.collect { case (r, f) if live(r) => f }
      .toSeq: _*)).select("file", "bloom", "rows", "m_bits", "k_hashes")
    val added = files.filterNot(e => known.contains(e.rel))
    (if (added.isEmpty) kept else kept.unionByName(blooms(spark, table, added, m, k)))
      .withColumn("as_of_commit", lit(version))
      .localCheckpoint(true) // we overwrite the path we just read
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(indexPath(table))
  }

  /** Point-lookup read: scan only files whose blooms match, then filter
    * exactly. Stale/missing index → filtered full scan.
    *
    * Driver-footprint guard (same contract as [[ColumnStats.read]]): up to
    * `maxFileListSize` surviving files the pruned list is collected and
    * files are truly skipped; beyond it no driver array is built — the
    * full scan is semi-joined (broadcast) against the distributed survivor
    * list on `_metadata.file_path`. */
  def readKeys(spark: SparkSession, table: LakeTable, keys: Seq[String],
               maxFileListSize: Int = 100000): DataFrame = {
    val exact = keyExpr(table).isin(keys: _*)
    val base = MergeWriter.baseFiles(spark, table)._2
    val full = MergeWriter.readFiles(spark, table, base)
    if (!isFresh(spark, table)) return full.filter(exact)
    val survivors = pruneFilesForKeysDf(spark, table, keys)
    // ONE job decides the branch AND yields the list when it is small
    // (count()+collect() would run the bloom-membership join twice)
    val head = survivors.limit(maxFileListSize + 1).collect().map(_.getString(0))
    if (head.isEmpty) full.filter(lit(false))
    else if (head.length <= maxFileListSize)
      MergeWriter.readFiles(spark, table, MergeWriter.entriesOf(spark, table, base, head))
        .filter(exact)
    else {
      // collision-proof: qualify via the survivors frame and a name no
      // data schema will carry
      val s = survivors.withColumnRenamed("file", "__graft_idx_file")
      full.withColumn("__graft_fp", col("_metadata.file_path"))
        .join(broadcast(s), col("__graft_fp") === s("__graft_idx_file"), "left_semi")
        .drop("__graft_fp")
        .filter(exact)
    }
  }
}
