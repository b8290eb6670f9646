package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Column-stats file index — the analog of Hudi's metadata-table
  * `column_stats` partition (`hoodie.metadata.index.column.stats.enable`):
  * per-DATA-FILE min / max / null-count for chosen columns, used to skip
  * whole files whose value range cannot match a predicate.
  *
  * This is the read-side payoff of [[Clustering]]: after a linear or
  * z-order rewrite, each file covers a narrow slice of the sort key, so a
  * range predicate prunes most files before the scan starts.
  *
  * Scale design (100 TB):
  *  - building the index is ONE distributed aggregation pass grouped by
  *    `_metadata.file_path` — map-side combined, output one tiny row per
  *    file (~800k rows for 100 TB of 128 MB files), written as parquet
  *    under `<table>/_index/column_stats`;
  *  - pruning reads only the index (MBs, never the data) and collects just
  *    the surviving file list — the same driver-side footprint Spark's own
  *    file listing already has;
  *  - freshness is tracked against the table's manifest version (the
  *    index records the version whose files it was built from; compaction
  *    and clustering publish versions too): a stale or missing index
  *    NEVER affects correctness — [[read]] falls back to the
  *    full scan with the same residual filter.
  */
object ColumnStats {

  /** Inclusive value bounds on one column; `None` = unbounded on that side.
    * (A bound never matches null values — SQL range semantics — which is
    * what makes skipping all-null files correct.) */
  final case class ColumnRange(column: String, lower: Option[Any], upper: Option[Any])

  def indexPath(table: LakeTable): String = s"${table.path}/_index/column_stats"

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** (Re)build the index for `columns`: one aggregation pass over the
    * current version's base files, one row per file, stamped with that
    * version. Like Hudi's metadata index this is a table service — call it
    * after writes (or let a stale index degrade to full scans, never to
    * wrong answers). */
  def rebuild(spark: SparkSession, table: LakeTable, columns: Seq[String]): Unit = {
    require(columns.nonEmpty, "no columns to index")
    val (version, files) = MergeWriter.baseFiles(spark, table)
    if (files.isEmpty) return
    val data = MergeWriter.readFiles(spark, table, files)
    val aggs = columns.flatMap { c =>
      Seq(min(col(c)).as(s"${c}__min"),
          max(col(c)).as(s"${c}__max"),
          sum(col(c).isNull.cast("long")).as(s"${c}__nulls"))
    }
    data.groupBy(col("_metadata.file_path").as("file"))
      .agg(count(lit(1)).as("rows"), aggs: _*)
      .withColumn("as_of_commit", lit(version))
      .repartition(1) // index is tiny relative to data; one file per rebuild
      .write.mode(SaveMode.Overwrite).parquet(indexPath(table))
  }

  /** The index frame, if built. */
  def stats(spark: SparkSession, table: LakeTable): Option[DataFrame] =
    if (exists(spark, indexPath(table))) Some(spark.read.parquet(indexPath(table)))
    else None

  /** True iff the index covers the table's current manifest version. */
  def isFresh(spark: SparkSession, table: LakeTable): Boolean =
    stats(spark, table).exists { s =>
      s.agg(min("as_of_commit")).head.getLong(0) == MergeWriter.baseFiles(spark, table)._1
    }

  /** Surviving files as a DataFrame (one `file` column) — stays
    * distributed; [[pruneFiles]] collects it for scan construction. */
  def pruneFilesDf(spark: SparkSession, table: LakeTable,
                   bounds: Seq[ColumnRange]): DataFrame = {
    val idx = stats(spark, table).getOrElse(
      throw new IllegalStateException(s"no column_stats index at ${indexPath(table)}"))
    val keep = bounds.flatMap { b =>
      // a file survives unless its whole range lies outside the bound;
      // null min/max (all-null file) compares to null => file dropped,
      // correct because a range bound never matches null
      b.lower.map(lo => col(s"${b.column}__max") >= lit(lo)) ++
        b.upper.map(hi => col(s"${b.column}__min") <= lit(hi))
    }.reduceOption(_ && _).getOrElse(lit(true))
    idx.filter(keep).select("file")
  }

  /** Files whose [min, max] ranges can contain a row matching ALL bounds.
    * Collecting the file list is bounded by the file count — the same
    * cardinality the scan's own file listing handles. */
  def pruneFiles(spark: SparkSession, table: LakeTable,
                 bounds: Seq[ColumnRange]): Seq[String] =
    pruneFilesDf(spark, table, bounds).collect().map(_.getString(0)).toSeq

  /** The residual row filter equivalent to `bounds` (files can still hold
    * non-matching rows). */
  def residual(bounds: Seq[ColumnRange]): Column =
    bounds.flatMap { b =>
      b.lower.map(lo => col(b.column) >= lit(lo)) ++
        b.upper.map(hi => col(b.column) <= lit(hi))
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** File-skipping read: scan only files whose stats ranges overlap
    * `bounds`, then apply the residual filter. Falls back to the plain
    * filtered full scan when the index is missing or stale — the index is
    * an accelerator, never a correctness dependency.
    *
    * Driver-footprint guard: a scan's file list is inherently driver-side
    * (Spark's own FileIndex), so up to `maxFileListSize` survivors the
    * pruned list is collected and files are truly SKIPPED. Beyond it — an
    * O(10⁶)-file table where pruning barely bit — no driver array is
    * built: the full scan is semi-joined (broadcast) against the
    * distributed survivor list on `_metadata.file_path`. That path reads
    * every file's footer (row-group stats + the pushed residual still
    * skip within files) but keeps the driver bounded; with that many
    * survivors the scan was near-full anyway. */
  def read(spark: SparkSession, table: LakeTable,
           bounds: Seq[ColumnRange], maxFileListSize: Int = 100000): DataFrame = {
    val base = MergeWriter.baseFiles(spark, table)._2
    val full = MergeWriter.readFiles(spark, table, base)
    if (!isFresh(spark, table)) return full.filter(residual(bounds))
    val survivors = pruneFilesDf(spark, table, bounds)
    // ONE job decides the branch AND yields the list when it is small:
    // collect at most maxFileListSize+1 names instead of count()+collect()
    val head = survivors.limit(maxFileListSize + 1).collect().map(_.getString(0))
    if (head.isEmpty) full.filter(lit(false))
    else if (head.length <= maxFileListSize)
      MergeWriter.readFiles(spark, table, MergeWriter.entriesOf(spark, table, base, head))
        .filter(residual(bounds))
    else {
      // collision-proof: qualify via the survivors frame and a name no
      // data schema will carry
      val s = survivors.withColumnRenamed("file", "__graft_idx_file")
      full.withColumn("__graft_fp", col("_metadata.file_path"))
        .join(broadcast(s), col("__graft_fp") === s("__graft_idx_file"), "left_semi")
        .drop("__graft_fp")
        .filter(residual(bounds))
    }
  }
}
