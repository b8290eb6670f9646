package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sink.ColumnStats.ColumnRange

/** Column-stats file index: per-file min/max/null stats, pruning that is a
  * strict subset of the file listing, result equality with the full-scan
  * filter, and the stale-index fallback that keeps the index a pure
  * accelerator. */
class ColumnStatsSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-colstats").toString

  /** a clustered table whose files carry disjoint ranges of `v`. */
  private def clusteredTable(): LakeTable = {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver")
    val data = (0 until 400).map(i => (i.toLong, ((i * 173) % 400).toLong, 1L))
    MergeWriter.append(data.toDF("id", "v", "ver"), t)
    Clustering.cluster(spark, t, Seq("v"), numFiles = 4)
    ColumnStats.rebuild(spark, t, Seq("v", "id"))
    t
  }

  test("index holds one row per data file with min/max/null counts") {
    val t = clusteredTable()
    val idx = ColumnStats.stats(spark, t).get
    val nFiles = new java.io.File(s"${t.path}/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(idx.count() === nFiles.toLong && nFiles > 1)
    assert(idx.columns.toSet === Set("file", "rows",
      "v__min", "v__max", "v__nulls", "id__min", "id__max", "id__nulls", "as_of_commit"))
    assert(idx.agg(sum("rows")).head.getLong(0) === 400L)
    assert(idx.agg(min("v__min"), max("v__max")).as[(Long, Long)].head() === ((0L, 399L)))
    assert(ColumnStats.isFresh(spark, t))
  }

  test("range read prunes files and matches the full-scan filter exactly") {
    val t = clusteredTable()
    val all = new java.io.File(s"${t.path}/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val pruned = ColumnStats.pruneFiles(spark, t, Seq(ColumnRange("v", Some(0L), Some(80L))))
    assert(pruned.nonEmpty && pruned.size < all,
      s"expected a strict subset: ${pruned.size} of $all files")
    val got = ColumnStats.read(spark, t, Seq(ColumnRange("v", Some(0L), Some(80L))))
      .select("id", "v").as[(Long, Long)].collect().toSet
    val expected = spark.read.parquet(s"${t.path}/data")
      .filter(col("v") >= 0L && col("v") <= 80L)
      .select("id", "v").as[(Long, Long)].collect().toSet
    assert(got === expected)
    // an impossible range prunes everything and returns empty
    assert(ColumnStats.read(spark, t, Seq(ColumnRange("v", Some(1000L), None))).isEmpty)
    // half-open bounds work
    val ge = ColumnStats.read(spark, t, Seq(ColumnRange("v", Some(390L), None)))
    assert(ge.select("v").as[Long].collect().toSet === (390L until 400L).toSet)
  }

  test("over-threshold survivor list routes through the broadcast semi-join (no driver file array)") {
    val t = clusteredTable()
    val bounds = Seq(ColumnRange("v", Some(0L), Some(80L)))
    // maxFileListSize=0 forces the no-collect path for ANY survivor count
    val joined = ColumnStats.read(spark, t, bounds, maxFileListSize = 0)
    // string match: AQE wraps the tree, collect() can't see into it
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected a broadcast LEFT SEMI join on file_path in:\n$p")
    val expected = ColumnStats.read(spark, t, bounds)
      .select("id", "v").as[(Long, Long)].collect().toSet
    assert(joined.select("id", "v").as[(Long, Long)].collect().toSet === expected)
    // an impossible range still short-circuits to empty on both paths
    assert(ColumnStats.read(spark, t,
      Seq(ColumnRange("v", Some(1000L), None)), maxFileListSize = 0).isEmpty)
  }

  test("stale index falls back to the full scan, never to wrong answers") {
    val t = clusteredTable()
    // a new write advances the timeline; index is now stale
    MergeWriter.append(Seq((9999L, 5000L, 1L)).toDF("id", "v", "ver"), t)
    assert(!ColumnStats.isFresh(spark, t))
    // the new row is OUTSIDE every indexed file range — a naive pruned read
    // would miss it; the fallback must find it
    val got = ColumnStats.read(spark, t, Seq(ColumnRange("v", Some(4000L), None)))
      .select("id").as[Long].collect().toSeq
    assert(got === Seq(9999L))
    // rebuild restores freshness and pruning
    ColumnStats.rebuild(spark, t, Seq("v", "id"))
    assert(ColumnStats.isFresh(spark, t))
    val again = ColumnStats.read(spark, t, Seq(ColumnRange("v", Some(4000L), None)))
      .select("id").as[Long].collect().toSeq
    assert(again === Seq(9999L))
  }

  test("clustering stales the index: it rewrites files without a new data commit") {
    val t = clusteredTable()
    assert(ColumnStats.isFresh(spark, t))
    val commit = MergeWriter.latestCommit(spark, t)
    Clustering.cluster(spark, t, Seq("id"), numFiles = 3)
    assert(MergeWriter.latestCommit(spark, t) === commit)
    assert(!ColumnStats.isFresh(spark, t))
    // the stale index falls back to the scan of the clustered files
    assert(ColumnStats.read(spark, t, Seq(ColumnRange("v", Some(0L), Some(9L))))
      .select("v").as[Long].collect().toSet === (0L to 9L).toSet)
  }

  test("all-null files are skipped for range bounds (range never matches null)") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver")
    MergeWriter.append(Seq((1L, Some(10L), 1L), (2L, Some(20L), 1L))
      .toDF("id", "v", "ver"), t)
    MergeWriter.append(Seq((3L, None: Option[Long], 1L)).toDF("id", "v", "ver"), t)
    ColumnStats.rebuild(spark, t, Seq("v"))
    val pruned = ColumnStats.pruneFiles(spark, t, Seq(ColumnRange("v", Some(0L), None)))
    val idx = ColumnStats.stats(spark, t).get
    assert(idx.filter(col("v__nulls") > 0).count() === 1L)
    val got = ColumnStats.read(spark, t, Seq(ColumnRange("v", Some(0L), None)))
      .select("id").as[Long].collect().toSet
    assert(got === Set(1L, 2L))
    assert(pruned.size < idx.count())
  }
}
