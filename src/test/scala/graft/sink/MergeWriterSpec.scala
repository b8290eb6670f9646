package graft.sink

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** W1 — Hudi-equivalent merge semantics: precombine dedup, upsert
  * replace-on-key, idempotent re-ingest, delete, partitioned COW rewrite,
  * MOR log + compaction, one two-sided commit. */
class MergeWriterSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-merge").toString

  private def batch(rows: (Long, String, Long, String)*): DataFrame =
    rows.toSeq.toDF("id", "val", "ver", "dt")

  private def cow(path: String, partitioned: Boolean = false) = LakeTable(
    path = path, tableName = "t", recordKeyFields = Seq("id"),
    precombineField = "ver",
    partitionFields = if (partitioned) Seq("dt") else Nil)

  private def readAll(t: LakeTable): Set[(Long, String, Long, String)] =
    MergeWriter.readView(spark, t)
      .select("id", "val", "ver", "dt").as[(Long, String, Long, String)]
      .collect().toSet

  test("intra-batch duplicates resolve to max precombine") {
    val d = MergeWriter.dedupByPrecombine(
      batch((1, "old", 1, "a"), (1, "new", 5, "a"), (2, "x", 1, "a")),
      Seq("id"), "ver")
    assert(d.as[(Long, String, Long, String)].collect().toSet ===
      Set((1L, "new", 5L, "a"), (2L, "x", 1L, "a")))
  }

  test("upsert replaces stored rows by key; unmatched rows survive") {
    val t = cow(tmp())
    MergeWriter.upsert(spark, batch((1, "a", 1, "p"), (2, "b", 1, "p")), t)
    MergeWriter.upsert(spark, batch((2, "b2", 2, "p"), (3, "c", 1, "p")), t)
    assert(readAll(t) === Set((1L, "a", 1L, "p"), (2L, "b2", 2L, "p"), (3L, "c", 1L, "p")))
  }

  test("re-ingesting the same batch is idempotent") {
    val t = cow(tmp())
    val b = batch((1, "a", 1, "p"), (2, "b", 2, "p"))
    MergeWriter.upsert(spark, b, t)
    val first = readAll(t)
    MergeWriter.upsert(spark, b, t)
    assert(readAll(t) === first)
  }

  test("delete removes keys") {
    val t = cow(tmp())
    MergeWriter.upsert(spark, batch((1, "a", 1, "p"), (2, "b", 1, "p")), t)
    MergeWriter.delete(spark, Seq((1L, "x", 9L, "p")).toDF("id", "val", "ver", "dt"), t)
    assert(readAll(t) === Set((2L, "b", 1L, "p")))
  }

  test("partitioned COW delete of a partition's only row drops the partition") {
    // dynamic overwrite never touches a partition the rewrite leaves empty,
    // so the emptied partition must be removed explicitly
    val t = cow(tmp(), partitioned = true)
    MergeWriter.upsert(spark, batch((1, "a", 1, "p1"), (2, "b", 1, "p2"),
      (3, "c", 1, "p2")), t)
    MergeWriter.delete(spark, Seq(1L).toDF("id"), t)
    assert(readAll(t).map(_._1) === Set(2L, 3L))
    assert(!new java.io.File(s"${t.path}/data/dt=p1").exists)
  }

  test("partitioned COW only rewrites affected partitions") {
    val t = cow(tmp(), partitioned = true)
    MergeWriter.upsert(spark, batch((1, "a", 1, "p1"), (2, "b", 1, "p2")), t)
    val p2FilesBefore = new java.io.File(s"${t.path}/data/dt=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    Thread.sleep(1100)
    MergeWriter.upsert(spark, batch((1, "a2", 2, "p1")), t)
    val p2FilesAfter = new java.io.File(s"${t.path}/data/dt=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    assert(p2FilesAfter === p2FilesBefore, "untouched partition was rewritten")
    assert(readAll(t) === Set((1L, "a2", 2L, "p1"), (2L, "b", 1L, "p2")))
  }

  test("partitioned COW upsert READS only affected partitions (plan-time prune)") {
    val t = cow(tmp(), partitioned = true)
    // 64 rows over 8 partitions: an unpruned read shows up as 64 input
    // records; a plan-time-pruned one as p1's 8
    MergeWriter.upsert(spark,
      batch((1L to 64L).map(i => (i, "v", 1L, s"p${i % 8}")): _*), t)
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      MergeWriter.upsert(spark, batch((1L, "v2", 2L, "p1")), t)
      // task-end events post asynchronously; wait for the drain
      var last = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val now = records.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      // only p1's file may be read (8 records; tolerate a footer re-read):
      // the static partition disjunction prunes at scan PLANNING time —
      // a runtime semi join would read all 64 rows to filter them
      assert(records.get() <= 16,
        s"partitioned upsert read ${records.get()} records — " +
          "expected only the affected partition (plan-time prune lost)")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(readAll(t).contains((1L, "v2", 2L, "p1")))
  }

  test("MOR: delta commits merge at read time; compaction folds them") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Nil, LakeTable.MergeOnRead)
    // base via bulk insert, then two log commits
    MergeWriter.append(batch((1, "a", 1, "p"), (2, "b", 1, "p")), t)
    MergeWriter.upsert(spark, batch((2, "b2", 2, "p")), t)
    MergeWriter.upsert(spark, batch((3, "c", 1, "p")), t)
    val expect = Set((1L, "a", 1L, "p"), (2L, "b2", 2L, "p"), (3L, "c", 1L, "p"))
    assert(readAll(t) === expect)
    MergeWriter.compact(spark, t)
    assert(readAll(t) === expect, "compaction changed the view")
    assert(!new java.io.File(s"${t.path}/_delta").exists, "log not cleared")
  }

  test("MOR delete tombstones hide rows until compaction") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Nil, LakeTable.MergeOnRead)
    MergeWriter.append(batch((1, "a", 1, "p"), (2, "b", 1, "p")), t)
    MergeWriter.delete(spark, batch((1, "a", 1, "p")), t)
    assert(readAll(t) === Set((2L, "b", 1L, "p")))
    MergeWriter.compact(spark, t)
    assert(readAll(t) === Set((2L, "b", 1L, "p")))
  }

  test("MOR compaction keeps a partition emptied by a tombstone empty") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Seq("dt"), LakeTable.MergeOnRead)
    MergeWriter.append(batch((1, "a", 1, "p1"), (2, "b", 1, "p2")), t)
    MergeWriter.delete(spark, Seq(1L).toDF("id"), t)
    assert(readAll(t).map(_._1) === Set(2L), "before compaction")
    MergeWriter.compact(spark, t)
    assert(readAll(t).map(_._1) === Set(2L), "after compaction")
  }

  test("one two-sided commit: upserts and deletes land together, upsert wins") {
    val base = Seq[(Long, String, Long, String)]((1, "a", 1, "p1"),
      (2, "b", 1, "p1"), (3, "c", 1, "p2"), (4, "d", 1, "p3"))
    val ups = Seq[(Long, String, Long, String)]((2, "b2", 2, "p1"),
      (3, "c2", 2, "p2"), (5, "e0", 1, "p2"), (5, "e", 2, "p2"))
    val dels = Set(1L, 3L, 4L) // 3 is upserted too; p3 is left empty
    // plain-Scala recompute: max precombine per upserted key, replacing
    // the stored row; deleted keys go unless upserted
    val upLatest = ups.groupBy(_._1).values.map(_.maxBy(_._3)).toSet
    val expected = base.filterNot(r => dels(r._1) || upLatest.exists(_._1 == r._1))
      .toSet ++ upLatest
    val tables = Seq(
      "COW" -> cow(tmp()),
      "COW partitioned" -> cow(tmp(), partitioned = true),
      "MOR" -> LakeTable(tmp(), "t", Seq("id"), "ver", Nil, LakeTable.MergeOnRead),
      "MOR partitioned" ->
        LakeTable(tmp(), "t", Seq("id"), "ver", Seq("dt"), LakeTable.MergeOnRead))
    tables.foreach { case (kind, t) =>
      MergeWriter.upsert(spark, batch(base: _*), t)
      val prev = MergeWriter.latestCommit(spark, t)
      MergeWriter.applyChanges(spark, t, Some(batch(ups: _*)),
        Some(dels.toSeq.toDF("id")))
      assert(MergeWriter.latestCommit(spark, t) === prev + 1, kind)
      assert(readAll(t) === expected, kind)
      if (t.tableType == LakeTable.MergeOnRead) {
        assert(MergeWriter.readAsOf(spark, t, prev)
          .select("id", "val", "ver", "dt").as[(Long, String, Long, String)]
          .collect().toSet === base.toSet, s"$kind readAsOf(prev)")
        assert(MergeWriter.incremental(spark, t, prev)
          .select("id", "val", "ver", "dt").as[(Long, String, Long, String)]
          .collect().toSet === upLatest, s"$kind incremental(prev)")
        MergeWriter.compact(spark, t)
        assert(readAll(t) === expected, s"$kind after compaction")
      }
    }
  }

  test("MOR: an upsert commit and a tombstone commit share the log chain") {
    // the two commits differ in shape (payload vs keys + _graft_deleted):
    // every log reader must see both, or deleted keys come back
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Nil, LakeTable.MergeOnRead)
    MergeWriter.append(batch((1, "a", 1, "p"), (2, "b", 1, "p"),
      (3, "c", 1, "p")), t)                                          // commit 1
    MergeWriter.upsert(spark, batch((2, "b2", 2, "p"), (4, "d", 1, "p")), t) // 2
    MergeWriter.delete(spark, batch((1, "a", 1, "p"), (4, "d", 1, "p")), t)  // 3
    def ids(df: DataFrame): Set[Long] = df.select("id").as[Long].collect().toSet
    assert(ids(MergeWriter.readAsOf(spark, t, 2L)) === Set(1L, 2L, 3L, 4L),
      "readAsOf before the delete")
    // all three readers checked before asserting, so a failure names each
    val live = Set(2L, 3L)
    val seen = Seq(
      "readView" -> ids(MergeWriter.readView(spark, t)),
      "readAsOf" -> ids(MergeWriter.readAsOf(spark, t, 3L)),
      "compact" -> { MergeWriter.compact(spark, t); ids(MergeWriter.readView(spark, t)) })
    assert(seen === Seq("readView" -> live, "readAsOf" -> live, "compact" -> live))
    assert(readAll(t) === Set((2L, "b2", 2L, "p"), (3L, "c", 1L, "p")))
  }

  test("a failed two-sided commit keeps the old snapshot; its replay commits") {
    FaultFs.register(spark)
    val t = cow(FaultFs.path(tmp()))
    val rows = (1L to 1000L).map(i => (i, s"v$i", 1L, "p"))
    MergeWriter.upsert(spark, batch(rows: _*), t)
    val ups = batch((5L, "new", 2L, "p"))
    val dels = Seq(7L).toDF("id")
    // the first part file the commit creates fails
    val fault = FaultFs.arm(1, (op, p) => op == "create" && p.getName.startsWith("part-"))
    try intercept[Exception](MergeWriter.applyChanges(spark, t, Some(ups), Some(dels)))
    finally fault.disarm()
    assert(readAll(t) === rows.toSet)
    assert(MergeWriter.latestCommit(spark, t) === 1L)
    MergeWriter.applyChanges(spark, t, Some(ups), Some(dels))
    val expected = rows.collect {
      case (5L, _, _, dt) => (5L, "new", 2L, dt)
      case r if r._1 != 7L => r
    }
    assert(expected.size === 999)
    assert(readAll(t) === expected.toSet)
    assert(MergeWriter.latestCommit(spark, t) === 2L)
  }

  test("a table written before published versions reads as before; its next commit adopts it") {
    def markers(path: String, n: Int): Unit = (1 to n).foreach(i =>
      Files.createFile(Files.createDirectories(Path.of(path, "_commits"))
        .resolve(i.toString)))
    def live(path: String): Set[String] =
      graft.sources.BucketedLake.readManifestFull(spark, path).get.entries.map(_.rel).toSet
    def onDisk(path: String): Set[String] = Seq("data", "_delta").map(Path.of(path, _))
      .filter(Files.exists(_)).flatMap(Files.walk(_).iterator.asScala
        .filter(_.toString.endsWith(".parquet")).map(Path.of(path).relativize(_).toString)).toSet

    // COW, the old layout: base files under data/, one marker per commit
    val c = cow(tmp(), partitioned = true)
    batch((1, "a", 1, "p"), (2, "b", 1, "q")).write.partitionBy("dt").parquet(s"${c.path}/data")
    markers(c.path, 2)
    assert(readAll(c) === Set((1L, "a", 1L, "p"), (2L, "b", 1L, "q")))
    assert(MergeWriter.latestCommit(spark, c) === 2L)
    MergeWriter.upsert(spark, batch((2, "b2", 2, "q")), c)
    assert(readAll(c) === Set((1L, "a", 1L, "p"), (2L, "b2", 2L, "q")))
    assert(MergeWriter.latestCommit(spark, c) === 3L)
    // the untouched partition's old file is adopted, the rewritten one's reclaimed
    assert(live(c.path).exists(_.startsWith("data/dt=p/")))
    assert(onDisk(c.path) === live(c.path))

    // MOR: a base, then a payload log and a tombstone log
    val m = cow(tmp()).copy(tableType = LakeTable.MergeOnRead)
    batch((1, "a", 1, "p"), (2, "b", 1, "p")).write.parquet(s"${m.path}/data")
    batch((2, "b2", 2, "p")).write.parquet(s"${m.path}/_delta/commit=2")
    Seq(1L).toDF("id").withColumn("_graft_deleted", lit(true))
      .write.parquet(s"${m.path}/_delta/commit=3")
    markers(m.path, 3)
    assert(readAll(m) === Set((2L, "b2", 2L, "p")))
    assert(MergeWriter.latestCommit(spark, m) === 3L)
    MergeWriter.upsert(spark, batch((3, "c", 1, "p")), m)
    assert(readAll(m) === Set((2L, "b2", 2L, "p"), (3L, "c", 1L, "p")))
    assert(MergeWriter.latestCommit(spark, m) === 4L)
    assert(onDisk(m.path) === live(m.path))
    MergeWriter.compact(spark, m)
    assert(readAll(m) === Set((2L, "b2", 2L, "p"), (3L, "c", 1L, "p")))
    assert(MergeWriter.latestCommit(spark, m) === 4L)
  }

  test("later commit wins over higher precombine from an earlier commit") {
    // OverwriteWithLatestAvroPayload semantics: incoming replaces stored,
    // even if the stored precombine is higher
    val t = cow(tmp())
    MergeWriter.upsert(spark, batch((1, "high", 9, "p")), t)
    MergeWriter.upsert(spark, batch((1, "low", 1, "p")), t)
    assert(readAll(t) === Set((1L, "low", 1L, "p")))
  }

  // ---- round 2: meta fields, incremental pull, time travel, evolution ----

  test("COW meta fields stamp commit time and record key per record") {
    val t = cow(tmp()).copy(metaFields = true)
    MergeWriter.upsert(spark, batch((1, "a", 1, "p"), (2, "b", 1, "p")), t)
    MergeWriter.upsert(spark, batch((2, "b2", 2, "p")), t)
    val rows = MergeWriter.readView(spark, t)
      .select("id", MergeWriter.CommitTimeCol, MergeWriter.RecordKeyCol)
      .as[(Long, Long, String)].collect().toSet
    assert(rows === Set((1L, 1L, "1"), (2L, 2L, "2")))
  }

  test("COW incremental pull returns only records changed after a commit") {
    val t = cow(tmp()).copy(metaFields = true)
    MergeWriter.upsert(spark, batch((1, "a", 1, "p"), (2, "b", 1, "p")), t)
    MergeWriter.upsert(spark, batch((2, "b2", 2, "p"), (3, "c", 1, "p")), t)
    val inc = MergeWriter.incremental(spark, t, sinceCommit = 1)
      .select("id", "val").as[(Long, String)].collect().toSet
    assert(inc === Set((2L, "b2"), (3L, "c")))
    assert(MergeWriter.incremental(spark, t, sinceCommit = 2).isEmpty)
  }

  test("MOR incremental pull resolves the latest change per key from the log") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Nil, LakeTable.MergeOnRead)
    MergeWriter.append(batch((1, "a", 1, "p"), (2, "b", 1, "p")), t) // commit 1
    MergeWriter.upsert(spark, batch((2, "b2", 2, "p")), t)           // commit 2
    MergeWriter.upsert(spark, batch((2, "b3", 3, "p"), (3, "c", 1, "p")), t) // commit 3
    MergeWriter.delete(spark, batch((1, "a", 1, "p")), t)            // commit 4
    val inc = MergeWriter.incremental(spark, t, sinceCommit = 1)
    val got = inc.select(col("id"), col("val"), col(MergeWriter.CommitTimeCol))
      .as[(Long, String, Long)].collect().toSet
    // id=2 appears once with its LATEST change; id=1's tombstone is excluded
    assert(got === Set((2L, "b3", 3L), (3L, "c", 3L)))
  }

  test("MOR time travel reads the snapshot as of an earlier commit") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Nil, LakeTable.MergeOnRead)
    MergeWriter.append(batch((1, "a", 1, "p")), t)          // commit 1 (base)
    MergeWriter.upsert(spark, batch((2, "b", 1, "p")), t)   // commit 2
    MergeWriter.upsert(spark, batch((2, "b2", 2, "p")), t)  // commit 3
    def asOf(c: Long) = MergeWriter.readAsOf(spark, t, c)
      .select("id", "val").as[(Long, String)].collect().toSet
    assert(asOf(2) === Set((1L, "a"), (2L, "b")))
    assert(asOf(3) === Set((1L, "a"), (2L, "b2")))
  }

  test("commit timeline stays monotonic across MOR compaction") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Nil, LakeTable.MergeOnRead)
    MergeWriter.append(batch((1, "a", 1, "p")), t)
    MergeWriter.upsert(spark, batch((2, "b", 1, "p")), t)
    assert(MergeWriter.latestCommit(spark, t) === 2L)
    MergeWriter.compact(spark, t)
    // _delta is gone but the timeline must not restart from 0
    assert(MergeWriter.latestCommit(spark, t) === 2L)
    MergeWriter.upsert(spark, batch((3, "c", 1, "p")), t)
    assert(MergeWriter.latestCommit(spark, t) === 3L)
  }

  test("schema evolution: a batch can add a column; old columns null-fill") {
    val t = cow(tmp())
    MergeWriter.upsert(spark, batch((1, "a", 1, "p"), (2, "b", 1, "p")), t)
    val evolved = Seq((2L, "b2", 2L, "p", "extra"))
      .toDF("id", "val", "ver", "dt", "note")
    MergeWriter.upsert(spark, evolved, t)
    val rows = MergeWriter.readView(spark, t)
      .select("id", "val", "note").as[(Long, String, Option[String])]
      .collect().toSet
    assert(rows === Set((1L, "a", None), (2L, "b2", Some("extra"))))
  }
}
