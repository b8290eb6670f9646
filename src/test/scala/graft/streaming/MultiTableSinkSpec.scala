package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.sink.{FaultFs, MergeWriter}

/** W3 — streaming multi-table demux: routing, per-table schema, in-batch
  * conflict resolution, delete ops, path templating, checkpointed resume
  * with idempotent replay, per-table transformer SQL, colliding specs,
  * concurrent per-table commits (job group, failure and replay). */
class MultiTableSinkSpec extends SparkSuite {

  import spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("ver", LongType)))

  private def specs(transformer: Option[String] = None) =
    tableSpecs(Seq("person", "student"), transformer.map("person" -> _).toMap)

  private def tableSpecs(tables: Seq[String], transformer: Map[String, String] = Map.empty) =
    tables.map(t => CdcTableSpec("db1", t, payloadSchema, Seq("id"), "ver",
      transformerSql = transformer.get(t)))

  private def ev(table: String, op: String, offset: Long, id: Long,
                 v: String, ver: Long): String =
    s"""{"db":"db1","table":"$table","op":"$op","ts_ms":${1000 + offset},""" +
      s""""offset":$offset,"payload":"{\\"id\\":$id,\\"v\\":\\"$v\\",\\"ver\\":$ver}"}"""

  /** One CDC event; `ev` renders it as a JSON line, `batchOf` as rows. */
  private case class Ev(table: String, op: String, offset: Long, id: Long,
                        v: String, ver: Long) {
    def json: String = ev(table, op, offset, id, v, ver)
  }

  private def batchOf(evs: Seq[Ev]): DataFrame = evs.map(e =>
    ("db1", e.table, e.op, 1000 + e.offset, e.offset,
      s"""{"id":${e.id},"v":"${e.v}","ver":${e.ver}}"""))
    .toDF("db", "table", "op", "ts_ms", "offset", "payload")

  /** Plain-Scala snapshot of `table` after `evs`: the last event per key by
    * offset wins, a delete removes the key. */
  private def expected(evs: Seq[Ev], table: String): Set[(Long, String, Long)] =
    evs.filter(_.table == table).sortBy(_.offset)
      .foldLeft(Map.empty[Long, (Long, String, Long)]) { (m, e) =>
        if (e.op == "delete") m - e.id else m + (e.id -> ((e.id, e.v, e.ver)))
      }.values.toSet

  private def readTable(root: String, table: String): Set[(Long, String, Long)] = {
    val p = s"$root/db1/ods_db1_$table/data"
    if (!new java.io.File(p).exists) Set.empty
    else spark.read.parquet(p).select("id", "v", "ver")
      .as[(Long, String, Long)].collect().toSet
  }

  test("demux routes tables, resolves paths, applies deletes; resume is idempotent") {
    val root = Files.createTempDirectory("graft-cdc").toString
    val inDir = Files.createTempDirectory("graft-cdc-in").toString
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    val sink = new MultiTableSink(s"$root/{db}/ods_{db}_{table}", specs(), 1)

    // batch 1: inserts into both tables + an intra-batch conflict on person.id=1
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"),
      Seq(
        ev("person", "insert", 1, 1, "old", 1),
        ev("person", "update", 2, 1, "new", 2), // later offset wins in-batch
        ev("person", "insert", 3, 2, "keep", 1),
        ev("student", "insert", 4, 10, "s10", 1)).mkString("\n"))
    val q1 = sink.start(CdcSource.fileStream(spark, inDir), ckpt)
    q1.processAllAvailable(); q1.stop()

    assert(readTable(root, "person") === Set((1L, "new", 2L), (2L, "keep", 1L)))
    assert(readTable(root, "student") === Set((10L, "s10", 1L)))

    // batch 2 after restart from the same checkpoint: update + delete
    Files.writeString(java.nio.file.Path.of(inDir, "b2.json"),
      Seq(
        ev("person", "update", 5, 2, "keep2", 2),
        ev("person", "delete", 6, 1, "x", 3),
        ev("student", "delete", 7, 10, "x", 2)).mkString("\n"))
    val q2 = sink.start(CdcSource.fileStream(spark, inDir), ckpt)
    q2.processAllAvailable(); q2.stop()

    assert(readTable(root, "person") === Set((2L, "keep2", 2L)))
    assert(readTable(root, "student") === Set.empty)
    // batch 2's update and delete on person land as ONE commit
    assert(MergeWriter.latestCommit(spark, sink.resolveLakeTable(specs().head)) === 2L)

    // replaying the SAME batch against the table is idempotent (the
    // at-least-once → exactly-once argument): apply batch 2's person rows again
    val replay = Seq(("db1", "person", "update", 1005L, 5L,
      """{"id":2,"v":"keep2","ver":2}"""))
      .toDF("db", "table", "op", "ts_ms", "offset", "payload")
    sink.processBatch(replay, 99)
    assert(readTable(root, "person") === Set((2L, "keep2", 2L)))
  }

  test("unknown tables are ignored; empty batches are no-ops") {
    val root = Files.createTempDirectory("graft-cdc2").toString
    val sink = new MultiTableSink(s"$root/{db}/ods_{db}_{table}", specs(), 1)
    val unknown = Seq(("db9", "nope", "insert", 1L, 1L, """{"id":1}"""))
      .toDF("db", "table", "op", "ts_ms", "offset", "payload")
    sink.processBatch(unknown, 0)
    sink.processBatch(unknown.limit(0), 1)
    assert(!new java.io.File(s"$root/db9").exists)
  }

  test("per-table transformer SQL derives columns before the merge (partition col dt)") {
    val root = Files.createTempDirectory("graft-cdc3").toString
    // the reference's partition-deriving transform
    // (HoodieBinlogDeltaTransformationSuite.scala:39-40)
    val sink = new MultiTableSink(s"$root/{db}/ods_{db}_{table}",
      Seq(CdcTableSpec("db1", "person", payloadSchema, Seq("id"), "ver",
        partitionFields = Seq("dt"),
        transformerSql = Some(
          "SELECT *, COALESCE(CAST(ver AS STRING), '1970-01-01') AS dt FROM <SRC>"))), 1)
    val batch = Seq(
      ("db1", "person", "insert", 1000L, 1L, """{"id":1,"v":"a","ver":7}"""))
      .toDF("db", "table", "op", "ts_ms", "offset", "payload")
    sink.processBatch(batch, 0)
    assert(new java.io.File(s"$root/db1/ods_db1_person/data/dt=7").exists)
  }

  test("path template substitutes both placeholders") {
    val sink = new MultiTableSink("/lake/{db}/ods_{db}_{table}", specs())
    assert(sink.resolvePath("a", "b") === "/lake/a/ods_a_b")
  }

  test("two specs for one (db, table) are rejected at construction") {
    val e = intercept[IllegalArgumentException](
      new MultiTableSink("/lake/{db}/ods_{db}_{table}", specs() :+ specs().head))
    assert(e.getMessage.contains("db1.person and db1.person"))
  }

  test("two tables resolving to one lake path are rejected at construction") {
    // a template without {table} puts every table of a db on one path
    val e = intercept[IllegalArgumentException](
      new MultiTableSink("/lake/{db}/ods", specs()))
    assert(e.getMessage.contains("db1.person and db1.student"))
    assert(e.getMessage.contains("/lake/db1/ods"))
  }

  test("a failing table fails the batch after the other tables commit; replay completes it") {
    val root = Files.createTempDirectory("graft-cdc5").toString
    val template = s"$root/{db}/ods_{db}_{table}"
    val tables = Seq("person", "student", "teacher")
    val evs = Seq(
      Ev("person", "insert", 1, 1, "a", 1),
      Ev("student", "insert", 2, 10, "s", 1),
      Ev("teacher", "insert", 3, 20, "t", 1),
      Ev("person", "insert", 4, 2, "b", 1),
      Ev("teacher", "delete", 5, 20, "x", 2),
      Ev("teacher", "insert", 6, 21, "u", 1),
      Ev("student", "update", 7, 10, "s2", 2))
    val batch = batchOf(evs)
    val broken = new MultiTableSink(template,
      tableSpecs(tables, Map("student" -> "SELECT *, no_such_col AS x FROM <SRC>")), 1)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[AnalysisException](broken.processBatch(batch, 0))
    assert(e.getMessage.contains("no_such_col"))
    // the other tables' commits still landed, and nothing is left behind
    val sink = new MultiTableSink(template, tableSpecs(tables), 1)
    val commits = tables.map(t => MergeWriter.latestCommit(spark,
      sink.resolveLakeTable(tableSpecs(Seq(t)).head)))
    assert(commits === Seq(1L, 0L, 1L))
    assert(readTable(root, "person") === expected(evs, "person"))
    assert(readTable(root, "teacher") === expected(evs, "teacher"))
    assert(readTable(root, "student") === Set.empty)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.isAlive && t.getName.startsWith(MultiTableSink.CommitThreadPrefix)))
    // with the spec fixed, replaying the batch lands every table
    sink.processBatch(batch, 0)
    tables.foreach(t => assert(readTable(root, t) === expected(evs, t), t))
  }

  test("streaming: a table's commit fails on a filesystem fault; the replayed batch recovers it") {
    FaultFs.register(spark)
    val root = Files.createTempDirectory("graft-cdc7").toString
    val inDir = Files.createTempDirectory("graft-cdc7-in").toString
    val ckpt = Files.createTempDirectory("graft-cdc7-ckpt").toString
    val sink = new MultiTableSink(FaultFs.path(s"$root/{db}/ods_{db}_{table}"), specs(), 1)
    val lakes = specs().map(sink.resolveLakeTable)
    def snapshots = lakes.map(t => MergeWriter.readView(spark, t).select("id", "v", "ver")
      .as[(Long, String, Long)].collect().toSet)
    def commits = lakes.map(MergeWriter.latestCommit(spark, _))
    def run(): Unit = {
      val q = sink.start(CdcSource.fileStream(spark, inDir), ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    val first = Seq(Ev("person", "insert", 1, 1, "a", 1), Ev("person", "insert", 2, 2, "b", 1),
      Ev("student", "insert", 3, 10, "s", 1))
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"), first.map(_.json).mkString("\n"))
    run()
    val before = commits
    val second = Seq(Ev("person", "update", 4, 1, "a2", 2), Ev("person", "delete", 5, 2, "x", 2),
      Ev("student", "insert", 6, 11, "t", 1))
    Files.writeString(java.nio.file.Path.of(inDir, "b2.json"), second.map(_.json).mkString("\n"))
    // person's first part file of the batch fails; student commits
    val fault = FaultFs.arm(1, (op, p) => op == "create" && p.getName.startsWith("part-") &&
      p.toString.contains("ods_db1_person"))
    try intercept[StreamingQueryException](run()) finally fault.disarm()
    assert(snapshots === Seq(expected(first, "person"), expected(first ++ second, "student")))
    val failed = commits
    assert(failed === Seq(before.head, before(1) + 1))
    // the restarted query replays the batch: each table commits once more
    run()
    assert(snapshots === Seq("person", "student").map(expected(first ++ second, _)))
    assert(commits === failed.map(_ + 1))
  }

  test("streaming: each table commits once per batch under the query's job group") {
    val root = Files.createTempDirectory("graft-cdc6").toString
    val inDir = Files.createTempDirectory("graft-cdc6-in").toString
    val ckpt = Files.createTempDirectory("graft-cdc6-ckpt").toString
    // three tables: below three task slots, one waits for a commit thread
    val tables = Seq("person", "student", "teacher")
    val sink = new MultiTableSink(s"$root/{db}/ods_{db}_{table}", tableSpecs(tables), 1)
    val lakes = tableSpecs(tables).map(sink.resolveLakeTable)
    // an initial image per table, so the streamed batch rewrites each one
    val initial = tables.zipWithIndex.flatMap { case (t, i) =>
      Seq(Ev(t, "insert", 2 * i + 1, 1, s"$t-1", 1), Ev(t, "insert", 2 * i + 2, 2, s"$t-2", 1))
    }
    sink.processBatch(batchOf(initial), 0)
    val before = lakes.map(MergeWriter.latestCommit(spark, _))
    val streamed = tables.zipWithIndex.flatMap { case (t, i) =>
      val o = 100 + 10 * i
      Seq(Ev(t, "update", o, 1, s"$t-1b", 2), Ev(t, "delete", o + 1, 2, "x", 2),
        Ev(t, "insert", o + 2, 3, s"$t-3", 1), Ev(t, "update", o + 3, 3, s"$t-3b", 2))
    }
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"), streamed.map(_.json).mkString("\n"))

    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull)): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = sink.start(CdcSource.fileStream(spark, inDir), ckpt)
      try q.processAllAvailable() finally q.stop()
      // listener events arrive in order: once this marker job's start has
      // arrived, so has every job the query started
      spark.sparkContext.setJobGroup("marker", "marker")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val until = System.currentTimeMillis() + 30000
      while (!groups.contains("marker") && System.currentTimeMillis() < until) Thread.sleep(20)
      q
    } finally spark.sparkContext.removeSparkListener(listener)

    val (marker, seen) = groups.asScala.toSeq.partition(_ == "marker")
    assert(marker.nonEmpty)
    assert(seen.nonEmpty && seen.forall(_ == q.runId.toString), seen.distinct)
    assert(lakes.map(MergeWriter.latestCommit(spark, _)) === before.map(_ + 1))
    tables.foreach(t => assert(readTable(root, t) === expected(initial ++ streamed, t), t))
  }

  test("W4 console debug sink runs a micro-batch (truncate=false, numRows)") {
    val inDir = Files.createTempDirectory("graft-cdc-con").toString
    val ckpt = Files.createTempDirectory("graft-cdc-con-ckpt").toString
    Files.writeString(java.nio.file.Path.of(inDir, "c.json"),
      ev("person", "insert", 1, 1, "a", 1))
    val sink = new MultiTableSink("/tmp/unused/{db}/{table}", specs(), 1)
    val q = sink.startConsole(CdcSource.fileStream(spark, inDir), ckpt)
    try { q.processAllAvailable() } finally q.stop()
    assert(q.lastProgress != null && q.lastProgress.sink.description.contains("Console"))
  }

  test("BinlogOffset: order-preserving two-part encoding round-trips") {
    val offs = Seq(BinlogOffset(0, 0), BinlogOffset(0, 4), BinlogOffset(3, 0),
      BinlogOffset(3, 1000), BinlogOffset(4, 2), BinlogOffset(BinlogOffset.MaxIndex, BinlogOffset.MaxPos))
    // encoding preserves (index, pos) lexicographic order
    assert(offs.map(_.encoded) === offs.map(_.encoded).sorted)
    offs.foreach(o => assert(BinlogOffset.decode(o.encoded) === o))
    intercept[IllegalArgumentException](BinlogOffset(-1, 0))
    intercept[IllegalArgumentException](BinlogOffset(0, BinlogOffset.MaxPos + 1))
  }

  test("resume from a mid-stream (binlog index, file offset) pair (S12)") {
    import graft.apps.CdcStreamApp
    val root = Files.createTempDirectory("graft-cdc4").toString
    val inDir = Files.createTempDirectory("graft-cdc4-in").toString
    val ckpt = Files.createTempDirectory("graft-cdc4-ckpt").toString
    val sink = new MultiTableSink(s"$root/{db}/ods_{db}_{table}", specs(), 1)
    // events carry two-part binlog positions: file 1 @ 100/200, file 2 @ 50
    def bev(idx: Long, pos: Long, id: Long, v: String, ver: Long): String =
      ev("person", "insert", BinlogOffset(idx, pos).encoded, id, v, ver)
    Files.writeString(java.nio.file.Path.of(inDir, "b1.json"),
      Seq(bev(1, 100, 1, "a", 1), bev(1, 200, 2, "b", 1), bev(2, 50, 3, "c", 1))
        .mkString("\n"))
    // reference CLI parity: --binlog-index 1 --binlog-file-offset 200
    val start = CdcStreamApp.startOffset(
      Map("binlog-index" -> "1", "binlog-file-offset" -> "200")).get
    assert(start === BinlogOffset(1, 200))
    val events = CdcSource.fileStream(spark, inDir)
      .filter($"offset" >= start.encoded) // the app's resume predicate
    val q = sink.start(events, ckpt)
    q.processAllAvailable(); q.stop()
    // row at (1,100) predates the resume point and must NOT be applied
    assert(readTable(root, "person") === Set((2L, "b", 1L), (3L, "c", 1L)))
  }
}
