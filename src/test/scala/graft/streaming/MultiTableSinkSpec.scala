package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.sink.MergeWriter

/** W3 — streaming multi-table demux: routing, per-table schema, in-batch
  * conflict resolution, delete ops, path templating, checkpointed resume
  * with idempotent replay, per-table transformer SQL. */
class MultiTableSinkSpec extends SparkSuite {

  import spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("ver", LongType)))

  private def specs(transformer: Option[String] = None) = Seq(
    CdcTableSpec("db1", "person", payloadSchema, Seq("id"), "ver",
      transformerSql = transformer),
    CdcTableSpec("db1", "student", payloadSchema, Seq("id"), "ver"))

  private def ev(table: String, op: String, offset: Long, id: Long,
                 v: String, ver: Long): String =
    s"""{"db":"db1","table":"$table","op":"$op","ts_ms":${1000 + offset},""" +
      s""""offset":$offset,"payload":"{\\"id\\":$id,\\"v\\":\\"$v\\",\\"ver\\":$ver}"}"""

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
