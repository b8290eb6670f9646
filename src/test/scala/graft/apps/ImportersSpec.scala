package graft.apps

import java.nio.file.Files
import java.sql.DriverManager

import graft.SparkSuite
import graft.core.ConfigLayer
import graft.sources.DataAddress
import graft.streaming.CdcTableSpec

/** End-to-end batch apps: JDBC (embedded Derby — a whitelisted dialect,
  * HoodieJDBCImporter.scala:147-148), CSV file import with reader options,
  * JSON doc import with the auto-flatten gate, catalog sync, CLI parsing. */
class ImportersSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("JDBC import end-to-end against embedded Derby") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      "CREATE TABLE stu (id BIGINT NOT NULL, name VARCHAR(50), age INT, PRIMARY KEY (id))")
    c.createStatement().execute("INSERT INTO stu VALUES (1,'wangsong',20),(2,'lisi',30),(3,'wangwu',40)")
    c.close()

    val out = tmp("graft-jdbc-out")
    val conf = ConfigLayer(Map(
      "hoodie.deltastreamer.jdbc.extra.options.url" -> url,
      "hoodie.deltastreamer.jdbc.extra.options.dbtable" -> "stu",
      "path" -> out,
      "hoodie.table.name" -> "stu",
      "hoodie.datasource.write.recordkey.field" -> "ID",
      "hoodie.datasource.write.precombine.field" -> "ID",
      "hoodie.upsert.shuffle.parallelism" -> "2",
      "hoodie.deltastreamer.transformer.sql" ->
        "SELECT ID, UPPER(NAME) AS NAME, AGE FROM <SRC> WHERE AGE >= 30"))
    JdbcImport.sync(spark, conf, Map("dialect" -> "derby"))
    val got = spark.read.parquet(s"$out/data").select("ID", "NAME", "AGE")
      .as[(Long, String, Int)].collect().toSet
    assert(got === Set((2L, "LISI", 30), (3L, "WANGWU", 40)))
  }

  test("JDBC dialect whitelist rejects unknown dialects") {
    val e = intercept[IllegalArgumentException](
      JdbcImport.readSource(spark, ConfigLayer.empty, Map("dialect" -> "nosuchdb")))
    assert(e.getMessage.contains("nosuchdb"))
  }

  test("JDBC --table and query option are mutually exclusive") {
    val conf = ConfigLayer(Map(
      "hoodie.deltastreamer.jdbc.extra.options.url" -> "jdbc:derby:memory:x",
      "hoodie.deltastreamer.jdbc.extra.options.query" -> "select 1"))
    val e = intercept[IllegalArgumentException](
      JdbcImport.readSource(spark, conf, Map("dialect" -> "derby", "table" -> "t")))
    assert(e.getMessage.contains("same time"))
  }

  test("file import: delimited CSV with header + inferSchema options, upsert") {
    val src = tmp("graft-csv-src")
    Files.writeString(java.nio.file.Path.of(src, "simple.csv"),
      "col1;col2;col3\nfoo;bar;1\nbaz;qux;2\n")
    val out = tmp("graft-csv-out")
    val conf = ConfigLayer(Map(
      "hoodie.deltastreamer.excel.extra.options.header" -> "true",
      "hoodie.deltastreamer.excel.extra.options.delimiter" -> ";",
      "hoodie.deltastreamer.excel.extra.options.inferSchema" -> "true",
      "path" -> out,
      "hoodie.datasource.write.recordkey.field" -> "col1",
      "hoodie.datasource.write.precombine.field" -> "col3"))
    FileImport.sync(spark, conf, Map("resource" -> s"$src/*.csv"))
    val got = spark.read.parquet(s"$out/data").as[(String, String, Int)].collect().toSet
    assert(got === Set(("foo", "bar", 1), ("baz", "qux", 2)))
  }

  test("hoodie.index.type=BLOOM keeps a fresh key index across upserts") {
    val src = tmp("graft-bloom-src")
    val out = tmp("graft-bloom-out")
    Files.writeString(java.nio.file.Path.of(src, "a.csv"), "id,v\n1,a\n2,b\n")
    val conf = ConfigLayer(Map(
      "hoodie.deltastreamer.excel.extra.options.header" -> "true",
      "hoodie.deltastreamer.excel.extra.options.inferSchema" -> "true",
      "path" -> out,
      "hoodie.table.name" -> "t",
      "hoodie.index.type" -> "BLOOM",
      "hoodie.datasource.write.recordkey.field" -> "id",
      "hoodie.datasource.write.precombine.field" -> "id"))
    // batch 1: the first commit — the app must leave a FRESH bloom index behind
    FileImport.sync(spark, conf, Map("resource" -> s"$src/a.csv"))
    val table = graft.sink.LakeTable.fromConfig(out, conf)
    assert(graft.sink.BloomIndex.isFresh(spark, table))
    // batch 2: the commit narrows by the index and keeps it fresh
    Files.writeString(java.nio.file.Path.of(src, "b.csv"), "id,v\n2,B2\n3,c\n")
    FileImport.sync(spark, conf, Map("resource" -> s"$src/b.csv"))
    assert(graft.sink.BloomIndex.isFresh(spark, table))
    val got = spark.read.parquet(s"$out/data").select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("dataAddress parses sheet/range forms (S7)") {
    assert(DataAddress.parse("A1") === DataAddress(None, 1, 1, None, None))
    assert(DataAddress.parse("Tabelle2!A1") ===
      DataAddress(Some("Tabelle2"), 1, 1, None, None))
    assert(DataAddress.parse("'My Sheet'!B3:AA10") ===
      DataAddress(Some("My Sheet"), 3, 2, Some(10), Some(27)))
    intercept[IllegalArgumentException](DataAddress.parse("!!"))
  }

  test("file import honors dataAddress: sheet file + row/col range (S6/S7)") {
    val src = tmp("graft-wb-src")
    // workbook-as-directory: two "sheets"; only tabelle2's B2:C4 is wanted
    Files.writeString(java.nio.file.Path.of(src, "tabelle1.csv"),
      "x,y,z\n9,9,9\n")
    Files.writeString(java.nio.file.Path.of(src, "tabelle2.csv"),
      "junk,junk,junk\nskip_a,h1,h2\nskip_b,v1,1\nskip_c,v2,2\nskip_d,ignored,9\n")
    val conf = ConfigLayer(Map(
      "hoodie.deltastreamer.excel.extra.options.header" -> "true",
      "hoodie.deltastreamer.excel.extra.options.inferSchema" -> "true",
      "hoodie.deltastreamer.excel.extra.options.dataAddress" -> "'tabelle2'!B2:C4"))
    val df = FileImport.readSource(spark, conf, Map("resource" -> src))
    assert(df.columns.toSeq === Seq("h1", "h2"))
    assert(df.as[(String, Int)].collect().toSet === Set(("v1", 1), ("v2", 2)))
  }

  test("doc import: nested JSON with auto-flatten gate produces 1NF columns") {
    val src = tmp("graft-doc-src")
    Files.writeString(java.nio.file.Path.of(src, "docs.json"),
      """{"id": 1, "_id": {"oid": "O1"}, "locs": [{"loc_id": "l1", "x": 1.0}, {"loc_id": "l2", "x": 2.0}]}""")
    val out = tmp("graft-doc-out")
    val conf = ConfigLayer(Map(
      "hoodie.deltastreamer.mongodb.auto.flatten.enable" -> "true",
      "path" -> out,
      "hoodie.datasource.write.recordkey.field" -> "_id_oid,locs_loc_id",
      "hoodie.datasource.write.precombine.field" -> "id"))
    DocImport.sync(spark, conf, Map("resource" -> src))
    val got = spark.read.parquet(s"$out/data")
    assert(got.columns.toSet === Set("_id_oid", "id", "locs_loc_id", "locs_x"))
    assert(got.count() === 2)
  }

  test("empty source aborts with the reference's guard message (T7)") {
    val src = tmp("graft-empty-src")
    Files.writeString(java.nio.file.Path.of(src, "e.csv"), "a;b\n")
    val conf = ConfigLayer(Map(
      "hoodie.deltastreamer.excel.extra.options.header" -> "true",
      "hoodie.deltastreamer.excel.extra.options.delimiter" -> ";",
      "path" -> tmp("graft-empty-out"),
      "hoodie.datasource.write.recordkey.field" -> "a",
      "hoodie.datasource.write.precombine.field" -> "b"))
    val e = intercept[IllegalStateException](
      FileImport.sync(spark, conf, Map("resource" -> s"$src/*.csv")))
    assert(e.getMessage.contains("empty"))
  }

  test("catalog sync registers a partitioned external table with discovered partitions") {
    val out = tmp("graft-cat-out")
    val conf = ConfigLayer(Map(
      "hoodie.deltastreamer.mongodb.auto.flatten.enable" -> "false",
      "path" -> out,
      "hoodie.datasource.write.recordkey.field" -> "id",
      "hoodie.datasource.write.precombine.field" -> "ver",
      "hoodie.datasource.write.partitionpath.field" -> "dt",
      "hoodie.datasource.hive_sync.enable" -> "true",
      "hoodie.datasource.hive_sync.database" -> "graft_test",
      "hoodie.datasource.hive_sync.table" -> "synced"))
    val src = tmp("graft-cat-src")
    Seq((1L, "a", 1L, "p1"), (2L, "b", 1L, "p2")).toDF("id", "v", "ver", "dt")
      .write.mode("overwrite").json(src)
    DocImport.sync(spark, conf, Map("resource" -> src))
    val got = spark.sql("SELECT id, v, ver, dt FROM graft_test.synced ORDER BY id")
      .as[(Long, String, Long, String)].collect().toSeq
    assert(got === Seq((1L, "a", 1L, "p1"), (2L, "b", 1L, "p2")))
  }

  test("CLI parser: flags, repeated --hoodie-conf, --debug") {
    val (cli, overrides, debug) = JdbcImport.parseArgs(Array(
      "--dialect", "derby", "--table", "t", "--props", "/x.properties",
      "--hoodie-conf", "a=1", "--hoodie-conf", "b=2", "--debug"))
    assert(cli === Map("dialect" -> "derby", "table" -> "t", "props" -> "/x.properties"))
    assert(overrides === Seq("a=1", "b=2"))
    assert(debug)
    intercept[IllegalArgumentException](JdbcImport.validate(Map.empty))
  }

  test("CdcStreamApp parses per-table specs from the db.table namespace") {
    val conf = ConfigLayer(Map(
      "db1.person.schema" -> "id LONG, v STRING, ver LONG",
      "db1.person.hoodie.datasource.write.recordkey.field" -> "id",
      "db1.person.hoodie.datasource.write.precombine.field" -> "ver",
      "db1.student.schema" -> "id LONG, ver LONG",
      "db1.student.hoodie.datasource.write.recordkey.field" -> "id",
      "db1.student.hoodie.datasource.write.precombine.field" -> "ver",
      "db1.student.hoodie.datasource.write.partitionpath.field" -> "dt"))
    val specs = CdcStreamApp.tableSpecs(conf)
    assert(specs.map(s => (s.db, s.table)) === Seq(("db1", "person"), ("db1", "student")))
    assert(specs.head.payloadSchema.fieldNames.toSeq === Seq("id", "v", "ver"))
    assert(specs(1).partitionFields === Seq("dt"))
    assert(CdcStreamApp.patternOf("a, b").matches("b"))
    assert(!CdcStreamApp.patternOf("a, b").matches("c"))
  }
}
