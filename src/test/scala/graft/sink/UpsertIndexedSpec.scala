package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** COW upsert on a table with a fresh key index: only bloom-matched files
  * are rewritten, results equal the unindexed upsert, the commit maintains
  * the index incrementally, and a stale index or a batch that adds a
  * column makes it the plain upsert. */
class UpsertIndexedSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-upsert-idx").toString

  private def files(t: LakeTable): Set[String] =
    new java.io.File(s"${t.path}/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

  private def build3(indexed: Boolean = true): LakeTable = {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver")
    for (b <- 0 until 3) {
      val rows = (b * 100 until (b + 1) * 100).map(i => (i.toLong, s"v$i", 1L))
      MergeWriter.append(rows.toDF("id", "v", "ver").repartition(1), t)
    }
    if (indexed) BloomIndex.rebuild(spark, t, expectedKeysPerFile = 100, fpp = 0.001)
    t
  }

  test("rewrites only the files whose blooms match the batch keys") {
    val t = build3()
    val before = files(t)
    assert(before.size === 3)
    // keys 150/160 live in the middle file; 5000 is brand new
    val batch = Seq((150L, "UP", 2L), (160L, "UP", 2L), (5000L, "NEW", 1L))
      .toDF("id", "v", "ver")
    MergeWriter.upsert(spark, batch, t)
    val after = files(t)
    val untouched = before.intersect(after)
    assert(untouched.size >= 2, s"too many files rewritten: kept $untouched of $before")
    assert((after -- before).nonEmpty, "no new slice written")
    // contents: 301 rows, updates applied, insert present
    val view = MergeWriter.readView(spark, t)
    assert(view.count() === 301L)
    assert(view.filter(col("id") === 150L).select("v").as[String].head() === "UP")
    assert(view.filter(col("id") === 99L).select("v").as[String].head() === "v99")
    assert(view.filter(col("id") === 5000L).select("v").as[String].head() === "NEW")
    // index was maintained incrementally and is still fresh + correct
    assert(BloomIndex.isFresh(spark, t))
    assert(BloomIndex.readKeys(spark, t, Seq("150")).select("v").as[String].head() === "UP")
    assert(BloomIndex.readKeys(spark, t, Seq("5000")).count() === 1L)
  }

  test("insert-only batch appends a slice without touching any file") {
    val t = build3()
    val before = files(t)
    MergeWriter.upsert(spark, Seq((9000L, "X", 1L)).toDF("id", "v", "ver"), t)
    val after = files(t)
    assert(before.subsetOf(after), "an existing file was rewritten")
    assert(after.size === before.size + 1)
    assert(MergeWriter.readView(spark, t).count() === 301L)
    assert(BloomIndex.isFresh(spark, t))
  }

  test("matches the plain upsert result exactly") {
    val tIdx = build3()
    val tPlain = build3(indexed = false)
    val batch = Seq((0L, "A", 9L), (250L, "B", 9L), (777L, "C", 1L))
      .toDF("id", "v", "ver")
    MergeWriter.upsert(spark, batch, tIdx)
    MergeWriter.upsert(spark, batch, tPlain)
    val a = MergeWriter.readView(spark, tIdx)
      .select("id", "v", "ver").as[(Long, String, Long)].collect().toSet
    val b = MergeWriter.readView(spark, tPlain)
      .select("id", "v", "ver").as[(Long, String, Long)].collect().toSet
    assert(a === b)
  }

  test("clustering between file-slice upserts stales the index; the next upsert stays exact") {
    val t = build3()
    val first = Seq((5L, "A", 2L), (150L, "B", 2L)).toDF("id", "v", "ver")
    MergeWriter.upsert(spark, first, t)
    assert(BloomIndex.isFresh(spark, t))
    // clustering rewrites every file but keeps the data commit
    Clustering.cluster(spark, t, Seq("id"), numFiles = 2)
    assert(!BloomIndex.isFresh(spark, t))
    val second = Seq((150L, "C", 3L), (299L, "D", 2L), (600L, "E", 1L)).toDF("id", "v", "ver")
    MergeWriter.upsert(spark, second, t)
    // plain-Scala recompute: each batch replaces the rows with its keys
    val expected = Seq(Seq(5L -> "A", 150L -> "B"), Seq(150L -> "C", 299L -> "D", 600L -> "E"))
      .foldLeft((0L until 300L).map(i => i -> s"v$i").toMap)(_ ++ _)
    assert(MergeWriter.readView(spark, t).select("id", "v").as[(Long, String)]
      .collect().sorted.toSeq === expected.toSeq.sorted)
    // a stale index is neither consulted nor maintained; a rebuild
    // freshens it
    assert(!BloomIndex.isFresh(spark, t))
    BloomIndex.rebuild(spark, t, 100, 0.001)
    assert(BloomIndex.isFresh(spark, t))
  }

  test("stale index and schema evolution both fall back to plain upsert") {
    val t = build3()
    // make the index stale
    MergeWriter.append(Seq((400L, "x", 1L)).toDF("id", "v", "ver"), t)
    assert(!BloomIndex.isFresh(spark, t))
    MergeWriter.upsert(spark, Seq((400L, "y", 2L)).toDF("id", "v", "ver"), t)
    assert(MergeWriter.readView(spark, t)
      .filter(col("id") === 400L).select("v").as[String].head() === "y")
    // schema evolution: the new column must land (every file is rewritten)
    BloomIndex.rebuild(spark, t, 100, 0.001)
    val before = files(t)
    val evolved = Seq((0L, "z", 9L, "extra")).toDF("id", "v", "ver", "note")
    MergeWriter.upsert(spark, evolved, t)
    assert(files(t).intersect(before).isEmpty, "a file without the new column stayed")
    assert(BloomIndex.isFresh(spark, t))
    val row = MergeWriter.readView(spark, t).filter(col("id") === 0L)
      .select("v", "note").as[(String, Option[String])].head()
    assert(row === (("z", Some("extra"))))
  }
}
