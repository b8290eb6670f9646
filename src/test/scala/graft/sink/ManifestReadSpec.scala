package graft.sink

import java.nio.file.Files
import java.sql.Date
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The base read builds its relation from the version's manifest entries:
  * it equals what `spark.read.option("basePath", data/).parquet(files)`
  * reads of the same files (columns, types, nullability, order, rows and
  * `_metadata.file_path`), and building it launches no Spark job. */
class ManifestReadSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-mread").toString

  /** Spark's own read of the same files, the reference: it stats them,
    * infers the partitions under `data/` and reads a footer for the schema. */
  private def listedRead(t: LakeTable): DataFrame =
    spark.read.option("basePath", s"${t.path}/data")
      .parquet(MergeWriter.baseFiles(spark, t)._2.map(e => new Path(t.path, e.rel).toString): _*)

  private def withPaths(df: DataFrame): Seq[String] =
    df.select(col("*"), col("_metadata.file_path").as("_fp")).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSameRead(t: LakeTable): Unit = {
    val (expected, actual) = (listedRead(t), MergeWriter.readView(spark, t))
    assert(actual.schema === expected.schema)
    assert(actual.schema.map(_.nullable).forall(identity))
    assert(withPaths(actual) === withPaths(expected))
    assert(withPaths(actual).nonEmpty)
  }

  /** Spark jobs started while `body` runs, and its result. */
  private def countingJobs[T](body: => T): (Int, T) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(500) // let the listener bus drain
      (jobs.get(), out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("unpartitioned: the manifest read equals the listed read") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver")
    MergeWriter.upsert(spark, Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "val", "ver"), t)
    MergeWriter.upsert(spark, Seq((2L, "c", 2L), (3L, "d", 2L)).toDF("id", "val", "ver"), t)
    assertSameRead(t)
  }

  test("partitioned: NULL, escaped, int-like and date values read as listed") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Seq("p", "d"))
    val values = Seq(null, "a/b", "x=y", "a space", "01")
    val rows = values.zipWithIndex.flatMap { case (p, i) =>
      Seq((i.toLong, s"v$i", 1L, p, Date.valueOf("2024-01-01")),
        (i + 10L, s"w$i", 1L, p, Date.valueOf(s"2024-02-0${i + 1}")))
    }
    MergeWriter.upsert(spark, rows.toDF("id", "val", "ver", "p", "d"), t)
    assertSameRead(t)
    // an int-like partition column alone is typed int, on both reads
    val ints = LakeTable(tmp(), "t", Seq("id"), "ver", Seq("p"))
    MergeWriter.upsert(spark, Seq((1L, 1L, "01"), (2L, 1L, "02")).toDF("id", "ver", "p"), ints)
    assertSameRead(ints)
    assert(MergeWriter.readView(spark, ints).schema("p").dataType.typeName === "integer")
  }

  test("after additive evolution: the manifest read equals the listed read") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Seq("dt"))
    MergeWriter.upsert(spark, Seq((1L, 1L, "p0"), (2L, 1L, "p1")).toDF("id", "ver", "dt"), t)
    MergeWriter.upsert(spark,
      Seq((3L, 2L, "p1", "new")).toDF("id", "ver", "dt", "note"), t)
    assert(MergeWriter.readView(spark, t).columns.contains("note"))
    assertSameRead(t)
  }

  test("a table without a published version reads its listing as listed") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Seq("dt"))
    Seq((1L, 1L, "p0"), (2L, 1L, "p1")).toDF("id", "ver", "dt")
      .write.partitionBy("dt").parquet(s"${t.path}/data")
    Seq((3L, 1L, "p1")).toDF("id", "ver", "dt")
      .write.mode("append").partitionBy("dt").parquet(s"${t.path}/data")
    assert(graft.sources.BucketedLake.currentVersion(spark, t.path).isEmpty)
    assertSameRead(t)
  }

  test("non-nullable columns read nullable, as listed") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Seq("dt"))
    val batch = spark.range(0, 20).withColumn("ver", lit(1L))
      .withColumn("dt", (col("id") % 3).cast("string"))
    assert(batch.schema.exists(!_.nullable))
    MergeWriter.append(batch, t)
    assertSameRead(t)
  }

  test("building the base reads launches no Spark job, above the discovery threshold too") {
    val threshold = spark.sessionState.conf.parallelPartitionDiscoveryThreshold
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Seq("p"), metaFields = true)
    MergeWriter.append((0L until 40L).map(i => (i, 1L, i)).toDF("id", "ver", "p"), t)
    MergeWriter.upsert(spark, Seq((100L, 2L, 0L)).toDF("id", "ver", "p"), t)
    val base = MergeWriter.baseFiles(spark, t)._2
    assert(base.size > threshold)
    val small = LakeTable(tmp(), "t", Seq("id"), "ver", metaFields = true)
    MergeWriter.upsert(spark, Seq((1L, 1L)).toDF("id", "ver"), small)
    for (table <- Seq(t, small)) {
      val (jobs, _) = countingJobs {
        MergeWriter.readView(spark, table)
        MergeWriter.readAsOf(spark, table, 1L)
        MergeWriter.incremental(spark, table, 0L)
        MergeWriter.readFiles(spark, table, MergeWriter.baseFiles(spark, table)._2)
        BloomIndex.readKeys(spark, table, Seq("1"))
        ColumnStats.read(spark, table, Seq(ColumnStats.ColumnRange("ver", Some(1L), None)))
      }
      assert(jobs === 0, s"${table.path}: $jobs jobs")
    }
    assert(MergeWriter.readView(spark, t).count() === 41L)
    assert(MergeWriter.incremental(spark, t, 1L).select("id").as[Long].collect() === Array(100L))
  }

  test("a cached read of a version serves the next read of that version") {
    val t = LakeTable(tmp(), "t", Seq("id"), "ver", Seq("dt"))
    MergeWriter.upsert(spark, Seq((1L, 1L, "p0"), (2L, 1L, "p1")).toDF("id", "ver", "dt"), t)
    val cached = MergeWriter.readView(spark, t).cache()
    try {
      assert(cached.count() === 2L)
      def usesCache(df: DataFrame) = df.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r
      }.isDefined
      assert(usesCache(MergeWriter.readView(spark, t)))
      MergeWriter.upsert(spark, Seq((3L, 1L, "p1")).toDF("id", "ver", "dt"), t)
      assert(!usesCache(MergeWriter.readView(spark, t)))
    } finally cached.unpersist(): Unit
  }
}
