package graft.sink

import java.nio.file.Files
import java.sql.Date

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.BucketedLake

/** The COW commit's candidate files: a key index never changes a result
  * (seeded sequences against a plain-Scala recompute), every live base
  * file keeps the table's columns, and a partition-scoped upsert replaces
  * exactly the files under its partitions, whatever their values. */
class CowCommitSpec extends SparkSuite {

  import spark.implicits._

  private type Row = (Long, String, Long, String)

  private def tmp(): String = Files.createTempDirectory("graft-cow").toString

  private def cow(partitioned: Boolean, fields: Seq[String] = Seq("dt")) =
    LakeTable(tmp(), "t", Seq("id"), "ver", if (partitioned) fields else Nil)

  private def frame(rows: Seq[Row]): DataFrame = rows.toDF("id", "val", "ver", "dt")

  private def readAll(t: LakeTable): Seq[Row] = {
    val v = MergeWriter.readView(spark, t)
    if (v.columns.isEmpty) Nil
    else v.select("id", "val", "ver", "dt").as[Row].collect().toSeq.sorted
  }

  /** Live base files (table-relative) of the current version. */
  private def liveFiles(t: LakeTable): Set[String] =
    BucketedLake.readManifestFull(spark, t.path).toSeq.flatMap(_.entries.map(_.rel))
      .filter(_.startsWith("data/")).toSet

  private def dirOf(rel: String): String = rel.substring("data/".length, rel.lastIndexOf('/'))

  /** Each live base file (table-relative) with the keys it holds. */
  private def fileKeys(t: LakeTable): Map[String, Set[Long]] = {
    val v = MergeWriter.readView(spark, t)
    if (v.columns.isEmpty) Map.empty
    else {
      val rel = MergeWriter.relOf(spark, t)
      v.select(col("_metadata.file_path"), col("id")).as[(String, Long)].collect()
        .groupBy(r => rel(new org.apache.hadoop.fs.Path(new java.net.URI(r._1))))
        .view.mapValues(_.map(_._2).toSet).toMap
    }
  }

  /** One keyed commit: an upsert side, a delete side, or both. */
  private final case class Step(ups: Option[Seq[Row]], dels: Option[Seq[Long]]) {
    def keys: Set[Long] = ups.toSeq.flatten.map(_._1).toSet ++ dels.toSeq.flatten
    def run(t: LakeTable): Unit = MergeWriter.applyChanges(spark, t, ups.map(frame),
      dels.map(_.toDF("id")))
  }

  /** Plain-Scala COW commit: the batch keeps its max-`ver` row per key; an
    * upsert-only batch into a partitioned table replaces the rows with its
    * keys under its partitions (a key moved elsewhere keeps its old copy),
    * any other batch the rows with its keys anywhere. */
  private def recompute(state: Seq[Row], s: Step, partitioned: Boolean): Seq[Row] = {
    val latest = s.ups.toSeq.flatten.groupBy(_._1).values.map(_.maxBy(_._3)).toSeq
    val dirs = latest.map(_._4).toSet
    val scoped: Row => Boolean =
      if (partitioned && s.dels.isEmpty) r => dirs(r._4) else _ => true
    (state.filterNot(r => scoped(r) && s.keys(r._1)) ++ latest).sorted
  }

  /** A seeded sequence: 12 rows over p0..p3, key 1 moving from p1 to p2,
    * then random upserts (intra-batch duplicates, new keys, moves),
    * deletes (absent keys too) and two-sided commits over keys 1..20. */
  private def steps(seed: Long): Seq[Step] = {
    val rnd = new Random(seed)
    var ver = 100L
    def row(id: Long): Row = { ver += 1; (id, s"v$ver", ver, s"p${rnd.nextInt(4)}") }
    def ups() = Seq.fill(1 + rnd.nextInt(5))(row(1L + rnd.nextInt(20)))
    def dels() = Seq.fill(1 + rnd.nextInt(3))(1L + rnd.nextInt(20))
    val initial = (1L to 12L).map(i => (i, s"v$i", 1L, s"p${i % 4}"))
    Step(Some(initial), None) +: Step(Some(Seq((1L, "moved", 2L, "p2"))), None) +:
      Seq.fill(6)(rnd.nextInt(3) match {
        case 0 => Step(Some(ups()), None)
        case 1 => Step(None, Some(dels()))
        case _ => Step(Some(ups()), Some(dels()))
      })
  }

  test("a key index never changes a result: seeded commit sequences equal a recompute") {
    for (seed <- 1L to 3L; partitioned <- Seq(false, true)) {
      val plain = cow(partitioned)
      val indexed = cow(partitioned)
      val all = steps(seed)
      all.head.run(plain)
      all.head.run(indexed)
      BloomIndex.rebuild(spark, indexed, expectedKeysPerFile = 100, fpp = 1e-6)
      var want = recompute(Nil, all.head, partitioned)
      all.tail.zipWithIndex.foreach { case (s, i) =>
        val what = s"seed $seed, partitioned=$partitioned, step ${i + 1} $s"
        val before = fileKeys(indexed)
        s.run(plain)
        s.run(indexed)
        want = recompute(want, s, partitioned)
        assert(readAll(plain) === want, s"$what: unindexed")
        assert(readAll(indexed) === want, s"$what: indexed")
        assert(BloomIndex.isFresh(spark, indexed), s"$what: index not maintained")
        // with an index, a commit replaces only files holding a batch key
        val untouched = before.collect { case (f, ks) if !ks.exists(s.keys) => f }.toSet
        assert(untouched.subsetOf(liveFiles(indexed)), s"$what: a file without its keys was replaced")
      }
    }
  }

  test("every live base file has the table's columns once a batch adds one") {
    val t = cow(partitioned = true)
    MergeWriter.upsert(spark, frame((1L to 4L).map(i => (i, s"v$i", 1L, s"p$i"))), t)
    MergeWriter.upsert(spark, Seq((2L, "v2b", 2L, "p2", "hello"))
      .toDF("id", "val", "ver", "dt", "note"), t)
    def notes = MergeWriter.readView(spark, t).select("id", "note")
      .as[(Long, Option[String])].collect().toMap
    // Spark takes a table's schema from one file, so one file without the
    // column hides it
    def footers = liveFiles(t).toSeq.sorted.map(f =>
      f -> spark.read.parquet(s"${t.path}/$f").columns.contains("note"))
    assert(notes === Map(1L -> None, 2L -> Some("hello"), 3L -> None, 4L -> None))
    assert(footers.forall(_._2), footers)
    // old-schema rows into new partitions: an insert and an upsert
    MergeWriter.append(frame(Seq((5L, "v5", 1L, "p5"))), t)
    MergeWriter.upsert(spark, frame(Seq((6L, "v6", 1L, "p6"))), t)
    assert(notes === Map(1L -> None, 2L -> Some("hello"), 3L -> None, 4L -> None,
      5L -> None, 6L -> None))
    assert(footers.forall(_._2), footers)
  }

  /** Upserts `batch` into `t` and checks that it replaced every live file
    * under the partition directories `dirs` and kept every other one. */
  private def replacesExactly(t: LakeTable, batch: DataFrame, dirs: Set[String]): Unit = {
    val before = liveFiles(t)
    assert(before.map(dirOf).intersect(dirs) === dirs, s"no files under some of $dirs")
    MergeWriter.upsert(spark, batch, t)
    val after = liveFiles(t)
    val (under, others) = before.partition(f => dirs(dirOf(f)))
    assert(under.intersect(after).isEmpty, s"kept ${under.intersect(after)}")
    assert(others.subsetOf(after), s"replaced ${others -- after}")
  }

  test("a partition-scoped upsert replaces exactly its partitions: NULL and escaped values") {
    val t = cow(partitioned = true)
    val values = Seq(Some("plain"), None, Some("a/b"), Some("x=y"), Some("a b"))
    MergeWriter.upsert(spark, values.zipWithIndex.map { case (v, i) => (i.toLong, "v", 1L, v) }
      .toDF("id", "val", "ver", "dt"), t)
    replacesExactly(t, Seq((1L, "null2", 2L, Option.empty[String])).toDF("id", "val", "ver", "dt"),
      Set("dt=__HIVE_DEFAULT_PARTITION__"))
    replacesExactly(t, Seq((2L, "w", 2L, "a/b"), (3L, "w", 2L, "x=y"), (4L, "w", 2L, "a b"))
      .toDF("id", "val", "ver", "dt"), Set("dt=a%2Fb", "dt=x%3Dy", "dt=a b"))
    assert(MergeWriter.readView(spark, t).select("id", "val", "dt")
      .as[(Long, String, Option[String])].collect().toSet === Set((0L, "v", Some("plain")),
      (1L, "null2", None), (2L, "w", Some("a/b")), (3L, "w", Some("x=y")), (4L, "w", Some("a b"))))
  }

  test("a partition-scoped upsert replaces exactly its partitions: a date column") {
    val t = cow(partitioned = true, Seq("d"))
    def day(n: Int) = Date.valueOf(s"2024-01-0$n")
    MergeWriter.upsert(spark, (1 to 3).map(n => (n.toLong, "v", 1L, day(n)))
      .toDF("id", "val", "ver", "d"), t)
    replacesExactly(t, Seq((2L, "w", 2L, day(2))).toDF("id", "val", "ver", "d"),
      Set("d=2024-01-02"))
    assert(MergeWriter.readView(spark, t).select("id", "val", "d").as[(Long, String, Date)]
      .collect().toSet === Set((1L, "v", day(1)), (2L, "w", day(2)), (3L, "v", day(3))))
  }

  test("a partition-scoped upsert replaces exactly its partitions: over 1000 of them") {
    val t = cow(partitioned = true, Seq("g"))
    MergeWriter.upsert(spark, (0 until 1010).map(g => (g.toLong, "v", 1L, g))
      .toDF("id", "val", "ver", "g").repartition(1), t)
    replacesExactly(t, (0 to 1000).map(g => (g.toLong, "w", 2L, g))
      .toDF("id", "val", "ver", "g"), (0 to 1000).map(g => s"g=$g").toSet)
    assert(MergeWriter.readView(spark, t).groupBy("val").count().as[(String, Long)]
      .collect().toMap === Map("w" -> 1001L, "v" -> 9L))
  }
}
