package graft.sink

import java.nio.file.{Files, Path => JPath}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.sources.BucketedLake

/** Crash consistency of the keyed lake commit: every write operation, on
  * COW and MOR, partitioned and not, with a fault injected at each of its
  * filesystem mutations in turn ([[FaultFs]]). After each failure the
  * table reads exactly the old or the new snapshot (plain-Scala
  * recompute) with a matching `latestCommit`; a retry reaches the new
  * snapshot; and after it every parquet file under `data/` and `_delta/`
  * is one the current version references — no vacuum call. A call that
  * throws must have published nothing, one that returns must have
  * published. One shuffle partition keeps the tiny tables at a file per
  * partition, and so the sweeps short. */
class CommitFaultSpec extends SparkSuite {

  import spark.implicits._

  private type Row = (Long, String, Long, String)

  private def frame(rows: Row*): DataFrame = rows.toSeq.toDF("id", "val", "ver", "dt")

  private def readAll(t: LakeTable): Set[Row] = {
    val v = MergeWriter.readView(spark, t)
    if (v.columns.isEmpty) Set.empty
    else v.select("id", "val", "ver", "dt").as[Row].collect().toSet
  }

  /** Plain-Scala keyed commit: deleted keys go, upserted keys take the
    * batch row (one row per key in these batches). */
  private def merge(s: Set[Row], ups: Seq[Row], dels: Seq[Long] = Nil): Set[Row] = {
    val gone = dels.toSet ++ ups.map(_._1)
    s.filterNot(r => gone(r._1)) ++ ups
  }

  /** One operation under test: `dc` is how far it advances `latestCommit`;
    * `setup` runs once on the operation's template table, `prep` on each
    * copy of it before the fault is armed. */
  private case class Op(name: String, dc: Long, run: LakeTable => Unit,
                        expect: Set[Row] => Set[Row], setup: LakeTable => Unit = _ => (),
                        prep: LakeTable => Unit = _ => ())

  private val base: Seq[Row] = Seq((1, "a", 1, "p1"), (2, "b", 1, "p1"), (3, "c", 1, "p2"),
    (4, "d", 1, "p2"))

  private val upRows: Seq[Row] = Seq((2, "u", 5, "p1"), (9, "n", 1, "p2"))
  private val mixUps: Seq[Row] = Seq((3, "x", 6, "p2"), (10, "y", 1, "p1"))
  private val idxUps: Seq[Row] = Seq((2, "i", 7, "p1"), (11, "z", 1, "p1"))
  private val appended: Seq[Row] = Seq((20, "e", 1, "p2"))
  private val extra: Row = (30, "f", 1, "p1")

  private def ops(mor: Boolean): Seq[Op] = Seq(
    Op("upsert", 1, t => MergeWriter.upsert(spark, frame(upRows: _*), t), merge(_, upRows)),
    // empties partition p2 on COW
    Op("delete", 1, t => MergeWriter.delete(spark, Seq(3L, 4L).toDF("id"), t),
      merge(_, Nil, Seq(3L, 4L))),
    Op("applyChanges", 1, t => MergeWriter.applyChanges(spark, t, Some(frame(mixUps: _*)),
      Some(Seq(1L, 3L).toDF("id"))), merge(_, mixUps, Seq(1L, 3L))),
    Op("append", 1, t => MergeWriter.append(frame(appended: _*), t), _ ++ appended),
    // on MOR its compaction step is swept as `compact`
    Op("cluster", 0, t => Clustering.cluster(spark, t, Seq("id"), numFiles = 2), identity,
      setup = MergeWriter.compact(spark, _))) ++
    (if (mor) Seq(Op("compact", 0, t => MergeWriter.compact(spark, t), identity))
     else Seq(Op("indexed upsert", 1, t => MergeWriter.upsert(spark, frame(idxUps: _*), t),
       merge(_, idxUps),
       // the index records absolute file paths, so each copy builds its own
       prep = BloomIndex.rebuild(spark, _, expectedKeysPerFile = 10, fpp = 0.01))))

  /** The table every attempt of `op` starts from: COW with one commit;
    * MOR with a base and a two-commit log (an upsert, a tombstone). */
  private def template(mor: Boolean, partitioned: Boolean, op: Op): String = {
    val dir = Files.createTempDirectory("graft-fault-tpl").toString
    val t = table(dir, mor, partitioned)
    if (mor) {
      MergeWriter.append(frame(base: _*), t)
      MergeWriter.upsert(spark, frame((2, "b2", 2, "p1")), t)
      MergeWriter.delete(spark, Seq(4L).toDF("id"), t)
    } else MergeWriter.upsert(spark, frame(base: _*), t)
    op.setup(t)
    dir
  }

  private def table(dir: String, mor: Boolean, partitioned: Boolean) = LakeTable(
    FaultFs.path(dir), "t", Seq("id"), "ver", if (partitioned) Seq("dt") else Nil,
    if (mor) LakeTable.MergeOnRead else LakeTable.CopyOnWrite)

  private def copyTree(from: String): String = {
    val to = Files.createTempDirectory("graft-fault").toString
    val src = JPath.of(from)
    Files.walk(src).iterator.asScala.foreach { p =>
      val q = JPath.of(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    to
  }

  /** Parquet files under `data/` and `_delta/` that the current version
    * does not reference. */
  private def unreferenced(dir: String, t: LakeTable): Set[String] = {
    val live = BucketedLake.readManifestFull(spark, t.path).toSeq
      .flatMap(_.entries.map(_.rel)).toSet
    Seq("data", "_delta").map(JPath.of(dir, _)).filter(Files.exists(_)).flatMap { root =>
      Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => JPath.of(dir).relativize(p).toString).toSeq
    }.toSet -- live
  }

  /** `op` on one table kind: its template directory, and the snapshot
    * and data commit every attempt starts from. */
  private case class Case(name: String, mor: Boolean, partitioned: Boolean, op: Op) {
    val tpl: String = template(mor, partitioned, op)
    val old: Set[Row] = readAll(table(tpl, mor, partitioned))
    val c0: Long = MergeWriter.latestCommit(spark, table(tpl, mor, partitioned))
  }

  /** One attempt of a case on a copy of its template with the fault at
    * mutation `k`; returns how many mutations the attempt made. */
  private def attempt(c: Case, k: Int): Int = {
    import c._
    val what = s"$name, fault at mutation $k"
    val want = op.expect(old)
    val dir = copyTree(tpl)
    val t = table(dir, mor, partitioned)
    op.prep(t)
    val fault = FaultFs.arm(k, (_, p) => s"${p.toUri.getPath}/".startsWith(s"$dir/"))
    val threw = try { op.run(t); false } catch { case _: Exception => true }
    val made = fault.disarm()
    val seen = readAll(t)
    val c1 = MergeWriter.latestCommit(spark, t)
    // a call that throws published nothing; one that returns published
    if (threw) assert(seen == old && c1 == c0, s"$what: threw, then $seen at commit $c1")
    else assert(seen == want && c1 == c0 + op.dc, s"$what: returned, then $seen at commit $c1")
    if (threw) {
      op.run(t)
      assert(readAll(t) === want, s"$what: retry")
      assert(MergeWriter.latestCommit(spark, t) === c1 + op.dc, s"$what: retry commit")
    } else {
      // a fault in the reclaim after the flip leaves a file the next
      // commit reclaims
      MergeWriter.upsert(spark, frame(extra), t)
      assert(readAll(t) === merge(want, Seq(extra)), s"$what: next commit")
    }
    assert(unreferenced(dir, t).isEmpty, s"$what: leftovers")
    made
  }

  test("a bucketed commit whose pointer flip fails leaves no orphan; the next commit lands") {
    FaultFs.register(spark)
    val path = FaultFs.path(Files.createTempDirectory("graft-fault-bk").toString)
    BucketedLake.write((1L to 20L).map(i => (i, i)).toDF("k", "v"), path, "k", 2)
    val before = BucketedLake.versions(spark, path)
    def rows = BucketedLake.readManifest(spark, path).get.map(_.rows).sum
    // every pointer flip writes its temp file first
    val fault = FaultFs.arm(1, (op, p) => op == "create" && p.getName.startsWith(".ptr-"))
    try intercept[Exception](BucketedLake.deleteWhere(spark, path, col("k") <= 5L))
    finally fault.disarm()
    assert(BucketedLake.versions(spark, path) === before)
    assert(rows === 20L)
    BucketedLake.deleteWhere(spark, path, col("k") <= 5L)
    assert(rows === 15L)
  }

  test("every commit, with a fault at each filesystem mutation in turn, leaves old or new") {
    FaultFs.register(spark)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val kinds = for {
        mor <- Seq(false, true); partitioned <- Seq(false, true); op <- ops(mor)
      } yield (mor, partitioned, op)
      // an unfaulted attempt counts each case's mutations; then every k
      // up to that count runs, side by side, each on its own copy
      val counted = Await.result(Future.traverse(kinds) { case (mor, partitioned, op) =>
        Future {
          val c = Case(s"${if (mor) "MOR" else "COW"}${if (partitioned) " partitioned" else ""} " +
            op.name, mor, partitioned, op)
          c -> attempt(c, Int.MaxValue)
        }
      }, Duration.Inf)
      val runs = Await.result(Future.traverse(counted.flatMap { case (c, n) =>
        (1 to n).map(k => Future(Try(attempt(c, k))))
      })(identity), Duration.Inf)
      runs.foreach(_.get)
      info("mutations swept: " + counted.map { case (c, n) => s"${c.name} $n" }.mkString(", "))
    } finally {
      pool.shutdown()
      spark.conf.set(key, prev)
    }
  }
}
