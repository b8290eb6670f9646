package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.apps.CurationApp
import graft.core.ConfigLayer
import graft.ops.Dedup
import graft.sink.{LakeTable, MergeWriter}

/** Rounds of a document corpus through `CurationApp.curate` →
  * `Dedup.minhashPairs` → `Dedup.connectedComponents`, survivors upserted
  * into a keyed table. Each round mixes unique documents with exact
  * duplicates, near-duplicates (one token edited), a boilerplate family that
  * shares most of its text (hot LSH buckets, above the bucket cap) and a few
  * documents the quality filter drops. Duplicate share and hot-bucket size
  * drive LSH cost; without this workload `ops` goes unmeasured. */
object CurateDedup {
  /** below the boilerplate family's bucket sizes, so the cap fires */
  val BucketCap = 12
  val Threshold = 8
  val Syllables: Seq[String] = Seq("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "we",
    "xa", "yo", "zi", "ba", "ce", "di", "fo", "gu", "ha", "je")
  def word(i: Int): String = Syllables(i % 20) + Syllables(i / 20 % 20) + Syllables(i / 400 % 20)

  val Schema: StructType = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))

  /** One round's documents (id, text): a re-crawl of the same 400 ids, so
    * the table holds at most 400 rows and every round rewrites about as
    * much. Exact counts per kind, shuffled over the ids: 296 unique, 32
    * exact and 32 near duplicates of them, 28 of the boilerplate family, 8
    * repetitive and 4 short documents that the quality filter drops. */
  def corpus(seed: Long, round: Int): Seq[(Long, String)] = {
    val rng = new SplittableRandom(seed * 7877L + round)
    def words(n: Int) = (1 to n).map(_ => word(rng.nextInt(8000)))
    val unique = (1 to 296).map(_ => words(40 + rng.nextInt(30)))
    def pick = unique(rng.nextInt(unique.size))
    val template = words(40)
    val texts = unique ++
      (1 to 32).map(_ => pick) ++
      (1 to 32).map { _ => val t = pick; t.updated(rng.nextInt(t.size), word(rng.nextInt(8000))) } ++
      (1 to 28).map(_ => template ++ words(6)) ++
      (1 to 8).map { _ => val w = words(2); (1 to 15).flatMap(_ => w) } ++
      (1 to 4).map(_ => words(10))
    val ids = Array.range(0, texts.size)
    for (i <- ids.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    texts.zip(ids).map { case (t, id) => (id.toLong, t.mkString(" ")) }.sortBy(_._1)
  }

  /** What `curate` keeps with default settings: at least 20 tokens, the top
    * bigram under a fifth of them, then one document (the lowest id) per
    * exact text. */
  def curated(docs: Seq[(Long, String)]): Map[Long, String] =
    docs.filter { case (_, text) =>
      val t = text.toLowerCase.split(" ", -1)
      val top = if (t.length < 2) 0 else t.sliding(2).toSeq.groupBy(_.mkString(" ")).values.map(_.size).max
      t.length >= 20 && top * 5 <= t.length
    }.groupBy(_._2).values.map(_.minBy(_._1)).toMap

  def shingles(text: String): Set[String] = text.toLowerCase.split(" ", -1).sliding(3).map(_.mkString(" ")).toSet

  def prepare(c: Ctx): CurateDedup = {
    val w = new CurateDedup(c)
    w.load()
    w
  }
}

final class CurateDedup(val c: Ctx) extends Workload {
  import CurateDedup._

  val lakeDir = new File(c.dir, "lake")
  private val table = LakeTable(lakeDir.getAbsolutePath, "curated", Seq("doc_id"), "round", Seq("source"))
  private val conf = ConfigLayer(Map.empty)
  /** oracle: doc id -> text of every survivor so far */
  private val expected = mutable.HashMap[Long, String]()
  private var round = 0
  def jobsMetric: String = "apps.jobs"

  private def frame(docs: Seq[(Long, String)]): DataFrame = c.spark.createDataFrame(
    docs.map { case (id, t) => Row(id, t, "en", s"src${id % 4}") }.asJava, Schema)

  /** The lake starts from an already curated crawl: the exact-dedup
    * survivors of round 0, upserted directly. */
  def load(): Unit = {
    val kept = curated(corpus(c.seed, 0)).toSeq.sortBy(_._1)
    c.input(kept.size, kept.map(d => s"${d._1}\t${d._2}").mkString("\n"))
    MergeWriter.upsert(c.spark, frame(kept).withColumn("round", lit(0L)), table)
    expected ++= kept
  }

  /** Round times still fall over the first two rounds as the JIT compiles
    * the LSH and component code. */
  def warmUp(r: Rec, deadlineNs: Long): Unit = rounds(deadlineNs, r, minRounds = 2)

  /** A round takes most of a short window: at least two, so the median is
    * not one round's time. */
  def run(deadlineNs: Long, rec: Rec): Unit = rounds(deadlineNs, rec, minRounds = 2)

  private def rounds(deadlineNs: Long, rec: Rec, minRounds: Int): Unit =
    do {
      try runRound(rec)
      catch {
        case e: Exception =>
          rec.failedOps += 1
          rec.errors += s"round $round: $e"
      }
      rec.ops += 1
      rec.afterOp()
    } while (System.nanoTime() < deadlineNs || rec.ops < minRounds)

  private def runRound(rec: Rec): Unit = {
    round += 1
    val docs = corpus(c.seed, round)
    c.input(docs.size, docs.map(d => s"${d._1}\t${d._2}").mkString("\n"))
    val input = frame(docs)
    val created = System.nanoTime()
    val (curatedDf, dCurate) = c.timed("ops.curate") {
      val d = CurationApp.curate(c.spark, input, conf).localCheckpoint(false)
      if (c.traced) c.materialize(d)
      d
    }
    val (pairs, dLsh) = c.timed("ops.lsh") {
      val jobs0 = if (c.traced) { c.drain(); c.meter.jobs.get } else 0L
      val p = Dedup.minhashPairs(curatedDf, Threshold, maxBucketSize = BucketCap)
      if (c.traced) { c.drain(); rec.add("ops.extra_jobs", c.meter.jobs.get - jobs0) }
      p.localCheckpoint(true)
    }
    val (survivors, dCc) = c.timed("ops.components") {
      val losers = Dedup.connectedComponents(pairs.select("doc_a", "doc_b"))
        .filter(col("node") =!= col("component")).select(col("node").as("doc_id"))
      curatedDf.join(losers, Seq("doc_id"), "left_anti").withColumn("round", lit(round.toLong))
    }
    val before = if (c.traced) Sinks.parquet(lakeDir) else Map.empty[String, Long]
    val (_, dCommit) = c.timed("sink.commit")(MergeWriter.upsert(c.spark, survivors, table))
    val t1 = System.nanoTime()
    val opS = (t1 - created) / 1e9
    rec.commitS += opS
    rec.writeS += opS
    rec.rows += docs.size
    rec.committed += docs.size
    rec.fresh += ((opS, docs.size.toLong))
    if (c.traced) {
      rec.add("ops.curate_s", dCurate)
      rec.add("ops.lsh_s", dLsh)
      rec.add("ops.components_s", dCc)
      rec.add("sink.commit_s", dCommit)
      Sinks.recordFiles(rec, before, Sinks.parquet(lakeDir))
      Option(Dedup.capReports.get("minhash")).foreach { r =>
        rec.add("ops.capped_buckets", r.cappedBuckets)
        rec.add("ops.capped_rows", r.droppedRows)
      }
    }
    checkRound(docs, curatedDf, pairs, rec)
  }

  /** The round's curated ids against the recompute; every pair once, never
    * a document with itself, both ends curated, (i, u) equal to an exact
    * 3-shingle recount; survivors = curated minus non-root component
    * members of those pairs. */
  private def checkRound(docs: Seq[(Long, String)], curatedDf: DataFrame, pairs: DataFrame,
                         rec: Rec): Unit = {
    val want = curated(docs)
    val got = curatedDf.select("doc_id").collect().map(_.getLong(0)).toSet
    rec.check(got == want.keySet, s"round $round: curated ${got.size} docs, expected ${want.size}")
    val ps = pairs.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue, r.getAs[Number](3).longValue))
    if (c.traced) rec.add("ops.verified_pairs", ps.length)
    val unordered = ps.map { case (a, b, _, _) => (math.min(a, b), math.max(a, b)) }
    rec.check(unordered.distinct.length == ps.length, s"round $round: repeated pair")
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = parent.get(x) match {
      case Some(p) if p != x => val r = find(p); parent(x) = r; r
      case _ => x
    }
    ps.foreach { case (a, b, i, u) =>
      rec.check(a != b, s"round $round: self pair $a")
      rec.check(want.contains(a) && want.contains(b), s"round $round: pair ($a, $b) not curated")
      if (want.contains(a) && want.contains(b)) {
        val (sa, sb) = (shingles(want(a)), shingles(want(b)))
        val (ei, eu) = ((sa & sb).size, (sa | sb).size)
        rec.check(i == ei && u == eu && i * 10 >= u * Threshold,
          s"round $round: pair ($a, $b) reports ($i, $u), recount ($ei, $eu)")
      }
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    want.foreach { case (id, text) => if (find(id) == id) expected(id) = text }
  }

  private def snapshot = MergeWriter.readView(c.spark, table)

  def query(): Unit = graft.operators.SqlTransform.transform(c.spark, snapshot,
    "SELECT source, count(*) AS n, sum(length(text)) AS chars FROM <SRC> GROUP BY source").collect()

  def check(rec: Rec): Long = {
    if (!lakeDir.exists) return 0L
    val rows = snapshot.select("doc_id", "text").collect()
    val got = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    rec.check(got.size == rows.length, "duplicate doc ids in snapshot")
    rec.check(got == expected, s"snapshot has ${got.size} docs, expected ${expected.size}")
    got.size.toLong
  }
}
