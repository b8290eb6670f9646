package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.SqlTransform
import graft.sink.{LakeTable, MergeWriter}

/** A MERGE_ON_READ lineitem table under cycles of: keyed upsert batch and
  * delete batch → snapshot aggregate (`readView` + SQL transform) →
  * incremental pull since the previous cycle; `compact` every few cycles.
  * Writes and reads share one layer: MOR moves the merge from the commit to
  * the read, so a change that cheapens one and costs the other shows, and
  * compaction is the background work the commit tail shows. */
object LakeMorMixed {
  val Keys0 = 12000
  val Months = 12
  val Upserts = 600
  val InsertShare = 0.2
  val Deletes = 60
  val CompactEvery = 4

  val Schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("l_shipmonth", StringType),
    StructField("l_ver", LongType)))

  val Q1: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |  sum(l_extendedprice) AS sum_base,
      |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
      |  avg(l_discount) AS avg_disc, count(*) AS n
      |FROM <SRC> GROUP BY l_returnflag, l_linestatus""".stripMargin.replace('\n', ' ')

  /** Key k is line (k % 4 + 1) of order k / 4; its month never changes. */
  def row(seed: Long, k: Long, ver: Long): Row = {
    val rng = new SplittableRandom(seed * 1000003L + k * 31L + ver)
    Row(k / 4, (k % 4 + 1).toInt, rng.nextInt(20000).toLong, (1 + rng.nextInt(50)).toDouble,
      (100 + rng.nextInt(100000)) / 100.0, rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
      Seq("A", "N", "R")(rng.nextInt(3)), Seq("F", "O")(rng.nextInt(2)),
      f"s1997m${(k / 4 * 7) % Months + 1}%02d", ver)
  }

  def prepare(c: Ctx): LakeMorMixed = {
    val w = new LakeMorMixed(c)
    w.load()
    w
  }
}

final class LakeMorMixed(val c: Ctx) extends Workload {
  import LakeMorMixed._

  val lakeDir = new File(c.dir, "lake")
  private val table = LakeTable(lakeDir.getAbsolutePath, "lineitem_mor",
    Seq("l_orderkey", "l_linenumber"), "l_ver", Seq("l_shipmonth"), LakeTable.MergeOnRead)
  /** oracle: live key -> row; keys also kept in an array for sampling */
  private val expected = mutable.HashMap[Long, Row]()
  private val keys = mutable.ArrayBuffer[Long]()
  private val pos = mutable.HashMap[Long, Int]()
  private var nextKey = Keys0.toLong
  private var cycle = 0
  private var lastCommit = 0L
  def jobsMetric: String = "sink.jobs"
  override def queriesInRun: Boolean = true
  def warmUp(r: Rec, deadlineNs: Long): Unit = run(deadlineNs, r)

  private def put(k: Long, r: Row): Unit = {
    if (!expected.contains(k)) { pos(k) = keys.size; keys += k }
    expected(k) = r
  }

  private def remove(k: Long): Unit = {
    val i = pos.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; pos(last) = i }
    expected.remove(k)
  }

  private def frame(rows: Seq[Row]) = c.spark.createDataFrame(rows.asJava, Schema)

  def load(): Unit = {
    val rows = (0L until Keys0).map(k => row(c.seed, k, 0L))
    rows.foreach(r => put(r.getLong(0) * 4 + r.getInt(1) - 1, r))
    c.input(rows.size, rows.mkString("\n"))
    MergeWriter.upsert(c.spark, frame(rows), table)
    MergeWriter.compact(c.spark, table)
    lastCommit = MergeWriter.latestCommit(c.spark, table)
  }

  private def deltaChain: Int =
    Option(new File(lakeDir, "_delta").listFiles).map(_.count(_.getName.startsWith("commit="))).getOrElse(0)

  def run(deadlineNs: Long, rec: Rec): Unit =
    do {
      cycle += 1
      try runCycle(rec)
      catch {
        case e: Exception =>
          rec.failedOps += 1
          rec.errors += s"cycle $cycle: $e"
      }
      rec.ops += 1
    } while (System.nanoTime() < deadlineNs)

  private def runCycle(rec: Rec): Unit = {
    val rng = new SplittableRandom(c.seed * 131L + cycle)
    val up = mutable.LinkedHashSet[Long]()
    while (up.size < Upserts) {
      up += (if (rng.nextDouble() < InsertShare) { nextKey += 1; nextKey - 1 }
             else keys(rng.nextInt(keys.size)))
    }
    val del = mutable.LinkedHashSet[Long]()
    while (del.size < Deletes) {
      val k = keys(rng.nextInt(keys.size))
      if (!up.contains(k)) del += k
    }
    val upRows = up.toSeq.map(k => row(c.seed, k, cycle.toLong))
    val delRows = del.toSeq.map(k => Row(k / 4, (k % 4 + 1).toInt))
    c.input(upRows.size + delRows.size, upRows.mkString("\n") + delRows.mkString("\n"))
    val created = System.nanoTime()

    val before = Sinks.parquet(lakeDir)
    val (_, dUp) = c.timed("sink.commit")(MergeWriter.upsert(c.spark, frame(upRows), table))
    val (_, dDel) = c.timed("sink.commit")(MergeWriter.delete(c.spark,
      c.spark.createDataFrame(delRows.asJava,
        StructType(Schema.fields.take(2))), table))
    val committed = System.nanoTime()
    up.toSeq.zip(upRows).foreach { case (k, r) => put(k, r) }
    del.foreach(remove)
    rec.commitS += dUp
    rec.commitS += dDel
    rec.rows += up.size + del.size
    rec.committed += up.size + del.size
    rec.writeS += dUp + dDel
    rec.fresh += (((committed - created) / 1e9, (up.size + del.size).toLong))
    if (c.traced) {
      rec.add("sink.commit_s", dUp + dDel)
      Sinks.recordFiles(rec, before, Sinks.parquet(lakeDir))
      rec.add("sink.delta_chain", deltaChain)
    }

    // snapshot aggregate
    val q0 = System.nanoTime()
    if (c.traced) {
      val (view, dView) = c.timed("sink.read_view") {
        val v = MergeWriter.readView(c.spark, table)
        c.materialize(v)
        v
      }
      val (_, dQ) = c.timed("operators.transform")(SqlTransform.transform(c.spark, view, Q1).collect())
      rec.add("sink.read_view_s", dView)
      rec.add("operators.transform_s", dQ - dView)
    } else SqlTransform.transform(c.spark, MergeWriter.readView(c.spark, table), Q1).collect()
    rec.queryS += (System.nanoTime() - q0) / 1e9

    // incremental pull: exactly this cycle's upserts
    val (inc, dInc) = c.timed("sink.incremental") {
      MergeWriter.incremental(c.spark, table, lastCommit).select("l_orderkey", "l_linenumber").collect()
    }
    if (c.traced) rec.add("sink.incremental_s", dInc)
    val incKeys = inc.map(r => r.getLong(0) * 4 + r.getInt(1) - 1).toSet
    rec.check(incKeys == up.toSet,
      s"cycle $cycle: incremental returned ${incKeys.size} keys, expected ${up.size}")
    lastCommit = MergeWriter.latestCommit(c.spark, table)

    if (cycle % CompactEvery == 0) c.span("sink.compact")(MergeWriter.compact(c.spark, table))
  }

  def query(): Unit = SqlTransform.transform(c.spark, MergeWriter.readView(c.spark, table), Q1).collect()

  def check(rec: Rec): Long = {
    val rows = MergeWriter.readView(c.spark, table).select(Schema.fieldNames.toSeq.map(col): _*).collect()
    val got = rows.map(r => (r.getLong(0) * 4 + r.getInt(1) - 1) -> r.toSeq).toMap
    rec.check(got.size == rows.length, "duplicate keys in snapshot")
    rec.check(got.size == expected.size, s"snapshot has ${got.size} keys, expected ${expected.size}")
    expected.foreach { case (k, want) =>
      rec.check(got.get(k).exists(Sinks.sameRow(_, want.toSeq)), s"key $k: got ${got.get(k)}, expected $want")
    }
    got.size.toLong
  }
}
