package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.apps.DocImport
import graft.core.ConfigLayer
import graft.operators.{Flatten, SqlTransform}
import graft.sink.{LakeTable, MergeWriter}

/** Nested order documents re-imported into a COPY_ON_WRITE table partitioned
  * by order month: the reference's batch-importer shape (read JSON →
  * auto-flatten → SQL transform → keyed upsert). Round 0, in set-up, loads
  * every order; each measured round re-imports a seeded slice of changed
  * orders, mostly from the latest two months plus a few late corrections
  * in old months, so the rewrite touches several partitions. */
object ImportNested {
  val Months = 12
  val Orders = 1200
  val ChangedPerRound = 80
  val LateOrders = 3
  val InputFiles = 4

  val TransformSql: String =
    """SELECT o_orderkey, lines_l_linenumber AS l_linenumber, o_month, o_ver, o_custkey,
      |  o_orderstatus, o_orderdate, customer_c_nation AS c_nation,
      |  customer_c_segment AS c_segment, lines_l_partkey AS l_partkey,
      |  lines_l_quantity AS l_quantity, lines_l_extendedprice AS l_extendedprice,
      |  lines_l_discount AS l_discount,
      |  lines_l_quantity * lines_l_extendedprice * (1 - lines_l_discount) AS l_net
      |FROM <SRC>""".stripMargin.replace('\n', ' ')
  val Columns: Seq[String] = Seq("o_orderkey", "l_linenumber", "o_month", "o_ver", "o_custkey",
    "o_orderstatus", "o_orderdate", "c_nation", "c_segment", "l_partkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_net")

  def month(key: Long): Int = (key * Months / Orders).toInt
  def monthName(m: Int): String = f"y${2019 + m / 12}m${m % 12 + 1}%02d"

  /** One order version as a JSON document plus its flattened, transformed
    * rows as the oracle expects them. */
  def order(seed: Long, key: Long, ver: Long): (String, Seq[Seq[Any]]) = {
    val rng = new SplittableRandom(seed * 1000003L + key * 7919L + ver)
    val m = month(key)
    val cust = (key * 7919L) % 1500
    val nation = s"N${cust % 25}"
    val segment = Seq("AUTO", "BUILD", "FURN", "HOUSE", "MACH")((cust % 5).toInt)
    val status = Seq("O", "F", "P")(rng.nextInt(3))
    val date = f"${2019 + m / 12}-${m % 12 + 1}%02d-${1 + rng.nextInt(28)}%02d"
    val lines = (1 to 1 + rng.nextInt(6)).map { ln =>
      (ln.toLong, rng.nextInt(2000).toLong, (1 + rng.nextInt(50)).toDouble,
        (100 + rng.nextInt(100000)) / 100.0, rng.nextInt(11) / 100.0)
    }
    val total = lines.map(l => l._3 * l._4).sum
    val linesJson = lines.map { case (ln, pk, q, p, d) =>
      s"""{"l_linenumber":$ln,"l_partkey":$pk,"l_quantity":$q,"l_extendedprice":$p,"l_discount":$d}"""
    }.mkString("[", ",", "]")
    val doc = s"""{"o_orderkey":$key,"o_custkey":$cust,"o_orderstatus":"$status",""" +
      s""""o_totalprice":$total,"o_orderdate":"$date","o_month":"${monthName(m)}","o_ver":$ver,""" +
      s""""customer":{"c_custkey":$cust,"c_nation":"$nation","c_segment":"$segment"},""" +
      s""""lines":$linesJson}"""
    val rows = lines.map { case (ln, pk, q, p, d) =>
      Seq(key, ln, monthName(m), ver, cust, status, date, nation, segment, pk, q, p, d, q * p * (1 - d))
    }
    (doc, rows)
  }

  def prepare(c: Ctx): ImportNested = {
    val w = new ImportNested(c)
    val r = new Rec
    w.importRound(0, (0L until Orders).toSeq, r)
    require(r.errors.isEmpty, r.errors.mkString("; "))
    w
  }
}

final class ImportNested(val c: Ctx) extends Workload {
  import ImportNested._

  val lakeDir = new File(c.dir, "lake")
  private val inDir = new File(c.dir, "in")
  private val conf = ConfigLayer(Map(
    "path" -> lakeDir.getAbsolutePath,
    LakeTable.RecordKeyKey -> "o_orderkey,l_linenumber",
    LakeTable.PrecombineKey -> "o_ver",
    LakeTable.PartitionPathKey -> "o_month",
    LakeTable.TableTypeKeyShort -> LakeTable.CopyOnWrite,
    "hoodie.deltastreamer.mongodb.auto.flatten.enable" -> "true",
    SqlTransform.TransformerSqlKey -> TransformSql))
  private val table = LakeTable.fromConfig(lakeDir.getAbsolutePath, conf)
  /** oracle: (order key, line number) -> transformed row */
  private val expected = mutable.HashMap[(Long, Long), Seq[Any]]()
  private var round = 0
  def jobsMetric: String = "apps.jobs"
  def warmUp(r: Rec, deadlineNs: Long): Unit = run(deadlineNs, r)

  /** Writes one round's documents; returns (dir, rows it holds). */
  private def generate(r: Int, keys: Seq[Long], rec: Rec): (File, Int) = {
    val dir = new File(inDir, s"round-$r")
    dir.mkdirs()
    val docs = keys.map(k => order(c.seed, k, r.toLong))
    docs.zipWithIndex.groupBy(_._2 % InputFiles).foreach { case (f, part) =>
      val text = part.map(_._1._1).mkString("", "\n", "\n")
      Files.write(new File(dir, s"part-$f.json").toPath, text.getBytes(StandardCharsets.UTF_8))
      c.input(0, text)
    }
    // upsert semantics: a re-imported line replaces the stored line with the
    // same key; lines an order no longer has stay as they were
    docs.foreach(_._2.foreach(row => expected((row(0).asInstanceOf[Long], row(1).asInstanceOf[Long])) = row))
    val n = docs.map(_._2.size).sum
    c.input(n, "")
    (dir, n)
  }

  def importRound(r: Int, keys: Seq[Long], rec: Rec): Unit = {
    val (dir, n) = generate(r, keys, rec)
    val created = System.nanoTime()
    val cli = Map("resource" -> dir.getAbsolutePath)
    val t0 = System.nanoTime()
    try {
      if (c.traced) tracedSync(cli, rec) else DocImport.sync(c.spark, conf, cli)
      val t1 = System.nanoTime()
      if (c.traced) rec.add("apps.sync_s", (t1 - t0) / 1e9)
      rec.commitS += (t1 - t0) / 1e9
      rec.writeS += (t1 - t0) / 1e9
      rec.fresh += (((t1 - created) / 1e9, n.toLong))
      rec.rows += n
      rec.committed += n
    } catch {
      case e: Exception =>
        rec.failedOps += 1
        rec.errors += s"round $r: $e"
    }
    rec.ops += 1
  }

  /** `DocImport.sync`, one layer call at a time: each lazy stage is also run
    * to `noop` so its own cost shows as the difference to the stage before. */
  private def tracedSync(cli: Map[String, String], rec: Rec): Unit =
    c.span("apps.sync") {
      val before = Sinks.parquet(lakeDir)
      // readSource infers the JSON schema eagerly; the stages after it
      // re-read the data but not the schema
      var readNoop = 0.0
      val (src, dRead) = c.timed("sources.read") {
        val d = DocImport.readSource(c.spark, conf, cli)
        readNoop = Main.secs(c.materialize(d))._2
        d
      }
      val ((flat, flatRows), dFlat) = c.timed("operators.flatten") {
        val f = Flatten(src)
        (f, c.materialize(f))
      }
      val (out, dTrans) = c.timed("operators.transform") {
        val t = SqlTransform.maybeTransform(c.spark, flat, conf)
        c.materialize(t)
        t
      }
      val (_, dDedup) = c.timed("sink.dedup") {
        c.materialize(MergeWriter.dedupByPrecombine(out, table.recordKeyFields, table.precombineField))
      }
      require(!out.isEmpty, "empty round")
      val (_, dCommit) = c.timed("sink.commit")(MergeWriter.write(c.spark, out, table, MergeWriter.Upsert))
      rec.add("sources.read_s", dRead)
      rec.add("operators.flatten_s", dFlat - readNoop)
      rec.add("operators.flatten_rows_out", flatRows)
      rec.add("operators.transform_s", dTrans - dFlat)
      rec.add("sink.dedup_s", dDedup - dTrans)
      rec.add("sink.commit_s", dCommit)
      Sinks.recordFiles(rec, before, Sinks.parquet(lakeDir))
    }

  /** A round's changed orders: `LateOrders` late corrections, one in each
    * of that many distinct old months, the rest from the latest two months,
    * so every round touches the same number of partitions. */
  private def changed(rng: SplittableRandom): Seq[Long] = {
    val perMonth = Orders / Months
    val oldMonths = mutable.LinkedHashSet[Int]()
    while (oldMonths.size < LateOrders) oldMonths += rng.nextInt(Months - 2)
    val keys = mutable.LinkedHashSet[Long]()
    oldMonths.foreach(m => keys += m.toLong * perMonth + rng.nextInt(perMonth))
    val latest = (Months - 2).toLong * perMonth
    while (keys.size < ChangedPerRound) keys += latest + rng.nextLong(Orders - latest)
    keys.toSeq
  }

  def run(deadlineNs: Long, rec: Rec): Unit =
    do {
      round += 1
      importRound(round, changed(new SplittableRandom(c.seed * 31L + round)), rec)
      rec.afterOp()
    } while (System.nanoTime() < deadlineNs)

  private def snapshot = MergeWriter.readView(c.spark, table)

  def query(): Unit = SqlTransform.transform(c.spark, snapshot,
    "SELECT o_month, count(*) AS n, sum(l_net) AS net FROM <SRC> GROUP BY o_month").collect()

  def check(rec: Rec): Long = {
    val rows = snapshot.select(Columns.map(org.apache.spark.sql.functions.col): _*).collect()
    val got = rows.map((r: Row) => (r.getLong(0), r.getLong(1)) -> r.toSeq).toMap
    rec.check(got.size == rows.length, s"duplicate keys in snapshot: ${rows.length} rows, ${got.size} keys")
    rec.check(got.size == expected.size, s"snapshot has ${got.size} keys, expected ${expected.size}")
    expected.foreach { case (k, want) =>
      got.get(k) match {
        case None => rec.check(ok = false, s"missing key $k")
        case Some(have) => rec.check(Sinks.sameRow(have, want), s"key $k: got $have, expected $want")
      }
    }
    got.size.toLong
  }
}
