package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.SqlTransform
import graft.sink.{LakeTable, MergeWriter}
import graft.streaming.{CdcSchema, CdcSource, CdcTableSpec, MultiTableSink}

/** JSON-lines CDC files for two tables over a bounded key space, with a
  * hot-key share and ~10% deletes, tailed by `CdcSource.fileStream` into
  * `MultiTableSink`. Set-up loads every key's first image into the tables;
  * the warm-up starts the stream and feeds it until it has applied a few
  * micro-batches. The measured window then has two phases. Phase 1 drops a
  * burst of files at once and times the stream draining it, a bounded
  * number of files per trigger. Phase 2 is an open loop as long as the
  * window: this thread writes one file per period on a fixed schedule
  * whatever the stream does, every event stamped with
  * the time its file was due. Freshness is read off the engine's own
  * progress reports: commit end of the micro-batch that applied an event
  * minus its stamp, so queue wait counts. */
object CdcStream {
  val Tables = 2
  val Keys = 1000
  val HotKeys = 20
  val HotShare = 0.2
  val DeleteShare = 0.1
  val BurstFiles = 8
  val EventsPerFile = 250
  val MaxFilesPerTrigger = 8
  /** open loop: one file of 200 events a second. A micro-batch takes 3-4 s
    * and drains up to 8 files, so the stream runs at about half its
    * capacity: near capacity, queue wait would swing freshness with every
    * small change in the host's speed. */
  val PeriodMs = 1000
  val EventsPerPeriod = 200
  val TriggerSeconds = 1
  /** the first micro-batches run on cold JIT and code-generation caches */
  val WarmBatches = 2

  val PayloadSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType), StructField("qty", LongType),
    StructField("price", DoubleType), StructField("ver", LongType), StructField("region", StringType)))
  val Fields: Seq[String] = PayloadSchema.fieldNames.toSeq

  val Specs: Seq[CdcTableSpec] = (0 until Tables).map(t =>
    CdcTableSpec("db0", s"t$t", PayloadSchema, Seq("id"), "ver"))

  def prepare(c: Ctx): CdcStream = {
    val w = new CdcStream(c)
    w.load()
    w
  }
}

final class CdcStream(val c: Ctx) extends Workload {
  import CdcStream._

  val lakeDir = new File(c.dir, "lake")
  private val inDir = new File(c.dir, "in")
  private val stage = new File(c.dir, "staging")
  private val checkpoint = new File(c.dir, "checkpoint")
  private val sink = new MultiTableSink(s"${lakeDir.getAbsolutePath}/{db}/{table}", Specs, TriggerSeconds)
  private val rng = new SplittableRandom(c.seed * 17L + 5L)
  private val live = Array.fill(Tables)(new Array[Boolean](Keys))
  /** oracle: per table, key -> payload row of its last event (deletes remove) */
  private val expected = Array.fill(Tables)(mutable.HashMap[Long, Seq[Any]]())
  private var offset = 0L
  private var drops = 0
  private var eventsWritten = 0L
  private var stream: StreamingQuery = _
  private var queryRec: Rec = _
  def jobsMetric: String = "streaming.jobs_per_batch"

  inDir.mkdirs()
  stage.mkdirs()

  private def image(t: Int, id: Int): Seq[Any] = {
    live(t)(id) = true
    val row = Seq[Any](id.toLong, s"n$offset", (1 + rng.nextInt(100)).toLong,
      (100 + rng.nextInt(900000)) / 100.0, offset, s"r${id % 8}")
    expected(t)(id.toLong) = row
    row
  }

  private def event(stampMs: Long): String = {
    val t = rng.nextInt(Tables)
    val id = if (rng.nextDouble() < HotShare) rng.nextInt(HotKeys) else rng.nextInt(Keys)
    val op =
      if (!live(t)(id)) CdcSchema.OpInsert
      else if (rng.nextDouble() < DeleteShare) CdcSchema.OpDelete
      else CdcSchema.OpUpdate
    offset += 1
    val payload =
      if (op == CdcSchema.OpDelete) {
        live(t)(id) = false
        expected(t).remove(id.toLong)
        s"""{"id":$id,"region":"r${id % 8}"}"""
      } else {
        val row = image(t, id)
        s"""{"id":$id,"name":"${row(1)}","qty":${row(2)},"price":${row(3)},"ver":$offset,"region":"${row(5)}"}"""
      }
    s"""{"db":"db0","table":"t$t","op":"$op","ts_ms":$stampMs,"offset":$offset,""" +
      s""""payload":"${payload.replace("\"", "\\\"")}"}"""
  }

  /** Writes `count` files of `n` events into a fresh directory outside the
    * watched one, then moves the directory in: the stream sees all of them
    * or none, never a half-written file or half a burst. */
  private def drop(count: Int, n: Int, stampMs: Long): Unit = {
    drops += 1
    val dir = new File(stage, f"drop-$drops%06d")
    dir.mkdirs()
    (1 to count).foreach { i =>
      val text = (1 to n).map(_ => event(stampMs)).mkString("", "\n", "\n")
      Files.write(new File(dir, f"events-$i%02d.json").toPath, text.getBytes(StandardCharsets.UTF_8))
      c.input(n, text)
      eventsWritten += n
    }
    Files.move(dir.toPath, new File(inDir, dir.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The initial image of every key, one commit per table. */
  def load(): Unit = (0 until Tables).foreach { t =>
    val rows = (0 until Keys).map { id => offset += 1; image(t, id) }
    c.input(rows.size, rows.mkString("\n"))
    MergeWriter.upsert(c.spark, c.spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, PayloadSchema),
      sink.resolveLakeTable(Specs(t)))
  }

  private def start(): StreamingQuery = {
    val events = CdcSource.fileStream(c.spark, s"${inDir.getAbsolutePath}/*", MaxFilesPerTrigger)
    if (!c.traced) sink.start(events, checkpoint.getAbsolutePath)
    else events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint.getAbsolutePath)
      .trigger(Trigger.ProcessingTime(s"$TriggerSeconds seconds"))
      .foreachBatch((b: DataFrame, _: Long) => tracedBatch(b, queryRec))
      .start()
  }
  /** `MultiTableSink.processBatch`, one layer call at a time. */
  private def tracedBatch(batch: DataFrame, rec: Rec): Unit = {
    val t0 = System.nanoTime()
    c.span("streaming.process_batch") {
      if (!batch.isEmpty) {
        batch.persist()
        try {
          val present = batch.select("db", "table").distinct().collect()
            .map(r => (r.getString(0), r.getString(1)))
          present.foreach { case (db, name) =>
            Specs.find(s => s.db == db && s.table == name).foreach { spec =>
              val rows = batch
                .filter(col("db") === db && col("table") === name)
                .select(col("op"), col("ts_ms"), col("offset"),
                  from_json(col("payload"), spec.payloadSchema).as("r"))
                .select((spec.payloadSchema.fieldNames.toIndexedSeq.map(f => col(s"r.$f"))
                  :+ col("op") :+ col("ts_ms") :+ col("offset")): _*)
              val (latest, dDedup) = c.timed("sink.dedup") {
                val l = MergeWriter.dedupByPrecombine(rows, spec.recordKeyFields, "offset")
                c.materialize(l)
                l
              }
              val lake = sink.resolveLakeTable(spec)
              val upserts = latest.filter(col("op") =!= CdcSchema.OpDelete).drop("op", "ts_ms", "offset")
              val deletes = latest.filter(col("op") === CdcSchema.OpDelete).drop("op", "ts_ms", "offset")
              val dir = new File(lake.path)
              val before = Sinks.parquet(dir)
              val (_, dCommit) = c.timed("sink.commit") {
                if (!upserts.isEmpty) MergeWriter.upsert(c.spark, upserts, lake)
                if (!deletes.isEmpty) MergeWriter.delete(c.spark, deletes, lake)
              }
              rec.add("sink.dedup_s", dDedup)
              rec.add("sink.commit_s", dCommit)
              Sinks.recordFiles(rec, before, Sinks.parquet(dir))
            }
          }
        } finally batch.unpersist()
      }
    }
    rec.add("streaming.process_batch_s", (System.nanoTime() - t0) / 1e9)
  }

  private def committed(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  private def awaitRows(q: StreamingQuery, rows: Long, timeoutMs: Long): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (committed(q) < rows) {
      q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > until)
        throw new IllegalStateException(s"stream committed ${committed(q)} of $rows events")
      Thread.sleep(10)
    }
  }

  /** Starts the stream and lets it apply one file at a time until
    * `deadlineNs` and at least `WarmBatches` files, then runs `afterOp`
    * once (an untimed snapshot query). */
  def warmUp(r: Rec, deadlineNs: Long): Unit = {
    queryRec = r
    drop(1, EventsPerFile, System.currentTimeMillis())
    stream = start()
    awaitRows(stream, eventsWritten, 120000L)
    while (System.nanoTime() < deadlineNs || drops < WarmBatches) {
      drop(1, EventsPerFile, System.currentTimeMillis())
      awaitRows(stream, eventsWritten, 120000L)
    }
    r.afterOp()
  }

  def run(deadlineNs: Long, rec: Rec): Unit = {
    val windowNs = deadlineNs - System.nanoTime()
    queryRec = rec
    // the traced run resumes the warmed-up stream from its checkpoint under
    // the traced batch function
    if (c.traced) { stream.stop(); stream = start() }
    val q = stream
    val doneBefore = committed(q)
    val lastBatch = q.recentProgress.map(_.batchId).foldLeft(-1L)(math.max)
    val burst = BurstFiles.toLong * EventsPerFile
    val loop = mutable.ArrayBuffer[(Long, Int)]() // (due ms, events) per open-loop file
    try {
      // phase 1: a burst, drained a bounded number of files per trigger.
      // Bytes per row come from it alone: the open loop's commits rewrite
      // the tables as often as batches fit in the window, which follows the
      // machine's speed
      c.drain()
      val bytes0 = c.meter.bytesWritten.get
      drop(BurstFiles, EventsPerFile, System.currentTimeMillis())
      awaitRows(q, doneBefore + burst, 120000L)
      c.drain()
      rec.written = Some((c.meter.bytesWritten.get - bytes0, burst))
      // phase 2: an open loop as long as the window, however long the
      // burst took
      val t0 = System.currentTimeMillis()
      val deadlineMs = t0 + windowNs / 1000000L
      var due = t0
      while (due < deadlineMs) {
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        drop(1, EventsPerPeriod, due)
        rec.max("streaming.generator_lag_s", (System.currentTimeMillis() - due) / 1e3)
        loop += ((due, EventsPerPeriod))
        due = t0 + loop.size.toLong * PeriodMs
      }
      awaitRows(q, doneBefore + burst + loop.map(_._2).sum, 60000L)
    } catch {
      case e: Exception =>
        rec.failedOps += 1
        rec.errors += s"stream: $e"
    } finally q.stop()
    // the engine's progress reports: this phase's data batches, in order
    val batches = q.recentProgress.filter(p => p.numInputRows > 0 && p.batchId > lastBatch)
      .sortBy(_.batchId).map { p =>
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        (startMs, startMs + p.durationMs.get("triggerExecution").longValue,
          p.durationMs.get("addBatch").longValue / 1e3, p.numInputRows)
      }
    rec.ops += batches.length
    rec.committed += batches.map(_._4).sum
    batches.foreach(b => rec.commitS += b._3)
    rec.fixed("streaming.rows_per_batch") = batches.map(_._4).sum.toDouble / math.max(batches.length, 1)
    // drain throughput: burst events over the batches that applied them, from
    // the first one's start, so the trigger phase at the burst does not count
    val cum = batches.map(_._4).scanLeft(0L)(_ + _).tail
    val drained = cum.indexWhere(_ >= burst)
    if (drained >= 0) {
      rec.rows += burst
      rec.writeS += (batches(drained)._2 - batches(0)._1) / 1e3
    }
    // each open-loop file lies inside one batch: locate it by cumulative rows
    var end = burst
    val placed = loop.map { case (due, n) =>
      end += n
      (due, n, cum.indexWhere(_ >= end))
    }.filter(_._3 >= 0)
    placed.foreach { case (due, n, b) => rec.fresh += (((batches(b)._2 - due) / 1e3, n.toLong)) }
    if (placed.nonEmpty) {
      val total = placed.map(_._2).sum.toDouble
      rec.fixed("streaming.trigger_wait_s") =
        placed.map { case (due, n, b) => math.max(0L, batches(b)._1 - due) / 1e3 * n }.sum / total
      rec.fixed("streaming.backlog_files_max") = placed.map(_._3).distinct.map { b =>
        placed.count { case (due, _, pb) => due <= batches(b)._1 && pb >= b }
      }.max
    }
  }

  private def tables: Seq[LakeTable] = Specs.map(sink.resolveLakeTable)

  def query(): Unit = tables.foreach { t =>
    SqlTransform.transform(c.spark, MergeWriter.readView(c.spark, t),
      "SELECT region, count(*) AS n, sum(qty * price) AS v FROM <SRC> GROUP BY region").collect()
  }

  def check(rec: Rec): Long = tables.zipWithIndex.map { case (t, i) =>
    val rows = MergeWriter.readView(c.spark, t).select(Fields.map(col): _*).collect()
    val got = rows.map(r => r.getLong(0) -> r.toSeq).toMap
    rec.check(got.size == rows.length, s"t$i: duplicate keys")
    rec.check(got.size == expected(i).size, s"t$i: ${got.size} live keys, expected ${expected(i).size}")
    expected(i).foreach { case (k, want) =>
      rec.check(got.get(k).exists(Sinks.sameRow(_, want)), s"t$i key $k: got ${got.get(k)}, expected $want")
    }
    got.size.toLong
  }.sum
}
