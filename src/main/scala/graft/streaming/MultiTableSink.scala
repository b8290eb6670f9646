package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.SqlTransform
import graft.sink.{LakeTable, MergeWriter}

/** W3 — the streaming multi-table demux sink (`binlog-hudi` in the
  * reference, HoodieBinlogDeltaStreamer.scala:91-101): route each
  * micro-batch's CDC rows to per-table lake paths resolved from a
  * `{db}`/`{table}` path template, with per-table key specs, append output
  * mode, a processing-time trigger (default 60 s, `:245`) and
  * checkpoint-based resume.
  *
  * Exactly-once: Structured Streaming's foreachBatch is at-least-once on
  * replay; each table's share of a batch lands as ONE idempotent keyed
  * commit ([[MergeWriter.applyChanges]], upserts and deletes together),
  * which composes to effective exactly-once — the same contract the
  * reference gets from Hudi upsert (SURVEY.md §2.4).
  *
  * Scale: the per-batch demux collects only the DISTINCT (db, table,
  * has-delete) tuples (bounded by the table count, not row count); the
  * batch is cached once and filtered per table, each table written by one
  * keyed commit — partition-pruned when its share has no deletes. At CDC
  * batch sizes a commit is a chain of small jobs bound by the driver, so
  * the tables of a batch commit CONCURRENTLY, on
  * `min(tables in the batch, defaultParallelism)` threads that inherit the
  * stream thread's job group (see [[processBatch]]). Every spec must
  * resolve to its own lake path; the constructor rejects two specs for one
  * table or two tables on one path. */
class MultiTableSink(
    pathTemplate: String,
    specs: Seq[CdcTableSpec],
    triggerSeconds: Int = 60) extends Serializable {

  // one spec and one lake path per table: two tables on one path would
  // mix their keys, and their concurrent commits would race
  rejectShared(s => (s.db, s.table), "have two specs")
  rejectShared(s => resolvePath(s.db, s.table), "resolve to one lake path")

  private def rejectShared(key: CdcTableSpec => Any, clash: String): Unit =
    specs.groupBy(key).valuesIterator.find(_.size > 1).foreach { same =>
      val (a, b) = (same(0), same(1))
      throw new IllegalArgumentException(s"tables ${a.db}.${a.table} and " +
        s"${b.db}.${b.table} $clash (lake path ${resolvePath(a.db, a.table)}, " +
        s"path template $pathTemplate)")
    }

  private val byName: Map[(String, String), CdcTableSpec] =
    specs.map(s => (s.db, s.table) -> s).toMap

  /** `{db}`/`{table}` substitution (reference suite fixture:
    * `option.hoodie.path=/hudi/tmp/a/{db}/ods_{db}_{table}`). */
  def resolvePath(db: String, table: String): String =
    pathTemplate.replace("{db}", db).replace("{table}", table)

  def resolveLakeTable(spec: CdcTableSpec): LakeTable = LakeTable(
    path = resolvePath(spec.db, spec.table),
    tableName = s"ods_${spec.db}_${spec.table}",
    recordKeyFields = spec.recordKeyFields,
    precombineField = spec.precombineField,
    partitionFields = spec.partitionFields)

  /** One micro-batch: demux by (db, table), then for each present table
    * parse the payload with its schema, keep the latest image per key,
    * apply the optional per-table SQL transform and land one keyed commit.
    *
    * The demux runs on the calling thread; the tables' commits run
    * concurrently on `min(tables in the batch, defaultParallelism)` threads
    * started by this call, which inherit the caller's Spark local
    * properties and active session — under `foreachBatch` that includes
    * the query's job group, so `StreamingQuery.stop()` cancels their jobs.
    * The call returns, and unpersists the batch, only after every table's
    * commit has ended. If any failed it rethrows the first failure with the
    * others suppressed; tables that did commit are re-applied idempotently
    * when the batch replays, so the batch as a whole stays exactly-once. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    batch.persist()
    try {
      // an empty batch yields no tables, so no commit
      val present = batch.groupBy("db", "table")
        .agg(max(col("op") <=> CdcSchema.OpDelete).as("has_delete"))
        .collect().toIndexedSeq.flatMap(r =>
          byName.get((r.getString(0), r.getString(1))).map(_ -> r.getBoolean(2)))
      MultiTableSink.runAll(s"${MultiTableSink.CommitThreadPrefix}-$batchId",
        math.min(present.size, spark.sparkContext.defaultParallelism),
        present.map { case (spec, hasDelete) => () => commit(spark, batch, spec, hasDelete) })
    } finally batch.unpersist()
  }

  /** One table's share of the batch as one keyed commit. */
  private def commit(spark: SparkSession, batch: DataFrame, spec: CdcTableSpec,
                     hasDelete: Boolean): Unit = {
    val rows = batch
      .filter(col("db") === spec.db && col("table") === spec.table)
      .select(col("op"), col("ts_ms"), col("offset"),
        from_json(col("payload"), spec.payloadSchema).as("r"))
      .select((spec.payloadSchema.fieldNames.toIndexedSeq.map(f => col(s"r.$f"))
        :+ col("op") :+ col("ts_ms") :+ col("offset")): _*)
    // within a batch, several ops may target one key — keep only the
    // latest image per key (by source offset) before merging, so a
    // delete followed by a re-insert resolves correctly
    val latest = MergeWriter.dedupByPrecombine(rows, spec.recordKeyFields, "offset")
    val upserts0 = latest.filter(col("op") =!= CdcSchema.OpDelete)
      .drop("op", "ts_ms", "offset")
    val upserts = spec.transformerSql
      .map(sql => SqlTransform.transform(spark, upserts0, sql))
      .getOrElse(upserts0)
    val deletes = Option.when(hasDelete)(
      latest.filter(col("op") === CdcSchema.OpDelete))
    MergeWriter.applyChanges(spark, resolveLakeTable(spec), Some(upserts), deletes)
  }

  /** Start the streaming query: append mode, checkpointed, processing-time
    * trigger — the reference's exact wiring (`:91-101`). */
  def start(events: DataFrame, checkpointLocation: String): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.ProcessingTime(s"$triggerSeconds seconds"))
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .start()

  /** W4 — console debug sink (HoodieBinlogDeltaStreamer.scala:104-130). */
  def startConsole(events: DataFrame, checkpointLocation: String,
                   numRows: Int = 100000): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .format("console")
      .option("truncate", "false")
      .option("numRows", numRows)
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.ProcessingTime(s"$triggerSeconds seconds"))
      .start()
}

object MultiTableSink {

  /** Name prefix of the threads that commit a micro-batch's tables. */
  private[streaming] val CommitThreadPrefix = "graft-cdc-commit"

  /** Runs `tasks` on `threads` threads named `name-i`. The calling thread
    * starts them, so each inherits a copy of its Spark local properties
    * (job group, execution id) and its active session. Returns only when
    * every thread has ended; then rethrows the first failure with the
    * others suppressed. Interrupted while waiting (a stopping query), it
    * hands out no further task, interrupts the threads, still waits for
    * them and rethrows the interrupt. */
  private def runAll(name: String, threads: Int, tasks: IndexedSeq[() => Unit]): Unit = {
    val next = new AtomicInteger(0)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val workers = (0 until threads).map { i =>
      val t = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < tasks.size) {
          try tasks(k)() catch { case e: Throwable => failures.add(e) }
          k = next.getAndIncrement()
        }
      }, s"$name-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupt: Option[InterruptedException] = None
    workers.foreach { w =>
      while (w.isAlive) try w.join() catch {
        case e: InterruptedException if interrupt.isEmpty =>
          interrupt = Some(e)
          next.set(tasks.size)
          workers.foreach(_.interrupt())
        case _: InterruptedException =>
      }
    }
    val errors = interrupt.toSeq ++ failures.asScala
    errors.headOption.foreach { first =>
      errors.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
