package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.{Channels, SeekableByteChannel}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.graftshim.ArrowShim
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}

/** Apache Arrow IPC FILE format (`.arrow`, magic `ARROW1`) as a Spark
  * source/sink — the lingua franca of the Python data stack (pyarrow
  * feather v2, polars, duckdb) read and written with REAL format bytes:
  * the batch layout is Arrow's own (written through Arrow 18's
  * `ArrowFileWriter` over Spark's row→vector writers), so any Arrow
  * implementation can consume the output and vice versa.
  *
  * Read: `spark.read.format("arrow").load(dir-or-glob)` — one input
  * partition per FILE (an IPC file's record batches index through its
  * footer, so a finer batch-level split is possible; files are the
  * parallel unit here, like the Avro container source), batches served
  * ZERO-COPY as [[ArrowColumnVector]]-backed [[ColumnarBatch]] rows.
  * Column pruning drops unrequested vectors at batch assembly.
  *
  * Write: [[ArrowIpc.write]] — one `.arrow` file per partition, rows
  * buffered into `batchRows`-sized record batches (partition 0 always
  * writes, so an empty frame round-trips its schema). */
object ArrowIpc {

  /** Write `df` as Arrow IPC files under `path` (one per partition).
    *
    * Commit protocol (same shape as the bucketed-lake V2 write): each
    * task writes to a TASK-ATTEMPT-UNIQUE name under a job staging dir,
    * and the driver renames the successful attempts into place only
    * after the job completes — a retried or speculative attempt can
    * never interleave bytes with its twin, and a failed job leaves only
    * the staging dir (cleaned up), never a partial directory that reads
    * as a valid smaller dataset. */
  def write(df: DataFrame, path: String, batchRows: Int = 4096): Unit = {
    require(batchRows >= 1, "batchRows must be >= 1")
    val spark = df.sparkSession
    val schema = df.schema
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val staging = s"$path/.stage-${java.util.UUID.randomUUID()}"
    // (partition, stagedPath) per successful task — metadata-bounded
    val staged: Array[(Int, String)] =
      try {
        df.queryExecution.toRdd.mapPartitionsWithIndex { (i, rows) =>
          if (rows.hasNext || i == 0) {
            val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
            val efs = new Path(staging).getFileSystem(conf.value)
            val stagedPath = new Path(staging, f"part-$i%05d-a$attempt.arrow")
            val out = efs.create(stagedPath, true)
            val batcher = new ArrowShim.RowBatcher(schema, tz, ArrowShim.allocator)
            val writer = new ArrowFileWriter(batcher.root, null,
              Channels.newChannel(out))
            try {
              writer.start()
              var n = 0
              while (rows.hasNext) {
                batcher.write(rows.next())
                n += 1
                if (n == batchRows) {
                  batcher.finish(); writer.writeBatch(); batcher.reset(); n = 0
                }
              }
              if (n > 0) { batcher.finish(); writer.writeBatch() }
              writer.end()
            } finally {
              writer.close(); batcher.close(); out.close()
            }
            Iterator.single((i, stagedPath.toString))
          } else Iterator.empty
        }.collect()
      } catch {
        case e: Throwable =>
          fs.delete(new Path(staging), true)
          throw e
      }
    // driver-side commit: one winner per partition (Spark returns one
    // result per successful task; a duplicate from a zombie speculative
    // attempt would share the partition id — keep the first)
    staged.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (i, attempts) =>
      val src = new Path(attempts.head._2)
      if (!fs.rename(src, new Path(path, f"part-$i%05d.arrow")))
        throw new java.io.IOException(s"arrow commit failed moving $src")
    }
    fs.delete(new Path(staging), true)
    // a frame with ZERO partitions (empty local relation) never runs a
    // task — emit the schema-only file from the driver so the schema
    // round-trips
    if (staged.isEmpty) {
      val out = fs.create(new Path(path, "part-00000.arrow"), true)
      val batcher = new ArrowShim.RowBatcher(schema, tz, ArrowShim.allocator)
      val writer = new ArrowFileWriter(batcher.root, null,
        Channels.newChannel(out))
      try { writer.start(); writer.end() }
      finally { writer.close(); batcher.close(); out.close() }
    }
  }

  /** `.arrow`/`.arrows` files under a dir, a glob, or one literal file. */
  private[sources] def listFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses =
      Option(fs.globStatus(p)).filter(_.nonEmpty).map(_.toSeq).getOrElse {
        if (!fs.exists(p)) Seq.empty
        else if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
        else Seq(fs.getFileStatus(p))
      }
    val files = statuses.flatMap { s =>
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s)
    }.filter { s =>
      val n = s.getPath.getName
      n.endsWith(".arrow") || n.endsWith(".arrows")
    }.map(_.getPath.toString).sorted
    require(files.nonEmpty, s"no .arrow files at $path")
    files
  }

  private[sources] def readSchema(spark: SparkSession, file: String): StructType = {
    val reader = openReader(spark.sparkContext.hadoopConfiguration, file)
    try ArrowShim.fromArrowSchema(reader.getVectorSchemaRoot.getSchema)
    finally reader.close()
  }

  /** `.arrow` = random-access FILE format (footer + ARROW1 magic);
    * `.arrows` = the STREAM format (no footer — the wire shape). */
  private[sources] def openReader(conf: org.apache.hadoop.conf.Configuration,
                                  file: String)
      : org.apache.arrow.vector.ipc.ArrowReader = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    if (file.endsWith(".arrows"))
      new org.apache.arrow.vector.ipc.ArrowStreamReader(
        fs.open(p), ArrowShim.allocator)
    else {
      val size = fs.getFileStatus(p).getLen
      new ArrowFileReader(
        new HadoopSeekableChannel(fs.open(p), size), ArrowShim.allocator)
    }
  }
}

/** Arrow's readers want a [[SeekableByteChannel]]; Hadoop hands back a
  * positioned stream — adapt one to the other. */
private[sources] final class HadoopSeekableChannel(in: FSDataInputStream,
                                                   length: Long)
    extends SeekableByteChannel {
  private var pos = 0L
  private var open = true
  override def read(dst: ByteBuffer): Int = {
    if (pos >= length) return -1
    val want = math.min(dst.remaining().toLong, length - pos).toInt
    val buf = new Array[Byte](want)
    in.readFully(pos, buf, 0, want)
    dst.put(buf, 0, want)
    pos += want
    want
  }
  override def write(src: ByteBuffer): Int =
    throw new UnsupportedOperationException("read-only channel")
  override def position(): Long = pos
  override def position(newPosition: Long): SeekableByteChannel = {
    pos = newPosition; this
  }
  override def size(): Long = length
  override def truncate(size: Long): SeekableByteChannel =
    throw new UnsupportedOperationException("read-only channel")
  override def isOpen: Boolean = open
  override def close(): Unit = { open = false; in.close() }
}

/** `spark.read.format("arrow")` provider. */
class ArrowIpcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arrow"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("arrow source requires a path"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    ArrowIpc.readSchema(spark,
      ArrowIpc.listFiles(spark, pathOf(options)).head)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val spark = SparkSession.active
    val files = ArrowIpc.listFiles(spark,
      Option(properties.get("path")).getOrElse(
        throw new IllegalArgumentException("arrow source requires a path")))
    new ArrowIpcTable(files, schema)
  }
}

private[sources] class ArrowIpcTable(files: Seq[String], tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"arrow(${files.length} files)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new ArrowIpcScan(files, required)
    }
}

private[sources] class ArrowIpcScan(files: Seq[String], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"graft-arrow(${files.length} files)"
  override def planInputPartitions(): Array[InputPartition] =
    files.map(ArrowFilePartition(_)).toArray
  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    new ArrowReaderFactory(conf, required)
  }
}

private[sources] final case class ArrowFilePartition(file: String)
    extends InputPartition

private[sources] class ArrowReaderFactory(
    conf: org.apache.spark.util.SerializableConfiguration,
    required: StructType) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val file = p.asInstanceOf[ArrowFilePartition].file
    new PartitionReader[InternalRow] {
      private val reader = ArrowIpc.openReader(conf.value, file)
      private val root = reader.getVectorSchemaRoot
      private val fieldIdx = {
        val names = root.getSchema.getFields.asScala.map(_.getName)
        required.fieldNames.map { f =>
          val i = names.indexOf(f)
          require(i >= 0, s"$file has no column '$f'")
          i
        }
      }
      private var rows: Iterator[InternalRow] = Iterator.empty
      private var cur: InternalRow = _

      private def nextBatch(): Boolean =
        if (!reader.loadNextBatch()) false
        else {
          val vectors: Array[ColumnVector] =
            fieldIdx.map(i => new ArrowColumnVector(root.getVector(i)): ColumnVector)
          val batch = new ColumnarBatch(vectors, root.getRowCount)
          rows = batch.rowIterator().asScala
          true
        }

      override def next(): Boolean = {
        while (!rows.hasNext) if (!nextBatch()) return false
        cur = rows.next(); true
      }
      override def get(): InternalRow = cur
      override def close(): Unit = reader.close()
    }
  }
}
