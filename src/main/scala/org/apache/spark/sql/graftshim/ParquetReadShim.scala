package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Access bridge into Spark's `private[sql]` parquet reader factory, so a
  * custom DataSource V2 scan (the bucketed graft lake) reads parquet with
  * the SAME engine-grade machinery as Spark's own file sources — footer
  * pruning, vectorized decode, nested schema pruning — instead of a
  * hand-rolled record materializer. The `private[sql]` surface is stable
  * across the 3.x/4.x line (every lakehouse connector rides it); this
  * object is the single place that touches it.
  *
  * [[readerFor]] must be called on the DRIVER (it broadcasts the hadoop
  * conf); the returned function is serializable and runs per-file on
  * executors. Vectorized reads hand back [[ColumnarBatch]]es disguised as
  * rows — [[rows]] flattens them to the InternalRow iterator contract
  * (rows valid until `next()`, like every Spark scan). */
object ParquetReadShim {

  /** Driver-built per-file reader: `dataSchema` = file schema,
    * `requiredSchema` = pruned projection, `filters` = source filters
    * forwarded to parquet's own predicate pushdown (row-group/page
    * stats + dictionary pruning — the reader skips whole row groups
    * whose stats exclude the predicate; rows that survive are STILL
    * re-filtered above the scan, so forwarding is always safe). The
    * hadoop conf is a FRESH per-scan copy (with the session's SQL
    * options folded in) because `buildReaderWithPartitionValues` writes
    * the requested schema INTO the conf it is given — two scans sharing
    * one conf object would clobber each other's projection (e.g. both
    * sides of a co-located join plan in the same session). */
  def readerFor(spark: SparkSession, dataSchema: StructType,
                requiredSchema: StructType,
                filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, dataSchema, new StructType(), requiredSchema, filters,
      // rows, not ColumnarBatches: the vectorized reader still runs
      // underneath, handing back its batch rows one at a time
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())

  /** The data schema Spark's parquet source infers from `file`'s footer
    * (the per-footer step of its schema inference: the stored Spark
    * schema, else the converted parquet one, under the session's parquet
    * options), nullable as every file source's is. Reads ONE footer on the
    * driver: no Spark job, no stat (the length comes with `file`). */
  def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }

  def partitionedFile(path: String, length: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, length, Array.empty, 0L, length)

  /** Whether the vectorized reader can hand back whole
    * [[ColumnarBatch]]es for this projection (atomic types under the
    * wide-schema threshold) — the gate for a V2 scan's columnar path. */
  def supportsBatch(spark: SparkSession, schema: StructType): Boolean =
    new ParquetFileFormat().supportBatch(spark, schema)

  /** [[readerFor]] in COLUMNAR mode: the returned iterators carry
    * [[ColumnarBatch]]es (the vectorized reader's native unit), for
    * scans that report columnar support — the ColumnarToRow transition
    * then happens inside whole-stage codegen instead of a per-row
    * iterator hop. Callers must have checked [[supportsBatch]]. */
  def batchReaderFor(spark: SparkSession, dataSchema: StructType,
                     requiredSchema: StructType,
                     filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : PartitionedFile => Iterator[ColumnarBatch] = {
    val fn = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, dataSchema, new StructType(), requiredSchema, filters,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "true"),
      spark.sessionState.newHadoopConf())
    file => fn(file).asInstanceOf[Iterator[ColumnarBatch]]
  }

  /** Flatten the reader's row-or-batch elements into plain rows. */
  def rows(it: Iterator[InternalRow]): Iterator[InternalRow] =
    it.asInstanceOf[Iterator[Any]].flatMap {
      case b: ColumnarBatch =>
        import scala.jdk.CollectionConverters._
        b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    }
}
