package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.ParquetReadShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] over an EXPLICIT file list with per-file partition
  * values — the Spark-native way for a table-format reader (Delta, Hudi,
  * Iceberg) to hand Catalyst its snapshot:
  *
  *  - ONE `FileSourceScanExec` for the whole table, however many distinct
  *    partition tuples it has. The naive alternative (one
  *    `spark.read.parquet(...)` + `lit(...)` partition columns per tuple,
  *    unioned) builds a plan whose size is O(tuples) — a date×hour×region
  *    layout with 10⁴–10⁵ tuples blows up driver planning before a single
  *    byte is read.
  *  - REAL partition pruning: Catalyst routes partition-column predicates
  *    into [[listFiles]], so `WHERE dt = '2024-01-01'` prunes the file
  *    list at planning time instead of scanning everything and filtering
  *    rows — the property that makes partitioned layouts work at 100 TB.
  *  - Typed partition columns: values are carried as Catalyst
  *    `InternalRow`s of the declared partition schema, not string
  *    literals.
  *
  * File sizes/mtimes come from the table format's own metadata (Delta
  * `add.size`, Hudi/Iceberg manifests), so constructing the index makes
  * ZERO per-file filesystem calls.
  */
final class StaticFileIndex(
    root: Path,
    override val partitionSchema: StructType,
    /** One entry per distinct partition tuple: typed values + files. */
    partitions: Seq[(InternalRow, Array[FileStatus])]) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) partitions
      else {
        // bind the predicates to the partition schema by (case-insensitive)
        // name and evaluate them against each tuple's InternalRow — the
        // same contract PartitioningAwareFileIndex implements for
        // directory-discovered layouts
        val predicate = Predicate.createInterpreted(
          partitionFilters.reduce(org.apache.spark.sql.catalyst.expressions.And)
            .transform {
              case a: AttributeReference =>
                val idx = partitionSchema.indexWhere(
                  f => f.name.equalsIgnoreCase(a.name))
                require(idx >= 0,
                  s"partition filter references unknown column ${a.name}")
                BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
            })
        partitions.filter { case (values, _) => predicate.eval(values) }
      }
    pruned.map { case (values, files) => PartitionDirectory(values, files) }
  }

  override def inputFiles: Array[String] =
    partitions.iterator.flatMap(_._2).map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override val sizeInBytes: Long =
    partitions.iterator.flatMap(_._2).map(_.getLen).sum
}

/** A [[FileIndex]] over a table version's EXPLICIT file list under `root`
  * (a manifest's entries, sizes included) whose partitions are Spark's own
  * directory discovery: [[inferPartitioning]] parses the files'
  * directories below `root`, so partition columns, their types, NULL
  * values and unescaping are exactly what a
  * `spark.read.option("basePath", root)` read of the same files infers —
  * without that read's per-file stat, its listing job above
  * `parallelPartitionDiscovery.threshold` paths, or any filesystem call.
  * Equal by root and file set: two reads of one version are the same
  * relation, so a cached read serves the next. */
final class ManifestFileIndex(spark: SparkSession, val root: Path, files: Seq[FileStatus])
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  override def rootPaths: Seq[Path] = Seq(root)

  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap.from(files.map(f => f.getPath -> f))

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)

  private lazy val spec = inferPartitioning()

  override def partitionSpec(): PartitionSpec = spec

  /** Every listed file, wherever it sits (the parent takes only the
    * files directly under a root path when there are no partitions). */
  override def allFiles(): Seq[FileStatus] = files

  override def refresh(): Unit = ()

  override def equals(other: Any): Boolean = other match {
    case i: ManifestFileIndex => root == i.root && leafFiles.keySet == i.leafFiles.keySet
    case _ => false
  }

  override def hashCode: Int = (root, leafFiles.keySet).hashCode
}

/** A [[FileIndex]] for Iceberg HIDDEN PARTITIONING: files are grouped by
  * their TRANSFORMED partition tuple (`day(ts)=19000`, `bucket(id)=3`)
  * but expose NO partition columns — every output column reads from the
  * data files, exactly Iceberg's contract (the user never sees or
  * filters on the transform). Pruning instead rides the DATA filters:
  * Catalyst hands `listFiles` the pushed-down data predicates, and each
  * conjunct over a transform's SOURCE column is projected through the
  * transform ([[IcebergTransforms.keeps]] — the spec's inclusive
  * projection) to drop whole files at planning time. `WHERE ts >= X`
  * then opens only the day-partitions that can hold it, with no
  * explicit partition column in the query — the property that makes
  * hidden partitioning work at 100 TB. Unprojectable predicates keep
  * files (pruning is an optimization, never a correctness gate). */
final class TransformFileIndex(
    root: Path,
    /** One entry per distinct (spec, tuple): the group's OWN spec fields
      * (groups may carry different specs — Iceberg partition EVOLUTION
      * leaves files written under older specs in the table), transformed
      * values aligned with those fields, plus the tuple's files. A group
      * with an empty spec (files from an unpartitioned era) is never
      * pruned. */
    groups: Seq[(Seq[IcebergTransforms.SpecField], Seq[Any], Array[FileStatus])])
  extends FileIndex {

  /** Single-spec convenience: every tuple shares `specs`. */
  def this(root: Path, specs: Seq[IcebergTransforms.SpecField],
           partitions: Seq[(Seq[Any], Array[FileStatus])]) =
    this(root, partitions.map { case (values, files) => (specs, values, files) })

  import org.apache.spark.sql.catalyst.expressions._

  override val partitionSchema: StructType = StructType(Nil)

  override def rootPaths: Seq[Path] = Seq(root)

  private def sourceName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _ => None // casts etc. change comparison semantics: no pruning
  }

  /** Conjunct → projectable `(source column, op, literal)` facts —
    * keyed by NAME (not spec index): under partition evolution a column
    * may be a transform source in one group's spec and absent from
    * another's. */
  private def projections(e: Expression): Seq[(String, String, Any)] = e match {
    case And(l, r) => projections(l) ++ projections(r)
    case EqualTo(a, Literal(v, _)) => sourceName(a).map((_, "=", v)).toSeq
    case EqualTo(Literal(v, _), a) => sourceName(a).map((_, "=", v)).toSeq
    case EqualNullSafe(a, Literal(v, _)) if v != null =>
      sourceName(a).map((_, "=", v)).toSeq
    case EqualNullSafe(Literal(v, _), a) if v != null =>
      sourceName(a).map((_, "=", v)).toSeq
    case GreaterThan(a, Literal(v, _)) => sourceName(a).map((_, ">", v)).toSeq
    case GreaterThan(Literal(v, _), a) => sourceName(a).map((_, "<", v)).toSeq
    case GreaterThanOrEqual(a, Literal(v, _)) =>
      sourceName(a).map((_, ">=", v)).toSeq
    case GreaterThanOrEqual(Literal(v, _), a) =>
      sourceName(a).map((_, "<=", v)).toSeq
    case LessThan(a, Literal(v, _)) => sourceName(a).map((_, "<", v)).toSeq
    case LessThan(Literal(v, _), a) => sourceName(a).map((_, ">", v)).toSeq
    case LessThanOrEqual(a, Literal(v, _)) =>
      sourceName(a).map((_, "<=", v)).toSeq
    case LessThanOrEqual(Literal(v, _), a) =>
      sourceName(a).map((_, ">=", v)).toSeq
    case In(a, lits) if lits.nonEmpty && lits.forall(_.isInstanceOf[Literal]) =>
      sourceName(a)
        .map((_, "in", lits.map(_.asInstanceOf[Literal].value): Any)).toSeq
    case _ => Nil
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val facts = dataFilters.flatMap(projections)
    val pruned =
      if (facts.isEmpty) groups
      else groups.filter { case (specs, values, _) =>
        facts.forall { case (src, op, lit) =>
          val i = specs.indexWhere(_.sourceName.equalsIgnoreCase(src))
          // a column outside THIS group's spec keeps the group (pruning
          // is an optimization, never a correctness gate)
          i < 0 || IcebergTransforms.keeps(specs(i), values(i), op, lit)
        }
      }
    pruned.map { case (_, _, files) =>
      PartitionDirectory(InternalRow.empty, files)
    }
  }

  override def inputFiles: Array[String] =
    groups.iterator.flatMap(_._3).map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override val sizeInBytes: Long =
    groups.iterator.flatMap(_._3).map(_.getLen).sum
}

object StaticFileIndex {

  /** Build the snapshot DataFrame: one parquet scan over `partitions`
    * with `dataSchema` read from the files and `partitionSchema` columns
    * synthesized from the per-tuple values (appended after the data
    * columns, Spark's standard partitioned-relation layout — callers
    * wanting a specific column order select on top). */
  def parquetRelation(spark: SparkSession, root: Path,
                      dataSchema: StructType, partitionSchema: StructType,
                      partitions: Seq[(InternalRow, Array[FileStatus])])
      : DataFrame =
    relation(spark, new StaticFileIndex(root, partitionSchema, partitions),
      partitionSchema, dataSchema)

  /** Build the hidden-partitioned snapshot DataFrame: one parquet scan
    * whose [[TransformFileIndex]] prunes files through the partition
    * transforms; every column reads from the data files (no partition
    * columns in the relation). */
  def transformParquetRelation(spark: SparkSession, root: Path,
                               dataSchema: StructType,
                               index: TransformFileIndex): DataFrame =
    relation(spark, index, StructType(Nil), dataSchema)

  /** The snapshot DataFrame of a version's parquet `files` under `root`
    * ([[ManifestFileIndex]]): partition columns from their directories,
    * data schema from the FIRST file's footer, read on the driver — what
    * `spark.read` infers when the files share one schema, with no Spark
    * job. */
  def listedParquet(spark: SparkSession, root: Path, files: Seq[FileStatus]): DataFrame = {
    val index = new ManifestFileIndex(spark, root, files)
    relation(spark, index, index.partitionSchema,
      ParquetReadShim.footerSchema(spark, files.head))
  }

  /** One parquet scan over `index`: Spark's file-source relation. */
  private def relation(spark: SparkSession, index: FileIndex,
                       partitionSchema: StructType, dataSchema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema, dataSchema,
        bucketSpec = None, new ParquetFileFormat, options = Map.empty[String, String])(spark))

  /** Parse one partition value from its table-format string serialization
    * into the Catalyst-internal representation of `dt` (Delta and Hive
    * share this encoding: ISO dates, `yyyy-MM-dd HH:mm:ss[.ffffff]`
    * timestamps, plain decimal numbers; `null` stays null). */
  def partitionValue(raw: String, dt: DataType): Any =
    if (raw == null) null
    else dt match {
      case StringType => UTF8String.fromString(raw)
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case ShortType => raw.toShort
      case ByteType => raw.toByte
      case BooleanType => raw.toBoolean
      case FloatType => raw.toFloat
      case DoubleType => raw.toDouble
      case d: DecimalType => Decimal(new java.math.BigDecimal(raw), d.precision, d.scale)
      case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case TimestampType =>
        val ts = java.sql.Timestamp.valueOf(raw)
        ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
      case other => throw new IllegalArgumentException(
        s"unsupported partition column type $other")
    }
}
