package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{DocPushdown, EsRestScan}

/** Incremental index tailing over the real Elasticsearch REST protocol:
  * `spark.readStream.format("graft-es")` — the same monotonic-cursor
  * contract as [[MongoStreamSource]] (`format("graft-mongo")`), with the
  * range predicate shipped server-side as a `range` query and each
  * micro-batch read as a SLICED scroll: `slices` input partitions per
  * batch, so a large backlog drains in parallel (the batch analog reads
  * the whole index the same way).
  *
  * Stateless driver, like the Mongo source: offsets ARE server-side
  * cursor values; `latestOffset` is one `sort desc + size 1` probe, each
  * batch plans `(start, end]`, restarts replay by re-querying. Output is
  * the raw (`cursor` LONG, `doc` STRING json) contract.
  *
  * Options: `nodes` (http://host:port, required), `index` (required),
  * `cursorField` (default `seq` — numeric, monotonic, append-only),
  * `startAfter`, `pageSize` (default 500), `slices` (default 2),
  * `user`/`password` (basic auth). */
class EsStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-es"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MongoStreamSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new EsStreamTable(EsStreamOptions(properties.asScala.toMap))
}

final case class EsStreamOptions(raw: Map[String, String]) {
  private def ci(key: String): Option[String] =
    raw.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }
  val nodes: String = ci("nodes").getOrElse(
    throw new IllegalArgumentException("graft-es requires option nodes"))
  val index: String = ci("index").getOrElse(
    throw new IllegalArgumentException("graft-es requires option index"))
  val cursorField: String = ci("cursorField").getOrElse("seq")
  val startAfter: Long = ci("startAfter").map(_.trim.toLong).getOrElse(Long.MinValue)
  val pageSize: Int = ci("pageSize").map(_.trim.toInt).getOrElse(500)
  val slices: Int = ci("slices").map(_.trim.toInt).getOrElse(2)
  val auth: Option[(String, String)] =
    ci("user").map(u => (u, ci("password").getOrElse("")))
}

class EsStreamTable(opts: EsStreamOptions) extends Table with SupportsRead {
  override def name(): String = s"graft-es(${opts.index})"
  override def schema(): StructType = MongoStreamSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = MongoStreamSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new EsMicroBatchStream(opts)
    }
}

/** Stateless driver: offsets ARE server-side cursor values. */
class EsMicroBatchStream(opts: EsStreamOptions) extends MicroBatchStream {

  override def initialOffset(): Offset = MongoStreamOffset(opts.startAfter)

  override def latestOffset(): Offset = {
    val probe = s"""{"query":{"match_all":{}},""" +
      s""""sort":[{"${opts.cursorField}":"desc"}],"size":1}"""
    val resp = EsRestScan.searchOnce(opts.nodes, opts.index, probe, opts.auth)
    val hits = resp.at("/hits/hits")
    val max =
      if (hits.isArray && hits.size() > 0)
        Option(hits.get(0).at(s"/_source/${opts.cursorField}"))
          .filter(!_.isMissingNode).map(_.asLong)
      else None
    MongoStreamOffset(max.getOrElse(opts.startAfter))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[MongoStreamOffset].cursor
    val e = end.asInstanceOf[MongoStreamOffset].cursor
    if (e <= s) Array.empty
    else Array.tabulate(opts.slices)(i => EsRangeSlicePartition(opts, s, e, i))
  }

  override def commit(end: Offset): Unit = ()

  override def deserializeOffset(json: String): Offset =
    MongoStreamOffset(json.trim.toLong)

  override def createReaderFactory(): PartitionReaderFactory =
    new EsRangeReaderFactory

  override def stop(): Unit = ()
}

final case class EsRangeSlicePartition(opts: EsStreamOptions,
                                       startExclusive: Long, endInclusive: Long,
                                       sliceId: Int) extends InputPartition

class EsRangeReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val EsRangeSlicePartition(opts, s, e, sliceId) = p.asInstanceOf[EsRangeSlicePartition]
    val mapper = DocPushdown.jsonMapper
    val query = s"""{"query":{"range":{"${opts.cursorField}":""" +
      s"""{"gt":$s,"lte":$e}}}}"""
    val docs = EsRestScan.scrollSlice(opts.nodes.stripSuffix("/"), opts.index,
      query, opts.pageSize, sliceId, opts.slices, opts.auth)
    new PartitionReader[InternalRow] {
      private var current: String = _
      override def next(): Boolean = {
        val more = docs.hasNext
        if (more) current = docs.next()
        more
      }
      override def get(): InternalRow = {
        val cur = Option(mapper.readTree(current).get(opts.cursorField))
          .map(_.asLong).getOrElse(throw new IllegalStateException(
            s"document without numeric ${opts.cursorField}: $current"))
        new GenericInternalRow(Array[Any](cur, UTF8String.fromString(current)))
      }
      override def close(): Unit = () // scroll context clears on drain
    }
  }
}
