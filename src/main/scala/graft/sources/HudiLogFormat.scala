package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

/** The Apache Hudi merge-on-read LOG FILE format (`HoodieLogFormat`,
  * version 1), from the published Hudi sources — this is what sits next
  * to the base parquet of a MOR file group as
  * `.{fileId}_{baseInstant}.log.{version}_{writeToken}`:
  *
  * Each block (hudi-common `HoodieLogFormatWriter.appendBlocks` /
  * `HoodieLogFileReader.readBlock`):
  * {{{
  *   MAGIC              6 bytes "#HUDI#"
  *   block length       int64  (bytes from the version field through the
  *                              trailing total-length field, inclusive)
  *   format version     int32  (1)
  *   block type         int32  (HoodieLogBlockType ordinal: 0=command,
  *                              1=delete, 2=corrupt, 3=avro data,
  *                              4=hfile, 5=parquet, 6=cdc)
  *   header             int32 count, then per entry:
  *                        int32 HeaderMetadataType ordinal
  *                        (0=INSTANT_TIME, 1=TARGET_INSTANT_TIME,
  *                         2=SCHEMA, 3=COMMAND_BLOCK_TYPE, …)
  *                        int32 length + UTF-8 bytes
  *   content length     int64
  *   content            bytes
  *   footer             same map layout as header (usually empty)
  *   total block length int64  (including MAGIC — enables reverse scans)
  * }}}
  *
  * Avro data block content (`HoodieAvroDataBlock`, content version 3):
  * {{{
  *   int32 content version (3)
  *   int32 record count
  *   per record: int32 length + Avro binary of the schema in the
  *               SCHEMA header entry
  * }}}
  *
  * Command blocks (rollback markers) carry TARGET_INSTANT_TIME: every
  * earlier block of that instant must be ignored by readers.
  *
  * Delete block content (`HoodieDeleteBlock`, the Hudi 0.9 vintage — the
  * reference system's own stack, reference `pom.xml:24-29`):
  * {{{
  *   int32 content version
  *   int32 payload length
  *   payload: Kryo-serialized HoodieKey[] (kryo-shaded 4.x defaults:
  *            registrationRequired=false → class NAMES on the wire,
  *            reference tracking on, FieldSerializer over the two
  *            String fields recordKey/partitionPath)
  * }}}
  * [[deleteKeys]]/[[deleteBlock]] read and write exactly that wire
  * format with the Kryo on Spark's own classpath (same 4.x line),
  * resolving the `org.apache.hudi.common.model.HoodieKey` class name to
  * a field-compatible local shim — later Hudi versions moved the payload
  * to Avro and fail loudly here.
  */
object HudiLogFormat {

  val Magic: Array[Byte] = "#HUDI#".getBytes(UTF_8)
  val FormatVersion = 1

  // HoodieLogBlockType ordinals
  val TypeCommand = 0
  val TypeDelete = 1
  val TypeCorrupt = 2
  val TypeAvroData = 3

  // HeaderMetadataType ordinals
  val HeaderInstantTime = 0
  val HeaderTargetInstantTime = 1
  val HeaderSchema = 2
  val HeaderCommandBlockType = 3

  final case class LogBlock(blockType: Int, header: Map[Int, String],
                            content: Array[Byte])

  /** Log file name → (fileId, baseInstant, logVersion, writeToken).
    * Pattern: `.{fileId}_{baseInstant}.log.{version}_{writeToken}` —
    * writeToken is `attempt-task-stage`-ish and optional in older
    * layouts. */
  private val LogFileRe = """\.([^_/]+)_(\d+)\.log\.(\d+)(?:_(.+))?""".r

  def parseLogFileName(name: String): Option[(String, String, Int, String)] =
    name match {
      case LogFileRe(fileId, baseInstant, version, token) =>
        Some((fileId, baseInstant, version.toInt, Option(token).getOrElse("")))
      case _ => None
    }

  // ----------------------------------------------------------------------
  // reading
  // ----------------------------------------------------------------------

  /** Parse every block of one log file. Trailing partial blocks (writer
    * died mid-append) terminate the scan silently, matching Hudi's
    * corrupt-block tolerance; structural corruption mid-file fails
    * loudly. */
  def readBlocks(in: InputStream): Seq[LogBlock] = {
    val d = new DataInputStream(in)
    val out = ArrayBuffer.empty[LogBlock]
    var eof = false
    while (!eof) {
      val magic = new Array[Byte](6)
      var read = 0
      try {
        while (read < 6) {
          val n = d.read(magic, read, 6 - read)
          if (n < 0) { eof = true; read = 6 } else read += n
        }
      } catch { case _: EOFException => eof = true }
      if (!eof) {
        if (!java.util.Arrays.equals(magic, Magic))
          throw new IllegalStateException(
            "bad Hudi log block magic — not a HoodieLogFormat file")
        try {
          d.readLong() // block length (redundant with the field lengths)
          val version = d.readInt()
          require(version <= FormatVersion, s"unsupported log format version $version")
          val blockType = d.readInt()
          val header = readMetaMap(d)
          val contentLen = d.readLong()
          require(contentLen >= 0 && contentLen < (8L << 30),
            s"implausible log block content length $contentLen")
          val content = new Array[Byte](contentLen.toInt)
          d.readFully(content)
          readMetaMap(d): Unit // the block footer, read to advance the stream
          d.readLong() // total block length
          out += LogBlock(blockType, header, content)
        } catch {
          case _: EOFException => eof = true // partial trailing block
        }
      }
    }
    out.toSeq
  }

  private def readMetaMap(d: DataInputStream): Map[Int, String] = {
    val n = d.readInt()
    require(n >= 0 && n <= 64, s"implausible log metadata entry count $n")
    (0 until n).map { _ =>
      val key = d.readInt()
      val len = d.readInt()
      val bytes = new Array[Byte](len)
      d.readFully(bytes)
      key -> new String(bytes, UTF_8)
    }.toMap
  }

  /** Decode an Avro data block's records with its embedded SCHEMA. */
  def avroRecords(block: LogBlock): Seq[GenericRecord] = {
    require(block.blockType == TypeAvroData,
      s"not an Avro data block (type ${block.blockType})")
    val schemaJson = block.header.getOrElse(HeaderSchema,
      throw new IllegalStateException("Avro data block without SCHEMA header"))
    val schema = new Schema.Parser().parse(schemaJson)
    val d = new DataInputStream(new ByteArrayInputStream(block.content))
    val contentVersion = d.readInt()
    require(contentVersion >= 1 && contentVersion <= 3,
      s"unsupported Avro data block content version $contentVersion")
    val count = d.readInt()
    val reader = new GenericDatumReader[GenericRecord](schema)
    (0 until count).map { _ =>
      val len = d.readInt()
      val bytes = new Array[Byte](len)
      d.readFully(bytes)
      reader.read(null, DecoderFactory.get().binaryDecoder(bytes, null))
    }
  }

  // ----------------------------------------------------------------------
  // delete blocks (Hudi 0.9-vintage Kryo payload)
  // ----------------------------------------------------------------------

  /** Decode a delete block into `(recordKey, partitionPath)` pairs.
    * Payloads that are not the 0.9-vintage Kryo `HoodieKey[]` (newer
    * Hudi moved deletes to an Avro record) fail LOUDLY — silently
    * ignoring a delete block would resurrect deleted rows. */
  def deleteKeys(block: LogBlock): Seq[(String, String)] = {
    require(block.blockType == TypeDelete,
      s"not a delete block (type ${block.blockType})")
    try {
      val d = new DataInputStream(new ByteArrayInputStream(block.content))
      d.readInt() // content version (sanity only; the payload self-describes)
      val len = d.readInt()
      require(len >= 0 && len <= block.content.length - 8,
        s"implausible delete block payload length $len")
      val bytes = new Array[Byte](len)
      d.readFully(bytes)
      HudiKryo.readKeys(bytes)
    } catch {
      case e: EOFException => throw new IllegalStateException(
        "malformed Hudi delete block (truncated content) — not the " +
          "0.9-vintage HoodieKey[] serialization; newer delete-block " +
          "formats are not supported, compact the table first", e)
    }
  }

  /** Encode `(recordKey, partitionPath)` pairs as a 0.9-vintage delete
    * block (content version 2, Kryo `HoodieKey[]` payload). */
  def deleteBlock(instantTime: String, keys: Seq[(String, String)]): LogBlock = {
    val payload = HudiKryo.writeKeys(keys)
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(2)
    d.writeInt(payload.length)
    d.write(payload)
    d.flush()
    LogBlock(TypeDelete, Map(HeaderInstantTime -> instantTime), bos.toByteArray)
  }

  /** Apply rollback command blocks: drop every block whose INSTANT_TIME
    * is the TARGET_INSTANT_TIME of a later command block, and the command
    * blocks themselves. */
  def effectiveBlocks(blocks: Seq[LogBlock]): Seq[LogBlock] = {
    val rolledBack = blocks.collect {
      case b if b.blockType == TypeCommand =>
        b.header.getOrElse(HeaderTargetInstantTime, "")
    }.filter(_.nonEmpty).toSet
    blocks.filter { b =>
      b.blockType != TypeCommand && b.blockType != TypeCorrupt &&
        !rolledBack.contains(b.header.getOrElse(HeaderInstantTime, ""))
    }
  }

  // ----------------------------------------------------------------------
  // writing (interop round-trip + fixtures)
  // ----------------------------------------------------------------------

  /** Serialize one block in the exact on-disk layout. */
  def writeBlock(out: DataOutputStream, block: LogBlock): Unit = {
    val headerBytes = metaMapBytes(block.header)
    val footerBytes = metaMapBytes(Map.empty)
    // version(4) + type(4) + header + contentLen(8) + content + footer +
    // trailing total-length(8)
    val blockLength = 4L + 4 + headerBytes.length + 8 + block.content.length +
      footerBytes.length + 8
    val total = 6L + 8 + blockLength
    out.write(Magic)
    out.writeLong(blockLength)
    out.writeInt(FormatVersion)
    out.writeInt(block.blockType)
    out.write(headerBytes)
    out.writeLong(block.content.length.toLong)
    out.write(block.content)
    out.write(footerBytes)
    out.writeLong(total)
  }

  private def metaMapBytes(m: Map[Int, String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(m.size)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val bytes = v.getBytes(UTF_8)
      d.writeInt(k); d.writeInt(bytes.length); d.write(bytes)
    }
    d.flush()
    bos.toByteArray
  }

  /** Field-compatible stand-in for `org.apache.hudi.common.model
    * .HoodieKey` (two String fields; Kryo's FieldSerializer matches by
    * alphabetically-sorted field NAMES, so only the names and types
    * matter). Public with a no-arg constructor so Kryo can instantiate
    * it without objenesis. */
  final class HudiKeyShim {
    var recordKey: String = _
    var partitionPath: String = _
  }

  /** Kryo bridge for the 0.9 delete-block payload. Wire-compat argument:
    * Hudi 0.9's `SerializationUtils` is `new Kryo()` (kryo-shaded 4.0.2,
    * registrationRequired=false, default reference tracking) +
    * `writeClassAndObject` — this uses the SAME construction on Spark's
    * kryo-shaded 4.0.3, so the byte layout matches by construction; the
    * only difference, the class NAME on the wire, is bridged by a
    * resolver that writes/reads the Hudi spelling for the local shim. */
  private object HudiKryo {
    import com.esotericsoftware.kryo.{Kryo, Registration}
    import com.esotericsoftware.kryo.io.{Input, Output}
    import com.esotericsoftware.kryo.util.{DefaultClassResolver, IdentityObjectIntMap, MapReferenceResolver}

    private val HudiKeyName = "org.apache.hudi.common.model.HoodieKey"
    private val HudiKeyArrayName = s"[L$HudiKeyName;"

    private final class ShimResolver extends DefaultClassResolver {
      override protected def getTypeByName(className: String): Class[_] =
        className match {
          case HudiKeyName => classOf[HudiKeyShim]
          case HudiKeyArrayName => classOf[Array[HudiKeyShim]]
          case _ => super.getTypeByName(className)
        }

      // identical to DefaultClassResolver.writeName except the shim
      // classes go on the wire under their Hudi names
      override protected def writeName(output: Output, tpe: Class[_],
                                       registration: Registration): Unit = {
        output.writeVarInt(DefaultClassResolver.NAME + 2, true)
        if (classToNameId != null) {
          val nameId = classToNameId.get(tpe, -1)
          if (nameId != -1) { output.writeVarInt(nameId, true); return }
        }
        val nameId = nextNameId
        nextNameId += 1
        if (classToNameId == null) classToNameId = new IdentityObjectIntMap()
        classToNameId.put(tpe, nameId)
        output.writeVarInt(nameId, true)
        val name =
          if (tpe == classOf[HudiKeyShim]) HudiKeyName
          else if (tpe == classOf[Array[HudiKeyShim]]) HudiKeyArrayName
          else tpe.getName
        output.writeString(name)
      }
    }

    private def newKryo(): Kryo = {
      val k = new Kryo(new ShimResolver, new MapReferenceResolver)
      k.setRegistrationRequired(false)
      k.setInstantiatorStrategy(new Kryo.DefaultInstantiatorStrategy())
      k
    }

    def writeKeys(keys: Seq[(String, String)]): Array[Byte] = {
      val arr = keys.map { case (key, part) =>
        val s = new HudiKeyShim
        s.recordKey = key
        s.partitionPath = part
        s
      }.toArray
      val out = new Output(1024, -1)
      newKryo().writeClassAndObject(out, arr)
      out.close()
      out.toBytes
    }

    def readKeys(bytes: Array[Byte]): Seq[(String, String)] =
      newKryo().readClassAndObject(new Input(bytes)) match {
        case arr: Array[HudiKeyShim] =>
          arr.toSeq.map(s => (s.recordKey, s.partitionPath))
        case other => throw new IllegalStateException(
          "Hudi delete block payload decoded to " +
            s"${Option(other).map(_.getClass.getName).getOrElse("null")} — " +
            "expected HoodieKey[] (the 0.9-vintage serialization); newer " +
            "delete-block formats are not supported, compact the table first")
      }
  }

  /** Encode records as an Avro data block (content version 3). */
  def avroDataBlock(instantTime: String, schema: Schema,
                    records: Seq[GenericRecord]): LogBlock = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(3) // content version
    d.writeInt(records.size)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    records.foreach { r =>
      val rb = new ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(rb, null)
      writer.write(r, enc)
      enc.flush()
      val bytes = rb.toByteArray
      d.writeInt(bytes.length); d.write(bytes)
    }
    d.flush()
    LogBlock(TypeAvroData,
      Map(HeaderInstantTime -> instantTime, HeaderSchema -> schema.toString),
      bos.toByteArray)
  }
}
