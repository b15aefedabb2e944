package graft.sources

import java.io.InputStream
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath, PositionedReadable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * `spark.read.format("graft.sources.WarcDataSource")` — a DataSourceV2 scan
 * over WARC files (S1/S2 in SURVEY §2.1), replacing the reference's
 * single-threaded ReadRecord pull loop (/root/reference/read.go:205-344).
 *
 * Split planning: paths resolve through the Hadoop FileSystem API (recursive
 * listing — a 100 TB archive lives on object storage, not java.nio), and a
 * `.warc.gz` / `.warc.zst` that carries a sidecar member index splits into
 * MEMBER-RANGE partitions of ~`maxPartitionBytes` (default 128 MiB): each
 * task seeks to an exact member offset and reads only its range. Files
 * without an index scan as one partition each (still correct — gowarc's own
 * rotation default of ~1 GB files, utils.go:184-186, keeps that parallel).
 *
 * Scan-level optimizations implemented natively:
 *  - column pruning (SupportsPushDownRequiredColumns): the ReadOpts
 *    "no content" scan (read.go:210-215) generalized — unneeded columns are
 *    never materialized into rows, and without `content` the block is read
 *    past uncopied (the reference's discardN, read.go:183-198)
 *  - filter pushdown (SupportsPushDownFilters) on warc_type / target_uri
 *    equality and IN — the ShouldSkipRecord filter (cmd/warc/utils/utils.go:43-57)
 *    evaluated record-side before row materialization
 *  - per-record compressed member coordinates surface as `member_offset` /
 *    `member_size` (read.go:319-341): the gzip member(s), zstd frame(s) or
 *    plain byte range of a record that starts and ends at a member end
 *    ([[WarcIO.MemberWalk]]); -1 for a record sharing a member with another
 *    and for bzip2/xz
 */
class WarcDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WarcTable.Schema
  // writes carry the DataFrame's own (version, headers, content) record
  // shape rather than the 19-column read schema; reads always infer
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WarcTable(properties.get("path"),
      Option(properties.get("maxPartitionBytes")).map(_.toLong).getOrElse(WarcScan.DefaultSplit),
      Option(schema))
  override def supportsExternalMetadata(): Boolean = true
}

object WarcTable {
  val Schema: StructType = StructType(Seq(
    StructField("record_id", StringType),
    StructField("warc_type", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("content_length", LongType),
    StructField("block_digest", StringType),
    StructField("payload_digest", StringType),
    StructField("concurrent_to", StringType),
    StructField("refers_to", StringType),
    StructField("warcinfo_id", StringType),
    StructField("profile", StringType),
    StructField("truncated", StringType),
    StructField("version", StringType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("content", BinaryType),
    StructField("source_file", StringType),
    StructField("record_ordinal", LongType),
    StructField("member_offset", LongType),
    StructField("member_size", LongType)))

  /** header key feeding each top-level promoted column (SURVEY §1.5). */
  val HeaderOf: Map[String, String] = Map(
    "record_id" -> "warc-record-id", "warc_type" -> "warc-type",
    "target_uri" -> "warc-target-uri", "warc_date" -> "warc-date",
    "block_digest" -> "warc-block-digest", "payload_digest" -> "warc-payload-digest",
    "concurrent_to" -> "warc-concurrent-to", "refers_to" -> "warc-refers-to",
    "warcinfo_id" -> "warc-warcinfo-id",
    "profile" -> "warc-profile", "truncated" -> "warc-truncated")
}

class WarcTable(path: String, maxPartitionBytes: Long,
                schemaOverride: Option[StructType] = None) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"warc($path)"
  override def schema(): StructType = schemaOverride.getOrElse(WarcTable.Schema)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(if (path != null) path else options.get("path"),
      options.getLong("maxPartitionBytes", maxPartitionBytes),
      options.getLong("maxFileAgeMs", WarcMicroBatchStream.DefaultMaxFileAgeMs))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new WarcWriteBuilder(
      if (path != null) path else info.options.get("path"), info)
}

class WarcScanBuilder(path: String, maxPartitionBytes: Long,
                      maxFileAgeMs: Long = WarcMicroBatchStream.DefaultMaxFileAgeMs) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = WarcTable.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo(a, _) => WarcScan.FilterableCols.contains(a)
      case In(a, _) => WarcScan.FilterableCols.contains(a)
      case _ => false
    }
    pushed = supported
    rest // Spark re-evaluates the rest (and may re-check ours — harmless)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new WarcScan(path, required, pushed, maxPartitionBytes, maxFileAgeMs)
}

object WarcScan {
  val FilterableCols: Set[String] = Set("warc_type", "target_uri", "record_id")
  val DefaultSplit: Long = 128L * 1024 * 1024

  /** Recursive WARC-file listing (archives nest by date/host) of the names
    * `accept` takes — by default the published data files, so `.open`
    * in-progress files are excluded.
    *
    * Uses per-directory `listStatus` rather than `listFiles(recursive)`:
    * the latter materializes LocatedFileStatus EAGERLY (on local FS that
    * shells out for permissions), so a sink renaming its `.open` file away
    * mid-iteration crashes the listing — the streaming source lists
    * CONCURRENTLY with active writers by design. A directory vanishing
    * mid-walk is likewise tolerated. */
  def listWarcFiles(fs: FileSystem, root: HPath,
                    accept: String => Boolean = WarcFileName.isData): Seq[FileStatus] = {
    val rootSt = fs.getFileStatus(root)
    if (!rootSt.isDirectory) return Seq(rootSt)
    val buf = scala.collection.mutable.Buffer[FileStatus]()
    def walk(dir: HPath): Unit = {
      val entries =
        try fs.listStatus(dir)
        catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
      entries.foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (accept(st.getPath.getName)) buf += st
      }
    }
    walk(root)
    buf.sortBy(_.getPath.toString).toSeq
  }

  /** Per-file split planning: member-index files split into member-aligned
    * ~maxPartitionBytes ranges; index-less files scan whole. */
  def partitionsFor(fs: FileSystem, files: Seq[FileStatus],
                    maxPartitionBytes: Long): Array[InputPartition] =
    files.flatMap { st =>
      val f = st.getPath
      val idxPath = new HPath(WarcFileName.idxOf(f.toString))
      val members: Option[Seq[(Long, Long)]] =
        if (WarcFileName.isFramed(f.getName) && fs.exists(idxPath)) {
          val in = fs.open(idxPath)
          try Some(WarcIO.readMemberIndex(in)) finally in.close()
        } else None
      members match {
        case Some(ms) if ms.nonEmpty =>
          // pack consecutive members into ~maxPartitionBytes ranges; every
          // range begins at an exact member offset (seekable split point)
          val parts = scala.collection.mutable.Buffer[WarcInputPartition]()
          var start = ms.head._1
          var startOrdinal = 0L
          var bytes = 0L
          var count = 0L
          ms.foreach { case (off, len) =>
            if (bytes > 0 && bytes + len > maxPartitionBytes) {
              parts += WarcInputPartition(f.toString, start, off - start, startOrdinal)
              start = off; startOrdinal += count; bytes = 0L; count = 0L
            }
            bytes += len; count += 1
          }
          val last = ms.last
          parts += WarcInputPartition(f.toString, start, last._1 + last._2 - start, startOrdinal)
          parts.toSeq
        case _ =>
          Seq(WarcInputPartition(f.toString, 0L, st.getLen, 0L))
      }
    }.map(p => p: InputPartition).toArray
}

class WarcScan(path: String, required: StructType, filters: Array[Filter],
               maxPartitionBytes: Long,
               maxFileAgeMs: Long = WarcMicroBatchStream.DefaultMaxFileAgeMs)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"WarcScan(path=$path, columns=${required.fieldNames.mkString(",")}, " +
      s"pushed=[${filters.mkString(",")}])"

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    WarcScan.partitionsFor(fs, WarcScan.listWarcFiles(fs, root), maxPartitionBytes)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required, filters,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new WarcMicroBatchStream(path, required, filters, maxPartitionBytes, maxFileAgeMs)
}

/** One scan task: a byte range of `file` beginning at a member boundary
  * (whole file when start=0 and length=file size). */
case class WarcInputPartition(file: String, start: Long, length: Long,
                              startOrdinal: Long) extends InputPartition

class WarcReaderFactory(required: StructType, filters: Array[Filter],
                        conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(partition.asInstanceOf[WarcInputPartition], required, filters, conf)
}

/** Reads at most `limit` bytes of `in` — a member-range window. */
private[sources] final class BoundedInputStream(in: InputStream, limit: Long)
    extends InputStream {
  private var left = limit
  override def read(): Int =
    if (left <= 0) -1
    else { val b = in.read(); if (b >= 0) left -= 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (left <= 0) return -1
    val n = in.read(b, off, math.min(len, math.min(left, Int.MaxValue.toLong).toInt))
    if (n > 0) left -= n
    n
  }
  override def close(): Unit = in.close()
}

/** The file from offset 0 through positioned reads: the stream's own
  * position is left where it is. Connectors may return short reads. */
private[sources] final class HeadInputStream(in: PositionedReadable) extends InputStream {
  private var pos = 0L
  override def read(): Int = {
    val b = new Array[Byte](1)
    if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    var n = 0
    while (n == 0) n = in.read(pos, b, off, len)
    if (n > 0) pos += n
    n
  }
}

class WarcPartitionReader(part: WarcInputPartition, required: StructType,
                          filters: Array[Filter], conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  // executor-side open through the Hadoop FS of the file's scheme — with the
  // DRIVER's resolved configuration (credentials/endpoints ride along) —
  // seeking to the partition's member-aligned start offset
  private val hfile = new HPath(part.file)
  private val fs = hfile.getFileSystem(conf.value)
  private val stream = fs.open(hfile)

  private val (it, decompressor) =
    try {
      if (part.start > 0) stream.seek(part.start)
      // a zstd range past the file head decodes against the dictionary the
      // head carries, probed through positioned reads of the open stream
      WarcIO.openRecords(new BoundedInputStream(stream, part.length), part.start,
        keepContent = required.fieldNames.contains("content"),
        dict = if (part.start > 0) ZstdFrames.headDictionary(new HeadInputStream(stream)) else null)
    } catch { case e: Throwable => stream.close(); throw e }
  private var current: WarcIO.ParsedRecord = _

  private def fieldValue(rec: WarcIO.ParsedRecord, name: String): Any = name match {
    case "content_length" => rec.headers.get("content-length").map(_.toLong).orNull
    case "version" => UTF8String.fromString(rec.version)
    case "content" => rec.content
    case "source_file" => UTF8String.fromString(part.file)
    case "record_ordinal" => part.startOrdinal + rec.ordinal
    case "member_offset" => rec.memberOffset
    case "member_size" => rec.memberSize
    case "headers" =>
      ArrayBasedMapData(rec.headers,
        (k: Any) => UTF8String.fromString(k.asInstanceOf[String]),
        (v: Any) => UTF8String.fromString(v.asInstanceOf[String]))
    case promoted =>
      WarcTable.HeaderOf.get(promoted)
        .flatMap(rec.headers.get)
        .map(UTF8String.fromString)
        .orNull
  }

  private def strField(rec: WarcIO.ParsedRecord, name: String): String =
    WarcTable.HeaderOf.get(name).flatMap(rec.headers.get).orNull

  private def passes(rec: WarcIO.ParsedRecord): Boolean = filters.forall {
    case EqualTo(a, v) => strField(rec, a) == v
    case In(a, vs) => vs.contains(strField(rec, a))
    case _ => true
  }

  override def next(): Boolean = {
    while (it.hasNext) {
      val r = it.next()
      if (passes(r)) { current = r; return true }
    }
    false
  }

  override def get(): InternalRow =
    InternalRow.fromSeq(required.fields.map(f => fieldValue(current, f.name)).toSeq)

  override def close(): Unit = {
    decompressor.close() // ends the native Inflater, then cascades to `stream`
  }
}
