package graft.sources

import java.io.BufferedOutputStream
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{MapType, StringType, StructType}

/**
 * The WARC writer (K1, SURVEY §2.1):
 * `df.write.format("graft.sources.WarcDataSource").mode("append").save(dir)`
 * over rows of (version string, headers map<string,string>, content
 * string|binary) — the record shape `WarcSink.toRecordColumns` produces.
 * It is the reference's writer pool (warc.go:149-256) re-expressed as
 * per-partition task writers: Spark's execution already IS the pool. All
 * I/O goes through the Hadoop FileSystem of the target path's scheme, with
 * the driver's resolved configuration shipped to the tasks — the write works
 * on any shared filesystem (file:/ in tests, HDFS/object storage on a
 * cluster), NOT just a driver-local disk.
 *
 * Per-file layout:
 *  - rotation by SERIALIZED-BYTE floor (isFileSizeExceeded, file.go:75-85,
 *    default 1000 MB: a file rotates before the first record that would
 *    start at or past the floor, so files exceed the target by at most one
 *    record) AND by record budget
 *  - filename `Prefix-Timestamp-Serial-Host.<ext>` (file.go:14-63) with a
 *    DETERMINISTIC serial = partitionId * 100000 + rotation index (the
 *    reference's global CAS counter is replaced per SURVEY §7.6 — no shared
 *    mutable state across tasks)
 *  - a leading `warcinfo` record per file (WriteInfoRecord, write.go:156-186;
 *    payload fields per utils.go:196-199) whose id, a deterministic function
 *    of the filename, is stamped on every record as WARC-Warcinfo-ID
 *    (warc.go:218-219)
 *  - gzip: one member per record; zstd (K6/K7, write.go:143-153): one SIZED
 *    frame per record, after an optional leading skippable dictionary frame;
 *    both get a sidecar `<file>.idx` of exact compressed member (offset,
 *    size) pairs (read.go:50-83, 319-341), so scans split at record
 *    granularity
 *
 * Commit protocol — gowarc's `.open` -> rename handoff (warc.go:189,244-248)
 * lifted onto Spark's BatchWrite coordinator:
 *  - every task writes `<final>.open.<writeId>-<taskId>` files
 *    (attempt-unique names, so a speculative or retried attempt can never
 *    corrupt a sibling's file) and reports (open, final) pairs in its
 *    WriterCommitMessage
 *  - the driver's commit() renames ALL files of the winning attempts after
 *    EVERY task succeeded — an all-or-nothing publish; abort() deletes every
 *    attempt file of the failed write by its writeId, including those of
 *    tasks whose commit message the failed job never delivered
 *  - file names are DETERMINISTIC (SURVEY §7.6), so in append mode a name
 *    collision with an earlier write fails the commit LOUDLY instead of
 *    silently replacing data (use a distinct prefix/tsCompact per logical
 *    write, or mode("overwrite") to deliberately replace)
 *
 * Options: prefix (GRAFT), tsCompact (20231114221320000), compression
 * (gzip | zstd | none, default gzip), zstdLevel (8), zstdDictBase64
 * (raw-content dictionary, written as a leading skippable frame per file —
 * K7), maxRecordsPerFile (100000), maxFileBytes (1000 MB), host (local).
 */
class WarcWriteBuilder(path: String, info: LogicalWriteInfo) extends WriteBuilder
    with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new WarcWrite(path, info, overwrite)
}

class WarcWrite(path: String, info: LogicalWriteInfo, overwrite: Boolean) extends Write {
  override def toBatch: BatchWrite = {
    val o = info.options
    val codec = o.getOrDefault("compression", "gzip").toLowerCase
    WarcFileName.extOf(codec) // validate early, before any task runs
    new WarcBatchWrite(
      path,
      info.schema(),
      o.getOrDefault("prefix", "GRAFT"),
      o.getOrDefault("tsCompact", "20231114221320000"),
      codec,
      o.getInt("zstdLevel", 8),
      Option(o.get("zstdDictBase64"))
        .map(java.util.Base64.getDecoder.decode).orNull,
      o.getInt("maxRecordsPerFile", 100000),
      o.getLong("maxFileBytes", 1000L << 20),
      o.getOrDefault("host", "local"),
      overwrite,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()))
  }
}

case class WarcFileCommit(openPath: String, finalPath: String)
case class WarcCommitMessage(files: Seq[WarcFileCommit]) extends WriterCommitMessage

class WarcBatchWrite(dir: String, schema: StructType, prefix: String, tsCompact: String,
                     codec: String, zstdLevel: Int, zstdDict: Array[Byte],
                     maxRecordsPerFile: Int, maxFileBytes: Long, host: String,
                     overwrite: Boolean, conf: SerializableHadoopConf)
    extends BatchWrite {

  private val writeId = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new WarcWriterFactory(dir, schema, prefix, tsCompact, codec, zstdLevel, zstdDict,
      maxRecordsPerFile, maxFileBytes, host, writeId, conf)

  /** All-or-nothing publish: rename every attempt file after every task
    * committed (driver side, after the write job succeeded).
    *
    * Overwrite honours Spark's TRUNCATE contract: every file the table owns
    * (`*.warc`, `*.warc.gz`, `*.idx`) is removed before publishing, so a
    * prior write with more partitions/rotations, a different prefix, or
    * orphaned sidecars cannot survive and be silently read back. Append
    * pre-validates ALL targets before the first rename (fail before
    * publishing anything), and data files rename before their `.idx`
    * sidecars so a mid-commit crash never leaves an index without its data. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new HPath(dir).getFileSystem(conf.value)
    val all: Seq[WarcFileCommit] = messages.toSeq.flatMap {
      case WarcCommitMessage(files) => files
      case other => throw new IllegalStateException(s"unexpected commit message $other")
    }
    val dirPath = new HPath(dir)
    if (overwrite) {
      // RECURSIVE: the scan lists nested archives (date=/host= layouts), so
      // truncate must reach them too or stale nested data survives the
      // overwrite and is silently read back
      def truncate(d: HPath): Unit =
        if (fs.exists(d)) fs.listStatus(d).foreach { st =>
          if (st.isDirectory) truncate(st.getPath)
          else {
            val n = st.getPath.getName
            if (WarcFileName.isData(n) || WarcFileName.isIndex(n)) fs.delete(st.getPath, false)
          }
        }
      truncate(dirPath)
    } else {
      val existing = all.map(f => new HPath(f.finalPath)).filter(fs.exists)
      if (existing.nonEmpty) throw new java.io.IOException(
        s"refusing to replace existing ${existing.mkString(", ")} in append mode: " +
          "deterministic file names collide across writes — use a distinct " +
          "prefix/tsCompact per logical write, or mode(\"overwrite\"); " +
          "nothing was published")
    }
    val (idxFiles, dataFiles) = all.partition(f => WarcFileName.isIndex(f.finalPath))
    (dataFiles ++ idxFiles).foreach { f =>
      val target = new HPath(f.finalPath)
      if (!fs.rename(new HPath(f.openPath), target))
        throw new java.io.IOException(s"rename failed: ${f.openPath} -> $target")
    }
  }

  /** Sweeps by writeId rather than by `messages`: a task that committed
    * after another task failed the job never delivers its message, but its
    * staged files still carry the id. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dirPath = new HPath(dir)
    val fs = dirPath.getFileSystem(conf.value)
    if (fs.exists(dirPath)) fs.listStatus(dirPath).map(_.getPath)
      .filter(p => WarcFileName.isAttemptOf(p.getName, writeId))
      .foreach(fs.delete(_, false))
  }
}

class WarcWriterFactory(dir: String, schema: StructType, prefix: String, tsCompact: String,
                        codec: String, zstdLevel: Int, zstdDict: Array[Byte],
                        maxRecordsPerFile: Int, maxFileBytes: Long, host: String,
                        writeId: String, conf: SerializableHadoopConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new WarcDataWriter(dir, schema, prefix, tsCompact, codec, zstdLevel, zstdDict,
      maxRecordsPerFile, maxFileBytes, host, partitionId, s"$writeId-$taskId", conf)
}

class WarcDataWriter(dir: String, schema: StructType, prefix: String, tsCompact: String,
                     codec: String, zstdLevel: Int, zstdDict: Array[Byte],
                     maxRecordsPerFile: Int, maxFileBytes: Long, host: String,
                     partitionId: Int, attempt: String, conf: SerializableHadoopConf)
    extends DataWriter[InternalRow] {

  private val versionIdx = schema.fieldIndex("version")
  private val headersIdx = schema.fieldIndex("headers")
  private val contentIdx = schema.fieldIndex("content")
  private val contentIsString = schema.fields(contentIdx).dataType == StringType
  require(schema.fields(headersIdx).dataType.isInstanceOf[MapType],
    "headers column must be map<string,string>")

  private val dirPath = new HPath(dir)
  private val fs = WarcDataWriter.rawFileSystem(dirPath, conf.value)
  fs.mkdirs(dirPath) // idempotent

  private val ext = WarcFileName.extOf(codec)
  private val framed = codec != "none" // per-record members -> sidecar index
  private var fileIdx = 0
  private var written = 0
  private var out: WarcDataWriter.Counting = _
  private var openPath: HPath = _
  private var finalPath: HPath = _
  private var warcinfoId: String = _
  private val members = scala.collection.mutable.Buffer[(Long, Long)]()
  private val committed = scala.collection.mutable.Buffer[WarcFileCommit]()
  private var zctx: com.github.luben.zstd.ZstdCompressCtx = _

  private def writeOne(version: String, headers: Seq[(String, String)], content: Array[Byte]): Unit = {
    val start = out.count
    codec match {
      case "gzip" => WarcIO.writeGzipMember(out)(g => WarcIO.writeRecord(g, version, headers, content))
      case "zstd" =>
        if (zctx == null) zctx = WarcIO.zstdCompressCtx(zstdLevel, zstdDict)
        WarcIO.writeZstdMember(out, zctx)(z => WarcIO.writeRecord(z, version, headers, content))
      case _ => WarcIO.writeRecord(out, version, headers, content)
    }
    if (framed) members += ((start, out.count - start))
  }

  private def closeFile(): Unit = if (out != null) {
    out.close()
    if (framed) {
      val idx = WarcFileName.idxOf(finalPath.getName)
      val idxOpen = new HPath(dirPath, WarcFileName.stagedOf(idx, attempt))
      val s = fs.create(idxOpen, true)
      try WarcIO.writeMemberIndex(s, members.toSeq) finally s.close()
      committed += WarcFileCommit(idxOpen.toString, new HPath(dirPath, idx).toString)
      members.clear()
    }
    committed += WarcFileCommit(openPath.toString, finalPath.toString)
    out = null
  }

  private def rollover(): Unit = {
    closeFile()
    val serial = partitionId * 100000 + fileIdx
    val name = f"$prefix-$tsCompact-$serial%09d-$host$ext"
    finalPath = new HPath(dirPath, name)
    // attempt-unique working name: concurrent speculative attempts never
    // touch each other's bytes; only the committed attempt's files publish
    openPath = new HPath(dirPath, WarcFileName.stagedOf(name, attempt))
    out = new WarcDataWriter.Counting(
      new BufferedOutputStream(fs.create(openPath, true), 1 << 16))
    fileIdx += 1
    written = 0
    // K7: dictionary skippable frame leads the file; not an .idx member
    if (codec == "zstd" && zstdDict != null && zstdDict.nonEmpty)
      WarcIO.writeZstdDictionaryFrame(out, zstdDict)
    warcinfoId = WarcDataWriter.urnUuidOf(s"warcinfo:$name")
    val payload = WarcDataWriter.warcinfoFields(host)
      .map { case (k, v) => s"$k: $v\r\n" }.mkString.getBytes(StandardCharsets.UTF_8)
    writeOne("WARC/1.1", Seq(
      "WARC-Date" -> WarcDataWriter.isoDate(tsCompact),
      "WARC-Filename" -> name,
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> warcinfoId,
      "Content-Type" -> "application/warc-fields"), payload)
  }

  override def write(row: InternalRow): Unit = {
    if (out == null || written >= maxRecordsPerFile || out.count >= maxFileBytes) rollover()
    val version = row.getUTF8String(versionIdx).toString
    val m = row.getMap(headersIdx)
    val keys = m.keyArray(); val vals = m.valueArray()
    val headers = (0 until m.numElements()).map(i =>
      keys.getUTF8String(i).toString -> vals.getUTF8String(i).toString)
    val content =
      if (row.isNullAt(contentIdx)) Array.emptyByteArray
      else if (contentIsString) row.getUTF8String(contentIdx).getBytes
      else row.getBinary(contentIdx)
    val stamped =
      if (headers.exists(_._1.equalsIgnoreCase("WARC-Warcinfo-ID"))) headers
      else headers :+ ("WARC-Warcinfo-ID" -> warcinfoId)
    writeOne(version, stamped, content)
    written += 1
  }

  private def closeZctx(): Unit = if (zctx != null) { zctx.close(); zctx = null }

  override def commit(): WriterCommitMessage = {
    closeFile()
    closeZctx()
    WarcCommitMessage(committed.toSeq)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    out = null
    closeZctx()
    Option(openPath).foreach(p => fs.delete(p, false))
    committed.foreach(f => fs.delete(new HPath(f.openPath), false))
  }

  override def close(): Unit = {
    if (out != null) { out.close(); out = null }
    closeZctx()
  }
}

object WarcDataWriter {
  /** The filesystem WARC files and their `.idx` sidecars are written through:
    * raw bytes only. A checksummed local filesystem would add `.crc` sidecars
    * that go stale when Mend truncates a file or rewrites its `.idx` in
    * place, failing later scans; WARC records carry their own digests and
    * every gzip member / zstd frame its own checksum. */
  private[graft] def rawFileSystem(path: HPath, conf: Configuration): FileSystem =
    path.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  /** warcinfo payload defaults (utils.go:196-199). */
  private[sources] def warcinfoFields(host: String): Seq[(String, String)] = Seq(
    "hostname" -> host,
    "format" -> "WARC file version 1.1",
    "conformsTo" ->
      "http://iipc.github.io/warc-specifications/specifications/warc-format/warc-1.1/")

  private[sources] final class Counting(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    var count: Long = 0L
    override def write(b: Int): Unit = { out.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); count += len
    }
  }

  private[sources] def urnUuidOf(seed: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(seed.getBytes(StandardCharsets.UTF_8))
    val hex = d.map(b => f"$b%02x").mkString
    s"<urn:uuid:${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
      s"${hex.substring(16, 20)}-${hex.substring(20, 32)}>"
  }

  private[sources] def isoDate(tsCompact: String): String = {
    val t = tsCompact.padTo(14, '0')
    s"${t.substring(0, 4)}-${t.substring(4, 6)}-${t.substring(6, 8)}T" +
      s"${t.substring(8, 10)}:${t.substring(10, 12)}:${t.substring(12, 14)}Z"
  }
}
