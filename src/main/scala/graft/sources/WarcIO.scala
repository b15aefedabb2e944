package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import com.github.luben.zstd.ZstdCompressCtx
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.apache.commons.compress.compressors.xz.XZCompressorInputStream

/**
 * WARC byte-level reader/writer, semantics per the reference implementation
 * (/root/reference/read.go:205-344, write.go:56-127) and ISO 28500 (WARC 1.1):
 *
 *  - record = version line + `Key: Value` CRLF headers + CRLF + content block
 *    + CRLF CRLF trailer (write.go:56-65,22-26)
 *  - with gzip, EACH RECORD IS ITS OWN GZIP MEMBER (read.go:236-254) — that
 *    per-member framing is what makes .warc.gz splittable at scale; the
 *    writer here reproduces it (one GZIPOutputStream finish() per record)
 *  - compression is sniffed from magic bytes (read.go:358-374): gzip, bzip2,
 *    xz, zstd, zstd+dictionary skippable frame, or plain
 *  - header keys are case-insensitive (header.go:12-38): parsed into a map
 *    keyed lowercase, original case preserved in serialization only
 */
object WarcIO {

  final case class ParsedRecord(
      version: String,
      headers: Map[String, String], // keys lowercased
      content: Array[Byte], // null when the reader skipped the block
      ordinal: Long = 0L, // record ordinal within the scanned stream
      memberOffset: Long = -1L, // compressed offset of the record's members (read.go:319-341), see MemberWalk
      memberSize: Long = -1L) // compressed size of the record's members; -1 when not framed alone

  private val CRLF = "\r\n".getBytes(StandardCharsets.US_ASCII)

  /** Magic of the skippable frame carrying the dictionary (utils.go:55). */
  val ZstdDictionaryFrameMagic: Long = 0x184D2A5DL

  /** Write the skippable dictionary frame (utils.go:42-73): LE magic
    * 0x184D2A5D + LE payload size + zstd-compressed dictionary. Returns the
    * frame's on-disk size. */
  def writeZstdDictionaryFrame(out: OutputStream, dict: Array[Byte],
                               level: Int = 19): Long = {
    val ctx = new ZstdCompressCtx().setLevel(level).setContentSize(true)
    val payload = try ctx.compress(dict) finally ctx.close()
    val header = new Array[Byte](8)
    def putLe32(off: Int, v: Long): Unit = {
      header(off) = (v & 0xff).toByte
      header(off + 1) = ((v >> 8) & 0xff).toByte
      header(off + 2) = ((v >> 16) & 0xff).toByte
      header(off + 3) = ((v >> 24) & 0xff).toByte
    }
    putLe32(0, ZstdDictionaryFrameMagic)
    putLe32(4, payload.length.toLong)
    out.write(header)
    out.write(payload)
    8L + payload.length
  }

  /** Compression context for the per-record zstd frames: level + pledged
    * content size in every frame header (the sizedZstdWriter semantics,
    * zstd_writer.go:10-42) + optional raw-content dictionary. Reuse one per
    * task; close() frees the native CCtx. */
  def zstdCompressCtx(level: Int, dict: Array[Byte]): ZstdCompressCtx = {
    val ctx = new ZstdCompressCtx().setLevel(level).setContentSize(true)
    if (dict != null && dict.nonEmpty) ctx.loadDict(dict)
    ctx
  }

  /** K6: one SIZED zstd frame per record (write.go:143-153 + one-shot
    * compression pledges Frame_Content_Size in the frame header), the zstd
    * analog of the per-record gzip member — what keeps `.warc.zst`
    * splittable at record granularity via the sidecar index. */
  def writeZstdMember(out: OutputStream, ctx: ZstdCompressCtx)
                     (body: OutputStream => Unit): Unit = {
    val bos = new java.io.ByteArrayOutputStream(1 << 16)
    body(bos)
    out.write(ctx.compress(bos.toByteArray))
  }

  /** Read one CRLF-terminated line as UTF-8 (readUntilDelim analog,
    * read.go:140-179). Returns null at clean EOF before any byte. */
  private def readLine(in: InputStream): String = {
    val out = new java.io.ByteArrayOutputStream(128)
    var prev = -1
    var c = in.read()
    if (c == -1) return null
    while (c != -1) {
      if (prev == '\r' && c == '\n') {
        val bytes = out.toByteArray
        return new String(bytes, 0, bytes.length - 1, StandardCharsets.UTF_8)
      }
      out.write(c)
      prev = c
      c = in.read()
    }
    throw new EOFException("unexpected EOF inside a line")
  }

  private def readFully(in: InputStream, n: Long): Array[Byte] = {
    require(n <= Int.MaxValue, s"content block too large for one row: $n")
    val buf = new Array[Byte](n.toInt)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n.toInt - off)
      if (r < 0) throw new EOFException(s"unexpected EOF in content block at $off/$n")
      off += r
    }
    buf
  }

  private def skipFully(in: InputStream, n: Long): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s > 0) left -= s
      else if (in.read() < 0)
        throw new EOFException(s"unexpected EOF in content block, $left/$n left")
      else left -= 1
    }
  }

  /**
   * The WARC record grammar (ReadRecord, read.go:205-344; ISO 28500 §4) —
   * the one parser behind the scan and mend. Reads one record off a
   * DECOMPRESSED stream; returns null at a clean EOF between records.
   * Leading blank lines are skipped; then a `WARC/` version line, `Key: Value`
   * header lines up to an empty line (a line starting with SP or HT folds
   * into the previous value, joined by one SP; any other line without a `:`
   * past index 0 is an error), a mandatory Content-Length, the content block
   * and an exact `\r\n\r\n` trailer (read.go:309-317). EOF anywhere inside
   * a record is an error. With `keepContent = false` the block is read past
   * as a Long count and `content` is null (the spool-or-skip choice,
   * read.go:290-307), so a block over 2 GiB still parses.
   */
  def readRecord(in: InputStream, keepContent: Boolean): ParsedRecord = {
    var line = readLine(in)
    while (line != null && line.isEmpty) line = readLine(in) // inter-record padding
    if (line == null) return null
    if (!line.startsWith("WARC/")) throw new IllegalStateException(s"bad version line: '$line'")
    val headers = mutable.LinkedHashMap[String, String]()
    def headerLine(): String = {
      val l = readLine(in)
      if (l == null) throw new EOFException("unexpected EOF in record header")
      l
    }
    var key: String = null
    var h = headerLine()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if ((h.charAt(0) == ' ' || h.charAt(0) == '\t') && key != null)
        headers(key) = (headers(key) + " " + h.trim).trim // folded value (LWS)
      else if (i > 0) {
        key = h.substring(0, i).toLowerCase
        headers(key) = h.substring(i + 1).trim // splitKeyValue, utils.go:18-24
      } else throw new IllegalStateException(s"bad header line: '$h'")
      h = headerLine()
    }
    val len = headers.getOrElse("content-length",
      throw new IllegalStateException("missing Content-Length")).toLong
    if (len < 0) throw new IllegalStateException(s"negative Content-Length: $len")
    val content = if (keepContent) readFully(in, len) else { skipFully(in, len); null }
    val t = new Array[Byte](4)
    var off = 0
    while (off < 4) {
      val r = in.read(t, off, 4 - off)
      if (r < 0) throw new EOFException("unexpected EOF in record trailer")
      off += r
    }
    if (!(t(0) == '\r' && t(1) == '\n' && t(2) == '\r' && t(3) == '\n'))
      throw new IllegalStateException("record missing \\r\\n\\r\\n trailer")
    ParsedRecord(line, headers.toMap, content)
  }

  /** The one codec opener (read.go:358-440): sniffs the magic bytes once and
    * returns the decompressed stream with its member framing — gzip members
    * ([[GzipMemberInputStream]]), zstd frames with or without a leading
    * skippable dictionary frame (the warc-zstd convention, utils.go:42-73 /
    * read.go:488-535; [[ZstdFrames.FrameInputStream]]), or plain records.
    * bzip2 and xz decompress as one stream that is never at a member
    * boundary. A ranged read of a dictionary-compressed `.warc.zst` starts
    * past the dictionary frame and passes the file's dictionary as `dict`
    * ([[ZstdFrames.headDictionary]]), evaluated only when the range is zstd. */
  def open(raw: InputStream, dict: => Array[Byte] = null): InputStream with MemberBoundaries = {
    val buf = new BufferedInputStream(raw, 1 << 16)
    buf.mark(6)
    val b = Array.fill(6)(buf.read())
    buf.reset()
    def is(magic: Int*): Boolean = magic.zipWithIndex.forall { case (m, i) => b(i) == m }
    if (is(0x1f, 0x8b)) new GzipMemberInputStream(buf)
    // any skippable frame 0x184D2A5x (read.go:428-429) leads with the dictionary
    else if (is(0x28, 0xb5, 0x2f, 0xfd) ||
        ((b(0) & 0xf0) == 0x50 && b(1) == 0x2a && b(2) == 0x4d && b(3) == 0x18))
      ZstdFrames.FrameInputStream(buf, dict)
    else if (is('B', 'Z', 'h')) new Unframed(new BZip2CompressorInputStream(buf, true))
    else if (is(0xfd, '7', 'z', 'X', 'Z', 0x00)) new Unframed(new XZCompressorInputStream(buf, true))
    else new PlainRecords(buf)
  }

  /** A plain file: every record is its own member, so every record end is a cut point. */
  private final class PlainRecords(in: InputStream) extends InputStream with MemberBoundaries {
    private var pos = 0L
    def atMemberBoundary: Boolean = true
    def lastMemberEndOffset: Long = pos
    override def read(): Int = { val b = in.read(); if (b >= 0) pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len); if (n > 0) pos += n; n
    }
    override def skip(n: Long): Long = { val s = in.skip(n); pos += s; s }
    override def close(): Unit = in.close()
  }

  /** bzip2 / xz: one compressed stream with no member ends to cut at. */
  private final class Unframed(in: InputStream)
      extends java.io.FilterInputStream(new BufferedInputStream(in, 1 << 16)) with MemberBoundaries {
    def atMemberBoundary: Boolean = false
    def lastMemberEndOffset: Long = 0L
  }

  /**
   * The one member walk (the reference's counting reader: coordinates,
   * read.go:319-341, and mend's lastValidEndPos, mend.go:300-375): reads
   * records off an [[open]]ed stream and tracks the cut points — member ends
   * that are also record ends. A record that starts and ends at a cut point
   * carries its compressed (offset, size), shifted by `baseOffset` when the
   * stream is a byte range of a larger file; any other record — one of
   * several in a member, or in bzip2/xz — carries (-1, -1). The scan, mend
   * and the index builder all read through it.
   */
  final class MemberWalk(in: InputStream with MemberBoundaries, keepContent: Boolean,
                         baseOffset: Long = 0L) {
    private var cut = in.lastMemberEndOffset // past a zstd dictionary frame
    private var atCut = in.atMemberBoundary
    private var records = 0L
    private var beforeCut = 0L

    /** Compressed offset of the last cut point (the stream start before any). */
    def lastCut: Long = cut

    /** Records that end at or before [[lastCut]]. */
    def recordsBeforeCut: Long = beforeCut

    /** The next record, or null at a clean end of stream. */
    def next(): ParsedRecord = {
      val r = readRecord(in, keepContent)
      if (r == null) return null
      val startedAtCut = atCut
      val start = cut
      records += 1
      atCut = in.atMemberBoundary
      if (atCut) { cut = in.lastMemberEndOffset; beforeCut = records }
      if (startedAtCut && atCut)
        r.copy(ordinal = records - 1, memberOffset = baseOffset + start, memberSize = cut - start)
      else r.copy(ordinal = records - 1)
    }
  }

  /** Record iterator plus the decompressor that owns its native buffers —
    * close it when done (the per-partition scan path does). `baseOffset` and
    * `dict` describe a byte RANGE of a larger file (the member-index split
    * path in WarcScan). */
  def openRecords(raw: InputStream, baseOffset: Long = 0L, keepContent: Boolean = true,
                  dict: => Array[Byte] = null): (Iterator[ParsedRecord], java.io.Closeable) = {
    val in = open(raw, dict)
    val walk = new MemberWalk(in, keepContent, baseOffset)
    (Iterator.continually(walk.next()).takeWhile(_ != null), in)
  }

  /** Sidecar member index: one `offset size` line per gzip member or zstd
    * frame, written by WarcDataWriter next to each rotated `.warc.gz` /
    * `.warc.zst` — what makes the archive splittable at member granularity
    * without a planning-time scan (the reference validates exactly these
    * coordinates against an external member finder, read_test.go:345-401). */
  def writeMemberIndex(out: OutputStream, members: Seq[(Long, Long)]): Unit = {
    val sb = new StringBuilder
    members.foreach { case (o, s) => sb.append(o).append(' ').append(s).append('\n') }
    out.write(sb.toString.getBytes(StandardCharsets.US_ASCII))
  }

  def readMemberIndex(in: InputStream): Seq[(Long, Long)] =
    scala.io.Source.fromInputStream(in, "US-ASCII").getLines().filter(_.nonEmpty).map { l =>
      val sp = l.indexOf(' ')
      (l.substring(0, sp).toLong, l.substring(sp + 1).toLong)
    }.toVector

  /** Serialize one record; canonical header order per RecordSerializer.
    * Content-Length is ALWAYS set from the measured content (the reference
    * measures the spooled block at write time, write.go:84-90) — a caller-
    * provided value that disagrees would produce an unreadable record.
    * Header names and values reach the file verbatim, so a name that is
    * empty, holds `:`, CR or LF, or starts with SP/HT, and a value holding
    * CR or LF, are rejected: they would forge headers (a crawled URL with an
    * embedded CRLF) or write a record the reader cuts. */
  def writeRecord(out: OutputStream, version: String,
                  headersIn: Seq[(String, String)], content: Array[Byte]): Unit = {
    headersIn.foreach { case (k, v) =>
      def shown(x: String) = x.replace("\r", "\\r").replace("\n", "\\n")
      require(k.nonEmpty && !k.exists(c => c == ':' || c == '\r' || c == '\n') &&
        k.charAt(0) != ' ' && k.charAt(0) != '\t', s"invalid WARC header name '${shown(k)}'")
      require(!v.exists(c => c == '\r' || c == '\n'),
        s"WARC header '${shown(k)}' has CR or LF in its value '${shown(v)}'")
    }
    val withLen = headersIn.filterNot(_._1.equalsIgnoreCase("Content-Length")) :+
      ("Content-Length" -> content.length.toString)
    // block digest injected when missing (write.go:96-101); an existing
    // header is trusted (callers may carry the original-capture digest)
    val headers =
      if (withLen.exists(_._1.equalsIgnoreCase("WARC-Block-Digest"))) withLen
      else withLen :+ ("WARC-Block-Digest" ->
        ("sha1:" + graft.functions.DigestUtil.base32(
          java.security.MessageDigest.getInstance("SHA-1").digest(content))))
    val canon = graft.warc.RecordSerializer.CanonicalOrder
    val keys = headers.map(_._1)
    val ordered = canon.filter(keys.contains) ++ keys.filterNot(canon.contains).sorted
    val hmap = headers.toMap
    val sb = new StringBuilder(version).append("\r\n")
    ordered.foreach { k => sb.append(k).append(": ").append(hmap(k)).append("\r\n") }
    sb.append("\r\n")
    out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    out.write(content)
    out.write(CRLF); out.write(CRLF)
  }

  /**
   * Per-record gzip member framing (write.go per-record member; asserted in
   * the reference's reader, read.go:236-254): each record compresses through
   * its own GZIPOutputStream whose finish() closes the member but not the
   * underlying stream.
   */
  def writeGzipMember(out: OutputStream)(body: OutputStream => Unit): Unit = {
    // close() (not just finish()) so the Deflater's native zlib buffers are
    // end()'d — one GZIPOutputStream per record otherwise leaks one native
    // allocation per record until GC cleaners run. The shield keeps the
    // underlying file stream open across members.
    val shield = new java.io.FilterOutputStream(out) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def close(): Unit = out.flush()
    }
    val gz = new GZIPOutputStream(shield, 1 << 16)
    body(gz)
    gz.close() // finish member + Deflater.end(); shield.close() only flushes
  }
}
