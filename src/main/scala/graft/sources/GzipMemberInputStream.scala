package graft.sources

import java.io.{EOFException, InputStream}
import java.util.zip.{CRC32, DataFormatException, Inflater, ZipException}

/** A decompressed WARC stream that knows its compressed member framing: a
  * gzip member, a zstd frame, or (for a plain file) a record. [[WarcIO.open]]
  * returns one for every codec; [[WarcIO.MemberWalk]] reads records off it and
  * finds the cut points — member ends that are also record ends. */
trait MemberBoundaries {
  /** True when every byte returned so far belongs to whole members. */
  def atMemberBoundary: Boolean
  /** Compressed offset just past the last member whose bytes were all returned. */
  def lastMemberEndOffset: Long
}

/**
 * Multi-member gzip decompressor with EXACT compressed member bookkeeping —
 * the Spark-side analog of the reference's counting reader + per-member
 * Multistream(false)/Reset loop (/root/reference/read.go:50-83,236-254,
 * 319-341). `java.util.zip.GZIPInputStream` hides member boundaries (it
 * concatenates members transparently and reads ahead), so it cannot produce
 * the per-record (Offset, Size) coordinates the reference exposes; this
 * stream parses the gzip framing itself (RFC 1952: header + optional
 * FEXTRA/FNAME/FCOMMENT/FHCRC fields, raw deflate body, CRC32+ISIZE
 * trailer) and never buffers past a member boundary on the output side, so
 * a caller that is at a record boundary can ask [[atMemberBoundary]] and
 * read off the exact compressed coordinates of the member it just finished.
 *
 * Those coordinates are what make `.warc.gz` splittable (each record is its
 * own member in gowarc framing, write.go per-record member) and what lets
 * mend truncate a crashed `.warc.gz` at the last valid member
 * (mend.go:298-375).
 *
 * CRC32 and ISIZE are verified per member, and the optional header CRC16
 * (FHCRC) is verified when present — a corrupt tail or header fails loudly
 * at the exact member, never as garbled WARC text downstream.
 */
final class GzipMemberInputStream(raw: InputStream) extends InputStream with MemberBoundaries {

  // ---- compressed-side buffer: absolute offset of inBuf(bufStart) == fileOff
  private val inBuf = new Array[Byte](1 << 16)
  private var bufStart = 0
  private var bufEnd = 0
  private var fileOff = 0L
  private var rawEof = false

  // ---- decompressed-side buffer (never crosses a member boundary)
  private val outBuf = new Array[Byte](1 << 16)
  private var outStart = 0
  private var outEnd = 0

  private val inf = new Inflater(true)
  private val crc = new CRC32
  private val hcrc = new CRC32 // header CRC (RFC 1952 FHCRC, lower 16 bits)
  private var fedLen = 0 // bytes currently handed to the inflater from inBuf(bufStart)
  private var inMember = false
  private var finished = false
  private var curMemberStart = 0L
  private var _lastMemberEnd = 0L

  /** True when every byte returned so far belongs to fully-consumed members —
    * i.e. the next byte (if any) starts a new member. Valid only between
    * reads that drained the output buffer. */
  def atMemberBoundary: Boolean = !inMember && outStart == outEnd

  /** Compressed offset just past the last fully-consumed member. */
  def lastMemberEndOffset: Long = _lastMemberEnd

  private def availIn: Int = bufEnd - bufStart

  /** Ensure >= min compressed bytes buffered; false on EOF with 0 available.
    * MUST NOT be called while the inflater holds unconsumed input (fedLen>0):
    * compaction would invalidate the inflater's window. */
  private def fillIn(min: Int): Boolean = {
    if (availIn >= min) return true
    if (bufStart > 0) {
      System.arraycopy(inBuf, bufStart, inBuf, 0, availIn)
      bufEnd -= bufStart
      bufStart = 0
    }
    while (bufEnd < min && !rawEof) {
      val r = raw.read(inBuf, bufEnd, inBuf.length - bufEnd)
      if (r < 0) rawEof = true else bufEnd += r
    }
    if (availIn == 0) false
    else if (availIn < min) throw new EOFException(
      s"gzip stream truncated at compressed offset ${fileOff + availIn}")
    else true
  }

  private def consume(n: Int): Unit = { bufStart += n; fileOff += n }

  /** Consume header bytes, feeding the running header CRC (RFC 1952 §2.3.1:
    * CRC16 = lower 16 bits of the CRC32 of all header bytes up to, but not
    * including, the CRC16 field itself). */
  private def consumeHeader(n: Int): Unit = {
    hcrc.update(inBuf, bufStart, n)
    consume(n)
  }

  private def u8(i: Int): Int = inBuf(bufStart + i) & 0xff

  private def skipZeroTerminated(): Unit = {
    var done = false
    while (!done) {
      if (!fillIn(1)) throw new EOFException("gzip header truncated in zero-terminated field")
      val b = u8(0); consumeHeader(1)
      done = b == 0
    }
  }

  /** Parse one member header; false on clean EOF at a boundary. */
  private def startMember(): Boolean = {
    if (!fillIn(1)) { finished = true; return false }
    curMemberStart = fileOff
    fillIn(10)
    if (u8(0) != 0x1f || u8(1) != 0x8b)
      throw new ZipException(f"bad gzip member magic ${u8(0)}%02x${u8(1)}%02x at offset $fileOff")
    if (u8(2) != 8) throw new ZipException(s"unsupported gzip CM ${u8(2)} at offset $fileOff")
    val flg = u8(3)
    hcrc.reset()
    consumeHeader(10)
    if ((flg & 4) != 0) { // FEXTRA
      if (!fillIn(2)) throw new EOFException("gzip header truncated in FEXTRA length")
      var left = u8(0) | (u8(1) << 8)
      consumeHeader(2)
      while (left > 0) {
        if (!fillIn(1)) throw new EOFException("gzip FEXTRA truncated")
        val take = math.min(left, availIn); consumeHeader(take); left -= take
      }
    }
    if ((flg & 8) != 0) skipZeroTerminated() // FNAME
    if ((flg & 16) != 0) skipZeroTerminated() // FCOMMENT
    if ((flg & 2) != 0) { // FHCRC: CRC16 over the header bytes consumed above
      if (!fillIn(2)) throw new EOFException("gzip header truncated in FHCRC field")
      val stored = u8(0) | (u8(1) << 8)
      val computed = (hcrc.getValue & 0xffffL).toInt
      if (stored != computed)
        throw new ZipException(
          f"gzip FHCRC mismatch in member at offset $curMemberStart: " +
            f"stored=$stored%04x computed=$computed%04x")
      consume(2)
    }
    inf.reset(); crc.reset(); fedLen = 0; inMember = true
    true
  }

  private def leInt(i: Int): Long =
    (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3).toLong << 24)) & 0xffffffffL

  private def finishMember(): Unit = {
    // release any input the inflater didn't use (trailer bytes stay buffered)
    fedLen = inf.getRemaining
    if (!fillIn(8)) throw new EOFException(
      s"gzip member trailer truncated at compressed offset $fileOff")
    val expCrc = leInt(0)
    val expIsize = leInt(4)
    if ((crc.getValue & 0xffffffffL) != expCrc)
      throw new ZipException(f"gzip CRC mismatch in member at offset $curMemberStart")
    if ((inf.getBytesWritten & 0xffffffffL) != expIsize)
      throw new ZipException(f"gzip ISIZE mismatch in member at offset $curMemberStart")
    consume(8)
    inMember = false
    _lastMemberEnd = fileOff
  }

  /** Inflate into outBuf; stops at member end (trailer consumed eagerly). */
  private def refill(): Boolean = {
    outStart = 0; outEnd = 0
    while (outEnd == 0) {
      if (finished) return false
      if (!inMember && !startMember()) return false
      if (inf.needsInput) {
        if (!fillIn(1)) throw new EOFException(
          s"unexpected EOF inside gzip member starting at $curMemberStart")
        inf.setInput(inBuf, bufStart, availIn)
        fedLen = availIn
      }
      val n =
        try inf.inflate(outBuf, outEnd, outBuf.length - outEnd)
        catch {
          case e: DataFormatException =>
            throw new ZipException(
              s"corrupt deflate data in member at offset $curMemberStart: ${e.getMessage}")
        }
      // sync our buffer with what the inflater consumed
      val used = fedLen - inf.getRemaining
      if (used > 0) { consume(used); fedLen = inf.getRemaining }
      if (n > 0) { crc.update(outBuf, outEnd, n); outEnd += n }
      if (inf.finished()) finishMember()
    }
    true
  }

  override def read(): Int = {
    if (outStart == outEnd && !refill()) -1
    else { val b = outBuf(outStart) & 0xff; outStart += 1; b }
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    if (outStart == outEnd && !refill()) return -1
    val n = math.min(len, outEnd - outStart)
    System.arraycopy(outBuf, outStart, b, off, n)
    outStart += n
    n
  }

  override def available(): Int = outEnd - outStart

  override def close(): Unit = {
    inf.end()
    raw.close()
  }
}
