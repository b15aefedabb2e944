package graft.sources

import java.io.{EOFException, InputStream}
import java.util.zip.ZipException

import com.github.luben.zstd.Zstd

/**
 * Streaming zstd FRAME walker: exact (offset, size) coordinates of every
 * frame in a `.warc.zst` stream, without decompressing — the zstd analog of
 * [[GzipMemberInputStream]]'s member bookkeeping, built on
 * `ZSTD_findFrameCompressedSize` (which parses block headers to the frame
 * end). Used by mend (find the last-valid cut of a crashed file) and by the
 * foreign-archive index builder (make an index-less `.warc.zst` splittable).
 *
 * Buffers at most ONE frame at a time (`maxFrameBytes` cap, default 256 MiB
 * — gowarc-framed files carry one record per frame, so frames are
 * record-sized; a foreign single-frame archive over the cap fails loudly
 * rather than exhausting task memory).
 */
object ZstdFrames {

  /** One frame: exact compressed coordinates + the raw frame bytes. */
  final case class Frame(offset: Long, size: Long, skippable: Boolean,
                         bytes: Array[Byte])

  def isDataMagic(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 &&
      (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd

  def isSkippableMagic(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xf0) == 0x50 && (b(1) & 0xff) == 0x2a &&
      (b(2) & 0xff) == 0x4d && (b(3) & 0xff) == 0x18

  def frames(in: InputStream, maxFrameBytes: Int = 1 << 28): Iterator[Frame] =
    new Iterator[Frame] {
      private var buf = new Array[Byte](1 << 16)
      private var len = 0 // valid bytes in buf(0..len)
      private var off = 0L // absolute offset of buf(0)
      private var eof = false
      private var nextF: Frame = _

      /** Grow the buffered window to >= min bytes; false when EOF caps it. */
      private def fill(min: Int): Boolean = {
        if (min > maxFrameBytes) throw new ZipException(
          s"zstd frame at offset $off exceeds the $maxFrameBytes-byte walker cap")
        if (buf.length < min) buf = java.util.Arrays.copyOf(buf, math.max(min, buf.length * 2))
        while (len < min && !eof) {
          val r = in.read(buf, len, buf.length - len)
          if (r < 0) eof = true else len += r
        }
        len >= min
      }

      private def le32(at: Int): Long =
        ((buf(at) & 0xffL)) | ((buf(at + 1) & 0xffL) << 8) |
          ((buf(at + 2) & 0xffL) << 16) | ((buf(at + 3) & 0xffL) << 24)

      private def emit(size: Long): Frame = {
        if (!fill(size.toInt)) throw new EOFException(
          s"zstd frame at offset $off truncated: need $size bytes, stream ended at ${off + len}")
        val f = Frame(off, size, isSkippableMagic(buf),
          java.util.Arrays.copyOfRange(buf, 0, size.toInt))
        System.arraycopy(buf, size.toInt, buf, 0, len - size.toInt)
        len -= size.toInt
        off += size
        f
      }

      // LAZY fetch: parsing frame k+1 must not happen before the caller has
      // consumed frame k — a truncated tail frame throws from hasNext AFTER
      // the last valid frame was delivered (mend depends on this ordering)
      private var fetched = false

      private def advance(): Unit = {
        nextF = null
        if (!fill(1)) return // clean EOF at a frame boundary
        if (!fill(4)) throw new EOFException(s"zstd magic truncated at offset $off")
        val head = java.util.Arrays.copyOfRange(buf, 0, 4)
        if (isSkippableMagic(head)) {
          if (!fill(8)) throw new EOFException(s"skippable frame header truncated at offset $off")
          val size = 8L + le32(4)
          // bound-check BEFORE the Int truncation in emit(): a corrupt
          // 32-bit size field must fail as a clean cap error, not wrap
          // negative (copyOfRange crash) or wrap small (silently wrong
          // coordinates for every later frame)
          if (size > maxFrameBytes) throw new ZipException(
            s"zstd skippable frame at offset $off declares $size bytes, " +
              s"over the $maxFrameBytes-byte walker cap")
          nextF = emit(size)
        } else if (isDataMagic(head)) {
          // findFrameCompressedSize needs the WHOLE frame buffered (the
          // wrapper THROWS ZstdException on an incomplete window) — widen
          // the window and retry until EOF decides truncated-vs-complete
          var size = -1L
          while (size < 0) {
            val r =
              try Zstd.findFrameCompressedSize(buf.take(len))
              catch {
                case e: com.github.luben.zstd.ZstdException =>
                  if (eof) throw new EOFException(
                    s"zstd frame at offset $off truncated or corrupt: ${e.getMessage}")
                  -1L // incomplete window: need more bytes
              }
            if (r > 0) size = r
            else {
              val target = math.min(math.max(len * 2L, len + (1L << 16)), maxFrameBytes.toLong).toInt
              if (target <= len) throw new ZipException(
                s"zstd frame at offset $off exceeds the $maxFrameBytes-byte walker cap")
              fill(target)
            }
          }
          nextF = emit(size)
        } else throw new ZipException(
          f"not a zstd frame at offset $off: magic ${head(0)}%02x${head(1)}%02x${head(2)}%02x${head(3)}%02x")
      }

      override def hasNext: Boolean = {
        if (!fetched) { advance(); fetched = true }
        nextF != null
      }
      override def next(): Frame = {
        if (!fetched) advance()
        fetched = false
        val f = nextF
        nextF = null
        f
      }
    }

  /** The decompressed records of a `.warc.zst`, one frame at a time, for
    * mend: a leading skippable frame is the dictionary (read at
    * construction, so [[lastMemberEndOffset]] starts past it), later
    * skippable frames carry no bytes, and the next frame is walked only when
    * the current one is drained — a truncated tail frame fails after every
    * byte before it was returned. */
  final class FrameInputStream(raw: InputStream) extends InputStream with MemberBoundaries {
    private val it = frames(raw).buffered
    private var buf = Array.emptyByteArray
    private var pos = 0
    private var prevEnd = 0L // end of the frame before the current one
    private var curEnd = 0L // end of the current frame
    private val dict: Array[Byte] =
      if (!it.hasNext || !it.head.skippable) null
      else {
        val f = it.next()
        curEnd = f.offset + f.size
        WarcIO.readZstdDictionaryFrame(new java.io.ByteArrayInputStream(f.bytes))
      }

    def atMemberBoundary: Boolean = pos == buf.length
    def lastMemberEndOffset: Long = if (atMemberBoundary) curEnd else prevEnd

    /** Step to the next frame with bytes; false at the end of the file. */
    private def nextFrame(): Boolean = {
      while (pos == buf.length) {
        if (!it.hasNext) return false
        val f = it.next()
        prevEnd = curEnd
        curEnd = f.offset + f.size
        pos = 0
        buf =
          if (f.skippable) Array.emptyByteArray
          else {
            // stream-decompress: frames need not pledge their content size
            val z = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
              new java.io.ByteArrayInputStream(f.bytes))
            if (dict != null && dict.nonEmpty) z.setDict(dict)
            try z.readAllBytes() finally z.close()
          }
      }
      true
    }

    override def read(): Int =
      if (!nextFrame()) -1 else { val b = buf(pos) & 0xff; pos += 1; b }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (!nextFrame()) return -1
      val n = math.min(len, buf.length - pos)
      System.arraycopy(buf, pos, b, off, n)
      pos += n
      n
    }

    override def close(): Unit = raw.close()
  }
}
