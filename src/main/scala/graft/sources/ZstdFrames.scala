package graft.sources

import java.io.{ByteArrayInputStream, EOFException, InputStream}
import java.nio.ByteBuffer
import java.util.zip.ZipException

import com.github.luben.zstd.{ZstdDecompressCtx, ZstdException}

/**
 * The zstd side of the member walk: a `.warc.zst` decoded as one stream that
 * reports every frame end with its exact compressed offset — the zstd analog
 * of [[GzipMemberInputStream]]'s member bookkeeping. It is the only zstd read
 * decoder in the engine: the scan, mend and the foreign-archive index builder
 * all read `.warc.zst` through it (opened by [[WarcIO.open]]).
 *
 * ONE decompression context per stream, the dictionary loaded once, streams
 * every frame through a 64 KiB input and a 128 KiB output buffer; zstd's
 * streaming decoder stops at each frame end, which is where the frame
 * coordinates come from. Memory stays bounded whatever the frame size, so a
 * foreign archive written as one frame (the `zstd` CLI, any streaming
 * writer) reads like a gowarc-framed one with a record per frame.
 */
object ZstdFrames {

  private def le32(b: Array[Byte]): Long =
    (b(0) & 0xffL) | ((b(1) & 0xffL) << 8) | ((b(2) & 0xffL) << 16) | ((b(3) & 0xffL) << 24)

  /** Any skippable frame 0x184D2A5x at the file head carries the dictionary (read.go:428-429). */
  private def skippable(b: Array[Byte]): Boolean =
    (b(0) & 0xf0) == 0x50 && b(1) == 0x2a && b(2) == 0x4d && b(3) == 0x18

  /** The leading skippable frame of `in` decoded as the raw-content
    * dictionary (utils.go:42-73), with the frame's size; null, after reading
    * 4 bytes, when `in` leads with anything else. */
  private def dictionaryFrame(in: InputStream): (Array[Byte], Long) = {
    val magic = in.readNBytes(4)
    if (magic.length < 4 || !skippable(magic)) return null
    val sizeField = in.readNBytes(4)
    if (sizeField.length < 4) throw new EOFException("zstd dictionary frame header truncated")
    val size = le32(sizeField)
    if (size > Int.MaxValue - 8) throw new ZipException(s"zstd dictionary frame declares $size bytes")
    // readNBytes grows its buffer as bytes arrive: a corrupt size allocates no more than the file holds
    val payload = in.readNBytes(size.toInt)
    if (payload.length < size) throw new EOFException(
      s"zstd dictionary frame truncated: declares $size bytes, ${payload.length} present")
    val d = new FrameInputStream(new ByteArrayInputStream(payload), null, 0L)
    (try d.readAllBytes() finally d.close(), 8L + size)
  }

  /** The dictionary a ranged read of a `.warc.zst` needs, decoded from the
    * leading dictionary frame of the file `head` reads from offset 0; null
    * when the file has none. Reads no further than that frame — 4 bytes when
    * there is none — and leaves `head` open. */
  def headDictionary(head: InputStream): Array[Byte] = dictionaryFrame(head) match {
    case null => null
    case (d, _) => d
  }

  object FrameInputStream {
    /** The decompressed records of a `.warc.zst` (`raw` must support mark).
      * A leading skippable frame is the dictionary, read here so
      * [[FrameInputStream.lastMemberEndOffset]] starts past it; a ranged read
      * that starts past it passes the file's dictionary as `rangeDict`
      * ([[headDictionary]]). */
    def apply(raw: InputStream, rangeDict: Array[Byte]): FrameInputStream =
      if (rangeDict != null) new FrameInputStream(raw, rangeDict, 0L)
      else {
        raw.mark(4)
        dictionaryFrame(raw) match {
          case null => raw.reset(); new FrameInputStream(raw, null, 0L)
          case (d, size) => new FrameInputStream(raw, d, size)
        }
      }
  }

  /** Frames of `raw` decoded in order, starting at compressed offset
    * `start`. Skippable frames past the head carry no bytes. A frame the file
    * ends inside fails after every byte decoded before the cut was returned. */
  final class FrameInputStream private[ZstdFrames] (raw: InputStream, dict: Array[Byte], start: Long)
      extends InputStream with MemberBoundaries {
    private val ctx = new ZstdDecompressCtx()
    try if (dict != null && dict.nonEmpty) ctx.loadDict(dict)
    catch { case e: Throwable => ctx.close(); throw e }
    private val chunk = new Array[Byte](1 << 16)
    private val src = ByteBuffer.allocateDirect(chunk.length).limit(0) // compressed, not yet decoded
    private val dst = ByteBuffer.allocateDirect(1 << 17)
    private var srcOff = start // compressed offset of src(0)
    private val out = new Array[Byte](dst.capacity) // decoded, out(outPos until outLen) not yet returned
    private var outPos = 0
    private var outLen = 0
    private var inFrame = false // the decoder is inside a frame it has not finished
    private var prevEnd = start // end of the frame before the last finished one
    private var curEnd = start // end of the last finished frame

    /** A frame's tail may decode to no bytes: finish it before answering. */
    def atMemberBoundary: Boolean = {
      while (outPos == outLen && inFrame) decode()
      outPos == outLen && !inFrame
    }
    def lastMemberEndOffset: Long = if (!inFrame && outPos < outLen) prevEnd else curEnd

    /** More compressed bytes into the drained `src`; false at the end of the file. */
    private def refill(): Boolean = {
      srcOff += src.limit()
      var n = 0
      while (n == 0) n = raw.read(chunk)
      src.clear()
      if (n > 0) src.put(chunk, 0, n)
      src.flip()
      n > 0
    }

    /** Decode until the decoder yields bytes or ends a frame; false at a
      * clean end of file between frames. Called with `out` drained. */
    private def decode(): Boolean = {
      if (!inFrame && !src.hasRemaining && !refill()) return false
      inFrame = true
      dst.clear()
      var done = false
      while (!done && dst.position() == 0) {
        done =
          try ctx.decompressDirectByteBufferStream(dst, src)
          catch { case e: ZstdException =>
            throw new ZipException(s"corrupt zstd frame at offset $curEnd: ${e.getMessage}")
          }
        if (!done && dst.position() == 0 && !src.hasRemaining && !refill())
          throw new EOFException(s"zstd frame at offset $curEnd truncated at ${srcOff + src.limit()}")
      }
      if (done) {
        inFrame = false
        prevEnd = curEnd
        curEnd = srcOff + src.position()
      }
      dst.flip()
      outPos = 0
      outLen = dst.remaining()
      dst.get(out, 0, outLen)
      true
    }

    /** Decoded bytes ready in `out`; false at a clean end of file. */
    private def ready(): Boolean = {
      while (outPos == outLen) if (!decode()) return false
      true
    }

    override def read(): Int =
      if (!ready()) -1 else { val b = out(outPos) & 0xff; outPos += 1; b }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (!ready()) return -1
      val n = math.min(len, outLen - outPos)
      System.arraycopy(out, outPos, b, off, n)
      outPos += n
      n
    }

    override def close(): Unit = {
      ctx.close()
      raw.close()
    }
  }
}
