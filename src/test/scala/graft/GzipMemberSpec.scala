package graft

import java.io.ByteArrayInputStream
import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, ZipException}

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GzipMemberInputStream

/** RFC 1952 framing edge cases for the member-tracking decompressor: header
  * option fields, per-member CRC/ISIZE verification, truncation detection —
  * the failure modes gzip mend relies on to find the exact last-valid cut. */
class GzipMemberSpec extends AnyFunSuite {

  private def deflateRaw(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 24) & 0xff).toByte)

  /** Hand-built member with ALL optional header fields set. The FHCRC field
    * carries the real RFC 1952 CRC16 (lower 16 bits of the CRC32 over every
    * header byte preceding it), optionally corrupted. */
  private def memberWithOptionalFields(payload: Array[Byte],
                                       corruptFhcrc: Boolean = false): Array[Byte] = {
    val hdr = new ByteArrayOutputStream()
    // magic, CM=deflate, FLG = FHCRC|FEXTRA|FNAME|FCOMMENT, mtime, XFL, OS
    hdr.write(Array(0x1f, 0x8b, 0x08, 0x1e, 0, 0, 0, 0, 0, 0xff).map(_.toByte))
    hdr.write(Array(3, 0).map(_.toByte)) // FEXTRA: xlen=3 LE
    hdr.write(Array(1, 2, 3).map(_.toByte)) // FEXTRA payload
    hdr.write("file.warc.gz".getBytes); hdr.write(0) // FNAME, zero-terminated
    hdr.write("a comment".getBytes); hdr.write(0) // FCOMMENT
    val hcrc = new CRC32; hcrc.update(hdr.toByteArray)
    val crc16 = (hcrc.getValue & 0xffffL).toInt ^ (if (corruptFhcrc) 0x0101 else 0)
    val out = new ByteArrayOutputStream()
    out.write(hdr.toByteArray)
    out.write(Array(crc16 & 0xff, (crc16 >> 8) & 0xff).map(_.toByte)) // FHCRC LE
    out.write(deflateRaw(payload))
    val crc = new CRC32; crc.update(payload)
    out.write(le32(crc.getValue)); out.write(le32(payload.length.toLong))
    out.toByteArray
  }

  private def stdMember(payload: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    graft.sources.WarcIO.writeGzipMember(bos)(_.write(payload))
    bos.toByteArray
  }

  /** Drain `in`, recording into `members` every member's (offset, size) as
    * the stream reports it: after each read, a drained boundary past the
    * last recorded end closes a member. `chunk` sizes each read. */
  private def readAll(in: GzipMemberInputStream,
                      members: mutable.Buffer[(Long, Long)] = mutable.Buffer(),
                      chunk: () => Int = () => 300): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = 0
    while (n >= 0) {
      n = in.read(buf, 0, chunk())
      if (n > 0) out.write(buf, 0, n)
      val end = members.lastOption.map { case (o, s) => o + s }.getOrElse(0L)
      if (in.atMemberBoundary && in.lastMemberEndOffset > end)
        members += ((end, in.lastMemberEndOffset - end))
    }
    out.toByteArray
  }

  test("optional header fields (FEXTRA/FNAME/FCOMMENT/FHCRC) are skipped exactly") {
    val p1 = "payload-one ".getBytes ++ Array.fill(5000)('x'.toByte)
    val p2 = "payload-two".getBytes
    val m1 = memberWithOptionalFields(p1)
    val m2 = stdMember(p2)
    val gz = new GzipMemberInputStream(new ByteArrayInputStream(m1 ++ m2))
    val ms = mutable.Buffer[(Long, Long)]()
    assert(readAll(gz, ms) === p1 ++ p2)
    assert(ms === Seq((0L, m1.length.toLong), (m1.length.toLong, m2.length.toLong)))
    assert(gz.atMemberBoundary && gz.lastMemberEndOffset === m1.length + m2.length)
  }

  test("a corrupted FHCRC fails loudly at the member's offset") {
    val m1 = stdMember("good first member".getBytes)
    val bad = memberWithOptionalFields("never reached".getBytes, corruptFhcrc = true)
    val gz = new GzipMemberInputStream(new ByteArrayInputStream(m1 ++ bad))
    val ms = mutable.Buffer[(Long, Long)]()
    val e = intercept[ZipException](readAll(gz, ms))
    assert(e.getMessage.contains("FHCRC") && e.getMessage.contains(s"offset ${m1.length}"),
      e.getMessage)
    // the preceding member was fully verified: mend's cut point is intact
    assert(gz.lastMemberEndOffset === m1.length)
    assert(ms === Seq((0L, m1.length.toLong)))
  }

  test("a flipped byte inside a member fails loudly with the member offset") {
    val m1 = stdMember(Array.fill(4000)('a'.toByte))
    val m2 = stdMember(Array.fill(4000)('b'.toByte))
    val bytes = m1 ++ m2
    bytes(m1.length + m2.length / 2) = (bytes(m1.length + m2.length / 2) ^ 0x55).toByte
    val gz = new GzipMemberInputStream(new ByteArrayInputStream(bytes))
    val ms = mutable.Buffer[(Long, Long)]()
    val e = intercept[ZipException](readAll(gz, ms))
    assert(e.getMessage.contains(s"offset ${m1.length}"), e.getMessage)
    // member 1 was fully verified before the failure: the mend cut point
    assert(gz.lastMemberEndOffset === m1.length)
    assert(ms === Seq((0L, m1.length.toLong)))
  }

  test("a corrupted trailer CRC is detected even when the deflate data inflates") {
    val m = stdMember("clean payload".getBytes)
    m(m.length - 6) = (m(m.length - 6) ^ 0x01).toByte // flip a CRC32 byte
    val gz = new GzipMemberInputStream(new ByteArrayInputStream(m))
    val e = intercept[ZipException](readAll(gz))
    assert(e.getMessage.contains("CRC"), e.getMessage)
  }

  test("property: random member sizes round-trip with exact contiguous coordinates") {
    val rnd = new scala.util.Random(42) // seeded: reproducible failures
    val payloads = (0 until 25).map { i =>
      val n = rnd.nextInt(200 * 1024) // 0..200 KiB, crossing the 64 KiB buffers
      val b = new Array[Byte](n)
      if (i % 2 == 0) rnd.nextBytes(b) // incompressible
      else java.util.Arrays.fill(b, ('a' + i % 26).toByte) // highly compressible
      b
    }
    val bos = new ByteArrayOutputStream()
    payloads.foreach(p => graft.sources.WarcIO.writeGzipMember(bos)(_.write(p)))
    val bytes = bos.toByteArray
    val gz = new GzipMemberInputStream(new ByteArrayInputStream(bytes))
    // read with randomized chunk sizes to exercise refill boundaries
    val ms = mutable.Buffer[(Long, Long)]()
    val got = readAll(gz, ms, () => 1 + rnd.nextInt(64 * 1024))
    assert(got === payloads.reduce(_ ++ _))
    assert(ms.length === payloads.length)
    assert(ms.head._1 === 0L)
    ms.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a._1 + a._2 === b._1)
      case _ =>
    }
    assert(ms.last._1 + ms.last._2 === bytes.length)
  }

  test("truncation mid-member raises EOF; clean EOF at a boundary returns -1") {
    val m1 = stdMember("first".getBytes)
    val m2 = stdMember("second".getBytes)
    val chopped = (m1 ++ m2).take(m1.length + m2.length - 3) // lose trailer bytes
    val gz = new GzipMemberInputStream(new ByteArrayInputStream(chopped))
    intercept[java.io.EOFException](readAll(gz))
    assert(gz.lastMemberEndOffset === m1.length)

    val empty = new GzipMemberInputStream(new ByteArrayInputStream(Array.emptyByteArray))
    assert(empty.read() === -1)
    val clean = new GzipMemberInputStream(new ByteArrayInputStream(m1))
    assert(readAll(clean) === "first".getBytes)
    assert(clean.read() === -1 && clean.atMemberBoundary)
  }
}
