package graft.jobs

import java.io.BufferedInputStream

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{GzipMemberInputStream, SerializableHadoopConf, WarcDataWriter}

/**
 * Distributed member-index builder for FOREIGN `.warc.gz` archives — ones
 * not written by our sink and therefore lacking the sidecar `.idx` that
 * makes a compressed archive splittable at member granularity
 * (WarcDataSource packs indexed members into seekable range partitions).
 *
 * This is the Spark analog of the reference's offset bookkeeping purpose
 * (/root/reference/read.go:319-341): one pass with the member-tracking
 * decompressor recovers every compressed member's exact (offset, size), and
 * the sidecar persists them so every LATER scan plans member-aligned splits
 * instead of one-partition-per-file.
 *
 * Scale notes:
 *  - one file = one task (indexing is inherently per-file sequential);
 *    a 100 TB archive of ~1 GB rotated files fans out to ~100k tasks.
 *  - index entries stream to the sidecar AS boundaries are consumed — a
 *    million-member file never accumulates its index in task memory. A
 *    member that inflates to zero bytes coalesces into its successor's
 *    entry; a coalesced entry still starts at a true member offset and ends
 *    at a true member end, so it remains a valid seekable split point.
 *  - the sidecar publishes atomically: written to `.idx.build.<taskAttempt>`
 *    and renamed only after the WHOLE file decompressed + CRC-verified
 *    cleanly, so a crashed or corrupt-input task never leaves a partial
 *    index that would mis-split later scans.
 */
object IndexWarc {

  case class IndexResult(file: String, members: Long, compressedBytes: Long,
                         built: Boolean, error: String)

  /** Index one `.warc.gz` (full decompression pass, CRC32+ISIZE verified per
    * member) or `.warc.zst` (frame walk — block structure parsed, bytes not
    * decompressed; a leading skippable dictionary frame is excluded from the
    * entries so every split starts at a record frame), streaming member
    * entries to an atomic sidecar. */
  def indexFile(pathStr: String, conf: SerializableHadoopConf,
                overwrite: Boolean = false): IndexResult = {
    val path = new HPath(pathStr)
    val fs = WarcDataWriter.rawFileSystem(path, conf.value)
    val idxPath = new HPath(pathStr + ".idx")
    if (!overwrite && fs.exists(idxPath))
      return IndexResult(pathStr, 0L, 0L, built = false, error = null)

    val tmpPath = new HPath(pathStr + s".idx.build.${java.util.UUID.randomUUID()}")
    val raw = new BufferedInputStream(fs.open(path), 1 << 16)
    val gz =
      if (pathStr.endsWith(".warc.zst")) null
      else new GzipMemberInputStream(raw)
    val out = fs.create(tmpPath, true)
    var members = 0L
    var prevEnd = 0L
    val sb = new java.lang.StringBuilder(64)
    def entry(off: Long, size: Long): Unit = {
      sb.setLength(0)
      sb.append(off).append(' ').append(size).append('\n')
      out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      members += 1
      prevEnd = off + size
    }
    try {
      if (gz == null) {
        graft.sources.ZstdFrames.frames(raw).foreach { f =>
          if (!f.skippable) entry(f.offset, f.size)
          else prevEnd = f.offset + f.size
        }
      } else {
        val buf = new Array[Byte](1 << 16)
        var n = gz.read(buf, 0, buf.length)
        while (n >= 0) {
          // the decompressor never buffers output across a member boundary, so
          // a drained output buffer + an advanced end offset == >=1 member done
          if (gz.atMemberBoundary && gz.lastMemberEndOffset > prevEnd)
            entry(prevEnd, gz.lastMemberEndOffset - prevEnd)
          n = gz.read(buf, 0, buf.length)
        }
        // a LAST member that inflates to zero bytes has no data-returning
        // read after it, so the in-loop boundary check never observes it —
        // emit the tail entry here so the index always reaches the file's
        // last valid member end
        if (gz.lastMemberEndOffset > prevEnd)
          entry(prevEnd, gz.lastMemberEndOffset - prevEnd)
      }
      out.close()
      // publish only after a clean, fully-verified pass
      if (fs.exists(idxPath)) fs.delete(idxPath, false)
      if (!fs.rename(tmpPath, idxPath))
        throw new java.io.IOException(s"rename failed: $tmpPath -> $idxPath")
      IndexResult(pathStr, members, prevEnd, built = true, error = null)
    } catch {
      case e: Exception =>
        IndexResult(pathStr, members, prevEnd, built = false,
          error = Option(e.getMessage).getOrElse(e.getClass.getName))
    } finally {
      if (gz != null) gz.close() else raw.close()
      try out.close() catch { case _: Exception => }
      try if (fs.exists(tmpPath)) fs.delete(tmpPath, false)
      catch { case _: Exception => }
    }
  }

  /** Build sidecar indexes for every index-less `.warc.gz` / `.warc.zst`
    * under `dir` (recursive, Hadoop FS — works on object storage), one file
    * per task. */
  def indexAll(spark: SparkSession, dir: String,
               overwrite: Boolean = false): DataFrame = {
    import spark.implicits._
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val root = new HPath(dir)
    val fs = root.getFileSystem(conf.value)
    // shared writer-tolerant listing (WarcScan.listWarcFiles: listStatus
    // walk, no eager LocatedFileStatus), narrowed to the framed codecs
    val files = graft.sources.WarcScan.listWarcFiles(fs, root) // already sorted
      .map(_.getPath.toString)
      .filter(f => f.endsWith(".warc.gz") || f.endsWith(".warc.zst"))
    val pending =
      if (overwrite) files
      else files.filterNot(f => fs.exists(new HPath(f + ".idx")))
    if (pending.isEmpty) spark.emptyDataset[IndexResult].toDF()
    else spark.sparkContext.parallelize(pending, pending.size)
      .map(f => indexFile(f, conf, overwrite)).toDF()
  }
}
