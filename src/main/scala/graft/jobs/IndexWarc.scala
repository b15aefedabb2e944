package graft.jobs

import java.io.InputStream

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{MemberBoundaries, SerializableHadoopConf, WarcDataWriter, WarcFileName, WarcIO, WarcScan}

/**
 * Distributed member-index builder for FOREIGN `.warc.gz` / `.warc.zst`
 * archives — ones not written by our sink and therefore lacking the sidecar
 * `.idx` that makes a compressed archive splittable at member granularity
 * (WarcDataSource packs indexed members into seekable range partitions).
 *
 * This is the Spark analog of the reference's offset bookkeeping purpose
 * (read.go:319-341): one pass of the member walk
 * ([[WarcIO.MemberWalk]]) decodes every member and parses every record, and
 * writes one entry per cut point — a member end that is also a record end —
 * so a split never starts inside a record, and the sidecar persists them so
 * every LATER scan plans member-aligned splits instead of
 * one-partition-per-file. With one record per member (gowarc framing) the
 * entries are exactly the members; a dictionary frame leading a `.warc.zst`
 * is excluded, so every split starts at a record frame.
 *
 * Scale notes:
 *  - one file = one task (indexing is inherently per-file sequential);
 *    a 100 TB archive of ~1 GB rotated files fans out to ~100k tasks.
 *  - index entries stream to the sidecar AS cut points are reached — a
 *    million-member file never accumulates its index in task memory. Members
 *    that hold no record end (a record spanning members, an empty member)
 *    coalesce into the entry of the next cut point, which still starts and
 *    ends at true member boundaries.
 *  - the sidecar publishes atomically: written to `.idx.build.<uuid>` and
 *    renamed only after the WHOLE file decoded (gzip CRC32+ISIZE verified)
 *    and parsed cleanly, so a crashed or corrupt-input task never leaves a
 *    partial index that would mis-split later scans.
 */
object IndexWarc {

  case class IndexResult(file: String, members: Long, compressedBytes: Long,
                         built: Boolean, error: String)

  /** Index one `.warc.gz` or `.warc.zst`, streaming one entry per cut point
    * to an atomic sidecar. */
  def indexFile(pathStr: String, conf: SerializableHadoopConf,
                overwrite: Boolean = false): IndexResult = {
    val path = new HPath(pathStr)
    val fs = WarcDataWriter.rawFileSystem(path, conf.value)
    val idxPath = new HPath(WarcFileName.idxOf(pathStr))
    if (!overwrite && fs.exists(idxPath))
      return IndexResult(pathStr, 0L, 0L, built = false, error = null)

    val tmpPath =
      new HPath(WarcFileName.indexBuildOf(pathStr, java.util.UUID.randomUUID().toString))
    val raw = fs.open(path)
    var in: InputStream with MemberBoundaries = null
    val out = fs.create(tmpPath, true)
    var members = 0L
    var prevEnd = 0L
    val sb = new java.lang.StringBuilder(64)
    try {
      in = WarcIO.open(raw)
      val walk = new WarcIO.MemberWalk(in, keepContent = false)
      prevEnd = walk.lastCut
      while (walk.next() != null) {
        if (walk.lastCut > prevEnd) {
          sb.setLength(0)
          sb.append(prevEnd).append(' ').append(walk.lastCut - prevEnd).append('\n')
          out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          members += 1
          prevEnd = walk.lastCut
        }
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
      (if (in != null) in else raw).close()
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
    val files = WarcScan.listWarcFiles(fs, root, WarcFileName.isFramed) // already sorted
      .map(_.getPath.toString)
    val pending =
      if (overwrite) files
      else files.filterNot(f => fs.exists(new HPath(WarcFileName.idxOf(f))))
    if (pending.isEmpty) spark.emptyDataset[IndexResult].toDF()
    else spark.sparkContext.parallelize(pending, pending.size)
      .map(f => indexFile(f, conf, overwrite)).toDF()
  }
}
