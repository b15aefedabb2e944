package graft.jobs

import java.io.{BufferedInputStream, InputStream, RandomAccessFile}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{GzipMemberInputStream, MemberBoundaries, WarcIO, ZstdFrames}

/**
 * The `warc mend` job (A4 in SURVEY §2; reference: mend.go:298-375): read a
 * (possibly crash-truncated) `.warc[.gz|.zst][.open]` file record by record
 * through the scan's own record grammar ([[WarcIO.readRecord]]), truncate at
 * the end of the last fully-valid record that is also a member end, and strip
 * the `.open` suffix — "truncate to last valid", the file-level analog of the
 * snapshot layer's ignore-partial-manifest rule.
 *
 * A member is a record in a plain file (exact byte offsets), a gzip member
 * in a `.warc.gz` (the member-tracking decompressor re-derives coordinates,
 * read.go:50-83,319-341) and a frame in a `.warc.zst` ([[ZstdFrames]],
 * dictionary-aware). Any sidecar `.idx` is refreshed to the surviving
 * members.
 *
 * Distribution: one file = one task (`mendAll` maps the file list across the
 * cluster); mending is inherently per-file sequential, like the reference.
 */
object Mend {

  case class MendResult(file: String, validRecords: Long, keptBytes: Long,
                        truncatedBytes: Long, renamed: Boolean, error: String)

  /** A plain file: every record is its own member, so every record end is a cut point. */
  private final class PlainRecords(in: InputStream) extends InputStream with MemberBoundaries {
    private var pos = 0L
    def atMemberBoundary: Boolean = true
    def lastMemberEndOffset: Long = pos
    override def read(): Int = { val b = in.read(); if (b >= 0) pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len); if (n > 0) pos += n; n
    }
    override def close(): Unit = in.close()
  }

  /** Mend one WARC file in place. The cut is the last member end that is
    * also a record end (the reference's lastValidEndPos); records parsed past
    * it are cut with it and not counted. */
  def mendFile(pathStr: String): MendResult = {
    val path = Paths.get(pathStr)
    val size = Files.size(path)
    var records = 0L // records wholly before lastValidEnd (survive the cut)
    var provisional = 0L // parsed past the last member boundary — cut with it
    var lastValidEnd = 0L
    var err: String = null
    val raw = new BufferedInputStream(Files.newInputStream(path), 1 << 16)
    var in: InputStream with MemberBoundaries = null
    try {
      in =
        if (pathStr.endsWith(".gz") || pathStr.endsWith(".gz.open")) new GzipMemberInputStream(raw)
        else if (pathStr.endsWith(".zst") || pathStr.endsWith(".zst.open"))
          new ZstdFrames.FrameInputStream(raw)
        else new PlainRecords(raw)
      lastValidEnd = in.lastMemberEndOffset // past a zstd dictionary frame
      while (WarcIO.readRecord(in, keepContent = false) != null) {
        provisional += 1
        if (in.atMemberBoundary) {
          lastValidEnd = in.lastMemberEndOffset
          records += provisional
          provisional = 0L
        }
      }
    } catch {
      case e: Exception => err = Option(e.getMessage).getOrElse(e.getClass.getName)
    } finally (if (in != null) in else raw).close()
    val truncated = size - lastValidEnd
    // Truncate only when at least one valid member exists (the reference's
    // needsTruncate = lastValidEndPos > 0 guard): a wholly-corrupt file —
    // e.g. a crash before the FIRST record completed — is left untouched
    // for manual recovery, .open suffix included; truncating it to zero
    // bytes and renaming would destroy exactly the evidence mend exists to
    // preserve.
    if (err != null && lastValidEnd > 0 && truncated > 0) {
      val raf = new RandomAccessFile(path.toFile, "rw")
      try raf.setLength(lastValidEnd) finally raf.close()
    }
    val published = Paths.get(pathStr.stripSuffix(".open"))
    val renamed = pathStr.endsWith(".open") && (err == null || lastValidEnd > 0)
    if (renamed) Files.move(path, published)
    val finalData = if (renamed) published else path
    // keep any sidecar member index consistent with the (possibly truncated,
    // possibly renamed) data file — a stale index would mis-split later scans
    for (idx <- Seq(Paths.get(pathStr + ".idx"), Paths.get(published.toString + ".idx"))
           .distinct.filter(Files.exists(_))) {
      if (err != null && lastValidEnd == 0) Files.delete(idx)
      else {
        val idxIn = Files.newInputStream(idx)
        val entries = try WarcIO.readMemberIndex(idxIn) finally idxIn.close()
        val kept = entries.filter { case (o, s) => o + s <= lastValidEnd }
        Files.delete(idx)
        val out = Files.newOutputStream(Paths.get(finalData.toString + ".idx"))
        try WarcIO.writeMemberIndex(out, kept) finally out.close()
      }
    }
    MendResult(pathStr, records, lastValidEnd,
      if (err != null) truncated else 0L, renamed, err)
  }

  /** Mend every *.warc[.gz|.zst][.open] under `dir`, one file per task. */
  def mendAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val listing = Files.list(Paths.get(dir))
    val files =
      try listing.iterator().asScala.map(_.toString)
        .filter(f => f.endsWith(".warc") || f.endsWith(".warc.open") ||
          f.endsWith(".warc.gz") || f.endsWith(".warc.gz.open") ||
          f.endsWith(".warc.zst") || f.endsWith(".warc.zst.open")).toSeq.sorted
      finally listing.close()
    spark.sparkContext.parallelize(files, math.max(1, files.size))
      .map(mendFile).toDF()
  }
}
