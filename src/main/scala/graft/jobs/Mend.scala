package graft.jobs

import java.io.{InputStream, RandomAccessFile}
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{MemberBoundaries, WarcFileName, WarcIO, WarcScan}

/**
 * The `warc mend` job (A4 in SURVEY §2; reference: mend.go:298-375): read a
 * (possibly crash-truncated) plain, gzip or zstd WARC file — published, or
 * staged as `<final>.open` or as a writer attempt's
 * `<final>.open.<writeId>-<taskId>` ([[WarcFileName]]) — record by record
 * through the one member walk ([[WarcIO.MemberWalk]]), truncate at the last
 * cut point (a member end that is also a record end) and publish a staged
 * file as `<final>` — "truncate to last valid", the file-level analog of the
 * snapshot layer's ignore-partial-manifest rule.
 *
 * A member is a record in a plain file, a gzip member in a `.warc.gz` and a
 * frame in a `.warc.zst` (dictionary-aware); the codec is sniffed by
 * [[WarcIO.open]]. Any sidecar `.idx` — for a writer attempt, its staged
 * `<final>.idx.open.<writeId>-<taskId>` — is filtered to the surviving
 * members and installed next to the mended file. A staged file whose
 * `<final>` already exists lost to a committed attempt: mend reports an
 * error and touches neither file.
 *
 * Distribution: one file = one task (`mendAll` maps the file list across the
 * cluster); mending is inherently per-file sequential, like the reference.
 */
object Mend {

  case class MendResult(file: String, validRecords: Long, keptBytes: Long,
                        truncatedBytes: Long, renamed: Boolean, error: String)

  /** Mend one WARC file in place. The cut is the last member end that is
    * also a record end (the reference's lastValidEndPos); records parsed past
    * it are cut with it and not counted. */
  def mendFile(pathStr: String): MendResult = {
    val path = Paths.get(pathStr)
    val published = WarcFileName.publishedOf(pathStr).map(Paths.get(_))
    if (published.exists(Files.exists(_)))
      return MendResult(pathStr, 0L, 0L, 0L, renamed = false,
        s"${published.get} already exists: a committed write published it; left $pathStr as is")
    val size = Files.size(path)
    var walk: WarcIO.MemberWalk = null
    var err: String = null
    val raw = Files.newInputStream(path)
    var in: InputStream with MemberBoundaries = null
    try {
      in = WarcIO.open(raw)
      walk = new WarcIO.MemberWalk(in, keepContent = false)
      while (walk.next() != null) {}
    } catch {
      case e: Exception => err = Option(e.getMessage).getOrElse(e.getClass.getName)
    } finally (if (in != null) in else raw).close()
    val lastValidEnd = if (walk == null) 0L else walk.lastCut
    val truncated = size - lastValidEnd
    // Truncate only when at least one valid member exists (the reference's
    // needsTruncate = lastValidEndPos > 0 guard): a wholly-corrupt file —
    // e.g. a crash before the FIRST record completed — is left untouched
    // for manual recovery, staged name included; truncating it to zero
    // bytes and renaming would destroy exactly the evidence mend exists to
    // preserve.
    if (err != null && lastValidEnd > 0 && truncated > 0) {
      val raf = new RandomAccessFile(path.toFile, "rw")
      try raf.setLength(lastValidEnd) finally raf.close()
    }
    val renamed = published.isDefined && (err == null || lastValidEnd > 0)
    if (renamed) Files.move(path, published.get)
    val finalData = if (renamed) published.get else path
    // keep any sidecar member index consistent with the (possibly truncated,
    // possibly renamed) data file — a stale index would mis-split later scans
    for (idx <- WarcFileName.sidecarsOf(pathStr).map(Paths.get(_)).filter(Files.exists(_))) {
      if (err != null && lastValidEnd == 0) Files.delete(idx)
      else {
        val idxIn = Files.newInputStream(idx)
        val entries = try WarcIO.readMemberIndex(idxIn) finally idxIn.close()
        val kept = entries.filter { case (o, s) => o + s <= lastValidEnd }
        Files.delete(idx)
        val out = Files.newOutputStream(Paths.get(WarcFileName.idxOf(finalData.toString)))
        try WarcIO.writeMemberIndex(out, kept) finally out.close()
      }
    }
    MendResult(pathStr, if (walk == null) 0L else walk.recordsBeforeCut, lastValidEnd,
      if (err != null) truncated else 0L, renamed, err)
  }

  /** Mend every plain, gzip and zstd WARC file, published or staged, under
    * `dir` (recursive, like the scan), one file per task. */
  def mendAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val files = WarcScan.listWarcFiles(fs, root, WarcFileName.isMendable)
      .map(st => Paths.get(st.getPath.toUri).toString)
    spark.sparkContext.parallelize(files, math.max(1, files.size))
      .map(mendFile).toDF()
  }
}
