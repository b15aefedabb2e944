package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._

import graft.jobs.Mend

/** A4 mend semantics: truncate-at-last-valid + .open rename (mend.go:298-375),
  * plain files by byte offset, gzip and zstd files by exact compressed
  * member / frame offset. */
class MendSpec extends SparkSpec {

  private def writeFile(dir: String, n: Int, gzip: Boolean): Unit = {
    import spark.implicits._
    val rows = spark.range(n).select(
      lit("WARC/1.1").as("version"),
      map(lit("WARC-Record-ID"), concat(lit("<urn:uuid:m"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Date"), lit("2023-11-14T22:13:20Z")).as("headers"),
      concat(lit("payload-"), col("id").cast("string")).cast("string").as("content"))
    writeWarc(rows.coalesce(1), dir, "compression" -> (if (gzip) "gzip" else "none"))
  }

  test("clean file is untouched; truncated tail is cut at last valid record") {
    val dir = Files.createTempDirectory("mend").toString
    writeFile(dir, 10, gzip = false)
    val f = new java.io.File(dir).list().find(_.endsWith(".warc")).get
    val p = Paths.get(dir, f)
    val cleanSize = Files.size(p)

    val clean = Mend.mendFile(p.toString)
    // 10 records + the leading warcinfo
    assert(clean.validRecords === 11 && clean.truncatedBytes === 0 && clean.error == null)
    assert(Files.size(p) === cleanSize)

    // append a partial record (version line + half a header) = crash artifact
    Files.write(p, "WARC/1.1\r\nWARC-Type: resp".getBytes, StandardOpenOption.APPEND)
    val mended = Mend.mendFile(p.toString)
    assert(mended.validRecords === 11)
    assert(mended.truncatedBytes > 0)
    assert(Files.size(p) === cleanSize) // cut exactly back to the valid prefix
    // file scans cleanly again
    val back = spark.read.format("graft.sources.WarcDataSource").load(dir)
    assert(back.count() === 11)
  }

  test(".open files are renamed after mending (warc.go:189,244-248 analog)") {
    val dir = Files.createTempDirectory("mendopen").toString
    writeFile(dir, 3, gzip = false)
    val f = new java.io.File(dir).list().find(_.endsWith(".warc")).get
    val p = Paths.get(dir, f)
    val open = Paths.get(dir, f + ".open")
    Files.move(p, open)
    Files.write(open, "GARBAGE".getBytes, StandardOpenOption.APPEND)
    val r = Mend.mendFile(open.toString)
    assert(r.renamed && r.validRecords === 4 && r.truncatedBytes === 7)
    assert(Files.exists(p) && !Files.exists(open))
  }

  test("wholly-corrupt .open file is left untouched for manual recovery") {
    val dir = Files.createTempDirectory("mendcorrupt").toString
    val open = Paths.get(dir, "BAD-0-x.warc.open")
    Files.write(open, "NOT A WARC AT ALL".getBytes)
    val r = Mend.mendFile(open.toString)
    // the mend.go needsTruncate = lastValidEndPos > 0 guard: no truncation to
    // zero bytes, no rename that would mark the file complete
    assert(!r.renamed && r.validRecords === 0 && r.error != null)
    assert(Files.exists(open) && Files.size(open) === 17)
  }

  test("gzip mend truncates at the last valid member; survivors scan cleanly") {
    val dir = Files.createTempDirectory("mendgz").toString
    writeFile(dir, 8, gzip = true)
    val f = new java.io.File(dir).list().find(_.endsWith(".warc.gz")).get
    val p = Paths.get(dir, f)
    val open = Paths.get(dir, f + ".open")
    val bytes = Files.readAllBytes(p)
    // read the writer's sidecar to find a mid-member chop point: keep the first
    // 6 members plus HALF of the 7th
    val idxIn = Files.newInputStream(Paths.get(p.toString + ".idx"))
    val members = try graft.sources.WarcIO.readMemberIndex(idxIn) finally idxIn.close()
    assert(members.length === 9) // warcinfo + 8 records
    val keepMembers = 6
    val validEnd = members(keepMembers - 1)._1 + members(keepMembers - 1)._2
    val chop = validEnd + members(keepMembers)._2 / 2
    Files.delete(p)
    Files.write(open, bytes.take(chop.toInt)) // sidecar left in place, now stale

    val r = Mend.mendFile(open.toString)
    assert(r.error != null, "chopped member must register as an error")
    assert(r.validRecords === keepMembers)
    assert(r.keptBytes === validEnd) // exact compressed member boundary
    assert(r.truncatedBytes === chop - validEnd)
    assert(r.renamed && Files.exists(p) && !Files.exists(open))
    assert(Files.size(p) === validEnd)
    // the sidecar was refreshed to the surviving members only
    val idxIn2 = Files.newInputStream(Paths.get(p.toString + ".idx"))
    val refreshed = try graft.sources.WarcIO.readMemberIndex(idxIn2) finally idxIn2.close()
    assert(refreshed === members.take(keepMembers))
    // the mended file reads end-to-end: warcinfo + 5 surviving records
    val back = spark.read.format("graft.sources.WarcDataSource").load(p.toString)
    assert(back.count() === keepMembers)
    assert(back.filter(col("warc_type") === "response").count() === keepMembers - 1)
  }

  private def recBytes(i: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    graft.sources.WarcIO.writeRecord(bos, "WARC/1.1", Seq(
      "WARC-Record-ID" -> s"<urn:uuid:pc$i>",
      "WARC-Type" -> "response",
      "WARC-Date" -> "2023-11-14T22:13:20Z"), ("x" * 48).getBytes)
    bos.toByteArray
  }

  test("validRecords excludes records parsed past the final cut (gzip)") {
    // member A = r1 (record end == member end); member B = r2 + half of r3:
    // r2 parses COMPLETELY but lies past the last good member boundary, so
    // the truncation discards it — it must not be counted as surviving
    val dir = Files.createTempDirectory("mendcntgz")
    val p = dir.resolve("c.warc.gz")
    val memberA = { val b = new java.io.ByteArrayOutputStream()
      graft.sources.WarcIO.writeGzipMember(b)(g => g.write(recBytes(1))); b.toByteArray }
    val out = Files.newOutputStream(p)
    out.write(memberA)
    val r3 = recBytes(3)
    graft.sources.WarcIO.writeGzipMember(out) { g =>
      g.write(recBytes(2)); g.write(r3, 0, r3.length / 2)
    }
    out.close()
    val r = Mend.mendFile(p.toString)
    assert(r.error != null)
    assert(r.keptBytes === memberA.length)
    assert(r.validRecords === 1) // r1 only; r2 fell past the cut with member B
    // the mended file now re-mends clean with the same count
    val again = Mend.mendFile(p.toString)
    assert(again.error == null && again.validRecords === 1)
  }

  test("validRecords excludes records in frames past the final cut (zstd)") {
    // frame 1 = r1; frame 2 = r2 + half of r3 -> trailing partial record:
    // the cut is the end of frame 1, so r2 (complete but inside the
    // discarded frame) must not be counted
    val dir = Files.createTempDirectory("mendcntzst")
    val p = dir.resolve("c.warc.zst")
    val zctx = graft.sources.WarcIO.zstdCompressCtx(3, null)
    val frame1 = { val b = new java.io.ByteArrayOutputStream()
      graft.sources.WarcIO.writeZstdMember(b, zctx)(z => z.write(recBytes(1))); b.toByteArray }
    val out = Files.newOutputStream(p)
    out.write(frame1)
    val r3 = recBytes(3)
    graft.sources.WarcIO.writeZstdMember(out, zctx) { z =>
      z.write(recBytes(2)); z.write(r3, 0, r3.length / 2)
    }
    out.close()
    zctx.close()
    val r = Mend.mendFile(p.toString)
    assert(r.error != null)
    assert(r.keptBytes === frame1.length)
    assert(r.validRecords === 1)
    val again = Mend.mendFile(p.toString)
    assert(again.error == null && again.validRecords === 1)
  }

  test("property: a chop at ANY byte mends to a cleanly-scanning prefix (plain, gzip, zstd)") {
    import org.apache.spark.sql.functions._
    for (codec <- Seq("none", "gzip", "zstd")) {
      val dir = Files.createTempDirectory(s"mendprop$codec").toString
      val rows = spark.range(25).select(
        lit("WARC/1.1").as("version"),
        map(lit("WARC-Record-ID"), concat(lit("<urn:uuid:pp"), col("id").cast("string"), lit(">")),
          lit("WARC-Type"), lit("response"),
          lit("WARC-Date"), lit("2023-11-14T22:13:20Z")).as("headers"),
        concat(lit("payload-"), col("id").cast("string"),
          lit("-"), repeat(lit("z"), 64)).cast("string").as("content"))
      writeWarc(rows.coalesce(1), dir, "compression" -> codec)
      val ext = Map("none" -> ".warc", "gzip" -> ".warc.gz", "zstd" -> ".warc.zst")(codec)
      val f = new java.io.File(dir).list().find(_.endsWith(ext)).get
      val intact = Files.readAllBytes(Paths.get(dir, f))
      // a plain file chopped exactly at a record end is a clean, shorter file
      val text = new String(intact, "ISO-8859-1")
      def atRecordEnd(chop: Int) = codec == "none" && text.startsWith("WARC/", chop)
      // deterministic chop points across the whole file, incl. very early
      // (inside the warcinfo member), just-before-end and, for plain, the
      // first record end
      val chops = Seq(3, 40) ++ (1 to 9).map(i => intact.length * i / 10) ++
        Seq(intact.length - 1) ++ (if (codec == "none") Seq(text.indexOf("WARC/", 1)) else Nil)
      for (chop <- chops) {
        val cdir = Files.createTempDirectory(s"chop$codec$chop")
        val open = cdir.resolve(s"C-0-x$ext.open")
        Files.write(open, java.util.Arrays.copyOf(intact, chop))
        val r = Mend.mendFile(open.toString)
        if (atRecordEnd(chop))
          assert(r.error == null && r.keptBytes === chop, s"$codec chop=$chop $r")
        // a chop strictly inside a record must register as damage
        else assert(r.error != null, s"$codec chop=$chop silently clean")
        assert(r.keptBytes <= chop)
        if (r.keptBytes > 0) {
          val mended = cdir.resolve(s"C-0-x$ext")
          assert(Files.exists(mended), s"$codec chop=$chop not renamed")
          // survivors scan cleanly and agree with the mend's record count
          val n = spark.read.format("graft.sources.WarcDataSource")
            .load(mended.toString).count()
          assert(n === r.validRecords, s"$codec chop=$chop scan $n vs ${r.validRecords}")
          // idempotent: a second mend finds nothing more to cut
          val again = Mend.mendFile(mended.toString)
          assert(again.error == null && again.validRecords === r.validRecords &&
            again.truncatedBytes === 0L, s"$codec chop=$chop remend $again")
        }
      }
    }
  }

  test("a folded header line (WARC 1.1 LWS continuation) is valid: mend keeps every byte") {
    val p = Files.createTempDirectory("mendfold").resolve("f.warc")
    val folded = "WARC/1.1\r\nWARC-Type: resource\r\nX-Folded: first\r\n \tsecond\r\n" +
      "Content-Length: 5\r\n\r\nhello\r\n\r\n"
    val bytes = recBytes(1) ++ folded.getBytes("US-ASCII")
    Files.write(p, bytes)
    val r = Mend.mendFile(p.toString)
    assert(r.error == null && r.validRecords === 2 && r.keptBytes === bytes.length, r.toString)
    assert(Files.readAllBytes(p) === bytes)
  }

  test("IndexWarc then Mend leaves no stale .crc: the mended archive scans cleanly") {
    val dir = Files.createTempDirectory("mendcrc").toString
    writeFile(dir, 8, gzip = true)
    val f = new java.io.File(dir).list().find(_.endsWith(".warc.gz")).get
    val p = Paths.get(dir, f)
    Files.delete(Paths.get(p.toString + ".idx")) // a foreign, index-less archive
    assert(graft.jobs.IndexWarc.indexAll(spark, dir).collect().head.getAs[Boolean]("built"))
    val bytes = Files.readAllBytes(p)
    Files.write(p, java.util.Arrays.copyOf(bytes, bytes.length - 20)) // chop mid-member
    val r = Mend.mendFile(p.toString) // rewrites the built .idx in place
    assert(r.error != null && r.validRecords === 8) // warcinfo + 7 whole records
    val back = spark.read.format("graft.sources.WarcDataSource").load(dir)
    assert(back.count() === r.validRecords)
    assert(!new java.io.File(dir).list().exists(_.endsWith(".crc")))
  }

  /** A gzip file as the writer published it, plus its sidecar members. */
  private def publishedGz(dir: String, n: Int): (java.nio.file.Path, Seq[(Long, Long)]) = {
    writeFile(dir, n, gzip = true)
    val p = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".warc.gz")).findFirst().get
    val idxIn = Files.newInputStream(Paths.get(p.toString + ".idx"))
    (p, try graft.sources.WarcIO.readMemberIndex(idxIn) finally idxIn.close())
  }

  private val Attempt = "0f3c5a1e-7b2d-4c9a-8e61-2d4f9b0c7a13-17"

  test("mendAll recovers a writer attempt file: truncated, published, sidecar installed") {
    val dir = Files.createTempDirectory("mendattempt").toString
    val (p, members) = publishedGz(dir, 6)
    // a task that staged its file but never saw the job commit's rename
    val staged = Paths.get(s"$p.open.$Attempt")
    val stagedIdx = Paths.get(s"$p.idx.open.$Attempt")
    val validEnd = members(4)._1 + members(4)._2
    Files.write(staged, java.util.Arrays.copyOf(Files.readAllBytes(p), (validEnd + 9).toInt))
    Files.move(Paths.get(p.toString + ".idx"), stagedIdx)
    Files.delete(p)

    import spark.implicits._
    val rows = Mend.mendAll(spark, dir).as[Mend.MendResult].collect()
    assert(rows.map(_.file).toSeq === Seq(staged.toString))
    val r = rows.head
    assert(r.error != null && r.renamed && r.validRecords === 5 && r.keptBytes === validEnd)
    assert(Files.size(p) === validEnd && !Files.exists(staged) && !Files.exists(stagedIdx))
    val idxIn = Files.newInputStream(Paths.get(p.toString + ".idx"))
    assert((try graft.sources.WarcIO.readMemberIndex(idxIn) finally idxIn.close()) ===
      members.take(5))
    assert(spark.read.format("graft.sources.WarcDataSource").load(dir).count() === 5)
  }

  test("a writer attempt whose <final> already exists lost the commit: error, nothing touched") {
    val dir = Files.createTempDirectory("mendattemptlost").toString
    val (p, _) = publishedGz(dir, 4)
    val staged = Paths.get(s"$p.open.$Attempt")
    val stagedIdx = Paths.get(s"$p.idx.open.$Attempt")
    val bytes = Files.readAllBytes(p)
    Files.write(staged, java.util.Arrays.copyOf(bytes, bytes.length - 5))
    Files.copy(Paths.get(p.toString + ".idx"), stagedIdx)
    val before = Seq(p, Paths.get(p.toString + ".idx"), staged, stagedIdx)
      .map(f => f -> Files.readAllBytes(f))

    val rows = Mend.mendAll(spark, dir).collect()
    val lost = rows.find(_.getAs[String]("file") == staged.toString).get
    assert(lost.getAs[String]("error").contains("already exists"))
    assert(!lost.getAs[Boolean]("renamed") && lost.getAs[Long]("truncatedBytes") === 0L)
    before.foreach { case (f, b) => assert(Files.readAllBytes(f) === b, s"$f was touched") }
  }

  test("mendAll reaches nested date=/host= directories, like the scan") {
    val root = Files.createTempDirectory("mendnested")
    val nested = Files.createDirectories(root.resolve("date=2023-11-14/host=a"))
    val (p, members) = publishedGz(nested.toString, 5)
    val open = Paths.get(p.toString + ".open")
    val validEnd = members(3)._1 + members(3)._2
    Files.write(open, java.util.Arrays.copyOf(Files.readAllBytes(p), (validEnd + 11).toInt))
    Files.delete(p)
    val rows = Mend.mendAll(spark, root.toString).collect()
    assert(rows.length === 1 && rows.head.getAs[String]("file") === open.toString)
    assert(rows.head.getAs[Boolean]("renamed") && rows.head.getAs[Long]("keptBytes") === validEnd)
    assert(Files.size(p) === validEnd && !Files.exists(open))
  }

  test("mendAll distributes across files (plain and gzip)") {
    val dir = Files.createTempDirectory("mendall").toString
    writeFile(dir, 4, gzip = false)
    writeFile(dir, 4, gzip = true)
    val rows = Mend.mendAll(spark, dir).collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[Long]("validRecords") === 5)) // 4 + warcinfo
    assert(rows.forall(_.getAs[String]("error") == null))
  }
}
