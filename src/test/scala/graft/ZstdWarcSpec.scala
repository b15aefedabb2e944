package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{WarcIO, ZstdFrames}

/** K6/K7 + the S2 codec dispatch: zstd WARC with per-record SIZED frames and
  * the skippable dictionary frame (write.go:143-153, utils.go:42-73,
  * read.go:358-535), plus foreign bzip2, xz and streaming-zstd archives read
  * through the same magic sniffing. */
class ZstdWarcSpec extends SparkSpec {

  private val Fmt = "graft.sources.WarcDataSource"

  private def sampleRows(n: Int) = {
    spark.range(n).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:z"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), when(col("id") % 3 === 0, "request").otherwise("response"),
        lit("WARC-Target-URI"), concat(lit("http://h"), (col("id") % 5).cast("string"),
          lit(".example/p"), col("id").cast("string"))).as("headers"),
      concat(lit("zstd-payload-"), col("id").cast("string")).cast("string").as("content"))
  }

  // a plausible raw-content dictionary: shared prefixes of the records
  private val Dict: Array[Byte] =
    ("WARC/1.1\r\nWARC-Record-ID: <urn:uuid:zzz>\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://h0.example/p zstd-payload-").getBytes("UTF-8")
  private val DictBase64 = java.util.Base64.getEncoder.encodeToString(Dict)

  test("zstd round-trip: sized frames, sidecar index, member-aligned splits") {
    val dir = Files.createTempDirectory("warczstd").toString
    writeWarc(sampleRows(200).coalesce(1), dir, "maxRecordsPerFile" -> 1000,
      "compression" -> "zstd")
    val files = new java.io.File(dir).list()
    val zst = files.filter(_.endsWith(".warc.zst"))
    assert(zst.length === 1 && files.exists(_ == zst.head + ".idx"))

    // every .idx member is an independent SIZED frame: the frame header
    // pledges the decompressed content size (the sizedZstdWriter contract)
    val path = Paths.get(dir, zst.head)
    val bytes = Files.readAllBytes(path)
    val idxIn = Files.newInputStream(Paths.get(dir, zst.head + ".idx"))
    val members = try WarcIO.readMemberIndex(idxIn) finally idxIn.close()
    assert(members.length === 201) // 200 records + 1 warcinfo
    assert(members.head._1 === 0L) // no dictionary: first frame at offset 0
    assert(members.last._1 + members.last._2 === bytes.length)
    members.take(5).foreach { case (off, len) =>
      val frame = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
      val contentSize = com.github.luben.zstd.Zstd.getFrameContentSize(frame)
      assert(contentSize > 0, s"frame at $off does not pledge its content size")
      // the frame is independently decompressible and re-parses as ONE record
      val rec = com.github.luben.zstd.Zstd.decompress(frame, contentSize.toInt)
      assert(new String(rec, "UTF-8").startsWith("WARC/1.1\r\n"))
    }

    val whole = spark.read.format(Fmt).load(dir)
    assert(whole.filter(col("warc_type") =!= "warcinfo").count() === 200)
    val split = spark.read.format(Fmt).option("maxPartitionBytes", "2048").load(dir)
    assert(split.rdd.getNumPartitions > 4, s"got ${split.rdd.getNumPartitions}")
    assert(split.orderBy("record_ordinal").select("record_id", "warc_type", "content").collect()
      === whole.orderBy("record_ordinal").select("record_id", "warc_type", "content").collect())
  }

  test("zstd dictionary: skippable frame leads the file; dict-aware ranged scan") {
    val dir = Files.createTempDirectory("warczdict").toString
    writeWarc(sampleRows(150).coalesce(1), dir, "maxRecordsPerFile" -> 1000,
      "compression" -> "zstd", "zstdDictBase64" -> DictBase64)
    val zst = new java.io.File(dir).list().filter(_.endsWith(".warc.zst")).head
    val bytes = Files.readAllBytes(Paths.get(dir, zst))
    // leading skippable frame magic 0x184D2A5D, little-endian (utils.go:55)
    assert((bytes(0) & 0xff) === 0x5d && (bytes(1) & 0xff) === 0x2a &&
      (bytes(2) & 0xff) === 0x4d && (bytes(3) & 0xff) === 0x18)
    // the embedded dictionary round-trips exactly
    val in = Files.newInputStream(Paths.get(dir, zst))
    val dictBack = try ZstdFrames.headDictionary(in) finally in.close() // the ranged-read head probe
    assert(dictBack === Dict)
    // .idx members start AFTER the dictionary frame
    val idxIn = Files.newInputStream(Paths.get(dir, zst + ".idx"))
    val members = try WarcIO.readMemberIndex(idxIn) finally idxIn.close()
    assert(members.head._1 > 8L)

    // whole-file scan (in-stream dict sniff) and ranged scan (head probe)
    // agree record-for-record
    val whole = spark.read.format(Fmt).load(dir)
    assert(whole.filter(col("warc_type") =!= "warcinfo").count() === 150)
    val split = spark.read.format(Fmt).option("maxPartitionBytes", "2048").load(dir)
    assert(split.rdd.getNumPartitions > 4, s"got ${split.rdd.getNumPartitions}")
    assert(split.orderBy("record_ordinal").select("record_id", "content").collect()
      === whole.orderBy("record_ordinal").select("record_id", "content").collect())
  }

  test("DSv2 write with compression=zstd + dictionary option round-trips") {
    val dir = Files.createTempDirectory("warczv2").toString
    sampleRows(60).repartition(3).write.format(Fmt).mode("append")
      .option("compression", "zstd")
      .option("zstdDictBase64", DictBase64)
      .option("maxRecordsPerFile", "20")
      .save(dir)
    val files = new java.io.File(dir).list()
    assert(files.count(_.endsWith(".warc.zst")) >= 3)
    assert(!files.exists(_.contains(".open")))
    val back = spark.read.format(Fmt).load(dir)
    assert(back.filter(col("warc_type") =!= "warcinfo").count() === 60)
    assert(back.filter(col("warc_type") =!= "warcinfo")
      .filter(!col("content").cast("string").startsWith("zstd-payload-")).count() === 0)
  }

  test("foreign bzip2 and xz archives are sniffed and read (read.go:358-440)") {
    import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
    import org.apache.commons.compress.compressors.xz.XZCompressorOutputStream
    // serialize plain records once, then wrap in each foreign codec
    val plain = new java.io.ByteArrayOutputStream()
    (0 until 25).foreach { i =>
      WarcIO.writeRecord(plain, "WARC/1.1", Seq(
        "WARC-Record-ID" -> s"<urn:uuid:f$i>",
        "WARC-Type" -> "resource",
        "WARC-Target-URI" -> s"http://f.example/$i"), s"foreign-$i".getBytes("UTF-8"))
    }
    // one record larger than a decode buffer
    WarcIO.writeRecord(plain, "WARC/1.1", Seq("WARC-Record-ID" -> "<urn:uuid:fbig>",
      "WARC-Type" -> "resource"), Array.fill(200 * 1024)('x'.toByte))
    val raw = plain.toByteArray

    val dir = Files.createTempDirectory("warcforeigncodec")
    // a streaming zstd writer: ONE frame that does not pledge its content size
    val zs = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(
      Files.newOutputStream(dir.resolve("c.warc.zst")))
    try zs.write(raw) finally zs.close()
    val bz = new BZip2CompressorOutputStream(
      Files.newOutputStream(dir.resolve("a.warc.bz2")))
    try bz.write(raw) finally bz.close()
    val xz = new XZCompressorOutputStream(
      Files.newOutputStream(dir.resolve("b.warc.xz")))
    try xz.write(raw) finally xz.close()

    val back = spark.read.format(Fmt).load(dir.toString)
    assert(back.count() === 78) // 26 records x 3 archives
    assert(back.select("source_file").distinct().count() === 3)
    assert(back.filter(col("warc_type") =!= "resource").count() === 0)
    val c = back.filter(col("record_id") === "<urn:uuid:f7>")
      .select(col("content").cast("string")).distinct().collect()
    assert(c.map(_.getString(0)).toSet === Set("foreign-7"))
    assert(back.filter(col("record_id") === "<urn:uuid:fbig>")
      .filter(length(col("content")) === 200 * 1024).count() === 3)
  }

  test("a one-frame .warc.zst streams: bounded read-ahead, every record scans") {
    // a streaming writer's archive: ONE frame holding 2,000 records (8 MiB
    // decoded); random hex content keeps it several MiB compressed
    val rnd = new scala.util.Random(7)
    val dir = Files.createTempDirectory("warczoneframe")
    val file = dir.resolve("one.warc.zst")
    val zs = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(Files.newOutputStream(file))
    try (0 until 2000).foreach { i =>
      WarcIO.writeRecord(zs, "WARC/1.1", Seq("WARC-Record-ID" -> s"<urn:uuid:o$i>",
        "WARC-Type" -> "resource"), Array.fill(4096)("0123456789abcdef".charAt(rnd.nextInt(16)).toByte))
    } finally zs.close()
    val size = Files.size(file)
    assert(size > (2L << 20), s"compressed to $size bytes")

    // the first record arrives after a bounded prefix of the frame is read
    var consumed = 0L
    val counting = new java.io.FilterInputStream(Files.newInputStream(file)) {
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(b, off, len)
        if (n > 0) consumed += n
        n
      }
    }
    val in = WarcIO.open(counting)
    try {
      val walk = new WarcIO.MemberWalk(in, keepContent = true)
      val first = walk.next()
      assert(first.headers("warc-record-id") === "<urn:uuid:o0>" && first.content.length === 4096)
      assert(consumed <= (256L << 10), s"read $consumed compressed bytes for the first record")
      var n = 1
      while (walk.next() != null) n += 1
      assert(n === 2000)
      assert(walk.lastCut === size && walk.recordsBeforeCut === 2000) // the frame ends the file
    } finally in.close()

    val back = spark.read.format(Fmt).load(dir.toString)
    assert(back.count() === 2000)
    assert(back.filter(length(col("content")) =!= 4096).count() === 0)
  }

  test("a skippable frame between data frames carries no bytes") {
    val ctx = WarcIO.zstdCompressCtx(3, null)
    def frame(i: Int): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      WarcIO.writeZstdMember(b, ctx)(WarcIO.writeRecord(_, "WARC/1.1",
        Seq("WARC-Type" -> "resource"), s"r$i".getBytes("UTF-8")))
      b.toByteArray
    }
    val (f0, f1) = try (frame(0), frame(1)) finally ctx.close()
    val skip = Array[Byte](0x50, 0x2a, 0x4d, 0x18, 4, 0, 0, 0, 1, 2, 3, 4)
    val (it, c) = WarcIO.openRecords(new java.io.ByteArrayInputStream(f0 ++ skip ++ f1))
    val recs = try it.toList finally c.close()
    assert(recs.map(r => new String(r.content, "UTF-8")) === List("r0", "r1"))
    assert(recs.map(r => (r.memberOffset, r.memberSize)) ===
      List((0L, f0.length.toLong), (f0.length.toLong, (skip.length + f1.length).toLong)))
  }

  test("zstd mend: chopped mid-frame .open truncates at last valid frame; survivors scan") {
    val dir = Files.createTempDirectory("warczmend").toString
    writeWarc(sampleRows(40).coalesce(1), dir, "maxRecordsPerFile" -> 1000,
      "compression" -> "zstd", "zstdDictBase64" -> DictBase64)
    val zst = new java.io.File(dir).list().filter(_.endsWith(".warc.zst")).head
    val path = Paths.get(dir, zst)
    val idxIn = Files.newInputStream(Paths.get(dir, zst + ".idx"))
    val members = try WarcIO.readMemberIndex(idxIn) finally idxIn.close()
    // simulate a crash: lose the tail of the LAST frame, restore .open suffix
    val cutAt = members.last._1 + members.last._2 / 2
    val bytes = Files.readAllBytes(path)
    val openPath = Paths.get(dir, zst + ".open")
    Files.write(openPath, java.util.Arrays.copyOfRange(bytes, 0, cutAt.toInt))
    Files.delete(path)
    Files.move(Paths.get(dir, zst + ".idx"), Paths.get(dir, zst + ".open.idx"))

    val r = graft.jobs.Mend.mendFile(openPath.toString)
    assert(r.error != null, "a chopped frame must be reported")
    assert(r.keptBytes === members.init.last._1 + members.init.last._2)
    assert(r.truncatedBytes === cutAt - r.keptBytes)
    assert(r.renamed)
    assert(r.validRecords === 40L) // 39 records + 1 warcinfo survive

    // survivors (including the sidecar refresh) scan cleanly, dict intact
    val back = spark.read.format(Fmt).load(dir)
    assert(back.count() === 40)
    assert(back.filter(col("warc_type") =!= "warcinfo").count() === 39)
  }

  test("IndexWarc indexes a foreign index-less .warc.zst; splits match unsplit scan") {
    val dir = Files.createTempDirectory("warczforeign").toString
    writeWarc(sampleRows(120).coalesce(1), dir, "maxRecordsPerFile" -> 1000,
      "compression" -> "zstd", "zstdDictBase64" -> DictBase64)
    val zst = new java.io.File(dir).list().filter(_.endsWith(".warc.zst")).head
    val sidecarIn = Files.newInputStream(Paths.get(dir, zst + ".idx"))
    val sinkIdx = try WarcIO.readMemberIndex(sidecarIn) finally sidecarIn.close()
    Files.delete(Paths.get(dir, zst + ".idx")) // make it "foreign"
    val unsplit = spark.read.format(Fmt).option("maxPartitionBytes", "2048").load(dir)
    assert(unsplit.rdd.getNumPartitions === 1)
    val baseline = unsplit.orderBy("record_ordinal").collect()

    val report = graft.jobs.IndexWarc.indexAll(spark, dir).collect()
    assert(report.length === 1 && report.head.getAs[Boolean]("built"))
    assert(report.head.getAs[Long]("members") === 121)
    // the rebuilt index reproduces the writer's own coordinates exactly
    // (dictionary skippable frame excluded on both sides)
    val rebuiltIn = Files.newInputStream(Paths.get(dir, zst + ".idx"))
    val rebuilt = try WarcIO.readMemberIndex(rebuiltIn) finally rebuiltIn.close()
    assert(rebuilt === sinkIdx)
    val split = spark.read.format(Fmt).option("maxPartitionBytes", "2048").load(dir)
    assert(split.rdd.getNumPartitions > 4)
    assert(split.orderBy("record_ordinal").collect() === baseline)
  }

  test("zstd compresses the dictionary-friendly corpus tighter with the dict") {
    // sanity that the dictionary actually participates: highly-templated
    // records must shrink when every frame references the shared dict
    val dirNo = Files.createTempDirectory("warczsize0").toString
    val dirD = Files.createTempDirectory("warczsize1").toString
    writeWarc(sampleRows(300).coalesce(1), dirNo, "compression" -> "zstd")
    writeWarc(sampleRows(300).coalesce(1), dirD,
      "compression" -> "zstd", "zstdDictBase64" -> DictBase64)
    def dataBytes(d: String): Long = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".warc.zst")).map(_.length()).sum
    val (noDict, withDict) = (dataBytes(dirNo), dataBytes(dirD))
    // exclude the dict frame itself from the comparison: record frames only
    val idxIn = Files.newInputStream(Paths.get(new java.io.File(dirD).listFiles()
      .find(_.getName.endsWith(".idx")).get.getPath))
    val members = try WarcIO.readMemberIndex(idxIn) finally idxIn.close()
    val recordBytes = members.map(_._2).sum
    assert(recordBytes < noDict, s"dict frames $recordBytes !< no-dict $noDict")
  }
}
