package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.WarcSink

/** S1/S2/K1 round-trip: the rotating DSv2 writer (one gzip member per
  * record) back through the DataSourceV2 scan, with pruning + pushdown
  * checks. */
class WarcSourceSpec extends SparkSpec {

  private val Fmt = "graft.sources.WarcDataSource"

  private def sampleRows(n: Int) = {
    import spark.implicits._
    spark.range(n).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:r"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), when(col("id") % 3 === 0, "request").otherwise("response"),
        lit("WARC-Target-URI"), concat(lit("http://h"), (col("id") % 5).cast("string"),
          lit(".example/p"), col("id").cast("string")),
        lit("WARC-Date"), lit("2023-11-14T22:13:20Z")).as("headers"),
      concat(lit("payload-"), col("id").cast("string")).cast("string").as("content"))
  }

  test("gzip round-trip: sink then scan reproduces records (per-record members)") {
    val dir = Files.createTempDirectory("warcsrc").toString
    writeWarc(sampleRows(100).repartition(4), dir, "maxRecordsPerFile" -> 10)
    val back = spark.read.format(Fmt).load(dir).cache()
    val nFiles = new java.io.File(dir).list().count(_.endsWith(".warc.gz"))
    // one warcinfo record leads every output file (write.go:156-186)
    assert(back.filter(col("warc_type") =!= "warcinfo").count() === 100)
    assert(back.filter(col("warc_type") === "warcinfo").count() === nFiles)
    assert(back.filter(col("warc_type") === "warcinfo")
      .filter(col("record_ordinal") =!= 0).count() === 0)
    // every non-warcinfo record is stamped with its file's warcinfo id
    // (warc.go:218-219)
    assert(back.filter(col("warc_type") =!= "warcinfo")
      .filter(col("warcinfo_id").isNull).count() === 0)
    // no .open files remain after commit
    assert(!new java.io.File(dir).list().exists(_.endsWith(".open")))
    // rotation: 4 partitions x 25 rows / (10+1 warcinfo) per file => >= 8 files
    assert(nFiles >= 8)
    val row = back.filter(col("record_id") === "<urn:uuid:r7>")
      .select("warc_type", "target_uri", "content").head()
    assert(row.getString(0) === "response")
    assert(row.getString(1) === "http://h2.example/p7")
    assert(new String(row.getAs[Array[Byte]](2), "UTF-8") === "payload-7")
    back.unpersist()
  }

  test("byte-size rotation: files straddle the maxFileBytes floor; round-trip intact") {
    val floor = 4096L
    val dir = Files.createTempDirectory("warcbytes").toString
    writeWarc(sampleRows(200).coalesce(1), dir,
      "maxRecordsPerFile" -> 1000000, "maxFileBytes" -> floor)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
    assert(files.length > 1, "the byte floor must force rotation")
    // floor semantics (file.go:75-85): rotate before the first record at or
    // past the floor — every file except the last crossed it...
    files.dropRight(1).foreach(f => assert(f.length >= floor, s"${f.getName} under floor"))
    // ...and exceeds it by at most ~one compressed record (floor, not a cap)
    files.foreach(f => assert(f.length < floor + 2048, s"${f.getName} overshoot"))
    val back = spark.read.format(Fmt).load(dir)
    assert(back.filter(col("warc_type") =!= "warcinfo").count() === 200)
  }

  test("member coordinates: reader-side tracking equals writer-side sidecar index") {
    val dict = java.util.Base64.getEncoder.encodeToString(
      "WARC/1.1\r\nWARC-Type: response\r\nWARC-Target-URI: http://h0.example/p payload-"
        .getBytes("UTF-8"))
    for ((codec, opts) <- Seq(
        "gzip" -> Seq("compression" -> "gzip"),
        "zstd" -> Seq("compression" -> "zstd"),
        "zstd+dict" -> Seq("compression" -> "zstd", "zstdDictBase64" -> dict))) {
      val dir = Files.createTempDirectory("warcidx").toString
      writeWarc(sampleRows(30).coalesce(1), dir, ("maxRecordsPerFile" -> 100) +: opts: _*)
      val files = new java.io.File(dir).list().filter(_.matches(".*\\.warc\\.(gz|zst)")).sorted
      assert(files.length === 1, codec)
      val warc = s"$dir/${files.head}"
      // two independent computations of the member layout (the reference's
      // external-oracle pattern, read_test.go:345-401): the writer counted bytes
      // while WRITING; the scan re-derives coordinates while DECODING
      val idxIn = Files.newInputStream(java.nio.file.Paths.get(warc + ".idx"))
      val sidecar = try graft.sources.WarcIO.readMemberIndex(idxIn) finally idxIn.close()
      assert(sidecar.length === 31, codec) // 30 records + 1 warcinfo
      val readBack = spark.read.format(Fmt).load(warc)
        .select("member_offset", "member_size").orderBy("member_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(readBack === sidecar, codec)
      // members start at 0, or just past a leading dictionary frame
      if (codec == "zstd+dict") assert(sidecar.head._1 > 8L) else assert(sidecar.head._1 === 0L)
      sidecar.sliding(2).foreach {
        case Seq(a, b) => assert(a._1 + a._2 === b._1, codec) // contiguous, no gaps
        case _ =>
      }
      assert(sidecar.last._1 + sidecar.last._2 === new java.io.File(warc).length(), codec)
    }
  }

  test("member index splits the scan into member-aligned range partitions") {
    val dir = Files.createTempDirectory("warcsplit").toString
    writeWarc(sampleRows(200).coalesce(1), dir, "maxRecordsPerFile" -> 1000)
    // tiny split target => many range partitions over one file
    val back = spark.read.format(Fmt).option("maxPartitionBytes", "2048").load(dir)
    assert(back.rdd.getNumPartitions > 4, s"got ${back.rdd.getNumPartitions} partitions")
    assert(back.filter(col("warc_type") =!= "warcinfo").count() === 200)
    // global ordinals survive the split and stay unique
    assert(back.select("record_ordinal").distinct().count() === back.count())
    // whole-file scan (no option) returns the identical record set
    val whole = spark.read.format(Fmt).load(dir)
    assert(whole.select("record_id").except(back.select("record_id")).count() === 0)
    assert(back.select("record_id").except(whole.select("record_id")).count() === 0)
  }

  test("IndexWarc makes a foreign index-less .warc.gz splittable; rows identical") {
    val dir = Files.createTempDirectory("warcforeign").toString
    writeWarc(sampleRows(200).coalesce(1), dir, "maxRecordsPerFile" -> 1000)
    // simulate a FOREIGN archive: strip the writer's sidecar index
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".idx"))
      .foreach(f => assert(f.delete()))
    val unsplit = spark.read.format(Fmt).option("maxPartitionBytes", "2048").load(dir)
    assert(unsplit.rdd.getNumPartitions === 1, "index-less file must scan whole")
    val baseline = unsplit.orderBy("record_ordinal").collect()

    val report = graft.jobs.IndexWarc.indexAll(spark, dir).collect()
    assert(report.length === 1)
    val r = report.head
    assert(r.getAs[Boolean]("built") && r.getAs[String]("error") == null)
    assert(r.getAs[Long]("members") === 201) // 200 records + 1 warcinfo
    val warc = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".warc.gz")).get
    assert(r.getAs[Long]("compressedBytes") === warc.length())

    // built sidecar matches the reader's own coordinates, and the scan splits
    val split = spark.read.format(Fmt).option("maxPartitionBytes", "2048").load(dir)
    assert(split.rdd.getNumPartitions > 4, s"got ${split.rdd.getNumPartitions}")
    assert(split.orderBy("record_ordinal").collect() === baseline)
    // second run is a no-op (index present)
    assert(graft.jobs.IndexWarc.indexAll(spark, dir).count() === 0)
  }

  test("IndexWarc never splits inside a record that spans two gzip members") {
    val dir = Files.createTempDirectory("warcspan")
    def record(i: Int, content: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      graft.sources.WarcIO.writeRecord(b, "WARC/1.1", Seq(
        "WARC-Record-ID" -> s"<urn:uuid:s$i>", "WARC-Type" -> "resource",
        "WARC-Target-URI" -> s"http://s.example/$i"), content)
      b.toByteArray
    }
    val rnd = new scala.util.Random(7)
    val out = Files.newOutputStream(dir.resolve("span.warc.gz"))
    (0 until 40).foreach { i =>
      val r = record(i, if (i == 20) Array.fill(4096)(rnd.nextInt(256).toByte)
        else s"small-$i".getBytes("UTF-8"))
      // a foreign writer's framing: record 20 is cut across two gzip members,
      // the second one incompressible and larger than a split
      if (i == 20) {
        graft.sources.WarcIO.writeGzipMember(out)(_.write(r, 0, 200))
        graft.sources.WarcIO.writeGzipMember(out)(_.write(r, 200, r.length - 200))
      } else graft.sources.WarcIO.writeGzipMember(out)(_.write(r))
    }
    out.close()
    val whole = spark.read.format(Fmt).load(dir.toString).orderBy("record_ordinal").collect()
    assert(whole.length === 40)

    val report = graft.jobs.IndexWarc.indexAll(spark, dir.toString).collect()
    assert(report.head.getAs[String]("error") == null)
    val split = spark.read.format(Fmt).option("maxPartitionBytes", "2048").load(dir.toString)
    assert(split.rdd.getNumPartitions > 1)
    assert(split.orderBy("record_ordinal").collect() === whole)
    // one entry per cut point: the spanning record's two members share one
    assert(report.head.getAs[Long]("members") === 40)
  }

  test("DSv2 write path: df.write -> commit-protocol publish -> scan round-trip") {
    val dir = Files.createTempDirectory("warcv2w").toString
    sampleRows(60).repartition(3).write.format(Fmt)
      .option("maxRecordsPerFile", "10").mode("append").save(dir)
    val listing = new java.io.File(dir).list().toSeq
    // all-or-nothing publish: no attempt files survive a successful commit
    assert(!listing.exists(_.contains(".open")), listing.mkString(","))
    assert(listing.count(_.endsWith(".warc.gz")) >= 6) // 3 partitions x 20/10
    assert(listing.count(_.endsWith(".warc.gz.idx")) ===
      listing.count(_.endsWith(".warc.gz")))
    val back = spark.read.format(Fmt).load(dir).cache()
    assert(back.filter(col("warc_type") =!= "warcinfo").count() === 60)
    assert(back.filter(col("warc_type") =!= "warcinfo")
      .filter(col("warcinfo_id").isNull).count() === 0)
    // sidecar coordinates agree with the reader's member tracking
    assert(back.filter(col("member_offset") < 0).count() === 0)
    val row = back.filter(col("record_id") === "<urn:uuid:r7>")
      .select("warc_type", "content").head()
    assert(row.getString(0) === "response")
    assert(new String(row.getAs[Array[Byte]](1), "UTF-8") === "payload-7")
    back.unpersist()
  }

  test("failed write: abort removes every attempt file; nothing publishes") {
    // the content column raises on a late row, after the task already
    // rotated (and staged with its .idx) several files
    def failing(parts: Int) = sampleRows(60).coalesce(1).repartition(parts)
      .withColumn("content", when(col("headers")("WARC-Record-ID") === "<urn:uuid:r45>",
        raise_error(lit("planted row failure"))).otherwise(col("content")))
    // a CR/LF in a late row's header would forge headers: the writer
    // rejects the row, naming the header
    val forgedValue = sampleRows(60).coalesce(1).withColumn("headers",
      transform_values(col("headers"), (k, v) =>
        when(k === "WARC-Target-URI" && v === "http://h0.example/p45",
          concat(v, lit("\r\nWARC-Type: revisit"))).otherwise(v)))
    val forgedName = sampleRows(60).coalesce(1).withColumn("headers",
      map_concat(col("headers"), map(lit("X-A\r\nWARC-Type"), lit("revisit"))))
    // one partition: the task's DataWriter.abort; two: the other task may
    // already have committed, so the job's BatchWrite.abort must clean it up
    for ((df, cause) <- Seq(failing(1) -> "planted row failure",
                            failing(2) -> "planted row failure",
                            forgedValue -> "WARC header 'WARC-Target-URI'",
                            forgedName -> "invalid WARC header name 'X-A\\r\\nWARC-Type'")) {
      val dir = Files.createTempDirectory("warcabort").toString
      val e = intercept[Exception](writeWarc(df, dir, "maxRecordsPerFile" -> 10))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(cause)), e.toString)
      // no published .warc*/.idx file and no *.open.* attempt file
      val left = new java.io.File(dir).list().toSeq
      assert(left.isEmpty, s"$cause left: ${left.mkString(", ")}")
    }
  }

  test("plain (uncompressed) .warc scan works and headers map is case-insensitive-keyed") {
    val dir = Files.createTempDirectory("warcplain").toString
    writeWarc(sampleRows(10).coalesce(1), dir, "compression" -> "none")
    val back = spark.read.format(Fmt).load(dir)
    assert(back.count() === 11) // 10 records + the file's warcinfo
    val h = back.select("headers").head().getAs[Map[String, String]](0)
    assert(h.contains("warc-type")) // lowercased keys (header.go:12-38 semantics)
  }

  test("a folded header line (WARC 1.1 LWS continuation) joins its value with one SP") {
    val dir = Files.createTempDirectory("warcfold")
    Files.write(dir.resolve("f.warc"), ("WARC/1.1\r\nWARC-Type: resource\r\n" +
      "X-Folded: first\r\n \tsecond\r\nContent-Length: 5\r\n\r\nhello\r\n\r\n")
      .getBytes("US-ASCII"))
    val h = spark.read.format(Fmt).load(dir.toString)
      .select("headers").head().getAs[Map[String, String]](0)
    assert(h("x-folded") === "first second" && h("warc-type") === "resource")
  }

  test("filter pushdown on warc_type reaches the scan; results correct") {
    val dir = Files.createTempDirectory("warcpush").toString
    writeWarc(sampleRows(90).coalesce(1), dir)
    val q = spark.read.format(Fmt).load(dir).filter(col("warc_type") === "request")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[EqualTo(warc_type,request)]"), s"plan was:\n$plan")
    assert(q.count() === 30)
    // IN pushdown
    val q2 = spark.read.format(Fmt).load(dir)
      .filter(col("target_uri").isin("http://h1.example/p1", "http://h2.example/p2"))
    assert(q2.count() === 2)
  }

  test("column pruning: content column not in read schema when unused") {
    val dir = Files.createTempDirectory("warcprune").toString
    writeWarc(sampleRows(5).coalesce(1), dir)
    val q = spark.read.format(Fmt).load(dir).select("record_id", "warc_type")
    val scanDesc = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanDesc.contains("columns=record_id,warc_type"), s"scan was:\n$scanDesc")
    assert(q.count() === 6) // 5 records + the file's warcinfo
  }

  test("crawl warc_rows ship through toRecordColumns and round-trip") {
    val n = 120L
    val res = graft.jobs.Crawl.run(spark,
      graft.web.SyntheticWeb.pages(spark, n),
      graft.web.SyntheticWeb.seeds(spark, 40, n), None, None, None,
      graft.jobs.Crawl.Config(maxRounds = 1, perHostBudget = 50, numSlots = 4,
        dedupSizeThreshold = 32, numShards = 2))
    val rows = res.warcRows
      .withColumn("content", concat_ws("|", col("warc_type"), col("target_uri")))
    val dir = Files.createTempDirectory("warccrawl").toString
    writeWarc(WarcSink.toRecordColumns(rows, "content"), dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.filter(col("warc_type") =!= "warcinfo").count() === rows.count())
    // revisit rows carry profile + truncated headers; responses do not
    val rev = back.filter(col("warc_type") === "revisit")
    if (rev.count() > 0) {
      assert(rev.filter(col("profile").isNull).count() === 0)
      assert(rev.filter(col("truncated") =!= "length").count() === 0)
    }
    assert(back.filter(col("warc_type") === "response")
      .filter(col("profile").isNotNull).count() === 0)
  }
}
