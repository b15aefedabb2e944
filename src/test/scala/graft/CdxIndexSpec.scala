package graft

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.functions._

import graft.functions.UrlCanon

/** CDX index generation: SURT keys, sortedness, and — the index's whole
  * point — RANDOM ACCESS: every (filename, offset, length) triple must
  * gunzip to exactly its indexed record. */
class CdxIndexSpec extends SparkSpec {

  test("SURT goldens (public surt convention)") {
    val golden = Seq(
      "http://www.archive.org/" -> "org,archive,www)/",
      "https://example.com/path?q=1" -> "com,example)/path?q=1",
      "HTTP://EXAMPLE.COM:8080/A/../B" -> "com,example:8080)/B",
      "http://user@sub.Example.Com/x" -> "com,example,sub)/x",
      "http://10.0.0.1/x" -> "10.0.0.1)/x",
      "http://example.com" -> "com,example)/")
    golden.foreach { case (in, want) => assert(UrlCanon.surt(in) === want, s"surt($in)") }
    // sort-contiguity: one domain's subdomains cluster under its reversed prefix
    val keys = Seq("http://a.example.com/1", "http://b.example.com/2",
      "http://example.com/3").map(UrlCanon.surt).sorted
    assert(keys.forall(_.startsWith("com,example")))
  }

  private def responses(n: Int) = {
    spark.range(n).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:rec"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Target-URI"), concat(lit("http://h"), (col("id") % 5).cast("string"),
          lit(".example/p"), col("id").cast("string")),
        lit("WARC-Date"), lit("2023-11-14T22:13:20Z")).as("headers"),
      concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\nbody "),
        col("id").cast("string")).cast("binary").as("content"))
  }

  /** Decode one member slice: a gzip member or a (sized) zstd frame. */
  private def inflate(slice: Array[Byte]): String = new String(
    if (slice(0) == 0x1f.toByte) new GZIPInputStream(new java.io.ByteArrayInputStream(slice)).readAllBytes()
    else com.github.luben.zstd.Zstd.decompress(slice,
      com.github.luben.zstd.Zstd.getFrameContentSize(slice).toInt), "UTF-8")

  test("CDX lines: fields, sortedness, and random-access replay of every member") {
   for (codec <- Seq("gzip", "zstd")) {
    val warcDir = Files.createTempDirectory("cdx-src").toString
    writeWarc(responses(40), warcDir, "maxRecordsPerFile" -> 15, "compression" -> codec)

    val idx = graft.jobs.CdxIndex.lines(spark, warcDir).cache()
    val rows = idx.collect()
    assert(rows.length === 40)

    // field shape
    rows.foreach { r =>
      assert(r.getAs[String]("timestamp") === "20231114221320")
      assert(r.getAs[String]("mimetype") === "text/html")
      assert(r.getAs[String]("statuscode") === "200")
      assert(r.getAs[String]("urlkey").matches("example,h[0-4]\\)/p\\d+"))
      assert(r.getAs[String]("cdx_line").split(" ").length === 11)
    }

    // sorted within every partition (the binary-searchable contract)
    val perPart = idx.select(spark_partition_id().as("p"), col("urlkey"), col("timestamp"))
      .collect().groupBy(_.getInt(0))
    perPart.values.foreach { part =>
      val ks = part.map(r => (r.getString(1), r.getString(2))).toSeq
      assert(ks === ks.sorted)
    }

    // RANDOM ACCESS: decode each indexed member slice, find its record inside
    rows.foreach { r =>
      val file = Files.list(Paths.get(warcDir)).filter(_.getFileName.toString == r.getAs[String]("filename"))
        .findFirst().orElseThrow()
      val off = r.getAs[String]("offset").toLong
      val len = r.getAs[String]("length").toLong
      val all = Files.readAllBytes(file)
      assert(off + len <= all.length, s"$codec member slice out of file bounds")
      val text = inflate(java.util.Arrays.copyOfRange(all, off.toInt, (off + len).toInt))
      assert(text.startsWith("WARC/1.1\r\n"), s"$codec slice is not a record start")
      assert(text.contains(s"WARC-Target-URI: ${r.getAs[String]("original")}"),
        s"$codec member at $off does not hold ${r.getAs[String]("original")}")
    }
    idx.unpersist()
   }
  }

  test("merge: two crawls' indexes interleave sorted; exact duplicate captures collapse") {
    val dirA = Files.createTempDirectory("cdx-merge-a").toString
    val dirB = Files.createTempDirectory("cdx-merge-b").toString
    writeWarc(responses(20), dirA)
    writeWarc(responses(30), dirB) // first 20 = same captures
    val a = graft.jobs.CdxIndex.lines(spark, dirA)
    val b = graft.jobs.CdxIndex.lines(spark, dirB)
    val merged = graft.jobs.CdxIndex.merge(a, b)
    // the 20 overlapping captures (same urlkey/timestamp/digest) collapse
    assert(merged.count() === 30)
    // sorted-contract re-established per partition
    val perPart = merged.select(spark_partition_id().as("p"), col("urlkey"), col("timestamp"))
      .collect().groupBy(_.getInt(0))
    perPart.values.foreach { part =>
      val ks = part.map(r => (r.getString(1), r.getString(2))).toSeq
      assert(ks === ks.sorted)
    }
    // self-merge is idempotent
    assert(graft.jobs.CdxIndex.merge(b, b).count() === 30)
    // the documented master+delta case mixes SHAPES: a parse() frame (9
    // cols) with a lines() frame (10 cols incl. cdx_line) must merge
    val idxDir = Files.createTempDirectory("cdx-merge-idx").toString
    graft.jobs.CdxIndex.write(spark, dirA, idxDir)
    val master = graft.jobs.CdxIndex.parse(spark.read.text(idxDir))
    assert(graft.jobs.CdxIndex.merge(master, b).count() === 30)
  }

  test("zipnum: gzip-member blocks tile the shards; cluster.idx binary-search replays") {
    val warcDir = Files.createTempDirectory("zipnum-src").toString
    writeWarc(responses(40), warcDir, "maxRecordsPerFile" -> 15)
    val outDir = Files.createTempDirectory("zipnum-out").toString
    val cluster = graft.jobs.CdxIndex.writeZipnum(spark, warcDir, outDir, blockLines = 7)
    val rows = cluster.collect()
    assert(rows.map(_.getAs[Long]("length")).sum > 0)

    def gunzipBlock(r: org.apache.spark.sql.Row): Array[String] = {
      val all = Files.readAllBytes(Paths.get(outDir, r.getAs[String]("shard")))
      val off = r.getAs[Long]("offset").toInt
      val len = r.getAs[Long]("length").toInt
      new String(new GZIPInputStream(new java.io.ByteArrayInputStream(
        java.util.Arrays.copyOfRange(all, off, off + len))).readAllBytes(), "UTF-8")
        .split("\n")
    }

    // members tile each shard exactly; every non-final block holds blockLines
    // lines and opens with its indexed (block_key, block_ts)
    rows.groupBy(_.getAs[String]("shard")).foreach { case (shard, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("seq"))
      assert(sorted.map(_.getAs[Long]("length")).sum ===
        Files.size(Paths.get(outDir, shard)), s"members do not tile $shard")
      sorted.zipWithIndex.foreach { case (r, i) =>
        val ls = gunzipBlock(r)
        assert(ls.head.startsWith(r.getAs[String]("block_key") + " " +
          r.getAs[String]("block_ts") + " "))
        if (i < sorted.length - 1) assert(ls.length === 7)
      }
    }

    // binary-search replay: last block with (key, ts) <= target holds the line
    val target = graft.jobs.CdxIndex.lines(spark, warcDir)
      .select("cdx_line").orderBy("cdx_line").collect()(25).getString(0)
    val Array(tKey, tTs, _) = target.split(" ", 3)
    val hit = rows.filter { r =>
      val c = r.getAs[String]("block_key").compareTo(tKey)
      c < 0 || (c == 0 && r.getAs[String]("block_ts") <= tTs)
    }.maxBy(r => (r.getAs[String]("block_key"), r.getAs[String]("block_ts")))
    assert(gunzipBlock(hit).contains(target), s"binary-searched block misses: $target")

    // the text parts hold one row per block, tab-joined
    assert(spark.read.text(s"$outDir/cluster.idx").count() === rows.length)
  }

  test("zipnum: a shard task that fails mid-partition leaves no temp file") {
    val outDir = Files.createTempDirectory("cdx-zip-fail").toString
    val lines = spark.range(0, 40, 1, 1).select(
      when(col("id") === 25, raise_error(lit("planted cdx failure")))
        .otherwise(format_string("example,h%02d)/ 20231114221320 x", col("id")))
        .as("cdx_line"))
    // blocks 0-5 reach the attempt's temp file before row 25 raises
    intercept[Exception](graft.jobs.CdxIndex.writeZipnumLines(lines, outDir, blockLines = 4))
    val left = new java.io.File(outDir).list().toSeq
    assert(!left.exists(_.endsWith(".tmp")), left.mkString(", "))
  }

  test("nearest-capture lookup: parse round-trip, numeric-nearest pick, earlier-wins tie") {
    import spark.implicits._
    // 3 captures per url at ts ...20, ...40, ...41 (seconds field)
    val caps = spark.range(15).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:c"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Target-URI"), concat(lit("http://h"), (col("id") % 5).cast("string"),
          lit(".example/p")),
        lit("WARC-Date"), concat(lit("2023-11-14T22:13:"),
          element_at(array(lit("20"), lit("40"), lit("41")),
            floor(col("id") / 5).cast("int") + 1), lit("Z"))).as("headers"),
      concat(lit("HTTP/1.1 200 OK\r\n\r\nv"), col("id").cast("string"))
        .cast("binary").as("content"))
    val warcDir = Files.createTempDirectory("cdx-look-src").toString
    val idxDir = Files.createTempDirectory("cdx-look-idx").toString
    writeWarc(caps, warcDir)
    graft.jobs.CdxIndex.write(spark, warcDir, idxDir)

    val parsed = graft.jobs.CdxIndex.parse(spark.read.text(idxDir))
    assert(parsed.count() === 15)
    // target 22:13:41 -> exact hit on the :41 capture; target 22:13:30 is
    // equidistant to :20 and :40 -> earlier (:20) must win
    val targets = Seq(
      ("http://h1.example/p", 20231114221341L),
      ("http://h2.example/p", 20231114221330L)).toDF("url", "ts")
    val got = graft.jobs.CdxIndex.nearestCaptures(parsed, targets)
      .select("urlkey", "capture_ts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("example,h1)/p") === 20231114221341L)
    assert(got("example,h2)/p") === 20231114221320L)

    // random access through the LOOKUP result: the picked member replays
    val hit = graft.jobs.CdxIndex.nearestCaptures(parsed, targets)
      .filter(col("urlkey") === "example,h1)/p").collect().head
    val file = Files.list(Paths.get(warcDir))
      .filter(_.getFileName.toString == hit.getAs[String]("filename")).findFirst().orElseThrow()
    val all = Files.readAllBytes(file)
    val off = hit.getAs[String]("offset").toLong.toInt
    val len = hit.getAs[String]("length").toLong.toInt
    val text = new String(new GZIPInputStream(new java.io.ByteArrayInputStream(
      java.util.Arrays.copyOfRange(all, off, off + len))).readAllBytes(), "UTF-8")
    assert(text.contains("WARC-Target-URI: http://h1.example/p"))
    assert(text.contains("WARC-Date: 2023-11-14T22:13:41Z"))
  }
}
