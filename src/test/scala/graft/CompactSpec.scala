package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.WarcDigest.warc_sha1_b32

/** Retroactive dedup (Compact.compact) and replay reconstruction
  * (Compact.resolve): earliest-wins winners, §6.7.2 revisit shape,
  * VerifyWarc-clean output, byte-exact round-trip, smaller bytes. */
class CompactSpec extends SparkSpec {

  private val N = 24 // 8 payload classes x 3 copies

  /** Full HTTP blocks, payload class = id % 8, capture dates scrambled so
    * the earliest copy is NOT the lowest id; plus 2 bare-payload responses
    * sharing one digest and a metadata passthrough record. */
  private def buildArchive(dir: String): Unit = {
    val payload = concat(lit("shared payload "), (col("id") % 8).cast("string"))
    val block = concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-Cache: m"),
      col("id").cast("string"), lit("\r\n\r\n"), payload)
    val date = concat(lit("2023-11-14T22:"),
      lpad(((col("id") * 7) % 60).cast("string"), 2, "0"), lit(":00Z"))
    val http = spark.range(N).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:rsp"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Target-URI"), concat(lit("http://h"), (col("id") % 5).cast("string"),
          lit(".example/p"), col("id").cast("string")),
        lit("WARC-Date"), date,
        lit("WARC-Payload-Digest"), warc_sha1_b32(payload),
        lit("Content-Type"), lit("application/http; msgtype=response")).as("headers"),
      block.cast("binary").as("content"))
    val bare = spark.range(2).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:bare"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Target-URI"), concat(lit("http://bare.example/"), col("id").cast("string")),
        lit("WARC-Date"), concat(lit("2023-11-14T23:0"), col("id").cast("string"), lit(":00Z")),
        lit("WARC-Payload-Digest"), warc_sha1_b32(lit("bare bytes"))).as("headers"),
      lit("bare bytes").cast("binary").as("content"))
    val meta = spark.range(1).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), lit("<urn:uuid:meta0>"),
        lit("WARC-Type"), lit("metadata"),
        lit("WARC-Date"), lit("2023-11-14T22:00:00Z")).as("headers"),
      lit("via: somewhere").cast("binary").as("content"))
    writeWarc(http.unionByName(bare).unionByName(meta), dir)
  }

  private def scan(dir: String) =
    spark.read.format("graft.sources.WarcDataSource").load(dir)

  test("compact: earliest wins, revisit shape, verify-clean, fewer bytes; resolve round-trips") {
    val src = Files.createTempDirectory("compact-src").toString
    val out = Files.createTempDirectory("compact-out").toString
    buildArchive(src)
    graft.jobs.Compact.write(spark, src, out, sizeThreshold = 1)

    val original = scan(src).filter(col("warc_type") =!= "warcinfo").cache()
    val compacted = scan(out).filter(col("warc_type") =!= "warcinfo").cache()

    // shape: 8 http winners + 1 bare winner + metadata stay; 16 + 1 revisits
    assert(compacted.filter(col("warc_type") === "response").count() === 9)
    assert(compacted.filter(col("warc_type") === "revisit").count() === 17)
    assert(compacted.filter(col("warc_type") === "metadata").count() === 1)

    // independently computed earliest-wins winner per digest
    val expWinner = original.filter(col("warc_type") === "response")
      .select("payload_digest", "warc_date", "record_id").collect()
      .groupBy(_.getString(0))
      .map { case (d, rs) => d -> rs.map(r => (r.getString(1), r.getString(2))).min._2 }
    val revisits = compacted.filter(col("warc_type") === "revisit").collect()
    revisits.foreach { r =>
      assert(r.getAs[String]("refers_to") === expWinner(r.getAs[String]("payload_digest")),
        s"wrong winner for ${r.getAs[String]("record_id")}")
      assert(r.getAs[String]("profile") === graft.fetch.Fetch.RevisitProfile)
      assert(r.getAs[String]("truncated") === "length")
      val c = new String(r.getAs[Array[Byte]]("content"), "UTF-8")
      if (r.getAs[String]("record_id").startsWith("<urn:uuid:bare"))
        assert(c.isEmpty, "bare-payload revisit must store an empty block")
      else {
        assert(c.endsWith("\r\n\r\n") && !c.contains("shared payload"),
          s"revisit block not headers-only: $c")
        assert(c.contains(s"X-Cache: m${r.getAs[String]("record_id").stripPrefix("<urn:uuid:rsp").stripSuffix(">")}"),
          "revisit must keep its OWN fetch's HTTP headers")
      }
    }

    // the whole compacted archive verifies (block digests over the cut
    // blocks; revisit payload checks correctly skipped)
    val bad = graft.jobs.VerifyWarc.recordChecks(scan(out))
      .filter(!col("record_valid")).count()
    assert(bad === 0, "compacted archive fails verification")

    // bytes shrink
    def dirBytes(d: String) = Files.list(java.nio.file.Paths.get(d)).toArray
      .map(p => Files.size(p.asInstanceOf[java.nio.file.Path])).sum
    assert(dirBytes(out) < dirBytes(src), "compaction did not shrink the archive")

    // resolve: every record back to a full response, byte-identical content
    val resolvedDir = Files.createTempDirectory("compact-resolved").toString
    graft.jobs.Compact.resolveRows(spark, out)
      .write.format("graft.sources.WarcDataSource").mode("append")
      .option("compression", "gzip").save(resolvedDir)
    val resolved = scan(resolvedDir).filter(col("warc_type") === "response")
    assert(resolved.count() === N + 2)
    val origById = original.filter(col("warc_type") === "response")
      .select("record_id", "content").collect()
      .map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    resolved.select("record_id", "content", "payload_digest").collect().foreach { r =>
      assert(new String(r.getAs[Array[Byte]]("content"), "UTF-8") === origById(r.getString(0)),
        s"${r.getString(0)} did not round-trip")
    }
    // and the resolved records' payload digests verify against their own
    // content again (the property compaction temporarily suspends)
    val badResolved = graft.jobs.VerifyWarc.recordChecks(scan(resolvedDir))
      .filter(!col("record_valid")).count()
    assert(badResolved === 0, "resolved archive fails verification")

    original.unpersist(); compacted.unpersist()
  }
}
