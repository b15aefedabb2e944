package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._


/** WET extraction (conversion records, WARC 1.1 §6.8): source linkage,
  * extracted-text content, recomputed digests, determinism. */
class WetSpec extends SparkSpec {

  private val Fmt = "graft.sources.WarcDataSource"

  private def htmlResponses(n: Int) = {
    spark.range(n).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:src"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Target-URI"), concat(lit("http://h"), (col("id") % 5).cast("string"),
          lit(".example/p"), col("id").cast("string")),
        lit("WARC-Date"), lit("2023-11-14T22:13:20Z")).as("headers"),
      concat(lit("<html><head><title>Page "), col("id").cast("string"),
        lit("</title><script>var i=1;</script></head><body><p>body of page "),
        col("id").cast("string"),
        lit(" &amp; entities</p></body></html>")).cast("string").as("content"))
  }

  test("WET: conversion records link back, carry extracted text, verify clean") {
    val warcDir = Files.createTempDirectory("wet-src").toString
    val wetDir = Files.createTempDirectory("wet-out").toString
    writeWarc(htmlResponses(40), warcDir, "maxRecordsPerFile" -> 15)

    graft.jobs.Wet.write(spark, warcDir, wetDir)
    val wet = spark.read.format(Fmt).load(wetDir).cache()
    val conv = wet.filter(col("warc_type") === "conversion")
    assert(conv.count() === 40)

    // §5.7 back-pointers: refers_to hits every source record id exactly once
    val refs = conv.select(col("refers_to")).collect().map(_.getString(0)).sorted
    assert(refs.toSeq === (0 until 40).map(i => s"<urn:uuid:src$i>").sorted)
    // scan projects header keys lowercased (P1 case-insensitive contract)
    val hdrs = conv.select(col("headers")).head().getMap[String, String](0)
    assert(hdrs.contains("warc-refers-to-target-uri") && hdrs.contains("warc-refers-to-date"))

    // content is the HtmlChain extraction of the source page
    val row = conv.filter(col("refers_to") === "<urn:uuid:src7>")
      .select(col("target_uri"), col("content").cast("string")).head()
    assert(row.getString(0) === "http://h2.example/p7")
    assert(row.getString(1) === "Page 7\nbody of page 7 & entities")

    // the writer recomputed block digests over the CONVERTED text — the full
    // verify pass (byte-level digest recompute) must come back clean
    val verify = graft.jobs.VerifyWarc.run(spark, wetDir).collect()
    assert(verify.nonEmpty)
    verify.foreach { r =>
      assert(r.getAs[Boolean]("valid"), r.toString)
      assert(r.getAs[Long]("digest_errors") === 0L, r.toString)
    }

    // deterministic: a second extraction yields the same record ids
    val wetDir2 = Files.createTempDirectory("wet-out2").toString
    graft.jobs.Wet.write(spark, warcDir, wetDir2)
    val ids1 = conv.select("record_id").collect().map(_.getString(0)).sorted.toSeq
    val ids2 = spark.read.format(Fmt).load(wetDir2)
      .filter(col("warc_type") === "conversion")
      .select("record_id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids1 === ids2)
    wet.unpersist()
  }
}
