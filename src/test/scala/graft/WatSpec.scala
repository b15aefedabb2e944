package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._


/** WAT extraction (metadata records, WARC 1.1 §6.6): JSON envelopes that a
  * REAL parser (from_json) round-trips — titles with quotes/backslashes/
  * newlines exercise the escape chain — plus back-pointer linkage. */
class WatSpec extends SparkSpec {

  private val Fmt = "graft.sources.WarcDataSource"

  private def htmlResponses(n: Int) = {
    // titles deliberately carry JSON-hostile characters
    spark.range(n).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:src"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Target-URI"), concat(lit("http://h"), (col("id") % 5).cast("string"),
          lit(".example/p"), col("id").cast("string")),
        lit("WARC-Date"), lit("2023-11-14T22:13:20Z")).as("headers"),
      concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
        lit("<html><head><title>T\"quote\" \\back\nline "), col("id").cast("string"),
        lit("</title></head><body><a href=\"/a"), col("id").cast("string"),
        lit("\">x</a><a href='rel"), col("id").cast("string"),
        lit(".html'>y</a></body></html>")).cast("binary").as("content"))
  }

  private val envSchema = StructType(Seq(StructField("Envelope", StructType(Seq(
    StructField("Format", StringType),
    StructField("WARC-Header-Metadata", StructType(Seq(
      StructField("WARC-Record-ID", StringType),
      StructField("WARC-Date", StringType),
      StructField("WARC-Type", StringType),
      StructField("WARC-Target-URI", StringType),
      StructField("Content-Length", LongType)))),
    StructField("Payload-Metadata", StructType(Seq(
      StructField("HTTP-Response-Metadata", StructType(Seq(
        StructField("Response-Message", StructType(Seq(StructField("Status", IntegerType)))),
        StructField("Headers", StructType(Seq(StructField("Content-Type", StringType)))),
        StructField("HTML-Metadata", StructType(Seq(
          StructField("Head", StructType(Seq(StructField("Title", StringType)))),
          StructField("Links", ArrayType(StructType(Seq(StructField("url", StringType)))))))))))))))))))

  test("WAT: envelopes parse back via from_json with exact fields and linkage") {
    val warcDir = Files.createTempDirectory("wat-src").toString
    val watDir = Files.createTempDirectory("wat-out").toString
    writeWarc(htmlResponses(30), warcDir, "maxRecordsPerFile" -> 12)

    graft.jobs.Wat.write(spark, warcDir, watDir)
    val wat = spark.read.format(Fmt).load(watDir).cache()
    val meta = wat.filter(col("warc_type") === "metadata")
    assert(meta.count() === 30)

    // strict-mode parse: a malformed envelope (bad escaping) nulls out
    val parsed = meta.select(col("refers_to"), col("target_uri"),
      from_json(col("content").cast("string"), envSchema,
        Map("mode" -> "FAILFAST")).as("env")).cache()
    assert(parsed.filter(col("env").isNull).count() === 0, "unparseable envelope")

    val rows = parsed.select(
      col("env.Envelope.Format"),
      col("env.Envelope.WARC-Header-Metadata.WARC-Record-ID"),
      col("refers_to"),
      col("env.Envelope.Payload-Metadata.HTTP-Response-Metadata.Response-Message.Status"),
      col("env.Envelope.Payload-Metadata.HTTP-Response-Metadata.Headers.Content-Type"),
      col("env.Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata.Head.Title"),
      col("env.Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata.Links.url"),
      col("target_uri")).collect()
    rows.foreach { r =>
      assert(r.getString(0) === "WARC")
      // envelope's header metadata echoes the SOURCE record id = refers_to
      assert(r.getString(1) === r.getString(2))
      assert(r.getInt(3) === 200)
      assert(r.getString(4) === "text/html; charset=utf-8")
      val title = r.getString(5)
      assert(title.startsWith("T\"quote\" \\back\nline "), s"title <$title>")
      val id = title.split(" ").last
      assert(r.getSeq[String](6) === Seq(s"/a$id", s"rel$id.html"))
      assert(r.getString(7).endsWith(s"/p$id"))
    }

    // deterministic ids: re-extraction is byte-identical
    val again = Files.createTempDirectory("wat-out2").toString
    graft.jobs.Wat.write(spark, warcDir, again)
    val a = spark.read.format(Fmt).load(watDir)
      .select("record_id", "content").collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), "UTF-8"))).sortBy(_._1)
    val b = spark.read.format(Fmt).load(again)
      .select("record_id", "content").collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), "UTF-8"))).sortBy(_._1)
    assert(a === b)
    parsed.unpersist(); wat.unpersist()
  }
}
