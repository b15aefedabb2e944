package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.jobs.{Extract, VerifyWarc}
import graft.warc.HttpExprs

/** A3 verify job + K8 extract sink + HTTP expressions. */
class ExtractVerifySpec extends SparkSpec {

  private def writeSample(dir: String, corruptDigest: Boolean): Unit = {
    import spark.implicits._
    val rows = spark.range(20).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:v"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Date"), lit("2023-11-14T22:13:20Z"),
        lit("WARC-Block-Digest"),
        if (corruptDigest) lit("sha1:WRONGWRONGWRONGWRONGWRONGWRONGWR")
        else graft.functions.WarcDigest.warc_sha1_b32(concat(lit("body-"), col("id").cast("string")))).as("headers"),
      concat(lit("body-"), col("id").cast("string")).cast("string").as("content"))
    writeWarc(rows.coalesce(1), dir)
  }

  test("VerifyWarc: valid file aggregates clean; corrupt digests are counted") {
    val good = Files.createTempDirectory("vgood").toString
    val bad = Files.createTempDirectory("vbad").toString
    writeSample(good, corruptDigest = false)
    writeSample(bad, corruptDigest = true)
    val g = VerifyWarc.run(spark, good).head()
    assert(g.getAs[Long]("record_count") === 21) // 20 + leading warcinfo
    assert(g.getAs[Long]("digest_errors") === 0)
    assert(g.getAs[Boolean]("has_warcinfo")) // sink emits one per file
    assert(g.getAs[Boolean]("valid"))
    val b = VerifyWarc.run(spark, bad).head()
    assert(b.getAs[Long]("digest_errors") === 20) // warcinfo digest is correct
    assert(!b.getAs[Boolean]("valid"))
  }

  private def httpRows(payloadDigest: org.apache.spark.sql.Column) =
    spark.range(10).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit("<urn:uuid:p"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Date"), lit("2023-11-14T22:13:20Z"),
        lit("Content-Type"), lit("application/http;msgtype=response"),
        lit("WARC-Payload-Digest"), payloadDigest).as("headers"),
      concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nbody-"),
        col("id").cast("string")).cast("string").as("content"))

  test("VerifyWarc: payload digest recomputed over the HTTP body (verify.go:125-187)") {
    val goodDigest = graft.functions.WarcDigest.warc_sha1_b32(
      concat(lit("body-"), col("id").cast("string")))
    val good = Files.createTempDirectory("pgood").toString
    val bad = Files.createTempDirectory("pbad").toString
    writeWarc(httpRows(goodDigest).coalesce(1), good)
    writeWarc(httpRows(lit("sha1:WRONGWRONGWRONGWRONGWRONGWRONGWR")).coalesce(1), bad)
    val g = VerifyWarc.run(spark, good).head()
    assert(g.getAs[Long]("payload_digest_errors") === 0)
    assert(g.getAs[Boolean]("valid"))
    val b = VerifyWarc.run(spark, bad).head()
    assert(b.getAs[Long]("payload_digest_errors") === 10)
    assert(b.getAs[Long]("digest_errors") === 0) // block vs payload distinguished
    assert(!b.getAs[Boolean]("valid"))
  }

  test("VerifyWarc: payload digest scope — non-HTTP records skipped; unparseable HTTP flagged") {
    import spark.implicits._
    val rows = Seq(
      // resource record (not application/http): payload digest is NOT checked
      ("<urn:uuid:s1>", "text/plain", "sha1:WRONGWRONGWRONGWRONGWRONGWRONGWR", "plain bytes"),
      // claims HTTP but has no header terminator: unverifiable -> payload error
      ("<urn:uuid:s2>", "application/http;msgtype=response",
        "sha1:WRONGWRONGWRONGWRONGWRONGWRONGWR", "HTTP/1.1 200 OK no terminator"))
      .toDF("rid", "ct", "pd", "content")
      .select(lit("WARC/1.1").as("version"),
        map(lit("WARC-Record-ID"), col("rid"), lit("WARC-Type"), lit("response"),
          lit("WARC-Date"), lit("2023-11-14T22:13:20Z"),
          lit("Content-Type"), col("ct"),
          lit("WARC-Payload-Digest"), col("pd")).as("headers"),
        col("content"))
    val dir = Files.createTempDirectory("pscope").toString
    writeWarc(rows.coalesce(1), dir)
    val r = VerifyWarc.run(spark, dir).head()
    assert(r.getAs[Long]("payload_digest_errors") === 1) // only the unparseable one
  }

  test("Extract.writeFiles: host dirs, collision digest-suffix, traversal guard") {
    import spark.implicits._
    val df = Seq(
      ("<urn:uuid:1>", "h1", "a.html", "content-one"),
      ("<urn:uuid:2>", "h1", "a.html", "content-two"), // collision -> suffix
      ("<urn:uuid:3>", "h2", "b/nested.html", "content-three")) // '/' sanitized
      .toDF("record_id", "host", "fname", "content")
    val out = Files.createTempDirectory("extract").toString
    val n = Extract.writeFiles(df, out, col("fname"), col("host"), col("content"))
    assert(n === 3)
    val h1 = new java.io.File(s"$out/h1").list().sorted
    assert(h1.length === 2)
    assert(h1.contains("a.html"))
    assert(h1.exists(f => f.startsWith("a.html[") && f.endsWith("]")))
    assert(new java.io.File(s"$out/h2").list().toSeq === Seq("b_nested.html"))
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(s"$out/h1/a.html"))) === "content-one")
  }

  test("HttpExprs: request detection, status, header parse, target URI") {
    import spark.implicits._
    val df = Seq(
      ("GET /p HTTP/1.1", "HTTP/1.1 301 Moved\r\nLocation: /x\r\nhost: H\r\n\r\n"),
      ("BREW /pot HTTP/1.1", "HTTP/1.1 404 Not Found\r\n\r\n"),
      ("GET /p HTTP/2", "junk")).toDF("line", "resp")
    val r = df.select(
      HttpExprs.isHttpRequest(col("line")).as("is_req"),
      HttpExprs.parseStatus(col("resp")).as("status"),
      HttpExprs.parseHttpHeader(col("resp"), "LOCATION").as("loc")).collect()
    assert(r(0).getBoolean(0) && r(0).getInt(1) === 301 && r(0).getString(2) === "/x")
    assert(!r(1).getBoolean(0) && r(1).getInt(1) === 404)
    assert(!r(2).getBoolean(0))

    val uri = Seq("GET /a/b HTTP/1.1\r\nHost: example.org\r\n\r\n",
      "GET http://abs.example/x HTTP/1.1\r\nHost: ignored\r\n\r\n")
      .toDF("req").select(HttpExprs.targetUri(col("req"))).collect()
    assert(uri(0).getString(0) === "http://example.org/a/b")
    assert(uri(1).getString(0) === "http://abs.example/x") // idempotent (dialer.go:927-931)
  }
}
