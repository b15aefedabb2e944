package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{FetchEvent, StreamingOps}

/** Structured Streaming semantics (SURVEY §2.8): first-wins dedup state
  * across micro-batches, URL first-sightings, watermarked windowed metrics. */
class StreamingSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("streaming first-wins dedup: response then revisits across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FetchEvent]
    val q = StreamingOps.firstWinsDedup(input.toDS())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two distinct digests + one intra-batch duplicate
      input.addData(
        FetchEvent(ts(1), "http://a/1", "d1", 100, 200),
        FetchEvent(ts(2), "http://a/2", "d2", 120, 200),
        FetchEvent(ts(3), "http://b/1", "d1", 100, 200))
      q.processAllAvailable()
      // batch 2: d1 again from a third url — state must persist across batches
      input.addData(FetchEvent(ts(4), "http://c/9", "d1", 100, 200))
      q.processAllAvailable()

      val rows = spark.table("dedup_out").as[graft.streaming.DedupVerdict]
        .collect().sortBy(v => (v.ts.getTime, v.url))
      assert(rows.map(_.warcType).toSeq ===
        Seq("response", "response", "revisit", "revisit"))
      // both revisits refer to d1's first capture
      assert(rows.filter(_.warcType == "revisit").forall(_.refersToUrl == "http://a/1"))
      assert(rows.count(_.digest == "d1") === 3)
    } finally q.stop()
  }

  test("streaming url first-sightings emit each key once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val q = StreamingOps.firstSightings(input.toDS())
      .writeStream.format("memory").queryName("seen_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(("u1", ts(5)), ("u2", ts(1)), ("u1", ts(2)))
      q.processAllAvailable()
      input.addData(("u1", ts(9)), ("u3", ts(7)))
      q.processAllAvailable()
      val rows = spark.table("seen_out").as[(String, Timestamp)].collect().toMap
      assert(rows.keySet === Set("u1", "u2", "u3"))
      // u1's emitted ts is the min within its first micro-batch
      assert(rows("u1") === ts(2))
    } finally q.stop()
  }

  test("composed streaming frontier: canonicalize -> seen-dedup -> host budget across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val q = StreamingOps.frontierStream(
      input.toDF().toDF("url", "ts"), budgetPerHost = 2)
      .writeStream.format("memory").queryName("frontier_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: a denormalized duplicate (canonicalizes to h1's /p1) + two hosts
      input.addData(
        ("http://h1.example/p1", ts(1)),
        ("HTTP://H1.EXAMPLE:80/a/../p1", ts(2)), // same url_key after RFC 3986
        ("http://h1.example/p2", ts(3)),
        ("http://h2.example/p1", ts(4)))
      q.processAllAvailable()
      // batch 2: h1 is at budget (2) — /p3 must be dropped; an exact duplicate
      // of h2/p1 must be suppressed by the seen state; h2/p2 still has room
      input.addData(
        ("http://h1.example/p3", ts(5)),
        ("http://h2.example/p1", ts(6)),
        ("http://h2.example/p2", ts(7)))
      q.processAllAvailable()

      val rows = spark.table("frontier_out").as[(String, String, Timestamp)]
        .collect().map(_._1).sorted.toSeq
      assert(rows === Seq(
        "http://h1.example/p1", "http://h1.example/p2",
        "http://h2.example/p1", "http://h2.example/p2"))
    } finally q.stop()
  }

  test("streaming WARC source: new files become micro-batches exactly once") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("warcsrcstream").toString
    def mkRows(tag: String, n: Int) = spark.range(n).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit(s"<urn:uuid:$tag"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("resource")).as("headers"),
      concat(lit(s"$tag-"), col("id").cast("string")).cast("string").as("content"))
    // generation 1 lands before the stream starts
    writeWarc(mkRows("g1", 30).coalesce(1), dir, "tsCompact" -> "20240101000000000")

    val q = spark.readStream.format("graft.sources.WarcDataSource")
      .option("maxPartitionBytes", "4096").load(dir)
      .filter(col("warc_type") === "resource")
      .select(col("record_id"), col("content").cast("string").as("content"))
      .writeStream.format("memory").queryName("warc_stream_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("warc_stream_out").count() === 30)
      // generation 2 arrives mid-stream (distinct tsCompact: no name clash)
      writeWarc(mkRows("g2", 20).coalesce(1), dir, "tsCompact" -> "20240101000100000")
      q.processAllAvailable()
      val rows = spark.table("warc_stream_out")
      assert(rows.count() === 50) // each file consumed exactly once
      assert(rows.select("record_id").distinct().count() === 50)
      // nothing new -> no duplicate re-reads
      q.processAllAvailable()
      assert(spark.table("warc_stream_out").count() === 50)
    } finally q.stop()
  }

  test("streaming WARC sink: per-batch file sets, all records scan back") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("warcstream").toString
    val input = MemoryStream[(String, String)] // (record_id_seed, payload)
    val records = input.toDF().toDF("rid", "payload").select(
      org.apache.spark.sql.functions.lit("WARC/1.1").as("version"),
      org.apache.spark.sql.functions.map(
        org.apache.spark.sql.functions.lit("WARC-Record-ID"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("<urn:uuid:s"),
          org.apache.spark.sql.functions.col("rid"),
          org.apache.spark.sql.functions.lit(">")),
        org.apache.spark.sql.functions.lit("WARC-Type"),
        org.apache.spark.sql.functions.lit("resource")).as("headers"),
      org.apache.spark.sql.functions.col("payload").as("content"))
    val q = StreamingOps.warcFileSink(records, dir, compression = "gzip").start()
    try {
      input.addData(("1", "pay-1"), ("2", "pay-2"))
      q.processAllAvailable()
      input.addData(("3", "pay-3"))
      q.processAllAvailable()
    } finally q.stop()

    // one SUBDIRECTORY of files per micro-batch, batch id in dir and prefix
    val batchDirs = new java.io.File(dir).list().filter(_.startsWith("batch="))
    assert(batchDirs.toSet === Set("batch=0", "batch=1"), batchDirs.mkString(","))
    val files = batchDirs.flatMap(b => new java.io.File(s"$dir/$b").list())
      .filter(_.endsWith(".warc.gz"))
    assert(files.exists(_.startsWith("GRAFT-b0-")) && files.exists(_.startsWith("GRAFT-b1-")),
      files.mkString(","))
    val back = spark.read.format("graft.sources.WarcDataSource").load(dir)
    import org.apache.spark.sql.functions.col
    assert(back.filter(col("warc_type") === "resource").count() === 3)
    assert(back.filter(col("warc_type") === "warcinfo").count() === files.length)
    val payloads = back.filter(col("warc_type") === "resource")
      .select(col("content").cast("string")).as[String].collect().toSet
    assert(payloads === Set("pay-1", "pay-2", "pay-3"))
  }

  test("watermarked windowed fetch metrics aggregate counts and bytes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FetchEvent]
    val q = StreamingOps.windowedFetchMetrics(input.toDF(), "1 minute", "5 minutes")
      .writeStream.format("memory").queryName("metrics_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        FetchEvent(ts(0), "u1", "d1", 100, 200),
        FetchEvent(ts(10), "u2", "d2", 50, 200),
        FetchEvent(ts(20), "u3", "d3", 7, 404))
      q.processAllAvailable()
      val rows = spark.table("metrics_out")
        .select("status", "n", "bytes").as[(Int, Long, Long)].collect().toSet
      assert(rows === Set((200, 2L, 150L), (404, 1L, 7L)))
    } finally q.stop()
  }

  test("streaming LM scoring: a doc stream scores against a statically-trained model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the quality-filter deployment shape: train the bigram LM ONCE on a
    // static reference corpus, then score arriving documents continuously —
    // the score path is stream-static joins (broadcast umap + model) plus a
    // per-doc aggregation, all supported streaming constructs
    val trainCorpus = Seq((100L, "a b a b a"), (101L, "b a b a")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val scored = graft.ops.TextOps.ngramLmPerplexity(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      minCount = 2, train = Some(trainCorpus))
    val q = scored.writeStream.format("memory").queryName("lm_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((1L, "a b a"), (2L, "a q b"))
      q.processAllAvailable()
      input.addData((3L, "b a"))
      q.processAllAvailable()
      val got = spark.table("lm_out")
        .select("doc_id", "n_bigrams", "avg_logp", "ppl")
        .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
      // batch scoring of the same docs against the same model is the oracle
      val batch = graft.ops.TextOps.ngramLmPerplexity(
        Seq((1L, "a b a"), (2L, "a q b"), (3L, "b a")).toDF("doc_id", "text"),
        "doc_id", "text", minCount = 2, train = Some(trainCorpus))
        .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
      assert(got === batch)
      assert(got.map(_._1) === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming CDX: landing-dir archives index continuously; merge folds the deltas") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("cdxstream").toString
    def mkResponses(tag: String, n: Int) = spark.range(n).select(
      lit("WARC/1.1").as("version"),
      map(
        lit("WARC-Record-ID"), concat(lit(s"<urn:uuid:$tag"), col("id").cast("string"), lit(">")),
        lit("WARC-Type"), lit("response"),
        lit("WARC-Target-URI"), concat(lit(s"http://$tag.example/p"), col("id").cast("string")),
        lit("WARC-Date"), lit("2024-01-01T00:00:00Z")).as("headers"),
      concat(lit("HTTP/1.1 200 OK\r\n\r\nb"), col("id").cast("string"))
        .cast("binary").as("content"))
    writeWarc(mkResponses("ga", 12).coalesce(1), dir, "tsCompact" -> "20240101000000000")

    val q = graft.jobs.CdxIndex.linesFrom(
      spark.readStream.format("graft.sources.WarcDataSource").load(dir))
      .select("cdx_line")
      .writeStream.format("memory").queryName("cdx_stream_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdx_stream_out").count() === 12)
      writeWarc(mkResponses("gb", 8).coalesce(1), dir, "tsCompact" -> "20240101000100000")
      q.processAllAvailable()
      // streamed delta lines == the batch index over the same dir (order aside)
      val streamed = spark.table("cdx_stream_out")
        .collect().map(_.getString(0)).sorted.toSeq
      val batch = graft.jobs.CdxIndex.lines(spark, dir)
        .select("cdx_line").collect().map(_.getString(0)).sorted.toSeq
      assert(streamed === batch && streamed.length === 20)
      // merge re-establishes the sorted contract over the parsed deltas
      val merged = graft.jobs.CdxIndex.merge(graft.jobs.CdxIndex.parse(
        spark.table("cdx_stream_out"), "cdx_line"))
      assert(merged.count() === 20)
    } finally q.stop()
  }

  test("streaming classifier scoring: doc stream scored against a static model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deploy shape of the learned quality gate: train ONCE on a labeled
    // batch, score arriving docs continuously; scoreStream is the one-
    // aggregation variant (token rows -> stream-static broadcast model join
    // -> one groupBy), the supported streaming shape
    val labeled = Seq(
      (100L, "good solid prose here", 1), (101L, "spam junk buy now", 0),
      (102L, "good fine prose too", 1), (103L, "junk spam now cheap", 0))
      .toDF("id", "text", "y")
    val model = graft.ops.Classifier.train(labeled, "id", "text", "y",
      dim = 64, epochs = 20, lr = 4.0).cache()
    model.count()
    val input = MemoryStream[(Long, String)]
    val scored = graft.ops.Classifier.scoreStream(
      input.toDF().toDF("id", "text"), "id", "text", model, dim = 64)
    val q = scored.writeStream.format("memory").queryName("clf_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((1L, "good prose"), (2L, "spam junk"))
      q.processAllAvailable()
      input.addData((3L, "solid good"))
      q.processAllAvailable()
      val got = spark.table("clf_out").as[(Long, Double)].collect().sortBy(_._1).toSeq
      // batch run of the same path on the same rows is the oracle
      val batch = graft.ops.Classifier.scoreStream(
        Seq((1L, "good prose"), (2L, "spam junk"), (3L, "solid good"))
          .toDF("id", "text"), "id", "text", model, dim = 64)
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
      assert(got === batch)
      // and the learned direction survives the stream
      val m = got.toMap
      assert(m(1L) > 0.6 && m(3L) > 0.6 && m(2L) < 0.4, got.toString)
    } finally q.stop()
  }
}
