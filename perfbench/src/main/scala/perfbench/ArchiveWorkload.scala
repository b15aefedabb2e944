package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{CdxIndex, Crawl, VerifyWarc}
import graft.seen.SeenSetOps
import graft.sources.WarcSink
import graft.web.SyntheticWeb

/**
 * `archive_rw`: WARC writes beside WARC reads. Set-up runs a one-round crawl
 * and turns its `warc_rows` into WARC records whose content is rebuilt
 * byte for byte, so every stored block and payload digest verifies. The
 * seed picks which request/response pairs form the small delta set, and
 * which captured URLs the lookups ask for. One
 * operation writes the master and the delta through the DataSourceV2
 * writer, scans both back and validates them with `VerifyWarc.run`, builds
 * the master's zipnum CDX, merges the delta's lines into it with
 * `CdxIndex.merge`, and answers a batch of `nearestCaptures` lookups.
 */
final class ArchiveRw(ctx: Ctx) extends Workload {
  private val spark: SparkSession = ctx.spark
  private val shape = WebShape(pages = 20000, seeds = 16000, hosts = 64)
  private val crawlCfg = Crawl.Config(maxRounds = 1, perHostBudget = Int.MaxValue,
    numSlots = ctx.parts, dedupSizeThreshold = 32, numShards = 16, collectStats = false)
  private val DeltaShare = 20 // one pair in 20 goes to the delta
  private val Lookups = 256
  private val WarmUpCycles = 4
  private val Fmt = "graft.sources.WarcDataSource"

  def describe: String =
    s"pages=${shape.pages} seeds=${shape.seeds} hosts=${shape.hosts} crawl-rounds=${crawlCfg.maxRounds} " +
      s"delta=1/$DeltaShare of pairs lookups=$Lookups codec=gzip"

  private var dir: Path = _
  private def rd(n: String): DataFrame = spark.read.parquet(dir.resolve(n).toString)

  /** The HTTP message each record carried, rebuilt from the row's fields the
    * way `Fetch` built it (payload rendering, header block, request line). */
  private def content: Column = {
    val payload = SyntheticWeb.payloadExpr(col("spans"))
    val request = concat(lit("GET "),
      regexp_replace(col("target_uri"), lit("^[a-z]+://[^/]+"), lit("")),
      lit(" HTTP/1.1\r\nHost: "), col("host"),
      lit("\r\nUser-Agent: graft/0.1\r\nAccept-Encoding: identity\r\n\r\n"))
    val revisit = concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "),
      col("payload_size").cast("string"), lit("\r\n\r\n"))
    when(col("warc_type") === "request", request)
      .when(col("warc_type") === "revisit", revisit)
      .when(col("status") === 404, lit("HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\n"))
      .otherwise(concat(SyntheticWeb.headersExpr(payload), payload))
  }

  /** WARC record rows; responses are typed application/http so
    * `VerifyWarc` also checks their payload digests. */
  private def records(rows: DataFrame): DataFrame = {
    val shaped = WarcSink.toRecordColumns(rows, "content")
    val isResponse = element_at(col("headers"), "WARC-Type") === "response"
    shaped.withColumn("headers", when(isResponse,
      map_concat(col("headers"), map(lit("Content-Type"), lit("application/http;msgtype=response"))))
      .otherwise(col("headers")))
  }

  /** Set-up that does not depend on the seed, done once per run: the crawl
    * whose rows become the archive. */
  override def prepare(): Unit = {
    val d = ctx.fresh("archive-crawl")
    val pages = d.resolve("pages").toString
    SyntheticWeb.pages(spark, shape.pages, shape.hosts).write.parquet(pages)
    val res = Crawl.run(spark, spark.read.parquet(pages),
      SyntheticWeb.seeds(spark, shape.seeds, shape.pages, shape.hosts),
      Some(SyntheticWeb.robots(spark, shape.hosts)),
      Some(SyntheticWeb.doppelganger(spark, shape.pages, shape.hosts)),
      Some(SyntheticWeb.cdx(spark, shape.pages, shape.hosts)), crawlCfg)
    res.warcRows.write.parquet(d.resolve("warc_rows").toString)
    Util.releaseCached(spark)
  }

  private def crawled(n: String): DataFrame =
    spark.read.parquet(ctx.work.resolve("archive-crawl").resolve(n).toString)

  /** This seed's master and delta record sets. */
  override def fixtures(d: Path): Unit = {
    def out(df: DataFrame, n: String): Unit = df.write.mode("overwrite").parquet(d.resolve(n).toString)
    val warcRows = crawled("warc_rows")
    val rows = warcRows.withColumn("content", content).withColumn("delta", isDelta(ctx.seed))
    out(records(rows.filter(!col("delta"))), "master_src")
    out(records(rows.filter(col("delta"))), "delta_src")
    out(warcRows.select("pair_id").distinct(), "pairs")
    out(rows.filter(col("delta")).select("pair_id").distinct(), "delta_pairs")
    out(warcRows.filter(col("warc_type") === "response")
      .agg(sum("payload_size").as("payload_bytes")), "payload_bytes")
  }

  override def use(d: Path): Unit = dir = d

  /** The seed's delta: whole request/response pairs, one in `DeltaShare`. */
  private def isDelta(seed: Long): Column =
    pmod(xxhash64(lit(seed), col("pair_id")), lit(DeltaShare.toLong)) === 0

  override def seedInputs(seed: Long, d: Path): DataFrame =
    spark.read.parquet(d.resolve("pairs").toString).filter(isDelta(seed))
  override def inputFingerprint(d: Path): String =
    Util.frameHash(spark.read.parquet(d.resolve("delta_pairs").toString))

  // reference values, fixed by the warm-up operation
  private var expectScan: String = _
  private var expectCdx: String = _
  private var targets: DataFrame = _
  private var payloadBytes = 0L
  private var captures = 0L
  private var deltaIndexBytes = 0L

  /** Record count and digest multiset of the records (warcinfo excluded). */
  private def recordDigest(df: DataFrame, id: Column, digest: Column): String =
    Util.frameHash(df.select(id.as("id"), digest.as("digest")))

  private def scanOf(dirs: Seq[Path]): DataFrame =
    dirs.map(d => spark.read.format(Fmt).load(d.toString)).reduce(_ unionByName _)
      .filter(col("warc_type") =!= "warcinfo")

  private def cdxLines(d: Path): DataFrame = spark.read.text(d.resolve("cdx-*.gz").toString)

  /** The merged index's lines in file order must ascend by (urlkey, timestamp). */
  private def sortedShards(d: Path): Boolean = {
    val shards = Files.list(d).iterator().asScala.filter(_.getFileName.toString.matches("cdx-\\d+\\.gz"))
      .toVector.sortBy(_.getFileName.toString)
    var prev: (String, String) = null
    var ok = true
    shards.foreach { f =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(Files.newInputStream(f)), "UTF-8"))
      try {
        var line = in.readLine()
        while (line != null) {
          val fs = line.split(" ", 3)
          val k = (fs(0), fs(1))
          if (prev != null && Ordering[(String, String)].lt(k, prev)) ok = false
          prev = k
          line = in.readLine()
        }
      } finally in.close()
    }
    ok && shards.nonEmpty
  }

  private def cycle(traced: Boolean): (Map[String, Double], Seq[String]) = {
    val md = ctx.fresh("arch-master")
    val dd = ctx.fresh("arch-delta")
    val cm = ctx.fresh("arch-cdx-master")
    val cx = ctx.fresh("arch-cdx-merged")
    val w0 = System.nanoTime(); val c0 = Cost.cpuNs
    val (_, writeS) = ctx.step("sources.warc_write", traced) {
      rd("master_src").write.format(Fmt).option("prefix", "MASTER").mode("overwrite").save(md.toString)
      rd("delta_src").write.format(Fmt).option("prefix", "DELTA").mode("overwrite").save(dd.toString)
    }
    val (scan, scanS) = ctx.step("sources.warc_scan", traced) {
      recordDigest(scanOf(Seq(md, dd)), col("record_id"), col("block_digest"))
    }
    val (verified, verifyS) = ctx.step("jobs.verify", traced) {
      VerifyWarc.run(spark, md.toString).collect() ++ VerifyWarc.run(spark, dd.toString).collect()
    }
    val (_, buildS) = ctx.step("jobs.cdx_build", traced) {
      CdxIndex.writeZipnum(spark, md.toString, cm.toString)
    }
    val (_, mergeS) = ctx.step("jobs.cdx_merge", traced) {
      CdxIndex.writeZipnumLines(
        CdxIndex.merge(CdxIndex.parse(cdxLines(cm)), CdxIndex.lines(spark, dd.toString)), cx.toString)
    }
    val (hits, lookupS) = ctx.step("jobs.cdx_lookup", traced) {
      CdxIndex.nearestCaptures(CdxIndex.parse(cdxLines(cx)), targets).collect()
    }
    val wall = (System.nanoTime() - w0) / 1e9
    val cpu = (Cost.cpuNs - c0) / 1e9

    val warcBytes = Seq(md, dd).map(Util.bytesUnder(_, _.endsWith(".warc.gz"))).sum
    val written = Seq(md, dd).map(Util.bytesUnder(_, n => n.endsWith(".warc.gz") || n.endsWith(".idx"))).sum
    val cdxBytes = Util.bytesUnder(cx, n => n.startsWith("cdx-") || n.startsWith("part-"))
    val failures = Seq.newBuilder[String]
    if (scan != expectScan) failures += s"records read back $scan differ from records written $expectScan"
    val invalid = verified.count(r => !r.getAs[Boolean]("valid"))
    if (invalid > 0 || verified.isEmpty) failures += s"VerifyWarc reports $invalid invalid files"
    if (expectCdx == null) { // warm-up: the reference comes from the files just written
      expectCdx = Util.frameHash(
        CdxIndex.linesFrom(scanOf(Seq(md, dd))).select(col("cdx_line").as("value")))
      deltaIndexBytes = CdxIndex.lines(spark, dd.toString)
        .agg(sum(length(col("cdx_line")) + 1)).collect()(0).getLong(0)
    }
    val merged = Util.frameHash(cdxLines(cx))
    if (merged != expectCdx) failures += s"merged CDX $merged differs from lines over master+delta $expectCdx"
    if (!sortedShards(cx)) failures += "merged CDX is not sorted"
    if (hits.length != Lookups) failures += s"${hits.length} of $Lookups lookups found a capture"
    val stats = Map(
      "wall" -> wall, "cpu" -> cpu,
      "write_s" -> writeS, "scan_s" -> scanS, "verify_s" -> verifyS,
      "index_s" -> (buildS + mergeS + lookupS),
      "write_mb_per_s" -> written / 1e6 / writeS,
      "scan_mb_per_s" -> 2 * warcBytes / 1e6 / (scanS + verifyS),
      "bytes_per_payload_byte" -> (written + cdxBytes).toDouble / payloadBytes,
      "bytes_per_capture" -> (written + cdxBytes).toDouble / captures)
    (stats, failures.result())
  }

  override def warmUp(): WarmUp = {
    import spark.implicits._
    val src = rd("master_src").unionByName(rd("delta_src"))
    expectScan = recordDigest(src, element_at(col("headers"), "WARC-Record-ID"),
      element_at(col("headers"), "WARC-Block-Digest"))
    payloadBytes = rd("payload_bytes").collect()(0).getLong(0)
    val caps = src.filter(element_at(col("headers"), "WARC-Type").isin("response", "revisit"))
    captures = caps.count()
    // lookup batch: seed-ranked distinct captured URLs, each asked for the
    // capture nearest the crawl's capture time
    targets = caps.select(element_at(col("headers"), "WARC-Target-URI").as("url")).distinct()
      .orderBy(xxhash64(lit(ctx.seed), col("url")), col("url")).limit(Lookups)
      .collect().map(r => (r.getString(0), "20231114221320")).toSeq.toDF("url", "ts")
    // after these, measured cycles read the same CPU time from the first
    // one on
    val runs = (1 to WarmUpCycles).map(_ => cycle(traced = false))
    WarmUp(Cost(runs.map(_._1("wall")).sum, runs.map(_._1("cpu")).sum), runs.flatMap(_._2).distinct)
  }

  override def op(i: Int, traced: Boolean): OpOutcome = {
    val before = ctx.tracer.spans.size
    val (stats, failures) = cycle(traced)
    OpOutcome(stats("wall"), stats("cpu"), captures, stats("bytes_per_capture"), stats, failures, traced,
      ctx.tracer.spans.drop(before))
  }

  override def layerMetrics(traced: Seq[OpOutcome], plain: Seq[OpOutcome]): Map[String, Metric] = {
    def med(k: String) = Util.median(plain.flatMap(_.stats.get(k)))
    val mergeShuffle = Util.median(traced.map(o =>
      o.spans.filter(_.name == "jobs.cdx_merge").map(s => ctx.tracer.inclusive(s.id).shuffleBytes).sum.toDouble))
    Map(
      "archive.write_mb_per_s" -> Metric(med("write_mb_per_s"), "MB/s"),
      "archive.scan_mb_per_s" -> Metric(med("scan_mb_per_s"), "MB/s"),
      "archive.index_s" -> Metric(med("index_s"), "s"),
      "archive.bytes_per_payload_byte" -> Metric(med("bytes_per_payload_byte"), "ratio"),
      "jobs.cdx_merge.shuffle_per_delta_byte" -> Metric(mergeShuffle / deltaIndexBytes, "ratio"))
  }

  override def kernelInputs(): Kernels.Inputs = {
    val pages = crawled("pages")
    val captured = rd("master_src").select(element_at(col("headers"), "WARC-Target-URI").as("url_key"))
    Kernels.Inputs(
      urls = rd("master_src").select(element_at(col("headers"), "WARC-Target-URI").as("url")),
      payloads = pages.select(SyntheticWeb.payloadExpr(col("spans")).as("payload")),
      probeKeys = pages.select(col("url_key")),
      probeFilters = SeenSetOps.buildFilterTable(captured, "url_key", crawlCfg.numShards,
        crawlCfg.bloomBlocksPerShard, crawlCfg.cuckooBucketsPerShard, includeCuckoo = false)
        .df.select("shard", "bloom"),
      numShards = crawlCfg.numShards)
  }
}
