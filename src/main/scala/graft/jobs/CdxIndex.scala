package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SurtKey.surt_key

/**
 * CDX index generation — the archive's replay/lookup index (the classic
 * 11-field ` CDX N b a m s k r M S V g` line format the reference's CDX
 * dedup tier consumes, dedupe.go:52-94; this job is the PRODUCER side: a
 * crawl's output indexed so the next crawl — or a wayback — can look it up).
 * One line per captured record: SURT url key, 14-digit timestamp, original
 * URI, MIME (parameters stripped), HTTP status, payload digest, compressed
 * member length + offset, and source filename. Offsets come from the
 * byte-counting reader's member coordinates (`member_offset`/`member_size`,
 * read.go:319-341) — CdxIndexSpec proves them by RANDOM-ACCESS re-reading
 * every indexed member and matching the record inside.
 *
 * Scale shape: scan → narrow line construction → ONE range-partitioned sort
 * (a CDX index is sorted by definition — binary-searchable without a
 * database). No other shuffle. The timestamp is a pure string transform of
 * the ISO date (timezone-proof), never a session-zone parse.
 */
object CdxIndex {

  /** Indexable capture types (requests/metadata/warcinfo are not replayed). */
  private val Indexed = Seq("response", "revisit", "resource")

  /** One sorted line per captured record under `warcDir`, as columns
    * (urlkey..filename) plus the assembled `cdx_line`. */
  def lines(spark: SparkSession, warcDir: String): DataFrame =
    linesFrom(spark.read.format("graft.sources.WarcDataSource").load(warcDir))
      // the sorted-index contract: range partition + in-partition sort, the
      // 1000-executor shape (a single-partition orderBy would serialize)
      .repartitionByRange(col("urlkey"), col("timestamp"))
      .sortWithinPartitions("urlkey", "timestamp")

  /** Line construction WITHOUT the global sort — every transform is narrow,
    * so this also runs on the STREAMING source (`readStream` over a landing
    * directory → unsorted delta lines per micro-batch; [[merge]] is the
    * batch compactor that folds deltas into the sorted master index). */
  def linesFrom(records: DataFrame): DataFrame = {
    val recs = records.filter(col("warc_type").isin(Indexed: _*))
    val rawStr = col("content").cast("string")
    val httpMime = regexp_extract(
      graft.warc.HttpExprs.parseHttpHeader(rawStr, "Content-Type"), "^[^;]*", 0)
    val recMime = regexp_extract(
      coalesce(element_at(col("headers"), "content-type"), lit("")), "^[^;]*", 0)
    val staged = recs.select(
      surt_key(col("target_uri")).as("urlkey"),
      regexp_replace(col("warc_date"), "[-:TZ]", "").as("timestamp"),
      col("target_uri").as("original"),
      coalesce(nullif(trim(httpMime), lit("")), nullif(trim(recMime), lit("")),
        lit("-")).as("mimetype"),
      coalesce(graft.warc.HttpExprs.parseStatus(rawStr).cast("string"), lit("-"))
        .as("statuscode"),
      coalesce(nullif(col("payload_digest"), lit("")), lit("-")).as("digest"),
      when(col("member_size") >= 0, col("member_size").cast("string")).otherwise(lit("-"))
        .as("length"),
      when(col("member_offset") >= 0, col("member_offset").cast("string")).otherwise(lit("-"))
        .as("offset"),
      regexp_extract(col("source_file"), "[^/]+$", 0).as("filename"))
    staged
      .withColumn("cdx_line", concat_ws(" ",
        col("urlkey"), col("timestamp"), col("original"), col("mimetype"),
        col("statuscode"), col("digest"), lit("-"), lit("-"),
        col("length"), col("offset"), col("filename")))
  }

  /** Write the sorted index as text part-files (` CDX N b a m s k r M S V g`
    * header convention is the consumer's to prepend; parts stay mergeable). */
  def write(spark: SparkSession, warcDir: String, outDir: String): Unit =
    lines(spark, warcDir).select("cdx_line").write.mode("overwrite").text(outDir)

  /**
   * Merge sorted indexes (the incremental-crawl maintenance op: last
   * month's index + this crawl's delta → one sorted index). Inputs are
   * parsed/columnar frames (from [[lines]] or [[parse]]); exact duplicate
   * captures — same (urlkey, timestamp, digest) — collapse, keeping the
   * lexicographically-least remaining fields (deterministic). One
   * range-partitioned sort re-establishes the binary-searchable contract;
   * the dedup is a map-side-combinable `min(struct)`, never a window.
   */
  def merge(indexes: DataFrame*): DataFrame = {
    require(indexes.nonEmpty, "merge needs at least one index")
    val rest = Seq("original", "mimetype", "statuscode", "length", "offset", "filename")
    val fields = Seq("urlkey", "timestamp", "digest") ++ rest
    // project to the 9 shared fields first: lines() frames carry the extra
    // cdx_line column while parse() frames don't — a raw unionByName across
    // the two shapes (the documented master+delta case) would fail analysis
    val all = indexes.map(_.select(fields.map(col): _*)).reduce(_ unionByName _)
    all.groupBy(col("urlkey"), col("timestamp"), col("digest"))
      .agg(min(struct(rest.map(col): _*)).as("__r"))
      .select(Seq(col("urlkey"), col("timestamp"), col("digest")) ++
        rest.map(f => col(s"__r.$f").as(f)): _*)
      .withColumn("cdx_line", concat_ws(" ",
        col("urlkey"), col("timestamp"), col("original"), col("mimetype"),
        col("statuscode"), col("digest"), lit("-"), lit("-"),
        col("length"), col("offset"), col("filename")))
      .repartitionByRange(col("urlkey"), col("timestamp"))
      .sortWithinPartitions("urlkey", "timestamp")
  }

  /**
   * Zipnum-style sharded index (the Common Crawl / Wayback layout for a
   * CDX too big to binary-search as flat text): the sorted lines are packed
   * into independent gzip members of `blockLines` lines, one shard file per
   * sort partition (`cdx-NNNNN.gz`, members concatenated — the same
   * member-per-unit layout as .warc.gz), plus the secondary index — one row
   * per block: (first urlkey, first timestamp, shard, member offset, member
   * length, block seq). A replay front-end binary-searches the ~1/3000-size
   * secondary index and gunzips ONE member — random access over a 100 TB
   * index with no database.
   *
   * The secondary rows are written as text parts under `outDir/cluster.idx/`
   * in partition order — part order = sort order, so the parts concatenate
   * into the classic single `cluster.idx`. Scale shape: each task writes its
   * own shard sequentially and emits only its block rows (lines/3000);
   * nothing funnels through the driver.
   *
   * Returns the secondary-index frame for inspection/tests.
   */
  def writeZipnum(spark: SparkSession, warcDir: String, outDir: String,
                  blockLines: Int = 3000): DataFrame =
    writeZipnumLines(lines(spark, warcDir), outDir, blockLines)

  /** See [[writeZipnum]]; `sorted` must carry `cdx_line` and already be
    * range-partitioned + sorted (as [[lines]] returns). */
  def writeZipnumLines(sorted: DataFrame, outDir: String,
                       blockLines: Int = 3000): DataFrame = {
    require(blockLines >= 1, s"blockLines must be >= 1, got $blockLines")
    val spark = sorted.sparkSession
    val root = java.nio.file.Paths.get(outDir).toAbsolutePath.normalize
    java.nio.file.Files.createDirectories(root)
    val rootStr = root.toString
    val blocks = sorted.select(col("cdx_line")).as(
      org.apache.spark.sql.Encoders.STRING).rdd
      .mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val shard = f"cdx-$pid%05d.gz"
          val path = java.nio.file.Paths.get(rootStr).resolve(shard)
          // task-attempt temp file + atomic rename (round-7 ADVICE): a
          // retried/speculative attempt otherwise create-truncates the LIVE
          // shard while the winning attempt's offsets describe it; with the
          // rename, whichever attempt commits last installs a complete,
          // self-consistent file (attempts write identical content — the
          // input partition is deterministic)
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          val tmp = java.nio.file.Paths.get(rootStr)
            .resolve(f".$shard%s.attempt-$attempt%d.tmp")
          val out = new java.io.BufferedOutputStream(
            java.nio.file.Files.newOutputStream(tmp))
          var offset = 0L
          var seq = 0
          val rows = try {
            try {
              it.grouped(blockLines).map { blk =>
                val bos = new java.io.ByteArrayOutputStream()
                val gz = new java.util.zip.GZIPOutputStream(bos)
                gz.write((blk.mkString("\n") + "\n").getBytes("UTF-8"))
                gz.finish(); gz.close()
                val bytes = bos.toByteArray
                out.write(bytes)
                val fields = blk.head.split(" ", 3)
                val row = (fields(0), fields(1), shard, offset, bytes.length.toLong, seq)
                offset += bytes.length
                seq += 1
                row
              }.toVector // drain before closing the shard stream
            } finally out.close()
          } catch { case e: Throwable =>
            // a failed attempt leaves no partial shard behind
            java.nio.file.Files.deleteIfExists(tmp)
            throw e
          }
          java.nio.file.Files.move(tmp, path,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          rows.iterator
        }
      }
    // materialize ONCE: the mapPartitions above writes shard files as a side
    // effect, so the returned frame must never re-trigger it (a second
    // action would truncate-and-rewrite live shards); the eager
    // localCheckpoint runs the job exactly once and caches the (tiny,
    // ~lines/blockLines) cluster rows
    val cluster = spark.createDataFrame(blocks)
      .toDF("block_key", "block_ts", "shard", "offset", "length", "seq")
      .localCheckpoint(true)
    cluster.select(concat_ws("\t",
        col("block_key"), col("block_ts"), col("shard"),
        col("offset").cast("string"), col("length").cast("string"),
        col("seq").cast("string")).as("value"))
      .write.mode("overwrite").text(new java.io.File(rootStr, "cluster.idx").getPath)
    cluster
  }

  /** Parse written CDX text lines back into columns (the inverse of the
    * `cdx_line` assembly; fields are space-free by construction). Returns 9
    * of the 11 fields — redirect and meta are omitted because [[lines]]
    * always emits them as the `-` placeholder. */
  def parse(lines: DataFrame, lineCol: String = "value"): DataFrame = {
    val f = split(col(lineCol), " ")
    lines.select(
      f.getItem(0).as("urlkey"), f.getItem(1).as("timestamp"),
      f.getItem(2).as("original"), f.getItem(3).as("mimetype"),
      f.getItem(4).as("statuscode"), f.getItem(5).as("digest"),
      f.getItem(8).as("length"), f.getItem(9).as("offset"),
      f.getItem(10).as("filename"))
  }

  /** Wayback-style nearest-capture lookup — the index's query side: for each
    * target `(url, ts)` (ts = 14-digit capture timestamp), the capture of
    * that SURT key numerically closest in time; the EARLIER capture wins a
    * tie (deterministic). `index` is the parsed/columnar index (from
    * [[lines]] or [[parse]]); targets are a lookup batch.
    *
    * Scale shape: the lookup batch is tiny next to a 100 TB index, so the
    * targets side is broadcast — the index never shuffles. The per-key pick
    * is `min(struct(diff, ts, …))`, a map-side-combinable aggregate (partial
    * min per scan task), NEVER a window over the capture history — one hot
    * URL with 10⁸ captures stays parallel. */
  def nearestCaptures(index: DataFrame, targets: DataFrame,
                      urlCol: String = "url", tsCol: String = "ts"): DataFrame = {
    val t = org.apache.spark.sql.functions.broadcast(
      targets.select(surt_key(col(urlCol)).as("urlkey"),
        col(tsCol).cast("long").as("target_ts")))
    index.join(t, Seq("urlkey"))
      .groupBy(col("urlkey"), col("target_ts"))
      .agg(min(struct(
        abs(col("timestamp").cast("long") - col("target_ts")).as("diff"),
        col("timestamp").cast("long").as("ts"),
        col("original"), col("mimetype"), col("statuscode"), col("digest"),
        col("length"), col("offset"), col("filename"))).as("best"))
      .select(col("urlkey"), col("target_ts"),
        col("best.ts").as("capture_ts"), col("best.original").as("original"),
        col("best.mimetype").as("mimetype"),
        col("best.statuscode").as("statuscode"), col("best.digest").as("digest"),
        col("best.length").as("length"), col("best.offset").as("offset"),
        col("best.filename").as("filename"))
  }
}
